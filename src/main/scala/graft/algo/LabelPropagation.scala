package graft.algo

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.graph.Edge

/**
 * Synchronous label propagation (community detection) over the undirected
 * view of the edge table.
 *
 * Frozen deterministic convention (LPA is famously order-sensitive; ours is
 * a pure function of the graph):
 *   - labels init to vertex id
 *   - superstep: label'(v) = the most frequent label among Γ(v); ties broken
 *     by the SMALLEST label; isolated vertices keep their label
 *   - synchronous updates, fixed `maxIter` supersteps (classic LPA may
 *     oscillate under synchronous updates; a fixed budget keeps it a pure
 *     function), early-exit when no label changes
 *
 * Shape per superstep: one join labels⋈edges + one two-level aggregation
 * (count per (v,label), then max_by-with-min-tie per v) — both partial-agg
 * friendly, hub-skew absorbed map-side.
 */
object LabelPropagation {

  case class Result(labels: DataFrame, metrics: Seq[SuperstepMetric], iterations: Int)

  def run(vertices: DataFrame, edges: Dataset[Edge], maxIter: Int = 10): Result =
    iterate(vertices, edges, maxIter, None)

  /** Resumable variant: labels committed per superstep via
    * [[graft.state.Supersteps]]; resumes at the last committed superstep. */
  def runResumable(vertices: DataFrame, edges: Dataset[Edge],
      log: graft.state.Supersteps, maxIter: Int = 10): Result =
    iterate(vertices, edges, maxIter, Some(log))

  private def iterate(vertices: DataFrame, edges: Dataset[Edge], maxIter: Int,
      log: Option[graft.state.Supersteps]): Result = {
    val spark = edges.sparkSession
    import spark.implicits._
    val verts = vertices.select(col(vertices.columns.head).as("id"))
    val sym = edges.toDF()
      .select($"src".as("u"), $"dst".as("v"))
      .union(edges.select($"dst".as("u"), $"src".as("v")))
      .filter($"u" =!= $"v").distinct()
      .localCheckpoint(true)
    val edgeCount = sym.count()
    val run = Superstep.iterate("lpa", Superstep.sink(log), maxIter)(
        verts.withColumn("label", $"id")) { (labels, _) =>
      val nbrLabels = sym.join(labels, sym("v") === labels("id"))
        .select($"u", $"label")
      val freq = nbrLabels.groupBy($"u", $"label").agg(count(lit(1)).as("c"))
      // most frequent, ties to smallest label: max over (c, -label)
      val chosen = freq.groupBy($"u")
        .agg(max(struct($"c", (-$"label").as("nl"))).as("top"))
        .select($"u".as("id"), (-$"top.nl").as("newLabel"))
      labels.join(chosen, Seq("id"), "left")
        .select($"id", coalesce($"newLabel", $"label").as("label"))
    } { (prev, next) =>
      val changed = next.join(prev.withColumnRenamed("label", "old"), "id")
        .filter($"label" =!= $"old").count()
      Superstep.Report(changed, edgeCount, changed.toDouble)
    }
    Result(run.state, run.metrics, run.steps)
  }

  /** Driver oracle: the identical convention, dense. */
  def oracle(n: Int, edges: Seq[(Int, Int)], maxIter: Int = 10): Array[Long] = {
    val nbrs = Array.fill(n)(scala.collection.mutable.Set[Int]())
    for ((a, b) <- edges if a != b) { nbrs(a) += b; nbrs(b) += a }
    var labels = Array.tabulate(n)(_.toLong)
    var iter = 0
    var changed = true
    while (iter < maxIter && changed) {
      changed = false
      val next = Array.tabulate(n) { v =>
        if (nbrs(v).isEmpty) labels(v)
        else {
          val freq = nbrs(v).toSeq.map(labels).groupBy(identity)
            .map { case (l, xs) => (l, xs.size) }
          val maxC = freq.values.max
          freq.filter(_._2 == maxC).keys.min
        }
      }
      changed = !java.util.Arrays.equals(next, labels)
      labels = next
      iter += 1
    }
    labels
  }
}
