package graft.algo

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.graph.Edge

/**
 * k-core by synchronous peeling — the classic web-graph density filter
 * (Seidman 1983; the WebGraph/SNAP toolkits' standard "dense nucleus"
 * extraction): repeatedly drop every vertex whose UNDIRECTED degree among
 * surviving vertices is < k; what survives is the k-core. On a link graph
 * the core isolates the densely interlinked hub region from the long
 * in-/out-degree-1 periphery — crawl prioritization, spam-farm analysis,
 * community scaffolding.
 *
 * Frozen convention (the SQL oracle implements it verbatim):
 *   - undirected neighbor pairs: distinct (u,v) from edges ∪ reversed
 *     edges (self-loops excluded upstream by the edge contract)
 *   - a round drops ALL vertices with surviving-degree < k SIMULTANEOUSLY
 *     (synchronous peel — deterministic, order-free; the sequential peel
 *     reaches the same fixpoint but has no canonical intermediate states)
 *   - `rounds` fixes the peel depth: converged rounds are no-ops, so a
 *     fixed unroll both keeps the SQL oracle exact at ANY data scale and
 *     bounds the job graph (the g_pagerank fixed-iteration discipline);
 *     pass rounds = 0 to run to the fixpoint instead (spec-gated equal to
 *     the fixed unroll whenever the unroll covers convergence)
 *
 * Physical shape per round: the surviving-vertex set (n rows, shrinking)
 * left-semi-joins the undirected pair table on BOTH endpoints, then one
 * partial/final count by endpoint — hub degree combines map-side; the
 * pair table is built and cached ONCE. State localCheckpoint-ed per round.
 */
object KCore {

  /** @param rounds the peel rounds actually run: at most the requested
    *               number, fewer when the fixpoint came first */
  case class Result(members: DataFrame, metrics: Seq[SuperstepMetric], rounds: Int)

  def run(
      vertices: DataFrame,
      edges: Dataset[Edge],
      k: Int,
      rounds: Int = 0): Result = {
    val spark = edges.sparkSession
    import spark.implicits._
    val undRaw = edges.toDF().select($"src".as("u"), $"dst".as("v"))
      .union(edges.toDF().select($"dst".as("u"), $"src".as("v")))
      .distinct()
    runOnUndirected(vertices, undRaw, k, rounds)
  }

  /** [[run]] over an ALREADY-built distinct undirected pair table (both
    * directions, self-loops excluded) — the seam for callers that computed
    * the pair table anyway (e.g. for the adaptive-k average degree): the
    * union+distinct pass is not rebuilt. Same frozen convention. */
  private[graft] def runOnUndirected(
      vertices: DataFrame,
      undRaw: DataFrame,
      k: Int,
      rounds: Int = 0): Result = {
    val spark = undRaw.sparkSession
    import spark.implicits._
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")

    val (und, pairCount) = Layout.withCached(undRaw) { raw =>
      val pairCount = raw.count()
      val und = raw.repartition(Layout.edgePartitions(pairCount), $"u")
        .persist(StorageLevel.MEMORY_AND_DISK)
      und.count()
      (und, pairCount)
    }

    // converged ⇒ every remaining round is a semantic no-op (next ⊆ alive,
    // so equal COUNTS mean the identical set): stop in fixed-rounds mode
    // too — the result is row-identical and up to rounds-1 full passes over
    // the m-row pair table are skipped (round-6 verdict wrong-#2). A
    // round's delta is the number of vertices it dropped.
    var aliveCount: Option[Long] = None
    val run = Superstep.iterate("kcore", Superstep.Checkpoint,
        if (rounds == 0) Int.MaxValue else rounds)(
        vertices.select(col(vertices.columns.head).as("id"))) { (alive, _) =>
      und
        .join(alive.withColumnRenamed("id", "u"), Seq("u"), "left_semi")
        .join(alive.withColumnRenamed("id", "v"), Seq("v"), "left_semi")
        .groupBy($"u".as("id"))
        .agg(count(lit(1)).as("deg"))
        .filter($"deg" >= k)
        .select($"id")
    } { (prev, next) =>
      val before = aliveCount.getOrElse(prev.count())
      val after = next.count()
      aliveCount = Some(after)
      Superstep.Report(after, pairCount, (before - after).toDouble)
    }
    und.unpersist()
    Result(run.state, run.metrics, run.steps)
  }
}
