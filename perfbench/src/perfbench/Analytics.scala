package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.algo.{Bfs, ConnectedComponents, PageRank, SuperstepMetric, TriangleCount}
import graft.graph.Edge
import graft.ingest.SynthGraph
import graft.state.Supersteps

/** Iterative operators on a seeded hub-skewed [[SynthGraph]] edge table:
  * fixed-superstep PageRank, the committed (resumable) PageRank, connected
  * components, BFS distances from vertex 0 and triangle counting, one op
  * each per pass. Every output is compared with [[EdgeOracle]], which runs
  * the engine's own driver oracles on the same edges. */
object Analytics {
  val Vertices = 10000L
  val EdgeDraws = 80000L
  val Iterations = 2
  val BfsStart = 0L
  /** Every seed's graph is deeper than this from [[BfsStart]], so BFS runs
    * the same number of supersteps whatever the seed. */
  val BfsDepth = 3

  /** The committed superstep log, with the wall time of each committed
    * superstep (end of one commit to the end of the next) and a `state`
    * span around every commit. */
  final class TimedSupersteps(val root: String, spark: SparkSession, tracer: Tracer)
      extends Supersteps(root, "pagerank", spark) {
    private var last = System.nanoTime()
    val stepMs = scala.collection.mutable.ArrayBuffer[Double]()
    override def commit(superstep: Int, state: DataFrame, m: SuperstepMetric): DataFrame = {
      val out = tracer.span("state.commit")(super.commit(superstep, state, m))
      val now = System.nanoTime()
      if (superstep > 0) stepMs += (now - last) / 1e6
      last = now
      out
    }
  }

  /** The persisted edge table and its driver references. */
  final class Input(val edges: Dataset[Edge], val verts: DataFrame, val ref: EdgeOracle)

  val sizes: Seq[(String, Any)] = Seq("vertices" -> Vertices, "edge_draws" -> EdgeDraws,
    "pagerank_supersteps" -> Iterations, "bfs_max_depth" -> BfsDepth)

  def generate(r: Run): Dataset[Edge] = {
    val e = SynthGraph.edges(r.spark, Vertices, EdgeDraws, r.seed).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    e.count()
    e
  }

  def input(r: Run, edges: Dataset[Edge]): Input = {
    val spark = r.spark
    import spark.implicits._
    val ref = new EdgeOracle(Vertices.toInt, edges.as[(Long, Long)].collect()
      .map { case (s, d) => (s.toInt, d.toInt) })
    new Input(edges, spark.range(Vertices).toDF("id"), ref)
  }

  /** One op per operator over the edge table. */
  def pass(r: Run, in: Input, i: Int): Unit = {
    val spark = r.spark
    import spark.implicits._
    val (edges, verts, ref) = (in.edges, in.verts, in.ref)
    val m = ref.edges.length.toLong
    val pr = r.op("pagerank", m) {
      r.tracer.span("algo.pagerank")(PageRank.run(verts, edges, tol = 0.0, maxIter = Iterations))
    } { res =>
      r.note("steps_ms", res.metrics.map(_.wallMs.toDouble))
      val got = res.ranks.as[(Long, Double)].collect()
      rankSumError(res.ranks).orElse(
        if (got.length == ref.n && got.forall { case (v, x) => math.abs(ref.ranks(v.toInt) - x) <= 1e-6 })
          None
        else Some("ranks differ from PageRank.oracle by more than 1e-6"))
    }
    val log = new TimedSupersteps(r.dir(s"state-$i"), spark, r.tracer)
    r.op("pagerank_committed", m) {
      r.tracer.span("algo.pagerank_committed")(
        PageRank.runResumable(verts, edges, log, maxIter = Iterations))
    } { res =>
      r.note("steps_ms", log.stepMs.toSeq)
      r.note("state_bytes", Run.treeBytes(log.root))
      rankSumError(res.ranks).orElse(pr.flatMap { p =>
        val diff = res.ranks.join(p.ranks.withColumnRenamed("rank", "r0"), "id")
          .agg(max(abs($"rank" - $"r0"))).as[Double].head()
        if (diff > 1e-9) Some(s"committed ranks differ by $diff") else None
      })
    }
    r.op("cc", m) {
      r.tracer.span("algo.cc") {
        val res = ConnectedComponents.run(verts, edges)
        (res.rounds, res.components.localCheckpoint(true))
      }
    } { case (rounds, comps) =>
      r.note("rounds", rounds)
      val got = comps.as[(Long, Long)].collect()
      val want = ref.components
      if (got.length != ref.n || got.exists { case (v, c) => want(v.toInt) != c })
        Some("component labels differ from ConnectedComponents.oracle") else None
    }
    r.op("bfs", m) {
      r.tracer.span("algo.bfs")(
        Bfs.distances(edges, BfsStart, BfsDepth).localCheckpoint(true))
    } { dist =>
      val got = dist.select($"id", $"dist").as[(Long, Int)].collect()
      val want = ref.distances(BfsStart.toInt).map(d => if (d > BfsDepth) -1 else d)
      r.note("levels", if (got.isEmpty) 0 else got.map(_._2).max + 1)
      if (got.length != want.count(_ >= 0) ||
          got.exists { case (v, d) => want(v.toInt) != d }) Some("BFS distances differ")
      else None
    }
    r.op("triangles", m) {
      r.tracer.span("algo.triangles")(TriangleCount.run(verts, edges).globalCount)
    } { count =>
      if (count != ref.triangles) Some(s"$count triangles, TriangleCount.oracle ${ref.triangles}")
      else None
    }
  }

  private def rankSumError(ranks: DataFrame): Option[String] = {
    val s = ranks.agg(sum("rank")).head().getDouble(0)
    if (math.abs(s - 1.0) > 1e-9) Some(s"ranks sum to $s") else None
  }
}

/** Driver references over a distinct directed edge list on vertices
  * [0, n): PageRank ranks, weak components and triangle count from the
  * engine's own oracles, BFS distances from the driver search
  * [[GraphOracle.hops]]. */
final class EdgeOracle(val n: Int, val edges: Array[(Int, Int)]) {

  lazy val ranks: Array[Double] =
    PageRank.oracle(n, edges.toSeq, tol = 0.0, maxIter = Analytics.Iterations)

  lazy val components: Array[Long] =
    ConnectedComponents.oracle(n, edges.toSeq).map(_.toLong)

  lazy val triangles: Long = TriangleCount.oracle(n, edges.toSeq)._1

  def distances(start: Int): Array[Int] = {
    val out = Array.fill(n)(scala.collection.mutable.ArrayBuilder.make[Int])
    edges.foreach { case (s, d) => out(s) += d }
    GraphOracle.hops(out.map(_.result()), start)
  }
}
