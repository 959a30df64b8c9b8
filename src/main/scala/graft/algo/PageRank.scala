package graft.algo

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.graph.Edge

/**
 * PageRank over the canonical edge table — Dataset/Catalyst only.
 *
 * Frozen convention (SURVEY.md §7.4.5; the oracle in tests implements the
 * identical one): damping d = 0.85, ranks are a probability distribution
 * (sum = 1), dangling mass redistributed uniformly each superstep:
 *
 *   rank'(v) = (1-d)/n + d * ( Σ_{u→v} rank(u)/outdeg(u) + dangling/n )
 *
 * Physical shape per superstep: one hash join ranks⋈edges on `src` (AQE
 * skew-split as backstop; hub out-degree fans out map-side) and one partial
 * + final hash aggregation by `dst` (map-side combine absorbs hub in-degree
 * skew). The edges⋈outdeg weight join happens ONCE before the loop.
 *
 * Every entry point below runs the same setup, superstep plan and
 * [[Superstep]] loop: [[personalized]] differs only in its teleport mask,
 * [[warmStart]] in its seed, [[runResumable]] in committing each superstep.
 *
 * Contract for every entry point: `vertices` is a single-column `id` frame
 * holding every vertex (incl. isolated ones) and EVERY edge endpoint — it
 * is not checked (that would cost a join per call); an endpoint outside it
 * leaks rank mass, so ranks stop summing to 1.
 */
object PageRank {

  case class Result(ranks: DataFrame, metrics: Seq[SuperstepMetric], iterations: Int)

  /**
   * @param tol      max per-vertex |Δrank| convergence threshold; 0 ⇒ run
   *                 exactly `maxIter` supersteps
   */
  def run(
      vertices: DataFrame,
      edges: Dataset[Edge],
      damping: Double = 0.85,
      tol: Double = 1e-9,
      maxIter: Int = 100): Result =
    iterate(vertices, edges, damping, tol, maxIter)

  /**
   * Warm-start PageRank: iterate to `tol` from a PRIOR rank vector instead
   * of the uniform start — the incremental-maintenance shape for a
   * continuously ingesting graph. After an ingest append grows the graph,
   * the last committed ranks seed the new run: ids no longer present are
   * dropped, NEW ids are seeded 1/n, and the seed is renormalized to sum 1
   * (a probability distribution again). The fixpoint is unchanged — the
   * damped iteration is a contraction, so the start vector affects only the
   * path length, not the limit — and with a small delta the old ranks sit
   * near the new fixpoint, so reconvergence takes a fraction of the cold
   * supersteps (measured in BASELINE.md).
   *
   * ID-SPACE CAVEAT: seeding joins on `id`, so prevRanks must come from the
   * SAME id space as `vertices`. The engine's dense ids are the sorted-url
   * rank ([[graft.graph.Dictionary]]) — stable across runs on one committed
   * graph, but a RE-CONVERT over a grown url set renumbers them; seed with
   * [[remapRanks]] (old id → url → new id) in that case, or the old ranks
   * would silently attach to the wrong vertices.
   */
  def warmStart(
      vertices: DataFrame,
      edges: Dataset[Edge],
      prevRanks: DataFrame,
      damping: Double = 0.85,
      tol: Double = 1e-9,
      maxIter: Int = 100): Result =
    iterate(vertices, edges, damping, tol, maxIter, prevRanks = Some(prevRanks))

  /**
   * Personalized PageRank (random walk with restart): the teleport mass —
   * the (1−d) restart AND the dangling redistribution — goes to the SOURCE
   * set instead of uniformly to every vertex, so ranks measure proximity
   * to the sources (related-page discovery, seed-expanded crawl frontiers,
   * topic-conditioned authority). Frozen convention, SQL-oracle-able like
   * [[run]]:
   *
   *   r0(v)    = [v ∈ S] / |S|
   *   rank'(v) = (1−d)·[v ∈ S]/|S|
   *              + d·( Σ_{u→v} rank(u)/outdeg(u) + dangling·[v ∈ S]/|S| )
   *
   * Fixed iteration count (keeps the unrolled SQL oracle exact — the
   * g_pagerank discipline); same physical shape as [[run]]: the source
   * membership is a driver-side literal IN over the n-row rank frame
   * (sources are a handful of seeds by construction — a large
   * personalization set is just a different teleport vector and would
   * arrive as a frame), edge side pre-partitioned once, never reshuffled.
   *
   * @param sources non-empty seed vertex ids; ids absent from `vertices`
   *                fail loudly (silent absence would leak teleport mass)
   */
  def personalized(
      vertices: DataFrame,
      edges: Dataset[Edge],
      sources: Seq[Long],
      damping: Double = 0.85,
      maxIter: Int = 10): Result = {
    require(sources.nonEmpty, "personalized PageRank needs >= 1 source id")
    iterate(vertices, edges, damping, 0.0, maxIter, sources = sources.distinct)
  }

  /**
   * Resumable fixed-iteration PageRank: every superstep's ranks are committed
   * through [[graft.state.Supersteps]]; on start the loop continues from the
   * last committed superstep (kill the JVM at any point, re-run, get the
   * byte-identical final state — each superstep consumes the COMMITTED bytes
   * of the previous one, so the recomputation is exact).
   */
  def runResumable(
      vertices: DataFrame,
      edges: Dataset[Edge],
      log: graft.state.Supersteps,
      damping: Double = 0.85,
      maxIter: Int = 10): Result =
    iterate(vertices, edges, damping, 0.0, maxIter, log = Some(log))

  /** Carry a rank vector across a RE-CONVERTED warehouse: dense ids are the
    * sorted-url rank, so any change to the url set renumbers them — map old
    * id → url → new id before seeding [[warmStart]]. Old urls no longer
    * present drop out; new urls are simply absent (warmStart seeds them
    * 1/n). Both page frames need (id, url) columns. */
  def remapRanks(prevRanks: DataFrame, oldPages: DataFrame,
      newPages: DataFrame): DataFrame = {
    val spark = prevRanks.sparkSession
    import spark.implicits._
    prevRanks.join(oldPages.select($"id", $"url"), "id")
      .select($"url", $"rank")
      .join(newPages.select($"id", $"url"), "url")
      .select($"id", $"rank")
  }

  /** One uniform-teleport superstep's LAZY plan (exposed as a seam for the
    * plan audit): one hash join ranks⋈edgesW (edge side pre-partitioned,
    * never reshuffled), one partial/final aggregation by dst, the dangling
    * mass as a broadcast 1-row scalar folded into the same plan, and the
    * fixed no-in-edge rows UNIONED in — no per-superstep verts⋈contribs
    * Exchange. */
  private[graft] def superstepPlan(ranks: DataFrame, edgesW: DataFrame,
      noIn: DataFrame, dangling: DataFrame, danglingCount: Long,
      damping: Double, n: Long): DataFrame =
    stepPlan(ranks, edgesW, noIn, dangling, danglingCount, damping, n.toDouble, identity)

  /** [[superstepPlan]] with the teleport split out: `teleport` masks the
    * per-vertex teleport base (identity for uniform PageRank, zero outside
    * the source set for [[personalized]]) and `size` is the teleport set's
    * size (n, or |S|). */
  private def stepPlan(ranks: DataFrame, edgesW: DataFrame,
      noIn: DataFrame, dangling: DataFrame, danglingCount: Long,
      damping: Double, size: Double, teleport: Column => Column): DataFrame = {
    val spark = ranks.sparkSession
    import spark.implicits._
    val contribs = ranks.join(edgesW, ranks("id") === edgesW("src"))
      .groupBy($"dst".as("id"))
      .agg(sum($"rank" * $"w").as("contrib"))
    // dangling mass folds into the superstep's own action as a broadcast
    // 1-row scalar instead of a separate driver round-trip per superstep;
    // the expression tree keeps [[oracle]]'s arithmetic order ((1-d)/n +
    // (d*dm)/n, then base + d*contrib — a no-in-edge vertex's d*0.0
    // contribution adds exact +0.0), so no rounding step is reordered
    if (danglingCount == 0) {
      val base = teleport(lit((1.0 - damping) / size))
      contribs.select($"id", (base + lit(damping) * $"contrib").as("rank"))
        .union(noIn.select($"id", base.as("rank")))
    } else {
      val dm = broadcast(ranks.join(dangling, "id")
        .agg(coalesce(sum($"rank"), lit(0.0)).as("dm")))
      val base = teleport(lit((1.0 - damping) / size) +
        lit(damping) * $"dm" / lit(size))
      contribs.crossJoin(dm)
        .select($"id", (base + lit(damping) * $"contrib").as("rank"))
        .union(noIn.crossJoin(dm).select($"id", base.as("rank")))
    }
  }

  /** The one PageRank body behind every entry point: uniform teleport, or
    * teleport to `sources` when non-empty; uniform start, or the
    * renormalized `prevRanks` seed; in-session, or committed to `log`. */
  private def iterate(
      vertices: DataFrame,
      edges: Dataset[Edge],
      damping: Double,
      tol: Double,
      maxIter: Int,
      sources: Seq[Long] = Nil,
      prevRanks: Option[DataFrame] = None,
      log: Option[graft.state.Supersteps] = None): Result = {
    val spark = edges.sparkSession
    import spark.implicits._
    val isSrc = col("id").isin(sources.map(lit(_)): _*)

    // the setup consumes the edge lineage four times (count, weight join,
    // two distinct-endpoint anti-joins) plus any caller-side vertex frame
    // derived from the same edge plan: all read the cached input
    val (verts, n, edgeCount, edgesW, dangling, danglingCount, noIn) =
      Layout.withCached(edges) { e0 =>
        val edgeCount = e0.count()
        val verts = vertices.select(col(vertices.columns.head).as("id"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val n = verts.count()
        require(n > 0, "empty vertex set")
        if (sources.nonEmpty) {
          val present = verts.filter(isSrc).count()
          require(present == sources.size,
            s"${sources.size - present} source id(s) not in the vertex set")
        }
        // per-source weight = 1/outdeg, attached to each edge; pre-
        // partitioned by src so the per-superstep join only shuffles the
        // (n-row) rank side, never the (m-row) edge side
        val outDeg = e0.groupBy($"src").agg(count(lit(1)).as("deg"))
        val edgesW = e0.join(outDeg, "src")
          .select($"src", $"dst", (lit(1.0) / $"deg").as("w"))
          .repartition(Layout.edgePartitions(edgeCount), $"src")
          .persist(StorageLevel.MEMORY_AND_DISK)
        edgesW.count()
        // dangling vertices: no out-edges; their mass is redistributed by
        // the teleport. On graphs with none (common after dangling-link
        // elimination) the whole per-superstep mass term is skipped.
        val dangling = verts.join(e0.select($"src".as("id")).distinct(),
          Seq("id"), "left_anti").persist(StorageLevel.MEMORY_AND_DISK)
        val danglingCount = dangling.count()
        // vertices with NO in-edges never appear in the contribution
        // aggregate; the set is FIXED across supersteps, so computing it
        // once replaces the per-superstep verts⋈contribs left join (an
        // n-row Exchange + sort per superstep, guide §2.4) with a union
        val noIn = verts.join(e0.select($"dst".as("id")).distinct(),
          Seq("id"), "left_anti").localCheckpoint(true)
        (verts, n, edgeCount, edgesW, dangling, danglingCount, noIn)
      }

    val size = if (sources.isEmpty) n.toDouble else sources.size.toDouble
    val teleport: Column => Column =
      if (sources.isEmpty) identity else c => when(isSrc, c).otherwise(lit(0.0))
    def init = prevRanks match {
      case None => verts.select($"id", teleport(lit(1.0 / size)).as("rank"))
      case Some(prev) =>
        // seed = prior ranks restricted to the current vertex set, new
        // vertices at 1/n, renormalized to a probability distribution
        val seeded = verts
          .join(prev.select($"id", $"rank".as("prev")), Seq("id"), "left")
          .select($"id", coalesce($"prev", lit(1.0 / n)).as("rank"))
          .localCheckpoint(true)
        val total = seeded.agg(sum($"rank")).as[Double].head()
        seeded.select($"id", ($"rank" / total).as("rank"))
    }
    val run = Superstep.iterate(if (sources.isEmpty) "pagerank" else "ppr",
        Superstep.sink(log), maxIter, tol)(init) { (ranks, _) =>
      // one action per superstep: see [[superstepPlan]]
      stepPlan(ranks, edgesW, noIn, dangling, danglingCount, damping, size, teleport)
    } { (prev, next) =>
      val delta =
        if (tol > 0.0)
          next.join(prev.withColumnRenamed("rank", "old"), "id")
            .agg(max(abs($"rank" - $"old"))).as[Double].head()
        else -1.0
      Superstep.Report(n, edgeCount, delta)
    }
    // release loop-scoped caches (ranks is checkpointed or committed);
    // leaked caches otherwise evict-churn the NEXT job's working set
    edgesW.unpersist(); dangling.unpersist(); verts.unpersist()
    Result(run.state, run.metrics, run.steps)
  }

  /** In-driver dense power iteration — the frozen oracle for allclose-1e-6
    * verification (FIXTURES.md §4; the reference has no PageRank, so this
    * IS the normative semantics). Same convention as [[run]], exactly. */
  def oracle(
      n: Int,
      edges: Seq[(Int, Int)],
      damping: Double = 0.85,
      tol: Double = 1e-12,
      maxIter: Int = 200): Array[Double] = {
    val out = Array.fill(n)(0)
    edges.foreach { case (s, _) => out(s) += 1 }
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var rank = Array.fill(n)(1.0 / n)
    var it = 0
    var delta = Double.MaxValue
    while (it < maxIter && delta > tol) {
      val next = Array.fill(n)(0.0)
      var danglingMass = 0.0
      for (v <- 0 until n if out(v) == 0) danglingMass += rank(v)
      for ((s, ts) <- adj; t <- ts) next(t) += rank(s) / out(s)
      val base = (1.0 - damping) / n + damping * danglingMass / n
      delta = 0.0
      for (v <- 0 until n) {
        val r = base + damping * next(v)
        delta = math.max(delta, math.abs(r - rank(v)))
        next(v) = r
      }
      rank = next
      it += 1
    }
    rank
  }
}
