package graft.algo

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.graph.Edge

/**
 * HITS (hubs & authorities) over the canonical edge table — the other
 * classic link-analysis fixpoint next to [[PageRank]] (Kleinberg 1999,
 * "Authoritative sources in a hyperlinked environment"). On a web link
 * graph the authority score surfaces the pages everyone points AT and the
 * hub score the pages that point at good authorities — the reference's
 * popular-pages listing (reference: README.md's most-linked examples) is
 * the degree-1 approximation of exactly this.
 *
 * Frozen convention (the in-driver [[oracle]] and the SQL oracle in
 * SparkEntry implement the identical one):
 *
 *   - init: hub(v) = 1 for every vertex
 *   - per superstep: auth(v) = Σ_{u→v} hub(u), then L1-normalize
 *                    (Σ auth = 1); hub(u) = Σ_{u→v} auth(v) over the NEW
 *                    authorities, then L1-normalize
 *   - fixed iteration count (the power iteration converges to the
 *     principal eigenvectors of AᵀA / AAᵀ; a fixed unroll keeps the SQL
 *     oracle exact — same discipline as the g_pagerank oracle)
 *
 * L1 (sum) normalization instead of the textbook L2: same fixpoint
 * direction, no sqrt in the per-step SQL, and scores read as a
 * probability-like distribution. Vertices with no in-edges get auth 0,
 * no out-edges get hub 0; a side with an all-zero raw sum keeps zeros
 * (empty-edge graphs degenerate gracefully rather than divide by zero).
 *
 * Physical shape per superstep — built for the 100 TB graph, not the
 * fixture: the auth phase joins hubs⋈edges ON src and the hub phase joins
 * auths⋈edges ON dst, so the loop caches the edge table TWICE, once
 * pre-partitioned by each key ([[PageRank]] needs only the src layout).
 * Every superstep then shuffles only the n-row score side — the m-row edge
 * side never moves after the two one-time repartitions. Hub in/out-degree
 * skew is absorbed map-side by the partial hash aggregation. [[run]] and
 * [[runResumable]] share one setup, power chain and [[Superstep]] loop.
 *
 * Contract for both entry points: `vertices` is a single-column `id` frame
 * holding every vertex (incl. isolated ones) and EVERY edge endpoint — it
 * is not checked (that would cost a join per call); an endpoint outside it
 * gains a score row of its own, so the scores over `vertices` stop summing
 * to 1.
 */
object Hits {

  case class Result(scores: DataFrame, metrics: Seq[SuperstepMetric], iterations: Int)

  /** One gather phase (the loop body's join+agg, exposed as a lazy seam for
    * the plan audit): scores flow TO the edge layout keyed `joinKey`, sums
    * group by the opposite endpoint `outKey`. The edge side is already
    * partitioned by `joinKey`, so only the score side shuffles. */
  private[graft] def gatherStep(edgesByKey: DataFrame, scores: DataFrame,
      scoreCol: String, joinKey: String, outKey: String): DataFrame =
    edgesByKey.join(scores.withColumnRenamed("id", joinKey), joinKey)
      .groupBy(col(outKey).as("id"))
      .agg(sum(col(scoreCol)).as("raw"))

  /**
   * @param maxIter  fixed superstep count (no tolerance early-exit: keeps
   *                 the unrolled SQL oracle exact)
   * @return scores frame (id, hub, auth)
   */
  def run(vertices: DataFrame, edges: Dataset[Edge], maxIter: Int = 10): Result =
    iterate(vertices, edges, maxIter, None)

  /**
   * Resumable fixed-iteration HITS: every superstep's (id, hub, auth) state
   * commits through [[graft.state.Supersteps]]; on start the loop continues
   * from the last committed superstep (kill the JVM at any point, re-run,
   * reach the same final state — each superstep consumes the COMMITTED
   * bytes of the previous one, the same discipline as
   * [[PageRank.runResumable]]).
   */
  def runResumable(
      vertices: DataFrame,
      edges: Dataset[Edge],
      log: graft.state.Supersteps,
      maxIter: Int = 10): Result =
    iterate(vertices, edges, maxIter, Some(log))

  /**
   * The one HITS body: the UNNORMALIZED power chain. Per-superstep L1
   * normalization is a scalar rescale of a linear recurrence, so every
   * intermediate scalar cancels in the final auth/Σauth and hub/Σhub — an
   * in-session superstep runs both gathers as ONE checkpointed action with
   * no per-phase totals or checkpoints. Magnitudes grow like
   * (avg-deg²)^supersteps, so every 5th superstep rescales by its L1 total
   * (a broadcast scalar inside the same action) to keep far from double
   * overflow; that scalar cancels identically. The last superstep — and
   * every committed one, whose state must be a normalized (id, hub, auth)
   * score frame — splits its two gathers so the auth side is retained,
   * then normalizes both. Scores differ from the per-step-normalized
   * [[oracle]] only by float rounding (≤ ~1e-15 relative — inside the 1e-9
   * oracle gate in AlgoSpec and the tolerance class of the SQL oracle).
   */
  private def iterate(vertices: DataFrame, edges: Dataset[Edge], maxIter: Int,
      log: Option[graft.state.Supersteps]): Result = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")

    // the two layout repartitions + the edge count each read the cached
    // input, and so do caller-side vertex frames over the same edge plan
    // (CacheManager subplan substitution)
    val (verts, n, edgeCount, edgesBySrc, edgesByDst) = Layout.withCached(edges) { e0 =>
      val edgeCount = e0.count()
      val verts = vertices.select(col(vertices.columns.head).as("id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val n = verts.count()
      require(n > 0, "empty vertex set")
      // the two one-time edge layouts: each phase's join keys on a
      // different side of the edge, so each gets the co-located layout it
      // needs — the per-superstep joins never shuffle the edge side again
      val edgesBySrc = e0.repartition(Layout.edgePartitions(edgeCount), $"src")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val edgesByDst = e0.repartition(Layout.edgePartitions(edgeCount), $"dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
      // one action materializes both layout caches
      edgesBySrc.union(edgesByDst).count()
      (verts, n, edgeCount, edgesBySrc, edgesByDst)
    }
    // fixed zero-score sets: a vertex with no in-edges always has auth 0,
    // no out-edges always hub 0 — precomputing them once replaces the
    // per-phase verts⋈raw left join (an n-row Exchange per phase) with a
    // plain union (guide §2.4); they read the cached LAYOUTS, so the lazy
    // frames cost one cheap distinct per materialization and no setup jobs
    val noIn = verts.join(edgesByDst.select($"dst".as("id")).distinct(),
      Seq("id"), "left_anti")
    val noOut = verts.join(edgesBySrc.select($"src".as("id")).distinct(),
      Seq("id"), "left_anti")

    /** L1 total of a raw gather as a broadcast 1-row scalar (0 → divide by
      * 1: all-zero sides keep zeros). */
    def l1(raw: DataFrame): DataFrame =
      broadcast(raw.agg(coalesce(sum($"raw"), lit(0.0)).as("t"))
        .select(when($"t" === 0.0, lit(1.0)).otherwise($"t").as("t")))
    /** raw / Σraw, plus the fixed zero rows. The gather is checkpointed
      * before this double reference (value + L1 total): exchange reuse does
      * NOT dedupe the two references, so the m-row join would run twice. */
    def normalized(raw: DataFrame, zeros: DataFrame, name: String): DataFrame =
      raw.crossJoin(l1(raw)).select($"id", ($"raw" / $"t").as(name))
        .union(zeros.select($"id", lit(0.0).as(name)))

    val run = Superstep.iterate("hits", Superstep.sink(log), maxIter)(
        verts.select($"id", lit(1.0).as("hub"), lit(0.0).as("auth"))) { (s, k) =>
      val hubs = s.select($"id", $"hub")
      if (log.isEmpty && k < maxIter) {
        // hub(u) = Σ_{u→v} auth(v) over the NEW (raw) authorities
        val chained = gatherStep(edgesByDst,
            gatherStep(edgesBySrc, hubs, "hub", "src", "dst")
              .withColumnRenamed("raw", "auth"),
            "auth", "dst", "src")
          .withColumnRenamed("raw", "hub")
        if (k % 5 == 0) {
          // checkpointed before the double reference, as in `normalized`
          val c = chained.localCheckpoint(true)
          c.crossJoin(l1(c.withColumnRenamed("hub", "raw")))
            .select($"id", ($"hub" / $"t").as("hub"))
        } else chained
      } else {
        val aRaw = gatherStep(edgesBySrc, hubs, "hub", "src", "dst")
          .localCheckpoint(true)
        val hRaw = gatherStep(edgesByDst,
            aRaw.withColumnRenamed("raw", "auth"), "auth", "dst", "src")
          .localCheckpoint(true)
        normalized(hRaw, noOut, "hub").join(normalized(aRaw, noIn, "auth"), "id")
      }
    } { (_, _) => Superstep.Report(n, edgeCount) }
    edgesBySrc.unpersist(); edgesByDst.unpersist(); verts.unpersist()
    Result(run.state, run.metrics, run.steps)
  }

  /** In-driver dense power iteration — the frozen oracle for allclose
    * verification in AlgoSpec. Same convention as [[run]], exactly. */
  def oracle(
      n: Int,
      edges: Seq[(Int, Int)],
      maxIter: Int = 10): (Array[Double], Array[Double]) = {
    var hub = Array.fill(n)(1.0)
    var auth = Array.fill(n)(0.0)
    for (_ <- 1 to maxIter) {
      val a = Array.fill(n)(0.0)
      for ((s, t) <- edges) a(t) += hub(s)
      val aTot = a.sum
      if (aTot != 0.0) for (v <- 0 until n) a(v) /= aTot
      auth = a
      val h = Array.fill(n)(0.0)
      for ((s, t) <- edges) h(s) += auth(t)
      val hTot = h.sum
      if (hTot != 0.0) for (v <- 0 until n) h(v) /= hTot
      hub = h
    }
    (hub, auth)
  }
}
