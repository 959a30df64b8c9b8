package graft.algo

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.graph.Edge
import graft.functions.RegisterMax.register_max

/**
 * Neighborhood function N(t) — how many (source, node) pairs are within
 * distance t — the statistic behind a web graph's effective diameter,
 * average distance, and reachability profile (Palmer et al. ANF, KDD'02;
 * Boldi/Rosa/Vigna HyperBall, arXiv:1308.2144).
 *
 * Two implementations with the same contract, the exact-vs-scale pairing
 * this codebase uses for near-dup too:
 *
 *  - [[exact]]: multi-source BFS over the pair frontier. Exact, and the
 *    oracle anchor — but its state is O(Σ|ball(v)|), which on a connected
 *    graph tends to n² pairs. The verification twin, not the 100 TB path.
 *  - [[hyperBall]]: every vertex carries an m-register HyperLogLog sketch
 *    of its ball; a superstep unions each vertex's sketch with its
 *    out-neighbors' ([[graft.functions.RegisterMax]] — map-side combine
 *    absorbs hub skew), so state is O(n·m) bytes FLAT in t and the
 *    per-superstep shuffle carries one m-byte row per (task, vertex).
 *    This is the one that runs on the full web graph.
 *
 * Both iterate over out-edges (t-reachability); run on
 * [[graft.graph.LinkGraph]]-reversed edges for in-reachability.
 */
object Neighborhood {

  case class Result(counts: DataFrame, metrics: Seq[SuperstepMetric],
      iterations: Int)

  /**
   * Exact N(t) for t = 0..maxT via per-vertex exact ball sets — the same
   * superstep shape as [[hyperBall]] with the HLL sketch replaced by the
   * exact sorted-id array and [[graft.functions.RegisterMax]] by
   * [[graft.functions.SetUnion]]: ball(v) ← ball(v) ∪ ⋃_{v→u} ball(u),
   * N(t) = Σ_v |ball_t(v)|. State is n ROWS (one array per vertex) instead
   * of the round-6 pair-exploded frame, so a superstep is ONE join + ONE
   * map-side-combining aggregation — the pair formulation paid a distinct
   * shuffle over every expanded pair, an anti-join against the visited
   * pairs, AND a full visited-set rewrite per superstep (three O(pairs)
   * exchanges; measured 7.7–14 s for g_anf at sf0.1, vs ~2 s for this
   * shape). Total state is the same O(Σ|ball|) — this is still the
   * verification twin, [[hyperBall]] is the 100 TB path.
   *
   * A saturated walk stops early and the tail rows repeat the fixpoint
   * count, so the output always has maxT+1 rows — (t, pairs), cumulative,
   * t=0 counting the self-pairs.
   */
  def exact(vertices: DataFrame, edges: Dataset[Edge], maxT: Int): Result = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(maxT >= 0, s"maxT must be >= 0, got $maxT")
    val (verts, n, edgesBySrc) = Layout.withCached(edges) { e0 =>
      val verts = vertices.select(col(vertices.columns.head).as("id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // src layout: with the (small) ball state broadcast, the gather join
      // streams the cached edge partitions and the partial set_union
      // combines per-src WITHIN each task, so the per-superstep shuffle
      // carries one partially-deduped set per (task, src) — never the raw
      // m×ball rows
      val edgesBySrc = e0.repartition(Layout.edgePartitions(e0.count()), $"src")
        .persist(StorageLevel.MEMORY_AND_DISK)
      edgesBySrc.count()
      (verts, verts.count(), edgesBySrc)
    }

    var state = verts
      .select($"id", array($"id".cast("long")).as("ball"))
      .localCheckpoint(true)
    var cum = n
    val counts = scala.collection.mutable.ArrayBuffer((0, cum))
    var t = 1
    var iterations = 0
    var saturated = false
    val metrics = scala.collection.mutable.ArrayBuffer[SuperstepMetric]()
    while (t <= maxT && !saturated) {
      val t0 = System.nanoTime()
      // broadcast the ball state when its exact size (cum ids + row
      // overhead) is known small — the planner can't estimate a checkpoint
      state = ballStep(edgesBySrc, state,
        broadcastState = cum * 8L + n * 32L < (64L << 20))
        .localCheckpoint(true)
      val newCum = state.agg(sum(size($"ball"))).as[Long].head()
      val c = newCum - cum
      saturated = c == 0L
      cum = newCum
      counts += ((t, cum))
      iterations = t
      metrics += SuperstepMetric("anf-exact", t, c, 0L,
        (System.nanoTime() - t0) / 1000000L, c.toDouble)
      t += 1
    }
    while (t <= maxT) { counts += ((t, cum)); t += 1 } // saturated tail
    edgesBySrc.unpersist(); verts.unpersist()
    Result(counts.toSeq.toDF("t", "pairs"), metrics.toSeq, iterations)
  }

  /** One exact-ball superstep (the loop body of [[exact]], exposed as a
    * lazy seam for the plan audit): gather out-neighbors' ball arrays
    * through the src-layout edge cache (state broadcast when its known
    * size allows — the join then streams the cached edge partitions and
    * the partial set_union combines per-src within each task), union with
    * the vertex's own ball, fold by [[graft.functions.SetUnion]].
    *
    * KNOWN TRADEOFF in the non-broadcast fallback: the join key is `dst`,
    * so once the ball state outgrows the broadcast cutoff the cached src
    * layout no longer co-locates the join and the edge side reshuffles by
    * dst each superstep. The src layout is chosen FOR the broadcast case
    * (exactly one partially-deduped set per src crosses the wire) because
    * exact() is the small verification twin by contract — past the cutoff
    * it stays correct but pays two m-row exchanges per superstep;
    * [[hyperBall]] is the at-scale path. */
  private[graft] def ballStep(edgesBySrc: DataFrame, state: DataFrame,
      broadcastState: Boolean): DataFrame = {
    import graft.functions.SetUnion.set_union
    val spark = state.sparkSession
    import spark.implicits._
    val stateByDst = state.withColumnRenamed("id", "dst")
    val gatherSide = if (broadcastState) broadcast(stateByDst) else stateByDst
    edgesBySrc.join(gatherSide, "dst")
      .select($"src".as("id"), $"ball")
      .union(state)
      .groupBy($"id").agg(set_union($"ball").as("ball"))
  }

  /** One HyperBall superstep (the loop body, exposed as a lazy seam for the
    * plan audit): gather out-neighbors' sketches through the dst-layout
    * edge cache, union with the vertex's own, fold by [[RegisterMax]] —
    * only the n-row counter side shuffles, and the hub fan-in combines
    * map-side into one m-byte buffer per task. */
  private[graft] def unionStep(edgesByDst: DataFrame,
      counters: DataFrame): DataFrame = {
    val spark = counters.sparkSession
    import spark.implicits._
    edgesByDst.join(counters.withColumnRenamed("id", "dst"), "dst")
      .select($"src".as("id"), $"regs")
      .union(counters)
      .groupBy($"id").agg(register_max($"regs").as("regs"))
  }

  /** alpha_m bias constant (Flajolet et al. 2007). */
  private def alpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _ => 0.7213 / (1.0 + 1.079 / m)
  }

  /**
   * HyperBall: approximate N(t) for t = 0..maxT with per-vertex HLL
   * sketches. Deterministic end to end — the "randomness" is xxhash64 of
   * the vertex id, so every run (at any parallelism) produces the same
   * estimate; expected relative error is the standard HLL ~1.04/√m per
   * ball, tighter on the sum.
   *
   * Superstep shape: counters pre-shuffle once to the dst layout of the
   * cached edge table, then each iteration is one equi-join (edge side
   * never moves), one union with the current counters, and one
   * register_max aggregation whose partials combine map-side — a hub's
   * million in-sketches collapse to one m-byte buffer per task before the
   * shuffle. Counters are localCheckpoint-ed per superstep (O(1) plan).
   * Early exit when the estimate stops moving (all balls saturated —
   * register vectors are monotone, so a fixed point is permanent).
   *
   * @param log2m log₂ of the register count (4..12; m = 2^log2m bytes of
   *              state per vertex)
   * @return counts (t, pairs DOUBLE — the HLL estimate; t=0 is exact n)
   */
  def hyperBall(
      vertices: DataFrame,
      edges: Dataset[Edge],
      maxT: Int,
      log2m: Int = 6,
      seed: Long = 42L): Result = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(maxT >= 0, s"maxT must be >= 0, got $maxT")
    require(log2m >= 4 && log2m <= 12, s"log2m must be in [4,12], got $log2m")
    val m = 1 << log2m

    val (verts, n, edgesByDst) = Layout.withCached(edges) { e0 =>
      val m2 = e0.count()
      val verts = vertices.select(col(vertices.columns.head).as("id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val n = verts.count()
      val edgesByDst = e0.repartition(Layout.edgePartitions(m2), $"dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
      edgesByDst.count()
      (verts, n, edgesByDst)
    }

    // one-element sketch per vertex: slot = hash mod m, register =
    // trailing-zero count of the remaining hash bits + 1 (the same
    // geometric P(rho ≥ k) = 2^(1-k) as Flajolet's leftmost-1 position;
    // (w & -w) - 1 turns the lowest set bit into a popcountable mask),
    // w = 0 capped at the max observable rank. All scalar codegen'd
    // functions — the init is one narrow pass over the vertex scan.
    val h = xxhash64(lit(seed), $"id")
    val idx = pmod(h, lit(m.toLong)).cast("int")
    val w = shiftrightunsigned(h, log2m)
    val rho = least(bit_count(w.bitwiseAND(-w) - lit(1L)) + lit(1),
      lit(64 - log2m + 1)).cast("byte")
    var counters = verts.select($"id",
        transform(sequence(lit(0), lit(m - 1)),
          i => when(i === idx, rho).otherwise(lit(0).cast("byte"))).as("regs"))
      .localCheckpoint(true)

    // per-vertex HLL estimate (raw + linear-counting small-range
    // correction; no large-range term — 64-bit hashes don't collide at any
    // ball size a graph can reach), summed into N(t). All HOFs over the
    // n-row counter frame.
    def estimate(c: DataFrame): Double = {
      val zeros = size(filter($"regs", r => r === lit(0).cast("byte")))
      val invSum = aggregate(transform($"regs", r => pow(lit(2.0), -r.cast("double"))),
        lit(0.0), (acc, x) => acc + x)
      val raw = lit(alpha(m) * m.toDouble * m.toDouble) / invSum
      val est = when(raw <= lit(2.5 * m) && zeros > 0,
        lit(m.toDouble) * log(lit(m.toDouble) / zeros.cast("double")))
        .otherwise(raw)
      c.agg(coalesce(sum(est), lit(0.0))).as[Double].head()
    }

    var cum = n.toDouble // t=0 exact: every ball holds exactly its center
    val counts = scala.collection.mutable.ArrayBuffer((0, cum))
    var t = 1
    var iterations = 0
    var saturated = false
    val metrics = scala.collection.mutable.ArrayBuffer[SuperstepMetric]()
    while (t <= maxT && !saturated) {
      val t0 = System.nanoTime()
      val prev = counters
      counters = unionStep(edgesByDst, counters).localCheckpoint(true)
      val est = estimate(counters)
      // an equal estimate SUM is necessary but not sufficient for a register
      // fixpoint (the sum is not injective in register state): confirm on
      // the registers themselves — a cheap n-row join that only runs when
      // the estimate coincides. Monotone registers make a confirmed
      // fixpoint permanent.
      saturated = est == cum && {
        import org.apache.spark.sql.functions.{col => c}
        counters.join(prev.withColumnRenamed("regs", "prevRegs"), "id")
          .filter(c("regs") =!= c("prevRegs")).limit(1).count() == 0L
      }
      cum = est
      counts += ((t, cum))
      iterations = t
      metrics += SuperstepMetric("anf-hyperball", t, n, 0L,
        (System.nanoTime() - t0) / 1000000L, est)
      t += 1
    }
    while (t <= maxT) { counts += ((t, cum)); t += 1 }
    edgesByDst.unpersist(); verts.unpersist()
    Result(counts.toSeq.toDF("t", "pairs"), metrics.toSeq, iterations)
  }

  /** Effective diameter at quantile q from a counts frame ((t, pairs),
    * either implementation): the smallest t whose cumulative pair count
    * reaches q of the final one, linearly interpolated between supersteps
    * (the ANF-paper convention, so fractional values are expected). */
  def effectiveDiameter(counts: DataFrame, q: Double = 0.9): Double = {
    require(q > 0.0 && q <= 1.0, s"quantile must be in (0,1], got $q")
    val rows = counts.orderBy("t").collect()
      .map(r => (r.getInt(0), r.get(1) match {
        case l: java.lang.Long => l.doubleValue
        case d: java.lang.Double => d.doubleValue
      }))
    require(rows.nonEmpty, "empty counts frame")
    val target = q * rows.last._2
    rows.indexWhere(_._2 >= target) match {
      case 0 => 0.0
      case i =>
        val (t0, c0) = rows(i - 1)
        val (_, c1) = rows(i)
        if (c1 == c0) t0.toDouble else t0 + (target - c0) / (c1 - c0)
    }
  }
}
