package graft.algo

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.graph.Edge

/**
 * Connected components via alternating large-star / small-star (Kiveris et
 * al., "Connected Components in MapReduce and Beyond", SoCC'14) — the
 * specific algorithm the north rule names. Treats the link graph as
 * undirected (weakly connected components).
 *
 * Each round is two Dataset passes over the evolving edge list:
 *   large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u
 *                  (and keep (u, m) so roots stay attached)
 *   small-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u) ∪ {u}, v ≤ u
 * Convergence: the edge multiset reaches a fixed point (checked by a
 * cheap count + xor-of-hashes signature, no full diff join). At the fixed
 * point edges form stars rooted at component minima.
 *
 * Both phases are groupBy-min + re-emit: partial aggregation absorbs hub
 * skew; rounds are O(log n) (paper Thm 3). State localCheckpoint-ed per
 * round.
 */
object ConnectedComponents {

  case class Result(components: DataFrame, metrics: Seq[SuperstepMetric], rounds: Int)

  def run(vertices: DataFrame, edges: Dataset[Edge], maxRounds: Int = 50): Result =
    iterate("cc", vertices, edgePairs(edges), maxRounds, None)

  /**
   * Warm-start over a GROWN graph: previous component labels + only the
   * DELTA edges, the monotone analog of [[PageRank.warmStart]] for a
   * continuously-ingesting corpus. Edge appends can only MERGE components
   * — never split them — so
   *
   *   CC(E_old ∪ Δ)  =  CC(stars(prev) ∪ Δ)
   *
   * where stars(prev) is the previous fixpoint rendered as edges (every
   * non-root vertex → its component min: |V_old| edges at most, regardless
   * of |E_old|). The large/small-star loop then starts from a forest that
   * is ALREADY a fixpoint everywhere Δ doesn't touch, so rounds track the
   * diameter of the merge structure the delta introduces, not log |V| of
   * the whole graph — and each round's input is O(|V| + |Δ|) edges instead
   * of O(|E|). This is what makes re-running
   * [[graft.pipeline.Dedup.canonicalize]] cheap on a growing corpus: feed
   * the last run's labels and only the new pairs.
   *
   * `vertices` must be the FULL post-growth vertex set (old + new); new
   * vertices absent from `prevComponents` simply start as their own
   * components, exactly as in a cold run. Result equality with the cold
   * run is asserted in tests — the warm seed changes the path, not the
   * fixpoint.
   */
  def warmStart(vertices: DataFrame, deltaEdges: Dataset[Edge],
      prevComponents: DataFrame, maxRounds: Int = 50): Result = {
    val stars = prevComponents
      .select(col(prevComponents.columns.head).cast("long").as("src"),
        col(prevComponents.columns(1)).cast("long").as("dst"))
    iterate("cc-warm", vertices,
      edgePairs(stars.union(deltaEdges.toDF())), maxRounds, None)
  }

  /**
   * Resumable variant: each round's evolving edge set is committed through
   * [[graft.state.Supersteps]] (the lineage carries the fixed-point flag),
   * so a killed job resumes at the last committed round and the final
   * components are byte-identical to an uninterrupted run.
   */
  def runResumable(vertices: DataFrame, edges: Dataset[Edge],
      log: graft.state.Supersteps, maxRounds: Int = 50): Result =
    iterate("cc", vertices, edgePairs(edges), maxRounds, Some(log))

  /** The initial edge set: (u, v) pairs, self-loops dropped, deduplicated. */
  private def edgePairs(edges: Dataset[_]): DataFrame =
    edges.toDF().select(col("src").as("u"), col("dst").as("v"))
      .filter(col("u") =!= col("v")).distinct()

  /** The one large/small-star loop: rounds until the edge multiset reaches
    * a fixed point (count + xor-of-hashes signature unchanged), then the
    * star forest read off as components. */
  private def iterate(algo: String, vertices: DataFrame, initEdges: DataFrame,
      maxRounds: Int, log: Option[graft.state.Supersteps]): Result = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val ops = new StarOps(spark)
    def signature(e: DataFrame): (Long, Long) =
      e.agg(count(lit(1)), coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)))
        .as[(Long, Long)].head()
    // the previous round's signature, carried so each round signs only its
    // own output
    var sig: Option[(Long, Long)] = None
    val run = Superstep.iterate(algo, Superstep.sink(log), maxRounds)(initEdges) {
      (cur, _) => ops.smallStar(ops.largeStar(cur))
    } { (prev, next) =>
      val before = sig.getOrElse(signature(prev))
      val after = signature(next)
      sig = Some(after)
      Superstep.Report(after._1, after._1, if (after == before) 0.0 else 1.0)
    }
    // stars: every non-root points at its component min; roots + isolated
    // vertices map to themselves
    val comp = vertices.select(col(vertices.columns.head).as("id"))
      .join(run.state.select($"u".as("id"), $"v".as("comp")), Seq("id"), "left")
      .groupBy($"id")
      .agg(coalesce(min($"comp"), first($"id")).as("component"))
    Result(comp, run.metrics, run.steps)
  }

  /** The large-star and small-star operations of one round. */
  private[algo] class StarOps(spark: org.apache.spark.sql.SparkSession) {
    import spark.implicits._

    // the distinct is LOAD-BEARING for performance (not correctness): a
    // round-7 A/B removed it (duplicates would collapse in each star op's
    // final distinct anyway) and measured g_cc 2.89 -> 3.60 s — reciprocal
    // pairs are common on real link graphs and the duplicate rows inflate
    // every downstream join/aggregate input by more than this Exchange
    private def symmetric(e: DataFrame): DataFrame =
      e.union(e.select($"v".as("u"), $"u".as("v"))).filter($"u" =!= $"v").distinct()

    private def minOfNbhd(sym: DataFrame): DataFrame =
      sym.groupBy($"u").agg(least(min($"v"), first($"u")).as("m"))

    def largeStar(e: DataFrame): DataFrame = {
      val sym = symmetric(e)
      val mins = minOfNbhd(sym)
      sym.join(mins, "u")
        .filter($"v" > $"u")
        .select($"v".as("u"), $"m".as("v"))
        .union(mins.select($"u", $"m".as("v")))
        .filter($"u" =!= $"v")
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      val sym = symmetric(e)
      val mins = minOfNbhd(sym)
      sym.join(mins, "u")
        .filter($"v" <= $"u")
        .select($"v".as("u"), $"m".as("v"))
        .union(mins.select($"u", $"m".as("v")))
        .filter($"u" =!= $"v")
        .distinct()
    }
  }

  /** Driver union-find oracle (FIXTURES.md §4). */
  def oracle(n: Int, edges: Seq[(Int, Int)]): Array[Int] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    Array.tabulate(n)(find)
  }
}
