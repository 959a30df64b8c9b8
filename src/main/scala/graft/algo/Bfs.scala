package graft.algo

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.graph.Edge

/**
 * Breadth-first search as driver-orchestrated Dataset supersteps — the
 * Spark-first re-expression of the reference's `RouteFinder` (`RouteFinder.kt`):
 *
 *  - queue + `prev`-map expansion (`RouteFinder.kt:47-67`)   → per-superstep
 *    `frontier ⋈ edges` then `left_anti` against the visited set
 *  - bidirectional alternation with frontier balancing and the `TOO_BIG`
 *    cap (`RouteFinder.kt:15-45,71-72`)                      → expand the side
 *    with the smaller frontier; a side past `tooBig` visited entries stops
 *    expanding unless both are past it
 *  - meeting check (`RouteFinder.kt:92`)                      → per-superstep
 *    join of the NEW frontier against the opposite visited set (O(frontier),
 *    not O(visited)); optimal-stop criterion bestLen ≤ radiusF+radiusB
 *  - path stitch (`RouteFinder.kt:103-175`)                   → deterministic
 *    min-(len, meetingId) tie-break (the reference's map-order-dependent
 *    tie-break is deliberately NOT copied, SURVEY.md §7.4), then a parent
 *    walk of ≤ pathLen tiny lookups per side
 *
 * Every superstep `localCheckpoint`s its state to keep plans O(1)-deep; the
 * resumable table-backed variant runs through [[graft.state.Supersteps]].
 */
object Bfs {

  /** Reference's visited-set expansion cap (`RouteFinder.kt:71-72`). */
  val DefaultTooBig: Long = 1L << 18

  /** Single-source distances (unidirectional BFS, G2). Returns (id, dist,
    * parent) for every reachable vertex; parent is the min-id predecessor
    * (deterministic). */
  def distances(edges: Dataset[Edge], start: Long, maxDepth: Int = Int.MaxValue): DataFrame =
    levels(edges, start, maxDepth, None)

  /**
   * Resumable single-source BFS with FRONTIER-DELTA commits: the visited set
   * is monotone (a superstep only adds rows), so each superstep fast-appends
   * ONLY the new frontier through [[graft.state.Supersteps.appendDelta]] —
   * committed bytes per superstep ∝ |frontier|, not |visited| (at web-graph
   * depth ~20 a full-visited commit would rewrite the table ~20×). The
   * committed state stays the union of all deltas, so resume (and
   * time-travel) read the identical visited set — kill the JVM at any depth,
   * re-run, get the byte-identical final result. Each superstep expands the
   * frontier re-read from the latest delta's files (O(frontier) input).
   */
  def distancesResumable(
      edges: Dataset[Edge],
      start: Long,
      log: graft.state.Supersteps,
      maxDepth: Int = Int.MaxValue): DataFrame =
    levels(edges, start, maxDepth, Some(log))

  /** The one level-synchronous loop behind [[distances]] and
    * [[distancesResumable]]: the state is the frontier (one level), each
    * superstep's delta its size, so an empty frontier is the fixpoint. */
  private def levels(edges: Dataset[Edge], start: Long, maxDepth: Int,
      log: Option[graft.state.Supersteps]): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val seed = Seq((start, -1L, 0)).toDF("id", "parent", "dist")
    // every superstep joins the frontier against the edges: cached for the
    // whole loop, or each superstep re-runs the full upstream lineage
    Layout.withCached(edges) { e =>
      var visited = log.filter(_.lastCompleted.nonEmpty).fold(seed)(_.readState())
      var unions = 0
      Superstep.iterate("bfs", log.fold[Superstep.Sink](Superstep.Checkpoint)(Superstep.Append),
          maxDepth)(seed) { (frontier, _) =>
        frontier
          .join(e, frontier("id") === e("src"))
          .select($"dst".as("id"), $"src".as("parent"), ($"dist" + 1).as("dist"))
          .join(visited.select($"id".as("vid")), $"id" === $"vid", "left_anti")
          .groupBy($"id")
          .agg(min($"parent").as("parent"), first($"dist").as("dist"))
      } { (_, next) =>
        val n = next.count()
        unions += 1
        visited = grow(visited, next, unions)
        Superstep.Report(n, 0L, n.toDouble)
      }
      visited
    }
  }

  /** visited ∪ next as a lazy union of checkpointed per-level deltas: no
    * O(visited) rewrite per superstep. The union is COLLAPSED every 32nd
    * level: unbounded nesting makes each superstep's anti-join re-analyze
    * an O(depth)-deep plan (O(depth²) driver work, and a Catalyst stack
    * overflow on path-shaped graphs), so the rewrite cost is amortized to
    * 1/32 instead of removed outright. */
  private def grow(visited: DataFrame, next: DataFrame, level: Int): DataFrame = {
    val all = visited.union(next)
    if (level % 32 == 0) all.localCheckpoint(true) else all
  }

  /** Result of a bidirectional search: vertex-id path start..end inclusive,
    * or None when unreachable. */
  def shortestPath(
      edgesOut: Dataset[Edge],
      edgesIn: Dataset[Edge],
      start: Long,
      end: Long,
      tooBig: Long = DefaultTooBig): Option[Seq[Long]] = {
    // cache both edge layouts for the whole search — each superstep joins
    // a frontier against one of them (same reason as [[distances]])
    if (start == end) Some(Seq(start))
    else Layout.withCached(edgesOut)(eOut =>
      Layout.withCached(edgesIn)(eIn => search(eOut, eIn, start, end, tooBig)))
  }

  private def search(eOut: DataFrame, eIn: DataFrame, start: Long, end: Long,
      tooBig: Long): Option[Seq[Long]] = {
    val spark = eOut.sparkSession
    import spark.implicits._
    // visited: (id, parent, dist); parent = min-id predecessor (deterministic)
    var visF = Seq((start, -1L, 0)).toDF("id", "parent", "dist").localCheckpoint(true)
    var visB = Seq((end, -1L, 0)).toDF("id", "parent", "dist").localCheckpoint(true)
    var frontF = visF
    var frontB = visB
    var cntF = 1L; var cntB = 1L       // frontier sizes
    var sizeF = 1L; var sizeB = 1L     // visited sizes (TOO_BIG accounting)
    var radF = 0; var radB = 0         // completed levels per side

    def expand(frontier: DataFrame, frontierCount: Long, visited: DataFrame,
        edges: DataFrame, level: Int): (DataFrame, DataFrame, Long) = {
      // broadcast the EXPANDED side's frontier when small (AQE would also
      // catch this, but the count is already known driver-side)
      val f = if (frontierCount < 10000) broadcast(frontier) else frontier
      val next = f
        .join(edges, f("id") === edges("src"))
        .select($"dst".as("id"), $"src".as("parent"), ($"dist" + 1).as("dist"))
        .join(visited.select($"id".as("vid")), $"id" === $"vid", "left_anti")
        .groupBy($"id")
        .agg(min($"parent").as("parent"), first($"dist").as("dist"))
        .localCheckpoint(true)
      val n = next.count()
      // an unreachable target on a path-shaped graph expands one side for
      // as many levels as the path is long: the same collapse as distances
      (next, grow(visited, next, level), n)
    }

    // Meeting check per superstep: ONLY the newly-expanded frontier can
    // create meetings (a vertex meets at the moment its second side first
    // visits it, and per-side BFS distances are final at first visit), so
    // joining the new frontier against the OPPOSITE visited set — O(frontier)
    // instead of O(visited²-ish) — sees every meeting exactly once. The
    // running best is folded driver-side under the same (len, id) tie-break.
    def meetingOf(newFrontier: DataFrame, opposite: DataFrame,
        frontierIsForward: Boolean): Option[(Long, Int, Int)] = {
      val met = newFrontier.select($"id", $"dist".as("dn"))
        .join(opposite.select($"id", $"dist".as("dopp")), "id")
        .select($"id", $"dn", $"dopp", ($"dn" + $"dopp").as("len"))
        .orderBy($"len", $"id")
        .limit(1)
        .collect()
      met.headOption.map { r =>
        if (frontierIsForward) (r.getLong(0), r.getInt(1), r.getInt(2))
        else (r.getLong(0), r.getInt(2), r.getInt(1))
      }
    }

    def better(x: Option[(Long, Int, Int)], y: Option[(Long, Int, Int)])
        : Option[(Long, Int, Int)] = (x, y) match {
      case (Some((xi, xf, xb)), Some((yi, yf, yb))) =>
        val xl = xf + xb; val yl = yf + yb
        if (xl < yl || (xl == yl && xi <= yi)) x else y
      case _ => x.orElse(y)
    }

    // Loop until the best meeting is provably optimal (bestLen ≤ radF+radB:
    // any shorter path would already contain a doubly-visited vertex), a side
    // is exhausted with no meeting (⇒ unreachable: a drained forward side
    // means visF is the full reachable set, and end ∈ visB from step 0), or
    // the TOO_BIG policy deadlocks (reference gives up likewise).
    var best: Option[(Long, Int, Int)] = None
    var exhausted = false
    while (!exhausted && best.forall { case (_, df, db) => df + db > radF + radB }) {
      // expansion policy (`RouteFinder.kt:26-39`): a side past the cap stops
      // unless both are past it; among allowed sides, smaller frontier first
      val canF = cntF > 0 && (sizeF < tooBig || sizeB >= tooBig)
      val canB = cntB > 0 && (sizeB < tooBig || sizeF >= tooBig)
      if (!canF && !canB) exhausted = true
      else {
        val goForward = canF && (!canB || cntF <= cntB)
        if (goForward) {
          val (nf, nv, n) = expand(frontF, cntF, visF, eOut, radF + 1)
          frontF = nf; visF = nv; cntF = n; sizeF += n; radF += 1
          best = better(best, meetingOf(frontF, visB, frontierIsForward = true))
        } else {
          val (nb, nv, n) = expand(frontB, cntB, visB, eIn, radB + 1)
          frontB = nb; visB = nv; cntB = n; sizeB += n; radB += 1
          best = better(best, meetingOf(frontB, visF, frontierIsForward = false))
        }
        if (best.isEmpty && (cntF == 0 || cntB == 0)) exhausted = true
      }
    }

    best.map { case (meetId, _, _) =>
      val fChain = walk(visF, meetId)          // start..meet
      val bChain = walk(visB, meetId)          // end..meet
      fChain.reverse ++ bChain.tail            // start..meet..end
    }
  }

  /** Parent-chain walk: meet → root, returning meet..root order. Each hop is
    * one tiny filter on the checkpointed visited set (path length ≤ diameter). */
  private def walk(visited: DataFrame, from: Long): Seq[Long] = {
    val out = scala.collection.mutable.ArrayBuffer[Long](from)
    var cur = from
    var parent = lookupParent(visited, cur)
    while (parent != -1L) {
      out += parent
      cur = parent
      parent = lookupParent(visited, cur)
    }
    out.toSeq
  }

  private def lookupParent(visited: DataFrame, id: Long): Long = {
    import org.apache.spark.sql.functions.col
    visited.filter(col("id") === id).select(col("parent"))
      .collect().headOption.map(_.getLong(0)).getOrElse(-1L)
  }
}
