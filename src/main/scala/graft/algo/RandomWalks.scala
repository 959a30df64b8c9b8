package graft.algo

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.graph.Edge

/**
 * Deterministic hash-seeded random walks — the graph-structured corpus
 * sampler (node2vec/DeepWalk-style training input, neighborhood-expanded
 * crawl seeds) with the same reproducibility contract as the md5 corpus
 * sampler (`pipeline.Sampling`): a walk's trajectory never changes across
 * runs, engines, partition layouts, or corpus growth, because every hop is
 * a pure function of (seed, step, current vertex, candidate edge), never
 * of `rand()`.
 *
 * Hop rule (frozen; the SQL oracle reproduces it verbatim): from vertex u
 * at step t, walk to
 *
 *   argmin_{(u→v) ∈ E}  md5(seed || ':' || t || ':' || u || ':' || v)
 *                       (ties broken by the zero-padded v appended to the
 *                        ordering key — total order, engine-independent)
 *
 * A dead-end vertex (no out-edges) simply ends the walk — later steps emit
 * no row for that start, exactly like the oracle's inner join.
 *
 * Physical shape per step: the n-row walk frontier shuffles to the edge
 * table's src layout (edge side pre-partitioned ONCE, never reshuffled —
 * the PageRank/HITS gather discipline), and the per-(start) argmin is a
 * partial/final `min_by` aggregation, so hub out-degree fan-in combines
 * map-side. State is localCheckpoint-ed per step (plan depth O(1) in walk
 * length).
 */
object RandomWalks {

  /**
   * @param vertices single-column `id` frame — every vertex starts a walk
   * @param steps    walk length (hops); the result holds steps 0..steps
   * @param seed     hash-space salt: distinct seeds give independent walks
   *                 over the same graph (epochs of a walk corpus)
   * @return (start, step, vertex) — step 0 is the start itself; a walk that
   *         dead-ends at step t has no rows for steps > t
   */
  def deterministic(
      vertices: DataFrame,
      edges: Dataset[Edge],
      steps: Int,
      seed: String = "walk"): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(steps >= 1, s"steps must be >= 1, got $steps")
    require(!seed.contains(":"), "seed must not contain ':' (the key separator)")

    val verts = vertices.select(col(vertices.columns.head).as("id"))
    // cache the raw edge input while the src layout + the caller-derived
    // vertex frame (CacheManager subplan substitution) materialize, then
    // drop it — only the src layout is needed across steps
    val (edgesBySrc, frontier0) = Layout.withCached(edges) { e0 =>
      val edgesBySrc = e0.repartition(Layout.edgePartitions(e0.count()), $"src")
        .persist(StorageLevel.MEMORY_AND_DISK)
      edgesBySrc.count()
      (edgesBySrc, verts.select($"id".as("start"), $"id".as("cur"))
        .localCheckpoint(true))
    }
    var frontier = frontier0
    // step 0 of the trace reads the CHECKPOINTED frontier rather than
    // re-deriving the vertex frame at action time
    var trace = frontier.select($"start", lit(0).as("step"),
      $"cur".as("vertex"))
    var t = 1
    while (t <= steps) {
      val key = concat(
        md5(concat_ws(":", lit(seed), lit(t), $"cur", $"dst")),
        lpad($"dst".cast("string"), 20, "0"))
      frontier = frontier.join(edgesBySrc, frontier("cur") === edgesBySrc("src"))
        .groupBy($"start")
        .agg(min_by($"dst", key).as("cur"))
        .localCheckpoint(true)
      trace = trace.union(
        frontier.select($"start", lit(t).as("step"), $"cur".as("vertex")))
      t += 1
    }
    edgesBySrc.unpersist()
    trace
  }
}
