package graft.algo

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

/** Shared physical-layout policy for the iterative operators' cached edge
  * layouts. */
object Layout {

  /** Rows per cached-edge-layout partition: ~2M edge rows ≈ 50–100 MB —
    * the guide §2.2 "fewer, larger partitions" sweet spot. */
  val EdgeRowsPerPartition: Long = 2L * 1000 * 1000

  /** Partition count for a cached edge layout, DERIVED from the edge count
    * (guide §2: scale-adaptive partitioning, never a constant tuned for
    * either local mode or a cluster): a fixture-sized graph collapses to a
    * few partitions (a superstep stops paying shuffle-partition-count task
    * overhead), a 10⁹-edge graph gets thousands. Callers know the edge
    * count already — every operator counts its cached input first. */
  def edgePartitions(edgeRows: Long): Int =
    math.max(1, math.ceil(edgeRows.toDouble / EdgeRowsPerPartition).toInt)

  /** Runs `body` over `edges` cached for exactly the body's duration: each
    * consumer of the edge lineage inside it (counts, layout repartitions,
    * anti-joins, and — via CacheManager subplan substitution — caller-side
    * vertex frames derived from the same edge plan) then reads the cache
    * instead of re-running the full upstream scan. A caller-cached input is
    * used as is and left cached. */
  def withCached[T](edges: Dataset[_])(body: DataFrame => T): T = {
    val preCached = edges.storageLevel != StorageLevel.NONE
    val e = edges.toDF()
    if (!preCached) e.persist(StorageLevel.MEMORY_AND_DISK)
    try body(e) finally if (!preCached) e.unpersist()
  }
}
