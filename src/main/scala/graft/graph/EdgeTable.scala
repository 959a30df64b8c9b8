package graft.graph

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Physical design of the edge relation (SURVEY.md §1.4, §4).
 *
 * The reference packs edges into an mmap'd CSR (`SegmentWikiGraphSerialization
 * .kt:67-219`); our analog is (a) the plain distinct edge table
 * range-partitioned + sorted by `src` (Parquet min/max then prunes src
 * lookups), and (b) a packed adjacency form `src -> sort_array(dsts)` whose
 * contiguous Tungsten array layout plays the role of the CSR row group.
 *
 * Skew: web graphs are power-law; a hub vertex's adjacency group would land
 * on one reducer. [[packAdjacencySalted]] does the pack in two phases —
 * partial collect per (src, salt) shard, then merge — bounding any single
 * task's group size at degree/saltBuckets (north-rule explicit skew
 * handling; AQE skew-join remains the backstop for joins).
 */
object EdgeTable {

  /** Range-partitioned, per-partition-sorted edge table: the layout we
    * persist (SURVEY.md §4 "materialized transpose" + "range lookup"). */
  def bySrc(edges: Dataset[Edge], numPartitions: Int = 0): Dataset[Edge] = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parts = if (numPartitions > 0) numPartitions
                else spark.sessionState.conf.numShufflePartitions
    edges.repartitionByRange(parts, $"src").sortWithinPartitions("src", "dst").as[Edge]
  }

  /** CSR pack: per-source sorted distinct neighbors (A3). Single-phase —
    * correct at any scale, skew-prone for hub sources. */
  def packAdjacency(edges: Dataset[Edge]): Dataset[Adjacency] = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.groupBy($"src")
      .agg(sort_array(collect_set($"dst")).as("dsts"))
      .as[Adjacency]
  }

  /** Two-phase salted CSR pack: shard each source's group by a deterministic
    * salt of dst, partially collect, then merge shards per source. Output is
    * identical to [[packAdjacency]] (tested on the hub fixture). */
  def packAdjacencySalted(edges: Dataset[Edge], saltBuckets: Int = 16): Dataset[Adjacency] = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges
      .withColumn("__salt", pmod(xxhash64($"dst"), lit(saltBuckets.toLong)))
      .groupBy($"src", $"__salt")
      .agg(collect_set($"dst").as("shard"))
      .groupBy($"src")
      .agg(sort_array(flatten(collect_list($"shard"))).as("dsts"))
      .as[Adjacency]
  }

  /**
   * Persist a relation as a HASH-BUCKETED, per-bucket-sorted catalog table
   * on `keyCol` — Spark-native co-location. The bucket spec is recorded in
   * the catalog, so every equi-join between tables bucketed the same way on
   * the key, and every `groupBy(keyCol)` aggregation over one, elides its
   * Exchange entirely (asserted in BucketedSpec). This is the cluster-scale
   * upgrade of [[bySrc]]'s range layout: range files prune point lookups via
   * parquet min/max, bucketed tables additionally carry the partitioning
   * PROPERTY Catalyst can plan against — the reference's "everything sorted
   * in one mmap" contract, expressed as catalog metadata. `path` keeps the
   * data external (caller-owned directory).
   */
  def saveBucketed(df: DataFrame, table: String, keyCol: String,
      path: String, buckets: Int = 64): Unit =
    df.write.mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, keyCol)
      .sortBy(keyCol)
      .saveAsTable(table)

  /** Out-degree per source (A2 analog on the transpose side:
    * `edges.groupBy(dst).count`). Partial (map-side) aggregation makes this
    * skew-immune — every mapper pre-combines hub keys. */
  def degrees(edges: Dataset[Edge], key: String): DataFrame =
    edges.groupBy(col(key).as("id")).agg(count(lit(1)).as("degree"))
}
