package graft.graph

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.util.{Failure, Success}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.{IcebergLite, Snapshot}

/**
 * The persisted physical design — the Spark analog of the reference's
 * segment-store build (`SegmentWikiGraphSerialization.kt:67-219`, S9):
 *
 *   pages_by_url    url-sorted node table (the "name index": point/prefix
 *                   lookups prune row groups via parquet min/max)
 *   pages_by_id     id-sorted node table (the "id index" for route joins)
 *   edges_by_src    range-partitioned src-sorted edge table (out-CSR analog)
 *   edges_by_dst    the materialized transpose (in-CSR analog — one build
 *                   shuffle buys shuffle-free backward BFS forever)
 *   adjacency_out/in packed CSR rows (salted two-phase pack for hub skew)
 *   stats           A1 statistics before/after cleanup
 *
 * All committed through Iceberg-lite so downstream jobs read a consistent
 * snapshot and the build itself is resumable (re-running skips tables whose
 * snapshot already carries the same `buildId`).
 *
 * The tables are independent, so [[build]] commits them concurrently, one
 * thread per pending table; each table's snapshot is still atomic. If a
 * commit fails, `build` waits for the others to end and then rethrows the
 * first failure in table order: the tables that did commit keep their
 * snapshots, and a re-run with the same `buildId` commits only the rest.
 */
object GraphTables {

  /** Each committed table with the frame it is written from, given the
    * built graph, the shuffle partition count and the CSR salt buckets. */
  private val layouts: Seq[(String, (LinkGraph, Int, Int) => DataFrame)] = Seq(
    "pages_by_url" -> ((g, parts, _) =>
      g.pages.repartitionByRange(parts, col("url")).sortWithinPartitions("url").toDF()),
    "pages_by_id" -> ((g, parts, _) =>
      g.pages.repartitionByRange(parts, col("id")).sortWithinPartitions("id").toDF()),
    "edges_by_src" -> ((g, parts, _) => EdgeTable.bySrc(g.edges, parts).toDF()),
    "edges_by_dst" -> ((g, parts, _) => EdgeTable.bySrc(g.reversed, parts).toDF()),
    "adjacency_out" -> ((g, _, salt) => EdgeTable.packAdjacencySalted(g.edges, salt).toDF()),
    "adjacency_in" -> ((g, _, salt) => EdgeTable.packAdjacencySalted(g.reversed, salt).toDF()),
    "stats" -> ((g, _, _) => statsFrame(g)))

  val Tables: Seq[String] = layouts.map(_._1)

  private def statsFrame(g: LinkGraph): DataFrame = {
    val spark = g.pages.sparkSession
    import spark.implicits._
    def row(phase: String, s: GraphStats) =
      (phase, s.articleCount, s.redirectCount, s.linkCount, s.nullLinkCount)
    Seq(row("before", g.statsBefore), row("after", g.statsAfter))
      .toDF("phase", "articles", "redirects", "links", "null_links")
  }

  /** Build + commit every physical table not yet committed under `buildId`;
    * returns the new snapshots per table. */
  def build(graph: LinkGraph, warehouse: String, buildId: String,
      saltBuckets: Int = 16): Map[String, Snapshot] = {
    val spark = graph.pages.sparkSession
    val cat = new IcebergLite(warehouse)
    val parts = spark.sessionState.conf.numShufflePartitions
    val props = Map("buildId" -> buildId)

    val pending = layouts.filterNot { case (table, _) =>
      cat.currentSnapshot(table).exists(_.properties.get("buildId").contains(buildId))
    }.map { case (table, layout) => table -> layout(graph, parts, saltBuckets) }
    if (pending.isEmpty) return Map.empty

    // the pool's threads are started by this (the caller's) thread, so each
    // inherits its Spark local properties: job group, scheduler pool, tags
    val pool = Executors.newFixedThreadPool(pending.size)
    val ended = try {
      val commits = pending.map { case (table, df) =>
        table -> pool.submit(new Callable[Snapshot] {
          def call(): Snapshot = cat.commit(df, table, props)
        })
      }
      commits.map { case (table, f) =>
        table -> (try Success(f.get()) catch { case e: ExecutionException => Failure(e.getCause) })
      }
    } finally pool.shutdownNow()

    val failures = ended.collect { case (_, Failure(e)) => e }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
    ended.map { case (table, r) => table -> r.get }.toMap
  }

  /** Reopen the committed tables as a query-ready [[LinkGraph]]. */
  def open(spark: SparkSession, warehouse: String): LinkGraph = {
    import spark.implicits._
    val cat = new IcebergLite(warehouse)
    val pages = cat.read(spark, "pages_by_url").as[Page]
    val edges = cat.read(spark, "edges_by_src").as[Edge]
    // the committed transpose: backward BFS reads this scan directly
    // instead of re-shuffling edges_by_src at query time
    val reversed = cat.read(spark, "edges_by_dst").as[Edge]
    val statRows = cat.read(spark, "stats")
      .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    def gs(k: String) = statRows.get(k)
      .map(r => GraphStats(r._2, r._3, r._4, r._5))
      .getOrElse(GraphStats(0, 0, 0, 0))
    LinkGraph(pages, edges, gs("before"), gs("after"), Some(reversed))
  }
}
