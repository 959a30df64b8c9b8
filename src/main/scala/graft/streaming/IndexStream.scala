package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.Similarity
import graft.tables.IcebergLite

/**
 * Continuous ANN-index maintenance: `readStream` over a growing embeddings
 * directory, each micro-batch assigned with the committed index's FROZEN
 * quantizer and fast-appended to the cells table
 * ([[Similarity.appendToIvfIndex]]) — the similarity-side twin of
 * [[IngestStream]]: new embeddings land in crawl cadence and become
 * probe-able without ever retraining or rewriting the index. O(batch) work
 * per micro-batch; manifest stats chain so pruned probes stay exact.
 *
 * Exactly-once cells over at-least-once micro-batches, the same two ways as
 * the link sink: the file source's checkpoint tracks processed inputs, and
 * each append records its `batchId` so a replayed batch (crash between
 * append and checkpoint write) is skipped.
 *
 * The index must already exist ([[Similarity.buildIvfIndex]] over a seed
 * corpus) — a quantizer cannot be trained on data that hasn't arrived; when
 * drift accumulates, rebuild with `buildIvfIndex` and resume streaming.
 */
object IndexStream {

  /** `compactOver > 0`: when the cells manifest (or the id sidecar's)
    * exceeds that many files, fold it down in-stream through
    * [[IcebergLite.maintain]] ([[Similarity.appendAssigned]] runs it on
    * both tables) — compaction recomputes the per-file stats over
    * range-clustered files, so manifest pruning AND the batchId guard both
    * survive the rewrite.
    *
    * `expireKeep > 0` additionally expires all but that many snapshots
    * after each compaction ([[IcebergLite.expireSnapshots]]) — the
    * RETENTION knob: a continuously-maintained index otherwise grows
    * storage without bound (fast appends add files each micro-batch and
    * compaction rewrites but retains the old ones for time travel). The
    * current snapshot — properties (batchId idempotence guard, build
    * params) and live data files — is always kept, so probes, replays, and
    * resume survive expiry; keep it large enough to cover any reader still
    * time-traveling.
    *
    * `neardupThreshold` (when not NaN): CONTINUOUS SemDeDup — each
    * micro-batch's incremental near-dup pairs (new-vs-corpus + new-vs-new,
    * at the frozen quantizer; [[Similarity.embeddingIncrPlan]]) are
    * appended to `pairsTable` (default `<table>_pairs`) BEFORE the cells
    * append. The ordering is the crash discipline: the pair computation
    * must see the PRE-append corpus, so pairs commit first — a crash
    * between the two appends replays into "pairs committed, cells not",
    * where the recomputed assignment appends cells against exactly the
    * state the pairs were derived from. Each table carries its own batchId
    * guard, so any partial-crash replay converges. */
  def run(spark: SparkSession, inputDir: String, warehouse: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      table: String = "ann_ivf",
      trigger: Trigger = Trigger.AvailableNow(),
      compactOver: Int = 0,
      expireKeep: Int = 0,
      neardupThreshold: Double = Double.NaN,
      pairsTable: String = ""): Option[StreamingQuery] = {
    val cat = new IcebergLite(warehouse)
    require(cat.currentSnapshot(s"${table}_centroids").nonEmpty,
      s"no committed $table index under $warehouse — buildIvfIndex first")
    require(pairsTable.isEmpty || !neardupThreshold.isNaN,
      "pairsTable without --neardup threshold has nothing to write")
    val pt = if (pairsTable.nonEmpty) pairsTable else s"${table}_pairs"
    val schema =
      try spark.read.parquet(inputDir).schema
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if Option(e.getCondition).exists(c =>
              c.startsWith("PATH_NOT_FOUND") ||
                c.startsWith("UNABLE_TO_INFER_SCHEMA")) =>
          return None
      }
    val stream = spark.readStream.schema(schema).parquet(inputDir)
    Some(stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$warehouse/_checkpoints/$table")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        StreamGuards.checkBatchId(cat, s"${table}_cells", batchId)
        val alreadyCommitted = cat.currentSnapshot(s"${table}_cells")
          .exists(_.properties.get("batchId").exists(_.toLong >= batchId))
        if (alreadyCommitted) {
          // the replay-skip is exactly the window where a crash between the
          // cells append and the sidecar append would otherwise leave the
          // sidecar lagging forever — heal it here (no-op when in lockstep;
          // [[IcebergLite.syncSidecar]])
          Similarity.healSidecar(batch.sparkSession, cat,
            s"${table}_cells", s"${table}_ids")
        } else if (!neardupThreshold.isNaN) {
          neardupBatch(cat, table, pt, batch, idCol, vecCol,
            neardupThreshold, batchId, compactOver, expireKeep)
        } else {
          Similarity.appendToIvfIndex(batch, idCol, vecCol, warehouse, table,
            extraProps = Map("batchId" -> batchId.toString),
            compactOver = compactOver, expireKeep = expireKeep)
        }
        ()
      }
      .start())
  }

  /** One micro-batch of continuous SemDeDup: pairs FIRST (computed against
    * the strictly pre-append corpus), then the cells append reusing the
    * SAME cached assignment — the nearest-cell kernel runs once per batch.
    * Idempotent per TABLE via each table's own batchId marker, so a crash
    * in the window between the two appends replays into "pairs committed,
    * cells not" and converges (the recomputed assignment appends cells
    * against exactly the state the pairs were derived from). */
  private[graft] def neardupBatch(cat: IcebergLite, table: String, pt: String,
      batch: DataFrame, idCol: String, vecCol: String, threshold: Double,
      batchId: Long, compactOver: Int = 0, expireKeep: Int = 0): Unit = {
    StreamGuards.checkBatchId(cat, pt, batchId)
    val cs = Similarity.committedCentroids(batch.sparkSession, cat, table)
    val cells = Similarity.assignCells(batch, idCol, vecCol, cs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairsCommitted = cat.currentSnapshot(pt)
      .exists(_.properties.get("batchId").exists(_.toLong >= batchId))
    if (!pairsCommitted) {
      val pairs = Similarity.embeddingIncrPlan(cat, table, cells, threshold)
        .localCheckpoint(true)
      if (cat.currentSnapshot(pt).isEmpty)
        cat.commit(pairs, pt, Map("batchId" -> batchId.toString))
      else cat.append(pairs, pt, Map("batchId" -> batchId.toString))
    }
    Similarity.appendAssigned(cells, cat, table, cs,
      extraProps = Map("batchId" -> batchId.toString),
      compactOver = compactOver, expireKeep = expireKeep)
    cells.unpersist()
  }
}
