package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.Dedup
import graft.tables.IcebergLite

/**
 * Continuous maintenance for the COMMITTED text-dedup indexes — the
 * dedup-ladder twin of [[IndexStream]]: `readStream` over a growing
 * documents directory, each micro-batch shingled/fingerprinted at the
 * committed parameters and fast-appended to whichever index tables the
 * caller names (fingerprint, shingle, MinHash-LSH — any subset). New
 * documents become incrementally dedup-able at crawl cadence
 * ([[Dedup.winnowPairsIncremental]] / [[Dedup.jaccardPairsIncremental]] /
 * [[Dedup.minhashLshPairsIncremental]] then price only their own batch);
 * the corpus is never re-shingled. O(batch) work per micro-batch.
 *
 * Exactly-once over at-least-once micro-batches, PER TABLE: the file
 * source's checkpoint tracks processed inputs, and each maintained table
 * records its own `batchId`, so a crash that lands some tables' appends
 * but not others replays into per-table skips that converge (this is why
 * the MinHash path appends its postings and bucket tables under separate
 * guards rather than through [[Dedup.appendToMinhashIndex]]). The sizes
 * sidecars need no marker — their sync ([[IcebergLite.syncSidecar]]) is
 * idempotent by construction.
 *
 * The indexes must already exist (built over a seed corpus) — committed
 * parameters are what make appends consistent with the build. If
 * `minhashTable`'s postings substrate IS a shared `shingleTable`, pass
 * only `minhashTable` — naming both would double-append the shared
 * postings.
 */
object DedupStream {

  def run(spark: SparkSession, inputDir: String, warehouse: String,
      idCol: String = "doc_id", textCol: String = "text",
      fpTable: String = "",
      shingleTable: String = "",
      minhashTable: String = "",
      trigger: Trigger = Trigger.AvailableNow(),
      compactOver: Int = 0,
      expireKeep: Int = 0): Option[StreamingQuery] = {
    val enabled = Seq(fpTable, shingleTable, minhashTable).filter(_.nonEmpty)
    require(enabled.nonEmpty, "name at least one index table to maintain")
    val cat = new IcebergLite(warehouse)
    enabled.foreach(t => require(cat.currentSnapshot(t).nonEmpty,
      s"no committed $t under $warehouse — build it over a seed corpus first"))
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
      .option("checkpointLocation",
        s"$warehouse/_checkpoints/dedup_${enabled.mkString("_")}")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        // regression guard + per-table idempotence (see scaladoc)
        def fresh(t: String): Boolean = {
          StreamGuards.checkBatchId(cat, t, batchId)
          !cat.currentSnapshot(t)
            .exists(_.properties.get("batchId").exists(_.toLong >= batchId))
        }
        val marker = Map("batchId" -> batchId.toString)
        if (fpTable.nonEmpty && fresh(fpTable))
          Dedup.appendToFingerprintIndex(batch, idCol, textCol, warehouse,
            fpTable, marker, compactOver, expireKeep)
        if (shingleTable.nonEmpty && fresh(shingleTable))
          Dedup.appendToShingleIndex(batch, idCol, textCol, warehouse,
            shingleTable, marker, compactOver, expireKeep)
        if (minhashTable.nonEmpty) {
          val snap = cat.currentSnapshot(minhashTable).get
          val pt = snap.properties("postingsTable")
          val (k, bands) = (snap.properties("k").toInt,
            snap.properties("bands").toInt)
          lazy val ds = Dedup.batchShingles(batch, idCol, textCol, snap)
          if (fresh(pt))
            Dedup.appendShingleRows(cat, ds, pt,
              cat.currentSnapshot(pt).get.properties, marker)
          if (fresh(minhashTable))
            cat.append(Dedup.bandBuckets(ds, k, bands), minhashTable,
              snap.properties - "appendedRows" ++ marker)
          cat.maintain(s, minhashTable, compactOver, expireKeep)
          cat.maintain(s, pt, compactOver, expireKeep)
          cat.maintain(s, s"${pt}_sizes", compactOver, expireKeep)
        }
        ()
      }
      .start())
  }
}
