package graft.tables

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkTestBase

/** The committed-sidecar primitive ([[IcebergLite.commitSidecar]] /
  * [[IcebergLite.syncSidecar]]) driven directly on a toy main table with a
  * projection derive, once per sidecar layout: after every sync the sidecar
  * must hold exactly derive(main) — no missing, no duplicated rows — in the
  * layout it was committed with. */
class SidecarSpec extends SparkTestBase {

  private case class Layout(name: String, statsCol: Option[String],
      bucketBy: Option[(String, Int)])

  private val layouts = Seq(
    Layout("stats'd", Some("id"), None),
    Layout("bucketed", None, Some(("id", 4))))

  private def derive(main: DataFrame): DataFrame =
    main.select(col("id"), col("v"))

  private def rows(r: Range): DataFrame = {
    val s = spark
    import s.implicits._
    r.map(i => (i.toLong, i * 10L)).toDF("id", "v")
  }

  private def contents(cat: IcebergLite, table: String): Seq[(Long, Long)] = {
    val s = spark
    import s.implicits._
    cat.read(spark, table).select($"id", $"v").as[(Long, Long)].collect()
      .toSeq.sorted
  }

  private def side(cat: IcebergLite): Snapshot = cat.currentSnapshot("side").get
  private def mainSid(cat: IcebergLite): Long =
    cat.currentSnapshot("main").get.snapshotId

  private def sync(cat: IcebergLite): Unit =
    cat.syncSidecar(spark, "main", "side")(derive)

  /** sidecar ≡ derive(main), stamped with main's current snapshot, in the
    * committed layout, build properties carried */
  private def assertLevel(cat: IcebergLite, l: Layout): Unit = {
    assert(contents(cat, "side") == contents(cat, "main"))
    val s = side(cat)
    assert(s.properties("syncedTo") == mainSid(cat).toString)
    assert(s.properties("note") == "built")
    l.statsCol.foreach { c =>
      assert(s.properties("statsCol") == c)
      assert(s.fileStats.size == s.files.size, "every file keeps its stats range")
    }
    l.bucketBy.foreach { case (c, n) =>
      assert(s.properties("bucketCol") == c)
      assert(s.properties("bucketCount") == n.toString)
    }
  }

  /** main = 20 rows, sidecar committed over it, then `body`; the bucketed
    * layout's catalog entry is dropped afterwards */
  private def withSidecar(l: Layout)(body: IcebergLite => Unit): Unit = {
    val cat = new IcebergLite(Files.createTempDirectory("graft-sidecar").toString)
    try {
      cat.commit(rows(0 until 20), "main")
      cat.commitSidecar(spark, "main", "side", Map("note" -> "built"),
        l.statsCol, l.bucketBy)(derive)
      assertLevel(cat, l)
      body(cat)
    } finally spark.sql(s"DROP TABLE IF EXISTS `${cat.catalogName("side")}`")
  }

  test("no sidecar (or no main): a sync is a no-op") {
    val cat = new IcebergLite(Files.createTempDirectory("graft-sidecar").toString)
    cat.commit(rows(0 until 5), "main")
    sync(cat)
    assert(cat.currentSnapshot("side").isEmpty)
    cat.syncSidecar(spark, "absent", "side")(derive)
    assert(cat.currentSnapshot("side").isEmpty)
  }

  for (l <- layouts) {
    test(s"${l.name} sidecar: in lockstep, a sync writes no snapshot") {
      withSidecar(l) { cat =>
        val before = side(cat).snapshotId
        sync(cat)
        assert(side(cat).snapshotId == before)
      }
    }

    test(s"${l.name} sidecar: two missed appends replay as two delta appends") {
      withSidecar(l) { cat =>
        val before = side(cat).snapshotId
        cat.append(rows(20 until 25), "main")
        cat.append(rows(25 until 32), "main")
        sync(cat)
        val added = cat.snapshots("side").filter(_.snapshotId > before)
        assert(added.map(_.properties.get("appendedRows")) ==
          Seq(Some("5"), Some("7")))
        assert(added.map(_.properties("syncedTo").toLong) ==
          Seq(mainSid(cat) - 1, mainSid(cat)))
        assertLevel(cat, l)
        // and a second sync is idempotent
        sync(cat)
        assert(side(cat).snapshotId == before + 2)
      }
    }

    test(s"${l.name} sidecar: a trailing compaction advances the stamp to it") {
      withSidecar(l) { cat =>
        val before = side(cat).snapshotId
        cat.append(rows(20 until 26), "main")
        val compacted = cat.compact(spark, "main", targetFiles = 2)
        sync(cat)
        assert(side(cat).snapshotId == before + 1, "one delta append")
        assert(side(cat).properties("appendedRows") == "6")
        assert(side(cat).properties("syncedTo") == compacted.snapshotId.toString)
        assertLevel(cat, l)
      }
    }

    test(s"${l.name} sidecar: a full-replacement commit in the gap re-derives once") {
      withSidecar(l) { cat =>
        val before = side(cat).snapshotId
        cat.append(rows(20 until 25), "main")
        cat.commit(rows(100 until 130), "main")
        sync(cat)
        assert(side(cat).snapshotId == before + 1, "one re-derive")
        assert(!side(cat).properties.contains("appendedRows"))
        assert(contents(cat, "side").map(_._1) == (100L until 130L))
        assertLevel(cat, l)
      }
    }

    test(s"${l.name} sidecar: an expired syncedTo parent re-derives, no duplicated rows") {
      withSidecar(l) { cat =>
        val synced = side(cat).properties("syncedTo").toLong
        cat.append(rows(20 until 25), "main")
        cat.append(rows(25 until 30), "main")
        cat.expireSnapshots("main", keepLast = 2)
        assert(!cat.snapshots("main").exists(_.snapshotId == synced))
        sync(cat)
        assert(!side(cat).properties.contains("appendedRows"), "re-derived")
        assert(side(cat).rowCount == 30)
        assertLevel(cat, l)
      }
    }
  }
}
