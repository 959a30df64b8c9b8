package graft.state

import java.nio.file.Files

import graft.SparkTestBase
import graft.algo.{PageRank, SuperstepMetric}
import graft.graph.Edge
import graft.tables.IcebergLite

class StateSpec extends SparkTestBase {

  private def tmp(): String =
    Files.createTempDirectory("graft-state").toString

  test("IcebergLite: commit, read-back, snapshot log, time travel, lineage") {
    import spark.implicits._
    val root = tmp()
    val t = new IcebergLite(root)
    val s1 = t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "demo",
      Map("note" -> "first"))
    assert(s1.snapshotId == 0 && s1.parentId == -1 && s1.rowCount == 2)
    val s2 = t.commit(Seq((3L, "c")).toDF("id", "v"), "demo")
    assert(s2.snapshotId == 1 && s2.parentId == 0)
    // current = latest
    assert(t.read(spark, "demo").as[(Long, String)].collect().toSet == Set((3L, "c")))
    // time travel to snapshot 0
    assert(t.read(spark, "demo", 0).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    val snaps = t.snapshots("demo")
    assert(snaps.map(_.snapshotId) == Seq(0L, 1L))
    assert(snaps.head.properties("note") == "first")
    assert(snaps.head.partitionRows.values.sum == 2)
  }

  test("IcebergLite: fast append retains parent files and chains lineage") {
    import spark.implicits._
    val t = new IcebergLite(tmp())
    t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "log")
    val s1 = t.append(Seq((3L, "c")).toDF("id", "v"), "log")
    assert(s1.snapshotId == 1 && s1.parentId == 0)
    // current = old + new rows; time travel still sees only the old
    assert(t.read(spark, "log").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(t.read(spark, "log", 0).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // manifest lists parent files + new ones; lineage row counts add up
    val s0 = t.snapshots("log").head
    assert(s0.files.toSet.subsetOf(s1.files.toSet))
    assert(s1.rowCount == 3 && s1.partitionRows.values.sum == 3)
  }

  test("IcebergLite: compact rewrites small appended files, preserves rows + time travel") {
    import spark.implicits._
    val t = new IcebergLite(tmp())
    // simulate a streaming table: many tiny appends, multi-file each
    t.commit((1L to 10L).toDF("id").repartition(4), "stream")
    (1 to 4).foreach(i =>
      t.append(Seq(10L + i).toDF("id").repartition(2), "stream",
        Map("batchId" -> i.toString)))
    val before = t.currentSnapshot("stream").get
    assert(before.properties("batchId") == "4")
    assert(before.files.size >= 8, s"expected small-file buildup, got ${before.files.size}")
    val rows = t.read(spark, "stream").as[Long].collect().sorted.toSeq

    val compacted = t.compact(spark, "stream", targetFiles = 2)
    assert(compacted.files.size <= 2)
    assert(compacted.parentId == before.snapshotId)
    assert(compacted.properties("compactedFromFiles").toInt == before.files.size)
    // logical-state properties survive compaction (the streaming sink's
    // batchId idempotence guard depends on this)
    assert(compacted.properties.get("batchId") == before.properties.get("batchId"))
    assert(!compacted.properties.contains("appendedRows"))
    // same rows after compaction; pre-compaction snapshot still readable
    assert(t.read(spark, "stream").as[Long].collect().sorted.toSeq == rows)
    assert(t.read(spark, "stream", before.snapshotId)
      .as[Long].collect().sorted.toSeq == rows)
    // appends keep working on top of the compacted manifest
    t.append(Seq(99L).toDF("id"), "stream")
    assert(t.read(spark, "stream").as[Long].collect().sorted.toSeq == (rows :+ 99L))
  }

  test("IcebergLite: expireSnapshots bounds storage, keeps shared fast-append files") {
    import spark.implicits._
    val root = tmp()
    val t = new IcebergLite(root)
    // five full-replacement commits: disjoint file sets per snapshot
    (1 to 5).foreach(i => t.commit(Seq(i.toLong).toDF("id"), "st"))
    def dataFiles() = {
      val dd = java.nio.file.Paths.get(root, "st", "data")
      java.nio.file.Files.walk(dd).filter(p =>
        p.getFileName.toString.endsWith(".parquet")).count()
    }
    val filesBefore = dataFiles()
    val (expired, deleted) = t.expireSnapshots("st", keepLast = 2)
    assert(expired == 3 && deleted > 0)
    assert(dataFiles() < filesBefore, "expired data files must be deleted")
    // current + kept history still readable; expired time travel now fails
    assert(t.read(spark, "st").as[Long].head() == 5L)
    assert(t.read(spark, "st", 3).as[Long].head() == 4L)
    intercept[graft.tables.NoSuchTable] { t.read(spark, "st", 0) }
    assert(t.snapshots("st").map(_.snapshotId) == Seq(3L, 4L))

    // fast-append chain: old files are SHARED into kept manifests and must
    // survive expiry of the snapshots that introduced them
    t.commit(Seq(1L, 2L).toDF("id"), "ap")
    t.append(Seq(3L).toDF("id"), "ap")
    t.append(Seq(4L).toDF("id"), "ap")
    val (e2, d2) = t.expireSnapshots("ap", keepLast = 2)
    assert(e2 == 1 && d2 == 0, s"shared files must not be deleted (deleted $d2)")
    assert(t.read(spark, "ap").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    // expiring below the table's size is a no-op
    assert(t.expireSnapshots("ap", keepLast = 10) == ((0, 0)))
    // an expired snapshot's whole data dir (incl. _SUCCESS/.crc sidecars)
    // is gone when nothing kept references into it
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "st", "data", "s0")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "st", "data", "s4")))
  }

  test("IcebergLite: a corrupt manifest fails loudly, never as empty properties") {
    import spark.implicits._
    val root = tmp()
    val t = new IcebergLite(root)
    t.commit(Seq(1L).toDF("id"), "c", Map("batchId" -> "7"))
    val p = java.nio.file.Paths.get(root, "c", "snapshots", "v0.json")
    val json = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    // silently-empty properties would disarm the streaming sink's batchId
    // idempotence guard (replayed micro-batch double-appends)
    java.nio.file.Files.write(p,
      json.replace("\"properties\"", "\"propertiesX\"").getBytes("UTF-8"))
    intercept[IllegalStateException] { t.currentSnapshot("c") }
  }

  test("IcebergLite: json escaping round-trips hostile property values") {
    import spark.implicits._
    val t = new IcebergLite(tmp())
    val hostile = "a\"b\\c\nd\tef"
    t.commit(Seq(1L).toDF("id"), "esc", Map("k" -> hostile))
    assert(t.currentSnapshot("esc").get.properties("k") == hostile)
  }

  test("IcebergLite bucketed: commit/append round-trip, catalog scan partitioning, " +
      "fresh-session DDL re-registration") {
    import spark.implicits._
    val root = tmp()
    val t = new IcebergLite(root)
    val rows0 = (0L until 200L).map(i => (i, s"v$i"))
    t.commit(rows0.toDF("id", "v"), "bk", Map("note" -> "b0"),
      bucketBy = Some(("id", 4)))
    val s1 = t.append((200L until 260L).map(i => (i, s"v$i")).toDF("id", "v"), "bk")
    assert(s1.properties("bucketCol") == "id" && s1.properties("appendedRows") == "60")
    // catalog scan == manifest read, and it reports the bucket partitioning
    val catDf = t.readBucketed(spark, "bk")
    assert(catDf.as[(Long, String)].collect().toSet ==
      (rows0 ++ (200L until 260L).map(i => (i, s"v$i"))).toSet)
    // append into ONE shared dir: ≤ buckets new files per batch
    assert(s1.files.size - t.snapshots("bk").head.files.size <= 4)
    // the join on the bucket key must not shuffle the bucketed side
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = (0L until 10L).map(i => (i * 20, i)).toDF("id", "tag")
      val plan = t.readBucketed(spark, "bk").join(probe, "id")
        .queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"bucketed scan expected:\n$plan")
      assert("Exchange".r.findAllIn(plan).size == 1,
        s"only the probe side may shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    // fresh session simulation: drop the catalog entry; readBucketed must
    // re-register from the manifest via DDL and still produce a bucketed scan
    spark.sql(s"DROP TABLE IF EXISTS `${t.catalogName("bk")}`")
    val again = t.readBucketed(spark, "bk")
    assert(again.count() == 260)
    assert(spark.catalog.tableExists(t.catalogName("bk")))
    spark.sql(s"DROP TABLE IF EXISTS `${t.catalogName("bk")}`")
  }

  test("IcebergLite bucketed: orphan files from a crashed append are invisible, " +
      "then cleaned by the next append") {
    import spark.implicits._
    val root = tmp()
    val t = new IcebergLite(root)
    t.commit((0L until 50L).toDF("id"), "bko", bucketBy = Some(("id", 2)))
    val snap = t.currentSnapshot("bko").get
    val dirRel = snap.properties("bucketDir")
    // simulate a crash between data write and manifest commit: copy a real
    // bucket file under an unlisted name
    val dir = java.nio.file.Paths.get(root, "bko", dirRel)
    val real = snap.files.head.split("/").last
    java.nio.file.Files.copy(dir.resolve(real),
      dir.resolve(real.replace("part-", "part-orphan-")))
    // dir ≠ manifest → readBucketed falls back to the manifest read: rows exact
    assert(t.readBucketed(spark, "bko").count() == 50)
    // the next append cleans the orphan and restores the catalog fast path
    t.append((50L until 60L).toDF("id"), "bko")
    val snap2 = t.currentSnapshot("bko").get
    val onDisk = java.nio.file.Files.list(dir).iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]()
    while (onDisk.hasNext) names += onDisk.next().getFileName.toString
    assert(!names.exists(_.contains("orphan")))
    assert(t.readBucketed(spark, "bko").count() == 60)
    assert(snap2.rowCount == 60)
    spark.sql(s"DROP TABLE IF EXISTS `${t.catalogName("bko")}`")
  }

  test("IcebergLite bucketed: compact folds append files into one per bucket; " +
      "expire drops the superseded bucket dir") {
    import spark.implicits._
    val root = tmp()
    val t = new IcebergLite(root)
    t.commit((0L until 100L).toDF("id"), "bkc", Map("batchId" -> "0"),
      bucketBy = Some(("id", 4)))
    (1 to 3).foreach(i => t.append((100L * i until 100L * i + 20L).toDF("id"),
      "bkc", Map("batchId" -> i.toString)))
    val before = t.currentSnapshot("bkc").get
    assert(before.files.size > 4)
    val c = t.compact(spark, "bkc")
    assert(c.files.size <= 4, s"expected ≤ 4 bucket files, got ${c.files.size}")
    // logical state survives: rows, batchId guard, bucket spec
    assert(c.properties("batchId") == "3" && c.properties("bucketCol") == "id")
    assert(t.readBucketed(spark, "bkc").count() == 160)
    // time travel to the pre-compaction snapshot still works until expiry
    assert(t.read(spark, "bkc", before.snapshotId).count() == 160)
    val (expired, _) = t.expireSnapshots("bkc", keepLast = 1)
    assert(expired > 0)
    // superseded bucket dir swept, current one intact
    val dataRoot = java.nio.file.Paths.get(root, "bkc", "data")
    val dirs = java.nio.file.Files.list(dataRoot).iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]()
    while (dirs.hasNext) names += dirs.next().getFileName.toString
    assert(names.toSet == Set(c.properties("bucketDir").split("/").last))
    assert(t.readBucketed(spark, "bkc").count() == 160)
    spark.sql(s"DROP TABLE IF EXISTS `${t.catalogName("bkc")}`")
  }

  test("resume: killed-after-k PageRank equals uninterrupted run byte-for-byte") {
    import spark.implicits._
    val rng = new java.util.Random(31)
    val edges = (0 until 400).map(_ => (rng.nextInt(80).toLong, rng.nextInt(80).toLong))
      .filter { case (a, b) => a != b }.distinct
    val eds = spark.createDataset(edges.map(e => Edge(e._1, e._2)))
    val verts = spark.range(80).toDF("id")

    // uninterrupted: 8 supersteps in one go
    val rootA = tmp()
    val full = PageRank.runResumable(verts, eds,
      new Supersteps(rootA, "pagerank", spark), maxIter = 8)

    // interrupted: run to 3, then a NEW Supersteps instance (fresh "JVM")
    val rootB = tmp()
    PageRank.runResumable(verts, eds,
      new Supersteps(rootB, "pagerank", spark), maxIter = 3)
    val logB2 = new Supersteps(rootB, "pagerank", spark)
    assert(logB2.lastCompleted.contains(3))
    val resumed = PageRank.runResumable(verts, eds, logB2, maxIter = 8)

    val a = full.ranks.as[(Long, Double)].collect().sortBy(_._1)
    val b = resumed.ranks.as[(Long, Double)].collect().sortBy(_._1)
    assert(a.length == b.length)
    for (((ia, ra), (ib, rb)) <- a.zip(b)) {
      assert(ia == ib)
      assert(java.lang.Double.doubleToLongBits(ra) ==
             java.lang.Double.doubleToLongBits(rb), s"vertex $ia: $ra vs $rb")
    }
    // lineage carries every superstep with metrics
    val lin = logB2.lineage
    assert(lin.map(_("superstep").toInt) == (0 to 8))
    assert(lin.tail.forall(_("edgesProcessed").toLong == edges.size.toLong))
  }

  test("resume: killed-after-k HITS equals uninterrupted run byte-for-byte") {
    import spark.implicits._
    import graft.algo.Hits
    val rng = new java.util.Random(37)
    val edges = (0 until 400).map(_ => (rng.nextInt(80).toLong, rng.nextInt(80).toLong))
      .filter { case (a, b) => a != b }.distinct
    val eds = spark.createDataset(edges.map(e => Edge(e._1, e._2)))
    val verts = spark.range(80).toDF("id")

    val rootA = tmp()
    val full = Hits.runResumable(verts, eds,
      new Supersteps(rootA, "hits", spark), maxIter = 6)

    val rootB = tmp()
    Hits.runResumable(verts, eds,
      new Supersteps(rootB, "hits", spark), maxIter = 2)
    val logB2 = new Supersteps(rootB, "hits", spark)
    assert(logB2.lastCompleted.contains(2))
    val resumed = Hits.runResumable(verts, eds, logB2, maxIter = 6)

    val a = full.scores.as[(Long, Double, Double)].collect().sortBy(_._1)
    val b = resumed.scores.as[(Long, Double, Double)].collect().sortBy(_._1)
    assert(a.length == b.length)
    for (((ia, ha, aa), (ib, hb, ab)) <- a.zip(b)) {
      assert(ia == ib)
      assert(java.lang.Double.doubleToLongBits(ha) ==
             java.lang.Double.doubleToLongBits(hb), s"hub $ia: $ha vs $hb")
      assert(java.lang.Double.doubleToLongBits(aa) ==
             java.lang.Double.doubleToLongBits(ab), s"auth $ia: $aa vs $ab")
    }
    // and the committed path agrees with the in-memory loop to 1e-12
    val mem = Hits.run(verts, eds, maxIter = 6).scores
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    for (((ia, ha, aa), (im, hm, am)) <- a.zip(mem)) {
      assert(ia == im)
      assert(math.abs(ha - hm) < 1e-12 && math.abs(aa - am) < 1e-12)
    }
    assert(logB2.lineage.map(_("superstep").toInt) == (0 to 6))
  }

  test("resume: CC and LPA interrupted runs equal uninterrupted runs exactly") {
    import spark.implicits._
    import graft.algo.{ConnectedComponents, LabelPropagation}
    val rng = new java.util.Random(77)
    val edges = (0 until 150).map(_ => (rng.nextInt(60).toLong, rng.nextInt(60).toLong))
      .filter { case (a, b) => a != b }.distinct
    val eds = spark.createDataset(edges.map(e => graft.graph.Edge(e._1, e._2)))
    val verts = spark.range(60).toDF("id")

    // CC: full vs interrupted-at-1-round
    val ccFull = ConnectedComponents.runResumable(verts, eds,
      new Supersteps(tmp(), "cc", spark))
    val ccRoot = tmp()
    ConnectedComponents.runResumable(verts, eds,
      new Supersteps(ccRoot, "cc", spark), maxRounds = 1)
    val ccResumed = ConnectedComponents.runResumable(verts, eds,
      new Supersteps(ccRoot, "cc", spark))
    assert(ccFull.components.as[(Long, Long)].collect().sorted.toSeq ==
      ccResumed.components.as[(Long, Long)].collect().sorted.toSeq)
    // sanity vs plain run + oracle
    assert(ccResumed.components.as[(Long, Long)].collect().sorted.toSeq ==
      ConnectedComponents.run(verts, eds).components
        .as[(Long, Long)].collect().sorted.toSeq)

    // LPA: full vs interrupted-at-2
    val lpaFull = LabelPropagation.runResumable(verts, eds,
      new Supersteps(tmp(), "lpa", spark), maxIter = 6)
    val lpaRoot = tmp()
    LabelPropagation.runResumable(verts, eds,
      new Supersteps(lpaRoot, "lpa", spark), maxIter = 2)
    val lpaResumed = LabelPropagation.runResumable(verts, eds,
      new Supersteps(lpaRoot, "lpa", spark), maxIter = 6)
    assert(lpaFull.labels.as[(Long, Long)].collect().sorted.toSeq ==
      lpaResumed.labels.as[(Long, Long)].collect().sorted.toSeq)
    assert(lpaResumed.labels.as[(Long, Long)].collect().sorted.toSeq ==
      LabelPropagation.run(verts, eds, maxIter = 6).labels
        .as[(Long, Long)].collect().sorted.toSeq)
  }

  test("resumable PageRank equals run(tol = 0) to 1e-12 (incl. dangling)") {
    import spark.implicits._
    val rng = new java.util.Random(41)
    // sources 0..79 only: vertices 80..89 are dangling
    val edges = (0 until 400).map(_ => (rng.nextInt(80).toLong, rng.nextInt(90).toLong))
      .filter { case (a, b) => a != b }.distinct
    val eds = spark.createDataset(edges.map(e => Edge(e._1, e._2)))
    val verts = spark.range(90).toDF("id")
    val committed = PageRank.runResumable(verts, eds,
      new Supersteps(tmp(), "pagerank", spark), maxIter = 8)
    val mem = PageRank.run(verts, eds, tol = 0.0, maxIter = 8)
    assert(committed.iterations == 8 && mem.iterations == 8)
    val a = committed.ranks.as[(Long, Double)].collect().sortBy(_._1)
    val b = mem.ranks.as[(Long, Double)].collect().sortBy(_._1)
    assert(a.length == 90 && b.length == 90)
    for (((ia, ra), (ib, rb)) <- a.zip(b)) {
      assert(ia == ib)
      assert(math.abs(ra - rb) < 1e-12, s"vertex $ia: $ra vs $rb")
    }
  }

  test("resume: re-running a converged CC or LPA log runs 0 supersteps, same labels") {
    import spark.implicits._
    import graft.algo.{ConnectedComponents, LabelPropagation}
    // cliques plus isolated vertices: synchronous LPA reaches a fixpoint
    // (a star would oscillate between its center's and its leaves' labels)
    val cliques = Seq(Seq(0, 1, 2), Seq(3, 4, 5, 6), Seq(7, 8, 9))
      .flatMap(c => for (a <- c; b <- c if a < b) yield (a.toLong, b.toLong))
    val eds = spark.createDataset(cliques.map(e => Edge(e._1, e._2)))
    val verts = spark.range(12).toDF("id")

    val ccRoot = tmp()
    val cc = ConnectedComponents.runResumable(verts, eds, new Supersteps(ccRoot, "cc", spark))
    assert(cc.metrics.last.delta == 0.0, "first run must converge")
    val ccAgain = ConnectedComponents.runResumable(verts, eds, new Supersteps(ccRoot, "cc", spark))
    assert(ccAgain.metrics.isEmpty && ccAgain.rounds == cc.rounds)
    assert(ccAgain.components.as[(Long, Long)].collect().sorted.toSeq ==
      cc.components.as[(Long, Long)].collect().sorted.toSeq)

    val lpaRoot = tmp()
    val lpa = LabelPropagation.runResumable(verts, eds,
      new Supersteps(lpaRoot, "lpa", spark), maxIter = 20)
    assert(lpa.iterations < 20 && lpa.metrics.last.rowsOut == 0L, "first run must converge")
    val lpaAgain = LabelPropagation.runResumable(verts, eds,
      new Supersteps(lpaRoot, "lpa", spark), maxIter = 20)
    assert(lpaAgain.metrics.isEmpty && lpaAgain.iterations == lpa.iterations)
    assert(lpaAgain.labels.as[(Long, Long)].collect().sorted.toSeq ==
      lpa.labels.as[(Long, Long)].collect().sorted.toSeq)
  }

  test("resume: BFS interrupted at depth 2 equals uninterrupted distances exactly") {
    import spark.implicits._
    import graft.algo.Bfs
    val rng = new java.util.Random(13)
    val edges = (0 until 200).map(_ => (rng.nextInt(70).toLong, rng.nextInt(70).toLong))
      .filter { case (a, b) => a != b }.distinct
    val eds = spark.createDataset(edges.map(e => Edge(e._1, e._2)))

    val full = Bfs.distancesResumable(eds, start = 0L,
      new Supersteps(tmp(), "bfs", spark))
      .as[(Long, Long, Int)].collect().sorted.toSeq

    val root = tmp()
    Bfs.distancesResumable(eds, start = 0L,
      new Supersteps(root, "bfs", spark), maxDepth = 2)
    val log2 = new Supersteps(root, "bfs", spark)
    assert(log2.lastCompleted.contains(2))
    val resumed = Bfs.distancesResumable(eds, start = 0L, log2)
      .as[(Long, Long, Int)].collect().sorted.toSeq
    assert(full == resumed)

    // and both equal the non-resumable superstep loop
    val plain = Bfs.distances(eds, start = 0L)
      .as[(Long, Long, Int)].collect().sorted.toSeq
    assert(full == plain)
    // lineage carries every depth
    assert(log2.lineage.map(_("superstep").toInt).max >= 2)

    // FRONTIER-DELTA commits: superstep k appends exactly the depth-k
    // frontier (committed bytes ∝ frontier, not visited), file manifests
    // chain as fast appends (parent files never rewritten), and the lineage
    // reports the true per-depth rowsOut from the manifest
    val byDepth = resumed.groupBy(_._3).map { case (d, rows) => d -> rows.size.toLong }
    val cat = new IcebergLite(root)
    val snaps = cat.snapshots("bfs_state")
    assert(snaps.size >= 3)
    snaps.sliding(2).foreach { case Seq(p, c) =>
      assert(p.files.toSet.subsetOf(c.files.toSet),
        s"snapshot ${c.snapshotId} rewrote parent files")
    }
    snaps.foreach { s =>
      val k = s.properties("superstep").toInt
      val appended = s.properties("appendedRows").toLong
      assert(appended == byDepth.getOrElse(k, 0L),
        s"superstep $k committed $appended rows, frontier is ${byDepth.getOrElse(k, 0L)}")
    }
    assert(log2.lineage.forall(m => m("rowsOut") == m("appendedRows")))
    // the committed delta alone IS the frontier
    assert(log2.readDelta(1).as[(Long, Long, Int)].collect().forall(_._3 == 1))
  }

  test("warm-start PageRank over an ingest-grown graph reconverges faster, same fixpoint") {
    import spark.implicits._
    val rng = new java.util.Random(123)
    def randEdges(n: Int, verts: Int) =
      (0 until n).map(_ => (rng.nextInt(verts).toLong, rng.nextInt(verts).toLong))
        .filter { case (a, b) => a != b }.distinct
    val base = randEdges(3000, 500)
    val baseEds = spark.createDataset(base.map(e => Edge(e._1, e._2)))
    val baseVerts = spark.range(500).toDF("id")

    // converge on the base graph, commit the ranks (the last superstep a
    // long-running job would have committed before the ingest append)
    val tol = 1e-9
    val cold0 = PageRank.run(baseVerts, baseEds, tol = tol)
    val log = new Supersteps(tmp(), "pagerank", spark)
    log.commit(cold0.iterations, cold0.ranks,
      SuperstepMetric("pagerank", cold0.iterations, 500, base.size, 0, -1))

    // the graph grows: 40 new vertices, ~300 new edges (an ingest append)
    val grown = (base ++ randEdges(300, 540)).distinct
    val grownEds = spark.createDataset(grown.map(e => Edge(e._1, e._2)))
    val grownVerts = spark.range(540).toDF("id")

    val cold = PageRank.run(grownVerts, grownEds, tol = tol)
    val warm = PageRank.warmStart(grownVerts, grownEds, log.readState(), tol = tol)
    assert(warm.iterations < cold.iterations,
      s"warm ${warm.iterations} !< cold ${cold.iterations} supersteps")
    // same fixpoint: both ran to per-vertex delta ≤ 1e-9
    val c = cold.ranks.as[(Long, Double)].collect().sortBy(_._1)
    val w = warm.ranks.as[(Long, Double)].collect().sortBy(_._1)
    assert(c.length == w.length && c.length == 540)
    val maxDiff = c.zip(w).map { case ((_, a), (_, b)) => math.abs(a - b) }.max
    assert(maxDiff <= 1e-6, s"fixpoints diverged: $maxDiff")
    // ranks are a probability distribution again after reseeding
    assert(math.abs(w.map(_._2).sum - 1.0) < 1e-9)
  }

  test("remapRanks carries ranks across a re-converted (renumbered) id space") {
    import spark.implicits._
    import graft.algo.PageRank
    val n = 300
    val rng = new java.util.Random(7)
    val oldEdges = (0 until 1500).map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      .filter { case (a, b) => a != b }.distinct
    val oldPages = (0 until n).map(i => (i.toLong, f"u$i%04d")).toDF("id", "url")
    val eds = spark.createDataset(oldEdges.map(e => Edge(e._1, e._2)))
    val oldRanks = PageRank.run(spark.range(n).toDF("id"), eds, tol = 1e-9).ranks
    // a re-convert over a grown url set renumbers EVERY dense id (sorted-url
    // rank); simulate the renumbering deterministically
    val idMap = (0 until n).map(i => i.toLong -> (i + i / 10 + 1).toLong).toMap
    val newPages = (0 until n).map(i => (idMap(i.toLong), f"u$i%04d")).toDF("id", "url")
    val newEdges = spark.createDataset(oldEdges.map { case (a, b) => Edge(idMap(a), idMap(b)) })
    val newVerts = newPages.select($"id")
    // raw-id seeding would attach old ranks to the wrong vertices; the
    // url-joined remap attaches them exactly, so the seed IS the fixpoint
    // of the (structurally identical) renumbered graph: 1 superstep out
    val warm = PageRank.warmStart(newVerts, newEdges.as[Edge],
      PageRank.remapRanks(oldRanks, oldPages, newPages), tol = 1e-9)
    assert(warm.iterations <= 2, s"remapped seed should be at the fixpoint, took ${warm.iterations}")
    val cold = PageRank.run(newVerts, newEdges.as[Edge], tol = 1e-9)
    val c = cold.ranks.as[(Long, Double)].collect().sortBy(_._1)
    val w = warm.ranks.as[(Long, Double)].collect().sortBy(_._1)
    assert(c.length == n && w.length == n)
    assert(c.zip(w).forall { case ((_, a), (_, b)) => math.abs(a - b) <= 1e-6 })
  }

  test("Supersteps: readState time-travels to a specific superstep") {
    import spark.implicits._
    val log = new Supersteps(tmp(), "demo", spark)
    log.commit(0, Seq((1L, 0.5)).toDF("id", "rank"),
      SuperstepMetric("demo", 0, 1, 0, 0, -1))
    log.commit(1, Seq((1L, 0.7)).toDF("id", "rank"),
      SuperstepMetric("demo", 1, 1, 0, 0, -1))
    assert(log.readState(0).as[(Long, Double)].head() == ((1L, 0.5)))
    assert(log.readState(1).as[(Long, Double)].head() == ((1L, 0.7)))
  }

  test("Supersteps: expire keeps resume working from the latest superstep") {
    import spark.implicits._
    val root = tmp()
    val log = new Supersteps(root, "demo", spark)
    (0 to 4).foreach(i => log.commit(i, Seq((1L, i * 0.1)).toDF("id", "rank"),
      SuperstepMetric("demo", i, 1, 0, 0, -1)))
    val (expired, deleted) = log.expire(keepLast = 2)
    assert(expired == 3 && deleted > 0)
    // the restart point and the kept lineage window survive
    val reopened = new Supersteps(root, "demo", spark)
    assert(reopened.lastCompleted.contains(4))
    assert(reopened.readState().as[(Long, Double)].head() == ((1L, 0.4)))
    assert(reopened.lineage.map(_("superstep").toInt) == Seq(3, 4))
  }
}
