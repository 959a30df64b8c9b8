package graft.graph

import java.nio.file.Files

import graft.SparkTestBase
import graft.ingest.SynthCorpus
import graft.query.Routes

class GraphTablesSpec extends SparkTestBase {

  test("build commits all tables; open round-trips; rebuild with same buildId is a no-op") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-wh").toString
    val g = GraphBuilder.build(
      SynthCorpus.toDF(spark, SynthCorpus.allFixtures).toDF(), smallIds = true)
    val snaps = GraphTables.build(g, wh, buildId = "b1")
    assert(snaps.keySet == GraphTables.Tables.toSet)

    val reopened = GraphTables.open(spark, wh)
    assert(reopened.pages.collect().map(p => (p.id, p.url, p.isRedirect)).sorted.toSeq ==
      g.pages.collect().map(p => (p.id, p.url, p.isRedirect)).sorted.toSeq)
    assert(reopened.edges.collect().map(e => (e.src, e.dst)).sorted.toSeq ==
      g.edges.collect().map(e => (e.src, e.dst)).sorted.toSeq)
    assert(reopened.statsAfter == g.statsAfter)

    // adjacency tables match direct packs
    val cat = new graft.tables.IcebergLite(wh)
    val adjOut = cat.read(spark, "adjacency_out").as[Adjacency]
      .collect().map(a => a.src -> a.dsts.toSeq).toMap
    val direct = EdgeTable.packAdjacency(g.edges)
      .collect().map(a => a.src -> a.dsts.toSeq).toMap
    assert(adjOut == direct)

    // idempotent resume: same buildId ⇒ nothing recommitted
    val again = GraphTables.build(g, wh, buildId = "b1")
    assert(again.isEmpty)
    // new buildId ⇒ new snapshots, old still readable (time travel)
    val b2 = GraphTables.build(g, wh, buildId = "b2")
    assert(b2.nonEmpty)
    assert(cat.snapshots("edges_by_src").size == 2)

    // queries run against the reopened graph
    val routes = new Routes(reopened)
    assert(routes.findRoute(SynthCorpus.urlOf("A"), SynthCorpus.urlOf("C")).size == 3)
  }

  test("a failed table commit fails build after the others commit; a re-run commits only it") {
    val wh = Files.createTempDirectory("graft-wh-fail")
    val g = GraphBuilder.build(
      SynthCorpus.toDF(spark, SynthCorpus.allFixtures).toDF(), smallIds = true)
    // a regular file where adjacency_in's data directory must go
    val blocker = wh.resolve("adjacency_in").resolve("data")
    Files.createDirectories(blocker.getParent)
    Files.write(blocker, Array[Byte](1))
    intercept[java.nio.file.FileAlreadyExistsException] {
      GraphTables.build(g, wh.toString, buildId = "b1")
    }
    val cat = new graft.tables.IcebergLite(wh.toString)
    val others = GraphTables.Tables.filterNot(_ == "adjacency_in")
    others.foreach(t => assert(cat.currentSnapshot(t).nonEmpty, t))
    assert(cat.currentSnapshot("adjacency_in").isEmpty)

    Files.delete(blocker)
    val rerun = GraphTables.build(g, wh.toString, buildId = "b1")
    assert(rerun.keySet == Set("adjacency_in"))
    others.foreach(t => assert(cat.snapshots(t).size == 1, t))
    assert(GraphTables.open(spark, wh.toString).edges.count() == g.edges.count())
  }

  test("every commit job carries the caller's Spark local properties") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val g = GraphBuilder.build(
      SynthCorpus.toDF(spark, SynthCorpus.chain3).toDF(), smallIds = true)
    val sc = spark.sparkContext
    val (key, building, start, end) = ("graft.test.caller", "build", "start", "end")
    val tags = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        tags.add(Option(e.properties).flatMap(p => Option(p.getProperty(key))).getOrElse("-"))
    }
    sc.addSparkListener(listener)
    // job events arrive asynchronously but in order: look only at the jobs
    // between a start and an end marker job
    def marker(tag: String): Unit = {
      sc.setLocalProperty(key, tag)
      spark.range(1).collect()
    }
    try {
      marker(start)
      sc.setLocalProperty(key, building)
      GraphTables.build(g, Files.createTempDirectory("graft-wh-props").toString, buildId = "p1")
      marker(end)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!tags.contains(end) && System.nanoTime() < deadline) Thread.sleep(20)
      val seen = tags.toArray.map(_.toString).toSeq
        .dropWhile(_ != start).drop(1).takeWhile(_ != end)
      assert(tags.contains(end))
      assert(seen.nonEmpty && seen.forall(_ == building), seen)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}
