package graft.graph

import graft.SparkTestBase
import graft.ingest.SynthCorpus

/** Fixture-driven graph-build semantics (FIXTURES.md §3). */
class GraphBuilderSpec extends SparkTestBase {

  private def buildOf(pages: Seq[graft.ingest.RawPage]): LinkGraph =
    GraphBuilder.build(SynthCorpus.toDF(spark, pages).toDF(), smallIds = true)

  private def urlEdges(g: LinkGraph): Set[(String, String)] = {
    import spark.implicits._
    val byId = g.pages.collect().map(p => p.id -> p.url).toMap
    g.edges.collect().map(e => (byId(e.src), byId(e.dst))).toSet
  }

  private def slugEdges(g: LinkGraph): Set[(String, String)] =
    urlEdges(g).map { case (a, b) =>
      (a.stripPrefix("https://synth.example/wiki/"),
       b.stripPrefix("https://synth.example/wiki/"))
    }

  test("chain3: A→B→C, dense sorted ids") {
    val g = buildOf(SynthCorpus.chain3)
    val pages = g.pages.collect().sortBy(_.id)
    assert(pages.map(_.id).toSeq == Seq(0L, 1L, 2L))
    assert(pages.map(_.url).toSeq == pages.map(_.url).sorted.toSeq)
    assert(slugEdges(g) == Set(("A", "B"), ("B", "C")))
  }

  test("via-redirect: redirect node survives with exactly one out-edge") {
    val g = buildOf(SynthCorpus.viaRedirect)
    val byUrl = g.pages.collect().map(p => p.url -> p).toMap
    assert(byUrl(SynthCorpus.urlOf("Polsko")).isRedirect)
    assert(slugEdges(g) == Set(("Polska", "Polsko"), ("Polsko", "Baltycke-Morze")))
  }

  test("redirect cycles and chains into cycles are dropped (order-independent semantics)") {
    val g = buildOf(SynthCorpus.redirectCycle)
    val urls = g.pages.collect().map(_.url).toSet
    assert(urls == Set(SynthCorpus.urlOf("Article")))
    assert(g.edges.count() == 0) // Article→r2 dangles after r2 dropped
    assert(g.statsAfter.redirectCount == 0)
  }

  test("redirect chain to an article keeps every chain member") {
    // rA→rB→Real : both redirects end somewhere ⇒ survive
    val pages = Seq(
      SynthCorpus.page("rA", Nil, redirectTo = Some("rB")),
      SynthCorpus.page("rB", Nil, redirectTo = Some("Real")),
      SynthCorpus.page("Real", Nil))
    val g = buildOf(pages)
    assert(g.pages.count() == 3)
    assert(slugEdges(g) == Set(("rA", "rB"), ("rB", "Real")))
  }

  test("dangling links dropped and counted (WikiProcessor.kt:245-251)") {
    val g = buildOf(SynthCorpus.dangling)
    assert(slugEdges(g) == Set(("Home", "Exists")))
    assert(g.statsAfter.nullLinkCount == 3) // Never-1, Never-2, Never-3
  }

  test("duplicate links deduped (WikiLinksTest.kt:127-136)") {
    val g = buildOf(SynthCorpus.dupLinks)
    assert(slugEdges(g) == Set(("Dup", "Target"), ("Dup", "Other")))
  }

  test("stats before/after (A1 analog, WikiProcessor.kt:174-222)") {
    val g = buildOf(SynthCorpus.dangling)
    assert(g.statsBefore.articleCount == 2)
    assert(g.statsBefore.linkCount == 4) // Home:3 + Exists:1 raw links
    assert(g.statsAfter.articleCount == 2)
    assert(g.statsAfter.linkCount == 1)
  }

  test("dictionary: scale path equals row_number path; ids are sorted-url ranks") {
    import org.apache.spark.sql.functions.col
    val raw = SynthCorpus.toDF(spark, SynthCorpus.generateLocal(300, avgDeg = 4)).toDF()
    val urls = raw.select(col("url")).distinct()
    val big = Dictionary.assignIds(urls, "url")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val small = Dictionary.assignIdsSmall(urls, "url")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(big == small)
    val sortedUrls = big.keys.toSeq.sorted
    sortedUrls.zipWithIndex.foreach { case (u, i) => assert(big(u) == i.toLong) }
  }

  test("pipeline equivalence: identical graph at different parallelism (§5.4 analog)") {
    val corpus = SynthCorpus.generateLocal(200, avgDeg = 5)
    val df1 = SynthCorpus.toDF(spark, corpus).toDF().repartition(1)
    val df8 = SynthCorpus.toDF(spark, corpus).toDF().repartition(8)
    val g1 = GraphBuilder.build(df1)
    val g8 = GraphBuilder.build(df8)
    assert(urlEdges(g1) == urlEdges(g8))
    assert(g1.pages.collect().map(p => (p.id, p.url, p.isRedirect)).sortBy(_._1).toSeq ==
           g8.pages.collect().map(p => (p.id, p.url, p.isRedirect)).sortBy(_._1).toSeq)
  }

  test("CSR pack: salted equals unsalted on the hub fixture") {
    val g = buildOf(SynthCorpus.hubSkew(32))
    val plain = g.adjacencyOut.collect().map(a => a.src -> a.dsts.toSeq).toMap
    val salted = EdgeTable.packAdjacencySalted(g.edges, saltBuckets = 4)
      .collect().map(a => a.src -> a.dsts.toSeq).toMap
    assert(plain == salted)
    // adjacency arrays are sorted distinct
    plain.values.foreach(d => assert(d == d.distinct.sorted))
  }

  test("empty input: zero stats on both sides; tables commit and reopen empty") {
    val g = buildOf(Nil)
    assert(g.statsBefore == GraphStats(0, 0, 0, 0))
    assert(g.statsAfter == GraphStats(0, 0, 0, 0))
    assert(g.pages.count() == 0 && g.edges.count() == 0)
    val wh = java.nio.file.Files.createTempDirectory("graft-wh-empty").toString
    assert(GraphTables.build(g, wh, buildId = "e1").keySet == GraphTables.Tables.toSet)
    val reopened = GraphTables.open(spark, wh)
    assert(reopened.pages.count() == 0 && reopened.edges.count() == 0)
    assert(reopened.reversed.count() == 0)
    assert(reopened.statsBefore == g.statsBefore && reopened.statsAfter == g.statsAfter)
  }

  test("stats stay exact when no edge survives: the dangling link is still counted") {
    // Article→r2 dangles once the r1/r3 cycle and r2 are dropped
    val g = buildOf(SynthCorpus.redirectCycle)
    assert(g.statsBefore == GraphStats(1, 3, 4, 0))
    assert(g.statsAfter == GraphStats(1, 0, 0, 1))
  }

  test("action count: build on a redirect chain runs 7 SQL executions") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    // rA→rB→rC→Real, the cycle c1⇄c2 and a dangling link: four redirect steps
    val pages = Seq(
      SynthCorpus.page("rA", Nil, redirectTo = Some("rB")),
      SynthCorpus.page("rB", Nil, redirectTo = Some("rC")),
      SynthCorpus.page("rC", Nil, redirectTo = Some("Real")),
      SynthCorpus.page("Real", Seq("rA", "Gone")),
      SynthCorpus.page("c1", Nil, redirectTo = Some("c2")),
      SynthCorpus.page("c2", Nil, redirectTo = Some("c1")))
    val raw = SynthCorpus.toDF(spark, pages).toDF()
    // listener events arrive asynchronously but in order: count the
    // executions strictly between a start and an end marker query
    val Marker = "__graft_action_count_marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(if (qe.analyzed.output.exists(_.name == Marker)) Marker else funcName)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        seen.add(funcName)
    }
    def marker(): Unit = spark.range(1).toDF(Marker).collect()
    spark.listenerManager.register(listener)
    try {
      marker()
      val g = GraphBuilder.build(raw, smallIds = true)
      marker()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (seen.toArray.count(_ == Marker) < 2 && System.nanoTime() < deadline)
        Thread.sleep(20)
      val events = seen.toArray.map(_.toString).toSeq
      val between = events.dropWhile(_ != Marker).drop(1).takeWhile(_ != Marker)
      assert(events.count(_ == Marker) == 2, events)
      assert(slugEdges(g) == Set(("Real", "rA"), ("rA", "rB"), ("rB", "rC"), ("rC", "Real")))
      assert(g.statsAfter == GraphStats(1, 3, 4, 1))
      assert(between.size == 7, between)
    } finally spark.listenerManager.unregister(listener)
  }
}
