package perfbench

import org.apache.spark.sql.functions._

import graft.graph.{Dictionary, GraphBuilder, GraphTables}
import graft.ingest.ExtractFunctions._
import graft.ingest.SynthCorpus
import graft.query.{MissingBoth, MissingEnd, MissingStart, RouteError, Routes}

/** The paper's pipeline, write path then read path, one pass per loop
  * iteration:
  *  - `convert`: `pages_raw` parquet → [[GraphBuilder.build]] →
  *    [[GraphTables.build]] into a fresh warehouse;
  *  - `open`: [[GraphTables.open]] on that warehouse, a new [[Routes]] and
  *    its first route, which builds the lazy driver caches;
  *  - routes, closed loop, one client: [[Block]] [[Routes.findRoute]]
  *    requests (~5% name a missing url), then [[DistPerPass]]
  *    [[Routes.findRouteDistributed]] requests between pages exactly
  *    [[DistHops]] hops apart, so every distributed request runs the same
  *    number of supersteps.
  * Every output is checked against [[GraphOracle]], built from the same
  * seeded pages. */
object LinksWorkload {
  val Pages = 5000L
  val AvgDegree = 8
  val PrepareReps = 7
  val Block = 1000
  val DistPerPass = 1
  /** The second pass of a JVM still compiles hot code in the background:
    * its convert time spread 0.12-0.24 between runs, the third pass's 0.08. */
  val WarmupPasses = 2
  val DistHops = 4
  val MissingShare = 0.05

  /** A request: endpoints and which of them is expected to be missing. */
  final case class Pair(from: String, to: String, missing: Option[String])

  def run(r: Run): Unit = {
    val spark = r.spark
    r.sizes ++= Seq("pages" -> Pages, "avg_out_degree" -> AvgDegree,
      "routes_per_pass" -> Block, "distributed_routes_per_pass" -> DistPerPass,
      "distributed_hops" -> DistHops,
      "missing_share" -> MissingShare)

    val raw = r.prepare(PrepareReps) {
      val dir = r.dir("pages_raw")
      SynthCorpus.generate(spark, Pages, AvgDegree, r.seed).toDF().write.parquet(dir)
      dir
    }
    val oracle = new GraphOracle(SynthCorpus.generateLocal(Pages, AvgDegree, r.seed))
    val rawBytes = Run.treeBytes(raw)
    val distPairs = distributedPairs(oracle, r.seed)
    r.sizes("distributed_pairs") = distPairs.size
    val pairs = interactivePairs(oracle, r.seed)

    def pass(i: Int): Unit = {
      r.settle()
      val wh = r.dir(s"warehouse-$i")
      val converted = r.op("convert", Pages) {
        val g = r.tracer.span("graph.build")(GraphBuilder.build(spark.read.parquet(raw)))
        val snaps = r.tracer.span("tables.commit")(GraphTables.build(g, wh, s"build-$i"))
        (g, snaps)
      } { case (g, snaps) =>
        r.counts ++= Seq(
          "graph.pages" -> (g.statsAfter.articleCount + g.statsAfter.redirectCount),
          "graph.edges" -> g.statsAfter.linkCount,
          "graph.dangling_links" -> g.statsAfter.nullLinkCount,
          "tables.files" -> snaps.values.map(_.files.size).sum,
          "tables.write_amp" -> Run.treeBytes(wh).toDouble / rawBytes)
        val reopened = GraphTables.open(spark, wh)
        if (g.statsBefore != oracle.statsBefore)
          Some(s"statsBefore ${g.statsBefore} != expected ${oracle.statsBefore}")
        else if (g.statsAfter != oracle.statsAfter)
          Some(s"statsAfter ${g.statsAfter} != expected ${oracle.statsAfter}")
        else if (reopened.pages.count() != oracle.urls.length)
          Some("reopened page count differs")
        else if (reopened.edges.count() != oracle.edgeCount ||
            reopened.reversed.count() != oracle.edgeCount)
          Some("reopened edge count differs")
        else if (reopened.statsAfter != g.statsAfter) Some("reopened stats differ")
        else None
      }
      if (r.inTracedSection) layerPasses(r, raw, oracle)
      r.settle()
      if (converted.isDefined)
        routeBlock(r, oracle, wh, pairs, (0 until DistPerPass).map(k =>
          distPairs((i * DistPerPass + k) % distPairs.size)))
      Run.deleteTree(java.nio.file.Paths.get(wh))
    }
    r.measure(WarmupPasses)(pass)
  }

  private def routeBlock(r: Run, oracle: GraphOracle, wh: String, pairs: Iterator[Pair],
      distPairs: Seq[Pair]): Unit = {
    val warm = oracle.urls.take(2)
    val opened = r.op("open", 1) {
      val g = r.tracer.span("tables.open")(GraphTables.open(r.spark, wh))
      val routes = new Routes(g)
      (routes, r.tracer.span("query.cache_build")(routes.findRoute(warm(0), warm(1))))
    } { case (_, path) => checkRoute(r, oracle, Pair(warm(0), warm(1), None), Right(path)) }
    opened.foreach { case (routes, _) =>
      for (_ <- 0 until Block) {
        val p = pairs.next()
        r.op("route", 1) {
          r.tracer.span("query.route") {
            try Right(routes.findRoute(p.from, p.to)) catch { case e: RouteError => Left(e) }
          }
        }(checkRoute(r, oracle, p, _))
      }
      for (p <- distPairs) r.op("route_dist", 1) {
        r.tracer.span("query.route_dist")(routes.findRouteDistributed(p.from, p.to))
      } { path =>
        checkRoute(r, oracle, p, Right(path)).orElse {
          val interactive = routes.findRoute(p.from, p.to)
          if (interactive.size != path.size)
            Some(s"distributed ${path.size - 1} hops, interactive ${interactive.size - 1}")
          else None
        }
      }
    }
  }

  /** Standalone passes over single layers, traced runs only: extraction over
    * `pages_raw`, and dictionary encoding of the node urls. */
  private def layerPasses(r: Run, raw: String, oracle: GraphOracle): Unit = {
    val spark = r.spark
    import spark.implicits._
    val (pages, redirects, links) = r.tracer.span("ingest.extract") {
      spark.read.parquet(raw)
        .select(normalize_url($"url").as("u"), extract_redirect($"html", $"url").as("r"),
          size(extract_links($"html", $"url")).as("n"))
        .agg(count($"u"), count($"r"), sum(when($"r".isNull, $"n").otherwise(0L)))
        .as[(Long, Long, Long)].head()
    }
    r.counts("ingest.raw_links") = links
    r.check("ingest.extract matches the reference") {
      val b = oracle.statsBefore
      if (pages != b.articleCount + b.redirectCount || redirects != b.redirectCount ||
          links != b.linkCount - b.redirectCount) Some(s"extract counts ($pages, $redirects, $links)")
      else None
    }
    val ids = r.tracer.span("graph.dictionary")(
      Dictionary.assignIds(oracle.urls.toSeq.toDF("url"), "url"))
    r.check("graph.dictionary assigns sorted dense ids") {
      val got = ids.as[(String, Long)].collect().sortBy(_._2)
      if (got.map(_._2).toSeq != oracle.urls.indices.map(_.toLong) ||
          got.map(_._1).toSeq != oracle.urls.toSeq) Some("ids are not the sorted url ranks")
      else None
    }
  }

  /** Seeded request stream over the reference graph's urls; about
    * [[MissingShare]] of the requests name a url that is not a page
    * (start, end or both). */
  def interactivePairs(oracle: GraphOracle, seed: Long): Iterator[Pair] = {
    val rng = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 1)
    def page() = oracle.urls(rng.nextInt(oracle.urls.length))
    Iterator.from(0).map { k =>
      val missingUrl = SynthCorpus.urlOf(s"missing-$k")
      if (rng.nextDouble() < MissingShare) rng.nextInt(3) match {
        case 0 => Pair(missingUrl, page(), Some("start"))
        case 1 => Pair(page(), missingUrl, Some("end"))
        case _ => Pair(missingUrl, SynthCorpus.urlOf(s"missing-$k-end"), Some("both"))
      } else Pair(page(), page(), None)
    }
  }

  /** Seeded pairs exactly [[DistHops]] apart in the reference graph. */
  def distributedPairs(oracle: GraphOracle, seed: Long): IndexedSeq[Pair] = {
    val rng = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 2)
    val n = oracle.urls.length
    Iterator.continually((rng.nextInt(n), rng.nextInt(n))).take(20000)
      .filter { case (a, b) => oracle.distance(a, b).contains(DistHops) }
      .take(16).map { case (a, b) => Pair(oracle.urls(a), oracle.urls(b), None) }.toIndexedSeq
  }

  /** A route is correct when it is a shortest path of the reference graph
    * between the requested pages, empty exactly when there is none, and a
    * missing url raises the error naming it. */
  def checkRoute(r: Run, oracle: GraphOracle, p: Pair,
      got: Either[RouteError, Seq[String]]): Option[String] = (p.missing, got) match {
    case (Some("start"), Left(MissingStart(u))) if u == p.from => None
    case (Some("end"), Left(MissingEnd(u))) if u == p.to => None
    case (Some("both"), Left(MissingBoth(a, b))) if a == p.from && b == p.to => None
    case (Some(kind), other) => Some(s"missing $kind: got $other")
    case (None, Left(e)) => Some(s"unexpected $e")
    case (None, Right(path)) =>
      val (a, b) = (oracle.index(p.from), oracle.index(p.to))
      oracle.distance(a, b) match {
        case None =>
          r.note("noroute", true)
          if (path.isEmpty) None else Some("route returned where none exists")
        case Some(d) =>
          r.note("noroute", false)
          r.note("hops", path.size - 1)
          val ids = path.map(u => oracle.index.getOrElse(u, -1))
          if (path.size != d + 1) Some(s"${path.size - 1} hops, shortest is $d")
          else if (ids.head != a || ids.last != b) Some("route endpoints differ")
          else if (ids.contains(-1) ||
              ids.sliding(2).exists(e => e.size == 2 && !oracle.hasEdge(e(0), e(1))))
            Some("route uses a missing page or edge")
          else None
      }
  }
}
