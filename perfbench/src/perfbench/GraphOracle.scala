package perfbench

import graft.graph.GraphStats
import graft.ingest.{Extract, RawPage}

/** Driver-side reference for the link graph a corpus should convert to,
  * computed from the raw pages with the engine's pure extraction functions
  * and the documented cleanup rules: a redirect survives iff its chain
  * reaches an article within [[graft.graph.GraphBuilder.MaxChain]] hops;
  * links to urls that are not live pages are dangling and dropped; edges
  * are distinct. Nodes are numbered in sorted url order. */
final class GraphOracle(pages: Seq[RawPage]) {

  private val extracted = pages.map { p =>
    (Extract.normalizeUrl(p.url), Extract.extractRedirect(p.html, p.url),
      Extract.extractLinks(p.html, p.url))
  }
  require(extracted.map(_._1).distinct.size == extracted.size, "corpus urls must be unique")

  private val articles: Map[String, Seq[String]] =
    extracted.collect { case (u, None, links) => u -> links }.toMap
  private val redirects: Map[String, String] =
    extracted.collect { case (u, Some(t), _) => u -> t }.toMap

  private val liveRedirects: Map[String, String] = redirects.filter { case (u, _) =>
    var cur = redirects(u)
    var hops = 1
    while (redirects.contains(cur) && hops <= graft.graph.GraphBuilder.MaxChain) {
      cur = redirects(cur); hops += 1
    }
    articles.contains(cur) && hops <= graft.graph.GraphBuilder.MaxChain
  }

  val urls: Array[String] = (articles.keys ++ liveRedirects.keys).toArray.sorted
  val index: Map[String, Int] = urls.zipWithIndex.toMap

  private val rawEdges: Seq[(String, String)] =
    articles.toSeq.flatMap { case (u, ls) => ls.map(u -> _) } ++ liveRedirects.toSeq

  /** Out-adjacency over node indices, sorted and distinct. */
  val out: Array[Array[Int]] = {
    val b = Array.fill(urls.length)(scala.collection.mutable.SortedSet[Int]())
    rawEdges.foreach { case (s, d) => index.get(d).foreach(b(index(s)) += _) }
    b.map(_.toArray)
  }

  val edgeCount: Long = out.map(_.length.toLong).sum

  val statsBefore = GraphStats(articles.size, redirects.size,
    articles.values.map(_.size.toLong).sum + redirects.size, 0L)
  val statsAfter = GraphStats(articles.size, liveRedirects.size, edgeCount,
    rawEdges.count { case (_, d) => !index.contains(d) }.toLong)

  /** Hop distance from `a` to `b`; None if unreachable. */
  def distance(a: Int, b: Int): Option[Int] =
    Some(GraphOracle.hops(out, a, b)(b)).filter(_ >= 0)

  def hasEdge(a: Int, b: Int): Boolean = java.util.Arrays.binarySearch(out(a), b) >= 0
}

object GraphOracle {

  /** Hop distance from `start` to each vertex of the out-adjacency `out`
    * (-1 where unreachable), by breadth-first search; stops as soon as
    * `target` is reached, so only distances up to its level are final. */
  def hops(out: Array[Array[Int]], start: Int, target: Int = -1): Array[Int] = {
    val dist = Array.fill(out.length)(-1)
    dist(start) = 0
    var frontier = Array(start)
    while (frontier.nonEmpty && (target < 0 || dist(target) < 0)) {
      val next = scala.collection.mutable.ArrayBuilder.make[Int]
      for (u <- frontier; v <- out(u) if dist(v) < 0) { dist(v) = dist(u) + 1; next += v }
      frontier = next.result()
    }
    dist
  }
}
