package graft.algo

import graft.SparkTestBase
import graft.graph.Edge

/** Randomized differential test vs an in-driver BFS oracle — path LENGTH
  * equality, not vertex sequence (shortest paths are non-unique); mirrors
  * `RouteFinderTest.kt:41-72` which asserts length vs JGraphT Dijkstra. */
class BfsSpec extends SparkTestBase {

  private def randomDigraph(n: Int, m: Int, seed: Long): Seq[(Long, Long)] = {
    val rng = new java.util.Random(seed)
    (0 until m).map { _ =>
      (rng.nextInt(n).toLong, rng.nextInt(n).toLong)
    }.filter { case (a, b) => a != b }.distinct
  }

  private def oracleDist(edges: Seq[(Long, Long)], start: Long, end: Long): Int = {
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val dist = scala.collection.mutable.Map(start -> 0)
    val q = scala.collection.mutable.Queue(start)
    while (q.nonEmpty) {
      val v = q.dequeue()
      for (w <- adj.getOrElse(v, Nil) if !dist.contains(w)) {
        dist(w) = dist(v) + 1; q.enqueue(w)
      }
    }
    dist.getOrElse(end, -1)
  }

  test("bidirectional BFS path length equals driver-BFS oracle on random digraphs") {
    import spark.implicits._
    val rng = new java.util.Random(0xcafebabe) // seed per Benchmarking.java:15
    for (g <- 0 until 2) {
      val edgeSeq = randomDigraph(n = 80, m = 400, seed = 1000 + g)
      val out = spark.createDataset(edgeSeq.map(e => Edge(e._1, e._2)))
      val in = spark.createDataset(edgeSeq.map(e => Edge(e._2, e._1)))
      for (_ <- 0 until 3) {
        val s = rng.nextInt(80).toLong
        val t = rng.nextInt(80).toLong
        val want = oracleDist(edgeSeq, s, t)
        val got = Bfs.shortestPath(out, in, s, t)
        val gotLen = got.map(_.length - 1).getOrElse(-1)
        assert(gotLen == want, s"route $s->$t: got $gotLen want $want")
        // returned path, when present, must be a real path in the graph
        got.foreach { p =>
          val es = edgeSeq.toSet
          p.sliding(2).foreach {
            case Seq(a, b) => assert(es.contains((a, b)), s"bad hop $a->$b")
            case _ =>
          }
          assert(p.head == s && p.last == t)
        }
      }
    }
  }

  test("unidirectional distances match oracle") {
    import spark.implicits._
    val edgeSeq = randomDigraph(n = 60, m = 240, seed = 7)
    val out = spark.createDataset(edgeSeq.map(e => Edge(e._1, e._2)))
    val got = Bfs.distances(out, start = 0L)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    for (v <- 0L until 60L) {
      val want = oracleDist(edgeSeq, 0L, v)
      assert(got.getOrElse(v, -1) == want, s"dist(0,$v)")
    }
  }

  test("shortestPath on two disjoint 70-vertex paths: None across, oracle length along") {
    import spark.implicits._
    // each side's search walks a whole path, one level per superstep — past
    // the 32-level visited-union collapse
    val n = 70L
    val edgeSeq = Seq(0L, n).flatMap(b => (b until b + n - 1).map(i => (i, i + 1)))
    val out = spark.createDataset(edgeSeq.map(e => Edge(e._1, e._2)))
    val in = spark.createDataset(edgeSeq.map(e => Edge(e._2, e._1)))
    assert(Bfs.shortestPath(out, in, 0L, 2 * n - 1).isEmpty)
    val along = Bfs.shortestPath(out, in, 0L, n - 1)
    assert(along.map(_.length - 1).getOrElse(-1) == oracleDist(edgeSeq, 0L, n - 1))
    assert(along.contains((0L until n).toSeq))
  }

  test("deterministic results across repeated runs (tie-break fixed)") {
    import spark.implicits._
    val edgeSeq = randomDigraph(n = 50, m = 300, seed = 99)
    val out = spark.createDataset(edgeSeq.map(e => Edge(e._1, e._2)))
    val in = spark.createDataset(edgeSeq.map(e => Edge(e._2, e._1)))
    val p1 = Bfs.shortestPath(out, in, 1L, 40L)
    val p2 = Bfs.shortestPath(out, in, 1L, 40L)
    assert(p1 == p2)
  }
}
