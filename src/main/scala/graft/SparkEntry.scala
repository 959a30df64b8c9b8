package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.algo.{Bfs, Condense, ConnectedComponents, Hits, LabelPropagation, Neighborhood, PageRank, RandomWalks, TriangleCount}
import graft.graph.{Edge, EdgeTable, GraphBuilder}
import graft.ingest.SynthCorpus
import graft.pipeline.{Decontaminate, Dedup, Multimodal, Packing, Sampling, Similarity, TextAnalysis}
import graft.query.Routes

/**
 * Driver contract (SURVEY.md §7): every operator from the inventory exposed
 * as a named query over the sf test tables, with an exactly-matching DuckDB
 * oracle where SQL can express it.
 *
 * Graph queries run on a graph derived DETERMINISTICALLY from `lineitem`
 * (`src = l_orderkey mod 997`, `dst = l_partkey mod 997`, sampled by
 * `l_suppkey mod 13 = 0`) so Spark and DuckDB see the identical edge set
 * with zero external data. Numeric portability rules: money/quantity sums in
 * integer cents (associativity-proof), float outputs rounded AFTER
 * double-precision computation, counts cast to BIGINT on both sides.
 */
object SparkEntry {

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** One per-JVM scratch root for the queries that demonstrate committed-
    * index operators (they must build a small warehouse somewhere), removed
    * on JVM exit — repeated bench/verify invocations previously leaked one
    * temp dir per call. */
  private lazy val scratchRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft-entry-scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      try {
        java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(q => { java.nio.file.Files.deleteIfExists(q); () })
      } catch { case _: Throwable => () }
    }))
    p
  }

  private def scratch(prefix: String): String =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix).toString

  /**
   * Per-JVM committed HISTORY for the incremental demo queries (the
   * d_*_incr / d_clusters_warm family): the committed dedup indexes over
   * the corpus's first half plus the previous-state outputs (pairs,
   * cluster labels) as parquet — exactly what a production deployment has
   * on disk when a new batch arrives. Built ONCE per sf dir; invocations
   * then read it and price ONLY the incremental step, through the lazy
   * no-append plan seams, so they never mutate the history and repeated
   * invocations stay deterministic. (The round-5 shape rebuilt this
   * history inside every invocation, so the benched "incremental" walls
   * were dominated by history construction — the one thing the committed
   * indexes exist to amortize.) The MinHash index shares the shingle
   * postings substrate — one committed postings table serves pillars 2
   * and 3.
   */
  private val incrHistories = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def halfOf(s: SparkSession, dir: String): Long = {
    import s.implicits._
    tbl(s, dir, "documents").agg(max($"doc_id")).head().getAs[Number](0).longValue / 2
  }

  private def embHalfOf(s: SparkSession, dir: String): Long = {
    import s.implicits._
    tbl(s, dir, "embeddings").agg(max($"vec_id")).head().getAs[Number](0).longValue / 2
  }

  /** The embedding pillar's committed history: the IVF index built over
    * the first half of the vectors plus its previous near-dup pairs — the
    * ANN twin of [[incrHistory]], same build-once / price-only-the-
    * increment economics. */
  private def annIncrHistory(s: SparkSession, dir: String): String =
    incrHistories.computeIfAbsent(dir + "#ann", _ => {
      import s.implicits._
      val wh = scratch("annhist")
      val oldVecs = tbl(s, dir, "embeddings").filter($"vec_id" <= embHalfOf(s, dir))
      Similarity.buildIvfIndex(oldVecs, "vec_id", "embedding", wh, nlist = 16)
      Similarity.embeddingNearDupIvfIndexed(s, wh, threshold = 0.45)
        .write.parquet(s"$wh/prev_neardup")
      wh
    })

  private def incrHistory(s: SparkSession, dir: String): String =
    incrHistories.computeIfAbsent(dir, _ => {
      import s.implicits._
      val wh = scratch("incrhist")
      val half = halfOf(s, dir)
      val oldDocs = tbl(s, dir, "documents").filter($"doc_id" <= half)
      Dedup.buildShingleIndex(oldDocs, "doc_id", "text", wh, n = 3)
      Dedup.buildFingerprintIndex(oldDocs, "doc_id", "text", wh,
        k = PassagesK, w = PassagesW)
      Dedup.buildMinhashIndex(oldDocs, "doc_id", "text", wh,
        n = 3, k = 8, bands = 4, postingsTable = "shingle_index")
      Dedup.jaccardPairs(oldDocs, "doc_id", "text", n = 3, threshold = 0.5)
        .write.parquet(s"$wh/prev_jaccard")
      Dedup.canonicalize(oldDocs, "doc_id", s.read.parquet(s"$wh/prev_jaccard"))
        .write.parquet(s"$wh/prev_labels")
      Dedup.winnowPairs(oldDocs, "doc_id", "text", k = PassagesK,
          w = PassagesW, minShared = PassagesMinShared.toLong)
        .write.parquet(s"$wh/prev_passages")
      Dedup.minhashLshPairs(oldDocs, "doc_id", "text", n = 3, k = 8,
          bands = 4, verifyThreshold = 0.5)
        .write.parquet(s"$wh/prev_minhash")
      wh
    })

  // ---------------------------------------------------------------------------
  // Derived graph (shared by all g_* queries and their oracles)
  // ---------------------------------------------------------------------------

  def derivedEdges(s: SparkSession, dir: String): Dataset[Edge] = {
    import s.implicits._
    tbl(s, dir, "lineitem")
      .filter($"l_suppkey" % 13 === 0)
      .select(($"l_orderkey" % 997).cast("long").as("src"),
              ($"l_partkey" % 997).cast("long").as("dst"))
      .filter($"src" =!= $"dst")
      .distinct()
      .as[Edge]
  }

  def derivedVerts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // one pass over the edge lineage (explode both endpoints) instead of
    // the union-of-two-selects, which scanned + distinct'ed it twice
    derivedEdges(s, dir).toDF()
      .select(explode(array($"src", $"dst")).as("id")).distinct()
  }

  /** CTE prefix defining the identical graph in DuckDB. */
  private val GraphCte =
    """edges AS MATERIALIZED (
      |  SELECT DISTINCT CAST(l_orderkey % 997 AS BIGINT) AS src,
      |         CAST(l_partkey % 997 AS BIGINT) AS dst
      |  FROM lineitem
      |  WHERE l_suppkey % 13 = 0 AND (l_orderkey % 997) <> (l_partkey % 997)),
      |und AS (SELECT src AS u, dst AS v FROM edges
      |        UNION SELECT dst, src FROM edges),
      |verts AS MATERIALIZED (SELECT DISTINCT u AS id FROM und)""".stripMargin

  /** Unrolled fixed-iteration PageRank in portable SQL (the same frozen
    * convention as [[PageRank.run]]: d=0.85, dangling mass uniform).
    * Every per-iteration CTE is MATERIALIZED — DuckDB otherwise inlines
    * them, re-evaluating the whole chain exponentially. */
  private def pagerankSql(iters: Int): String = {
    val head =
      s"""WITH $GraphCte,
         |n AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts),
         |outdeg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM edges GROUP BY src),
         |r0 AS MATERIALIZED (SELECT id, 1.0/(SELECT n FROM n) AS rank FROM verts)""".stripMargin
    val steps = (1 to iters).map { i =>
      val p = s"r${i - 1}"
      s""",
         |d$i AS MATERIALIZED (SELECT COALESCE(SUM(r.rank), 0.0) AS dm FROM $p r
         |        LEFT JOIN outdeg o ON r.id = o.src WHERE o.src IS NULL),
         |c$i AS MATERIALIZED (SELECT e.dst AS id, SUM(r.rank / o.deg) AS contrib
         |        FROM edges e JOIN $p r ON e.src = r.id
         |        JOIN outdeg o ON e.src = o.src GROUP BY e.dst),
         |r$i AS MATERIALIZED (SELECT v.id,
         |        (1.0 - 0.85)/(SELECT n FROM n)
         |          + 0.85 * ((SELECT dm FROM d$i)/(SELECT n FROM n)
         |                     + COALESCE(c.contrib, 0.0)) AS rank
         |        FROM verts v LEFT JOIN c$i c ON v.id = c.id)""".stripMargin
    }.mkString
    head + steps + s"\nSELECT id, ROUND(rank, 6) AS rank FROM r$iters"
  }

  /** Unrolled fixed-iteration PERSONALIZED PageRank in portable SQL — the
    * [[pagerankSql]] recurrence with the restart AND dangling mass CASEd to
    * the source set (the frozen convention of [[PageRank.personalized]]).
    * Per-step arithmetic order mirrors the operator exactly the way
    * pagerankSql does (the rank/deg vs rank·(1/deg) difference washes out
    * under ROUND 6 — the proven g_pagerank tolerance class). */
  private def pprSql(iters: Int, sources: Seq[Long]): String = {
    val srcIds = sources.distinct
    val k = srcIds.size
    val inList = srcIds.mkString(", ")
    val head =
      s"""WITH $GraphCte,
         |outdeg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM edges GROUP BY src),
         |r0 AS MATERIALIZED (SELECT id, CASE WHEN id IN ($inList) THEN 1.0/$k.0 ELSE 0.0 END AS rank FROM verts)""".stripMargin
    val steps = (1 to iters).map { i =>
      val p = s"r${i - 1}"
      s""",
         |d$i AS MATERIALIZED (SELECT COALESCE(SUM(r.rank), 0.0) AS dm FROM $p r
         |        LEFT JOIN outdeg o ON r.id = o.src WHERE o.src IS NULL),
         |c$i AS MATERIALIZED (SELECT e.dst AS id, SUM(r.rank / o.deg) AS contrib
         |        FROM edges e JOIN $p r ON e.src = r.id
         |        JOIN outdeg o ON e.src = o.src GROUP BY e.dst),
         |r$i AS MATERIALIZED (SELECT v.id,
         |        CASE WHEN v.id IN ($inList)
         |             THEN (1.0 - 0.85)/$k.0 + 0.85 * (SELECT dm FROM d$i)/$k.0
         |             ELSE 0.0 END
         |          + 0.85 * COALESCE(c.contrib, 0.0) AS rank
         |        FROM verts v LEFT JOIN c$i c ON v.id = c.id)""".stripMargin
    }.mkString
    head + steps + s"\nSELECT id, ROUND(rank, 6) AS rank FROM r$iters"
  }

  /** Unrolled synchronous k-core peel in portable SQL — the frozen
    * convention of the g_kcore query: adaptive k = max(1, floor(0.75 ×
    * avg undirected degree)), exactly `rounds` simultaneous-drop rounds
    * over the distinct undirected pair table (converged rounds no-op). */
  private def kcoreSql(rounds: Int): String = {
    val head =
      s"""WITH $GraphCte,
         |kk AS MATERIALIZED (SELECT GREATEST(1, CAST(FLOOR(0.75 *
         |        (CAST((SELECT COUNT(*) FROM und) AS DOUBLE)
         |          / (SELECT COUNT(*) FROM verts))) AS BIGINT)) AS k),
         |a0 AS MATERIALIZED (SELECT id FROM verts)""".stripMargin
    val steps = (1 to rounds).map { i =>
      val p = s"a${i - 1}"
      s""",
         |a$i AS MATERIALIZED (SELECT w.u AS id FROM und w
         |        JOIN $p x ON w.u = x.id JOIN $p y ON w.v = y.id
         |        GROUP BY w.u HAVING COUNT(*) >= (SELECT k FROM kk))""".stripMargin
    }.mkString
    head + steps + s"\nSELECT id FROM a$rounds"
  }

  /** Unrolled deterministic random walks in portable SQL — the frozen hop
    * rule of [[RandomWalks.deterministic]]: arg_min over the md5 ordering
    * key, computed on the identical string in both engines. */
  private def walksSql(steps: Int, seed: String): String = {
    val head =
      s"""WITH $GraphCte,
         |w0 AS MATERIALIZED (SELECT id AS start, id AS cur FROM verts)""".stripMargin
    val stepCtes = (1 to steps).map { t =>
      val p = s"w${t - 1}"
      s""",
         |w$t AS MATERIALIZED (SELECT w.start,
         |        arg_min(e.dst, concat(md5(concat_ws(':', '$seed', '$t', w.cur, e.dst)),
         |                              lpad(CAST(e.dst AS VARCHAR), 20, '0'))) AS cur
         |        FROM $p w JOIN edges e ON w.cur = e.src GROUP BY w.start)""".stripMargin
    }.mkString
    val unions = (1 to steps).map(t =>
      s"UNION ALL SELECT start, $t AS step, cur AS vertex FROM w$t").mkString("\n")
    head + stepCtes +
      s"\nSELECT id AS start, 0 AS step, id AS vertex FROM verts\n$unions"
  }

  /** Unrolled fixed-iteration HITS in portable SQL (the frozen convention of
    * [[graft.algo.Hits.run]]: init hub=1, per step auth = Σ in-hub then
    * L1-normalize, hub = Σ out-auth over the NEW auths then L1-normalize;
    * all-zero sides keep zeros). MATERIALIZED per step or DuckDB re-inlines
    * the chain exponentially. */
  private def hitsSql(iters: Int): String = {
    val head =
      s"""WITH $GraphCte,
         |h0 AS MATERIALIZED (SELECT id, 1.0 AS hub FROM verts)""".stripMargin
    val steps = (1 to iters).map { i =>
      val p = s"h${i - 1}"
      s""",
         |ar$i AS MATERIALIZED (SELECT e.dst AS id, SUM(h.hub) AS raw
         |        FROM edges e JOIN $p h ON e.src = h.id GROUP BY e.dst),
         |an$i AS MATERIALIZED (SELECT COALESCE(SUM(raw), 0.0) AS s FROM ar$i),
         |a$i AS MATERIALIZED (SELECT v.id, COALESCE(r.raw, 0.0) /
         |        (CASE WHEN (SELECT s FROM an$i) = 0.0 THEN 1.0
         |              ELSE (SELECT s FROM an$i) END) AS auth
         |        FROM verts v LEFT JOIN ar$i r ON v.id = r.id),
         |hr$i AS MATERIALIZED (SELECT e.src AS id, SUM(a.auth) AS raw
         |        FROM edges e JOIN a$i a ON e.dst = a.id GROUP BY e.src),
         |hn$i AS MATERIALIZED (SELECT COALESCE(SUM(raw), 0.0) AS s FROM hr$i),
         |h$i AS MATERIALIZED (SELECT v.id, COALESCE(r.raw, 0.0) /
         |        (CASE WHEN (SELECT s FROM hn$i) = 0.0 THEN 1.0
         |              ELSE (SELECT s FROM hn$i) END) AS hub
         |        FROM verts v LEFT JOIN hr$i r ON v.id = r.id)""".stripMargin
    }.mkString
    head + steps +
      s"""
         |SELECT h.id, ROUND(h.hub, 6) AS hub, ROUND(a.auth, 6) AS auth
         |FROM h$iters h JOIN a$iters a ON h.id = a.id""".stripMargin
  }

  /** Unrolled fixed-iteration label propagation in portable SQL (the frozen
    * convention of [[LabelPropagation.run]]: init label = id, next label =
    * most frequent among undirected neighbors, ties to the smallest label,
    * isolated vertices keep theirs). Early exit in the Spark loop only fires
    * at a fixpoint, where further unrolled iterations are no-ops — so a
    * fixed-depth unroll is always equivalent. */
  private def lpaSql(iters: Int): String = {
    val head =
      s"""WITH $GraphCte,
         |l0 AS MATERIALIZED (SELECT id, id AS label FROM verts)""".stripMargin
    val steps = (1 to iters).map { i =>
      val p = s"l${i - 1}"
      s""",
         |f$i AS MATERIALIZED (SELECT u.u AS id, l.label, COUNT(*) AS c
         |        FROM und u JOIN $p l ON u.v = l.id GROUP BY 1, 2),
         |c$i AS MATERIALIZED (SELECT id, label FROM f$i
         |        QUALIFY ROW_NUMBER() OVER (PARTITION BY id
         |                                   ORDER BY c DESC, label) = 1),
         |l$i AS MATERIALIZED (SELECT l.id, COALESCE(c.label, l.label) AS label
         |        FROM $p l LEFT JOIN c$i c ON l.id = c.id)""".stripMargin
    }.mkString
    head + steps + s"\nSELECT id, CAST(label AS BIGINT) AS label FROM l$iters"
  }

  // ---------------------------------------------------------------------------
  // Shared text CTEs for the documents oracles
  // ---------------------------------------------------------------------------

  /** Distinct word-3-gram shingles per doc (mirrors Dedup.docShingles n=3). */
  private val ShinglesCte =
    """sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |           range(1, greatest(len(toks) - 2, 0) + 1),
      |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |        FROM documents))""".stripMargin

  private val JaccardPairsSql =
    s"""WITH $ShinglesCte,
       |common AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b, CAST(COUNT(*) AS DOUBLE) AS common
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS sz FROM sh GROUP BY 1)
       |SELECT c.a, c.b FROM common c
       |JOIN sizes sa ON c.a = sa.doc_id
       |JOIN sizes sb ON c.b = sb.doc_id
       |WHERE c.common / (sa.sz + sb.sz - c.common) >= 0.5""".stripMargin

  /** Cluster canonicalization oracle: the jaccard pair CTE as an undirected
    * edge list, then `iters` rounds of one-hop min-label propagation — each
    * round reaches one hop further, so any `iters` ≥ the largest cluster
    * diameter is exact (near-dup clusters are near-cliques; 16 is a wide
    * margin). The margin is not ASSUMED: one extra round is unrolled and the
    * final SELECT `error()`s unless round `iters` equals round `iters`+1 —
    * a chained cluster deeper than the unroll surfaces as an oracle ERROR,
    * never as a silent false mismatch against Spark's exact CC.
    * MATERIALIZED per round or DuckDB re-inlines the whole chain. */
  private def clustersSql(iters: Int): String = {
    val head =
      s"""WITH $ShinglesCte,
         |common AS MATERIALIZED (
         |  SELECT a.doc_id AS a, b.doc_id AS b, CAST(COUNT(*) AS DOUBLE) AS common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sizes AS MATERIALIZED (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS sz FROM sh GROUP BY 1),
         |jacc AS MATERIALIZED (
         |  SELECT c.a, c.b FROM common c
         |  JOIN sizes sa ON c.a = sa.doc_id
         |  JOIN sizes sb ON c.b = sb.doc_id
         |  WHERE c.common / (sa.sz + sb.sz - c.common) >= 0.5),
         |undp AS MATERIALIZED (SELECT a AS u, b AS v FROM jacc UNION SELECT b, a FROM jacc),
         |c0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS label FROM documents)""".stripMargin
    val steps = (1 to iters + 1).map { i =>
      val p = s"c${i - 1}"
      s""",
         |c$i AS MATERIALIZED (
         |  SELECT l.id, LEAST(l.label, COALESCE(MIN(n.label), l.label)) AS label
         |  FROM $p l
         |  LEFT JOIN undp u ON l.id = u.u
         |  LEFT JOIN $p n ON u.v = n.id
         |  GROUP BY l.id, l.label)""".stripMargin
    }.mkString
    head + steps +
      s"""
         |SELECT a.id,
         |  CAST(CASE WHEN a.label = b.label THEN a.label
         |       ELSE error('d_clusters oracle not converged in $iters rounds')
         |  END AS BIGINT) AS canonical_id
         |FROM c$iters a JOIN c${iters + 1} b ON a.id = b.id""".stripMargin
  }

  /** Winnowing selection per doc at gram size `k`, window `w`: per-doc
    * k-gram hash list, per-window list_min with the RIGHTMOST tie via
    * first-occurrence-in-reversed-window. Shared by the t_winnow and
    * d_passages oracles. */
  private def winnowSelCte(k: Int, w: Int): String =
    s"""hl AS MATERIALIZED (
       |  SELECT doc_id,
       |         list_transform(range(1, greatest(len(text) - $k + 1, 0) + 1),
       |                        i -> substr(md5(substr(text, CAST(i AS INT), $k)), 1, 8)) AS hs
       |  FROM documents),
       |ws AS (
       |  SELECT doc_id, hs, len(hs) AS n,
       |         unnest(range(1, greatest(len(hs) - $w + 1, 1) + 1)) AS s
       |  FROM hl WHERE len(hs) > 0),
       |sel AS (
       |  SELECT doc_id,
       |         list_min(list_slice(hs, s, least(s + $w - 1, n))) AS m,
       |         s + (least(s + $w - 1, n) - s + 1)
       |           - list_position(list_reverse(list_slice(hs, s, least(s + $w - 1, n))),
       |                           list_min(list_slice(hs, s, least(s + $w - 1, n)))) AS pos
       |  FROM ws)""".stripMargin

  /** d_passages parameters: 16-char grams / window 8 (detects any shared
    * passage of ≥ 23 chars), pairs sharing ≥ 2 distinct fingerprints. On
    * the synthetic word-pool corpus, 8-char grams are near-ubiquitous
    * boilerplate (the operator's maxPostings cut exists for that); 16-char
    * grams discriminate: ~1k pairs of C(500,2) at sf0.01. */
  private val PassagesK = 16
  private val PassagesW = 8
  private val PassagesMinShared = 2

  private val MinhashSigCte = {
    val mins = (0 until 8).map(i => s"MIN(md5('$i|' || shingle)) AS m$i").mkString(", ")
    s"sigs AS (SELECT doc_id AS id, $mins FROM sh GROUP BY doc_id)"
  }

  private val MinhashLshSql =
    s"""WITH $ShinglesCte,
       |$MinhashSigCte,
       |cands AS (
       |  SELECT DISTINCT s1.id AS a, s2.id AS b
       |  FROM sigs s1 JOIN sigs s2 ON s1.id < s2.id AND (
       |    (s1.m0 = s2.m0 AND s1.m1 = s2.m1) OR
       |    (s1.m2 = s2.m2 AND s1.m3 = s2.m3) OR
       |    (s1.m4 = s2.m4 AND s1.m5 = s2.m5) OR
       |    (s1.m6 = s2.m6 AND s1.m7 = s2.m7))),
       |common AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b, CAST(COUNT(*) AS DOUBLE) AS common
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS sz FROM sh GROUP BY 1),
       |jacc AS (
       |  SELECT c.a, c.b FROM common c
       |  JOIN sizes sa ON c.a = sa.doc_id
       |  JOIN sizes sb ON c.b = sb.doc_id
       |  WHERE c.common / (sa.sz + sb.sz - c.common) >= 0.5)
       |SELECT a, b FROM cands INTERSECT SELECT a, b FROM jacc""".stripMargin

  // ---------------------------------------------------------------------------
  // queries + oracles
  // ---------------------------------------------------------------------------

  /** Flagship: build the link graph from the deterministic synthetic corpus
    * and answer a golden route (wikilinks' own semantics end-to-end). */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val raw = SynthCorpus.toDF(spark, SynthCorpus.allFixtures).toDF()
    val routes = new Routes(GraphBuilder.build(raw, smallIds = true))
    val route = routes.findRoute(
      SynthCorpus.urlOf("Gdansk"), SynthCorpus.urlOf("Polska"))
    route.zipWithIndex.map { case (u, i) => (i, u) }.toDF("pos", "url")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- graph operators (derived lineitem graph) -----
    "g_edges" -> ((s, dir) => derivedEdges(s, dir).toDF()),

    "g_degrees" -> { (s, dir) =>
      import s.implicits._
      val e = derivedEdges(s, dir)
      val out = EdgeTable.degrees(e, "src").withColumnRenamed("degree", "out_deg")
      val in = EdgeTable.degrees(e, "dst").withColumnRenamed("degree", "in_deg")
      derivedVerts(s, dir).join(out, Seq("id"), "left").join(in, Seq("id"), "left")
        .select($"id", coalesce($"out_deg", lit(0L)).as("out_deg"),
          coalesce($"in_deg", lit(0L)).as("in_deg"))
    },

    "g_adjacency" -> { (s, dir) =>
      // CSR pack through the SALTED two-phase path (north-rule skew
      // handling), string-encoded so the oracle compares exactly
      import s.implicits._
      EdgeTable.packAdjacencySalted(derivedEdges(s, dir), saltBuckets = 8)
        .toDF()
        .select($"src", concat_ws(",", $"dsts").as("adj"))
    },

    "g_triangles" -> { (s, dir) =>
      import s.implicits._
      val res = TriangleCount.run(derivedVerts(s, dir), derivedEdges(s, dir))
      Seq(res.globalCount).toDF("triangles")
    },

    "g_cc" -> { (s, dir) =>
      ConnectedComponents.run(derivedVerts(s, dir), derivedEdges(s, dir)).components
    },

    "g_bfs" -> { (s, dir) =>
      import s.implicits._
      val start = derivedVerts(s, dir).agg(min($"id")).as[Long].head()
      // maxDepth matches the oracle's recursive-CTE cap (WHERE w.d < 64)
      Bfs.distances(derivedEdges(s, dir), start, maxDepth = 64)
        .select($"id", $"dist".cast("int").as("dist"))
    },

    "g_pagerank" -> { (s, dir) =>
      import s.implicits._
      val res = PageRank.run(derivedVerts(s, dir), derivedEdges(s, dir),
        tol = 0.0, maxIter = 10)
      res.ranks.select($"id", round($"rank", 6).as("rank"))
    },

    // personalized PageRank: teleport + dangling mass to the source set —
    // proximity-to-seeds ranking (related pages, seed-expanded crawl)
    "g_ppr" -> { (s, dir) =>
      import s.implicits._
      val res = PageRank.personalized(derivedVerts(s, dir),
        derivedEdges(s, dir), sources = Seq(0L, 1L, 7L), maxIter = 10)
      res.ranks.select($"id", round($"rank", 6).as("rank"))
    },

    // deterministic random walks: hash-seeded hop choice, so the walk
    // corpus is exactly reproducible — the graph-structured sampler
    "g_walks" -> ((s, dir) =>
      RandomWalks.deterministic(derivedVerts(s, dir), derivedEdges(s, dir),
        steps = 4)),

    // k-core peel, 8 synchronous rounds at the graph-adaptive k =
    // max(1, floor(0.75 x avg undirected degree)) — the density knob
    // tracks the corpus so the demo peels non-trivially at every sf
    // (a partial peel is still oracle-exact: both sides run EXACTLY
    // 8 rounds, converged rounds are no-ops)
    "g_kcore" -> { (s, dir) =>
      import s.implicits._
      // the undirected pair table is built ONCE (persisted) and shared by
      // the adaptive-k degree average, the vertex set (distinct u over both
      // directions == the endpoint set), and the peel itself — the round-6
      // shape rebuilt it from the raw lineage three times
      val e = derivedEdges(s, dir)
      val und = e.toDF().select($"src".as("u"), $"dst".as("v"))
        .union(e.toDF().select($"dst".as("u"), $"src".as("v"))).distinct()
        .persist()
      val verts = und.select($"u".as("id")).distinct()
      val k = math.max(1, math.floor(0.75 *
        (und.count().toDouble / verts.count())).toInt)
      val res = graft.algo.KCore.runOnUndirected(verts, und, k, rounds = 8)
      und.unpersist()
      res.members
    },

    "g_hits" -> { (s, dir) =>
      import s.implicits._
      val res = Hits.run(derivedVerts(s, dir), derivedEdges(s, dir), maxIter = 10)
      res.scores.select($"id", round($"hub", 6).as("hub"),
        round($"auth", 6).as("auth"))
    },

    // contraction by a synthetic host map (id mod 53 — the page→site shape;
    // the LPA/CC-label composition is exercised in AlgoSpec, where the
    // fixture graph actually has multiple communities: the dense derived
    // graph here collapses to one)
    "g_condense" -> { (s, dir) =>
      import s.implicits._
      val labels = derivedVerts(s, dir).select($"id", ($"id" % 53).as("label"))
      Condense.contract(derivedEdges(s, dir), labels)
    },

    // exact neighborhood function (the verification twin; x_anf_hll is the
    // HyperBall scale path, gated by NeighborhoodSpec tolerance instead)
    "g_anf" -> { (s, dir) =>
      Neighborhood.exact(derivedVerts(s, dir), derivedEdges(s, dir), maxT = 4).counts
    },

    // ----- relational operators (TPC-H-ish; integer-cents arithmetic) -----
    "q1_agg" -> { (s, dir) =>
      import s.implicits._
      tbl(s, dir, "lineitem").groupBy($"l_returnflag", $"l_linestatus").agg(
        sum(round($"l_quantity" * 100).cast("long")).as("sum_qty_cents"),
        sum(round($"l_extendedprice" * 100).cast("long")).as("sum_price_cents"),
        count(lit(1)).as("cnt"))
    },

    "q_join_revenue" -> { (s, dir) =>
      import s.implicits._
      tbl(s, dir, "orders")
        .join(tbl(s, dir, "customer"), $"o_custkey" === $"c_custkey")
        .join(tbl(s, dir, "nation"), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(sum(round($"o_totalprice" * 100).cast("long")).as("revenue_cents"),
          count(lit(1)).as("n_orders"))
    },

    "q_topk_prefix" -> { (s, dir) =>
      import s.implicits._
      tbl(s, dir, "part").filter($"p_name".startsWith("sma"))
        .orderBy($"p_name", $"p_partkey").limit(10)
        .select($"p_partkey", $"p_name")
    },

    "q_point" -> { (s, dir) =>
      import s.implicits._
      tbl(s, dir, "customer").filter($"c_custkey" === 42L)
        .select($"c_custkey", $"c_name", $"c_mktsegment")
    },

    "q_stats_events" -> { (s, dir) =>
      import s.implicits._
      tbl(s, dir, "events").agg(
        count(lit(1)).as("runs"),
        round(min($"value"), 6).as("vmin"),
        round(max($"value"), 6).as("vmax"),
        round(avg($"value"), 4).as("vmean"),
        round(stddev_samp($"value"), 4).as("vstddev"))
    },

    "q_window_events" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      tbl(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .select($"user_id", $"event_id", $"rn")
    },

    "q_semi_anti" -> { (s, dir) =>
      // left-semi / left-anti — the engine's dangling-elimination (P6) and
      // visited-set (§2.7) primitives as a relational query
      import s.implicits._
      val cust = tbl(s, dir, "customer")
      val ord = tbl(s, dir, "orders").select($"o_custkey")
      val withOrders = cust.join(ord, $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", lit(true).as("has_orders"))
      val withoutOrders = cust.join(ord, $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", lit(false).as("has_orders"))
      withOrders.union(withoutOrders)
    },

    // ----- dedup / text / similarity (documents + embeddings) -----
    "d_exact" -> ((s, dir) => Dedup.exact(tbl(s, dir, "documents"), "doc_id", "text")),

    "d_clusters" -> { (s, dir) =>
      val docs = tbl(s, dir, "documents")
      Dedup.canonicalize(docs, "doc_id",
        Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5))
    },

    // the ladder's end-cap: the DEDUPLICATED corpus itself (one row per
    // near-dup cluster, the canonical min-id member) — what actually ships
    // to training after pairs → clusters → keep-one
    "d_corpus_dedup" -> { (s, dir) =>
      val docs = tbl(s, dir, "documents")
      Dedup.keepCanonical(docs, "doc_id",
        Dedup.canonicalize(docs, "doc_id",
          Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)))
    },

    // quality gating (the pipeline's first stage): scalar quality +
    // repetition predicates fold into the scan; the language restriction
    // (the one non-scalar signal) runs over scalar-pass survivors only
    "p_filter" -> { (s, dir) =>
      import s.implicits._
      graft.pipeline.Filtering.qualityFilter(
          tbl(s, dir, "documents"), "doc_id", "text",
          minQuality = 0.8, maxRepetition = 0.05, repN = 2,
          langs = Seq("en", "de"))
        .select($"doc_id", $"lang", $"source")
    },

    // deterministic hash sampling/splitting: same rows every run/engine —
    // the oracle recomputes the md5 bucket verbatim in SQL
    "p_sample_hash" -> ((s, dir) =>
      Sampling.sample(tbl(s, dir, "documents"), "doc_id", keep = 16384)),

    "p_split_hash" -> { (s, dir) =>
      import s.implicits._
      tbl(s, dir, "documents").select($"doc_id",
        Sampling.splitLabel($"doc_id",
          Seq("train" -> 52429, "val" -> 58982), "test"))
    },

    // concat-then-chunk sequence packing over a DISTRIBUTED prefix sum
    // (two-phase scan-then-offset — never a single-task global window);
    // the oracle is the single-stream SQL window it must equal
    "p_pack" -> { (s, dir) =>
      import s.implicits._
      Packing.packByBudget(
        tbl(s, dir, "documents").select($"doc_id",
          TextAnalysis.tokenCount($"text").as("tc")),
        "doc_id", "tc", budget = 2048L)
    },

    // per-group corpus mixing: a different deterministic keep fraction per
    // language (all en, half de, quarter fr, eighth es, zh and anything
    // unlisted dropped), salted so the mix draw is independent of the
    // global sample/split
    "p_mix" -> ((s, dir) =>
      Sampling.sampleByGroup(tbl(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 65536, "de" -> 32768, "fr" -> 16384, "es" -> 8192),
        defaultKeep = 0, salt = "mix1:")),

    // eval-set decontamination: eval set = every 17th doc; corpus docs
    // sharing ≥ 2 word-3-gram shingles with any eval doc (eval shingles
    // broadcast — the corpus side streams with no shuffle before the join)
    "p_contam" -> { (s, dir) =>
      import s.implicits._
      val docs = tbl(s, dir, "documents")
      Decontaminate.contaminationPairs(
        docs.where($"doc_id" % 17 =!= 0), "doc_id", "text",
        docs.where($"doc_id" % 17 === 0), "doc_id", "text",
        n = 3, minShared = 2L)
    },

    // ...and the corpus that ships after dropping them (ids-only anti-join)
    "p_decontam" -> { (s, dir) =>
      import s.implicits._
      val docs = tbl(s, dir, "documents")
      Decontaminate.decontaminate(
        docs.where($"doc_id" % 17 =!= 0), "doc_id", "text",
        docs.where($"doc_id" % 17 === 0), "doc_id", "text",
        n = 3, minShared = 2L)
    },

    // warm re-canonicalization of a GROWN corpus, through the FULL
    // incremental ladder: the committed per-JVM HISTORY holds the first
    // half's labels + shingle index; the second half arrives as a batch
    // whose delta pairs come from the committed index (the no-append
    // incremental plan — new-vs-all only, old×old never recomputed) and
    // feed [[Dedup.canonicalizeWarm]] → ConnectedComponents.warmStart.
    // Warm == cold is the operator's contract, so the ORACLE IS THE COLD
    // CLUSTERING over everything — the same SQL as d_clusters.
    "d_clusters_warm" -> { (s, dir) =>
      import s.implicits._
      val docs = tbl(s, dir, "documents")
      val half = halfOf(s, dir)
      val wh = incrHistory(s, dir)
      val cat = new graft.tables.IcebergLite(wh)
      val fresh = Dedup.batchShingles(docs.filter($"doc_id" > half),
        "doc_id", "text", cat.currentSnapshot("shingle_index").get)
      // materialized once: canonicalizeWarm consumes the delta twice (the
      // small-graph threshold count, then the collect), and the delta is
      // the query's dominant term
      val delta = Dedup.jaccardIncrPlan(cat, "shingle_index", fresh,
        threshold = 0.5, maxPostings = 0L).localCheckpoint(true)
      Dedup.canonicalizeWarm(docs, "doc_id", delta,
        s.read.parquet(s"$wh/prev_labels"))
    },

    "d_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairs(tbl(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.5)),

    // incremental Jaccard over corpus growth — the shingle-index twin of
    // d_passages_incr: previous-pairs ∪ incremental == from-scratch is the
    // contract, so the oracle is d_jaccard's own SQL
    "d_jaccard_incr" -> { (s, dir) =>
      import s.implicits._
      val half = halfOf(s, dir)
      val wh = incrHistory(s, dir)
      val cat = new graft.tables.IcebergLite(wh)
      val fresh = Dedup.batchShingles(
        tbl(s, dir, "documents").filter($"doc_id" > half),
        "doc_id", "text", cat.currentSnapshot("shingle_index").get)
      s.read.parquet(s"$wh/prev_jaccard")
        .union(Dedup.jaccardIncrPlan(cat, "shingle_index", fresh,
          threshold = 0.5, maxPostings = 0L))
    },

    "d_minhash_sig" -> ((s, dir) =>
      Dedup.minhashSignatures(tbl(s, dir, "documents"), "doc_id", "text", n = 3, k = 8)),

    "d_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(tbl(s, dir, "documents"), "doc_id", "text",
        n = 3, k = 8, bands = 4, verifyThreshold = 0.5)),

    // incremental MinHash-LSH over corpus growth — the committed banded
    // signature index (the ladder's third pillar): previous-pairs ∪
    // incremental == from-scratch is the contract, so the oracle is
    // d_minhash_lsh's own SQL
    "d_minhash_incr" -> { (s, dir) =>
      import s.implicits._
      val half = halfOf(s, dir)
      val wh = incrHistory(s, dir)
      val cat = new graft.tables.IcebergLite(wh)
      val newDocs = tbl(s, dir, "documents").filter($"doc_id" > half)
      val ds = Dedup.batchShingles(newDocs, "doc_id", "text",
        cat.currentSnapshot("minhash_index").get)
      val newBk = Dedup.bandBuckets(ds, 8, 4)
      s.read.parquet(s"$wh/prev_minhash")
        .union(Dedup.minhashIncrPlan(cat, "minhash_index", ds, newBk,
          k = 8, bands = 4, verifyThreshold = 0.5))
    },

    "t_tokens" -> { (s, dir) =>
      import s.implicits._
      tbl(s, dir, "documents").select($"doc_id",
        TextAnalysis.tokenCount($"text").as("tc"),
        TextAnalysis.tokenCountBpe($"text").as("tc_bpe"),
        TextAnalysis.tokenCountSubword($"text").as("tc_sub"))
    },

    "t_quality" -> { (s, dir) =>
      import s.implicits._
      tbl(s, dir, "documents").select($"doc_id",
        TextAnalysis.qualityScore($"text").as("quality"))
    },

    "t_repetition" -> { (s, dir) =>
      import s.implicits._
      tbl(s, dir, "documents").select($"doc_id",
        TextAnalysis.repetitionFraction($"text", 2).as("rep2"),
        TextAnalysis.repetitionFraction($"text", 3).as("rep3"))
    },

    "t_langid" -> ((s, dir) =>
      TextAnalysis.languageId(tbl(s, dir, "documents"), "doc_id", "text")),

    "t_fingerprint" -> { (s, dir) =>
      import s.implicits._
      tbl(s, dir, "documents").select($"doc_id",
        TextAnalysis.fingerprintMd5($"text").as("fp"))
    },

    "t_winnow" -> { (s, dir) =>
      import s.implicits._
      TextAnalysis.winnow(tbl(s, dir, "documents"), "doc_id", "text",
        k = 8, w = 6)
        .select($"id".as("doc_id"), $"pos", $"fp")
    },

    "d_passages" -> ((s, dir) =>
      Dedup.winnowPairs(tbl(s, dir, "documents"), "doc_id", "text",
        k = PassagesK, w = PassagesW, minShared = PassagesMinShared.toLong)),

    "d_passage_spans" -> ((s, dir) =>
      Dedup.winnowPairSpans(tbl(s, dir, "documents"), "doc_id", "text",
        k = PassagesK, w = PassagesW, minShared = PassagesMinShared.toLong)),

    // incremental shared-passage dedup over corpus growth: fingerprint index
    // built on the first half, the second half arrives and only its pairs
    // are computed (new-vs-all postings join; old×old never recomputed).
    // previous-pairs ∪ incremental == from-scratch is the operator's
    // contract, so the ORACLE IS d_passages' from-scratch SQL.
    "d_passages_incr" -> { (s, dir) =>
      import s.implicits._
      val half = halfOf(s, dir)
      val wh = incrHistory(s, dir)
      val cat = new graft.tables.IcebergLite(wh)
      val fresh = Dedup.batchFps(
        tbl(s, dir, "documents").filter($"doc_id" > half),
        "doc_id", "text", cat.currentSnapshot("fp_index").get)
      s.read.parquet(s"$wh/prev_passages")
        .union(Dedup.winnowIncrPlan(cat, "fp_index", fresh,
          minShared = PassagesMinShared.toLong, maxPostings = 0L))
    },

    "s_ann_topk" -> ((s, dir) =>
      Similarity.bruteForceTopK(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)),

    "s_neardup" -> ((s, dir) =>
      Similarity.embeddingNearDupPairs(tbl(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.45)),

    "m_meta" -> { (s, dir) =>
      import s.implicits._
      Multimodal.withMedia(tbl(s, dir, "documents"), "doc_id", "text")
        .toDF()
        .select($"doc_id", $"meta.format".as("format"),
          $"meta.width".as("width"), $"meta.height".as("height"))
    },

    "m_resize" -> { (s, dir) =>
      // the resize stage's output dims, PARSED from the rewritten header
      // bytes; the oracle recomputes them arithmetically
      import s.implicits._
      Multimodal.resize(
        Multimodal.withMedia(tbl(s, dir, "documents"), "doc_id", "text"),
        maxDim = 100)
        .toDF()
        .select($"doc_id", $"meta.format".as("format"),
          $"meta.width".as("width"), $"meta.height".as("height"))
    },

    // ----- flagship route semantics, oracle-gated: bidirectional BFS
    // shortest path on the derived graph, asserting the path LENGTH (the
    // path itself is non-unique; length is). -1 = unreachable.
    "x_route" -> { (s, dir) =>
      import s.implicits._
      val e = derivedEdges(s, dir)
      val (lo, hi) = derivedVerts(s, dir).agg(min($"id"), max($"id"))
        .as[(Long, Long)].head()
      val eIn = e.select($"dst".as("src"), $"src".as("dst")).as[Edge]
      val len = Bfs.shortestPath(e, eIn, lo, hi)
        .map(_.size - 1).getOrElse(-1)
      Seq(len).toDF("path_len").select($"path_len".cast("int").as("path_len"))
    },

    "x_lpa" -> { (s, dir) =>
      LabelPropagation.run(derivedVerts(s, dir), derivedEdges(s, dir), maxIter = 5).labels
    },

    "x_anf_hll" -> { (s, dir) =>
      Neighborhood.hyperBall(derivedVerts(s, dir), derivedEdges(s, dir),
        maxT = 4, log2m = 6).counts
    },

    // ----- no SQL oracle (rows-only driver check) -----
    // (the synthetic-corpus golden route is exercised by entry() itself,
    // which the driver smoke-checks, and by GoldenSpec/RoutesSpec)
    "x_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(tbl(s, dir, "documents"), "doc_id", "text", maxDist = 3)),

    "x_lsh_topk" -> ((s, dir) =>
      Similarity.lshTopK(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        queryIds = Seq(0L, 1L, 2L), k = 5, planes = 6, probeHamming = 2)),

    "x_ivf_topk" -> ((s, dir) =>
      Similarity.ivfTopK(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        queryIds = Seq(0L, 1L, 2L), k = 5, nlist = 16, nprobe = 4)),

    "x_neardup_ivf" -> ((s, dir) =>
      Similarity.embeddingNearDupIvf(tbl(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.45, nlist = 16)),

    // incremental SemDeDup over corpus growth — the embedding modality's
    // committed-index increment (the ladder's fourth pillar). Rows-only:
    // the IVF-celled pair set is quantizer-dependent, so the union
    // contract prev ∪ incr == post-append full is spec-gated in
    // AnnIndexSpec instead of SQL-oracled
    "x_neardup_incr" -> { (s, dir) =>
      import s.implicits._
      val wh = annIncrHistory(s, dir)
      val cat = new graft.tables.IcebergLite(wh)
      val cs = cat.read(s, "ann_ivf_centroids").select($"cell", $"cvec")
        .as[(Int, Array[Float])].collect().sortBy(_._1).toSeq
      // lazy checkpoint: the nearest-cell kernel (the increment's dominant
      // CPU term) runs ONCE, not once per downstream branch of the plan
      val cells = Similarity.assignCells(
        tbl(s, dir, "embeddings").filter($"vec_id" > embHalfOf(s, dir)),
        "vec_id", "embedding", cs).localCheckpoint(false)
      s.read.parquet(s"$wh/prev_neardup")
        .union(Similarity.embeddingIncrPlan(cat, "ann_ivf", cells, threshold = 0.45))
    },

    // feature-extract stage: the deterministic outputs (format from the
    // byte-level header parse, frame count) are oracle-gated; the stubbed
    // featureVec itself is covered by PipelineSpec determinism tests
    "m_features" -> { (s, dir) =>
      import s.implicits._
      Multimodal.extractFeatures(
        Multimodal.withMedia(tbl(s, dir, "documents"), "doc_id", "text"), 16)
        .select($"doc_id", $"format", $"frames")
    })

  def oracleSql: Map[String, String] = Map(
    "g_edges" ->
      s"WITH $GraphCte SELECT src, dst FROM edges",

    "g_degrees" ->
      s"""WITH $GraphCte
         |SELECT v.id,
         |  CAST(COALESCE(o.c, 0) AS BIGINT) AS out_deg,
         |  CAST(COALESCE(i.c, 0) AS BIGINT) AS in_deg
         |FROM verts v
         |LEFT JOIN (SELECT src, COUNT(*) AS c FROM edges GROUP BY src) o ON v.id = o.src
         |LEFT JOIN (SELECT dst, COUNT(*) AS c FROM edges GROUP BY dst) i ON v.id = i.dst""".stripMargin,

    "g_adjacency" ->
      s"""WITH $GraphCte
         |SELECT src, array_to_string(list_sort(list(dst)), ',') AS adj
         |FROM edges GROUP BY src""".stripMargin,

    "g_triangles" ->
      s"""WITH $GraphCte,
         |ce AS (SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM edges
         |       GROUP BY 1, 2)
         |SELECT CAST(COUNT(*) AS BIGINT) AS triangles
         |FROM ce e1 JOIN ce e2 ON e1.b = e2.a
         |JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin,

    "g_cc" ->
      s"""WITH RECURSIVE $GraphCte,
         |reach(n, m) AS (
         |  SELECT id, id FROM verts
         |  UNION
         |  SELECT u.u, r.m FROM und u JOIN reach r ON u.v = r.n)
         |SELECT n AS id, CAST(MIN(m) AS BIGINT) AS component FROM reach GROUP BY n""".stripMargin,

    "g_bfs" ->
      s"""WITH RECURSIVE $GraphCte,
         |startv AS (SELECT MIN(id) AS s FROM verts),
         |walk(n, d) AS (
         |  SELECT s, 0 FROM startv
         |  UNION
         |  SELECT e.dst, w.d + 1 FROM edges e JOIN walk w ON e.src = w.n
         |  WHERE w.d < 64)
         |SELECT n AS id, CAST(MIN(d) AS INT) AS dist FROM walk GROUP BY n""".stripMargin,

    "g_pagerank" -> pagerankSql(10),

    "g_ppr" -> pprSql(10, Seq(0L, 1L, 7L)),

    "g_walks" -> walksSql(4, "walk"),

    "g_kcore" -> kcoreSql(8),

    "g_hits" -> hitsSql(10),

    // cumulative reachable-pair counts per distance tier (neighborhood
    // function): recursive walk from EVERY vertex, min distance per pair,
    // tiered by generate_series — t beyond saturation repeats the fixpoint
    // on both sides
    "g_anf" ->
      s"""WITH RECURSIVE $GraphCte,
         |walk(s, n, d) AS (
         |  SELECT id, id, 0 FROM verts
         |  UNION
         |  SELECT w.s, e.dst, w.d + 1 FROM edges e JOIN walk w ON e.src = w.n
         |  WHERE w.d < 4),
         |mind AS (SELECT s, n, MIN(d) AS d FROM walk GROUP BY 1, 2)
         |SELECT CAST(ts.t AS INT) AS t, CAST(COUNT(*) AS BIGINT) AS pairs
         |FROM mind CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS t) ts
         |WHERE mind.d <= ts.t GROUP BY 1""".stripMargin,

    "g_condense" ->
      s"""WITH $GraphCte
         |SELECT CAST(src % 53 AS BIGINT) AS src_label,
         |       CAST(dst % 53 AS BIGINT) AS dst_label,
         |       CAST(COUNT(*) AS BIGINT) AS weight
         |FROM edges WHERE (src % 53) <> (dst % 53)
         |GROUP BY 1, 2""".stripMargin,

    "x_lpa" -> lpaSql(5),

    "x_route" ->
      s"""WITH RECURSIVE $GraphCte,
         |endpoints AS (SELECT MIN(id) AS s, MAX(id) AS e FROM verts),
         |walk(n, d) AS (
         |  SELECT s, 0 FROM endpoints
         |  UNION
         |  SELECT ed.dst, w.d + 1 FROM edges ed JOIN walk w ON ed.src = w.n
         |  WHERE w.d < 64)
         |SELECT CAST(COALESCE(
         |  (SELECT MIN(d) FROM walk WHERE n = (SELECT e FROM endpoints)),
         |  -1) AS INT) AS path_len""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "q_join_revenue" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin,

    "q_topk_prefix" ->
      """SELECT p_partkey, p_name FROM part WHERE p_name LIKE 'sma%'
        |ORDER BY p_name, p_partkey LIMIT 10""".stripMargin,

    "q_point" ->
      "SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey = 42",

    "q_stats_events" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS runs,
        |  ROUND(MIN(value), 6) AS vmin, ROUND(MAX(value), 6) AS vmax,
        |  ROUND(AVG(value), 4) AS vmean, ROUND(STDDEV_SAMP(value), 4) AS vstddev
        |FROM events""".stripMargin,

    "q_window_events" ->
      """SELECT user_id, event_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS rn
        |FROM events
        |QUALIFY rn <= 3""".stripMargin,

    "q_semi_anti" ->
      """SELECT c_custkey,
        |  EXISTS(SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_orders
        |FROM customer""".stripMargin,

    "d_exact" ->
      """WITH digests AS (
        |  SELECT doc_id AS id,
        |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS digest
        |  FROM documents)
        |SELECT d.id, c.canonical_id FROM digests d
        |JOIN (SELECT digest, MIN(id) AS canonical_id FROM digests GROUP BY 1) c
        |  ON d.digest = c.digest""".stripMargin,

    "d_jaccard" -> JaccardPairsSql,

    // prev ∪ incremental == from-scratch: the incremental path's oracle is
    // d_jaccard's own from-scratch SQL
    "d_jaccard_incr" -> JaccardPairsSql,

    "d_clusters" -> clustersSql(16),

    // warm == cold is the contract: the oracle for the warm path is the
    // cold clustering over the full corpus
    "d_clusters_warm" -> clustersSql(16),

    // the deduplicated corpus: documents whose id is its cluster's
    // canonical label under the same clustering SQL
    "d_corpus_dedup" ->
      s"""SELECT d.* FROM documents d
         |WHERE d.doc_id IN (
         |  SELECT id FROM (${clustersSql(16)}) c WHERE c.id = c.canonical_id)""".stripMargin,

    // quality gating: the t_quality / t_repetition / t_langid oracle
    // expressions composed into one WHERE (per-doc signals — filtering
    // order can't change them, so Spark's survivors-only langid pass is
    // oracle-identical)
    "p_filter" ->
      """WITH qual AS (
        |  SELECT doc_id, ROUND(
        |    CAST(length(text) BETWEEN 50 AND 20000 AS DOUBLE) * 0.5
        |    + LEAST(CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        t -> t IN ('the','a','an','and','or','of','to','in','is','on','for','with')))
        |        AS DOUBLE), 5.0) / 5.0 * 0.3
        |    + CAST(CAST(length(text) - length(translate(text, '.,!?;:', '')) AS DOUBLE)
        |           <= CAST(length(text) AS DOUBLE) * 0.1 AS DOUBLE) * 0.2
        |  , 2) AS quality FROM documents),
        |rep AS (
        |  SELECT doc_id,
        |    ROUND(CASE WHEN len(g2) = 0 THEN 0.0
        |          ELSE 1.0 - len(list_distinct(g2)) * 1.0 / len(g2) END, 6) AS rep2
        |  FROM (SELECT doc_id,
        |          list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
        |                         i -> toks[i] || ' ' || toks[i+1]) AS g2
        |        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |              FROM documents))),
        |ltoks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |markers(m_lang, m_tok) AS (VALUES
        |  ('en','the'),('en','and'),('en','of'),('en','is'),('en','with'),
        |  ('de','der'),('de','und'),('de','das'),('de','ist'),('de','mit'),
        |  ('fr','le'),('fr','et'),('fr','les'),('fr','est'),('fr','avec'),
        |  ('es','el'),('es','y'),('es','los'),('es','es'),('es','con'),
        |  ('fi','ja'),('fi','on'),('fi','se'),('fi','ei'),('fi','että')),
        |lhits AS (SELECT doc_id, m_lang, COUNT(*) AS h FROM ltoks
        |          JOIN markers ON tok = m_tok GROUP BY 1, 2),
        |ltop AS (SELECT doc_id, m_lang FROM lhits
        |         QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
        |                                    ORDER BY h DESC, m_lang) = 1)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d
        |JOIN qual q ON d.doc_id = q.doc_id
        |JOIN rep r ON d.doc_id = r.doc_id
        |LEFT JOIN ltop t ON d.doc_id = t.doc_id
        |WHERE q.quality >= 0.8 AND r.rep2 <= 0.05
        |  AND COALESCE(t.m_lang, 'und') IN ('en', 'de')""".stripMargin,

    // deterministic md5-bucket sampling: keep 16384/65536 = 25%
    "p_sample_hash" ->
      """SELECT * FROM documents
        |WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 65536 < 16384""".stripMargin,

    // deterministic split labels at explicit bucket cuts (~80/10/10)
    "p_split_hash" ->
      """SELECT doc_id,
        |  CASE WHEN b < 52429 THEN 'train'
        |       WHEN b < 58982 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |        CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 65536 AS b
        |      FROM documents)""".stripMargin,

    // the single-stream window the distributed prefix sum must equal:
    // pack = chunk of the doc's first token in the concatenated stream
    "p_pack" ->
      """SELECT doc_id,
        |  CAST(COALESCE(SUM(tc) OVER (ORDER BY doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |       // 2048 AS BIGINT) AS pack_id
        |FROM (SELECT doc_id,
        |        CASE WHEN length(trim(text)) = 0 THEN 0
        |             ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS tc
        |      FROM documents)""".stripMargin,

    // per-language mix: the salted md5 bucket against a per-group keep
    "p_mix" ->
      """SELECT * FROM documents
        |WHERE CAST('0x' || substring(md5('mix1:' || CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 65536 <
        |  CASE WHEN lang = 'en' THEN 65536
        |       WHEN lang = 'de' THEN 32768
        |       WHEN lang = 'fr' THEN 16384
        |       WHEN lang = 'es' THEN 8192
        |       ELSE 0 END""".stripMargin,

    // contamination pairs: corpus docs sharing ≥ 2 distinct 3-gram
    // shingles with an eval doc (eval set = every 17th doc)
    "p_contam" ->
      s"""WITH $ShinglesCte,
         |ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 17 = 0),
         |co AS (SELECT doc_id AS id, shingle FROM sh WHERE doc_id % 17 <> 0)
         |SELECT co.id, ev.eval_id, COUNT(*) AS common
         |FROM co JOIN ev ON co.shingle = ev.shingle
         |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin,

    // the decontaminated corpus: same pair predicate, then NOT IN
    "p_decontam" ->
      s"""WITH $ShinglesCte,
         |ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 17 = 0),
         |co AS (SELECT doc_id AS id, shingle FROM sh WHERE doc_id % 17 <> 0),
         |bad AS (SELECT id FROM (
         |    SELECT co.id, ev.eval_id FROM co JOIN ev ON co.shingle = ev.shingle
         |    GROUP BY 1, 2 HAVING COUNT(*) >= 2) GROUP BY id)
         |SELECT d.* FROM documents d
         |WHERE d.doc_id % 17 <> 0 AND d.doc_id NOT IN (SELECT id FROM bad)""".stripMargin,

    "d_minhash_sig" ->
      s"""WITH $ShinglesCte,
         |$MinhashSigCte
         |SELECT * FROM sigs""".stripMargin,

    "d_minhash_lsh" -> MinhashLshSql,

    // prev ∪ incremental == from-scratch: the committed-index path's oracle
    // is d_minhash_lsh's own from-scratch SQL
    "d_minhash_incr" -> MinhashLshSql,

    "t_tokens" ->
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) END AS tc,
        |  CAST(COALESCE(list_sum(list_transform(
        |    regexp_split_to_array(trim(text), '\s+'),
        |    t -> CAST(ceil(length(t) / 4.0) AS INT))), 0) AS INT) AS tc_bpe,
        |  CAST(len(regexp_extract_all(text,
        |    '''(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+'))
        |    AS INT) AS tc_sub
        |FROM documents""".stripMargin,

    // duplicate word-n-gram fraction per doc (grams kept as multisets)
    "t_repetition" ->
      """SELECT doc_id,
        |  ROUND(CASE WHEN len(g2) = 0 THEN 0.0
        |        ELSE 1.0 - len(list_distinct(g2)) * 1.0 / len(g2) END, 6) AS rep2,
        |  ROUND(CASE WHEN len(g3) = 0 THEN 0.0
        |        ELSE 1.0 - len(list_distinct(g3)) * 1.0 / len(g3) END, 6) AS rep3
        |FROM (SELECT doc_id,
        |        list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
        |                       i -> toks[i] || ' ' || toks[i+1]) AS g2,
        |        list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
        |                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS g3
        |      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |            FROM documents))""".stripMargin,

    "t_quality" ->
      """SELECT doc_id, ROUND(
        |  CAST(length(text) BETWEEN 50 AND 20000 AS DOUBLE) * 0.5
        |  + LEAST(CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      t -> t IN ('the','a','an','and','or','of','to','in','is','on','for','with')))
        |      AS DOUBLE), 5.0) / 5.0 * 0.3
        |  + CAST(CAST(length(text) - length(translate(text, '.,!?;:', '')) AS DOUBLE)
        |         <= CAST(length(text) AS DOUBLE) * 0.1 AS DOUBLE) * 0.2
        |, 2) AS quality
        |FROM documents""".stripMargin,

    "t_langid" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents),
        |markers(m_lang, m_tok) AS (VALUES
        |  ('en','the'),('en','and'),('en','of'),('en','is'),('en','with'),
        |  ('de','der'),('de','und'),('de','das'),('de','ist'),('de','mit'),
        |  ('fr','le'),('fr','et'),('fr','les'),('fr','est'),('fr','avec'),
        |  ('es','el'),('es','y'),('es','los'),('es','es'),('es','con'),
        |  ('fi','ja'),('fi','on'),('fi','se'),('fi','ei'),('fi','että')),
        |hits AS (SELECT doc_id, m_lang, COUNT(*) AS h FROM toks
        |         JOIN markers ON tok = m_tok GROUP BY 1, 2),
        |top AS (SELECT doc_id, m_lang FROM hits
        |        QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
        |                                   ORDER BY h DESC, m_lang) = 1)
        |SELECT d.doc_id, COALESCE(t.m_lang, 'und') AS lang_pred
        |FROM documents d LEFT JOIN top t ON d.doc_id = t.doc_id""".stripMargin,

    "t_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents""".stripMargin,

    // winnowing: per-doc k-gram hash LIST, per-window list_min with the
    // RIGHTMOST tie via first-occurrence-in-reversed-window — list ops per
    // doc, no range join (the join formulation was exact too but quadratic
    // per doc in DuckDB: >10 min at sf0.1 vs 6 s for this one)
    "t_winnow" ->
      s"""WITH ${winnowSelCte(8, 6)}
         |SELECT DISTINCT doc_id, CAST(pos AS BIGINT) AS pos, m AS fp FROM sel""".stripMargin,

    // shared-passage pairs: the winnow selection reduced to DISTINCT
    // (doc, fp) postings, then the same inverted-index join the Spark side
    // runs (Dedup.winnowPairs)
    "d_passages" ->
      s"""WITH ${winnowSelCte(PassagesK, PassagesW)},
         |fps AS MATERIALIZED (SELECT DISTINCT doc_id, m AS fp FROM sel)
         |SELECT f1.doc_id AS a, f2.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS shared
         |FROM fps f1 JOIN fps f2 ON f1.fp = f2.fp AND f1.doc_id < f2.doc_id
         |GROUP BY 1, 2
         |HAVING COUNT(*) >= $PassagesMinShared""".stripMargin,

    // prev ∪ incremental == from-scratch is the contract: the incremental
    // path's oracle is d_passages' own from-scratch SQL
    "d_passages_incr" ->
      s"""WITH ${winnowSelCte(PassagesK, PassagesW)},
         |fps AS MATERIALIZED (SELECT DISTINCT doc_id, m AS fp FROM sel)
         |SELECT f1.doc_id AS a, f2.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS shared
         |FROM fps f1 JOIN fps f2 ON f1.fp = f2.fp AND f1.doc_id < f2.doc_id
         |GROUP BY 1, 2
         |HAVING COUNT(*) >= $PassagesMinShared""".stripMargin,

    // span detail for the qualifying pairs: every shared fingerprint with
    // its selected positions in both documents
    "d_passage_spans" ->
      s"""WITH ${winnowSelCte(PassagesK, PassagesW)},
         |spos AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, CAST(pos AS BIGINT) AS pos, m AS fp FROM sel),
         |fps AS MATERIALIZED (SELECT DISTINCT doc_id, fp FROM spos),
         |pairs AS MATERIALIZED (
         |  SELECT f1.doc_id AS a, f2.doc_id AS b
         |  FROM fps f1 JOIN fps f2 ON f1.fp = f2.fp AND f1.doc_id < f2.doc_id
         |  GROUP BY 1, 2
         |  HAVING COUNT(*) >= $PassagesMinShared)
         |SELECT p.a, p.b, sa.fp, sa.pos AS pos_a, sb.pos AS pos_b
         |FROM pairs p
         |JOIN spos sa ON sa.doc_id = p.a
         |JOIN spos sb ON sb.doc_id = p.b AND sb.fp = sa.fp""".stripMargin,

    "s_ann_topk" ->
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id IN (0,1,2,3,4)),
        |scored AS (
        |  SELECT q.vec_id AS q, e.vec_id AS neighbor,
        |         ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                      CAST(e.embedding AS DOUBLE[])), 6) AS cos
        |  FROM q, embeddings e WHERE e.vec_id <> q.vec_id)
        |SELECT q, CAST(ROW_NUMBER() OVER (PARTITION BY q ORDER BY cos DESC, neighbor) AS INT) AS rank,
        |       neighbor, cos
        |FROM scored
        |QUALIFY rank <= 10""".stripMargin,

    "s_neardup" ->
      """SELECT a.vec_id AS a, b.vec_id AS b
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id
        |  AND ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.45""".stripMargin,

    "m_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        |  CAST(64 + (doc_id % 8) * 16 AS INT) AS width,
        |  CAST(64 + (doc_id % 5) * 16 AS INT) AS height
        |FROM documents""".stripMargin,

    // FLOOR(x + 0.5) pins half-up rounding to match the JVM's math.round
    "m_resize" ->
      """WITH dims AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        |    CAST(64 + (doc_id % 8) * 16 AS INT) AS w0,
        |    CAST(64 + (doc_id % 5) * 16 AS INT) AS h0
        |  FROM documents)
        |SELECT doc_id, format,
        |  CAST(CASE WHEN GREATEST(w0, h0) <= 100 THEN w0
        |    ELSE GREATEST(1, CAST(FLOOR(w0 * 100.0 / GREATEST(w0, h0) + 0.5) AS INT))
        |  END AS INT) AS width,
        |  CAST(CASE WHEN GREATEST(w0, h0) <= 100 THEN h0
        |    ELSE GREATEST(1, CAST(FLOOR(h0 * 100.0 / GREATEST(w0, h0) + 0.5) AS INT))
        |  END AS INT) AS height
        |FROM dims""".stripMargin,

    "m_features" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        |  CAST(1 + (doc_id % 4) AS INT) AS frames
        |FROM documents""".stripMargin)
}
