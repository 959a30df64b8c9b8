package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ingest.ExtractFunctions._

/** The built link graph: node + edge relations, ready for algorithms.
  * `edges` are distinct `(src, dst)` pairs; both node endpoints exist. */
case class LinkGraph(
    pages: Dataset[Page],
    edges: Dataset[Edge],
    statsBefore: GraphStats,
    statsAfter: GraphStats,
    reversedTable: Option[Dataset[Edge]] = None) {

  /** Transpose (in-edge view) — the reference materializes this eagerly
    * (`WikiRoutes.kt:126-162`, `SegmentWikiGraphSerialization.kt:88-140`);
    * one shuffle buys shuffle-free backward BFS expansion. A graph opened
    * from committed tables ([[GraphTables.open]]) carries the PERSISTED
    * transpose (`edges_by_dst`) in `reversedTable`, so the query path never
    * re-derives it with a shuffle; a freshly-built graph derives it lazily. */
  def reversed: Dataset[Edge] = reversedTable.getOrElse {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select($"dst".as("src"), $"src".as("dst")).as[Edge]
  }

  def adjacencyOut: Dataset[Adjacency] = EdgeTable.packAdjacency(edges)
  def adjacencyIn: Dataset[Adjacency] = EdgeTable.packAdjacency(reversed)
}

/**
 * ETL: `pages_raw(url, warc_ts, html, text, lang)` → [[LinkGraph]].
 *
 * The Spark-first re-expression of the reference's single-threaded
 * parse-and-pointer-fix pipeline (`WikiProcessor.kt:32-261`):
 *  - per-page link extraction   → narrow `select` with extraction UDFs (P3)
 *  - title→id `HashMap` + `PagePointer` late binding (J1) → an equi-join
 *    after the full scan (no placeholder machinery needed in a 2-pass job)
 *  - dangling-link drop (P6)    → the same join's inner semantics
 *  - redirect-loop drop (P7)    → iterative self-join chain resolution
 *  - dense id assignment        → [[Dictionary.assignIds]] (sorted-url order)
 *  - A1 statistics gathered while parsing (`WikiProcessor.kt:174-222`) →
 *    `Dataset.observe` (Catalyst `CollectMetrics`) on the passes that fill
 *    the extract cache, the pages checkpoint and the edge relation, so no
 *    statistic runs an aggregate of its own; each redirect step is one
 *    action
 *
 * DIVERGENCE (deliberate, documented): the reference's `dropRedirectLoops`
 * (`WikiProcessor.kt:133-172`) mutates pointers during map iteration, so
 * which cycle members survive depends on hash-map order (its own test
 * `WikiLinksTest.kt:77-96` encodes 2-of-3 surviving purely due to insertion
 * order). A parallel engine must be order-independent, so our semantic is:
 * a redirect survives iff following its chain through the ORIGINAL redirect
 * set reaches an existing non-redirect article; cycles, chains into cycles,
 * and chains to missing pages are all dropped (SURVEY.md §7.4).
 */
object GraphBuilder {

  /** Max redirect-chain length chased before declaring a cycle. */
  val MaxChain = 32

  /**
   * @param pageFilter predicate over the raw columns, applied before
   *        extraction — the analog of the reference's main-namespace filter
   *        (`WikiProcessor.kt:44`, P1), e.g. `$"lang" === "en"` or a
   *        content-type rule. Pushed into the scan by Catalyst.
   */
  def build(raw: DataFrame, smallIds: Boolean = false,
      pageFilter: org.apache.spark.sql.Column = lit(true)): LinkGraph = {
    val spark = raw.sparkSession
    import spark.implicits._

    // 1. Extract: one narrow pass; html pruned immediately after.
    //    Duplicate urls (re-crawls) resolved to the latest warc_ts
    //    deterministically (ties broken by html hash). The pre-cleanup A1
    //    statistics are observed on this pass as it fills the cache.
    val (extractedView, before) = observed(raw
      .filter(pageFilter)
      .select(
        normalize_url($"url").as("url"),
        $"warc_ts",
        xxhash64($"html").as("__tiebreak"),
        extract_redirect($"html", $"url").as("redirect_to"),
        extract_links($"html", $"url").as("links"))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"url")
          .orderBy($"warc_ts".desc, $"__tiebreak".desc)))
      .filter($"__rn" === 1)
      .drop("__rn", "__tiebreak", "warc_ts"),
      count(when($"redirect_to".isNull, 1)).as("articles"),
      count(when($"redirect_to".isNotNull, 1)).as("redirects"),
      coalesce(sum(when($"redirect_to".isNull, size($"links")).otherwise(1L)),
        lit(0L)).as("links"))
    val extracted = extractedView.persist(StorageLevel.MEMORY_AND_DISK)
    extracted.count()
    val statsBefore = {
      val m = before()
      GraphStats(m("articles"), m("redirects"), m("links"), nullLinkCount = 0L)
    }

    val articles = extracted.filter($"redirect_to".isNull)
      .select($"url", $"links")
    val redirects = extracted.filter($"redirect_to".isNotNull)
      .select($"url", $"redirect_to")

    // 2. Redirect chain resolution (P7). Driver-looped self-joins: state is
    //    (url, cur) where cur is where the chain currently points. A row is
    //    done when cur is an article or missing; rows still pointing at a
    //    redirect after MaxChain steps are cycles. Chain lengths are tiny in
    //    practice, and each step is one hash join on the (small) redirect set.
    val redirectMap = redirects.select($"url".as("r_url"), $"redirect_to".as("r_tgt"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val articleUrls = articles.select($"url".as("a_url"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    //    One action per step: the classified rows are localCheckpoint-ed,
    //    which keeps the plan O(1)-deep (SURVEY.md §7.4 risk 3), and the
    //    count of rows still chasing is observed on that same pass; the next
    //    state is a filter of the checkpoint. Columns are joined by their
    //    (distinct) names: the first state is a projection of `redirectMap`.
    //    Termination: every iteration, the chain member closest to a terminal
    //    resolves (distances are downward closed — intermediate chain members
    //    are themselves rows), so a non-decreasing `remaining` means only
    //    cycles are left ⇒ drop them and stop.
    var state = redirectMap.select($"r_url".as("url"), $"r_tgt".as("cur"))
    var okUrls = spark.emptyDataset[String].toDF("url")
    var iter = 0
    var remaining = statsBefore.redirectCount
    var prevRemaining = Long.MaxValue
    while (remaining > 0 && remaining < prevRemaining && iter < MaxChain) {
      // classify cur: redirect -> keep chasing; article -> ok; missing -> dead
      val (clsView, chasing) = observed(state
        .join(redirectMap, $"cur" === $"r_url", "left")
        .join(articleUrls, $"cur" === $"a_url", "left")
        .select($"url", $"cur", $"r_tgt", $"a_url"),
        count(when($"r_tgt".isNotNull, 1)).as("n"))
      val cls = clsView.localCheckpoint(true)
      okUrls = okUrls.union(
        cls.filter($"r_tgt".isNull && $"a_url".isNotNull).select($"url"))
      state = cls.filter($"r_tgt".isNotNull).select($"url", $"r_tgt".as("cur"))
      prevRemaining = remaining
      remaining = chasing()("n")
      iter += 1
    }
    // anything still chasing = cycle or chain-into-cycle ⇒ dropped. Each
    // state row yields one classified row (r_url and a_url are unique keys)
    // and leaves the state once resolved, so `okUrls` is already distinct:
    // a union of filters over the step checkpoints, not materialized again.
    val liveRedirects = redirectMap
      .join(okUrls, $"r_url" === $"url", "left_semi")
      .select($"r_url".as("url"), $"r_tgt".as("redirect_to"))

    // 3. Node relation + dense ids (sorted-url order).
    val nodes = articles.select($"url", lit(false).as("isRedirect"))
      .union(liveRedirects.select($"url", lit(true).as("isRedirect")))
    val (withIds, releaseDict) =
      if (smallIds) (Dictionary.assignIdsSmall(nodes, "url"), () => ())
      else Dictionary.assignIdsWithHandle(nodes, "url")
    // localCheckpoint (not persist): materializes AND severs lineage, so the
    // dictionary's internal cache can be released immediately; the
    // post-cleanup node counts are observed on the same pass
    val (pagesView, after) = observed(withIds.select($"id", $"url", $"isRedirect"),
      count(when(!$"isRedirect", 1)).as("articles"),
      count(when($"isRedirect", 1)).as("redirects"))
    val pages = pagesView.as[Page].localCheckpoint(true)
    releaseDict()

    // 4. Edge relation: explode article links + redirect single-edges, then
    //    resolve BOTH endpoints against pages (inner join drops dangling, P6).
    //    Per-source dedup (P5) via distinct. nullLinkCount after cleanup =
    //    raw link occurrences whose target is not a live page: rows observed
    //    before the endpoint joins minus rows after them (every src_url
    //    resolves — it is an article or a surviving redirect).
    val (rawEdges, rawCount) = observed(articles
      .select($"url".as("src_url"), explode($"links").as("dst_url"))
      .union(liveRedirects.select($"url".as("src_url"), $"redirect_to".as("dst_url"))),
      count(lit(1)).as("n"))
    val pSrc = pages.select($"id".as("src"), $"url".as("src_url"))
    val pDst = pages.select($"id".as("dst"), $"url".as("dst_url"))
    val (resolvedEdges, resolved) = observed(rawEdges
      .join(pSrc, "src_url")
      .join(pDst, "dst_url"),
      count(lit(1)).as("n"))
    val edges = resolvedEdges
      .select($"src", $"dst")
      .distinct()
      .as[Edge]
      .persist(StorageLevel.MEMORY_AND_DISK)
    val linkCount = edges.count()

    val statsAfter = {
      val m = after()
      GraphStats(
        articleCount = m("articles"),
        redirectCount = m("redirects"),
        linkCount = linkCount,
        nullLinkCount = rawCount()("n") - resolved()("n"))
    }

    // every ETL-scoped cache released; `edges` stays persisted (it is the
    // returned product the caller queries), `pages` is checkpointed
    extracted.unpersist()
    redirectMap.unpersist()
    articleUrls.unpersist()
    LinkGraph(pages, edges, statsBefore, statsAfter)
  }

  /** `df` with `metrics` observed on it (Catalyst `CollectMetrics`), and a
    * reader of those metrics by name that blocks until the action running
    * the observed plan has reported. Each metric must be non-null on empty
    * input (`count(when(..))`, a coalesced sum). AQE drops a finished stage
    * from its final plan when a stage above it came out empty; the
    * observation then completes without metrics, and the reader computes
    * them with `df.agg` as an action of its own. */
  private def observed(df: DataFrame, metrics: Column*)
      : (DataFrame, () => Map[String, Long]) = {
    val o = Observation()
    lazy val values: Map[String, Long] = {
      val seen = o.get
      val row = if (seen.nonEmpty) seen else {
        val r = df.agg(metrics.head, metrics.tail: _*).head()
        r.getValuesMap[Any](r.schema.fieldNames.toSeq)
      }
      row.map { case (k, v) => k -> v.asInstanceOf[Long] }
    }
    (df.observe(o, metrics.head, metrics.tail: _*), () => values)
  }
}
