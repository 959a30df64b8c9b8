package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators over the `documents` table — the standard
 * web-corpus dedup ladder, each scalable by construction:
 *
 *  - exact:         one hash-groupBy on a content digest (no pairwise work)
 *  - n-gram Jaccard: shingle inverted index ⇒ pair candidates share ≥1
 *                    shingle; intersection counts by join+agg (never a
 *                    cross join)
 *  - MinHash + LSH:  k-minhash signature in ONE pass (k parallel min aggs,
 *                    single shuffle), banding ⇒ bucket join ⇒ verify
 *  - SimHash:        64-bit signature, near-dup = small Hamming distance,
 *                    banded by 16-bit quarters for the candidate join
 *  - embedding near-dup: cosine ≥ τ via [[Similarity]] primitives
 *
 * Portability rule: exact/Jaccard/MinHash are built on md5 + whitespace
 * shingles so the DuckDB oracle reproduces them bit-for-bit; SimHash uses
 * JVM hashing and is verified against a driver oracle in ScalaTest.
 */
object Dedup {

  // ---------------------------------------------------------------------------
  // Exact dedup
  // ---------------------------------------------------------------------------

  /** Exact duplicates by content digest: returns (id, canonical_id) for every
    * row, canonical = min id within the digest group. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val digests = docs.select(col(idCol).as("id"),
      TextAnalysis.fingerprintMd5(col(textCol)).as("digest"))
    val canon = digests.groupBy($"digest").agg(min($"id").as("canonical_id"))
    digests.join(canon, "digest").select($"id", $"canonical_id")
  }

  /**
   * Near-dup cluster canonicalization — the pipeline stage AFTER pair
   * generation: treat (a, b) near-duplicate pairs as undirected edges, find
   * connected components ([[graft.algo.ConnectedComponents]], large/small-
   * star — the same O(log n)-round operator the graph suite ships), and map
   * every document to its cluster's minimum id. Docs in no pair map to
   * themselves. This is how a dedup pass actually ends at corpus scale:
   * keep one representative per transitive-duplicate cluster, not per pair.
   */
  /** Pair count at or below which [[canonicalize]]/[[canonicalizeWarm]]
    * run the driver union-find instead of distributed large/small-star:
    * a near-dup PAIR graph is tiny relative to its corpus (that is the
    * point of dedup), and each distributed CC round costs several
    * fixed-overhead jobs — the same threshold-gated small-input pattern as
    * [[graft.query.InMemoryBfs]]. Both paths produce identical labels
    * (min-id representative; asserted in PipelineSpec/AlgoSpec). */
  val SmallGraphPairs = 200000L

  /** Driver union-find over (a, b) edges → id → component-min mapping,
    * for pair graphs under [[SmallGraphPairs]]. */
  private def unionFindLabels(es: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    es.iterator.flatMap(e => Iterator(e._1, e._2)).map(x => x -> find(x)).toMap
  }

  /** Left-join `verts` against a driver-computed label map (docs in no pair
    * map to themselves). */
  private def labelsToFrame(verts: DataFrame, labels: Map[Long, Long]): DataFrame = {
    val spark = verts.sparkSession
    import spark.implicits._
    val mapDf = broadcast(labels.toSeq.toDF("id", "cid"))
    verts.join(mapDf, Seq("id"), "left")
      .select($"id", coalesce($"cid", $"id").as("canonical_id"))
  }

  def canonicalize(docs: DataFrame, idCol: String, pairs: DataFrame,
      smallGraphPairs: Long = SmallGraphPairs): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val verts = docs.select(col(idCol).cast("long").as("id"))
    val edges = pairs.select($"a".cast("long").as("src"), $"b".cast("long").as("dst"))
    if (edges.limit((smallGraphPairs + 1).toInt).count() <= smallGraphPairs) {
      labelsToFrame(verts, unionFindLabels(
        edges.as[(Long, Long)].collect()))
    } else
      graft.algo.ConnectedComponents.run(verts, edges.as[graft.graph.Edge])
        .components.select($"id", $"component".as("canonical_id"))
  }

  /**
   * Warm canonicalization for a GROWN corpus: the previous run's
   * (id, canonical_id) labels + only the pairs involving new documents —
   * [[graft.algo.ConnectedComponents.warmStart]] under the hood. Near-dup
   * pairs are monotone (new docs add pairs, never remove them), so the
   * result is IDENTICAL to re-running [[canonicalize]] over all pairs
   * (asserted in tests), at O(|docs| + |new pairs|) per round instead of
   * O(|all pairs|), and in fewer rounds (the previous labels are already a
   * fixpoint wherever the delta doesn't touch).
   */
  def canonicalizeWarm(docs: DataFrame, idCol: String, newPairs: DataFrame,
      prevCanonical: DataFrame,
      smallGraphPairs: Long = SmallGraphPairs): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val verts = docs.select(col(idCol).cast("long").as("id"))
    val prev = prevCanonical.select($"id".cast("long").as("id"),
      $"canonical_id".cast("long").as("component"))
    val delta = newPairs.select($"a".cast("long"), $"b".cast("long"))
    // small-graph fast path: the warm seed's star forest (non-root rows
    // only, ≤ |prev docs|) + the delta, one driver union-find — same bound
    // discipline as the cold path (stars counted, never assumed small)
    val stars = prev.filter($"id" =!= $"component")
    val seedEdges = stars.union(delta)
    if (seedEdges.limit((smallGraphPairs + 1).toInt).count() <= smallGraphPairs) {
      labelsToFrame(verts, unionFindLabels(
        seedEdges.as[(Long, Long)].collect()))
    } else
      graft.algo.ConnectedComponents.warmStart(verts,
          delta.toDF("src", "dst").as[graft.graph.Edge], prev)
        .components.select($"id", $"component".as("canonical_id"))
  }

  /**
   * The dedup ladder's end-cap: the corpus with every non-canonical
   * duplicate DROPPED — one row per cluster, the row whose id is the
   * cluster's canonical label (min id by [[canonicalize]]'s convention;
   * singletons are their own label, so untouched docs pass through).
   * `labels` is the (id, canonical_id) frame from [[canonicalize]] /
   * [[canonicalizeWarm]]. A left-semi equi-join on the id key: the keep
   * set carries only ids (never doc bytes), both sides shuffle on the
   * same key, and dropped rows ship nothing downstream — the shape that
   * holds when docs are 100 TB and labels are billions of longs.
   */
  def keepCanonical(docs: DataFrame, idCol: String, labels: DataFrame): DataFrame = {
    val keep = labels.where(col("id") === col("canonical_id")).select(col("id"))
    docs.join(keep, docs(idCol) === keep("id"), "left_semi")
  }

  // ---------------------------------------------------------------------------
  // Word-shingle machinery (shared by Jaccard and MinHash)
  // ---------------------------------------------------------------------------

  /** Word n-gram shingles as an array column (space-joined token windows) —
    * the PORTABLE reference formulation (mirrors the DuckDB oracle CTE).
    * Not the hot path: `transform`/`slice` are higher-order functions, which
    * Catalyst interprets per window (CodegenFallback); [[shingleSeq]] is the
    * single-pass kernel [[docShingles]] actually runs, parity-tested against
    * this formulation in PipelineSpec. */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextAnalysis.tokens(text)
    when(size(toks) < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  private val WsRunPat = java.util.regex.Pattern.compile("\\s+")

  /** One-pass distinct-shingle kernel, replicating [[shingles]] +
    * `array_distinct` exactly: Spark SQL `trim` strips SPACE (U+0020) only
    * (NOT Java's ≤ 0x20 trim), and Spark `split` is Java split with
    * limit -1. Measured: the interpreted HOF formulation cost more than the
    * whole downstream candidate join at sf0.1 (2.8–4.1 s of a ~5 s query). */
  private[pipeline] def shingleSeq(text: String, n: Int): Seq[String] = {
    if (text == null) return Seq.empty
    var lo = 0
    var hi = text.length
    while (lo < hi && text.charAt(lo) == ' ') lo += 1
    while (hi > lo && text.charAt(hi - 1) == ' ') hi -= 1
    val toks = WsRunPat.split(text.subSequence(lo, hi), -1)
    if (toks.length < n) return Seq.empty
    val seen = new java.util.LinkedHashSet[String]((toks.length - n + 1) * 2)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    import scala.jdk.CollectionConverters._
    seen.iterator().asScala.toSeq
  }

  private val shingleUdf = udf((s: String, n: Int) => shingleSeq(s, n))

  /** (id, shingle) distinct pairs — the inverted-index edge list. Dedup is
    * per-doc and NARROW (inside [[shingleSeq]], before the explode), where
    * `explode(...).distinct()` would shuffle every exploded posting; the two
    * are equivalent because ids are unique per input row, so cross-row
    * (id, shingle) duplicates cannot exist — and the DuckDB oracle's
    * `list_distinct` is already the per-doc formulation.
    *
    * PRECONDITION: `idCol` is a primary key (the documents-table contract,
    * and exactly the assumption the oracle CTE makes). A corpus with
    * duplicate ids must be exact-deduped first ([[exact]] keys on content,
    * not id) — duplicate id rows would double-post their shingles and
    * inflate Jaccard intersection AND size counts. */
  def docShingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    docs.select(col(idCol).as("id"),
      explode(shingleUdf(col(textCol), lit(n))).as("shingle"))
  }

  /** Candidate pairs (a < b) sharing ≥ 1 retained shingle, with the common
    * count. Cost is Σ postings² per shingle — `maxPostings` drops ubiquitous
    * shingles (the classic stop-shingle cut), bounding each term at
    * maxPostings²; disabled when ≤ 0.
    *
    * RECALL trade-off when enabled: a pair whose ONLY shared shingles are
    * ubiquitous ones generates no candidate — but such a pair's Jaccard is
    * ≤ (dropped shingles)/|union|, tiny for any useful threshold, so the cut
    * is near-lossless in practice while turning the worst case from
    * corpus-quadratic into maxPostings-quadratic. */
  def jaccardCandidates(ds: DataFrame, maxPostings: Long = 0L): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    val postings =
      if (maxPostings > 0)
        ds.join(ds.groupBy($"shingle").agg(count(lit(1)).as("pc"))
          .filter($"pc" <= maxPostings), "shingle")
          .select($"id", $"shingle")
      else ds
    // SHUFFLE_HASH: the self-join's sides are identical in size and the
    // sort-merge default pays two O(postings log postings) string sorts
    // that a per-partition hash build skips (measured 1.7 → 0.8 s at
    // sf0.1, guide §3.1). Per-partition build memory is bounded by the
    // maxPostings stop cut + shuffle partition count, and AQE skew-join
    // splits oversized partitions for SHJ too.
    postings.select($"id".as("a"), $"shingle").hint("shuffle_hash")
      .join(postings.select($"id".as("b"), $"shingle"), "shingle")
      .filter($"a" < $"b")
      .groupBy($"a", $"b").agg(count(lit(1)).as("common"))
  }

  /** Jaccard ≥ threshold filter over (a, b, common) candidates. */
  private def jaccardFilter(common: DataFrame, sizes: DataFrame,
      threshold: Double): DataFrame = {
    val spark = common.sparkSession
    import spark.implicits._
    common
      .join(sizes.select($"id".as("a"), $"sz".as("sza")), "a")
      .join(sizes.select($"id".as("b"), $"sz".as("szb")), "b")
      .filter($"common".cast("double") /
        ($"sza" + $"szb" - $"common").cast("double") >= threshold)
      .select($"a", $"b")
  }

  /**
   * n-gram Jaccard near-duplicates: all pairs (a < b) with
   * |Sa ∩ Sb| / |Sa ∪ Sb| ≥ threshold. Candidates generated from the
   * shingle inverted index (common-shingle join, [[jaccardCandidates]]),
   * never a cross join. Eager: the result is materialized so the internal
   * shingle cache can be released before returning.
   */
  def jaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8, maxPostings: Long = 0L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ds = docShingles(docs, idCol, textCol, n).persist()
    val sizes = ds.groupBy($"id").agg(count(lit(1)).as("sz"))
    val out = jaccardFilter(jaccardCandidates(ds, maxPostings), sizes, threshold)
      .localCheckpoint(true)
    ds.unpersist()
    out
  }

  /**
   * Shared-passage near-duplicate pairs over winnowing fingerprints — the
   * query a contamination/overlap audit actually runs: doc pairs (a < b)
   * sharing ≥ `minShared` distinct fingerprints from
   * [[TextAnalysis.winnowFingerprints]]. Whole-doc digests and shingle
   * Jaccard miss a copied PARAGRAPH inside otherwise-different documents;
   * winnowing's guarantee makes it visible — any shared passage of
   * ≥ k + w - 1 characters contributes at least one shared fingerprint, so
   * `minShared = 1` has full recall on such passages and higher values
   * demand proportionally longer (or repeated) overlap.
   *
   * Same inverted-index shape as [[jaccardCandidates]] (postings equi-join,
   * never a cross join), including the stop cut: `maxPostings` drops
   * fingerprints posted by more than that many docs — at corpus scale those
   * are boilerplate (headers, license blurbs), not evidence of a shared
   * passage, and they are exactly the postings² terms that blow up the join.
   * Output: (a, b, shared).
   */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 6, minShared: Long = 2L,
      maxPostings: Long = 0L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val fps = TextAnalysis.winnowFingerprints(docs, idCol, textCol, k, w)
      .select($"id", $"fp".as("shingle")).persist()
    val out = jaccardCandidates(fps, maxPostings)
      .select($"a", $"b", $"common".as("shared"))
      .filter($"shared" >= minShared)
      .localCheckpoint(true)
    fps.unpersist()
    out
  }

  /**
   * Matched-passage span report — the detail view behind [[winnowPairs]] a
   * contamination audit reads next: for every qualifying pair, each shared
   * fingerprint with its selected 1-based gram positions in BOTH documents
   * (where the shared passage sits in a, and where in b). One winnow pass
   * feeds both the pair decision and the span join (the selection table is
   * persisted, not recomputed). Output: (a, b, fp, pos_a, pos_b); a
   * fingerprint selected at several positions in a document reports every
   * position (the audit wants all occurrences).
   */
  def winnowPairSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 6, minShared: Long = 2L,
      maxPostings: Long = 0L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sel = TextAnalysis.winnow(docs, idCol, textCol, k, w).persist()
    val fps = sel.select($"id", $"fp").distinct()
    val pairs = jaccardCandidates(fps.select($"id", $"fp".as("shingle")), maxPostings)
      .filter($"common" >= minShared)
      .select($"a", $"b")
    val out = pairs
      .join(sel.select($"id".as("a"), $"pos".as("pos_a"), $"fp"), "a")
      .join(sel.select($"id".as("b"), $"pos".as("pos_b"), $"fp"), Seq("b", "fp"))
      .select($"a", $"b", $"fp", $"pos_a", $"pos_b")
      .localCheckpoint(true)
    sel.unpersist()
    out
  }

  // ---------------------------------------------------------------------------
  // Build-once / append-many: the committed fingerprint index.
  // Composed with [[canonicalizeWarm]], the dedup ladder is incremental
  // END-TO-END: new batch → appendToFingerprintIndex (O(batch) winnow) →
  // winnowPairsIncremental (new-vs-all postings join, never old×old) →
  // canonicalizeWarm (stars + delta). A continuously-ingesting corpus never
  // re-fingerprints, re-pairs, or re-clusters what it already processed.
  // ---------------------------------------------------------------------------

  /** Commit a corpus's winnow-fingerprint postings (id, fp) as a BUCKETED
    * Iceberg-lite table hashed on `fp` into `buckets` files: every
    * batch-vs-corpus join in [[winnowPairsIncremental]] then reads the
    * corpus side pre-partitioned (Spark bucket co-location) and shuffles
    * ONLY the batch — the O(corpus-bytes) shuffle term the round-5 range
    * layout paid per increment is gone by layout. The bucket column is
    * EXACTLY the join key, deliberately: Spark only lets an existing
    * partitioning stand in for a join-side shuffle when it covers the full
    * cluster keys (`HashShuffleSpec.canCreatePartitioning`), so the
    * round-5 (hash, string) composite — hash for stats, string for
    * exactness — would be re-shuffled despite the buckets (measured in
    * ScalePlanSpec before this layout landed). (k, w) live in the snapshot
    * properties so appends can never disagree with the build. */
  def buildFingerprintIndex(docs: DataFrame, idCol: String, textCol: String,
      warehouse: String, table: String = "fp_index",
      k: Int = 8, w: Int = 6, buckets: Int = 16): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val fps = graft.pipeline.TextAnalysis
      .winnowFingerprints(docs, idCol, textCol, k, w)
    val cat = new graft.tables.IcebergLite(warehouse)
    cat.commit(fps, table, Map("k" -> k.toString, "w" -> w.toString),
      bucketBy = Some(("fp", buckets)))
    ()
  }

  /** The batch's (id, fp) postings at the COMMITTED (k, w). */
  private[graft] def batchFps(newDocs: DataFrame, idCol: String, textCol: String,
      snap: graft.tables.Snapshot): DataFrame = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    val (k, w) = (snap.properties("k").toInt, snap.properties("w").toInt)
    graft.pipeline.TextAnalysis
      .winnowFingerprints(newDocs, idCol, textCol, k, w)
  }

  /** Fast-append a new batch's fingerprints at the COMMITTED (k, w) —
    * O(batch) winnow work, parent postings untouched, batch rows landing in
    * their bucket files. Same id-is-a-primary-key precondition as
    * [[docShingles]], now across the table's lifetime. `compactOver` /
    * `expireKeep` bound file and snapshot growth over long append chains
    * (see [[maintain]]). */
  def appendToFingerprintIndex(newDocs: DataFrame, idCol: String,
      textCol: String, warehouse: String, table: String = "fp_index",
      extraProps: Map[String, String] = Map.empty,
      compactOver: Int = 0, expireKeep: Int = 0): Unit = {
    val spark = newDocs.sparkSession
    val cat = new graft.tables.IcebergLite(warehouse)
    val snap = cat.currentSnapshot(table).getOrElse(
      throw graft.tables.NoSuchTable(
        s"no committed $table under $warehouse — buildFingerprintIndex first"))
    val inherited = snap.properties - "appendedRows"
    cat.append(batchFps(newDocs, idCol, textCol, snap), table,
      inherited ++ extraProps)
    cat.maintain(spark, table, compactOver, expireKeep)
  }

  /**
   * Incremental shared-passage pairs: returns EXACTLY the [[winnowPairs]]
   * rows that involve at least one new document — (a, b, shared ≥
   * minShared) — and appends `newDocs` to the committed fingerprint index,
   * so
   *
   *   winnowPairs(old) ∪ winnowPairsIncremental(new)  ==  winnowPairs(all)
   *
   * (disjoint by construction: previous pairs have both ends old; asserted
   * exactly in PipelineSpec, and end-to-end as the `d_passages_incr`
   * oracle). Work is the new batch's postings joined against old + new —
   * O(|new fps| × postings-per-fp) — the old×old quadrant is NEVER
   * recomputed, and the corpus side arrives through [[
   * graft.tables.IcebergLite.readBucketed]]: pre-partitioned on `fp`, so
   * the join shuffles ONLY the batch (asserted in ScalePlanSpec). The
   * result is MATERIALIZED before the append lands — the committed state
   * the join read is strictly pre-batch, which is what makes
   * compute-then-append safe (a crash mid-call leaves the index without
   * the batch and the caller simply retries).
   *
   * The `maxPostings` stop cut, when enabled, counts over the full
   * post-append postings restricted to the batch's fingerprints (complete
   * because restriction is an exact equi-join, not pruning), matching a
   * from-scratch [[winnowPairs]] over the union.
   */
  def winnowPairsIncremental(newDocs: DataFrame, idCol: String,
      textCol: String, warehouse: String, table: String = "fp_index",
      minShared: Long = 2L, maxPostings: Long = 0L,
      compactOver: Int = 0, expireKeep: Int = 0): DataFrame = {
    val spark = newDocs.sparkSession
    val cat = new graft.tables.IcebergLite(warehouse)
    val snap = cat.currentSnapshot(table).getOrElse(
      throw graft.tables.NoSuchTable(
        s"no committed $table under $warehouse — buildFingerprintIndex first"))
    val fresh0 = batchFps(newDocs, idCol, textCol, snap).persist()
    val out = winnowIncrPlan(cat, table, fresh0, minShared, maxPostings)
      .localCheckpoint(true) // materialize BEFORE the append mutates the table
    cat.append(fresh0, table, snap.properties - "appendedRows")
    fresh0.unpersist()
    cat.maintain(spark, table, compactOver, expireKeep)
    out
  }

  /** The LAZY incremental-pair plan over an already-computed batch postings
    * frame and the committed corpus state — the seam plan audits and the
    * Exchange-placement spec read ([[winnowPairsIncremental]] materializes
    * it, then appends). */
  private[graft] def winnowIncrPlan(cat: graft.tables.IcebergLite,
      table: String, fresh0: DataFrame, minShared: Long,
      maxPostings: Long): DataFrame = {
    val spark = fresh0.sparkSession
    import spark.implicits._
    val old0 = cat.readBucketed(spark, table)
    val (fresh, old) =
      if (maxPostings > 0) {
        // the cut decision is only ever consulted for fingerprints the
        // batch carries (candidates require a shared fp with the batch):
        // restrict the corpus to those first — an `fp` equi-join the
        // bucketed layout runs without a corpus-side Exchange — then count
        // postings over restricted-old ∪ batch. Every downstream join keys
        // on `fp` too, so the corpus side is shuffled exactly zero times
        // per increment.
        val freshKeys = fresh0.select($"fp").distinct()
        // the restricted corpus feeds BOTH the count and the pair join —
        // checkpoint it (lazily: plan audits must stay action-free) so the
        // corpus is scanned once per increment, not once per consumer
        // (measured: the double scan tripled the increment wall at 50k docs)
        val oldB = old0.select($"id", $"fp").join(freshKeys, "fp")
          .localCheckpoint(false)
        val pc = oldB.select($"fp").union(fresh0.select($"fp"))
          .groupBy($"fp").agg(count(lit(1)).as("pc"))
          .filter($"pc" <= maxPostings).select($"fp")
        (fresh0.join(pc, "fp"), oldB.join(pc, "fp"))
      } else (fresh0, old0)
    // new×old (sides disjoint — no orientation dup) plus new×new (a < b):
    // every ≥1-new pair appears exactly once per shared fingerprint.
    // SHUFFLE_HASH with the O(batch) side as build: skips the per-side
    // sorts of the sort-merge default (the jaccardCandidates measurement),
    // and the bucketed corpus side still reaches the join Exchange-free
    // (hash distribution satisfied by layout; ScalePlanSpec-gated)
    val newOld = fresh.select($"id".as("x"), $"fp").hint("shuffle_hash")
      .join(old.select($"id".as("y"), $"fp"), "fp")
      .select(least($"x", $"y").as("a"), greatest($"x", $"y").as("b"))
    val newNew = fresh.select($"id".as("a"), $"fp").hint("shuffle_hash")
      .join(fresh.select($"id".as("b"), $"fp"), "fp")
      .filter($"a" < $"b")
      .select($"a", $"b")
    newOld.union(newNew)
      .groupBy($"a", $"b").agg(count(lit(1)).as("shared"))
      .filter($"shared" >= minShared)
  }

  /** Commit a corpus's word-shingle postings (id, shingle) + the
    * `<table>_sizes` sidecar (id, sz — distinct shingles per doc) — the
    * committed substrate for [[jaccardPairsIncremental]]; `n` recorded in
    * the snapshot properties. Same layout discipline as
    * [[buildFingerprintIndex]] (bucket column == join key, exactly):
    * postings BUCKETED on `shingle` so batch-vs-corpus joins shuffle only
    * the batch; the sizes sidecar bucketed on `id` for the same reason
    * (the verify step joins candidate endpoints against it). */
  def buildShingleIndex(docs: DataFrame, idCol: String, textCol: String,
      warehouse: String, table: String = "shingle_index",
      n: Int = 3, buckets: Int = 16): Unit = {
    val spark = docs.sparkSession
    val ds = docShingles(docs, idCol, textCol, n)
    val cat = new graft.tables.IcebergLite(warehouse)
    val props = Map("n" -> n.toString)
    cat.commit(ds, table, props, bucketBy = Some(("shingle", buckets)))
    cat.commitSidecar(spark, table, s"${table}_sizes", props,
      bucketBy = Some(("id", math.max(2, buckets / 2))))(sizesOf)
    ()
  }

  /** The batch's (id, shingle) postings at the committed `n`. */
  private[graft] def batchShingles(newDocs: DataFrame, idCol: String, textCol: String,
      snap: graft.tables.Snapshot): DataFrame = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    docShingles(newDocs, idCol, textCol, snap.properties("n").toInt)
  }

  /** Append a batch's pre-computed postings, then bring the sizes sidecar
    * level through the self-healing walk (shared by the public append and
    * the incremental pair path, which has the postings in hand already). */
  private[graft] def appendShingleRows(cat: graft.tables.IcebergLite, ds: DataFrame,
      table: String, snapProps: Map[String, String],
      extraProps: Map[String, String]): Unit = {
    cat.append(ds, table, snapProps - "appendedRows" ++ extraProps)
    healSizesSidecar(ds.sparkSession, cat, table)
  }

  /** The `<table>_sizes` sidecar format: distinct shingles per doc. Exact
    * per appended delta because doc ids are a primary key across the
    * table's lifetime — a doc's postings land in exactly one append. */
  private def sizesOf(postings: DataFrame): DataFrame =
    postings.groupBy(col("id")).agg(count(lit(1)).as("sz"))

  /** Bring a committed postings table's `<table>_sizes` sidecar level with
    * it ([[graft.tables.IcebergLite.syncSidecar]]): the postings append and
    * the sizes append are two commits, and a crash between them would leave
    * incremental verify reading stale union sizes for the lost batch's
    * docs. */
  private[graft] def healSizesSidecar(spark: org.apache.spark.sql.SparkSession,
      cat: graft.tables.IcebergLite, table: String): Unit =
    cat.syncSidecar(spark, table, s"${table}_sizes")(sizesOf)

  /** Fast-append a new batch's shingle postings + sizes at the committed
    * `n` — O(batch), parent postings untouched. `compactOver`/`expireKeep`
    * bound file and snapshot growth over long append chains (the sizes
    * sidecar is maintained at the same cadence). */
  def appendToShingleIndex(newDocs: DataFrame, idCol: String, textCol: String,
      warehouse: String, table: String = "shingle_index",
      extraProps: Map[String, String] = Map.empty,
      compactOver: Int = 0, expireKeep: Int = 0): Unit = {
    val spark = newDocs.sparkSession
    val cat = new graft.tables.IcebergLite(warehouse)
    val snap = cat.currentSnapshot(table).getOrElse(
      throw graft.tables.NoSuchTable(
        s"no committed $table under $warehouse — buildShingleIndex first"))
    appendShingleRows(cat, batchShingles(newDocs, idCol, textCol, snap),
      table, snap.properties, extraProps)
    cat.maintain(spark, table, compactOver, expireKeep)
    cat.maintain(spark, s"${table}_sizes", compactOver, expireKeep)
  }

  /**
   * Incremental n-gram Jaccard pairs — [[winnowPairsIncremental]]'s twin
   * for the ladder's second pillar: returns EXACTLY the [[jaccardPairs]]
   * rows that involve at least one new document and appends `newDocs` to
   * the committed shingle index, so
   *
   *   jaccardPairs(old) ∪ jaccardPairsIncremental(new) == jaccardPairs(all)
   *
   * (disjoint by construction; unit-asserted, and driver-gated end-to-end
   * as the `d_jaccard_incr` oracle). Candidate work is new-vs-all — the
   * old×old quadrant is never recomputed — with the corpus side arriving
   * bucket-partitioned on `sh` (no corpus-side Exchange; asserted in
   * ScalePlanSpec). Union sizes come from the committed sizes sidecar for
   * old docs (bucketed on id) and from the batch's own postings for new
   * docs — never a corpus rescan; result materialized before the append
   * lands (see [[winnowPairsIncremental]] for why that ordering is the
   * safe one). The `maxPostings` cut, when enabled, counts over the full
   * post-append postings restricted to the batch's shingles, matching a
   * from-scratch run over the union. If a MinHash index shares this
   * shingle table as its postings substrate, compose the two pillars per
   * batch through [[ladderIncremental]] — back-to-back single-pillar calls
   * would append the shared substrate twice.
   */
  def jaccardPairsIncremental(newDocs: DataFrame, idCol: String,
      textCol: String, warehouse: String, table: String = "shingle_index",
      threshold: Double = 0.8, maxPostings: Long = 0L,
      compactOver: Int = 0, expireKeep: Int = 0): DataFrame = {
    val spark = newDocs.sparkSession
    val cat = new graft.tables.IcebergLite(warehouse)
    val snap = cat.currentSnapshot(table).getOrElse(
      throw graft.tables.NoSuchTable(
        s"no committed $table under $warehouse — buildShingleIndex first"))
    // close any postings/sizes crash gap BEFORE the verify step reads the
    // sizes sidecar (no-op when in lockstep)
    healSizesSidecar(spark, cat, table)
    val fresh0 = batchShingles(newDocs, idCol, textCol, snap).persist()
    val out = jaccardIncrPlan(cat, table, fresh0, threshold, maxPostings)
      .localCheckpoint(true) // materialize BEFORE the append mutates the table
    appendShingleRows(cat, fresh0, table, snap.properties, Map.empty)
    fresh0.unpersist()
    cat.maintain(spark, table, compactOver, expireKeep)
    cat.maintain(spark, s"${table}_sizes", compactOver, expireKeep)
    out
  }

  /** The LAZY incremental-Jaccard plan — [[winnowIncrPlan]]'s twin seam for
    * plan audits and the Exchange-placement spec. */
  private[graft] def jaccardIncrPlan(cat: graft.tables.IcebergLite,
      table: String, fresh0: DataFrame, threshold: Double,
      maxPostings: Long): DataFrame = {
    val spark = fresh0.sparkSession
    import spark.implicits._
    val old0 = cat.readBucketed(spark, table)
    val (fresh, old) =
      if (maxPostings > 0) {
        val freshKeys = fresh0.select($"shingle").distinct()
        // one corpus scan per increment — see winnowIncrPlan's note
        val oldB = old0.select($"id", $"shingle").join(freshKeys, "shingle")
          .localCheckpoint(false)
        val pc = oldB.select($"shingle").union(fresh0.select($"shingle"))
          .groupBy($"shingle").agg(count(lit(1)).as("pc"))
          .filter($"pc" <= maxPostings).select($"shingle")
        (fresh0.join(pc, "shingle"), oldB.join(pc, "shingle"))
      } else (fresh0, old0)
    // SHUFFLE_HASH, batch side as build — see winnowIncrPlan's note
    val newOld = fresh.select($"id".as("x"), $"shingle").hint("shuffle_hash")
      .join(old.select($"id".as("y"), $"shingle"), "shingle")
      .select(least($"x", $"y").as("a"), greatest($"x", $"y").as("b"))
    val newNew = fresh.select($"id".as("a"), $"shingle").hint("shuffle_hash")
      .join(fresh.select($"id".as("b"), $"shingle"), "shingle")
      .filter($"a" < $"b")
      .select($"a", $"b")
    val common = newOld.union(newNew)
      .groupBy($"a", $"b").agg(count(lit(1)).as("common"))
    // sizes: committed sidecar covers old docs (bucketed on id — no corpus
    // shuffle), the batch's own postings cover new docs; ids are a primary
    // key across the table's lifetime, so exactly one side matches
    val szOld = cat.readBucketed(spark, s"${table}_sizes")
    val szNew = fresh0.groupBy($"id").agg(count(lit(1)).as("szn"))
    common
      .join(szOld.select($"id".as("a"), $"sz".as("szaO")), Seq("a"), "left")
      .join(szNew.select($"id".as("a"), $"szn".as("szaN")), Seq("a"), "left")
      .join(szOld.select($"id".as("b"), $"sz".as("szbO")), Seq("b"), "left")
      .join(szNew.select($"id".as("b"), $"szn".as("szbN")), Seq("b"), "left")
      .withColumn("sza", coalesce($"szaN", $"szaO"))
      .withColumn("szb", coalesce($"szbN", $"szbO"))
      .filter($"common".cast("double") /
        ($"sza" + $"szb" - $"common").cast("double") >= threshold)
      .select($"a", $"b")
  }

  // ---------------------------------------------------------------------------
  // MinHash + LSH
  // ---------------------------------------------------------------------------

  /** k-function MinHash signature, one aggregation pass: hash_i(s) =
    * md5(i || '|' || s), minhash_i = lexicographic min (portable: string
    * min over md5 hex matches DuckDB exactly). Output: id, m0..m{k-1}. */
  private def signaturesFromShingles(ds: DataFrame, k: Int): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    val aggs = (0 until k).map(i =>
      min(md5(concat(lit(i.toString), lit("|"), $"shingle"))).as(s"m$i"))
    ds.groupBy($"id").agg(aggs.head, aggs.tail: _*)
  }

  def minhashSignatures(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 8): DataFrame =
    signaturesFromShingles(docShingles(docs, idCol, textCol, n), k)

  /**
   * MinHash-LSH candidate pairs: band the k-signature into `bands` groups of
   * k/bands rows; docs sharing any band digest are candidates; optional
   * exact-Jaccard verification pass keeps pairs ≥ threshold.
   *
   * The verify pass is CANDIDATE-RESTRICTED: each candidate pair joins back
   * to the per-doc shingle postings and counts its intersection directly —
   * work is O(|candidates| × doc shingles), never the corpus-wide
   * postings² of [[jaccardPairs]]. This is the whole point of LSH: the
   * banded buckets bound the pair set, the exact check only prices what the
   * buckets admitted. Eager: result materialized, internal caches released.
   */
  def minhashLshPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 8, bands: Int = 4,
      verifyThreshold: Double = -1.0): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val spark = docs.sparkSession
    import spark.implicits._
    val r = k / bands
    val ds = docShingles(docs, idCol, textCol, n).persist()
    val sigs = signaturesFromShingles(ds, k).persist()
    val bandCols = (0 until bands).map { b =>
      val cols = (b * r until (b + 1) * r).map(i => col(s"m$i"))
      struct(lit(b).as("band"), md5(concat_ws("|", cols: _*)).as("key"))
    }
    val buckets = sigs.select($"id", explode(array(bandCols: _*)).as("bk"))
      .select($"id", $"bk.band".as("band"), $"bk.key".as("key"))
    val cand = buckets.select($"id".as("a"), $"band", $"key")
      .join(buckets.select($"id".as("b"), $"band", $"key"), Seq("band", "key"))
      .filter($"a" < $"b")
      .select($"a", $"b").distinct()
    val result =
      if (verifyThreshold <= 0) cand
      else {
        // intersection counts for candidate pairs ONLY: explode each pair
        // through a's postings, keep rows where b also has the shingle
        val common = cand
          .join(ds.select($"id".as("a"), $"shingle"), "a")
          .join(ds.select($"id".as("b"), $"shingle"), Seq("b", "shingle"))
          .groupBy($"a", $"b").agg(count(lit(1)).as("common"))
        val sizes = ds.groupBy($"id").agg(count(lit(1)).as("sz"))
        jaccardFilter(common, sizes, verifyThreshold)
      }
    val out = result.localCheckpoint(true)
    sigs.unpersist()
    ds.unpersist()
    out
  }

  // ---------------------------------------------------------------------------
  // Build-once / append-many: the committed MinHash-LSH index — the third
  // pillar of the incremental dedup ladder (exact digests re-hash per batch
  // trivially; winnow and shingle postings got committed indexes in round 5;
  // the banded signature table had the same build-once economics and now
  // gets the same treatment).
  // ---------------------------------------------------------------------------

  /** Banded signature buckets (id, band, key, bk) over (id, shingle)
    * postings at the committed (k, bands): the same md5 band keys
    * [[minhashLshPairs]] derives, plus `bk` = `band|key` — a single
    * collision-free composite column (band is an int, key an md5 hex), so
    * the bucket layout's bucket-column-==-join-key rule holds with one
    * column. */
  private[graft] def bandBuckets(ds: DataFrame, k: Int, bands: Int): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    val r = k / bands
    val sigs = signaturesFromShingles(ds, k)
    val bandCols = (0 until bands).map { b =>
      val cols = (b * r until (b + 1) * r).map(i => col(s"m$i"))
      struct(lit(b).as("band"), md5(concat_ws("|", cols: _*)).as("key"))
    }
    sigs.select($"id", explode(array(bandCols: _*)).as("bs"))
      .select($"id", $"bs.band".as("band"), $"bs.key".as("key"))
      .withColumn("bk", concat($"band".cast("string"), lit("|"), $"key"))
  }

  /**
   * Build the committed MinHash-LSH index: the banded signature buckets as
   * a BUCKETED Iceberg-lite table on `bk` (candidate joins shuffle only
   * the batch), plus the (id, shingle) postings substrate the verify pass
   * reads — by default an owned `<table>_postings` built via
   * [[buildShingleIndex]]; pass `postingsTable` to point at an existing
   * committed shingle index instead (then its content must be exactly this
   * corpus, and the caller owns keeping it appended — this operator's
   * incremental path appends to whichever postings table the snapshot
   * names). (n, k, bands) are recorded in the snapshot properties so
   * appends can never disagree with the build.
   */
  def buildMinhashIndex(docs: DataFrame, idCol: String, textCol: String,
      warehouse: String, table: String = "minhash_index",
      n: Int = 3, k: Int = 8, bands: Int = 4, buckets: Int = 16,
      postingsTable: String = ""): Unit = {
    require(k % bands == 0, "bands must divide k")
    val spark = docs.sparkSession
    val cat = new graft.tables.IcebergLite(warehouse)
    val pt = if (postingsTable.nonEmpty) postingsTable else s"${table}_postings"
    cat.currentSnapshot(pt) match {
      case Some(s) =>
        require(s.properties("n").toInt == n,
          s"postings table $pt was built at n=${s.properties("n")}, asked n=$n")
      case None =>
        buildShingleIndex(docs, idCol, textCol, warehouse, pt, n, buckets)
    }
    val ds = cat.readBucketed(spark, pt)
    cat.commit(bandBuckets(ds, k, bands), table,
      Map("n" -> n.toString, "k" -> k.toString, "bands" -> bands.toString,
        "postingsTable" -> pt),
      bucketBy = Some(("bk", buckets)))
    ()
  }

  /** Fast-append a new batch to the committed MinHash-LSH index — O(batch)
    * shingle + signature work, parent buckets and postings untouched. The
    * postings substrate named by the snapshot is appended in the same call
    * so verify stays exact over the union. If that substrate is a SHARED
    * shingle index, do not also [[appendToShingleIndex]] the same batch —
    * that double-appends it; [[ladderIncremental]] (batch) and
    * [[graft.streaming.DedupStream]] (per-table markers) own that
    * composition. */
  def appendToMinhashIndex(newDocs: DataFrame, idCol: String, textCol: String,
      warehouse: String, table: String = "minhash_index",
      extraProps: Map[String, String] = Map.empty,
      compactOver: Int = 0, expireKeep: Int = 0): Unit = {
    val spark = newDocs.sparkSession
    val cat = new graft.tables.IcebergLite(warehouse)
    val snap = cat.currentSnapshot(table).getOrElse(
      throw graft.tables.NoSuchTable(
        s"no committed $table under $warehouse — buildMinhashIndex first"))
    val (k, bands) = (snap.properties("k").toInt, snap.properties("bands").toInt)
    val pt = snap.properties("postingsTable")
    val ds = batchShingles(newDocs, idCol, textCol, snap)
    appendShingleRows(cat, ds, pt,
      cat.currentSnapshot(pt).map(_.properties).getOrElse(Map.empty), Map.empty)
    cat.append(bandBuckets(ds, k, bands), table,
      snap.properties - "appendedRows" ++ extraProps)
    cat.maintain(spark, table, compactOver, expireKeep)
    cat.maintain(spark, pt, compactOver, expireKeep)
    cat.maintain(spark, s"${pt}_sizes", compactOver, expireKeep)
  }

  /**
   * Incremental MinHash-LSH near-dup pairs: returns EXACTLY the
   * [[minhashLshPairs]] rows that involve at least one new document and
   * appends `newDocs` to the committed index, so
   *
   *   minhashLshPairs(old) ∪ incremental(new) == minhashLshPairs(all)
   *
   * (disjoint by construction — a doc's signature depends only on its own
   * shingles, so appends never change old docs' band keys; unit-asserted,
   * and driver-gated end-to-end as the `d_minhash_incr` oracle, which is
   * d_minhash_lsh's own from-scratch SQL). Candidate generation is the
   * batch's band buckets against the committed bucket table — corpus side
   * bucket-partitioned on `bk`, shuffling only the batch. The verify pass
   * is candidate-restricted the structural way: candidate doc ids (small
   * by LSH's whole premise — broadcast explicitly) semi-restrict ONE scan
   * of the postings substrate, and every join after that is
   * candidate-bounded. Result materialized before the append lands
   * (compute-then-append, like the other pillars).
   *
   * If the index SHARES its postings substrate with a shingle index, do
   * not call this back-to-back with [[jaccardPairsIncremental]] for the
   * same batch — each appends the substrate, so the composition
   * double-appends it (use [[ladderIncremental]], which owns the ordering
   * and appends each table exactly once).
   */
  def minhashLshPairsIncremental(newDocs: DataFrame, idCol: String,
      textCol: String, warehouse: String, table: String = "minhash_index",
      verifyThreshold: Double = -1.0,
      compactOver: Int = 0, expireKeep: Int = 0): DataFrame = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    val cat = new graft.tables.IcebergLite(warehouse)
    val snap = cat.currentSnapshot(table).getOrElse(
      throw graft.tables.NoSuchTable(
        s"no committed $table under $warehouse — buildMinhashIndex first"))
    val (k, bands) = (snap.properties("k").toInt, snap.properties("bands").toInt)
    val pt = snap.properties("postingsTable")
    val ds = batchShingles(newDocs, idCol, textCol, snap).persist()
    val newBk = bandBuckets(ds, k, bands).persist()
    val out = minhashIncrPlan(cat, table, ds, newBk, k, bands, verifyThreshold)
      .localCheckpoint(true)
    appendShingleRows(cat, ds, pt,
      cat.currentSnapshot(pt).map(_.properties).getOrElse(Map.empty), Map.empty)
    cat.append(newBk, table, snap.properties - "appendedRows")
    newBk.unpersist()
    ds.unpersist()
    cat.maintain(spark, table, compactOver, expireKeep)
    cat.maintain(spark, pt, compactOver, expireKeep)
    cat.maintain(spark, s"${pt}_sizes", compactOver, expireKeep)
    out
  }

  /** The LAZY incremental MinHash-LSH pair plan over an already-computed
    * batch postings frame + band buckets and the committed index state —
    * the no-append seam ([[minhashLshPairsIncremental]] materializes it,
    * then appends; the demo queries run it against a per-JVM committed
    * history without mutating it). The candidate set feeds three consumers
    * in the verify branch — one lazy checkpoint shares it. */
  private[graft] def minhashIncrPlan(cat: graft.tables.IcebergLite,
      table: String, ds: DataFrame, newBk: DataFrame, k: Int, bands: Int,
      verifyThreshold: Double): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    val pt = cat.currentSnapshot(table).get.properties("postingsTable")
    val cand = minhashCandPlan(cat, table, newBk).localCheckpoint(false)
    if (verifyThreshold <= 0) cand
    else {
      val ids = broadcast(
        cand.select($"a".as("id")).union(cand.select($"b".as("id"))).distinct())
      val posts = cat.readBucketed(spark, pt).select($"id", $"shingle")
        .union(ds.select($"id", $"shingle"))
        .join(ids, "id")
      val common = cand
        .join(posts.select($"id".as("a"), $"shingle"), "a")
        .join(posts.select($"id".as("b"), $"shingle"), Seq("b", "shingle"))
        .groupBy($"a", $"b").agg(count(lit(1)).as("common"))
      val sizes = posts.groupBy($"id").agg(count(lit(1)).as("sz"))
      jaccardFilter(common, sizes, verifyThreshold)
    }
  }

  /** The pre-checkpoint candidate join of [[minhashIncrPlan]] — the batch's
    * band buckets against the committed bucket table (corpus side bucketed
    * on `bk`, batch side alone shuffled) — factored so the plan audit can
    * show the join before the shared checkpoint hides it. */
  private[graft] def minhashCandPlan(cat: graft.tables.IcebergLite,
      table: String, newBk: DataFrame): DataFrame = {
    val spark = newBk.sparkSession
    import spark.implicits._
    val oldBk = cat.readBucketed(spark, table)
    // deliberately NO shuffle-hash hint here (unlike winnowIncrPlan /
    // jaccardIncrPlan): a round-7 A/B measured the hinted band-bucket
    // candidate join at 2.64 s vs 1.76–1.88 s for this sort-merge default
    val candNewOld = newBk.select($"id".as("x"), $"bk")
      .join(oldBk.select($"id".as("y"), $"bk"), "bk")
      .select(least($"x", $"y").as("a"), greatest($"x", $"y").as("b"))
    val candNewNew = newBk.select($"id".as("a"), $"bk")
      .join(newBk.select($"id".as("b"), $"bk"), "bk")
      .filter($"a" < $"b")
      .select($"a", $"b")
    candNewOld.union(candNewNew).distinct()
  }

  // ---------------------------------------------------------------------------
  // Ladder composition: one batch through all three pillars, one append each
  // ---------------------------------------------------------------------------

  /** The three pillars' ≥1-new pair sets for one batch ([[ladderIncremental]]);
    * a pillar whose table was not named is `None`. */
  final case class LadderIncrement(passagePairs: Option[DataFrame],
      jaccardPairs: Option[DataFrame], minhashPairs: Option[DataFrame])

  /**
   * One batch through the whole incremental dedup ladder in ONE call:
   * computes every named pillar's ≥1-new pairs against the PRE-append
   * committed state, materializes them, then appends each committed table
   * EXACTLY once. This is the safe composition when the MinHash index
   * shares its postings substrate with the shingle index (the
   * `buildMinhashIndex(postingsTable = shingleTable)` layout the bench
   * history uses): calling the single-pillar incrementals in sequence over
   * a shared substrate appends the batch's postings TWICE, and the second
   * call — reading a substrate that already contains the batch — then
   * double-counts its shingles (wrong commons and sizes) or re-classifies
   * the batch as old (duplicated pairs), depending on order. Same hazard
   * [[graft.streaming.DedupStream]] documents for its table list; here the
   * composition is owned so the caller cannot get the order wrong.
   * Pass an empty table name to skip a pillar (it is neither computed nor
   * appended); independent substrates compose just as well — each is still
   * appended exactly once.
   */
  def ladderIncremental(newDocs: DataFrame, idCol: String, textCol: String,
      warehouse: String,
      fpTable: String = "fp_index", shingleTable: String = "shingle_index",
      minhashTable: String = "minhash_index",
      minShared: Long = 2L, threshold: Double = 0.8,
      verifyThreshold: Double = -1.0, maxPostings: Long = 0L,
      compactOver: Int = 0, expireKeep: Int = 0): LadderIncrement = {
    val spark = newDocs.sparkSession
    val cat = new graft.tables.IcebergLite(warehouse)
    require(Seq(fpTable, shingleTable, minhashTable).exists(_.nonEmpty),
      "name at least one pillar's index table")
    def snapOf(t: String, hint: String) = cat.currentSnapshot(t).getOrElse(
      throw graft.tables.NoSuchTable(s"no committed $t under $warehouse — $hint first"))

    val fpSnap = Option(fpTable).filter(_.nonEmpty)
      .map(t => snapOf(t, "buildFingerprintIndex"))
    val shSnap = Option(shingleTable).filter(_.nonEmpty)
      .map(t => snapOf(t, "buildShingleIndex"))
    val mhSnap = Option(minhashTable).filter(_.nonEmpty)
      .map(t => snapOf(t, "buildMinhashIndex"))
    val mhPt = mhSnap.map(_.properties("postingsTable"))
    val sharedSubstrate = mhPt.contains(shingleTable) && shSnap.nonEmpty

    // close any postings/sizes crash gaps BEFORE the plans read the sidecars
    shSnap.foreach(_ => healSizesSidecar(spark, cat, shingleTable))
    mhPt.filterNot(_ => sharedSubstrate)
      .foreach(pt => healSizesSidecar(spark, cat, pt))

    // batch frames at each substrate's committed parameters
    val fpBatch = fpSnap.map(s => batchFps(newDocs, idCol, textCol, s).persist())
    val shBatch = shSnap.map(s => batchShingles(newDocs, idCol, textCol, s).persist())
    val ptBatch = // minhash's substrate batch: reuse the shingle pillar's when shared
      if (sharedSubstrate) shBatch
      else mhSnap.map(s => batchShingles(newDocs, idCol, textCol, s).persist())
    val mhBk = mhSnap.map { s =>
      bandBuckets(ptBatch.get, s.properties("k").toInt,
        s.properties("bands").toInt).persist()
    }

    // compute ALL pillars against the strictly pre-batch committed state,
    // materialized before any append lands (compute-then-append, per pillar)
    val winnowOut = (fpSnap, fpBatch) match {
      case (Some(_), Some(b)) => Some(
        winnowIncrPlan(cat, fpTable, b, minShared, maxPostings)
          .localCheckpoint(true))
      case _ => None
    }
    val jacOut = (shSnap, shBatch) match {
      case (Some(_), Some(b)) => Some(
        jaccardIncrPlan(cat, shingleTable, b, threshold, maxPostings)
          .localCheckpoint(true))
      case _ => None
    }
    val mhOut = mhSnap.map { s =>
      minhashIncrPlan(cat, minhashTable, ptBatch.get, mhBk.get,
        s.properties("k").toInt, s.properties("bands").toInt, verifyThreshold)
        .localCheckpoint(true)
    }

    // appends: each committed table exactly once
    fpSnap.foreach { s =>
      cat.append(fpBatch.get, fpTable, s.properties - "appendedRows")
      cat.maintain(spark, fpTable, compactOver, expireKeep)
    }
    shSnap.foreach { s =>
      appendShingleRows(cat, shBatch.get, shingleTable, s.properties, Map.empty)
      cat.maintain(spark, shingleTable, compactOver, expireKeep)
      cat.maintain(spark, s"${shingleTable}_sizes", compactOver, expireKeep)
    }
    mhSnap.foreach { s =>
      val pt = mhPt.get
      if (!sharedSubstrate) {
        appendShingleRows(cat, ptBatch.get, pt,
          cat.currentSnapshot(pt).map(_.properties).getOrElse(Map.empty), Map.empty)
        cat.maintain(spark, pt, compactOver, expireKeep)
        cat.maintain(spark, s"${pt}_sizes", compactOver, expireKeep)
      }
      cat.append(mhBk.get, minhashTable, s.properties - "appendedRows")
      cat.maintain(spark, minhashTable, compactOver, expireKeep)
    }

    mhBk.foreach(_.unpersist())
    if (!sharedSubstrate) ptBatch.foreach(_.unpersist())
    shBatch.foreach(_.unpersist())
    fpBatch.foreach(_.unpersist())
    LadderIncrement(winnowOut, jacOut, mhOut)
  }

  // ---------------------------------------------------------------------------
  // SimHash (JVM hashing; driver-oracle-tested, no SQL oracle)
  // ---------------------------------------------------------------------------

  /** The six characters Java regex `\s` matches (NOT Unicode whitespace). */
  @inline private def isRegexSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** 64-bit SimHash over whitespace tokens using FNV-1a per-token hashes.
    *
    * Tokenization is a manual scan equivalent to `trim.split("\\s+")`
    * (trim strips leading/trailing chars ≤ U+0020; separators are exactly
    * regex `\s`) — the split version compiled its regex and allocated a
    * token array on EVERY row, which dominated the cold-start cost of the
    * simhash scan (KernelProperties asserts the equivalence). */
  def simhash64(text: String): Long = {
    if (text == null) return 0L
    var lo = 0
    var hi = text.length
    while (lo < hi && text.charAt(lo) <= ' ') lo += 1      // String.trim
    while (hi > lo && text.charAt(hi - 1) <= ' ') hi -= 1
    if (lo >= hi) return 0L
    val acc = new Array[Int](64)
    var i = lo
    while (i < hi) {
      while (i < hi && isRegexSpace(text.charAt(i))) i += 1
      val start = i
      while (i < hi && !isRegexSpace(text.charAt(i))) i += 1
      if (i > start) {
        val h = TextAnalysis.fnv1a64(text.substring(start, i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
          b += 1
        }
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  private val simhashUdf = udf((s: String) => simhash64(s))

  /** SimHash near-duplicates: Hamming distance ≤ maxDist. Candidates by the
    * pigeonhole banding trick: two signatures within distance d ≤ 3 share at
    * least one identical 16-bit quarter; bucket-join quarters then verify
    * with bit_count(xor). */
  def simhashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(maxDist <= 3, "quarter-banding guarantees recall only for d<=3")
    val sigs = docs.select(col(idCol).as("id"), simhashUdf(col(textCol)).as("sig"))
      .persist()
    val quarters = sigs.select($"id", $"sig",
      explode(array((0 until 4).map(q =>
        struct(lit(q).as("q"),
          shiftrightunsigned($"sig", q * 16).bitwiseAND(lit(0xFFFFL)).as("qv"))): _*)).as("b"))
      .select($"id", $"sig", $"b.q".as("q"), $"b.qv".as("qv"))
    val cand = quarters.select($"id".as("a"), $"sig".as("siga"), $"q", $"qv")
      .join(quarters.select($"id".as("b"), $"sig".as("sigb"), $"q", $"qv"), Seq("q", "qv"))
      .filter($"a" < $"b")
      .select($"a", $"b", $"siga", $"sigb").distinct()
    val out = cand.filter(bit_count($"siga".bitwiseXOR($"sigb")) <= maxDist)
      .select($"a", $"b")
      .localCheckpoint(true)
    sigs.unpersist()
    out
  }
}
