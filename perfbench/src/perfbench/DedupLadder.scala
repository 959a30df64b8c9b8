package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.ingest.SynthCorpus.mix64
import graft.pipeline.Dedup

/** Seeded document corpus with planted duplicate families. Texts are shaped
  * like the engine's `documents` test table: 10-100 words drawn uniformly
  * from a 30-word vocabulary. Documents come in blocks of [[BlockSize]]: the
  * first 16 ids of a block are independent texts; ids 16 and 17 are exact
  * copies of ids 0 and 1 of their block; ids 18 and 19 copy ids 2 and 3 with
  * 1-4 words replaced, which puts their 3-shingle Jaccard between about 0.2
  * and 0.97, on both sides of the verify threshold. Each text is a pure
  * function of (seed, id). */
object DedupCorpus {
  val BlockSize = 20
  private val Vocabulary = 30

  private def original(seed: Long, id: Long): Array[String] = {
    val rng = new java.util.Random(mix64(seed ^ mix64(id)))
    Array.fill(10 + rng.nextInt(91))("w" + rng.nextInt(Vocabulary))
  }

  def text(seed: Long, id: Long): String = {
    val block = id - id % BlockSize
    (id % BlockSize).toInt match {
      case k @ (16 | 17) => original(seed, block + k - 16).mkString(" ")
      case k @ (18 | 19) =>
        val words = original(seed, block + k - 16)
        val rng = new java.util.Random(mix64(seed ^ mix64(id) ^ 0x5bd1e995L))
        for (_ <- 0 until 1 + rng.nextInt(4)) words(rng.nextInt(words.length)) = "edit" + rng.nextInt(1000)
        words.mkString(" ")
      case _ => original(seed, id).mkString(" ")
    }
  }

  /** Planted (original, copy) pairs among ids [0, docs). */
  def exactPairs(docs: Long): Seq[(Long, Long)] = planted(docs, 16)
  def nearPairs(docs: Long): Seq[(Long, Long)] = planted(docs, 18)

  private def planted(docs: Long, first: Int): Seq[(Long, Long)] =
    (0L until docs by BlockSize)
      .flatMap(b => Seq(b + first - 16 -> (b + first), b + first - 15 -> (b + first + 1)))
      .filter(_._2 < docs)

  /** Distinct word n-shingles, the way the engine tokenizes (whitespace). */
  def shingles(text: String, n: Int): Set[String] = {
    val toks = text.trim.split("\\s+")
    if (toks.length < n) Set.empty else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else (a intersect b).size.toDouble / (a union b).size
}

/** The text-dedup ladder over a seeded [[DedupCorpus]], one op per stage:
  * [[Dedup.exact]], then [[Dedup.minhashLshPairs]] with exact-Jaccard
  * verification, then [[Dedup.canonicalize]] over the verified pairs and
  * [[Dedup.keepCanonical]]. The LSH parameters are the ones the engine's own
  * `d_minhash_lsh` query runs. */
object DedupLadder {
  val Docs = 2000L
  val Threshold = 0.5
  val ShingleWords = 3
  val Hashes = 8
  val Bands = 4

  /** The persisted documents with their driver-side texts and shingle sets. */
  final class Corpus(val docs: DataFrame, seed: Long) {
    val texts: IndexedSeq[String] = (0L until Docs).map(DedupCorpus.text(seed, _))
    val shingles: IndexedSeq[Set[String]] = texts.map(DedupCorpus.shingles(_, ShingleWords))
    val exactPairs: Seq[(Long, Long)] = DedupCorpus.exactPairs(Docs)
    def jaccard(a: Long, b: Long): Double =
      DedupCorpus.jaccard(shingles(a.toInt), shingles(b.toInt))
    /** Planted pairs at or above the threshold: the ones LSH should report. */
    val planted: Seq[(Long, Long)] = (exactPairs ++ DedupCorpus.nearPairs(Docs))
      .filter { case (a, b) => jaccard(a, b) >= Threshold }
  }

  val sizes: Seq[(String, Any)] = Seq("docs" -> Docs, "threshold" -> Threshold,
    "shingle_words" -> ShingleWords, "minhashes" -> Hashes, "bands" -> Bands,
    "planted_exact_pairs" -> DedupCorpus.exactPairs(Docs).size,
    "planted_near_pairs" -> DedupCorpus.nearPairs(Docs).size)

  def generate(r: Run): DataFrame = {
    val spark = r.spark
    import spark.implicits._
    val seed = r.seed
    val d = spark.range(0, Docs).map(id => (id, DedupCorpus.text(seed, id))).toDF("id", "text")
      .persist(StorageLevel.MEMORY_AND_DISK)
    d.count()
    d
  }

  def input(r: Run, docs: DataFrame): Corpus = new Corpus(docs, r.seed)

  def pass(r: Run, c: Corpus): Unit = {
    val spark = r.spark
    import spark.implicits._
    val docs = c.docs
    r.op("exact", Docs) {
      r.tracer.span("pipeline.exact")(Dedup.exact(docs, "id", "text").localCheckpoint(true))
    } { exact =>
      val canon = exact.as[(Long, Long)].collect().toMap
      if (canon.size != Docs) Some(s"${canon.size} labels for $Docs docs")
      else if (c.exactPairs.exists { case (x, y) => canon(x) != x || canon(y) != x })
        Some("a planted exact duplicate was not found")
      else if (canon.exists { case (i, k) => c.texts(i.toInt) != c.texts(k.toInt) })
        Some("exact dedup merged different texts")
      else None
    }
    val pairs = r.op("lsh_pairs", Docs) {
      r.tracer.span("pipeline.lsh_pairs")(Dedup.minhashLshPairs(docs, "id", "text",
        n = ShingleWords, k = Hashes, bands = Bands, verifyThreshold = Threshold))
    } { pairs =>
      val found = pairs.as[(Long, Long)].collect()
      val verified = found.count { case (x, y) => c.jaccard(x, y) >= Threshold }
      val foundSet = found.toSet
      r.note("reported_pairs", found.length)
      r.note("verified_pairs", verified)
      r.note("planted_found", c.planted.count(foundSet.contains))
      r.note("planted", c.planted.size)
      if (verified != found.length) Some(s"${found.length - verified} reported pairs below $Threshold")
      else if (!c.exactPairs.forall(foundSet.contains)) Some("a planted exact duplicate was not reported")
      else None
    }
    val labels = pairs.flatMap(p => r.op("canonicalize", Docs) {
      r.tracer.span("pipeline.canonicalize")(
        Dedup.canonicalize(docs, "id", p).localCheckpoint(true))
    } { labels =>
      val byId = labels.as[(Long, Long)].collect().toMap
      if (byId.size != Docs) Some(s"${byId.size} labels for $Docs docs")
      else if (p.as[(Long, Long)].collect().exists { case (x, y) => byId(x) != byId(y) })
        Some("a pair spans two clusters")
      else if (byId.exists { case (i, k) => k > i }) Some("a label is not its cluster's minimum id")
      else None
    })
    labels.foreach(l => r.op("keep", Docs) {
      r.tracer.span("pipeline.keep")(Dedup.keepCanonical(docs, "id", l).localCheckpoint(true))
    } { kept =>
      val ids = kept.select("id").as[Long].collect().toSet
      val want = l.as[(Long, Long)].collect().collect { case (i, k) if i == k => i }.toSet
      if (ids != want) Some(s"kept ${ids.size} docs, ${want.size} canonical labels")
      else if (c.exactPairs.exists { case (_, y) => ids(y) }) Some("a planted exact duplicate was kept")
      else None
    })
  }
}
