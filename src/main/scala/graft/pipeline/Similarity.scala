package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 *  - [[cosine]]: codegen'd column expression (zip_with + aggregate), doubles
 *    throughout for cross-engine reproducibility
 *  - [[bruteForceTopK]]: exact baseline — broadcast the (small) query set,
 *    rank per query with the bounded-heap [[graft.functions.TopKByScore]]
 *    aggregate (map-side combine, no Window); ranking key is round(cos,6)
 *    then id so float noise can't flip orders across engines
 *  - [[lshTopK]]: the scale path — random-hyperplane LSH buckets (planes are
 *    a pure function of (seed, plane, dim): no data-dependent state), search
 *    only the query's bucket ± optional multi-probe; recall measured vs
 *    brute force in tests
 */
object Similarity {

  /** Cosine similarity of two float-array columns, computed in double.
    * Native codegen'd kernel ([[graft.functions.CosineSimilarity]]) —
    * bit-identical to [[cosinePortable]] (same double left-fold), minus the
    * higher-order-function interpretation overhead in the ANN hot path.
    *
    * LENIENT zero-norm semantics (`failOnError = false`): a zero vector or
    * empty array yields NULL, never an ANSI DIVIDE_BY_ZERO — one degenerate
    * embedding in a 10^12-row corpus must not kill a bucketing/ranking job.
    * NULL scores then fall out of every downstream path by construction
    * (rankTopK's heap skips them; `null >= τ` filters reject them; a NULL
    * bucket side maps to bit 0). The ANSI-faithful kernel — Divide parity,
    * throws under ANSI — is what [[graft.plans.CosineRewrite]] substitutes
    * for the PORTABLE formulation, where error parity is the contract. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosine_similarity_lenient(a, b)

  /** Built-ins-only formulation (zip_with + aggregate): the portable
    * reference semantics the native kernel must match exactly. */
  def cosinePortable(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))
    val nb = sqrt(aggregate(transform(b, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))
    dot / (na * nb)
  }

  /** Rank (q, neighbor, cos) candidates into (q, rank, neighbor, cos) with
    * the bounded-heap aggregate [[graft.functions.TopKByScore]] — an
    * ObjectHashAggregate with map-side combine, never a Window: a
    * `row_number() over (partition by q)` window puts one query's ENTIRE
    * candidate set on one reducer and sorts it, while the heap keeps k rows
    * per partition per query and merges partials. Tie-break is the ranking
    * convention everywhere in this file: cos desc, then neighbor asc. */
  private def rankTopK(cand: DataFrame, k: Int): DataFrame = {
    val spark = cand.sparkSession
    import spark.implicits._
    cand.groupBy($"q")
      .agg(graft.functions.TopKByScore.topk_by($"cos", $"neighbor", k).as("top"))
      .select($"q", posexplode($"top"))
      .select($"q", ($"pos" + 1).cast("int").as("rank"),
        $"col.neighbor".as("neighbor"), $"col.score".as("cos"))
  }

  /**
   * Exact top-k neighbors for each query id. `queries` is a subset of
   * `vectors` by id (typical eval shape). Output: (q, rank, neighbor).
   * Self-matches excluded.
   */
  def bruteForceTopK(
      vectors: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int = 10): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val qs = broadcast(vectors
      .filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("q"), col(vecCol).as("qv")))
    val scored = vectors.join(qs, col(idCol) =!= $"q")
      .select($"q", col(idCol).as("neighbor"),
        round(cosine($"qv", col(vecCol)), 6).as("cos"))
    rankTopK(scored, k)
  }

  /** Deterministic pseudo-random hyperplane component for (seed, plane, dim):
    * ±1 from splitmix64 parity — cheap, portable, and broadcastable. */
  private def planeSign(seed: Long, plane: Int, dim: Int): Double = {
    val h = graft.ingest.SynthCorpus.mix64(seed ^ (plane.toLong << 32) ^ dim.toLong)
    if ((h & 1L) == 0L) 1.0 else -1.0
  }

  /** Observability for the LSH build-once/probe-many contract: bumped once
    * per [[lshBucket]] call, so a test can assert member-id probes of the
    * committed index never re-bucket ANYTHING ([[lshTopKIndexed]] reads
    * buckets back) — [[lshTopKVectors]] legitimately buckets its tiny
    * external query frame, and an append buckets its batch, never the
    * corpus. */
  private[graft] val bucketInvocations = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Random-hyperplane signature: `planes`-bit bucket id per vector. Pass
    * the embedding dimensionality as `dim` when known — the fallback sniffs
    * it with a `first()` job (one extra tiny Spark job per call). */
  def lshBucket(vectors: DataFrame, idCol: String, vecCol: String,
      planes: Int = 8, seed: Long = 42L, dim: Int = -1): DataFrame = {
    bucketInvocations.incrementAndGet()
    val spark = vectors.sparkSession
    import spark.implicits._
    val d = if (dim > 0) dim
      else vectors.filter(col(vecCol).isNotNull)
        .select(size(col(vecCol))).first().getInt(0)
    // a WRONG caller-passed dim would make every kernel eval NULL (length
    // mismatch) and silently funnel the whole corpus into bucket 0 — an
    // O(N²) self-join instead of an error. Guard in the same scan, no job.
    // A NULL embedding passes THROUGH (first branch): the lenient cosine
    // yields NULL ⇒ bit 0, same as a zero vector — one degenerate row must
    // not kill the job (the guard is for mis-sized arrays only, where
    // size() is non-NULL and ≠ d).
    val vec = when(col(vecCol).isNull, col(vecCol))
      .when(size(col(vecCol)) === d, col(vecCol))
      .otherwise(raise_error(
        concat(lit(s"lshBucket: dim=$d but embedding has "),
          size(col(vecCol)).cast("string"), lit(" elements"))))
    val planeCols = (0 until planes).map { p =>
      // sign(dot) == sign(cosine): reuse the native codegen'd kernel
      // (lenient: a zero vector has no sign — NULL ⇒ bit 0, job survives)
      val signs = array((0 until d).map(i =>
        lit(planeSign(seed, p, i).toFloat)): _*)
      val side = cosine(vec, signs) >= 0
      when(side, lit(1L << p)).otherwise(lit(0L))
    }
    vectors.select(col(idCol).as("id"), col(vecCol).as("vec"),
      planeCols.reduce(_.bitwiseOR(_)).as("bucket"))
  }

  /** All XOR masks over `planes` bits with ≤ maxBits bits set — the
    * multi-probe bucket offsets, enumerated driver-side (data-independent;
    * Σ_{i≤maxBits} C(planes,i) values). */
  private[graft] def probeMasks(planes: Int, maxBits: Int): Seq[Long] = {
    require(planes > 0 && planes < 63, s"plane count out of range: $planes")
    // combinatorial enumeration: Σ C(planes,i) masks generated directly,
    // never a 2^planes scan
    (0 to maxBits).flatMap(i =>
      (0 until planes).combinations(i)
        .map(_.foldLeft(0L)((m, b) => m | (1L << b))).toSeq)
  }

  /** Candidate generation for [[lshTopK]]: each query explodes into its
    * Σ_{i≤probeHamming} C(planes,i) probe buckets (query bucket XOR each
    * ≤probeHamming-bit mask, enumerated driver-side) and hash-joins the
    * corpus on `bucket` — the corpus is scanned once and only matching
    * buckets produce candidates, vs a broadcast-NLJ `bit_count(xor)` filter
    * that would score every row. Exposed for plan-audit tests. */
  private[graft] def lshCandidates(bucketed: DataFrame, queryIds: Seq[Long],
      planes: Int, probeHamming: Int): DataFrame = {
    val spark = bucketed.sparkSession
    import spark.implicits._
    val masks = probeMasks(planes, probeHamming)
    val qProbes = broadcast(bucketed.filter($"id".isin(queryIds: _*))
      .select($"id".as("q"), $"vec".as("qv"), $"bucket".as("qb"))
      .withColumn("mask", explode(array(masks.map(lit): _*)))
      .select($"q", $"qv", $"qb".bitwiseXOR($"mask").as("bucket")))
    bucketed.join(qProbes, Seq("bucket")).filter($"id" =!= $"q")
  }

  /**
   * Approximate top-k: candidates restricted to vectors whose LSH bucket is
   * within `probeHamming` bits of the query's bucket (multi-probe,
   * [[lshCandidates]] equi-join), then exact cosine rank within candidates.
   * Cuts the scanned fraction to ~Σ_{i≤probe} C(planes,i)/2^planes of the
   * corpus. Eager: result materialized, bucket cache released.
   */
  def lshTopK(
      vectors: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int = 10, planes: Int = 8,
      probeHamming: Int = 1, seed: Long = 42L, dim: Int = -1): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val bucketed = lshBucket(vectors, idCol, vecCol, planes, seed, dim).persist()
    val cand = lshCandidates(bucketed, queryIds, planes, probeHamming)
    val out = rankTopK(cand.select($"q", $"id".as("neighbor"),
        round(cosine($"qv", $"vec"), 6).as("cos")), k)
      .localCheckpoint(true)
    bucketed.unpersist()
    out
  }

  // ---------------------------------------------------------------------------
  // IVF-lite: the other standard ANN scale path (coarse quantizer + probes)
  // ---------------------------------------------------------------------------

  /** Deterministic coarse centroids: the vectors whose ids hash lowest under
    * the seed (data-independent, reproducible at any parallelism; a real IVF
    * would k-means these — the assignment/probe machinery is identical).
    * Selection is `orderBy(h).limit(nlist)` — TakeOrderedAndProject, a
    * per-partition top-K + driver merge, never a global sort or window; the
    * nlist survivors are numbered on the driver (they are the rows a
    * k-means-style quantizer would hold driver-side to broadcast anyway). */
  private def centroidSeq(vectors: DataFrame, idCol: String, vecCol: String,
      nlist: Int, seed: Long): Seq[(Int, Array[Float])] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val top = vectors
      .withColumn("__h", xxhash64(col(idCol), lit(seed)))
      .select(col("__h"), col(idCol).cast("long").as("__id"), col(vecCol).as("cvec"))
      .orderBy(col("__h"), col("__id"))
      .limit(nlist)
      .as[(Long, Long, Array[Float])]
      .collect()
    top.sortBy(t => (t._1, t._2)).zipWithIndex
      .map { case ((_, _, v), i) => (i + 1, v) }.toSeq
  }

  /**
   * Lloyd-trained coarse quantizer: `lloydIters` rounds of assign →
   * per-cell mean over a bounded deterministic sample, seeded from the
   * hash-pick ([[centroidSeq]]). `lloydIters = 0` returns the raw hash pick.
   *
   * Determinism at any parallelism: per-dimension means are summed in
   * DECIMAL — decimal addition is exact and order-independent, where a
   * double sum's rounding depends on shuffle merge order — then divided
   * once driver-side (HALF_UP, scale 10) and rounded to float. Two runs on
   * the same data, any partitioning, produce bit-identical centroids.
   *
   * Scale: training reads the `trainSample` hash-lowest vectors
   * (TakeOrderedAndProject — per-partition top-K, no global sort), so the
   * quantizer costs O(sample × nlist × iters) regardless of corpus size;
   * the standard sample-then-train shape of IVF builds. Empty cells keep
   * their previous centroid.
   */
  /** Observability for the build-once/probe-many contract: bumped once per
    * quantizer training, so a test can assert probes never retrain. */
  private[graft] val trainInvocations = new java.util.concurrent.atomic.AtomicInteger(0)

  def trainCentroids(vectors: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, seed: Long = 42L, lloydIters: Int = 2,
      trainSample: Int = 100000): Seq[(Int, Array[Float])] = {
    trainInvocations.incrementAndGet()
    val spark = vectors.sparkSession
    import spark.implicits._
    var cs = centroidSeq(vectors, idCol, vecCol, nlist, seed)
    if (lloydIters <= 0) return cs
    val sample = vectors
      .withColumn("__h", xxhash64(col(idCol), lit(seed ^ 0x11fL)))
      .orderBy($"__h", col(idCol))
      .limit(trainSample)
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .persist()
    try {
      for (_ <- 0 until lloydIters) {
        val sums = assignCells(sample, "id", "vec", cs)
          .select($"cell", posexplode($"vec").as(Seq("pos", "v")))
          .groupBy($"cell", $"pos")
          .agg(sum($"v".cast("decimal(28,10)")).as("s"), count(lit(1)).as("n"))
          .collect() // nlist × dim rows — quantizer-sized, driver-resident
        val means: Map[Int, Array[Float]] =
          sums.groupBy(_.getAs[Int]("cell")).map { case (cell, rows) =>
            val arr = new Array[Float](rows.map(_.getAs[Int]("pos")).max + 1)
            rows.foreach { r =>
              arr(r.getAs[Int]("pos")) = r.getAs[java.math.BigDecimal]("s")
                .divide(java.math.BigDecimal.valueOf(r.getAs[Long]("n")),
                  10, java.math.RoundingMode.HALF_UP)
                .floatValue()
            }
            cell -> arr
          }
        cs = cs.map { case (cell, old) => (cell, means.getOrElse(cell, old)) }
      }
      cs
    } finally sample.unpersist()
  }

  /** Assign every vector to its nearest centroid. The nlist centroids are
    * driver-resident (they'd be broadcast anyway), so assignment is a pure
    * NARROW projection — zero shuffle, zero sort, one corpus scan — through
    * the [[graft.functions.NearestCell]] kernel, whose generated code is
    * CONSTANT-SIZE in nlist (the literal-inlined argmax it replaced grew
    * the Janino class linearly in nlist and its compile time dominated
    * Lloyd training; see NearestCell's scaladoc for the numbers).
    * Tie-break: highest sim, then lowest cell. */
  private[graft] def assignCells(vectors: DataFrame, idCol: String,
      vecCol: String, cs: Seq[(Int, Array[Float])]): DataFrame =
    vectors.select(col(idCol).as("id"), col(vecCol).as("vec"),
      graft.functions.NearestCell.nearest_cell(col(vecCol), cs).as("cell"))

  /** The literal-inlined formulation [[assignCells]] replaced — kept as the
    * semantics reference the kernel is A/B-tested against (ScalePlanSpec):
    * `array_max` over an array of (sim, -cell) structs with one inlined
    * cosine per centroid. */
  private[graft] def assignCellsPortable(vectors: DataFrame, idCol: String,
      vecCol: String, cs: Seq[(Int, Array[Float])]): DataFrame = {
    val scored = array(cs.map { case (cell, cv) =>
      struct(cosine(col(vecCol), typedlit(cv)).as("sim"),
        lit(-cell).as("nc")) }: _*)
    vectors.select(col(idCol).as("id"), col(vecCol).as("vec"),
      (-array_max(scored).getField("nc")).as("cell"))
  }

  /** IVF cell assignment over Lloyd-trained centroids (`lloydIters = 0` for
    * the raw hash-pick quantizer). */
  def ivfIndex(vectors: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, seed: Long = 42L, lloydIters: Int = 2): DataFrame =
    assignCells(vectors, idCol, vecCol,
      trainCentroids(vectors, idCol, vecCol, nlist, seed, lloydIters))

  /** IVF top-k: probe the query's `nprobe` nearest cells, rank exactly
    * within them. Scanned fraction ≈ nprobe/nlist of the corpus. Centroids
    * are trained ONCE and shared by the index and the probe side; both the
    * probe-cell choice and the final ranking go through the bounded-heap
    * aggregate (no Window anywhere). */
  def ivfTopK(vectors: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int = 10, nlist: Int = 16, nprobe: Int = 4,
      seed: Long = 42L, lloydIters: Int = 2): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val trained = trainCentroids(vectors, idCol, vecCol, nlist, seed, lloydIters)
    val indexed = assignCells(vectors, idCol, vecCol, trained).persist()
    val cs = broadcast(spark.createDataset(trained).toDF("cell", "cvec"))
    val qs = indexed.filter($"id".isin(queryIds: _*))
      .select($"id".as("q"), $"vec".as("qv"))
    // nprobe nearest cells per query: same heap aggregate, same tie-break
    // (sim desc, cell asc) the row_number window used
    val cellTop = qs.join(cs)
      .select($"q", cosine($"qv", $"cvec").as("cos"), $"cell".cast("long").as("neighbor"))
      .groupBy($"q")
      .agg(graft.functions.TopKByScore.topk_by($"cos", $"neighbor", nprobe).as("top"))
      .select($"q", explode($"top.neighbor").as("cell"))
      .select($"q", $"cell".cast("int").as("cell"))
    val probed = broadcast(qs.join(cellTop, "q").select($"q", $"qv", $"cell"))
    val out = rankTopK(indexed.join(probed, Seq("cell"))
        .filter($"id" =!= $"q")
        .select($"q", $"id".as("neighbor"),
          round(cosine($"qv", $"vec"), 6).as("cos")), k)
      .localCheckpoint(true)
    indexed.unpersist()
    out
  }

  /**
   * Embedding-cosine near-duplicate pairs (a<b, cos ≥ threshold).
   *
   * Two variants, selected by how selective the threshold makes a
   * random-hyperplane bucket (per-plane collision p = 1 − acos(τ)/π):
   *
   *  - `useLsh = true`: candidates restricted to shared LSH buckets, exact
   *    cosine verify. APPROXIMATE — recall per pair is p^planes; sound only
   *    for genuinely-near duplicates (τ ≥ ~0.9 ⇒ p ≥ ~0.93). Below that the
   *    math turns against LSH entirely: at τ = 0.45, p ≈ 0.65, and ANY
   *    (rows r, bands b) amplification with per-pair recall ≥ 1−1e-5 costs
   *    more bucket-join work than the exact join (e.g. r=4 ⇒ b≈59 tables ⇒
   *    59·N²/16 candidate pairs > N²/2). LSH is a high-threshold tool.
   *  - `useLsh = false` (default): EXACT, via a block-partitioned self-join:
   *    vectors are id-hashed into `blocks` buckets, the B(B+1)/2 bucket
   *    pairs are enumerated driver-side, and each side equi-joins on its
   *    bucket-pair key. Same O(N²/2) kernel evaluations as the naive
   *    theta-join (inherent to an exact low-threshold join), but the plan
   *    is a shuffled hash join on a uniform key — no cartesian operator, no
   *    broadcast of the corpus, every task bounded at (N/B)² comparisons
   *    and skew-free by construction. Each unordered pair lands in exactly
   *    one bucket-pair cell, so no distinct pass is needed.
   */
  def embeddingNearDupPairs(
      vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double, useLsh: Boolean = false,
      planes: Int = 8, seed: Long = 42L, blocks: Int = 16,
      dim: Int = -1): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    if (!useLsh) {
      val v = vectors.select(col(idCol).as("id"), col(vecCol).as("vec"),
        pmod(xxhash64(col(idCol), lit(seed)), lit(blocks)).as("blk"))
      // bucket-pair cells (bi ≤ bj); each row replicates to the cells where
      // its bucket participates — ~B/2 copies per side, tiny vs pair count
      val cells = (for (i <- 0 until blocks; j <- i until blocks) yield (i, j))
      val cellsDf = broadcast(cells.toDF("bi", "bj"))
      val l = v.join(cellsDf, $"blk" === $"bi")
        .select($"id".as("ia"), $"vec".as("va"), $"bi", $"bj")
      val r = v.join(cellsDf, $"blk" === $"bj")
        .select($"id".as("ib"), $"vec".as("vb"), $"bi", $"bj")
      l.join(r, Seq("bi", "bj"))
        // same-cell diagonal: keep one orientation; cross-cell: ia≠ib always
        .filter(($"bi" =!= $"bj") || ($"ia" < $"ib"))
        .filter(round(cosine($"va", $"vb"), 6) >= threshold)
        .select(least($"ia", $"ib").as("a"), greatest($"ia", $"ib").as("b"))
    } else {
      val bucketed = lshBucket(vectors, idCol, vecCol, planes, seed, dim)
      val l = bucketed.select($"id".as("a"), $"vec".as("va"), $"bucket")
      val r = bucketed.select($"id".as("b"), $"vec".as("vb"), $"bucket")
      l.join(r, Seq("bucket")).filter($"a" < $"b")
        .filter(round(cosine($"va", $"vb"), 6) >= threshold)
        .select($"a", $"b").distinct()
    }
  }

  /**
   * Cluster-scoped near-duplicate pairs — the SemDeDup shape, the practical
   * 100 TB answer for thresholds BELOW the LSH-sound regime (τ < ~0.9, where
   * [[embeddingNearDupPairs]]'s doc explains any recall-adequate LSH costs
   * more than the exact join): quantize the corpus into IVF cells, compare
   * only within a cell. Work drops from N²/2 to Σ cell² ≈ N²/nlist kernel
   * evals; recall is whatever the quantizer captures (near-dup pairs
   * co-locate strongly; MEASURED in PipelineSpec, never assumed). Exact
   * verification inside the cell ⇒ no false positives.
   */
  def embeddingNearDupIvf(
      vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 16, seed: Long = 42L,
      lloydIters: Int = 2, blocks: Int = 8): DataFrame =
    cellPairs(ivfIndex(vectors, idCol, vecCol, nlist, seed, lloydIters),
      threshold, blocks)

  /**
   * Within-cell exact near-dup verify over an (id, vec, cell) assignment —
   * shared by the retrain-per-call and committed-index paths.
   *
   * SKEW-BOUNDED: joining cell-to-cell alone would make task size track
   * cell population — and real embedding corpora cluster (that is the
   * premise of IVF), so one hot cell becomes one straggler task doing
   * cell² kernel evals. Compose the cell key with the exact path's block
   * partitioning ([[embeddingNearDupPairs]]): each cell's rows are
   * id-hashed into `blocks` buckets, the B(B+1)/2 unordered bucket pairs
   * are enumerated driver-side, and the join key is (cell, bi, bj) — the
   * SAME Σ cell²/2 kernel evals, but every task bounded at (cell/B)²
   * comparisons regardless of how lopsided the quantizer's cells are.
   * Each unordered pair lands in exactly one (cell, bi, bj) task, so no
   * distinct pass is needed; rows are identical to the unblocked
   * formulation (asserted in ScalePlanSpec).
   *
   * The join sides are PINNED with an explicit `repartition(P, keys)`
   * (P = `spark.sql.shuffle.partitions`): this operator's key groups are
   * compute-QUADRATIC but byte-light, and AQE's byte-based partition
   * coalescing would happily pack dozens of heavy groups back into one
   * partition — measured on an 80k-vector hot-cell soak, coalescing undid
   * the blocking entirely (max task 18.7 s ≈ the whole job) while the
   * pinned shuffle spread it (max task 11.1 s, p90 4.2 s, wall 20.5 →
   * 13.4 s). A user-specified repartition is exactly the escape hatch AQE
   * respects.
   */
  private[graft] def cellPairs(indexed: DataFrame, threshold: Double,
      blocks: Int = 8): DataFrame = {
    val spark = indexed.sparkSession
    import spark.implicits._
    val p = spark.sessionState.conf.numShufflePartitions
    val v = indexed.select($"id", $"vec", $"cell",
      pmod(xxhash64($"id", lit(0x5eedL)), lit(blocks)).as("blk"))
    val bpairs = (for (i <- 0 until blocks; j <- i until blocks) yield (i, j))
    val bpairsDf = broadcast(bpairs.toDF("bi", "bj"))
    val l = v.join(bpairsDf, $"blk" === $"bi")
      .select($"id".as("ia"), $"vec".as("va"), $"cell", $"bi", $"bj")
      .repartition(p, $"cell", $"bi", $"bj")
    val r = v.join(bpairsDf, $"blk" === $"bj")
      .select($"id".as("ib"), $"vec".as("vb"), $"cell", $"bi", $"bj")
      .repartition(p, $"cell", $"bi", $"bj")
    l.join(r, Seq("cell", "bi", "bj"))
      // same-block diagonal: keep one orientation; cross-block: ia≠ib always
      .filter(($"bi" =!= $"bj") || ($"ia" < $"ib"))
      .filter(round(cosine($"va", $"vb"), 6) >= threshold)
      .select(least($"ia", $"ib").as("a"), greatest($"ia", $"ib").as("b"))
  }

  /** The unblocked cell-to-cell formulation [[cellPairs]] replaced — kept as
    * the semantics reference for the A/B row-equality assertion. */
  private[graft] def cellPairsUnblocked(indexed: DataFrame,
      threshold: Double): DataFrame = {
    val spark = indexed.sparkSession
    import spark.implicits._
    val l = indexed.select($"id".as("a"), $"vec".as("va"), $"cell")
    val r = indexed.select($"id".as("b"), $"vec".as("vb"), $"cell")
    l.join(r, Seq("cell")).filter($"a" < $"b")
      .filter(round(cosine($"va", $"vb"), 6) >= threshold)
      .select($"a", $"b")
  }

  // ---------------------------------------------------------------------------
  // Build-once / probe-many: the IVF index committed to Iceberg-lite
  // ---------------------------------------------------------------------------

  /**
   * Build the committed IVF index: train the quantizer ONCE, then commit
   *
   *  - `<table>_cells` (id, vec, cell) — the corpus with its cell
   *    assignment, range-clustered on `cell` so each data file covers a
   *    narrow cell range, committed with manifest (min, max) file stats on
   *    `cell` ([[graft.tables.IcebergLite]] records them from the parquet
   *    footers, metadata-only);
   *  - `<table>_centroids` (cell, cvec) — the quantizer, nlist rows.
   *
   * [[ivfTopK]]/[[embeddingNearDupIvf]] retrain the quantizer and re-assign
   * the corpus on EVERY call — fine for a one-shot eval, wrong economics at
   * production query volume over a 100 TB corpus. Through the committed
   * index the O(corpus) work runs once per build; a probe's only reads are
   * the centroid table and the probed cells' data files (manifest-stat
   * pruning: ~nprobe/nlist of the index bytes, and Spark never lists the
   * skipped files). Build parameters are recorded in the snapshot
   * properties so probes and audits can see what the index is.
   */
  def buildIvfIndex(vectors: DataFrame, idCol: String, vecCol: String,
      warehouse: String, table: String = "ann_ivf",
      nlist: Int = 16, seed: Long = 42L, lloydIters: Int = 2): Unit = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val trained = trainCentroids(vectors, idCol, vecCol, nlist, seed, lloydIters)
    val cat = new graft.tables.IcebergLite(warehouse)
    val props = Map("nlist" -> nlist.toString, "seed" -> seed.toString,
      "lloydIters" -> lloydIters.toString)
    val cells = assignCells(vectors, idCol, vecCol, trained)
      .repartitionByRange(nlist, $"cell")
    cat.commit(cells, s"${table}_cells", props, statsCol = Some("cell"))
    // build-time drift reference: each cell's mean best-centroid similarity
    // over the rows assigned to it (one column-pruned pass over the just-
    // committed cells). Recorded in the CENTROID table's snapshot
    // properties — the quantizer's own self-description — so appends can
    // cheaply report how well new data still fits ([[appendToIvfIndex]]'s
    // driftFraction). nlist-sized string; a diagnostic, not an oracle.
    val csDf = broadcast(spark.createDataset(trained).toDF("cell", "cvec"))
    val cellMeans = cat.read(spark, s"${table}_cells")
      .join(csDf, "cell")
      .groupBy($"cell").agg(avg(cosine($"vec", $"cvec")).as("m"))
      .as[(Int, Double)].collect().sortBy(_._1)
    val meansProp = cellMeans.map { case (c, m) => f"$c:$m%.6f" }.mkString(",")
    cat.commit(spark.createDataset(trained).toDF("cell", "cvec"),
      s"${table}_centroids", props + ("cellMeanSim" -> meansProp))
    cat.commitSidecar(spark, s"${table}_cells", s"${table}_ids", props,
      statsCol = Some("id"))(idRows("cell"))
    ()
  }

  /** The id→cell/bucket SIDECAR format of a committed index table: the
    * member-id probe shape ("top-k for corpus member X") must locate X's
    * row, but the main table's manifest stats are on cell/bucket, so an id
    * lookup can't prune it — without the sidecar every member-id probe
    * re-reads the WHOLE index for its query rows. The sidecar holds only
    * (id, cell), committed range-clustered and stats'd on `id`
    * ([[graft.tables.IcebergLite.commitSidecar]]), so the lookup reads
    * ~1/files of a 2-column table. */
  private def idRows(valueCol: String)(main: DataFrame): DataFrame =
    main.select(col("id"), col(valueCol))

  /** Bring a committed index's id sidecar level with its main table
    * ([[graft.tables.IcebergLite.syncSidecar]]: replays the deltas a crash
    * between the two appends left missing). Called on every append path,
    * and by the streaming sink's replay-skip branch — the exact crash window
    * the batchId guard otherwise seals shut. */
  private[graft] def healSidecar(spark: org.apache.spark.sql.SparkSession,
      cat: graft.tables.IcebergLite, mainTable: String, idsTable: String,
      valueCol: String = "cell"): Unit =
    cat.syncSidecar(spark, mainTable, idsTable)(idRows(valueCol))

  /**
   * Append newly ingested vectors to a COMMITTED IVF index without
   * retraining — the index-maintenance half of the continuous-ingest story
   * (warm-start PageRank being the graph half): assignment uses the
   * committed centroids (the same narrow zero-shuffle projection as the
   * build), and the rows land as an Iceberg fast append on the cells table
   * with their own per-file cell stats, so pruned probes stay exact over
   * the union. The quantizer stays FROZEN — standard IVF maintenance;
   * retraining on drift is a new [[buildIvfIndex]]. O(batch) work per call,
   * never O(index).
   */
  def appendToIvfIndex(vectors: DataFrame, idCol: String, vecCol: String,
      warehouse: String, table: String = "ann_ivf",
      extraProps: Map[String, String] = Map.empty,
      compactOver: Int = 0, expireKeep: Int = 0): Unit = {
    val cat = new graft.tables.IcebergLite(warehouse)
    val cs = committedCentroids(vectors.sparkSession, cat, table)
    appendAssigned(assignCells(vectors, idCol, vecCol, cs), cat, table, cs,
      extraProps, compactOver, expireKeep)
  }

  /** The committed quantizer, collected (nlist rows — the same driver-side
    * footprint every probe path pays). */
  private[graft] def committedCentroids(spark: org.apache.spark.sql.SparkSession,
      cat: graft.tables.IcebergLite, table: String): Seq[(Int, Array[Float])] = {
    import spark.implicits._
    cat.read(spark, s"${table}_centroids")
      .select($"cell", $"cvec")
      .as[(Int, Array[Float])].collect().sortBy(_._1).toSeq
  }

  /** The append body over an already-computed (id, vec, cell) assignment —
    * the seam [[embeddingNearDupIncremental]] uses so the nearest-cell
    * kernel runs ONCE per batch (it already assigned the batch for the
    * pair computation; re-assigning inside the append would double the
    * increment's dominant CPU term, the same hazard the drift aggregate's
    * cache closed). */
  private[graft] def appendAssigned(assigned: DataFrame,
      cat: graft.tables.IcebergLite, table: String,
      cs: Seq[(Int, Array[Float])],
      extraProps: Map[String, String] = Map.empty,
      compactOver: Int = 0, expireKeep: Int = 0): Unit = {
    val spark = assigned.sparkSession
    import spark.implicits._
    // the batch's assignment feeds BOTH the committed write and the drift
    // aggregate — computed once and cached (the nearest-cell kernel is the
    // append's dominant CPU term; running it twice doubled the append)
    val cells = assigned
      .repartitionByRange(math.max(1, math.min(cs.size, 8)), $"cell")
      .persist()
    // DRIFT SIGNAL: the quantizer is frozen by design, so tell the operator
    // WHEN it stops fitting — the fraction of appended rows whose best-cell
    // similarity falls below their cell's build-time mean
    // (`cellMeanSim` on the centroid snapshot). ~0.5 is the healthy
    // same-distribution reading (half of any population sits below its
    // mean); a drifted batch reads near 1.0 and the operator should plan a
    // rebuild ([[maybeRebuildIvfIndex]] is the wired consumer). O(batch)
    // work, recorded as `driftFraction` on the append snapshot; indexes
    // built before the reference existed skip it.
    val driftProp: Map[String, String] =
      cat.currentSnapshot(s"${table}_centroids")
        .flatMap(_.properties.get("cellMeanSim")).map { ref =>
          val means = ref.split(",").map { kv =>
            val Array(c, m) = kv.split(":", 2); (c.toInt, m.toDouble) }.toSeq
          val meansDf = broadcast(means.toDF("cell", "m"))
          val csDf = broadcast(cs.toDF("cell", "cvec"))
          val row = cells
            .join(csDf, "cell").join(meansDf, "cell")
            .agg(avg((round(cosine($"vec", $"cvec"), 6) < $"m").cast("int"))
              .as("frac"))
            .head()
          if (row.isNullAt(0)) Map.empty[String, String]
          else Map("driftFraction" -> f"${row.getDouble(0)}%.4f")
        }.getOrElse(Map.empty)
    // carry the build parameters forward: the snapshot properties ARE the
    // index's self-description (nlist/seed/lloydIters), and an append must
    // not erase it; extraProps overlays markers like a streaming sink's
    // batchId idempotence guard
    val inherited = cat.currentSnapshot(s"${table}_cells")
      .map(_.properties - "appendedRows" - "driftFraction").getOrElse(Map.empty)
    cat.append(cells, s"${table}_cells", inherited ++ driftProp ++ extraProps,
      statsCol = Some("cell"))
    cells.unpersist()
    // keep the id sidecar in lockstep: the sync appends this batch's delta
    // AND any delta a previous crash left missing
    // ([[graft.tables.IcebergLite.syncSidecar]]). An index built before the
    // sidecar existed simply has none; probes fall back to the full scan.
    healSidecar(spark, cat, s"${table}_cells", s"${table}_ids")
    // optional housekeeping for long BATCH append chains — the same knobs
    // [[graft.streaming.IndexStream]] wires for streaming maintenance
    cat.maintain(spark, s"${table}_cells", compactOver, expireKeep)
    cat.maintain(spark, s"${table}_ids", compactOver, expireKeep)
    ()
  }

  /**
   * The drift signal's CONSUMER: retrain-and-swap the committed IVF index
   * from its own current contents when the last append's recorded
   * `driftFraction` exceeds `driftThreshold` (or unconditionally via
   * [[rebuildIvfIndex]]). Returns true when a rebuild ran. The healthy
   * same-distribution reading is ~0.5 (half of any population sits below
   * its cell's mean); 0.8 says most of the batch landed below the build-
   * time fit and the frozen quantizer no longer describes the data.
   */
  def maybeRebuildIvfIndex(spark: org.apache.spark.sql.SparkSession,
      warehouse: String, table: String = "ann_ivf",
      driftThreshold: Double = 0.8): Boolean = {
    val cat = new graft.tables.IcebergLite(warehouse)
    val drifted = cat.currentSnapshot(s"${table}_cells")
      .flatMap(_.properties.get("driftFraction")).exists(_.toDouble > driftThreshold)
    if (drifted) rebuildIvfIndex(spark, warehouse, table)
    drifted
  }

  /**
   * Rebuild the committed IVF index from its own current contents: re-read
   * every (id, vec) from the cells table, RETRAIN the quantizer at the
   * committed (nlist, seed, lloydIters), re-assign, and commit cells /
   * centroids / id sidecar as full-replacement snapshots — the standard
   * answer once [[appendToIvfIndex]]'s driftFraction says the frozen
   * quantizer stopped fitting. Each table's swap is snapshot-atomic
   * (readers see the old index or the new one, never a mix of files), and
   * the new centroid snapshot carries a fresh `cellMeanSim` reference so
   * the drift signal measures against the CURRENT distribution. Training
   * is bit-deterministic, so a rebuild over unchanged data reproduces the
   * index exactly (probe-identical — asserted in AnnIndexSpec); over
   * drifted data it restores the recall the stale quantizer was losing.
   */
  def rebuildIvfIndex(spark: org.apache.spark.sql.SparkSession,
      warehouse: String, table: String = "ann_ivf",
      nlist: Int = 0, lloydIters: Int = -1): Unit = {
    import spark.implicits._
    val cat = new graft.tables.IcebergLite(warehouse)
    val snap = cat.currentSnapshot(s"${table}_cells").getOrElse(
      throw graft.tables.NoSuchTable(
        s"no committed $table index under $warehouse — buildIvfIndex first"))
    // committed parameters by default; nlist/lloydIters are OVERRIDABLE
    // because a rebuild is exactly when the operator re-sizes the quantizer:
    // a drifted mixture is a harder clustering problem than the seed corpus
    // (the drift soak measured 2 Lloyd rounds failing to carve cells for a
    // 10% drifted mode set that 8 rounds separate cleanly), and more data
    // can warrant more cells. The new parameters become the committed ones.
    val (nl, seed, iters) = (
      if (nlist > 0) nlist else snap.properties("nlist").toInt,
      snap.properties("seed").toLong,
      if (lloydIters >= 0) lloydIters else snap.properties("lloydIters").toInt)
    // materialize the corpus off the files the commit below supersedes:
    // time travel keeps them on disk, but a long lazy read spanning the
    // swap would mix old plan state with new snapshots
    val vectors = cat.read(spark, s"${table}_cells")
      .select($"id", $"vec").localCheckpoint(true)
    buildIvfIndex(vectors, "id", "vec", warehouse, table, nl, seed, iters)
  }

  /** Shared probe pipeline over a committed index: nprobe nearest cells per
    * query (heap aggregate against the broadcast centroid table), manifest-
    * pruned read of exactly the probed cells' files, exact rank within them.
    * `excludeSelf` guards the corpus-member probe shape where a query would
    * otherwise rank itself. */
  private def probeCommitted(spark: org.apache.spark.sql.SparkSession,
      cat: graft.tables.IcebergLite, table: String, qs: DataFrame,
      k: Int, nprobe: Int, excludeSelf: Boolean): DataFrame = {
    import spark.implicits._
    val cs = broadcast(cat.read(spark, s"${table}_centroids"))
    val cellTop = qs.join(cs)
      .select($"q", cosine($"qv", $"cvec").as("cos"), $"cell".cast("long").as("neighbor"))
      .groupBy($"q")
      .agg(graft.functions.TopKByScore.topk_by($"cos", $"neighbor", nprobe).as("top"))
      .select($"q", explode($"top.neighbor").as("cell"))
      .select($"q", $"cell".cast("int").as("cell"))
      .persist()
    // the probed-cell set is |queries| × nprobe ints — quantizer-sized, the
    // same bounded-collect class as the training sums
    val probedCells = cellTop.select($"cell").distinct().as[Int].collect()
      .map(_.toLong).toSet
    val probed = broadcast(qs.join(cellTop, "q").select($"q", $"qv", $"cell"))
    val corpus = cat.readPruned(spark, s"${table}_cells", probedCells)
    val cand = corpus.join(probed, Seq("cell"))
    val out = rankTopK((if (excludeSelf) cand.filter($"id" =!= $"q") else cand)
        .select($"q", $"id".as("neighbor"),
          round(cosine($"qv", $"vec"), 6).as("cos")), k)
      .localCheckpoint(true)
    cellTop.unpersist()
    out
  }

  /**
   * IVF top-k through the committed index — row-identical to [[ivfTopK]] at
   * the index's build parameters (the quantizer is bit-deterministic, the
   * assignment is read back not recomputed, the ranking is the same
   * bounded-heap aggregate), with zero training jobs. The probed-cell set
   * (|queries| × nprobe ints — quantizer-sized, the same bounded-collect
   * class as the training sums) drives manifest file pruning, so the
   * candidate scan reads only the probed cells' files.
   */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, warehouse: String,
      queryIds: Seq[Long], k: Int = 10, nprobe: Int = 4,
      table: String = "ann_ivf"): DataFrame = {
    import spark.implicits._
    val cat = new graft.tables.IcebergLite(warehouse)
    // locate the query rows WITHOUT scanning the whole index: the id
    // sidecar (stats'd on id) maps query ids to their cells reading a
    // bounded file subset of a 2-column table, then the query VECTORS come
    // from a cell-pruned read of exactly those cells' files. Indexes built
    // before the sidecar existed fall back to the one full scan.
    val qs =
      if (cat.currentSnapshot(s"${table}_ids").nonEmpty) {
        val qCells = cat.readPruned(spark, s"${table}_ids", queryIds.toSet)
          .filter($"id".isin(queryIds: _*))
          .select($"cell").distinct().as[Int].collect()
        cat.readPruned(spark, s"${table}_cells", qCells.map(_.toLong).toSet)
          .filter($"id".isin(queryIds: _*))
          .select($"id".as("q"), $"vec".as("qv"))
      } else
        cat.read(spark, s"${table}_cells").filter($"id".isin(queryIds: _*))
          .select($"id".as("q"), $"vec".as("qv"))
    probeCommitted(spark, cat, table, qs, k, nprobe, excludeSelf = true)
  }

  /**
   * IVF top-k for EXTERNAL query vectors against the committed index — the
   * production probe shape (queries are usually new vectors, not corpus
   * members). [[ivfTopKIndexed]] must scan the cells table once to find its
   * query rows by id; this overload never touches the index for the query
   * side at all: the query frame is small and broadcast, its nprobe cells
   * come from the broadcast centroid table, and the only index I/O is the
   * manifest-pruned read of the probed cells' files. Self-matches cannot
   * arise (external ids), so every corpus vector in a probed cell is a
   * candidate. Output: (q, rank, neighbor, cos), ranked by the same
   * bounded-heap aggregate and tie-break as every ANN path.
   */
  def ivfTopKVectors(spark: org.apache.spark.sql.SparkSession, warehouse: String,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int = 10, nprobe: Int = 4, table: String = "ann_ivf"): DataFrame =
    probeCommitted(spark, new graft.tables.IcebergLite(warehouse), table,
      queries.select(col(idCol).as("q"), col(vecCol).as("qv")),
      k, nprobe, excludeSelf = false)

  /** SemDeDup-shaped near-dup pairs through the committed index —
    * row-identical to [[embeddingNearDupIvf]] at the build parameters,
    * zero training jobs (the within-cell compare inherently reads every
    * cell, so no file pruning applies here). */
  def embeddingNearDupIvfIndexed(spark: org.apache.spark.sql.SparkSession,
      warehouse: String, threshold: Double,
      table: String = "ann_ivf", blocks: Int = 8): DataFrame =
    cellPairs(new graft.tables.IcebergLite(warehouse).read(spark, s"${table}_cells"),
      threshold, blocks)

  /** Bipartite twin of [[cellPairs]]: within-cell pairs with one side from
    * each frame (sides assumed id-disjoint — the new-batch-vs-corpus
    * shape), same skew discipline: both sides block-hashed, every B×B
    * block pair joined on the composite (cell, bi, bj) key with the pinned
    * repartition, so a hot cell spreads over B² bounded tasks and AQE
    * cannot re-pack the compute-quadratic groups. */
  private[graft] def cellPairsBipartite(newSide: DataFrame, oldSide: DataFrame,
      threshold: Double, blocks: Int = 8): DataFrame = {
    val spark = newSide.sparkSession
    import spark.implicits._
    val p = spark.sessionState.conf.numShufflePartitions
    val bpairs = (for (i <- 0 until blocks; j <- 0 until blocks) yield (i, j))
    val bpairsDf = broadcast(bpairs.toDF("bi", "bj"))
    val l = newSide.select($"id", $"vec", $"cell",
        pmod(xxhash64($"id", lit(0x5eedL)), lit(blocks)).as("blk"))
      .join(bpairsDf, $"blk" === $"bi")
      .select($"id".as("ia"), $"vec".as("va"), $"cell", $"bi", $"bj")
      .repartition(p, $"cell", $"bi", $"bj")
    val r = oldSide.select($"id", $"vec", $"cell",
        pmod(xxhash64($"id", lit(0x5eedL)), lit(blocks)).as("blk"))
      .join(bpairsDf, $"blk" === $"bj")
      .select($"id".as("ib"), $"vec".as("vb"), $"cell", $"bi", $"bj")
      .repartition(p, $"cell", $"bi", $"bj")
    l.join(r, Seq("cell", "bi", "bj"))
      .filter(round(cosine($"va", $"vb"), 6) >= threshold)
      .select(least($"ia", $"ib").as("a"), greatest($"ia", $"ib").as("b"))
  }

  /** Small-batch twin of [[cellPairsBipartite]]: the batch side explicitly
    * broadcast, the corpus side STREAMED through the hash join with zero
    * shuffle — the same corpus-never-shuffles invariant the text pillars'
    * incremental joins have. Skew needs no block discipline here: per-task
    * work is (corpus rows in task) × (batch rows in the same cell), bounded
    * by the batch, and a hot corpus cell already spreads across its data
    * files. The blocked-shuffle twin remains the big-batch path (a batch
    * too large to broadcast replicating B× is still cheaper than OOM). */
  private[graft] def cellPairsBipartiteBroadcast(newSide: DataFrame,
      oldSide: DataFrame, threshold: Double): DataFrame = {
    val spark = newSide.sparkSession
    import spark.implicits._
    val l = newSide.select($"id".as("ia"), $"vec".as("va"), $"cell")
    val r = oldSide.select($"id".as("ib"), $"vec".as("vb"), $"cell")
    r.join(broadcast(l), Seq("cell"))
      .filter(round(cosine($"va", $"vb"), 6) >= threshold)
      .select(least($"ia", $"ib").as("a"), greatest($"ia", $"ib").as("b"))
  }

  /**
   * Incremental SemDeDup: the embedding modality's analog of the text
   * ladder's `*PairsIncremental` operators — when a batch of new vectors
   * arrives, return EXACTLY the within-cell near-dup pairs involving ≥1
   * new vector, against the committed index's FROZEN quantizer, then
   * fast-append the batch. The committed corpus is never re-paired:
   * [[embeddingNearDupIvfIndexed]] recomputes all Σcell² work per call,
   * this computes (batch_cell × cell) + batch_cell² only.
   *
   * Reads: the centroid table (nlist rows), then a manifest-PRUNED read of
   * the cells table restricted to the cells the batch actually landed in —
   * on a well-spread index a small batch touches few cells and the
   * untouched cells' files are never listed.
   *
   * Contract (spec-gated): `cellPairs(old index) ∪ incremental ==
   * cellPairs(index after append)` at the committed quantizer. Same
   * compute-then-append crash discipline as the text pillars: the pairs
   * frame is materialized BEFORE the append mutates the table, so a crash
   * mid-call just retries.
   *
   * @return (a, b) near-dup pairs involving at least one batch vector
   */
  def embeddingNearDupIncremental(batch: DataFrame, idCol: String,
      vecCol: String, warehouse: String, threshold: Double,
      table: String = "ann_ivf", blocks: Int = 8,
      broadcastRows: Long = 100000L,
      compactOver: Int = 0, expireKeep: Int = 0): DataFrame = {
    val spark = batch.sparkSession
    val cat = new graft.tables.IcebergLite(warehouse)
    val cs = committedCentroids(spark, cat, table)
    val batchCells = assignCells(batch, idCol, vecCol, cs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = embeddingIncrPlan(cat, table, batchCells, threshold, blocks,
        broadcastRows)
      .localCheckpoint(true) // materialize BEFORE the append mutates the table
    appendAssigned(batchCells, cat, table, cs,
      compactOver = compactOver, expireKeep = expireKeep)
    batchCells.unpersist()
    out
  }

  /** The increment's pair plan WITHOUT the append — the no-append seam the
    * bench/driver queries use so repeated invocations never mutate the
    * committed history (the same split every text pillar has:
    * `jaccardIncrPlan`/`winnowIncrPlan`/`minhashIncrPlan`).
    * `batchCells` is the batch already assigned at the FROZEN committed
    * quantizer ([[assignCells]] over the centroid table). */
  private[graft] def embeddingIncrPlan(cat: graft.tables.IcebergLite,
      table: String, batchCells: DataFrame, threshold: Double,
      blocks: Int = 8, broadcastRows: Long = 100000L): DataFrame = {
    val spark = batchCells.sparkSession
    import spark.implicits._
    // the batch's cell set is bounded by nlist (quantizer-sized collect,
    // the same class as every probe path's) and drives the file pruning
    val touched = batchCells.select($"cell").distinct().as[Int].collect()
    val oldCells = cat.readPruned(spark, s"${table}_cells",
        touched.map(_.toLong).toSet)
      .filter($"cell".isin(touched.toSeq: _*))
    // path switch on the batch's actual size (callers persist/checkpoint
    // batchCells, so the count is a cached-frame pass, not a recompute):
    // the usual increment broadcasts and the corpus never shuffles; a bulk
    // backfill falls back to the skew-blocked shuffle join
    val bipartite =
      if (batchCells.count() <= broadcastRows)
        cellPairsBipartiteBroadcast(batchCells, oldCells, threshold)
      else cellPairsBipartite(batchCells, oldCells, threshold, blocks)
    bipartite.union(cellPairs(batchCells, threshold, blocks))
  }

  // ---------------------------------------------------------------------------
  // Build-once / probe-many: the LSH bucket table committed to Iceberg-lite
  // ---------------------------------------------------------------------------

  /**
   * Build the committed LSH index — the bucket-table twin of
   * [[buildIvfIndex]]: [[lshTopK]] re-buckets the ENTIRE corpus on every
   * call (one corpus scan + planes kernel evals per row), fine for a
   * one-shot eval, wrong economics at production query volume. Commits
   *
   *  - `<table>_buckets` (id, vec, bucket) — the corpus with its
   *    random-hyperplane signature, range-clustered on `bucket` with
   *    manifest (min, max) file stats so probes read only the files whose
   *    bucket range intersects the probe set;
   *  - `<table>_ids` (id, bucket) — the member-id sidecar, stats'd on `id`.
   *
   * The hyperplanes are a pure function of (seed, plane, dim) — no
   * data-dependent state to store — so (planes, seed, dim) in the snapshot
   * properties fully describe the index; any future probe (including an
   * external-vector one) can re-derive the planes from the properties
   * alone.
   *
   * `targetFiles` is the PRUNING lever: a probe reads every file whose
   * bucket RANGE intersects its probe set, and multi-probe buckets
   * XOR-scatter across the 2^planes space — with few wide-range files,
   * almost every file's range is hit (measured: 31 of 32 files at 106
   * probe buckets over 1024). At one-file-per-bucket granularity
   * (`targetFiles = 1 << planes`) a probe reads EXACTLY its probe set's
   * share of the index bytes. Default (0 = auto) keeps 32 files for small
   * corpora; size it toward 2^planes as the corpus grows — at production
   * scale thousands of files is normal for a big table and per-file size,
   * not file count, is what should bound the layout.
   */
  def buildLshIndex(vectors: DataFrame, idCol: String, vecCol: String,
      warehouse: String, table: String = "ann_lsh",
      planes: Int = 8, seed: Long = 42L, dim: Int = -1,
      targetFiles: Int = 0): Unit = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val d = if (dim > 0) dim
      else vectors.filter(col(vecCol).isNotNull)
        .select(size(col(vecCol))).first().getInt(0)
    val nf = if (targetFiles > 0) math.min(targetFiles, 1 << planes)
      else math.max(1, math.min(1 << planes, 32))
    val bucketed = lshBucket(vectors, idCol, vecCol, planes, seed, d)
      .repartitionByRange(nf, $"bucket")
    val cat = new graft.tables.IcebergLite(warehouse)
    val props = Map("planes" -> planes.toString, "seed" -> seed.toString,
      "dim" -> d.toString)
    cat.commit(bucketed, s"${table}_buckets", props, statsCol = Some("bucket"))
    cat.commitSidecar(spark, s"${table}_buckets", s"${table}_ids", props,
      statsCol = Some("id"))(idRows("bucket"))
    ()
  }

  /**
   * LSH top-k through the committed bucket table — row-identical to
   * [[lshTopK]] at the index's build parameters, with ZERO re-bucketing
   * (asserted via [[bucketInvocations]] in tests): the probe's reads are
   *
   *  1. the id sidecar, pruned to the files covering the query ids, for
   *     the |queries| query buckets (collected driver-side — the same
   *     bounded-collect class as the IVF probe's cell set);
   *  2. the bucket table, pruned to the files whose bucket range
   *     intersects the Σ_{i≤probeHamming} C(planes,i) probe buckets per
   *     query (enumerated driver-side from the committed `planes`).
   *
   * Mask 0 puts each query's own bucket in the probe set, so the query
   * VECTORS come out of the same pruned read — the full bucket table is
   * never scanned.
   */
  def lshTopKIndexed(spark: org.apache.spark.sql.SparkSession, warehouse: String,
      queryIds: Seq[Long], k: Int = 10, probeHamming: Int = 1,
      table: String = "ann_lsh"): DataFrame = {
    import spark.implicits._
    val cat = new graft.tables.IcebergLite(warehouse)
    val snap = cat.currentSnapshot(s"${table}_buckets").getOrElse(
      throw graft.tables.NoSuchTable(
        s"no committed $table index under $warehouse — buildLshIndex first"))
    val planes = snap.properties("planes").toInt
    val masks = probeMasks(planes, probeHamming)
    val qBuckets = cat.readPruned(spark, s"${table}_ids", queryIds.toSet)
      .filter($"id".isin(queryIds: _*))
      .select($"id", $"bucket").as[(Long, Long)].collect()
    val probePairs = qBuckets.flatMap { case (q, b) =>
      masks.map(m => (q, b ^ m)) }.toSeq
    val corpus = cat.readPruned(spark, s"${table}_buckets",
      probePairs.map(_._2).toSet)
    val qv = corpus.filter($"id".isin(queryIds: _*))
      .select($"id".as("q"), $"vec".as("qv"))
    val qProbes = broadcast(qv.join(probePairs.toDF("q", "bucket"), Seq("q")))
    rankTopK(corpus.join(qProbes, Seq("bucket")).filter($"id" =!= $"q")
      .select($"q", $"id".as("neighbor"),
        round(cosine($"qv", $"vec"), 6).as("cos")), k)
  }

  /**
   * Append newly ingested vectors to a COMMITTED LSH index — the bucket-
   * table twin of [[appendToIvfIndex]]: the batch is bucketed with the
   * COMMITTED (planes, seed, dim) — hyperplanes are a pure function of
   * them, so an append can never disagree with the build — and lands as an
   * Iceberg fast append with its own per-file bucket stats; the id sidecar
   * follows with the O(batch) delta. Probes over the union stay exact.
   */
  def appendToLshIndex(vectors: DataFrame, idCol: String, vecCol: String,
      warehouse: String, table: String = "ann_lsh",
      extraProps: Map[String, String] = Map.empty,
      compactOver: Int = 0, expireKeep: Int = 0): Unit = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val cat = new graft.tables.IcebergLite(warehouse)
    val snap = cat.currentSnapshot(s"${table}_buckets").getOrElse(
      throw graft.tables.NoSuchTable(
        s"no committed $table index under $warehouse — buildLshIndex first"))
    val (planes, seed, dim) = (snap.properties("planes").toInt,
      snap.properties("seed").toLong, snap.properties("dim").toInt)
    val bucketed = lshBucket(vectors, idCol, vecCol, planes, seed, dim)
      .repartitionByRange(2, $"bucket")
    val inherited = snap.properties - "appendedRows"
    cat.append(bucketed, s"${table}_buckets", inherited ++ extraProps,
      statsCol = Some("bucket"))
    // self-healing lockstep — covers this batch AND any sidecar gap a crash
    // between the two appends left behind
    // ([[graft.tables.IcebergLite.syncSidecar]])
    healSidecar(spark, cat, s"${table}_buckets", s"${table}_ids",
      valueCol = "bucket")
    cat.maintain(spark, s"${table}_buckets", compactOver, expireKeep)
    cat.maintain(spark, s"${table}_ids", compactOver, expireKeep)
    ()
  }

  /**
   * LSH top-k for EXTERNAL query vectors against the committed index — the
   * production probe shape, twin of [[ivfTopKVectors]]. The query frame is
   * bucketed with the committed (planes, seed, dim) — O(|queries|) kernel
   * work, the corpus is NEVER re-bucketed — and the only index I/O is the
   * pruned read of the probe buckets' files. No self-match filter
   * (external ids), so every corpus vector in a probed bucket competes.
   */
  def lshTopKVectors(spark: org.apache.spark.sql.SparkSession, warehouse: String,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int = 10, probeHamming: Int = 1,
      table: String = "ann_lsh"): DataFrame = {
    import spark.implicits._
    val cat = new graft.tables.IcebergLite(warehouse)
    val snap = cat.currentSnapshot(s"${table}_buckets").getOrElse(
      throw graft.tables.NoSuchTable(
        s"no committed $table index under $warehouse — buildLshIndex first"))
    val (planes, seed, dim) = (snap.properties("planes").toInt,
      snap.properties("seed").toLong, snap.properties("dim").toInt)
    val qb = lshBucket(queries.select(col(idCol), col(vecCol)),
      idCol, vecCol, planes, seed, dim)
    val masks = probeMasks(planes, probeHamming)
    val qRows = qb.select($"id", $"bucket").as[(Long, Long)].collect()
    val probePairs = qRows.flatMap { case (q, b) =>
      masks.map(m => (q, b ^ m)) }.toSeq
    val corpus = cat.readPruned(spark, s"${table}_buckets",
      probePairs.map(_._2).toSet)
    val qProbes = broadcast(qb.select($"id".as("q"), $"vec".as("qv"))
      .join(probePairs.toDF("q", "bucket"), Seq("q")))
    rankTopK(corpus.join(qProbes, Seq("bucket"))
      .select($"q", $"id".as("neighbor"),
        round(cosine($"qv", $"vec"), 6).as("cos")), k)
  }
}
