package graft

/**
 * Auxiliary measurement harness for optimization work (guide §1): times an
 * arbitrary subset of [[SparkEntry.queries]] with the SAME methodology as
 * [[Bench]] (count() action, best-of-N, cache/persist flush between runs)
 * but WITHOUT the scaling / route / index sections, so a single query's
 * before/after can be measured in seconds instead of a ~20-minute full
 * bench. Also dumps `.explain("formatted")` per query for the plan-diff
 * artifacts under plans/r07/.
 *
 * Usage:
 *   sbt "runMain graft.BenchExtra [--reps N] [--explain DIR --suffix S]
 *                                 [--noop] [query ...]"
 *
 * No query named → the full [[Bench]] headline set. `--noop` times a
 * noop-sink write (computes every column, guide §1.4) instead of count().
 * This main is measurement-only: Bench.scala stays the frozen driver
 * contract; numbers from here are cited in OPTIMIZATION_r07.md only.
 */
object BenchExtra {

  private val Headline = Seq(
    "g_edges", "g_degrees", "g_adjacency", "g_triangles", "g_cc", "g_bfs",
    "g_pagerank", "g_ppr", "g_hits", "g_anf", "g_condense", "g_walks",
    "g_kcore",
    "q1_agg", "q_join_revenue", "q_window_events",
    "d_exact", "d_jaccard", "d_minhash_lsh", "d_minhash_incr",
    "d_clusters", "d_clusters_warm", "d_passages", "d_passages_incr",
    "t_langid", "s_ann_topk", "s_neardup", "x_neardup_incr",
    "x_simhash_pairs", "p_pack", "p_filter")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

    var reps = 2
    var explainDir: Option[String] = None
    var suffix = "plan"
    var noop = false
    val names = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    def value(flag: String): String = {
      require(i + 1 < args.length, s"$flag needs a value")
      i += 2; args(i - 1)
    }
    while (i < args.length) {
      args(i) match {
        case "--reps" => reps = value("--reps").toInt
        case "--explain" => explainDir = Some(value("--explain"))
        case "--suffix" => suffix = value("--suffix")
        case "--noop" => noop = true; i += 1
        case q => names += q; i += 1
      }
    }
    val sel = if (names.isEmpty) Headline else names.toSeq
    val unknown = sel.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"unknown quer${if (unknown.size == 1) "y" else "ies"}: ${unknown.mkString(", ")}")

    val spark = GraftSession.get(cpus)
    val results = sel.flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        spark.sparkContext.setJobDescription(s"benchextra: $name")
        explainDir.foreach { dir =>
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, s"${name}_$suffix.txt"),
            txt.getBytes("UTF-8"))
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = true))
        }
        // a failed run carries no time: it is None, never a sentinel that
        // could pass for a measurement
        val runs = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          val secs =
            try {
              val df = fn(spark, sfDir)
              if (noop) df.write.format("noop").mode("overwrite").save()
              else df.count()
              Some((System.nanoTime() - t0) / 1e9)
            } catch { case e: Throwable =>
              System.err.println(s"[benchextra] $name failed: ${e.getMessage}")
              None
            }
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = true))
          secs
        }
        spark.sparkContext.setJobDescription(null)
        name -> runs
      }
    }
    def num(s: Option[Double]) = s.fold("null")(v => f"$v%.3f")
    val best = results.map { case (k, v) => k -> v.flatten.minOption }
    val qs = best.map { case (k, m) => "\"" + k + "\":" + num(m) }
      .mkString("{", ",", "}")
    val qruns = results.map { case (k, v) =>
      "\"" + k + "\":[" + v.map(num).mkString(",") + "]" }
      .mkString("{", ",", "}")
    // a query whose every run failed has no minimum: listed, not summed
    val failed = best.collect { case (k, None) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = best.flatMap(_._2).sum
    println(f"""{"metric":"extra_total","value":$total%.3f,"unit":"sec","best_of":$reps,""" +
      s""""queries":$qs,"query_runs":$qruns,"failed":$failed,"sf":"$sfDir","noop":$noop}""")
    spark.stop()
  }
}
