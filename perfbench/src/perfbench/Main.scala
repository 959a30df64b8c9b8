package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.GraftSession

/** One workload run in one `local[nproc]` Spark process.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --scratch DIR --out FILE
  *
  * Writes the run record (environment stamp, set-up times, every op with its
  * verdict, checks, counts and, when traced, spans and Spark events) as JSON
  * to FILE; `perfbench/run.py` turns it into metrics. All files the run
  * creates live under DIR. */
object Main {

  val Workloads: Map[String, Run => Unit] = Map(
    "links" -> LinksWorkload.run,
    "batch" -> BatchWorkload.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"--$k is required"))
    val workload = need("workload")
    val body = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val seed = need("seed").toLong
    val traced = need("trace") == "1"
    val scratch = Paths.get(need("scratch")).toAbsolutePath
    Files.createDirectories(scratch)

    val spin = spinSeconds()
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(cores)
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("catalog").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext,
      s"$workload-$seed-${if (traced) "traced" else "untraced"}-${ProcessHandle.current().pid()}")
    val run = new Run(spark, tracer, seed, need("seconds").toDouble, traced, scratch)
    run.recordSession((System.nanoTime() - t0) / 1e9)
    try body(run)
    finally tracer.stop()

    val env = Map(
      "spin_s" -> spin, "spin_steps" -> SpinSteps, "nproc" -> cores,
      "driver_heap_bytes" -> Runtime.getRuntime.maxMemory(),
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "spark" -> spark.version, "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))
    val record = Map("workload" -> workload, "seed" -> seed, "traced" -> traced,
      "env" -> env) ++ run.record ++ (if (traced) tracer.records else Map.empty)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(Paths.get(need("out")).toFile, record)
    spark.stop()
  }

  val SpinSteps = 200000000

  /** The calibration spin of the engine's own benchmark harness: a fixed
    * single-thread xorshift loop with no I/O, so a slow or shared machine
    * shows up as a large value in the result itself. */
  def spinSeconds(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < SpinSteps) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 0L) System.err.println("")
    (System.nanoTime() - t0) / 1e9
  }
}
