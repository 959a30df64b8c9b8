package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark process: the session, the tracer, and the record of
  * everything measured. Workloads call [[prepare]] for set-up, [[measure]]
  * and [[op]] for the timed part, and [[check]] for standalone output
  * checks.
  *
  * Failed-op rule: an op whose body throws, or whose check rejects the
  * output, is recorded as failed with no timing, so it can neither shorten
  * nor lengthen a reported latency. */
final class Run(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val seconds: Double, val traced: Boolean, scratch: Path) {

  private val ops = ArrayBuffer[Map[String, Any]]()
  private val checks = ArrayBuffer[Map[String, Any]]()
  private val prepareS = ArrayBuffer[Double]()
  private var sessionS = 0.0
  val counts = scala.collection.mutable.LinkedHashMap[String, Any]()
  val sizes = scala.collection.mutable.LinkedHashMap[String, Any]()
  private var section = "setup"

  /** Fresh directory under the run's scratch space. */
  def dir(name: String): String = {
    val p = scratch.resolve(name)
    Run.deleteTree(p)
    Files.createDirectories(p.getParent)
    p.toString
  }

  /** Run the set-up `reps` times, each from a settled session; setup_s is
    * their median. The last repetition's result is what the workload uses. */
  def prepare[A](reps: Int)(body: => A): A = {
    var out: Option[A] = None
    for (_ <- 0 until reps) {
      settle()
      val t0 = System.nanoTime()
      out = Some(body)
      prepareS += (System.nanoTime() - t0) / 1e9
    }
    out.get
  }

  /** Session start: reported beside setup_s, not in it, because it happens
    * once per process and cannot be repeated for a median. */
  def recordSession(secondsTaken: Double): Unit = sessionS = secondsTaken

  /** The timed part, closed loop with one client. `warmups` untimed passes
    * come first: they fill the JIT and Spark's code caches, and their ops
    * are still checked and counted. Then timed passes run until `seconds`
    * have elapsed, at least one; the metrics take medians over them. A trace
    * run repeats the timed passes with tracing on. `body` gets a pass
    * number unique within the run. */
  def measure(warmups: Int)(body: Int => Unit): Unit = {
    section = "warmup"
    for (_ <- 0 until warmups) next(body)
    section = if (traced) "untraced" else "timed"
    loop(body)
    if (traced) {
      section = "traced"
      tracer.start("traced")
      loop(body)
      tracer.stop()
    }
  }

  private var pass = 0

  private def next(body: Int => Unit): Unit = { body(pass); pass += 1 }

  private def loop(body: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    do next(body) while ((System.nanoTime() - t0) / 1e9 < seconds)
  }

  def inTracedSection: Boolean = section == "traced"

  private val notes = scala.collection.mutable.LinkedHashMap[String, Any]()

  /** Attach a value to the op being checked (hop count, superstep times). */
  def note(key: String, value: Any): Unit = notes(key) = value

  /** One operation: `body` is timed (inside an `op.<kind>` span when
    * traced), `check` returns None when the output is correct or
    * Some(reason). */
  def op[A](kind: String, items: Long)(body: => A)(check: A => Option[String]): Option[A] = {
    notes.clear()
    val t0 = System.nanoTime()
    val result =
      try Right(tracer.span("op." + kind)(body)) catch { case e: Throwable => Left(describe(e)) }
    val ms = (System.nanoTime() - t0) / 1e6
    val verdict = result.flatMap(r =>
      try check(r).toLeft(r) catch { case e: Throwable => Left("check: " + describe(e)) })
    val rec = Map[String, Any]("section" -> section, "pass" -> pass, "kind" -> kind, "items" -> items,
      "ok" -> verdict.isRight, "ms" -> (if (verdict.isRight) ms else null),
      "error" -> verdict.left.toOption.orNull) ++ notes
    ops += rec
    verdict.left.foreach(r => System.err.println(s"[perfbench] $kind failed: $r"))
    verdict.toOption
  }

  /** A standalone output check; counts as one attempted op. */
  def check(name: String)(body: => Option[String]): Boolean = {
    val verdict = try body catch { case e: Throwable => Some(describe(e)) }
    checks += Map("name" -> name, "ok" -> verdict.isEmpty, "error" -> verdict.orNull)
    verdict.foreach(r => System.err.println(s"[perfbench] check $name failed: $r"))
    verdict.isEmpty
  }

  /** Ids of the RDDs persisted right now (a workload's inputs). */
  def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Untimed, between phases: drop every persisted RDD except `keep` and
    * collect garbage, so one phase's leftovers cannot slow the next. */
  def settle(keep: Set[Int] = Set.empty): Unit = {
    if (keep.isEmpty) spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = true)
    }
    System.gc()
  }

  def record: Map[String, Any] = Map(
    "setup" -> Map("prepare_s" -> prepareS.toSeq, "session_s" -> sessionS),
    "ops" -> ops.toSeq, "checks" -> checks.toSeq,
    "counts" -> counts.toMap, "sizes" -> sizes.toMap)

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
}

object Run {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  def treeBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }
}
