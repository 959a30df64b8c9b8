package graft.algo

import org.apache.spark.sql.DataFrame

import graft.state.Supersteps

/** Per-superstep execution record — the lineage/metrics row the north rule
  * requires for every iteration (persisted via [[graft.state.Supersteps]]). */
case class SuperstepMetric(
    algo: String,
    superstep: Int,
    rowsOut: Long,
    edgesProcessed: Long,
    wallMs: Long,
    delta: Double)

/**
 * The one superstep loop behind the iterative operators (PageRank/PPR, CC,
 * LPA, HITS, k-core, BFS distances): an operator supplies its initial state,
 * one step body and a report measured on the step's sunk state; the driver
 * owns the superstep counter, the `maxSteps` / converged exit, the wall
 * timing, the one [[SuperstepMetric]] per superstep, and the sink. Every
 * step's output is `localCheckpoint`-ed (plan depth O(1)); a logged sink
 * then also commits it — [[Commit]] the full state through
 * [[Supersteps.commit]], [[Append]] only the new rows of a monotone state
 * through [[Supersteps.appendDelta]] — and the next step reads the
 * COMMITTED bytes, so a resumed run and an uninterrupted one see identical
 * inputs. A logged run commits its initial state as superstep 0, resumes
 * from the last committed superstep, and runs nothing when that superstep
 * already reported convergence.
 */
private[algo] object Superstep {

  sealed abstract class Sink(val log: Option[Supersteps])
  case object Checkpoint extends Sink(None)
  final case class Commit(to: Supersteps) extends Sink(Some(to))
  final case class Append(to: Supersteps) extends Sink(Some(to))

  def sink(log: Option[Supersteps]): Sink = log.fold[Sink](Checkpoint)(Commit)

  /** A step's figures; a `delta` in [0, tol] marks the fixpoint (operators
    * with no convergence test report -1). */
  final case class Report(rowsOut: Long, edgesProcessed: Long, delta: Double = -1.0)

  final case class Run(state: DataFrame, metrics: Seq[SuperstepMetric], steps: Int)

  /** `step(state, k)` builds superstep k's lazy plan from superstep k-1's
    * state; `report(prev, next)` measures the sunk result. */
  def iterate(algo: String, sink: Sink, maxSteps: Int, tol: Double = 0.0)(
      init: => DataFrame)(step: (DataFrame, Int) => DataFrame)(
      report: (DataFrame, DataFrame) => Report): Run = {
    def done(delta: Double) = delta >= 0.0 && delta <= tol
    def put(k: Int, s: DataFrame, m: SuperstepMetric): DataFrame = sink match {
      case Checkpoint => s
      case Commit(log) => log.commit(k, s, m)
      case Append(log) => log.appendDelta(k, s, m); log.readDelta()
    }
    val resumed = sink.log.filter(_.lastCompleted.nonEmpty)
    var k = resumed.flatMap(_.lastCompleted).getOrElse(0)
    var state = (sink, resumed) match {
      case (Append(_), Some(l)) => l.readDelta()
      case (_, Some(l)) => l.readState()
      case _ => put(0, init.localCheckpoint(true), SuperstepMetric(algo, 0, 0L, 0L, 0L, -1.0))
    }
    var converged = resumed.flatMap(_.lineage.lastOption).exists(m => done(m("delta").toDouble))
    val metrics = scala.collection.mutable.ArrayBuffer[SuperstepMetric]()
    while (!converged && k < maxSteps) {
      val t0 = System.nanoTime()
      val next = step(state, k + 1).localCheckpoint(true)
      val r = report(state, next)
      k += 1
      val m = SuperstepMetric(algo, k, r.rowsOut, r.edgesProcessed,
        (System.nanoTime() - t0) / 1000000L, r.delta)
      state = put(k, next, m)
      metrics += m
      converged = done(r.delta)
    }
    Run(state, metrics.toSeq, k)
  }
}
