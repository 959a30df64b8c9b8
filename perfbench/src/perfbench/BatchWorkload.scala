package perfbench

/** The engine's batch operators beyond the paper: one pass is the
  * [[Analytics]] operators on a seeded edge table, then the [[DedupLadder]]
  * on a seeded document corpus. Set-up generates and persists both inputs. */
object BatchWorkload {
  val PrepareReps = 5

  def run(r: Run): Unit = {
    r.sizes ++= Analytics.sizes ++ DedupLadder.sizes
    val (edges, docs) = r.prepare(PrepareReps) {
      (Analytics.generate(r), DedupLadder.generate(r))
    }
    val inputs = r.persisted
    val graph = Analytics.input(r, edges)
    val corpus = DedupLadder.input(r, docs)
    r.sizes("edges") = graph.ref.edges.length

    def pass(i: Int): Unit = {
      r.settle(inputs)
      Analytics.pass(r, graph, i)
      r.settle(inputs)
      DedupLadder.pass(r, corpus)
    }
    r.measure(1)(pass)
  }
}
