package graft.gas

import org.apache.spark.sql.DataFrame

/** Generic DataFrame-Pregel loop — the user-extension point for custom
  * GAS programs (reference: bigdata-gas `IGASProgram`, which users
  * implement for algorithms beyond the shipped BFS/SSSP/CC/PR; here a
  * program is one `superstep` function over DataFrames).
  *
  * A superstep maps (state, edges, iteration) → next state; the loop
  * localCheckpoints each state (lineage truncation only: the blocks
  * live in executor storage, so losing an executor loses the state —
  * these are not reliable checkpoints) and stops when a superstep is a
  * no-op.
  * The shipped algorithms in [[Analytics]] keep their hand-tuned
  * delta-frontier loops (they can detect convergence from the frontier
  * for free); this generic runner pays one exceptAll per superstep for
  * change detection instead, the honest price of arbitrary programs.
  */
object Pregel {

  def run(edges: DataFrame, initial: DataFrame, maxIter: Int = 64)(
      superstep: (DataFrame, DataFrame, Int) => DataFrame): DataFrame = {
    val e = edges.localCheckpoint()
    var state = initial.localCheckpoint()
    var i = 0
    var changed = true
    while (changed && i < maxIter) {
      i += 1
      val next = superstep(state, e, i).localCheckpoint()
      // multiset equality needs BOTH directions — one-sided exceptAll
      // reads a purely-shrinking superstep (rows removed, none added,
      // e.g. k-core peeling) as a no-op and stops a round early. The
      // one-sided check plus a count comparison is equivalent to the
      // symmetric difference at half the exceptAll cost.
      changed = !next.exceptAll(state).isEmpty || next.count() != state.count()
      state = next
    }
    state
  }

  /** Delta-reporting variant: the superstep maps (state, frontier,
    * edges, iteration) → (next state, next frontier) where the frontier
    * is the DELTA — the vertices whose state changed this superstep
    * (the GAS scheduler set). Convergence = empty frontier: one cheap
    * `isEmpty` on a just-checkpointed (usually tiny) frontier instead
    * of `run`'s full-state exceptAll compare + count — the same trade
    * the tuned [[Analytics]] loops make, now available to custom
    * programs. Programs that cannot produce their delta cheaply should
    * keep using [[run]]; a WRONG frontier (under-reporting changes)
    * terminates early with a wrong answer, so the contract is on the
    * program. */
  def runDelta(edges: DataFrame, initial: DataFrame, maxIter: Int = 64)(
      superstep: (DataFrame, DataFrame, DataFrame, Int) => (DataFrame, DataFrame)): DataFrame = {
    val e = edges.localCheckpoint()
    var state = initial.localCheckpoint()
    var frontier = state
    var i = 0
    while (i < maxIter && !frontier.isEmpty) {
      i += 1
      val (nextState, nextFrontier) = superstep(state, frontier, e, i)
      state = nextState.localCheckpoint()
      frontier = nextFrontier.localCheckpoint()
    }
    state
  }
}
