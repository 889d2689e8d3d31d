package graft.operators

import org.apache.spark.sql.SparkSession

/** The one driver for iterative operators: each round's step builds and
  * pins (or collects) the next state and reads a metadata-sized gate;
  * `run` owns the round bound, the stop and the run record. Gates are
  * exact sums or set equality, so a replay stops at the same round with
  * the same bits. A gate over a pinned frame comes from that pin's own
  * job ([[Pin.withGate]]), not from a second job over its blocks. */
object Loop {

  /** One loop invocation: `converged` is whether the gate fired —
    * false when the bound stopped it, and always for fixed-round loops. */
  case class Run(op: String, rounds: Int, converged: Boolean)

  /** (job group active at the call, run) — Bench tags each query's final
    * timed rep with a group. Grows by one entry per loop, never by rows. */
  private val runs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Run)]()

  /** Iterate `step` from `init` until its gate fires (the step's second
    * result) or `maxRounds` rounds have run. Returns the final state and
    * the rounds run, and records one [[Run]]. */
  def run[S](op: String, init: S, maxRounds: Int)(step: S => (S, Boolean)): (S, Int) = {
    require(maxRounds >= 1, s"$op: maxRounds must be >= 1, got $maxRounds")
    var state = init
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val (next, fired) = step(state)
      state = next
      converged = fired
      rounds += 1
    }
    val group = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .flatMap(s => Option(s.sparkContext.getLocalProperty("spark.jobGroup.id")))
      .getOrElse("")
    runs.add(group -> Run(op, rounds, converged))
    (state, rounds)
  }

  /** All records since the last drain, oldest first; empties the log. */
  def drain(): Seq[(String, Run)] =
    Iterator.continually(runs.poll()).takeWhile(_ != null).toSeq
}
