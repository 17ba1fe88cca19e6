package graft.core

/** The one convergence loop behind components, star contraction and
  * the k-core peel. Its round guard is a runaway check, not a
  * correctness bound: a hit raises instead of returning a half-converged
  * state, and unlike an `assert` it cannot be compiled out.
  */
object Fixpoint {

  /** Apply `step` from `init` until it reports no change and return the
    * last state it produced; throw once more than `maxRounds` rounds
    * have changed something. `init` is taken by name so that nothing
    * holds the starting state once a step has replaced it: a pinned
    * start is then released by the cleaner, as every later round is.
    */
  def converge[S](what: String, maxRounds: Int)(init: => S)
                 (step: S => (S, Boolean)): S = {
    var state = init
    var changed = true
    var rounds = 0
    while (changed) {
      val (next, moved) = step(state)
      state = next; changed = moved
      if (moved) rounds += 1
      if (rounds > maxRounds)
        throw new IllegalStateException(s"$what did not converge in $maxRounds rounds")
    }
    state
  }
}
