package graft.core

/** The converge-or-throw loop every iterative graph operator runs
  * (star contraction, both k-core peels, min-label propagation). The
  * caller's `step` owns the round body — its plans, its per-round
  * [[Lineage.truncate]], its caches and its convergence probe; this owns
  * the round counter, the cap and the one cap-exit error, so a runaway
  * guard fails the same way everywhere.
  *
  * The cap is a RUNAWAY GUARD, not a truncation knob: a state that has
  * not settled within `maxRounds` is not the operator's answer, so this
  * throws `IllegalStateException("<op> did not converge within <cap>
  * rounds " + advice(state))`, where `advice` renders "(<progress>);
  * <what a capped answer gets wrong>. Raise <param> (<growth law>)." —
  * unless `exemptAtCap(state)` says the state at the cap is final anyway
  * (a peel whose working edge set is already empty).
  *
  * Returns the settled state and the rounds run, counting the round
  * whose `step` reported it had settled. */
object Fixpoint {

  def converge[S](op: String, maxRounds: Int, advice: S => String,
                  exemptAtCap: S => Boolean = (_: S) => false)
                 (init: S)(step: S => (S, Boolean)): (S, Int) = {
    @annotation.tailrec
    def round(state: S, rounds: Int): (S, Int) =
      if (rounds >= maxRounds) {
        if (exemptAtCap(state)) (state, rounds)
        else throw new IllegalStateException(
          s"$op did not converge within $maxRounds rounds ${advice(state)}")
      } else step(state) match {
        case (next, true) => (next, rounds + 1)
        case (next, false) => round(next, rounds + 1)
      }
    round(init, 0)
  }
}
