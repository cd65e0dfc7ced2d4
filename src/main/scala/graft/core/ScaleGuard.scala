package graft.core

/** Refusal raised by deliberately-bounded verification baselines (e.g. the
  * quadratic all-pairs near-dup checks) when their input exceeds the
  * documented ceiling. A DISTINCT type, not a bare require: scale
  * rehearsals run the full registry at sf1/sf10+, where these rows are
  * EXPECTED to refuse — harnesses ([[graft.Bench]], `tools.Probe`) catch this
  * type and record `skipped_guard` instead of an error, so an artifact
  * with a tripped guard is distinguishable from one with a real failure.
  * Subclasses IllegalArgumentException so existing callers that treat the
  * refusal as a plain precondition keep working. */
final class ScaleGuardRefusal(msg: String) extends IllegalArgumentException(msg)

object ScaleGuard {
  /** `require` that refuses with [[ScaleGuardRefusal]]. */
  def require(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new ScaleGuardRefusal(msg)
}
