package graft.core

import org.apache.spark.sql.DataFrame

/** Lineage-truncation policy — the ONE place that decides how iterative
  * operators cut their per-round plans (r16, VERDICT item 7).
  *
  * Every fixed-point/round loop here must materialize each round and
  * truncate lineage: the converge-or-throw loops driven by
  * [[Fixpoint.converge]] (star contraction, both k-core peels,
  * converged label propagation) call it in their round steps, and the
  * fixed-round ones (pagerank, BPE rounds, NN-Descent) in their bodies.
  * Without it the logical plan doubles per round and Catalyst
  * re-analysis dwarfs the data long before scale does (measured
  * repeatedly; see clusterLabelsConverged). `localCheckpoint`
  * is the right local-mode tool: executor-local blocks, no filesystem
  * round-trip. Its documented weakness is cluster fault-tolerance — the
  * blocks are NOT recomputable, so on a real cluster an executor loss
  * mid-job kills the query (the "locally checkpointed ... cannot be
  * recomputed" failure). Deployments that need to survive executor loss
  * set BOTH:
  *
  *   spark.graft.reliableCheckpoints=true
  *   spark.sparkContext.setCheckpointDir(<hdfs/object-store path>)
  *
  * and every round then lands as a RELIABLE checkpoint (recomputable
  * from storage, lineage equally truncated) at the cost of one
  * write-read per round. The default stays local — bit-identical
  * behavior to the pre-policy code, pinned by LineageSpec. */
object Lineage {

  private def reliable(df: DataFrame): Boolean = {
    val sc = df.sparkSession.sparkContext
    df.sparkSession.conf.get("spark.graft.reliableCheckpoints", "false") == "true" &&
      sc.getCheckpointDir.isDefined
  }

  /** Eager truncation — materializes now, returns a leaf-plan frame.
    * The drop-in for `df.localCheckpoint()`. */
  def truncate(df: DataFrame): DataFrame =
    if (reliable(df)) df.checkpoint() else df.localCheckpoint()

  /** Lazy truncation — the leaf is materialized by the first action.
    * The drop-in for `df.localCheckpoint(false)`. */
  def truncateLazy(df: DataFrame): DataFrame =
    if (reliable(df)) df.checkpoint(eager = false) else df.localCheckpoint(false)
}
