package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** Structural release for operator-persisted intermediates.
  *
  * Operators persist diamond-shaped subplans (consumed 2-3× inside one
  * returned lazy plan) and cannot unpersist them before the caller runs an
  * action — so the caller owns the release. The Verify/Bench harness
  * honors that contract explicitly and `Runner`'s monthly refresh runs in
  * a [[scoped]] block; an interactive session that ignores it accumulates
  * dead blocks until the storage pool pressures real work (measured: up
  * to 9× per-query inflation late in a 54-query session).
  *
  * [[scoped]] makes the contract structural instead of disciplinary:
  *
  * {{{
  * CacheScope.scoped {
  *   DocDedup.minhashLshPairs(docs).count()   // actions run INSIDE
  * }                                          // intermediates freed here
  * }}}
  *
  * Operators route their persists through [[persisted]], which registers
  * the frame with the innermost active scope on this thread (plans are
  * built driver-side on the calling thread). Without an enclosing scope,
  * registration is a no-op and the documented caller-owns-release behavior
  * is unchanged.
  *
  * The body must CONSUME its results (run the actions) inside the scope:
  * the scope frees blocks on exit, so a lazy plan smuggled out re-computes
  * its diamonds from source on the next action — correct, just slower.
  */
object CacheScope {

  private val active = new ThreadLocal[mutable.Stack[mutable.Buffer[DataFrame]]] {
    override def initialValue(): mutable.Stack[mutable.Buffer[DataFrame]] = mutable.Stack.empty
  }

  /** Persist `df` (MEMORY_AND_DISK — every operator diamond uses the same
    * level) and register it with the innermost active scope, if any. */
  private[graft] def persisted(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    val stack = active.get()
    if (stack.nonEmpty) stack.top += p
    p
  }

  /** [[persisted]] with a DATA-PROPORTIONAL partition count (r16, guide
    * §2.2 "partitions sized to data, not cores"): coalesce the frame to
    * ceil(estimatedBytes / advisoryPartitionSize) partitions before
    * caching. Rationale: a persisted plan's output partitioning is
    * frozen at materialization (AQE must not rewrite it — the
    * co-partitioned caches depend on that, CachePartitioningSpec), so an
    * aggregation-backed cache built under `shuffle.partitions = cores`
    * freezes cores-many partitions however small the data, and EVERY
    * consumer stage then fans out cores-many tasks of per-task fixed
    * cost (measured r16 at local[32]: ~25 s of aggregate task time on a
    * ~1 s query, §"32-core anti-scaling"). The coalesce merges only the
    * REDUCE side of the cache-building exchange — map-side parallelism
    * (the tokenize/scan work) is untouched — and the count scales with
    * the INPUT bytes estimate, so at corpus scale it is a no-op (coalesce
    * to ≥ current partitions keeps them).
    *
    * Only for caches whose plan ends in an exchange (aggregation/join
    * outputs): coalescing a scan-backed frame would merge the scan tasks
    * themselves and serialize the expensive build. Never for
    * key-co-partitioned caches — their partitioning IS the contract. */
  private[graft] def persistedCompact(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.sessionState.conf
    val advisory = math.max(1L,
      conf.getConf(org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = ((est + advisory - 1) / advisory).max(1).min(1 << 22).toInt
    persisted(df.coalesce(n))
  }

  /** Run `body`; on exit unpersist every intermediate that operators
    * called within it registered. Scopes nest — each releases only its
    * own registrations. */
  def scoped[T](body: => T): T = {
    val stack = active.get()
    val frames = mutable.Buffer.empty[DataFrame]
    stack.push(frames)
    try body
    finally {
      stack.pop()
      frames.foreach(_.unpersist(blocking = false))
    }
  }
}
