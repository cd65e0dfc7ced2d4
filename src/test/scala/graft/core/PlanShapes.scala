package graft.core

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Shared plan-shape assertions for the co-partitioned-cache discipline
  * specs (CachePartitioningSpec pins the Spark behavior generically;
  * GraphRankSpec / GraphMetricsSpec / StarComponentsSpec pin each graph
  * loop's OWN executed shape with these helpers, so a refactor that
  * silently re-shuffles per round fails the operator's spec, not just
  * the generic one). */
object PlanShapes {

  /** ENSURE_REQUIREMENTS shuffles in an executed plan, descending through
    * adaptive wrappers and query stages but NOT into cached relations
    * (InMemoryTableScan is a leaf — a cache's build shuffle is not a join
    * exchange). ReusedExchangeExec is intentionally not counted: a reused
    * exchange moves no additional data. */
  def ensureShuffles(p: SparkPlan): Int = {
    val self = p match {
      case e: ShuffleExchangeLike if e.shuffleOrigin == ENSURE_REQUIREMENTS => 1
      case _ => 0
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    self + kids.map(ensureShuffles).sum
  }

  /** Run `body` and return (funcName, executedPlan) for every Dataset
    * action it triggered — including the per-round `localCheckpoint`s the
    * iterative graph operators end each round with, which is exactly the
    * plan whose exchange count the loop specs pin.
    *
    * QueryExecutionListener events ride the shared async LiveListenerBus,
    * so after `body` the capture DRAINS the bus deterministically
    * (`SparkContext.listenerBus.waitUntilEmpty()`, via reflection — the
    * accessor is private[spark]): once it returns, every event posted by
    * the body's actions has been delivered, so the exchange-count pins
    * can't be flaked by a loaded machine delaying delivery. Wall-clock
    * quiescence polling remains only as the fallback if the reflective
    * path ever breaks on a Spark upgrade. */
  def capturePlans(spark: SparkSession)(body: => Unit): Seq[(String, SparkPlan)] = {
    val buf = mutable.Buffer.empty[(String, SparkPlan)]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        buf.synchronized { buf += ((funcName, qe.executedPlan)): Unit }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      if (!drainListenerBus(spark)) {
        var last = -1
        var stable = 0
        val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
        while (stable < 3 && System.nanoTime() < deadline) {
          Thread.sleep(200)
          val n = buf.synchronized(buf.size)
          if (n == last) stable += 1 else { stable = 0; last = n }
        }
      }
    } finally spark.listenerManager.unregister(listener)
    buf.synchronized(buf.toSeq)
  }

  /** Number of Spark jobs `body` started, counted by a `SparkListener`.
    * The bus is drained before the listener joins (so earlier actions'
    * queued events are not counted) and after `body` (so none of its own
    * are missed). */
  def jobsRun(spark: SparkSession)(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    require(drainListenerBus(spark), "cannot drain the listener bus")
    spark.sparkContext.addSparkListener(listener)
    try { body; require(drainListenerBus(spark), "cannot drain the listener bus") }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  /** Block until the shared listener bus has delivered every queued event
    * (reflective access to the private[spark] `listenerBus`); true on
    * success, false if the reflective path failed (caller falls back to
    * quiescence polling). */
  private def drainListenerBus(spark: SparkSession): Boolean =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      true
    } catch { case scala.util.control.NonFatal(_) => false }
}
