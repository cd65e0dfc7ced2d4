package perfbench

import graft.sink.{Sink, WriteMode}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One wall clock for the benchmark and Spark's events: epoch milliseconds
  * with sub-millisecond resolution from the monotonic timer. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Spans around the benchmark's own calls into each module. Kept in memory
  * and written out with the run's raw record. While a span is open its id
  * is a Spark job tag on the calling thread, so every job the call launches
  * (including broadcast and adaptive stages submitted on its behalf) is
  * attributed to the innermost open span. Disabled, a span is a plain call. */
final class Tracer(sc: SparkContext) {
  final case class Span(id: Int, name: String, start: Double, end: Double, parent: Int, op: Int)

  var on = false
  var op = -1
  val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, Double)]
  private var nextId = 0

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      val tag = s"pbspan-$id"
      open.push((id, name, Clock.nowMs))
      sc.addJobTag(tag)
      try body
      finally {
        sc.removeJobTag(tag)
        val (_, _, start) = open.pop()
        done += Span(id, name, start, Clock.nowMs, parent, op)
      }
    }

  def toJson: Seq[Map[String, Any]] = done.toSeq.map(s => Map(
    "id" -> s.id, "name" -> s.name, "start" -> s.start, "end" -> s.end,
    "parent" -> s.parent, "op" -> s.op))
}

/** A [[Sink]] that opens a `sink.*` span around every call and delegates. */
final class TracedSink(inner: Sink, trace: Tracer) extends Sink {
  def mergeByKey(incoming: DataFrame, keys: Seq[String]): Long =
    trace("sink.mergeByKey")(inner.mergeByKey(incoming, keys))
  def write(incoming: DataFrame, mode: WriteMode): Long =
    trace("sink.write")(inner.write(incoming, mode))
  def applyCdc(changes: DataFrame, keys: Seq[String], opCol: String, seqCol: String): Long =
    trace("sink.applyCdc")(inner.applyCdc(changes, keys, opCol, seqCol))
  def read(): DataFrame = trace("sink.read")(inner.read())
  def exists: Boolean = trace("sink.exists")(inner.exists)
}

/** The benchmark's listeners: scheduler (jobs, stages, tasks, cached
  * blocks), query execution (planning phases, file scans, written files)
  * and streaming progress. Everything is recorded raw, with wall-clock
  * times, and attributed to ops and layers afterwards. */
final class Recorder extends SparkListener {
  private val lock = new Object
  val jobs = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  private val jobIdx = mutable.Map.empty[Int, mutable.Map[String, Any]]
  private val stages = mutable.Map.empty[(Int, Int), StageAcc]
  val queries = mutable.ArrayBuffer.empty[Map[String, Any]]
  val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
  val evictions = mutable.ArrayBuffer.empty[Double]
  private val blocks = mutable.Map.empty[String, Long]
  private var cached = 0L
  var cachePeak = 0L

  final class StageAcc(val id: Int, val attempt: Int, val submit: Double, val tags: Seq[String]) {
    var done = 0.0
    var runMs, gcMs, fetchWaitMs = 0L
    var cpuNs, spill, shuffleWrite, shuffleRead = 0L
    var inBytes, inRows, outBytes, outRows = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    def toJson: Map[String, Any] = Map(
      "stage" -> id, "attempt" -> attempt, "submit" -> submit, "done" -> done,
      "tags" -> tags, "tasks" -> taskMs.size, "task_ms" -> taskMs.toSeq,
      "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "spill" -> spill,
      "shuffle_write" -> shuffleWrite, "shuffle_read" -> shuffleRead,
      "fetch_wait_ms" -> fetchWaitMs, "in_bytes" -> inBytes, "in_rows" -> inRows,
      "out_bytes" -> outBytes, "out_rows" -> outRows)
  }

  private def tagsOf(p: java.util.Properties): Seq[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val j = mutable.Map[String, Any]("job" -> e.jobId, "start" -> e.time.toDouble,
      "end" -> e.time.toDouble, "tags" -> tagsOf(e.properties), "stages" -> e.stageIds)
    jobs += j
    jobIdx(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobIdx.get(e.jobId).foreach(_("end") = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
    val i = e.stageInfo
    stages((i.stageId, i.attemptNumber())) = new StageAcc(i.stageId, i.attemptNumber(),
      i.submissionTime.map(_.toDouble).getOrElse(Clock.nowMs), tagsOf(e.properties))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach { s =>
      s.done = i.completionTime.map(_.toDouble).getOrElse(Clock.nowMs)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      s.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.inBytes += m.inputMetrics.bytesRead
        s.inRows += m.inputMetrics.recordsRead
        s.outBytes += m.outputMetrics.bytesWritten
        s.outRows += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Cached RDD blocks: running total, peak, and memory-to-disk evictions
    * (every library persist is MEMORY_AND_DISK, so a block that leaves
    * memory but stays on disk was evicted, not unpersisted). */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock.synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val key = b.blockId.name
      val before = blocks.getOrElse(key, 0L)
      val memBefore = blocks.getOrElse(key + "#mem", 0L)
      val size = b.memSize + b.diskSize
      if (memBefore > 0 && b.memSize == 0 && b.diskSize > 0) evictions += Clock.nowMs
      if (size > 0) { blocks(key) = size; blocks(key + "#mem") = b.memSize }
      else { blocks.remove(key); blocks.remove(key + "#mem") }
      cached += size - before
      cachePeak = math.max(cachePeak, cached)
    }
  }

  def resetCachePeak(): Unit = lock.synchronized { cachePeak = cached }

  private val seenScans = new java.util.IdentityHashMap[FileSourceScanExec, Seq[Long]]()

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      val start = if (phases.isEmpty) Clock.nowMs else phases.map(_.startTimeMs).min.toDouble
      val scans = mutable.ArrayBuffer.empty[Map[String, Any]]
      var writtenFiles = 0L
      def walk(p: SparkPlan): Unit = {
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec => walk(q.plan)
          case c: CommandResultExec => walk(c.commandPhysicalPlan)
          case _: ReusedExchangeExec => ()
          case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
          case s: FileSourceScanExec =>
            // A scan under a cached plan is seen again by every query that
            // reads the cache: report only what it did since last seen.
            def metric(n: String) = s.metrics.get(n).map(_.value).getOrElse(0L)
            val now = Seq(metric("numFiles"), metric("filesSize"), metric("numOutputRows"))
            val before = Option(seenScans.put(s, now)).getOrElse(Seq(0L, 0L, 0L))
            val d = now.zip(before).map { case (a, b) => a - b }
            if (d.exists(_ != 0)) scans += Map(
              "paths" -> s.relation.location.rootPaths.map(_.toUri.getPath),
              "files" -> d(0), "bytes" -> d(1), "rows" -> d(2))
          case w: DataWritingCommandExec =>
            writtenFiles += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
          case _ => ()
        }
        p.children.foreach(walk)
      }
      walk(qe.executedPlan)
      lock.synchronized {
        queries += Map("start" -> start, "end" -> Clock.nowMs, "func" -> funcName,
          "plan_ms" -> phases.map(_.durationMs).sum, "scans" -> scans.toSeq,
          "written_files" -> writtenFiles)
      }
    }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def dur(k: String): Long = if (d.containsKey(k)) d.get(k).longValue() else 0L
      val state = p.stateOperators.toSeq
      lock.synchronized {
        progress += Map(
          "batch" -> p.batchId,
          "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          "trigger_ms" -> dur("triggerExecution"), "add_batch_ms" -> dur("addBatch"),
          "plan_ms" -> dur("queryPlanning"), "commit_ms" -> dur("commitOffsets"),
          "wal_ms" -> dur("walCommit"), "input_rows" -> p.numInputRows,
          "state_rows" -> state.map(_.numRowsTotal).sum,
          "state_bytes" -> state.map(_.memoryUsedBytes).sum)
      }
    }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def toJson: Map[String, Any] = lock.synchronized(Map(
    "jobs" -> jobs.toSeq.map(_.toMap),
    "stages" -> stages.values.toSeq.sortBy(s => (s.id, s.attempt)).map(_.toJson),
    "queries" -> queries.toSeq, "progress" -> progress.toSeq,
    "evictions" -> evictions.toSeq, "cache_peak_bytes" -> cachePeak))
}

/** Minimal JSON writer for the raw record (maps, sequences, strings,
  * numbers, booleans). */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
