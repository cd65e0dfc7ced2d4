package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Drives one workload in one JVM and writes its raw record: set-up
  * repetitions, the cold op, every timed op and pass, the gate's facts,
  * and (traced runs) spans plus everything the listeners saw. The
  * metrics are computed from this record by `run.py`.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --cpus <n> --work <dir> --out <raw.json>
  * }}}
  *
  * The timed phase runs a fixed number of passes, `round(seconds /
  * passSeconds)` and at least one, so every commit does the same work.
  * Traced runs interleave that many untraced passes and as many traced
  * ones, starting and ending untraced, so the difference of their median
  * pass walls is the tracing overhead. */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    exitWithParent()
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = a("cpus").toInt
    val work = a("work")
    val t0 = Clock.nowMs
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    graft.core.GraftSession.applyDefaults(spark)
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = Clock.nowMs - t0

    val trace = new Tracer(spark.sparkContext)
    val rec = if (traced) Some(new Recorder) else None
    rec.foreach(_.install(spark))
    val w = Workload(workload, Ctx(spark, seed, traced, trace))
    val out = mutable.LinkedHashMap[String, Any]("workload" -> workload, "seed" -> seed,
      "session_ms" -> sessionMs)

    val setupMs = (0 until SetupReps).map { i =>
      if (i > 0) Workload.deleteDir(s"$work/setup${i - 1}")
      val s = Clock.nowMs
      w.setup(s"$work/setup$i")
      Clock.nowMs - s
    }
    out("setup_ms") = setupMs

    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var failure: Option[String] = None

    def op(id: Int, pass: Int, i: Int, tracedOp: Boolean): Unit = {
      trace.on = tracedOp
      trace.op = id
      val s = Clock.nowMs
      val res = try Right(w.run(i)) catch { case e: Throwable => Left(e) }
      val e = Clock.nowMs
      trace.on = false
      res.left.foreach { ex =>
        failure = Some(s"${w.ops(i)}: $ex")
        ex.printStackTrace()
      }
      ops += Map("id" -> id, "pass" -> pass, "idx" -> i, "name" -> w.ops(i), "start" -> s,
        "end" -> e, "ok" -> res.isRight, "traced" -> tracedOp)
    }

    // The cold op, the first op in a fresh JVM (what a scheduled run
    // pays), then the first runs of any ops the timed passes need warm.
    w.beforePass()
    (w.coldOp +: w.warmUp).foreach(i => if (failure.isEmpty) op(-1, -1, i, tracedOp = false))
    out("cold_ms") = ops.map(o => o("end").asInstanceOf[Double] - o("start").asInstanceOf[Double]).sum / ops.size

    rec.foreach(_.resetCachePeak())
    val n = math.max(1, math.round(seconds / w.passSeconds).toInt)
    var pass = 0
    var nextId = 0
    // Traced runs alternate untraced and traced passes, starting and
    // ending untraced, so warm-up drift cancels out of the overhead.
    while (failure.isEmpty && pass < (if (traced) 2 * n + 1 else n)) {
      val tracedPass = traced && pass % 2 == 1
      w.beforePass()
      val s = Clock.nowMs
      var probeMs = 0.0
      w.ops.indices.foreach { i =>
        if (failure.isEmpty) {
          op(nextId, pass, i, tracedPass)
          if (tracedPass) {
            val ps = Clock.nowMs
            trace.on = true
            try w.probe(i) finally trace.on = false
            probeMs += Clock.nowMs - ps
          }
          nextId += 1
        }
      }
      passes += Map("pass" -> pass, "start" -> s, "end" -> Clock.nowMs, "probe_ms" -> probeMs,
        "traced" -> tracedPass)
      pass += 1
    }
    out("ops") = ops.toSeq
    out("passes") = passes.toSeq
    out("failure") = failure
    out("input_rows_per_pass") = w.inputRowsPerPass
    out("store_dir") = w.storeDir.getOrElse("")
    out("store_bytes") = w.storeDir.map(Workload.du).getOrElse(0L)

    val gateStart = Clock.nowMs
    out("gate") =
      if (failure.nonEmpty) Map("ok" -> false, "detail" -> "not run: an op failed")
      else try w.gate(s"$work/gate") catch {
        case e: Throwable =>
          e.printStackTrace()
          Map("ok" -> false, "detail" -> s"gate failed: $e")
      }
    w.close()
    out("gate_ms") = Clock.nowMs - gateStart
    rec.foreach { r =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      out("spans") = trace.toJson
      out("listener") = r.toJson
    }
    out("peak_rss_kb") = peakRssKb()
    val json = Json.write(out)
    java.nio.file.Files.write(java.nio.file.Paths.get(a("out")), json.getBytes("UTF-8"))
    spark.stop()
  }

  /** The launcher waits for this JVM and kills it on timeout; should the
    * launcher itself be killed, end too rather than run on unattended. */
  private def exitWithParent(): Unit = {
    ProcessHandle.current().parent().ifPresent { parent =>
      val t = new Thread(() => {
        while (parent.isAlive) Thread.sleep(500)
        Runtime.getRuntime.halt(3)
      })
      t.setDaemon(true)
      t.start()
    }
  }

  /** High-water resident set of this process (VmHWM). */
  private def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L)
    finally src.close()
  }
}
