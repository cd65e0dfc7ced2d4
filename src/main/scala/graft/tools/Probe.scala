package graft.tools

import graft.SparkEntry
import graft.core.{GraftSession, ScaleGuardRefusal}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Registry-row probe for regression triage — a dev tool, not the driver
  * bench. `runMain graft.tools.Probe <reps|stages> <names…>`:
  *
  *  - `reps` runs each named row `SPARK_GRAFT_REPS` times (default 4) in
  *    ONE JVM and prints every timing — separates real per-query compute
  *    (warm reps) from JVM/codegen startup (rep 1), which single-shot
  *    isolated JVMs conflate;
  *  - `stages` runs each row once to warm up, then once instrumented, and
  *    prints a line per Spark job plus the 25 slowest stages — where the
  *    wall goes for rows whose cost is scheduling floor rather than data.
  *
  * Env: `SPARK_GRAFT_SF_DIR` (fixture dir, default sf0.1),
  * `SPARK_GRAFT_CPUS` (default 4; the SCALING.md rows ran 32) and
  * `SPARK_GRAFT_CONF` (`k=v;k=v` session confs, e.g. an AQE knob to A/B
  * against the default session at the same core count). */
object Probe {

  /** Scratch hygiene guard (SCALING protocol): stale `blockmgr-*` /
    * `spark-*` dirs left by CRASHED runs silently eat the shuffle
    * scratch — two sf10 knn runs died of a full disk this way before the
    * cause was found (the stale dirs held ~50 GB of a dead run's shuffle
    * files). Before a decade run, refuse when such dirs exist and no
    * OTHER live JVM could own them (`rm -rf /tmp/blockmgr-* /tmp/spark-*`
    * is then safe); when another JVM is live, ownership is ambiguous —
    * warn with the total size and proceed. `SPARK_GRAFT_ALLOW_STALE=1`
    * overrides the refusal for runs that deliberately share scratch. */
  private def scratchGuard(): Unit = {
    val stale = staleScratch(new java.io.File(System.getProperty("java.io.tmpdir", "/tmp")))
    if (stale.isEmpty) { println("[scratch-guard] clean: no blockmgr-*/spark-* dirs hold files"); return }
    val bytes = stale.map(d => regularFiles(d).map(_.length()).sum).sum
    // "Another JVM might own the scratch" must not count OUR OWN launcher
    // chain: under `sbt runMain` the sbt JVM (and any shell between) is
    // always alive, which made the refusal branch unreachable — stale
    // 50 GB dirs were only warned about, the exact failure the guard
    // exists to block. Exclude the current process's ancestor chain from
    // the other-JVM count; any remaining live JVM keeps the warn-and-
    // proceed branch (ownership genuinely ambiguous).
    val self = ProcessHandle.current()
    val ancestors = Iterator.iterate(Option(self))(_.flatMap(p =>
        if (p.parent().isPresent) Some(p.parent().get()) else None))
      .takeWhile(_.isDefined).flatten.map(_.pid()).toSet
    val otherJvms = ProcessHandle.allProcesses()
      .filter(p => !ancestors.contains(p.pid()) && p.info().command()
        .map[java.lang.Boolean](_.contains("java")).orElse(java.lang.Boolean.FALSE))
      .count()
    val msg = f"[scratch-guard] ${stale.length} stale scratch dir(s), ${bytes / 1e9}%.1f GB: " +
      stale.take(5).map(_.getName).mkString(", ")
    if (otherJvms > 0) {
      println(s"$msg — another JVM is live, ownership ambiguous; proceeding")
    } else if (sys.env.get("SPARK_GRAFT_ALLOW_STALE").contains("1")) {
      println(s"$msg — SPARK_GRAFT_ALLOW_STALE=1, proceeding")
    } else {
      println(s"$msg — no live JVM owns them; clean up first:\n" +
        "  rm -rf /tmp/blockmgr-* /tmp/spark-*   (or set SPARK_GRAFT_ALLOW_STALE=1)")
      sys.exit(2)
    }
  }

  /** The `blockmgr-*` / `spark-*` dirs directly under `tmp` that hold at
    * least one regular file. An empty one (e.g. a configured
    * `SPARK_LOCAL_DIRS` dir named `spark-local`, after a clean run) eats
    * no scratch and is not stale. */
  private[tools] def staleScratch(tmp: java.io.File): Seq[java.io.File] =
    children(tmp).filter(f => f.isDirectory &&
      (f.getName.startsWith("blockmgr-") || f.getName.startsWith("spark-")) &&
      regularFiles(f).nonEmpty)

  private def children(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)

  // No symlink traversal: a cycle under /tmp/spark-* would recurse to
  // StackOverflowError, and a link into a large tree would inflate the
  // reported size — yield only regular files, recurse only into real dirs.
  private def regularFiles(d: java.io.File): Iterator[java.io.File] =
    children(d).iterator.filterNot(f => java.nio.file.Files.isSymbolicLink(f.toPath))
      .flatMap(f => if (f.isDirectory) regularFiles(f) else Iterator(f).filter(_.isFile))

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && Set("reps", "stages")(args(0)),
      "usage: Probe <reps|stages> <name> [name ...]")
    val names = args.toSeq.drop(1)
    SparkEntry.requireKnown(names, "probe")
    scratchGuard()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val confs = sys.env.getOrElse("SPARK_GRAFT_CONF", "").split(";").toSeq
      .filter(_.contains("=")).map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }
    val spark = GraftSession.local(cpus, confs: _*)
    spark.sparkContext.setLogLevel("ERROR")
    println(s"[probe] ${args(0)} cpus=$cpus confs=$confs sf=$sfDir")
    try {
      if (args(0) == "reps") reps(spark, sfDir, names, sys.env.getOrElse("SPARK_GRAFT_REPS", "4").toInt)
      else stages(spark, sfDir, names)
    } finally spark.stop()
  }

  /** Run `name` once, then free everything it persisted; seconds taken. */
  private def timed(spark: SparkSession, sfDir: String, name: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir).count()
    val dt = (System.nanoTime() - t0) / 1e9
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    // Let ContextCleaner reap dead broadcasts and blocks, as Bench does.
    System.gc(); Thread.sleep(25); System.gc()
    dt
  }

  /** `n` timed runs per name, one line each through `out`. */
  def reps(spark: SparkSession, sfDir: String, names: Seq[String], n: Int,
           out: String => Unit = println): Unit =
    names.foreach { name =>
      try {
        val ts = (1 to n).map(_ => timed(spark, sfDir, name))
        out(f"$name%-14s ${ts.map(t => f"$t%.2f").mkString(" ")}")
      } catch {
        // At sf1+ the bounded quadratic baselines refuse by design; a
        // triage session over many names must record that and move on,
        // not die mid-list looking like the query crashed.
        case _: ScaleGuardRefusal => out(f"$name%-14s skipped_guard")
      }
    }

  /** Warm-up run, then an instrumented run: per-job lines and the 25
    * slowest stages per name. */
  def stages(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { name =>
      timed(spark, sfDir, name)
      val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      val taskMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
      val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, Int, String)]()
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          jobStart.put(j.jobId, (j.time, Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")))
        override def onJobEnd(j: SparkListenerJobEnd): Unit = {
          val (t0, desc) = jobStart.getOrDefault(j.jobId, (j.time, "?"))
          jobs.add((j.jobId, j.time - t0, desc))
        }
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
          taskMs.merge(t.stageId, Option(t.taskInfo).map(_.duration).getOrElse(0L), _ + _)
        override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
          val i = s.stageInfo
          stages.add((i.stageId, i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
            taskMs.getOrDefault(i.stageId, 0L), i.numTasks, i.name))
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val wall = try timed(spark, sfDir, name)
      finally {
        Thread.sleep(300) // let the listener bus deliver the last events
        spark.sparkContext.removeSparkListener(listener)
      }
      val js = jobs.asScala.toSeq.sortBy(_._1)
      val ss = stages.asScala.toSeq.sortBy(-_._2)
      println(f"[stages] $name wall=$wall%.2f s, jobs=${js.size}, stages=${ss.size}; sum(job wall)=" +
        f"${js.map(_._2).sum} ms, sum(stage wall)=${ss.map(_._2).sum} ms, sum(task time)=${ss.map(_._3).sum} ms")
      js.foreach { case (id, ms, desc) => println(f"  job   $id%4d $ms%6d ms  ${desc.take(90)}") }
      ss.take(25).foreach { case (id, ms, task, n, stage) =>
        println(f"  stage $id%4d $ms%6d ms  tasks=$n%3d  taskSum=$task%6d ms  ${stage.take(60)}")
      }
    }
}
