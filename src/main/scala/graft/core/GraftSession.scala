package graft.core

import org.apache.spark.sql.SparkSession

/** Session-level semantic pins the engine depends on (SURVEY.md §4).
  *
  * Applied defensively at query-construction time too, because the driver
  * may hand us a session we didn't build. All three are runtime-settable.
  */
object GraftSession {
  /** The three semantic pins and their required values. */
  val Pins: Seq[(String, String)] = Seq(
    // Reference semantics are non-ANSI (x/0 -> NULL feeds a coalesce
    // fallback, utils_ressarcimento.py:250-254). Spark 4 defaults ANSI on.
    "spark.sql.ansi.enabled" -> "false",
    // testdata events.parquet uses TIMESTAMP(NANOS), which Spark rejects
    // unless read as long (we convert to timestamp_ntz in Tables.events).
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // TimestampNTZ reproducibility (SURVEY.md §4 pin 4).
    "spark.sql.session.timeZone" -> "UTC")

  /** Spill-aware sizing guidance (the brief's "size shuffle partitions and
    * maxPartitionBytes so partitions fit executor memory"), as a PURE
    * function of the cluster shape so it is testable and auditable:
    *
    *  - scan splits ≤ 256 MB and ≤ executorMem/(4·cores) — four concurrent
    *    tasks per core's memory share leaves headroom for join/agg state;
    *  - shuffle partitions = max(2·totalCores, inputBytes/targetSplit) —
    *    at least two waves for scheduler balance, and no partition larger
    *    than a scan split even if AQE were off;
    *  - AQE left on to coalesce/split at runtime (skew-join included).
    */
  def scaleProfile(totalInputBytes: Long, executors: Int, coresPerExecutor: Int,
                   executorMemoryBytes: Long): Map[String, String] = {
    require(executors > 0 && coresPerExecutor > 0 && executorMemoryBytes > 0)
    val totalCores = executors.toLong * coresPerExecutor
    val targetSplit = math.max(16L << 20,
      math.min(256L << 20, executorMemoryBytes / (4L * coresPerExecutor)))
    val shufflePartitions = math.max(2L * totalCores,
      (totalInputBytes + targetSplit - 1) / targetSplit)
    Map(
      "spark.sql.files.maxPartitionBytes" -> targetSplit.toString,
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true")
  }

  /** Data-proportional shuffle-partition posture (guide §2.2 "fewer,
    * larger reduce partitions — let AQE coalesce"), r16. Three runtime
    * AQE confs, all PERFORMANCE-only (no query's rows depend on
    * partitioning — every operator is aggregation/join math pinned by
    * the oracle):
    *
    *  - `coalescePartitions.parallelismFirst=false`: coalesce shuffle
    *    reads toward the advisory BYTE size instead of stopping at
    *    default parallelism. Spark's parallelism-first default keeps
    *    cores busy on one big query; a registry of many small-to-medium
    *    queries instead pays cores × per-task overhead on every tiny
    *    exchange. Partitions sized to DATA, not cores, is also the
    *    100 TB posture — the same knob deployments set.
    *  - `advisoryPartitionSizeInBytes`: the one scale knob, read from
    *    `spark.graft.advisoryPartitionBytes` (default 2m). The default
    *    is sized for this repo's MB-scale fixtures (measured r16: 20-45%
    *    off the heavy text/graph rows at local[32], 32-core times ≈
    *    8-core times — the over-parallelization tax gone; flat at sf1);
    *    production corpora want 64m-256m so reduce partitions land in
    *    the guide's 100 MB-1 GB range after compression.
    *
    * Opt out with `spark.graft.adaptiveTune=false` (set before
    * construction or via --conf); a deployment that pins its own AQE
    * posture keeps it.
    */
  def tuneAdaptivePartitioning(spark: SparkSession): Unit = {
    if (spark.conf.get("spark.graft.adaptiveTune", "true") == "false") return
    // NOT set here: canChangeCachedPlanOutputPartitioning. It coalesces
    // the exchanges that materialize persisted frames too (probed r16:
    // another ~10-20% off the cache-pivoting rows at local[32]) — but it
    // does so by VOIDING the repartition-then-persist co-partitioning
    // contract half the library's iterative operators rely on
    // (CachePartitioningSpec): every equi-join above a co-partitioned
    // cache re-exchanges both sides, per round. Cheap at fixture scale,
    // shuffle-volume doubling at 100 TB; rejected.
    val advisory = spark.conf.get("spark.graft.advisoryPartitionBytes", "2m")
    Seq(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> advisory
    ).foreach { case (k, v) =>
      // Performance conf, not a semantic pin: failure to set (locked-down
      // session) degrades speed only, so warn instead of require.
      try spark.conf.set(k, v)
      catch {
        case e: Exception =>
          System.err.println(s"[graft] failed to tune $k=$v: ${e.getMessage}")
      }
    }
  }

  /** The one local-mode session builder (Verify, Plans, the dev tools and
    * the test suite): `local[cpus]`, shuffle partitions = cpus, UI off,
    * then `confs`, then [[applyDefaults]]. Bench and `job.Main` keep their
    * own builders — Bench's is part of the driver contract, Main's runs on
    * a cluster. */
  def local(cpus: Int, confs: (String, String)*): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
    confs.foreach { case (k, v) => b.config(k, v) }
    applyDefaults(b.getOrCreate())
  }

  def applyDefaults(spark: SparkSession): SparkSession = {
    Pins.foreach { case (k, v) =>
      try spark.conf.set(k, v)
      catch {
        // Non-settable conf (AnalysisException in practice): surface it —
        // a silently missing pin shifts timestamps or breaks events reads
        // with an unrelated error much later.
        case e: Exception =>
          System.err.println(s"[graft] failed to pin $k=$v: ${e.getMessage}")
      }
    }
    tuneAdaptivePartitioning(spark)
    // Verify effective values; a wrong pin is a correctness bug, not a
    // preference, so fail loudly at session setup rather than mid-query.
    val wrong = Pins.filter { case (k, v) => spark.conf.getOption(k).exists(_ != v) }
    require(wrong.isEmpty,
      s"graft session pins not effective: ${wrong.map { case (k, v) => s"$k!=$v" }.mkString(", ")}")
    // Driver-handed sessions weren't built with GraftExtensions — install
    // the semantics-preserving year-range rewrite through the runtime
    // extension point instead. Idempotence covers both registration
    // paths: skip if already in extraOptimizations OR if the session was
    // built with GraftExtensions (whose injected copy lives in the
    // operator-optimization batch, invisible to extraOptimizations —
    // re-adding would traverse every plan twice for nothing).
    //
    // Placement caveat (honest limits): extraOptimizations run in the
    // late "User Provided Optimizers" batch — AFTER DataSource-v2 scan
    // pushdown has been negotiated — so this fallback only enables
    // pushdown for V1 file sources (parquet scans take their filters at
    // PHYSICAL planning, which sees the rewritten Filter). For DSv2
    // catalogs (the Iceberg target), build the session with
    // spark.sql.extensions=graft.functions.GraftExtensions, whose
    // injection point runs early enough.
    // Detection reads the OPTIMIZER'S OWN batches, not the
    // spark.sql.extensions conf: a session built programmatically via
    // .withExtensions(new GraftExtensions) never sets that conf, and
    // extraOptimizations.contains misses the extension-injected copy (it
    // lives in the operator-optimization batch). batches is recomputed per
    // access, so it sees both registration paths.
    val viaExtensions = spark.sessionState.optimizer.batches
      .exists(_.rules.exists(_ eq graft.plans.YearRangeRewrite))
    if (!viaExtensions &&
        !spark.experimental.extraOptimizations.contains(graft.plans.YearRangeRewrite)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.YearRangeRewrite
    }
    // And the custom expressions, so raw spark.sql("... array_dot(...)")
    // works on a pinned session exactly as on an extensions-built one
    // (operators also register defensively, but a user's first touch may
    // be SQL, not an operator). Idempotent by name.
    graft.functions.VectorExprs.register(spark)
    spark
  }
}
