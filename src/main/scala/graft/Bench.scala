package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Rows with a measured multi-round warm-time spread (BASELINE.md's
    * per-row noise budgets) — benched min-of-5 so the official number
    * stops manufacturing phantom round-over-round regressions. */
  private val ChurnRows = Set("j_skew_plain", "c_keepbest", "t_fertility",
    // r12: x_rrf's warm floor is real (~3.3-3.9 s isolated min-of-5; the
    // r10 1.47 s record was a low outlier) and s_plan_choice is
    // floor-bound on ~30 tiny stats stages — both read as phantom
    // regressions twice; budgets pinned in BASELINE.md.
    "x_rrf", "s_plan_choice",
    // r14: e_pq_frozen's warm floor spreads 2.0-3.2 s across sessions
    // (freeze-then-apply = ~10 small stages of floor; r13's only
    // >0.5 s bench mover, adjudicated spread, not plan change) —
    // budgets for the whole PQ lifecycle pinned in BASELINE.md.
    "e_pq_frozen")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // 54 one-shot queries generate well over the default 100 cached
      // codegen classes; eviction then recompiles shared projections and
      // orderings mid-bench, smearing a flat ~0.3 s over every query.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    // Same semantic pins as Verify — results must not depend on which
    // query's table accessor applied them first.
    graft.core.GraftSession.applyDefaults(spark)
    spark.sparkContext.setLogLevel("WARN")
    // Warmup: absorb session/codegen/JIT startup so the first timed query
    // isn't charged ~5s of one-time cost; then run in stable name order.
    try spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000).count()
    catch { case _: Throwable => () }
    // Optional args = query-name filter, so a regression can be re-measured
    // in an isolated JVM (`runMain graft.Bench d_simhash`) without the other
    // 50+ queries' catalog/GC pressure. No args (the driver's call) = all.
    SparkEntry.requireKnown(args, "measure")
    val selected =
      if (args.nonEmpty) SparkEntry.queries.filter { case (n, _) => args.contains(n) }
      else SparkEntry.queries
    // Each query runs TWICE: a cold rep (pays its codegen/JIT/class-load
    // one-time costs) and a warm rep. The WARM time is the headline
    // `queries` number — cold single-shots manufactured phantom
    // regressions two rounds running (r3: d_simhash/e_lsh_topk; r4:
    // k_merge read as a 3.1× regression that re-benched warm at r3
    // levels) — with cold times kept alongside in `cold` so startup-cost
    // drift stays visible. Per-query persisted-cache/GC cleanup runs
    // between and after reps, outside the timed windows, so warm reps
    // re-execute the full plan (nothing is served from a leftover cache)
    // and only JVM-level warmth carries over.
    def cleanup(): Unit = {
      // Drop persisted intermediates (operators persist diamond-shaped
      // subplans and leave lifetime to the caller) so later runs don't
      // compete with dead blocks for the storage pool.
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      // ContextCleaner reaps dead broadcasts/shuffles only when their refs
      // are GC'd; 50+ queries in one JVM otherwise accumulate pinned
      // blocks until later queries pay the memory pressure (r3: identical
      // queries measured up to 9× their isolated-JVM times). The cleaner
      // drains its reference queue asynchronously AFTER the GC discovers
      // the dead refs, so a lone System.gc() leaves that round's blocks
      // for the NEXT query to compete with — gc, a short drain window,
      // gc again reclaims them inside this query's untimed gap.
      System.gc(); Thread.sleep(25); System.gc()
    }
    // EVERY query's warm number is min-of-3: a single warm shot is exposed
    // to in-session block churn, which manufactured phantom regressions
    // three rounds running (r7: flipped j_skew_salted above j_skew_plain —
    // isolated 3.49s vs 7.67s; r8: c_keepbest official 9.33s vs 5.6s
    // isolated, 1.67×). min bounds the one-sided noise (churn only ever
    // ADDS time), making the official per-query record trustworthy without
    // a separate `graft.tools.Probe reps` cross-check. Cost: the session
    // runs ~2× longer — the price of per-query numbers that can be read as
    // regressions without a manual isolation pass.
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      def rep(): Double = {
        val t0 = System.nanoTime()
        // A failed query must be visible in the JSON (-1 sentinel), not
        // recorded as a fast success of elapsed-until-crash seconds. A
        // tripped scale guard (-2) is NOT a failure: at sf1+ the bounded
        // quadratic baselines are DESIGNED to refuse, and an artifact
        // where that looks like an error forces a manual diff against the
        // guard list every scale session.
        val dt =
          try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
          catch {
            case _: graft.core.ScaleGuardRefusal => -2.0
            case _: Throwable => -1.0
          }
        cleanup()
        dt
      }
      val cold = rep()
      // The churn trio gets min-of-5: three rounds of regression analysis
      // (r8-r10) re-explained the same ±1-3 s spreads on exactly these
      // rows (one hot-reducer sort, two broadcast-merge-table folds — all
      // shapes whose warm time is dominated by in-session block/GC churn
      // that min-of-3 underbounds). Their accepted per-row noise budgets
      // are pinned in BASELINE.md; everything else stays min-of-3.
      val reps = if (ChurnRows(name)) 5 else 3
      val warm =
        if (cold < 0) cold
        else Seq.fill(reps)(rep()).min
      (name, cold, warm)
    }
    def toJson(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = toJson(results.map { case (n, _, w) => n -> w })
    val colds = toJson(results.map { case (n, c, _) => n -> c })
    // Guard-refused rows listed BY NAME so a scale-session artifact reads
    // as "these N rows refused by design", zero rows merely looking failed.
    val skipped = results.collect { case (n, c, _) if c == -2.0 => "\"" + n + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._3).filter(_ >= 0).sum
    // Two lines, detail FIRST: the driver keeps only the last ~2 kB of
    // stdout, and the full per-query map (64 warm + 64 cold entries) is
    // ~4.4 kB — emitted last it truncates the line's own prefix and the
    // round's headline parses as null (round 5's bench was lost exactly
    // this way). The final line is the parse target: short (<1 kB), no
    // per-query maps, guaranteed to fit any tail buffer.
    // WARM LAST inside the detail line: the tail window shows the line's
    // final ~1.9 kB, and when that window lands mid-map the entries appear
    // WITHOUT their section label — r12's truncated tail showed cold-map
    // entries that were then read as a second, diverging warm aggregate
    // (x_knn_clusters "9.59 vs 11.68" — the second number was the cold
    // rep). With warm last, anything visible in a truncated tail IS the
    // canonical min-of-N warm number, the same metric the file carries.
    val detail = s"""{"metric":"detail","cold":$colds,"skipped_guard":$skipped,"sf":"$sfDir","warm":$qs}"""
    println(detail)
    // The driver's stdout capture keeps only the last ~2 kB; at 105
    // queries the detail line alone is ~4.7 kB, so per-query history was
    // surviving only as truncated tail fragments (r7: everything before
    // c_shuffle lost). Persist the full detail to a file as the durable
    // per-query record — committed alongside the round's BENCH artifact.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "bench_detail.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(detailPath),
      (detail + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"bench detail write failed: $e") }
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir"}""")
    spark.stop()
  }
}
