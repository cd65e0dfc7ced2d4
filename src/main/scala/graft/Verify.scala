package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The entries of `all` a run dumps: every entry when `only` is empty
    * (the full run), else exactly the named ones — so a subset run's
    * oracle_sql.json carries only its own oracles and a DuckDB check of it
    * runs nothing else. */
  def selected[V](all: Map[String, V], only: Set[String]): Map[String, V] =
    if (only.isEmpty) all else all.filter { case (n, _) => only(n) }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional trailing args = query-name filter for fast local iteration
    // (`runMain graft.Verify <sf> <out> e_kmeans`); the driver passes none.
    val only = args.drop(2).toSet
    SparkEntry.requireKnown(only, "verify")
    // GraftSession.local applies the semantic pins at session build, so they
    // hold for EVERY query, whichever one first touches a table accessor.
    val spark = graft.core.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    selected(SparkEntry.queries, only).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Queries persist diamond intermediates and leave lifetime to the
      // caller — drop them between queries so 35 dumps don't accumulate
      // dead blocks in one storage pool.
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = selected(SparkEntry.oracleSql, only)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
