package graft
import graft.registry.{Corpus, InfraOps, LlmData, PipelineA, PipelineB}
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps operator names (SURVEY.md §2) to Spark plans over the
  * star-schema testdata in `sfDir`; `oracleSql` holds byte-equivalent DuckDB
  * SQL over the same parquet files for the driver's hash compare.
  */
object SparkEntry {
  /** Flagship query (Pipeline A broadcast join); driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    PipelineA.flagshipDf(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    PipelineA.queries ++ PipelineB.queries ++ LlmData.queries ++ Corpus.queries ++ InfraOps.queries

  /** Refuse names missing from [[queries]] before any work starts — a
    * typo would otherwise silently `verb` nothing, or fail partway
    * through a list. */
  def requireKnown(names: Iterable[String], verb: String): Unit = {
    val known = queries.keySet
    val unknown = names.filterNot(known)
    require(unknown.isEmpty,
      s"unknown quer${if (unknown.size == 1) "y" else "ies"}: ${unknown.mkString(", ")} " +
        s"(a typo here would silently $verb nothing)")
  }

  def oracleSql: Map[String, String] =
    PipelineA.oracleSql ++ PipelineB.oracleSql ++ LlmData.oracleSql ++ Corpus.oracleSql ++ InfraOps.oracleSql
}
