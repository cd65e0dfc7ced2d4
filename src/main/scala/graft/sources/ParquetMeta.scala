package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** Driver-side parquet metadata: answers from footers, never from a
  * Spark job.
  *
  * [[footerRows]] gives EXACT row counts without scanning a single data
  * page. This is what feeds the size-adaptive knob ladders
  * ([[graft.llmdata.Similarity.dupBanding]] / `semDedupCells`) for
  * corpus-shaped inputs: "persist the corpus, count it, then choose knobs"
  * is free at bench scale but at 100 TB it is a full extra materialization
  * before any candidate work — footer reads cost one round-trip per FILE
  * (thousands of footers ≪ one data scan; a cluster would fan the listing
  * out, and a catalog/manifest would answer from stats —
  * [[TableStats.analyze]] persists exactly those stats-as-data for tables
  * this engine wrote). Footer counts are EXACT (parquet row counts are
  * required metadata), so knob ladders derive IDENTICAL knobs from this
  * path and from `count()` — spec-pinned in StatsKnobsSpec — and the
  * DuckDB twins' `count(*)` (itself a footer read in DuckDB) stays in
  * lockstep. Only valid for a RAW table path: any filter/transform between
  * read and knob choice changes N, and the caller must count the filtered
  * frame instead.
  *
  * [[read]] is `spark.read.parquet` without its schema-inference job: a
  * plain parquet read infers the schema by running a one-task Spark job
  * that opens one footer, which for a small scheduled job (a daily merge,
  * a streaming trigger) is a fixed per-read cost on the order of the real
  * work. The same footer is read here on the driver instead.
  *
  * Both walk the files through one lister (`leaves`), so one rule — the
  * one Spark's file index applies — decides which files count.
  */
object ParquetMeta {

  private val CommonMetadata = "_common_metadata"
  private val Metadata = "_metadata"

  /** Sum of footer row counts under `path` (a parquet file or directory
    * tree). Fails loudly on an empty/missing path — a silent 0 would
    * feed the smallest knob rung to a corpus that simply wasn't where
    * the caller pointed. */
  def footerRows(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    require(root.getFileSystem(conf).exists(root), s"no parquet at $path")
    val (data, _) = leaves(conf, Seq(path))
    require(data.nonEmpty, s"no parquet files under $path — refusing a silent N=0")
    data.map { st =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** `spark.read.parquet(paths: _*)` with the schema read on the driver.
    * The footer is the one Spark's own inference (`ParquetUtils.inferSchema`)
    * would open: `_common_metadata`, else `_metadata`, else the data file
    * with the smallest full path across all roots. Its Spark row metadata
    * is taken when present, else the parquet schema is converted under
    * the session's conf (so the nanos-as-long pin and the NTZ inference
    * setting apply as they would in Spark). The schema is then handed to
    * the reader, which lists the files and infers partition columns as
    * before but skips the inference job.
    *
    * Falls back to the plain read when schema merging is on (that needs
    * every footer) or when the driver-side read fails — a missing path, an
    * empty directory, an unreadable footer — so those raise Spark's own
    * error, unchanged. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    driverSchema(spark, paths) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None         => spark.read.parquet(paths: _*)
    }

  private def driverSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val sqlConf = spark.sessionState.conf
    if (sqlConf.isParquetSchemaMergingEnabled) None
    else try {
      val conf = spark.sessionState.newHadoopConf()
      val (data, summaries) = leaves(conf, paths)
      val pick = summaries.find(_.getPath.getName == CommonMetadata)
        .orElse(summaries.find(_.getPath.getName == Metadata))
        .orElse(data.headOption)
      pick.map { st =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        val footer = try new Footer(st.getPath, r.getFooter) finally r.close()
        ParquetFileFormat.readSchemaFromFooter(footer, new ParquetToSparkSchemaConverter(sqlConf))
      }
    } catch { case NonFatal(_) => None }
  }

  /** The leaf files a parquet scan of `paths` reads, split into data files
    * and summary files (`_common_metadata`, `_metadata`), each sorted by
    * full path. Spark's file-index rule decides what is hidden: a name
    * starting with `.`, or with `_` unless it holds `=` (a partition dir),
    * or ending in `._COPYING_` — so `_SUCCESS`, `.crc` files and
    * `_temporary` dirs never count. Throws if a path does not exist. */
  private def leaves(conf: Configuration, paths: Seq[String]): (Seq[FileStatus], Seq[FileStatus]) = {
    def hidden(name: String) =
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_")
    def walk(p: Path): Seq[FileStatus] =
      p.getFileSystem(conf).listStatus(p).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (name == CommonMetadata || name == Metadata) Seq(st)
        else if (hidden(name)) Seq.empty
        else if (st.isDirectory) walk(st.getPath)
        else Seq(st)
      }
    paths.flatMap(p => walk(new Path(p))).sortBy(_.getPath.toString)
      .partition(st => st.getPath.getName != CommonMetadata && st.getPath.getName != Metadata)
  }
}
