package graft.sources

import graft.core.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.time.LocalDate
import java.time.format.DateTimeFormatter

/** Sources (S1-S4 of SURVEY.md §2.1).
  *
  * All reads are plain vectorized parquet scans: Catalyst pushes filters and
  * prunes columns into the scan automatically, so downstream operators only
  * pay for what they reference (verify with `.explain`: `PushedFilters`,
  * `ReadSchema`). Schemas come from one footer read on the driver
  * ([[ParquetMeta.read]]), so building a source runs no Spark job.
  */
object Tables {

  /** S1: schema-inferred parquet scan of one star-schema table. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    GraftSession.applyDefaults(spark)
    ParquetMeta.read(spark, s"$sfDir/$name.parquet")
  }

  /** S1/S4: schema-inferred scan of an arbitrary configured path. */
  def pathScan(spark: SparkSession, path: String): DataFrame = {
    GraftSession.applyDefaults(spark)
    ParquetMeta.read(spark, path)
  }

  /** `events.ts` has shipped as either parquet TIMESTAMP(NANOS) — which
    * Spark 4 only reads as a long (nanosAsLong) — or plain TIMESTAMP(MICROS)
    * NTZ, depending on the generator run. Normalize on the read schema,
    * once, so the rest of the engine always sees a µs-resolution
    * TimestampNTZ column: longs convert ns → µs (`div` floors, matching
    * DuckDB/pyarrow's ns→µs handling). Any OTHER physical type fails
    * loudly: in particular a tz-aware TIMESTAMP → NTZ cast is
    * session-timezone-dependent, so a silent fallback cast could shift
    * every event time relative to an engine reading the file naively —
    * a wrong-answer class of bug, which a loud error converts into a
    * visible "teach the reader this layout" task. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      case org.apache.spark.sql.types.TimestampNTZType => raw
      case other => throw new IllegalArgumentException(
        s"events.ts read as $other; expected BIGINT (nanos-as-long) or TIMESTAMP_NTZ. " +
          "Refusing a session-timezone-dependent cast that could silently shift event " +
          "times — extend Tables.events with the new layout's explicit conversion instead")
    }
  }

  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** S3/C5: enumerate `{bucket}/{system}/YYYY/MM/DD.parquet` for each day in
    * [start, end] (reference `list_files`, `utils_superdesconto.py:62-66`).
    * Path-encoded time partitioning: the generated list *is* the partition
    * pruning — Spark never opens a file outside the window, which at
    * production scale (years of daily files) beats post-scan filtering.
    */
  def dayRangePaths(bucket: String, system: String, start: LocalDate, end: LocalDate): Seq[String] = {
    val fmt = DateTimeFormatter.ofPattern("yyyy/MM/dd")
    Iterator.iterate(start)(_.plusDays(1))
      .takeWhile(!_.isAfter(end))
      .map(d => s"$bucket/$system/${d.format(fmt)}.parquet")
      .toSeq
  }

  /** S3: one DataFrame over a day-range of files. Days with no file are
    * skipped (today's feed may not have landed yet; holidays/outages leave
    * gaps) — `spark.read.parquet` would otherwise fail the whole job on the
    * first absent path. The existence probe is driver-side and bounded by
    * the day count, not data size. Fails loudly when NO day in the window
    * exists (an empty scan would silently produce an empty merge). */
  def dayRangeScan(spark: SparkSession, bucket: String, system: String,
                   start: LocalDate, end: LocalDate): DataFrame = {
    val paths = dayRangePaths(bucket, system, start, end)
    val fs = new org.apache.hadoop.fs.Path(bucket)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing = paths.filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
    require(existing.nonEmpty,
      s"no day files exist under $bucket/$system in [$start, $end]")
    ParquetMeta.read(spark, existing: _*)
  }
}
