package graft.sources

import graft.TestSpark
import graft.core.PlanShapes
import graft.llmdata.Similarity
import graft.sink.{ParquetSink, PartitionedParquetSink, SnapshotStore, WriteMode}
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Pins the stats-driven knob path: parquet footer row counts are EXACT
  * and therefore interchangeable with a corpus `count()` for the
  * size-adaptive banding/cell ladders — knob choice without a scan.
  * Also pins the driver-side schema resolver: `ParquetMeta.read` gives
  * the schema and rows `spark.read.parquet` gives, on every layout the
  * engine reads, raises Spark's own errors where Spark raises them, and
  * builds a read without running a job. */
class ParquetMetaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("footerRows equals the scan count on the real fixtures (single- and multi-table)") {
    for (t <- Seq("embeddings", "documents", "lineitem")) {
      val path = s"/root/testdata/sf0.001/$t.parquet"
      assert(ParquetMeta.footerRows(spark, path) == spark.read.parquet(path).count(),
        s"footer/scan count mismatch for $t")
    }
  }

  test("footerRows sums across a multi-file directory") {
    val dir = Files.createTempDirectory("graft_meta_spec").toString
    (1 to 100).toDF("x").repartition(4).write.parquet(s"$dir/t.parquet")
    assert(ParquetMeta.footerRows(spark, s"$dir/t.parquet") == 100L)
  }

  test("footerRows fails loudly on a missing or fileless path") {
    intercept[IllegalArgumentException](ParquetMeta.footerRows(spark, "/does/not/exist"))
    val empty = Files.createTempDirectory("graft_meta_empty").toString
    intercept[IllegalArgumentException](ParquetMeta.footerRows(spark, empty))
  }

  test("knob ladders pick identical knobs from the footer path and the count() path") {
    val path = "/root/testdata/sf0.001/embeddings.parquet"
    val byFooter = ParquetMeta.footerRows(spark, path)
    val byScan = spark.read.parquet(path).count()
    assert(Similarity.dupBanding(byFooter) == Similarity.dupBanding(byScan))
    assert(Similarity.centeredDupBanding(byFooter) == Similarity.centeredDupBanding(byScan))
    assert(Similarity.semDedupCells(byFooter) == Similarity.semDedupCells(byScan))
  }

  test("operators produce the same result with nHint as with the internal count") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = ParquetMeta.footerRows(spark, "/root/testdata/sf0.001/embeddings.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(Similarity.lshNearDupPairs(embs, nHint = n).select("id_a", "id_b")) ==
      pairs(Similarity.lshNearDupPairs(embs).select("id_a", "id_b")))
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(cells(Similarity.semDedup(embs, nHint = n)) == cells(Similarity.semDedup(embs)))
  }

  /** The resolver and the plain read agree on schema (nullability and
    * field metadata included) and on the collected rows, in order; and the
    * resolver built its read on the driver (no job), not by falling back. */
  private def assertSameRead(paths: String*): Unit = assertSameRead(driverSide = true, paths: _*)

  private def assertSameRead(driverSide: Boolean, paths: String*): Unit = {
    if (driverSide)
      assert(PlanShapes.jobsRun(spark)(ParquetMeta.read(spark, paths: _*).schema) == 0,
        s"read of ${paths.mkString(", ")} fell back to Spark's inference")
    val mine = ParquetMeta.read(spark, paths: _*)
    val plain = spark.read.parquet(paths: _*)
    assert(mine.schema == plain.schema, s"schema differs for ${paths.mkString(", ")}")
    assert(mine.collect().toSeq == plain.collect().toSeq, s"rows differ for ${paths.mkString(", ")}")
  }

  private val sfDir = "/root/testdata/sf0.001"

  private def tmpDir(tag: String) = Files.createTempDirectory(s"graft_meta_$tag").toString

  test("read matches spark.read.parquet on every fixture table (no Spark metadata; events nanos-as-long)") {
    val tables = new java.io.File(sfDir).list().filter(_.endsWith(".parquet")).sorted
    assert(tables.contains("events.parquet") && tables.length >= 10)
    tables.foreach(t => assertSameRead(s"$sfDir/$t"))
  }

  test("read matches on a Spark-written dir with _SUCCESS and .crc files") {
    val dir = s"${tmpDir("success")}/t"
    (1 to 50).map(i => (i.toLong, s"s$i")).toDF("k", "v").repartition(3).write.parquet(dir)
    val names = new java.io.File(dir).list().toSet
    assert(names.contains("_SUCCESS") && names.exists(n => n.startsWith(".") && n.endsWith(".crc")))
    assertSameRead(dir)
  }

  test("read takes _common_metadata's schema first, as Spark's inference does") {
    val dir = s"${tmpDir("summary")}/t"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(dir)
    // a summary naming one more column than the data files: both readers
    // must take the summary's schema and read the extra column as null
    val wide = s"${tmpDir("wide")}/t"
    Seq((1L, "a", 1.5)).toDF("k", "v", "extra").coalesce(1).write.parquet(wide)
    val footer = new java.io.File(wide).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.copy(footer.toPath, new java.io.File(s"$dir/_common_metadata").toPath)
    assert(ParquetMeta.read(spark, dir).columns.toSeq == Seq("k", "v", "extra"))
    assertSameRead(dir)
  }

  test("read picks the data file with the smallest full path across all roots") {
    val base = tmpDir("roots")
    Seq((1L, "x")).toDF("k", "v").write.parquet(s"$base/b")
    Seq((2L, 7)).toDF("k", "w").write.parquet(s"$base/a")
    // roots passed out of path order: the schema still comes from .../a
    assert(ParquetMeta.read(spark, s"$base/b", s"$base/a").columns.toSeq == Seq("k", "w"))
    assertSameRead(s"$base/b", s"$base/a")
  }

  test("read matches on a 3-version commitAppend chain (a multi-root read)") {
    val root = s"${tmpDir("chain")}/store"
    val st = new SnapshotStore(spark, root)
    st.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    st.commitAppend(Seq((3L, "c")).toDF("k", "v"))
    st.commitAppend(Seq((4L, "d")).toDF("k", "v"))
    val dirs = Seq(1, 2, 3).map(v => s"$root/v$v")
    assertSameRead(dirs: _*)
  }

  test("read matches on TIMESTAMP_NTZ, decimal, array and map columns") {
    val dir = s"${tmpDir("types")}/t"
    spark.range(0, 20).selectExpr(
      "id",
      "timestamp_ntz'2026-01-01 10:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) as ts_ntz",
      "cast(id * 1.25 as decimal(12, 3)) as dec",
      "array(id, id + 1) as arr",
      "map(cast(id as string), cast(id as double)) as m",
      "if(id % 3 = 0, null, named_struct('a', id, 'b', cast(id as string))) as st"
    ).write.parquet(dir)
    assertSameRead(dir)
  }

  test("read matches on a PartitionedParquetSink dir whose string partition values look like ints") {
    val path = s"${tmpDir("part")}/t"
    val sink = new PartitionedParquetSink(spark, path, "year")
    sink.write(Seq((1L, "2023"), (2L, "2024"), (3L, "2024")).toDF("k", "year"), WriteMode.Replace)
    // the footer holds no partition column: both readers type `year` by
    // directory-name inference, so the sink's read keeps its schema
    assertSameRead(path)
  }

  /** Both readers fail, with the same error class and message. */
  private def assertSameError(read: => DataFrame, plain: => DataFrame): Unit = {
    val mine = intercept[Throwable](read.collect())
    val theirs = intercept[Throwable](plain.collect())
    assert(mine.getClass == theirs.getClass, s"$mine vs $theirs")
    def msg(t: Throwable) = t.getMessage.replaceAll("(stage|task|TID) [0-9.]+", "$1 N")
    assert(msg(mine) == msg(theirs))
  }

  test("a missing path and an empty dir raise Spark's own error") {
    assertSameError(ParquetMeta.read(spark, "/does/not/exist"), spark.read.parquet("/does/not/exist"))
    val empty = tmpDir("empty")
    assertSameError(ParquetMeta.read(spark, empty), spark.read.parquet(empty))
  }

  test("with schema merging on, read is Spark's merged read, errors included") {
    val base = tmpDir("merge")
    Seq((1L, "x")).toDF("k", "v").write.parquet(s"$base/a")
    Seq((2L, 7)).toDF("k", "w").write.parquet(s"$base/b")
    Seq(("3", "y")).toDF("k", "v").write.parquet(s"$base/c")
    val key = "spark.sql.parquet.mergeSchema"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try {
      assert(ParquetMeta.read(spark, s"$base/a", s"$base/b").columns.toSet == Set("k", "v", "w"))
      assertSameRead(driverSide = false, s"$base/a", s"$base/b")
      assertSameError(ParquetMeta.read(spark, s"$base/a", s"$base/c"),
        spark.read.parquet(s"$base/a", s"$base/c"))
    } finally spark.conf.set(key, prev)
  }

  test("building a path scan, a sink read or a snapshot read runs no Spark job") {
    val base = tmpDir("jobs")
    val sink = new ParquetSink(spark, s"$base/sink")
    sink.write(Seq((1L, "a")).toDF("k", "v"), WriteMode.Replace)
    val st = new SnapshotStore(spark, s"$base/snaps")
    st.commit(Seq((1L, "a")).toDF("k", "v"))
    st.commitAppend(Seq((2L, "b")).toDF("k", "v"))
    assert(PlanShapes.jobsRun(spark)(Tables.pathScan(spark, s"$sfDir/lineitem.parquet").schema) == 0)
    assert(PlanShapes.jobsRun(spark)(sink.read().schema) == 0)
    assert(PlanShapes.jobsRun(spark)(st.read(2).schema) == 0)
    // the plain read it replaces pays one schema-inference job
    assert(PlanShapes.jobsRun(spark)(spark.read.parquet(s"$base/sink").schema) == 1)
  }
}
