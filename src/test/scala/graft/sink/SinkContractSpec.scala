package graft.sink

import graft.TestSpark
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.util.LongAccumulator
import org.scalatest.funsuite.AnyFunSuite
import scala.reflect.runtime.universe.TypeTag

/** The Sink trait's behavioral contract, run against every implementation
  * (K2-K4/K6). A future catalog-backed sink (e.g. Iceberg MERGE INTO)
  * drops into these same tests: subclass, implement `mkSink`/`readBack`/
  * `expectedMergeWritten`, and the contract — insert, upsert, idempotent
  * re-merge, replace/append accounting — is enforced unchanged.
  *
  * Fixture shape: (ano, k, v) with `ano` doubling as the partition column
  * for partitioned impls and plain data for whole-table impls; merge keys
  * are (ano, k) because a partitioned merge key must include the
  * partition's identity (a key that moved partitions would otherwise be
  * a silent duplicate — see PartitionedParquetSink's doc).
  */
abstract class SinkContractSpec extends AnyFunSuite {
  protected lazy val spark = TestSpark.spark
  import spark.implicits._

  def sinkName: String
  def mkSink(path: String): Sink
  def readBack(sink: Sink): DataFrame

  /** The impl's documented meaning of mergeByKey's return value, in terms
    * of: surviving old rows in partitions the incoming batch touches,
    * incoming rows, and surviving old rows in untouched partitions.
    * Whole-table swap rewrites everything (kept + untouched + incoming);
    * a partition-scoped merge writes only the touched partitions. */
  def expectedMergeWritten(keptTouched: Long, incoming: Long, keptUntouched: Long): Long

  protected def freshPath(): String =
    Files.createTempDirectory("graft_sinkcontract").resolve("t").toString

  private def base = Seq((2023, "a", 1.0), (2023, "b", 2.0), (2024, "c", 3.0))
    .toDF("ano", "k", "v")

  private def asMap(df: DataFrame): Map[(Int, String), Double] =
    df.collect().map(r =>
      (r.getAs[Int]("ano"), r.getAs[String]("k")) -> r.getAs[Double]("v")).toMap

  test(s"$sinkName: exists distinguishes an absent store from a written one") {
    // The streaming merges (clusterMaintain, ingestToStore) branch on
    // `exists` instead of swallowing read failures — an absent store is
    // the expected first batch; a failed read of an EXISTING store must
    // propagate so the micro-batch retries.
    val sink = mkSink(freshPath())
    assert(!sink.exists, "a never-written sink must report exists = false")
    intercept[Exception](sink.read().collect())
    sink.mergeByKey(base, Seq("ano", "k"))
    assert(sink.exists, "a written sink must report exists = true")
    assert(readBack(sink).count() == 3L)
  }

  test(s"$sinkName: merge into an empty sink inserts all rows and reports them written") {
    val sink = mkSink(freshPath())
    assert(sink.mergeByKey(base, Seq("ano", "k")) == 3L)
    assert(asMap(readBack(sink)) ==
      Map((2023, "a") -> 1.0, (2023, "b") -> 2.0, (2024, "c") -> 3.0))
  }

  test(s"$sinkName: merge upserts matches, inserts new keys, and re-merge is idempotent") {
    val sink = mkSink(freshPath())
    sink.mergeByKey(base, Seq("ano", "k"))
    val incoming = Seq((2023, "b", 20.0), (2023, "d", 40.0)).toDF("ano", "k", "v")
    val expected = Map((2023, "a") -> 1.0, (2023, "b") -> 20.0,
      (2023, "d") -> 40.0, (2024, "c") -> 3.0)
    // touched partition 2023 keeps "a"; untouched 2024 keeps "c"
    val written = sink.mergeByKey(incoming, Seq("ano", "k"))
    assert(written == expectedMergeWritten(keptTouched = 1, incoming = 2, keptUntouched = 1))
    assert(asMap(readBack(sink)) == expected)
    // idempotence: same batch again — same count reported, same content
    assert(sink.mergeByKey(incoming, Seq("ano", "k")) == written)
    assert(asMap(readBack(sink)) == expected)
  }

  test(s"$sinkName: duplicate-keyed incoming is rejected loudly, not silently doubled") {
    val sink = mkSink(freshPath())
    sink.mergeByKey(base, Seq("ano", "k"))
    val dup = Seq((2023, "b", 20.0), (2023, "b", 21.0)).toDF("ano", "k", "v")
    val e = intercept[IllegalArgumentException] { sink.mergeByKey(dup, Seq("ano", "k")) }
    assert(e.getMessage.contains("not unique"))
    // the failed merge must not have changed the sink
    assert(asMap(readBack(sink)) ==
      Map((2023, "a") -> 1.0, (2023, "b") -> 2.0, (2024, "c") -> 3.0))
  }

  test(s"$sinkName: a merge into a non-empty store evaluates its increment exactly once") {
    // The increment is the caller's whole plan (the daily flagship is scans,
    // window dedups and joins). A nondeterministic UDF bumping an
    // accumulator counts its evaluations: the key check, the anti-join and
    // the union must all read one staged copy, so they also agree on the
    // rows even when the caller's plan would not reproduce them.
    val sink = mkSink(freshPath())
    sink.mergeByKey(base, Seq("ano", "k"))
    val (incoming, evals) = MergeFixtures.counted[String](spark.sparkContext
      .parallelize(Seq((2023, "b", 20.0), (2023, "d", 40.0), (2024, "e", 50.0)), 2)
      .toDF("ano", "k", "v"), "k")
    val written = sink.mergeByKey(incoming, Seq("ano", "k"))
    assert(evals.value == 3L, s"increment evaluated ${evals.value / 3.0} times, not once")
    assert(written == expectedMergeWritten(keptTouched = 2, incoming = 3, keptUntouched = 0))
    assert(asMap(readBack(sink)) == Map((2023, "a") -> 1.0, (2023, "b") -> 20.0,
      (2023, "d") -> 40.0, (2024, "c") -> 3.0, (2024, "e") -> 50.0))
  }

  test(s"$sinkName: an empty increment stages, merges and leaves the content as it was") {
    // A day without coupons merges an empty flagship: the stage then holds
    // no rows, and its read-back must still carry the schema.
    val sink = mkSink(freshPath())
    sink.mergeByKey(base, Seq("ano", "k"))
    sink.mergeByKey(base.filter("k = 'none'"), Seq("ano", "k"))
    assert(asMap(readBack(sink)) ==
      Map((2023, "a") -> 1.0, (2023, "b") -> 2.0, (2024, "c") -> 3.0))
  }

  test(s"$sinkName: a rejected duplicate-keyed merge leaves every file as it was and no stage") {
    val path = freshPath()
    val sink = mkSink(path)
    sink.mergeByKey(base, Seq("ano", "k"))
    // the listing covers the store's siblings too: stage, temp and backup
    // dirs all sit next to `path`
    val parent = new Path(path).getParent.toString
    val before = MergeFixtures.listing(spark, parent)
    val dup = Seq((2023, "b", 20.0), (2023, "b", 21.0), (2024, "x", 1.0)).toDF("ano", "k", "v")
    intercept[IllegalArgumentException] { sink.mergeByKey(dup, Seq("ano", "k")) }
    assert(MergeFixtures.listing(spark, parent) == before)
    assert(!MergeFixtures.exists(spark, path + "__graft_inc"))
    assert(asMap(readBack(sink)) ==
      Map((2023, "a") -> 1.0, (2023, "b") -> 2.0, (2024, "c") -> 3.0))
  }

  test(s"$sinkName: a stage left by a crashed merge changes nothing and is removed") {
    val path = freshPath()
    val sink = mkSink(path)
    sink.mergeByKey(base, Seq("ano", "k"))
    // junk of another schema where the crashed merge left its stage
    Seq(("junk", true)).toDF("x", "flag").write.parquet(path + "__graft_inc")
    val incoming = Seq((2023, "b", 20.0), (2024, "d", 40.0)).toDF("ano", "k", "v")
    assert(sink.mergeByKey(incoming, Seq("ano", "k")) ==
      expectedMergeWritten(keptTouched = 2, incoming = 2, keptUntouched = 0))
    assert(asMap(readBack(sink)) == Map((2023, "a") -> 1.0, (2023, "b") -> 20.0,
      (2024, "c") -> 3.0, (2024, "d") -> 40.0))
    assert(readBack(sink).columns.toSet == Set("ano", "k", "v"))
    assert(!MergeFixtures.exists(spark, path + "__graft_inc"))
  }

  test(s"$sinkName: replace swaps content, append accumulates, counts are the written rows") {
    val sink = mkSink(freshPath())
    assert(sink.write(base, WriteMode.Replace) == 3L)
    assert(sink.write(Seq((2024, "x", 7.0)).toDF("ano", "k", "v"), WriteMode.Append) == 1L)
    assert(readBack(sink).count() == 4L)
    // replace covering every present partition: both impl semantics agree
    val repl = Seq((2023, "z", 9.0), (2024, "w", 8.0)).toDF("ano", "k", "v")
    assert(sink.write(repl, WriteMode.Replace) == 2L)
    assert(asMap(readBack(sink)) == Map((2023, "z") -> 9.0, (2024, "w") -> 8.0))
  }

  test(s"$sinkName: applyCdc deletes, upserts, and collapses multi-change keys by seq") {
    val sink = mkSink(freshPath())
    sink.write(base, WriteMode.Replace) // a=1, b=2 in 2023; c=3 in 2024
    val changes = Seq(
      (2023, "a", 0.0, "D", 1L),   // delete a
      (2023, "b", 20.0, "U", 1L),  // update b ...
      (2023, "b", 0.0, "D", 2L),   // ... then delete it: delete wins
      (2024, "c", 30.0, "U", 2L),  // update c (stale seq-1 delete below loses)
      (2024, "c", 0.0, "D", 1L),
      (2024, "d", 40.0, "I", 1L))  // insert new key
      .toDF("ano", "k", "v", "op", "seq")
    sink.applyCdc(changes, Seq("ano", "k"))
    assert(asMap(readBack(sink)) == Map((2024, "c") -> 30.0, (2024, "d") -> 40.0))
    // replaying the same (already-applied) feed is a no-op
    sink.applyCdc(changes, Seq("ano", "k"))
    assert(asMap(readBack(sink)) == Map((2024, "c") -> 30.0, (2024, "d") -> 40.0))
  }

  test(s"$sinkName: applyCdc rejects a seq tie loudly") {
    val sink = mkSink(freshPath())
    sink.write(base, WriteMode.Replace)
    val tie = Seq((2023, "a", 1.0, "U", 1L), (2023, "a", 2.0, "D", 1L))
      .toDF("ano", "k", "v", "op", "seq")
    val e = intercept[IllegalArgumentException] { sink.applyCdc(tie, Seq("ano", "k")) }
    assert(e.getMessage.contains("not unique"))
  }
}

/** Shared by the sink and snapshot specs: how a merge's increment is
  * counted, and what a failed merge must leave on disk. */
private[sink] object MergeFixtures {
  /** `df` with column `c` passed through a nondeterministic identity UDF
    * that counts its calls: the accumulator then equals the number of rows
    * times the number of times the plan was evaluated. Pass a KEY column:
    * every use of the increment reads its keys, whereas column pruning
    * drops a payload column the key check and the anti-join never read. */
  def counted[T: TypeTag](df: DataFrame, c: String): (DataFrame, LongAccumulator) = {
    val evals = df.sparkSession.sparkContext.longAccumulator(s"evals of $c")
    val bump = udf { (v: T) => evals.add(1L); v }.asNondeterministic()
    (df.withColumn(c, bump(col(c))), evals)
  }

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, dir: String): Boolean = fs(spark, dir).exists(new Path(dir))

  /** Every file under `dir` with its length and modification time. */
  def listing(spark: SparkSession, dir: String): Set[(String, Long, Long)] = {
    val it = fs(spark, dir).listFiles(new Path(dir), true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet
  }
}

/** Whole-table swap impl: written = the whole new table. */
class ParquetSinkContractSpec extends SinkContractSpec {
  import spark.implicits._

  def sinkName = "ParquetSink"
  def mkSink(path: String): Sink = new ParquetSink(spark, path)
  def readBack(sink: Sink): DataFrame = sink.asInstanceOf[ParquetSink].read()
  def expectedMergeWritten(keptTouched: Long, incoming: Long, keptUntouched: Long): Long =
    keptTouched + keptUntouched + incoming

  test("ParquetSink: a crash between the swap's two renames is healed on next use") {
    val path = freshPath()
    val sink = new ParquetSink(spark, path)
    sink.mergeByKey(Seq((2023, "a", 1.0), (2023, "b", 2.0)).toDF("ano", "k", "v"),
      Seq("ano", "k"))
    // Simulate the crash window: data renamed aside to the backup path,
    // replacement never published — the state writeSwap leaves behind if
    // it dies between its two renames.
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "__graft_old")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path)))
    // read() must restore the backup, not see an empty sink
    assert(sink.read().count() == 2L)
    // and a merge after the same simulated crash must keep history — not
    // rebuild the table from the one incoming increment
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "__graft_old")))
    sink.mergeByKey(Seq((2023, "c", 3.0)).toDF("ano", "k", "v"), Seq("ano", "k"))
    assert(sink.read().count() == 3L)
  }
}

/** Partition-scoped impl: written = rows in the touched partitions only. */
class PartitionedParquetSinkContractSpec extends SinkContractSpec {
  import spark.implicits._

  def sinkName = "PartitionedParquetSink"
  def mkSink(path: String): Sink = new PartitionedParquetSink(spark, path, "ano")
  def readBack(sink: Sink): DataFrame = sink.asInstanceOf[PartitionedParquetSink].read()
  def expectedMergeWritten(keptTouched: Long, incoming: Long, keptUntouched: Long): Long =
    keptTouched + incoming

  test("PartitionedParquetSink: deletePartition removes exactly one partition, reports absence") {
    val sink = new PartitionedParquetSink(spark, freshPath(), "ano")
    sink.write(Seq((2023, "a", 1.0), (2024, "b", 2.0)).toDF("ano", "k", "v"),
      WriteMode.Replace)
    assert(sink.deletePartition(2023))
    assert(!sink.deletePartition(2023), "second delete of the same value must report absent")
    assert(!sink.deletePartition(1999), "never-written partition must report absent")
    assert(sink.read().collect().map(_.getAs[Int]("ano")).toSeq == Seq(2024))
  }

  test("PartitionedParquetSink: deletePartition matches Spark's escaped directory names") {
    // Spark writes a string partition value "a b" as the directory
    // `dia=a%20b`; deletePartition must route through the same escaper or
    // the stale partition silently survives every delete.
    val sink = new PartitionedParquetSink(spark, freshPath(), "dia")
    sink.write(Seq(("a b", 1.0), ("x:y", 2.0), ("plain", 3.0))
      .toDF("dia", "v"), WriteMode.Replace)
    assert(sink.read().count() == 3L)
    assert(sink.deletePartition("a b"))
    assert(sink.deletePartition("x:y"))
    assert(!sink.deletePartition("a b"), "second delete of the same value must report absent")
    assert(sink.read().collect().map(_.getAs[String]("dia")).toSeq == Seq("plain"))
  }
}
