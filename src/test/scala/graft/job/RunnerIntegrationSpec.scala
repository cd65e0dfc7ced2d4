package graft.job

import graft.TestSpark
import graft.core.PlanShapes
import graft.fixtures.RefFixtures
import graft.sink.{ParquetSink, PartitionedParquetSink, Sink, SnapshotStore, WriteMode}
import java.nio.file.Files
import java.time.LocalDate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** End-to-end EP1/EP2: config map → day-range/path scans → views → sink,
  * exactly the production wiring (`etl_job.py:28-114`), over temp copies of
  * the sf0.001 fixtures laid out as the reference expects them.
  */
class RunnerIntegrationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("runDaily: day-range scan of both POS feeds through flagship into keyed merge, idempotent") {
    val root = Files.createTempDirectory("graft_daily").toString
    val today = LocalDate.of(2026, 8, 6)
    val Runner.Period(start, end) = Runner.period(today)
    // lay the two POS feeds out as {bucket}/{system}/YYYY/MM/DD.parquet
    for ((sys, fix) <- Seq("cosmos" -> RefFixtures.cosmos, "pre_venda" -> RefFixtures.preVenda)) {
      val feed = fix.df(spark, sfDir).cache()
      val days = Iterator.iterate(start)(_.plusDays(1)).takeWhile(!_.isAfter(end)).toSeq
      days.zipWithIndex.foreach { case (d, i) =>
        feed.filter(abs(hash(col(feed.columns.head))) % days.length === i)
          .coalesce(1).write.mode("overwrite")
          .parquet(f"$root/$sys/${d.getYear}%04d/${d.getMonthValue}%02d/${d.getDayOfMonth}%02d.parquet")
      }
      feed.unpersist()
    }
    RefFixtures.autorizacao.df(spark, sfDir).write.mode("overwrite").parquet(s"$root/autorizacao")
    RefFixtures.produto.df(spark, sfDir).write.mode("overwrite").parquet(s"$root/produto")
    val config = Map(
      "bucket" -> root, "cosmos_system" -> "cosmos", "pre_venda_system" -> "pre_venda",
      "autorizacao" -> s"$root/autorizacao", "produto" -> s"$root/produto")
    val sink = new ParquetSink(spark, s"$root/sink_flagship")
    val n1 = Runner.runDaily(spark, config, sink, today)
    assert(n1 > 0)
    assert(sink.read().count() == n1)
    // same day re-run merges the same keys: no growth
    Runner.runDaily(spark, config, sink, today)
    assert(sink.read().count() == n1)
  }

  test("runRessarcimento: gated, per-year replace/append through config sources") {
    val root = Files.createTempDirectory("graft_monthly").toString
    val keys = Seq("fornecedor", "aporte_cab", "aporte_det", "dim_produto", "coleta_cab",
      "coleta_det", "volume_tipo", "negociacao", "debito", "pagamento", "dim_sap")
    keys.foreach { k =>
      RefFixtures.byName(k).df(spark, sfDir).write.mode("overwrite").parquet(s"$root/$k")
    }
    val config = keys.map(k => k -> s"$root/$k").toMap
    val sink = new ParquetSink(spark, s"$root/sink_rst")
    // gate: nothing happens past day 5
    assert(Runner.runRessarcimento(spark, config, sink, LocalDate.of(2026, 8, 12)).isEmpty)
    // fixture years are 1995-2001: run 1997..1998 (1997 = replace, 1998 = append)
    val written = Runner.runRessarcimento(spark, config, sink, LocalDate.of(1998, 8, 3), firstYear = 1997)
    assert(written.keySet == Set(1997, 1998))
    assert(written.values.forall(_ > 0))
    assert(sink.read().count() == written.values.sum)

    // EVERY year empty (2010 is outside the fixture's 1995-2001 data): the
    // rebuild-from-scratch semantics must leave an EMPTY table, not last
    // refresh's stale rows serving forever.
    val w2 = Runner.runRessarcimento(spark, config, sink, LocalDate.of(2010, 8, 3), firstYear = 2010)
    assert(w2.isEmpty)
    assert(sink.read().count() == 0, "all-years-empty refresh must wipe the stale table")
  }

  test("runRessarcimentoPartitioned: re-running one later year leaves earlier years intact") {
    val root = Files.createTempDirectory("graft_monthly_part").toString
    val keys = Seq("fornecedor", "aporte_cab", "aporte_det", "dim_produto", "coleta_cab",
      "coleta_det", "volume_tipo", "negociacao", "debito", "pagamento", "dim_sap")
    keys.foreach { k =>
      RefFixtures.byName(k).df(spark, sfDir).write.mode("overwrite").parquet(s"$root/$k")
    }
    val config = keys.map(k => k -> s"$root/$k").toMap
    val sink = new PartitionedParquetSink(spark, s"$root/sink_rst_part", "ano")
    val today = LocalDate.of(1998, 8, 3)
    val w1 = Runner.runRessarcimentoPartitioned(spark, config, sink, today, firstYear = 1997)
    assert(w1.keySet == Set(1997, 1998))
    val rows1997 = sink.read().filter(col("ano") === 1997).count()
    assert(rows1997 == w1(1997))
    // Re-run ONLY 1998 — no replace-on-first-written ordering involved: the
    // dynamic overwrite touches just ano=1998, so 1997 must survive
    // byte-for-byte (same count, same content hash).
    val hash1997 = sink.read().filter(col("ano") === 1997)
      .select(sum(xxhash64(sink.read().columns.sorted.map(col): _*))).head().getLong(0)
    val w2 = Runner.runRessarcimentoPartitioned(spark, config, sink, today,
      firstYear = 1997, years = Some(Seq(1998)))
    assert(w2.keySet == Set(1998))
    assert(sink.read().filter(col("ano") === 1997).count() == rows1997)
    val hash1997b = sink.read().filter(col("ano") === 1997)
      .select(sum(xxhash64(sink.read().columns.sorted.map(col): _*))).head().getLong(0)
    assert(hash1997b == hash1997)
    // idempotence of the re-run year itself
    assert(sink.read().filter(col("ano") === 1998).count() == w2(1998))
    // and the partition-local merge keeps untouched partitions safe too
    val incoming = sink.read().filter(col("ano") === 1998).limit(10)
      .withColumn("ressarcimento", lit(0.0))
    sink.mergeByKey(incoming, Seq("ano", "periodo", "empresa", "cod_forn", "forn_nm"))
    assert(sink.read().filter(col("ano") === 1997).count() == rows1997)

    // A year whose refresh comes back EMPTY must have its stale partition
    // deleted, not silently preserved: seed a bogus ano=1994 partition
    // (fixture data starts in 1995, so 1994's view is empty), re-run just
    // that year, and the partition must be gone while the others survive.
    sink.write(sink.read().filter(col("ano") === 1998).limit(5)
      .withColumn("ano", lit(1994)), WriteMode.Append)
    assert(sink.read().filter(col("ano") === 1994).count() == 5)
    val w3 = Runner.runRessarcimentoPartitioned(spark, config, sink, today,
      firstYear = 1997, years = Some(Seq(1994)))
    assert(w3.isEmpty)
    assert(sink.read().filter(col("ano") === 1994).count() == 0)
    assert(sink.read().filter(col("ano") === 1997).count() == rows1997)

    // An explicit `years` override must BYPASS the day-1-to-5 due gate —
    // it exists for targeted mid-month re-runs; the default loop on the
    // same date stays gated (both against the same config and sink).
    val midMonth = LocalDate.of(1998, 8, 12)
    assert(Runner.runRessarcimentoPartitioned(spark, config, sink, midMonth,
      firstYear = 1997).isEmpty, "default loop must stay due-gated mid-month")
    val w4 = Runner.runRessarcimentoPartitioned(spark, config, sink, midMonth,
      firstYear = 1997, years = Some(Seq(1998)))
    assert(w4.keySet == Set(1998))
    assert(w4(1998) > 0)
  }

  test("runRessarcimentoSnapshot: each year commits a version; a re-run is a NEW version with the old one readable") {
    val root = Files.createTempDirectory("graft_monthly_snap").toString
    val keys = Seq("fornecedor", "aporte_cab", "aporte_det", "dim_produto", "coleta_cab",
      "coleta_det", "volume_tipo", "negociacao", "debito", "pagamento", "dim_sap")
    keys.foreach { k =>
      RefFixtures.byName(k).df(spark, sfDir).write.mode("overwrite").parquet(s"$root/$k")
    }
    val config = keys.map(k => k -> s"$root/$k").toMap
    val store = new SnapshotStore(spark, s"$root/snap_rst")
    val today = LocalDate.of(1998, 8, 3)
    def contentHash(df: org.apache.spark.sql.DataFrame): Long =
      df.select(sum(xxhash64(df.columns.sorted.map(col): _*))).head().getLong(0)

    // due gate holds for the snapshot path too
    assert(Runner.runRessarcimentoSnapshot(spark, config, store, LocalDate.of(1998, 8, 12)).isEmpty)
    assert(store.versions.isEmpty)
    // an empty year against an EMPTY store burns no version (nothing to delete)
    assert(Runner.runRessarcimentoSnapshot(spark, config, store, today,
      firstYear = 1997, years = Some(Seq(1994))).isEmpty)
    assert(store.versions.isEmpty)

    // 1997 and 1998 each publish a version, in year order
    val w1 = Runner.runRessarcimentoSnapshot(spark, config, store, today, firstYear = 1997)
    assert(w1 == Map(1997 -> 1L, 1998 -> 2L))
    // v1 holds only 1997; the head holds both (1998's commit carried 1997 over)
    assert(store.read(1).select("ano").distinct().collect().map(_.getInt(0)).toSet == Set(1997))
    val rows1997 = store.readLatest().filter(col("ano") === 1997).count()
    val rows1998 = store.readLatest().filter(col("ano") === 1998).count()
    assert(rows1997 > 0 && rows1998 > 0)
    val h1997v2 = contentHash(store.read(2).filter(col("ano") === 1997))
    val h1998v2 = contentHash(store.read(2).filter(col("ano") === 1998))

    // Re-run ONLY 1998: a NEW version appears, 1997 carries over
    // byte-identical, and the OLD version still reads its original
    // content — the time-travel contract the mutable sinks can't give.
    val w2 = Runner.runRessarcimentoSnapshot(spark, config, store, today,
      firstYear = 1997, years = Some(Seq(1998)))
    assert(w2 == Map(1998 -> 3L))
    assert(store.latestVersion.contains(3L))
    assert(contentHash(store.read(3).filter(col("ano") === 1997)) == h1997v2)
    assert(contentHash(store.read(3).filter(col("ano") === 1998)) == h1998v2,
      "deterministic refresh: the re-run year rebuilds identical content")
    assert(contentHash(store.read(2).filter(col("ano") === 1998)) == h1998v2,
      "the pre-re-run version must stay readable, unchanged")

    // An EMPTY year deletes its rows as a NEW version (history keeps them):
    // seed a bogus ano=1994 (fixture data starts 1995, so its view is empty)
    store.commitReplacePartitions(
      store.readLatest().filter(col("ano") === 1998).limit(5).withColumn("ano", lit(1994)), "ano") // v4
    assert(store.readLatest().filter(col("ano") === 1994).count() == 5)
    val w3 = Runner.runRessarcimentoSnapshot(spark, config, store, today,
      firstYear = 1997, years = Some(Seq(1994)))
    assert(w3 == Map(1994 -> 5L))
    assert(store.readLatest().filter(col("ano") === 1994).count() == 0)
    assert(store.read(4).filter(col("ano") === 1994).count() == 5,
      "time travel must still read the deleted year at its version")
    // and the delete is undone by a history-preserving rollback
    store.rollback(4)
    assert(store.readLatest().filter(col("ano") === 1994).count() == 5)
  }

  test("runDailySnapshot: each daily merge is a version; day 1 stays readable after day 2 and the head matches the mutable path") {
    val root = Files.createTempDirectory("graft_daily_snap").toString
    val day1 = LocalDate.of(2026, 8, 6)
    val day2 = day1.plusDays(1)
    // feeds laid out over day-2's (wider) window: day 1's run sees one
    // fewer file, so the second merge genuinely brings new rows
    val Runner.Period(start, end) = Runner.period(day2)
    for ((sys, fix) <- Seq("cosmos" -> RefFixtures.cosmos, "pre_venda" -> RefFixtures.preVenda)) {
      val feed = fix.df(spark, sfDir).cache()
      val days = Iterator.iterate(start)(_.plusDays(1)).takeWhile(!_.isAfter(end)).toSeq
      days.zipWithIndex.foreach { case (d, i) =>
        feed.filter(abs(hash(col(feed.columns.head))) % days.length === i)
          .coalesce(1).write.mode("overwrite")
          .parquet(f"$root/$sys/${d.getYear}%04d/${d.getMonthValue}%02d/${d.getDayOfMonth}%02d.parquet")
      }
      feed.unpersist()
    }
    RefFixtures.autorizacao.df(spark, sfDir).write.mode("overwrite").parquet(s"$root/autorizacao")
    RefFixtures.produto.df(spark, sfDir).write.mode("overwrite").parquet(s"$root/produto")
    val config = Map(
      "bucket" -> root, "cosmos_system" -> "cosmos", "pre_venda_system" -> "pre_venda",
      "autorizacao" -> s"$root/autorizacao", "produto" -> s"$root/produto")

    val store = new SnapshotStore(spark, s"$root/snap_flagship")
    assert(Runner.runDailySnapshot(spark, config, store, day1) == 1L)
    val d1Keys = store.read(1).select("etiqueta").collect().map(_.getString(0)).toSet
    assert(d1Keys.nonEmpty)
    assert(Runner.runDailySnapshot(spark, config, store, day2) == 2L)
    // day-1's table is still readable AFTER day-2's merge, unchanged
    assert(store.read(1).select("etiqueta").collect().map(_.getString(0)).toSet == d1Keys)
    val headKeys = store.readLatest().select("etiqueta").collect().map(_.getString(0)).toSet
    assert(headKeys.size > d1Keys.size, "day 2's wider window must add keys")
    // the head equals the mutable-sink path run day-by-day: same MERGE semantic
    val sink = new ParquetSink(spark, s"$root/sink_flagship")
    Runner.runDaily(spark, config, sink, day1)
    Runner.runDaily(spark, config, sink, day2)
    assert(sink.read().select("etiqueta").collect().map(_.getString(0)).toSet == headKeys)
    assert(sink.read().count() == store.readLatest().count())
  }

  /** The Pipeline B sources written under a fresh temp root; returns the
    * root and the config map that binds them. */
  private def monthlyLayout(prefix: String): (String, Map[String, String]) = {
    val root = Files.createTempDirectory(prefix).toString
    val keys = Seq("fornecedor", "aporte_cab", "aporte_det", "dim_produto", "coleta_cab",
      "coleta_det", "volume_tipo", "negociacao", "debito", "pagamento", "dim_sap")
    keys.foreach { k =>
      RefFixtures.byName(k).df(spark, sfDir).write.mode("overwrite").parquet(s"$root/$k")
    }
    (root, keys.map(k => k -> s"$root/$k").toMap)
  }

  test("runRessarcimento publishes every year with ONE whole-table Replace") {
    val (root, config) = monthlyLayout("graft_monthly_once")
    val inner = new ParquetSink(spark, s"$root/sink_rst")
    val modes = mutable.Buffer.empty[WriteMode]
    val sink = new Sink {
      def mergeByKey(incoming: DataFrame, keys: Seq[String]): Long = inner.mergeByKey(incoming, keys)
      def write(incoming: DataFrame, mode: WriteMode): Long = { modes += mode; inner.write(incoming, mode) }
      def applyCdc(changes: DataFrame, keys: Seq[String], opCol: String, seqCol: String): Long =
        inner.applyCdc(changes, keys, opCol, seqCol)
      def read(): DataFrame = inner.read()
      def exists: Boolean = inner.exists
    }
    val written = Runner.runRessarcimento(spark, config, sink, LocalDate.of(1998, 8, 3), firstYear = 1997)
    assert(written.keySet == Set(1997, 1998))
    assert(modes == Seq(WriteMode.Replace))
    assert(inner.read().count() == written.values.sum)
  }

  test("a refresh runs as many Spark jobs for 4 years as for 2") {
    val (root, config) = monthlyLayout("graft_monthly_flat")
    val today = LocalDate.of(1998, 8, 3)
    def jobs(firstYear: Int, refresh: (Int, String) => Map[Int, Long]): Int = {
      var written = Map.empty[Int, Long]
      val n = PlanShapes.jobsRun(spark) { written = refresh(firstYear, s"$root/sink_$firstYear") }
      assert(written.keySet == (firstYear to 1998).toSet)
      n
    }
    val wholeTable = (fy: Int, path: String) =>
      Runner.runRessarcimento(spark, config, new ParquetSink(spark, path), today, fy)
    val partitioned = (fy: Int, path: String) => Runner.runRessarcimentoPartitioned(spark, config,
      new PartitionedParquetSink(spark, path + "_part", "ano"), today, fy)
    for (refresh <- Seq(wholeTable, partitioned)) {
      val (two, four) = (jobs(1997, refresh), jobs(1995, refresh))
      assert(two == four, s"2 years ran $two jobs, 4 years ran $four")
    }
  }
}
