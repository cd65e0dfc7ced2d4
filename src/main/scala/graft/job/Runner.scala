package graft.job

import graft.core.{CacheScope, SchemaCasts}
import graft.sink.{PartitionedParquetSink, Sink, WriteMode}
import graft.sources.{ConfigSources, Tables}
import graft.views.{Ressarcimento, SuperDesconto}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, year}
import java.time.LocalDate

/** C14 / EP1 / EP2 orchestration (reference `etl_job.py:28-130`), as pure
  * functions of a clock parameter so the period math and gates are testable.
  */
object Runner {

  final case class Period(start: LocalDate, end: LocalDate)

  /** Daily window (`etl_job.py:121-125`): start = first day of the current
    * month, shifted one month back while the month is ≤ 5 days old. */
  def period(today: LocalDate): Period = {
    val firstOfMonth = today.withDayOfMonth(1)
    val start = if (today.getDayOfMonth <= 5) firstOfMonth.minusMonths(1) else firstOfMonth
    Period(start, today)
  }

  /** Day-gate (`etl_job.py:89-91`): ressarcimento refreshes on days 1-5. */
  def ressarcimentoDue(today: LocalDate): Boolean = today.getDayOfMonth <= 5

  /** The due years (the reference's year loop, `etl_job.py:95`): every year
    * since `firstYear`, inclusive. */
  def ressarcimentoYears(today: LocalDate, firstYear: Int = 2023): Seq[Int] =
    firstYear to today.getYear

  /** The daily flagship view for `today`'s period — day-range scans of
    * both POS feeds, the broadcast join (`etl_job.py:28-85`); shared by
    * the mutable-sink and snapshot publishing paths so the two can never
    * drift in WHAT they compute, only in how the result is stored. */
  private def dailyFlagship(spark: SparkSession, config: Map[String, String],
                            today: LocalDate): DataFrame = {
    val Period(start, end) = period(today)
    val cosmosFeed = Tables.dayRangeScan(spark, config("bucket"), config("cosmos_system"), start, end)
    val preVendaFeed = Tables.dayRangeScan(spark, config("bucket"), config("pre_venda_system"), start, end)
    val cupom = SuperDesconto.cupom(cosmosFeed, preVendaFeed)
    val autorizador = SuperDesconto.autorizador(Tables.pathScan(spark, config("autorizacao")))
    val produto = SuperDesconto.produto(Tables.pathScan(spark, config("produto")))
    SuperDesconto.flagship(cupom, autorizador, produto)
  }

  /** EP1: the daily flagship — keyed upsert on `etiqueta` into a mutable
    * sink (`etl_job.py:28-85`). */
  def runDaily(spark: SparkSession, config: Map[String, String], sink: Sink,
               today: LocalDate): Long =
    sink.mergeByKey(dailyFlagship(spark, config, today), Seq("etiqueta"))

  /** EP1 with time travel: the same daily MERGE published as a NEW
    * [[SnapshotStore]] version per run — the Pipeline A twin of
    * [[runRessarcimentoSnapshot]] (Pipeline B got snapshots first; the
    * daily job wrote in place, so "what did the flagship table hold
    * before this morning's merge" had no answer). `commitMerge` carries
    * unmatched prior keys forward and replaces matched ones, exactly the
    * mutable path's MERGE semantic, so the HEAD always equals what
    * [[runDaily]] into a [[graft.sink.ParquetSink]] would contain — with
    * every previous day still readable at its version and a bad feed one
    * `rollback` away. Returns the committed version. */
  def runDailySnapshot(spark: SparkSession, config: Map[String, String],
                       store: graft.sink.SnapshotStore, today: LocalDate): Long =
    store.commitMerge(dailyFlagship(spark, config, today), Seq("etiqueta"))

  /** EP2: the monthly ressarcimento refresh into a whole-table sink
    * (`etl_job.py:89-114`): every year since `firstYear`, built as one frame
    * and published as ONE `Replace`. Returns rows written per year; empty
    * years are absent from the map.
    *
    * Documented deviation: the reference runs one job per year, replacing
    * with the first year (2023) and appending the rest. Tied to the literal
    * first year, an empty 2023 would make every later year append onto the
    * PREVIOUS run's rows — up to 5 duplicate copies per month under the
    * day-1-to-5 gate — and a crash after the first year's write would leave
    * a table holding only that year. One Replace of all years is idempotent
    * whichever years are empty, leaves the old table or the new one, and
    * when every year is empty it publishes the empty frame rather than
    * leave last refresh's rows serving forever. */
  def runRessarcimento(spark: SparkSession, config: Map[String, String], sink: Sink,
                       today: LocalDate, firstYear: Int = 2023): Map[Int, Long] = {
    // A Replace against a partition-scoped sink would touch only the years
    // present in the frame and keep every emptied year's stale rows; that
    // sink has its own entry point — reject the miswiring instead.
    require(!sink.isInstanceOf[PartitionedParquetSink],
      "runRessarcimento publishes every year as one whole-table Replace; " +
        "use runRessarcimentoPartitioned for a partition-scoped sink")
    if (!ressarcimentoDue(today)) return Map.empty
    refresh(spark, config, ressarcimentoYears(today, firstYear)) { (df, rows) =>
      sink.write(df, WriteMode.Replace)
      rows
    }
  }

  /** Shared EP2 plumbing: build the view of every year in `years` ONCE,
    * cached, count its rows per year with one aggregate, and hand both to
    * `publish` — inside one [[CacheScope]], so the refresh's cached frames
    * are freed when it returns or throws (a failed write must not leak
    * them into a caller's retry loop). */
  private def refresh[T](spark: SparkSession, config: Map[String, String], years: Seq[Int])(
      publish: (DataFrame, Map[Int, Long]) => T): T = CacheScope.scoped {
    val df = CacheScope.persisted(SchemaCasts.castDecimalDouble(
      Ressarcimento.mainView(ConfigSources.ressarcimento(spark, config), years)))
    val rows = df.groupBy(year(col("periodo"))).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    publish(df, rows)
  }

  /** EP2 at scale: the refresh against a PARTITION-scoped sink — one
    * dynamic partition overwrite stamped with `ano = year(periodo)`
    * replaces each refreshed year's own `ano=<year>` partition, so any
    * single year can be re-run alone, in any order, without touching the
    * others.
    *
    * A year whose refreshed view comes back EMPTY has its partition
    * DELETED after the write (the whole-table path rebuilds from scratch so
    * empty years vanish naturally; a partition-scoped dynamic overwrite
    * with zero rows touches nothing, which would leave the stale rows
    * serving forever). Deleted years don't appear in the returned map, same
    * as the whole-table path's empty years.
    *
    * `years` narrows the refresh (e.g. re-run just 2024 after a source
    * correction). An explicit `years` BYPASSES the day-1-to-5 due gate:
    * the override exists precisely for targeted mid-month re-runs, and
    * gating it would silently return Map.empty and leave the stale
    * partition serving. Default = the reference's gated
    * every-year-since-firstYear loop.
    */
  def runRessarcimentoPartitioned(spark: SparkSession, config: Map[String, String],
                                  sink: PartitionedParquetSink, today: LocalDate,
                                  firstYear: Int = 2023,
                                  years: Option[Seq[Int]] = None): Map[Int, Long] = {
    if (years.isEmpty && !ressarcimentoDue(today)) return Map.empty
    val due = years.getOrElse(ressarcimentoYears(today, firstYear))
    refresh(spark, config, due) { (df, rows) =>
      if (rows.nonEmpty)
        sink.write(df.withColumn(sink.partitionCol, year(col("periodo"))), WriteMode.Replace)
      due.filterNot(rows.contains).foreach(sink.deletePartition)
      rows
    }
  }

  /** EP2 with time travel: the refresh publishing into a
    * [[SnapshotStore]]. The view of every year is built once; each year's
    * rows, cut from it, commit a NEW snapshot version that replaces only
    * that year's rows
    * ([[SnapshotStore.commitReplacePartitions]] on the stamped `ano`
    * column) — the snapshot twin of [[runRessarcimentoPartitioned]],
    * with every previous refresh still readable at its version: a bad
    * source drop is one `rollback` away, and "what did 2024 hold before
    * this month's refresh" is a `read(v-1)`. An EMPTY year commits a
    * version WITHOUT that year's rows (delete-with-history, mirroring
    * `deletePartition`) unless the store has no versions yet, in which
    * case there is nothing to delete and no version is burned.
    *
    * Returns year -> committed version (NOT row counts — the version is
    * the handle a snapshot consumer needs; row counts belong to the
    * mutable-sink paths). As in the partitioned path, an explicit
    * `years` override bypasses the day-1-to-5 due gate: the override
    * exists for targeted re-runs. */
  def runRessarcimentoSnapshot(spark: SparkSession, config: Map[String, String],
                               store: graft.sink.SnapshotStore, today: LocalDate,
                               firstYear: Int = 2023,
                               years: Option[Seq[Int]] = None): Map[Int, Long] = {
    if (years.isEmpty && !ressarcimentoDue(today)) return Map.empty
    val due = years.getOrElse(ressarcimentoYears(today, firstYear))
    refresh(spark, config, due) { (df, rows) =>
      due.flatMap { y =>
        val version =
          if (rows.contains(y))
            Some(store.commitReplacePartitions(
              df.filter(year(col("periodo")) === y).withColumn("ano", lit(y)), "ano"))
          else {
            // Only burn a delete version when the head actually carries the
            // year: an empty year that is already absent would otherwise
            // commit a byte-identical version on every due-window run (up to
            // 5 no-op versions per month), polluting the time-travel lineage.
            val headHasYear = store.latestVersion.exists { v =>
              !store.read(v).filter(col("ano") <=> y).isEmpty
            }
            if (headHasYear) store.commitDeletePartition("ano", y) else None
          }
        version.map(y -> _)
      }.toMap
    }
  }
}
