package perfbench

import graft.SparkEntry
import graft.core.CacheScope
import graft.job.Runner
import graft.sink.{ParquetSink, Sink, SnapshotStore, WriteMode}
import graft.sources.Tables
import graft.streaming.DocStream
import graft.views.SuperDesconto
import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable

final case class Ctx(spark: SparkSession, seed: Long, traced: Boolean, trace: Tracer)

/** One workload: a fixed list of ops per pass, driven by one client in a
  * closed loop (an op starts when the previous one has returned). Every
  * pass starts from the same state, so every pass does the same work. */
trait Workload {
  def ops: Seq[String]
  /** A constant of the workload, roughly one pass's wall on 4 cores: the
    * timed phase runs `round(seconds / passSeconds)` passes, at least one,
    * so the amount of work is fixed by the arguments, not by the speed of
    * the code. */
  def passSeconds: Double
  /** The first op in a fresh JVM, timed alone as the cold op. */
  def coldOp: Int = 0
  /** Generate the inputs, lay them out and pre-seed the store under a
    * fresh `dir`; the workload then runs against the last dir set up. */
  def setup(dir: String): Unit
  /** Untimed reset before each pass (and before the cold op). */
  def beforePass(): Unit = ()
  /** Ops run once after the cold op, before the timed passes, so that
    * the passes find them warm; their first runs count as cold. */
  def warmUp: Seq[Int] = Nil
  /** Run op `i` of a pass. */
  def run(i: Int): Unit
  /** Traced passes only: time the lazy layers op `i` goes through, by
    * calling their public entry points the way the job does. */
  def probe(i: Int): Unit = ()
  /** Generated input rows one pass consumes. */
  def inputRowsPerPass: Long
  def storeDir: Option[String] = None
  /** Untimed correctness gate: writes what the DuckDB side checks under
    * `out` and returns the facts and verdicts decided here. */
  def gate(out: String): Map[String, Any]
  def close(): Unit = ()
}

object Workload {
  def apply(name: String, c: Ctx): Workload = name match {
    case "daily_merge" => new DailyMerge(c)
    case "stream_ingest" => new StreamIngest(c)
    case "operator_mix" => new OperatorMix(c)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def deleteDir(p: String): Unit = {
    def rm(f: File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rm)
      f.delete(): Unit
    }
    rm(new File(p))
  }

  def copyDir(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.forEach { p: Path =>
      val dest = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dest)
      else Files.copy(p, dest, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  def du(p: String): Long = {
    val f = new File(p)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(x => du(x.getPath)).sum).getOrElse(0L)
  }

  def sinkFor(c: Ctx, path: String): Sink = {
    val raw = new ParquetSink(c.spark, path)
    if (c.traced) new TracedSink(raw, c.trace) else raw
  }
}

import Workload._

/** Daily coupon reconcile: `Runner.runDaily` into a `ParquetSink`
  * pre-seeded with a history, over three consecutive simulated days. The
  * first of them is day 5, so its window reaches back to the first of the
  * previous month. */
final class DailyMerge(c: Ctx) extends Workload {
  import DailyMerge._
  private val spark = c.spark
  private var dir = ""
  private def config = Map("bucket" -> s"$dir/bucket", "cosmos_system" -> "cosmos",
    "pre_venda_system" -> "pre_venda", "autorizacao" -> s"$dir/autorizacao",
    "produto" -> s"$dir/produto")
  private def sinkPath = s"$dir/sink"
  private def pristine = s"$dir/history"

  val ops: Seq[String] = Days.map(d => s"day_$d")
  def passSeconds: Double = 6.5
  /** A day past the 5th, like most days the cron runs. */
  override def coldOp: Int = Days.size - 1

  def setup(d: String): Unit = {
    dir = d
    val s = c.seed
    autorizacao(spark, s).write.parquet(s"$dir/autorizacao")
    produto(spark, s).write.parquet(s"$dir/produto")
    for ((system, feed) <- Seq("cosmos" -> 0, "pre_venda" -> 1)) {
      val stage = s"$dir/stage_$system"
      pos(spark, s, feed).write.partitionBy("di").parquet(stage)
      (0 until NDays).foreach { i =>
        val day = First.plusDays(i)
        val dest = new File(f"$dir/bucket/$system/${day.getYear}%04d/${day.getMonthValue}%02d/${day.getDayOfMonth}%02d.parquet")
        dest.getParentFile.mkdirs()
        Files.move(Paths.get(s"$stage/di=$i"), dest.toPath)
      }
      deleteDir(stage)
    }
    new ParquetSink(spark, sinkPath).write(history(spark, s), WriteMode.Replace)
    copyDir(sinkPath, pristine)
  }

  override def beforePass(): Unit = {
    deleteDir(sinkPath)
    copyDir(pristine, sinkPath)
  }

  def run(i: Int): Unit = c.trace("job.runDaily") {
    Runner.runDaily(spark, config, sinkFor(c, sinkPath), Days(i)): Unit
  }

  override def probe(i: Int): Unit = {
    val Runner.Period(start, end) = Runner.period(Days(i))
    val (cos, pre, aut, pro) = c.trace("sources.scan") {
      (Tables.dayRangeScan(spark, config("bucket"), "cosmos", start, end),
        Tables.dayRangeScan(spark, config("bucket"), "pre_venda", start, end),
        Tables.pathScan(spark, config("autorizacao")), Tables.pathScan(spark, config("produto")))
    }
    c.trace("views.build") {
      SuperDesconto.flagship(SuperDesconto.cupom(cos, pre), SuperDesconto.autorizador(aut),
        SuperDesconto.produto(pro)).queryExecution.analyzed
    }
  }

  def inputRowsPerPass: Long = Days.map { d =>
    val Runner.Period(start, end) = Runner.period(d)
    val windowDays = java.time.temporal.ChronoUnit.DAYS.between(start, end) + 1
    windowDays * 2 * R + AutRows + 2 * P
  }.sum

  override def storeDir: Option[String] = Some(sinkPath)

  def gate(out: String): Map[String, Any] = Map(
    "history" -> pristine, "bucket" -> config("bucket"), "autorizacao" -> config("autorizacao"),
    "produto" -> config("produto"), "sink" -> sinkPath,
    "days" -> Days.map { d =>
      val Runner.Period(start, end) = Runner.period(d)
      Map("day" -> d.toString, "start" -> start.toString, "end" -> end.toString)
    })
}

object DailyMerge {
  /** Labels already in the history, labels only the new days bring, and
    * the share of each day's POS rows that reuse a history label. */
  val H = 40000L
  val Fresh = 20000L
  val L: Long = H + Fresh
  val P = 5000L
  /** POS rows per feed per day. */
  val R = 400L
  val ReuseShare = 0.6
  val First: LocalDate = LocalDate.of(2026, 2, 1)
  val Days: Seq[LocalDate] = Seq(5, 6, 7).map(LocalDate.of(2026, 3, _))
  val NDays: Int = (java.time.temporal.ChronoUnit.DAYS.between(First, Days.last) + 1).toInt
  val AutRows: Long = L + L / 20

  import Gen.{u, ui, ts}

  /** One authorization per label, a second (later id) for every 20th,
    * 10% not finalized, NULL discounts, padded barcodes. */
  def autorizacao(spark: SparkSession, s: Long): DataFrame =
    spark.range(L).selectExpr("id as label", "0L as dup")
      .union(spark.range(0, L, 20).selectExpr("id as label", "1L as dup"))
      .selectExpr("label + 1000000 + dup * 1000000 as ulch_sq_autorizacao",
        s"${ui(s, "aprice", 100000, "label", "dup")} / 100.0 as ulch_preco_venda",
        s"case when ${u(s, "anull", "label")} < 0.1 then cast(null as double) else cast(${ui(s, "apct", 50, "label", "dup")} as double) end as ulch_percentual_desconto",
        s"concat('Brand#', cast(${ui(s, "abrand", 25, "label")} as string)) as ulch_fl_tipo_produto",
        s"case when ${u(s, "apad", "label")} < 0.3 then concat(' ', cast(label as string), ' ') else cast(label as string) end as ulch_cd_barras",
        s"case when ${u(s, "asit", "label", "dup")} < 0.9 then 'F' else 'A' end as ulch_fl_situacao",
        s"${ui(s, "aprod", P, "label")} as ulch_sq_produto")

  /** Two registrations per product, mixed-case padded lotes. */
  def produto(spark: SparkSession, s: Long): DataFrame =
    spark.range(2 * P).selectExpr(s"id % $P as ulch_sq_produto",
      ts("2025-01-01", ui(s, "pcad", 400, "id")) + " as xxxx_dh_cad",
      s"concat(case when ${u(s, "pcase", "id")} < 0.5 then '  lote ' else ' LOTE ' end, cast(${ui(s, "plote", 50, "id")} as string), ' ') as ulch_lote",
      ts("2025-04-01", ui(s, "pcad", 400, "id")) + " as ulch_dt_vencimento")

  /** One POS feed (0 = cosmos, 1 = pre_venda) over every day, `di` = day
    * index from [[First]]. */
  def pos(spark: SparkSession, s: Long, feed: Int): DataFrame = {
    val cols = if (feed == 0)
      Seq("MVVC_CD_FILIAL_MOV", "MVVP_NR_PRD", "MVVC_DT_MOV", "NUMERO_AUTORIZ_PAGUEMENOS",
        "MVVP_PR_DSC_ITE", "MVVP_VL_PRE_VDA", "MVVP_VL_PRD_VEN")
    else
      Seq("VC_CD_FILIAL", "VD_CD_PRODUTO", "VC_DH_VENDA", "VD_COD_ETIQUETA_ULCH",
        "VD_PERC_DESCONTO", "VD_VL_PRODUTO", "VD_VL_PRODUTO_COM_DESCONTO")
    val f = s"$feed"
    spark.range(NDays * R).selectExpr(s"cast(id div $R as int) as di",
      s"case when ${u(s, "reuse", f, "id")} < $ReuseShare then ${ui(s, "hl", H, f, "id")} else $H + ${ui(s, "fl", Fresh, f, "id")} end as label",
      "id")
      .selectExpr("di",
        s"cast(${ui(s, "fil", 100, f, "id")} as int) as ${cols(0)}",
        s"${ui(s, "prd", 1000, f, "id")} as ${cols(1)}",
        ts("2026-02-01", "di", ui(s, "sec", 86400, f, "id")) + s" as ${cols(2)}",
        (if (feed == 0) "concat(' ', cast(label as string), ' ')" else "cast(label as string)") + s" as ${cols(3)}",
        s"${ui(s, "dsc", 2000, f, "id")} / 100.0 as ${cols(4)}",
        s"${ui(s, "vda", 100000, f, "id")} / 100.0 as ${cols(5)}",
        s"${ui(s, "vda", 100000, f, "id")} / 100.0 * 0.9 as ${cols(6)}")
  }

  /** Flagship-shaped history, one row per history label. */
  def history(spark: SparkSession, s: Long): DataFrame =
    spark.range(0, H, 1, 4).selectExpr("id + 1000000 as ulch_sq_autorizacao",
      s"${ui(s, "hprod", P, "id")} as ulch_sq_produto",
      ts("2025-01-01", ui(s, "hcad", 400, "id")) + " as xxxx_dh_cad",
      ts("2025-03-01", ui(s, "hven", 330, "id"), ui(s, "hsec", 86400, "id")) + " as dt_venda",
      s"cast(${ui(s, "hfil", 100, "id")} as int) as filial",
      s"${ui(s, "hcp", 1000, "id")} as cod_prod",
      s"concat('LOTE ', cast(${ui(s, "hlote", 50, "id")} as string)) as ulch_lote",
      ts("2025-04-01", ui(s, "hcad", 400, "id")) + " as ulch_dt_vencimento",
      "cast(lpad(cast(id as string), 30, '0') as string) as etiqueta",
      s"${ui(s, "hdsc", 2000, "id")} / 100.0 as perc_dsc_cupom",
      s"${ui(s, "hvda", 100000, "id")} / 100.0 as venda",
      s"${ui(s, "hvda", 100000, "id")} / 100.0 * 0.9 as venda_desconto",
      s"${ui(s, "hpv", 100000, "id")} / 100.0 as ulch_preco_venda",
      s"cast(${ui(s, "hpct", 50, "id")} as double) as ulch_percentual_desconto",
      s"concat('Brand#', cast(${ui(s, "hbr", 25, "id")} as string)) as ulch_fl_tipo_produto")
}

/** Streaming ingest: `DocStream.ingestToSnapshots` into a `SnapshotStore`
  * pre-seeded with 2e5 documents; each op is one trigger of 2e3 documents
  * of which a fixed share re-sends stored texts and a fixed share repeats
  * a text within the batch. Event time advances two hours per trigger,
  * so the one-hour watermark evicts the first trigger's dedup state in
  * the third. Every pass
  * restarts the query on a fresh checkpoint over a copy of the pre-seeded
  * store and sends the same triggers. */
final class StreamIngest(c: Ctx) extends Workload {
  import StreamIngest._
  private val spark = c.spark
  private val textSeed = c.seed * 31 + 7
  private var dir = ""
  private var store: SnapshotStore = _
  private var mem: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Timestamp, String)] = _
  private var query: StreamingQuery = _
  /** Every trigger of a pass: (doc_id, trigger, text) in send order. */
  private val sent: IndexedSeq[(Long, Int, String)] = {
    val out = mutable.ArrayBuffer.empty[(Long, Int, String)]
    (0 until Triggers).foreach { t =>
      val r = Gen.rng(c.seed, 7L, t)
      val first = N0 + t.toLong * B
      (0 until B).foreach { j =>
        val id = first + j
        val x = r.nextDouble()
        val text =
          if (x < ResendShare) {
            val k = r.nextLong(first)
            if (k < N0) Gen.words(textSeed, k) else out((k - N0).toInt)._3
          }
          else if (x < ResendShare + DupShare && j > 0) out((first - N0).toInt + r.nextInt(j))._3
          else Gen.words(textSeed, id)
        out += ((id, t, text))
      }
    }
    out.toIndexedSeq
  }

  val ops: Seq[String] = Seq.fill(Triggers)("trigger")
  def passSeconds: Double = 5.0

  def setup(d: String): Unit = {
    dir = d
    new SnapshotStore(spark, pristine).commit(DocStream.withFingerprint(preseed(spark, textSeed))
      .select("doc_id", "ts", "text", "fingerprint")): Unit
  }

  private def pristine = s"$dir/pristine"

  override def beforePass(): Unit = {
    close()
    deleteDir(s"$dir/store")
    deleteDir(s"$dir/ckpt")
    copyDir(pristine, s"$dir/store")
    store = new SnapshotStore(spark, s"$dir/store")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Timestamp, String)]
    query = DocStream.ingestToSnapshots(mem.toDF().toDF("doc_id", "ts", "text"), store, s"$dir/ckpt")
  }

  def run(i: Int): Unit = {
    val at = Base + i.toLong * StepMs
    val docs = sent.slice(i * B, (i + 1) * B).zipWithIndex.map { case ((id, _, text), j) =>
      (id, new Timestamp(at + j), text)
    }
    c.trace("streaming.trigger") {
      mem.addData(docs)
      query.processAllAvailable()
    }
  }

  def inputRowsPerPass: Long = Triggers.toLong * B

  override def storeDir: Option[String] = Some(s"$dir/store")

  /** Writes every document a pass sends (the pre-seed regenerated from the
    * seed; streamed ones with their fingerprints) and the head snapshot
    * after the last pass, for the DuckDB first-arrival check. */
  def gate(out: String): Map[String, Any] = {
    close()
    import spark.implicits._
    val stream = DocStream.withFingerprint(sent.toDF("doc_id", "trigger", "text"))
      .select("doc_id", "trigger", "text", "fingerprint")
    preseed(spark, textSeed).selectExpr("doc_id", "-1 as trigger", "text", "cast(null as bigint) as fingerprint")
      .unionByName(stream).write.parquet(s"$out/sent")
    store.readLatest().select("doc_id", "text", "fingerprint").write.parquet(s"$out/head")
    Map("sent" -> s"$out/sent", "head" -> s"$out/head", "triggers" -> Triggers,
      "versions" -> store.versions.size, "fingerprint_modulus" -> graft.llmdata.TextPrimitives.P)
  }

  override def close(): Unit = if (query != null) { query.stop(); query = null }
}

object StreamIngest {
  val N0 = 200000L
  val B = 2000
  val Triggers = 3
  /** Assumed traffic shares, not measured: see README.md. */
  val ResendShare = 0.15
  val DupShare = 0.10
  val Base: Long = Timestamp.valueOf("2026-01-01 00:00:00").getTime
  val StepMs: Long = 2L * 3600 * 1000

  def preseed(spark: SparkSession, textSeed: Long): DataFrame = {
    import spark.implicits._
    val at = new Timestamp(Base - 24L * 3600 * 1000)
    spark.range(N0).map(id => (id.longValue, at, Gen.words(textSeed, id))).toDF("doc_id", "ts", "text")
  }
}

/** Operator mix: a fixed list of registry rows, each op one row's full
  * result collected to the driver, with the row's persisted
  * intermediates released after it. The last pass's results feed the
  * gate, so the gate runs no row again. */
final class OperatorMix(c: Ctx) extends Workload {
  import OperatorMix._
  private val spark = c.spark
  private var sf = ""
  private val results = mutable.Map.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]

  val ops: Seq[String] = Rows
  def passSeconds: Double = 10.0

  def setup(d: String): Unit = {
    sf = s"$d/sf"
    val s = c.seed
    Gen.documents(spark, s, Docs).write.parquet(s"$sf/documents.parquet")
    Gen.embeddings(spark, s, Vectors).write.parquet(s"$sf/embeddings.parquet")
    Gen.lineitem(spark, s, Lines, Lines / 4, Parts).write.parquet(s"$sf/lineitem.parquet")
    Gen.part(spark, s, Parts).write.parquet(s"$sf/part.parquet")
  }

  def run(i: Int): Unit = {
    val rows = c.trace(s"registry.${Rows(i)}") {
      CacheScope.scoped {
        val df = SparkEntry.queries(Rows(i))(spark, sf)
        (df.collect(), df.schema)
      }
    }
    spark.sharedState.cacheManager.clearCache()
    results(Rows(i)) = rows
  }

  override def warmUp: Seq[Int] = Rows.indices.filter(_ != coldOp)

  def inputRowsPerPass: Long = Rows.map {
    case "e_knn_graph" => Vectors
    case "j_skew_salted" => Lines + Parts
    case _ => Docs
  }.sum

  /** The last result of each row, for the DuckDB oracle compare. */
  def gate(out: String): Map[String, Any] = {
    Rows.foreach { r =>
      val (rows, schema) = results(r)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1).write.parquet(s"$out/$r")
    }
    Map("sf" -> sf, "rows" -> Rows.map(r => Map("name" -> r, "result" -> s"$out/$r",
      "oracle_sql" -> SparkEntry.oracleSql(r))))
  }
}

object OperatorMix {
  val Rows: Seq[String] = Seq("t_bm25", "d_ppjoin", "e_knn_graph", "c_cc", "j_skew_salted", "v_heavy")
  val Docs = 1000L
  val Vectors = 200L
  val Lines = 10000L
  val Parts = 1000L
}
