package graft.views

import graft.core.{Dedup, Normalize, SchemaCasts}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Pipeline A — "super desconto" (reference `utils_superdesconto.py` +
  * `etl_job.py:28-68`): reconcile discount-coupon sales from two POS feeds
  * against a discount-authorization table and a product table, keeping the
  * best-priced sale per coupon label.
  *
  * Every view takes its sources as DataFrames (the reference hard-codes
  * `.env` paths; see FIXTURES.md) so tests/fixtures/production bind freely.
  *
  * Scale design:
  *  - the two POS feeds are unioned *before* the per-etiqueta top-1 window,
  *    so the ranking is a single hash-partition shuffle on `etiqueta`;
  *  - the cupom side (≤ one row per coupon label in the window's output,
  *    bounded by the day-range) is broadcast into the join against the much
  *    larger authorization/product dims, exactly as the reference hints
  *    (`F.broadcast(cupom)`, `etl_job.py:36`) — no shuffle of the big side;
  *  - dedups are deterministic window argmaxes (see [[graft.core.Dedup]]).
  */
object SuperDesconto {

  /** Canonical POS schema (reference `utils_superdesconto.py:9-17`). */
  val colsRename: Seq[String] =
    Seq("filial", "cod_prod", "periodo", "etiqueta", "perc_dsc_cupom", "venda", "venda_desconto")

  /** Feed 1 column order (`utils_superdesconto.py:19-27`). */
  val colsCosmos: Seq[String] = Seq(
    "MVVC_CD_FILIAL_MOV", "MVVP_NR_PRD", "MVVC_DT_MOV", "NUMERO_AUTORIZ_PAGUEMENOS",
    "MVVP_PR_DSC_ITE", "MVVP_VL_PRE_VDA", "MVVP_VL_PRD_VEN")

  /** Feed 2 column order (`utils_superdesconto.py:29-37`). */
  val colsPreVenda: Seq[String] = Seq(
    "VC_CD_FILIAL", "VD_CD_PRODUTO", "VC_DH_VENDA", "VD_COD_ETIQUETA_ULCH",
    "VD_PERC_DESCONTO", "VD_VL_PRODUTO", "VD_VL_PRODUTO_COM_DESCONTO")

  /** C6 view_pre_venda (`utils_superdesconto.py:69-85`) minus the file scan:
    * project the feed's columns, canonicalize the coupon label, rename to the
    * shared schema. `columns(3)` is the label column, as in the reference. */
  def preVenda(feed: DataFrame, columns: Seq[String]): DataFrame = {
    val colEtiqueta = columns(3)
    feed.select(columns.map(col): _*)
      .withColumn(colEtiqueta, Normalize.etiqueta(colEtiqueta))
      .withColumnsRenamed(columns.zip(colsRename).toMap)
  }

  /** C7 view_cupom (`utils_superdesconto.py:88-99`): union both feeds, keep
    * the top-discount sale per etiqueta. The reference orders only by
    * `venda_desconto desc`; we extend the window ordering into a total order
    * (every payload column) so the argmax is deterministic. */
  def cupom(cosmosFeed: DataFrame, preVendaFeed: DataFrame): DataFrame = {
    val unioned = preVenda(cosmosFeed, colsCosmos).union(preVenda(preVendaFeed, colsPreVenda))
    Dedup.top1PerKey(unioned, Seq("etiqueta"), Seq(
      col("venda_desconto").desc_nulls_last,
      col("venda").desc_nulls_last,
      col("periodo").desc_nulls_last,
      col("filial").asc_nulls_first,
      col("cod_prod").asc_nulls_first,
      col("perc_dsc_cupom").asc_nulls_first))
  }

  /** C8 view_autorizador (`utils_superdesconto.py:102-114`): keep finalized
    * ('F') authorizations, canonicalize the barcode, default NULL discount
    * percentage to 0, one row per barcode (deterministic: lowest id). */
  def autorizador(autorizacao: DataFrame): DataFrame = {
    val prepared = autorizacao
      .select("ulch_sq_autorizacao", "ulch_preco_venda", "ulch_percentual_desconto",
        "ulch_fl_tipo_produto", "ulch_cd_barras", "ulch_fl_situacao", "ulch_sq_produto")
      .filter(col("ulch_fl_situacao") === "F")
      .withColumn("ulch_cd_barras", Normalize.etiqueta("ulch_cd_barras"))
      .withColumn("ulch_percentual_desconto", coalesce(col("ulch_percentual_desconto"), lit(0)))
    Dedup.top1PerKey(prepared, Seq("ulch_cd_barras"), Seq(col("ulch_sq_autorizacao").asc_nulls_first))
  }

  /** C9 view_produto (`utils_superdesconto.py:117-125`): normalize the lote,
    * one row per product id (deterministic: latest xxxx_dh_cad, then lote).
    * The reference's select lists `ulch_sq_produto` twice; the duplicate
    * column is dropped here (it would be unwritable and unjoinable). */
  def produto(produtoRaw: DataFrame): DataFrame = {
    val prepared = produtoRaw
      .select("ulch_sq_produto", "xxxx_dh_cad", "ulch_lote", "ulch_dt_vencimento")
      .withColumn("ulch_lote", upper(trim(col("ulch_lote"))))
    Dedup.top1PerKey(prepared, Seq("ulch_sq_produto"), Seq(
      col("xxxx_dh_cad").desc_nulls_last,
      col("ulch_lote").desc_nulls_last,
      col("ulch_dt_vencimento").desc_nulls_last))
  }

  /** C14 (pipeline-A slice of `main_executor`, `etl_job.py:35-56` + the
    * Decimal→Double / TimestampNTZ cast of `:68`): broadcast the coupon side
    * into the authorization join, then attach product data and project the
    * 15 result columns. */
  def flagship(cupomDf: DataFrame, autorizadorDf: DataFrame, produtoDf: DataFrame): DataFrame = {
    val cup = cupomDf
    val aut = autorizadorDf
    val pro = produtoDf
    val joined = broadcast(cup)
      .join(aut, cup("etiqueta") === aut("ulch_cd_barras"))
      .join(pro, aut("ulch_sq_produto") === pro("ulch_sq_produto"))
      .select(
        aut("ulch_sq_autorizacao"),
        pro("ulch_sq_produto"),
        pro("xxxx_dh_cad"),
        cup("periodo").as("dt_venda"),
        cup("filial"),
        cup("cod_prod"),
        pro("ulch_lote"),
        pro("ulch_dt_vencimento"),
        cup("etiqueta"),
        cup("perc_dsc_cupom"),
        cup("venda"),
        cup("venda_desconto"),
        aut("ulch_preco_venda").as("ulch_preco_venda"),
        aut("ulch_percentual_desconto"),
        aut("ulch_fl_tipo_produto"))
    SchemaCasts.castDecimalDouble(joined, "ulch_dt_vencimento")
  }

  /** Typed row of [[flagship]]'s 15-column output — the `Dataset[T]`
    * surface for consumers that want compile-time column safety (the
    * DataFrame form stays canonical: the sink and oracle paths are
    * schema-dynamic). Key/measure fields are non-nullable by construction
    * (join keys and arithmetic over non-null fixture columns). */
  final case class FlagshipRow(
    ulch_sq_autorizacao: Long,
    ulch_sq_produto: Long,
    xxxx_dh_cad: java.time.LocalDateTime,
    dt_venda: java.time.LocalDateTime,
    filial: Int,
    cod_prod: Long,
    ulch_lote: String,
    ulch_dt_vencimento: java.time.LocalDateTime,
    etiqueta: String,
    perc_dsc_cupom: Double,
    venda: Double,
    venda_desconto: Double,
    ulch_preco_venda: Double,
    ulch_percentual_desconto: Double,
    ulch_fl_tipo_produto: String)

  /** [[flagship]] as a typed Dataset. */
  def flagshipTyped(cupomDf: DataFrame, autorizadorDf: DataFrame,
                    produtoDf: DataFrame): Dataset[FlagshipRow] =
    flagship(cupomDf, autorizadorDf, produtoDf)
      .as[FlagshipRow](org.apache.spark.sql.Encoders.product[FlagshipRow])
}
