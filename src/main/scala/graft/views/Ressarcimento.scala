package graft.views

import graft.core.{CacheScope, Dedup, Normalize, SchemaCasts}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Pipeline B — "ressarcimento" (reference `utils_ressarcimento.py`):
  * pro-rate supplier credits over product losses by the *parent* supplier's
  * CNPJ, per month/company/supplier/event/product, within each year.
  *
  * Every view takes its sources as DataFrames (the reference hard-codes
  * `.env` paths) so tests/fixtures/production bind freely. The year-scoped
  * views take a SET of `years` where the reference runs one job per year
  * (`etl_job.py:95`): every per-year quantity is grouped by `ano =
  * year(periodo)`, so one plan computes all due years and each year's rows
  * equal that year's own one-year run.
  *
  * Scale design notes:
  *  - keep-one-per-key sites are deterministic window argmaxes
  *    ([[Dedup.top1PerKey]]) — the reference's `orderBy().dropDuplicates()`
  *    is order-nondeterministic under multi-partition shuffles;
  *  - the year filters keep the reference's `year(ts) = y` semantics (as
  *    `year(ts) IN years`) but add a half-open range predicate over
  *    [min, max + 1) so the parquet scan can prune row groups on min/max
  *    stats (`year(ts)` alone defeats pushdown);
  *  - aggregations are partial+final hash aggregates on their group keys —
  *    one shuffle each; the small dims (supplier master, parent map) are
  *    broadcast-sized and AQE picks BHJ for them at runtime;
  *  - the 3-branch outer assembly reuses `colsView`/`credsView` subplans —
  *    Spark's ReuseExchange dedups the identical shuffles within the one
  *    physical plan, so each is computed once per job, not three times.
  */
object Ressarcimento {

  /** `year(c) IN years`, plus the half-open range [Jan 1 min, Jan 1 max+1)
    * as its pushdown-friendly companion (same rows; parquet row-group stats
    * can prune). No years selects nothing, folded away at plan time. */
  private def yearIn(c: Column, years: Seq[Int]): Column =
    if (years.isEmpty) lit(false)
    else year(c).isin(years: _*) &&
      c >= lit(s"${years.min}-01-01 00:00:00").cast("timestamp_ntz") &&
      c < lit(s"${years.max + 1}-01-01 00:00:00").cast("timestamp_ntz")

  /** C10 inner view: one commercial-supplier name per depot supplier code
    * (reference `utils_ressarcimento.py:32-50`; `dropDuplicates` made
    * deterministic: lowest name, NULLs last). */
  def fornComercial(dimProduto: DataFrame): DataFrame = {
    val renamed = dimProduto
      .select(
        col("codigo_fornecedor_principal_deposito").as("cod_forn"),
        col("fornecedor_comercial").as("forn_comercial"))
      .filter(col("cod_forn") > 0)
    Dedup.top1PerKey(renamed, Seq("cod_forn"), Seq(col("forn_comercial").asc_nulls_last))
  }

  /** C10 view_fornecedores (`utils_ressarcimento.py:21-97`): resolve each
    * supplier to its latest-registered parent group, normalize names/CNPJs,
    * fall back to the supplier itself when no parent exists, and attach the
    * commercial-supplier name. */
  def fornecedores(forn: DataFrame, aporteCab: DataFrame, aporteDet: DataFrame,
                   dimProduto: DataFrame): DataFrame = {
    // Latest parent per child (ref `:52-55` orderBy+dropDuplicates → argmax;
    // tie-breakers make it a total order).
    val joined = aporteCab.join(aporteDet, Seq("id_grupo_fornecedores_aporte_cab"))
    val latestParent = Dedup.top1PerKey(joined, Seq("codigo_fornecedor"), Seq(
      col("data_hora_cadastro").desc_nulls_last,
      col("codigo_fornecedor_principal").asc_nulls_first,
      col("id_grupo_fornecedores_aporte_cab").asc_nulls_first))

    // J4: SQL-string join condition, as in the reference (`:60`).
    val viewFornPai = latestParent
      .select(
        col("codigo_fornecedor").as("cod_forn"),
        col("codigo_fornecedor_principal").as("cod_forn_pai"))
      .join(forn, expr("cod_forn_pai = forn_cd_fornecedor"))
      .withColumns(Map(
        "forn_nm_pai" -> Normalize.stripNormalize("forn_nm_fantasia"),
        "cnpj_forn_pai" -> Normalize.cnpjNormalize("forn_tn_cnpj")))
      .select("cod_forn", "cod_forn_pai", "forn_nm_pai", "cnpj_forn_pai")

    forn
      .join(viewFornPai, forn("forn_cd_fornecedor") === viewFornPai("cod_forn"), "left")
      .withColumns(Map(
        "forn_nm" -> Normalize.stripNormalize("forn_nm_fantasia"),
        "cnpj_forn" -> Normalize.cnpjNormalize("forn_tn_cnpj")))
      .select(
        col("forn_cd_fornecedor").as("cod_forn"),
        col("forn_nm"),
        col("cnpj_forn"),
        coalesce(col("cod_forn_pai"), col("forn_cd_fornecedor")).as("cod_forn_pai"),
        coalesce(col("forn_nm_pai"), col("forn_nm")).as("forn_nm_pai"),
        coalesce(col("cnpj_forn_pai"), col("cnpj_forn")).as("cnpj_forn_pai"))
      .join(fornComercial(dimProduto), Seq("cod_forn"), "left")
      .withColumn("forn_comercial",
        Normalize.stripNormalize(coalesce(col("forn_comercial"), lit("SEM FORNECEDOR PRINCIPAL"))))
  }

  /** C11 view_coletas (`utils_ressarcimento.py:100-126`): losses of the
    * given years per month/company/supplier/event/product. Group keys are
    * computed expressions (A1). */
  def coletas(cab: DataFrame, det: DataFrame, vol: DataFrame, years: Seq[Int]): DataFrame = {
    val custoProd = col("rcde_vl_produto") - coalesce(col("rcde_vl_desconto"), lit(0))
    val totais = col("rcde_qt_produto") * custoProd
    val empresa = when(col("rcde_cd_deposito") > 5, "EF").otherwise("PM")
    cab
      .where(yearIn(col("rcca_dh_cadastro"), years))
      .join(det, Seq("id_recuperavel_coleta_cab"))
      .join(vol, Seq("id_recuperavel_tipo_volume"))
      .groupBy(
        date_trunc("month", col("rcca_dh_cadastro")).as("periodo"),
        empresa.as("empresa"),
        col("rcde_cd_fornecedor_entrada").as("cod_forn"),
        Normalize.stripNormalize("rtv_desc_descricao").as("evento"),
        col("rcde_cd_produto").as("cod_prod"))
      .agg(sum(totais).cast(DoubleType).as("perdas"))
  }

  /** C12 inner view: depot supplier per SAP master code (latest; ref
    * `:142-151`). */
  def fornSap(forn: DataFrame): DataFrame =
    Dedup.top1PerKey(
      forn.where(col("fsma_codigo_sap_master").isNotNull),
      Seq("fsma_codigo_sap_master"),
      Seq(col("xxxx_dh_cad").desc_nulls_last, col("forn_cd_fornecedor").asc_nulls_first))
      .select(
        col("forn_cd_fornecedor"),
        col("fsma_codigo_sap_master").as("fornecedor_principal_sap"))

  /** Negotiation-destination ids that count as credit (ref `:135`). */
  val IdDestino: Seq[Int] = Seq(127, 219, 44, 7, 112, 106, 282)

  /** C12 view_credito (`utils_ressarcimento.py:129-184`): credits from
    * negotiations (A2) ∪ SAP (A3), re-aggregated (A4/O2). */
  def credito(neg: DataFrame, deb: DataFrame, pag: DataFrame, sap: DataFrame,
              forn: DataFrame, years: Seq[Int]): DataFrame = {
    val viewCred = neg
      .join(deb, Seq("id_negociacao_aporte"))
      .join(pag, Seq("id_debito_fornecedor"))
      .filter(yearIn(col("data_hora_cadastro"), years))
      .filter(col("id_destino_negociacao").isin(IdDestino: _*))
      .groupBy(
        date_trunc("month", col("data_hora_cadastro")).as("periodo"),
        when(coalesce(col("codigo_empresa"), lit(1)) > 1, "EF").otherwise("PM").as("empresa"),
        col("codigo_fornecedor").as("cod_forn"))
      .agg(sum(col("valor")).as("credito"))

    val viewSap = sap
      .filter(col("flag_credito") === 1)
      .filter(yearIn(col("data_credito"), years))
      .join(fornSap(forn), Seq("fornecedor_principal_sap"))
      .groupBy(
        date_trunc("month", col("data_credito")).as("periodo"),
        col("flag_empresa").as("empresa"),
        col("forn_cd_fornecedor").as("cod_forn"))
      .agg(sum(col("montante")).as("credito"))

    viewCred.union(viewSap)
      .groupBy("periodo", "empresa", "cod_forn")
      .agg(sum("credito").cast(DoubleType).as("credito"))
  }

  /** C13 dim slice: declared 3 columns, NULL-defaulted + normalized names
    * (ref `:194-213`). */
  def dimNamed(dimProduto: DataFrame): DataFrame = {
    def strip(name: String, default: String): Column =
      Normalize.stripNormalize(coalesce(col(name), lit(default)))
    dimProduto
      .select("codigo_produto", "nome_produto", "fornecedor_comercial")
      .withColumn("nome_produto", strip("nome_produto", "SEM NOME PROD"))
      .withColumn("fornecedor_comercial", strip("fornecedor_comercial", "SEM FORNECEDOR PRINCIPAL"))
  }

  /** All Pipeline B sources, so C13 can compose C10-C12 without a 10-arg
    * parameter list. */
  final case class Sources(
    forn: DataFrame, aporteCab: DataFrame, aporteDet: DataFrame, dimProduto: DataFrame,
    coletaCab: DataFrame, coletaDet: DataFrame, volumeTipo: DataFrame,
    negociacao: DataFrame, debito: DataFrame, pagamento: DataFrame, dimSap: DataFrame)

  /** C13 main_view_ressarcimento (`utils_ressarcimento.py:187-278`): losses ×
    * product dim × supplier master, per-parent-CNPJ loss total (W2), pro-rata
    * credit split (E13: `/0 → NULL` feeds the coalesce fallback — requires
    * non-ANSI mode, pinned in [[graft.core.GraftSession]]), then the
    * reference's hand-rolled full outer: inner ⊎ anti ⊎ anti on
    * `cnpj_forn_pai` (J6/O3), and a final null-fill of every float column
    * (P8).
    *
    * All `years` in one plan: the reference's totals and outer assembly are
    * per year (one job per year), so here they group and join on (`ano`,
    * `cnpj_forn_pai`) with `ano = year(periodo)`. A year's rows are exactly
    * what `mainView(s, Seq(year))` returns; the output carries no `ano`.
    *
    * Two deliberate physical deviations from the reference's logical shape,
    * both value-identical (oracle-checked) and both load-bearing at 100 TB:
    *
    *  1. **W2 as aggregate+broadcast, not a window.** The reference computes
    *     `sum(perdas) over (partition by cnpj_forn_pai)`. A window partitions
    *     ALL loss rows by parent CNPJ — a low-cardinality, skew-prone key
    *     (one task per corporate group; the biggest group's rows land on one
    *     executor). Instead: groupBy(cnpj).sum — partial aggregation combines
    *     map-side, so skew never concentrates rows — then broadcast the tiny
    *     per-parent totals (one row per corporate group) back onto the loss
    *     rows. No sort, no skewed exchange, same values.
    *  2. **Branches 1+3 as ONE left join.** inner-join ⊎ left-anti on the
    *     same key equals a left outer join; the branch-3 rows are exactly the
    *     NULL-extended ones, and the pro-rata expression degrades to the same
    *     values the anti branch + final null-fill produced (NULL credito →
    *     coalesce(NULL, NULL, 0) = 0 = filled NULL). One pass over the loss
    *     rows instead of two, one fewer shuffle-sized join. Branch 2 (credits
    *     with no losses) stays an explicit anti join — against the broadcast
    *     per-parent loss keys, so the credit rows never shuffle either.
    *
    * The diamond-shaped intermediates (`fornecedores`, the loss rows, the
    * credit view) are persisted through [[CacheScope.persisted]] — the
    * assembly consumes each 2-3 times and Catalyst has no cross-join
    * common-subplan reuse; an enclosing [[CacheScope.scoped]] frees them. */
  def mainView(s: Sources, years: Seq[Int]): DataFrame = {
    val dim = dimNamed(s.dimProduto)
    val fornV = CacheScope.persisted(fornecedores(s.forn, s.aporteCab, s.aporteDet, s.dimProduto))
    val coleta = coletas(s.coletaCab, s.coletaDet, s.volumeTipo, years)
    val cred = credito(s.negociacao, s.debito, s.pagamento, s.dimSap, s.forn, years)
    val perParent = Seq("ano", "cnpj_forn_pai")

    // Loss rows enriched with dims — the reference's cols_view minus its
    // window column (see deviation 1 above).
    val colsBase = CacheScope.persisted(coleta.as("c")
      .join(dim.as("d"), col("c.cod_prod") === col("d.codigo_produto"))
      .join(fornV, Seq("cod_forn"))
      .selectExpr(
        "c.*",
        "d.nome_produto",
        "forn_nm",
        "cnpj_forn_pai",
        "d.fornecedor_comercial as forn_comercial")
      .withColumn("ano", year(col("periodo"))))

    // W2 rewrite: per-parent loss totals, broadcast back onto the loss rows.
    // Left join (not inner) preserves window-exact NULL semantics: a parent
    // whose every perdas is NULL gets grupo_perda NULL, never a dropped row.
    val grupoPerda = colsBase.groupBy(perParent.map(col): _*).agg(sum("perdas").as("grupo_perda"))
    val colsView = colsBase.join(broadcast(grupoPerda), perParent, "left")

    val credsView = CacheScope.persisted(cred
      .join(fornV, Seq("cod_forn"))
      .groupBy("periodo", "empresa", "cod_forn", "forn_nm", "cnpj_forn_pai", "forn_comercial")
      .agg(sum("credito").as("credito"))
      .withColumn("ano", year(col("periodo"))))

    val credsGroup = credsView.groupBy(perParent.map(col): _*).agg(sum("credito").as("credito"))

    val totalRessarcimento = coalesce(
      (col("perdas") / ifnull(col("grupo_perda"), lit(0))) * col("credito"),
      col("credito"),
      lit(0))

    // Branches 1+3 fused (deviation 2): left join against the broadcast
    // per-parent credit totals; matched rows pro-rate, unmatched get
    // coalesce's 0 terminal — bit-identical to anti-branch + null-fill.
    val lossBranches = colsView
      .join(broadcast(credsGroup), perParent, "left")
      .withColumn("ressarcimento", totalRessarcimento)

    // Branch 2: credits whose parent has no losses that year. The anti side
    // only needs the DISTINCT loss parent keys — grupoPerda already
    // materializes exactly those (one row per year and parent), so broadcast
    // it rather than the per-loss-row key column, whose size grows with the
    // fact table.
    val creditOnly = credsView
      .join(broadcast(grupoPerda.select(perParent.map(col): _*)), perParent, "left_anti")
      .withColumn("ressarcimento", col("credito"))

    val rstView = lossBranches
      .unionByName(creditOnly, allowMissingColumns = true)
      .drop("ano", "credito", "grupo_perda")

    SchemaCasts.fillFloatNulls(rstView)
  }
}
