package graft.registry

import graft.core.Normalize
import graft.fixtures.RefFixtures
import graft.views.Ressarcimento
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Harness registration for Pipeline B ("ressarcimento",
  * reference `utils_ressarcimento.py`), year-parameterized like the
  * reference's driver loop (`etl_job.py:95`); the registered queries pin
  * `Year` (the testdata's orders span 1995-2001).
  *
  * DuckDB dialect notes (verified against DuckDB 1.0):
  *  - `date_trunc('month', ts)` returns DATE in DuckDB but TIMESTAMP in
  *    Spark — every oracle site casts back to TIMESTAMP;
  *  - `regexp_replace` is first-match-only by default — all sites pass 'g';
  *  - double `/ 0` yields NULL in both engines (Spark non-ANSI pinned in
  *    GraftSession), so the pro-rata expression translates verbatim;
  *  - summed measures are integer-valued by fixture construction, so float
  *    sums are exact and order-independent in both engines.
  */
object PipelineB {
  import RefFixtures.withClause

  val Year = 1997

  // ---- Spark side --------------------------------------------------------

  private[graft] def src(s: SparkSession, dir: String): Ressarcimento.Sources =
    Ressarcimento.Sources(
      forn = RefFixtures.fornecedor.df(s, dir),
      aporteCab = RefFixtures.aporteCab.df(s, dir),
      aporteDet = RefFixtures.aporteDet.df(s, dir),
      dimProduto = RefFixtures.dimProduto.df(s, dir),
      coletaCab = RefFixtures.coletaCab.df(s, dir),
      coletaDet = RefFixtures.coletaDet.df(s, dir),
      volumeTipo = RefFixtures.volumeTipo.df(s, dir),
      negociacao = RefFixtures.negociacao.df(s, dir),
      debito = RefFixtures.debito.df(s, dir),
      pagamento = RefFixtures.pagamento.df(s, dir),
      dimSap = RefFixtures.dimSap.df(s, dir))

  def fornecedoresDf(s: SparkSession, dir: String): DataFrame = {
    val x = src(s, dir)
    Ressarcimento.fornecedores(x.forn, x.aporteCab, x.aporteDet, x.dimProduto)
  }

  def coletasDf(s: SparkSession, dir: String): DataFrame = {
    val x = src(s, dir)
    Ressarcimento.coletas(x.coletaCab, x.coletaDet, x.volumeTipo, Seq(Year))
  }

  def creditoDf(s: SparkSession, dir: String): DataFrame = {
    val x = src(s, dir)
    Ressarcimento.credito(x.negociacao, x.debito, x.pagamento, x.dimSap, x.forn, Seq(Year))
  }

  def ressarcimentoDf(s: SparkSession, dir: String): DataFrame =
    Ressarcimento.mainView(src(s, dir), Seq(Year))

  // ---- DuckDB oracle CTEs ------------------------------------------------

  /** strip_normalize in the DuckDB dialect. */
  private def duckStrip(e: String): String =
    s"upper(regexp_replace(translate(trim($e), '${Normalize.AccentFrom}', '${Normalize.AccentTo}'), ' +', ' ', 'g'))"

  /** cnpj_normalize in the DuckDB dialect. */
  private def duckCnpj(e: String): String =
    s"lpad(regexp_replace(trim($e), '[^0-9a-zA-Z]', '', 'g'), 15, '0')"

  private val fornComercialCte: String =
    s"""forn_comercial_v AS (
       |SELECT cod_forn, forn_comercial FROM (
       |  SELECT d.*, row_number() OVER (PARTITION BY cod_forn ORDER BY forn_comercial ASC NULLS LAST) AS rn
       |  FROM (SELECT codigo_fornecedor_principal_deposito AS cod_forn, fornecedor_comercial AS forn_comercial FROM dim_produto WHERE codigo_fornecedor_principal_deposito > 0) d
       |) r WHERE rn = 1)""".stripMargin

  private val fornPaiCte: String =
    s"""forn_pai_v AS (
       |SELECT cod_forn, cod_forn_pai, ${duckStrip("forn_nm_fantasia")} AS forn_nm_pai, ${duckCnpj("forn_tn_cnpj")} AS cnpj_forn_pai
       |FROM (
       |  SELECT codigo_fornecedor AS cod_forn, codigo_fornecedor_principal AS cod_forn_pai FROM (
       |    SELECT j.*, row_number() OVER (PARTITION BY codigo_fornecedor ORDER BY data_hora_cadastro DESC NULLS LAST, codigo_fornecedor_principal ASC NULLS FIRST, id_grupo_fornecedores_aporte_cab ASC NULLS FIRST) AS rn
       |    FROM (SELECT cab.id_grupo_fornecedores_aporte_cab, cab.codigo_fornecedor_principal, cab.data_hora_cadastro, det.codigo_fornecedor
       |          FROM aporte_cab cab JOIN aporte_det det USING (id_grupo_fornecedores_aporte_cab)) j
       |  ) r WHERE rn = 1
       |) p JOIN fornecedor ON cod_forn_pai = forn_cd_fornecedor)""".stripMargin

  private val fornecedoresCte: String =
    s"""fornecedores_v AS (
       |SELECT b.cod_forn, b.forn_nm, b.cnpj_forn, b.cod_forn_pai, b.forn_nm_pai, b.cnpj_forn_pai,
       |       ${duckStrip("COALESCE(fc.forn_comercial, 'SEM FORNECEDOR PRINCIPAL')")} AS forn_comercial
       |FROM (
       |  SELECT f.forn_cd_fornecedor AS cod_forn,
       |         ${duckStrip("f.forn_nm_fantasia")} AS forn_nm,
       |         ${duckCnpj("f.forn_tn_cnpj")} AS cnpj_forn,
       |         COALESCE(p.cod_forn_pai, f.forn_cd_fornecedor) AS cod_forn_pai,
       |         COALESCE(p.forn_nm_pai, ${duckStrip("f.forn_nm_fantasia")}) AS forn_nm_pai,
       |         COALESCE(p.cnpj_forn_pai, ${duckCnpj("f.forn_tn_cnpj")}) AS cnpj_forn_pai
       |  FROM fornecedor f LEFT JOIN forn_pai_v p ON f.forn_cd_fornecedor = p.cod_forn
       |) b LEFT JOIN forn_comercial_v fc ON b.cod_forn = fc.cod_forn)""".stripMargin

  private val coletasCte: String =
    s"""coletas_v AS (
       |SELECT CAST(date_trunc('month', rcca_dh_cadastro) AS TIMESTAMP) AS periodo,
       |       CASE WHEN rcde_cd_deposito > 5 THEN 'EF' ELSE 'PM' END AS empresa,
       |       rcde_cd_fornecedor_entrada AS cod_forn,
       |       ${duckStrip("rtv_desc_descricao")} AS evento,
       |       rcde_cd_produto AS cod_prod,
       |       CAST(SUM(rcde_qt_produto * (rcde_vl_produto - COALESCE(rcde_vl_desconto, 0))) AS DOUBLE) AS perdas
       |FROM coleta_cab JOIN coleta_det USING (id_recuperavel_coleta_cab) JOIN volume_tipo USING (id_recuperavel_tipo_volume)
       |WHERE year(rcca_dh_cadastro) = $Year
       |GROUP BY 1, 2, 3, 4, 5)""".stripMargin

  private val fornSapCte: String =
    s"""forn_sap_v AS (
       |SELECT forn_cd_fornecedor, fsma_codigo_sap_master AS fornecedor_principal_sap FROM (
       |  SELECT f.*, row_number() OVER (PARTITION BY fsma_codigo_sap_master ORDER BY xxxx_dh_cad DESC NULLS LAST, forn_cd_fornecedor ASC NULLS FIRST) AS rn
       |  FROM fornecedor f WHERE fsma_codigo_sap_master IS NOT NULL
       |) r WHERE rn = 1)""".stripMargin

  private val creditoCte: String =
    s"""view_cred_v AS (
       |SELECT CAST(date_trunc('month', data_hora_cadastro) AS TIMESTAMP) AS periodo,
       |       CASE WHEN COALESCE(codigo_empresa, 1) > 1 THEN 'EF' ELSE 'PM' END AS empresa,
       |       codigo_fornecedor AS cod_forn,
       |       SUM(valor) AS credito
       |FROM negociacao JOIN debito USING (id_negociacao_aporte) JOIN pagamento USING (id_debito_fornecedor)
       |WHERE year(data_hora_cadastro) = $Year AND id_destino_negociacao IN (${Ressarcimento.IdDestino.mkString(", ")})
       |GROUP BY 1, 2, 3),
       |view_sap_v AS (
       |SELECT CAST(date_trunc('month', data_credito) AS TIMESTAMP) AS periodo,
       |       flag_empresa AS empresa,
       |       forn_cd_fornecedor AS cod_forn,
       |       SUM(montante) AS credito
       |FROM dim_sap JOIN forn_sap_v USING (fornecedor_principal_sap)
       |WHERE flag_credito = 1 AND year(data_credito) = $Year
       |GROUP BY 1, 2, 3),
       |credito_v AS (
       |SELECT periodo, empresa, cod_forn, CAST(SUM(credito) AS DOUBLE) AS credito
       |FROM (SELECT * FROM view_cred_v UNION ALL SELECT * FROM view_sap_v) u
       |GROUP BY 1, 2, 3)""".stripMargin

  private val ressarcimentoCtes: String =
    s"""dim_named_v AS (
       |SELECT codigo_produto,
       |       ${duckStrip("COALESCE(nome_produto, 'SEM NOME PROD')")} AS nome_produto,
       |       ${duckStrip("COALESCE(fornecedor_comercial, 'SEM FORNECEDOR PRINCIPAL')")} AS fornecedor_comercial
       |FROM dim_produto),
       |cols_view_v AS (
       |SELECT c.periodo, c.empresa, c.cod_forn, c.evento, c.cod_prod, c.perdas,
       |       d.nome_produto, f.forn_nm, f.cnpj_forn_pai, d.fornecedor_comercial AS forn_comercial,
       |       SUM(c.perdas) OVER (PARTITION BY f.cnpj_forn_pai) AS grupo_perda
       |FROM coletas_v c JOIN dim_named_v d ON c.cod_prod = d.codigo_produto JOIN fornecedores_v f ON c.cod_forn = f.cod_forn),
       |creds_view_v AS (
       |SELECT cr.periodo, cr.empresa, cr.cod_forn, f.forn_nm, f.cnpj_forn_pai, f.forn_comercial, SUM(cr.credito) AS credito
       |FROM credito_v cr JOIN fornecedores_v f ON cr.cod_forn = f.cod_forn
       |GROUP BY 1, 2, 3, 4, 5, 6),
       |creds_group_v AS (SELECT cnpj_forn_pai, SUM(credito) AS credito FROM creds_view_v GROUP BY 1),
       |rst_v AS (
       |SELECT cv.periodo, cv.empresa, cv.cod_forn, cv.evento, cv.cod_prod, cv.perdas, cv.nome_produto, cv.forn_nm, cv.cnpj_forn_pai, cv.forn_comercial,
       |       COALESCE((cv.perdas / ifnull(cv.grupo_perda, 0)) * cg.credito, cg.credito, 0) AS ressarcimento
       |FROM cols_view_v cv JOIN creds_group_v cg USING (cnpj_forn_pai)
       |UNION ALL
       |SELECT w.periodo, w.empresa, w.cod_forn, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR), w.forn_nm, w.cnpj_forn_pai, w.forn_comercial, w.credito
       |FROM creds_view_v w WHERE NOT EXISTS (SELECT 1 FROM cols_view_v cv WHERE cv.cnpj_forn_pai = w.cnpj_forn_pai)
       |UNION ALL
       |SELECT cv.periodo, cv.empresa, cv.cod_forn, cv.evento, cv.cod_prod, cv.perdas, cv.nome_produto, cv.forn_nm, cv.cnpj_forn_pai, cv.forn_comercial, CAST(NULL AS DOUBLE)
       |FROM cols_view_v cv WHERE NOT EXISTS (SELECT 1 FROM creds_group_v cg WHERE cg.cnpj_forn_pai = cv.cnpj_forn_pai))""".stripMargin

  // ---- Registration ------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b_fornecedores" -> (fornecedoresDf _),
    "b_coletas" -> (coletasDf _),
    "b_credito" -> (creditoDf _),
    "b_ressarcimento" -> (ressarcimentoDf _))

  def oracleSql: Map[String, String] = Map(
    "b_fornecedores" ->
      (withClause("fornecedor", "aporte_cab", "aporte_det", "dim_produto") +
        s",\n$fornComercialCte,\n$fornPaiCte,\n$fornecedoresCte\nSELECT * FROM fornecedores_v"),
    "b_coletas" ->
      (withClause("coleta_cab", "coleta_det", "volume_tipo") +
        s",\n$coletasCte\nSELECT * FROM coletas_v"),
    "b_credito" ->
      (withClause("fornecedor", "negociacao", "debito", "pagamento", "dim_sap") +
        s",\n$fornSapCte,\n$creditoCte\nSELECT * FROM credito_v"),
    "b_ressarcimento" ->
      (withClause("fornecedor", "aporte_cab", "aporte_det", "dim_produto",
        "coleta_cab", "coleta_det", "volume_tipo",
        "negociacao", "debito", "pagamento", "dim_sap") +
        s",\n$fornComercialCte,\n$fornPaiCte,\n$fornecedoresCte,\n$coletasCte,\n$fornSapCte,\n$creditoCte,\n$ressarcimentoCtes\n" +
        """SELECT periodo, empresa, cod_forn, evento, cod_prod, COALESCE(perdas, 0) AS perdas, nome_produto, forn_nm, cnpj_forn_pai, forn_comercial, COALESCE(ressarcimento, 0) AS ressarcimento
          |FROM rst_v""".stripMargin))
}
