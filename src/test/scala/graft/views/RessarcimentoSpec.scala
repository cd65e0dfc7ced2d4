package graft.views

import graft.TestSpark
import graft.core.CacheScope
import graft.registry.PipelineB
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the ressarcimento view (C13) that the hash oracle
  * can't express: credit conservation under pro-rating and the 3-branch
  * outer-assembly partition.
  */
class RessarcimentoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("pro-rata conserves credit: per parent CNPJ with losses, sum(ressarcimento) == group credit") {
    val rst = PipelineB.ressarcimentoDf(spark, sfDir).cache()
    val credito = PipelineB.creditoDf(spark, sfDir)
    val forn = PipelineB.fornecedoresDf(spark, sfDir)
    val creditByCnpj = credito.join(forn, "cod_forn")
      .groupBy("cnpj_forn_pai").agg(sum("credito").as("cg"))
    // branch 1 rows (losses AND credits) per cnpj: ressarcimento sums to cg
    val got = rst.filter(col("perdas") =!= 0.0 && col("ressarcimento") =!= 0.0)
      .groupBy("cnpj_forn_pai").agg(sum("ressarcimento").as("rs"))
      .join(creditByCnpj, "cnpj_forn_pai")
      .select(abs(col("rs") - col("cg")).as("diff"))
      .agg(max("diff")).head().getDouble(0)
    assert(got < 1e-6, s"conservation violated by $got")
    rst.unpersist()
  }

  test("3-branch assembly partitions the keys: no row has both zero perdas and zero ressarcimento unless source had them") {
    val rst = PipelineB.ressarcimentoDf(spark, sfDir)
    // every row belongs to exactly one branch shape:
    //   losses+credit (perdas>0 fill, ressarcimento computed),
    //   credit-only (perdas=0 null-filled, evento null),
    //   losses-only (ressarcimento=0 null-filled)
    val bad = rst.filter(col("evento").isNull && col("perdas") =!= 0.0).count()
    assert(bad == 0L, "credit-only branch must carry null losses payload")
  }

  test("one plan over 1995-2001 equals the union of the one-year views, bit for bit") {
    // The raw fixture has rows in every year and no credit-only parent, so
    // those two cases are cut from it by dropping fact rows by year: 1999
    // loses all facts (an empty year) and 2000 keeps its credits but loses
    // its losses (each credited parent is credit-only that year while it
    // has losses in the other years).
    val x = PipelineB.src(spark, sfDir)
    def without(df: DataFrame, ts: String, ys: Int*) = df.filter(!year(col(ts)).isin(ys: _*))
    val s = x.copy(
      coletaCab = without(x.coletaCab, "rcca_dh_cadastro", 1999, 2000),
      pagamento = without(x.pagamento, "data_hora_cadastro", 1999),
      dimSap = without(x.dimSap, "data_credito", 1999))
    val years = 1995 to 2001
    // Doubles as raw bits, so "equal" means bit-identical.
    def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }).sortBy(_.toString)
    CacheScope.scoped {
      val all = Ressarcimento.mainView(s, years).cache()
      val perYear = years.map(y => y -> rows(Ressarcimento.mainView(s, Seq(y)))).toMap
      assert(rows(all) == years.flatMap(perYear).sortBy(_.toString))

      // The fixture carries each case the per-year grouping must get right.
      assert(perYear(1999).isEmpty, "an empty year")
      val byYear = all.withColumn("ano", year(col("periodo")))
      val creditOnly = byYear.filter(col("cod_prod").isNull)
      assert(creditOnly.filter(col("ressarcimento") =!= 0.0).count() > 0, "a credit-only parent")
      val lossYears = byYear.filter(col("cod_prod").isNotNull)
        .groupBy("cnpj_forn_pai").agg(countDistinct("ano").as("n"))
      assert(lossYears.filter(col("n") >= 2).count() > 0, "a parent with rows in two years")
      assert(creditOnly.join(lossYears, "cnpj_forn_pai").count() > 0,
        "a parent credit-only in one year with losses in another")
      all.unpersist()
    }
  }
}
