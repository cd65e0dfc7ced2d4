package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generators. Every value is a pure function of
  * (seed, salt, row id), so the same seed gives the same inputs whatever
  * the partitioning or core count. */
object Gen {

  /** The 30-word vocabulary of the library's synthetic document corpus. */
  val Words: Array[String] = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big", "group",
    "hash", "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the",
    "agg", "key", "query", "a", "scan", "batch")

  /** SplitMix64 finalizer over (seed, salt, id). */
  def mix(seed: Long, salt: Long, id: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + id * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, salt: Long, id: Long) = new java.util.SplittableRandom(mix(seed, salt, id))

  /** A document of 10 to 100 words drawn uniformly from [[Words]]. */
  def words(seed: Long, id: Long): String = {
    val r = rng(seed, 1L, id)
    val n = 10 + r.nextInt(91)
    val b = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) b += ' '
      b ++= Words(r.nextInt(Words.length))
      i += 1
    }
    b.toString
  }

  /** SQL: uniform double in [0, 1) from (seed, salt, cols). */
  def u(seed: Long, salt: String, cols: String*): String =
    s"(pmod(xxhash64(${seed}L, '$salt', ${cols.mkString(", ")}), 16777216) / 16777216.0)"

  /** SQL: uniform BIGINT in [0, n). */
  def ui(seed: Long, salt: String, n: Long, cols: String*): String =
    s"cast(floor(${u(seed, salt, cols: _*)} * $n) as bigint)"

  /** SQL: a timestamp_ntz `days` (plus optional seconds) after `base`. */
  def ts(base: String, days: String, secs: String = "0"): String =
    s"TIMESTAMP_NTZ'$base 00:00:00' + make_interval(0, 0, 0, cast($days as int), 0, 0, cast($secs as int))"

  def pick(values: Seq[String], idx: String): String =
    s"element_at(array(${values.map(v => s"'$v'").mkString(", ")}), cast($idx as int) + 1)"

  // ---- the line items and parts the registry's join rows read ----

  def part(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(n).selectExpr("id as p_partkey",
      "concat(" + pick(Seq("large", "hot", "blue", "small", "red", "green"), ui(seed, "pn1", 6, "id")) +
        ", ' ', " + pick(Seq("ring", "bolt", "nut", "gear", "pipe"), ui(seed, "pn2", 5, "id")) + ") as p_name",
      s"concat('Brand#', cast(${ui(seed, "pbr", 25, "id")} as string)) as p_brand",
      pick(Seq("LARGE", "ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD"), ui(seed, "pty", 6, "id")) + " as p_type",
      s"cast(1 + ${ui(seed, "psz", 50, "id")} as int) as p_size",
      "900.0 + cast(id % 2000 as double) / 10.0 as p_retailprice")

  def lineitem(spark: SparkSession, seed: Long, n: Long, nOrders: Long, nParts: Long): DataFrame =
    spark.range(n).selectExpr(s"${ui(seed, "lord", nOrders, "id")} as l_orderkey",
      s"${ui(seed, "lpart", nParts, "id")} as l_partkey",
      s"${ui(seed, "lsupp", 1000, "id")} as l_suppkey",
      s"cast(1 + ${ui(seed, "lline", 7, "id")} as int) as l_linenumber",
      s"cast(1 + ${ui(seed, "lqty", 50, "id")} as double) as l_quantity",
      s"${ui(seed, "lext", 10000000, "id")} / 100.0 as l_extendedprice",
      s"${ui(seed, "ldisc", 11, "id")} / 100.0 as l_discount",
      s"${ui(seed, "ltax", 9, "id")} / 100.0 as l_tax",
      pick(Seq("A", "N", "R"), ui(seed, "lrf", 3, "id")) + " as l_returnflag",
      pick(Seq("O", "F"), ui(seed, "lls", 2, "id")) + " as l_linestatus",
      ts("1995-01-02", ui(seed, "lship", 2497, "id")) + " as l_shipdate")

  /** Documents shaped like the library's corpus fixture: 10-100 words,
    * 5% near-duplicates (an earlier document plus the word `dup`), five
    * languages, twenty sources. */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).map { id =>
      val r = rng(seed, 2L, id)
      val text =
        if (id > 0 && r.nextDouble() < 0.05) words(seed, id - 1 - r.nextInt(math.min(id, 500L).toInt)) + " dup"
        else words(seed, id)
      (id.longValue, text)
    }.toDF("doc_id", "text").selectExpr("doc_id", "text",
      s"case when ${u(seed, "lang", "doc_id")} < 0.41 then 'en' else " +
        pick(Seq("zh", "de", "fr", "es"), ui(seed, "lang2", 4, "doc_id")) + " end as lang",
      "concat('src', cast(doc_id % 20 as string)) as source",
      "cast(length(text) as bigint) as n_chars")
  }

  /** 64-dimensional float embeddings, each coordinate a centred sum of
    * three uniforms, with ten labels. */
  def embeddings(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    def h(s: String) = s"pmod(xxhash64(${seed}L, '$s', id, i), 16777216)"
    spark.range(n).selectExpr("id as vec_id",
      s"transform(sequence(0, 63), i -> cast(((${h("e1")} + ${h("e2")} + ${h("e3")}) / 16777216.0 - 1.5) * 0.2 as float)) as embedding",
      s"cast(${ui(seed, "elab", 10, "id")} as int) as label")
  }
}
