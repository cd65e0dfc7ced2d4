package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Generator for SCALE REHEARSALS
  * (`runMain graft.tools.GenScale [out] [replicas]`): an N× fixture set
  * derived from sf0.1 as key-shifted replicas, written under tmp/sf1 by
  * default (the real testdata tree is read-only for this repo). Feeds
  * the sf0.1-vs-sf1(-vs-sf10) scaling-exponent tables in SCALING.md —
  * re-run it whenever a new operator's scale behavior needs an
  * empirical check instead of a plan audit. The default 10-replica
  * output is byte-stable across the r8 extension to 100 replicas: the
  * extra decorrelation stages below are identity transforms for r < 26
  * (text) and r < 64 (embeddings).
  *
  * Replicas must not be byte-copies or every dedup/ANN operator would see
  * a corpus where EVERYTHING has 10 identical twins — candidate
  * structures (minhash bands, LSH buckets, IVF cells) would degenerate
  * and the measured scaling exponent would be an artifact. Decorrelation,
  * deterministically per replica r:
  *   - every FK/PK family shifts by r*1e8 (referential integrity holds
  *     within a replica, never across);
  *   - documents text is Caesar-shifted by r (token structure, lengths,
  *     and within-replica duplicate structure preserved exactly; zero
  *     shared shingles across replicas);
  *   - embeddings rotate circularly by r components (norms and
  *     within-replica geometry exact; cross-replica cosine decorrelated).
  * nation/region stay as-is (dimension lookups, like a real 10× corpus).
  */
object GenScale {
  // Per-key-family replica offsets, sized to clear each family's sf0.1 key
  // range — NOT one giant constant: several fixture definitions turn keys
  // into temporal offsets (e.g. fornecedor's `TIMESTAMP '2023-01-01' +
  // s_suppkey DAYS`), so a 1e8-shifted suppkey becomes ~9e8 days and the
  // microsecond timestamp math overflows long. Keys only need to be
  // disjoint across replicas, so each family shifts by roughly 10× its
  // own max key instead.
  val OrderOff = 100000000L // o_orderkey ≈ 6e5 max; *2 in debito stays < 2e9
  val CustOff  = 1000000L   // c_custkey ≈ 1.5e4 max
  val PartOff  = 1000000L   // p_partkey ≈ 2e4 max
  val SuppOff  = 10000L     // s_suppkey ≈ 1e3 max; as DAYS stays < 300 years
  val IdOff    = 100000000L // doc_id / vec_id / event_id / user_id: no temporal use

  /** Per-replica letter-substitution alphabet — the text decorrelation.
    * An AFFINE bijection i -> a*i + b (mod 26) (a cycling the 12 units of
    * Z26, b = r mod 26: 312 distinct maps; a = 1 for r < 26 so the first
    * sf1 set stayed byte-stable across the r8 extension), composed from
    * r9 with g^(r/312) where g is a fixed NON-affine scramble (qwerty
    * order) — 1248 distinct bijections, identity-compatible with every
    * replica the committed sf1/sf10 sets used. Distinctness of all 1248
    * strings is spec-pinned (an affine collision g^k = f2 ∘ f1⁻¹ would
    * surface there as a duplicate). */
  def alphabet(r: Int): String = {
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val coprimes = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    val a = coprimes((r / 26) % coprimes.length)
    val affine = (0 until 26).map(i => lower((a * i + r) % 26)).mkString
    val g = "qwertyuiopasdfghjklzxcvbnm"
    (0 until r / 312).foldLeft(affine)((s, _) => s.map(ch => g(ch - 'a')))
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local(32)
    spark.sparkContext.setLogLevel("WARN")
    val src = "/root/testdata/sf0.1"
    val out = args.headOption.getOrElse("/root/repo/tmp/sf1")
    val replicas = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    // Optional 3rd arg: comma-separated table subset (e.g.
    // "documents,embeddings" for the sf100 dedup/ANN spot-check — the
    // other tables at 1000 replicas are ~15 GB of lineitem nobody reads).
    val only = args.drop(2).headOption.map(_.split(",").map(_.trim).toSet)
    def wanted(name: String) = only.forall(_.contains(name))
    // r9 extension (the r8 guard sat at 128): text alphabets now compose a
    // fixed non-affine scramble g every 312 replicas and the sign-flip
    // mask is a Walsh row per (r div 64) — 1248 / 4096 distinct transforms
    // respectively, both identity-compatible with every replica the sf1
    // and sf10 fixture sets already used (spec-pinned), so those stay
    // byte-stable. Fail loudly past the SMALLER family, not silently
    // repeat: a repeated transform gives some replica a byte-identical
    // twin — the degenerate candidate structure decorrelation prevents.
    require(replicas <= 1248,
      s"alphabet decorrelation repeats past 1248 replicas (got $replicas); extend the permutation family before generating larger sets")
    val lower = "abcdefghijklmnopqrstuvwxyz"
    def caesar(c: org.apache.spark.sql.Column, r: Int) = {
      translate(translate(c, lower, alphabet(r)),
        lower.toUpperCase, alphabet(r).toUpperCase)
    }
    def bump(df: DataFrame, cols: Map[String, Long], r: Int): DataFrame =
      cols.foldLeft(df) { case (d, (c, off)) => d.withColumn(c, col(c) + lit(r * off)) }
    def gen(name: String)(tx: (DataFrame, Int) => DataFrame): Unit = if (wanted(name)) {
      val base = spark.read.parquet(s"$src/$name.parquet")
      // Chunked write: one 1000-branch union is a needlessly giant plan;
      // 50-replica unions appended in sequence keep planning/codegen flat
      // while producing the same rows (append order is irrelevant to
      // every consumer — the fixtures are read as unordered tables).
      (0 until replicas).grouped(50).zipWithIndex.foreach { case (chunk, ci) =>
        val mode = if (ci == 0) "overwrite" else "append"
        chunk.map(r => tx(base, r)).reduce(_ unionByName _)
          .write.mode(mode).parquet(s"$out/$name.parquet")
      }
      println(s"[gen] $name done")
    }
    gen("customer")((d, r) => bump(d, Map("c_custkey" -> CustOff), r))
    gen("orders")((d, r) => bump(d, Map("o_orderkey" -> OrderOff, "o_custkey" -> CustOff), r))
    gen("lineitem")((d, r) => bump(d,
      Map("l_orderkey" -> OrderOff, "l_partkey" -> PartOff, "l_suppkey" -> SuppOff), r))
    gen("part")((d, r) => bump(d, Map("p_partkey" -> PartOff), r))
    gen("supplier")((d, r) => bump(d, Map("s_suppkey" -> SuppOff), r))
    // Key shifts alone left every user an IDENTICAL behavioral clone in
    // every other replica (same (event_type, value) stream) — fine for the
    // windowed/sessionized rows, but the r9 behavioral-dedup operator
    // (x_seqsim) then correctly reports a clone mass that grows
    // quadratically in replicas: a fixture artifact, the same all-twins
    // degeneration the docstring forbids for text/embeddings. Decorrelate
    // CONTENT per replica with bijections that preserve within-replica
    // structure: rotate the event-type label by r (5-cycle) and transform
    // value AFFINELY — scale by (1 + r/1024) and shift by (r mod 971)/10.
    // The multiplicative term is the load-bearing part: x_seqsim's token
    // observes value only through floor(v·10) mod 100, so ANY constant
    // additive shift family exposes ≤ 5 (rotation) × 100 (digit-shift)
    // = 500 distinct streams and replicas ≥ 500 apart become token-clones
    // again (the first fix shipped shift-only and collided at Δr = 100);
    // a per-replica SCALE moves each value's token differently, so no two
    // replicas agree on a whole stream. Identity for r = 0; token-level
    // distinctness of all 1248 transforms is spec-pinned in
    // GenScaleAlphabetSpec (the observable, not the knob pair).
    gen("events")((d, r) => {
      val b = bump(d, Map("event_id" -> IdOff, "user_id" -> IdOff), r)
      if (r == 0) b
      else b
        .withColumn("event_type", expr(
          s"""element_at(array('view', 'click', 'purchase', 'signup', 'error'),
             | cast((coalesce(
             |   array_position(array('view', 'click', 'purchase', 'signup', 'error'), event_type) - 1,
             |   0) + $r) % 5 + 1 as int))""".stripMargin.replace("\n", " ")))
        .withColumn("value",
          col("value") * lit(1.0 + r / 1024.0) + lit((r % 971) / 10.0))
    })
    gen("documents")((d, r) =>
      bump(d, Map("doc_id" -> IdOff), r).withColumn("text", caesar(col("text"), r)))
    // Circular rotation decorrelates cross-replica cosine, but repeats
    // every 64 replicas (the fixture's dim count); past that, compose a
    // per-(r div 64) SIGN-FLIP mask — an orthogonal transform, so norms
    // and within-replica geometry stay exact while replicas 64 apart
    // (same rotation, different flips) land near-orthogonal. Identity
    // for r < 64, so pre-r8 sf1 output is unchanged.
    gen("embeddings")((d, r) => bump(d, Map("vec_id" -> IdOff), r).withColumn("embedding", {
      val rot = r % 64
      val rotated =
        if (rot == 0) col("embedding")
        else expr(s"concat(slice(embedding, ${rot + 1}, size(embedding) - $rot), slice(embedding, 1, $rot))")
      val flipGen = r / 64
      if (flipGen == 0) rotated
      // Walsh-row mask: flip position i iff popcount(flipGen & (i+1)) is
      // odd. 64 distinct orthogonal rows (flipGen < 64 at the 1248-replica
      // guard), and row 1 reduces to the r8 parity mask (flip even i), so
      // the committed sf10 set (flipGen ≤ 1) is byte-stable. Sign flips
      // are orthogonal transforms: norms and within-replica geometry stay
      // exact; replicas 64 apart differ by a Walsh row xor — half the
      // positions — so cross-replica cosines stay decorrelated.
      else transform(rotated, (x, i) =>
        when(bit_count(lit(flipGen).bitwiseAND(i + lit(1))) % 2 === 1, -x).otherwise(x))
    }))
    Seq("nation", "region").filter(wanted).foreach { n =>
      spark.read.parquet(s"$src/$n.parquet").write.mode("overwrite").parquet(s"$out/$n.parquet")
    }
    spark.stop()
  }
}
