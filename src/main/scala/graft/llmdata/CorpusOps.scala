package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators that sit above the per-document primitives:
  * deterministic sampling, benchmark decontamination, dedup-cluster
  * assignment, and the composed end-to-end cleaning pipeline.
  *
  * Everything here follows the same two rules as the rest of the llmdata
  * package: (1) no operation whose cost is quadratic in the corpus —
  * candidate generation is always a bucket join; (2) every random-looking
  * choice is a deterministic integer formula both engines (Spark + the
  * DuckDB oracle) can reproduce bit-for-bit — `rand()` and `sample` are
  * banned because a 100 TB pipeline must be re-runnable to the same output
  * (idempotent re-crawls, reproducible ablations, audit).
  *
  * Cache lifetime contract: operators persist diamond-shaped intermediates
  * (consumed 2-3× inside one returned plan) and hand the lazy result to
  * the caller — which therefore owns the release. Long-lived sessions must
  * free blocks between operator runs (as the Verify/Bench harness and the
  * year-loop orchestrator do); nothing here can unpersist before its
  * result is consumed. Interactive callers should wrap consume-and-done
  * usage in [[graft.core.CacheScope.scoped]], which releases every
  * intermediate the enclosed operators registered (all persists here route
  * through it).
  */
object CorpusOps {
  import TextPrimitives._

  // ---- Deterministic stratified sampling ---------------------------------

  /** LCG parameters for the sampling hash. `doc_id` is reduced mod a prime
    * first so the multiply never overflows Long (DuckDB raises on BIGINT
    * overflow; Spark would silently wrap — the reduction keeps both engines
    * in the exact-agreement range). */
  val SampleIdMod = 1000003L
  val SampleMulA = 1103515245L
  val SampleAddB = 12345L

  /** Per-mille sampling bucket in [0, 1000) as a SQL expression — identical
    * text works in Spark and DuckDB (pure BIGINT arithmetic). */
  def bucketSql(idCol: String): String =
    s"((($idCol % $SampleIdMod) * $SampleMulA + $SampleAddB) % ${P}) % 1000"

  /** Temperature-scaled sampling rates for [[stratifiedSample]] — the
    * standard multilingual/source rebalance: stratum i's mixing weight is
    * p_i^(1/T) / Σ p_j^(1/T) over the observed size shares p. T=1 keeps
    * natural proportions; T→∞ approaches uniform; T<1 sharpens toward the
    * head. The result is per-mille KEEP rates normalized so the stratum
    * needing the LEAST down-weighting keeps everything — for the usual
    * T>1 that is the smallest stratum (the head gets cut toward it);
    * for T<1 the head anchors instead. Sampling can only down-weight —
    * it cannot mint extra data for small strata; repeat-epoch upsampling
    * is a training-loop concern.
    *
    * Pure driver-side math over the (tiny) per-stratum counts — callers
    * get the counts from one `groupBy(stratum).count()` — so it is
    * exactly testable and engine-free. */
  def temperatureRates(countsByStratum: Map[String, Long], temperature: Double): Map[String, Int] = {
    require(temperature > 0.0, "temperature must be positive")
    require(countsByStratum.values.forall(_ >= 0))
    val total = countsByStratum.values.sum.toDouble
    if (total == 0) return countsByStratum.map { case (k, _) => k -> 1000 }
    // target share ∝ p^(1/T); keep rate_i = (target_i / p_i) scaled so
    // max rate = 1000 (the largest required down-weight anchors the rest)
    val weights = countsByStratum.map { case (k, n) =>
      k -> (if (n == 0) 0.0 else math.pow(n / total, 1.0 / temperature) / (n / total))
    }
    val maxW = weights.values.max
    weights.map { case (k, w) =>
      k -> math.max(if (countsByStratum(k) == 0) 0 else 1,
        math.round(w / maxW * 1000).toInt)
    }
  }

  /** In-plan temperature rebalance: [[temperatureRates]] composed with the
    * hash-gated sampler WITHOUT a driver action — the per-stratum counts,
    * shares, p^(1/T) weights, and per-mille rates are all computed inside
    * the plan (two windows over the tiny counts frame) and
    * broadcast-joined back. The `partitionBy(lit(0))` key is FOLDED AWAY
    * by Spark's optimizer (foldable partition expressions are
    * eliminated), so these windows genuinely run unpartitioned through
    * one task — accepted because their input is the per-stratum counts
    * frame, bounded by the stratum count, never by the corpus; the
    * `WindowExec: No Partition Defined` log line they emit is expected
    * and refers to exactly this bounded frame. Use this in pipelines; use
    * [[temperatureRates]] when the counts are already known (catalog
    * stats) or rates need auditing. */
  def temperatureSample(documents: DataFrame, stratum: String = "lang",
                        temperature: Double = 2.0): DataFrame = {
    require(temperature > 0.0, "temperature must be positive")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
    val rates = documents.groupBy(stratum).agg(count(lit(1)).as("__n"))
      .withColumn("__share", col("__n") / sum("__n").over(w))
      .withColumn("__w", pow(col("__share"), lit(1.0 / temperature)) / col("__share"))
      .withColumn("__rate",
        greatest(lit(1), round(col("__w") / max("__w").over(w) * 1000).cast("int")))
      .select(col(stratum), col("__rate"))
    documents
      .withColumn("bucket", expr(bucketSql("doc_id")))
      // null-safe join: a NULL stratum is a legitimate stratum (groupBy
      // kept its count); a plain equi-join would silently drop those rows
      .join(broadcast(rates.withColumnRenamed(stratum, "__s")),
        col(stratum) <=> col("__s"))
      .filter(col("bucket") < col("__rate"))
      .select(col("doc_id"), col(stratum), col("bucket"))
  }

  /** Deterministic stratified sample: keep a document iff its hash bucket
    * falls under its stratum's per-mille rate. The standard corpus-mixing
    * primitive (downsample the dominant language / source); hash-gated
    * rather than `rand()`-gated so membership is a pure function of
    * `doc_id` — stable across runs, executors, and retries, and the
    * complement (`bucket >= rate`) is exactly the held-out set.
    *
    * Scale shape: narrow projection + filter, no shuffle, fully pushed into
    * the scan's WholeStageCodegen span. */
  def stratifiedSample(documents: DataFrame, ratesPerMille: Map[String, Int],
                       defaultPerMille: Int = 1000, stratum: String = "lang"): DataFrame = {
    val rate = ratesPerMille.foldRight(lit(defaultPerMille): org.apache.spark.sql.Column) {
      case ((key, r), e) =>
        // a null MAP KEY addresses the NULL stratum — `=== null` is never
        // true, so without this branch a null-keyed rate (as
        // temperatureRates emits for a NULL-stratum corpus) would be
        // silently ignored and NULL rows would take the default
        val cond = if (key == null) col(stratum).isNull else col(stratum) === key
        when(cond, lit(r)).otherwise(e)
    }
    documents
      .withColumn("bucket", expr(bucketSql("doc_id")))
      .filter(col("bucket") < rate)
      .select(col("doc_id"), col(stratum), col("bucket"))
  }

  /** Quality-PROPORTIONAL sampling: keep each document with probability
    * equal to its quality score — the soft alternative to a hard
    * `score >= cutoff` filter (keeps a calibrated share of mid-quality
    * text instead of a cliff at the threshold). Deterministic like every
    * sampler here: the per-mille hash bucket plays the role of the random
    * draw, so membership is a pure function of doc_id and the score.
    * Single narrow pass (token derivation + score + filter), no shuffle. */
  def qualityGatedSample(documents: DataFrame): DataFrame =
    TextAnalysis.withQuality(documents.withColumn("__words", tokens(col("text"))))
      .withColumn("bucket", expr(bucketSql("doc_id")))
      .filter(col("bucket") < col("quality_score") * 1000)
      .select("doc_id", "quality_score", "bucket")

  /** Deterministic PPS (probability-proportional-to-size) sample: keep each
    * document with probability `weight / max(weight)` — the weighted
    * Bernoulli primitive behind size-aware corpus thinning (keep long
    * documents, thin boilerplate-length ones) and importance-weighted
    * ablations. The per-mille hash bucket is the "random" draw, as in every
    * sampler here, and the gate is the integer cross-multiply
    * `bucket * maxW < weight * 1000` — no division, no doubles, so
    * membership is an exact pure function of (doc_id, weight, maxW) in any
    * engine. Granularity is the bucket width: effective keep rate is
    * `ceil(1000 * w / maxW) / 1000`, and rows with `w >= maxW * 999/1000`
    * are always kept.
    *
    * Scale shape: one corpus-wide `max(weight)` — an all-partial aggregate
    * collapsing to a single row, broadcast back — then a stateless
    * projection + filter; no row-level shuffle at any size. */
  def ppsSample(documents: DataFrame, weightCol: String = "n_chars"): DataFrame = {
    val maxW = documents.agg(max(col(weightCol).cast("bigint")).as("__maxw"))
    documents
      .withColumn("bucket", expr(bucketSql("doc_id")).cast("bigint"))
      .crossJoin(broadcast(maxW))
      .filter(col("bucket") * col("__maxw") < col(weightCol).cast("bigint") * lit(1000L))
      .select(col("doc_id"), col("lang"), col(weightCol).cast("bigint").as("weight"),
        col("bucket"))
  }

  /** Deterministic TOKEN-budget mixing: cap each stratum (language/source)
    * at a token budget rather than a row rate — the unit training mixtures
    * are actually specified in. Two-phase so it scales:
    *
    *   1. aggregate token counts per (stratum, sampling bucket) — ONE
    *      corpus-wide shuffle onto ≤ 1000 rows per stratum;
    *   2. running-sum those tiny per-stratum frames to find each stratum's
    *      cutoff bucket, then keep documents whose bucket falls at or
    *      before it (broadcast semi-join).
    *
    * A per-document running sum would give exact budgets but serializes
    * each stratum through one partition — the global-cumsum trap. The
    * bucket granularity bounds the overshoot to one bucket ≈ 0.1% of the
    * stratum's tokens, and membership stays a pure function of doc_id
    * (same hash as [[stratifiedSample]]): re-runs, ablations and audits
    * see the same corpus. */
  def tokenBudgetSample(documents: DataFrame, budgets: Map[String, Long],
                        defaultBudget: Long = Long.MaxValue): DataFrame = {
    val budget = budgets.foldRight(lit(defaultBudget): org.apache.spark.sql.Column) {
      case ((lang, b), e) => when(col("lang") === lang, lit(b)).otherwise(e)
    }
    val docs = documents
      .withColumn("n_tokens", size(tokens(col("text"))).cast("bigint"))
      .withColumn("bucket", expr(bucketSql("doc_id")))
    val perBucket = docs.groupBy("lang", "bucket")
      .agg(sum("n_tokens").as("bucket_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("bucket")
    val cutoffs = perBucket
      .withColumn("cum_tokens", sum("bucket_tokens").over(w))
      .filter(col("cum_tokens") <= budget)
      .groupBy("lang").agg(max("bucket").as("cutoff"))
    docs
      .join(broadcast(cutoffs), Seq("lang"))
      .filter(col("bucket") <= col("cutoff"))
      .select("doc_id", "lang", "bucket", "n_tokens")
  }

  /** Deterministic global training-order shuffle: assign every document a
    * contiguous sequence number 1..N in pseudo-random order — the
    * every-epoch step that decorrelates training order from crawl/source
    * order. The permutation is a pure function of doc_id (the samplers'
    * LCG hash, ties by doc_id), so re-runs, resumed jobs, and the oracle
    * reproduce it exactly; `orderBy(rand())` is banned for the usual
    * reason.
    *
    * Scale shape — a global total order WITHOUT the single-partition
    * window trap (`row_number().over(Window.orderBy(...))` moves the
    * whole corpus through one task): RANGE-bucket the hash (bucket is a
    * monotone function of h, so (bucket, h, id) order IS (h, id) order),
    * count per bucket, cumsum the ≤`buckets` counts (tiny, same pattern
    * as [[tokenBudgetSample]]), broadcast the offsets back, and rank
    * within each bucket in parallel: seq = bucket offset + local rank.
    * One corpus shuffle on the bucket key, one ≤`buckets`-row cumsum. */
  /** Shared global-rank machinery (used by [[shuffleOrder]] and
    * [[scoreQuantiles]]): given a frame with a pre-computed range-bucket
    * column `__b` (MONOTONE in the order columns, so (bucket, order)
    * order IS the global order), produce per-row global rank `__rn` =
    * bucket offset + in-bucket rank — without a single-partition window
    * over the data. The offsets cumsum's `partitionBy(lit(0))` key is
    * FOLDED AWAY by Spark's optimizer (foldable partition expressions
    * are eliminated), so it genuinely runs as an unpartitioned window
    * through one task — accepted because its input is the per-bucket
    * counts frame: ≤ bucket-count rows, bounded by the knob, never by
    * the data. The `WindowExec: No Partition Defined` warning this emits
    * at plan time is expected and refers to this bounded counts frame,
    * not the corpus.
    *
    * Rows whose bucket is NULL (a NULL order key) would silently drop in
    * the bucket join AND shift every offset — callers must filter NULL
    * order keys before bucketing; [[shuffleOrder]]/[[scoreQuantiles]] do. */
  private def globalRank(withB: DataFrame, orderCols: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val counts = withB.groupBy("__b").agg(count(lit(1)).as("__n"))
    val wb = org.apache.spark.sql.expressions.Window.partitionBy(lit(0)).orderBy("__b")
    val offsets = counts
      .withColumn("__off", sum("__n").over(wb) - col("__n"))
      .select("__b", "__off")
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy("__b").orderBy(orderCols: _*)
    withB.join(broadcast(offsets), Seq("__b"))
      .withColumn("__rn", col("__off") + row_number().over(wr))
  }

  /** `epoch` varies the permutation deterministically — training epoch k
    * uses `shuffleOrder(docs, epoch = k)` for a fresh order that is still
    * a pure function of (doc_id, k). Epoch 0 is the registered/oracle
    * setting (the exact sampler LCG).
    *
    * The epoch must change the MULTIPLIER, not just the offset: an
    * additive constant mod P only rotates the epoch-0 order (same
    * neighbors, same batch compositions, shifted start — no
    * decorrelation). Each epoch therefore gets its own affine map
    * (a_e·x + b_e) mod P with a_e ∈ [1, P-1] derived from the epoch
    * (distinct multipliers = genuinely different residue permutations);
    * the mixing runs driver-side before any SQL, and the rank-correlation
    * spec pins that consecutive epochs share almost no adjacent pairs. */
  def shuffleOrder(documents: DataFrame, buckets: Int = 256, epoch: Long = 0L): DataFrame = {
    require(buckets > 0)
    val aE =
      if (epoch == 0L) SampleMulA
      else 1L + java.lang.Math.floorMod(SampleMulA * 31L + epoch * 2654435761L, P - 1)
    val bE =
      if (epoch == 0L) SampleAddB
      else java.lang.Math.floorMod(SampleAddB + epoch * 40503L, P)
    val withH = documents.select(col("doc_id"))
      // a NULL doc_id has no position in a permutation keyed on doc_id —
      // and left in, its NULL bucket would shift every offset while the
      // bucket join dropped the row (off-by-null seqs). Both engines
      // exclude it explicitly.
      .filter(col("doc_id").isNotNull)
      .withColumn("__h", expr(s"((doc_id % $SampleIdMod) * $aE + $bE) % $P"))
      // range bucketing: h < P ~ 1e9, so h * buckets stays far from Long
      // overflow and bucket is monotone in h
      .withColumn("__b", expr(s"CAST((__h * $buckets) DIV $P AS INT)"))
    globalRank(withH, Seq(col("__h"), col("doc_id")))
      .select(col("__rn").as("seq"), col("doc_id"))
  }

  /** Exact corpus score quantiles — (q, cutoff) where cutoff is the
    * quality score at global rank ceil(q·N) under (score, doc_id) order.
    * The standard way to pick data-driven quality thresholds ("keep the
    * top quartile") — EXACT, unlike `percentile_approx`, so the DuckDB
    * oracle matches to the byte and a chosen cutoff is reproducible in any
    * engine.
    *
    * Scale shape: the same machinery as [[shuffleOrder]] — range-bucket
    * the score (monotone, so bucket order IS score order), ≤`buckets`-row
    * offsets cumsum, per-bucket parallel rank. N is folded in-plan from
    * the bucket counts (no driver-side count action), and the ≤qs.size
    * target ranks are broadcast. One corpus shuffle, never a global sort
    * through one partition. */
  /** Per-(source, lang) corpus report: document and token counts plus the
    * mean quality score — the monitoring aggregate every curation
    * pipeline publishes per ingest batch. Means are exact integer
    * rationals (`div` on ppm-scaled scores; `round` before the cast so a
    * one-ulp-under double never truncates to n-1), so the report
    * hash-compares across engines. One pass: the quality signals derive
    * from a single tokenize, then one hash aggregate on the
    * low-cardinality (source, lang) key — map-side partials collapse the
    * corpus before the exchange, so the shuffle carries one row per
    * (partition, source, lang) at any corpus size. */
  def corpusReport(documents: DataFrame): DataFrame =
    TextAnalysis.withQuality(documents.withColumn("__words", tokens(col("text"))))
      .groupBy("source", "lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(expr("cast(round(quality_score * 1000000) as bigint)")).as("__q"))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        expr("n_tokens div n_docs").as("mean_tokens"),
        expr("__q div n_docs").as("quality_ppm_mean"))

  /** Cross-source shingle-overlap matrix: for every pair of sources, how
    * many distinct word k-shingles they share, plus exact containment and
    * Jaccard in integer ppm — the corpus-level diagnostic behind
    * "crawl B is 40% boilerplate from crawl A" decisions (which sources to
    * dedup against each other, which are near-copies, where decontamination
    * pressure will come from). Pairs are between SOURCES (a handful), not
    * documents, so the output is ≤ sources² rows.
    *
    * Scale shape, in order: (1) distinct (source, shingle) — one shuffle,
    * map-side distinct partials absorb within-source repetition; the frame
    * is persisted (it feeds both the per-source sizes and the pair counts
    * — the diamond rule); (2) per-shingle sorted source list — second
    * shuffle, state per shingle bounded by the source count; shingles in
    * ONE source (the overwhelming majority) are filtered before the pair
    * explode, so the pair stream carries only genuinely shared shingles;
    * (3) the i<j pair expansion is a per-row array transform (≤ sources²
    * structs) and the final agg runs on (src_a, src_b) keys — tiny. The
    * per-source size frame broadcasts into the final join. Nothing is
    * ever documents × documents or sources × corpus. */
  def sourceOverlap(documents: DataFrame, k: Int = 8): DataFrame = {
    graft.functions.VectorExprs.register(documents.sparkSession)
    val sets = documents
      .withColumn("__words", tokens(col("text")))
      .withColumn("__sh", expr(sparkShingles("__words", "text", k)))
      .select(col("source"), explode(sparkPolyHashArray("__sh")).as("shingle"))
      .distinct()
      .transform(graft.core.CacheScope.persisted)
    val sizes = sets.groupBy("source").agg(count(lit(1)).as("n"))
    val pairs = sets
      .groupBy("shingle")
      .agg(sort_array(collect_set(col("source"))).as("__srcs"))
      .filter(size(col("__srcs")) >= 2)
      .select(explode(expr(
        """flatten(transform(__srcs, (a, i) ->
          |  transform(slice(__srcs, i + 2, size(__srcs)), b -> struct(a, b))))"""
          .stripMargin.replace("\n", " "))).as("__p"))
      .select(col("__p.a").as("src_a"), col("__p.b").as("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(broadcast(sizes.withColumnsRenamed(Map("source" -> "src_a", "n" -> "n_a"))), "src_a")
      .join(broadcast(sizes.withColumnsRenamed(Map("source" -> "src_b", "n" -> "n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("shared"), col("n_a"), col("n_b"),
        expr("(shared * 1000000L) div least(n_a, n_b)").as("containment_ppm"),
        expr("(shared * 1000000L) div (n_a + n_b - shared)").as("jaccard_ppm"))
  }

  /** Sketch-estimated cross-source shingle overlap — [[sourceOverlap]]'s
    * answer at METADATA cost (Beyer et al., SIGMOD 2007, "On synopses for
    * approximate aggregation"; bottom-k set synopses: Cohen & Kaplan
    * 2007). Where the exact matrix co-shuffles every distinct
    * (source, shingle) pair, this ships one KMV sketch (the `kmvK`
    * smallest distinct shingle hashes) per source through the exchange —
    * map-side partial aggregation reduces each partition to ≤ kmvK longs
    * per source BEFORE the shuffle, so corpus size never crosses the wire.
    * Estimation per pair uses the standard bottom-k identities, all of
    * them exact set algebra on the sketches:
    *  - `K∪` (the union's bottom-k) = bottom-k of `skA ∪ skB` — an element
    *    among the k smallest of the union is among the k smallest of its
    *    own side;
    *  - for `v ∈ K∪`: `v ∈ A ⟺ v ∈ skA` (if A held k elements below v,
    *    those k would displace v from K∪) — so `n_both = |K∪ ∩ skA ∩ skB|`
    *    is an EXACT count of intersection members within the union's
    *    bottom-k, and `jaccard ≈ n_both / |K∪|`;
    *  - `|A∪B| ≈ (k−1)·P / h_k` ([[graft.functions.KmvDistinct]]'s
    *    estimator), and `|A∩B| ≈ jaccard · |A∪B|`.
    * Below kmvK distinct union hashes the sketch IS the union, every
    * number is exact, and the small-SF oracle row anchors the identical
    * math both engines run (KMV is a pure set function — deterministic,
    * hence hash-comparable). Relative error at the sketch ceiling is
    * ~1/√(k−1) (≈6% at the default 256), pinned against the exact matrix
    * by spec. The sketches are the same mergeable states
    * [[graft.sources.TableStats.analyzePartial]] stores: per-shard
    * sketches fold by `distinct ∪ → sort → take k`, so federated corpora
    * estimate cross-source overlap without ever co-shuffling — the form
    * that matters when "source" means two 100 TB crawls. */
  def kmvSourceOverlap(documents: DataFrame, k: Int = 8,
                       kmvK: Int = 256): DataFrame = {
    require(kmvK >= 2, "kmvK must be >= 2")
    val spark = documents.sparkSession
    graft.functions.VectorExprs.register(spark)
    spark.udf.register(s"graft_kmvsketch_$kmvK",
      udaf(new graft.functions.KmvSketch(kmvK)))
    // No distinct() before the agg: KMV absorbs duplicates by construction
    // (reduce is a set insert), so within-source repetition costs nothing.
    // Persisted (CacheScope): the sketch frame feeds BOTH sides of the
    // pair self-join below — without it the corpus-wide tokenize + sketch
    // pass would run twice (the diamond rule).
    val sk = graft.core.CacheScope.persisted(documents
      .withColumn("__words", tokens(col("text")))
      .withColumn("__sh", expr(sparkShingles("__words", "text", k)))
      .select(col("source"), explode(sparkPolyHashArray("__sh")).as("h"))
      .groupBy("source")
      .agg(expr(s"graft_kmvsketch_$kmvK(h)").as("sk")))
    // ≤ sources² pair rows; the per-pair math is array algebra on ≤ kmvK
    // longs. union_est stays unrounded until the output projection so the
    // derived inter_est sees the identical double in both engines.
    sk.as("a").join(sk.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.sk").as("ska"), col("b.sk").as("skb"))
      .withColumn("__u", expr(s"slice(array_sort(array_distinct(concat(ska, skb))), 1, $kmvK)"))
      .withColumn("k_union", expr("CAST(size(__u) AS BIGINT)"))
      .withColumn("n_both", expr(
        "CAST(size(filter(__u, v -> array_contains(ska, v) AND array_contains(skb, v))) AS BIGINT)"))
      .withColumn("__ue", expr(
        s"CASE WHEN k_union < $kmvK THEN CAST(k_union AS DOUBLE) " +
          s"ELSE ${kmvK - 1}.0 * ${TextPrimitives.P}.0 / element_at(__u, $kmvK) END"))
      .select(col("src_a"), col("src_b"), col("n_both"), col("k_union"),
        expr("(n_both * 1000000L) div k_union").as("jaccard_est_ppm"),
        round(col("__ue"), 6).as("union_est"),
        round(expr("CAST(n_both AS DOUBLE) * __ue / k_union"), 6).as("inter_est"))
  }

  /** Default quantile list — shared with the `c_quantiles` oracle SQL so
    * the operator default and the DuckDB twin can never drift. */
  val DefaultQuantiles: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9)

  /** The corpus scored for quality, shaped for the quantile machinery:
    * (doc_id, score), nulls dropped (standard SQL percentile semantics —
    * and a NULL score would corrupt the bucket offsets, see globalRank's
    * contract). Shared by [[scoreQuantiles]] and [[autoQualityFilter]] so
    * the gate's scoring can never drift from the cutoff's. */
  private def scoredOf(documents: DataFrame): DataFrame =
    TextAnalysis.withQuality(documents.withColumn("__words", tokens(col("text"))))
      .select(col("doc_id"), col("quality_score").as("score"))
      .filter(col("score").isNotNull && col("doc_id").isNotNull)

  def scoreQuantiles(documents: DataFrame,
                     qs: Seq[Double] = DefaultQuantiles,
                     buckets: Int = 256): DataFrame =
    scoreQuantilesOf(scoredOf(documents), qs, buckets)

  /** Quantiles over an already-scored (doc_id, score) frame — split out so
    * compositions that ALSO need the scores ([[autoQualityFilter]]) can
    * persist one scored frame and feed both sides. */
  private def scoreQuantilesOf(scored: DataFrame,
                               qs: Seq[Double],
                               buckets: Int): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      "quantiles must be in (0, 1]")
    // quality_score is in [0, 1]; clamp anyway so a future score > 1 can't
    // fall out of the bucket range. Persisted: consumed by both the bucket
    // counts and the rank join, and recomputing it means re-running the
    // whole tokenize-and-score pass.
    val withB = graft.core.CacheScope.persisted(
      scored.withColumn("__b",
        least(lit(buckets - 1), greatest(lit(0), floor(col("score") * buckets))).cast("int")))
    val total = withB.agg(count(lit(1)).as("__total"))
    val sp = scored.sparkSession
    import sp.implicits._
    val targets = broadcast(total.crossJoin(qs.toDF("q"))
      .select(col("q"), ceil(col("q") * col("__total")).cast("bigint").as("__target")))
    globalRank(withB, Seq(col("score"), col("doc_id")))
      .join(targets, col("__rn") === col("__target"))
      .select(col("q"), col("score").as("cutoff"))
  }

  /** Size-adaptive sample rate for [[sampledQuantiles]]: keep 1 row in
    * 2^(#{k ∈ [0,13] : n > target·2^k}) — the power-of-two rate that bounds
    * the expected sample to (target/2, target]. n ≤ target → rate 1 (the
    * sample IS the corpus, estimates exact — the small-SF anchor). Integer
    * comparison ladder, mirrored as the CASE sum in the `v_squant` DuckDB
    * twin. */
  def sampleRateFor(n: Long, target: Long = 4096L): Long =
    1L << (0 to 13).count(k => n > (target << k))

  /** Sampled quantile estimates with a built-in error audit — the sketch
    * answer to [[scoreQuantiles]]'s exact one. At 100 TB an exact quantile
    * costs a corpus shuffle; a deterministic hash-gated sample (keep rows
    * with `polyhash(doc_id) mod rate = 0`, rate from [[sampleRateFor]])
    * bounds the ranked set to ~`target` rows at ANY corpus size, with rank
    * error O(1/√target) — and unlike `TABLESAMPLE`/`rand()`, the gate is a
    * pure function of the data, so the estimate is reproducible by any
    * engine (the DuckDB twin hash-matches it).
    *
    * Shape: the gate is a per-row projection+filter (pushes into the scan;
    * no corpus shuffle) → the ≤ target-row sample ranks under one folded
    * `partitionBy(lit(0))` window — accepted for the same reason as
    * [[globalRank]]'s offsets cumsum: its input is bounded by the KNOB,
    * never by the data. The audit pass (exact rank of each estimate) is
    * one conditional aggregation over the corpus against the broadcast
    * ≤ qs.size estimate rows — a scan, not a shuffle, and the part a
    * production pipeline can skip once the error is characterized.
    *
    * Output per q: (q, est_cutoff, exact_rank, err_ppm) where exact_rank =
    * #{n_chars ≤ est_cutoff} over the FULL corpus and err_ppm =
    * |exact_rank/N − q| · 1e6 — the observed rank error, integer-exact.
    *
    * `nHint` (footer rows / table stats) picks the rate without a corpus
    * scan; 0 falls back to one count of the persisted base frame. */
  def sampledQuantiles(documents: DataFrame,
                       qs: Seq[Double] = DefaultQuantiles,
                       target: Long = 4096L, nHint: Long = 0L): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      "quantiles must be in (0, 1]")
    val sp = documents.sparkSession
    graft.functions.VectorExprs.register(sp)
    import sp.implicits._
    val base = documents.select(col("doc_id"), col("n_chars"))
      .filter(col("n_chars").isNotNull && col("doc_id").isNotNull)
      .transform(graft.core.CacheScope.persisted)
    val n = if (nHint > 0) nHint else base.count()
    val rate = sampleRateFor(n, target)
    val sample = base
      .withColumn("__h", expr("element_at(poly_hash_array(array(cast(doc_id as string))), 1)"))
      .filter(col("__h") % rate === 0)
      .transform(graft.core.CacheScope.persisted)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0)).orderBy(col("n_chars"), col("doc_id"))
    val ranked = sample.withColumn("__rn", row_number().over(w))
    val targets = broadcast(sample.agg(count(lit(1)).as("__s"))
      .crossJoin(qs.toDF("q"))
      .select(col("q"), ceil(col("q") * col("__s")).cast("bigint").as("__t")))
    val est = ranked.join(targets, col("__rn") === col("__t"))
      .select(col("q"), col("n_chars").as("est_cutoff"))
    base.crossJoin(broadcast(est))
      .groupBy("q", "est_cutoff")
      .agg(sum(when(col("n_chars") <= col("est_cutoff"), 1L).otherwise(0L)).as("exact_rank"))
      .select(col("q"), col("est_cutoff"), col("exact_rank"),
        abs(expr(s"exact_rank * 1000000L div ${n}L") -
          expr("cast(round(q * 1000000) as bigint)")).as("err_ppm"))
  }

  /** Priority sampling (Duffield, Lund & Thorup, JACM 2007): a FIXED-SIZE
    * weighted sample without replacement with an unbiased per-item weight
    * estimator — the bounded-output complement to [[ppsSample]] (whose
    * Bernoulli keep-rate makes output size data-dependent). Each item gets
    * priority `q_i = w_i / u_i` with `u_i` uniform in (0, 1]; the sample
    * is the top `n` priorities and `τ` = the (n+1)-th; the estimator
    * `ŵ_i = max(w_i, τ)` satisfies `E[ŵ_i·1{i∈S}] = w_i`, so the sample's
    * est_weight sum is an unbiased total-weight estimate. Heavy items are
    * deterministic members: `w_i ≥ τ ⟹ q_i ≥ w_i ≥ τ` — the tail that
    * matters always survives.
    *
    * House determinism: `u` is the same LCG the sampling family uses
    * (pure function of doc_id, no `rand()`), as `(lcg(id)+1)/P`, and the
    * priority is computed `w·P/(lcg+1)` — multiply and divide are single
    * correctly-rounded IEEE ops, so Spark and DuckDB produce the same
    * doubles with no sorted-fold machinery. Ties break by doc_id.
    *
    * Scale shape: one narrow projection, then a distributed top-(n+1)
    * (`orderBy.limit` plans as TakeOrderedAndProject: each partition
    * keeps n+1 rows, the driver merges — no global sort). Per-shard
    * top-(n+1) sets merge associatively (top of union = top of merged
    * tops), so federated corpora sample without co-shuffling. The
    * (n+1)-row tail is the only non-distributed step. */
  def prioritySample(documents: DataFrame, n: Int = 100,
                     weightCol: String = "n_chars"): DataFrame = {
    require(n > 0, s"sample size must be positive, got $n")
    val lcg = s"(((doc_id % $SampleIdMod) * $SampleMulA + $SampleAddB) % ${P})"
    val q = documents
      .select(col("doc_id"), col(weightCol).cast("bigint").as("weight"))
      .withColumn("__prio", expr(s"CAST(weight AS DOUBLE) * ${P} / ($lcg + 1)"))
    val top = q.orderBy(col("__prio").desc, col("doc_id")).limit(n + 1)
      .transform(graft.core.CacheScope.persisted)
    // The window runs over ≤ n+1 rows — single tiny partition by design.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0)).orderBy(col("__prio").desc, col("doc_id"))
    val ranked = top.withColumn("__rn", row_number().over(w))
    val tau = ranked.filter(col("__rn") === n + 1).select(col("__prio").as("__tau"))
    // Corpus smaller than n+1: τ is absent and every row is a certain
    // member with ŵ = w (coalesce to 0 keeps greatest() = weight).
    ranked.filter(col("__rn") <= n)
      .join(broadcast(tau), lit(true), "left")
      .select(col("doc_id"), col("weight"),
        round(greatest(col("weight").cast("double"),
          coalesce(col("__tau"), lit(0.0))), 6).as("est_weight"))
  }

  /** Data-driven quality gate: keep documents whose quality score is at or
    * above the corpus's exact q-quantile — the composition the exact
    * quantiles exist for (percentile cutoffs chosen from the data, not
    * hardcoded). Fully in-plan: the scored frame persists once and feeds
    * BOTH the quantile tower and the gate; the 1-row cutoff broadcasts
    * back. Emits (doc_id, quality_score, cutoff) so the gate's decision
    * is auditable per row. */
  def autoQualityFilter(documents: DataFrame, q: Double = 0.5,
                        buckets: Int = 256): DataFrame = {
    val scored = graft.core.CacheScope.persisted(scoredOf(documents))
    val cutoff = broadcast(scoreQuantilesOf(scored, Seq(q), buckets)
      .select(col("cutoff")))
    scored.crossJoin(cutoff)
      .filter(col("score") >= col("cutoff"))
      .select(col("doc_id"), col("score").as("quality_score"), col("cutoff"))
  }

  /** Per-source document cap (the RefinedWeb-style domain rebalance): keep
    * at most `cap` documents per source, best quality first (ties broken
    * by doc_id so the keep set is deterministic). A single over-crawled
    * domain otherwise dominates the mixture no matter how good the
    * per-document filters are — capping is the standard fix, and ranking
    * the cap by quality keeps the best of each domain rather than a random
    * prefix.
    *
    * Shape: one shuffle on `source`, and the `src_rank <= cap` filter sits
    * directly on the raw row_number so `InferWindowGroupLimit` plants a
    * PARTIAL WindowGroupLimit — each map task forwards at most `cap` rows
    * per source into the rank exchange, so the shuffle carries
    * ~sources × cap rows, not the corpus. Emits the rank so downstream
    * mixture accounting can weight by within-source position. */
  def perSourceCap(documents: DataFrame, cap: Int = 10): DataFrame = {
    val scored = TextAnalysis.withQuality(documents.withColumn("__words", tokens(col("text"))))
      .select(col("doc_id"), col("source"), col("quality_score"))
      .filter(col("quality_score").isNotNull && col("doc_id").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("quality_score").desc, col("doc_id"))
    scored.withColumn("src_rank", row_number().over(w))
      .filter(col("src_rank") <= cap)
      .select(col("doc_id"), col("source"), col("quality_score"),
        col("src_rank").cast("bigint").as("src_rank"))
  }

  /** Repeat-epoch plan for target mixture weights — the UPSAMPLING
    * complement to [[temperatureRates]]: sampling can only down-weight a
    * stratum, repeat epochs are how under-represented strata reach their
    * target share in the training mix. For each stratum: its token count,
    * the target share (exact ppm), and the repeat factor
    * `epochs = share · T / n_i` — how many passes over the stratum give
    * it `share` of the ORIGINAL corpus token budget T. epochs > 1 means
    * repeat, < 1 means the plan still down-samples, 0 means excluded
    * (strata not in the weight map). The share is exact integer ppm; the
    * repeat factor is a double with a pinned division order
    * `(w/Σw) · (T/n_i)`, so both engines emit the identical rounded
    * value. One tokenize pass + a strata-sized agg; the 1-row total
    * broadcasts back — the plan itself is tiny and drives the training
    * loop's sampler, it never touches rows. */
  def epochPlan(documents: DataFrame, weightsPerMille: Map[String, Int],
                stratum: String = "source"): DataFrame = {
    require(weightsPerMille.nonEmpty && weightsPerMille.values.forall(_ >= 0)
      && weightsPerMille.values.sum > 0, "weights must be non-negative, sum > 0")
    val sumW = weightsPerMille.values.sum
    val w = weightsPerMille.foldRight(lit(0): org.apache.spark.sql.Column) {
      case ((k, v), e) =>
        val cond = if (k == null) col(stratum).isNull else col(stratum) === k
        when(cond, lit(v)).otherwise(e)
    }
    val per = documents
      .select(col(stratum), size(tokens(col("text"))).cast("bigint").as("__n"))
      .groupBy(stratum).agg(sum("__n").as("n_tokens"))
      .withColumn("weight_pm", w.cast("bigint"))
    val total = per.agg(sum("n_tokens").as("__t"))
    per.crossJoin(broadcast(total))
      .select(col(stratum), col("n_tokens"), col("weight_pm"),
        expr(s"weight_pm * 1000000L div ${sumW}L").as("share_ppm"),
        // A stratum present in the data but with zero tokens (every doc
        // empty) would make the repeat factor corpus_tokens/0 = Infinity,
        // whose rendering is engine-dependent; emit NULL instead — "no
        // tokens to repeat" has no meaningful epoch count. Oracle twin
        // carries the same CASE guard.
        when(col("n_tokens") > lit(0L),
          round((col("weight_pm").cast("double") / lit(sumW.toDouble)) *
            (col("__t").cast("double") / col("n_tokens").cast("double")), 6))
          .as("epochs"))
  }

  /** Deterministic train/val/test split assignment — the same hash gate as
    * [[stratifiedSample]] (membership is a pure function of doc_id), so
    * the split is re-runnable, append-stable (new documents land in a
    * split without moving old ones), and — at FIXED shares — leakage-free
    * by construction: a document never changes sides between runs. Low
    * buckets go to test first, so the TEST split additionally survives
    * share changes: widening train (shrinking val) can move former VAL
    * documents into train, but a test document stays test as long as
    * testPerMille doesn't shrink — put the eval sets you must protect
    * long-term in test, use val for the re-carvable dev split. Narrow
    * single pass, no shuffle at any size. */
  def datasetSplit(documents: DataFrame,
                   valPerMille: Int = 10, testPerMille: Int = 10): DataFrame = {
    require(valPerMille >= 0 && testPerMille >= 0 && valPerMille + testPerMille <= 1000,
      s"split shares must fit a mille: val=$valPerMille test=$testPerMille")
    documents
      .withColumn("bucket", expr(bucketSql("doc_id")))
      .withColumn("split",
        when(col("bucket") < testPerMille, lit("test"))
          .when(col("bucket") < testPerMille + valPerMille, lit("val"))
          .otherwise(lit("train")))
      .select(col("doc_id"), col("bucket").cast("bigint").as("bucket"), col("split"))
  }

  // ---- Benchmark decontamination -----------------------------------------

  /** Benchmark-contamination scan: flag every training document sharing at
    * least one word-k-shingle with the benchmark set, with hit counts.
    * This is the standard eval-decontamination pass (exact n-gram overlap)
    * run before training-set release.
    *
    * `benchmark` is typically tiny (eval suites, not corpora) — its posting
    * list is broadcast, so the scan over the training corpus is a map-side
    * join: one pass, no shuffle of the big side. The returned counts are
    * `n_bench_docs` (distinct benchmark documents hit) and `n_hits`
    * (shingle × benchmark-doc matches).
    *
    * `k` trades recall for precision: production decontamination uses 8-13
    * word n-grams; the registered fixture query uses k=4 because the
    * synthetic corpus' vocabulary is too small for 8-grams to collide at
    * all. Shingling matches [[DocDedup]] exactly (distinct shingles,
    * whole-text fallback below k words, polynomial hash). */
  def decontaminate(documents: DataFrame, benchmark: DataFrame, k: Int = 8): DataFrame = {
    graft.functions.VectorExprs.register(documents.sparkSession)
    def posting(df: DataFrame, idAs: String): DataFrame = df
      .withColumn("__words", tokens(col("text")))
      .withColumn("__sh", expr(sparkShingles("__words", "text", k)))
      .select(col("doc_id").as(idAs), explode(sparkPolyHashArray("__sh")).as("shingle"))
    posting(documents, "doc_id")
      .join(broadcast(posting(benchmark, "bench_id")), "shingle")
      .groupBy("doc_id")
      .agg(count_distinct(col("bench_id")).as("n_bench_docs"),
        count(lit(1)).as("n_hits"))
      .select("doc_id", "n_bench_docs", "n_hits")
  }

  /** The fixture's stand-in benchmark set: every 97th document. */
  def fixtureBenchmark(documents: DataFrame): DataFrame =
    documents.filter(col("doc_id") % 97 === 0)

  def fixtureTraining(documents: DataFrame): DataFrame =
    documents.filter(col("doc_id") % 97 =!= 0)

  // ---- Dedup-cluster assignment ------------------------------------------

  /** Connected components over a near-dup pair graph by min-label
    * propagation: every node starts labeled with its own id; each round
    * replaces a node's label with the minimum over itself and its
    * neighbors. After `iterations` rounds every node holds the minimum id
    * within `iterations` hops — with enough rounds, the canonical id of its
    * component (the curation product: keep one doc per cluster).
    *
    * A FIXED iteration count keeps the operator a pure, oracle-checkable
    * function of its input (the DuckDB twin unrolls the same rounds). Near-
    * dup graphs are overwhelmingly tiny cliques + short chains, so small
    * counts converge; [[clusterLabelsConverged]] is the production variant
    * that detects the fixpoint. Each round is two shuffles (join + groupBy)
    * over the EDGE set — not the corpus — and the edge set is the (rare)
    * near-dup pairs, so the loop runs on a graph orders of magnitude
    * smaller than the input. */
  def clusterLabels(pairs: DataFrame, iterations: Int = 3): DataFrame = {
    val edges = labelEdges(pairs)
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster", col("doc_id"))
    for (_ <- 1 to iterations) labels = propagateOnce(edges, labels)
    labels.select("doc_id", "cluster")
  }

  /** The symmetric (src, dst) edge frame of `pairs`, repartitioned ONCE
    * by the per-round join key and persisted WITH that partitioning
    * (cached plans keep their outputPartitioning): every propagation
    * round's edges⋈labels join plans no exchange on the edge side — only
    * the (smaller) label frame and the per-round groupBy move. */
  private def labelEdges(pairs: DataFrame): DataFrame =
    pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .repartition(col("dst"))
      .transform(graft.core.CacheScope.persisted)

  /** One min-label round: label := min(label, min over neighbors' labels). */
  private def propagateOnce(edges: DataFrame, labels: DataFrame): DataFrame = {
    val nbrMin = edges
      .join(labels.withColumnsRenamed(Map("doc_id" -> "dst", "cluster" -> "nbr")), "dst")
      .groupBy(col("src").as("doc_id"))
      .agg(min("nbr").as("nbr"))
    labels.join(nbrMin, Seq("doc_id"), "left")
      .select(col("doc_id"),
        least(col("cluster"), coalesce(col("nbr"), col("cluster"))).as("cluster"))
  }

  /** Production variant: propagate until no label changes, checkpointing
    * each round. `localCheckpoint` truncates the lineage — without it the
    * plan doubles per round and Catalyst re-analysis becomes the bottleneck
    * long before the data does. The convergence probe is one count per
    * round on the (small) label set. Worst-case rounds = graph diameter;
    * near-dup components are shallow, so this terminates in a handful.
    * Throws `IllegalStateException` if labels still change at
    * `maxIterations` — labels still moving are not component minima, and
    * the specs comparing against this reference would compare against a
    * truncated answer. The returned labels are a checkpointed leaf, so
    * the edge cache is released before returning. */
  def clusterLabelsConverged(pairs: DataFrame, maxIterations: Int = 20): DataFrame = {
    val edges = labelEdges(pairs)
    val init = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster", col("doc_id"))
      .transform(graft.core.Lineage.truncate)
    try {
      graft.core.Fixpoint.converge[DataFrame]("clusterLabelsConverged", maxIterations,
        _ => "(labels still changing); labels at a capped exit would be silently " +
          "non-canonical. Raise maxIterations (rounds grow with the graph diameter).")(init) { labels =>
        val next = propagateOnce(edges, labels).transform(graft.core.Lineage.truncate)
        (next, next.join(labels.withColumnsRenamed(Map("cluster" -> "prev")), "doc_id")
          .filter(col("cluster") =!= col("prev")).limit(1).count() == 0L)
      }._1.select("doc_id", "cluster")
    } finally edges.unpersist(blocking = false)
  }

  /** Dedup clusters of the fixture corpus: MinHash-LSH near-dup pairs →
    * 3-round min-label propagation (the fixture graph's components are
    * cliques of exact/near copies, diameter ≤ 2, so 3 rounds is past the
    * fixpoint — asserted in the test suite with [[clusterLabelsConverged]]). */
  def dedupClusters(documents: DataFrame): DataFrame =
    clusterLabels(DocDedup.minhashLshPairs(documents), iterations = 3)

  /** Dedup clusters by star contraction — the diameter-independent twin of
    * [[dedupClusters]]: same MinHash-LSH pair graph, labels from
    * [[graft.core.StarComponents.components]] instead of fixed-round
    * min-label propagation. Converged labels are identical (min id per
    * component); the difference is the round budget — O(log² n)
    * alternations vs O(diameter) propagation rounds, which is the
    * distinction that matters when near-dup components are CHAINS
    * (templated page series, crawl-date gradients: A≈B≈C but A≉C) rather
    * than cliques. At fixture scale both converge; the spec suite pins the
    * round-count separation on a synthetic chain. */
  def dedupClustersStar(documents: DataFrame): DataFrame =
    graft.core.StarComponents.components(DocDedup.minhashLshPairs(documents))

  /** Structural redundancy rank of the fixture corpus: MinHash-LSH
    * near-dup pairs → integer-ppm PageRank
    * ([[graft.core.GraphRank.pageRankPpm]]). High rank = the document
    * sits in a dense near-dup neighborhood (template farms, boilerplate
    * families) — a curation signal orthogonal to the per-document quality
    * scores, usable as a keep-one tiebreaker or a downweight feature. */
  def docPageRank(documents: DataFrame): DataFrame =
    graft.core.GraphRank.pageRankPpm(DocDedup.minhashLshPairs(documents))

  /** Per-document triangle participation in the near-dup graph
    * ([[graft.core.GraphMetrics.triangleCounts]]): clique-like duplicate
    * families are triangle-dense, chain-like template drift has none —
    * the density signal that tells "keep one of these" components from
    * "gradual rewrite" chains the component label alone cannot. */
  def docTriangles(documents: DataFrame): DataFrame =
    graft.core.GraphMetrics.triangleCounts(DocDedup.minhashLshPairs(documents))

  /** [[docTriangles]]' dense-regime variant: DOULION edge sparsification
    * (deterministic hash coin, p = 1/2 here) in front of the same exact
    * counter, estimates unbiased by p⁻³
    * ([[graft.core.GraphMetrics.triangleCountsApprox]]). The knob that
    * keeps triangle density measurable where the exact wedge volume
    * exceeds scratch (measured: the 16 M-node/264 M-edge probe that dies
    * exact at ~65 GB completes sparsified). */
  def docTrianglesApprox(documents: DataFrame): DataFrame =
    graft.core.GraphMetrics.triangleCountsApprox(DocDedup.minhashLshPairs(documents))

  /** Per-document local clustering coefficient over the near-dup graph
    * ([[graft.core.GraphMetrics.clusteringCoefPpm]]): triangles
    * normalized by wedge capacity — the degree-independent density score
    * the raw counts confound (a perfect 4-clique corner and a sparse hub
    * can hold the same raw count). */
  def docClusteringCoef(documents: DataFrame): DataFrame =
    graft.core.GraphMetrics.clusteringCoefPpm(DocDedup.minhashLshPairs(documents))

  /** Incremental triangle maintenance over the near-dup graph — the
    * append leg of the density family
    * ([[graft.core.GraphMetrics.incrementalTriangles]]), on the same
    * first-half/append-half lifecycle split as [[incrementalClusters]]:
    * count the base half once, fold in only the ≥ 1-new-endpoint pairs;
    * the result must equal a full recount bit for bit (the oracle is
    * the same full-graph twin x_triangles runs). */
  def docTrianglesIncr(documents: DataFrame): DataFrame = {
    val half = broadcast(documents.agg(expr("(max(doc_id) + 1) div 2").as("__h")))
    val allPairs = graft.core.CacheScope.persisted(
      DocDedup.minhashLshPairs(documents).crossJoin(half))
    val basePairs = allPairs.filter(col("id_b") < col("__h")).drop("__h")
    val newPairs = allPairs.filter(col("id_b") >= col("__h")).drop("__h")
    graft.core.GraphMetrics.incrementalTriangles(basePairs, newPairs)
  }

  /** The triangle family's STORED lifecycle end to end
    * ([[graft.core.TriangleIndex]] — build/store/append/serve, the
    * `e_knn_incr` idiom on the density axis), on the same
    * first-half/append-half split as [[docTrianglesIncr]]: BUILD the
    * count store from the base half's pairs (the one full wedge
    * enumeration), APPEND the ≥ 1-new-endpoint pairs against the STORE
    * (wedge work batch-bounded; old counts read back, never recomputed —
    * unlike the incr row's declarative in-plan replay), then SERVE the
    * per-node counts off the store's latest version. Exactness makes the
    * oracle free: the served counts must equal a full recount bit for
    * bit, so the row shares `x_triangles`' full-graph twin. */
  def docTrianglesIdx(documents: DataFrame, indexDir: String): DataFrame = {
    val spark = documents.sparkSession
    val half = broadcast(documents.agg(expr("(max(doc_id) + 1) div 2").as("__h")))
    val allPairs = graft.core.CacheScope.persisted(
      DocDedup.minhashLshPairs(documents).crossJoin(half))
    graft.core.TriangleIndex.build(
      allPairs.filter(col("id_b") < col("__h")).drop("__h"), indexDir)
    graft.core.TriangleIndex.append(
      allPairs.filter(col("id_b") >= col("__h")).drop("__h"), indexDir)
    graft.core.TriangleIndex.counts(spark, indexDir)
  }

  /** The 2-core of the near-dup graph
    * ([[graft.core.GraphMetrics.kCore]]): strips every tree-like
    * attachment (pendant near-dups, isolated pairs) and keeps only
    * mutually-supported duplicate families — the cheap structural
    * evidence gate in front of keep-one-per-cluster deletion. */
  def docKCore(documents: DataFrame): DataFrame =
    graft.core.GraphMetrics.kCore(DocDedup.minhashLshPairs(documents), k = 2)

  /** Incremental dedup-cluster maintenance — the append leg of the cluster
    * lifecycle (the stored-index idiom of `e_ivf_incr`/`e_knn_incr` on the
    * component axis): cluster the base half of the corpus once, then fold
    * in only the pairs with ≥ 1 NEW endpoint via
    * [[graft.core.StarComponents.mergeComponents]] — old×old pairs are
    * never re-examined, and the contraction the merge runs is bounded by
    * the new-pair volume, not the corpus.
    *
    * Exactness (unlike the ANN appends' recall bands): component merge is
    * associative, so the merged labels are BIT-IDENTICAL to a full rebuild
    * over the whole pair graph — which is exactly what the oracle checks
    * (same closure SQL as `c_cc`, different dataflow). Pair generation
    * here re-derives the new-pair stream in-plan for the declarative
    * replay (MinHash pair emission is per-pair local, so subsetting
    * commutes); a production deployment feeds the same merge from the
    * stored band index (`storedIndexDedup`'s candidate stream), which
    * never rescans the old corpus. */
  def incrementalClusters(documents: DataFrame): DataFrame = {
    val half = broadcast(documents.agg(expr("(max(doc_id) + 1) div 2").as("__h")))
    // Pair emission is pair-local (fixed banding config + pair-wise
    // Jaccard verify), so subsetting commutes with generation:
    // pairs(base docs) ≡ pairs(all docs) ∩ old×old. One tokenize+sign
    // pass feeds both lifecycle phases; id_a < id_b on every emitted
    // pair, so "both old" ⇔ id_b < cut and "≥ 1 new" ⇔ id_b ≥ cut.
    val allPairs = graft.core.CacheScope.persisted(
      DocDedup.minhashLshPairs(documents).crossJoin(half))
    val basePairs = allPairs.filter(col("id_b") < col("__h")).drop("__h")
    val newPairs = allPairs.filter(col("id_b") >= col("__h")).drop("__h")
    val labels0 = graft.core.StarComponents.components(basePairs)
    graft.core.StarComponents.mergeComponents(labels0, newPairs)
  }

  // ---- Per-source score normalization ------------------------------------

  /** Per-source quantile normalization of quality scores — the cross-source
    * calibration step that makes one global threshold meaningful: raw
    * quality scores are only comparable WITHIN a source (each domain has
    * its own length/punctuation regime), so a single corpus-wide cutoff
    * (`autoQualityFilter`) systematically over-prunes terse sources and
    * under-prunes verbose ones. `qnorm` = the score's cumulative fraction
    * within its source (`cume_dist`: #docs in source with score ≤ mine /
    * #docs in source) — uniform on (0,1] per source by construction, so
    * "keep the top 30% of EVERY source" is one global `qnorm >= 0.7`.
    *
    * Shape, chosen for 100 TB: NOT a per-source window over documents —
    * `cume_dist().over(partitionBy(source))` sorts each source on one
    * executor, and a dominant source is most of the corpus. Instead the
    * cumulative counts live on the (source, score) HISTOGRAM: one groupBy
    * shuffle builds it, the running sum runs over histogram rows only, and
    * a join on (source, score) fans the result back to documents. The
    * histogram is bounded by the SCORE GRID, not the data — quality_score
    * is round(·, 6) in [0, 1], so ≤ 1e6+1 distinct scores per source no
    * matter how many documents — which is what makes the per-source
    * running sum safe at any corpus size. Ties share one histogram row and
    * therefore one qnorm value (cume_dist semantics — no arbitrary
    * tie-break, unlike percent_rank over doc_id). */
  def sourceQuantileNorm(documents: DataFrame): DataFrame = {
    val scored = TextAnalysis.withQuality(documents.withColumn("__words", tokens(col("text"))))
      .select(col("doc_id"), col("source"), col("quality_score"))
      .filter(col("quality_score").isNotNull && col("doc_id").isNotNull &&
        col("source").isNotNull)
      .transform(graft.core.CacheScope.persisted)
    val hist = scored.groupBy("source", "quality_score").agg(count(lit(1)).as("__n"))
    val bySource = org.apache.spark.sql.expressions.Window.partitionBy("source")
    val cum = hist
      .withColumn("__cum",
        sum("__n").over(bySource.orderBy("quality_score")))
      .withColumn("__tot", sum("__n").over(bySource))
    scored.join(cum, Seq("source", "quality_score"))
      .select(col("doc_id"), col("source"), col("quality_score"),
        round(col("__cum").cast("double") / col("__tot"), 6).as("qnorm"))
  }

  /** CALIBRATED quality gate — the composition [[sourceQuantileNorm]]
    * exists for, closing the loop it opened: [[autoQualityFilter]] gates
    * on one corpus-wide raw-score cutoff, which systematically starves
    * terse sources (their whole score distribution sits below a verbose
    * source's floor, so the global median keeps none of them — the spec
    * pins exactly this two-regime failure). Gating on `qnorm >= q`
    * instead keeps the top (1−q) fraction of EVERY source with one
    * global constant — per-source survivor counts stay proportional no
    * matter how the sources' raw regimes differ.
    *
    * Same 100 TB shape as qnorm itself (one histogram groupBy + one
    * fan-back join; no per-source document sort); the gate is a filter
    * on the already-joined frame, so it adds zero stages. Emits
    * (doc_id, source, quality_score, qnorm) — qnorm IS the audit column
    * (the per-row "why kept"), mirroring autoQualityFilter's cutoff. */
  def normQualityFilter(documents: DataFrame, q: Double = 0.7): DataFrame =
    sourceQuantileNorm(documents).filter(col("qnorm") >= q)

  /** Deterministic source-interleaved training order — stride scheduling
    * (the lottery/stride scheduler from OS theory, reborn as the data
    * loader's mixing policy): documents of each source are consumed in a
    * stable per-source order, and sources interleave in proportion to
    * their per-mille weights, with NO RNG — document i of a
    * weight-w source sits at schedule key `i · (1 000 000 div w)`, so a
    * weight-500 source appears twice as often as a weight-250 one, evenly
    * spread rather than in bursts (what epoch-level mixing can't give
    * you). Total order = (sched_key, source, src_rank): deterministic,
    * re-runnable, and a PREFIX of it preserves the mixture — truncating
    * the curriculum at any step keeps the weights, which is the property
    * batch-level mixing needs. Zero-weight sources are excluded.
    *
    * Shape: one per-source rank window (the only shuffle, keyed on the
    * stratum), a per-row integer key, no global sort materialized — the
    * ORDER lives in the key, consumers range-partition on it exactly like
    * [[shuffleOrder]]'s output. */
  def strideMixOrder(documents: DataFrame, weightsPerMille: Map[String, Int],
                     stratum: String = "source"): DataFrame = {
    require(weightsPerMille.values.forall(_ >= 0) && weightsPerMille.values.sum > 0,
      "weights must be non-negative, sum > 0")
    val w = weightsPerMille.foldRight(lit(0): org.apache.spark.sql.Column) {
      case ((k, v), e) =>
        val cond = if (k == null) col(stratum).isNull else col(stratum) === k
        when(cond, lit(v)).otherwise(e)
    }
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(stratum).orderBy("doc_id")
    documents
      .withColumn("weight_pm", w.cast("bigint"))
      .filter(col("weight_pm") > 0)
      .withColumn("src_rank", row_number().over(win).cast("bigint"))
      .select(col("doc_id"), col(stratum), col("src_rank"),
        expr("src_rank * (1000000L div weight_pm)").as("sched_key"))
  }

  /** Quality-aware canonical selection: for every near-dup cluster, keep
    * the HIGHEST-QUALITY member (ties broken by doc_id), not the
    * first-by-id one — min-id keepers are fine for exactness but throw
    * away the best copy when a cluster mixes a clean original with
    * boilerplate-injected mirrors; production pipelines keep the best.
    * Emits (cluster, keeper_id, quality_score, n_members) so downstream
    * can both select keepers and audit cluster sizes.
    *
    * Shape: cluster labels come from the edge-set propagation
    * ([[dedupClusters]] — loops over pairs, never documents), quality is
    * one narrow pass joined cluster-members-only (the join input is the
    * near-dup population, a sliver of the corpus), the keeper is a
    * per-cluster argmax window and the member count a same-keyed agg —
    * both shuffle on `cluster`, whose cardinality is the number of dup
    * groups. */
  def keepBestPerCluster(documents: DataFrame): DataFrame = {
    val labels = dedupClusters(documents)
    // Score the corpus, then join the (tiny) score column to the members
    // — MEASURED faster (4.9 s vs 5.8-6.7 s at sf0.1) than joining text
    // to labels and scoring members only: the member-join forms serialize
    // the quality scan behind the whole cluster chain and move `text`
    // through a join, while this form scores in parallel with clustering
    // and joins two narrow frames. If the member fraction ever gets
    // extreme at scale, the right cut is a broadcast ID-list semi filter
    // at the SCAN (predicate pushdown), not a data join.
    val withQ = labels.join(
      TextAnalysis.quality(documents).select(col("doc_id"), col("quality_score")),
      "doc_id")
    // n_members rides the SAME cluster partitioning as the keeper argmax
    // (one exchange, two window functions) — a separate groupBy+join
    // would both add a shuffle and turn `labels` into a twice-consumed
    // unpersisted diamond re-running the propagation chain per branch.
    val withCount = withQ.withColumn("n_members", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy("cluster")))
    graft.core.Dedup.top1PerKey(withCount, Seq("cluster"),
        Seq(col("quality_score").desc, col("doc_id").asc))
      .select(col("cluster"), col("doc_id").as("keeper_id"),
        col("quality_score"), col("n_members"))
  }

  // ---- Incremental (cross-batch) dedup -----------------------------------

  /** Dedup a NEW batch against an EXISTING corpus — the incremental
    * ingestion path: a re-crawl must not re-pair the corpus against itself
    * (that work is already done), only the new batch against the corpus and
    * itself. Survivors = new docs with (1) no exact text match in the
    * corpus, (2) no MinHash-LSH near-dup in the corpus, and (3) not the
    * larger id of any intra-batch near-dup pair (the same keep-canonical
    * greedy rule [[cleanCorpus]] uses — a doc paired only with dropped
    * docs is still dropped, deterministically).
    *
    * Scale shape: the corpus side contributes one pass to build its band
    * keys (in production these are precomputed at ingest and stored — the
    * operator takes DataFrames so either binding works); the candidate join
    * is bucket-local (band, key) between batch and corpus bands — never
    * |batch| × |corpus|. */
  /** (doc_id, text, __sh): the shingle arrays every text-dedup stage keys
    * on — shared by the in-plan incremental dedup and the stored index. */
  private[llmdata] def shingledDocs(df: DataFrame, k: Int): DataFrame = {
    graft.functions.VectorExprs.register(df.sparkSession)
    df.withColumn("__words", tokens(col("text")))
      .withColumn("__sh", expr(sparkShingles("__words", "text", k)))
      .select(col("doc_id"), col("text"), col("__sh"))
  }

  /** Exploded LSH band keys of a shingled frame ([[shingledDocs]] layout). */
  private[llmdata] def bandsOf(sh: DataFrame, idAs: String): DataFrame = {
    graft.functions.VectorExprs.register(sh.sparkSession)
    sh.withColumn("__h", sparkPolyHashArray("__sh"))
      .withColumn("__sig", expr(DocDedup.sparkSignature("__h")))
      .select(col("doc_id").as(idAs),
        posexplode(expr(DocDedup.bandExplodeSql("__sig"))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_key"))
  }

  def dedupAgainstCorpus(newDocs: DataFrame, corpus: DataFrame,
                         k: Int = 3, threshold: Double = 0.5): DataFrame = {
    val corpusSh = shingledDocs(corpus, k).transform(graft.core.CacheScope.persisted)
    dedupAgainstShingled(newDocs, corpusSh, bandsOf(corpusSh, "old_id"), k, threshold)
  }

  /** The shared incremental-dedup core — the corpus arrives as its shingle
    * frame plus its (possibly precomputed) band table; in-plan
    * ([[dedupAgainstCorpus]]) derives the bands, the stored index
    * ([[dedupAgainstIndex]]) reads them. The math is this one function. */
  private def dedupAgainstShingled(newDocs: DataFrame, corpusSh: DataFrame,
                                   corpusBands: DataFrame,
                                   k: Int, threshold: Double): DataFrame = {
    // (1) exact: drop batch docs whose text already exists in the corpus
    val exactKept = shingledDocs(
      newDocs.join(corpusSh.select(col("text")), Seq("text"), "left_anti"), k)
      .transform(graft.core.CacheScope.persisted)

    // (2) near-dup vs corpus: bucket join between band sets, exact verify
    val candidates = bandsOf(exactKept, "new_id")
      .join(corpusBands, Seq("band", "band_key"))
      .select("new_id", "old_id").distinct()
    // round(…, 6) matches DocDedup.minhashLshPairs' thresholding exactly, so
    // steps (2) and (3) can never disagree on a borderline pair.
    val vsCorpus = candidates
      .join(exactKept.select(col("doc_id").as("new_id"), col("__sh").as("sh_a")), "new_id")
      .join(corpusSh.select(col("doc_id").as("old_id"), col("__sh").as("sh_b")), "old_id")
      .filter(round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
        / size(array_union(col("sh_a"), col("sh_b"))), 6) >= threshold)
      .select(col("new_id").as("doc_id")).distinct()

    // (3) near-dup inside the batch itself: keep the smaller id
    val intraDrop = DocDedup.minhashLshPairs(
        exactKept.select("doc_id", "text"), k, threshold)
      .select(col("id_b").as("doc_id")).distinct()

    exactKept.select("doc_id")
      .join(vsCorpus, Seq("doc_id"), "left_anti")
      .join(intraDrop, Seq("doc_id"), "left_anti")
  }

  /** Materialize the dedup index at INGEST time: the corpus' shingle
    * arrays and exploded LSH band keys as two parquet tables. Per-batch
    * incremental dedup then never re-tokenizes, re-shingles, or re-hashes
    * the corpus ([[dedupAgainstIndex]]) — at 100 TB that turns every
    * crawl-batch admission from a corpus-sized recompute into a read of
    * precomputed (and far smaller) band/shingle tables. Strings round-trip
    * parquet exactly, so index-served decisions are bit-identical to the
    * in-plan form (`c_incr_idx` shares `c_incr`'s oracle). Growing the
    * index = appending the ADMITTED batch's rows to both tables — the same
    * append-vs-frozen-state lifecycle as [[graft.llmdata.Similarity.appendToIvfIndex]]. */
  def buildDedupIndex(corpus: DataFrame, indexDir: String, k: Int = 3): Unit = {
    val sh = shingledDocs(corpus, k).transform(graft.core.CacheScope.persisted)
    sh.write.mode("overwrite").parquet(s"$indexDir/shingles")
    bandsOf(sh, "doc_id").write.mode("overwrite").parquet(s"$indexDir/bands")
  }

  /** Incremental dedup against a STORED index ([[buildDedupIndex]]
    * layout): same three gates as [[dedupAgainstCorpus]] — exact text,
    * near-dup vs corpus (candidates from the precomputed band table),
    * near-dup within the batch — with the corpus-side work read, not
    * recomputed. */
  def dedupAgainstIndex(newDocs: DataFrame, indexDir: String,
                        k: Int = 3, threshold: Double = 0.5): DataFrame = {
    val spark = newDocs.sparkSession
    dedupAgainstShingled(newDocs,
      spark.read.parquet(s"$indexDir/shingles"),
      spark.read.parquet(s"$indexDir/bands").withColumnRenamed("doc_id", "old_id"),
      k, threshold)
  }

  // ---- Document chunking ---------------------------------------------------

  /** Split each document into fixed-token-budget chunks (the pre-packing
    * step of sequence assembly for training): chunk i carries tokens
    * [i*maxTokens, (i+1)*maxTokens). Every document yields at least one
    * chunk (an empty text yields one empty chunk) so no row silently
    * disappears between pipeline stages.
    *
    * Scale shape: a narrow per-row explode — output rows ≈ corpus tokens /
    * maxTokens, no shuffle; downstream packing (grouping chunks into
    * sequences) is a separate keyed stage. */
  def chunk(documents: DataFrame, maxTokens: Int = 16): DataFrame =
    documents
      .withColumn("__words", tokens(col("text")))
      .select(col("doc_id"), col("__words"), posexplode(expr(
        s"""transform(sequence(0, (greatest(size(__words), 1) - 1) div $maxTokens),
           | i -> concat_ws(' ', slice(__words, i * $maxTokens + 1, $maxTokens)))""".stripMargin.replace("\n", " "))))
      .select(
        col("doc_id"),
        col("pos").cast("bigint").as("chunk_id"),
        greatest(least(lit(maxTokens), size(col("__words")) - col("pos") * maxTokens), lit(0))
          .cast("bigint").as("n_tokens"),
        col("col").as("chunk_text"))

  /** Pack chunks into fixed-token-budget training sequences, shard-locally:
    * chunks are sharded by doc (all of a document's chunks stay together),
    * laid out contiguously within the shard in (doc_id, chunk_id) order,
    * and cut into sequences every `budget` tokens. A chunk whose start
    * offset lands in sequence s belongs to s, so a sequence can overflow by
    * at most maxTokens-1 — the standard streaming-packing trade (no
    * bin-packing search, fully deterministic).
    *
    * Scale shape: ONE shuffle on the shard key; each shard is an
    * independent sort + running sum, so parallelism = `shards` and no
    * global ordering is ever materialized (a global cumsum would serialize
    * the corpus through one partition — the non-scalable formulation this
    * operator exists to avoid). */
  def packChunks(chunks: DataFrame, budget: Int = 64, shards: Int = 8): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id", "chunk_id")
    chunks
      .withColumn("shard", (col("doc_id") % shards).cast("int"))
      .withColumn("tok_offset", sum("n_tokens").over(w) - col("n_tokens"))
      .withColumn("seq_id", expr(s"tok_offset div $budget"))
      .select("doc_id", "chunk_id", "n_tokens", "shard", "seq_id", "tok_offset")
  }

  /** The full training-data assembly in ONE declarative plan: clean the
    * corpus ([[cleanCorpus]]), chunk the survivors ([[chunk]]), pack the
    * chunks into sequences ([[packChunks]]), and report per-sequence
    * totals — the shape a dataloader manifest needs. Oracle-checked end to
    * end (`c_e2e`), which pins the COMPOSITION, not just the stages: a
    * schema drift between any two stages fails the hash compare. */
  def trainingSequences(documents: DataFrame, budget: Int = 64, shards: Int = 8,
                        maxTokens: Int = 16): DataFrame = {
    val keptIds = cleanCorpus(documents).select("doc_id")
    val chunks = chunk(documents.join(keptIds, "doc_id"), maxTokens)
    packChunks(chunks, budget, shards)
      .groupBy("shard", "seq_id")
      .agg(count(lit(1)).as("n_chunks"), sum("n_tokens").as("seq_tokens"))
  }

  /** Length-bucketed micro-batching over the packed sequences: per shard,
    * sort sequences by (token length desc, seq_id) and cut consecutive
    * runs of `batchSize` into batches — sequences of similar length share
    * a batch, so per-batch padding to the max member is minimal (the
    * standard dataloader trick; random batching wastes up to the length
    * spread per batch). Output: one row per sequence with its batch
    * assignment and the batch's padded length.
    *
    * Scale shape: one (shard, seq_id) agg over the pack assignment (the
    * exchange [[packChunks]] already created is reusable) plus per-shard
    * windows — parallelism = shards, nothing global. Deterministic
    * total order (length, then seq_id), so batch composition is
    * re-runnable and oracle-able. */
  def lengthBucketedBatches(documents: DataFrame, batchSize: Int = 4,
                            budget: Int = 64, shards: Int = 8,
                            maxTokens: Int = 16): DataFrame = {
    require(batchSize > 0)
    val seqs = packChunks(chunk(documents, maxTokens), budget, shards)
      .groupBy("shard", "seq_id")
      .agg(sum("n_tokens").as("seq_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("seq_tokens").desc, col("seq_id"))
    val wb = org.apache.spark.sql.expressions.Window.partitionBy("shard", "batch_id")
    seqs
      .withColumn("batch_id", ((row_number().over(w) - 1) / batchSize).cast("bigint"))
      .withColumn("padded_to", max("seq_tokens").over(wb))
      .select("shard", "batch_id", "seq_id", "seq_tokens", "padded_to")
  }

  /** Materialize the packed sequences' TEXT — the artifact a dataloader
    * actually reads. Chunk order inside a sequence is recovered with a
    * deterministic ordered aggregation: `collect_list` has no intrinsic
    * order (it sees shuffle arrival order), so elements are collected as
    * (doc_id, chunk_id, text) structs and `array_sort`ed before joining —
    * the same total order the packing window used, independent of
    * partitioning. One extra shuffle on (shard, seq_id); sequence text
    * size is bounded by budget + maxTokens - 1 tokens. */
  def packedSequenceText(documents: DataFrame, budget: Int = 64, shards: Int = 8,
                         maxTokens: Int = 16): DataFrame = {
    val chunks = chunk(documents, maxTokens)
      .transform(graft.core.CacheScope.persisted)
    packChunks(chunks, budget, shards)
      .join(chunks.select("doc_id", "chunk_id", "chunk_text"), Seq("doc_id", "chunk_id"))
      .groupBy("shard", "seq_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum("n_tokens").as("seq_tokens"),
        expr("array_join(transform(array_sort(collect_list(struct(doc_id, chunk_id, chunk_text))), x -> x.chunk_text), ' ')")
          .as("seq_text"))
  }

  // ---- Composed cleaning pipeline ----------------------------------------

  /** End-to-end corpus cleaning — the composition a training-data pipeline
    * actually runs, as one declarative plan:
    *
    *   1. language filter: keep documents language-ID'd as `keepLang`;
    *   2. quality filter: composite score ≥ `minQuality`;
    *   3. exact dedup: keep the min-id document per distinct text;
    *   4. near-dup removal: MinHash-LSH pairs among survivors, greedily
    *      dropping the larger id of each pair (keep-canonical).
    *
    * Output: (doc_id, n_tokens, quality_score) of the retained corpus.
    *
    * Scale shape: steps 1-2 are ONE narrow scan-local pass (tokens are
    * derived once and feed both the language scores and the quality
    * signals — no self-joins), step 3 shuffles once on text, step 4 runs
    * LSH on the already-reduced survivor set and anti-joins a pair-derived
    * id list that is tiny by construction. */
  def cleanCorpus(documents: DataFrame, keepLang: String = "en",
                  minQuality: Double = 0.6): DataFrame = {
    val kept = TextAnalysis.withLangGuess(
        TextAnalysis.withQuality(documents.withColumn("__words", tokens(col("text")))))
      .filter(col("lang_guess") === keepLang && col("quality_score") >= minQuality)
      .select("doc_id", "text", "n_tokens", "quality_score")
    // Exact dedup among survivors (min id per text). Persisted: consumed by
    // the LSH pair generation (3 consumers inside) AND the final output.
    // n_tokens/quality_score are functions of the group key (text), so
    // min() just picks the one shared value deterministically.
    val deduped = kept
      .groupBy(col("text"))
      .agg(min("doc_id").as("doc_id"),
        min("n_tokens").as("n_tokens"), min("quality_score").as("quality_score"))
      .select("doc_id", "text", "n_tokens", "quality_score")
      .transform(graft.core.CacheScope.persisted)
    val dropIds = DocDedup.minhashLshPairs(deduped.select("doc_id", "text"))
      .select(col("id_b").as("doc_id")).distinct()
    deduped.join(dropIds, Seq("doc_id"), "left_anti")
      .select("doc_id", "n_tokens", "quality_score")
  }

  /** Cleaning-funnel report: how many documents each stage of
    * [[cleanCorpus]] admits, and what each stage dropped — the
    * observability row every production curation pipeline publishes next
    * to its output (a silent 40% drop at one stage is a data bug long
    * before it is a model regression). Stages are REBUILT FROM THE SAME
    * OPERATORS cleanCorpus composes (same gate, same exact-dedup group,
    * same LSH pair set), so the funnel's final count is definitionally
    * the pipeline's output count — pinned by a spec, so the funnel can't
    * drift from the pipeline it reports on. Four counts = the pipeline's
    * own aggregates plus two 1-row counts; no extra corpus passes beyond
    * the stages themselves. */
  def cleanFunnel(documents: DataFrame, keepLang: String = "en",
                  minQuality: Double = 0.6): DataFrame = {
    val kept = TextAnalysis.withLangGuess(
        TextAnalysis.withQuality(documents.withColumn("__words", tokens(col("text")))))
      .filter(col("lang_guess") === keepLang && col("quality_score") >= minQuality)
      .select("doc_id", "text")
      .transform(graft.core.CacheScope.persisted)
    val deduped = kept
      .groupBy(col("text")).agg(min("doc_id").as("doc_id"))
      .select("doc_id", "text")
      .transform(graft.core.CacheScope.persisted)
    val dropIds = DocDedup.minhashLshPairs(deduped)
      .select(col("id_b").as("doc_id")).distinct()
    // One lazy plan, zero driver actions: each stage contributes a 1-row
    // count; `dropped` is a lag over the 4-row union (trivial window).
    def stage(name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_docs")).select(lit(name).as("stage"), col("n_docs"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("stage")
    stage("1_input", documents)
      .unionByName(stage("2_lang_quality", kept))
      .unionByName(stage("3_exact_dedup", deduped))
      .unionByName(stage("4_near_dedup",
        deduped.join(dropIds, Seq("doc_id"), "left_anti")))
      .withColumn("dropped",
        coalesce(lag("n_docs", 1).over(w) - col("n_docs"), lit(0L)))
  }

  // ---- Target-distribution importance scoring (DSIR-style) ---------------

  /** Feature-hash bucket count for [[importanceScore]]. 2^10 buckets keep
    * the bucket models broadcast-trivial while leaving hash collisions rare
    * on the fixture vocabulary; production corpora use the paper's 10k-1M
    * range — the model stays a broadcast either way. */
  val DsirBuckets = 1024

  /** Hashed-n-gram importance score against a target distribution — the
    * selection signal of DSIR (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): fit bag-of-hashed-feature
    * models on the TARGET slice (`isTarget`, e.g. a trusted high-quality
    * subset) and on the RAW corpus, then score every document by how much
    * more target-like than raw-like its features are. Documents with
    * `keep = 1` (positive score) lean toward the target distribution — the
    * resampling step then samples by score instead of uniformly.
    *
    * Deviation from the paper, pinned deliberately: the per-feature weight
    * is the smoothed probability DIFFERENCE in ppm, not the log-likelihood
    * ratio — `ln` has no cross-engine bit-exact form (same policy as the
    * BM25/LM rows' ln-free scoring), and the induced per-document ordering
    * agrees wherever it matters (monotone in each feature's target lean).
    * All arithmetic is exact integer: add-1-smoothed ppm per bucket, and
    * the mean shifts by +1e6 before the floor division so the numerator
    * stays positive (Spark `div` truncates toward zero, DuckDB `//` floors
    * — they only agree on non-negatives).
    *
    * Shape: ONE tokenize+hash pass feeds both models and the scoring join
    * (persisted diamond); the bucket models are ≤ `buckets`-row aggregates
    * joined back by broadcast, so the whole operator is one shuffle on
    * (doc, bucket) plus broadcast joins — linear scan cost at 100 TB. The
    * production policy is freeze-then-apply, as with k-means/BPE/PCA/LM:
    * fit the two bucket models once (on a sample), persist them, and score
    * any amount of new data with the frozen model as a pure broadcast
    * projection. */
  def importanceScore(documents: DataFrame,
                      isTarget: Column = col("lang") === "en",
                      buckets: Int = DsirBuckets): DataFrame = {
    graft.functions.VectorExprs.register(documents.sparkSession)
    val feats = documents
      .withColumn("__w", transform(tokens(col("text")), w => lower(w)))
      .withColumn("__h", sparkPolyHashArray("__w"))
      .select(col("doc_id"), isTarget.cast("int").as("__t"),
        explode(expr(s"transform(__h, h -> cast(h % $buckets AS INT))")).as("bucket"))
      .groupBy("doc_id", "__t", "bucket").agg(count(lit(1)).as("n"))
      .transform(graft.core.CacheScope.persisted)
    val tgt = feats.filter(col("__t") === 1).groupBy("bucket").agg(sum("n").as("ct"))
    val raw = feats.groupBy("bucket").agg(sum("n").as("cr"))
    val model = raw.join(tgt, Seq("bucket"), "left")
      .withColumn("ct", coalesce(col("ct"), lit(0L)))
    val tot = model.agg(sum("ct").as("__tt"), sum("cr").as("__tr"))
    val ppm = model.crossJoin(broadcast(tot))
      .select(col("bucket"),
        expr(s"((ct + 1L) * 1000000L) div (__tt + ${buckets}L)").as("ppm_t"),
        expr(s"((cr + 1L) * 1000000L) div (__tr + ${buckets}L)").as("ppm_r"))
    // keep = above the CORPUS-AVERAGE target lean: after the ln-free
    // rescale an absolute zero crossing is meaningless (the raw model fits
    // raw data better, so the corpus-wide mean sits below zero by
    // construction) — and resampling is relative anyway. Same +1e6 shift
    // before the floor division (scores are in [-1e6, 1e6]).
    val scored = feats.join(broadcast(ppm), "bucket")
      .groupBy("doc_id")
      .agg(sum("n").as("n_tokens"),
        expr("(sum(n * (ppm_t - ppm_r + 1000000L)) div sum(n)) - 1000000L").as("dsir_ppm"))
      .transform(graft.core.CacheScope.persisted)
    val thr = scored.agg(
      expr("(sum(dsir_ppm + 1000000L) div count(1)) - 1000000L").as("__thr"))
    scored.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("n_tokens"), col("dsir_ppm"),
        when(col("dsir_ppm") > col("__thr"), 1).otherwise(0).as("keep"))
  }
}
