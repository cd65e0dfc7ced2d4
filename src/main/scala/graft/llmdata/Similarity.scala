package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Three tiers:
  *  - [[bruteForceTopK]] — exact cosine top-k of a small query set against
  *    the full corpus; the query side is broadcast, so the corpus is
  *    scanned once with zero shuffle (the only wide op is the per-query
  *    top-k, which shuffles k rows per partition after partial ranking).
  *  - [[cosineNearDupPairs]] — exact all-pairs cosine >= threshold; kept as
  *    the correctness baseline, quadratic, only for small verification inputs.
  *  - [[lshTopK]] — random-hyperplane LSH: [[LshPlanes]]-bit (default 32)
  *    signatures via fixed deterministic pseudo-random planes, candidates
  *    from same-bucket (multi-probe over [[LshBandBits]]-bit bands), exact
  *    cosine re-rank of candidates. This is the 100 TB path: bucket join
  *    instead of cross product. Both knobs are per-call parameters (more
  *    band bits = fewer candidates, lower recall); the registered oracle
  *    queries pin the defaults.
  *
  * The dot products run as higher-order-function lambdas over the float
  * arrays, cast to double element-wise so Spark and the DuckDB oracle agree
  * to the last ulp (both sum left-to-right over the same 64 values).
  */
object Similarity {

  /** Pre-normalized view: embedding cast to `array<double>` once plus its
    * L2 norm — so pairwise cosine is a single zip_with dot product. At N²
    * pair volume this cuts 3× off the per-pair lambda work; the oracle does
    * the identical restructure so doubles still match bit-for-bit. */
  def withNorm(embeddings: DataFrame): DataFrame = {
    graft.functions.VectorExprs.register(embeddings.sparkSession)
    embeddings
      .withColumn("ed", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("nrm", expr("sqrt(array_dot(ed, ed))"))
  }

  /** Spark SQL: dot(a,b)/(na*nb) over pre-normalized columns, via the
    * codegen'd [[graft.functions.ArrayDot]] (same add order as the HOF
    * lambda and the DuckDB oracle, ~10× faster at pair volume). */
  def sparkCosPre(a: String, b: String, na: String, nb: String): String =
    s"array_dot($a, $b) / ($na * $nb)"

  /** DuckDB twin of [[sparkCosPre]] (same add order, same division shape). */
  def duckCosPre(a: String, b: String, na: String, nb: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (s, v) -> s + v) / ($na * $nb)"

  /** DuckDB plain dot product with [[graft.functions.ArrayDot]]'s
    * dim-ascending add order (the PCA oracle's building block). */
  def duckDot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (s, v) -> s + v)"

  /** Exact top-k neighbors for each query vector (queries = a filtered
    * subset of the corpus, broadcast). Emits (query_id, rank, neighbor_id)
    * — ids and ranks only, because rank order is ulp-stable across engines
    * while raw doubles in the last digit may not be. */
  def bruteForceTopK(embeddings: DataFrame, nQueries: Int = 8, k: Int = 10): DataFrame =
    topKFrom(withNorm(embeddings), nQueries, k)

  /** Broadcast-queries × corpus-scan top-k over an already-normalized
    * (`ed`, `nrm`) frame — shared by the full-precision and quantized
    * brute-force tiers and the hard-negative band. `skip` drops the first
    * `skip` ranks (0 = plain top-k); the upper bound stays a plain
    * `rank <= hi` conjunct so `InferWindowGroupLimit` still plants the
    * map-side partial top-k — each partition forwards ≤ hi rows per query
    * across the rank exchange regardless of `skip`. */
  private def topKFrom(n: DataFrame, nQueries: Int, k: Int, skip: Int = 0): DataFrame = {
    val queries = n
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("ed").as("q"), col("nrm").as("qn"))
    val scored = broadcast(queries)
      .join(n.select(col("vec_id").as("nn_id"), col("ed").as("e"), col("nrm").as("en")),
        col("query_id") =!= col("nn_id"))
      .withColumn("cos", expr(sparkCosPre("q", "e", "qn", "en")))
    scored
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("cos").desc, col("nn_id").asc)))
      .filter(col("rank") <= (skip + k) && col("rank") > skip)
      .select(col("query_id"), col("rank").cast("bigint").as("rank"), col("nn_id"))
  }

  /** Hard-negative mining for contrastive training: for each query vector,
    * the neighbors ranked (skip, skip+take] by exact cosine — close enough
    * to the query to be informative negatives, far enough that the top
    * `skip` presumed-positives are excluded (the standard rank-band recipe
    * for building contrastive/reranker training pairs). Same broadcast-
    * queries × corpus-scan shape as [[bruteForceTopK]]: one corpus pass,
    * no shuffle before the per-query rank, and the map side still forwards
    * at most skip+take rows per query (WindowGroupLimit applies to the
    * upper rank bound). Emitted `rank` is the ABSOLUTE neighbor rank, so
    * downstream negative-sampling curricula can weight by depth. */
  def hardNegatives(embeddings: DataFrame, nQueries: Int = 8,
                    skip: Int = 10, take: Int = 10): DataFrame =
    topKFrom(withNorm(embeddings), nQueries, take, skip)

  /** Symmetric int8 quantization expression (per-element):
    * q = round(clamp(x·127, [-127, 127])) — shared verbatim shape with the
    * DuckDB twin so both engines quantize identically (round-half-away on
    * doubles in both). Emitted as doubles so the existing codegen'd
    * `array_dot` kernels score quantized vectors unchanged (int products
    * ≤ 127²·64 ≈ 10^6 are exact in double). */
  val QuantizeSql: String =
    "transform(embedding, x -> CAST(CAST(round(greatest(-127.0D, least(127.0D, CAST(x AS DOUBLE) * 127))) AS BIGINT) AS DOUBLE))"

  /** Brute-force top-k over int8-QUANTIZED embeddings — the
    * memory-bandwidth tier: at 100 TB an int8 corpus is 4× less scan
    * bandwidth and 4× more resident vectors per executor-GB, at the cost
    * of quantization noise in the ranking (recall vs the full-precision
    * ranking is graded in the suite; the operator itself is deterministic
    * and oracle-checked exactly). */
  def quantizedTopK(embeddings: DataFrame, nQueries: Int = 8, k: Int = 10): DataFrame = {
    graft.functions.VectorExprs.register(embeddings.sparkSession)
    val n = embeddings
      .withColumn("ed", expr(QuantizeSql))
      .withColumn("nrm", expr("sqrt(array_dot(ed, ed))"))
    topKFrom(n, nQueries, k)
  }

  /** Input-row ceiling for the quadratic verification baseline
    * ([[cosineNearDupPairs]]): 20k rows = 200M pairs, the most a
    * "small verification input" defensibly means. Documented-small-only
    * was not enforced before; now an oversized input fails loudly at
    * plan-build instead of silently launching an N² job. */
  val MaxQuadraticRows = 20000

  /** Fail fast if `embeddings` exceeds `maxRows`. The probe is a
    * `limit(maxRows + 1).count()` — it stops scanning as soon as the limit
    * is reached, so the guard costs a bounded prefix read, never a full
    * pass; that one small job at plan-build time is the explicit price of
    * making the quadratic baseline un-misusable. */
  private def requireSmall(embeddings: DataFrame, maxRows: Int, op: String): Unit = {
    // ScaleGuardRefusal (not a bare require): scale sessions run the whole
    // registry where this refusal is the DESIGNED outcome at sf1+ — the
    // bench harnesses catch the type and record `skipped_guard`, keeping
    // tripped guards distinguishable from real failures in the artifact.
    graft.core.ScaleGuard.require(embeddings.limit(maxRows + 1).count() <= maxRows,
      s"$op is the quadratic all-pairs verification baseline and its input exceeds " +
        s"maxRows=$maxRows; use the LSH bucket path (lshNearDupPairs / lshNearDupAgainst) " +
        s"at scale, or raise maxRows explicitly for a deliberate oversized verification run")
  }

  /** Exact near-duplicate pairs: cosine >= threshold, id_a < id_b.
    * Quadratic — correctness baseline for [[lshTopK]]-style pruning,
    * GUARDED to `maxRows` input rows (see [[MaxQuadraticRows]]); at
    * scale replace the cross join with the LSH bucket join. */
  def cosineNearDupPairs(embeddings: DataFrame, threshold: Double = 0.4,
                         maxRows: Int = MaxQuadraticRows): DataFrame = {
    requireSmall(embeddings, maxRows, "cosineNearDupPairs")
    val e = withNorm(embeddings).select(col("vec_id"), col("ed"), col("nrm"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", expr(sparkCosPre("a.ed", "b.ed", "a.nrm", "b.nrm")))
      .filter(col("cos") >= threshold)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
  }

  /** Zero-pad an embedding column to the signature kernel's pinned
    * [[graft.functions.HashKernels.SigDims]] width so sub-width vectors
    * (e.g. [[Multimodal.featurize]]'s 8-dim features) can enter the LSH
    * path. Zero padding changes neither dot products nor norms — cosines
    * are untouched — while the kernel, which signs any non-64-dim vector
    * out as 0 (one bucket for everything = the quadratic product it exists
    * to avoid, silently), sees full-width vectors with meaningful
    * projections. Already-full-width vectors pass through unchanged
    * (`array_repeat` with a non-positive count is empty). */
  def padToSigDims(embedding: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val ed = transform(embedding, x => x.cast("double"))
    concat(ed, array_repeat(lit(0.0d), lit(graft.functions.HashKernels.SigDims) - size(ed)))
  }

  /** Deterministic pseudo-random hyperplane weight for (plane p, dim d):
    * an LCG step + quadratic mix mapped to [-0.5, 0.5). Fixed integers so
    * both engines (and any future round) reproduce identical planes —
    * MUST stay in lockstep with [[graft.functions.HashKernels.planeWeight]]
    * (see there for why the quadratic step exists: a bare LCG's lattice
    * made the planes directionally clustered and candidate counts
    * quadratic on low-rank inputs). */
  def planeWeightSql(p: String, d: String): String = {
    val s = s"((CAST(1103515245 AS BIGINT) * (($p) * 64 + ($d)) + 12345) % 2147483648)"
    s"(CAST((($s * $s) % 2147483648 * 31 + $s) % 2147483648 AS DOUBLE) / 2147483648.0 - 0.5)"
  }

  val LshPlanes = 32
  val LshBandBits = 4
  val LshBands: Int = LshPlanes / LshBandBits

  /** Banding for CORPUS-WIDE near-dup pairing ([[lshNearDupPairs]],
    * [[lshNearDupAgainst]]): 7 bands × 8 bits off a 56-plane signature
    * (one BIGINT; the codegen'd kernel caps at 63 planes).
    *
    * Why these differ from the top-k knobs above: a pair survives an
    * r-bit band with probability p^r (p = 1 − θ/π), so a CHANCE pair
    * (θ≈90°, p≈½) survives ≥1 of b bands with ≈ b·2^−r — for the
    * query-bounded top-k probe (cost ≤ queries × bucket) the narrow
    * r=4 keeps recall and the cost is bounded anyway, but corpus-wide
    * pairing multiplies that survival by N²/2 candidate pairs. The sf1
    * rehearsal measured it: at r=4, b=8 the chance survival is 8·2⁻⁴ ≈
    * 40% — 81.1 M of 200 M pairs became candidates at 20 k vectors and
    * the "filter" cost 39.5 s where the codegen'd exact product verifies
    * ALL pairs in 6.9 s. r=8 drops chance survival to 7·2⁻⁸ ≈ 2.7%
    * (15×), while true near-dups — the operator's design point, cos ≥
    * 0.9 — still collide on some band with prob ≥ 1−(1−p₁⁸)⁷ ≈ 0.9.
    *
    * The honest scale limit, so nobody rediscovers it: FIXED banding
    * passes a constant FRACTION of chance pairs, so any fixed config is
    * Θ(N²) with a small constant; the classic sub-quadratic regime
    * (candidates ∝ N^(1+ρ), ρ = ln p₁ / ln p₂) needs r to grow with
    * log N and b ≈ N^ρ — which is what the dup family now does by
    * default ([[dupBanding]]; the sf10 decade measured the fixed config
    * at exp 1.33 before the change). These constants remain as the
    * small-corpus anchor of that ladder and as pinned audit configs. And
    * for MODERATE thresholds (cos ≈ 0.4, ρ ≈ 0.67) even adaptive banding
    * is near-quadratic — use the cell-local [[semDedup]] (k ∝ N keeps
    * per-cell cost O(1)) instead of banding there. */
  val LshDupPlanes = 56
  val LshDupBandBits = 8
  val LshDupBands: Int = LshDupPlanes / LshDupBandBits

  /** Bands per band-width for the size-adaptive dup banding: the smallest
    * b with recall ≥ 0.9 at the cos ≥ 0.9 design point (per-plane collision
    * p₁ = 1 − acos(0.9)/π ≈ 0.8564; b = ⌈ln 0.1 / ln(1 − p₁^r)⌉). Grows
    * ≈ N^ρ (ρ ≈ 0.22) as the theory says it must — which is exactly why
    * the packed single-BIGINT signature had to go: b·r reaches 527 planes
    * at the top rung. MUST stay in lockstep with the CASE ladder in the
    * DuckDB twins ([[graft.registry.LlmData]]). */
  val DupBandsFor: Map[Int, Int] = Map(
    8 -> 7, 9 -> 9, 10 -> 10, 11 -> 12, 12 -> 14,
    13 -> 17, 14 -> 19, 15 -> 23, 16 -> 27, 17 -> 31,
    // Third-decade rungs (sf100 rehearsal): same recall-0.9 formula,
    // b = ⌈ln 0.1 / ln(1 − p₁^r)⌉ continued past the former r=17 cap.
    18 -> 37, 19 -> 43, 20 -> 50, 21 -> 59, 22 -> 69, 23 -> 81, 24 -> 94)

  /** Rung exponents of the dup-banding ladder: one rung per doubling of N
    * past 2^11, capping r at 8 + 16 = 24 (n > 2^26 ≈ 67 M vectors — past
    * that, shard). Single-sourced here because the DuckDB twins' CASE
    * ladder must test the IDENTICAL exponent set. */
  val DupRungExps: Range = 11 to 26

  /** Size-adaptive banding for corpus-wide near-dup pairing: (planes,
    * bandBits) as a pure function of corpus size N. Band width r tracks
    * log₂ N (r = 8 + #{k ∈ [11,19] : N > 2^k}, i.e. ceil(log₂ N) − 3
    * clamped to [8, 17]) so the CHANCE-pair survival b·2⁻ʳ decays ∝ 1/N
    * and candidate volume stays ~linear-in-N instead of Θ(N²); bands
    * b = [[DupBandsFor]](r) holds recall ≥ 0.9 at cos 0.9. The ladder is
    * integer-exact comparison arithmetic so the DuckDB twins derive the
    * SAME knobs from `count(*)` — no float log in either engine.
    *
    * Anchors: N ≤ 2048 → 7×8 (the former fixed [[LshDupPlanes]] config, so
    * small-corpus results are unchanged); N = 20 k (sf1) → 14×12; N = 200 k
    * (sf10) → 23×15 — measured motivation in SCALING.md's sf10 decade
    * (fixed 7×8 went exp 1.33 in the second decade; scaled knobs ran the
    * same sf10 workload 7× faster). The sf100 rehearsal extended the
    * rungs through r=24 (sf100's 2 M vectors → 37 bands × 18 bits,
    * measured candidate set 595.5 M = 298/vector vs sf10's 115/vector);
    * the ladder caps at 94×24 past 2^26 ≈ 67 M vectors — beyond that,
    * shard the corpus (the banding is per-shard) or use the cell-local
    * [[semDedup]] (k ∝ N^⅔ with hierarchical assignment). Candidate
    * volume under the ladder grows ∝ N^(1+ρ), ρ = ln p₁ / ln p₂ ≈ 0.22 —
    * mildly super-linear is the THEORETICAL floor for banding at cos 0.9
    * (sf10→sf100 measured 1.41 with correlation mass on top); the
    * exactly-linear alternative at huge N is [[semDedup]]'s cell
    * partitioning, measured 99.8 s at sf100 on the box where the banding
    * candidate distinct exceeded local scratch (SCALING.md's sf100
    * section). */
  def dupBanding(n: Long): (Int, Int) = {
    val r = 8 + DupRungExps.count(k => n > (1L << k))
    (DupBandsFor(r) * r, r)
  }

  /** [[dupBanding]] for CENTERED low-rank inputs (the multimodal feature
    * path): band count stays at 2 — the operator's design point is
    * identical-feature duplicates, which center to identical signatures
    * and collide on every band at any width, so recall on true dups does
    * not pay for width — while width r = 20 + #{k ∈ [10,20] : N > 2^k}
    * (cap 31, one BIGINT-width band) grows with N to push down the
    * chance-alignment fraction that fixed 2×20 banding passes as a
    * constant (measured exp 1.33 over sf1→sf10). N ≤ 1024 → the former
    * fixed 2×20 config. */
  def centeredDupBanding(n: Long): (Int, Int) = {
    val r = 20 + (10 to 20).count(k => n > (1L << k))
    (2 * r, r)
  }

  /** Size-adaptive cell count for [[semDedup]]: k = 16·2^⌈rungs/2⌉ with
    * one rung per doubling of N past 2048 — i.e. k ∝ √N, doubling every
    * OTHER doubling of the corpus. √N (not ∝ N) because flat assignment
    * costs N·k while within-cell pairing costs N²/k: k ∝ √N equalizes
    * them at N^1.5 (the single-level optimum); k ∝ N would just move the
    * quadratic from the pair join to the assignment join. Anchors:
    * N ≤ 2048 → 16 (the former fixed default, so small-corpus results
    * are unchanged), sf1 (20 k) → 64, sf10 (200 k) → 256. Integer-exact
    * comparison-and-shift arithmetic, in lockstep with the CASE ladder
    * in the DuckDB twin. */
  def semDedupCells(n: Long): Int = {
    val rungs = (11 to 25).count(k => n > (1L << k))
    16 << ((rungs + 1) / 2)
  }

  /** [[semDedup]]'s full knob: (kCoarse, kFine). kCoarse = 0 → single-level
    * at [[semDedupCells]](n) cells (every rung up to n = 2^19 — all the
    * scales any oracle or published measurement runs at, so those stay
    * bit-identical). Past 2^19 the sf100 rehearsal showed single-level
    * k-means is the binding constraint, and with hierarchical (coarse ×
    * fine) assignment the per-row cost drops from k to kc + kf ≈ 2√k
    * cosines — which frees the TOTAL cell count to grow ∝ N^(2/3), the
    * two-level balance point (assignment N·√k vs pairing N²/k equalize at
    * k = N^(2/3), total N^(4/3) — vs N^1.5 single-level): k = 2^((2·(11 +
    * rungs)) div 3), split kc = 2^⌈e/2⌉ × kf = 2^⌊e/2⌋. At the 2^25 cap:
    * 256 × 256 = 65 536 cells — the SemDeDup paper's 50 k-cluster regime,
    * reached by ladder instead of by hand. */
  def semDedupKnobs(n: Long): (Int, Int) = {
    val rungs = (11 to 25).count(k => n > (1L << k))
    if (rungs <= 8) (0, semDedupCells(n))
    else {
      val e = (2 * (11 + rungs)) / 3
      (1 << ((e + 1) / 2), 1 << (e / 2))
    }
  }

  /** Keep each row's `keep` best cells by centroid cosine. keep=1 (the
    * assignment hot path: every k-means round, every corpus cell
    * assignment) routes to [[assignArgmax]]; keep>1 (IVF probing — a
    * bounded QUERY set, never the corpus) keeps the broadcast-join +
    * window form. */
  private def nearestCells(side: DataFrame, centroids: DataFrame,
                           idCol: String, keep: Int): DataFrame =
    if (keep == 1) assignArgmax(side, centroids)
    else side.join(broadcast(centroids))
      .withColumn("ccos", expr(sparkCosPre("ed", "ced", "nrm", "cnrm")))
      .withColumn("__r", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(idCol).orderBy(col("ccos").desc, col("cell").asc)))
      .filter(col("__r") <= keep)
      .drop("ced", "cnrm", "ccos", "__r")

  /** Argmax cell assignment as ONE codegen'd projection — the sf100
    * rehearsal's headline fix. The former shape (broadcast nested-loop
    * join → per-id window) materializes N·k rows and SHUFFLES them for
    * the row_number: at 20 M vectors × 2048 cells that is 4·10¹⁰ rows
    * through an exchange — the run the rehearsal had to kill. Packing the
    * centroid set into one broadcast ARRAY and folding the argmax inside
    * a `transform`+`array_max` projection keeps the plan at N rows, zero
    * shuffle, N·k·d flops in whole-stage codegen — the shape that scales
    * to any k a broadcast can hold.
    *
    * Value-identical to the window form, tie-for-tie: `array_max` on
    * (ccos, −cell) structs picks the highest cosine and, on exact ties,
    * the LOWEST cell — the window's (ccos DESC, cell ASC) order. A NULL
    * cosine (zero norm) coalesces to −2.0, strictly below any real
    * cosine, replicating the window's NULLS-LAST default. Spec-pinned
    * against the window form; every existing oracle row (e_kmeans,
    * e_semdedup, e_ivf_*) re-verifies the swap end-to-end. */
  private[llmdata] def assignArgmax(side: DataFrame, centroids: DataFrame): DataFrame = {
    val packed = broadcast(centroids.agg(
      expr("array_sort(collect_list(struct(cell, ced, cnrm)))").as("__cents")))
    side.crossJoin(packed)
      .withColumn("__best", expr(
        "array_max(transform(__cents, c -> struct(" +
          s"coalesce(${sparkCosPre("ed", "c.ced", "nrm", "c.cnrm")}, CAST(-2.0 AS DOUBLE)) AS ccos, " +
          "-c.cell AS ncell)))"))
      .withColumn("cell", expr("CAST(-__best.ncell AS INT)"))
      .drop("__cents", "__best")
  }

  /** Deterministic spherical k-means: seeds = the first `nCells` vectors by
    * id (no driver action — plan-build touches no data), then `iters`
    * rounds of (argmax-cosine assignment → per-cell mean). Returns
    * (cell, ced: array<double>, cnrm).
    *
    * The per-(cell, dim) mean folds over the SORTED value list (same
    * rationale as [[labelCentroids]]): float addition is non-associative, so
    * a hash-aggregate's run-dependent reduction order would make trained
    * centroids un-oracle-able. Sorting pins one canonical order, so both
    * engines produce bit-identical doubles. Cost: each (cell, dim) group
    * collects its members' values — fine for nCells×64 groups of
    * corpus/nCells values at verification scale; at 100 TB train on a
    * sample (IVF centroids never need the full corpus) or swap the fold
    * for a plain `avg` when last-bit reproducibility isn't required.
    *
    * A cell that captures no vectors in an iteration drops out (both
    * engines agree: empty groups produce no row). */
  def kmeansCentroids(embeddings: DataFrame, nCells: Int = 16, iters: Int = 1): DataFrame = {
    val n = withNorm(embeddings)
    val seeds = n.filter(col("vec_id") < nCells)
      .select(col("vec_id").cast("int").as("cell"), col("ed").as("ced"), col("nrm").as("cnrm"))
    (1 to iters).foldLeft(seeds) { (cents, _) =>
      nearestCells(n, cents, "vec_id", 1)
        .select(col("cell"), posexplode(col("ed")))
        .select(col("cell"), col("pos"), col("col").as("v"))
        .groupBy("cell", "pos")
        .agg(
          expr("aggregate(array_sort(collect_list(v)), cast(0.0 as double), (s, x) -> s + x)").as("__s"),
          count(lit(1)).as("__n"))
        .withColumn("m", col("__s") / col("__n"))
        .groupBy("cell")
        // array_sort on (pos, m) structs orders by pos (distinct), so the
        // rebuilt vector is positionally exact.
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)").as("ced"))
        .withColumn("cnrm", expr("sqrt(array_dot(ced, ced))"))
        .select("cell", "ced", "cnrm")
    }
  }

  /** IVF (inverted-file) top-k — the third ANN tier: partition the corpus
    * into cells around coarse centroids, probe only the query's nearest
    * cells, exact-rerank inside them.
    *
    * Build: centroids trained by [[kmeansCentroids]] (deterministic seeds +
    * `kmeansIters` Lloyd rounds — no driver-side action anywhere, the whole
    * operator is one lazy plan); each vector keeps its argmax-cosine cell.
    * Probe: each query keeps its `nProbe` best cells, then scores only
    * vectors in those cells.
    *
    * Scale shape: the corpus is scanned once per training round plus once
    * for assignment (broadcast join + per-key window), and queries touch
    * ~nProbe/nCells of the corpus — the standard recall/cost knob pair
    * (nCells ↑ = cheaper probes, nProbe ↑ = better recall). All
    * deterministic, so the DuckDB oracle replicates it exactly. */
  def ivfTopK(embeddings: DataFrame, nQueries: Int = 8, k: Int = 10,
              nCells: Int = 16, nProbe: Int = 2, kmeansIters: Int = 1): DataFrame = {
    val n = withNorm(embeddings)
    // Persisted: the (≤ nCells)-row centroid set feeds BOTH the corpus
    // assignment and the query probe — unpersisted, the whole training
    // tower (corpus scan per Lloyd round) would execute twice.
    val centroids = graft.core.CacheScope.persisted(
      kmeansCentroids(embeddings, nCells, kmeansIters))
    val w = org.apache.spark.sql.expressions.Window
    val assigned = nearestCells(n, centroids, "vec_id", 1)
    val queries = nearestCells(n.filter(col("vec_id") < nQueries), centroids, "vec_id", nProbe)
      .select(col("vec_id").as("query_id"), col("ed").as("q"), col("nrm").as("qn"), col("cell"))
    broadcast(queries)
      .join(assigned.select(col("vec_id").as("nn_id"), col("ed").as("e"), col("nrm").as("en"), col("cell")),
        Seq("cell"))
      .filter(col("query_id") =!= col("nn_id"))
      .withColumn("cos", expr(sparkCosPre("q", "e", "qn", "en")))
      .withColumn("rank",
        row_number().over(w.partitionBy("query_id").orderBy(col("cos").desc, col("nn_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("bigint").as("rank"), col("nn_id"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-partition the
    * embedding space, then near-dup detect only WITHIN each cluster —
    * pairwise cosine work drops from N² to sum of per-cell sizes², the
    * published recipe for semantic dedup at web-corpus scale (the paper
    * runs 50k clusters over LAION embeddings for exactly this reason).
    *
    * Returns the REMOVED rows (cell, vec_id): a vector is removed iff some
    * lower-id vector in its cell scores cosine >= `threshold` against it
    * (deterministic min-id keeper — the paper found the choice of keeper
    * within a duplicate group doesn't matter). Near-dups that straddle a
    * cell boundary are NOT found — the method's documented recall
    * trade-off (spec-pinned; raise nCells overlap or run LSH for
    * boundary-blind dedup).
    *
    * Scale shape: centroids train on [[kmeansCentroids]] (sample-trainable
    * at 100 TB), assignment is one broadcast join + per-id argmax, and the
    * pair join shuffles on `cell` — each reducer sees one cell's members.
    * The default cell count is SIZE-ADAPTIVE ([[semDedupCells]]): fixed
    * cells mean cell population ∝ N and within-cell pairing Θ(N²) — the
    * sf10 decade measured exp 1.51 at the former fixed 16. The ladder
    * grows k ∝ √N, balancing the two cost terms (flat assignment N·k vs
    * pairing N²/k — both N^1.5 at k ∝ √N, the best a single-level
    * clustering can do; the next decade's fix is hierarchical assignment,
    * coarse√k × fine√k, which restores k ∝ N with N·√k assignment). The
    * assigned frame is persisted: it self-joins (a/b sides), and
    * unpinned the whole k-means tower would execute twice. */
  def semDedup(embeddings: DataFrame, threshold: Double = 0.4,
               nCells: Int = 0, kmeansIters: Int = 1, nHint: Long = 0L): DataFrame = {
    // Adaptive-knob sizing, cheapest evidence first: a caller-supplied
    // `nHint` (parquet footer counts via ParquetMeta / TableStats rows —
    // metadata, no corpus scan) wins; absent that, one count job sizes
    // the knobs (withNorm drops no rows, so counting the raw frame is
    // identical). At 100 TB the hint path is the difference between
    // "choose knobs from the catalog" and "scan the corpus once just to
    // size the cells".
    // Knob selection BEFORE any persist: when the knobs route to the
    // hierarchical path, semDedupHier/hierAssign persist their own norm
    // frame — persisting one here first would leave a dead corpus-sized
    // cache registration (and, on the nHint=0 fallback, materialize it
    // solely to pick knobs) exactly at the scale where memory is
    // tightest. The hint-less count runs on the UNPERSISTED frame; only
    // the single-level branch, which reuses the frame for assignment,
    // pays the persist.
    val (kc, kf) = if (nCells > 0) (0, nCells)
      else semDedupKnobs(if (nHint > 0) nHint else withNorm(embeddings).count())
    if (kc > 0) semDedupHier(embeddings, threshold, kc, kf, kmeansIters)
    else {
      val n = graft.core.CacheScope.persisted(withNorm(embeddings))
      val centroids = graft.core.CacheScope.persisted(
        kmeansCentroids(embeddings, kf, kmeansIters))
      val assigned = graft.core.CacheScope.persisted(
        nearestCells(n, centroids, "vec_id", 1)
          .select(col("cell"), col("vec_id"), col("ed"), col("nrm")))
      withinCellPairs(assigned, threshold)
    }
  }

  /** The within-cell half of SemDeDup, shared by the single-level and
    * hierarchical variants: self-join on `cell`, lower-id keeper, exact
    * cosine verify — removed = distinct (cell, higher id). */
  private def withinCellPairs(assigned: DataFrame, threshold: Double): DataFrame = {
    val a = assigned.select(col("cell"), col("vec_id").as("id_a"),
      col("ed").as("ea"), col("nrm").as("na"))
    a.join(assigned, Seq("cell"))
      .filter(col("id_a") < col("vec_id"))
      .filter(expr(sparkCosPre("ea", "ed", "na", "nrm")) >= threshold)
      .select(col("cell"), col("vec_id"))
      .distinct()
  }

  /** Hierarchical (coarse × fine) cell assignment: train kCoarse top-level
    * centroids ([[kmeansCentroids]] — deterministic seeds + Lloyd rounds),
    * assign every vector to its coarse cell, then train kFine centroids
    * WITHIN each coarse cell (seeds = the cell's first kFine ids by
    * vec_id, same sorted-fold means) and assign within-cell. Final cell
    * id = ccell · kFine + fcell.
    *
    * Scale shape: both assignment levels are [[assignArgmax]] projections
    * (zero shuffle, N·kc + N·kf cosines); the fine level's centroid set is
    * grouped into per-coarse-cell arrays and BROADCAST-hash-joined on
    * `ccell`, so each row folds only its own cell's kFine candidates —
    * never the full kc·kf set. That is what makes total cell counts
    * ∝ N^(2/3) affordable ([[semDedupKnobs]]): per-row work is 2√k
    * cosines, and the kc·kf centroid table (≤ 65 536 × 64 doubles ≈
    * 34 MB at the ladder cap) still broadcasts. Fine training cost is one
    * explode + sorted-fold per (ccell, fcell, dim) group, same as the
    * flat trainer's per-(cell, dim). */
  def hierAssign(embeddings: DataFrame, kCoarse: Int, kFine: Int,
                 kmeansIters: Int = 1): DataFrame = {
    require(kCoarse > 0 && kFine > 0, "hierAssign needs both levels > 0")
    val n = graft.core.CacheScope.persisted(withNorm(embeddings))
    val coarse = graft.core.CacheScope.persisted(
      kmeansCentroids(embeddings, kCoarse, kmeansIters))
    val cAsg = graft.core.CacheScope.persisted(
      nearestCells(n, coarse, "vec_id", 1)
        .select(col("cell").as("ccell"), col("vec_id"), col("ed"), col("nrm")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("ccell").orderBy("vec_id")
    val seeds = cAsg.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= kFine)
      .select(col("ccell"), (col("__r") - 1).cast("int").as("cell"),
        col("ed").as("ced"), col("nrm").as("cnrm"))
    val fine = (1 to kmeansIters).foldLeft(seeds) { (cents, _) =>
      assignFine(cAsg, cents)
        .select(col("ccell"), col("cell"), posexplode(col("ed")))
        .select(col("ccell"), col("cell"), col("pos"), col("col").as("v"))
        .groupBy("ccell", "cell", "pos")
        .agg(
          expr("aggregate(array_sort(collect_list(v)), cast(0.0 as double), (s, x) -> s + x)").as("__s"),
          count(lit(1)).as("__n"))
        .withColumn("m", col("__s") / col("__n"))
        .groupBy("ccell", "cell")
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)").as("ced"))
        .withColumn("cnrm", expr("sqrt(array_dot(ced, ced))"))
        .select("ccell", "cell", "ced", "cnrm")
    }
    assignFine(cAsg, fine)
      .select((col("ccell").cast("bigint") * kFine + col("cell")).as("cell"),
        col("vec_id"), col("ed"), col("nrm"))
  }

  /** [[assignArgmax]] at the fine level: fine centroids packed into one
    * sorted array PER COARSE CELL, broadcast-joined on `ccell` — each row
    * sees only its own coarse cell's kFine candidates. Same (ccos, −cell)
    * argmax, so tie-breaks match the window form exactly. */
  private def assignFine(side: DataFrame, fineCents: DataFrame): DataFrame = {
    val packed = broadcast(fineCents.groupBy("ccell")
      .agg(expr("array_sort(collect_list(struct(cell, ced, cnrm)))").as("__cents")))
    side.join(packed, Seq("ccell"))
      .withColumn("__best", expr(
        "array_max(transform(__cents, c -> struct(" +
          s"coalesce(${sparkCosPre("ed", "c.ced", "nrm", "c.cnrm")}, CAST(-2.0 AS DOUBLE)) AS ccos, " +
          "-c.cell AS ncell)))"))
      .withColumn("cell", expr("CAST(-__best.ncell AS INT)"))
      .drop("__cents", "__best")
  }

  /** SemDeDup with two-level cells — [[semDedup]] delegates here past the
    * [[semDedupKnobs]] boundary (n > 2^19); also directly callable with
    * pinned knobs (the `e_semdedup_h` oracle row runs 4 × 4 over the
    * fixture so the hierarchical math is cross-engine-verified at a scale
    * DuckDB can replay). Same removed-rows contract as [[semDedup]];
    * near-dups straddling a FINE cell boundary are missed, same as the
    * flat variant's documented recall trade. */
  def semDedupHier(embeddings: DataFrame, threshold: Double = 0.4,
                   kCoarse: Int = 4, kFine: Int = 4,
                   kmeansIters: Int = 1): DataFrame = {
    val assigned = graft.core.CacheScope.persisted(
      hierAssign(embeddings, kCoarse, kFine, kmeansIters))
    withinCellPairs(assigned, threshold)
  }

  /** Build and STORE an IVF index: centroids (tiny, one parquet) plus the
    * cell-assigned corpus, partitioned on disk by `cell`. The in-plan
    * [[ivfTopK]] retrains per query — right for verification, wrong for a
    * serving corpus where one index amortizes over every query batch. The
    * layout is the point at scale: `cell` is a Hive partition column, so a
    * probe reads ONLY its cells' directories (see [[ivfTopKFromIndex]]) —
    * the inverted-file structure is expressed as data layout and enforced
    * by the planner, not by operator code. Doubles round-trip parquet
    * bit-exactly, so index-served results equal the in-plan operator's
    * (spec-pinned) and the same DuckDB oracle applies. */
  def buildIvfIndex(embeddings: DataFrame, indexDir: String,
                    nCells: Int = 16, kmeansIters: Int = 1): Unit = {
    val centroids = graft.core.CacheScope.persisted(
      kmeansCentroids(embeddings, nCells, kmeansIters))
    nearestCells(withNorm(embeddings), centroids, "vec_id", 1)
      .select(col("vec_id"), col("ed"), col("nrm"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$indexDir/vectors")
    centroids.write.mode("overwrite").parquet(s"$indexDir/centroids")
  }

  /** Incremental index maintenance: assign NEW vectors against the STORED
    * (frozen) centroids and append them to their cells' partitions — the
    * serving-corpus growth path ([[buildIvfIndex]] retrains; this never
    * does). Assignment math is identical to build time (stored doubles are
    * bit-exact), so an index grown by appends equals one built over the
    * union with the same centroids — spec-pinned, and `e_ivf_incr`
    * oracle-checks a build-half/append-half round trip end to end.
    * Retraining cadence (append drift vs rebuild cost) stays a caller
    * policy, exactly as with any IVF system. */
  def appendToIvfIndex(newVectors: DataFrame, indexDir: String): Unit = {
    val spark = newVectors.sparkSession
    graft.functions.VectorExprs.register(spark)
    val centroids = spark.read.parquet(s"$indexDir/centroids")
    nearestCells(withNorm(newVectors), centroids, "vec_id", 1)
      .select(col("vec_id"), col("ed"), col("nrm"), col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$indexDir/vectors")
  }

  /** Serve top-k from a stored IVF index ([[buildIvfIndex]] layout).
    * Queries pick their `nProbe` best cells against the (broadcast-sized)
    * stored centroids; the probe join keys on the PARTITION column, so
    * dynamic partition pruning turns it into a scan of just the probed
    * cells' directories — at 100 TB the read is nProbe/nCells of the
    * corpus, decided at runtime from the query batch, with zero operator
    * code (plan-spec pins the `dynamicpruning` filter). */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                       queries: DataFrame, k: Int = 10, nProbe: Int = 2): DataFrame = {
    graft.functions.VectorExprs.register(spark)
    val centroids = spark.read.parquet(s"$indexDir/centroids")
    val probes = nearestCells(withNorm(queries), centroids, "vec_id", nProbe)
      .select(col("vec_id").as("query_id"), col("ed").as("q"), col("nrm").as("qn"), col("cell"))
    val vectors = spark.read.parquet(s"$indexDir/vectors")
      .select(col("vec_id").as("nn_id"), col("ed").as("e"), col("nrm").as("en"), col("cell"))
    val w = org.apache.spark.sql.expressions.Window
    broadcast(probes)
      .join(vectors, Seq("cell"))
      .filter(col("query_id") =!= col("nn_id"))
      .withColumn("cos", expr(sparkCosPre("q", "e", "qn", "en")))
      .withColumn("rank",
        row_number().over(w.partitionBy("query_id").orderBy(col("cos").desc, col("nn_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("bigint").as("rank"), col("nn_id"))
  }

  /** Plane weight (p, d) — delegates to the shared kernel
    * ([[graft.functions.HashKernels.planeWeight]]) so the expression, this
    * builder, and the oracle all use one definition. */
  def planeWeight(p: Int, d: Int): Double =
    graft.functions.HashKernels.planeWeight(p, d)

  /** `planes`-bit hyperplane signature over the `ed` column — the codegen'd
    * [[graft.functions.ArrayHyperplaneSig]] kernel (one static call in the
    * generated code; the literal-plane form it replaced inlined planes×64
    * double literals and cost ~2 s of janino compile per cold query).
    *
    * `sigCenterDims`/`sigCenterAt`: optionally subtract a constant from the
    * first `sigCenterDims` dims BEFORE signing (candidate generation only —
    * verify cosines always score the raw vectors). Random-hyperplane
    * signatures separate by ANGLE AROUND THE ORIGIN, so a corpus confined
    * to the positive orthant (e.g. [[Multimodal.featurize]]'s per-dim
    * uniform-[0,1) hash features) is near-parallel as the planes see it and
    * banding prunes nothing: round 5 measured 94.5% of all pairs surviving
    * as candidates — all-pairs plus banding overhead. Centering each dim at
    * its population mean spreads directions over the whole sphere and
    * restores the banding's selectivity. Centering is a per-vector affine
    * shift: vectors that are near-identical raw stay near-identical
    * centered, so high-threshold near-dup recall is preserved. */
  private def lshSigExpr(planes: Int, sigCenterDims: Int, sigCenterAt: Double): String =
    if (sigCenterDims <= 0) s"hyperplane_sig(ed, $planes)"
    else s"hyperplane_sig(transform(ed, (x, i) -> IF(i < $sigCenterDims, x - ${sigCenterAt}D, x)), $planes)"

  /** Explode a packed-BIGINT signature column into the canonical band
    * frame — unpacks `__sig` into a band-value array, then routes through
    * [[explodeWithPrefix]] so candidates off this form carry the same
    * exactly-once earlier-bands prefix as [[bandsOf]]'s. */
  private def explodeBands(sig: DataFrame, planes: Int, bandBits: Int): DataFrame = {
    // Range check FIRST: bandBits=0 would hit the modulo below as a bare
    // ArithmeticException instead of this guard's message.
    require(bandBits >= 1 && bandBits <= 63, s"bandBits $bandBits out of [1, 63]")
    require(planes % bandBits == 0, s"planes $planes not divisible by bandBits $bandBits")
    // The mask must be built in Long space: `1 << 32` wraps to 1 in Int
    // (JVM shifts are mod 32), so an Int mask at bandBits=32 would be 0 —
    // every row in one bucket, the quadratic product back again, silently.
    val bands = planes / bandBits
    explodeWithPrefix(sig.select(col("vec_id"),
      expr(s"transform(sequence(0, ${bands - 1}), c -> (__sig >> (c * $bandBits)) & ${(1L << bandBits) - 1}L)")
        .as("__bands")))
  }

  /** The canonical exploded band frame off a (vec_id, __bands) signature
    * frame: one row per (vec_id, band) with the bucket key (band,
    * band_val) PLUS `__pre`, the row's strictly-earlier band values
    * (`slice(__bands, 1, band)`). `__pre` is what makes candidate
    * emission exactly-once WITHOUT a distinct pass (the
    * [[graft.core.RangeJoin.intervalOverlap]] idiom): two rows colliding
    * on (band, band_val) keep the pair only when NO earlier band also
    * matches — a pure predicate over the two prefixes
    * ([[noEarlierSharedBand]]), so the former 595 M-row candidate hash
    * aggregate (measured ~50 GB of spilled state at sf100, the one
    * single-box ceiling in the three-decade record) disappears
    * entirely; the candidate stream flows straight into the verify join.
    * The trade: the band shuffle carries the prefix (≤ 8·bands bytes/row,
    * ~half on average) instead of bare (vec_id, band, band_val) — linear
    * in N·bands either way, vs the deleted aggregate whose state was
    * linear in CANDIDATE PAIRS (the N^1.22-floor banding stream).
    * NULL band values (the hot-bucket cap's masked entries — see
    * [[lshNearDupPairs]]) generate no candidate rows, and the null-safe
    * prefix compare never counts them as an earlier match. */
  private def explodeWithPrefix(sig: DataFrame): DataFrame =
    sig.select(col("*"), posexplode(col("__bands")))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_val"))
      .filter(col("band_val").isNotNull)
      .withColumn("__pre", expr("slice(__bands, 1, band)"))
      .drop("__bands")

  /** Exactly-once gate for band-bucket collisions: TRUE iff none of the
    * two rows' strictly-earlier bands also collide, so of all buckets a
    * pair shares, only the FIRST emits it. `coalesce(x = y, false)`
    * (not `<=>`): a masked NULL entry is "bucket dropped", which must
    * neither match anything (NULL <=> NULL would) nor poison `exists`
    * into three-valued NULL (bare `=` would). */
  private def noEarlierSharedBand(aPre: String, bPre: String): Column =
    !expr(s"exists(zip_with($aPre, $bPre, (x, y) -> coalesce(x = y, false)), m -> m)")

  /** Normalized frame + band-bucket frame for one embedding set — the ONE
    * construction of the LSH banding pipeline (used by [[lshCandidates]],
    * [[lshNearDupPairs]], [[lshNearDupAgainst]]). Band values are computed
    * PER BAND via the codegen'd `hyperplane_sig_at` kernel (band c = bits
    * of planes [c·r, (c+1)·r)) — bit-identical to extracting the same
    * range from the packed `hyperplane_sig` BIGINT wherever both exist,
    * but total planes (bands × bits) is bounded by the plane table
    * (1024), not by 63 signature bits: the size-adaptive [[dupBanding]]
    * needs 345 planes at 200 k vectors. The narrow (vec_id, __bands)
    * frame — 8·b bytes/row — is persisted so the signature kernel runs
    * once however many times the bands are consumed; the exploded band
    * form is deliberately NOT cached (re-running posexplode off the
    * cached arrays beats materializing it at corpus scale). `persistNorm`
    * additionally caches the normalized vectors when the caller
    * re-attaches them repeatedly. */
  private def normAndBands(embs: DataFrame, planes: Int, bandBits: Int,
                           persistNorm: Boolean,
                           sigCenterDims: Int = 0, sigCenterAt: Double = 0.0): (DataFrame, DataFrame) = {
    val n0 = withNorm(embs)
    val n = if (persistNorm) graft.core.CacheScope.persisted(n0) else n0
    (n, bandsOf(n, planes, bandBits, sigCenterDims, sigCenterAt))
  }

  /** The band-bucket frame (vec_id, band, band_val, __pre) off a
    * pre-normalized frame — see [[normAndBands]] and [[explodeWithPrefix]]
    * (`__pre` is the exactly-once emission prefix). Split out so callers
    * that resolve size-adaptive knobs from a count of the SAME persisted
    * frame don't build the normalization twice. */
  private def bandsOf(n: DataFrame, planes: Int, bandBits: Int,
                      sigCenterDims: Int, sigCenterAt: Double): DataFrame = {
    require(bandBits >= 1 && bandBits <= 63, s"bandBits $bandBits out of [1, 63]")
    require(planes % bandBits == 0, s"planes $planes not divisible by bandBits $bandBits")
    require(planes <= graft.functions.HashKernels.MaxPlanes,
      s"planes $planes exceeds the plane table (${graft.functions.HashKernels.MaxPlanes})")
    val bands = planes / bandBits
    // Center ONCE into a scratch column (not per band): at 31 bands the
    // centering lambda would otherwise be codegen'd 31×.
    val src =
      if (sigCenterDims <= 0) n.withColumn("__ced", col("ed"))
      else n.withColumn("__ced",
        expr(s"transform(ed, (x, i) -> IF(i < $sigCenterDims, x - ${sigCenterAt}D, x))"))
    val arr = (0 until bands)
      .map(c => s"hyperplane_sig_at(__ced, ${c * bandBits}, $bandBits)")
      .mkString("array(", ", ", ")")
    val sig = graft.core.CacheScope.persisted(
      src.withColumn("__bands", expr(arr)).select("vec_id", "__bands"))
    explodeWithPrefix(sig)
  }

  /** Distinct-by-construction (query_id, nn_id) LSH candidate pairs — the bucket join that
    * replaces the brute-force cross product. Public so the banding
    * knob's cost (candidate fraction) can be graded directly. */
  def lshCandidates(embeddings: DataFrame, nQueries: Int = 8,
                    planes: Int = LshPlanes, bandBits: Int = LshBandBits,
                    sigCenterDims: Int = 0, sigCenterAt: Double = 0.0): DataFrame = {
    val (_, bands) = normAndBands(embeddings, planes, bandBits, persistNorm = false,
      sigCenterDims, sigCenterAt)
    val qBands = bands.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("band"), col("band_val"),
        col("__pre").as("__pre_q"))
    // Exactly-once per (query, neighbor): a pair colliding in k bands is
    // kept only in the first ([[noEarlierSharedBand]]) — no candidate
    // dedup aggregate, and only 16-byte id pairs reach the vector
    // re-attach, never the 512-byte embedding arrays.
    broadcast(qBands)
      .join(bands.select(col("vec_id").as("nn_id"), col("band"), col("band_val"),
          col("__pre")),
        Seq("band", "band_val"))
      .filter(col("query_id") =!= col("nn_id")
        && noEarlierSharedBand("__pre_q", "__pre"))
      .select("query_id", "nn_id")
  }

  def lshTopK(embeddings: DataFrame, nQueries: Int = 8, k: Int = 10,
              planes: Int = LshPlanes, bandBits: Int = LshBandBits,
              sigCenterDims: Int = 0, sigCenterAt: Double = 0.0): DataFrame =
    exactRerank(lshCandidates(embeddings, nQueries, planes, bandBits,
      sigCenterDims, sigCenterAt), withNorm(embeddings), k)

  /** The exact-cosine re-rank tail shared by every (query_id, nn_id)
    * candidate retrieval ([[lshTopK]], [[lshTopKMultiProbe]]): re-attach
    * full vectors, score, per-query (cos desc, nn_id) rank, cut at k.
    * ONE definition so the tie-break/rank contract the DuckDB twins
    * assume cannot fork between operators. */
  private def exactRerank(cand: DataFrame, n: DataFrame, k: Int): DataFrame =
    cand
      .join(n.select(col("vec_id").as("query_id"), col("ed").as("q"), col("nrm").as("qn")), "query_id")
      .join(n.select(col("vec_id").as("nn_id"), col("ed").as("e"), col("nrm").as("en")), "nn_id")
      .withColumn("cos", expr(sparkCosPre("q", "e", "qn", "en")))
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("cos").desc, col("nn_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("bigint").as("rank"), col("nn_id"))

  /** Multi-probe LSH top-k (Lv, Josephson, Wang, Charikar & Li, VLDB
    * 2007, "Multi-probe LSH") — the PROBE axis of the ANN family, beside
    * hash (L11), partition (IVF), dimension (RP) and memory (PQ): instead
    * of buying recall with MORE bands (more signature memory, more
    * exchange volume for the corpus side), each query additionally probes
    * the buckets adjacent to its own. This variant probes the full
    * Hamming-1 perturbation set: per band, the query's own bucket plus
    * the `bandBits` buckets with one sign bit flipped — a vector near the
    * query that lands across ONE hyperplane (the dominant miss mode at
    * high cosine: each plane independently splits a near pair with small
    * probability, two simultaneous splits are quadratically rarer) is
    * recovered without any new corpus-side state. Lv et al.'s refinement
    * orders perturbations by boundary distance to cut the probe list; at
    * r = 4-bit bands the full Hamming-1 set is 5 probes — enumeration
    * IS the practical form, and keeps the operator RNG- and
    * projection-free.
    *
    * Cost shape: the CORPUS side is byte-identical to [[lshTopK]]'s band
    * frame (same signatures, same exchange); only the broadcast query
    * side fans out ×(bandBits+1). Candidates stay bucket-local and
    * exactly-once: within a band the probe values are pairwise distinct
    * (so at most one matches a given corpus bucket), and across bands a
    * pair is kept only when no EARLIER band already matched — the
    * [[noEarlierSharedBand]] idiom with the collision test widened to
    * `bit_count(q_band XOR nn_band) <= 1` (the semantic characterization
    * of "some probe of q's band hits nn's bucket"), which is also how the
    * DuckDB twin states the whole candidate set declaratively. Measured
    * at sf0.01 (500 vectors, 32 planes, 8×4 bands, MultiProbeSpec):
    * recall@10 0.688 → 1.000 for 2.29× the candidate volume (1651 → 3776
    * query-neighbor pairs — at 500 vectors the Hamming-1 ball reaches
    * ~95% of the corpus, so the fixture measures the recall mechanism,
    * not production selectivity; the structural bounds are what scale:
    * query-side fan-out ×(bandBits+1), corpus side untouched). */
  def lshTopKMultiProbe(embeddings: DataFrame, nQueries: Int = 8, k: Int = 10,
                        planes: Int = LshPlanes, bandBits: Int = LshBandBits): DataFrame = {
    val (n, bands) = normAndBands(embeddings, planes, bandBits, persistNorm = false)
    val probeVals = (0 to bandBits).map {
      case 0 => col("band_val")
      case j => expr(s"band_val ^ ${1L << (j - 1)}L")
    }
    val qProbes = bands.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("band"),
        col("__pre").as("__pre_q"), explode(array(probeVals: _*)).as("band_val"))
    val cand = broadcast(qProbes)
      .join(bands.select(col("vec_id").as("nn_id"), col("band"), col("band_val"),
          col("__pre")),
        Seq("band", "band_val"))
      .filter(col("query_id") =!= col("nn_id")
        && noEarlierProbedBand("__pre_q", "__pre"))
      .select("query_id", "nn_id")
    exactRerank(cand, n, k)
  }

  /** [[noEarlierSharedBand]] for the multi-probe collision test: an
    * earlier band "already matched" when the two band values are within
    * Hamming distance 1 — q's probe set at that band is exactly its
    * value's Hamming-1 ball, so ball membership ⟺ some earlier probe
    * collided. Same NULL discipline (a masked bucket matches nothing and
    * cannot poison `exists`). */
  private def noEarlierProbedBand(aPre: String, bPre: String): Column =
    !expr(s"exists(zip_with($aPre, $bPre, (x, y) -> coalesce(bit_count(x ^ y) <= 1, false)), m -> m)")

  /** Exactly-once within-set candidate pairs (id_a < id_b) from a band
    * frame — the bucket self-join at the heart of [[lshNearDupPairs]].
    * A pair sharing k bands is produced by the join k times but KEPT only
    * in the first shared band ([[noEarlierSharedBand]] over the rows'
    * `__pre` prefixes), so the output is distinct by construction and
    * streams straight into the verify join — no candidate-wide
    * aggregation state anywhere (the former `.distinct()` here was the
    * sf100-measured ~50 GB spill and the library's one single-box
    * ceiling). */
  private def pairCandIds(bands: DataFrame): DataFrame =
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_val") === col("b.band_val")
          && col("a.vec_id") < col("b.vec_id")
          && noEarlierSharedBand("a.__pre", "b.__pre"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))

  /** BUCKET-LOCAL seed scoring for [[knnGraph]]: [[pairCandIds]]'s
    * exactly-once band-bucket self-join with the exact cosine computed
    * INSIDE the join, where the colliding vectors are already co-located
    * — emits (src, dst, cos) in canonical (lo, hi) order directly.
    *
    * Why this is the 100 TB shape of graph seeding: unlike the near-dup
    * family (whose verify emits only the rare pairs above a threshold),
    * the graph build must SCORE every banding candidate to rank top-k,
    * so the former join-form seed ([[seedPairsJoinForm]]) shipped the
    * FULL candidate stream through a pair×vector-bytes re-attach
    * exchange — measured at 2 M vectors (~2-3·10⁸ candidates by the
    * [[knnBanding]] occupancy ladder) as a >78 GB scratch overflow, the
    * library's one remaining single-box wall. Here the only exchange
    * carrying vectors is the band frame itself — bands × N rows, ~16×
    * less at 2 M × 8 bands — and the candidate pairs are born 24 B/row
    * scored rows inside the join's output projection, never exchanged
    * with vectors attached. The same property makes it the cluster
    * shape: the candidate stream never exists as an exchanged dataset.
    *
    * Bit-identity contract (KnnSeedScoreSpec pins it): the join predicate
    * is [[pairCandIds]]'s — same band values (the [[bandsOf]] kernel on
    * uncentered `ed`), same exactly-once first-shared-band gate — and the
    * cosine is [[sparkCosPre]] with the same (lo, hi) operand order as
    * [[scoreEdges]]'s src/dst attach, so edge set AND doubles match the
    * join form bit for bit. NULL embeddings produce no band rows in
    * either form (null signatures are filtered by [[explodeWithPrefix]]),
    * so the forms agree on degenerate inputs too.
    *
    * Returns (scored, cache): the bucket-keyed band+vector frame is
    * persisted and returned for the caller to release once the scored
    * frame has materialized. */
  private[llmdata] def scoreSeedPairsInBuckets(n: DataFrame, planes: Int,
                                               bandBits: Int): (DataFrame, DataFrame) = {
    require(bandBits >= 1 && bandBits <= 63, s"bandBits $bandBits out of [1, 63]")
    require(planes % bandBits == 0, s"planes $planes not divisible by bandBits $bandBits")
    require(planes <= graft.functions.HashKernels.MaxPlanes,
      s"planes $planes exceeds the plane table (${graft.functions.HashKernels.MaxPlanes})")
    val bands = planes / bandBits
    val arr = (0 until bands)
      .map(c => s"hyperplane_sig_at(ed, ${c * bandBits}, $bandBits)")
      .mkString("array(", ", ", ")")
    // The exploded band+vector frame is repartitioned ONCE by the bucket
    // key and persisted WITH that partitioning (cached plans keep their
    // outputPartitioning): both self-join sides then read the cache
    // co-partitioned and the join inserts ZERO further exchanges — the
    // vectors cross exactly one shuffle, by construction, instead of
    // relying on AQE stage reuse to dedup two identical exchanges
    // (measured: reuse does NOT fire across the self-join's sides — the
    // canonicalized cache scans differ — so the naive form shuffles the
    // bands×N vector rows twice). The cache holds bands×N rows (the
    // exchange's own volume, ~10 GB at 2 M × 8 bands, MEMORY_AND_DISK);
    // that is the price of writing the shuffle once and reading it twice,
    // and the caller frees it as soon as the scored frame materializes.
    val bv = graft.core.CacheScope.persisted(
      n.withColumn("__bands", expr(arr))
        .select(col("vec_id"), col("ed"), col("nrm"), col("__bands"),
          posexplode(col("__bands")))
        .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_val"))
        .filter(col("band_val").isNotNull)
        .withColumn("__pre", expr("slice(__bands, 1, band)"))
        .drop("__bands")
        .repartition(col("band"), col("band_val")))
    val scored = bv.as("a").join(bv.as("b"),
        col("a.band") === col("b.band") && col("a.band_val") === col("b.band_val")
          && col("a.vec_id") < col("b.vec_id")
          && noEarlierSharedBand("a.__pre", "b.__pre"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        expr(sparkCosPre("a.ed", "b.ed", "a.nrm", "b.nrm")).as("cos"))
    (scored, bv)
  }

  /** The former JOIN-FORM seed scorer — banding candidates through
    * [[scoreEdges]]'s two vector re-attach hash joins — the bit-identity
    * reference for [[scoreSeedPairsInBuckets]] (KnnSeedScoreSpec compares
    * edge sets and cosine bits) AND the seed of [[knnGraph]]'s LIGHT
    * small-N shape ([[KnnLightMaxN]]): below the gate the bucket cache's
    * fixed stages cost more than the re-attach they avoid. `bcast` (the
    * light shape sets it) broadcasts the band frame's build side —
    * at gated N the whole frame is ~1 MB, so the self-join plans with
    * ZERO exchanges instead of two, which is most of what the small-N
    * floor was made of (each exchange is an AQE stage-job plus a driver
    * re-optimization round). */
  private[llmdata] def seedPairsJoinForm(n: DataFrame, planes: Int,
                                         bandBits: Int,
                                         bcast: Boolean = false): DataFrame = {
    val bands = bandsOf(n, planes, bandBits, 0, 0.0)
    val pairs = bands.as("a")
      .join(if (bcast) broadcast(bands.as("b")) else bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_val") === col("b.band_val")
          && col("a.vec_id") < col("b.vec_id")
          && noEarlierSharedBand("a.__pre", "b.__pre"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
    scoreEdges(pairs, n, bcast = bcast)
  }

  /** The candidate PAIRS a given banding config would verify — public so
    * banding selectivity (candidate count / N·(N−1)/2) is a measurable,
    * regression-testable quantity per config instead of a buried cost.
    * Same construction as [[lshNearDupPairs]] minus the verify step. */
  def lshPairCandidates(embeddings: DataFrame,
                        planes: Int = LshPlanes, bandBits: Int = LshBandBits,
                        sigCenterDims: Int = 0, sigCenterAt: Double = 0.0): DataFrame = {
    val (_, bands) = normAndBands(embeddings, planes, bandBits, persistNorm = false,
      sigCenterDims, sigCenterAt)
    pairCandIds(bands)
  }

  /** [[lshPairCandidates]] for SEVERAL band widths off ONE signature pass:
    * the persisted (vec_id, __sig) frame is computed once; each width
    * re-runs only the shift-and-mask explode and bucket self-join. The
    * selectivity audit measures k configs for one scan-and-sign, not k. */
  def lshPairCandidatesByWidth(embeddings: DataFrame, planes: Int,
                               bandWidths: Seq[Int],
                               sigCenterDims: Int = 0, sigCenterAt: Double = 0.0): Seq[(Int, DataFrame)] = {
    val sig = graft.core.CacheScope.persisted(
      withNorm(embeddings)
        .withColumn("__sig", expr(lshSigExpr(planes, sigCenterDims, sigCenterAt)))
        .select("vec_id", "__sig"))
    bandWidths.map(b => b -> pairCandIds(explodeBands(sig, planes, b)))
  }

  /** Banding ladder for k-NN GRAPH seeding — a different objective than
    * [[dupBanding]]'s high-threshold recall: the graph wants every node
    * to meet a ROUGHLY CONSTANT number of bucket-mates (enough seeds for
    * NN-Descent to refine, few enough that candidates stay linear), so
    * band width tracks log N directly: 8 bands of `4 + #{k ∈ 9..20 :
    * n > 2^k}` bits — expected bucket occupancy n/2^r stays ~16-32 at
    * every scale, candidate volume ~bands · N · occupancy/2 stays Θ(N).
    * At n ≤ 512 this resolves to the [[LshPlanes]]×[[LshBandBits]]
    * (32, 4) config the e_lsh_topk oracle machinery already mirrors. */
  val KnnRungExps: Seq[Int] = 9 to 40
  val KnnBands: Int = 8
  def knnBanding(n: Long): (Int, Int) = {
    val r = 4 + KnnRungExps.count(k => n > (1L << k))
    (KnnBands * r, r)
  }

  /** k-NN GRAPH construction — the graph axis of the ANN family (hash
    * L11, partition IVF, dimension RP, memory PQ, probe L114 answer
    * QUERIES; this materializes every node's k nearest neighbors as an
    * edge set, the input the cluster family — `c_clusters`,
    * `c_keepbest`, SemDeDup-style curation — consumes). LSH-seeded
    * NN-Descent (Dong, Moses & Li, WWW 2011): band buckets propose the
    * initial neighbor lists, then each refinement round offers every
    * node its neighbors' neighbors — the "a neighbor of my neighbor is
    * probably my neighbor" closure that recovers edges the hash seeding
    * missed — and the per-node top-k keeps the best k by exact cosine.
    *
    * Determinism / oracle form: no RNG anywhere (the LSH planes are the
    * shared LCG table, NN-Descent's usual random init replaced by the
    * banding seeds), ranks tie-break on neighbor id, and every cosine is
    * the exact [[sparkCosPre]] fold — so the DuckDB twin reproduces the
    * whole graph bit-for-bit, stating candidates declaratively (pairs
    * sharing ≥ 1 band; neighbors-of-neighbors via a pivot self-join)
    * where Spark streams exactly-once band collisions.
    *
    * Scale shape: seeding is BUCKET-LOCAL ([[scoreSeedPairsInBuckets]])
    * — exactly-once band collisions scored inside the bucket self-join
    * where the colliding vectors are co-located, so the seed's only
    * vector-carrying exchange is bands × N rows and the Θ(N)-by-ladder
    * candidate stream is born as 24 B/row scored pairs (the former
    * join-form re-attach shipped candidates × vector bytes and walled
    * this box at 2 M vectors). Each refinement round is
    * bounded by STRUCTURE, not data: the general-neighbor frame B caps
    * both directions at k (forward ranks + reverse edges re-capped at k
    * per node), so the pivot self-join emits ≤ 4k² candidates per node
    * and the round's `distinct` state is ≤ N·(2k)² edge ids — a
    * k-budgeted bound, unlike the banding family's skew-exposed
    * streams. Pairs are scored ONCE in canonical (lo, hi) order (cosine
    * is symmetric bit-for-bit) and mirrored before ranking. Refinement
    * scoring is PIVOT-LOCAL by default (the seed's bucket trick applied
    * to NN-Descent: dst vectors ride the ≤ 2k·N neighbor frame into a
    * pivot-co-partitioned cache, proposals are scored inline by the
    * pivot self-join, known edges reuse their stored cosines — no pair
    * ever crosses an exchange with a vector attached).
    * One round is the registered default: seeds at constant occupancy
    * already give high recall and each extra round costs a full
    * score-and-rank pass (the WWW 2011 convergence loop is for random
    * init, where round 1 starts from nothing). Measured across decades
    * (r13 sweep, 1 000-node exact ground truth, isotropic fixture):
    * round 1 buys +0.014 recall at 20 k (2.4 → 4.6 s) and +0.004 at
    * 200 k (8.4 → 18.9 s); round 2 buys +0.004 / +0.0004 more for
    * another ~1.5–2× wall — on isotropic data the closure has little to
    * propagate (near-zero clustering coefficient), so rounds ≥ 2 are for
    * CLUSTERED corpora only (where round 1 measures +0.054, see
    * KnnGraphSpec's clustered case). Note the isotropic fixture's
    * absolute recall FALLS with scale (0.76 at 500 → 0.11 at 20 k →
    * 0.048 at 200 k): constant-occupancy banding holds candidate volume
    * linear by raising band bits with log N, while the true-neighbor
    * angle barely shrinks — the standard LSH trade, which clustered
    * (real-corpus) neighbors at high cosine do not pay. */
  def knnGraph(embeddings: DataFrame, k: Int = 5,
               planes: Int = 0, bandBits: Int = 0,
               nHint: Long = 0L, descentRounds: Int = 1): DataFrame =
    knnGraphRankedShaped(embeddings, k, planes, bandBits, nHint, descentRounds,
      lightOverride = None).drop("cos")

  /** [[knnGraph]] keeping each edge's exact cosine — the public form of
    * [[knnGraphRankedShaped]] for consumers that VERIFY or WEIGHT the
    * graph's edges (the mutual-kNN chain behind every x_knn_* row). The
    * ranking already scored every edge with the exact [[sparkCosPre]]
    * fold in canonical (lo, hi) operand order, so downstream
    * threshold/weight logic can reuse the stored double instead of
    * re-attaching vectors and recomputing it — bit-identical by the same
    * contract the stored-graph lifecycle relies on
    * ([[buildKnnGraphIndex]] persists exactly these cosines). Emits
    * (vec_id, nn_id, cos). */
  def knnGraphWithCos(embeddings: DataFrame, k: Int = 5,
                      nHint: Long = 0L, descentRounds: Int = 1): DataFrame =
    knnGraphRankedShaped(embeddings, k, 0, 0, nHint, descentRounds,
      lightOverride = None)
      .select(col("vec_id"), col("nn_id"), col("cos"))

  /** Corpus-size gate for [[knnGraph]]'s scoring machinery. At or below
    * this many vectors the bucket-local persist-and-materialize shape's
    * FIXED costs — the band repartition into the co-partitioned cache,
    * one eager materialization per round, the pivot-vector cache — are
    * ~15 tiny stages of pure scheduling floor that dwarf the work they
    * exist to bound (measured at 2 000 vectors: 3.9 → 7.5 s in-session
    * when the machinery landed; it pays for itself from 20 k vectors up —
    * sf10 3.2× faster, sf100 crash → 362 s). Below the gate the operator
    * runs LIGHT: join-form seed ([[seedPairsJoinForm]] — no band
    * repartition into a persisted bucket cache) and join re-attach
    * refinement scoring (no pivot-vector cache) — the pre-bucket-rework
    * shape that measured 3.9 s at 2 000 vectors. The per-round eager
    * materialization stays in BOTH shapes: a lazy persist does not dedup
    * a diamond within one job, so a fully-lazy build re-runs the scoring
    * subplan per reference (measured slower than the heavy shape it
    * meant to trim). The light and heavy shapes are bit-identical
    * (KnnSeedScoreSpec pins the seed pair, KnnShapeGateSpec pins
    * whole-graph equality across the gate), so the gate moves TIME only,
    * never answers — the stats-as-data idiom [[semDedupKnobs]] set,
    * applied to plan shape. */
  val KnnLightMaxN: Long = 1L << 14

  /** [[knnGraph]] keeping each edge's exact cosine, with the size gate
    * overridable. The cosine is the form the stored-graph lifecycle needs
    * ([[buildKnnGraphIndex]]): an append merges new candidate edges
    * against the STORED scores, so the store must carry them (re-scoring
    * the whole graph per append would be the rebuild the increment exists
    * to avoid). `lightOverride` forces the light (`Some(true)`) or heavy
    * (`Some(false)`) shape regardless of corpus size, so specs can pin
    * shape equality at fixture scale. `None` = gate on `nEff` vs
    * [[KnnLightMaxN]]; a pinned-config call without a hint (nEff = 0)
    * takes the heavy shape — the gate never spends a count job the
    * operator wasn't already spending. */
  private[llmdata] def knnGraphRankedShaped(embeddings: DataFrame, k: Int,
               planes: Int, bandBits: Int,
               nHint: Long, descentRounds: Int,
               lightOverride: Option[Boolean]): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(descentRounds >= 0, s"descentRounds must be >= 0, got $descentRounds")
    require((planes > 0) == (bandBits > 0),
      s"planes and bandBits pin a config together (got planes=$planes, bandBits=$bandBits); leave both 0 for size-adaptive banding")
    val n = graft.core.CacheScope.persisted(withNorm(embeddings))
    val nEff = if (nHint > 0) nHint else if (planes > 0) 0L else n.count()
    val (p, r) = if (planes > 0) (planes, bandBits) else knnBanding(nEff)
    // Scoring shapes, all bit-identical (KnnSeedScoreSpec / KnnShapeGateSpec):
    //  - SEED, default: bucket-local ([[scoreSeedPairsInBuckets]]) — the
    //    cosine is computed INSIDE the band-bucket self-join where the
    //    colliding vectors are already co-located, so the exchange is
    //    bands × N vector rows and the candidate stream never exists as
    //    an exchanged dataset. The former join-form seed shipped every
    //    candidate through a pair×vector-bytes re-attach (~2-3·10⁸ pairs
    //    at 2 M vectors = the measured >78 GB sf100 wall); it survives as
    //    [[seedPairsJoinForm]], the bit-identity reference and the light seed.
    //  - REFINEMENT: pivot-local by default (below); the light shape
    //    scores the k-budgeted (≤ N·(2k²+k) pairs) pool through
    //    [[scoreEdges]]' join re-attach.
    val light = lightOverride.getOrElse(nEff > 0 && nEff <= KnnLightMaxN)
    // Cosine is symmetric (bit-identical either way: per-dim products
    // commute, the fold order over dims is fixed), so every pair is
    // scored ONCE in canonical (lo, hi) order and the scored frame is
    // mirrored before ranking — the expensive vector-attached stage
    // halves; only the cheap 3-column mirror feeds the top-k window.
    // rankMirrored persists the scored frame (unpersisted, both union
    // branches re-evaluate the whole scoring subplan — double the attach
    // compute AND double the live shuffle files; measured at sf10 as a
    // >78 GB scratch overflow), EAGERLY materializes the top-k (the
    // count's work is the first consumption's, done once and cached),
    // then frees the scored diamond — so per-round intermediates never
    // outlive their round (the former lazy form leaked one
    // MEMORY_AND_DISK scored frame per round for the session). The
    // eager materialization holds in BOTH shapes: a lazy persist does
    // NOT dedup a diamond within a single job (branches of one DAG can
    // compute a cached partition before any branch has stored it), so a
    // fully-lazy small-N build re-ran the scoring subplan per reference —
    // measured SLOWER than the heavy shape it meant to trim (7.1 s
    // e_knn_graph / 11.1 s x_knn_clusters at sf0.1 vs 7.0 / 9.6 heavy).
    def rankMirrored(sc0: DataFrame): DataFrame = {
      val sc = graft.core.CacheScope.persisted(sc0)
      val ranked = topKEdges(
        sc.union(sc.select(col("dst").as("src"), col("src").as("dst"), col("cos"))), k)
      // Eager localCheckpoint in BOTH shapes — the same materialization
      // barrier the former persist+count gave, plus lineage TRUNCATION,
      // which is load-bearing twice over: at gated N the driver-side
      // re-planning of the deep tree was a measured third of the wall
      // (~2.4 s of the 5.8 s build), and with descentRounds >= 2 the
      // plan EMBEDS the previous round ~12× per round — round 2 carried
      // ~144 copies of the seed subtree through Catalyst and measured
      // 657 s at sf1 where round 1 took 9.6 s, pure analysis cost (the
      // pathology x_knn_clusters' composition already checkpoints away).
      // The ranked graph is N·k 32-byte rows at ANY scale (~300 MB at
      // 2 M vectors), so the checkpointed blocks are never the footprint
      // problem the per-stage caches are. Trade: checkpoint blocks are
      // non-recomputable — an executor loss mid-build fails the job
      // instead of recomputing a stage; acceptable for a graph BUILD
      // (idempotent, caller retries), and the alternative is exponential
      // planning above one round.
      val g = ranked.transform(graft.core.Lineage.truncate)
      sc.unpersist(blocking = false)
      g
    }
    var g = {
      if (light)
        // Join-form seed: at gated N the candidate stream is small enough
        // to re-attach vectors to (KnnSeedScoreSpec pins it bit-identical
        // to the bucket form), and skipping the band repartition + bucket
        // cache saves their fixed stages. Broadcast hints (bcast) plan
        // the self-join and both re-attaches exchange-free.
        rankMirrored(seedPairsJoinForm(n, p, r, bcast = true))
      else {
        val (sc0, seedCache) = scoreSeedPairsInBuckets(n, p, r)
        val g0 = rankMirrored(sc0)
        // rankMirrored materialized the seed top-k, so the scorer's
        // signature cache is no longer reachable from any live plan.
        seedCache.unpersist(blocking = false)
        g0
      }
    }
    (1 to descentRounds).foreach { _ =>
      var pivotCache: Option[DataFrame] = None
      val bySrc = org.apache.spark.sql.expressions.Window
        .partitionBy("src").orderBy(col("cos").desc, col("dst").asc)
      // Reverse edges re-capped at k per node: without the cap a hub's
      // in-degree would make its pivot fan-out data-dependent (the
      // NN-Descent papers' reverse-sample rho*k, taken deterministically
      // as the top-k by the same (cos desc, id) order as forward ranks).
      val revK = g.select(col("dst").as("src"), col("src").as("dst"), col("cos"))
        .withColumn("__rr", row_number().over(bySrc))
        .filter(col("__rr") <= k)
      // b keeps each edge's cos: the known edges re-enter the pool with
      // their STORED scores (scored canonically in (lo, hi) order by the
      // seed/previous round, so the stored double is bit-identical to a
      // rescore) — the former shape dropped cos here and re-attached
      // vectors to re-score every known edge. distinct over the 3-col
      // frame equals the old 2-col distinct: a (src, dst) present from
      // both g and revK carries the same cos.
      val b = graft.core.CacheScope.persisted(
        g.select("src", "dst", "cos").union(revK.select("src", "dst", "cos")).distinct())
      // Candidate pairs are UNDIRECTED (each offers both endpoints a
      // neighbor — Dong et al.'s formulation): the pivot emits each dst
      // pair once (x.dst < y.dst, not !=), the general-neighbor frame
      // canonicalizes, and the mirror above restores both directions at
      // rank time. Pivot fan-out stays bounded by the DIRECTED b (both
      // caps at k), ≤ 2k² canonical pairs per pivot node.
      val bU = b.select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"), col("cos"))
      val pool =
        if (light) {
          // LIGHT shape: propose id pairs, dedup, and score them with the
          // join re-attach ([[scoreEdges]]): at gated N the k-budgeted
          // pool is small enough that the pivot cache's repartition +
          // persist are pure floor, and the join form is the established
          // bit-identity reference for the pivot-local scores (cos is a
          // pure function of the pair, canonical (lo, hi) operand order
          // on every path). Broadcasting the k-budgeted (≤ 2k·N-row)
          // build sides plans the proposal self-join and the re-attach
          // exchange-free.
          val c1 = b.as("x").join(broadcast(b.as("y")),
              col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
            .select(col("x.dst").as("src"), col("y.dst").as("dst"))
          scoreEdges(bU.select("src", "dst").union(c1).distinct(), n, bcast = true)
        } else {
          // PIVOT-LOCAL proposal scoring (the seed's bucket-local trick
          // applied to NN-Descent): proposals are generated per pivot
          // node, so attach the dst VECTORS to the ≤ 2k·N neighbor frame
          // ONCE and co-partition it by pivot — the pivot self-join then
          // plans zero live exchanges and scores each proposal inline,
          // emitting 24 B/row (src, dst, cos) directly. The former shape
          // shipped the ~N·2k² deduped pool through scoreEdges' two-join
          // re-attach at pair×vector bytes — the measured exp-1.37 leg of
          // the sf100 run (the seed's wall one decade later). Duplicate
          // proposals (several pivots proposing the same pair, or a
          // proposal duplicating a known edge) collapse in the 3-col
          // distinct below: the cosine is a pure function of the pair
          // (canonical operand order both paths), so distinct-by-pair ≡
          // distinct-by-(pair, cos), and scoring before dedup trades a
          // few duplicate 64-dim dot products for never exchanging a
          // vector attached to a pair.
          val bv = graft.core.CacheScope.persisted(
            b.select("src", "dst")
              .join(n.select(col("vec_id").as("dst"), col("ed"), col("nrm")), "dst")
              .repartition(col("src")))
          val proposals = bv.as("x").join(bv.as("y"),
              col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
            .select(col("x.dst").as("src"), col("y.dst").as("dst"),
              expr(sparkCosPre("x.ed", "y.ed", "x.nrm", "y.nrm")).as("cos"))
          pivotCache = Some(bv)
          // One row per (src, dst) STRUCTURALLY (max-of-group over the
          // pair key), not by relying on the 3-col distinct collapsing
          // stored and inline-recomputed cosines: the bit-identity
          // contract holds today (cos is a pure function of the pair,
          // canonical operand order on both paths — max of identical
          // values IS the value, so this aggregate equals the former
          // distinct row-for-row), but a future ulp divergence on one
          // path would have silently emitted duplicate (src, dst) rows
          // into every affected node's top-k. Same shuffle as the
          // distinct (keyed narrower); a divergence now surfaces as a
          // deterministic pick, never a corrupted graph.
          bU.union(proposals).groupBy("src", "dst").agg(max("cos").as("cos"))
        }
      // rankMirrored materialized g2 — b/bv can be freed without their
      // lineage (the whole previous round) ever re-running. The previous
      // g is localCheckpointed (non-recomputable): its N·k-row blocks are
      // left to the ContextCleaner instead of an unpersist that would
      // only trade a WARN for a few MB.
      val g2 = rankMirrored(pool)
      b.unpersist(blocking = false)
      pivotCache.foreach(_.unpersist(blocking = false))
      g = g2
    }
    // The final g is materialized (eager checkpoint), so the norm frame
    // is no longer reachable from the returned plan — free it here rather
    // than leaking it to the session (the returned frame's own
    // checkpointed blocks are N·k rows, reaped with the frame).
    n.unpersist(blocking = false)
    g.select(col("src").as("vec_id"), col("rank"), col("dst").as("nn_id"), col("cos"))
  }

  /** Build + STORE a k-NN graph index — the graph axis joining the
    * build/store/serve + APPEND lifecycle every other index family
    * already has (IVF [[buildIvfIndex]]/[[appendToIvfIndex]], PQ
    * [[buildPqIndex]], the dedup signature store): a production corpus
    * ingests continuously, and rebuilding a multi-million-node graph per
    * batch is exactly the cost an index exists to amortize. Layout:
    *  - `corpus/` (vec_id, ed, nrm, __bands): vectors + packed band
    *    values under the FROZEN banding config — the band signatures ARE
    *    the seed structure ([[scoreSeedPairsInBuckets]]'s band frame is
    *    precisely the storable artifact), so an append can propose
    *    old×new candidates without re-signing the corpus;
    *  - `edges/` (vec_id, rank, nn_id, cos): the ranked graph WITH exact
    *    cosines, so appends merge against stored scores instead of
    *    re-scoring every known edge;
    *  - `meta/` (planes, band_bits, k): the frozen config appends must
    *    reuse — a batch signed under a different banding would collide in
    *    different buckets than the stored signatures and propose noise.
    * Doubles round-trip parquet bit-exactly, so a served graph equals the
    * in-plan operator's (the IVF/PQ store contract). */
  def buildKnnGraphIndex(embeddings: DataFrame, indexDir: String, k: Int = 5,
                         nHint: Long = 0L, descentRounds: Int = 1): Unit = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    graft.functions.VectorExprs.register(spark)
    val n = graft.core.CacheScope.persisted(withNorm(embeddings))
    val nEff = if (nHint > 0) nHint else n.count()
    val (p, r) = knnBanding(nEff)
    val arr = (0 until p / r).map(c => s"hyperplane_sig_at(ed, ${c * r}, $r)")
      .mkString("array(", ", ", ")")
    n.withColumn("__bands", expr(arr))
      .select("vec_id", "ed", "nrm", "__bands")
      .write.mode("overwrite").parquet(s"$indexDir/corpus")
    knnGraphRankedShaped(embeddings, k, p, r, nEff, descentRounds,
        lightOverride = None)
      .write.mode("overwrite").parquet(s"$indexDir/edges")
    Seq((p, r, k)).toDF("planes", "band_bits", "k")
      .write.mode("overwrite").parquet(s"$indexDir/meta")
    n.unpersist(blocking = false)
  }

  /** Incremental k-NN graph maintenance (`e_knn_incr`): append a batch of
    * NEW vectors to a stored graph WITHOUT re-pairing the stored corpus
    * against itself — the increment the other index families' appends
    * already deliver ([[appendToIvfIndex]], [[appendToPqIndex]],
    * CorpusOps' stored dedup index).
    *
    * Deterministic dataflow (the e_knn_incr oracle twins it CTE for CTE):
    *  1. Sign the batch under the STORED frozen config; candidates are
    *     exactly-once band collisions with ≥ 1 NEW endpoint — old×old
    *     never re-pairs, which is the increment's whole saving.
    *  2. Merge: stored edges (canonical direction, STORED cosines — the
    *     reason edges/ carries cos) ∪ the scored new candidates → each
    *     node's top-k.
    *  3. ONE NN-Descent round restricted to AFFECTED pivots (endpoints of
    *     new candidate pairs): unaffected neighborhoods are already the
    *     stored, refined ones, so re-proposing from them would re-run the
    *     full build's round for zero recall gain.
    *
    * Scale shape: the band self-join is the seed's bucketized equi-join —
    * the stored band frame crosses once at 24 B/row (no vectors), and the
    * candidate stream is Θ(batch × occupancy × bands) — proportional to
    * the BATCH, not the corpus (callers split giant backfills into
    * batches, the same policy as every append family). Vector bytes
    * attach only to the batch-bounded candidate ids and the k-budgeted
    * affected-pivot pool. Append drift vs rebuild cadence stays a caller
    * policy, exactly as with IVF/PQ retraining (KnnIncrSpec pins the
    * appended graph's recall against the full rebuild's).
    *
    * Small-N shape: like the build, the append gates its machinery on
    * corpus size ([[KnnLightMaxN]], post-append count from footer stats +
    * one batch count) — below the gate both scoring stages take the
    * build's LIGHT form (broadcast join-form re-attach, no bucket/pivot
    * caches), whose per-stage costs are right-sized when the whole corpus
    * is broadcast-sized; at or above it the bucket-/pivot-local shape
    * below is unchanged. Bit-identity across the gate is spec-pinned
    * (KnnIncrSpec "append shapes agree bit for bit"). */
  def appendToKnnGraphIndex(newVectors: DataFrame, indexDir: String): Unit =
    appendToKnnGraphIndexShaped(newVectors, indexDir, lightOverride = None)

  /** [[appendToKnnGraphIndex]] with the size gate overridable — the
    * bit-identity spec forces BOTH shapes on one fixture so the gate can
    * only ever move time, never answers. */
  private[llmdata] def appendToKnnGraphIndexShaped(newVectors: DataFrame,
      indexDir: String, lightOverride: Option[Boolean]): Unit = {
    val spark = newVectors.sparkSession
    graft.functions.VectorExprs.register(spark)
    val meta = spark.read.parquet(s"$indexDir/meta").collect()(0)
    val p = meta.getAs[Int]("planes"); val r = meta.getAs[Int]("band_bits")
    val k = meta.getAs[Int]("k")
    val arr = (0 until p / r).map(c => s"hyperplane_sig_at(ed, ${c * r}, $r)")
      .mkString("array(", ", ", ")")
    val nw = graft.core.CacheScope.persisted(
      withNorm(newVectors).withColumn("__bands", expr(arr))
        .select("vec_id", "ed", "nrm", "__bands"))
    // The gate reads the stored corpus size from parquet footers (no
    // scan) and counts only the BATCH — which also materializes the nw
    // cache it would fill on first use anyway.
    val light = lightOverride.getOrElse(
      graft.sources.ParquetMeta.footerRows(spark, s"$indexDir/corpus")
        + nw.count() <= KnnLightMaxN)
    val all = graft.core.CacheScope.persisted(
      spark.read.parquet(s"$indexDir/corpus").withColumn("__new", lit(false))
        .unionByName(nw.withColumn("__new", lit(true))))
    val n = all.select("vec_id", "ed", "nrm")
    // BUCKET-LOCAL candidate scoring (the [[scoreSeedPairsInBuckets]]
    // shape, with the ≥1-new gate added): vectors ride the band frame
    // once into a bucket-co-partitioned cache and every candidate is born
    // a 24 B scored row inside the self-join. The join-form re-attach it
    // replaces ships candidates × vector bytes — measured on a
    // stress-sized batch (90% of the sf10 corpus appended at once:
    // ~5·10⁸ exactly-once candidates), the re-attach filled 70 GB of
    // shuffle scratch and died while the bucket-local form completes;
    // a nominal batch never generates that volume (candidates are
    // Θ(batch × occupancy × bands)), but append batch size is CALLER
    // data, and the scoring shape should not have a batch-size cliff the
    // build already solved. Exactly the wall r12 removed from the build.
    val (scoredNew, bandCache) =
      if (light) {
        // LIGHT: the build's join-form seed with the ≥1-new gate — a
        // broadcast band self-join on ids proposes the candidates, then
        // scoreEdges' broadcast re-attach scores them; zero live
        // exchanges, no bucket cache. Bit-identical to the bucket form
        // (same predicate, same canonical (lo, hi) cosine).
        val bandsAll = explodeWithPrefix(
          all.select(col("vec_id"), col("__new"), col("__bands")))
        val pairs = bandsAll.as("a").join(broadcast(bandsAll.as("b")),
            col("a.band") === col("b.band") && col("a.band_val") === col("b.band_val")
              && col("a.vec_id") < col("b.vec_id")
              && noEarlierSharedBand("a.__pre", "b.__pre")
              && (col("a.__new") || col("b.__new")))
          .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
        (graft.core.CacheScope.persisted(scoreEdges(pairs, n, bcast = true)),
          Option.empty[DataFrame])
      } else {
        val bv = graft.core.CacheScope.persisted(
          explodeWithPrefix(all.select(col("vec_id"), col("ed"), col("nrm"),
              col("__new"), col("__bands")))
            .repartition(col("band"), col("band_val")))
        (graft.core.CacheScope.persisted(
          bv.as("a").join(bv.as("b"),
              col("a.band") === col("b.band") && col("a.band_val") === col("b.band_val")
                && col("a.vec_id") < col("b.vec_id")
                && noEarlierSharedBand("a.__pre", "b.__pre")
                && (col("a.__new") || col("b.__new")))
            .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
              expr(sparkCosPre("a.ed", "b.ed", "a.nrm", "b.nrm")).as("cos"))),
          Some(bv))
      }
    // Stored edges are mirrored+ranked; fold back to one canonical row per
    // pair (a pair ranked from only one side still yields its canonical
    // row). Disjoint from scoredNew by construction (stored = old×old,
    // scoredNew has a new endpoint), so the union needs no dedup.
    val storedCan = spark.read.parquet(s"$indexDir/edges")
      .select(least(col("vec_id"), col("nn_id")).as("src"),
        greatest(col("vec_id"), col("nn_id")).as("dst"), col("cos"))
      .distinct()
    // Same rank helper as the build's, with the build's lineage
    // truncation: each rank stage's output is a checkpointed leaf, so the
    // refinement's plans (which reference the merge output many times)
    // never re-optimize the whole append underneath them — measured on an
    // sf1 stress append (90% of the corpus in one batch): 112 s with the
    // persist+count form, 17 s with the checkpointed leaves, same data.
    def rankMirroredK(sc0: DataFrame): DataFrame = {
      val sc = graft.core.CacheScope.persisted(sc0)
      val g = topKEdges(
        sc.union(sc.select(col("dst").as("src"), col("src").as("dst"), col("cos"))), k)
        .transform(graft.core.Lineage.truncate)
      sc.unpersist(blocking = false)
      g
    }
    val g1 = rankMirroredK(storedCan.union(scoredNew))
    bandCache.foreach(_.unpersist(blocking = false))
    val bySrc = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("cos").desc, col("dst").asc)
    val revK = g1.select(col("dst").as("src"), col("src").as("dst"), col("cos"))
      .withColumn("__rr", row_number().over(bySrc))
      .filter(col("__rr") <= k)
    val b = graft.core.CacheScope.persisted(
      g1.select("src", "dst", "cos").union(revK.select("src", "dst", "cos")).distinct())
    // Known edges re-enter the pool with their STORED cosines (canonical
    // order — bit-identical to a rescore), exactly as in the build.
    val bU = b.select(least(col("src"), col("dst")).as("src"),
      greatest(col("src"), col("dst")).as("dst"), col("cos"))
    val aff = scoredNew.select("src")
      .union(scoredNew.select(col("dst").as("src"))).distinct()
    val bAff = b.join(aff, Seq("src"), "left_semi")
    // PIVOT-LOCAL proposal scoring restricted to affected pivots — the
    // build's refinement shape: dst vectors ride the ≤ 2k·|affected|
    // neighbor frame into a pivot-co-partitioned cache, proposals are
    // scored inline by the pivot self-join (never exchanged with a
    // vector attached), and the per-(src, dst) uniqueness is structural
    // (max-of-group over the pair key, ≡ the former distinct since cos
    // is a pure function of the pair).
    val g2 =
      if (light) {
        // LIGHT: the build's light pool — id pairs from a broadcast pivot
        // self-join, known edges re-entering as ids, one distinct, then
        // the broadcast re-attach rescore. Rescoring a stored edge is
        // bit-identical to reusing its stored cosine (pure function of
        // the pair, canonical operand order, doubles round-trip parquet
        // exactly), so this equals the heavy merge row for row.
        val c1 = bAff.as("x").join(broadcast(bAff.as("y")),
            col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
          .select(col("x.dst").as("src"), col("y.dst").as("dst"))
        rankMirroredK(scoreEdges(
          bU.select("src", "dst").union(c1).distinct(), n, bcast = true))
      } else {
        val bvp = graft.core.CacheScope.persisted(
          bAff.select("src", "dst")
            .join(n.select(col("vec_id").as("dst"), col("ed"), col("nrm")), "dst")
            .repartition(col("src")))
        val proposals = bvp.as("x").join(bvp.as("y"),
            col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
          .select(col("x.dst").as("src"), col("y.dst").as("dst"),
            expr(sparkCosPre("x.ed", "y.ed", "x.nrm", "y.nrm")).as("cos"))
        val g2h = rankMirroredK(
          bU.union(proposals).groupBy("src", "dst").agg(max("cos").as("cos")))
        bvp.unpersist(blocking = false)
        g2h
      }
    // g2 is a checkpointed LEAF (rankMirroredK), so the overwrite below
    // has no dependency on the edges/ files it replaces — the write job
    // reads materialized blocks (N·k ranked rows, the store's own size).
    g2.select(col("src").as("vec_id"), col("rank"),
        col("dst").as("nn_id"), col("cos"))
      .write.mode("overwrite").parquet(s"$indexDir/edges")
    nw.write.mode("append").parquet(s"$indexDir/corpus")
    // g1/g2 are checkpointed (non-recomputable) — left to the
    // ContextCleaner, as in the build.
    Seq(b, scoredNew, all, nw).foreach(_.unpersist(blocking = false))
  }

  /** Serve the stored k-NN graph ([[buildKnnGraphIndex]] layout) — the
    * e_knn_graph surface off the store instead of an in-plan build. */
  def knnGraphFromIndex(spark: org.apache.spark.sql.SparkSession,
                        indexDir: String): DataFrame =
    spark.read.parquet(s"$indexDir/edges").select("vec_id", "rank", "nn_id")

  /** Exact cosine over (src, dst) edge ids — the re-attach + score step
    * of [[knnGraph]]'s light shape (seed via [[seedPairsJoinForm]] and
    * refinement) and of the append's light shape. `bcast` (the small-N
    * light shape) broadcasts the vector side of both re-attach joins — a
    * physical-plan hint only, the join output is identical; never set it
    * above [[KnnLightMaxN]] where the vector frame stops being
    * broadcast-sized. Degenerate inputs: a zero norm divides by zero,
    * which Spark's `Divide` returns as NULL (ranks last under desc, never
    * NaN); a NULL or dimension-mismatched embedding keeps its pair with a
    * NULL cos (`array_dot` is NULL there); a pair referencing an id
    * absent from `n` drops in the inner joins (KnnSeedScoreSpec pins all
    * three). */
  private[llmdata] def scoreEdges(edges: DataFrame, n: DataFrame,
                                  bcast: Boolean = false): DataFrame = {
    def side(d: DataFrame) = if (bcast) broadcast(d) else d
    edges
      .join(side(n.select(col("vec_id").as("src"), col("ed").as("__ea"), col("nrm").as("__na"))), "src")
      .join(side(n.select(col("vec_id").as("dst"), col("ed").as("__eb"), col("nrm").as("__nb"))), "dst")
      .select(col("src"), col("dst"),
        expr(sparkCosPre("__ea", "__eb", "__na", "__nb")).as("cos"))
  }

  /** Per-src top-k of scored edges by (cos desc, dst asc) — the
    * [[exactRerank]] rank contract on the graph's edge frame (cos kept:
    * the refinement round reuses it for the reverse-edge cap). */
  private def topKEdges(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("src").orderBy(col("cos").desc, col("dst").asc)))
      .filter(col("rank") <= k)
      .select(col("src"), col("dst"), col("cos"), col("rank").cast("bigint").as("rank"))

  /** LSH-bucketed near-duplicate pairs — the 100 TB replacement for
    * [[cosineNearDupPairs]]'s all-pairs product: candidates are only pairs
    * sharing at least one signature band (bucket join on (band, band_val)),
    * each verified with the exact cosine. Near-identical vectors agree on
    * every plane, so recall at high thresholds is ~1 (a pair at cos θ
    * collides on a given r-bit band with prob (1 - θ_angle/π)^r; across
    * [[LshDupBands]] bands misses are rare and vanish as cos → 1 — the
    * standard banding trade, tested against the exact baseline in the
    * suite). The default banding is SIZE-ADAPTIVE ([[dupBanding]]): any
    * fixed config passes a constant fraction of chance pairs (Θ(N²) with
    * a small constant — measured exp 1.33 over sf1→sf10 at the former
    * fixed 7×8), so band width follows log N and band count follows the
    * recall table; at ≤ 2048 vectors this resolves to the former
    * [[LshDupPlanes]]×[[LshDupBandBits]] config exactly. See
    * [[LshDupPlanes]]'s doc for the measured numbers and for why
    * moderate-threshold pairing should use [[semDedup]] instead.
    *
    * Banding only separates what the planes can see: inputs clustered in
    * one orthant need `sigCenterDims`/`sigCenterAt` (see [[lshSigExpr]]) so
    * signatures discriminate — verify cosines are unaffected.
    *
    * The bucket join carries only (vec_id, band, band_val); vectors are
    * re-attached to the (rare) exactly-once candidate ids afterwards, so the wide
    * embedding arrays never enter the candidate shuffle. */
  def lshNearDupPairs(embeddings: DataFrame, threshold: Double = 0.4,
                      planes: Int = 0, bandBits: Int = 0,
                      sigCenterDims: Int = 0, sigCenterAt: Double = 0.0,
                      nHint: Long = 0L, maxBucket: Long = 0L): DataFrame = {
    // planes <= 0 (the default) = size-adaptive: banding from `nHint` when
    // the caller already knows N (parquet footers / table stats — metadata
    // cost, no corpus scan; footer counts are exact so both paths pick
    // identical knobs, spec-pinned), else from a count of the persisted
    // norm frame via [[dupBanding]] — one count job that also materializes
    // the cache the verify step re-reads. Callers with expensive upstream
    // plans should persist them first or pass the hint. Explicit knobs pin
    // a config (audits, the probe tool, the centered multimodal path).
    require((planes > 0) == (bandBits > 0),
      s"planes and bandBits pin a config together (got planes=$planes, bandBits=$bandBits); leave both 0 for size-adaptive banding")
    val n = graft.core.CacheScope.persisted(withNorm(embeddings))
    // nEff also picks the verify shape (join vs grid) — with pinned knobs
    // and no hint it stays 0 (join form), which every registered scale
    // uses; hinted/adaptive large-N paths get the grid automatically.
    val nEff = if (nHint > 0) nHint else if (planes > 0) 0L else n.count()
    val (p, r) = if (planes > 0) (planes, bandBits) else dupBanding(nEff)
    val bands0 = bandsOf(n, p, r, sigCenterDims, sigCenterAt)
    // maxBucket > 0 drops oversized buckets from CANDIDATE GENERATION —
    // the hot-bucket guard the sf100 rehearsal forced: on low-rank inputs
    // the sign-region distribution is skewed enough that single chance
    // buckets held 4% of 5 M rows (2.3·10¹⁰ pairs in ONE reducer task).
    // Same recall trade as ngramJaccardPairs' maxDocFreq df-cap; callers
    // who must not lose identical-vector pairs compose through
    // [[collapsedNearDupPairs]], which finds those exactly BEFORE the cap.
    // A dropped bucket must also stop counting as an "earlier shared
    // band" in the exactly-once gate — otherwise a pair whose first
    // collision sat in a dropped bucket would be suppressed in every
    // surviving one and silently lost (the old distinct-based path kept
    // it). So the cap REBUILDS the signature arrays with dropped entries
    // masked to NULL and re-explodes: the oversized-bucket set is tiny
    // (≤ N·bands/maxBucket buckets) and broadcast-anti-joins against the
    // exploded frame; the per-vec rebuild is one narrow shuffle of the
    // surviving (vec_id, band, band_val) rows — both a rounding error
    // next to the candidate stream the cap exists to prevent.
    val bands = if (maxBucket <= 0) bands0 else {
      val dropped = bands0.groupBy("band", "band_val")
        .agg(count(lit(1)).as("__sz"))
        .filter(col("__sz") > maxBucket).select("band", "band_val")
      val nBands = p / r
      val masked = bands0.join(broadcast(dropped), Seq("band", "band_val"), "left_anti")
        .groupBy("vec_id")
        .agg(collect_list(struct(col("band"), col("band_val"))).as("__kv"))
        .select(col("vec_id"), expr(
          s"transform(sequence(0, ${nBands - 1}), c -> get(filter(__kv, s -> s.band = c), 0).band_val)")
          .as("__bands"))
      explodeWithPrefix(masked)
    }
    verifyPairs(pairCandIds(bands), n, n, threshold, nEff)
  }

  /** Vectors past which the pair verify switches from the two-join
    * re-attach to the grid-blocked cogroup ([[verifyPairsGrid]]): below
    * it the whole corpus-side frame is broadcast-range and the join form
    * is strictly simpler; above it the join form's wide intermediate
    * (candidates × embedding bytes through the second shuffle) is the
    * dominant cost — the sf100 rehearsal measured ~300 GB of shuffle
    * write for 595 M candidates × 540 B rows, the wall that stopped the
    * box AFTER the candidate distinct was deleted. */
  val GridVerifyMinN: Long = 1L << 19

  /** Exact-cosine verify of (id_a, id_b) candidate pairs against the
    * normalized frames of each side — auto-switching between the plain
    * two-join re-attach (small N) and the grid-blocked shape (large N,
    * [[verifyPairsGrid]]). `aN`/`bN` are the per-side vector frames
    * (identical for within-set pairs); `nHint` both sides' max size from
    * metadata, 0 = derive from a cheap count only when the switch could
    * matter (the hint is always available on the adaptive paths). */
  private[llmdata] def verifyPairs(pairs: DataFrame, aN: DataFrame, bN: DataFrame,
                                   threshold: Double, nHint: Long): DataFrame = {
    val Array(aCol, bCol) = pairs.columns
    val out =
      if (nHint <= GridVerifyMinN)
        pairs
          .join(aN.select(col("vec_id").as(aCol), col("ed").as("__ea"), col("nrm").as("__na")), aCol)
          .join(bN.select(col("vec_id").as(bCol), col("ed").as("__eb"), col("nrm").as("__nb")), bCol)
          .filter(expr(sparkCosPre("__ea", "__eb", "__na", "__nb")) >= threshold)
      else verifyPairsGrid(pairs, aN, bN, threshold)
    out.select(aCol, bCol)
  }

  /** Grid side of the blocked verify: P×P blocks sized so ~2 blocks land
    * per shuffle partition and per-block vector slices stay a bounded
    * fraction of the corpus (2·N/P vectors per block). */
  private def gridSide(spark: org.apache.spark.sql.SparkSession): Int = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    math.max(2, math.ceil(math.sqrt(parts * 2.0)).toInt)
  }

  /** Grid-blocked exact-cosine pair verify — the 100 TB shape of the
    * "re-attach vectors to candidate ids" step (Okcan & Riedewald's
    * 1-Bucket-Theta grid, SIGMOD 2011, applied to an id-equi lookup).
    *
    * The naive re-attach joins pairs⋈vectors on id_a, then re-shuffles
    * the now-embedding-carrying intermediate on id_b: candidate rows are
    * 24 B going in but d·8 B coming out, so the second exchange writes
    * candidates × vector bytes — measured ~300 GB for sf100's 595 M
    * candidates (the box's wall after the candidate distinct was
    * deleted), and a 10 TB-class exchange per 2^26-vector shard on a
    * real cluster. This operator never shuffles a vector attached to a
    * pair: pairs land in a P×P grid cell by (id_a mod P, id_b mod P) —
    * one 24 B/row exchange — and each side's vectors are replicated P
    * ways (A-side to its grid row, B-side to its grid column, ~2·N·d·8·P/P²
    * bytes per cell), so every cell holds exactly the vectors its pairs
    * can reference. A typed cogroup on the cell id then builds two
    * in-memory id→(vector, norm) maps per cell and streams the cell's
    * pairs through them — the one place the library drops below
    * DataFrame algebra, because no Catalyst join shape expresses
    * "partition by grid cell, hash-lookup inside": an equi-join on
    * (cell, id) re-partitions on the full key, which is precisely the
    * wide-row exchange this operator deletes. Total exchange:
    * |pairs|·24 B + 2·P·|corpus vectors| — at sf100, ~14 GB + ~13 GB
    * vs ~300 GB.
    *
    * Exactness: the JVM dot product folds dims left-to-right — the same
    * IEEE sequence as the codegen'd `array_dot` kernel and the DuckDB
    * twin — and the division/threshold shapes match [[sparkCosPre]]'s,
    * so the surviving pair set is bit-identical to the join form
    * (spec-pinned, both orderings). Memory: each cell's maps hold
    * ~2·N/P vectors (P ≈ √(2·partitions)); cells are processed
    * sequentially within a task and released between cells. */
  private[llmdata] def verifyPairsGrid(pairs: DataFrame, aN: DataFrame, bN: DataFrame,
                                       threshold: Double): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val p = gridSide(spark)
    val Array(aCol, bCol) = pairs.columns
    val cells = pairs.select(
        (pmod(col(aCol), lit(p)) * p + pmod(col(bCol), lit(p))).cast("int").as("_1"),
        col(aCol).as("_2"), col(bCol).as("_3"))
      .as[(Int, Long, Long)]
    def replicated(n: DataFrame, aSide: Boolean) = {
      val own = pmod(col("vec_id"), lit(p))
      n.select(col("vec_id"), col("ed"), col("nrm"))
        .withColumn("__o", explode(expr(s"sequence(0, ${p - 1})")))
        .select(
          (if (aSide) own * p + col("__o") else col("__o") * p + own).cast("int").as("_1"),
          lit(if (aSide) 0 else 1).as("_2"),
          col("vec_id").as("_3"), col("ed").as("_4"), col("nrm").as("_5"))
        .as[(Int, Int, Long, Array[Double], Double)]
    }
    val vecs = replicated(aN, aSide = true).unionByName(replicated(bN, aSide = false))
    vecs.groupByKey(_._1).cogroup(cells.groupByKey(_._1)) { (_, vit, pit) =>
      val am = new java.util.HashMap[java.lang.Long, (Array[Double], Double)]()
      val bm = new java.util.HashMap[java.lang.Long, (Array[Double], Double)]()
      vit.foreach { v =>
        if (v._4 != null) {
          if (v._2 == 0) am.put(v._3, (v._4, v._5)) else bm.put(v._3, (v._4, v._5))
        }
      }
      pit.flatMap { pr =>
        val a = am.get(pr._2); val b = bm.get(pr._3)
        if (a == null || b == null || a._1.length != b._1.length) Iterator.empty
        else {
          val ea = a._1; val eb = b._1
          var s = 0.0; var i = 0
          while (i < ea.length) { s += ea(i) * eb(i); i += 1 }
          // Zero-norm contract (measured, spec-pinned): a zero-norm pair
          // divides 0/0, which Spark SQL evaluates to NULL (non-ANSI
          // divide-by-zero), so the join form's `cos >= t` filter DROPS
          // the pair. Here 0.0/0.0 is the JVM's NaN and `NaN >= t` is
          // false — the same drop verdict, which is also the library's
          // convention for undefined cosines everywhere (assignArgmax
          // coalesces them to −2.0, strictly below any real cosine).
          // Do NOT "fix" this to a negated-less-than: `!(NaN < t)` is
          // true and would emit on exactly one side of the auto-switch.
          if (s / (a._2 * b._2) >= threshold) Iterator.single((pr._2, pr._3))
          else Iterator.empty
        }
      }
    }.toDF(aCol, bCol)
  }

  /** Bucket cap for the centered multimodal banding: no cap up to 2^21
    * docs (every oracle/decade scale — [[collapsedNearDupPairs]] is then
    * EXACTLY the direct operator), 4096 past it. Paired with
    * [[graft.llmdata.Multimodal.featurizeDims]]'s width step at the same
    * boundary. */
  def mmBucketCap(n: Long): Long = if (n > (1L << 21)) 4096L else 0L

  /** Near-dup pairs with an identical-vector COLLAPSE in front of the
    * banding — the composition that makes [[lshNearDupPairs]]'s
    * `maxBucket` hot-bucket guard safe for the multimodal family, whose
    * design point is identical-feature duplicates:
    *
    *   1. group by the full embedding (one hash shuffle, d_exact's shape);
    *      every intra-group pair IS a dup (cos = 1) and is emitted exactly
    *      — no banding, no cap, recall 1.0 on the design point by
    *      construction;
    *   2. band only the DISTINCT representatives, with the bucket cap —
    *      chance sign-regions (the 4%-of-corpus buckets the sf100 probe
    *      measured: 4.1·10¹⁰ candidate pairs, 90% from two buckets) get
    *      dropped, never a true identical pair;
    *   3. expand rep-level near-dup pairs back through both groups'
    *      members (cosines are invariant within a group, so this is
    *      output-exact, and the join is bounded by real dup structure).
    *
    * With maxBucket = 0 the result is IDENTICAL to the direct operator
    * (identical vectors share every band, so rep collision ⇔ member
    * collision) — spec-pinned, which is why the registered multimodal row
    * uses this path at every scale and only the CAP is size-gated. */
  def collapsedNearDupPairs(embeddings: DataFrame, threshold: Double = 0.4,
                            planes: Int = 0, bandBits: Int = 0,
                            sigCenterDims: Int = 0, sigCenterAt: Double = 0.0,
                            nHint: Long = 0L, maxBucket: Long = 0L): DataFrame = {
    val f = graft.core.CacheScope.persisted(embeddings.select("vec_id", "embedding"))
    val groups = graft.core.CacheScope.persisted(
      f.groupBy("embedding").agg(min("vec_id").as("__rep")))
    val members = graft.core.CacheScope.persisted(
      f.join(groups, Seq("embedding")).select(col("vec_id"), col("__rep")))
    val exactPairs = members.as("a").join(members.as("b"),
        col("a.__rep") === col("b.__rep") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
    val reps = groups.select(col("__rep").as("vec_id"), col("embedding"))
    val repPairs = lshNearDupPairs(reps, threshold, planes, bandBits,
      sigCenterDims, sigCenterAt, nHint, maxBucket)
    val expanded = repPairs
      .join(members.select(col("__rep").as("id_a"), col("vec_id").as("ma")), "id_a")
      .join(members.select(col("__rep").as("id_b"), col("vec_id").as("mb")), "id_b")
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"))
    exactPairs.unionByName(expanded).distinct()
  }

  /** CROSS-set semantic dedup: batch vectors that have an LSH-bucketed
    * cosine near-duplicate in the corpus — the embedding twin of
    * [[CorpusOps.dedupAgainstCorpus]] (which matches by text shingles).
    * Returns (new_id, old_id) duplicate pairs; callers anti-join the
    * batch on `new_id` to keep only semantically novel documents.
    *
    * Scale shape: the corpus side contributes one signature pass (at
    * ingest these band keys would be precomputed and stored — the operator
    * takes DataFrames so either binding works); candidates are
    * bucket-local (band, band_val) between batch and corpus bands — never
    * |batch| × |corpus| — and the wide embedding arrays are re-attached
    * only to the deduped candidate ids. */
  def lshNearDupAgainst(batch: DataFrame, corpus: DataFrame, threshold: Double = 0.4,
                        planes: Int = 0, bandBits: Int = 0,
                        sigCenterDims: Int = 0, sigCenterAt: Double = 0.0,
                        corpusNHint: Long = 0L): DataFrame = {
    // Size-adaptive default: knobs derive from the CORPUS side (the scale
    // driver) and are shared by both sides — bucket keys only match when
    // the two sides band identically, so per-side auto-knobs would be a
    // silent recall hole. `corpusNHint` supplies the corpus size from
    // metadata (footers / table stats) so knob choice needn't scan it.
    require((planes > 0) == (bandBits > 0),
      s"planes and bandBits pin a config together (got planes=$planes, bandBits=$bandBits); leave both 0 for size-adaptive banding")
    val nOld = graft.core.CacheScope.persisted(withNorm(corpus))
    val nEff = if (corpusNHint > 0) corpusNHint
      else if (planes > 0) 0L else nOld.count()
    val (p, r) = if (planes > 0) (planes, bandBits) else dupBanding(nEff)
    val nNew = graft.core.CacheScope.persisted(withNorm(batch))
    val newBands = bandsOf(nNew, p, r, sigCenterDims, sigCenterAt)
      .withColumnsRenamed(Map("vec_id" -> "new_id", "__pre" -> "__pre_new"))
    val oldBands = bandsOf(nOld, p, r, sigCenterDims, sigCenterAt)
      .withColumnsRenamed(Map("vec_id" -> "old_id"))
    // Exactly-once per (new, old) pair — kept only in the first shared
    // band ([[noEarlierSharedBand]]), no candidate dedup aggregate.
    val candIds = newBands
      .join(oldBands, Seq("band", "band_val"))
      .filter(noEarlierSharedBand("__pre_new", "__pre"))
      .select("new_id", "old_id")
    verifyPairs(candIds, nNew, nOld, threshold, nEff)
  }

  /** Per-label centroid coordinates — the vector-mean building block of
    * IVF/k-means index training, one row per (label, dimension).
    *
    * The per-group sum folds over the SORTED value list, not a plain
    * `sum()`: float addition is non-associative, so a hash-aggregate's
    * partial/final reduction order — which differs on every run and every
    * partitioning — would make centroids run-unstable and un-oracle-able.
    * Sorting first fixes one canonical order, so the result is bit-stable
    * across partitionings (determinism sweep) and engines (DuckDB twin
    * sorts and folds identically). Cost: the values of each (label, dim)
    * group are collected and sorted — group size = rows per label, bounded
    * and explicitly paid for auditability; use a plain `avg` when
    * last-bit stability is not required. */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos"), col("col").cast("double").as("v"))
      .groupBy("label", "pos")
      .agg(
        expr("aggregate(array_sort(collect_list(v)), cast(0.0 as double), (s, x) -> s + x)").as("__s"),
        count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        round(col("__s") / col("n"), 6).as("c"), col("n"))

  /** Random-projection (Johnson–Lindenstrauss) top-k: project the corpus
    * to `rpDims` dimensions with the LSH family's deterministic LCG weight
    * matrix (uniform(-0.5, 0.5), the shared LCG plane family via the
    * codegen'd `rp_project` kernel — the same compile-once static-call
    * shape as `hyperplane_sig`; the earlier lambda form re-derived the
    * weight formula 1024× per row through interpreted higher-order
    * functions and billed a janino compile of the inlined formula to
    * every cold run), rank candidates by projected cosine, then
    * exact-re-rank the
    * `k·overfetch` survivors on the original vectors. Completes the ANN
    * family along its fourth axis: quantization shrinks precision, IVF
    * prunes partitions, LSH buckets hashes — RP shrinks DIMENSION:
    * the candidate scan reads rpDims/dim of the vector bytes (16/64 =
    * 4× less bandwidth, 4× more resident vectors per executor-GB), and at
    * ingest the projection would be stored as its own column so full
    * vectors are fetched only for candidates. Both ranking stages keep
    * the broadcast-queries × corpus-scan shape with map-side partial
    * top-k (rank filters on raw row_number).
    *
    * Recall is data-dependent in exactly the way JL promises: distances
    * are preserved within ~1/√rpDims relative error, so the projection
    * keeps a ranking whose GAPS exceed that error (clustered real
    * embeddings — the spec measures ≥0.9 there) and scrambles one whose
    * gaps don't (isotropic noise, where the exact ranking is itself
    * noise). Size rpDims to the corpus's neighbor-gap scale, not to a
    * universal constant. */
  def rpTopK(embeddings: DataFrame, nQueries: Int = 8, k: Int = 10,
             rpDims: Int = 16, overfetch: Int = 3): DataFrame = {
    require(rpDims > 0 && overfetch >= 1)
    val w = org.apache.spark.sql.expressions.Window
    val n = graft.core.CacheScope.persisted(
      withNorm(embeddings)
        .withColumn("rp", expr(s"rp_project(ed, $rpDims)"))
        .withColumn("rpn", expr("sqrt(array_dot(rp, rp))")))
    val queries = n.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("ed").as("q"), col("nrm").as("qn"),
        col("rp").as("qrp"), col("rpn").as("qrpn"))
    n.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("rcos", expr(sparkCosPre("rp", "qrp", "rpn", "qrpn")))
      .withColumn("crank", row_number().over(
        w.partitionBy("query_id").orderBy(col("rcos").desc, col("vec_id"))))
      .filter(col("crank") <= k * overfetch)
      .withColumn("cos", expr(sparkCosPre("ed", "q", "nrm", "qn")))
      .withColumn("rank", row_number().over(
        w.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("bigint").as("rank"),
        col("vec_id").as("nn_id"))
  }

  /** Sub-vector slice SQL (identical text shape for Spark; DuckDB twin in
    * the registry): the LOW half `[1 .. d/2]` and HIGH half `[d/2+1 .. d]`
    * of column `c`, with all width arithmetic in-plan (`size`), so the
    * operator needs no dimension literal and one plan serves any d. */
  private[llmdata] def sliceLo(c: String) = s"slice($c, 1, size($c) div 2)"
  private[llmdata] def sliceHi(c: String) =
    s"slice($c, size($c) div 2 + 1, size($c) - size($c) div 2)"

  /** The [[assignArgmax]] kernel over caller-named columns: argmax cosine
    * (ties: lowest cell) of sub-vector `v`/`vn` against the packed
    * centroid array column `cents`, as one codegen'd projection. */
  private def argmaxSql(cents: String, v: String, vn: String): String =
    s"array_max(transform($cents, c -> struct(" +
      s"coalesce(${sparkCosPre(v, "c.ced", vn, "c.cnrm")}, CAST(-2.0 AS DOUBLE)) AS ccos, " +
      "-c.cell AS ncell)))"

  /** Product-quantization top-k (Jégou, Douze & Schmid 2011, "Product
    * quantization for nearest neighbor search") — the ANN family's
    * MEMORY axis, beside LSH (hash axis), IVF (partition axis) and RP
    * (dimension axis): split each vector into two sub-vectors, train an
    * independent `kSub`-centroid codebook per subspace
    * ([[kmeansCentroids]] — deterministic seeds, sorted-fold Lloyd
    * rounds), and represent every corpus vector by its two code ids.
    * Candidate score is the asymmetric distance computation (ADC):
    * `cos ≈ (dot(q_lo, c_lo) + dot(q_hi, c_hi)) / (|q|·√(|c_lo|²+|c_hi|²))`
    * — the query meets only CODEBOOK entries, never raw corpus floats.
    * Top `k·overfetch` ADC candidates per query are exact-cosine
    * re-ranked (same two-window shape as [[rpTopK]]).
    *
    * Scale shape: codebooks are ≤ 2·kSub rows (trainable on a sample at
    * 100 TB — freeze-then-apply like every trained operator here);
    * encoding is one zero-shuffle argmax projection per subspace over
    * broadcast codebooks; the candidate scan touches only the
    * (vec_id, c0, c1) code table — ~10 bytes/vector instead of d floats,
    * the whole point of PQ: at 64-dim float that is a ~25× smaller scan,
    * and the per-row work is two broadcast-hash lookups + one add, no
    * d-wide dot. Exact re-rank touches full vectors only for the
    * ≤ nQueries·k·overfetch winners (broadcast semi-join into one corpus
    * probe). Everything is deterministic (no RNG, ulp-stable rank
    * ordering), so the DuckDB oracle replicates it bit-for-bit.
    *
    * `halfTrain = true` is the freeze-then-apply contract MEASURED rather
    * than asserted: codebooks train on the first-half id prefix only
    * (`vec_id < (max+1) div 2`, the half folded in-plan and broadcast —
    * the `e_ivf_incr` build-half idiom; seeds `vec_id < kSub` are
    * contained in any prefix, so BOTH variants start from identical
    * seeds and the measured delta is purely the sample-vs-full mean
    * update), then encode and serve the WHOLE corpus against the frozen
    * codebooks — the registered `e_pq_frozen` row oracle-checks the
    * result and PqFrozenSpec pins its recall against both exact top-k
    * and full-corpus training (measured: 0.513 vs 0.525 recall@10 at
    * sf0.01 — freezing costs ~0.01). At 100 TB this is the only
    * trainable path (nobody Lloyd-iterates an exabyte); the knob makes
    * its cost visible instead of folklore. A re-keyed even-id half was
    * measured first and rejected: it changes the SEEDS (original ids
    * 0,2,..,2·kSub−2), and at verification scale the seed swap costs
    * ~0.17 recall — swamping the freeze signal it was meant to pin. */
  def pqTopK(embeddings: DataFrame, nQueries: Int = 8, k: Int = 10,
             kSub: Int = 8, overfetch: Int = 3, kmeansIters: Int = 1,
             halfTrain: Boolean = false): DataFrame = {
    require(kSub > 0 && overfetch >= 1)
    val n = graft.core.CacheScope.persisted(withNorm(embeddings))
    val (cb0, cb1) = pqTrain(n, kSub, kmeansIters, halfTrain)
    pqServe(pqCodesOf(n, cb0, cb1), cb0, cb1, n, nQueries, k, overfetch)
  }

  /** Train the two sub-codebooks off a normalized frame.
    * `halfTrain` restricts training to the first-half id prefix
    * (see [[pqTopK]]'s contract). kmeansCentroids re-derives ed/nrm from
    * the handed `embedding` column, so a sliced view trains unchanged. */
  private def pqTrain(n: DataFrame, kSub: Int, kmeansIters: Int,
                      halfTrain: Boolean): (DataFrame, DataFrame) = {
    val trainSrc = if (!halfTrain) n
      else {
        val half = broadcast(n.agg(expr("(max(vec_id) + 1) div 2").as("__h")))
        n.crossJoin(half).filter(col("vec_id") < col("__h")).drop("__h")
      }
    def sub(slice: String => String) =
      trainSrc.select(col("vec_id"), expr(slice("ed")).as("embedding"))
    (graft.core.CacheScope.persisted(kmeansCentroids(sub(sliceLo), kSub, kmeansIters)),
      graft.core.CacheScope.persisted(kmeansCentroids(sub(sliceHi), kSub, kmeansIters)))
  }

  /** Encode a normalized frame against trained codebooks → the narrow
    * (vec_id, c0, c1) code table: ONE projection pass — both
    * sub-argmaxes against broadcast codebooks. */
  private def pqCodesOf(n: DataFrame, cb0: DataFrame, cb1: DataFrame): DataFrame = {
    def packed(cb: DataFrame, as: String) = broadcast(cb.agg(
      expr("array_sort(collect_list(struct(cell, ced, cnrm)))").as(as)))
    n.withColumn("__lo", expr(sliceLo("ed")))
      .withColumn("__hi", expr(sliceHi("ed")))
      .withColumn("__lon", expr("sqrt(array_dot(__lo, __lo))"))
      .withColumn("__hin", expr("sqrt(array_dot(__hi, __hi))"))
      .crossJoin(packed(cb0, "__cb0")).crossJoin(packed(cb1, "__cb1"))
      .withColumn("__b0", expr(argmaxSql("__cb0", "__lo", "__lon")))
      .withColumn("__b1", expr(argmaxSql("__cb1", "__hi", "__hin")))
      .select(col("vec_id"), expr("CAST(-__b0.ncell AS INT)").as("c0"),
        expr("CAST(-__b1.ncell AS INT)").as("c1"))
  }

  /** ADC candidate scan + exact re-rank off a code table, codebooks, and
    * the corpus frame `n` (full vectors, re-rank only). */
  private def pqServe(codes: DataFrame, cb0: DataFrame, cb1: DataFrame,
                      n: DataFrame, nQueries: Int, k: Int, overfetch: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val queries = n.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("ed").as("q"), col("nrm").as("qn"))
    // ADC tables: nQueries × kSub rows per subspace — query-to-codebook
    // dots precomputed once, broadcast to the code scan.
    val adc0 = queries.select(col("query_id"), col("qn"), expr(sliceLo("q")).as("qs"))
      .crossJoin(cb0)
      .select(col("query_id"), col("qn"), col("cell").as("c0"),
        expr("array_dot(qs, ced)").as("ip0"), col("cnrm").as("cn0"))
    val adc1 = queries.select(col("query_id"), expr(sliceHi("q")).as("qs"))
      .crossJoin(cb1)
      .select(col("query_id"), col("cell").as("c1"),
        expr("array_dot(qs, ced)").as("ip1"), col("cnrm").as("cn1"))
    val cand = codes
      .join(broadcast(adc0), Seq("c0"))
      .join(broadcast(adc1), Seq("query_id", "c1"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("acos", expr("(ip0 + ip1) / (qn * sqrt(cn0 * cn0 + cn1 * cn1))"))
      .withColumn("crank", row_number().over(
        w.partitionBy("query_id").orderBy(col("acos").desc, col("vec_id"))))
      .filter(col("crank") <= k * overfetch)
      .select("query_id", "vec_id")
    // Exact re-rank: the tiny winner set probes the corpus once for full
    // vectors (broadcast-hash, no corpus shuffle).
    n.select(col("vec_id"), col("ed"), col("nrm"))
      .join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("cos", expr(sparkCosPre("ed", "q", "nrm", "qn")))
      .withColumn("rank", row_number().over(
        w.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("bigint").as("rank"),
        col("vec_id").as("nn_id"))
  }

  /** Build and STORE a PQ index: the two sub-codebooks (≤ kSub rows each)
    * plus the encoded (vec_id, c0, c1) code table — [[buildIvfIndex]]'s
    * memory-axis sibling. The in-plan [[pqTopK]] retrains per query
    * batch; a serving corpus trains once, encodes once, and amortizes the
    * ~25×-smaller code-table scan over every batch. Full vectors stay in
    * the CALLER's corpus (the index stores codes, not floats — the whole
    * point of PQ); the exact re-rank probes the corpus only for ADC
    * winners. Doubles round-trip parquet bit-exactly, so index-served
    * results equal the in-plan operator's (spec-pinned; `e_pq_index`
    * reuses `e_pq_topk`'s oracle verbatim). `halfTrain` builds the
    * frozen-codebook variant ([[pqTopK]]'s measured freeze-then-apply
    * contract) — the build half of the `e_pq_incr` lifecycle. */
  def buildPqIndex(embeddings: DataFrame, indexDir: String, kSub: Int = 8,
                   kmeansIters: Int = 1, halfTrain: Boolean = false): Unit = {
    require(kSub > 0, s"kSub must be positive, got $kSub")
    val n = graft.core.CacheScope.persisted(withNorm(embeddings))
    val (cb0, cb1) = pqTrain(n, kSub, kmeansIters, halfTrain)
    pqCodesOf(n, cb0, cb1).write.mode("overwrite").parquet(s"$indexDir/codes")
    cb0.write.mode("overwrite").parquet(s"$indexDir/cb0")
    cb1.write.mode("overwrite").parquet(s"$indexDir/cb1")
  }

  /** Encode NEW vectors against the STORED (frozen) codebooks and append
    * their codes — the PQ growth path ([[appendToIvfIndex]]'s sibling;
    * nobody retrains an exabyte's codebooks per ingest batch, which is
    * precisely the freeze-then-apply property `e_pq_frozen` measures).
    * Encoding math is identical to build time, so an index grown by
    * appends equals one built over the union with the same codebooks —
    * `e_pq_incr` oracle-checks the build-half/append-half round trip
    * against `e_pq_frozen`'s SQL. */
  def appendToPqIndex(newVectors: DataFrame, indexDir: String): Unit = {
    val spark = newVectors.sparkSession
    graft.functions.VectorExprs.register(spark)
    val cb0 = spark.read.parquet(s"$indexDir/cb0")
    val cb1 = spark.read.parquet(s"$indexDir/cb1")
    pqCodesOf(withNorm(newVectors), cb0, cb1)
      .write.mode("append").parquet(s"$indexDir/codes")
  }

  /** Serve top-k from a stored PQ index ([[buildPqIndex]] layout): read
    * the tiny codebooks + the code table, probe the handed corpus only
    * for the exact re-rank of ADC winners. */
  def pqTopKFromIndex(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                      corpus: DataFrame, nQueries: Int = 8, k: Int = 10,
                      overfetch: Int = 3): DataFrame = {
    require(overfetch >= 1, s"overfetch must be >= 1, got $overfetch")
    graft.functions.VectorExprs.register(spark)
    val cb0 = spark.read.parquet(s"$indexDir/cb0")
    val cb1 = spark.read.parquet(s"$indexDir/cb1")
    val codes = spark.read.parquet(s"$indexDir/codes")
    // Persisted like pqTopK's corpus frame: pqServe evaluates it four
    // times (two ADC projections, the probe join, the exact re-rank).
    pqServe(codes, cb0, cb1,
      graft.core.CacheScope.persisted(withNorm(corpus)), nQueries, k, overfetch)
  }

  /** Hybrid lexical × semantic retrieval fused by Reciprocal Rank Fusion
    * (Cormack, Clarke & Buettcher, SIGIR 2009): BM25's top-k
    * ([[TextAnalysis.bm25TopDocs]]) and the embedding query's exact
    * cosine top-k are combined by `rrf = Σ 1/(kRrf + rank)` over the
    * rankings each document appears in — the standard score-free fusion
    * (no calibration between BM25 magnitudes and cosines needed), and
    * the shape RAG-style retrieval over a curated corpus actually runs.
    * Doc/vector ids align by convention, as in the consensus operator.
    *
    * Determinism: each reciprocal is one correctly-rounded IEEE divide
    * and the fusion adds the lexical term before the semantic term —
    * identical doubles cross-engine; ORDERING uses the unrounded score
    * (rounding only the emitted column, so a display round can never
    * move a rank boundary). Both input rankings are per-query top-k
    * pools, so the fusion windows run over ≤ 2k rows per query — scale
    * lives entirely in the two upstream retrievals, which are the
    * library's existing bounded BATCH shapes (BM25: one posting-filtered
    * agg serving every query; cosine: one corpus scan vs the broadcast
    * query set) — nothing re-touches the corpus per query.
    *
    * Runs a query BATCH (the shape retrieval actually serves): lexical
    * query i = `queries(i)`, semantic query i = embedding `vec_id = i`
    * (the id-alignment convention of the consensus operator). Emits
    * `(query_id, doc_id, rank, rrf, lex_rank, sem_rank)`. */
  def hybridRrfTopK(documents: DataFrame, embeddings: DataFrame,
                    queries: Seq[Seq[String]] = TextAnalysis.Bm25DefaultQueries,
                    k: Int = 10, kRrf: Int = 60): DataFrame = {
    require(k > 0 && kRrf > 0 && queries.nonEmpty)
    val lex = TextAnalysis.bm25TopDocsMulti(documents, queries, k)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
    val sem = bruteForceTopK(embeddings, nQueries = queries.size, k = k)
      .select(col("query_id"), col("nn_id").as("doc_id"), col("rank").as("sem_rank"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("__rrf").desc, col("doc_id"))
    lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .na.fill(0L, Seq("lex_rank", "sem_rank"))
      .withColumn("__rrf",
        when(col("lex_rank") > 0, lit(1.0) / (lit(kRrf) + col("lex_rank"))).otherwise(lit(0.0)) +
        when(col("sem_rank") > 0, lit(1.0) / (lit(kRrf) + col("sem_rank"))).otherwise(lit(0.0)))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rank"),
        round(col("__rrf"), 6).as("rrf"), col("lex_rank"), col("sem_rank"))
  }

  /** Diversified top-k by Maximal Marginal Relevance (Carbonell &
    * Goldstein, SIGIR 1998): greedily pick the candidate maximizing
    * `λ·cos(q, d) − (1−λ)·max_{s∈selected} cos(d, s)` — the classic
    * redundancy-penalized re-rank (RAG context assembly, dedup-aware
    * retrieval, diverse few-shot example selection). Plain top-k returns
    * near-duplicate neighbors back to back; MMR trades `1−λ` of relevance
    * for coverage.
    *
    * Scale shape: the expensive half is the candidate pool — the existing
    * broadcast-queries × corpus-scan exact top-(k·overfetch) (one corpus
    * pass, map-side partial top-k). The greedy loop is INHERENTLY
    * sequential, but only over the pool: each query's pool is aggregated
    * into ONE array row (≤ k·overfetch structs) and the k selection steps
    * run as a single codegen'd `aggregate` over that array — per-query
    * O(k²·overfetch) lambda work on one executor row, zero extra
    * shuffles, nothing driver-side. λ ships as integer ppm so the literal
    * is engine-exact; scoring doubles are the same IEEE sequence as the
    * DuckDB twin (shared cosine formula), and every argmax tie-breaks on
    * the smaller pool index, so selection is fully deterministic.
    * Emits `(query_id, mmr_rank, nn_id, rel_rank)` — rel_rank is the
    * pre-diversification cosine rank, so `mmr_rank ≠ rel_rank` rows show
    * exactly what the diversification changed. */
  def mmrTopK(embeddings: DataFrame, nQueries: Int = 8, k: Int = 8,
              overfetch: Int = 4, lambdaPpm: Long = 700000L): DataFrame = {
    require(k > 0 && overfetch >= 1 && lambdaPpm >= 0 && lambdaPpm <= 1000000L)
    val n = withNorm(embeddings)
    val queries = n.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("ed").as("q"), col("nrm").as("qn"))
    val pool = broadcast(queries)
      .join(n.select(col("vec_id").as("nn_id"), col("ed").as("e"), col("nrm").as("en")),
        col("query_id") =!= col("nn_id"))
      .withColumn("cos", expr(sparkCosPre("q", "e", "qn", "en")))
      .withColumn("rel_rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("cos").desc, col("nn_id").asc)))
      .filter(col("rel_rank") <= k * overfetch)
    val lam = s"CAST($lambdaPpm AS DOUBLE) / 1000000.0D"
    // Greedy selection as one fold: sel accumulates 1-based pool indices;
    // each step takes the argmax of the MMR score over unselected indices
    // (struct max orders by score, then by -index → smaller index wins
    // ties). The first pick has no selected set: the penalty term is 0 and
    // the argmax is pure relevance = pool index 1.
    val mmrScore =
      s"""$lam * element_at(pool, i).cos - (1.0D - $lam) *
         |  (CASE WHEN size(sel) = 0 THEN CAST(0.0 AS DOUBLE)
         |   ELSE array_max(transform(sel, j ->
         |     array_dot(element_at(pool, i).e, element_at(pool, j).e)
         |     / (element_at(pool, i).en * element_at(pool, j).en))) END)"""
        .stripMargin.replace("\n", " ")
    val select =
      s"""aggregate(
         |  sequence(1, least($k, size(pool))),
         |  cast(array() as array<int>),
         |  (sel, step) -> concat(sel, array(-array_max(transform(
         |    filter(sequence(1, size(pool)), i -> NOT array_contains(sel, i)),
         |    i -> named_struct('s', $mmrScore, 'ni', -i))).ni)))"""
        .stripMargin.replace("\n", " ")
    pool
      .groupBy("query_id")
      .agg(sort_array(collect_list(struct(
        col("rel_rank"), col("nn_id"), col("cos"), col("e"), col("en")))).as("pool"))
      .withColumn("sel", expr(select))
      // The pool array is rel_rank-sorted, so a selected 1-based index IS
      // the pre-diversification rank — no second pool pass to look it up.
      .select(col("query_id"), posexplode(expr(
        "transform(sel, idx -> named_struct('nn_id', element_at(pool, idx).nn_id, " +
          "'rel_rank', CAST(idx AS BIGINT)))")))
      .select(col("query_id"), (col("pos") + 1).cast("bigint").as("mmr_rank"),
        col("col.nn_id").as("nn_id"), col("col.rel_rank").as("rel_rank"))
  }

  /** Embedding-QA outlier flags: the `frac` most centroid-distant vectors
    * within each label — mislabeled rows, encoder failures, and genuine
    * novelty all surface here first. Distance is cosine against the
    * label's sorted-fold centroid (bit-stable, like [[labelCentroids]]
    * but unrounded internally: rounding an intermediate would move the
    * rank boundary). The cut is a per-label RANK (`rank ≤ ceil(frac·n)`),
    * not a score threshold — exact in integers, no float quantile to
    * disagree on at the boundary.
    *
    * Shape: centroids are a per-(label, pos) agg (labels × dims rows)
    * broadcast back; scoring is one narrow pass; the per-label rank is
    * one window over a `label` shuffle. The rank bound is data-dependent
    * (ceil(frac·n)), so no WindowGroupLimit map-side prune applies — at
    * 100 TB pre-aggregate per-label counts (tiny) and pass a literal
    * bound per label if the full-width rank exchange ever dominates;
    * labels are the partition axis either way. Emits the absolute
    * distance rank so reviewers triage worst-first. */
  def centroidOutliers(embeddings: DataFrame, frac: Double = 0.05): DataFrame = {
    val n = withNorm(embeddings)
    val cents = embeddings
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos"), col("col").cast("double").as("v"))
      .groupBy("label", "pos")
      .agg(
        expr("aggregate(array_sort(collect_list(v)), cast(0.0 as double), (s, x) -> s + x)").as("__s"),
        count(lit(1)).as("__n"))
      .withColumn("m", col("__s") / col("__n"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)").as("ced"))
      .withColumn("cnrm", expr("sqrt(array_dot(ced, ced))"))
    val counts = embeddings.groupBy("label").agg(count(lit(1)).as("__cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("label").orderBy(col("cos").asc, col("vec_id"))
    // Zero-norm vectors have no direction: their cosine is NULL, and the
    // two engines rank NULLs at OPPOSITE ends (Spark ASC = nulls first,
    // DuckDB ASC = nulls last) — exclude them explicitly rather than emit
    // a NULL distance at an engine-dependent rank. They are an upstream
    // encoder failure; flag them with a Checks.satisfies("nrm > 0") row,
    // not with an undefined angle.
    n.filter(col("nrm") > 0)
      .join(broadcast(cents), "label")
      .withColumn("cos", expr(sparkCosPre("ed", "ced", "nrm", "cnrm")))
      .join(broadcast(counts), "label")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= ceil(col("__cnt") * lit(frac)).cast("long"))
      .select(col("label"), col("vec_id"),
        round(lit(1.0) - col("cos"), 6).as("dist"),
        col("__rn").cast("bigint").as("far_rank"))
  }

  /** Top principal component by in-plan power iteration, emitted as each
    * vector's projection onto it — the 1-D PCA embedding (whitening /
    * dedup-diversity / outlier axes all start here). Deterministic
    * end-to-end: the mean and every per-dimension sum are sorted-fold
    * aggregations (bit-stable under any partitioning — float addition is
    * not associative, a plain `sum` is run-unstable), the start vector is
    * the dim-0 basis vector, and `iters` is fixed — so both engines walk
    * identical IEEE sequences and even the component's SIGN matches.
    * Projections are rounded at the very end (output decimal, not an
    * intermediate).
    *
    * Everything is ONE lazy plan — mean, the `iters` mat-vec rounds, and
    * the final projection — with zero driver actions (the kmeans trainer's
    * pattern): each round is a corpus pass producing a 1-row (mu, v) frame
    * that broadcasts into the next. The normalized corpus frame is
    * persisted once and re-read per round. At 100 TB, train the component
    * on a deterministic sample (the leading eigenvector converges long
    * before the corpus is exhausted) and apply the frozen (mu, v) as a
    * narrow broadcast projection — the same freeze-then-apply policy as
    * the k-means and BPE trainers; the sorted-fold collect is
    * per-dimension corpus-sized and is the trainer's cost, not the
    * scorer's. */
  def pcaProjection(embeddings: DataFrame, iters: Int = 3): DataFrame = {
    val n = graft.core.CacheScope.persisted(withNorm(embeddings))
    val mu = n.select(posexplode(col("ed")))
      .select(col("pos"), col("col").as("v"))
      .groupBy("pos")
      .agg(
        expr("aggregate(array_sort(collect_list(v)), cast(0.0 as double), (s, x) -> s + x)").as("__s"),
        count(lit(1)).as("__n"))
      .withColumn("m", col("__s") / col("__n"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)").as("mu"))
    val v0 = mu.select(col("mu"), expr(
      "transform(mu, (x, i) -> CASE WHEN i = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)").as("v"))
    val vf = (1 to iters).foldLeft(v0) { (vprev, _) =>
      val w = n.crossJoin(broadcast(vprev))
        .withColumn("s", expr("array_dot(ed, v) - array_dot(mu, v)"))
        .select(col("s"), col("mu"), posexplode(col("ed")))
        .select(col("pos"),
          ((col("col") - element_at(col("mu"), col("pos") + 1)) * col("s")).as("t"))
        .groupBy("pos")
        .agg(expr("aggregate(array_sort(collect_list(t)), cast(0.0 as double), (a, y) -> a + y)").as("wv"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, wv))), s -> s.wv)").as("w"))
      mu.crossJoin(broadcast(w))
        .select(col("mu"), expr("transform(w, x -> x / sqrt(array_dot(w, w)))").as("v"))
    }
    n.crossJoin(broadcast(vf))
      .select(col("vec_id"),
        round(expr("array_dot(ed, v) - array_dot(mu, v)"), 6).as("proj"))
  }
}
