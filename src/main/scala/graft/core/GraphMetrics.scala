package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Triangle counting over an undirected pair graph — the standard
  * degree-ordered orientation algorithm (Cohen, "Graph Twiddling in a
  * MapReduce World", CiSE 2009; the same shape GraphX's TriangleCount
  * and every shared-nothing engine use). Per-node triangle counts are
  * the local clustering-density signal the graph axis was missing:
  * near-dup CLIQUES (true duplicate families) are triangle-dense, while
  * chain-shaped components (template drift: A≈B≈C but A≉C) have none —
  * so triangles/degree separates "keep one of these" families from
  * "gradual rewrite" chains that [[StarComponents]] labels identically.
  *
  * Why orientation is the scale story: the naive wedge join fans out
  * Σ deg(v)² — a 10⁶-degree hub yields 10¹² wedges. Orienting every
  * edge from the (degree, id)-SMALLER endpoint to the larger caps
  * out-degree at O(√m), so wedge volume is bounded by O(m^1.5) TOTAL
  * regardless of skew, and each step is a plain equi-shuffle: one join
  * building wedges at the pivot, one join closing them against the
  * oriented edge set. Every triangle is counted exactly once (its
  * orientation-minimal vertex is the unique pivot).
  */
object GraphMetrics {

  /** (doc_id, n_triangles) for every node of `pairs` — the number of
    * triangles the node participates in (0-rows included, so the frame
    * is a total per-node feature). Input follows the near-dup pair
    * convention ((id_a, id_b), any orientation; self loops and duplicate
    * pairs are tolerated and ignored). */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    // Canonical undirected edge set: one row per unordered pair.
    val und = CacheScope.persisted(
      pairs.select(least(col("id_a"), col("id_b")).as("u"),
          greatest(col("id_a"), col("id_b")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct())
    val sym = und.union(und.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    // Total order (deg, id): orient each edge small → large. ord packs
    // the order key so the wedge emission can compare endpoints without
    // carrying two columns per side.
    // Repartitioned ONCE by the pivot key and persisted WITH that
    // partitioning: the wedge self-join below reads both sides
    // co-partitioned and plans ZERO exchanges (the
    // scoreSeedPairsInBuckets discipline) — the naive form shuffles the
    // oriented edge set twice. The closing join still exchanges the
    // wedge stream on (x, y); that stream IS the algorithm's volume.
    val oriented = CacheScope.persisted(
      sym.join(deg.select(col("node").as("u"), col("deg").as("__du")), "u")
        .join(deg.select(col("node").as("v"), col("deg").as("__dv")), "v")
        .filter(col("__du") < col("__dv")
          || (col("__du") === col("__dv") && col("u") < col("v")))
        .select(col("u"), col("v"), col("__dv"))
        .repartition(col("u"))
    )
    // Wedges at pivot u between out-neighbors v < w in the same (deg,
    // id) order; the closing edge, if present, is oriented v → w by
    // construction (orientation is a total order), so ONE equi-join
    // against the oriented set closes them.
    val wedges = oriented.as("a").join(oriented.as("b"),
        col("a.u") === col("b.u")
          && (col("a.__dv") < col("b.__dv")
            || (col("a.__dv") === col("b.__dv") && col("a.v") < col("b.v"))))
      .select(col("a.u").as("p"), col("a.v").as("x"), col("b.v").as("y"))
    val tris = wedges.join(
      oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
    // Each triangle increments all three corners — emitted by ONE
    // explode pass, not a 3-way self-union: union branches are separate
    // subtrees, so the wedge+closing joins would re-execute once per
    // corner (measured 3× the row's wedge work before the r14 rewrite).
    // Nodes outside any triangle keep an explicit 0 (total feature).
    val perNode = tris
      .select(explode(array(col("p"), col("x"), col("y"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
    // und/oriented stay persisted for the returned lazy plan's diamonds;
    // release is caller-owned via the CacheScope contract.
    deg.select(col("node").as("doc_id"))
      .join(perNode, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Modulus/multipliers of the deterministic per-edge sampling hash used
    * by [[triangleCountsApprox]], over the canonical (u < v) orientation:
    *
    *   g = (u'·v' + u'·A + v'·B + 1) % M,  h = (g² + g·A) % M   (u' = u%M)
    *
    * The coin MUST be nonlinear in (u, v): a linear hash has
    * h(a,b) − h(a,c) = B·(b−c) mod M independent of the pivot a, so edge
    * survivals inside cliques correlate in whole columns — measured
    * +88% estimator bias on the 32-clique probe fixture; the u'·v' term
    * plus the squaring round drop it to −0.1%/−0.5% at p = 1/4 / 1/2.
    * M prime, A/B < M, so every intermediate stays < ~10¹² — BIGINT-safe
    * in both engines, and `%` ≡ Spark `%` on the non-negative ids of the
    * near-dup convention, so the DuckDB twin replays it verbatim. */
  val EdgeHashMod: Long = 1000003L
  val EdgeHashA: Long = 912367L
  val EdgeHashB: Long = 340993L

  /** DOULION-style approximate triangle counts (Tsourakakis, Kang,
    * Miller, Faloutsos, "DOULION: counting triangles in massive graphs
    * with a coin", KDD 2009) — the dense-regime escape hatch for
    * [[triangleCounts]]: keep each canonical edge iff
    * `h(u,v) % keepDen < keepNum` (deterministic hash, the library's
    * no-rand() house style — same input, same estimate, and the DuckDB
    * twin replays it bit for bit), count triangles EXACTLY on the
    * sparsified graph, scale by (keepDen/keepNum)³ in integer
    * arithmetic. Each triangle survives iff all 3 edges do (probability
    * p³ under the hash's uniformity), so E[count·p⁻³] = true count; the
    * estimator's variance falls as triangles-per-edge grows — exactly
    * the dense regime where the exact operator's O(m^1.5) wedge volume
    * stops fitting (measured: 16 M nodes / 264 M edges ≈ 65 GB of wedge
    * scratch exact; p = 1/4 divides edge volume by 4 and wedge volume by
    * ~4^1.5 = 8).
    *
    * Domain contract matches [[triangleCounts]]: every node of the FULL
    * graph is emitted (estimate 0 where no sampled triangle touches it)
    * — the sparsifier must not shrink the feature frame. With
    * keepNum == keepDen the filter keeps everything and the result is
    * BIT-IDENTICAL to the exact operator (spec-pinned), so callers can
    * treat p as a pure accuracy/cost knob.
    *
    * Per-NODE estimates are unbiased but noisy at small true counts (a
    * node with 1 triangle reads 0 or 8 at p = 1/2); the headline use is
    * aggregate density (per-component, per-source, whole-graph sums),
    * where the noise cancels.
    *
    * Persists diamond intermediates (the kept-edge frame plus
    * [[triangleCounts]]' own) whose release is CALLER-owned — run the
    * consuming action inside [[CacheScope.scoped]] (the registry/stream
    * call sites all do), or the blocks outlive the query. */
  def triangleCountsApprox(pairs: DataFrame,
                           keepNum: Int = 1, keepDen: Int = 2): DataFrame = {
    require(keepNum >= 1 && keepNum <= keepDen,
      s"sampling rate keepNum/keepDen must be in (0, 1]: got $keepNum/$keepDen")
    val und = CacheScope.persisted(
      pairs.select(least(col("id_a"), col("id_b")).as("u"),
          greatest(col("id_a"), col("id_b")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct())
    val kept = und
      .withColumn("__g", expr(
        s"(((u % $EdgeHashMod) * (v % $EdgeHashMod)) + ((u % $EdgeHashMod) * $EdgeHashA) + ((v % $EdgeHashMod) * $EdgeHashB) + 1) % $EdgeHashMod"))
      .filter(expr(s"(((__g * __g) + (__g * $EdgeHashA)) % $EdgeHashMod) % $keepDen")
        < lit(keepNum.toLong))
      .drop("__g")
    // Exact counting on the sparsified graph, then the p⁻³ unbiasing in
    // one integer expression (den³ ≤ 2⁶³ guarded by the require above
    // for any sane den; num = den short-circuits to ×1 exactly).
    val num3 = keepNum.toLong * keepNum * keepNum
    val den3 = keepDen.toLong * keepDen * keepDen
    val est = triangleCounts(kept.select(col("u").as("id_a"), col("v").as("id_b")))
      .select(col("doc_id"),
        expr(s"(n_triangles * ${den3}L) div ${num3}L").as("est_triangles"))
    // Full-graph node domain: the sparsifier drops edges, never feature
    // rows — nodes whose every edge was sampled away still read 0.
    und.select(col("u").as("doc_id")).union(und.select(col("v").as("doc_id")))
      .distinct()
      .join(est, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("est_triangles"), lit(0L)).as("est_triangles"))
  }

  /** Local clustering coefficient in exact integer ppm — the NORMALIZED
    * density signal [[triangleCounts]]'s raw counts feed: a node's
    * triangles divided by its wedge capacity,
    *
    *   coef_ppm = (2 · t · 10⁶) div (deg · (deg − 1)),    deg ≥ 2
    *
    * (0 for deg < 2 — no wedge, coefficient conventionally 0). Raw
    * counts confound density with degree (a hub with 100 triangles over
    * 10⁶ wedges is SPARSE; a 4-clique corner with 3 triangles over 3
    * wedges is a perfect duplicate family) — the coefficient is what the
    * keep-one-of-these / gradual-rewrite separation actually thresholds
    * on. Integer div on non-negative operands, so the DuckDB twin is
    * bit-exact; t·2·10⁶ needs t ≤ 4.6·10¹², i.e. a single node in
    * > 3·10⁶-clique territory before overflow — such a family implies
    * ~10¹² near-dup PAIRS and has long since broken the pair budget.
    *
    * Emits (doc_id, deg, coef_ppm) for every node of the graph — deg
    * rides along because every consumer thresholding the coefficient
    * wants the support size next to it (a 1.0 coefficient over deg 2 is
    * weak evidence; over deg 20 it is a hard duplicate family).
    *
    * Scale shape: [[triangleCounts]]'s pipeline (wedge volume O(m^1.5)
    * via the same orientation) + one degree aggregation over the
    * canonical edge set + an id equi-join — nothing beyond the edge
    * budget the raw counts already pay.
    *
    * Persists diamond intermediates (the canonical edge frame plus
    * [[triangleCounts]]' own) whose release is CALLER-owned — consume the
    * result inside [[CacheScope.scoped]], as the registry call sites do. */
  def clusteringCoefPpm(pairs: DataFrame): DataFrame = {
    val und = CacheScope.persisted(
      pairs.select(least(col("id_a"), col("id_b")).as("u"),
          greatest(col("id_a"), col("id_b")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct())
    val deg = und.select(col("u").as("doc_id")).union(und.select(col("v").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("deg"))
    triangleCounts(und.select(col("u").as("id_a"), col("v").as("id_b")))
      .join(deg, Seq("doc_id"))
      .select(col("doc_id"), col("deg"),
        when(col("deg") >= 2,
          expr("(n_triangles * 2000000L) div (deg * (deg - 1))"))
          .otherwise(lit(0L)).as("coef_ppm"))
  }

  /** Incremental triangle maintenance — the append leg of the triangle
    * family (the `c_cc_incr` / `e_knn_incr` stored-index idiom on the
    * density axis): given the already-counted OLD pair graph and a batch
    * of NEW pairs, produce per-node counts equal to a full recompute
    * over the union graph, with the QUADRATIC (wedge) work proportional
    * to the batch, not the corpus.
    *
    * Exactness, not a recall band: T(E ∪ B) = T(E) + Δ where Δ = the
    * triangles using ≥ 1 B-edge, and Δ decomposes exactly-once by the
    * unique wedge pivot of each triangle:
    *   - leg A: wedges with ≥ 1 NEW side — enumerated FROM the new
    *     edges ([new ⋈ any] ∪ [old ⋈ new], so wedge volume follows the
    *     batch), closed against the full oriented set;
    *   - leg B: both wedge sides OLD, closing edge NEW — driven from
    *     each new closing edge (x, y): pivots p with old p→x and
    *     old p→y (the closing edge's own orientation already encodes
    *     the wedge order, so no extra predicate).
    * Legs are disjoint by construction (≥ 1 new wedge side vs zero),
    * and triangles entirely in E appear in neither — so stored + Δ is
    * bit-identical to the rebuild, which is exactly what the oracle
    * checks (same full-graph twin as `x_triangles`).
    *
    * Linear passes DO touch the full edge set — the union degree
    * aggregation, the orientation join, and the leg-A closing probe
    * (one (x, y) equi-shuffle of the oriented edges) — because adding
    * edges changes degrees and any closing check is a membership test
    * against E ∪ B. What the incremental form removes is the O(m^1.5)
    * wedge enumeration, which is the term that stops fitting (the 16 M
    * probe's 65 GB was wedge payload, not edges).
    *
    * Duplicate submissions are tolerated: `newPairs` is anti-joined
    * against the old edge set (one equi-join on the canonical pair key),
    * so a replayed batch contributes nothing — the at-least-once
    * delivery contract every store merge in the library keeps.
    *
    * Persists diamond intermediates (the canonical old edges plus
    * [[mergeTriangleCounts]]' own) whose release is CALLER-owned —
    * consume the result inside [[CacheScope.scoped]].
    *
    * @param oldPairs the already-counted graph's pairs (near-dup
    *                 convention; canonicalized and deduped here).
    * @param newPairs the appended pairs (≥ 1 new endpoint in the
    *                 registry composition, but any disjoint batch — or a
    *                 replay — is correct).
    */
  def incrementalTriangles(oldPairs: DataFrame, newPairs: DataFrame): DataFrame = {
    val oldU = CacheScope.persisted(canonPairs(oldPairs))
    // The in-plan declarative-replay form (the registry/oracle idiom,
    // same as c_cc_incr recomputing its base labels): stored counts are
    // recomputed here; a production deployment passes the STORE's counts
    // to [[mergeTriangleCounts]] and pays only the batch-bounded delta.
    mergeTriangleCounts(
      triangleCounts(oldU.select(col("u").as("id_a"), col("v").as("id_b"))),
      oldU, newPairs)
  }

  private def canonPairs(df: DataFrame): DataFrame = df
    .select(least(col("id_a"), col("id_b")).as("u"),
      greatest(col("id_a"), col("id_b")).as("v"))
    .filter(col("u") =!= col("v"))
    .distinct()

  /** The delta-merge half of [[incrementalTriangles]]: fold `newPairs`
    * into the STORED per-node counts of the old graph (`stored` must be
    * `triangleCounts` of `oldU` — e.g. read back from the count store).
    * This is the leg a production append pays: the old graph's wedge
    * enumeration never re-runs.
    *
    * Persists diamond intermediates (admitted new edges, union degrees,
    * the oriented union) whose release is CALLER-owned — consume the
    * result inside [[CacheScope.scoped]], as the registry, index, and
    * streaming call sites do.
    *
    * @param stored (doc_id, n_triangles) of the old graph.
    * @param oldU   canonical (u, v) old edges (u < v, distinct) — the
    *               membership side of the delta joins.
    */
  def mergeTriangleCounts(stored: DataFrame, oldU: DataFrame,
                          newPairs: DataFrame): DataFrame = {
    val newU = CacheScope.persisted(
      canonPairs(newPairs).join(oldU, Seq("u", "v"), "left_anti"))
    // Union graph with provenance; orientation by (deg, id) IN THE UNION
    // (degrees change under the append — per-node counts are
    // orientation-independent, so the stored side's own orientation is
    // irrelevant here).
    val und = oldU.withColumn("__new", lit(false))
      .unionByName(newU.withColumn("__new", lit(true)))
    val sym = und.union(und.select(col("v").as("u"), col("u").as("v"), col("__new")))
    // deg is node-sized and read three times (two orientation joins +
    // the final domain) — persisted so the symmetric-edge aggregation
    // runs once, not per reference.
    val deg = CacheScope.persisted(
      sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg")))
    val oriented = CacheScope.persisted(
      sym.join(deg.select(col("node").as("u"), col("deg").as("__du")), "u")
        .join(deg.select(col("node").as("v"), col("deg").as("__dv")), "v")
        .filter(col("__du") < col("__dv")
          || (col("__du") === col("__dv") && col("u") < col("v")))
        .select(col("u"), col("v"), col("__dv"), col("__new"))
        .repartition(col("u")))
    val orientedNew = oriented.filter(col("__new"))
    val orientedOld = oriented.filter(!col("__new"))
    def wedgeOrder(a: String, b: String) =
      col(s"$a.__dv") < col(s"$b.__dv") ||
        (col(s"$a.__dv") === col(s"$b.__dv") && col(s"$a.v") < col(s"$b.v"))
    // Leg A: ≥ 1 new wedge side, enumerated from the new edges (each
    // join reads the pivot-partitioned cache on u). [new, any] takes
    // both orders around the new edge; [old, new] covers the old-first
    // order without re-pairing new-new (already in [new, any]).
    val wedgesA = orientedNew.as("a").join(oriented.as("b"),
        col("a.u") === col("b.u") && wedgeOrder("a", "b"))
      .select(col("a.u").as("p"), col("a.v").as("x"), col("b.v").as("y"))
      .union(orientedOld.as("a").join(orientedNew.as("b"),
          col("a.u") === col("b.u") && wedgeOrder("a", "b"))
        .select(col("a.u").as("p"), col("a.v").as("x"), col("b.v").as("y")))
    val closedA = wedgesA.join(
      oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
    // Leg B: both wedge sides old, closing edge new — driven from the
    // new edge (x, y); its orientation IS the wedge order.
    val closedB = orientedNew.select(col("u").as("x"), col("v").as("y"))
      .join(orientedOld.select(col("u").as("p"), col("v").as("x")), Seq("x"))
      .join(orientedOld.select(col("u").as("p"), col("v").as("y")), Seq("p", "y"))
      .select(col("p"), col("x"), col("y"))
    // One explode pass per leg (the triangleCounts corner-emission
    // lesson): a 6-way union would re-execute each leg's join pipeline
    // three times.
    val delta = closedA
      .select(explode(array(col("p"), col("x"), col("y"))).as("doc_id"))
      .union(closedB
        .select(explode(array(col("p"), col("x"), col("y"))).as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("__d"))
    // stored + Δ over the union node domain (new nodes enter with 0+Δ).
    deg.select(col("node").as("doc_id"))
      .join(stored.withColumnRenamed("n_triangles", "__s"), Seq("doc_id"), "left")
      .join(delta, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("__s"), lit(0L)) + coalesce(col("__d"), lit(0L))).as("n_triangles"))
  }

  /** k-CORE of the pair graph — iterated shell peeling (Seidman 1983;
    * the Batagelj–Zaveršnik bulk variant): repeatedly delete every node
    * of degree < k until the remainder is stable; what survives is the
    * maximal subgraph where EVERY member keeps ≥ k in-subgraph
    * neighbors. The robust dense-family detector on the graph axis:
    * triangles/coefficient score local density but a star of pendant
    * near-dups still decorates a template hub — the 3-core strips every
    * tree-like attachment and keeps only mutually-supported families,
    * which is what "delete all but one of these" wants as evidence.
    *
    * Emits (doc_id, deg) for the surviving nodes — deg is the
    * IN-CORE degree (≥ k by the fixpoint). Empty result = no k-core.
    *
    * Round budget: each alternation is one degree aggregation + two
    * semi-joins over the CURRENT edge set (equi-shuffles on node ids;
    * peeling only shrinks it). Rounds = the graph's peel depth for this
    * k (a chain peels one shell per round — the adversarial case, like
    * [[StarComponents]]' diameter). Per the library's cap policy the
    * cap is a runaway guard: exhausting `maxRounds` without fixpoint
    * THROWS (a truncated peel is a superset of the core with < k-degree
    * members — silently wrong), it never returns a partial peel. The
    * oracle twin unrolls a fixed budget ≥ the fixture's measured depth;
    * peeling is monotone, so extra unrolled rounds past the fixpoint are
    * no-ops and the two sides agree whenever the loop converges. */
  def kCore(pairs: DataFrame, k: Int = 3, maxRounds: Int = 20): DataFrame =
    kCoreWithDepth(pairs, k, maxRounds)._1

  /** The peel-depth companion of [[kCore]] — rounds the loop ran to reach
    * its fixpoint (the LAST round is the no-change confirmation, so a
    * graph whose deepest shell dies in round r reports r + 1; an
    * already-stable graph reports 1). This is the number the DuckDB
    * twins' unroll budgets must dominate
    * ([[graft.registry.Corpus.KCoreTwinRounds]] is derived from the
    * registered fixtures' measured depths, not guessed) and the number
    * the decade probe records next to the cap. */
  def kCorePeelDepth(pairs: DataFrame, k: Int = 3, maxRounds: Int = 20): Int =
    kCoreWithDepth(pairs, k, maxRounds)._2

  private def kCoreWithDepth(pairs: DataFrame, k: Int,
                             maxRounds: Int): (DataFrame, Int) = {
    require(k >= 1, s"k must be >= 1, got $k")
    val canonical = pairs
      .select(least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .transform(graft.core.Lineage.truncate)
    // An edge set that peels empty exactly at the cap is the (empty) core.
    val ((edges, _), rounds) = Fixpoint.converge[(DataFrame, Long)](s"kCore(k=$k)", maxRounds,
      { case (_, n) => s"($n edges still peeling); a truncated peel is not the peeling " +
        s"fixpoint and silently includes sub-$k-degree members. Raise maxRounds " +
        "(rounds = the graph's peel depth)." },
      exemptAtCap = _._2 == 0L)((canonical, canonical.count())) { case (edges, n) =>
      val deg = edges.select(col("u").as("node")).union(edges.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select("node")
      val next = edges
        .join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
        .select("u", "v")
        .transform(graft.core.Lineage.truncate)
      // Peeling only deletes edges: equal count ⇔ no node fell below k
      // this round ⇔ fixpoint (degrees can only have dropped).
      val nNext = next.count()
      ((next, nNext), nNext == n)
    }
    (edges.select(col("u").as("doc_id")).union(edges.select(col("v").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("deg")), rounds)
  }

  /** 2-CORE via peel + degree-2 chain CONTRACTION — the log-depth form of
    * [[kCore]] at k = 2, for graphs whose peel depth GROWS with the
    * corpus. [[kCore]]'s bulk peel runs one round per shell wave, so a
    * pendant drift chain of length L costs L driver-sequenced rounds;
    * the mutual-kNN graph's measured depth (7 → 23 → 10 across the
    * sf0.1/sf1/sf10 decades — it follows the longest drift chain the
    * approximate pipeline happens to realize, non-monotone, predicted
    * by no scale law) can spike past any fixed cap on exactly the
    * corpora a curator cannot screen in advance, and rounds are
    * driver-sequential wall no cluster width can buy back. This variant
    * SMOOTHS an independent set of degree-2 nodes each round (replace
    * x–v–y by x–y, remember (v, x, y)), so chains shrink geometrically:
    * rounds = O(log L), deterministic coin (xxhash64 local-minimum — no
    * `rand()`, per the library's replay-stable policy).
    *
    * Correctness: smoothing preserves the 2-core. A degree-2 node v on
    * the path x…v…y is in the 2-core iff its replacement edge (x, y)
    * survives in the contracted graph's 2-core, i.e. iff BOTH x and y
    * end in-core (edges are only dropped when an endpoint peels) — so
    * covered nodes resolve by replaying the smoothing records in
    * REVERSE round order against the growing core set. Contraction
    * makes the working graph a MULTIgraph (parallel edges from
    * contracted cycles, self-loops from fully-collapsed ones), so edges
    * carry a multiplicity and a self-loop counts 2 toward its node's
    * degree — collapsing that to a simple graph would peel genuine
    * cycle nodes (a C4 contracts to a doubled edge whose endpoints must
    * still read degree 2). Self-loop nodes are terminal contracted
    * cycles: always in-core, never smoothed.
    *
    * Output is identical to `kCore(pairs, k = 2)` — (doc_id, deg) with
    * deg the IN-CORE degree, recomputed from the ORIGINAL simple edge
    * set restricted to the resolved core (the k-core is an induced
    * subgraph, so the restriction IS the core subgraph); equivalence is
    * spec-pinned on cliques+chains, cycles, lollipops and hash-random
    * graphs. k is fixed at 2: smoothing is a 2-core-specific identity
    * (for k ≥ 3 a degree-2 node can never be in-core and the bulk peel
    * removes it in its first wave; deep k ≥ 3 cascades have no
    * comparable contraction). Same converge-or-throw cap policy as
    * [[kCore]]; the default cap 48 is log-scale (a 2⁴⁰-node chain is
    * not a real corpus), not a tuning knob. Caller-owned release: like
    * [[triangleCounts]], intermediate frames are localCheckpoint-backed
    * and freed with the session, not a [[CacheScope]]. */
  def kCore2Contracted(pairs: DataFrame, maxRounds: Int = 48): DataFrame =
    kCore2ContractedWithRounds(pairs, maxRounds)._1

  /** Rounds companion of [[kCore2Contracted]] — the number the decade
    * probe records against [[kCorePeelDepth]]'s linear depth law. */
  def kCore2ContractedRounds(pairs: DataFrame, maxRounds: Int = 48): Int =
    kCore2ContractedWithRounds(pairs, maxRounds)._2

  private def kCore2ContractedWithRounds(pairs: DataFrame,
                                         maxRounds: Int): (DataFrame, Int) = {
    // Canonical simple edges — kept for the final in-core degree pass.
    val und = pairs
      .select(least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .transform(graft.core.Lineage.truncate)
    // Working multigraph: (u, v, cnt) with u <= v; u == v is a self-loop
    // counting 2·cnt toward u's degree.
    val multi = und.withColumn("cnt", lit(1L)).transform(graft.core.Lineage.truncate)
    val records = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def degrees(e: DataFrame): DataFrame = e
      .select(col("u").as("node"),
        when(col("u") === col("v"), col("cnt") * 2).otherwise(col("cnt")).as("w"))
      .union(e.filter(col("u") =!= col("v"))
        .select(col("v").as("node"), col("cnt").as("w")))
      .groupBy("node").agg(sum(col("w")).as("deg"))
    val ((edges, _), rounds) = Fixpoint.converge[(DataFrame, Long)]("kCore2Contracted", maxRounds,
      { case (_, n) => s"($n multi-edges still active); a truncated peel is not the 2-core " +
        "fixpoint and silently includes sub-2-degree members. Raise maxRounds " +
        "(rounds are O(log chain length))." },
      exemptAtCap = _._2 == 0L)((multi, multi.count())) { case (edges, n) =>
      // Peel wave: drop every node of degree < 2 (bulk, as in kCore).
      val keep = degrees(edges).filter(col("deg") >= 2).select("node")
      val peeled = edges
        .join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
        .transform(graft.core.Lineage.truncate)
      if (peeled.count() == n) {
        // No node fell below 2: every remaining live node is in-core.
        // Contraction exists only to ACCELERATE active peels (a pure
        // cycle converges here in round 1 without ever contracting).
        ((peeled, n), true)
      } else {
        // Smooth an independent set of degree-2 chain nodes. Eligible:
        // degree exactly 2, no self-loop (terminal cycles stay), and a
        // deterministic local minimum among eligible neighbors so
        // adjacent candidates never smooth together (their shared edge
        // would be rewritten twice).
        val loops = peeled.filter(col("u") === col("v"))
          .select(col("u").as("node")).distinct()
        val eligible = degrees(peeled).filter(col("deg") === 2).select("node")
          .join(loops, Seq("node"), "left_anti")
          .withColumn("h", xxhash64(lit("kcore2"), col("node")))
        val inc = peeled.filter(col("u") =!= col("v"))
        val incident = inc
          .select(col("u").as("node"), col("v").as("nbr"), col("cnt"))
          .union(inc.select(col("v").as("node"), col("u").as("nbr"), col("cnt")))
          .join(eligible, Seq("node"))
          .join(eligible.select(col("node").as("nbr"), col("h").as("nh")),
            Seq("nbr"), "left")
        // nrows == 1 means a doubled edge (neighbor multiset {x, x}):
        // the replacement is a self-loop at x. Otherwise {min, max}.
        val sm = incident.groupBy("node", "h")
          .agg(sum(when(col("nh").isNotNull && (col("nh") < col("h")
              || (col("nh") === col("h") && col("nbr") < col("node"))), 1)
            .otherwise(0)).as("losses"),
            min(col("nbr")).as("x"), max(col("nbr")).as("y"),
            count(lit(1)).as("nrows"))
          .filter(col("losses") === 0)
          .select(col("node"), col("x"),
            when(col("nrows") === 1, col("x")).otherwise(col("y")).as("y"))
          .transform(graft.core.Lineage.truncate)
        records += sm
        val smNodes = sm.select("node")
        val next = peeled
          .join(smNodes.select(col("node").as("u")), Seq("u"), "left_anti")
          .join(smNodes.select(col("node").as("v")), Seq("v"), "left_anti")
          .select("u", "v", "cnt")
          .union(sm.select(least(col("x"), col("y")).as("u"),
            greatest(col("x"), col("y")).as("v"), lit(1L).as("cnt")))
          .groupBy("u", "v").agg(sum(col("cnt")).as("cnt"))
          .transform(graft.core.Lineage.truncate)
        ((next, next.count()), false)
      }
    }
    // Resolve covered nodes newest-first: a node smoothed in round r
    // references endpoints that are either final survivors or covered in
    // a LATER round — already resolved by the time round r replays.
    var core = edges.select(col("u").as("node"))
      .union(edges.select(col("v").as("node"))).distinct().transform(graft.core.Lineage.truncate)
    for (rec <- records.reverse) {
      val resolved = rec
        .join(core.select(col("node").as("x")), Seq("x"), "left_semi")
        .join(core.select(col("node").as("y")), Seq("y"), "left_semi")
        .select("node")
      core = core.union(resolved).transform(graft.core.Lineage.truncate)
    }
    val coreEdges = und
      .join(core.select(col("node").as("u")), Seq("u"), "left_semi")
      .join(core.select(col("node").as("v")), Seq("v"), "left_semi")
    (coreEdges.select(col("u").as("doc_id"))
      .union(coreEdges.select(col("v").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("deg")), rounds)
  }
}
