package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank over an undirected pair graph — the graph-centrality signal a
  * curation pipeline derives from its near-dup / similarity graphs: a
  * document whose neighborhood is dense (boilerplate families, template
  * farms, SEO clusters) concentrates rank, so rank joins quality scoring
  * as a *structural* redundancy feature the per-document scores
  * ([[graft.llmdata.TextAnalysis]]) cannot see. The same fixed-iteration
  * loop serves embedding k-NN graphs (hub detection before semantic
  * dedup).
  *
  * Arithmetic is INTEGER parts-per-million end to end (the t_gini /
  * st_drift_psi discipline): rank starts at 1 000 000 ppm per node and a
  * round computes
  *
  *   rank'(v) = 150 000 + Σ_{(u,v) ∈ E} ((rank(u) div deg(u)) · 17) div 20
  *
  * — the standard damping d = 0.85 as the exact rational 17/20, applied
  * AFTER the degree split so every intermediate stays ≤ 17 · rank (no
  * overflow headroom needed beyond the graph's total mass, which a
  * BIGINT holds past 10¹² nodes). Integer sums are order-independent, so
  * the result is deterministic under any partitioning and the DuckDB
  * oracle (`x_pagerank`) reproduces it bit for bit with `//` — a
  * cross-engine EXACT check no floating-point PageRank can offer.
  *
  * Scale shape: one persisted symmetric edge frame; each round is ONE
  * equi-join (edges ⋈ rank on src — rank carries the weighted degree W,
  * which is deg at unit weights, so no second join) plus ONE groupBy(dst) with map-side partial sums — two edge-set
  * shuffles per round, never a corpus shuffle, the
  * [[graft.llmdata.CorpusOps.clusterLabels]] budget. Fixed iterations
  * (power iteration truncated, not converged) keep the operator a pure
  * function of its input; `localCheckpoint` per round truncates lineage
  * exactly as [[StarComponents]] does — Catalyst re-analysis doubles per
  * round without it long before the data matters.
  */
object GraphRank {

  /** (doc_id, rank_ppm) for every node of `pairs` after `iterations`
    * damped power-iteration rounds (d = 17/20, teleport 150 000 ppm).
    * Domain = ids appearing in `pairs` (isolated docs hold rank exactly
    * 1 000 000 − nothing flows − and are not emitted, matching the
    * cluster operators' convention).
    *
    * @param pairs (id_a, id_b) undirected edges in the near-dup
    *              convention: canonical orientation, distinct, no self
    *              loops ([[graft.llmdata.DocDedup.minhashLshPairs]]'s
    *              contract). Parallel edges, if present, are multigraph
    *              edges — each carries mass.
    *
    * Runs [[pageRankWeightedPpm]]'s loop at unit weights: with w ≡ 1,
    * q·1 + (rem·1) div deg = rank div deg, so the ranks are the formula
    * above bit for bit (spec-pinned).
    */
  def pageRankPpm(pairs: DataFrame, iterations: Int = 5): DataFrame =
    pageRankWeightedPpm(pairs.select(col("id_a"), col("id_b"), lit(1L).as("w_ppm")), iterations)

  /** Edge-WEIGHTED PageRank in the same integer-ppm discipline — mass
    * flows in proportion to edge weight instead of splitting evenly:
    *
    *   rank'(v) = 150 000 + Σ_{(u,v)} (((rank(u)·w_uv) div W_u) · 17) div 20,
    *   W_u = Σ_w over u's edges
    *
    * which is what similarity graphs actually want (an endpoint ringed by
    * 0.99-cosine copies concentrates more rank than one ringed by
    * 0.4-cosine acquaintances at equal degree). The weighted split is
    * computed by the exact quotient-remainder decomposition
    *
    *   (rank·w) div W  =  q·w + (rem·w) div W,   q = rank div W, rem = rank % W
    *
    * — identical value, but every intermediate is bounded by
    * max(rank, W·w_max) instead of rank·w_max: with ppm weights
    * (w ≤ 10⁶) a direct product overflows BIGINT once a hub's rank
    * passes ~9·10¹² ppm, while here `rem < W` keeps `rem·w < W·10⁶`,
    * safe to per-node weighted degree W ~ 9·10¹² (far past any k-NN
    * graph, where W ≤ k·10⁶). All operands stay non-negative, so Spark
    * `div`/`%` and DuckDB `//`/`%` agree and the oracle is bit-exact.
    *
    * Uniform weights reproduce the unweighted ranks EXACTLY (not just
    * approximately): for w_uv ≡ c, q·c + (rem·c) div (deg·c) =
    * (rank div deg) ... truncated identically — pinned by the spec, and
    * the reason [[pageRankPpm]] is this loop at w ≡ 1. The edge frame is
    * repartitioned once by src and persisted with that partitioning;
    * rank carries W so each round is ONE equi-join + ONE groupBy(dst).
    *
    * @param pairs (id_a, id_b, w_ppm) undirected weighted edges,
    *              near-dup convention; w_ppm must be ≥ 1 (a zero weight
    *              would zero a node's weighted degree and divide by it) —
    *              ENFORCED per edge below, because the failure mode is
    *              silent: Spark's non-ANSI integer div/% by a zero wsum
    *              yields NULL, so contributions would vanish instead of
    *              erroring (and negative weights corrupt ranks without
    *              any arithmetic fault at all).
    */
  def pageRankWeightedPpm(pairs: DataFrame, iterations: Int = 5): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    // Loud converge-or-throw policy: validate every edge weight inside the
    // projection (codegen'd, one comparison per edge — no extra pass); a
    // bad weight fails the FIRST action instead of silently zeroing mass.
    val wChecked = when(col("w_ppm") >= 1, col("w_ppm")).otherwise(raise_error(
      concat(lit("pageRankWeightedPpm: w_ppm must be >= 1 (a zero weight zeroes the "
          + "node's weighted degree and non-ANSI div by it NULLs contributions "
          + "silently; negative weights corrupt ranks) — got "),
        col("w_ppm").cast("string"))))
    val checked = pairs.select(col("id_a"), col("id_b"), wChecked.as("w_ppm"))
    val edges = CacheScope.persisted(
      checked.select(col("id_a").as("src"), col("id_b").as("dst"), col("w_ppm").as("w"))
        .union(checked.select(col("id_b").as("src"), col("id_a").as("dst"), col("w_ppm").as("w")))
        .repartition(col("src")))
    var rank = edges.groupBy(col("src").as("doc_id"))
      .agg(sum("w").as("wsum"))
      .withColumn("rank_ppm", lit(1000000L))
      .transform(graft.core.Lineage.truncate)
    for (_ <- 1 to iterations) {
      val contrib = edges
        .join(rank.select(col("doc_id").as("src"), col("rank_ppm"), col("wsum")), "src")
        .select(col("dst"), expr(
          "((((rank_ppm div wsum) * w + ((rank_ppm % wsum) * w) div wsum)) * 17) div 20")
          .as("__c"))
        .groupBy(col("dst").as("doc_id"))
        .agg(sum("__c").as("__s"))
      rank = rank.select("doc_id", "wsum")
        .join(contrib, Seq("doc_id"), "left")
        .select(col("doc_id"), col("wsum"),
          (lit(150000L) + coalesce(col("__s"), lit(0L))).as("rank_ppm"))
        .transform(graft.core.Lineage.truncate)
    }
    edges.unpersist(blocking = false)
    rank.select("doc_id", "rank_ppm")
  }
}
