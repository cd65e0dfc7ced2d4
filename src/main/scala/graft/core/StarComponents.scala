package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by alternating large-star / small-star contraction
  * — the diameter-independent CC algorithm for shared-nothing engines
  * (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected
  * Components in MapReduce and Beyond", SoCC 2014; the same alternation
  * GraphFrames ships as its default CC).
  *
  * Complements [[graft.llmdata.CorpusOps.clusterLabels]]: min-label
  * propagation costs one round per hop of component DIAMETER — the right
  * tool for near-dup graphs (tiny cliques and short chains, diameter
  * ≤ 2–3), the wrong one for chain-shaped components (templated page
  * series, boilerplate gradients, crawl-date near-copies) where the
  * diameter grows with the corpus. Star contraction halves star depth
  * every alternation: O(log² n) rounds worst-case, O(log n) observed,
  * regardless of diameter — a 10⁶-hop chain at 100 TB costs ~20 rounds of
  * two edge-set shuffles each, not 10⁶ rounds.
  *
  * Scale shape: every round is two groupBy-min + join passes over the
  * CURRENT edge set keyed on a node id — bucketable equi-shuffles, no
  * all-pairs step, no driver-side state beyond the per-round convergence
  * probe (one count + one except-limit over edges). Contraction only
  * shrinks the edge set (each edge is rewired, never multiplied), so the
  * per-round cost falls as components collapse. `localCheckpoint` per
  * round truncates lineage exactly as [[graft.llmdata.CorpusOps
  * .clusterLabelsConverged]] does — without it Catalyst re-analysis cost
  * doubles per round long before the data matters.
  */
object StarComponents {

  /** Edge-count gate for the per-round co-partitioned caches: at or below
    * it a round runs plain inline plans (re-evaluating a tiny star twice
    * beats two persist+repartition floors — the [[graft.llmdata
    * .Similarity.KnnLightMaxN]] lesson on the component axis); above it
    * the caches remove the dual-reference recompute and both cache-side
    * exchanges. The gate reads the convergence probe's own count, so it
    * costs no extra jobs, and the plans are identical either way. */
  val StarLightMaxEdges: Long = 1L << 16


  /** Min-id component label per node of the pair graph: (doc_id, cluster)
    * with `cluster` = the smallest id in the node's connected component —
    * bit-identical to converged min-label propagation, reached in
    * O(log² n) rounds instead of O(diameter). Domain = every id that
    * appears in `pairs` (isolated docs are not emitted, matching
    * [[graft.llmdata.CorpusOps.clusterLabels]]).
    *
    * Cap policy: `maxIterations` is a RUNAWAY GUARD, not a truncation
    * knob — if the alternation has not reached the disjoint-star fixpoint
    * when the cap trips, this THROWS (the label extraction below is only
    * meaningful at the fixpoint; a capped exit would silently emit
    * non-canonical clusters, and duplicate label rows for nodes still
    * holding several edges). The default 50 sits ~2× above the measured
    * growth (~+3.3 rounds per node-count decade: 18/21/25 at 0.2/2/20 M
    * adversarial chain nodes), i.e. comfortably past 10¹² nodes; a caller
    * lowering it accepts loud failure, never wrong answers.
    *
    * @param pairs (id_a, id_b) undirected edges, any orientation, self
    *              loops and duplicates tolerated.
    */
  def components(pairs: DataFrame, maxIterations: Int = 50): DataFrame =
    componentsWithRounds(pairs, maxIterations)._1

  /** [[components]] plus the number of large+small-star alternations it
    * took to reach the fixpoint — exposed so the spec suite can pin the
    * O(log n) round count on chain graphs (the regime label propagation
    * cannot close).
    *
    * @param lightMaxEdges per-round cache gate override ([[StarLightMaxEdges]]
    *                      by default); the spec suite pins the heavy (cached,
    *                      co-partitioned) rounds on small fixtures by passing 0.
    */
  def componentsWithRounds(pairs: DataFrame,
                           maxIterations: Int = 50,
                           lightMaxEdges: Long = StarLightMaxEdges): (DataFrame, Int) = {
    // Invariant carried through every round: edges oriented high → low
    // (u > v), no self loops, distinct. Both star steps preserve it.
    val canonical = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .union(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct()
      .transform(graft.core.Lineage.truncate)
    val n0 = canonical.count()
    // Loud cap exit (never wrong answers): the extraction below assumes
    // the disjoint-star fixpoint. On a capped non-converged edge set it
    // would emit non-canonical clusters — and TWO label rows for a node
    // still holding two edges — with no signal. See the cap policy on
    // [[components]]; StarComponentsSpec pins this with maxIterations = 1.
    val ((edges, _), rounds) =
      if (n0 == 0L) ((canonical, 0L), 0)
      else Fixpoint.converge[(DataFrame, Long)]("StarComponents", maxIterations,
        { case (_, n) => s"($n edges still moving); labels at a capped exit would be " +
          "silently non-canonical. Raise maxIterations (rounds grow ~O(log^2 n); " +
          "measured 25 at 20M adversarial chain nodes)." })((canonical, n0)) {
        case (edges, nEdges) =>
          // Each star consumes its input TWICE (a groupBy-min and a join on
          // the same node key). Above the size gate, both the neighbor frame
          // and the large-star output are cached CO-PARTITIONED on that key:
          // without the caches the second reference re-evaluates the whole
          // prior star (AQE exchange reuse measured NOT to fire across the
          // groupBy/join pair — chain probe: −22–27% from the caches at 2 M
          // nodes), and with unpartitioned caches both references still
          // shuffle. Below the gate the two persists + repartitions per
          // round are pure scheduling floor (measured +1–3.5 s per fixture
          // row, the knn small-N lesson), so the round runs the plain inline
          // plans — a tiny star re-evaluated twice is still tiny. The gate
          // reuses the convergence probe's count; no extra jobs. Same plans
          // either way — labels are spec-pinned identical.
          val light = nEdges <= lightMaxEdges
          val toFree = scala.collection.mutable.Buffer.empty[DataFrame]
          def staged(df: DataFrame): DataFrame =
            if (light) df
            else { val c = CacheScope.persisted(df.repartition(col("u"))); toFree += c; c }
          val nbr = staged(edges.union(edges.select(col("v").as("u"), col("u").as("v"))))
          val lsMins = nbr.groupBy("u").agg(min("v").as("__mn"))
            .select(col("u"), least(col("u"), col("__mn")).as("m"))
          val ls = staged(
            nbr.join(lsMins, "u")
              .filter(col("v") > col("u"))
              .select(col("v").as("u"), col("m").as("v"))
              .distinct())
          val ssMins = ls.groupBy("u").agg(min("v").as("m"))
          val next = ls.join(ssMins, "u")
            .filter(col("v") =!= col("m"))
            .select(col("v").as("u"), col("m").as("v"))
            .union(ssMins.select(col("u"), col("m").as("v")))
            .distinct()
            .transform(graft.core.Lineage.truncate)
          toFree.foreach(_.unpersist(blocking = false))
          // Both frames are distinct rows; equal count + empty difference ⇔
          // equal sets. Runs over the (shrinking) edge set, never the corpus.
          val nNext = next.count()
          ((next, nNext), nNext == nEdges && next.except(edges).limit(1).count() == 0L)
      }
    // Fixpoint = disjoint stars: every non-root holds exactly one edge to
    // its component minimum; roots appear only on the low side.
    val labels = edges.select(col("u").as("doc_id"), col("v").as("cluster"))
      .union(edges.select(col("v").as("doc_id"), col("v").as("cluster")))
      .distinct()
    (labels, rounds)
  }

  // Star-step semantics (inlined in the round step above for the cache
  // lifecycle):
  //  - LARGE-STAR (nbr → ls): every node attaches its STRICTLY LARGER
  //    neighbors to the minimum of its closed neighborhood. Emitted
  //    edges (v, m) with v > u ≥ m keep the high → low orientation and
  //    can never be self loops; connectivity is preserved because each
  //    dropped (u, smaller-v) edge is re-examined from the smaller
  //    endpoint's own group.
  //  - SMALL-STAR (ls → next): every node attaches its smaller
  //    neighbors (and itself) to the minimum of its closed
  //    neighborhood. Input/output both keep the high → low orientation,
  //    so the neighborhood minimum is just min(v) — the u side of a
  //    group is by construction larger than every neighbor it sees.

  /** Incremental component maintenance — the append leg of the CC
    * lifecycle (the [[graft.llmdata.Similarity]] index idiom on the
    * cluster axis): given the STORED labels of the already-clustered
    * corpus and only the NEW pairs (≥ 1 new endpoint — old×old pairs were
    * already clustered and are never re-paired, exactly the
    * incremental-dedup contract of `CorpusOps.incrementalIndexDedup`),
    * produce labels equal to a full recompute over the union graph.
    *
    * Exactness, not a recall band: component merging is associative —
    * contract every new edge's endpoints to their current representative
    * (left join against stored labels, identity for unseen nodes), run
    * star contraction on that REPRESENTATIVE graph (its size is bounded
    * by the new pairs, not the corpus), and push the contracted label
    * back through the stored labels. Stored labels are min-ids, so the
    * composed label is the min id of the merged component — bit-identical
    * to [[components]] over all pairs.
    *
    * Scale shape: the stored-label joins are equi-joins keyed on node id
    * (the big side is the label store, shuffled once), and the star
    * contraction runs on the contracted NEW-edge graph only — a 1%
    * append touches ~1% of edge volume regardless of corpus size.
    *
    * Inherits [[components]]'s cap policy: a `maxIterations` exhausted
    * without fixpoint THROWS rather than merging non-canonical labels. */
  def mergeComponents(labels: DataFrame, newPairs: DataFrame,
                      maxIterations: Int = 50): DataFrame = {
    val reps = labels.select(col("doc_id"), col("cluster"))
    // Contract each new edge endpoint to its stored representative;
    // endpoints the store has never seen represent themselves.
    val contracted = newPairs
      .join(reps.withColumnsRenamed(Map("doc_id" -> "id_a", "cluster" -> "__ra")),
        Seq("id_a"), "left")
      .join(reps.withColumnsRenamed(Map("doc_id" -> "id_b", "cluster" -> "__rb")),
        Seq("id_b"), "left")
      .select(coalesce(col("__ra"), col("id_a")).as("id_a"),
        coalesce(col("__rb"), col("id_b")).as("id_b"))
    // select-rename, not withColumnsRenamed: the chained rename would pass
    // "doc_id"→"cluster" through the SECOND rename too, yielding (__c, __c)
    val merged = components(contracted, maxIterations)
      .select(col("doc_id").as("cluster"), col("cluster").as("__c"))
    // New-pair endpoints must resolve through their CONTRACTED rep (a new
    // node's rep is itself; an old endpoint's rep is its stored cluster).
    val newNodes = newPairs.select(col("id_a").as("doc_id"))
      .union(newPairs.select(col("id_b").as("doc_id")))
      .distinct()
      .join(reps, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("cluster"))
    newNodes.unionByName(reps.join(newNodes.select("doc_id"), Seq("doc_id"), "left_anti"))
      .join(merged, Seq("cluster"), "left")
      .select(col("doc_id"), coalesce(col("__c"), col("cluster")).as("cluster"))
  }
}
