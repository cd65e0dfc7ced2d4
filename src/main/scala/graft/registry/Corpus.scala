package graft.registry

import graft.llmdata.{CorpusOps, DocDedup, TextAnalysis, TextPrimitives}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Harness registration for the corpus-curation operators
  * ([[graft.llmdata.CorpusOps]]): deterministic stratified sampling,
  * benchmark decontamination, dedup-cluster assignment, and the composed
  * cleaning pipeline. Every oracle reproduces the exact integer/float math
  * in DuckDB, so even the composed pipeline is hash-compared end to end.
  */
object Corpus {
  import TextPrimitives._
  import TextAnalysis.{langScoreDuck, StopWords}

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Registered sampling rates: downsample the dominant language (en) to
    * 50%, zh to 75%, keep the rest — the classic language-mix rebalance. */
  val SampleRates: Map[String, Int] = Map("en" -> 500, "zh" -> 750)

  /** Token budgets for the mixing query: cap the dominant stratum (en) at
    * 5000 tokens; other languages keep everything. */
  val TokenBudgets: Map[String, Long] = Map("en" -> 5000L)

  /** Fixture decontamination shingle size (see
    * [[CorpusOps.decontaminate]] — production uses 8-13; the synthetic
    * vocabulary is too small for 8-grams to ever collide). */
  val DecontamK = 4

  /** Fixture shingle size for the cross-source overlap matrix — 3-grams
    * over the ~31-token synthetic vocabulary give every source pair a
    * nonzero shared set (k=8 would make the matrix all-zeros and the
    * containment math vacuous); production uses the dedup family's 8-13. */
  val OverlapK = 3

  /** Sketch size for the KMV overlap-estimation row — deliberately SMALLER
    * than the fixture's per-source distinct-shingle counts (~1.1-1.5k at
    * sf0.01) so the registered row exercises the truncating estimator
    * branch, not the everything-fits exact anchor (specs pin that one). */
  val OverlapKmvK = 256

  // ---- Spark side --------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c_sample" -> ((s, d) => CorpusOps.stratifiedSample(docs(s, d), SampleRates)),
    "c_wsample" -> ((s, d) => CorpusOps.ppsSample(docs(s, d))),
    "c_budget" -> ((s, d) => CorpusOps.tokenBudgetSample(docs(s, d), TokenBudgets)),
    "c_qsample" -> ((s, d) => CorpusOps.qualityGatedSample(docs(s, d))),
    "c_decontam" -> ((s, d) => {
      val all = docs(s, d)
      CorpusOps.decontaminate(
        CorpusOps.fixtureTraining(all), CorpusOps.fixtureBenchmark(all), DecontamK)
    }),
    "c_clusters" -> ((s, d) => CorpusOps.dedupClusters(docs(s, d))),
    // Star-contraction connected components over the same pair graph —
    // the diameter-independent labeling (O(log² n) rounds vs label
    // propagation's O(diameter)); converged labels are identical, and the
    // oracle checks against the TRUE components (recursive closure), not
    // an unrolled round count.
    "c_cc" -> ((s, d) => CorpusOps.dedupClustersStar(docs(s, d))),
    // Incremental component maintenance: cluster the first id-half, merge
    // in only the ≥1-new-endpoint pairs. Merge is exact (associative), so
    // the oracle is the SAME closure over the full pair graph — the
    // incremental dataflow must land bit-identical to a rebuild.
    "c_cc_incr" -> ((s, d) => CorpusOps.incrementalClusters(docs(s, d))),
    // Per-source quantile normalization (cross-source score calibration);
    // histogram-join shape, no per-source document sort.
    "c_qnorm" -> ((s, d) => CorpusOps.sourceQuantileNorm(docs(s, d))),
    // Integer-ppm PageRank over the near-dup pair graph (structural
    // redundancy signal) — exact rational damping 17/20, so the DuckDB
    // twin matches bit for bit; two edge-set shuffles per fixed round.
    "x_pagerank" -> ((s, d) => CorpusOps.docPageRank(docs(s, d))),
    // Degree-oriented triangle counting over the same graph (local
    // clustering density: cliques vs chains) — wedge volume bounded
    // O(m^1.5) by the orientation regardless of hub skew.
    "x_triangles" -> ((s, d) => CorpusOps.docTriangles(docs(s, d))),
    // DOULION-sparsified estimate over the same graph (deterministic
    // hash coin p=1/2, count exact on the sample, unbias by p⁻³) — the
    // dense-regime path where exact wedge volume exceeds scratch. The
    // hash is replayed verbatim in the twin, so the estimate is exact
    // cross-engine even though it approximates the true count.
    "x_triangles_approx" -> ((s, d) => CorpusOps.docTrianglesApprox(docs(s, d))),
    // Local clustering coefficient (integer ppm): triangles normalized
    // by wedge capacity — the degree-independent density score raw
    // counts confound; deg rides along as the support size.
    "x_clustcoef" -> ((s, d) => CorpusOps.docClusteringCoef(docs(s, d))),
    // 2-core peel: strips tree-like attachments (pendants, isolated
    // pairs), keeps mutually-supported families with in-core degrees.
    // Loop converges or THROWS (never a truncated peel); the twin's
    // fixed unroll is a no-op past the fixpoint.
    "x_kcore" -> ((s, d) => CorpusOps.docKCore(docs(s, d))),
    // Incremental triangle maintenance (count base half, fold in the
    // ≥1-new-endpoint pairs; wedge work batch-bounded) — EXACT, so the
    // oracle is the SAME full-graph twin as x_triangles: the
    // incremental dataflow must land bit-identical to a recount.
    "x_triangles_incr" -> ((s, d) => CorpusOps.docTrianglesIncr(docs(s, d))),
    // Stored-count lifecycle (build/store/append/serve through the
    // versioned TriangleIndex): the append folds a real STORE's counts,
    // never an in-plan recount — the production leg x_triangles_incr
    // replays declaratively. Served counts must equal a full recount
    // bit for bit, so the oracle is the same full-graph twin.
    "x_triangles_idx" -> ((s, d) => CorpusOps.docTrianglesIdx(
      docs(s, d), graft.core.RunScratch.dir("graft_tri_idx", d))),
    "c_chunks" -> ((s, d) => CorpusOps.chunk(docs(s, d))),
    "c_shuffle" -> ((s, d) => CorpusOps.shuffleOrder(docs(s, d))),
    "c_quantiles" -> ((s, d) => CorpusOps.scoreQuantiles(docs(s, d))),
    "c_report" -> ((s, d) => CorpusOps.corpusReport(docs(s, d))),
    "c_overlap" -> ((s, d) => CorpusOps.sourceOverlap(docs(s, d), OverlapK)),
    "c_overlap_kmv" -> ((s, d) => CorpusOps.kmvSourceOverlap(docs(s, d), OverlapK, OverlapKmvK)),
    "c_autofilter" -> ((s, d) => CorpusOps.autoQualityFilter(docs(s, d))),
    // Calibrated variant: gate on the per-source quantile (qnorm >= 0.7 =
    // top 30% of EVERY source) instead of one raw-score cutoff — the
    // composition c_qnorm exists for (a global raw gate starves terse
    // sources; spec pins the two-regime fixture).
    "c_autofilter_norm" -> ((s, d) => CorpusOps.normQualityFilter(docs(s, d))),
    "c_sourcecap" -> ((s, d) => CorpusOps.perSourceCap(docs(s, d))),
    "c_split" -> ((s, d) => CorpusOps.datasetSplit(docs(s, d))),
    "c_epochs" -> ((s, d) => CorpusOps.epochPlan(docs(s, d), EpochWeights)),
    "c_funnel" -> ((s, d) => CorpusOps.cleanFunnel(docs(s, d))),
    "c_keepbest" -> ((s, d) => CorpusOps.keepBestPerCluster(docs(s, d))),
    "c_mixorder" -> ((s, d) => CorpusOps.strideMixOrder(docs(s, d), EpochWeights)),
    // Eval hygiene end-to-end: the held-out side of the hash split,
    // admitted only if it has no exact or near-dup leak from the train
    // side (and deduped within itself) — the composition c_split and
    // c_incr exist for.
    "c_evalset" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val all = docs(s, d)
      val sp = CorpusOps.datasetSplit(all)
      CorpusOps.dedupAgainstCorpus(
        all.join(sp.filter(col("split") =!= "train").select("doc_id"), "doc_id"),
        all.join(sp.filter(col("split") === "train").select("doc_id"), "doc_id"))
    }),
    "c_pack" -> ((s, d) => CorpusOps.packChunks(CorpusOps.chunk(docs(s, d)))),
    "c_batches" -> ((s, d) => CorpusOps.lengthBucketedBatches(docs(s, d))),
    "c_seqtext" -> ((s, d) => CorpusOps.packedSequenceText(docs(s, d))),
    "c_corpus" -> ((s, d) => CorpusOps.cleanCorpus(docs(s, d))),
    "c_e2e" -> ((s, d) => CorpusOps.trainingSequences(docs(s, d))),
    "c_incr" -> ((s, d) => {
      val all = docs(s, d)
      CorpusOps.dedupAgainstCorpus(
        all.filter(org.apache.spark.sql.functions.col("doc_id") % 5 === 0),
        all.filter(org.apache.spark.sql.functions.col("doc_id") % 5 =!= 0))
    }),
    "c_dsir" -> ((s, d) => CorpusOps.importanceScore(docs(s, d))),
    // Same split, but the corpus side served from a STORED dedup index
    // (shingles + band keys materialized at "ingest") — admission math is
    // identical, so it shares c_incr's oracle; what changes is the
    // per-batch cost: read precomputed tables vs recompute the corpus.
    "c_incr_idx" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val all = docs(s, d)
      val dir = graft.core.RunScratch.dir("graft_dedup_idx", d)
      CorpusOps.buildDedupIndex(all.filter(col("doc_id") % 5 =!= 0), dir)
      CorpusOps.dedupAgainstIndex(all.filter(col("doc_id") % 5 === 0), dir)
    }))

  // ---- DuckDB oracles ----------------------------------------------------

  private val sampleSql = {
    val rate = SampleRates.foldRight("1000") { case ((l, r), e) =>
      s"CASE WHEN lang = '$l' THEN $r ELSE $e END"
    }
    s"""WITH b AS (SELECT doc_id, lang, ${CorpusOps.bucketSql("doc_id")} AS bucket FROM documents)
       |SELECT doc_id, lang, bucket FROM b WHERE bucket < ($rate)""".stripMargin
  }

  /** DuckDB twin of [[CorpusOps.ppsSample]] — identical integer
    * cross-multiply gate, so membership matches row-for-row. */
  private val wsampleSql =
    s"""WITH m AS (SELECT CAST(max(n_chars) AS BIGINT) AS maxw FROM documents),
       |b AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS weight,
       |             CAST(${CorpusOps.bucketSql("doc_id")} AS BIGINT) AS bucket FROM documents)
       |SELECT doc_id, lang, weight, bucket FROM b, m
       |WHERE bucket * maxw < weight * 1000""".stripMargin

  private val budgetSql = {
    val budget = TokenBudgets.foldRight(Long.MaxValue.toString) { case ((l, b), e) =>
      s"CASE WHEN lang = '$l' THEN $b ELSE $e END"
    }
    s"""WITH d AS (SELECT doc_id, lang, CAST(len(${duckWords("text")}) AS BIGINT) AS n_tokens,
       |                  ${CorpusOps.bucketSql("doc_id")} AS bucket FROM documents),
       |pb AS (SELECT lang, bucket, SUM(n_tokens) AS bucket_tokens FROM d GROUP BY 1, 2),
       |cm AS (SELECT lang, bucket, SUM(bucket_tokens) OVER (PARTITION BY lang ORDER BY bucket) AS cum_tokens FROM pb),
       |ct AS (SELECT lang, max(bucket) AS cutoff FROM cm WHERE cum_tokens <= ($budget) GROUP BY 1)
       |SELECT d.doc_id, d.lang, d.bucket, d.n_tokens
       |FROM d JOIN ct USING (lang) WHERE d.bucket <= ct.cutoff""".stripMargin
  }

  /** Shingle posting list (doc_id, shingle-hash) over relation `src`, CTE
    * names prefixed with `p` — shared by the decontamination and minhash
    * oracles so both engines always shingle and hash identically. */
  private def postingCtes(src: String, p: String, k: Int): String =
    s"""${p}w AS (SELECT doc_id, text, ${duckWords("text")} AS words FROM $src),
       |${p}sh AS (SELECT doc_id, ${duckShingles("words", "text", k)} AS s FROM ${p}w),
       |${p}post AS (SELECT doc_id, unnest(${duckPolyHashArray("s")}) AS shingle FROM ${p}sh)""".stripMargin

  private val decontamSql =
    s"""WITH ${postingCtes("documents", "", DecontamK)},
       |bench AS (SELECT doc_id AS bench_id, shingle FROM post WHERE doc_id % 97 = 0),
       |train AS (SELECT doc_id, shingle FROM post WHERE doc_id % 97 != 0)
       |SELECT t.doc_id,
       |  CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs,
       |  CAST(count(*) AS BIGINT) AS n_hits
       |FROM train t JOIN bench b ON t.shingle = b.shingle
       |GROUP BY t.doc_id""".stripMargin

  /** Shingle → signature → LSH-band CTE chain for one relation, prefixed
    * `p` — the shared building block of the same-set and cross-set pair
    * oracles. */
  private def sigBandCtes(src: String, p: String): String = {
    val bandKey = s"array_to_string(list_slice(sig, band * ${DocDedup.RowsPerBand} + 1, band * ${DocDedup.RowsPerBand} + ${DocDedup.RowsPerBand}), '_')"
    s"""${p}w AS (SELECT doc_id, text, ${duckWords("text")} AS words FROM $src),
       |${p}sh AS (SELECT doc_id, ${duckShingles("words", "text", 3)} AS s FROM ${p}w),
       |${p}sig AS (SELECT doc_id, s, ${DocDedup.duckSignature(duckPolyHashArray("s"))} AS sig FROM ${p}sh),
       |${p}bands AS (SELECT doc_id, band, $bandKey AS band_key
       |              FROM ${p}sig, (SELECT unnest(range(0, ${DocDedup.Bands})) AS band))""".stripMargin
  }

  /** MinHash-LSH verified near-dup pairs over relation `src` (k=3,
    * J >= 0.5), ending in CTE `${p}pairs(id_a, id_b)` — the DuckDB twin of
    * [[DocDedup.minhashLshPairs]], parameterized so the cluster and
    * composed-pipeline oracles can run it over different inputs. */
  private def minhashPairCtes(src: String, p: String): String =
    s"""${sigBandCtes(src, p)},
       |${p}cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |             FROM ${p}bands a JOIN ${p}bands b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |${p}pairs AS (
       |  SELECT id_a, id_b
       |  FROM ${p}cand JOIN ${p}sh sa ON ${p}cand.id_a = sa.doc_id JOIN ${p}sh sb ON ${p}cand.id_b = sb.doc_id
       |  WHERE round(CAST(len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS DOUBLE)
       |    / (len(sa.s) + len(sb.s) - len(list_filter(sa.s, x -> list_contains(sb.s, x)))), 6) >= 0.5)""".stripMargin

  /** Unrolled min-label propagation (3 rounds — same fixed count as
    * [[CorpusOps.dedupClusters]]) over the pair CTE `pairs(id_a, id_b)`:
    * the symmetric edge CTE `edges`, then label CTEs `l0`..`l3` keyed on
    * `id` — shared by the doc-axis and knn-axis cluster twins. */
  private[registry] def labelRoundsCtes(pairs: String, edges: String, id: String): String = {
    val rounds = (1 to 3).map { i =>
      s"""m$i AS (SELECT e.src AS $id, min(x.cluster) AS nbr
         |        FROM $edges e JOIN l${i - 1} x ON e.dst = x.$id GROUP BY e.src),
         |l$i AS (SELECT l.$id, least(l.cluster, coalesce(m.nbr, l.cluster)) AS cluster
         |        FROM l${i - 1} l LEFT JOIN m$i m USING ($id))""".stripMargin
    }.mkString(",\n")
    s"""$edges AS (SELECT id_a AS src, id_b AS dst FROM $pairs
       |${" " * (edges.length + 5)}UNION ALL SELECT id_b, id_a FROM $pairs),
       |l0 AS (SELECT DISTINCT src AS $id, src AS cluster FROM $edges),
       |$rounds""".stripMargin
  }

  private val clustersCtes =
    s"${minhashPairCtes("documents", "")},\n${labelRoundsCtes("pairs", "edges", "doc_id")}"

  private val clustersSql =
    s"WITH $clustersCtes\nSELECT doc_id, cluster FROM l3"

  /** The degree-oriented triangle CTE chain from a canonical edge CTE
    * `src(u, v)` to degrees `tdeg(node, deg)` and per-corner counts
    * `tn(doc_id, n_triangles)` — the SQL single source of truth for
    * [[graft.core.GraphMetrics]]'s orientation algorithm, shared by the
    * exact, approximate, coefficient, and knn-axis twins (same
    * one-edit-place discipline as the mutual-knn chain in LlmData).
    * Multiply-referenced CTEs are MATERIALIZED (the pagerank oracle's
    * inlining lesson). */
  private[registry] def triangleChainCtes(src: String): String =
    s"""tsym AS (SELECT u, v FROM $src UNION ALL SELECT v, u FROM $src),
       |tdeg AS MATERIALIZED (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
       |        FROM tsym GROUP BY u),
       |tor AS MATERIALIZED (SELECT s.u, s.v, dv.deg AS dv
       |       FROM tsym s JOIN tdeg du ON s.u = du.node JOIN tdeg dv ON s.v = dv.node
       |       WHERE du.deg < dv.deg OR (du.deg = dv.deg AND s.u < s.v)),
       |tw AS (SELECT a.u AS p, a.v AS x, b.v AS y FROM tor a JOIN tor b ON a.u = b.u
       |       AND (a.dv < b.dv OR (a.dv = b.dv AND a.v < b.v))),
       |tt AS MATERIALIZED (SELECT p, x, y FROM tw
       |      JOIN (SELECT u AS x, v AS y FROM tor) e USING (x, y)),
       |tn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles FROM (
       |        SELECT p AS doc_id FROM tt
       |        UNION ALL SELECT x FROM tt
       |        UNION ALL SELECT y FROM tt) GROUP BY doc_id)""".stripMargin

  /** DuckDB twin of [[graft.core.GraphMetrics.triangleCounts]] over the
    * near-dup pair graph: same canonicalization, same (deg, id) total
    * order and orientation, same pivot-wedge + closing-edge joins —
    * exact integer counts. */
  private val trianglesSql =
    s"""WITH ${minhashPairCtes("documents", "")},
       |tund AS MATERIALIZED (SELECT DISTINCT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v
       |        FROM pairs WHERE id_a != id_b),
       |${triangleChainCtes("tund")}
       |SELECT d.node AS doc_id, CAST(coalesce(n.n_triangles, 0) AS BIGINT) AS n_triangles
       |FROM tdeg d LEFT JOIN tn n ON d.node = n.doc_id""".stripMargin

  /** DuckDB twin of [[graft.core.GraphMetrics.clusteringCoefPpm]]: the
    * same chain, counts normalized by wedge capacity in exact integer
    * ppm — (2·t·10⁶) // (deg·(deg−1)), 0 below deg 2. */
  private val clustcoefSql =
    s"""WITH ${minhashPairCtes("documents", "")},
       |tund AS MATERIALIZED (SELECT DISTINCT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v
       |        FROM pairs WHERE id_a != id_b),
       |${triangleChainCtes("tund")}
       |SELECT d.node AS doc_id, d.deg,
       |  CAST(CASE WHEN d.deg >= 2
       |    THEN (coalesce(n.n_triangles, 0) * 2000000) // (d.deg * (d.deg - 1))
       |    ELSE 0 END AS BIGINT) AS coef_ppm
       |FROM tdeg d LEFT JOIN tn n ON d.node = n.doc_id""".stripMargin

  /** Unroll budget of the k-core DuckDB twins (doc axis here, knn axis in
    * [[LlmData]]) — a NAMED constant derived from the registered fixtures'
    * MEASURED peel depths ([[graft.core.GraphMetrics.kCorePeelDepth]]:
    * sf0.01 doc graph and sf0.01 mutual-knn graph both converge in ≤ 3
    * rounds; KcoreTwinBudgetSpec re-measures both and fails if a
    * regenerated fixture's depth ever crosses half this budget), not a
    * bare literal. Peeling is monotone, so unrolled rounds past the
    * fixpoint are no-ops; the sentinel row in [[kcorePeelSelect]] turns a
    * genuinely exceeded budget into a loud 'raise KCoreTwinRounds' marker
    * instead of a mystery row-diff. Well below the Spark loop's
    * `maxRounds = 20` runaway cap by design: the twin budget tracks the
    * FIXTURE's depth, the cap bounds production graphs. */
  val KCoreTwinRounds = 8

  /** The unrolled Batagelj–Zaveršnik peel from an edge CTE `ke0(u, v)`
    * through `ke<rounds>` — shared by the doc-axis and knn-axis k-core
    * twins (the triangleChainCtes single-source discipline). */
  private[registry] def kcorePeelCtes(k: Int, rounds: Int): String =
    (1 to rounds).map { i =>
      s"""kd$i AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
         |        (SELECT u AS node FROM ke${i - 1} UNION ALL SELECT v AS node FROM ke${i - 1}) GROUP BY node),
         |kk$i AS MATERIALIZED (SELECT node FROM kd$i WHERE deg >= $k),
         |ke$i AS MATERIALIZED (SELECT e.u, e.v FROM ke${i - 1} e
         |        JOIN kk$i a ON e.u = a.node JOIN kk$i b ON e.v = b.node)""".stripMargin
    }.mkString(",\n")

  /** Final select over the peeled edge set, with the BUDGET SENTINEL: if
    * the last unrolled round still deleted edges (ke<rounds> ≠
    * ke<rounds−1>) the twin emits one impossible (-1, -1) row, so an
    * insufficient unroll reads as a loud 'raise KCoreTwinRounds' marker in
    * the gate diff — never as a silent truncated peel, and never as a
    * mystery per-node mismatch. */
  private[registry] def kcorePeelSelect(idCol: String, rounds: Int): String =
    s"""SELECT node AS $idCol, CAST(count(*) AS BIGINT) AS deg FROM
       |  (SELECT u AS node FROM ke$rounds UNION ALL SELECT v AS node FROM ke$rounds)
       |GROUP BY node
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT) AS $idCol, CAST(-1 AS BIGINT) AS deg
       |WHERE (SELECT count(*) FROM ke$rounds) != (SELECT count(*) FROM ke${rounds - 1})""".stripMargin

  /** DuckDB twin of [[graft.core.GraphMetrics.kCore]] at k = 2 over the
    * near-dup pair graph: [[kcorePeelCtes]] to the [[KCoreTwinRounds]]
    * budget (≥ the fixture's measured depth — see the constant's note),
    * closed by the sentinel-bearing [[kcorePeelSelect]]. The Spark loop
    * THROWS rather than return a truncated peel, so between the loop's
    * converge-or-throw and the twin's sentinel, every budget mismatch is
    * loud on whichever side hits it. */
  private def kcoreSql(k: Int, rounds: Int): String =
    s"""WITH ${minhashPairCtes("documents", "")},
       |ke0 AS MATERIALIZED (SELECT DISTINCT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v
       |        FROM pairs WHERE id_a != id_b),
       |${kcorePeelCtes(k, rounds)}
       |${kcorePeelSelect("doc_id", rounds)}""".stripMargin

  /** DuckDB twin of [[graft.core.GraphMetrics.triangleCountsApprox]] at
    * p = 1/2: the SAME deterministic edge-hash coin (plain `%` on the
    * non-negative ids — identical semantics both engines), the exact
    * triangle chain on the kept edges, counts unbiased ×8, and the node
    * domain taken from the FULL canonical edge set (the sparsifier drops
    * edges, never feature rows). */
  private val trianglesApproxSql = {
    import graft.core.GraphMetrics.{EdgeHashMod, EdgeHashA, EdgeHashB}
    s"""WITH ${minhashPairCtes("documents", "")},
       |tund AS MATERIALIZED (SELECT DISTINCT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v
       |        FROM pairs WHERE id_a != id_b),
       |tg AS (SELECT u, v,
       |        (((u % $EdgeHashMod) * (v % $EdgeHashMod)) + ((u % $EdgeHashMod) * $EdgeHashA) + ((v % $EdgeHashMod) * $EdgeHashB) + 1) % $EdgeHashMod AS g
       |        FROM tund),
       |tkept AS MATERIALIZED (SELECT u, v FROM tg
       |        WHERE (((g * g) + (g * $EdgeHashA)) % $EdgeHashMod) % 2 < 1),
       |${triangleChainCtes("tkept")},
       |tnodes AS (SELECT DISTINCT u AS doc_id FROM
       |        (SELECT u FROM tund UNION ALL SELECT v AS u FROM tund))
       |SELECT tnodes.doc_id, CAST(coalesce(n.n_triangles, 0) * 8 AS BIGINT) AS est_triangles
       |FROM tnodes LEFT JOIN tn n USING (doc_id)""".stripMargin
  }

  /** Integer-ppm PageRank unrolled to the same fixed round count as
    * [[graft.core.GraphRank.pageRankPpm]], over the pair CTE
    * `pairs(id_a, id_b)` at the end of the `upstream` CTE chain: the
    * symmetric edge CTE `edges`, then rank CTEs keyed on `id` — shared by
    * the doc-axis (x_pagerank) and knn-axis (x_knn_pagerank) twins. `//`
    * in DuckDB and `div` in Spark truncate identically on the
    * all-positive operands here, so the ranks are cross-engine exact. */
  private[registry] def pagerankSql(upstream: String, pairs: String, edges: String,
                                    id: String, iters: Int): String = {
    // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs per
    // reference, and each unrolled round references the previous one
    // TWICE — 2^iters copies of the whole upstream pair chain without it
    // (measured: the 5-round knn-axis twin ran >10 min plain, <1 s
    // materialized at sf0.01).
    val rounds = (1 to iters).map { i =>
      s"""pc$i AS MATERIALIZED (SELECT e.dst AS $id, sum(((r.rank_ppm // r.deg) * 17) // 20) AS s
         |         FROM $edges e JOIN pr${i - 1} r ON e.src = r.$id GROUP BY e.dst),
         |pr$i AS MATERIALIZED (SELECT r.$id, r.deg, CAST(150000 + coalesce(c.s, 0) AS BIGINT) AS rank_ppm
         |         FROM pr${i - 1} r LEFT JOIN pc$i c USING ($id))""".stripMargin
    }.mkString(",\n")
    s"""WITH $upstream,
       |$edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM $pairs
       |${" " * (edges.length + 5)}UNION ALL SELECT id_b, id_a FROM $pairs),
       |pr0 AS MATERIALIZED (SELECT src AS $id, CAST(count(*) AS BIGINT) AS deg,
       |        CAST(1000000 AS BIGINT) AS rank_ppm FROM $edges GROUP BY src),
       |$rounds
       |SELECT $id, rank_ppm FROM pr$iters""".stripMargin
  }

  /** TRUE connected components of the near-dup pair graph — recursive
    * reachability closure, min reachable id per node. Deliberately not an
    * unrolled-round twin: the star-contraction rows (`c_cc`, `c_cc_incr`)
    * are checked against the mathematical component labeling, independent
    * of any round budget on either side. Shared by both rows — the
    * incremental merge is exact, so append-then-merge must land
    * bit-identical to this full-graph answer. */
  private val ccSql =
    s"""WITH RECURSIVE ${minhashPairCtes("documents", "")},
       |ccedges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |            UNION SELECT id_b, id_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM ccedges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN ccedges e ON r.dst = e.src)
       |SELECT src AS doc_id, least(src, min(dst)) AS cluster
       |FROM reach GROUP BY src""".stripMargin

  /** DuckDB twin of [[CorpusOps.sourceQuantileNorm]]: same quality formula
    * as the `t_quality` oracle, then `cume_dist` per source — the window
    * form IS the spec; the Spark side computes the identical ratio from
    * the (source, score) histogram so no source ever sorts on one node. */
  private val qnormSql = {
    val enList = StopWords.toMap.apply("en").map(w => s"'$w'").mkString("(", ", ", ")")
    s"""WITH w AS (SELECT doc_id, source, text, ${duckWords("text")} AS words FROM documents),
       |q1 AS (SELECT doc_id, source, text, words, len(words) AS n_tokens FROM w),
       |q2 AS (SELECT doc_id, source, n_tokens,
       |  round(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
       |  round(CAST(len(list_filter(words, x -> lower(x) IN $enList)) AS DOUBLE) / greatest(n_tokens, 1), 6) AS stop_ratio
       |FROM q1),
       |sc AS (SELECT doc_id, source,
       |  round(least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) * 0.4
       |      + least(stop_ratio * 4.0, 1.0) * 0.3
       |      + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.3, 6) AS quality_score
       |FROM q2)
       |SELECT doc_id, source, quality_score,
       |  round(cume_dist() OVER (PARTITION BY source ORDER BY quality_score), 6) AS qnorm
       |FROM sc""".stripMargin
  }

  /** DuckDB twin of [[CorpusOps.normQualityFilter]] at q=0.7: the qnorm
    * twin gated — both engines round(·, 6) the identical double, so the
    * boundary compare admits the same rows. */
  private val autofilterNormSql =
    s"""SELECT * FROM ($qnormSql) WHERE qnorm >= 0.7""".stripMargin

  /** End-to-end cleaning CTE chain (language-ID + quality in one pass over
    * the token lists, survivor exact-dedup, minhash pair chain, anti-join),
    * ending in `final_kept(doc_id, n_tokens, quality_score)` — shared by
    * the `c_corpus` and `c_e2e` oracles. */
  private val corpusCtes = {
    val enList = StopWords.toMap.apply("en").map(w => s"'$w'").mkString("(", ", ", ")")
    val scores = StopWords.map { case (l, _) =>
      s"${langScoreDuck(l, "words", "text")} AS s_$l"
    }.mkString(", ")
    val best = StopWords.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
    val cases = StopWords.map { case (l, _) =>
      s"WHEN s_$l = best AND best > 0 THEN '$l'"
    }.mkString(" ")
    s"""w0 AS (SELECT doc_id, text, ${duckWords("text")} AS words FROM documents),
       |sc AS (SELECT doc_id, text, words, len(words) AS n_tokens, $scores FROM w0),
       |b AS (SELECT *, $best AS best FROM sc),
       |q AS (SELECT doc_id, text, n_tokens,
       |  CASE $cases ELSE 'und' END AS lang_guess,
       |  round(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
       |  round(CAST(len(list_filter(words, x -> lower(x) IN $enList)) AS DOUBLE) / greatest(n_tokens, 1), 6) AS stop_ratio
       |FROM b),
       |scored AS (SELECT doc_id, text, n_tokens, lang_guess,
       |  round(least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) * 0.4
       |      + least(stop_ratio * 4.0, 1.0) * 0.3
       |      + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.3, 6) AS quality_score
       |FROM q),
       |kept AS (SELECT doc_id, text, n_tokens, quality_score FROM scored
       |         WHERE lang_guess = 'en' AND quality_score >= 0.6),
       |dd AS (SELECT min(doc_id) AS doc_id, text, min(n_tokens) AS n_tokens,
       |              min(quality_score) AS quality_score
       |       FROM kept GROUP BY text),
       |${minhashPairCtes("dd", "x")},
       |final_kept AS (SELECT doc_id, n_tokens, quality_score FROM dd
       |               WHERE doc_id NOT IN (SELECT id_b FROM xpairs))""".stripMargin
  }

  private val corpusSql =
    s"WITH $corpusCtes\nSELECT doc_id, n_tokens, quality_score FROM final_kept"

  /** DuckDB twin of [[CorpusOps.keepBestPerCluster]]: the cluster chain
    * composed with the c_corpus oracle's proven quality replica (`scored`
    * — unreferenced heavy CTEs in the chain are never evaluated), same
    * (quality desc, doc_id) keeper argmax. */
  private val keepbestSql =
    s"""WITH $corpusCtes,
       |$clustersCtes,
       |j AS (SELECT l.cluster, l.doc_id, s.quality_score
       |      FROM l3 l JOIN scored s USING (doc_id)),
       |mm AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_members FROM j GROUP BY 1),
       |r AS (SELECT *, row_number() OVER (PARTITION BY cluster
       |        ORDER BY quality_score DESC, doc_id) AS rn FROM j)
       |SELECT r.cluster, r.doc_id AS keeper_id, r.quality_score, mm.n_members
       |FROM r JOIN mm USING (cluster) WHERE rn = 1""".stripMargin

  /** DuckDB twin of [[CorpusOps.cleanFunnel]] — the SAME stage CTEs as
    * the c_corpus oracle, counted. */
  private val funnelSql =
    s"""WITH $corpusCtes,
       |f AS (SELECT '1_input' AS stage, CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs
       |      UNION ALL SELECT '2_lang_quality', CAST((SELECT count(*) FROM kept) AS BIGINT)
       |      UNION ALL SELECT '3_exact_dedup', CAST((SELECT count(*) FROM dd) AS BIGINT)
       |      UNION ALL SELECT '4_near_dedup', CAST((SELECT count(*) FROM final_kept) AS BIGINT))
       |SELECT stage, n_docs,
       |  CAST(coalesce(lag(n_docs) OVER (ORDER BY stage) - n_docs, 0) AS BIGINT) AS dropped
       |FROM f""".stripMargin

  /** c_e2e oracle: chunk + pack the cleaned survivors, aggregate per
    * sequence — same math as the c_chunks/c_pack oracles over `final_kept`
    * instead of the raw corpus. */
  private val e2eSql =
    s"""WITH $corpusCtes,
       |wk AS (SELECT w0.* FROM w0 JOIN (SELECT doc_id FROM final_kept) fk USING (doc_id)),
       |${packCtes("wk", "e", withText = false)}
       |SELECT shard, tok_offset // 64 AS seq_id,
       |  CAST(count(*) AS BIGINT) AS n_chunks, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
       |FROM eo GROUP BY 1, 2""".stripMargin

  /** Chunking oracle — same fixed 16-token budget as the registered query
    * (documents are ~50 words, so ~3-4 chunks each). */
  private val chunksSql =
    s"""WITH w0 AS (SELECT doc_id, text, ${duckWords("text")} AS words FROM documents)
       |SELECT doc_id, i AS chunk_id,
       |  CAST(greatest(least(16, len(words) - i * 16), 0) AS BIGINT) AS n_tokens,
       |  array_to_string(words[i * 16 + 1 : i * 16 + 16], ' ') AS chunk_text
       |FROM w0, unnest(range(0, ((greatest(len(words), 1) - 1) // 16) + 1)) AS t(i)""".stripMargin

  /** Packing oracle: the chunk CTE cut into 64-token sequences within 8
    * doc-sharded partitions (HUGEINT window sum cast back to BIGINT). */
  /** Chunk → shard → pack CTE chain over a words relation (the DuckDB twin
    * of [[CorpusOps.chunk]] + [[CorpusOps.packChunks]] at the registered
    * 16-token/8-shard/64-budget setting), prefixed `p` — ONE copy of the
    * pack math shared by the c_pack / c_batches / c_e2e / c_seqtext
    * oracles (HUGEINT window sums cast back to BIGINT throughout).
    * `withText` additionally carries the chunk text for the seq-text
    * oracle. */
  private def packCtes(wordsRel: String, p: String, withText: Boolean): String = {
    val textSel =
      if (withText) ",\n  array_to_string(words[i * 16 + 1 : i * 16 + 16], ' ') AS chunk_text"
      else ""
    val carry = if (withText) ", chunk_text" else ""
    s"""${p}ch AS (
       |SELECT doc_id, i AS chunk_id,
       |  CAST(greatest(least(16, len(words) - i * 16), 0) AS BIGINT) AS n_tokens$textSel
       |FROM $wordsRel, unnest(range(0, ((greatest(len(words), 1) - 1) // 16) + 1)) AS t(i)),
       |${p}o AS (
       |SELECT doc_id, chunk_id, n_tokens$carry, CAST(doc_id % 8 AS INT) AS shard,
       |  CAST(SUM(n_tokens) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id, chunk_id) - n_tokens AS BIGINT) AS tok_offset
       |FROM ${p}ch)""".stripMargin
  }

  private val packSql =
    s"""WITH w0 AS (SELECT doc_id, text, ${duckWords("text")} AS words FROM documents),
       |${packCtes("w0", "", withText = false)}
       |SELECT doc_id, chunk_id, n_tokens, shard, tok_offset // 64 AS seq_id, tok_offset FROM o""".stripMargin

  /** Length-bucketed batching oracle: the pack chain aggregated to
    * per-sequence token totals, then per-shard (length desc, seq_id)
    * row_number cut into runs of 4, each batch padded to its max. */
  private val batchesSql =
    s"""WITH w0 AS (SELECT doc_id, text, ${duckWords("text")} AS words FROM documents),
       |${packCtes("w0", "", withText = false)},
       |sq AS (SELECT shard, tok_offset // 64 AS seq_id, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
       |       FROM o GROUP BY 1, 2),
       |rb AS (SELECT shard, seq_id, seq_tokens,
       |         CAST((row_number() OVER (PARTITION BY shard ORDER BY seq_tokens DESC, seq_id) - 1) // 4 AS BIGINT) AS batch_id
       |       FROM sq)
       |SELECT shard, batch_id, seq_id, seq_tokens,
       |  CAST(MAX(seq_tokens) OVER (PARTITION BY shard, batch_id) AS BIGINT) AS padded_to
       |FROM rb""".stripMargin

  /** Incremental-dedup oracle, parameterized over the two sides' row
    * predicates: exact anti-join, cross-set LSH flag, intra-batch pair
    * drop. `c_incr`/`c_incr_idx` use the every-5th-doc split;
    * `c_evalset` the train/held-out hash split. */
  private def incrSqlSides(ndPred: String, cpPred: String) =
    s"""WITH nd AS (SELECT doc_id, text FROM documents WHERE $ndPred),
       |cp AS (SELECT doc_id, text FROM documents WHERE $cpPred),
       |ek AS (SELECT n.doc_id, n.text FROM nd n
       |       WHERE NOT EXISTS (SELECT 1 FROM cp c WHERE c.text = n.text)),
       |${sigBandCtes("ek", "a")},
       |${sigBandCtes("cp", "b")},
       |xcand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
       |          FROM abands a JOIN bbands b ON a.band = b.band AND a.band_key = b.band_key),
       |xflag AS (SELECT DISTINCT xcand.new_id AS doc_id
       |  FROM xcand JOIN ash sa ON xcand.new_id = sa.doc_id JOIN bsh sb ON xcand.old_id = sb.doc_id
       |  WHERE round(CAST(len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS DOUBLE)
       |    / (len(sa.s) + len(sb.s) - len(list_filter(sa.s, x -> list_contains(sb.s, x)))), 6) >= 0.5),
       |${minhashPairCtes("ek", "i")}
       |SELECT doc_id FROM ek
       |WHERE doc_id NOT IN (SELECT doc_id FROM xflag)
       |  AND doc_id NOT IN (SELECT id_b FROM ipairs)""".stripMargin

  private val incrSql = incrSqlSides("doc_id % 5 = 0", "doc_id % 5 != 0")

  /** Leakage-free eval set: the held-out hash split decontaminated
    * against the train split with the same admission math as c_incr. */
  private val evalsetSql = incrSqlSides(
    s"(${CorpusOps.bucketSql("doc_id")}) < 20",
    s"(${CorpusOps.bucketSql("doc_id")}) >= 20")

  /** Sequence-text oracle: the chunk/pack CTEs with the chunk text carried
    * through, assembled per sequence with an ORDER BY inside the string
    * aggregate (DuckDB's ordered-aggregation form of Spark's
    * sort-structs-then-join). */
  private val seqtextSql =
    s"""WITH w0 AS (SELECT doc_id, text, ${duckWords("text")} AS words FROM documents),
       |${packCtes("w0", "", withText = true)}
       |SELECT shard, tok_offset // 64 AS seq_id,
       |  CAST(count(*) AS BIGINT) AS n_chunks, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
       |  string_agg(chunk_text, ' ' ORDER BY doc_id, chunk_id) AS seq_text
       |FROM o GROUP BY 1, 2""".stripMargin

  /** Quality-gated sampling oracle: reuses the corpus chain's `scored` CTE
    * (unreferenced CTEs in the chain stay unevaluated). */
  private val qsampleSql =
    s"""WITH $corpusCtes,
       |qs AS (SELECT doc_id, quality_score, ${CorpusOps.bucketSql("doc_id")} AS bucket FROM scored)
       |SELECT doc_id, quality_score, bucket FROM qs WHERE bucket < quality_score * 1000""".stripMargin

  /** DuckDB twin of shuffleOrder: one flat row_number over (hash, id) —
    * the Spark side's (range-bucket offset + local rank) must equal this
    * exactly, which is what pins the bucketing as order-preserving. */
  private val shuffleSql =
    s"""SELECT CAST(row_number() OVER (
       |  ORDER BY ((doc_id % ${CorpusOps.SampleIdMod}) * ${CorpusOps.SampleMulA} + ${CorpusOps.SampleAddB}) % ${P}, doc_id) AS BIGINT) AS seq,
       |  doc_id
       |FROM documents WHERE doc_id IS NOT NULL""".stripMargin

  /** Quantile oracle: flat row_number over (score, id) — the Spark side's
    * bucketed rank must land the identical cutoffs. Reuses the corpus
    * chain's `scored` CTE for the quality score. */
  private val quantilesSql = {
    val qList = CorpusOps.DefaultQuantiles.mkString("[", ", ", "]")
    s"""WITH $corpusCtes,
       |qnn AS (SELECT doc_id, quality_score FROM scored
       |        WHERE quality_score IS NOT NULL AND doc_id IS NOT NULL),
       |r AS (SELECT doc_id, quality_score AS score,
       |        row_number() OVER (ORDER BY quality_score, doc_id) AS rn FROM qnn),
       |n AS (SELECT count(*) AS total FROM qnn),
       |t AS (SELECT q, CAST(ceil(q * total) AS BIGINT) AS target
       |      FROM (SELECT unnest($qList) AS q) qq, n)
       |SELECT CAST(t.q AS DOUBLE) AS q, r.score AS cutoff FROM t JOIN r ON r.rn = t.target""".stripMargin
  }

  /** DuckDB twin of [[CorpusOps.perSourceCap]] at cap=10: same quality
    * score (the corpus chain's `scored` CTE), source joined back from the
    * raw table, same (quality DESC, doc_id) within-source ranking. */
  private val sourcecapSql =
    s"""WITH $corpusCtes,
       |s2 AS (SELECT s.doc_id, d.source, s.quality_score
       |       FROM scored s JOIN documents d ON s.doc_id = d.doc_id
       |       WHERE s.quality_score IS NOT NULL AND s.doc_id IS NOT NULL),
       |r AS (SELECT doc_id, source, quality_score,
       |        CAST(row_number() OVER (PARTITION BY source
       |          ORDER BY quality_score DESC, doc_id) AS BIGINT) AS src_rank
       |      FROM s2)
       |SELECT doc_id, source, quality_score, src_rank FROM r WHERE src_rank <= 10""".stripMargin

  /** Registered mixture for `c_epochs`: three sources in the mix
    * (Σ = 1000‰ keeps the shares readable), the rest excluded. */
  private val EpochWeights = Map("src0" -> 500, "src1" -> 300, "src2" -> 200)

  /** DuckDB twin of [[CorpusOps.epochPlan]] at [[EpochWeights]]: same
    * token counts, exact ppm share, identical pinned division order for
    * the repeat factor. */
  private val epochsSql = {
    val sumW = EpochWeights.values.sum
    val cases = EpochWeights.map { case (k, v) => s"WHEN source = '$k' THEN $v" }
      .mkString(" ")
    s"""WITH per AS (SELECT source, CAST(sum(len(${duckWords("text")})) AS BIGINT) AS n_tokens
       |            FROM documents GROUP BY 1),
       |pw AS (SELECT source, n_tokens,
       |         CAST(CASE $cases ELSE 0 END AS BIGINT) AS weight_pm FROM per),
       |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt FROM per)
       |SELECT source, n_tokens, weight_pm,
       |  CAST(weight_pm * 1000000 // $sumW AS BIGINT) AS share_ppm,
       |  CASE WHEN n_tokens > 0 THEN
       |    round((CAST(weight_pm AS DOUBLE) / ${sumW.toDouble}) *
       |          (CAST(tt AS DOUBLE) / CAST(n_tokens AS DOUBLE)), 6)
       |  END AS epochs
       |FROM pw, t""".stripMargin
  }

  /** DuckDB twin of [[CorpusOps.strideMixOrder]] at [[EpochWeights]]:
    * same per-source rank, same integer stride key. */
  private val mixorderSql = {
    val cases = EpochWeights.map { case (k, v) => s"WHEN source = '$k' THEN $v" }
      .mkString(" ")
    s"""WITH pw AS (SELECT doc_id, source,
       |         CAST(CASE $cases ELSE 0 END AS BIGINT) AS weight_pm FROM documents),
       |r AS (SELECT doc_id, source, weight_pm,
       |        CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS src_rank
       |      FROM pw WHERE weight_pm > 0)
       |SELECT doc_id, source, src_rank,
       |  CAST(src_rank * (1000000 // weight_pm) AS BIGINT) AS sched_key
       |FROM r""".stripMargin
  }

  /** DuckDB twin of [[CorpusOps.datasetSplit]] at val=test=10‰ — the
    * identical hash gate, so both engines assign every doc_id to the
    * same side. */
  private val splitSql =
    s"""WITH b AS (SELECT doc_id, CAST(${CorpusOps.bucketSql("doc_id")} AS BIGINT) AS bucket FROM documents)
       |SELECT doc_id, bucket,
       |  CASE WHEN bucket < 10 THEN 'test' WHEN bucket < 20 THEN 'val' ELSE 'train' END AS split
       |FROM b""".stripMargin

  /** DuckDB twin of [[CorpusOps.autoQualityFilter]] at q=0.5 — the
    * quantile oracle's rank machinery (same order: score, doc_id; same
    * ceil(q*N) target) composed with the gate. */
  private val autofilterSql =
    s"""WITH $corpusCtes,
       |qnn AS (SELECT doc_id, quality_score FROM scored
       |        WHERE quality_score IS NOT NULL AND doc_id IS NOT NULL),
       |r AS (SELECT doc_id, quality_score AS score,
       |        row_number() OVER (ORDER BY quality_score, doc_id) AS rn FROM qnn),
       |n AS (SELECT count(*) AS total FROM qnn),
       |cut AS (SELECT r.score AS cutoff FROM r, n
       |        WHERE r.rn = CAST(ceil(0.5 * n.total) AS BIGINT))
       |SELECT qnn.doc_id, qnn.quality_score, cut.cutoff
       |FROM qnn, cut WHERE qnn.quality_score >= cut.cutoff""".stripMargin

  /** DuckDB twin of [[CorpusOps.corpusReport]] — same quality-score
    * arithmetic as the c_corpus chain, aggregated per (source, lang) with
    * the exact ppm-integer means. */
  private val reportSql = {
    val enList = StopWords.toMap.apply("en").map(w => s"'$w'").mkString("(", ", ", ")")
    s"""WITH w0 AS (SELECT doc_id, source, lang, text, ${duckWords("text")} AS words FROM documents),
       |q AS (SELECT source, lang, len(words) AS n_tokens,
       |  round(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
       |  round(CAST(len(list_filter(words, x -> lower(x) IN $enList)) AS DOUBLE) / greatest(len(words), 1), 6) AS stop_ratio
       |FROM w0),
       |s2 AS (SELECT source, lang, n_tokens,
       |  round(least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) * 0.4
       |      + least(stop_ratio * 4.0, 1.0) * 0.3
       |      + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.3, 6) AS quality_score
       |FROM q)
       |SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_tokens) // count(*) AS BIGINT) AS mean_tokens,
       |  CAST(sum(CAST(round(quality_score * 1000000) AS BIGINT)) // count(*) AS BIGINT) AS quality_ppm_mean
       |FROM s2 GROUP BY 1, 2""".stripMargin
  }

  /** DuckDB twin of [[CorpusOps.importanceScore]] — same hashed-unigram
    * buckets, add-1-smoothed integer ppm models, +1e6-shifted floor
    * divisions (`//` ≡ Spark `div` on the shifted non-negatives), and the
    * corpus-mean keep threshold. */
  private val dsirSql = {
    val B = CorpusOps.DsirBuckets
    s"""WITH w AS (SELECT doc_id, lang, ${duckWords("text")} AS words FROM documents),
       |f AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS t,
       |    unnest(list_transform(${duckPolyHashArray("lw")}, h -> CAST(h % $B AS INT))) AS bucket
       |  FROM (SELECT doc_id, lang, list_transform(words, x -> lower(x)) AS lw FROM w)),
       |fc AS (SELECT doc_id, t, bucket, CAST(count(*) AS BIGINT) AS n FROM f GROUP BY 1, 2, 3),
       |tgt AS (SELECT bucket, sum(n) AS ct FROM fc WHERE t = 1 GROUP BY 1),
       |rw AS (SELECT bucket, sum(n) AS cr FROM fc GROUP BY 1),
       |m0 AS (SELECT rw.bucket AS bucket, coalesce(ct, 0) AS ct, cr FROM rw LEFT JOIN tgt USING (bucket)),
       |tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM m0),
       |ppm AS (SELECT bucket, ((ct + 1) * 1000000) // (tt + $B) AS ppm_t,
       |    ((cr + 1) * 1000000) // (tr + $B) AS ppm_r FROM m0, tot),
       |sc AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
       |    CAST((sum(n * (ppm_t - ppm_r + 1000000)) // sum(n)) - 1000000 AS BIGINT) AS dsir_ppm
       |  FROM fc JOIN ppm USING (bucket) GROUP BY 1),
       |thr AS (SELECT (sum(dsir_ppm + 1000000) // count(*)) - 1000000 AS t FROM sc)
       |SELECT doc_id, n_tokens, dsir_ppm,
       |  CAST(CASE WHEN dsir_ppm > t THEN 1 ELSE 0 END AS INT) AS keep
       |FROM sc, thr""".stripMargin
  }

  /** DuckDB twin of [[CorpusOps.sourceOverlap]] at [[OverlapK]] — the
    * same distinct (source, shingle-hash) sets, pair counts via a plain
    * shingle self-join (independent algorithm from Spark's per-shingle
    * source-list expansion), and the same pinned integer-ppm divisions. */
  private val overlapSql =
    s"""WITH w AS (SELECT doc_id, source, text, ${duckWords("text")} AS words FROM documents),
       |sh AS (SELECT doc_id, source, ${duckShingles("words", "text", OverlapK)} AS s FROM w),
       |x AS (SELECT source, unnest(${duckPolyHashArray("s")}) AS shingle FROM sh),
       |e AS (SELECT DISTINCT source, shingle FROM x),
       |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1),
       |p AS (SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS shared
       |      FROM e a JOIN e b ON a.shingle = b.shingle AND a.source < b.source
       |      GROUP BY 1, 2)
       |SELECT src_a, src_b, shared, za.n AS n_a, zb.n AS n_b,
       |  (shared * 1000000) // least(za.n, zb.n) AS containment_ppm,
       |  (shared * 1000000) // (za.n + zb.n - shared) AS jaccard_ppm
       |FROM p JOIN sz za ON za.source = p.src_a JOIN sz zb ON zb.source = p.src_b""".stripMargin

  /** DuckDB twin of [[CorpusOps.kmvSourceOverlap]] at (OverlapK,
    * OverlapKmvK): per-source bottom-k of the distinct shingle hashes
    * (`list_sort(list(DISTINCT h))[1:k]` IS the KMV state — a pure set
    * function, so the aggregation-order-free SQL form matches Spark's
    * merge-tree exactly), then the identical bottom-k union/intersection
    * algebra and the identical single-division estimates, rounded only in
    * the output projection. */
  private val overlapKmvSql = {
    val k = OverlapKmvK
    s"""WITH w AS (SELECT doc_id, source, text, ${duckWords("text")} AS words FROM documents),
       |sh AS (SELECT doc_id, source, ${duckShingles("words", "text", OverlapK)} AS s FROM w),
       |x AS (SELECT source, unnest(${duckPolyHashArray("s")}) AS h FROM sh),
       |sk AS (SELECT source, list_sort(list(DISTINCT h))[1:$k] AS sk FROM x GROUP BY 1),
       |p AS (SELECT a.source AS src_a, b.source AS src_b, a.sk AS ska, b.sk AS skb
       |      FROM sk a JOIN sk b ON a.source < b.source),
       |u AS (SELECT src_a, src_b, ska, skb,
       |        list_sort(list_distinct(list_concat(ska, skb)))[1:$k] AS uu FROM p),
       |m AS (SELECT src_a, src_b,
       |        CAST(len(uu) AS BIGINT) AS k_union,
       |        CAST(len(list_filter(uu, v -> list_contains(ska, v) AND list_contains(skb, v))) AS BIGINT) AS n_both,
       |        CASE WHEN len(uu) < $k THEN CAST(len(uu) AS DOUBLE)
       |             ELSE ${k - 1}.0 * ${graft.llmdata.TextPrimitives.P}.0 / uu[$k] END AS ue
       |      FROM u)
       |SELECT src_a, src_b, n_both, k_union,
       |  (n_both * 1000000) // k_union AS jaccard_est_ppm,
       |  round(ue, 6) AS union_est,
       |  round(CAST(n_both AS DOUBLE) * ue / k_union, 6) AS inter_est
       |FROM m""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "c_overlap" -> overlapSql,
    "c_overlap_kmv" -> overlapKmvSql,
    "c_dsir" -> dsirSql,
    "c_report" -> reportSql,
    "c_autofilter" -> autofilterSql,
    "c_autofilter_norm" -> autofilterNormSql,
    "c_sourcecap" -> sourcecapSql,
    "c_split" -> splitSql,
    "c_epochs" -> epochsSql,
    "c_funnel" -> funnelSql,
    "c_keepbest" -> keepbestSql,
    "c_mixorder" -> mixorderSql,
    "c_evalset" -> evalsetSql,
    "c_quantiles" -> quantilesSql,
    "c_shuffle" -> shuffleSql,
    "c_incr" -> incrSql,
    "c_incr_idx" -> incrSql,
    "c_seqtext" -> seqtextSql,
    "c_qsample" -> qsampleSql,
    "c_sample" -> sampleSql,
    "c_wsample" -> wsampleSql,
    "c_budget" -> budgetSql,
    "c_chunks" -> chunksSql,
    "c_pack" -> packSql,
    "c_batches" -> batchesSql,
    "c_decontam" -> decontamSql,
    "c_clusters" -> clustersSql,
    "c_cc" -> ccSql,
    "c_cc_incr" -> ccSql,
    "c_qnorm" -> qnormSql,
    "x_pagerank" -> pagerankSql(minhashPairCtes("documents", ""), "pairs", "predges", "doc_id", 5),
    "x_triangles" -> trianglesSql,
    "x_triangles_approx" -> trianglesApproxSql,
    "x_clustcoef" -> clustcoefSql,
    "x_kcore" -> kcoreSql(2, KCoreTwinRounds),
    "x_triangles_incr" -> trianglesSql,
    "x_triangles_idx" -> trianglesSql,
    "c_corpus" -> corpusSql,
    "c_e2e" -> e2eSql)
}
