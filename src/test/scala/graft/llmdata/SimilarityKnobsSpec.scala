package graft.llmdata

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the similarity path's guard rails and banding knobs: the
  * quadratic-baseline row ceiling, signature-width padding, and the
  * sig-centering that keeps banding selective on positive-orthant inputs.
  */
class SimilarityKnobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** n deterministic pseudo-random vectors with dims uniform-ish in [0,1)
    * — same distributional shape as Multimodal.featurize's hash features
    * (positive orthant, mean 0.5 per dim). */
  private def vecs(n: Int, dims: Int): org.apache.spark.sql.DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      expr(s"transform(sequence(1, $dims), j -> CAST(abs(hash(vec_id * $dims + j)) % 997 AS DOUBLE) / 997.0)")
        .as("embedding"))

  test("semDedup removes within-cell dups and (documented trade-off) misses boundary pairs") {
    // Two orthogonal clusters seeded by vec 0 (x-axis) and vec 1 (y-axis).
    // vec 2 duplicates vec 0 exactly -> must be removed (cell of vec 0).
    // vecs 3 and 4 sit either side of the cell boundary with mutual cosine
    // 0.96 > threshold 0.9 — SemDeDup must NOT pair them (different
    // cells): the method's published recall trade-off, pinned here so a
    // refactor that silently globalizes the pair join (reintroducing N²)
    // fails this test.
    val in = Seq(
      (0L, Seq(1.0, 0.0, 0.0)),
      (1L, Seq(0.0, 1.0, 0.0)),
      (2L, Seq(1.0, 0.0, 0.0)),
      (3L, Seq(0.8, 0.6, 0.0)),
      (4L, Seq(0.6, 0.8, 0.0)))
      .toDF("vec_id", "embedding")
    val removed = Similarity.semDedup(in, threshold = 0.9, nCells = 2)
      .collect().map(_.getLong(1)).toSet
    assert(removed == Set(2L))
    // sanity: the boundary pair really is above threshold globally
    val globalPairs = Similarity.cosineNearDupPairs(in, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(globalPairs.contains((3L, 4L)))
  }

  test("lshNearDupPairs rejects a partially-specified knob pair loudly") {
    import spark.implicits._
    val e = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    // planes without bandBits used to reach bandsOf and throw a cryptic
    // range error; bandBits without planes was silently ignored. Both are
    // now a clear contract error at the operator boundary.
    intercept[IllegalArgumentException] {
      Similarity.lshNearDupPairs(e, planes = 56)
    }
    intercept[IllegalArgumentException] {
      Similarity.lshNearDupPairs(e, bandBits = 8)
    }
    intercept[IllegalArgumentException] {
      Similarity.lshNearDupAgainst(e, e, bandBits = 8)
    }
  }

  test("cosineNearDupPairs guard trips past maxRows and admits inputs at the limit") {
    // The guard must fail at PLAN BUILD (before any N² job is scheduled),
    // so the assertion is on the builder call itself.
    // The refined refusal type is part of the contract: Bench/Probe
    // catch exactly this to record `skipped_guard` in scale sessions.
    val e = intercept[graft.core.ScaleGuardRefusal] {
      Similarity.cosineNearDupPairs(vecs(12, 8), threshold = 0.5, maxRows = 10)
    }
    assert(e.getMessage.contains("quadratic"))
    // exactly at the ceiling: plan builds and executes
    assert(Similarity.cosineNearDupPairs(vecs(10, 8), threshold = -1.0, maxRows = 10)
      .count() == 45L) // all 10*9/2 pairs pass at threshold -1
  }

  test("padToSigDims pads sub-width vectors with zeros and passes full-width through") {
    val padded = vecs(3, 8)
      .select(col("vec_id"), col("embedding").as("orig"),
        Similarity.padToSigDims(col("embedding")).as("p"))
      .withColumn("n", size(col("p")))
      .withColumn("tail_zero", expr("forall(slice(p, 9, 56), x -> x = 0.0D)"))
      .withColumn("head_kept", expr(
        "forall(zip_with(slice(p, 1, 8), orig, (a, b) -> a = CAST(b AS DOUBLE)), x -> x)"))
      .collect()
    assert(padded.forall(_.getAs[Int]("n") == graft.functions.HashKernels.SigDims))
    assert(padded.forall(_.getAs[Boolean]("tail_zero")))
    assert(padded.forall(_.getAs[Boolean]("head_kept")))
    // full-width input: array_repeat with a non-positive count is empty, so
    // the vector passes through element-for-element unchanged
    val full = vecs(3, 64)
      .select(col("embedding").as("orig"), Similarity.padToSigDims(col("embedding")).as("p"))
      .withColumn("same", expr(
        "size(p) = 64 AND forall(zip_with(p, orig, (a, b) -> a = CAST(b AS DOUBLE)), x -> x)"))
      .collect()
    assert(full.forall(_.getAs[Boolean]("same")))
  }

  test("sig-centering restores banding selectivity on positive-orthant vectors") {
    // 200 vectors whose dims are uniform-ish in [0,1): all in the positive
    // orthant, so uncentered hyperplanes see a near-parallel bundle. At the
    // DEFAULT 8x4 banding the uncentered form must be near-degenerate
    // (>50% of all pairs — round 5 measured 94.5% on the real fixture);
    // at the same config, centering must collapse the candidate set.
    val feats = vecs(200, 8)
      .select(col("vec_id"), Similarity.padToSigDims(col("embedding")).as("embedding"))
    val possible = 200L * 199 / 2
    val uncentered = Similarity.lshPairCandidates(feats).count()
    val centered = Similarity.lshPairCandidates(feats,
      sigCenterDims = 8, sigCenterAt = 0.5).count()
    assert(uncentered > possible / 2,
      s"fixture not degenerate enough to prove anything: $uncentered of $possible")
    // At the same 8x4 config centering roughly halves the survivors (4-bit
    // bands stay weakly selective by construction — the production knob
    // set pairs centering WITH wider bands, asserted next).
    assert(centered < (uncentered * 3) / 4,
      s"centering should shrink the candidate set: $centered vs $uncentered")
    val centeredWide = Similarity.lshPairCandidates(feats, planes = 40, bandBits = 20,
      sigCenterDims = 8, sigCenterAt = 0.5).count()
    assert(centeredWide < possible / 12,
      s"centered 2x20 banding should prune to a few percent: $centeredWide of $possible")
    // identical vectors center to identical signatures: every duplicated
    // vec is still a candidate of its twin
    val dup = feats.union(feats.withColumn("vec_id", col("vec_id") + 1000))
    val cands = Similarity.lshPairCandidates(dup, planes = 40, bandBits = 20,
      sigCenterDims = 8, sigCenterAt = 0.5)
      .filter(col("id_b") === col("id_a") + 1000).count()
    assert(cands == 200L, s"all 200 identical twins must stay candidates, got $cands")
  }

  test("e_lsh_selectivity on real fixture data: production configs stay non-degenerate") {
    // The oracle gate can't catch a knob regression mirrored into the
    // DuckDB twin — this is the automated tripwire on REAL data: the
    // registered selectivity query's own rows, bounded against the pair
    // count of the sf0.001 fixtures.
    val sfDir = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("e_lsh_selectivity")(spark, sfDir)
      .collect().map(r => r.getAs[String]("cfg") -> r.getAs[Long]("candidates")).toMap
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val nEmb = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    val mmFrac = rows("mm_centered_2x20").toDouble / (nDocs * (nDocs - 1) / 2)
    assert(mmFrac < 0.25,
      s"centered 2x20 banding degenerated on the featurize fixture: $mmFrac of all pairs")
    val dupFrac = rows("emb_7x8").toDouble / (nEmb * (nEmb - 1) / 2)
    assert(dupFrac < 0.25,
      s"the production 7x8 dup banding degenerated on real embeddings: $dupFrac of all pairs")
    assert(rows("emb_7x8") <= rows("emb_8x4"),
      s"8-bit bands passing more than 4-bit bands: ${rows("emb_7x8")} vs ${rows("emb_8x4")}")
    assert(rows("emb_8x4").toDouble / (nEmb * (nEmb - 1) / 2) < 0.75,
      "even the legacy narrow-band config must prune something on real embeddings")
  }

  test("lshPairCandidatesByWidth band-splits one signature pass identically to per-call runs") {
    val feats = vecs(120, 8)
      .select(col("vec_id"), Similarity.padToSigDims(col("embedding")).as("embedding"))
    val Seq((b4, c4), (b8, c8)) = Similarity.lshPairCandidatesByWidth(
      feats, planes = 32, bandWidths = Seq(4, 8), sigCenterDims = 8, sigCenterAt = 0.5)
    assert(b4 == 4 && b8 == 8)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(c4) == pairs(Similarity.lshPairCandidates(
      feats, planes = 32, bandBits = 4, sigCenterDims = 8, sigCenterAt = 0.5)))
    assert(pairs(c8) == pairs(Similarity.lshPairCandidates(
      feats, planes = 32, bandBits = 8, sigCenterDims = 8, sigCenterAt = 0.5)))
  }

  test("explodeBands mask stays correct at wide band widths (no Int wraparound)") {
    // bandBits=32 used to produce an Int mask of 0 — every vector in one
    // bucket, i.e. the quadratic product back again. With the Long mask,
    // 1x32 banding must separate vectors with different signatures.
    val feats = vecs(50, 8)
      .select(col("vec_id"), Similarity.padToSigDims(col("embedding")).as("embedding"))
    val possible = 50L * 49 / 2
    val oneWideBand = Similarity.lshPairCandidates(feats, planes = 32, bandBits = 32,
      sigCenterDims = 8, sigCenterAt = 0.5).count()
    assert(oneWideBand < possible,
      s"1x32 banding collapsed into a single bucket: $oneWideBand of $possible")
  }

  test("stored IVF index serves the in-plan operator's exact results via partition pruning") {
    val emb = vecs(200, 16)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_spec").toString
    Similarity.buildIvfIndex(emb, dir, nCells = 8)
    val served = Similarity.ivfTopKFromIndex(spark, dir, emb.filter(col("vec_id") < 4),
      k = 5, nProbe = 2)
    // bit-identical to the in-plan retrain (doubles round-trip parquet
    // exactly; same seeds, same argmax, same tie-breaks)
    val inPlan = Similarity.ivfTopK(emb, nQueries = 4, k = 5, nCells = 8, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = served.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == inPlan, s"index-served $got != in-plan $inPlan")
    // the probe scan must be dynamically partition-pruned: only the probed
    // cells' directories are read, which is the whole point of the layout
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"index probe not partition-pruned:\n$plan")
  }

  test("appendToIvfIndex: grown index is complete, assignments frozen to stored centroids") {
    val emb = vecs(120, 16)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_incr_spec").toString
    Similarity.buildIvfIndex(emb.filter(col("vec_id") < 60), dir, nCells = 8)
    val centroidsBefore = spark.read.parquet(s"$dir/centroids").collect().toSet
    Similarity.appendToIvfIndex(emb.filter(col("vec_id") >= 60), dir)
    // no vector lost or duplicated; centroids untouched by the append
    val stored = spark.read.parquet(s"$dir/vectors")
    assert(stored.count() == 120 && stored.select("vec_id").distinct().count() == 120)
    assert(spark.read.parquet(s"$dir/centroids").collect().toSet == centroidsBefore)
    // serving the grown index yields a full, duplicate-free top-k per query
    val served = Similarity.ivfTopKFromIndex(spark, dir, emb.filter(col("vec_id") < 3),
      k = 5, nProbe = 2).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(served.length == 15)
    served.groupBy(_._1).values.foreach { q =>
      assert(q.map(_._2).sorted.toSeq == (1L to 5L), s"ranks broken: ${q.toSeq}")
      assert(q.map(_._3).distinct.length == 5)
    }
    // appended vectors are reachable: at least one neighbor id >= 60
    assert(served.exists(_._3 >= 60L), "appended half never surfaced in results")
  }
}
