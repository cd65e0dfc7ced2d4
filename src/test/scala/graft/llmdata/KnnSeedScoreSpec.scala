package graft.llmdata

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucket-local seed scoring ≡ the former join-form seed, bit for bit —
  * the contract that let knnGraph's seeding move the cosine INSIDE the
  * band-bucket self-join (clearing the measured sf100 pair×vector-bytes
  * wall) without the graph depending on which shape built it. Both the
  * exactly-once edge SET (pairCandIds' first-shared-band predicate) and
  * every cosine's bit pattern must match; the full-graph test then pins
  * the composition end to end on the operator's own fixture path.
  */
class KnnSeedScoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.01"

  private lazy val n = Similarity.withNorm(
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))).cache()

  // The operator's own size-adaptive knobs for the 500-vector fixture.
  private lazy val (planes, bits) = Similarity.knnBanding(500L)

  private def asMap(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Option[Long]] =
    df.collect().map { r =>
      (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None
         else Some(java.lang.Double.doubleToLongBits(r.getDouble(2))))
    }.toMap

  test("bucket-local seed scoring reproduces the join-form seed bit-for-bit on the fixture banding") {
    val (bucketDf, cache) = Similarity.scoreSeedPairsInBuckets(n, planes, bits)
    val bucket = asMap(bucketDf)
    cache.unpersist(blocking = false)
    val join = asMap(Similarity.seedPairsJoinForm(n, planes, bits))
    assert(join.nonEmpty, "fixture banding produced no seed candidates")
    assert(bucket.keySet == join.keySet,
      s"seed edge sets differ: bucket-only ${(bucket.keySet -- join.keySet).take(5)}, " +
        s"join-only ${(join.keySet -- bucket.keySet).take(5)}")
    val diverging = join.count { case (k, v) => bucket(k) != v }
    assert(diverging == 0, s"$diverging of ${join.size} seed cosines differ at the bit level")
  }

  test("seed pairs are canonical (src < dst) and exactly-once") {
    val (bucketDf, cache) = Similarity.scoreSeedPairsInBuckets(n, planes, bits)
    val rows = bucketDf.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    cache.unpersist(blocking = false)
    assert(rows.forall { case (s, d) => s < d }, "seed pairs must be canonical (lo, hi)")
    assert(rows.length == rows.distinct.length,
      "a pair sharing several bands must be emitted exactly once (first shared band)")
  }

  test("seed self-join runs with ZERO live shuffles — the one bucket-key exchange lives inside the cache") {
    // The scale property the rework bought: the bands×N vector frame is
    // repartitioned by (band, band_val) INTO the persisted frame, so both
    // self-join sides read the cache already co-partitioned and the join
    // plan needs no exchange at all (AQE stage reuse was measured NOT to
    // fire across the self-join's two sides, which would have shuffled
    // the vectors twice). At fixture scale the band frame is
    // broadcast-sized and AQE would pick BHJ; force the shuffle join to
    // pin the at-scale shape.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (bucketDf, cache) = Similarity.scoreSeedPairsInBuckets(n, planes, bits)
      // collect() (not count()) so the inspected queryExecution is the one
      // that ran — count() wraps the frame in a NEW execution and leaves
      // this plan isFinalPlan=false with no stages materialized.
      bucketDf.collect()
      // Typed traversal, not string matching: the cache-BUILD repartition
      // legitimately prints inside the InMemoryRelation's stored plan; a
      // live shuffle of THIS execution is a ShuffleQueryStageExec node in
      // the final adaptive plan tree (which stops at the cache-scan leaf).
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ShuffleQueryStageExec}
      val root = bucketDf.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val live = root.collect { case s: ShuffleQueryStageExec => s }
      cache.unpersist(blocking = false)
      assert(live.isEmpty,
        s"expected the co-partitioned cache to satisfy the join with no live exchange, got:\n$root")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  // The join form's degenerate-input contract: scoreEdges scores the
  // light shape's seed and refinement pool, so a NaN here would rank a
  // zero-norm vector FIRST under Spark's desc order and promote it into
  // every top-k; NULL ranks last.
  private def joinScored(rows: Seq[(Long, Array[Float])],
                         pairs: Seq[(Long, Long)]): Map[Long, Option[Double]] = {
    import spark.implicits._
    val zn = Similarity.withNorm(rows.toDF("vec_id", "embedding"))
    Similarity.scoreEdges(pairs.toDF("src", "dst"), zn)
      .collect().map(r => r.getLong(1) -> (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
  }

  test("join-form scoring: a zero-norm vector gives a NULL cos, never NaN; a well-defined pair still scores") {
    val j = joinScored(
      Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 0.0f)), (3L, Array(0.9f, 0.1f))),
      Seq((1L, 2L), (1L, 3L)))
    assert(j(2L).isEmpty, "zero-norm cosine must be NULL (Spark's Divide by zero)")
    assert(j(3L).exists(c => c > 0.9), "well-defined pair must score")
  }

  test("join-form scoring: null and dimension-mismatched embeddings keep the pair with a NULL cos; an absent id drops") {
    // 1 = well-formed, 2 = null embedding, 3 = mismatched dimension,
    // 4 = well-formed partner; pair (1,5) references an absent id.
    val j = joinScored(
      Seq((1L, Array(1.0f, 0.0f)), (2L, null.asInstanceOf[Array[Float]]),
        (3L, Array(0.5f)), (4L, Array(0.6f, 0.8f))),
      Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)))
    assert(j.keySet == Set(2L, 3L, 4L),
      "join form must keep null/mismatched pairs (NULL cos) and drop only absent ids")
    assert(j(2L).isEmpty, "null embedding: NULL cos")
    assert(j(3L).isEmpty, "dimension mismatch: NULL cos")
    assert(j(4L).isDefined, "well-formed pair scores")
  }

  // Whole-graph seed-shape independence (the light shape's join-form seed
  // vs the heavy shape's bucket-local seed) is pinned by KnnShapeGateSpec's
  // "light ≡ heavy" cases — not repeated here.
}
