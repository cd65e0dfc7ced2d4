package graft.core

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Contracts of [[GraphMetrics.triangleCounts]]: hand-counted triangles on
  * canonical shapes, exactly-once counting under duplicate/reversed input
  * pairs (the near-dup convention tolerance), explicit zeros for
  * triangle-free nodes, and partitioning invariance. */
class GraphMetricsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def pairsDf(ps: Seq[(Long, Long)]): DataFrame =
    ps.toDF("id_a", "id_b")

  private def countsOf(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("single triangle: every corner counts once") {
    val r = countsOf(GraphMetrics.triangleCounts(
      pairsDf(Seq((1L, 2L), (2L, 3L), (1L, 3L)))))
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("K4: each node sits in C(3,2) = 3 triangles") {
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val r = countsOf(GraphMetrics.triangleCounts(pairsDf(k4)))
    assert(r == (1L to 4L).map(_ -> 3L).toMap)
  }

  test("chain has no triangles but every node is emitted with 0") {
    val r = countsOf(GraphMetrics.triangleCounts(
      pairsDf(Seq((1L, 2L), (2L, 3L), (3L, 4L)))))
    assert(r == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
  }

  test("triangle + pendant: pendant node reads 0") {
    val r = countsOf(GraphMetrics.triangleCounts(
      pairsDf(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)))))
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
  }

  test("duplicate, reversed, and self-loop pairs do not change counts") {
    val messy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (3L, 1L), (2L, 2L))
    val r = countsOf(GraphMetrics.triangleCounts(pairsDf(messy)))
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("approx at p = 1 is bit-identical to the exact operator") {
    val ps = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L), (6L, 7L))
    val exact = countsOf(GraphMetrics.triangleCounts(pairsDf(ps)))
    val approx = countsOf(GraphMetrics.triangleCountsApprox(
      pairsDf(ps), keepNum = 3, keepDen = 3))
    assert(approx == exact)
  }

  test("approx estimate lands in the error band on a closed-form clique fixture") {
    // 50 blocks of K8: exactly 50·C(8,3) = 2800 triangles; per-corner sum
    // = 3·2800. The hash coin is deterministic, so the estimate is a
    // fixed number — the band asserts the estimator's calibration (p³
    // edge survival, ×8 unbias), not a flaky sample.
    val k8blocks = for {
      b <- 0L until 50L
      i <- 0L until 8L
      j <- (i + 1) until 8L
    } yield (b * 8 + i, b * 8 + j)
    val exactTotal = 3L * 50 * 56
    val est = GraphMetrics.triangleCountsApprox(pairsDf(k8blocks))
    val agg = est.agg(org.apache.spark.sql.functions.sum("est_triangles")).collect()(0).getLong(0)
    assert(agg > (exactTotal * 0.75).toLong && agg < (exactTotal * 1.25).toLong,
      s"estimate $agg vs exact corner-sum $exactTotal is outside the ±25% band " +
        "(a LINEAR coin biased the 32-clique probe +88% — the band guards the hash's nonlinearity)")
    // Domain totality: every node of the FULL graph is emitted even if
    // the coin dropped all of its edges.
    assert(est.count() == 400L)
  }

  test("approx at p = 1/16: whole-graph estimate holds while per-node estimates go sparse") {
    // The variance story behind the dense-regime knob (SynthScale `sweep`
    // measures it at 64k nodes: whole-graph error −0.45% → −1.05% from
    // p = 1/2 to 1/16 while per-node zero-rate climbs 0% → 89.6%): the
    // AGGREGATE stays usable at deep sparsification because survivors
    // scale with triangles-per-edge, but per-NODE estimates become
    // lottery tickets — a curator thresholding nodes must stay at mild p,
    // a curator comparing sources can go deep. This pins the aggregate
    // bar at the deepest registered p on a spec-sized closed-form
    // fixture (20 K32 blocks, 99 200 triangles; the deterministic coin
    // makes the estimate a constant, so the band tests calibration, not
    // flakiness) AND the per-node sparsity it buys.
    val k32blocks = pairsDf(for {
      b <- 0L until 20L; i <- 0L until 32L; j <- (i + 1) until 32L
    } yield (b * 32 + i, b * 32 + j))
    val est = GraphMetrics.triangleCountsApprox(k32blocks, keepNum = 1, keepDen = 16)
    import org.apache.spark.sql.functions.{sum, when, lit, col}
    val agg = est.agg(sum("est_triangles").as("s"),
      sum(when(col("est_triangles") === 0, 1L).otherwise(0L)).as("zeros")).collect()(0)
    val cornerSum = 3L * 20 * 4960
    assert(agg.getLong(0) > cornerSum / 2 && agg.getLong(0) < cornerSum * 3 / 2,
      s"p=1/16 whole-graph estimate ${agg.getLong(0)} is outside ±50% of $cornerSum")
    // Every node truly sits in C(31,2) = 465 triangles, yet most read 0 at
    // p = 1/16 — the documented per-node noise, asserted so the scaladoc's
    // "headline use is aggregate density" claim stays measured.
    assert(agg.getLong(1) > 320, s"expected most of the 640 nodes to read 0, got ${agg.getLong(1)}")
  }

  test("the wedge self-join reads both oriented sides exchange-free (plan-shape pin)") {
    // 4 ENSURE_REQUIREMENTS exchanges in the executed plan, NONE of them
    // under the wedge self-join: both of its inputs are the
    // pivot-co-partitioned oriented cache (the −2× measured win). The 4
    // that remain are the honest ones — the closing join's two (x, y)
    // re-keys, the per-corner aggregation, and the final domain join's
    // deg side. (Was 8 before the r14 explode rewrite: the 3-way
    // per-corner union re-executed the closing-join subtree once per
    // corner.) A refactor that drops the oriented cache's partitioning
    // re-keys the wedge join's inputs and raises this count.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val tri = pairsDf(for {
        b <- 0L until 40L; i <- 0L until 4L; j <- (i + 1) until 4L
      } yield (b * 4 + i, b * 4 + j))
      val tc = GraphMetrics.triangleCounts(tri)
      tc.collect(): Unit
      val n = PlanShapes.ensureShuffles(tc.queryExecution.executedPlan)
      assert(n == 4, s"triangleCounts exchange count moved: $n (pinned 4)")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private def coefsOf(df: DataFrame): Map[Long, (Long, Long)] =
    df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("clustering coefficient: hand-computed ppm on canonical shapes") {
    // K4: every node deg 3, 3 triangles over 3 wedges → exactly 10⁶.
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(coefsOf(GraphMetrics.clusteringCoefPpm(pairsDf(k4))) ==
      (1L to 4L).map(_ -> (3L, 1000000L)).toMap)
    // Triangle + pendant: corners 1,2 are perfect (deg 2, 1 triangle /
    // 1 wedge); node 3 has deg 3 → 2·1·10⁶ div 6 = 333333; pendant 0.
    val tp = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    assert(coefsOf(GraphMetrics.clusteringCoefPpm(pairsDf(tp))) ==
      Map(1L -> (2L, 1000000L), 2L -> (2L, 1000000L),
        3L -> (3L, 333333L), 4L -> (1L, 0L)))
  }

  test("kCore: K4 survives its own 3-core, attachments peel over rounds") {
    // K4 (nodes 1-4) with a 3-chain tail hung off node 4: at k = 3 the
    // whole tail peels (cascading over rounds — 7's removal drops 6,
    // then 5, then 4 back to in-core degree 3) and exactly K4 remains.
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val tail = Seq((4L, 5L), (5L, 6L), (6L, 7L))
    val core = GraphMetrics.kCore(pairsDf(k4 ++ tail), k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == (1L to 4L).map(_ -> 3L).toMap)
    // k = 1 keeps everything (every node of the pair graph has deg ≥ 1).
    assert(GraphMetrics.kCore(pairsDf(k4 ++ tail), k = 1).count() == 7L)
    // A chain's 2-core is EMPTY — it peels one shell per round from the
    // ends, the adversarial depth case.
    assert(GraphMetrics.kCore(pairsDf(tail), k = 2).count() == 0L)
  }

  test("incrementalTriangles equals a full recount over the union graph") {
    // Old graph: triangle {1,2,3} + pendant edge (3,4) + wedge 6-5-7.
    val old = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (5L, 6L), (5L, 7L))
    // New batch exercises every leg: (1,4) closes 1-3-4 with ONE new
    // edge; (6,7) is a NEW closing edge over the both-OLD wedge at 5
    // (leg B); {10,11,12} is an all-new triangle; (1,2) is a replayed
    // duplicate of a stored edge and must contribute nothing.
    val fresh = Seq((1L, 4L), (6L, 7L), (10L, 11L), (11L, 12L), (10L, 12L), (1L, 2L))
    val incr = countsOf(GraphMetrics.incrementalTriangles(pairsDf(old), pairsDf(fresh)))
    val full = countsOf(GraphMetrics.triangleCounts(pairsDf(old ++ fresh)))
    assert(incr == full)
    assert(incr(5L) == 1L && incr(10L) == 1L && incr(3L) == 2L && incr(2L) == 1L)
  }

  test("incrementalTriangles with an empty batch returns the stored counts") {
    val old = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val incr = countsOf(GraphMetrics.incrementalTriangles(
      pairsDf(old), pairsDf(Seq.empty)))
    assert(incr == countsOf(GraphMetrics.triangleCounts(pairsDf(old))))
  }

  test("kCore exhausting maxRounds mid-peel fails loudly, never truncates") {
    // A 12-chain at k = 2 peels from both ends — 6 rounds to empty; at
    // maxRounds = 2 the peel is mid-flight and a silent return would
    // include sub-2-degree members.
    val chain = pairsDf((0L until 12L).map(i => (i, i + 1)))
    val e = intercept[IllegalStateException] {
      GraphMetrics.kCore(chain, k = 2, maxRounds = 2)
    }
    assert(e.getMessage.contains("peeling fixpoint"))
  }

  test("counts are partitioning-invariant") {
    val ps = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L), (6L, 7L))
    val base = countsOf(GraphMetrics.triangleCounts(pairsDf(ps)))
    val shuffled = countsOf(GraphMetrics.triangleCounts(pairsDf(ps).repartition(5)))
    assert(base == shuffled && base(3L) == 2L && base(6L) == 0L)
  }

  // ---- kCore2Contracted: the log-depth 2-core ----

  private def coreMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def assertSameAsPlain(ps: Seq[(Long, Long)], label: String): Unit = {
    val plain = coreMap(GraphMetrics.kCore(pairsDf(ps), k = 2, maxRounds = 100))
    val contracted = coreMap(GraphMetrics.kCore2Contracted(pairsDf(ps)))
    assert(contracted == plain, s"$label: contracted $contracted != plain $plain")
  }

  test("kCore2Contracted equals the plain 2-core on every canonical shape") {
    // Clique with a pendant chain: chain peels, K4 stays.
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assertSameAsPlain(k4 ++ Seq((4L, 10L), (10L, 11L), (11L, 12L)), "K4+chain")
    // Pure cycle: ALL in-core at degree 2 (the plain peel converges in one
    // round; the contracted form must not smooth any of it away).
    assertSameAsPlain((0L until 9L).map(i => (i, (i + 1) % 9)), "C9")
    // Lollipop: C5 with a 6-chain tail — core is exactly the cycle, the
    // covered cycle nodes must resolve back IN through the records.
    val c5 = (0L until 5L).map(i => (i, (i + 1) % 5))
    val tail6 = (0L until 6L).map(i => (100L + i, 100L + i + 1)) :+ (0L, 100L)
    assertSameAsPlain(c5 ++ tail6, "lollipop")
    // Two K4s joined by a LONG path: the path's interior is degree 2 yet
    // genuinely in-core (min-degree-2 subgraph includes it) — the case
    // where smoothing must keep, not peel, the chain.
    val k4b = for (i <- 20L to 23L; j <- (i + 1) to 23L) yield (i, j)
    val bridge = Seq((4L, 40L)) ++ (0L until 8L).map(i => (40L + i, 41L + i)) :+ (48L, 20L)
    assertSameAsPlain(k4 ++ k4b ++ bridge, "two-cliques-bridge")
    // Pure trees and isolated edges: empty core on both sides.
    assertSameAsPlain(Seq((1L, 2L), (2L, 3L), (2L, 4L), (4L, 5L), (7L, 8L)), "tree")
    // Figure-eight: two cycles sharing a node.
    val f8 = (0L until 4L).map(i => (i, (i + 1) % 4)) ++
      Seq((0L, 50L), (50L, 51L), (51L, 0L))
    assertSameAsPlain(f8, "figure-eight")
  }

  test("kCore2Contracted equals the plain 2-core on a seeded random graph") {
    val rnd = new scala.util.Random(42)
    val ps = Seq.fill(400)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
    assertSameAsPlain(ps, "G(120, 400)")
    // Sparser regime — long pendant structures + small cycles.
    val rnd2 = new scala.util.Random(7)
    val sparse = Seq.fill(130)((rnd2.nextInt(150).toLong, rnd2.nextInt(150).toLong))
      .filter { case (a, b) => a != b }
    assertSameAsPlain(sparse, "G(150, 130)")
  }

  test("kCore2Contracted rounds are logarithmic where the plain peel is linear") {
    // A 96-edge pendant chain off a triangle: the plain peel burns one
    // round per chain node from the free end (~96 rounds + confirm); the
    // contracted loop must finish in O(log 96) — the entire reason the
    // variant exists (the kNN graph's drift-chain depth law: 7 at sf0.1
    // → 23 at sf1, growing past any fixed cap at the 100 TB target).
    val tri = Seq((0L, 1L), (1L, 2L), (0L, 2L))
    val chain = (0L until 96L).map(i => (1000L + i, 1001L + i)) :+ (0L, 1000L)
    val ps = pairsDf(tri ++ chain)
    val plainDepth = GraphMetrics.kCorePeelDepth(ps, k = 2, maxRounds = 200)
    val contractedRounds = GraphMetrics.kCore2ContractedRounds(ps)
    assert(plainDepth > 90, s"fixture lost its depth adversary: plain depth $plainDepth")
    assert(contractedRounds <= 16,
      s"contracted rounds $contractedRounds not logarithmic vs plain depth $plainDepth")
    assert(coreMap(GraphMetrics.kCore2Contracted(ps)) ==
      Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
  }

  test("kCore2Contracted exhausting maxRounds fails loudly, never truncates") {
    val chain = pairsDf((0L until 40L).map(i => (i, i + 1)))
    val e = intercept[IllegalStateException] {
      GraphMetrics.kCore2Contracted(chain, maxRounds = 2)
    }
    assert(e.getMessage.contains("fixpoint"))
  }

  test("kCore2Contracted is partitioning-invariant and input-convention tolerant") {
    val c6 = (0L until 6L).map(i => (i, (i + 1) % 6))
    val messy = c6 ++ c6.map(_.swap) ++ Seq((3L, 3L), (0L, 1L), (6L, 7L))
    val base = coreMap(GraphMetrics.kCore2Contracted(pairsDf(messy)))
    val shuffled = coreMap(GraphMetrics.kCore2Contracted(pairsDf(messy).repartition(7)))
    assert(base == shuffled && base == (0L until 6L).map(_ -> 2L).toMap)
  }
}
