package graft.llmdata

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The [[Similarity.KnnLightMaxN]] size gate moves TIME, never answers:
  * below the gate knnGraph swaps the bucket-local persist-and-materialize
  * machinery (the sf100 shape) for a light join-form build — seed via
  * [[Similarity.seedPairsJoinForm]], refinement via the join re-attach,
  * lazy scope-owned persists, no eager counts. The seed's scoring forms
  * are pinned bit-identical by KnnSeedScoreSpec; this spec pins the
  * END-TO-END graph across the gate (seed and refinement pool) so no
  * future edit to either shape can diverge them silently, and pins the
  * gate's resolution rules.
  */
class KnnShapeGateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  private def run(light: Boolean, rounds: Int): Set[(Long, Long, Long)] =
    graft.core.CacheScope.scoped {
      Similarity.knnGraphRankedShaped(embs, k = 5, planes = 0, bandBits = 0,
          nHint = 0L, descentRounds = rounds, lightOverride = Some(light))
        .drop("cos").collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    }

  test("light ≡ heavy: seed-only graph (descentRounds = 0)") {
    val l = run(light = true, rounds = 0)
    val h = run(light = false, rounds = 0)
    assert(l.nonEmpty, "fixture produced an empty graph")
    assert(l == h, "seed graphs diverge across the size gate")
  }

  test("light ≡ heavy: one NN-Descent round (the registered default)") {
    val l = run(light = true, rounds = 1)
    val h = run(light = false, rounds = 1)
    assert(l.nonEmpty)
    assert(l == h, "refined graphs diverge across the size gate")
  }

  test("gate resolution: hinted small N is light, hinted large N is heavy, pinned config without a hint is heavy") {
    // Pure arithmetic on the published gate — the operator resolves
    // `light = nEff > 0 && nEff <= KnnLightMaxN`; a
    // pinned-config call without a hint has nEff = 0 and must NOT gate
    // light (it never spent the count that would justify the choice).
    val g = Similarity.KnnLightMaxN
    assert(g == (1L << 14), "gate constant moved; re-measure before accepting")
    def resolves(nEff: Long): Boolean = nEff > 0 && nEff <= g
    assert(resolves(2000L), "sf0.1's 2k vectors must take the light shape")
    assert(resolves(g), "boundary N is light (<=)")
    assert(!resolves(20000L), "sf1's 20k vectors must keep the heavy decade shape")
    assert(!resolves(0L), "pinned-config nEff=0 stays heavy")
  }
}
