package graft.llmdata

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Contracts of [[Similarity.knnGraph]] (LSH-seeded NN-Descent):
  *  - the refinement round must IMPROVE (or at worst preserve) recall
  *    against the exact k-NN graph — the closure over neighbors'
  *    neighbors is the operator's whole reason to exist;
  *  - refined recall clears a measured floor on the real fixture;
  *  - graph shape: no self edges, no duplicate edges, per-node ranks
  *    contiguous from 1, never more than k neighbors;
  *  - the edge set is a pure function of the input (partitioning-
  *    invariant), which the oracle's bit-for-bit hash also assumes;
  *  - the occupancy banding ladder resolves the pinned configs.
  */
class KnnGraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.01"
  private val k = 5

  private def embs = spark.read.parquet(s"$sfDir/embeddings.parquet")

  /** Exact k-NN edge set by brute force (all pairs, same rank contract). */
  private lazy val exactEdges: Set[(Long, Long)] = {
    graft.functions.VectorExprs.register(spark)
    val n = Similarity.withNorm(embs)
    val a = n.select(col("vec_id").as("src"), col("ed").as("ea"), col("nrm").as("na"))
    val b = n.select(col("vec_id").as("dst"), col("ed").as("eb"), col("nrm").as("nb"))
    a.crossJoin(b).filter(col("src") =!= col("dst"))
      .withColumn("cos", expr(Similarity.sparkCosPre("ea", "eb", "na", "nb")))
      .withColumn("rank", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("src").orderBy(col("cos").desc, col("dst").asc)))
      .filter(col("rank") <= k)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("vec_id", "nn_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def recall(got: Set[(Long, Long)]): Double =
    got.intersect(exactEdges).size.toDouble / exactEdges.size

  test("NN-Descent round improves recall over the LSH seed graph on the real fixture") {
    graft.functions.VectorExprs.register(spark)
    val seed = recall(edgeSet(Similarity.knnGraph(embs, k, descentRounds = 0)))
    val refined = recall(edgeSet(Similarity.knnGraph(embs, k, descentRounds = 1)))
    info(f"real fixture recall@$k: seed $seed%.3f -> refined $refined%.3f (exact edges ${exactEdges.size})")
    assert(refined >= seed,
      f"refinement LOST recall ($seed%.3f -> $refined%.3f) — the closure is broken")
    // The embeddings fixture is ISOTROPIC-RANDOM — the hard case for any
    // neighbor-closure method (a random point cloud's k-NN graph has
    // near-zero clustering coefficient, so "neighbor of my neighbor" has
    // little to propagate; measured: seed 0.706 -> refined 0.757, one
    // more round buys only +0.004). The floor pins the measured level;
    // the clustered test below is where the mechanism is graded.
    assert(refined >= 0.70, f"refined recall $refined%.3f below the measured floor 0.70")
  }

  /** Deterministic clustered fixture: `nClusters` hash-built unit centers,
    * members = center + small per-member hash perturbation — the regime
    * k-NN graphs are built for (members of a cluster ARE each other's
    * true neighbors, and the closure over neighbors' neighbors can
    * recover a whole cluster from one seed collision). No RNG: every
    * coordinate is a pure integer-hash function of (cluster, member, dim). */
  private def clustered(nClusters: Int, perCluster: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rows = for {
      c <- 0 until nClusters
      m <- 0 until perCluster
    } yield {
      val vec = Array.tabulate(64) { d =>
        def h(a: Long, b: Long, dd: Long): Double = {
          val x = (a * 2654435769L + b * 40503L + dd * 97L + 12345L) & 0x7fffffffL
          (x % 10007).toDouble / 10007.0 - 0.5
        }
        // center coordinate dominates; 0.8 jitter spreads members enough
        // that tight banding splits real neighbors (measured sweep:
        // jitter 0.3 -> seeds alone reach 0.99, nothing left to refine)
        h(c.toLong, 0L, d.toLong) + 0.8 * h(c.toLong * 131L + m + 1L, m.toLong, d.toLong)
      }
      ((c * perCluster + m).toLong, vec)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("clustered data: the NN-Descent round recovers what seeding missed (recall >= 0.95)") {
    graft.functions.VectorExprs.register(spark)
    val emb = clustered(16, 25)
    val n = Similarity.withNorm(emb)
    val a = n.select(col("vec_id").as("src"), col("ed").as("ea"), col("nrm").as("na"))
    val b = n.select(col("vec_id").as("dst"), col("ed").as("eb"), col("nrm").as("nb"))
    val exact = a.crossJoin(b).filter(col("src") =!= col("dst"))
      .withColumn("cos", expr(Similarity.sparkCosPre("ea", "eb", "na", "nb")))
      .withColumn("rank", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("src").orderBy(col("cos").desc, col("dst").asc)))
      .filter(col("rank") <= k)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def rec(df: org.apache.spark.sql.DataFrame): Double =
      edgeSet(df).intersect(exact).size.toDouble / exact.size
    // Deliberately TIGHT banding (8x8-bit: 256 buckets a band for 400
    // vectors, occupancy ~1.6) so seeding is sparse and the refinement
    // has something to do — with the adaptive occupancy ladder the seeds
    // alone already reach recall 1.0 here, which tests nothing.
    val seed = rec(Similarity.knnGraph(emb, k, planes = 64, bandBits = 8, descentRounds = 0))
    val refined = rec(Similarity.knnGraph(emb, k, planes = 64, bandBits = 8, descentRounds = 1))
    info(f"clustered recall@$k (sparse 8x8 seeds): seed $seed%.3f -> refined $refined%.3f")
    assert(refined >= seed)
    // measured: 0.918 -> 0.972; the bars leave regression room, not
    // mechanism room (a broken closure adds ~0.000, see the real-fixture
    // isotropic numbers above for how little chance contributes)
    assert(refined - seed >= 0.03,
      f"refinement added only ${refined - seed}%.3f recall from sparse seeds — the closure is not doing its job")
    assert(refined >= 0.95, f"clustered refined recall $refined%.3f below 0.95")
  }

  test("graph shape: no self edges, no duplicates, contiguous ranks, <= k per node") {
    graft.functions.VectorExprs.register(spark)
    val rows = Similarity.knnGraph(embs, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.forall { case (v, _, nn) => v != nn }, "self edge")
    val byNode = rows.groupBy(_._1)
    byNode.foreach { case (v, es) =>
      assert(es.length <= k, s"node $v has ${es.length} > $k neighbors")
      assert(es.map(_._2).sorted.toSeq == (1L to es.length).toSeq,
        s"node $v ranks not contiguous: ${es.map(_._2).sorted.mkString(",")}")
      assert(es.map(_._3).distinct.length == es.length, s"node $v duplicate neighbor")
    }
  }

  test("no (src,dst) duplicates in either scoring shape (stored-vs-recomputed cosine collapse)") {
    // The refinement pool relies on stored cosines being
    // bit-identical to inline-recomputed ones so duplicate proposals
    // collapse in distinct(); a codegen/kernel divergence on one path
    // would surface here as a duplicated edge inside a node's top-k —
    // a loud failure instead of a silently corrupted graph. Pinned in
    // BOTH shapes so the light/heavy switch can't hide it.
    graft.functions.VectorExprs.register(spark)
    Seq(true, false).foreach { light =>
      val rows = Similarity.knnGraphRankedShaped(embs, k, planes = 0, bandBits = 0,
        nHint = 0L, descentRounds = 1, lightOverride = Some(light))
        .drop("cos").collect()
        .map(r => (r.getLong(0), r.getLong(2)))
      assert(rows.length == rows.distinct.length,
        s"duplicate (src,dst) edge in ${if (light) "light" else "heavy"} shape")
    }
  }

  test("edge set is partitioning-invariant") {
    graft.functions.VectorExprs.register(spark)
    val base = edgeSet(Similarity.knnGraph(embs, k))
    val shuffled = edgeSet(Similarity.knnGraph(embs.repartition(13), k))
    assert(base == shuffled, "graph depends on input partitioning")
  }

  test("occupancy banding ladder: pinned configs, occupancy stays bounded") {
    assert(Similarity.knnBanding(500L) == (32, 4), "sf0.01 must resolve the oracle's 32x4")
    assert(Similarity.knnBanding(5000L) == (64, 8))
    assert(Similarity.knnBanding(50000L) == (88, 11))
    // occupancy n / 2^r stays in a constant window from 10^3 to 10^12
    Seq(1000L, 10000L, 100000L, 1000000L, 10000000L,
        1000000000L, 1000000000000L).foreach { n =>
      val (_, r) = Similarity.knnBanding(n)
      val occ = n.toDouble / (1L << r)
      assert(occ <= 64 && occ >= 4, s"n=$n r=$r occupancy $occ left the window")
    }
  }
}
