package graft.tools

import graft.core.{GraftSession, GraphMetrics}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale probes for the graph operators on synthetic closed-form graphs
  * (SCALING protocol) — a dev tool, not part of the bench. Each size prints
  * its wall and `require`s the fixture's closed form, so every decade
  * verifies the answer, not just survival.
  * `runMain graft.tools.SynthScale <mode> [sizes…]` (sizes in nodes;
  * `SPARK_GRAFT_CPUS` sets the cores, the SCALING.md rows ran 32). Modes:
  *
  *  - `cc`: [[graft.core.StarComponents]] on one n-node chain (diameter
  *    n−1, the min-label-propagation adversary) plus n/2 disjoint pairs.
  *  - `pr`: [[graft.core.GraphRank.pageRankPpm]], 5 rounds, on a ring plus
  *    one edge per node to its 1024-block hub; mass ≤ n·10⁶, hubs above par.
  *  - `tri` / `approx` / `incr` / `sweep`: [[GraphMetrics.triangleCounts]],
  *    its p = 1/4 estimator (within ±30%), the 1% append through
  *    [[GraphMetrics.mergeTriangleCounts]] (exact), and a p ∈ {1/2…1/16}
  *    sweep with per-node zero-rates — all on 32-cliques plus ONE hub
  *    adjacent to every node (the skew the degree orientation absorbs),
  *    blocks · (C(32,3) + C(32,2)) triangles.
  *  - `kcore`: [[GraphMetrics.kCore]] (k = 2) on K32 + 8-node pendant path
  *    blocks: the 2-core is the cliques at degree 31 and the peel depth is
  *    path length + confirm = 9 at every n — the number the twin budget
  *    [[graft.registry.Corpus.KCoreTwinRounds]] tracks.
  *  - `kcore2`: [[GraphMetrics.kCore2Contracted]] on K32 + 128-node paths,
  *    where the plain peel needs 129 rounds; contracted rounds must stay
  *    logarithmic (plain measured alongside up to 1 M nodes).
  *  - `kcore2knn <sfDir>...`: both 2-core forms on the real mutual-kNN
  *    graph of each scale dir, which must agree. */
object SynthScale {

  /** Default sizes (nodes) and the per-size probe of each synthetic mode. */
  private val Synthetic: Map[String, (Seq[Long], (SparkSession, Long) => Unit)] = Map(
    "cc" -> (Seq(100000L, 1000000L, 10000000L), cc _),
    "pr" -> (Seq(1000000L, 10000000L, 50000000L), pr _),
    "tri" -> (Seq(1000000L, 4000000L, 16000000L), tri(approx = false) _),
    "approx" -> (Seq(1000000L, 4000000L, 16000000L), tri(approx = true) _),
    "incr" -> (Seq(1000000L, 4000000L, 16000000L), incr _),
    "sweep" -> (Seq(1000000L), sweep _),
    "kcore" -> (Seq(1000000L, 4000000L), kcore _),
    "kcore2" -> (Seq(1000000L, 4000000L), kcore2 _))

  private val Modes: Seq[String] = Synthetic.keys.toSeq.sorted :+ "kcore2knn"

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty && Modes.contains(args(0)),
      s"usage: SynthScale <${Modes.mkString("|")}> [sizes... | sfDirs...]")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args(0), args.toSeq.drop(1))
    finally spark.stop()
  }

  /** Run `mode` at each of `args` (node counts; fixture dirs for
    * `kcore2knn`), or at the mode's default sizes when `args` is empty. */
  def run(spark: SparkSession, mode: String, args: Seq[String]): Unit = {
    require(Modes.contains(mode), s"unknown mode $mode; one of ${Modes.mkString(", ")}")
    if (mode == "kcore2knn")
      (if (args.nonEmpty) args else Seq("/root/testdata/sf0.1")).foreach(kcore2knn(spark, _))
    else {
      val (defaults, probe) = Synthetic(mode)
      (if (args.nonEmpty) args.map(_.toLong) else defaults).foreach { n =>
        probe(spark, n)
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
    }
  }

  private def cc(spark: SparkSession, n: Long): Unit = {
    // chain over ids [0, n); pair field over ids [2n, 3n): (2n+2i, 2n+2i+1)
    val chain = spark.range(n - 1)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val pairs = spark.range(n / 2)
      .select((col("id") * 2 + 2 * n).as("id_a"), (col("id") * 2 + 2 * n + 1).as("id_b"))
    val edges = chain.unionByName(pairs)
    val t0 = System.nanoTime()
    val (labels, rounds) =
      graft.core.StarComponents.componentsWithRounds(edges, maxIterations = 60)
    val bad = labels.filter(
      (col("doc_id") < n && col("cluster") =!= 0L) ||
        (col("doc_id") >= lit(2 * n) &&
          col("cluster") =!= (col("doc_id") - ((col("doc_id") - 2 * n) % 2)))).count()
    val nodes = labels.count()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[cc] n=$n%,d chain + ${n / 2}%,d pairs: nodes=$nodes%,d rounds=$rounds wall=$secs%.1f s bad=$bad")
    require(bad == 0, s"wrong labels at n=$n")
  }

  private def pr(spark: SparkSession, n: Long): Unit = {
    val ring = spark.range(n)
      .select(col("id").as("id_a"), ((col("id") + 1) % n).as("id_b"))
    val hub = spark.range(n)
      .filter(col("id") % 1024 =!= 0)
      .select(col("id").as("id_a"), (col("id") - col("id") % 1024).as("id_b"))
    val pairs = ring.unionByName(hub)
    val t0 = System.nanoTime()
    val r = graft.core.GraphRank.pageRankPpm(pairs, iterations = 5)
    val agg = r.agg(count(lit(1)).as("nodes"), sum("rank_ppm").as("mass"),
      max("rank_ppm").as("mx")).collect()(0)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[pr] n=$n%,d edges=${2 * n}%,d: nodes=${agg.getLong(0)}%,d mass=${agg.getLong(1)} max=${agg.getLong(2)} wall=$secs%.1f s")
    require(agg.getLong(0) == n, s"node count off at n=$n")
    require(agg.getLong(1) <= n * 1000000L, s"mass above par at n=$n")
    require(agg.getLong(2) > 1000000L, s"no hub concentration at n=$n")
  }

  /** n nodes in 32-cliques plus one hub (id n) adjacent to every node. */
  private def cliquesWithHub(spark: SparkSession, n: Long): DataFrame = {
    val nodes = spark.range(n).select(col("id"), (col("id") / 32).cast("long").as("b"))
    val clique = nodes.as("a").join(nodes.as("b"),
        col("a.b") === col("b.b") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val hub = spark.range(n).select(col("id").as("id_a"), lit(n).as("id_b"))
    clique.unionByName(hub)
  }

  /** Triangles of [[cliquesWithHub]]: C(32,3) + C(32,2) per block. */
  private def hubTriangles(n: Long): Long = n / 32 * (4960L + 496L)

  private def tri(approx: Boolean)(spark: SparkSession, n: Long): Unit = {
    val blocks = n / 32
    val pairs = cliquesWithHub(spark, n)
    val expect = hubTriangles(n)
    val t0 = System.nanoTime()
    val (tc, counted) =
      if (approx) (GraphMetrics.triangleCountsApprox(pairs, keepNum = 1, keepDen = 4), "est_triangles")
      else (GraphMetrics.triangleCounts(pairs), "n_triangles")
    val agg = tc.agg(sum(counted).as("s"), count(lit(1)).as("nodes")).collect()(0)
    val (got, nNodes, secs) = (agg.getLong(0) / 3, agg.getLong(1), (System.nanoTime() - t0) / 1e9)
    val tag = if (approx) "tri-approx p=1/4" else "tri"
    println(f"[$tag] n=${n + 1}%,d edges=${blocks * 496 + n}%,d: triangles=$got%,d (expect $expect%,d, ratio ${got.toDouble / expect}%.4f) nodes=$nNodes%,d wall=$secs%.1f s")
    if (approx)
      require(got > expect * 0.7 && got < expect * 1.3,
        s"estimate outside ±30% at n=$n: $got vs $expect")
    else
      require(got == expect, s"triangle count off at n=$n: $got vs $expect")
  }

  private def incr(spark: SparkSession, n: Long): Unit = {
    val blocks = n / 32
    val pairs = cliquesWithHub(spark, n)
    val expect = hubTriangles(n)
    // 99/1 block split on a 32-aligned cut; hub edges follow their
    // low endpoint. Stored counts + the canonical old edge set are
    // built UNTIMED (production reads both from the store); the
    // timed leg is mergeTriangleCounts — the append's actual cost.
    val cut = (n / 100 * 99) / 32 * 32
    val oldPairs = pairs.filter(col("id_a") < cut &&
      (col("id_b") < cut || col("id_b") === n))
    val newPairs = pairs.filter(col("id_a") >= cut || (col("id_b") >= cut && col("id_b") =!= n))
    val oldU = oldPairs
      .select(least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .persist()
    val stored = GraphMetrics
      .triangleCounts(oldU.select(col("u").as("id_a"), col("v").as("id_b")))
      .persist()
    stored.count(): Unit // materialize both, outside the timed window
    val t0 = System.nanoTime()
    val merged = GraphMetrics.mergeTriangleCounts(stored, oldU, newPairs)
    val agg = merged.agg(sum("n_triangles").as("s"), count(lit(1)).as("nodes")).collect()(0)
    val secs = (System.nanoTime() - t0) / 1e9
    val got = agg.getLong(0) / 3
    println(f"[tri-incr 1%%] n=${n + 1}%,d edges=${blocks * 496 + n}%,d: triangles=$got%,d (expect $expect%,d) nodes=${agg.getLong(1)}%,d append-wall=$secs%.1f s")
    require(got == expect, s"incremental count off at n=$n: $got vs $expect")
  }

  private def sweep(spark: SparkSession, n: Long): Unit = {
    val pairs = cliquesWithHub(spark, n).persist()
    pairs.count(): Unit
    val expect = hubTriangles(n)
    Seq(2, 4, 8, 16).foreach { den =>
      val t0 = System.nanoTime()
      val est = GraphMetrics.triangleCountsApprox(pairs, 1, den)
      val agg = est.agg(sum("est_triangles").as("s"), count(lit(1)).as("nodes"),
        sum(when(col("est_triangles") === 0, 1L).otherwise(0L)).as("zeros")).collect()(0)
      val secs = (System.nanoTime() - t0) / 1e9
      val got = agg.getLong(0) / 3
      // every node of this fixture truly participates in triangles, so
      // zeros/nodes IS the per-node miss rate at this p.
      println(f"[tri-sweep p=1/$den] n=${n + 1}%,d: est=$got%,d (expect $expect%,d, err ${(got.toDouble / expect - 1) * 100}%+.2f%%) node-zero-rate=${agg.getLong(2).toDouble / agg.getLong(1) * 100}%.1f%% wall=$secs%.1f s")
      spark.sharedState.cacheManager.clearCache()
    }
    pairs.unpersist(blocking = false): Unit
  }

  /** `blocks` blocks of `size` nodes: ids b·size+0..31 form a K32, ids
    * b·size+32..size−1 a pendant path hung off the clique's first node.
    * The 2-core is the cliques. */
  private def cliquesWithPaths(spark: SparkSession, blocks: Long, size: Int): DataFrame = {
    val nodes = spark.range(blocks * size)
      .select(col("id"), (col("id") / size).cast("long").as("b"), (col("id") % size).as("i"))
    val clique = nodes.filter(col("i") < 32).as("a")
      .join(nodes.filter(col("i") < 32).as("b"),
        col("a.b") === col("b.b") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val path = nodes.filter(col("i") >= 32)
      .select(when(col("i") === 32, col("b") * size).otherwise(col("id") - 1).as("id_a"),
        col("id").as("id_b"))
    clique.unionByName(path)
  }

  private def kcore(spark: SparkSession, n: Long): Unit = {
    val blocks = n / 40
    val pairs = cliquesWithPaths(spark, blocks, 40)
    val t0 = System.nanoTime()
    val depth = GraphMetrics.kCorePeelDepth(pairs, k = 2)
    val core = GraphMetrics.kCore(pairs, k = 2)
    val agg = core.agg(count(lit(1)).as("nodes"), sum("deg").as("degsum")).collect()(0)
    val secs = (System.nanoTime() - t0) / 1e9
    // kCorePeelDepth + kCore run the loop twice; halve for per-run wall.
    println(f"[kcore k=2] n=${blocks * 40}%,d edges=${blocks * 504}%,d: core=${agg.getLong(0)}%,d (expect ${blocks * 32}%,d) degsum=${agg.getLong(1)}%,d (expect ${blocks * 32 * 31}%,d) peel-depth=$depth rounds wall=${secs / 2}%.1f s/run")
    require(agg.getLong(0) == blocks * 32 && agg.getLong(1) == blocks * 32 * 31,
      s"2-core closed form violated at n=$n")
    require(depth == 9, s"peel depth should be path-length 8 + confirm = 9, got $depth")
  }

  private def kcore2(spark: SparkSession, n: Long): Unit = {
    // Plain depth = 129 (one pendant per round + confirm); contracted
    // rounds must be O(log 128).
    val blocks = n / 160
    val pairs = cliquesWithPaths(spark, blocks, 160).persist()
    pairs.count(): Unit
    val t0 = System.nanoTime()
    val rounds = GraphMetrics.kCore2ContractedRounds(pairs)
    val core = GraphMetrics.kCore2Contracted(pairs)
    val agg = core.agg(count(lit(1)).as("nodes"), sum("deg").as("degsum")).collect()(0)
    val secs = (System.nanoTime() - t0) / 1e9
    // Rounds + core run the loop twice; halve for per-run wall.
    val plainNote = if (n <= 1000000L) {
      val p0 = System.nanoTime()
      val depth = GraphMetrics.kCorePeelDepth(pairs, k = 2, maxRounds = 200)
      f" plain: depth=$depth wall=${(System.nanoTime() - p0) / 1e9}%.1f s"
    } else " plain: skipped (129 driver-sequenced rounds is the point)"
    println(f"[kcore2 k=2] n=${blocks * 160}%,d edges=${blocks * 624}%,d: core=${agg.getLong(0)}%,d (expect ${blocks * 32}%,d) degsum=${agg.getLong(1)}%,d (expect ${blocks * 32 * 31}%,d) contracted-rounds=$rounds wall=${secs / 2}%.1f s/run$plainNote")
    require(agg.getLong(0) == blocks * 32 && agg.getLong(1) == blocks * 32 * 31,
      s"contracted 2-core closed form violated at n=$n")
    require(rounds <= 20, s"contracted rounds not logarithmic: $rounds for a 128-path")
    pairs.unpersist(blocking = false): Unit
  }

  /** The REAL graph behind the depth law: mutual verified k-NN edges.
    * Built once (untimed), then plain peel vs contracted. */
  private def kcore2knn(spark: SparkSession, dir: String): Unit =
    graft.core.CacheScope.scoped {
      val edges = graft.registry.LlmData.mutualVerifiedKnnEdges(spark, dir)
        .select("id_a", "id_b").persist()
      val m = edges.count()
      val t0 = System.nanoTime()
      val depth = GraphMetrics.kCorePeelDepth(edges, k = 2, maxRounds = 200)
      val plainS = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val rounds = GraphMetrics.kCore2ContractedRounds(edges)
      val contrS = (System.nanoTime() - t1) / 1e9
      val same = GraphMetrics.kCore2Contracted(edges)
        .union(GraphMetrics.kCore(edges, k = 2, maxRounds = 200))
        .groupBy("doc_id", "deg").agg(count(lit(1)).as("c"))
        .filter(col("c") =!= 2).count()
      println(f"[kcore2knn] $dir edges=$m%,d: plain depth=$depth wall=$plainS%.1f s | contracted rounds=$rounds wall=$contrS%.1f s | result-diff-rows=$same (must be 0)")
      require(same == 0, s"contracted != plain on the knn graph at $dir")
      edges.unpersist(blocking = false): Unit
    }
}
