package graft.llmdata

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CorpusOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val docs: DataFrame = {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    d.cache(); d
  }

  test("shuffleOrder is a contiguous 1..N permutation, stable across bucket counts") {
    val n = docs.count()
    val out = CorpusOps.shuffleOrder(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(out.length == n)
    assert(out.map(_._1).sorted.toSeq == (1L to n))          // contiguous seqs
    assert(out.map(_._2).distinct.length == n)               // every doc once
    // the permutation is a pure function of doc_id — the bucket knob must
    // not change it (bucket order is hash order by construction)
    val out64 = CorpusOps.shuffleOrder(docs, buckets = 64).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.toMap == out64)
    // and it actually permutes (identity order would mean a broken hash)
    assert(out.toMap.toSeq.sortBy(_._1).map(_._2) != (0L until n).toSeq)
    // a different epoch yields a genuinely DECORRELATED permutation, not a
    // rotation of epoch 0 (an additive-only seed would shift the whole
    // order and keep ~99.9% of adjacent pairs; a fresh affine map keeps
    // almost none)
    val epoch1 = CorpusOps.shuffleOrder(docs, epoch = 1L).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(epoch1.map(_._1).sorted.toSeq == (1L to n))
    def successors(perm: Array[(Long, Long)]): Set[(Long, Long)] =
      perm.sortBy(_._1).map(_._2).sliding(2).collect { case Array(a, b) => (a, b) }.toSet
    val shared = (successors(out) & successors(epoch1)).size.toDouble / (n - 1)
    assert(shared < 0.05, s"epochs share $shared of adjacent pairs — rotation, not reshuffle")
  }

  test("scoreQuantiles cutoffs are monotone in q and sit at exact ranks") {
    val qs = Seq(0.25, 0.5, 0.75, 1.0)
    val cut = CorpusOps.scoreQuantiles(docs, qs).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(cut.keySet == qs.toSet)
    assert(qs.map(cut).sliding(2).forall { case Seq(a, b) => a <= b; case _ => true })
    // cross-check against a driver-side sort of the same scores
    val scores = graft.llmdata.TextAnalysis.quality(docs)
      .select("quality_score").collect().map(_.getDouble(0)).sorted
    qs.foreach { q =>
      val expected = scores(math.ceil(q * scores.length).toInt - 1)
      assert(cut(q) == expected, s"q=$q: got ${cut(q)}, expected $expected")
    }
  }

  test("autoQualityFilter keeps exactly the docs at/above the exact q-quantile") {
    val out = CorpusOps.autoQualityFilter(docs, q = 0.5).collect()
    val scores = graft.llmdata.TextAnalysis.quality(docs)
      .select("doc_id", "quality_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    val sorted = scores.map(_._2).sorted
    val cutoff = sorted(math.ceil(0.5 * sorted.length).toInt - 1)
    assert(out.forall(_.getAs[Double]("cutoff") == cutoff))
    val expectedKept = scores.filter(_._2 >= cutoff).map(_._1).toSet
    assert(out.map(_.getAs[Long]("doc_id")).toSet == expectedKept)
  }

  test("temperatureRates: T=1 is natural, T->inf flattens, head always keeps 1000") {
    val counts = Map("en" -> 800L, "zh" -> 150L, "ko" -> 50L)
    // T=1: target shares equal natural shares -> every stratum keeps all
    assert(CorpusOps.temperatureRates(counts, 1.0) == Map("en" -> 1000, "zh" -> 1000, "ko" -> 1000))
    // higher temperature downsamples the head toward uniform
    val t2 = CorpusOps.temperatureRates(counts, 2.0)
    assert(t2("ko") == 1000, "smallest stratum anchors at keep-everything")
    assert(t2("en") < t2("zh") && t2("zh") < 1000, s"head must be downweighted most: $t2")
    // resulting mixture moves toward uniform: en share shrinks vs natural
    val kept = counts.map { case (k, n) => k -> n * t2(k) / 1000.0 }
    val enShare = kept("en") / kept.values.sum
    assert(enShare < 0.8 && enShare > 1.0 / 3.0, s"enShare $enShare")
    // degenerate inputs stay sane
    assert(CorpusOps.temperatureRates(Map("a" -> 0L, "b" -> 10L), 2.0)("a") == 0)
    val uniform = CorpusOps.temperatureRates(Map("a" -> 5L, "b" -> 5L), 7.0)
    assert(uniform == Map("a" -> 1000, "b" -> 1000))
  }

  test("in-plan temperatureSample equals the driver-side rates composition") {
    val counts = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaRates = CorpusOps.stratifiedSample(docs, CorpusOps.temperatureRates(counts, 2.0))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val inPlan = CorpusOps.temperatureSample(docs, "lang", 2.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(inPlan == viaRates, s"diff: ${(inPlan diff viaRates) ++ (viaRates diff inPlan)}")
    assert(inPlan.nonEmpty && inPlan.size < docs.count())
    // NULL stratum values form their own stratum, not a silent drop — and
    // the two paths must agree on them at a DOWNWEIGHTING temperature too
    // (a null-keyed rate must actually apply: `=== null` never matches,
    // so stratifiedSample needs its isNull branch)
    val withNull = ((1L to 90L).map(i => (i, null: String)) ++
      (91L to 100L).map(i => (i, "en"))).toDF("doc_id", "lang")
    val nullCounts = Map((null: String) -> 90L, "en" -> 10L)
    val viaRatesN = CorpusOps.stratifiedSample(withNull,
      CorpusOps.temperatureRates(nullCounts, 2.0))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val inPlanN = CorpusOps.temperatureSample(withNull, "lang", 2.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(inPlanN == viaRatesN,
      s"diff: ${(inPlanN diff viaRatesN) ++ (viaRatesN diff inPlanN)}")
    // the dominant NULL stratum really was downweighted
    val nullKept = inPlanN.count(_ <= 90L)
    assert(nullKept < 90 && nullKept > 0, s"nullKept $nullKept")
  }

  test("length-bucketed batches: full batches except per-shard tails, padded_to is the batch max") {
    val rows = CorpusOps.lengthBucketedBatches(docs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val byBatch = rows.groupBy { case (shard, batch, _, _, _) => (shard, batch) }
    byBatch.foreach { case ((shard, batch), members) =>
      val isTail = batch == byBatch.keys.filter(_._1 == shard).map(_._2).max
      assert(members.length == 4 || (isTail && members.length < 4),
        s"batch ($shard, $batch) has ${members.length} members")
      val maxTok = members.map(_._4).max
      assert(members.forall(_._5 == maxTok), s"padded_to != batch max in ($shard, $batch)")
      assert(members.forall(m => m._4 <= m._5))
    }
    // batching is a partition of the sequences: same count as the seq frame
    val nSeqs = CorpusOps.packChunks(CorpusOps.chunk(docs))
      .select("shard", "seq_id").distinct().count()
    assert(rows.length.toLong == nSeqs)
  }

  test("stratified sample is deterministic and its complement is exact") {
    val rates = Map("en" -> 500)
    val a = CorpusOps.stratifiedSample(docs, rates).collect().map(_.getLong(0)).toSet
    val b = CorpusOps.stratifiedSample(docs, rates).collect().map(_.getLong(0)).toSet
    assert(a == b)
    // complement: docs NOT sampled are exactly those with bucket >= rate
    val all = docs.withColumn("bucket", expr(CorpusOps.bucketSql("doc_id")))
      .select("doc_id", "lang", "bucket").collect()
    val expected = all.filter { r =>
      r.getLong(2) < (if (r.getString(1) == "en") 500 else 1000)
    }.map(_.getLong(0)).toSet
    assert(a == expected)
  }

  test("ppsSample: keep probability tracks weight/maxW, max-weight rows always kept") {
    import org.apache.spark.sql.functions.expr
    // weights 1..1000 over 4000 docs: keep rate for weight w is ceil(w)/1000
    val in = (1L to 4000L).map(i => (i, "x", 1L + i % 1000)).toDF("doc_id", "lang", "n_chars")
    val out = CorpusOps.ppsSample(in, "n_chars")
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    // the gate is exactly bucket*maxW < w*1000 — recompute membership
    val maxW = 1000L
    val expected = in.withColumn("bucket", expr(CorpusOps.bucketSql("doc_id")))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .filter { case (_, w, b) => b * maxW < w * 1000L }
    assert(rows.map(_._1).toSet == expected.map(_._1).toSet)
    // max-weight rows are always kept (bucket < 1000 = always true)
    val maxIds = (1L to 4000L).filter(i => 1L + i % 1000 == 1000L).toSet
    assert(maxIds.subsetOf(rows.map(_._1).toSet))
    // aggregate keep fraction ~ E[w]/maxW = 0.5005 (hash buckets near-uniform)
    val frac = rows.length.toDouble / 4000
    assert(frac > 0.45 && frac < 0.55, s"keep fraction $frac far from 0.5")
    // deterministic: a re-run selects the identical set
    assert(CorpusOps.ppsSample(in, "n_chars").collect().map(_.getLong(0)).toSet ==
      rows.map(_._1).toSet)
  }

  test("sample rate lands near the nominal per-mille for the stratum") {
    val en = docs.filter($"lang" === "en").count().toDouble
    val kept = CorpusOps.stratifiedSample(docs, Map("en" -> 500))
      .filter($"lang" === "en").count().toDouble
    assert(math.abs(kept / en - 0.5) < 0.15, s"en keep ratio ${kept / en}")
  }

  test("tokenBudgetSample: capped stratum stays within budget + one bucket; others keep all") {
    val budget = 3000L
    val out = CorpusOps.tokenBudgetSample(docs, Map("en" -> budget))
    val perLang = out.groupBy("lang")
      .agg(org.apache.spark.sql.functions.sum("n_tokens").as("t"),
        org.apache.spark.sql.functions.count_distinct($"bucket").as("nb"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // en is capped: total within budget (cutoff-bucket granularity means
    // the kept total can't exceed the budget — cutoff is the last bucket
    // whose cumulative total still fits)
    assert(perLang("en") <= budget, s"en tokens ${perLang("en")}")
    assert(perLang("en") > 0)
    // uncapped strata keep every document
    val inTotals = docs.withColumn("n", org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split(org.apache.spark.sql.functions.trim($"text"), " +")))
      .groupBy("lang").agg(org.apache.spark.sql.functions.count($"doc_id").as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val outCounts = out.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    inTotals.filterNot(_._1 == "en").foreach { case (l, c) =>
      assert(outCounts.getOrElse(l, 0L) == c, s"stratum $l lost rows")
    }
    // deterministic
    assert(CorpusOps.tokenBudgetSample(docs, Map("en" -> budget))
      .collect().map(_.getLong(0)).toSet == out.collect().map(_.getLong(0)).toSet)
  }

  test("decontaminate flags exactly the docs sharing a k-shingle with the benchmark") {
    val bench = Seq((1000L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "alpha beta gamma delta zeta"),   // shares 4-shingle "alpha beta gamma delta"
      (2L, "zeta eta theta iota kappa"),     // no overlap
      (3L, "x alpha beta gamma delta epsilon y")) // shares two 4-shingles
      .toDF("doc_id", "text")
    val out = CorpusOps.decontaminate(train, bench, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 1L, 1L), (3L, 1L, 2L)))
  }

  test("min-label propagation resolves a 3-hop chain in 3 rounds") {
    // path 1-2-3-4: min label 1 needs 3 hops to reach node 4
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val r3 = CorpusOps.clusterLabels(pairs, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r3 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    // 1 round is not enough for the far node
    val r1 = CorpusOps.clusterLabels(pairs, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1(4L) == 3L)
  }

  test("clusterLabelsConverged throws at its cap instead of returning moving labels") {
    // 30-node chain 28-26-…-2-0-1-3-…-29: node 0 sits 15 hops from the far
    // end, so labels settle after 15 rounds and the 16th confirms — inside
    // the default cap of 20, far outside a cap of 2.
    val order = (28L to 2L by -2L) ++ Seq(0L) ++ (1L to 29L by 2L)
    val pairs = order.zip(order.tail).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      CorpusOps.clusterLabelsConverged(pairs, maxIterations = 2)
    }
    assert(e.getMessage.contains("did not converge within 2"))
    val labels = CorpusOps.clusterLabelsConverged(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == (0L until 30L).map(_ -> 0L).toMap)
  }

  test("clusterLabelsConverged outside any CacheScope leaves no cached frame behind") {
    // Its labels are a checkpointed leaf, so nothing reads the edge cache
    // after the loop; ids no other spec uses keep the plan unshared.
    val cm = spark.sharedState.cacheManager
    def cached(): Int = // numCachedEntries is private[sql]
      cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
    val pairs = (9001L until 9009L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val before = cached()
    val labels = CorpusOps.clusterLabelsConverged(pairs).collect()
    assert(labels.length == 9 && labels.forall(_.getLong(1) == 9001L))
    assert(cached() == before, s"cached frames: $before before, ${cached()} after")
  }

  test("fixture dedup clusters: 3 fixed rounds reach the converged fixpoint") {
    val pairs = DocDedup.minhashLshPairs(docs)
    pairs.persist()
    val fixedRounds = CorpusOps.clusterLabels(pairs, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val converged = CorpusOps.clusterLabelsConverged(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fixedRounds == converged)
    // every cluster label is the min doc_id of its members
    val byCluster = fixedRounds.groupBy(_._2).view.mapValues(_.keys.min).toMap
    byCluster.foreach { case (label, minMember) => assert(label == minMember) }
    pairs.unpersist()
  }

  test("dedupAgainstCorpus: exact, cross-set near-dup, and intra-batch dups all dropped") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely unrelated corpus text about spark plans"))
      .toDF("doc_id", "text")
    // Near-dups are whitespace variants: same token set -> identical MinHash
    // signature -> guaranteed band collision (recall 1), so the test is
    // deterministic; lower-J pairs are caught only probabilistically (the
    // standard LSH recall curve, same in the oracle).
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),   // exact dup of corpus
      (11L, "the quick  brown fox jumps over the  lazy dog today"), // near-dup of corpus (J=1)
      (12L, "a genuinely new document with fresh original words"),
      (13L, "a genuinely  new document with fresh  original words"), // intra near-dup of 12
      (14L, "another survivor text entirely distinct from everything"))
      .toDF("doc_id", "text")
    val out = CorpusOps.dedupAgainstCorpus(batch, corpus)
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(12L, 14L))
    // stored-index form: same admissions, corpus side read not recomputed
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_idx_spec").toString
    CorpusOps.buildDedupIndex(corpus, dir)
    val viaIndex = CorpusOps.dedupAgainstIndex(batch, dir)
      .collect().map(_.getLong(0)).toSet
    assert(viaIndex == out, s"index-served $viaIndex != in-plan $out")
    // growing the index with the admitted docs makes a re-offered batch
    // fully duplicate: everything is now rejected
    val admitted = batch.filter($"doc_id".isin(out.toSeq: _*))
    CorpusOps.shingledDocs(admitted, 3).write.mode("append").parquet(s"$dir/shingles")
    CorpusOps.bandsOf(CorpusOps.shingledDocs(admitted, 3), "doc_id")
      .write.mode("append").parquet(s"$dir/bands")
    assert(CorpusOps.dedupAgainstIndex(batch, dir).count() == 0)
  }

  test("perSourceCap keeps at most cap rows per source, best quality first") {
    val out = CorpusOps.perSourceCap(docs, cap = 5).collect()
    val bySrc = out.groupBy(_.getString(1))
    assert(bySrc.values.forall(_.length <= 5))
    assert(bySrc.size > 1, "fixture should have multiple sources")
    // ranks are 1..n within each source and scores are non-increasing
    bySrc.values.foreach { rows =>
      val sorted = rows.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq == (1L to sorted.length).toSeq)
      val scores = sorted.map(_.getDouble(2)).toSeq
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
    // the kept set is exactly the per-source quality top-5 of the full scoring
    val full = TextAnalysis.quality(docs).select($"doc_id", $"quality_score")
      .join(docs.select($"doc_id", $"source"), "doc_id").collect()
      .groupBy(_.getString(2)).toSeq.flatMap { case (_, rows) =>
        rows.sortBy(r => (-r.getDouble(1), r.getLong(0))).take(5).map(_.getLong(0))
      }.toSet
    assert(out.map(_.getLong(0)).toSet == full)
    // scale claim: the rank filter must plant a map-side (Partial)
    // WindowGroupLimit so the source exchange carries ~sources x cap rows
    val plan = CorpusOps.perSourceCap(docs, cap = 5)
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial")),
      s"per-source cap lost its map-side group limit:\n$plan")
  }

  test("datasetSplit: total cover, deterministic sides, append-stable") {
    val out = CorpusOps.datasetSplit(docs, valPerMille = 100, testPerMille = 100).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out.size == docs.count())
    // thresholds: bucket < 100 -> test, < 200 -> val, else train
    out.values.foreach { case (b, s) =>
      val expect = if (b < 100) "test" else if (b < 200) "val" else "train"
      assert(s == expect, s"bucket $b labeled $s")
    }
    assert(out.values.map(_._2).toSet == Set("train", "val", "test"),
      "fixture should populate all three sides")
    // append-stability: running on a subset assigns the same sides
    val sub = CorpusOps.datasetSplit(docs.limit(50), 100, 100).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    sub.foreach { case (id, s) => assert(out(id)._2 == s) }
    // widening train (shrinking val) never moves a doc INTO train's history
    val wide = CorpusOps.datasetSplit(docs, valPerMille = 50, testPerMille = 100).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    wide.foreach { case (id, s) =>
      if (out(id)._2 == "train") assert(s == "train")
      if (s == "test") assert(out(id)._2 == "test")
    }
  }

  test("strideMixOrder: weights hold in every prefix, interleave is even, no RNG") {
    val in = ((1 to 8).map(i => (i.toLong, "a", "x")) ++
      (101 to 104).map(i => (i.toLong, "b", "x")) ++
      Seq((200L, "c", "x")))  // zero-weight -> excluded
      .toDF("doc_id", "source", "text")
    val out = CorpusOps.strideMixOrder(in, Map("a" -> 500, "b" -> 250)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(!out.exists(_._2 == "c"))
    // total order = (sched_key, source, src_rank); a (stride 2000) appears
    // twice per b (stride 4000), evenly: a a b a a b ...
    val ordered = out.sortBy(r => (r._4, r._2, r._3)).map(_._2).toSeq
    assert(ordered == Seq("a", "a", "b", "a", "a", "b", "a", "a", "b", "a", "a", "b"))
    // every prefix at a b-boundary holds the 2:1 mixture
    Seq(3, 6, 9, 12).foreach { n =>
      val p = ordered.take(n)
      assert(p.count(_ == "a") == 2 * p.count(_ == "b"), s"prefix $n: $p")
    }
    // re-runnable: identical output on a second invocation
    val again = CorpusOps.strideMixOrder(in, Map("a" -> 500, "b" -> 250)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(again.toSet == out.toSet)
  }

  test("keepBestPerCluster: keeper is the max-quality member of its own cluster") {
    val out = CorpusOps.keepBestPerCluster(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(out.nonEmpty, "fixture should contain near-dup clusters")
    // independent recomputation of membership and quality
    val labels = CorpusOps.dedupClusters(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val q = TextAnalysis.quality(docs).select($"doc_id", $"quality_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val byCluster = labels.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    assert(out.keySet == byCluster.keySet)
    out.foreach { case (cluster, (keeper, score, n)) =>
      val members = byCluster(cluster)
      assert(members.contains(keeper), s"keeper $keeper not in cluster $cluster")
      assert(n == members.length)
      assert(score == q(keeper))
      val best = members.map(m => (-q(m), m)).min._2
      assert(keeper == best, s"cluster $cluster kept $keeper, best is $best")
    }
  }

  test("cleanFunnel: monotone stages, consistent drops, final count == cleanCorpus output") {
    val f = CorpusOps.cleanFunnel(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(f("1_input") == ((docs.count(), 0L)))
    val order = Seq("1_input", "2_lang_quality", "3_exact_dedup", "4_near_dedup")
    order.sliding(2).foreach { case Seq(a, b) =>
      assert(f(b)._1 <= f(a)._1, s"stage $b grew")
      assert(f(b)._2 == f(a)._1 - f(b)._1, s"stage $b dropped-count inconsistent")
    }
    // the funnel reports on the REAL pipeline: its tail is cleanCorpus's output
    assert(f("4_near_dedup")._1 == CorpusOps.cleanCorpus(docs).count())
  }

  test("epochPlan: exact shares, repeat factors from the pinned division order") {
    val in = Seq(
      (1L, "a", "w w w w w w w w"),  // 8 tokens
      (2L, "b", "w w"),              // 2 tokens
      (3L, "c", "w w"))              // 2 tokens, excluded from the mix
      .toDF("doc_id", "source", "text")
    // weights a=750, b=250 (sum 1000); T=12
    // a: share 750000ppm, epochs = 0.75 * 12/8 = 1.125
    // b: share 250000ppm, epochs = 0.25 * 12/2 = 1.5  (upsampled!)
    // c: weight 0 -> share 0, epochs 0
    val out = CorpusOps.epochPlan(in, Map("a" -> 750, "b" -> 250)).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out("a") == ((8L, 750L, 750000L, 1.125)))
    assert(out("b") == ((2L, 250L, 250000L, 1.5)))
    assert(out("c") == ((2L, 0L, 0L, 0.0)))
  }

  test("datasetSplit + dedupAgainstCorpus composes to a leakage-free eval set") {
    val sp = CorpusOps.datasetSplit(docs, valPerMille = 300, testPerMille = 300)
    val held = docs.join(sp.filter($"split" =!= "train").select("doc_id"), "doc_id")
    val train = docs.join(sp.filter($"split" === "train").select("doc_id"), "doc_id")
    val admitted = CorpusOps.dedupAgainstCorpus(held, train)
      .select("doc_id").as[Long].collect().toSet
    val heldIds = held.select("doc_id").as[Long].collect().toSet
    assert(admitted.nonEmpty && admitted.subsetOf(heldIds))
    // the defining property: no admitted text appears verbatim in train
    val trainTexts = train.select("text").as[String].collect().toSet
    val admittedTexts = docs.filter($"doc_id".isin(admitted.toSeq: _*))
      .select("text").as[String].collect()
    assert(admittedTexts.forall(t => !trainTexts.contains(t)))
  }

  test("cleanCorpus output: only en/quality survivors, no duplicate texts, no near-dup pairs") {
    val out = CorpusOps.cleanCorpus(docs)
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(ids.nonEmpty)
    assert(out.count() == ids.size)
    // all output rows satisfy the filters
    val checked = out.join(TextAnalysis.langId(docs), "doc_id")
      .join(TextAnalysis.quality(docs).select($"doc_id", $"quality_score".as("q2")), "doc_id")
    assert(checked.filter($"lang_guess" =!= "en" || $"q2" < 0.6).count() == 0)
    // no two output docs share a text
    val kept = docs.join(out.select("doc_id"), "doc_id")
    assert(kept.groupBy("text").count().filter($"count" > 1).count() == 0)
    // no remaining near-dup pair at the removal threshold
    assert(DocDedup.minhashLshPairs(kept).count() == 0)
  }

  test("sourceOverlap: exact shared-shingle counts, ppm math, src_a < src_b orientation") {
    val d = Seq(
      (1L, "x y z w", "A"),  // A shingles (k=3): {x y z, y z w}
      (2L, "x y z q", "B"),  // B: {x y z, y z q} — shares "x y z" with A
      (3L, "p q r s", "C"),  // C: {p q r, q r s} — disjoint from both
      (4L, "x y z w", "A"))  // duplicate inside A: distinct sets, no double count
      .toDF("doc_id", "text", "source")
    val out = CorpusOps.sourceOverlap(d, k = 3).collect()
    assert(out.length == 1, "only the (A, B) pair shares a shingle")
    val r = out.head
    assert((r.getString(0), r.getString(1)) == (("A", "B")))
    assert(r.getLong(2) == 1L) // shared
    assert((r.getLong(3), r.getLong(4)) == ((2L, 2L))) // n_a, n_b
    assert(r.getLong(5) == 500000L) // containment: 1e6 div min(2,2)... = 1*1e6 div 2
    assert(r.getLong(6) == 333333L) // jaccard: 1e6 div (2+2-1)
  }
}
