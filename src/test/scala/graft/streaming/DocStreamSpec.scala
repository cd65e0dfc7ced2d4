package graft.streaming

import graft.TestSpark
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.scalatest.funsuite.AnyFunSuite

class DocStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 09:$minute%02d:00")

  test("streaming ingest drops same-content duplicates within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF().toDF("doc_id", "ts", "text")
    val q = DocStream.dedupedIngest(df)
      .writeStream.format("memory").queryName("ingest")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        (1L, ts(0), "alpha beta gamma"),
        (2L, ts(1), " alpha  beta gamma "), // same tokens -> same fingerprint
        (3L, ts(2), "delta epsilon"))
      q.processAllAvailable()
      // duplicate arriving in a later micro-batch, still within watermark
      mem.addData((4L, ts(3), "alpha beta gamma"))
      q.processAllAvailable()
      val ids = spark.table("ingest").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L), s"got $ids")
    } finally q.stop()
  }

  test("streaming CDC feed converges under out-of-order batches, replays, and stale updates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc_stream").toString
    val sink = new graft.sink.ParquetSink(spark, s"$dir/store")
    val mem = MemoryStream[(Long, Double, String, Long)]
    val q = DocStream.cdcToStore(
      mem.toDF().toDF("k", "v", "op", "seq"), sink, Seq("k"), s"$dir/ck")
    def live: Map[Long, Double] = sink.read()
      .filter("op != 'D'").collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Double]("v")).toMap
    try {
      // batch 1: seed two keys, delete key 1 at seq 3 (future generation
      // arrives first)
      mem.addData((1L, 10.0, "U", 1L), (2L, 20.0, "U", 1L), (1L, 0.0, "D", 3L))
      q.processAllAvailable()
      assert(live == Map(2L -> 20.0))
      // batch 2: STALE update for the deleted key (seq 2 < tombstone's 3)
      // must NOT resurrect it; a fresh update for key 2 applies
      mem.addData((1L, 11.0, "U", 2L), (2L, 21.0, "U", 2L))
      q.processAllAvailable()
      assert(live == Map(2L -> 21.0), "stale update resurrected a deleted key")
      // batch 3: replay of batch 2 (at-least-once delivery) is a no-op
      mem.addData((1L, 11.0, "U", 2L), (2L, 21.0, "U", 2L))
      q.processAllAvailable()
      assert(live == Map(2L -> 21.0))
      // batch 4: a later generation re-inserts the deleted key
      mem.addData((1L, 12.0, "U", 4L))
      q.processAllAvailable()
      assert(live == Map(1L -> 12.0, 2L -> 21.0))
    } finally q.stop()
  }

  test("batch twin keeps the first-arriving copy per fingerprint with counts") {
    import spark.implicits._
    val in = Seq(
      (10L, "a b c"), (11L, "a  b  c"), (12L, "a b c"),
      (20L, "x y"))
      .toDF("doc_id", "text")
    val out = DocStream.dedupBatchTwin(in).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(out == Set((10L, 3L), (20L, 1L)))
  }

  test("paired fingerprints disagree on different texts (widened key space)") {
    import spark.implicits._
    val fp = DocStream.withFingerprint(
      Seq((1L, "a b"), (2L, "b a")).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(2), r.getLong(3)))
    assert(fp(0) != fp(1))
    // the two fingerprints are genuinely different functions
    assert(fp(0)._1 != fp(0)._2)
  }

  test("fingerprint is order-sensitive (not a bag hash)") {
    import spark.implicits._
    val fp = DocStream.withFingerprint(
      Seq((1L, "a b"), (2L, "b a")).toDF("doc_id", "text"))
      .select("fingerprint").collect().map(_.getLong(0))
    assert(fp(0) != fp(1))
  }

  test("ingestToStore: effectively-once store, first arrival wins even past the watermark horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val sink = new graft.sink.ParquetSink(spark, s"$root/store")
    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = DocStream.ingestToStore(
      mem.toDF().toDF("doc_id", "ts", "text"), sink, s"$root/ckpt")
    def storeIds = sink.read().select("doc_id").collect().map(_.getLong(0)).toSet
    try {
      mem.addData((1L, ts(0), "alpha beta"), (2L, ts(1), "gamma delta"))
      q.processAllAvailable()
      assert(storeIds == Set(1L, 2L))
      // cross-batch duplicate: the store's anti-join rejects it
      mem.addData((3L, ts(2), " alpha  beta "), (4L, ts(3), "epsilon zeta"))
      q.processAllAvailable()
      assert(storeIds == Set(1L, 2L, 4L))
      // two hours on, past any one-hour watermark horizon: the ingest keeps
      // no streaming state, so a re-send of doc 1's content reaches the
      // store, and only the store-level anti-join can keep first-wins
      mem.addData((10L, Timestamp.valueOf("2026-01-01 11:00:00"), "unrelated content here"))
      q.processAllAvailable()
      mem.addData((5L, Timestamp.valueOf("2026-01-01 11:30:00"), "alpha beta"))
      q.processAllAvailable()
      assert(storeIds == Set(1L, 2L, 4L, 10L), s"late duplicate re-inserted: $storeIds")
    } finally q.stop()
  }

  test("ingestToSnapshots: each admitting batch commits a version; history stays time-travelable") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_snap").toString
    val store = new graft.sink.SnapshotStore(spark, s"$root/store")
    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = DocStream.ingestToSnapshots(
      mem.toDF().toDF("doc_id", "ts", "text"), store, s"$root/ckpt")
    def ids(v: Long) = store.read(v).select("doc_id").collect().map(_.getLong(0)).toSet
    try {
      mem.addData((1L, ts(0), "alpha beta"), (2L, ts(1), "gamma delta"))
      q.processAllAvailable()
      assert(store.versions == Seq(1L) && ids(1) == Set(1L, 2L))
      // second batch: one fresh doc + one duplicate of doc 1's content —
      // only the fresh one is admitted, as a NEW version
      mem.addData((3L, ts(2), " alpha  beta "), (4L, ts(3), "epsilon zeta"))
      q.processAllAvailable()
      assert(store.versions == Seq(1L, 2L))
      assert(ids(2) == Set(1L, 2L, 4L))
      // time travel: v1 is exactly the first batch, unmutated
      assert(ids(1) == Set(1L, 2L))
    } finally q.stop()
  }

  /** A started ingestToSnapshots on a fresh store: `body` gets the store,
    * a `send` that adds one micro-batch and waits for it, and the root. */
  private def withSnapshotIngest(body: (graft.sink.SnapshotStore, Seq[(Long, Timestamp, String)] => Unit, String) => Unit): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_snap").toString
    val store = new graft.sink.SnapshotStore(spark, s"$root/store")
    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = DocStream.ingestToSnapshots(mem.toDF().toDF("doc_id", "ts", "text"), store, s"$root/ckpt")
    try body(store, rows => { mem.addData(rows); q.processAllAvailable() }, root)
    finally q.stop()
  }

  test("ingestToSnapshots: an all-duplicates micro-batch commits no version") {
    withSnapshotIngest { (store, send, root) =>
      send(Seq((1L, ts(0), "alpha beta"), (2L, ts(1), "gamma delta")))
      assert(store.versions == Seq(1L))
      // stored texts under new ids, plus two copies of one inside the batch
      send(Seq((3L, ts(2), " alpha  beta "), (4L, ts(3), "gamma delta"), (5L, ts(3), "gamma delta")))
      assert(store.versions == Seq(1L), "an empty admission burned a version")
      assert(new java.io.File(s"$root/store").list().toSet == Set("v1"))
      assert(store.readLatest().select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    }
  }

  test("ingestToSnapshots: one admitting trigger over an existing head runs at most 3 jobs") {
    withSnapshotIngest { (store, send, _) =>
      send(Seq((1L, ts(0), "alpha beta"), (2L, ts(1), "gamma delta")))
      val jobs = graft.core.PlanShapes.jobsRun(spark) {
        send(Seq((3L, ts(2), " alpha  beta "), (4L, ts(3), "epsilon zeta")))
      }
      assert(store.versions == Seq(1L, 2L), "the trigger must admit a row")
      // the in-batch dedup's shuffle, the head's key broadcast, the write
      assert(jobs <= 3, s"$jobs jobs for one admitting trigger")
    }
  }

  /** A started store-backed ingest: `send` adds one micro-batch and waits
    * for it, `ids` reads the stored doc_ids back. */
  private final case class Ingest(send: Seq[(Long, Timestamp, String)] => Unit,
                                  ids: () => Set[Long], q: StreamingQuery, checkpoint: String)

  /** Both store-backed ingests, each started on a fresh store under `root`
    * with its reader of the stored doc_ids. */
  private val storeIngests: Seq[(String, (DataFrame, String) => (StreamingQuery, () => Set[Long]))] = Seq(
    "ingestToStore" -> { (docs, root) =>
      val sink = new graft.sink.ParquetSink(spark, s"$root/store")
      (DocStream.ingestToStore(docs, sink, s"$root/ckpt"),
        () => sink.read().select("doc_id").collect().map(_.getLong(0)).toSet)
    },
    "ingestToSnapshots" -> { (docs, root) =>
      val store = new graft.sink.SnapshotStore(spark, s"$root/store")
      (DocStream.ingestToSnapshots(docs, store, s"$root/ckpt"),
        () => store.readLatest().select("doc_id").collect().map(_.getLong(0)).toSet)
    })

  for ((name, start) <- storeIngests) {
    def withIngest(body: Ingest => Unit): Unit = {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val root = java.nio.file.Files.createTempDirectory("graft_ingest_gate").toString
      val mem = MemoryStream[(Long, Timestamp, String)]
      val (q, ids) = start(mem.toDF().toDF("doc_id", "ts", "text"), root)
      try body(Ingest(rows => { mem.addData(rows); q.processAllAvailable() }, ids, q, s"$root/ckpt"))
      finally q.stop()
    }

    test(s"$name: stateless query, one micro-batch per trigger and no state in the checkpoint") {
      withIngest { in =>
        in.send(Seq((1L, ts(0), "alpha beta"), (2L, ts(1), "gamma delta")))
        in.send(Seq((3L, ts(2), " alpha  beta "), (4L, ts(3), "epsilon zeta")))
        // two hours on: past the one-hour horizon a watermark would have
        in.send(Seq((5L, Timestamp.valueOf("2026-01-01 11:30:00"), "eta theta")))
        // a stateful query would follow each event-time advance with a
        // no-data batch; idle triggers report progress without "addBatch"
        val batches = in.q.recentProgress.filter(_.durationMs.containsKey("addBatch"))
        assert(batches.map(_.batchId).toSeq == Seq(0L, 1L, 2L),
          s"batches ${batches.map(p => (p.batchId, p.numInputRows)).mkString(", ")}")
        assert(batches.forall(_.stateOperators.isEmpty))
        assert(!new java.io.File(s"${in.checkpoint}/state").exists, "the checkpoint holds streaming state")
        assert(in.ids() == Set(1L, 2L, 4L, 5L))
      }
    }

    test(s"$name: two exact copies inside one batch admit the smaller doc_id") {
      withIngest { in =>
        in.send(Seq((7L, ts(0), "same text here"), (5L, ts(0), "same text here"), (6L, ts(1), "other text")))
        assert(in.ids() == Set(5L, 6L))
      }
    }

    test(s"$name: a late document is admitted if its text is new, rejected if it is stored") {
      withIngest { in =>
        in.send(Seq((1L, Timestamp.valueOf("2026-01-01 11:00:00"), "alpha beta")))
        // two hours older than the newest event time
        in.send(Seq((2L, ts(0), "late but new"), (3L, ts(0), " alpha beta ")))
        assert(in.ids() == Set(1L, 2L))
      }
    }
  }

  test("streaming LSH near-dup: pairs match the batch twin, including cross-batch pairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t1 = "the quick brown fox jumps over the lazy dog today"
    val t2 = "completely different content about parquet shuffles and joins"
    val docs = Seq(
      (1L, ts(0), t1),
      (2L, ts(1), t2),
      (3L, ts(2), t1 + " today"))   // near-dup of doc 1 (one extra repeated token)
    val late = (4L, ts(3), t2)      // exact dup of doc 2, arrives in a LATER batch
    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = DocStream.lshNearDupStream(mem.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("neardup")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      mem.addData(late)
      q.processAllAvailable()
      // streaming may emit a pair once per matching band -> dedup, then
      // compare against the batch twin over the same 4 documents
      val streamed = spark.table("neardup")
        .select("idA", "idB", "estJaccard").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = DocStream.lshNearDupEstBatchTwin(
        (docs :+ late).map(d => (d._1, d._3)).toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batch, s"streamed $streamed vs batch $batch")
      // the cross-batch exact dup must be among them with full agreement
      assert(streamed.contains((2L, 4L, 1.0)))
    } finally q.stop()
  }

  test("streaming cluster maintenance: store equals the batch twin across batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_stclusters").toString
    val sink = new graft.sink.ParquetSink(spark, s"$root/labels")
    val t1 = "the quick brown fox jumps over the lazy dog today"
    val t2 = "completely different content about parquet shuffles and joins"
    val t3 = "yet another body of text with its own vocabulary entirely"
    val b1 = Seq((1L, ts(0), t1), (2L, ts(1), t2), (5L, ts(2), t3))
    val b2 = Seq((3L, ts(3), t1 + " today"), (4L, ts(4), t2)) // 3≈1, 4=2 (cross-batch)
    val b3 = Seq((6L, ts(5), t1))                             // joins {1,3} later still
    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = DocStream.clusterMaintain(
      mem.toDF().toDF("doc_id", "ts", "text"), sink, s"$root/ckpt")
    def stored(): Set[(Long, Long)] = sink.read().select("doc_id", "cluster")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val mid = stored()
      assert(mid == Set((1L, 1L), (3L, 1L), (2L, 2L), (4L, 2L)), s"got $mid")
      mem.addData(b3: _*); q.processAllAvailable()
      val fin = stored()
      val twin = DocStream.clusterMaintainBatchTwin(
        (b1 ++ b2 ++ b3).map(d => (d._1, d._3)).toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(fin == twin, s"stream $fin vs twin $twin")
      assert(fin.contains((6L, 1L)))
      // doc 5 paired with nothing: labels cover pair-graph nodes only
      assert(!fin.exists(_._1 == 5L))
    } finally q.stop()
  }

  test("streaming triangle maintenance: store equals the batch-twin recount after every prefix; replays are no-ops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_sttriangles").toString
    // Three texts that are mutual near-dups (shared shingles, high
    // signature agreement) form a triangle in the est-pair graph; t2 is
    // unrelated. Batches split the triangle's edges across triggers, so
    // the fold must close a wedge whose sides arrived in EARLIER batches.
    val t1 = "the quick brown fox jumps over the lazy dog today"
    val t2 = "completely different content about parquet shuffles and joins"
    val b1 = Seq((1L, ts(0), t1), (2L, ts(1), t2))
    val b2 = Seq((3L, ts(2), t1 + " today"))          // pairs with 1
    val b3 = Seq((4L, ts(3), t1), (5L, ts(4), t2))    // closes {1,3,4}; 5 pairs with 2
    val fed = scala.collection.mutable.Buffer.empty[(Long, Timestamp, String)]
    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = DocStream.triangleMaintain(
      mem.toDF().toDF("doc_id", "ts", "text"), s"$root/index", s"$root/ckpt")
    def stored(): Map[Long, Long] =
      // No committed version = no pairs seen yet (b1 has no near-dups and
      // an empty batch commits nothing — the no-version-churn contract).
      if (graft.core.TriangleIndex.latestVersion(spark, s"$root/index").isEmpty) Map.empty
      else graft.core.TriangleIndex.counts(spark, s"$root/index")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def twin(): Map[Long, Long] = DocStream.triangleMaintainBatchTwin(
      fed.toSeq.map(d => (d._1, d._3)).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    try {
      // Store-after-any-prefix ≡ recount over the pairs seen so far: the
      // exactness contract, checked after EVERY batch, not just at close.
      Seq(b1, b2, b3).foreach { b =>
        mem.addData(b: _*); q.processAllAvailable()
        fed ++= b
        assert(stored() == twin(), s"store diverged from recount after feeding ${fed.map(_._1)}")
      }
      assert(stored().get(1L).contains(1L) && stored().get(4L).contains(1L),
        s"expected the cross-batch triangle {1,3,4}: ${stored()}")
      // Replay idempotence under streaming delivery: the same documents
      // re-arrive (same ids — a checkpoint replay's view); every re-emitted
      // pair hits the store's canonical-key anti-join and folds nothing.
      val before = stored()
      mem.addData(b3: _*); q.processAllAvailable()
      assert(stored() == before, "replayed batch changed the count store")
    } finally q.stop()
  }

  test("dedup state survives a query restart: cross-restart duplicates stay dropped") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val (in, out, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    new java.io.File(in).mkdirs()
    def addFile(name: String, rows: (Long, Timestamp, String)*): Unit =
      rows.toSeq.toDF("doc_id", "ts", "text")
        .coalesce(1).write.mode("overwrite").parquet(s"$in/$name")
    def runOnce(): Unit = {
      val q = DocStream.dedupedIngest(
        spark.readStream.schema("doc_id BIGINT, ts TIMESTAMP, text STRING").parquet(s"$in/*"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      try q.processAllAvailable() finally q.stop()
    }
    addFile("b1", (1L, ts(0), "alpha beta"), (2L, ts(1), "gamma delta"))
    runOnce()
    // doc 3 duplicates doc 1's content ACROSS the stop/start boundary: only
    // the checkpointed fingerprint state can know to drop it. doc 4 is new.
    addFile("b2", (3L, ts(2), " alpha  beta "), (4L, ts(3), "epsilon zeta"))
    runOnce()
    val got = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 4L), s"got $got")
  }
}
