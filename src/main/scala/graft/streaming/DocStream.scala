package graft.streaming

import graft.llmdata.{DocDedup, TextPrimitives}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming ingest for a document corpus: continuous exact dedup at crawl
  * time, so duplicates are dropped before they ever land in the corpus
  * store (vs. the batch [[graft.llmdata.DocDedup]] passes that clean an
  * already-landed corpus).
  *
  * The dedup key is the order-sensitive polynomial content fingerprint
  * (same math as [[graft.llmdata.TextAnalysis.fingerprint]], shared via
  * [[withFingerprint]]) rather than the raw text: the state store then
  * keys on a fixed-width BIGINT instead of arbitrary-length documents —
  * at 100 TB/day that is the difference between a state store of hashes
  * and one holding the corpus itself.
  *
  * Two shapes share that key. [[dedupedIngest]] is the standalone
  * streaming operator: its state is bounded by
  * `dropDuplicatesWithinWatermark` — a fingerprint is remembered only
  * until the watermark passes its event time + the watermark delay, so
  * state size ≈ ingest rate × watermark horizon, and events behind the
  * watermark are dropped as late. The store-backed ingests
  * ([[ingestToStore]], [[ingestToSnapshots]]) keep NO streaming state:
  * the store's admission anti-join is their sole dedup gate, so their
  * dedup is exactly-once for the store's whole life (Iceberg MERGE in
  * production), late documents are admitted when their text is new, and
  * the query runs no state store, no watermark and no no-data batch.
  */
object DocStream {

  /** Second-fingerprint parameters — an independent multiplier/modulus so
    * pairing (fingerprint, fingerprint2) gives a ~2^60 joint key space: a
    * single mod-1e9+7 key would birthday-collide within a large watermark
    * horizon (~37k docs for 50% odds) and silently DROP distinct documents
    * as duplicates. */
  val Fp2Mult = 131L
  val Fp2Mod = 1000000009L

  /** Adds the BIGINT content fingerprint column (rolling polynomial hash
    * over token hashes — order-sensitive, whitespace-insensitive). Works on
    * batch and streaming frames alike; pure per-row projection. Delegates
    * to the canonical tokenizer + hash ([[TextPrimitives.tokens]],
    * [[graft.llmdata.TextAnalysis.fingerprintOf]]) so the streaming dedup
    * key can never drift from the batch fingerprint or its oracle. */
  def withFingerprint(docs: DataFrame): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    docs
      .withColumn("__w", TextPrimitives.tokens(col("text")))
      .withColumn("__th", TextPrimitives.sparkPolyHashArray("__w"))
      .withColumn("fingerprint", graft.llmdata.TextAnalysis.fingerprintOf("__th"))
      .withColumn("fingerprint2",
        graft.llmdata.TextAnalysis.fingerprintOf("__th", Fp2Mult, Fp2Mod))
      .drop("__w", "__th")
  }

  /** Streaming exact dedup: emit only the first-arriving copy of each
    * fingerprint within the watermark horizon. Input schema:
    * (doc_id BIGINT, ts TIMESTAMP, text STRING) as a streaming frame. */
  def dedupedIngest(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    withFingerprint(docs)
      .withColumn("ts_tz", col("ts").cast("timestamp"))
      .withWatermark("ts_tz", watermark)
      .dropDuplicatesWithinWatermark("fingerprint", "fingerprint2")
      .select(col("doc_id"), col("ts"), col("text"), col("fingerprint"))

  /** Batch twin of [[dedupedIngest]] over a bounded corpus where `doc_id`
    * is the arrival order: keep the first-arriving copy per fingerprint
    * (min doc_id — since only the id survives, the aggregate form needs one
    * corpus scan and one partial+final shuffle, vs two scans for a window
    * argmax joined with counts), plus how many copies it absorbed.
    * Oracle-checked (`st_dedup`). */
  def dedupBatchTwin(docs: DataFrame): DataFrame =
    withFingerprint(docs)
      .groupBy("fingerprint", "fingerprint2")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "fingerprint", "fingerprint2", "n_copies")

  /** End-to-end streaming ingest INTO the corpus store: an
    * anti-join-gated APPEND via `foreachBatch` — the streaming twin of the
    * reference's daily MERGE INTO job (`etl_job.py:78-85`), with the store
    * itself as the sole dedup authority. Each micro-batch keeps its
    * smallest doc_id per fingerprint, then anti-joins the store's
    * fingerprints away: first arrival wins whenever the copies arrive.
    * There is no streaming state to duplicate that decision —
    * `foreachBatch` commits synchronously, so by batch N+1 every
    * fingerprint batch N admitted is already in the store — hence no
    * watermark: a LATE document is admitted if its text is new and
    * rejected if its text is stored, like any other. Micro-batch replays
    * after a crash re-admit nothing — no-ops, so the store sees
    * effectively-once ingest on at-least-once delivery.
    *
    * Returns the started query; the caller owns `awaitTermination`/`stop`.
    * Scale: each micro-batch is one anti-join against the store's keys
    * plus an O(batch) parquet append — per-batch write cost tracks the
    * BATCH, never the store (the former keyed-merge shape re-read and
    * rewrote the whole store per trigger). */
  def ingestToStore(docs: DataFrame, sink: graft.sink.Sink, checkpoint: String) =
    admitBatches(docs, checkpoint) { once =>
      // `exists` (not a swallowed Try): an absent store is the expected
      // first batch, but a FAILED read of an existing store must fail the
      // micro-batch so the checkpoint retries — treating it as empty
      // would re-insert stored fingerprints and break first-arrival-wins.
      val fresh =
        if (sink.exists)
          once.join(sink.read().select("fingerprint"), Seq("fingerprint"), "left_anti")
        else once
      // APPEND, not mergeByKey (r15 optimization, guide §1.2 "remove
      // passes"): mergeByKey alone would update on match (last-wins — the
      // reference's MERGE semantic, right for facts, wrong for dedup
      // provenance), and the anti-join above already guarantees fresh's
      // keys are disjoint from the store's, so the keyed merge degenerates
      // to store ∪ fresh — but mergeByKey pays a SECOND store read, a
      // key-uniqueness probe job (top1PerKey already constructs
      // uniqueness), and an O(store) rewrite-and-swap EVERY micro-batch
      // (even an all-duplicates replay batch rewrote the whole store for
      // zero admissions). A parquet append moves O(batch) bytes instead —
      // the difference between per-batch cost tracking the STORE and
      // tracking the BATCH, which is what makes the shape deployable on a
      // continuously-growing corpus. Replay safety is unchanged (the
      // guarantee was always the anti-join, never the merge): a
      // checkpoint-replayed batch re-admits nothing, and a crash that
      // half-commits an append self-heals — the visible rows' keys filter
      // out on replay, the lost ones re-admit and re-append.
      sink.write(fresh, graft.sink.WriteMode.Append): Unit
    }

  /** Streaming ingest → SNAPSHOT lineage: like [[ingestToStore]] but the
    * durable side is a [[graft.sink.SnapshotStore]] — every micro-batch
    * that admits rows commits a new immutable version, so the corpus's
    * ingestion history stays time-travelable (what did training read last
    * Tuesday?) instead of being overwritten in place. Same
    * first-arrival-wins admission with the same sole gate: the smallest
    * doc_id per fingerprint within the batch, then an anti-join against
    * the CURRENT head — no streaming state, no watermark, so late
    * documents with a new text are admitted and re-arrivals of a stored
    * text never re-insert, however late. Empty admissions commit nothing —
    * idle stream, no version churn. At-least-once caveat, documented
    * rather than hidden: a crash-replayed batch re-admits zero rows
    * (they're in the head already) and thus creates no version, EXCEPT
    * when the crash hit between admission and checkpoint — that replay
    * creates one duplicate-content version, which is content-safe and
    * visible in the lineage. */
  def ingestToSnapshots(docs: DataFrame, store: graft.sink.SnapshotStore, checkpoint: String) =
    admitBatches(docs, checkpoint) { once =>
      val fresh = store.latestVersion
        .map(v => once.join(store.read(v).select("fingerprint"), Seq("fingerprint"), "left_anti"))
        .getOrElse(once)
      // commitAppend, not commit(head ∪ fresh) (r16 optimization,
      // completing r15's O(batch) ingest work): the admission anti-join
      // above already made fresh's keys disjoint from the head, so the
      // new version's CONTENT is exactly head ∪ fresh either way — but
      // the full-copy commit rewrote everything ever ingested per
      // committing trigger (the last O(history) cost on the streaming
      // path), where the delta commit writes the BATCH plus a manifest
      // and read(v) reconstructs the union behind the same API. Time
      // travel, diff and expiry are unchanged (expire materializes
      // survivors that inherit expiring dirs — see SnapshotStore). The
      // admission plan runs once, inside the commit's write, which counts
      // its rows and publishes nothing for an empty admission.
      store.commitAppend(fresh): Unit
    }

  /** The store-backed ingests' shared query: fingerprint every document
    * and hand each micro-batch, reduced to its smallest doc_id per
    * fingerprint (deterministic, whatever the batch's row order), to
    * `admit`, which gates it against the store. Stateless: no watermark,
    * no state store, so a trigger runs exactly one batch. */
  private def admitBatches(docs: DataFrame, checkpoint: String)(admit: DataFrame => Unit) =
    withFingerprint(docs).select("doc_id", "ts", "text", "fingerprint")
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        admit(graft.core.Dedup.top1PerKey(batch.toDF(), Seq("fingerprint"), Seq(col("doc_id").asc)))
      }
      .start()

  /** Streaming CDC feed → versioned store: each micro-batch applies
    * through [[graft.sink.ParquetSink.applyCdcVersioned]], so the store
    * converges to the same state under every delivery schedule the
    * at-least-once contract allows — batches replayed after a crash
    * (checkpoint replays the same offsets), batches arriving out of
    * order across restarts, stale updates racing a delete (the tombstone
    * wins by sequence number, not by arrival time). No streaming state at
    * all: the STORE carries the versions, so the query restarts from any
    * checkpoint without state-store recovery — the property that makes
    * this shape operable at 100 TB (state stores that mirror the sink are
    * the thing to avoid).
    *
    * The within-batch (keys, seq) uniqueness check still applies per
    * micro-batch; across batches duplicates are expected and resolved by
    * the versioned merge. */
  def cdcToStore(changes: DataFrame, sink: graft.sink.ParquetSink,
                 keys: Seq[String], checkpoint: String) =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) sink.applyCdcVersioned(batch.toDF(), keys): Unit
      }
      .start()

  // ---- Streaming NEAR-dup (MinHash-LSH over custom keyed state) ----------

  /** One LSH band row bound for a bucket's state group. `ts` is the
    * watermarked event-time column itself — the streaming analyzer requires
    * the watermark attribute to SURVIVE into the stateful operator's input
    * (projecting it to epoch millis earlier would fail analysis). */
  case class BandRow(band: Int, bandKey: String, docId: Long, sig: Seq[Long],
                     ts: java.sql.Timestamp)

  /** A near-dup hit: `idA` arrived before `idB` (idA < idB by arrival id).
    * `estJaccard` is the MinHash agreement estimate, NOT the exact shingle
    * Jaccard — streaming state holds 16-component signatures, never shingle
    * arrays (state stays fixed-width per document; the batch passes own the
    * exact verify). The same pair can surface from more than one matching
    * band (`band` says which); consumers dedup by (idA, idB) — the usual
    * downstream (cluster-label union) is idempotent to repeats anyway. */
  case class NearDupHit(idA: Long, idB: Long, band: Int, estJaccard: Double)

  /** Per-bucket state: signatures of the documents seen in this (band,
    * bandKey) bucket within the watermark horizon. */
  case class BucketState(entries: List[(Long, Seq[Long], Long)])

  private val SigLen = DocDedup.MinHashAB.length

  /** Streaming MinHash-LSH near-duplicate detection: every arriving
    * document is compared against the previously-arrived corpus —
    * *bucket-locally*, exactly like the batch
    * [[graft.llmdata.DocDedup.minhashLshPairs]]: a new document meets only
    * the documents sharing one of its 4 LSH band keys, never the whole
    * stream. Custom keyed state via `flatMapGroupsWithState` (the brief's
    * "novel state" streaming path): key = (band, band_key); state = the
    * bucket's (doc_id, signature, event-time) list, evicted past the
    * watermark horizon, so state size ≈ ingest rate × horizon × 4 bands —
    * never the corpus.
    *
    * Input schema: (doc_id BIGINT, ts TIMESTAMP, text STRING), streaming.
    * Within a micro-batch, documents enter a bucket in `doc_id` order, so
    * output is deterministic for a given batch decomposition. */
  def lshNearDupStream(docs: DataFrame, k: Int = 3, threshold: Double = 0.5,
                       watermark: String = "1 hour"): Dataset[NearDupHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.functions.VectorExprs.register(spark)
    val bands = docs
      .withColumn("ts_tz", col("ts").cast("timestamp"))
      .withWatermark("ts_tz", watermark)
      .withColumn("__words", TextPrimitives.tokens(col("text")))
      .withColumn("__sh", expr(TextPrimitives.sparkShingles("__words", "text", k)))
      .withColumn("__h", TextPrimitives.sparkPolyHashArray("__sh"))
      .withColumn("__sig", expr(DocDedup.sparkSignature("__h")))
      .select(col("doc_id"), col("ts_tz"),
        posexplode(expr(DocDedup.bandExplodeSql("__sig"))), col("__sig"))
      .select(col("pos").cast("int").as("band"), col("col").as("bandKey"),
        col("doc_id").as("docId"), col("__sig").as("sig"), col("ts_tz").as("ts"))
      .as[BandRow]
    bands
      .groupByKey(r => (r.band, r.bandKey))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        compareWithinBucket(threshold))
  }

  /** Bucket-state transition: compare each arriving signature against the
    * bucket's retained ones (oldest state first, then earlier in-batch
    * arrivals), emit pairs at or above the agreement threshold, append, and
    * evict/expire on watermark. */
  private def compareWithinBucket(threshold: Double)(
      key: (Int, String), rows: Iterator[BandRow],
      state: GroupState[BucketState]): Iterator[NearDupHit] = {
    val horizonMs = state.getCurrentWatermarkMs()
    if (!state.exists && !rows.hasNext) return Iterator.empty
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    var entries = state.getOption.map(_.entries).getOrElse(Nil)
      .filter(_._3 >= horizonMs)
    val hits = List.newBuilder[NearDupHit]
    rows.toSeq.sortBy(_.docId).foreach { r =>
      entries.foreach { case (id, sig, _) =>
        if (id != r.docId) {
          val agree = sig.iterator.zip(r.sig.iterator).count { case (a, b) => a == b }
          val est = agree.toDouble / SigLen
          if (est >= threshold)
            hits += NearDupHit(math.min(id, r.docId), math.max(id, r.docId), key._1, est)
        }
      }
      entries = (r.docId, r.sig, r.ts.getTime) :: entries
    }
    if (entries.isEmpty) state.remove()
    else {
      state.update(BucketState(entries))
      // expire the bucket once the watermark passes its newest document
      state.setTimeoutTimestamp(entries.map(_._3).max + 1)
    }
    hits.result().iterator
  }

  /** Batch twin of [[lshNearDupStream]] over a bounded corpus (`st_neardup`
    * oracle row): the same bucket-local candidate generation and the same
    * 16-component agreement estimate — so the streaming output (distinct
    * pairs, any arrival order within one batch) must equal this frame's
    * (id_a, id_b) set. `n/16` is exact in binary, so the DuckDB hash
    * compare is safe without rounding. */
  def lshNearDupEstBatchTwin(docs: DataFrame, k: Int = 3, threshold: Double = 0.5): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    val sig = docs
      .withColumn("__words", TextPrimitives.tokens(col("text")))
      .withColumn("__sh", expr(TextPrimitives.sparkShingles("__words", "text", k)))
      .withColumn("__h", TextPrimitives.sparkPolyHashArray("__sh"))
      .withColumn("__sig", expr(DocDedup.sparkSignature("__h")))
      .select(col("doc_id"), col("__sig"))
      .transform(graft.core.CacheScope.persisted)
    val bands = sig.select(col("doc_id"), posexplode(expr(DocDedup.bandExplodeSql("__sig"))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_key"))
    val candidates = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    candidates
      .join(sig.select(col("doc_id").as("id_a"), col("__sig").as("sig_a")), "id_a")
      .join(sig.select(col("doc_id").as("id_b"), col("__sig").as("sig_b")), "id_b")
      // CAST before the divide: a `16.0` literal would parse as DECIMAL and
      // silently turn the whole column DECIMAL (the oracle emits DOUBLE)
      .withColumn("est_jaccard",
        expr(s"CAST(aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v) AS DOUBLE) / $SigLen"))
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** Streaming dedup-CLUSTER maintenance: the third leg of the component
    * lifecycle (batch build = `c_cc`, incremental append = `c_cc_incr`,
    * and this — continuous). [[lshNearDupStream]] emits exactly the
    * ≥ 1-new-endpoint pairs per micro-batch (bucket state compares each
    * arrival against retained docs; old×old is never re-compared), which
    * is precisely [[graft.core.StarComponents.mergeComponents]]'s input
    * contract — so each batch folds its pairs into the STORED labels and
    * upserts only the rows whose label changed (plus new nodes). Component
    * merging is associative, so the store after any prefix of batches
    * equals a batch rebuild over the pairs seen so far — arrival order and
    * batch boundaries can never change the final labels (asserted against
    * the batch twin in the spec; the `st_clusters` oracle row checks the
    * twin's math against the true recursive closure in DuckDB).
    *
    * Scale: per batch, two label-store equi-joins (the store is the big
    * side, shuffled on doc_id) + star contraction over the batch's
    * CONTRACTED pair graph — cost follows the batch, not the corpus; the
    * keyed merge writes only the delta. Clusters can merge as evidence
    * arrives but never split — monotone refinement, the property that
    * makes continuous maintenance sound. */
  def clusterMaintain(docs: DataFrame, sink: graft.sink.Sink,
                      checkpoint: String, watermark: String = "1 hour") =
    lshNearDupStream(docs, watermark = watermark)
      .toDF()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val pairs = batch.select(col("idA").as("id_a"), col("idB").as("id_b")).distinct()
        // `exists` (not a swallowed Try): only a genuinely absent store
        // starts from empty labels. A transient/corrupt read of an EXISTING
        // store must fail the micro-batch (the checkpoint retries it) —
        // merging against empty labels would relabel docs away from their
        // component minimum and break the store's never-split monotonicity.
        val labels0 =
          if (sink.exists) sink.read().select("doc_id", "cluster")
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, cluster BIGINT"))
        val merged = graft.core.StarComponents.mergeComponents(labels0, pairs)
        // Upsert only the delta: new nodes and nodes whose component
        // minimum changed. Replays after a crash re-merge the same rows —
        // same labels, so the merge is an idempotent no-op (effectively
        // once on at-least-once delivery, the ingestToStore argument).
        val delta = merged
          .join(labels0.withColumnRenamed("cluster", "__old"), Seq("doc_id"), "left")
          .filter(col("__old").isNull || col("__old") =!= col("cluster"))
          .select("doc_id", "cluster")
        sink.mergeByKey(delta, Seq("doc_id")): Unit
      }
      .start()

  /** Batch twin of [[clusterMaintain]]'s end state (`st_clusters` oracle
    * row): components of the est-Jaccard pair graph the stream would have
    * emitted over the same bounded corpus. */
  def clusterMaintainBatchTwin(docs: DataFrame): DataFrame =
    graft.core.StarComponents.components(
      lshNearDupEstBatchTwin(docs).select("id_a", "id_b"))

  /** Streaming TRIANGLE-COUNT maintenance: the streaming leg of the
    * density family, completing its lifecycle the way `st_clusters`
    * completed the component family's (batch build = `x_triangles`,
    * stored-index append = `x_triangles_idx`, and this — continuous).
    * [[lshNearDupStream]] emits exactly the ≥ 1-new-endpoint pairs per
    * micro-batch (bucket state compares arrivals against retained docs;
    * old×old never re-compares) — precisely
    * [[graft.core.GraphMetrics.mergeTriangleCounts]]'s input contract —
    * so each batch folds into the stored counts via
    * [[graft.core.TriangleIndex.append]], paying wedge work proportional
    * to the batch, never the corpus.
    *
    * Exactness, not monotone refinement: unlike cluster labels (which
    * only ever merge), per-node triangle counts GROW by the exact delta
    * of triangles the batch closes — `mergeTriangleCounts`' unique-pivot
    * decomposition makes the store after ANY prefix of batches
    * bit-identical to a full recount over the pairs seen so far,
    * regardless of batch boundaries or arrival order (spec-pinned; the
    * `st_triangles` oracle row checks the batch twin's math in DuckDB).
    *
    * Crash safety rides the index's atomic two-frame versioned commit:
    * counts and edges advance together or not at all, and a replayed
    * batch's pairs are absorbed by the store's canonical-key anti-join
    * (effectively-once on at-least-once delivery — the ingestToStore
    * argument, with the invariant `counts == triangleCounts(edges)` as
    * the thing the atomicity protects). Empty batches (no near-dup pairs
    * this trigger) commit nothing — idle stream, no version churn. */
  def triangleMaintain(docs: DataFrame, indexRoot: String,
                       checkpoint: String, watermark: String = "1 hour") =
    lshNearDupStream(docs, watermark = watermark)
      .toDF()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val pairs = batch.select(col("idA").as("id_a"), col("idB").as("id_b")).distinct()
        if (!pairs.isEmpty) {
          graft.core.TriangleIndex.latestVersion(spark, indexRoot) match {
            case None => graft.core.TriangleIndex.build(pairs, indexRoot): Unit
            case Some(_) => graft.core.TriangleIndex.append(pairs, indexRoot): Unit
          }
        }
      }
      .start()

  /** Batch twin of [[triangleMaintain]]'s end state (`st_triangles`
    * oracle row): exact per-node triangle counts over the est-Jaccard
    * pair graph the stream would have emitted over the same bounded
    * corpus — the same full-recount the store must land on after any
    * batch decomposition. */
  def triangleMaintainBatchTwin(docs: DataFrame): DataFrame =
    graft.core.GraphMetrics.triangleCounts(
      lshNearDupEstBatchTwin(docs).select("id_a", "id_b"))
}
