package graft.sink

import graft.sources.ParquetMeta
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Sink contract (K2-K4 of SURVEY.md §2.2).
  *
  * The reference collects to the driver and hands pandas frames to an
  * Athena/Iceberg client (`etl_job.py:68,78-85,104-110`) — its main
  * scalability anti-pattern. Here the write stays distributed; the trait is
  * shaped so an Iceberg `MERGE INTO` / `writeTo` implementation slots in
  * unchanged on a real catalog.
  */
sealed trait WriteMode
object WriteMode {
  /** K3 `if_exists="replace"`. */ case object Replace extends WriteMode
  /** K3 `if_exists="append"`. */ case object Append extends WriteMode
}

trait Sink {
  /** K2: keyed upsert (Iceberg `MERGE INTO t USING s ON <keys> WHEN MATCHED
    * UPDATE * WHEN NOT MATCHED INSERT *`, reference predicate
    * `t.etiqueta = s.etiqueta`, `etl_job.py:83`). Returns the row count
    * WRITTEN by the merge (K4 observability): kept + incoming for a
    * whole-table swap, touched-partition rows for a partitioned sink —
    * both implementations agree on this meaning.
    *
    * Incoming rows must be UNIQUE on `keys` — duplicate-keyed increments
    * fail loudly (see [[SinkChecks.requireUniqueKeys]]): an anti-join
    * merge would silently keep both copies forever, and Iceberg's
    * `MERGE INTO` (the implementation this trait is shaped for) rejects
    * multiple matching source rows, so the contract must too. */
  def mergeByKey(incoming: DataFrame, keys: Seq[String]): Long

  /** K3: replace or append. Returns the written row count (K4). */
  def write(incoming: DataFrame, mode: WriteMode): Long

  /** CDC apply — the MERGE-with-deletes half of a change-data-capture
    * feed (Iceberg `MERGE INTO … WHEN MATCHED AND s.op = 'D' THEN DELETE
    * WHEN MATCHED THEN UPDATE * WHEN NOT MATCHED AND s.op != 'D' THEN
    * INSERT *`). `changes` rows carry an op column ('D' deletes the key;
    * anything else upserts) and a monotone sequence column; multiple
    * changes per key are allowed and collapse to the highest-`seqCol`
    * change before applying — exactly one verdict per key, so a replayed
    * or compacted feed applies identically. (keys, seq) must be unique
    * (enforced like mergeByKey's key uniqueness: a seq tie has no defined
    * winner and would apply nondeterministically). Returns rows written. */
  def applyCdc(changes: DataFrame, keys: Seq[String],
               opCol: String = "op", seqCol: String = "seq"): Long

  /** Current store contents as a lazy frame. Both parquet implementations
    * already exposed this; it is part of the trait because merge
    * compositions (e.g. first-arrival-wins streaming ingest,
    * [[graft.streaming.DocStream.ingestToStore]]) need to consult the
    * store's keys, and an Iceberg implementation reads its table the same
    * way. Throws if the store does not exist yet. */
  def read(): DataFrame

  /** Whether the store exists yet. Part of the trait so streaming merge
    * compositions can distinguish "first batch, nothing stored" (expected
    * — start from empty) from a FAILED read of an existing store: folding
    * a transient/corrupt read into "empty" would merge the batch without
    * stored context and silently break the store's invariants (e.g. the
    * cluster store's min-id monotonicity). Callers test `exists`, read
    * unguarded, and let a real read error fail the micro-batch so the
    * checkpoint retries it. */
  def exists: Boolean
}

private[sink] object SinkChecks {
  /** Fail a merge whose increment carries duplicate keys. One bounded
    * aggregate over the INCREMENT only (never the table): the per-merge
    * cost of making key-uniqueness an enforced precondition instead of a
    * silent permanent duplicate — the same error Iceberg MERGE INTO raises
    * as "multiple source rows matched". */
  def requireUniqueKeys(incoming: DataFrame, keys: Seq[String], path: String): Unit = {
    val dup = incoming.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
      .limit(1).collect()
    require(dup.isEmpty,
      s"merge into $path: incoming rows are not unique on (${keys.mkString(", ")}) — " +
        s"e.g. ${dup.headOption.map(_.toString).getOrElse("")}; an upsert with duplicate " +
        "source keys would silently persist both copies")
  }

  /** Evaluate a merge's increment ONCE: write it to a durable parquet
    * stage beside the store, hand `body` the re-read stage, and delete the
    * stage afterwards, whether `body` succeeded or threw. The increment is
    * usually a whole job plan (the daily flagship is scans, window dedups
    * and joins); a merge that consumed it directly would re-run that plan
    * for every use — key check, anti-join, union — and, with a
    * nondeterministic plan, each use could even see different rows. The
    * re-read stage also carries its real file size, so the planner can
    * broadcast it into the anti-join against the history instead of
    * shuffling the history to meet it. Durable parquet next to the store,
    * NOT `localCheckpoint`: checkpointed blocks live unreplicated on
    * executors with truncated lineage, so at the 100 TB shape one executor
    * lost between checkpoint and use would fail the whole merge
    * unrecoverably, and the stage would have to fit executor memory+disk.
    * A stage left by a crashed merge is never read by the store, and the
    * next merge overwrites it. */
  def staged[T](spark: SparkSession, incoming: DataFrame, stage: Path)(body: DataFrame => T): T = {
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      incoming.write.mode("overwrite").parquet(stage.toString)
      body(ParquetMeta.read(spark, stage.toString))
    } finally fs.delete(stage, true)
  }
}

private[sink] object CdcOps {
  /** Collapse a change feed to one verdict per key: the highest-`seqCol`
    * row wins. (keys, seq) uniqueness is enforced first — a tie has no
    * defined winner. One window over the keys; at 100 TB this is the
    * same shuffle shape as the merge anti-join that follows it. */
  def latestChange(changes: DataFrame, keys: Seq[String], opCol: String,
                   seqCol: String, path: String): DataFrame = {
    require(changes.columns.contains(opCol) && changes.columns.contains(seqCol),
      s"CDC apply into $path: changes need '$opCol' and '$seqCol' columns")
    SinkChecks.requireUniqueKeys(changes, keys :+ seqCol, path)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(seqCol).desc)
    changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Next VERSIONED store state: the store keeps op + seq on every row —
    * deletes persist as TOMBSTONES — and each key resolves to its
    * highest-seq row across (stored row, incoming latest change), store
    * winning seq ties so a replayed batch is a no-op. Tombstones are the
    * point: [[Sink.applyCdc]] applies one well-ordered feed, but under
    * at-least-once delivery with out-of-order batches a naive apply loses
    * the delete's sequence number with the deleted row, and any stale
    * pre-delete update that arrives later silently resurrects the key.
    * Keeping the delete as a row with its seq makes application
    * commutative over batch arrival order (per-key argmax is
    * order-insensitive) and idempotent under replay. */
  def versionedNext(store: Option[DataFrame], changes: DataFrame,
                    keys: Seq[String], opCol: String, seqCol: String,
                    path: String): DataFrame = {
    val latest = latestChange(changes, keys, opCol, seqCol, path)
    val all = store match {
      case None => latest.withColumn("__st", lit(0))
      case Some(st) => st.withColumn("__st", lit(1))
        .unionByName(latest.withColumn("__st", lit(0)))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(seqCol).desc, col("__st").desc)
    all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__st")
  }
}

/** Offline parquet-backed sink: merge = stage the increment, anti-join
  * existing on the keys, union the staged increment, atomically swap
  * directories. Distributed end to end (no driver collect). The increment
  * is evaluated once, into `path__graft_inc` ([[SinkChecks.staged]]); the
  * key check, the anti-join's key side and the union all scan that stage.
  * The stage's file size lets the planner broadcast its keys into the
  * anti-join when the increment is small, so the history is scanned but
  * not shuffled; a large increment falls back to a shuffle join on the
  * keys. The first merge into an empty sink publishes the stage itself.
  */
final class ParquetSink(spark: SparkSession, path: String) extends Sink {

  private def fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def stage = new Path(path + "__graft_inc")

  /** A swap interrupted between its two renames leaves the data ONLY at
    * the backup path; restore it before any read/exists decision so the
    * history is never silently mistaken for an empty sink (which would let
    * the next merge rebuild the table from one increment). */
  private def recoverIfNeeded(): Unit = {
    val p = new Path(path)
    val backup = new Path(path + "__graft_old")
    if (!fs.exists(p) && fs.exists(backup) && !fs.rename(backup, p))
      throw new java.io.IOException(
        s"sink recovery: failed to restore $backup to $p")
  }

  def exists: Boolean = { recoverIfNeeded(); fs.exists(new Path(path)) }

  def read(): DataFrame = { recoverIfNeeded(); ParquetMeta.read(spark, path) }

  /** Write `df` to a temp dir next to `path`, then swap — required because
    * the merge plan reads the same files it replaces. */
  private def writeSwap(df: DataFrame): Long = {
    val obs = Observation()
    val tmp = new Path(path + "__graft_tmp")
    df.observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(tmp.toString)
    swapIn(tmp)
    obs.get("rows").asInstanceOf[Long]
  }

  /** Publish the fully-written dir `src` (the swap temp, or a first
    * merge's stage) as `path`. Swap order is rename-away-then-rename-in
    * (not delete-then-rename): every crash window leaves either the
    * original or the fully-written `src` on disk, never neither
    * ([[recoverIfNeeded]] heals the only-backup window). A merge's stage
    * `path__graft_inc` is never part of these windows: it is written and
    * key-checked before the swap starts, and a crash that leaves it behind
    * leaves the store itself untouched (the next merge overwrites the
    * stage). Hadoop `rename` reports failure by returning false, not
    * throwing — each step is checked so a failed publish can never reach
    * the backup delete below it. */
  private def swapIn(src: Path): Unit = {
    val p = new Path(path)
    val backup = new Path(path + "__graft_old")
    if (fs.exists(backup)) fs.delete(backup, true)
    if (fs.exists(p) && !fs.rename(p, backup))
      throw new java.io.IOException(s"sink swap: failed to move $p aside to $backup")
    if (!fs.rename(src, p))
      throw new java.io.IOException(
        s"sink swap: failed to publish $src to $p (original retained at $backup)")
    fs.delete(backup, true)
  }

  override def mergeByKey(incoming: DataFrame, keys: Seq[String]): Long = {
    val rows = Observation()
    SinkChecks.staged(spark, incoming.observe(rows, count(lit(1)).as("rows")), stage) { inc =>
      SinkChecks.requireUniqueKeys(inc, keys, path)
      if (exists)
        writeSwap(read().join(inc.select(keys.map(col): _*), keys, "left_anti").unionByName(inc))
      else {
        // Nothing to merge with: the stage already is the new table.
        swapIn(stage)
        rows.get("rows").asInstanceOf[Long]
      }
    }
  }

  override def write(incoming: DataFrame, mode: WriteMode): Long = mode match {
    case WriteMode.Replace => writeSwap(incoming)
    case WriteMode.Append =>
      recoverIfNeeded()
      val obs = Observation()
      incoming.observe(obs, count(lit(1)).as("rows"))
        .write.mode("append").parquet(path)
      obs.get("rows").asInstanceOf[Long]
  }

  override def applyCdc(changes: DataFrame, keys: Seq[String],
                        opCol: String, seqCol: String): Long =
    SinkChecks.staged(spark, changes, stage) { feed =>
      val latest = CdcOps.latestChange(feed, keys, opCol, seqCol, path)
      val upserts = latest.filter(col(opCol) =!= "D").drop(opCol, seqCol)
      // Deletes need no branch of their own: anti-joining the store on EVERY
      // latest key drops both updated and deleted rows, and only the
      // non-delete verdicts come back in via the union.
      val merged =
        if (!exists) upserts
        else read().join(latest.select(keys.map(col): _*), keys, "left_anti")
          .unionByName(upserts)
      writeSwap(merged)
    }

  /** Versioned CDC apply (see [[CdcOps.versionedNext]]): the store retains
    * op + seq, deletes persist as tombstones, and batches may arrive out
    * of order or more than once — per-key highest-seq wins regardless, so
    * the final state is a pure function of the feed's contents, not its
    * delivery schedule. This is the form a streaming `foreachBatch`
    * consumer needs under at-least-once delivery
    * ([[graft.streaming.DocStream.cdcToStore]]); live rows are
    * `read().filter(op != 'D')`. Tombstone retention is the caller's
    * compaction policy, exactly like log-structured stores. */
  def applyCdcVersioned(changes: DataFrame, keys: Seq[String],
                        opCol: String = "op", seqCol: String = "seq"): Long =
    SinkChecks.staged(spark, changes, stage) { feed =>
      writeSwap(CdcOps.versionedNext(
        if (exists) Some(read()) else None, feed, keys, opCol, seqCol, path))
    }
}

/** Hive-partitioned parquet sink where Replace is PARTITION-scoped: Spark's
  * dynamic partition overwrite rewrites ONLY the partitions present in the
  * incoming rows, so re-running year=2024 cannot drop year=2023 — the
  * reference's replace-one-year-then-append sequencing
  * (`etl_job.py:104-110`) made idempotent per partition instead of per
  * run-ordering. This is the 100 TB shape: a single-year refresh moves one
  * partition's bytes, never the table's.
  *
  * Trade-off vs [[ParquetSink]]'s whole-directory swap: the per-partition
  * commit (stage under the output, then per touched partition delete-old +
  * move-in) has a short non-atomic window per partition, but a crash can
  * only affect partitions the run was already rewriting — untouched years
  * are never at risk, which is the property that matters for partial
  * re-runs. [[mergeByKey]] is partition-local by construction: only
  * partitions present in `incoming` are read, anti-joined, and rewritten
  * (a merge key can never move across partitions without a duplicate —
  * callers must include the partition value in the key's identity).
  */
final class PartitionedParquetSink(spark: SparkSession, path: String,
                                   val partitionCol: String) extends Sink {

  private def fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def stage = new Path(path + "__graft_inc")
  def exists: Boolean = fs.exists(new Path(path))

  def read(): DataFrame = ParquetMeta.read(spark, path)

  private def requirePartitionCol(df: DataFrame): Unit =
    require(df.columns.contains(partitionCol),
      s"partitioned sink $path requires column '$partitionCol' in the incoming rows")

  private def countedWrite(incoming: DataFrame)(w: DataFrame => Unit): Long = {
    val obs = Observation()
    w(incoming.observe(obs, count(lit(1)).as("rows")))
    obs.get("rows").asInstanceOf[Long]
  }

  override def write(incoming: DataFrame, mode: WriteMode): Long = {
    requirePartitionCol(incoming)
    countedWrite(incoming) { o =>
      val base = o.write.partitionBy(partitionCol)
      mode match {
        case WriteMode.Replace =>
          base.mode("overwrite")
            // per-write override of spark.sql.sources.partitionOverwriteMode:
            // static mode would wipe every partition, dynamic touches only
            // those present in `incoming`.
            .option("partitionOverwriteMode", "dynamic")
            .parquet(path)
        case WriteMode.Append => base.mode("append").parquet(path)
      }
    }
  }

  override def mergeByKey(incoming: DataFrame, keys: Seq[String]): Long = {
    requirePartitionCol(incoming)
    SinkChecks.staged(spark, incoming, stage) { inc =>
      SinkChecks.requireUniqueKeys(inc, keys, path)
      if (!exists) write(inc, WriteMode.Replace)
      else rewriteTouched(inc.select(partitionCol).distinct(),
        inc.select(keys.map(col): _*), keys, inc)(_ => ())
    }
  }

  /** Partition-local CDC apply: like [[mergeByKey]], only partitions the
    * change feed touches are read, rewritten, and (when deletes empty one
    * out) dropped — dynamic overwrite never touches a partition with zero
    * staged rows, so a fully-deleted partition must be removed explicitly
    * or its stale rows would serve forever (same failure mode
    * [[deletePartition]] exists for). The partition-values collect is
    * bounded by partition cardinality, the same budget deletePartition
    * and the touched-partition semi join already spend. */
  override def applyCdc(changes: DataFrame, keys: Seq[String],
                        opCol: String, seqCol: String): Long = {
    requirePartitionCol(changes)
    SinkChecks.staged(spark, changes, stage) { feed =>
      val latest = CdcOps.latestChange(feed, keys, opCol, seqCol, path)
      val upserts = latest.filter(col(opCol) =!= "D").drop(opCol, seqCol)
      if (!exists) write(upserts, WriteMode.Replace)
      else {
        val touched = latest.select(partitionCol).distinct()
        rewriteTouched(touched, latest.select(keys.map(col): _*), keys, upserts) { merged =>
          val remaining = merged.select(partitionCol).distinct()
            .collect().map(_.get(0)).toSet
          touched.collect().map(_.get(0))
            .filterNot(remaining).foreach(deletePartition)
        }
      }
    }
  }

  /** The partition-local rewrite behind [[mergeByKey]] and [[applyCdc]]:
    * read only the `touched` partitions (the semi join on the partition
    * values prunes the scan), keep their rows whose keys are not in
    * `replaced`, add `added`, and dynamic-overwrite just those partitions.
    * The merged rows are staged first ([[SinkChecks.staged]]) because the
    * dynamic-overwrite plan must not read the path it rewrites (Spark's
    * self-overwrite guard). The stage is written FLAT (partition col as a
    * data column): staging partitionBy would re-read the value through
    * directory-name type inference, which turns a string partition value
    * "2023" into an int and silently changes the output schema.
    * `afterOverwrite` sees the stage before it is deleted. The count is
    * observed by the staging write, so the return value means "rows
    * written", same as ParquetSink's swap count. */
  private def rewriteTouched(touched: DataFrame, replaced: DataFrame, keys: Seq[String],
                             added: DataFrame)(afterOverwrite: DataFrame => Unit): Long = {
    val kept = read()
      .join(broadcast(touched), Seq(partitionCol), "left_semi")
      .join(replaced, keys, "left_anti")
    countedWrite(kept.unionByName(added)) { o =>
      SinkChecks.staged(spark, o, new Path(path + "__graft_merge_tmp")) { merged =>
        merged.write.partitionBy(partitionCol)
          .mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .parquet(path)
        afterOverwrite(merged)
      }
    }
  }

  /** Drop one partition's directory (`partitionCol=value`) outright —
    * the "this year's refresh came back EMPTY" path: dynamic overwrite
    * with zero rows touches nothing, so a year corrected to empty would
    * otherwise serve its stale rows forever. Returns true if the
    * partition existed. A table whose every partition has been deleted
    * has no files left to infer a schema from — like any empty
    * parquet directory, reading it is the caller's error. */
  def deletePartition(value: Any): Boolean = {
    // Spark escapes partition values in directory names (spaces, ':', '%',
    // …); build the name through the same escaper or a string value like
    // "a b" would never match its on-disk "a%20b" directory and the stale
    // partition would silently keep serving.
    val escaped = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(String.valueOf(value))
    val dir = new Path(path, s"$partitionCol=$escaped")
    fs.exists(dir) && fs.delete(dir, true)
  }
}
