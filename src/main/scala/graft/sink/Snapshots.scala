package graft.sink

import graft.sources.ParquetMeta
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned snapshot store with time travel on plain parquet — the
  * SEMANTICS half of what a table format (Iceberg/Delta) provides:
  * immutable numbered snapshots, atomic publish, reads pinned to a
  * version, merge-as-new-version, and snapshot expiry. (The PERFORMANCE
  * half — manifests, column stats, file skipping — is covered elsewhere
  * by [[Layouts.compact]], [[Layouts.zorderCluster]] and
  * [[graft.sources.TableStats]]; the runtime jar for a real catalog
  * binding can't exist in this environment, so the testable behaviors
  * live here, shaped for an Iceberg-backed drop-in.)
  *
  * Layout: `root/v{N}/` parquet directories. A commit writes to a temp
  * dir and publishes with ONE directory rename — readers either see the
  * fully-written `v{N}` or nothing; a crash before the rename leaves only
  * the temp dir, which the next commit clears (or a [[commitMerge]]
  * stage beside the root, which the next merge clears). Unlike the mutable
  * [[ParquetSink]] there is no swap dance: a merge reads the PREVIOUS
  * version's files and writes a NEW directory, so the plan never replaces
  * what it is reading. Single writer assumed (as all sinks here); version
  * discovery is one directory listing.
  */
final class SnapshotStore(spark: SparkSession, root: String) {

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val VDir = "v(\\d+)".r

  /** Delta-append manifest: a version committed by [[commitAppend]] holds
    * only its OWN new rows as parquet plus this underscore-prefixed file
    * naming every inherited version dir (flat, already resolved — reads
    * never recurse). Underscore files are invisible to parquet readers,
    * so full-copy versions and pre-manifest stores read exactly as
    * before. */
  private val ManifestFile = "_graft_parents"

  /** The inherited-dir list of `version`, if it was delta-committed. */
  private def manifest(version: Long): Option[Seq[String]] = {
    val p = new Path(root, s"v$version/$ManifestFile")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val txt = new String(
          in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        Some(txt.split("\n").map(_.trim).filter(_.nonEmpty).toSeq)
      } finally in.close()
    }
  }

  /** Every dir that makes up `version`'s content: inherited dirs (delta
    * commits) plus its own. Flat by construction — a manifest stores the
    * RESOLVED list, so chains of appends never recurse. */
  private def resolvedDirs(version: Long): Seq[String] =
    manifest(version).getOrElse(Seq.empty) :+ s"v$version"

  /** Committed versions, ascending. One listStatus — metadata cost is
    * independent of data size. */
  def versions: Seq[Long] = {
    val r = new Path(root)
    if (!fs.exists(r)) Seq.empty
    else fs.listStatus(r).toSeq.flatMap { s =>
      s.getPath.getName match {
        case VDir(n) if s.isDirectory => Some(n.toLong)
        case _ => None
      }
    }.sorted
  }

  def latestVersion: Option[Long] = versions.lastOption

  /** Time travel: read snapshot `version` exactly as committed. Expired
    * or never-written versions fail loudly (a silent empty frame would
    * let downstream logic mistake history loss for an empty table). */
  def read(version: Long): DataFrame = {
    val have = versions
    require(have.contains(version),
      s"snapshot v$version does not exist under $root (have: ${have.mkString(", ")})")
    val dirs = resolvedDirs(version).map(n => new Path(root, n).toString)
    // One multi-root parquet relation, not a union-per-dir plan: the scan
    // stays a single file-source node however long the append chain, so
    // plan size is O(1) in versions (the listing is O(dirs)). The schema is
    // read from one footer on the driver, so building the read runs no job.
    ParquetMeta.read(spark, dirs: _*)
  }

  def readLatest(): DataFrame = latestVersion match {
    case Some(v) => read(v)
    case None    => throw new IllegalStateException(s"no snapshots under $root")
  }

  /** Commit `df` as the next version; returns the version number.
    * Publish = one atomic directory rename of the fully-written temp.
    * Atomicity caveat (same contract as the sinks' crash-safe swap):
    * this holds only on filesystems with atomic directory rename —
    * HDFS and local FS. On object stores (S3A), "rename" is copy+delete,
    * so a concurrent reader could observe a partially-published v{N};
    * there, front the store with a manifest/catalog commit instead. */
  def commit(df: DataFrame): Long = {
    val next = latestVersion.getOrElse(0L) + 1
    publish(writeTemp(df), next)
  }

  /** Write `df` to the commit temp dir, clearing a crashed commit's
    * leftover first; returns the temp dir. */
  private def writeTemp(df: DataFrame): Path = {
    val tmp = new Path(root, "__graft_snap_tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    df.write.mode("overwrite").parquet(tmp.toString)
    tmp
  }

  /** Rename the fully-written dir `src` to version `next`; returns it. */
  private def publish(src: Path, next: Long): Long = {
    val dest = new Path(root, s"v$next")
    if (!fs.rename(src, dest))
      throw new java.io.IOException(s"snapshot publish failed: $src -> $dest")
    next
  }

  /** Append-only commit: next version = previous head ∪ `incoming`,
    * WITHOUT rewriting the head — `incoming` lands as this version's own
    * parquet plus a manifest naming the dirs it inherits, and [[read]]
    * reconstructs the union behind the same API. This is the O(batch)
    * commit for continuous ingest (r16): the full-copy [[commit]] makes
    * every committing micro-batch rewrite everything ever ingested —
    * per-trigger cost O(store), the one remaining O(history) cost on the
    * streaming path — where this shape moves only the batch's bytes.
    * The caller owns key disjointness (an ingest admission anti-join, as
    * in [[graft.streaming.DocStream.ingestToSnapshots]]); content-wise
    * the new version is exactly `commit(read(head).unionByName(incoming))`.
    *
    * `incoming` is evaluated once, by the temp write, which also counts
    * its rows (an `Observation`, no extra job). An empty increment
    * publishes nothing: the temp is removed and the result is None, like
    * [[commitDeletePartition]] on an empty store, so an idle stream burns
    * no versions and the caller needs no emptiness probe of its own.
    * Otherwise the result is the new version, and on an empty store that
    * version is a plain v1 with no manifest.
    *
    * Multi-dir reconstruction requires ONE schema across the chain, so
    * the incoming frame must match the head's column names, types and
    * order exactly (checked here against the head's footer schema, on the
    * driver); anything else is a schema evolution — use [[commit]], which
    * materializes. Time travel, [[diff]], [[rollback]] are unchanged (all
    * go through [[read]]); [[expire]] first materializes any surviving
    * version that inherits an expiring dir, so history loss stays
    * impossible. */
  def commitAppend(incoming: DataFrame): Option[Long] = {
    val head = latestVersion
    val aligned = head.fold(incoming) { v =>
      val headSchema = read(v).schema
      def shape(s: org.apache.spark.sql.types.StructType) =
        s.fields.map(f => (f.name.toLowerCase, f.dataType)).sortBy(_._1).toSeq
      require(shape(headSchema) == shape(incoming.schema),
        s"commitAppend schema mismatch (append chains read as one multi-dir relation): " +
          s"head ${headSchema.simpleString} vs incoming ${incoming.schema.simpleString}; " +
          "use commit() for schema changes")
      // Column ORDER must also match across the chain's files — joins and
      // projections upstream reorder freely (an anti-join moves its key
      // first), so align to the head's order here instead of pushing that
      // bookkeeping onto every caller.
      incoming.select(headSchema.fields.map(f => col(f.name)).toSeq: _*)
    }
    val rows = Observation()
    val tmp = writeTemp(aligned.observe(rows, count(lit(1)).as("rows")))
    if (rows.get("rows").asInstanceOf[Long] == 0L) { fs.delete(tmp, true); None }
    else {
      head.foreach { v =>
        val out = fs.create(new Path(tmp, ManifestFile), true)
        try out.write(resolvedDirs(v).mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
      Some(publish(tmp, head.getOrElse(0L) + 1))
    }
  }

  /** Upsert against the latest snapshot, committed as a NEW version —
    * MERGE with history: every merge stays readable at its version. Like
    * [[ParquetSink.mergeByKey]], the increment is evaluated once, into
    * `root__graft_inc` ([[SinkChecks.staged]]); the key check, the
    * anti-join's key side and the union scan that stage, and the first
    * merge into an empty store publishes the stage itself as v1. The stage
    * sits beside the root, not in it: a dir under the root would need a
    * leading underscore to stay clear of version names, and Spark warns on
    * every read of such a hidden path. */
  def commitMerge(incoming: DataFrame, keys: Seq[String]): Long = {
    val stage = new Path(root + "__graft_inc")
    SinkChecks.staged(spark, incoming, stage) { inc =>
      SinkChecks.requireUniqueKeys(inc, keys, root)
      latestVersion match {
        case None    => fs.mkdirs(new Path(root)); publish(stage, 1L)
        case Some(v) =>
          commit(read(v).join(inc.select(keys.map(col): _*), keys, "left_anti").unionByName(inc))
      }
    }
  }

  /** Partition-scoped MERGE with history: commit a NEW version in which
    * every partition (distinct `partCol` value) present in `incoming` is
    * replaced wholesale by incoming's rows, all other partitions carried
    * over unchanged. This is the snapshot twin of
    * [[PartitionedParquetSink]]'s dynamic partition overwrite — the same
    * replace-the-partition contract, plus time travel to every previous
    * refresh. The carry-over side anti-joins the previous head on the
    * distinct partition values (one row per partition, broadcastable), so
    * the incremental plan cost over a plain [[commit]] is a broadcast
    * anti-join — not a second full scan. Null-safe on the partition
    * column (like [[commitDeletePartition]]): incoming rows with a NULL
    * partition REPLACE the head's NULL partition rather than duplicating
    * beside it. */
  def commitReplacePartitions(incoming: DataFrame, partCol: String): Long =
    latestVersion match {
      case None    => commit(incoming)
      case Some(v) =>
        val prev = read(v)
        val parts = broadcast(incoming.select(col(partCol).as("__graft_part")).distinct())
        commit(prev.join(parts, prev(partCol) <=> col("__graft_part"), "left_anti")
          .unionByName(incoming))
    }

  /** Partition delete with history: commit a NEW version without
    * `value`'s rows — the delete-then-still-time-travelable twin of
    * [[PartitionedParquetSink.deletePartition]]. Null-safe comparison,
    * so a NULL partition value deletes the NULL partition. Returns None
    * (and commits nothing) when the store has no versions yet: there is
    * no history to preserve and an empty v1 would pin a schema-less
    * marker as the table's origin. */
  def commitDeletePartition(partCol: String, value: Any): Option[Long] =
    latestVersion.map { v =>
      commit(read(v).filter(!(col(partCol) <=> lit(value))))
    }

  /** History-preserving undo: republish `toVersion`'s content as a NEW
    * head version (never deletes or rewrites — the bad head stays
    * readable for forensics, exactly how table formats roll back). */
  def rollback(toVersion: Long): Long = commit(read(toVersion))

  /** Drop all but the last `keepLast` versions; returns what was expired.
    * Time travel to an expired version then fails loudly in [[read]].
    *
    * Delta-aware (r16): a surviving version whose manifest inherits an
    * expiring dir is MATERIALIZED first — its resolved content written as
    * a self-contained full copy (from the still-present original dirs)
    * and swapped in — so expiry never breaks a survivor. Materialization
    * is O(survivor content): expiry is the maintenance pass that pays
    * what the O(batch) [[commitAppend]] hot path deferred. Swap is
    * delete-then-rename (the sinks' single-writer contract); a crash
    * between the two leaves the fully-written `__graft_snap_mat_v{N}`
    * temp beside the gap for manual recovery, the same window the
    * existing dir-delete loop always had. */
  def expire(keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "must keep at least the latest snapshot")
    val all = versions
    val drop = all.dropRight(keepLast)
    if (drop.isEmpty) return drop
    val dropSet = drop.map(v => s"v$v").toSet
    val needMat = all.takeRight(keepLast)
      .filter(v => manifest(v).exists(_.exists(dropSet.contains)))
    // Write every materialized copy BEFORE any swap or delete: each reads
    // its ORIGINAL resolved dirs, so overlapping inheritance chains can
    // never observe a half-migrated store.
    val mats = needMat.map { v =>
      val tmp = new Path(root, s"__graft_snap_mat_v$v")
      if (fs.exists(tmp)) fs.delete(tmp, true)
      read(v).write.mode("overwrite").parquet(tmp.toString)
      v -> tmp
    }
    mats.foreach { case (v, tmp) =>
      val dest = new Path(root, s"v$v")
      fs.delete(dest, true)
      if (!fs.rename(tmp, dest))
        throw new java.io.IOException(s"snapshot materialize failed: $tmp -> $dest")
    }
    drop.foreach(v => fs.delete(new Path(root, s"v$v"), true))
    drop
  }

  /** Keyed diff between two versions — the audit half of time travel
    * (table formats call this table_changes/CDF): every key classified as
    * `insert` (only in `v2`), `delete` (only in `v1`), or `update` (in
    * both, payload differs; null-safe comparison so null payload fields
    * never mis-classify), with the old and new payload columns side by
    * side. Unchanged keys are excluded. Diffing `(v2, v1)` reverses the
    * classification, so one operator answers both "what did this commit
    * do" and "what would rolling it back do".
    *
    * Shape: one full-outer shuffle join on the keys — both sides
    * partition by the diff key, the classification and payload flattening
    * are narrow projections; nothing about the diff grows faster than the
    * changed-row count. */
  def diff(v1: Long, v2: Long, keys: Seq[String]): DataFrame = {
    val a = read(v1)
    val b = read(v2)
    // Schema compare includes TYPES, not just names: a column whose type
    // drifted between versions (e.g. int widened to bigint by a writer
    // change) would otherwise flow into the payload structs and classify
    // every key as `update` — a schema problem masquerading as data churn.
    def shape(df: DataFrame) =
      df.schema.fields.map(f => (f.name.toLowerCase, f.dataType)).sortBy(_._1)
    require(shape(a).sameElements(shape(b)),
      s"version schemas differ: v$v1 ${a.schema.simpleString} vs v$v2 ${b.schema.simpleString}")
    // Key names resolve CASE-INSENSITIVELY, matching Spark's own column
    // resolution: an exact-match filter here would let a caller-cased key
    // (`DOC_ID` vs stored `doc_id`) silently land in the payload struct —
    // self-joined on nothing and struct-compared against itself, flipping
    // the classification. Unknown keys fail loudly for the same reason.
    val resolvedKeys = keys.map { k =>
      a.columns.find(_.equalsIgnoreCase(k)).getOrElse(throw new IllegalArgumentException(
        s"diff key `$k` not in snapshot schema (${a.columns.mkString(",")})"))
    }
    val keySet = resolvedKeys.map(_.toLowerCase).toSet
    val nonKey = a.columns.filterNot(c => keySet.contains(c.toLowerCase)).toSeq
    val l = a.select(resolvedKeys.map(col) :+ struct(nonKey.map(col): _*).as("__l"): _*)
    val r = b.select(resolvedKeys.map(col) :+ struct(nonKey.map(col): _*).as("__r"): _*)
    val olds = nonKey.map(c => col("__l").getField(c).as(s"${c}_old"))
    val news = nonKey.map(c => col("__r").getField(c).as(s"${c}_new"))
    l.join(r, resolvedKeys, "full_outer")
      .withColumn("change",
        when(col("__l").isNull, lit("insert"))
          .when(col("__r").isNull, lit("delete"))
          .when(!(col("__l") <=> col("__r")), lit("update"))
          .otherwise(lit("same")))
      .filter(col("change") =!= "same")
      .select(col("change") +: resolvedKeys.map(col) ++: (olds ++ news): _*)
  }
}
