package graft.sink

import graft.TestSpark
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class SnapshotStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshStore() = {
    val dir = Files.createTempDirectory("graft_snap_spec").toString
    new SnapshotStore(spark, s"$dir/store")
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("commit numbers versions from 1; readLatest follows the head") {
    val st = freshStore()
    assert(st.versions.isEmpty && st.latestVersion.isEmpty)
    assert(st.commit(Seq((1L, "a")).toDF("k", "v")) == 1L)
    assert(st.commit(Seq((2L, "b")).toDF("k", "v")) == 2L)
    assert(st.versions == Seq(1L, 2L))
    assert(rows(st.readLatest()) == Set((2L, "b")))
    assert(rows(st.read(1)) == Set((1L, "a")))
  }

  test("commitMerge upserts into a NEW version; time travel sees the old state unchanged") {
    val st = freshStore()
    st.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val v2 = st.commitMerge(Seq((2L, "B"), (3L, "c")).toDF("k", "v"), Seq("k"))
    assert(v2 == 2L)
    assert(rows(st.read(2)) == Set((1L, "a"), (2L, "B"), (3L, "c")))
    // the defining table-format property: the merge did not mutate v1
    assert(rows(st.read(1)) == Set((1L, "a"), (2L, "b")))
  }

  test("a leftover temp dir (crash before publish) is invisible and cleared by the next commit") {
    val st = freshStore()
    st.commit(Seq((1L, "a")).toDF("k", "v"))
    // simulate a crash: a half-written temp next to the versions
    Seq((9L, "junk")).toDF("k", "v")
      .write.parquet(s"${st.readLatest().inputFiles.head.split("/v1/").head}/__graft_snap_tmp")
    assert(st.versions == Seq(1L), "temp dir must not read as a version")
    val v2 = st.commit(Seq((2L, "b")).toDF("k", "v"))
    assert(v2 == 2L && rows(st.read(2)) == Set((2L, "b")))
  }

  test("expire drops history oldest-first; expired reads fail loudly") {
    val st = freshStore()
    (1 to 4).foreach(i => st.commit(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    assert(st.expire(keepLast = 2) == Seq(1L, 2L))
    assert(st.versions == Seq(3L, 4L))
    assert(rows(st.readLatest()) == Set((4L, "v4")))
    val e = intercept[IllegalArgumentException](st.read(1))
    assert(e.getMessage.contains("v1"))
  }

  test("commitAppend: content ≡ full-copy commit per version, O(batch) files on disk") {
    val st = freshStore()
    st.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val v2 = st.commitAppend(Seq((3L, "c")).toDF("k", "v"))
    val v3 = st.commitAppend(Seq((4L, "d")).toDF("k", "v"))
    assert((v2, v3) == (Some(2L), Some(3L)))
    // time-travel contract unchanged: every version reads as committed
    assert(rows(st.read(1)) == Set((1L, "a"), (2L, "b")))
    assert(rows(st.read(2)) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(rows(st.read(3)) == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // the O(batch) claim: v3's own dir holds only the delta row
    val v3Own = spark.read.parquet(
      st.read(1).inputFiles.head.split("/v1/").head + "/v3")
    assert(rows(v3Own) == Set((4L, "d")), "append version must hold only its delta")
    // diff rides read(): append versions classify like full copies
    val d = st.diff(2L, 3L, Seq("k")).collect()
    assert(d.length == 1 && d.head.getString(0) == "insert")
  }

  test("commitAppend on an empty store is the first full commit") {
    val st = freshStore()
    assert(st.commitAppend(Seq((1L, "a")).toDF("k", "v")).contains(1L))
    assert(rows(st.read(1)) == Set((1L, "a")))
  }

  test("commitAppend of an empty increment returns None: no new version, no temp dir left") {
    val dir = Files.createTempDirectory("graft_snap_spec").toString
    val st = new SnapshotStore(spark, s"$dir/store")
    // an empty store stays empty: no schema-only v1
    assert(st.commitAppend(Seq.empty[(Long, String)].toDF("k", "v")).isEmpty)
    assert(st.versions.isEmpty)
    st.commit(Seq((1L, "a")).toDF("k", "v"))
    assert(st.commitAppend(spark.range(10).selectExpr("id as k", "cast(id as string) as v")
      .filter("k < 0")).isEmpty)
    assert(st.commitAppend(Seq((2L, "b")).toDF("k", "v").filter("k < 0")).isEmpty)
    assert(st.versions == Seq(1L))
    assert(new java.io.File(s"$dir/store").list().toSet == Set("v1"),
      "an empty commitAppend must leave no __graft_snap_tmp")
    // the next non-empty append still numbers from the head
    assert(st.commitAppend(Seq((3L, "c")).toDF("k", "v")).contains(2L))
    assert(rows(st.read(2)) == Set((1L, "a"), (3L, "c")))
  }

  test("commitAppend refuses a schema drift loudly (multi-dir chains need one schema)") {
    val st = freshStore()
    st.commit(Seq((1L, "a")).toDF("k", "v"))
    val e = intercept[IllegalArgumentException](
      st.commitAppend(Seq((2L, 9L)).toDF("k", "v")))
    assert(e.getMessage.contains("schema"))
  }

  test("expire materializes surviving append versions before dropping inherited dirs") {
    val st = freshStore()
    st.commit(Seq((1L, "a")).toDF("k", "v"))
    st.commitAppend(Seq((2L, "b")).toDF("k", "v"))
    st.commitAppend(Seq((3L, "c")).toDF("k", "v"))
    st.commitAppend(Seq((4L, "d")).toDF("k", "v"))
    val before3 = rows(st.read(3))
    val before4 = rows(st.read(4))
    assert(st.expire(keepLast = 2) == Seq(1L, 2L))
    // survivors read exactly what they read before expiry, self-contained now
    assert(rows(st.read(3)) == before3)
    assert(rows(st.read(4)) == before4)
    assert(st.versions == Seq(3L, 4L))
    intercept[IllegalArgumentException](st.read(1))
    // a later append on a materialized head still chains correctly
    val v5 = st.commitAppend(Seq((5L, "e")).toDF("k", "v")).get
    assert(rows(st.read(v5)) == before4 + ((5L, "e")))
  }

  test("rollback republishes old content as a NEW head; the bad head stays readable") {
    val st = freshStore()
    st.commit(Seq((1L, "good")).toDF("k", "v"))
    st.commit(Seq((1L, "bad")).toDF("k", "v"))
    assert(st.rollback(1L) == 3L)
    assert(rows(st.readLatest()) == Set((1L, "good")))
    assert(rows(st.read(2)) == Set((1L, "bad")), "forensic history must survive rollback")
  }

  test("commitMerge rejects duplicate incoming keys loudly") {
    val st = freshStore()
    st.commit(Seq((1L, "a")).toDF("k", "v"))
    intercept[IllegalArgumentException] {
      st.commitMerge(Seq((2L, "x"), (2L, "y")).toDF("k", "v"), Seq("k"))
    }
  }

  test("commitMerge into a non-empty store evaluates its increment exactly once") {
    val st = freshStore()
    st.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val (incoming, evals) = MergeFixtures.counted[Long](spark.sparkContext
      .parallelize(Seq((2L, "B"), (3L, "c")), 2).toDF("k", "v"), "k")
    assert(st.commitMerge(incoming, Seq("k")) == 2L)
    assert(evals.value == 2L, s"increment evaluated ${evals.value / 2.0} times, not once")
    assert(rows(st.read(2)) == Set((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("a rejected commitMerge leaves every file as it was; a crashed merge's stage is harmless") {
    val st = freshStore()
    st.commit(Seq((1L, "a")).toDF("k", "v"))
    val root = st.readLatest().inputFiles.head.split("/v1/").head
    // the stage sits beside the root, so list the root's parent
    val parent = new org.apache.hadoop.fs.Path(root).getParent.toString
    val before = MergeFixtures.listing(spark, parent)
    intercept[IllegalArgumentException] {
      st.commitMerge(Seq((2L, "x"), (2L, "y")).toDF("k", "v"), Seq("k"))
    }
    assert(MergeFixtures.listing(spark, parent) == before)
    assert(st.versions == Seq(1L))
    // junk of another schema where a crashed merge left its stage
    Seq(("junk", true)).toDF("x", "flag").write.parquet(s"${root}__graft_inc")
    assert(st.commitMerge(Seq((1L, "A"), (2L, "b")).toDF("k", "v"), Seq("k")) == 2L)
    assert(rows(st.read(2)) == Set((1L, "A"), (2L, "b")))
    assert(st.read(2).columns.toSeq == Seq("k", "v"))
    assert(!MergeFixtures.exists(spark, s"${root}__graft_inc"))
  }

  test("commitReplacePartitions replaces the NULL partition instead of duplicating beside it") {
    val st = freshStore()
    st.commit(Seq((Option.empty[String], "old_null"), (Some("p1"), "old_p1"))
      .toDF("part", "v"))
    st.commitReplacePartitions(
      Seq((Option.empty[String], "new_null")).toDF("part", "v"), "part")
    val head = st.readLatest().collect()
      .map(r => (Option(r.getString(0)), r.getString(1))).toSet
    assert(head == Set((None, "new_null"), (Some("p1"), "old_p1")))
  }

  test("diff classifies insert/update, excludes unchanged, and reverses into deletes") {
    val st = freshStore()
    st.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    st.commitMerge(Seq((2L, "B"), (3L, "c")).toDF("k", "v"), Seq("k"))
    def d(a: Long, b: Long) = st.diff(a, b, Seq("k")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3))).toSet
    // forward: key 1 unchanged (absent), key 2 updated, key 3 inserted
    assert(d(1, 2) == Set(
      ("update", 2L, "b", "B"),
      ("insert", 3L, null, "c")))
    // reverse diff answers "what would rollback do": the insert becomes a delete
    assert(d(2, 1) == Set(
      ("update", 2L, "B", "b"),
      ("delete", 3L, "c", null)))
  }

  test("diff is null-safe: a null payload equal on both sides is not an update") {
    val st = freshStore()
    st.commit(Seq((1L, Option.empty[String]), (2L, Some("x"))).toDF("k", "v"))
    st.commitMerge(Seq((2L, Option.empty[String])).toDF("k", "v"), Seq("k"))
    val out = st.diff(1, 2, Seq("k")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // key 1: null -> null = unchanged; key 2: "x" -> null = update
    assert(out == Set(("update", 2L)))
  }

  test("diff resolves caller-cased keys like Spark does; unknown keys fail loudly") {
    val st = freshStore()
    st.commit(Seq((1L, "a")).toDF("k", "v"))
    st.commitMerge(Seq((1L, "A"), (2L, "b")).toDF("k", "v"), Seq("k"))
    // `K` must resolve to stored `k` — exact-match key filtering would
    // struct-wrap the key as payload and classify every row insert+delete.
    val out = st.diff(1, 2, Seq("K")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out == Set(("update", 1L), ("insert", 2L)))
    val err = intercept[IllegalArgumentException](st.diff(1, 2, Seq("nope")))
    assert(err.getMessage.contains("nope"))
  }

  test("diff refuses a payload TYPE drift instead of classifying it as mass updates") {
    val st = freshStore()
    st.commit(Seq((1L, 1)).toDF("k", "v"))                    // v: int
    st.commit(Seq((1L, 1L)).toDF("k", "v"))                   // v: bigint
    val err = intercept[IllegalArgumentException](st.diff(1, 2, Seq("k")))
    assert(err.getMessage.contains("schemas differ"))
  }
}
