package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-trigger cost growth of SnapshotStore commit shapes: a store seeded
  * with `SEED` rows takes `TRIGGERS` batches of `BATCH` rows each, once
  * via the old full-copy commit(head ∪ fresh) and once via commitAppend.
  * Prints per-trigger and total seconds — the O(store) vs O(batch)
  * evidence for the r16 streaming-snapshot change. Dev tool. */
object SnapAppendProbe {
  def main(args: Array[String]): Unit = {
    val seed = sys.env.getOrElse("SEED", "2000000").toLong
    val batch = sys.env.getOrElse("BATCH", "20000").toLong
    val triggers = sys.env.getOrElse("TRIGGERS", "12").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    graft.core.GraftSession.applyDefaults(spark)
    spark.sparkContext.setLogLevel("ERROR")
    def rows(lo: Long, n: Long) = spark.range(lo, lo + n)
      .select(col("id").as("doc_id"), expr("concat('text-', id)").as("text"))
    Seq("fullcopy", "append").foreach { mode =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft_snapprobe_$mode").toString
      val st = new graft.sink.SnapshotStore(spark, s"$dir/store")
      st.commit(rows(0, seed))
      val t0 = System.nanoTime()
      val per = (1 to triggers).map { i =>
        val b = rows(seed + i * batch, batch)
        val t1 = System.nanoTime()
        if (mode == "append") st.commitAppend(b).get
        else st.commit(st.readLatest().unionByName(b))
        (System.nanoTime() - t1) / 1e9
      }
      val total = (System.nanoTime() - t0) / 1e9
      println(f"[snapprobe] $mode%-8s seed=$seed batch=$batch total=$total%.2f s  per-trigger=${per.map(t => f"$t%.2f").mkString(" ")}")
      println(f"[snapprobe] $mode%-8s head rows=${st.readLatest().count()}")
    }
    spark.stop()
  }
}
