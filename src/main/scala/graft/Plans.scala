package graft

import graft.core.{CacheScope, GraftSession}

/** Plan-audit main: print the formatted physical plan of any registered
  * queries (`runMain graft.Plans q1 q2 …`) — the `.explain("formatted")`
  * loop the build brief asks for, kept as a tool so every round can re-audit
  * pushdown/pruning/shuffle shapes without scratch code. The session carries
  * the semantic pins and the year-range rewrite, so the audited plan is the
  * one Verify and Bench run. */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    SparkEntry.requireKnown(args, "audit")
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"===== $name =====")
      CacheScope.scoped { // free what plan construction persisted
        println(SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      }
    }
    spark.stop()
  }
}
