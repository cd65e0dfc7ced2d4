package graft

import graft.core.GraftSession
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (sessions are expensive;
  * suites must not stop it). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
}
