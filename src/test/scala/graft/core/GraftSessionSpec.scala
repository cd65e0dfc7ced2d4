package graft.core

import graft.TestSpark
import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class GraftSessionSpec extends AnyFunSuite {

  test("the shared test session is GraftSession.local(4): local[4], 4 shuffle partitions, pins on") {
    val spark = TestSpark.spark
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.ui.enabled") == "false")
    GraftSession.Pins.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }

  test("SparkSession.builder appears only in Bench, job.Main and GraftSession") {
    // Every other local session goes through GraftSession.local, so the
    // copy-pasted builders (and their drifting core counts and missing
    // pins) cannot grow back.
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val allowed = Set("graft/Bench.scala", "graft/job/Main.scala", "graft/core/GraftSession.scala")
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
    def rel(p: Path) = root.relativize(p).toString.replace('\\', '/')
    assert(allowed.subsetOf(files.map(rel).toSet), "scan missed the allowed builders")
    val offenders = files.filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(rel).filterNot(allowed).sorted
    assert(offenders.isEmpty, s"build local sessions with GraftSession.local: ${offenders.mkString(", ")}")
  }
}
