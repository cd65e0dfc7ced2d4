package graft.tools

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

class ProbeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("reps: one rep of one registry row prints the name and its seconds") {
    val lines = mutable.Buffer.empty[String]
    Probe.reps(spark, sfDir, Seq("a_flagship"), 1, lines += _)
    assert(lines.size == 1)
    assert(lines.head.matches("""a_flagship\s+\d+\.\d{2}"""), lines.head)
  }

  test("stages: prints the instrumented run's summary, jobs and stages") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Probe.stages(spark, sfDir, Seq("a_flagship")))
    val lines = out.toString("UTF-8").linesIterator.toSeq
    assert(lines.exists(_.startsWith("[stages] a_flagship wall=")), lines)
    assert(lines.exists(_.trim.startsWith("job ")), lines)
    assert(lines.exists(_.trim.startsWith("stage ")), lines)
  }

  test("unknown names and modes are refused up front") {
    val e = intercept[IllegalArgumentException](Probe.main(Array("reps", "a_flagship", "a_flagshp")))
    assert(e.getMessage.contains("unknown query: a_flagshp"))
    intercept[IllegalArgumentException](Probe.main(Array("plan", "a_flagship")))
  }
}
