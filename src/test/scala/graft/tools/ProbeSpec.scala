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

  test("scratch guard: an empty spark-* dir is not stale, one holding a file is") {
    val tmp = java.nio.file.Files.createTempDirectory("probe_scratch")
    java.nio.file.Files.createDirectories(tmp.resolve("spark-local/blockmgr-0"))
    val x = java.nio.file.Files.createDirectories(tmp.resolve("spark-x/sub"))
    java.nio.file.Files.write(x.resolve("shuffle_0.data"), Array[Byte](1))
    java.nio.file.Files.createDirectories(tmp.resolve("other"))
    assert(Probe.staleScratch(tmp.toFile).map(_.getName) == Seq("spark-x"))
  }

  test("unknown names and modes are refused up front") {
    val e = intercept[IllegalArgumentException](Probe.main(Array("reps", "a_flagship", "a_flagshp")))
    assert(e.getMessage.contains("unknown query: a_flagshp"))
    intercept[IllegalArgumentException](Probe.main(Array("plan", "a_flagship")))
  }
}
