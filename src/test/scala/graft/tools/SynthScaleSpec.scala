package graft.tools

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Runs each closed-form scale probe at the smallest size its closed form
  * covers: the probes' `require`s are the assertions, and the printed line
  * proves the probe ran at the asked size. */
class SynthScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def run(mode: String, n: Long): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(SynthScale.run(spark, mode, Seq(n.toString)))
    out.toString("UTF-8")
  }

  Seq("cc" -> 1000L, "pr" -> 2048L, "tri" -> 3200L, "incr" -> 3200L,
      "kcore" -> 400L, "kcore2" -> 320L).foreach { case (mode, n) =>
    test(s"$mode: closed form holds at n=$n") {
      val printed = run(mode, n)
      assert(printed.linesIterator.exists(_.startsWith(s"[${if (mode == "incr") "tri-incr" else mode}")),
        printed)
    }
  }

  test("unknown modes are refused before any work") {
    val e = intercept[IllegalArgumentException](SynthScale.run(spark, "triangles", Nil))
    assert(e.getMessage.contains("unknown mode triangles"))
  }
}
