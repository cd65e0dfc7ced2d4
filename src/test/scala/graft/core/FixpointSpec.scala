package graft.core

import graft.TestSpark
import graft.llmdata.CorpusOps
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class FixpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def chain(edges: Int): DataFrame =
    (0L until edges.toLong).map(i => (i, i + 1)).toDF("id_a", "id_b")

  private def advice(s: Int) = s"($s left); a capped state is wrong. Raise maxRounds (linear)."

  test("converge counts the round whose step reports it has settled") {
    assert(Fixpoint.converge[Int]("count", 10, advice)(0)(s => (s + 1, s + 1 >= 3)) == ((3, 3)))
    // A no-change probe settles one round after the last change: the
    // confirming round is counted.
    assert(Fixpoint.converge[Int]("clamp", 10, advice)(0) { s =>
      val next = math.min(s + 1, 3); (next, next == s)
    } == ((3, 4)))
  }

  test("converge throws one uniform IllegalStateException at the cap") {
    val e = intercept[IllegalStateException] {
      Fixpoint.converge[Int]("op", 2, advice)(0)(s => (s + 1, false))
    }
    assert(e.getMessage ==
      "op did not converge within 2 rounds (2 left); a capped state is wrong. Raise maxRounds (linear).")
  }

  test("converge returns an exempt state at the cap instead of throwing") {
    val empty = (_: Int) == 0
    assert(Fixpoint.converge[Int]("op", 2, advice, empty)(5)(_ => (0, false)) == ((0, 2)))
    assert(Fixpoint.converge[Int]("op", 0, advice, empty)(0)(_ => fail("no round at cap 0")) == ((0, 0)))
    intercept[IllegalStateException] {
      Fixpoint.converge[Int]("op", 2, advice, empty)(5)(s => (s, false))
    }
  }

  test("every converge-or-throw operator's cap exit reads '<op> did not converge within <cap> rounds'") {
    def message(body: => Any): String = intercept[IllegalStateException](body).getMessage
    val exits = Seq(
      "StarComponents" -> 1 -> message(StarComponents.componentsWithRounds(chain(7), maxIterations = 1)),
      "kCore(k=2)" -> 2 -> message(GraphMetrics.kCore(chain(12), k = 2, maxRounds = 2)),
      "kCore2Contracted" -> 2 -> message(GraphMetrics.kCore2Contracted(chain(12), maxRounds = 2)),
      "clusterLabelsConverged" -> 2 -> message(CorpusOps.clusterLabelsConverged(chain(7), maxIterations = 2)))
    exits.foreach { case ((op, cap), msg) =>
      assert(msg.startsWith(s"$op did not converge within $cap rounds"), msg)
    }
  }

  test("a peel that empties exactly at the cap returns the empty core") {
    // A 12-edge chain at k = 2 loses its two end edges per round: round 6
    // deletes the last two, so the cap of 6 meets an empty edge set — the
    // (empty) 2-core, not a truncated peel. One round fewer still throws.
    assert(GraphMetrics.kCore(chain(12), k = 2, maxRounds = 6).count() == 0L)
    intercept[IllegalStateException](GraphMetrics.kCore(chain(12), k = 2, maxRounds = 5))
    // The contracted form empties the same chain by its 4th round.
    assert(GraphMetrics.kCore2Contracted(chain(12), maxRounds = 4).count() == 0L)
    intercept[IllegalStateException](GraphMetrics.kCore2Contracted(chain(12), maxRounds = 3))
  }

  test("round counts: a stable peel reports 1, chains keep their measured counts") {
    val triangle = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id_a", "id_b")
    assert(GraphMetrics.kCorePeelDepth(triangle, k = 2) == 1)
    assert(GraphMetrics.kCorePeelDepth(chain(12), k = 2) == 7)
    assert(GraphMetrics.kCore2ContractedRounds(chain(12)) == 5)
    assert(StarComponents.componentsWithRounds(chain(7))._2 == 4)
  }

  test("one converged run of each operator starts the same Spark jobs (job-count pins)") {
    // Pinned at the values the hand-rolled loops measured: the shared
    // driver adds no job per round and none at the exit.
    assert(PlanShapes.jobsRun(spark)(StarComponents.componentsWithRounds(chain(7)): Unit) == 55)
    assert(PlanShapes.jobsRun(spark)(GraphMetrics.kCorePeelDepth(chain(12), k = 2): Unit) == 36)
    assert(PlanShapes.jobsRun(spark)(GraphMetrics.kCore2ContractedRounds(chain(12)): Unit) == 63)
    assert(PlanShapes.jobsRun(spark)(CorpusOps.clusterLabelsConverged(chain(7)): Unit) == 76)
  }

  test("only core/Fixpoint.scala writes a convergence loop's exit") {
    // Every converge-or-throw loop goes through Fixpoint.converge, so
    // hand-rolled loops (and their drifting cap messages) cannot grow back.
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val allowed = "graft/core/Fixpoint.scala"
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
    def rel(p: Path) = root.relativize(p).toString.replace('\\', '/')
    assert(files.map(rel).contains(allowed), "scan missed Fixpoint.scala")
    val markers = Seq("did not converge", "did not reach", "var converged")
    val offenders = files.filterNot(p => rel(p) == allowed).flatMap { p =>
      val text = Files.readString(p)
      markers.filter(text.contains).map(m => s"${rel(p)}: '$m'")
    }.sorted
    assert(offenders.isEmpty, s"route convergence loops through Fixpoint.converge: ${offenders.mkString(", ")}")
  }
}
