package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension entry point for the engine's codegen'd expressions.
  *
  * The idiomatic production wiring: either
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions` or
  * `.withExtensions(new GraftExtensions)` on the session builder. Injected
  * functions live in the session's *built-in-like* registry slot, so every
  * derived session (cloned states, `newSession()`) sees them without the
  * per-query defensive `VectorExprs.register` call (which remains available
  * for driver-handed sessions we didn't build — same builders, same names).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // Semantics-preserving pushdown enabler: year(c)=y -> range on c
    // (see graft.plans.YearRangeRewrite). Sessions not built with these
    // extensions get the same rule via GraftSession.applyDefaults'
    // experimental-optimizations fallback.
    ext.injectOptimizerRule(_ => graft.plans.YearRangeRewrite)
  }
}

object GraftExtensions {
  /** (name, info, builder) triples for all custom expressions — single
    * source of truth shared with [[VectorExprs.register]]. */
  private def arity(name: String, n: Int)(b: Seq[Expression] => Expression): Seq[Expression] => Expression =
    c => {
      require(c.length == n, s"$name expects $n argument(s), got ${c.length}")
      b(c)
    }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("array_dot"),
      new ExpressionInfo(classOf[ArrayDot].getName, "array_dot"),
      arity("array_dot", 2)(c => ArrayDot(c(0), c(1)))),
    (FunctionIdentifier("simhash32"),
      new ExpressionInfo(classOf[ArraySimhash32].getName, "simhash32"),
      arity("simhash32", 1)(c => ArraySimhash32(c.head))),
    (FunctionIdentifier("poly_hash_array"),
      new ExpressionInfo(classOf[ArrayPolyHash].getName, "poly_hash_array"),
      arity("poly_hash_array", 1)(c => ArrayPolyHash(c.head))),
    (FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinHashSigs].getName, "minhash_sigs"),
      arity("minhash_sigs", 1)(c => MinHashSigs(c.head))),
    (FunctionIdentifier("hyperplane_sig"),
      new ExpressionInfo(classOf[ArrayHyperplaneSig].getName, "hyperplane_sig"),
      arity("hyperplane_sig", 2) { c =>
        val planes = c(1) match {
          case e if e.foldable => e.eval() match {
            case i: Int => i
            case l: Long => l.toInt
            case other => throw new IllegalArgumentException(
              s"hyperplane_sig planes must be an int literal, got $other")
          }
          case _ => throw new IllegalArgumentException(
            "hyperplane_sig planes must be a literal")
        }
        ArrayHyperplaneSig(c.head, planes)
      }),
    (FunctionIdentifier("hyperplane_sig_at"),
      new ExpressionInfo(classOf[ArrayHyperplaneSigAt].getName, "hyperplane_sig_at"),
      arity("hyperplane_sig_at", 3) { c =>
        def lit(e: org.apache.spark.sql.catalyst.expressions.Expression, what: String): Int =
          e match {
            case f if f.foldable => f.eval() match {
              case i: Int => i
              case l: Long => l.toInt
              case other => throw new IllegalArgumentException(
                s"hyperplane_sig_at $what must be an int literal, got $other")
            }
            case _ => throw new IllegalArgumentException(
              s"hyperplane_sig_at $what must be a literal")
          }
        ArrayHyperplaneSigAt(c.head, lit(c(1), "offset"), lit(c(2), "count"))
      }),
    (FunctionIdentifier("rp_project"),
      new ExpressionInfo(classOf[ArrayRpProject].getName, "rp_project"),
      arity("rp_project", 2) { c =>
        val planes = c(1) match {
          case e if e.foldable => e.eval() match {
            case i: Int => i
            case l: Long => l.toInt
            case other => throw new IllegalArgumentException(
              s"rp_project planes must be an int literal, got $other")
          }
          case _ => throw new IllegalArgumentException(
            "rp_project planes must be a literal")
        }
        ArrayRpProject(c.head, planes)
      }))
}
