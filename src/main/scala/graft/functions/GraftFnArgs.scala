package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression

/** Builder-time argument validation for the graft_* functions
  * [[GraftExtensions]] installs for SQL text.
  *
  * Function builders run at plan/analysis time; without these guards a
  * wrong arity or a non-literal where an integer literal is required
  * surfaced as an opaque IndexOutOfBounds / eval NPE from inside the
  * builder. Mirrors how Spark's own fixed-arg expressions report misuse:
  * a clear message naming the function, the argument, and the requirement.
  */
private[functions] object GraftFnArgs {

  /** Enforce exact arity; returns `es` for chaining. */
  def exact(fn: String, es: Seq[Expression], n: Int): Seq[Expression] = {
    if (es.length != n)
      throw new IllegalArgumentException(
        s"$fn expects exactly $n arguments, got ${es.length}")
    es
  }

  /** Argument `i` (0-based) must be a foldable integer literal; evaluate it. */
  def intLit(fn: String, es: Seq[Expression], i: Int): Int = {
    val e = es(i)
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be an integer literal, got the " +
          s"non-constant expression ${e.sql}")
    e.eval() match {
      case v: Int => v
      case v: Long if v.isValidInt => v.toInt
      case v: Short => v.toInt
      case v: Byte => v.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be an integer literal, got $other")
    }
  }
}
