package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Multiply, Sqrt}

import graft.plans.{DotProductF, IntersectCardSortedLong, L1DistInt, NormSqF}

/** The engine's session extensions:
  *
  *   - SQL registration of the native expressions, so `spark.sql` users
  *     get the same codegen'd hot paths as the DataFrame API:
  *     - graft_dot(a, b)            — dot product over array<float>
  *     - graft_normsq(a)            — sum of squares
  *     - graft_cosine(a, b)         — cosine similarity
  *     - graft_intersect_card(a, b) — |a ∩ b| of sorted array<long>
  *     - graft_l1_dist(a, b)        — Σ|a_i-b_i| of array<int> histograms
  *   - the graft-lake MERGE INTO / UPDATE routing rule
  *     ([[org.apache.spark.sql.graft.ResolveLakeMerge]]);
  *   - the lake read re-plan
  *     ([[org.apache.spark.sql.graft.VectorizeLakeMorRead]]), without
  *     which DSv2 reads of DV-bearing, column-mapped and mixed-layout
  *     versions refuse.
  *
  * Two entry points: `withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.GraftExtensions`) at session build time
  * installs all three; `GraftFunctions.register(spark)` on a live session
  * registers the functions only — Spark cannot add rules to a built
  * session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        (exprs: Seq[Expression]) => builder(exprs)))
    }
    // SQL MERGE INTO on graft-lake tables → the sparse deletion-vector
    // commit paths (Spark's own rewrite only serves
    // SupportsRowLevelOperations tables and ignores ours)
    e.injectResolutionRule(session =>
      new org.apache.spark.sql.graft.ResolveLakeMerge(session))
    // DSv2 reads of a DV-bearing, column-mapped or mixed-layout lake
    // version re-plan onto Lake.read's vectorized scan with its in-scan
    // DV predicate — the only batch read such a version has
    e.injectResolutionRule(session =>
      new org.apache.spark.sql.graft.VectorizeLakeMorRead(session))
  }
}

object GraftFunctions {

  private def cosine(exprs: Seq[Expression]): Expression = {
    val dot = DotProductF(exprs(0), exprs(1))
    val denom = Multiply(Sqrt(NormSqF(exprs(0))), Sqrt(NormSqF(exprs(1))))
    // TRY mode: zero-norm input yields null instead of an ANSI-mode throw.
    org.apache.spark.sql.catalyst.expressions.Divide(dot, denom,
      org.apache.spark.sql.catalyst.expressions.EvalMode.TRY)
  }

  private def arity(name: String, n: Int)(f: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      if (exprs.length != n)
        throw new IllegalArgumentException(
          s"$name requires exactly $n argument(s), got ${exprs.length}")
      f(exprs)
    }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> arity("graft_dot", 2)(exprs => DotProductF(exprs(0), exprs(1))),
    "graft_normsq" -> arity("graft_normsq", 1)(exprs => NormSqF(exprs.head)),
    "graft_cosine" -> arity("graft_cosine", 2)(cosine),
    "graft_intersect_card" -> arity("graft_intersect_card", 2)(exprs => IntersectCardSortedLong(exprs(0), exprs(1))),
    "graft_l1_dist" -> arity("graft_l1_dist", 2)(exprs => L1DistInt(exprs(0), exprs(1))))

  /** Register on an existing session (idempotent). */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, exprs => builder(exprs), "built-in")
    }
}
