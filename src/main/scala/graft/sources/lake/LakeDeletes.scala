package graft.sources.lake

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.connector.catalog.SupportsDelete
import org.apache.spark.sql.functions.{col, lit, not}
import org.apache.spark.sql.sources._

import graft.operators.Pipeline

/** SQL row-level DELETE on the lake's DSv2 surface:
  *
  * {{{
  *   DELETE FROM corpus WHERE doc_id >= 5000 AND doc_id < 20000
  * }}}
  *
  * routes through the SPARSE deletion-vector commit path
  * ([[Pipeline.deleteFromLakeSparseWhere]]) — the lake's best
  * write-amplification property, previously Scala-only: the statement
  * lands as ONE protocol commit attaching `(file, pos)` tombstones,
  * never rewriting a survivor file (describeHistory shows zero file
  * removes), with the purged pre-image in the change-feed sidecar and
  * the predicate's range/equality conjuncts pruning the candidate file
  * list against the manifest stats before a single row is read.
  *
  * Spark plans `DELETE FROM` on a [[SupportsDelete]] table only when the
  * WHOLE condition translates to source filters (exactness requires
  * deleting every matching row); untranslatable conditions refuse with
  * Spark's standard cannot-delete error. The translated filters convert
  * back to one `Column` predicate here — the sparse path re-evaluates
  * them row-by-row against the scan, so the delete's semantics are the
  * filter semantics, not an approximation. `DELETE FROM t` with no WHERE
  * arrives as `AlwaysTrue` and tombstones every row — correct, but the
  * pathological shape for vectors; prefer `Lake.init` for a reset.
  *
  * Mixed into both the clean-path [[LakeTable]] and [[LakeMorTable]]
  * (DV-bearing, column-mapped and mixed-layout versions), so
  * consecutive deletes (the second against a DV-bearing version) both
  * work, with or without the graft extensions; version/timestamp-pinned reads refuse
  * (no deleting from the past).
  */
private[lake] trait LakeDeletes extends SupportsDelete {
  /** The lake's root directory (the commit target). */
  protected def deleteLakeDir: String
  /** True when this table was resolved with version/timestampAsOf. */
  protected def deletePinned: Boolean

  override def deleteWhere(filters: Array[Filter]): Unit = {
    if (deletePinned)
      throw new UnsupportedOperationException(
        s"graft-lake: cannot DELETE FROM a version/timestamp-pinned read of " +
          s"$deleteLakeDir — mutations go to the lake's head")
    val pred = filters.map(LakeDeletes.toColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    Pipeline.deleteFromLakeSparseWhere(SparkSession.active, deleteLakeDir, pred)
  }
}

private[lake] object LakeDeletes {
  /** One V1 source filter as the equivalent `Column` predicate (the
    * inverse of Spark's filter translation — same tri-valued null
    * semantics, since both sides are catalyst comparisons over the same
    * columns). Filters Spark can produce but this list doesn't cover
    * refuse loudly — silently dropping a conjunct would delete too much. */
  def toColumn(f: Filter): Column = f match {
    case EqualTo(a, v) => col(a) === lit(v)
    case EqualNullSafe(a, v) => col(a) <=> lit(v)
    case GreaterThan(a, v) => col(a) > lit(v)
    case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
    case LessThan(a, v) => col(a) < lit(v)
    case LessThanOrEqual(a, v) => col(a) <= lit(v)
    case In(a, vs) => col(a).isin(vs.toIndexedSeq: _*)
    case IsNull(a) => col(a).isNull
    case IsNotNull(a) => col(a).isNotNull
    case And(l, r) => toColumn(l) && toColumn(r)
    case Or(l, r) => toColumn(l) || toColumn(r)
    case Not(c) => not(toColumn(c))
    case StringStartsWith(a, v) => col(a).startsWith(v)
    case StringEndsWith(a, v) => col(a).endsWith(v)
    case StringContains(a, v) => col(a).contains(v)
    case _: AlwaysTrue => lit(true)
    case _: AlwaysFalse => lit(false)
    case other =>
      throw new UnsupportedOperationException(
        s"graft-lake: DELETE filter $other has no Column translation — " +
          "restate the condition with comparisons, IN, null checks, or string matches")
  }
}
