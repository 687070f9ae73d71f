package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.v2.FileScanBuilder
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.StructType

import graft.operators.Lake

/** MANIFEST-STAT file skipping for the `graft-lake` DSv2 read: the scan
  * builder intercepts the catalyst filters Spark pushes down, translates
  * the simple range/equality conjuncts into [[Lake.ColBound]]s, prunes
  * the CANDIDATE FILE LIST against the per-file column min/max the delta
  * log recorded at audit time, and only then builds the native parquet
  * scan over the survivors — forwarding the same filters so row-group
  * pushdown still applies inside them.
  *
  * This is the file-skipping layer the manifest makes possible and the
  * parquet scan alone cannot: row-group statistics skip a
  * non-overlapping file's DATA but still open its footer, while the
  * manifest decides from the DRIVER-side stats without touching the file
  * at all. On a range-clustered 100 TB lake (`compactLake(sortCols)`
  * writes contiguous disjoint runs), a `WHERE id BETWEEN …` through
  * pure SQL now opens only the overlapping files — the same pruning
  * [[graft.operators.Pipeline.appendToLake]] already used internally.
  * Unknown predicates and unparseable values keep every file
  * (exactness-preserving, like all stats pruning here).
  *
  * Lives under `org.apache.spark.sql` because file-source pushdown runs
  * through the `private[sql]` catalyst-filter channel
  * ([[SupportsPushDownCatalystFilters]]) — the standard location for
  * Catalyst-extending libraries. */
class LakeStatPruningScanBuilder(
    st: Lake.LakeState,
    manifestSchema: StructType,
    options: org.apache.spark.sql.util.CaseInsensitiveStringMap,
    builderFor: Seq[String] => ScanBuilder)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownCatalystFilters {

  private var required: Option[StructType] = None
  private var inner: FileScanBuilder = _

  private def ensureInner(files: Seq[String]): FileScanBuilder = {
    if (inner == null) {
      inner = builderFor(files).asInstanceOf[FileScanBuilder]
      required.foreach(inner.pruneColumns)
    }
    inner
  }

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    val bounds = LakeStatPruning.boundsFrom(manifestSchema, filters)
    ensureInner(Lake.pruneByStats(st, bounds)).pushFilters(filters)
  }

  override def pushedFilters: Array[Predicate] =
    if (inner == null) Array.empty else inner.pushedFilters

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = Some(requiredSchema)
    if (inner != null) inner.pruneColumns(requiredSchema)
  }

  // no filters were pushed: the scan covers the full resolved file list
  override def build(): Scan = ensureInner(st.files).build()
}

object LakeStatPruning {
  /** The stats-prunable conjuncts of the pushed filters: top-level (and
    * nested `And`) range/equality comparisons between a plain attribute
    * and a foldable literal. Everything else contributes no bound —
    * pruning only ever gets weaker, never wrong. Literal values are
    * catalyst-internal (e.g. `UTF8String`), which stringify exactly as
    * [[Lake.pruneByStats]] compares them. */
  def boundsFrom(schema: StructType,
      filters: Seq[Expression]): Seq[Lake.ColBound] =
    boundsAndInsFrom(schema, filters)._1

  /** Like [[boundsFrom]], plus the IN-LIST conjuncts (`col IN (…)` /
    * optimizer-converted `InSet`) each as `(column, values)`: an IN
    * contributes a [min, max] range bound to stats pruning (sound under
    * conjunction — one bound per list, never one per value) AND its
    * value list for DISJUNCTIVE bloom probing (a file keeps iff any
    * value might be present — [[Lake.pruneByBloom]]'s native
    * semantics). Null list members are dropped: they can never select a
    * row. */
  def boundsAndInsFrom(schema: StructType,
      filters: Seq[Expression]): (Seq[Lake.ColBound], Seq[(String, Seq[Any])]) = {
    def attrName(e: Expression): Option[String] = e match {
      case a: Attribute => Some(a.name)
      case _ => None
    }
    def litValue(e: Expression): Option[Any] = e match {
      case Literal(v, _) if v != null => Some(v)
      case _ => None
    }
    def bound(a: Expression, v: Expression,
        mk: (String, org.apache.spark.sql.types.DataType, Any) => Lake.ColBound): Seq[Lake.ColBound] =
      (for {
        name <- attrName(a)
        value <- litValue(v)
        field <- schema.find(_.name == name)
      } yield mk(name, field.dataType, value)).toSeq
    def inContrib(a: Expression,
        values: Seq[Any]): (Seq[Lake.ColBound], Seq[(String, Seq[Any])]) = {
      val vs = values.filter(_ != null)
      (for {
        name <- attrName(a)
        field <- schema.find(_.name == name)
        if vs.nonEmpty &&
          org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(field.dataType)
      } yield {
        val ord = org.apache.spark.sql.catalyst.util.TypeUtils
          .getInterpretedOrdering(field.dataType)
        (Seq(Lake.ColBound(name, field.dataType, vs.min(ord), vs.max(ord))),
          Seq(name -> vs))
      }).getOrElse((Seq.empty, Seq.empty))
    }
    val parts = filters.map {
      case And(l, r) => boundsAndInsFrom(schema, Seq(l, r))
      case EqualTo(a, v) => (bound(a, v, (n, dt, x) => Lake.ColBound(n, dt, x, x)) ++
        bound(v, a, (n, dt, x) => Lake.ColBound(n, dt, x, x)), Seq.empty)
      // strict comparisons prune with their inclusive envelope — a file
      // whose max equals the strict lower bound survives; conservative
      case GreaterThan(a, v) => (bound(a, v, (n, dt, x) => Lake.ColBound(n, dt, x, null)) ++
        bound(v, a, (n, dt, x) => Lake.ColBound(n, dt, null, x)), Seq.empty)
      case GreaterThanOrEqual(a, v) => (bound(a, v, (n, dt, x) => Lake.ColBound(n, dt, x, null)) ++
        bound(v, a, (n, dt, x) => Lake.ColBound(n, dt, null, x)), Seq.empty)
      case LessThan(a, v) => (bound(a, v, (n, dt, x) => Lake.ColBound(n, dt, null, x)) ++
        bound(v, a, (n, dt, x) => Lake.ColBound(n, dt, x, null)), Seq.empty)
      case LessThanOrEqual(a, v) => (bound(a, v, (n, dt, x) => Lake.ColBound(n, dt, null, x)) ++
        bound(v, a, (n, dt, x) => Lake.ColBound(n, dt, x, null)), Seq.empty)
      case In(a, list) if list.forall(_.isInstanceOf[Literal]) =>
        inContrib(a, list.map(_.asInstanceOf[Literal].value))
      case is: InSet => inContrib(is.child, is.hset.toSeq)
      // nullness conjuncts prune against the per-file NULL COUNTS the
      // audit records (Lake.NullsStatSuffix): IS NULL drops zero-null
      // files, IS NOT NULL drops all-null files — Spark injects
      // IsNotNull under almost every comparison, so the latter rides
      // along for free on every filtered scan
      case IsNull(a) => ((for {
        name <- attrName(a); field <- schema.find(_.name == name)
      } yield Lake.ColBound(name, field.dataType, null, null,
          nullness = Some(true))).toSeq, Seq.empty)
      case IsNotNull(a) => ((for {
        name <- attrName(a); field <- schema.find(_.name == name)
      } yield Lake.ColBound(name, field.dataType, null, null,
          nullness = Some(false))).toSeq, Seq.empty)
      case _ => (Seq.empty, Seq.empty)
    }
    (parts.flatMap(_._1), parts.flatMap(_._2))
  }
}
