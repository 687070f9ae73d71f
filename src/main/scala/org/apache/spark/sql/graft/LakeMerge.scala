package org.apache.spark.sql.graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, EqualTo, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.{Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, LogicalPlan, MergeAction, MergeIntoTable, Project, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{DataType, StructType}

import graft.operators.Pipeline
import graft.sources.lake.GraftLakeTable

/** SQL `MERGE INTO` on a graft-lake table, routed onto the SPARSE
  * deletion-vector commit paths:
  *
  * {{{
  *   MERGE INTO corpus t USING updates s ON t.doc_id = s.doc_id
  *   WHEN MATCHED THEN UPDATE SET *
  *   WHEN NOT MATCHED THEN INSERT *
  * }}}
  *
  * lands as ONE `merge` commit through
  * [[Pipeline.mergeIntoLakeSparse]]: matched pre-image rows tombstone
  * by deletion vector (zero survivor files rewritten), the upserts land
  * as genuinely-new data files, the CDC feed sees exactly the changes —
  * the same O(matched rows) write amplification the Scala path has,
  * now reachable from SQL/Python. `WHEN MATCHED THEN DELETE` (with no
  * insert branch) routes to [[Pipeline.deleteFromLakeSparse]] — the
  * tombstone-id-set form, stats-pruned by the source ids' bounds.
  *
  * Spark's own `MERGE` rewrite requires `SupportsRowLevelOperations` +
  * a full DSv2 delta-write machinery; this rule instead recognizes the
  * resolved [[MergeIntoTable]] over a [[GraftLakeTable]] relation during
  * analysis (the built-in rewrite ignores non-row-level tables) and
  * replaces it with a driver-routed command — one commit path, no
  * second write protocol. Supported shapes, refused LOUDLY otherwise
  * (never silently approximated):
  *
  *   - condition `t.<id> = s.<expr>` (either side order);
  *   - `WHEN MATCHED THEN UPDATE SET *` / explicit all-column SET with
  *     the SAME per-column expressions as the INSERT branch (upsert:
  *     matched rows are REPLACED by the source row — expressions may
  *     reference only the source);
  *   - `WHEN NOT MATCHED THEN INSERT *` / explicit all-column VALUES;
  *   - or `WHEN MATCHED THEN DELETE` alone.
  *
  * Duplicate source keys dedupe (last-writer-arbitrary) rather than
  * raising ANSI MERGE's cardinality error — documented divergence, the
  * upsert semantics of [[Pipeline.mergeIntoLakeSparse]].
  */
class ResolveLakeMerge(session: SparkSession) extends Rule[LogicalPlan] {

  private def lakeTable(plan: LogicalPlan): Option[GraftLakeTable] =
    EliminateSubqueryAliases(plan) match {
      case r: DataSourceV2Relation =>
        r.table match {
          case t: GraftLakeTable => Some(t)
          case _ => None
        }
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case m: MergeIntoTable if m.resolved && lakeTable(m.targetTable).isDefined =>
      convert(m, lakeTable(m.targetTable).get)
    case u: UpdateTable if u.resolved && lakeTable(u.table).isDefined =>
      convertUpdate(u, lakeTable(u.table).get)
  }

  /** Swap resolved attribute references for by-name unresolved ones, so
    * the expression re-binds against the command's own lake read at run
    * time (the original exprIds died with the analyzed relation). */
  private def unresolve(e: Expression): Expression = e.transform {
    case a: AttributeReference =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute.quoted(a.name)
  }

  /** `UPDATE lake SET col = expr, … WHERE pred` → ONE sparse commit
    * ([[Pipeline.updateLakeSparseWhere]]): matched rows tombstone by
    * deletion vector, the post-image rows land as new data files.
    * Assignments may reference the row's own columns. */
  private def convertUpdate(u: UpdateTable, table: GraftLakeTable): LogicalPlan = {
    if (table.lakePinned)
      refuse(s"cannot UPDATE a version/timestamp-pinned read of ${table.lakeDirPath}")
    val targetOut = u.table.outputSet
    val cond = u.condition.getOrElse(Literal.TrueLiteral)
    if (SubqueryExpression.hasSubquery(cond) ||
        u.assignments.exists(a => SubqueryExpression.hasSubquery(a.value)))
      refuse("UPDATE with subqueries is not supported")
    val sets = u.assignments.map {
      case Assignment(k: AttributeReference, v) if targetOut.contains(k) =>
        if (!v.references.subsetOf(targetOut))
          refuse(s"UPDATE assigns ${k.name} from outside the table")
        k.name -> unresolve(v)
      case Assignment(k, _) =>
        refuse(s"UPDATE assigns non-column ${k.sql} (nested fields unsupported)")
    }
    LakeUpdateCommand(table.lakeDirPath, ExprHolder(unresolve(cond)),
      sets.map { case (n, e) => (n, ExprHolder(e)) })
  }

  private def refuse(why: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft-lake MERGE INTO: $why. Supported: ON t.<id> = s.<expr> with any " +
        "combination of [WHEN MATCHED [AND cond] THEN UPDATE SET …|DELETE], " +
        "[WHEN NOT MATCHED [AND cond] THEN INSERT …] and [WHEN NOT MATCHED BY " +
        "SOURCE [AND cond] THEN UPDATE SET …|DELETE] — no subqueries in " +
        "conditions or assignments, no nested-field assignments, no WITH SCHEMA " +
        "EVOLUTION")

  private def convert(m: MergeIntoTable, table: GraftLakeTable): LogicalPlan = {
    if (table.lakePinned)
      refuse(s"cannot merge into a version/timestamp-pinned read of ${table.lakeDirPath}")
    if (m.withSchemaEvolution)
      refuse("WITH SCHEMA EVOLUTION is not supported (evolve through mergeSchema appends)")
    val targetOut = m.targetTable.outputSet
    val sourceOut = m.sourceTable.outputSet

    // ON t.<id> = s.<expr>: the target side must be a bare column (the
    // merge key the manifest stats prune on); the source side any
    // source-only expression
    val (idAttr, srcIdExpr) = m.mergeCondition match {
      case EqualTo(a: AttributeReference, b) if targetOut.contains(a) &&
          b.references.subsetOf(sourceOut) => (a, b)
      case EqualTo(b, a: AttributeReference) if targetOut.contains(a) &&
          b.references.subsetOf(sourceOut) => (a, b)
      case other => refuse(s"condition ${other.sql} is not t.<id> = s.<expr>")
    }

    val lakeSchema = DataType.fromJson(table.lakeManifest.schemaJson)
      .asInstanceOf[StructType]
    val partitionCols = table.lakePartitionCols

    /** The full-column source-only assignment map of the FAST upsert
      * shape, or None when the shape needs the general path. */
    def fullSourceMap(assigns: Seq[Assignment]): Option[Map[String, Expression]] = {
      val pairs = assigns.flatMap {
        case Assignment(k: AttributeReference, v)
            if targetOut.contains(k) && v.references.subsetOf(sourceOut) &&
              !SubqueryExpression.hasSubquery(v) =>
          Some(k.name -> v)
        case _ => None
      }
      val map = pairs.toMap
      if (pairs.size == assigns.size && lakeSchema.fieldNames.forall(map.contains))
        Some(map)
      else None
    }

    def fastUpsertMap(up: Seq[Assignment],
        ins: Seq[Assignment]): Option[Map[String, Expression]] =
      for {
        uM <- fullSourceMap(up)
        iM <- fullSourceMap(ins)
        if lakeSchema.fieldNames.forall(c => uM(c).semanticEquals(iM(c)))
      } yield uM

    (m.matchedActions, m.notMatchedActions, m.notMatchedBySourceActions) match {
      // FAST upsert: unconditional UPDATE SET * + INSERT * with the same
      // per-column source expressions — [[Pipeline.mergeIntoLakeSparse]]
      case (Seq(UpdateAction(None, up, _)), Seq(InsertAction(None, ins)), Seq())
          if fastUpsertMap(up, ins).isDefined =>
        val upMap = fastUpsertMap(up, ins).get
        val projected: Seq[NamedExpression] = lakeSchema.fields.toSeq.map { f =>
          Alias(Cast(upMap(f.name), f.dataType), f.name)()
        }
        LakeMergeIntoCommand(table.lakeDirPath, idAttr.name, partitionCols,
          Project(projected, m.sourceTable))
      // FAST pure delete: WHEN MATCHED THEN DELETE alone
      case (Seq(DeleteAction(None)), Seq(), Seq()) =>
        LakeDeleteMatchedCommand(table.lakeDirPath, idAttr.name,
          Project(Seq(Alias(srcIdExpr, idAttr.name)()), m.sourceTable))
      // GENERAL grammar: conditional clauses, split shapes, partial SET,
      // WHEN NOT MATCHED BY SOURCE — [[Pipeline.mergeIntoLakeGeneral]]
      case (matched, notMatched, nmbs) =>
        convertGeneral(m, table, idAttr.name, srcIdExpr,
          lakeSchema, targetOut, sourceOut, matched, notMatched, nmbs)
    }
  }

  /** Lower the general grammar onto [[LakeMergeGeneralCommand]]: every
    * condition/assignment is rewritten into BY-NAME expressions over the
    * runtime's DISAMBIGUATED join frame — target references become
    * `_t_<name>`, source references `_s_<name>` — so colliding
    * target/source column names (the normal MERGE case) re-bind
    * unambiguously. Scope rules enforced here, refused loudly: insert
    * clauses see only the source, not-matched-by-source clauses only the
    * target; no subqueries anywhere. */
  private def convertGeneral(m: MergeIntoTable, table: GraftLakeTable,
      idCol: String, srcIdExpr: Expression, lakeSchema: StructType,
      targetOut: org.apache.spark.sql.catalyst.expressions.AttributeSet,
      sourceOut: org.apache.spark.sql.catalyst.expressions.AttributeSet,
      matched: Seq[MergeAction], notMatched: Seq[MergeAction],
      nmbs: Seq[MergeAction]): LogicalPlan = {

    def dis(e: Expression, allowT: Boolean, allowS: Boolean, what: String): Expression = {
      if (SubqueryExpression.hasSubquery(e))
        refuse(s"$what contains a subquery")
      e.transform {
        case a: AttributeReference if targetOut.contains(a) =>
          if (!allowT) refuse(s"$what references target column ${a.name}, but only " +
            "source columns are in scope there")
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute.quoted("_t_" + a.name)
        case a: AttributeReference if sourceOut.contains(a) =>
          if (!allowS) refuse(s"$what references source column ${a.name}, but only " +
            "target columns are in scope there")
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute.quoted("_s_" + a.name)
      }
    }
    def setsOf(assigns: Seq[Assignment], allowT: Boolean, allowS: Boolean,
        what: String): Seq[(String, ExprHolder)] = {
      val pairs = assigns.map {
        case Assignment(k: AttributeReference, v) if targetOut.contains(k) =>
          k.name -> ExprHolder(dis(v, allowT, allowS, what))
        case Assignment(k, _) =>
          refuse(s"$what assigns non-column ${k.sql} (nested fields unsupported)")
      }
      val dup = pairs.groupBy(_._1).collect { case (n, g) if g.size > 1 => n }
      if (dup.nonEmpty) refuse(s"$what assigns ${dup.mkString(", ")} more than once")
      pairs
    }
    def clausesOf(actions: Seq[MergeAction], allowT: Boolean, allowS: Boolean,
        what: String): Seq[GeneralClause] = actions.map {
      case UpdateAction(c, assigns, _) =>
        GeneralClause(c.map(e => ExprHolder(dis(e, allowT, allowS, s"$what condition"))),
          delete = false, setsOf(assigns, allowT, allowS, s"$what UPDATE"))
      case DeleteAction(c) =>
        GeneralClause(c.map(e => ExprHolder(dis(e, allowT, allowS, s"$what condition"))),
          delete = true, Seq.empty)
      case InsertAction(c, assigns) =>
        GeneralClause(c.map(e => ExprHolder(dis(e, allowT, allowS, s"$what condition"))),
          delete = false, setsOf(assigns, allowT, allowS, s"$what INSERT"))
      case other => refuse(s"$what action ${other.getClass.getSimpleName} is not supported")
    }
    LakeMergeGeneralCommand(table.lakeDirPath, idCol,
      ExprHolder(dis(srcIdExpr, allowT = false, allowS = true, "ON condition")),
      clausesOf(matched, allowT = true, allowS = true, "WHEN MATCHED"),
      clausesOf(notMatched, allowT = false, allowS = true, "WHEN NOT MATCHED"),
      clausesOf(nmbs, allowT = true, allowS = false, "WHEN NOT MATCHED BY SOURCE"),
      m.sourceTable)
  }
}

/** The routed upsert: runs [[Pipeline.mergeIntoLakeSparse]] over the
  * source projection. A leaf command (the source plan re-enters query
  * planning inside `run` via `Dataset.ofRows`, getting its own
  * analysis/optimization pass). */
case class LakeMergeIntoCommand(lakeDir: String, idCol: String,
    partitionCols: Seq[String], updates: LogicalPlan) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(updates)
  override def run(session: SparkSession): Seq[Row] = {
    val classic = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    Pipeline.mergeIntoLakeSparse(classic, lakeDir,
      org.apache.spark.sql.classic.Dataset.ofRows(classic, updates),
      idCol, partitionCols)
    Seq.empty
  }
}

/** Opaque expression carrier: keeps the deliberately-UNRESOLVED
  * by-name expressions out of `QueryPlan.expressions`, so CheckAnalysis
  * does not reject the (fully intentional) unresolved attributes — they
  * re-bind against the command's own lake read at run time. */
case class ExprHolder(e: Expression)

/** The routed SQL UPDATE: [[Pipeline.updateLakeSparseWhere]] with the
  * condition and SET expressions re-bound by name over the lake read. */
case class LakeUpdateCommand(lakeDir: String, condition: ExprHolder,
    sets: Seq[(String, ExprHolder)]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    Pipeline.updateLakeSparseWhere(session, lakeDir,
      ColumnBridge.column(condition.e),
      sets.map { case (n, h) => n -> ColumnBridge.column(h.e) }.toMap)
    Seq.empty
  }
}

/** One lowered MERGE clause: by-name disambiguated condition +
  * assignments riding in [[ExprHolder]]s (intentionally unresolved —
  * they re-bind over the runtime join frame). */
case class GeneralClause(condition: Option[ExprHolder], delete: Boolean,
    sets: Seq[(String, ExprHolder)])

/** The routed full-grammar MERGE: [[Pipeline.mergeIntoLakeGeneral]]
  * over the source plan, clauses re-bound by name at run time. */
case class LakeMergeGeneralCommand(lakeDir: String, idCol: String, srcKey: ExprHolder,
    matched: Seq[GeneralClause], notMatched: Seq[GeneralClause],
    notMatchedBySource: Seq[GeneralClause],
    source: LogicalPlan) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(session: SparkSession): Seq[Row] = {
    val classic = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val src = org.apache.spark.sql.classic.Dataset.ofRows(classic, source)
    def cls(cs: Seq[GeneralClause]): Seq[Pipeline.MergeClause] =
      cs.map(c => Pipeline.MergeClause(
        c.condition.map(h => ColumnBridge.column(h.e)), c.delete,
        c.sets.map { case (n, h) => n -> ColumnBridge.column(h.e) }.toMap))
    Pipeline.mergeIntoLakeGeneral(classic, lakeDir, src, idCol,
      ColumnBridge.column(srcKey.e), cls(matched), cls(notMatched),
      cls(notMatchedBySource))
    Seq.empty
  }
}

/** The routed matched-delete: [[Pipeline.deleteFromLakeSparse]] with the
  * source's id projection as the tombstone set. */
case class LakeDeleteMatchedCommand(lakeDir: String, idCol: String,
    tombstones: LogicalPlan) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(tombstones)
  override def run(session: SparkSession): Seq[Row] = {
    val classic = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    Pipeline.deleteFromLakeSparse(classic, lakeDir,
      org.apache.spark.sql.classic.Dataset.ofRows(classic, tombstones),
      idCol, idCol)
    Seq.empty
  }
}
