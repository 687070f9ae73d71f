package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{AppendData, DeleteFromTable, InsertIntoStatement, LogicalPlan, MergeIntoTable, OverwriteByExpression, OverwritePartitionsDynamic, Project, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType

import graft.sources.lake.GraftLakeTable

/** MANIFEST-STAT file skipping at the [[FileIndex]] grain — the Delta
  * `TahoeFileIndex` idiom: the wrapped index lists and partition-prunes
  * exactly as Spark's own `InMemoryFileIndex` does, and the data filters
  * `FileSourceScanExec` hands to `listFiles` at planning time
  * additionally prune WHOLE FILES against the per-file column min/max
  * the delta log recorded at audit time. This is what lets the
  * merge-on-read path keep BOTH the vectorized parquet
  * decode and the driver-side file skipping the DSv2 scan builder
  * provides on the clean path — pruning is delegated through `prune`
  * (built in [[graft.operators.Lake.readFiles]], where the manifest
  * stats live), so this class carries no lake state of its own.
  *
  * Whole-file pruning is sound under position-based deletion vectors:
  * dropping a file never disturbs row positions inside the survivors,
  * and the in-scan DV predicate ([[graft.plans.LakeDvKeep]]) keys on
  * `(file, pos)` of the surviving files only. `prune` returning `None`
  * (no usable bounds) keeps every file — pruning only ever gets
  * weaker, never wrong. */
private[sql] class LakeStatFileIndex(
    inner: FileIndex,
    prune: Seq[Expression] => Option[Set[String]])
    extends FileIndex {

  override def rootPaths: Seq[Path] = inner.rootPaths
  override def partitionSchema: StructType = inner.partitionSchema
  override def inputFiles: Array[String] = inner.inputFiles
  override def refresh(): Unit = inner.refresh()
  override def sizeInBytes: Long = inner.sizeInBytes

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val listed = inner.listFiles(partitionFilters, dataFilters)
    prune(dataFilters) match {
      case None => listed
      case Some(keep) =>
        listed.map { pd =>
          val kept = pd.files.filter(f => keep(f.getPath.toString))
          if (kept.length == pd.files.length) pd
          else PartitionDirectory.apply(pd.values, kept.map(_.fileStatus).toArray)
        }.filter(_.files.nonEmpty)
    }
  }
}

object LakeVectorRead {

  /** Swap the analyzed plan's `InMemoryFileIndex` for a
    * [[LakeStatFileIndex]] delegating to `prune`. The DataFrame's
    * schema, attributes and metadata columns are untouched — only the
    * planning-time file listing gains the manifest-stat skip. */
  def withStatPruning(df: DataFrame,
      prune: Seq[Expression] => Option[Set[String]]): DataFrame = {
    val classic = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val swapped = df.queryExecution.analyzed.transform {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        val fs = l.relation.asInstanceOf[HadoopFsRelation]
        l.copy(relation =
          fs.copy(location = new LakeStatFileIndex(fs.location, prune))(classic))
    }
    org.apache.spark.sql.classic.Dataset.ofRows(classic, swapped)
  }
}

/** Vectorized MERGE-ON-READ for the DSv2 read surfaces: replaces a
  * read-position [[DataSourceV2Relation]] over a lake table without a
  * batch read of its own (DV-bearing, column-mapped or mixed-layout
  * version — [[GraftLakeTable.lakeRowModeScan]])
  * with [[graft.operators.Lake]]'s own read plan, during analysis. The
  * format string, the named catalog and SQL views then all read through
  * the SAME plan `Lake.read` produces: a fully VECTORIZED parquet scan
  * (manifest-stat file skipping included, via [[LakeStatFileIndex]])
  * with the deletion vectors applied inside it by a predicate over
  * `(_metadata.file_path, row_index)` ([[graft.plans.LakeDvKeep]]),
  * which loads each file's positions in the task that reads the file —
  * no join, no driver-side position load, no position cap, whole-stage
  * codegen intact. This is the only batch read of such a table: in a
  * session built without the graft extensions its scan
  * ([[graft.sources.lake.LakeMorTable]]) refuses when it executes.
  *
  * DML and write nodes keep their TARGET relation on the DSv2 surface —
  * `DELETE`/`UPDATE`/`MERGE` resolution ([[ResolveLakeMerge]], the
  * `SupportsDelete` planning) and the append write builder all match on
  * the relation — so the rewrite applies to the READ positions only:
  * a merge's source, an insert's query, and every plain query. */
class VectorizeLakeMorRead(session: SparkSession) extends Rule[LogicalPlan] {

  private def rowMode(r: DataSourceV2Relation): Boolean = r.table match {
    case t: GraftLakeTable => t.lakeRowModeScan
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val needs = plan.exists {
      case r: DataSourceV2Relation => rowMode(r)
      case _ => false
    }
    if (needs) rewrite(plan) else plan
  }

  private def rewrite(plan: LogicalPlan): LogicalPlan = plan match {
    // row-level DML keeps its target relation (and its condition, which
    // re-binds over the command's own lake read) entirely DSv2-resolved
    case d: DeleteFromTable => d
    case u: UpdateTable => u
    case m: MergeIntoTable => m.copy(sourceTable = rewrite(m.sourceTable))
    // write nodes: only the incoming query is a read position
    case i: InsertIntoStatement => i.copy(query = rewrite(i.query))
    case a: AppendData => a.copy(query = rewrite(a.query))
    case o: OverwriteByExpression => o.copy(query = rewrite(o.query))
    case o: OverwritePartitionsDynamic => o.copy(query = rewrite(o.query))
    case r: DataSourceV2Relation if rowMode(r) => replace(r)
    case other => other.mapChildren(rewrite)
  }

  /** The relation's resolved manifest state read through `Lake.read`'s
    * plan, with the replacement's output aliased onto the ORIGINAL
    * attribute ids so everything already resolved against the relation
    * keeps binding. */
  private def replace(r: DataSourceV2Relation): LogicalPlan = {
    val t = r.table.asInstanceOf[GraftLakeTable]
    val df = graft.operators.Lake.readResolved(session, t.lakeDirPath, t.lakeManifest)
    val resolved =
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.analyzed
    val byName = resolved.output.map(a => a.name -> a).toMap
    Project(r.output.map { old =>
      Alias(byName(old.name), old.name)(exprId = old.exprId, qualifier = old.qualifier)
    }, resolved)
  }
}
