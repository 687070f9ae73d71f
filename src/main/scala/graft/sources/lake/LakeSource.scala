package graft.sources.lake

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, InsertableRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.Lake

/** DataSource V2 read surface for the manifest-resolved lake:
  *
  * {{{
  *   spark.read.format("graft-lake").load(lakeDir)                      // latest version
  *   spark.read.format("graft-lake").option("version", 3).load(lakeDir) // time travel
  *   spark.read.format("graft-lake")
  *     .option("timestampAsOf", "2026-08-13 12:00:00").load(lakeDir)    // by commit time
  * }}}
  *
  * Being a registered DSv2 source also puts the lake on the pure-SQL
  * surface:
  *
  * {{{
  *   CREATE TEMPORARY VIEW corpus
  *   USING `graft-lake` OPTIONS (path '/lakes/corpus', version '3')
  * }}}
  *
  * This puts [[Lake.read]] / [[Lake.readVersion]] behind a format string,
  * so SQL and Python users get manifest isolation and time travel without
  * calling Scala helpers. Resolution is the same code path the helpers
  * use — newest checkpoint plus a bounded delta replay — and the scan is
  * delegated to Spark's own `ParquetTable` over the resolved file list
  * with the manifest schema applied, so EVERYTHING the native parquet
  * source does survives intact: partition pruning over the resolved
  * files' directory values, predicate pushdown into row-group statistics,
  * column pruning, vectorized reading (PlanSpec pins the pruning and
  * pushdown through this source).
  *
  * The WRITE path routes through the same commit protocol as the Scala
  * helpers — never around it. `INSERT INTO` (or `df.writeTo(...).append`
  * / `df.write.mode("append").save`) lands as a stage → audit → publish
  * `append` commit ([[Lake.append]]): manifest-isolated, OCC-rebased,
  * CDC-visible, exactly like every other mutation. Everything that
  * CANNOT go through the protocol refuses loudly: overwrite modes (use
  * `Lake.init` / `restore`), inserts into a version- or
  * timestamp-pinned table (no writing into the past), and inserts into
  * an uninitialized directory (no layout to insert into).
  */
class LakeSource extends TableProvider with DataSourceRegister
    with CreatableRelationProvider {
  override def shortName(): String = "graft-lake"

  /** The V1 save path (`df.write.format("graft-lake").mode(m).save(p)`):
    * append routes through the commit protocol exactly like the DSv2
    * insert; every other mode refuses — overwriting a lake is
    * `Lake.init` / `Lake.restore`, never a format-string write. */
  override def createRelation(ctx: org.apache.spark.sql.SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): BaseRelation = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-lake requires a path: .save(lakeDir)"))
    if (mode != org.apache.spark.sql.SaveMode.Append)
      throw new UnsupportedOperationException(
        s"graft-lake: $mode writes bypass the commit protocol — only mode(\"append\") " +
          "routes through stage/audit/publish; replace a lake with Lake.init, roll it " +
          "back with Lake.restore")
    Lake.append(data.sparkSession, path, data,
      txn = LakeWrites.txnOf(k => parameters.find(_._1.equalsIgnoreCase(k)).map(_._2)))
    val sch = DataType.fromJson(
      Lake.currentState(data.sparkSession, path).schemaJson).asInstanceOf[StructType]
    new BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext = ctx
      override def schema: StructType = sch
    }
  }

  private def lakePath(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-lake requires a path: .load(lakeDir)"))

  /** Resolve the requested lake state: `version` or `timestampAsOf`
    * (epoch millis or `yyyy-MM-dd HH:mm:ss[.f]`) if asked — both with
    * [[Lake.readVersion]]'s loud vacuumed-history check — latest
    * otherwise. A manifest-less directory bootstraps like
    * [[Lake.currentState]] so the format also reads plain
    * `partitionBy` layouts. */
  private def resolve(options: CaseInsensitiveStringMap): (String, Lake.LakeState) = {
    val path = lakePath(options)
    val spark = SparkSession.active
    val asked: Option[Long] = (Option(options.get("version")), Option(options.get("timestampAsOf"))) match {
      case (Some(_), Some(_)) =>
        throw new IllegalArgumentException(
          "graft-lake: pass version OR timestampAsOf, not both")
      case (Some(v), None) =>
        Some(v.toLongOption.getOrElse(
          throw new IllegalArgumentException(s"graft-lake: version must be a long, got '$v'")))
      case (None, Some(t)) =>
        val tsMs = t.toLongOption.getOrElse {
          // SESSION time zone, like every other timestamp surface here
          // (the streaming source's startingTimestamp, partition casts)
          // — never the JVM default, which silently skews across hosts
          try {
            val zone = java.time.ZoneId.of(
              spark.sessionState.conf.sessionLocalTimeZone)
            java.time.LocalDateTime.parse(t.replace(' ', 'T'))
              .atZone(zone).toInstant.toEpochMilli
          } catch { case _: java.time.format.DateTimeParseException =>
            throw new IllegalArgumentException(
              s"graft-lake: timestampAsOf must be epoch millis or 'yyyy-MM-dd HH:mm:ss', got '$t'")
          }
        }
        Some(Lake.versionAtTimestamp(spark, path, tsMs))
      case (None, None) => None
    }
    val st = asked match {
      case Some(version) =>
        val resolved = Lake.stateAt(spark, path, version)
        val (fs, root) = {
          val p = new Path(path)
          val f = p.getFileSystem(spark.sessionState.newHadoopConf())
          (f, f.makeQualified(p))
        }
        // existence pre-check, [[Lake.readVersion]]'s own rule: a
        // PATH-LAZY state checks only its driver-resident tail plus the
        // DISTINCT DV sidecars — per-resident fs.exists would be
        // O(corpus) sequential driver RPCs and force the deferred list
        // (a genuinely missing resident still fails loudly at scan time
        // with the path named); eager states stay exact, and the
        // sidecar check catches a hand-deleted DV at resolution instead
        // of in the read's tasks
        val checkables: Iterator[String] = resolved.files match {
          case dfl: Lake.DeferredFiles =>
            dfl.tailAdded.iterator ++
              Lake.distinctLiveSidecars(spark, resolved.dvs).iterator
          case pf => pf.iterator ++
            Lake.distinctLiveSidecars(spark, resolved.dvs).iterator
        }
        val gone = checkables.filterNot(f => fs.exists(new Path(root, f))).toSeq
        if (gone.nonEmpty)
          throw new IllegalStateException(
            s"lake version $version is no longer reconstructible — " +
              s"${gone.size} file(s) vacuumed, e.g. ${gone.take(3).mkString(", ")}")
        resolved
      case None => Lake.currentState(spark, path)
    }
    (path, st)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    graft.operators.Lake.visible(
      DataType.fromJson(resolve(options)._2.schemaJson).asInstanceOf[StructType])

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val (path, st) = resolve(opts)
    val spark = SparkSession.active
    val pinned0 = opts.containsKey("version") || opts.containsKey("timestampAsOf")
    // two shapes the delegated vectorized ParquetTable scan cannot
    // serve: a DV-bearing version (position skipping) and a renamed
    // (column-mapped) lake (physical parquet names need aliasing back to
    // logical). Both resolve through [[LakeMorTable]] — whose READS the
    // injected rule ([[org.apache.spark.sql.graft.VectorizeLakeMorRead]])
    // re-plans onto Lake.read's vectorized scan (a session without the
    // graft extensions gets a loud refusal at execution), and whose
    // write/DML builders serve every session.
    val resolvedSchema = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
    // a MIXED-LAYOUT version (evolveLayout with both generations live)
    // also routes here: the delegated ParquetTable needs one uniform
    // directory layout for partition discovery, while Lake.read's
    // generation-grouped union (which the injected rule plans) does not
    // `dvMaybeNonEmpty` never forces a DEFERRED attachment map: an
    // ambiguous answer routes to LakeMorTable, whose reads the injected
    // rule re-plans onto the vectorized scan either way — a false
    // positive costs nothing on a clean lake beyond taking that route
    if (graft.operators.Lake.dvMaybeNonEmpty(st.dvs) ||
        graft.operators.Lake.hasMapping(resolvedSchema) ||
        resolvedSchema.exists(graft.operators.Lake.isDropped) ||
        graft.operators.Lake.layoutGenerationsOf(st).size > 1)
      return new LakeMorTable(s"graft-lake $path@v${st.version} (merge-on-read)",
        path, st, pinned0)
    val root = {
      val p = new Path(path)
      p.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(p)
    }
    val manifestSchema = graft.operators.Lake.visible(
      DataType.fromJson(st.schemaJson).asInstanceOf[StructType])
    // basePath makes the resolved files' partition directories parse back
    // into partition columns exactly as a directory read would; the
    // manifest schema pins their recorded types
    val scanOpts = new util.HashMap[String, String](properties)
    scanOpts.put("basePath", root.toString)
    scanOpts.remove("path")
    def tableFor(files: Seq[String]) = ParquetTable(
      s"graft-lake $path@v${st.version}",
      spark,
      new CaseInsensitiveStringMap(scanOpts),
      files.map(f => new Path(root, f).toString),
      Some(manifestSchema),
      classOf[ParquetFileFormat])
    new LakeTable(tableFor(st.files), path, pinned0, st, manifestSchema,
      (files, o) => tableFor(files).newScanBuilder(o))
  }
}

/** Marker + accessor surface identifying a DSv2 table as a graft lake —
  * what the injected `MERGE INTO` resolution rule
  * ([[org.apache.spark.sql.graft.ResolveLakeMerge]]) matches on to route
  * row-level SQL onto the sparse commit paths. Public (the rule lives in
  * another package); implemented by both the clean-path [[LakeTable]]
  * and [[LakeMorTable]]. */
trait GraftLakeTable {
  /** The lake's root directory (the commit target). */
  def lakeDirPath: String
  /** True when resolved with version/timestampAsOf (mutations refuse). */
  def lakePinned: Boolean
  /** The resolved manifest state this table reads. */
  def lakeManifest: Lake.LakeState
  /** The lake layout's partition columns (in path order). */
  def lakePartitionCols: Seq[String] = Lake.partitionColsOf(lakeManifest)
  /** True when this table has no batch read of its own (a DV-bearing,
    * column-mapped or mixed-layout resolved version, [[LakeMorTable]]):
    * the signal the injected
    * [[org.apache.spark.sql.graft.VectorizeLakeMorRead]] rule matches to
    * plan the read as `Lake.read`'s vectorized scan. Without the graft
    * extensions such a read refuses when it executes. */
  def lakeRowModeScan: Boolean = false
}

/** Wrapper around the resolved-file-list `ParquetTable`: reads delegate
  * to the native parquet scan — behind a manifest-stat FILE-skipping
  * layer when the log recorded per-file column stats
  * ([[org.apache.spark.sql.graft.LakeStatPruningScanBuilder]]: pushed
  * range/equality predicates prune the candidate file list driver-side
  * before a single footer opens) — and writes route through the commit
  * protocol as a V1 insert ([[Lake.append]]). */
private[lake] class LakeTable(inner: ParquetTable, path: String, pinned: Boolean,
    st: Lake.LakeState, manifestSchema: StructType,
    builderFor: (Seq[String], CaseInsensitiveStringMap) => ScanBuilder)
    extends Table with SupportsRead with SupportsWrite with LakeDeletes
    with GraftLakeTable {
  override def lakeDirPath: String = path
  override def lakePinned: Boolean = pinned
  override def lakeManifest: Lake.LakeState = st
  override protected def deleteLakeDir: String = path
  override protected def deletePinned: Boolean = pinned
  override def name(): String = inner.name
  override def schema(): StructType = inner.schema
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // a lazily-resolved state holds NO driver stats but its checkpoint
    // entries still prune — stat pruning stays on whenever either side
    // has something to say
    if (st.stats.isEmpty && st.cpLazy.isEmpty) inner.newScanBuilder(options)
    else new org.apache.spark.sql.graft.LakeStatPruningScanBuilder(
      st, manifestSchema, options, files => builderFor(files, options))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    LakeWrites.newWriteBuilder(path, pinned, info)
}

/** The protocol-routed V1 write builder shared by the clean-path and
  * merge-on-read tables: inserts land as [[Lake.append]] commits;
  * version/timestamp-pinned tables and overwrite modes refuse. */
private[lake] object LakeWrites {

  /** Parse the Delta-style idempotent-write pair from write options:
    * `txnAppId` + `txnVersion` tag the commit so a replay of the same
    * (app, version) skips ([[Lake.LakeState.txns]]). Both-or-neither —
    * half a tag is a misconfigured retry loop, refused loudly. */
  private[lake] def txnOf(opt: String => Option[String]): Option[(String, Long)] =
    (opt("txnAppId"), opt("txnVersion")) match {
      case (Some(a), Some(v)) =>
        Some((a, v.toLongOption.getOrElse(throw new IllegalArgumentException(
          s"graft-lake: txnVersion must be a long, got '$v'"))))
      case (None, None) => None
      case _ => throw new IllegalArgumentException(
        "graft-lake: txnAppId and txnVersion must be set together — an idempotent " +
          "write is tagged by the (application id, monotonic version) pair")
    }

  def newWriteBuilder(path: String, pinned: Boolean, info: LogicalWriteInfo): WriteBuilder = {
    if (pinned)
      throw new UnsupportedOperationException(
        s"graft-lake: cannot INSERT into a version/timestamp-pinned read of $path — " +
          "writes go to the lake's head")
    val txn = txnOf(k => Option(info.options.get(k)))
    new WriteBuilder {
      // no SupportsTruncate/SupportsOverwrite: every overwrite mode
      // refuses with Spark's standard error — overwriting a lake is
      // Lake.init / Lake.restore, never a format-string write
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                overwrite: Boolean): Unit = {
              if (overwrite)
                throw new UnsupportedOperationException(
                  s"graft-lake: overwrite writes bypass the commit protocol — use " +
                    "Lake.init (replace) or Lake.restore (roll back) instead")
              Lake.append(SparkSession.active, path, data, txn = txn)
            }
          }
        // `writeStream.format("graft-lake").start(path)` / `.toTable`
        // — the exactly-once streaming write ([[LakeStreamingWrites]])
        override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
          LakeStreamingWrites.create(path, info.queryId(), info.schema(),
            k => Option(info.options.get(k)))
      }
    }
  }
}
