package graft.sources.lake

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, UnsafeProjection}
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.graft.TaskHadoopConf
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType, StructType}

import graft.operators.Lake

/** The DSv2 STREAMING WRITE — `df.writeStream.format("graft-lake")
  * .start(lakeDir)` and `df.writeStream.toTable("graft_lake.t")` both
  * land here (the table declares `STREAMING_WRITE`):
  *
  *   - EXECUTORS write the micro-batch: each task routes its rows to
  *     per-partition parquet files (the same Hive `col=value/` layout
  *     and PHYSICAL column names every protocol write uses — partition
  *     values live in paths, not files), casting the query's columns
  *     into the lake's schema through one codegen'd projection. Files
  *     land under their final partition directories with unique
  *     epoch/task-stamped names — INVISIBLE to every reader until the
  *     manifest commit, because reads are manifest-isolated (a crash
  *     strands reclaimable orphans, never half-visible data).
  *   - The DRIVER's `commit(epochId, …)` is one protocol commit:
  *     audit read-back of the staged files against the writers' own
  *     counts, then an OCC-rebased `append` delta tagged
  *     `(streaming-sink-<queryId>, epochId)` in the transaction
  *     watermark ([[Lake.LakeState.txns]]) — so Spark's at-least-once
  *     batch replay after a crash is detected from the manifest alone
  *     and skipped, the Delta `DeltaSink` discipline (Armbrust et al.,
  *     VLDB 2020) carried onto a genuinely distributed write path (no
  *     driver-side re-planning of the batch).
  *
  * `option("compactEvery", n)` folds maintenance in: after every n-th
  * epoch commit, partitions holding more than
  * `compactMaxFilesPerPartition` files bin-pack through
  * [[graft.operators.Pipeline.compactLake]] (history retained, so
  * incremental consumers stay exact) — the bound
  * [[graft.streaming.DocStream.ingestToLake]] offers its foreachBatch
  * form, here with no user code at all.
  *
  * Transform layouts (`days(ts)`, `bucket(n, id)`, …) stream natively:
  * the batch path's level-rendering formulas are analyzed once per
  * epoch over the lake schema and their bound expressions ride to the
  * writers, so a streamed row lands in exactly the directory a batch
  * `appendToLake` would choose — the canonical 100 TB shape (events
  * streaming into an hours(ts) lake) needs no foreachBatch detour.
  *
  * Contract, refused loudly at stream start: the target must already
  * be a lake (the sink never invents a layout); the query's columns
  * must be exactly the lake's visible columns (castable types — there
  * is no merge-schema evolution mid-stream); writer-side `partitionBy`
  * refuses (the lake's committed layout is authoritative). Output
  * modes other than Append refuse through Spark's own capability
  * check (no truncate / streaming-update surface is declared). */
private[lake] object LakeStreamingWrites {

  /** Validate and build — called from the write builder's
    * `toStreaming` at stream start. */
  def create(lakeDir: String, queryId: String, querySchema: StructType,
      options: String => Option[String]): StreamingWrite = {
    val spark = SparkSession.active
    val st = Lake.latestManifest(spark, lakeDir).getOrElse(
      throw new IllegalArgumentException(
        s"graft-lake sink: $lakeDir is not a lake — initialize it first (Lake.init / " +
          "Pipeline.ingestToLake / catalog CREATE TABLE); the sink never invents a layout"))
    val full = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
    val visible = Lake.visible(full)
    // column matching follows the session's resolver (spark.sql.
    // caseSensitive semantics, like the batch align-cast path): a
    // stream whose casing differs from the lake's still binds
    val resolver = spark.sessionState.analyzer.resolver
    val missing = visible.fieldNames.filterNot(n =>
      querySchema.fieldNames.exists(resolver(_, n)))
    val extra = querySchema.fieldNames.filterNot(n =>
      visible.fieldNames.exists(resolver(_, n)))
    if (missing.nonEmpty || extra.nonEmpty)
      throw new IllegalArgumentException(
        s"graft-lake sink: the stream's columns must be exactly the lake's " +
          s"(lake-only: ${missing.mkString(", ")}; stream-only: ${extra.mkString(", ")}) — " +
          "schema evolution does not happen mid-stream; evolve the lake first " +
          "(appendToLake(mergeSchema = true)), then restart")
    // the documented contract is "castable types refused loudly at
    // stream start" — enforce it HERE, not as an unresolved-Cast codegen
    // failure on an executor at the first micro-batch. The table must
    // match the EVAL MODE the writer projection will resolve under:
    // ANSI (the Spark 4 default) forbids pairs the legacy table allows
    // (date->long, timestamp->boolean), so checking canCast alone would
    // re-open exactly the mid-stream failure this closes
    val ansi = spark.sessionState.conf.ansiEnabled
    def castable(from: org.apache.spark.sql.types.DataType,
        to: org.apache.spark.sql.types.DataType): Boolean =
      if (ansi) Cast.canAnsiCast(from, to) else Cast.canCast(from, to)
    val uncastable = visible.flatMap { f =>
      querySchema.find(q => resolver(q.name, f.name))
        .filterNot(q => castable(q.dataType, f.dataType))
        .map(q => s"${f.name}: ${q.dataType.simpleString} -> ${f.dataType.simpleString}")
    }
    if (uncastable.nonEmpty)
      throw new IllegalArgumentException(
        s"graft-lake sink: stream column type(s) cannot cast to the lake's " +
          s"(${uncastable.mkString("; ")}) — fix the stream's projection")
    // writer-side partitionBy arrives (when it arrives at all) as the
    // serialized option Spark's v2 writers use; the lake's committed
    // layout is authoritative, so silently accepting a different one
    // would mislead — refuse
    options("__partition_columns").foreach(cols =>
      throw new UnsupportedOperationException(
        s"graft-lake sink: partitionBy is not supported — the lake's committed " +
          s"layout is authoritative; rows route to partition directories by their " +
          s"column values (requested: $cols)"))
    // the per-row directory rendering — identity AND transform levels
    // (`days(ts)`, `bucket(n, id)`, …): the batch path's own rendering
    // Columns are ANALYZED over a dummy relation carrying the lake
    // schema, and the resolved expressions (session-tz casts, hash
    // seed, format patterns — whatever the analyzer inserted) bind to
    // the lake-row ordinals. Write-path PARITY by construction: a row
    // streamed into a days(ts) lake lands in exactly the directory the
    // batch append would choose. Identity partition columns stay
    // path-resident (excluded from data files); transform SOURCES stay
    // in the footers — same split as [[Lake.stageWrite]].
    val layoutSpecs = Lake.layoutSpecsOf(st)
    val levelNames = layoutSpecs.map(Lake.parseLayoutField(_).levelName)
    val partCols = Lake.partitionColsOf(st)
    val boundLevelExprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
      if (layoutSpecs.isEmpty) Seq.empty
      else {
        val dummy = spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), visible)
        val rendered = dummy.select(
          Lake.levelRenderCols(visible, layoutSpecs).map { case (n, c) => c.as(n) }: _*)
        rendered.queryExecution.analyzed match {
          case p: org.apache.spark.sql.catalyst.plans.logical.Project
              if p.child.output.map(_.name) == visible.fieldNames.toSeq =>
            val exprs = p.projectList.map {
              case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
              case e => e
            }
            exprs.map(org.apache.spark.sql.catalyst.expressions.BindReferences
              .bindReference(_,
                org.apache.spark.sql.catalyst.expressions.AttributeSeq(p.child.output)))
          case other => throw new IllegalStateException(
            s"graft-lake sink: unexpected level-rendering plan shape: $other")
        }
      }
    def intOpt(k: String, dflt: Int): Int =
      options(k).map(v => v.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"graft-lake sink: $k must be an int, got '$v'"))).getOrElse(dflt)
    def longOpt(k: String, dflt: Long): Long =
      options(k).map(v => v.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"graft-lake sink: $k must be a long, got '$v'"))).getOrElse(dflt)

    // the executor-side parquet conf: the session's hadoop conf (which
    // carries every explicitly-set spark.sql entry) plus the write keys
    // Spark's own parquet prepareWrite pins, so the staged files are
    // indistinguishable from the batch path's
    val sql = spark.sessionState.conf
    val conf = spark.sessionState.newHadoopConf()
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sql.getConf(SQLConf.PARQUET_WRITE_LEGACY_FORMAT).toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sql.getConf(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE).toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sql.getConf(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED).toString)
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sql.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sql.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sql.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    val codec = CompressionCodecName.fromConf(
      sql.getConf(SQLConf.PARQUET_COMPRESSION).toUpperCase(java.util.Locale.ROOT))
    // data files exclude partition columns and spell PHYSICAL names
    // (column mapping); ParquetWriteSupport reads the schema from the
    // conf, so it rides to the tasks with it
    val dataSchema = StructType(visible.filterNot(f => partCols.contains(f.name)))
    val physDataSchema = Lake.toPhysical(dataSchema)
    ParquetWriteSupport.setSchema(physDataSchema, conf)
    // a bloomed lake blooms its STREAMED files too (the batch path's
    // writeContext options, by physical name) — otherwise every epoch's
    // files are invisible to the index and a point lookup re-reads the
    // streamed tail forever
    Lake.bloomOptions(spark,
      st.bloomCols.flatMap(c => visible.find(_.name == c))
        .map(Lake.physicalName))
      .foreach { case (k, v) => conf.set(k, v) }

    val qualified = {
      val p = new Path(lakeDir)
      p.getFileSystem(conf).makeQualified(p).toString
    }
    // resolve each lake column's query-row ordinal ONCE, driver-side,
    // under the session resolver — executors never re-do name matching
    val queryIdx = visible.map(f =>
      querySchema.fieldNames.indexWhere(resolver(_, f.name)))
    new LakeStreamingWrite(qualified, queryId, querySchema, queryIdx, visible, partCols,
      layoutSpecs, levelNames, boundLevelExprs,
      TaskHadoopConf(conf), sql.sessionLocalTimeZone, codec.name(),
      compactEvery = intOpt("compactEvery", 0),
      compactMaxFilesPerPartition = intOpt("compactMaxFilesPerPartition", 8),
      compactTargetRowsPerFile = longOpt("compactTargetRowsPerFile", 4000000L),
      maxOpenWriters = {
        val n = intOpt("maxOpenWriters", {
          val raw = sql.getConfString("spark.graft.lake.sink.maxOpenWriters", "16")
          raw.toIntOption.getOrElse(throw new IllegalArgumentException(
            s"graft-lake sink: spark.graft.lake.sink.maxOpenWriters must be an int, got '$raw'"))
        })
        if (n <= 0) throw new IllegalArgumentException(
          s"graft-lake sink: maxOpenWriters must be positive, got $n")
        n
      })
  }
}

private[lake] final case class LakeFilesMessage(files: Seq[(String, Long)])
    extends WriterCommitMessage

private[lake] class LakeStreamingWrite(qualifiedLakeDir: String, queryId: String,
    querySchema: StructType, queryIdx: Seq[Int],
    lakeVisible: StructType, partCols: Seq[String],
    layoutSpecs: Seq[String], levelNames: Seq[String],
    boundLevelExprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    taskConf: TaskHadoopConf, tz: String, codecName: String,
    compactEvery: Int, compactMaxFilesPerPartition: Int,
    compactTargetRowsPerFile: Long, maxOpenWriters: Int) extends StreamingWrite {

  private val appId = s"streaming-sink-$queryId"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new LakeStreamingWriterFactory(qualifiedLakeDir, querySchema, queryIdx,
      lakeVisible, partCols, levelNames, boundLevelExprs, taskConf, tz, codecName,
      maxOpenWriters)

  private def stagedOf(messages: Array[WriterCommitMessage]): Seq[(String, Long)] =
    messages.toSeq.collect { case LakeFilesMessage(fs) => fs }.flatten

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val staged = stagedOf(messages)
    val base = Lake.adopt(spark, qualifiedLakeDir)
    // the partition layout was captured ONCE at stream start and the
    // epoch's files are already staged under it — if a repartition
    // changed the lake's layout mid-stream, committing would mix
    // directory layouts; fail the query loudly instead (publish's OCC
    // rebase backstops the same check)
    val liveCols = Lake.levelNamesOf(base) // transform-aware level names
    if (base.files.nonEmpty && liveCols != levelNames) {
      deleteStaged(staged)
      throw new IllegalStateException(
        s"graft-lake sink: the lake's partition layout changed mid-stream — " +
          s"stream writes [${levelNames.mkString(", ")}], lake now " +
          s"[${liveCols.mkString(", ")}] (repartitionLake/evolveLayout ran); " +
          "restart the stream to adopt the new layout")
    }
    // the watermark check is also re-run inside publish's OCC rebase;
    // this early exit keeps a replayed epoch from paying the audit read
    if (base.txns.get(appId).exists(_ >= epochId)) {
      deleteStaged(staged)
      return
    }
    if (staged.nonEmpty) {
      val expected = staged.map(_._2).sum
      // CHECK constraints gate the epoch exactly like a batch append:
      // the staged read-back is verified BEFORE the manifest moves, and
      // a violating micro-batch deletes its files and fails the query
      try Lake.enforceChecks(base,
        Lake.readFiles(spark, qualifiedLakeDir, base.schemaJson, staged.map(_._1)))
      catch { case e: Throwable => deleteStaged(staged); throw e }
      val (rows, stats) = Lake.auditStaged(spark, qualifiedLakeDir,
        base.schemaJson, staged.map(_._1), Seq.empty)
      Lake.publish(spark, Lake.StagedCommit(qualifiedLakeDir, base, "append",
        base.schemaJson, Seq.empty, staged.map(_._1), rows, expected, stats,
        txn = Some((appId, epochId))))
    }
    if (compactEvery > 0 && (epochId + 1) % compactEvery == 0)
      graft.operators.Pipeline.compactLake(spark, qualifiedLakeDir,
        maxFilesPerPartition = compactMaxFilesPerPartition,
        targetRowsPerFile = compactTargetRowsPerFile,
        partitionCols = layoutSpecs, retainHistory = true)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    deleteStaged(stagedOf(messages))

  private def deleteStaged(staged: Seq[(String, Long)]): Unit = {
    val root = new Path(qualifiedLakeDir)
    val fs = root.getFileSystem(taskConf.value)
    staged.foreach { case (rel, _) => fs.delete(new Path(root, rel), false) }
  }
}

private[lake] class LakeStreamingWriterFactory(qualifiedLakeDir: String,
    querySchema: StructType, queryIdx: Seq[Int],
    lakeVisible: StructType, partCols: Seq[String], levelNames: Seq[String],
    boundLevelExprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    taskConf: TaskHadoopConf, tz: String, codecName: String,
    maxOpenWriters: Int)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new LakeDataWriter(qualifiedLakeDir, querySchema, queryIdx, lakeVisible, partCols,
      levelNames, boundLevelExprs, taskConf.value, tz, codecName, partitionId, taskId, epochId,
      maxOpenWriters)
}

/** One task's writer: casts query rows into the lake schema, routes
  * each to its partition directory's open parquet writer (files named
  * `part-<epoch>-<task>-<uuid>` — unique across replays and tasks),
  * and reports `(relative path, rows)` per file at task commit. */
private[lake] class LakeDataWriter(qualifiedLakeDir: String,
    querySchema: StructType, queryIdx: Seq[Int],
    lakeVisible: StructType, partCols: Seq[String], levelNames: Seq[String],
    boundLevelExprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    conf: Configuration, tz: String, codecName: String,
    partitionId: Int, taskId: Long, epochId: Long,
    maxOpenWriters: Int = 16)
    extends DataWriter[InternalRow] {

  // query row -> lake row: reorder + cast in one codegen'd projection;
  // ordinals were resolved driver-side under the session resolver
  private val toLake = UnsafeProjection.create(
    lakeVisible.zipWithIndex.map { case (f, j) =>
      val i = queryIdx(j)
      Cast(BoundReference(i, querySchema(i).dataType, nullable = true),
        f.dataType, Some(tz))
    })
  private val dataIdx =
    lakeVisible.fields.indices.filterNot(i => partCols.contains(lakeVisible(i).name))
  private val dataProj = UnsafeProjection.create(dataIdx.map(i =>
    BoundReference(i, lakeVisible(i).dataType, nullable = true)))
  // directory-level values — identity levels cast to string exactly as
  // Lake.partitionDir does, transform levels through the batch path's
  // ANALYZED rendering expressions (bound to lake-row ordinals driver
  // side) — then Hive escaping. One codegen'd projection per task.
  private val partStr = UnsafeProjection.create(boundLevelExprs)

  private val root = new Path(qualifiedLakeDir)
  private val codec = CompressionCodecName.valueOf(codecName)
  // open writers are CAPPED per task: each buffers up to a parquet row
  // group, so an unclustered stream into a high-cardinality layout
  // (bucket(64, id)) would otherwise hold cardinality x row-group
  // memory per task. At the cap the least-recently-WRITTEN file closes
  // and ROLLS — a later row for that directory opens a fresh file.
  // More, smaller files is the recoverable cost (compactLake /
  // option("compactEvery") is the small-file path; memory has none).
  // Insertion order in `open` is maintained as recency order by
  // re-inserting on access, so `open.head` is the eviction victim.
  private val open = mutable.LinkedHashMap[String, (ParquetWriter[InternalRow], String)]()
  private val rolledRels = mutable.ArrayBuffer[String]() // closed-early files, for abort
  private val counts = mutable.LinkedHashMap[String, Long]()

  private class RowWriterBuilder(p: Path)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](p) {
    override def getWriteSupport(c: Configuration) = new ParquetWriteSupport
    override def self(): RowWriterBuilder = this
  }

  // the lake's bloom columns ride in as the batch path's own conf keys
  // (`parquet.bloom.filter.enabled#<phys>`); ParquetWriter.Builder does
  // NOT read column-suffixed keys from a conf (only ParquetOutputFormat
  // does), so they re-apply here as explicit builder settings — the
  // streamed files' footers are indistinguishable from a batch append's
  private val bloomCols: Seq[String] = {
    import scala.jdk.CollectionConverters._
    conf.iterator().asScala.map(_.getKey)
      .filter(_.startsWith("parquet.bloom.filter.enabled#"))
      .filter(k => conf.getBoolean(k, false))
      .map(_.stripPrefix("parquet.bloom.filter.enabled#")).toList
  }
  private val bloomFpp = conf.getDouble("parquet.bloom.filter.fpp", 0.01)
  private val bloomMaxBytes = conf.getInt("parquet.bloom.filter.max.bytes", 1024 * 1024)
  private def withBlooms(b: RowWriterBuilder): RowWriterBuilder = {
    if (bloomCols.nonEmpty) {
      b.withAdaptiveBloomFilterEnabled(true)
      b.withMaxBloomFilterBytes(bloomMaxBytes)
      bloomCols.foreach { c =>
        b.withBloomFilterEnabled(c, true)
        b.withBloomFilterFPP(c, bloomFpp)
      }
    }
    b
  }

  private def dirOf(lakeRow: InternalRow): String = {
    if (levelNames.isEmpty) return ""
    val strs = partStr(lakeRow)
    levelNames.indices.map { i =>
      val v = if (strs.isNullAt(i)) null else strs.getUTF8String(i).toString
      ExternalCatalogUtils.getPartitionPathString(levelNames(i), v)
    }.mkString("/")
  }

  // consecutive rows overwhelmingly share a partition (range-clustered
  // and per-partition-shuffled inputs are fully contiguous) — remember
  // the last route so the common case skips the map and the counter
  private var lastDir: String = null
  private var lastWriter: ParquetWriter[InternalRow] = _
  private var lastRel: String = _
  private var lastCount: Long = 0L
  private def flushLast(): Unit =
    if (lastDir != null && lastCount > 0) {
      counts.update(lastRel, counts.getOrElse(lastRel, 0L) + lastCount)
      lastCount = 0L
    }

  override def write(row: InternalRow): Unit = {
    val lakeRow = toLake(row)
    val dir = dirOf(lakeRow)
    if (dir != lastDir) {
      flushLast()
      val (w, rel) = open.remove(dir) match {
        case Some(e) =>
          open.update(dir, e) // re-insert: most recently used
          e
        case None =>
          if (open.size >= math.max(1, maxOpenWriters)) {
            val (oldDir, (ow, orel)) = open.head // least recently used
            ow.close()
            open.remove(oldDir)
            rolledRels += orel
            LakeDataWriter.rolledFiles.incrementAndGet()
          }
          val name = s"part-$epochId-$taskId-${UUID.randomUUID()}.parquet"
          val rel = if (dir.isEmpty) name else s"$dir/$name"
          val b = withBlooms(new RowWriterBuilder(new Path(root, rel))
            .withConf(conf).withCompressionCodec(codec))
          val e = (b.build(), rel)
          open.update(dir, e)
          LakeDataWriter.notePeak(open.size)
          e
      }
      lastDir = dir; lastWriter = w; lastRel = rel
    }
    lastWriter.write(dataProj(lakeRow))
    lastCount += 1L
  }

  override def commit(): WriterCommitMessage = {
    flushLast()
    open.values.foreach(_._1.close())
    LakeFilesMessage(counts.toSeq)
  }

  override def abort(): Unit = {
    open.values.foreach { case (w, _) => scala.util.Try(w.close()) }
    val fs = root.getFileSystem(conf)
    // `open` plus the cap-rolled files names every file this task
    // created (a file may have no counts entry yet while its tally
    // sits in the fast-path buffer)
    (open.values.map(_._2) ++ rolledRels)
      .foreach(rel => fs.delete(new Path(root, rel), false))
  }

  override def close(): Unit = ()
}

private[graft] object LakeDataWriter {
  /** Observability for the open-writer cap (local-mode counters, like
    * the engine's other cost channels): the PEAK simultaneous open
    * writers any task held, and how many files the cap rolled early —
    * the scale probe asserts peak <= maxOpenWriters while the rolled
    * count makes the memory/file-count trade visible. */
  val peakOpenWriters = new java.util.concurrent.atomic.AtomicLong(0L)
  val rolledFiles = new java.util.concurrent.atomic.AtomicLong(0L)
  def notePeak(n: Int): Unit = {
    var cur = peakOpenWriters.get()
    while (n > cur && !peakOpenWriters.compareAndSet(cur, n)) cur = peakOpenWriters.get()
  }
  def reset(): Unit = { peakOpenWriters.set(0L); rolledFiles.set(0L) }
}
