package graft.sources.lake

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, GenericInternalRow, Literal}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.Lake

/** MERGE-ON-READ batch scan for a DV-bearing lake version — since the
  * vectorized re-plan landed, the FALLBACK read surface: sessions built
  * with the graft extensions re-plan any read of this table onto
  * `Lake.read`'s vectorized scan
  * ([[org.apache.spark.sql.graft.VectorizeLakeMorRead]] — columnar
  * decode, vectors applied per file inside the scan, no driver position
  * load or cap), so this scan executes only
  * for sessions WITHOUT the extensions. The table itself remains the
  * DSv2 write/DML surface for DV-bearing and column-mapped versions
  * (append builder, SQL DELETE via [[LakeDeletes]], the MERGE/UPDATE
  * resolution rule), which is why reads still resolve through it.
  *
  * Plan shape: files WITHOUT attachments bin-pack into ordinary
  * vectorized `FilePartition`s, exactly like the clean-path scan; each
  * file WITH attachments becomes ONE single-file partition whose reader
  * counts row positions and skips the tombstoned ones. (Spark scans are
  * uniformly row- or columnar-decoded, so the whole transitional scan
  * runs in row mode.) The
  * single-file grain is what makes position counting sound: the whole
  * file is one unsplit read with NO pushed filters, so emitted row order
  * is file order and the running count equals `_metadata.row_index` —
  * the coordinate system the vectors were recorded in. The price is
  * row-mode decode and no predicate pushdown on the tombstoned files
  * only; compaction restores the fully-vectorized clean path.
  *
  * The tombstone sets ship to the tasks as ONE BROADCAST keyed by file
  * (each tombstoned file's reader looks its positions up at open time),
  * never as per-task partition payloads — a version with many
  * tombstoned files serializes the position set once, not once per
  * task binary. The remaining ceiling is the driver-side load of the
  * position set before broadcasting, capped at
  * `spark.graft.lake.morMaxPositions` (default 20M) with a loud
  * refusal pointing at `compactLake` — a tombstone set that size
  * should have been materialized, and `Lake.read`'s in-scan vectors,
  * loaded per file in the tasks, have no such ceiling. */
object LakeMorTable {
  val MaxPositionsConf = "spark.graft.lake.morMaxPositions"
  val DefaultMaxPositions = 20000000L

  /** file → sorted tombstoned positions. ONE bounded fetch: the cap
    * check and the load are the same `limit(cap+1)` collect — no
    * separate count pass, no unbounded driver fetch before the check.
    * The narrow single-partition coalesce ahead of the limit keeps
    * `executeTake` from issuing one job per partition wave (and AQE
    * from staging a shuffle as its own job): the whole load is ONE job,
    * its single task streaming the cap-bounded sidecar rows. */
  def loadPositions(spark: SparkSession, root: Path,
      st: Lake.LakeState): Map[String, Array[Long]] = {
    val sidecars = Lake.distinctLiveSidecars(spark, st.dvs).toSeq.sorted
    if (sidecars.isEmpty) return Map.empty
    val dv = spark.read.schema(Lake.DvSchema)
      .parquet(sidecars.map(s => new Path(root, s).toString): _*)
    val cap = spark.conf.getOption(MaxPositionsConf).flatMap(_.toLongOption)
      .getOrElse(DefaultMaxPositions)
    val capPlus1 = math.min(cap, Int.MaxValue - 2L).toInt + 1
    val rows = dv.coalesce(1).limit(capPlus1).collect()
    if (rows.length >= capPlus1)
      throw new UnsupportedOperationException(
        s"graft-lake: version ${st.version} carries over $cap deletion-vector positions " +
          s"(cap via $MaxPositionsConf) — a tombstone set this large should be " +
          "materialized: run compactLake, or read via Lake.read (its in-scan vectors scale)")
    rows.groupBy(_.getString(0)).map { case (f, rs) =>
      f -> rs.map(_.getLong(1)).sorted
    }
  }
}

private[lake] class LakeMorTable(tableName: String, lakeDir: String,
    st: Lake.LakeState, pinned: Boolean)
    extends Table with SupportsRead with SupportsWrite with LakeDeletes
    with GraftLakeTable {
  override def lakeDirPath: String = lakeDir
  override def lakePinned: Boolean = pinned
  override def lakeManifest: Lake.LakeState = st
  override def lakeRowModeScan: Boolean = true
  override protected def deleteLakeDir: String = lakeDir
  override protected def deletePinned: Boolean = pinned
  private val manifestSchema =
    Lake.visible(DataType.fromJson(st.schemaJson).asInstanceOf[StructType])
  private val partCols = Lake.partitionColsOf(st)

  override def name(): String = tableName
  override def schema(): StructType = manifestSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.STREAMING_WRITE)
  // appends are DV-independent (pure add): a tombstone-bearing lake
  // still takes protocol inserts
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    LakeWrites.newWriteBuilder(lakeDir, pinned, info)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new org.apache.spark.sql.graft.LakeMorScanBuilder(manifestSchema,
      (bounds, inLists, required) =>
        new LakeMorScan(lakeDir, st, partCols, required.getOrElse(manifestSchema),
          bounds, inLists))
}

private[lake] class LakeMorScan(lakeDir: String, st: Lake.LakeState,
    partCols: Seq[String], required: StructType,
    bounds: Seq[Lake.ColBound] = Seq.empty,
    inLists: Seq[(String, Seq[Any])] = Seq.empty)
    extends Scan with Batch with SupportsReportStatistics {
  private val spark = SparkSession.active
  private val partSchema = StructType(required.filter(f => partCols.contains(f.name)))
  private val dataSchema = StructType(required.filterNot(f => partCols.contains(f.name)))
  private val tz = Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
  // under a column mapping the parquet reader must ask for the PHYSICAL
  // column names; the emitted rows are positional, so the declared
  // (logical) readSchema is untouched — this is what lets the row-mode
  // scan serve renamed lakes the delegated vectorized scan cannot
  private val physByLogical: Map[String, String] = {
    val full = org.apache.spark.sql.types.DataType.fromJson(st.schemaJson)
      .asInstanceOf[StructType]
    full.map(f => f.name -> Lake.physicalName(f)).toMap
  }
  private val physDataSchema = StructType(dataSchema.map(f =>
    f.copy(name = physByLogical.getOrElse(f.name, f.name))))

  // the REQUIRED column order, exactly as the relation declares it —
  // NOT the reader's emitted (data ++ partition) layout: declaring the
  // emitted order makes V2 pushdown wrap the scan relation in a
  // reordering Project whenever a partition column is not schema-last
  // (any post-evolveLayout lake), and Spark's DeleteFromTable strategy
  // refuses a Project-wrapped relation. Rows re-project to this order
  // in the reader when the two differ.
  override def readSchema(): StructType = required
  private def emittedSchema: StructType =
    StructType(dataSchema.fields ++ partSchema.fields)
  // the description names the cost a user would otherwise misread: a
  // pushed-looking filter on a heavily-tombstoned version runs row-mode
  // with post-scan predicates — compaction restores the vectorized path
  override def description(): String =
    s"graft-lake MoR $lakeDir@v${st.version} columns=${required.fieldNames.mkString(",")} " +
      s"[row-mode, ${Lake.dvCountHint(st.dvs)} of ${st.files.size} file(s) tombstoned" +
      (if (physByLogical.exists { case (l, p) => l != p }) ", column-mapped" else "") +
      ", no data-filter pushdown — consider compactLake to restore the " +
      "vectorized clean-path scan]"
  override def toBatch: Batch = this

  /** Planner statistics: the stats-pruned candidate files' on-disk
    * bytes. Without this a join against a DV-bearing or column-mapped
    * lake prices at `spark.sql.defaultSizeInBytes` (effectively
    * infinite) and loses broadcast planning — the clean delegated path
    * gets the same signal from `ParquetTable`'s own report. Tombstoned
    * rows make the estimate slightly HIGH (conservative: at worst a
    * broadcast is withheld, never wrongly granted on size). */
  override def estimateStatistics(): Statistics = new Statistics {
    // one prune + one (lazy-aware) reserved-stats aggregation serve both
    // numbers: under lazy resolution Lake.reservedTotals sums the
    // checkpoint residents' recorded #rows/#bytes inside a job over the
    // entries, so broadcast pricing keeps its exact signal with zero
    // driver stats — only pre-capture files pay a filesystem stat
    private lazy val candidates = Lake.pruneByStats(st, bounds)
    private lazy val totals = Lake.reservedTotals(spark, st, candidates)
    private lazy val bytes: Long = {
      val (_, recorded, unsized) = totals
      recorded + {
        if (unsized.isEmpty) 0L
        else {
          val root = new Path(lakeDir)
          val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
          val qroot = fs.makeQualified(root)
          unsized.map { rel =>
            val p = new Path(qroot, rel)
            if (fs.exists(p)) fs.getFileStatus(p).getLen else 0L
          }.sum
        }
      }
    }
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
    // row estimate from the manifest's recorded `#rows` numRecords:
    // exact when every candidate carries it and none is tombstoned
    // (a DV'd file's live count is lower — report nothing rather than
    // an overcount the planner would trust)
    override def numRows(): java.util.OptionalLong = {
      // whole-table candidates (identity: no pruning happened) answer
      // the DV check from the attachment map alone — iterating a
      // path-lazy candidate list would force its materialization
      // neither branch forces a deferred attachment map: ambiguity
      // answers "maybe tombstoned", which only withholds the estimate
      val anyDv =
        if (candidates eq st.files) Lake.dvMaybeNonEmpty(st.dvs)
        else Lake.dvMaybeAny(st.dvs, candidates)
      if (anyDv) java.util.OptionalLong.empty()
      else totals._1.fold(java.util.OptionalLong.empty())(
        n => java.util.OptionalLong.of(n))
    }
  }

  private def partitionValues(relPath: String): InternalRow = {
    val segs = relPath.split('/').dropRight(1)
    // by-NAME segment lookup (each level spells its own name), so
    // TRANSFORM levels interleaved with identity columns never shift
    // the decode; planInputPartitions guarantees every identity column
    // is spelled
    val values = partSchema.fields.map { field =>
      val seg = segs.find { s =>
        val eq = s.indexOf('=')
        eq > 0 && org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(s.take(eq)) == field.name
      }.getOrElse(throw new IllegalStateException(
        s"graft-lake: $relPath does not spell partition column '${field.name}'"))
      val eq = seg.indexOf('=')
      val raw = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(seg.drop(eq + 1))
      if (raw == org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
        null
      else
        Cast(Literal(UTF8String.fromString(raw), StringType), field.dataType, tz).eval(null)
    }
    new GenericInternalRow(values.toArray[Any])
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // the fallback scan decodes ONE layout (partition values index into
    // a fixed partCols order); with the graft extensions installed this
    // scan never plans — the rule re-plans reads onto Lake.read's
    // generation-grouped union, which serves mixed layouts exactly
    val gens = Lake.layoutGenerationsOf(st)
    if (gens.size > 1)
      throw new UnsupportedOperationException(
        s"graft-lake: version ${st.version} mixes ${gens.size} partition-layout " +
          "generations (evolveLayout) — read via Lake.read / a session with the " +
          "graft extensions, or compactLake to fold the generations")
    // partCols is the RECORDED write layout's identity columns; right
    // after an evolveLayout — before any new-generation file lands —
    // the single live generation may still spell the OLD layout, and
    // decoding its paths against partCols would silently yield nulls /
    // misparsed segments. TRANSFORM levels (directory names that are
    // not schema columns) are fine: their source columns read from the
    // footers and the level itself is ignored.
    val schemaCols = Lake.visible(org.apache.spark.sql.types.DataType
      .fromJson(st.schemaJson).asInstanceOf[StructType]).fieldNames.toSet
    if (gens.headOption.exists(g => g.filter(schemaCols) != partCols))
      throw new UnsupportedOperationException(
        s"graft-lake: version ${st.version}'s live files spell layout " +
          s"[${gens.head.mkString(",")}] but the declared write layout's identity " +
          s"columns are [${partCols.mkString(",")}] (evolveLayout pending " +
          "relayout) — read via Lake.read / a session with the graft extensions, " +
          "or compactLake")
    val root = new Path(lakeDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val qroot = fs.makeQualified(root)
    def pf(rel: String): PartitionedFile = {
      val fst = fs.getFileStatus(new Path(qroot, rel))
      PartitionedFile(partitionValues(rel),
        org.apache.spark.paths.SparkPath.fromPath(fst.getPath),
        0L, fst.getLen, Array.empty[String], fst.getModificationTime, fst.getLen)
    }
    // manifest-stat file skipping applies here too: whole-file pruning
    // never disturbs row positions inside the surviving files. Planning
    // needs only WHICH files carry attachments (the manifest knows) —
    // the positions themselves load once at reader-factory time and
    // ship as a broadcast, never in the partition payloads. An EQUALITY
    // bound on a bloomed column additionally probes the candidates'
    // footer blooms (one metadata-sized job at plan time — the
    // point-lookup file skip min/max cannot give a scattered key)
    val candidates = Lake.bloomPruneBounds(spark, lakeDir, st,
      Lake.pruneByStats(st, bounds), bounds, inLists)
    // the EXACT tombstoned set among the candidates — the scoped
    // accessor answers it with one bounded entries job on a deferred
    // map (O(candidates) traffic), never a whole-map force
    val dvdAmongCandidates = Lake.dvsFor(spark, st.dvs, candidates).keySet
    val (tombstoned, clean) = candidates.partition(dvdAmongCandidates)
    val cleanParts: Seq[InputPartition] = FilePartition.getFilePartitions(
      spark, clean.map(pf), spark.sessionState.conf.filesMaxPartitionBytes)
    // one UNSPLIT partition per tombstoned file: position counting needs
    // the whole file read in order by a single reader
    val morParts: Seq[InputPartition] = tombstoned.zipWithIndex.map { case (rel, i) =>
      MorPartition(FilePartition(cleanParts.length + i, Array(pf(rel))), rel)
    }
    (cleanParts ++ morParts).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val root = new Path(lakeDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val positions =
      if (!Lake.dvMaybeNonEmpty(st.dvs)) Map.empty[String, Array[Long]]
      else LakeMorTable.loadPositions(spark, fs.makeQualified(root), st)
    val emitted = emittedSchema
    val reorder: Option[Array[Int]] =
      if (emitted.fieldNames.sameElements(required.fieldNames)) None
      else Some(required.fieldNames.map(n => emitted.fieldIndex(n)))
    new MorReaderFactory(LakeParquetRead.readerFactory(spark, physDataSchema, partSchema),
      spark.sparkContext.broadcast(positions), reorder, emitted)
  }
}

/** A single tombstoned file, identified by its lakeDir-relative path —
  * the key into the broadcast position map. The payload carries NO
  * positions: a thousand tombstoned files serialize the position set
  * once (the broadcast), not a thousand times (the task binaries). */
private[graft] case class MorPartition(files: FilePartition,
    relPath: String) extends InputPartition {
  override def preferredLocations(): Array[String] = files.preferredLocations()
}

/** Row-mode wrapper: Spark requires every partition of one scan to agree
  * on row-vs-columnar, so the presence of ANY tombstoned file puts the
  * whole (transitional, pre-compaction) scan in row mode; clean
  * partitions stay bin-packed and decode through the same factory,
  * [[MorPartition]]s additionally filter by position looked up from the
  * broadcast at open time. */
private[lake] class MorReaderFactory(inner: PartitionReaderFactory,
    positions: org.apache.spark.broadcast.Broadcast[Map[String, Array[Long]]],
    reorder: Option[Array[Int]] = None, emitted: StructType = new StructType())
    extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = false
  // declared unsupported above, so Spark never calls this — but a
  // delegating fallthrough here would RESURFACE tombstoned rows (no
  // position skipping, wrong column order) silently if any future code
  // path consulted it directly; refuse loudly instead
  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    throw new UnsupportedOperationException(
      "graft-lake MoR reader is row-mode only (position skipping + column " +
        "reorder do not apply to delegated columnar batches); " +
        "supportColumnarReads answers false")
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val base = partition match {
      case MorPartition(files, relPath) =>
        new PositionSkipReader(inner.createReader(files),
          positions.value.getOrElse(relPath, Array.empty[Long]))
      case p => inner.createReader(p)
    }
    reorder.fold(base: PartitionReader[InternalRow])(idx =>
      new ReorderingReader(base, idx, emitted))
  }
}

/** Projects the reader's (data ++ partition) row layout back into the
  * declared required order — engaged only when a partition column is
  * not schema-last (post-evolveLayout lakes). The projection is built
  * executor-side per reader (generated code is not serializable). */
private[lake] class ReorderingReader(inner: PartitionReader[InternalRow],
    idx: Array[Int], emitted: StructType) extends PartitionReader[InternalRow] {
  private val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
    idx.toSeq.map(i => org.apache.spark.sql.catalyst.expressions.BoundReference(
      i, emitted(i).dataType, nullable = true)))
  override def next(): Boolean = inner.next()
  override def get(): InternalRow = proj(inner.get())
  override def close(): Unit = inner.close()
}

/** Streams the wrapped reader's rows, counting positions and skipping
  * the tombstoned ones. `skip` is sorted and rows arrive in file order
  * (unsplit, unfiltered read), so one advancing pointer decides each
  * row in O(1). */
private[lake] class PositionSkipReader(inner: PartitionReader[InternalRow],
    skip: Array[Long]) extends PartitionReader[InternalRow] {
  private var pos = -1L
  private var idx = 0
  override def next(): Boolean = {
    while (inner.next()) {
      pos += 1
      while (idx < skip.length && skip(idx) < pos) idx += 1
      if (idx >= skip.length || skip(idx) != pos) return true
    }
    false
  }
  override def get(): InternalRow = inner.get()
  override def close(): Unit = inner.close()
}
