package graft.sources.lake

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, GenericInternalRow, Literal}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.Lake

/** Structured-Streaming tail of the lake's CHANGE FEED:
  *
  * {{{
  *   spark.readStream.format("graft-lake-cdc")
  *     .option("startingVersion", "earliest")   // or a version, or absent = tail new commits
  *     .option("maxVersionsPerTrigger", "10")   // bound catch-up micro-batches (backpressure)
  *     .option("maxBytesPerTrigger", "134217728") // byte-bounded catch-up batches
  *     .option("maxFilesPerTrigger", "1000")    // file-count-bounded catch-up batches
  *     .option("columns", "doc_id,text")        // decode-level projection for wide rows
  *     .option("readChangeFeed", "true")        // ROW-LEVEL feed: + _change_type, _commit_version
  *     .load(lakeDir)
  * }}}
  *
  * Offsets ARE manifest versions: each micro-batch reads exactly the
  * files that versions `(start, end]` added as GENUINELY NEW DATA —
  * the same per-file add-kind rule as [[Lake.changesBetween]], so
  * appends and merge upserts stream through while compactions, deletes,
  * and merge survivor-rewrites contribute NOTHING. Composed with the
  * engine's checkpointed offsets this is exactly-once lake→stream: a
  * restart replans the same committed version range and gets the same
  * files. The downstream-of-the-corpus loop closes here — `ingestToLake`
  * lands documents exactly-once INTO the lake, and this source lets an
  * embedder/tokenizer/trainer consume exactly the new rows OUT of it,
  * paying per delta, never per corpus.
  *
  * With `readChangeFeed=true` the stream is the ROW-LEVEL feed
  * ([[Lake.changeFeed]]'s semantics): every batch's rows carry
  * `_change_type` (`'insert'` from the commits' added data files,
  * `'delete'` from the change-feed sidecars the mutations wrote at
  * commit time) and `_commit_version`. A downstream index mirrors the
  * lake exactly — deletes included, which the adds-only default
  * structurally cannot convey. Both extra columns are attached as
  * PARTITION columns of the scan (constant per file), so the vectorized
  * parquet decode is identical to the default mode's.
  *
  * Scale shape: `latestOffset` is one log-directory listing;
  * `planInputPartitions` reads only the in-range delta records and stats
  * the files they name (O(delta), never O(lake)); planned files are
  * BIN-PACKED into `FilePartition`s by `maxPartitionBytes` (Spark's own
  * file-source packing), so a catch-up batch over a version that added
  * 10k small files schedules ~bytes/maxPartitionBytes tasks, not 10k.
  * `maxVersionsPerTrigger` bounds versions per batch;
  * `maxBytesPerTrigger` bounds bytes (whichever bites first — at least
  * one version always admits so the stream progresses).
  *
  * Schema evolution is LOUD: the decode schema is fixed at stream start,
  * and a batch whose range contains a commit that evolved the manifest
  * beyond it (new columns / retypes) fails naming the version and asking
  * for a restart — never silently decoding new files under the old
  * column set. In-range commits with OLDER (narrower) schemas decode
  * fine (absent columns read as null), so catch-up from `earliest`
  * across historical evolutions still works.
  *
  * `option("schemaTrackingLocation", dir)` (Delta's schema-tracking
  * idiom) makes those restarts RESUME instead of demanding a fresh
  * `startingVersion`: the stream persists the schema it decodes under
  * to a per-stream log (one small file, like the offset checkpoint it
  * sits beside), records the EVOLVED schema the moment a mid-stream
  * retype kills a batch, and — because the option is the consumer's
  * explicit opt-in to an output schema that changes across restarts —
  * a restarted stream accepts in-range HISTORICAL versions whose
  * retypes are pure widening promotions into its start-time schema
  * (`int` files decode natively under the widened `long` declaration,
  * the same parquet promotion [[graft.operators.Lake.widenColumn]]
  * rides on). Net effect: kill at a widen, restart with the option,
  * and the checkpointed offset replays the pre-widen tail under the
  * widened schema — exactly once, no rows lost. Without the option
  * the conservative refusal (and its message) is unchanged.
  *
  * Caveats (documented contract): lakes with exact streaming consumers
  * must retain history across maintenance passes (`retainHistory` /
  * `compactRetainHistory`, the [[Lake.changesBetween]] rule — a
  * vacuumed in-range file fails the batch loudly rather than
  * double-processing); partition columns are discovered from the current
  * manifest's file paths (pass `option("partitionColumns", "a,b")` for a
  * lake that is still empty at stream start); a restore in a
  * `readChangeFeed` range streams its removed files as deletes and its
  * re-added files as inserts, WITH any involved deletion vectors
  * applied — pre-restore attachments on removed files and re-attached
  * vectors on re-adds both load once driver-side and their positions
  * are skipped during the per-file decode (capped; a pathological
  * range refuses loudly toward the batch [[Lake.changeFeed]]). */
class LakeStreamSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-lake-cdc"

  private def lakePath(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-lake-cdc requires a path: .load(lakeDir)"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LakeStreamSource.tableSchema(SparkSession.active, lakePath(options), options)._1

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val path = lakePath(opts)
    val (full, partCols) = LakeStreamSource.tableSchema(SparkSession.active, path, opts)
    new LakeStreamTable(path, full, partCols, opts)
  }
}

object LakeStreamSource {
  /** Filesystem stats performed by byte-bounded admission
    * (`maxBytesPerTrigger`) because a planned file had NO recorded
    * `#bytes` — the observability hook pinning that catch-up planning
    * over a stats'd lake admits from the manifest alone. Driver-side
    * only; never consulted for control flow. */
  private[graft] val admissionFsStats =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** The row-level feed's synthetic columns, attached per planned file as
    * partition-column constants. */
  private[lake] val ChangeTypeCol = "_change_type"
  private[lake] val CommitVersionCol = "_commit_version"

  private[lake] def cdcMode(options: CaseInsensitiveStringMap): Boolean =
    options.getBoolean("readChangeFeed", false)

  /** (dataCols ++ partitionCols [++ synthetic feed cols] schema, partition
    * column names in path order). The row layout the parquet reader
    * factory produces is readDataSchema ++ partitionSchema, so the table
    * schema mirrors it. */
  private[lake] def tableSchema(spark: SparkSession, lakeDir: String,
      options: CaseInsensitiveStringMap): (StructType, Seq[String]) = {
    val st = Lake.currentState(spark, lakeDir)
    val manifest = Lake.visible(
      DataType.fromJson(st.schemaJson).asInstanceOf[StructType])
    val levels: Seq[String] = st.files.headOption match {
      case Some(f) =>
        f.split('/').dropRight(1).toSeq.map { seg =>
          val eq = seg.indexOf('=')
          require(eq > 0, s"not a partition directory segment: $seg")
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(seg.take(eq))
        }
      case None =>
        Option(options.get("partitionColumns")).toSeq
          .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    }
    // an OPTION-provided name must be a real column (typo guard); a
    // path-derived level that is NOT a schema column is a TRANSFORM
    // level (days/hours/bucket/truncate layouts) — not a partition
    // COLUMN of the stream's declared schema: its source column reads
    // from the footers and the per-file decode ignores the level
    if (st.files.isEmpty) {
      val missing = levels.filterNot(manifest.fieldNames.contains)
      require(missing.isEmpty,
        s"partition column(s) ${missing.mkString(", ")} not in the manifest schema")
    }
    val partCols = levels.filter(manifest.fieldNames.contains)
    val dataFields = manifest.fields.filterNot(f => partCols.contains(f.name))
    val partFields = partCols.map(c => manifest(manifest.fieldIndex(c)))
    val synthFields =
      if (cdcMode(options))
        Seq(StructField(ChangeTypeCol, StringType, nullable = false),
          StructField(CommitVersionCol, LongType, nullable = false))
      else Seq.empty
    val full = StructType(dataFields ++ partFields ++ synthFields)
    // explicit projection: the streaming engine does not push column
    // pruning into micro-batch scans, so `option("columns", "a,b")` is
    // the deterministic way to keep a tail from decoding a wide corpus
    // row it doesn't need (an embedder wants (doc_id, text), not the
    // whole document record)
    val projected = Option(options.get("columns")) match {
      case Some(cs) =>
        val want = cs.split(',').map(_.trim).filter(_.nonEmpty)
        val unknown = want.filterNot(full.fieldNames.contains)
        require(unknown.isEmpty,
          s"columns option names unknown field(s): ${unknown.mkString(", ")}")
        StructType(full.filter(f => want.contains(f.name)))
      case None => full
    }
    (projected, partCols)
  }
}

private[lake] class LakeStreamTable(lakeDir: String, schema0: StructType,
    partCols: Seq[String], options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"graft-lake-cdc $lakeDir"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      // column pruning pushes into the stream's parquet decode: a tail
      // that selects (doc_id, text) never materializes the other columns
      // of a wide corpus row. Required fields arrive in table-schema
      // order (data columns before partition columns), so the pruned
      // reader's output layout (readDataSchema ++ partitionSchema) still
      // matches readSchema exactly.
      private var required: StructType = schema0
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = {
        val req = required
        new Scan {
          override def readSchema(): StructType = req
          override def description(): String =
            s"${name()} columns=${req.fieldNames.mkString(",")}"
          override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
            new LakeMicroBatchStream(lakeDir, req, partCols, options)
        }
      }
    }
}

/** One offset = one committed manifest version. */
private[lake] case class LakeVersionOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

private[lake] class LakeMicroBatchStream(lakeDir: String, fullSchema: StructType,
    partCols: Seq[String], options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsAdmissionControl {
  import LakeStreamSource.{ChangeTypeCol, CommitVersionCol}

  private val spark = SparkSession.active
  private val cdcMode = LakeStreamSource.cdcMode(options)
  private val synthCols = if (cdcMode) Seq(ChangeTypeCol, CommitVersionCol) else Seq.empty
  // fullSchema here is the (possibly column-pruned) READ schema; partCols
  // is always the lake's complete partition layout, needed to parse every
  // directory level of a file path even when only some survive pruning.
  // The synthetic feed columns are partition-schema members too: their
  // values are per-file constants attached at planning time.
  private val partSchema = StructType(fullSchema.filter(f =>
    partCols.contains(f.name) || synthCols.contains(f.name)))
  private val dataSchema = StructType(fullSchema.filterNot(f =>
    partCols.contains(f.name) || synthCols.contains(f.name)))
  private val tz = Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
  // the decode schema is FIXED at stream start; [[assertNoEvolution]]
  // fails any batch whose range evolved the manifest beyond it
  private val (startVersion: Long, startSchema: StructType) = {
    val st = Lake.currentState(spark, lakeDir)
    (st.version, DataType.fromJson(st.schemaJson).asInstanceOf[StructType])
  }
  // Delta's schema-tracking-location idiom: a per-stream schema log that
  // (a) records the schema each run decodes under — advanced here at
  // construction, and at the refusal boundary when a mid-stream retype
  // kills a batch — and (b) is the consumer's opt-in for the restarted
  // stream to decode historical pre-widen versions under the widened
  // declaration (the refusal stays conservative without it). The log is
  // one small file beside the offset checkpoint: `<loc>/graft-cdc-schema`,
  // first line the lake version the schema was recorded at, the rest its
  // JSON. A torn write only loses the audit entry — the decode schema
  // re-derives from the manifest, never from the log.
  private val tracking: Option[Path] =
    Option(options.get("schemaTrackingLocation")).map(new Path(_, "graft-cdc-schema"))
  private def writeTracked(v: Long, schema: StructType): Unit = tracking.foreach { f =>
    val fs = f.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(f, true)
    // track what the stream SERVES — the VISIBLE schema. A dropped
    // column's tombstone is manifest bookkeeping, not a served column:
    // tracking it raw would make the restart's chain validation (which
    // rightly compares visible-to-visible) refuse forever on any lake
    // that ever dropped a column
    val served = Lake.visible(schema) // ONE definition of "minus tombstones"
    try out.write(s"$v\n${served.json}".getBytes("UTF-8")) finally out.close()
  }
  private def readTracked(): Option[(Long, StructType)] = tracking.flatMap { f =>
    val fs = f.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      val text = try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 64 * 1024, false)
        buf.toString("UTF-8")
      } finally in.close()
      val nl = text.indexOf('\n')
      for {
        v <- text.take(math.max(nl, 0)).toLongOption
        s <- scala.util.Try(DataType.fromJson(text.drop(nl + 1))
          .asInstanceOf[StructType]).toOption
        // self-heal logs written before writeTracked filtered tombstones
      } yield (v, Lake.visible(s))
    }
  }
  // validate the tracked→current chain before advancing the log: every
  // column the previous run served must still exist (by physical name)
  // at the same or a natively-decodable WIDER type — anything else means
  // the lake evolved in a way no restart can follow and the stream
  // refuses naming the columns rather than silently changing semantics
  tracking.foreach { _ =>
    readTracked().foreach { case (trackedV, trackedSchema) =>
      // followability is judged against what the restarted stream can
      // SERVE: a DROPPED column's tombstone is still in the manifest
      // (physically decodable), but the visible declaration excludes it
      // — resuming would silently lose a column the previous run served,
      // exactly the semantic change this validation exists to refuse
      val cur = startSchema.filterNot(Lake.isDropped)
        .map(f => Lake.physicalName(f) -> f.dataType).toMap
      val unfollowable = trackedSchema.filterNot { f =>
        cur.get(Lake.physicalName(f)).exists(t =>
          t == f.dataType || Lake.widens(f.dataType, t))
      }
      if (unfollowable.nonEmpty)
        throw new IllegalStateException(
          s"graft-lake-cdc: the schema tracked at version $trackedV cannot follow the " +
            s"current lake schema (${unfollowable.map(_.name).mkString(", ")} retyped " +
            "beyond a widening promotion, or dropped) — consume from a fresh " +
            "startingVersion")
    }
    writeTracked(startVersion, startSchema)
  }
  // under a column mapping the parquet decode asks for PHYSICAL names
  // (time-invariant — every file ever written spells them, before or
  // after any rename) while the stream's declared schema stays logical;
  // rows are positional, so only the reader factory needs the mapping
  private val physByLogical: Map[String, String] =
    startSchema.map(f => f.name -> Lake.physicalName(f)).toMap

  private def retainedVersions(): Seq[Long] = {
    val root = new Path(lakeDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // the log dir listing IS the offset range (one RPC; no delta reads)
    val log = new Path(fs.makeQualified(root), Lake.LogDirName)
    if (!fs.exists(log)) Seq.empty
    else fs.listStatus(log).toSeq.map(_.getPath.getName)
      .flatMap(Lake.parseDelta) // ONE parser for the log naming device
      .sorted
  }

  override def initialOffset(): Offset = {
    val deltas = retainedVersions()
    if (deltas.isEmpty)
      throw new IllegalArgumentException(
        s"graft-lake-cdc: $lakeDir has no committed versions to stream from")
    val v = (Option(options.get("startingVersion")),
        Option(options.get("startingTimestamp"))) match {
      case (Some(_), Some(_)) =>
        throw new IllegalArgumentException(
          "graft-lake-cdc: pass startingVersion OR startingTimestamp, not both")
      case (Some("earliest"), None) => deltas.head - 1 // include the earliest retained commit
      case (Some(s), None) => s.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"graft-lake-cdc: startingVersion must be a version or 'earliest', got '$s'")) - 1
      case (None, Some(t)) =>
        // every commit whose wall-clock is AT OR AFTER the asked-for time
        // streams (header-resolved, O(line) per retained version); a time
        // newer than every retained commit tails from now
        val tsMs = t.toLongOption.getOrElse {
          // the literal form reads in the SESSION time zone — the same
          // zone every other timestamp surface here uses (partition
          // value casts, Delta's own timestampAsOf) — never the JVM
          // default, which silently skews the start point across hosts
          try {
            val zone = java.time.ZoneId.of(
              spark.sessionState.conf.sessionLocalTimeZone)
            java.time.LocalDateTime.parse(t.replace(' ', 'T'))
              .atZone(zone).toInstant.toEpochMilli
          } catch { case _: java.time.format.DateTimeParseException =>
            throw new IllegalArgumentException(
              "graft-lake-cdc: startingTimestamp must be epoch millis or " +
                s"'yyyy-MM-dd HH:mm:ss', got '$t'")
          }
        }
        deltas.find(v =>
          Lake.deltaHeaderAt(spark, lakeDir, v).timestampMs >= tsMs) match {
          case Some(first) => first - 1
          case None => deltas.last
        }
      case (None, None) => deltas.last // tail: only commits after stream start
    }
    LakeVersionOffset(v)
  }

  override def latestOffset(): Offset =
    LakeVersionOffset(retainedVersions().lastOption.getOrElse(-1L))

  /** Trigger sizing — the production backpressure knobs: with
    * `maxVersionsPerTrigger` / `maxBytesPerTrigger` /
    * `maxFilesPerTrigger` a restart against a long backlog catches up
    * in bounded micro-batches instead of one giant batch reading the
    * whole backlog's files. The byte/file bounds stat each candidate
    * version's planned files (O(delta) RPCs) and always admit at least
    * one version so the stream progresses. */
  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val latest = retainedVersions().lastOption.getOrElse(-1L)
    val s = startOffset.asInstanceOf[LakeVersionOffset].version
    val byVersions = Option(options.get("maxVersionsPerTrigger"))
      .flatMap(_.toLongOption).filter(_ > 0) match {
      case Some(n) => math.min(latest, s + n)
      case None => latest
    }
    val maxBytes = Option(options.get("maxBytesPerTrigger"))
      .flatMap(_.toLongOption).filter(_ > 0)
    val maxFiles = Option(options.get("maxFilesPerTrigger"))
      .flatMap(_.toLongOption).filter(_ > 0)
    val bounded =
      if (maxBytes.isEmpty && maxFiles.isEmpty) byVersions
      else {
        val root = new Path(lakeDir)
        val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
        val qroot = fs.makeQualified(root)
        var end = s
        var bytes = 0L
        var files = 0L
        var stop = false
        while (!stop && end < byVersions) {
          val (planned, recorded) = versionPlan(end + 1)
          val vBytes =
            if (maxBytes.isEmpty) 0L
            else {
              // size from the version's own delta record — the manifest
              // `#bytes` (Delta add.size) every audit captures, memoized
              // WITH the plan off one delta read — so a catch-up
              // admission pass over a long backlog performs ZERO
              // filesystem stats and re-parses nothing; only files the
              // log predates (legacy lakes) or change-feed sidecars
              // fall back to one stat each, counted for the spec
              planned.map { pf =>
                recorded.getOrElse(pf.relPath, {
                  LakeStreamSource.admissionFsStats.incrementAndGet()
                  val p = new Path(qroot, pf.relPath)
                  if (fs.exists(p)) fs.getFileStatus(p).getLen else 0L
                })
              }.sum
            }
          val over = maxBytes.exists(bytes + vBytes > _) ||
            maxFiles.exists(files + planned.size > _)
          if (over && end > s) stop = true // at least one version admits
          else { bytes += vBytes; files += planned.size; end += 1 }
        }
        end
      }
    LakeVersionOffset(bounded)
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def deserializeOffset(json: String): Offset = LakeVersionOffset(json.toLong)

  /** One planned file: its lakeDir-relative path, how many leading path
    * segments to skip before the partition directories begin (change-feed
    * sidecars live under `_graft_cdc/<uuid>/`), and the synthetic feed
    * constants when in `readChangeFeed` mode. */
  private case class PlannedFile(relPath: String, strip: Int,
      changeType: String, version: Long,
      /** The partition layout this file's OWN path spells (after
        * `strip`) — each file decodes under its own layout generation,
        * so a range spanning an [[graft.operators.Lake.evolveLayout]]
        * (or a repartitionLake) streams exactly instead of refusing at
        * the boundary. */
      gen: Seq[String],
      /** Row positions to SKIP while decoding — a restore's files with
        * deletion vectors involved stream minus their tombstoned rows
        * (those rows' events were already emitted at their own delete
        * versions). Seq (not Array) so case equality stays value-based
        * for the planner's distinct. */
      skip: Seq[Long] = Seq.empty)

  /** The `col=value` directory layout `relPath` spells after its first
    * `strip` segments, names unescaped with the same device that
    * escaped them at write time ([[ExternalCatalogUtils]]) — so a
    * partition column whose name needs path escaping still matches. */
  private def genOf(relPath: String, strip: Int): Seq[String] =
    relPath.split('/').drop(strip).dropRight(1).toSeq.map { seg =>
      val eq = seg.indexOf('=')
      require(eq > 0, s"not a partition directory segment in $relPath: $seg")
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(seg.take(eq))
    }

  /** The (footer, path) schema split of one layout generation: a
    * generation's partition columns decode from its paths, everything
    * else from footers — fixed PER FILE, not per stream, which is what
    * lets one running stream serve mixed generations. The synthetic
    * feed columns ride in the partition schema as per-file constants. */
  private def genPartSchema(gen: Seq[String]): StructType =
    StructType(fullSchema.filter(f =>
      gen.contains(f.name) || synthCols.contains(f.name)))
  private def genDataSchema(gen: Seq[String]): StructType =
    StructType(fullSchema.filterNot(f =>
      gen.contains(f.name) || synthCols.contains(f.name)))

  /** Typed partition values parsed back from a file's directory path —
    * the inverse of [[Lake.partitionDir]]'s rendering, cast through the
    * same Catalyst device so types round-trip — plus the synthetic feed
    * constants for the fields that ask for them. */
  private def partitionValues(pf: PlannedFile): InternalRow = {
    val segs = pf.relPath.split('/').drop(pf.strip).dropRight(1)
    // indexed against the file's OWN path-spelled layout (pf.gen derives
    // from these very segments, unescaped), so the row matches the
    // per-generation partition schema its reader factory was built with
    val values = genPartSchema(pf.gen).fields.map { field =>
      field.name match {
        case ChangeTypeCol => UTF8String.fromString(pf.changeType)
        case CommitVersionCol => pf.version
        case name =>
          val seg = segs(pf.gen.indexOf(name))
          val eq = seg.indexOf('=')
          val raw = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(seg.drop(eq + 1))
          if (raw == org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
            null
          else
            Cast(Literal(UTF8String.fromString(raw), StringType), field.dataType, tz).eval(null)
      }
    }
    new GenericInternalRow(values.toArray[Any])
  }

  /** The decode schema is fixed at stream start: an in-range commit whose
    * schema does NOT project into it (new columns, retypes) would decode
    * its files with those columns silently invisible — fail the batch
    * loudly instead, naming the version. Narrower historical schemas
    * project fine (absent columns read as null) and pass. Comparison is
    * by PHYSICAL name — the time-invariant identity — so a pure RENAME
    * in range is invisible to the running stream (it decodes physical
    * columns anyway; the declared logical names refresh on restart),
    * and a stream started after a rename replays pre-rename history. */
  private def assertNoEvolution(v: Long, schemaJson: String): Unit = {
    if (schemaJson.isEmpty) return
    val theirs = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    val known = startSchema.map(f => Lake.physicalName(f) -> f.dataType).toMap
    val beyond = theirs.filterNot(f =>
      known.get(Lake.physicalName(f)).contains(f.dataType))
    // a PURE NULLABLE ADD is representable to a running consumer: the
    // new column simply isn't in this stream's declared schema yet —
    // in-range files carrying it decode their projection fine, and a
    // RESTART picks up the widened schema (pre-add versions then decode
    // the column as null). The Delta schema-tracking pattern. Retypes
    // (a known physical name at a different type) still refuse loudly.
    val breaking0 = beyond.filterNot(f =>
      !known.contains(Lake.physicalName(f)) && f.nullable)
    // with a schema-tracking log the consumer has opted into restarts
    // that change the output schema — a HISTORICAL version whose retypes
    // are pure WIDENING promotions into this stream's declared schema
    // decodes natively under the wide declaration (int32 footers read as
    // long — the parquet promotion widenColumn rides on), so the
    // restarted stream replays the pre-widen tail instead of refusing it
    val breaking =
      if (tracking.isEmpty) breaking0
      else breaking0.filterNot(f =>
        known.get(Lake.physicalName(f)).exists(Lake.widens(f.dataType, _)))
    if (breaking.nonEmpty) {
      // record the evolved schema at the boundary so the operator sees
      // WHAT to restart into (and the restart's chain validation has the
      // pre-kill schema to follow from); then refuse — a RUNNING stream
      // can never decode wider files under its narrower declaration
      if (tracking.isDefined) {
        writeTracked(v, DataType.fromJson(schemaJson).asInstanceOf[StructType])
        throw new IllegalStateException(
          s"graft-lake-cdc: version $v evolved the lake schema beyond this stream's " +
            s"start-time schema (retyped: ${breaking.map(_.name).mkString(", ")}) — " +
            "evolved schema recorded at the schemaTrackingLocation; RESTART the " +
            "stream to resume from the checkpointed offset under the evolved schema")
      }
      throw new IllegalStateException(
        s"graft-lake-cdc: version $v evolved the lake schema beyond this stream's " +
          s"start-time schema (retyped: ${breaking.map(_.name).mkString(", ")}) — " +
          "restart the stream to pick up the evolved schema; decoding would silently " +
          "misread the retyped columns")
    }
  }

  /** Per-version plan memo: byte/file-bounded ADMISSION walks the
    * candidate versions one at a time and `planInputPartitions` then
    * plans the admitted range — without the memo every sidecar join,
    * skip load and delta read would run TWICE per micro-batch. A
    * version's plan is immutable once committed, so the memo is safe;
    * entries at or below a committed offset evict in [[commit]]. */
  private val plannedMemo = new java.util.concurrent.ConcurrentHashMap[
    Long, (Seq[PlannedFile], Map[String, Long])]()

  /** Rolling prior-state fold for the spurious-delete and restore
    * checks: the FIRST version that needs state v-1 pays one
    * [[Lake.stateAt]] resolution, and every later version in the same
    * ascending walk folds forward with one in-memory
    * [[Lake.applyDelta]] per step — the batch [[Lake.changeFeed]]'s
    * own shape, instead of O(range × replay) log reads on a delete-
    * heavy catch-up. */
  @volatile private var priorFold: Option[(Long, Lake.LakeState)] = None

  private def stateBefore(v: Long): Option[Lake.LakeState] =
    priorFold match {
      case Some((pv, st)) if pv == v - 1 => Some(st)
      case _ =>
        // v-1 may predate retention — the caller decides the fallback.
        // ONLY that failure (stateAt's "no committed manifest version")
        // degrades to None; minReader refusals, torn checkpoints, and
        // transient FS faults rethrow — swallowing them here would
        // silently mis-tag a re-attach-affected file as plain-emit
        val r =
          try Some(Lake.stateAt(spark, lakeDir, v - 1))
          catch {
            case e: IllegalArgumentException
                if e.getMessage != null &&
                  e.getMessage.contains("no committed manifest version") => None
          }
        r.foreach(st => priorFold = Some((v - 1, st)))
        r
    }

  /** The files versions `(s, e]` contribute, with their feed tags. */
  private def plannedFiles(s: Long, e: Long): Seq[PlannedFile] =
    ((s + 1) to e).flatMap(v => versionPlan(v)._1)

  /** One version's planned files plus its adds' recorded `#bytes` map
    * (what byte-bounded admission prices with) — derived from the SAME
    * delta read and memoized together, so admission never re-parses the
    * log file the plan already read. */
  private def versionPlan(v: Long): (Seq[PlannedFile], Map[String, Long]) = {
    val hit = plannedMemo.get(v)
    if (hit != null) return hit
    val root = new Path(lakeDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val qroot = fs.makeQualified(root)
    val out = Seq.newBuilder[PlannedFile]
    var recordedBytes = Map.empty[String, Long]
    locally {
      val d = Lake.deltaAt(spark, lakeDir, v)
      recordedBytes = d.added.flatMap { case (p, stats) =>
        stats.find(_.col == Lake.BytesStatName)
          .flatMap(_.min.toLongOption).map(p -> _)
      }.toMap
      assertNoEvolution(v, d.schemaJson)
      val restore = d.action == "restore"
      // the batch feed's rule, verbatim: a removing commit from a
      // pre-change-feed build has no sidecar to reconstruct its delete
      // pre-images from — REFUSE loudly; silently emitting nothing
      // would leave a mirroring consumer keeping deleted rows forever
      // (compact/dvcompact/repartition remove no rows and are exempt;
      // a restore's removals stream wholesale below)
      if (cdcMode && !restore && d.cdcFiles.isEmpty &&
          (d.removed.nonEmpty || d.dvAdds.nonEmpty) &&
          d.action != "compact" && d.action != "dvcompact" &&
          d.action != "repartition")
        throw new IllegalStateException(
          s"graft-lake-cdc: version $v (${d.action}) removed rows but carries no " +
            "change-feed sidecar (committed by a pre-change-feed build) — its " +
            "delete pre-image is not reconstructible; stream from a later " +
            "startingVersion")
      // a restore's re-added files may carry RE-ATTACHED vectors (its
      // `D` lines): those rows are deleted in the restored state, so the
      // re-insert decode skips their positions
      val reAttach: Map[String, Seq[String]] =
        if (restore && cdcMode && d.dvAdds.nonEmpty)
          d.dvAdds.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        else Map.empty
      val reAttachSkips = loadSkips(spark, qroot, reAttach, v)
      val insertFiles =
        if (restore && cdcMode) d.added.map(_._1)
        else if (Lake.DataAddingActions.contains(d.action)) d.added.map(_._1)
        else d.added.map(_._1).filterNot(d.rewrites)
      insertFiles.foreach { f =>
        // each file decodes under its OWN path-spelled layout generation
        // (genOf), so a range spanning an evolveLayout/repartitionLake
        // streams exactly — no boundary refusal. CDF parity: an
        // update/merge commit's `AU` files hold update POST-IMAGES.
        val tpe = if (!restore && d.postImages(f)) "update_postimage" else "insert"
        out += PlannedFile(f, 0, tpe, v, genOf(f, 0),
          reAttachSkips.getOrElse(f, Seq.empty))
      }
      if (cdcMode) {
        // EXACTLY-ONCE deletes under raced same-row tombstones — the
        // batch feed's stateless rule, applied per version: a delete
        // sidecar row whose (file, pos) was already tombstoned in state
        // v-1 is spurious (two raced sparse deletes both land, vectors
        // union, the later sidecar re-carries the row). The spurious
        // rows' ROW INDEXES inside each sidecar file resolve with one
        // small join job and load driver-side — bounded by the
        // duplicate count (only race windows create any) — riding as
        // position skips through [[LakeSkipPartition]]. Restores that
        // resurrected a row cleared its vector from state v-1, so a
        // genuine re-delete still streams. Legacy sidecars without
        // lineage columns read them as NULL and match nothing.
        // update_preimage sidecars get the same spuriousness rule: a
        // raced sparse update whose row was already tombstoned in state
        // v-1 re-carries that row's pre-image
        val deleteDirs = d.cdcFiles.collect {
          case (dir, t) if t == "delete" || t == "update_preimage" => dir }
        val spuriousSkips: Map[String, Seq[Long]] =
          if (deleteDirs.isEmpty) Map.empty
          else {
            // v-1 may predate retention — fall back to emit-as-is.
            // Only the prior state's DISTINCT sidecar list is consulted
            // (O(sparse commits)); a deferred attachment map never
            // forces here
            val priorSidecars = stateBefore(v)
              .map(p => Lake.distinctLiveSidecars(spark, p.dvs).toSeq.sorted)
              .getOrElse(Seq.empty)
            if (priorSidecars.isEmpty) Map.empty
            else {
              import org.apache.spark.sql.functions.col
              import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
              val prior = spark.read.schema(Lake.DvSchema)
                .parquet(priorSidecars
                  .map(sc => new Path(qroot, sc).toString): _*)
                .select(col("file").as("_gf_file"), col("pos").as("_gf_pos"))
              val lineageOnly = StructType(Seq(
                StructField("_gf_file", StringType), StructField("_gf_pos", LongType)))
              spark.read.schema(lineageOnly)
                .parquet(deleteDirs.map(dd => new Path(qroot, dd).toString): _*)
                .select(col("_gf_file"), col("_gf_pos"),
                  col("_metadata.file_path").as("_sc_path"),
                  col("_metadata.row_index").as("_sc_idx"))
                .join(prior, Seq("_gf_file", "_gf_pos"), "left_semi")
                .select("_sc_path", "_sc_idx").collect()
                .groupBy(r => Lake.relativize(qroot,
                  fs.makeQualified(new Path(r.getString(0)))))
                .view.mapValues(_.map(_.getLong(1)).distinct.sorted.toSeq).toMap
            }
          }
        // the mutations' commit-time sidecars ARE the delete rows; a
        // restore's removed files stream as deletes wholesale
        d.cdcFiles.foreach { case (dir, tpe) =>
          val dirPath = new Path(qroot, dir)
          if (!fs.exists(dirPath))
            throw new IllegalStateException(
              s"graft-lake-cdc: change-feed sidecar $dir of version $v was vacuumed — " +
                "retain history on lakes with streaming feed consumers")
          val it = fs.listFiles(dirPath, true)
          val strip = dir.count(_ == '/') + 1
          while (it.hasNext) {
            val f = it.next().getPath
            if (f.getName.endsWith(".parquet")) {
              val rel = Lake.relativize(qroot, fs.makeQualified(f))
              out += PlannedFile(rel, strip, tpe, v, genOf(rel, strip),
                spuriousSkips.getOrElse(rel, Seq.empty))
            }
          }
        }
        if (restore && d.removed.nonEmpty) {
          // the files a restore REMOVES may have carried deletion
          // vectors in the pre-restore state — streaming them wholesale
          // as deletes would emit delete events for rows already
          // tombstoned at their own delete versions, corrupting counted
          // or strictly-keyed mirrors. Exactly like the batch
          // [[Lake.changeFeed]], the pre-restore attachments load once
          // driver-side and the per-file decode SKIPS those positions.
          // a restore REQUIRES v-1 resolvable (unlike the spurious-skip
          // fallback): surface the resolution error if the fold missed
          val pre = stateBefore(v).getOrElse(Lake.stateAt(spark, lakeDir, v - 1))
          // scoped to the restore's removed files — one bounded entries
          // job on a deferred map, never a whole-map force
          val preAttach = Lake.dvsFor(spark, pre.dvs, d.removed)
          val removedSkips = loadSkips(spark, qroot, preAttach, v)
          d.removed.foreach(f =>
            out += PlannedFile(f, 0, "delete", v, genOf(f, 0),
              removedSkips.getOrElse(f, Seq.empty)))
        }
      }
      // keep the fold current so the NEXT version's stateBefore is one
      // in-memory applyDelta instead of a fresh log resolution
      priorFold = priorFold match {
        case Some((pv, st)) if pv == v - 1 => Some((v, Lake.applyDelta(st, d)))
        case other => other
      }
    }
    val res = (out.result(), recordedBytes)
    plannedMemo.put(v, res)
    res
  }

  /** Driver-side load of the positions `attach` names (file → sidecar
    * dirs) — bounded by the restore's attachment sizes, and capped at
    * `spark.graft.lake.morMaxPositions` so a pathological range refuses
    * loudly instead of flooding the driver. */
  private def loadSkips(spark: SparkSession, qroot: Path,
      attach: Map[String, Seq[String]], v: Long): Map[String, Seq[Long]] = {
    if (attach.isEmpty) return Map.empty
    import org.apache.spark.sql.functions.col
    val cap = spark.conf.getOption(LakeMorTable.MaxPositionsConf)
      .flatMap(_.toLongOption).getOrElse(LakeMorTable.DefaultMaxPositions)
    val sidecars = attach.values.flatten.toSeq.distinct.sorted
    val capPlus1 = math.min(cap, Int.MaxValue - 2L).toInt + 1
    val rows = spark.read.schema(Lake.DvSchema)
      .parquet(sidecars.map(s => new Path(qroot, s).toString): _*)
      .filter(col("file").isInCollection(attach.keySet.toSeq))
      .coalesce(1).limit(capPlus1).collect()
    if (rows.length >= capPlus1)
      throw new IllegalStateException(
        s"graft-lake-cdc: restore version $v carries over $cap deletion-vector " +
          s"positions (cap via ${LakeMorTable.MaxPositionsConf}) — consume this " +
          "range with the batch Lake.changeFeed instead")
    rows.toSeq.groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(1)).distinct.sorted).toMap
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LakeVersionOffset].version
    val e = end.asInstanceOf[LakeVersionOffset].version
    if (e <= s) return Array.empty
    val root = new Path(lakeDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val qroot = fs.makeQualified(root)
    val planned = plannedFiles(s, e).distinct
    def partitioned(pf: PlannedFile): PartitionedFile = {
      val p = new Path(qroot, pf.relPath)
      if (!fs.exists(p))
        throw new IllegalStateException(
          s"graft-lake-cdc: data-added file ${pf.relPath} of versions ($s, $e] was " +
            "rewritten and vacuumed — retain history (retainHistory / " +
            "compactRetainHistory / deferred vacuumKeeping) on lakes with streaming " +
            "consumers")
      val fst = fs.getFileStatus(p)
      PartitionedFile(
        partitionValues(pf),
        org.apache.spark.paths.SparkPath.fromPath(fst.getPath),
        0L, fst.getLen, Array.empty[String], fst.getModificationTime, fst.getLen)
    }
    // ONE decode bundle per layout generation in this batch: the parquet
    // reader factory requesting exactly the footer columns that
    // generation stores, plus the permutation mapping its
    // (data ++ partition) output layout onto the stream's DECLARED
    // schema (fixed at start — a demoted partition column reads from
    // footers, a promoted one from paths, either way emitted in the
    // declared order). Bundles are built here ON THE DRIVER (broadcast
    // conf) and ride IN the partitions — no shared planning-time state
    // between planInputPartitions and the factory.
    val declared = dataSchema.fields ++ partSchema.fields
    val decodes: Map[Seq[String], LakeGenDecode] =
      planned.map(_.gen).distinct.map { gen =>
        val pd = genDataSchema(gen)
        val phys = StructType(pd.map(f =>
          f.copy(name = physByLogical.getOrElse(f.name, f.name))))
        val ps = genPartSchema(gen)
        val innerSchema = StructType(pd.fields ++ ps.fields)
        val perm = declared.map(f => innerSchema.fieldIndex(f.name))
        gen -> LakeGenDecode(LakeParquetRead.readerFactory(spark, phys, ps),
          if (perm.zipWithIndex.forall { case (p, i) => p == i }) None else Some(perm),
          innerSchema)
      }.toMap
    // bin-pack into FilePartitions exactly as Spark's own file sources
    // do — PER GENERATION (one FilePartition's files must share a
    // partition-values schema): a catch-up batch over a version that
    // added 10k small files schedules ~totalBytes/maxPartitionBytes
    // tasks, never 10k. Skip-bearing files (a restore's DV-involved
    // files) ride UNSPLIT in their own partitions — position counting
    // needs one in-order reader
    val (skippy, plain) = planned.partition(_.skip.nonEmpty)
    // row mode is BATCH-wide (Spark refuses mixed row/columnar
    // partitions within one batch): any skip partition, or any
    // generation whose factory cannot decode columnar, puts the whole
    // batch in row mode; the common single-generation DV-free batch
    // keeps the vectorized decode
    val packedByGen = plain.groupBy(_.gen).toSeq.sortBy(_._1.mkString(","))
      .map { case (gen, pfs) =>
        (decodes(gen), FilePartition.getFilePartitions(spark, pfs.map(partitioned),
          spark.sessionState.conf.filesMaxPartitionBytes))
      }
    val rowMode = skippy.nonEmpty || packedByGen.exists { case (dec, fps) =>
      fps.exists(fp => !dec.inner.supportColumnarReads(fp)) }
    var idx = -1
    def nextIdx(): Int = { idx += 1; idx }
    val packed: Seq[InputPartition] = packedByGen.flatMap { case (dec, fps) =>
      fps.map(fp => LakeBatchPartition(
        FilePartition(nextIdx(), fp.files), rowMode, dec): InputPartition)
    }
    val skipParts: Seq[InputPartition] = skippy.map { pf =>
      LakeSkipPartition(
        FilePartition(nextIdx(), Array(partitioned(pf))), pf.skip, decodes(pf.gen))
    }
    (packed ++ skipParts).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      // each partition carries its generation's decode bundle; the
      // factory is a pure dispatcher (nothing planning-time captured)
      override def supportColumnarReads(p: InputPartition): Boolean = p match {
        case LakeBatchPartition(fp, rowMode, dec) =>
          !rowMode && dec.inner.supportColumnarReads(fp)
        case _ => false
      }
      override def createColumnarReader(p: InputPartition) = p match {
        case LakeBatchPartition(fp, _, dec) =>
          val base = dec.inner.createColumnarReader(fp)
          dec.perm.fold(base)(new PermutingColumnarReader(base, _))
        case p => throw new UnsupportedOperationException(s"columnar read of $p")
      }
      override def createReader(p: InputPartition) = p match {
        case LakeBatchPartition(fp, _, dec) =>
          val base = dec.inner.createReader(fp)
          dec.perm.fold(base)(new ReorderingReader(base, _, dec.innerSchema))
        case LakeSkipPartition(fp, skip, dec) =>
          val base = dec.perm.fold(dec.inner.createReader(fp))(
            new ReorderingReader(dec.inner.createReader(fp), _, dec.innerSchema))
          new PositionSkipReader(base, skip.toArray)
        case p => throw new UnsupportedOperationException(s"row read of $p")
      }
    }

  override def commit(end: Offset): Unit = {
    // the committed range will never re-plan — drop its memo entries
    val e = end.asInstanceOf[LakeVersionOffset].version
    plannedMemo.keySet.removeIf(_ <= e)
  }
  override def stop(): Unit = ()

  /** Shown as the source description in streaming progress — names the
    * lake and the (possibly pruned) columns this stream decodes. */
  override def toString: String =
    s"graft-lake-cdc $lakeDir${if (cdcMode) " [change feed]" else ""} " +
      s"columns=${fullSchema.fieldNames.mkString(",")}"
}

/** A plain (skip-free) file partition of a streaming batch, carrying
  * the batch's decode mode: `rowMode` is true iff the SAME batch also
  * planned skip partitions (Spark refuses mixed row/columnar partitions
  * within one batch). Shipping the flag in the partition keeps
  * planInputPartitions -> createReaderFactory free of shared mutable
  * state. */
private[lake] final case class LakeBatchPartition(
    files: org.apache.spark.sql.execution.datasources.FilePartition,
    rowMode: Boolean,
    decode: LakeGenDecode)
    extends org.apache.spark.sql.connector.read.InputPartition {
  override def preferredLocations(): Array[String] = files.preferredLocations()
}

/** One UNSPLIT skip-bearing file of a streaming batch: a restore's
  * DV-involved file whose tombstoned row positions must not re-emit —
  * decoded through [[PositionSkipReader]] over the shared parquet
  * factory. Positions ride in the partition payload: restores are rare
  * and their per-file position sets bounded (capped at plan time), so
  * a broadcast would cost more than it saves here. */
private[lake] final case class LakeSkipPartition(
    files: org.apache.spark.sql.execution.datasources.FilePartition,
    skip: Seq[Long],
    decode: LakeGenDecode)
    extends org.apache.spark.sql.connector.read.InputPartition {
  override def preferredLocations(): Array[String] = files.preferredLocations()
}

/** One layout generation's decode bundle, built at PLANNING time on the
  * driver (the parquet factory needs a broadcast conf) and shipped in
  * each of the generation's partitions: `inner` requests exactly the
  * footer columns the generation stores; `perm` (None = identity)
  * reorders the factory's (data ++ partition) output layout onto the
  * stream's declared schema; `innerSchema` is that emitted layout, the
  * type source for the executor-built projection. */
private[lake] final case class LakeGenDecode(
    inner: org.apache.spark.sql.connector.read.PartitionReaderFactory,
    perm: Option[Array[Int]],
    innerSchema: StructType)

/** Columnar twin of [[ReorderingReader]]: permutes the batch's column
  * vectors into the declared order — zero copy, the vectorized decode
  * survives a cross-generation batch. */
private[lake] final class PermutingColumnarReader(
    inner: org.apache.spark.sql.connector.read.PartitionReader[ColumnarBatch],
    perm: Array[Int])
    extends org.apache.spark.sql.connector.read.PartitionReader[ColumnarBatch] {
  override def next(): Boolean = inner.next()
  override def get(): ColumnarBatch = {
    val b = inner.get()
    new ColumnarBatch(perm.map(b.column), b.numRows())
  }
  override def close(): Unit = inner.close()
}

/** Projects the reader's (data ++ partition) row layout back into the
  * declared order — engaged only when a partition column is not
  * schema-last (post-evolveLayout lakes). The projection is built
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
