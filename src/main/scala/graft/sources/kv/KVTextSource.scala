package graft.sources.kv

import java.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.graft.TaskHadoopConf
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 implementation of the reference engine's wire format:
  * line-oriented `key value` text (reference: src/utils.rs:47-53 writes,
  * src/utils.rs:79-92 parses with split_once(' ')), registered as
  * `format("graft-kv")`.
  *
  * The read side re-expresses the reference's fixed-size chunk splitter
  * (src/utils.rs:9-45, DEFAULT_INPUT_SPLIT_SIZE=1024 in src/constants.rs:5)
  * as Spark input partitions: each file is cut into `chunkSize`-byte ranges
  * planned as independent splits, and readers realign to line boundaries
  * with the standard first-newline protocol — a split with start > 0 skips
  * its leading partial line (the previous split consumed it), and every
  * split reads through its final line even past its byte range. Unlike the
  * reference's `read_exact` loop, no tail bytes are ever dropped and no
  * line is ever cut mid-token.
  *
  * Column pruning is pushed into the source (SupportsPushDownRequiredColumns):
  * a key-only projection never materializes values, and vice versa.
  *
  * Line ends: a `\r` right before a `\n` is dropped, so CRLF files read
  * like LF files; any other `\r` is data. The writer refuses `\r` and `\n`
  * in keys and values, so everything it writes reads back unchanged. It
  * names its files `part-<partition>-<task>.txt`, one per non-empty task.
  * `graft.sources.KVText` is a thin call into this source.
  *
  * All filesystem access goes through the session's Hadoop configuration
  * (`newHadoopConf()`: spark.hadoop.* settings, keys set on
  * `sparkContext.hadoopConfiguration` and session keys apply). Each scan
  * and each write ships it to tasks once, as a [[TaskHadoopConf]].
  */
class KVTextSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-kv"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = KVTextSource.SCHEMA

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val path = Option(opts.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-kv requires a path"))
    val chunk = opts.getLong("chunkSize", KVTextSource.DefaultChunkSize)
    require(chunk > 0, s"chunkSize must be positive, got $chunk")
    new KVTable(path, chunk)
  }
}

object KVTextSource {
  val SCHEMA: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = false)))

  /** The reference's DEFAULT_INPUT_SPLIT_SIZE is 1024 bytes
    * (src/constants.rs:5) — far too fine for real files, where a split per
    * KiB would swamp the scheduler; 32 MiB is a scan-friendly default and
    * the reference's constant remains reachable via `option("chunkSize", 1024)`. */
  val DefaultChunkSize: Long = 32L * 1024 * 1024
}

class KVTable(path: String, chunk: Long) extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-kv $path"
  override def schema(): StructType = KVTextSource.SCHEMA
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KVScanBuilder(path, chunk)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val cols = info.schema().fields
    require(cols.length == 2,
      s"graft-kv writes 2-column (key, value) data, got ${cols.length} columns")
    new KVWriteBuilder(path, info)
  }
}

// ---------------------------------------------------------------- read side

class KVScanBuilder(path: String, chunk: Long)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = KVTextSource.SCHEMA

  override def pruneColumns(requiredSchema: StructType): Unit =
    // the source can serve any subset (including the empty projection a
    // bare count() asks for)
    required = requiredSchema

  override def build(): Scan = new KVScan(path, chunk, required)
}

class KVScan(path: String, chunk: Long, required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-kv $path chunkSize=$chunk columns=${required.fieldNames.mkString(",")}"

  private lazy val conf = SparkSession.active.sessionState.newHadoopConf()

  override def planInputPartitions(): Array[InputPartition] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    // a missing path is an operator error, not an empty table — fail like
    // every built-in file source does
    if (!fs.exists(p))
      throw new IllegalArgumentException(s"graft-kv path does not exist: $path")
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
      else Array(fs.getFileStatus(p))
    files.flatMap { f =>
      val len = f.getLen
      if (len == 0) Seq.empty
      else (0L until len by chunk).map { start =>
        KVInputPartition(f.getPath.toString, start, math.min(start + chunk, len), len)
      }
    }.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    KVReaderFactory(required.fieldNames, TaskHadoopConf(conf))
}

case class KVInputPartition(file: String, start: Long, end: Long, fileLen: Long)
    extends InputPartition

case class KVReaderFactory(columns: Array[String], conf: TaskHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new KVPartitionReader(partition.asInstanceOf[KVInputPartition], columns, conf)
}

/** Reader-pool concurrency gauges — the Spark counterpart of the
  * reference's semaphore admission (reference: src/worker_pool.rs:16,
  * 48-76): Spark admits a split's reader only when a scheduler slot
  * frees up, so concurrent open files are bounded by task slots, not by
  * split count. The gauges (one atomic bump per split open/close) let a
  * spec pin that bound and that no handle outlives its task. Single-JVM
  * visibility is exactly what local-mode tests need; on a cluster each
  * executor JVM tracks its own slots. */
private[sources] object KVReaderGauges {
  val open = new java.util.concurrent.atomic.AtomicInteger(0)
  private val highWater = new java.util.concurrent.atomic.AtomicInteger(0)
  def onOpen(): Unit = {
    val n = open.incrementAndGet()
    highWater.getAndUpdate(h => math.max(h, n))
  }
  def onClose(): Unit = open.decrementAndGet()
  def reset(): Unit = { open.set(0); highWater.set(0) }
  def high: Int = highWater.get()
}

/** Reads `key value` lines from one byte range of one file. Split protocol
  * (same as Hadoop's LineRecordReader): a reader whose range starts past 0
  * discards bytes through the first '\n' (that line belongs to the
  * previous split — even when it happens to start exactly at `start`), and
  * consumes every line whose first byte lies at offset <= `end`, running
  * past `end` to finish the last one. Together the two rules give
  * exactly-once line delivery across splits. A `\r` right before the
  * `\n` that ends a line is not part of it.
  */
class KVPartitionReader(p: KVInputPartition, columns: Array[String],
    conf: TaskHadoopConf) extends PartitionReader[InternalRow] {

  private val needKey = columns.contains("key")
  private val needValue = columns.contains("value")

  private val fsIn = new Path(p.file).getFileSystem(conf.value).open(new Path(p.file))
  KVReaderGauges.onOpen()
  // byte-at-a-time parsing over a buffered wrapper — the raw checksum
  // stream pays a full call stack per read(), catastrophic at MiB ranges.
  // Safe because the range is consumed strictly sequentially after the seek.
  private val in = { fsIn.seek(p.start); new java.io.BufferedInputStream(fsIn, 128 * 1024) }
  private var pos: Long = p.start
  private var current: InternalRow = _
  private val buf = new java.io.ByteArrayOutputStream(256)

  if (p.start > 0) {
    // skip the leading partial line (consumed by the previous split)
    var b = in.read()
    pos += (if (b >= 0) 1 else 0)
    while (b >= 0 && b != '\n') { b = in.read(); pos += 1 }
  }

  /** Reads the next full line starting at `pos`; null at range/file end.
    * A `\r` is held back until the next byte shows it does not end a
    * CRLF line. */
  private def nextLine(): Array[Byte] = {
    if (pos > p.end || pos >= p.fileLen) return null
    buf.reset()
    var cr = false
    var b = in.read()
    pos += (if (b >= 0) 1 else 0)
    while (b >= 0 && b != '\n') {
      if (cr) buf.write('\r')
      cr = b == '\r'
      if (!cr) buf.write(b)
      b = in.read()
      pos += 1
    }
    if (cr && b < 0) buf.write('\r')
    buf.toByteArray
  }

  override def next(): Boolean = {
    var line = nextLine()
    while (line != null) {
      // split_once(' ') semantics (reference src/utils.rs:86): lines with
      // no space have no KV split and are skipped; so are empty-key lines
      // (the writer refuses to produce either shape).
      val sp = line.indexOf(' '.toByte)
      if (sp > 0) {
        val vals = columns.map {
          case "key" if needKey => UTF8String.fromBytes(line, 0, sp)
          case "value" if needValue => UTF8String.fromBytes(line, sp + 1, line.length - sp - 1)
          case other => throw new IllegalArgumentException(s"unknown column $other")
        }
        current = InternalRow.fromSeq(vals.toIndexedSeq)
        return true
      }
      line = nextLine()
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = { in.close(); KVReaderGauges.onClose() }
}

// ---------------------------------------------------------------- write side

class KVWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new KVWrite(path, doTruncate)
}

class KVWrite(path: String, doTruncate: Boolean) extends Write {
  override def toBatch: BatchWrite = new KVBatchWrite(path, doTruncate)
}

/** NOTE: overwrite truncates the target up front (driver-side, before any
  * task runs), so an aborted overwrite job leaves an empty/partial target
  * rather than the old data — the same non-atomic overwrite contract as
  * Spark's direct output committers. Failed TASKS, by contrast, are clean:
  * each task abort deletes its own partial file, and retries write a fresh
  * task-scoped filename. */
class KVBatchWrite(path: String, doTruncate: Boolean) extends BatchWrite {
  private lazy val conf = SparkSession.active.sessionState.newHadoopConf()

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (doTruncate && fs.exists(p)) fs.delete(p, true)
    fs.mkdirs(p)
    KVWriterFactory(path, TaskHadoopConf(conf))
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case KVCommitMessage(file) =>
      val p = new Path(file)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, false)
    }
}

case class KVCommitMessage(file: String) extends WriterCommitMessage

case class KVWriterFactory(path: String, conf: TaskHadoopConf)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KVDataWriter(f"$path/part-$partitionId%05d-$taskId.txt", conf)
}

/** Writes `key value\n` lines (reference src/utils.rs:47-53 — but with a
  * task-scoped deterministic filename instead of the reference's random
  * u64, which could collide, src/utils.rs:64-77).
  *
  * Representability is enforced, not assumed: the line format cannot carry
  * an empty key, a key containing a space, or a line break (`\n` or `\r`)
  * in either field — such rows would silently re-parse as DIFFERENT data
  * (key splits shift, embedded newlines become extra records, a `\r`
  * before one is dropped), so the writer throws instead. Null keys are
  * dropped (documented format limitation); null values write as empty
  * strings. The file is created at the first row, so an empty task
  * leaves none. */
class KVDataWriter(file: String, conf: TaskHadoopConf)
    extends DataWriter[InternalRow] {
  private val p = new Path(file)
  private val fs = p.getFileSystem(conf.value)
  private var out: org.apache.hadoop.fs.FSDataOutputStream = _

  private def breaks(s: String) = s.indexOf('\n') >= 0 || s.indexOf('\r') >= 0

  override def write(row: InternalRow): Unit = {
    if (!row.isNullAt(0)) {
      val key = row.getUTF8String(0).toString
      val value = if (row.isNullAt(1)) "" else row.getUTF8String(1).toString
      if (key.isEmpty || key.indexOf(' ') >= 0 || breaks(key))
        throw new IllegalArgumentException(
          s"graft-kv: KVText cannot represent key '${key.take(40)}': keys must be " +
            "non-empty with no spaces or line breaks (split_once-parse format)")
      if (breaks(value))
        throw new IllegalArgumentException(
          "graft-kv: KVText cannot represent line breaks in values (line-oriented format)")
      if (out == null) out = fs.create(p, true)
      out.write(key.getBytes("UTF-8"))
      out.write(' ')
      out.write(value.getBytes("UTF-8"))
      out.write('\n')
    }
  }

  override def commit(): WriterCommitMessage = {
    if (out != null) out.close()
    KVCommitMessage(file)
  }
  override def abort(): Unit = {
    // delete this task's partial output — a retry writes a fresh
    // task-scoped filename, so leftovers would double-count on read
    if (out != null) try out.close() catch { case _: Throwable => () }
    if (fs.exists(p)) fs.delete(p, false)
  }
  override def close(): Unit = ()
}
