package graft.plans

import java.io.FileNotFoundException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.example.DummyRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.TaskHadoopConf
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.RoaringBitmap

/** One lake read's scoped file map: the absolute path exactly as the
  * parquet scan renders `_metadata.file_path` → the lakeDir-relative file
  * and the absolute paths of that file's deletion-vector sidecars. Built
  * on the driver from a map that is already there (bounded by the dv-lazy
  * threshold), shipped to tasks inside the plan, and read there once per
  * file, never per row.
  *
  * Sidecars open with the reading session's Hadoop configuration, carried
  * as a [[TaskHadoopConf]]: the whole configuration (~110 KB serialized)
  * would ride in every task binary, and a DV-bearing read measured ~30 ms
  * slower with it on 4 vCPUs. */
final case class LakeScanFiles(
    byPath: Map[String, LakeScanFiles.Entry],
    hadoopConf: TaskHadoopConf) {
  override def toString: String = s"${byPath.size} files"
}

object LakeScanFiles {
  final case class Entry(file: String, sidecars: Seq[String])
}

/** Per-partition probe state behind [[LakeDvKeep]] and [[LakeScanFile]]:
  * at the first row of each file it looks the file up once, loading its
  * deleted positions from the file's own sidecars; every later row of
  * that file costs one path compare. */
final class LakeDvProbe(files: LakeScanFiles) {
  private var path: UTF8String = _
  private var entry: LakeScanFiles.Entry = _
  private var rel: UTF8String = _
  private var deleted: RoaringBitmap = _

  private def at(p: UTF8String): Unit =
    if (path == null || !path.equals(p)) {
      path = p.clone()
      entry = files.byPath.getOrElse(path.toString, null)
      rel = null
      deleted =
        if (entry == null || entry.sidecars.isEmpty) null
        else LakeDvSidecars.deletedRows(entry, files.hadoopConf.value)
    }

  /** False iff row `pos` of the file at `p` carries a deletion vector. */
  def keep(p: UTF8String, pos: Long): Boolean = {
    at(p)
    deleted == null || pos > Int.MaxValue || !deleted.contains(pos.toInt)
  }

  /** The lakeDir-relative file of the row at `p`. */
  def relFile(p: UTF8String): UTF8String = {
    at(p)
    if (entry == null)
      throw new IllegalStateException(
        s"lake read produced a row from $path, which is not in the read's file list")
    if (rel == null) rel = UTF8String.fromString(entry.file)
    rel
  }
}

private object LakeDvProbe {
  /** The probe as a per-partition field of the generated class; the file
    * map reaches it by reference, so the generated source carries no
    * path and one compiled class serves every read. */
  def field(ctx: CodegenContext, files: LakeScanFiles): String = {
    val ref = ctx.addReferenceObj("lakeScanFiles", files, classOf[LakeScanFiles].getName)
    val cls = classOf[LakeDvProbe].getName
    ctx.addMutableState(cls, "lakeDvProbe", v => s"$v = new $cls($ref);", forceInline = true)
  }
}

/** Deletion vectors applied INSIDE the lake scan: true iff the row at
  * (`_metadata.file_path`, `_metadata.row_index`) is not deleted. This is
  * the per-file row-deleted mask of Delta Lake's deletion vectors and of
  * Iceberg's position-delete filter: each task loads a file's positions
  * from that file's sidecars when it reaches the file, so a DV-bearing
  * read plans as the same single columnar scan as a clean one, with no
  * join and no driver-side sidecar read. Deterministic (a pure function
  * of the row's coordinates) and never foldable. */
case class LakeDvKeep(left: Expression, right: Expression, files: LakeScanFiles)
    extends BinaryExpression with Predicate {
  override def prettyName: String = "graft_lake_dv_keep"
  override def nullable: Boolean = false

  @transient private lazy val probe =
    ThreadLocal.withInitial[LakeDvProbe](() => new LakeDvProbe(files))

  override def eval(input: InternalRow): Any = {
    val p = left.eval(input)
    val r = right.eval(input)
    p == null || r == null ||
      probe.get.keep(p.asInstanceOf[UTF8String], r.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val probeField = LakeDvProbe.field(ctx, files)
    val p = left.genCode(ctx)
    val r = right.genCode(ctx)
    ev.copy(code = code"""
      |${p.code}
      |${r.code}
      |boolean ${ev.value} = ${p.isNull} || ${r.isNull} ||
      |  $probeField.keep(${p.value}, ${r.value});""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** The lakeDir-relative file of a row, from its `_metadata.file_path`
  * and the read's [[LakeScanFiles]] map: the `_gf_file` lineage column
  * that sparse DML records in a deletion vector. A path outside the map
  * fails loudly. */
case class LakeScanFile(child: Expression, files: LakeScanFiles) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_lake_file"

  @transient private lazy val probe =
    ThreadLocal.withInitial[LakeDvProbe](() => new LakeDvProbe(files))

  override def nullSafeEval(p: Any): Any = probe.get.relFile(p.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val probeField = LakeDvProbe.field(ctx, files)
    nullSafeCodeGen(ctx, ev, p => s"${ev.value} = $probeField.relFile($p);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Executor-side decode of deletion-vector sidecars, with one cache per
  * JVM shared across tasks. A sidecar is a directory of parquet files of
  * `(file, pos)` rows written once under a UUID name and never changed,
  * so its decoded positions are keyed by its path and never go stale.
  * The cache holds at most [[CacheBytes]] of decoded positions and
  * evicts the least recently used sidecar first; a sidecar larger than
  * the bound is decoded for its caller and not kept. */
object LakeDvSidecars {

  val CacheBytes: Long = 64L << 20

  private final class Decoded(
      val byFile: java.util.HashMap[String, RoaringBitmap], val bytes: Long)

  private val cache = new java.util.LinkedHashMap[String, Decoded](16, 0.75f, true)
  private var cachedBytes = 0L
  private val loading = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Sidecar decodes (cache misses) in this JVM. Observability only. */
  private[graft] val decodes = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The union of `e`'s positions over its sidecars; null when none
    * names the file. */
  private[plans] def deletedRows(e: LakeScanFiles.Entry, conf: Configuration): RoaringBitmap = {
    var acc: RoaringBitmap = null
    e.sidecars.foreach { sc =>
      val bm = decoded(sc, conf).byFile.get(e.file)
      if (bm != null) acc = if (acc == null) bm else RoaringBitmap.or(acc, bm)
    }
    acc
  }

  private def cached(sidecar: String): Decoded = cache.synchronized(cache.get(sidecar))

  private def decoded(sidecar: String, conf: Configuration): Decoded = {
    val hit = cached(sidecar)
    if (hit != null) hit
    else {
      // one decode per sidecar even when several tasks reach it at once
      val lock = loading.computeIfAbsent(sidecar, _ => new Object)
      lock.synchronized {
        val again = cached(sidecar)
        if (again != null) again
        else {
          val d = decode(sidecar, conf)
          if (d.bytes <= CacheBytes) cache.synchronized {
            cache.put(sidecar, d)
            cachedBytes += d.bytes
            val it = cache.values.iterator
            while (cachedBytes > CacheBytes && it.hasNext) {
              cachedBytes -= it.next().bytes
              it.remove()
            }
          }
          loading.remove(sidecar)
          d
        }
      }
    }
  }

  private def decode(sidecar: String, conf: Configuration): Decoded = {
    decodes.incrementAndGet()
    val dir = new Path(sidecar)
    val parts =
      try dir.getFileSystem(conf).listStatus(dir)
      catch {
        case e: FileNotFoundException =>
          throw new IllegalStateException(
            s"deletion-vector sidecar $sidecar is missing; the lake's log attaches " +
              "it, so the rows it deletes cannot be told apart", e)
      }
    val byFile = new java.util.HashMap[String, RoaringBitmap]()
    parts.iterator.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .foreach(readPart(sidecar, _, conf, byFile))
    var bytes = 0L
    byFile.forEach { (f, bm) =>
      bm.runOptimize()
      bytes += bm.getLongSizeInBytes + 2L * f.length + 64L
    }
    new Decoded(byFile, bytes)
  }

  /** Column-reader decode of one sidecar part: rows usually arrive
    * grouped by file, so the file string is materialized once per run. */
  private def readPart(sidecar: String, st: FileStatus, conf: Configuration,
      byFile: java.util.HashMap[String, RoaringBitmap]): Unit = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
    try {
      val meta = reader.getFileMetaData
      val schema = meta.getSchema
      val fileCol = schema.getColumnDescription(Array("file"))
      val posCol = schema.getColumnDescription(Array("pos"))
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val store = new ColumnReadStoreImpl(pages,
          new DummyRecordConverter(schema).getRootConverter, schema, meta.getCreatedBy)
        val fr = store.getColumnReader(fileCol)
        val pr = store.getColumnReader(posCol)
        var last: Binary = null
        var bm: RoaringBitmap = null
        var i = 0L
        val n = pages.getRowCount
        while (i < n) {
          if (fr.getCurrentDefinitionLevel == fileCol.getMaxDefinitionLevel &&
              pr.getCurrentDefinitionLevel == posCol.getMaxDefinitionLevel) {
            val b = fr.getBinary
            if (last == null || b != last) {
              last = b.copy()
              bm = byFile.computeIfAbsent(b.toStringUsingUTF8, _ => new RoaringBitmap)
            }
            val pos = pr.getLong
            if (pos < 0L || pos > Int.MaxValue)
              throw new IllegalStateException(
                s"deletion-vector sidecar $sidecar holds row position $pos for " +
                  s"${last.toStringUsingUTF8}, outside a parquet file's int range")
            bm.add(pos.toInt)
          }
          fr.consume()
          pr.consume()
          i += 1
        }
        pages = reader.readNextRowGroup()
      }
    } finally reader.close()
  }
}
