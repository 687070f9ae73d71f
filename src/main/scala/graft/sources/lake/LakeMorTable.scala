package graft.sources.lake

import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.Lake

/** The DSv2 table for a lake version the delegated `ParquetTable` scan
  * cannot serve: one that carries deletion vectors, a column mapping
  * (renamed or dropped columns) or several partition-layout generations.
  *
  * Its reads run through `Lake.read`'s plan: the injected
  * [[org.apache.spark.sql.graft.VectorizeLakeMorRead]] rule matches
  * [[lakeRowModeScan]] and replaces every read of this table with a
  * vectorized parquet scan that applies the deletion vectors inside it.
  * The table has no batch read of its own. In a session built without
  * `graft.GraftExtensions` nothing re-plans the read, so the scan's
  * `toBatch` refuses with an error naming the version and how to install
  * the extensions. The scan itself still builds, because Spark's
  * planning of a `SupportsDelete` DELETE builds a scan of its target
  * without running it.
  *
  * The table stays the write and DML surface for these versions: the
  * append builder, SQL DELETE via [[LakeDeletes]], and the MERGE/UPDATE
  * resolution rule all match on it. */
object LakeMorTable {
  /** Cap on the deletion-vector positions one driver-side load may
    * collect: the CDC stream's restore load
    * ([[LakeMicroBatchStream]]'s `loadSkips`). */
  val MaxPositionsConf = "spark.graft.lake.morMaxPositions"
  val DefaultMaxPositions = 20000000L
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
  private val fullSchema = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
  private val manifestSchema = Lake.visible(fullSchema)

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
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required = manifestSchema
      override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = required
        override def toBatch: Batch = throw new UnsupportedOperationException(
          s"graft-lake: version ${st.version} of $lakeDir carries $needs, which only " +
            "Lake.read's plan reads, and this session was built without " +
            "graft.GraftExtensions, whose rule plans the read. Build the session with " +
            "GraftSession.builder, with .withExtensions(new graft.GraftExtensions), or " +
            "with spark.sql.extensions=graft.GraftExtensions; or run compactLake, which " +
            "folds deletion vectors and layout generations back into the clean " +
            "delegated path (a column mapping still needs the extensions)")
      }
    }

  /** What this version carries that the delegated scan cannot read —
    * the same tests [[LakeSource]] routes on. */
  private def needs: String = Seq(
    Lake.dvMaybeNonEmpty(st.dvs) -> "deletion vectors",
    (Lake.hasMapping(fullSchema) || fullSchema.exists(Lake.isDropped)) ->
      "a column mapping (renamed or dropped columns)",
    (Lake.layoutGenerationsOf(st).size > 1) -> "mixed partition-layout generations"
  ).collect { case (true, what) => what }.mkString(" and ")
}
