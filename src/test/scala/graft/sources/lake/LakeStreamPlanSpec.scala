package graft.sources.lake

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkTestBase
import graft.operators.{Lake, Pipeline}

/** Planning-shape guarantees of the lake stream: catch-up batches
  * BIN-PACK small files into few tasks, and the byte-based admission
  * control bounds a trigger without ever stalling the stream. */
class LakeStreamPlanSpec extends SparkTestBase {

  import spark.implicits._

  private def fixture(ids: Range) =
    ids.map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("train").as("split"),
        lit(0).cast("int").as("shard_id"))

  private def stream(out: String, opts: Map[String, String] = Map.empty) = {
    val options = new CaseInsensitiveStringMap((opts + ("path" -> out)).asJava)
    val (schema, partCols) = LakeStreamSource.tableSchema(spark, out, options)
    new LakeMicroBatchStream(out, schema, partCols, options)
  }

  test("a version that added many small files plans into FEW bin-packed partitions, not one task per file") {
    val out = java.nio.file.Files.createTempDirectory("lakepack").toString + "/lake"
    // one commit, deliberately fragmented: 30 tiny files in one partition
    Lake.init(spark, fixture(0 until 30).repartition(30), out, Seq("split", "shard_id"))
    val nFiles = Lake.latestManifest(spark, out).get.files.size
    assert(nFiles >= 20, s"fixture must fragment, got $nFiles files")
    val parts = stream(out).planInputPartitions(LakeVersionOffset(0), LakeVersionOffset(1))
    assert(parts.length < nFiles / 4,
      s"$nFiles small files must bin-pack into few FilePartitions, got ${parts.length}")
    val plannedFiles = parts.map {
      case LakeBatchPartition(fp, _, _) => fp.files.length
      case p => p.asInstanceOf[FilePartition].files.length
    }.sum
    assert(plannedFiles == nFiles, "bin-packing must not drop or duplicate a file")
  }

  test("maxBytesPerTrigger bounds catch-up by bytes and always admits at least one version") {
    val out = java.nio.file.Files.createTempDirectory("lakebytes").toString + "/lake"
    Lake.init(spark, fixture(0 until 50), out, Seq("split", "shard_id"))   // v1
    Pipeline.appendToLake(spark, out, fixture(50 until 100))               // v2
    Pipeline.appendToLake(spark, out, fixture(100 until 150))              // v3
    // 1 byte can never fit a version — the stream must still progress
    // one version per trigger rather than stall
    val s = stream(out, Map("maxBytesPerTrigger" -> "1"))
    val o1 = s.latestOffset(LakeVersionOffset(0),
      s.getDefaultReadLimit).asInstanceOf[LakeVersionOffset]
    assert(o1.version == 1L, s"a starved byte budget must still admit ONE version, got $o1")
    // a generous budget admits the whole backlog at once
    val s2 = stream(out, Map("maxBytesPerTrigger" -> (64L * 1024 * 1024).toString))
    val o2 = s2.latestOffset(LakeVersionOffset(0),
      s2.getDefaultReadLimit).asInstanceOf[LakeVersionOffset]
    assert(o2.version == 3L, s"a generous byte budget must admit the whole backlog, got $o2")
    // a MID-SIZED budget composes: v1 admits, v1+v2 overflows — and the
    // whole admission pass priced from the manifest's recorded #bytes,
    // ZERO filesystem stats (every audit records add.size)
    val st = Lake.latestManifest(spark, out).get
    val v1Bytes = Lake.stateAt(spark, out, 1L).files
      .map(f => Lake.statBytesOf(st, f).getOrElse(0L)).sum
    assert(v1Bytes > 0L, "the audit must have recorded #bytes for every v1 file")
    val before = LakeStreamSource.admissionFsStats.get()
    val s3 = stream(out, Map("maxBytesPerTrigger" -> (v1Bytes + 1).toString))
    val o3 = s3.latestOffset(LakeVersionOffset(0),
      s3.getDefaultReadLimit).asInstanceOf[LakeVersionOffset]
    assert(o3.version == 1L, s"a one-version budget must admit exactly v1, got $o3")
    assert(LakeStreamSource.admissionFsStats.get() == before,
      "byte admission over a stats'd lake must never stat the filesystem")
  }

  test("streaming sink blooms its files: epoch-written parquet carries the lake's footer blooms and prunes") {
    val base = java.nio.file.Files.createTempDirectory("sinkbloom").toString
    val out = s"$base/lake"
    Lake.init(spark, fixture(0 until 20), out, Seq("split", "shard_id"),
      bloomCols = Seq("doc_id"))                                               // v1
    val v1Files = Lake.latestManifest(spark, out).get.files.toSet
    implicit val ctx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = mem.toDF().toDF("doc_id")
      .select(col("doc_id"), concat(lit("s "), col("doc_id")).as("text"),
        lit("train").as("split"), lit(0).cast("int").as("shard_id"))
      .writeStream.format("graft-lake")
      .option("checkpointLocation", s"$base/ck")
      .start(out)
    try { mem.addData(1000L, 1001L, 1002L); q.processAllAvailable() }          // v2
    finally q.stop()
    val st = Lake.latestManifest(spark, out).get
    val streamed = st.files.filterNot(v1Files)
    assert(streamed.nonEmpty, "the epoch must have committed files")
    // a key provably absent from the corpus: the streamed files' own
    // footer blooms must prune them (bloom-less files would all keep)
    val kept = Lake.pruneByBloom(spark, out, st, streamed, "doc_id",
      Array(999999L))
    assert(kept.isEmpty,
      s"streamed files must carry footer blooms and prune an absent key, kept $kept")
    // and a streamed key keeps exactly its file(s)
    val hit = Lake.pruneByBloom(spark, out, st, st.files, "doc_id",
      Array(1001L))
    assert(hit.nonEmpty && hit.toSet.subsetOf(streamed.toSet),
      s"a streamed key must probe to the streamed files, got $hit")
  }

  test("streaming sink: a relayout landing between write creation and epoch commit refuses loudly") {
    val out = java.nio.file.Files.createTempDirectory("sinkrace").toString + "/lake"
    Lake.init(spark, fixture(0 until 10), out, Seq("split", "shard_id"))
    val visible = Lake.visible(org.apache.spark.sql.types.DataType
      .fromJson(Lake.currentState(spark, out).schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType])
    // the write captures the (split, shard_id) layout at creation ...
    val write = LakeStreamingWrites.create(out, "race-q", visible, _ => None)
    // ... then a relayout interposes before the epoch commits
    Pipeline.repartitionLake(spark, out, Seq("split"))
    val vBefore = Lake.currentState(spark, out).version
    val e = intercept[IllegalStateException] {
      write.commit(0L, Array(LakeFilesMessage(
        Seq(("split=train/shard_id=0/ghost.parquet", 1L)))))
    }
    assert(e.getMessage.contains("layout changed mid-stream"),
      s"the commit must name the relayout, got: ${e.getMessage}")
    assert(Lake.currentState(spark, out).version == vBefore,
      "the refused epoch must not commit")
  }
}
