package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** A delta record cut short at a line boundary: its header counts the
  * add, data-add, remove, `D` and `C` lines the writer rendered, so a
  * parse that finds fewer fails "torn" instead of reading a shorter
  * commit. Headers that carry no counts stay unchecked. */
class LakeTornDeltaSpec extends SparkTestBase {

  import spark.implicits._

  private def fixture(ids: Range) =
    ids.map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), (col("doc_id") % 4).cast("int").as("shard_id"))

  /** A lake whose version 2 appends 40 rows as four files. */
  private def lakeWithAppend(leaf: String): (String, java.nio.file.Path) = {
    val out = java.nio.file.Files.createTempDirectory(leaf).toString + "/lake"
    Lake.init(spark, fixture(0 until 8), out, Seq("shard_id"))                      // v1
    Pipeline.appendToLake(spark, out, fixture(100 until 140), partitionCols = Seq("shard_id"))  // v2
    (out, java.nio.file.Paths.get(out, Lake.LogDirName, f"v${2L}%020d.manifest"))
  }

  private def rewrite(delta: java.nio.file.Path)(f: Seq[String] => Seq[String]): Unit = {
    val lines = new String(java.nio.file.Files.readAllBytes(delta), "UTF-8").split('\n').toSeq
    java.nio.file.Files.write(delta, f(lines).mkString("\n").getBytes("UTF-8"))
    // the local filesystem's checksum of the old bytes would fail the read first
    java.nio.file.Files.deleteIfExists(delta.resolveSibling(s".${delta.getFileName}.crc"))
    Lake.invalidateStateCache()
  }

  private def dropLastAdd(lines: Seq[String]): Seq[String] = {
    val last = lines.lastIndexWhere(_.startsWith("A\t"))
    assert(last > 0, s"the append's delta must carry A lines: ${lines.mkString(" | ")}")
    lines.patch(last, Nil, 1)
  }

  test("a delta missing its last A line fails torn, naming the record kind and version") {
    val (out, delta) = lakeWithAppend("torn-delta")
    assert(Lake.read(spark, out).count() == 48L)
    rewrite(delta)(dropLastAdd)
    val e = intercept[IllegalStateException] { Lake.deltaAt(spark, out, 2L) }
    assert(e.getMessage.contains("torn") && e.getMessage.contains("delta record") &&
      e.getMessage.contains("version 2"), e.getMessage)
    val e2 = intercept[IllegalStateException] { Lake.read(spark, out).count() }
    assert(e2.getMessage.contains("torn"), e2.getMessage)
  }

  test("a delta header without counts stays unchecked: the record reads as written") {
    val (out, delta) = lakeWithAppend("torn-delta-legacy")
    val files = Lake.deltaAt(spark, out, 2L).added.size
    assert(files >= 2, s"the append must land several files, got $files")
    rewrite(delta) { lines =>
      val h = lines.head.split('\t')
      dropLastAdd(h.take(3).mkString("\t") +: lines.tail)
    }
    assert(Lake.deltaAt(spark, out, 2L).added.size == files - 1)
  }
}
