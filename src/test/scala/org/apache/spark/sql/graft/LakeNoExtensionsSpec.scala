package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators.{Lake, Pipeline}

/** A session built without `graft.GraftExtensions`: DSv2 reads of a lake
  * version that only `Lake.read`'s plan can read (deletion vectors, a
  * column mapping) fail at execution with an error naming the version
  * and the ways to install the extensions, while schema resolution,
  * clean reads, appends and SQL DELETE keep working. Lives in this
  * package because building a classic session with no extensions over
  * the shared SparkContext needs a `private[sql]` constructor
  * (`newSession()` inherits the parent's extensions). */
class LakeNoExtensionsSpec extends SparkTestBase {

  private lazy val bare: ClassicSession = {
    val s = new ClassicSession(spark.sparkContext)
    assert(s.extensions.buildResolutionRules(s).isEmpty,
      "the bare session must carry no injected resolution rule")
    s
  }

  private def freshDir(leaf: String): String =
    java.nio.file.Files.createTempDirectory(leaf).toString + "/lake"

  private def fixture(from: Long, until: Long): DataFrame =
    spark.range(from, until).select(col("id").as("doc_id"),
      concat(lit("doc "), col("id")).as("text"))

  /** The lake's newest committed version. */
  private def head(out: String): Long = Lake.versionAtTimestamp(spark, out, Long.MaxValue)

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  /** Runs `body` with the bare session active, as a user holding only
    * that session would. */
  private def inBare[T](body: => T): T = bare.withActive(body)

  /** The refusal, wherever Spark's planning surfaces it. */
  private def refusal(df: DataFrame): String = {
    val e = intercept[Exception](inBare(df.collect()))
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case u: UnsupportedOperationException => u.getMessage }
      .getOrElse(fail(s"expected the named refusal, got $e", e))
  }

  private def assertNamesTheWayOut(msg: String, version: Long): Unit =
    Seq(s"version $version", "graft.GraftExtensions", "GraftSession.builder",
      ".withExtensions(new graft.GraftExtensions)",
      "spark.sql.extensions=graft.GraftExtensions", "compactLake").foreach { part =>
      assert(msg.contains(part), s"the refusal must name '$part': $msg")
    }

  test("a DV-bearing version resolves its schema but refuses at collect, naming the extensions") {
    val out = freshDir("noext-dv")
    Lake.init(spark, fixture(0, 40), out, Seq.empty)
    Pipeline.deleteFromLakeSparse(spark, out, spark.range(3, 5).toDF("doc_id"), "doc_id")
    val v = head(out)
    val df = inBare(bare.read.format("graft-lake").load(out))
    assert(df.schema.fieldNames.toSeq == Seq("doc_id", "text"))
    val msg = refusal(df.filter(col("doc_id") < 10L))
    assertNamesTheWayOut(msg, v)
    assert(msg.contains("deletion vectors"), msg)
  }

  test("a column-mapped version resolves its logical schema but refuses at collect") {
    val out = freshDir("noext-mapped")
    Lake.init(spark, fixture(0, 20), out, Seq.empty)
    Lake.renameColumn(spark, out, "text", "body")
    val v = head(out)
    val df = inBare(bare.read.format("graft-lake").load(out))
    assert(df.schema.fieldNames.toSeq == Seq("doc_id", "body"))
    val msg = refusal(df)
    assertNamesTheWayOut(msg, v)
    assert(msg.contains("column mapping"), msg)
  }

  test("a clean lake still reads through the delegated scan") {
    val out = freshDir("noext-clean")
    Lake.init(spark, fixture(0, 30), out, Seq.empty)
    assert(inBare(ids(bare.read.format("graft-lake").load(out))) == (0L until 30L).toSet)
  }

  test("an append to a DV-bearing lake commits without the extensions") {
    val out = freshDir("noext-append")
    Lake.init(spark, fixture(0, 20), out, Seq.empty)
    Pipeline.deleteFromLakeSparse(spark, out, spark.range(5, 6).toDF("doc_id"), "doc_id")
    val before = head(out)
    inBare(bare.range(20, 25).select(col("id").as("doc_id"),
      concat(lit("doc "), col("id")).as("text"))
      .write.format("graft-lake").mode("append").save(out))
    assert(head(out) == before + 1)
    assert(ids(Lake.read(spark, out)) == (0L until 25L).toSet - 5L)
  }

  test("SQL INSERT and DELETE on a DV-bearing catalog table commit without the extensions") {
    val wh = java.nio.file.Files.createTempDirectory("noext-wh").toString
    bare.conf.set("spark.sql.catalog.graft_lake", "graft.sources.lake.LakeCatalog")
    bare.conf.set("spark.sql.catalog.graft_lake.warehouse", wh)
    val out = s"$wh/corpus"
    Lake.init(spark, fixture(0, 20), out, Seq.empty)
    Pipeline.deleteFromLakeSparse(spark, out, spark.range(2, 3).toDF("doc_id"), "doc_id")
    val before = head(out)
    inBare(bare.sql("INSERT INTO graft_lake.corpus SELECT 20L AS doc_id, 'doc 20' AS text"))
    inBare(bare.sql("DELETE FROM graft_lake.corpus WHERE doc_id = 7"))
    assert(head(out) == before + 2)
    assert(ids(Lake.read(spark, out)) == (0L to 20L).toSet -- Set(2L, 7L))
  }
}
