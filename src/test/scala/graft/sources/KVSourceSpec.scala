package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The DataSource V2 `graft-kv` format: chunked split planning with
  * exactly-once line delivery (the reference's 1024-byte splitter,
  * src/utils.rs:9-45, WITHOUT its tail-loss bug), split_once(' ') parse
  * semantics, pruned projections, and the V2 write path. */
class KVSourceSpec extends SparkTestBase {

  private def write(dir: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(dir, "data.txt"), lines.mkString("", "\n", "\n").getBytes)

  test("tiny chunkSize splits mid-line yet delivers every line exactly once") {
    val dir = Files.createTempDirectory("kvsrc").toString
    val lines = (0 until 500).map(i => s"key$i value-$i with spaces $i")
    write(dir, lines)
    // 64-byte chunks guarantee most lines straddle a split boundary
    val df = spark.read.format("graft-kv").option("chunkSize", 64).load(dir)
    assert(df.rdd.getNumPartitions > 10, "expected many byte-range splits")
    val got = df.collect().map(r => r.getString(0) -> r.getString(1)).toSet
    val want = lines.map { l => val Array(k, v) = l.split(" ", 2); k -> v }.toSet
    assert(got == want)
  }

  test("reader admission is slot-bounded: many splits never open more files than task slots") {
    // The reference gates worker admission with a semaphore
    // (worker_pool.rs:16,48-76); Spark's equivalent is scheduler slots —
    // a split's reader opens only when a core frees up. 500+ splits must
    // therefore never hold more than <cores> files open at once, and no
    // handle may outlive its task.
    val dir = Files.createTempDirectory("kvadm").toString
    val lines = (0 until 4000).map(i => s"key$i value-$i padding to make the file span many chunks $i")
    write(dir, lines)
    graft.sources.kv.KVReaderGauges.reset()
    val df = spark.read.format("graft-kv").option("chunkSize", 512).load(dir)
    val nSplits = df.rdd.getNumPartitions
    assert(nSplits > 100, s"expected hundreds of byte-range splits, got $nSplits")
    assert(df.count() == 4000)
    val slots = spark.sparkContext.defaultParallelism
    val high = graft.sources.kv.KVReaderGauges.high
    assert(high <= slots,
      s"$high readers were open concurrently but only $slots task slots exist — " +
        "reader lifetime must be bounded by task admission")
    assert(high > 0, "gauge must have observed the scan")
    assert(graft.sources.kv.KVReaderGauges.open.get() == 0,
      "every reader must close with its task — leaked file handles")
  }

  test("file smaller than one chunk, trailing line without newline, junk lines") {
    val dir = Files.createTempDirectory("kvsrc2").toString
    // no trailing newline after the last line; one space-less junk line
    Files.write(Paths.get(dir, "data.txt"), "a 1\njunkline\nb two words".getBytes)
    val got = spark.read.format("graft-kv").load(dir)
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(got == Set("a" -> "1", "b" -> "two words"),
      "tail line must not be dropped (the reference's read_exact bug) and junk skipped")
  }

  test("column pruning reaches the source (key-only projection)") {
    val dir = Files.createTempDirectory("kvsrc3").toString
    write(dir, Seq("k1 v1", "k2 v2"))
    val df = spark.read.format("graft-kv").load(dir).select("key")
    df.collect()
    val scan = df.queryExecution.executedPlan.toString()
    assert(scan.contains("columns=key"), s"pruned projection not pushed to scan:\n$scan")
    assert(df.collect().map(_.getString(0)).toSet == Set("k1", "k2"))
    // empty projection (count) also served
    assert(spark.read.format("graft-kv").load(dir).count() == 2)
  }

  test("V2 write then read round-trips; overwrite truncates") {
    import spark.implicits._
    val dir = Files.createTempDirectory("kvsrc4").toString + "/out"
    val data = Seq(("hello", "1"), ("multi", "a b c"), ("empty", ""))
    data.toDF("key", "value").write.format("graft-kv").mode("overwrite").save(dir)
    val back = spark.read.format("graft-kv").load(dir)
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(back == data.toSet)
    // overwrite replaces, not appends
    Seq(("only", "row")).toDF("key", "value")
      .write.format("graft-kv").mode("overwrite").save(dir)
    val after = spark.read.format("graft-kv").load(dir)
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(after == Set("only" -> "row"))
  }

  test("writer refuses unrepresentable rows instead of silently corrupting them") {
    import spark.implicits._
    val dir = Files.createTempDirectory("kvsrc6").toString + "/bad"
    def attempt(rows: Seq[(String, String)]): Throwable =
      intercept[Exception] {
        rows.toDF("key", "value").write.format("graft-kv").mode("overwrite").save(dir)
      }
    // key with a space would re-parse as a different (key, value) split
    assert(attempt(Seq(("a b", "v"))).getMessage.contains("graft-kv"))
    // newline in a value would become a phantom extra record
    assert(attempt(Seq(("k", "v1\nv2"))).getMessage.contains("graft-kv"))
    // empty key produces a line the reader must skip — reject at write time
    assert(attempt(Seq(("", "v"))).getMessage.contains("graft-kv"))
  }

  test("missing path fails loudly instead of returning an empty table") {
    val err = intercept[Exception] {
      spark.read.format("graft-kv").load("/tmp/graft-kv-no-such-path-xyz").collect()
    }
    assert(err.getMessage.contains("does not exist"), err.getMessage)
  }

  test("reference dataflow end-to-end on the V2 source: chunked scan -> wordcount -> KV sink") {
    import spark.implicits._
    val dir = Files.createTempDirectory("kvsrc5").toString
    write(dir, Seq("d1 a b a", "d2 b c"))
    val out = dir + "/wc"
    // V2 writes resolve output columns BY NAME against the table schema,
    // so the sink dataframe must present (key, value)
    val counts = spark.read.format("graft-kv").option("chunkSize", 8).load(dir)
      .select(explode(split(col("value"), " ")).as("key"))
      .groupBy("key").agg(count(lit(1)).cast("string").as("value"))
    counts.write.format("graft-kv").mode("overwrite").save(out)
    val back = spark.read.format("graft-kv").load(out)
      .collect().map(r => r.getString(0) -> r.getString(1).toLong).toMap
    assert(back == Map("a" -> 2L, "b" -> 2L, "c" -> 1L))
  }

  test("CRLF lines read the same through KVText.read and graft-kv, with no trailing \\r") {
    val dir = Files.createTempDirectory("kvcrlf").toString
    Files.write(Paths.get(dir, "data.txt"),
      "a 1\r\nb two words\r\nc lone\rcr\r\nd \r\nnospace\r\ne last".getBytes)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getString(1)).toSet
    val kv = rows(spark.read.format("graft-kv").option("chunkSize", 5).load(dir))
    assert(kv == rows(KVText.read(spark, dir)))
    // only the \r that ends a CRLF line goes; a lone \r is data
    assert(kv == Set("a" -> "1", "b" -> "two words", "c" -> "lone\rcr", "d" -> "", "e" -> "last"))
  }

  test("the writer refuses \\r in a key and in a value") {
    import spark.implicits._
    val dir = Files.createTempDirectory("kvcr").toString + "/bad"
    def attempt(k: String, v: String): Throwable = intercept[Exception] {
      Seq(("ok", "1"), (k, v)).toDF("key", "value").write.format("graft-kv").mode("overwrite").save(dir)
    }
    val key = attempt("a\rb", "v").getMessage
    assert(key.contains("graft-kv") && key.contains("KVText cannot represent key"), key)
    val value = attempt("k", "x\ry").getMessage
    assert(value.contains("graft-kv") && value.contains("KVText cannot represent line breaks in values"), value)
  }

  test("written files are named part-*, one per non-empty task") {
    import spark.implicits._
    val dir = Files.createTempDirectory("kvnames").toString + "/out"
    Seq(("a", "1"), ("b", "2")).toDF("key", "value").repartition(6)
      .write.format("graft-kv").mode("overwrite").save(dir)
    val names = new java.io.File(dir).list().filterNot(n => n.startsWith(".") || n.startsWith("_"))
    assert(names.nonEmpty && names.length <= 2 && names.forall(_.matches("part-\\d{5}-\\d+\\.txt")),
      names.mkString(", "))
  }

  test("KVText.read plans the graft-kv scan") {
    val dir = Files.createTempDirectory("kvplan").toString
    write(dir, Seq("k1 v1"))
    val df = KVText.read(spark, dir)
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan }
    assert(scans.nonEmpty && scans.forall(_.isInstanceOf[graft.sources.kv.KVScan]),
      df.queryExecution.executedPlan.toString)
  }
}
