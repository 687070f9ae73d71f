package graft.sources

import java.nio.file.Files

import graft.SparkTestBase

/** Round-trip fidelity for the reference's `key value` line format
  * (reference: src/utils.rs:47-53 / 79-92). */
class KVTextSpec extends SparkTestBase {

  test("write then read round-trips keys and values, including values with spaces") {
    import spark.implicits._
    val dir = Files.createTempDirectory("kvtext").toString + "/out"
    val data = Seq(("hello", "1"), ("world", "2"), ("multi", "a b c"), ("empty?", "x"))
    KVText.write(data.toDF("key", "value"), dir)
    val back = KVText.read(spark, dir).collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(back == data.toSet)
  }

  test("null values round-trip as empty strings; null keys and junk lines are dropped") {
    import spark.implicits._
    val dir = Files.createTempDirectory("kvtext3").toString + "/out"
    val data = Seq((Some("k1"), Some("v1")), (Some("k2"), None), (None, Some("orphan")))
    KVText.write(data.toDF("key", "value"), dir)
    val back = KVText.read(spark, dir).collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(back == Set("k1" -> "v1", "k2" -> ""))
  }

  test("reads the same rows as the graft-kv reader: split at the first space, whatever the key or value holds") {
    val dir = Files.createTempDirectory("kvtext4").toString
    // U+0085 and U+2028 are line terminators to java.util.regex's `.` but
    // not to Spark's text reader; a tab is not a space
    val lines = Seq("a x\u0085y", "b x\u2028y", "k\tx v", "c  lead", "d ", " nokey", "nospace", "e v w")
    Files.write(java.nio.file.Paths.get(dir, "part-0"),
      lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("key", "value").collect().map(r => r.getString(0) -> r.getString(1)).toSet
    val text = rows(KVText.read(spark, dir))
    assert(text == rows(spark.read.format("graft-kv").load(dir)))
    assert(text == Set("a" -> "x\u0085y", "b" -> "x\u2028y", "k\tx" -> "v", "c" -> " lead", "d" -> "", "e" -> "v w"))
  }

  test("wordcount over a KV sink matches direct counts (reference dataflow shape)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("kvtext2").toString + "/wc"
    val docs = Seq(("d1", "a b a"), ("d2", "b c")).toDF("key", "value")
    // map -> shuffle -> reduce -> KV sink (the reference's out/ format)
    val counts = docs.select(explode(split(col("value"), " ")).as("word"))
      .groupBy("word").count()
    KVText.write(counts, dir)
    val back = KVText.read(spark, dir).collect().map(r => r.getString(0) -> r.getString(1).toLong).toMap
    assert(back == Map("a" -> 2L, "b" -> 2L, "c" -> 1L))
  }
}
