package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference engine's wire format: line-oriented `key value\n` text
  * files (reference: src/utils.rs:47-53 writes, src/utils.rs:79-92 parses
  * with split_once(' ')). This source/sink reproduces those semantics on
  * Spark's distributed text reader/writer — losslessly for values
  * containing spaces (first-space split), which matches the reference's
  * split_once behavior.
  *
  * Unlike the reference's chunked reader (src/utils.rs:9-45), Spark's text
  * source splits on line boundaries and never drops a partial tail chunk.
  */
object KVText {

  /** Read `key value` lines into a (key, value) DataFrame, split at the
    * first space like the reference's split_once(' ') and the `graft-kv`
    * reader. Lines without a space (split_once returns nothing in the
    * reference) or with an empty key are skipped rather than surfaced as
    * empty-string rows. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val line = col("value")
    val sp = instr(line, " ")
    spark.read.text(path)
      .filter(sp > 1)
      .select(
        substring_index(line, " ", 1).as("key"),
        line.substr(sp + 1, length(line)).as("value"))
  }

  /** Write a 2-column DataFrame as `key value` lines. Null values write as
    * empty strings (round-tripping to ""); rows with null keys are dropped
    * (the line format cannot represent them). A row that would read back
    * as different data fails the write, as in the `graft-kv` writer: an
    * empty key, a key holding a space, or a line break (`\n` or `\r`, both
    * of which Spark's text reader splits on) in either field. */
  def write(df: DataFrame, path: String): Unit = {
    val Array(k, v) = df.columns
    val key = col(k).cast("string")
    val value = coalesce(col(v).cast("string"), lit(""))
    def breaks(c: Column) = c.contains("\n") || c.contains("\r")
    df.filter(key.isNotNull)
      .select(
        when(key === "" || key.contains(" ") || breaks(key),
          raise_error(concat(lit("KVText cannot represent key '"), key.substr(1, 40),
            lit("': keys must be non-empty with no spaces or line breaks (split_once-parse format)"))))
          .when(breaks(value),
            raise_error(lit("KVText cannot represent line breaks in values (line-oriented format)")))
          .otherwise(concat_ws(" ", key, value)).as("value"))
      .write.mode("overwrite").text(path)
  }
}
