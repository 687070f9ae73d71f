package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference engine's wire format: line-oriented `key value\n` text
  * files (reference: src/utils.rs:47-53 writes, src/utils.rs:79-92 parses
  * with split_once(' ')), read and written by the `graft-kv` source
  * ([[graft.sources.kv.KVTextSource]]), which holds the one parser, the
  * one writer and their refusals. */
object KVText {

  /** Read `key value` lines into a (key, value) DataFrame through
    * `graft-kv`: split at the first space, skipping lines without one or
    * with an empty key. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("graft-kv").load(path)

  /** Write a 2-column DataFrame as `key value` lines through `graft-kv`,
    * replacing `path`. Rows with null keys are dropped (the line format
    * cannot represent them); null values write as empty strings. A row
    * that would read back as different data fails the write. */
  def write(df: DataFrame, path: String): Unit = {
    val Array(k, v) = df.columns
    df.filter(col(k).isNotNull)
      .select(col(k).cast("string").as("key"),
        coalesce(col(v).cast("string"), lit("")).as("value"))
      .write.format("graft-kv").mode("overwrite").save(path)
  }
}
