package graft.sources.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.ParquetOptions
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** The hadoop-conf preparation Spark's native `ParquetScan` performs
  * before broadcasting a reader factory — read-support wiring, the
  * requested schema, and the session's parquet semantics flags — shared
  * by the lake surface that plans its own `FilePartition`s: the
  * change-feed stream ([[LakeMicroBatchStream]]). */
private[lake] object LakeParquetRead {
  def readerFactory(spark: SparkSession, dataSchema: StructType,
      partSchema: StructType): ParquetPartitionReaderFactory = {
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    hadoopConf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport].getName)
    hadoopConf.set("org.apache.spark.sql.parquet.row.requested_schema", dataSchema.json)
    org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
      .setSchema(dataSchema, hadoopConf)
    hadoopConf.set(org.apache.spark.sql.internal.SQLConf.SESSION_LOCAL_TIMEZONE.key,
      conf.sessionLocalTimeZone)
    hadoopConf.setBoolean(
      org.apache.spark.sql.internal.SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      conf.nestedSchemaPruningEnabled)
    hadoopConf.setBoolean(org.apache.spark.sql.internal.SQLConf.CASE_SENSITIVE.key,
      conf.caseSensitiveAnalysis)
    hadoopConf.setBoolean(org.apache.spark.sql.internal.SQLConf.PARQUET_BINARY_AS_STRING.key,
      conf.isParquetBinaryAsString)
    hadoopConf.setBoolean(
      org.apache.spark.sql.internal.SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      conf.isParquetINT96AsTimestamp)
    hadoopConf.setBoolean(
      org.apache.spark.sql.internal.SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      conf.getConf(org.apache.spark.sql.internal.SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED))
    hadoopConf.setBoolean(
      org.apache.spark.sql.internal.SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      conf.getConf(org.apache.spark.sql.internal.SQLConf.LEGACY_PARQUET_NANOS_AS_LONG))
    val broadcastConf = spark.sparkContext.broadcast(
      new SerializableConfiguration(hadoopConf))
    ParquetPartitionReaderFactory(conf, broadcastConf, dataSchema, dataSchema, partSchema,
      Array.empty, None, new ParquetOptions(Map.empty[String, String], conf))
  }
}
