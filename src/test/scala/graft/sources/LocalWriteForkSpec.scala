package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators.{Lake, Pipeline}

/** Local writes and listings must not start processes: Hadoop's stock
  * local FileSystem, without `libhadoop`, forks a `chmod` per created file
  * or directory and an `ls -ld` per permission read. Counted with an
  * in-process JFR recording of `jdk.ProcessStart` only. */
class LocalWriteForkSpec extends SparkTestBase {

  import spark.implicits._

  /** The command line of every process the JVM starts while `body` runs. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.map(_.getString("command")).toSeq
    } finally { rec.close(); Files.delete(f) }
  }

  test("a lake lifecycle, a KVText sink and a parquet write start no chmod or ls process") {
    val root = Files.createTempDirectory("local-forks").toString
    val lake = root + "/lake"
    val fs = new Path(lake).getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.isInstanceOf[NioLocalFileSystem],
      s"the cached file: FileSystem is a ${fs.getClass.getName}: something asked for it " +
        "with a Hadoop configuration that lacks GraftSession's fs.file.impl before this session did")

    def rows(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
      (col("id") % 2).cast("int").as("part"))
    val starts = processStarts {
      Lake.init(spark, rows(0, 40), lake, Seq("part"), statsCols = Seq("doc_id"))
      Pipeline.appendToLake(spark, lake, rows(40, 60), partitionCols = Seq("part"),
        statsCols = Seq("doc_id"))
      Pipeline.mergeIntoLakeSparse(spark, lake, rows(50, 70).withColumn("text", lit("merged")),
        partitionCols = Seq("part"))
      Pipeline.updateLakeSparseWhere(spark, lake, col("doc_id").between(0L, 9L),
        Map("text" -> lit("updated")))
      Pipeline.deleteFromLakeSparse(spark, lake, Seq(1L, 2L).toDF("k"), "k")
      Pipeline.compactLake(spark, lake, partitionCols = Seq("part"), retainHistory = true)
      Lake.checkpointNow(spark, lake)
      Lake.vacuum(spark, lake)
      KVText.write(Seq(("a", "1"), ("b", "2")).toDF("key", "value"), root + "/kv")
      rows(0, 10).write.parquet(root + "/parquet")
    }
    val forks = starts.filter(c => Set("chmod", "ls")(c.takeWhile(_ != ' ').split('/').last))
    assert(forks.isEmpty, s"${forks.size} chmod/ls process starts, e.g. ${forks.take(3).mkString("; ")}")
    // the operations did run: 70 ids upserted, 2 deleted
    assert(Lake.read(spark, lake).count() == 68L)
  }
}
