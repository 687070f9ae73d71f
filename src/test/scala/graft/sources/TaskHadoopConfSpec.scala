package graft.sources

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TaskHadoopConf

import graft.SparkTestBase
import graft.operators.{Lake, Pipeline}

/** The local filesystem under a scheme of its own, so that a path in it
  * opens only where the Hadoop configuration names this class. */
class ConfOnlyFileSystem extends RawLocalFileSystem {
  override def getUri: URI = ConfOnlyFileSystem.Uri
}

object ConfOnlyFileSystem {
  val Scheme = "graftconf"
  val Uri: URI = URI.create(s"$Scheme:///")
}

/** Tasks see the Hadoop keys set on `sparkContext.hadoopConfiguration`,
  * as Spark's own scans do. The scheme's FileSystem cache is disabled:
  * the cache is keyed by scheme, not by configuration, so an instance
  * the data scan cached would open the scheme for a task whose
  * configuration lacks it. */
class TaskHadoopConfSpec extends SparkTestBase {

  import spark.implicits._

  private val implKey = s"fs.${ConfOnlyFileSystem.Scheme}.impl"
  private val cacheKey = s"fs.${ConfOnlyFileSystem.Scheme}.impl.disable.cache"

  private def withScheme[T](body: => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set(implKey, classOf[ConfOnlyFileSystem].getName)
    hc.setBoolean(cacheKey, true)
    try body
    finally { hc.unset(implKey); hc.unset(cacheKey) }
  }

  private def local(leaf: String): String = Files.createTempDirectory(leaf).toString

  test("a DV-bearing lake read opens its sidecars with keys set on sparkContext.hadoopConfiguration") {
    val dir = local("confdv") + "/lake"
    Lake.init(spark, spark.range(40).select(col("id").as("doc_id"),
      concat(lit("doc "), col("id")).as("text")).repartition(4), dir, Seq.empty)
    Pipeline.deleteFromLakeSparse(spark, dir, Seq(5L, 32L).toDF("doc_id"), "doc_id")
    val ids = withScheme {
      Lake.read(spark, s"${ConfOnlyFileSystem.Scheme}://$dir")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(ids == (0L until 40L).toSet -- Set(5L, 32L))
  }

  test("graft-kv reads and writes under a scheme set on sparkContext.hadoopConfiguration") {
    val dir = s"${ConfOnlyFileSystem.Scheme}://${local("confkv")}/out"
    val back = withScheme {
      Seq(("a", "1"), ("b", "two words")).toDF("key", "value")
        .write.format("graft-kv").mode("overwrite").save(dir)
      KVText.read(spark, dir).collect().map(r => r.getString(0) -> r.getString(1)).toSet
    }
    assert(back == Set("a" -> "1", "b" -> "two words"))
  }

  test("a task rebuilds exactly the configuration it was given: keys added, changed and removed") {
    def entries(c: Configuration): Map[String, String] = {
      val b = Map.newBuilder[String, String]
      c.iterator().forEachRemaining(e => b += e.getKey -> e.getValue)
      b.result()
    }
    val conf = spark.sessionState.newHadoopConf()
    assert(conf.get("io.file.buffer.size") != null)
    conf.unset("io.file.buffer.size")
    conf.set("hadoop.tmp.dir", "/tmp/graft-task-conf")
    conf.set("graft.test.only", "1")
    val shipped = TaskHadoopConf(conf)
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(shipped)
    out.close()
    val task = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[TaskHadoopConf]
    assert(entries(task.value) == entries(conf))
    assert(task.unset.contains("io.file.buffer.size"))
    assert(bytes.size < 16 * 1024, s"${bytes.size} bytes shipped")
  }
}
