package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.{SparkConf, SparkEnv}
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession

/** A driver-side Hadoop configuration as tasks receive it: only the keys
  * where it differs from the application's Hadoop configuration (`set`)
  * or lacks one of that configuration's keys (`unset`). A task rebuilds
  * the whole configuration from its own JVM's application configuration
  * plus these keys, once per deserialized copy.
  *
  * A session's full configuration (`newHadoopConf()`) is ~110 KB
  * serialized, and each task that carries it deserializes all of it. Its
  * difference from the application's is the session's keys plus any set
  * on `sparkContext.hadoopConfiguration`: 21 keys, ~4 KB, in the test
  * session. Lives under org.apache.spark so that Spark's own builder of
  * the application configuration is visible. */
final case class TaskHadoopConf(set: Map[String, String], unset: Seq[String]) {
  @transient lazy val value: Configuration = {
    val c = new Configuration(TaskHadoopConf.app)
    unset.foreach(c.unset)
    set.foreach { case (k, v) => c.set(k, v) }
    c
  }

  // no values: they may be credentials
  override def toString: String = s"TaskHadoopConf(${set.size} set, ${unset.size} unset)"
}

object TaskHadoopConf {

  /** The session's Hadoop configuration, as its `newHadoopConf()` builds it. */
  def apply(spark: SparkSession): TaskHadoopConf = apply(spark.sessionState.newHadoopConf())

  def apply(conf: Configuration): TaskHadoopConf = {
    val appKeys = appEntries
    val set = Map.newBuilder[String, String]
    val seen = new java.util.HashSet[String](appKeys.size * 2)
    conf.iterator().forEachRemaining { e =>
      seen.add(e.getKey)
      if (e.getValue != appKeys.get(e.getKey)) set += e.getKey -> e.getValue
    }
    val unset = Seq.newBuilder[String]
    appKeys.keySet.forEach(k => if (!seen.contains(k)) unset += k)
    TaskHadoopConf(set.result(), unset.result())
  }

  /** This JVM's application Hadoop configuration, built once the way
    * Spark builds it for the driver's `sparkContext.hadoopConfiguration`
    * and for executors: the defaults plus the `spark.hadoop.*` entries of
    * the SparkConf. Tasks only read it. */
  private lazy val app: Configuration =
    SparkHadoopUtil.newConfiguration(Option(SparkEnv.get).fold(new SparkConf())(_.conf))

  private lazy val appEntries: java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    app.iterator().forEachRemaining(e => m.put(e.getKey, e.getValue))
    m
  }
}
