package graft

import graft.sources.NioLocalFileSystem
import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration — the one
  * entry point a user migrating off the reference needs (the reference's
  * equivalent knobs: worker pool size, src/master.rs:27; input split size,
  * src/constants.rs:5 — both replaced by Spark parallelism/partitioning
  * settings here).
  *
  * Everything set here is a default. A key that `new SparkConf()` already
  * holds — a `spark.*` system property, which is how spark-submit hands
  * `--conf` and `spark-defaults.conf` to a client-mode driver — is left to
  * that value, and the caller's own later builder calls win over both.
  *
  * The codegen cache is sized here too. Spark's cache of compiled
  * generated classes is JVM-global, and it takes its size from the first
  * session that compiles code in the JVM: build this session before any
  * other, or the lake recompiles its classes on every commit.
  *
  * `fs.file.impl` defaults to [[graft.sources.NioLocalFileSystem]]: without
  * `libhadoop`, Hadoop's own local FileSystem starts a `chmod` process for
  * every file and directory the engine writes and an `ls -ld` for every
  * listed file, and this class makes the same system calls in-process. A
  * deployment's own `spark.hadoop.fs.file.impl` wins like any other key.
  * Hadoop caches one `file:` FileSystem per JVM and user, made with the
  * configuration of whoever asks first, so the default holds only if this
  * session's configuration is the first to ask for it.
  */
object GraftSession {

  /** `parallelism` sizes both the local master and the shuffle partition
    * count. */
  def builder(parallelism: Int): SparkSession.Builder =
    builder(parallelism, Some(s"local[$parallelism]"))

  def builder(): SparkSession.Builder =
    builder(Runtime.getRuntime.availableProcessors())

  /** `master = None` leaves the master to spark-submit (cluster use);
    * keep shuffle partitions ≈ 2-3× total executor cores there (AQE
    * coalesces the excess at runtime). */
  def builder(parallelism: Int, master: Option[String]): SparkSession.Builder = {
    val defaults = master.map("spark.master" -> _).toSeq ++ Seq(
      "spark.sql.shuffle.partitions" -> parallelism.toString,
      // deterministic cross-engine timestamps (TESTDATA is UTC-naive)
      "spark.sql.session.timeZone" -> "UTC",
      // events.ts is parquet TIMESTAMP(NANOS): surface as long, Tables converts
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // runtime bloom-filter join pruning (no-op small, wins at scale)
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // write µs timestamps so downstream engines (and the oracle) agree
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      // The cache is keyed by (context class loader, source), so each
      // whole-stage class takes two keys: driver and executor. One lake_dml
      // run compiles 83 distinct sources = 166 keys; Spark's default 100
      // is four LRU segments of 25, which evicts classes the same run
      // compiles again. 1024 gives each segment 256, enough for the whole
      // run even if every key hashed to one segment. A/B against 100 on
      // 4 vCPUs, lake_dml, 8 s runs, 12 same-seed pairs: cpu_s 42.0 ->
      // 32.3 s and wall_s 18.0 -> 14.6 s (medians, 12/12 wins each);
      // compiles per whole run 300-540 -> 141, flat in episode count.
      "spark.sql.codegen.cache.maxEntries" -> "1024",
      // see the scaladoc; a whole lake_dml benchmark run forks 962 -> 0
      "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName)
    val given = new SparkConf()
    SparkSession.builder()
      // the engine's SQL surface: native expressions (graft_dot, …), the
      // graft-lake MERGE INTO routing rule, and the lake read re-plan that
      // DV-bearing, column-mapped and mixed-layout versions need
      .withExtensions(new GraftExtensions)
      .config(defaults.filterNot { case (k, _) => given.contains(k) }.toMap)
  }
}
