package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBridge

import graft.SparkTestBase
import graft.plans.{LakeDvKeep, LakeDvSidecars}

/** Deletion vectors applied inside the lake scan: a DV-bearing read plans
  * and runs like a clean one (one columnar scan, one job, the same stat
  * pruning), and every read shape that carries vectors — stacked and
  * consolidated sidecars, time travel, restore, column mapping, mixed
  * layout generations — returns exactly the rows an independent replay
  * of the operations keeps. */
class LakeDvReadSpec extends SparkTestBase {

  import spark.implicits._

  private def freshDir(leaf: String): String =
    java.nio.file.Files.createTempDirectory(leaf).toString + "/lake"

  /** 40 docs over (split, shard_id), written as four doc_id-clustered
    * files per partition so stat pruning has something to skip. */
  private def fixture(n: Long = 40L): DataFrame =
    spark.range(n).select(
      col("id").as("doc_id"),
      concat(lit("doc "), col("id")).as("text"),
      when(col("id") < n / 2, "train").otherwise("test").as("split"),
      (col("id") % 2).cast("int").as("shard_id"))

  private def initLake(out: String, df: DataFrame = fixture(),
      parts: Seq[String] = Seq.empty): Unit =
    Lake.init(spark, df.repartitionByRange(4, col("doc_id")).sortWithinPartitions("doc_id"),
      out, parts, statsCols = Seq("doc_id"))

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  private def delete(out: String, ks: Long*): Unit =
    Pipeline.deleteFromLakeSparse(spark, out, ks.toDF("doc_id"), "doc_id")

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val expanded = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: expanded.flatMap(allNodes)
  }

  private def dataScans(df: DataFrame): Seq[FileSourceScanExec] =
    allNodes(df.queryExecution.executedPlan).collect {
      case sc: FileSourceScanExec if sc.output.exists(_.name == "text") => sc }

  /** Spark jobs started while `body` runs, drained on both sides. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      ListenerBridge.drain(spark.sparkContext)
      (r, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a DV-bearing range read runs one Spark job over one columnar scan, with no join") {
    val out = freshDir("dvread-jobs")
    initLake(out)
    delete(out, 5L, 32L)
    val (rows, jobs) = jobsDuring {
      Lake.read(spark, out).filter(col("doc_id").between(0L, 39L))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(rows == (0L until 40L).toSet -- Set(5L, 32L))
    assert(jobs == 1, s"a DV-bearing range read must run one Spark job, ran $jobs")

    val df = Lake.read(spark, out).filter(col("doc_id").between(0L, 39L))
    df.collect()
    assert(!df.queryExecution.optimizedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join]),
      s"no join may apply the vectors:\n${df.queryExecution.optimizedPlan}")
    val scans = dataScans(df)
    assert(scans.size == 1 && scans.head.supportsColumnar,
      s"one vectorized data scan expected:\n${df.queryExecution.executedPlan}")
    assert(allNodes(df.queryExecution.executedPlan).exists {
      case f: FilterExec => f.condition.exists(_.isInstanceOf[LakeDvKeep])
      case _ => false
    }, s"the DV predicate must filter the scan:\n${df.queryExecution.executedPlan}")
  }

  test("the DV-bearing range read opens as many files as the clean read of the same range") {
    val out = freshDir("dvread-numfiles")
    initLake(out)
    def scanned(df: DataFrame): Long = {
      df.collect()
      dataScans(df).map(_.metrics("numFiles").value).sum
    }
    val clean = scanned(Lake.read(spark, out).filter(col("doc_id").between(30L, 39L)))
    delete(out, 3L, 33L)
    val dv = Lake.read(spark, out).filter(col("doc_id").between(30L, 39L))
    assert(ids(dv) == (30L until 40L).toSet - 33L)
    assert(scanned(dv) == clean && clean == 1L,
      s"stat pruning must keep the clean read's $clean file(s), DV read opened ${scanned(dv)}")
  }

  test("the format read of a DV-bearing lake reports its bytes to the planner and returns the surviving rows") {
    val out = freshDir("dvread-format")
    initLake(out)
    delete(out, 2L, 9L, 21L, 33L)
    val df = spark.read.format("graft-lake").load(out)
    // without a size a join against the lake prices at
    // defaultSizeInBytes and never broadcasts
    val stats = df.queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes > 0 && stats.sizeInBytes < 64L * 1024 * 1024,
      s"the DV-bearing format read must report its candidate bytes, got ${stats.sizeInBytes}")
    assert(ids(df) == (0L until 40L).toSet -- Set(2L, 9L, 21L, 33L))
  }

  test("stacked sidecars from two deletes, and the same file after dvcompact consolidation") {
    val out = freshDir("dvread-stacked")
    initLake(out, parts = Seq("split"))
    delete(out, 1L, 2L, 25L)
    delete(out, 3L, 26L)
    val stacked = Lake.latestManifest(spark, out).get.dvs
    assert(stacked.valuesIterator.exists(_.size == 2), s"expected a stacked file, got $stacked")
    val want = (0L until 40L).toSet -- Set(1L, 2L, 3L, 25L, 26L)
    assert(ids(Lake.read(spark, out)) == want)
    assert(Lake.compactDeletionVectors(spark, out).nonEmpty)
    val folded = Lake.latestManifest(spark, out).get.dvs
    assert(folded.valuesIterator.forall(_.size == 1), s"dvcompact must fold the stack: $folded")
    assert(ids(Lake.read(spark, out)) == want)
    // a sparse delete over the consolidated file still sees its vectors
    delete(out, 2L, 4L)
    assert(ids(Lake.read(spark, out)) == want - 4L)
  }

  test("readVersion before and after a DV, and restore to a pre-DV version, equal a replay") {
    val out = freshDir("dvread-travel")
    initLake(out)                                           // v1
    delete(out, 7L, 8L)                                     // v2
    Pipeline.updateLakeSparseWhere(spark, out, col("doc_id").between(10L, 12L),
      Map("text" -> lit("upd")))                            // v3
    delete(out, 11L, 39L)                                   // v4
    val all = (0L until 40L).toSet
    assert(ids(Lake.readVersion(spark, out, 1L)) == all)
    assert(ids(Lake.readVersion(spark, out, 2L)) == all -- Set(7L, 8L))
    val v3 = Lake.readVersion(spark, out, 3L)
    assert(ids(v3) == all -- Set(7L, 8L))
    assert(v3.filter(col("text") === "upd").select("doc_id").as[Long].collect().toSet ==
      Set(10L, 11L, 12L))
    assert(ids(Lake.read(spark, out)) == all -- Set(7L, 8L, 11L, 39L))
    Lake.restore(spark, out, 1L)
    assert(ids(Lake.read(spark, out)) == all)
    assert(Lake.read(spark, out).count() == 40L, "restore must not resurrect a duplicate")
    Lake.restore(spark, out, 2L)
    assert(ids(Lake.read(spark, out)) == all -- Set(7L, 8L))
    assert(Lake.read(spark, out).count() == 38L)
  }

  test("a column-mapped lake and a multi-generation lake apply their vectors") {
    val mapped = freshDir("dvread-mapped")
    initLake(mapped)
    Lake.renameColumn(spark, mapped, "text", "body")
    delete(mapped, 0L, 20L)
    val m = Lake.read(spark, mapped)
    assert(m.columns.contains("body") && !m.columns.contains("text"))
    assert(m.select("doc_id", "body").as[(Long, String)].collect().toSet ==
      (0L until 40L).filterNot(Set(0L, 20L)).map(i => (i, s"doc $i")).toSet)

    val gens = freshDir("dvread-gens")
    initLake(gens, parts = Seq("shard_id"))
    Lake.evolveLayout(spark, gens, Seq("split"))
    Pipeline.appendToLake(spark, gens, fixture(80L).filter(col("doc_id") >= 40L),
      idCol = "doc_id", partitionCols = Seq("split"))
    delete(gens, 1L, 2L, 41L, 70L)
    val want = (0L until 80L).toSet -- Set(1L, 2L, 41L, 70L)
    assert(ids(Lake.read(spark, gens)) == want)
    assert(ids(Lake.read(spark, gens).filter(col("doc_id") >= 40L)) ==
      want.filter(_ >= 40L))
  }

  test("a partition value that needs escaping keeps its vectors") {
    val out = freshDir("dvread-escape")
    val df = fixture().withColumn("split",
      when(col("doc_id") < 20, lit("a b")).otherwise(lit("c%d=e")))
    initLake(out, df, parts = Seq("split"))
    delete(out, 3L, 30L)
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet -- Set(3L, 30L))
    delete(out, 4L, 31L)
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet -- Set(3L, 4L, 30L, 31L))
  }

  test("a whole-table read of a deferred attachment map keeps escaped partitions' vectors") {
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "8")
    spark.conf.set(Lake.PathLazyMinFilesKey, "1")
    spark.conf.set(Lake.DvLazyMinPairsKey, "1")
    try {
      val out = freshDir("dvread-deferred")
      def batch(lo: Long, hi: Long) = spark.range(lo, hi).select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        when(col("id") % 2 === 0, lit("a b")).otherwise(lit("c%d=e")).as("split")).coalesce(1)
      Lake.init(spark, batch(0L, 200L), out, Seq("split"))
      delete(out, 0L, 1L, 13L)
      (1 to 8).foreach(i => Pipeline.appendToLake(spark, out, batch(1000L * i, 1000L * i + 10),
        partitionCols = Seq("split")))                  // columnar checkpoint
      delete(out, 2L, 1003L)                           // a tail attachment too
      Lake.invalidateStateCache()
      val st = Lake.latestManifest(spark, out).get
      assert(st.dvs.isInstanceOf[Lake.DeferredDvs], "the attachment map must load deferred")
      val want = ((0L until 200L) ++ (1 to 8).flatMap(i => 1000L * i until 1000L * i + 10))
        .toSet -- Set(0L, 1L, 2L, 13L, 1003L)
      assert(ids(Lake.read(spark, out)) == want)
    } finally {
      spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
      spark.conf.unset(Lake.PathLazyMinFilesKey)
      spark.conf.unset(Lake.DvLazyMinPairsKey)
    }
  }

  test("sidecars decode once per JVM: a second read of the same version reads no sidecar") {
    val out = freshDir("dvread-cache")
    initLake(out)
    delete(out, 9L)
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet - 9L)
    val before = LakeDvSidecars.decodes.get
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet - 9L)
    assert(LakeDvSidecars.decodes.get == before)
  }

  test("a vanished sidecar fails the read loudly, naming its path") {
    val out = freshDir("dvread-vanished")
    initLake(out)
    delete(out, 6L)
    val sidecar = Lake.latestManifest(spark, out).get.dvs.valuesIterator.flatten.next()
    val dir = new java.io.File(new java.io.File(out), sidecar)
    assert(dir.isDirectory, s"sidecar $dir must exist before it vanishes")
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
    val e = intercept[Exception](Lake.read(spark, out).collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(String.valueOf(_)).mkString(" <- ")
    assert(chain.contains(sidecar), s"the failure must name $sidecar, got: $chain")
  }
}
