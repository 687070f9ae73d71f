package graft.perfbench

import java.io.File
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.EngineCounters
import graft.operators.{Lake, Pipeline}

/** A closed loop of small writes beside reads on one lake table, one
  * client: `Lake.init` from an orders table of sf0.1's size, then a
  * seeded sequence of appends, sparse upserts, deletes and updates with
  * periodic compaction and forced checkpoints. Every operation is
  * followed by a key-range read that stat pruning can narrow, and the
  * sequence ends with a time-travel read. Work sits in `lake` and
  * `session`; executors do little. */
object LakeDml extends Workload {
  /** Rows of TPC-H `orders` at scale factor 0.1. */
  val Rows = 150000
  /** The data-changing operations of an episode, in order, with a
    * compaction every [[CompactEvery]] and a forced checkpoint every
    * [[CheckpointEvery]] operations between them. Kinds and order are
    * fixed so that seeds change the rows and keys, not the amount of
    * work. One operation with its read costs about a second on four
    * cores, so an episode fits one run's time. */
  val Mix = Seq("append", "merge", "update", "delete", "append", "merge", "update", "delete")
  val CompactEvery = 6
  val CheckpointEvery = 3
  val Ops = 12
  /** Keys per `kbucket` partition; keys are spaced four apart. */
  val BucketWidth = 40000L
  val ReadWidth = 4000L

  final case class Order(key: Long, cust: Long, status: String, price: Double, date: String,
      priority: String, clerk: String, ship: Int, comment: String) {
    def bucket: Int = (key / BucketWidth).toInt
    def row: Row = Row(key, cust, status, price, java.sql.Date.valueOf(date), priority, clerk, ship,
      comment, bucket)
    def csv: String = Seq(key, cust, status, price, date, priority, clerk, ship, comment, bucket).mkString("|")
  }

  val Schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType),
    StructField("o_clerk", StringType), StructField("o_shippriority", IntegerType),
    StructField("o_comment", StringType), StructField("kbucket", IntegerType)))

  sealed trait Op { def kind: String }
  final case class Append(rows: Seq[Order]) extends Op { def kind = "append" }
  final case class Merge(rows: Seq[Order]) extends Op { def kind = "merge" }
  final case class Delete(keys: Seq[Long]) extends Op { def kind = "delete" }
  final case class Update(lo: Long, hi: Long) extends Op { def kind = "update" }
  case object Compact extends Op { def kind = "compact" }
  case object Checkpoint extends Op { def kind = "checkpoint" }

  /** The lake's expected contents: an in-memory replay of the operations. */
  final class Model(init: Seq[Order]) {
    val rows = new java.util.TreeMap[Long, Order]()
    init.foreach(o => rows.put(o.key, o))
    /** Applies `op`; returns the rows it touched. */
    def apply(op: Op): Long = op match {
      case Append(rs) => rs.foreach(o => rows.put(o.key, o)); rs.size.toLong
      case Merge(rs) => rs.foreach(o => rows.put(o.key, o)); rs.size.toLong
      case Delete(ks) => ks.count(k => rows.remove(k) != null).toLong
      case Update(lo, hi) =>
        val hit = rows.subMap(lo, true, hi, true).values().asScala.toList
        hit.foreach(o => rows.put(o.key, o.copy(status = "U", price = o.price + 1.0)))
        hit.size.toLong
      case Compact | Checkpoint => 0L
    }
    def range(lo: Long, hi: Long): Seq[Order] = rows.subMap(lo, true, hi, true).values().asScala.toList
    def all: Seq[Order] = rows.values().asScala.toList
    def snapshot: Seq[Order] = all
  }

  final case class In(csv: File, base: Seq[Order], ops: Seq[Op], reads: Seq[(Long, Long)], bytes: Long,
      opRows: Long) {
    def maxKey: Long = base.map(_.key).max
  }

  private val Statuses = Array("F", "O", "P")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Words = Array("carefully", "final", "deposits", "sleep", "quickly", "regular",
    "accounts", "furiously", "bold", "packages", "ironic", "requests", "blithely", "pending")

  private def order(key: Long, rnd: SplittableRandom): Order = {
    val day = java.time.LocalDate.of(1992, 1, 1).plusDays(rnd.nextInt(2400))
    Order(key, 1 + rnd.nextInt(15000), Statuses(rnd.nextInt(3)),
      (rnd.nextInt(50000000) + 90000) / 100.0, day.toString, Priorities(rnd.nextInt(5)),
      f"Clerk#${1 + rnd.nextInt(100)}%09d", 0,
      Seq.fill(2 + rnd.nextInt(6))(Words(rnd.nextInt(Words.length))).mkString(" "))
  }

  def generate(dir: File, seed: Long, small: Boolean): In = {
    Files.deleteRecursively(dir)
    // the warm-up sequence is one operation of each kind
    val (rows, ops, compactEvery, checkpointEvery, mix) =
      if (small) (3000, 6, 6, 5, Mix.take(4))
      else (Rows, Ops, CompactEvery, CheckpointEvery, Mix)
    val rnd = new SplittableRandom(seed ^ 0x6c616b65L)
    val base = (0 until rows).map(i => order(i * 4L + 1, rnd))
    val csv = new File(dir, "orders.csv")
    val w = Files.writer(csv)
    try base.foreach(o => w.write(o.csv + "\n")) finally w.close()

    // the operation sequence, drawn against a replay so that every upsert,
    // delete and update names rows that exist at that point
    val model = new Model(base)
    var nextKey = rows * 4L + 1
    def fresh(): Order = { val o = order(nextKey, rnd); nextKey += 4; o }
    /** A live key at or after `from`. */
    def live(from: Long): Long =
      Option(model.rows.ceilingEntry(from)).getOrElse(model.rows.firstEntry()).getKey
    def anywhere(): Long = 1 + (rnd.nextDouble() * nextKey).toLong
    /** `n` distinct live keys from one window of [[ReadWidth]] keys: each
      * change lands in one or two partitions, like an upsert of related
      * orders, so the files it touches do not swing with the seed. */
    def clustered(n: Int): Seq[Long] = {
      val lo = anywhere()
      Seq.fill(n)(live(lo + (rnd.nextDouble() * ReadWidth).toLong)).distinct
    }
    val kinds = mix.iterator
    var opRows = 0L
    val seq = (1 to ops).map { i =>
      val op =
        if (i % compactEvery == 0) Compact
        else if (i % checkpointEvery == 0) Checkpoint
        else {
          kinds.next() match {
            case "append" => Append(Seq.fill(100)(fresh()))
            case "merge" =>
              Merge(clustered(40).map(k => model.rows.get(k).copy(status = "M",
                price = (rnd.nextInt(50000000) + 90000) / 100.0)) ++ Seq.fill(10)(fresh()))
            case "delete" => Delete(clustered(30))
            case _ => val lo = live(anywhere()); Update(lo, lo + 200)
          }
        }
      opRows += model(op)
      op
    }
    val reads = seq.map { _ => val lo = anywhere(); (lo, lo + ReadWidth) }
    In(csv, base, seq, reads, Files.bytesUnder(dir), opRows)
  }

  def describe(in: In): Map[String, Any] = Map(
    "rows" -> in.base.size.toLong, "bytes" -> in.bytes, "operations" -> in.ops.size.toLong,
    "operation_mix" -> in.ops.groupBy(_.kind).map { case (k, v) => k -> v.size.toLong },
    "op_rows" -> in.opRows, "partitions" -> (in.maxKey / BucketWidth + 1),
    "read_key_width" -> ReadWidth, "clients" -> 1, "loop" -> "closed")

  private def frame(spark: SparkSession, rows: Seq[Order]): DataFrame =
    spark.createDataFrame(rows.map(_.row).asJava, Schema)

  private def orders(rows: Array[Row]): Seq[Order] = rows.map(r => Order(r.getLong(0), r.getLong(1),
    r.getString(2), r.getDouble(3), r.getDate(4).toString, r.getString(5), r.getString(6), r.getInt(7),
    r.getString(8))).sortBy(_.key).toSeq

  private def select(df: DataFrame): DataFrame = df.select(Schema.fieldNames.map(col).toIndexedSeq: _*)

  private def run(spark: SparkSession, dir: String, op: Op): Unit = op match {
    case Append(rs) => Pipeline.appendToLake(spark, dir, frame(spark, rs), idCol = "o_orderkey",
      partitionCols = Seq("kbucket"), statsCols = Seq("o_orderkey"))
    case Merge(rs) => Pipeline.mergeIntoLakeSparse(spark, dir, frame(spark, rs), idCol = "o_orderkey",
      partitionCols = Seq("kbucket"))
    case Delete(ks) =>
      import spark.implicits._
      Pipeline.deleteFromLakeSparse(spark, dir, ks.toDF("k"), "k", lakeIdCol = "o_orderkey")
    case Update(lo, hi) => Pipeline.updateLakeSparseWhere(spark, dir, col("o_orderkey").between(lo, hi),
      Map("o_orderstatus" -> lit("U"), "o_totalprice" -> (col("o_totalprice") + 1.0)))
    case Compact => Pipeline.compactLake(spark, dir, maxFilesPerPartition = 4,
      partitionCols = Seq("kbucket"), retainHistory = true)
    case Checkpoint => Lake.checkpointNow(spark, dir)
  }

  private def load(spark: SparkSession, in: In): DataFrame =
    select(spark.read.schema(Schema).option("sep", "|").option("dateFormat", "yyyy-MM-dd").csv(in.csv.getAbsolutePath))

  private def rangeRead(spark: SparkSession, dir: String, lo: Long, hi: Long): DataFrame =
    select(Lake.read(spark, dir).filter(col("o_orderkey").between(lo, hi)))

  private def scannedFiles(df: DataFrame): Long =
    PlanMetrics.metric(df, _.isInstanceOf[FileSourceScanExec], "numFiles")

  /** One episode: init, the operation loop with a read after each
    * operation, then the time-travel read and the final state. Checks
    * every read against the replay. Traced episodes also return the
    * lake layer's numbers. */
  private def episode(ctx: Ctx, in: In, traced: Boolean): Iter = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val lakeDir = new File(ctx.out, "lake")
    Files.deleteRecursively(lakeDir)
    val dir = lakeDir.getAbsolutePath
    val model = new Model(in.base)
    val mid = in.ops.size / 2
    var midVersion = -1L
    var midState = Seq.empty[Order]
    val commits = Seq.newBuilder[(String, Double)]
    val reads = Seq.newBuilder[Double]
    var failed = 0L
    var userRows = 0L
    var written = 0L
    var readFiles = Seq.empty[Long]
    var liveFiles = 0L
    var counters = Map.empty[String, Long]
    def count(delta: => Unit): Unit =
      if (!traced) delta
      else {
        val before = EngineCounters.snapshot()
        delta
        EngineCounters.snapshot().foreach { case (k, v) => counters += k -> (counters.getOrElse(k, 0L) + v - before(k)) }
      }
    var initBytes = 0L

    val (_, wallS, cpuS) = Clock.timed { tr.span("pass") {
      tr.span("lake.init")(Lake.init(spark, load(spark, in), dir, Seq("kbucket"), statsCols = Seq("o_orderkey")))
      if (traced) initBytes = Files.bytesUnder(lakeDir)
      in.ops.zip(in.reads).zipWithIndex.foreach { case ((op, (lo, hi)), i) =>
        val before = if (traced) Files.listing(lakeDir) else Map.empty[String, Long]
        val (_, opS, _) = Clock.timed(count(tr.span(s"lake.${op.kind}")(run(spark, dir, op))))
        commits += op.kind -> Loop.ms(opS)
        val touched = model(op)
        if (traced) {
          userRows += (op match { case Compact | Checkpoint => 0L; case _ => touched })
          written += Files.listing(lakeDir).collect { case (f, n) if !before.get(f).contains(n) => n }.sum
        }
        if (i + 1 == mid) {
          midVersion = Lake.latestManifest(spark, dir).map(_.version).getOrElse(-1L)
          midState = model.snapshot
        }
        var df: DataFrame = null
        val (got, readS, _) = Clock.timed(tr.span("lake.read") {
          var rows: Array[Row] = null
          count { df = rangeRead(spark, dir, lo, hi); rows = df.collect() }
          orders(rows)
        })
        reads += Loop.ms(readS)
        if (got != model.range(lo, hi)) {
          System.err.println(s"perfbench: lake read [$lo, $hi] after op ${i + 1} (${op.kind}) differs from the replay")
          failed += 1
        }
        if (traced) {
          readFiles :+= scannedFiles(df)
          liveFiles += Lake.latestManifest(spark, dir).map(_.files.size.toLong).getOrElse(0L)
        }
      }
      val past = tr.span("lake.read_version")(orders(select(Lake.readVersion(spark, dir, midVersion)).collect()))
      if (past != midState) { System.err.println(s"perfbench: readVersion($midVersion) differs from the replay"); failed += 1 }
      val now = orders(select(Lake.read(spark, dir)).collect())
      if (now != model.all) { System.err.println("perfbench: final lake state differs from the replay"); failed += 1 }
    }}

    val cs = commits.result()
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        val bytesPerRow = initBytes.toDouble / in.base.size
        val pass = tr.subtree(tr.last("pass"))
        val opNames = in.ops.map(o => s"lake.${o.kind}").toSet
        val opSpans = tr.spans.filter(s => pass.contains(s.id) && opNames.contains(s.name))
        val opAgg = tr.agg(opSpans.flatMap(tr.subtree).toSet)
        val opMs = opSpans.map(tr.seconds).sum
        def kindMs(kind: String) = Stats.median(cs.filter(_._1 == kind).map(_._2))
        val whole = tr.agg(pass)
        Map(
          "lake.append_ms" -> kindMs("append"), "lake.merge_ms" -> kindMs("merge"),
          "lake.delete_ms" -> kindMs("delete"), "lake.update_ms" -> kindMs("update"),
          "lake.compact_ms" -> kindMs("compact"), "lake.checkpoint_ms" -> kindMs("checkpoint"),
          "lake.read_ms" -> Stats.median(reads.result()),
          "lake.jobs_per_commit" -> opAgg.jobs.toDouble / opSpans.size,
          "lake.tasks_per_commit" -> opAgg.tasks.toDouble / opSpans.size,
          "lake.driver_share" -> opSpans.map(s => tr.driverShare(s) * tr.seconds(s)).sum / opMs,
          "lake.log_reads" -> counters.getOrElse("logReads", 0L).toDouble,
          "lake.footer_driver_reads" -> counters.getOrElse("footerDriverReads", 0L).toDouble,
          "lake.path_force_jobs" -> counters.getOrElse("pathForceJobs", 0L).toDouble,
          "lake.dv_scoped_jobs" -> counters.getOrElse("dvScopedJobs", 0L).toDouble,
          "lake.dv_force_jobs" -> counters.getOrElse("dvForceJobs", 0L).toDouble,
          "lake.eager_v3_loads" -> counters.getOrElse("eagerV3Loads", 0L).toDouble,
          "lake.inventory_list_tasks" -> counters.getOrElse("inventoryListTasks", 0L).toDouble,
          "lake.write_amp" -> written / (userRows * bytesPerRow),
          "lake.space_amp" -> Files.bytesUnder(lakeDir) / (model.rows.size * bytesPerRow),
          "lake.read_files" -> Stats.median(readFiles.map(_.toDouble)),
          "lake.prune_ratio" -> (1.0 - readFiles.sum.toDouble / math.max(liveFiles, 1L))) ++
          Loop.sparkLayer(whole)
      }
    Iter(wallS, cpuS, cs.map(_._2), reads.result(), 2L * in.ops.size + 2, failed, layers)
  }

  /** The lake's first calls: create it and read a key range back. */
  def warmup(ctx: Ctx, in: In): Unit = {
    val dir = new File(ctx.out, "lake").getAbsolutePath
    Lake.init(ctx.spark, load(ctx.spark, in), dir, Seq("kbucket"), statsCols = Seq("o_orderkey"))
    val (lo, hi) = in.reads.head
    require(orders(rangeRead(ctx.spark, dir, lo, hi).collect()) == new Model(in.base).range(lo, hi),
      "lake_dml warm-up read differs from the input")
  }

  /** One untimed episode at full size: the first one runs measurably
    * slower while JIT compilation catches up. */
  def prepare(ctx: Ctx, in: In): Unit =
    require(episode(ctx, in, traced = false).ok, "lake_dml warm-up differs from the replay")

  def measure(ctx: Ctx, in: In): Outcome = {
    val (plain, traced) = Loop.measure(ctx)(t => episode(ctx, in, traced = t))
    Loop.outcome(plain, traced, in.base.size + in.opRows, Map.empty)
  }
}
