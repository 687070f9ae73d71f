package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBridge
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** Seeded sequences of lake operations against an in-memory model: every
  * public DML entry point of [[Pipeline]], appends, compaction and forced
  * checkpoints, drawn in a seeded order over one small lake with id stats
  * and a bloom column. After each operation the spec checks the lake's
  * rows against the model, the committed version's change-feed counts
  * per `_change_type`, and the operation's Spark jobs against a ceiling
  * per entry point. */
class LakeDmlSequenceSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("grp", StringType),
    StructField("n", LongType), StructField("shard_id", IntegerType)))
  private val layout = Seq("shard_id")

  final case class Doc(id: Long, grp: String, n: Long) {
    def row: Row = Row(id, grp, n, (id % 3).toInt)
  }

  sealed trait Op { def kind: String }
  final case class Append(docs: Seq[Doc]) extends Op { def kind = "append" }
  final case class DeleteCow(ids: Seq[Long]) extends Op { def kind = "deleteFromLake" }
  final case class DeleteSparse(ids: Seq[Long]) extends Op { def kind = "deleteFromLakeSparse" }
  final case class DeleteWhere(lo: Long, hi: Long) extends Op { def kind = "deleteFromLakeSparseWhere" }
  final case class UpdateWhere(lo: Long, hi: Long) extends Op { def kind = "updateLakeSparseWhere" }
  final case class MergeCow(docs: Seq[Doc]) extends Op { def kind = "mergeIntoLake" }
  final case class MergeSparse(docs: Seq[Doc]) extends Op { def kind = "mergeIntoLakeSparse" }
  /** Source rows; matched rows with an even `n` delete, other matched
    * rows update, unmatched rows insert, and target rows below
    * `bySourceBelow` that the source misses are relabelled. */
  final case class MergeGeneral(docs: Seq[Doc], bySourceBelow: Option[Long]) extends Op {
    def kind = "mergeIntoLakeGeneral"
  }
  case object Compact extends Op { def kind = "compactLake" }
  case object Checkpoint extends Op { def kind = "checkpointNow" }

  /** Spark jobs each operation may start on this fixture — the most any
    * occurrence took in these sequences when the ceilings were recorded. */
  private val jobCeiling = Map(
    "append" -> 2, "deleteFromLake" -> 9, "deleteFromLakeSparse" -> 8,
    "deleteFromLakeSparseWhere" -> 2, "updateLakeSparseWhere" -> 4,
    "mergeIntoLake" -> 14, "mergeIntoLakeSparse" -> 12, "mergeIntoLakeGeneral" -> 11,
    "compactLake" -> 4, "checkpointNow" -> 0)

  /** The model: live docs by id. `apply` returns the change-feed rows the
    * operation's commit must carry, by change type. */
  final class Model(init: Seq[Doc]) {
    val docs = new java.util.TreeMap[java.lang.Long, Doc]()
    init.foreach(d => docs.put(d.id, d))
    def all: Seq[Doc] = docs.values().asScala.toList
    private def inRange(lo: Long, hi: Long): Seq[Doc] =
      docs.subMap(lo, true, hi, true).values().asScala.toList

    def apply(op: Op): Map[String, Long] = {
      val ch = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      def insert(d: Doc): Unit = { docs.put(d.id, d); ch("insert") += 1 }
      def delete(id: Long): Unit = if (docs.remove(id) != null) ch("delete") += 1
      def update(d: Doc): Unit = {
        docs.put(d.id, d); ch("update_preimage") += 1; ch("update_postimage") += 1
      }
      op match {
        case Append(ds) => ds.foreach(insert)
        case DeleteCow(ids) => ids.foreach(delete)
        case DeleteSparse(ids) => ids.foreach(delete)
        case DeleteWhere(lo, hi) => inRange(lo, hi).foreach(d => delete(d.id))
        case UpdateWhere(lo, hi) =>
          inRange(lo, hi).foreach(d => update(d.copy(grp = "u", n = d.n + 1)))
        case MergeCow(ds) => ds.foreach(d => if (docs.containsKey(d.id)) update(d) else insert(d))
        case MergeSparse(ds) => ds.foreach(d => if (docs.containsKey(d.id)) update(d) else insert(d))
        case MergeGeneral(ds, below) =>
          val keys = ds.map(_.id).toSet
          val missed = below.toSeq.flatMap(b => all.filter(d => d.id < b && !keys(d.id)))
          ds.foreach { d =>
            Option(docs.get(d.id)) match {
              case Some(_) if d.n % 2 == 0 => delete(d.id)
              case Some(t) => update(t.copy(grp = "g", n = d.n))
              case None => insert(d)
            }
          }
          missed.foreach(d => update(d.copy(grp = "x")))
        case Compact | Checkpoint =>
      }
      ch.toMap
    }
  }

  private def frame(docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(docs.map(_.row).asJava, schema)

  /** Twelve operations: every kind once in a seeded order, then two
    * more drawn at random, each drawn against the model as it stands. */
  private def draw(seed: Long, init: Seq[Doc]): Seq[Op] = {
    val rnd = new scala.util.Random(seed)
    val model = new Model(init)
    var next = init.map(_.id).max + 1
    def fresh(k: Int): Seq[Doc] =
      Seq.fill(k) { val d = Doc(next, "a", rnd.nextInt(1000).toLong); next += 1; d }
    def live(k: Int): Seq[Long] = {
      val ids = model.docs.keySet().asScala.toVector
      rnd.shuffle(ids).take(k).map(_.longValue).sorted
    }
    def window(w: Long): (Long, Long) = {
      val lo = live(1).headOption.getOrElse(0L)
      (lo, lo + w)
    }
    val kinds = Vector("append", "deleteFromLake", "deleteFromLakeSparse",
      "deleteFromLakeSparseWhere", "updateLakeSparseWhere", "mergeIntoLake",
      "mergeIntoLakeSparse", "mergeIntoLakeGeneral", "compactLake", "checkpointNow")
    (rnd.shuffle(kinds) ++ Seq.fill(2)(kinds(rnd.nextInt(kinds.size)))).map { k =>
      val op = k match {
        case "append" => Append(fresh(8))
        case "deleteFromLake" => DeleteCow(live(3) :+ (next + 1000))
        case "deleteFromLakeSparse" => DeleteSparse(live(3) :+ (next + 1000))
        case "deleteFromLakeSparseWhere" => val (lo, hi) = window(6); DeleteWhere(lo, hi)
        case "updateLakeSparseWhere" => val (lo, hi) = window(10); UpdateWhere(lo, hi)
        case "mergeIntoLake" =>
          MergeCow(live(4).map(i => Doc(i, "m", rnd.nextInt(1000).toLong)) ++ fresh(2))
        case "mergeIntoLakeSparse" =>
          MergeSparse(live(4).map(i => Doc(i, "m", rnd.nextInt(1000).toLong)) ++ fresh(2))
        case "mergeIntoLakeGeneral" =>
          MergeGeneral(live(4).map(i => Doc(i, "s", rnd.nextInt(1000).toLong)) ++ fresh(2),
            if (rnd.nextBoolean()) Some(live(1).head + 4) else None)
        case "compactLake" => Compact
        case _ => Checkpoint
      }
      model(op)
      op
    }
  }

  private def run(dir: String, op: Op): Unit = op match {
    case Append(ds) =>
      Pipeline.appendToLake(spark, dir, frame(ds), partitionCols = layout,
        statsCols = Seq("doc_id"))
    case DeleteCow(ids) =>
      import spark.implicits._
      Pipeline.deleteFromLake(spark, dir, ids.toDF("k"), "k", partitionCols = layout)
    case DeleteSparse(ids) =>
      import spark.implicits._
      Pipeline.deleteFromLakeSparse(spark, dir, ids.toDF("k"), "k")
    case DeleteWhere(lo, hi) =>
      Pipeline.deleteFromLakeSparseWhere(spark, dir, col("doc_id").between(lo, hi))
    case UpdateWhere(lo, hi) =>
      Pipeline.updateLakeSparseWhere(spark, dir, col("doc_id").between(lo, hi),
        Map("grp" -> lit("u"), "n" -> (col("n") + 1)))
    case MergeCow(ds) => Pipeline.mergeIntoLake(spark, dir, frame(ds), partitionCols = layout)
    case MergeSparse(ds) =>
      Pipeline.mergeIntoLakeSparse(spark, dir, frame(ds), partitionCols = layout)
    case MergeGeneral(ds, below) =>
      def sets(p: String): Map[String, Column] =
        schema.fieldNames.map(c => c -> col(p + c)).toMap
      Pipeline.mergeIntoLakeGeneral(spark, dir, frame(ds), "doc_id", col("_s_doc_id"),
        matched = Seq(
          Pipeline.MergeClause(Some(col("_s_n") % 2 === 0), delete = true, Map.empty),
          Pipeline.MergeClause(None, delete = false,
            Map("grp" -> lit("g"), "n" -> col("_s_n")))),
        notMatched = Seq(Pipeline.MergeClause(None, delete = false, sets("_s_"))),
        notMatchedBySource = below.toSeq.map(b =>
          Pipeline.MergeClause(Some(col("_t_doc_id") < b), delete = false,
            Map("grp" -> lit("x")))))
    case Compact =>
      Pipeline.compactLake(spark, dir, maxFilesPerPartition = 1, partitionCols = layout)
    case Checkpoint => Lake.checkpointNow(spark, dir)
  }

  /** Spark jobs started while `body` runs, drained on both sides. */
  private def jobsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; ListenerBridge.drain(spark.sparkContext); n.get }
    finally spark.sparkContext.removeSparkListener(l)
  }

  private def version(dir: String): Long = {
    Lake.invalidateStateCache()
    Lake.latestManifest(spark, dir).get.version
  }

  private def rows(df: DataFrame): Seq[Doc] =
    df.select("doc_id", "grp", "n", "shard_id").collect().toSeq.map { r =>
      assert(r.getInt(3) == (r.getLong(0) % 3).toInt, s"row $r sits in the wrong partition")
      Doc(r.getLong(0), r.getString(1), r.getLong(2))
    }.sortBy(_.id)

  private val seeds = Seq(11L, 12L, 13L, 14L)

  for (seed <- seeds) test(s"seed $seed: twelve operations keep rows, change feed and job counts") {
    val dir = java.nio.file.Files.createTempDirectory("dmlseq").toString + "/lake"
    val init = (0L until 120L).map(i => Doc(i, "a", i * 7 % 1000))
    Lake.init(spark, frame(init).repartitionByRange(4, col("doc_id")), dir, layout,
      statsCols = Seq("doc_id"), bloomCols = Seq("doc_id"))
    val model = new Model(init)
    val jobs = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    draw(seed, init).zipWithIndex.foreach { case (op, i) =>
      val where = s"seed $seed op ${i + 1} ($op)"
      val before = version(dir)
      val n = jobsDuring(run(dir, op))
      jobs(op.kind) = jobs(op.kind).max(n)
      val changes = model(op)
      val (got, want) = (rows(Lake.read(spark, dir)), model.all)
      if (got != want)
        fail(s"$where: lake rows differ from the model — extra ${got.diff(want)}, " +
          s"missing ${want.diff(got)}")
      val after = version(dir)
      op match {
        case Compact | Checkpoint =>
          if (after > before)
            assert(Lake.changeFeed(spark, dir, before, after).count() == 0L,
              s"$where: maintenance must add nothing to the change feed")
        case _ if changes.isEmpty =>
          assert(after == before, s"$where: a no-op must not commit")
        case _ =>
          assert(after == before + 1, s"$where: expected one commit")
          val feed = Lake.changeFeed(spark, dir, before, after)
            .groupBy("_change_type").count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          assert(feed == changes, s"$where: change feed of v$after")
      }
      assert(n <= jobCeiling(op.kind),
        s"$where: $n Spark jobs, ceiling ${jobCeiling(op.kind)}")
    }
    info(s"most jobs per entry point: ${jobs.toSeq.sorted.mkString(", ")}")
  }
}
