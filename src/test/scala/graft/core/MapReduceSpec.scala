package graft.core

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import graft.SparkTestBase
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.graft.ListenerBridge
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** A non-`String` job: per `key % 7`, the count of values and their max. */
object CountMax extends AssociativeMapReducer[Int, Long, Int, (Long, Long)] {
  def map(key: Int, value: Long): IterableOnce[(Int, (Long, Long))] = Iterator((key % 7, (1L, value)))
  def combine(a: (Long, Long), b: (Long, Long)): (Long, Long) = (a._1 + b._1, math.max(a._2, b._2))
}

/** Golden + property tests for the MapReducer API (SURVEY.md §5 #2-4). */
class MapReduceSpec extends SparkTestBase {

  private def wcLocal(texts: Seq[String]): Map[String, Long] =
    texts.flatMap(_.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap

  test("WordCount golden fixture: global counts match an independent computation") {
    import spark.implicits._
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the dog\tbarks  twice",
      "fox and dog and fox")
    val input = texts.zipWithIndex.map { case (t, i) => (i.toString, t) }.toDS()
    val got = MapReduce.runAssociative(input, WordCount).collect().toMap
    assert(got == wcLocal(texts))
    assert(got("the") == 3L && got("fox") == 3L && got("dog") == 3L)
  }

  test("run (full-group path) agrees with runAssociative (combiner path)") {
    import spark.implicits._
    val texts = Seq("a b a", "b c", "c c c a")
    val input = texts.zipWithIndex.map { case (t, i) => (i.toString, t) }.toDS()
    val a = MapReduce.run(input, WordCount).collect().toMap
    val b = MapReduce.runAssociative(input, WordCount).collect().toMap
    assert(a == b)
  }

  test("property: WordCount(a ++ b) == merge(WordCount(a), WordCount(b))") {
    // The invariant the reference's per-chunk reduce scope violates
    // (SURVEY.md §2.1 #5): global counts must merge across chunks.
    import spark.implicits._
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta")
    val text = Gen.listOf(word).map(_.mkString(" "))
    val prop = Prop.forAll(Gen.listOfN(3, text), Gen.listOfN(3, text)) { (as: List[String], bs: List[String]) =>
      val both = MapReduce.runAssociative(
        (as ++ bs).zipWithIndex.map { case (t, i) => (i.toString, t) }.toDS(), WordCount)
        .collect().toMap
      val merged =
        (wcLocal(as).toSeq ++ wcLocal(bs).toSeq).groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      both == merged
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: a combiner flushing every 1-3 keys still yields the local fold") {
    import spark.implicits._
    val word = Gen.oneOf("a", "b", "c", "d", "e", "f", "g")
    val text = Gen.listOf(word).map(_.mkString(" "))
    val prop = Prop.forAll(Gen.listOf(text), Gen.choose(1, 3), Gen.choose(1, 4)) {
      (texts: List[String], cap: Int, parts: Int) =>
        val input = spark.createDataset(
          spark.sparkContext.parallelize(texts.zipWithIndex.map { case (t, i) => (i.toString, t) }, parts))
        MapReduce.runAssociative(input, WordCount, cap).collect().toMap == wcLocal(texts)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("runAssociative: Int keys with a (count, max) value, at any combiner capacity; empty in, empty out") {
    import spark.implicits._
    val rows = (1 to 500).map(i => (i, (i * 37L) % 101))
    val expected = rows.groupBy(_._1 % 7).map { case (k, vs) => k -> (vs.size.toLong, vs.map(_._2).max) }
    val input = spark.createDataset(spark.sparkContext.parallelize(rows, 3))
    assert(MapReduce.runAssociative(input, CountMax).collect().toMap == expected)
    assert(MapReduce.runAssociative(input, CountMax, 2).collect().toMap == expected)
    assert(MapReduce.runAssociative(spark.emptyDataset[(Int, Long)], CountMax).collect().isEmpty)
    assert(MapReduce.runAssociative(spark.emptyDataset[(String, String)], WordCount).collect().isEmpty)
  }

  test("runAssociative combines before the shuffle: records <= map tasks x keys, one exchange, no typed aggregate") {
    import spark.implicits._
    val vocab = (0 until 40).map(i => s"w$i")
    val texts = (0 until 400).map(d => Seq.tabulate(25)(j => vocab((d * 7 + j * j) % vocab.size)).mkString(" "))
    val mapTasks = 4
    val input = spark.createDataset(
      spark.sparkContext.parallelize(texts.zipWithIndex.map { case (t, i) => (i.toString, t) }, mapTasks))
    val group = "mapreduce-combiner-pin"
    val groupStages = ConcurrentHashMap.newKeySet[Int]()
    val shuffleRecords = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        if (Option(s.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          groupStages.add(s.stageInfo.stageId)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (groupStages.contains(t.stageId) && t.taskMetrics != null)
          shuffleRecords.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    val result = MapReduce.runAssociative(input, WordCount)
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "combiner pin")
    val got = try result.collect().toMap
    finally {
      spark.sparkContext.clearJobGroup()
      ListenerBridge.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(got == wcLocal(texts))
    assert(shuffleRecords.get > 0L, "the job's shuffle writes were not observed")
    assert(shuffleRecords.get <= mapTasks * vocab.size,
      s"${shuffleRecords.get} records crossed the shuffle for ${texts.size * 25} map records: no map-side combine")

    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }).flatMap(nodes)
    val plan = nodes(result.queryExecution.executedPlan)
    assert(plan.count(_.isInstanceOf[ShuffleExchangeLike]) == 1, result.queryExecution.executedPlan.treeString)
    assert(!plan.exists(_.isInstanceOf[ObjectHashAggregateExec]), result.queryExecution.executedPlan.treeString)
  }
}
