package graft.core

import org.apache.spark.sql.{Dataset, Encoder}

import scala.jdk.CollectionConverters._

/** The reference engine's entire user-facing API is one trait — the
  * map/reduce contract of Dean & Ghemawat, "MapReduce: Simplified Data
  * Processing on Large Clusters" (OSDI 2004)
  * (reference: src/map_reduce.rs:4-7):
  *
  * {{{
  * trait MapReducer {
  *   fn map(&self, key: String, value: String) -> Vec<(String, String)>;
  *   fn reduce(&self, key: String, value: Vec<String>) -> String;
  * }
  * }}}
  *
  * This is the typed, generalized re-expression: keys and values are
  * arbitrary encodable types instead of `String`, and `reduce` folds an
  * iterator so a group never has to be materialized in memory (the
  * reference builds a whole `HashMap<String, Vec<String>>` per reduce task,
  * src/worker.rs:163-177).
  */
trait MapReducer[K, V, K2, V2, OUT] extends Serializable {
  def map(key: K, value: V): IterableOnce[(K2, V2)]
  def reduce(key: K2, values: Iterator[V2]): OUT
}

/** A MapReducer whose reduction is a merge of values, so partial results
  * can be merged before the shuffle (the classic MapReduce "combiner"),
  * which the reference lacks entirely — its reduce scope is a single input
  * chunk because map output is never repartitioned by key
  * (src/task_manager.rs:63-70 promotes each map task to a reduce task over
  * its own intermediate file only).
  *
  * `combine` must be associative AND commutative: partial results are
  * merged in no fixed order, neither within a map task (its combiner
  * flushes whenever its buffer fills) nor across the shuffle, where map
  * tasks' outputs arrive in whatever order they finish.
  */
trait AssociativeMapReducer[K, V, K2, V2] extends MapReducer[K, V, K2, V2, V2] {
  def combine(a: V2, b: V2): V2
  final def reduce(key: K2, values: Iterator[V2]): V2 = values.reduce(combine)
}

object MapReduce {

  /** Execute a MapReducer job: flatMap (map phase, src/worker.rs:113-133) →
    * shuffle by key (replacing the reference's per-task intermediate files,
    * src/utils.rs:64-77) → per-group fold (reduce phase,
    * src/worker.rs:135-161). Grouping is GLOBAL — the semantics WordCount
    * visibly intends — not the reference's accidental per-chunk scope.
    */
  def run[K, V, K2, V2, OUT](input: Dataset[(K, V)], job: MapReducer[K, V, K2, V2, OUT])(implicit
      kvEnc: Encoder[(K2, V2)],
      kEnc: Encoder[K2],
      outEnc: Encoder[(K2, OUT)]): Dataset[(K2, OUT)] =
    input
      .flatMap { case (k, v) => job.map(k, v) }
      .groupByKey(_._1)
      .mapGroups { (k, it) => (k, job.reduce(k, it.map(_._2))) }

  /** Associative variant, in two steps that each hold bounded memory:
    *
    *  1. Map side: an in-mapper combiner folds each map task's `job.map`
    *     output into a hash map of at most 65 536 keys, emitted whenever it
    *     fills and at the end of the task, so at most one record per key
    *     per flush crosses the shuffle.
    *  2. Reduce side: the same sort-grouped fold [[run]] uses; Spark's
    *     external sorter streams and spills it.
    *
    * The plan stays in the Dataset API (AQE, `UnsafeRow` shuffle) but
    * avoids the typed `reduceGroups` Aggregator. That one plans an
    * `ObjectHashAggregate` over a nested-struct buffer, pushes every map
    * record through the tuple encoder, and falls back to sort-based
    * aggregation after 128 keys per task; the in-mapper combiner does the
    * same partial merge on plain JVM objects.
    */
  def runAssociative[K, V, K2, V2](input: Dataset[(K, V)], job: AssociativeMapReducer[K, V, K2, V2])(implicit
      kvEnc: Encoder[(K2, V2)],
      kEnc: Encoder[K2]): Dataset[(K2, V2)] =
    runAssociative(input, job, CombinerCapacity)

  /** Keys an in-mapper combiner holds before it flushes: large enough that
    * a task's whole vocabulary usually fits (one record per key per task),
    * and a bound on the buffer however many distinct keys the task sees. */
  private val CombinerCapacity = 65536

  /** [[runAssociative]] with the combiner's capacity as a parameter, so
    * tests can force a flush every few keys. */
  private[core] def runAssociative[K, V, K2, V2](input: Dataset[(K, V)], job: AssociativeMapReducer[K, V, K2, V2],
      capacity: Int)(implicit kvEnc: Encoder[(K2, V2)], kEnc: Encoder[K2]): Dataset[(K2, V2)] =
    input
      .mapPartitions(records => combineInMapper(records.flatMap { case (k, v) => job.map(k, v) }, job, capacity))
      .groupByKey(_._1)
      .mapGroups { (k, it) => (k, job.reduce(k, it.map(_._2))) }

  /** Folds `pairs` by key into a buffer of at most `capacity` keys, emitting
    * it each time it fills and once at the end. */
  private def combineInMapper[K2, V2](pairs: Iterator[(K2, V2)], job: AssociativeMapReducer[_, _, K2, V2],
      capacity: Int): Iterator[(K2, V2)] = {
    def fill(): java.util.HashMap[K2, V2] = {
      val buffer = new java.util.HashMap[K2, V2]()
      while (buffer.size < capacity && pairs.hasNext) {
        val (k, v) = pairs.next()
        val prev = buffer.get(k)
        // a null value is legal: only containsKey tells it from "absent"
        buffer.put(k, if (prev == null && !buffer.containsKey(k)) v else job.combine(prev, v))
      }
      buffer
    }
    Iterator.continually(fill()).takeWhile(!_.isEmpty).flatMap(_.asScala)
  }
}

/** Behavior port of the reference's only job (src/implm/word_count.rs:5-25):
  * whitespace tokenize, emit (word, 1), sum per word — global scope.
  */
object WordCount extends AssociativeMapReducer[String, String, String, Long] {
  def map(key: String, value: String): IterableOnce[(String, Long)] =
    value.split("\\s+").iterator.filter(_.nonEmpty).map(w => (w, 1L))
  def combine(a: Long, b: Long): Long = a + b
}
