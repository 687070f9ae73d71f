package org.apache.spark.sql.graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Pins the size of Spark's JVM-wide codegen cache that GraftSession sets:
  * a query's generated classes must survive a working set bigger than
  * Spark's default 100 entries. Lives in this package because
  * CodegenMetrics (the Janino compile counter) is private[spark]. */
class CodegenCacheSpec extends SparkTestBase {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One small job whose whole-stage class inlines `k`: a distinct source
    * per `k`, compiled once on the driver and once under the executor's
    * class loader (two cache keys). */
  private def probe(k: Long): Seq[Long] =
    spark.range(0, 8, 1, 1).filter(col("id") * 3 + lit(k) > 7L).collect().toSeq.map(_.longValue)

  test("a query's generated classes are reused after 150 other literal-distinct queries") {
    val first = probe(-1L)
    // submitted concurrently only to keep the spec short; each source is its own key
    java.util.stream.LongStream.range(0, 150).parallel().forEach(k => probe(k))
    val before = compiles
    assert(probe(-1L) == first)
    assert(compiles == before, "re-running the first query recompiled its generated classes")
  }
}
