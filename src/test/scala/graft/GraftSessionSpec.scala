package graft

import org.apache.spark.sql.SparkSession

/** The migration entry point builds a working session with the engine's
  * defaults, and caller overrides win. Runs against a FRESH session (the
  * suite-shared one is stopped first): master is a static conf, so
  * getOrCreate-reuse would silently skip it and void the assertion. */
class GraftSessionSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("builder produces a session with engine defaults; parallelism sizes the master") {
    SparkSession.getActiveSession.foreach(_.stop())
    val s = GraftSession.builder(3)
      .config("spark.ui.enabled", "false")
      .appName("graft-session-spec")
      .getOrCreate()
    try {
      assert(s.sparkContext.master == "local[3]")
      assert(s.conf.get("spark.sql.shuffle.partitions") == "3")
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
      // the session actually runs queries against the testdata
      assert(Tables(s, "/root/testdata/sf0.001", "nation").count() == 25)
    } finally s.stop() // later suites' getOrCreate builds a fresh session
  }

  test("spark.* system properties (spark-submit --conf) win over the engine defaults") {
    SparkSession.getActiveSession.foreach(_.stop())
    val props = Map("spark.sql.shuffle.partitions" -> "7", "spark.sql.session.timeZone" -> "America/New_York")
    val saved = props.keys.map(k => k -> sys.props.get(k)).toMap
    props.foreach { case (k, v) => sys.props(k) = v }
    try {
      val s = GraftSession.builder(4)
        .config("spark.ui.enabled", "false")
        .appName("graft-session-spec")
        .getOrCreate()
      try {
        assert(s.conf.get("spark.sql.shuffle.partitions") == "7")
        assert(s.conf.get("spark.sql.session.timeZone") == "America/New_York")
        // keys the properties leave alone keep the engine default
        assert(s.sparkContext.master == "local[4]")
        assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
      } finally s.stop()
    } finally saved.foreach {
      case (k, Some(v)) => sys.props(k) = v
      case (k, None) => sys.props -= k
    }
  }
}
