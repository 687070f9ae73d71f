package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.GraftSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: File, cores: Int, traceOut: Option[File])

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")), need("cores").toInt,
      kv.get("trace-out").map(new File(_)))
    require(a.seconds >= 1, "--seconds must be at least 1")
    require(a.cores >= 1, "--cores must be at least 1")
    a
  }
}

/** What one workload hands back. `e2e` are the user-visible numbers of
  * the untraced part of the run; `layers` are filled by traced runs. */
final case class Outcome(attempted: Long, failed: Long,
    e2e: Map[String, Double], layers: Map[String, Double], info: Map[String, Any])

final case class Ctx(spark: SparkSession, args: Args, tracer: Tracer, out: File)

trait Workload {
  type In
  /** Writes the workload's input under `dir` with plain JVM I/O. The
    * same seed gives the same bytes; `small` is the warm-up size. */
  def generate(dir: File, seed: Long, small: Boolean): In
  def describe(in: In): Map[String, Any]
  /** The first workload-shaped call on a small input; part of each timed
    * set-up. */
  def warmup(ctx: Ctx, in: In): Unit
  /** Untimed, once, on the session that is measured: whatever else JIT,
    * codegen and class loading need before timing starts. */
  def prepare(ctx: Ctx, in: In): Unit
  def measure(ctx: Ctx, in: In): Outcome
}

/** Benchmark entry point. Prints one JSON record as the last line of
  * stdout; `perfbench/run.py` turns it into the result line. */
object Main {
  val Workloads: Map[String, Workload] = Map(
    "mr_wordcount" -> MrWordcount, "text_dedup" -> TextDedup, "lake_dml" -> LakeDml)
  /** Session set-ups per run; `setup_s` is their median. */
  val Setups = 3

  def session(a: Args, dir: File): SparkSession =
    GraftSession.builder(a.cores)
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(dir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .getOrCreate()

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val w = Workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(
        s"unknown workload ${a.workload}; expected one of ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    a.work.mkdirs()

    val (in, genS, _) = Clock.timed(w.generate(new File(a.work, "input"), a.seed, small = false))
    val warmIn = w.generate(new File(a.work, "warm-input"), a.seed, small = true)

    var spark: SparkSession = null
    val setups = (1 to Setups).map { i =>
      if (spark != null) stop(spark)
      val t0 = Clock.now()
      spark = session(a, a.work)
      val buildS = Clock.secondsSince(t0)
      val warmDir = new File(a.work, s"warm-$i")
      w.warmup(Ctx(spark, a, new Tracer(spark, "warmup"), warmDir), warmIn)
      Files.deleteRecursively(warmDir)
      (buildS, Clock.secondsSince(t0) - buildS)
    }

    val prepDir = new File(a.work, "prepare")
    val (_, prepareS, _) = Clock.timed(w.prepare(Ctx(spark, a, new Tracer(spark, "prepare"), prepDir), in))
    Files.deleteRecursively(prepDir)

    val tracer = new Tracer(spark, s"${a.workload}-${a.seed}")
    spark.sparkContext.addSparkListener(tracer)
    val o = w.measure(Ctx(spark, a, tracer, new File(a.work, "out")), in)
    val peakRss = Clock.peakRssMb()
    if (a.trace) a.traceOut.foreach { f =>
      val wr = Files.writer(f)
      try wr.write(Json.render(tracer.dump())) finally wr.close()
    }
    stop(spark)

    val setupS = setups.map { case (b, wu) => b + wu }
    val e2e = o.e2e ++ Map(
      "setup_s" -> Stats.median(setupS),
      "peak_rss_mb" -> peakRss,
      "output_ok" -> (if (o.failed == 0) 1.0 else 0.0))
    val layers =
      if (!a.trace) Map.empty[String, Double]
      else o.layers ++ Map(
        "session.build_s" -> Stats.median(setups.map(_._1)),
        "session.warmup_s" -> Stats.median(setups.map(_._2)))
    val heapMb = Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)
    val input = w.describe(in)
    val record = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "master" -> s"local[${a.cores}]", "heap_mb" -> heapMb,
      "generator_s" -> genS, "prepare_s" -> prepareS,
      "input" -> (input ++ Map("share_of_heap" ->
        input.get("bytes").collect { case b: Long => b / (heapMb * 1024 * 1024) }.getOrElse(Double.NaN))),
      "setups_s" -> setupS,
      "correct" -> (o.failed == 0), "attempted" -> o.attempted, "failed" -> o.failed,
      "fail_ratio" -> o.failed.toDouble / math.max(o.attempted, 1L),
      "e2e" -> e2e, "layers" -> layers, "info" -> o.info)
    println(Json.render(record))
  }
}
