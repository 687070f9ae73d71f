package graft.perfbench

/** One pass of a workload: its wall and process CPU time, the
  * output-committing calls and read-backs it timed, how many of its
  * operations were attempted and how many failed or read back wrong,
  * and (traced passes only) its per-layer numbers. */
final case class Iter(wallS: Double, cpuS: Double, commitsMs: Seq[Double], readsMs: Seq[Double],
    attempted: Long, failed: Long, layers: Map[String, Double] = Map.empty) {
  def ok: Boolean = failed == 0
}

object Loop {
  /** Run passes until `seconds` have elapsed, at least one. A pass that
    * throws counts as failed and the loop goes on. */
  def repeat(seconds: Double)(pass: => Iter): Seq[Iter] = {
    val t0 = Clock.now()
    val out = Seq.newBuilder[Iter]
    var n = 0
    while (n == 0 || Clock.secondsSince(t0) < seconds) {
      out += (try pass catch {
        case e: Exception =>
          System.err.println(s"perfbench: pass failed: $e")
          Iter(Double.NaN, Double.NaN, Nil, Nil, attempted = 1, failed = 1)
      })
      n += 1
    }
    out.result()
  }

  /** The end-to-end numbers of a series of passes over `rows` input rows. */
  def e2e(passes: Seq[Iter], rows: Long): Map[String, Double] = {
    val good = passes.filter(_.ok)
    val commits = good.flatMap(_.commitsMs)
    val reads = good.flatMap(_.readsMs)
    val wall = Stats.median(good.map(_.wallS))
    Map(
      "wall_s" -> wall,
      "cpu_s" -> Stats.median(good.map(_.cpuS)),
      "rows_per_s" -> rows / wall,
      "ops_per_s" -> commits.size / good.map(_.wallS).sum,
      "commit_p50_ms" -> Stats.quantile(commits, 0.5),
      "commit_p90_ms" -> Stats.quantile(commits, 0.9),
      "read_p50_ms" -> Stats.quantile(reads, 0.5),
      "read_p90_ms" -> Stats.quantile(reads, 0.9))
  }

  /** A pass of one operation, failed unless its output checked out. */
  def one(ok: Boolean): (Long, Long) = (1L, if (ok) 0L else 1L)

  /** The outcome of a run: untraced passes give the end-to-end numbers,
    * traced passes the per-layer ones plus the tracing overhead. */
  def outcome(plain: Seq[Iter], traced: Seq[Iter], rows: Long, info: Map[String, Any]): Outcome = {
    val all = plain ++ traced
    val e2e = Loop.e2e(plain, rows)
    val layers =
      if (traced.isEmpty) Map.empty[String, Double]
      else Loop.layers(traced) + ("trace.overhead_s" ->
        (Stats.median(traced.filter(_.ok).map(_.wallS)) - e2e("wall_s")))
    Outcome(all.map(_.attempted).sum, all.map(_.failed).sum, e2e, layers,
      info ++ Map("pass_wall_s" -> plain.map(_.wallS), "traced_pass_wall_s" -> traced.map(_.wallS)))
  }

  /** Untraced passes for `seconds`, then, in a traced run, as long again
    * with tracing on. */
  def measure(ctx: Ctx)(pass: Boolean => Iter): (Seq[Iter], Seq[Iter]) = {
    val seconds = ctx.args.seconds.toDouble
    val plain = repeat(seconds)(pass(false))
    val traced =
      if (!ctx.args.trace) Nil
      else {
        ctx.tracer.enabled = true
        try repeat(seconds)(pass(true)) finally ctx.tracer.enabled = false
      }
    (plain, traced)
  }

  /** Median of each per-layer number over the traced passes. */
  def layers(passes: Seq[Iter]): Map[String, Double] = {
    val good = passes.filter(_.ok)
    good.flatMap(_.layers.keys).distinct.map(k => k -> Stats.median(good.flatMap(_.layers.get(k)))).toMap
  }

  /** The `spark.*` layer numbers of one traced pass. */
  def sparkLayer(a: Agg): Map[String, Double] = Map(
    "spark.jobs" -> a.jobs.toDouble, "spark.stages" -> a.stages.size.toDouble,
    "spark.tasks" -> a.tasks.toDouble, "spark.exec_cpu_s" -> a.execCpuS, "spark.gc_s" -> a.gcS)

  def ms(s: Double): Double = s * 1e3
}
