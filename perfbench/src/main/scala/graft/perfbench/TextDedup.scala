package graft.perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.functions._

import graft.api.Ops
import graft.functions.TextHash
import graft.operators.{Pipeline, TextOps}

/** Near-duplicate removal over a corpus with planted duplicate clusters:
  * clean filter and exact-text dedup (the q52 shape), MinHash-LSH pairs,
  * connected components, one document kept per component, token-budget
  * sharding, a parquet write. Work sits in `ops` and `functions`; cost
  * follows the duplicate mass, so the duplicate share is the stated
  * traffic dimension. */
object TextDedup extends Workload {
  val Docs = 8000
  val Vocab = 20000
  val ZipfS = 0.8
  /** Share of documents that are near-duplicates of another. */
  val DupShare = 0.30
  /** Share that are exact copies of a unique document. */
  val ExactShare = 0.05
  /** Share too short to pass the clean filter. */
  val JunkShare = 0.05
  /** Chance that each token of a near-duplicate is replaced. */
  val EditRate = 0.05
  val Threshold = 0.5
  val SigSize = 64
  val RowsPerBand = 4
  val Shards = 8
  /** Least share of planted pairs at or above the threshold that must be found. */
  val RecallBound = 0.9
  val Parts = 4

  final case class In(dir: File, texts: Array[String], planted: Seq[(Int, Int)],
      survivors: Array[Boolean], bytes: Long) {
    /** Each document's distinct word-3-gram strings, numbered and sorted:
      * the checker's own shingle sets, built once per run. */
    lazy val shingles: Array[Array[Int]] = {
      val ids = new java.util.HashMap[String, Integer]()
      texts.map { t =>
        t.split(" ").filter(_.nonEmpty).sliding(3).filter(_.length == 3)
          .map(g => ids.computeIfAbsent(g.mkString(" "), _ => ids.size()).intValue)
          .toArray.distinct.sorted
      }
    }
    /** Planted pairs whose exact Jaccard clears the threshold. */
    lazy val qualifying: Seq[(Int, Int)] = planted.filter { case (a, b) => jaccard(a, b) >= Threshold }

    def jaccard(a: Int, b: Int): Double = {
      val (x, y) = (shingles(a), shingles(b))
      var i = 0
      var j = 0
      var inter = 0
      while (i < x.length && j < y.length) {
        if (x(i) == y(j)) { inter += 1; i += 1; j += 1 }
        else if (x(i) < y(j)) i += 1
        else j += 1
      }
      inter.toDouble / (x.length + y.length - inter)
    }
  }

  def generate(dir: File, seed: Long, small: Boolean): In = {
    Files.deleteRecursively(dir)
    val n = if (small) 1000 else Docs
    val rnd = new SplittableRandom(seed ^ 0x646564757065L)
    val words = MrWordcount.vocabulary(Vocab, seed + 1)
    val cdf = MrWordcount.zipfCdf(Vocab, ZipfS)
    def doc(len: Int): Array[String] = Array.fill(len)(words(MrWordcount.draw(cdf, rnd)))
    val nDup = (n * DupShare).toInt
    val nExact = (n * ExactShare).toInt
    val nJunk = (n * JunkShare).toInt
    val nUnique = n - nDup - nExact - nJunk
    val texts = new Array[String](n)
    val survivors = Array.fill(n)(true)
    val planted = Seq.newBuilder[(Int, Int)]
    // unique documents first, so every copy has a larger id than its source
    val uniq = Array.tabulate(nUnique)(_ => doc(30 + rnd.nextInt(51)))
    uniq.indices.foreach(i => texts(i) = uniq(i).mkString(" "))
    // near-duplicates: clusters of one to three edited copies of an origin
    var id = nUnique
    while (id < nUnique + nDup) {
      val origin = rnd.nextInt(nUnique)
      val copies = math.min(1 + rnd.nextInt(3), nUnique + nDup - id)
      (0 until copies).foreach { _ =>
        val w = uniq(origin).clone()
        var edits = 0
        while (edits == 0) w.indices.foreach { j =>
          if (rnd.nextDouble() < EditRate) {
            var r = words(MrWordcount.draw(cdf, rnd))
            while (r == w(j)) r = words(MrWordcount.draw(cdf, rnd))
            w(j) = r
            edits += 1
          }
        }
        texts(id) = w.mkString(" ")
        planted += ((origin, id))
        id += 1
      }
    }
    (0 until nExact).foreach { i =>
      texts(id) = texts(rnd.nextInt(nUnique))
      survivors(id) = false
      id += 1
    }
    (0 until nJunk).foreach { _ =>
      texts(id) = doc(5 + rnd.nextInt(11)).mkString(" ")
      survivors(id) = false
      id += 1
    }
    val writers = Array.tabulate(Parts)(p => Files.writer(new File(dir, f"part-$p%02d.tsv")))
    try texts.indices.foreach(i => writers(i % Parts).write(s"$i\t${texts(i)}\n"))
    finally writers.foreach(_.close())
    In(dir, texts, planted.result(), survivors, Files.bytesUnder(dir))
  }

  def describe(in: In): Map[String, Any] = Map(
    "rows" -> in.texts.length.toLong, "bytes" -> in.bytes,
    "tokens" -> in.texts.map(_.count(_ == ' ') + 1L).sum,
    "vocabulary" -> Vocab, "zipf_exponent" -> ZipfS,
    "duplicate_share" -> DupShare, "exact_copy_share" -> ExactShare, "junk_share" -> JunkShare,
    "token_edit_rate" -> EditRate, "planted_pairs" -> in.planted.size.toLong,
    "threshold" -> Threshold, "signature" -> SigSize, "rows_per_band" -> RowsPerBand)

  private def read(spark: SparkSession, in: In): DataFrame =
    spark.read.schema("doc_id LONG, text STRING").option("sep", "\t").csv(in.dir.getAbsolutePath)

  /** Quality gate then exact-text dedup keeping the smallest id (q52). */
  private def clean(docs: DataFrame): DataFrame = {
    val t = TextOps.toks("text")
    val n = size(t)
    docs.filter(n >= 20 && n <= 1000)
      .filter(size(array_distinct(t)) / n >= 0.2)
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id", "text")
  }

  private def pairs(clean: DataFrame): DataFrame =
    Ops.minhashDupPairs(clean, "doc_id", "text", SigSize, RowsPerBand, Threshold)

  /** One document per component, token-balanced over the shards. */
  private def shard(clean: DataFrame, labels: DataFrame): DataFrame = {
    val drop = labels.filter(col("id") =!= col("comp")).select(col("id").as("doc_id"))
    val kept = clean.join(drop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), size(TextOps.toks("text")).cast("long").as("n_tokens"))
    Pipeline.shardByTokenBudget(kept, "doc_id", "n_tokens", Shards)
      .select("doc_id", "n_tokens", "shard_id")
  }

  /** One parquet directory per shard, the unit a trainer reads. */
  private def write(df: DataFrame, out: File): Unit =
    df.write.mode("overwrite").partitionBy("shard_id").parquet(out.getAbsolutePath)

  // ---------------------------------------------------------------- checks

  final case class Checked(ok: Boolean, reported: Int, badPairs: Int, recall: Double, outputOk: Boolean)

  /** Every reported pair re-verified by exact shingle Jaccard; recall of
    * the planted pairs that clear the threshold; and the written shards
    * against a replay of component selection and serpentine dealing,
    * read back one shard at a time. Returns each shard read's time. */
  private def check(spark: SparkSession, in: In, reported: Array[(Long, Long, Double)],
      out: File): (Checked, Seq[Double]) = {
    val bad = reported.count { case (a, b, j) =>
      val exact = in.jaccard(a.toInt, b.toInt)
      !(a < b && in.survivors(a.toInt) && in.survivors(b.toInt) &&
        exact >= Threshold && math.abs(exact - j) < 1e-9)
    }
    val found = reported.iterator.map { case (a, b, _) => (a.toInt, b.toInt) }.toSet
    val recall = in.qualifying.count(found.contains).toDouble / math.max(in.qualifying.size, 1)

    val parent = mutable.Map.empty[Int, Int]
    def find(x: Int): Int = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    found.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val kept = in.texts.indices.filter(i => in.survivors(i) && find(i) == i)
    val tokens = kept.map(i => i -> in.texts(i).split(" ").count(_.nonEmpty).toLong).toMap
    val ranked = kept.sortBy(i => (-tokens(i), i))
    val expected = ranked.zipWithIndex.map { case (i, r) =>
      val pos = r % Shards
      (i.toLong, tokens(i), if ((r / Shards) % 2 == 0) pos else Shards - 1 - pos)
    }.sortBy(_._1)
    val reads = (0 until Shards).map { s =>
      Clock.timed(spark.read.parquet(new File(out, s"shard_id=$s").getAbsolutePath)
        .select("doc_id", "n_tokens").collect().map(r => (r.getLong(0), r.getLong(1), s)))
    }
    val got = reads.flatMap(_._1).sortBy(_._1)
    val outputOk = got == expected
    (Checked(bad == 0 && recall >= RecallBound && outputOk, reported.length, bad, recall, outputOk),
      reads.map(r => Loop.ms(r._2)))
  }

  private def collectPairs(p: DataFrame): Array[(Long, Long, Double)] =
    p.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

  @volatile private var last: Option[Checked] = None
  @volatile private var ccRounds = -1

  private def pass(ctx: Ctx, in: In): Iter = {
    val spark = ctx.spark
    val out = new File(ctx.out, "shards")
    val ((c, p, commitS), wallS, cpuS) = Clock.timed {
      val c = clean(read(spark, in)).persist()
      val p = pairs(c).persist()
      val (labels, rounds) = Ops.ccLargeSmallStar(p, "a_id", "b_id", maxIter = 20)
      ccRounds = rounds
      (c, p, Clock.timed(write(shard(c, labels), out))._2)
    }
    val (checked, readMs) = check(spark, in, collectPairs(p), out)
    Seq(c, p).foreach(_.unpersist(blocking = true))
    last = Some(checked)
    val (n, bad) = Loop.one(checked.ok)
    Iter(wallS, cpuS, Seq(Loop.ms(commitS)), readMs, n, bad)
  }

  private def tracedPass(ctx: Ctx, in: In): Iter = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val out = new File(ctx.out, "shards")
    val ((c, p, reported, rounds, commitS), wallS, cpuS) = Clock.timed {
      tr.span("pass") {
        val c = tr.span("ops.clean") { val d = clean(read(spark, in)).persist(); d.count(); d }
        val (p, reported) = tr.span("ops.minhash") { val d = pairs(c).persist(); (d, collectPairs(d)) }
        val (labels, rounds) = tr.span("ops.cc") {
          val (l, r) = Ops.ccLargeSmallStar(p, "a_id", "b_id", maxIter = 20)
          l.count()
          (l, r)
        }
        (c, p, reported, rounds, Clock.timed(tr.span("ops.shard")(write(shard(c, labels), out)))._2)
      }
    }
    val candidates = PlanMetrics.metric(p, {
      case h: HashAggregateExec =>
        h.aggregateExpressions.isEmpty && h.requiredChildDistributionExpressions.isDefined &&
          h.groupingExpressions.map(_.name) == Seq("a_id", "b_id")
      case _ => false
    }, "numOutputRows")
    val (checked, readMs) = check(spark, in, reported, out)
    Seq(c, p).foreach(_.unpersist(blocking = true))
    last = Some(checked)

    // the signature kernels alone, on the driver, over the clean corpus
    val texts = in.texts.indices.filter(in.survivors).map(in.texts)
    val (_, kernelS, _) = tr.span("functions.minhash")(Clock.timed(texts.foreach { t =>
      TextHash.minhashSig(t, SigSize)
      TextHash.shingleHashesSorted(t)
    }))
    def secs(n: String) = tr.seconds(tr.last(n))
    val layers = Map(
      "ops.clean_s" -> secs("ops.clean"), "ops.minhash_s" -> secs("ops.minhash"),
      "ops.cc_s" -> secs("ops.cc"), "ops.shard_s" -> secs("ops.shard"),
      "ops.cc_rounds" -> rounds.toDouble,
      "ops.candidate_pairs" -> candidates.toDouble,
      "ops.verified_pairs" -> reported.length.toDouble,
      "ops.candidate_precision" -> reported.length / math.max(candidates.toDouble, 1.0),
      "functions.minhash_docs_per_s" -> texts.size / kernelS) ++
      Loop.sparkLayer(tr.agg(tr.subtree(tr.last("pass"))))
    val (n, bad) = Loop.one(checked.ok)
    Iter(wallS, cpuS, Seq(Loop.ms(commitS)), readMs, n, bad, layers)
  }

  /** The pipeline's first calls: clean and pair the small corpus. */
  def warmup(ctx: Ctx, in: In): Unit =
    pairs(clean(read(ctx.spark, in))).count()

  /** Untimed passes over the measured input until JIT and GC sizing settle. */
  def prepare(ctx: Ctx, in: In): Unit = (1 to 3).foreach(_ => pass(ctx, in))

  def measure(ctx: Ctx, in: In): Outcome = {
    val (plain, traced) = Loop.measure(ctx)(t => if (t) tracedPass(ctx, in) else pass(ctx, in))
    val c = last
    Loop.outcome(plain, traced, in.texts.length.toLong, Map(
      "cc_path" -> (if (ccRounds == 0) "driver" else "distributed"), "cc_rounds" -> ccRounds,
      "reported_pairs" -> c.map(_.reported), "pairs_below_threshold" -> c.map(_.badPairs),
      "planted_recall" -> c.map(_.recall), "recall_bound" -> RecallBound,
      "output_matches" -> c.map(_.outputOk)))
  }
}
