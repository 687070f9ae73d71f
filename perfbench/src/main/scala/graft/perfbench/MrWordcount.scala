package graft.perfbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.LongAccumulator

import graft.core.{AssociativeMapReducer, MapReduce, MapReducer, WordCount}
import graft.sources.KVText

/** The reference's own job at a size where executor work dominates:
  * `key value` documents whose words follow a Zipf law over a large
  * vocabulary, so the combiner cannot collapse the shuffle and the
  * full-group path sees skewed groups. Work sits in `core` and
  * `sources`; `lake` and `functions` are never reached. */
object MrWordcount extends Workload {
  val Vocab = 100000
  val ZipfS = 1.1
  val Docs = 30000
  val MinWords = 20
  val MaxWords = 60
  val Parts = 8

  final case class In(dir: File, docs: Int, tokens: Long, bytes: Long, vocab: Int,
      words: Array[String], counts: Array[Long], docFreq: Array[Long]) {
    lazy val index: Map[String, Int] = words.zipWithIndex.toMap
  }

  /** Distinct documents per word: a reducer with no associative form in
    * the `MapReducer` contract, so every value crosses the shuffle and
    * each group is folded whole (`MapReduce.run`). */
  object DistinctDocs extends MapReducer[String, String, String, String, Long] {
    def map(doc: String, text: String): IterableOnce[(String, String)] =
      text.split("\\s+").iterator.filter(_.nonEmpty).map(w => (w, doc))
    def reduce(word: String, docs: Iterator[String]): Long = {
      val seen = new java.util.HashSet[String]()
      docs.foreach(seen.add)
      seen.size.toLong
    }
  }

  /** `WordCount` with its map output counted; traced passes only. */
  final class CountedWordCount(mapped: LongAccumulator)
      extends AssociativeMapReducer[String, String, String, Long] {
    def map(key: String, value: String): IterableOnce[(String, Long)] = {
      val out = WordCount.map(key, value).iterator.toArray
      mapped.add(out.length)
      out
    }
    def combine(a: Long, b: Long): Long = WordCount.combine(a, b)
  }

  /** Word `i` of a seeded vocabulary: an affine bijection on 26^5 spelled
    * in base 26, so all words are distinct five-letter strings. */
  def vocabulary(n: Int, seed: Long): Array[String] = {
    val m = 11881376L // 26^5
    val b = Math.floorMod(seed * 2654435761L, m)
    Array.tabulate(n) { i =>
      var x = (i * 7919L + b) % m
      val c = new Array[Char](5)
      var j = 4
      while (j >= 0) { c(j) = ('a' + (x % 26)).toChar; x /= 26; j -= 1 }
      new String(c)
    }
  }

  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(r => math.pow(r + 1.0, -s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  def draw(cdf: Array[Double], rnd: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  def generate(dir: File, seed: Long, small: Boolean): In = {
    Files.deleteRecursively(dir)
    val (docs, vocab) = if (small) (2000, 5000) else (Docs, Vocab)
    val rnd = new SplittableRandom(seed ^ 0x6d725f7763L)
    val words = vocabulary(vocab, seed)
    val cdf = zipfCdf(vocab, ZipfS)
    val counts = new Array[Long](vocab)
    val docFreq = new Array[Long](vocab)
    val lastDoc = Array.fill(vocab)(-1)
    var tokens = 0L
    val writers = Array.tabulate(Parts)(p => Files.writer(new File(dir, f"part-$p%02d.txt")))
    try {
      var d = 0
      while (d < docs) {
        val n = MinWords + rnd.nextInt(MaxWords - MinWords + 1)
        val sb = new StringBuilder(f"d$d%07d")
        var j = 0
        while (j < n) {
          val w = draw(cdf, rnd)
          sb += ' ' ++= words(w)
          counts(w) += 1
          if (lastDoc(w) != d) { lastDoc(w) = d; docFreq(w) += 1 }
          j += 1
        }
        tokens += n
        writers(d % Parts).write(sb.append('\n').toString)
        d += 1
      }
    } finally writers.foreach(_.close())
    In(dir, docs, tokens, Files.bytesUnder(dir), vocab, words, counts, docFreq)
  }

  def describe(in: In): Map[String, Any] = Map(
    "rows" -> in.docs.toLong, "bytes" -> in.bytes, "tokens" -> in.tokens,
    "vocabulary" -> in.vocab, "distinct_words" -> in.counts.count(_ > 0).toLong,
    "zipf_exponent" -> ZipfS, "files" -> Parts, "words_per_doc" -> s"$MinWords-$MaxWords")

  private def input(spark: SparkSession, in: In): Dataset[(String, String)] = {
    import spark.implicits._
    KVText.read(spark, in.dir.getAbsolutePath).as[(String, String)]
  }

  /** Reads an output back through `KVText.read`, one reducer's file at a
    * time as a downstream consumer would, and compares the whole with the
    * generator's own counts. Returns the check and each read's time. */
  private def check(spark: SparkSession, path: File, in: In, expected: Array[Long]): (Boolean, Seq[Double]) = {
    val parts = Option(path.listFiles()).toSeq.flatten.filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val reads = parts.map(f => Clock.timed(KVText.read(spark, f.getAbsolutePath).collect()))
    val got = reads.flatMap(_._1)
    val ok = got.length == expected.count(_ > 0) && got.forall { r =>
      in.index.get(r.getString(0)).exists(i => expected(i).toString == r.getString(1))
    }
    (ok, reads.map(r => Loop.ms(r._2)))
  }

  private def pass(ctx: Ctx, in: In): Iter = {
    val spark = ctx.spark
    import spark.implicits._
    val assocOut = new File(ctx.out, "assoc")
    val genericOut = new File(ctx.out, "generic")
    val (commits, wallS, cpuS) = Clock.timed {
      val docs = input(spark, in)
      val c1 = Clock.timed(KVText.write(MapReduce.runAssociative(docs, WordCount).toDF("key", "value"),
        assocOut.getAbsolutePath))._2
      val c2 = Clock.timed(KVText.write(MapReduce.run(docs, DistinctDocs).toDF("key", "value"),
        genericOut.getAbsolutePath))._2
      Seq(c1, c2)
    }
    val (ok1, r1) = check(spark, assocOut, in, in.counts)
    val (ok2, r2) = check(spark, genericOut, in, in.docFreq)
    val (n, bad) = Loop.one(ok1 && ok2)
    Iter(wallS, cpuS, commits.map(Loop.ms), r1 ++ r2, n, bad)
  }

  /** The same job with each layer's output materialized inside its own
    * span, so every layer's time and executor work is its own. The scan
    * is timed alone, then again under each core job it feeds (a cached
    * input would count its cache reads as input); the core results are
    * cached so that the write spans time the sink alone. */
  private def tracedPass(ctx: Ctx, in: In): Iter = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tracer
    val assocOut = new File(ctx.out, "assoc")
    val genericOut = new File(ctx.out, "generic")
    val mapped = spark.sparkContext.longAccumulator("map_records_out")
    val (commits, wallS, cpuS) = Clock.timed {
      tr.span("pass") {
        tr.span("sources.read")(input(spark, in).foreach(_ => ()))
        val assoc = tr.span("core.assoc") {
          val r = MapReduce.runAssociative(input(spark, in), new CountedWordCount(mapped)).persist()
          r.count()
          r
        }
        val c1 = Clock.timed(tr.span("sources.write.assoc")(
          KVText.write(assoc.toDF("key", "value"), assocOut.getAbsolutePath)))._2
        val generic = tr.span("core.generic") {
          val r = MapReduce.run(input(spark, in), DistinctDocs).persist()
          r.count()
          r
        }
        val c2 = Clock.timed(tr.span("sources.write.generic")(
          KVText.write(generic.toDF("key", "value"), genericOut.getAbsolutePath)))._2
        Seq(assoc, generic).foreach(_.unpersist(blocking = true))
        Seq(c1, c2)
      }
    }
    val (ok1, r1) = check(spark, assocOut, in, in.counts)
    val (ok2, r2) = check(spark, genericOut, in, in.docFreq)

    def agg(names: String*) = tr.agg(names.map(tr.last).flatMap(tr.subtree).toSet)
    val read = agg("sources.read")
    val write = agg("sources.write.assoc", "sources.write.generic")
    val assoc = agg("core.assoc")
    val generic = agg("core.generic")
    val core = agg("core.assoc", "core.generic")
    // the full-group reduce: the stage that read the most shuffle records
    val reduce = generic.stages.filter(_.shReadRecords > 0).sortBy(-_.shReadRecords).headOption
    val skew = reduce.map { r =>
      val ts = r.taskMs.map(_.toDouble).toSeq
      ts.max / math.max(Stats.median(ts), 1.0)
    }.getOrElse(Double.NaN)
    val whole = agg("pass")
    val layers = Map(
      "sources.read_s" -> tr.seconds(tr.last("sources.read")),
      "sources.write_s" -> (tr.seconds(tr.last("sources.write.assoc")) + tr.seconds(tr.last("sources.write.generic"))),
      "sources.input_records" -> read.inRecords.toDouble,
      "sources.input_bytes" -> read.inBytes.toDouble,
      "sources.output_bytes" -> write.outBytes.toDouble,
      "sources.scan_cpu_s" -> read.execCpuS,
      "core.assoc_s" -> tr.seconds(tr.last("core.assoc")),
      "core.generic_s" -> tr.seconds(tr.last("core.generic")),
      "core.map_records_out" -> mapped.value.toDouble,
      "core.shuffle_write_records" -> core.shWriteRecords.toDouble,
      "core.shuffle_write_bytes" -> core.shWriteBytes.toDouble,
      "core.combine_ratio" -> assoc.shWriteRecords.toDouble / math.max(mapped.value.toDouble, 1.0),
      "core.fetch_wait_ms" -> core.fetchWaitMs.toDouble,
      "core.spill_bytes" -> core.spillBytes.toDouble,
      "core.reduce_skew" -> skew) ++ Loop.sparkLayer(whole)
    val (n, bad) = Loop.one(ok1 && ok2)
    Iter(wallS, cpuS, commits.map(Loop.ms), r1 ++ r2, n, bad, layers)
  }

  /** The job's first call: the combiner path over the small input. */
  def warmup(ctx: Ctx, in: In): Unit = {
    import ctx.spark.implicits._
    MapReduce.runAssociative(input(ctx.spark, in), WordCount).count()
  }

  /** Untimed passes over the measured input until JIT and GC sizing settle. */
  def prepare(ctx: Ctx, in: In): Unit = (1 to 2).foreach(_ => pass(ctx, in))

  def measure(ctx: Ctx, in: In): Outcome = {
    val (plain, traced) = Loop.measure(ctx)(t => if (t) tracedPass(ctx, in) else pass(ctx, in))
    Loop.outcome(plain, traced, in.docs.toLong, Map.empty)
  }
}
