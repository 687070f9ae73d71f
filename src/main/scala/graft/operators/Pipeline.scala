package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{GraftQuery, Scratch, Tables}
import graft.functions.TextHash

/** The end-to-end "prepare a training shard" composition — the query a
  * reference user actually runs nightly, assembled from the library's own
  * stages (each independently oracled as its tx/dd query):
  *
  *   1. repetition filter (tx39 thresholds: Gopher-style keep flag),
  *   2. benchmark decontamination (tx40: drop docs sharing an 8-gram with
  *      the `doc_id % 97 = 0` eval slice — bench docs themselves leave
  *      the training set too),
  *   3. normalization-keyed dedup (dd31 key: min doc_id per md5 of the
  *      lowercased/punct-stripped form survives),
  *   4. sequence packing (tx38: global token offsets via the two-pass
  *      distributed prefix sum, 2048-token sequences).
  *
  * Every stage is a shuffle-bounded relational op (hash aggs, one
  * broadcast join against the tiny benchmark gram set, bucket-table
  * prefix sum) — the whole pipeline is a single Catalyst plan with no
  * driver-side data movement, so it scales exactly as far as its worst
  * stage, which is the (doc, gram) hash agg.
  */
object Pipeline {

  private def px90(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val keepRep = TextOps.repetitionMetrics(docs, "doc_id", "text")
      .filter(col("keep") === 1).select("doc_id")
    val keepDecon = TextOps.decontaminate(docs, "doc_id", "text",
        benchPred = col("doc_id") % 97 === 0)
      .filter(col("contaminated") === 0).select("doc_id")
    // The filtered shard feeds the canonical-dedup agg AND the packing
    // input join — materialize it once (the natural materialization point
    // a production pipeline writes to storage anyway) instead of
    // re-running the repetition/decontamination stages per consumer.
    // localCheckpoint, not persist: blocks are released when the plan is
    // unreferenced, so repeated invocations don't pin cache forever.
    val surviving = docs
      .join(keepRep, "doc_id")
      .join(keepDecon, "doc_id") // also drops the benchmark slice itself
      .localCheckpoint(true)
    val norm = TextHash.normalizeUdf(col("text"))
    val canonical = surviving
      .select(col("doc_id"), md5(encode(norm, "UTF-8")).as("k"))
      .groupBy("k").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    TextOps.packSequences(surviving.join(canonical, "doc_id"), "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Chains the tx39 / tx40 / dd31 / tx38 oracle fragments; stage
    * semantics are pinned one-to-one with their standalone oracles. */
  private val px90Oracle =
    """WITH w AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
      |  FROM documents),
      |g2 AS (
      |  SELECT doc_id, unnest(CASE WHEN len(ws) >= 2
      |    THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
      |    ELSE [] END) AS g
      |  FROM w),
      |m2 AS (SELECT doc_id, MAX(c) AS mx FROM
      |  (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1),
      |g3 AS (
      |  SELECT doc_id, unnest(CASE WHEN len(ws) >= 3
      |    THEN list_transform(range(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
      |    ELSE [] END) AS g
      |  FROM w),
      |a3 AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n3,
      |    CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup3 FROM
      |  (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY 1, 2) GROUP BY 1),
      |rep AS (
      |  SELECT b.doc_id FROM (SELECT doc_id, CAST(len(ws) AS BIGINT) AS wc FROM w) b
      |  LEFT JOIN m2 USING (doc_id) LEFT JOIN a3 USING (doc_id)
      |  WHERE (CASE WHEN b.wc = 0 OR m2.mx IS NULL THEN 0.0 ELSE 2.0 * m2.mx / b.wc END) <= 0.2
      |    AND (CASE WHEN a3.n3 IS NULL OR a3.n3 = 0 THEN 0.0 ELSE CAST(a3.dup3 AS DOUBLE) / a3.n3 END) <= 0.3),
      |g8 AS (
      |  SELECT doc_id, unnest(CASE WHEN len(ws) >= 8
      |    THEN list_distinct(list_transform(range(1, len(ws) - 6),
      |           i -> array_to_string(ws[i:i+7], ' ')))
      |    ELSE [] END) AS g
      |  FROM w),
      |bench AS (SELECT DISTINCT g FROM g8 WHERE doc_id % 97 = 0),
      |contaminated AS (
      |  SELECT DISTINCT g8.doc_id FROM g8 JOIN bench USING (g) WHERE g8.doc_id % 97 <> 0),
      |surviving AS (
      |  SELECT d.doc_id, d.text FROM documents d
      |  JOIN rep USING (doc_id)
      |  WHERE d.doc_id % 97 <> 0
      |    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)),
      |canonical AS (
      |  SELECT MIN(doc_id) AS doc_id
      |  FROM (SELECT doc_id,
      |          md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS k
      |        FROM surviving)
      |  GROUP BY k),
      |t AS (
      |  SELECT s.doc_id,
      |    CAST(len(list_filter(string_split(s.text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
      |  FROM surviving s JOIN canonical USING (doc_id)),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS off
      |  FROM t)
      |SELECT doc_id, n_tokens, off,
      |  CAST(off // 2048 AS BIGINT) AS seq_id,
      |  CAST(off % 2048 AS BIGINT) AS seq_offset
      |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- px91
  /** Deterministic domain mixing: per-stratum keyed-hash downsampling to
    * target mixture rates (the mixture-reweighting step of every
    * production pretraining pipeline — e.g. the domain weights in Gao et
    * al., "The Pile", arXiv:2101.00027, or Rae et al., Gopher,
    * arXiv:2112.11446). A row survives iff the first 4 hex digits of
    * md5(key) fall below the stratum's threshold (rate mapped onto the
    * 16⁴ hash space).
    *
    * Hash-keyed, not `rand()`-keyed, deliberately:
    *   - reproducible across engines, retries, and partitionings (a task
    *     re-run after executor loss keeps the SAME rows — rand() does not);
    *   - resample-stable: raising a stratum's rate only ADDS documents
    *     (thresholds are nested), so iterating on the mixture never churns
    *     the already-selected corpus;
    *   - embarrassingly parallel: a per-row hash + broadcast-joined
    *     threshold, no shuffle at all before the caller's next op.
    *
    * `rates` maps stratum value → keep-rate in [0,1]; strata absent from
    * the map are dropped (explicit mixture, no silent pass-through). */
  def mixSample(docs: DataFrame, keyCol: String, stratumCol: String,
      rates: Map[String, Double]): DataFrame = {
    require(rates.values.forall(r => r >= 0 && r <= 1), "rates must be in [0,1]")
    val spark = docs.sparkSession
    import spark.implicits._
    // rate → 4-hex-digit threshold; hex digits sort lexically = numerically,
    // and "g000" > any hex string, so rate 1.0 keeps everything.
    val thr = rates.toSeq.map { case (s, r) =>
      (s, if (r >= 1.0) "g000" else f"${math.floor(r * 65536).toInt}%04x")
    }.toDF(stratumCol, "_thr")
    docs.join(broadcast(thr), stratumCol)
      .filter(substring(md5(encode(col(keyCol).cast("string"), "UTF-8")), 1, 4) < col("_thr"))
      .drop("_thr")
  }

  private def px91(spark: SparkSession, dir: String): DataFrame =
    mixSample(Tables(spark, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.8, "es" -> 0.9, "zh" -> 0.7))
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")

  private val px91Oracle =
    """WITH r AS (SELECT * FROM (VALUES
      |    ('en', '8000'), ('de', 'g000'), ('fr', 'cccc'),
      |    ('es', 'e666'), ('zh', 'b333')) AS t(lang, thr))
      |SELECT d.doc_id, d.lang, d.source
      |FROM documents d JOIN r USING (lang)
      |WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < r.thr
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- px93
  /** Domain mixing with rates ABOVE 1: deterministic epoch repetition.
    * Production mixtures up-weight small high-quality sources by repeating
    * them (multiple "epochs" of Wikipedia per epoch of web crawl — the
    * mixture tables of GPT-3/The Pile/Llama all do this). A rate r maps to
    * `floor(r)` guaranteed copies plus one extra copy iff the row's
    * md5-fraction falls under `frac(r)` — the same nested keyed-hash rule
    * as [[mixSample]], so the fractional epoch is a reproducible SUBSET,
    * not a random resample, and r <= 1 degenerates to exactly mixSample's
    * behavior. Copies carry a `copy` index so downstream shuffles/packing
    * can spread them instead of co-locating duplicates.
    *
    * Per-row hash + broadcast-joined rates + one generator — no shuffle,
    * no driver participation; output size is Σ stratum·rate by design. */
  def mixUpsample(docs: DataFrame, keyCol: String, stratumCol: String,
      rates: Map[String, Double]): DataFrame = {
    require(rates.values.forall(_ >= 0), "rates must be non-negative")
    val spark = docs.sparkSession
    import spark.implicits._
    val rdf = rates.toSeq.map { case (s, r) =>
      val fr = r - math.floor(r)
      (s, math.floor(r).toLong,
        if (fr <= 0) "0000" else f"${math.floor(fr * 65536).toInt}%04x")
    }.toDF(stratumCol, "_base", "_thr")
    docs.join(broadcast(rdf), stratumCol)
      .withColumn("_n", col("_base") +
        when(substring(md5(encode(col(keyCol).cast("string"), "UTF-8")), 1, 4) < col("_thr"), 1L)
          .otherwise(0L))
      .filter(col("_n") >= 1) // sequence(1, 0) would run DESCENDING in Spark
      .withColumn("copy", explode(sequence(lit(1L), col("_n"))))
      .drop("_base", "_thr", "_n")
  }

  private def px93(spark: SparkSession, dir: String): DataFrame =
    mixUpsample(Tables(spark, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.5, "de" -> 2.0, "fr" -> 1.25, "es" -> 1.0, "zh" -> 3.0))
      .select("doc_id", "lang", "copy")
      .orderBy("doc_id", "copy")

  private val px93Oracle =
    """WITH r AS (SELECT * FROM (VALUES
      |    ('en', 0, '8000'), ('de', 2, '0000'), ('fr', 1, '4000'),
      |    ('es', 1, '0000'), ('zh', 3, '0000')) AS t(lang, base, thr)),
      |n AS (
      |  SELECT d.doc_id, d.lang,
      |    r.base + CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < r.thr
      |                  THEN 1 ELSE 0 END AS n
      |  FROM documents d JOIN r USING (lang))
      |SELECT doc_id, lang, CAST(unnest(range(1, n + 1)) AS BIGINT) AS copy
      |FROM n WHERE n >= 1
      |ORDER BY doc_id, copy""".stripMargin

  // ---------------------------------------------------------------- px92
  /** Per-stratum quality cut: keep the top `keepFrac` of documents by
    * quality score WITHIN each stratum (the "quality filtering per
    * language" stage of CCNet — Wenzek et al., arXiv:1911.00359 — and
    * every pipeline since). Exact form: percent_rank over (stratum,
    * score desc, id) — one shuffle by stratum; rank ties are impossible
    * because the id is in the sort key, so the cut is deterministic.
    *
    * The per-stratum window implies one sorted partition per stratum;
    * with few huge strata (the 100 TB regime: 10 languages, terabytes
    * each) use [[qualityCutApprox]] instead — an aggregated percentile
    * threshold broadcast back as a filter, which replaces the giant sort
    * with one sketch agg + a map-side filter (the standard production
    * trade: the cut point is approximate, the filter is still exact and
    * deterministic given the threshold). */
  def qualityCut(scored: DataFrame, idCol: String, stratumCol: String,
      scoreCol: String, keepFrac: Double): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col(scoreCol).desc_nulls_last, col(idCol))
    scored.withColumn("pr", percent_rank().over(w))
      .filter(col("pr") <= keepFrac)
  }

  /** Scale variant: threshold = the (1 - keepFrac) quantile of the score
    * per stratum via the GK sketch (`percentile_approx`), broadcast-joined
    * back; no per-stratum sort. Engine-only (sketch cut points are
    * implementation-defined); Round4OpsSpec pins its agreement with the
    * exact cut. */
  def qualityCutApprox(scored: DataFrame, idCol: String, stratumCol: String,
      scoreCol: String, keepFrac: Double): DataFrame = {
    val thr = scored.groupBy(stratumCol)
      .agg(percentile_approx(col(scoreCol), lit(1.0 - keepFrac), lit(10000)).as("_thr"))
    scored.join(broadcast(thr), stratumCol)
      .filter(col(scoreCol) >= col("_thr"))
      .drop("_thr")
  }

  private def px92(spark: SparkSession, dir: String): DataFrame = {
    val t = TextOps.toks("text")
    val nWords = size(t)
    // tx33's quality score, inline (ttr × capped-length factor)
    val quality = when(nWords > 0,
      (size(array_distinct(t)) / nWords) * least(nWords, lit(100)) / lit(100.0))
    val scored = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), quality.as("quality"))
    qualityCut(scored, "doc_id", "lang", "quality", keepFrac = 0.8)
      .select("doc_id", "lang", "quality", "pr")
      .orderBy("doc_id")
  }

  private val px92Oracle =
    """WITH s AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN len(tk) > 0
      |      THEN len(list_distinct(tk)) / len(tk) * least(len(tk), 100) / CAST(100 AS DOUBLE) END AS quality
      |  FROM (SELECT doc_id, lang,
      |          list_filter(string_split(text, ' '), x -> x <> '') AS tk
      |        FROM documents)),
      |r AS (
      |  SELECT doc_id, lang, quality,
      |    percent_rank() OVER (PARTITION BY lang ORDER BY quality DESC NULLS LAST, doc_id) AS pr
      |  FROM s)
      |SELECT doc_id, lang, quality, pr FROM r
      |WHERE pr <= 0.8 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- px94
  /** Token-balanced shard assignment: rank documents by token count
    * descending (ties → doc_id) and deal them serpentine over `nShards`
    * shards — rank pass 0 goes 0,1,…,S-1, pass 1 goes S-1,…,0 — the
    * deterministic folded variant of longest-processing-time scheduling
    * (Graham 1969): big docs spread first, each shard's token total lands
    * within one doc of its neighbors. The global rank comes from
    * [[graft.api.Ops.withGlobalRowNumber]] — range partitioning + a
    * P-row prefix sum, never a corpus-wide single-partition window. */
  def shardByTokenBudget(docs: DataFrame, idCol: String, tokenCol: String,
      nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val ranked = graft.api.Ops.withGlobalRowNumber(
      docs, Seq(col(tokenCol).desc, col(idCol)), outCol = "rnk")
    val pos = col("rnk") % nShards
    // `div` (integer division) — `/` on longs is double division in Spark SQL
    ranked.withColumn("shard_id",
      when(expr(s"(rnk div $nShards) % 2") === 0, pos)
        .otherwise(lit(nShards - 1) - pos)
      .cast("int"))
  }

  private def px94(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        size(TextOps.toks("text")).cast("long").as("n_tokens"))
    shardByTokenBudget(t, "doc_id", "n_tokens", nShards = 8)
      .select("doc_id", "n_tokens", "rnk", "shard_id")
      .orderBy("doc_id")
  }

  private val px94Oracle =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS BIGINT) AS rnk
      |  FROM t)
      |SELECT doc_id, n_tokens, rnk,
      |  CAST(CASE WHEN (rnk // 8) % 2 = 0 THEN rnk % 8 ELSE 7 - rnk % 8 END AS INTEGER) AS shard_id
      |FROM r ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- px95
  /** The curriculum/shard counterpart to px90: per-language quality cut
    * (px92 semantics) → cross-doc boilerplate filter (tx43) → normalized
    * dedup (dd31 canonical keys, applied to the surviving set) →
    * token-balanced serpentine shard assignment (px94). Output is the
    * per-document shard manifest a distributed trainer consumes. Every
    * stage is the independently-oracled library op; the composition is one
    * Catalyst plan whose only materialization point is the survivor set
    * (consumed by both the dedup agg and the shard ranking). */
  private def px95(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val t = TextOps.toks("text")
    val nWords = size(t)
    val quality = when(nWords > 0,
      (size(array_distinct(t)) / nWords) * least(nWords, lit(100)) / lit(100.0))
    val keepQ = qualityCut(
        docs.select(col("doc_id"), col("lang"), quality.as("quality")),
        "doc_id", "lang", "quality", keepFrac = 0.8)
      .select("doc_id")
    val keepBp = TextOps.boilerplateFraction(docs, "doc_id", "text")
      .filter(col("bp_frac") < 0.8).select("doc_id")
    val surviving = docs
      .join(keepQ, "doc_id")
      .join(keepBp, "doc_id")
      .localCheckpoint(true)
    val norm = graft.functions.TextHash.normalizeUdf(col("text"))
    val canonical = surviving
      .select(col("doc_id"), md5(encode(norm, "UTF-8")).as("k"))
      .groupBy("k").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val withTok = surviving.join(canonical, "doc_id")
      .select(col("doc_id"), col("lang"),
        size(TextOps.toks("text")).cast("long").as("n_tokens"))
    shardByTokenBudget(withTok, "doc_id", "n_tokens", nShards = 8)
      .select("doc_id", "lang", "n_tokens", "rnk", "shard_id")
      .orderBy("doc_id")
  }

  /** Chains the px92 / tx43 / dd31 / px94 oracle fragments one-to-one. */
  private val px95Oracle =
    """WITH tk AS (
      |  SELECT doc_id, lang, text,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS tk
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, lang, text,
      |    CASE WHEN len(tk) > 0
      |      THEN len(list_distinct(tk)) / len(tk) * least(len(tk), 100) / CAST(100 AS DOUBLE) END AS q,
      |    CAST(len(tk) AS BIGINT) AS n_tokens
      |  FROM tk),
      |keepq AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id,
      |      percent_rank() OVER (PARTITION BY lang ORDER BY q DESC NULLS LAST, doc_id) AS pr
      |    FROM s) WHERE pr <= 0.8),
      |g AS (
      |  SELECT doc_id, unnest(CASE WHEN len(tk) >= 5
      |    THEN list_distinct(list_transform(range(1, len(tk) - 3),
      |           i -> array_to_string(tk[i:i+4], ' ')))
      |    ELSE [] END) AS g
      |  FROM tk),
      |f AS (SELECT g FROM (SELECT g, COUNT(*) AS df FROM g GROUP BY 1) WHERE df >= 2),
      |tno AS (SELECT doc_id, COUNT(*) AS n_g FROM g GROUP BY 1),
      |b AS (SELECT g.doc_id, COUNT(*) AS bp FROM g JOIN f USING (g) GROUP BY 1),
      |keepbp AS (
      |  SELECT tk.doc_id FROM tk LEFT JOIN tno USING (doc_id) LEFT JOIN b USING (doc_id)
      |  WHERE (CASE WHEN COALESCE(tno.n_g, 0) = 0 THEN 0.0
      |              ELSE CAST(COALESCE(b.bp, 0) AS DOUBLE) / tno.n_g END) < 0.8),
      |surv AS (
      |  SELECT s.doc_id, s.lang, s.text, s.n_tokens
      |  FROM s JOIN keepq USING (doc_id) JOIN keepbp USING (doc_id)),
      |canon AS (
      |  SELECT MIN(doc_id) AS doc_id
      |  FROM (SELECT doc_id,
      |          md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS k
      |        FROM surv)
      |  GROUP BY k),
      |r AS (
      |  SELECT surv.doc_id, lang, n_tokens,
      |    CAST(row_number() OVER (ORDER BY n_tokens DESC, surv.doc_id) - 1 AS BIGINT) AS rnk
      |  FROM surv JOIN canon ON surv.doc_id = canon.doc_id)
      |SELECT doc_id, lang, n_tokens, rnk,
      |  CAST(CASE WHEN (rnk // 8) % 2 = 0 THEN rnk % 8 ELSE 7 - rnk % 8 END AS INTEGER) AS shard_id
      |FROM r ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- px96
  /** Deterministic per-stratum eval holdout: the k documents per language
    * with the smallest salted content-independent hash — the standard way
    * to carve a stable eval set that (a) is uniform within each stratum,
    * (b) never moves when the corpus grows (membership depends only on
    * the id), and (c) is reproducible across engines (md5 on both sides,
    * no RNG). Selection is top-k per group, which Spark plans with
    * WindowGroupLimit — each partition pre-filters to its local top-k
    * before the stratum shuffle, so the full sort never materializes. */
  private def px96(spark: SparkSession, dir: String): DataFrame = {
    val hk = md5(concat(col("doc_id").cast("string"), lit(":eval")))
    graft.api.Ops.topKPerGroup(
        Tables(spark, dir, "documents").select(col("doc_id"), col("lang"), hk.as("hk")),
        partCols = Seq("lang"), order = Seq(col("hk"), col("doc_id")), k = 20)
      .select(col("lang"), col("rn"), col("doc_id"), col("hk"))
      .orderBy("lang", "rn")
  }

  private val px96Oracle =
    """SELECT lang, CAST(rn AS INTEGER) AS rn, doc_id, hk FROM (
      |  SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR) || ':eval') AS hk,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':eval'), doc_id) AS rn
      |  FROM documents) t
      |WHERE rn <= 20 ORDER BY lang, rn""".stripMargin

  // ---------------------------------------------------------------- px97
  /** Token-budget apportionment: split an exact total token budget across
    * domains proportionally to their available tokens using the Hamilton
    * / largest-remainder method — the "how many tokens do I take from
    * each source" planning step that precedes px91's row-level sampling
    * (domain token accounting as in Gao et al., The Pile,
    * arXiv:2101.00027 §2). Guarantees Σ budget_tok == budget exactly and
    * |budget_d − B·A_d/ΣA| < 1 per domain.
    *
    * Entirely integer arithmetic (B·A_d div ΣA and its remainder), so the
    * result is bitwise-deterministic on any engine — no float shares.
    * Remainder ties break on stratum name.
    *
    * Scale shape: one embarrassingly-parallel token count + one hash agg
    * reduce the corpus to ONE ROW PER DOMAIN; the windows that rank the
    * remainders run on that domain-sized table (strata ≪ rows by
    * definition), so the unpartitioned window is driver-scale work no
    * matter how large the corpus. B·A_d needs 128-bit math once
    * B·ΣA approaches 2^63 — switch the products to DECIMAL(38,0) then. */
  def apportionTokenBudget(docs: DataFrame, stratumCol: String, textCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val avail = docs
      .select(col(stratumCol).as("stratum"),
        size(TextOps.toks(textCol)).cast("long").as("n_tok"))
      .groupBy("stratum").agg(sum(col("n_tok")).as("avail_tok"))
    val tot = avail.agg(sum(col("avail_tok")).as("w"))
    val f = avail.crossJoin(broadcast(tot))
      .select(col("stratum"), col("avail_tok"),
        expr(s"($budget * avail_tok) div w").as("floorq"),
        expr(s"($budget * avail_tok) % w").as("rem"))
    val rk = row_number().over(Window.orderBy(col("rem").desc, col("stratum")))
    val fsum = sum(col("floorq")).over(Window.partitionBy())
    f.withColumn("rk", rk).withColumn("fsum", fsum)
      .select(col("stratum"), col("avail_tok"),
        (col("floorq") + when(col("rk") <= lit(budget) - col("fsum"), 1L).otherwise(0L))
          .as("budget_tok"))
  }

  private def px97(spark: SparkSession, dir: String): DataFrame =
    apportionTokenBudget(Tables(spark, dir, "documents"), "source", "text",
        budget = 1000000L)
      .orderBy("stratum")

  private val px97Oracle =
    """WITH a AS (
      |  SELECT source AS stratum,
      |    CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS avail_tok
      |  FROM documents GROUP BY 1),
      |t AS (SELECT CAST(SUM(avail_tok) AS BIGINT) AS w FROM a),
      |f AS (
      |  SELECT stratum, avail_tok,
      |    (1000000 * avail_tok) // w AS floorq,
      |    (1000000 * avail_tok) % w AS rem
      |  FROM a CROSS JOIN t),
      |r AS (
      |  SELECT *, row_number() OVER (ORDER BY rem DESC, stratum) AS rk,
      |    SUM(floorq) OVER () AS fsum
      |  FROM f)
      |SELECT stratum, avail_tok,
      |  CAST(floorq + CASE WHEN rk <= 1000000 - fsum THEN 1 ELSE 0 END AS BIGINT) AS budget_tok
      |FROM r ORDER BY stratum""".stripMargin

  // ---------------------------------------------------------------- px98
  /** Deterministic train/val/test assignment by salted key hash — the
    * split must be a pure function of the example's identity, never of
    * row order, partitioning, or an RNG stream, so that (a) re-running
    * the pipeline on a grown corpus keeps every old example in its old
    * split (no silent train→test leakage across runs) and (b) any engine
    * reproduces the same split exactly. First 8 md5 hex chars as a
    * uniform u32: < 0.9·2^32 → train, < 0.95·2^32 → val, else test.
    * One scan, no shuffle before the audit agg; at 100 TB the assignment
    * is a free extra column on whatever job writes the shards. */
  def hashSplit(docs: DataFrame, keyCol: String, salt: String = "s42",
      trainFrac: Double = 0.90, valFrac: Double = 0.05): DataFrame = {
    require(trainFrac > 0 && valFrac >= 0 && trainFrac + valFrac < 1.0,
      s"fractions must satisfy 0 < train, 0 <= val, train+val < 1; got $trainFrac/$valFrac")
    def cut(f: Double): String = f"${(f * 4294967296.0).toLong}%08x"
    val h = substring(md5(concat(lit(s"$salt:"), col(keyCol).cast("string"))), 1, 8)
    docs.withColumn("split",
      when(h < cut(trainFrac), "train")
        .when(h < cut(trainFrac + valFrac), "val")
        .otherwise("test"))
  }

  /** Split audit: per-split doc count and char mass (the sanity row a
    * pipeline logs before training starts). */
  private def px98(spark: SparkSession, dir: String): DataFrame =
    hashSplit(Tables(spark, dir, "documents"), "doc_id")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("split")

  private val px98Oracle =
    """SELECT CASE
      |    WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
      |    WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
      |    ELSE 'test' END AS split,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY 1 ORDER BY split""".stripMargin

  // ---------------------------------------------------------------- px99
  /** Temperature-flattened domain mixing: downsample each domain at rate
    * `sqrt(share_d)` (i.e. multinomial weights ∝ w^τ with τ = 1/2 — the
    * "raise rare domains, flatten head domains" move of multilingual /
    * multi-source training mixes). Rare domains keep ~everything, the
    * head shrinks toward its square root.
    *
    * Determinism across engines: shares come from exact integer token
    * sums; `sqrt` and division are IEEE-correctly-rounded, so the
    * per-domain rate is the identical double everywhere; the rate is
    * then materialized as an 8-hex-char cut (`floor(rate·2^32)`) and each
    * row keeps iff its salted-md5 prefix sorts below the cut — the same
    * portable Bernoulli device as q43/px98, with a per-domain threshold.
    * The cut is clamped to 2^32-1: a rate that rounds to 1.0 (e.g. a
    * single-domain corpus) would otherwise hex-encode floor(2^32) to the
    * 9-char "100000000", which lpad(...,8) truncates to "10000000" —
    * silently keeping ~6.25% of the domain instead of all of it. Since
    * every 8-hex md5 prefix sorts strictly below "ffffffff"+1 but NOT
    * below a truncated cut, rate>=1 must clamp to the max 8-char cut;
    * "ffffffff" itself excludes only the 2^-32 sliver of exact-max
    * prefixes, so keep-all is expressed as a `>= 1.0` short-circuit
    * (the cut becomes the 9-char "g0000000", which every hex prefix
    * sorts below). The oracle mirrors the same short-circuit.
    * τ = 1/2 is chosen over an arbitrary τ because pow() is NOT
    * correctly-rounded everywhere, sqrt is.
    *
    * One corpus pass for token counts (one row per domain), a broadcast
    * join of the tiny rate table, then the per-row hash filter — no
    * shuffle of corpus-sized data at any point. */
  def temperatureMix(docs: DataFrame, idCol: String, stratumCol: String,
      textCol: String, salt: String = "s42"): DataFrame = {
    val tok = size(TextOps.toks(textCol)).cast("long")
    val avail = docs
      .select(col(stratumCol).as("_st"), tok.as("_tok"))
      .groupBy("_st").agg(sum(col("_tok")).as("_dom_tok"))
    val tot = avail.agg(sum(col("_dom_tok")).as("_all_tok"))
    val rate = sqrt(col("_dom_tok").cast("double") / col("_all_tok"))
    // rate < 1.0 strictly implies rate*2^32 < 2^32 exactly (the product
    // 2^32 - 2^-21 at rate = 1-ulp is representable, so fp rounding can't
    // push it up to 2^32) — the keep-all branch is the ONLY way past 8 hex
    // chars, and 'g' > 'f' makes its cut sort above every md5 prefix.
    val rates = avail.crossJoin(broadcast(tot))
      .select(col("_st"),
        when(rate >= 1.0, lit("g0000000"))
          .otherwise(lower(lpad(hex(floor(rate * lit(4294967296.0)).cast("long")), 8, "0")))
          .as("_cut"))
    // the row hash keys on the document's stable identity (idCol), never
    // row order or an RNG, so the kept set is a pure function of the
    // corpus — same stability contract as hashSplit
    docs.join(broadcast(rates), col(stratumCol) === col("_st"))
      .filter(substring(md5(concat(lit(s"$salt:"), col(stratumCol), lit(":"),
        col(idCol).cast("string"))), 1, 8) < col("_cut"))
      .drop("_st", "_cut")
  }

  private def px99(spark: SparkSession, dir: String): DataFrame =
    temperatureMix(Tables(spark, dir, "documents"), "doc_id", "source", "text")
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum(size(TextOps.toks("text")).cast("long")).as("tok_kept"))
      .orderBy("source")

  private val px99Oracle =
    """WITH t AS (
      |  SELECT source, doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok
      |  FROM documents),
      |a AS (SELECT source, SUM(n_tok) AS dom_tok FROM t GROUP BY 1),
      |tot AS (SELECT SUM(dom_tok) AS all_tok FROM a),
      |r AS (
      |  SELECT source,
      |    CASE WHEN sqrt(CAST(dom_tok AS DOUBLE) / all_tok) >= 1.0 THEN 'g0000000'
      |         ELSE lower(lpad(hex(CAST(floor(sqrt(CAST(dom_tok AS DOUBLE) / all_tok) * 4294967296.0) AS BIGINT)), 8, '0'))
      |    END AS cut
      |  FROM a CROSS JOIN tot)
      |SELECT t.source, CAST(COUNT(*) AS BIGINT) AS n_kept, CAST(SUM(n_tok) AS BIGINT) AS tok_kept
      |FROM t JOIN r ON t.source = r.source
      |WHERE substr(md5('s42:' || t.source || ':' || CAST(doc_id AS VARCHAR)), 1, 8) < cut
      |GROUP BY t.source ORDER BY t.source""".stripMargin

  // ---------------------------------------------------------------- px100
  /** The pipeline's actual deliverable: WRITE the training-data lake —
    * documents laid out as `split=<train|val|test>/shard_id=<n>/`
    * partitioned parquet (px98's stable hash split × a deterministic
    * shard key) — then read the written layout back and emit the shard
    * manifest a trainer consumes. The read-back (not the pre-write
    * frame) is aggregated, so the oracle cross-checks what actually
    * landed on disk through the partitioned writer. Trainers then scan
    * exactly `split=train/shard_id=k` via directory pruning (q95's
    * lever); shard count is the write-parallelism dial, fixed here at 4
    * so the tiny test corpus still exercises multi-directory layout.
    * The write lands through [[Lake.init]], so the layout is born with
    * its manifest (version 1 = exactly the files that landed) and the
    * later lifecycle mutations (px101-103) commit against a log instead
    * of adopting a bare directory. */
  private def px100(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px100_shards")
    Lake.init(spark,
        hashSplit(Tables(spark, dir, "documents"), "doc_id")
          .withColumn("shard_id", (col("doc_id") % 4).cast("int")),
        out, Seq("split", "shard_id"))
      .groupBy("split", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("split"), col("shard_id").cast("int").as("shard_id"),
        col("n_docs"), col("sum_chars"))
      .orderBy("split", "shard_id")
  }

  private val px100Oracle =
    """SELECT CASE
      |    WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
      |    WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
      |    ELSE 'test' END AS split,
      |  CAST(doc_id % 4 AS INTEGER) AS shard_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY 1, 2 ORDER BY split, shard_id""".stripMargin

  // ---------------------------------------------------------------- px101
  /** Targeted deletion from the training lake — the right-to-be-forgotten
    * / takedown operation every production corpus eventually needs, shaped
    * for 100 TB: REWRITE ONLY THE PARTITIONS THAT CONTAIN A TOMBSTONED
    * DOC, published through [[Lake]]'s write-audit-publish commit.
    * Mechanics:
    *
    *   1. affected partitions: a broadcast semi-join of the lake against
    *      the (small) tombstone set, projected to the partition key —
    *      partition pruning makes every later pass read only these;
    *   2. STAGE: survivors of the affected partitions (anti-join on the
    *      doc id) are written as NEW files into the same shard layout —
    *      the pre-image is never opened for write, so no self-overwrite
    *      checkpoint guard is needed and staging is abortable;
    *   3. AUDIT: the staged files are read back and counted against the
    *      survivor frame; a mismatch aborts with the lake untouched;
    *   4. PUBLISH: one atomic manifest rename swaps the affected
    *      partitions' old files for the staged ones — readers see the
    *      pre-delete or post-delete lake, never a mix, and a partition
    *      whose every doc is tombstoned drops out of the manifest
    *      entirely (no silent retention). Superseded files are vacuumed
    *      after the commit; untouched shards stay byte-identical.
    *
    * Returns the post-delete lake read-back. Partition granularity is the
    * amplification dial: deletes rewrite whole shards, so shard sizing
    * trades write parallelism against delete amplification. */
  def deleteFromLake(spark: SparkSession, lakeDir: String, tombstones: DataFrame,
      tombIdCol: String, lakeIdCol: String = "doc_id",
      partitionCols: Seq[String] = Seq("split", "shard_id"),
      retainHistory: Boolean = false): DataFrame = {
    // CAUTION with retainHistory on a right-to-be-forgotten delete: the
    // tombstoned rows stay physically readable via [[Lake.readVersion]]
    // until a retention vacuum spends that history — eager vacuum (the
    // default) is what actually destroys the bytes
    stageLakeDelete(spark, lakeDir, tombstones, tombIdCol, lakeIdCol, partitionCols)
      .foreach(Lake.publish(spark, _, vacuumSuperseded = !retainHistory))
    Lake.read(spark, lakeDir)
  }

  /** The stage+audit half of [[deleteFromLake]], exposed so the crash spec
    * can stop between stage and publish and prove readers still see the
    * pre-delete lake. None = no tombstone hits the lake (nothing staged).
    *
    * Job economy (the 100 TB accounting): [[affectedFiles]] finds the
    * superseded files in ONE column-pruned pass; ONE pass over the
    * affected files only counts rows and tombstone hits together
    * (survivors = rows − hits, the audit's expectation); the stage write
    * and its read-back audit also touch only affected partitions. */
  private[graft] def stageLakeDelete(spark: SparkSession, lakeDir: String,
      tombstones: DataFrame, tombIdCol: String, lakeIdCol: String,
      partitionCols: Seq[String]): Option[Lake.StagedCommit] = {
    val base = Lake.adopt(spark, lakeDir)
    val lake = Lake.readState(spark, lakeDir, base)
    val t = broadcast(tombstones.select(col(tombIdCol).as("_del")).distinct())
    staging(spark, lakeDir, base) { ledger =>
      // pass 1 (id + partition columns only): the files of the partitions
      // a tombstone hits — including those of fully-tombstoned
      // partitions, which stage zero survivor rows and therefore vanish
      // from the manifest (the silent-retention fix)
      val removed = affectedFiles(base, lake, t, col(lakeIdCol) === col("_del"), partitionCols)
      if (removed.isEmpty) None
      else {
        val affectedLake = Lake.readFiles(spark, lakeDir, base.schemaJson, removed, base.dvs)
        // pass 2 RIDES the survivor write: one left join (t is distinct,
        // so the `_del IS NULL` filter is exactly the anti-join), with
        // total rows and tombstone hits observed on the join node.
        val (instJoined, joinedRows, joinedExtras) = Lake.observedAuditMetrics(Map.empty,
          affectedLake.join(t, col(lakeIdCol) === col("_del"), "left"),
          Seq(count(col("_del")).as("_gf_hits")))
        // the deleted pre-image rows, written at commit time — what the
        // row-level change feed serves as this version's 'delete' rows
        Some(rewrite(ledger, "delete", removed,
          instJoined.filter(col("_del").isNull).drop("_del"),
          () => joinedRows() - joinedExtras()("_gf_hits").asInstanceOf[Long],
          affectedLake.join(t, col(lakeIdCol) === col("_del"), "left_semi"),
          partitionCols, lakeIdCol, "delete"))
      }
    }
  }

  /** Build the px100 lake layout in its own scratch dir, tombstone the
    * `doc_id % 131 == 0` docs, surgically delete, and emit the post-delete
    * manifest from the read-back — the oracle recomputes it relationally
    * as "px100's manifest minus the tombstoned docs". */
  private def px101(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px101_lake")
    hashSplit(Tables(spark, dir, "documents"), "doc_id")
      .withColumn("shard_id", (col("doc_id") % 4).cast("int"))
      .write.mode("overwrite").partitionBy("split", "shard_id").parquet(out)
    val tomb = Tables(spark, dir, "documents")
      .filter(col("doc_id") % 131 === 0).select("doc_id")
    deleteFromLake(spark, out, tomb, "doc_id")
      .groupBy("split", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("split"), col("shard_id").cast("int").as("shard_id"),
        col("n_docs"), col("sum_chars"))
      .orderBy("split", "shard_id")
  }

  private val px101Oracle =
    """SELECT CASE
      |    WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
      |    WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
      |    ELSE 'test' END AS split,
      |  CAST(doc_id % 4 AS INTEGER) AS shard_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE doc_id % 131 <> 0
      |GROUP BY 1, 2 ORDER BY split, shard_id""".stripMargin

  // ---------------------------------------------------------------- px102
  /** Census scans compactions performed (a [[Lake.logReads]]-style
    * counter): the manifest-counted fast path pins ZERO — group maps and
    * audit expectations both come from recorded `#rows`, so the corpus
    * is read exactly once (the rewrite). */
  private[graft] val censusReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Shard compaction — the maintenance pass that undoes what incremental
    * writes and surgical deletes (px101) do to a lake: partitions
    * accumulate many small files, and small files tax every subsequent
    * scan (footer reads, task scheduling, row-group fragmentation).
    * Same surgical discipline and the same [[Lake]] write-audit-publish
    * commit as the delete:
    *
    *   1. the per-partition file census is the MANIFEST itself — partition
    *      membership is the path prefix, so finding fragmented partitions
    *      is driver-side string work (no filesystem walk, no scan, no
    *      Spark job at all);
    *   2. ONLY partitions over `maxFilesPerPartition` are read back and
    *      bin-packed: rows are hash-assigned to `ceil(rows/target)` file
    *      groups per partition (row counts from ONE aggregate over the
    *      affected files — its result doubles as the audit expectation),
    *      the shuffle lands one TASK per (partition, group), and
    *      `maxRecordsPerFile` caps any file a group collision makes
    *      oversized — so a hot shard compacts to N bounded files written
    *      in parallel, never one straggler task writing one giant file;
    *   3. STAGE/AUDIT/PUBLISH as in [[deleteFromLake]]: packed files are
    *      appended invisibly, counted against the pre-pack frame, and a
    *      single manifest rename swaps them in; already-compact
    *      partitions keep their files byte-identical.
    *
    * Compaction is data-preserving by construction, and the px102 oracle
    * leans on exactly that: the post-compaction manifest must equal the
    * relational manifest of the un-compacted data. The file-count and
    * parallel-write properties are pinned by the spec. */
  def compactLake(spark: SparkSession, lakeDir: String,
      maxFilesPerPartition: Int = 1,
      targetRowsPerFile: Long = 4000000L,
      partitionCols: Seq[String] = Seq("split", "shard_id"),
      sortCols: Seq[String] = Seq.empty,
      retainHistory: Boolean = false,
      targetBytesPerFile: Option[Long] = None,
      zorderCols: Seq[String] = Seq.empty,
      onlyFilesSmallerThan: Option[Long] = None): DataFrame = {
    require(maxFilesPerPartition >= 1, s"maxFilesPerPartition must be >= 1")
    require(targetRowsPerFile >= 1, s"targetRowsPerFile must be >= 1")
    targetBytesPerFile.foreach(tb =>
      require(tb >= 1, s"targetBytesPerFile must be >= 1, got $tb"))
    onlyFilesSmallerThan.foreach(th =>
      require(th >= 1, s"onlyFilesSmallerThan must be >= 1, got $th"))
    require(zorderCols.isEmpty || (zorderCols.size >= 2 && zorderCols.size <= 4),
      s"compactLake: zorderCols interleaves 2-4 dimensions, got " +
        s"[${zorderCols.mkString(", ")}] — for one column use sortCols " +
        "(beyond 4, per-dimension locality dilutes past usefulness)")
    require(zorderCols.isEmpty || sortCols.isEmpty,
      "compactLake: zorderCols and sortCols are alternative clusterings — pass one")
    val base = Lake.adopt(spark, lakeDir)
    // driver-side census: manifest files grouped by partition directory.
    // Partitions holding deletion-vector'd files are ALWAYS in scope —
    // compaction is where merge-on-read tombstones get materialized back
    // into plain files, regardless of the partition's file count
    // `onlyFilesSmallerThan` (Delta OPTIMIZE's minFileSize shape): only
    // sub-threshold files — plus DV'd files, whose tombstones must
    // materialize — are rewritable; a partition's big clean files stay
    // byte-identical, so compacting a huge partition's small-file tail
    // writes O(tail), not O(partition). Sizes come from one driver-side
    // listing of the live files (the same cost class as the byte-target
    // sizing below).
    // CANDIDATE dirs first, from counts alone: rewritable files are a
    // subset of a dir's members, so a dir can only qualify if its raw
    // file count (or DV presence) already does. The size/stat pricing
    // below then scopes to the candidate subtrees' files — a scoped
    // small-file pass over one hot partition keeps its driver traffic
    // and its entries scan O(candidates), never O(corpus). On a
    // path-lazy state the dir census itself runs INSIDE a job
    // ([[Lake.compactionCensus]]): the driver sees qualified dirs and
    // their subtree files only, never the corpus path list.
    val (byDir, candidateSubtree, dvdCandidate) =
      Lake.compactionCensus(spark, base, maxFilesPerPartition)
    val rewritable: String => Boolean = onlyFilesSmallerThan match {
      case None => _ => true
      case Some(th) =>
        // recorded #bytes first (zero round-trips on a counted lake,
        // lazy-aware — a lazily-resolved state answers from one job over
        // the checkpoint entries); only pre-capture files pay a stat
        lazy val hfsQ = Lake.fsRoot(spark, lakeDir)
        val scoped = candidateSubtree
        val recorded = Lake.reservedPerFile(spark, base, scoped)
        val sizes = scoped.map { f =>
          f -> recorded.getOrElse(f, (None, None))._2.getOrElse {
            val (hfs, q) = hfsQ
            hfs.getFileStatus(new org.apache.hadoop.fs.Path(q, f)).getLen
          }
        }.toMap
        f => dvdCandidate(f) || sizes.getOrElse(f, Long.MaxValue) < th
    }
    val affectedDirs = byDir
      .filter { case (_, fs) =>
        val rw = fs.filter(rewritable)
        rw.size > maxFilesPerPartition || rw.exists(dvdCandidate) }
      .keys.toSeq.sorted
    if (affectedDirs.nonEmpty) {
      // the rewrite layout passes the same shared gate as init/evolve —
      // a transform spec shadowing a schema column (or an identity
      // column spelled like a transform level) must refuse here too
      Lake.validateLayout(partitionCols, lakeSchemaOf(base), "compactLake")
      val removed = Lake.filesUnder(candidateSubtree, affectedDirs).filter(rewritable)
      // reading WITH the deletion vectors applied is what MATERIALIZES
      // them: the compacted replacement files carry only surviving rows,
      // and the commit's file removals drop the attachments from the state
      val affectedLake0 = Lake.readFiles(spark, lakeDir, base.schemaJson, removed, base.dvs)
      // a transform layout groups by its DERIVED level columns (the
      // same rendering formulas stageWrite applies — deterministic)
      val (affectedLake, levelNames) = Lake.withLevelCols(affectedLake0, partitionCols)
      // the audit expectation comes from the MANIFEST when it can (every
      // affected file carries its recorded `#rows` numRecords stat and
      // none has deletion vectors — the common fragmentation case):
      // clustered/z-order compaction then plans with ZERO census jobs,
      // reading the corpus exactly once (the rewrite itself). DV-bearing
      // scopes count live rows the honest way.
      // lazy-aware ([[Lake.reservedPerFile]]): under lazy-stats
      // resolution the affected files' recorded numRecords come back
      // from one job over the checkpoint entries, so census-free
      // compaction keeps its zero-extra-scan property under the mode
      val reservedRows: Map[String, Option[Long]] =
        if (removed.exists(dvdCandidate)) Map.empty
        else Lake.reservedPerFile(spark, base, removed).view.mapValues(_._1).toMap
      val manifestExpected: Option[Long] =
        if (removed.exists(dvdCandidate)) None
        else {
          val per = removed.map(f => reservedRows.getOrElse(f, None))
          if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
        }
      // the UNSORTED bin-packing's per-partition group map ALSO derives
      // from the manifest when the affected files are counted, DV-free
      // AND already spell the target layout (single-generation
      // fragmentation, the common case): per-directory `#rows` sums
      // with the level values parsed back typed — so EVERY compaction
      // mode reads the corpus exactly once (the rewrite itself).
      // Generation folds (dir levels != target levels) and null-valued
      // levels fall back to the honest census.
      val unsorted = sortCols.isEmpty && zorderCols.isEmpty
      val manifestGroups: Option[Seq[(Seq[Any], Long)]] =
        if (!unsorted || manifestExpected.isEmpty) None
        else {
          import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          val tzOpt = Some(spark.sessionState.conf.sessionLocalTimeZone)
          val lvlTypes = affectedLake.select(levelNames.map(col): _*).schema
            .fields.map(_.dataType)
          val parsed = removed.groupBy(f => f.take(f.lastIndexOf('/').max(0)))
            .toSeq.sortBy(_._1).map { case (dir, fs) =>
              val segs = dir.split('/')
              val names = segs.map { s =>
                val eq = s.indexOf('=')
                if (eq <= 0) "" else ExternalCatalogUtils.unescapePathName(s.take(eq))
              }
              if (!names.sameElements(levelNames)) None
              else {
                val vals = segs.zip(lvlTypes).map { case (seg, dt) =>
                  val raw = ExternalCatalogUtils.unescapePathName(
                    seg.drop(seg.indexOf('=') + 1))
                  if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
                  else org.apache.spark.sql.catalyst.CatalystTypeConverters
                    .convertToScala(org.apache.spark.sql.catalyst.expressions.Cast(
                      org.apache.spark.sql.catalyst.expressions.Literal(
                        org.apache.spark.unsafe.types.UTF8String.fromString(raw),
                        org.apache.spark.sql.types.StringType), dt, tzOpt).eval(null), dt)
                }
                if (vals.contains(null)) None // null keys need the census join's shape
                else Some((vals.toSeq,
                  fs.map(f => reservedRows.getOrElse(f, None).getOrElse(0L)).sum))
              }
            }
          if (parsed.exists(_.isEmpty)) None else Some(parsed.flatten)
        }
      val needCensus = (unsorted && manifestGroups.isEmpty) || manifestExpected.isEmpty
      if (needCensus) censusReads.incrementAndGet()
      val countRows =
        if (needCensus)
          Lake.collectScalar(affectedLake.groupBy(levelNames.map(col): _*)
            .agg(count(lit(1)).as("_n")))
        else Array.empty[org.apache.spark.sql.Row]
      val expected =
        if (manifestExpected.isDefined) manifestExpected.get
        else countRows.map(_.getAs[Long]("_n")).sum
      // byte sizing: operators reason about lakes in bytes (HDFS block /
      // object-store part sizes), so a byte target converts to a row
      // target via the affected files' OBSERVED bytes/row — driver-side
      // stats on exactly the files being rewritten, no extra scan
      val target = targetBytesPerFile match {
        case Some(tb) =>
          val totalBytes = Lake.fileBytes(spark, lakeDir, removed, base)
          val bytesPerRow = math.max(1.0, totalBytes.toDouble / math.max(expected, 1L))
          math.max(1L, (tb / bytesPerRow).toLong)
        case None => targetRowsPerFile
      }
      val groupSchema = org.apache.spark.sql.types.StructType(
        affectedLake.select(levelNames.map(col): _*).schema.fields :+
          org.apache.spark.sql.types.StructField("_ng",
            org.apache.spark.sql.types.IntegerType, nullable = false))
      val groupRows = manifestGroups match {
        case Some(gs) => gs.map { case (vals, n) =>
          org.apache.spark.sql.Row.fromSeq(vals :+
            math.ceil(n.toDouble / target).toInt)
        }.toArray
        case None => countRows.map { r =>
          org.apache.spark.sql.Row.fromSeq(
            levelNames.indices.map(r.get) :+
              math.ceil(r.getAs[Long]("_n").toDouble / target).toInt)
        }
      }
      val groups = spark.createDataFrame(
        spark.sparkContext.parallelize(groupRows.toSeq, 1), groupSchema)
      val dataCols = affectedLake.columns.toSeq
      // two packing strategies, same file-size bound:
      //  - unsorted: hash file-groups per partition (ceil(n/target) each)
      //  - clustered (sortCols): RANGE partition on (partition, sortCols)
      //    with ~target-sized tasks — the range sampler balances skew, a
      //    task-local sort makes every written file a contiguous run, and
      //    parquet min/max statistics on the sort columns come out TIGHT
      //    and pairwise disjoint — the data-skipping food for pushed
      //    range predicates (e.g. px103's batch-id-range prefilter).
      //    Never a global sort.
      val packed =
        if (zorderCols.nonEmpty) {
          // Z-ORDER clustering (Delta/Iceberg `OPTIMIZE ZORDER BY`): each
          // dimension normalizes into 2^8 QUANTILE buckets from ONE
          // sampled-quantile aggregate (Delta's range-partition-id
          // normalization — equal-width buckets would collapse a
          // zipf-skewed dimension onto a handful of z-values and the
          // rectangles with it), the Morton interleave
          // ([[graft.api.Ops.zorderValue]], pure codegen'd bit
          // arithmetic over the codegen'd [[graft.plans.QuantileBucket]]
          // binary search) becomes the range-partition key, and the
          // range partitioner's own sampling balances FILE SIZES.
          // Every written file covers a small HYPER-RECTANGLE of the
          // 2-4 dimension space: min/max stats on EVERY z-column come
          // out tight, and a predicate on ANY of them prunes files a
          // 1-D sort layout must read.
          zorderCols.foreach { c =>
            require(affectedLake.schema.fieldNames.contains(c),
              s"compactLake: zorder column '$c' not in the lake schema")
            require(affectedLake.schema(c).dataType
              .isInstanceOf[org.apache.spark.sql.types.NumericType],
              s"compactLake: zorder needs numeric dimensions, '$c' is " +
                affectedLake.schema(c).dataType.simpleString)
          }
          val nTasks = math.max(1, math.ceil(expected.toDouble / target).toInt)
          // 255 interior cut points per dimension, ONE distributed
          // quantile-sketch job for all of them; boundary precision only
          // shapes balance, never correctness, so a loose relative error
          // keeps the sketch cheap
          val doubled = affectedLake.select(
            zorderCols.map(c => col(c).cast("double").as(c)): _*)
          val qs = doubled.stat.approxQuantile(zorderCols.toArray,
            (1 to 255).map(_ / 256.0).toArray, 0.005)
          val bridge = org.apache.spark.sql.graft.ColumnBridge
          val zval = graft.api.Ops.zorderValue(
            zorderCols.zip(qs).map { case (c, bounds) =>
              val bs = bounds.filter(b => !b.isNaN).distinct.sorted
              // an all-null / constant dimension contributes bucket 0
              if (bs.isEmpty) lit(0)
              else bridge.column(graft.plans.QuantileBucket(
                bridge.expression(col(c).cast("double")), bs))
            },
            bits = 8)
          affectedLake.withColumn("_zv", zval)
            .repartitionByRange(nTasks, (levelNames :+ "_zv").map(col): _*)
            .sortWithinPartitions((levelNames :+ "_zv").map(col): _*)
            .drop("_zv")
        } else if (sortCols.nonEmpty) {
          val nTasks = math.max(1, math.ceil(expected.toDouble / target).toInt)
          affectedLake
            .repartitionByRange(nTasks, (levelNames ++ sortCols).map(col): _*)
            .sortWithinPartitions((levelNames ++ sortCols).map(col): _*)
        } else affectedLake
          .join(broadcast(groups), levelNames)
          .withColumn("_gid", pmod(hash(dataCols.map(col): _*), col("_ng")))
          .repartition((levelNames :+ "_gid").map(col): _*)
          .select(dataCols.map(col): _*)
      val staged = Lake.stageWrite(spark, lakeDir, packed, partitionCols,
        Map("maxRecordsPerFile" -> target.toString))
      // the audit read-back also captures per-file min/max of the sort
      // (or z-order — the per-file bounding RECTANGLES) columns:
      // clustered compaction's disjoint ranges become manifest stats,
      // the data-skipping food for append file-list pruning
      val (stagedRows, stagedStats) = Lake.auditStaged(spark, lakeDir,
        base.schemaJson, staged, sortCols ++ zorderCols)
      Lake.publish(spark,
        Lake.StagedCommit(lakeDir, base, "compact", base.schemaJson, removed, staged,
          stagedRows, expected, stagedStats, rewriteFiles = staged.toSet),
        vacuumSuperseded = !retainHistory)
    }
    Lake.read(spark, lakeDir)
  }

  /** Change the lake's PARTITION LAYOUT in ONE protocol commit — the
    * operation every "partition columns are baked into paths" refusal
    * (renameColumn, widenColumn, the catalog's partitioned CREATE)
    * points at. This is deliberately a FULL REWRITE, priced honestly:
    * unlike a rename/widen there is no metadata trick that relayouts
    * 100 TB of directories, so the engine offers the rewrite as one
    * audited, atomic, restorable commit instead of pretending otherwise.
    * Mechanics are clustered compaction's, applied lake-wide: read every
    * live file with deletion vectors applied (tombstones materialize
    * away), range-repartition on (new partition cols ++ sortCols) into
    * ~target-sized tasks, stage under the NEW layout, audit the
    * read-back count, publish one `repartition` delta that removes every
    * old-layout file and adds the new ones as REWRITES — so the change
    * feed and adds-CDC emit nothing (no row changed), incremental
    * consumers never re-process the corpus, and `retainHistory` (default
    * TRUE for an operation this large) keeps the old layout readable by
    * time travel / restore until a retention vacuum spends it. A running
    * CDC stream refuses loudly at the first new-layout file (the
    * partition decode names the layout change). Raced commits refuse
    * like every whole-partition rewrite — the repartition read every
    * partition, so nothing commutes with it. */
  def repartitionLake(spark: SparkSession, lakeDir: String,
      newPartitionCols: Seq[String],
      targetRowsPerFile: Long = 4000000L,
      sortCols: Seq[String] = Seq.empty,
      retainHistory: Boolean = true): DataFrame = {
    require(targetRowsPerFile >= 1, s"targetRowsPerFile must be >= 1")
    val base = Lake.adopt(spark, lakeDir)
    if (base.files.isEmpty)
      throw new IllegalArgumentException(
        s"repartitionLake: $lakeDir has no live files — an empty lake has no " +
          "layout to change (its next first write decides one)")
    val schema = org.apache.spark.sql.types.DataType.fromJson(base.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val visibleSchema = Lake.visible(schema)
    val visible = visibleSchema.fieldNames.toSet
    // newPartitionCols entries are layout SPECS (identity/transforms);
    // the shared gate validates sources, shadowing, spelling and types
    val layoutFields = Lake.validateLayout(newPartitionCols, visibleSchema,
      "repartitionLake")
    val missingSort = sortCols.filterNot(visible)
    require(missingSort.isEmpty,
      s"repartitionLake: sort column(s) ${missingSort.mkString(", ")} not in the lake " +
        s"schema (${visible.mkString(", ")})")
    val df0 = Lake.readFiles(spark, lakeDir, base.schemaJson, base.files, base.dvs)
    val (df, levelNames) = Lake.withLevelCols(df0, newPartitionCols)
    val expected = df.count()
    val nTasks = math.max(1, math.ceil(expected.toDouble / targetRowsPerFile).toInt)
    val keys = (levelNames ++ sortCols).distinct
    val packed =
      if (keys.nonEmpty)
        df.repartitionByRange(nTasks, keys.map(col): _*)
          .sortWithinPartitions(keys.map(col): _*)
      else df.repartition(nTasks)
    val staged = Lake.stageWrite(spark, lakeDir, packed, newPartitionCols,
      Map("maxRecordsPerFile" -> targetRowsPerFile.toString))
    val (stagedRows, stagedStats) = Lake.auditStaged(spark, lakeDir,
      base.schemaJson, staged, sortCols)
    Lake.publish(spark,
      Lake.StagedCommit(lakeDir, base, "repartition", base.schemaJson,
        base.files, staged, stagedRows, expected, stagedStats,
        rewriteFiles = staged.toSet,
        // the rewrite DEFINES the layout: record it explicitly (in the
        // NORMALIZED spelling, so evolveLayout's no-op detection and
        // $detail agree with init/evolve records) so a stale
        // evolveLayout record can never outlive the relayout
        layout = Some(layoutFields.map(_.spec))),
      vacuumSuperseded = !retainHistory)
    Lake.read(spark, lakeDir)
  }

  /** Fragment a fresh lake on purpose (8-way pre-write repartition ⇒ up
    * to 8 files per shard dir), compact it, and emit the manifest from
    * the read-back — which must equal the manifest of the original data. */
  private def px102(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px102_lake")
    hashSplit(Tables(spark, dir, "documents"), "doc_id")
      .withColumn("shard_id", (col("doc_id") % 4).cast("int"))
      .repartition(8)
      .write.mode("overwrite").partitionBy("split", "shard_id").parquet(out)
    compactLake(spark, out)
      .groupBy("split", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("split"), col("shard_id").cast("int").as("shard_id"),
        col("n_docs"), col("sum_chars"))
      .orderBy("split", "shard_id")
  }

  // ---------------------------------------------------------------- px103
  /** Idempotent incremental ingest — the nightly append every production
    * corpus runs, completing the lake lifecycle (px100 write → px103
    * append → px101 delete → px102 compact). A new batch lands as:
    *
    *   1. the batch self-dedups on the id (at-least-once upstreams
    *      duplicate WITHIN a batch, not just across replays);
    *   2. a broadcast bloom over the batch ids (the q79 device) pre-filters
    *      the lake's id-column scan — a lake id provably absent from the
    *      batch cannot affect the anti-join, so the lake side of the dedup
    *      shrinks from every-id-ever to roughly the overlap, and append
    *      cost tracks the BATCH, not the lake (false positives merely pass
    *      through to the exact anti-join);
    *   3. the anti-join keeps only genuinely fresh docs, which are
    *      APPENDED as new files — the pre-image is never opened (the spec
    *      pins byte-identical pre-existing files) and the manifest read
    *      pins the anti-join to a fixed file list, so there is no
    *      read-your-own-write hazard to checkpoint against;
    *   4. one atomic [[Lake]] manifest commit makes the batch visible —
    *      replaying a crashed append re-stages invisibly and re-commits,
    *      so ingest is exactly-once end to end. A first-ever ingest into
    *      a missing/empty lake commits the batch as version 1.
    *
    * Schema drift between batch and lake REFUSES by default (silent
    * column loss is how long-lived corpora rot); with `mergeSchema =
    * true`, batch-only columns extend the manifest schema (nullable — old
    * files read them as null) and lake-only columns land as null in the
    * new files. A column whose TYPE changed refuses either way: that is
    * a migration, not an evolution. The manifest carries the schema, so
    * evolution is one commit and readers never re-sweep file footers.
    *
    * Fragmentation added by many appends is px102's job to undo. */
  def appendToLake(spark: SparkSession, lakeDir: String, batch: DataFrame,
      idCol: String = "doc_id",
      partitionCols: Seq[String] = Seq("split", "shard_id"),
      mergeSchema: Boolean = false,
      statsCols: Seq[String] = Seq.empty,
      txn: Option[(String, Long)] = None): DataFrame = {
    val base = Lake.adopt(spark, lakeDir)
    // transaction fast path (see [[Lake.LakeState.txns]]): a replayed
    // micro-batch skips on the watermark alone — the id anti-join below
    // would also stage zero rows, but only after re-reading the lake's
    // id column; tagged replays never touch data
    if (txn.exists { case (a, v) => base.txns.get(a).exists(_ >= v) })
      return Lake.read(spark, lakeDir)
    // the COMMITTED layout is authoritative for an existing lake (the
    // streaming sink's rule, now here too): after evolveLayout or
    // repartitionLake the caller's partitionCols default would stage
    // a stale layout and refuse at publish — route by the manifest
    // instead; the parameter governs only the FIRST-EVER ingest (no
    // layout committed yet)
    // entries are layout SPECS (identity names and/or transforms); a
    // first-ever ingest's caller-chosen layout passes the same shared
    // gate init/evolveLayout apply (shadowing, spelling, source types)
    val effectiveCols =
      if (base.files.nonEmpty || base.layout.isDefined) Lake.layoutSpecsOf(base)
      else {
        Lake.validateLayout(partitionCols, batch.schema, "appendToLake")
        partitionCols
      }
    val b0 = batch
    // drift checks key on the RECORDED schema, not the file count: a lake
    // whose latest manifest lists zero files (every row deleted) still has
    // a schema contract, and bypassing the checks there would let a
    // type-changed batch silently re-bootstrap it
    val fullSchema = org.apache.spark.sql.types.DataType.fromJson(base.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    // drift checks and alignment run against the VISIBLE schema; the
    // committed schema keeps dropped-column tombstones (their names stay
    // reserved)
    val lakeSchema = Lake.visible(fullSchema)
    // resolve batch-vs-lake schema drift BEFORE any dedup work
    val (bAligned, commitSchemaJson) =
      if (lakeSchema.isEmpty) (b0, null: String)
      else {
        val lakeTypes = lakeSchema.map(f => f.name -> f.dataType).toMap
        val bTypes = b0.schema.map(f => f.name -> f.dataType).toMap
        val conflicts = lakeTypes.keySet.intersect(bTypes.keySet)
          .filter(c => lakeTypes(c) != bTypes(c))
        if (conflicts.nonEmpty)
          throw new IllegalArgumentException(
            s"appendToLake: column type change for ${conflicts.mkString(", ")} — " +
              "a type migration needs a rewrite, not an append")
        if (lakeTypes == bTypes) (b0, base.schemaJson)
        else if (!mergeSchema)
          throw new IllegalArgumentException(
            "appendToLake: batch schema drifts from the lake " +
              s"(batch-only: ${(bTypes.keySet -- lakeTypes.keySet).mkString(", ")}; " +
              s"lake-only: ${(lakeTypes.keySet -- bTypes.keySet).mkString(", ")}) — " +
              "pass mergeSchema = true to evolve")
        else {
          val missingParts = effectiveCols.map(Lake.parseLayoutField(_).source)
            .filterNot(bTypes.contains)
          require(missingParts.isEmpty,
            s"appendToLake: batch lacks partition column(s) ${missingParts.mkString(", ")}")
          val newFields = b0.schema.fields.filterNot(f => lakeTypes.contains(f.name))
            .map(_.copy(nullable = true))
          // a DROPPED column's name is reserved: old files still hold
          // values under it, and re-binding the name would resurrect
          // them into the new column — refuse, loudly
          val resurrected = newFields.map(_.name)
            .filter(n => fullSchema.fieldNames.contains(n))
          if (resurrected.nonEmpty)
            throw new IllegalArgumentException(
              s"appendToLake: column(s) ${resurrected.mkString(", ")} were DROPPED " +
                "from this lake — re-adding the name would resurrect the old files' " +
                "values; use a different name (rename after adding if needed)")
          val aligned = b0.select((lakeSchema.fields ++ newFields).toSeq.map(f =>
            if (bTypes.contains(f.name)) col(f.name)
            else lit(null).cast(f.dataType).as(f.name)): _*)
          // committed schema = full manifest schema (tombstones kept) + new fields
          (aligned, org.apache.spark.sql.types.StructType(fullSchema.fields ++ newFields).json)
        }
      }
    val b = bAligned.dropDuplicates(idCol)
    // OPTIMISTIC STAGING — the batch's upstream pipeline is evaluated
    // exactly ONCE, by the staged write itself. Everything the dedup
    // prefilter needs from the batch (audit count, CHECK sums, id
    // min/max, extra clustering-column bounds) rides that write as
    // observed metrics, so the overlap DECISION costs zero batch passes:
    //   - no overlap (stats pruning over the manifest returns zero
    //     candidate files — the common regime for monotone id
    //     assignment: time-ordered ingest, streaming micro-batches):
    //     the staged files publish as-is. One batch pass total, where
    //     the pre-scan shape paid a stats pass PLUS the write.
    //   - overlap: the staged COLUMNAR bytes (already deduped, already
    //     layout-partitioned) are re-read, anti-joined against the
    //     pruned+bloomed lake ids, re-staged, and the first staging is
    //     deleted (it was never visible). The upstream batch is still
    //     evaluated once — the pre-scan shape re-ran it for the stats
    //     pass AND the bloom build AND the anti-join write, three
    //     evaluations of an arbitrarily expensive pipeline.
    // A crash between the first staging and publish leaves invisible
    // orphans until vacuum — the same accepted window as a CHECK-refused
    // batch (the audit has always ridden the write, staging before
    // refusing).
    val extraCols = statsCols.filterNot(_ == idCol).filter(b.columns.contains)
    val boundMetrics = Seq(min(col(idCol)).as("_gf_mn"), max(col(idCol)).as("_gf_mx")) ++
      extraCols.flatMap(c => Seq(min(col(c)).as(s"_gf_mn_$c"), max(col(c)).as(s"_gf_mx_$c")))
    val (instrumented, audit, extras) = Lake.observedAuditMetrics(base.checks, b, boundMetrics)
    spark.sparkContext.setJobDescription("gf-append-write")
    val staged = try Lake.stageWrite(spark, lakeDir, instrumented, effectiveCols)
      finally spark.sparkContext.setJobDescription(null)
    val stagedCount =
      try audit()
      catch { case e: Throwable => Lake.deleteFiles(spark, lakeDir, staged); throw e }
    if (stagedCount == 0) {
      Lake.deleteFiles(spark, lakeDir, staged)
      return Lake.read(spark, lakeDir)
    }
    // layer 0 of the prefilter: prune the manifest FILE LIST by the
    // batch's observed [min, max] ranges against the per-file stats the
    // deltas recorded at audit time — files that provably can't contain
    // a batch id are never opened, not even their footers (layers 1-2,
    // the pushed range predicate and the bloom probe, then run inside
    // the surviving files). `statsCols` adds extra clustering columns
    // to the conjunction: a (domain, doc_id)-clustered lake
    // compound-prunes tighter than either column alone. All bounds are
    // METADATA here — observed on the staged write, never a batch scan.
    val obsRow = extras()
    val candidateFiles =
      if (base.files.isEmpty || obsRow("_gf_mn") == null) Seq.empty[String]
      else {
        val bounds = Lake.ColBound(idCol, b.schema(idCol).dataType,
          obsRow("_gf_mn"), obsRow("_gf_mx")) +:
          extraCols.flatMap { c =>
            val (mn, mx) = (obsRow(s"_gf_mn_$c"), obsRow(s"_gf_mx_$c"))
            if (mn == null || mx == null) None
            else Some(Lake.ColBound(c, b.schema(c).dataType, mn, mx))
          }
        Lake.pruneByStats(base, bounds)
      }
    // layer-0 short-circuit: zero surviving files proves zero lake-side
    // ids in the batch's range — the staged files ARE the fresh rows and
    // publish as-is. Every non-overlapping micro-batch commits with ONE
    // pass over the batch (the write), nothing else.
    val (publishFiles, expected) =
      if (candidateFiles.isEmpty) (staged, stagedCount)
      else {
        // overlap: rewrite the STAGED bytes minus the already-present
        // ids. Both prefilter layers (the pushed range predicate and the
        // bloom probe) run against the staged columnar read — the bloom
        // sizes on the exact deduped count now, not a raw upper bound.
        val stagedSchemaJson = Option(commitSchemaJson).getOrElse(base.schemaJson)
        val stagedDf = Lake.readFiles(spark, lakeDir, stagedSchemaJson, staged)
        val lakeIds = Lake.readFiles(spark, lakeDir, base.schemaJson, candidateFiles, base.dvs)
          .select(idCol)
        val statsRow: org.apache.spark.sql.Row = org.apache.spark.sql.Row(
          stagedCount, obsRow("_gf_mn"), obsRow("_gf_mx"))
        val fresh = stagedDf.join(
          bloomProbedIds(spark, stagedDf, lakeIds, idCol, Some(statsRow)),
          Seq(idCol), "left_anti")
        // checks were already enforced on the first staging; this pass
        // only needs the surviving-row count
        val (inst2, audit2) = Lake.observedAudit(Map.empty, fresh)
        spark.sparkContext.setJobDescription("gf-append-rewrite")
        val staged2 = try Lake.stageWrite(spark, lakeDir, inst2, effectiveCols)
          finally spark.sparkContext.setJobDescription(null)
        val expected2 =
          try audit2()
          catch { case e: Throwable =>
            Lake.deleteFiles(spark, lakeDir, staged2 ++ staged); throw e }
        Lake.deleteFiles(spark, lakeDir, staged)
        (staged2, expected2)
      }
    if (expected == 0) {
      Lake.deleteFiles(spark, lakeDir, publishFiles)
    } else {
      // audit read-back captures per-file id (+ clustering) stats for
      // future compound pruning
      spark.sparkContext.setJobDescription("gf-append-footer")
      val (stagedRows, stagedStats) = try Lake.auditStaged(spark, lakeDir,
        Option(commitSchemaJson).getOrElse(base.schemaJson), publishFiles,
        (idCol +: statsCols).distinct)
        finally spark.sparkContext.setJobDescription(null)
      val schemaJson =
        if (commitSchemaJson == null)
          Lake.readFiles(spark, lakeDir, base.schemaJson, publishFiles).schema.json
        else commitSchemaJson
      Lake.publish(spark, Lake.StagedCommit(lakeDir, base, "append", schemaJson,
        Seq.empty, publishFiles, stagedRows, expected, stagedStats, txn = txn))
    }
    Lake.read(spark, lakeDir)
  }

  /** The q79 device as [[appendToLake]]'s prefilter, two layers deep —
    * both exactness-preserving (an id provably absent from the batch can
    * never affect the batch-vs-lake anti-join):
    *
    *   1. the batch's [min, max] id range as a PLAIN predicate on the
    *      lake's id column — this one pushes into the parquet scan
    *      (row-group/page statistics skipping), so for time-ordered id
    *      assignment (the common ingest regime) the lake-side SCAN itself
    *      shrinks to ~the recent files, not just the join input;
    *   2. a broadcast bloom over the batch ids probing the survivors —
    *      cuts scattered in-range non-members; its false positives (3%)
    *      merely pass through to the exact anti-join.
    *
    * One pass over the (small) batch computes count, min, and max for
    * both layers. Exposed so the spec can pin the row reduction and the
    * pushed range predicate. */
  private[graft] def bloomProbedIds(spark: SparkSession, batch: DataFrame,
      lakeIds: DataFrame, idCol: String,
      preStats: Option[org.apache.spark.sql.Row] = None): DataFrame = {
    val stats = preStats.getOrElse(batch.agg(count(col(idCol)).as("_n"),
      min(col(idCol)).as("_mn"), max(col(idCol)).as("_mx")).collect()(0))
    val n = math.max(stats.getLong(0), 1L)
    if (stats.isNullAt(1)) return lakeIds.filter(lit(false)) // all-null batch ids
    val ranged = lakeIds.filter(
      col(idCol) >= lit(stats.get(1)) && col(idCol) <= lit(stats.get(2)))
    val bf = batch.stat.bloomFilter(idCol, n, 0.03)
    val bfB = spark.sparkContext.broadcast(bf)
    // native codegen'd probe (graft.plans.BloomMightContainF) — a Scala
    // UDF here would break whole-stage codegen on the id scan
    import org.apache.spark.sql.graft.{ColumnBridge => CB}
    val probeCol = batch.schema(idCol).dataType match {
      case org.apache.spark.sql.types.StringType => col(idCol)
      case _ => col(idCol).cast("long")
    }
    ranged.filter(CB.column(
      graft.plans.BloomMightContainF(CB.expression(probeCol), bfB)))
  }

  /** Seed the lake with two-thirds of the corpus, append the FULL corpus
    * as the incoming batch (so two-thirds are replayed duplicates and
    * one-third is genuinely new), and emit the post-append manifest —
    * which must equal the full corpus manifest (px100's oracle): dups
    * skipped, news landed, nothing double-ingested. */
  private def px103(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px103_lake")
    val sharded = hashSplit(Tables(spark, dir, "documents"), "doc_id")
      .withColumn("shard_id", (col("doc_id") % 4).cast("int"))
    sharded.filter(col("doc_id") % 3 =!= 0)
      .write.mode("overwrite").partitionBy("split", "shard_id").parquet(out)
    appendToLake(spark, out, sharded)
      .groupBy("split", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("split"), col("shard_id").cast("int").as("shard_id"),
        col("n_docs"), col("sum_chars"))
      .orderBy("split", "shard_id")
  }

  // ---------------------------------------------------------------- px104
  /** Table profiling — the ANALYZE / data-quality pass a pipeline runs on
    * every new corpus drop before trusting it: per-column row count, null
    * count, exact distinct count, and min/max. ONE scan computes every
    * column's aggregates side by side (Spark rewrites the multi-distinct
    * agg via expand — n_cols× the rows through one exchange, not n_cols
    * scans), then the wide row unpivots to the one-row-per-column report
    * a monitor diffs against yesterday. min/max are emitted as strings so
    * the report schema is column-type-independent; exact (not approx)
    * distinct keeps the report deterministic and oracle-checkable —
    * profile cost is a deliberate batch job, not a serving path. */
  def profileTable(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profileTable needs at least one column")
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
      Seq(count(col(c)).as(s"_nn_$c"), countDistinct(col(c)).as(s"_nd_$c"),
        min(col(c)).cast("string").as(s"_mn_$c"), max(col(c)).cast("string").as(s"_mx_$c"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val perCol = cols.map { c =>
      struct(lit(c).as("column"), col("n_rows"),
        (col("n_rows") - col(s"_nn_$c")).as("n_null"), col(s"_nd_$c").as("n_distinct"),
        col(s"_mn_$c").as("min_s"), col(s"_mx_$c").as("max_s"))
    }
    wide.select(explode(array(perCol: _*)).as("p")).select("p.*")
  }

  /** The nightly-monitor variant of [[profileTable]]: identical report
    * shape, but distinct counts come from HLL++ (`approx_count_distinct`,
    * Heule et al., EDBT 2013) instead of the exact expand-based
    * multi-distinct. The exact form pushes n_cols× the rows through one
    * exchange — the right cost for an oracle-checkable audit; the approx
    * form pushes each row ONCE through a constant-size sketch per column,
    * which is the only shape a 100 TB nightly profile can afford. `rsd`
    * is HLL++'s relative standard deviation dial (default 5%); the spec
    * pins approx-vs-exact agreement on the test corpus. */
  def approxProfile(df: DataFrame, cols: Seq[String], rsd: Double = 0.05): DataFrame = {
    require(cols.nonEmpty, "approxProfile needs at least one column")
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
      Seq(count(col(c)).as(s"_nn_$c"),
        approx_count_distinct(col(c), rsd).as(s"_nd_$c"),
        min(col(c)).cast("string").as(s"_mn_$c"), max(col(c)).cast("string").as(s"_mx_$c"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val perCol = cols.map { c =>
      struct(lit(c).as("column"), col("n_rows"),
        (col("n_rows") - col(s"_nn_$c")).as("n_null"), col(s"_nd_$c").as("n_distinct"),
        col(s"_mn_$c").as("min_s"), col(s"_mx_$c").as("max_s"))
    }
    wide.select(explode(array(perCol: _*)).as("p")).select("p.*")
  }

  // ---------------------------------------------------------------- px106
  /** Lake time travel — the audit/reproducibility read the manifest log
    * makes free: "give me the corpus exactly as version v committed it"
    * is one checkpoint load plus a bounded (<= [[Lake.CheckpointInterval]])
    * delta replay, no snapshot copy. The query seeds a lake at version 1
    * ([[Lake.init]] on two-thirds of the corpus), appends the full corpus
    * (version 2 — the at-least-once replay shape of px103), then reads
    * VERSION 1 back: the pre-append seed, byte-for-byte, even though the
    * current lake has moved on. Appends supersede nothing, so history
    * stays readable with zero retention cost; mutations that do supersede
    * files trade storage for history via `publish(vacuumSuperseded =
    * false)` (LakeSpec pins both that trade and the loud failure once a
    * version is vacuumed away). */
  private def px106(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px106_lake")
    val sharded = hashSplit(Tables(spark, dir, "documents"), "doc_id")
      .withColumn("shard_id", (col("doc_id") % 4).cast("int"))
    Lake.init(spark, sharded.filter(col("doc_id") % 3 =!= 0), out, Seq("split", "shard_id"))
    appendToLake(spark, out, sharded)
    Lake.readVersion(spark, out, 1L)
      .groupBy("split", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("split"), col("shard_id").cast("int").as("shard_id"),
        col("n_docs"), col("sum_chars"))
      .orderBy("split", "shard_id")
  }

  private val px106Oracle =
    """SELECT CASE
      |    WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
      |    WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
      |    ELSE 'test' END AS split,
      |  CAST(doc_id % 4 AS INTEGER) AS shard_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE doc_id % 3 <> 0
      |GROUP BY 1, 2 ORDER BY split, shard_id""".stripMargin

  // ---------------------------------------------------------------- px107
  /** Incremental consumption — the "what must I retrain on since the last
    * snapshot" read every downstream of a training lake runs nightly.
    * [[Lake.changesBetween]] replays the in-range delta records
    * driver-side and reads ONLY the files that DATA-ADDING commits
    * contributed, so the consumer pays for the delta, not the corpus:
    * here version 1 is the seed (two-thirds of the docs), version 2 the
    * full-corpus append, and the incremental read must surface exactly
    * the appended third — recomputed relationally by the oracle. The
    * action kinds in the log make this exact across maintenance too:
    * rewrite-only commits (compaction) contribute nothing, so consumers
    * never double-process a recompacted corpus (LakeSpec pins that). */
  private def px107(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px107_lake")
    val sharded = hashSplit(Tables(spark, dir, "documents"), "doc_id")
      .withColumn("shard_id", (col("doc_id") % 4).cast("int"))
    Lake.init(spark, sharded.filter(col("doc_id") % 3 =!= 0), out, Seq("split", "shard_id"))
    appendToLake(spark, out, sharded)
    Lake.changesBetween(spark, out, 1L, 2L)
      .groupBy("split", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("split"), col("shard_id").cast("int").as("shard_id"),
        col("n_docs"), col("sum_chars"))
      .orderBy("split", "shard_id")
  }

  private val px107Oracle =
    """SELECT CASE
      |    WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
      |    WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
      |    ELSE 'test' END AS split,
      |  CAST(doc_id % 4 AS INTEGER) AS shard_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE doc_id % 3 = 0
      |GROUP BY 1, 2 ORDER BY split, shard_id""".stripMargin

  // ---------------------------------------------------------------- px108
  /** Stats-pruned ingest into a clustered lake — the three prefilter
    * layers composed end to end: the seed is clustered-compacted on the
    * id ([[compactLake]] with `sortCols`), whose audit read-back records
    * per-file doc_id min/max into the delta log; the follow-up
    * [[appendToLake]] then (0) prunes the candidate FILE LIST by the
    * batch id range against those stats, (1) pushes the range predicate
    * into the surviving files' scans, and (2) bloom-probes the survivors
    * — and must still land exactly the genuinely-new docs. The oracle is
    * px100's full-corpus manifest: pruning is exactness-preserving or
    * this hash breaks. */
  private def px108(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px108_lake")
    val sharded = hashSplit(Tables(spark, dir, "documents"), "doc_id")
      .withColumn("shard_id", (col("doc_id") % 4).cast("int"))
    sharded.filter(col("doc_id") % 3 =!= 0).repartition(6)
      .write.mode("overwrite").partitionBy("split", "shard_id").parquet(out)
    compactLake(spark, out, maxFilesPerPartition = 1,
      targetRowsPerFile = 2000L, sortCols = Seq("doc_id"))
    appendToLake(spark, out, sharded)
      .groupBy("split", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("split"), col("shard_id").cast("int").as("shard_id"),
        col("n_docs"), col("sum_chars"))
      .orderBy("split", "shard_id")
  }

  // ---------------------------------------------------------------- px109
  /** Exact incremental consumption ACROSS maintenance — the action-kind
    * payoff of the delta log. History: seed (v1) → append the even third
    * (v2) → compaction with history retained (v3, rewrite-only) → append
    * the rest of the third (v4). [[Lake.changesBetween]](1, 4) must
    * surface exactly the two appends' docs: the compaction contributes
    * NOTHING (under the old full-listing diff it re-surfaced the whole
    * recompacted corpus as "added", so a nightly consumer double-
    * processed everything after every maintenance pass). The oracle
    * recomputes the appended third relationally. */
  private def px109(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px109_lake")
    val sharded = hashSplit(Tables(spark, dir, "documents"), "doc_id")
      .withColumn("shard_id", (col("doc_id") % 4).cast("int"))
    Lake.init(spark, sharded.filter(col("doc_id") % 3 =!= 0).repartition(6), out,
      Seq("split", "shard_id"))                                            // v1
    appendToLake(spark, out, sharded.filter(col("doc_id") % 6 === 0))      // v2
    compactLake(spark, out, maxFilesPerPartition = 1,
      targetRowsPerFile = 4000000L, retainHistory = true)                  // v3
    appendToLake(spark, out, sharded)                                      // v4
    Lake.changesBetween(spark, out, 1L, 4L)
      .groupBy("split", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("split"), col("shard_id").cast("int").as("shard_id"),
        col("n_docs"), col("sum_chars"))
      .orderBy("split", "shard_id")
  }

  // ---------------------------------------------------------------- px111
  /** Ceiling on the estimated bytes of a merge's update-id set before
    * the semi/anti joins fall back from broadcast to shuffle. 256 MB of
    * build-side ids is comfortably inside a production executor heap
    * (Spark's own broadcast guidance tops out well above this) while a
    * corpus-wide re-scoring merge — wide ids × many rows — lands in the
    * shuffled path long before it could OOM an executor. */
  private[graft] val MergeBroadcastMaxBytes: Long = 256L << 20

  /** Estimated in-memory bytes of the id set [[mergeIntoLake]] would
    * broadcast: rows × (encoded id width + per-row join-build overhead).
    * Fixed-width types price at their Catalyst default size; strings and
    * binaries measure their AVERAGE encoded width with one bounded
    * aggregate over the already-checkpointed batch — the point is to
    * distinguish 6M longs (~150 MB, broadcastable) from 1M kilobyte
    * string keys (~1 GB, not), not byte-exactness. */
  private[graft] def estimatedIdSetBytes(upd: DataFrame, idCol: String,
      updCount: Long): Long = {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val overhead = 16L // UnsafeRow header + hash-relation slot, roughly
    val perRow = upd.schema(idCol).dataType match {
      case StringType | BinaryType =>
        val r = Lake.collectScalar(
          upd.agg(avg(octet_length(col(idCol).cast("binary")))))(0)
        (if (r.isNullAt(0)) 8.0 else r.getDouble(0)).toLong + overhead
      case dt => dt.defaultSize.toLong + overhead
    }
    updCount * perRow
  }

  /** Row-level MERGE (upsert) — the correction pass every living corpus
    * needs: re-scored quality columns, re-extracted text for a crawl
    * subset, late-arriving replacements, plus genuinely new docs, all in
    * ONE atomic commit. Matched ids (lake ∩ updates) are REPLACED by
    * their update rows; unmatched update rows INSERT. Same surgical
    * discipline as the delete, plus the per-file add-kind that keeps
    * incremental consumers exact:
    *
    *   1. affected partitions = those holding a matched id
    *      ([[affectedFiles]]);
    *   2. STAGE A: survivors of the affected partitions (anti-join on
    *      the update ids) are rewritten — these files are tagged `AR`
    *      (pre-image rewrites) in the delta;
    *   3. STAGE B: the update rows themselves land through
    *      [[stageAdds]] in whatever partitions their partition columns
    *      name — an update may MOVE a doc across partitions (the old
    *      copy dies with its rewritten partition, the new one lands
    *      where it now belongs);
    *   4. AUDIT both stages (survivors + upserts vs the pre-computed
    *      expectation), PUBLISH one delta that removes the affected
    *      pre-image and adds both file sets.
    *
    * [[Lake.changesBetween]] over a range spanning the merge surfaces
    * exactly the UPSERTED rows (stage B) — never the rewritten
    * survivors — which is precisely "what must I re-embed/re-train on".
    * The batch is prepared by [[upsertBatch]], which refuses updates
    * that do not carry the lake's exact schema; an upsert into an
    * empty/missing lake is a plain first ingest. Raced merges
    * follow [[Lake.publish]]'s OCC rules: a pure-insert merge rebases
    * freely, a rewriting merge refuses on genuine overlap. */
  def mergeIntoLake(spark: SparkSession, lakeDir: String, updates: DataFrame,
      idCol: String = "doc_id",
      partitionCols: Seq[String] = Seq("split", "shard_id"),
      retainHistory: Boolean = false): DataFrame = {
    val base = Lake.adopt(spark, lakeDir)
    if (base.files.isEmpty) // first-ever ingest: merge degenerates to append
      return appendToLake(spark, lakeDir, updates, idCol, partitionCols)
    dml(spark, lakeDir, base, vacuumSuperseded = !retainHistory) { ledger =>
      upsertBatch("mergeIntoLake", base, updates, idCol).map { batch =>
        val on = col(idCol) === col("_mid")
        val removed = affectedFiles(base, Lake.readState(spark, lakeDir, base), batch.ids,
          on, partitionCols)
        // stage A: survivors of the affected partitions (pre-image
        // rewrites); the REPLACED rows are written as a change-feed
        // sidecar — the feed's update_preimage half of the upsert (Delta
        // CDF parity; its update_postimage half is stage B's matched
        // files, and unmatched source rows feed as inserts)
        val rewritten =
          if (removed.isEmpty) None
          else {
            val affectedLake = Lake.readFiles(spark, lakeDir, base.schemaJson, removed, base.dvs)
            val (instSurv, survAudit) = Lake.observedAudit(Map.empty,
              affectedLake.join(batch.ids, on, "left_anti"))
            Some(rewrite(ledger, "merge", removed, instSurv, survAudit,
              affectedLake.join(batch.ids, on, "left_semi"), partitionCols, idCol,
              "update_preimage"))
          }
        val adds = stageAdds(ledger, upsertAdds(batch, idCol, rewritten.map(sc =>
          preImage(ledger, sc.cdcFiles.head._1, withLineage = false))), "ins",
          Map.empty, partitionCols, Seq(idCol))
        val sc = rewritten.getOrElse(
          Lake.StagedCommit(lakeDir, base, "merge", base.schemaJson, Nil, Nil, 0L, 0L))
        sc.copy(stagedFiles = sc.stagedFiles ++ adds.post ++ adds.ins,
          stagedRows = sc.stagedRows + adds.rows, expectedRows = sc.expectedRows + batch.count,
          stagedStats = sc.stagedStats ++ adds.stats, postImageFiles = adds.post.toSet)
      }
    }
  }

  /** SPARSE (merge-on-read) deletion: commits per-row TOMBSTONES —
    * deletion-vector sidecars of `(file, pos)` coordinates — instead of
    * rewriting every survivor of every affected partition. The
    * write-amplification contrast with [[deleteFromLake]] is the whole
    * point at 100 TB: a right-to-be-forgotten pass touching 0.1% of rows
    * spread across every partition writes O(deleted rows) sidecar bytes
    * here, versus a rewrite of essentially the whole lake there. Reads
    * apply the vectors inside the scan, per file, on the scan's own row
    * lineage ([[Lake.readFiles]]); [[compactLake]] materializes them back
    * into plain files and drops the attachments.
    *
    * Same commit discipline as every mutation ([[sparseDelete]]: the
    * [[tombstone]] step, then one publish whose delta carries `D`
    * attachment lines; OCC rebase with refusal when an interposed commit
    * removed a tombstoned file or appended into a tombstoned partition).
    * Candidate files prune by the manifest's id stats and blooms
    * ([[keyCandidates]]) before a single row is read. Already-deleted
    * rows can never re-tombstone (lineage reads apply existing vectors
    * first), so the operation is idempotent. */
  def deleteFromLakeSparse(spark: SparkSession, lakeDir: String, tombstones: DataFrame,
      tombIdCol: String, lakeIdCol: String = "doc_id"): DataFrame = {
    val t = broadcast(tombstones.select(col(tombIdCol).as("_del")).distinct())
    sparseDelete(spark, lakeDir)(base =>
      keyCandidates(spark, lakeDir, base, lakeIdCol, tombstones.schema(tombIdCol).dataType,
        t.select(col("_del")), keyBounds(tombstones, col(tombIdCol))))(
      _.join(t, col(lakeIdCol) === col("_del"), "left_semi"))
  }

  /** [[deleteFromLakeSparse]] for an arbitrary PREDICATE instead of a
    * tombstone id set — "purge every row WHERE lang = 'xx'", the policy
    * half of right-to-be-forgotten. Scans the lake once (column-pruned
    * to what the predicate reads plus row lineage), tombstones every
    * matching row by deletion vector, writes the purged pre-image to the
    * change-feed sidecar, commits once. The predicate's stats-prunable
    * conjuncts prune the candidate file list first
    * ([[sparseWhereCandidates]]), so a range purge on a clustered lake
    * scans only the overlapping files; predicates with no extractable
    * bounds scan everything (exactness-preserving, like all stats
    * pruning here). */
  def deleteFromLakeSparseWhere(spark: SparkSession, lakeDir: String,
      predicate: org.apache.spark.sql.Column): DataFrame =
    sparseDelete(spark, lakeDir)(sparseWhereCandidates(spark, lakeDir, _, predicate))(
      _.filter(predicate))

  /** The one sparse delete: `candidatesOf` names the files that may hold
    * a match (asked only of a non-empty lake), `matching` picks the
    * matched rows out of their lineage read, and [[tombstoneMatches]]
    * commits them as one `delete`. No checks: deletes REMOVE rows. */
  private def sparseDelete(spark: SparkSession, lakeDir: String)(
      candidatesOf: Lake.LakeState => Seq[String])(
      matching: DataFrame => DataFrame): DataFrame = {
    val base = Lake.adopt(spark, lakeDir)
    dml(spark, lakeDir, base) { ledger =>
      tombstoneMatches(ledger, if (base.files.isEmpty) Nil else candidatesOf(base),
        "delete")(matching).map(t => sparseCommit(ledger, "delete", Some(t), NoAdds, t.matched))
    }
  }

  /** SPARSE row-level UPDATE — "SET col = expr WHERE pred" as ONE
    * deletion-vector commit: matched rows tombstone by vector
    * ([[tombstone]]; their pre-image feeds the change feed as
    * `update_preimage`), the updated post-image rows land as
    * genuinely-new `AU` data files ([[stageAdds]]; fed as
    * `update_postimage` — the Delta CDF contract), zero survivor files
    * rewritten. Assignment expressions may reference the row's own
    * columns (`SET n = n + 1`) — they evaluate over the matched
    * pre-image — and may move rows across partitions (the staged write
    * re-partitions). Candidate files stats-prune from the predicate's
    * bounds exactly like the sparse delete. Unassigned columns carry
    * over unchanged. */
  def updateLakeSparseWhere(spark: SparkSession, lakeDir: String,
      predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column]): DataFrame = {
    val base = Lake.adopt(spark, lakeDir)
    if (base.files.isEmpty) return Lake.read(spark, lakeDir)
    val lakeSchema = lakeSchemaOf(base)
    val unknown = assignments.keySet.filterNot(lakeSchema.fieldNames.contains)
    require(unknown.isEmpty,
      s"updateLakeSparseWhere: SET names unknown column(s) ${unknown.mkString(", ")}")
    val candidates = sparseWhereCandidates(spark, lakeDir, base, predicate)
    if (candidates.isEmpty) return Lake.read(spark, lakeDir)
    val partitionCols = Lake.layoutSpecsOf(base)
    // the checkpoint STAYS (two consumers: the CDC pre-image write and
    // the post-image stage); the audit count rides its EAGER
    // materialization as an observed metric instead of a separate count
    val (instMatched, matchedAudit) = Lake.observedAudit(Map.empty,
      Lake.readFilesWithLineage(spark, lakeDir, base.schemaJson, candidates, base.dvs)
        .filter(predicate))
    val matched = instMatched.localCheckpoint(true)
    val expected = matchedAudit()
    if (expected == 0L) return Lake.read(spark, lakeDir)
    dml(spark, lakeDir, base) { ledger =>
      val tomb = tombstone(ledger, matched, partitionCols, Some(expected))(
        cdc => Seq((cdc, "update_preimage")))
      // post-image: assignments applied over the matched pre-image rows,
      // cast back to the column's recorded type (SQL UPDATE semantics)
      val updated = matched.select(lakeSchema.map { f =>
        assignments.get(f.name).fold(col(f.name))(_.cast(f.dataType)).as(f.name)
      }: _*)
      val adds = stageAdds(ledger, updated, "post", base.checks, partitionCols, Seq.empty)
      Some(sparseCommit(ledger, "update", tomb, adds, expected * 2))
    }
  }

  /** The candidate files of a predicate-form sparse mutation: the
    * manifest files whose recorded stats overlap the predicate's
    * extractable bounds. The predicate is RESOLVED first — filtered
    * against an empty frame under the lake schema, so the analyzer
    * normalizes it into the typed comparison nodes
    * [[org.apache.spark.sql.graft.LakeStatPruning.boundsFrom]] reads
    * (literals coerced to the column types, `&&` into `And`). A
    * predicate no bound can be extracted from keeps every file.
    * Package-visible so the spec can pin the pruning without a
    * filesystem-level probe. */
  private[graft] def sparseWhereCandidates(spark: SparkSession, lakeDir: String,
      base: Lake.LakeState,
      predicate: org.apache.spark.sql.Column): Seq[String] = {
    val schema = lakeSchemaOf(base)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val conds = empty.filter(predicate).queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }
    val (bounds, inLists) =
      org.apache.spark.sql.graft.LakeStatPruning.boundsAndInsFrom(schema, conds)
    if (bounds.isEmpty && inLists.isEmpty) base.files
    else Lake.bloomPruneBounds(spark, lakeDir, base,
      Lake.pruneByStats(base, bounds), bounds, inLists)
  }

  /** SPARSE row-level MERGE: the correction pass of [[mergeIntoLake]]
    * WITHOUT the survivor rewrite. Matched pre-image rows are tombstoned
    * by deletion vector (O(matched rows), not O(affected partitions));
    * the update rows land as genuinely-new `A` files exactly as in the
    * rewriting merge, so [[Lake.changesBetween]] and the CDC stream
    * surface exactly the upserts. ONE atomic commit carries both. A 1%
    * corpus-wide re-score therefore writes ~1% of the lake's bytes
    * (upserts + sidecar) instead of rewriting every affected partition —
    * the biggest write-amplification lever the lake has; compaction
    * later folds the tombstones away in the background. */
  def mergeIntoLakeSparse(spark: SparkSession, lakeDir: String, updates: DataFrame,
      idCol: String = "doc_id",
      partitionCols: Seq[String] = Seq("split", "shard_id")): DataFrame = {
    val base = Lake.adopt(spark, lakeDir)
    if (base.files.isEmpty) // first-ever ingest: merge degenerates to append
      return appendToLake(spark, lakeDir, updates, idCol, partitionCols)
    // the committed layout is authoritative for an existing lake —
    // exactly as in [[appendToLake]]
    val effectiveCols = Lake.layoutSpecsOf(base)
    dml(spark, lakeDir, base) { ledger =>
      upsertBatch("mergeIntoLakeSparse", base, updates, idCol).map { batch =>
        // tombstone the matched pre-image rows of the key-pruned candidates;
        // matched pre-images ARE updates in upsert semantics (CDF parity)
        val candidates = keyCandidates(spark, lakeDir, base, idCol,
          batch.rows.schema(idCol).dataType, batch.rows.select(col(idCol)), batch.bounds)
        val tomb = tombstoneMatches(ledger, candidates, "update_preimage")(
          _.join(batch.ids, col(idCol) === col("_mid"), "left_semi"))
        val adds = stageAdds(ledger, upsertAdds(batch, idCol, tomb.map(_.preImage)),
          "ins", Map.empty, effectiveCols, Seq(idCol))
        sparseCommit(ledger, "merge", tomb, adds, tomb.fold(0L)(_.matched) + batch.count)
      }
    }
  }

  /** One clause of the GENERAL sparse merge ([[mergeIntoLakeGeneral]]):
    * `condition` evaluates over the DISAMBIGUATED joined row (target
    * columns as `_t_<name>`, source columns as `_s_<name>`); `delete`
    * marks `WHEN ... THEN DELETE`; `sets` holds the by-name SET /
    * INSERT VALUES expressions — PARTIAL for updates (unassigned
    * columns carry the pre-image), and missing insert columns land
    * NULL (the SQL default). */
  final case class MergeClause(condition: Option[org.apache.spark.sql.Column],
      delete: Boolean, sets: Map[String, org.apache.spark.sql.Column])

  /** The FULL-GRAMMAR sparse MERGE: conditional `WHEN` clauses (first
    * satisfied clause wins, the SQL order), split shapes (different
    * UPDATE vs INSERT expressions), partial `SET`, and `WHEN NOT
    * MATCHED BY SOURCE` — everything [[mergeIntoLakeSparse]]'s upsert
    * fast path cannot express — landing as ONE sparse commit exactly
    * like the simple shapes: every affected pre-image row tombstones by
    * deletion vector ([[tombstone]]), post-images and inserts land as
    * genuinely-new data files ([[stageAdds]]), zero survivor files
    * rewritten.
    *
    * Execution is ONE full-outer join between the (stats-pruned)
    * target lineage read and the key-deduped source: matched rows
    * route through the matched-clause chain, source-only rows through
    * the insert chain, target-only rows through the
    * not-matched-by-source chain — each as a single codegen'd
    * CASE over the clause conditions, evaluated once over the
    * checkpointed join. With no NOT-MATCHED-BY-SOURCE clause the
    * target side prunes to the files overlapping the source key range
    * ([[keyCandidates]]); with one, every target row is in play by
    * definition — the same honest full-scan Delta prices that clause
    * at. Duplicate source keys dedupe (last-writer-arbitrary) rather
    * than raising ANSI MERGE's cardinality error — the documented
    * divergence shared with [[mergeIntoLakeSparse]]; null-key source
    * rows are NOT deduped (null never matches — each inserts). CHECK
    * constraints gate the added rows exactly like every other
    * row-adding path: their audit rides the add write. */
  def mergeIntoLakeGeneral(spark: SparkSession, lakeDir: String,
      source: DataFrame, idCol: String, srcKey: org.apache.spark.sql.Column,
      matched: Seq[MergeClause], notMatched: Seq[MergeClause],
      notMatchedBySource: Seq[MergeClause]): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val base = Lake.adopt(spark, lakeDir)
    val lakeSchema = lakeSchemaOf(base)
    require(lakeSchema.fieldNames.contains(idCol),
      s"mergeIntoLakeGeneral: merge key '$idCol' is not a lake column")
    val partitionCols = Lake.layoutSpecsOf(base)
    val reserved = Seq("_t_", "_s_", "_gf_", "_gm_")
    require(!lakeSchema.fieldNames.exists(n => reserved.exists(n.startsWith)) &&
      !source.columns.exists(n => reserved.exists(n.startsWith)),
      "mergeIntoLakeGeneral: column names may not start with the reserved " +
        "prefixes _t_/_s_/_gf_/_gm_")
    // source side: columns under _s_*, the deduped join key under _gm_sk.
    // Only NON-NULL keys dedupe: a null key never matches any target row
    // (SQL three-valued equality), so distinct null-key rows are not
    // cardinality duplicates — each is its own NOT-MATCHED insert. ONE
    // pass: null keys salt the dedup key with a unique id so they all
    // survive the same dropDuplicates that collapses duplicate real keys.
    val src = source
      .select(source.columns.toSeq.map(c => col(c).as("_s_" + c)): _*)
      .withColumn("_gm_sk", srcKey)
      .withColumn("_gm_nk",
        when(col("_gm_sk").isNotNull, lit(0L)).otherwise(monotonically_increasing_id()))
      .dropDuplicates("_gm_sk", "_gm_nk")
      .drop("_gm_nk")
      .withColumn("_gm_sp", lit(true))
    // candidate files: a NOT MATCHED BY SOURCE clause puts every target
    // row in play; otherwise the source keys prune them
    val candidates =
      if (notMatchedBySource.nonEmpty) base.files
      else keyCandidates(spark, lakeDir, base, idCol, lakeSchema(idCol).dataType,
        src.filter(col("_gm_sk").isNotNull).select(col("_gm_sk")),
        keyBounds(src, col("_gm_sk")))
    val tgt =
      if (candidates.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          lakeSchema.add("_gf_file", StringType).add("_gf_pos", LongType))
      else Lake.readFilesWithLineage(spark, lakeDir, base.schemaJson,
        candidates, base.dvs)
    val tgtP = tgt.select(
      lakeSchema.fieldNames.toSeq.map(c => col(c).as("_t_" + c))
        ++ Seq(col("_gf_file"), col("_gf_pos")): _*)
      .withColumn("_gm_tp", lit(true))
    // first-satisfied-clause index (-1 = no clause fires): the SQL
    // clause-order semantics as one codegen'd CASE chain
    def actionOf(clauses: Seq[MergeClause]): org.apache.spark.sql.Column =
      clauses.zipWithIndex.foldRight(lit(-1): org.apache.spark.sql.Column) {
        case ((cl, i), els) =>
          when(cl.condition.getOrElse(lit(true)), lit(i)).otherwise(els)
      }
    // ONE bounded materialization feeds the counts, the sidecar write
    // and both add stages. Eager localCheckpoint, not persist: it
    // TRUNCATES lineage, so the 4-5 downstream actions plan over a
    // one-node LogicalRDD instead of re-running Catalyst/AQE over the
    // full-outer join per action (the r13 persist swap cost 2.4× in
    // driver fixed costs alone), and the arbitrary-winner dedup +
    // monotonically_increasing_id upstream can never silently recompute
    // different winners between the counts, the sidecar and the adds.
    // Blocks spill MEMORY_AND_DISK (the graceful 100 TB degradation);
    // the finally below releases them the moment the commit publishes
    // (no ContextCleaner wait) by unpersisting the checkpoint RDD.
    val mDel = matched.zipWithIndex.collect { case (c, i) if c.delete => i }.toSet
    val nDel = notMatchedBySource.zipWithIndex.collect { case (c, i) if c.delete => i }.toSet
    def inSet(c: org.apache.spark.sql.Column, ids: Set[Int]) =
      if (ids.isEmpty) lit(false) else c.isInCollection(ids.toSeq)
    val tombCond = col("_gm_am") >= 0 || col("_gm_an") >= 0
    // CDF split: a fired DELETE clause tombstones a plain delete; a fired
    // UPDATE clause tombstones an update_preimage (its post-image is an
    // AU add). inSet(-1) is false, so delCond implies the clause fired.
    val tombDelCond = inSet(col("_gm_am"), mDel) || inSet(col("_gm_an"), nDel)
    val tombUpdCond = tombCond && !tombDelCond
    val addPostCond = (col("_gm_am") >= 0 && !inSet(col("_gm_am"), mDel)) ||
      (col("_gm_an") >= 0 && !inSet(col("_gm_an"), nDel))
    val addInsCond = col("_gm_ai") >= 0
    // the four per-clause-kind row counts ride the checkpoint's own
    // materialization as observed metrics — the old separate aggregate
    // was one more driver job over the just-checkpointed join
    val (instJoined, _, joinedExtras) = Lake.observedAuditMetrics(Map.empty,
      tgtP.join(src, col("_t_" + idCol) === col("_gm_sk"), "full_outer")
        .withColumn("_gm_am",
          when(col("_gm_tp").isNotNull && col("_gm_sp").isNotNull, actionOf(matched))
            .otherwise(lit(-1)))
        .withColumn("_gm_ai",
          when(col("_gm_tp").isNull && col("_gm_sp").isNotNull, actionOf(notMatched))
            .otherwise(lit(-1)))
        .withColumn("_gm_an",
          when(col("_gm_tp").isNotNull && col("_gm_sp").isNull,
            actionOf(notMatchedBySource)).otherwise(lit(-1))),
      Seq(sum(when(tombDelCond, 1L).otherwise(0L)).as("_gf_tdel"),
        sum(when(tombUpdCond, 1L).otherwise(0L)).as("_gf_tupd"),
        sum(when(addPostCond, 1L).otherwise(0L)).as("_gf_apost"),
        sum(when(addInsCond, 1L).otherwise(0L)).as("_gf_ains")))
    val joined = instJoined.localCheckpoint(true)
    val cpRdds = joined.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    try dml(spark, lakeDir, base) { ledger =>
      val counts = joinedExtras()
      def cnt(k: String): Long = Option(counts(k)).fold(0L)(_.asInstanceOf[Long])
      val (tombDel, tombUpd) = (cnt("_gf_tdel"), cnt("_gf_tupd"))
      val tombExpected = tombDel + tombUpd
      val addExpected = cnt("_gf_apost") + cnt("_gf_ains")
      // tombstones: every matched / not-matched-by-source row whose clause
      // fires (updates tombstone their pre-image too). ONE pass writes
      // BOTH change types' pre-images: the sidecar partitions by a
      // leading `_gm_ct` level, and each `_gm_ct=<type>/` subtree IS a
      // standard sidecar dir (partitionCols layout below it) that the
      // feed's `C` entries point at individually.
      val tomb =
        if (tombExpected == 0L) None
        else tombstone(ledger,
          joined.filter(tombCond).select(
            lakeSchema.fieldNames.toSeq.map(c => col("_t_" + c).as(c))
              ++ Seq(col("_gf_file"), col("_gf_pos"),
                when(tombDelCond, lit("delete"))
                  .otherwise(lit("update_preimage")).as("_gm_ct")): _*),
          "_gm_ct" +: partitionCols, Some(tombExpected)) { cdc =>
          Seq(("delete", tombDel), ("update_preimage", tombUpd))
            .collect { case (t, n) if n > 0L => (s"$cdc/_gm_ct=$t", t) }
        }
      // post-images and inserts: per clause, each lake column evaluates its
      // SET/VALUES expression cast to the recorded type, carries the
      // pre-image (updates) or lands NULL (inserts) when unassigned.
      // Update post-images and genuine inserts stage as SEPARATE files so
      // the change feed tags update_postimage vs insert exactly.
      def addsOf(tag: String, clauses: Seq[MergeClause], kind: String,
          unset: StructField => org.apache.spark.sql.Column) =
        clauses.zipWithIndex.collect { case (cl, i) if kind == "ins" || !cl.delete =>
          joined.filter(col(tag) === i).select(lakeSchema.map { f =>
            cl.sets.get(f.name).fold(unset(f))(_.cast(f.dataType)).as(f.name)
          } :+ lit(kind).as("_gm_kind"): _*) }
      val adds =
        if (addExpected == 0L) NoAdds
        else stageAdds(ledger,
          (addsOf("_gm_am", matched, "post", f => col("_t_" + f.name)) ++
            addsOf("_gm_an", notMatchedBySource, "post", f => col("_t_" + f.name)) ++
            addsOf("_gm_ai", notMatched, "ins", f => lit(null).cast(f.dataType)))
            .reduce(_.unionByName(_)),
          "ins", base.checks, partitionCols, Seq(idCol))
      if (tomb.isEmpty && addExpected == 0L) None
      else Some(sparseCommit(ledger, "merge", tomb, adds, tombExpected + addExpected))
    } finally cpRdds.foreach(_.unpersist(blocking = false))
  }

  // ------------------------------------- the row-level DML core of the seven

  /** What one DML has staged so far, so a throw before publish removes all
    * of it through [[Lake.abort]]. */
  private final class DmlLedger(val spark: SparkSession, val lakeDir: String,
      val base: Lake.LakeState) {
    private val files = Seq.newBuilder[String]
    private val dirs = Seq.newBuilder[String]
    def staged(fs: Seq[String]): Seq[String] = { files ++= fs; fs }
    def sidecar(dir: String): String = { dirs += dir; dir }
    /** Removes the named sidecar dirs, or everything staged when none is named. */
    def abort(only: String*): Unit = {
      val (fs, ds) = if (only.isEmpty) (files.result(), dirs.result()) else (Nil, only)
      Lake.abort(spark, Lake.StagedCommit(lakeDir, base, "abort", base.schemaJson,
        Seq.empty, fs, 0L, 0L, cdcFiles = ds.map(_ -> "")))
    }
  }

  /** A DML's stage half: `body` stages through the ledger and returns the
    * commit to publish (None = nothing changes); a throw aborts. */
  private def staging(spark: SparkSession, lakeDir: String, base: Lake.LakeState)(
      body: DmlLedger => Option[Lake.StagedCommit]): Option[Lake.StagedCommit] = {
    val ledger = new DmlLedger(spark, lakeDir, base)
    try body(ledger)
    catch { case e: Throwable =>
      try ledger.abort() catch { case a: Throwable => e.addSuppressed(a) }
      throw e
    }
  }

  /** [[staging]], then one [[Lake.publish]], then the lake's read-back. */
  private def dml(spark: SparkSession, lakeDir: String, base: Lake.LakeState,
      vacuumSuperseded: Boolean = true)(
      body: DmlLedger => Option[Lake.StagedCommit]): DataFrame = {
    staging(spark, lakeDir, base)(body).foreach(Lake.publish(spark, _, vacuumSuperseded))
    Lake.read(spark, lakeDir)
  }

  private def lakeSchemaOf(base: Lake.LakeState): org.apache.spark.sql.types.StructType =
    Lake.visible(org.apache.spark.sql.types.DataType.fromJson(base.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** A staged [[tombstone]] step; `preImage` is the sidecar's read-back. */
  private final case class Tombstones(dvAdds: Map[String, Seq[String]], rows: Long,
      matched: Long, cdcFiles: Seq[(String, String)], preImage: DataFrame)

  /** The tombstone step of every sparse DML: ONE pass over the matched
    * `pre` rows writes the change-feed sidecar (row lineage riding
    * along), and the deletion vector derives from its read-back — the
    * lake is never scanned twice. A count the caller does not `know`
    * rides the sidecar write as an observed metric; zero rolls the empty
    * sidecar back (None). `cdcFiles` names the dirs the feed serves. */
  private def tombstone(ledger: DmlLedger, pre: DataFrame, layout: Seq[String],
      known: Option[Long])(cdcFiles: String => Seq[(String, String)]): Option[Tombstones] = {
    import ledger.{lakeDir, spark}
    val (inst, audit) = known.fold(Lake.observedAudit(Map.empty, pre))(n => (pre, () => n))
    val cdcPath = ledger.sidecar(Lake.stageCdc(spark, lakeDir, inst, layout))
    val matched = audit()
    if (matched == 0L) { ledger.abort(cdcPath); None }
    else {
      val back = preImage(ledger, cdcPath, withLineage = true)
      val (sidecar, rows, files) = Lake.stageDv(spark, lakeDir,
        back.select(col("_gf_file").as("file"), col("_gf_pos").as("pos")))
      ledger.sidecar(sidecar)
      Some(Tombstones(files.map(f => f -> Seq(sidecar)).toMap, rows, matched,
        cdcFiles(cdcPath), back))
    }
  }

  /** [[tombstone]] over the rows `matching` picks from the candidates'
    * lineage read, fed as `changeType`. */
  private def tombstoneMatches(ledger: DmlLedger, candidates: Seq[String], changeType: String)(
      matching: DataFrame => DataFrame): Option[Tombstones] =
    if (candidates.isEmpty) None
    else tombstone(ledger, matching(Lake.readFilesWithLineage(ledger.spark, ledger.lakeDir,
      ledger.base.schemaJson, candidates, ledger.base.dvs)), Lake.layoutSpecsOf(ledger.base),
      None)(cdc => Seq((cdc, changeType)))

  /** A just-staged change-feed sidecar, opened under the lake schema. */
  private def preImage(ledger: DmlLedger, cdcPath: String, withLineage: Boolean): DataFrame =
    Lake.openStagedCdc(ledger.spark, new org.apache.hadoop.fs.Path(
      Lake.fsRoot(ledger.spark, ledger.lakeDir)._2, cdcPath).toString,
      ledger.base.schemaJson, withLineage)

  private final case class Adds(post: Seq[String], ins: Seq[String], rows: Long,
      stats: Map[String, Seq[Lake.ColStat]])
  private val NoAdds = Adds(Seq.empty, Seq.empty, 0L, Map.empty)

  /** The add stage of every row-adding DML: ONE write of `adds`, split
    * into post-image and insert files by its `_gm_kind` column (a
    * staging-only level) when it has one, else all of `kind`; then the
    * footer audit. `checks` ride the write as observed metrics: a
    * violating batch throws after the write, and the ledger removes it. */
  private def stageAdds(ledger: DmlLedger, adds: DataFrame, kind: String,
      checks: Map[String, String], layout: Seq[String], statsCols: Seq[String]): Adds = {
    import ledger.{lakeDir, spark}
    val (inst, audit) =
      if (checks.isEmpty) (adds, () => 0L) else Lake.observedAudit(checks, adds)
    val byKind =
      if (adds.columns.contains("_gm_kind"))
        Lake.stageWriteTagged(spark, lakeDir, inst, "_gm_kind", layout)
      else Map(kind -> Lake.stageWrite(spark, lakeDir, inst, layout))
    ledger.staged(byKind.values.flatten.toSeq)
    audit()
    val post = byKind.getOrElse("post", Seq.empty)
    val ins = byKind.getOrElse("ins", Seq.empty)
    val (rows, stats) = Lake.auditStaged(spark, lakeDir, ledger.base.schemaJson,
      post ++ ins, statsCols)
    Adds(post, ins, rows, stats)
  }

  /** The copy-on-write stage of [[deleteFromLake]] and [[mergeIntoLake]]:
    * the `survivors` of the `removed` files stage as `AR` rewrites, and
    * the `replaced` rows as the change-feed sidecar of `changeType`. The
    * audit stays two-channel: `expected` rides the survivor write as an
    * observed metric (a separate count would be one more scan of the
    * affected partitions), against the footer read-back, which also
    * keeps id-range stats so append pruning survives the rewrite. */
  private def rewrite(ledger: DmlLedger, action: String, removed: Seq[String],
      survivors: DataFrame, expected: () => Long, replaced: DataFrame, layout: Seq[String],
      idCol: String, changeType: String): Lake.StagedCommit = {
    import ledger.{base, lakeDir, spark}
    val staged = ledger.staged(Lake.stageWrite(spark, lakeDir, survivors, layout))
    val n = expected()
    val (rows, stats) = Lake.auditStaged(spark, lakeDir, base.schemaJson, staged, Seq(idCol))
    val cdcPath = ledger.sidecar(Lake.stageCdc(spark, lakeDir, replaced, layout))
    Lake.StagedCommit(lakeDir, base, action, base.schemaJson, removed, staged, rows, n,
      stats, rewriteFiles = staged.toSet, cdcFiles = Seq((cdcPath, changeType)))
  }

  /** The one commit of a sparse DML. */
  private def sparseCommit(ledger: DmlLedger, action: String, tomb: Option[Tombstones],
      adds: Adds, expected: Long): Lake.StagedCommit =
    Lake.StagedCommit(ledger.lakeDir, ledger.base, action, ledger.base.schemaJson,
      Seq.empty, adds.post ++ adds.ins, tomb.fold(0L)(_.rows) + adds.rows, expected, adds.stats,
      dvAdds = tomb.fold(Map.empty[String, Seq[String]])(_.dvAdds),
      cdcFiles = tomb.toSeq.flatMap(_.cdcFiles), postImageFiles = adds.post.toSet)

  /** A prepared upsert batch; `ids` is the id set to join on (`_mid`). */
  private final case class UpsertBatch(rows: DataFrame, count: Long, ids: DataFrame,
      bounds: Option[(Any, Any, Long)], lakeSchema: org.apache.spark.sql.types.StructType)

  /** Both upserts' batch, None when empty: materialized once (the id set,
    * the audit expectation and the add stage consume it), with its count,
    * CHECK sums and id bounds riding the eager checkpoint. Updates must
    * carry the lake's exact schema: a merge that drops or retypes columns
    * is corruption, not evolution. */
  private def upsertBatch(what: String, base: Lake.LakeState, updates: DataFrame,
      idCol: String): Option[UpsertBatch] = {
    val (instUpd, updAudit, updExtras) = Lake.observedAuditMetrics(base.checks,
      updates.dropDuplicates(idCol),
      Seq(min(col(idCol)).as("_gf_mn"), max(col(idCol)).as("_gf_mx")))
    val upd = instUpd.localCheckpoint(true)
    val updCount = updAudit()
    if (updCount == 0) return None
    val lakeSchema = lakeSchemaOf(base)
    val lakeTypes = lakeSchema.map(f => f.name -> f.dataType).toMap
    val uTypes = upd.schema.map(f => f.name -> f.dataType).toMap
    require(lakeTypes == uTypes,
      s"$what: updates schema must equal the lake schema exactly " +
        s"(updates-only: ${(uTypes.keySet -- lakeTypes.keySet).mkString(", ")}; " +
        s"lake-only: ${(lakeTypes.keySet -- uTypes.keySet).mkString(", ")}; " +
        s"retyped: ${lakeTypes.keySet.intersect(uTypes.keySet)
          .filter(c => lakeTypes(c) != uTypes(c)).mkString(", ")})")
    // broadcast the id set only while it plausibly fits executor memory —
    // a corpus-wide re-scoring merge (updCount ~ corpus) must fall back
    // to a shuffled semi/anti join, not blow the driver on a broadcast.
    // The cutoff is a BYTE estimate, not a row count: 6M narrow numeric
    // ids broadcast fine, while 1M wide string ids would be gigabytes
    val ids0 = upd.select(col(idCol).as("_mid")).distinct()
    val ids =
      if (estimatedIdSetBytes(upd, idCol, updCount) <= MergeBroadcastMaxBytes)
        broadcast(ids0)
      else ids0
    val b = updExtras()
    Some(UpsertBatch(upd, updCount, ids,
      Option(b("_gf_mn")).map(mn => (mn, b("_gf_mx"), updCount)), lakeSchema))
  }

  /** The upsert rows as adds: POST-IMAGES where the `replaced` pre-image
    * sidecar (physical names; not a re-scan of the lake) holds the id,
    * inserts elsewhere. */
  private def upsertAdds(batch: UpsertBatch, idCol: String,
      replaced: Option[DataFrame]): DataFrame = {
    val updCols = batch.rows.select(batch.lakeSchema.map(f => col(f.name)): _*)
    replaced.fold(updCols) { pre =>
      val idPhys = Lake.physicalName(batch.lakeSchema(idCol))
      updCols.join(pre.select(col(idPhys).as("_lakeid")).distinct(),
          col(idCol) === col("_lakeid"), "left")
        .withColumn("_gm_kind",
          when(col("_lakeid").isNotNull, lit("post")).otherwise(lit("ins")))
        .drop("_lakeid")
    }
  }

  /** The candidate files for a key set: min/max stats first (free,
    * driver-side), then per-file blooms for the keys min/max cannot prune.
    * `bounds` are the keys' (min, max, count); None leaves no candidate. */
  private def keyCandidates(spark: SparkSession, lakeDir: String, base: Lake.LakeState,
      idCol: String, keyType: org.apache.spark.sql.types.DataType, keys: DataFrame,
      bounds: Option[(Any, Any, Long)]): Seq[String] =
    bounds.fold(Seq.empty[String]) { case (mn, mx, n) =>
      Lake.bloomPrune(spark, lakeDir, base, Lake.pruneByStats(base, idCol, keyType, mn, mx),
        idCol, keys, n)
    }

  /** (min, max, count) of the non-null `key`s in one job. */
  private def keyBounds(df: DataFrame, key: org.apache.spark.sql.Column): Option[(Any, Any, Long)] = {
    val b = Lake.collectScalar(df.agg(min(key), max(key), count(key)))(0)
    if (b.isNullAt(0)) None else Some((b.get(0), b.get(1), b.getLong(2)))
  }

  /** The manifest files of the partitions holding a `lake` row that `hits`
    * matches: ONE column-pruned pass, then driver-side path-prefix work. A
    * matched partition owning no manifest file rendered its directory
    * differently from the writer: refused before anything is staged. */
  private def affectedFiles(base: Lake.LakeState, lake: DataFrame, hits: DataFrame,
      on: org.apache.spark.sql.Column, partitionCols: Seq[String]): Seq[String] = {
    val dirs = Lake.collectScalar(lake.join(hits, on, "left_semi")
      .select(partitionCols.map(col): _*).distinct())
      .map(Lake.partitionDir(partitionCols, _)).toSeq
    val removed = Lake.filesUnder(base.files, dirs)
    val orphanDirs = dirs.filterNot(d => removed.exists(_.startsWith(d + "/")))
    if (orphanDirs.nonEmpty)
      throw new IllegalStateException(
        s"partition-dir rendering mismatch: ${orphanDirs.mkString(", ")} own no " +
          "manifest files although rows matched in them — refusing to stage")
    removed
  }

  /** Upsert the corpus in place (bump n_chars for the `% 7` docs, insert
    * re-keyed copies of the `% 5` docs) and emit the post-merge manifest —
    * recomputed relationally by the oracle as original-minus-matched plus
    * updated plus inserted. */
  private def px111(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px111_lake")
    val docs = Tables(spark, dir, "documents")
    val sharded = hashSplit(docs, "doc_id")
      .withColumn("shard_id", (col("doc_id") % 4).cast("int"))
    sharded.write.mode("overwrite").partitionBy("split", "shard_id").parquet(out)
    val updated = sharded.filter(col("doc_id") % 7 === 0)
      .withColumn("n_chars", col("n_chars") + lit(1000L))
    val inserted = hashSplit(
      docs.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + lit(10000000L)), "doc_id")
      .withColumn("shard_id", (col("doc_id") % 4).cast("int"))
    mergeIntoLake(spark, out, updated.unionByName(inserted))
      .groupBy("split", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("split"), col("shard_id").cast("int").as("shard_id"),
        col("n_docs"), col("sum_chars"))
      .orderBy("split", "shard_id")
  }

  private val px111Oracle =
    """WITH allrows AS (
      |  SELECT doc_id, n_chars FROM documents WHERE doc_id % 7 <> 0
      |  UNION ALL
      |  SELECT doc_id, n_chars + 1000 FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 10000000, n_chars FROM documents WHERE doc_id % 5 = 0)
      |SELECT CASE
      |    WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
      |    WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
      |    ELSE 'test' END AS split,
      |  CAST(doc_id % 4 AS INTEGER) AS shard_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM allrows GROUP BY 1, 2 ORDER BY split, shard_id""".stripMargin

  // ---------------------------------------------------------------- px113
  /** The SPARSE merge at its px111 shape — same correction-pass
    * semantics, radically different write amplification: matched
    * pre-image rows are tombstoned by deletion vector (no survivor file
    * is rewritten — [[graft.operators.LakeSpec]] pins `n_removed == 0`
    * and `n_added == upsert files` via describeHistory), the upserts
    * land as data files, reads apply the vectors merge-on-read. The
    * oracle recomputes the post-merge corpus relationally, so a single
    * hash-match certifies the whole MoR read path: in-scan DV predicate,
    * attachment resolution through the manifest, upsert visibility. */
  private def px113(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px113_lake")
    val docs = Tables(spark, dir, "documents")
    val sharded = hashSplit(docs, "doc_id")
      .withColumn("shard_id", (col("doc_id") % 4).cast("int"))
    Lake.init(spark, sharded, out, Seq("split", "shard_id"), statsCols = Seq("doc_id"))
    val updated = sharded.filter(col("doc_id") % 11 === 0)
      .withColumn("n_chars", col("n_chars") + lit(500L))
    val inserted = hashSplit(
      docs.filter(col("doc_id") % 13 === 0)
        .withColumn("doc_id", col("doc_id") + lit(20000000L)), "doc_id")
      .withColumn("shard_id", (col("doc_id") % 4).cast("int"))
    mergeIntoLakeSparse(spark, out, updated.unionByName(inserted))
      .groupBy("split", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("split"), col("shard_id").cast("int").as("shard_id"),
        col("n_docs"), col("sum_chars"))
      .orderBy("split", "shard_id")
  }

  private val px113Oracle =
    """WITH allrows AS (
      |  SELECT doc_id, n_chars FROM documents WHERE doc_id % 11 <> 0
      |  UNION ALL
      |  SELECT doc_id, n_chars + 500 FROM documents WHERE doc_id % 11 = 0
      |  UNION ALL
      |  SELECT doc_id + 20000000, n_chars FROM documents WHERE doc_id % 13 = 0)
      |SELECT CASE
      |    WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
      |    WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
      |    ELSE 'test' END AS split,
      |  CAST(doc_id % 4 AS INTEGER) AS shard_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM allrows GROUP BY 1, 2 ORDER BY split, shard_id""".stripMargin

  // ---------------------------------------------------------------- px115
  /** The lake's WRITE surface behind pure SQL — `CREATE TABLE ... USING
    * graft-lake` + `INSERT INTO ... BY NAME` — closing the DSv2 story
    * the read source opened (px110): SQL/Python users now append through
    * the same stage→audit→publish commit protocol as the Scala helpers
    * ([[graft.sources.lake.LakeSource]] routes the V1 insert to
    * [[Lake.append]]). Seed two thirds of the corpus, INSERT the rest
    * through SQL, and the post-insert manifest must equal the full
    * corpus (px100's oracle) — the insert landed exactly, once, as an
    * audited commit. */
  private def px115(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px115_lake")
    val sharded = hashSplit(Tables(spark, dir, "documents"), "doc_id")
      .withColumn("shard_id", (col("doc_id") % 4).cast("int"))
    Lake.init(spark, sharded.filter(col("doc_id") % 3 =!= 0), out, Seq("split", "shard_id"))
    spark.sql("DROP TABLE IF EXISTS px115_corpus")
    spark.sql(s"CREATE TABLE px115_corpus USING `graft-lake` OPTIONS (path '$out')")
    try {
      sharded.filter(col("doc_id") % 3 === 0).createOrReplaceTempView("px115_batch")
      spark.sql("INSERT INTO px115_corpus BY NAME SELECT * FROM px115_batch")
    } finally spark.sql("DROP TABLE IF EXISTS px115_corpus")
    Lake.read(spark, out)
      .groupBy("split", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("split"), col("shard_id").cast("int").as("shard_id"),
        col("n_docs"), col("sum_chars"))
      // total order without a global sort: the report is |splits × shards|
      // rows, so a range exchange would pay a sampling job just to order
      // single-digit rows — one partition + local sort is the right plan
      // at any corpus scale (the report stays the same size)
      .coalesce(1).sortWithinPartitions("split", "shard_id")
  }

  // ---------------------------------------------------------------- px114
  /** The ROW-LEVEL change feed, oracled end-to-end: seed the corpus
    * (v1), sparsely delete the `% 17` docs (v2 — a deletion-vector
    * commit whose change-feed sidecar carries the purged pre-image),
    * append a re-keyed `% 19` batch (v3), then serve
    * [[Lake.changeFeed]](1, 3): the deletes of v2 with their ORIGINAL
    * partition values plus the inserts of v3, each tagged
    * `_change_type`. The oracle recomputes both halves relationally —
    * this is the right-to-be-forgotten contract: a downstream
    * index/embedding store replaying the feed drops exactly the purged
    * rows and gains exactly the appended ones. */
  private def px114(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px114_lake")
    val docs = Tables(spark, dir, "documents")
    val sharded = hashSplit(docs, "doc_id")
      .withColumn("shard_id", (col("doc_id") % 4).cast("int"))
    Lake.init(spark, sharded, out, Seq("split", "shard_id"), statsCols = Seq("doc_id")) // v1
    deleteFromLakeSparse(spark, out,
      docs.filter(col("doc_id") % 17 === 0).select("doc_id"), "doc_id")                 // v2
    appendToLake(spark, out, hashSplit(
      docs.filter(col("doc_id") % 19 === 0)
        .withColumn("doc_id", col("doc_id") + lit(30000000L)), "doc_id")
      .withColumn("shard_id", (col("doc_id") % 4).cast("int")))                         // v3
    Lake.changeFeed(spark, out, 1L, 3L)
      .groupBy("_change_type", "split")
      .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"))
      .select(col("_change_type"), col("split"), col("n_rows"), col("sum_chars"))
      .orderBy("_change_type", "split")
  }

  private val px114Oracle =
    """WITH changes AS (
      |  SELECT 'delete' AS _change_type, doc_id, n_chars
      |  FROM documents WHERE doc_id % 17 = 0
      |  UNION ALL
      |  SELECT 'insert', doc_id + 30000000, n_chars
      |  FROM documents WHERE doc_id % 19 = 0)
      |SELECT _change_type,
      |  CASE
      |    WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
      |    WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
      |    ELSE 'test' END AS split,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM changes GROUP BY 1, 2 ORDER BY _change_type, split""".stripMargin

  // ---------------------------------------------------------------- px117
  /** SQL `MERGE INTO` — px113's sparse upsert driven entirely from SQL:
    * the injected [[org.apache.spark.sql.graft.ResolveLakeMerge]] rule
    * routes the UPDATE SET star + INSERT star shape onto
    * [[mergeIntoLakeSparse]], so the statement commits O(matched rows)
    * tombstones plus the upsert files — zero survivor rewrites — and
    * the post-merge corpus hash-matches px113's relational oracle.
    * LakeSpec pins the SQL-vs-Scala row-for-row equality and the loud
    * refusal of unsupported merge shapes. */
  private def px117(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px117_lake")
    val docs = Tables(spark, dir, "documents")
    val sharded = hashSplit(docs, "doc_id")
      .withColumn("shard_id", (col("doc_id") % 4).cast("int"))
    Lake.init(spark, sharded, out, Seq("split", "shard_id"), statsCols = Seq("doc_id"))
    val updated = sharded.filter(col("doc_id") % 11 === 0)
      .withColumn("n_chars", col("n_chars") + lit(500L))
    val inserted = hashSplit(
      docs.filter(col("doc_id") % 13 === 0)
        .withColumn("doc_id", col("doc_id") + lit(20000000L)), "doc_id")
      .withColumn("shard_id", (col("doc_id") % 4).cast("int"))
    updated.unionByName(inserted).createOrReplaceTempView("px117_updates")
    spark.sql("DROP TABLE IF EXISTS px117_corpus")
    spark.sql(s"CREATE TABLE px117_corpus USING `graft-lake` OPTIONS (path '$out')")
    try spark.sql(
      """MERGE INTO px117_corpus t USING px117_updates s ON t.doc_id = s.doc_id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    finally spark.sql("DROP TABLE IF EXISTS px117_corpus")
    Lake.read(spark, out)
      .groupBy("split", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("split"), col("shard_id").cast("int").as("shard_id"),
        col("n_docs"), col("sum_chars"))
      .orderBy("split", "shard_id")
  }

  // ---------------------------------------------------------------- px118
  /** SQL row-level UPDATE — the third DML verb on the lake's SQL
    * surface: `UPDATE corpus SET n_chars = n_chars + 500 WHERE doc_id %
    * 11 = 0` routes through the injected rule to
    * [[updateLakeSparseWhere]], landing as ONE sparse commit (matched
    * pre-image tombstoned by deletion vector, post-image rows as new
    * data files, zero survivor rewrites). The self-referential SET and
    * the non-filter-translatable predicate both exercise the by-name
    * expression re-binding. Oracle recomputes the bumped corpus
    * relationally. */
  private def px118(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px118_lake")
    val sharded = hashSplit(Tables(spark, dir, "documents"), "doc_id")
      .withColumn("shard_id", (col("doc_id") % 4).cast("int"))
    Lake.init(spark, sharded, out, Seq("split", "shard_id"), statsCols = Seq("doc_id"))
    spark.sql("DROP TABLE IF EXISTS px118_corpus")
    spark.sql(s"CREATE TABLE px118_corpus USING `graft-lake` OPTIONS (path '$out')")
    try spark.sql("UPDATE px118_corpus SET n_chars = n_chars + 500 WHERE doc_id % 11 = 0")
    finally spark.sql("DROP TABLE IF EXISTS px118_corpus")
    Lake.read(spark, out)
      .groupBy("split", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("split"), col("shard_id").cast("int").as("shard_id"),
        col("n_docs"), col("sum_chars"))
      .orderBy("split", "shard_id")
  }

  private val px118Oracle =
    """WITH bumped AS (
      |  SELECT doc_id,
      |    n_chars + CASE WHEN doc_id % 11 = 0 THEN 500 ELSE 0 END AS n_chars
      |  FROM documents)
      |SELECT CASE
      |    WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
      |    WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
      |    ELSE 'test' END AS split,
      |  CAST(doc_id % 4 AS INTEGER) AS shard_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM bumped GROUP BY 1, 2 ORDER BY split, shard_id""".stripMargin

  // ---------------------------------------------------------------- px119
  /** Deletion-vector CONSOLIDATION, certified by hash: two stacked
    * sparse deletes (the `% 23` then `% 29` docs — the shared files
    * carry TWO sidecars), then [[Lake.compactDeletionVectors]] folds
    * each file's stack into one sidecar (a vectors-only `dvcompact`
    * commit — zero data bytes, CDC-invisible), and the corpus is read
    * back through the DSv2 format string — `Lake.read`'s plan applying
    * the CONSOLIDATED vectors inside its scan. The oracle recomputes the
    * surviving corpus relationally, so one hash-match certifies the
    * fold's exactness end-to-end: union of positions, detach/attach
    * delta, in-scan MoR application. */
  private def px119(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px119_lake")
    val docs = Tables(spark, dir, "documents")
    val sharded = hashSplit(docs, "doc_id")
      .withColumn("shard_id", (col("doc_id") % 4).cast("int"))
    Lake.init(spark, sharded, out, Seq("split", "shard_id"), statsCols = Seq("doc_id"))
    deleteFromLakeSparse(spark, out,
      docs.filter(col("doc_id") % 23 === 0).select("doc_id"), "doc_id")  // v2
    deleteFromLakeSparse(spark, out,
      docs.filter(col("doc_id") % 29 === 0).select("doc_id"), "doc_id")  // v3
    Lake.compactDeletionVectors(spark, out)                              // v4: fold
    spark.read.format("graft-lake").load(out)
      .groupBy("split", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("split"), col("shard_id").cast("int").as("shard_id"),
        col("n_docs"), col("sum_chars"))
      .orderBy("split", "shard_id")
  }

  private val px119Oracle =
    """SELECT CASE
      |    WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
      |    WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
      |    ELSE 'test' END AS split,
      |  CAST(doc_id % 4 AS INTEGER) AS shard_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE doc_id % 23 <> 0 AND doc_id % 29 <> 0
      |GROUP BY 1, 2 ORDER BY split, shard_id""".stripMargin

  // ---------------------------------------------------------------- px120
  /** EXACTLY-ONCE streaming ingest behind the format string —
    * `writeStream.format("graft-lake")` ([[graft.sources.lake
    * .LakeStreamingWrites]], the DSv2 streaming write: executors write
    * partition-routed parquet, the driver's epoch commit is one
    * protocol append): seed a third of the corpus as the lake's
    * layout (v1), land the rest as parquet files, and stream them in
    * with `Trigger.AvailableNow` + `maxFilesPerTrigger` so the ingest
    * spans SEVERAL micro-batches — each landing as one protocol
    * `append` commit tagged `(streaming-sink-<queryId>, batchId)` in
    * the manifest's transaction watermark (a crash-replayed batch
    * skips from the manifest alone; LakeSinkSpec pins the replay).
    * The post-stream manifest must equal the full corpus (px100's
    * oracle): every batch landed, exactly once, through the same
    * stage→audit→publish commit as every batch mutation. Each run
    * starts a fresh stream: the source and checkpoint directories are
    * removed first, because a checkpoint's file-source log names its
    * files by absolute path and would resume a stream over another
    * run's (or another tree's) files. */
  private def px120(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px120_lake")
    val src = Scratch.dir(spark, "px120_src")
    val ckpt = Scratch.dir(spark, "px120_ckpt")
    Seq(src, ckpt).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
    val sharded = hashSplit(Tables(spark, dir, "documents"), "doc_id")
      .withColumn("shard_id", (col("doc_id") % 4).cast("int"))
    Lake.init(spark, sharded.filter(col("doc_id") % 3 === 0), out, Seq("split", "shard_id"))
    sharded.filter(col("doc_id") % 3 =!= 0).repartition(4).write.mode("overwrite").parquet(src)
    val q = spark.readStream.schema(sharded.schema)
      .option("maxFilesPerTrigger", "2").parquet(src)
      .writeStream.format("graft-lake")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(out)
    q.awaitTermination()
    Lake.read(spark, out)
      .groupBy("split", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("split"), col("shard_id").cast("int").as("shard_id"),
        col("n_docs"), col("sum_chars"))
      .orderBy("split", "shard_id")
  }

  // ---------------------------------------------------------------- px121
  /** METADATA TABLES, oracled: the commit log behind plain `SELECT`
    * ([[graft.sources.lake.LakeMetaTables]] — `graft_lake.t$history`,
    * computed driver-side from delta HEADERS alone, zero data-file
    * opens). The fixture's layout is pinned one-file-per-commit
    * (unpartitioned, single-partition writes) so the header counts are
    * data-independent: init lands 1 file, the append 1 file, and the
    * sparse delete touches only the odd-ids file — `n_dv_attached = 1`,
    * nothing added or removed. The oracle is the VALUES literal of that
    * history: a hash-match certifies header-only resolution, the
    * catalog's metadata routing, and the sparse commit's audit-surface
    * counts in one read. */
  private def px121(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px121_lake")
    val docs = Tables(spark, dir, "documents").select("doc_id", "n_chars")
    Lake.init(spark, docs.filter(col("doc_id") % 2 === 0).repartition(1),
      out, Seq.empty)                                                      // v1: 1 file, even ids
    Lake.append(spark, out, docs.filter(col("doc_id") % 2 =!= 0).repartition(1)) // v2: 1 file, odd ids
    deleteFromLakeSparse(spark, out,
      docs.filter(col("doc_id") % 10 === 3).select("doc_id"), "doc_id")    // v3: DV on the odd file only
    spark.conf.set("spark.sql.catalog.graft_lake", "graft.sources.lake.LakeCatalog")
    spark.sql(
      "SELECT version, action, n_added, n_data_added, n_removed, n_dv_attached " +
        s"FROM graft_lake.`$out" + "$history` ORDER BY version")
  }

  private val px121Oracle =
    """SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), 'init',   CAST(1 AS INTEGER), CAST(1 AS INTEGER), CAST(0 AS INTEGER), CAST(0 AS INTEGER)),
      |  (CAST(2 AS BIGINT), 'append', CAST(1 AS INTEGER), CAST(1 AS INTEGER), CAST(0 AS INTEGER), CAST(0 AS INTEGER)),
      |  (CAST(3 AS BIGINT), 'delete', CAST(0 AS INTEGER), CAST(0 AS INTEGER), CAST(0 AS INTEGER), CAST(1 AS INTEGER)))
      |  AS t(version, action, n_added, n_data_added, n_removed, n_dv_attached)
      |ORDER BY version""".stripMargin

  // ---------------------------------------------------------------- px122
  /** PARTITION-LAYOUT EVOLUTION, oracled end-to-end: the corpus lands
    * under the standard (split, shard_id) layout, then
    * [[repartitionLake]] relayouts it to (split) alone — one audited
    * `repartition` commit, clustered on doc_id so the new files carry
    * tight disjoint min/max — and the post-relayout manifest must equal
    * the original corpus (px100's oracle): every row survived the
    * relayout, exactly once, with the old layout retained as history. */
  private def px122(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px122_lake")
    val sharded = hashSplit(Tables(spark, dir, "documents"), "doc_id")
      .withColumn("shard_id", (col("doc_id") % 4).cast("int"))
    Lake.init(spark, sharded, out, Seq("split", "shard_id"))               // v1
    repartitionLake(spark, out, Seq("split"), sortCols = Seq("doc_id"))    // v2: relayout
    Lake.read(spark, out)
      .groupBy("split", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("split"), col("shard_id").cast("int").as("shard_id"),
        col("n_docs"), col("sum_chars"))
      .orderBy("split", "shard_id")
  }

  // ---------------------------------------------------------------- px123
  /** CHECK constraints on the write path, oracled: seed two thirds of
    * the corpus, `CALL add_constraint` a doc_id range the corpus
    * satisfies (validated in one scan), SQL-INSERT the remaining third
    * THROUGH the gate, and prove a violating insert refuses WHOLE —
    * the final manifest must equal exactly the full corpus (px100's
    * oracle): the clean batch landed once, the violating batch landed
    * nothing, and enforcement cost one fused aggregate per append. */
  private def px123(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px123_lake")
    val sharded = hashSplit(Tables(spark, dir, "documents"), "doc_id")
      .withColumn("shard_id", (col("doc_id") % 4).cast("int"))
    Lake.init(spark, sharded.filter(col("doc_id") % 3 =!= 0), out, Seq("split", "shard_id"))
    spark.conf.set("spark.sql.catalog.graft_lake", "graft.sources.lake.LakeCatalog")
    spark.sql("CALL graft_lake.system.add_constraint(" +
      s"table => '$out', name => 'doc_id_nonneg', " +
      "expression => 'doc_id IS NOT NULL AND doc_id >= 0')").collect()
    sharded.filter(col("doc_id") % 3 === 0).createOrReplaceTempView("px123_batch")
    spark.sql(s"INSERT INTO graft_lake.`$out` BY NAME SELECT * FROM px123_batch")
    // the violating batch refuses whole — nothing of it may land
    try {
      spark.sql(s"INSERT INTO graft_lake.`$out` VALUES " +
        "(-1, 'bad', 'xx', 'src', 1, 'train', 0)")
      throw new IllegalStateException("px123: violating insert must refuse")
    } catch { case e: Exception if e.getMessage.contains("CHECK") => () }
    Lake.read(spark, out)
      .groupBy("split", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("split"), col("shard_id").cast("int").as("shard_id"),
        col("n_docs"), col("sum_chars"))
      .orderBy("split", "shard_id")
  }

  // ---------------------------------------------------------------- px124
  /** The FULL SQL MERGE grammar, oracled: one statement carrying a
    * conditional matched DELETE, a split-shape partial UPDATE
    * (referencing BOTH sides), a conditional INSERT with explicit
    * VALUES, and WHEN NOT MATCHED BY SOURCE — routed through
    * [[mergeIntoLakeGeneral]] as ONE sparse deletion-vector commit.
    * The oracle recomputes the merged corpus relationally in DuckDB
    * (its own MERGE predates 1.4): matched `% 21` docs delete, other
    * `% 7` docs bump by their score, unmatched `% 97` docs bump by 7,
    * re-keyed `% 13` docs with non-negative score insert. */
  private def px124(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px124_lake")
    val docs = Tables(spark, dir, "documents")
    val sharded = hashSplit(docs, "doc_id")
      .withColumn("shard_id", (col("doc_id") % 4).cast("int"))
    Lake.init(spark, sharded, out, Seq("split", "shard_id"), statsCols = Seq("doc_id"))
    val matchedSrc = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"),
        when(col("doc_id") % 21 === 0, lit(-1000L))
          .otherwise(col("doc_id") % 100).as("score"),
        col("text"), col("lang"), col("source"), col("n_chars"))
    val newSrc = docs.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 30000000L).as("doc_id"),
        (col("doc_id") % 50 - 10).as("score"),
        col("text"), col("lang"), col("source"), col("n_chars"))
    matchedSrc.unionByName(newSrc).createOrReplaceTempView("px124_src")
    spark.sql("DROP TABLE IF EXISTS px124_corpus")
    spark.sql(s"CREATE TABLE px124_corpus USING `graft-lake` OPTIONS (path '$out')")
    try spark.sql(
      """MERGE INTO px124_corpus t USING px124_src s ON t.doc_id = s.doc_id
        |WHEN MATCHED AND s.score < 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET n_chars = t.n_chars + s.score
        |WHEN NOT MATCHED AND s.score >= 0 THEN
        |  INSERT (doc_id, text, lang, source, n_chars, split, shard_id)
        |  VALUES (s.doc_id, s.text, s.lang, s.source, s.n_chars, 'test',
        |          CAST(s.doc_id % 4 AS INT))
        |WHEN NOT MATCHED BY SOURCE AND t.doc_id % 97 = 0 THEN
        |  UPDATE SET n_chars = t.n_chars + 7""".stripMargin)
    finally spark.sql("DROP TABLE IF EXISTS px124_corpus")
    Lake.read(spark, out)
      .groupBy("split", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("split"), col("shard_id").cast("int").as("shard_id"),
        col("n_docs"), col("sum_chars"))
      .orderBy("split", "shard_id")
  }

  private val px124Oracle =
    """WITH base AS (
      |  SELECT doc_id, n_chars,
      |    CASE
      |      WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
      |      WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
      |      ELSE 'test' END AS split,
      |    CAST(doc_id % 4 AS INTEGER) AS shard_id
      |  FROM documents),
      |merged AS (
      |  SELECT split, shard_id,
      |    CASE
      |      WHEN doc_id % 7 = 0 THEN n_chars + (doc_id % 100)
      |      WHEN doc_id % 97 = 0 THEN n_chars + 7
      |      ELSE n_chars END AS n_chars
      |  FROM base WHERE NOT (doc_id % 7 = 0 AND doc_id % 21 = 0)
      |  UNION ALL
      |  SELECT 'test' AS split,
      |    CAST((doc_id + 30000000) % 4 AS INTEGER) AS shard_id, n_chars
      |  FROM documents WHERE doc_id % 13 = 0 AND (doc_id % 50 - 10) >= 0)
      |SELECT split, shard_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM merged GROUP BY 1, 2 ORDER BY split, shard_id""".stripMargin

  // ---------------------------------------------------------------- px125
  /** Partition-spec EVOLUTION, oracled: seed two thirds of the corpus
    * under (split, shard_id), `CALL evolve_layout` to (split) — a
    * METADATA commit, zero data bytes — append the remaining third
    * (it lands under the NEW layout, its shard_id moving into the
    * footers), and aggregate the UNION of both generations: the result
    * must hash-match the full corpus (px100's oracle), certifying
    * mixed-generation reads end-to-end. */
  private def px125(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px125_lake")
    val sharded = hashSplit(Tables(spark, dir, "documents"), "doc_id")
      .withColumn("shard_id", (col("doc_id") % 4).cast("int"))
    Lake.init(spark, sharded.filter(col("doc_id") % 3 =!= 0), out, Seq("split", "shard_id"))
    spark.conf.set("spark.sql.catalog.graft_lake", "graft.sources.lake.LakeCatalog")
    spark.sql(s"CALL graft_lake.system.evolve_layout(table => '$out', " +
      "partition_by => 'split')").collect()
    Lake.append(spark, out, sharded.filter(col("doc_id") % 3 === 0))
    Lake.read(spark, out)
      .groupBy("split", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("split"), col("shard_id").cast("int").as("shard_id"),
        col("n_docs"), col("sum_chars"))
      .orderBy("split", "shard_id")
  }

  // ---------------------------------------------------------------- px126
  /** CDF-PARITY update events, oracled end-to-end: run the px124
    * full-grammar MERGE (conditional DELETE, split-shape UPDATE,
    * conditional INSERT, NOT MATCHED BY SOURCE), then serve the
    * row-level [[Lake.changeFeed]] of that ONE commit and aggregate it
    * by change type. Delta-CDF semantics: the DELETE clause's rows feed
    * `delete`; both update clauses feed `update_preimage` paired with
    * `update_postimage` (the post-images ride as `AU`-tagged add files
    * — no `_change_data` double-write); the INSERT clause feeds
    * `insert`. The oracle recomputes every event class relationally —
    * a feature store replaying this feed can now distinguish an update
    * from a genuine delete+insert pair. */
  private def px126(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px126_lake")
    val docs = Tables(spark, dir, "documents")
    val sharded = hashSplit(docs, "doc_id")
      .withColumn("shard_id", (col("doc_id") % 4).cast("int"))
    Lake.init(spark, sharded, out, Seq("split", "shard_id"), statsCols = Seq("doc_id"))
    val matchedSrc = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"),
        when(col("doc_id") % 21 === 0, lit(-1000L))
          .otherwise(col("doc_id") % 100).as("score"),
        col("text"), col("lang"), col("source"), col("n_chars"))
    val newSrc = docs.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 30000000L).as("doc_id"),
        (col("doc_id") % 50 - 10).as("score"),
        col("text"), col("lang"), col("source"), col("n_chars"))
    matchedSrc.unionByName(newSrc).createOrReplaceTempView("px126_src")
    spark.sql("DROP TABLE IF EXISTS px126_corpus")
    spark.sql(s"CREATE TABLE px126_corpus USING `graft-lake` OPTIONS (path '$out')")
    try spark.sql(
      """MERGE INTO px126_corpus t USING px126_src s ON t.doc_id = s.doc_id
        |WHEN MATCHED AND s.score < 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET n_chars = t.n_chars + s.score
        |WHEN NOT MATCHED AND s.score >= 0 THEN
        |  INSERT (doc_id, text, lang, source, n_chars, split, shard_id)
        |  VALUES (s.doc_id, s.text, s.lang, s.source, s.n_chars, 'test',
        |          CAST(s.doc_id % 4 AS INT))
        |WHEN NOT MATCHED BY SOURCE AND t.doc_id % 97 = 0 THEN
        |  UPDATE SET n_chars = t.n_chars + 7""".stripMargin)
    finally spark.sql("DROP TABLE IF EXISTS px126_corpus")
    Lake.changeFeed(spark, out, 1L, 2L)
      .groupBy("_change_type", "split")
      .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"))
      .select(col("_change_type"), col("split"), col("n_rows"), col("sum_chars"))
      .orderBy("_change_type", "split")
  }

  private val px126Oracle =
    """WITH base AS (
      |  SELECT doc_id, n_chars,
      |    CASE
      |      WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
      |      WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
      |      ELSE 'test' END AS split
      |  FROM documents),
      |events AS (
      |  SELECT 'delete' AS _change_type, split, n_chars
      |  FROM base WHERE doc_id % 21 = 0
      |  UNION ALL
      |  SELECT 'update_preimage', split, n_chars
      |  FROM base WHERE doc_id % 7 = 0 AND doc_id % 21 <> 0
      |  UNION ALL
      |  SELECT 'update_postimage', split, n_chars + (doc_id % 100)
      |  FROM base WHERE doc_id % 7 = 0 AND doc_id % 21 <> 0
      |  UNION ALL
      |  SELECT 'update_preimage', split, n_chars
      |  FROM base WHERE doc_id % 97 = 0 AND doc_id % 7 <> 0
      |  UNION ALL
      |  SELECT 'update_postimage', split, n_chars + 7
      |  FROM base WHERE doc_id % 97 = 0 AND doc_id % 7 <> 0
      |  UNION ALL
      |  SELECT 'insert', 'test', n_chars
      |  FROM documents WHERE doc_id % 13 = 0 AND (doc_id % 50 - 10) >= 0)
      |SELECT _change_type, split,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM events GROUP BY 1, 2 ORDER BY _change_type, split""".stripMargin

  // ---------------------------------------------------------------- px127
  /** PARTITION TRANSFORMS, oracled end-to-end — the Iceberg
    * spec-evolution headline: an events-style lake lands two thirds of
    * the stream under a `days(ts)` transform layout (the `ts` column
    * STAYS in the footers; paths spell derived `ts_day=` levels),
    * `evolveLayout` moves the grain to `hours(ts)` as a CONSTANT-TIME
    * metadata commit, the remaining third appends under `ts_hour=`
    * levels, and a day x type aggregate over the mixed-generation union
    * must hash-match the raw events table — certifying transform
    * rendering, per-generation reads and the footer-resident source
    * column in one number. Transform-level PATH pruning (a day window
    * keeps only its `ts_day=`/`ts_hour=` files) is spec-pinned in
    * LakeSpec. */
  private def px127(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px127_lake")
    val ev = Tables(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    // THREE grain generations, coarse history to fine future — the
    // realistic multi-evolve shape a long-lived events lake walks:
    // the deep archive (month-days 16+) at MONTH grain, the recent
    // window at DAY grain, the newest day at HOUR grain. Each evolve
    // is a metadata commit; the final read spans all three. Writes
    // repartition BY the level expression so each directory is
    // written by one task (no hour-dir explosion).
    val day = date_format(col("ts"), "yyyy-MM-dd")
    val minDay = ev.agg(min(day)).collect()(0).getString(0)
    val archive = dayofmonth(col("ts")) > 15
    Lake.init(spark, ev.filter(archive)
      .repartition(date_format(col("ts"), "yyyy-MM")), out, Seq("months(ts)"))
    Lake.evolveLayout(spark, out, Seq("days(ts)"))
    Lake.append(spark, out, ev.filter(!archive && day =!= minDay).repartition(day))
    Lake.evolveLayout(spark, out, Seq("hours(ts)"))
    Lake.append(spark, out, ev.filter(day === minDay)
      .repartition(date_format(col("ts"), "yyyy-MM-dd-HH")))
    Lake.read(spark, out)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("sum_ids"))
      .select(col("day"), col("event_type"), col("n_events"), col("sum_ids"))
      .orderBy("day", "event_type")
  }

  private val px127Oracle =
    """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(event_id) AS BIGINT) AS sum_ids
      |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin

  // ---------------------------------------------------------------- px128
  /** Sparse merge into a BLOOM-INDEXED, UUID-shaped-key lake, oracled
    * end-to-end: the corpus keys pass through an affine permutation mod
    * a prime (injective, so the oracle recomputes it relationally) that
    * scatters neighboring ids across every file — the exact layout
    * where min/max stats prune NOTHING and a key-range merge would read
    * the whole corpus. `Lake.init(bloomCols = doc_id)` writes per-file
    * parquet footer bloom filters (fpp 1e-7); the sparse merge's
    * candidate selection probes them with the source keys
    * ([[Lake.pruneByBloom]] — one distributed job, Hudi bloom-index /
    * Delta bloom-index parity) and tombstones only the files actually
    * holding matches. The post-merge aggregate hash-matches a DuckDB
    * recomputation of upsert-then-insert. */
  private def px128(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px128_lake")
    val docs = Tables(spark, dir, "documents")
    val scattered = docs.select(
      pmod(col("doc_id") * lit(2654435761L), lit(1000000007L)).as("doc_id"),
      col("text"), col("lang"), col("source"), col("n_chars"))
      .withColumn("split", lit("train"))
    Lake.init(spark, scattered.repartition(16), out, Seq("split"),
      bloomCols = Seq("doc_id"))
    val updates = scattered.filter(col("doc_id") % 97 === 0)
      .withColumn("n_chars", col("n_chars") + lit(1000L))
    val inserts = scattered.filter(col("doc_id") % 89 === 0)
      .withColumn("doc_id", col("doc_id") + lit(2000000000L))
    mergeIntoLakeSparse(spark, out, updates.unionByName(inserts), idCol = "doc_id")
    Lake.read(spark, out)
      .groupBy((col("doc_id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        sum(col("doc_id")).as("sum_ids"))
      .select(col("bucket"), col("n_docs"), col("sum_chars"), col("sum_ids"))
      .orderBy("bucket")
  }

  private val px128Oracle =
    """WITH scattered AS (
      |  SELECT (doc_id * 2654435761) % 1000000007 AS doc_id, n_chars
      |  FROM documents),
      |merged AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 97 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars
      |  FROM scattered
      |  UNION ALL
      |  SELECT doc_id + 2000000000, n_chars FROM scattered WHERE doc_id % 89 = 0)
      |SELECT doc_id % 10 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
      |FROM merged GROUP BY 1 ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- px129
  /** NULL-COUNT stats end-to-end: a lake whose audit recorded per-file
    * null counts (`c#nulls` — Delta nullCount parity) serves an SQL
    * `DELETE … WHERE col IS NULL` through the sparse-WHERE path (the
    * nullness bound file-skips via [[Lake.pruneByStats]]) and an
    * `IS NOT NULL` filtered read back. The hash-match certifies the
    * null-stat capture never corrupts ordinary stats, the IS NULL
    * delete lands exactly, and the IsNotNull read path loses nothing. */
  private def px129(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px129_lake")
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("lang_tag",
        when(col("doc_id") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("lang")))
      .withColumn("split", lit("train"))
    Lake.init(spark,
      docs.repartitionByRange(8, col("doc_id")).sortWithinPartitions("doc_id"),
      out, Seq("split"))
    spark.sql("DROP TABLE IF EXISTS px129_corpus")
    spark.sql(s"CREATE TABLE px129_corpus USING `graft-lake` OPTIONS (path '$out')")
    try spark.sql("DELETE FROM px129_corpus WHERE lang_tag IS NULL")
    finally spark.sql("DROP TABLE IF EXISTS px129_corpus")
    Lake.read(spark, out)
      .filter(col("lang_tag").isNotNull)
      .groupBy("lang_tag")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        sum(col("doc_id")).as("sum_ids"))
      .orderBy("lang_tag")
  }

  private val px129Oracle =
    """WITH base AS (
      |  SELECT doc_id, n_chars,
      |    CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang_tag
      |  FROM documents)
      |SELECT lang_tag, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
      |FROM base WHERE lang_tag IS NOT NULL
      |GROUP BY 1 ORDER BY lang_tag""".stripMargin

  // ---------------------------------------------------------------- px130
  /** COLUMNAR (parquet) manifest checkpoints end-to-end: with the
    * entries threshold lowered, eleven commits cross the checkpoint
    * grid so version 10's checkpoint lands as a `graft-checkpoint-v3`
    * stub + Spark-written parquet entries (the Delta checkpoint-parquet
    * design — at 10^6 files the text checkpoint is a multi-GB driver
    * parse before ANY query plans), and the final read resolves THROUGH
    * that columnar state plus one tail delta. The hash-match certifies
    * the columnar round-trip carries every file, stat and schema
    * exactly. */
  private def px130(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px130_lake")
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "8")
    try {
      val docs = Tables(spark, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("split", lit("train"))
      Lake.init(spark, docs.repartition(8), out, Seq("split"))           // v1
      (0 until 10).foreach { i =>                                        // v2..v11
        appendToLake(spark, out,
          docs.filter(pmod(col("doc_id"), lit(9973L)) === i)
            .withColumn("doc_id", col("doc_id") + lit(10000000L * (i + 1))))
      }
      Lake.read(spark, out)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          sum(col("doc_id")).as("sum_ids"))
        .orderBy("source")
    } finally spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
  }

  private val px130Oracle =
    """WITH lake AS (
      |  SELECT source, n_chars, doc_id FROM documents
      |  UNION ALL
      |  SELECT source, n_chars,
      |    doc_id + 10000000 * ((doc_id % 9973) + 1) AS doc_id
      |  FROM documents WHERE doc_id % 9973 < 10)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
      |FROM lake GROUP BY 1 ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- px131
  /** LAZY-STATS resolution end-to-end (px130's columnar-checkpoint lake
    * under `spark.graft.lake.checkpoint.lazyStats`): the final read
    * resolves through the v3 stub WITHOUT materializing the checkpoint
    * files' stats on the driver — pruning, merge-on-read planning and
    * the aggregate all run off the lazy state. The hash-match (same
    * oracle construction as px130) certifies the stats-less resolution
    * serves byte-identical results. */
  private def px131(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px131_lake")
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "8")
    spark.conf.set(Lake.LazyStatsKey, "true")
    try {
      val docs = Tables(spark, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("split", lit("train"))
      Lake.init(spark, docs.repartition(8), out, Seq("split"))           // v1
      (0 until 10).foreach { i =>                                        // v2..v11
        appendToLake(spark, out,
          docs.filter(pmod(col("doc_id"), lit(9973L)) === i)
            .withColumn("doc_id", col("doc_id") + lit(10000000L * (i + 1))))
      }
      Lake.invalidateStateCache() // resolve fresh under the lazy conf
      val st = Lake.latestManifest(spark, out).get
      require(st.cpLazy.isDefined, "px131 must resolve lazily")
      Lake.readResolved(spark, out, st)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          sum(col("doc_id")).as("sum_ids"))
        .orderBy("source")
    } finally {
      spark.conf.unset(Lake.LazyStatsKey)
      spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
    }
  }

  // ---------------------------------------------------------------- px132
  /** TWO-LEVEL pruning end-to-end: a PARTITION-banded predicate over a
    * lazily-resolved columnar-checkpoint lake plans from the stub's `SC`
    * stat-column census plus the file paths alone — the fixture REQUIRES
    * zero entries jobs via the [[Lake.lazyPruneJobs]] counter — and the
    * DSv2 read still serves the exact filtered aggregate. The census
    * proves the entries carry no `split` stats (path levels are excluded
    * from capture), so `statsOverlap` is vacuously true for every
    * checkpoint resident and the identity level in the directory name
    * decides (the Iceberg manifest-list idea in O(columns) stub bytes). */
  private def px132(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px132_lake")
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "8")
    try {
      val docs = hashSplit(Tables(spark, dir, "documents"), "doc_id")
        .select(col("doc_id"), col("source"), col("n_chars"), col("split"))
      Lake.init(spark, docs.repartition(8), out, Seq("split"))              // v1
      appendToLake(spark, out,
        docs.filter(pmod(col("doc_id"), lit(9973L)) === 0L)
          .withColumn("doc_id", col("doc_id") + lit(10000000L)),
        partitionCols = Seq("split"))                                       // v2
      Lake.checkpointNow(spark, out) // v2's checkpoint lands COLUMNAR
      appendToLake(spark, out,
        docs.filter(pmod(col("doc_id"), lit(9973L)) === 1L)
          .withColumn("doc_id", col("doc_id") + lit(20000000L)),
        partitionCols = Seq("split"))                                       // v3: tail delta
      Lake.invalidateStateCache()
      require(Lake.latestManifest(spark, out).get.cpLazy.isDefined,
        "px132 must resolve lazily")
      val res = spark.read.format("graft-lake").load(out)
        .filter(col("split") === "val")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          sum(col("doc_id")).as("sum_ids"))
        .orderBy("source")
      val jobs0 = Lake.lazyPruneJobs.get()
      // plan + execute NOW, so the counter judgment is honest — as an
      // EAGER checkpoint, not a collect: the caller's action then reads
      // the materialized blocks instead of paying the whole lazy-prune
      // read a second time (the old collect doubled every job of the
      // query's most expensive plan)
      val resCk = res.localCheckpoint(true)
      require(Lake.lazyPruneJobs.get() == jobs0,
        "px132: a partition-banded predicate must plan with ZERO entries jobs")
      resCk
    } finally spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
  }

  private val px132Oracle =
    """WITH docs AS (
      |  SELECT doc_id, source, n_chars, CASE
      |    WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
      |    WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
      |    ELSE 'test' END AS split
      |  FROM documents),
      |lake AS (
      |  SELECT doc_id, source, n_chars, split FROM docs
      |  UNION ALL
      |  SELECT doc_id + 10000000, source, n_chars, split FROM docs WHERE doc_id % 9973 = 0
      |  UNION ALL
      |  SELECT doc_id + 20000000, source, n_chars, split FROM docs WHERE doc_id % 9973 = 1)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
      |FROM lake WHERE split = 'val' GROUP BY 1 ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- px133
  /** DISTRIBUTED vacuum end-to-end: a crashed writer's staged delete
    * (staged + audited, never published — data files AND a change-feed
    * sidecar, all invisible to readers) is reclaimed by the
    * Delta-VACUUM-shaped sweep with the listing and the deletes running
    * as Spark jobs — the fixture REQUIRES the reclaim to be exactly the
    * crashed stage and the driver's own filesystem calls to be bounded
    * by DIRECTORIES (the [[Lake.vacuumDriverFsOps]] counter), then
    * hash-matches the corpus reading back EXACTLY untouched. */
  private def px133(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px133_lake")
    val sharded = hashSplit(Tables(spark, dir, "documents"), "doc_id")
      .withColumn("shard_id", (col("doc_id") % 4).cast("int"))
    Lake.init(spark, sharded, out, Seq("split", "shard_id"))                 // v1
    // the crash: stage a surgical delete, never publish it
    val staged = stageLakeDelete(spark, out,
      Tables(spark, dir, "documents")
        .filter(col("doc_id") % 131 === 0).select("doc_id"),
      "doc_id", "doc_id", Seq("split", "shard_id")).get
    spark.conf.set(Lake.VacuumDistributeMinKey, "1")
    try {
      val ops0 = Lake.vacuumDriverFsOps.get()
      val dead = Lake.vacuum(spark, out)
      val ops = Lake.vacuumDriverFsOps.get() - ops0
      require(dead.toSet ==
        (staged.stagedFiles ++ staged.cdcFiles.map(_._1)).toSet,
        s"px133: vacuum must reclaim exactly the crashed stage, got ${dead.size}")
      require(ops <= 8,
        s"px133: driver filesystem calls must be directory-bounded, got $ops")
    } finally spark.conf.unset(Lake.VacuumDistributeMinKey)
    Lake.read(spark, out)
      .groupBy("split", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("split"), col("shard_id").cast("int").as("shard_id"),
        col("n_docs"), col("sum_chars"))
      .orderBy("split", "shard_id")
  }

  private val px133Oracle =
    """SELECT CASE
      |    WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
      |    WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
      |    ELSE 'test' END AS split,
      |  CAST(doc_id % 4 AS INTEGER) AS shard_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |GROUP BY 1, 2 ORDER BY split, shard_id""".stripMargin

  // ---------------------------------------------------------------- px134
  /** PATH-LAZY planning end-to-end: with the threshold lowered, the
    * resolved state defers even the FILE LIST to the checkpoint entries
    * — the fixture REQUIRES the driver to pin only the post-checkpoint
    * tail ([[Lake.pinnedPathCount]]), whole-table pricing to stay
    * zero-job AND zero-force off the stub's `DC` sums flag, and the
    * full unpruned DSv2 read to cost at most one transient (soft-cached)
    * materialization job ([[Lake.pathForceJobs]]) — then hash-matches
    * the whole-table aggregate. The Delta Snapshot/filesForScan shape:
    * a 10^8-file lake's resolved state is O(tail) driver heap. */
  private def px134(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px134_lake")
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "8")
    spark.conf.set(Lake.PathLazyMinFilesKey, "1")
    try {
      val docs = hashSplit(Tables(spark, dir, "documents"), "doc_id")
        .select(col("doc_id"), col("source"), col("n_chars"), col("split"))
      Lake.init(spark, docs.repartition(8), out, Seq("split"))              // v1
      appendToLake(spark, out,
        docs.filter(pmod(col("doc_id"), lit(9973L)) === 0L)
          .withColumn("doc_id", col("doc_id") + lit(10000000L)),
        partitionCols = Seq("split"))                                       // v2
      Lake.checkpointNow(spark, out) // v2's checkpoint lands COLUMNAR
      appendToLake(spark, out,
        docs.filter(pmod(col("doc_id"), lit(9973L)) === 1L)
          .withColumn("doc_id", col("doc_id") + lit(20000000L)),
        partitionCols = Seq("split"))                                       // v3: tail delta
      Lake.invalidateStateCache()
      val st = Lake.latestManifest(spark, out).get
      require(st.files.isInstanceOf[Lake.DeferredFiles],
        "px134 must defer the path list")
      val tailN = st.cpLazy.get.tailAdded.size
      require(tailN >= 1 && Lake.pinnedPathCount(st) == tailN,
        s"px134: the state must pin only the tail, got ${Lake.pinnedPathCount(st)}")
      val priceJobs0 = Lake.lazyPriceJobs.get()
      val forces0 = Lake.pathForceJobs.get()
      require(Lake.reservedTotals(spark, st, st.files)._1.isDefined,
        "px134: the lake must be fully counted")
      require(Lake.lazyPriceJobs.get() == priceJobs0 &&
        Lake.pathForceJobs.get() == forces0,
        "px134: whole-table pricing must be zero-job and zero-force")
      val res = spark.read.format("graft-lake").load(out)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          sum(col("doc_id")).as("sum_ids"))
        .orderBy("source")
      // plan + execute NOW, so the force judgment is honest — eager
      // checkpoint instead of collect (see px132): one execution serves
      // both the probe and the caller's action
      val resCk = res.localCheckpoint(true)
      require(Lake.pathForceJobs.get() <= forces0 + 2,
        s"px134: the unpruned read must cost at most one soft-cached " +
          s"materialization per plan, got ${Lake.pathForceJobs.get() - forces0}")
      require(Lake.pinnedPathCount(st) == tailN,
        "px134: the read must not pin the corpus list on the state")
      resCk
    } finally {
      spark.conf.unset(Lake.PathLazyMinFilesKey)
      spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
    }
  }

  private val px134Oracle =
    """WITH docs AS (
      |  SELECT doc_id, source, n_chars FROM documents),
      |lake AS (
      |  SELECT doc_id, source, n_chars FROM docs
      |  UNION ALL
      |  SELECT doc_id + 10000000, source, n_chars FROM docs WHERE doc_id % 9973 = 0
      |  UNION ALL
      |  SELECT doc_id + 20000000, source, n_chars FROM docs WHERE doc_id % 9973 = 1)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
      |FROM lake GROUP BY 1 ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- px135
  /** RETENTION under path-lazy, end-to-end: a lake with delete churn on
    * both sides of a columnar checkpoint takes a retention cut
    * ([[Lake.vacuumKeeping]]) whose live set derives from the retained
    * DELTAS (no per-version resolve) and whose sweep diffs inside the
    * listing job — the fixture REQUIRES the cut to reclaim the expired
    * pre-images with [[Lake.pathForceJobs]] FLAT (neither the corpus
    * path list nor the history list ever materializes), then
    * hash-matches BOTH the post-cut lake and the oldest retained
    * version's time travel against DuckDB recomputing the lifecycle. */
  private def px135(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px135_lake")
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "8")
    spark.conf.set(Lake.PathLazyMinFilesKey, "1")
    spark.conf.set(Lake.VacuumDistributeMinKey, "1") // distribute at spec scale
    try {
      val docs = hashSplit(Tables(spark, dir, "documents"), "doc_id")
        .select(col("doc_id"), col("n_chars"), col("split"))
      Lake.init(spark, docs.repartition(8), out, Seq("split"))              // v1
      deleteFromLake(spark, out,
        docs.filter(pmod(col("doc_id"), lit(8191L)) === 0L).select("doc_id"),
        "doc_id", partitionCols = Seq("split"), retainHistory = true)       // v2
      Lake.checkpointNow(spark, out) // columnar cp at v2: H rows carry v2's pre-images
      appendToLake(spark, out,
        docs.filter(pmod(col("doc_id"), lit(9973L)) === 2L)
          .withColumn("doc_id", col("doc_id") + lit(30000000L)),
        partitionCols = Seq("split"))                                       // v3
      deleteFromLake(spark, out,
        docs.filter(pmod(col("doc_id"), lit(8191L)) === 1L).select("doc_id"),
        "doc_id", partitionCols = Seq("split"), retainHistory = true)       // v4
      Lake.invalidateStateCache()
      val st = Lake.latestManifest(spark, out).get
      require(st.files.isInstanceOf[Lake.DeferredFiles] &&
        st.history.isInstanceOf[Lake.DeferredHistory],
        "px135 must defer both the path list and the history")
      val forces0 = Lake.pathForceJobs.get()
      val dead = Lake.vacuumKeeping(spark, out, keepVersions = 2)
      require(dead.nonEmpty,
        "px135: the cut must reclaim the expired pre-image history")
      require(Lake.pathForceJobs.get() == forces0,
        "px135: a restore-free retention cut must never materialize a " +
          "deferred path or history list")
      Lake.invalidateStateCache()
      def agg(df: DataFrame, snap: String) = df
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          sum(col("doc_id")).as("sum_ids"))
        .select(lit(snap).as("snap"), col("n_docs"), col("sum_chars"),
          col("sum_ids"))
      agg(spark.read.format("graft-lake").load(out), "latest")
        .unionByName(agg(Lake.readVersion(spark, out, 3L), "retained"))
        .orderBy("snap")
    } finally {
      spark.conf.unset(Lake.VacuumDistributeMinKey)
      spark.conf.unset(Lake.PathLazyMinFilesKey)
      spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
    }
  }

  private val px135Oracle =
    """WITH base AS (SELECT doc_id, n_chars FROM documents),
      |v3rows AS (
      |  SELECT doc_id, n_chars FROM base WHERE doc_id % 8191 <> 0
      |  UNION ALL
      |  SELECT doc_id + 30000000 AS doc_id, n_chars FROM base WHERE doc_id % 9973 = 2),
      |v4rows AS (
      |  SELECT doc_id, n_chars FROM v3rows
      |  WHERE doc_id >= 30000000 OR doc_id % 8191 <> 1)
      |SELECT 'latest' AS snap, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids FROM v4rows
      |UNION ALL
      |SELECT 'retained' AS snap, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids FROM v3rows
      |ORDER BY snap""".stripMargin

  // ---------------------------------------------------------------- px136
  /** DV-LAZY planning end-to-end: with the pair threshold lowered, the
    * resolved state defers even the deletion-vector ATTACHMENT MAP to
    * the checkpoint entries' `V` rows — the fixture REQUIRES the driver
    * to pin only the post-checkpoint dv tail ([[Lake.pinnedDvCount]])
    * and the full merge-on-read DSv2 read to run with ZERO whole-map
    * forces ([[Lake.dvForceJobs]]): file relevance for the sidecar
    * anti-join resolves INSIDE a job over the entries, the Delta
    * DV-descriptors-in-the-checkpoint shape — then hash-matches the
    * surviving corpus. A fully sparse-deleted 10^8-file lake plans its
    * reads with O(tail) driver heap for attachments, like px134's
    * paths. */
  private def px136(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px136_lake")
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "8")
    spark.conf.set(Lake.PathLazyMinFilesKey, "1")
    spark.conf.set(Lake.DvLazyMinPairsKey, "1")
    try {
      val docs = hashSplit(Tables(spark, dir, "documents"), "doc_id")
        .select(col("doc_id"), col("source"), col("n_chars"), col("split"))
      Lake.init(spark, docs.repartition(8), out, Seq("split"),
        statsCols = Seq("doc_id"))                                          // v1
      deleteFromLakeSparse(spark, out,
        docs.filter(col("doc_id") % 23 === 0).select("doc_id"), "doc_id")   // v2: DVs
      Lake.checkpointNow(spark, out) // columnar: V rows + the VC census
      deleteFromLakeSparse(spark, out,
        docs.filter(col("doc_id") % 29 === 0).select("doc_id"), "doc_id")   // v3: the dv tail
      Lake.invalidateStateCache()
      val st = Lake.latestManifest(spark, out).get
      require(st.dvs.isInstanceOf[Lake.DeferredDvs],
        "px136 must defer the attachment map")
      require(st.files.isInstanceOf[Lake.DeferredFiles],
        "px136 must defer the path list")
      val tailPairs = Lake.pinnedDvCount(st)
      require(tailPairs >= 1,
        "px136: the post-checkpoint sparse delete must pin a dv tail")
      val dvForces0 = Lake.dvForceJobs.get()
      val res = spark.read.format("graft-lake").load(out)
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          sum(col("doc_id")).as("sum_ids"))
        .orderBy("split")
      // plan + execute NOW, so the force judgment is honest — eager
      // checkpoint instead of collect (see px132): one execution serves
      // both the probe and the caller's action
      val resCk = res.localCheckpoint(true)
      require(Lake.dvForceJobs.get() == dvForces0,
        "px136: the MoR read must never materialize the deferred attachment map")
      require(Lake.pinnedDvCount(st) == tailPairs,
        "px136: the read must not pin the attachment map on the state")
      resCk
    } finally {
      spark.conf.unset(Lake.DvLazyMinPairsKey)
      spark.conf.unset(Lake.PathLazyMinFilesKey)
      spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
    }
  }

  private val px136Oracle =
    """SELECT CASE
      |    WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
      |    WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
      |    ELSE 'test' END AS split,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
      |FROM documents WHERE doc_id % 23 <> 0 AND doc_id % 29 <> 0
      |GROUP BY 1 ORDER BY split""".stripMargin

  // ---------------------------------------------------------------- px116
  /** SQL row-level DELETE — the lake's best write-amplification
    * property (sparse deletion-vector commits) behind pure SQL:
    * `DELETE FROM corpus WHERE …` on a `graft-lake` table routes
    * through [[graft.sources.lake.LakeDeletes]] to
    * [[deleteFromLakeSparseWhere]], landing as ONE protocol commit that
    * attaches `(file, pos)` tombstones (zero data files added or
    * removed — LakeSpec pins it via describeHistory), writes the purged
    * pre-image to the change-feed sidecar, and stats-prunes the
    * candidate files from the predicate's bounds. The post-delete
    * manifest must equal the corpus minus the deleted range — a single
    * hash-match certifying the SQL DELETE translation, the sparse
    * commit, and the merge-on-read lake read. */
  private def px116(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px116_lake")
    val sharded = hashSplit(Tables(spark, dir, "documents"), "doc_id")
      .withColumn("shard_id", (col("doc_id") % 4).cast("int"))
    Lake.init(spark, sharded, out, Seq("split", "shard_id"), statsCols = Seq("doc_id"))
    spark.sql("DROP TABLE IF EXISTS px116_corpus")
    spark.sql(s"CREATE TABLE px116_corpus USING `graft-lake` OPTIONS (path '$out')")
    try spark.sql("DELETE FROM px116_corpus WHERE doc_id >= 17 AND doc_id < 170")
    finally spark.sql("DROP TABLE IF EXISTS px116_corpus")
    Lake.read(spark, out)
      .groupBy("split", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("split"), col("shard_id").cast("int").as("shard_id"),
        col("n_docs"), col("sum_chars"))
      .orderBy("split", "shard_id")
  }

  private val px116Oracle =
    """SELECT CASE
      |    WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
      |    WHEN substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
      |    ELSE 'test' END AS split,
      |  CAST(doc_id % 4 AS INTEGER) AS shard_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE NOT (doc_id >= 17 AND doc_id < 170)
      |GROUP BY 1, 2 ORDER BY split, shard_id""".stripMargin

  // ---------------------------------------------------------------- px110
  /** The lake behind a format string — [[graft.sources.lake.LakeSource]]
    * puts manifest resolution and time travel on the standard DSv2
    * surface, so SQL/Python users read a lake (at any retained version)
    * with `spark.read.format("graft-lake").option("version", v)` and no
    * Scala helpers. The query replays px106's history (seed v1, full-
    * corpus append v2) and reads VERSION 1 through the format string: the
    * result must equal px106's direct [[Lake.readVersion]] read — same
    * oracle — and PlanSpec pins that partition pruning and parquet
    * pushdown survive the indirection. */
  private def px110(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px110_lake")
    val sharded = hashSplit(Tables(spark, dir, "documents"), "doc_id")
      .withColumn("shard_id", (col("doc_id") % 4).cast("int"))
    Lake.init(spark, sharded.filter(col("doc_id") % 3 =!= 0), out, Seq("split", "shard_id"))
    appendToLake(spark, out, sharded)
    spark.read.format("graft-lake").option("version", 1L).load(out)
      .groupBy("split", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("split"), col("shard_id").cast("int").as("shard_id"),
        col("n_docs"), col("sum_chars"))
      .orderBy("split", "shard_id")
  }

  // ---------------------------------------------------------------- px112
  /** Restore — the undo button closing the lifecycle: a bad mutation
    * (here px101's tombstone delete, history retained) is rolled back by
    * [[Lake.restore]], which re-commits the pre-mutation file set as a
    * new version without copying a byte. The post-restore manifest must
    * equal the ORIGINAL corpus manifest (px100's oracle): the delete
    * happened, was audited, stayed readable as history — and then was
    * undone atomically. */
  private def px112(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "px112_lake")
    val sharded = hashSplit(Tables(spark, dir, "documents"), "doc_id")
      .withColumn("shard_id", (col("doc_id") % 4).cast("int"))
    Lake.init(spark, sharded, out, Seq("split", "shard_id"))             // v1
    val tomb = Tables(spark, dir, "documents")
      .filter(col("doc_id") % 131 === 0).select("doc_id")
    deleteFromLake(spark, out, tomb, "doc_id", retainHistory = true)     // v2
    Lake.restore(spark, out, 1L)                                         // v3 = v1 again
      .groupBy("split", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("split"), col("shard_id").cast("int").as("shard_id"),
        col("n_docs"), col("sum_chars"))
      .orderBy("split", "shard_id")
  }

  private def px104(spark: SparkSession, dir: String): DataFrame =
    profileTable(Tables(spark, dir, "documents"),
        Seq("doc_id", "lang", "source", "n_chars"))
      .orderBy("column")

  private val px104Oracle =
    """WITH p AS (
      |  SELECT 'doc_id' AS "column", COUNT(*) AS n_rows,
      |    COUNT(*) - COUNT(doc_id) AS n_null, COUNT(DISTINCT doc_id) AS n_distinct,
      |    CAST(MIN(doc_id) AS VARCHAR) AS min_s, CAST(MAX(doc_id) AS VARCHAR) AS max_s
      |  FROM documents
      |  UNION ALL
      |  SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang), COUNT(DISTINCT lang),
      |    MIN(lang), MAX(lang) FROM documents
      |  UNION ALL
      |  SELECT 'source', COUNT(*), COUNT(*) - COUNT(source), COUNT(DISTINCT source),
      |    MIN(source), MAX(source) FROM documents
      |  UNION ALL
      |  SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars), COUNT(DISTINCT n_chars),
      |    CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR) FROM documents)
      |SELECT "column", CAST(n_rows AS BIGINT) AS n_rows, CAST(n_null AS BIGINT) AS n_null,
      |  CAST(n_distinct AS BIGINT) AS n_distinct, min_s, max_s
      |FROM p ORDER BY "column"""".stripMargin

  // ---------------------------------------------------------------- px105
  /** Multi-signal quality blending — the classifier-ensemble cut of
    * modern curation pipelines (DCLM/FineWeb-style: several weak quality
    * signals, each percentile-normalized so their scales don't fight,
    * averaged into one blended score, top fraction kept). Signals here
    * are the library's own oracled scorers: tx33's type-token-ratio
    * quality (higher = better) and tx45's self-trained unigram NLL
    * (lower = more fluent).
    *
    * Percentile normalization uses [[graft.api.Ops.withGlobalRowNumber]]
    * — the range-partitioned distributed rank — NOT a global window, so
    * no single task ever sees the corpus (the px94 discipline). Ranks are
    * made total by a doc_id tie-break, so every percentile, the blend,
    * and the kept set are pure functions of the corpus and bitwise
    * reproducible in the oracle (integer-exact rank / (n-1) division on
    * both engines). Docs with no signal (empty text) are excluded before
    * ranking rather than polluting the percentile denominator.
    *
    * `keepFrac` is the KEPT FRACTION, exactly: the blend itself is ranked
    * (same distributed device, blend-desc with a doc_id tie-break) and
    * the top `ceil(keepFrac·n)` docs survive — thresholding the blend
    * value instead would keep a data-dependent share, because an average
    * of two dependent percentiles is not uniformly distributed. A corpus
    * with a single scored doc keeps that doc; an unscored corpus yields
    * an empty result. */
  def qualityBlend(docs: DataFrame, idCol: String, textCol: String,
      keepFrac: Double = 0.5): DataFrame = {
    require(keepFrac > 0 && keepFrac <= 1, s"keepFrac must be in (0,1], got $keepFrac")
    val t = TextOps.toks(textCol)
    val nWords = size(t)
    // null (not divide-by-zero) for empty docs — the tx33 guard
    val quality = when(nWords > 0,
      (size(array_distinct(t)) / nWords) * least(nWords, lit(100)) / lit(100.0))
    val q = docs.select(col(idCol).as("doc_id"), quality.as("quality"))
      .filter(col("quality").isNotNull)
    val f = TextOps.unigramNllScore(docs, idCol, textCol).select(col("doc_id"), col("avg_nll"))
    // the scored-signal table feeds FOUR consumers (the denominator count,
    // both rank passes, and the final join) — materialize it once or the
    // NLL pipeline re-runs per consumer
    // the denominator count rides the checkpoint's own job (observed)
    val (j, nRows) = graft.api.Ops.checkpointCounted(
      q.join(f, "doc_id").select("doc_id", "quality", "avg_nll"))
    if (nRows == 0) return j.select(col("doc_id"),
      lit(null).cast("double").as("pr_quality"), lit(null).cast("double").as("pr_fluency"),
      lit(null).cast("double").as("blend"))
    // the two rank passes CHAIN (each carries the other's columns
    // through its range shuffle) instead of each joining its rank back
    // to the signal table on doc_id — the ranks are pure functions of
    // the same total orders either way, and chaining sheds two
    // corpus-sized hash-join shuffles for the cost of one extra long
    // column riding the second range exchange
    val withRq = graft.api.Ops.withGlobalRowNumber(
      j, Seq(col("quality"), col("doc_id")), "rq")
    val withBoth = graft.api.Ops.withGlobalRowNumber(
      withRq, Seq(col("avg_nll").desc, col("doc_id")), "rf")
    val denom = lit(math.max(nRows - 1, 1L).toDouble)
    val scored = withBoth
      .select(col("doc_id"),
        (col("rq").cast("double") / denom).as("pr_quality"),
        (col("rf").cast("double") / denom).as("pr_fluency"))
      .withColumn("blend", (col("pr_quality") + col("pr_fluency")) / 2)
    val keep = math.ceil(keepFrac * nRows).toLong
    graft.api.Ops.withGlobalRowNumber(scored, Seq(col("blend").desc, col("doc_id")), "_rb")
      .filter(col("_rb") < keep)
      .drop("_rb")
  }

  private def px105(spark: SparkSession, dir: String): DataFrame =
    qualityBlend(Tables(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  private val px105Oracle =
    """WITH tk AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
      |  FROM documents),
      |q AS (
      |  SELECT doc_id,
      |    len(list_distinct(tk)) / len(tk) * least(len(tk), 100) / CAST(100 AS DOUBLE) AS quality
      |  FROM tk WHERE len(tk) > 0),
      |w AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
      |  FROM documents),
      |cnt AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY 1),
      |tot AS (SELECT COUNT(*) AS t, COUNT(DISTINCT word) AS v FROM w),
      |lp AS (
      |  SELECT word,
      |    CAST(ROUND(-ln(CAST(cnt + 1 AS DOUBLE) / CAST(t + v AS DOUBLE)), 9)
      |      AS DECIMAL(30,9)) AS nll
      |  FROM cnt CROSS JOIN tot),
      |f AS (
      |  SELECT doc_id, ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS avg_nll
      |  FROM w JOIN lp USING (word) GROUP BY doc_id),
      |j AS (SELECT q.doc_id, quality, avg_nll FROM q JOIN f USING (doc_id)),
      |n AS (SELECT COUNT(*) AS c, CAST(COUNT(*) - 1 AS DOUBLE) AS d FROM j),
      |r AS (
      |  SELECT doc_id,
      |    CAST(row_number() OVER (ORDER BY quality, doc_id) - 1 AS DOUBLE) AS rq,
      |    CAST(row_number() OVER (ORDER BY avg_nll DESC, doc_id) - 1 AS DOUBLE) AS rf
      |  FROM j),
      |s AS (
      |  SELECT doc_id, rq / d AS pr_quality, rf / d AS pr_fluency,
      |    (rq / d + rf / d) / 2 AS blend, c
      |  FROM r CROSS JOIN n)
      |SELECT doc_id, pr_quality, pr_fluency, blend
      |FROM (SELECT s.*, row_number() OVER (ORDER BY blend DESC, doc_id) AS rb FROM s)
      |WHERE rb <= CAST(ceil(0.5 * c) AS BIGINT)
      |ORDER BY doc_id""".stripMargin

  val all: Seq[GraftQuery] = Seq(
    GraftQuery("px90_training_pipeline", px90, Some(px90Oracle)),
    GraftQuery("px91_domain_mix", px91, Some(px91Oracle)),
    GraftQuery("px92_quality_cut", px92, Some(px92Oracle)),
    GraftQuery("px93_domain_upsample", px93, Some(px93Oracle)),
    GraftQuery("px94_token_shards", px94, Some(px94Oracle)),
    GraftQuery("px95_curriculum_shards", px95, Some(px95Oracle)),
    GraftQuery("px96_eval_holdout", px96, Some(px96Oracle)),
    GraftQuery("px97_token_apportion", px97, Some(px97Oracle)),
    GraftQuery("px98_data_split", px98, Some(px98Oracle)),
    GraftQuery("px99_temperature_mix", px99, Some(px99Oracle)),
    GraftQuery("px100_shard_manifest", px100, Some(px100Oracle)),
    GraftQuery("px101_lake_delete", px101, Some(px101Oracle)),
    GraftQuery("px102_lake_compact", px102, Some(px100Oracle)),
    GraftQuery("px103_lake_append", px103, Some(px100Oracle)),
    GraftQuery("px104_table_profile", px104, Some(px104Oracle)),
    GraftQuery("px105_quality_blend", px105, Some(px105Oracle)),
    GraftQuery("px106_lake_time_travel", px106, Some(px106Oracle)),
    GraftQuery("px107_lake_incremental", px107, Some(px107Oracle)),
    GraftQuery("px108_lake_clustered_append", px108, Some(px100Oracle)),
    GraftQuery("px109_lake_cdc_across_compact", px109, Some(px107Oracle)),
    GraftQuery("px110_lake_dsv2_read", px110, Some(px106Oracle)),
    GraftQuery("px111_lake_merge_upsert", px111, Some(px111Oracle)),
    GraftQuery("px112_lake_restore", px112, Some(px100Oracle)),
    GraftQuery("px113_lake_merge_sparse", px113, Some(px113Oracle)),
    GraftQuery("px114_lake_change_feed", px114, Some(px114Oracle)),
    GraftQuery("px115_lake_sql_insert", px115, Some(px100Oracle)),
    GraftQuery("px116_lake_sql_delete", px116, Some(px116Oracle)),
    GraftQuery("px117_lake_sql_merge", px117, Some(px113Oracle)),
    GraftQuery("px118_lake_sql_update", px118, Some(px118Oracle)),
    GraftQuery("px119_lake_dv_consolidate", px119, Some(px119Oracle)),
    GraftQuery("px120_lake_stream_sink", px120, Some(px100Oracle)),
    GraftQuery("px121_lake_meta_tables", px121, Some(px121Oracle)),
    GraftQuery("px122_lake_repartition", px122, Some(px100Oracle)),
    GraftQuery("px123_lake_check_constraint", px123, Some(px100Oracle)),
    GraftQuery("px124_lake_merge_grammar", px124, Some(px124Oracle)),
    GraftQuery("px125_lake_layout_evolution", px125, Some(px100Oracle)),
    GraftQuery("px126_lake_cdf_update_events", px126, Some(px126Oracle)),
    GraftQuery("px127_lake_layout_transforms", px127, Some(px127Oracle)),
    GraftQuery("px128_lake_bloom_merge", px128, Some(px128Oracle)),
    GraftQuery("px129_lake_null_stats", px129, Some(px129Oracle)),
    GraftQuery("px130_lake_columnar_checkpoint", px130, Some(px130Oracle)),
    GraftQuery("px131_lake_lazy_stats", px131, Some(px130Oracle)),
    GraftQuery("px132_lake_twolevel_prune", px132, Some(px132Oracle)),
    GraftQuery("px133_lake_distributed_vacuum", px133, Some(px133Oracle)),
    GraftQuery("px134_lake_path_lazy", px134, Some(px134Oracle)),
    GraftQuery("px135_lake_retention_lifecycle", px135, Some(px135Oracle)),
    GraftQuery("px136_lake_dv_lazy", px136, Some(px136Oracle)))
}
