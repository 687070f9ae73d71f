package graft.operators

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{functions, Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, date_format, hash, lit, max, min, pmod, substring}
import org.apache.spark.sql.graft.TaskHadoopConf
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructField, StructType}

/** Manifest-resolved lake storage: the write-audit-publish commit protocol
  * under the px100-px103 lake lifecycle (cf. the transaction-log design of
  * open table formats — Armbrust et al., "Delta Lake: High-Performance ACID
  * Table Storage over Cloud Object Stores", VLDB 2020 — re-expressed in its
  * minimal single-writer-per-kind form).
  *
  * The log under `lakeDir/_graft_log/` is INCREMENTAL: every commit writes
  * one DELTA record — the action kind, the schema, the files it added
  * (with optional per-file column min/max stats) and the files it removed
  * — never the full file listing. Readers resolve a version by loading the
  * newest CHECKPOINT at or below it (a full-state snapshot written every
  * [[CheckpointInterval]] commits) and replaying the deltas after it. A
  * one-file nightly append into a million-file lake therefore writes a
  * constant-size record: commit cost tracks the DELTA, not the lake.
  *
  * The commit lifecycle (unchanged from the full-listing form):
  *
  *   1. STAGE — mutations only ever APPEND new files (Spark's task/job
  *      UUID naming makes collisions impossible); the pre-image is never
  *      opened for write, so staging is recomputable and abortable;
  *   2. AUDIT — the staged files are read back; row counts must match the
  *      pre-write frame or the mutation aborts with the lake untouched.
  *      The same read-back captures per-file min/max of the mutation's
  *      key columns, which the delta records so later appends can prune
  *      the candidate FILE LIST before planning a single scan;
  *   3. PUBLISH — the delta record is renamed into the log (atomic on
  *      POSIX/HDFS; the read-back-verify below covers overwrite-on-rename
  *      filesystems). A raced PURE-ADD commit (append) rebases: it
  *      re-resolves the latest version and re-commits its already-staged
  *      files at the next one — concurrent appends all land. Commits
  *      that REMOVE files (delete/compact) refuse instead: their staged
  *      content was derived from a base another writer just replaced;
  *   4. VACUUM — superseded files are deleted best-effort AFTER the
  *      delta lands; a crash mid-vacuum leaves orphans invisible to
  *      manifest readers, reclaimable by [[vacuum]].
  *
  * Readers see the pre-commit lake or the post-commit lake, never a mix.
  * A fully-emptied partition simply has no files in the resolved state.
  * [[readVersion]] (time travel) resolves any retained version;
  * [[changesBetween]] (incremental CDC-style consumption) replays the
  * action kinds, so rewrite-only commits (compaction) contribute NOTHING
  * and consumers get exactly the genuinely-new rows; [[vacuum]] reclaims
  * only true orphans (files no committed record references); retention is
  * spent explicitly through [[vacuumKeeping]], which checkpoints the
  * oldest retained version before dropping older deltas.
  *
  * Directories without a `_graft_log` (plain `df.write.partitionBy`
  * layouts) bootstrap as version 0 = the current listing, so the protocol
  * retrofits onto any existing partitioned-parquet lake.
  */
object Lake {

  val LogDirName = "_graft_log"

  /** Per-writer staging subtrees live here; `_`-prefixed so every data
    * listing and every reader skips them. */
  val StagingDirName = "_graft_staging"

  /** Deletion-vector sidecars live here (`_`-prefixed: hidden from every
    * data listing and reader). One child directory per DV-writing commit,
    * holding parquet rows `(file: string, pos: long)` — "row `pos` of
    * lake file `file` is deleted". Merge-on-read row tombstones in the
    * Delta Lake deletion-vector sense (Armbrust et al., VLDB 2020 +
    * the public DV design): a sparse delete/merge commits positions, not
    * rewritten survivor files, and reads apply them inside the scan as a
    * per-file row mask over `(_metadata.file_path, _metadata.row_index)`
    * ([[graft.plans.LakeDvKeep]]). [[compactLake]]
    * materializes them back into plain files. */
  val DvDirName = "_graft_dv"

  /** Change-data-feed sidecars live here (`_`-prefixed: hidden from every
    * data listing and reader). One child directory per row-removing
    * commit, holding the DELETED pre-image rows in the lake's own layout
    * (partitioned like the data tree). Written AT COMMIT TIME — the Delta
    * Lake CDF discipline — so the change feed is a plain parquet read per
    * version for batch and stream alike: no read-time except-join ever
    * reconstructs "what was deleted". Insert rows need no sidecar: the
    * commit's added data files ARE the insert rows. */
  val CdcDirName = "_graft_cdc"

  /** Schema of a DV sidecar's parquet rows. */
  private[graft] val DvSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("file", StringType, nullable = false),
    org.apache.spark.sql.types.StructField("pos", LongType, nullable = false)))

  /** A full checkpoint is written every this-many commits; state
    * resolution replays at most this many deltas past a checkpoint. */
  val CheckpointInterval = 10

  /** Entry count (live files + history + DV attachments + detached DVs +
    * CDC sidecars) at or above which a checkpoint is written COLUMNAR —
    * the file-scale sections land as a Spark-written parquet directory
    * and the text checkpoint shrinks to an O(KB) stub (schema, txns,
    * checks, layout, bloom columns, and a pointer). Below it the classic
    * single-text-file checkpoint is cheaper than a Spark job. This is the
    * Delta Lake checkpoint-parquet idea: at 10^6 files a text checkpoint
    * is a multi-GB driver parse (URL-decoded, line by line) before ANY
    * query can plan; a parquet read decodes in tasks, collects compact
    * typed rows, and scales with cluster width. Override per session via
    * [[CheckpointParquetMinEntriesKey]] (specs lower it to single
    * digits). */
  val CheckpointParquetMinEntriesDefault = 512

  private[graft] val CheckpointParquetMinEntriesKey =
    "spark.graft.lake.checkpoint.parquetMinEntries"

  private[graft] def checkpointParquetMinEntries(spark: SparkSession): Int =
    spark.conf.getOption(CheckpointParquetMinEntriesKey)
      .map(_.toInt).getOrElse(CheckpointParquetMinEntriesDefault)

  /** LAZY-STATS resolution for columnar checkpoints: when on, a
    * `graft-checkpoint-v3` load materializes file PATHS but leaves the
    * per-file stats in the parquet entries — the read projects only
    * (tag, path, aux), so the stats column is never even decoded — and
    * [[pruneByStats]] judges those files inside a Spark job over the
    * entries instead of on the driver. At 10^6 files the eager stats map
    * is multi-GB of driver heap before ANY query plans; lazy mode bounds
    * the driver at the file list and collects only pruning SURVIVORS
    * (the Delta filesForScan shape). DEFAULT ON — and because only
    * states at [[CheckpointParquetMinEntriesKey]] scale ever have a v3
    * checkpoint, the policy is exactly "lazy above the columnar
    * threshold, eager below it". Every consumer keeps its numbers under
    * the mode: size pricing and census-free compaction aggregate
    * recorded `#rows`/`#bytes` in a job over the same entries
    * ([[reservedTotals]]/[[reservedPerFile]]), the metadata census and
    * the sites where a missing stat would be WRONG (checkpoint render,
    * restore, float→double widen) force an eager resolve. Set the conf
    * to `false` to pin eager resolution everywhere (driver-resident
    * stats maps, zero planning jobs). */
  private[graft] val LazyStatsKey = "spark.graft.lake.checkpoint.lazyStats"

  private[graft] def lazyStats(spark: SparkSession): Boolean =
    spark.conf.getOption(LazyStatsKey).forall(_.toBoolean)

  /** Columnar-checkpoint loads since JVM start — the observability hook
    * the columnar-checkpoint spec uses to pin that a many-file lake
    * resolves through the parquet path (driver parse bounded at the
    * stub). Driver-side only; never consulted for control flow. */
  private[graft] val checkpointParquetLoads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Columnar (v3) checkpoint loads that materialized their stats
    * EAGERLY — a forceEager caller (checkpoint render below the
    * columnar threshold, restore, float→double widen, the metadata
    * census) or the lazy conf pinned off. The CDC-under-lazy spec pins
    * that serving the change stream and [[changesBetween]] off a
    * lazily-resolved lake forces ZERO of these: the change feed plans
    * O(delta) from the log's own lines and never needs the corpus
    * stats map. Observability only. */
  private[graft] val eagerV3Loads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** How a commit changed the data, recorded in its delta and consumed by
    * [[changesBetween]]: `append`/`init`/`adopt` ADD rows; `delete` and
    * `compact` only rewrite/remove existing ones; `merge` does BOTH — its
    * delta tags each added file as genuinely-new data (`A`) or a rewrite
    * of surviving pre-image rows (`AR`), so incremental consumers get
    * exactly the upserted rows and never the rewritten survivors. */
  private[graft] val DataAddingActions = Set("append", "init", "adopt")

  /** Per-file min/max of one column, captured at audit time and carried
    * in the delta record. Values are the column's Spark `min`/`max`
    * rendered as strings; only exact-round-trip types (integral, string,
    * floating) participate in pruning — anything else is kept. */
  final case class ColStat(col: String, min: String, max: String)

  /** One resolved lake version: the schema (JSON, for empty-lake reads),
    * the lakeDir-relative paths of every live data file, whatever
    * per-file column stats the deltas carried, and `history` — the files
    * REFERENCED by this version's ancestry but no longer live (removed by
    * some delta at or below this version and retained on disk for time
    * travel / CDC). `files ++ history` is therefore the complete
    * referenced-file set of the log up to this version, which is what
    * lets [[vacuum]] decide orphan-ness from the LATEST state alone —
    * one checkpoint load plus a bounded delta replay — instead of
    * re-reading every retained delta. Every checkpoint this build reads
    * (`v2` text, `v3` columnar) carries a complete history section, so
    * that set is always trustworthy. */
  final case class LakeState(version: Long, schemaJson: String, files: LiveFiles,
      stats: Map[String, Seq[ColStat]] = Map.empty, history: Seq[String] = Seq.empty,
      /** Live deletion-vector attachments: data file → the sidecar dirs
        * whose positions are deleted from it. Reads of the file apply
        * the union. [[DeferredDvs]] on states resolved through a
        * columnar checkpoint above [[DvLazyMinPairsKey]] — the map stays
        * in the entries, the driver pins O(tail). */
      dvs: LiveDvs = EagerDvs.empty,
      /** Sidecars whose data file was since removed (compaction
        * materialized it, or a rewrite superseded it) — still referenced
        * by this version's ancestry for time travel, reclaimed by
        * [[vacuumKeeping]] like file history. */
      dvHistory: Seq[String] = Seq.empty,
      /** Change-feed sidecar dirs referenced by this version's ancestry
        * ([[changeFeed]] reads them per in-range version), accumulated
        * from the deltas' `C` lines and spent only by [[vacuumKeeping]]. */
      cdc: Seq[String] = Seq.empty,
      /** Application transaction watermarks: writer app id → highest
        * transaction version committed under it (the deltas' `T` lines,
        * folded monotonically). The idempotent-write ledger — a commit
        * tagged (app, v) with v at or below the watermark is a REPLAY
        * and skips ([[append]]'s `txn` / the streaming sink's batch id;
        * the Delta Lake `txnAppId`/`txnVersion` discipline, Armbrust et
        * al., VLDB 2020, transaction identifiers). */
      txns: Map[String, Long] = Map.empty,
      /** CHECK constraints (name → SQL predicate over the lake's
        * columns), carried by `K`/`KD` delta lines — write-time quality
        * gates ([[addCheckConstraint]]): every row-adding commit
        * verifies its rows satisfy every check (NULL passes, the SQL
        * standard), refusing the whole batch loudly otherwise. */
      checks: Map[String, String] = Map.empty,
      /** The lake's WRITE layout — the partition columns NEW files land
        * under. `None` (every pre-evolution lake) derives it from the
        * live files' paths, which is exact while layouts are uniform;
        * [[evolveLayout]], the repartition rewrite and restores across
        * a generation boundary record it explicitly (the Iceberg
        * partition-spec-evolution model: each FILE's path spells its
        * own layout generation, the state records where new writes
        * go). */
      layout: Option[Seq[String]] = None,
      /** Columns whose data files carry PARQUET BLOOM FILTERS (written
        * through parquet-mr's own footer bloom machinery, the Delta
        * bloom-index / Iceberg write.parquet.bloom-filter-enabled
        * parity): set at [[init]] or [[setBloomCols]] (a `B` delta
        * line), carried by every checkpoint (`BY`). min/max stats
        * cannot prune uniformly-distributed keys (UUID-ish ids) — a
        * sparse merge into such a lake would read every candidate
        * file; [[pruneByBloom]] probes these columns' per-file blooms
        * instead. Logical names; write/read translate through the
        * column mapping. */
      bloomCols: Seq[String] = Seq.empty,
      /** LAZY-STATS marker ([[LazyStatsKey]], default on): set when this
        * state resolved through a COLUMNAR checkpoint WITHOUT
        * materializing its per-file stats on the driver.
        * [[pruneByStats]] then judges the checkpoint's files INSIDE the
        * entries read (a Spark job; the driver never holds the multi-GB
        * stats map a 10^6-file lake carries) — or, when every bound's
        * column is outside [[CpLazy.statCols]], entirely from the file
        * PATHS with zero jobs — and the tail-added / restated files on
        * the driver as usual. Size/row pricing aggregates in the same
        * entries ([[reservedTotals]]); [[writeCheckpoint]] folds the
        * entries forward incrementally so a checkpoint can never
        * silently shed its stats. */
      cpLazy: Option[CpLazy] = None)

  /** The lazy-resolution marker's payload: the checkpoint's parquet
    * entries directory, the files tail deltas added after it (their
    * stats are driver-resident, so they are judged on the driver), and
    * the SET of stat-column names the entries may carry — from the
    * stub's `SC` line, a SUPERSET by construction (checkpoint writers
    * fold it forward union-wise; removals never shrink it). The set is
    * the TWO-LEVEL pruning key: a bound on a column outside it provably
    * matches no entries stat, so `statsOverlap` is vacuously true for
    * every checkpoint resident and the PATH alone decides — a
    * partition-banded predicate plans with ZERO entries jobs (the
    * Iceberg manifest-list idea, carried in O(columns) stub bytes).
    * `None` = a stub written before `SC` existed: unknown, always job.
    *
    * `dirStats` is the second level: per-DIRECTORY min/max envelopes of
    * the checkpoint residents' recorded stats (Iceberg's manifest-list
    * idea), riding the entries as `DR` rows — O(dirs × cols), collected
    * with the same (tag, path, aux) projection the lazy load already
    * pays. Keys are directory paths OR parent PREFIXES: above
    * [[DirRollupMaxDirsKey]] entries the writers fold the rollups one
    * path level up until they fit ([[foldRollupsToCap]]), so consumers
    * resolve a directory to its key through [[rollupKeyOf]] (longest
    * covering prefix). A (key, col) envelope exists only when EVERY
    * checkpoint file resolving to the key records that column, so a
    * non-overlapping envelope proves NO resident under it can match —
    * [[pruneLazy]] drops whole subtrees driver-side and scopes (or
    * skips) the entries job.
    * Valid for the checkpoint residents for the state's whole lifetime:
    * tail-added files are driver-judged individually, removals only
    * leave the envelope conservatively wide. */
  final case class CpLazy(entriesDir: String, tailAdded: Set[String],
      statCols: Option[Set[String]],
      dirStats: Map[String, Seq[ColStat]] = Map.empty,
      /** Checkpoint-RESIDENT files removed by tail deltas — min/max
        * envelopes survive a removal (conservatively wide), but a
        * directory's reserved SUMS don't: a resident removal under a
        * rollup key invalidates its `#rows`/`#bytes` for pricing. (Tail
        * transients — added then removed after the checkpoint — never
        * enter this set.) */
      tailRemoved: Set[String] = Set.empty,
      /** From the stub's `DC` line: every checkpoint resident resolves
        * to a rollup key carrying both reserved sums — the condition
        * under which whole-table pricing on a PATH-lazy state answers
        * from the dir sums with zero jobs (no resident enumeration
        * needed). */
      sumsComplete: Boolean = false)

  /** FNV-1a 64 over the string's chars — the per-entry term of the
    * checkpoint stub's CONTENT checksums (`DC`/`HX`/`VC` xor fields).
    * XOR-combined so the check is order-free: the writers fold it over
    * whatever order their job partitions see, the readers over theirs. */
  private[graft] def pathHash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** One dv pair's checksum term — file and sidecar joined on a NUL so
    * `(ab, c)` and `(a, bc)` never collide. */
  private[graft] def dvPairHash64(f: String, s: String): Long =
    pathHash64(f + "\u0000" + s)

  /** The shared soft-cache scaffold of the deferred structures
    * ([[DeferredFiles]]/[[DeferredHistory]]/[[DeferredDvs]]): ONE
    * synchronized SoftReference holding the last materialization —
    * recomputable, GC-reclaimable under memory pressure — so the
    * caching/synchronization idiom cannot drift between the three. */
  private[graft] trait SoftCachedMaterialization[T >: Null <: AnyRef] {
    protected def compute(): T
    @transient private var cache: java.lang.ref.SoftReference[T] = null
    private[graft] def cachedOrNull: T = synchronized {
      if (cache == null) null else cache.get()
    }
    protected final def forced: T = synchronized {
      val hit = if (cache == null) null else cache.get()
      if (hit != null) hit
      else {
        val v = compute()
        cache = new java.lang.ref.SoftReference(v)
        v
      }
    }
  }

  /** The live-file list of a resolved state, as a `Seq[String]` so every
    * existing consumer keeps working. [[EagerFiles]] wraps a
    * driver-materialized list. [[DeferredFiles]] — states resolved
    * through a columnar checkpoint whose live count clears
    * [[PathLazyMinFilesKey]] — PINS only the post-checkpoint tail on the
    * driver and derives the checkpoint residents from the parquet
    * entries on demand: one Spark job whose result is held through a
    * SOFT reference (recomputable, GC-reclaimable under pressure), so a
    * 10^8-file lake's resolved state pins O(tail) driver heap instead of
    * the multi-GB path list (the Delta `Snapshot`/`filesForScan` shape —
    * state stays in the log's own storage, planners collect what a scan
    * needs, transiently). Scale-critical planners ([[pruneLazy]],
    * [[reservedTotals]], the checkpoint writers) never force at all. */
  sealed trait LiveFiles extends scala.collection.immutable.Seq[String]

  object LiveFiles {
    /** Every `copy(files = someSeq)`/constructor site keeps compiling —
      * a plain list is an eager live-file list. */
    import scala.language.implicitConversions
    implicit def fromSeq(ps: Seq[String]): LiveFiles = ps match {
      case lf: LiveFiles => lf
      case _ => EagerFiles(ps)
    }
  }

  /** Plain class, NOT a case class: the generated case equality would
    * break `Seq` equality's symmetry (`List(a) == EagerFiles(List(a))`
    * true element-wise, the reverse false via `canEqual`) — inheriting
    * the collection's own equals keeps both directions content-based. */
  final class EagerFiles(val paths: Seq[String]) extends LiveFiles {
    def apply(i: Int): String = paths(i)
    def length: Int = paths.length
    def iterator: Iterator[String] = paths.iterator
    override def isEmpty: Boolean = paths.isEmpty
  }
  object EagerFiles {
    def apply(paths: Seq[String]): EagerFiles = new EagerFiles(paths)
  }

  /** See [[LiveFiles]]. `cpResidents` counts the checkpoint's F rows;
    * `tailAdded` (sorted, live) and `tailRemoved` (⊆ residents) mirror
    * the [[CpLazy]] fold; `sample` is the MINIMUM resident path when
    * known (from the stub's `DC` line), which answers `headOption` —
    * the layout-derivation probe — without a job. */
  final class DeferredFiles private[graft] (
      private[graft] val entriesDir: String,
      private[graft] val cpResidents: Long,
      private[graft] val tailAdded: Seq[String],
      private[graft] val tailRemoved: Set[String],
      private[graft] val sample: Option[String],
      /** XOR of [[pathHash64]] over the entries' RAW F paths (the
        * stub's `DC` checksum field) — makes the torn check
        * content-sensitive: a same-count corruption of a path trips it.
        * None on stubs written before the field existed. */
      private[graft] val cpXor: Option[Long] = None) extends LiveFiles
      with SoftCachedMaterialization[IndexedSeq[String]] {
    def length: Int = (cpResidents - tailRemoved.size + tailAdded.size).toInt
    override def isEmpty: Boolean = length == 0
    override def knownSize: Int = length
    def apply(i: Int): String = forced(i)
    def iterator: Iterator[String] = forced.iterator
    /** The min live path WITHOUT a job, when derivable: the recorded
      * sample is the residents' min and a removal of OTHER residents
      * cannot change that, so head = min(sample, tail min) — exact.
      * None = only a materialization can answer (the sample itself was
      * removed). Shared by [[headOption]] and the checkpoint stub's DC
      * sample render, which must never force. */
    private[graft] def cheapHead: Option[String] = sample match {
      case Some(s) if !tailRemoved(s) =>
        Some(tailAdded.headOption.fold(s)(t => if (s <= t) s else t))
      case None if cpResidents == tailRemoved.size => tailAdded.headOption
      case _ => None
    }
    override def headOption: Option[String] =
      if (isEmpty) None
      else cheapHead.orElse(forced.headOption)
    override def head: String =
      headOption.getOrElse(throw new NoSuchElementException("head of empty lake"))

    protected def compute(): IndexedSeq[String] = {
      Lake.pathForceJobs.incrementAndGet()
      val spark = SparkSession.active
      val removedArr = tailRemoved.toArray.sorted
      val (residents, rawXor) = try {
        val parts = spark.read
          .schema(StructType(Lake.CpEntrySchema.take(2)))
          .parquet(entriesDir).rdd.mapPartitions { it =>
            var x = 0L
            val b = scala.collection.mutable.ArrayBuffer.empty[String]
            it.foreach { r =>
              if (r.getString(0) == "F") {
                val p = r.getString(1)
                x ^= Lake.pathHash64(p)
                if (!(removedArr.nonEmpty && java.util.Arrays.binarySearch(
                    removedArr.asInstanceOf[Array[AnyRef]], p) >= 0)) b += p
              }
            }
            Iterator.single((b.toArray, x))
          }.collect()
        (parts.flatMap(_._1), parts.iterator.map(_._2).foldLeft(0L)(_ ^ _))
      } catch {
        // a concurrent retention cut ([[vacuumKeeping]]) may have
        // replaced the checkpoint and reclaimed this entries directory —
        // the same reader-vs-VACUUM race Delta documents. The state this
        // list belongs to is stale either way: name the fix.
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("PATH_NOT_FOUND") ||
              e.getMessage.toLowerCase.contains("path does not exist") =>
          throw new IllegalStateException(
            s"deferred file list's entries directory $entriesDir is gone — " +
              "a concurrent retention vacuum likely replaced the checkpoint; " +
              "re-resolve the lake state and retry the read", e)
      }
      if (residents.length.toLong != cpResidents - tailRemoved.size)
        throw new IllegalStateException(
          s"deferred file list is torn: entries $entriesDir yields " +
            s"${residents.length} live residents, the stub promised " +
            s"${cpResidents - tailRemoved.size}")
      // content check: the raw F-path xor must match the stub's DC
      // checksum — a same-count path corruption fails here, not in a
      // query result
      cpXor.filter(_ != rawXor).foreach { x =>
        throw new IllegalStateException(
          s"deferred file list is torn: entries $entriesDir F-path checksum " +
            f"$rawXor%016x != stub's $x%016x (same-count content corruption)")
      }
      (residents ++ tailAdded).sorted.toIndexedSeq
    }
  }

  /** The HISTORY of a path-lazy state defers the same way as its file
    * list: the checkpoint's H rows stay in the parquet entries; the
    * state pins only the post-checkpoint removals (`tail`). History is
    * append-only between retention cuts (a retention rewrite builds a
    * fresh EAGER seq), so there is no removed-set to track — a
    * high-churn lake's referenced-but-removed list can approach corpus
    * size, and this keeps it off the driver exactly like the live
    * paths. Materializing (rare: text renders) costs
    * one soft-cached entries job, counted by [[pathForceJobs]]. */
  final class DeferredHistory private[graft] (
      private[graft] val entriesDir: String,
      private[graft] val cpHistory: Long,
      private[graft] val histTail: Seq[String],
      /** XOR of [[pathHash64]] over the entries' rows of this tag —
        * content-sensitive torn check; None on older stubs. */
      private[graft] val cpXor: Option[Long] = None,
      /** Which entries section this list defers: `H` (history), `VH`
        * (detached dv sidecars) or `CF` (change-feed sidecars) — all
        * three are O(feed-bearing commits since the last retention cut)
        * and stay off the driver the same way. */
      private[graft] val tag: String = "H",
      /** VH tails can name a sidecar the checkpoint already holds (a
        * re-detach after a restore re-attached it) — consumers treat
        * the list as a referenced-SET, so such a list dedupes at
        * materialization and `length` is an upper bound. */
      private[graft] val dedupe: Boolean = false) extends LiveFiles
      with SoftCachedMaterialization[IndexedSeq[String]] {
    /** Cheap UPPER bound on the element count (exact when `dedupe` is
      * false): pricing/threshold consumers use this instead of `length`
      * so they never force a job. */
    private[graft] def lengthUpper: Long = cpHistory + histTail.size
    /** The Seq contract requires `length` == the iterator's element
      * count. A `dedupe` list can collapse tail re-detaches of
      * checkpoint-resident sidecars at materialization, and how many
      * collapse is only knowable from the entries — so `length` forces
      * there (generic Seq ops that preallocate from `length`, e.g.
      * `.sorted`/`.toArray`, would otherwise see trailing nulls). */
    def length: Int =
      if (dedupe) forced.length else lengthUpper.toInt
    // exact without forcing either way: dedupe only collapses
    // duplicates, it cannot empty a non-empty list
    override def isEmpty: Boolean = lengthUpper == 0
    override def knownSize: Int = if (dedupe) -1 else lengthUpper.toInt
    def apply(i: Int): String = forced(i)
    def iterator: Iterator[String] = forced.iterator
    protected def compute(): IndexedSeq[String] = {
      Lake.pathForceJobs.incrementAndGet()
      val spark = SparkSession.active
      val t = tag
      val rows = spark.read
        .schema(StructType(Lake.CpEntrySchema.take(2)))
        .parquet(entriesDir).rdd.flatMap(r =>
          if (r.getString(0) == t) Some(r.getString(1)) else None)
        .collect()
      if (rows.length.toLong != cpHistory)
        throw new IllegalStateException(
          s"deferred $tag list is torn: entries $entriesDir yields " +
            s"${rows.length} $tag rows, the checkpoint promised $cpHistory")
      cpXor.foreach { x =>
        val raw = rows.foldLeft(0L)((a, p) => a ^ Lake.pathHash64(p))
        if (raw != x)
          throw new IllegalStateException(
            s"deferred $tag list is torn: entries $entriesDir $tag checksum " +
              f"$raw%016x != stub's $x%016x (same-count content corruption)")
      }
      val all = rows ++ histTail
      (if (dedupe) all.distinct else all).toIndexedSeq
    }
  }

  /** History fold: append this commit's removals without materializing a
    * deferred list (history is append-only between retention cuts). */
  private def foldHistory(h: Seq[String], removed: Seq[String]): Seq[String] =
    foldSidecarList(h, removed, dedupe = false)

  /** Fold one commit's additions into a sidecar list (`VH` detached dv
    * sidecars / `CF` change-feed sidecars) without materializing a
    * deferred one: the tail grows O(commit); a `dedupe` list (VH — a
    * re-detach may name a checkpoint-resident sidecar again) dedupes
    * its tail here and the full set at materialization. */
  private def foldSidecarList(cur: Seq[String], add: Seq[String],
      dedupe: Boolean): Seq[String] =
    if (add.isEmpty) cur
    else cur match {
      case dh: DeferredHistory =>
        val tail =
          if (dedupe) (dh.histTail ++ add).distinct else dh.histTail ++ add
        new DeferredHistory(dh.entriesDir, dh.cpHistory, tail,
          dh.cpXor, dh.tag, dh.dedupe)
      case c => if (dedupe) (c ++ add).distinct else c ++ add
    }

  /** The live deletion-vector attachment map of a resolved state, as a
    * `Map[String, Seq[String]]` (data file → attached sidecar dirs) so
    * every existing consumer keeps working. [[EagerDvs]] wraps a
    * driver-materialized map. [[DeferredDvs]] — states resolved through
    * a columnar checkpoint whose `VC` pair census clears
    * [[DvLazyMinPairsKey]] — pins only the post-checkpoint dv TAIL on
    * the driver (attachments tail deltas added, resident files they
    * detached, pairs they X-removed) and derives the checkpoint-resident
    * pairs from the parquet entries' `V` rows on demand: one Spark job
    * soft-cached like [[DeferredFiles]], so a fully-sparse-deleted
    * 10^8-file lake's resolved state pins O(tail) dv entries instead of
    * 10^8 (the same state-stays-in-the-log shape as the path list —
    * Delta keeps DV descriptors in its checkpoint adds the same way).
    * Scale-critical consumers (MoR planning, restore's dv diff, vacuum
    * liveness, CDC planning) go through the scoped accessors
    * ([[dvsFor]], [[dvPairsRdd]], [[distinctLiveSidecars]]) and never
    * force the whole map. */
  sealed trait LiveDvs extends scala.collection.immutable.Map[String, Seq[String]]
    with Serializable

  object LiveDvs {
    /** Every `copy(dvs = someMap)`/constructor site keeps compiling — a
      * plain map is an eager attachment map. */
    import scala.language.implicitConversions
    implicit def fromMap(m: Map[String, Seq[String]]): LiveDvs = m match {
      case d: LiveDvs => d
      case _ => new EagerDvs(m)
    }
  }

  /** Plain class (not case): inherits the collection's content-based
    * equality so `EagerDvs(m) == m` both ways (see [[EagerFiles]]). */
  final class EagerDvs(private[graft] val m: Map[String, Seq[String]]) extends LiveDvs {
    def get(key: String): Option[Seq[String]] = m.get(key)
    def iterator: Iterator[(String, Seq[String])] = m.iterator
    def removed(key: String): Map[String, Seq[String]] = m.removed(key)
    def updated[V1 >: Seq[String]](key: String, value: V1): Map[String, V1] =
      m.updated(key, value)
    override def contains(key: String): Boolean = m.contains(key)
    override def size: Int = m.size
    override def isEmpty: Boolean = m.isEmpty
  }
  object EagerDvs {
    def apply(m: Map[String, Seq[String]]): EagerDvs = new EagerDvs(m)
    val empty: EagerDvs = new EagerDvs(Map.empty)
  }

  /** See [[LiveDvs]]. `cpDvPairs` counts the checkpoint's raw `V` rows
    * (the torn check); the live pairs are those rows minus the masks —
    * `detachedFiles` (checkpoint residents tail deltas removed: their
    * attachments detached into dvHistory) and `removedPairs` (explicit
    * X-line detaches, [[compactDeletionVectors]]) — unioned with
    * `tailAdds`. Whole-map access (get/iterator/size) forces one
    * soft-cached entries job ([[dvForceJobs]]); emptiness answers
    * cheaply whenever derivable. */
  final class DeferredDvs private[graft] (
      private[graft] val entriesDir: String,
      private[graft] val cpDvPairs: Long,
      private[graft] val tailAdds: Map[String, Seq[String]],
      private[graft] val detachedFiles: Set[String],
      private[graft] val removedPairs: Map[String, Set[String]],
      /** XOR of [[dvPairHash64]] over the entries' RAW V pairs (the
        * stub's `VC` checksum field) — content-sensitive torn check;
        * None on older stubs. */
      private[graft] val cpXor: Option[Long] = None) extends LiveDvs
      with SoftCachedMaterialization[Map[String, Seq[String]]] {
    /** Memo of the DISTINCT live sidecar set — bounded (one sidecar dir
      * per sparse mutation, never corpus), filled by whichever scoped
      * entries pass derives it first ([[dvsFor]] piggybacks it on its
      * membership job) so a plan's later [[distinctLiveSidecars]] ask
      * costs zero additional jobs. Strong reference is fine: O(sparse
      * commits) strings. */
    @volatile private[graft] var sidecarMemo: Set[String] = _
    private[graft] def tailPairCount: Long =
      tailAdds.valuesIterator.map(_.size.toLong).sum
    private[graft] def removedPairCount: Long =
      removedPairs.valuesIterator.map(_.size.toLong).sum
    /** Exact emptiness when derivable without a job; None = ambiguous
      * (some checkpoint residents were detached — only the entries know
      * how many pairs that masked). */
    private[graft] def cheapIsEmpty: Option[Boolean] =
      if (tailAdds.nonEmpty) Some(false)
      else if (cpDvPairs == 0L) Some(true)
      else if (detachedFiles.isEmpty && removedPairCount < cpDvPairs) Some(false)
      else None
    override def isEmpty: Boolean = cheapIsEmpty.getOrElse(forced.isEmpty)
    def get(key: String): Option[Seq[String]] = forced.get(key)
    def iterator: Iterator[(String, Seq[String])] = forced.iterator
    def removed(key: String): Map[String, Seq[String]] = forced.removed(key)
    def updated[V1 >: Seq[String]](key: String, value: V1): Map[String, V1] =
      forced.updated(key, value)
    override def contains(key: String): Boolean =
      tailAdds.contains(key) || (cheapIsEmpty != Some(true) && forced.contains(key))

    protected def compute(): Map[String, Seq[String]] = {
      Lake.dvForceJobs.incrementAndGet()
      val spark = SparkSession.active
      val detArr = detachedFiles.toArray.sorted
      val remPairs = removedPairs
      val parts = spark.read
        .schema(StructType(Lake.CpEntrySchema.take(3)))
        .parquet(entriesDir).rdd.mapPartitions { it =>
          var raw = 0L
          var x = 0L
          val b = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
          it.foreach { r =>
            if (r.getString(0) == "V") {
              raw += 1
              val f = r.getString(1)
              val s = r.getString(2)
              x ^= Lake.dvPairHash64(f, s)
              if (!Lake.dvPairMasked(detArr, remPairs, f, s)) b += ((f, s))
            }
          }
          Iterator.single((raw, x, b.toArray))
        }.collect()
      val raw = parts.iterator.map(_._1).sum
      if (raw != cpDvPairs)
        throw new IllegalStateException(
          s"deferred dv map is torn: entries $entriesDir holds $raw V rows, " +
            s"the stub's VC census promised $cpDvPairs")
      val rawXor = parts.iterator.map(_._2).foldLeft(0L)(_ ^ _)
      cpXor.filter(_ != rawXor).foreach { x =>
        throw new IllegalStateException(
          s"deferred dv map is torn: entries $entriesDir V-pair checksum " +
            f"$rawXor%016x != stub's $x%016x (same-count content corruption)")
      }
      val cp = parts.iterator.flatMap(_._3).toArray.sorted
      Lake.mergeDvPairs(cp, tailAdds)
    }
  }

  /** The deferred-dv liveness predicate — ONE definition so
    * materialization ([[DeferredDvs.compute]]), scoped fetch
    * ([[dvsFor]]), the RDD view ([[dvPairsRdd]]) and the checkpoint
    * fold ([[writeEntriesIncremental]]) can never drift: a
    * checkpoint-resident (file, sidecar) pair is DEAD iff its file was
    * detached (removed/compacted away) or the pair was explicitly
    * X-removed. `detArr` must be sorted. */
  private[graft] def dvPairMasked(detArr: Array[String],
      remPairs: Map[String, Set[String]], f: String, s: String): Boolean =
    (detArr.nonEmpty && java.util.Arrays.binarySearch(
      detArr.asInstanceOf[Array[AnyRef]], f) >= 0) ||
      remPairs.get(f).exists(_(s))

  /** Merge checkpoint-resident live pairs with the driver tail — per
    * file, resident sidecars first (their render order), tail adds
    * appended, duplicates (a restore re-attaching a resident sidecar)
    * folded. */
  private[graft] def mergeDvPairs(cpPairs: Seq[(String, String)],
      tailAdds: Map[String, Seq[String]]): Map[String, Seq[String]] = {
    val base = scala.collection.mutable.LinkedHashMap.empty[String, Vector[String]]
    cpPairs.foreach { case (f, s) =>
      base.update(f, base.getOrElse(f, Vector.empty) :+ s)
    }
    tailAdds.foreach { case (f, ss) =>
      base.update(f, (base.getOrElse(f, Vector.empty) ++ ss).distinct)
    }
    base.iterator.map { case (f, ss) => f -> (ss.distinct: Seq[String]) }.toMap
  }

  /** Live dv-pair count at or above which a PATH-LAZY columnar
    * checkpoint load defers the attachment map too ([[DeferredDvs]]) —
    * below it, a driver map of a few thousand pairs is cheaper than
    * re-deriving it per consumer. Applies only when the stub carries a
    * `VC` census line; older stubs always materialize. */
  val DvLazyMinPairsDefault = 65536

  private[graft] val DvLazyMinPairsKey =
    "spark.graft.lake.checkpoint.dvLazyMinPairs"

  private[graft] def dvLazyMinPairs(spark: SparkSession): Long =
    spark.conf.getOption(DvLazyMinPairsKey)
      .map(_.toLong).getOrElse(DvLazyMinPairsDefault.toLong)

  /** Entries jobs launched to materialize a whole [[DeferredDvs]] map —
    * the dv-lazy probe pins the scale paths to ZERO of these (scoped
    * jobs, [[dvScopedJobs]], are the allowed shape). Observability
    * only. */
  private[graft] val dvForceJobs =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Bounded SCOPED dv jobs ([[dvsFor]] / [[distinctLiveSidecars]] /
    * stacked-attachment queries) — O(asked paths) driver traffic each,
    * the legal way to consult a deferred attachment map. Observability
    * only. */
  private[graft] val dvScopedJobs =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** The dv entries a resolved state PINS on the driver (the deferred
    * tail; a soft-cached materialization does not count) — the dv-lazy
    * probe's driver-memory bound, the [[pinnedPathCount]] analog. */
  private[graft] def pinnedDvCount(st: LakeState): Long = st.dvs match {
    case dd: DeferredDvs =>
      dd.tailPairCount + dd.detachedFiles.size + dd.removedPairCount
    case m => m.valuesIterator.map(_.size.toLong).sum
  }

  /** Attachments for exactly `files` — O(files) driver traffic: the
    * driver tail overlays one membership job over the entries' V rows
    * (skipped when the checkpoint provably carries none, or a forced
    * materialization is already soft-cached). The scoped accessor read
    * planning, CDC planning and restore use instead of forcing. */
  private[graft] def dvsFor(spark: SparkSession, dvs: Map[String, Seq[String]],
      files: Seq[String]): Map[String, Seq[String]] = dvs match {
    case dd: DeferredDvs =>
      if (files.isEmpty || dd.cheapIsEmpty.contains(true)) Map.empty
      else {
        val cached = dd.cachedOrNull
        if (cached != null) {
          files match {
            case _: DeferredFiles => cached // whole table: every key is in the read
            case fl => cached.view.filterKeys(fl.toSet).toMap
          }
        } else {
          // a WHOLE-TABLE ask (compactionCensus passes a state's own
          // soft-cached path-lazy list) skips the membership array
          // entirely — building it would force the list and ship a
          // corpus-sized closure; every live pair's file is live by
          // invariant, so this is simply the full live map
          val wholeTable = files.isInstanceOf[DeferredFiles]
          val tailPart =
            if (wholeTable) dd.tailAdds
            else dd.tailAdds.view.filterKeys(files.toSet).toMap
          if (dd.cpDvPairs == 0L) tailPart
          else {
            dvScopedJobs.incrementAndGet()
            // membership rides as a BROADCAST: a bounded-but-large
            // candidate list must not serialize into every task binary
            val wantedB = spark.sparkContext.broadcast(
              if (wholeTable) Array.empty[String]
              else files.distinct.toArray.sorted: Array[String])
            val detArr = dd.detachedFiles.toArray.sorted
            val remPairs = dd.removedPairs
            // destroyed in a finally: a torn-check/FS failure inside the
            // scan must not leak the membership broadcast
            // ([[compactionCensus]] sets the idiom)
            val parts =
              try {
                spark.read
                  .schema(StructType(CpEntrySchema.take(3)))
                  .parquet(dd.entriesDir).rdd.mapPartitions { it =>
                    val pairs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
                    // the same pass ALSO derives every live pair's
                    // sidecar (bounded set) so the plan's later
                    // distinct-sidecar ask costs no second job
                    val sides = scala.collection.mutable.HashSet.empty[String]
                    it.foreach { r =>
                      if (r.getString(0) == "V") {
                        val f = r.getString(1)
                        val s = r.getString(2)
                        if (!dvPairMasked(detArr, remPairs, f, s)) {
                          sides += s
                          def hit(a: Array[String]): Boolean = a.nonEmpty &&
                            java.util.Arrays.binarySearch(a.asInstanceOf[Array[AnyRef]], f) >= 0
                          val wanted = wantedB.value
                          if (wanted.isEmpty || hit(wanted)) pairs += ((f, s))
                        }
                      }
                    }
                    Iterator.single((pairs.toArray, sides.toSet))
                  }.collect()
              } finally wantedB.destroy()
            val cp = parts.flatMap(_._1).sorted
            dd.sidecarMemo = parts.iterator.map(_._2)
              .foldLeft(dd.tailAdds.valuesIterator.flatten.toSet)(_ ++ _)
            mergeDvPairs(cp, tailPart)
          }
        }
      }
    case m => m.view.filterKeys(files.toSet).toMap
  }

  /** The live (file, sidecar) attachment pairs as an RDD without
    * materializing them on the driver — the [[statePathsRdd]] analog
    * restore's dv diff and the corpus-scale MoR read build on. */
  private[graft] def dvPairsRdd(spark: SparkSession,
      dvs: Map[String, Seq[String]]): org.apache.spark.rdd.RDD[(String, String)] =
    dvs match {
      case dd: DeferredDvs =>
        val detArr = dd.detachedFiles.toArray.sorted
        val remPairs = dd.removedPairs
        val fromEntries = spark.read
          .schema(StructType(CpEntrySchema.take(3)))
          .parquet(dd.entriesDir).rdd.flatMap { r =>
            if (r.getString(0) != "V") None
            else {
              val f = r.getString(1)
              if (dvPairMasked(detArr, remPairs, f, r.getString(2))) None
              else Some((f, r.getString(2)))
            }
          }
        val tailPairs = dd.tailAdds.toSeq.flatMap { case (f, ss) => ss.map(f -> _) }
        if (tailPairs.isEmpty) fromEntries
        else fromEntries.union(spark.sparkContext.parallelize(tailPairs, 1))
      case m =>
        val pairs = m.toSeq.flatMap { case (f, ss) => ss.map(f -> _) }
        spark.sparkContext.parallelize(pairs,
          math.max(1, math.min(8, pairs.size / 100000)))
    }

  /** The DISTINCT live sidecar directories — O(sparse commits), never
    * corpus-scale (one sidecar dir per sparse mutation, attached to many
    * files), so the result is always driver-safe; only DERIVING it from
    * a deferred map needs one distinct job. Vacuum liveness and
    * whole-table MoR reads consume this instead of `values.flatten`. */
  private[graft] def distinctLiveSidecars(spark: SparkSession,
      dvs: Map[String, Seq[String]]): Set[String] = dvs match {
    case dd: DeferredDvs =>
      if (dd.cheapIsEmpty.contains(true)) Set.empty
      else if (dd.sidecarMemo != null) dd.sidecarMemo // an earlier scoped pass derived it
      else {
        val cached = dd.cachedOrNull
        if (cached != null) cached.valuesIterator.flatten.toSet
        else {
          dvScopedJobs.incrementAndGet()
          // per-partition set fold, NOT a distinct(): the result is
          // bounded (one sidecar dir per sparse mutation) so a shuffle
          // stage buys nothing over a single-stage union of small sets
          val s = dvPairsRdd(spark, dd)
            .mapPartitions(it => Iterator.single(it.map(_._2).toSet))
            .collect().foldLeft(Set.empty[String])(_ ++ _)
          dd.sidecarMemo = s
          s
        }
      }
    case m => m.valuesIterator.flatten.toSet
  }

  /** Conservative "this state may carry live attachments" — exact on
    * eager maps, never forces a deferred one (ambiguity answers true).
    * Callers use it for ROUTING decisions where a false positive only
    * picks the MoR-capable plan for a clean lake — correct either
    * way. */
  private[graft] def dvMaybeNonEmpty(dvs: Map[String, Seq[String]]): Boolean =
    dvs match {
      case dd: DeferredDvs =>
        val cached = dd.cachedOrNull
        if (cached != null) cached.nonEmpty
        else !dd.cheapIsEmpty.contains(true)
      case m => m.nonEmpty
    }

  /** EXACT count of files carrying live attachments — a distinct-count
    * job on a deferred map (driver traffic: one long), direct on eager
    * ones. Diagnostics (DESCRIBE DETAIL) use this where a display
    * number must be exact but the map must stay off the driver. */
  private[graft] def dvdFileCount(spark: SparkSession,
      dvs: Map[String, Seq[String]]): Int = dvs match {
    case dd: DeferredDvs =>
      val cached = dd.cachedOrNull
      if (cached != null) cached.size
      else if (dd.cheapIsEmpty.contains(true)) 0
      else {
        dvScopedJobs.incrementAndGet()
        dvPairsRdd(spark, dd).keys.distinct().count().toInt
      }
    case m => m.size
  }

  /** Live-file count at or above which a lazily-resolved columnar
    * checkpoint defers even the PATH list ([[DeferredFiles]]) — below
    * it, materializing a few MB of paths is cheaper than re-deriving
    * them per read. Applies only when the stub carries a `DC` line
    * (count + sample); older stubs always materialize. */
  val PathLazyMinFilesDefault = 65536

  private[graft] val PathLazyMinFilesKey =
    "spark.graft.lake.checkpoint.pathLazyMinFiles"

  private[graft] def pathLazyMinFiles(spark: SparkSession): Long =
    spark.conf.getOption(PathLazyMinFilesKey)
      .map(_.toLong).getOrElse(PathLazyMinFilesDefault.toLong)

  /** Entries jobs launched to materialize a [[DeferredFiles]] list since
    * JVM start — the path-lazy probe pins a read to at most one (soft-
    * cached) and the scale-critical planners to zero. Observability
    * only. */
  private[graft] val pathForceJobs =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** The path entries a resolved state PINS on the driver (strong
    * references — a [[DeferredFiles]]/[[DeferredHistory]] soft-cached
    * materialization is reclaimable and does not count): the probe's
    * driver-memory bound. Counts the HISTORY list too — it is the other
    * corpus-scale path structure a high-churn lake carries. */
  private[graft] def pinnedPathCount(st: LakeState): Long = {
    val f = st.files match {
      case d: DeferredFiles => d.tailAdded.size.toLong + d.tailRemoved.size
      case e => e.length.toLong
    }
    val h = st.history match {
      case d: DeferredHistory => d.histTail.size.toLong
      case e => e.length.toLong
    }
    f + h
  }

  /** One committed delta record. `rewrites` names the subset of `added`
    * paths that carry REWRITTEN pre-image rows rather than new data
    * (rendered with the `AR` line tag) — the per-file grain that keeps
    * [[changesBetween]] exact through commits that both rewrite and add
    * (merge). */
  private[graft] final case class DeltaRecord(version: Long, action: String,
      schemaJson: String, added: Seq[(String, Seq[ColStat])], removed: Seq[String],
      rewrites: Set[String] = Set.empty, timestampMs: Long = 0L,
      /** Deletion-vector attachments this commit adds: (data file,
        * sidecar dir) pairs, rendered as `D` lines. */
      dvAdds: Seq[(String, String)] = Seq.empty,
      /** Sidecars this commit DETACHED by removing their data files
        * (they move to dv history), rendered as `VD` lines — computed
        * EXACTLY at commit time by [[publish]] (on a deferred base, one
        * scoped entries job), because a path-lazy REPLAY cannot see the
        * checkpoint residents' attachments driver-side. Deltas written
        * before this line existed replay against eager maps (their
        * builds never produced deferred states), where [[applyDelta]]
        * recomputes it exactly. */
      dvDetached: Seq[String] = Seq.empty,
      /** Change-feed sidecars this commit wrote: (sidecar dir, change
        * type) pairs, rendered as `C` lines. The sidecar's rows ARE the
        * feed rows of that type for this version. */
      cdcFiles: Seq[(String, String)] = Seq.empty,
      /** Deletion-vector attachments this commit DETACHES: (data file,
        * sidecar dir) pairs, rendered as `X` lines — the
        * [[compactDeletionVectors]] fold-away (the detached sidecar
        * stays referenced as history for time travel below this
        * version). Applied BEFORE `dvAdds`, so a consolidation both
        * detaches the stacked sidecars and attaches their union in one
        * delta. */
      dvRemoves: Seq[(String, String)] = Seq.empty,
      /** The application transaction this commit was tagged with
        * ((appId, txnVersion), rendered as a `T` line) — see
        * [[LakeState.txns]]. */
      txn: Option[(String, Long)] = None,
      /** Per-file stats RESTATED for already-live files (rendered as
        * `ASF` lines) — [[analyzeStats]]' backfill commit: the named
        * files' recorded min/max merge these columns in, no data or
        * file-list change. Producers filter the list against the
        * commit-time live set, which keeps [[applyDelta]]'s path-lazy
        * liveness predicate sound; a restate for a file an interposed
        * commit removed is skipped at replay. */
      statRestates: Seq[(String, Seq[ColStat])] = Seq.empty,
      /** CHECK constraints this commit ADDS (name → SQL predicate, `K`
        * lines) — see [[LakeState.checks]]. */
      checkAdds: Seq[(String, String)] = Seq.empty,
      /** CHECK constraint names this commit DROPS (`KD` lines). */
      checkDrops: Seq[String] = Seq.empty,
      /** The write layout this commit RECORDS (`L` line; empty = an
        * explicitly unpartitioned layout). Absent on ordinary commits
        * — the state keeps its prior layout. */
      layout: Option[Seq[String]] = None,
      /** Added data files whose rows are UPDATE POST-IMAGES (`AU` add
        * lines): a sparse UPDATE / merge stages its updated rows and its
        * genuinely-new inserts as separate files, and the change feed
        * tags the former `update_postimage` instead of `insert` — the
        * Delta CDF contract — at zero extra write cost (the add IS the
        * post-image; no `_change_data` double-write). */
      postImages: Set[String] = Set.empty,
      /** The bloom-filter column set this commit RECORDS (`B` line;
        * empty = explicitly none). Absent on ordinary commits — the
        * state keeps its prior setting. */
      bloomCols: Option[Seq[String]] = None)

  /** A staged-but-unpublished mutation: everything [[publish]] needs to
    * audit, commit, and vacuum. `removedFiles` are superseded pre-image
    * files (still live until publish); `stagedFiles` are written but
    * invisible to readers until the delta lands; `schemaJson` is the
    * schema the new version records; `stagedStats` are the audit-time
    * per-file column stats for the staged files. */
  final case class StagedCommit(
      lakeDir: String,
      base: LakeState,
      action: String,
      schemaJson: String,
      removedFiles: Seq[String],
      stagedFiles: Seq[String],
      stagedRows: Long,
      expectedRows: Long,
      stagedStats: Map[String, Seq[ColStat]] = Map.empty,
      rewriteFiles: Set[String] = Set.empty,
      /** Deletion-vector attachments this commit publishes: data file →
        * staged sidecar dirs (already written under [[DvDirName]],
        * invisible until the delta lands; [[abort]] deletes them). */
      dvAdds: Map[String, Seq[String]] = Map.empty,
      /** Change-feed sidecars this commit publishes: (dir, change type)
        * pairs already written under [[CdcDirName]] (invisible until the
        * delta lands; [[abort]] deletes them). */
      cdcFiles: Seq[(String, String)] = Seq.empty,
      /** Deletion-vector attachments this commit DETACHES (rendered as
        * `X` lines; see [[DeltaRecord.dvRemoves]]). */
      dvRemoves: Seq[(String, String)] = Seq.empty,
      /** Application transaction tag ((appId, txnVersion)) — [[publish]]
        * SKIPS the whole commit (aborting the staged files) when the
        * lake's [[LakeState.txns]] watermark already covers it, including
        * when a raced writer's interposed commit moved the watermark
        * mid-rebase. The idempotent-replay guard for the streaming sink
        * and `txnAppId`/`txnVersion` batch writes. */
      txn: Option[(String, Long)] = None,
      /** Stat restate (`ASF`) lines this commit carries: per-file
        * per-column min/max replacements merged onto LIVE files — the
        * [[applyDelta]] semantics. A restate whose file an interposed
        * commit removed drops at rebase exactly as at replay. Used by
        * the float->double [[widenColumn]] (re-widened bounds ride in
        * the same metadata commit as the retype). */
      statRestates: Seq[(String, Seq[ColStat])] = Seq.empty,
      /** The write layout this commit records — see
        * [[DeltaRecord.layout]]. [[evolveLayout]], the repartition
        * rewrite, and restores across layout generations carry it. */
      layout: Option[Seq[String]] = None,
      /** Staged files holding UPDATE POST-IMAGE rows — rendered as `AU`
        * add lines; see [[DeltaRecord.postImages]]. */
      postImageFiles: Set[String] = Set.empty,
      /** The bloom-filter column set this commit records — see
        * [[DeltaRecord.bloomCols]]. [[init]] and [[setBloomCols]] carry
        * it. */
      bloomCols: Option[Seq[String]] = None)

  private[graft] def fsRoot(spark: SparkSession, lakeDir: String): (FileSystem, Path) = {
    val p = new Path(lakeDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    (fs, fs.makeQualified(p))
  }

  /** lakeDir-relative form of a data-file path. String-prefix based (not
    * `URI.relativize`) so `file:/x` vs `file:///x` authority-normalization
    * quirks can't silently yield absolute paths in a manifest. */
  private[graft] def relativize(root: Path, file: Path): String = {
    val rp = root.toUri.getPath.stripSuffix("/")
    val fp = file.toUri.getPath
    require(fp.startsWith(rp + "/"), s"$file is not under lake root $root")
    fp.substring(rp.length + 1)
  }

  /** Recursive listing of the lake's parquet data files as lakeDir-relative
    * paths; hidden trees (`_graft_log`, `_SUCCESS`, `.`-prefixed temp
    * files) are excluded. Used to bootstrap version 0 and to diff a staged
    * write's output; manifest readers never need it. A non-empty
    * `scopeDirs` (lakeDir-relative partition directories) restricts the
    * walk to exactly those subtrees — the listing cost of a surgical
    * mutation then tracks the AFFECTED partitions, not the lake. */
  private[graft] def listDataFiles(spark: SparkSession, lakeDir: String,
      scopeDirs: Seq[String] = Seq.empty): Seq[String] = {
    val (fs, root) = fsRoot(spark, lakeDir)
    val roots = if (scopeDirs.isEmpty) Seq(root) else scopeDirs.map(new Path(root, _))
    val out = Seq.newBuilder[String]
    roots.foreach { r =>
      if (fs.exists(r)) {
        val it = fs.listFiles(r, true)
        while (it.hasNext) {
          val f = it.next().getPath
          val rel = relativize(root, fs.makeQualified(f))
          val segments = rel.split('/')
          if (f.getName.endsWith(".parquet") &&
              !segments.exists(s => s.startsWith("_") || s.startsWith(".")))
            out += rel
        }
      }
    }
    out.result().distinct.sorted
  }

  /** True iff ANY qualifying parquet data file lives under `lakeDir` —
    * the walk stops at the FIRST hit instead of materializing the full
    * recursive listing, so an existence probe on a large not-yet-adopted
    * directory (the catalog's `tableExists`/`loadTable` fallback) costs
    * one partial traversal, not a full tree walk. `seen` observes each
    * visited file (tests pin the short-circuit with it). */
  private[graft] def hasAnyDataFile(spark: SparkSession, lakeDir: String,
      seen: Path => Unit = _ => ()): Boolean = {
    val (fs, root) = fsRoot(spark, lakeDir)
    if (!fs.exists(root)) return false
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next().getPath
      seen(f)
      val rel = relativize(root, fs.makeQualified(f))
      val segments = rel.split('/')
      if (f.getName.endsWith(".parquet") &&
          !segments.exists(s => s.startsWith("_") || s.startsWith(".")))
        return true
    }
    false
  }

  /** The manifest files living under any of `dirs` (relative partition
    * directories). The resolved state IS the lake's file census —
    * partition membership is the path prefix, so "which files does this
    * mutation supersede" is driver-side string work, never a Spark job. */
  private[graft] def filesUnder(files: Seq[String], dirs: Seq[String]): Seq[String] =
    files.filter(f => dirs.exists(d => f.startsWith(d + "/")))

  /** Render one typed partition-value row as its directory path, exactly
    * as Spark's writer lays it out. The value string is produced by the
    * same device the write path uses — a Catalyst `Cast(v, string)` with
    * the session time zone — so date/timestamp/decimal partition values
    * render identically to the directories the writer created (a raw
    * `toString` diverges for e.g. `java.sql.Timestamp`'s trailing `.0`);
    * Hive escaping and null → default partition then come from
    * `getPartitionPathString`. A wrong rendering for an exotic type is
    * still caught by the callers' sanity checks (each rendered dir must
    * own manifest files) — it can surface as a refused mutation, never a
    * wrong commit. Rows must carry their schema (collected frames do). */
  private[graft] def partitionDir(partitionCols: Seq[String], row: org.apache.spark.sql.Row): String = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val tz = Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    partitionCols.zipWithIndex.map { case (c, i) =>
      val v =
        if (row.isNullAt(i)) null
        else {
          val lit = Literal.create(row.get(i), row.schema(i).dataType)
          String.valueOf(Cast(lit, StringType, tz).eval(null))
        }
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.getPartitionPathString(c, v)
    }.mkString("/")
  }

  // ------------------------------------------------------------------
  // Log encoding: one delta record per commit, periodic checkpoints
  // ------------------------------------------------------------------

  private def logDir(root: Path): Path = new Path(root, LogDirName)

  private def deltaName(version: Long): String = f"v$version%020d.manifest"
  private def checkpointName(version: Long): String = f"v$version%020d.checkpoint"

  private[graft] def parseDelta(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(".manifest"))
      name.stripPrefix("v").stripSuffix(".manifest").toLongOption
    else None

  private def parseCheckpoint(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(".checkpoint"))
      name.stripPrefix("v").stripSuffix(".checkpoint").toLongOption
    else None

  /** A columnar checkpoint's parquet entries directory. UUID-suffixed so
    * a replace ([[vacuumKeeping]]'s history rewrite) writes its new
    * entries under a FRESH name and the text stub's atomic rename swap
    * stays the single commit point — readers only ever learn of an
    * entries directory through a fully-written stub. */
  private def pqEntriesName(version: Long): String =
    f"v$version%020d.checkpoint-${java.util.UUID.randomUUID().toString.take(8)}.pqentries"

  private def pqEntriesVersion(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(".pqentries") && name.contains(".checkpoint-"))
      name.stripPrefix("v").takeWhile(_ != '.').toLongOption
    else None

  /** Row shape of a columnar checkpoint's entries: one row per F (live
    * file, with its per-column stats), H (history), V (DV attachment —
    * `aux` is the sidecar), VH (detached DV sidecar), CF (change-feed
    * sidecar) line of the equivalent text checkpoint. */
  private[graft] val CpEntrySchema = StructType(Seq(
    StructField("tag", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("aux", StringType, nullable = true),
    StructField("stats", org.apache.spark.sql.types.ArrayType(StructType(Seq(
      StructField("col", StringType, nullable = false),
      StructField("min", StringType, nullable = false),
      StructField("max", StringType, nullable = false))), containsNull = false),
      nullable = true)))

  private def enc(s: String): String = URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String = URLDecoder.decode(s, "UTF-8")

  private def statsFields(stats: Seq[ColStat]): Seq[String] =
    stats.flatMap(s => Seq(enc(s.col), enc(s.min), enc(s.max)))

  private def parseStats(fields: Seq[String]): Seq[ColStat] = {
    // a trailing 1- or 2-field remainder is log corruption: fail loudly
    // like every other parse error here — silently dropping it would
    // only DEGRADE pruning today, but a quiet corruption is how a log
    // grows undiagnosable (unknown stats keep the file, so loudness
    // costs no exactness)
    if (fields.length % 3 != 0)
      throw new IllegalStateException(
        s"malformed per-file stats: ${fields.length} field(s) is not a multiple of " +
          s"3 (col,min,max triples) — ${fields.mkString("[", ",", "]")}")
    fields.grouped(3).map { case Seq(c, mn, mx) => ColStat(dec(c), dec(mn), dec(mx)) }.toSeq
  }

  /** The log feature table (Delta's `minReaderVersion` idiom): the
    * highest feature LEVEL this build's parsers understand. A log record
    * that uses tags above the base set stamps `mr=<level>` into its
    * header — written ONLY then, so old logs replay byte-identically —
    * and parsers check the stamp FIRST, turning "unknown tag X" into the
    * self-describing "requires reader ≥ N, this build reads ≤ M".
    *
    * Levels:
    *   - 1: the base `graft-delta-v1` / `graft-checkpoint-v2/v3` tag
    *     sets (implicit — never stamped);
    *   - 2: the `HX` history-checksum stub line, filtered restates
    *     (`ASF`) and detached-sidecar lines (`VD`) in deltas. (The DC/VC
    *     checksum FIELDS need no gate: level-1 parsers ignore extra
    *     fields on known tags.)
    */
  private[graft] val ReaderFeatureVersion = 2

  private def mrStamp(level: Int): String = s"mr=$level"

  /** Parse the `mr=` stamp out of a record's header fields and refuse
    * FIRST — before any tag is interpreted — when the log demands a
    * newer reader. `what` names the record kind for the error. */
  private def checkMinReader(headerFields: Seq[String], what: String): Unit =
    headerFields.iterator
      .filter(_.startsWith("mr="))
      .flatMap(_.stripPrefix("mr=").toIntOption)
      .find(_ > ReaderFeatureVersion)
      .foreach { n =>
        throw new IllegalStateException(
          s"this $what requires reader feature version >= $n; this build reads " +
            s"<= $ReaderFeatureVersion — upgrade the graft library to read this log")
      }

  private def renderDelta(rec: DeltaRecord): String = {
    // the header carries the audit-surface facts (action, commit
    // wall-clock, add/data-add/remove counts) so [[versionAtTimestamp]]
    // and [[describeHistory]] resolve from ONE bounded first-line read,
    // never a full-file parse; extra fields are ignored by older parsers
    val nData = rec.added.count { case (p, _) => !rec.rewrites(p) }
    // stamp the required reader level only when a level-2 tag is
    // actually present (ASF / VD) — see [[ReaderFeatureVersion]]
    val mr = if (rec.statRestates.nonEmpty || rec.dvDetached.nonEmpty)
      "\t" + mrStamp(2) else ""
    val header = s"graft-delta-v1\t${rec.action}\t${rec.timestampMs}" +
      s"\t${rec.added.size}\t$nData\t${rec.removed.size}" +
      s"\t${rec.dvAdds.size}\t${rec.cdcFiles.size}" + mr
    val schema = s"S\t${enc(rec.schemaJson)}"
    val adds = rec.added.sortBy(_._1).map { case (p, st) =>
      val tag = if (rec.rewrites(p)) "AR"
        else if (rec.postImages(p)) "AU" else "A"
      (Seq(tag, enc(p)) ++ statsFields(st)).mkString("\t") }
    val removes = rec.removed.sorted.map(p => s"R\t${enc(p)}")
    val dvs = rec.dvAdds.sorted.map { case (f, s) => s"D\t${enc(f)}\t${enc(s)}" }
    val dvd = rec.dvDetached.distinct.sorted.map(s => s"VD\t${enc(s)}")
    val dvx = rec.dvRemoves.sorted.map { case (f, s) => s"X\t${enc(f)}\t${enc(s)}" }
    val cdc = rec.cdcFiles.sorted.map { case (p, t) => s"C\t${enc(p)}\t${enc(t)}" }
    val txn = rec.txn.toSeq.map { case (a, v) => s"T\t${enc(a)}\t$v" }
    // `ASF` = filtered-at-commit restates (see DeltaRecord.statRestates);
    // the retired unfiltered `AS` tag is refused by [[parseDeltaFile]]
    val restates = rec.statRestates.sortBy(_._1).map { case (p, st) =>
      (Seq("ASF", enc(p)) ++ statsFields(st)).mkString("\t") }
    val kAdds = rec.checkAdds.sortBy(_._1).map { case (n, e) => s"K\t${enc(n)}\t${enc(e)}" }
    val kDrops = rec.checkDrops.sorted.map(n => s"KD\t${enc(n)}")
    val lay = rec.layout.toSeq.map(cols => (Seq("L") ++ cols.map(enc)).mkString("\t"))
    val blm = rec.bloomCols.toSeq.map(cols => (Seq("B") ++ cols.map(enc)).mkString("\t"))
    (header +: schema +: (adds ++ removes ++ dvs ++ dvd ++ dvx ++ cdc ++ txn ++ restates ++
      kAdds ++ kDrops ++ lay ++ blm)).mkString("\n")
  }

  /** A log record's non-blank lines, refusing an EMPTY record with its
    * kind and version: [[ExclusiveCreateLogStore]] creates the final name
    * before it writes, so a writer that crashes in between leaves a
    * zero-byte record behind. */
  private def recordLines(text: String, what: String, version: Long): Seq[String] = {
    val lines = text.split('\n').toSeq.filter(_.nonEmpty)
    if (lines.isEmpty)
      throw new IllegalStateException(
        s"$what at version $version is empty — a writer likely crashed between " +
          "creating the record and writing it")
    lines
  }

  private def parseDeltaFile(text: String, version: Long): DeltaRecord = {
    val lines = recordLines(text, "delta record", version)
    val header = lines.head.split('\t')
    require(header(0) == "graft-delta-v1",
      s"not a graft delta record at version $version: ${lines.head.take(60)}")
    checkMinReader(header.toSeq, "delta record") // FIRST, before any tag parse
    val action = header(1)
    val ts = header.lift(2).flatMap(_.toLongOption).getOrElse(0L)
    var schemaJson = ""
    val added = Seq.newBuilder[(String, Seq[ColStat])]
    val removed = Seq.newBuilder[String]
    val rewrites = Set.newBuilder[String]
    val dvAdds = Seq.newBuilder[(String, String)]
    val dvDetached = Seq.newBuilder[String]
    val dvRemoves = Seq.newBuilder[(String, String)]
    val cdcFiles = Seq.newBuilder[(String, String)]
    val postImages = Set.newBuilder[String]
    var txn: Option[(String, Long)] = None
    val restates = Seq.newBuilder[(String, Seq[ColStat])]
    val kAdds = Seq.newBuilder[(String, String)]
    val kDrops = Seq.newBuilder[String]
    var layout: Option[Seq[String]] = None
    var bloomCols: Option[Seq[String]] = None
    lines.tail.foreach { l =>
      val f = l.split('\t').toSeq
      f.head match {
        case "S" => schemaJson = dec(f(1))
        case "A" => added += ((dec(f(1)), parseStats(f.drop(2))))
        case "AR" =>
          val p = dec(f(1))
          added += ((p, parseStats(f.drop(2))))
          rewrites += p
        case "AU" =>
          val p = dec(f(1))
          added += ((p, parseStats(f.drop(2))))
          postImages += p
        case "ASF" => restates += ((dec(f(1)), parseStats(f.drop(2))))
        case "AS" => throw new IllegalStateException(
          s"delta record at version $version carries a retired legacy 'AS' " +
            "(unfiltered restate) line; this build reads only filtered 'ASF' " +
            "restates — replay the lake with an earlier graft build that still " +
            "reads 'AS' and checkpoint it")
        case "R" => removed += dec(f(1))
        case "D" => dvAdds += ((dec(f(1)), dec(f(2))))
        case "VD" => dvDetached += dec(f(1))
        case "X" => dvRemoves += ((dec(f(1)), dec(f(2))))
        case "C" => cdcFiles += ((dec(f(1)), dec(f(2))))
        case "T" => txn = Some((dec(f(1)), f(2).toLong))
        case "K" => kAdds += ((dec(f(1)), dec(f(2))))
        case "KD" => kDrops += dec(f(1))
        case "L" => layout = Some(f.tail.map(dec))
        case "B" => bloomCols = Some(f.tail.map(dec))
        case other => throw new IllegalStateException(
          s"unknown delta line tag '$other' — this record was written by a newer " +
            "graft build than this reader (and carries no minReader gate for the " +
            "tag); upgrade the reader library")
      }
    }
    val rec = DeltaRecord(version, action, schemaJson, added.result(), removed.result(),
      rewrites.result(), ts, dvAdds.result(), dvDetached = dvDetached.result(),
      cdcFiles = cdcFiles.result(), dvRemoves = dvRemoves.result(), txn = txn,
      statRestates = restates.result(), checkAdds = kAdds.result(),
      checkDrops = kDrops.result(), layout = layout,
      postImages = postImages.result(), bloomCols = bloomCols)
    // the torn-record tripwire: the counts [[renderDelta]] wrote into the
    // header against the lines parsed, so a record cut at a line boundary
    // fails instead of reading as a shorter commit. A header without a
    // count (an older writer) leaves that count unchecked.
    Seq(("add", rec.added.size),
      ("data-add", rec.added.count { case (p, _) => !rec.rewrites(p) }),
      ("remove", rec.removed.size), ("D", rec.dvAdds.size), ("C", rec.cdcFiles.size))
      .zipWithIndex.foreach { case ((what, parsed), i) =>
        header.lift(3 + i).flatMap(_.toIntOption).filter(_ != parsed).foreach { counted =>
          throw new IllegalStateException(
            s"delta record at version $version is torn: its header counts $counted " +
              s"$what line(s) but the record holds $parsed")
        }
      }
    rec
  }

  /** Checkpoints are written under the `v2` header: `v2` PROMISES a
    * complete `H` (history) section, which is what lets [[vacuum]] trust
    * `files ++ history` as the full referenced-file set. The retired `v1`
    * header (builds that predate the history section) made no such
    * promise, so [[parseCheckpointFile]] refuses it. */
  private def renderCheckpoint(st: LakeState): String = {
    val header = "graft-checkpoint-v2"
    val schema = s"S\t${enc(st.schemaJson)}"
    val files = st.files.sorted.map { p =>
      (Seq("F", enc(p)) ++ statsFields(st.stats.getOrElse(p, Seq.empty))).mkString("\t") }
    val hist = st.history.sorted.map(p => s"H\t${enc(p)}")
    val dvs = st.dvs.toSeq.flatMap { case (f, ss) => ss.map(s => (f, s)) }
      .sorted.map { case (f, s) => s"V\t${enc(f)}\t${enc(s)}" }
    val dvHist = st.dvHistory.sorted.map(s => s"VH\t${enc(s)}")
    val cdc = st.cdc.sorted.map(p => s"CF\t${enc(p)}")
    val txns = st.txns.toSeq.sorted.map { case (a, v) => s"T\t${enc(a)}\t$v" }
    val checks = st.checks.toSeq.sorted.map { case (n, e) => s"K\t${enc(n)}\t${enc(e)}" }
    val lay = st.layout.toSeq.map(cols => (Seq("LY") ++ cols.map(enc)).mkString("\t"))
    val blm = if (st.bloomCols.isEmpty) Seq.empty
      else Seq((Seq("BY") ++ st.bloomCols.map(enc)).mkString("\t"))
    (header +: schema +: (files ++ hist ++ dvs ++ dvHist ++ cdc ++ txns ++ checks ++
      lay ++ blm)).mkString("\n")
  }

  private def parseCheckpointFile(text: String, version: Long): LakeState = {
    val lines = recordLines(text, "checkpoint", version)
    val headerFields = lines.head.split('\t').toSeq
    checkMinReader(headerFields, "checkpoint") // FIRST, before any tag parse
    headerFields.head match {
      case "graft-checkpoint-v2" =>
      case "graft-checkpoint-v1" => throw new IllegalStateException(
        s"checkpoint at version $version uses the retired graft-checkpoint-v1 " +
          "dialect (no H history section); this build reads only " +
          "graft-checkpoint-v2/v3 — re-checkpoint the lake with an earlier " +
          "graft build that still reads v1")
      case other => throw new IllegalArgumentException(
        s"not a graft checkpoint at version $version: ${other.take(60)}")
    }
    var schemaJson = ""
    val files = Seq.newBuilder[String]
    val hist = Seq.newBuilder[String]
    val stats = Map.newBuilder[String, Seq[ColStat]]
    val dvPairs = Seq.newBuilder[(String, String)]
    val dvHist = Seq.newBuilder[String]
    val cdc = Seq.newBuilder[String]
    val txns = Map.newBuilder[String, Long]
    val checks = Map.newBuilder[String, String]
    var layout: Option[Seq[String]] = None
    var bloomCols: Seq[String] = Seq.empty
    lines.tail.foreach { l =>
      val f = l.split('\t').toSeq
      f.head match {
        case "S" => schemaJson = dec(f(1))
        case "F" =>
          val p = dec(f(1))
          files += p
          val st = parseStats(f.drop(2))
          if (st.nonEmpty) stats += (p -> st)
        case "H" => hist += dec(f(1))
        case "V" => dvPairs += ((dec(f(1)), dec(f(2))))
        case "VH" => dvHist += dec(f(1))
        case "CF" => cdc += dec(f(1))
        case "T" => txns += (dec(f(1)) -> f(2).toLong)
        case "K" => checks += (dec(f(1)) -> dec(f(2)))
        case "LY" => layout = Some(f.tail.map(dec))
        case "BY" => bloomCols = f.tail.map(dec)
        case other => throw new IllegalStateException(
          s"unknown checkpoint line tag '$other' — written by a newer graft build " +
            "(no minReader gate for the tag); upgrade the reader library")
      }
    }
    LakeState(version, schemaJson, files.result().sorted, stats.result(), hist.result().sorted,
      dvs = dvPairs.result().groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap,
      dvHistory = dvHist.result().sorted,
      cdc = cdc.result().sorted,
      txns = txns.result(),
      checks = checks.result(),
      layout = layout,
      bloomCols = bloomCols)
  }

  /** Text stub of a COLUMNAR checkpoint (`graft-checkpoint-v3`): only the
    * sections whose size never tracks the file count (schema, txns,
    * checks, layout, bloom cols) plus a `PQ` pointer naming the parquet
    * entries directory and its exact row count (the torn-write tripwire —
    * a partial entries read fails loudly instead of resolving a state
    * that silently lost files). `v3` implies a complete history section,
    * like `v2`. */
  private def renderCheckpointStub(st: LakeState, dirName: String, entries: Long,
      statCols: Option[Set[String]], sumsComplete: Boolean,
      vPairs: Long,
      fXor: Option[Long] = None, hXor: Option[Long] = None,
      vXor: Option[Long] = None): String = {
    // the HX line below is a level-2 tag a v3-base reader cannot parse:
    // stamp the required reader level so that reader refuses with the
    // version message instead of "unknown tag" ([[ReaderFeatureVersion]];
    // `startsWith("graft-checkpoint-v3")` routing still matches)
    val header = "graft-checkpoint-v3" +
      (if (hXor.isDefined) "\t" + mrStamp(2) else "")
    val schema = s"S\t${enc(st.schemaJson)}"
    val pq = s"PQ\t${enc(dirName)}\t$entries"
    // `DC`: the F-row count, whether the DR sums cover every resident,
    // and the MIN live path — everything a PATH-LAZY load needs to
    // defer the file list itself ([[DeferredFiles]]): the count prices
    // and torn-checks, the flag keeps zero-job pricing, the sample
    // answers layout derivation without a job
    // the sample derives WITHOUT forcing: a deferred list whose recorded
    // min path a removal dropped writes `-` (the next resolve answers
    // headOption with one on-demand job — only pre-LY lakes ever ask),
    // rather than materializing the corpus inside the checkpoint writer
    val sample: Option[String] = st.files match {
      case dfl: DeferredFiles => dfl.cheapHead
      case pf => pf.headOption
    }
    // optional 4th DC field / 2nd VC field / HX line: CONTENT checksums
    // (xor of per-entry [[pathHash64]]/[[dvPairHash64]] terms) — they
    // upgrade the count-only torn checks to content-sensitive ones.
    // Newer readers treat a missing checksum as "no content check"
    // (older stubs parse fine); the reverse direction — an OLDER build
    // reading this stub — throws on the VC/HX tags themselves, the
    // deliberate strict-parse stance SURVEY §8 records (single library
    // version per lake; loud refusal beats silent section drops).
    def hx(x: Option[Long]): String = x.fold("")(v => f"\t$v%016x")
    val dc = s"DC\t${st.files.length}\t${if (sumsComplete) 1 else 0}\t" +
      sample.map(enc).getOrElse("-") + hx(fXor)
    // `VC`: the entries' V-row (dv attachment pair) census — what lets a
    // PATH-LAZY load defer the attachment map itself ([[DeferredDvs]]):
    // the count prices, gates the deferral threshold, and torn-checks
    val vc = s"VC\t$vPairs" + hx(vXor)
    val hxLine = hXor.toSeq.map(v => f"HX\t$v%016x")
    val txns = st.txns.toSeq.sorted.map { case (a, v) => s"T\t${enc(a)}\t$v" }
    val checks = st.checks.toSeq.sorted.map { case (n, e) => s"K\t${enc(n)}\t${enc(e)}" }
    val lay = st.layout.toSeq.map(cols => (Seq("LY") ++ cols.map(enc)).mkString("\t"))
    val blm = if (st.bloomCols.isEmpty) Seq.empty
      else Seq((Seq("BY") ++ st.bloomCols.map(enc)).mkString("\t"))
    // `SC`: the stat-column census of the entries (a bounded superset —
    // at most the 32-col capture width plus reserved/null names). Lazy
    // readers use it as the TWO-LEVEL pruning key: a bound on a column
    // not listed here needs no entries job at all.
    val sc = statCols.toSeq.map(cols =>
      (Seq("SC") ++ cols.toSeq.sorted.map(enc)).mkString("\t"))
    (header +: schema +: pq +: dc +: vc +: (hxLine ++ txns ++ checks ++ lay ++ blm ++ sc))
      .mkString("\n")
  }

  /** The file-scale sections of `st` as columnar-checkpoint entry rows
    * ([[CpEntrySchema]]). */
  private def checkpointEntryRows(st: LakeState): Seq[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.Row
    val files = st.files.map { p =>
      val cs = st.stats.getOrElse(p, Seq.empty)
      Row("F", p, null, if (cs.isEmpty) null else cs.map(c => Row(c.col, c.min, c.max)))
    }
    val hist = st.history.map(p => Row("H", p, null, null))
    val dvs = st.dvs.toSeq.flatMap { case (f, ss) => ss.map(s => Row("V", f, s, null)) }
    val dvHist = st.dvHistory.map(s => Row("VH", s, null, null))
    val cdc = st.cdc.map(p => Row("CF", p, null, null))
    files ++ hist ++ dvs ++ dvHist ++ cdc
  }

  /** Directory-rollup ceiling: above this many rollup entries the
    * checkpoint writers FOLD the per-directory rollups into parent path
    * prefixes — hierarchical envelopes, the Iceberg
    * manifest-list-over-manifests idea applied to the rollups
    * themselves — one level at a time until the count fits, so a
    * 10^5-directory lake keeps driver-side level-two pruning at a
    * coarser grain instead of losing it. Only a lake whose TOP-LEVEL
    * grouping still exceeds the cap drops `DR` rows entirely — and that
    * drop is counted ([[dirRollupGiveUps]]) and logged, never silent.
    * Override per session via [[DirRollupMaxDirsKey]] (specs lower it
    * to force folds). */
  val DirRollupMaxDirsDefault = 4096

  private[graft] val DirRollupMaxDirsKey =
    "spark.graft.lake.checkpoint.rollupMaxDirs"

  private[graft] def dirRollupMaxDirs(spark: SparkSession): Int =
    spark.conf.getOption(DirRollupMaxDirsKey)
      .map(_.toInt).getOrElse(DirRollupMaxDirsDefault)

  /** Checkpoint writes that gave up on `DR` rollups because even the
    * top-level prefix grouping exceeded the cap — the no-silent-caps
    * tripwire (two-level pruning and zero-job pricing degrade to
    * per-query entries jobs when this moves). Observability only. */
  private[graft] val dirRollupGiveUps =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private val rollupLog = org.slf4j.LoggerFactory.getLogger("graft.Lake")

  private def dirOfFile(f: String): String = f.take(f.lastIndexOf('/').max(0))

  /** The rollup key covering `dir`: the LONGEST prefix of `dir` (itself
    * included) present in `keys`. Hierarchically-folded rollups are
    * keyed at whatever path grain kept their count under the cap — and
    * grains can mix (fresh directories enter at full depth while old
    * ones folded up) — so every consumer resolves a directory through
    * this longest-first walk: a dir under a deeper key never consults a
    * shallower ancestor's envelope, which by construction only covers
    * the residents that RESOLVE to it. */
  private[graft] def rollupKeyOf(keys: Set[String], dir: String): Option[String] = {
    var d = dir
    while (d.nonEmpty) {
      if (keys(d)) return Some(d)
      val i = d.lastIndexOf('/')
      d = if (i <= 0) "" else d.take(i)
    }
    None
  }

  /** Fold dir-keyed rollups up one path level at a time until the count
    * fits `cap`: group by parent prefix, intersect-and-widen the member
    * envelopes ([[foldEnvelope]] — an EMPTY member poisons its parent,
    * because it marks a subtree whose residents the rollup cannot prove
    * coverage of), and add the member reserved sums (present only when
    * every member carries one). Gives up — counted and logged — only
    * when even the top-level grouping exceeds the cap. Empty-valued
    * entries survive the folds as poison and drop from the final map. */
  private[graft] def foldRollupsToCap(m0: Map[String, Seq[ColStat]],
      dts: Map[String, DataType], cap: Int,
      context: String): Map[String, Seq[ColStat]] = {
    var cur = m0
    var foldedAny = false
    while (cur.size > cap && cur.keysIterator.exists(_.contains('/'))) {
      foldedAny = true
      cur = cur.groupBy { case (d, _) =>
        val i = d.lastIndexOf('/'); if (i <= 0) d else d.take(i)
      }.map { case (p, members) =>
        p -> mergeRollupGroup(members.values.toSeq, dts)
      }
    }
    // After any fold iteration a surviving key no longer means "exactly
    // this directory's residents" — it covers whatever dirs FOLDED to it.
    // Longest-prefix resolution ([[rollupKeyOf]]) is then sound only if
    // the key set is PREFIX-FREE: with mixed-depth data dirs (files at
    // both `a/b/c` and `a/b/c/d`) one iteration can stop with both `a/b`
    // (dir a/b/c's fold target) and `a/b/c` (dir a/b/c/d's) surviving,
    // and dir a/b/c's own files would resolve to an envelope that never
    // saw them — wrongly-pruned live rows and undercounted exact sums.
    // Merge every key into its SHALLOWEST surviving ancestor (widen
    // envelopes, add sums, propagate poison). An unfolded map keeps its
    // exact dir keys: ancestor-related EXACT keys resolve each dir to its
    // own envelope and stay precise.
    if (foldedAny && cur.size <= cap && cur.keysIterator.exists(_.contains('/'))) {
      def rootOf(k: String): String = {
        var r = k
        var i = k.lastIndexOf('/')
        while (i > 0) {
          val p = k.take(i)
          if (cur.contains(p)) r = p
          i = k.lastIndexOf('/', i - 1)
        }
        r
      }
      val grouped = cur.groupBy { case (k, _) => rootOf(k) }
      if (grouped.size != cur.size)
        cur = grouped.map { case (r, members) =>
          r -> mergeRollupGroup(members.values.toSeq, dts)
        }
    }
    if (cur.size > cap) {
      dirRollupGiveUps.incrementAndGet()
      rollupLog.warn(s"$context: ${m0.size} data directories still fold to " +
        s"${cur.size} top-level groups, above the rollup cap $cap — skipping DR " +
        "rollups (two-level pruning and zero-job pricing degrade to per-query " +
        s"entries jobs; raise $DirRollupMaxDirsKey or coarsen the layout)")
      Map.empty
    } else {
      // dropping a POISONED (empty) entry must not leave a surviving
      // PREFIX key standing in for its subtree: mixed-depth layout
      // generations put data files both at `split=x/…` and under
      // `split=x/shard=y/…`, and longest-prefix resolution
      // ([[rollupKeyOf]]) would hand the dropped dir's files an envelope
      // that never saw them — wrong pruning and a falsely-exact sums
      // flag. Covering keys drop WITH their poisoned descendants
      // (conservative: those subtrees degrade to the entries job).
      val (poisoned, ok) = cur.partition(_._2.isEmpty)
      if (poisoned.isEmpty) ok
      else ok.filter { case (k, _) =>
        !poisoned.keysIterator.exists(_.startsWith(k + "/"))
      }
    }
  }

  /** Merge one fold group's member rollups: intersect-and-widen the
    * envelopes ([[foldEnvelope]] — an EMPTY member poisons the group) and
    * add the reserved sums (present only when every member carries one).
    * Shared by [[foldRollupsToCap]]'s per-level fold and its prefix-free
    * consistency merge. */
  private def mergeRollupGroup(vals: Seq[Seq[ColStat]],
      dts: Map[String, DataType]): Seq[ColStat] = {
    val env = foldEnvelope(
      vals.map(_.iterator.map(c => c.col -> c).toMap), dts)
    val sums = ReservedStatNames.toSeq.sorted.flatMap { n =>
      val per = vals.map(_.find(_.col == n).flatMap(_.min.toLongOption))
      if (per.exists(_.isEmpty)) None
      else {
        val s = per.flatten.sum
        Some(ColStat(n, s.toString, s.toString))
      }
    }
    env ++ sums
  }

  /** Exact-round-trip comparison of two stat strings under the column's
    * type — None = unparseable (callers poison the column). Pure;
    * usable inside tasks. */
  private[graft] def statCompare(dt: DataType, a: String, b: String): Option[Int] = dt match {
    case LongType | IntegerType | ShortType | ByteType =>
      for (x <- a.toLongOption; y <- b.toLongOption)
        yield java.lang.Long.compare(x, y)
    case DoubleType | FloatType =>
      for (x <- a.toDoubleOption; y <- b.toDoubleOption)
        yield java.lang.Double.compare(x, y)
    case StringType => Some(org.apache.spark.unsafe.types.UTF8String
      .fromString(a).compareTo(
        org.apache.spark.unsafe.types.UTF8String.fromString(b)))
    case _ => None
  }

  /** Envelope fold shared by the rollup builders: intersect the pieces'
    * column sets (a piece missing a column — or with an unparseable
    * bound — poisons that column: coverage of EVERY resident is the
    * soundness condition), then min/max-fold under the column's
    * comparison order. Each piece is one resident file's stats, or a
    * prior checkpoint's directory envelope. */
  private def foldEnvelope(pieces: Seq[Map[String, ColStat]],
      dts: Map[String, DataType]): Seq[ColStat] = {
    if (pieces.isEmpty || pieces.exists(_.isEmpty)) return Seq.empty
    val common = pieces.map(_.keySet).reduce(_ intersect _)
      .filter(dts.contains)
    common.toSeq.sorted.flatMap { c =>
      val dt = dts(c)
      val vs = pieces.map(_(c))
      var lo = vs.head.min
      var hi = vs.head.max
      var ok = true
      vs.tail.foreach { v =>
        statCompare(dt, v.min, lo) match {
          case Some(n) => if (n < 0) lo = v.min
          case None => ok = false
        }
        statCompare(dt, v.max, hi) match {
          case Some(n) => if (n > 0) hi = v.max
          case None => ok = false
        }
      }
      if (ok) Some(ColStat(c, lo, hi)) else None
    }
  }

  /** The comparable-schema-column map rollups fold under — PHYSICAL
    * names (the stats' own coordinate system), value columns only. */
  private def rollupTypes(schemaJson: String): Map[String, DataType] =
    scala.util.Try(DataType.fromJson(schemaJson)).toOption
      .collect { case s: StructType => s }.fold(Map.empty[String, DataType])(
        _.fields.iterator.map(f => physicalName(f) -> f.dataType)
          .filter(kv => statsComparable(kv._2))
          .filterNot(kv => ReservedStatNames(kv._1) ||
            kv._1.endsWith(NullsStatSuffix)).toMap)

  /** Per-directory reserved SUMS (`#rows`, `#bytes`): min = max = the
    * dir's total, present only when EVERY member records the stat —
    * whole-table pricing then answers from O(dirs) driver-resident
    * numbers with zero jobs ([[reservedTotals]]' fast path). */
  private def dirReservedSums(fs: Seq[String],
      stats: Map[String, Seq[ColStat]]): Seq[ColStat] =
    ReservedStatNames.toSeq.sorted.flatMap { n =>
      val per = fs.map(f => stats.getOrElse(f, Seq.empty)
        .find(_.col == n).flatMap(_.min.toLongOption))
      if (per.exists(_.isEmpty)) None
      else Some(ColStat(n, per.flatten.sum.toString, per.flatten.sum.toString))
    }

  /** Per-directory rollups of a fully-materialized stats map (the
    * DIRECT columnar write): value-column min/max envelopes plus the
    * reserved sums, folded to parent prefixes when the dir count
    * exceeds the cap ([[foldRollupsToCap]]). Bare directories (no
    * provable coverage) ride as empty entries INTO the fold — they
    * poison any parent prefix that would otherwise claim their
    * residents — and drop from the final map. */
  private def dirRollups(files: Seq[String], stats: Map[String, Seq[ColStat]],
      schemaJson: String, cap: Int): Map[String, Seq[ColStat]] = {
    val byDir = files.groupBy(dirOfFile).filter(_._1.nonEmpty)
    if (byDir.isEmpty) return Map.empty
    val dts = rollupTypes(schemaJson)
    val perDir = byDir.map { case (dir, fs) =>
      val env = foldEnvelope(fs.map(f => stats.getOrElse(f, Seq.empty)
        .iterator.filter(c => dts.contains(c.col)).map(c => c.col -> c).toMap), dts)
      dir -> (env ++ dirReservedSums(fs, stats))
    }
    foldRollupsToCap(perDir, dts, cap, "checkpoint dir rollups")
  }

  /** [[dirRollups]] plus the sums-coverage flag the stub's `DC` line
    * carries: true when every file resolves (longest-prefix) to a final
    * rollup key carrying BOTH reserved sums — the condition for
    * zero-job whole-table pricing without enumerating residents. */
  private def dirRollupsWithFlag(files: Seq[String],
      stats: Map[String, Seq[ColStat]], schemaJson: String,
      cap: Int): (Map[String, Seq[ColStat]], Boolean) = {
    val m = dirRollups(files, stats, schemaJson, cap)
    val complete = files.nonEmpty && files.forall { f =>
      val d = dirOfFile(f)
      d.nonEmpty && rollupKeyOf(m.keySet, d).exists(k =>
        ReservedStatNames.forall(n => m(k).exists(_.col == n)))
    }
    (m, complete)
  }

  /** Per-directory rollup of one F row's stats / merge of two rollups —
    * the executor-side fold [[aggregateDirRollups]] runs. Envelope
    * columns intersect (a file missing one drops it; an unparseable
    * bound drops it) and widen; reserved sums add with per-name
    * validity. */
  private final case class DirAgg(env: Map[String, (String, String)],
      rows: Long, rowsOk: Boolean, bytes: Long, bytesOk: Boolean)

  /** Row census of a written entries directory — total row count, V-pair
    * count, and the per-section content checksums the stub records for
    * the next load's torn checks. Rides [[aggregateDirRollups]]' single
    * pass (an exact RDD fold, NOT accumulators — task retries must never
    * perturb a checksum). */
  private final case class EntriesCensus(rows: Long, vPairs: Long,
      xF: Long, xH: Long, xV: Long)

  /** Recompute the `DR` rollups from the freshly-written entries
    * directory in ONE Spark job — the INCREMENTAL checkpoint's rollup
    * source. Exact after removals and restates (the rows ARE the new
    * state), needs no driver path list (path-lazy states), and moves
    * the former O(files) driver grouping onto executors. Returns the
    * capped rollup map, the sums-coverage flag for the stub's `DC`
    * line, and the [[EntriesCensus]] the same pass derived. */
  private def aggregateDirRollups(spark: SparkSession, entriesDir: String,
      schemaJson: String, cap: Int): (Map[String, Seq[ColStat]], Boolean, EntriesCensus) = {
    val dts = rollupTypes(schemaJson)
    val rn = RowsStatName
    val bn = BytesStatName
    def merge(a: DirAgg, b: DirAgg): DirAgg = {
      val common = a.env.keySet intersect b.env.keySet
      val env = common.iterator.flatMap { c =>
        val dt = dts(c)
        val (alo, ahi) = a.env(c)
        val (blo, bhi) = b.env(c)
        val lo = statCompare(dt, blo, alo).map(x => if (x < 0) blo else alo)
        val hi = statCompare(dt, bhi, ahi).map(x => if (x > 0) bhi else ahi)
        for (l <- lo; h <- hi) yield c -> (l, h)
      }.toMap
      DirAgg(env, a.rows + b.rows, a.rowsOk && b.rowsOk,
        a.bytes + b.bytes, a.bytesOk && b.bytesOk)
    }
    val (perDir, census) = spark.read.schema(CpEntrySchema)
      .parquet(entriesDir).rdd.mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[String, DirAgg]
        var n = 0L
        var nV = 0L
        var xF = 0L
        var xH = 0L
        var xV = 0L
        it.foreach { r =>
          n += 1
          r.getString(0) match {
            case "F" =>
              xF ^= pathHash64(r.getString(1))
              val d = dirOfFile(r.getString(1))
              val cs: Seq[org.apache.spark.sql.Row] =
                if (r.isNullAt(3)) Seq.empty else r.getSeq(3)
              val env = cs.iterator.filter(s => dts.contains(s.getString(0)))
                .map(s => s.getString(0) -> (s.getString(1), s.getString(2))).toMap
              val rows = cs.find(_.getString(0) == rn).flatMap(_.getString(1).toLongOption)
              val bytes = cs.find(_.getString(0) == bn).flatMap(_.getString(1).toLongOption)
              val agg = DirAgg(env, rows.getOrElse(0L), rows.isDefined,
                bytes.getOrElse(0L), bytes.isDefined)
              m.update(d, m.get(d).fold(agg)(merge(_, agg)))
            case "H" => xH ^= pathHash64(r.getString(1))
            case "V" =>
              nV += 1; xV ^= dvPairHash64(r.getString(1), r.getString(2))
            case _ => ()
          }
        }
        Iterator.single((m.toMap, EntriesCensus(n, nV, xF, xH, xV)))
      }.fold((Map.empty[String, DirAgg], EntriesCensus(0L, 0L, 0L, 0L, 0L))) { (x, y) =>
        (x._1 ++ y._1.map { case (k, v) => k -> x._1.get(k).fold(v)(merge(_, v)) },
          EntriesCensus(x._2.rows + y._2.rows, x._2.vPairs + y._2.vPairs,
            x._2.xF ^ y._2.xF, x._2.xH ^ y._2.xH, x._2.xV ^ y._2.xV))
      }
    val dirAggs = perDir - "" // root-resident files belong to no key
    val m0: Map[String, Seq[ColStat]] = dirAggs.map { case (d, a) =>
      val env = a.env.toSeq.sortBy(_._1).map { case (c, (lo, hi)) => ColStat(c, lo, hi) }
      val sums =
        (if (a.rowsOk) Seq(ColStat(rn, a.rows.toString, a.rows.toString)) else Seq.empty) ++
          (if (a.bytesOk) Seq(ColStat(bn, a.bytes.toString, a.bytes.toString)) else Seq.empty)
      d -> (env ++ sums)
    }
    val folded = foldRollupsToCap(m0, dts, cap, "aggregated dir rollups")
    val complete = dirAggs.nonEmpty && !perDir.contains("") &&
      dirAggs.keysIterator.forall(d => rollupKeyOf(folded.keySet, d).exists(k =>
        ReservedStatNames.forall(n => folded(k).exists(_.col == n))))
    (folded, complete, census)
  }

  /** Number of file-scale entries a checkpoint of `st` would carry —
    * the columnar-vs-text decision input. An UPPER bound on a deferred
    * dv map (live ≤ raw checkpoint pairs + tail; the exact count needs
    * the entries) — fine for the threshold decision, and the columnar
    * stub's torn-check count comes from the written entries themselves
    * on that path, never from this. */
  private def checkpointEntryCount(st: LakeState): Long =
    st.files.size.toLong + st.history.size + dvPairCountUpper(st.dvs) +
      sidecarCountUpper(st.dvHistory) + sidecarCountUpper(st.cdc)

  /** Upper-bound count of a sidecar list without forcing a deferred one
    * (a `dedupe` [[DeferredHistory]]'s exact `length` costs a job). */
  private def sidecarCountUpper(s: Seq[String]): Long = s match {
    case dh: DeferredHistory => dh.lengthUpper
    case c => c.size.toLong
  }

  private def dvPairCountUpper(dvs: Map[String, Seq[String]]): Long = dvs match {
    case dd: DeferredDvs => dd.cpDvPairs + dd.tailPairCount
    case m => m.valuesIterator.map(_.size.toLong).sum
  }

  /** Load the checkpoint at `version`, dispatching on its header: a
    * classic `v2` text checkpoint parses on the driver; a `v3` stub
    * reads its parquet entries directory through a Spark job — columnar
    * decode in tasks, compact typed rows back, the driver's own parse
    * bounded at the O(KB) stub no matter how many files the lake holds. */
  private def loadCheckpoint(spark: SparkSession, fs: FileSystem, root: Path,
      version: Long, forceEager: Boolean = false): LakeState = {
    val text = readLogFile(fs, new Path(logDir(root), checkpointName(version)))
    if (!text.startsWith("graft-checkpoint-v3")) return parseCheckpointFile(text, version)
    checkpointParquetLoads.incrementAndGet()
    val lazyMode = !forceEager && lazyStats(spark)
    if (!lazyMode) eagerV3Loads.incrementAndGet()
    var schemaJson = ""
    var pq: Option[(String, Long)] = None
    val txns = Map.newBuilder[String, Long]
    val checks = Map.newBuilder[String, String]
    var layout: Option[Seq[String]] = None
    var bloomCols: Seq[String] = Seq.empty
    var scCols: Option[Set[String]] = None
    var dc: Option[(Long, Boolean, Option[String])] = None
    var vc: Option[Long] = None
    var fXorS: Option[Long] = None
    var hXorS: Option[Long] = None
    var vXorS: Option[Long] = None
    def parseXor(v: String): Long = java.lang.Long.parseUnsignedLong(v, 16)
    val stubLines = recordLines(text, "checkpoint stub", version)
    // the mr= stamp gates FIRST: a stub carrying tags above this build's
    // feature table refuses with the version message, never "unknown tag"
    checkMinReader(stubLines.head.split('\t').toSeq, "checkpoint stub")
    stubLines.tail.foreach { l =>
      val f = l.split('\t').toSeq
      f.head match {
        case "S" => schemaJson = dec(f(1))
        case "PQ" => pq = Some((dec(f(1)), f(2).toLong))
        case "DC" =>
          dc = Some((f(1).toLong, f(2) == "1",
            if (f(3) == "-") None else Some(dec(f(3)))))
          fXorS = f.lift(4).map(parseXor)
        case "VC" =>
          vc = Some(f(1).toLong)
          vXorS = f.lift(2).map(parseXor)
        case "HX" => hXorS = Some(parseXor(f(1)))
        case "T" => txns += (dec(f(1)) -> f(2).toLong)
        case "K" => checks += (dec(f(1)) -> dec(f(2)))
        case "LY" => layout = Some(f.tail.map(dec))
        case "BY" => bloomCols = f.tail.map(dec)
        case "SC" => scCols = Some(f.tail.map(dec).toSet)
        case other => throw new IllegalStateException(
          s"unknown checkpoint stub line tag '$other' — written by a newer graft " +
            "build (no minReader gate for the tag); upgrade the reader library")
      }
    }
    val (dirName, expected) = pq.getOrElse(throw new IllegalStateException(
      s"columnar checkpoint v$version carries no PQ entries pointer"))
    val dir = new Path(logDir(root), dirName)
    // PATH-LAZY: above the threshold even the file PATHS stay in the
    // entries ([[DeferredFiles]]) — the stub's `DC` census carries the
    // count, sums-coverage and sample the planners need driver-side.
    // Pre-`DC` stubs always materialize (graceful on older lakes).
    val pathLazy = lazyMode && dc.exists(_._1 >= pathLazyMinFiles(spark))
    // DV-LAZY: above the pair threshold the attachment map stays in the
    // entries too ([[DeferredDvs]]) — its V rows are COUNTED, not
    // collected, below. Pre-`VC` stubs always materialize (graceful on
    // older lakes).
    val dvLazy = pathLazy && vc.exists(_ >= dvLazyMinPairs(spark))
    // LAZY mode never decodes the stats column at all — the projection
    // below prunes it at the parquet reader, and pruning later judges
    // the checkpoint's files inside a job over this same directory
    val readSchema =
      if (lazyMode) StructType(CpEntrySchema.take(3)) else CpEntrySchema
    val reader = spark.read.schema(readSchema).parquet(dir.toString)
    // (F-xor, H-xor, V-xor) as seen by the census — checked against the
    // stub's checksums at load, threaded into the deferred structures
    // so every later materialization re-verifies content
    var censusXors: Option[(Long, Long, Long)] = None
    // (count, xor) of the VH and CF sections when they defer (path-lazy)
    var vhCensus: Option[(Long, Long)] = None
    var cfCensus: Option[(Long, Long)] = None
    val (fCount, hCount, vCount, rows): (Long, Long, Long, Array[org.apache.spark.sql.Row]) =
      if (!pathLazy) (0L, 0L, 0L, reader.collect())
      else {
        // collect only the MANIFEST-SIZED rows (DR, plus V when the dv
        // map is not deferred) and COUNT the feed/corpus-scale ones — F
        // (live paths), H (history), VH/CF (sidecar lists, one entry per
        // feed-bearing commit since the last cut) and, under dv-lazy, V
        // (attachment pairs) — for the torn checks; the driver never
        // holds any of them
        val dvL = dvLazy
        val parts = reader.rdd.mapPartitions { it =>
          var nF = 0L
          var nH = 0L
          var nV = 0L
          var nVH = 0L
          var nCF = 0L
          var xF = 0L
          var xH = 0L
          var xV = 0L
          var xVH = 0L
          var xCF = 0L
          val b = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
          it.foreach { r =>
            r.getString(0) match {
              case "F" => nF += 1; xF ^= pathHash64(r.getString(1))
              case "H" => nH += 1; xH ^= pathHash64(r.getString(1))
              case "VH" => nVH += 1; xVH ^= pathHash64(r.getString(1))
              case "CF" => nCF += 1; xCF ^= pathHash64(r.getString(1))
              case "V" if dvL =>
                nV += 1; xV ^= dvPairHash64(r.getString(1), r.getString(2))
              case _ => b += r
            }
          }
          Iterator.single((nF, nH, nV, b.toArray, (xF, xH, xV), (nVH, xVH, nCF, xCF)))
        }.collect()
        censusXors = Some((
          parts.iterator.map(_._5._1).foldLeft(0L)(_ ^ _),
          parts.iterator.map(_._5._2).foldLeft(0L)(_ ^ _),
          parts.iterator.map(_._5._3).foldLeft(0L)(_ ^ _)))
        vhCensus = Some((parts.iterator.map(_._6._1).sum,
          parts.iterator.map(_._6._2).foldLeft(0L)(_ ^ _)))
        cfCensus = Some((parts.iterator.map(_._6._3).sum,
          parts.iterator.map(_._6._4).foldLeft(0L)(_ ^ _)))
        (parts.iterator.map(_._1).sum, parts.iterator.map(_._2).sum,
          parts.iterator.map(_._3).sum, parts.iterator.flatMap(_._4).toArray)
      }
    val totalRows = fCount + hCount + vCount + rows.length +
      vhCensus.fold(0L)(_._1) + cfCensus.fold(0L)(_._1)
    if (totalRows != expected)
      throw new IllegalStateException(
        s"columnar checkpoint v$version is torn: entries directory $dirName " +
          s"holds $totalRows rows, stub promises $expected")
    if (pathLazy && dc.exists(_._1 != fCount))
      throw new IllegalStateException(
        s"columnar checkpoint v$version is torn: entries directory $dirName " +
          s"holds $fCount F rows, the DC census promises ${dc.get._1}")
    if (dvLazy && vc.exists(_ != vCount))
      throw new IllegalStateException(
        s"columnar checkpoint v$version is torn: entries directory $dirName " +
          s"holds $vCount V rows, the VC census promises ${vc.get}")
    // CONTENT torn checks (same-count corruption): each deferred
    // section's census xor must match the stub's checksum when carried
    censusXors.foreach { case (xF, xH, xV) =>
      def trip(kind: String, got: Long, want: Long): Unit =
        throw new IllegalStateException(
          s"columnar checkpoint v$version is torn: entries directory $dirName " +
            f"$kind checksum $got%016x != stub's $want%016x " +
            "(same-count content corruption)")
      fXorS.filter(_ != xF).foreach(trip("F-path", xF, _))
      hXorS.filter(_ != xH).foreach(trip("H-path", xH, _))
      if (dvLazy) vXorS.filter(_ != xV).foreach(trip("V-pair", xV, _))
    }
    val files = Seq.newBuilder[String]
    val hist = Seq.newBuilder[String]
    val stats = Map.newBuilder[String, Seq[ColStat]]
    val dvPairs = Seq.newBuilder[(String, String)]
    val dvHist = Seq.newBuilder[String]
    val cdc = Seq.newBuilder[String]
    val dirStats = scala.collection.mutable.Map[String, Vector[ColStat]]()
    rows.foreach { r =>
      r.getString(0) match {
        case "F" =>
          val p = r.getString(1)
          files += p
          if (!lazyMode && !r.isNullAt(3)) {
            val cs = r.getSeq[org.apache.spark.sql.Row](3)
              .map(s => ColStat(s.getString(0), s.getString(1), s.getString(2)))
            if (cs.nonEmpty) stats += (p -> cs)
          }
        case "H" => hist += r.getString(1)
        case "V" => dvPairs += ((r.getString(1), r.getString(2)))
        case "VH" => dvHist += r.getString(1)
        case "CF" => cdc += r.getString(1)
        case "DR" =>
          // per-directory rollup: (dir, col, min, max) in the aux field —
          // only the lazy state consults it (eager judges per-file stats)
          if (lazyMode) {
            val f = r.getString(2).split('\t')
            dirStats.updateWith(r.getString(1)) { old =>
              Some(old.getOrElse(Vector.empty) :+ ColStat(dec(f(0)), dec(f(1)), dec(f(2))))
            }
          }
        case other => throw new IllegalStateException(
          s"unknown checkpoint entry tag '$other' — the entries were written by a " +
            "newer graft build (the stub's mr= stamp gates new STUB tags; a new " +
            "ENTRIES section implies one); upgrade the reader library")
      }
    }
    val liveFiles: LiveFiles =
      if (pathLazy)
        new DeferredFiles(dir.toString, fCount, Seq.empty, Set.empty,
          dc.flatMap(_._3), fXorS.orElse(censusXors.map(_._1)))
      else EagerFiles(files.result().sorted)
    val history: Seq[String] =
      if (pathLazy) new DeferredHistory(dir.toString, hCount, Seq.empty,
        hXorS.orElse(censusXors.map(_._2)))
      else hist.result().sorted
    val liveDvs: LiveDvs =
      if (dvLazy) new DeferredDvs(dir.toString, vCount, Map.empty, Set.empty,
        Map.empty, vXorS.orElse(censusXors.map(_._3)))
      else dvPairs.result().groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    // the VH/CF sidecar lists defer WITH the path list: they are
    // O(feed-bearing commits since the last retention cut) — on a
    // high-churn lake that approaches corpus order — and their only
    // whole-list consumers (vacuum liveness, the checkpoint fold) run
    // as jobs anyway
    val dvHistoryOut: Seq[String] = vhCensus match {
      case Some((n, x)) if pathLazy =>
        new DeferredHistory(dir.toString, n, Seq.empty, Some(x),
          tag = "VH", dedupe = true)
      case _ => dvHist.result().sorted
    }
    val cdcOut: Seq[String] = cfCensus match {
      case Some((n, x)) if pathLazy =>
        new DeferredHistory(dir.toString, n, Seq.empty, Some(x), tag = "CF")
      case _ => cdc.result().sorted
    }
    LakeState(version, schemaJson, liveFiles, stats.result(),
      history,
      dvs = liveDvs,
      dvHistory = dvHistoryOut,
      cdc = cdcOut,
      txns = txns.result(),
      checks = checks.result(),
      layout = layout,
      bloomCols = bloomCols,
      cpLazy = if (lazyMode) Some(CpLazy(dir.toString, Set.empty, scCols,
        dirStats.view.mapValues(_.toSeq).toMap,
        sumsComplete = dc.exists(_._2))) else None)
  }

  /** Full log-file reads since JVM start — the observability hook the
    * change-feed spec uses to pin its O(range + checkpoint-interval)
    * log-read budget (the forward-folding prior state). Driver-side
    * only; never consulted for control flow. */
  private[graft] val logReads = new java.util.concurrent.atomic.AtomicLong(0L)

  private def readLogFile(fs: FileSystem, p: Path): String = {
    logReads.incrementAndGet()
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** ONLY the first line of a log file — O(line) bytes read regardless of
    * file size, so header-resolved operations ([[versionAtTimestamp]],
    * [[describeHistory]]) on a lake whose deltas name thousands of files
    * never pay a full-file read per version. Reads in small chunks until
    * the first newline; bytes accumulate before decoding so a multi-byte
    * character split across chunks cannot corrupt (headers are ASCII
    * today — this is cheap insurance). */
  private[graft] def readLogFileHeader(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](256)
      val acc = new java.io.ByteArrayOutputStream(256)
      var done = false
      while (!done) {
        val n = in.read(buf)
        if (n < 0) done = true
        else {
          var i = 0
          while (i < n && buf(i) != '\n') i += 1
          acc.write(buf, 0, i)
          if (i < n) done = true
        }
      }
      acc.toString("UTF-8")
    } finally in.close()
  }

  /** The header-resolvable facts of one committed delta. Counts are
    * `None` for deltas written before the header carried them (those
    * fall back to a full parse where counts are needed). */
  private[graft] final case class DeltaHeader(action: String, timestampMs: Long,
      counts: Option[(Int, Int, Int)], dvCdcCounts: Option[(Int, Int)])

  /** Parse a delta's first line only — see [[readLogFileHeader]]. */
  private[graft] def deltaHeaderAt(spark: SparkSession, lakeDir: String,
      version: Long): DeltaHeader = {
    val (fs, root) = fsRoot(spark, lakeDir)
    val p = new Path(logDir(root), deltaName(version))
    if (!fs.exists(p))
      throw new IllegalArgumentException(
        s"lake $lakeDir has no committed manifest version $version")
    val f = readLogFileHeader(fs, p).split('\t')
    require(f(0) == "graft-delta-v1",
      s"not a graft delta record at version $version: ${f(0).take(60)}")
    val counts = for {
      a <- f.lift(3).flatMap(_.toIntOption)
      d <- f.lift(4).flatMap(_.toIntOption)
      r <- f.lift(5).flatMap(_.toIntOption)
    } yield (a, d, r)
    val dvCdc = for {
      dv <- f.lift(6).flatMap(_.toIntOption)
      c <- f.lift(7).flatMap(_.toIntOption)
    } yield (dv, c)
    DeltaHeader(f(1), f.lift(2).flatMap(_.toLongOption).getOrElse(0L), counts, dvCdc)
  }

  /** Name a checkpoint's move-aside during [[writeCheckpoint]]'s replace
    * swap. `.`-prefixed (hidden from every reader) but VERSION-CARRYING,
    * so a crash mid-swap is recoverable: the stranded old checkpoint can
    * be renamed back by [[recoverAsides]] instead of being lost under an
    * opaque name forever. */
  private def asideName(version: Long): String =
    s".old.${checkpointName(version)}"

  private def parseAside(name: String): Option[Long] =
    if (name.startsWith(".old.")) parseCheckpoint(name.stripPrefix(".old.")) else None

  /** Crash recovery for [[writeCheckpoint]]'s replace swap (old-aside →
    * new-in → drop-old): a crash between the two renames leaves NO
    * checkpoint at the target with the old one stranded at its `.old.*`
    * aside name — if earlier deltas were already retired, the lake would
    * be unresolvable until repaired. Whenever a log listing surfaces an
    * aside (the common case is zero — this costs nothing), rename it back
    * when its target checkpoint is missing, or drop it when the target
    * exists (the swap completed; the aside is a failed-cleanup leftover).
    * Best-effort and idempotent: concurrent recoverers race on the
    * rename, one wins, the rest see the source gone. */
  private def recoverAsides(fs: FileSystem, log: Path, names: Seq[String]): Unit =
    names.foreach { n =>
      parseAside(n).foreach { v =>
        val target = new Path(log, checkpointName(v))
        if (fs.exists(target)) fs.delete(new Path(log, n), false)
        else fs.rename(new Path(log, n), target)
      }
    }

  /** (delta versions, checkpoint versions) present in the log — ONE
    * directory listing resolves everything the readers need. A stranded
    * checkpoint aside (crash mid-[[writeCheckpoint]] replace) is healed
    * here, lazily, before the listing is interpreted. */
  private def listLog(fs: FileSystem, root: Path): (Seq[Long], Seq[Long]) = {
    val log = logDir(root)
    if (!fs.exists(log)) return (Seq.empty, Seq.empty)
    var names = fs.listStatus(log).toSeq.map(_.getPath.getName)
    if (names.exists(parseAside(_).isDefined)) {
      recoverAsides(fs, log, names)
      names = fs.listStatus(log).toSeq.map(_.getPath.getName)
    }
    (names.flatMap(parseDelta).sorted, names.flatMap(parseCheckpoint).sorted)
  }

  private[graft] def deltaAt(spark: SparkSession, lakeDir: String, version: Long): DeltaRecord = {
    val (fs, root) = fsRoot(spark, lakeDir)
    val p = new Path(logDir(root), deltaName(version))
    if (!fs.exists(p))
      throw new IllegalArgumentException(
        s"lake $lakeDir has no committed manifest version $version")
    parseDeltaFile(readLogFile(fs, p), version)
  }

  /** Fold one commit's adds/removes into the live-file list WITHOUT
    * forcing a deferred one: a materialized list rebuilds sorted; a
    * [[DeferredFiles]] adjusts its tail (removals of tail transients
    * leave it, residents enter `tailRemoved`) and drops its sample path
    * if the removal took it — O(tail) driver work per commit at any
    * corpus size. */
  private def foldLiveFiles(files: LiveFiles, added: Seq[String],
      removed: Set[String]): LiveFiles = files match {
    case dfl: DeferredFiles =>
      val tailSet = dfl.tailAdded.toSet
      new DeferredFiles(dfl.entriesDir, dfl.cpResidents,
        ((tailSet -- removed) ++ added).toSeq.sorted,
        dfl.tailRemoved ++ (removed -- tailSet),
        dfl.sample.filterNot(removed), dfl.cpXor)
    case pf => EagerFiles((pf.filterNot(removed) ++ added).sorted)
  }

  private[graft] def applyDelta(st: LakeState, d: DeltaRecord): LakeState = {
    val removed = d.removed.toSet
    // a removed file's DV attachments detach into dvHistory (time travel
    // below this version still needs the sidecars); explicit `X` detaches
    // ([[compactDeletionVectors]]) drop the named (file, sidecar) pairs
    // BEFORE adds apply; new attachments union onto what remains. The
    // detached list comes from the delta's own `VD` lines when present
    // (the commit-time-exact record a DEFERRED replay needs — the
    // checkpoint residents' attachments are not driver-visible); a
    // VD-less delta recomputes it from an eager map (exact: deltas that
    // predate VD were written by builds that never produced deferred
    // states, so a deferred state never replays one).
    val detachedFromRemoved: Seq[String] =
      if (d.dvDetached.nonEmpty) d.dvDetached
      else st.dvs match {
        case _: DeferredDvs => Seq.empty
        case m => m.view.filterKeys(removed).values.flatten.toSeq
      }
    val detached = detachedFromRemoved ++ d.dvRemoves.map(_._2)
    val newDvs = foldLiveDvs(st.dvs, removed, d.dvRemoves, d.dvAdds)
    val postFiles: LiveFiles =
      foldLiveFiles(st.files, d.added.map(_._1), removed)
    // liveness check for restates: exact on materialized lists; on a
    // PATH-LAZY state "not removed" suffices (a restate can only name a
    // file some commit added — a stale entry for a truly-unknown path
    // would sit in the stats map judging nothing)
    val postFileSet: String => Boolean = postFiles match {
      case dfl: DeferredFiles =>
        val tailSet = dfl.tailAdded.toSet
        // a tail-ADDED file is live even when it also sits in
        // tailRemoved — a restore re-adding a removed resident leaves it
        // in BOTH sets (the removal record must keep invalidating the
        // dir sums); a non-tail file is live iff neither the fold's
        // removed-set nor this delta dropped it. This REPLAY predicate
        // is a superset filter (it cannot see removals below the
        // checkpoint) — sound because every restate producer filters
        // EXACTLY at commit time ([[analyzeStats]] against the forced
        // live set, [[publish]] against the entries' F rows), so a
        // replayed delta never carries a restate that was dead when it
        // committed
        f => tailSet(f) || (!dfl.tailRemoved(f) && !removed(f))
      case pf => pf.toSet
    }
    val baseStats = (st.stats -- removed) ++ d.added.filter(_._2.nonEmpty).toMap
    // stat restates ([[analyzeStats]]) merge per column onto LIVE files;
    // a restate whose file an interposed commit removed is skipped
    val restated = d.statRestates.filter(r => postFileSet(r._1))
      .foldLeft(baseStats) { case (m, (f, st2)) =>
        m.updated(f, mergeStatCols(m.getOrElse(f, Seq.empty), st2))
      }
    LakeState(d.version, d.schemaJson,
      postFiles,
      restated,
      // removed files stay referenced (time travel / in-range CDC reads
      // them until a retention vacuum spends that history)
      foldHistory(st.history, d.removed),
      dvs = newDvs,
      // deduped: dvHistory's consumers treat it as a referenced-SET, and
      // dedup keeps it O(distinct sidecars) = O(sparse commits) — a
      // compaction removing 10^6 dv'd files that share a handful of
      // sidecars must not append 10^6 duplicate entries
      dvHistory = foldSidecarList(st.dvHistory, detached, dedupe = true),
      cdc = foldSidecarList(st.cdc, d.cdcFiles.map(_._1), dedupe = false),
      // the watermark folds MONOTONICALLY: an out-of-order replayed tag
      // (possible only through manual log surgery) can never move it back
      txns = d.txn.fold(st.txns) { case (a, v) =>
        st.txns.updated(a, math.max(v, st.txns.getOrElse(a, Long.MinValue))) },
      checks = (st.checks -- d.checkDrops) ++ d.checkAdds,
      layout = d.layout.orElse(st.layout),
      bloomCols = d.bloomCols.getOrElse(st.bloomCols),
      // lazy marker folds forward: every tail-added file is judged on
      // the driver (its stats came from the delta), the checkpoint's
      // own files stay job-judged. A removed file that was itself
      // TAIL-ADDED never contributed to the checkpoint's entries or to
      // its directory reserved sums — it leaves `tailAdded` and stays
      // OUT of `tailRemoved`, so an add-then-remove churn in a
      // directory cannot spuriously invalidate the dir's sums (only
      // removals of genuine checkpoint residents do).
      cpLazy = st.cpLazy.map(lz =>
        lz.copy(tailAdded = (lz.tailAdded -- removed) ++ d.added.map(_._1),
          tailRemoved = lz.tailRemoved ++ (removed -- lz.tailAdded))))
  }

  /** Per-column stats merge: the restated columns replace their old
    * entries, every other recorded column survives. */
  private def mergeStatCols(old: Seq[ColStat], nw: Seq[ColStat]): Seq[ColStat] =
    old.filterNot(o => nw.exists(_.col == o.col)) ++ nw

  /** Fold one commit's dv changes through the live map — removals of
    * whole files first, then explicit `X` pair-detaches, then `D` adds —
    * WITHOUT materializing a deferred map: a [[DeferredDvs]] folds
    * O(commit) entries into its driver tail (removed files join
    * `detachedFiles` so their checkpoint-resident rows mask out at
    * materialization; X-pairs join `removedPairs`; adds overlay
    * `tailAdds`), the exact [[foldLiveFiles]] discipline. The live set
    * is `(cpRows \ detachedFiles \ removedPairs) ∪ tailAdds` — a
    * restore re-adding a detached file carries its attachments as `D`
    * lines, so the tail overlay restores exactly the target's set. */
  private def foldLiveDvs(dvs: LiveDvs, removed: Set[String],
      dvRemoves: Seq[(String, String)],
      dvAdds: Seq[(String, String)]): LiveDvs = dvs match {
    case dd: DeferredDvs =>
      val tailKept = applyDvRemoves(dd.tailAdds -- removed, dvRemoves)
      val newTail = dvAdds.foldLeft(tailKept) { case (m, (f, s)) =>
        m.updated(f, (m.getOrElse(f, Seq.empty) :+ s).distinct)
      }
      new DeferredDvs(dd.entriesDir, dd.cpDvPairs, newTail,
        dd.detachedFiles ++ removed,
        dvRemoves.foldLeft(dd.removedPairs) { case (m, (f, s)) =>
          m.updated(f, m.getOrElse(f, Set.empty) + s)
        }, dd.cpXor)
    case m =>
      val kept = applyDvRemoves((m: Map[String, Seq[String]]) -- removed, dvRemoves)
      dvAdds.foldLeft(kept) { case (mm, (f, s)) =>
        mm.updated(f, (mm.getOrElse(f, Seq.empty) :+ s).distinct)
      }
  }

  /** Drop the named (file, sidecar) attachment pairs — idempotent (an
    * already-detached pair is a no-op, so raced consolidations commute);
    * a file whose last attachment detaches leaves the map. */
  private def applyDvRemoves(dvs: Map[String, Seq[String]],
      removes: Seq[(String, String)]): Map[String, Seq[String]] =
    removes.foldLeft(dvs) { case (m, (f, s)) =>
      m.get(f) match {
        case None => m
        case Some(ss) =>
          val left = ss.filterNot(_ == s)
          if (left.isEmpty) m - f else m.updated(f, left)
      }
    }

  /** Resolve the lake state at `version`: newest checkpoint at or below
    * it, plus a replay of the deltas after it. Throws
    * IllegalArgumentException when the version was never committed or its
    * history has been retired by [[vacuumKeeping]]. */
  private[graft] def stateAt(spark: SparkSession, lakeDir: String, version: Long,
      forceEager: Boolean = false): LakeState = {
    val (fs, root) = fsRoot(spark, lakeDir)
    val (deltas, checkpoints) = listLog(fs, root)
    if (!deltas.contains(version))
      throw new IllegalArgumentException(
        s"lake $lakeDir has no committed manifest version $version")
    resolve(spark, fs, root, lakeDir, version, deltas, checkpoints, forceEager)
  }

  /** Resolved-state cache: a version's state is immutable once committed
    * (deltas are putIfAbsent-published and never rewritten), so planners
    * that resolve the same (lake, version) repeatedly — every read, every
    * adopt, every CDC range — reuse the parse instead of re-reading the
    * checkpoint + delta tail per call (the Delta Snapshot-cache idea).
    * The key carries everything the resolution READ: the replay-delta
    * list and, when a checkpoint participates, its (version, length,
    * mtime) — so [[vacuumKeeping]]'s history-rewriting checkpoint
    * replace, retention cuts, and the crash-consistency specs' log
    * surgery all miss the cache and re-resolve honestly. Bounded LRU;
    * access synchronized (commits and planner threads race). */
  private val stateCache =
    new java.util.LinkedHashMap[Any, LakeState](32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Any, LakeState]): Boolean = size() > 16
    }

  /** Test hook: forget every cached resolution (counter-based specs
    * measure the UNCACHED read path). */
  private[graft] def invalidateStateCache(): Unit =
    stateCache.synchronized(stateCache.clear())

  private def resolve(spark: SparkSession, fs: FileSystem, root: Path,
      lakeDir: String, version: Long,
      deltas: Seq[Long], checkpoints: Seq[Long],
      forceEager: Boolean = false): LakeState = {
    val cp0 = checkpoints.filter(_ <= version).maxOption
    val cpSig = cp0.map { c =>
      val stt = fs.getFileStatus(new Path(logDir(root), checkpointName(c)))
      (c, stt.getLen, stt.getModificationTime)
    }
    // the replay deltas sign by (len, mtime) too: the protocol never
    // rewrites a delta, but log corruption (and the spec simulating it)
    // does — a stale cache entry must never mask the loud parse failure
    val deltaSig = deltas.filter(v => cp0.forall(_ < v) && v <= version).map { v =>
      val stt = fs.getFileStatus(new Path(logDir(root), deltaName(v)))
      (v, stt.getLen, stt.getModificationTime)
    }
    // lazily- and eagerly-resolved states are different objects — a
    // lazy hit must never serve a caller that needs materialized stats;
    // the PATH-lazy threshold keys too (specs move it mid-session)
    val lazyMode = lazyStats(spark) && !forceEager
    val key = (root.toString, version, cpSig, deltaSig, lazyMode,
      if (lazyMode) pathLazyMinFiles(spark) else 0L)
    val hit = stateCache.synchronized(Option(stateCache.get(key)))
    hit match {
      case Some(st) => st
      case None =>
        // Fold-forward fast path: the immediately-preceding versions
        // under the SAME checkpoint anchor are usually cached (every
        // commit resolves its parent before publishing), and a version's
        // state is a pure fold of deltas over that predecessor — so
        // apply only the new delta tail instead of re-resolving from the
        // checkpoint, which for parquet-entries checkpoints is a
        // distributed load job PER RESOLUTION (O(commits) checkpoint
        // re-reads across a multi-commit query; O(files)-sized jobs at
        // production file counts). The signatures in the probe keys keep
        // this exactly as honest as the full-key cache: any rewritten
        // checkpoint or delta misses and re-resolves from scratch.
        val replay = deltaSig.map(_._1)
        var base: Option[(LakeState, Seq[Long])] = None
        if (replay.nonEmpty && replay.last == version) {
          // floor reaches one BELOW the first replay delta: that is the
          // checkpoint-anchor version itself (its resolution — or the
          // writeCheckpoint self-seed — is cached with an empty replay
          // tail under the same anchor), or v0 for an adopted lake
          val floor = math.max(replay.head - 1, version - 16) // LRU reach
          var probe = version - 1
          var give = false
          while (base.isEmpty && !give && probe >= floor) {
            val keyU = (root.toString, probe, cpSig, deltaSig.filter(_._1 <= probe),
              lazyMode, if (lazyMode) pathLazyMinFiles(spark) else 0L)
            stateCache.synchronized(Option(stateCache.get(keyU))) match {
              case Some(stU) =>
                val tail = replay.filter(_ > probe)
                // the tail must be exactly probe+1..version — anything
                // else (retired history) falls back to the loud path
                if (tail.zipWithIndex.forall { case (v, i) => v == probe + 1 + i })
                  base = Some((stU, tail))
                else give = true
              case None => probe -= 1
            }
          }
        }
        val st = base match {
          case Some((stU, tail)) =>
            tail.foldLeft(stU) { (s, v) =>
              applyDelta(s, parseDeltaFile(readLogFile(fs, new Path(logDir(root), deltaName(v))), v))
            }
          case None =>
            stateResolutions.incrementAndGet()
            resolveUncached(spark, fs, root, lakeDir, version, deltas,
              checkpoints, forceEager)
        }
        stateCache.synchronized(stateCache.put(key, st))
        st
    }
  }

  /** UNCACHED full state resolutions (checkpoint + delta-tail replays)
    * since JVM start — the streaming catch-up scale probe pins that a
    * 200-commit delete-heavy walk resolves state ONCE and folds forward
    * in memory, instead of O(range) replays. Observability only. */
  private[graft] val stateResolutions = new java.util.concurrent.atomic.AtomicLong(0L)

  private def resolveUncached(spark: SparkSession, fs: FileSystem, root: Path,
      lakeDir: String, version: Long,
      deltas: Seq[Long], checkpoints: Seq[Long],
      forceEager: Boolean = false): LakeState = {
    val cp = checkpoints.filter(_ <= version).maxOption
    val start = cp match {
      case Some(c) => loadCheckpoint(spark, fs, root, c, forceEager)
      case None => LakeState(-1L, StructType(Seq.empty).json, Seq.empty)
    }
    if (start.version == version) return start
    val toReplay = deltas.filter(v => v > start.version && v <= version)
    // a gap means older deltas were retired without a covering checkpoint
    val expectLow = if (start.version >= 0) start.version + 1 else deltas.headOption.getOrElse(0L)
    if (toReplay.isEmpty || toReplay.head != expectLow ||
        toReplay.zip(toReplay.tail).exists { case (a, b) => b != a + 1 } ||
        toReplay.last != version ||
        (start.version < 0 && toReplay.head > 1))
      throw new IllegalArgumentException(
        s"lake $lakeDir version $version is not resolvable — history retired " +
          s"without a covering checkpoint (deltas present: ${toReplay.mkString(",")})")
    toReplay.foldLeft(start) { (st, v) =>
      applyDelta(st, parseDeltaFile(readLogFile(fs, new Path(logDir(root), deltaName(v))), v))
    }
  }

  /** Latest committed state, if the lake has a log. */
  private[graft] def latestManifest(spark: SparkSession, lakeDir: String): Option[LakeState] = {
    val (fs, root) = fsRoot(spark, lakeDir)
    val (deltas, checkpoints) = listLog(fs, root)
    deltas.maxOption.map(v => resolve(spark, fs, root, lakeDir, v, deltas, checkpoints))
  }

  /** Latest state with stats MATERIALIZED regardless of [[LazyStatsKey]]
    * — for the rare mutation that must read every file's recorded stats
    * exactly (the float→double widen's restate computation). */
  private[graft] def latestEager(spark: SparkSession, lakeDir: String): Option[LakeState] = {
    val (fs, root) = fsRoot(spark, lakeDir)
    val (deltas, checkpoints) = listLog(fs, root)
    deltas.maxOption.map(v =>
      resolve(spark, fs, root, lakeDir, v, deltas, checkpoints, forceEager = true))
  }

  /** Current state: the latest committed state, or a bootstrap version 0
    * built from the directory listing when the lake predates the log. */
  private[graft] def currentState(spark: SparkSession, lakeDir: String,
      forceEager: Boolean = false): LakeState =
    (if (forceEager) latestEager(spark, lakeDir)
     else latestManifest(spark, lakeDir)).getOrElse {
      val files = listDataFiles(spark, lakeDir)
      val schemaJson =
        if (files.isEmpty) StructType(Seq.empty).json
        else spark.read.parquet(lakeDir).schema.json
      LakeState(0L, schemaJson, files)
    }

  /** [[currentState]], but a non-empty manifest-less lake gets its
    * bootstrap listing COMMITTED as version 0 first. Every mutation
    * starts here: once v0 exists, [[read]] resolves through the log, so
    * the mutation's staged files are invisible from the first byte — on
    * a plain directory lake they would otherwise leak into directory
    * reads mid-stage. (An empty/missing lake skips the adopt commit;
    * there is nothing for a reader to see torn.) */
  private[graft] def adopt(spark: SparkSession, lakeDir: String): LakeState = {
    val st = currentState(spark, lakeDir)
    if (latestManifest(spark, lakeDir).isEmpty && st.files.nonEmpty)
      commitDelta(spark, lakeDir,
        DeltaRecord(0L, "adopt", st.schemaJson, st.files.map(_ -> Seq.empty), Seq.empty),
        Some(st))
    st
  }

  // ------------------------------------------------------------------
  // Column mapping: logical → physical field names
  // ------------------------------------------------------------------

  /** Metadata key carrying a field's PHYSICAL (on-disk) column name when
    * it differs from its logical one — set by [[renameColumn]], the
    * Delta/Iceberg column-mapping idea in its name-based form: a rename
    * is a METADATA commit (the manifest schema changes, zero data bytes
    * move), and every read/write translates at the parquet boundary. */
  private[graft] val PhysicalNameKey = "graft.physical"

  private[graft] def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysicalNameKey)) f.metadata.getString(PhysicalNameKey)
    else f.name

  private[graft] def hasMapping(schema: StructType): Boolean =
    schema.exists(_.metadata.contains(PhysicalNameKey))

  /** The schema as the data files spell it: every field under its
    * physical name. Identity when nothing was ever renamed. */
  private[graft] def toPhysical(schema: StructType): StructType =
    StructType(schema.map(f => f.copy(name = physicalName(f))))

  /** Alias a physically-named frame back to logical names; columns not
    * in the schema (lineage, feed tags) pass through untouched. */
  private def toLogical(df: DataFrame, schema: StructType): DataFrame = {
    val renames = schema.filter(f => physicalName(f) != f.name)
    renames.foldLeft(df) { (d, f) => d.withColumnRenamed(physicalName(f), f.name) }
  }

  /** Rename logical columns of a frame ABOUT TO BE WRITTEN to their
    * physical names (columns outside the schema ride along unchanged). */
  private def toPhysicalDf(df: DataFrame, schema: StructType): DataFrame = {
    val renames = schema.filter(f => physicalName(f) != f.name)
    renames.foldLeft(df) { (d, f) => d.withColumnRenamed(f.name, physicalName(f)) }
  }

  /** Metadata key flagging a field as DROPPED: the field stays in the
    * manifest schema as a TOMBSTONE (so its name can never be silently
    * reused — see [[dropColumn]]) but every read and mutation surface
    * excludes it. */
  private[graft] val DroppedKey = "graft.dropped"

  private[graft] def isDropped(f: StructField): Boolean =
    f.metadata.contains(DroppedKey)

  /** The user-facing schema: the manifest schema minus dropped-column
    * tombstones. Identity for lakes that never dropped a column. */
  private[graft] def visible(schema: StructType): StructType =
    if (schema.exists(isDropped)) StructType(schema.filterNot(isDropped)) else schema

  /** COLUMN DROP as a metadata-only commit — [[renameColumn]]'s sibling:
    * the field is flagged dropped in the manifest schema (a TOMBSTONE —
    * it stays recorded so the name cannot be silently reused) and every
    * read, mutation, scan, and stream excludes it from that version on.
    * Zero data bytes move: the column's values remain in the files,
    * unread (a compaction rewrite naturally sheds them over time), and
    * time travel below the drop still reads them. Re-ADDING a dropped
    * name via a merge-schema append REFUSES loudly — old files still
    * hold the old values under that name, and re-binding it would
    * resurrect them into the new column; use a new name (or rename
    * after adding). Partition columns and the last visible column
    * refuse. */
  def dropColumn(spark: SparkSession, lakeDir: String, name: String): Unit = {
    val base = adopt(spark, lakeDir)
    val schema = DataType.fromJson(base.schemaJson).asInstanceOf[StructType]
    val field = schema.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"dropColumn: no column '$name' in the lake schema " +
          s"(${visible(schema).fieldNames.mkString(", ")})"))
    require(!isDropped(field), s"dropColumn: column '$name' is already dropped")
    require(!layoutFieldsOf(base).exists(_.source == name),
      s"dropColumn: '$name' is a partition column or transform source — its name is " +
        "baked into the layout; dropping it means a physical relayout, not a " +
        "metadata commit")
    require(visible(schema).size > 1,
      s"dropColumn: '$name' is the last visible column")
    val newSchema = StructType(schema.map { f =>
      if (f.name == name)
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putBoolean(DroppedKey, true).build())
      else f
    })
    publish(spark, StagedCommit(lakeDir, base, "drop", newSchema.json,
      Seq.empty, Seq.empty, 0L, 0L))
  }

  /** COLUMN RENAME as a metadata-only commit: the manifest schema gets
    * the new logical name with the original physical name recorded in
    * field metadata — no data file is opened, let alone rewritten,
    * which at 100 TB is the difference between a constant-time commit
    * and a full-lake rewrite. Reads translate at the parquet boundary
    * ([[readFiles]]); writes translate at staging ([[stageWrite]] /
    * [[stageCdc]]); stats prune through the mapping
    * ([[pruneByStats]]). Time travel BELOW the rename resolves the old
    * schema and reads the old name, exactly as committed. Partition
    * columns refuse (their name is baked into every directory path — a
    * rename there IS a physical relayout); duplicate/missing names
    * refuse naming the columns. The DSv2 read surfaces serve mapped
    * lakes too: [[graft.sources.lake.LakeMorTable]] is their table, and
    * the extensions' read re-plan reads it through the same translation
    * ([[org.apache.spark.sql.graft.VectorizeLakeMorRead]]), so
    * `spark.read.format("graft-lake")`, the named catalog, and SQL DML
    * all work over a renamed lake. */
  def renameColumn(spark: SparkSession, lakeDir: String,
      oldName: String, newName: String): Unit = {
    val base = adopt(spark, lakeDir)
    val schema = DataType.fromJson(base.schemaJson).asInstanceOf[StructType]
    require(schema.find(_.name == oldName).exists(!isDropped(_)),
      s"renameColumn: no column '$oldName' in the lake schema " +
        s"(${visible(schema).fieldNames.mkString(", ")})")
    // collision check against the FULL schema: a dropped tombstone's
    // name is reserved too (re-binding it would resurrect old values)
    require(!schema.fieldNames.contains(newName),
      s"renameColumn: column '$newName' already exists" +
        (if (schema.find(_.name == newName).exists(isDropped))
          " (as a dropped-column tombstone — old files still hold values under it)"
         else ""))
    require(!layoutFieldsOf(base).exists(_.source == oldName),
      s"renameColumn: '$oldName' is a partition column or transform source — its " +
        "name is baked into the layout (directory paths / the recorded transform " +
        "spec); renaming it means a physical relayout (compactLake into a new " +
        "lake), not a metadata commit")
    val renamed = StructType(schema.map { f =>
      if (f.name == oldName) {
        val keepPhysical = physicalName(f) // chains of renames keep the ORIGINAL
        f.copy(name = newName,
          metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putString(PhysicalNameKey, keepPhysical).build())
      } else f
    })
    publish(spark, StagedCommit(lakeDir, base, "rename", renamed.json,
      Seq.empty, Seq.empty, 0L, 0L))
  }

  /** PARTITION-SPEC EVOLUTION as a METADATA commit — the Iceberg
    * model: the new layout applies to NEW writes only; existing files
    * stay exactly where they are, each file's path spelling its own
    * layout generation, and readers union the generations (one grouped
    * parquet read per generation — [[readFiles]]). Zero data bytes
    * move, which at 100 TB is the difference between a metadata commit
    * and [[graft.operators.Pipeline.repartitionLake]]'s full rewrite —
    * the rewrite is now the OPTIONAL compaction that folds old
    * generations into the current layout when read locality earns it.
    * New layout columns must be visible lake columns (their values
    * leave the data files and render into directory paths for new
    * writes; old files keep reading them from paths or footers as
    * their generation spells). The CDC STREAM refuses ranges spanning
    * a generation boundary (its decode is one fixed layout per query —
    * restart, or consume via the batch [[changeFeed]], which serves
    * mixed generations exactly). */
  def evolveLayout(spark: SparkSession, lakeDir: String,
      newPartitionCols: Seq[String]): Unit = {
    val base = adopt(spark, lakeDir)
    val schema = visible(DataType.fromJson(base.schemaJson).asInstanceOf[StructType])
    // entries are layout SPECS — identity names and/or Iceberg's
    // transform grammar; see [[LayoutField]] and the shared gate
    val fields = validateLayout(newPartitionCols, schema, "evolveLayout")
    val specs = fields.map(_.spec)
    val current = layoutSpecsOf(base)
    require(specs != current,
      s"evolveLayout: [${current.mkString(", ")}] is already the write layout")
    publish(spark, StagedCommit(lakeDir, base, "evolve", base.schemaJson,
      Seq.empty, Seq.empty, 0L, 0L, layout = Some(specs)))
  }

  /** ADD COLUMN as a METADATA commit — with rename, drop and widen,
    * the metadata-only schema-evolution quartet: the manifest schema
    * gains a NULLABLE field at the end; no data file is opened. Every
    * EXISTING file simply lacks the column and the parquet readers
    * decode it as null (exactly the machinery merge-schema appends
    * already exercise — this is the same evolution without the data
    * write `appendToLake(mergeSchema = true)` requires); new writes
    * land values through the append path's align-cast. The Delta
    * `ALTER TABLE ... ADD COLUMN` parity, wired to
    * `TableChange.AddColumn` in the catalog. Non-nullable adds refuse
    * (no existing row could satisfy them); name collisions refuse
    * against the FULL schema — a dropped-column tombstone's name stays
    * reserved (old files still hold values under it, and a re-bind
    * would resurrect them). Time travel below the add resolves the old
    * schema; a running CDC stream refuses loudly at the add version,
    * like every mid-stream schema evolution. */
  def addColumn(spark: SparkSession, lakeDir: String, name: String,
      dataType: DataType): Unit = {
    require(name.nonEmpty, "addColumn: column name required")
    val base = adopt(spark, lakeDir)
    val schema = DataType.fromJson(base.schemaJson).asInstanceOf[StructType]
    require(!schema.fieldNames.contains(name),
      s"addColumn: column '$name' already exists" +
        (if (schema.find(_.name == name).exists(isDropped))
          " (as a dropped-column tombstone — old files still hold values under it)"
         else ""))
    val added = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField(name, dataType, nullable = true))
    publish(spark, StagedCommit(lakeDir, base, "addcol", added.json,
      Seq.empty, Seq.empty, 0L, 0L))
  }

  /** Widening TYPE promotion as a METADATA commit — completing the
    * metadata-only schema-evolution triple (rename, drop, widen): the
    * manifest's declared type moves up, OLD files keep being decoded
    * natively by the parquet readers' widening promotion (the Spark 4
    * device Delta Lake's type widening rides on — byte→short→int→long,
    * byte/short/int→double, float→double), NEW writes land at the wider
    * type via the append path's align-cast. Zero data bytes move; at
    * 100 TB the alternative is a full rewrite. Narrowing or any other
    * retype refuses loudly naming the rewrite. Recorded per-file stats
    * survive: integral widenings' string renderings parse exactly under
    * the wider type's comparison ([[pruneByStats]]); float->double
    * RESTATES the column's stats in the same commit — a float's
    * shortest-repr string ("1.1") parses to a double BELOW the widened
    * decoded value ((double)1.1f = 1.100000023841858), so reusing the
    * strings verbatim could understate a file's max and wrongly prune
    * it. Each bound re-parses as the float it renders (exact by
    * shortest-repr round-trip) and widens natively, so the restated
    * doubles are exactly the values the readers decode.
    * Partition columns refuse (their values are path-rendered under the
    * old type). A running CDC stream refuses loudly at the widen
    * version, exactly like every mid-stream schema evolution. */
  def widenColumn(spark: SparkSession, lakeDir: String, colName: String,
      to: DataType): Unit = {
    val base0 = adopt(spark, lakeDir)
    // the float→double restate must read EVERY file's recorded float
    // stats (a raw float string compared as double can wrongly prune) —
    // a lazily-resolved base deliberately holds none, so re-resolve
    // eagerly for this one mutation
    val base =
      if (base0.cpLazy.isDefined && to == DoubleType)
        latestEager(spark, lakeDir).getOrElse(base0)
      else base0
    val schema = DataType.fromJson(base.schemaJson).asInstanceOf[StructType]
    val field = schema.find(_.name == colName).filter(!isDropped(_)).getOrElse(
      throw new IllegalArgumentException(
        s"widenColumn: no column '$colName' in the lake schema " +
          s"(${visible(schema).fieldNames.mkString(", ")})"))
    require(!layoutFieldsOf(base).exists(_.source == colName),
      s"widenColumn: '$colName' is a partition column or transform source — its " +
        "values are rendered into directory paths under the old type; widening it " +
        "means a physical relayout, not a metadata commit")
    require(widens(field.dataType, to),
      s"widenColumn: ${field.dataType.simpleString} -> ${to.simpleString} is not a " +
        "widening promotion the parquet readers decode natively (allowed: " +
        "byte->short->int->long, byte/short/int->double, float->double) — " +
        "anything else needs a rewrite into a new lake")
    val widened = StructType(schema.map(f =>
      if (f.name == colName) f.copy(dataType = to) else f))
    val restates: Seq[(String, Seq[ColStat])] =
      if (field.dataType == FloatType && to == DoubleType) {
        val phys = physicalName(field)
        def wide(str: String): String =
          str.toFloatOption.fold(str)(v => String.valueOf(v.toDouble))
        base.stats.toSeq.sortBy(_._1).flatMap { case (f, cols) =>
          val re = cols.collect {
            case c if c.col == phys => ColStat(c.col, wide(c.min), wide(c.max))
          }
          if (re.isEmpty) None else Some(f -> re)
        }
      } else Seq.empty
    publish(spark, StagedCommit(lakeDir, base, "widen", widened.json,
      Seq.empty, Seq.empty, 0L, 0L, statRestates = restates))
  }

  private[graft] def widens(from: DataType, to: DataType): Boolean = (from, to) match {
    case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
    case (ShortType, IntegerType | LongType | DoubleType) => true
    case (IntegerType, LongType | DoubleType) => true
    case (FloatType, DoubleType) => true
    case _ => false
  }

  /** Read a specific file list under the manifest's recorded schema.
    * Applying the schema explicitly (instead of inferring from a sample
    * file) is what makes schema EVOLUTION sound: after a merge-schema
    * append the lake holds files written under different column sets, and
    * every file projects into the manifest schema with absent columns as
    * null — no mergeSchema footer sweep, no sample-file lottery. An empty
    * list reads as an empty frame with the same schema, so "every row
    * deleted" round-trips. Partition columns keep their recorded types. */
  private[graft] def readFiles(spark: SparkSession, lakeDir: String,
      schemaJson: String, files: Seq[String],
      dvs: Map[String, Seq[String]] = Map.empty,
      pruneState: Option[LakeState] = None): DataFrame = {
    val schema = visible(DataType.fromJson(schemaJson).asInstanceOf[StructType])
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else {
      val (fs, root) = fsRoot(spark, lakeDir)
      // data files spell columns by their PHYSICAL names (column
      // mapping); read under those and alias back to logical after
      val physical = toPhysical(schema)
      // manifest-stat file skipping at the FileIndex grain: the data
      // filters Spark pushes at PLAN time prune whole files against the
      // per-file min/max the log recorded — the same skip the DSv2 scan
      // builder does, now on the merge-on-read plan too.
      // Filters arrive over the PHYSICAL scan schema, so bounds build
      // and match in physical names end to end.
      val prune: Option[Seq[org.apache.spark.sql.catalyst.expressions.Expression] => Option[Set[String]]] =
        pruneState.filter(s => s.stats.nonEmpty || s.cpLazy.isDefined).map { st =>
          // whole-table reads (`files` IS the state's path-lazy list)
          // skip the membership set: every survivor of the state's own
          // prune is in the read by construction, and building the set
          // would force the deferred list at plan time
          val inRead: String => Boolean = files match {
            case _: DeferredFiles => _ => true
            case fl => fl.toSet
          }
          filters => {
            val bounds = org.apache.spark.sql.graft.LakeStatPruning
              .boundsFrom(physical, filters)
            if (bounds.isEmpty) None
            else Some(pruneByStatsPhysical(st, bounds).iterator.filter(inRead)
              .map(rel => fs.makeQualified(new Path(root, rel)).toString).toSet)
          }
        }
      // scope the attachment map to this read. A whole-table read of a
      // resolved state skips the set-build entirely: a state's live dv
      // pairs name live files by invariant, and `files.toSet` on a
      // path-lazy list would force its materialization just to prove it
      def scopeToRead(m: Map[String, Seq[String]]): Map[String, Seq[String]] =
        files match {
          case _: DeferredFiles => m
          case fl => val inRead = fl.toSet; m.view.filterKeys(inRead).toMap
        }
      // DV application strategy, chosen WITHOUT forcing a deferred
      // attachment map: eager (or already-soft-cached) maps apply inside
      // the scan below — bounded by the dv-lazy threshold. A deferred map
      // under a BOUNDED read (sparse DML's candidates) resolves through
      // the scoped accessor — one membership job, and only the relevant
      // files' attachments reach the driver. `None` = deferred map under
      // a WHOLE-TABLE read: relevance resolves INSIDE a job over the
      // checkpoint entries instead (further down) — the one shape whose
      // relevant set is itself corpus-scale.
      val eagerRelevant: Option[Map[String, Seq[String]]] = dvs match {
        case dd: DeferredDvs =>
          if (dd.cheapIsEmpty.contains(true)) Some(Map.empty)
          else Option(dd.cachedOrNull).map(scopeToRead).orElse(files match {
            case _: DeferredFiles => None
            case bounded => Some(dvsFor(spark, dd, bounded))
          })
        case m => Some(if (m.isEmpty) Map.empty else scopeToRead(m))
      }
      val applied = eagerRelevant match {
        case Some(relevant) =>
          // the vectors apply INSIDE the scan ([[graft.plans.LakeDvKeep]]):
          // each task loads a DV'd file's positions from that file's own
          // sidecars when it reaches the file — one columnar scan, no
          // sidecar read on the driver, no join
          val keep =
            if (relevant.isEmpty) None
            else Some(dvKeep(scanFiles(spark, root, relevant.iterator)))
          readGrouped(spark, root, physical, files, prune, keep)
        case None =>
          // DEFERRED attachment map: driver traffic is O(distinct
          // sidecars) — one bounded collect for the sidecar read paths —
          // while the file-relevance set (which files' rows the sidecar
          // positions apply to) is built inside a job over the entries'
          // V rows and joined to the sidecar rows job-side. The
          // filesForScan shape, extended to MoR planning: a fully
          // sparse-deleted 10^8-file lake plans its read without the
          // attachment map ever landing on the driver. This is the one
          // read that still applies vectors as a job-side anti-join: the
          // in-scan predicate carries its per-file attachments in the
          // plan, and here they must never reach the driver.
          val dd = dvs.asInstanceOf[DeferredDvs]
          val sidecars = distinctLiveSidecars(spark, dd).toSeq.sorted
          if (sidecars.isEmpty)
            readGrouped(spark, root, physical, files, prune)
          else {
            import spark.implicits._
            val unioned = readGrouped(spark, root, physical, files, prune,
              lineage = Seq(col("_metadata.file_path").as("_gf_path"),
                col("_metadata.row_index").as("_gf_pos")))
            val dvDf = spark.read.schema(DvSchema)
              .parquet(sidecars.map(sc => new Path(root, sc).toString): _*)
            val rootStr = root.toString
            // whole-table read (the only shape that reaches here): every
            // live pair's file is live in the read by invariant
            val relevantDf = dvPairsRdd(spark, dd).keys.distinct()
              .map(f => (f, new Path(rootStr, f).toUri.toString))
              .toDF("file", "_gf_path")
            val del = dvDf.join(relevantDf, "file")
              .select(col("_gf_path"), col("pos").as("_gf_pos"))
            unioned.join(del, Seq("_gf_path", "_gf_pos"), "left_anti")
              .drop("_gf_path", "_gf_pos")
          }
      }
      if (hasMapping(schema)) toLogical(applied, schema) else applied
    }
  }

  /** ONE parquet read per LAYOUT GENERATION, unioned by name: a
    * post-[[evolveLayout]] lake mixes directory layouts, and Spark's
    * partition discovery needs each read internally uniform. A
    * generation's former partition columns read from its paths, the
    * current one's from footers — the same logical schema either way
    * (column order pinned to `physical`). `keep` (the in-scan
    * deletion-vector predicate) filters and `lineage` columns append,
    * both over `_metadata`, PER GENERATION (metadata columns do not
    * resolve through a union). */
  private def readGrouped(spark: SparkSession, root: Path, physical: StructType,
      files: Seq[String],
      prune: Option[Seq[org.apache.spark.sql.catalyst.expressions.Expression] => Option[Set[String]]],
      keep: Option[Column] = None,
      lineage: Seq[Column] = Seq.empty): DataFrame = {
    val generations = files.groupBy(layoutOfPath).toSeq.sortBy(_._1.mkString(","))
    val frames = generations.map { case (levels, gen) =>
      val reader = spark.read.option("basePath", root.toString)
      // TRANSFORM levels (directory names that are not schema columns —
      // days/hours/bucket/truncate generations) must be declared to the
      // partition discovery or it would refuse the unknown level:
      // declare them as nullable strings, then project them away below.
      // Their SOURCE columns read from the footers like any data column.
      val extraLevels = levels.filterNot(physical.fieldNames.contains)
      val readSchema =
        if (physical.isEmpty) physical
        else StructType(physical.fields ++ extraLevels.map(n =>
          StructField(n, StringType, nullable = true)))
      // schema'd reads go through the session-shared listing cache
      // ([[org.apache.spark.sql.graft.LakeListing]]): lake files are
      // immutable, so re-listing them per construction — a whole Spark
      // job above the parallel-discovery threshold, repeated for every
      // read of a multi-commit query — is pure waste; only the FIRST
      // sight of a path pays the (distributed, scale-correct) listing
      val listed =
        if (physical.nonEmpty)
          org.apache.spark.sql.graft.LakeListing.parquetFrame(spark,
            gen.map(f => new Path(root, f).toString), readSchema,
            Map("basePath" -> root.toString))
        else reader.parquet(gen.map(f => new Path(root, f).toString): _*)
      val raw = keep.fold(listed)(listed.filter)
      // an empty `physical` (schema-less bootstrap reads) keeps the
      // inferred columns — projecting an explicit empty list would
      // select nothing
      val projected =
        if (physical.isEmpty && lineage.isEmpty) raw
        else if (physical.isEmpty) raw.select(col("*") +: lineage: _*)
        else raw.select(physical.fieldNames.toSeq.map(col) ++ lineage: _*)
      prune.fold(projected)(pr =>
        org.apache.spark.sql.graft.LakeVectorRead.withStatPruning(projected, pr))
    }
    frames.reduce(_.unionByName(_))
  }

  /** The read's scoped file map for the in-scan expressions: each
    * `(relative file, its sidecars)` keyed by the absolute path as the
    * parquet scan renders `_metadata.file_path`. */
  private def scanFiles(spark: SparkSession, root: Path,
      files: Iterator[(String, Seq[String])]): graft.plans.LakeScanFiles =
    graft.plans.LakeScanFiles(
      files.map { case (f, scs) =>
        new Path(root, f).toUri.toString -> graft.plans.LakeScanFiles.Entry(f,
          scs.map(sc => new Path(root, sc).toString))
      }.toMap,
      TaskHadoopConf(spark))

  private def dvKeep(m: graft.plans.LakeScanFiles): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(graft.plans.LakeDvKeep(
      org.apache.spark.sql.graft.ColumnBridge.expression(col("_metadata.file_path")),
      org.apache.spark.sql.graft.ColumnBridge.expression(col("_metadata.row_index")), m))

  /** Read `files` with per-row LINEAGE attached: `_gf_file` (the
    * lakeDir-relative path) and `_gf_pos` (the row's position in that
    * file) — the coordinates a deletion vector records. Existing DVs are
    * applied first, inside the scan, so an already-deleted row can never
    * be re-tombstoned or re-counted by a later sparse mutation. Both the
    * DV predicate and `_gf_file` read the same scoped file map: one
    * scan, no join. */
  private[graft] def readFilesWithLineage(spark: SparkSession, lakeDir: String,
      schemaJson: String, files: Seq[String],
      dvs: Map[String, Seq[String]]): DataFrame = {
    require(files.nonEmpty, "lineage read needs a non-empty file list")
    val (_, root) = fsRoot(spark, lakeDir)
    val schema = visible(DataType.fromJson(schemaJson).asInstanceOf[StructType])
    // callers pass bounded candidate lists (sparse DML's affected
    // files), so the scoped accessor keeps a deferred map off the driver
    val relevant = dvsFor(spark, dvs, files)
    val m = scanFiles(spark, root,
      files.iterator.map(f => f -> relevant.getOrElse(f, Seq.empty)))
    val relFile = org.apache.spark.sql.graft.ColumnBridge.column(graft.plans.LakeScanFile(
      org.apache.spark.sql.graft.ColumnBridge.expression(col("_metadata.file_path")), m))
    val lineage = readGrouped(spark, root, toPhysical(schema), files, prune = None,
      keep = if (relevant.isEmpty) None else Some(dvKeep(m)),
      lineage = Seq(relFile.as("_gf_file"), col("_metadata.row_index").as("_gf_pos")))
    if (hasMapping(schema)) toLogical(lineage, schema) else lineage
  }

  private[graft] def readState(spark: SparkSession, lakeDir: String, st: LakeState): DataFrame =
    readFiles(spark, lakeDir, st.schemaJson, st.files, st.dvs, pruneState = Some(st))

  /** Read the lake exactly as the RESOLVED state `st` describes it — the
    * state-addressed public face of the manifest read. The injected
    * vectorized merge-on-read rule
    * ([[org.apache.spark.sql.graft.VectorizeLakeMorRead]]) routes the
    * DSv2 read surfaces through this plan: a fully vectorized parquet
    * scan with manifest-stat file skipping, deletion vectors applied
    * inside it by [[graft.plans.LakeDvKeep]], which loads each file's
    * positions in the task that reads the file — no join, no driver-side
    * position load or cap. */
  def readResolved(spark: SparkSession, lakeDir: String, st: LakeState): DataFrame =
    readState(spark, lakeDir, st)

  /** The lake as its readers see it: resolved through the latest manifest
    * when one exists (staged-but-unpublished files are invisible; vacuum
    * lag is invisible), plain directory read otherwise. */
  def read(spark: SparkSession, lakeDir: String): DataFrame =
    latestManifest(spark, lakeDir) match {
      case Some(st) => readState(spark, lakeDir, st)
      case None     => spark.read.parquet(lakeDir)
    }

  /** Time travel: the lake exactly as version `version` committed it.
    * Any retained version is one checkpoint load plus a bounded delta
    * replay — no snapshot copy. Files superseded AFTER `version` remain
    * readable until [[vacuumKeeping]] spends that history; reading a
    * vacuumed-away version fails loudly with the missing files named. */
  def readVersion(spark: SparkSession, lakeDir: String, version: Long): DataFrame = {
    val (fs, root) = fsRoot(spark, lakeDir)
    val st = stateAt(spark, lakeDir, version)
    // existence pre-check: exact on eager states. A PATH-LAZY state
    // checks only its driver-resident tail and the distinct sidecars —
    // per-resident fs.exists would be O(corpus) driver RPCs and force
    // the deferred list; a genuinely missing resident (manual deletion —
    // retention rewrites retire the whole version first) still fails
    // loudly at scan time with the path named.
    val checkables: Iterator[String] = st.files match {
      case dfl: DeferredFiles =>
        dfl.tailAdded.iterator ++ distinctLiveSidecars(spark, st.dvs).iterator
      case pf => pf.iterator ++ distinctLiveSidecars(spark, st.dvs).iterator
    }
    val gone = checkables
      .filterNot(f => fs.exists(new Path(root, f))).toSeq
    if (gone.nonEmpty)
      throw new IllegalStateException(
        s"lake version $version is no longer reconstructible — " +
          s"${gone.size} file(s) vacuumed, e.g. ${gone.take(3).mkString(", ")}")
    readState(spark, lakeDir, st)
  }

  // ------------------------------------------------------------------
  // Commit
  // ------------------------------------------------------------------

  /** Atomically commit one delta record, then write a checkpoint when the
    * version crosses the [[CheckpointInterval]] grid (`postState` feeds
    * it — the caller always has the resolved post-image in hand, so the
    * checkpoint costs no replay). Refusing (rather than clobbering) an
    * already-committed version — the single-writer-per-version guard —
    * is delegated to the per-filesystem [[LogStore]] seam: atomic
    * exclusive-create on HDFS-style filesystems, exists-check + rename +
    * content read-back on POSIX (with its documented residual window),
    * and a conditional-PUT contract for object-store backends. */
  private[graft] def commitDelta(spark: SparkSession, lakeDir: String,
      rec: DeltaRecord, postState: Option[LakeState]): Unit = {
    val (fs, root) = fsRoot(spark, lakeDir)
    val log = logDir(root)
    fs.mkdirs(log)
    val target = new Path(log, deltaName(rec.version))
    // commit wall-clock stamped at publish time — feeds timestamp time
    // travel ([[versionAtTimestamp]]) and [[describeHistory]]; clock skew
    // across writers makes this best-effort ordering, version numbers
    // stay the authoritative total order
    val payload = renderDelta(rec.copy(timestampMs = System.currentTimeMillis()))
    LogStore.forFileSystem(fs).putIfAbsent(fs, log, target, payload)
    if (rec.version > 0 && rec.version % CheckpointInterval == 0)
      postState.foreach(st => writeCheckpoint(spark, fs, root, st.copy(version = rec.version)))
  }

  /** Checkpoint write. On the interval grid (`overwrite = false`) it is
    * best-effort and idempotent — readers only ever gain a shorter replay
    * from it, never correctness, so a failed rename is silently dropped.
    * `overwrite = true` REPLACES an existing checkpoint — only
    * [[vacuumKeeping]] uses it, to prune the history section after
    * reclaiming the files it named — and there the checkpoint is
    * load-bearing (older deltas are about to be retired), so the swap is
    * old-aside → new-in → drop-old: the pre-existing checkpoint is never
    * deleted before its replacement is in place (no no-checkpoint
    * window), and any failed rename rolls the old one back and THROWS
    * instead of letting the caller proceed to retire history that only
    * the failed checkpoint could have covered. */
  private def writeCheckpoint(spark: SparkSession, fs: FileSystem, root: Path,
      st0: LakeState, overwrite: Boolean = false): Unit = {
    val target = new Path(logDir(root), checkpointName(st0.version))
    if (fs.exists(target) && !overwrite) return
    // a LAZY-resolved state must never shed its checkpoint files' stats
    // into a checkpoint. When the NEW checkpoint goes columnar, the
    // stats never need the driver at all: [[writeEntriesIncremental]]
    // folds the prior entries directory forward inside one Spark job
    // (drop removed files, merge restates, append the driver-resident
    // tail — the Iceberg manifest-reuse idea), so a 10^6-file lake
    // checkpoints with O(tail) driver traffic. Only a lake that SHRANK
    // below the columnar threshold re-resolves eagerly (its checkpoint
    // renders as text, which needs every stat driver-side) — and only
    // the stats graft in, because the caller may have REWRITTEN the
    // other sections (vacuumKeeping's history-trimming retention cut).
    val entries = checkpointEntryCount(st0)
    val goColumnar = entries >= checkpointParquetMinEntries(spark)
    val st =
      if (st0.cpLazy.isEmpty || goColumnar) st0
      else {
        val (deltas, checkpoints) = listLog(fs, root)
        val eager = resolve(spark, fs, root, root.toString, st0.version,
          deltas, checkpoints, forceEager = true)
        // the eager resolve at this version is AUTHORITATIVE for stats
        // (it replayed every tail delta, restates included); the lazy
        // state's own entries are partial views of the same log — a
        // restate folded onto an unmaterialized base carries only the
        // restated columns and must not shadow the complete row. A
        // still-DEFERRED history grafts the eager replay's list too
        // (equal content, saves the text render a force) — but an EAGER
        // history on a lazy state means the CALLER rewrote it
        // (vacuumKeeping's retention cut) and is authoritative: the
        // replay's pre-cut history must not resurrect reclaimed files.
        val histFix = st0.history match {
          case _: DeferredHistory => eager.history
          case h => h
        }
        // deferred VH/CF lists graft the same way (content-equal from
        // the same log; an eager one means the caller rewrote it)
        val vhFix = st0.dvHistory match {
          case _: DeferredHistory => eager.dvHistory
          case h => h
        }
        val cdcFix = st0.cdc match {
          case _: DeferredHistory => eager.cdc
          case c => c
        }
        // the FILE list grafts unconditionally (no caller rewrites it):
        // the eager replay already materialized the identical list, so
        // the text render below never forces a deferred one — and the DV
        // map grafts the same way (content-equal; no caller rewrites it)
        st0.copy(files = eager.files, stats = eager.stats, history = histFix,
          dvs = eager.dvs, dvHistory = vhFix, cdc = cdcFix, cpLazy = None)
      }
    // columnar path: the file-scale sections land as parquet FIRST (a
    // fresh UUID-named directory no reader can discover), then the stub's
    // rename below stays the single atomic commit point — exactly the
    // stage-then-publish discipline of the data commits themselves
    // the stub's stat-column census folds forward union-wise: the lazy
    // state's driver stats (tail adds + restates) can only ADD names to
    // the prior stub's set — a superset stays a sound two-level key
    val scOut: Option[Set[String]] = st.cpLazy match {
      case None => Some(st.stats.valuesIterator.flatten.map(_.col).toSet)
      case Some(lz) =>
        lz.statCols.map(_ ++ st.stats.valuesIterator.flatten.map(_.col))
    }
    // per-directory rollups (`DR` rows, the two-level pruning's second
    // level): the DIRECT path computes them from the materialized stats
    // map; the INCREMENTAL path RECOMPUTES them in a Spark job over the
    // NEW entries — exact after removals (no conservative sum
    // invalidation), works without a driver path list (path-lazy
    // states), and retires the last O(files) driver CPU loop on the
    // commit path
    def toDrRows(m: Map[String, Seq[ColStat]]): Seq[org.apache.spark.sql.Row] =
      m.toSeq.sortBy(_._1).flatMap { case (d, env) =>
        env.map(c => org.apache.spark.sql.Row(
          "DR", d, s"${enc(c.col)}\t${enc(c.min)}\t${enc(c.max)}", null))
      }
    var sumsComplete = false
    // the stub's torn-check count and VC census come from what was
    // ACTUALLY written: exact driver counts on the direct (eager) path,
    // one count-by-tag job over the written entries on the incremental
    // path (a deferred dv map's LIVE pair count is not driver-knowable)
    var entriesActual = 0L
    var vPairs = 0L
    // the direct path's rollup map, kept for the cache self-seed below
    // (the lazy load shape rebuilds exactly this map from the DR rows)
    var directDrMap: Option[Map[String, Seq[ColStat]]] = None
    // (F, H, V) content checksums of what was written — same provenance
    // rule as the counts: driver-side on the direct path, the post-write
    // census job on the incremental one
    var secXors: Option[(Long, Long, Long)] = None
    def xorOver(it: Iterator[String]): Long =
      it.foldLeft(0L)((a, p) => a ^ pathHash64(p))
    val pqDir: Option[Path] =
      if (goColumnar) {
        val dir = new Path(logDir(root), pqEntriesName(st.version))
        // claim the dir BEFORE any entries task writes: the maintenance
        // sweep ([[sweepStaleEntryDirs]]) treats a live in-progress
        // marker as a writer's claim, so a writer that stalls between
        // its last task write and the stub rename cannot have its
        // directory judged a crashed leftover mid-flight. Dropped at
        // every exit; a true crash leaves marker + dir to age out and
        // be reclaimed together.
        fs.create(inProgressMarker(logDir(root), dir.getName), false).close()
        // an in-process write failure (a thrown entries/rollup job) must
        // not leak the claim: the partial dir stays (the pre-existing
        // crashed-attempt shape, reclaimed by retry-time cleanup or the
        // sweep) but the marker goes, so the retry's same-version
        // dropStaleEntryDirs is not blocked by a dead claim
        try st.cpLazy match {
          case Some(lz) =>
            writeEntriesIncremental(spark, st, lz, dir)
            // the row census (counts + content checksums) rides the
            // rollup aggregation's single pass over the new entries —
            // no separate census job; the DR rows appended below are
            // driver-counted (their tag carries no checksum term)
            val (drMap, complete, census) = aggregateDirRollups(spark, dir.toString,
              st.schemaJson, dirRollupMaxDirs(spark))
            val drRows = toDrRows(drMap)
            if (drRows.nonEmpty)
              spark.createDataFrame(
                spark.sparkContext.parallelize(drRows, 1), CpEntrySchema)
                .write.mode("append").parquet(dir.toString)
            sumsComplete = complete
            entriesActual = census.rows + drRows.size
            vPairs = census.vPairs
            secXors = Some((census.xF, census.xH, census.xV))
          case None =>
            val (drMap, complete) = dirRollupsWithFlag(st.files, st.stats,
              st.schemaJson, dirRollupMaxDirs(spark))
            val drRows = toDrRows(drMap)
            directDrMap = Some(drMap)
            sumsComplete = complete
            val rows = checkpointEntryRows(st) ++ drRows
            entriesActual = rows.size.toLong
            vPairs = dvPairCountUpper(st.dvs) // exact: direct path is eager
            secXors = Some((xorOver(st.files.iterator),
              xorOver(st.history.iterator),
              st.dvs.iterator.foldLeft(0L) { case (a, (f, ss)) =>
                ss.foldLeft(a)((a2, sc2) => a2 ^ dvPairHash64(f, sc2)) }))
            // ~100k entries per task: wide enough to matter at 10^6
            // files, one task for the common case
            val slices = math.max(1, math.min(32, rows.size / 100000))
            spark.createDataFrame(
              spark.sparkContext.parallelize(rows, slices), CpEntrySchema)
              .write.parquet(dir.toString)
        } catch {
          case t: Throwable =>
            fs.delete(inProgressMarker(logDir(root), dir.getName), false)
            throw t
        }
        Some(dir)
      } else None
    def dropPq(): Unit = pqDir.foreach { d =>
      fs.delete(d, true)
      fs.delete(inProgressMarker(logDir(root), d.getName), false)
    }
    def releaseClaim(): Unit = pqDir.foreach(d =>
      fs.delete(inProgressMarker(logDir(root), d.getName), false))
    // no EXIT of this function may leave a live claim behind (only a
    // hard crash does): any throw between here and the final release —
    // a failed tmp write, a lost rename, a sweep-race abort — releases
    // it on the way out, so a same-version retry's cleanup is never
    // blocked by this attempt's dead claim
    try {
    val payload = pqDir match {
      case Some(d) =>
        renderCheckpointStub(st, d.getName, entriesActual, scOut, sumsComplete,
          vPairs, fXor = secXors.map(_._1), hXor = secXors.map(_._2),
          vXor = secXors.map(_._3))
      case None => renderCheckpoint(st)
    }
    val tmp = new Path(logDir(root), s".tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(payload.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // re-assert the claim at the commit point: if a maintenance sweep
    // reclaimed the entries dir during a stall LONGER than the reader
    // grace, abort loudly here rather than commit a stub naming a
    // missing directory; the fresh marker mtime also re-opens the full
    // grace window for the renames below
    pqDir.foreach { d =>
      val m = inProgressMarker(logDir(root), d.getName)
      // only a MISSING marker/dir is evidence the claim was lost — a
      // transient FS error propagates as itself (retryable), never as a
      // spurious "swept by maintenance"
      val claimed =
        try {
          if (!fs.exists(m)) false
          else { fs.setTimes(m, System.currentTimeMillis(), -1); fs.exists(d) }
        } catch { case _: java.io.FileNotFoundException => false }
      if (!claimed) {
        fs.delete(tmp, false)
        throw new IllegalStateException(
          s"checkpoint write stalled past the reclaim grace: entries directory $d " +
            "or its in-progress marker was swept by maintenance — aborting; " +
            "re-run the checkpoint")
      }
    }
    // POST-rename verify for the other side of the sweep race: a sweep
    // whose final per-dir check ran just before our rename can still
    // delete the dir just after it — detect that here, UNDO the stub
    // (a missing checkpoint is always safe: the deltas still resolve;
    // a stub naming a missing dir is not) and fail loudly. `undo`
    // restores the pre-commit checkpoint state for the path taken.
    def verifyClaimedDirSurvived(undo: () => Unit): Unit =
      pqDir.foreach { d =>
        if (!fs.exists(d)) {
          undo()
          // REPORT the rollback honestly: if the undo itself failed (the
          // bad stub still stands and still names the swept dir), the
          // error must demand manual repair, not claim success
          val rolledBack = !fs.exists(target) ||
            !readLogFile(fs, target).contains(d.getName)
          throw new IllegalStateException(
            s"checkpoint entries directory $d was reclaimed by a concurrent " +
              "maintenance sweep (write stalled past the reader grace) — " +
              (if (rolledBack)
                "the just-committed stub was rolled back; re-run the checkpoint"
              else
                s"and the stub at $target could NOT be rolled back: delete it " +
                  "manually before reading this version (the deltas still resolve)"))
        }
      }
    if (!overwrite) {
      if (!fs.rename(tmp, target)) { fs.delete(tmp, false); dropPq() }
      else {
        verifyClaimedDirSurvived(() => fs.delete(target, false))
        dropStaleEntryDirs(fs, root, st.version, keep = pqDir,
          replacedEntriesGraceMs(spark))
        // Self-seed the resolved-state cache with what a load of the
        // just-committed checkpoint returns under the session's CURRENT
        // stats mode — the round-trip of the state in hand (text path:
        // parse the very payload just renamed in; columnar-direct path:
        // the entry rows were generated from `st`, and the load sorts
        // each section, keeps the live files' non-empty stats when
        // eager, and defers to the DR rollups when lazy). The next
        // resolve at this version then skips the re-load — for
        // parquet-entries checkpoints that is a Spark job over the
        // entries directory per checkpoint, paid immediately after
        // writing those same entries. Shapes the load would DEFER
        // (path-lazy / dv-lazy file counts) are never seeded, the
        // overwrite path (vacuumKeeping's history rewrite) is left
        // alone, and a conf flip before the next read changes the key
        // and misses into the honest load. Best-effort: a seeding
        // failure must never fail the committed checkpoint.
        if (st.cpLazy.isEmpty) try {
          val lazyNow = lazyStats(spark)
          val sortedFiles = EagerFiles(st.files.iterator.toSeq.sorted)
          val sortedDvs = EagerDvs(st.dvs.iterator.filter(_._2.nonEmpty)
            .map { case (f, ss) => f -> ss.sorted }.toMap)
          val seeded: Option[LakeState] = pqDir match {
            case None => Some(parseCheckpointFile(payload, st.version))
            case Some(d) =>
              val base = st.copy(
                files = sortedFiles,
                history = st.history.sorted,
                dvs = sortedDvs,
                dvHistory = st.dvHistory.sorted,
                cdc = st.cdc.sorted)
              if (!lazyNow) {
                val fileSet = st.files.toSet
                Some(base.copy(
                  stats = st.stats.filter { case (p, cs) => cs.nonEmpty && fileSet(p) },
                  cpLazy = None))
              } else if (st.files.size < pathLazyMinFiles(spark))
                // the non-deferred lazy shape: stats stay in the entries,
                // driver carries only the DR rollups and the SC census
                Some(base.copy(
                  stats = Map.empty,
                  cpLazy = Some(CpLazy(d.toString, Set.empty, scOut,
                    directDrMap.getOrElse(Map.empty), sumsComplete = sumsComplete))))
              else None // the load would defer paths/dvs: let it
          }
          seeded.foreach { s =>
            val stt = fs.getFileStatus(target)
            val key = (root.toString, st.version,
              Some((st.version, stt.getLen, stt.getModificationTime)),
              Seq.empty[(Long, Long, Long)], lazyNow,
              if (lazyNow) pathLazyMinFiles(spark) else 0L)
            stateCache.synchronized(stateCache.put(key, s))
          }
        } catch { case _: Throwable => () }
      }
    } else {
      // the aside name carries the version ([[asideName]]): a crash
      // between the two renames strands the old checkpoint there, and the
      // next log listing's [[recoverAsides]] renames it back
      val aside = new Path(logDir(root), asideName(st.version))
      val hadOld = fs.exists(target)
      if (hadOld && !fs.rename(target, aside)) {
        fs.delete(tmp, false)
        dropPq()
        throw new IllegalStateException(
          s"checkpoint replace failed: could not move the existing checkpoint $target " +
            s"aside to $aside — aborting before any history is retired")
      }
      if (!fs.rename(tmp, target)) {
        // roll the old checkpoint back; if even that fails, recoverAsides
        // heals it on the next listing — but name the aside path here so
        // manual repair never has to guess
        if (hadOld && !fs.rename(aside, target)) {
          dropPq()
          throw new IllegalStateException(
            s"checkpoint replace failed AND rollback failed: the pre-existing " +
              s"checkpoint is stranded at $aside (recoverAsides restores it on the " +
              "next log listing) — aborting before any history is retired")
        }
        fs.delete(tmp, false)
        dropPq()
        throw new IllegalStateException(
          s"checkpoint replace failed: could not rename $tmp to $target — " +
            "aborting before any history is retired")
      }
      // verify BEFORE dropping the aside: rolling the old checkpoint
      // back is only possible while it still exists. The bad stub is
      // DELETED before the aside renames back — HDFS-contract renames
      // refuse an existing target, and with target absent a failed
      // restore leaves exactly the shape [[recoverAsides]] heals
      // (aside present, target missing) instead of the shape it
      // destroys (target present → aside deleted)
      verifyClaimedDirSurvived { () =>
        fs.delete(target, false)
        if (hadOld) fs.rename(aside, target) // restore the pre-cut stub
      }
      if (hadOld) fs.delete(aside, false)
      // the replaced checkpoint's entries directory (and any crashed
      // earlier attempt's) is now unreferenced — but a LIVE reader may
      // still hold a deferred list over it, so it is RETIRED (marker,
      // not delete) and the next maintenance pass reclaims it once the
      // reader grace window elapses ([[sweepStaleEntryDirs]];
      // vacuumKeeping is the only overwrite caller)
      retireStaleEntryDirs(fs, root, st.version, keep = pqDir)
    }
    } catch { case t: Throwable => releaseClaim(); throw t }
    // the stub is committed (or this write lost the rename race and
    // dropPq already cleaned up): release the in-progress claim
    releaseClaim()
  }

  /** Incremental columnar-checkpoint write from a LAZILY-resolved state:
    * the new entries directory derives from the PRIOR checkpoint's
    * entries in one Spark job — keep each old F row whose file is still
    * live, merge any tail-delta stat RESTATE onto its row (per column,
    * exactly [[mergeStatCols]] — the old row stays authoritative for
    * columns the restate didn't touch), drop removed files, and union
    * the driver-resident tail (tail-added F rows with their delta
    * stats, plus the H/V/VH/CF sections, which are manifest-sized and
    * always driver-resident). The checkpoint files' stats thus flow
    * old-entries → new-entries entirely on executors: a 10^6-file lake
    * checkpoints with O(tail) driver traffic and zero stats
    * materialization (Iceberg snapshots reuse unchanged manifest files
    * the same way). Consistency is transitive: `st` resolved THROUGH
    * `oldDir` (its torn-count check passed), so every live
    * checkpoint-resident file provably has its F row there. */
  private def writeEntriesIncremental(spark: SparkSession, st: LakeState,
      lz: CpLazy, dir: Path): Unit = {
    import org.apache.spark.sql.Row
    checkpointIncrementalWrites.incrementAndGet()
    // BLACKLIST of dead residents instead of a keep-whitelist:
    // `tailRemoved` names exactly the checkpoint residents tail deltas
    // removed (tail transients never enter it), so O(removed) ships to
    // tasks instead of O(corpus) — and it exists without a driver path
    // list, which is what lets a PATH-LAZY state checkpoint without
    // ever materializing its files
    val removedArr: Array[String] = lz.tailRemoved.toArray.sorted
    val tailAdded = lz.tailAdded
    // deferred HISTORY folds forward the same way as the F rows: the
    // prior checkpoint's H rows ride through inside the job and only
    // the post-checkpoint tail renders driver-side. An EAGER history on
    // a lazy state means a caller REWROTE it (vacuumKeeping's retention
    // cut) — then the old H rows drop and the driver's seq is
    // authoritative.
    val (keepOldHist, histTail): (Boolean, Seq[String]) = st.history match {
      case dh: DeferredHistory if dh.entriesDir == lz.entriesDir =>
        (true, dh.histTail)
      case h => (false, h)
    }
    // the VH/CF sidecar lists fold forward the same way: deferred lists
    // keep their old rows inside the job (VH masked by the tail — a
    // re-detach renders once) and render only the driver tail; an EAGER
    // list on a lazy state means the CALLER rewrote it (the retention
    // cut) and is authoritative — old rows drop.
    val (keepOldVh, vhTail): (Boolean, Seq[String]) = st.dvHistory match {
      case dh: DeferredHistory if dh.entriesDir == lz.entriesDir =>
        (true, dh.histTail)
      case h => (false, h)
    }
    val (keepOldCf, cfTail): (Boolean, Seq[String]) = st.cdc match {
      case dh: DeferredHistory if dh.entriesDir == lz.entriesDir =>
        (true, dh.histTail)
      case c => (false, c)
    }
    val vhTailSet = vhTail.toSet
    // a DEFERRED dv map folds its V rows forward INSIDE the job exactly
    // like the F/H rows: keep each old pair unless a tail delta detached
    // its file or X-removed it, and render only the driver tail below.
    // An EAGER map (below the dv-lazy threshold) re-renders driver-side
    // as before — old V rows drop here.
    val (keepOldDvs, dvDetArr, dvRemPairs, dvTail):
        (Boolean, Array[String], Map[String, Set[String]], Map[String, Seq[String]]) =
      st.dvs match {
        case dd: DeferredDvs if dd.entriesDir == lz.entriesDir =>
          (true, dd.detachedFiles.toArray.sorted, dd.removedPairs, dd.tailAdds)
        case m => (false, Array.empty[String], Map.empty[String, Set[String]],
          m: Map[String, Seq[String]])
      }
    // tail restates onto checkpoint residents: small by construction
    // (a delta's statRestates section), rides to tasks as a plain map
    val restates: Map[String, Seq[(String, String, String)]] =
      st.stats.view.filterKeys(f => !tailAdded(f))
        .mapValues(_.map(c => (c.col, c.min, c.max))).toMap
    val oldKept = spark.read.schema(CpEntrySchema).parquet(lz.entriesDir).rdd
      .flatMap { r =>
        if (r.getString(0) == "H") { if (keepOldHist) Some(r) else None }
        else if (r.getString(0) == "VH") {
          if (keepOldVh && !vhTailSet(r.getString(1))) Some(r) else None
        }
        else if (r.getString(0) == "CF") { if (keepOldCf) Some(r) else None }
        else if (r.getString(0) == "V") {
          if (!keepOldDvs) None
          else {
            val f = r.getString(1)
            val s = r.getString(2)
            val masked = dvPairMasked(dvDetArr, dvRemPairs, f, s) ||
              dvTail.get(f).exists(_.contains(s)) // tail re-add: render once
            if (masked) None else Some(r)
          }
        }
        else if (r.getString(0) != "F") None // other sections rebuild driver-side
        else if (removedArr.nonEmpty && java.util.Arrays.binarySearch(
            removedArr.asInstanceOf[Array[AnyRef]], r.getString(1)) >= 0) None
        else {
          val p = r.getString(1)
          val base: Seq[Row] = if (r.isNullAt(3)) Seq.empty else r.getSeq[Row](3)
          val merged = restates.get(p) match {
            case None => base
            case Some(re) =>
              base.filterNot(o => re.exists(_._1 == o.getString(0))) ++
                re.map { case (c, mn, mx) => Row(c, mn, mx) }
          }
          Some(Row("F", p, null, if (merged.isEmpty) null else merged))
        }
      }
    val tailLive: Seq[String] = st.files match {
      case dfl: DeferredFiles => dfl.tailAdded
      case pf => pf.filter(tailAdded)
    }
    val tailRows = checkpointEntryRows(st.copy(
      files = EagerFiles(tailLive),
      history = histTail,
      stats = st.stats.view.filterKeys(tailAdded).toMap,
      dvs = EagerDvs(dvTail), // deferred: tail only (old V rows ride the job)
      dvHistory = vhTail,     // same: old VH/CF rows ride the job
      cdc = cfTail))
    val tailRdd = spark.sparkContext.parallelize(
      tailRows, math.max(1, math.min(32, tailRows.size / 100000)))
    spark.createDataFrame(oldKept.union(tailRdd), CpEntrySchema)
      .write.parquet(dir.toString)
  }

  /** Incremental (lazy-state) columnar checkpoint writes since JVM
    * start — the spec pins that an interval checkpoint folded from a
    * lazy state takes this path instead of an eager re-resolve.
    * Observability only. */
  private[graft] val checkpointIncrementalWrites =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Delete every parquet entries directory of `version` except `keep` —
    * leftovers of CRASHED writes at this version (the stub rename is the
    * commit point, so an unreferenced directory no reader could have
    * learned of is provably dead). Best-effort. The RETENTION overwrite
    * does NOT take this path — it retires with a grace marker
    * ([[retireStaleEntryDirs]]) because a live reader may hold a
    * deferred list over the replaced directory. */
  private def dropStaleEntryDirs(fs: FileSystem, root: Path, version: Long,
      keep: Option[Path], claimGraceMs: Long): Unit = {
    val log = logDir(root)
    if (!fs.exists(log)) return
    fs.listStatus(log).toSeq.map(_.getPath)
      .filter(p => pqEntriesVersion(p.getName).contains(version))
      .filterNot(p => keep.exists(_.getName == p.getName))
      // a CONCURRENT same-version checkpointer's in-flight dir carries
      // its LIVE in-progress claim — leave it; if that writer loses the
      // stub race its own cleanup reclaims the pair. An EXPIRED claim
      // (a hard-crashed writer: in-process failures delete theirs) is
      // no claim — the dir reclaims here like any crashed attempt.
      .filterNot { p =>
        val cutoff = System.currentTimeMillis() - claimGraceMs
        try fs.getFileStatus(inProgressMarker(log, p.getName))
          .getModificationTime >= cutoff
        catch { case _: java.io.FileNotFoundException => false }
      }
      .foreach { p =>
        fs.delete(p, true)
        fs.delete(inProgressMarker(log, p.getName), false) // expired claim
      }
  }

  /** Reader grace for REPLACED checkpoint entries directories: a
    * retention cut that overwrites a checkpoint leaves the old entries
    * dir on disk for this window — marked, not deleted — so a live
    * reader's deferred path/dv list still materializes (Delta retains
    * replaced checkpoints briefly for exactly this reader-vs-VACUUM
    * race); the NEXT maintenance pass reclaims expired ones
    * ([[sweepStaleEntryDirs]]). 0 = reclaim on the very next pass. */
  val ReplacedEntriesGraceMsDefault: Long = 15L * 60 * 1000

  private[graft] val ReplacedEntriesGraceMsKey =
    "spark.graft.lake.checkpoint.replacedEntriesGraceMs"

  private[graft] def replacedEntriesGraceMs(spark: SparkSession): Long =
    spark.conf.getOption(ReplacedEntriesGraceMsKey)
      .map(_.toLong).getOrElse(ReplacedEntriesGraceMsDefault)

  private def retiredMarker(log: Path, dirName: String): Path =
    new Path(log, dirName + ".retired")

  /** A COLUMNAR WRITER'S claim on its entries directory: created before
    * the first entries task writes, re-touched at the stub-rename commit
    * point, deleted once the stub lands (or the attempt is cleaned up).
    * A live marker excludes the directory from every reclaim pass — the
    * top dir's mtime freezes at its first child, so without the claim a
    * writer stalling longer than the grace between its last task write
    * and the stub rename could have the directory swept mid-flight. A
    * crashed writer's marker ages out with its directory. */
  private def inProgressMarker(log: Path, dirName: String): Path =
    new Path(log, dirName + ".inprogress")

  /** Mark every non-`keep` entries directory of `version` RETIRED
    * instead of deleting it: the zero-byte marker's mtime records the
    * REPLACEMENT time (the dir's own mtime records its creation, which
    * may be arbitrarily old), and [[sweepStaleEntryDirs]] reclaims the
    * pair once the reader grace window has elapsed from that point. */
  private def retireStaleEntryDirs(fs: FileSystem, root: Path, version: Long,
      keep: Option[Path]): Unit = {
    val log = logDir(root)
    if (!fs.exists(log)) return
    fs.listStatus(log).toSeq.map(_.getPath)
      .filter(p => pqEntriesVersion(p.getName).contains(version))
      .filterNot(p => keep.exists(_.getName == p.getName))
      .foreach { p =>
        val m = retiredMarker(log, p.getName)
        if (!fs.exists(m)) fs.create(m, false).close()
      }
  }

  /** The maintenance-pass half of the reader grace: delete every
    * RETIRED entries directory whose marker is older than `graceMs`
    * (the marker mtime IS the replacement time), plus any UNREFERENCED
    * unmarked directory older than the window by its own mtime (a
    * crashed write's leftover — a mid-write concurrent checkpointer's
    * dir is younger than any sane grace). Referenced = named by the
    * version's live checkpoint stub (one O(KB) header read per
    * version that still has stale dirs). */
  private def sweepStaleEntryDirs(spark: SparkSession, fs: FileSystem,
      root: Path, minAgeMs: Long): Seq[String] = {
    val log = logDir(root)
    if (!fs.exists(log)) return Seq.empty
    // the caller's in-flight-writer grace can only WIDEN the reader
    // window (one rule, both maintenance passes)
    val graceMs = math.max(minAgeMs, replacedEntriesGraceMs(spark))
    val cutoff = System.currentTimeMillis() - graceMs
    val all = fs.listStatus(log).toSeq
    val markerMtime: Map[String, Long] = all.iterator
      .filter(_.getPath.getName.endsWith(".retired"))
      .map(st => st.getPath.getName.stripSuffix(".retired") ->
        st.getModificationTime).toMap
    // a LIVE in-progress marker ([[inProgressMarker]]) is a writer's
    // claim: its directory is excluded from this pass outright (the
    // writer re-touches the marker at its commit point; a crashed
    // writer's marker expires by mtime and the pair reclaims together)
    val inProgress: Map[String, Long] = all.iterator
      .filter(_.getPath.getName.endsWith(".inprogress"))
      .map(st => st.getPath.getName.stripSuffix(".inprogress") ->
        st.getModificationTime).toMap
    // DANGLING markers (dir already reclaimed — e.g. a crash between
    // the dir and marker deletes) expire by their own mtime
    val dirNames = all.iterator.map(_.getPath.getName)
      .filter(n => pqEntriesVersion(n).isDefined).toSet
    markerMtime.foreach { case (n, m) =>
      if (!dirNames(n) && m < cutoff) fs.delete(retiredMarker(log, n), false)
    }
    inProgress.foreach { case (n, m) =>
      if (!dirNames(n) && m < cutoff) fs.delete(inProgressMarker(log, n), false)
    }
    val candidates = all.filter { st =>
      val n = st.getPath.getName
      pqEntriesVersion(n).isDefined &&
        inProgress.get(n).forall(_ < cutoff) &&
        markerMtime.get(n).getOrElse(st.getModificationTime) < cutoff
    }.filter { st =>
      // an UNMARKED candidate may be a CONCURRENT writer's in-flight
      // entries job (the top dir's mtime freezes at its first child;
      // the stub lands only at commit): judge it by the NEWEST mtime
      // anywhere in the subtree — a task actively writing keeps it
      // alive. The walk is bounded by crashed attempts, never corpus.
      markerMtime.contains(st.getPath.getName) ||
        newestMtime(fs, st.getPath) < cutoff
    }
    if (candidates.isEmpty) return Seq.empty
    val referenced: Set[String] = candidates
      .flatMap(st => pqEntriesVersion(st.getPath.getName)).distinct
      .flatMap { v =>
        val cp = new Path(log, checkpointName(v))
        if (!fs.exists(cp)) None
        else readLogFile(fs, cp).split('\n')
          .find(_.startsWith("PQ\t")).map(l => dec(l.split('\t')(1)))
      }.toSet
    candidates.map(_.getPath).filterNot(p => referenced(p.getName)).flatMap { p =>
      // FINAL per-dir re-check at the delete point: the listing and the
      // batch referenced-check above are a stale snapshot by now — a
      // writer that was stalled past the grace may have RESUMED, and
      // either its re-touched claim or its just-renamed stub must win
      // over this sweep. Shrinks the race window from sweep-duration to
      // the µs between this check and the delete (the writer's own
      // post-rename verify covers that residue from the other side).
      val claimLive =
        try fs.getFileStatus(inProgressMarker(log, p.getName))
          .getModificationTime >= cutoff
        catch { case _: java.io.FileNotFoundException => false }
      val nowReferenced = pqEntriesVersion(p.getName).exists { v =>
        val cp = new Path(log, checkpointName(v))
        fs.exists(cp) && readLogFile(fs, cp).split('\n')
          .find(_.startsWith("PQ\t")).exists(l => dec(l.split('\t')(1)) == p.getName)
      }
      if (claimLive || nowReferenced) None
      else {
        fs.delete(p, true)
        fs.delete(retiredMarker(log, p.getName), false)
        fs.delete(inProgressMarker(log, p.getName), false) // crashed writer's claim
        Some(s"$LogDirName/${p.getName}") // lakeDir-relative, like every dead list
      }
    }
  }

  /** Force a checkpoint at the LATEST committed version without waiting
    * for the [[CheckpointInterval]] grid — the Iceberg
    * `rewrite_manifests` / Delta checkpoint-now operational lever: after
    * a bulk ingest lands as many small commits, every reader resolves
    * one checkpoint load (columnar above the entries threshold) plus
    * zero deltas instead of replaying the tail. Idempotent: a version
    * that already has a checkpoint returns `(version, false)`. */
  def checkpointNow(spark: SparkSession, lakeDir: String): (Long, Boolean) = {
    val st = latestManifest(spark, lakeDir).getOrElse(
      throw new IllegalArgumentException(
        s"checkpoint: $lakeDir has no committed manifest"))
    val (fs, root) = fsRoot(spark, lakeDir)
    val target = new Path(logDir(root), checkpointName(st.version))
    if (fs.exists(target)) (st.version, false)
    else {
      writeCheckpoint(spark, fs, root, st)
      (st.version, true)
    }
  }

  /** Delete data files — the post-publish reclaim of superseded files
    * and the abort path's staged-file cleanup. A batch at corpus scale
    * (a whole-lake compact's pre-image set) distributes through
    * [[reclaimPaths]]; small batches keep the serial loop (two job
    * launches cost more than a dozen deletes). */
  private[graft] def deleteFiles(spark: SparkSession, lakeDir: String, files: Seq[String]): Unit =
    reclaimPaths(spark, lakeDir, files.map(_ -> false),
      distribute = files.size >= vacuumDistributeMin(spark))

  // ------------------------------------------------------------------
  // Distributed maintenance primitives (the Delta VACUUM shape: the
  // driver keeps the manifest diff; listing and deleting run as jobs)
  // ------------------------------------------------------------------

  /** Live-file count at or above which [[vacuum]]/[[vacuumKeeping]]
    * distribute their tree listing and their deletes as Spark jobs —
    * below it the serial driver loop is cheaper than two job launches.
    * The gate reads the MANIFEST's live count (known before any
    * listing), the honest proxy for corpus size: at 10^6-10^7 files a
    * serial recursive listing plus per-file delete round-trips is hours
    * of driver wall-clock; distributed, both are O(files/executors). */
  val VacuumDistributeMinDefault = 512

  private[graft] val VacuumDistributeMinKey =
    "spark.graft.lake.vacuum.distributeMinFiles"

  private[graft] def vacuumDistributeMin(spark: SparkSession): Int =
    spark.conf.getOption(VacuumDistributeMinKey)
      .map(_.toInt).getOrElse(VacuumDistributeMinDefault)

  /** Driver-side filesystem calls made by the maintenance sweeps
    * ([[vacuum]] / [[vacuumKeeping]]) since JVM start — the distribution
    * spec pins that on a many-file lake this is bounded by DIRECTORIES
    * (one top-level listing, one bulk status call per fixed sidecar
    * root), never by files. Observability only. */
  private[graft] val vacuumDriverFsOps =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private def vOp[T](t: => T): T = { vacuumDriverFsOps.incrementAndGet(); t }

  /** `(relPath, mtime)` inventory of the lake's qualifying parquet data
    * files. `distribute = true` runs each top-level directory's
    * recursive walk INSIDE a task (the Delta VACUUM parallel-listing
    * shape) — the driver lists only the lake root, and every file's
    * mtime rides back WITH the listing so grace-period checks never
    * re-stat. Serial mode walks on the driver exactly like
    * [[listDataFiles]], still carrying mtimes from the same iterator. */
  private def dataFileInventory(spark: SparkSession, lakeDir: String,
      distribute: Boolean): Seq[(String, Long)] =
    inventoryParts(spark, lakeDir, distribute) match {
      case None => Seq.empty
      case Some((driverSide, jobSide)) =>
        (driverSide ++ jobSide.fold(Seq.empty[(String, Long)])(_.collect().toSeq))
          .distinct.sortBy(_._1)
    }

  /** The inventory split at the driver/job boundary: root-resident and
    * second-level-expansion files stay driver-side (they rode back with
    * the driver's own bounded listings), the recursive subtree walk
    * stays an RDD so callers can DIFF against the checkpoint entries
    * inside the job and collect orphans only ([[orphanDataFiles]]) —
    * or collect everything ([[dataFileInventory]]). None = no lake
    * root. */
  private def inventoryParts(spark: SparkSession, lakeDir: String,
      distribute: Boolean): Option[(Seq[(String, Long)],
        Option[org.apache.spark.rdd.RDD[(String, Long)]])] = {
    val (fs, root) = fsRoot(spark, lakeDir)
    if (!vOp(fs.exists(root))) return None
    val qroot = fs.makeQualified(root)
    def keep(rel: String): Boolean =
      rel.endsWith(".parquet") &&
        !rel.split('/').exists(s => s.startsWith("_") || s.startsWith("."))
    val top = vOp(fs.listStatus(root)).toSeq
      .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
    val (dirs, rootFiles) = top.partition(_.isDirectory)
    val out = Seq.newBuilder[(String, Long)]
    rootFiles.foreach { s =>
      val rel = relativize(qroot, fs.makeQualified(s.getPath))
      if (keep(rel)) out += rel -> s.getModificationTime
    }
    if (dirs.nonEmpty && !distribute) {
      dirs.foreach { d =>
        val it = vOp(fs.listFiles(d.getPath, true))
        while (it.hasNext) {
          val st = it.next()
          val rel = relativize(qroot, fs.makeQualified(st.getPath))
          if (keep(rel)) out += rel -> st.getModificationTime
        }
      }
      Some((out.result().distinct.sortBy(_._1), None))
    } else if (dirs.nonEmpty) {
      val taskConf = TaskHadoopConf(spark)
      val rootPrefix = qroot.toUri.getPath.stripSuffix("/")
      val par = spark.sparkContext.defaultParallelism
      def recursiveRdd(dirStrs: Seq[String]): org.apache.spark.rdd.RDD[(String, Long)] = {
        inventoryListTasks.addAndGet(math.min(dirStrs.size, par).toLong)
        spark.sparkContext
          .parallelize(dirStrs, math.min(dirStrs.size, par))
          .flatMap { dir =>
            val p = new Path(dir)
            val tfs = p.getFileSystem(taskConf.value)
            val b = Seq.newBuilder[(String, Long)]
            val it = tfs.listFiles(p, true)
            while (it.hasNext) {
              val st = it.next()
              val fp = tfs.makeQualified(st.getPath).toUri.getPath
              if (fp.startsWith(rootPrefix + "/")) {
                val rel = fp.substring(rootPrefix.length + 1)
                if (keep(rel)) b += rel -> st.getModificationTime
              }
              // a file outside the root prefix can only appear through a
              // symlink-style FS quirk; the serial path REFUSES there —
              // match it rather than silently skipping
              else throw new IllegalStateException(
                s"$fp is not under lake root $rootPrefix")
            }
            b.result()
          }
      }
      if (dirs.size >= par)
        Some((out.result(), Some(recursiveRdd(dirs.map(_.getPath.toString)))))
      else {
        // SECOND-LEVEL fan-out: a lake partitioned split=.../... has a
        // handful of top-level dirs — one hot split would ride a single
        // straggler task. When the top-level count can't fill the
        // cluster, a first SINGLE-LEVEL listing job expands the
        // children (zero extra DRIVER filesystem calls — the
        // directory-bounded driver-op budget holds), and the recursive
        // walk distributes over them at cluster width.
        val topStrs = dirs.map(_.getPath.toString)
        inventoryListTasks.addAndGet(math.min(topStrs.size, par).toLong)
        // cached across its two consumers (the dir collect and the file
        // union) so the top dirs list once, not twice; the ContextCleaner
        // unpersists it with the RDD once the sweep's job is done
        val levelOneRdd: org.apache.spark.rdd.RDD[(String, Boolean, Long)] =
          spark.sparkContext
            .parallelize(topStrs, math.min(topStrs.size, par))
            .flatMap { dir =>
              val p = new Path(dir)
              val tfs = p.getFileSystem(taskConf.value)
              tfs.listStatus(p).toSeq.map(s => (tfs.makeQualified(s.getPath)
                .toUri.getPath, s.isDirectory, s.getModificationTime))
            }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // only the CHILD DIRECTORIES come back to the driver (bounded by
        // the partition tree's fan-out); level-1 FILES stay in the job —
        // a lake whose data files sit directly under a few top-level
        // dirs (split=train/part-*.parquet) must not materialize its
        // corpus on the driver HERE of all places. Hidden subtrees skip
        // the walk outright — `keep` would reject every file under them.
        val walkable = levelOneRdd.filter(_._2).map(_._1).collect()
          .iterator.filterNot { d =>
            val n = d.substring(d.lastIndexOf('/') + 1)
            n.startsWith("_") || n.startsWith(".")
          }.toSeq
        val level1Files: org.apache.spark.rdd.RDD[(String, Long)] =
          levelOneRdd.flatMap { case (fp, isDir, mtime) =>
            if (isDir) None
            else if (fp.startsWith(rootPrefix + "/")) {
              val rel = fp.substring(rootPrefix.length + 1)
              if (keep(rel)) Some(rel -> mtime) else None
            } else throw new IllegalStateException(
              s"$fp is not under lake root $rootPrefix")
          }
        val jobRdd =
          if (walkable.isEmpty) level1Files
          else level1Files.union(recursiveRdd(walkable))
        Some((out.result(), Some(jobRdd)))
      }
    } else Some((out.result().distinct.sortBy(_._1), None))
  }

  /** The crash-orphan data files of a PATH-LAZY lake, with the diff run
    * INSIDE the job: the distributed inventory subtracts the checkpoint
    * entries' F rows (the referenced residents — post-checkpoint
    * removals included, since those ride the state's history anyway)
    * and H rows (checkpoint-time history) by key, plus a driver-shipped
    * set of the remaining references (the post-checkpoint tail adds and
    * history — O(tail), never the corpus), so the driver collects
    * ORPHANS only: never the corpus inventory and never a materialized
    * live list. The Delta VACUUM diff as a join, not a driver set. */
  private def orphanDataFiles(spark: SparkSession, lakeDir: String,
      entriesDir: String, extraLive: Set[String],
      cutoff: Long, minAgeMs: Long): Seq[String] =
    inventoryParts(spark, lakeDir, distribute = true) match {
      case None => Seq.empty
      case Some((driverSide, jobSide)) =>
        val inv = jobSide match {
          case None => spark.sparkContext.parallelize(driverSide, 1)
          case Some(rdd) =>
            if (driverSide.isEmpty) rdd
            else rdd.union(spark.sparkContext.parallelize(driverSide, 1))
        }
        val referenced = spark.read.schema(StructType(CpEntrySchema.take(2)))
          .parquet(entriesDir).rdd.flatMap { r =>
            val k = r.getString(0)
            if (k == "F" || k == "H") Some((r.getString(1), ())) else None
          }
        val extra = extraLive
        inv.distinct()
          .subtractByKey(referenced)
          .filter { case (f, mtime) =>
            !extra(f) && (minAgeMs <= 0 || mtime <= cutoff) }
          .keys.collect().toSeq.sorted
    }

  /** A state's LIVE PATHS as an RDD without materializing them on the
    * driver: deferred lists read their checkpoint's F rows (tail
    * removals excluded by sorted-array membership, tail adds unioned
    * in); eager lists — small by the path-lazy policy — parallelize.
    * The device that lets two-state diffs ([[restore]]) run as
    * subtract-jobs collecting O(diff), the Delta `filesForScan` shape. */
  private def statePathsRdd(spark: SparkSession,
      files: LiveFiles): org.apache.spark.rdd.RDD[String] = files match {
    case dfl: DeferredFiles =>
      val removedArr: Array[String] = dfl.tailRemoved.toArray.sorted
      val fromEntries = spark.read
        .schema(StructType(CpEntrySchema.take(2)))
        .parquet(dfl.entriesDir).rdd.flatMap { r =>
          if (r.getString(0) != "F") None
          else {
            val p = r.getString(1)
            if (removedArr.nonEmpty && java.util.Arrays.binarySearch(
                removedArr.asInstanceOf[Array[AnyRef]], p) >= 0) None
            else Some(p)
          }
        }
      if (dfl.tailAdded.isEmpty) fromEntries
      else fromEntries.union(
        spark.sparkContext.parallelize(dfl.tailAdded, 1))
    case pf => spark.sparkContext.parallelize(pf.toSeq,
      math.max(1, math.min(8, pf.length / 100000)))
  }

  /** Compaction's candidate census WITHOUT materializing a path-lazy
    * state: a dir can only need compacting if its RAW file count clears
    * the cap or it holds a dv'd file, so qualified dirs are found inside
    * a job over the live paths and only their SUBTREE files return to
    * the driver — O(candidate files), never O(corpus). Returns (the
    * qualified dirs' exact-dir file groups, their subtree files — the
    * [[filesUnder]] equivalent — and dv'd-file membership among them).
    * Eager states keep the pure-driver census: below the lazy thresholds
    * a groupBy of a few MB of paths beats two jobs. */
  private[graft] def compactionCensus(spark: SparkSession, st: LakeState,
      maxFilesPerPartition: Int)
      : (Map[String, Seq[String]], Seq[String], String => Boolean) = {
    st.files match {
      case dfl: DeferredFiles if dfl.cachedOrNull == null =>
        dvScopedJobs.incrementAndGet()
        val paths = statePathsRdd(spark, st.files)
        val dvFilesRdd: org.apache.spark.rdd.RDD[String] = st.dvs match {
          case dd: DeferredDvs if dd.cachedOrNull == null =>
            if (dd.cheapIsEmpty.contains(true))
              spark.sparkContext.emptyRDD[String]
            else dvPairsRdd(spark, dd).keys.distinct()
          case m => spark.sparkContext.parallelize(m.keys.toSeq,
            math.max(1, math.min(8, m.size / 100000)))
        }
        val cap = maxFilesPerPartition.toLong
        val overCap = paths.map(f => (dirOfFile(f), 1L)).reduceByKey(_ + _)
          .flatMap { case (d, n) => if (d.nonEmpty && n > cap) Some(d) else None }
        val dvDirs = dvFilesRdd.map(dirOfFile).filter(_.nonEmpty).distinct()
        val qualified = overCap.union(dvDirs).distinct().collect().sorted
        if (qualified.isEmpty) (Map.empty, Seq.empty, _ => false)
        else {
          val bq = spark.sparkContext.broadcast(qualified.toSet)
          // subtree membership: any ANCESTOR dir qualified (the
          // filesUnder prefix shape), walked per file in O(depth)
          def underQualified(f: String): Boolean = {
            var d = dirOfFile(f)
            var hit = false
            while (!hit && d.nonEmpty) { hit = bq.value(d); if (!hit) d = dirOfFile(d) }
            hit
          }
          val (subtree, dvd) =
            try {
              (paths.filter(underQualified).collect().toSeq.sorted,
                dvFilesRdd.filter(underQualified).collect().toSet)
            } finally bq.destroy() // even when a consumer job fails
          val qSet = qualified.toSet
          val byDir = subtree.groupBy(dirOfFile).filter { case (d, _) => qSet(d) }
          (byDir, subtree, dvd)
        }
      case _ =>
        // dv membership resolved once up front when the ATTACHMENT map
        // is deferred under an eager path list (possible: pairs clear
        // the dv threshold while files sit under the path one)
        val dvd: String => Boolean = st.dvs match {
          case dd: DeferredDvs if dd.cachedOrNull == null =>
            dvsFor(spark, dd, st.files).keySet
          case m => m.contains _
        }
        val byDir = st.files.groupBy(dirOfFile)
          .filter { case (d, fs) => d.nonEmpty &&
            (fs.size > maxFilesPerPartition || fs.exists(dvd)) }
        (byDir, filesUnder(st.files, byDir.keys.toSeq), dvd)
    }
  }

  /** The subset of `names` that are F-row residents of `entriesDir` —
    * one bounded membership job. The exact-liveness device for restate
    * filters on a PATH-LAZY rebase: a name that is neither tail-resolved
    * nor a resident died BELOW the checkpoint, which the driver-side
    * tails alone cannot prove. */
  private def residentsAmong(spark: SparkSession, entriesDir: String,
      names: Seq[String]): Set[String] =
    if (names.isEmpty) Set.empty
    else {
      val wanted: Array[String] = names.toArray.sorted
      spark.read.schema(StructType(CpEntrySchema.take(2)))
        .parquet(entriesDir).rdd.flatMap { r =>
          if (r.getString(0) != "F") None
          else {
            val p = r.getString(1)
            if (java.util.Arrays.binarySearch(
                wanted.asInstanceOf[Array[AnyRef]], p) >= 0) Some(p) else None
          }
        }.collect().toSet
    }

  /** Per-file stats for `paths` of a possibly STATS-LAZY state: driver
    * entries (tail adds + restate overlays) win per column over the
    * checkpoint entries' recorded rows (exactly [[mergeStatCols]]),
    * fetched in ONE job filtered to the requested paths — O(paths)
    * driver traffic at any corpus size. Keyed on `cpLazy`, NOT on the
    * file-list representation: a lazily-resolved state below the
    * path-lazy threshold materializes its PATHS eagerly while its
    * checkpoint residents' STATS still live only in the entries — the
    * restore path uses this to re-record the re-added files' stats
    * without an eager resolve, at either laziness grade. */
  private def statsForPaths(spark: SparkSession, st: LakeState,
      paths: Seq[String]): Map[String, Seq[ColStat]] = st.cpLazy match {
    case Some(lz) if paths.nonEmpty =>
      val wanted: Array[String] = paths.toArray.sorted
      val fromEntries: Map[String, Seq[ColStat]] = spark.read
        .schema(StructType(CpEntrySchema))
        .parquet(lz.entriesDir).rdd.flatMap { r =>
          if (r.getString(0) != "F" || r.isNullAt(3)) None
          else {
            val p = r.getString(1)
            if (java.util.Arrays.binarySearch(
                wanted.asInstanceOf[Array[AnyRef]], p) < 0) None
            else Some(p -> r.getSeq[org.apache.spark.sql.Row](3)
              .map(s => ColStat(s.getString(0), s.getString(1), s.getString(2)))
              .toSeq)
          }
        }.collect().toMap
      val pathSet = paths.toSet
      val overlay = st.stats.view.filterKeys(pathSet).toMap
      (fromEntries.keySet ++ overlay.keySet).iterator.map { p =>
        p -> mergeStatCols(fromEntries.getOrElse(p, Seq.empty),
          overlay.getOrElse(p, Seq.empty))
      }.filter(_._2.nonEmpty).toMap
    case _ => st.stats.view.filterKeys(paths.toSet).toMap
  }

  /** Listing-task count scheduled by [[dataFileInventory]]'s distributed
    * walks since JVM start — the fan-out spec pins that a skewed tree
    * (few top-level dirs, many children) schedules at least
    * min(level-2 dirs, parallelism) walk tasks instead of one straggler
    * per top-level dir. Observability only. */
  private[graft] val inventoryListTasks =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Delete lake-relative paths — `(rel, recursive)` pairs — in a Spark
    * job when `distribute` and the batch is large, serially otherwise.
    * Deletes are idempotent (a missing path is a no-op), so a retried
    * task re-deleting its partition is harmless. */
  private def reclaimPaths(spark: SparkSession, lakeDir: String,
      entries: Seq[(String, Boolean)], distribute: Boolean): Unit = {
    if (entries.isEmpty) return
    val (fs, root) = fsRoot(spark, lakeDir)
    if (!distribute) {
      entries.foreach { case (rel, rec) => vOp(fs.delete(new Path(root, rel), rec)) }
    } else {
      val taskConf = TaskHadoopConf(spark)
      val rootStr = fs.makeQualified(root).toString
      spark.sparkContext
        .parallelize(entries, math.min(
          1 + entries.size / 1000, spark.sparkContext.defaultParallelism))
        .foreachPartition { it =>
          val r = new Path(rootStr)
          val tfs = r.getFileSystem(taskConf.value)
          it.foreach { case (rel, rec) => tfs.delete(new Path(r, rel), rec) }
        }
    }
  }

  /** Total on-disk bytes of the given lake files (driver-side statting,
    * bounded by the caller's affected set — used to translate a byte
    * sizing target into a row target from observed bytes/row). */
  private[graft] def fileBytes(spark: SparkSession, lakeDir: String, files: Seq[String]): Long = {
    val (fs, root) = fsRoot(spark, lakeDir)
    files.map(f => fs.getFileStatus(new Path(root, f)).getLen).sum
  }

  /** The recorded [[BytesStatName]] size of one file — the
    * zero-round-trip answer every manifest-resolved planner prefers;
    * None for pre-capture files (callers fall back to a filesystem
    * stat). */
  private[graft] def statBytesOf(st: LakeState, f: String): Option[Long] =
    st.stats.getOrElse(f, Seq.empty).find(_.col == BytesStatName)
      .flatMap(_.min.toLongOption)

  /** Total bytes of `files`, preferring recorded sizes — only files the
    * manifest has not sized pay a filesystem round-trip. LAZY-AWARE:
    * a lazily-resolved state answers its checkpoint residents from one
    * job over the parquet entries ([[reservedTotals]]), so size pricing
    * keeps its exact numbers with zero driver stats under the mode. */
  private[graft] def fileBytes(spark: SparkSession, lakeDir: String,
      files: Seq[String], st: LakeState): Long = {
    val (_, bytes, unsized) = reservedTotals(spark, st, files)
    bytes + (if (unsized.isEmpty) 0L else fileBytes(spark, lakeDir, unsized))
  }

  /** Aggregate RECORDED reserved stats (`#rows`, `#bytes`) over `files`,
    * lazy-aware: files whose stats are driver-resident (tail-delta adds,
    * restates, every file of an eager state) answer from `st.stats`; a
    * lazily-resolved state's checkpoint residents aggregate inside ONE
    * Spark job over the parquet entries — only three numbers and the
    * (typically empty) uncaptured-file list return to the driver, never
    * the stats rows. Returns `(rowsTotal, bytesTotal, unsized)`:
    * `rowsTotal` is `Some(sum)` iff EVERY requested file records
    * `#rows`; `bytesTotal` sums the files that record `#bytes`; `unsized`
    * lists the files that don't (the caller's filesystem fallback).
    * The same conservative degradation as [[pruneLazy]]: a checkpoint
    * file RESTATED by a tail delta is driver-judged on its partial
    * restated row, so its reserved stats read as uncaptured until the
    * next checkpoint — pessimistic, never wrong. */
  private[graft] def reservedTotals(spark: SparkSession, st: LakeState,
      files: Seq[String]): (Option[Long], Long, Seq[String]) = {
    def driverSide(fs: Seq[String]): (Option[Long], Long, Seq[String]) = {
      var rows = 0L; var rowsOk = true; var bytes = 0L
      val unsized = Seq.newBuilder[String]
      fs.foreach { f =>
        val cs = st.stats.getOrElse(f, Seq.empty)
        cs.find(_.col == RowsStatName).flatMap(_.min.toLongOption) match {
          case Some(n) => rows += n
          case None => rowsOk = false
        }
        cs.find(_.col == BytesStatName).flatMap(_.min.toLongOption) match {
          case Some(b) => bytes += b
          case None => unsized += f
        }
      }
      (if (rowsOk) Some(rows) else None, bytes, unsized.result())
    }
    st.cpLazy match {
      case None => driverSide(files)
      case Some(lz) if st.files.isInstanceOf[DeferredFiles] &&
          (files eq st.files) =>
        // WHOLE-TABLE pricing on a PATH-LAZY state — recognized by
        // REFERENCE (the request is the live list itself), so coverage
        // is structural and no resident ever needs enumerating
        val dfl = st.files.asInstanceOf[DeferredFiles]
        val tailSet = dfl.tailAdded.toSet
        val restated = st.stats.keySet -- tailSet // ⊆ residents
        val (lRows, lBytes, lUnsized) =
          driverSide(dfl.tailAdded ++ restated.toSeq.sorted)
        // ZERO-JOB: the stub's DC flag proves every resident resolves
        // to a rollup key carrying both sums; nothing removed, nothing
        // restated — the totals are O(keys) driver-resident adds
        if (lz.sumsComplete && dfl.tailRemoved.isEmpty && restated.isEmpty) {
          val rowSums = lz.dirStats.valuesIterator.map(
            _.find(_.col == RowsStatName).flatMap(_.min.toLongOption)).toSeq
          val byteSums = lz.dirStats.valuesIterator.map(
            _.find(_.col == BytesStatName).flatMap(_.min.toLongOption)).toSeq
          if (lz.dirStats.nonEmpty && rowSums.forall(_.isDefined) &&
              byteSums.forall(_.isDefined)) {
            return (for (a <- lRows) yield a + rowSums.flatten.sum,
              lBytes + byteSums.flatten.sum, lUnsized)
          }
        }
        // fallback: ONE aggregation job over all live residents —
        // blacklist membership (dead residents + restated rows judged
        // on the driver above), O(removed + restated) task state
        lazyPriceJobs.incrementAndGet()
        val excludeArr = (dfl.tailRemoved ++ restated).toArray.sorted
        val rn = RowsStatName; val bn = BytesStatName
        val (matched, cRowsOpt, cBytes, cUnsized) =
          spark.read.schema(CpEntrySchema).parquet(dfl.entriesDir).rdd
            .mapPartitions { it =>
              var m = 0L; var rows = 0L; var rowsOk = true; var bytes = 0L
              val un = Seq.newBuilder[String]
              it.foreach { r =>
                if (r.getString(0) == "F" &&
                    !(excludeArr.nonEmpty && java.util.Arrays.binarySearch(
                      excludeArr.asInstanceOf[Array[AnyRef]], r.getString(1)) >= 0)) {
                  m += 1
                  val cs: Seq[org.apache.spark.sql.Row] =
                    if (r.isNullAt(3)) Seq.empty else r.getSeq(3)
                  cs.find(_.getString(0) == rn)
                    .flatMap(_.getString(1).toLongOption) match {
                    case Some(n) => rows += n
                    case None => rowsOk = false
                  }
                  cs.find(_.getString(0) == bn)
                    .flatMap(_.getString(1).toLongOption) match {
                    case Some(b) => bytes += b
                    case None => un += r.getString(1)
                  }
                }
              }
              Iterator.single((m, if (rowsOk) Some(rows) else None, bytes, un.result()))
            }.fold((0L, Some(0L): Option[Long], 0L, Seq.empty[String])) {
              case ((m1, r1, b1, u1), (m2, r2, b2, u2)) =>
                (m1 + m2, for (a <- r1; b <- r2) yield a + b, b1 + b2, u1 ++ u2)
            }
        val expectedResidents =
          dfl.cpResidents - dfl.tailRemoved.size - restated.size
        if (matched != expectedResidents)
          throw new IllegalStateException(
            s"lazy reserved-stats aggregation is torn: entries ${dfl.entriesDir} " +
              s"matched $matched of $expectedResidents checkpoint-resident files")
        (for (a <- lRows; b <- cRowsOpt) yield a + b,
          lBytes + cBytes, lUnsized ++ cUnsized)
      case Some(lz) =>
        val entriesDir = lz.entriesDir
        val tailAdded = lz.tailAdded
        val driverJudged: Set[String] = st.stats.keySet ++ tailAdded
        val (local, cpResident) = files.partition(driverJudged)
        val (lRows, lBytes, lUnsized) = driverSide(local)
        if (cpResident.isEmpty) return (lRows, lBytes, lUnsized)
        // ZERO-JOB fast path — the whole-table pricing shape (DSv2
        // sizeInBytes with no pruning): the request covers every
        // checkpoint resident, no restate muddies the membership, and
        // every resident directory carries reserved SUMS untouched by
        // tail removals — the totals are O(dirs) driver-resident adds
        if (st.stats.keySet.forall(tailAdded) &&
            !st.files.isInstanceOf[DeferredFiles]) {
          val residents = st.files.filterNot(tailAdded)
          if (cpResident.toSet == residents.toSet) {
            // resolve each resident directory to its ROLLUP KEY (the
            // rollups may be hierarchically folded to prefix grains) —
            // each key's sum counts exactly the residents resolving to
            // it, and the key set dedupes, so the totals add once
            val rollupKeys = lz.dirStats.keySet
            val dirs = residents.iterator.map(dirOfFile).toSet
            val keyOf: Map[String, Option[String]] =
              dirs.iterator.map(d => d -> (if (d.isEmpty) None
                else rollupKeyOf(rollupKeys, d))).toMap
            if (dirs.nonEmpty && keyOf.valuesIterator.forall(_.isDefined)) {
              val removedKeys = lz.tailRemoved.flatMap(f =>
                rollupKeyOf(rollupKeys, dirOfFile(f)))
              val keys = keyOf.valuesIterator.flatten.toSet
              def keySum(k: String, n: String): Option[Long] =
                if (removedKeys(k)) None
                else lz.dirStats.get(k)
                  .flatMap(_.find(_.col == n)).flatMap(_.min.toLongOption)
              val rowSums = keys.toSeq.map(keySum(_, RowsStatName))
              val byteSums = keys.toSeq.map(keySum(_, BytesStatName))
              if (rowSums.forall(_.isDefined) && byteSums.forall(_.isDefined)) {
                return (for (a <- lRows) yield a + rowSums.flatten.sum,
                  lBytes + byteSums.flatten.sum, lUnsized)
              }
            }
          }
        }
        lazyPriceJobs.incrementAndGet()
        // sorted-array membership instead of a Set broadcast: at 10^6
        // requested paths the array is the compact form and each task
        // binary-searches it. Distinct FIRST: the torn-checkpoint check
        // below counts unique entries rows, so a caller-duplicated path
        // must not inflate the expected count (each file prices once)
        val wanted = cpResident.distinct.toArray.sorted
        val rn = RowsStatName; val bn = BytesStatName
        val (matched, cRowsOpt, cBytes, cUnsized) =
          spark.read.schema(CpEntrySchema).parquet(entriesDir).rdd
            .mapPartitions { it =>
              var m = 0L; var rows = 0L; var rowsOk = true; var bytes = 0L
              val un = Seq.newBuilder[String]
              it.foreach { r =>
                if (r.getString(0) == "F" &&
                    java.util.Arrays.binarySearch(
                      wanted.asInstanceOf[Array[AnyRef]], r.getString(1)) >= 0) {
                  m += 1
                  val cs: Seq[org.apache.spark.sql.Row] =
                    if (r.isNullAt(3)) Seq.empty else r.getSeq(3)
                  cs.find(_.getString(0) == rn)
                    .flatMap(_.getString(1).toLongOption) match {
                    case Some(n) => rows += n
                    case None => rowsOk = false
                  }
                  cs.find(_.getString(0) == bn)
                    .flatMap(_.getString(1).toLongOption) match {
                    case Some(b) => bytes += b
                    case None => un += r.getString(1)
                  }
                }
              }
              Iterator.single((m, if (rowsOk) Some(rows) else None, bytes, un.result()))
            }.fold((0L, Some(0L): Option[Long], 0L, Seq.empty[String])) {
              case ((m1, r1, b1, u1), (m2, r2, b2, u2)) =>
                (m1 + m2, for (a <- r1; b <- r2) yield a + b, b1 + b2, u1 ++ u2)
            }
        if (matched != wanted.length)
          throw new IllegalStateException(
            s"lazy reserved-stats aggregation is torn: entries $entriesDir matched " +
              s"$matched of ${wanted.length} checkpoint-resident files")
        (for (a <- lRows; b <- cRowsOpt) yield a + b,
          lBytes + cBytes, lUnsized ++ cUnsized)
    }
  }

  /** Per-file RECORDED reserved stats (`#rows`, `#bytes`) for `files`,
    * lazy-aware like [[reservedTotals]] but returning the individual
    * numbers — for planners that need them grouped (compaction's
    * per-directory manifest pricing). Driver traffic is O(requested):
    * the caller's file list is already driver-resident, so the collected
    * (path, rows, bytes) triples add a constant factor, never a new
    * asymptote. Absent map values mean "never captured". */
  private[graft] def reservedPerFile(spark: SparkSession, st: LakeState,
      files: Seq[String]): Map[String, (Option[Long], Option[Long])] = {
    def local(f: String): (Option[Long], Option[Long]) = {
      val cs = st.stats.getOrElse(f, Seq.empty)
      (cs.find(_.col == RowsStatName).flatMap(_.min.toLongOption),
        cs.find(_.col == BytesStatName).flatMap(_.min.toLongOption))
    }
    st.cpLazy match {
      case None => files.iterator.map(f => f -> local(f)).toMap
      case Some(lz) =>
        val entriesDir = lz.entriesDir
        val tailAdded = lz.tailAdded
        val driverJudged: Set[String] = st.stats.keySet ++ tailAdded
        val (loc, cpResident) = files.partition(driverJudged)
        val base = loc.iterator.map(f => f -> local(f)).toMap
        if (cpResident.isEmpty) return base
        val wanted = cpResident.distinct.toArray.sorted
        val rn = RowsStatName; val bn = BytesStatName
        val fromJob = spark.read.schema(CpEntrySchema).parquet(entriesDir).rdd
          .flatMap { r =>
            if (r.getString(0) == "F" &&
                java.util.Arrays.binarySearch(
                  wanted.asInstanceOf[Array[AnyRef]], r.getString(1)) >= 0) {
              val cs: Seq[org.apache.spark.sql.Row] =
                if (r.isNullAt(3)) Seq.empty else r.getSeq(3)
              Some((r.getString(1),
                (cs.find(_.getString(0) == rn).flatMap(_.getString(1).toLongOption),
                  cs.find(_.getString(0) == bn).flatMap(_.getString(1).toLongOption))))
            } else None
          }.collect().toMap
        // files the entries somehow missed read as uncaptured (never wrong)
        base ++ cpResident.iterator.map(f =>
          f -> fromJob.getOrElse(f, (None: Option[Long], None: Option[Long])))
    }
  }

  /** Does `ours` project into `theirs` — every field present with the
    * same type? The condition under which our staged files remain valid
    * when rebased onto a concurrently-evolved schema. */
  private def schemaCovers(theirsJson: String, oursJson: String): Boolean = {
    val theirs = DataType.fromJson(theirsJson).asInstanceOf[StructType]
      .map(f => f.name -> f.dataType).toMap
    DataType.fromJson(oursJson).asInstanceOf[StructType]
      .forall(f => theirs.get(f.name).contains(f.dataType))
  }

  /** Audit + commit + vacuum of a staged mutation. The audit gate is the
    * "verify" of write-audit-publish: staged read-back rows must equal the
    * pre-write frame's rows, or the staged files are deleted and the lake
    * is untouched (readers never saw them). Vacuum of the superseded
    * pre-image runs only AFTER the delta lands — a crash between the two
    * leaves invisible orphans, not a corrupt lake. Pass
    * `vacuumSuperseded = false` to retain the pre-image files and keep
    * earlier versions [[readVersion]]-able (storage-for-history; reclaim
    * later with [[vacuumKeeping]]).
    *
    * Raced commits rebase under OCC conflict detection (the Delta Lake
    * discipline — Armbrust et al., VLDB 2020, conflict detection): a
    * commit whose version was taken by another writer re-resolves the
    * latest state and re-commits at the next version (up to `maxRebases`
    * times) IF every interposed commit commutes with it:
    *
    *   - a PURE-ADD mutation (`removedFiles` empty — appends, first
    *     ingests) commutes with everything except a schema change its
    *     staged files cannot project into;
    *   - a REMOVING mutation (delete, compact) commutes with interposed
    *     commits that neither removed any file it removes (its base
    *     would be gone) nor added files INTO the partitions it read —
    *     its staged survivors embed what it read there, so a concurrent
    *     append into another partition lands alongside it, while any
    *     genuine overlap refuses with the staged files abortable. */
  private[graft] def publish(spark: SparkSession, sc: StagedCommit,
      vacuumSuperseded: Boolean = true, maxRebases: Int = 5): Unit = {
    if (sc.stagedRows != sc.expectedRows) {
      abort(spark, sc)
      throw new IllegalStateException(
        s"lake publish audit failed: staged ${sc.stagedRows} rows, " +
          s"expected ${sc.expectedRows} — staged files deleted, lake untouched")
    }
    def parentDir(f: String): String = f.take(f.lastIndexOf('/').max(0))
    val ourRemoved = sc.removedFiles.toSet
    val ourDvTargets = sc.dvAdds.keySet
    // a sparse (DV) mutation reads the partitions of the files it
    // tombstones into, exactly as a rewrite reads the partitions of the
    // files it removes — both sets gate the interposed-append check
    val readDirs = (sc.removedFiles ++ ourDvTargets).map(parentDir).toSet
    val dvAddSeq = sc.dvAdds.toSeq.flatMap { case (f, ss) => ss.map(s => (f, s)) }.sorted
    var base = sc.base
    var schemaJson = sc.schemaJson
    var rebases = 0
    var committed = false
    while (!committed) {
      // LAYOUT guard for row-adding commits: the staged files spell the
      // layout they were staged under — committing them against a base
      // whose WRITE layout differs (an interposed evolveLayout /
      // repartitionLake, or a caller passing the wrong partition
      // columns) would silently mix what the manifest records as the
      // write layout. Checked against the CURRENT base every attempt
      // (first try and every rebase). Removing/rewriting commits are
      // covered by the removed-file conflict checks; restores and
      // relayouts legitimately (re)define the layout they carry.
      if ((sc.action == "append" || sc.action == "update" || sc.action == "merge") &&
          sc.stagedFiles.nonEmpty && base.files.nonEmpty) {
        val ours = layoutOfPath(sc.stagedFiles.head)
        val theirs = levelNamesOf(base) // path LEVEL names (transform-aware)
        if (ours != theirs) {
          val err = new IllegalStateException(
            s"commit refused: the lake's partition layout changed under this " +
              s"${sc.action} — staged [${ours.mkString(", ")}], lake writes " +
              s"[${theirs.mkString(", ")}] (evolveLayout/repartitionLake); " +
              "re-stage against the new layout")
          abort(spark, sc)
          throw err
        }
      }
      // idempotent-replay guard: the watermark is re-checked against the
      // CURRENT base on every rebase, so a raced duplicate (two writers
      // replaying the same batch) cannot double-land — whichever commits
      // first moves the watermark, the other observes it here and skips
      if (sc.txn.exists { case (a, v) => base.txns.get(a).exists(_ >= v) }) {
        abort(spark, sc)
        return
      }
      // commit-time-exact detach record: on a deferred base the removed
      // files' checkpoint-resident attachments fetch in ONE scoped
      // entries job ([[dvsFor]], skipped when nothing was removed or the
      // map is provably empty); the delta carries them as `VD` lines so
      // a path-lazy replay never has to recompute what the driver
      // cannot see
      val detachedFromRemoved: Seq[String] =
        if (ourRemoved.isEmpty) Seq.empty
        else dvsFor(spark, base.dvs, sc.removedFiles).values.flatten.toSeq
      val detached = detachedFromRemoved ++ sc.dvRemoves.map(_._2)
      val postDvs = foldLiveDvs(base.dvs, ourRemoved, sc.dvRemoves, dvAddSeq)
      val postFiles: LiveFiles =
        foldLiveFiles(base.files, sc.stagedFiles, ourRemoved)
      // PUBLISH is the commit-time filter for its restates, and commit-
      // time exactness is the invariant [[applyDelta]]'s approximate
      // replay predicate rests on — so on a PATH-LAZY base the ambiguous
      // names (neither tail-resolved nor removed: a resident OR a file
      // that died BELOW the checkpoint, indistinguishable driver-side)
      // resolve EXACTLY against the entries' F rows. Without this, a
      // widen/analyze racing a delete that lands on the checkpoint grid
      // would re-admit the dead file's restate, and the deferred prune
      // would surface the removed file's rows. One bounded membership
      // job, only on a restate-carrying commit against a lazy base.
      val postFileSet: String => Boolean = postFiles match {
        case dfl: DeferredFiles =>
          val tailSet = dfl.tailAdded.toSet
          val resident: Set[String] =
            if (sc.statRestates.isEmpty) Set.empty
            else residentsAmong(spark, dfl.entriesDir,
              sc.statRestates.map(_._1).filter(f => !tailSet(f)))
          // tail-added wins over a stale tailRemoved record (restore
          // re-adds); a non-tail name is live iff it IS a resident that
          // neither the fold nor this commit removed
          f => tailSet(f) ||
            (resident(f) && !dfl.tailRemoved(f) && !ourRemoved(f))
        case pf => pf.toSet
      }
      val baseStats = (base.stats -- sc.removedFiles) ++ sc.stagedStats
      // the COMMITTED delta must carry the filtered list too — a raw
      // restate for a dead file would outlive this filter in the log and
      // re-admit itself through [[applyDelta]]'s approximate replay
      // predicate on every path-lazy resolve
      val liveRestates = sc.statRestates.filter(r => postFileSet(r._1))
      val restatedStats = liveRestates
        .foldLeft(baseStats) { case (m, (f, st2)) =>
          m.updated(f, mergeStatCols(m.getOrElse(f, Seq.empty), st2))
        }
      val post = LakeState(base.version + 1, schemaJson,
        postFiles,
        restatedStats,
        foldHistory(base.history, sc.removedFiles),
        dvs = postDvs,
        dvHistory = foldSidecarList(base.dvHistory, detached, dedupe = true),
        cdc = foldSidecarList(base.cdc, sc.cdcFiles.map(_._1), dedupe = false),
        txns = sc.txn.fold(base.txns) { case (a, v) =>
          base.txns.updated(a, math.max(v, base.txns.getOrElse(a, Long.MinValue))) },
        checks = base.checks,
        layout = sc.layout.orElse(base.layout),
        bloomCols = sc.bloomCols.getOrElse(base.bloomCols),
        // the lazy marker folds forward exactly as in [[applyDelta]]:
        // staged files are driver-judged, removed tail-transients never
        // reach `tailRemoved`, and [[writeCheckpoint]] folds the
        // entries forward incrementally before any checkpoint render
        cpLazy = base.cpLazy.map(lz =>
          lz.copy(tailAdded = (lz.tailAdded -- sc.removedFiles) ++ sc.stagedFiles,
            tailRemoved = lz.tailRemoved ++
              sc.removedFiles.filterNot(lz.tailAdded))))
      try {
        commitDelta(spark, sc.lakeDir,
          DeltaRecord(base.version + 1, sc.action, schemaJson,
            sc.stagedFiles.map(f => f -> sc.stagedStats.getOrElse(f, Seq.empty)),
            sc.removedFiles, sc.rewriteFiles, dvAdds = dvAddSeq,
            dvDetached = detachedFromRemoved.distinct.sorted,
            cdcFiles = sc.cdcFiles, dvRemoves = sc.dvRemoves.sorted, txn = sc.txn,
            statRestates = liveRestates.sortBy(_._1), layout = sc.layout,
            postImages = sc.postImageFiles, bloomCols = sc.bloomCols),
          Some(post))
        committed = true
      } catch {
        case e: IllegalStateException if e.getMessage.startsWith("concurrent commit") =>
          if (rebases >= maxRebases) throw e
          rebases += 1
          val latest = latestManifest(spark, sc.lakeDir).getOrElse(throw e)
          // OCC conflict check for removing AND sparse (DV) commits:
          // replay the deltas that interposed since our base and refuse
          // on genuine overlap
          if (sc.removedFiles.nonEmpty || ourDvTargets.nonEmpty)
            ((base.version + 1) to latest.version).foreach { v =>
              val d = deltaAt(spark, sc.lakeDir, v)
              val removedHit = d.removed.filter(f =>
                ourRemoved.contains(f) || ourDvTargets.contains(f))
              if (removedHit.nonEmpty)
                throw new IllegalStateException(
                  s"concurrent commit: interposed ${d.action} v$v removed file(s) this " +
                    s"${sc.action} read as its base " +
                    s"(e.g. ${removedHit.take(2).mkString(", ")}) — its staged base is " +
                    "gone, rebase refused", e)
              // an interposed DV on a file our rewrite removes: our
              // staged survivors embed a pre-image WITHOUT that deletion
              // — rebasing would resurrect the deleted rows
              val dvHit = d.dvAdds.map(_._1).filter(ourRemoved)
              if (dvHit.nonEmpty)
                throw new IllegalStateException(
                  s"concurrent commit: interposed ${d.action} v$v attached deletion " +
                    s"vector(s) to file(s) this ${sc.action} rewrites " +
                    s"(e.g. ${dvHit.take(2).mkString(", ")}) — rebase refused", e)
              // a vectors-only consolidation reads NO data rows, so an
              // interposed append into its files' partitions cannot
              // invalidate it — only row-reading sparse/removing commits
              // gate on partition-level adds
              val addedHit =
                if (sc.action == "dvcompact") Seq.empty
                else d.added.map(_._1).filter(f => readDirs.contains(parentDir(f)))
              if (addedHit.nonEmpty)
                throw new IllegalStateException(
                  s"concurrent commit: interposed ${d.action} v$v added file(s) into " +
                    s"partition(s) this ${sc.action} read " +
                    s"(e.g. ${addedHit.take(2).mkString(", ")}) — rebase refused", e)
            }
          // rebase schema: keep ours when the world didn't move under us;
          // adopt theirs when our files still project into it; else this
          // is a concurrent non-commuting schema change — refuse
          schemaJson =
            if (latest.schemaJson == sc.base.schemaJson) sc.schemaJson
            else if (schemaCovers(latest.schemaJson, sc.schemaJson)) latest.schemaJson
            else throw new IllegalStateException(
              s"concurrent commit: schema changed under a ${sc.action} commit and the " +
                "staged files do not project into it — rebase refused", e)
          base = latest
      }
    }
    if (vacuumSuperseded) deleteFiles(spark, sc.lakeDir, sc.removedFiles)
  }

  /** Roll back a staged-but-unpublished mutation: delete its invisible
    * staged files (and staged DV sidecar dirs). The manifest never
    * moved, so readers are unaffected. */
  private[graft] def abort(spark: SparkSession, sc: StagedCommit): Unit = {
    deleteFiles(spark, sc.lakeDir, sc.stagedFiles)
    val (fs, root) = fsRoot(spark, sc.lakeDir)
    (sc.dvAdds.values.flatten ++ sc.cdcFiles.map(_._1)).toSeq.distinct.foreach(s =>
      fs.delete(new Path(root, s), true))
  }

  // ------------------------------------------------------------------
  // Audit read-back with per-file column stats
  // ------------------------------------------------------------------

  /** How many leading stats-comparable columns capture per-file min/max
    * by DEFAULT when a write names no `statsCols` — the Delta Lake
    * parity count (`dataSkippingNumIndexedCols = 32`): an adopted or
    * naively-written lake gets file skipping without anyone asking. */
  private[graft] val DefaultStatsCols = 32

  /** Types [[pruneByStats]]' comparator can actually order — recording
    * anything else is dead weight in the log. */
  private def statsComparable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType |
         DoubleType | FloatType | StringType => true
    case _ => false
  }

  /** Delta-parity STRING-stat truncation: a long string bound records as
    * a 32-char prefix — the min as a plain prefix (<= every value it
    * summarizes), the max with its last safely-incrementable char bumped
    * (>= every value with that prefix), so pruning stays
    * exactness-preserving while a 100 KB document body costs 32 chars of
    * log, not 100 KB. Only chars below the surrogate range increment
    * (codepoint order = UTF-8 byte order there, the order
    * [[pruneByStats]] compares in); a max prefix with none records no
    * stat for the column. */
  private def truncatedBounds(mn: String, mx: String): Option[(String, String)] = {
    val w = 32
    val lo = if (mn.length <= w) mn else mn.take(w)
    if (mx.length <= w) Some((lo, mx))
    else {
      val p = mx.take(w)
      val i = p.lastIndexWhere(c => c < 0xD7FF.toChar)
      if (i < 0) None else Some((lo, p.take(i) + (p(i) + 1).toChar))
    }
  }

  /** Per-file column stats read from the staged files' PARQUET FOOTERS
    * — the Iceberg capture path: the parquet writers already computed
    * row-group min/max, so default stats cost O(footer) driver-side
    * reads and zero data decode. `cols` are (PHYSICAL name, logical
    * type) pairs; a column whose stats class mismatches its type, whose
    * any row group lacks usable statistics, or whose float/double
    * bounds are NaN is skipped for that file (absent keeps the file —
    * every pruning rule here is exactness-preserving). String bounds
    * truncate through [[truncatedBounds]] exactly like the aggregate
    * path (parquet's own writer-side truncation already bumps its max,
    * so re-truncating stays a valid bound). */
  /** Per-file (row count, column stats) read from the staged files'
    * PARQUET FOOTERS — row counts AND min/max come from the writers'
    * own metadata in the SAME footer open, so the default audit pays
    * ONE pass (no separate count job per commit). */
  private def footerStats(spark: SparkSession, root: Path, files: Seq[String],
      cols: Seq[(String, DataType)]): Map[String, (Long, Long, Seq[ColStat])] = {
    if (files.isEmpty) return Map.empty
    if (files.size <= FooterStatsDriverMax)
      return files.map(rel =>
        footerStatsOne(root, rel, cols, spark.sessionState.newHadoopConf())).toMap
    // a commit staging many files distributes the footer reads as ONE
    // spark job — O(files/executors) wall-clock instead of O(files)
    // serial driver round-trips (Iceberg collects footer stats in the
    // writing tasks; staged-then-moved files collect them in one read
    // job here). The collect is bounded by the staged file count —
    // manifest-sized by construction.
    val taskConf = TaskHadoopConf(spark)
    val rootStr = root.toString
    val colsArr = cols
    spark.sparkContext
      .parallelize(files, math.min(files.size, spark.sparkContext.defaultParallelism))
      .mapPartitions { it =>
        val r = new Path(rootStr)
        it.map(rel => footerStatsOne(r, rel, colsArr, taskConf.value))
      }.collect().toMap
  }

  /** How many staged files a commit may footer-read serially on the
    * driver before [[footerStats]] distributes the reads as a job —
    * small commits skip the job-launch overhead entirely. */
  private[graft] val FooterStatsDriverMax = 8

  /** Reserved per-file stat carrying the file's ROW COUNT (min = max =
    * count) — Delta `numRecords` / Iceberg `record_count` parity,
    * captured for free by both audit paths (the named-stats aggregate
    * already counts per file; the footer pass reads the writer's own
    * record count). Manifest-resolved consumers plan from it with zero
    * data jobs: clustered compaction's size estimate, the DSv2 scan's
    * numRows, `$files.n_rows`. A USER column with this exact name is
    * excluded from stats capture so the two can never collide. */
  private[graft] val RowsStatName = "#rows"

  /** Reserved per-file stat carrying the file's ON-DISK BYTE SIZE
    * (min = max = bytes) — Delta `add.size` parity, captured for free
    * by both audit paths (the footer pass already holds the open
    * input file's length; the named-stats aggregate reads
    * `_metadata.file_size`). Manifest-resolved consumers plan from it
    * with ZERO filesystem round-trips: the DSv2 scan's `sizeInBytes`
    * (every broadcast-pricing plan used to stat every candidate
    * file), byte-target compaction sizing, and the OPTIMIZE-shape
    * small-file scope. */
  private[graft] val BytesStatName = "#bytes"

  /** The reserved pseudo-stat names — excluded from capture when a
    * USER column collides, and never usable as pruning bounds. */
  private[graft] val ReservedStatNames: Set[String] = Set(RowsStatName, BytesStatName)

  /** Driver-side footer opens (a [[logReads]]-style counter): the
    * distribution spec pins that a many-file commit performs ZERO of
    * these — every footer is opened inside a task instead. */
  private[graft] val footerDriverReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Audits that fell back to the DATA-SCAN aggregate (path-level or
    * non-comparable statsCols) since JVM start — the footer-audit spec
    * pins that ordinary named-stats commits perform ZERO of these: their
    * capture rides the same one-footer-open-per-file pass as the default
    * audit. Observability only. */
  private[graft] val auditScanJobs = new java.util.concurrent.atomic.AtomicLong(0L)

  private def footerStatsOne(root: Path, rel: String, cols: Seq[(String, DataType)],
      conf: org.apache.hadoop.conf.Configuration): (String, (Long, Long, Seq[ColStat])) = {
    import scala.jdk.CollectionConverters._
    val want = cols.toMap
    if (org.apache.spark.TaskContext.get() == null) footerDriverReads.incrementAndGet()
    val inputFile = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new Path(root, rel), conf)
    val fileBytes = inputFile.getLength // the open already knows it — free
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(inputFile)
    try {
        // fold (min, max) per column across row groups; None = unusable.
        // NULL COUNTS fold in the same pass ([[NullsStatSuffix]]): the
        // footers carry per-chunk num_nulls, so IS NULL / IS NOT NULL
        // pruning costs zero extra reads — any chunk without the field
        // set poisons that column's count (exactness over coverage)
        val acc = scala.collection.mutable.Map[String, Option[(Any, Any)]]()
        val nullAcc = scala.collection.mutable.Map[String, Option[Long]]()
        reader.getFooter.getBlocks.asScala.foreach { b =>
          b.getColumns.asScala.foreach { c =>
            val name = c.getPath.toDotString
            if (want.contains(name)) {
              val st = c.getStatistics
              val pair: Option[(Any, Any)] =
                if (st == null || !st.hasNonNullValue) None
                else (want(name), st.genericGetMin, st.genericGetMax) match {
                  case (FloatType | DoubleType, mn: Number, mx: Number)
                      if mn.doubleValue().isNaN || mx.doubleValue().isNaN => None
                  case (_, mn, mx) => Some((mn, mx))
                }
              acc.updateWith(name) {
                case Some(None) => Some(None)           // already poisoned
                case None => Some(pair)
                case Some(Some((lo, hi))) => pair match {
                  case None => Some(None)
                  case Some((mn, mx)) =>
                    Some(Some((foldBound(want(name), lo, mn, takeMin = true),
                      foldBound(want(name), hi, mx, takeMin = false))))
                }
              }
              val chunkNulls: Option[Long] =
                if (st == null || !st.isNumNullsSet || st.getNumNulls < 0) None
                else Some(st.getNumNulls)
              nullAcc.updateWith(name) {
                case Some(None) => Some(None)
                case None => Some(chunkNulls)
                case Some(Some(sum)) => Some(chunkNulls.map(sum + _))
              }
            }
          }
        }
        val st = cols.flatMap { case (name, dt) =>
          val bounds = acc.getOrElse(name, None).flatMap { case (lo, hi) =>
            dt match {
              case StringType =>
                truncatedBounds(binString(lo), binString(hi))
                  .map { case (l, h) => ColStat(name, l, h) }
              case _ => Some(ColStat(name, String.valueOf(lo), String.valueOf(hi)))
            }
          }
          val nulls = nullAcc.getOrElse(name, None).map(n =>
            ColStat(name + NullsStatSuffix, n.toString, n.toString))
          bounds.toSeq ++ nulls
        }
        rel -> ((reader.getRecordCount, fileBytes, st))
      } finally reader.close()
  }

  private def binString(v: Any): String = v match {
    case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
    case other => String.valueOf(other)
  }

  /** min/max fold of two footer bounds under the column's logical-type
    * comparison (the same order [[pruneByStats]] compares in). */
  private def foldBound(dt: DataType, a: Any, b: Any, takeMin: Boolean): Any = {
    val cmpLt: Boolean = dt match {
      case StringType =>
        org.apache.spark.unsafe.types.UTF8String.fromString(binString(a))
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(binString(b))) < 0
      case FloatType | DoubleType =>
        java.lang.Double.compare(
          a.asInstanceOf[Number].doubleValue(), b.asInstanceOf[Number].doubleValue()) < 0
      case _ =>
        java.lang.Long.compare(
          a.asInstanceOf[Number].longValue(), b.asInstanceOf[Number].longValue()) < 0
    }
    if (cmpLt == takeMin) a else b
  }

  /** Read the staged files back ONCE, returning the total row count (the
    * audit expectation check) and per-file min/max of `statsCols` (the
    * delta's data-skipping stats — recorded so later appends can prune
    * the candidate file list before opening a single footer). One
    * aggregate grouped by `_metadata.file_path` computes both; the
    * per-file collect is bounded by the staged file count. Columns absent
    * from the schema (pre-evolution mutations) are skipped. An EMPTY
    * `statsCols` defaults to the first [[DefaultStatsCols]]
    * stats-comparable non-partition columns, read from the staged
    * files' PARQUET FOOTERS ([[footerStats]] — the Iceberg capture
    * path: zero data decode, the count pass stays column-pruned);
    * naming columns overrides the default entirely and aggregates the
    * data exactly as asked. */
  private[graft] def auditStaged(spark: SparkSession, lakeDir: String, schemaJson: String,
      stagedFiles: Seq[String], statsCols: Seq[String]): (Long, Map[String, Seq[ColStat]]) = {
    if (stagedFiles.isEmpty) return (0L, Map.empty)
    val (fs, root) = fsRoot(spark, lakeDir)
    val df = readFiles(spark, lakeDir, schemaJson, stagedFiles)
    // stats record under PHYSICAL column names — the coordinate system
    // the on-disk files and [[pruneByStats]]' translation both use
    val auditSchema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    val physOf: String => String = c =>
      auditSchema.find(_.name == c).fold(c)(physicalName)
    if (statsCols.isEmpty) {
      // DEFAULT capture: row counts AND min/max both come from the
      // writers' own footer metadata in ONE pass over the staged files
      // (decoding a corpus text column back just to min/max it — or
      // even launching a separate count job — would dominate every
      // small commit; the footers already hold both answers, and a
      // torn file fails the footer open loudly)
      val pathLevels = stagedFiles.headOption.toSeq.flatMap(layoutOfPath).toSet
      val cols = df.schema.fields.iterator
        .filter(f => statsComparable(f.dataType) && !pathLevels(f.name) &&
          !ReservedStatNames(f.name) && !f.name.endsWith(NullsStatSuffix))
        .take(DefaultStatsCols)
        .map(f => physOf(f.name) -> f.dataType).toSeq
      val perFile = footerStats(spark, root, stagedFiles, cols)
      return (perFile.values.map(_._1).sum,
        perFile.map { case (f, (n, bytes, st)) =>
          f -> (st :+ ColStat(RowsStatName, n.toString, n.toString)
            :+ ColStat(BytesStatName, bytes.toString, bytes.toString)) })
    }
    // a first-ever ingest audits under an empty recorded schema — the
    // read-back's inferred schema then decides which stats cols exist
    val valid = statsCols.filter(df.schema.fieldNames.contains)
      .filterNot(ReservedStatNames).filterNot(_.endsWith(NullsStatSuffix)).distinct
    // NAMED stats take the footer pass too whenever every requested
    // column is a comparable DATA column: the writers' own footer
    // metadata answers min/max/nulls/counts in one footer open per file,
    // so the per-commit stats capture costs ZERO data decode — the
    // aggregate read-back below survives only for PATH-LEVEL statsCols
    // (partition values live in directory names, not footers) and
    // non-comparable types. Same encodings as the default capture, so
    // pruning reads both interchangeably.
    val namedPathLevels = stagedFiles.headOption.toSeq.flatMap(layoutOfPath).toSet
    if (valid.forall(c => statsComparable(df.schema(c).dataType) &&
        !namedPathLevels(c))) {
      val cols = valid.map(c => physOf(c) -> df.schema(c).dataType)
      val perFile = footerStats(spark, root, stagedFiles, cols)
      return (perFile.values.map(_._1).sum,
        perFile.map { case (f, (n, bytes, st)) =>
          f -> (st :+ ColStat(RowsStatName, n.toString, n.toString)
            :+ ColStat(BytesStatName, bytes.toString, bytes.toString)) })
    }
    auditScanJobs.incrementAndGet()
    val aggs = count(lit(1)).as("_n") +:
      max(col("_metadata.file_size")).as("_gf_sz") +:
      valid.flatMap(c => Seq(min(col(c)).as(s"_mn_$c"), max(col(c)).as(s"_mx_$c"),
        count(col(c)).as(s"_nn_$c")))
    val rows = df.groupBy(col("_metadata.file_path").as("_fp"))
      .agg(aggs.head, aggs.tail: _*).collect()
    var total = 0L
    val stats = Map.newBuilder[String, Seq[ColStat]]
    rows.foreach { r =>
      total += r.getAs[Long]("_n")
      val rel = relativize(root, fs.makeQualified(new Path(new java.net.URI(r.getAs[String]("_fp")))))
      val st = valid.flatMap { c =>
        val (mn, mx) = (r.getAs[Any](s"_mn_$c"), r.getAs[Any](s"_mx_$c"))
        val bounds =
          if (mn == null || mx == null) None
          else df.schema(c).dataType match {
            case StringType =>
              truncatedBounds(String.valueOf(mn), String.valueOf(mx))
                .map { case (lo, hi) => ColStat(physOf(c), lo, hi) }
            case _ => Some(ColStat(physOf(c), String.valueOf(mn), String.valueOf(mx)))
          }
        // null count = rows - non-null count, free from the same aggregate
        val nulls = r.getAs[Long]("_n") - r.getAs[Long](s"_nn_$c")
        bounds.toSeq :+
          ColStat(physOf(c) + NullsStatSuffix, nulls.toString, nulls.toString)
      }
      // the per-file row count and byte size ride along (the aggregate
      // already computed both) — [[RowsStatName]]/[[BytesStatName]],
      // the manifest's numRecords and add.size
      val n = r.getAs[Long]("_n")
      val sz = r.getAs[Long]("_gf_sz")
      stats += (rel -> (st :+ ColStat(RowsStatName, n.toString, n.toString)
        :+ ColStat(BytesStatName, sz.toString, sz.toString)))
    }
    (total, stats.result())
  }

  /** One column's query-side bound for stats pruning: "only rows with
    * `col` in `[lo, hi]` can matter". A `null` endpoint means unbounded
    * on that side (a one-sided predicate like `col >= x` still prunes).
    * `nullness` carries IS NULL (`Some(true)`) / IS NOT NULL
    * (`Some(false)`) predicates instead of a value range — they prune
    * against the per-file NULL COUNTS the audit records
    * ([[NullsStatSuffix]]), not min/max. */
  final case class ColBound(col: String, dt: DataType, lo: Any, hi: Any,
      nullness: Option[Boolean] = None)

  /** Per-file NULL-COUNT pseudo-stat suffix: column `c`'s null count is
    * recorded as a stat named `c#nulls` (min = max = count) — Delta's
    * per-file `nullCount` idea in this log's (col, min, max) encoding.
    * Captured for free by both audit paths (parquet footers carry
    * per-chunk `num_nulls`; the named aggregate derives it from
    * `count(1) - count(c)`), and consumed by [[pruneByStats]] to answer
    * `IS NULL` (prune files with zero nulls) and `IS NOT NULL` (prune
    * all-null files) — predicates min/max and blooms are blind to. A
    * USER column whose name ends with this suffix is excluded from
    * capture entirely, like [[ReservedStatNames]], so the two
    * namespaces can never collide. */
  private[graft] val NullsStatSuffix = "#nulls"

  /** The subset of `st.files` whose recorded stats overlap EVERY bound in
    * the conjunction — plus, per bound, every file with no recorded stats
    * for that column (unknown must be kept; pruning is
    * exactness-preserving). A multi-column clustering (e.g. a lake
    * range-compacted on (domain, doc_id)) therefore compound-prunes: a
    * file survives only if each bounded column's range overlaps, which is
    * strictly tighter than any single column alone. Comparison is typed:
    * integral and floating stats parse back to numbers, string stats
    * compare in UTF8 binary order (Spark's min/max order); any other type
    * keeps the file. */
  def pruneByStats(st: LakeState, bounds: Seq[ColBound]): Seq[String] = {
    // no bounds = no pruning: return the live list ITSELF (identity
    // matters — [[reservedTotals]] recognizes a whole-table request by
    // reference, the path-lazy zero-job pricing hook)
    if (bounds.isEmpty) return st.files
    // stats are recorded under PHYSICAL column names (they come from
    // audit read-backs of on-disk files); translate logically-named
    // bounds through the manifest's column mapping before matching.
    // An unparseable/absent schema (hand-built states) maps nothing.
    val schema = scala.util.Try(DataType.fromJson(st.schemaJson))
      .toOption.collect { case s: StructType => s }
    val mapped = schema.filter(hasMapping) match {
      case None => bounds
      case Some(s) => bounds.map { b =>
        s.find(_.name == b.col).fold(b)(f => b.copy(col = physicalName(f)))
      }
    }
    pruneByStatsPhysical(st, mapped)
  }

  /** One file's stats verdict for one bound — PURE over the file's own
    * recorded stats (no state lookups), so the LAZY path evaluates it
    * inside the entries job with exactly the driver path's semantics. */
  private[graft] def statsOverlap(stats: Seq[ColStat], b: ColBound): Boolean = {
    // ONE comparator for prune-vs-rollup consistency: the same
    // [[statCompare]] the envelope folds use — a type handled by one
    // but not the other would make rollup pruning disagree with the
    // per-file judgment
    def cmp(dt: DataType, a: String, b2: String): Option[Int] = statCompare(dt, a, b2)
    def statLong(name: String): Option[Long] =
      stats.find(_.col == name).flatMap(_.min.toLongOption)
    def nullnessOverlaps(col: String, wantNull: Boolean): Boolean =
      statLong(col + NullsStatSuffix) match {
        case None => true // unknown null count: keep (exactness-preserving)
        case Some(n) =>
          if (wantNull) n > 0 // IS NULL: a zero-null file cannot match
          else statLong(RowsStatName).forall(n < _) // IS NOT NULL: all-null prunes
      }
    // a USER column literally named like a reserved pseudo-stat
    // (possible on a mapping-less lake, where physical = logical) must
    // never prune against the recorded count/size — capture excludes
    // such a column's real min/max, so always-keep is the exact answer
    if (ReservedStatNames(b.col) || b.col.endsWith(NullsStatSuffix)) true
    else if (b.nullness.isDefined) nullnessOverlaps(b.col, b.nullness.get)
    else stats.find(_.col == b.col) match {
      case None => true
      case Some(cs) =>
        // each side independently: unbounded or unparseable keeps the
        // file; both parseable sides must overlap the [lo, hi] range
        val loOk = b.lo == null ||
          cmp(b.dt, cs.max, String.valueOf(b.lo)).forall(_ >= 0)
        val hiOk = b.hi == null ||
          cmp(b.dt, cs.min, String.valueOf(b.hi)).forall(_ <= 0)
        loOk && hiOk
    }
  }

  /** One file's TRANSFORM-level path verdict for one bound — PURE over
    * the path, the bound, the schema's column names and the session
    * zone (threaded explicitly so the LAZY entries job renders time
    * transforms under the DRIVER's zone, not an executor default).
    *
    * Iceberg-style partition pruning: a file whose path spells a
    * transform level for a bounded column prunes by the level's own
    * semantics — days/hours render FIXED-WIDTH sortable strings (string
    * comparison is chronological), truncate is monotone
    * (prefix / floor-to-multiple of the bound endpoints brackets the
    * level value), and bucket prunes EQUALITY bounds by recomputing the
    * value's bucket (the level name is self-describing:
    * `<col>_bucket<n>` carries the count, so any generation's files
    * answer exactly). Files without a level, and unrenderable bounds,
    * keep the file (exactness-preserving like every pruning rule here).
    * Levels classify by SCHEMA MEMBERSHIP exactly like the readers: a
    * directory level that IS a schema column is an identity level, even
    * when its name is spelled like another column's transform
    * (`ts_day` as a real column next to `ts`) — transform semantics
    * must never prune an identity column's arbitrary user values.
    * (validateLayout refuses such layouts at write time; adopted lakes
    * never ran it, so the read side must classify correctly too.) */
  private[graft] def pathOverlap(f: String, b: ColBound, schemaCols: Set[String],
      zone: java.time.ZoneId): Boolean = {
      val dirs = f.split('/').dropRight(1)
      if (dirs.isEmpty) true
      else {
        def unesc(s: String) = org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.unescapePathName(s)
        val bucketRe = (java.util.regex.Pattern.quote(b.col) + "_bucket(\\d+)").r
        val truncRe = (java.util.regex.Pattern.quote(b.col) + "_trunc(\\d+)").r
        def timeOk(kind: String, v: String): Boolean = {
          val loOk = b.lo == null ||
            renderTimeTransform(kind, b.dt, b.lo, zone).forall(v >= _)
          val hiOk = b.hi == null ||
            renderTimeTransform(kind, b.dt, b.hi, zone).forall(v <= _)
          loOk && hiOk
        }
        def truncOk(w: Int, v: String): Boolean = {
          def rendered(x: Any): Option[String] = (b.dt, x) match {
            case (StringType, s) =>
              val str = s match {
                case u: org.apache.spark.unsafe.types.UTF8String => u.toString
                case other => String.valueOf(other)
              }
              // CODEPOINT prefix, exactly the write side's Spark
              // `substring` semantics — String.take counts UTF-16 units
              // and would split a surrogate pair, diverging from the
              // written level value and wrongly pruning matching files
              Some(org.apache.spark.unsafe.types.UTF8String.fromString(str)
                .substringSQL(1, w).toString)
            case (LongType | IntegerType | ShortType | ByteType, n: Number) =>
              Some((n.longValue() - java.lang.Math.floorMod(n.longValue(), w.toLong)).toString)
            case _ => None
          }
          def cmpVals(x: String, y: String): Option[Int] = b.dt match {
            case StringType => Some(
              org.apache.spark.unsafe.types.UTF8String.fromString(x)
                .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)))
            case _ => for (a <- x.toLongOption; c <- y.toLongOption)
              yield java.lang.Long.compare(a, c)
          }
          val loOk = b.lo == null ||
            rendered(b.lo).forall(r => cmpVals(v, r).forall(_ >= 0))
          val hiOk = b.hi == null ||
            rendered(b.hi).forall(r => cmpVals(v, r).forall(_ <= 0))
          loOk && hiOk
        }
        def bucketOk(n: Int, v: String): Boolean =
          // only an EQUALITY bound maps through a hash
          if (b.lo == null || b.hi == null || b.lo != b.hi) true
          else bucketOf(b.dt, b.lo, n).forall(x => v == x.toString)
        def identityOk(v: String): Boolean = {
          val isNullLevel = v == org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.DEFAULT_PARTITION_NAME
          b.nullness match {
            // an identity level makes the column CONSTANT per directory:
            // IS NULL keeps only the default-partition dir, IS NOT NULL
            // prunes exactly it
            case Some(wantNull) => isNullLevel == wantNull
            case None if isNullLevel =>
              // a null value satisfies no value range (three-valued logic)
              b.lo == null && b.hi == null
            case None =>
              def c(x: String, y: String): Option[Int] = b.dt match {
                case LongType | IntegerType | ShortType | ByteType =>
                  for (a <- x.toLongOption; d <- y.toLongOption)
                    yield java.lang.Long.compare(a, d)
                case DoubleType | FloatType =>
                  for (a <- x.toDoubleOption; d <- y.toDoubleOption)
                    yield java.lang.Double.compare(a, d)
                case StringType => Some(
                  org.apache.spark.unsafe.types.UTF8String.fromString(x)
                    .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)))
                case _ => None // unrenderable type: keep the file
              }
              val loOk = b.lo == null || c(v, String.valueOf(b.lo)).forall(_ >= 0)
              val hiOk = b.hi == null || c(v, String.valueOf(b.hi)).forall(_ <= 0)
              loOk && hiOk
          }
        }
        dirs.forall { seg =>
          val eq = seg.indexOf('=')
          if (eq <= 0) true
          else {
            val (lvl, v) = (unesc(seg.take(eq)), unesc(seg.drop(eq + 1)))
            lvl match {
              // an IDENTITY level spelling the bound column: the path
              // value IS the column value — prune it here so manifest
              // planners (sparse DML candidates, the lazy zero-job fast
              // path) need neither stats nor Spark's downstream
              // partition pruning to skip whole directories
              case _ if lvl == b.col && schemaCols.contains(lvl) => identityOk(v)
              case _ if schemaCols.contains(lvl) => true // other identity level
              case _ if lvl == b.col + "_year" => timeOk("years", v)
              case _ if lvl == b.col + "_month" => timeOk("months", v)
              case _ if lvl == b.col + "_day" => timeOk("days", v)
              case _ if lvl == b.col + "_hour" => timeOk("hours", v)
              case bucketRe(n) => bucketOk(n.toInt, v)
              case truncRe(w) => truncOk(w.toInt, v)
              case _ => true
            }
          }
        }
      }
  }

  private def pruneByStatsPhysical(st: LakeState, bounds: Seq[ColBound]): Seq[String] = {
    val schemaCols: Set[String] = scala.util.Try(DataType.fromJson(st.schemaJson))
      .toOption.collect { case s: StructType => s.fieldNames.toSet }
      .getOrElse(Set.empty)
    val zone = java.time.ZoneId.of(
      org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    st.cpLazy match {
      case Some(lz) if bounds.nonEmpty =>
        pruneLazy(st, bounds, lz, schemaCols, zone)
      case _ =>
        st.files.filter(f => bounds.forall(b =>
          statsOverlap(st.stats.getOrElse(f, Seq.empty), b) &&
            pathOverlap(f, b, schemaCols, zone)))
    }
  }

  /** The LAZY pruning path ([[LazyStatsKey]]): the checkpoint's files
    * are judged INSIDE a Spark job over the parquet entries — the exact
    * [[statsOverlap]]/[[pathOverlap]] predicates, evaluated in tasks
    * against each file's own stats row — and only the SURVIVORS return
    * to the driver (the Delta filesForScan shape: driver traffic is
    * O(matching), never O(files)). Files the TAIL deltas added, and
    * files whose stats a tail delta RESTATED (their driver-side entries
    * override the checkpoint's stale row), are judged on the driver
    * exactly as in eager mode. */
  private def pruneLazy(st: LakeState, bounds: Seq[ColBound], lz: CpLazy,
      schemaCols: Set[String],
      zone: java.time.ZoneId): Seq[String] = {
    val spark = SparkSession.active
    val driverJudged: Set[String] = st.stats.keySet ++ lz.tailAdded
    // TWO-LEVEL fast path: when no bound's column appears in the stub's
    // stat-column census, no entries row can carry a stat for it —
    // statsOverlap is vacuously true for every checkpoint resident
    // (reserved names short-circuit inside statsOverlap regardless), so
    // the PATH decides alone and the prune plans with ZERO jobs. This is
    // exactly the partition-banded predicate: identity and transform
    // levels live in directory names, never in footer stats.
    val needsEntries = lz.statCols match {
      case None => true // pre-SC stub: unknown census, judge in the job
      case Some(cols) => bounds.exists(b => !ReservedStatNames(b.col) &&
        !b.col.endsWith(NullsStatSuffix) &&
        (if (b.nullness.isDefined) cols(b.col + NullsStatSuffix) else cols(b.col)))
    }
    st.files match {
      case dfl: DeferredFiles =>
        // PATH-LAZY: the residents exist only in the entries, so every
        // prune is one job there — with the SAME fast-path knowledge
        // applied INSIDE it: a census miss skips the stats decode
        // entirely (paths-only projection), pruned rollup keys skip
        // whole subtrees, dead residents and driver-judged (restated)
        // rows are excluded by sorted-array membership. The driver
        // judges the tail and restated files as in eager mode, and only
        // SURVIVORS ever return (the Delta filesForScan shape).
        return pruneDeferred(spark, st, dfl, bounds, lz, needsEntries,
          driverJudged, schemaCols, zone)
      case _ => ()
    }
    if (!needsEntries) {
      return st.files.filter { f =>
        if (driverJudged(f))
          bounds.forall(b => statsOverlap(st.stats.getOrElse(f, Seq.empty), b) &&
            pathOverlap(f, b, schemaCols, zone))
        else bounds.forall(b => pathOverlap(f, b, schemaCols, zone))
      }
    }
    // LEVEL 2: the checkpoint's per-directory envelopes (`DR` rows,
    // already driver-resident from the lazy load) prove whole
    // directories out — a non-overlapping envelope covers EVERY resident
    // in the dir, so those files drop without consulting their rows.
    // When every resident falls in a pruned directory the entries job is
    // skipped entirely: a dir-banded predicate on a CLUSTERED data
    // column plans driver-side, like the partition-banded fast path.
    val rollupKeys = lz.dirStats.keySet
    val prunedDirs: Set[String] =
      if (lz.dirStats.isEmpty) Set.empty
      else lz.dirStats.iterator.collect {
        case (d, env) if bounds.exists(b => !statsOverlap(env, b)) => d
      }.toSet
    // a file is proven out when the rollup key its directory RESOLVES
    // to (longest covering prefix — rollups may be hierarchically
    // folded) is pruned; an ancestor key never judges a dir that
    // resolves deeper
    def dirProvenOut(dir: String): Boolean =
      prunedDirs.nonEmpty && rollupKeyOf(rollupKeys, dir).exists(prunedDirs)
    val residentNeedsJob = st.files.exists(f =>
      !driverJudged(f) && !dirProvenOut(dirOfFile(f)))
    if (!residentNeedsJob) {
      return st.files.filter { f =>
        if (driverJudged(f))
          bounds.forall(b => statsOverlap(st.stats.getOrElse(f, Seq.empty), b) &&
            pathOverlap(f, b, schemaCols, zone))
        else false // every resident's directory is proven out
      }
    }
    lazyPruneJobs.incrementAndGet()
    val bs = bounds
    val sc = schemaCols
    val tz = zone
    val skipDirs = prunedDirs
    val skipKeys = rollupKeys
    val keptJob: Set[String] = spark.read.schema(CpEntrySchema)
      .parquet(lz.entriesDir).rdd.flatMap { r =>
        if (r.getString(0) != "F") None
        else {
          val p = r.getString(1)
          if (skipDirs.nonEmpty && rollupKeyOf(skipKeys,
              p.take(p.lastIndexOf('/').max(0))).exists(skipDirs)) None
          else {
            val cs =
              if (r.isNullAt(3)) Seq.empty[ColStat]
              else r.getSeq[org.apache.spark.sql.Row](3)
                .map(s => ColStat(s.getString(0), s.getString(1), s.getString(2)))
            if (bs.forall(b => statsOverlap(cs, b) && pathOverlap(p, b, sc, tz)))
              Some(p)
            else None
          }
        }
      }.collect().toSet
    st.files.filter { f =>
      if (driverJudged(f))
        bounds.forall(b => statsOverlap(st.stats.getOrElse(f, Seq.empty), b) &&
          pathOverlap(f, b, schemaCols, zone))
      else keptJob(f)
    }
  }

  /** The PATH-LAZY prune: see the dispatch comment in [[pruneLazy]]. */
  private def pruneDeferred(spark: SparkSession, st: LakeState,
      dfl: DeferredFiles, bounds: Seq[ColBound], lz: CpLazy,
      needsEntries: Boolean, driverJudged: Set[String],
      schemaCols: Set[String], zone: java.time.ZoneId): Seq[String] = {
    lazyPruneJobs.incrementAndGet()
    val rollupKeys = lz.dirStats.keySet
    val prunedDirs: Set[String] =
      if (lz.dirStats.isEmpty) Set.empty
      else lz.dirStats.iterator.collect {
        case (d, env) if bounds.exists(b => !statsOverlap(env, b)) => d
      }.toSet
    val bs = bounds
    val sc = schemaCols
    val tz = zone
    val skipDirs = prunedDirs
    val skipKeys = rollupKeys
    val removedArr = dfl.tailRemoved.toArray.sorted
    // restated residents: their driver row shadows the stale entries row
    val restatedArr = (st.stats.keySet -- lz.tailAdded).toArray.sorted
    val statsNeeded = needsEntries
    val readSchema =
      if (statsNeeded) CpEntrySchema else StructType(CpEntrySchema.take(2))
    val keptJob: Array[String] = spark.read.schema(readSchema)
      .parquet(dfl.entriesDir).rdd.flatMap { r =>
        if (r.getString(0) != "F") None
        else {
          val p = r.getString(1)
          def hit(a: Array[String]): Boolean = a.nonEmpty &&
            java.util.Arrays.binarySearch(a.asInstanceOf[Array[AnyRef]], p) >= 0
          if (hit(removedArr) || hit(restatedArr)) None
          else if (skipDirs.nonEmpty && rollupKeyOf(skipKeys,
              p.take(p.lastIndexOf('/').max(0))).exists(skipDirs)) None
          else {
            val cs =
              if (!statsNeeded || r.isNullAt(3)) Seq.empty[ColStat]
              else r.getSeq[org.apache.spark.sql.Row](3)
                .map(s => ColStat(s.getString(0), s.getString(1), s.getString(2)))
            if (bs.forall(b => statsOverlap(cs, b) && pathOverlap(p, b, sc, tz)))
              Some(p)
            else None
          }
        }
      }.collect()
    val driverKept = driverJudged.iterator.filter(f =>
      bounds.forall(b => statsOverlap(st.stats.getOrElse(f, Seq.empty), b) &&
        pathOverlap(f, b, schemaCols, zone))).toSeq
    (keptJob ++ driverKept).sorted
  }

  /** Entries jobs launched by [[pruneLazy]] since JVM start — the
    * two-level pruning spec pins that a partition-banded predicate
    * plans with ZERO of these (the stub's `SC` census proves the
    * entries carry nothing to consult). Observability only. */
  private[graft] val lazyPruneJobs =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Entries jobs launched by [[reservedTotals]] since JVM start — the
    * pricing spec pins that WHOLE-TABLE pricing on a restate-free lazy
    * lake answers from the directory sums with ZERO of these.
    * Observability only. */
  private[graft] val lazyPriceJobs =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** The [[transformCol]] bucket of one bound endpoint, recomputed
    * driver-side: Spark's Murmur3 `hash` (seed 42) pmod n — EXACTLY the
    * write-time formula, evaluated over the catalyst literal form of
    * the value. None = unrenderable (keep the file). */
  private def bucketOf(dt: DataType, v: Any, n: Int): Option[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    scala.util.Try {
      val lit = scala.util.Try(Literal.create(v, dt)).getOrElse(Literal(v, dt))
      val h = Murmur3Hash(Seq(lit), 42).eval(null).asInstanceOf[Int]
      java.lang.Math.floorMod(h, n)
    }.toOption
  }

  /** Driver-side rendering of a days/hours transform value for ONE
    * bound endpoint — the same formula [[transformCol]]'s `date_format`
    * writes (session time zone for zoned timestamps, wall-clock for
    * NTZ/date). Accepts both internal (micros/days) and external
    * (java.sql / java.time) endpoint representations — stat-derived and
    * predicate-derived bounds arrive in either. None = unrenderable
    * (keep the file). */
  private def renderTimeTransform(kind: String, dt: DataType, v: Any,
      zone: java.time.ZoneId): Option[String] = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    val pattern = kind match {
      case "years" => "yyyy"
      case "months" => "yyyy-MM"
      case "days" => "yyyy-MM-dd"
      case _ => "yyyy-MM-dd-HH"
    }
    val fmt = java.time.format.DateTimeFormatter.ofPattern(pattern)
    val ldt: Option[java.time.LocalDateTime] = (dt, v) match {
      case (_: org.apache.spark.sql.types.TimestampType, l: java.lang.Long) =>
        Some(DateTimeUtils.microsToInstant(l).atZone(zone).toLocalDateTime)
      case (_: org.apache.spark.sql.types.TimestampType, t: java.sql.Timestamp) =>
        Some(DateTimeUtils.microsToInstant(DateTimeUtils.fromJavaTimestamp(t))
          .atZone(zone).toLocalDateTime)
      case (_: org.apache.spark.sql.types.TimestampType, i: java.time.Instant) =>
        Some(i.atZone(zone).toLocalDateTime)
      case (_: org.apache.spark.sql.types.TimestampNTZType, l: java.lang.Long) =>
        Some(DateTimeUtils.microsToLocalDateTime(l))
      case (_: org.apache.spark.sql.types.TimestampNTZType, l: java.time.LocalDateTime) =>
        Some(l)
      case (_: org.apache.spark.sql.types.DateType, i: java.lang.Integer) =>
        Some(java.time.LocalDate.ofEpochDay(i.longValue()).atStartOfDay())
      case (_: org.apache.spark.sql.types.DateType, d: java.sql.Date) =>
        Some(d.toLocalDate.atStartOfDay())
      case (_: org.apache.spark.sql.types.DateType, d: java.time.LocalDate) =>
        Some(d.atStartOfDay())
      case _ => None
    }
    ldt.map(fmt.format)
  }

  /** Single-column convenience form of [[pruneByStats]]. */
  def pruneByStats(st: LakeState, statCol: String, dt: DataType,
      lo: Any, hi: Any): Seq[String] =
    pruneByStats(st, Seq(ColBound(statCol, dt, lo, hi)))

  /** Above this many probe keys a merge switches bloom pruning from the
    * broadcast probe (the keys ride to the probing tasks whole — 4M
    * longs ≈ 32 MiB of driver collect + broadcast) to the JOIN-SHAPED
    * probe ([[pruneByBloomJoin]]): key hashes stay distributed, chunked
    * at this size, and candidates × chunks probe in tasks. Override per
    * session via `spark.graft.lake.bloom.probeMaxKeys` (specs lower it
    * to force the join path on small fixtures). */
  private[graft] val BloomProbeMaxKeysDefault = 4000000L

  private[graft] def bloomProbeMaxKeys(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.lake.bloom.probeMaxKeys")
      .map(_.toLong).getOrElse(BloomProbeMaxKeysDefault)

  /** Keys at or below this ride the COLLECT+broadcast probe
    * ([[pruneByBloom]] — one stage, the cheap shape for ordinary
    * merges); above it an already-distributed key frame takes the
    * join-shaped probe unconditionally. Deliberately broadcast-sized
    * (64k keys ≈ 512 KB), NOT [[bloomProbeMaxKeys]]: collecting 4M raw
    * keys to the driver was a bounded-but-needless 32 MB round-trip
    * when the join path handles them without any driver visit. */
  private[graft] val BloomCollectMaxKeysDefault = 65536L

  private[graft] def bloomCollectMaxKeys(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.lake.bloom.collectMaxKeys")
      .map(_.toLong).getOrElse(BloomCollectMaxKeysDefault)

  /** Join-shaped bloom probes since JVM start — the observability hook
    * the above-cap spec uses to pin that a huge key set probes
    * distributed, never collected. Driver-side only. */
  private[graft] val bloomJoinProbes =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** BLOOM file skipping for high-cardinality equality keys — the
    * prune min/max stats cannot perform (uniformly-distributed ids
    * overlap every file's range, so a sparse merge would read the whole
    * corpus): keep only the candidate files whose parquet FOOTER bloom
    * filter (written because [[LakeState.bloomCols]] names the column)
    * might contain AT LEAST ONE probe key. Delta bloom-index / Hudi
    * bloom-index parity built on parquet-mr's own bloom machinery — no
    * sidecar format, any parquet reader sees the same filters. ONE
    * distributed job over the candidates (the keys ride as a
    * broadcast; callers gate on [[bloomProbeMaxKeys]] and take
    * [[pruneByBloomJoin]] above it); per file, every
    * row group must miss every key to prune. Exactness-preserving like
    * every pruning rule here: a missing column, absent bloom, foreign
    * hash strategy, or un-hashable key keeps the file. Key hashes are
    * computed once per task and reused across its files. */
  private[graft] def pruneByBloom(spark: SparkSession, lakeDir: String,
      st: LakeState, candidates: Seq[String], colName: String,
      keys: Array[Any]): Seq[String] = {
    if (candidates.isEmpty || keys.isEmpty) return candidates
    val schema = scala.util.Try(DataType.fromJson(st.schemaJson))
      .toOption.collect { case s: StructType => s }
    val phys = schema.flatMap(_.find(_.name == colName)).map(physicalName)
      .getOrElse(colName)
    val taskConf = TaskHadoopConf(spark)
    val rootStr = fsRoot(spark, lakeDir)._2.toString
    val keysB = spark.sparkContext.broadcast(keys)
    spark.sparkContext
      .parallelize(candidates, math.min(candidates.size, spark.sparkContext.defaultParallelism))
      .mapPartitions { it =>
        import scala.jdk.CollectionConverters._
        import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
        val conf = taskConf.value
        val root = new Path(rootStr)
        // xxhash of each key by physical type, computed ONCE per task
        // (parquet-mr's only hash strategy; a bloom reporting any other
        // strategy keeps its file below)
        val hashCache = scala.collection.mutable.Map[
          PrimitiveTypeName, Option[Array[Long]]]()
        def hashesFor(bf: org.apache.parquet.column.values.bloomfilter.BloomFilter,
            ptn: PrimitiveTypeName): Option[Array[Long]] =
          hashCache.getOrElseUpdate(ptn, {
            val out = Array.newBuilder[Long]
            var ok = true
            keysB.value.foreach { k =>
              if (ok) (ptn, k) match {
                case (PrimitiveTypeName.INT64, n: java.lang.Number) =>
                  out += bf.hash(n.longValue())
                case (PrimitiveTypeName.INT32, n: java.lang.Number) =>
                  out += bf.hash(n.intValue())
                case (PrimitiveTypeName.BINARY, s) =>
                  out += bf.hash(org.apache.parquet.io.api.Binary.fromString(String.valueOf(s)))
                case _ => ok = false // un-hashable key/type pair: keep files
              }
            }
            if (ok) Some(out.result()) else None
          })
        it.filter { rel =>
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(root, rel), conf))
          try {
            reader.getFooter.getBlocks.asScala.exists { b =>
              b.getColumns.asScala.find(_.getPath.toDotString == phys) match {
                case None => true // column absent (pre-evolution file): keep
                case Some(c) =>
                  val bf = reader.getBloomFilterDataReader(b).readBloomFilter(c)
                  if (bf == null ||
                      bf.getHashStrategy != org.apache.parquet.column.values
                        .bloomfilter.BloomFilter.HashStrategy.XXH64) true
                  else hashesFor(bf, c.getPrimitiveType.getPrimitiveTypeName) match {
                    case None => true
                    case Some(hs) => hs.exists(bf.findHash)
                  }
              }
            }
          } finally reader.close()
        }.toVector.iterator
      }.collect().toSeq.sorted
  }

  /** The merge/delete-side gate in front of the bloom probes: applies
    * only when the lake blooms `idCol`. Broadcast-sized key sets take
    * [[pruneByBloom]] (one collect + broadcast); LARGER sets take the
    * JOIN-SHAPED [[pruneByBloomJoin]] — exactly the merges that need the
    * index most no longer fall off a policy cliff back to reading every
    * candidate. `keyDf`'s FIRST column is the key. */
  private[graft] def bloomPrune(spark: SparkSession, lakeDir: String,
      base: LakeState, candidates: Seq[String], idCol: String,
      keyDf: DataFrame, keyCount: Long): Seq[String] =
    if (candidates.isEmpty || keyCount <= 0L || !base.bloomCols.contains(idCol))
      candidates
    else if (keyCount <= math.min(bloomProbeMaxKeys(spark), bloomCollectMaxKeys(spark)))
      pruneByBloom(spark, lakeDir, base, candidates, idCol,
        keyDf.distinct().collect().map(_.get(0)))
    else pruneByBloomJoin(spark, lakeDir, base, candidates, idCol, keyDf)

  /** [[pruneByBloom]] above the broadcast cap — the Hudi bloom-index
    * tag-location shape: the probe keys NEVER visit the driver. Their
    * parquet hashes (XXH64 of the plain-encoded value — instance-free,
    * so a throwaway [[org.apache.parquet.column.values.bloomfilter
    * .BlockSplitBloomFilter]] computes them executor-side) are distinct'd
    * and chunked into ≤[[bloomProbeMaxKeys]]-sized partitions, then every
    * (candidate file × hash chunk) pair probes the file's footer bloom in
    * a task and the per-file verdicts OR-reduce. Footer opens =
    * candidates × chunks, all distributed; driver traffic = the kept file
    * list, bounded by the candidates it was given. Exactness-preserving
    * like the broadcast probe: a missing column, absent bloom, foreign
    * hash strategy, or a physical type other than the schema's keeps the
    * file; a key column whose frame type cannot hash keeps everything. */
  private[graft] def pruneByBloomJoin(spark: SparkSession, lakeDir: String,
      st: LakeState, candidates: Seq[String], colName: String,
      keyDf: DataFrame): Seq[String] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    if (candidates.isEmpty) return candidates
    val schema = scala.util.Try(DataType.fromJson(st.schemaJson))
      .toOption.collect { case s: StructType => s }
    val field = schema.flatMap(_.find(_.name == colName))
    val phys = field.map(physicalName).getOrElse(colName)
    // the CURRENT schema fixes the primitive type the hashes target; a
    // file still carrying a narrower pre-widen physical type keeps below
    val ptn = field.map(_.dataType).collect {
      case LongType => PrimitiveTypeName.INT64
      case IntegerType | ShortType | ByteType => PrimitiveTypeName.INT32
      case StringType => PrimitiveTypeName.BINARY
    }.getOrElse(return candidates)
    val keyType = keyDf.schema.head.dataType
    val hashable = (ptn, keyType) match {
      case (PrimitiveTypeName.INT64 | PrimitiveTypeName.INT32,
        LongType | IntegerType | ShortType | ByteType) => true
      case (PrimitiveTypeName.BINARY, StringType) => true
      case _ => false
    }
    if (!hashable) return candidates
    bloomJoinProbes.incrementAndGet()
    val keyName = keyDf.columns.head
    val hashRdd = keyDf.select(keyName).na.drop().distinct().rdd.mapPartitions { it =>
      val hasher = new org.apache.parquet.column.values.bloomfilter
        .BlockSplitBloomFilter(64)
      it.map { r =>
        (ptn, r.get(0)) match {
          case (PrimitiveTypeName.INT64, n: java.lang.Number) => hasher.hash(n.longValue())
          case (PrimitiveTypeName.INT32, n: java.lang.Number) => hasher.hash(n.intValue())
          case (_, v) => hasher.hash(
            org.apache.parquet.io.api.Binary.fromString(String.valueOf(v)))
        }
      }
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = hashRdd.count()
      if (n == 0L) return candidates // null-only keys match nothing; stay conservative
      // chunk count = ceil(distinct hashes / probeMaxKeys), UNCAPPED: a
      // glom'd chunk is at most probeMaxKeys longs (~32 MB), and the
      // probe grid is candidates × chunks TASKS — at 1G keys that is
      // 250 chunks against an already stat/path-pruned candidate list,
      // which distributes; a cap here would instead let chunks grow past
      // executor memory
      val chunks = math.max(1L,
        (n + bloomProbeMaxKeys(spark) - 1) / bloomProbeMaxKeys(spark)).toInt
      val hashChunks = hashRdd.repartition(chunks).glom()
      val taskConf = TaskHadoopConf(spark)
      val rootStr = fsRoot(spark, lakeDir)._2.toString
      val candRdd = spark.sparkContext.parallelize(candidates,
        math.min(candidates.size, spark.sparkContext.defaultParallelism))
      candRdd.cartesian(hashChunks).map { case (rel, hashes) =>
        import scala.jdk.CollectionConverters._
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new Path(new Path(rootStr), rel), taskConf.value))
        val keep = try {
          reader.getFooter.getBlocks.asScala.exists { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == phys) match {
              case None => true // column absent (pre-evolution file): keep
              case Some(c) =>
                val bf = reader.getBloomFilterDataReader(b).readBloomFilter(c)
                if (bf == null ||
                    bf.getHashStrategy != org.apache.parquet.column.values
                      .bloomfilter.BloomFilter.HashStrategy.XXH64 ||
                    c.getPrimitiveType.getPrimitiveTypeName != ptn) true
                else hashes.exists(bf.findHash)
            }
          }
        } finally reader.close()
        (rel, keep)
      }.reduceByKey(_ || _).filter(_._2).map(_._1).collect().toSeq.sorted
    } finally hashRdd.unpersist(blocking = false)
  }

  /** READ-side bloom consultation (the Delta bloom-index point-lookup
    * use): every predicate bound that pins a bloomed column to ONE
    * value (`id = x` — lo == hi, the needle query a 100 TB lake serves
    * constantly) probes the candidates' blooms with that driver-known
    * value, and every IN-LIST on a bloomed column probes DISJUNCTIVELY
    * (a file keeps iff ANY listed value might be present —
    * [[pruneByBloom]]'s native semantics, so `id IN (a, b, c)` reads
    * O(matching) files too). Range and open bounds pass through — a
    * hash answers only equality. Applied by the sparse `WHERE`
    * mutations and the DSv2 scan's partition planning, after min/max
    * stats; pathological literal lists are capped at
    * [[bloomProbeMaxKeys]]. */
  private[graft] def bloomPruneBounds(spark: SparkSession, lakeDir: String,
      st: LakeState, candidates: Seq[String],
      bounds: Seq[ColBound],
      inLists: Seq[(String, Seq[Any])] = Seq.empty): Seq[String] = {
    val probes =
      bounds.collect {
        case b if b.lo != null && b.hi != null && b.lo == b.hi &&
          st.bloomCols.contains(b.col) => (b.col, Seq(b.lo))
      } ++ inLists.filter { case (c, vs) =>
        st.bloomCols.contains(c) && vs.nonEmpty && vs.size <= bloomProbeMaxKeys(spark)
      }
    probes.foldLeft(candidates) { (c, p) =>
      if (c.isEmpty) c
      else pruneByBloom(spark, lakeDir, st, c, p._1, p._2.toArray)
    }
  }

  /** Create a lake: write the initial partition layout and commit version
    * 1 over exactly the files that landed. Overwrite semantics — anything
    * at `lakeDir` (a previous run's lake, log included) is replaced.
    * `statsCols` seeds per-file min/max stats for later append pruning.
    * Returns the read-back. */
  def init(spark: SparkSession, df: DataFrame, lakeDir: String,
      partitionCols: Seq[String], statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty): DataFrame = {
    validateLayout(partitionCols, df.schema, "Lake.init")
    validateBloomCols(bloomCols, df.schema, "Lake.init")
    val (fs, root) = fsRoot(spark, lakeDir)
    if (fs.exists(root)) fs.delete(root, true)
    // no manifest exists yet, so the bloom write options ride explicitly
    // (every later write resolves them from the manifest inside stageWrite)
    val files = stageWrite(spark, lakeDir, df, partitionCols, bloomOptions(spark, bloomCols))
    val schemaJson =
      if (files.isEmpty) df.schema.json
      else readFiles(spark, lakeDir, df.schema.json, files).schema.json
    val stats =
      if (files.isEmpty) Map.empty[String, Seq[ColStat]]
      else auditStaged(spark, lakeDir, schemaJson, files, statsCols)._2
    // the init RECORDS its layout specs: a transform layout's levels
    // (`ts_day=...`) must never be re-parsed off the paths as identity
    // columns by the fallback
    val specs = partitionCols.map(parseLayoutField(_).spec)
    val blm = if (bloomCols.isEmpty) None else Some(bloomCols)
    val post = LakeState(1L, schemaJson, files.sorted, stats, layout = Some(specs),
      bloomCols = bloomCols)
    commitDelta(spark, lakeDir,
      DeltaRecord(1L, "init", schemaJson,
        files.map(f => f -> stats.getOrElse(f, Seq.empty)), Seq.empty,
        layout = Some(specs), bloomCols = blm),
      Some(post))
    read(spark, lakeDir)
  }

  /** Record (or change) the lake's BLOOM-FILTER column set as a
    * METADATA commit (Delta bloom-index parity over parquet's own
    * footer blooms): every subsequent data write carries per-file bloom
    * filters for these columns, and [[pruneByBloom]] file-skips
    * equality/IN-shaped key sets min/max stats cannot prune
    * (uniformly-distributed ids). Existing files simply lack blooms and
    * always keep — the setting applies progressively; a compaction
    * rewrite backfills them. Columns must be integral or string (the
    * key types the probe hashes). */
  def setBloomCols(spark: SparkSession, lakeDir: String, cols: Seq[String]): Unit = {
    val base = adopt(spark, lakeDir)
    val schema = visible(DataType.fromJson(base.schemaJson).asInstanceOf[StructType])
    validateBloomCols(cols, schema, "setBloomCols")
    require(cols != base.bloomCols,
      s"setBloomCols: [${cols.mkString(", ")}] is already the bloom column set")
    publish(spark, StagedCommit(lakeDir, base, "bloomcols", base.schemaJson,
      Seq.empty, Seq.empty, 0L, 0L, bloomCols = Some(cols)))
  }

  private def validateBloomCols(cols: Seq[String], schema: StructType,
      ctx: String): Unit = {
    val missing = cols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"$ctx: bloom column(s) not in the schema: ${missing.mkString(", ")}")
    cols.foreach { c =>
      val dt = schema(c).dataType
      require(dt == StringType || dt == LongType || dt == IntegerType ||
        dt == ShortType || dt == ByteType,
        s"$ctx: bloom filters index integral or string keys, '$c' is ${dt.simpleString}")
    }
  }

  /** Parquet-mr write options enabling footer bloom filters for `cols`
    * (PHYSICAL names — option keys address on-disk columns). Adaptive
    * sizing: the writer keeps the smallest candidate bloom meeting the
    * target FPP for the observed NDV, so small files pay bytes
    * proportional to their keys, not the 1 MiB default bound. */
  private[graft] def bloomOptions(spark: SparkSession, cols: Seq[String]): Map[String, String] =
    if (cols.isEmpty) Map.empty
    else cols.map(c => s"parquet.bloom.filter.enabled#$c" -> "true").toMap ++ Map(
      "parquet.bloom.filter.adaptive.enabled" -> "true",
      // FILE-level false positives compound per probed key
      // (1-(1-fpp)^keys): a merge probes thousands of keys against
      // every candidate's bloom, so the per-key FPP must sit far below
      // parquet's 0.01 default or no file would ever prune — the Hudi
      // bloom-index lesson (its default fpp is 1e-9). 1e-7 costs ~34
      // bits ≈ 4 bytes of footer per key — noise against a corpus row,
      // decisive for skipping: 10k probe keys still FP only ~0.1% of
      // innocent files. Lakes that expect MILLION-key join-shaped
      // probes ([[pruneByBloomJoin]]) should set the session conf
      // below before writing — at 1e-9 even 4M probe keys FP only
      // ~0.4% of innocent files, for ~1.4x the footer bytes. The byte
      // cap rises so adaptive sizing, not truncation, decides large
      // files' filters.
      "parquet.bloom.filter.fpp" ->
        spark.conf.getOption("spark.graft.lake.bloom.fpp").getOrElse("1.0E-7"),
      "parquet.bloom.filter.max.bytes" -> (32 * 1024 * 1024).toString)

  /** PLAIN protocol append — the DSv2 write path's `INSERT INTO`: stage
    * the batch into the lake's existing partition layout, audit the
    * read-back, publish one `append` delta (pure-add, so raced inserts
    * rebase freely). No dedup, no schema merge — SQL INSERT semantics,
    * with the batch aligned to the manifest schema by NAME (Spark's
    * insert resolution has already validated/coerced columns). Refuses
    * on a lake without a committed manifest or files: an empty target
    * has no layout to insert into — create it with [[init]] /
    * `ingestToLake` first. */
  private[graft] def append(spark: SparkSession, lakeDir: String, df: DataFrame,
      txn: Option[(String, Long)] = None): Unit = {
    val base = adopt(spark, lakeDir)
    // idempotent-write fast path: a replayed transaction skips BEFORE
    // the input is even materialized — the restarted streaming query's
    // re-delivered micro-batch (or a retried `txnAppId` batch write)
    // costs one manifest resolution, zero data reads. [[publish]]
    // re-checks against the rebased head, closing the race window.
    if (txn.exists { case (a, v) => base.txns.get(a).exists(_ >= v) }) return
    // a NEVER-POPULATED manifest lake (catalog CREATE TABLE: schema
    // committed, no file ever added) bootstraps as unpartitioned — its
    // empty layout IS the layout. A lake that merely became empty (every
    // row deleted from a partitioned layout, history retained) still
    // refuses: inserting unpartitioned files into a partitioned tree
    // would mix layouts.
    if (base.files.isEmpty && !(base.version >= 1 && base.history.isEmpty))
      throw new UnsupportedOperationException(
        s"graft-lake: $lakeDir has no committed layout to insert into — initialize the " +
          "lake first (Lake.init / ingestToLake)")
    val lakeSchema = visible(DataType.fromJson(base.schemaJson).asInstanceOf[StructType])
    val aligned = df.select(lakeSchema.map(f => col(f.name).cast(f.dataType)): _*)
    // the audit count AND the CHECK-constraint sums ride the write job
    // itself as OBSERVED metrics (CollectMetrics — exactly-once on the
    // write's result-stage tasks), so one INSERT pays ONE data job: the
    // old shape's localCheckpoint + count (+ a checks aggregate) were
    // three more jobs per micro-batch, which at 100× makes a streaming
    // sink driver-job-bound before it is data bound. The input is now
    // evaluated exactly once (in the write), so the checkpoint's
    // determinism guarantee is subsumed, and the audit stays a real
    // two-channel check: task-side observed count vs the staged files'
    // own footer row counts.
    val (instrumented, audit) = observedAudit(base.checks, aligned)
    val staged = stageWrite(spark, lakeDir, instrumented, layoutSpecsOf(base))
    // roll the invisible staged files back on a violating/empty batch.
    // A crash between stageWrite and this rollback leaves the refused
    // batch's files behind as orphans: no log entry names them, so no
    // reader sees them, and `vacuum` reclaims them like any other
    // unreferenced file once they are older than its `minAgeMs` grace.
    val expected =
      try audit()
      catch { case e: Throwable => deleteFiles(spark, lakeDir, staged); throw e }
    if (expected == 0) {
      deleteFiles(spark, lakeDir, staged)
      return
    }
    val (rows, stats) = auditStaged(spark, lakeDir, base.schemaJson, staged, Seq.empty)
    publish(spark, StagedCommit(lakeDir, base, "append", base.schemaJson,
      Seq.empty, staged, rows, expected, stats, txn = txn))
  }

  /** Append-mode write of `df` into the lake's partition layout, returning
    * the relative paths of the files it created. The write lands in a
    * PER-WRITER staging directory (`_graft_staging/<uuid>/`, hidden from
    * every reader and from [[listDataFiles]]) and the staged files are
    * then renamed into the lake's partition directories one by one — so
    * "which files did THIS writer stage" is the writer's own move list,
    * never a before/after listing diff. A listing diff looks race-free
    * (part-file names embed a unique job UUID so they can't collide) but
    * is not: two concurrent appends into the same partition dirs would
    * each CLAIM the other's just-written files, and the doubled `added`
    * entry would make readers double-read those rows. Claiming by staging
    * dir makes concurrent stages fully disjoint by construction, with no
    * listing cost at all. Nothing pre-existing is opened, and the staged
    * files stay invisible to manifest readers until the delta lands — a
    * crash mid-stage or mid-move strands invisible orphans at worst
    * ([[vacuum]] reclaims them). The per-file rename is a metadata move
    * on POSIX/HDFS; an object store without cheap rename would swap in a
    * direct-to-final write committer here. */
  /** The latest manifest schema IF it carries a column mapping — the
    * write-side translation gate. One driver-side log resolution; the
    * common (unmapped) case answers without parsing field metadata
    * twice. */
  private def mappingOf(spark: SparkSession, lakeDir: String): Option[StructType] =
    latestManifest(spark, lakeDir)
      .map(st => DataType.fromJson(st.schemaJson).asInstanceOf[StructType])
      .filter(hasMapping)

  /** ONE driver-side manifest resolution answering both write-time
    * questions: the column-mapping schema (frames rename to physical
    * before a byte lands) and the bloom-filter write options
    * ([[LakeState.bloomCols]] translated to physical names — parquet
    * option keys address on-disk columns). */
  private def writeContext(spark: SparkSession,
      lakeDir: String): (Option[StructType], Map[String, String]) =
    latestManifest(spark, lakeDir) match {
      case None => (None, Map.empty)
      case Some(st) =>
        val schema = DataType.fromJson(st.schemaJson).asInstanceOf[StructType]
        val phys = st.bloomCols.flatMap(c => schema.find(_.name == c)).map(physicalName)
        (Some(schema).filter(hasMapping), bloomOptions(spark, phys))
    }

  private[graft] def stageWrite(spark: SparkSession, lakeDir: String, df: DataFrame,
      partitionCols: Seq[String], writeOptions: Map[String, String] = Map.empty): Seq[String] = {
    val (fs, root) = fsRoot(spark, lakeDir)
    val staging = new Path(new Path(root, StagingDirName), java.util.UUID.randomUUID().toString)
    // under a column mapping, files are SPELLED physical: rename the
    // frame's mapped logical columns before a byte lands; the manifest's
    // bloomCols ride as parquet bloom write options on every data write
    val (mapped, bloomOpts) = writeContext(spark, lakeDir)
    val out0 = mapped.fold(df)(toPhysicalDf(df, _))
    // `partitionCols` entries are layout SPECS: identity names partition
    // directly (the column leaves the footers), transform fields render
    // their derived level column first — the source column STAYS in the
    // data files (Iceberg transform semantics). partitionBy drops only
    // the derived level.
    val (out, levelNames) = withLevelCols(out0, partitionCols)
    out.write.mode("overwrite").options(bloomOpts ++ writeOptions)
      .partitionBy(levelNames: _*).parquet(staging.toString)
    val stagingQ = fs.makeQualified(staging)
    val moved = Seq.newBuilder[String]
    try {
      if (fs.exists(staging)) {
        val it = fs.listFiles(staging, true)
        while (it.hasNext) {
          val f = it.next().getPath
          val rel = relativize(stagingQ, fs.makeQualified(f))
          val segments = rel.split('/')
          if (f.getName.endsWith(".parquet") &&
              !segments.exists(s => s.startsWith("_") || s.startsWith("."))) {
            val target = new Path(root, rel)
            fs.mkdirs(target.getParent)
            if (!fs.rename(f, target))
              throw new IllegalStateException(
                s"staged-file move failed: $f -> $target (already-moved files are " +
                  "invisible orphans; vacuum reclaims them)")
            moved += rel
          }
        }
      }
    } finally fs.delete(staging, true)
    moved.result().sorted
  }

  /** [[stageWrite]] with a LEADING STAGING-ONLY tag level: the frame
    * writes ONCE partitioned by (`tagCol`, layout levels), and the move
    * into the data tree STRIPS the tag segment — so one write job
    * yields files exactly split by tag (part-file names embed a unique
    * job UUID, so stripped siblings can never collide). The device that
    * lets a merge stage its update post-images and its inserts as
    * separate files without a second write pass. Returns tag value →
    * moved relative paths. */
  private[graft] def stageWriteTagged(spark: SparkSession, lakeDir: String,
      df: DataFrame, tagCol: String, partitionCols: Seq[String],
      writeOptions: Map[String, String] = Map.empty): Map[String, Seq[String]] = {
    val (fs, root) = fsRoot(spark, lakeDir)
    val staging = new Path(new Path(root, StagingDirName), java.util.UUID.randomUUID().toString)
    val (mapped, bloomOpts) = writeContext(spark, lakeDir)
    val out0 = mapped.fold(df)(toPhysicalDf(df, _))
    val (out, levelNames) = withLevelCols(out0, partitionCols)
    out.write.mode("overwrite").options(bloomOpts ++ writeOptions)
      .partitionBy((tagCol +: levelNames): _*).parquet(staging.toString)
    val stagingQ = fs.makeQualified(staging)
    val byTag = scala.collection.mutable.Map[String, Vector[String]]()
    try {
      if (fs.exists(staging)) {
        val it = fs.listFiles(staging, true)
        while (it.hasNext) {
          val f = it.next().getPath
          val rel = relativize(stagingQ, fs.makeQualified(f))
          val segments = rel.split('/')
          val nonTagHidden = segments.tail.exists(s =>
            s.startsWith("_") || s.startsWith("."))
          if (f.getName.endsWith(".parquet") && !nonTagHidden &&
              segments.head.startsWith(tagCol + "=")) {
            val tag = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .unescapePathName(segments.head.drop(tagCol.length + 1))
            // ONE task writes the same part-file name into every
            // (tag, partition) dir pair it touches — the stripped
            // siblings WOULD collide, so the tag prefixes the file name
            val stripped = (segments.tail.dropRight(1) :+ s"$tag-${segments.last}")
              .mkString("/")
            val target = new Path(root, stripped)
            fs.mkdirs(target.getParent)
            if (!fs.rename(f, target))
              throw new IllegalStateException(
                s"staged-file move failed: $f -> $target (already-moved files are " +
                  "invisible orphans; vacuum reclaims them)")
            byTag.updateWith(tag)(v => Some(v.getOrElse(Vector.empty) :+ stripped))
          }
        }
      }
    } finally fs.delete(staging, true)
    byTag.view.mapValues(_.sorted.toSeq).toMap
  }

  // ------------------------------------------------------------------
  // Partition transforms (Iceberg's spec-evolution grammar)
  // ------------------------------------------------------------------

  /** One field of a write layout — Iceberg's partition-transform
    * grammar: a bare column name is IDENTITY (the column leaves the
    * footers and lives in the path); `days(ts)` / `hours(ts)` /
    * `bucket(n, col)` / `truncate(w, col)` render a DERIVED directory
    * level (named `<col>_day` / `<col>_hour` / `<col>_bucket` /
    * `<col>_trunc`) while the source column STAYS in the data files —
    * so a 100 TB events lake can evolve its time grain as a metadata
    * commit and every reader still finds `ts` in the footers.
    * `levelName` is what the directory spells; [[layoutOfPath]] and
    * generation matching speak level names throughout. */
  private[graft] final case class LayoutField(spec: String, kind: String,
      source: String, param: Int, levelName: String) {
    def identity: Boolean = kind == "identity"
  }

  private val TransformRe =
    """^\s*(years|months|days|hours|bucket|truncate)\s*\(\s*(?:(\d+)\s*,\s*)?([^\s(),]+)\s*\)\s*$""".r

  private[graft] def parseLayoutField(spec: String): LayoutField = spec match {
    case TransformRe(kind, param, src) =>
      val needsParam = kind == "bucket" || kind == "truncate"
      require(needsParam == (param != null),
        s"layout transform '$spec': ${if (needsParam) s"$kind(n, col) takes a count"
          else s"$kind(col) takes no count"}")
      val p = Option(param).map(_.toInt).getOrElse(0)
      require(!needsParam || p > 0, s"layout transform '$spec': count must be positive")
      // parameterized transforms render SELF-DESCRIBING level names
      // (`doc_id_bucket16=`, `text_trunc3=`): the param rides in every
      // path, so pruning can recompute bucket membership / compare
      // prefixes for ANY generation's files without ambiguity when a
      // later evolve changes the count
      val suffix = kind match {
        case "years" => "_year"
        case "months" => "_month"
        case "days" => "_day"
        case "hours" => "_hour"
        case "bucket" => s"_bucket$p"
        case "truncate" => s"_trunc$p"
      }
      LayoutField(s"$kind(${if (needsParam) s"$p, " else ""}$src)",
        kind, src, p, src + suffix)
    case name if name.nonEmpty && !name.contains('(') && !name.contains(')') =>
      LayoutField(name.trim, "identity", name.trim, 0, name.trim)
    case other =>
      throw new IllegalArgumentException(
        s"unparseable layout field '$other' — expected a column name, days(col), " +
          "hours(col), bucket(n, col) or truncate(w, col)")
  }

  /** Parse AND validate a write-layout spec list against `schema` — the
    * ONE gate every layout-accepting entry point shares ([[init]],
    * [[evolveLayout]], relayout/compaction and the first-ever ingest),
    * so no path can silently commit a layout readers would misread:
    * sources must be schema columns; level names must be unique; a
    * transform's derived level must not SHADOW a schema column (readers
    * classify identity-vs-transform levels by schema membership, and
    * [[withLevelCols]]' withColumn would silently overwrite the user's
    * data); an IDENTITY field must not be SPELLED like another schema
    * column's transform level (`<col>_day`, `<col>_bucket4`, … — path
    * pruning resolves levels by name pattern and would prune the
    * identity column's arbitrary values by transform semantics); and
    * transform sources must type-check against their rendering.
    * Returns the parsed fields; callers record `fields.map(_.spec)` —
    * the NORMALIZED spelling, so layout equality never hinges on
    * whitespace. */
  private[graft] def validateLayout(specs: Seq[String], schema: StructType,
      ctx: String): Seq[LayoutField] = {
    val fields = specs.map(parseLayoutField)
    val missing = fields.map(_.source).filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"$ctx: layout source column(s) not in the schema: ${missing.mkString(", ")} " +
        s"(have: ${schema.fieldNames.mkString(", ")})")
    require(fields.map(_.levelName).distinct.size == fields.size,
      s"$ctx: duplicate partition level(s)")
    val shadowing = fields.filterNot(_.identity).map(_.levelName)
      .filter(schema.fieldNames.contains)
    require(shadowing.isEmpty,
      s"$ctx: transform level name(s) ${shadowing.mkString(", ")} collide " +
        "with schema column(s) — rename the column or choose another transform")
    val transformish = "^(.*)_(year|month|day|hour|bucket\\d+|trunc\\d+)$".r
    fields.filter(_.identity).map(_.levelName).foreach {
      case lvl @ transformish(src, _) if schema.fieldNames.contains(src) =>
        throw new IllegalArgumentException(
          s"$ctx: identity partition column '$lvl' is spelled like a transform " +
            s"level of schema column '$src' — path pruning would misread its " +
            s"directory values; rename the column or partition by a transform of '$src'")
      case _ =>
    }
    fields.filterNot(_.identity).foreach { f =>
      val dt = schema(schema.fieldIndex(f.source)).dataType
      f.kind match {
        case "years" | "months" | "days" | "hours" =>
          require(dt.typeName.startsWith("timestamp") ||
            dt == org.apache.spark.sql.types.DateType,
            s"$ctx: ${f.spec} needs a timestamp/date source, '${f.source}' is ${dt.simpleString}")
        case "truncate" =>
          require(dt == StringType || dt == LongType || dt == IntegerType ||
            dt == ShortType || dt == ByteType,
            s"$ctx: ${f.spec} needs a string or integral source, '${f.source}' is ${dt.simpleString}")
        case _ => // bucket hashes any atomic type
      }
    }
    fields
  }

  /** The rendering expression producing one transform level's directory
    * value from its source column — the SAME formula at write time and
    * (driver-side, [[renderTransformValue]]) at prune time, so path
    * pruning compares apples to apples. days/hours render sortable
    * fixed-width strings; bucket is a Murmur3 hash mod n (Spark's
    * `hash`, documented — not Iceberg's exact bucket function);
    * truncate is a string prefix / integral floor. */
  private def transformCol(f: LayoutField, source: org.apache.spark.sql.Column,
      dt: DataType): org.apache.spark.sql.Column = f.kind match {
    case "years" => date_format(source, "yyyy")
    case "months" => date_format(source, "yyyy-MM")
    case "days" => date_format(source, "yyyy-MM-dd")
    case "hours" => date_format(source, "yyyy-MM-dd-HH")
    case "bucket" => pmod(hash(source), lit(f.param))
    case "truncate" => dt match {
      case StringType => substring(source, 1, f.param)
      case _ => source - pmod(source, lit(f.param.toLong))
    }
    case other => throw new IllegalStateException(s"no transform rendering for $other")
  }

  /** Append the DERIVED level columns a layout's transform fields
    * render (no-op for identity layouts); returns the widened frame and
    * the layout's level names in order — the shared device of
    * [[stageWrite]], [[stageCdc]] and the compaction/relayout grouping.
    * Re-derivation is deterministic (pure column formulas), so a frame
    * that already carries a level column is simply re-rendered
    * identically. */
  private[graft] def withLevelCols(df: DataFrame,
      specs: Seq[String]): (DataFrame, Seq[String]) = {
    val fields = specs.map(parseLayoutField)
    val out = fields.filterNot(_.identity).foldLeft(df) { (d, f) =>
      d.withColumn(f.levelName,
        transformCol(f, col(f.source), d.schema(f.source).dataType))
    }
    (out, fields.map(_.levelName))
  }

  /** One STRING-rendering Column per layout level — identity levels
    * cast to string (the [[partitionDir]] rendering), transform levels
    * through [[transformCol]] — over a frame carrying `schema`. The
    * DSv2 streaming sink analyzes these over a dummy relation and binds
    * the resolved Catalyst expressions into its per-row directory
    * projection, so its rendering IS the batch path's formulas (casts,
    * session time zone, hash seed and all) by construction, never a
    * re-implementation that could drift. */
  private[graft] def levelRenderCols(schema: StructType,
      specs: Seq[String]): Seq[(String, org.apache.spark.sql.Column)] =
    specs.map(parseLayoutField).map { f =>
      val c =
        if (f.identity) col(f.source).cast("string")
        else transformCol(f, col(f.source),
          schema(schema.fieldIndex(f.source)).dataType).cast("string")
      f.levelName -> c
    }

  /** The raw layout SPECS of the lake's write layout (identity names
    * and/or transform expressions). The path-derived fallback (adopted
    * pre-manifest lakes) is always identity. */
  private[graft] def layoutSpecsOf(st: LakeState): Seq[String] =
    st.layout.getOrElse(st.files.headOption.toSeq.flatMap(layoutOfPath))

  private[graft] def layoutFieldsOf(st: LakeState): Seq[LayoutField] =
    layoutSpecsOf(st).map(parseLayoutField)

  /** The directory LEVEL names the write layout renders — what new
    * files' paths spell, and the coordinate system generation matching
    * uses. */
  private[graft] def levelNamesOf(st: LakeState): Seq[String] =
    layoutFieldsOf(st).map(_.levelName)

  /** The IDENTITY partition columns of the lake's write layout — the
    * schema columns that are path-resident (not in footers). Transform
    * fields are excluded: their SOURCE columns stay in the data files.
    * For pure-identity layouts (every pre-transform lake) this is the
    * full layout, unchanged. */
  private[graft] def partitionColsOf(st: LakeState): Seq[String] =
    layoutFieldsOf(st).filter(_.identity).map(_.source)

  /** The distinct layout GENERATIONS the live files spell
    * (path-derived). Size > 1 after an [[evolveLayout]] while both
    * generations are still live. */
  private[graft] def layoutGenerationsOf(st: LakeState): Seq[Seq[String]] =
    st.files.map(layoutOfPath).distinct

  /** The partition-column sequence one lakeDir-relative data-file path
    * SPELLS (its `col=value` directory segments, in order). */
  private def layoutOfPath(f: String): Seq[String] =
    f.split('/').dropRight(1).toSeq.map { seg =>
      val eq = seg.indexOf('=')
      require(eq > 0, s"not a partition directory segment: $seg")
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(seg.take(eq))
    }

  /** Stage one change-feed sidecar: write the given pre-image rows under
    * [[CdcDirName]]`/<uuid>`, partitioned exactly like the data tree so
    * the streaming source decodes them with the same machinery as data
    * files (partition values from the path). Invisible to every reader
    * until the delta lands; [[abort]] deletes it. Extra non-schema
    * columns (e.g. row lineage) ride along in the footers and are
    * ignored by every schema-projected reader. Returns the sidecar's
    * relative path. */
  private[graft] def stageCdc(spark: SparkSession, lakeDir: String, rows: DataFrame,
      partitionCols: Seq[String]): String = {
    val (_, root) = fsRoot(spark, lakeDir)
    val rel = s"$CdcDirName/${java.util.UUID.randomUUID()}"
    val out0 = mappingOf(spark, lakeDir).fold(rows)(toPhysicalDf(rows, _))
    // `partitionCols` are layout SPECS exactly as in [[stageWrite]]:
    // sidecars partition like the data tree, transform levels included
    val (out, levelNames) = withLevelCols(out0, partitionCols)
    out.write.mode("errorifexists").partitionBy(levelNames: _*)
      .parquet(new Path(root, rel).toString)
    rel
  }

  /** Open ONE just-staged CDC sidecar dir under the manifest schema the
    * writer staged it with — the mutation paths' read-back. An explicit
    * schema here is a driver-job shed, not a convenience: a schema-less
    * `spark.read.parquet` pays a footer-inference Spark job per
    * mutation, and the writer already knows the schema exactly (the
    * physical visible columns, plus the `(_gf_file, _gf_pos)` lineage
    * pair when the staged frame carried row coordinates). Identity
    * partition levels resolve from the directory names via `basePath`,
    * exactly as in [[readCdcSidecars]]. */
  private[graft] def openStagedCdc(spark: SparkSession, cdcAbs: String,
      schemaJson: String, withLineage: Boolean): DataFrame = {
    val schema = visible(DataType.fromJson(schemaJson).asInstanceOf[StructType])
    val readSchema =
      if (!withLineage) toPhysical(schema)
      else StructType(toPhysical(schema).fields ++ Seq(
        StructField("_gf_file", StringType), StructField("_gf_pos", LongType)))
    spark.read.option("basePath", cdcAbs).schema(readSchema).parquet(cdcAbs)
  }

  /** Read change-feed sidecar dirs under the given manifest schema —
    * each with ITS OWN basePath so its partition directories parse back
    * into partition columns regardless of the `_graft_cdc/<uuid>` prefix.
    * `withLineage` additionally reads the `(_gf_file, _gf_pos)` row
    * coordinates the mutation recorded (NULL for sidecars written
    * without them) — the key the raced-tombstone dedup anti-joins on. */
  private def readCdcSidecars(spark: SparkSession, root: Path, schemaJson: String,
      dirs: Seq[String], withLineage: Boolean = false): DataFrame = {
    val schema = visible(DataType.fromJson(schemaJson).asInstanceOf[StructType])
    val readSchema =
      if (!withLineage) toPhysical(schema)
      else StructType(toPhysical(schema).fields ++ Seq(
        StructField("_gf_file", StringType), StructField("_gf_pos", LongType)))
    val raw = dirs.map { d =>
      val p = new Path(root, d).toString
      spark.read.option("basePath", p).schema(readSchema).parquet(p)
    }.reduce(_.unionByName(_))
    if (hasMapping(schema)) toLogical(raw, schema) else raw
  }

  /** Stage one deletion-vector sidecar: write the `(file, pos)` rows
    * under [[DvDirName]]`/<uuid>` — invisible to every reader until the
    * delta lands ([[abort]] deletes it). Both audit questions ride the
    * write itself as observed metrics: the row count is the publish
    * audit's staged side, the `collect_set(file)` keys are the
    * attachment targets for the delta's `D` lines (bounded by the
    * affected file count, never the row count — the sparse path is only
    * chosen when candidates are few). The second audit channel — disk
    * truth against the plan's claim, the role the old read-back job
    * played — is the sidecar footers' own row counts, read driver-side
    * (a handful of files by construction, zero Spark jobs): a count
    * mismatch means the write lost rows and the mutation must not
    * publish. */
  private[graft] def stageDv(spark: SparkSession, lakeDir: String,
      dvRows: DataFrame): (String, Long, Seq[String]) = {
    val (fs, root) = fsRoot(spark, lakeDir)
    val rel = s"$DvDirName/${java.util.UUID.randomUUID()}"
    val obs = new org.apache.spark.sql.Observation(
      s"graft-dv-${java.util.UUID.randomUUID()}")
    dvRows.select(col("file").cast(StringType), col("pos").cast(LongType))
      .observe(obs, count(lit(1)).as("_gf_n"),
        org.apache.spark.sql.functions.collect_set(col("file")).as("_gf_files"))
      .write.mode("errorifexists").parquet(new Path(root, rel).toString)
    val m = org.apache.spark.sql.graft.ObservationBridge.awaitMetrics(obs, 120000L)
      .getOrElse(throw new IllegalStateException(
        s"stageDv: observed sidecar metrics never arrived for $rel"))
    val n = m("_gf_n").asInstanceOf[Long]
    val files = m("_gf_files").asInstanceOf[scala.collection.Seq[String]].toSeq.sorted
    val sidecarFiles = fs.listStatus(new Path(root, rel)).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => relativize(fs.makeQualified(root), fs.makeQualified(s.getPath)))
    val footerN = footerStats(spark, root, sidecarFiles, Seq.empty)
      .valuesIterator.map(_._1).sum
    if (footerN != n)
      throw new IllegalStateException(
        s"stageDv: sidecar $rel footers hold $footerN row(s) but the write " +
          s"observed $n — the staged deletion vector is torn; refusing to publish")
    (rel, n, files)
  }

  /** Incremental (CDC-style) read: the GENUINELY NEW rows between two
    * committed versions. The delta log's action kinds make this exact
    * where the full-listing diff could not be: only data-adding commits
    * (append / init / adopt) contribute their added files; rewrite-only
    * commits (compact) and row-removing commits (delete) contribute
    * nothing — a consumer no longer double-processes the corpus after a
    * compaction. Cost is O(the delta's files), never the lake.
    *
    * A data-added file that a LATER in-range commit rewrote is still read
    * (its rows are the new data) — if an eager vacuum already reclaimed
    * it, the read fails loudly naming the files: run mutations with
    * `retainHistory` (or defer [[vacuumKeeping]]) on lakes with
    * incremental consumers. Rows added in-range and then deleted in-range
    * still surface: this is adds-CDC, not a row-level diff. */
  def changesBetween(spark: SparkSession, lakeDir: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    val (fs, root) = fsRoot(spark, lakeDir)
    val to = stateAt(spark, lakeDir, toVersion) // also validates toVersion
    if (fromVersion == toVersion)
      return readFiles(spark, lakeDir, to.schemaJson, Seq.empty)
    stateAt(spark, lakeDir, fromVersion) // validates fromVersion is resolvable
    val added = Seq.newBuilder[String]
    ((fromVersion + 1) to toVersion).foreach { v =>
      val d = deltaAt(spark, lakeDir, v)
      // data-adding actions contribute everything they added; every other
      // action contributes only files NOT tagged as pre-image rewrites —
      // which is nothing for delete/compact (all their adds are tagged)
      // and exactly the upsert files for merge
      if (DataAddingActions.contains(d.action)) added ++= d.added.map(_._1)
      else added ++= d.added.map(_._1).filterNot(d.rewrites)
    }
    val files = added.result().distinct
    val gone = files.filterNot(f => fs.exists(new Path(root, f)))
    if (gone.nonEmpty)
      throw new IllegalStateException(
        s"changesBetween($fromVersion, $toVersion): ${gone.size} data-added file(s) " +
          s"were rewritten and vacuumed in-range, e.g. ${gone.take(3).mkString(", ")} — " +
          "retain history (retainHistory / deferred vacuumKeeping) on lakes with " +
          "incremental consumers")
    readFiles(spark, lakeDir, to.schemaJson, files)
  }

  /** ROW-LEVEL change feed between two committed versions: every row the
    * range inserted or deleted, tagged `_change_type` (`'insert'` /
    * `'delete'`) and `_commit_version` — the Delta Lake CDF surface. An
    * upsert of an existing key reads as delete (the pre-image) plus
    * insert (the post-image), so a downstream index/embedding store can
    * mirror the lake exactly — including right-to-be-forgotten purges,
    * which adds-only CDC ([[changesBetween]]) structurally cannot convey.
    *
    * Cost is O(the range's deltas): insert rows come straight from the
    * commits' added data files; delete rows come from the change-feed
    * sidecars the mutations wrote AT COMMIT TIME ([[CdcDirName]]) — no
    * read-time except-join ever reconstructs a pre-image. Compactions
    * and survivor rewrites contribute nothing, exactly as in adds-CDC. A
    * restore contributes its re-added files as inserts and its removed
    * files as deletes (with the respective versions' deletion vectors
    * applied), so a consumer that mirrored the undone commits converges
    * back to the restored state. Requires the range's files and sidecars
    * retained (the [[changesBetween]] retention rule); deletes committed
    * by pre-change-feed builds have no sidecars and cannot be
    * reconstructed — the feed names the versions and refuses.
    *
    * FEED SEMANTICS under raced sparse deletes: two concurrent sparse
    * deletes that tombstone the SAME row both land (their vectors union
    * — the OCC race test pins this), and each commit's sidecar carries
    * that row's pre-image. The feed emits the delete EXACTLY ONCE: a
    * sidecar row whose `(file, pos)` was already tombstoned in state
    * v-1 is dropped by an executor-side anti-join at plan time (a
    * restore that resurrected the row clears its vector from the prior
    * state, so a genuine re-delete after a restore still emits).
    * Sidecars predating the lineage columns read them as NULL and pass
    * through — at-least-once for that legacy shape only. */
  def changeFeed(spark: SparkSession, lakeDir: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    val (fs, root) = fsRoot(spark, lakeDir)
    val to = stateAt(spark, lakeDir, toVersion)
    // `firstRetained - 1` is the "from the very beginning" sentinel (the
    // stream's `earliest`): every retained commit contributes. Any other
    // fromVersion must itself be resolvable.
    val firstRetained = listLog(fs, root)._1.headOption.getOrElse(
      throw new IllegalArgumentException(s"lake $lakeDir has no committed versions"))
    // the PRIOR state folds FORWARD across the version loop (v-1's state
    // is v's predecessor by construction): ONE stateAt resolution for
    // the whole range, then pure in-memory applyDelta per step — a wide
    // delete-heavy feed pays O(range + checkpoint-interval) log reads,
    // not O(range x replay). None = the prior predates retention (the
    // "earliest" sentinel's first version), where duplicates relative to
    // pre-retention deletes are undetectable by construction.
    var prior: Option[LakeState] =
      if (fromVersion != firstRetained - 1)
        Some(stateAt(spark, lakeDir, fromVersion)) // also validates resolvability
      else None
    val schema = visible(DataType.fromJson(to.schemaJson).asInstanceOf[StructType])
    val feedSchema = StructType(schema.fields ++ Seq(
      StructField("_change_type", StringType, nullable = false),
      StructField("_commit_version", LongType, nullable = false)))
    def tag(df: DataFrame, t: String, v: Long): DataFrame =
      df.select(schema.map(f => col(f.name)) ++
        Seq(lit(t).as("_change_type"), lit(v).as("_commit_version")): _*)
    def mustExist(files: Seq[String], what: String, v: Long): Unit = {
      val gone = files.filterNot(f => fs.exists(new Path(root, f)))
      if (gone.nonEmpty)
        throw new IllegalStateException(
          s"changeFeed($fromVersion, $toVersion): ${gone.size} $what of version $v " +
            s"vacuumed, e.g. ${gone.take(3).mkString(", ")} — retain history on lakes " +
            "with change-feed consumers")
    }
    val frames = Seq.newBuilder[DataFrame]
    ((fromVersion + 1) to toVersion).foreach { v =>
      val d = deltaAt(spark, lakeDir, v)
      val restore = d.action == "restore"
      // a delete/merge commit from a build predating the change feed has
      // no sidecar to reconstruct its pre-image from — refuse, loudly.
      // compact/repartition (rewrite-only) and dvcompact (vectors-only
      // fold: its dvAdds re-attach the SAME positions it detaches)
      // remove no rows and are exempt.
      if (!restore && d.cdcFiles.isEmpty &&
          (d.removed.nonEmpty || d.dvAdds.nonEmpty) &&
          d.action != "compact" && d.action != "dvcompact" &&
          d.action != "repartition")
        throw new IllegalStateException(
          s"changeFeed($fromVersion, $toVersion): version $v (${d.action}) removed rows " +
            "but carries no change-feed sidecar (committed by a pre-change-feed build) — " +
            "its delete pre-image is not reconstructible")
      val dataAdded =
        if (restore) d.added.map(_._1)
        else if (DataAddingActions.contains(d.action)) d.added.map(_._1)
        else d.added.map(_._1).filterNot(d.rewrites)
      // CDF parity: an update/merge commit's `AU` files hold UPDATE
      // POST-IMAGES, tagged update_postimage; everything else added is
      // a genuine insert. Restores re-add files as plain inserts (state
      // convergence, not a re-run of the undone mutations).
      val (postImageAdded, insertFiles) =
        if (restore) (Seq.empty[String], dataAdded)
        else dataAdded.partition(d.postImages)
      def addedFrame(files: Seq[String], t: String): Unit = if (files.nonEmpty) {
        mustExist(files, "data-added file(s)", v)
        // fresh adds carry no vectors at commit time; a restore's re-adds
        // carry exactly the attachments its delta re-attached
        val dvsAtCommit =
          if (restore) d.dvAdds.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
          else Map.empty[String, Seq[String]]
        frames += tag(readFiles(spark, lakeDir, to.schemaJson, files, dvsAtCommit), t, v)
      }
      addedFrame(insertFiles, "insert")
      addedFrame(postImageAdded, "update_postimage")
      d.cdcFiles.groupBy(_._2).foreach { case (t, ps) =>
        mustExist(ps.map(_._1), "change-feed sidecar(s)", v)
        // EXACTLY-ONCE deletes under raced same-row tombstones: two
        // concurrent sparse deletes both land (vectors union), and the
        // LATER commit's sidecar re-carries the already-deleted row's
        // pre-image. The stateless exact rule: a delete event at v for
        // (file, pos) is SPURIOUS iff that position was already
        // tombstoned in state v-1 — drop it with an executor-side
        // anti-join against the prior version's attached sidecars
        // (restores that resurrected the row cleared its vector from
        // the prior state, so a genuine re-delete always re-emits).
        // Sidecars written without lineage columns read them as NULL
        // and pass through untouched (at-least-once, as before).
        // v-1 may predate retention (the first retained version's
        // prior is unknowable) — duplicates relative to pre-retention
        // deletes are undetectable by construction; emit as-is there.
        // update_preimage sidecars get the same rule: a raced sparse
        // update whose row was already tombstoned re-carries it.
        // only the prior state's distinct SIDECAR list is needed here
        // (the anti-join reads their rows job-side) — O(sparse commits)
        // driver traffic even when the prior attachment map is deferred
        val priorSidecars: Seq[String] =
          if (t == "delete" || t == "update_preimage")
            prior.map(p => distinctLiveSidecars(spark, p.dvs).toSeq.sorted)
              .getOrElse(Seq.empty)
          else Seq.empty
        if (priorSidecars.isEmpty)
          frames += tag(readCdcSidecars(spark, root, to.schemaJson, ps.map(_._1)), t, v)
        else {
          val raw = readCdcSidecars(spark, root, to.schemaJson, ps.map(_._1),
            withLineage = true)
          val prior = spark.read.schema(DvSchema)
            .parquet(priorSidecars.map(sc => new Path(root, sc).toString): _*)
            .select(col("file").as("_gf_file"), col("pos").as("_gf_pos"))
          frames += tag(
            raw.join(prior, Seq("_gf_file", "_gf_pos"), "left_anti")
              .drop("_gf_file", "_gf_pos"), t, v)
        }
      }
      if (restore && d.removed.nonEmpty) {
        mustExist(d.removed, "removed file(s)", v)
        val pre = prior.getOrElse(stateAt(spark, lakeDir, v - 1))
        frames += tag(readFiles(spark, lakeDir, to.schemaJson, d.removed,
          dvsFor(spark, pre.dvs, d.removed)), "delete", v)
      }
      // advance the fold: state v = state (v-1) + delta v. A range whose
      // start predates retention resolves the first retained version
      // once from the log and folds from there.
      prior = prior match {
        case Some(p) => Some(applyDelta(p, d))
        case None if v >= firstRetained => Some(stateAt(spark, lakeDir, v))
        case None => None
      }
    }
    val out = frames.result()
    if (out.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], feedSchema)
    else out.reduce(_.unionByName(_))
  }

  /** Delete every on-disk data file that NO committed log record
    * references — the crash-orphan reclaim (files staged by a mutation
    * that died before publish). History deliberately retained via
    * `retainHistory` IS referenced (it rides in the resolved state's
    * `history` section), so a routine orphan sweep can never spend a
    * retention policy — that is [[vacuumKeeping]]'s job. The referenced
    * set comes from the LATEST resolved state alone (`files ++ history`
    * — the newest checkpoint plus at most [[CheckpointInterval]] tail
    * deltas), so a maintenance pass on a long-lived lake never replays
    * its full history. Returns what it deleted. No-op on manifest-less
    * lakes (nothing is provably dead there).
    *
    * `minAgeMs` is the in-flight-writer grace period: a LIVE writer that
    * has finished staging but not yet published holds files in the data
    * tree that look exactly like crash orphans — reclaiming them would
    * let its commit land referencing deleted files. Files modified within
    * the last `minAgeMs` are therefore skipped (the Delta Lake retention
    * discipline); production maintenance should pass a bound comfortably
    * above the longest stage→publish window (hours), while the default 0
    * keeps single-writer cleanup immediate. */
  def vacuum(spark: SparkSession, lakeDir: String, minAgeMs: Long = 0L): Seq[String] = {
    latestManifest(spark, lakeDir) match {
      case None => Seq.empty
      case Some(latest) =>
        val (fs, root) = fsRoot(spark, lakeDir)
        val cutoff = System.currentTimeMillis() - minAgeMs
        // the Delta VACUUM shape: above [[VacuumDistributeMinKey]] the
        // recursive listing and the deletes run as Spark jobs — the
        // driver's own filesystem traffic is bounded by top-level
        // directories, and grace-period mtimes ride back WITH the
        // listing instead of one getFileStatus per candidate. The gate
        // counts references WITHOUT forcing a deferred path list
        // (files.length answers from the DC census).
        val distribute =
          latest.files.length + latest.history.size >= vacuumDistributeMin(spark)
        val dead = latest.files match {
          case dfl: DeferredFiles if distribute =>
            // PATH-LAZY fast path: the live-set diff runs inside the
            // listing job against the checkpoint entries' F+H rows; the
            // driver ships only the post-checkpoint TAILS (adds +
            // history removals) and collects orphans — neither corpus
            // path list materializes
            val histExtra: Seq[String] = latest.history match {
              case dh: DeferredHistory => dh.histTail
              case h => h
            }
            orphanDataFiles(spark, lakeDir, dfl.entriesDir,
              (dfl.tailAdded ++ histExtra).toSet, cutoff, minAgeMs)
          case _ =>
            val live = (latest.files ++ latest.history).toSet
            dataFileInventory(spark, lakeDir, distribute)
              .filterNot { case (f, _) => live(f) }
              .filter { case (_, mtime) => minAgeMs <= 0 || mtime <= cutoff }
              .map(_._1)
        }
        // a small-live lake can still strand a MASS of orphans (a crashed
        // whole-corpus rewrite): the reclaim distributes on its own count
        val distributeReclaim =
          distribute || dead.size >= vacuumDistributeMin(spark)
        reclaimPaths(spark, lakeDir, dead.map(_ -> false), distributeReclaim)
        // sidecar sweep (DV + CDC): children of _graft_dv/_graft_cdc
        // referenced by no committed record are crash orphans (a sparse
        // mutation that died before publish); the same grace period
        // protects a live writer's staged-but-unpublished sidecar.
        // Sections DEFERRED to the entries (path-lazy states) keep
        // their live tops inside the sweep JOB — which also runs the
        // root listings — so the driver's own filesystem traffic is
        // zero there and the collect is O(dead); eager states keep the
        // one-bulk-listStatus-per-root driver path.
        def deferredSec(sec: Seq[String]): Option[(String, String)] = sec match {
          case dh: DeferredHistory => Some((dh.entriesDir, dh.tag))
          case _ => None
        }
        val dvDeferredDir: Option[String] = latest.dvs match {
          case dd: DeferredDvs if dd.cachedOrNull == null => Some(dd.entriesDir)
          case _ => None
        }
        val deferredSecs: Seq[(String, String)] =
          deferredSec(latest.dvHistory).toSeq ++ deferredSec(latest.cdc).toSeq ++
            dvDeferredDir.map((_, "V")).toSeq
        // the job-side census reads ONE entries dir; by construction all
        // of a state's deferred sections resolve through the same
        // checkpoint, but if that invariant ever breaks, silently
        // filtering to the head's dir would judge the other section's
        // checkpoint-resident sidecars dead — fall back to the eager
        // live-set path instead (correct, just forces the lists)
        val oneEntriesDir = deferredSecs.map(_._1).distinct.sizeIs <= 1
        val deadSidecar: Seq[String] =
          if (deferredSecs.isEmpty || !oneEntriesDir) {
            val liveSidecar: Set[String] =
              distinctLiveSidecars(spark, latest.dvs) ++ latest.dvHistory ++ latest.cdc
            val liveTops = liveSidecar.map(sidecarTop)
            listSidecarDirsWithMtime(fs, root).collect {
              case (d, mtime) if !liveTops(d) && (minAgeMs <= 0 || mtime <= cutoff) => d
            }
          } else {
            val entriesDir = deferredSecs.head._1
            val tags = deferredSecs.filter(_._1 == entriesDir).map(_._2).toSet
            val driverLive: Set[String] =
              (latest.dvs match {
                case dd: DeferredDvs if dd.cachedOrNull == null =>
                  dd.tailAdds.valuesIterator.flatten.toSet
                case m => distinctLiveSidecars(spark, m)
              }) ++
                (latest.dvHistory match {
                  case dh: DeferredHistory => dh.histTail.toSet
                  case h => h.toSet
                }) ++
                (latest.cdc match {
                  case dh: DeferredHistory => dh.histTail.toSet
                  case c => c.toSet
                })
            orphanSidecarDirs(spark, lakeDir, Some((entriesDir, tags)),
              driverLive, cutoff, minAgeMs, deepMtime = false)
          }
        reclaimPaths(spark, lakeDir, deadSidecar.map(_ -> true), distribute)
        // staging sweep: a _graft_staging/<uuid> subtree is NEVER
        // referenced by a commit (staged files MOVE out before publish),
        // so any child past the grace period is a crashed writer's
        // leftover — without this they leak forever
        // the grace check uses the NEWEST mtime anywhere in the subtree,
        // not the subtree root's: a directory's mtime is set when its
        // first child lands and deeper task-file writes don't refresh it,
        // so a live writer whose stage outlasts the grace period would
        // otherwise have freshly written staged files reclaimed mid-commit
        // staging subtrees are bounded by CRASHED WRITERS, not corpus
        // size — the per-child walk stays on the driver
        val stagingRoot = new Path(root, StagingDirName)
        val deadStaging =
          if (!vOp(fs.exists(stagingRoot))) Seq.empty[String]
          else vOp(fs.listStatus(stagingRoot)).toSeq
            .map(s => s"$StagingDirName/${s.getPath.getName}")
            .filter { d =>
              minAgeMs <= 0 || newestMtime(fs, new Path(root, d)) <= cutoff
            }
        reclaimPaths(spark, lakeDir, deadStaging.map(_ -> true), distribute)
        // replaced/crashed checkpoint entries directories whose reader
        // grace window expired (the other half of the retention cut's
        // deferred-reader grace; bounded by stale checkpoint attempts)
        val deadEntries = sweepStaleEntryDirs(spark, fs, root, minAgeMs)
        dead ++ deadSidecar ++ deadStaging ++ deadEntries
    }
  }

  /** Newest modification time anywhere under `p` (the dir itself, its
    * subdirectories, and every file) — the correct "is this subtree
    * still being written to" signal for grace-period sweeps. */
  private def newestMtime(fs: FileSystem, p: Path): Long = {
    if (!fs.exists(p)) return 0L
    var newest = fs.getFileStatus(p).getModificationTime
    val it = fs.listFiles(p, true)
    while (it.hasNext) newest = math.max(newest, it.next().getModificationTime)
    newest
  }

  /** VECTORS-ONLY maintenance fold (cf. Delta's `REORG … PURGE` shape,
    * minus the data rewrite): merge each data file's STACKED
    * deletion-vector sidecars into one, touching no data bytes.
    * Repeated sparse mutations against the same file stack sidecars
    * (`dvs: file → Seq(sidecar)`), and every stacked sidecar is another
    * parquet read on the merge-on-read path; this folds the stack so
    * the MoR read stays cheap BETWEEN full compactions (which remain
    * the only way to materialize tombstones into plain files).
    *
    * One `dvcompact` commit: the distinct `(file, pos)` union of each
    * stacked file's sidecars is staged as ONE new sidecar, the delta
    * detaches the old attachments (`X` lines) and attaches the new one
    * (`D` lines) — net row change ZERO, so the change feed and adds-CDC
    * emit NOTHING across it, and time travel below it still resolves
    * the old sidecars (they move to dv history; [[vacuumKeeping]]
    * reclaims them with the rest of history). The staged sidecar is
    * audited inside [[stageDv]] (observed write count vs the sidecar
    * footers' own row counts — plan claim vs disk truth). Files with a
    * single attachment are left alone; a lake with
    * no stacking is a no-op (no version bump). Cost is O(attached
    * sidecar bytes) — never the lake. Raced appends commute (the fold
    * reads no data rows); raced sparse deletes commute by attachment
    * union; a raced rewrite of a folded file refuses like every
    * removing conflict. Returns the per-file attachment counts folded,
    * empty when nothing stacked. */
  def compactDeletionVectors(spark: SparkSession, lakeDir: String): Map[String, Int] = {
    import spark.implicits._
    val base = currentState(spark, lakeDir)
    // STACKED attachments (≥2 sidecars on one file) are this operation's
    // working set — it builds the fold list and the X-detach lines from
    // them, so collecting them is irreducible. A deferred map derives
    // them in one scoped job over the live pairs instead of forcing the
    // whole attachment map: driver traffic O(stacked), never O(dv'd).
    val stacked: Map[String, Seq[String]] = base.dvs match {
      case dd: DeferredDvs if dd.cachedOrNull == null =>
        if (dd.cheapIsEmpty.contains(true)) Map.empty
        else {
          dvScopedJobs.incrementAndGet()
          dvPairsRdd(spark, dd).groupByKey().flatMap { case (f, ss) =>
            val v = ss.toSeq
            if (v.size >= 2) Some(f -> v) else None
          }.collect().toMap
        }
      case m => m.filter(_._2.size >= 2)
    }
    if (stacked.isEmpty) return Map.empty
    val (_, root) = fsRoot(spark, lakeDir)
    val sidecars = stacked.values.flatten.toSeq.distinct.sorted
    val dv = spark.read.schema(DvSchema)
      .parquet(sidecars.map(s => new Path(root, s).toString): _*)
    // a sidecar can cover files that are NOT stacked — keep only the
    // stacked files' rows (broadcast semi-join; the file list is bounded
    // by the attachment count). distinct: the same position tombstoned
    // by two raced deletes folds to one row.
    val stackedFiles = stacked.keys.toSeq.sorted.toDF("file")
    val rows = dv.join(broadcast(stackedFiles), "file").distinct()
    // stageDv's own two channels audit the staged sidecar (observed
    // write count vs the sidecar footers' row counts); a separate
    // pre-image count() here would re-execute the SAME deterministic
    // union+distinct plan and could never disagree — one full pass over
    // the stacked sidecars, shed
    val (rel, stagedRows, files) = stageDv(spark, lakeDir, rows)
    require(files.toSet == stacked.keySet,
      s"dv consolidation read-back names ${files.size} file(s), expected " +
        s"${stacked.size} — sidecar corruption? staged $rel left for vacuum")
    publish(spark, StagedCommit(lakeDir, base, "dvcompact", base.schemaJson,
      Seq.empty, Seq.empty, stagedRows, stagedRows,
      dvAdds = files.map(f => f -> Seq(rel)).toMap,
      dvRemoves = stacked.toSeq.flatMap { case (f, ss) => ss.map(s => (f, s)) }))
    stacked.view.mapValues(_.size).toMap
  }

  /** Add a CHECK constraint (the Delta `ALTER TABLE … ADD CONSTRAINT`
    * model): `expr` is a SQL predicate over the lake's columns; adding
    * it first VALIDATES the existing corpus in one scan (a lake that
    * already violates the rule refuses, naming the violation count),
    * then commits a metadata-only `constraint` delta. From that version
    * on, EVERY row-adding commit — batch append, idempotent ingest,
    * sparse merge/update post-images, and the streaming write's
    * executor-side writers — verifies its rows and refuses the whole
    * batch loudly on the first violation (NULL passes, the SQL
    * standard). The quality gate moves INTO the storage layer: no
    * pipeline stage can land rows the contract forbids. */
  def addCheckConstraint(spark: SparkSession, lakeDir: String,
      name: String, expr: String): Unit = {
    require(name.nonEmpty && expr.nonEmpty, "constraint name and expression required")
    val base = adopt(spark, lakeDir)
    require(!base.checks.contains(name),
      s"addCheckConstraint: constraint '$name' already exists " +
        s"(${base.checks(name)}) — drop it first to replace")
    // validate the predicate parses AND holds over the existing corpus
    // (violation = evaluates to FALSE; NULL passes, the SQL standard)
    val df = readState(spark, lakeDir, base)
    val n = df.filter(s"($expr) = false").count()
    if (n > 0)
      throw new IllegalArgumentException(
        s"addCheckConstraint: $n existing row(s) violate CHECK ($expr) — a " +
          "constraint is added to a lake that already satisfies it (clean the " +
          "data first, e.g. deleteFromLakeSparseWhere the violations)")
    commitDelta(spark, lakeDir,
      DeltaRecord(base.version + 1, "constraint", base.schemaJson,
        Seq.empty, Seq.empty, checkAdds = Seq(name -> expr)),
      Some(base.copy(version = base.version + 1,
        checks = base.checks.updated(name, expr))))
  }

  /** Drop a CHECK constraint — metadata commit; versions at or above it
    * stop enforcing, time travel below still records it. */
  def dropCheckConstraint(spark: SparkSession, lakeDir: String, name: String): Unit = {
    val base = adopt(spark, lakeDir)
    require(base.checks.contains(name),
      s"dropCheckConstraint: no constraint '$name' " +
        s"(existing: ${base.checks.keys.toSeq.sorted.mkString(", ")})")
    commitDelta(spark, lakeDir,
      DeltaRecord(base.version + 1, "constraint", base.schemaJson,
        Seq.empty, Seq.empty, checkDrops = Seq(name)),
      Some(base.copy(version = base.version + 1, checks = base.checks - name)))
  }

  /** Refuse `df` if any row violates any of the state's CHECK
    * constraints — ONE pass computing every violation count (piggybacks
    * nothing: callers run it on the batch frame they are about to
    * materialize anyway, and Catalyst fuses the aggregates). NULL
    * predicate results PASS (SQL CHECK semantics). */
  private[graft] def enforceChecks(st: LakeState, df: DataFrame): Unit = {
    if (st.checks.isEmpty) return
    import org.apache.spark.sql.functions.{expr, sum, when}
    val entries = st.checks.toSeq.sortBy(_._1)
    val aggs: Seq[org.apache.spark.sql.Column] = entries.map { case (_, e) =>
      sum(when(expr(e) === false, 1L).otherwise(0L)) }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val violated = entries.zipWithIndex.collect {
      case ((n, e), i) if !row.isNullAt(i) && row.getLong(i) > 0 =>
        s"$n: CHECK ($e) — ${row.getLong(i)} row(s)"
    }
    if (violated.nonEmpty)
      throw new IllegalArgumentException(
        s"lake CHECK constraint violation, batch refused: ${violated.mkString("; ")}")
  }

  /** The observed-audit device every mutation's row accounting rides on:
    * attach a row COUNT — and, for row-ADDING inputs, the CHECK-
    * constraint violation sums — to `df` as observed metrics
    * (CollectMetrics: exactly-once on the consuming action's result-
    * stage tasks), so the audit costs ZERO extra jobs — it rides the
    * stage write / eager checkpoint that evaluates `df` anyway, instead
    * of a separate count (+ checks) pass. Returns the instrumented frame
    * and a thunk to call AFTER the action: it throws the standard CHECK
    * refusal if any constraint was violated, then returns the observed
    * row count (checks over an EMPTY batch observe null sums = no
    * violation). Callers that stage before learning the count roll the
    * staged files back on a zero/violating batch — they were invisible
    * throughout. */
  /** Collect a TINY metadata aggregate in one Spark job. Under AQE every
    * exchange of even a one-row global aggregate materializes as its own
    * job (shuffle job + result job) — pure scheduler round-trips for a
    * plan whose output is a handful of rows, paid once per commit on the
    * DML paths. AQE contributes nothing to these plans (nothing to
    * coalesce or skew-split into a scalar), so the collect runs with it
    * scoped off; the prior session value is restored either way. The
    * planning of `df` happens inside the collect (executedPlan is lazy),
    * so the toggle reliably covers it. */
  private[graft] def collectScalar(df: DataFrame): Array[org.apache.spark.sql.Row] = {
    val spark = df.sparkSession
    val k = "spark.sql.adaptive.enabled"
    val prior = spark.conf.getOption(k)
    spark.conf.set(k, "false")
    try df.collect()
    finally prior match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  private[graft] def observedAudit(checks: Map[String, String],
      df: DataFrame): (DataFrame, () => Long) = {
    val (inst, audit, _) = observedAuditMetrics(checks, df, Seq.empty)
    (inst, audit)
  }

  /** How long an audit thunk waits for its observed metrics before
    * declaring the consuming action never posted them. Generous — the
    * metrics arrive on the listener bus within the action itself; the
    * bound exists so a metrics-less consumption (a future execution-path
    * quirk, or a caller that dropped the instrumented frame) fails
    * loudly instead of hanging the driver forever. */
  private val ObservedAuditTimeoutMs = 120000L

  /** [[observedAudit]] plus caller-chosen EXTRA metrics riding the same
    * observation (e.g. id min/max for stats pruning, per-clause row
    * counts of a merge) — one action answers every per-batch scalar
    * question, where each used to be its own aggregate job. The third
    * element returns the full observed row (keyed by metric alias) and
    * shares the single wait with the audit thunk.
    *
    * The wait is BOUNDED (spin on `getOrEmpty` with backoff): an action
    * that completes without posting observed metrics throws a
    * descriptive IllegalStateException rather than blocking forever —
    * a silent hang is strictly worse than the crash the old separate
    * count jobs would have produced. */
  private[graft] def observedAuditMetrics(checks: Map[String, String],
      df: DataFrame, extra: Seq[org.apache.spark.sql.Column])
      : (DataFrame, () => Long, () => Map[String, Any]) = {
    val obs = new org.apache.spark.sql.Observation(
      s"graft-audit-${java.util.UUID.randomUUID()}")
    val checkEntries = checks.toSeq.sortBy(_._1)
    val metrics = (count(lit(1)).as("_gf_rows") +: checkEntries.zipWithIndex.map {
      case ((_, e), i) =>
        functions.sum(functions.when(functions.expr(e) === false, 1L)
          .otherwise(0L)).as(s"_gf_chk_$i") }) ++ extra
    val instrumented = df.observe(obs, metrics.head, metrics.tail: _*)
    // one shared bounded wait on the observation's own future: wakes the
    // INSTANT the listener posts the metrics row (a poll/backoff spin
    // here measured up to 200 ms of dead time per audit — seconds per
    // multi-commit merge query), while still failing loudly if a
    // consuming path never posts metrics at all
    lazy val observed: Map[String, Any] = {
      import org.apache.spark.sql.graft.ObservationBridge
      ObservationBridge.awaitMetrics(obs, ObservedAuditTimeoutMs)
        .getOrElse(throw new IllegalStateException(
        s"observed audit metrics never arrived (waited ${ObservedAuditTimeoutMs} ms) — " +
          "the instrumented frame was likely consumed by an execution path that " +
          "does not post observed metrics, or never consumed at all"))
    }
    val audit = () => {
      def chk(i: Int): Long =
        Option(observed(s"_gf_chk_$i")).fold(0L)(_.asInstanceOf[Long])
      val violated = checkEntries.zipWithIndex.collect {
        case ((n, e), i) if chk(i) > 0 => s"$n: CHECK ($e) — ${chk(i)} row(s)"
      }
      if (violated.nonEmpty)
        throw new IllegalArgumentException(
          s"lake CHECK constraint violation, batch refused: ${violated.mkString("; ")}")
      observed("_gf_rows").asInstanceOf[Long]
    }
    (instrumented, audit, () => observed)
  }

  /** [[vacuumKeeping]] with a TIME-based retention policy — "keep the
    * last 7 days readable" (the Delta retention idiom) instead of a
    * version count: retains every version committed within
    * `retentionMs` of now (always at least the latest), reclaims older
    * history. Resolution BINARY-SEARCHES the cut over the version-sorted
    * log — O(log versions) header reads (commit wall-clocks live in the
    * delta headers), so a 10⁵-commit lake resolves in ~17 reads; clock
    * skew across writers makes the cut best-effort by time (monotonic
    * timestamps are what the search assumes, exactly what the linear
    * scan's count gave), exact by version. */
  def vacuumKeepingAge(spark: SparkSession, lakeDir: String, retentionMs: Long,
      minAgeMs: Long = 0L): Seq[String] = {
    require(retentionMs >= 0, s"retentionMs must be >= 0, got $retentionMs")
    val (fs, root) = fsRoot(spark, lakeDir)
    val (deltas, _) = listLog(fs, root)
    if (deltas.isEmpty) return Seq.empty
    val cutoff = System.currentTimeMillis() - retentionMs
    // first index whose commit time is at/after the cutoff
    var lo = 0
    var hi = deltas.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (deltaHeaderAt(spark, lakeDir, deltas(mid)).timestampMs >= cutoff) hi = mid
      else lo = mid + 1
    }
    val keep = deltas.length - lo
    vacuumKeeping(spark, lakeDir, math.max(keep, 1), minAgeMs)
  }

  /** Backfill per-file min/max stats for `statsCols` — the pruning
    * metadata a lake adopted from a bare directory (or init'd without
    * `statsCols`) never got, and the biggest read lever at 100 TB:
    * file skipping without it touches every file, with it only the
    * bound-overlapping ones (the Delta `ANALYZE`/collect-stats shape).
    * ONE column-pruned pass over the live files (the same
    * [[auditStaged]] device every write's stats capture uses — physical
    * column names, identical value rendering, so freshly-analyzed and
    * write-captured stats are indistinguishable to [[pruneByStats]]),
    * committed as a METADATA-ONLY `analyze` delta carrying `AS` restate
    * lines: no data bytes move, the file list is untouched, the change
    * feed emits nothing. Raced commits rebase freely — a restate whose
    * file an interposed commit removed is dropped both at rebase and at
    * every later replay, so stale stats can never attach to a rewritten
    * file's path. Tombstoned (deletion-vector'd) rows still count into
    * min/max — conservative, hence sound for pruning. Returns the
    * per-file stats committed. */
  def analyzeStats(spark: SparkSession, lakeDir: String, statsCols: Seq[String],
      scopeDirs: Seq[String] = Seq.empty,
      maxRebases: Int = 5): Map[String, Seq[ColStat]] = {
    require(statsCols.nonEmpty, "analyzeStats needs at least one column")
    var base = adopt(spark, lakeDir)
    // `scopeDirs` (lakeDir-relative partition-directory prefixes) bounds
    // the pass to those subtrees — the incremental form: at 100 TB,
    // analyze partitions as they need it (newly adopted, freshly
    // relayouted) instead of one corpus-wide scan per backfill
    val targets =
      if (scopeDirs.isEmpty) base.files else filesUnder(base.files, scopeDirs)
    if (targets.isEmpty) return Map.empty
    val (_, stats) = auditStaged(spark, lakeDir, base.schemaJson, targets, statsCols)
    var rebases = 0
    var committed = false
    while (!committed) {
      val live = base.files.toSet
      val restates = stats.view.filterKeys(live).toSeq.sortBy(_._1)
      if (restates.isEmpty) return Map.empty // everything analyzed was since removed

      val merged = restates.foldLeft(base.stats) { case (m, (f, st)) =>
        m.updated(f, mergeStatCols(m.getOrElse(f, Seq.empty), st))
      }
      val post = base.copy(version = base.version + 1, stats = merged)
      try {
        commitDelta(spark, lakeDir,
          DeltaRecord(base.version + 1, "analyze", base.schemaJson,
            Seq.empty, Seq.empty, statRestates = restates),
          Some(post))
        committed = true
      } catch {
        case e: IllegalStateException if e.getMessage.startsWith("concurrent commit") =>
          if (rebases >= maxRebases) throw e
          rebases += 1
          base = latestManifest(spark, lakeDir).getOrElse(throw e)
      }
    }
    stats
  }

  /** The sidecar orphan sweep AS A JOB: the `_graft_dv`/`_graft_cdc`
    * root listings (and, under `deepMtime`, the per-dir newest-mtime
    * grace walk) run in tasks, and the live-top set is built from the
    * checkpoint ENTRIES' V/VH/CF rows (for the sections `entriesTags`
    * names — the ones deferred off the driver) unioned with the
    * driver-resident `driverLive` tails — so a feed-heavy lake's
    * sidecar census costs the driver ZERO filesystem calls and O(dead)
    * collect, never O(feed-bearing commits). */
  private def orphanSidecarDirs(spark: SparkSession, lakeDir: String,
      entriesTags: Option[(String, Set[String])], driverLive: Set[String],
      cutoff: Long, minAgeMs: Long, deepMtime: Boolean): Seq[String] = {
    val (fs, root) = fsRoot(spark, lakeDir)
    val qroot = fs.makeQualified(root)
    val taskConf = TaskHadoopConf(spark)
    val rootStr = qroot.toString
    val sc = spark.sparkContext
    val liveFromEntries: org.apache.spark.rdd.RDD[String] = entriesTags match {
      case None => sc.emptyRDD[String]
      case Some((entriesDir, tags)) =>
        val tagB = sc.broadcast(tags)
        spark.read.schema(StructType(CpEntrySchema.take(3)))
          .parquet(entriesDir).rdd.flatMap { r =>
            val t = r.getString(0)
            if (!tagB.value(t)) None
            else if (t == "V") Some(sidecarTop(r.getString(2)))
            else Some(sidecarTop(r.getString(1)))
          }
    }
    val liveAll = liveFromEntries
      .union(sc.parallelize(driverLive.toSeq.map(sidecarTop), 1))
      .distinct().map((_, ()))
    inventoryListTasks.addAndGet(2L)
    val deep = deepMtime
    val listed: org.apache.spark.rdd.RDD[(String, Long)] =
      sc.parallelize(Seq(DvDirName, CdcDirName), 2).flatMap { dn =>
        val p = new Path(rootStr, dn)
        val tfs = p.getFileSystem(taskConf.value)
        if (!tfs.exists(p)) Seq.empty
        else tfs.listStatus(p).toSeq.map { s =>
          val mtime =
            if (!deep) s.getModificationTime
            else {
              // grace by the NEWEST mtime anywhere under the dir — a
              // directory's own mtime freezes at its first child
              var newest = s.getModificationTime
              val it = tfs.listFiles(s.getPath, true)
              while (it.hasNext) {
                val m = it.next().getModificationTime
                if (m > newest) newest = m
              }
              newest
            }
          (s"$dn/${s.getPath.getName}", mtime)
        }
      }
    listed.filter { case (_, m) => minAgeMs <= 0 || m <= cutoff }
      .subtractByKey(liveAll).keys.collect().toSeq.sorted
  }

  /** The lakeDir-relative DV and CDC sidecar dirs on disk (two listings). */
  private def listSidecarDirs(fs: FileSystem, root: Path): Seq[String] =
    Seq(DvDirName, CdcDirName).flatMap { dn =>
      val r = new Path(root, dn)
      if (!fs.exists(r)) Seq.empty
      else fs.listStatus(r).toSeq.map(s => s"$dn/${s.getPath.getName}")
    }.sorted

  /** [[listSidecarDirs]] with each top dir's mtime from the SAME bulk
    * status call — the orphan sweeps' grace check then costs zero extra
    * round-trips (two listStatus calls total, corpus-size-independent in
    * driver call count). */
  private def listSidecarDirsWithMtime(fs: FileSystem, root: Path): Seq[(String, Long)] =
    Seq(DvDirName, CdcDirName).flatMap { dn =>
      val r = new Path(root, dn)
      if (!vOp(fs.exists(r))) Seq.empty
      else vOp(fs.listStatus(r)).toSeq.map(s =>
        s"$dn/${s.getPath.getName}" -> s.getModificationTime)
    }.sortBy(_._1)

  /** The `_graft_dv/<x>` / `_graft_cdc/<x>` TOP-LEVEL dir of a sidecar
    * entry — committed entries may point one level DEEPER (the general
    * merge's type-partitioned sidecar registers
    * `_graft_cdc/<uuid>/_gm_ct=<type>` subtrees as separate feed dirs),
    * while the orphan sweeps list and delete at the top-dir grain: a
    * listed dir is live iff it is the top of ANY live entry. */
  private def sidecarTop(entry: String): String =
    entry.split('/').take(2).mkString("/")

  /** Retention-policy vacuum: keep the newest `keepVersions` versions
    * fully readable ([[readVersion]] / [[changesBetween]]), reclaim
    * everything older. A checkpoint is written AT the oldest retained
    * version first (so it stays resolvable once older deltas are gone),
    * then data files referenced by no retained version — and by no
    * retained delta's adds, which exact in-range CDC still needs — are
    * deleted, then the expired deltas and stale checkpoints (data first,
    * so a crash mid-vacuum leaves dangling log records that fail loudly
    * rather than silently-live files). The latest version is always
    * retained. */
  /** Roll the lake BACK to a retained `version` — the undo button for a
    * bad ingest/delete/merge (cf. Delta RESTORE). Committed as a NEW
    * version whose delta re-adds the target version's files (they are
    * already on disk while history is retained — nothing is copied or
    * rewritten) and removes the current-only ones, so readers flip
    * atomically and the mistake stays readable as history until a
    * retention vacuum spends it. The re-added files are tagged as
    * rewrites: a restore surfaces NO new rows to [[changesBetween]] /
    * the CDC stream — consumers already processed them when they first
    * landed. Refuses loudly when the target version's files were
    * vacuumed (an eagerly-vacuumed lake has no history to restore), and
    * races like every removing commit: OCC-checked rebase, refusal on
    * genuine overlap. Returns the post-restore read-back. */
  def restore(spark: SparkSession, lakeDir: String, version: Long): DataFrame = {
    val (fs, root) = fsRoot(spark, lakeDir)
    // PATH-LAZY restore never resolves the target eagerly: the diff runs
    // as subtract-jobs over the two states' entries (O(diff) driver
    // traffic, the Delta filesForScan shape), and the re-added files'
    // stats — which the restore delta re-records permanently — fetch
    // from the target's entries in one path-filtered job
    // ([[statsForPaths]], restate overlays merged), so nothing is ever
    // written back statless.
    val target = stateAt(spark, lakeDir, version)
    val base = currentState(spark, lakeDir)
    if (base.version == version) return readState(spark, lakeDir, base)
    val pathLazy = target.files.isInstanceOf[DeferredFiles] ||
      base.files.isInstanceOf[DeferredFiles]
    // existence sweep: a big version's restore would pay O(files) serial
    // exists round-trips — above the distribution threshold (and always
    // under path-lazy) the DATA files check against ONE distributed
    // inventory instead, with the diff INVERTED under path-lazy so the
    // needed list never materializes (sidecars live in hidden trees the
    // inventory skips; their count is bounded by the version's sparse
    // mutations, so they stay per-file)
    val goneData: Seq[String] =
      if (pathLazy)
        inventoryParts(spark, lakeDir, distribute = true) match {
          case None => Seq.empty // no root: init races aside, nothing to check
          case Some((driverSide, jobSide)) =>
            val inv = (jobSide match {
              case None => spark.sparkContext.parallelize(driverSide, 1)
              case Some(rdd) =>
                if (driverSide.isEmpty) rdd
                else rdd.union(spark.sparkContext.parallelize(driverSide, 1))
            }).map { case (f, _) => (f, ()) }
            statePathsRdd(spark, target.files).map((_, ()))
              .subtractByKey(inv).keys.collect().toSeq.sorted
        }
      else if (target.files.size < vacuumDistributeMin(spark))
        target.files.filterNot(f => fs.exists(new Path(root, f)))
      else {
        val present = dataFileInventory(spark, lakeDir, distribute = true)
          .iterator.map(_._1).toSet
        target.files.filterNot(present)
      }
    val gone = goneData ++
      distinctLiveSidecars(spark, target.dvs).toSeq.sorted
        .filterNot(f => fs.exists(new Path(root, f)))
    if (gone.nonEmpty)
      throw new IllegalStateException(
        s"cannot restore to version $version — ${gone.size} of its file(s) were " +
          s"vacuumed, e.g. ${gone.take(3).mkString(", ")}; restore needs retained history")
    // a file live in BOTH states whose DV attachments differ (a sparse
    // delete landed after the target version, or the target itself
    // carried DVs the current state lost) must be removed-and-re-added in
    // the SAME delta: the remove drops its current attachments, the
    // re-add's D lines restore exactly the target's
    val (removed, reAdded): (Seq[String], Seq[String]) =
      if (!pathLazy) {
        val current = base.files.toSet
        val targetSet = target.files.toSet
        val dvDiff = base.files.filter(targetSet).filter { f =>
          base.dvs.getOrElse(f, Seq.empty).toSet !=
            target.dvs.getOrElse(f, Seq.empty).toSet
        }
        (base.files.filterNot(targetSet) ++ dvDiff,
          target.files.filterNot(current) ++ dvDiff)
      } else {
        val basePaths = statePathsRdd(spark, base.files).map((_, ()))
        val targetPaths = statePathsRdd(spark, target.files).map((_, ()))
        val removed0 = basePaths.subtractByKey(targetPaths).keys.collect().toSeq.sorted
        val reAdded0 = targetPaths.subtractByKey(basePaths).keys.collect().toSeq.sorted
        val removedSet = removed0.toSet
        val reAddedSet = reAdded0.toSet
        // DV-diff candidates: only files whose attachment SETS differ
        // between the states. A dvs key is live in ITS state by
        // invariant, and liveness in the OTHER state falls out of the
        // just-collected path diff (live in base ∧ not removed ⇒ live in
        // target; live in target ∧ not re-added ⇒ live in base) — so a
        // differing file is live-in-both iff it sits in NEITHER diff
        // side. Driver-resident maps answer directly; a DEFERRED map's
        // pairs diff as subtract-jobs like the paths themselves,
        // collecting only the differing files (O(diff), never O(dv'd)).
        def dvUncached(m: Map[String, Seq[String]]): Boolean = m match {
          case dd: DeferredDvs => dd.cachedOrNull == null
          case _ => false
        }
        val dvDiff: Seq[String] =
          if (dvUncached(base.dvs) || dvUncached(target.dvs)) {
            dvScopedJobs.incrementAndGet()
            val bp = dvPairsRdd(spark, base.dvs)
            val tp = dvPairsRdd(spark, target.dvs)
            bp.subtract(tp).keys.union(tp.subtract(bp).keys).distinct()
              .collect().iterator
              .filterNot(f => removedSet(f) || reAddedSet(f))
              .toSeq.sorted
          } else (base.dvs.keySet ++ target.dvs.keySet).iterator.filter { f =>
            val inBoth = (base.dvs.contains(f) && !removedSet(f)) ||
              (target.dvs.contains(f) && !reAddedSet(f))
            inBoth && base.dvs.getOrElse(f, Seq.empty).toSet !=
              target.dvs.getOrElse(f, Seq.empty).toSet
          }.toSeq.sorted
        (removed0 ++ dvDiff, reAdded0 ++ dvDiff)
      }
    if (removed.isEmpty && reAdded.isEmpty) return readState(spark, lakeDir, base)
    // CHECK constraints SURVIVE a restore (they live in LakeState.checks,
    // not in the restored version), so rows re-added from a version
    // predating a constraint were never validated against it — re-run
    // the gate over exactly the re-added rows (target DVs applied; rows
    // already live in the current state passed at their own commits).
    // A violating restore refuses BEFORE the manifest moves, mirroring
    // addCheckConstraint's validation of the existing corpus.
    if (base.checks.nonEmpty && reAdded.nonEmpty)
      enforceChecks(base, readFiles(spark, lakeDir, target.schemaJson,
        reAdded, dvsFor(spark, target.dvs, reAdded)))
    // stagedRows = expectedRows = 0 makes the publish audit DELIBERATELY
    // vacuous: the re-added files were audited when they first committed
    // and their existence is checked above — there is no staged write to
    // re-count. Do not treat the 0/0 as load-bearing.
    publish(spark, StagedCommit(lakeDir, base, "restore", target.schemaJson,
      removed, reAdded, 0L, 0L,
      stagedStats = statsForPaths(spark, target, reAdded),
      rewriteFiles = reAdded.toSet,
      dvAdds = dvsFor(spark, target.dvs, reAdded),
      // the restored state's WRITE layout is the target's (a restore
      // across an evolveLayout re-instates the old layout for new writes)
      layout =
        if (target.files.nonEmpty || target.layout.isDefined)
          Some(layoutSpecsOf(target))
        else None),
      vacuumSuperseded = false) // the undone commits stay readable history
    read(spark, lakeDir)
  }

  /** The newest retained version whose commit wall-clock is at or below
    * `tsMs` — timestamp time travel's resolution step. Reads ONLY the
    * first line of each retained delta ([[readLogFileHeader]]): the cost
    * per version is O(header), never O(delta file) — a lookup against a
    * lake whose commits each name thousands of files stays cheap.
    * Version numbers remain the authoritative order when writer clocks
    * skew. Throws when every retained commit is newer than the asked-for
    * time. */
  def versionAtTimestamp(spark: SparkSession, lakeDir: String, tsMs: Long): Long = {
    val (fs, root) = fsRoot(spark, lakeDir)
    val (deltas, _) = listLog(fs, root)
    if (deltas.isEmpty)
      throw new IllegalArgumentException(s"lake $lakeDir has no committed versions")
    val atOrBelow = deltas.filter(v => deltaHeaderAt(spark, lakeDir, v).timestampMs <= tsMs)
    atOrBelow.maxOption.getOrElse(throw new IllegalArgumentException(
      s"lake $lakeDir has no version committed at or before timestamp $tsMs " +
        s"(earliest retained commit: ${deltaHeaderAt(spark, lakeDir, deltas.head).timestampMs})"))
  }

  /** [[readVersion]] addressed by commit wall-clock instead of version. */
  def readTimestamp(spark: SparkSession, lakeDir: String, tsMs: Long): DataFrame =
    readVersion(spark, lakeDir, versionAtTimestamp(spark, lakeDir, tsMs))

  /** The lake's commit audit trail, newest first — the DESCRIBE HISTORY
    * surface: one row per retained version with its action, commit
    * wall-clock, and file-level delta sizes (`n_data_added` excludes
    * pre-image rewrites, so it is "how many files of genuinely new rows
    * landed"). Header-resolved (first line per delta, O(header) bytes);
    * deltas committed before the header carried counts fall back to a
    * full parse. Driver-side over the retained log. */
  def describeHistory(spark: SparkSession, lakeDir: String): DataFrame = {
    val (fs, root) = fsRoot(spark, lakeDir)
    val (deltas, _) = listLog(fs, root)
    val rows = deltas.sorted(Ordering[Long].reverse).map { v =>
      val h = deltaHeaderAt(spark, lakeDir, v)
      lazy val full = deltaAt(spark, lakeDir, v)
      val (na, nd, nr) = h.counts.getOrElse(
        (full.added.size, full.added.count { case (p, _) => !full.rewrites(p) },
          full.removed.size))
      val (ndv, nc) = h.dvCdcCounts.getOrElse((full.dvAdds.size, full.cdcFiles.size))
      org.apache.spark.sql.Row(v, new java.sql.Timestamp(h.timestampMs), h.action,
        na, nd, nr, ndv, nc)
    }
    val schema = StructType(Seq(
      org.apache.spark.sql.types.StructField("version", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("timestamp",
        org.apache.spark.sql.types.TimestampType, nullable = false),
      org.apache.spark.sql.types.StructField("action", StringType, nullable = false),
      org.apache.spark.sql.types.StructField("n_added", IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("n_data_added", IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("n_removed", IntegerType, nullable = false),
      // sparse-mutation grain: deletion-vector attachments and
      // change-feed sidecars this commit published
      org.apache.spark.sql.types.StructField("n_dv_attached", IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("n_cdc_files", IntegerType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  def vacuumKeeping(spark: SparkSession, lakeDir: String, keepVersions: Int,
      minAgeMs: Long = 0L): Seq[String] = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val (fs, root) = fsRoot(spark, lakeDir)
    val (deltas, checkpoints) = listLog(fs, root)
    if (deltas.isEmpty) return Seq.empty
    val (expired, retained) = deltas.splitAt(math.max(deltas.size - keepVersions, 0))
    val oldest = retained.head
    val oldestState = resolve(spark, fs, root, lakeDir, oldest, deltas, checkpoints)
    // the retained live set derives from the OLDEST retained state plus
    // the retained deltas' own add records: a file live at any LATER
    // retained version is either live at `oldest` or added by a retained
    // delta ([[applyDelta]] only ever adds via `added`), and the same
    // holds for DV attachments via `dvAdds` — so no later version need
    // resolve at all, let alone force a deferred path list (the former
    // per-version resolve loop forced O(retained × corpus) under
    // path-lazy). EVERY retained delta keeps its change-feed sidecars:
    // the earliest-sentinel changeFeed replays the oldest retained delta
    // too, so its sidecars stay reachable even though no version below
    // it survives.
    val adds = Set.newBuilder[String]
    val dvAdds = Set.newBuilder[String]
    val liveCdc = Set.newBuilder[String]
    var restoreInRange = false
    retained.foreach { v =>
      val d = deltaAt(spark, lakeDir, v)
      liveCdc ++= d.cdcFiles.map(_._1)
      if (v > oldest) {
        adds ++= d.added.map(_._1)
        dvAdds ++= d.dvAdds.map(_._2)
        restoreInRange ||= d.action == "restore"
      }
    }
    // history ABOVE the cut = retained adds not live at `oldest`. Staged
    // paths are fresh UUIDs, so the subtraction is a provable no-op —
    // except across a RESTORE, the one commit kind that re-adds
    // pre-existing paths; only then does the diff touch the oldest file
    // set (the one remaining force under path-lazy, restore-bounded)
    val addsSet = adds.result()
    val histAbove: Set[String] =
      if (!restoreInRange) addsSet
      else { val f = oldestState.files.toSet; addsSet.filterNot(f) }
    // distinct sidecars, never the per-file attachment map: O(sparse
    // commits) driver traffic even when the oldest state's map is
    // deferred (one scoped job derives it from the entries' V rows)
    val oldestDvSet = distinctLiveSidecars(spark, oldestState.dvs)
    val liveDvSet = oldestDvSet ++ dvAdds.result()
    val liveCdcSet = liveCdc.result()
    // the retention cut IS the new history horizon: versions below
    // `oldest` are gone, so the checkpoint's history section shrinks to
    // exactly the still-referenced-but-not-live files — overwriting any
    // pre-existing checkpoint whose history named files reclaimed below.
    // Written BEFORE anything is deleted, so a crash mid-vacuum leaves
    // dangling log records that fail loudly, never silently-live files.
    writeCheckpoint(spark, fs, root,
      oldestState.copy(history = histAbove.toSeq.sorted,
        dvHistory = (liveDvSet -- oldestDvSet).toSeq.sorted,
        // the retention cut restarts the change feed's horizon: only the
        // sidecars of retained versions ABOVE the new oldest stay
        // readable (changeFeed refuses ranges below it anyway)
        cdc = liveCdcSet.toSeq.sorted),
      overwrite = true)
    // `minAgeMs` is the same in-flight-writer grace as [[vacuum]]'s: an
    // unreferenced data file or sidecar younger than the window may be a
    // LIVE writer's staged-but-unpublished output (sidecars are staged
    // under their final _graft_dv/_graft_cdc names before publish), and
    // reclaiming it would fail that commit — or worse, let the commit
    // land referencing a deleted sidecar. Skipped survivors are retried
    // by any later maintenance pass.
    val cutoff = System.currentTimeMillis() - minAgeMs
    // distributed exactly like [[vacuum]]'s sweep: listing with mtimes
    // and deletes run as jobs above the threshold, the driver keeps the
    // manifest diff only. The sweep re-resolves `oldest` THROUGH the
    // freshly-written checkpoint (the replace changed its signature, so
    // the state cache misses honestly): its F+H sections ARE the
    // retained live set, so under path-lazy the diff runs inside the
    // listing job against those entries and the corpus path list never
    // materializes — the same shape as [[vacuum]]'s fast path
    val reSt = stateAt(spark, lakeDir, oldest)
    // the gate counts the PRE-CUT state: a mass-supersede cut (one
    // rewrite orphaning the whole prior corpus) leaves a tiny live set
    // but a corpus-sized reclaim — the pre-cut history is the honest
    // size of the tree the listing walks and the deletes sweep
    val distribute =
      oldestState.files.length + oldestState.history.size + addsSet.size >=
        vacuumDistributeMin(spark)
    val dead = reSt.files match {
      case dfl: DeferredFiles if distribute =>
        val histExtra: Seq[String] = reSt.history match {
          case dh: DeferredHistory => dh.histTail
          case h => h
        }
        orphanDataFiles(spark, lakeDir, dfl.entriesDir,
          (dfl.tailAdded ++ histExtra).toSet, cutoff, minAgeMs)
      case _ =>
        val liveSet = (reSt.files ++ reSt.history).toSet
        dataFileInventory(spark, lakeDir, distribute)
          .filterNot { case (f, _) => liveSet(f) }
          .filter { case (_, mtime) => minAgeMs <= 0 || mtime <= cutoff }
          .map(_._1)
    }
    // the reclaim distributes on ITS OWN mass too: the dead count is in
    // hand by now, and a corpus-sized delete loop is exactly what the
    // job-shaped path exists for
    val distributeReclaim =
      distribute || dead.size >= vacuumDistributeMin(spark)
    reclaimPaths(spark, lakeDir, dead.map(_ -> false), distributeReclaim)
    // the live-top set is driver-bounded here (the cut just rebuilt it
    // from the retained deltas), but the LISTING and per-dir deep-mtime
    // grace walk are O(feed-bearing commits) filesystem traffic — they
    // run as a job on a distributing cut, serial below the threshold
    val liveTops = (liveDvSet ++ liveCdcSet).map(sidecarTop)
    val deadSidecar: Seq[String] =
      if (distributeReclaim)
        orphanSidecarDirs(spark, lakeDir, None, liveTops, cutoff, minAgeMs,
          deepMtime = true)
      else listSidecarDirs(fs, root)
        .filterNot(liveTops)
        .filter(d => minAgeMs <= 0 || newestMtime(fs, new Path(root, d)) <= cutoff)
    reclaimPaths(spark, lakeDir, deadSidecar.map(_ -> true), distributeReclaim)
    expired.foreach(v => fs.delete(new Path(logDir(root), deltaName(v)), false))
    checkpoints.filter(_ < oldest).foreach(c =>
      fs.delete(new Path(logDir(root), checkpointName(c)), false))
    // entries directories whose version fell below the retention cut are
    // unreferenced no matter how they got there — a retired columnar
    // checkpoint's payload, or a CRASHED columnar write that never
    // renamed its stub in. NEW resolutions below `oldest` are impossible
    // (their deltas are gone), but a reader who resolved BEFORE the cut
    // may still hold a deferred list over one — so they RETIRE like the
    // same-version replace (marker = this cut's wall clock) and reclaim
    // once the reader grace elapses, on this pass or a later one.
    fs.listStatus(logDir(root)).toSeq.map(_.getPath)
      .filter(p => pqEntriesVersion(p.getName).exists(_ < oldest))
      .foreach { p =>
        val m = retiredMarker(logDir(root), p.getName)
        if (!fs.exists(m)) fs.create(m, false).close()
      }
    // retirees (this cut's below-oldest ones, EARLIER cuts' replaced
    // ones) whose reader grace has elapsed, plus dangling markers — the
    // caller's minAgeMs widens the window like every other sweep here
    val deadEntries = sweepStaleEntryDirs(spark, fs, root, minAgeMs)
    dead ++ deadSidecar ++ deadEntries
  }
}
