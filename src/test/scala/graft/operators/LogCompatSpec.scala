package graft.operators

import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Log forward-compatibility (the `mr=` minReader stamp) and the commit
  * primitive's behavior on NON-ATOMIC stores.
  *
  * The stamp (Delta's `minReaderVersion` idiom): a record using tags
  * above the base feature set carries `mr=<level>` in its header;
  * parsers check the stamp BEFORE interpreting any tag, so a reader
  * whose feature table is older than the log reports "requires reader
  * >= N", never a raw "unknown tag". Records with only base tags are
  * written byte-identically to older rounds.
  */
class LogCompatSpec extends SparkTestBase {

  import spark.implicits._

  private def freshDir(leaf: String): String =
    java.nio.file.Files.createTempDirectory(leaf).toString + "/lake"

  private def writeLog(out: String, name: String, content: String): Unit = {
    val log = java.nio.file.Paths.get(out, Lake.LogDirName)
    java.nio.file.Files.createDirectories(log)
    java.nio.file.Files.write(log.resolve(name), content.getBytes("UTF-8"))
  }

  test("a delta stamped mr=99 refuses with the version message, not an unknown-tag error") {
    val out = freshDir("compat-delta-mr")
    // a future build's record: one unknown tag, gated by its stamp
    writeLog(out, f"v${1L}%020d.manifest",
      "graft-delta-v1\tappend\t0\t0\t0\t0\t0\t0\tmr=99\nS\t%7B%7D\nZZ\tfuture-payload")
    val e = intercept[IllegalStateException] { Lake.deltaAt(spark, out, 1L) }
    assert(e.getMessage.contains("requires reader feature version >= 99"),
      s"the stamp must gate FIRST, got: ${e.getMessage}")
    assert(!e.getMessage.contains("unknown"),
      "the version message must win over the unknown-tag error")
  }

  test("a checkpoint stub stamped mr=99 refuses with the version message") {
    val out = freshDir("compat-stub-mr")
    // resolution anchors on the newest delta, then loads the covering stub
    writeLog(out, f"v${1L}%020d.manifest",
      "graft-delta-v1\tappend\t0\t0\t0\t0\t0\t0\nS\t%7B%7D")
    writeLog(out, f"v${1L}%020d.checkpoint",
      "graft-checkpoint-v3\tmr=99\nS\t%7B%7D\nPQ\tnowhere.pqentries\t0\nDC\t0\t1\t-\nVC\t0\nQQ\tfuture")
    val e = intercept[IllegalStateException] { Lake.latestManifest(spark, out) }
    assert(e.getMessage.contains("requires reader feature version >= 99"),
      s"expected the stub gate, got: ${e.getMessage}")
  }

  test("an UNGATED unknown delta tag names the newer-build cause, not a bare MatchError") {
    val out = freshDir("compat-delta-unknown")
    writeLog(out, f"v${1L}%020d.manifest",
      "graft-delta-v1\tappend\t0\t0\t0\t0\t0\t0\nS\t%7B%7D\nZZ\tfuture-payload")
    val e = intercept[IllegalStateException] { Lake.deltaAt(spark, out, 1L) }
    assert(e.getMessage.contains("unknown delta line tag 'ZZ'") &&
      e.getMessage.contains("newer graft build"),
      s"expected the descriptive unknown-tag error, got: ${e.getMessage}")
  }

  test("a retired graft-checkpoint-v1 checkpoint refuses by name, not a silent fallback") {
    val out = freshDir("compat-ckpt-v1")
    writeLog(out, f"v${1L}%020d.manifest",
      "graft-delta-v1\tappend\t0\t0\t0\t0\t0\t0\nS\t%7B%7D")
    // what a pre-history-section build wrote: v1 header, no H lines
    writeLog(out, f"v${1L}%020d.checkpoint",
      "graft-checkpoint-v1\nS\t%7B%7D\nF\tsplit%3Dtrain%2Fpart-0.parquet")
    val e = intercept[IllegalStateException] { Lake.latestManifest(spark, out) }
    assert(e.getMessage.contains("graft-checkpoint-v1") &&
      e.getMessage.contains("checkpoint at version 1"),
      s"expected the named v1 refusal, got: ${e.getMessage}")
  }

  test("a retired legacy AS restate line refuses by name, not as a newer-build tag") {
    val out = freshDir("compat-delta-as")
    writeLog(out, f"v${1L}%020d.manifest",
      "graft-delta-v1\tanalyze\t0\nS\t%7B%7D\nAS\tpart-0.parquet\ttext\ta\tb")
    val e = intercept[IllegalStateException] { Lake.deltaAt(spark, out, 1L) }
    assert(e.getMessage.contains("'AS'") &&
      e.getMessage.contains("delta record at version 1"),
      s"expected the named AS refusal, got: ${e.getMessage}")
    assert(!e.getMessage.contains("newer"),
      s"an AS line is OLDER than this build, not newer: ${e.getMessage}")
  }

  test("a zero-byte delta or checkpoint names the record kind and version, not head of empty list") {
    val out = freshDir("compat-empty")
    writeLog(out, f"v${1L}%020d.manifest", "")
    val d = intercept[IllegalStateException] { Lake.deltaAt(spark, out, 1L) }
    assert(d.getMessage.contains("delta record at version 1 is empty"),
      s"expected the empty-delta error, got: ${d.getMessage}")
    writeLog(out, f"v${1L}%020d.manifest",
      "graft-delta-v1\tappend\t0\t0\t0\t0\t0\t0\nS\t%7B%7D")
    writeLog(out, f"v${1L}%020d.checkpoint", "")
    val c = intercept[IllegalStateException] { Lake.latestManifest(spark, out) }
    assert(c.getMessage.contains("checkpoint at version 1 is empty"),
      s"expected the empty-checkpoint error, got: ${c.getMessage}")
  }

  test("a level-2 delta (VD lines) stamps mr=2 and replays fine on this build") {
    val out = freshDir("compat-mr2-roundtrip")
    val docs = spark.range(40).select(col("id").as("doc_id"),
      (col("id") % 2).cast("int").as("shard_id"))
    Lake.init(spark, docs, out, Seq("shard_id"))
    Pipeline.deleteFromLakeSparse(spark, out, Seq(3L, 7L).toDF("doc_id"), "doc_id")
    Pipeline.compactLake(spark, out,
      partitionCols = Seq("shard_id")) // detaches the sidecars → VD lines
    val log = java.nio.file.Paths.get(out, Lake.LogDirName)
    val deltas = java.nio.file.Files.list(log).iterator()
    var sawMr2 = false
    while (deltas.hasNext) {
      val p = deltas.next()
      if (p.getFileName.toString.endsWith(".manifest")) {
        val first = java.nio.file.Files.readAllLines(p).get(0)
        if (first.split('\t').exists(_.startsWith("mr=")))
          sawMr2 = first.contains("mr=2")
      }
    }
    assert(sawMr2, "the VD-bearing compaction delta must carry its mr=2 stamp")
    // and the round-trip is unharmed: this build reads its own stamp
    Lake.invalidateStateCache()
    assert(Lake.read(spark, out).count() == 38L)
  }

  test("base-tag records stay stamp-free (old logs replay byte-identically)") {
    val out = freshDir("compat-base-unstamped")
    val docs = spark.range(20).select(col("id").as("doc_id"),
      (col("id") % 2).cast("int").as("shard_id"))
    Lake.init(spark, docs, out, Seq("shard_id"))
    Lake.append(spark, out, spark.range(20, 30).select(col("id").as("doc_id"),
      (col("id") % 2).cast("int").as("shard_id")))
    val log = java.nio.file.Paths.get(out, Lake.LogDirName)
    val it = java.nio.file.Files.list(log).iterator()
    while (it.hasNext) {
      val p = it.next()
      if (p.getFileName.toString.endsWith(".manifest")) {
        val first = java.nio.file.Files.readAllLines(p).get(0)
        assert(!first.contains("mr="),
          s"a base-tag delta must not carry a stamp: $first")
      }
    }
  }

  // ---------------------------------------------------------------
  // The commit primitive on NON-ATOMIC stores (the object-store race)
  // ---------------------------------------------------------------

  private def freshLog(): (FileSystem, Path) = {
    val dir = java.nio.file.Files.createTempDirectory("nonatomic").toString
    val p = new Path(dir, "_graft_log")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(p)
    (fs, fs.makeQualified(p))
  }

  /** The overwrite-on-rename worst case: the instant THIS writer's
    * rename lands, a racer's own rename silently clobbers the target
    * (exactly what S3-style copy+delete "rename" permits). */
  private class ClobberOnRename(underlying: FileSystem, target: Path,
      racerPayload: String) extends FilterFileSystem(underlying) {
    @volatile var fired = false
    override def rename(src: Path, dst: Path): Boolean = {
      val r = super.rename(src, dst)
      if (r && dst.getName == target.getName && !fired) {
        fired = true
        val o = underlying.create(dst, true)
        try o.write(racerPayload.getBytes("UTF-8")) finally o.close()
      }
      r
    }
  }

  test("rename+read-back store: a racer clobbering AT the rename cannot leave both writers believing they won") {
    val (fs, log) = freshLog()
    val target = new Path(log, "v7.manifest")
    val clobberFs = new ClobberOnRename(fs, target, "racer-payload")
    val e = intercept[IllegalStateException] {
      RenameReadBackLogStore.putIfAbsent(clobberFs, log, target, "loser-payload")
    }
    assert(e.getMessage.startsWith("concurrent commit"),
      s"the rebase loop keys on the prefix, got: ${e.getMessage}")
    val in = fs.open(target)
    val back = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    assert(back == "racer-payload", "exactly one record lands: the racer's")
  }

  /** The conditional-PUT contract an object-store [[LogStore]] must
    * implement (`If-None-Match: *`): an atomic compare-and-swap per
    * key. The mock proves the seam's contract under a REAL thread race:
    * for every version, exactly one writer wins and every loser gets
    * the loud `"concurrent commit"` error. */
  private object ConditionalPutMock extends LogStore {
    val store = new java.util.concurrent.ConcurrentHashMap[String, String]()
    override def putIfAbsent(fs: FileSystem, log: Path, target: Path,
        payload: String): Unit =
      if (store.putIfAbsent(target.toString, payload) != null)
        throw new IllegalStateException(
          s"concurrent commit: precondition failed, $target already exists")
  }

  test("rename+read-back store: a REAL same-JVM thread race yields exactly one winner per version") {
    val (fs, log) = freshLog()
    val races = 30
    val writersPerVersion = 4
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val losses = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      (0 until races).flatMap { v =>
        (0 until writersPerVersion).map { w =>
          pool.submit(new Runnable {
            def run(): Unit =
              try {
                RenameReadBackLogStore.putIfAbsent(fs, log,
                  new Path(log, s"v$v.manifest"), s"writer-$w-of-v$v")
                wins.incrementAndGet()
              } catch {
                case e: IllegalStateException
                    if e.getMessage.startsWith("concurrent commit") =>
                  losses.incrementAndGet()
              }
          })
        }
      }.foreach(_.get())
    } finally pool.shutdown()
    assert(wins.get() == races,
      s"same-JVM put-if-absent must be exact (striped lock): ${wins.get()} wins/$races")
    assert(losses.get() == races * (writersPerVersion - 1))
    // and what landed is intact (no torn interleaved content)
    for (v <- 0 until races) {
      val in = fs.open(new Path(log, s"v$v.manifest"))
      val back = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      assert(back.matches(s"writer-\\d-of-v$v"), s"torn record at v$v: $back")
    }
  }

  test("conditional-put contract: N racing publishers per version, exactly one wins each") {
    val (fs, log) = freshLog()
    val races = 50
    val writersPerVersion = 4
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val losses = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until races).flatMap { v =>
        (0 until writersPerVersion).map { w =>
          pool.submit(new Runnable {
            def run(): Unit =
              try {
                ConditionalPutMock.putIfAbsent(fs, log,
                  new Path(log, s"v$v.manifest"), s"writer-$w")
                wins.incrementAndGet()
              } catch {
                case e: IllegalStateException
                    if e.getMessage.startsWith("concurrent commit") =>
                  losses.incrementAndGet()
              }
          })
        }
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    assert(wins.get() == races, s"exactly one winner per version: ${wins.get()}")
    assert(losses.get() == races * (writersPerVersion - 1),
      "every loser must see the loud error")
  }

  // ---------------------------------------------------------------
  // The checkpoint writer's in-progress claim vs the reclaim sweep
  // ---------------------------------------------------------------

  test("the maintenance sweep honors a live in-progress claim; an aged-out claim reclaims the pair") {
    val out = freshDir("compat-inprogress")
    val docs = spark.range(20).select(col("id").as("doc_id"),
      (col("id") % 2).cast("int").as("shard_id"))
    Lake.init(spark, docs, out, Seq("shard_id"))
    val logP = java.nio.file.Paths.get(out, Lake.LogDirName)
    // a concurrent writer mid-flight at an uncommitted version: entries
    // dir whose every mtime is ANCIENT (stalled since its last task
    // write), stub not yet renamed in — plus its live claim marker
    val staleDir = logP.resolve(f"v${99L}%020d.checkpoint-deadbeef.pqentries")
    java.nio.file.Files.createDirectories(staleDir)
    java.nio.file.Files.write(staleDir.resolve("part-0.parquet"), "x".getBytes)
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3L * 60 * 60 * 1000)
    java.nio.file.Files.setLastModifiedTime(staleDir.resolve("part-0.parquet"), old)
    java.nio.file.Files.setLastModifiedTime(staleDir, old)
    val marker = logP.resolve(staleDir.getFileName.toString + ".inprogress")
    java.nio.file.Files.write(marker, Array.empty[Byte]) // fresh mtime: a live claim
    spark.conf.set(Lake.ReplacedEntriesGraceMsKey, (30L * 60 * 1000).toString)
    try {
      Lake.vacuum(spark, out, minAgeMs = 0L)
      assert(java.nio.file.Files.exists(staleDir),
        "a dir under a live writer claim must survive the sweep")
      // the writer crashed: its claim ages past the grace window
      java.nio.file.Files.setLastModifiedTime(marker, old)
      Lake.vacuum(spark, out, minAgeMs = 0L)
      assert(!java.nio.file.Files.exists(staleDir) &&
        !java.nio.file.Files.exists(marker),
        "an expired claim reclaims the dir and the marker together")
    } finally spark.conf.unset(Lake.ReplacedEntriesGraceMsKey)
  }

  test("retry-time cleanup drops a crashed same-version attempt with an EXPIRED claim, spares a LIVE one") {
    val out = freshDir("compat-claim-retry")
    val docs = spark.range(20).select(col("id").as("doc_id"),
      (col("id") % 2).cast("int").as("shard_id"))
    Lake.init(spark, docs, out, Seq("shard_id"))
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "1")
    try {
      val v = Lake.latestManifest(spark, out).get.version
      val logP = java.nio.file.Paths.get(out, Lake.LogDirName)
      def mkAttempt(tag: String, markerAgeMs: Long): (java.nio.file.Path, java.nio.file.Path) = {
        val d = logP.resolve(f"v$v%020d.checkpoint-$tag.pqentries")
        java.nio.file.Files.createDirectories(d)
        java.nio.file.Files.write(d.resolve("part-0.parquet"), "x".getBytes)
        val m = logP.resolve(d.getFileName.toString + ".inprogress")
        java.nio.file.Files.write(m, Array.empty[Byte])
        java.nio.file.Files.setLastModifiedTime(m,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - markerAgeMs))
        (d, m)
      }
      // a hard-crashed writer: claim far past the grace — no claim
      val (deadDir, deadMarker) = mkAttempt("0ld0ld0l", 3L * 60 * 60 * 1000)
      // a CONCURRENT writer mid-flight: claim touched seconds ago
      val (liveDir, _) = mkAttempt("l1vel1ve", 0L)
      Lake.checkpointNow(spark, out)
      assert(!java.nio.file.Files.exists(deadDir) &&
        !java.nio.file.Files.exists(deadMarker),
        "an expired claim is no claim: the crashed attempt reclaims on retry")
      assert(java.nio.file.Files.exists(liveDir),
        "a live claim protects a concurrent writer's in-flight directory")
      Lake.invalidateStateCache()
      assert(Lake.read(spark, out).count() == 20L)
    } finally spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
  }

  // ---------------------------------------------------------------
  // DeferredHistory's Seq contract under dedupe
  // ---------------------------------------------------------------

  test("a dedupe'd deferred sidecar list keeps length == element count (Seq contract)") {
    val dir = java.nio.file.Files.createTempDirectory("dedupe-vh").toString
    import org.apache.spark.sql.Row
    val rows = Seq(Row("VH", "_graft_dv/s1", null, null),
      Row("VH", "_graft_dv/s2", null, null))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      Lake.CpEntrySchema).write.parquet(dir + "/entries")
    // the tail re-detaches a checkpoint-resident sidecar (s2) — the
    // duplicate collapses at materialization
    val dh = new Lake.DeferredHistory(dir + "/entries", 2L,
      Seq("_graft_dv/s2", "_graft_dv/s3"), None, "VH", dedupe = true)
    assert(dh.length == 3, "length must be the DEDUPED element count")
    assert(dh.sorted == Seq("_graft_dv/s1", "_graft_dv/s2", "_graft_dv/s3"),
      "generic Seq ops that preallocate from length must see no nulls")
    assert(!dh.isEmpty)
    // the non-dedupe variant stays cheap and exact
    val plain = new Lake.DeferredHistory(dir + "/entries", 2L, Seq("t1"), None, "VH")
    assert(plain.length == 3 && plain.knownSize == 3)
  }
}
