package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Crash-consistency and commit-protocol semantics of the [[Lake]]
  * write-audit-publish layer under the px100-px103 lifecycle operators.
  * The invariant under test everywhere: a reader resolving through the
  * manifest sees the pre-commit lake or the post-commit lake, NEVER a
  * mix — regardless of where a mutation dies. */
class LakeSpec extends SparkTestBase {

  import spark.implicits._

  private def freshDir(leaf: String): String =
    java.nio.file.Files.createTempDirectory(leaf).toString + "/lake"

  /** 40 docs over (split, shard_id): train/test × shard 0/1. */
  private def fixture(): DataFrame =
    spark.range(40).select(
      col("id").as("doc_id"),
      concat(lit("doc "), col("id")).as("text"),
      when(col("id") < 20, "train").otherwise("test").as("split"),
      (col("id") % 2).cast("int").as("shard_id"))

  private def writePlain(df: DataFrame, out: String): Unit =
    df.write.mode("overwrite").partitionBy("split", "shard_id").parquet(out)

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("a crash between stage and publish leaves readers on the pre-delete lake; publish flips them atomically") {
    val out = freshDir("lake-crash")
    writePlain(fixture(), out)
    val tomb = Seq(0L, 7L, 13L).toDF("doc_id")

    // stage + audit, then "crash" — publish never runs
    val staged = Pipeline.stageLakeDelete(spark, out, tomb, "doc_id", "doc_id",
      Seq("split", "shard_id"))
    assert(staged.nonEmpty, "fixture tombstones must hit the lake")
    assert(staged.get.stagedFiles.nonEmpty, "survivor files must be staged on disk")

    // the staged files physically exist but a manifest reader cannot see them
    val midCrash = Lake.read(spark, out)
    assert(ids(midCrash) == (0L until 40L).toSet,
      "mid-crash readers must see the complete pre-delete lake")
    assert(midCrash.count() == 40, "no staged duplicate may leak into a read")

    // resuming the commit flips readers to the post-delete lake
    Lake.publish(spark, staged.get)
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet -- Set(0L, 7L, 13L))
  }

  test("abort rolls a staged mutation back: staged files deleted, readers untouched") {
    val out = freshDir("lake-abort")
    writePlain(fixture(), out)
    val staged = Pipeline.stageLakeDelete(spark, out, Seq(1L, 2L).toDF("doc_id"),
      "doc_id", "doc_id", Seq("split", "shard_id")).get
    Lake.abort(spark, staged)
    val left = Lake.listDataFiles(spark, out)
    staged.stagedFiles.foreach(f =>
      assert(!left.contains(f), s"aborted staged file still on disk: $f"))
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet)
  }

  test("a failed audit refuses to publish and leaves the lake untouched") {
    val out = freshDir("lake-audit")
    writePlain(fixture(), out)
    val staged = Pipeline.stageLakeDelete(spark, out, Seq(3L).toDF("doc_id"),
      "doc_id", "doc_id", Seq("split", "shard_id")).get
    val poisoned = staged.copy(expectedRows = staged.expectedRows + 1)
    val e = intercept[IllegalStateException] { Lake.publish(spark, poisoned) }
    assert(e.getMessage.contains("audit failed"))
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet,
      "a failed audit must leave readers on the pre-mutation lake")
    assert(Lake.latestManifest(spark, out).get.version == 0L,
      "no new manifest version may land after a failed audit")
  }

  test("deleting EVERY doc of a partition retains none of them (no silent retention)") {
    val out = freshDir("lake-empty-part")
    writePlain(fixture(), out)
    // every doc of (test, 0): ids 20..38 even — plus one train doc for a
    // partially-affected partition in the same commit
    val full = (20L until 40L by 2).toSet
    val tomb = (full + 5L).toSeq.toDF("doc_id")
    val after = Pipeline.deleteFromLake(spark, out, tomb, "doc_id")
    assert((ids(after) intersect (full + 5L)).isEmpty,
      "fully-tombstoned partition docs survived the delete — silent retention")
    assert(ids(after) == (0L until 40L).toSet -- full - 5L)
    assert(after.filter(col("split") === "test" && col("shard_id") === 0).count() == 0,
      "the emptied partition must read back as zero rows")
  }

  test("vacuum reclaims crash orphans without touching live data") {
    val out = freshDir("lake-vacuum")
    writePlain(fixture(), out)
    val staged = Pipeline.stageLakeDelete(spark, out, Seq(4L).toDF("doc_id"),
      "doc_id", "doc_id", Seq("split", "shard_id")).get
    // abandon the staged commit (crash) — its files AND its change-feed
    // sidecar are orphans now
    val dead = Lake.vacuum(spark, out)
    assert(dead.toSet == (staged.stagedFiles ++ staged.cdcFiles.map(_._1)).toSet,
      "vacuum must delete exactly the abandoned staged files and sidecars")
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet)
    assert(Lake.vacuum(spark, out).isEmpty, "a clean lake has nothing to vacuum")
  }

  test("distributed vacuum: driver filesystem calls are bounded by directories, not files") {
    val out = freshDir("lake-vacuum-dist")
    // force the distributed path at spec scale (default threshold 512)
    spark.conf.set(Lake.VacuumDistributeMinKey, "1")
    try {
      writePlain(fixture(), out)
      Lake.adopt(spark, out)
      val st = Lake.latestManifest(spark, out).get
      val dirs = st.files.map(f => f.take(f.lastIndexOf('/'))).distinct.sorted
      assert(dirs.size >= 4, s"fixture must span several partition dirs, got $dirs")
      // strand MANY orphans across the partition dirs — more orphans than
      // the driver-call budget, so a per-file loop would blow the assert
      val orphans = dirs.flatMap(d => (0 until 6).map(i => s"$d/orphan-$i.parquet"))
      orphans.foreach { rel =>
        val p = java.nio.file.Paths.get(out, rel)
        java.nio.file.Files.write(p, Array[Byte](80, 65, 82, 49)) // "PAR1"
      }
      // grace period: a fresh orphan is a LIVE writer's candidate — the
      // inventory's OWN mtimes answer this with zero per-file stats
      assert(Lake.vacuum(spark, out, minAgeMs = 3600000L).isEmpty,
        "fresh orphans inside the grace window must survive")
      val before = Lake.vacuumDriverFsOps.get()
      val dead = Lake.vacuum(spark, out)
      val ops = Lake.vacuumDriverFsOps.get() - before
      assert(dead.toSet == orphans.toSet,
        s"the distributed sweep must reclaim exactly the orphans, got ${dead.size}")
      assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet,
        "live data survives the distributed sweep")
      // the bound: exists(root) + listStatus(root) + two sidecar-root
      // exists + staging exists = 5 driver calls — the listing walks and
      // every delete ran inside tasks (Delta VACUUM's shape)
      assert(ops <= 6,
        s"driver FS calls must be directory-bounded, got $ops for ${orphans.size} orphans")
      assert(ops < orphans.size,
        "the driver-call count must not scale with the file count")
    } finally spark.conf.unset(Lake.VacuumDistributeMinKey)
  }

  test("commit-time superseded deletes and restore's existence sweep distribute above the threshold") {
    spark.conf.set(Lake.VacuumDistributeMinKey, "1")
    try {
      val out = freshDir("lake-del-dist")
      writePlain(fixture(), out)
      // the delete rewrites affected partitions; with the threshold
      // lowered, the superseded pre-image files reclaim inside a job —
      // zero serial driver deletes (the maintenance-op counter is flat
      // through the whole publish)
      val before = Lake.vacuumDriverFsOps.get()
      Pipeline.deleteFromLake(spark, out, Seq(4L).toDF("doc_id"), "doc_id")
      assert(Lake.vacuumDriverFsOps.get() == before,
        "superseded deletes above the threshold must run inside a job")
      assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet - 4L)
      // below the threshold the serial loop survives (and is counted)
      spark.conf.set(Lake.VacuumDistributeMinKey, "1000000")
      val before2 = Lake.vacuumDriverFsOps.get()
      Pipeline.deleteFromLake(spark, out, Seq(5L).toDF("doc_id"), "doc_id")
      assert(Lake.vacuumDriverFsOps.get() > before2,
        "small batches keep the serial loop — two job launches cost more")
      assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet - 4L - 5L)
      // restore's existence sweep: above the threshold the DATA files
      // check against one distributed inventory, not per-file exists
      spark.conf.set(Lake.VacuumDistributeMinKey, "1")
      val out2 = freshDir("lake-restore-dist")
      writePlain(fixture(), out2)
      Pipeline.deleteFromLake(spark, out2, Seq(3L).toDF("doc_id"), "doc_id",
        retainHistory = true)
      val before3 = Lake.vacuumDriverFsOps.get()
      Lake.restore(spark, out2, 0L)
      val ops = Lake.vacuumDriverFsOps.get() - before3
      assert(ops <= 4,
        s"restore's existence sweep must be directory-bounded, got $ops")
      assert(ids(Lake.read(spark, out2)) == (0L until 40L).toSet,
        "the restore must resurrect the pre-delete corpus")
    } finally spark.conf.unset(Lake.VacuumDistributeMinKey)
  }

  test("vacuum inventory fans out to second-level directories: a hot split is not one straggler task") {
    spark.conf.set(Lake.VacuumDistributeMinKey, "1")
    try {
      val out = freshDir("lake-fanout")
      def batch(ids: Range, split: String, shards: Int) =
        spark.range(ids.start, ids.end).select(
          col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
          lit(split).as("split"), pmod(col("id"), lit(shards)).cast("int").as("shard"))
      // SKEWED tree: 6 level-2 dirs under split=train, 1 under split=test
      Lake.init(spark, batch(0 until 60, "train", 6)
        .unionByName(batch(60 until 70, "test", 1)), out, Seq("split", "shard"))
      val level2 = new java.io.File(out).listFiles.filter(_.isDirectory)
        .filterNot(_.getName.startsWith("_"))
        .flatMap(d => d.listFiles.filter(_.isDirectory).map(s => s"${d.getName}/${s.getName}"))
        .toSeq.sorted
      assert(level2.size == 7, s"fixture must have 7 level-2 dirs, got $level2")
      // strand an orphan deep in the hot split
      val orphan = s"${level2.head}/orphan-0.parquet"
      java.nio.file.Files.write(java.nio.file.Paths.get(out, orphan),
        Array[Byte](80, 65, 82, 49))
      val t0 = Lake.inventoryListTasks.get()
      val dead = Lake.vacuum(spark, out)
      val tasks = Lake.inventoryListTasks.get() - t0
      assert(dead == Seq(orphan), s"the sweep must reclaim exactly the orphan, got $dead")
      // 2 top-level dirs < parallelism: the walk must fan out over the
      // CHILDREN — at least min(level-2 dirs, parallelism) walk tasks
      // (plus the single-level expansion pass), never 2 stragglers
      val floor = math.min(level2.size, spark.sparkContext.defaultParallelism)
      assert(tasks >= floor,
        s"the inventory must schedule >= $floor walk tasks on the skewed tree, got $tasks")
      assert(Lake.read(spark, out).count() == 70, "live data survives the fan-out sweep")
    } finally spark.conf.unset(Lake.VacuumDistributeMinKey)
  }

  test("appendToLake bootstraps a first-ever ingest and dedups within the batch") {
    val out = freshDir("lake-first")
    // duplicate ids INSIDE the first batch (at-least-once upstream)
    val batch = fixture().unionByName(fixture().filter(col("doc_id") < 5))
    val after = Pipeline.appendToLake(spark, out, batch)
    assert(after.count() == 40, "intra-batch duplicates must not double-ingest")
    assert(ids(after) == (0L until 40L).toSet)
    assert(Lake.latestManifest(spark, out).isDefined,
      "a first-ever ingest must be born with a manifest")
    // replay of the same batch is a no-op commit-wise
    val v1 = Lake.latestManifest(spark, out).get.version
    Pipeline.appendToLake(spark, out, batch)
    assert(Lake.latestManifest(spark, out).get.version == v1,
      "an all-duplicate replay must not commit a new version")
  }

  test("append's bloom prefilter cuts the lake-side id scan to ~the overlap") {
    val out = freshDir("lake-bloom")
    val lakeDf = spark.range(1000).select(
      col("id").as("doc_id"), lit("x").as("text"),
      lit("train").as("split"), (col("id") % 2).cast("int").as("shard_id"))
    writePlain(lakeDf, out)
    // batch: 50 replayed ids + 50 new ones
    val batch = spark.range(950, 1050).select(
      col("id").as("doc_id"), lit("y").as("text"),
      lit("train").as("split"), (col("id") % 2).cast("int").as("shard_id"))
    val lakeIds = spark.read.parquet(out).select("doc_id")
    val probed = Pipeline.bloomProbedIds(spark, batch, lakeIds, "doc_id").count()
    // exact: >= the 50 true overlaps; effective: ~3% fp on the other 950
    assert(probed >= 50, "bloom must never drop a true overlap (no false negatives)")
    assert(probed <= 50 + 150,
      s"bloom should cut the 1000-id lake scan to ~the overlap, kept $probed")
    val after = Pipeline.appendToLake(spark, out, batch)
    assert(after.count() == 1050, "the 50 new docs (and only they) must land")
  }

  test("time travel: a retained version reads back exactly; orphan vacuum never spends history") {
    val out = freshDir("lake-tt")
    writePlain(fixture(), out)
    val after = Pipeline.deleteFromLake(spark, out, Seq(0L, 1L, 2L).toDF("doc_id"),
      "doc_id", retainHistory = true) // storage-for-history through the public API
    assert(ids(after) == (3L until 40L).toSet)
    // v0 is the adopted pre-delete lake — still fully reconstructible
    assert(ids(Lake.readVersion(spark, out, 0L)) == (0L until 40L).toSet)
    // the ORPHAN sweep only reclaims files no committed record references —
    // deliberately retained history survives it (spending history is
    // vacuumKeeping's job, never a routine maintenance pass's side effect)
    assert(Lake.vacuum(spark, out).isEmpty,
      "vacuum() must not reclaim history a retention policy kept")
    assert(ids(Lake.readVersion(spark, out, 0L)) == (0L until 40L).toSet)
    // a crash mid-retention (data gone, manifest still present) fails loudly
    val v0files = Lake.stateAt(spark, out, 0L).files
    val kept = Lake.latestManifest(spark, out).get.files.toSet
    val preImage = v0files.filterNot(kept)
    assert(preImage.nonEmpty)
    val (fs, root) = {
      val p = new org.apache.hadoop.fs.Path(out)
      val f = p.getFileSystem(spark.sessionState.newHadoopConf())
      (f, f.makeQualified(p))
    }
    fs.delete(new org.apache.hadoop.fs.Path(root, preImage.head), false)
    val e = intercept[IllegalStateException] { Lake.readVersion(spark, out, 0L).count() }
    assert(e.getMessage.contains("no longer reconstructible"))
    assert(ids(Lake.read(spark, out)) == (3L until 40L).toSet,
      "the current version must be untouched")
  }

  test("two writers staged from the same base: the second publish refuses — no lost update") {
    val out = freshDir("lake-race")
    writePlain(fixture(), out)
    // both writers resolve the SAME base version, then race to publish
    val w1 = Pipeline.stageLakeDelete(spark, out, Seq(1L).toDF("doc_id"),
      "doc_id", "doc_id", Seq("split", "shard_id")).get
    val w2 = Pipeline.stageLakeDelete(spark, out, Seq(3L).toDF("doc_id"),
      "doc_id", "doc_id", Seq("split", "shard_id")).get
    Lake.publish(spark, w1)
    val e = intercept[IllegalStateException] { Lake.publish(spark, w2) }
    assert(e.getMessage.contains("concurrent commit"),
      s"the losing writer must be refused, not merged: ${e.getMessage}")
    // only the winner's delete is visible; the loser must re-stage from
    // the new base (its staged files are abortable orphans)
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet - 1L)
    Lake.abort(spark, w2)
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet - 1L)
  }

  test("merge-schema append: new columns evolve the manifest, drift refuses by default, type changes always refuse") {
    val out = freshDir("lake-evolve")
    Lake.init(spark, fixture(), out, Seq("split", "shard_id"))
    val batch2 = spark.range(40, 50).select(
      col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
      lit("train").as("split"), (col("id") % 2).cast("int").as("shard_id"),
      (col("id") * 0.5).as("quality"))
    // silent column loss is refused without the explicit opt-in
    intercept[IllegalArgumentException] { Pipeline.appendToLake(spark, out, batch2) }
    val after = Pipeline.appendToLake(spark, out, batch2, mergeSchema = true)
    assert(after.columns.contains("quality"), "batch-only column must evolve the schema")
    assert(after.filter(col("doc_id") < 40 && col("quality").isNotNull).count() == 0,
      "pre-evolution rows must read the new column as null")
    assert(after.filter(col("doc_id") >= 40 && col("quality").isNull).count() == 0,
      "appended rows must carry their column values")
    // a batch MISSING a lake column lands it as null under mergeSchema
    val batch3 = spark.range(50, 55).select(
      col("id").as("doc_id"), lit("train").as("split"),
      (col("id") % 2).cast("int").as("shard_id"), (col("id") * 0.5).as("quality"))
    val after3 = Pipeline.appendToLake(spark, out, batch3, mergeSchema = true)
    assert(after3.filter(col("doc_id") >= 50 && col("text").isNotNull).count() == 0)
    assert(after3.count() == 55)
    // a TYPE change is a migration, never an append
    val batch4 = spark.range(60, 61).select(
      col("id").as("doc_id"), lit("t").as("text"), lit("train").as("split"),
      (col("id") % 2).cast("int").as("shard_id"), lit("high").as("quality"))
    val e = intercept[IllegalArgumentException] {
      Pipeline.appendToLake(spark, out, batch4, mergeSchema = true)
    }
    assert(e.getMessage.contains("type change"))
  }

  test("changesBetween is exact adds-CDC: appends surface, rewrites contribute nothing") {
    val out = freshDir("lake-cdc")
    // v1: seed with the even docs; v2: append the rest
    Lake.init(spark, fixture().filter(col("doc_id") % 2 === 0), out, Seq("split", "shard_id"))
    Pipeline.appendToLake(spark, out, fixture())
    assert(ids(Lake.changesBetween(spark, out, 1L, 2L)) ==
      (1L until 40L by 2).toSet, "append-only delta must be exactly the new docs")
    assert(Lake.changesBetween(spark, out, 2L, 2L).count() == 0,
      "a version is its own fixpoint — empty delta")
    // v3: a delete rewrites affected partitions — its action kind says
    // "no new rows", so incremental consumers skip it entirely (the old
    // full-listing diff surfaced every survivor as falsely 'added')
    Pipeline.deleteFromLake(spark, out, Seq(4L).toDF("doc_id"), "doc_id")
    assert(Lake.changesBetween(spark, out, 2L, 3L).count() == 0,
      "a row-removing commit must contribute nothing to adds-CDC")
  }

  test("changesBetween across a compaction: exactly the appended docs, never the recompacted corpus") {
    val out = freshDir("lake-cdc-compact")
    // v1 seed (fragmented), v2 append A, v3 compact (history retained),
    // v4 append B — the nightly-consumer worst case the action kinds fix
    fixture().filter(col("doc_id") < 20).repartition(4)
      .write.mode("overwrite").partitionBy("split", "shard_id").parquet(out)
    Lake.adopt(spark, out) // v0
    Pipeline.appendToLake(spark, out, fixture().filter(col("doc_id") < 30))  // v1: adds 20..29
    Pipeline.compactLake(spark, out, maxFilesPerPartition = 1,
      targetRowsPerFile = 1000L, retainHistory = true)                       // v2: rewrite only
    Pipeline.appendToLake(spark, out, fixture())                             // v3: adds 30..39
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet)
    val changed = ids(Lake.changesBetween(spark, out, 0L, 3L))
    assert(changed == (20L until 40L).toSet,
      s"consumer must see exactly the two appends' docs, got ${changed.size} ids — " +
        "a full-listing diff would re-surface the whole compacted corpus")
    // with history EAGERLY vacuumed instead, the in-range rewrite makes the
    // exact read impossible — it must fail loudly, never double-process.
    // Two appends into the same partitions guarantee >1 file per dir, so
    // the compaction provably rewrites (and vacuums) appended files.
    val out2 = freshDir("lake-cdc-eager")
    fixture().filter(col("doc_id") < 20).repartition(4)
      .write.mode("overwrite").partitionBy("split", "shard_id").parquet(out2)
    Lake.adopt(spark, out2)                                                   // v0
    Pipeline.appendToLake(spark, out2, fixture().filter(col("doc_id") < 25))  // v1
    Pipeline.appendToLake(spark, out2, fixture().filter(col("doc_id") < 30))  // v2
    Pipeline.compactLake(spark, out2, maxFilesPerPartition = 1, targetRowsPerFile = 1000L) // v3
    val e = intercept[IllegalStateException] {
      Lake.changesBetween(spark, out2, 0L, 3L).count()
    }
    assert(e.getMessage.contains("retain history"),
      s"eagerly-vacuumed in-range rewrite must fail loudly: ${e.getMessage}")
  }

  test("clustered compaction: files are contiguous sorted runs with disjoint id ranges per partition") {
    val out = freshDir("lake-cluster")
    val hot = spark.range(500).select(
      (col("id") * 7919 % 500).as("doc_id"), concat(lit("d"), col("id")).as("text"),
      lit("train").as("split"), lit(0).cast("int").as("shard_id"))
    hot.repartition(10).write.mode("overwrite")
      .partitionBy("split", "shard_id").parquet(out)
    Pipeline.compactLake(spark, out, maxFilesPerPartition = 1,
      targetRowsPerFile = 100L, sortCols = Seq("doc_id"))
    val files = Lake.latestManifest(spark, out).get.files
    assert(files.size >= 5, s"expected ~5 target-sized files, got ${files.size}")
    val ranges = files.map { f =>
      val ids = spark.read.parquet(new org.apache.hadoop.fs.Path(out, f).toString)
        .select("doc_id").collect().map(_.getLong(0))
      assert(ids.length <= 100, s"file over target: ${ids.length}")
      assert(ids.sameElements(ids.sorted), s"file $f is not a sorted run")
      (ids.min, ids.max)
    }
    ranges.sorted.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) =>
        assert(hi < lo, s"file id ranges overlap: ..$hi vs $lo.. — stats won't skip")
      case _ =>
    }
  }

  test("vacuumKeeping retains the newest N versions readable and reclaims older history") {
    val out = freshDir("lake-retention")
    Lake.init(spark, fixture().filter(col("doc_id") < 20), out, Seq("split", "shard_id")) // v1
    Pipeline.appendToLake(spark, out, fixture())                                          // v2
    val staged = Pipeline.stageLakeDelete(spark, out, Seq(2L).toDF("doc_id"),
      "doc_id", "doc_id", Seq("split", "shard_id")).get
    Lake.publish(spark, staged, vacuumSuperseded = false)                                 // v3 + history
    assert(Lake.vacuumKeeping(spark, out, 2).isEmpty,
      "v2 and v3 both reference every live file — nothing to reclaim yet")
    intercept[IllegalArgumentException] { Lake.readVersion(spark, out, 1L) } // expired
    assert(ids(Lake.readVersion(spark, out, 2L)) == (0L until 40L).toSet)
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet - 2L)
    val dead = Lake.vacuumKeeping(spark, out, 1)
    assert(dead.nonEmpty, "v2-only pre-image files must be reclaimed at keep=1")
    intercept[IllegalArgumentException] { Lake.readVersion(spark, out, 2L) }
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet - 2L,
      "the latest version must survive every retention cut")
  }

  test("raced pure-add commits rebase: two appends staged from the same base BOTH land") {
    val out = freshDir("lake-race-append")
    writePlain(fixture(), out)
    val base = Lake.adopt(spark, out) // v0
    def stageAppend(newIds: Seq[Long]): Lake.StagedCommit = {
      val batch = newIds.toDF("id").select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit("train").as("split"), (col("id") % 2).cast("int").as("shard_id"))
      val staged = Lake.stageWrite(spark, out, batch, Seq("split", "shard_id"))
      val (rows, stats) = Lake.auditStaged(spark, out, base.schemaJson, staged, Seq("doc_id"))
      Lake.StagedCommit(out, base, "append", base.schemaJson, Seq.empty, staged,
        rows, rows, stats)
    }
    // both writers resolve the SAME base, then publish one after the other
    val w1 = stageAppend(Seq(100L, 101L))
    val w2 = stageAppend(Seq(200L, 201L))
    Lake.publish(spark, w1) // v1
    Lake.publish(spark, w2) // raced at v1 — pure adds rebase to v2
    assert(Lake.latestManifest(spark, out).get.version == 2L,
      "the raced append must land at the next version, not refuse")
    assert(ids(Lake.read(spark, out)) ==
      (0L until 40L).toSet ++ Set(100L, 101L, 200L, 201L),
      "both appends' docs must be visible after the rebase")
  }

  test("OCC rebase: a delete racing an append into a DIFFERENT partition — both land") {
    val out = freshDir("lake-occ-commute")
    writePlain(fixture(), out)
    val base = Lake.adopt(spark, out) // v0
    // the delete reads/rewrites (train, shard 1) — id 5 lives there
    val d = Pipeline.stageLakeDelete(spark, out, Seq(5L).toDF("doc_id"),
      "doc_id", "doc_id", Seq("split", "shard_id")).get
    assert(d.removedFiles.forall(_.startsWith("split=train/shard_id=1/")),
      s"fixture expectation: the delete must only touch train/shard 1, got ${d.removedFiles}")
    // a concurrent append into (train, shard 0) lands first — disjoint
    // from everything the delete read, so the two commute
    val batch = Seq(300L).toDF("id").select(
      col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
      lit("train").as("split"), lit(0).cast("int").as("shard_id"))
    val staged = Lake.stageWrite(spark, out, batch, Seq("split", "shard_id"))
    val (rows, stats) = Lake.auditStaged(spark, out, base.schemaJson, staged, Seq("doc_id"))
    Lake.publish(spark, Lake.StagedCommit(out, base, "append", base.schemaJson,
      Seq.empty, staged, rows, rows, stats)) // v1 — takes the delete's version
    Lake.publish(spark, d)                   // raced — must rebase and land at v2
    assert(Lake.latestManifest(spark, out).get.version == 2L,
      "the disjoint delete must rebase and land, not refuse")
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet - 5L + 300L,
      "both the append's doc and the delete must be visible")
  }

  test("OCC rebase: genuine overlap still refuses — removed-base and append-into-read-partition") {
    val out = freshDir("lake-occ-refuse")
    writePlain(fixture().repartition(8), out) // >1 file per partition dir
    // (a) delete racing an overlapping COMPACT: the compact rewrote (and
    // removed) the very files the delete's survivors were derived from
    val d1 = Pipeline.stageLakeDelete(spark, out, Seq(5L).toDF("doc_id"),
      "doc_id", "doc_id", Seq("split", "shard_id")).get
    assert(d1.removedFiles.size > 1, "fixture must be fragmented so the compact rewrites it")
    Pipeline.compactLake(spark, out, maxFilesPerPartition = 1,
      targetRowsPerFile = 1000L, retainHistory = true) // rewrites every fragmented partition
    val e1 = intercept[IllegalStateException] { Lake.publish(spark, d1) }
    assert(e1.getMessage.contains("concurrent commit") &&
      e1.getMessage.contains("staged base is gone"),
      s"delete-vs-overlapping-compact must refuse: ${e1.getMessage}")
    Lake.abort(spark, d1)
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet)
    // (b) delete racing an append INTO the partition it read: the
    // appended rows would survive a tombstone check they never saw
    val base = Lake.latestManifest(spark, out).get
    val d2 = Pipeline.stageLakeDelete(spark, out, Seq(5L).toDF("doc_id"),
      "doc_id", "doc_id", Seq("split", "shard_id")).get
    val batch = Seq(301L).toDF("id").select(
      col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
      lit("train").as("split"), lit(1).cast("int").as("shard_id")) // same partition as id 5
    val staged = Lake.stageWrite(spark, out, batch, Seq("split", "shard_id"))
    val (rows, stats) = Lake.auditStaged(spark, out, base.schemaJson, staged, Seq("doc_id"))
    Lake.publish(spark, Lake.StagedCommit(out, base, "append", base.schemaJson,
      Seq.empty, staged, rows, rows, stats))
    val e2 = intercept[IllegalStateException] { Lake.publish(spark, d2) }
    assert(e2.getMessage.contains("concurrent commit") &&
      e2.getMessage.contains("rebase refused"),
      s"delete-vs-append-into-read-partition must refuse: ${e2.getMessage}")
    Lake.abort(spark, d2)
    assert(ids(Lake.read(spark, out)).contains(5L))
  }

  test("concurrent appends into the SAME partition never cross-claim each other's files") {
    val out = freshDir("lake-claim")
    writePlain(fixture(), out)
    val base = Lake.adopt(spark, out)
    def stage(id: Long): Lake.StagedCommit = {
      val batch = Seq(id).toDF("id").select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit("train").as("split"), lit(0).cast("int").as("shard_id"))
      val staged = Lake.stageWrite(spark, out, batch, Seq("split", "shard_id"))
      val (rows, stats) = Lake.auditStaged(spark, out, base.schemaJson, staged, Seq("doc_id"))
      Lake.StagedCommit(out, base, "append", base.schemaJson, Seq.empty, staged,
        rows, rows, stats)
    }
    // interleaved staging into the SAME partition dir: under a listing
    // diff, w2 (staged second) would claim w1's files too and readers
    // would double-read them after both commits
    val w1 = stage(500L)
    val w2 = stage(501L)
    assert(w1.stagedFiles.toSet.intersect(w2.stagedFiles.toSet).isEmpty,
      "two writers' staged-file claims must be disjoint")
    assert(w1.stagedFiles.nonEmpty && w2.stagedFiles.nonEmpty)
    Lake.publish(spark, w1)
    Lake.publish(spark, w2)
    val after = Lake.read(spark, out)
    assert(after.count() == 42, "no row may be double-read after both commits")
    assert(ids(after) == (0L until 40L).toSet ++ Set(500L, 501L))
  }

  test("the log is incremental: an append's commit record tracks the BATCH while the lake grows") {
    val out = freshDir("lake-deltalog")
    // a lake with many files (fragmented on purpose)
    fixture().repartition(8).write.mode("overwrite")
      .partitionBy("split", "shard_id").parquet(out)
    Lake.adopt(spark, out) // v0: the adopt record DOES carry the full listing
    val nLakeFiles = Lake.latestManifest(spark, out).get.files.size
    assert(nLakeFiles >= 16, s"fixture should fragment the lake, got $nLakeFiles files")
    (0 until 3).foreach { k =>
      val batch = Seq(1000L + k).toDF("id").select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit("train").as("split"), (col("id") % 2).cast("int").as("shard_id"))
      Pipeline.appendToLake(spark, out, batch)
    }
    val (fs, root) = {
      val p = new org.apache.hadoop.fs.Path(out)
      val f = p.getFileSystem(spark.sessionState.newHadoopConf())
      (f, f.makeQualified(p))
    }
    val log = new org.apache.hadoop.fs.Path(root, Lake.LogDirName)
    val sizes = fs.listStatus(log).map(s => s.getPath.getName -> s.getLen).toMap
    val adoptBytes = sizes(f"v${0L}%020d.manifest")
    (1L to 3L).foreach { v =>
      val b = sizes(f"v$v%020d.manifest")
      assert(b < adoptBytes / 3,
        s"append v$v wrote $b bytes vs $adoptBytes for the full listing — " +
          "the commit record must track the delta, not the lake")
    }
    // and the resolved state still accumulates every file
    assert(Lake.latestManifest(spark, out).get.files.size >= nLakeFiles + 3)
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet ++ Set(1000L, 1001L, 1002L))
  }

  test("append prunes the candidate file list by the manifest's per-file id stats") {
    val out = freshDir("lake-statprune")
    val lakeDf = spark.range(1000).select(
      col("id").as("doc_id"), concat(lit("d"), col("id")).as("text"),
      lit("train").as("split"), lit(0).cast("int").as("shard_id"))
    lakeDf.repartition(10).write.mode("overwrite")
      .partitionBy("split", "shard_id").parquet(out)
    // clustered compaction: disjoint ~100-row id runs per file, with the
    // audit read-back recording per-file doc_id min/max into the delta
    Pipeline.compactLake(spark, out, maxFilesPerPartition = 1,
      targetRowsPerFile = 100L, sortCols = Seq("doc_id"))
    val st = Lake.latestManifest(spark, out).get
    assert(st.stats.nonEmpty, "clustered compaction must record per-file id stats")
    assert(st.files.forall(st.stats.contains),
      "every compacted file must carry stats")
    // a batch touching only the top of the id space must keep ~1-2 files
    val pruned = Lake.pruneByStats(st, "doc_id",
      org.apache.spark.sql.types.LongType, 950L, 1049L)
    assert(pruned.size < st.files.size,
      s"pruning must drop non-overlapping files: kept ${pruned.size}/${st.files.size}")
    assert(pruned.size <= 2,
      s"a 100-id batch over ~100-row sorted files must keep <= 2 files, kept ${pruned.size}")
    // and the append built on that pruning is still exact
    val batch = spark.range(950, 1050).select(
      col("id").as("doc_id"), concat(lit("n"), col("id")).as("text"),
      lit("train").as("split"), lit(0).cast("int").as("shard_id"))
    val after = Pipeline.appendToLake(spark, out, batch)
    assert(after.count() == 1050, "the 50 genuinely-new docs (and only they) must land")
    assert(ids(after) == (0L until 1050L).toSet)
  }

  test("byte-based compaction target: files sized from observed bytes/row, rows preserved") {
    val out = freshDir("lake-bytetarget")
    // wide rows (~256 chars of md5 hex) so bytes/row is text-dominated —
    // the regime where a row-count target misjudges file sizes
    val wide = spark.range(500).select(
      col("id").as("doc_id"),
      concat((0 until 8).map(i => md5(concat(col("id"), lit(s"w$i")))): _*).as("text"),
      lit("train").as("split"), lit(0).cast("int").as("shard_id"))
    wide.repartition(10).write.mode("overwrite")
      .partitionBy("split", "shard_id").parquet(out)
    val before = Lake.adopt(spark, out)
    val totalBytes = Lake.fileBytes(spark, out, before.files)
    // ask for ~5 files' worth of bytes each
    Pipeline.compactLake(spark, out, maxFilesPerPartition = 1,
      targetBytesPerFile = Some(totalBytes / 5))
    val after = Lake.read(spark, out)
    assert(after.count() == 500, "byte-targeted compaction must preserve every row")
    assert(ids(after) == (0L until 500L).toSet)
    val files = Lake.latestManifest(spark, out).get.files
    assert(files.size >= 3 && files.size <= 10,
      s"a bytes/5 target should land ~5 bounded files, got ${files.size}")
  }

  test("vacuum decides orphan-ness from the latest state alone — log reads bounded by the checkpoint interval") {
    val out = freshDir("lake-vacuum-bounded")
    writePlain(fixture(), out)
    Lake.adopt(spark, out) // v0
    // 11 appends: the checkpoint grid (interval 10) is crossed at v10
    (0 until 11).foreach { k =>
      val batch = Seq(2000L + k).toDF("id").select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit("train").as("split"), (col("id") % 2).cast("int").as("shard_id"))
      Pipeline.appendToLake(spark, out, batch)
    }
    assert(Lake.latestManifest(spark, out).get.version == 11L)
    // corrupt an old delta BELOW the newest checkpoint: a vacuum that
    // replays full history would die here; a checkpoint-based one never
    // opens it
    val (fs, root) = {
      val p = new org.apache.hadoop.fs.Path(out)
      val f = p.getFileSystem(spark.sessionState.newHadoopConf())
      (f, f.makeQualified(p))
    }
    val v2 = new org.apache.hadoop.fs.Path(root, s"${Lake.LogDirName}/v${"%020d".format(2)}.manifest")
    val o = fs.create(v2, true)
    try o.write("garbage, not a delta record".getBytes("UTF-8")) finally o.close()
    intercept[Exception] { Lake.deltaAt(spark, out, 2L) } // the corruption is real
    // plant a crash orphan, then vacuum: must reclaim exactly it without
    // ever reading the corrupted pre-checkpoint delta
    val orphan = Lake.stageWrite(spark, out,
      Seq(9999L).toDF("id").select(
        col("id").as("doc_id"), lit("orphan").as("text"),
        lit("train").as("split"), lit(0).cast("int").as("shard_id")),
      Seq("split", "shard_id"))
    assert(orphan.nonEmpty)
    val dead = Lake.vacuum(spark, out)
    assert(dead.toSet == orphan.toSet,
      s"vacuum must reclaim exactly the planted orphan, got $dead")
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet ++ (2000L until 2011L))
  }

  test("checkpoint history section: vacuum keeps a pre-image retained through H lines and time travel to v0") {
    val out = freshDir("lake-ckpt-history")
    writePlain(fixture(), out)
    Lake.adopt(spark, out) // v0
    // delete WITH history retained at v1: the pre-image files are live on
    // disk but referenced only through the history section from then on
    Pipeline.deleteFromLake(spark, out, Seq(0L, 7L).toDF("doc_id"),
      "doc_id", "doc_id", Seq("split", "shard_id"), retainHistory = true)
    // 9 appends cross the checkpoint grid at v10 — the checkpoint's H
    // lines now carry the retained pre-image
    (0 until 9).foreach { k =>
      Pipeline.appendToLake(spark, out, Seq(3000L + k).toDF("id").select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit("train").as("split"), (col("id") % 2).cast("int").as("shard_id")))
    }
    val (fs, root) = {
      val p = new org.apache.hadoop.fs.Path(out)
      val f = p.getFileSystem(spark.sessionState.newHadoopConf())
      (f, f.makeQualified(p))
    }
    val ckpt = new org.apache.hadoop.fs.Path(root,
      s"${Lake.LogDirName}/v${"%020d".format(10)}.checkpoint")
    assert(fs.exists(ckpt), "fixture must have crossed the checkpoint grid")
    def ckptText(): String = {
      val in = fs.open(ckpt)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    val text = ckptText()
    assert(text.startsWith("graft-checkpoint-v2") &&
      text.linesIterator.exists(_.startsWith("H\t")),
      "the v2 checkpoint must carry the retained history")
    // vacuum must NOT reclassify the retained pre-image as an orphan: the
    // checkpoint's H lines keep it in the referenced set
    val dead = Lake.vacuum(spark, out)
    assert(dead.isEmpty, s"vacuum deleted retained history: $dead")
    assert(ids(Lake.readVersion(spark, out, 0L)) == (0L until 40L).toSet,
      "time travel below the checkpoint must survive the vacuum")
    // a retention pass whose horizon reaches the checkpoint REWRITES it
    // with the recomputed history, still in the v2 format
    Lake.vacuumKeeping(spark, out, keepVersions = 1)
    assert(ckptText().startsWith("graft-checkpoint-v2"),
      "vacuumKeeping must rewrite the checkpoint in the v2 format")
    assert(ids(Lake.read(spark, out)) ==
      ((0L until 40L).toSet -- Set(0L, 7L)) ++ (3000L until 3009L))
    assert(Lake.vacuum(spark, out).isEmpty)
  }

  test("a checkpoint stranded mid-replace (crash between the swap renames) heals on the next log listing") {
    val out = freshDir("lake-aside-heal")
    writePlain(fixture(), out)
    Lake.adopt(spark, out) // v0
    (0 until 10).foreach { k => // cross the checkpoint grid at v10
      Pipeline.appendToLake(spark, out, Seq(4000L + k).toDF("id").select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit("train").as("split"), (col("id") % 2).cast("int").as("shard_id")))
    }
    val (fs, root) = {
      val p = new org.apache.hadoop.fs.Path(out)
      val f = p.getFileSystem(spark.sessionState.newHadoopConf())
      (f, f.makeQualified(p))
    }
    val log = new org.apache.hadoop.fs.Path(root, Lake.LogDirName)
    val ckptName = s"v${"%020d".format(10)}.checkpoint"
    val ckpt = new org.apache.hadoop.fs.Path(log, ckptName)
    assert(fs.exists(ckpt))
    // simulate the crash window: old checkpoint moved aside, replacement
    // never landed — no checkpoint at the target
    assert(fs.rename(ckpt, new org.apache.hadoop.fs.Path(log, s".old.$ckptName")))
    assert(!fs.exists(ckpt))
    // any log listing heals it: the read succeeds AND the checkpoint is back
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet ++ (4000L until 4010L))
    assert(fs.exists(ckpt), "the stranded aside must be renamed back to the target")
    // the other crash shape: swap completed but the old-aside delete
    // failed — the leftover aside is dropped, the live checkpoint kept
    val stray = new org.apache.hadoop.fs.Path(log, s".old.$ckptName")
    org.apache.hadoop.fs.FileUtil.copy(fs, ckpt, fs, stray, false,
      spark.sessionState.newHadoopConf())
    assert(fs.exists(stray))
    Lake.read(spark, out).count()
    assert(!fs.exists(stray), "a completed swap's leftover aside must be reclaimed")
    assert(fs.exists(ckpt))
  }

  test("versionAtTimestamp / describeHistory resolve from delta headers: O(line) bytes read, not O(delta file)") {
    val out = freshDir("lake-header-only")
    writePlain(fixture(), out)
    Lake.adopt(spark, out) // v0
    Pipeline.appendToLake(spark, out, Seq(5000L).toDF("id").select(
      col("id").as("doc_id"), lit("doc").as("text"),
      lit("train").as("split"), lit(0).cast("int").as("shard_id"))) // v1
    val (fs, root) = {
      val p = new org.apache.hadoop.fs.Path(out)
      val f = p.getFileSystem(spark.sessionState.newHadoopConf())
      (f, f.makeQualified(p))
    }
    val log = new org.apache.hadoop.fs.Path(root, Lake.LogDirName)
    // handcraft a FAT delta v2 — the header of a bulk ingest whose body
    // names tens of thousands of files (~5 MB). Timestamp resolution and
    // the history audit must never open past its first line.
    val schemaLine = {
      val in = fs.open(new org.apache.hadoop.fs.Path(log, s"v${"%020d".format(0)}.manifest"))
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      text.linesIterator.find(_.startsWith("S\t")).get
    }
    val ts = System.currentTimeMillis() + 60000L
    val fat = new StringBuilder(s"graft-delta-v1\tappend\t$ts\t60000\t60000\t0\t0\t0\n")
    fat ++= schemaLine += '\n'
    (0 until 60000).foreach { i =>
      fat ++= s"A\tsplit%3Dtrain%2Fshard_id%3D0%2Fpart-fake-$i.c000.snappy.parquet\n" }
    val fatPath = new org.apache.hadoop.fs.Path(log, s"v${"%020d".format(2)}.manifest")
    val o = fs.create(fatPath, false)
    try o.write(fat.toString.getBytes("UTF-8")) finally o.close()
    val fatLen = fs.getFileStatus(fatPath).getLen
    assert(fatLen > (3L << 20), s"fat delta must be MBs, got $fatLen bytes")

    val stats = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    assume(stats != null, "local-filesystem storage statistics unavailable")
    val before = stats.getLong("bytesRead")
    assert(Lake.versionAtTimestamp(spark, out, ts) == 2L)
    assert(Lake.versionAtTimestamp(spark, out, ts - 1L) == 1L)
    val hist = Lake.describeHistory(spark, out).collect()
    val bytesRead = stats.getLong("bytesRead") - before
    assert(bytesRead < fatLen / 4,
      s"header-resolved lookups read $bytesRead bytes against a $fatLen-byte delta — " +
        "they must stay O(header)")
    // and the header carried the truth: the audit trail sees the bulk add
    val fatRow = hist.find(_.getLong(0) == 2L).get
    assert(fatRow.getString(2) == "append" && fatRow.getInt(3) == 60000 &&
      fatRow.getInt(4) == 60000 && fatRow.getInt(5) == 0)
  }

  test("merge broadcast cutoff is byte-based: 6M narrow ids broadcast, 1M wide string ids fall back") {
    // narrow numeric ids: 6M rows price at defaultSize + overhead — well
    // under the ceiling the old 5M-row magic number refused
    val narrow = spark.range(100).select(col("id").as("doc_id"))
    assert(Pipeline.estimatedIdSetBytes(narrow, "doc_id", 6000000L) <=
      Pipeline.MergeBroadcastMaxBytes,
      "6M narrow numeric ids must stay broadcastable")
    // wide string ids: measured average width drives the estimate over
    // the ceiling at only 1M rows — rows alone can't see this
    val wide = spark.range(100).select(
      concat(lit("k".repeat(600)), col("id").cast("string")).as("doc_id"))
    assert(Pipeline.estimatedIdSetBytes(wide, "doc_id", 1000000L) >
      Pipeline.MergeBroadcastMaxBytes,
      "1M kilobyte-wide string ids must fall back to the shuffled join")
  }

  test("sparse delete: tombstones commit without touching a data file; reads, time travel, CDC, compaction stay exact") {
    val out = freshDir("lake-dv-delete")
    writePlain(fixture(), out)
    Lake.adopt(spark, out) // v0
    val filesBefore = Lake.latestManifest(spark, out).get.files
    Pipeline.deleteFromLakeSparse(spark, out, Seq(0L, 7L, 13L).toDF("doc_id"), "doc_id")
    val st = Lake.latestManifest(spark, out).get
    assert(st.version == 1L)
    assert(st.files == filesBefore,
      "a sparse delete must neither add nor remove a single data file")
    assert(st.dvs.nonEmpty, "the tombstones must be attached as deletion vectors")
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet -- Set(0L, 7L, 13L))
    val h1 = Lake.describeHistory(spark, out).collect().find(_.getLong(0) == 1L).get
    assert(h1.getString(2) == "delete" && h1.getInt(3) == 0 && h1.getInt(5) == 0,
      "the audit trail must show zero file adds/removes for a sparse delete")
    // time travel below the tombstones sees every row
    assert(ids(Lake.readVersion(spark, out, 0L)) == (0L until 40L).toSet)
    // adds-CDC surfaces nothing for a delete
    assert(Lake.changesBetween(spark, out, 0L, 1L).count() == 0)
    // idempotent: re-deleting already-tombstoned ids matches nothing
    val cdcDirsBefore = {
      val p = new org.apache.hadoop.fs.Path(out, Lake.CdcDirName)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(p)) fs.listStatus(p).length else 0
    }
    Pipeline.deleteFromLakeSparse(spark, out, Seq(0L, 7L).toDF("doc_id"), "doc_id")
    assert(Lake.latestManifest(spark, out).get.version == 1L,
      "re-deleting already-deleted rows must not commit a new version")
    // the zero-match pass staged its sidecar WITH the observed count and
    // must roll the empty dir back — no residue accumulating per no-op
    locally {
      val p = new org.apache.hadoop.fs.Path(out, Lake.CdcDirName)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val after = if (fs.exists(p)) fs.listStatus(p).length else 0
      assert(after == cdcDirsBefore,
        s"a zero-match sparse delete must leave no sidecar dir behind " +
          s"($cdcDirsBefore dirs before, $after after)")
    }
    // an orphan vacuum never reclaims a referenced sidecar
    assert(Lake.vacuum(spark, out).isEmpty)
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet -- Set(0L, 7L, 13L))
    // the DSv2 surface reads MERGE-ON-READ: position-skip partitions for
    // the tombstoned files, the native path for the rest — never a
    // resurrected row
    assert(ids(spark.read.format("graft-lake").load(out)) ==
      (0L until 40L).toSet -- Set(0L, 7L, 13L),
      "the format-string read must apply the deletion vectors")
    // the driver-side position cap does NOT bind this path: the
    // vectorized anti-join read has no driver position load to cap (the
    // cap still governs the no-extensions fallback scan and the CDC
    // restore load)
    spark.conf.set(graft.sources.lake.LakeMorTable.MaxPositionsConf, "1")
    try assert(ids(spark.read.format("graft-lake").load(out)) ==
      (0L until 40L).toSet -- Set(0L, 7L, 13L),
      "the vectorized MoR read must not depend on the driver position cap")
    finally spark.conf.unset(graft.sources.lake.LakeMorTable.MaxPositionsConf)
    // time travel through the format applies the version's OWN vectors
    assert(ids(spark.read.format("graft-lake").option("version", 1L).load(out)) ==
      (0L until 40L).toSet -- Set(0L, 7L, 13L))
    assert(ids(spark.read.format("graft-lake").option("version", 0L).load(out)) ==
      (0L until 40L).toSet)
    // compaction materializes: same rows, attachments dropped, vectors
    // retained as history for time travel
    Pipeline.compactLake(spark, out, maxFilesPerPartition = 8, retainHistory = true)
    val st2 = Lake.latestManifest(spark, out).get
    assert(st2.dvs.isEmpty, "compaction must materialize the tombstones away")
    assert(st2.dvHistory.nonEmpty, "the retained sidecar must move to dv history")
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet -- Set(0L, 7L, 13L))
    assert(ids(Lake.readVersion(spark, out, 1L)) == (0L until 40L).toSet -- Set(0L, 7L, 13L),
      "time travel to the DV-bearing version must still apply the retained vectors")
    assert(spark.read.format("graft-lake").load(out).count() == 37,
      "the DSv2 surface reads normally once tombstones are materialized")
    // retention to latest-only reclaims the sidecar dir with the history
    Lake.vacuumKeeping(spark, out, 1)
    val (fs, root) = {
      val p = new org.apache.hadoop.fs.Path(out)
      val f = p.getFileSystem(spark.sessionState.newHadoopConf())
      (f, f.makeQualified(p))
    }
    val dvRoot = new org.apache.hadoop.fs.Path(root, Lake.DvDirName)
    assert(!fs.exists(dvRoot) || fs.listStatus(dvRoot).isEmpty,
      "a spent retention must reclaim unreferenced sidecar dirs")
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet -- Set(0L, 7L, 13L))
  }

  test("sparse merge: upserts land as data files, matched rows tombstone — zero survivor rewrites, CDC exact") {
    val out = freshDir("lake-dv-merge")
    writePlain(fixture(), out)
    Lake.adopt(spark, out) // v0
    val survivorFiles = Lake.latestManifest(spark, out).get.files.size
    val updates = fixture().filter(col("doc_id") % 10 === 0)
      .withColumn("text", concat(lit("updated "), col("doc_id")))
      .unionByName(Seq((100L, "new doc", "train", 0))
        .toDF("doc_id", "text", "split", "shard_id"))
    Pipeline.mergeIntoLakeSparse(spark, out, updates, "doc_id")
    val st = Lake.latestManifest(spark, out).get
    val h = Lake.describeHistory(spark, out).collect().find(_.getLong(0) == 1L).get
    assert(h.getString(2) == "merge")
    assert(h.getInt(5) == 0, "a sparse merge must remove zero survivor files")
    assert(h.getInt(3) > 0 && h.getInt(3) < survivorFiles,
      s"the merge's file adds (${h.getInt(3)}) must be the upsert files alone, " +
        s"far below the $survivorFiles pre-image files")
    assert(st.dvs.nonEmpty, "matched pre-image rows must be tombstoned")
    val r = Lake.read(spark, out)
    assert(r.count() == 41)
    assert(r.filter(col("doc_id") === 0L).select("text").collect()(0).getString(0)
      == "updated 0", "the matched row must read as its update image")
    assert(r.filter(col("doc_id") === 100L).count() == 1)
    // incremental consumers get exactly the upserted rows
    assert(ids(Lake.changesBetween(spark, out, 0L, 1L)) == Set(0L, 10L, 20L, 30L, 100L))
  }

  test("stageDv: observed write metrics carry both audit answers and agree with the sidecar bytes") {
    val out = freshDir("lake-dv-stagedv")
    writePlain(fixture(), out)
    val base = Lake.adopt(spark, out)
    val lineage = Lake.readFilesWithLineage(spark, out, base.schemaJson,
      base.files, base.dvs)
    val matched = lineage.filter(col("doc_id") % 7 === 0)
    val want = matched.select(col("_gf_file"), col("_gf_pos")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val (sidecar, n, files) = Lake.stageDv(spark, out,
      matched.select(col("_gf_file").as("file"), col("_gf_pos").as("pos")))
    // the OBSERVED row count and collect_set(file) — no read-back job —
    // must name exactly the rows and attachment targets that were staged
    assert(n == want.size)
    assert(files.toSet == want.map(_._1))
    assert(files == files.sorted, "attachment targets are sorted for stable D lines")
    // disk truth: the sidecar's own parquet rows equal the observed claim
    // (stageDv already cross-checked the footer counts before returning)
    val back = spark.read.parquet(s"$out/$sidecar")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(back == want)
    // empty staging: zero observed rows, no attachment targets, no throw
    val (_, n0, files0) = Lake.stageDv(spark, out,
      matched.filter(lit(false)).select(col("_gf_file").as("file"), col("_gf_pos").as("pos")))
    assert(n0 == 0L && files0.isEmpty)
  }

  test("restore across a sparse delete resets the deletion vectors both ways") {
    val out = freshDir("lake-dv-restore")
    writePlain(fixture(), out)
    Lake.adopt(spark, out) // v0
    Pipeline.deleteFromLakeSparse(spark, out, Seq(5L).toDF("doc_id"), "doc_id") // v1
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet - 5L)
    Lake.restore(spark, out, 0L) // v2: undo the tombstone
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet,
      "restoring below the sparse delete must clear its vectors")
    assert(Lake.latestManifest(spark, out).get.dvs.isEmpty)
    Lake.restore(spark, out, 1L) // v3: roll forward onto the deleted state
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet - 5L,
      "restoring onto the DV-bearing version must re-attach its vectors")
    assert(Lake.latestManifest(spark, out).get.dvs.nonEmpty)
  }

  test("OCC: a sparse delete racing an append refuses on a tombstoned partition, lands on a disjoint one") {
    val out = freshDir("lake-dv-occ")
    writePlain(fixture(), out)
    def stageSparse(id: Long): (Lake.LakeState, Long, Map[String, Seq[String]]) = {
      val base = Lake.adopt(spark, out)
      val lineage = Lake.readFilesWithLineage(spark, out, base.schemaJson,
        base.files, base.dvs)
      val matched = lineage.filter(col("doc_id") === id)
      val (sidecar, n, files) = Lake.stageDv(spark, out,
        matched.select(col("_gf_file").as("file"), col("_gf_pos").as("pos")))
      (base, n, files.map(f => f -> Seq(sidecar)).toMap)
    }
    def appendRow(id: Long, split: String, shard: Int): Unit =
      Pipeline.appendToLake(spark, out, Seq(id).toDF("id").select(
        col("id").as("doc_id"), lit("doc").as("text"),
        lit(split).as("split"), lit(shard).cast("int").as("shard_id")))
    // doc 1 lives in train/shard_id=1; the interposed append lands in
    // test/shard_id=0 — disjoint, both must land
    val (base1, n1, dv1) = stageSparse(1L)
    appendRow(4100L, "test", 0)
    Lake.publish(spark, Lake.StagedCommit(out, base1, "delete", base1.schemaJson,
      Seq.empty, Seq.empty, n1, n1, dvAdds = dv1))
    assert(ids(Lake.read(spark, out)) == ((0L until 40L).toSet - 1L) + 4100L,
      "a sparse delete and a disjoint append must BOTH land")
    // doc 2 lives in train/shard_id=0; an interposed append into exactly
    // that partition means rows this delete's predicate never saw — refuse
    val (base2, n2, dv2) = stageSparse(2L)
    appendRow(4200L, "train", 0)
    val e = intercept[IllegalStateException] {
      Lake.publish(spark, Lake.StagedCommit(out, base2, "delete", base2.schemaJson,
        Seq.empty, Seq.empty, n2, n2, dvAdds = dv2))
    }
    assert(e.getMessage.contains("rebase refused"))
    assert(ids(Lake.read(spark, out)) == ((0L until 40L).toSet - 1L) ++ Set(4100L, 4200L),
      "the refused delete must leave the lake untouched")
  }

  test("predicate sparse delete: WHERE-form purge tombstones every matching row, feeds deletes, audits in history") {
    val out = freshDir("lake-dv-where")
    writePlain(fixture(), out)
    Lake.adopt(spark, out) // v0
    // policy purge: every test-split doc with an odd shard
    Pipeline.deleteFromLakeSparseWhere(spark, out,
      col("split") === "test" && col("shard_id") === 1)
    val survivors = ids(Lake.read(spark, out))
    assert(survivors == (0L until 40L).toSet.filterNot(i => i >= 20 && i % 2 == 1),
      s"the predicate's rows must all be gone, got $survivors")
    val h = Lake.describeHistory(spark, out).collect().find(_.getLong(0) == 1L).get
    assert(h.getString(2) == "delete" && h.getInt(3) == 0 && h.getInt(5) == 0,
      "zero files touched")
    assert(h.getAs[Int]("n_dv_attached") > 0 && h.getAs[Int]("n_cdc_files") == 1,
      "the audit trail must show the sparse grain: vectors attached, one feed sidecar")
    // the purged pre-image rows feed as deletes
    val ev = Lake.changeFeed(spark, out, 0L, 1L)
    assert(ev.filter(col("_change_type") === "delete").count() == 10)
    assert(ev.filter(col("_change_type") === "insert").count() == 0)
    // idempotent: nothing left to match, no new version
    Pipeline.deleteFromLakeSparseWhere(spark, out,
      col("split") === "test" && col("shard_id") === 1)
    assert(Lake.latestManifest(spark, out).get.version == 1L)
  }

  test("predicate sparse delete stats-prunes: a range purge on a clustered lake reads only overlapping files") {
    val out = freshDir("lake-dv-where-prune")
    val rows = spark.range(8000).select(col("id").as("doc_id"),
      concat(lit("text-"), col("id")).as("text"),
      lit("train").as("split"), (col("id") % 2).cast("int").as("shard_id"))
    // range-clustered: 16 files with disjoint doc_id runs, stats recorded
    Lake.init(spark, rows.repartitionByRange(16, col("doc_id"))
      .sortWithinPartitions("doc_id"), out, Seq.empty, statsCols = Seq("doc_id"))
    val base = Lake.latestManifest(spark, out).get
    assert(base.files.size >= 16, s"fixture wants >=16 clustered files, got ${base.files.size}")
    // the predicate's bounds prune the candidate list driver-side
    val oneSide = Pipeline.sparseWhereCandidates(spark, out, base, col("doc_id") >= lit(7500L))
    assert(oneSide.nonEmpty && oneSide.size <= 2,
      s"a one-sided range must keep only the tail file(s), got ${oneSide.size}")
    val twoSide = Pipeline.sparseWhereCandidates(spark, out, base,
      col("doc_id") >= lit(7500L) && col("doc_id") < lit(7600L))
    assert(twoSide.size <= oneSide.size, "a conjunction prunes at least as tight")
    // no extractable bound (or no stats for the column) keeps every file
    assert(Pipeline.sparseWhereCandidates(spark, out, base, col("text") === "nope").size ==
      base.files.size)
    assert(Pipeline.sparseWhereCandidates(spark, out, base,
      col("doc_id") >= lit(7500L) || col("text") === "x").size == base.files.size,
      "a top-level OR extracts no bound — conservative, never wrong")
    // end-to-end: the purge's read volume tracks the overlapping files,
    // not the lake (the local-fs byte counter is synchronous on reads)
    val stats = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    assume(stats != null, "local-filesystem storage statistics unavailable")
    val dataBytes = Lake.fileBytes(spark, out, base.files)
    val before = stats.getLong("bytesRead")
    Pipeline.deleteFromLakeSparseWhere(spark, out, col("doc_id") >= lit(7500L))
    val readBytes = stats.getLong("bytesRead") - before
    assert(readBytes < dataBytes / 2,
      s"a pruned range purge read $readBytes bytes against a $dataBytes-byte lake — " +
        "it must scan only the overlapping files")
    // and the commit is exact: rows gone, zero files touched
    assert(Lake.read(spark, out).count() == 7500L)
    val h = Lake.describeHistory(spark, out).collect().find(_.getLong(0) == 2L).get
    assert(h.getString(2) == "delete" && h.getInt(3) == 0 && h.getInt(5) == 0)
  }

  test("SQL DELETE FROM lands as a sparse deletion-vector commit; consecutive and pinned deletes behave") {
    val out = freshDir("lake-sql-delete")
    writePlain(fixture(), out)
    Lake.adopt(spark, out) // v0
    spark.sql("DROP TABLE IF EXISTS sqldel")
    spark.sql(s"CREATE TABLE sqldel USING `graft-lake` OPTIONS (path '$out')")
    try {
      spark.sql("DELETE FROM sqldel WHERE doc_id >= 10 AND doc_id < 20")
      assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet -- (10L until 20L),
        "the SQL range delete must tombstone exactly the matching rows")
      val h1 = Lake.describeHistory(spark, out).collect().find(_.getLong(0) == 1L).get
      assert(h1.getString(2) == "delete" && h1.getInt(3) == 0 && h1.getInt(5) == 0,
        "the SQL DELETE must land sparse: zero files added or removed")
      assert(h1.getAs[Int]("n_dv_attached") > 0 && h1.getAs[Int]("n_cdc_files") == 1,
        "vectors attached, pre-image in the feed sidecar")
      // a second DELETE resolves the now DV-BEARING table (the MoR table
      // services the delete) — IN-list and string filters translate too
      spark.sql("DELETE FROM sqldel WHERE doc_id IN (25, 31) AND text IS NOT NULL")
      assert(ids(Lake.read(spark, out)) ==
        (0L until 40L).toSet -- (10L until 20L) -- Set(25L, 31L))
      val h2 = Lake.describeHistory(spark, out).collect().find(_.getLong(0) == 2L).get
      assert(h2.getString(2) == "delete" && h2.getInt(3) == 0 && h2.getInt(5) == 0)
      // both SQL deletes feed their pre-images row-level
      assert(Lake.changeFeed(spark, out, 0L, 2L)
        .filter(col("_change_type") === "delete").count() == 12)
      // the SELECT surface agrees with the Scala read after both commits
      assert(spark.sql("SELECT count(*) FROM sqldel").collect()(0).getLong(0) == 28L ||
        // the catalog may cache the pre-delete relation; a fresh read is the contract
        spark.read.format("graft-lake").load(out).count() == 28L)
      // no deleting from the past: a pinned read refuses
      spark.sql("DROP TABLE IF EXISTS sqldelv0")
      spark.sql(s"CREATE TABLE sqldelv0 USING `graft-lake` OPTIONS (path '$out', version '0')")
      try {
        val e = intercept[Exception] {
          spark.sql("DELETE FROM sqldelv0 WHERE doc_id = 1")
        }
        assert(e.getMessage.contains("pinned"),
          s"a pinned-table delete must refuse naming the pin, got: ${e.getMessage}")
      } finally spark.sql("DROP TABLE IF EXISTS sqldelv0")
    } finally spark.sql("DROP TABLE IF EXISTS sqldel")
  }

  test("SQL UPDATE lands as one sparse commit: pre-image tombstoned, post-image appended, self-referential SET and partition moves work") {
    val out = freshDir("lake-sql-update")
    writePlain(fixture(), out)
    Lake.adopt(spark, out) // v0
    spark.sql("DROP TABLE IF EXISTS sqlupd")
    spark.sql(s"CREATE TABLE sqlupd USING `graft-lake` OPTIONS (path '$out')")
    try {
      // self-referential SET over an arbitrary (non-filter-translatable) predicate
      spark.sql("UPDATE sqlupd SET text = concat(text, '!') WHERE doc_id % 2 = 0 AND doc_id < 10")
      val r = Lake.read(spark, out)
      assert(r.count() == 40, "an update changes rows, never the row count")
      assert(r.filter(col("doc_id") === 4L).select("text").head.getString(0) == "doc 4!")
      assert(r.filter(col("doc_id") === 5L).select("text").head.getString(0) == "doc 5")
      val h = Lake.describeHistory(spark, out).collect().find(_.getLong(0) == 1L).get
      assert(h.getString(2) == "update" && h.getInt(5) == 0,
        "the SQL UPDATE must land sparse: zero files removed")
      assert(h.getAs[Int]("n_dv_attached") > 0 && h.getAs[Int]("n_cdc_files") == 1)
      // CDF parity: the feed pairs update_preimage with update_postimage
      val feed = Lake.changeFeed(spark, out, 0L, 1L)
      assert(feed.filter(col("_change_type") === "update_preimage").count() == 5)
      assert(feed.filter(col("_change_type") === "update_postimage" &&
        col("text").endsWith("!")).count() == 5)
      assert(feed.filter(col("_change_type").isin("delete", "insert")).count() == 0,
        "an update is neither a delete nor an insert in the feed")
      // an update that MOVES a row across partitions
      spark.sql("UPDATE sqlupd SET split = 'test' WHERE doc_id = 1")
      val moved = Lake.read(spark, out).filter(col("doc_id") === 1L)
      assert(moved.select("split").head.getString(0) == "test")
      assert(Lake.read(spark, out).count() == 40)
      // unknown column and pinned-table refusals stay loud
      val e = intercept[Exception] { spark.sql("UPDATE sqlupd SET nope = 1") }
      assert(e.getMessage.toLowerCase.contains("nope"))
    } finally spark.sql("DROP TABLE IF EXISTS sqlupd")
  }

  test("SQL MERGE INTO matches the Scala sparse-merge path exactly; delete-shape and refusals behave") {
    val out = freshDir("lake-sql-merge")
    val ref = freshDir("lake-sql-merge-ref")
    writePlain(fixture(), out); Lake.adopt(spark, out)   // v0
    writePlain(fixture(), ref); Lake.adopt(spark, ref)   // v0 (reference twin)
    // upsert batch: patch doc 5, insert doc 200
    val updates = spark.range(1).select(lit(5L).as("doc_id"),
        lit("patched 5").as("text"), lit("train").as("split"), lit(1).cast("int").as("shard_id"))
      .unionByName(spark.range(1).select(lit(200L).as("doc_id"),
        lit("doc 200").as("text"), lit("test").as("split"), lit(0).cast("int").as("shard_id")))
    updates.createOrReplaceTempView("sqlmerge_src")
    spark.sql("DROP TABLE IF EXISTS sqlmerge")
    spark.sql(s"CREATE TABLE sqlmerge USING `graft-lake` OPTIONS (path '$out')")
    try {
      spark.sql("""MERGE INTO sqlmerge t USING sqlmerge_src s ON t.doc_id = s.doc_id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      // the Scala path on the twin lake must produce the same corpus
      Pipeline.mergeIntoLakeSparse(spark, ref, updates, "doc_id", Seq("split", "shard_id"))
      def corpus(dir: String) = Lake.read(spark, dir)
        .select("doc_id", "text", "split", "shard_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3))).toSet
      assert(corpus(out) == corpus(ref),
        "SQL MERGE must equal the Scala mergeIntoLakeSparse result")
      assert(corpus(out).contains((5L, "patched 5", "train", 1)) &&
        corpus(out).contains((200L, "doc 200", "test", 0)))
      // ONE sparse merge commit: zero files removed, vectors attached
      val h = Lake.describeHistory(spark, out).collect().find(_.getLong(0) == 1L).get
      assert(h.getString(2) == "merge" && h.getInt(5) == 0,
        "the SQL MERGE must land sparse: zero survivor files rewritten")
      assert(h.getAs[Int]("n_dv_attached") > 0)
      // WHEN MATCHED THEN DELETE routes to the tombstone-set sparse delete
      spark.sql("""MERGE INTO sqlmerge t USING sqlmerge_src s ON t.doc_id = s.doc_id
        WHEN MATCHED THEN DELETE""")
      assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet - 5L,
        "the matched docs (5 and 200) must be tombstoned")
      val h2 = Lake.describeHistory(spark, out).collect().find(_.getLong(0) == 2L).get
      assert(h2.getString(2) == "delete" && h2.getInt(3) == 0 && h2.getInt(5) == 0)
      // an unsupported ON shape still refuses loudly, naming the contract
      val e = intercept[UnsupportedOperationException] {
        spark.sql("""MERGE INTO sqlmerge t USING sqlmerge_src s ON t.doc_id < s.doc_id
          WHEN MATCHED THEN DELETE""")
      }
      assert(e.getMessage.contains("graft-lake MERGE INTO"),
        s"a non-equi ON must refuse with the contract, got: ${e.getMessage}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS sqlmerge")
      spark.catalog.dropTempView("sqlmerge_src")
    }
  }

  test("compactDeletionVectors folds stacked sidecars to one per file: no data bytes, silent feed, time travel intact") {
    val out = freshDir("lake-dv-fold")
    writePlain(fixture(), out)
    Lake.adopt(spark, out)                                                          // v0
    Pipeline.deleteFromLakeSparse(spark, out, Seq(1L, 3L).toDF("doc_id"), "doc_id") // v1
    Pipeline.deleteFromLakeSparse(spark, out, Seq(5L, 7L).toDF("doc_id"), "doc_id") // v2
    Pipeline.deleteFromLakeSparse(spark, out, Seq(9L).toDF("doc_id"), "doc_id")     // v3
    val st3 = Lake.latestManifest(spark, out).get
    assert(st3.dvs.values.exists(_.size >= 2), "fixture must stack sidecars")
    val gone = Set(1L, 3L, 5L, 7L, 9L)
    val folded = Lake.compactDeletionVectors(spark, out)                            // v4
    assert(folded.nonEmpty && folded.values.max >= 3,
      s"the train/shard=1 file must fold 3 sidecars, got $folded")
    val st4 = Lake.latestManifest(spark, out).get
    assert(st4.version == 4L)
    assert(st4.files == st3.files, "a vectors-only fold must touch no data file")
    assert(st4.dvs.nonEmpty && st4.dvs.values.forall(_.size == 1),
      s"one sidecar per file after the fold, got ${st4.dvs}")
    assert(st4.dvHistory.nonEmpty, "the detached sidecars must move to dv history")
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet -- gone,
      "read hashes unchanged across the fold")
    assert(ids(spark.read.format("graft-lake").load(out)) == (0L until 40L).toSet -- gone,
      "the MoR format read applies the consolidated sidecar")
    val h = Lake.describeHistory(spark, out).collect().find(_.getLong(0) == 4L).get
    assert(h.getString(2) == "dvcompact" && h.getInt(3) == 0 && h.getInt(5) == 0)
    // the fold is CDC-INVISIBLE: nothing emitted across it, and the full
    // feed still carries exactly the real deletes
    assert(Lake.changeFeed(spark, out, 3L, 4L).count() == 0,
      "a vectors-only fold must emit nothing to the change feed")
    assert(Lake.changeFeed(spark, out, 0L, 4L)
      .filter(col("_change_type") === "delete").count() == 5)
    assert(Lake.changesBetween(spark, out, 3L, 4L).count() == 0)
    // time travel below the fold resolves the OLD (pre-fold) sidecars
    assert(ids(Lake.readVersion(spark, out, 2L)) ==
      (0L until 40L).toSet -- Set(1L, 3L, 5L, 7L))
    // nothing left to fold: a second call no-ops without a version bump
    assert(Lake.compactDeletionVectors(spark, out).isEmpty)
    assert(Lake.latestManifest(spark, out).get.version == 4L)
    // an orphan vacuum reclaims nothing (old sidecars are history)
    assert(Lake.vacuum(spark, out).isEmpty)
    // retention to latest-only reclaims the detached sidecars
    Lake.vacuumKeeping(spark, out, 1)
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet -- gone)
  }

  test("renameColumn is a metadata-only commit: reads translate, time travel keeps old names, mutations keep working") {
    val out = freshDir("lake-rename")
    writePlain(fixture(), out)
    Lake.adopt(spark, out) // v0
    val filesBefore = Lake.latestManifest(spark, out).get.files
    Lake.renameColumn(spark, out, "text", "body") // v1 — zero data bytes
    val st1 = Lake.latestManifest(spark, out).get
    assert(st1.files == filesBefore, "a rename must not touch a single data file")
    val h1 = Lake.describeHistory(spark, out).collect().find(_.getLong(0) == 1L).get
    assert(h1.getString(2) == "rename" && h1.getInt(3) == 0 && h1.getInt(5) == 0)
    // post-rename reads: logical name with the old files' values
    val df = Lake.read(spark, out)
    assert(df.schema.fieldNames.toSeq == Seq("doc_id", "body", "split", "shard_id"),
      s"the renamed column must surface logically, got ${df.schema.fieldNames.mkString(",")}")
    assert(df.filter(col("doc_id") === 3L).select("body").head.getString(0) == "doc 3")
    // time travel BELOW the rename resolves the old name
    val v0 = Lake.readVersion(spark, out, 0L)
    assert(v0.schema.fieldNames.contains("text") && !v0.schema.fieldNames.contains("body"))
    assert(v0.filter(col("doc_id") === 3L).select("text").head.getString(0) == "doc 3")
    // mutations after the rename speak the NEW name end-to-end: an
    // append (new files spell the ORIGINAL physical name on disk) …
    Pipeline.appendToLake(spark, out, spark.range(40, 45).select(
      col("id").as("doc_id"), concat(lit("doc "), col("id")).as("body"),
      lit("test").as("split"), (col("id") % 2).cast("int").as("shard_id")))  // v2
    val after = Lake.read(spark, out)
    assert(after.count() == 45 &&
      after.filter(col("body").isNull).count() == 0,
      "old (aliased) and new (physically-spelled) files must both read the column")
    // … and a predicate sparse delete on the renamed column, feeding the
    // purged pre-image with the logical name
    Pipeline.deleteFromLakeSparseWhere(spark, out, col("body") === "doc 44")  // v3
    assert(Lake.read(spark, out).count() == 44)
    val feed = Lake.changeFeed(spark, out, 2L, 3L)
    assert(feed.filter(col("_change_type") === "delete")
      .select("body").head.getString(0) == "doc 44")
    // a rename CHAIN keeps the original physical name
    Lake.renameColumn(spark, out, "body", "content") // v4
    assert(Lake.read(spark, out).filter(col("doc_id") === 3L)
      .select("content").head.getString(0) == "doc 3")
    // refusals name the columns
    val ePart = intercept[IllegalArgumentException] {
      Lake.renameColumn(spark, out, "split", "part")
    }
    assert(ePart.getMessage.contains("split") && ePart.getMessage.contains("partition"))
    val eDup = intercept[IllegalArgumentException] {
      Lake.renameColumn(spark, out, "doc_id", "content")
    }
    assert(eDup.getMessage.contains("content"))
    // the DSv2 batch read serves the mapped lake through the row-mode
    // scan: logical names out, physical names read, tombstones applied
    val dsv2 = spark.read.format("graft-lake").load(out)
    assert(dsv2.schema.fieldNames.contains("content"))
    assert(dsv2.count() == 44 && dsv2.filter(col("content").isNull).count() == 0,
      "the mapped DSv2 read must alias physical columns, never serve nulls")
    assert(dsv2.filter(col("doc_id") === 3L).select("content").head.getString(0) == "doc 3")
    // …and SQL DML keeps working on the mapped lake (delete by the NEW name)
    spark.sql("DROP TABLE IF EXISTS renamed_lake")
    spark.sql(s"CREATE TABLE renamed_lake USING `graft-lake` OPTIONS (path '$out')")
    try {
      spark.sql("DELETE FROM renamed_lake WHERE content = 'doc 7'")
      assert(Lake.read(spark, out).count() == 43)
    } finally spark.sql("DROP TABLE IF EXISTS renamed_lake")
    // the stream serves mapped lakes too (physical-name decode) —
    // LakeStreamSpec pins the mid-stream and fresh-start behaviors
    assert(spark.readStream.format("graft-lake-cdc").load(out)
      .schema.fieldNames.contains("content"))
  }

  test("dropColumn is a metadata-only commit: the column vanishes everywhere, re-adding refuses, time travel keeps it") {
    val out = freshDir("lake-drop")
    writePlain(fixture(), out)
    Lake.adopt(spark, out) // v0
    val filesBefore = Lake.latestManifest(spark, out).get.files
    Lake.dropColumn(spark, out, "text") // v1 — zero data bytes
    assert(Lake.latestManifest(spark, out).get.files == filesBefore)
    val h = Lake.describeHistory(spark, out).collect().find(_.getLong(0) == 1L).get
    assert(h.getString(2) == "drop" && h.getInt(3) == 0 && h.getInt(5) == 0)
    val df = Lake.read(spark, out)
    assert(df.schema.fieldNames.toSeq == Seq("doc_id", "split", "shard_id"),
      s"the dropped column must vanish, got ${df.schema.fieldNames.mkString(",")}")
    assert(df.count() == 40)
    // time travel below the drop still reads the column
    assert(Lake.readVersion(spark, out, 0L).schema.fieldNames.contains("text"))
    // post-drop mutations speak the narrowed schema
    Pipeline.appendToLake(spark, out, spark.range(40, 45).select(
      col("id").as("doc_id"), lit("test").as("split"),
      (col("id") % 2).cast("int").as("shard_id"))) // v2
    assert(Lake.read(spark, out).count() == 45)
    // the DSv2 read (row-mode under tombstones) excludes the column too
    val dsv2 = spark.read.format("graft-lake").load(out)
    assert(dsv2.schema.fieldNames.toSeq == Seq("doc_id", "split", "shard_id"))
    assert(dsv2.count() == 45)
    // sparse machinery keeps working against the tombstoned schema
    Pipeline.deleteFromLakeSparse(spark, out, Seq(0L).toDF("doc_id"), "doc_id") // v3
    assert(Lake.read(spark, out).count() == 44)
    val feed = Lake.changeFeed(spark, out, 2L, 3L)
    assert(feed.schema.fieldNames.toSeq ==
      Seq("doc_id", "split", "shard_id", "_change_type", "_commit_version"),
      "the feed carries only visible columns")
    // re-ADDING the dropped name refuses loudly (old files still hold values)
    val eReadd = intercept[IllegalArgumentException] {
      Pipeline.appendToLake(spark, out, spark.range(50, 52).select(
        col("id").as("doc_id"), lit("resurrect?").as("text"),
        lit("test").as("split"), (col("id") % 2).cast("int").as("shard_id")),
        mergeSchema = true)
    }
    assert(eReadd.getMessage.contains("DROPPED"),
      s"re-add must refuse naming the drop, got: ${eReadd.getMessage}")
    // renaming onto the tombstone name refuses too
    val eRename = intercept[IllegalArgumentException] {
      Lake.renameColumn(spark, out, "doc_id", "text")
    }
    assert(eRename.getMessage.contains("tombstone"))
    // refusals: partition column and the tombstone itself
    intercept[IllegalArgumentException] { Lake.dropColumn(spark, out, "split") }
    intercept[IllegalArgumentException] { Lake.dropColumn(spark, out, "text") }
  }

  test("vacuumKeeping keeps the OLDEST retained version's feed sidecars: the earliest change feed stays servable") {
    val out = freshDir("lake-cdc-retention")
    writePlain(fixture(), out)
    Lake.adopt(spark, out) // v0
    Pipeline.deleteFromLakeSparse(spark, out, Seq(2L).toDF("doc_id"), "doc_id") // v1
    Pipeline.appendToLake(spark, out, Seq(100L).toDF("id").select(
      col("id").as("doc_id"), lit("doc 100").as("text"),
      lit("test").as("split"), lit(0).cast("int").as("shard_id")))              // v2
    // retire v0: the sparse delete becomes the OLDEST retained version —
    // its change-feed sidecar must survive, because the earliest-sentinel
    // feed still replays it
    Lake.vacuumKeeping(spark, out, keepVersions = 2)
    val ev = Lake.changeFeed(spark, out, 0L, 2L)
      .select("doc_id", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(ev == Set((2L, "delete", 1L), (100L, "insert", 2L)),
      s"the feed across the retention cut must stay exact, got $ev")
  }

  test("OCC: two sparse deletes staged from the same base BOTH land (tombstone unions commute)") {
    val out = freshDir("lake-dv-race")
    writePlain(fixture(), out)
    def stageSparse(id: Long): (Lake.LakeState, Long, Map[String, Seq[String]], Seq[(String, String)]) = {
      val base = Lake.adopt(spark, out)
      val lineage = Lake.readFilesWithLineage(spark, out, base.schemaJson,
        base.files, base.dvs)
      val matched = lineage.filter(col("doc_id") === id)
      val cdcPath = Lake.stageCdc(spark, out,
        matched.drop("_gf_file", "_gf_pos"), Seq("split", "shard_id"))
      val (sidecar, n, files) = Lake.stageDv(spark, out,
        matched.select(col("_gf_file").as("file"), col("_gf_pos").as("pos")))
      (base, n, files.map(f => f -> Seq(sidecar)).toMap, Seq((cdcPath, "delete")))
    }
    // docs 3 and 5 share a partition (train, shard 1) AND a file — the
    // hardest case: both deletes tombstone into the same file
    val (baseA, nA, dvA, cdcA) = stageSparse(3L)
    val (baseB, nB, dvB, cdcB) = stageSparse(5L)
    assert(baseA.version == baseB.version, "both staged from the same base")
    Lake.publish(spark, Lake.StagedCommit(out, baseA, "delete", baseA.schemaJson,
      Seq.empty, Seq.empty, nA, nA, dvAdds = dvA, cdcFiles = cdcA))
    // B's version is taken; its rebase must land — tombstones on the
    // same file UNION, they never conflict
    Lake.publish(spark, Lake.StagedCommit(out, baseB, "delete", baseB.schemaJson,
      Seq.empty, Seq.empty, nB, nB, dvAdds = dvB, cdcFiles = cdcB))
    assert(Lake.latestManifest(spark, out).get.version == 2L)
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet -- Set(3L, 5L),
      "raced sparse deletes must BOTH land")
    // and the change feed carries both pre-images at their versions
    val ev = Lake.changeFeed(spark, out, 0L, 2L)
      .filter(col("_change_type") === "delete")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ev == Set(3L, 5L))
  }

  test("OCC: a sparse delete racing a compaction that materializes its target file refuses") {
    val out = freshDir("lake-dv-vs-compact")
    writePlain(fixture(), out)
    val base = Lake.adopt(spark, out)
    val lineage = Lake.readFilesWithLineage(spark, out, base.schemaJson,
      base.files, base.dvs)
    val matched = lineage.filter(col("doc_id") === 1L)
    val (sidecar, n, files) = Lake.stageDv(spark, out,
      matched.select(col("_gf_file").as("file"), col("_gf_pos").as("pos")))
    // interpose: a compaction rewrites every partition — the staged
    // tombstone's (file, pos) coordinates now point at replaced files
    Pipeline.compactLake(spark, out, maxFilesPerPartition = 1,
      targetRowsPerFile = 1000L, retainHistory = true)
    val e = intercept[IllegalStateException] {
      Lake.publish(spark, Lake.StagedCommit(out, base, "delete", base.schemaJson,
        Seq.empty, Seq.empty, n, n, dvAdds = files.map(f => f -> Seq(sidecar)).toMap))
    }
    assert(e.getMessage.contains("rebase refused"),
      s"stale tombstone coordinates must refuse, got: ${e.getMessage}")
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet,
      "the refused delete must leave the lake untouched")
  }

  test("a corrupted per-file stats field fails loudly, never silently degrades pruning") {
    val out = freshDir("lake-badstats")
    val log = java.nio.file.Paths.get(out, Lake.LogDirName)
    java.nio.file.Files.createDirectories(log)
    // a delta whose A line carries a 2-field stats remainder (col,min but
    // no max) — log corruption, not a legal record
    val bad = "graft-delta-v1\tappend\nS\t%7B%7D\nA\tf.parquet\tdoc_id\t5"
    java.nio.file.Files.write(log.resolve(f"v${0L}%020d.manifest"),
      bad.getBytes("UTF-8"))
    val e = intercept[IllegalStateException] { Lake.deltaAt(spark, out, 0L) }
    assert(e.getMessage.contains("malformed per-file stats"),
      s"expected a loud stats-corruption failure, got: ${e.getMessage}")
  }

  test("vacuum reclaims a crashed writer's abandoned staging subtree") {
    val out = freshDir("lake-staging-sweep")
    writePlain(fixture(), out)
    Lake.adopt(spark, out)
    val (fs, root) = {
      val p = new org.apache.hadoop.fs.Path(out)
      val f = p.getFileSystem(spark.sessionState.newHadoopConf())
      (f, f.makeQualified(p))
    }
    // simulate a writer killed mid-stage: a staging subtree with parquet
    // in it, never moved out, never referenced by any commit
    val stray = new org.apache.hadoop.fs.Path(root,
      s"${Lake.StagingDirName}/dead-writer-uuid/split=train/shard_id=0")
    fs.mkdirs(stray)
    val o = fs.create(new org.apache.hadoop.fs.Path(stray, "part-000.parquet"), false)
    try o.write("junk".getBytes("UTF-8")) finally o.close()
    val dead = Lake.vacuum(spark, out)
    assert(dead.exists(_.startsWith(s"${Lake.StagingDirName}/dead-writer-uuid")),
      s"the abandoned staging subtree must be reclaimed, got $dead")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root,
      s"${Lake.StagingDirName}/dead-writer-uuid")))
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet, "live data untouched")
    // and the grace period protects a LIVE writer's staging, same as data
    val fresh = new org.apache.hadoop.fs.Path(root,
      s"${Lake.StagingDirName}/live-writer-uuid")
    fs.mkdirs(fresh)
    assert(Lake.vacuum(spark, out, minAgeMs = 3600000L).isEmpty)
    assert(fs.exists(fresh), "a graced sweep must not reclaim a live writer's staging")
    // the grace must look at the NEWEST mtime in the subtree, not the
    // subtree root's: a long-running stage's root dir mtime is set when
    // its first child lands and never refreshed by deeper task writes —
    // age the root artificially, then land a fresh deep file
    val old = System.currentTimeMillis() - 7200_000L
    fs.setTimes(fresh, old, old)
    val deep = new org.apache.hadoop.fs.Path(fresh, "split=train/shard_id=1")
    fs.mkdirs(deep)
    val o2 = fs.create(new org.apache.hadoop.fs.Path(deep, "part-001.parquet"), false)
    try o2.write("live".getBytes("UTF-8")) finally o2.close()
    fs.setTimes(fresh, old, old) // mkdirs refreshed it; age it again
    assert(Lake.vacuum(spark, out, minAgeMs = 3600000L).isEmpty,
      "a subtree with ANY write inside the grace window is a live writer's")
    assert(fs.exists(deep), "the live writer's freshly staged deep file must survive")
  }

  test("vacuum grace period: freshly-staged files of a live writer survive the sweep") {
    val out = freshDir("lake-vacuum-grace")
    writePlain(fixture(), out)
    Lake.adopt(spark, out)
    // a live writer mid-commit: staged, not yet published
    val staged = Pipeline.stageLakeDelete(spark, out, Seq(4L).toDF("doc_id"),
      "doc_id", "doc_id", Seq("split", "shard_id")).get
    // a maintenance pass with a grace period must NOT reclaim the staged
    // files (they were modified seconds ago)
    assert(Lake.vacuum(spark, out, minAgeMs = 3600_000L).isEmpty,
      "files younger than the grace period must survive the orphan sweep")
    Lake.publish(spark, staged) // the writer completes normally
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet - 4L)
    // without the grace period the same files would have been reclaimed
    // and this commit would have referenced deleted data
  }

  test("MoR position load is ONE bounded job; positions ship by broadcast; the scan description names compactLake") {
    val out = freshDir("lake-mor-broadcast")
    writePlain(fixture(), out)
    Lake.adopt(spark, out)                                                      // v0
    Pipeline.deleteFromLakeSparse(spark, out, Seq(2L, 9L, 21L, 33L).toDF("doc_id"), "doc_id") // v1
    val st = Lake.latestManifest(spark, out).get
    val root = {
      val p = new org.apache.hadoop.fs.Path(out)
      val f = p.getFileSystem(spark.sessionState.newHadoopConf())
      f.makeQualified(p)
    }
    // the cap check and the load must be ONE bounded fetch — no separate
    // count pass over the sidecars (job-group ids count the jobs)
    spark.sparkContext.setJobGroup("graft-dv-load", "position load probe")
    val pos = try graft.sources.lake.LakeMorTable.loadPositions(spark, root, st)
      finally spark.sparkContext.clearJobGroup()
    assert(pos.values.map(_.length).sum == 4, "all four tombstones must load")
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup("graft-dv-load").length
    assert(jobs == 1, s"the position load must be one bounded job, ran $jobs")
    // positions ride in ONE broadcast keyed by file, not in the task
    // payloads: every MorPartition serializes only its file + rel path
    val props = new java.util.HashMap[String, String](); props.put("path", out)
    val table = new graft.sources.lake.LakeSource()
      .getTable(null, Array.empty, props)
    val scan = table.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
      .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(props))
      .build()
    val parts = scan.toBatch.planInputPartitions()
    val morParts = parts.collect { case m: graft.sources.lake.MorPartition => m }
    assert(morParts.nonEmpty, "the tombstoned files must plan as MoR partitions")
    morParts.foreach { m =>
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      try oos.writeObject(m) finally oos.close()
      assert(bos.size() < 4096,
        s"a MoR partition payload must not embed positions (got ${bos.size()} bytes)")
    }
    // the transitional scan names its cost and the way out
    assert(scan.description().contains("consider compactLake"),
      s"the MoR scan description must point at compactLake, got: ${scan.description()}")
    // and reports REAL statistics — without them a join against a
    // DV-bearing lake prices at defaultSizeInBytes and never broadcasts
    val stats = spark.read.format("graft-lake").load(out)
      .queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes > 0 && stats.sizeInBytes < 64L * 1024 * 1024,
      s"the row-mode scan must report its candidate bytes, got ${stats.sizeInBytes}")
    // and the read through the factory (broadcast path) stays exact
    assert(ids(spark.read.format("graft-lake").load(out)) ==
      (0L until 40L).toSet -- Set(2L, 9L, 21L, 33L))
  }

  test("two-column stats pruning opens strictly fewer files than either column alone") {
    import Lake.{ColBound, ColStat, LakeState}
    import org.apache.spark.sql.types.LongType
    // four files tiling the (a, b) plane — the layout a lake clustered on
    // (a, b) produces
    val st = LakeState(1L, "{}", Seq("f00", "f01", "f10", "f11"), Map(
      "f00" -> Seq(ColStat("a", "0", "9"), ColStat("b", "0", "9")),
      "f01" -> Seq(ColStat("a", "0", "9"), ColStat("b", "10", "19")),
      "f10" -> Seq(ColStat("a", "10", "19"), ColStat("b", "0", "9")),
      "f11" -> Seq(ColStat("a", "10", "19"), ColStat("b", "10", "19"))))
    val byA = Lake.pruneByStats(st, Seq(ColBound("a", LongType, 0L, 5L)))
    val byB = Lake.pruneByStats(st, Seq(ColBound("b", LongType, 0L, 5L)))
    val byBoth = Lake.pruneByStats(st,
      Seq(ColBound("a", LongType, 0L, 5L), ColBound("b", LongType, 0L, 5L)))
    assert(byA.toSet == Set("f00", "f01") && byB.toSet == Set("f00", "f10"))
    assert(byBoth == Seq("f00"),
      s"the conjunction must prune strictly tighter than either column alone: $byBoth")
    // unknown stats on one bounded column keep the file (exactness)
    val st2 = st.copy(stats = st.stats - "f11")
    assert(Lake.pruneByStats(st2,
      Seq(ColBound("a", LongType, 0L, 5L), ColBound("b", LongType, 0L, 5L)))
      .toSet == Set("f00", "f11"))
    // an identity partition column SPELLED like a transform level of
    // another schema column ('ts_day' next to 'ts' — possible only on
    // an ADOPTED lake; validateLayout refuses new ones): a bound on ts
    // must NOT map the identity level's arbitrary user values through
    // transform semantics — schema membership decides, like the readers
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("ts_day",
        org.apache.spark.sql.types.StringType))).json
    val stAdopted = LakeState(1L, schemaJson,
      Seq("ts_day=batchA/part-0.parquet", "ts_day=batchB/part-1.parquet"))
    val keptAdopted = Lake.pruneByStats(stAdopted, "ts",
      org.apache.spark.sql.types.TimestampType,
      java.sql.Timestamp.valueOf("2026-01-05 00:00:00"),
      java.sql.Timestamp.valueOf("2026-01-06 00:00:00"))
    assert(keptAdopted.size == 2,
      s"identity 'ts_day' values must never prune by transform semantics, kept $keptAdopted")
  }

  test("compound pruning end-to-end: a (lang, doc_id)-clustered lake records both columns and appends stay exact") {
    val out = freshDir("lake-compound")
    // interleaved langs: id ranges overlap across langs, so id-only
    // pruning keeps a tail file PER LANG while the conjunction keeps
    // only the matching lang's tail
    val docs = spark.range(1000).select(
      col("id").as("doc_id"), concat(lit("d"), col("id")).as("text"),
      when(col("id") % 2 === 0, "aa").otherwise("bb").as("lang"),
      lit("train").as("split"), lit(0).cast("int").as("shard_id"))
    docs.repartition(10).write.mode("overwrite")
      .partitionBy("split", "shard_id").parquet(out)
    Pipeline.compactLake(spark, out, maxFilesPerPartition = 1,
      targetRowsPerFile = 100L, sortCols = Seq("lang", "doc_id"))
    val st = Lake.latestManifest(spark, out).get
    assert(st.files.forall(f => st.stats.get(f).exists(s =>
      s.exists(_.col == "lang") && s.exists(_.col == "doc_id"))),
      "clustered compaction must record stats for every sort column")
    import org.apache.spark.sql.types.{LongType, StringType}
    val byId = Lake.pruneByStats(st, "doc_id", LongType, 900L, 1099L)
    val both = Lake.pruneByStats(st, Seq(
      Lake.ColBound("lang", StringType, "bb", "bb"),
      Lake.ColBound("doc_id", LongType, 900L, 1099L)))
    assert(both.size < byId.size,
      s"the lang bound must drop the other lang's tail files: ${both.size} vs ${byId.size}")
    // and the append that USES the conjunction is still exact
    val batch = spark.range(900, 1100).filter(col("id") % 2 === 1).select(
      col("id").as("doc_id"), concat(lit("n"), col("id")).as("text"),
      lit("bb").as("lang"), lit("train").as("split"), lit(0).cast("int").as("shard_id"))
    val after = Pipeline.appendToLake(spark, out, batch, statsCols = Seq("lang"))
    assert(ids(after) == ((0L until 1000L) ++ (1001L until 1100L by 2)).toSet,
      "compound-pruned append must land exactly the genuinely-new docs")
  }

  test("mergeIntoLake upserts: matched rows replaced, new rows inserted, partition moves honored, one commit") {
    val out = freshDir("lake-merge")
    writePlain(fixture(), out)
    // update doc 4's text in place, MOVE doc 7 from (train,1) to (test,1),
    // and insert brand-new docs 100/101
    val updates = Seq(
      (4L, "patched 4", "train", 0),
      (7L, "moved 7", "test", 1),
      (100L, "new 100", "train", 0),
      (101L, "new 101", "test", 1)).toDF("doc_id", "text", "split", "shard_id")
      .select(col("doc_id"), col("text"), col("split"), col("shard_id").cast("int").as("shard_id"))
    val v0 = Lake.latestManifest(spark, out) // none yet — adopt happens inside
    assert(v0.isEmpty)
    val after = Pipeline.mergeIntoLake(spark, out, updates)
    assert(after.count() == 42, "40 originals - 0 deleted + 2 inserts (2 replaced in place)")
    assert(ids(after) == (0L until 40L).toSet ++ Set(100L, 101L))
    val byId = after.select("doc_id", "text", "split").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(byId(4L) == ("patched 4", "train"), "matched row must be replaced")
    assert(byId(7L) == ("moved 7", "test"), "an update may move a doc across partitions")
    assert(after.filter(col("doc_id") === 7L).count() == 1,
      "a moved doc must not survive in its old partition")
    assert(byId(100L)._1 == "new 100" && byId(101L)._1 == "new 101")
    assert(byId(0L)._1 == "doc 0", "unmatched rows must be untouched")
    // one atomic commit: adopt v0 + merge v1
    assert(Lake.latestManifest(spark, out).get.version == 1L)
    // CDC over the merge surfaces the UPSERTS only, never the rewritten
    // survivors of the affected partitions
    val changed = ids(Lake.changesBetween(spark, out, 0L, 1L))
    assert(changed == Set(4L, 7L, 100L, 101L),
      s"adds-CDC across a merge must be exactly the upserted rows, got $changed")
    // schema drift refuses
    val bad = Seq((5L, "x", "train", 0, 1.0)).toDF("doc_id", "text", "split", "shard_id", "extra")
      .select(col("doc_id"), col("text"), col("split"), col("shard_id").cast("int").as("shard_id"), col("extra"))
    val e = intercept[IllegalArgumentException] { Pipeline.mergeIntoLake(spark, out, bad) }
    assert(e.getMessage.contains("schema"))
    // pure-insert merge commutes like an append (no affected partitions)
    Pipeline.mergeIntoLake(spark, out, Seq((200L, "new 200", "train", 0))
      .toDF("doc_id", "text", "split", "shard_id")
      .select(col("doc_id"), col("text"), col("split"), col("shard_id").cast("int").as("shard_id")))
    assert(ids(Lake.read(spark, out)).contains(200L))
  }

  test("restore rolls back atomically: pre-mutation content returns, CDC sees nothing, vacuumed history refuses") {
    val out = freshDir("lake-restore")
    Lake.init(spark, fixture().filter(col("doc_id") < 20), out, Seq("split", "shard_id")) // v1
    Pipeline.appendToLake(spark, out, fixture())                                          // v2
    Pipeline.deleteFromLake(spark, out, Seq(2L, 3L).toDF("doc_id"), "doc_id",
      retainHistory = true)                                                               // v3
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet -- Set(2L, 3L))
    val restored = Lake.restore(spark, out, 2L)                                           // v4
    assert(ids(restored) == (0L until 40L).toSet, "the bad delete must be undone")
    assert(Lake.latestManifest(spark, out).get.version == 4L,
      "restore is a NEW commit, not history surgery")
    // nothing re-surfaces to incremental consumers: the restored rows were
    // already processed when they first landed
    assert(Lake.changesBetween(spark, out, 3L, 4L).count() == 0,
      "a restore must contribute nothing to adds-CDC")
    // the undone delete remains readable history until retention spends it
    assert(ids(Lake.readVersion(spark, out, 3L)) == (0L until 40L).toSet -- Set(2L, 3L))
    // restoring to the current version is a no-op read
    val v4 = Lake.latestManifest(spark, out).get.version
    Lake.restore(spark, out, 4L)
    assert(Lake.latestManifest(spark, out).get.version == v4)
    // an eagerly-vacuumed mutation has no history to restore to
    val out2 = freshDir("lake-restore-gone")
    Lake.init(spark, fixture(), out2, Seq("split", "shard_id"))                           // v1
    Pipeline.deleteFromLake(spark, out2, Seq(5L).toDF("doc_id"), "doc_id")                // v2, eager vacuum
    val e = intercept[IllegalStateException] { Lake.restore(spark, out2, 1L) }
    assert(e.getMessage.contains("restore needs retained history"),
      s"restore over spent history must refuse loudly: ${e.getMessage}")
  }

  test("graft-lake format: latest + time-travel reads match the Scala helpers; staged files invisible; writes refuse") {
    val out = freshDir("lake-dsv2")
    Lake.init(spark, fixture().filter(col("doc_id") < 20), out, Seq("split", "shard_id")) // v1
    Pipeline.appendToLake(spark, out, fixture())                                          // v2
    // latest read resolves through the manifest
    assert(ids(spark.read.format("graft-lake").load(out)) == (0L until 40L).toSet)
    // time travel to the seed
    val v1 = spark.read.format("graft-lake").option("version", 1).load(out)
    assert(ids(v1) == (0L until 20L).toSet)
    assert(v1.schema("shard_id").dataType == org.apache.spark.sql.types.IntegerType,
      "partition column types must come from the manifest schema, not inference")
    // staged-but-unpublished files are invisible through the format too
    val staged = Pipeline.stageLakeDelete(spark, out, Seq(1L).toDF("doc_id"),
      "doc_id", "doc_id", Seq("split", "shard_id")).get
    assert(ids(spark.read.format("graft-lake").load(out)) == (0L until 40L).toSet,
      "manifest isolation must hold through the DSv2 source")
    Lake.abort(spark, staged)
    // unknown version fails loudly
    intercept[IllegalArgumentException] {
      spark.read.format("graft-lake").option("version", 99).load(out).count()
    }
    // writes ROUTE THROUGH the commit protocol (never around it): an
    // append-mode save lands as an audited OCC commit...
    Seq((500L, "doc 500", "train", 0)).toDF("doc_id", "text", "split", "shard_id")
      .write.format("graft-lake").mode("append").save(out)
    assert(Lake.latestManifest(spark, out).get.version == 3L,
      "a format-string append must land as a protocol commit")
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet + 500L)
    // ...while an overwrite — which would bypass init/restore — refuses
    // with the manifest unmoved
    intercept[Exception] {
      fixture().write.format("graft-lake").mode("overwrite").save(out)
    }
    assert(Lake.latestManifest(spark, out).get.version == 3L,
      "a refused write must not move the manifest")
  }

  test("DSv2 write: SQL INSERT INTO lands as an OCC append commit, CDC-visible; pinned and uninitialized writes refuse") {
    val out = freshDir("lake-sql-insert")
    writePlain(fixture(), out)
    Lake.adopt(spark, out) // v0
    spark.sql("DROP TABLE IF EXISTS lake_sql_t")
    spark.sql(s"CREATE TABLE lake_sql_t USING `graft-lake` OPTIONS (path '$out')")
    try {
      Seq((100L, "doc 100", "test", 0), (101L, "doc 101", "test", 1))
        .toDF("doc_id", "text", "split", "shard_id")
        .createOrReplaceTempView("lake_sql_batch")
      spark.sql("INSERT INTO lake_sql_t BY NAME SELECT * FROM lake_sql_batch")
      val st = Lake.latestManifest(spark, out).get
      assert(st.version == 1L, "the SQL insert must land as ONE protocol commit")
      val h = Lake.describeHistory(spark, out).collect().find(_.getLong(0) == 1L).get
      assert(h.getString(2) == "append" && h.getInt(5) == 0)
      assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet ++ Set(100L, 101L))
      // the commit is a normal delta: incremental consumers see exactly it
      assert(ids(Lake.changesBetween(spark, out, 0L, 1L)) == Set(100L, 101L))
    } finally spark.sql("DROP TABLE IF EXISTS lake_sql_t")
    // a version-pinned table refuses writes — no inserting into the past
    spark.sql("DROP TABLE IF EXISTS lake_sql_pinned")
    spark.sql(
      s"CREATE TABLE lake_sql_pinned USING `graft-lake` OPTIONS (path '$out', version '0')")
    try {
      val e = intercept[Exception] {
        spark.sql("INSERT INTO lake_sql_pinned BY NAME SELECT * FROM lake_sql_batch")
      }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: chain(t.getCause)
      assert(chain(e).exists(c => Option(c.getMessage).exists(_.contains("pinned"))),
        s"pinned writes must refuse loudly, got: ${e.getMessage}")
    } finally spark.sql("DROP TABLE IF EXISTS lake_sql_pinned")
    // an uninitialized directory has no layout to insert into
    intercept[Exception] {
      Seq((1L, "x", "train", 0)).toDF("doc_id", "text", "split", "shard_id")
        .write.format("graft-lake").mode("append")
        .save(freshDir("lake-sql-empty"))
    }
  }

  test("commit timestamps: timestamp time travel, describeHistory audit trail, SQL view over the format") {
    val out = freshDir("lake-ts")
    Lake.init(spark, fixture().filter(col("doc_id") < 20), out, Seq("split", "shard_id")) // v1
    Pipeline.appendToLake(spark, out, fixture())                                          // v2
    Pipeline.deleteFromLake(spark, out, Seq(3L).toDF("doc_id"), "doc_id",
      retainHistory = true)                                                               // v3
    val t1 = Lake.deltaAt(spark, out, 1L).timestampMs
    val t2 = Lake.deltaAt(spark, out, 2L).timestampMs
    assert(t1 > 0 && t2 >= t1, "commit stamps must be present and non-decreasing here")
    // timestamp resolution: the newest version at or below the asked time
    assert(Lake.versionAtTimestamp(spark, out, t1) == 1L)
    assert(Lake.versionAtTimestamp(spark, out, System.currentTimeMillis()) == 3L)
    assert(ids(Lake.readTimestamp(spark, out, t1)) == (0L until 20L).toSet)
    intercept[IllegalArgumentException] { Lake.versionAtTimestamp(spark, out, t1 - 1000L) }
    // the DSv2 option resolves the same way (millis form)
    assert(ids(spark.read.format("graft-lake")
      .option("timestampAsOf", t1.toString).load(out)) == (0L until 20L).toSet)
    // audit trail: newest first, actions and file-level delta sizes
    val hist = Lake.describeHistory(spark, out).collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(3L, 2L, 1L))
    assert(hist.map(_.getString(2)).toSeq == Seq("delete", "append", "init"))
    val del = hist.head
    assert(del.getInt(4) == 0 && del.getInt(5) > 0,
      "a delete adds no data files and removes pre-image files")
    // pure-SQL surface: a temporary view over the format string
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW lake_v1 " +
      s"USING `graft-lake` OPTIONS (path '$out', version '1')")
    assert(spark.sql("SELECT count(*) FROM lake_v1").collect()(0).getLong(0) == 20L)
  }

  test("compactLake bin-packs a hot shard to ~ceil(rows/target) bounded files, not one straggler file") {
    val out = freshDir("lake-binpack")
    // one hot partition: 500 rows fragmented across 10 files
    val hot = spark.range(500).select(
      col("id").as("doc_id"), concat(lit("d"), col("id")).as("text"),
      lit("train").as("split"), lit(0).cast("int").as("shard_id"))
    hot.repartition(10).write.mode("overwrite")
      .partitionBy("split", "shard_id").parquet(out)
    val target = 100L
    val after = Pipeline.compactLake(spark, out, maxFilesPerPartition = 1,
      targetRowsPerFile = target)
    assert(after.count() == 500, "compaction must preserve every row")
    val files = Lake.latestManifest(spark, out).get.files
    val perFileRows = files.map { f =>
      spark.read.parquet(new org.apache.hadoop.fs.Path(out, f).toString).count()
    }
    assert(perFileRows.forall(_ <= target),
      s"maxRecordsPerFile must cap every file at $target rows: $perFileRows")
    val expectMin = math.ceil(500.0 / target).toInt // 5
    assert(files.size >= expectMin && files.size <= 2 * expectMin,
      s"bin-packing should land ~$expectMin files, got ${files.size}")
  }

  test("hasAnyDataFile stops at the first data file instead of a full tree walk") {
    val base = java.nio.file.Files.createTempDirectory("graft-probe").toString
    // 20 partition directories, one parquet (plus a .crc sidecar) each —
    // a full recursive listing visits ~40+ entries; the probe must not
    spark.range(100).select(col("id"), (col("id") % 20).as("p"))
      .write.partitionBy("p").parquet(s"$base/tree")
    var seen = 0
    assert(Lake.hasAnyDataFile(spark, base, _ => seen += 1))
    assert(seen <= 10,
      s"the probe must stop at the first parquet hit, visited $seen entries")
    // no data files at all -> false (missing dir, empty dir, hidden-only tree)
    assert(!Lake.hasAnyDataFile(spark, s"$base/absent"))
    val hidden = java.nio.file.Files.createTempDirectory("graft-probe-h").toString
    spark.range(5).write.parquet(s"$hidden/_staging/t")
    assert(!Lake.hasAnyDataFile(spark, hidden),
      "files under _-prefixed trees are not lake data files")
  }

  test("restore refuses when re-added rows violate a CHECK constraint added above the target") {
    val out = freshDir("lake-restore-check")
    writePlain(fixture(), out)
    Lake.adopt(spark, out)                                                  // v0
    Pipeline.deleteFromLakeSparseWhere(spark, out, col("doc_id") >= 30)          // v1
    Lake.addCheckConstraint(spark, out, "small_ids", "doc_id < 30")         // v2
    // rolling back below the delete would re-add rows 30..39, which the
    // NOW-LIVE constraint (it survives restores) forbids — refuse whole
    val e = intercept[IllegalArgumentException] { Lake.restore(spark, out, 0L) }
    assert(e.getMessage.contains("CHECK") && e.getMessage.contains("small_ids"))
    assert(Lake.currentState(spark, out).version == 2L,
      "a refused restore must not move the manifest")
    assert(ids(Lake.read(spark, out)) == (0L until 30L).toSet)
    // a conforming restore still lands: undo a later delete of row 29
    Pipeline.deleteFromLakeSparseWhere(spark, out, col("doc_id") === 29)           // v3
    Lake.restore(spark, out, 2L)                                            // v4
    assert(ids(Lake.read(spark, out)) == (0L until 30L).toSet)
  }

  test("float->double widen restates per-file stats exactly: pruning keeps the file the raw string would drop") {
    import org.apache.spark.sql.types.DoubleType
    val out = freshDir("lake-widen-float")
    val df = Seq((0L, 0.5f), (1L, 1.1f)).toDF("doc_id", "score")
      .withColumn("split", lit("train"))
    Lake.init(spark, df.coalesce(1), out, Seq("split"), statsCols = Seq("score")) // v1
    val pre = Lake.currentState(spark, out)
    assert(pre.stats.values.flatten.exists(c => c.col == "score" && c.max == "1.1"),
      s"float stats record shortest-repr strings, got ${pre.stats.values.flatten}")

    Lake.widenColumn(spark, out, "score", DoubleType)                        // v2
    val st = Lake.currentState(spark, out)
    val decodedMax = 1.1f.toDouble // 1.100000023841858 — what readers now decode
    // the restated max must BE the decoded double, not the float's string
    val maxStat = st.stats.values.flatten.filter(_.col == "score").map(_.max).toSeq
    assert(maxStat.contains(String.valueOf(decodedMax)),
      s"widen must restate float stats through exact float parsing, got $maxStat")
    // the sharp end: a bound at the decoded max must keep the file ("1.1"
    // parses to a double BELOW decodedMax and would wrongly prune it)
    val kept = Lake.pruneByStats(st, "score", DoubleType, decodedMax, null)
    assert(kept.nonEmpty,
      "the file holding (double)1.1f must survive a lo = (double)1.1f bound")
    assert(Lake.read(spark, out).filter(col("score") >= decodedMax).count() == 1L,
      "and the row itself is there")
    // the restate replays identically from the log (no checkpoint shortcut)
    assert(Lake.stateAt(spark, out, 2L).stats == st.stats)
  }

  test("vectorized merge-on-read: DSv2 reads plan a columnar scan + anti-join, stat-prune files, serve mapped lakes") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val expanded = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: expanded.flatMap(allNodes)
    }
    val out = freshDir("lake-mor-vector")
    Lake.init(spark, fixture().repartitionByRange(4, col("doc_id"))
      .sortWithinPartitions("doc_id"), out, Seq.empty, statsCols = Seq("doc_id")) // v1
    Pipeline.deleteFromLakeSparse(spark, out, Seq(5L, 32L).toDF("doc_id"), "doc_id") // v2

    val df = spark.read.format("graft-lake").load(out)
    val rows = df.collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == (0L until 40L).toSet -- Set(5L, 32L))
    // plan shape: Spark's own VECTORIZED parquet scan with the vectors
    // applied as a left-anti join — never the row-mode MoR scan
    val nodes = allNodes(df.queryExecution.executedPlan)
    val dataScans = nodes.collect {
      case sc: FileSourceScanExec if sc.output.exists(_.name == "text") => sc }
    assert(dataScans.nonEmpty && dataScans.forall(_.supportsColumnar),
      s"the data scan must be the vectorized parquet scan, got:\n${df.queryExecution.executedPlan}")
    assert(!df.queryExecution.executedPlan.toString.contains("graft-lake MoR"),
      "the row-mode MoR scan must not plan when the graft extensions are installed")
    assert(df.queryExecution.optimizedPlan.exists {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti
      case _ => false
    }, "the deletion vectors must apply as an executor-side anti-join")

    // manifest-stat file skipping holds at the FileIndex grain: a
    // selective range opens ONE of the four doc_id-clustered files
    val filtered = spark.read.format("graft-lake").load(out).filter(col("doc_id") >= 30)
    val fRows = filtered.collect()
    assert(fRows.map(_.getAs[Long]("doc_id")).toSet == (30L until 40L).toSet - 32L)
    val fScan = allNodes(filtered.queryExecution.executedPlan).collectFirst {
      case sc: FileSourceScanExec if sc.output.exists(_.name == "text") => sc }.get
    assert(fScan.metrics("numFiles").value == 1,
      s"manifest stats must prune to the one overlapping file, read ${fScan.metrics("numFiles").value}")

    // a column-mapped (renamed) lake reads vectorized through the format too
    Lake.renameColumn(spark, out, "text", "body")                             // v3
    val mapped = spark.read.format("graft-lake").load(out)
    assert(mapped.schema.fieldNames.contains("body"))
    assert(mapped.filter(col("doc_id") === 7L).select("body").head.getString(0) == "doc 7")
    // (the filter above executed a fresh plan; assert columnar on a re-read)
    val mapped2 = spark.read.format("graft-lake").load(out)
    mapped2.collect()
    assert(allNodes(mapped2.queryExecution.executedPlan).collect {
      case sc: FileSourceScanExec => sc }.forall(_.supportsColumnar),
      "a mapped lake's format read must stay columnar")

    // time travel still resolves each version's own vectors
    assert(ids(spark.read.format("graft-lake").option("version", 1L).load(out)) ==
      (0L until 40L).toSet)
    assert(ids(spark.read.format("graft-lake").option("version", 2L).load(out)) ==
      (0L until 40L).toSet -- Set(5L, 32L))
  }

  test("full SQL MERGE grammar: conditional clauses, split shape, partial SET and NOT MATCHED BY SOURCE in ONE sparse commit") {
    val out = freshDir("lake-merge-general")
    writePlain(fixture(), out); Lake.adopt(spark, out)                        // v0: ids 0..39
    val src = Seq(
      (5L, "patched 5", 10L),    // matched, score>0 -> conditional UPDATE
      (7L, "dead 7", -1L),       // matched, score<0 -> conditional DELETE
      (100L, "new 100", 1L),     // not matched, score>0 -> INSERT
      (200L, "new 200", -5L))    // not matched, score<0 -> NO clause, dropped
      .toDF("doc_id", "text", "score")
    src.createOrReplaceTempView("gm_src")
    spark.sql("DROP TABLE IF EXISTS gm")
    spark.sql(s"CREATE TABLE gm USING `graft-lake` OPTIONS (path '$out')")
    try {
      spark.sql("""MERGE INTO gm t USING gm_src s ON t.doc_id = s.doc_id
        WHEN MATCHED AND s.score < 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET text = concat(s.text, ' over ', t.text)
        WHEN NOT MATCHED AND s.score > 0 THEN
          INSERT (doc_id, text, split, shard_id)
          VALUES (s.doc_id, s.text, 'test', CAST(s.doc_id % 2 AS INT))
        WHEN NOT MATCHED BY SOURCE AND t.doc_id >= 38 THEN UPDATE SET text = 'stale'""")
      val c = Lake.read(spark, out).select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(!c.contains(7L), "the conditional DELETE must fire first for score<0")
      assert(c(5L) == "patched 5 over doc 5",
        s"partial SET referencing BOTH sides must bind, got ${c.get(5L)}")
      assert(c(100L) == "new 100", "the conditional INSERT must land score>0 rows")
      assert(!c.contains(200L), "a source row no clause accepts must be dropped")
      assert(c(38L) == "stale" && c(39L) == "stale",
        "NOT MATCHED BY SOURCE must update unmatched target rows")
      assert(c(36L) == "doc 36", "rows no clause touches stay exact")
      assert(c.size == 40, "40 - 1 delete + 1 insert")
      // ONE sparse merge commit: zero file removes, vectors attached
      val h = Lake.describeHistory(spark, out).collect().find(_.getLong(0) == 1L).get
      assert(h.getString(2) == "merge" && h.getInt(5) == 0 &&
        h.getAs[Int]("n_dv_attached") > 0,
        s"the general merge must land as one sparse commit, got $h")
      // CDF parity: the delete clause's pre-image feeds as delete; the
      // update clauses' pre-images as update_preimage, their post-images
      // as update_postimage; the insert clause as insert
      val feed0 = Lake.changeFeed(spark, out, 0L, 1L)
      def idsOf(t: String) = feed0.filter(col("_change_type") === t)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(idsOf("delete") == Set(7L), "only the DELETE clause feeds delete")
      assert(idsOf("update_preimage") == Set(5L, 38L, 39L))
      assert(idsOf("update_postimage") == Set(5L, 38L, 39L))
      assert(idsOf("insert") == Set(100L))
      // an unassigned nullable column lands NULL on insert (SQL default)
      spark.sql("""MERGE INTO gm t USING gm_src s ON t.doc_id = s.doc_id + 900
        WHEN NOT MATCHED AND s.doc_id = 100 THEN
          INSERT (doc_id, split, shard_id) VALUES (s.doc_id + 900, 'test', 0)""")
      assert(Lake.read(spark, out).filter(col("doc_id") === 1000L)
        .select("text").head.isNullAt(0), "unassigned INSERT columns land NULL")
      // scope rules refuse loudly: NMBS reaching into the source —
      // Spark's own analyzer rejects it before the rule even fires (the
      // rule's own guard backstops programmatic plan construction)
      val e = intercept[Exception] {
        spark.sql("""MERGE INTO gm t USING gm_src s ON t.doc_id = s.doc_id
          WHEN NOT MATCHED BY SOURCE AND s.score > 0 THEN DELETE""")
      }
      assert(e.isInstanceOf[org.apache.spark.sql.AnalysisException] ||
        e.getMessage.contains("source column"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS gm")
      spark.catalog.dropTempView("gm_src")
    }
  }

  test("raced same-row tombstones: the feed emits the delete EXACTLY once; a post-restore re-delete still emits") {
    val out = freshDir("lake-dv-race-dedup")
    writePlain(fixture(), out)
    // the PRODUCTION sidecar shape: lineage columns ride in the CDC
    // sidecar (deleteFromLakeSparse does exactly this)
    def stageSparse(idSet: Set[Long]) = {
      val base = Lake.adopt(spark, out)
      val lineage = Lake.readFilesWithLineage(spark, out, base.schemaJson,
        base.files, base.dvs)
      val matched = lineage.filter(col("doc_id").isInCollection(idSet.toSeq))
      val cdcPath = Lake.stageCdc(spark, out, matched, Seq("split", "shard_id"))
      val (sidecar, n, files) = Lake.stageDv(spark, out,
        matched.select(col("_gf_file").as("file"), col("_gf_pos").as("pos")))
      (base, n, files.map(f => f -> Seq(sidecar)).toMap, Seq((cdcPath, "delete")))
    }
    // both writers claim doc 3 from the SAME base; B also claims 6
    val (baseA, nA, dvA, cdcA) = stageSparse(Set(3L))
    val (baseB, nB, dvB, cdcB) = stageSparse(Set(3L, 6L))
    Lake.publish(spark, Lake.StagedCommit(out, baseA, "delete", baseA.schemaJson,
      Seq.empty, Seq.empty, nA, nA, dvAdds = dvA, cdcFiles = cdcA))           // v1
    Lake.publish(spark, Lake.StagedCommit(out, baseB, "delete", baseB.schemaJson,
      Seq.empty, Seq.empty, nB, nB, dvAdds = dvB, cdcFiles = cdcB))           // v2
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet -- Set(3L, 6L))
    // exactly ONE delete event per row: 3 at its FIRST version, 6 at v2
    val ev = Lake.changeFeed(spark, out, 0L, 2L)
      .filter(col("_change_type") === "delete")
      .select("doc_id", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(ev == Seq((3L, 1L), (6L, 2L)),
      s"raced tombstones must emit exactly one delete each, got $ev")
    // resurrection resets the rule: restore below both deletes, then a
    // genuine re-delete — it must emit (state v-1 carries no vector)
    Lake.restore(spark, out, 0L)                                              // v3
    Pipeline.deleteFromLakeSparse(spark, out, Seq(3L).toDF("doc_id"), "doc_id") // v4
    val ev2 = Lake.changeFeed(spark, out, 3L, 4L)
      .filter(col("_change_type") === "delete")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(ev2 == Seq(3L), "a genuine re-delete after a restore must emit")
  }

  test("OCC: an append staged under the old layout refuses when a repartition interposes") {
    val out = freshDir("lake-layout-race")
    writePlain(fixture(), out)
    Lake.adopt(spark, out)                                                    // v0
    // stage an append under the CURRENT (split, shard_id) layout — no publish yet
    val extra = Seq((100L, "doc 100", "train", 0)).toDF("doc_id", "text", "split", "shard_id")
    val base = Lake.adopt(spark, out)
    val staged = Lake.stageWrite(spark, out, extra, Seq("split", "shard_id"))
    val (rows, stats) = Lake.auditStaged(spark, out, base.schemaJson, staged, Seq.empty)
    // interpose: a relayout to (split) — every live file moves
    Pipeline.repartitionLake(spark, out, Seq("split"))                        // v1
    // the old-layout append must refuse at rebase, naming the conflict
    val e = intercept[IllegalStateException] {
      Lake.publish(spark, Lake.StagedCommit(out, base, "append", base.schemaJson,
        Seq.empty, staged, rows, rows, stats))
    }
    assert(e.getMessage.contains("partition layout changed"),
      s"the rebase must name the layout conflict, got: ${e.getMessage}")
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet,
      "the refused append must land nothing")
    assert(Lake.currentState(spark, out).files.forall(f =>
      f.contains("split=") && !f.contains("shard_id=")),
      "the lake must stay uniformly on the new layout")
  }

  test("evolveLayout: a metadata commit relayouts NEW writes; generations union exactly; restore re-instates the old layout") {
    val out = freshDir("lake-evolve")
    writePlain(fixture(), out)
    Lake.adopt(spark, out)                                                    // v0: gen0 (split, shard_id)
    val filesBefore = Lake.currentState(spark, out).files
    Lake.evolveLayout(spark, out, Seq("split"))                               // v1: METADATA only
    val st1 = Lake.currentState(spark, out)
    assert(st1.files == filesBefore, "an evolve must move zero files")
    assert(st1.layout.contains(Seq("split")))
    val h = Lake.describeHistory(spark, out).collect().find(_.getLong(0) == 1L).get
    assert(h.getString(2) == "evolve" && h.getInt(3) == 0 && h.getInt(5) == 0)
    // a new append lands under the NEW layout; shard_id moves to footers
    Lake.append(spark, out,
      Seq((100L, "doc 100", "train", 0)).toDF("doc_id", "text", "split", "shard_id")) // v2
    val newFiles = Lake.currentState(spark, out).files.filterNot(filesBefore.contains)
    assert(newFiles.nonEmpty && newFiles.forall(f =>
      f.startsWith("split=") && !f.contains("shard_id=")),
      s"post-evolve appends must land under (split) only, got $newFiles")
    // the union of both generations reads exactly — scala AND DSv2
    val df = Lake.read(spark, out)
    assert(ids(df) == (0L until 40L).toSet + 100L)
    assert(df.filter(col("shard_id") === 0).count() == 21,
      "shard_id must decode from gen0 paths AND gen1 footers")
    assert(ids(spark.read.format("graft-lake").load(out)) == (0L until 40L).toSet + 100L,
      "the DSv2 read must serve the mixed-generation union")
    assert(ids(df.filter(col("split") === "test")) == (20L until 40L).toSet)
    // time travel below the evolve reads gen0 alone
    assert(ids(Lake.readVersion(spark, out, 0L)) == (0L until 40L).toSet)
    // sparse mutations stay exact across generations
    Pipeline.deleteFromLakeSparse(spark, out, Seq(5L, 100L).toDF("doc_id"), "doc_id") // v3
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet -- Set(5L))
    // restore below the evolve re-instates the OLD write layout
    Lake.restore(spark, out, 0L)                                              // v4
    Lake.append(spark, out,
      Seq((200L, "doc 200", "test", 1)).toDF("doc_id", "text", "split", "shard_id")) // v5
    val after = Lake.currentState(spark, out)
    val newest = after.files.filterNot(filesBefore.contains)
    assert(newest.nonEmpty && newest.forall(_.contains("shard_id=")),
      s"post-restore appends must land under the restored (split, shard_id) layout, got $newest")
    assert(ids(Lake.read(spark, out)) == (0L until 40L).toSet + 200L)
    // refusals: unknown column, no-op evolve
    val e1 = intercept[IllegalArgumentException] {
      Lake.evolveLayout(spark, out, Seq("nope")) }
    assert(e1.getMessage.contains("not in the schema"))
    val e2 = intercept[IllegalArgumentException] {
      Lake.evolveLayout(spark, out, Seq("split", "shard_id")) }
    assert(e2.getMessage.contains("already the write layout"))
  }

  test("evolveLayout: one RUNNING CDC stream spans generation boundaries; its rows equal the batch feed") {
    val out = freshDir("lake-evolve-stream")
    writePlain(fixture(), out)
    Lake.adopt(spark, out)                                                    // v0
    Lake.evolveLayout(spark, out, Seq("split"))                               // v1
    Lake.append(spark, out,
      Seq((100L, "doc 100", "train", 0)).toDF("doc_id", "text", "split", "shard_id")) // v2
    // the batch feed unions generations exactly
    assert(Lake.changeFeed(spark, out, 0L, 2L)
      .filter(col("_change_type") === "insert")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(100L))
    // each file decodes under its OWN path-spelled layout: gen0 files
    // read shard_id from paths, gen1 files read it from footers — one
    // stream serves both, and KEEPS RUNNING across a further evolve
    val ckpt = java.nio.file.Files.createTempDirectory("evolve-ck").toString
    val q = spark.readStream.format("graft-lake-cdc")
      .option("startingVersion", "earliest")
      .option("readChangeFeed", "true")
      .load(out)
      .writeStream.format("memory").queryName("evolve_tail")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      // a SECOND boundary lands while the stream is live
      Lake.evolveLayout(spark, out, Seq("shard_id"))                          // v3
      Lake.append(spark, out,
        Seq((200L, "doc 200", "val", 2)).toDF("doc_id", "text", "split", "shard_id")) // v4
      q.processAllAvailable()
    } finally q.stop()
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "split", "shard_id", "_change_type", "_commit_version")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3), r.getLong(4)))
        .toSet
    val got = keyed(spark.table("evolve_tail"))
    val want = keyed(Lake.changeFeed(spark, out, -1L, 4L))
    assert(got == want,
      s"the stream must equal the batch feed across both boundaries; " +
        s"missing=${want -- got}, extra=${got -- want}")
    assert(got.exists(_._1 == 100L) && got.exists(_._1 == 200L))
  }

  test("vectorized MoR: self-joins and lake-to-lake joins of DV-bearing lakes answer exactly") {
    val out = freshDir("lake-mor-selfjoin")
    writePlain(fixture(), out)
    Lake.adopt(spark, out)                                                    // v0
    Pipeline.deleteFromLakeSparse(spark, out, Seq(3L, 7L).toDF("doc_id"), "doc_id") // v1
    val live = (0L until 40L).toSet -- Set(3L, 7L)
    val df = spark.read.format("graft-lake").load(out)
    // self-join: the rule replaces BOTH relation occurrences with fresh
    // plans; DeduplicateRelations must keep their attributes disjoint
    assert(df.as("a").join(df.as("b"), "doc_id").count() == live.size.toLong)
    // and a join against a SECOND DV-bearing lake
    val out2 = freshDir("lake-mor-selfjoin-2")
    writePlain(fixture(), out2)
    Lake.adopt(spark, out2)
    Pipeline.deleteFromLakeSparse(spark, out2, Seq(5L).toDF("doc_id"), "doc_id")
    val df2 = spark.read.format("graft-lake").load(out2)
    val joined = df.join(df2.select(col("doc_id"), col("text").as("text2")), "doc_id")
    assert(joined.count() == (live - 5L).size.toLong)
    // SQL over temp views exercises the same plans through the analyzer
    df.createOrReplaceTempView("mor_a")
    df2.createOrReplaceTempView("mor_b")
    assert(spark.sql(
      "SELECT count(*) FROM mor_a a JOIN mor_b b ON a.doc_id = b.doc_id")
      .head.getLong(0) == (live - 5L).size.toLong)
  }

  test("appendToLake and mergeIntoLakeSparse route by the COMMITTED layout after an evolve") {
    val out = freshDir("lake-evolve-append")
    writePlain(fixture(), out)
    Lake.adopt(spark, out)                                                    // v0
    val filesBefore = Lake.currentState(spark, out).files
    Lake.evolveLayout(spark, out, Seq("split"))                               // v1
    // the callers keep their DEFAULT partitionCols (split, shard_id) —
    // the manifest's committed layout routes the writes regardless
    Pipeline.appendToLake(spark, out,
      Seq((100L, "doc 100", "train", 0)).toDF("doc_id", "text", "split", "shard_id")) // v2
    Pipeline.mergeIntoLakeSparse(spark, out,
      Seq((5L, "patched 5", "train", 1)).toDF("doc_id", "text", "split", "shard_id")) // v3
    val st = Lake.currentState(spark, out)
    val newFiles = st.files.filterNot(filesBefore.contains)
    assert(newFiles.nonEmpty && newFiles.forall(f =>
      f.startsWith("split=") && !f.contains("shard_id=")),
      s"post-evolve appends/merges must land under the committed (split) layout, got $newFiles")
    val c = Lake.read(spark, out).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(c.size == 41 && c(100L) == "doc 100" && c(5L) == "patched 5")
  }

  test("general merge: distinct null-key source rows each INSERT (null never matches, so they are not duplicates)") {
    val out = freshDir("lake-nullkey-merge")
    writePlain(fixture(), out)
    Lake.adopt(spark, out)
    spark.sql("DROP TABLE IF EXISTS nkm")
    spark.sql(s"CREATE TABLE nkm USING `graft-lake` OPTIONS (path '$out')")
    Seq((Option.empty[Long], "n1"), (Option.empty[Long], "n2"), (Some(5L), "patched"))
      .toDF("doc_id", "text").createOrReplaceTempView("nkm_src")
    try {
      spark.sql("""MERGE INTO nkm t USING nkm_src s ON t.doc_id = s.doc_id
        WHEN MATCHED THEN UPDATE SET text = s.text
        WHEN NOT MATCHED THEN
          INSERT (doc_id, text, split, shard_id) VALUES (s.doc_id, s.text, 'test', 0)""")
      val r = Lake.read(spark, out)
      assert(r.count() == 42, "two distinct null-key rows must insert separately")
      assert(r.filter(col("doc_id").isNull).select("text").collect()
        .map(_.getString(0)).toSet == Set("n1", "n2"))
      assert(r.filter(col("doc_id") === 5L).select("text").head.getString(0) == "patched")
    } finally spark.sql("DROP TABLE IF EXISTS nkm")
  }

  test("changeFeed folds the prior state forward: log reads stay O(range + checkpoint interval)") {
    val out = freshDir("lake-feed-fold")
    writePlain(fixture(), out)
    Lake.adopt(spark, out) // v0
    val k = 8
    (0 until k).foreach(i =>
      Pipeline.deleteFromLakeSparse(spark, out, Seq(i.toLong).toDF("doc_id"), "doc_id"))
    val before = Lake.logReads.get()
    val feed = Lake.changeFeed(spark, out, 0L, k.toLong)
    val driverReads = Lake.logReads.get() - before
    // budget: one stateAt for `to`, one for `from` (≤ checkpoint-interval
    // deltas + a checkpoint each), one delta per in-range version — and
    // NOTHING per delete-bearing version (the old per-version stateAt
    // paid ~interval reads for each of the k deletes)
    val budget = k + 2 * (Lake.CheckpointInterval + 2) + 2
    assert(driverReads <= budget,
      s"changeFeed planning read $driverReads log files for a $k-version range " +
        s"(budget $budget) — the prior-state fold regressed")
    assert(feed.filter(col("_change_type") === "delete").count() == k.toLong,
      "the folded feed still serves every delete exactly once")
  }

  test("raced same-row sparse UPDATES: the update_preimage feeds exactly once (same rule as deletes)") {
    val out = freshDir("lake-upd-race-dedup")
    writePlain(fixture(), out)
    Lake.adopt(spark, out) // v0
    // the production sidecar shape, typed update_preimage: both writers
    // claim doc 3's pre-image from the same base (raced sparse updates)
    def stageUpd(idSet: Set[Long]) = {
      val base = Lake.adopt(spark, out)
      val lineage = Lake.readFilesWithLineage(spark, out, base.schemaJson,
        base.files, base.dvs)
      val matched = lineage.filter(col("doc_id").isInCollection(idSet.toSeq))
      val cdcPath = Lake.stageCdc(spark, out, matched, Seq("split", "shard_id"))
      val (sidecar, n, files) = Lake.stageDv(spark, out,
        matched.select(col("_gf_file").as("file"), col("_gf_pos").as("pos")))
      (base, n, files.map(f => f -> Seq(sidecar)).toMap,
        Seq((cdcPath, "update_preimage")))
    }
    val (bA, nA, dvA, cdcA) = stageUpd(Set(3L))
    val (bB, nB, dvB, cdcB) = stageUpd(Set(3L, 6L))
    Lake.publish(spark, Lake.StagedCommit(out, bA, "update", bA.schemaJson,
      Seq.empty, Seq.empty, nA, nA, dvAdds = dvA, cdcFiles = cdcA))           // v1
    Lake.publish(spark, Lake.StagedCommit(out, bB, "update", bB.schemaJson,
      Seq.empty, Seq.empty, nB, nB, dvAdds = dvB, cdcFiles = cdcB))           // v2
    val ev = Lake.changeFeed(spark, out, 0L, 2L)
      .filter(col("_change_type") === "update_preimage")
      .select("doc_id", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(ev == Seq((3L, 1L), (6L, 2L)),
      s"raced update pre-images must emit exactly once each, got $ev")
  }

  test("default stats capture: a lake written WITHOUT statsCols prunes on a leading column; long strings truncate") {
    val out = freshDir("lake-default-stats")
    // 4 doc_id-clustered files, a >32-char string column, NO statsCols
    val wide = spark.range(40).select(
      col("id").as("doc_id"),
      concat(lit("w" * 60 + " doc "), col("id")).as("text"),
      lit("train").as("split"), lit(0).cast("int").as("shard_id"))
      .repartitionByRange(4, col("doc_id")).sortWithinPartitions("doc_id")
    Lake.init(spark, wide, out, Seq("split", "shard_id"))
    val st = Lake.latestManifest(spark, out).get
    assert(st.files.size >= 4 && st.stats.size == st.files.size,
      s"every file must carry default stats, got ${st.stats.size}/${st.files.size}")
    // doc_id bounds landed without anyone asking — and they prune
    val hit = Lake.pruneByStats(st,
      "doc_id", org.apache.spark.sql.types.LongType, 35L, 39L)
    assert(hit.size == 1,
      s"a doc_id range over one clustered file must prune to it, got ${hit.size}")
    // identity partition columns are path-resident: not in footer stats
    assert(st.stats.values.flatten.forall(cs => cs.col != "split" && cs.col != "shard_id"))
    // long string bounds record truncated (32-char prefixes), and string
    // pruning through them stays exactness-preserving
    val textStats = st.stats.values.flatten.filter(_.col == "text").toSeq
    assert(textStats.nonEmpty && textStats.forall(cs =>
      cs.min.length <= 32 && cs.max.length <= 33),
      s"string stats must truncate, got ${textStats.map(c => (c.min.length, c.max.length))}")
    val textHit = Lake.pruneByStats(st,
      "text", org.apache.spark.sql.types.StringType,
      "w" * 60 + " doc 39", "w" * 60 + " doc 39")
    assert(textHit.nonEmpty, "truncated string bounds must never prune a matching file")
    // appends capture default stats too (the DSv2/INSERT path)
    Pipeline.appendToLake(spark, out, spark.range(100, 110).select(
      col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
      lit("train").as("split"), lit(0).cast("int").as("shard_id")))
    val st2 = Lake.latestManifest(spark, out).get
    val newFiles = st2.files.filterNot(st.files.toSet)
    assert(newFiles.nonEmpty && newFiles.forall(f =>
      st2.stats.get(f).exists(_.exists(_.col == "doc_id"))),
      "appended files must carry default stats")
    // the opt-in override still narrows: an explicit statsCols lake
    // records exactly what was asked
    val out2 = freshDir("lake-optin-stats")
    Lake.init(spark, wide, out2, Seq("split", "shard_id"), statsCols = Seq("doc_id"))
    val stO = Lake.latestManifest(spark, out2).get
    assert(stO.stats.values.flatten.map(_.col).toSet ==
      Set("doc_id", "doc_id" + Lake.NullsStatSuffix) ++ Lake.ReservedStatNames,
      "naming statsCols must override the default entirely (plus the " +
        "per-column null count and the reserved pseudo-stats every audit records)")
    // numRecords capture: every file's recorded #rows sums to the corpus
    assert(stO.stats.values.flatten.filter(_.col == Lake.RowsStatName)
      .map(_.min.toLong).sum == 40L,
      "per-file #rows must sum to the written row count")
    // DISTRIBUTED capture: a commit staging more than
    // FooterStatsDriverMax files opens every footer inside a task (one
    // job), ZERO serial driver round-trips — the 100 TB initial-ingest
    // path. Small commits above took the serial fast path.
    val out3 = freshDir("lake-dist-stats")
    val many = spark.range(120).select(
      col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
      lit("train").as("split"), lit(0).cast("int").as("shard_id"))
      .repartitionByRange(12, col("doc_id")).sortWithinPartitions("doc_id")
    val beforeDriver = Lake.footerDriverReads.get()
    Lake.init(spark, many, out3, Seq("split", "shard_id"))
    assert(Lake.footerDriverReads.get() == beforeDriver,
      "a many-file commit must open footers in tasks, not on the driver")
    val stD = Lake.latestManifest(spark, out3).get
    assert(stD.files.size > Lake.FooterStatsDriverMax &&
      stD.stats.size == stD.files.size,
      s"distributed capture must stat every file, got ${stD.stats.size}/${stD.files.size}")
    assert(Lake.pruneByStats(stD, "doc_id",
      org.apache.spark.sql.types.LongType, 115L, 119L).size == 1,
      "distributed footer stats must prune exactly like serial capture")
  }

  test("named-stats audit rides the footer pass: zero data-scan jobs, values equal the data truth") {
    val out = freshDir("lake-audit-footer")
    val df = spark.range(100).select(col("id").as("doc_id"),
      concat(lit("doc "), lpad(col("id").cast("string"), 3, "0")).as("text"),
      lit("train").as("split"),
      when(col("id") % 10 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("t"), col("id"))).as("tag"))
    val before = Lake.auditScanJobs.get()
    Lake.init(spark, df.repartition(4), out, Seq("split"),
      statsCols = Seq("doc_id", "text", "tag"))
    // comparable data columns: capture comes from the writers' own
    // footer metadata — the per-commit data-scan aggregate is GONE
    assert(Lake.auditScanJobs.get() == before,
      "named stats over comparable data columns must ride the footer pass")
    val st = Lake.latestManifest(spark, out).get
    assert(st.files.nonEmpty)
    st.files.foreach { f =>
      val data = spark.read.parquet(s"$out/$f")
      val r = data.agg(min("doc_id"), max("doc_id"), min("text"), max("text"),
        count(lit(1)), count(col("tag"))).head
      val cs = st.stats(f)
      def stat(c: String) = cs.find(_.col == c).get
      assert(stat("doc_id").min == r.getLong(0).toString &&
        stat("doc_id").max == r.getLong(1).toString,
        s"footer doc_id bounds must equal the data truth for $f")
      assert(stat("text").min == r.getString(2) && stat("text").max == r.getString(3),
        s"footer text bounds must equal the data truth for $f (short strings untruncated)")
      assert(stat(Lake.RowsStatName).min == r.getLong(4).toString,
        "footer numRecords must equal the data count")
      assert(stat("tag" + Lake.NullsStatSuffix).min == (r.getLong(4) - r.getLong(5)).toString,
        "footer null counts must equal the data truth")
    }
    // a PATH-LEVEL statsCol still needs the aggregate read-back (its
    // values live in directory names, not footers) — counted once
    val before2 = Lake.auditScanJobs.get()
    Lake.analyzeStats(spark, out, Seq("split"))
    assert(Lake.auditScanJobs.get() == before2 + 1,
      "path-level statsCols must fall back to the aggregate audit")
    val st2 = Lake.latestManifest(spark, out).get
    assert(st2.files.forall(f => st2.stats(f).exists(c =>
      c.col == "split" && c.min == "train" && c.max == "train")),
      "the aggregate fallback must record the partition value bounds")
  }

  test("columnar checkpoint: a many-file lake checkpoints as parquet entries behind an O(KB) stub; state round-trips exactly") {
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "8")
    // this spec certifies the EAGER round-trip (checkpoint-resolved state
    // == delta-replayed state, field for field) — pin resolution eager;
    // the lazy-stats specs own the default-lazy behavior
    spark.conf.set(Lake.LazyStatsKey, "false")
    try {
      val out = freshDir("lake-pq-cp")
      writePlain(fixture(), out)
      Lake.adopt(spark, out) // v0
      (1 to 10).foreach { i =>
        Pipeline.appendToLake(spark, out, spark.range(100L * i, 100L * i + 2).select(
          col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
          lit("train").as("split"), lit(0).cast("int").as("shard_id")))
      }
      // v10 crossed the checkpoint grid above the columnar threshold: the
      // driver-parsed stub stays O(KB) NO MATTER the file count; the
      // file-scale sections live in a parquet entries directory read
      // through a Spark job (the Delta checkpoint-parquet shape)
      val log = new java.io.File(out, Lake.LogDirName)
      val stubs = log.listFiles.filter(_.getName.endsWith(".checkpoint"))
      assert(stubs.length == 1 && stubs.head.getName.contains("010.checkpoint"),
        s"expected one v10 checkpoint, got ${stubs.map(_.getName).mkString(",")}")
      val stubText = new String(
        java.nio.file.Files.readAllBytes(stubs.head.toPath), "UTF-8")
      assert(stubText.startsWith("graft-checkpoint-v3"),
        s"a 14-file checkpoint must go columnar, got ${stubText.take(40)}")
      assert(stubs.head.length < 4096,
        s"the stub must stay O(KB), got ${stubs.head.length} bytes")
      val pqDirs = log.listFiles.filter(_.getName.endsWith(".pqentries"))
      assert(pqDirs.length == 1 && pqDirs.head.isDirectory,
        s"expected one entries directory, got ${pqDirs.map(_.getName).mkString(",")}")
      // resolution takes the columnar path... (cache cleared — the
      // counter measures the uncached read path)
      Lake.invalidateStateCache()
      val before = Lake.checkpointParquetLoads.get()
      val viaCp = Lake.stateAt(spark, out, 10L)
      assert(Lake.checkpointParquetLoads.get() > before,
        "resolving v10 must load the checkpoint through the parquet entries")
      // ...and reconstructs EXACTLY the state a pure delta replay builds:
      // stash the checkpoint away, re-resolve from v0, compare every field
      val stash = new java.io.File(log, "stash.checkpoint.bak")
      assert(stubs.head.renameTo(stash), "could not stash the checkpoint")
      val viaReplay =
        try Lake.stateAt(spark, out, 10L)
        finally assert(stash.renameTo(stubs.head), "could not restore the checkpoint")
      assert(viaCp == viaReplay,
        "columnar-checkpoint state must equal the delta-replayed state, field for field")
      assert(Lake.read(spark, out).count() == 60)
      // vacuumKeeping's history-rewriting REPLACE checkpoint goes columnar
      // too, and reclaims the entries directories of retired checkpoints —
      // after the cut, v8 resolves ONLY through the new columnar checkpoint
      Lake.vacuumKeeping(spark, out, keepVersions = 3)
      val stubsAfter = log.listFiles.filter(_.getName.endsWith(".checkpoint")).map(_.getName)
      val dirsAfter = log.listFiles.filter(_.getName.endsWith(".pqentries")).map(_.getName)
      assert(dirsAfter.nonEmpty && dirsAfter.forall(d =>
        stubsAfter.exists(_.stripSuffix(".checkpoint") == d.takeWhile(_ != '.'))),
        s"every entries directory must belong to a live stub, got " +
          s"dirs=${dirsAfter.mkString(",")} stubs=${stubsAfter.mkString(",")}")
      val v8 = Lake.stateAt(spark, out, 8L)
      assert(v8.files.nonEmpty,
        "the overwrite checkpoint must resolve the retention-cut version")
      assert(Lake.read(spark, out).count() == 60, "reads survive the retention cut")
    } finally {
      spark.conf.unset(Lake.LazyStatsKey)
      spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
    }
  }

  test("partition transforms: days(ts) -> hours(ts) is a metadata commit; mixed reads, path pruning and sparse DML work") {
    import org.apache.spark.sql.functions.expr
    val out = freshDir("lake-transforms")
    // 48 hourly events across two days; ts STAYS in the footers
    def ev(ids: Range) = spark.range(ids.start, ids.end).select(
      col("id").as("event_id"),
      expr("timestampadd(HOUR, CAST(id AS INT), TIMESTAMP'2026-01-01 00:00:00')").as("ts"),
      concat(lit("ev "), col("id")).as("note"))
    Lake.init(spark, ev(0 until 48), out, Seq("days(ts)"))                     // v1
    val st1 = Lake.latestManifest(spark, out).get
    assert(st1.files.forall(_.startsWith("ts_day=2026-01-0")),
      s"day transform must render ts_day levels, got ${st1.files.take(2)}")
    val back = Lake.read(spark, out)
    assert(back.count() == 48 && back.schema.fieldNames.toSet ==
      Set("event_id", "ts", "note"),
      "the source column reads from footers; the derived level never surfaces")
    assert(back.filter(col("ts") === expr("TIMESTAMP'2026-01-01 05:00:00'"))
      .select("event_id").head.getLong(0) == 5L)
    // evolve the grain: days -> hours, constant-time metadata commit
    Lake.evolveLayout(spark, out, Seq("hours(ts)"))                            // v2
    val h = Lake.describeHistory(spark, out).collect().find(_.getLong(0) == 2L).get
    assert(h.getString(2) == "evolve" && h.getInt(3) == 0 && h.getInt(5) == 0)
    Lake.append(spark, out, ev(48 until 72))                                   // v3: hour generation
    val st3 = Lake.latestManifest(spark, out).get
    val newFiles = st3.files.filterNot(st1.files.toSet)
    assert(newFiles.nonEmpty && newFiles.forall(_.startsWith("ts_hour=2026-01-03")),
      s"post-evolve appends must land under ts_hour levels, got ${newFiles.take(2)}")
    // mixed-generation read answers exactly
    val all = Lake.read(spark, out)
    assert(all.count() == 72)
    assert(all.agg(sum(col("event_id"))).head.getLong(0) == (0L until 72L).sum)
    // TRANSFORM-LEVEL PATH PRUNING: a day-2 window keeps only day-2
    // files of the day generation (and no day-3 hour files)
    val pruned = Lake.pruneByStats(st3, "ts",
      org.apache.spark.sql.types.TimestampType,
      java.sql.Timestamp.valueOf("2026-01-02 00:00:00"),
      java.sql.Timestamp.valueOf("2026-01-02 23:00:00"))
    assert(pruned.nonEmpty && pruned.forall(_.startsWith("ts_day=2026-01-02")),
      s"a day-2 window must prune to the day-2 files, got ${pruned.take(3)}")
    // an hour window inside day 3 prunes to exactly that hour's file(s)
    val hourHit = Lake.pruneByStats(st3, "ts",
      org.apache.spark.sql.types.TimestampType,
      java.sql.Timestamp.valueOf("2026-01-03 05:00:00"),
      java.sql.Timestamp.valueOf("2026-01-03 05:00:00"))
    assert(hourHit.exists(_.startsWith("ts_hour=2026-01-03-05")) &&
      hourHit.forall(f => f.startsWith("ts_hour=2026-01-03-05") ||
        f.startsWith("ts_day=")),
      s"an hour window must keep only its hour file among the hour generation, got $hourHit")
    // sparse DML renders transform sidecars and feeds exactly
    Pipeline.deleteFromLakeSparse(spark, out, Seq(50L).toDF("event_id"), "event_id",
      lakeIdCol = "event_id")                                                  // v4
    assert(Lake.read(spark, out).count() == 71)
    val feed = Lake.changeFeed(spark, out, 3L, 4L)
    assert(feed.filter(col("_change_type") === "delete")
      .select("event_id").collect().map(_.getLong(0)).toSeq == Seq(50L))
    // compaction folds BOTH generations into the current (hours) layout
    Pipeline.compactLake(spark, out, maxFilesPerPartition = 1,
      partitionCols = Seq("hours(ts)"), retainHistory = true)                  // v5
    val st5 = Lake.latestManifest(spark, out).get
    assert(Lake.layoutGenerationsOf(st5).size == 1 &&
      st5.files.forall(_.startsWith("ts_hour=")),
      "compaction must fold the day generation into hour levels")
    assert(Lake.read(spark, out).count() == 71)
    // guard rails: bad specs and protected sources refuse loudly
    val eType = intercept[IllegalArgumentException] {
      Lake.evolveLayout(spark, out, Seq("days(note)"))
    }
    assert(eType.getMessage.contains("timestamp"))
    val eRename = intercept[IllegalArgumentException] {
      Lake.renameColumn(spark, out, "ts", "event_ts")
    }
    assert(eRename.getMessage.contains("transform source"))
    val eParse = intercept[IllegalArgumentException] {
      Lake.evolveLayout(spark, out, Seq("weeks(ts)"))
    }
    assert(eParse.getMessage.contains("unparseable layout field"))
  }

  test("z-order compaction: two-column predicates prune more files than a linear sort") {
    // a 64x64 grid: x and y independent, so a 1-D sort can only tighten
    // ONE dimension's per-file ranges
    def grid() = spark.range(4096).select(
      (col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"),
      concat(lit("cell "), col("id")).as("payload"), lit("train").as("split"))
      .repartition(16)
    val outZ = freshDir("lake-zorder")
    val outL = freshDir("lake-linear")
    Lake.init(spark, grid(), outZ, Seq("split"))
    Lake.init(spark, grid(), outL, Seq("split"))
    Pipeline.compactLake(spark, outZ, maxFilesPerPartition = 1,
      targetRowsPerFile = 256L, partitionCols = Seq("split"),
      zorderCols = Seq("x", "y"), retainHistory = true)
    Pipeline.compactLake(spark, outL, maxFilesPerPartition = 1,
      targetRowsPerFile = 256L, partitionCols = Seq("split"),
      sortCols = Seq("x"), retainHistory = true)
    val stZ = Lake.latestManifest(spark, outZ).get
    val stL = Lake.latestManifest(spark, outL).get
    assert(stZ.files.size > 4 && stL.files.size > 4,
      s"both layouts must bin-pack to many files, got ${stZ.files.size}/${stL.files.size}")
    // a predicate on the NON-sort dimension: the linear layout keeps
    // everything (every file spans all of y), the z-order layout keeps
    // only the files whose rectangle overlaps the y-band
    def kept(st: Lake.LakeState, c: String, lo: Long, hi: Long) =
      Lake.pruneByStats(st, c, org.apache.spark.sql.types.LongType, lo, hi)
    // backfill y stats on the linear lake so the comparison is honest:
    // its files genuinely SPAN all of y (not merely lack the stat)
    Lake.analyzeStats(spark, outL, Seq("y"))
    val stL1 = Lake.latestManifest(spark, outL).get
    val zY = kept(stZ, "y", 8L, 15L)
    val lY = kept(stL1, "y", 8L, 15L)
    assert(lY.size == stL1.files.size,
      "a linear x-sort cannot prune a y-band")
    assert(zY.size < stZ.files.size,
      s"z-order must prune a y-band, kept ${zY.size}/${stZ.files.size}")
    // the two-column box compound-prunes at least as well as either axis
    val zBox = Lake.pruneByStats(stZ, Seq(
      Lake.ColBound("x", org.apache.spark.sql.types.LongType, 8L, 15L),
      Lake.ColBound("y", org.apache.spark.sql.types.LongType, 8L, 15L)))
    assert(zBox.size <= zY.size && zBox.size < stZ.files.size)
    // no row loss: the pruned set still holds the whole box
    val boxRows = spark.read.option("basePath", outZ)
      .parquet(zBox.map(f => s"$outZ/$f"): _*)
      .filter(col("x").between(8, 15) && col("y").between(8, 15)).count()
    assert(boxRows == 64L, s"the box must keep all 64 grid cells, got $boxRows")
    // CALL surface: zorder rides the compact procedure (lake addressed
    // by absolute path — no warehouse needed)
    spark.conf.set("spark.sql.catalog.graft_lake", "graft.sources.lake.LakeCatalog")
    org.apache.spark.sql.graft.ColumnBridge.resetCatalogManager(spark)
    spark.sql(s"CALL graft_lake.system.compact(table => '$outL', " +
      "target_rows_per_file => 256, zorder => 'x,y')").collect()
    val stL2 = Lake.latestManifest(spark, outL).get
    assert(kept(stL2, "y", 8L, 15L).size < stL2.files.size,
      "CALL compact(zorder) must produce a y-prunable layout")
    // guard rails
    val eDim = intercept[IllegalArgumentException] {
      Pipeline.compactLake(spark, outZ, partitionCols = Seq("split"),
        zorderCols = Seq("x"))
    }
    assert(eDim.getMessage.contains("2-4 dimensions"))
    val eBoth = intercept[IllegalArgumentException] {
      Pipeline.compactLake(spark, outZ, partitionCols = Seq("split"),
        sortCols = Seq("x"), zorderCols = Seq("x", "y"))
    }
    assert(eBoth.getMessage.contains("alternative"))

    // N-DIMENSIONAL interleave (Delta ZORDER BY takes many columns): a
    // 16^3 cube z-ordered on (x, y, z) prunes a band on the LAST
    // dimension too — every file covers a small cube, not a slab
    def cube() = spark.range(4096).select(
      (col("id") % 16).as("x"), ((col("id") / 16) % 16).cast("long").as("y"),
      (col("id") / 256).cast("long").as("z"), lit("train").as("split"))
      .repartition(16)
    val out3 = freshDir("lake-zorder3")
    Lake.init(spark, cube(), out3, Seq("split"))
    Pipeline.compactLake(spark, out3, maxFilesPerPartition = 1,
      targetRowsPerFile = 256L, partitionCols = Seq("split"),
      zorderCols = Seq("x", "y", "z"), retainHistory = true)
    val st3 = Lake.latestManifest(spark, out3).get
    assert(st3.files.size > 4)
    val zBand3 = kept(st3, "z", 4L, 7L)
    assert(zBand3.size < st3.files.size,
      s"3-D z-order must prune a z-band, kept ${zBand3.size}/${st3.files.size}")
    val band3Rows = spark.read.option("basePath", out3)
      .parquet(zBand3.map(f => s"$out3/$f"): _*)
      .filter(col("z").between(4, 7)).count()
    assert(band3Rows == 1024L, s"no row loss in the z-band, got $band3Rows")
  }

  test("z-order on a zipf-skewed dimension: quantile buckets keep a dense band prunable where equal width would collapse") {
    // y is log-uniform over {1, 2, 4, ..., 32768}: half the corpus sits
    // below 1/256 of the VALUE range, so 2^8 equal-width buckets would
    // put it all in bucket 0 — every file would span the dense region
    // and a dense-band predicate could prune nothing. Quantile
    // boundaries spread the mass by RANK instead.
    def skewed() = spark.range(4096).select(
      (col("id") % 64).as("x"),
      expr("CAST(shiftleft(1L, CAST(id / 256 AS INT)) AS LONG)").as("y"),
      lit("train").as("split"))
      .repartition(16)
    val out = freshDir("lake-zorder-zipf")
    Lake.init(spark, skewed(), out, Seq("split"))
    // 64-row files: fine enough z-granularity that each file's Morton
    // window resolves ~2 bits of each dimension's bucket space
    Pipeline.compactLake(spark, out, maxFilesPerPartition = 1,
      targetRowsPerFile = 64L, partitionCols = Seq("split"),
      zorderCols = Seq("x", "y"), retainHistory = true)
    val st = Lake.latestManifest(spark, out).get
    assert(st.files.size > 16, s"must bin-pack to many files, got ${st.files.size}")
    // the DENSE low band (y in [1, 2]: 512 rows, 1/8 of the corpus but
    // ~0.006% of the value range) prunes comparably to a uniform band
    val dense = Lake.pruneByStats(st, "y",
      org.apache.spark.sql.types.LongType, 1L, 2L)
    assert(dense.size * 2 <= st.files.size,
      s"quantile z-order must keep a dense band prunable, kept ${dense.size}/${st.files.size}")
    // and the sparse high tail prunes too
    val tail = Lake.pruneByStats(st, "y",
      org.apache.spark.sql.types.LongType, 16384L, 32768L)
    assert(tail.size * 2 <= st.files.size,
      s"the tail band must prune, kept ${tail.size}/${st.files.size}")
    // no row loss through either pruned set
    val denseRows = spark.read.option("basePath", out)
      .parquet(dense.map(f => s"$out/$f"): _*)
      .filter(col("y").between(1L, 2L)).count()
    assert(denseRows == 512L, s"the dense band must keep all its rows, got $denseRows")
    val tailRows = spark.read.option("basePath", out)
      .parquet(tail.map(f => s"$out/$f"): _*)
      .filter(col("y").between(16384L, 32768L)).count()
    assert(tailRows == 512L, s"the tail band must keep all its rows, got $tailRows")
  }

  test("onlyFilesSmallerThan compaction rewrites just the small-file tail; big files stay byte-identical") {
    val out = freshDir("lake-optimize")
    def docs(ids: Range) = ids.map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("train").as("split"),
        lit(0).cast("int").as("shard_id"))
    Lake.init(spark, docs(0 until 2000).coalesce(1), out, Seq("split", "shard_id")) // one BIG file
    (0 until 3).foreach(k =>
      Pipeline.appendToLake(spark, out, docs(2000 + 3 * k until 2003 + 3 * k)))     // small tail
    val st0 = Lake.currentState(spark, out)
    val root = new org.apache.hadoop.fs.Path(out)
    val hfs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val q = hfs.makeQualified(root)
    def sizeOf(f: String) = hfs.getFileStatus(new org.apache.hadoop.fs.Path(q, f)).getLen
    val bigFile = st0.files.maxBy(sizeOf)
    assert(st0.files.size >= 4 && sizeOf(bigFile) > 4096,
      s"fixture needs one big file and a small tail, got ${st0.files.map(sizeOf)}")
    Pipeline.compactLake(spark, out, maxFilesPerPartition = 1,
      targetRowsPerFile = 100000L, retainHistory = true,
      onlyFilesSmallerThan = Some(4096L))                                            // OPTIMIZE shape
    val st1 = Lake.currentState(spark, out)
    assert(st1.files.contains(bigFile),
      "the over-threshold file must stay byte-identical — not rewritten")
    assert(st1.files.size == 2,
      s"the small tail must pack into one file beside the big one, got ${st1.files}")
    assert(ids(Lake.read(spark, out)) == (0L until 2009L).toSet,
      "the partial rewrite must preserve every row")
    // a DV on the big file forces it into scope regardless of size —
    // compaction is where tombstones materialize
    Pipeline.deleteFromLakeSparse(spark, out, Seq(5L).toDF("doc_id"), "doc_id")
    Pipeline.compactLake(spark, out, maxFilesPerPartition = 1,
      targetRowsPerFile = 100000L, retainHistory = true,
      onlyFilesSmallerThan = Some(4096L))
    val st2 = Lake.currentState(spark, out)
    assert(!st2.files.contains(bigFile) && st2.dvs.isEmpty,
      "a DV'd file rewrites whatever its size, materializing the tombstone")
    assert(ids(Lake.read(spark, out)) == (0L until 2009L).toSet - 5L)
  }

  test("manifest-counted unsorted compaction plans with zero census scans; DV scopes census honestly") {
    val out = freshDir("lake-census-free")
    Lake.init(spark, fixture(), out, Seq("split", "shard_id"))              // counted
    Pipeline.appendToLake(spark, out, spark.range(40, 60).select(
      col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
      lit("train").as("split"), (col("id") % 2).cast("int").as("shard_id")))
    val frag = Lake.currentState(spark, out)
    assert(frag.files.size > 4, "the lake must be fragmented before compaction")
    // every file counted, no DVs -> the group map AND the audit
    // expectation both come from the manifest; the corpus is read
    // exactly once (the rewrite) — zero census scans
    val before = Pipeline.censusReads.get()
    Pipeline.compactLake(spark, out, maxFilesPerPartition = 1,
      targetRowsPerFile = 1000L, retainHistory = true)
    assert(Pipeline.censusReads.get() == before,
      "a counted DV-free lake must compact without a census scan")
    val st = Lake.currentState(spark, out)
    assert(ids(Lake.read(spark, out)) == (0L until 60L).toSet,
      "the census-free compaction must preserve every row")
    assert(st.files.groupBy(f => f.take(f.lastIndexOf('/'))).values
      .forall(_.size == 1), "bin-packing must land one file per partition")
    // a DV-bearing scope cannot trust per-file counts — the honest
    // census runs (and the tombstoned row stays gone)
    Pipeline.deleteFromLakeSparse(spark, out, Seq(3L).toDF("doc_id"), "doc_id")
    val before2 = Pipeline.censusReads.get()
    Pipeline.compactLake(spark, out, maxFilesPerPartition = 1,
      targetRowsPerFile = 1000L, retainHistory = true)
    assert(Pipeline.censusReads.get() == before2 + 1,
      "a DV-bearing scope must fall back to the census")
    assert(ids(Lake.read(spark, out)) == (0L until 60L).toSet - 3L)
  }

  test("bloom file skipping: per-file parquet blooms prune merge keys min/max stats cannot") {
    val out = freshDir("lake-bloom")
    // ids INTERLEAVED across files (residue classes): every file spans
    // the whole id range, so min/max stats keep everything — exactly
    // the blind spot the per-file blooms close
    def interleaved(ids: Range) = spark.range(ids.start, ids.end).select(
      col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
      lit("train").as("split"))
      .repartition(8, pmod(col("id"), lit(8)))
    Lake.init(spark, interleaved(0 until 4000), out, Seq("split"),
      bloomCols = Seq("doc_id"))                                               // v1
    val st = Lake.latestManifest(spark, out).get
    assert(st.bloomCols == Seq("doc_id"), "init must record the bloom column set")
    // min/max alone cannot prune the interleaved layout
    val statKept = Lake.pruneByStats(st, "doc_id",
      org.apache.spark.sql.types.LongType, 8L, 9L)
    assert(statKept.size == st.files.size,
      s"interleaved ranges must defeat min/max pruning, kept ${statKept.size}/${st.files.size}")
    // the bloom probe keeps only the files actually holding the keys
    // (ids 8 and 9 live in the residue-0 and residue-1 files)
    val bloomKept = Lake.pruneByBloom(spark, out, st, statKept, "doc_id",
      Array(8L, 9L))
    assert(bloomKept.nonEmpty && bloomKept.size < st.files.size,
      s"blooms must prune interleaved files, kept ${bloomKept.size}/${st.files.size}")
    val back = spark.read.option("basePath", out)
      .parquet(bloomKept.map(f => s"$out/$f"): _*)
    assert(back.filter(col("doc_id").isin(8L, 9L)).count() == 2,
      "bloom pruning must lose no matching rows")
    // END-TO-END: the sparse merge routes through the bloom gate and
    // still produces the exact post-merge corpus
    val updates = spark.range(8, 10).select(col("id").as("doc_id"),
      concat(lit("UPDATED "), col("id")).as("text"), lit("train").as("split"))
      .unionByName(spark.range(9000, 9002).select(col("id").as("doc_id"),
        concat(lit("new "), col("id")).as("text"), lit("train").as("split")))
    Pipeline.mergeIntoLakeSparse(spark, out, updates, idCol = "doc_id")        // v2
    val merged = Lake.read(spark, out)
    assert(merged.count() == 4002)
    assert(merged.filter(col("doc_id") === 8L).select("text").head.getString(0)
      == "UPDATED 8")
    assert(ids(merged).contains(9000L) && ids(merged).contains(9001L))
    // PROGRESSIVE adoption: a bloom-less lake opts in via ONE metadata
    // commit; pre-setting files lack blooms and always KEEP
    // (exactness-preserving), post-setting writes carry them
    val out2 = freshDir("lake-bloom-adopt")
    Lake.init(spark, interleaved(0 until 2000), out2, Seq("split"))            // v1
    spark.conf.set("spark.sql.catalog.graft_lake", "graft.sources.lake.LakeCatalog")
    org.apache.spark.sql.graft.ColumnBridge.resetCatalogManager(spark)
    val callRow = spark.sql("CALL graft_lake.system.set_bloom_cols(" +
      s"table => '$out2', columns => 'doc_id')").collect()(0)                  // v2
    assert(callRow.getAs[String]("bloom_cols") == "doc_id",
      "CALL set_bloom_cols must report the recorded set")
    val st2a = Lake.latestManifest(spark, out2).get
    assert(st2a.bloomCols == Seq("doc_id") &&
      st2a.files == Lake.stateAt(spark, out2, 1L).files,
      "setBloomCols must be a metadata commit")
    Pipeline.appendToLake(spark, out2, interleaved(20000 until 22000))         // v3
    val st2 = Lake.latestManifest(spark, out2).get
    val oldFiles = Lake.stateAt(spark, out2, 1L).files.toSet
    assert(st2.files.size > oldFiles.size, "the append must add files")
    // probe a PRE-setting id: the bloom-less old files keep (unknown is
    // kept), the bloomed appended files prune (8 is provably absent)
    val kept2 = Lake.pruneByBloom(spark, out2, st2, st2.files, "doc_id",
      Array(8L))
    assert(oldFiles.subsetOf(kept2.toSet),
      "pre-setting files have no blooms and must keep")
    assert(kept2.toSet == oldFiles,
      s"post-setting files must prune by their blooms, kept ${kept2.size}/${st2.files.size}")
    // READ-side consultation: an equality WHERE-delete on the bloomed
    // key routes through bloomPruneBounds (point-lookup file skip) and
    // still lands exactly
    Pipeline.deleteFromLakeSparseWhere(spark, out2, col("doc_id") === 21000L)  // v4
    assert(Lake.read(spark, out2).count() == 3999 &&
      !ids(Lake.read(spark, out2)).contains(21000L),
      "the equality delete must remove exactly its row through the bloom gate")
    // IN-LISTS probe DISJUNCTIVELY (a file keeps iff ANY listed value
    // might be present): the candidates for an IN on the bloomed key
    // are exactly the files holding any listed id, and the delete lands
    val stIn = Lake.latestManifest(spark, out).get
    val inCands = Pipeline.sparseWhereCandidates(spark, out, stIn,
      col("doc_id").isin(100L, 101L))
    assert(inCands.nonEmpty && inCands.size < stIn.files.size,
      s"an IN on the bloomed key must file-skip, kept ${inCands.size}/${stIn.files.size}")
    Pipeline.deleteFromLakeSparseWhere(spark, out, col("doc_id").isin(100L, 101L))
    val postIn = ids(Lake.read(spark, out))
    assert(!postIn.contains(100L) && !postIn.contains(101L) && postIn.size == 4000,
      "the IN delete must remove exactly its rows through the bloom gate")
    // the bound-extraction unit contract: an optimizer-converted InSet
    // contributes one [min, max] stats bound (conjunction-safe) plus
    // its value list for the bloom probe; null members drop
    locally {
      import org.apache.spark.sql.catalyst.expressions.{AttributeReference, InSet}
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val schemaU = StructType(Seq(StructField("doc_id", LongType)))
      val attr = AttributeReference("doc_id", LongType)()
      val (bs, ins) = org.apache.spark.sql.graft.LakeStatPruning
        .boundsAndInsFrom(schemaU, Seq(InSet(attr, Set[Any](9L, 1L, null, 5L))))
      assert(bs == Seq(Lake.ColBound("doc_id", LongType, 1L, 9L)),
        s"an InSet must contribute its [min, max] envelope, got $bs")
      assert(ins.map { case (c, vs) => (c, vs.toSet) } ==
        Seq("doc_id" -> Set[Any](1L, 5L, 9L)),
        s"an InSet must contribute its non-null values for bloom probing, got $ins")
    }
    // guard rails: unknown and non-key-typed columns refuse
    val eCol = intercept[IllegalArgumentException] {
      Lake.setBloomCols(spark, out2, Seq("nope"))
    }
    assert(eCol.getMessage.contains("not in the schema"))
    val eTypeB = intercept[IllegalArgumentException] {
      Lake.init(spark,
        interleaved(0 until 10).withColumn("score", col("doc_id").cast("double")),
        freshDir("lake-bloom-badtype"), Seq("split"), bloomCols = Seq("score"))
    }
    assert(eTypeB.getMessage.contains("integral or string"))
  }

  test("join-shaped bloom probe: above the broadcast cap the keys never visit the driver and still prune") {
    spark.conf.set("spark.graft.lake.bloom.probeMaxKeys", "8")
    try {
      val out = freshDir("lake-bloom-join")
      // interleaved residues again: min/max keeps everything, blooms decide
      def interleaved(ids: Range) = spark.range(ids.start, ids.end).select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit("train").as("split"))
        .repartition(8, pmod(col("id"), lit(8)))
      Lake.init(spark, interleaved(0 until 4000), out, Seq("split"),
        bloomCols = Seq("doc_id"))                                             // v1
      val st = Lake.latestManifest(spark, out).get
      // 20 keys > the (lowered) cap, all residue-0/1: the gate must take
      // the join path and keep only the two matching files
      val keys = spark.range(20).select((col("id") * 8 + col("id") % 2).as("doc_id"))
      val before = Lake.bloomJoinProbes.get()
      val kept = Lake.bloomPrune(spark, out, st, st.files, "doc_id", keys, 20L)
      assert(Lake.bloomJoinProbes.get() > before,
        "a key set above the cap must probe join-shaped, never collect")
      assert(kept.nonEmpty && kept.size <= 2 + 1, // fpp leaves ~0 false keeps
        s"the join probe must keep only the residue-0/1 files, kept ${kept.size}/${st.files.size}")
      // NO FALSE NEGATIVES: every probe key's row survives in the kept set
      val keyVals = keys.collect().map(_.getLong(0)).filter(_ < 4000)
      val back = spark.read.option("basePath", out)
        .parquet(kept.map(f => s"$out/$f"): _*)
      assert(back.filter(col("doc_id").isInCollection(keyVals)).count() == keyVals.length,
        "the join probe must lose no matching rows")
      // END-TO-END: a sparse merge above the cap routes through the join
      // probe and produces the exact post-merge corpus
      val updates = spark.range(16).select((col("id") * 16).as("doc_id"),
        concat(lit("UPDATED "), col("id") * 16).as("text"), lit("train").as("split"))
      Pipeline.mergeIntoLakeSparse(spark, out, updates, idCol = "doc_id")      // v2
      val merged = Lake.read(spark, out)
      assert(merged.count() == 4000)
      assert(merged.filter(col("text").startsWith("UPDATED")).count() == 16,
        "the above-cap merge must update exactly its rows")
      // null-only key sets stay conservative (null matches nothing; the
      // probe cannot prove absence, so candidates pass through)
      val nulls = spark.range(20).select(lit(null).cast("long").as("doc_id"))
      assert(Lake.bloomPrune(spark, out, st, st.files, "doc_id", nulls, 20L)
        == st.files, "null-only keys must keep every candidate")
      // the COLLECT ceiling is broadcast-sized INDEPENDENTLY of the chunk
      // size: with probeMaxKeys back at default, a key set above
      // collectMaxKeys still never visits the driver raw — and the join
      // probe renders the same verdicts as the broadcast probe
      spark.conf.unset("spark.graft.lake.bloom.probeMaxKeys")
      spark.conf.set("spark.graft.lake.bloom.collectMaxKeys", "4")
      val before2 = Lake.bloomJoinProbes.get()
      val kept2 = Lake.bloomPrune(spark, out, st, st.files, "doc_id", keys, 20L)
      assert(Lake.bloomJoinProbes.get() > before2,
        "a key set above the collect ceiling must take the join path")
      assert(kept2 == kept, "both probe shapes must render identical verdicts")
    } finally {
      spark.conf.unset("spark.graft.lake.bloom.probeMaxKeys")
      spark.conf.unset("spark.graft.lake.bloom.collectMaxKeys")
    }
  }

  test("lazy-stats resolution: the driver never materializes checkpoint stats; the job-judged prune equals eager; checkpoints never shed stats") {
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "8")
    try {
      val out = freshDir("lake-lazy")
      def batch(ids: Range) = spark.range(ids.start, ids.end).select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit("train").as("split"))
      Lake.init(spark, batch(0 until 400)
        .repartitionByRange(4, col("doc_id")).sortWithinPartitions("doc_id"),
        out, Seq("split"))                                                   // v1: 4 clustered files
      (1 to 9).foreach(i => Pipeline.appendToLake(spark, out,
        batch(1000 * i until 1000 * i + 10), partitionCols = Seq("split")))  // v2..v10: columnar checkpoint
      Pipeline.appendToLake(spark, out, batch(20000 until 20010),
        partitionCols = Seq("split"))                                        // v11: tail past the checkpoint
      val bounds = Seq(Lake.ColBound("doc_id",
        org.apache.spark.sql.types.LongType, 150L, 250L))
      // EAGER baseline (explicit opt-out — lazy is the default above the
      // columnar threshold)
      spark.conf.set(Lake.LazyStatsKey, "false")
      Lake.invalidateStateCache()
      val eagerSt = Lake.latestManifest(spark, out).get
      assert(eagerSt.cpLazy.isEmpty)
      val eagerKept = Lake.pruneByStats(eagerSt, bounds)
      assert(eagerKept.nonEmpty && eagerKept.size < eagerSt.files.size,
        s"the clustered fixture must prune, kept ${eagerKept.size}/${eagerSt.files.size}")
      // LAZY: checkpoint files' stats never visit the driver...
      spark.conf.set(Lake.LazyStatsKey, "true")
      Lake.invalidateStateCache()
      val lazySt = Lake.latestManifest(spark, out).get
      assert(lazySt.cpLazy.isDefined, "lazy resolution must mark the state")
      assert(lazySt.stats.keySet.subsetOf(lazySt.cpLazy.get.tailAdded),
        "the driver may hold stats only for tail-added files")
      assert(lazySt.files == eagerSt.files && lazySt.dvs == eagerSt.dvs,
        "everything except the stats map resolves identically")
      // ...and the job-judged prune equals the eager prune, file for file
      assert(Lake.pruneByStats(lazySt, bounds) == eagerKept,
        "the entries-job prune must equal the eager driver prune")
      val rows = spark.read.option("basePath", out)
        .parquet(eagerKept.map(f => s"$out/$f"): _*)
        .filter(col("doc_id").between(150L, 250L)).count()
      assert(rows == 101L, "no row loss through the lazy-pruned set")
      // END-TO-END: the DSv2 SQL read plans through the lazy state (its
      // pushed filters route the same pruneByStats) and stays exact
      assert(spark.read.format("graft-lake").load(out)
        .filter(col("doc_id").between(150L, 250L)).count() == 101L,
        "the DSv2 read under lazy resolution must lose nothing")
      // a tail RESTATE moves those files to driver judgment; under lazy
      // their checkpoint stats are not held, so pruning DEGRADES to
      // keep (conservative, never wrong) until the next checkpoint
      Lake.analyzeStats(spark, out, Seq("text"))                             // v12: restates all files
      Lake.invalidateStateCache()
      val lazyKept2 = Lake.pruneByStats(Lake.latestManifest(spark, out).get, bounds)
      assert(eagerKept.toSet.subsetOf(lazyKept2.toSet),
        "post-restate lazy pruning must stay exactness-preserving")
      // the NEXT interval checkpoint folds from a LAZY state — the
      // INCREMENTAL write derives the new entries from the old ones in a
      // job (keep live, merge the v12 text restate per column, append
      // the tail), so v20's checkpoint still carries the v1 files' stats
      // (a silent shed would be permanent) with zero driver stats
      val incBefore = Lake.checkpointIncrementalWrites.get()
      (1 to 8).foreach(i => Pipeline.appendToLake(spark, out,
        batch(30000 + 10 * i until 30000 + 10 * i + 5),
        partitionCols = Seq("split")))                                       // v13..v20
      assert(Lake.checkpointIncrementalWrites.get() == incBefore + 1,
        "a checkpoint folded from a lazy state must write incrementally")
      spark.conf.set(Lake.LazyStatsKey, "false")
      Lake.invalidateStateCache()
      val st20 = Lake.stateAt(spark, out, 20L)
      val v1Files = Lake.stateAt(spark, out, 1L).files
      val log20 = new java.io.File(out, Lake.LogDirName).listFiles
        .filter(_.getName.endsWith(".checkpoint")).map(_.getName).toSeq
      assert(v1Files.forall(f => st20.stats.get(f).exists(_.exists(_.col == "doc_id"))),
        s"the v20 checkpoint must carry the v1 files' stats — the lazy-write guard; " +
          s"checkpoints=$log20 sample=${v1Files.headOption.map(f =>
            f -> st20.stats.getOrElse(f, Seq.empty).map(_.col))}")
      assert(v1Files.forall(f => st20.stats.get(f).exists(_.exists(_.col == "text"))),
        "the v12 text restate must survive the incremental merge alongside doc_id")
      assert(Lake.read(spark, out).count() == 400 + 90 + 10 + 40)
    } finally {
      spark.conf.unset(Lake.LazyStatsKey)
      spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
    }
  }

  test("lazy-stats pricing parity: default-lazy resolution keeps exact #rows/#bytes numbers and census-free compaction") {
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "8")
    try {
      val out = freshDir("lake-lazy-price")
      def batch(ids: Range) = spark.range(ids.start, ids.end).select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit("train").as("split"))
      Lake.init(spark, batch(0 until 400)
        .repartitionByRange(4, col("doc_id")).sortWithinPartitions("doc_id"),
        out, Seq("split"))                                                   // v1
      (1 to 9).foreach(i => Pipeline.appendToLake(spark, out,
        batch(1000 * i until 1000 * i + 10), partitionCols = Seq("split")))  // v2..v10: columnar cp
      Pipeline.appendToLake(spark, out, batch(20000 until 20010),
        partitionCols = Seq("split"))                                        // v11: tail delta
      // EAGER truth
      spark.conf.set(Lake.LazyStatsKey, "false")
      Lake.invalidateStateCache()
      val eagerSt = Lake.latestManifest(spark, out).get
      val totalsE = Lake.reservedTotals(spark, eagerSt, eagerSt.files)
      val perFileE = Lake.reservedPerFile(spark, eagerSt, eagerSt.files)
      assert(totalsE._1.contains(400L + 90L + 10L) && totalsE._3.isEmpty,
        s"the fixture must be fully counted and sized, got $totalsE")
      // DEFAULT resolution at this scale is LAZY — and every pricing
      // number matches the eager truth exactly (aggregated in a job over
      // the checkpoint entries, never materialized on the driver)
      spark.conf.unset(Lake.LazyStatsKey)
      Lake.invalidateStateCache()
      val lazySt = Lake.latestManifest(spark, out).get
      assert(lazySt.cpLazy.isDefined, "default resolution above the threshold must be lazy")
      // WHOLE-TABLE pricing (the DSv2 sizeInBytes shape) answers from
      // the checkpoint's per-directory reserved SUMS — zero entries jobs
      val priceJobs0 = Lake.lazyPriceJobs.get()
      assert(Lake.reservedTotals(spark, lazySt, lazySt.files) == totalsE,
        "lazy totals must equal the eager sums")
      assert(Lake.lazyPriceJobs.get() == priceJobs0,
        "whole-table pricing on a restate-free lazy lake must launch ZERO jobs")
      assert(Lake.reservedPerFile(spark, lazySt, lazySt.files) == perFileE,
        "lazy per-file reserved stats must equal eager")
      // subset requests mix driver-judged (tail) and job-judged files —
      // partial coverage cannot use the dir sums, so the job runs
      val subset = lazySt.files.filterNot(lazySt.cpLazy.get.tailAdded).take(3) ++
        lazySt.cpLazy.get.tailAdded.take(1)
      val priceJobs1 = Lake.lazyPriceJobs.get()
      assert(Lake.reservedTotals(spark, lazySt, subset) ==
        Lake.reservedTotals(spark, eagerSt, subset))
      assert(Lake.lazyPriceJobs.get() == priceJobs1 + 1,
        "a partial request must aggregate in the entries job")
      // byte-target sizing input (compaction's bytes/row conversion)
      assert(Lake.fileBytes(spark, out, lazySt.files, lazySt) ==
        Lake.fileBytes(spark, out, eagerSt.files, eagerSt))
      // the DSv2 scan's broadcast pricing: sizeInBytes under lazy equals
      // eager (recorded add.size, zero per-plan filesystem stats)
      // census-free compaction stays census-free under the default: the
      // manifest expectation and per-directory groups come from the same
      // entries job, so the compaction reads the corpus exactly once
      val before = Pipeline.censusReads.get()
      Pipeline.compactLake(spark, out, partitionCols = Seq("split"),
        maxFilesPerPartition = 2)                                            // v12
      assert(Pipeline.censusReads.get() == before,
        "a counted, DV-free lazy lake must compact with ZERO census jobs")
      val after = Lake.read(spark, out)
      assert(after.count() == 500 && after.select(sum("doc_id")).head.getLong(0) ==
        (0L until 400L).sum + (1 to 9).map(i => (1000L * i until 1000L * i + 10).sum).sum +
          (20000L until 20010L).sum,
        "compaction under lazy pricing must lose nothing")
    } finally {
      spark.conf.unset(Lake.LazyStatsKey)
      spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
    }
  }

  test("tail add-then-remove churn keeps directory reserved sums: pricing stays zero-job through a small-file compaction and its checkpoint") {
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "8")
    try {
      val out = freshDir("lake-churn-price")
      def batch(ids: Range) = spark.range(ids.start, ids.end).select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit("train").as("split"))
      Lake.init(spark, batch(0 until 2000)
        .repartitionByRange(2, col("doc_id")).sortWithinPartitions("doc_id"),
        out, Seq("split"))                                                   // v1
      (1 to 9).foreach(i => Pipeline.appendToLake(spark, out,
        batch(10000 * i until 10000 * i + 500),
        partitionCols = Seq("split")))                                       // v2..v10: columnar cp
      (10 to 12).foreach(i => Pipeline.appendToLake(spark, out,
        batch(10000 * i until 10000 * i + 10),
        partitionCols = Seq("split")))                                       // v11..v13: small tail
      Lake.invalidateStateCache()
      val st0 = Lake.latestManifest(spark, out).get
      assert(st0.cpLazy.isDefined)
      val tail0 = st0.cpLazy.get.tailAdded
      val per = Lake.reservedPerFile(spark, st0, st0.files)
      val residentMin = st0.files.filterNot(tail0).map(f => per(f)._2.get).min
      val tailMax = st0.files.filter(tail0).map(f => per(f)._2.get).max
      assert(tailMax < residentMin,
        s"fixture needs the tail files strictly smaller, got tail<=$tailMax resident>=$residentMin")
      // small-file compaction: ONLY the tail-added files rewrite (the
      // residents sit above the byte threshold) — the commit removes
      // files that never contributed to the checkpoint's dir sums
      Pipeline.compactLake(spark, out, partitionCols = Seq("split"),
        maxFilesPerPartition = 2, onlyFilesSmallerThan = Some(residentMin))  // v14
      Lake.invalidateStateCache()
      val st = Lake.latestManifest(spark, out).get
      assert(st.cpLazy.isDefined)
      assert(st.cpLazy.get.tailRemoved.isEmpty,
        "removals of TAIL-ADDED files must never enter tailRemoved — they were " +
          "never checkpoint residents and cannot invalidate a directory's sums")
      val total = 2000L + 9 * 500L + 3 * 10L
      val jobs0 = Lake.lazyPriceJobs.get()
      val totals = Lake.reservedTotals(spark, st, st.files)
      assert(totals._1.contains(total) && totals._3.isEmpty,
        s"whole-table pricing must stay exact through the churn, got $totals")
      assert(Lake.lazyPriceJobs.get() == jobs0,
        "tail churn in a resident directory must not demote pricing to the entries job")
      // the INCREMENTAL checkpoint folds the same sums forward: prior
      // dir sum + the replacement tail file, no invalidation
      Lake.checkpointNow(spark, out)
      Lake.invalidateStateCache()
      val st2 = Lake.latestManifest(spark, out).get
      val jobs1 = Lake.lazyPriceJobs.get()
      assert(Lake.reservedTotals(spark, st2, st2.files)._1.contains(total))
      assert(Lake.lazyPriceJobs.get() == jobs1,
        "the folded checkpoint must keep whole-table pricing zero-job")
      assert(Lake.read(spark, out).count() == total)
    } finally {
      spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
    }
  }

  test("zero-job pricing survives analyzeStats: the next incremental checkpoint folds the restates in") {
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "8")
    try {
      val out = freshDir("lake-analyze-price")
      def batch(ids: Range, split: String) = spark.range(ids.start, ids.end).select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit(split).as("split"))
      Lake.init(spark, batch(0 until 200, "train")
        .unionByName(batch(200 until 400, "test")), out, Seq("split"))       // v1
      (1 to 9).foreach(i => Pipeline.appendToLake(spark, out,
        batch(1000 * i until 1000 * i + 10, if (i % 2 == 0) "train" else "test"),
        partitionCols = Seq("split")))                                       // v2..v10: columnar cp
      Lake.invalidateStateCache()
      val st0 = Lake.latestManifest(spark, out).get
      assert(st0.cpLazy.isDefined)
      val total = 400L + 9 * 10L
      val jobsA = Lake.lazyPriceJobs.get()
      assert(Lake.reservedTotals(spark, st0, st0.files)._1.contains(total))
      assert(Lake.lazyPriceJobs.get() == jobsA, "baseline: restate-free pricing is zero-job")
      // a SCOPED stats backfill restates some residents — pricing stays
      // exact but must consult the entries (the restated rows shadow the
      // checkpoint's) until a checkpoint folds them in
      Lake.analyzeStats(spark, out, Seq("text"), scopeDirs = Seq("split=train")) // v11
      Lake.invalidateStateCache()
      val st1 = Lake.latestManifest(spark, out).get
      assert(st1.stats.nonEmpty, "the restates must be driver-resident on the lazy state")
      val jobsB = Lake.lazyPriceJobs.get()
      assert(Lake.reservedTotals(spark, st1, st1.files)._1.contains(total),
        "pricing must stay exact across the restate")
      assert(Lake.lazyPriceJobs.get() == jobsB + 1,
        "a restated lazy lake prices through the entries job (membership is muddied)")
      // the incremental checkpoint merges the restates into the entries
      // AND keeps the directory sums — the zero-job path comes back
      Lake.checkpointNow(spark, out)                                         // checkpoint at v11
      Lake.invalidateStateCache()
      val st2 = Lake.latestManifest(spark, out).get
      assert(st2.cpLazy.isDefined && st2.stats.isEmpty)
      val jobsC = Lake.lazyPriceJobs.get()
      assert(Lake.reservedTotals(spark, st2, st2.files)._1.contains(total))
      assert(Lake.lazyPriceJobs.get() == jobsC,
        "whole-table pricing must be zero-job again after the post-analyze checkpoint")
      // and the backfilled column prunes: the fold union'd it into the
      // SC census and merged the per-file rows executor-side
      assert(st2.cpLazy.get.statCols.exists(_.contains("text")))
    } finally {
      spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
    }
  }

  test("two-level pruning: a partition-banded predicate prunes a lazy lake with ZERO entries jobs") {
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "8")
    try {
      val out = freshDir("lake-twolevel")
      def batch(ids: Range, split: String) = spark.range(ids.start, ids.end).select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit(split).as("split"))
      Lake.init(spark, batch(0 until 100, "train")
        .unionByName(batch(100 until 200, "test")), out, Seq("split"))       // v1
      (1 to 9).foreach(i => Pipeline.appendToLake(spark, out,
        batch(1000 * i until 1000 * i + 10, if (i % 2 == 0) "train" else "test"),
        partitionCols = Seq("split")))                                      // v2..v10: columnar cp
      Lake.invalidateStateCache()
      val st = Lake.latestManifest(spark, out).get
      assert(st.cpLazy.isDefined, "the fixture must resolve lazily by default")
      val sc = st.cpLazy.get.statCols
      assert(sc.exists(_.contains("doc_id")) && sc.exists(!_.contains("split")),
        s"the stub's SC census must list data stat columns and exclude path levels, got $sc")
      // PARTITION-banded predicate: the census proves the entries carry
      // no 'split' stats, so the paths decide alone — zero jobs, and the
      // kept set is exactly the matching directory's files
      val jobsBefore = Lake.lazyPruneJobs.get()
      val kept = Lake.pruneByStats(st, "split",
        org.apache.spark.sql.types.StringType, "test", "test")
      assert(Lake.lazyPruneJobs.get() == jobsBefore,
        "a partition-banded predicate must plan ZERO entries jobs")
      assert(kept.nonEmpty && kept.toSet ==
        st.files.filter(_.startsWith("split=test/")).toSet,
        s"the path-only prune must keep exactly the test partition, got ${kept.size}")
      // a DATA-column bound still consults the entries — exactly one job,
      // and the result equals the eager prune
      val kept2 = Lake.pruneByStats(st, "doc_id",
        org.apache.spark.sql.types.LongType, 1000L, 1009L)
      assert(Lake.lazyPruneJobs.get() == jobsBefore + 1,
        "a stats-backed bound must take the entries job")
      spark.conf.set(Lake.LazyStatsKey, "false")
      Lake.invalidateStateCache()
      val eagerSt = Lake.latestManifest(spark, out).get
      assert(kept2 == Lake.pruneByStats(eagerSt, "doc_id",
        org.apache.spark.sql.types.LongType, 1000L, 1009L),
        "the job prune must equal the eager prune")
      assert(kept == Lake.pruneByStats(eagerSt, "split",
        org.apache.spark.sql.types.StringType, "test", "test"),
        "the zero-job prune must equal the eager prune")
    } finally {
      spark.conf.unset(Lake.LazyStatsKey)
      spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
    }
  }

  test("directory rollups: dir-banded DATA-column predicates prune a lazy lake driver-side; the incremental write folds envelopes forward") {
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "8")
    try {
      val out = freshDir("lake-dirrollup")
      def batch(ids: Range, split: String) = spark.range(ids.start, ids.end).select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit(split).as("split"))
      // two identity partitions with DISJOINT doc_id ranges
      Lake.init(spark, batch(0 until 100, "train")
        .unionByName(batch(100000 until 100100, "test")), out, Seq("split"))   // v1
      (1 to 9).foreach(i => Pipeline.appendToLake(spark, out,
        batch(1000 * i until 1000 * i + 10, "train"),
        partitionCols = Seq("split")))                                         // v2..v10: columnar cp
      Pipeline.appendToLake(spark, out, batch(200000 until 200010, "test"),
        partitionCols = Seq("split"))                                          // v11: tail
      Lake.invalidateStateCache()
      val st = Lake.latestManifest(spark, out).get
      assert(st.cpLazy.isDefined)
      val dr = st.cpLazy.get.dirStats
      assert(dr.keySet == Set("split=train", "split=test") &&
        dr.values.forall(_.exists(_.col == "doc_id")),
        s"both directories must carry doc_id envelopes, got $dr")
      def band(lo: Long, hi: Long) = Lake.pruneByStats(st, "doc_id",
        org.apache.spark.sql.types.LongType, lo, hi)
      // a band BETWEEN the two ranges: every resident's directory is
      // proven out by its envelope — ZERO entries jobs, nothing kept
      // (the tail files are driver-judged and miss too)
      val jobs0 = Lake.lazyPruneJobs.get()
      assert(band(50000L, 60000L).isEmpty,
        "a band between the dir ranges must keep nothing")
      assert(Lake.lazyPruneJobs.get() == jobs0,
        "a dir-banded data-column predicate must plan with ZERO entries jobs")
      // a band inside ONE dir's range: that dir still needs its per-file
      // judgment (one job), and the result equals the eager prune
      val kept = band(100000L, 100010L)
      assert(Lake.lazyPruneJobs.get() == jobs0 + 1)
      assert(kept.nonEmpty && kept.forall(_.startsWith("split=test/")))
      spark.conf.set(Lake.LazyStatsKey, "false")
      Lake.invalidateStateCache()
      val eagerSt = Lake.latestManifest(spark, out).get
      assert(kept == Lake.pruneByStats(eagerSt, "doc_id",
        org.apache.spark.sql.types.LongType, 100000L, 100010L),
        "the dir-scoped job prune must equal the eager prune")
      assert(Lake.pruneByStats(eagerSt, "doc_id",
        org.apache.spark.sql.types.LongType, 50000L, 60000L).isEmpty)
      // the INCREMENTAL write folds envelopes forward: the next
      // checkpoint's test-dir envelope covers the v11 tail rows
      spark.conf.unset(Lake.LazyStatsKey)
      Lake.invalidateStateCache()
      Lake.checkpointNow(spark, out)                                           // v11 checkpoint, incremental
      Lake.invalidateStateCache()
      val st2 = Lake.latestManifest(spark, out).get
      val testEnv = st2.cpLazy.get.dirStats("split=test")
        .find(_.col == "doc_id").get
      assert(testEnv.min == "100000" && testEnv.max == "200009",
        s"the folded envelope must widen over the tail, got $testEnv")
      // and the widened envelope still prunes exactly
      assert(Lake.pruneByStats(st2, "doc_id",
        org.apache.spark.sql.types.LongType, 50000L, 60000L).isEmpty)
      assert(Lake.read(spark, out).count() == 100 + 100 + 90 + 10)
    } finally {
      spark.conf.unset(Lake.LazyStatsKey)
      spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
    }
  }

  test("hierarchical dir rollups: above the cap the envelopes fold to prefix grains, keep zero-job pruning/pricing, and the final give-up is counted") {
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "8")
    spark.conf.set(Lake.DirRollupMaxDirsKey, "4")
    try {
      val out = freshDir("lake-hier-rollup")
      def batch(ids: Range, split: String) = spark.range(ids.start, ids.end).select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit(split).as("split"), pmod(col("id"), lit(4)).cast("int").as("shard"))
      // 2 splits x 4 shards = 8 leaf directories, DISJOINT doc_id ranges
      Lake.init(spark, batch(0 until 400, "train")
        .unionByName(batch(100000 until 100400, "test")),
        out, Seq("split", "shard"))                                          // v1
      (1 to 9).foreach(i => Pipeline.appendToLake(spark, out,
        batch(400 + 10 * (i - 1) until 400 + 10 * i, "train"),
        partitionCols = Seq("split", "shard")))                              // v2..v10: columnar cp
      Lake.invalidateStateCache()
      val st = Lake.latestManifest(spark, out).get
      assert(st.cpLazy.isDefined)
      val dr = st.cpLazy.get.dirStats
      assert(dr.keySet == Set("split=train", "split=test"),
        s"8 leaf dirs above cap 4 must fold to the 2 split prefixes, got ${dr.keySet}")
      assert(dr.values.forall(env => env.exists(_.col == "doc_id") &&
        env.exists(_.col == Lake.RowsStatName)),
        s"folded prefixes must keep both envelopes and reserved sums, got $dr")
      // a band BETWEEN the two subtrees' ranges: both prefix envelopes
      // prove their whole subtrees out — ZERO entries jobs
      val jobs0 = Lake.lazyPruneJobs.get()
      assert(Lake.pruneByStats(st, "doc_id",
        org.apache.spark.sql.types.LongType, 50000L, 60000L).isEmpty)
      assert(Lake.lazyPruneJobs.get() == jobs0,
        "a band between the prefix envelopes must plan with ZERO entries jobs")
      // a band inside ONE subtree: one scoped job, equal to eager
      val kept = Lake.pruneByStats(st, "doc_id",
        org.apache.spark.sql.types.LongType, 100000L, 100010L)
      assert(Lake.lazyPruneJobs.get() == jobs0 + 1)
      spark.conf.set(Lake.LazyStatsKey, "false")
      Lake.invalidateStateCache()
      val eagerSt = Lake.latestManifest(spark, out).get
      assert(kept == Lake.pruneByStats(eagerSt, "doc_id",
        org.apache.spark.sql.types.LongType, 100000L, 100010L),
        "the prefix-rollup prune must equal the eager prune")
      assert(Lake.pruneByStats(eagerSt, "doc_id",
        org.apache.spark.sql.types.LongType, 50000L, 60000L).isEmpty)
      spark.conf.unset(Lake.LazyStatsKey)
      Lake.invalidateStateCache()
      // whole-table pricing answers from the folded prefix sums
      val total = 800L + 90L
      val jobsP = Lake.lazyPriceJobs.get()
      assert(Lake.reservedTotals(spark, st, st.files)._1.contains(total))
      assert(Lake.lazyPriceJobs.get() == jobsP,
        "whole-table pricing must be zero-job off the folded prefix sums")
      // the INCREMENTAL write folds forward AT the prefix grain: a tail
      // append widens the train prefix envelope and its sums
      Pipeline.appendToLake(spark, out, batch(200000 until 200010, "train"),
        partitionCols = Seq("split", "shard"))                               // v11
      Lake.invalidateStateCache()
      Lake.checkpointNow(spark, out)
      Lake.invalidateStateCache()
      val st2 = Lake.latestManifest(spark, out).get
      val trainEnv = st2.cpLazy.get.dirStats("split=train")
      assert(trainEnv.find(_.col == "doc_id").exists(c =>
        c.min == "0" && c.max == "200009"),
        s"the incremental fold must widen the prefix envelope, got $trainEnv")
      val jobsP2 = Lake.lazyPriceJobs.get()
      assert(Lake.reservedTotals(spark, st2, st2.files)._1.contains(total + 10L))
      assert(Lake.lazyPriceJobs.get() == jobsP2,
        "pricing must stay zero-job through the prefix-grain incremental fold")
      // GIVE-UP is counted, never silent: with the cap below even the
      // top-level grouping, the next checkpoint drops rollups and says so
      spark.conf.set(Lake.DirRollupMaxDirsKey, "1")
      Pipeline.appendToLake(spark, out, batch(200010 until 200020, "train"),
        partitionCols = Seq("split", "shard"))                               // v12
      val giveUps0 = Lake.dirRollupGiveUps.get()
      Lake.invalidateStateCache()
      Lake.checkpointNow(spark, out)
      assert(Lake.dirRollupGiveUps.get() == giveUps0 + 1,
        "a rollup drop must move the give-up counter")
      Lake.invalidateStateCache()
      val st3 = Lake.latestManifest(spark, out).get
      assert(st3.cpLazy.exists(_.dirStats.isEmpty),
        "above-cap-at-top-level must drop the rollups (conservatively)")
      // pricing then degrades to the entries job — still exact
      val jobsQ = Lake.lazyPriceJobs.get()
      assert(Lake.reservedTotals(spark, st3, st3.files)._1.contains(total + 20L))
      assert(Lake.lazyPriceJobs.get() == jobsQ + 1)
      assert(Lake.read(spark, out).count() == total + 20L)
    } finally {
      spark.conf.unset(Lake.LazyStatsKey)
      spark.conf.unset(Lake.DirRollupMaxDirsKey)
      spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
    }
  }

  test("path-lazy states: the driver pins O(tail) path entries; pruning, pricing and checkpoints never materialize the corpus list") {
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "8")
    spark.conf.set(Lake.PathLazyMinFilesKey, "1")
    try {
      val out = freshDir("lake-pathlazy")
      def batch(ids: Range, split: String) = spark.range(ids.start, ids.end).select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit(split).as("split"))
      Lake.init(spark, batch(0 until 100, "train")
        .unionByName(batch(100000 until 100100, "test")), out, Seq("split"))  // v1
      (1 to 9).foreach(i => Pipeline.appendToLake(spark, out,
        batch(1000 * i until 1000 * i + 10, "train"),
        partitionCols = Seq("split")))                                        // v2..v10: columnar cp
      Pipeline.appendToLake(spark, out, batch(200000 until 200010, "test"),
        partitionCols = Seq("split"))                                         // v11: tail
      val total = 100L + 100L + 9 * 10L + 10L
      Lake.invalidateStateCache()
      val st = Lake.latestManifest(spark, out).get
      assert(st.files.isInstanceOf[Lake.DeferredFiles],
        "above the path-lazy threshold the file list must be deferred")
      val tailN = st.cpLazy.get.tailAdded.size
      assert(tailN >= 1 && Lake.pinnedPathCount(st) == tailN,
        s"the state must pin only the tail, got ${Lake.pinnedPathCount(st)} vs tail $tailN")
      // count, emptiness and head (layout derivation) answer from the
      // stub's DC census — zero jobs
      val forces0 = Lake.pathForceJobs.get()
      assert(st.files.nonEmpty && st.files.size > tailN)
      assert(st.files.headOption.exists(_.startsWith("split=")))
      assert(Lake.pathForceJobs.get() == forces0,
        "size/isEmpty/headOption must not materialize the list")
      // PRUNED read plans inside the entries job — zero forces, equal
      // to the eager prune (data bound AND partition band)
      val jobs0 = Lake.lazyPruneJobs.get()
      val kept = Lake.pruneByStats(st, "doc_id",
        org.apache.spark.sql.types.LongType, 100000L, 100010L)
      val kept2 = Lake.pruneByStats(st, "split",
        org.apache.spark.sql.types.StringType, "test", "test")
      assert(Lake.lazyPruneJobs.get() == jobs0 + 2)
      assert(Lake.pathForceJobs.get() == forces0,
        "pruning must consume paths from the entries, not the driver list")
      spark.conf.set(Lake.LazyStatsKey, "false")
      Lake.invalidateStateCache()
      val eagerSt = Lake.latestManifest(spark, out).get
      assert(kept == Lake.pruneByStats(eagerSt, "doc_id",
        org.apache.spark.sql.types.LongType, 100000L, 100010L).sorted)
      assert(kept2 == Lake.pruneByStats(eagerSt, "split",
        org.apache.spark.sql.types.StringType, "test", "test").sorted)
      spark.conf.unset(Lake.LazyStatsKey)
      Lake.invalidateStateCache()
      // WHOLE-TABLE pricing: zero jobs, zero forces (DC sums flag)
      val p0 = Lake.lazyPriceJobs.get()
      val f1 = Lake.pathForceJobs.get()
      val totals = Lake.reservedTotals(spark, st, st.files)
      assert(totals._1.contains(total) && totals._3.isEmpty, s"got $totals")
      assert(Lake.lazyPriceJobs.get() == p0 && Lake.pathForceJobs.get() == f1,
        "whole-table pricing must stay zero-job and zero-force under path-lazy")
      // UNPRUNED read: exact rows, at most ONE (soft-cached) force job,
      // and the STATE still pins only the tail afterwards
      val f2 = Lake.pathForceJobs.get()
      assert(Lake.read(spark, out).count() == total)
      assert(Lake.pathForceJobs.get() <= f2 + 1,
        "an unpruned read costs at most one transient materialization")
      assert(Lake.pinnedPathCount(st) == tailN,
        "the read must not pin the corpus list on the state")
      // INCREMENTAL checkpoint folds from the path-lazy state with zero
      // forces (blacklist keep + aggregated rollups), and the next
      // resolve defers again with an empty tail
      val f3 = Lake.pathForceJobs.get()
      val inc0 = Lake.checkpointIncrementalWrites.get()
      Lake.checkpointNow(spark, out)
      assert(Lake.checkpointIncrementalWrites.get() == inc0 + 1)
      assert(Lake.pathForceJobs.get() == f3,
        "the checkpoint fold must never materialize the corpus list")
      Lake.invalidateStateCache()
      val st2 = Lake.latestManifest(spark, out).get
      assert(st2.files.isInstanceOf[Lake.DeferredFiles] &&
        Lake.pinnedPathCount(st2) == 0L)
      val p1 = Lake.lazyPriceJobs.get()
      assert(Lake.reservedTotals(spark, st2, st2.files)._1.contains(total))
      assert(Lake.lazyPriceJobs.get() == p1,
        "pricing must be zero-job again after the folded checkpoint")
      // a DELETE folds through the deferred list (removals of residents
      // enter tailRemoved; the rewrite's staged files enter the tail)
      // and the lake still answers exactly
      Pipeline.deleteFromLake(spark, out, Seq(5L).toDF("doc_id"), "doc_id",
        partitionCols = Seq("split"))
      Lake.invalidateStateCache()
      val st3 = Lake.latestManifest(spark, out).get
      assert(st3.files.isInstanceOf[Lake.DeferredFiles])
      assert(Lake.read(spark, out).count() == total - 1)
      assert(Lake.reservedTotals(spark, st3, st3.files)._1.contains(total - 1))
    } finally {
      spark.conf.unset(Lake.LazyStatsKey)
      spark.conf.unset(Lake.PathLazyMinFilesKey)
      spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
    }
  }

  test("vacuum on a path-lazy lake: the orphan diff runs inside the job and never materializes the path list") {
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "8")
    spark.conf.set(Lake.PathLazyMinFilesKey, "1")
    spark.conf.set(Lake.VacuumDistributeMinKey, "1")
    try {
      val out = freshDir("lake-pathlazy-vacuum")
      def batch(ids: Range, split: String) = spark.range(ids.start, ids.end).select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit(split).as("split"), (col("id") % 2).cast("string").as("shard"))
      Lake.init(spark, batch(0 until 100, "train")
        .unionByName(batch(100000 until 100100, "test")), out,
        Seq("split", "shard"))                                                 // v1
      (1 to 8).foreach(i => Pipeline.appendToLake(spark, out,
        batch(1000 * i until 1000 * i + 10, "train"),
        partitionCols = Seq("split", "shard")))                                // v2..v9
      // a PRE-checkpoint delete: the removed pre-image files become the
      // checkpoint's H rows — exactly the section the job-side diff must
      // treat as referenced, or vacuum would eat retained history
      Pipeline.deleteFromLake(spark, out, Seq(5L).toDF("doc_id"), "doc_id",
        partitionCols = Seq("split", "shard"), retainHistory = true)           // v10: columnar cp
      Pipeline.appendToLake(spark, out, batch(200000 until 200010, "test"),
        partitionCols = Seq("split", "shard"))                                 // v11: tail
      val total = 100L + 100L + 8 * 10L + 10L - 1L
      Lake.invalidateStateCache()
      val st = Lake.latestManifest(spark, out).get
      assert(st.files.isInstanceOf[Lake.DeferredFiles],
        "fixture must resolve path-lazy")
      assert(st.history.nonEmpty, "the delete must have populated history")
      // strand orphans across the two-level partition tree (both the
      // second-level dirs the fan-out walks and more files than a
      // per-file driver loop's budget)
      val dirs = Seq("split=train/shard=0", "split=train/shard=1",
        "split=test/shard=0", "split=test/shard=1")
      val orphans = dirs.flatMap(d => (0 until 3).map(i => s"$d/orphan-$i.parquet"))
      orphans.foreach { rel =>
        java.nio.file.Files.write(java.nio.file.Paths.get(out, rel),
          Array[Byte](80, 65, 82, 49))
      }
      val forces0 = Lake.pathForceJobs.get()
      val opsBefore = Lake.vacuumDriverFsOps.get()
      val dead = Lake.vacuum(spark, out)
      assert(dead.toSet == orphans.toSet,
        s"the job-side diff must reclaim exactly the orphans, got $dead")
      assert(Lake.pathForceJobs.get() == forces0,
        "vacuum must never materialize the deferred path list — the live diff runs inside the job")
      assert(Lake.vacuumDriverFsOps.get() - opsBefore <= 8,
        "driver FS calls stay directory-bounded on the path-lazy sweep")
      // live corpus AND retained history both survive the sweep
      assert(Lake.read(spark, out).count() == total)
      assert(Lake.readVersion(spark, out, 9L).count() == total - 10L + 1L,
        "the pre-delete version must still time-travel after vacuum")
    } finally {
      spark.conf.unset(Lake.VacuumDistributeMinKey)
      spark.conf.unset(Lake.PathLazyMinFilesKey)
      spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
    }
  }

  test("deferred history: a path-lazy state pins only the removal tail; checkpoints fold H rows forward executor-side") {
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "8")
    spark.conf.set(Lake.PathLazyMinFilesKey, "1")
    try {
      val out = freshDir("lake-pathlazy-history")
      def batch(ids: Range, split: String) = spark.range(ids.start, ids.end).select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit(split).as("split"))
      Lake.init(spark, batch(0 until 100, "train"), out, Seq("split"))          // v1
      Pipeline.appendToLake(spark, out, batch(1000 until 1010, "train"),
        partitionCols = Seq("split"))                                           // v2
      Pipeline.deleteFromLake(spark, out, Seq(3L).toDF("doc_id"), "doc_id",
        partitionCols = Seq("split"), retainHistory = true)                     // v3: pre-cp removals
      (2 to 9).foreach(i => Pipeline.appendToLake(spark, out,
        batch(1000 * i until 1000 * i + 10, "train"),
        partitionCols = Seq("split")))                                          // v4..v11 (cp at v10)
      Lake.invalidateStateCache()
      val st = Lake.latestManifest(spark, out).get
      assert(st.history.isInstanceOf[Lake.DeferredHistory],
        "above the path-lazy threshold the history must defer with the paths")
      val dh = st.history.asInstanceOf[Lake.DeferredHistory]
      assert(dh.histTail.isEmpty && st.history.nonEmpty,
        "pre-checkpoint removals live in the entries' H rows, not on the driver")
      // size/emptiness answer from the count — zero jobs
      val forces0 = Lake.pathForceJobs.get()
      assert(st.history.size >= 1)
      assert(Lake.pathForceJobs.get() == forces0)
      // a post-checkpoint delete enters the driver-side history TAIL and
      // the pinned count reflects files tail + history tail exactly
      Pipeline.deleteFromLake(spark, out, Seq(8L).toDF("doc_id"), "doc_id",
        partitionCols = Seq("split"), retainHistory = true)                     // v12
      Lake.invalidateStateCache()
      val st2 = Lake.latestManifest(spark, out).get
      val dh2 = st2.history.asInstanceOf[Lake.DeferredHistory]
      assert(dh2.histTail.nonEmpty, "a tail removal must ride the history tail")
      val dfl2 = st2.files.asInstanceOf[Lake.DeferredFiles]
      assert(Lake.pinnedPathCount(st2) ==
        dfl2.tailAdded.size + dfl2.tailRemoved.size + dh2.histTail.size)
      // MATERIALIZED content equals the eager resolve's history exactly
      // (one soft-cached force)
      val f1 = Lake.pathForceJobs.get()
      val lazyHist = st2.history.sorted
      assert(Lake.pathForceJobs.get() <= f1 + 1)
      spark.conf.set(Lake.LazyStatsKey, "false")
      Lake.invalidateStateCache()
      val eagerHist = Lake.latestManifest(spark, out).get.history.sorted
      spark.conf.unset(Lake.LazyStatsKey)
      assert(lazyHist == eagerHist, "deferred history must materialize exactly")
      Lake.invalidateStateCache()
      // the NEXT incremental checkpoint folds the old H rows forward
      // inside the job and lands the tail — zero forces — and the next
      // resolve defers again with an empty tail
      val st3 = Lake.latestManifest(spark, out).get
      val f2 = Lake.pathForceJobs.get()
      Lake.checkpointNow(spark, out)
      assert(Lake.pathForceJobs.get() == f2,
        "the checkpoint fold must never materialize the history list")
      Lake.invalidateStateCache()
      val st4 = Lake.latestManifest(spark, out).get
      val dh4 = st4.history.asInstanceOf[Lake.DeferredHistory]
      assert(dh4.histTail.isEmpty && st4.history.size == st3.history.size,
        "the folded checkpoint must carry the full history as H rows")
      assert(st4.history.sorted == eagerHist,
        "history content survives the incremental fold exactly")
      // reads and time travel stay exact through all of it
      assert(Lake.read(spark, out).count() == 100L + 90L - 2L)
      assert(Lake.readVersion(spark, out, 11L).count() == 100L + 90L - 1L)
    } finally {
      spark.conf.unset(Lake.PathLazyMinFilesKey)
      spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
    }
  }

  test("restore on a path-lazy lake: the two-state diff runs as subtract-jobs, stats re-record from the entries") {
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "8")
    spark.conf.set(Lake.PathLazyMinFilesKey, "1")
    try {
      val out = freshDir("lake-pathlazy-restore")
      def batch(ids: Range, split: String) = spark.range(ids.start, ids.end).select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit(split).as("split"))
      Lake.init(spark, batch(0 until 100, "train")
        .unionByName(batch(100000 until 100100, "test")), out, Seq("split"))   // v1
      (1 to 9).foreach(i => Pipeline.appendToLake(spark, out,
        batch(1000 * i until 1000 * i + 10, "train"),
        partitionCols = Seq("split")))                                          // v2..v10 (cp)
      val preVersion = 10L
      val preCount = 200L + 90L
      // mutations to undo: a rewrite delete, an append, and a SPARSE
      // delete (deletion vectors — the dvDiff leg of the restore)
      Pipeline.deleteFromLake(spark, out, Seq(7L).toDF("doc_id"), "doc_id",
        partitionCols = Seq("split"), retainHistory = true)                     // v11
      Pipeline.appendToLake(spark, out, batch(500000 until 500010, "train"),
        partitionCols = Seq("split"))                                           // v12
      Pipeline.deleteFromLakeSparse(spark, out, Seq(9L).toDF("doc_id"),
        "doc_id")                                                               // v13: DV
      Lake.invalidateStateCache()
      val st = Lake.latestManifest(spark, out).get
      assert(st.files.isInstanceOf[Lake.DeferredFiles] && st.dvs.nonEmpty)
      assert(Lake.read(spark, out).count() == preCount - 2L + 10L)
      // the restore: diff inside jobs, zero list materializations (the
      // returned read-back may cost its usual ≤1 soft-cached force)
      val forces0 = Lake.pathForceJobs.get()
      Lake.restore(spark, out, preVersion)
      assert(Lake.pathForceJobs.get() <= forces0 + 1,
        "a path-lazy restore must diff inside jobs, never materialize " +
          s"either state's list (got ${Lake.pathForceJobs.get() - forces0} forces)")
      Lake.invalidateStateCache()
      assert(Lake.read(spark, out).count() == preCount,
        "the pre-mutation corpus must return exactly")
      assert(Lake.read(spark, out).filter(col("doc_id").isin(7L, 9L)).count() == 2L,
        "both deleted rows (rewrite AND deletion-vector) must resurrect")
      // the re-added files' stats re-recorded from the ENTRIES: a
      // doc_id-banded prune on the restored lake still skips files
      val st2 = Lake.latestManifest(spark, out).get
      val kept = Lake.pruneByStats(st2, "doc_id",
        org.apache.spark.sql.types.LongType, 100000L, 100010L)
      assert(kept.nonEmpty && kept.size < st2.files.size,
        s"restored stats must still prune, kept ${kept.size}/${st2.files.size}")
      // CDC stays silent across the restore (re-adds are rewrites)
      assert(Lake.changesBetween(spark, out, 13L, 14L).count() == 0L,
        "a restore must surface no new rows to the change feed")
    } finally {
      spark.conf.unset(Lake.PathLazyMinFilesKey)
      spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
    }
  }

  test("a raced restate naming a file dead BELOW the rebased checkpoint filters exactly — no resurrection") {
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "8")
    spark.conf.set(Lake.PathLazyMinFilesKey, "1")
    try {
      val out = freshDir("lake-restate-race")
      def batch(ids: Range, split: String) = spark.range(ids.start, ids.end).select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit(split).as("split"))
      Lake.init(spark, batch(0 until 100, "train")
        .unionByName(batch(100000 until 100100, "test")), out, Seq("split"))   // v1
      (1 to 9).foreach(i => Pipeline.appendToLake(spark, out,
        batch(1000 * i until 1000 * i + 10, "train"),
        partitionCols = Seq("split")))                                          // v2..v10 (cp)
      Lake.invalidateStateCache()
      val stale = Lake.latestManifest(spark, out).get // the racer's v10 base
      // the INTERPOSED delete rewrites a train file; the checkpoint that
      // follows buries the removal BELOW the next rebase's resolution
      // point — the dead file sits in NO driver-side tail
      Pipeline.deleteFromLake(spark, out, Seq(5L).toDF("doc_id"), "doc_id",
        partitionCols = Seq("split"), retainHistory = true)                     // v11
      Lake.checkpointNow(spark, out)
      Lake.invalidateStateCache()
      val live11 = Lake.latestManifest(spark, out).get.files.toSet
      val r = stale.files.find(f => !live11(f)).get // dead below the new cp
      // the raced commit (the widen shape): a restate naming r staged
      // against the STALE v10 base — publish rebases onto the path-lazy
      // v11 state and must resolve r against the entries' F rows
      Lake.publish(spark, Lake.StagedCommit(out, stale, "analyze",
        stale.schemaJson, Seq.empty, Seq.empty, 0L, 0L,
        statRestates = Seq(r -> Seq(Lake.ColStat("text", "a", "b")))))          // v12
      Lake.invalidateStateCache()
      val st = Lake.latestManifest(spark, out).get
      assert(st.files.isInstanceOf[Lake.DeferredFiles])
      assert(!st.stats.contains(r),
        "a restate for a file dead below the checkpoint must drop at commit")
      assert(Lake.read(spark, out).count() == 289L,
        "the deleted row must stay deleted")
      val kept = Lake.pruneByStats(st, "text",
        org.apache.spark.sql.types.StringType, "a", "b")
      assert(!kept.contains(r),
        "the dead file must never come back as a prune survivor")
      assert(Lake.reservedTotals(spark, st, st.files)._1.isDefined,
        "whole-table pricing must not trip its torn check on the raced restate")
    } finally {
      spark.conf.unset(Lake.PathLazyMinFilesKey)
      spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
    }
  }

  test("rollup fold: dropping a poisoned subtree drops any surviving PREFIX key that would cover it") {
    import org.apache.spark.sql.types.LongType
    val dts = Map("doc_id" -> LongType)
    def env(lo: Long, hi: Long) = Seq(Lake.ColStat("doc_id", lo.toString, hi.toString),
      Lake.ColStat("#rows", "10", "10"), Lake.ColStat("#bytes", "100", "100"))
    // mixed-depth generations: data files BOTH at split=x/… and under
    // split=x/shard=y/… — the deeper dir has no provable coverage
    // (poisoned). Longest-prefix resolution must NOT hand its files
    // split=x's envelope: the covering key drops with it.
    val m0 = Map("split=x" -> env(0, 9), "split=x/shard=y" -> Seq.empty[Lake.ColStat])
    val folded = Lake.foldRollupsToCap(m0, dts, cap = 10, context = "spec")
    assert(!folded.contains("split=x"),
      s"a prefix key covering a dropped poisoned subtree must drop too, got $folded")
    // a DISJOINT sibling is untouched
    val m1 = m0 + ("split=z" -> env(100, 199))
    assert(Lake.foldRollupsToCap(m1, dts, 10, "spec").keySet == Set("split=z"))
    // and ABOVE the cap the fold still poisons the parent (no drop-then-cover)
    val m2 = Map(
      "split=x/shard=a" -> env(0, 9),
      "split=x/shard=b" -> Seq.empty[Lake.ColStat],
      "split=z/shard=a" -> env(100, 149),
      "split=z/shard=b" -> env(150, 199))
    val folded2 = Lake.foldRollupsToCap(m2, dts, cap = 2, context = "spec")
    assert(!folded2.contains("split=x") && folded2.contains("split=z"),
      s"a poisoned member must poison its folded parent, got $folded2")
  }

  test("rollup fold: a mixed-depth NON-poison fold leaves a PREFIX-FREE key set — every dir resolves to an envelope that covered it") {
    import org.apache.spark.sql.types.LongType
    val dts = Map("doc_id" -> LongType)
    def ent(lo: Long, hi: Long, rows: Long) = Seq(
      Lake.ColStat("doc_id", lo.toString, hi.toString),
      Lake.ColStat("#bytes", (rows * 10).toString, (rows * 10).toString),
      Lake.ColStat("#rows", rows.toString, rows.toString))
    // mixed-depth generations: files at split=t/shard=N AND under
    // split=t/shard=N/bucket=M. Cap 4 folds ONE level and stops at
    // {split=t, split=t/shard=0, split=t/shard=1} — ancestor-related:
    // dir split=t/shard=0's own files would resolve (longest prefix) to
    // a key holding only its buckets' stats. The consistency merge must
    // collapse to a prefix-free set.
    val m0 = Map(
      "split=t/shard=0" -> ent(0, 99, 100),
      "split=t/shard=1" -> ent(100, 199, 100),
      "split=t/shard=0/bucket=0" -> ent(1000, 1099, 50),
      "split=t/shard=0/bucket=1" -> ent(1100, 1199, 50),
      "split=t/shard=1/bucket=0" -> ent(1200, 1299, 50),
      "split=t/shard=1/bucket=1" -> ent(1300, 1399, 50))
    val folded = Lake.foldRollupsToCap(m0, dts, cap = 4, context = "spec")
    val keys = folded.keySet
    assert(keys.nonEmpty, "a below-cap fold must not give up")
    assert(keys.forall(k => !keys.exists(o => o != k && k.startsWith(o + "/"))),
      s"folded keys must be prefix-free, got $keys")
    m0.foreach { case (d, st) =>
      val k = Lake.rollupKeyOf(keys, d)
      assert(k.isDefined, s"dir $d lost its rollup cover, keys $keys")
      val env = folded(k.get).find(_.col == "doc_id").get
      val lo = st.find(_.col == "doc_id").get.min.toLong
      val hi = st.find(_.col == "doc_id").get.max.toLong
      assert(env.min.toLong <= lo && env.max.toLong >= hi,
        s"dir $d resolves to ${k.get} whose envelope $env never covered [$lo,$hi]")
    }
    // the reserved sums conserve the total through the merge
    val totalRows = folded.valuesIterator
      .flatMap(_.find(_.col == "#rows")).map(_.min.toLong).sum
    assert(totalRows == 400L, s"merged sums must conserve the total, got $totalRows")
    // an UNFOLDED ancestor-related map keeps its exact (precise) dir keys
    val under = Lake.foldRollupsToCap(m0, dts, cap = 10, context = "spec")
    assert(under.keySet == m0.keySet,
      "below-cap maps must keep exact dir keys (no precision loss)")
  }

  test("rollup fold: mixed-depth GENERATIONS fold prefix-free end-to-end — lazy prune and zero-job pricing match eager") {
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "1")
    spark.conf.set(Lake.DirRollupMaxDirsKey, "4")
    try {
      val out = freshDir("lake-mixed-depth-rollup")
      def batch(ids: Range) = spark.range(ids.start, ids.end).select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit("train").as("split"), pmod(col("id"), lit(2)).cast("int").as("shard"),
        pmod(floor(col("id") / lit(2)), lit(2)).cast("int").as("bucket"))
      Lake.init(spark, batch(0 until 200), out, Seq("split", "shard"))       // v1: depth-2 dirs
      Lake.evolveLayout(spark, out, Seq("split", "shard", "bucket"))         // v2: metadata
      Pipeline.appendToLake(spark, out, batch(1000 until 1400),
        partitionCols = Seq("split", "shard", "bucket"))                     // v3: depth-3 dirs
      Lake.invalidateStateCache()
      Lake.checkpointNow(spark, out)
      Lake.invalidateStateCache()
      val st = Lake.latestManifest(spark, out).get
      assert(st.cpLazy.isDefined, "fixture must resolve stats-lazy")
      val keys = st.cpLazy.get.dirStats.keySet
      assert(keys.nonEmpty, "the mixed-depth fold must not give up below the cap")
      assert(keys.forall(k => !keys.exists(o => o != k && k.startsWith(o + "/"))),
        s"checkpoint rollup keys must be prefix-free, got $keys")
      // a band covering ONLY gen-1 rows: the pre-merge collision resolved
      // gen-1 shard dirs to a buckets-only envelope and pruned LIVE rows
      val kept = Lake.pruneByStats(st, "doc_id",
        org.apache.spark.sql.types.LongType, 0L, 50L)
      spark.conf.set(Lake.LazyStatsKey, "false")
      Lake.invalidateStateCache()
      val eagerSt = Lake.latestManifest(spark, out).get
      val eagerKept = Lake.pruneByStats(eagerSt, "doc_id",
        org.apache.spark.sql.types.LongType, 0L, 50L)
      spark.conf.unset(Lake.LazyStatsKey)
      Lake.invalidateStateCache()
      assert(kept.nonEmpty && kept.toSet == eagerKept.toSet,
        "the mixed-depth lazy prune must equal the eager prune")
      // whole-table pricing stays zero-job AND exact off the merged sums
      val jobs0 = Lake.lazyPriceJobs.get()
      assert(Lake.reservedTotals(spark, st, st.files)._1.contains(600L),
        "pricing must count BOTH generations' rows exactly")
      assert(Lake.lazyPriceJobs.get() == jobs0,
        "whole-table pricing must stay zero-job through the consistency merge")
      assert(Lake.read(spark, out).count() == 600L)
    } finally {
      spark.conf.unset(Lake.LazyStatsKey)
      spark.conf.unset(Lake.DirRollupMaxDirsKey)
      spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
    }
  }

  test("restore re-records checkpoint-resident stats on a stats-lazy, path-EAGER state") {
    // the middle laziness grade: a columnar checkpoint above the entries
    // threshold but below the path-lazy one materializes its PATHS while
    // the residents' STATS still live only in the entries — a restore's
    // re-adds must fetch them from there, not from the (restates-only)
    // driver map, or the re-added files commit statless forever
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "8")
    try {
      val out = freshDir("lake-lazy-restore-stats")
      def batch(ids: Range, split: String) = spark.range(ids.start, ids.end).select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit(split).as("split"))
      Lake.init(spark, batch(0 until 100, "train")
        .unionByName(batch(100000 until 100100, "test")), out, Seq("split"))   // v1
      (1 to 9).foreach(i => Pipeline.appendToLake(spark, out,
        batch(1000 * i until 1000 * i + 10, "train"),
        partitionCols = Seq("split")))                                          // v2..v10 (cp)
      Lake.invalidateStateCache()
      val st = Lake.latestManifest(spark, out).get
      assert(st.cpLazy.isDefined && st.files.isInstanceOf[Lake.EagerFiles],
        "fixture must resolve stats-lazy with an EAGER path list")
      spark.conf.set(Lake.LazyStatsKey, "false")
      Lake.invalidateStateCache()
      val eagerPre = Lake.latestManifest(spark, out).get
      spark.conf.unset(Lake.LazyStatsKey)
      Lake.invalidateStateCache()
      Pipeline.deleteFromLake(spark, out, Seq(5L).toDF("doc_id"), "doc_id",
        partitionCols = Seq("split"), retainHistory = true)                     // v11
      Lake.restore(spark, out, 10L)                                             // v12: re-adds residents
      spark.conf.set(Lake.LazyStatsKey, "false")
      Lake.invalidateStateCache()
      val eagerPost = Lake.latestManifest(spark, out).get
      spark.conf.unset(Lake.LazyStatsKey)
      Lake.invalidateStateCache()
      assert(eagerPost.files.toSet == eagerPre.files.toSet,
        "the restore must reinstate exactly the v10 file set")
      eagerPre.files.foreach { f =>
        assert(eagerPost.stats.get(f).map(_.toSet) == eagerPre.stats.get(f).map(_.toSet),
          s"restore dropped recorded stats for re-added resident $f")
      }
      assert(Lake.read(spark, out).count() == 290L)
    } finally spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
  }

  test("a stat restate lands on a restore-re-added resident: tailAdded wins over its stale tailRemoved record") {
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "8")
    spark.conf.set(Lake.PathLazyMinFilesKey, "1")
    try {
      val out = freshDir("lake-restate-readd")
      def batch(ids: Range, split: String) = spark.range(ids.start, ids.end).select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit(split).as("split"))
      Lake.init(spark, batch(0 until 100, "train")
        .unionByName(batch(100000 until 100100, "test")), out, Seq("split"))   // v1
      (1 to 9).foreach(i => Pipeline.appendToLake(spark, out,
        batch(1000 * i until 1000 * i + 10, "train"),
        partitionCols = Seq("split")))                                          // v2..v10 (cp)
      Lake.invalidateStateCache()
      val trainFiles = Lake.latestManifest(spark, out).get.files
        .filter(_.startsWith("split=train")).toSet
      Pipeline.deleteFromLake(spark, out, Seq(5L).toDF("doc_id"), "doc_id",
        partitionCols = Seq("split"), retainHistory = true)                     // v11: residents removed
      Lake.restore(spark, out, 10L)                                             // v12: re-added (in BOTH tails)
      // the backfill restates a column never statted before — on the
      // path-lazy fold the re-added residents must be judged LIVE or the
      // restate silently drops (and the next incremental checkpoint
      // would freeze the loss into the entries)
      Lake.analyzeStats(spark, out, Seq("text"))                                // v13
      Lake.checkpointNow(spark, out)
      spark.conf.set(Lake.LazyStatsKey, "false")
      Lake.invalidateStateCache()
      val eager = Lake.latestManifest(spark, out).get
      spark.conf.unset(Lake.LazyStatsKey)
      Lake.invalidateStateCache()
      val missing = trainFiles.filter(f =>
        !eager.stats.getOrElse(f, Seq.empty).exists(_.col == "text"))
      assert(missing.isEmpty,
        s"the restate must land on restore-re-added residents, missing on $missing")
      assert(Lake.read(spark, out).count() == 290L)
    } finally {
      spark.conf.unset(Lake.PathLazyMinFilesKey)
      spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
    }
  }

  test("retention cut that shrinks below the columnar threshold: the eager re-render keeps the REWRITTEN history") {
    // the regression shape: keepVersions=1 leaves so few live entries the
    // replacement checkpoint renders as TEXT — the forceEager re-resolve
    // inside writeCheckpoint must not clobber the cut's emptied history
    // with the pre-cut replay's (that would resurrect every pre-image and
    // the sweep would reclaim nothing)
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "8")
    spark.conf.set(Lake.PathLazyMinFilesKey, "1")
    try {
      val out = freshDir("lake-ret-shrink")
      def batch(ids: Range) = spark.range(ids.start, ids.end).select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit("train").as("split"))
      Lake.init(spark, batch(0 until 100).repartition(10), out, Seq("split")) // v1
      (1 to 9).foreach(i => Pipeline.appendToLake(spark, out,
        batch(1000 * i until 1000 * i + 10), partitionCols = Seq("split")))   // v2..v10 cp
      Pipeline.appendToLake(spark, out, batch(50000 until 50010),
        partitionCols = Seq("split"))                                          // v11
      Lake.checkpointNow(spark, out)
      // the single-partition rewrite supersedes EVERY live file: the
      // post-cut live set (a handful of rewrite outputs) falls below the
      // columnar threshold while the reclaimable history is corpus-sized
      Pipeline.deleteFromLake(spark, out, Seq(5L).toDF("doc_id"), "doc_id",
        partitionCols = Seq("split"), retainHistory = true)                    // v12
      Lake.checkpointNow(spark, out)
      Lake.invalidateStateCache()
      val st = Lake.latestManifest(spark, out).get
      assert(st.history.isInstanceOf[Lake.DeferredHistory] && st.history.size >= 10)
      val dead = Lake.vacuumKeeping(spark, out, keepVersions = 1)
      assert(dead.nonEmpty,
        "the cut must reclaim the superseded pre-images (empty = the text " +
          "render resurrected the pre-cut history)")
      Lake.invalidateStateCache()
      assert(Lake.latestManifest(spark, out).get.history.isEmpty,
        "the rewritten (empty) history must survive the text render")
      assert(Lake.read(spark, out).count() == 100L + 90L + 10L - 1L)
    } finally {
      spark.conf.unset(Lake.PathLazyMinFilesKey)
      spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
    }
  }

  test("retention vacuum on a path-lazy lake: the retained live set derives from the deltas — no per-version resolve, no force") {
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "8")
    spark.conf.set(Lake.PathLazyMinFilesKey, "1")
    spark.conf.set(Lake.VacuumDistributeMinKey, "1")
    try {
      val out = freshDir("lake-pathlazy-retention")
      def batch(ids: Range, split: String) = spark.range(ids.start, ids.end).select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit(split).as("split"))
      Lake.init(spark, batch(0 until 100, "train"), out, Seq("split"))          // v1
      Pipeline.appendToLake(spark, out, batch(1000 until 1010, "train"),
        partitionCols = Seq("split"))                                           // v2
      // churn BELOW the future cut: the rewrite's pre-image files are the
      // reclaimable history the retention pass must find
      Pipeline.deleteFromLake(spark, out, Seq(7L).toDF("doc_id"), "doc_id",
        partitionCols = Seq("split"), retainHistory = true)                     // v3
      (2 to 10).foreach(i => Pipeline.appendToLake(spark, out,
        batch(1000 * i until 1000 * i + 10, "train"),
        partitionCols = Seq("split")))                                          // v4..v12 (cp at v10)
      Lake.invalidateStateCache()
      val st = Lake.latestManifest(spark, out).get
      assert(st.files.isInstanceOf[Lake.DeferredFiles])
      val preCut = Lake.read(spark, out).count() // 100 + 100 - 1
      assert(preCut == 199L)
      val forces0 = Lake.pathForceJobs.get()
      val dead = Lake.vacuumKeeping(spark, out, keepVersions = 3)
      assert(Lake.pathForceJobs.get() == forces0,
        "a restore-free retention cut must never materialize a deferred path list")
      assert(dead.nonEmpty, "the cut must reclaim the v3 delete's pre-image history")
      Lake.invalidateStateCache()
      // the three retained versions stay exactly readable; older refuses
      assert(Lake.read(spark, out).count() == preCut)
      assert(Lake.readVersion(spark, out, 11L).count() == preCut - 10L)
      intercept[Exception](Lake.readVersion(spark, out, 5L).count())
      // a RESTORE in the retained range — the one commit kind that
      // re-adds PRE-EXISTING paths: the next cut must keep those re-added
      // files referenced (correctness over force-count on this leg)
      Pipeline.deleteFromLake(spark, out, Seq(8L).toDF("doc_id"), "doc_id",
        partitionCols = Seq("split"), retainHistory = true)                     // v13
      Lake.restore(spark, out, 12L)                                             // v14: re-adds v13's pre-image
      val dead2 = Lake.vacuumKeeping(spark, out, keepVersions = 2)
      Lake.invalidateStateCache()
      assert(Lake.read(spark, out).count() == preCut,
        "the restored corpus must read back exactly after the restore-crossing cut")
      assert(Lake.readVersion(spark, out, 13L).count() == preCut - 1L,
        "the retained pre-restore version must stay readable")
      // nothing live was misclassified: a follow-up orphan sweep is a no-op
      assert(Lake.vacuum(spark, out).isEmpty)
      assert(Lake.read(spark, out).count() == preCut)
    } finally {
      spark.conf.unset(Lake.VacuumDistributeMinKey)
      spark.conf.unset(Lake.PathLazyMinFilesKey)
      spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
    }
  }

  test("identity-level path pruning: escaped values, the default partition and nullness bounds decide exactly") {
    import org.apache.spark.sql.types.StringType
    val out = freshDir("lake-ident-prune")
    val df = Seq((1L, "a/b c"), (2L, "plain"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "cat")
    Lake.init(spark, df.repartition(1), out, Seq("cat"))
    val st = Lake.latestManifest(spark, out).get
    val byDir = st.files.groupBy(_.takeWhile(_ != '/'))
    assert(byDir.size == 3, s"three partition dirs expected, got ${byDir.keys}")
    def prune(lo: Any, hi: Any) = Lake.pruneByStats(st, "cat", StringType, lo, hi)
    // equality on an ESCAPED value: the bound compares against the
    // UNESCAPED level value, so 'a/b c' keeps exactly its dir
    val esc = prune("a/b c", "a/b c")
    assert(esc.nonEmpty && esc.forall(f => !f.startsWith("cat=plain") &&
      !f.contains("HIVE_DEFAULT")), s"escaped-value equality must keep its dir only, got $esc")
    // a RANGE bound brackets by the level value; null-valued rows
    // (three-valued logic) never satisfy a value range
    val range = prune("o", "z")
    assert(range.nonEmpty && range.forall(_.startsWith("cat=plain")),
      s"range [o,z] must keep only cat=plain, got $range")
    // IS NULL keeps exactly the default partition; IS NOT NULL prunes it
    val isNull = Lake.pruneByStats(st,
      Seq(Lake.ColBound("cat", StringType, null, null, nullness = Some(true))))
    assert(isNull.nonEmpty && isNull.forall(_.contains("HIVE_DEFAULT")),
      s"IS NULL must keep only the default partition, got $isNull")
    val isNotNull = Lake.pruneByStats(st,
      Seq(Lake.ColBound("cat", StringType, null, null, nullness = Some(false))))
    assert(isNotNull.nonEmpty && isNotNull.forall(!_.contains("HIVE_DEFAULT")),
      s"IS NOT NULL must prune exactly the default partition, got $isNotNull")
    // NO ROW LOSS: each kept set still serves its predicate's rows
    assert(Lake.read(spark, out).filter(col("cat") === "a/b c").count() == 1L)
    assert(Lake.read(spark, out).filter(col("cat").isNull).count() == 1L)
  }

  test("resolved-state cache: re-resolving a version reads zero log files; a checkpoint replace misses and re-resolves") {
    val out = freshDir("lake-state-cache")
    writePlain(fixture(), out)
    Lake.adopt(spark, out)                                                     // v0
    (1 to 11).foreach(i => Pipeline.appendToLake(spark, out,
      spark.range(100L * i, 100L * i + 2).select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit("train").as("split"), lit(0).cast("int").as("shard_id"))))         // v1..v11, checkpoint at v10
    Lake.invalidateStateCache()
    val st1 = Lake.latestManifest(spark, out).get // cold: checkpoint + tail parse
    val before = Lake.logReads.get()
    val st2 = Lake.latestManifest(spark, out).get // warm
    assert(Lake.logReads.get() == before,
      "a cached re-resolve must read ZERO log files (the planner-call fast path)")
    assert(st2 == st1, "the cached state must be the resolved state, field for field")
    // a new commit is a new key: the next resolve sees it immediately
    Pipeline.appendToLake(spark, out, spark.range(5000, 5002).select(
      col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
      lit("train").as("split"), lit(0).cast("int").as("shard_id")))            // v12
    assert(Lake.latestManifest(spark, out).get.version == 12L)
    // vacuumKeeping REPLACES the retention-cut checkpoint in place — the
    // (len, mtime) signature must miss the stale entry and re-resolve the
    // rewritten history (a stale hit would resurrect reclaimed files)
    val preCut = Lake.stateAt(spark, out, 10L)
    // the miss happens INSIDE vacuumKeeping (its sweep re-resolves
    // `oldest` through the freshly-replaced checkpoint), so capture the
    // counter before the cut: a stale (len, mtime) hit anywhere in the
    // chain would keep the counter flat and resurrect reclaimed files
    val beforeCutReads = Lake.logReads.get()
    Lake.vacuumKeeping(spark, out, keepVersions = 3)
    val postCut = Lake.stateAt(spark, out, 10L)
    assert(Lake.logReads.get() > beforeCutReads,
      "the replaced checkpoint's new (len, mtime) must miss the cache and re-resolve")
    assert(postCut.files == preCut.files,
      "the retention cut must never change a version's live files")
    assert(Lake.read(spark, out).count() == 40 + 11 * 2 + 2)
  }

  test("null-count stats: IS NULL prunes zero-null files, IS NOT NULL prunes all-null files; DML and reads stay exact") {
    import org.apache.spark.sql.types.StringType
    val out = freshDir("lake-nullstats")
    def docs(ids: Range, lang: Long => Option[String]) =
      ids.map(i => (i.toLong, lang(i.toLong).orNull)).toDF("doc_id", "lang")
        .select(col("doc_id"), col("lang"), lit("train").as("split"))
    // one zero-null lake first: the directive case — IS NULL against a
    // fully-non-null file set prunes EVERYTHING (min/max and blooms are
    // blind to this predicate)
    val out0 = freshDir("lake-nonulls")
    Lake.init(spark, docs(0 until 10, _ => Some("en")).repartition(1),
      out0, Seq("split"))
    val st1 = Lake.latestManifest(spark, out0).get
    def isNullBound(wantNull: Boolean) =
      Seq(Lake.ColBound("lang", StringType, null, null, nullness = Some(wantNull)))
    assert(Lake.pruneByStats(st1, isNullBound(true)).isEmpty,
      "IS NULL on a zero-null lake must prune every file")
    // three doc_id-clustered files: all non-null / mixed / all null
    val corpus = docs(0 until 10, _ => Some("en"))
      .unionByName(docs(10 until 20, i => if (i % 2 == 0) Some("fr") else None))
      .unionByName(docs(20 until 30, _ => None))
      .repartitionByRange(3, col("doc_id")).sortWithinPartitions("doc_id")
    Lake.init(spark, corpus, out, Seq("split"))                                // v1
    val st = Lake.latestManifest(spark, out).get
    assert(st.files.size == 3)
    assert(st.files.forall(f => st.stats.get(f).exists(_.exists(
      _.col == "lang" + Lake.NullsStatSuffix))),
      "every audit path must record the per-file null count, got " +
        st.files.map(f => f -> st.stats.getOrElse(f, Seq.empty)
          .map(c => s"${c.col}=${c.min}")).mkString("; "))
    val keptNull = Lake.pruneByStats(st, isNullBound(true))
    assert(keptNull.size == 2, s"IS NULL must keep only null-holding files, got ${keptNull.size}")
    val keptNotNull = Lake.pruneByStats(st, isNullBound(false))
    assert(keptNotNull.size == 2,
      s"IS NOT NULL must drop the all-null file, got ${keptNotNull.size}")
    // no row loss through either pruned set
    assert(spark.read.option("basePath", out)
      .parquet(keptNull.map(f => s"$out/$f"): _*)
      .filter(col("lang").isNull).count() == 15)
    assert(spark.read.option("basePath", out)
      .parquet(keptNotNull.map(f => s"$out/$f"): _*)
      .filter(col("lang").isNotNull).count() == 15)
    // the sparse-WHERE extraction routes IsNull into the same bounds...
    val cands = Pipeline.sparseWhereCandidates(spark, out, st, col("lang").isNull)
    assert(cands.size == 2, s"the WHERE path must file-skip on IS NULL, got ${cands.size}")
    // ...and the delete lands exactly
    Pipeline.deleteFromLakeSparseWhere(spark, out, col("lang").isNull)          // v4
    val post = Lake.read(spark, out)
    assert(post.count() == 15 && post.filter(col("lang").isNull).count() == 0,
      "the IS NULL delete must remove exactly the null rows")
    assert(post.filter(col("lang") === "fr").count() == 5)
  }

  test("partition transforms: years/months complete the grammar; month path pruning; shared layout validation") {
    import org.apache.spark.sql.functions.expr
    val out = freshDir("lake-months")
    // 150 daily events: Nov 15 2025 .. Apr 13 2026, six ts_month levels
    def ev(ids: Range) = spark.range(ids.start, ids.end).select(
      col("id").as("event_id"),
      expr("timestampadd(DAY, CAST(id AS INT), TIMESTAMP'2025-11-15 00:00:00')").as("ts"),
      concat(lit("ev "), col("id")).as("note"))
    Lake.init(spark, ev(0 until 150), out, Seq("months(ts)"))                  // v1
    val st1 = Lake.latestManifest(spark, out).get
    assert(st1.files.forall(_.matches("ts_month=20(25|26)-\\d\\d/.*")),
      s"month transform must render ts_month levels, got ${st1.files.take(2)}")
    // MONTH-WINDOW PATH PRUNING: a December window keeps only the
    // 2025-12 dirs (ts stats are timestamps — not value-comparable —
    // so the path level is what prunes)
    val dec = Lake.pruneByStats(st1, "ts",
      org.apache.spark.sql.types.TimestampType,
      java.sql.Timestamp.valueOf("2025-12-03 00:00:00"),
      java.sql.Timestamp.valueOf("2025-12-28 00:00:00"))
    assert(dec.nonEmpty && dec.forall(_.startsWith("ts_month=2025-12/")),
      s"a December bound must keep only 2025-12 month dirs, got ${dec.take(3)}")
    // no row loss through the pruned set
    val decIds = spark.read.option("basePath", out)
      .parquet(dec.map(f => s"$out/$f"): _*)
      .filter(col("ts").between("2025-12-03", "2025-12-28"))
      .count()
    assert(decIds == 26L, s"December window must hold 26 daily events, got $decIds")
    // evolve the grain months -> days: a METADATA commit (zero files move)
    Lake.evolveLayout(spark, out, Seq("days(ts)"))                             // v2
    Lake.append(spark, out, ev(150 until 160))                                 // v3
    val st3 = Lake.latestManifest(spark, out).get
    assert(st3.files.filterNot(st1.files.toSet).forall(_.startsWith("ts_day=")),
      "post-evolve appends must land at day grain")
    assert(st1.files.forall(st3.files.toSet),
      "evolve must be metadata-only: every month-generation file survives")
    // mixed-generation read spans both grains
    val all = Lake.read(spark, out)
    assert(all.count() == 160 &&
      all.schema.fieldNames.toSet == Set("event_id", "ts", "note"))
    assert(all.agg(sum(col("event_id"))).head.getLong(0) == (0L until 160L).sum)
    // years(ts) parses, renders and validates too
    val outY = freshDir("lake-years")
    Lake.init(spark, ev(0 until 150), outY, Seq("years(ts)"))
    val stY = Lake.latestManifest(spark, outY).get
    assert(stY.files.map(_.split('/').head).toSet == Set("ts_year=2025", "ts_year=2026"))
    val y26 = Lake.pruneByStats(stY, "ts",
      org.apache.spark.sql.types.TimestampType,
      java.sql.Timestamp.valueOf("2026-02-01 00:00:00"), null)
    assert(y26.nonEmpty && y26.forall(_.startsWith("ts_year=2026/")),
      s"an open 2026 bound must prune the 2025 year dir, got ${y26.take(3)}")
    // SHARED VALIDATION GATE: every entry point refuses a transform
    // whose level would shadow a user column, and an identity column
    // spelled like another column's transform level
    val shadowFrame = ev(0 until 5).withColumn("ts_month", lit("user data"))
    val eShadow = intercept[IllegalArgumentException] {
      Lake.init(spark, shadowFrame, freshDir("lake-shadow"), Seq("months(ts)"))
    }
    assert(eShadow.getMessage.contains("collide"),
      s"init must refuse a shadowing transform, got: ${eShadow.getMessage}")
    val eSpelled = intercept[IllegalArgumentException] {
      Lake.init(spark, shadowFrame, freshDir("lake-spelled"), Seq("ts_month"))
    }
    assert(eSpelled.getMessage.contains("spelled like a transform"),
      s"init must refuse a transform-spelled identity column, got: ${eSpelled.getMessage}")
    val eAppend = intercept[IllegalArgumentException] {
      Pipeline.appendToLake(spark, freshDir("lake-append-shadow"), shadowFrame,
        idCol = "event_id", partitionCols = Seq("months(ts)"))
    }
    assert(eAppend.getMessage.contains("collide"),
      "a first-ever ingest must pass the same layout gate")
    val eType = intercept[IllegalArgumentException] {
      Lake.init(spark, ev(0 until 5), freshDir("lake-badtype"), Seq("years(note)"))
    }
    assert(eType.getMessage.contains("timestamp"))
    // repartitionLake records the NORMALIZED spelling: whitespace
    // variation can never defeat evolveLayout's no-op detection
    Pipeline.repartitionLake(spark, out, Seq("bucket( 4,  event_id )"))        // v4
    val st4 = Lake.latestManifest(spark, out).get
    assert(st4.layout.contains(Seq("bucket(4, event_id)")),
      s"repartitionLake must record normalized specs, got ${st4.layout}")
    assert(Lake.read(spark, out).count() == 160)
  }

  test("partition transforms: bucket(n, col) and truncate(w, col) layouts round-trip") {
    val out = freshDir("lake-bucket")
    writePlain(fixture(), out) // plain seed, then re-init under a bucket layout
    Lake.init(spark, fixture(), out, Seq("bucket(4, doc_id)", "truncate(3, text)"))
    val st = Lake.latestManifest(spark, out).get
    assert(st.files.forall(f =>
      f.matches("doc_id_bucket4=\\d/text_trunc3=doc/.*")),
      s"bucket+truncate levels must render self-describing names, got ${st.files.take(2)}")
    val back = Lake.read(spark, out)
    assert(back.count() == 40 &&
      back.schema.fieldNames.toSet == Set("doc_id", "text", "split", "shard_id"))
    assert(ids(back) == (0L until 40L).toSet)
    // BUCKET PATH PRUNING: an equality bound keeps only the bound
    // value's bucket (the level name carries the count, so the bucket
    // recomputes exactly); the kept bucket still holds the row
    val eqHit = Lake.pruneByStats(st, "doc_id",
      org.apache.spark.sql.types.LongType, 7L, 7L)
    assert(eqHit.nonEmpty && eqHit.size < st.files.size,
      s"an equality bound must prune to one bucket, kept ${eqHit.size}/${st.files.size}")
    assert(eqHit.map(_.split('/').head).toSet.size == 1,
      s"all kept files must share one bucket level, got $eqHit")
    // a RANGE bound cannot map through the bucket HASH, but footer value
    // stats legitimately prune by doc_id min/max — the invariant is
    // NO ROW LOSS: the kept set must still hold every id in [5, 9]
    val rangeKept = Lake.pruneByStats(st, "doc_id",
      org.apache.spark.sql.types.LongType, 5L, 9L)
    assert(rangeKept.nonEmpty)
    val rangeIds = spark.read.option("basePath", out)
      .parquet(rangeKept.map(f => s"$out/$f"): _*)
      .filter(col("doc_id").between(5L, 9L))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rangeIds == (5L to 9L).toSet,
      s"range pruning must lose no rows in [5,9]; kept ${rangeKept.size}/" +
        s"${st.files.size} files holding $rangeIds")
    // TRUNCATE PATH PRUNING: a string window brackets by prefix
    val tHit = Lake.pruneByStats(st, "text",
      org.apache.spark.sql.types.StringType, "xyz", "xyz")
    assert(tHit.isEmpty, "a prefix outside every text_trunc3 level must prune all files")
    assert(Lake.pruneByStats(st, "text",
      org.apache.spark.sql.types.StringType, "doc 7", "doc 7").nonEmpty)
    // mixed identity + transform: evolve to (split, bucket(2, doc_id))
    Lake.evolveLayout(spark, out, Seq("split", "bucket(2, doc_id)"))
    Lake.append(spark, out,
      Seq((100L, "doc 100", "train", 0)).toDF("doc_id", "text", "split", "shard_id"))
    val st2 = Lake.latestManifest(spark, out).get
    val nf = st2.files.filterNot(st.files.toSet)
    assert(nf.nonEmpty && nf.forall(_.matches("split=train/doc_id_bucket2=[01]/.*")),
      s"identity+transform layouts must interleave, got $nf")
    // cross-generation equality pruning stays exact: bucket4 files prune
    // by THEIR count, bucket2 files by theirs — both from the path alone
    val eqHit2 = Lake.pruneByStats(st2, "doc_id",
      org.apache.spark.sql.types.LongType, 100L, 100L)
    assert(eqHit2.exists(_.startsWith("split=train/doc_id_bucket2=")) &&
      eqHit2.size < st2.files.size,
      s"mixed-generation bucket pruning must keep 100's buckets only, got $eqHit2")
    val all = Lake.read(spark, out)
    assert(all.count() == 41 && ids(all) == ((0L until 40L).toSet + 100L))
    assert(all.filter(col("doc_id") === 100L).select("split").head.getString(0) == "train",
      "the identity level still decodes from the path")
  }

  test("retention cut on a dv-lazy lake: liveness derives via scoped jobs, retained time travel keeps its vectors, zero whole-map forces") {
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "8")
    spark.conf.set(Lake.PathLazyMinFilesKey, "1")
    spark.conf.set(Lake.DvLazyMinPairsKey, "1")
    spark.conf.set(Lake.VacuumDistributeMinKey, "1")
    try {
      val out = freshDir("lake-dvlazy-retention")
      def batch(ids: Range, split: String) = spark.range(ids.start, ids.end).select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit(split).as("split")).coalesce(1)
      Lake.init(spark, batch(0 until 200, "train")
        .unionByName(batch(100000 until 100100, "test")), out, Seq("split"))  // v1
      Pipeline.deleteFromLakeSparse(spark, out,
        ((0L until 200L by 13L) :+ 100001L).toDF("doc_id"), "doc_id")         // v2: 17 pairs
      (1 to 8).foreach(i => Pipeline.appendToLake(spark, out,
        batch(1000 * i until 1000 * i + 10, "train"),
        partitionCols = Seq("split")))                                        // v3..v10: columnar cp
      Pipeline.deleteFromLakeSparse(spark, out,
        Seq(5L, 100003L).toDF("doc_id"), "doc_id")                            // v11: tail pairs
      Lake.invalidateStateCache()
      val st = Lake.latestManifest(spark, out).get
      assert(st.dvs.isInstanceOf[Lake.DeferredDvs])
      val total = 200L + 100L + 80L - 17L - 2L
      // the CUT: keep v10..v11 — its live set derives from the oldest
      // retained state's deltas, sidecar liveness from scoped jobs, and
      // the rewritten checkpoint folds the V rows forward in-job
      val dvF0 = Lake.dvForceJobs.get()
      Lake.vacuumKeeping(spark, out, keepVersions = 2)
      assert(Lake.dvForceJobs.get() == dvF0,
        "a retention cut must never materialize the deferred attachment map")
      Lake.invalidateStateCache()
      assert(Lake.read(spark, out).count() == total)
      // time travel at the cut (v10) still applies v2's vectors exactly
      assert(Lake.readVersion(spark, out, 10L).count() == total + 2L)
      assert(Lake.dvForceJobs.get() == dvF0)
      // and the post-cut state still resolves dv-lazy with the tail
      val st2 = Lake.latestManifest(spark, out).get
      assert(st2.dvs.isInstanceOf[Lake.DeferredDvs],
        "the rewritten checkpoint must keep the attachment map deferred")
    } finally {
      spark.conf.unset(Lake.VacuumDistributeMinKey)
      spark.conf.unset(Lake.DvLazyMinPairsKey)
      spark.conf.unset(Lake.PathLazyMinFilesKey)
      spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
    }
  }

  test("deferred sidecar lists: VH/CF stay in the entries; vacuum's sidecar census runs as a job with zero whole-list forces and directory-bounded driver fs ops") {
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "2")
    spark.conf.set(Lake.PathLazyMinFilesKey, "1")
    spark.conf.set(Lake.DvLazyMinPairsKey, "1")
    spark.conf.set(Lake.VacuumDistributeMinKey, "1")
    try {
      val out = freshDir("lake-sidecar-lazy")
      def batch(ids: Range, split: String) = spark.range(ids.start, ids.end).select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit(split).as("split")).coalesce(1)
      Lake.init(spark, batch(0 until 200, "train")
        .unionByName(batch(100000 until 100100, "test")), out, Seq("split"))   // v1
      Pipeline.deleteFromLakeSparse(spark, out,
        Seq(3L, 100001L).toDF("doc_id"), "doc_id")                             // v2: V + CDC
      Pipeline.deleteFromLake(spark, out, Seq(5L).toDF("doc_id"), "doc_id",
        partitionCols = Seq("split"), retainHistory = true)                    // v3: rewrite DETACHES v2's train attachment → VH
      Lake.checkpointNow(spark, out) // columnar: F/H/V/VH/CF all in entries
      Pipeline.deleteFromLakeSparse(spark, out,
        Seq(7L).toDF("doc_id"), "doc_id")                                      // v4: tails
      Lake.invalidateStateCache()
      val st = Lake.latestManifest(spark, out).get
      assert(st.dvHistory.isInstanceOf[Lake.DeferredHistory] &&
        st.cdc.isInstanceOf[Lake.DeferredHistory],
        "a path-lazy state must defer its VH/CF sidecar lists too")
      assert(st.dvHistory.asInstanceOf[Lake.DeferredHistory].cpHistory >= 1,
        "the rewrite must have detached v2's train attachment into VH")
      assert(st.cdc.asInstanceOf[Lake.DeferredHistory].cpHistory >= 1,
        "the feed sidecars must ride the entries as CF rows")
      val total = 300L - 2L - 1L - 1L
      // the vacuum's sidecar census runs as a job: live tops from the
      // entries' V/VH/CF rows + the driver tails, the root listings in
      // tasks — no deferred list ever materializes and the driver's own
      // filesystem traffic stays directory-bounded
      val forces0 = Lake.pathForceJobs.get()
      val dvF0 = Lake.dvForceJobs.get()
      val ops0 = Lake.vacuumDriverFsOps.get()
      val dead = Lake.vacuum(spark, out)
      assert(dead.isEmpty, s"a clean lake has nothing to vacuum, got $dead")
      assert(Lake.pathForceJobs.get() == forces0 &&
        Lake.dvForceJobs.get() == dvF0,
        "the sidecar census must never materialize a deferred list")
      val ops = Lake.vacuumDriverFsOps.get() - ops0
      assert(ops <= 10,
        s"driver filesystem calls must be directory-bounded, got $ops")
      // the lake still answers exactly (the unpruned read's one
      // soft-cached path materialization is the px134-allowed cost),
      // and an incremental checkpoint folds the VH/CF rows forward
      // inside the entries job
      assert(Lake.read(spark, out).count() == total)
      val forces1 = Lake.pathForceJobs.get()
      Lake.checkpointNow(spark, out)
      assert(Lake.pathForceJobs.get() == forces1 &&
        Lake.dvForceJobs.get() == dvF0,
        "the checkpoint fold must carry VH/CF without materializing them")
      Lake.invalidateStateCache()
      val st2 = Lake.latestManifest(spark, out).get
      assert(st2.dvHistory.isInstanceOf[Lake.DeferredHistory] &&
        st2.cdc.isInstanceOf[Lake.DeferredHistory])
      assert(Lake.read(spark, out).count() == total)
      // materializing (rare: legacy fallbacks) still yields the exact
      // sets the eager resolution computes
      spark.conf.set(Lake.LazyStatsKey, "false")
      Lake.invalidateStateCache()
      val eagerSt = Lake.latestManifest(spark, out).get
      assert(st2.dvHistory.toSet == eagerSt.dvHistory.toSet,
        "the deferred VH list must materialize to the eager set")
      assert(st2.cdc.toSet == eagerSt.cdc.toSet,
        "the deferred CF list must materialize to the eager set")
      spark.conf.unset(Lake.LazyStatsKey)
    } finally {
      spark.conf.unset(Lake.VacuumDistributeMinKey)
      spark.conf.unset(Lake.DvLazyMinPairsKey)
      spark.conf.unset(Lake.PathLazyMinFilesKey)
      spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
    }
  }

  test("reader grace: a deferred list forced AFTER a retention cut still materializes; the retired dir reclaims on the next vacuum") {
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "8")
    spark.conf.set(Lake.PathLazyMinFilesKey, "1")
    try {
      val out = freshDir("lake-reader-grace")
      def batch(ids: Range, split: String) = spark.range(ids.start, ids.end).select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit(split).as("split"))
      Lake.init(spark, batch(0 until 100, "train")
        .unionByName(batch(100000 until 100100, "test")), out, Seq("split"))  // v1
      Pipeline.deleteFromLake(spark, out, Seq(5L).toDF("doc_id"), "doc_id",
        partitionCols = Seq("split"), retainHistory = true)                    // v2
      Lake.checkpointNow(spark, out) // columnar cp AT v2
      Pipeline.appendToLake(spark, out, batch(200000 until 200010, "test"),
        partitionCols = Seq("split"))                                          // v3
      Pipeline.deleteFromLake(spark, out, Seq(7L).toDF("doc_id"), "doc_id",
        partitionCols = Seq("split"), retainHistory = true)                    // v4
      Lake.invalidateStateCache()
      val st = Lake.latestManifest(spark, out).get // the LIVE reader's state
      val dfl = st.files.asInstanceOf[Lake.DeferredFiles]
      val entriesPath = new java.io.File(new java.net.URI(
        if (dfl.entriesDir.startsWith("file:")) dfl.entriesDir
        else "file://" + dfl.entriesDir))
      // the CONCURRENT retention cut replaces v2's checkpoint (oldest
      // retained = v2): under the default grace the old entries dir is
      // RETIRED with a marker, never deleted out from under the reader
      Lake.vacuumKeeping(spark, out, keepVersions = 3)
      assert(entriesPath.exists, "the replaced entries dir must survive the grace window")
      val marker = new java.io.File(entriesPath.getParentFile,
        entriesPath.getName + ".retired")
      assert(marker.exists, "the cut must mark the replaced dir retired")
      // forcing the reader's deferred list AFTER the cut still works
      assert(st.files.iterator.size == st.files.size,
        "a deferred list forced within the window must materialize")
      assert(Lake.readState(spark, out, st).count() == 208L)
      // the FOLLOWING maintenance pass reclaims it once the window is
      // spent (grace lowered to zero here)
      spark.conf.set(Lake.ReplacedEntriesGraceMsKey, "0")
      Lake.invalidateStateCache()
      Lake.vacuum(spark, out)
      assert(!entriesPath.exists && !marker.exists,
        "the expired retiree must reclaim on the next vacuum")
      // the lake itself reads exactly through the NEW checkpoint
      assert(Lake.read(spark, out).count() == 208L)
      // BELOW-CUT shape (the common retention geometry): a reader holds
      // the CURRENT checkpoint's entries, then a cut moves oldest ABOVE
      // that checkpoint's version — the dir must retire with the same
      // grace, not delete out from under the reader
      spark.conf.unset(Lake.ReplacedEntriesGraceMsKey) // back to 15 min
      Pipeline.appendToLake(spark, out, batch(300000 until 300010, "test"),
        partitionCols = Seq("split"))                                        // v5
      Lake.checkpointNow(spark, out) // columnar cp at v5
      Pipeline.appendToLake(spark, out, batch(400000 until 400010, "test"),
        partitionCols = Seq("split"))                                        // v6
      Lake.invalidateStateCache()
      val st2 = Lake.latestManifest(spark, out).get // reader over v5's entries
      val dfl2 = st2.files.asInstanceOf[Lake.DeferredFiles]
      val entries2 = new java.io.File(new java.net.URI(
        if (dfl2.entriesDir.startsWith("file:")) dfl2.entriesDir
        else "file://" + dfl2.entriesDir))
      Lake.vacuumKeeping(spark, out, keepVersions = 1) // oldest = v6 > v5
      assert(entries2.exists,
        "a below-cut entries dir must retire, not delete, within the grace")
      assert(new java.io.File(entries2.getParentFile,
        entries2.getName + ".retired").exists,
        "the below-cut sweep must mark the dir retired")
      assert(st2.files.iterator.size == st2.files.size,
        "the pre-cut reader's deferred list must still materialize")
    } finally {
      spark.conf.unset(Lake.ReplacedEntriesGraceMsKey)
      spark.conf.unset(Lake.PathLazyMinFilesKey)
      spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
    }
  }

  test("content-sensitive torn check: a same-count corruption of one entries path trips the checksum, not a silent wrong answer") {
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "8")
    spark.conf.set(Lake.PathLazyMinFilesKey, "1")
    try {
      val out = freshDir("lake-torn-content")
      def batch(ids: Range, split: String) = spark.range(ids.start, ids.end).select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit(split).as("split"))
      Lake.init(spark, batch(0 until 100, "train")
        .unionByName(batch(100000 until 100100, "test")), out, Seq("split"))  // v1
      (1 to 9).foreach(i => Pipeline.appendToLake(spark, out,
        batch(1000 * i until 1000 * i + 10, "train"),
        partitionCols = Seq("split")))                                        // v2..v10 (cp)
      Lake.invalidateStateCache()
      val st = Lake.latestManifest(spark, out).get
      val entriesDir = st.files.asInstanceOf[Lake.DeferredFiles].entriesDir
      // corrupt ONE F row's path, COUNT PRESERVED: the count-only torn
      // check of earlier rounds would sail through this
      val rows = spark.read.schema(Lake.CpEntrySchema).parquet(entriesDir).collect()
      assert(rows.count(_.getString(0) == "F") > 0)
      var flipped = false
      val doctored = rows.map { r =>
        if (!flipped && r.getString(0) == "F") {
          flipped = true
          org.apache.spark.sql.Row(r.getString(0), r.getString(1) + ".evil",
            if (r.isNullAt(2)) null else r.getString(2),
            if (r.isNullAt(3)) null else r.getSeq[org.apache.spark.sql.Row](3))
        } else r
      }
      val tmp = entriesDir + ".tmp"
      spark.createDataFrame(
        spark.sparkContext.parallelize(doctored.toSeq, 1), Lake.CpEntrySchema)
        .write.parquet(tmp)
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(entriesDir), true)
      fs.rename(new org.apache.hadoop.fs.Path(tmp),
        new org.apache.hadoop.fs.Path(entriesDir))
      Lake.invalidateStateCache()
      val e = intercept[IllegalStateException] {
        Lake.latestManifest(spark, out).get
        Lake.read(spark, out).count()
      }
      assert(e.getMessage.contains("checksum"),
        s"the content check must name the checksum mismatch, got: ${e.getMessage}")
    } finally {
      spark.conf.unset(Lake.PathLazyMinFilesKey)
      spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
    }
  }

  test("dv-lazy states: the driver pins O(tail) attachment entries; reads, time travel, restore, consolidation and checkpoints never force the map") {
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "8")
    spark.conf.set(Lake.PathLazyMinFilesKey, "1")
    spark.conf.set(Lake.DvLazyMinPairsKey, "1")
    try {
      val out = freshDir("lake-dvlazy")
      def batch(ids: Range, split: String) = spark.range(ids.start, ids.end).select(
        col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"),
        lit(split).as("split")).coalesce(1)
      Lake.init(spark, batch(0 until 200, "train")
        .unionByName(batch(100000 until 100100, "test")), out, Seq("split"))  // v1
      Pipeline.deleteFromLakeSparse(spark, out,
        ((0L until 200L by 13L) :+ 100001L).toDF("doc_id"), "doc_id")         // v2: 17 pairs
      (1 to 8).foreach(i => Pipeline.appendToLake(spark, out,
        batch(1000 * i until 1000 * i + 10, "train"),
        partitionCols = Seq("split")))                                        // v3..v10: columnar cp
      Lake.invalidateStateCache()
      val st0 = Lake.latestManifest(spark, out).get
      assert(st0.dvs.isInstanceOf[Lake.DeferredDvs],
        "above the dv-lazy threshold the attachment map must be deferred")
      assert(Lake.pinnedDvCount(st0) == 0L,
        "a just-checkpointed state pins zero attachment entries")
      Pipeline.deleteFromLakeSparse(spark, out,
        Seq(5L, 1001L, 100003L).toDF("doc_id"), "doc_id")                     // v11: the tail
      Lake.invalidateStateCache()
      val st = Lake.latestManifest(spark, out).get
      assert(st.dvs.isInstanceOf[Lake.DeferredDvs])
      assert(Lake.pinnedDvCount(st) == 3L,
        s"the state must pin only the tail pairs, got ${Lake.pinnedDvCount(st)}")
      val total = 200L + 100L + 80L - 17L - 3L
      // full reads (manifest path AND DSv2), a pruned MoR read, and time
      // travel are exact with ZERO whole-map forces — file relevance
      // resolves inside a job over the entries' V rows
      val dvF0 = Lake.dvForceJobs.get()
      assert(Lake.read(spark, out).count() == total)
      assert(spark.read.format("graft-lake").load(out).count() == total)
      assert(spark.read.format("graft-lake").load(out)
        .filter(col("split") === "test").count() == 98L)
      assert(Lake.readVersion(spark, out, 10L).count() == total + 3L)
      assert(Lake.dvForceJobs.get() == dvF0,
        "MoR reads must never materialize the deferred attachment map")
      assert(Lake.pinnedDvCount(st) == 3L,
        "a read must not pin the attachment map on the state")
      // the scoped accessors agree with an EAGER resolution of the log
      spark.conf.set(Lake.DvLazyMinPairsKey, "1000000000")
      Lake.invalidateStateCache()
      val eagerSt = Lake.latestManifest(spark, out).get
      assert(!eagerSt.dvs.isInstanceOf[Lake.DeferredDvs])
      assert(Lake.distinctLiveSidecars(spark, st.dvs) ==
        Lake.distinctLiveSidecars(spark, eagerSt.dvs))
      val dvdFiles = eagerSt.dvs.keys.toSeq.sorted
      assert(Lake.dvsFor(spark, st.dvs, dvdFiles)
        .view.mapValues(_.toSet).toMap ==
        eagerSt.dvs.view.mapValues(_.toSet).toMap,
        "scoped attachment fetch must equal the eager map")
      assert(Lake.dvdFileCount(spark, st.dvs) == eagerSt.dvs.size)
      spark.conf.set(Lake.DvLazyMinPairsKey, "1")
      Lake.invalidateStateCache()
      // RESTORE across the tail delete: the dv diff runs as subtract
      // jobs (O(diff) driver traffic), the re-add re-attaches exactly
      // the target's vectors, and the map never forces
      val dvF1 = Lake.dvForceJobs.get()
      Lake.restore(spark, out, 10L)                                           // v12
      assert(Lake.dvForceJobs.get() == dvF1,
        "restore's dv diff must run as jobs, never a whole-map force")
      Lake.invalidateStateCache()
      assert(Lake.read(spark, out).count() == total + 3L)
      // STACKED attachments fold lazily too: two tail deletes hit the
      // same (coalesced) train file, consolidation derives the stack in
      // a scoped job and the fold preserves the corpus
      Pipeline.deleteFromLakeSparse(spark, out, Seq(7L).toDF("doc_id"), "doc_id")
      Pipeline.deleteFromLakeSparse(spark, out, Seq(9L).toDF("doc_id"), "doc_id")
      Lake.invalidateStateCache()
      val folded = Lake.compactDeletionVectors(spark, out)
      assert(folded.nonEmpty && folded.values.forall(_ == 3),
        s"the stacked train file must fold its three sidecars (v2 + the " +
          s"two tail deletes), got $folded")
      assert(Lake.dvForceJobs.get() == dvF1,
        "consolidation must never force the deferred map")
      Lake.invalidateStateCache()
      assert(Lake.read(spark, out).count() == total + 1L)
      // the INCREMENTAL checkpoint folds V rows forward inside the
      // entries job; the next resolve defers again with an empty tail
      val dvF2 = Lake.dvForceJobs.get()
      Lake.checkpointNow(spark, out)
      assert(Lake.dvForceJobs.get() == dvF2,
        "the checkpoint fold must never materialize the attachment map")
      Lake.invalidateStateCache()
      val st2 = Lake.latestManifest(spark, out).get
      assert(st2.dvs.isInstanceOf[Lake.DeferredDvs] &&
        Lake.pinnedDvCount(st2) == 0L,
        s"the folded checkpoint re-defers with an empty tail, " +
          s"pinned ${Lake.pinnedDvCount(st2)}")
      assert(Lake.read(spark, out).count() == total + 1L)
      assert(Lake.dvForceJobs.get() == dvF2)
    } finally {
      spark.conf.unset(Lake.DvLazyMinPairsKey)
      spark.conf.unset(Lake.PathLazyMinFilesKey)
      spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
    }
  }
}
