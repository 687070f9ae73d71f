package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators.{Lake, Pipeline}

/** The named-catalog surface: `graft_lake.<table>` resolves lakes by
  * name through [[graft.sources.lake.LakeCatalog]], with standard
  * `VERSION AS OF` / `TIMESTAMP AS OF` syntax and the full DML surface
  * (INSERT / DELETE / MERGE) — all through the same commit protocol and
  * scan machinery as the path-based format string. */
class LakeCatalogSpec extends SparkTestBase {

  import spark.implicits._

  private def fixture(ids: Range) =
    ids.map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
      .select(col("doc_id"), col("text"),
        when(col("doc_id") < 100, "train").otherwise("test").as("split"),
        (col("doc_id") % 2).cast("int").as("shard_id"))

  private lazy val whDir =
    java.nio.file.Files.createTempDirectory("graft-lake-wh").toString

  /** Set the catalog confs and DROP the session's cached catalog
    * instance — another suite (e.g. px121 via QueriesSpec) may have
    * initialized `graft_lake` WITHOUT a warehouse, and Spark caches
    * catalog plugins per session on first use. */
  private def wh: String = {
    spark.conf.set("spark.sql.catalog.graft_lake", "graft.sources.lake.LakeCatalog")
    spark.conf.set("spark.sql.catalog.graft_lake.warehouse", whDir)
    org.apache.spark.sql.graft.ColumnBridge.resetCatalogManager(spark)
    whDir
  }

  test("named reads: SELECT FROM graft_lake.t, VERSION AS OF and TIMESTAMP AS OF match the option() forms") {
    val out = s"$wh/corpus"
    Lake.init(spark, fixture(0 until 40), out, Seq("split", "shard_id"))   // v1
    Pipeline.appendToLake(spark, out, fixture(40 until 50))                // v2
    assert(spark.sql("SELECT count(*) FROM graft_lake.corpus").head.getLong(0) == 50L)
    // VERSION AS OF == option("version")
    val v1Sql = spark.sql("SELECT doc_id FROM graft_lake.corpus VERSION AS OF 1")
      .collect().map(_.getLong(0)).toSet
    val v1Opt = spark.read.format("graft-lake").option("version", 1L).load(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(v1Sql == v1Opt && v1Sql == (0L until 40L).toSet,
      s"VERSION AS OF 1 must equal the option-pinned read, got ${v1Sql.size}")
    // TIMESTAMP AS OF now == latest (micros-to-millis conversion exact)
    val nowMs = System.currentTimeMillis() + 60000L
    val ts = new java.sql.Timestamp(nowMs).toString.takeWhile(_ != '.')
    assert(spark.sql(
      s"SELECT count(*) FROM graft_lake.corpus TIMESTAMP AS OF '$ts'")
      .head.getLong(0) == 50L)
    // a missing table names itself
    val e = intercept[Exception] { spark.sql("SELECT * FROM graft_lake.nope").collect() }
    assert(e.getMessage.toLowerCase.contains("nope"))
  }

  test("named DML: INSERT, DELETE and MERGE against graft_lake.t land as protocol commits") {
    val out = s"$wh/dml"
    Lake.init(spark, fixture(0 until 20), out, Seq("split", "shard_id"))   // v1
    fixture(20 until 25).createOrReplaceTempView("cat_batch")
    spark.sql("INSERT INTO graft_lake.dml BY NAME SELECT * FROM cat_batch") // v2
    assert(Lake.read(spark, out).count() == 25)
    spark.sql("DELETE FROM graft_lake.dml WHERE doc_id >= 20")              // v3: sparse
    assert(Lake.read(spark, out).count() == 20)
    val h3 = Lake.describeHistory(spark, out).collect().find(_.getLong(0) == 3L).get
    assert(h3.getString(2) == "delete" && h3.getInt(5) == 0, "named DELETE lands sparse")
    spark.sql("""MERGE INTO graft_lake.dml t USING cat_batch s ON t.doc_id = s.doc_id
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")     // v4
    assert(Lake.read(spark, out).count() == 25, "the merge re-inserts the deleted ids")
  }

  test("CREATE TABLE commits an empty unpartitioned lake that INSERT bootstraps; DROP deletes; partitioned create refuses") {
    val w = wh // register the catalog first (order-independent under -z)
    spark.sql("CREATE TABLE graft_lake.scratch (doc_id BIGINT, text STRING)")
    assert(spark.sql("SELECT count(*) FROM graft_lake.scratch").head.getLong(0) == 0L)
    spark.sql("INSERT INTO graft_lake.scratch VALUES (1, 'a'), (2, 'b')")
    assert(spark.sql("SELECT count(*) FROM graft_lake.scratch").head.getLong(0) == 2L)
    // the insert went through the protocol: an audited append commit
    val hist = Lake.describeHistory(spark, s"$w/scratch").collect()
    assert(hist.exists(r => r.getString(2) == "append"))
    spark.sql("DROP TABLE graft_lake.scratch")
    intercept[Exception] { spark.sql("SELECT * FROM graft_lake.scratch").collect() }
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE graft_lake.p2 (a BIGINT, b STRING) PARTITIONED BY (b)")
    }
    assert(e.getMessage.contains("partition"),
      s"partitioned create must refuse naming the reason, got: ${e.getMessage}")
    // a LOCATION that disagrees with the name-derived path would be
    // silently lost on the next loadTable (the catalog has no metastore
    // to record it) — it must refuse loudly, not create the lake where
    // the name will never find it
    val el = intercept[Exception] {
      spark.sql("CREATE TABLE graft_lake.p3 (a BIGINT) USING `graft-lake` " +
        "LOCATION '/tmp/somewhere-else'")
    }
    assert(el.getMessage.contains("LOCATION") && el.getMessage.contains("name-derived"),
      s"divergent LOCATION must refuse naming the reason, got: ${el.getMessage}")
    assert(!spark.catalog.tableExists("graft_lake.p3"))
    // a LOCATION that AGREES with the derived path but is spelled
    // differently (scheme-qualified, trailing slash, double slash) is the
    // same filesystem identity — it must be accepted, not falsely refused
    for ((spelling, name) <- Seq(s"file:$w/ok1" -> "ok1", s"$w/ok2/" -> "ok2",
        s"${w.stripSuffix("/")}//ok3" -> "ok3")) {
      spark.sql(s"CREATE TABLE graft_lake.$name (a BIGINT) USING `graft-lake` " +
        s"LOCATION '$spelling'")
      assert(spark.sql(s"SELECT count(*) FROM graft_lake.$name").head.getLong(0) == 0L,
        s"equivalent LOCATION spelling '$spelling' must create the lake at the derived path")
      spark.sql(s"DROP TABLE graft_lake.$name")
    }
  }

  test("ALTER TABLE routes rename/drop as metadata commits; other changes refuse") {
    val out = s"$wh/evolve"
    Lake.init(spark, fixture(0 until 10), out, Seq("split", "shard_id"))        // v1
    spark.sql("ALTER TABLE graft_lake.evolve RENAME COLUMN text TO body")       // v2
    val renamed = spark.sql("SELECT doc_id, body FROM graft_lake.evolve").collect()
    assert(renamed.length == 10 && renamed.forall(_.getString(1) != null),
      "the renamed column must read its old values by name")
    spark.sql("ALTER TABLE graft_lake.evolve DROP COLUMN body")                 // v3
    assert(!spark.table("graft_lake.evolve").schema.fieldNames.contains("body"))
    // both landed as metadata commits: zero files added or removed
    val hist = Lake.describeHistory(spark, out).collect()
    assert(hist.filter(r => Set("rename", "drop")(r.getString(2)))
      .forall(r => r.getInt(3) == 0 && r.getInt(5) == 0))
    // a retype refuses loudly — Spark's capability check rejects it
    // before our catalog (narrowing BIGINT->INT), and our alterTable
    // names the rewrite for anything that slips through
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft_lake.evolve ALTER COLUMN doc_id TYPE INT")
    }
    assert(e.getMessage.contains("rewrite") ||
      e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"),
      s"a retype must refuse, got: ${e.getMessage}")
  }

  test("path-addressed tables: graft_lake.`/abs/path` reads a lake outside the warehouse") {
    val dir = java.nio.file.Files.createTempDirectory("lake-bypath").toString + "/lake"
    Lake.init(spark, fixture(0 until 7), dir, Seq("split", "shard_id"))
    assert(spark.sql(s"SELECT count(*) FROM graft_lake.`$dir`").head.getLong(0) == 7L)
  }

  test("metadata tables: $history/$files/$txns behind SELECT, with AS-OF pinning on the census") {
    val out = s"$wh/meta"
    Lake.init(spark, fixture(0 until 20), out, Seq("split", "shard_id"))          // v1
    Pipeline.appendToLake(spark, out, fixture(20 until 30))                       // v2
    Pipeline.deleteFromLakeSparse(spark, out, Seq(3L).toDF("doc_id"), "doc_id")   // v3
    fixture(30 until 32).write.format("graft-lake")
      .option("txnAppId", "cat-loader").option("txnVersion", "7")
      .mode("append").save(out)                                                   // v4

    val hist = spark.sql(
      "SELECT version, action FROM graft_lake.`meta$history` ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(hist == Seq((1L, "init"), (2L, "append"), (3L, "delete"), (4L, "append")))

    // $files mirrors the manifest census exactly; the sparse delete's
    // attachment is counted on its one file
    val files = spark.sql(
      "SELECT path, n_dv_sidecars FROM graft_lake.`meta$files`").collect()
    val st = Lake.currentState(spark, out)
    assert(files.map(_.getString(0)).toSet == st.files.toSet)
    assert(files.map(_.getInt(1)).sum == 1,
      "exactly one file carries the sparse delete's vector")

    // the census pins: VERSION AS OF 1 is v1's file set, zero vectors
    val v1Files = spark.sql(
      "SELECT path, n_dv_sidecars FROM graft_lake.`meta$files` VERSION AS OF 1").collect()
    assert(v1Files.map(_.getString(0)).toSet ==
      Lake.stateAt(spark, out, 1L).files.toSet)
    assert(v1Files.forall(_.getInt(1) == 0))

    // every audit records per-file numRecords — $files surfaces it and
    // the corpus total is exact (Delta numRecords / Iceberg record_count)
    val fileRows = spark.sql(
      "SELECT n_rows, n_bytes, path FROM graft_lake.`meta$files`").collect()
    assert(fileRows.forall(!_.isNullAt(0)), "every committed file is counted")
    assert(fileRows.map(_.getLong(0)).sum == 32L,
      "per-file numRecords must sum to the written corpus")
    // $files surfaces the recorded add.size too — and it matches the
    // on-disk truth, with zero filesystem stats on the serving path
    val hfs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val q = hfs.makeQualified(new org.apache.hadoop.fs.Path(out))
    fileRows.foreach { r =>
      assert(!r.isNullAt(1), s"every committed file is sized: ${r.getString(2)}")
      assert(r.getLong(1) == hfs.getFileStatus(
        new org.apache.hadoop.fs.Path(q, r.getString(2))).getLen,
        s"recorded n_bytes must equal the on-disk size for ${r.getString(2)}")
    }

    // $partitions is the fragmentation dashboard: per-dir file counts
    // summing to the census, the sparse delete's vector on its partition
    val parts = spark.sql(
      "SELECT partition, n_files, n_rows, n_dv_sidecars FROM graft_lake.`meta$partitions`")
      .collect()
    assert(parts.map(_.getInt(1)).sum == st.files.size)
    assert(parts.forall(_.getString(0).contains("split=")))
    assert(parts.map(_.getLong(2)).sum == 32L,
      "partition record_count totals must sum to the corpus")
    assert(parts.map(_.getInt(3)).sum == 1)

    // $txns surfaces the idempotent-write watermark
    val txns = spark.sql(
      "SELECT app_id, last_version FROM graft_lake.`meta$txns`").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(txns == Seq(("cat-loader", 7L)))

    // $history refuses pinning rather than truncating ambiguously
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_lake.`meta$history` VERSION AS OF 2").collect()
    }
    assert(e.getMessage.contains("full retained log"))

    // metadata tables are read-only: the insert has no write surface
    intercept[Exception] {
      spark.sql("INSERT INTO graft_lake.`meta$txns` VALUES ('x', 1)")
    }

    // path-addressed metadata composes with the suffix
    assert(spark.sql(s"SELECT count(*) FROM graft_lake.`$out$$history`")
      .head.getLong(0) == 4L)
  }

  test("metadata census under lazy-stats: $files/$partitions/$detail rows identical with the conf on and off") {
    val out = s"$wh/lazycensus"
    spark.conf.set(Lake.CheckpointParquetMinEntriesKey, "4")
    try {
      Lake.init(spark, fixture(0 until 20), out, Seq("split", "shard_id"))   // v1
      Pipeline.appendToLake(spark, out, fixture(20 until 30))                // v2
      Lake.checkpointNow(spark, out) // v2's checkpoint lands COLUMNAR
      Pipeline.appendToLake(spark, out, fixture(30 until 34))                // v3: tail delta
      def census(): Seq[Seq[String]] = Seq("files", "partitions", "detail").map { k =>
        spark.sql(s"SELECT * FROM graft_lake.`meta$$$k`")
          .collect().map(_.toString).sorted.toSeq
      }
      Lake.invalidateStateCache()
      val eager = census()
      // sanity: the eager census is POPULATED (the columnar checkpoint's
      // recorded stats round-trip into n_rows/n_bytes/n_stat_cols)
      val eagerFiles = spark.sql(
        "SELECT n_rows, n_bytes, n_stat_cols FROM graft_lake.`meta$files`").collect()
      assert(eagerFiles.forall(r => !r.isNullAt(0) && !r.isNullAt(1) && r.getInt(2) > 0),
        "the fixture must record rows/bytes/stat-column census for every file")
      // the census is the driver-computed truth: a session conf that
      // changes RESOLUTION strategy must not flip recorded stats to NULL
      spark.conf.set(Lake.LazyStatsKey, "true")
      Lake.invalidateStateCache()
      assert(Lake.latestManifest(spark, out).get.cpLazy.isDefined,
        "the fixture must actually resolve lazily (columnar checkpoint present)")
      assert(census() == eager,
        "$files/$partitions/$detail must render identically under lazy-stats")
    } finally {
      spark.conf.unset(Lake.LazyStatsKey)
      spark.conf.unset(Lake.CheckpointParquetMinEntriesKey)
    }
  }

  test("CALL procedures: compact_dvs, compact, restore and vacuum_keeping run lake maintenance from SQL") {
    val out = s"$wh/proc"
    Lake.init(spark, fixture(0 until 20).coalesce(1), out, Seq("split", "shard_id"))  // v1: 1 file/shard
    Pipeline.appendToLake(spark, out, fixture(20 until 30))                           // v2
    Pipeline.deleteFromLakeSparse(spark, out, Seq(1L, 3L).toDF("doc_id"), "doc_id")   // v3
    Pipeline.deleteFromLakeSparse(spark, out, Seq(5L).toDF("doc_id"), "doc_id")       // v4: stacks on shard-1's file

    // fold the stacked sidecars — vectors-only commit
    val folded = spark.sql("CALL graft_lake.system.compact_dvs(table => 'proc')").collect()
    assert(folded.exists(_.getInt(1) == 2),
      s"the shard-1 file carried 2 stacked sidecars to fold, got ${folded.toSeq}")
    assert(Lake.read(spark, out).count() == 27)

    // bin-pack + materialize the vectors away
    val c = spark.sql("CALL graft_lake.system.compact(table => 'proc')").collect()(0)
    assert(c.getInt(1) > 0)
    assert(Lake.currentState(spark, out).dvs.isEmpty,
      "compaction materializes deletion vectors into plain files")
    assert(Lake.read(spark, out).count() == 27)

    // roll back to v1 — no bytes copied, result surfaces both versions
    val r = spark.sql("CALL graft_lake.system.restore(table => 'proc', version => 1)").collect()(0)
    assert(r.getLong(0) == 1L && r.getLong(1) > 1L)
    assert(Lake.read(spark, out).count() == 20)

    // retention cut from SQL; the live corpus survives it
    spark.sql("CALL graft_lake.system.vacuum_keeping(table => 'proc', keep_versions => 1)").collect()
    assert(Lake.read(spark, out).count() == 20)

    // vacuum reclaims a planted orphan (and names it in the result)
    val orphan = new java.io.File(s"$out/stray.parquet")
    fixture(900 until 901).coalesce(1).write.parquet(s"$out/.stray_tmp")
    val part = new java.io.File(s"$out/.stray_tmp").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, orphan.toPath)
    val reclaimed = spark.sql("CALL graft_lake.system.vacuum(table => 'proc')")
      .collect().map(_.getString(0))
    assert(reclaimed.exists(_.endsWith("stray.parquet")),
      s"vacuum must reclaim the planted orphan, got ${reclaimed.toSeq}")

    // an unknown procedure names itself and the available set
    val e = intercept[Exception] {
      spark.sql("CALL graft_lake.system.nope(table => 'proc')").collect()
    }
    assert(e.getMessage.contains("nope"))

    // SHOW PROCEDURES lists the whole maintenance surface
    val listed = spark.sql("SHOW PROCEDURES IN graft_lake.system").collect()
      .flatMap(_.toSeq).map(String.valueOf).toSet
    val expected = Set("vacuum", "vacuum_keeping", "compact", "compact_dvs",
      "restore", "analyze")
    assert(expected.subsetOf(listed),
      s"SHOW PROCEDURES must list the maintenance surface, got $listed")
  }

  test("CALL repartition relayouts the lake in one commit; old layout stays time-travelable; feeds silent") {
    val out = s"$wh/relayout"
    Lake.init(spark, fixture(0 until 40), out, Seq("split", "shard_id"))  // v1
    assert(Lake.currentState(spark, out).files.forall(_.contains("shard_id=")))
    spark.sql("CALL graft_lake.system.repartition(table => 'relayout', " +
      "partition_by => 'split', sort_by => 'doc_id')").collect()          // v2
    val st = Lake.currentState(spark, out)
    assert(st.files.forall(f => f.contains("split=") && !f.contains("shard_id=")),
      s"every live file must sit under the NEW layout, got ${st.files.take(3)}")
    assert(Lake.read(spark, out).count() == 40)
    // the former partition column survives as DATA
    assert(Lake.read(spark, out).select("shard_id").distinct().count() == 2)
    // rewrite-tagged: adds-CDC and the row-level feed both see nothing
    assert(Lake.changesBetween(spark, out, 1L, 2L).count() == 0)
    assert(Lake.changeFeed(spark, out, 1L, 2L).count() == 0)
    // the old layout stays readable below the relayout
    assert(Lake.readVersion(spark, out, 1L).count() == 40)
    // clustering stats landed on the new files
    assert(st.files.forall(f => st.stats.get(f).exists(_.exists(_.col == "doc_id"))))
  }

  test("CALL compact with sort_by range-clusters the rewrite and records pruning stats") {
    val out = s"$wh/cluster"
    Lake.init(spark, fixture(0 until 200).repartition(4), out, Seq("split")) // 4 files/dir
    spark.sql("CALL graft_lake.system.compact(table => 'cluster', " +
      "target_rows_per_file => 30, sort_by => 'doc_id')").collect()
    val st = Lake.currentState(spark, out)
    assert(st.files.forall(f => st.stats.get(f).exists(_.exists(_.col == "doc_id"))),
      "every clustered file must carry doc_id min/max in the manifest")
    // contiguous runs => a narrow bound prunes most files
    val pruned = Lake.pruneByStats(st, "doc_id",
      org.apache.spark.sql.types.LongType, 0L, 10L)
    assert(pruned.nonEmpty && pruned.size < st.files.size,
      s"disjoint clustered ranges must prune: kept ${pruned.size} of ${st.files.size}")
    assert(Lake.read(spark, out).count() == 200)
  }

  test("widening retype is a metadata commit: old int files decode as long, new writes land wide") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val out = s"$wh/widen"
    val df = (0 until 10).map(i => (i.toLong, i)).toDF("doc_id", "n")
      .select(col("doc_id"), col("n").cast("int").as("n"), lit("train").as("split"))
    Lake.init(spark, df.coalesce(1), out, Seq("split"))                    // v1: int files
    spark.sql("ALTER TABLE graft_lake.widen ALTER COLUMN n TYPE BIGINT")   // v2: metadata only
    assert(Lake.read(spark, out).schema("n").dataType == LongType)
    assert(Lake.read(spark, out).agg(sum("n")).head.getLong(0) == 45L,
      "the old int file must decode natively under the widened type")
    val h2 = Lake.describeHistory(spark, out).collect().find(_.getLong(0) == 2L).get
    assert(h2.getString(2) == "widen" && h2.getInt(3) == 0 && h2.getInt(5) == 0)

    // a post-widen append lands values only the wide type can hold
    Lake.append(spark, out, Seq((100L, 3000000000L, "train")).toDF("doc_id", "n", "split"))
    assert(Lake.read(spark, out).agg(sum("n")).head.getLong(0) == 45L + 3000000000L)
    // the DSv2 format string reads the widened schema too
    assert(spark.read.format("graft-lake").load(out).schema("n").dataType == LongType)
    // time travel below the widen still reads the narrow type
    assert(Lake.readVersion(spark, out, 1L).schema("n").dataType == IntegerType)

    // narrowing refuses — Spark's upcast check or the lake's own guard
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft_lake.widen ALTER COLUMN doc_id TYPE INT")
    }
    assert(e.getMessage.contains("rewrite") ||
      e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"))
    // and a partition-column widen refuses naming the relayout
    val e2 = intercept[Exception] {
      Lake.widenColumn(spark, out, "split", org.apache.spark.sql.types.StringType)
    }
    assert(e2.getMessage.contains("partition") || e2.getMessage.contains("widening"))
  }

  test("CALL analyze backfills per-file stats as a metadata-only commit that pruning then uses") {
    val out = s"$wh/stats"
    // the ADOPTED-lake shape that cannot prune: plain parquet files
    // adopted as v0 carry no stats — every PROTOCOL write now captures
    // default stats itself, so adoption is where analyze earns its keep
    fixture(0 until 50).unionByName(fixture(200 until 210)).coalesce(1)
      .write.mode("overwrite").partitionBy("split").parquet(out)
    Lake.adopt(spark, out)                                                  // v0
    Pipeline.appendToLake(spark, out, fixture(100 until 150).coalesce(1),
      partitionCols = Seq("split"))                                         // v1
    val pre = Lake.currentState(spark, out)
    val adopted = pre.files.filterNot(pre.stats.contains)
    assert(adopted.size == 2,
      s"both adopted files must lack stats (appendToLake captures its own), got $pre")
    val trainFile = adopted.find(_.startsWith("split=train/")).get
    val testFile = adopted.find(_.startsWith("split=test/")).get
    val vBefore = pre.version

    // the SCOPED (incremental) form touches only the named subtree
    spark.sql("CALL graft_lake.system.analyze(table => 'stats', " +
      "columns => 'doc_id', scope => 'split=train')").collect()             // v2
    val afterTrain = Lake.currentState(spark, out)
    assert(afterTrain.stats.get(trainFile).exists(_.exists(_.col == "doc_id")))
    assert(!afterTrain.stats.contains(testFile),
      "a train-scoped analyze must not touch split=test files")

    val r = spark.sql(
      "CALL graft_lake.system.analyze(table => 'stats', columns => 'doc_id')")
      .collect()(0)                                                         // v3
    val st = Lake.currentState(spark, out)
    assert(r.getInt(0) == st.files.size && r.getString(1) == "doc_id")
    assert(st.files.forall(f => st.stats.get(f).exists(_.exists(_.col == "doc_id"))),
      "every live file must carry doc_id stats after analyze")

    // the backfilled stats PRUNE: a bound inside the appended file's
    // range keeps only the files that can hold it
    val pruned = Lake.pruneByStats(st, "doc_id",
      org.apache.spark.sql.types.LongType, 120L, 130L)
    assert(pruned.size < st.files.size && pruned.nonEmpty,
      s"a selective bound must prune, kept ${pruned.size} of ${st.files.size}")

    // metadata-only: no files moved, reads unchanged, the change feed
    // emits nothing across the analyze commits
    val h = Lake.describeHistory(spark, out).collect()
      .find(_.getLong(0) == vBefore + 2).get
    assert(h.getString(2) == "analyze" && h.getInt(3) == 0 && h.getInt(5) == 0)
    assert(Lake.read(spark, out).count() == 110)
    assert(Lake.changeFeed(spark, out, vBefore, vBefore + 2).count() == 0,
      "analyze must be invisible to the row-level change feed")

    // a later resolution (checkpoint or replay) still carries the
    // restated stats: resolve the analyzed version explicitly
    val at = Lake.stateAt(spark, out, vBefore + 2)
    assert(at.files.forall(f => at.stats.contains(f)))
    // and time travel BELOW the analyzes still lacks the adopted files'
    val below = Lake.stateAt(spark, out, vBefore)
    assert(below.files.exists(f => !below.stats.contains(f)))
  }

  test("writeStream.toTable lands through the exactly-once DSv2 streaming write") {
    val out = s"$wh/streamtbl"
    Lake.init(spark, fixture(0 until 6), out, Seq("split", "shard_id"))
    implicit val ctx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val ck = java.nio.file.Files.createTempDirectory("tt-ck").toString
    val q = mem.toDF().toDF("doc_id", "text")
      .select(col("doc_id"), col("text"),
        when(col("doc_id") < 100, "train").otherwise("test").as("split"),
        (col("doc_id") % 2).cast("int").as("shard_id"))
      .writeStream.option("checkpointLocation", ck)
      .toTable("graft_lake.streamtbl")
    try {
      mem.addData((10L, "a"), (11L, "b"))
      q.processAllAvailable()
      mem.addData((12L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    assert(Lake.read(spark, out).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == ((0L until 6L) ++ (10L until 13L)))
    // each micro-batch committed as one tagged protocol append
    val st = Lake.currentState(spark, out)
    assert(st.txns.keys.exists(_.startsWith("streaming-sink-")) && st.txns.values.max == 1L,
      s"toTable commits must move the sink watermark, got ${st.txns}")
    assert(Lake.describeHistory(spark, out).collect()
      .count(_.getString(2) == "append") == 2)
  }

  test("CHECK constraints gate every row-adding path; $constraints lists them") {
    val out = s"$wh/checked"
    Lake.init(spark, fixture(0 until 20), out, Seq("split", "shard_id"))        // v1
    spark.sql("CALL graft_lake.system.add_constraint(table => 'checked', " +
      "name => 'doc_id_range', expression => 'doc_id >= 0 AND doc_id < 1000')").collect()
    assert(spark.sql("SELECT name, expression FROM graft_lake.`checked$constraints`")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("doc_id_range", "doc_id >= 0 AND doc_id < 1000")))

    // a clean batch lands; a violating batch refuses WHOLE, naming the rule
    Pipeline.appendToLake(spark, out, fixture(20 until 25))
    assert(Lake.read(spark, out).count() == 25)
    val e1 = intercept[IllegalArgumentException] {
      Pipeline.appendToLake(spark, out, fixture(995 until 1005))
    }
    assert(e1.getMessage.contains("doc_id_range") && e1.getMessage.contains("CHECK"))
    assert(Lake.read(spark, out).count() == 25, "the violating batch must land NOTHING")
    assert(Lake.vacuum(spark, out).isEmpty,
      "the violating batch's staged files must be ROLLED BACK at refusal, " +
        "not leaked as orphans for vacuum")

    // SQL INSERT and sparse UPDATE post-images are gated too
    val e2 = intercept[Exception] {
      spark.sql("INSERT INTO graft_lake.checked VALUES (2000, 'x', 'test', 0)")
    }
    assert(e2.getMessage.contains("CHECK"))
    val e3 = intercept[Exception] {
      spark.sql("UPDATE graft_lake.checked SET doc_id = doc_id + 5000 WHERE doc_id = 3")
    }
    assert(e3.getMessage.contains("CHECK"))
    assert(Lake.read(spark, out).filter(col("doc_id") === 3L).count() == 1)
    assert(Lake.vacuum(spark, out).isEmpty,
      "a violating UPDATE must roll back its staged post-image AND its " +
        "CDC/DV sidecars at refusal")
    // the general MERGE (conditional clauses) stages its tombstones before
    // its post-images: a matched UPDATE that breaks the rule must roll
    // both back too
    val e3m = intercept[Exception] {
      Pipeline.mergeIntoLakeGeneral(spark, out, fixture(3 until 5), "doc_id",
        col("_s_doc_id"),
        matched = Seq(Pipeline.MergeClause(Some(col("_s_doc_id") === 3L), delete = false,
          Map("doc_id" -> (col("_t_doc_id") + 5000L)))),
        notMatched = Seq.empty, notMatchedBySource = Seq.empty)
    }
    assert(e3m.getMessage.contains("doc_id_range") && e3m.getMessage.contains("CHECK"))
    assert(Lake.read(spark, out).count() == 25 &&
      Lake.read(spark, out).filter(col("doc_id") === 3L).count() == 1)
    assert(Lake.vacuum(spark, out).isEmpty,
      "a violating general MERGE must roll back its staged post-images AND its " +
        "CDC/DV sidecars at refusal")

    // the streaming write fails a violating epoch before the manifest moves
    implicit val ctx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val vBefore = Lake.currentState(spark, out).version
    val q = mem.toDF().toDF("doc_id")
      .select(col("doc_id"), lit("t").as("text"), lit("train").as("split"),
        lit(0).cast("int").as("shard_id"))
      .writeStream.format("graft-lake")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("chk-ck").toString)
      .start(out)
    val e4 = intercept[Throwable] {
      try { mem.addData(5000L); q.processAllAvailable() } finally q.stop()
    }
    assert(Iterator.iterate[Throwable](e4)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).mkString(" ").contains("CHECK"))
    assert(Lake.currentState(spark, out).version == vBefore,
      "a violating epoch must not commit")

    // adding a constraint the corpus already violates refuses
    val e5 = intercept[Exception] {
      spark.sql("CALL graft_lake.system.add_constraint(table => 'checked', " +
        "name => 'impossible', expression => 'doc_id > 10')").collect()
    }
    assert(e5.getMessage.contains("existing row"))

    // drop ends enforcement
    spark.sql("CALL graft_lake.system.drop_constraint(table => 'checked', " +
      "name => 'doc_id_range')").collect()
    Pipeline.appendToLake(spark, out, fixture(1200 until 1201))
    assert(Lake.read(spark, out).count() == 26)
  }

  test("CALL checkpoint forces a checkpoint off the interval grid; readers then resolve without a delta replay") {
    val out = s"$wh/cpnow"
    Lake.init(spark, fixture(0 until 5).coalesce(1), out, Seq("split"))   // v1
    Pipeline.appendToLake(spark, out, fixture(5 until 8).coalesce(1),
      partitionCols = Seq("split"))                                       // v2
    Pipeline.appendToLake(spark, out, fixture(8 until 10).coalesce(1),
      partitionCols = Seq("split"))                                       // v3: below the grid
    val row = spark.sql("CALL graft_lake.system.checkpoint(table => 'cpnow')")
      .collect()(0)
    assert(row.getLong(0) == 3L && row.getBoolean(1),
      s"the first call must write a v3 checkpoint, got $row")
    // resolution is now ONE checkpoint load, zero delta replays
    Lake.invalidateStateCache()
    val before = Lake.logReads.get()
    val st = Lake.latestManifest(spark, out).get
    assert(Lake.logReads.get() - before == 1,
      "a freshly-checkpointed lake must resolve in exactly one log read")
    assert(st.version == 3L && Lake.read(spark, out).count() == 10)
    // idempotent: the second call writes nothing
    val row2 = spark.sql("CALL graft_lake.system.checkpoint(table => 'cpnow')")
      .collect()(0)
    assert(row2.getLong(0) == 3L && !row2.getBoolean(1),
      s"a checkpointed version must not re-checkpoint, got $row2")
  }

  test("CALL vacuum_keeping with retention_ms applies an age retention policy") {
    val out = s"$wh/age"
    Lake.init(spark, fixture(0 until 5).coalesce(1), out, Seq("split"))   // v1
    Pipeline.appendToLake(spark, out, fixture(5 until 10).coalesce(1),
      partitionCols = Seq("split"))                                       // v2
    spark.sql("CALL graft_lake.system.compact(table => 'age', " +
      "target_rows_per_file => 1000)").collect()                          // v3: rewrite, history kept
    assert(Lake.readVersion(spark, out, 1L).count() == 5)

    // a generous window keeps everything readable
    spark.sql("CALL graft_lake.system.vacuum_keeping(table => 'age', " +
      "retention_ms => 86400000)").collect()
    assert(Lake.readVersion(spark, out, 1L).count() == 5)

    // a zero window keeps only the latest; older history is retired
    Thread.sleep(10)
    spark.sql("CALL graft_lake.system.vacuum_keeping(table => 'age', " +
      "retention_ms => 0)").collect()
    assert(Lake.read(spark, out).count() == 10)
    intercept[Exception] { Lake.readVersion(spark, out, 1L).count() }

    // the two policies are exclusive — none or both refuse naming the rule
    val e = intercept[Exception] {
      spark.sql("CALL graft_lake.system.vacuum_keeping(table => 'age')").collect()
    }
    assert(e.getMessage.contains("exactly one"))
    val e2 = intercept[Exception] {
      spark.sql("CALL graft_lake.system.vacuum_keeping(table => 'age', " +
        "keep_versions => 2, retention_ms => 1000)").collect()
    }
    assert(e2.getMessage.contains("exactly one"))
  }

  test("ALTER TABLE ADD COLUMN is a metadata commit: old files read null, appends land values, time travel excludes it") {
    import org.apache.spark.sql.types.DoubleType
    val out = s"$wh/addcol"
    Lake.init(spark, fixture(0 until 10), out, Seq("split", "shard_id"))       // v1
    val vBefore = Lake.currentState(spark, out).version
    spark.sql("ALTER TABLE graft_lake.addcol ADD COLUMN quality double")       // +1
    val df = Lake.read(spark, out)
    assert(df.schema("quality").dataType == DoubleType && df.schema("quality").nullable)
    assert(df.filter(col("quality").isNull).count() == 10,
      "every pre-add row must read the new column as null")
    // metadata only: zero file adds/removes
    val h = Lake.describeHistory(spark, out).collect()
      .find(_.getLong(0) == vBefore + 1).get
    assert(h.getString(2) == "addcol" && h.getInt(3) == 0 && h.getInt(5) == 0)
    // a post-add append lands values; SQL reads them through the catalog
    Lake.append(spark, out,
      Seq((100L, "x", "train", 0, 0.9)).toDF("doc_id", "text", "split", "shard_id", "quality"))
    assert(spark.sql(
      "SELECT count(*) FROM graft_lake.addcol WHERE quality IS NULL").head.getLong(0) == 10)
    assert(spark.sql(
      "SELECT quality FROM graft_lake.addcol WHERE doc_id = 100").head.getDouble(0) == 0.9)
    // time travel below the add resolves the old schema
    assert(!Lake.readVersion(spark, out, vBefore).schema.fieldNames.contains("quality"))
    // refusals: NOT NULL, positioned, duplicate, dropped-tombstone rebind
    val e1 = intercept[Exception] {
      spark.sql("ALTER TABLE graft_lake.addcol ADD COLUMN q2 double NOT NULL") }
    assert(e1.getMessage.contains("NOT NULL"))
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE graft_lake.addcol ADD COLUMN q3 double FIRST") }
    assert(e2.getMessage.contains("position") || e2.getMessage.contains("FIRST"))
    val e3 = intercept[Exception] { Lake.addColumn(spark, out, "quality", DoubleType) }
    assert(e3.getMessage.contains("already exists"))
    Lake.dropColumn(spark, out, "quality")
    val e4 = intercept[Exception] { Lake.addColumn(spark, out, "quality", DoubleType) }
    assert(e4.getMessage.contains("tombstone"))
  }

  test("$detail is the one-row DESCRIBE DETAIL card: layout, generations, census and contract counts") {
    val out = s"$wh/detail"
    Lake.init(spark, fixture(0 until 20), out, Seq("split", "shard_id"))      // v1
    spark.sql("CALL graft_lake.system.add_constraint(table => 'detail', " +
      "name => 'ids', expression => 'doc_id >= 0')").collect()               // v2
    val d1 = spark.sql("SELECT * FROM graft_lake.`detail$detail`").collect()(0)
    assert(d1.getAs[Long]("version") == 2L)
    assert(d1.getAs[String]("write_layout") == "split,shard_id")
    assert(d1.getAs[Int]("n_layout_generations") == 1)
    assert(d1.getAs[Int]("n_files") == Lake.currentState(spark, out).files.size)
    assert(d1.getAs[Int]("n_constraints") == 1)
    assert(!d1.getAs[Boolean]("has_column_mapping"))
    assert(d1.getAs[String]("bloom_cols") == "", "no bloom columns configured")
    // evolve + append: the card reports the NEW write layout and BOTH
    // live generations; DV census counts the tombstoned files
    spark.sql("CALL graft_lake.system.evolve_layout(table => 'detail', " +
      "partition_by => 'split')").collect()                                  // v3
    Pipeline.appendToLake(spark, out, fixture(20 until 25))                  // v4
    spark.sql("DELETE FROM graft_lake.detail WHERE doc_id = 3")              // v5
    Lake.renameColumn(spark, out, "text", "body")                            // v6
    val d2 = spark.sql("SELECT * FROM graft_lake.`detail$detail`").collect()(0)
    assert(d2.getAs[String]("write_layout") == "split")
    assert(d2.getAs[Int]("n_layout_generations") == 2)
    assert(d2.getAs[Int]("n_dv_attached_files") == 1)
    assert(d2.getAs[Boolean]("has_column_mapping"))
    // AS-OF pins the card to the older state
    val d0 = spark.sql(
      "SELECT * FROM graft_lake.`detail$detail` VERSION AS OF 2").collect()(0)
    assert(d0.getAs[String]("write_layout") == "split,shard_id" &&
      d0.getAs[Int]("n_layout_generations") == 1)
    // two generations: no nudge yet
    assert(d2.getAs[String]("guidance") == "")
    // a THIRD live generation crosses the bound: the card names the fold
    Lake.evolveLayout(spark, out, Seq("shard_id"))                           // v7
    Pipeline.appendToLake(spark, out, fixture(25 until 30)
      .withColumnRenamed("text", "body"))                                    // v8
    val d3 = spark.sql("SELECT * FROM graft_lake.`detail$detail`").collect()(0)
    assert(d3.getAs[Int]("n_layout_generations") == 3)
    assert(d3.getAs[String]("guidance").contains("3 live layout generations") &&
      d3.getAs[String]("guidance").contains("CALL compact"),
      s"the card must name the compaction, got: ${d3.getAs[String]("guidance")}")
  }
}
