package graft.cdc

import graft.SparkSpec
import graft.model._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The manifest-versioned immutable-file sink layout (r12 verdict #1):
  * merge semantics identical to the flat sink's, physics different —
  * commits only ADD files, one atomic manifest rename publishes data +
  * per-bucket zone-map stats, vacuum retention bounds disk. These specs pin
  * the semantics equality, the immutability contract (the property that
  * closes the FAILED_READ_FILE retryable class), pruning exactness, the
  * legacy-layout migration, and the vacuum referenced-set rules. */
class ManifestSinkSpec extends SparkSpec {
  import spark.implicits._

  private val payload = StructType(Seq(
    StructField("id", IntegerType), StructField("score", LongType)))

  private def batchDf(rows: (String, Int, java.lang.Long)*) =
    rows.toDF("op", "id", "score")

  private def applyM(path: String, changes: org.apache.spark.sql.DataFrame,
                     n: Int = 4, statCols: Seq[String] = Seq("score")): Unit =
    BucketedUpsertSink.applyBatch(spark, path, changes, "id", n,
      Some(payload), statCols)

  private def stateRows(path: String): Set[(Int, Long)] =
    ManifestStore.readState(spark, path, payload)
      .drop(BucketedUpsertSink.BucketCol)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet

  private def bucketIdOf(i: Int, n: Int): Long =
    spark.range(1)
      .select(BucketedUpsertSink.bucketOf(lit(i), n)).head.getLong(0)

  private def dataFiles(path: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val root = new java.io.File(s"$path/${ManifestStore.DataDir}")
    if (!root.exists()) Set.empty
    else walk(root).filter(_.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).toSet
  }

  test("manifest layout: same batch sequence, same final state as the " +
    "flat sink's merge (create / partial update / delete / re-create)") {
    val mPath = tmpDir("mequal") + "/m"
    val batches = Seq(
      batchDf(("create", 1, 10L), ("create", 2, 20L), ("create", 3, 30L)),
      batchDf(("update", 1, 11L), ("delete", 2, null)),
      batchDf(("create", 2, 200L), ("update", 3, 33L), ("create", 9, 90L)))
    batches.foreach(applyM(mPath, _))
    val flat = batches.foldLeft(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], payload))(
        (state, b) => UpsertSink.applyBatch(state, b, "id"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(stateRows(mPath) === flat)
    assert(stateRows(mPath) === Set((1, 11L), (2, 200L), (3, 33L), (9, 90L)))
  }

  test("immutability: a commit never deletes or rewrites prior files " +
    "inside the retention window, and untouched buckets' manifest entries " +
    "carry forward byte-identical") {
    val path = tmpDir("mimm") + "/t"
    applyM(path, batchDf(("create", 1, 10L), ("create", 2, 20L),
      ("create", 3, 30L), ("create", 4, 40L)))
    val m1 = ManifestStore.currentManifest(spark, path).get
    val files1 = dataFiles(path)
    assert(files1.nonEmpty)
    // touch ONE pk; its bucket rewrites into a NEW commit dir, every other
    // bucket's entry (and files) carries forward untouched
    applyM(path, batchDf(("update", 1, 11L)))
    val m2 = ManifestStore.currentManifest(spark, path).get
    assert(m2.version === m1.version + 1)
    val b1 = bucketIdOf(1, 4)
    m1.buckets.foreach { case (b, e1) =>
      if (b != b1)
        assert(m2.buckets(b) === e1,
          s"untouched bucket $b entry must carry forward verbatim")
      else
        assert(m2.buckets(b).relDir !== e1.relDir,
          "the touched bucket must point at a NEW commit dir")
    }
    // the superseded files are STILL on disk (default retention) — this is
    // the property that makes a concurrent pinned read un-killable
    val files2 = dataFiles(path)
    assert(files1.subsetOf(files2),
      "a commit must only ADD files inside the retention window")
  }

  test("pruned read equals the exact unpruned filter, prunes to the " +
    "stat-matching buckets only, and the check()-shaped rowCount is exact") {
    val path = tmpDir("mprune") + "/t"
    val rows = (1 to 200).map(i => ("create", i, java.lang.Long.valueOf(i * 10L)))
    applyM(path, batchDf(rows: _*), n = 8)
    val m = ManifestStore.currentManifest(spark, path).get
    assert(m.rowCount === 200L)
    val lo = 500L; val hi = 700L
    val pruned = ManifestStore
      .prunedRead(spark, path, payload, "score", lo, hi)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val unpruned = ManifestStore.readState(spark, path, payload)
      .filter(col("score") >= lo && col("score") <= hi)
      .drop(BucketedUpsertSink.BucketCol)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(pruned === unpruned)
    assert(pruned === (50 to 70).map(i => (i, i * 10L)).toSet)
    // Stats prune only when they are SELECTIVE — pk-hash bucketing spreads
    // 200 rows' scores across every bucket's [min,max], so use a sparse
    // store (≤1 row per bucket → min==max) and a point window
    val sp = tmpDir("mprune") + "/sparse"
    applyM(sp, batchDf(("create", 1, 10L), ("create", 2, 20L),
      ("create", 3, 30L)), n = 8)
    val sm = ManifestStore.currentManifest(spark, sp).get
    val cands = sm.buckets.count { case (_, e) =>
      e.stats("score")._2.exists(_ >= 20L) && e.stats("score")._1.exists(_ <= 20L) }
    assert(cands < sm.buckets.size,
      s"a point window should prune some of the ${sm.buckets.size} buckets")
    val point = ManifestStore
      .prunedRead(spark, sp, payload, "score", 20L, 20L)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(point === Set((2, 20L)))
  }

  test("a bucket whose last row is deleted leaves the manifest; an " +
    "all-null stat column is conservatively non-matching") {
    val path = tmpDir("mdel") + "/t"
    applyM(path, batchDf(("create", 1, 10L), ("create", 2, null)))
    val m1 = ManifestStore.currentManifest(spark, path).get
    val b1 = bucketIdOf(1, 4)
    val b2 = bucketIdOf(2, 4)
    assert(m1.buckets.keySet === Set(b1, b2))
    if (b1 != b2)
      assert(m1.buckets(b2).stats("score") === ((None, None)),
        "an all-null bucket publishes null bounds")
    applyM(path, batchDf(("delete", 1, null)))
    val m2 = ManifestStore.currentManifest(spark, path).get
    assert(!m2.buckets.contains(b1) || b1 == b2,
      "an emptied bucket must leave the manifest")
    val ids = ManifestStore.readState(spark, path, payload)
      .select("id").collect().map(_.getInt(0)).toSet
    assert(ids === Set(2))
    // null-score row: pruned read over any range returns nothing, exactly
    // like the unpruned exact filter (null fails every range predicate)
    val pr = ManifestStore
      .prunedRead(spark, path, payload, "score", Long.MinValue + 1, Long.MaxValue)
    assert(pr.count() === 0L)
  }

  test("vacuum deletes ONLY what the retained manifests no longer " +
    "reference and only past the age floor; the surviving state is intact") {
    val path = tmpDir("mvac") + "/t"
    applyM(path, batchDf(("create", 1, 10L), ("create", 2, 20L)))
    val filesV1 = dataFiles(path)
    applyM(path, batchDf(("update", 1, 11L)))
    applyM(path, batchDf(("update", 2, 22L)))
    // age floor first: minAge > 0 keeps everything even at keep=1
    ManifestStore.vacuum(spark, path, keepVersions = 1, minAgeMs = 60000L)
    assert(filesV1.subsetOf(dataFiles(path)),
      "nothing younger than the age floor may be deleted")
    // then: keep=1 at age 0 drops every file only the superseded manifests
    // reference — and the current state still reads back exactly (the age
    // gate keeps anything published in the current millisecond)
    Thread.sleep(5)
    ManifestStore.vacuum(spark, path, keepVersions = 1, minAgeMs = 0L)
    val m = ManifestStore.currentManifest(spark, path).get
    val referenced = m.buckets.values.map(e => s"$path/${e.relDir}").toSet
    dataFiles(path).foreach { f =>
      assert(referenced.exists(d => f.startsWith(d + "/")),
        s"unreferenced survivor after vacuum: $f")
    }
    assert(stateRows(path) === Set((1, 11L), (2, 22L)))
    // superseded manifest FILES age out too
    val manifests = new java.io.File(path).listFiles()
      .map(_.getName).filter(_.startsWith("manifest-v"))
    assert(manifests.length === 1, manifests.mkString(","))
  }

  test("vacuum tiers (r14): a young UNPUBLISHED foreign stage survives a " +
    "minAge-0 vacuum that reaps superseded published data; past the " +
    "in-flight floor the crash orphan reaps too") {
    val path = tmpDir("mvactier") + "/t"
    applyM(path, batchDf(("create", 1, 10L), ("create", 2, 20L)))
    applyM(path, batchDf(("update", 1, 11L)))
    applyM(path, batchDf(("update", 2, 22L)))
    // a foreign writer's in-flight stage: a commit dir NO manifest knows
    val staged = new java.io.File(s"$path/${ManifestStore.DataDir}/" +
      s"c-${System.currentTimeMillis()}-feedf00d/bucket-00001")
    assert(staged.mkdirs())
    val stagedFile = new java.io.File(staged, "part-00000-x.snappy.parquet")
    java.nio.file.Files.write(stagedFile.toPath, Array[Byte](1, 2, 3))
    // the age gate keeps anything published in the current millisecond
    Thread.sleep(5)
    ManifestStore.vacuum(spark, path, keepVersions = 1, minAgeMs = 0L)
    // superseded PUBLISHED data reaps at the plain supersession gate...
    val m = ManifestStore.currentManifest(spark, path).get
    val referenced = m.buckets.values.map(e => s"$path/${e.relDir}").toSet
    dataFiles(path).filterNot(_.contains("feedf00d")).foreach { f =>
      assert(referenced.exists(d => f.startsWith(d + "/")),
        s"unreferenced published survivor after vacuum: $f")
    }
    // ...while the young unpublished stage is untouchable at ANY minAge
    assert(stagedFile.exists(),
      "a young in-flight foreign stage must never be reaped")
    // age the orphan past the in-flight floor: now it reaps
    val old = System.currentTimeMillis() -
      (ManifestStore.ClaimTakeoverMs + 130000L)
    assert(staged.getParentFile.setLastModified(old))
    ManifestStore.vacuum(spark, path, keepVersions = 1, minAgeMs = 0L)
    assert(!stagedFile.exists(),
      "a crash orphan past the in-flight floor must reap")
    assert(stateRows(path) === Set((1, 11L), (2, 22L)))
  }

  test("time travel: readStateAt pins a version's exact content across " +
    "later updates/deletes; history and as-of resolve publishes in order") {
    val path = tmpDir("mtt") + "/t"
    applyM(path, batchDf(("create", 1, 10L), ("create", 2, 20L), ("create", 3, 30L)))
    Thread.sleep(5) // publish mtimes must be distinguishable for as-of
    applyM(path, batchDf(("update", 1, 11L), ("delete", 2, null)))
    Thread.sleep(5)
    applyM(path, batchDf(("create", 4, 40L)))

    def rowsAt(v: Long): Set[(Int, Long)] =
      ManifestStore.readStateAt(spark, path, payload, v)
        .drop(BucketedUpsertSink.BucketCol)
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(rowsAt(1L) === Set((1, 10L), (2, 20L), (3, 30L)),
      "v1 must read exactly what v1 published, after two later commits")
    assert(rowsAt(2L) === Set((1, 11L), (3, 30L)))
    assert(rowsAt(3L) === stateRows(path),
      "the latest version must equal the current read")

    val h = ManifestStore.history(spark, path)
    assert(h.map(_._1) === Seq(1L, 2L, 3L))
    assert(h.map(_._2) === h.map(_._2).sorted,
      "publish mtimes must be monotone in version")
    assert(ManifestStore.versionAsOf(spark, path, h(1)._2) === 2L,
      "as-of at exactly v2's publish time resolves to v2 (at-or-before)")
    assert(ManifestStore.versionAsOf(spark, path,
      System.currentTimeMillis()) === 3L)
    val asOfRows = ManifestStore.readStateAsOf(spark, path, payload, h(1)._2)
      .drop(BucketedUpsertSink.BucketCol)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(asOfRows === rowsAt(2L))
  }

  test("change data feed: v->w emits exactly the row-level delta " +
    "(update = delete+insert), reads only changed buckets, and spans " +
    "multiple commits; malformed ranges refuse") {
    val path = tmpDir("mcdf") + "/t"
    applyM(path, batchDf(("create", 1, 10L), ("create", 2, 20L), ("create", 3, 30L)))
    applyM(path, batchDf(("update", 1, 11L), ("delete", 2, null)))
    applyM(path, batchDf(("create", 4, 40L)))

    def cdf(from: Long, to: Long): Set[(Int, Long, String)] =
      ManifestStore.changesBetween(spark, path, payload, from, to)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSet
    assert(cdf(1L, 2L) === Set(
      (1, 10L, "delete"), (1, 11L, "insert"), (2, 20L, "delete")))
    assert(cdf(2L, 3L) === Set((4, 40L, "insert")))
    // spanning delta composes the two commits
    assert(cdf(1L, 3L) === Set(
      (1, 10L, "delete"), (1, 11L, "insert"), (2, 20L, "delete"),
      (4, 40L, "insert")))
    // changesSince at the current version is an EMPTY delta, same columns
    val since = ManifestStore.changesSince(spark, path, payload, 3L)
    assert(since.count() === 0L)
    assert(since.columns.contains("_change"))
    assert(ManifestStore.changesSince(spark, path, payload, 1L)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSet
      === cdf(1L, 3L))
    val bad = intercept[IllegalArgumentException] {
      ManifestStore.changesBetween(spark, path, payload, 3L, 3L)
    }
    assert(bad.getMessage.contains("fromVersion < toVersion"), bad.getMessage)
  }

  test("time travel fails LOUD outside retention: a vacuumed version " +
    "names the retained range; an as-of older than history refuses") {
    val path = tmpDir("mttvac") + "/t"
    applyM(path, batchDf(("create", 1, 10L)))
    Thread.sleep(5)
    applyM(path, batchDf(("update", 1, 11L)))
    Thread.sleep(5)
    applyM(path, batchDf(("update", 1, 12L)))
    // the age gate keeps anything published in the current millisecond,
    // even at minAgeMs = 0: let version 3 age past it
    Thread.sleep(5)
    ManifestStore.vacuum(spark, path, keepVersions = 1, minAgeMs = 0L)
    val gone = intercept[IllegalStateException] {
      ManifestStore.manifestAt(spark, path, 1L)
    }
    assert(gone.getMessage.contains("not retained") &&
      gone.getMessage.contains("[3..3]"), gone.getMessage)
    val never = intercept[IllegalStateException] {
      ManifestStore.manifestAt(spark, path, 99L)
    }
    assert(never.getMessage.contains("not retained"), never.getMessage)
    val early = intercept[IllegalStateException] {
      ManifestStore.versionAsOf(spark, path, 1L)
    }
    assert(early.getMessage.contains("predates"), early.getMessage)
    // the retained version still time-travels fine
    assert(ManifestStore.readStateAt(spark, path, payload, 3L)
      .drop(BucketedUpsertSink.BucketCol)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet ===
      Set((1, 12L)))
  }

  test("review r13: vacuum is supersession-timed — a long-carried bucket " +
    "dir outlasts K rapid supersessions until the oldest KEPT manifest " +
    "passes the age floor; an everything-pruned read keeps the store schema") {
    val path = tmpDir("mvac2") + "/t"
    applyM(path, batchDf(("create", 1, 10L), ("create", 2, 20L)))
    val oldDirs = dataFiles(path)
    // K+2 rapid commits all touching pk 1: the ORIGINAL commit's bucket
    // dirs are unreferenced by every kept manifest almost immediately —
    // but the oldest kept manifest is seconds old, so a reader that
    // resolved within the age floor may still hold a version referencing
    // them. A creation-age rule would delete them here (the dir itself is
    // older than a 0ms floor); the supersession rule must NOT.
    (1 to 4).foreach(i => applyM(path, batchDf(("update", 1, 100L + i))))
    ManifestStore.vacuum(spark, path, keepVersions = 2, minAgeMs = 60000L)
    assert(oldDirs.subsetOf(dataFiles(path)),
      "files superseded less than minAge ago must survive (supersession " +
        "time, not creation time, is the reader-safety clock)")
    // with the floor at 0 the oldest kept manifest qualifies and the
    // unreferenced dirs go
    ManifestStore.vacuum(spark, path, keepVersions = 2, minAgeMs = 0L)
    assert(stateRows(path) === Set((1, 104L), (2, 20L)))
    // everything-pruned read: schema must equal the store's, not collapse
    // to just the stat column (review r13 #3)
    val pruned = ManifestStore
      .prunedRead(spark, path, StructType(Nil), "score", -500L, -400L)
    assert(pruned.count() === 0L)
    assert(pruned.schema.fieldNames.toSet === Set("id", "score"),
      s"pruned-to-zero read lost the store schema: ${pruned.schema}")
  }

  test("r13 fuzz-gate finding: a state path WIPED and recreated in one JVM " +
    "must not resolve the old store's cached manifest (versions restart at " +
    "1, so the cache must key on file identity, not path+version)") {
    val path = tmpDir("mwipe") + "/t"
    applyM(path, batchDf(("create", 1, 10L)))
    assert(stateRows(path) === Set((1, 10L)))
    // wipe the whole store (the dev scratch-root reset shape) ...
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(path))
    assert(!ManifestStore.isManifestStore(spark, path),
      "a wiped path must read as non-manifest again (no sticky detection)")
    // ... and rebuild: version 1 again, DIFFERENT content — a
    // (path, version)-keyed cache would serve the OLD manifest here and
    // the read would die on its deleted bucket dirs
    applyM(path, batchDf(("create", 7, 70L)))
    assert(stateRows(path) === Set((7, 70L)),
      "the recreated store must resolve its OWN version-1 manifest")
  }

  test("review r13: a manifest-layout store under a config that DROPPED " +
    "state.buckets fails loud naming the repair, not a parquet-footer read") {
    val root = tmpDir("mdrift")
    val path = s"$root/sink/t"
    applyM(path, batchDf(("create", 1, 10L)))
    val sync = SyncConfig("t", pk = "id", schema = Some(payload))
    val cfg = PipelineConfig(Seq(sync)) // no stateBuckets
    val src = new ParquetCdcSource(spark, s"$root/feed", s"$root/tables")
    new java.io.File(s"$root/feed").mkdirs()
    val pipe = new Pipeline(spark, cfg, src, s"$root/sink")
    Seq(ChangeEvent("update", "t", 100,
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      """{"id": 1, "score": 11}""")).toDS().toDF()
      .repartition(1).write.mode("append").parquet(s"$root/feed")
    val q = pipe.start(s"$root/ckpt")
    val e = intercept[Exception] {
      try q.processAllAvailable() finally { q.stop(); pipe.releaseLeases() }
    }
    // an absent state.buckets is one bucket: the modulus fence refuses
    // the 4-bucket store and names the repair
    assert(causeChain(e).contains("laid out with 4 buckets") &&
      causeChain(e).contains("now says 1") &&
      causeChain(e).contains("refresh"),
      s"config drift must name the repair, got: ${causeChain(e).take(800)}")
  }

  test("schema evolution (new column) pays a one-time full rewrite and " +
    "keeps one physical schema across every live bucket dir") {
    val path = tmpDir("mevo") + "/t"
    applyM(path, batchDf(("create", 1, 10L), ("create", 2, 20L)))
    // a batch arrives carrying a column the store lacks
    val evolved = Seq(("create", 3, 30L, "x")).toDF("op", "id", "score", "tag")
    BucketedUpsertSink.applyBatch(spark, path, evolved, "id", 4,
      None, Seq("score"))
    val st = ManifestStore.readState(spark, path,
      StructType(payload.fields :+ StructField("tag", StringType)))
      .drop(BucketedUpsertSink.BucketCol)
    assert(st.schema.fieldNames.toSet === Set("id", "score", "tag"))
    assert(st.count() === 3L)
    assert(st.filter(col("id") === 1).select("tag").head.isNullAt(0),
      "pre-evolution rows read null for the new column")
  }

  test("legacy bucket-dir store migrates to manifest layout on the first " +
    "manifest-mode batch: one full publish, legacy dirs dropped, rows intact") {
    val path = tmpDir("mmig") + "/t"
    // the retired in-place layout, written with plain Spark
    Seq((1, 10L), (2, 20L)).toDF("id", "score")
      .withColumn(BucketedUpsertSink.BucketCol,
        BucketedUpsertSink.bucketOf(col("id"), 4))
      .write.partitionBy(BucketedUpsertSink.BucketCol).parquet(path)
    applyM(path, batchDf(("update", 1, 11L), ("create", 3, 30L)))
    assert(ManifestStore.isManifestStore(spark, path))
    assert(stateRows(path) === Set((1, 11L), (2, 20L), (3, 30L)))
    val names = new java.io.File(path).listFiles().map(_.getName)
    assert(!names.exists(_.startsWith(BucketedUpsertSink.BucketCol + "=")),
      s"legacy bucket dirs must not linger: ${names.mkString(",")}")
    // and the next batch is an ordinary incremental commit
    applyM(path, batchDf(("update", 3, 33L)))
    assert(stateRows(path) === Set((1, 11L), (2, 20L), (3, 33L)))
    assert(ManifestStore.currentManifest(spark, path).get.version === 2L)
  }

  test("modulus fence: a manifest store laid out at 4 buckets refuses an " +
    "8-bucket writer, naming refresh") {
    val path = tmpDir("mmod") + "/t"
    applyM(path, batchDf(("create", 1, 10L)), n = 4)
    val e = intercept[IllegalStateException] {
      applyM(path, batchDf(("create", 2, 20L)), n = 8)
    }
    assert(e.getMessage.contains("4") && e.getMessage.contains("refresh"),
      e.getMessage)
  }

  test("full pipeline lifecycle on manifestSink=true: backfill -> stream " +
    "-> refresh publishes new version -> check reads counts from the " +
    "manifest -> zero markers ever minted") {
    val root = tmpDir("mlife")
    val feedDir = s"$root/feed"; new java.io.File(feedDir).mkdirs()
    val tableDir = s"$root/tables"
    val sinkRoot = s"$root/sink"
    val sync = SyncConfig("t", pk = "id", full = true, schema = Some(payload))
    val cfg = PipelineConfig(Seq(sync), stateBuckets = Some(4),
      zoneMapCols = Seq("score"))
    Seq((1, 10L), (2, 20L)).toDF("id", "score")
      .write.parquet(s"$tableDir/t.parquet")
    def feed(events: ChangeEvent*): Unit =
      events.toSeq.toDS().toDF()
        .repartition(1).write.mode("append").parquet(feedDir)
    val src = new ParquetCdcSource(spark, feedDir, tableDir,
      maxFilesPerTrigger = 1)
    val pipe = new Pipeline(spark, cfg, src, sinkRoot)
    feed(
      ChangeEvent("create", "t", 100,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        """{"id": 3, "score": 30}"""),
      ChangeEvent("update", "t", 101,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:01"),
        """{"id": 1, "score": 11}"""))
    val q = pipe.start(s"$root/ckpt"); q.processAllAvailable(); q.stop()
    assert(pipe.sinkState(sync).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
      === Set((1, 11L), (2, 20L), (3, 30L)))
    assert(pipe.check() === Map("t" -> ((2L, 3L))),
      "check: source 2 rows, sink 3 (count straight from the manifest)")
    // refresh from new truth publishes a new full version atomically
    Seq((1, 100L), (5, 500L)).toDF("id", "score")
      .write.mode("overwrite").parquet(s"$tableDir/t.parquet")
    assert(pipe.refresh() === Map("t" -> 2L))
    assert(pipe.sinkState(sync).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
      === Set((1, 100L), (5, 500L)))
    // stats ride the manifest: no zone-map sidecar or marker file was
    // ever created beside the state
    val siblings = new java.io.File(sinkRoot).listFiles().map(_.getName)
    assert(!siblings.exists(_.contains("zonemap")),
      s"manifest mode must not mint zone-map sidecars: ${siblings.mkString(",")}")
    pipe.releaseLeases()
  }
}
