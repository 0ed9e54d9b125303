package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sink layout transitions (review r11): the manifest sink (one bucket
  * when `state.buckets` is absent) must survive the config changes a
  * deployment actually makes — upgrading an existing flat store, a store in
  * the retired in-place bucket-dir layout, and changing the bucket COUNT —
  * without silently dropping or duplicating rows; a watermark sidecar left
  * in the retired bucketed layout must go flat without losing an entry;
  * and the refresh staging path must survive an empty source table. */
class SinkLayoutSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("op", StringType), StructField("id", IntegerType),
    StructField("v", StringType)))
  private val payload = StructType(Seq(
    StructField("id", IntegerType), StructField("v", StringType)))

  private def creates(rows: (Int, String)*) =
    rows.map { case (i, v) => ("create", i, v) }.toDF("op", "id", "v")

  test("flipping state.buckets ON over an existing FLAT store migrates it " +
    "(full merge + bucketed rewrite + layout marker) instead of merging " +
    "against empty and stranding the flat files") {
    val statePath = tmpDir("layout-flip") + "/t"
    // flat era: plain parquet state, the UpsertSink layout
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
      .write.parquet(statePath)
    // bucketed era: first batch updates id 1, creates id 9
    BucketedUpsertSink.applyBatch(spark, statePath,
      creates((9, "new")).unionByName(
        Seq(("update", 1, "a2")).toDF("op", "id", "v")),
      "id", numBuckets = 4, schema = Some(payload))
    def rows() = BucketedUpsertSink.currentState(spark, statePath, payload)
      .orderBy("id").collect().toSeq
    val state = rows()
    assert(state === Seq(Row(1, "a2"), Row(2, "b"), Row(3, "c"), Row(9, "new")),
      s"the pre-flip rows must survive the migration: $state")
    // the layout marker of the manifest layout is its manifest, which also
    // records the modulus
    assert(ManifestStore.currentManifest(spark, statePath).map(_.nbuckets) ===
      Some(4), "layout must be bucketed")
    val names = new java.io.File(statePath).listFiles().map(_.getName)
    assert(!names.exists(n => n.endsWith(".parquet") && !n.startsWith("_")),
      s"no stranded flat part files: ${names.mkString(",")}")
    // and the next incremental batch works against the migrated layout
    BucketedUpsertSink.applyBatch(spark, statePath,
      Seq(("delete", 2, null: String)).toDF("op", "id", "v"),
      "id", numBuckets = 4, schema = Some(payload))
    assert(rows().length === 3)
  }

  test("changing the bucket COUNT on an existing bucketed store fails LOUD " +
    "naming refresh (a pruned merge under the new modulus would duplicate " +
    "pks); refresh re-lays the store out under the new modulus") {
    import graft.model._
    val sinkRoot = tmpDir("layout-count")
    val statePath = s"$sinkRoot/t"
    BucketedUpsertSink.applyBatch(spark, statePath, creates((1, "a"), (2, "b")),
      "id", numBuckets = 4, schema = Some(payload))
    val e = intercept[IllegalStateException] {
      BucketedUpsertSink.applyBatch(spark, statePath, creates((3, "c")),
        "id", numBuckets = 8, schema = Some(payload))
    }
    assert(e.getMessage.contains("4 buckets") &&
      e.getMessage.contains("refresh"), e.getMessage)
    // the named repair works: refresh under the new modulus, then batch
    val sync = SyncConfig("t", pk = "id", schema = Some(payload))
    val pipe = new Pipeline(spark,
      PipelineConfig(Seq(sync), stateBuckets = Some(8)),
      new MemoryCdcSource(spark,
        Map("t" -> Seq((1, "a"), (2, "b")).toDF("id", "v"))), sinkRoot)
    try pipe.refresh() finally pipe.releaseLeases()
    BucketedUpsertSink.applyBatch(spark, statePath, creates((3, "c")),
      "id", numBuckets = 8, schema = Some(payload))
    assert(ManifestStore.currentManifest(spark, statePath).get.nbuckets === 8)
    assert(BucketedUpsertSink.currentState(spark, statePath, payload)
      .count() === 3L)
  }

  test("a TYPE change in an existing column takes the full-rewrite " +
    "evolution path, not the per-bucket path that would write mixed " +
    "physical types across bucket dirs") {
    val statePath = tmpDir("layout-type") + "/t"
    val intPayload = StructType(Seq(
      StructField("id", IntegerType), StructField("v", IntegerType)))
    BucketedUpsertSink.applyBatch(spark, statePath,
      Seq(("create", 1, 10), ("create", 2, 20)).toDF("op", "id", "v"),
      "id", numBuckets = 4, schema = Some(intPayload))
    // v arrives as LONG now (source widened the column)
    BucketedUpsertSink.applyBatch(spark, statePath,
      Seq(("create", 3, 30L)).toDF("op", "id", "v"),
      "id", numBuckets = 4, schema = None)
    // every bucket dir must carry ONE consistent physical type: a read
    // over every live dir (no mergeSchema) succeeds and sees all rows
    val state = ManifestStore.readState(spark, statePath, intPayload)
      .drop(BucketedUpsertSink.BucketCol).orderBy("id")
    assert(state.count() === 3L)
    assert(state.schema("v").dataType === LongType,
      s"the widened type must win everywhere: ${state.schema}")
    ManifestStore.currentManifest(spark, statePath).get.buckets.values
      .foreach { e =>
        assert(spark.read.parquet(s"$statePath/${e.relDir}")
          .schema("v").dataType === LongType, e.relDir)
      }
  }

  test("a legacy BUCKETED watermark sidecar (any modulus, with its " +
    "_nbuckets-N file) goes flat on the first batch of a bucketed " +
    "Pipeline: one entry per pk at the max position, and a superseded " +
    "repair still replays as stale") {
    import graft.model._
    val sinkRoot = tmpDir("layout-wm")
    val sync = SyncConfig("t", pk = "id", schema = Some(payload))
    val wmDir = OffsetWatermark.path(s"$sinkRoot/${sync.indexName}")
    // the retired layout, at a modulus (8) other than the sink's (4)
    Seq((1, 5L, 0), (2, 6L, 0), (3, 4L, 0))
      .toDF("id", OffsetWatermark.OffsetCol, OffsetWatermark.RidxCol)
      .withColumn(BucketedUpsertSink.BucketCol,
        BucketedUpsertSink.bucketOf(col("id"), 8))
      .write.partitionBy(BucketedUpsertSink.BucketCol).parquet(wmDir)
    assert(new java.io.File(wmDir, "_nbuckets-8").createNewFile())
    val src = new MemoryCdcSource(spark)
    val pipe = new Pipeline(spark,
      PipelineConfig(Seq(sync), stateBuckets = Some(4)), src, sinkRoot)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    src.addEvents(
      ChangeEvent("create", "t", 7, ts, """{"id": null, "v": "stale"}"""),
      ChangeEvent("create", "t", 10, ts, """{"id": 1, "v": "a"}"""),
      ChangeEvent("create", "t", 11, ts, """{"id": 2, "v": "b"}"""))
    val q = pipe.start(tmpDir("layout-wm-ckpt"))
    q.processAllAvailable(); q.stop()
    val wm = OffsetWatermark.current(spark, s"$sinkRoot/${sync.indexName}")
      .get.orderBy("id").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSeq
    assert(wm === Seq((1, 10L, 0), (2, 11L, 0), (3, 4L, 0)),
      "one entry per pk at the max position, untouched legacy pks kept")
    val names = new java.io.File(wmDir).listFiles().map(_.getName)
    assert(!names.exists(n => n.startsWith(BucketedUpsertSink.BucketCol + "=") ||
      n.startsWith("_nbuckets-")),
      s"the sidecar must be flat after its first advance: ${names.mkString(",")}")
    // the quarantined offset-7 envelope repaired to pk 1, which the live
    // batch already applied at offset 10: superseded, so discarded
    val dl = pipe.deadLetterPath(sync)
    val repaired = spark.read.parquet(dl).withColumn("id", lit(1))
      .localCheckpoint(true)
    repaired.write.mode("overwrite").parquet(dl)
    assert(pipe.replayDeadLetters() === Map("t" -> ((0L, 1L, 0L))))
    assert(pipe.sinkState(sync).orderBy("id").collect().toSeq ===
      Seq(Row(1, "a"), Row(2, "b")))
    pipe.releaseLeases()
  }

  test("staging an EMPTY snapshot with a bucketed layout returns count 0 " +
    "instead of crashing on schema inference over zero data files") {
    val live = tmpDir("layout-empty") + "/t"
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], payload)
    val staged = ManifestStore.stageFull(spark, live, empty, "id", 4, Nil)
    assert(staged.count === 0L)
    ManifestStore.dropStaged(spark, staged)
    // and the full refresh of an empty source publishes an empty sink
    import graft.model._
    val sinkRoot = tmpDir("layout-empty-refresh")
    val sync = SyncConfig("t", pk = "id", schema = Some(payload))
    val pipe = new Pipeline(spark,
      PipelineConfig(Seq(sync), stateBuckets = Some(4)),
      new MemoryCdcSource(spark, Map("t" -> empty)), sinkRoot)
    try assert(pipe.refresh() === Map("t" -> 0L))
    finally pipe.releaseLeases()
    assert(ManifestStore.currentManifest(spark, s"$sinkRoot/t")
      .map(_.rowCount) === Some(0L))
    assert(pipe.sinkState(sync).count() === 0L)
  }

  /** A store in the retired in-place layout, written with plain Spark: one
    * `_bucket=<id>` partition dir per pk-hash bucket plus the empty
    * `_nbuckets-<n>` modulus file. */
  private def legacyBucketStore(path: String, rows: Seq[(Int, String)],
                                n: Int): Unit = {
    rows.toDF("id", "v")
      .withColumn(BucketedUpsertSink.BucketCol,
        BucketedUpsertSink.bucketOf(col("id"), n))
      .write.partitionBy(BucketedUpsertSink.BucketCol).parquet(path)
    assert(new java.io.File(s"$path/_nbuckets-$n").createNewFile())
  }

  private def legacyLeftovers(path: String): Seq[String] =
    new java.io.File(path).listFiles().map(_.getName).filter(n =>
      n.startsWith(BucketedUpsertSink.BucketCol + "=") ||
        n.startsWith("_nbuckets-") || n.endsWith(".parquet")).toSeq

  test("a legacy store upgrades to the manifest layout through the first " +
    "batch AND through refresh, with no legacy files left behind") {
    import graft.model._
    val rows = Seq((1, "a"), (2, "b"), (3, "c"))
    // first batch over an in-place bucket-dir store
    val viaBatch = tmpDir("layout-upgrade-batch") + "/t"
    legacyBucketStore(viaBatch, rows, 4)
    BucketedUpsertSink.applyBatch(spark, viaBatch,
      Seq(("update", 1, "a2")).toDF("op", "id", "v"), "id",
      numBuckets = 4, schema = Some(payload))
    assert(ManifestStore.isManifestStore(spark, viaBatch))
    assert(ManifestStore.readState(spark, viaBatch, payload)
      .drop(BucketedUpsertSink.BucketCol).orderBy("id").collect().toSeq ===
      Seq(Row(1, "a2"), Row(2, "b"), Row(3, "c")))
    assert(legacyLeftovers(viaBatch).isEmpty,
      s"legacy files left after the batch: ${legacyLeftovers(viaBatch)}")
    // refresh over an in-place bucket-dir store and over a flat store
    val sync = SyncConfig("t", pk = "id", schema = Some(payload))
    val snapshot = Seq((1, "x"), (4, "y")).toDF("id", "v")
    Seq("bucketed", "flat").foreach { legacy =>
      val sinkRoot = tmpDir(s"layout-upgrade-refresh-$legacy")
      val statePath = s"$sinkRoot/t"
      if (legacy == "bucketed") legacyBucketStore(statePath, rows, 4)
      else rows.toDF("id", "v").write.parquet(statePath)
      val pipe = new Pipeline(spark,
        PipelineConfig(Seq(sync), stateBuckets = Some(4)),
        new MemoryCdcSource(spark, Map("t" -> snapshot)), sinkRoot)
      try assert(pipe.refresh() === Map("t" -> 2L))
      finally pipe.releaseLeases()
      assert(pipe.sinkState(sync).orderBy("id").collect().toSeq ===
        Seq(Row(1, "x"), Row(4, "y")), legacy)
      assert(legacyLeftovers(statePath).isEmpty,
        s"$legacy: legacy files left after refresh: ${legacyLeftovers(statePath)}")
    }
  }

  /** A pre-manifest FLAT store written with plain Spark at `sinkRoot/t`. */
  private def flatStore(sinkRoot: String, rows: Seq[(Int, String)]): Unit =
    rows.toDF("id", "v").write.parquet(s"$sinkRoot/t")

  private val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")

  test("with no state.buckets a Pipeline's sink is a ONE-bucket manifest " +
    "store: the first batch over a flat store migrates it keeping every " +
    "row, and refresh from the same config also publishes one bucket") {
    import graft.model._
    val sinkRoot = tmpDir("layout-default")
    val statePath = s"$sinkRoot/t"
    flatStore(sinkRoot, Seq((1, "a"), (2, "b"), (3, "c")))
    val sync = SyncConfig("t", pk = "id", schema = Some(payload))
    val src = new MemoryCdcSource(spark,
      Map("t" -> Seq((1, "x"), (4, "y")).toDF("id", "v")))
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync)), src, sinkRoot)
    try {
      src.addEvents(
        ChangeEvent("update", "t", 10, ts0, """{"id": 2, "v": "b2"}"""),
        ChangeEvent("create", "t", 11, ts0, """{"id": 5, "v": "e"}"""))
      val q = pipe.start(tmpDir("layout-default-ckpt"))
      try q.processAllAvailable() finally q.stop()
      val m = ManifestStore.currentManifest(spark, statePath)
      assert(m.map(_.nbuckets) === Some(1), s"first batch published $m")
      assert(pipe.sinkState(sync).orderBy("id").collect().toSeq ===
        Seq(Row(1, "a"), Row(2, "b2"), Row(3, "c"), Row(5, "e")),
        "every pre-existing row must survive the migration")
      val names = new java.io.File(statePath).listFiles().map(_.getName)
      assert(!names.exists(n => n.endsWith(".parquet") || n == "_SUCCESS"),
        s"flat files stranded after the first batch: ${names.mkString(",")}")
      assert(pipe.refresh() === Map("t" -> 2L))
      assert(ManifestStore.currentManifest(spark, statePath).map(_.nbuckets) ===
        Some(1), "refresh must keep the one-bucket layout")
      assert(pipe.sinkState(sync).orderBy("id").collect().toSeq ===
        Seq(Row(1, "x"), Row(4, "y")))
    } finally pipe.releaseLeases()
  }

  test("a flat store not yet migrated reads as its rows, not as absent: " +
    "check counts them, sinkState returns them, and a full=true backfill " +
    "leaves them in place") {
    import graft.model._
    Seq(None, Some(4)).foreach { buckets =>
      val sinkRoot = tmpDir(s"layout-premigrate-${buckets.getOrElse(0)}")
      val statePath = s"$sinkRoot/t"
      val rows = Seq((1, "a"), (2, "b"), (3, "c"))
      flatStore(sinkRoot, rows)
      val sync = SyncConfig("t", pk = "id", full = true, schema = Some(payload))
      // the source's snapshot differs from the store, so a backfill that
      // wrongly ran would show
      val pipe = new Pipeline(spark,
        PipelineConfig(Seq(sync), stateBuckets = buckets),
        new MemoryCdcSource(spark, Map("t" -> Seq((9, "z")).toDF("id", "v"))),
        sinkRoot)
      try {
        assert(pipe.check() === Map("t" -> ((1L, 3L))), s"$buckets: check")
        assert(pipe.sinkState(sync).orderBy("id").collect().toSeq ===
          rows.map { case (i, v) => Row(i, v) }, s"$buckets: sinkState")
        pipe.backfillIfNeeded()
        assert(ManifestStore.currentManifest(spark, statePath).isEmpty,
          s"$buckets: backfill must not publish over a live legacy store")
        assert(pipe.sinkState(sync).count() === 3L, s"$buckets: after backfill")
      } finally pipe.releaseLeases()
    }
  }

  test("a snapshot-floor failure AFTER refresh's publish keeps the " +
    "published snapshot readable instead of deleting its files") {
    import graft.model._
    val sinkRoot = tmpDir("layout-floorfail")
    val statePath = s"$sinkRoot/t"
    val sync = SyncConfig("t", pk = "id", schema = Some(payload))
    val pipe = new Pipeline(spark,
      PipelineConfig(Seq(sync), stateBuckets = Some(4)),
      new MemoryCdcSource(spark,
        Map("t" -> Seq((1, "x"), (2, "y")).toDF("id", "v"))), sinkRoot)
    // a floor file that does not parse makes the floor record throw
    val floor = new java.io.File(OffsetWatermark.floorPath(statePath))
    floor.getParentFile.mkdirs()
    java.nio.file.Files.write(floor.toPath, "torn".getBytes("UTF-8"))
    try {
      val e = intercept[IllegalArgumentException](pipe.refresh())
      assert(e.getMessage.contains("torn snapshot floor"), e.getMessage)
    } finally pipe.releaseLeases()
    assert(ManifestStore.currentManifest(spark, statePath).map(_.rowCount) ===
      Some(2L), "the publish landed before the floor record failed")
    assert(pipe.sinkState(sync).orderBy("id").collect().toSeq ===
      Seq(Row(1, "x"), Row(2, "y")),
      "the published snapshot's files must still be there")
    assert(ManifestStore.stagingUnder(statePath).isEmpty)
  }

  test("a repaired dead-letter row with a NULL offset fails the replay " +
    "LOUD instead of being deleted from quarantine unapplied") {
    import graft.model._
    val sinkRoot = tmpDir("layout-nulloff")
    val sync = SyncConfig("t", pk = "id", schema = Some(StructType(Seq(
      StructField("id", IntegerType), StructField("v", StringType)))))
    val src = new MemoryCdcSource(spark)
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync)), src, sinkRoot)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    src.addEvents(
      ChangeEvent("create", "t", 1, ts, """{"id": 1, "v": "a"}"""),
      ChangeEvent("create", "t", 2, ts, """{"id": null, "v": "broken"}"""))
    val q = pipe.start(tmpDir("layout-nulloff-ckpt"))
    q.processAllAvailable(); q.stop()
    val dl = pipe.deadLetterPath(sync)
    // operator repair that also nulls the offset (hand-edited parquet)
    val repaired = spark.read.parquet(dl)
      .withColumn("id", lit(7))
      .withColumn("offset", lit(null).cast("long"))
      .localCheckpoint(true)
    repaired.write.mode("overwrite").parquet(dl)
    val e = intercept[IllegalArgumentException] { pipe.replayDeadLetters() }
    assert(e.getMessage.contains("NULL offset"), e.getMessage)
    // nothing was deleted: the quarantined envelope is still there
    assert(spark.read.parquet(dl).count() === 1L)
    pipe.releaseLeases()
  }
}
