package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Sink layout transitions (review r11): the manifest sink (one bucket
  * when `state.buckets` is absent) must survive the config changes a
  * deployment actually makes — changing the bucket COUNT or a column's type
  * — without silently dropping or duplicating rows; a store in a retired
  * on-disk format (flat or in-place `_bucket=` data, or a `.wm` sidecar)
  * must fail loud rather than be read as empty or overwritten; and the
  * refresh staging path must survive an empty source table. */
class SinkLayoutSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("op", StringType), StructField("id", IntegerType),
    StructField("v", StringType)))
  private val payload = StructType(Seq(
    StructField("id", IntegerType), StructField("v", StringType)))

  private def creates(rows: (Int, String)*) =
    rows.map { case (i, v) => ("create", i, v) }.toDF("op", "id", "v")

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

  /** A store in the retired FLAT layout, written with plain Spark. */
  private def flatStore(path: String, rows: Seq[(Int, String)]): Unit =
    rows.toDF("id", "v").write.parquet(path)

  private val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")

  test("with no state.buckets a Pipeline's sink is a ONE-bucket manifest " +
    "store: the first batch over an empty root publishes one bucket keeping " +
    "every row, and refresh from the same config also publishes one bucket") {
    import graft.model._
    val sinkRoot = tmpDir("layout-default")
    val statePath = s"$sinkRoot/t"
    val sync = SyncConfig("t", pk = "id", schema = Some(payload))
    val src = new MemoryCdcSource(spark,
      Map("t" -> Seq((1, "x"), (4, "y")).toDF("id", "v")))
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync)), src, sinkRoot)
    try {
      src.addEvents(
        ChangeEvent("create", "t", 10, ts0, """{"id": 1, "v": "a"}"""),
        ChangeEvent("create", "t", 11, ts0, """{"id": 2, "v": "b"}"""),
        ChangeEvent("update", "t", 12, ts0, """{"id": 2, "v": "b2"}"""),
        ChangeEvent("create", "t", 13, ts0, """{"id": 5, "v": "e"}"""))
      val q = pipe.start(tmpDir("layout-default-ckpt"))
      try q.processAllAvailable() finally q.stop()
      val m = ManifestStore.currentManifest(spark, statePath)
      assert(m.map(_.nbuckets) === Some(1), s"first batch published $m")
      assert(pipe.sinkState(sync).orderBy("id").collect().toSeq ===
        Seq(Row(1, "a"), Row(2, "b2"), Row(5, "e")))
      assert(pipe.refresh() === Map("t" -> 2L))
      assert(ManifestStore.currentManifest(spark, statePath).map(_.nbuckets) ===
        Some(1), "refresh must keep the one-bucket layout")
      assert(pipe.sinkState(sync).orderBy("id").collect().toSeq ===
        Seq(Row(1, "x"), Row(4, "y")))
    } finally pipe.releaseLeases()
  }

  /** Every file under `dir` but the driver lease, relative path -> (bytes,
    * mtime). */
  private def files(dir: String): Map[String, (Long, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala
      .filter(p => p.toFile.isFile && !p.getFileName.toString.contains(".lease"))
      .map(p => root.relativize(p).toString ->
        ((p.toFile.length, p.toFile.lastModified))).toMap
    finally walk.close()
  }

  test("a store in a retired on-disk format fails the first batch, refresh " +
    "and replay LOUD, naming its path, and publishes nothing") {
    import graft.model._
    // root formats: flat parquet and the in-place `_bucket=` dirs, with no
    // manifest; sidecar formats: a manifest store with the positions or the
    // floor file of the retired `.wm` protocols beside it
    val formats: Seq[(String, String => Unit)] = Seq(
      "flat" -> (sp => flatStore(sp, Seq((1, "a")))),
      "bucket-dirs" -> (sp => legacyBucketStore(sp, Seq((1, "a")), 4)),
      "wm-sidecar" -> (sp => Seq((1, 3L)).toDF("id", UpsertSink.OffsetCol)
        .write.parquet(OffsetWatermark.path(sp))),
      "wm-floor" -> (sp => java.nio.file.Files.write(
        java.nio.file.Paths.get(OffsetWatermark.path(sp) + ".floor"),
        "3".getBytes("UTF-8"))))
    formats.foreach { case (format, write) =>
      val sinkRoot = tmpDir(s"layout-retired-$format")
      val statePath = s"$sinkRoot/t"
      val sidecar = format.startsWith("wm")
      val sync = SyncConfig("t", pk = "id", schema = Some(payload))
      val src = new MemoryCdcSource(spark,
        Map("t" -> Seq((1, "x")).toDF("id", "v")))
      val pipe = new Pipeline(spark,
        PipelineConfig(Seq(sync), stateBuckets = Some(4)), src, sinkRoot)
      try {
        // a run before the retired files appear: a quarantined envelope
        // (and, for the sidecar formats, a published manifest), repaired
        // so that the replay has a row to apply
        src.addEvents(ChangeEvent("create", "t", 1, ts0, """{"id": null, "v": "q"}"""))
        if (sidecar)
          src.addEvents(ChangeEvent("create", "t", 2, ts0, """{"id": 2, "v": "b"}"""))
        val ckpt = tmpDir("layout-retired-ckpt")
        val q0 = pipe.start(ckpt)
        try q0.processAllAvailable() finally q0.stop()
        val dl = pipe.deadLetterPath(sync)
        val repaired = spark.read.parquet(dl).withColumn("id", lit(7))
          .localCheckpoint(true)
        repaired.write.mode("overwrite").parquet(dl)
        val before = ManifestStore.currentManifest(spark, statePath)
        assert(before.isDefined === sidecar, format)
        write(statePath)
        val named = if (sidecar) OffsetWatermark.path(statePath) else statePath
        val stored = files(sinkRoot)
        def assertLoud(op: String, e: Throwable): Unit = {
          val msg = causeChain(e)
          assert(msg.contains(named) && msg.contains("retired") &&
            msg.contains("refresh"), s"$format, $op: $msg")
          assert(ManifestStore.currentManifest(spark, statePath) === before,
            s"$format, $op: a manifest was published")
          assert(files(sinkRoot) === stored, s"$format, $op: a file changed")
        }
        src.addEvents(ChangeEvent("create", "t", 5, ts0, """{"id": 3, "v": "c"}"""))
        val q1 = pipe.start(ckpt)
        try assertLoud("first batch", intercept[Exception](q1.processAllAvailable()))
        finally q1.stop()
        assertLoud("refresh", intercept[IllegalStateException](pipe.refresh()))
        assertLoud("replay", intercept[IllegalStateException](pipe.replayDeadLetters()))
        assert(spark.read.parquet(dl).count() === 1L, s"$format: quarantine kept")
      } finally pipe.releaseLeases()
    }
  }

  test("a flat store caught mid-swap, its rows only in the `.old` copy, " +
    "fails its next batch LOUD naming that copy, and publishes nothing") {
    val statePath = tmpDir("layout-midswap") + "/t"
    flatStore(s"$statePath.old", Seq((1, "a"), (2, "b")))
    val e = intercept[IllegalStateException] {
      BucketedUpsertSink.applyBatch(spark, statePath, creates((3, "c")),
        "id", numBuckets = 1, schema = Some(payload))
    }
    assert(e.getMessage.contains(s"$statePath.old") &&
      e.getMessage.contains("retired"), e.getMessage)
    assert(ManifestStore.currentManifest(spark, statePath).isEmpty)
    assert(!new java.io.File(statePath).exists())
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
