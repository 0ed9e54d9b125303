package graft

import graft.cdc._
import graft.model._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The per-pk offset watermark's hazards, now that it lives in
  * the sink's rows: the snapshot floor (snapshot rows carry no position, so
  * pre-snapshot quarantined rows used to replay over refreshed state; the
  * floor is captured BEFORE the scan and published with it, monotone), the
  * (offset, _ridx) position order (a repaired row must lose to an applied
  * same-offset sibling with a higher row index), the bounded probe
  * broadcast in splitStale, and the upgrade of a store whose watermark
  * still sits in the legacy `.wm` sidecar and `.wm.floor` file. */
class OffsetWatermarkSpec extends SparkSpec {
  import spark.implicits._


  /** The quarantine-repair ritual: read -> transform -> EAGER checkpoint ->
    * overwrite the SAME path. The localCheckpoint(true) is what makes
    * overwriting the file being read safe — one helper so no copy can
    * drop it (review r11: five inlined copies). */
  private def repairQuarantine(dl: String)(
      f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val repaired = f(spark.read.parquet(dl)).localCheckpoint(true)
    repaired.write.mode("overwrite").parquet(dl)
    repaired // still materialized — callers may re-stage it (crash-retry)
  }

  /** Every stored position of the store at `statePath`, tombstones
    * included: pk -> (offset, _ridx). */
  private def wmOf(statePath: String): Map[Int, (Long, Int)] =
    BucketedUpsertSink.positions(spark, statePath,
      ManifestStore.currentManifest(spark, statePath), "id").map(
      _.collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getInt(2)))).toMap)
      .getOrElse(Map.empty)

  private val payload = StructType(Seq(
    StructField("id", IntegerType), StructField("name", StringType)))

  /** One compacted, positioned change batch applied straight to the sink:
    * (op, id, name, offset, ridx) rows. */
  private def applyPositioned(statePath: String,
                              rows: Seq[(String, Int, String, Long, Integer)],
                              numBuckets: Int = 4): Unit =
    BucketedUpsertSink.applyBatch(spark, statePath,
      spark.createDataFrame(java.util.Arrays.asList(rows.map { case (op, id, n, o, r) =>
        Row(op, id, n, o, r) }: _*), StructType(Seq(StructField("op", StringType)) ++
        payload.fields ++ Seq(StructField(UpsertSink.OffsetCol, LongType),
          StructField(UpsertSink.RidxCol, IntegerType)))),
      "id", numBuckets, schema = Some(payload))

  /** A watermark sidecar in the retired bucketed layout, written with plain
    * Spark: `_bucket=<id>` partition dirs plus the `_nbuckets-<n>` modulus
    * file that layout kept beside them. */
  private def writeLegacyBucketed(dir: String,
                                  df: org.apache.spark.sql.DataFrame,
                                  n: Int): Unit = {
    df.withColumn(BucketedUpsertSink.BucketCol,
        BucketedUpsertSink.bucketOf(col("id"), n))
      .write.partitionBy(BucketedUpsertSink.BucketCol).parquet(dir)
    assert(new java.io.File(dir, s"_nbuckets-$n").createNewFile())
  }

  private val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
  private val sync = SyncConfig("t", pk = "id", schema = Some(payload))

  /** One pipeline run over `events` against `sinkRoot` (the run's first
    * batch folds any legacy sidecar). */
  private def runOnce(sinkRoot: String, events: ChangeEvent*): Pipeline = {
    val src = new MemoryCdcSource(spark)
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync), stateBuckets = Some(4)),
      src, sinkRoot)
    src.addEvents(events: _*)
    val q = pipe.start(tmpDir("wm-ckpt"))
    try q.processAllAvailable() finally { q.stop(); pipe.releaseLeases() }
    pipe
  }

  private def legacyLeft(statePath: String): Seq[String] =
    new java.io.File(statePath).getParentFile.listFiles().map(_.getName)
      .filter(_.startsWith(new java.io.File(OffsetWatermark.path(statePath)).getName))
      .toSeq

  test("advance: an empty batch is a full no-op — no store created, no " +
    "rewrite — in both the bucketed and flat layouts (r9 review: the empty " +
    "bucketed first write seeded a schema-less dir that crashed current())") {
    // positions advance inside the sink's merge, so the sink's empty-batch
    // contract is the watermark's: in the one-bucket and the bucketed layout
    for (n <- Seq(1, 4)) {
      val statePath = tmpDir(s"wm-empty-$n") + "/state"
      applyPositioned(statePath, Nil, n)
      assert(ManifestStore.currentManifest(spark, statePath).isEmpty,
        s"empty first batch must not create the store ($n buckets)")
      assert(!new java.io.File(statePath).exists(), s"no dir at all should appear ($n)")
      applyPositioned(statePath, Seq(("create", 1, "a", 10L, 0), ("create", 2, "b", 20L, 0)), n)
      assert(wmOf(statePath) === Map(1 -> ((10L, 0)), 2 -> ((20L, 0))))
      // an empty batch against an EXISTING store: no rewrite (mtimes frozen)
      def files = java.nio.file.Files.walk(java.nio.file.Paths.get(statePath)).toArray
        .map(_.asInstanceOf[java.nio.file.Path]).map(f => f.toString -> f.toFile.lastModified).toMap
      val before = files
      applyPositioned(statePath, Nil, n)
      assert(files === before, s"empty batch must not rewrite ($n buckets)")
      assert(wmOf(statePath) === Map(1 -> ((10L, 0)), 2 -> ((20L, 0))))
    }
  }

  test("current: a historical schema-less watermark dir (only _SUCCESS) " +
    "reads as absent and the next real batch heals it") {
    val sinkRoot = tmpDir("wm-heal")
    val statePath = s"$sinkRoot/t"
    val dir = new java.io.File(OffsetWatermark.path(statePath))
    assert(dir.mkdirs())
    assert(new java.io.File(dir, "_SUCCESS").createNewFile())
    assert(OffsetWatermark.legacyPositions(spark, statePath).isEmpty,
      "_SUCCESS alone must not count as data")
    runOnce(sinkRoot, ChangeEvent("create", "t", 50, ts0, """{"id": 5, "name": "e"}"""))
    assert(wmOf(statePath) === Map(5 -> ((50L, 0))))
    assert(legacyLeft(statePath).isEmpty, legacyLeft(statePath))
  }

  test("advance: the watermark is the max (offset, _ridx) PAIR, not the " +
    "max offset — a multi-row event's later row wins, and the merge is " +
    "monotone on the pair") {
    val sinkRoot = tmpDir("wm-pair")
    val statePath = s"$sinkRoot/t"
    val pipe = runOnce(sinkRoot,
      ChangeEvent("create", "t", 4, ts0, """[{"id": 2, "name": "b0"}, {"id": 2, "name": "b1"}]"""),
      ChangeEvent("create", "t", 7, ts0,
        """[{"id": 1, "name": "r0"}, {"id": 1, "name": "r1"}, {"id": 1, "name": "r2"}, {"id": 1, "name": "r3"}]"""))
    assert(wmOf(statePath) === Map(1 -> ((7L, 3)), 2 -> ((4L, 1))))
    assert(pipe.sinkState(sync).orderBy("id").collect().toSeq ===
      Seq(Row(1, "r3"), Row(2, "b1")))
    // a later batch with the SAME offset but lower ridx must not regress
    applyPositioned(statePath, Seq(("update", 1, "late", 7L, 1), ("update", 2, "b9", 9L, 0)))
    assert(wmOf(statePath) === Map(1 -> ((7L, 3)), 2 -> ((9L, 0))))
  }

  test("splitStale: a repaired row at the SAME offset as its applied " +
    "sibling is superseded iff its _ridx is lower (r9 review: offset-only " +
    "compare inverted the live path's last-write-wins tiebreak)") {
    val ready = Seq(
      (1, 7L, 0, "lost-lww"), (1, 7L, 3, "is-the-applied-row"),
      (1, 7L, 5, "later-row-of-same-event"))
      .toDF("id", "offset", "_ridx", "tag")
    val wm = Seq((1, 7L, 3))
      .toDF("id", UpsertSink.OffsetCol, UpsertSink.RidxCol)
    val (f, s) = OffsetWatermark.splitStale(ready, Some(wm), "id")
    assert(f.select("tag").as[String].collect().toSet ===
      Set("is-the-applied-row", "later-row-of-same-event"),
      "at-watermark exactly = idempotent fresh; above = fresh")
    assert(s.select("tag").as[String].collect().toSet === Set("lost-lww"))
  }

  test("splitStale: above the broadcast bound the shuffle path returns " +
    "identical (fresh, stale) splits") {
    val ready = Seq(
      (1, 5L, 0, "keep-at-wm"), (1, 3L, 0, "stale"), (2, 9L, 0, "newer"),
      (3, 1L, 0, "no-wm-entry")).toDF("id", "offset", "_ridx", "tag")
    val wm = Seq((1, 5L, 0), (2, 7L, 0))
      .toDF("id", UpsertSink.OffsetCol, UpsertSink.RidxCol)
    def run(maxBroadcast: Long): (Set[String], Set[String]) = {
      val (f, s) = OffsetWatermark.splitStale(ready, Some(wm), "id",
        floor = 0L, maxBroadcastProbes = maxBroadcast)
      (f.select("tag").as[String].collect().toSet,
        s.select("tag").as[String].collect().toSet)
    }
    val viaBroadcast = run(Long.MaxValue)
    val viaShuffle = run(1L) // 3 distinct pks > 1 forces the shuffle join
    assert(viaBroadcast ===
      ((Set("keep-at-wm", "newer", "no-wm-entry"), Set("stale"))))
    assert(viaShuffle === viaBroadcast)
  }

  test("splitStale: the snapshot floor supersedes rows with NO per-pk " +
    "watermark entry; floor 0 fences nothing even at offset 0") {
    val ready = Seq(
      (7, 2L, 0, "pre-snapshot"), (9, 5L, 0, "post-snapshot"),
      (4, 0L, 0, "offset-zero"))
      .toDF("id", "offset", "_ridx", "tag")
    val (f0, s0) = OffsetWatermark.splitStale(ready, None, "id", floor = 0L)
    assert(f0.count() === 3L && s0.count() === 0L,
      "no snapshot => nothing fenced, even offset 0")
    val (f2, s2) = OffsetWatermark.splitStale(ready, None, "id", floor = 2L)
    assert(f2.select("tag").as[String].collect().toSet === Set("post-snapshot"))
    assert(s2.select("tag").as[String].collect().toSet ===
      Set("pre-snapshot", "offset-zero"))
  }

  test("snapshot floor survives a torn swap: crash after the old floor is " +
    "deleted but before the temp renames in is healed at read time") {
    // the legacy floor protocol's crash window: the temp fully written,
    // main deleted, rename never ran — the upgrade must carry the NEW
    // floor into the manifest, not read 0
    val sinkRoot = tmpDir("wm-floor")
    val statePath = s"$sinkRoot/t"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(OffsetWatermark.floorPath(statePath) + ".next"),
      "77".getBytes("UTF-8"))
    assert(OffsetWatermark.legacyFloor(spark, statePath) === Some(Right(77L)))
    runOnce(sinkRoot, ChangeEvent("create", "t", 80, ts0, """{"id": 1, "name": "a"}"""))
    assert(ManifestStore.currentManifest(spark, statePath).map(_.floor) === Some(77L),
      "an interrupted floor swap must carry the NEW floor")
    assert(legacyLeft(statePath).isEmpty, legacyLeft(statePath))
  }

  test("the upgrade deletes only the legacy protocols' own files: a " +
    "sibling sync's state named like `<index>.wm.v2` survives it") {
    val sinkRoot = tmpDir("wm-sibling")
    val statePath = s"$sinkRoot/t"
    val sibling = new java.io.File(OffsetWatermark.path(statePath) + ".v2")
    assert(sibling.mkdirs())
    assert(new java.io.File(sibling, "keep.parquet").createNewFile())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(OffsetWatermark.floorPath(statePath)), "5".getBytes("UTF-8"))
    runOnce(sinkRoot, ChangeEvent("create", "t", 9, ts0, """{"id": 1, "name": "a"}"""))
    assert(ManifestStore.currentManifest(spark, statePath).map(_.floor) === Some(5L))
    assert(legacyLeft(statePath) === Seq(sibling.getName),
      "the floor file is gone and the sibling's dir is not")
    assert(new java.io.File(sibling, "keep.parquet").exists())
  }

  test("refresh fences replays: a pre-snapshot quarantined row repaired to " +
    "a pk the stream never applied is DISCARDED, not replayed over the " +
    "refreshed value; a post-refresh quarantine still replays (r9 review)") {
    val sinkRoot = tmpDir("sink-fence")
    val sync = SyncConfig("t", pk = "id", full = false,
      schema = Some(StructType(Seq(
        StructField("id", IntegerType), StructField("name", StringType)))))
    // the source-of-truth current state refresh() will snapshot
    val snapshot = Seq((1, "ann-live"), (7, "bob-current")).toDF("id", "name")
    val src = new MemoryCdcSource(spark, Map("t" -> snapshot))
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync)), src, sinkRoot)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ckpt = tmpDir("ckpt-fence")
    src.addEvents(
      ChangeEvent("create", "t", 1, ts, """{"id": 1, "name": "ann"}"""),
      // bob's event is quarantined (null pk), so NO per-pk watermark entry
      // will ever exist for the pk it is later repaired to
      ChangeEvent("create", "t", 2, ts, """{"id": null, "name": "stale-bob"}"""))
    val q1 = pipe.start(ckpt)
    q1.processAllAvailable(); q1.stop()
    assert(pipe.sinkState(sync).collect().toSeq === Seq(Row(1, "ann")))

    // snapshot rebuild: the sink now holds the source's CURRENT truth, and
    // the floor covers everything observed so far (wm max 1, quarantine
    // max 2 => floor 2)
    assert(pipe.refresh() === Map("t" -> 2L))
    assert(ManifestStore.currentManifest(spark, s"$sinkRoot/${sync.indexName}")
      .map(_.floor) === Some(2L))
    assert(pipe.sinkState(sync).collect().map(r =>
      (r.getInt(0), r.getString(1))).toSet ===
      Set((1, "ann-live"), (7, "bob-current")))

    // operator repairs the pre-snapshot row to pk 7 — before this fix the
    // replay applied it (pk 7 has no per-pk entry) and clobbered bob-current
    val dl = pipe.deadLetterPath(sync)
    repairQuarantine(dl)(_.withColumn("id",
      when(col("name") === "stale-bob", lit(7)).otherwise(col("id"))))
    assert(pipe.replayDeadLetters() === Map("t" -> ((0L, 1L, 0L))),
      "the pre-snapshot payload is superseded by the snapshot")
    assert(pipe.sinkState(sync).collect().map(r =>
      (r.getInt(0), r.getString(1))).toSet ===
      Set((1, "ann-live"), (7, "bob-current")),
      "the refreshed value must survive the replay")

    // a quarantine that happens AFTER the snapshot replays normally
    src.addEvents(
      ChangeEvent("create", "t", 5, ts, """{"id": null, "name": "late"}"""))
    val q2 = pipe.start(ckpt)
    q2.processAllAvailable(); q2.stop()
    repairQuarantine(dl)(_.withColumn("id",
      when(col("name") === "late", lit(9)).otherwise(col("id"))))
    assert(pipe.replayDeadLetters() === Map("t" -> ((1L, 0L, 0L))),
      "offset 5 > floor 2: fresh")
    assert(pipe.sinkState(sync).collect().map(r =>
      (r.getInt(0), r.getString(1))).toSet ===
      Set((1, "ann-live"), (7, "bob-current"), (9, "late")))
  }

  test("end-to-end _ridx fence: a repaired row from a multi-row event " +
    "cannot clobber its applied same-offset sibling that won " +
    "last-write-wins") {
    val sinkRoot = tmpDir("sink-ridx")
    val sync = SyncConfig("t", pk = "id", schema = Some(StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType)))))
    val src = new MemoryCdcSource(spark)
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync)), src, sinkRoot)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // ONE multi-row envelope at offset 7: row 0 has a null pk (quarantined),
    // row 1 applies to pk 1 — the LWW winner for offset 7
    src.addEvents(ChangeEvent("create", "t", 7, ts,
      """[{"id": null, "name": "row-zero"}, {"id": 1, "name": "row-one"}]"""))
    val q = pipe.start(tmpDir("ckpt-ridx"))
    q.processAllAvailable(); q.stop()
    assert(pipe.sinkState(sync).collect().toSeq === Seq(Row(1, "row-one")))
    // operator repairs row 0 to pk 1 — same offset, LOWER _ridx: superseded
    val dl = pipe.deadLetterPath(sync)
    repairQuarantine(dl)(_.withColumn("id", lit(1)))
    assert(pipe.replayDeadLetters() === Map("t" -> ((0L, 1L, 0L))),
      "the _ridx-0 repair must be discarded, not applied")
    assert(pipe.sinkState(sync).collect().toSeq === Seq(Row(1, "row-one")),
      "row-one (higher _ridx at the same offset) must survive")
  }

  test("a NULL _ridx (unparseable-array envelope kept by posexplode_outer) " +
    "is position 0: advance stores 0 and a crash-retried splitStale reads " +
    "the row as FRESH instead of dropping it from BOTH splits (r9 review)") {
    val statePath = tmpDir("wm-nullridx") + "/state"
    applyPositioned(statePath, Seq(("create", 3, "c", 11L, null)))
    assert(wmOf(statePath) === Map(3 -> ((11L, 0))),
      "null _ridx must be stored as position 0, never as null")
    val row = spark.createDataFrame(java.util.Arrays.asList(Row(3, 11L, null)),
      StructType(Seq(StructField("id", IntegerType),
        StructField("offset", LongType), StructField("_ridx", IntegerType))))
    def positions = BucketedUpsertSink.positions(spark, statePath,
      ManifestStore.currentManifest(spark, statePath), "id")
    // crash-retry: the same row re-screened against the position it itself
    // wrote — the idempotent fresh case, NOT a three-valued vanish
    val (fresh, stale) = OffsetWatermark.splitStale(row, positions, "id")
    assert(fresh.count() === 1L && stale.count() === 0L,
      "equal position (11, null==0) must re-read as fresh")
    // a same-offset sibling applied at a HIGHER _ridx supersedes it
    applyPositioned(statePath, Seq(("update", 3, "c2", 11L, 2)))
    val (f2, s2) = OffsetWatermark.splitStale(row, positions, "id")
    assert(f2.count() === 0L && s2.count() === 1L,
      "null==0 must lose to the applied _ridx-2 sibling")
  }

  test("a pre-_ridx watermark store (r9 schema upgrade) reads and merges: " +
    "the first post-upgrade batch neither wedges on column resolution nor " +
    "poisons the position compares, in both layouts (r9 review)") {
    for (bucketed <- Seq(false, true)) {
      val sinkRoot = tmpDir(s"wm-migrate-$bucketed")
      val statePath = s"$sinkRoot/t"
      val dir = OffsetWatermark.path(statePath)
      val legacy = Seq((1, 10L), (2, 20L)).toDF("id", UpsertSink.OffsetCol)
      if (bucketed) writeLegacyBucketed(dir, legacy, 4)
      else legacy.write.parquet(dir)
      assert(OffsetWatermark.legacyPositions(spark, statePath).get.collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getInt(2)))).toMap ===
        Map(1 -> ((10L, 0)), 2 -> ((20L, 0))),
        s"legacy rows read as position (offset, 0) (bucketed=$bucketed)")
      runOnce(sinkRoot,
        ChangeEvent("create", "t", 10, ts0,
          """[{"id": 9, "name": "x"}, {"id": 9, "name": "y"}, {"id": 1, "name": "a"}]"""),
        ChangeEvent("create", "t", 30, ts0, """{"id": 3, "name": "c"}"""))
      assert(wmOf(statePath) ===
        Map(1 -> ((10L, 2)), 2 -> ((20L, 0)), 3 -> ((30L, 0)), 9 -> ((10L, 1))),
        s"post-upgrade merge over a legacy store (bucketed=$bucketed)")
      assert(legacyLeft(statePath).isEmpty,
        s"the upgrade must remove the sidecar (bucketed=$bucketed): ${legacyLeft(statePath)}")
    }
  }

  test("snapshot floor is MONOTONE: a later rebuild with a lower " +
    "recomputed ceiling (a replay purged the quarantine since) cannot " +
    "re-open the fence (r9 review)") {
    val statePath = tmpDir("wm-floormax") + "/state"
    def publish(floor: Long): Long = {
      ManifestStore.publishFull(spark, statePath, ManifestStore.stageFull(spark,
        statePath, Seq((1, "a")).toDF("id", "name"), "id", 4, Nil), floor)
      ManifestStore.currentManifest(spark, statePath).get.floor
    }
    assert(publish(70L) === 70L)
    assert(publish(50L) === 70L, "a lower floor must not regress the published one")
    assert(publish(90L) === 90L)
    // a batch commit carries the floor forward
    applyPositioned(statePath, Seq(("update", 1, "b", 95L, 0)))
    assert(ManifestStore.currentManifest(spark, statePath).get.floor === 90L)
  }

  test("floor heal: main absent with several crash temps installs the " +
    "max-valued COMPLETE temp; an empty in-flight temp is skipped, not " +
    "resurrected (r9 review: a reader renaming a writer's visible empty " +
    "temp live crashed both sides)") {
    val sinkRoot = tmpDir("wm-floorheal")
    val statePath = s"$sinkRoot/t"
    val base = OffsetWatermark.floorPath(statePath)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(base + ".next.111-aaaa"), "60".getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(base + ".next.222-bbbb"), "75".getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(base + ".next.333-cccc"), Array.empty[Byte])
    assert(OffsetWatermark.legacyFloor(spark, statePath) === Some(Right(75L)),
      "the max-valued complete temp is the floor; the empty one carries nothing")
    runOnce(sinkRoot, ChangeEvent("create", "t", 80, ts0, """{"id": 1, "name": "a"}"""))
    assert(ManifestStore.currentManifest(spark, statePath).map(_.floor) === Some(75L))
    assert(legacyLeft(statePath).isEmpty, legacyLeft(statePath))
  }

  test("a repaired UNPARSEABLE-payload row replays as fresh and a " +
    "crash-retry re-screens it idempotently instead of reporting (0,0) " +
    "while it sits invisible in quarantine (r9 review)") {
    val sinkRoot = tmpDir("sink-nullridx")
    val sync = SyncConfig("t", pk = "id", schema = Some(StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType)))))
    val src = new MemoryCdcSource(spark)
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync)), src, sinkRoot)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    src.addEvents(
      ChangeEvent("create", "t", 1, ts, """{"id": 1, "name": "ann"}"""),
      // array-SHAPED but unparseable: from_json yields a null __rows array,
      // and posexplode_outer keeps it as a (_ridx NULL, row NULL) row — the
      // only decode shape that quarantines with a null position
      ChangeEvent("create", "t", 3, ts, """[ totally not json"""))
    val q = pipe.start(tmpDir("ckpt-nullridx"))
    q.processAllAvailable(); q.stop()
    assert(pipe.sinkState(sync).collect().toSeq === Seq(Row(1, "ann")))
    val dl = pipe.deadLetterPath(sync)
    assert(spark.read.parquet(dl).select("_ridx").collect().head.isNullAt(0),
      "precondition: the unparseable envelope quarantines with NULL _ridx")
    val repaired = repairQuarantine(dl)(_.withColumn("id", lit(5)))
    assert(pipe.replayDeadLetters() === Map("t" -> ((1L, 0L, 0L))),
      "the repaired null-_ridx row must replay as fresh")
    // crash-retry: the same repaired rows land back in quarantine (crash
    // after writeCompacted, before the rewrite swap) — the re-screen is the
    // idempotent equal-position fresh case, never a silent (0,0) strand
    repaired.write.mode("overwrite").parquet(dl)
    assert(pipe.replayDeadLetters() === Map("t" -> ((1L, 0L, 0L))),
      "equal-position re-apply is the idempotent fresh case")
  }

  test("a replay hammering a LIVE stream serializes on the state lock: no " +
    "live update and no repaired row is lost to a concurrent " +
    "read-merge-write (r9 review: two complete copies racing a swap meant " +
    "last-copy-wins silently dropped the loser's rows)") {
    val sinkRoot = tmpDir("sink-racelock")
    val sync = SyncConfig("t", pk = "id", schema = Some(StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType)))))
    val src = new MemoryCdcSource(spark)
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync)), src, sinkRoot)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // wave 1: creates for pks 1..20 + 10 quarantined (null pk) envelopes
    (1 to 20).foreach(i => src.addEvents(
      ChangeEvent("create", "t", i.toLong, ts, s"""{"id": $i, "name": "v0"}""")))
    (1 to 10).foreach(i => src.addEvents(
      ChangeEvent("create", "t", 20L + i, ts,
        s"""{"id": null, "name": "q$i"}""")))
    val ckpt = tmpDir("ckpt-racelock")
    val q1 = pipe.start(ckpt)
    q1.processAllAvailable(); q1.stop()
    // operator repairs the quarantine to fresh pks 101..110
    val dl = pipe.deadLetterPath(sync)
    repairQuarantine(dl)(_.withColumn("id",
      (lit(100) + regexp_extract(col("name"), "q(\\d+)", 1).cast("int"))
        .cast("int")))
    // hammer: replays loop in one thread while the stream applies updates
    val freshTotal = new java.util.concurrent.atomic.AtomicLong()
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val replayer = new Thread(() => {
      try (1 to 5).foreach { _ =>
        freshTotal.addAndGet(pipe.replayDeadLetters()("t")._1); ()
      } catch { case t: Throwable => failed.set(t) }
    }, "replay-hammer")
    (1 to 20).foreach(i => src.addEvents(
      ChangeEvent("update", "t", 30L + i, ts,
        s"""{"id": $i, "name": "v1"}""")))
    val q2 = pipe.start(ckpt)
    replayer.start()
    q2.processAllAvailable()
    replayer.join(120000)
    // a join timeout is a DEADLOCK diagnosis (review r11): proceeding
    // with a live replayer would race the assertions below on freshTotal
    // and the sink state
    assert(!replayer.isAlive,
      "replay hammer did not finish — replayDeadLetters wedged on the state lock")
    q2.stop()
    assert(failed.get() === null, s"replay must never throw: ${failed.get()}")
    assert(freshTotal.get() === 10L,
      "each repaired row replays fresh exactly once across the loop")
    val state = pipe.sinkState(sync).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert((1 to 20).forall(i => state.get(i).contains("v1")),
      s"every live update must survive the replay race: $state")
    assert((1 to 10).forall(i => state.get(100 + i).contains(s"q$i")),
      s"every repaired row must survive the live-update race: $state")
  }

  test("replayDeadLetters heals an interrupted quarantine rewrite: a crash " +
    "between the swap's two renames must not make every envelope silently " +
    "invisible (r9 review)") {
    val sinkRoot = tmpDir("sink-dlheal")
    val sync = SyncConfig("t", pk = "id", schema = Some(StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType)))))
    val src = new MemoryCdcSource(spark)
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync)), src, sinkRoot)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    src.addEvents(
      ChangeEvent("create", "t", 2, ts, """{"id": null, "name": "lost"}"""))
    val q = pipe.start(tmpDir("ckpt-dlheal"))
    q.processAllAvailable(); q.stop()
    val dl = pipe.deadLetterPath(sync)
    assert(pipe.replayDeadLetters() === Map("t" -> ((0L, 0L, 1L))),
      "precondition: one unrepaired envelope")
    // simulate the crash window: quarantine sits only at `.old`
    assert(new java.io.File(dl).renameTo(new java.io.File(dl + ".old")))
    assert(pipe.replayDeadLetters() === Map("t" -> ((0L, 0L, 1L))),
      "the probe must heal the swap and still see the envelope")
    assert(new java.io.File(dl).exists() &&
      !new java.io.File(dl + ".old").exists(),
      "the heal must restore the quarantine dir on disk")
  }
}
