package graft

import graft.cdc._
import graft.model._
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The full operational journey against ONE state dir (r9 verdict #5):
  * start (backfill + stream) → crash mid-batch → restart (idempotent
  * replay) → poison rows quarantined → operator repair → `replay` (with
  * both the fresh and the superseded outcome) → `refresh` (staged publish +
  * snapshot floor) → post-refresh stale replay fenced by the floor →
  * `check` — asserting the sink equals the hand-derived oracle state at
  * EVERY stage. The pieces each have their own specs (CkptCrash,
  * OffsetWatermarkSpec, PipelineSpec, CliSpec); this one proves they
  * compose on a single lifecycle. */
class SoakSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("lifecycle soak: backfill -> stream -> crash/replay -> quarantine " +
    "-> repair -> replay -> refresh -> floor fence -> check, one state dir") {
    val root = tmpDir("soak")
    val feedDir = s"$root/feed"
    val tableDir = s"$root/tables"
    val sinkRoot = s"$root/sink"
    val ckpt = s"$root/ckpt"
    new java.io.File(feedDir).mkdirs()

    val sync = SyncConfig("t", pk = "id", full = true,
      schema = Some(StructType(Seq(
        StructField("id", IntegerType), StructField("name", StringType),
        StructField("score", LongType)))))
    val cfg = PipelineConfig(Seq(sync), stateBuckets = Some(4),
      zoneMapCols = Seq("score"))

    def writeTruth(rows: Seq[(Int, String, Long)]): Unit =
      rows.toDF("id", "name", "score")
        .write.mode(SaveMode.Overwrite).parquet(s"$tableDir/t.parquet")
    writeTruth(Seq((1, "a", 10L), (2, "b", 20L), (3, "c", 30L)))

    def feed(events: ChangeEvent*): Unit =
      events.toSeq.toDS().toDF()
        .repartition(1).write.mode(SaveMode.Append).parquet(feedDir)

    val src = new ParquetCdcSource(spark, feedDir, tableDir,
      maxFilesPerTrigger = 1)
    val pipe = new Pipeline(spark, cfg, src, sinkRoot)

    def sinkRows(): Set[(Int, String, Long)] =
      pipe.sinkState(sync).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet

    // ---- stage 1: backfill + first stream batch --------------------------
    feed(
      ChangeEvent("create", "t", 100, ts("2024-01-01 00:00:00"),
        """{"id": 4, "name": "d", "score": 40}"""),
      ChangeEvent("update", "t", 101, ts("2024-01-01 00:00:01"),
        """{"id": 1, "score": 11}"""),
      ChangeEvent("delete", "t", 102, ts("2024-01-01 00:00:02"),
        """{"id": 3}"""))
    val q1 = pipe.start(ckpt); q1.processAllAvailable(); q1.stop()
    assert(sinkRows() === Set((1, "a", 11L), (2, "b", 20L), (4, "d", 40L)),
      "stage 1: backfill applied, create/partial-update/delete all landed")
    assert(ManifestStore.currentManifest(spark, s"$sinkRoot/t")
      .map(_.rowCount) === Some(3L),
      "stage 1: the manifest's row counts describe the batch's own commit")

    // ---- stage 2: poison batch, then crash INSIDE it and replay ----------
    feed(
      ChangeEvent("create", "t", 200, ts("2024-01-01 00:01:00"),
        """{"id": null, "name": "ghost", "score": 99}"""),
      ChangeEvent("update", "t", 201, ts("2024-01-01 00:01:01"),
        """{"id": 2, "score": 21}"""),
      ChangeEvent("create", "t", 202, ts("2024-01-01 00:01:02"),
        """{"id": null, "name": "late", "score": 77}"""),
      ChangeEvent("update", "t", 203, ts("2024-01-01 00:01:03"),
        """{"id": 4, "score": 41}"""))
    val q2 = pipe.start(ckpt); q2.processAllAvailable(); q2.stop()
    val expectedStage2 = Set((1, "a", 11L), (2, "b", 21L), (4, "d", 41L))
    assert(sinkRows() === expectedStage2, "stage 2: poison batch applied")
    // crash: rewind the checkpoint to offsets{..k}/commits{..k-1} — the
    // snapshot a process killed inside the last batch leaves behind
    CkptCrash.simulateCrashAtLastCommit(spark, ckpt)
    val q2r = pipe.start(ckpt); q2r.processAllAvailable(); q2r.stop()
    assert(sinkRows() === expectedStage2,
      "stage 2: the replayed batch is idempotent on the sink")
    val dlPath = pipe.deadLetterPath(sync)
    val dl = spark.read.parquet(dlPath)
    assert(dl.select("offset").distinct().collect().map(_.getLong(0)).toSet
      === Set(200L, 202L),
      "stage 2: both poison envelopes quarantined (whatever the replay duplicated)")

    // ---- stage 3: operator repair, then replay ---------------------------
    // the at-least-once replay may have double-appended the quarantine; the
    // operator's repair rewrite dedupes on position and fills the pks:
    //   offset 200 -> id 4 (stale: the live 203 update is newer -> superseded)
    //   offset 202 -> id 5 (fresh: applies)
    val repaired = spark.read.parquet(dlPath)
      .dropDuplicates("offset", "_ridx")
      .withColumn("id",
        when(col("offset") === 200L, lit(4))
          .when(col("offset") === 202L, lit(5))
          .otherwise(col("id")))
      .localCheckpoint(true)
    StateCommit.stageSwap(spark, dlPath)(tmp =>
      repaired.write.mode(SaveMode.Overwrite).parquet(tmp))
    assert(pipe.replayDeadLetters() === Map("t" -> ((1L, 1L, 0L))),
      "stage 3: one repaired row applies, one is superseded by the watermark")
    val expectedStage3 = Set(
      (1, "a", 11L), (2, "b", 21L), (4, "d", 41L), (5, "late", 77L))
    assert(sinkRows() === expectedStage3,
      "stage 3: the fresh repair landed; the stale one did NOT clobber id 4")

    // ---- stage 4: refresh from new source truth (publish + floor) --------
    writeTruth(Seq((1, "a", 100L), (2, "b", 200L), (5, "late", 500L)))
    assert(pipe.refresh() === Map("t" -> 3L))
    assert(sinkRows() === Set((1, "a", 100L), (2, "b", 200L), (5, "late", 500L)),
      "stage 4: the sink equals the refreshed snapshot exactly")
    assert(ManifestStore.currentManifest(spark, s"$sinkRoot/t").get.floor >= 203L,
      "stage 4: the snapshot floor covers every pre-refresh observation")
    // pruned reads ride the refreshed manifest's stats and stay exact
    val pruned = ManifestStore.prunedRead(spark, s"$sinkRoot/t",
      StructType(Nil), "score", 150L, 600L)
      .select("id").collect().map(_.getInt(0)).toSet
    assert(pruned === Set(2, 5))

    // ---- stage 5: a LATE stale poison event is fenced by the floor -------
    feed(ChangeEvent("create", "t", 150, ts("2024-01-01 00:00:30"),
      """{"id": null, "name": "stale", "score": 1}"""))
    val q3 = pipe.start(ckpt); q3.processAllAvailable(); q3.stop()
    val repaired2 = spark.read.parquet(dlPath)
      .dropDuplicates("offset", "_ridx")
      .withColumn("id", when(col("offset") === 150L, lit(1))
        .otherwise(col("id")))
      .localCheckpoint(true)
    StateCommit.stageSwap(spark, dlPath)(tmp =>
      repaired2.write.mode(SaveMode.Overwrite).parquet(tmp))
    assert(pipe.replayDeadLetters() === Map("t" -> ((0L, 1L, 0L))),
      "stage 5: a repair below the snapshot floor is superseded, not applied")
    assert(sinkRows() === Set((1, "a", 100L), (2, "b", 200L), (5, "late", 500L)),
      "stage 5: the refreshed state survives the stale replay attempt")

    // ---- stage 6: check --------------------------------------------------
    assert(pipe.check() === Map("t" -> ((3L, 3L))),
      "stage 6: source and sink counts agree at journey's end")
  }
}
