package graft.cdc

import graft.SparkSpec
import graft.model.{ChangeEvent, PipelineConfig, SyncConfig}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The per-pk watermark lives in the sink's rows: every row carries the
  * position of the change that last wrote it, and a delete leaves a
  * tombstone. Tombstones and position columns must never surface through
  * a logical reader, while they keep fencing stale changes — late events,
  * replays and dead-letter repairs — across a repair through the
  * optimistic path. A refresh stores none at or below its floor, which
  * fences them instead. */
class TombstoneSpec extends SparkSpec {
  import spark.implicits._

  private val payload = StructType(Seq(
    StructField("id", IntegerType), StructField("score", LongType)))
  private val sync = SyncConfig("t", pk = "id", schema = Some(payload))
  private val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
  private def ev(op: String, off: Long, data: String) = ChangeEvent(op, "t", off, ts, data)

  /** One query run of `pipe` over whatever `src` holds. */
  private def runOnce(pipe: Pipeline, ckpt: String): Unit = {
    val q = pipe.start(ckpt)
    try q.processAllAvailable() finally q.stop()
  }

  private def rows(df: DataFrame): Set[(Int, Long)] =
    df.select(col("id"), col("score")).as[(Int, Long)].collect().toSet

  /** pk -> (offset, _ridx, tombstone?) of every stored row that carries a
    * position. */
  private def stored(statePath: String): Map[Int, (Long, Int, Boolean)] =
    physical(statePath).filter(col(UpsertSink.OffsetCol).isNotNull).collect().map { r =>
      r.getAs[Int]("id") -> ((r.getAs[Long](UpsertSink.OffsetCol),
        r.getAs[Int](UpsertSink.RidxCol), !r.isNullAt(r.fieldIndex(UpsertSink.DeletedCol))))
    }.toMap

  /** The stored pks that carry no position (snapshot-loaded rows). */
  private def unpositioned(statePath: String): Set[Int] =
    physical(statePath).filter(col(UpsertSink.OffsetCol).isNull)
      .select(col("id")).as[Int].collect().toSet

  private def physical(statePath: String): DataFrame =
    ManifestStore.readPhysicalOf(spark, statePath,
      ManifestStore.currentManifest(spark, statePath), payload)

  private def noReserved(df: DataFrame, clue: String): Unit =
    assert(df.columns.intersect(UpsertSink.Reserved).isEmpty, s"$clue: ${df.columns.toSeq}")

  test("tombstones never surface: sinkState, check's count, readState, " +
    "prunedRead on the pk, readStateAsOf and changesBetween see only live " +
    "rows, without the position columns") {
    val sinkRoot = tmpDir("tomb-read")
    val statePath = s"$sinkRoot/t"
    val src = new MemoryCdcSource(spark, Map("t" -> Seq((1, 10L)).toDF("id", "score")))
    // the pk is a zone-map stat column: a tombstone keeps its pk, so only
    // the reader's filter keeps it out of a pruned read
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync), stateBuckets = Some(4),
      zoneMapCols = Seq("id")), src, sinkRoot)
    val ckpt = tmpDir("tomb-read-ckpt")
    try {
      src.addEvents(ev("create", 1, """{"id": 1, "score": 10}"""),
        ev("create", 2, """{"id": 2, "score": 20}"""),
        ev("create", 3, """{"id": 3, "score": 30}"""))
      runOnce(pipe, ckpt)
      val v1 = ManifestStore.currentManifest(spark, statePath).get.version
      src.addEvents(ev("delete", 4, """{"id": 2}"""),
        ev("update", 5, """{"id": 3, "score": 33}"""))
      runOnce(pipe, ckpt)
      val m = ManifestStore.currentManifest(spark, statePath).get
      assert(stored(statePath)(2) === ((4L, 0, true)), "the delete left a tombstone")
      assert(m.rowCount === 2L, "nRows counts live rows only")
      val live = Set((1, 10L), (3, 33L))
      val state = pipe.sinkState(sync)
      noReserved(state, "sinkState")
      assert(rows(state) === live)
      assert(pipe.check() === Map("t" -> ((1L, 2L))))
      val read = ManifestStore.readState(spark, statePath, payload)
        .drop(BucketedUpsertSink.BucketCol)
      noReserved(read, "readState")
      assert(rows(read) === live)
      val pruned = ManifestStore.prunedRead(spark, statePath, payload, "id", 1L, 3L)
      noReserved(pruned, "prunedRead")
      assert(rows(pruned) === live)
      val asOf = ManifestStore.readStateAsOf(spark, statePath, payload,
        System.currentTimeMillis() + 1000L).drop(BucketedUpsertSink.BucketCol)
      noReserved(asOf, "readStateAsOf")
      assert(rows(asOf) === live)
      val cdf = ManifestStore.changesBetween(spark, statePath, payload, v1, m.version)
      noReserved(cdf, "changesBetween")
      assert(cdf.select(col("id"), col("score"), col("_change"))
        .as[(Int, Option[Long], String)].collect().toSet ===
        Set((2, Some(20L), "delete"), (3, Some(30L), "delete"), (3, Some(33L), "insert")),
        "a delete reads as a CDF delete, never as an inserted tombstone")
    } finally pipe.releaseLeases()
  }

  test("tombstones never surface through the CDC ingest query's sink read " +
    "(deletes of a third of the keys, then a schema-evolving batch)") {
    val out = graft.ops.IngestFormats.cdcEvolve(spark, sf)
    assert(out.columns.toSeq === Seq("o_orderkey", "o_totalprice", "o_custkey"))
    assert(out.filter(pmod(col("o_orderkey"), lit(3)) === 2).count() === 0L,
      "every deleted key stays deleted")
    assert(out.filter(col("o_totalprice").isNull).count() === 0L,
      "no tombstone reads as a row with a null payload")
  }

  test("a deleted pk's tombstone still fences a stale repaired dead letter; " +
    "an online repairUpsert keeps the stored positions it merges over") {
    val sinkRoot = tmpDir("tomb-fence")
    val statePath = s"$sinkRoot/t"
    val src = new MemoryCdcSource(spark)
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync), stateBuckets = Some(4)),
      src, sinkRoot)
    try {
      src.addEvents(ev("create", 1, """{"id": 1, "score": 10}"""),
        ev("create", 2, """{"id": null, "score": 99}"""),
        ev("delete", 3, """{"id": 1}"""),
        ev("create", 4, """{"id": 5, "score": 50}"""),
        ev("create", 6, """{"id": 6, "score": 60}"""))
      runOnce(pipe, tmpDir("tomb-fence-ckpt"))
      assert(rows(pipe.sinkState(sync)) === Set((5, 50L), (6, 60L)))
      // the quarantined offset-2 payload repaired to the deleted pk 1: the
      // delete at offset 3 supersedes it
      val dl = pipe.deadLetterPath(sync)
      spark.read.parquet(dl).withColumn("id", lit(1)).localCheckpoint(true)
        .write.mode("overwrite").parquet(dl)
      assert(pipe.replayDeadLetters() === Map("t" -> ((0L, 1L, 0L))))
      assert(rows(pipe.sinkState(sync)) === Set((5, 50L), (6, 60L)),
        "the deleted pk must stay deleted")
      // an online repair (no positions of its own): an update keeps pk 5's
      // position, a delete leaves a tombstone at pk 6's stored position
      graft.ops.Maintenance.repairUpsert(spark, statePath,
        Seq(("create", 5, 55L), ("delete", 6, 0L)).toDF("op", "id", "score"), "id")
      assert(rows(pipe.sinkState(sync)) === Set((5, 55L)))
      val pos = stored(statePath)
      assert(pos(5) === ((4L, 0, false)) && pos(6) === ((6L, 0, true)) &&
        pos(1) === ((3L, 0, true)), pos)
    } finally pipe.releaseLeases()
  }

  test("a repairUpsert whose fixes land only in a bucket below every " +
    "stored one keeps the reserved columns: tombstones stay hidden and " +
    "positions intact through the next batch") {
    val sinkRoot = tmpDir("tomb-low-bucket")
    val statePath = s"$sinkRoot/t"
    val bucket = (1 to 64).toDF("id")
      .select(col("id"), BucketedUpsertSink.bucketOf(col("id"), 8))
      .as[(Int, Long)].collect().toMap
    // three pks above bucket 0, and one fix that lands in bucket 0 alone
    val Seq(a, b, c) = bucket.filter(_._2 > 0L).keys.toSeq.sorted.take(3)
    val low = bucket.filter(_._2 == 0L).keys.min
    val src = new MemoryCdcSource(spark)
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync), stateBuckets = Some(8)),
      src, sinkRoot)
    val ckpt = tmpDir("tomb-low-bucket-ckpt")
    try {
      src.addEvents(ev("create", 1, s"""{"id": $a, "score": 10}"""),
        ev("create", 2, s"""{"id": $b, "score": 20}"""),
        ev("create", 3, s"""{"id": $c, "score": 30}"""),
        ev("delete", 4, s"""{"id": $b}"""))
      runOnce(pipe, ckpt)
      assert(!ManifestStore.currentManifest(spark, statePath).get.buckets.contains(0L))
      graft.ops.Maintenance.repairUpsert(spark, statePath,
        Seq(("create", low, 5L)).toDF("op", "id", "score"), "id")
      val m = ManifestStore.currentManifest(spark, statePath).get
      assert(UpsertSink.Reserved.forall(ParquetFooter.schemaOf(spark,
        s"$statePath/${m.buckets(0L).relDir}").fieldNames.contains),
        "the repaired bucket carries the store's reserved columns")
      assert(rows(pipe.sinkState(sync)) === Set((a, 10L), (c, 30L), (low, 5L)))
      src.addEvents(ev("update", 5, s"""{"id": $a, "score": 11}"""))
      runOnce(pipe, ckpt)
      assert(rows(pipe.sinkState(sync)) === Set((a, 11L), (c, 30L), (low, 5L)),
        "the tombstone stays hidden")
      assert(stored(statePath) - low ===
        Map(a -> ((5L, 0, false)), b -> ((4L, 0, true)), c -> ((3L, 0, false))),
        "every position and tombstone survives")
    } finally pipe.releaseLeases()
  }

  test("a refresh stores no position or tombstone at or below its floor " +
    "and keeps one applied above it while its scan ran: repairs below " +
    "either are discarded") {
    val sinkRoot = tmpDir("tomb-refresh")
    val statePath = s"$sinkRoot/t"
    val inner = new MemoryCdcSource(spark,
      Map("t" -> Seq((1, 100L), (2, 200L)).toDF("id", "score")))
    @volatile var window: () => Unit = () => ()
    // the source's full scan runs the refresh window: stage starts here
    val src = new CdcSource {
      def fullScan(s: SyncConfig): DataFrame = { window(); inner.fullScan(s) }
      def changes: DataFrame = inner.changes
      def count(s: SyncConfig): Long = inner.count(s)
      def ping(): Boolean = true
    }
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync), stateBuckets = Some(4)),
      src, sinkRoot)
    val q = pipe.start(tmpDir("tomb-refresh-ckpt"),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      inner.addEvents(ev("create", 1, """{"id": 1, "score": 10}"""),
        ev("create", 2, """{"id": null, "score": 0}"""),
        ev("delete", 3, """{"id": 3}"""))
      q.processAllAvailable()
      // during the scan: pk 2 is updated at offset 10, and a payload at
      // offset 7 is quarantined — above the floor the refresh captured
      // (3) before its scan, below pk 2's new position
      window = () => {
        inner.addEvents(ev("create", 7, """{"id": null, "score": 7}"""),
          ev("update", 10, """{"id": 2, "score": 20}"""))
        q.processAllAvailable()
      }
      assert(pipe.refresh() === Map("t" -> 2L))
      window = () => ()
      assert(ManifestStore.currentManifest(spark, statePath).get.floor === 3L)
      assert(rows(pipe.sinkState(sync)) === Set((1, 100L), (2, 200L)),
        "the snapshot's rows")
      assert(stored(statePath) === Map(2 -> ((10L, 0, false))),
        "only the window's position, above the floor, is stored: pk 1's " +
          "position and pk 3's tombstone (both at or below 3) are gone")
      assert(unpositioned(statePath) === Set(1))
      // the commit re-folded only the bucket the window's batch rewrote:
      // every other bucket is still the scan's staged dir
      val commitDir = ManifestStore.currentManifest(spark, statePath).get.buckets
        .map { case (b, e) => b -> e.relDir.substring(0, e.relDir.lastIndexOf('/')) }
      val b2 = Seq(2).toDF("id").select(BucketedUpsertSink.bucketOf(col("id"), 4))
        .as[Long].head()
      val others = commitDir.collect { case (b, d) if b != b2 => d }.toSet
      assert(others.size <= 1 && !others.contains(commitDir(b2)), commitDir)
      q.stop()
      // the offset-7 payload repaired to pk 2 (below its stored position 10)
      // and the offset-2 one to the deleted pk 3 (its tombstone dropped,
      // but offset 2 is below the floor)
      val dl = pipe.deadLetterPath(sync)
      spark.read.parquet(dl)
        .withColumn("id", when(col("offset") === 7L, lit(2)).otherwise(lit(3)))
        .localCheckpoint(true).write.mode("overwrite").parquet(dl)
      assert(pipe.replayDeadLetters() === Map("t" -> ((0L, 2L, 0L))),
        "both repairs are superseded")
      assert(rows(pipe.sinkState(sync)) === Set((1, 100L), (2, 200L)),
        "pk 3 stays deleted")
    } finally { q.stop(); pipe.releaseLeases() }
  }

  test("a later batch of the same run carrying a stale single-row update, a " +
    "stale multi-row event and a stale delete leaves every row and its " +
    "position as it was") {
    val sinkRoot = tmpDir("tomb-stale")
    val statePath = s"$sinkRoot/t"
    val src = new MemoryCdcSource(spark)
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync), stateBuckets = Some(4)),
      src, sinkRoot)
    // one continuing run: the stale events reach a warm batch, which no
    // first-batch fence screens — only the sink's merge
    val q = pipe.start(tmpDir("tomb-stale-ckpt"),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      src.addEvents(ev("create", 10,
        """[{"id": 1, "score": 10}, {"id": 2, "score": 20}, {"id": 3, "score": 30}]"""))
      q.processAllAvailable()
      val before = stored(statePath)
      assert(before === Map(1 -> ((10L, 0, false)), 2 -> ((10L, 1, false)),
        3 -> ((10L, 2, false))))
      src.addEvents(ev("update", 5, """{"id": 1, "score": 11}"""),
        ev("create", 6, """[{"id": 2, "score": 21}, {"id": 2, "score": 22}]"""),
        ev("delete", 7, """{"id": 3}"""))
      q.processAllAvailable()
      assert(rows(pipe.sinkState(sync)) === Set((1, 10L), (2, 20L), (3, 30L)))
      assert(stored(statePath) === before, "every row keeps its position")
    } finally { q.stop(); pipe.releaseLeases() }
  }

  test("after a refresh, a later batch's event at or below the floor is " +
    "ignored for a pk whose position the refresh dropped, and a deleted " +
    "pk's late create there stays deleted") {
    val sinkRoot = tmpDir("tomb-floor")
    val statePath = s"$sinkRoot/t"
    val src = new MemoryCdcSource(spark,
      Map("t" -> Seq((1, 100L), (4, 400L)).toDF("id", "score")))
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync), stateBuckets = Some(4)),
      src, sinkRoot)
    val q = pipe.start(tmpDir("tomb-floor-ckpt"),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      src.addEvents(ev("create", 1, """{"id": 1, "score": 10}"""),
        ev("create", 2, """{"id": 2, "score": 20}"""),
        ev("delete", 3, """{"id": 2}"""),
        ev("create", 5, """{"id": 4, "score": 40}"""))
      q.processAllAvailable()
      assert(pipe.refresh() === Map("t" -> 2L))
      assert(ManifestStore.currentManifest(spark, statePath).get.floor === 5L)
      assert(stored(statePath).isEmpty && unpositioned(statePath) === Set(1, 4),
        "no position and no tombstone survives at or below the floor")
      // a warm batch of the same run: no first-batch fence screens it
      src.addEvents(ev("update", 4, """{"id": 1, "score": 11}"""),
        ev("create", 5, """{"id": 2, "score": 22}"""),
        ev("update", 6, """{"id": 4, "score": 44}"""))
      q.processAllAvailable()
      assert(rows(pipe.sinkState(sync)) === Set((1, 100L), (4, 44L)))
      assert(stored(statePath) === Map(4 -> ((6L, 0, false))) &&
        unpositioned(statePath) === Set(1))
    } finally { q.stop(); pipe.releaseLeases() }
  }

  test("a refresh of a positioned 4-bucket store stages its snapshot with " +
    "one shuffle Exchange, the bucket repartition: no join carries " +
    "positions onto it") {
    import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.util.QueryExecutionListener
    // shuffle exchanges of an executed plan: AQE's final plan, its query
    // stages and a write command's physical plan included
    def shuffles(p: SparkPlan): Int =
      (if (p.isInstanceOf[ShuffleExchangeLike]) 1 else 0) + (p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case c: CommandResultExec => Seq(c.commandPhysicalPlan)
        case _ => p.children
      }).map(shuffles).sum
    val sinkRoot = tmpDir("tomb-refresh-plan")
    val src = new MemoryCdcSource(spark,
      Map("t" -> (1 to 40).map(i => (i, i * 10L)).toDF("id", "score")))
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync), stateBuckets = Some(4)),
      src, sinkRoot)
    try {
      src.addEvents((1 to 20).map(i => ev("update", i, s"""{"id": $i, "score": $i}""")) :+
        ev("delete", 21, """{"id": 30}"""): _*)
      runOnce(pipe, tmpDir("tomb-refresh-plan-ckpt"))
      assert(stored(s"$sinkRoot/t").size === 21, "a positioned store")
      val marker = s"refresh_plan_marker_${java.util.UUID.randomUUID().toString.take(8)}"
      val perQuery = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      @volatile var markerSeen = false
      val listener = new QueryExecutionListener {
        def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          if (qe.analyzed.output.exists(_.name == marker)) markerSeen = true
          else if (!markerSeen) { perQuery.add(shuffles(qe.executedPlan)); () }
        def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        assert(pipe.refresh() === Map("t" -> 40L))
        // listener events arrive in order: once the marker query is seen,
        // every query the refresh ran has been counted
        spark.range(1).select(lit(1).as(marker)).collect()
        val deadline = System.currentTimeMillis() + 30000L
        while (!markerSeen && System.currentTimeMillis() < deadline) Thread.sleep(20)
        assert(markerSeen, "listener bus did not deliver the marker query")
      } finally spark.listenerManager.unregister(listener)
      import scala.jdk.CollectionConverters._
      assert(perQuery.asScala.sum === 1, s"shuffle exchanges per query: $perQuery")
    } finally pipe.releaseLeases()
  }
}
