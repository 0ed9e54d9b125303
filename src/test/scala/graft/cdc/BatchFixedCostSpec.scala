package graft.cdc

import graft.SparkSpec
import graft.model.{ChangeEvent, PipelineConfig, SyncConfig}
import graft.tools.FeedGen
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** The fixed cost of a micro-batch and the driver-side answers that keep it
  * small: one probe aggregate finds the dead letters, the live rows and the
  * touched buckets; bucket stats come from the written files' footers; a
  * commit dir that fails to write leaves nothing behind. */
class BatchFixedCostSpec extends SparkSpec {
  import spark.implicits._

  private val B = BucketedUpsertSink.BucketCol

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  /** Every file under `dir` (relative path -> bytes), for byte-identity. */
  private def snapshotFiles(dir: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(p => root.relativize(p).toString ->
        java.nio.file.Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  private def commitDirs(statePath: String): Set[String] =
    Option(new java.io.File(statePath, ManifestStore.DataDir).listFiles())
      .toSeq.flatten.map(_.getName).filter(_.startsWith("c-")).toSet

  private def referencedCommitDirs(statePath: String): Set[String] =
    ManifestStore.history(spark, statePath).flatMap { case (v, _) =>
      ManifestStore.manifestAt(spark, statePath, v).buckets.values
        .map(_.relDir.split('/')(1))
    }.toSet

  /** The manifest's per-bucket (rows, stats) must equal a groupBy over the
    * state it describes, with today's `min/max(cast(c as long))` bounds. */
  private def assertStatsMatchRecompute(statePath: String,
                                        schema: StructType,
                                        clue: String): Unit = {
    val m = ManifestStore.currentManifest(spark, statePath).get
    val aggs = count(lit(1)) +: m.statCols.flatMap(c =>
      Seq(min(col(c).cast("long")), max(col(c).cast("long"))))
    val recomputed = ManifestStore.readState(spark, statePath, schema)
      .groupBy(col(B)).agg(aggs.head, aggs.tail: _*).collect().map { r =>
        def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
        r.getLong(0) -> ManifestStore.BucketEntry("", r.getLong(1),
          m.statCols.zipWithIndex.map { case (c, i) =>
            c -> ((opt(2 + 2 * i), opt(3 + 2 * i))) }.toMap)
      }.toMap
    assert(m.buckets.view.mapValues(_.copy(relDir = "")).toMap === recomputed,
      clue)
  }

  test("a warm, data-bearing micro-batch of a 16-bucket manifest pipeline " +
    "runs at most 8 Spark jobs") {
    // and of the default config, whose absent state.buckets is one bucket
    Seq(Some(16), None).foreach { buckets =>
      val root = tmpDir(s"batchjobs-${buckets.getOrElse(1)}")
      val lay = FeedGen.generate(spark, root, nUsers = 200, nBatches = 4,
        eventsPerBatch = 40)
      val sync = SyncConfig("users", pk = "id", full = true,
        schema = Some(StructType.fromDDL(
          "id INT, name STRING, score DOUBLE, updated TIMESTAMP")))
      val pipe = new Pipeline(spark,
        PipelineConfig(Seq(sync), stateBuckets = buckets),
        new ParquetCdcSource(spark, lay.feedDir, lay.tableDir), lay.sinkRoot)
      val jobs = new java.util.concurrent.ConcurrentHashMap[(String, Long), Integer]()
      val marker = s"batchjobs-marker-${java.util.UUID.randomUUID()}"
      @volatile var markerSeen = false
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          val p = e.properties
          if (p != null) {
            if (p.getProperty("spark.job.description") == marker) markerSeen = true
            val q = p.getProperty("sql.streaming.queryId")
            val b = p.getProperty("streaming.sql.batchId")
            if (q != null && b != null)
              jobs.merge((q, b.toLong), 1, (x: Integer, y: Integer) => x + y)
          }
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val q = pipe.start(lay.ckptDir) // AvailableNow; one feed file a batch
        try q.processAllAvailable() finally { q.stop(); pipe.releaseLeases() }
        // listener events arrive in order: once a job started after the
        // query is seen, every job of the query has been counted
        spark.sparkContext.setJobDescription(marker)
        try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
        val deadline = System.currentTimeMillis() + 30000L
        while (!markerSeen && System.currentTimeMillis() < deadline) Thread.sleep(20)
        assert(markerSeen, "listener bus did not deliver the marker job")
        val perBatch = jobs.asScala.collect {
          case ((qid, b), n) if qid == q.id.toString => b -> n.intValue
        }.toMap
        assert(perBatch.keySet === (0L until 4L).toSet, s"$buckets: $perBatch")
        // batch 0 is the run's replay-fenced cold batch; 1..3 are warm and
        // each carries 40 events
        val warm = (1L until 4L).map(perBatch)
        assert(warm.max <= 8,
          s"stateBuckets=$buckets: a warm micro-batch ran " +
            s"${warm.mkString("/")} Spark jobs (all: $perBatch)")
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("a batch of only pk-less rows writes exactly those dead letters, " +
    "publishes no manifest version and leaves the watermark byte-identical") {
    // the watermark lives in the sink's rows: the whole store dir must be
    // byte-identical, which no published version can leave it
    val sinkRoot = tmpDir("deadonly")
    val ckpt = tmpDir("ckpt")
    val sync = SyncConfig("t", pk = "id", schema = Some(StructType(Seq(
      StructField("id", IntegerType), StructField("score", LongType)))))
    val src = new MemoryCdcSource(spark)
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync), stateBuckets = Some(4)),
      src, sinkRoot)
    src.addEvents(
      ChangeEvent("create", "t", 1, ts("2024-01-01 00:00:00"), """{"id": 1, "score": 10}"""),
      ChangeEvent("create", "t", 2, ts("2024-01-01 00:00:01"), """{"id": 2, "score": 20}"""))
    // a continuing trigger, so the next batch is a warm one of the same run
    val q1 = pipe.start(ckpt, org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    q1.processAllAvailable()
    val statePath = s"$sinkRoot/t"
    val v1 = ManifestStore.currentManifest(spark, statePath).get
    val store = snapshotFiles(statePath)
    // a warm (non-first) batch of the same run holding only pk-less rows
    src.addEvents(
      ChangeEvent("create", "t", 3, ts("2024-01-01 00:01:00"), """{"score": 30}"""),
      ChangeEvent("update", "t", 4, ts("2024-01-01 00:01:01"), """{"score": 40}"""))
    q1.processAllAvailable(); q1.stop()
    val dead = spark.read.parquet(pipe.deadLetterPath(sync))
    assert(dead.select(col("offset")).as[Long].collect().sorted.toSeq === Seq(3L, 4L))
    assert(ManifestStore.currentManifest(spark, statePath).get === v1,
      "a batch with no live rows must not publish")
    assert(snapshotFiles(statePath) === store,
      "a batch with no live rows must not touch the rows or their positions")
    assert(pipe.sinkState(sync).as[(Int, Long)].collect().toSet ===
      Set((1, 10L), (2, 20L)))
  }

  test("a replay-fenced first batch whose rows are all superseded publishes " +
    "nothing") {
    val sinkRoot = tmpDir("fencedonly")
    val sync = SyncConfig("t", pk = "id", schema = Some(StructType(Seq(
      StructField("id", IntegerType), StructField("score", LongType)))))
    val src = new MemoryCdcSource(spark)
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync), stateBuckets = Some(4)),
      src, sinkRoot)
    src.addEvents(
      ChangeEvent("create", "t", 10, ts("2024-01-01 00:00:00"), """{"id": 1, "score": 10}"""),
      ChangeEvent("create", "t", 11, ts("2024-01-01 00:00:01"), """{"id": 2, "score": 20}"""))
    val q1 = pipe.start(tmpDir("ckpt")); q1.processAllAvailable(); q1.stop()
    val statePath = s"$sinkRoot/t"
    val v1 = ManifestStore.currentManifest(spark, statePath).get
    val store = snapshotFiles(statePath)
    // a fresh run's first batch is fenced against the stored positions:
    // both rows sit strictly below their pk's applied position
    val src2 = new MemoryCdcSource(spark)
    val pipe2 = new Pipeline(spark, PipelineConfig(Seq(sync), stateBuckets = Some(4)),
      src2, sinkRoot)
    src2.addEvents(
      ChangeEvent("update", "t", 5, ts("2024-01-01 00:00:02"), """{"id": 1, "score": 99}"""),
      ChangeEvent("delete", "t", 6, ts("2024-01-01 00:00:03"), """{"id": 2}"""))
    val q2 = pipe2.start(tmpDir("ckpt")); q2.processAllAvailable(); q2.stop()
    assert(ManifestStore.currentManifest(spark, statePath).get === v1,
      "an all-superseded fenced batch must not publish")
    assert(snapshotFiles(statePath) === store)
    assert(pipe2.sinkState(sync).as[(Int, Long)].collect().toSet ===
      Set((1, 10L), (2, 20L)))
  }

  test("footer-derived nRows and stat bounds equal a groupBy recompute: " +
    "a bucket emptied by deletes, an all-null stat column, a refresh") {
    val statePath = tmpDir("footerstats") + "/state"
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("score", LongType), StructField("rank", IntegerType),
      StructField("never", LongType)))
    val statCols = Seq("score", "rank", "never")
    val n = 4
    def changes(op: String, rows: Seq[(Int, Long, Option[Int])]): DataFrame =
      rows.toDF("id", "score", "rank")
        .withColumn("never", lit(null).cast("long"))
        .withColumn("op", lit(op))
    val rows = (1 to 40).map(i => (i, i * 10L - 200L, if (i % 3 == 0) None else Some(-i)))
    BucketedUpsertSink.applyBatch(spark, statePath, changes("create", rows),
      "id", n, Some(schema), statCols)
    assertStatsMatchRecompute(statePath, schema, "after the first batch")
    val m1 = ManifestStore.currentManifest(spark, statePath).get
    assert(m1.buckets.values.forall(_.stats("never") == ((None, None))))
    // delete every row of one bucket: it leaves the manifest
    val bucketOf = rows.map(_._1).map(i => i ->
      spark.range(1).select(BucketedUpsertSink.bucketOf(lit(i), n)).head.getLong(0)).toMap
    val emptied = bucketOf.values.min
    val gone = rows.filter(r => bucketOf(r._1) == emptied)
    val kept = rows.filter(r => bucketOf(r._1) != emptied).take(3)
      .map { case (i, s, _) => (i, s + 1000L, None: Option[Int]) }
    BucketedUpsertSink.applyBatch(spark, statePath,
      changes("delete", gone).unionByName(changes("update", kept)),
      "id", n, Some(schema), statCols)
    val m2 = ManifestStore.currentManifest(spark, statePath).get
    assert(!m2.buckets.contains(emptied), m2.buckets.keySet)
    assertStatsMatchRecompute(statePath, schema, "after the deleting batch")
    // a refresh (stageFull + publishFull) of a frame with an all-null column
    val fresh = (100 to 130).map(i => (i, i.toLong, None: Option[Int]))
      .toDF("id", "score", "rank").withColumn("never", lit(null).cast("long"))
    ManifestStore.publishFull(spark, statePath,
      ManifestStore.stageFull(spark, statePath, fresh, "id", n, statCols))
    assertStatsMatchRecompute(statePath, schema, "after a refresh")
    val m3 = ManifestStore.currentManifest(spark, statePath).get
    assert(m3.buckets.values.forall(_.stats("rank") == ((None, None))))
    assert(m3.rowCount === 31L)
  }

  test("a merge that fails while its commit dir is written leaves no commit " +
    "dir, no staging registration and an unchanged manifest") {
    val payload = StructType(Seq(
      StructField("id", IntegerType), StructField("score", LongType)))
    val n = 4
    def upsert(path: String, rows: Seq[(Int, Long)],
               onCompute: Int => Unit = _ => (),
               failOn: Int => Boolean = _ => false): Unit = {
      val fixes = rows.toDF("id", "score").withColumn("op", lit("create"))
      val touched = BucketedUpsertSink.touchedBuckets(fixes, "id", n)
      var calls = 0
      ManifestStore.commitBatchOptimistic(spark, path, touched, n,
        Seq("score"), backoffMs = 10L) { base =>
        calls += 1
        onCompute(calls)
        val merged = BucketedUpsertSink.upsertMergeOf(spark, path, payload,
          touched, fixes, "id", n)(base)
        if (failOn(calls))
          merged.withColumn("score",
            when(col("id") > 0, raise_error(lit("injected merge failure")))
              .otherwise(col("score")).cast("long"))
        else merged
      }
      ()
    }
    // the first stage fails: a fresh store stays without any manifest
    val fresh = tmpDir("occfail") + "/state"
    val e1 = intercept[Exception](upsert(fresh, Seq(1 -> 10L), failOn = _ == 1))
    assert(causeChain(e1).contains("injected merge failure"), causeChain(e1))
    assert(commitDirs(fresh).isEmpty, commitDirs(fresh))
    assert(ManifestStore.currentManifest(spark, fresh).isEmpty)
    assert(ManifestStore.stagingUnder(fresh).isEmpty)
    // a recompute fails: a commit on the same bucket lands between the
    // first stage and its publish, and the re-run merge throws — neither the
    // superseded stage nor the failed one may stay behind
    val path = tmpDir("occfail-recompute") + "/state"
    upsert(path, Seq(1 -> 10L))
    var winner: ManifestStore.Manifest = null
    val e2 = intercept[Exception](upsert(path, Seq(1 -> 11L),
      onCompute = { c =>
        if (c == 1) {
          upsert(path, Seq(1 -> 12L))
          winner = ManifestStore.currentManifest(spark, path).get
        }
      },
      failOn = _ == 2))
    assert(causeChain(e2).contains("injected merge failure"), causeChain(e2))
    assert(ManifestStore.currentManifest(spark, path).get === winner,
      "a failed commit must not change the manifest")
    assert(commitDirs(path) === referencedCommitDirs(path),
      "only published commit dirs may remain")
    assert(ManifestStore.stagingUnder(path).isEmpty)
    assert(ManifestStore.readState(spark, path, payload).drop(B)
      .as[(Int, Long)].collect().toSeq === Seq((1, 12L)))
  }
}
