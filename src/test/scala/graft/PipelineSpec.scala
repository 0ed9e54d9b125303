package graft

import graft.cdc._
import graft.model._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** End-to-end ports of the reference's three integration scenarios
  * (FIXTURES.md §A): script events through a memory CDC source, run the
  * streaming pipeline, assert the synced sink state. */
class PipelineSpec extends SparkSpec {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  // ONE comparison discipline for "the manifest's per-bucket stats equal
  // a full recompute" (review r11: five inlined copies had already started
  // varying): bucket -> (row count, min score, max score)
  private def assertManifestMatchesFull(statePath: String, nb: Int,
                                        clue: String): Unit = {
    import org.apache.spark.sql.functions._
    val m = ManifestStore.currentManifest(spark, statePath).get
    val manifest = m.buckets.toSeq.sortBy(_._1).map { case (b, e) =>
      (b, e.nRows, e.stats("score")._1, e.stats("score")._2) }
    val full = ManifestStore.readState(spark, statePath,
        StructType(Seq(StructField("score", LongType))))
      .groupBy(col(BucketedUpsertSink.BucketCol))
      .agg(count(lit(1)), min(col("score")), max(col("score")))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long])))
      .sortBy(_._1)
    assert(manifest === full, clue)
    assert(m.nbuckets === nb, clue)
  }

  test("A1 mysql scenario: insert syncs with datetime->epoch coercion") {
    val sinkRoot = tmpDir("sink")
    val ckpt = tmpDir("ckpt")
    val sync = SyncConfig("test", pk = "id", schema = Some(StructType(Seq(
      StructField("id", IntegerType), StructField("age", IntegerType),
      StructField("time", TimestampType)))))
    val src = new MemoryCdcSource(spark)
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync)), src, sinkRoot)
    src.addEvents(ChangeEvent("create", "test", 1, ts("2024-01-01 00:00:00"),
      """{"id": 1, "age": 46, "time": "1977-01-27T22:00:53Z"}"""))
    val q = pipe.start(ckpt)
    q.processAllAvailable(); q.stop()
    // reference tests/test_mysql.py:24-30 pins {"id":1,"age":46,"time":223250453}
    assert(pipe.sinkState(sync).collect().toSeq === Seq(Row(1, 46, 223250453L)))
  }

  test("A2/A3: updates, deletes, renames and cross-batch replay") {
    val sinkRoot = tmpDir("sink")
    val ckpt = tmpDir("ckpt")
    val sync = SyncConfig("docs", pk = "_id",
      fields = Seq(FieldMapping("_id", Some("id")), FieldMapping("age")),
      schema = Some(StructType(Seq(
        StructField("_id", StringType), StructField("age", IntegerType)))))
    val src = new MemoryCdcSource(spark)
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync)), src, sinkRoot)

    // batch 1: two creates (one to another table -> filtered out)
    src.addEvents(
      ChangeEvent("create", "docs", 1, ts("2024-01-01 00:00:00"), """{"_id": "a", "age": 18}"""),
      ChangeEvent("create", "docs", 2, ts("2024-01-01 00:00:01"), """{"_id": "b", "age": 20}"""),
      ChangeEvent("create", "other", 3, ts("2024-01-01 00:00:02"), """{"_id": "zz", "age": 1}"""))
    val q1 = pipe.start(ckpt)
    q1.processAllAvailable(); q1.stop()
    assert(pipe.sinkState(sync).orderBy("id").collect().toSeq ===
      Seq(Row("a", 18), Row("b", 20)))

    // batch 2: partial update of a, delete of b, create c (same query restart
    // = cross-batch continuation from the checkpoint)
    src.addEvents(
      ChangeEvent("update", "docs", 4, ts("2024-01-01 00:01:00"), """{"_id": "a", "age": 19}"""),
      ChangeEvent("delete", "docs", 5, ts("2024-01-01 00:01:01"), """{"_id": "b"}"""),
      ChangeEvent("create", "docs", 6, ts("2024-01-01 00:01:02"), """{"_id": "c", "age": 30}"""))
    val q2 = pipe.start(ckpt)
    q2.processAllAvailable(); q2.stop()
    assert(pipe.sinkState(sync).orderBy("id").collect().toSeq ===
      Seq(Row("a", 19), Row("c", 30)))
  }

  test("A2: nested JSON payload round-trips as a struct (postgres json column)") {
    // reference tests/test_postgres.py:21-28 pins data_json -> nested object
    val sinkRoot = tmpDir("sink")
    val ckpt = tmpDir("ckpt")
    val sync = SyncConfig("test", pk = "id", schema = Some(StructType(Seq(
      StructField("id", IntegerType), StructField("age", IntegerType),
      StructField("data_json", StructType(Seq(StructField("name", StringType))))))))
    val src = new MemoryCdcSource(spark)
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync)), src, sinkRoot)
    src.addEvents(ChangeEvent("create", "test", 1, ts("2024-01-01 00:00:00"),
      """{"id": 1, "age": 18, "data_json": {"name": "test data"}}"""))
    val q = pipe.start(ckpt)
    q.processAllAvailable(); q.stop()
    val row = pipe.sinkState(sync).head()
    assert(row.getInt(0) === 1 && row.getInt(1) === 18)
    assert(row.getStruct(2).getString(0) === "test data")
  }

  test("plugin hooks: preEvent transform applies, postBatch fires") {
    import org.apache.spark.sql.functions._
    val sinkRoot = tmpDir("sink")
    val ckpt = tmpDir("ckpt")
    val sync = SyncConfig("t", pk = "id", schema = Some(StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType)))))
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    val hooks = PluginHooks(
      preEvent = Seq((_, df) => df.withColumn("name", upper(col("name")))),
      postBatch = Seq((_, _) => { fired.incrementAndGet(); () }))
    val src = new MemoryCdcSource(spark)
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync)), src, sinkRoot, hooks)
    src.addEvents(ChangeEvent("create", "t", 1, ts("2024-01-01 00:00:00"),
      """{"id": 1, "name": "ann"}"""))
    val q = pipe.start(ckpt)
    q.processAllAvailable(); q.stop()
    assert(pipe.sinkState(sync).collect().toSeq === Seq(Row(1, "ANN")))
    assert(fired.get() >= 1)
  }

  test("plugin hooks: broadcast-dimension enrichment fills a declared column") {
    // Beyond the reference's 1-row->1-row plugins: a preEvent hook is a
    // whole-DataFrame transform, so it can do a broadcast lookup join —
    // the standard stream-enrichment shape. The enriched column is declared
    // in the sync schema (arrives null in the payload), the dim is tiny and
    // broadcast, and the hook preserves the view's column order/internals.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sinkRoot = tmpDir("sink")
    val ckpt = tmpDir("ckpt")
    val sync = SyncConfig("t", pk = "id", schema = Some(StructType(Seq(
      StructField("id", IntegerType), StructField("region_id", IntegerType),
      StructField("region", StringType)))))
    val dim = Seq((1, "emea"), (2, "apac")).toDF("region_id", "region")
    val hooks = PluginHooks(preEvent = Seq { (_, df) =>
      val order = df.columns
      df.drop("region")
        .join(broadcast(dim), Seq("region_id"), "left")
        .select(order.map(col).toIndexedSeq: _*)
    })
    val src = new MemoryCdcSource(spark)
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync)), src, sinkRoot, hooks)
    src.addEvents(
      ChangeEvent("create", "t", 1, ts("2024-01-01 00:00:00"),
        """{"id": 1, "region_id": 2}"""),
      ChangeEvent("create", "t", 2, ts("2024-01-01 00:00:01"),
        """{"id": 2, "region_id": 99}""")) // no dim row -> stays null
    val q = pipe.start(ckpt)
    q.processAllAvailable(); q.stop()
    assert(pipe.sinkState(sync).orderBy("id").collect().toSeq ===
      Seq(Row(1, 2, "apac"), Row(2, 99, null)))
  }

  test("monotonic mode: stale cross-batch replay cannot clobber newer state") {
    val sinkRoot = tmpDir("sink")
    val ckpt = tmpDir("ckpt")
    val sync = SyncConfig("t", pk = "id", schema = Some(StructType(Seq(
      StructField("id", IntegerType), StructField("age", IntegerType)))))
    val src = new MemoryCdcSource(spark)
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync)), src, sinkRoot)
    src.addEvents(ChangeEvent("create", "t", 10, ts("2024-01-01 00:00:10"),
      """{"id": 1, "age": 46}"""))
    val q1 = pipe.start(ckpt, monotonic = true)
    q1.processAllAvailable(); q1.stop()
    // batch 2 delivers a STALE event (offset 5 < 10) for the same pk
    src.addEvents(ChangeEvent("update", "t", 5, ts("2024-01-01 00:00:05"),
      """{"id": 1, "age": 99}"""))
    val q2 = pipe.start(ckpt, monotonic = true)
    q2.processAllAvailable(); q2.stop()
    assert(pipe.sinkState(sync).collect().toSeq === Seq(Row(1, 46)))
  }

  test("multi-row events expand to every row (reference drops rows 1..n)") {
    // SURVEY §2.3: MySQL's decoder reads only event.rows[0]; a multi-row
    // INSERT .. VALUES (..),(..) silently loses rows. Our engine explodes
    // the array payload, and the LAST row of one event wins pk ties.
    val sinkRoot = tmpDir("sink")
    val ckpt = tmpDir("ckpt")
    val sync = SyncConfig("t", pk = "id", schema = Some(StructType(Seq(
      StructField("id", IntegerType), StructField("v", StringType)))))
    val src = new MemoryCdcSource(spark)
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync)), src, sinkRoot)
    src.addEvents(
      ChangeEvent("create", "t", 1, ts("2024-01-01 00:00:00"),
        """[{"id": 1, "v": "a"}, {"id": 2, "v": "b"}, {"id": 3, "v": "c"},
          | {"id": 3, "v": "c-later"}]""".stripMargin),
      ChangeEvent("update", "t", 2, ts("2024-01-01 00:00:01"), """{"id": 2, "v": "b2"}"""))
    val q = pipe.start(ckpt)
    q.processAllAvailable(); q.stop()
    assert(pipe.sinkState(sync).orderBy("id").collect().toSeq ===
      Seq(Row(1, "a"), Row(2, "b2"), Row(3, "c-later")))
  }

  test("events without a pk are dead-lettered, not dropped or collapsed") {
    val sinkRoot = tmpDir("sink")
    val ckpt = tmpDir("ckpt")
    val sync = SyncConfig("t", pk = "id", schema = Some(StructType(Seq(
      StructField("id", IntegerType), StructField("v", StringType)))))
    val src = new MemoryCdcSource(spark)
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync)), src, sinkRoot)
    src.addEvents(
      ChangeEvent("create", "t", 1, ts("2024-01-01 00:00:00"), """{"id": 1, "v": "ok"}"""),
      ChangeEvent("create", "t", 2, ts("2024-01-01 00:00:01"), """{"v": "no-pk"}"""),
      ChangeEvent("create", "t", 3, ts("2024-01-01 00:00:02"), """not json at all"""))
    val q = pipe.start(ckpt)
    q.processAllAvailable(); q.stop()
    assert(pipe.sinkState(sync).collect().toSeq === Seq(Row(1, "ok")))
    val dead = spark.read.parquet(pipe.deadLetterPath(sync))
    assert(dead.count() === 2) // both quarantined rows, with their envelopes
    assert(dead.select("offset").collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L))
  }

  test("explicit NULL in an update clears the column end-to-end") {
    val sinkRoot = tmpDir("sink")
    val ckpt = tmpDir("ckpt")
    val sync = SyncConfig("t", pk = "id", schema = Some(StructType(Seq(
      StructField("id", IntegerType), StructField("v", StringType),
      StructField("w", StringType)))))
    val src = new MemoryCdcSource(spark)
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync)), src, sinkRoot)
    src.addEvents(
      ChangeEvent("create", "t", 1, ts("2024-01-01 00:00:00"),
        """{"id": 1, "v": "keep", "w": "clear-me"}"""))
    val q1 = pipe.start(ckpt); q1.processAllAvailable(); q1.stop()
    // w explicitly nulled; v absent (stays). The coalesce fallback could not
    // express this — the _present mask can (ADVICE r01).
    src.addEvents(
      ChangeEvent("update", "t", 2, ts("2024-01-01 00:00:01"), """{"id": 1, "w": null}"""))
    val q2 = pipe.start(ckpt); q2.processAllAvailable(); q2.stop()
    assert(pipe.sinkState(sync).collect().toSeq === Seq(Row(1, "keep", null)))
  }

  test("configTrigger maps the reference's flush knobs to Spark triggers") {
    val sync = SyncConfig("t", pk = "id")
    val src = new MemoryCdcSource(spark)
    import org.apache.spark.sql.streaming.Trigger
    val timed = new Pipeline(spark,
      PipelineConfig(Seq(sync), insertIntervalSecs = Some(10)), src, tmpDir("s1"))
    assert(timed.configTrigger === Trigger.ProcessingTime(10000L))
    val immediate = new Pipeline(spark, PipelineConfig(Seq(sync)), src, tmpDir("s2"))
    assert(immediate.configTrigger === Trigger.ProcessingTime(0L))
  }

  test("bucketed sink mode: end-to-end sync with per-bucket state layout") {
    val sinkRoot = tmpDir("sink")
    val ckpt = tmpDir("ckpt")
    val sync = SyncConfig("t", pk = "id", schema = Some(StructType(Seq(
      StructField("id", IntegerType), StructField("v", StringType)))))
    val src = new MemoryCdcSource(spark)
    val pipe = new Pipeline(spark,
      PipelineConfig(Seq(sync), stateBuckets = Some(4)), src, sinkRoot)
    src.addEvents(
      ChangeEvent("create", "t", 1, ts("2024-01-01 00:00:00"), """{"id": 1, "v": "a"}"""),
      ChangeEvent("create", "t", 2, ts("2024-01-01 00:00:01"), """{"id": 2, "v": "b"}"""))
    val q1 = pipe.start(ckpt); q1.processAllAvailable(); q1.stop()
    src.addEvents(
      ChangeEvent("update", "t", 3, ts("2024-01-01 00:01:00"), """{"id": 1, "v": "a2"}"""),
      ChangeEvent("delete", "t", 4, ts("2024-01-01 00:01:01"), """{"id": 2}"""))
    val q2 = pipe.start(ckpt); q2.processAllAvailable(); q2.stop()
    assert(pipe.sinkState(sync).collect().toSeq === Seq(Row(1, "a2")))
    // the state really is bucketed: a 4-bucket manifest store whose one
    // live bucket holds the surviving row
    val m = ManifestStore.currentManifest(spark, s"$sinkRoot/t").get
    assert(m.nbuckets === 4)
    assert(m.buckets.values.map(_.nRows).toSeq === Seq(1L), m.buckets)
  }

  test("zoneMapCols: the sink's manifest is maintained incrementally per " +
    "micro-batch and always equals a full recompute") {
    val sinkRoot = tmpDir("sink")
    val ckpt = tmpDir("ckpt")
    val sync = SyncConfig("t", pk = "id", schema = Some(StructType(Seq(
      StructField("id", IntegerType), StructField("score", LongType)))))
    val src = new MemoryCdcSource(spark)
    val pipe = new Pipeline(spark,
      PipelineConfig(Seq(sync), stateBuckets = Some(4),
        zoneMapCols = Seq("score", "missing_col")), src, sinkRoot)
    src.addEvents(
      ChangeEvent("create", "t", 1, ts("2024-01-01 00:00:00"), """{"id": 1, "score": 10}"""),
      ChangeEvent("create", "t", 2, ts("2024-01-01 00:00:01"), """{"id": 2, "score": 20}"""),
      ChangeEvent("create", "t", 3, ts("2024-01-01 00:00:02"), """{"id": 3, "score": 30}"""))
    val q1 = pipe.start(ckpt); q1.processAllAvailable(); q1.stop()
    val statePath = s"$sinkRoot/t"
    assert(ManifestStore.currentManifest(spark, statePath).get.statCols ===
      Seq("score"), "a stat column missing from the payload is skipped")
    assertManifestMatchesFull(statePath, 4, "manifest after the first batch")
    // second batch: update one pk far out of range, delete another
    src.addEvents(
      ChangeEvent("update", "t", 4, ts("2024-01-01 00:01:00"), """{"id": 1, "score": 9999}"""),
      ChangeEvent("delete", "t", 5, ts("2024-01-01 00:01:01"), """{"id": 2}"""))
    val q2 = pipe.start(ckpt); q2.processAllAvailable(); q2.stop()
    assertManifestMatchesFull(statePath, 4,
      "incremental per-commit stats equal the full recompute")
    // manifest-driven pruned read returns the exact survivor
    val got = ManifestStore.prunedRead(spark, statePath, StructType(Nil),
      "score", 1000L, 100000L).collect()
    assert(got.map(_.getLong(1)).toSeq === Seq(9999L))
  }

  test("refresh of a bucketed sink keeps the bucket layout (settings copy on swap)") {
    // the reference copies the live index's settings onto the tmp index
    // before the swap (meili.py:43-49); the layout analog here is the
    // bucket modulus. A refresh that lost it would make the next batch
    // merge against the wrong buckets and silently drop the refreshed
    // rows in every bucket it touches.
    val sinkRoot = tmpDir("sink")
    val ckpt = tmpDir("ckpt")
    val sync = SyncConfig("region", pk = "r_regionkey", full = true,
      schema = Some(StructType(Seq(
        StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))))
    import org.apache.spark.sql.functions.col
    val snapshot = Map("region" -> ops.Tables(spark, sf, "region")
      .select(col("r_regionkey"), col("r_name")))
    val src = new MemoryCdcSource(spark, snapshot)
    val pipe = new Pipeline(spark,
      PipelineConfig(Seq(sync), stateBuckets = Some(4)), src, sinkRoot)
    pipe.backfillIfNeeded()
    assert(pipe.refresh()("region") === 5L)
    val m = ManifestStore.currentManifest(spark, s"$sinkRoot/region")
    assert(m.map(_.nbuckets) === Some(4) && m.map(_.version) === Some(2L),
      s"refresh lost the bucket layout: $m")
    // and the next micro-batch upserts AGAINST the refreshed state instead
    // of bootstrapping empty: the other four regions must survive
    src.addEvents(ChangeEvent("update", "region", 1,
      ts("2024-01-01 00:00:00"), """{"r_regionkey": 0, "r_name": "AFRICA2"}"""))
    val q = pipe.start(ckpt); q.processAllAvailable(); q.stop()
    val state = pipe.sinkState(sync).orderBy("r_regionkey").collect()
    assert(state.length === 5, state.mkString(","))
    assert(state.head === Row(0, "AFRICA2"))
  }

  test("backfill + refresh + check against fixture tables") {
    val sinkRoot = tmpDir("sink")
    val sync = SyncConfig("region", pk = "r_regionkey", full = true,
      schema = Some(StructType(Seq(
        StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))))
    val snapshot = Map("region" -> ops.Tables(spark, sf, "region"))
    val src = new MemoryCdcSource(spark, snapshot)
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync)), src, sinkRoot)
    pipe.backfillIfNeeded()
    assert(pipe.check()("region") === ((5L, 5L)))
    // refresh rebuilds atomically; counts still agree
    val n = pipe.refresh()("region")
    assert(n === 5L)
    assert(pipe.check()("region") === ((5L, 5L)))
    val chk = ConsistencyCheck.check(snapshot("region"), pipe.sinkState(sync))
    assert(chk.ok)
  }
}
