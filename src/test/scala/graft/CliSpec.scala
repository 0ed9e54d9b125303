package graft

import graft.cli.Main
import graft.model.FieldMapping

class CliSpec extends SparkSpec {
  test("properties config parses into SyncConfigs") {
    val p = new java.util.Properties()
    p.setProperty("sync.users.pk", "_id")
    p.setProperty("sync.users.full", "true")
    p.setProperty("sync.users.index", "users_idx")
    p.setProperty("sync.users.fields", "_id:id,age")
    p.setProperty("sync.users.schema", "_id STRING, age INT, time TIMESTAMP")
    p.setProperty("sync.orders.schema", "id INT")
    val cfg = Main.parseConfig(p)
    assert(cfg.tables === Seq("orders", "users"))
    val u = cfg.syncFor("users").get
    assert(u.pk === "_id" && u.full && u.indexName === "users_idx")
    assert(u.fields === Seq(FieldMapping("_id", Some("id")), FieldMapping("age")))
    assert(u.schema.get.fieldNames.toSeq === Seq("_id", "age", "time"))
    assert(cfg.syncFor("orders").get.pk === "id")
  }

  test("config: a dotted (schema-qualified) table name parses whole, and " +
    "a malformed sync key names itself (r9 review: split('.')(1) silently " +
    "truncated 'user.events' to 'user')") {
    val p = new java.util.Properties()
    p.setProperty("sync.user.events.pk", "uid")
    p.setProperty("sync.user.events.schema", "uid INT")
    val cfg = Main.parseConfig(p)
    assert(cfg.tables === Seq("user.events"))
    assert(cfg.syncFor("user.events").get.pk === "uid")
    val bad = new java.util.Properties()
    bad.setProperty("sync.", "x")
    val err = intercept[IllegalArgumentException](Main.parseConfig(bad))
    assert(err.getMessage.contains("sync."),
      s"the malformed key must name itself: ${err.getMessage}")
  }

  test("B2 flush knobs parse into PipelineConfig") {
    val p = new java.util.Properties()
    p.setProperty("sync.t.schema", "id INT")
    p.setProperty("insert.size", "1000")
    p.setProperty("insert.interval.seconds", "10")
    val cfg = Main.parseConfig(p)
    assert(cfg.insertSize === Some(1000))
    assert(cfg.insertIntervalSecs === Some(10))
    // absent => None (immediate micro-batches via configTrigger)
    val bare = Main.parseConfig {
      val q = new java.util.Properties(); q.setProperty("sync.t.schema", "id INT"); q
    }
    assert(bare.insertSize === None && bare.insertIntervalSecs === None)
  }

  test("zone-map column list parses (trimmed, blanks dropped) and defaults " +
    "empty") {
    val p = new java.util.Properties()
    p.setProperty("sync.t.schema", "id INT")
    p.setProperty("state.buckets", "8")
    p.setProperty("state.zonemap.cols", " score , ts ,, ")
    val cfg = Main.parseConfig(p)
    assert(cfg.stateBuckets === Some(8))
    assert(cfg.zoneMapCols === Seq("score", "ts"))
    val bare = Main.parseConfig {
      val q = new java.util.Properties(); q.setProperty("sync.t.schema", "id INT"); q
    }
    assert(bare.zoneMapCols === Seq.empty)
  }

  test("U1: plugins load by class name and their hooks run end-to-end") {
    import graft.cdc._
    import graft.model._
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val hooks = PluginHooks.load(Seq("graft.UppercasePlugin"))
    val sinkRoot = tmpDir("sink")
    val sync = SyncConfig("t", pk = "id", schema = Some(StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType)))))
    val src = new MemoryCdcSource(spark)
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync)), src, sinkRoot, hooks)
    src.addEvents(ChangeEvent("create", "t", 1,
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), """{"id": 1, "name": "ann"}"""))
    val q = pipe.start(tmpDir("ckpt"))
    q.processAllAvailable(); q.stop()
    assert(pipe.sinkState(sync).collect().toSeq === Seq(Row(1, "ANN")))
    assert(UppercasePlugin.batches.get() >= 1)
  }

  test("U1: a table-scoped plugin leaves other syncs' views untouched") {
    val hooks = graft.cdc.PluginHooks.load(Seq("graft.UsersOnlyPlugin"))
    import spark.implicits._
    val view = Seq((1, 9.5)).toDF("id", "amount") // no 'name' column at all
    // applying the hook under table 'orders' must be the identity, not an
    // unresolved-column crash that would kill every sync in the query
    val out = hooks.preEvent.foldLeft(view)((df, h) => h("orders", df))
    assert(out.collect().toSeq === view.collect().toSeq)
  }

  test("U1: a non-global plugin is re-instantiated per invocation, a global one is not") {
    PerBatchPlugin.constructed.set(0)
    GlobalCountPlugin.constructed.set(0)
    val hooks = graft.cdc.PluginHooks.load(
      Seq("graft.PerBatchPlugin", "graft.GlobalCountPlugin"))
    val afterLoad = PerBatchPlugin.constructed.get()
    hooks.postBatch.foreach(_("t", 0L))
    hooks.postBatch.foreach(_("t", 1L))
    hooks.postBatch.foreach(_("t", 2L))
    // non-global: the load-time probe plus one fresh instance per postBatch
    assert(PerBatchPlugin.constructed.get() === afterLoad + 3)
    // global: only the load-time singleton, however many batches fire
    assert(GlobalCountPlugin.constructed.get() === 1)
  }

  test("U1: blank plugin entries are ignored, bad classes name themselves") {
    assert(graft.cdc.PluginHooks.load(Seq("", "  ")).preEvent.isEmpty)
    val err = intercept[IllegalArgumentException] {
      graft.cdc.PluginHooks.load(Seq("com.example.Nope"))
    }
    assert(err.getMessage.contains("com.example.Nope"))
  }

  test("replay: repaired dead-letter rows re-enter the sink through the " +
    "live upsert path, unrepaired rows stay quarantined, re-replay is a " +
    "no-op") {
    import graft.cdc._
    import graft.model._
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    val sinkRoot = tmpDir("sink-replay")
    val sync = SyncConfig("t", pk = "id", schema = Some(StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType)))))
    val src = new MemoryCdcSource(spark)
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync)), src, sinkRoot)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    src.addEvents(
      ChangeEvent("create", "t", 1, ts, """{"id": 1, "name": "ann"}"""),
      ChangeEvent("create", "t", 2, ts, """{"id": null, "name": "bob"}"""),
      ChangeEvent("create", "t", 3, ts, """{"name": "eve"}"""))
    val q = pipe.start(tmpDir("ckpt"))
    q.processAllAvailable(); q.stop()
    assert(pipe.sinkState(sync).collect().toSeq === Seq(Row(1, "ann")))
    val dl = pipe.deadLetterPath(sync)
    assert(spark.read.parquet(dl).count() === 2, "both pk-less rows quarantined")
    // operator repair: backfill ONLY bob's id (eve stays broken)
    val repaired = spark.read.parquet(dl)
      .withColumn("id",
        when(col("name") === "bob", lit(7)).otherwise(col("id")))
      .localCheckpoint(true)
    repaired.write.mode("overwrite").parquet(dl)
    assert(pipe.replayDeadLetters() === Map("t" -> ((1L, 0L, 1L))))
    val state = pipe.sinkState(sync).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(state === Set((1, "ann"), (7, "bob")),
      "the repaired row must land in the sink")
    // eve is still quarantined; a second replay applies nothing
    assert(pipe.replayDeadLetters() === Map("t" -> ((0L, 0L, 1L))))
    assert(pipe.sinkState(sync).count() === 2L)
  }

  test("replay staleness guard: a repaired dead-letter row superseded by a " +
    "newer live batch for the same pk is DISCARDED, never applied (r8 " +
    "ADVICE medium — per-pk offset watermark)") {
    import graft.cdc._
    import graft.model._
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    val sinkRoot = tmpDir("sink-replay-wm")
    val sync = SyncConfig("t", pk = "id", schema = Some(StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType)))))
    val src = new MemoryCdcSource(spark)
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync)), src, sinkRoot)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ckpt = tmpDir("ckpt-wm")
    src.addEvents(
      ChangeEvent("create", "t", 1, ts, """{"id": 1, "name": "ann"}"""),
      ChangeEvent("create", "t", 2, ts, """{"id": null, "name": "old-ann"}"""),
      ChangeEvent("create", "t", 3, ts, """{"id": null, "name": "late"}"""))
    val q1 = pipe.start(ckpt)
    q1.processAllAvailable(); q1.stop()
    // a NEWER live batch updates pk 1 after the quarantine happened
    src.addEvents(
      ChangeEvent("update", "t", 5, ts, """{"id": 1, "name": "zed"}"""))
    val q2 = pipe.start(ckpt)
    q2.processAllAvailable(); q2.stop()
    assert(pipe.sinkState(sync).collect().toSeq === Seq(Row(1, "zed")))
    // operator repair: old-ann (offset 2) gets pk 1 — STALE vs the sink's
    // watermark (5); late (offset 3) gets pk 9 — fresh, no watermark entry
    val dl = pipe.deadLetterPath(sync)
    val repaired = spark.read.parquet(dl)
      .withColumn("id",
        when(col("name") === "old-ann", lit(1))
          .when(col("name") === "late", lit(9))
          .otherwise(col("id")))
      .localCheckpoint(true)
    repaired.write.mode("overwrite").parquet(dl)
    assert(pipe.replayDeadLetters() === Map("t" -> ((1L, 1L, 0L))),
      "one fresh row applied, one superseded row discarded, quarantine empty")
    val state = pipe.sinkState(sync).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(state === Set((1, "zed"), (9, "late")),
      "the stale payload must NOT overwrite the newer live value")
    // crash-retry shape: re-running the replay is a no-op either way
    assert(pipe.replayDeadLetters() === Map("t" -> ((0L, 0L, 0L))))
    assert(pipe.sinkState(sync).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet === Set((1, "zed"), (9, "late")))
  }

  test("debug flag: parses from config, logs settings and a bounded " +
    "per-batch event dump; silent when off") {
    import graft.cdc._
    import graft.model._
    import org.apache.spark.sql.types._
    val p = new java.util.Properties()
    p.setProperty("sync.t.schema", "id INT")
    p.setProperty("debug", "true")
    assert(Main.parseConfig(p).debug)
    val bare = new java.util.Properties()
    bare.setProperty("sync.t.schema", "id INT")
    assert(!Main.parseConfig(bare).debug)

    val sync = SyncConfig("t", pk = "id", schema = Some(StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType)))))
    def drive(debug: Boolean): Unit = {
      val src = new MemoryCdcSource(spark)
      val pipe = new Pipeline(spark,
        PipelineConfig(Seq(sync), debug = debug), src, tmpDir("sink"))
      src.addEvents(ChangeEvent("create", "t", 1,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        """{"id": 1, "name": "ann"}"""))
      val q = pipe.start(tmpDir("ckpt"))
      q.processAllAvailable(); q.stop()
    }
    DebugLog.clear()
    drive(debug = false)
    assert(DebugLog.recent().isEmpty, "debug off must record nothing")
    drive(debug = true)
    val lines = DebugLog.recent()
    assert(lines.exists(_.startsWith("settings:")),
      s"missing settings line (main.py:35-36 parity): $lines")
    assert(lines.exists(l => l.startsWith("batch ") && l.endsWith("events")),
      s"missing per-batch count line: $lines")
    val events = lines.filter(_.contains(" event: "))
    assert(events.nonEmpty, s"missing decoded-event dump: $lines")
    // the envelope's raw payload rides inside the JSON line (escaped)
    assert(events.forall(e => e.contains("ann") && e.contains("\"op\":\"create\"")),
      s"event dump must carry the decoded envelope + payload: $events")
    assert(events.length <= 20, "event dump must stay bounded per batch")
  }

  test("error listener: config-loaded reporters get error.* init conf, " +
    "fire on stream death with the error, stay silent on a clean run") {
    import graft.cdc._
    RecordingReporter.reports.clear()
    val p = new java.util.Properties()
    p.setProperty("error.listeners", "graft.RecordingReporter")
    p.setProperty("error.dsn", "https://example/42")
    p.setProperty("error.environment", "ci")
    val reporters = Main.parseReporters(p)
    assert(reporters.length === 1)
    assert(RecordingReporter.conf.get() ===
      Map("dsn" -> "https://example/42", "environment" -> "ci"),
      "init must receive the error.* config (dsn/environment analog)")
    // no listeners configured => empty
    assert(Main.parseReporters(new java.util.Properties()).isEmpty)

    // clean run: nothing reported
    val ok = spark.readStream.format("rate")
      .option("rowsPerSecond", "1").load()
      .writeStream.format("noop")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val lOk = ErrorReporting.attach(spark, ok.id, reporters)
    try { ok.processAllAvailable(); ok.stop() }
    finally spark.streams.removeListener(lOk)
    spark.streams.resetTerminated()
    assert(RecordingReporter.reports.isEmpty, "clean stop must not report")

    // failing run: the listener forwards the death to every reporter.
    // The foreachBatch blocks on a latch until the listener is attached,
    // so the failure cannot race the attach.
    val latch = new java.util.concurrent.CountDownLatch(1)
    val q = spark.readStream.format("rate")
      .option("rowsPerSecond", "1").load()
      .writeStream
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        latch.await(30, java.util.concurrent.TimeUnit.SECONDS)
        throw new RuntimeException("boom: sink exploded")
      }
      .start()
    val l = ErrorReporting.attach(spark, q.id, reporters)
    latch.countDown()
    try {
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.awaitTermination()
      }
      // listener-bus delivery is async: poll briefly
      val deadline = System.nanoTime() + 10e9.toLong
      while (RecordingReporter.reports.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally spark.streams.removeListener(l)
    val rep = RecordingReporter.reports.toArray(Array.empty[String])
    assert(rep.nonEmpty, "stream death must fire the reporters")
    assert(rep.head.startsWith(s"stream ${q.id}|"))
    assert(rep.head.contains("boom: sink exploded"),
      s"the error text must reach the reporter: ${rep.head}")
  }

  test("check surfaces the lease holder per sync (r10 verdict #7): path, " +
    "identity and heartbeat age while held; free after release") {
    import graft.cdc._
    import graft.model._
    import org.apache.spark.sql.types._
    val sinkRoot = tmpDir("sink-leaseline")
    val statePath = s"$sinkRoot/t"
    val sync = SyncConfig("t", pk = "id",
      schema = Some(StructType(Seq(StructField("id", IntegerType)))))
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync)),
      new MemoryCdcSource(spark), sinkRoot)
    DriverLease.acquire(spark, statePath, identity = "diag-holder")
    try {
      val (path, holder) = pipe.leaseStatus()("t")
      assert(path === DriverLease.leasePath(statePath))
      assert(holder.map(_._1) === Some("diag-holder"))
      assert(holder.exists(_._2 >= 0L), "heartbeat age must be reported")
      val line = Main.leaseLine("t", path, holder)
      assert(line.contains("LEASE t: held by driver 'diag-holder'") &&
        line.contains("heartbeat") && line.contains(path),
        s"the check line must name path, identity and age: $line")
    } finally DriverLease.release(spark, statePath, identity = "diag-holder")
    val (path2, holder2) = pipe.leaseStatus()("t")
    assert(holder2.isEmpty)
    assert(Main.leaseLine("t", path2, holder2) === s"LEASE t: free ($path2)")
  }

  test("check --json emits one parseable object per sync with counts and " +
    "lease identity+age (r11 verdict #6)") {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    // held lease, counts mismatched
    val held = om.readTree(Main.checkJsonLine("users", 10L, 9L,
      Some(("/s/t/_lease", Some(("driver-a", 1500L))))))
    assert(held.get("table").asText === "users")
    assert(held.get("source").asLong === 10L && held.get("sink").asLong === 9L)
    assert(!held.get("match").asBoolean)
    assert(held.get("lease").get("path").asText === "/s/t/_lease" &&
      held.get("lease").get("holder").asText === "driver-a" &&
      held.get("lease").get("heartbeat_age_ms").asLong === 1500L)
    // free lease, counts matching
    val free = om.readTree(Main.checkJsonLine("t", 5L, 5L,
      Some(("/s/t/_lease", None))))
    assert(free.get("match").asBoolean)
    assert(free.get("lease").get("holder").isNull)
    // no lease entry at all
    assert(om.readTree(Main.checkJsonLine("t", 5L, 5L, None)).get("lease").isNull)
    // a quote/control char in identity stays valid JSON (escape path)
    val esc = om.readTree(Main.checkJsonLine("t", 1L, 1L,
      Some(("/p", Some(("we\"ird\nid", 1L))))))
    assert(esc.get("lease").get("holder").asText === "we\"ird\nid")
  }

  test("config guards fail at PARSE time, naming themselves (review r11): " +
    "state.buckets <= 0, a two-colon fields entry, an empty fields entry") {
    def props(k: String, v: String) = {
      val p = new java.util.Properties()
      p.setProperty("sync.t.schema", "id INT")
      p.setProperty(k, v)
      p
    }
    val b = intercept[IllegalArgumentException](
      Main.parseConfig(props("state.buckets", "0")))
    assert(b.getMessage.contains("state.buckets"), b.getMessage)
    val neg = intercept[IllegalArgumentException](
      Main.parseConfig(props("state.buckets", "-4")))
    assert(neg.getMessage.contains("state.buckets"), neg.getMessage)
    val twoColon = intercept[IllegalArgumentException](
      Main.parseConfig(props("sync.t.fields", "a:b:c")))
    assert(twoColon.getMessage.contains("sync.t.fields") &&
      twoColon.getMessage.contains("a:b:c"), twoColon.getMessage)
    val empty = intercept[IllegalArgumentException](
      Main.parseConfig(props("sync.t.fields", "a,,b")))
    assert(empty.getMessage.contains("sync.t.fields"), empty.getMessage)
    // the happy shapes still parse
    val ok = Main.parseConfig(props("sync.t.fields", "a:b, c"))
    assert(ok.syncFor("t").get.fields ===
      Seq(FieldMapping("a", Some("b")), FieldMapping("c")))
    assert(Main.parseConfig(props("state.buckets", "8")).stateBuckets ===
      Some(8))
  }

  test("a typo'd table on refresh/replay fails loud naming the configured " +
    "tables instead of filtering to a silent no-op (review r11)") {
    val p = new java.util.Properties()
    p.setProperty("sync.users.schema", "id INT")
    p.setProperty("sync.orders.schema", "id INT")
    val cfg = Main.parseConfig(p)
    Main.requireKnownTables(cfg, Nil)              // no filter: fine
    Main.requireKnownTables(cfg, Seq("users"))     // known: fine
    val e = intercept[IllegalArgumentException](
      Main.requireKnownTables(cfg, Seq("userz", "orders")))
    assert(e.getMessage.contains("userz") && e.getMessage.contains("users") &&
      !e.getMessage.contains("unknown table(s) orders"), e.getMessage)
  }

  test("error listener: batch-command failures route through the same " +
    "reporters and rethrow") {
    import graft.cdc._
    RecordingReporter.reports.clear()
    val reporters = Seq(new RecordingReporter)
    val e = intercept[IllegalStateException] {
      ErrorReporting.reporting(reporters, "refresh") {
        throw new IllegalStateException("rebuild failed")
      }
    }
    assert(e.getMessage === "rebuild failed")
    val rep = RecordingReporter.reports.toArray(Array.empty[String])
    assert(rep.length === 1 && rep.head.startsWith("refresh|") &&
      rep.head.contains("rebuild failed"))
  }
}

/** Sentry-analog test fixture: records init conf and reports statically. */
class RecordingReporter extends graft.cdc.GraftErrorReporter {
  override def init(conf: Map[String, String]): Unit = {
    RecordingReporter.conf.set(conf); ()
  }
  override def report(context: String, error: String): Unit = {
    RecordingReporter.reports.add(s"$context|$error"); ()
  }
}
object RecordingReporter {
  val conf = new java.util.concurrent.atomic.AtomicReference[Map[String, String]](Map.empty)
  val reports = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** Scoped plugin: must leave other tables' views untouched. */
class UsersOnlyPlugin extends graft.cdc.GraftPlugin {
  override def tables: Set[String] = Set("users")
  override def preEvent(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.withColumn("name", org.apache.spark.sql.functions.upper(
      org.apache.spark.sql.functions.col("name"))) // column only users has
}

/** Test fixture for the reflection plugin loader. */
class UppercasePlugin extends graft.cdc.GraftPlugin {
  override def preEvent(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.withColumn("name", org.apache.spark.sql.functions.upper(
      org.apache.spark.sql.functions.col("name")))
  override def postBatch(table: String, batchId: Long): Unit = {
    UppercasePlugin.batches.incrementAndGet(); ()
  }
}
object UppercasePlugin {
  val batches = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Non-global fixture: counts constructions to prove per-batch mode. */
class PerBatchPlugin extends graft.cdc.GraftPlugin {
  PerBatchPlugin.constructed.incrementAndGet()
  override def isGlobal: Boolean = false
}
object PerBatchPlugin {
  val constructed = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Global fixture: the loader's probe must be the only construction. */
class GlobalCountPlugin extends graft.cdc.GraftPlugin {
  GlobalCountPlugin.constructed.incrementAndGet()
}
object GlobalCountPlugin {
  val constructed = new java.util.concurrent.atomic.AtomicInteger(0)
}
