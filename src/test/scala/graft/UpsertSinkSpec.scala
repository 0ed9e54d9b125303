package graft

import graft.cdc.{StateCommit, Transforms, UpsertSink}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

class UpsertSinkSpec extends SparkSpec {
  import spark.implicits._

  private def state(rows: (Int, String, String)*) =
    rows.toDF("id", "name", "city")

  private def changes(rows: (String, Integer, String, String)*) =
    rows.toDF("op", "id", "name", "city")

  test("create inserts, update overwrites changed fields, delete removes") {
    val s0 = state((1, "ann", "nyc"), (2, "bob", "sf"))
    val batch = changes(
      ("create", 3, "cat", "la"),
      ("update", 1, "anne", null), // partial update: city absent
      ("delete", 2, null, null))
    val out = UpsertSink.applyBatch(s0, batch, "id")
      .orderBy("id").collect().toSeq
    assert(out === Seq(Row(1, "anne", "nyc"), Row(3, "cat", "la")))
  }

  test("partial update preserves untouched columns (Mongo update semantics)") {
    // reference mongo.py:64: update events carry ONLY changed fields
    val s0 = state((7, "old-name", "tokyo"))
    val out = UpsertSink.applyBatch(s0, changes(("update", 7, null, "osaka")), "id")
    assert(out.head() === Row(7, "old-name", "osaka"))
  }

  test("applying the same batch twice is idempotent (at-least-once safety)") {
    val s0 = state((1, "ann", "nyc"))
    val batch = changes(("update", 1, "anne", null), ("create", 2, "bob", "sf"))
    val once = UpsertSink.applyBatch(s0, batch, "id")
    val twice = UpsertSink.applyBatch(once, batch, "id")
    assert(once.orderBy("id").collect().toSeq === twice.orderBy("id").collect().toSeq)
  }

  test("presence mask: explicit NULL overwrites, absent field keeps old value") {
    // ADVICE r01: with coalesce, an update could never null a column; the
    // _present mask distinguishes explicit-null from absent (json keys)
    val s0 = state((1, "ann", "nyc"), (2, "bob", "sf"))
    val batch = changes(
      ("update", 1, null, null),  // name explicitly nulled, city absent
      ("update", 2, "bobby", null)) // name changed, city absent
      .withColumn("_present", array(lit("id"), lit("name")))
    val out = UpsertSink.applyBatch(s0, batch, "id").orderBy("id").collect().toSeq
    assert(out === Seq(Row(1, null, "nyc"), Row(2, "bobby", "sf")))
  }

  test("presence mask: create replaces the whole document (add_documents)") {
    val s0 = state((5, "old", "berlin"))
    val batch = changes(("create", 5, "new", null))
      .withColumn("_present", array(lit("id"), lit("name")))
    // replace semantics: city not carried by the create -> null, not 'berlin'
    val out = UpsertSink.applyBatch(s0, batch, "id").collect().toSeq
    assert(out === Seq(Row(5, "new", null)))
  }

  test("interrupted swap recovers the pre-batch state on next read") {
    // simulate the crash window: live moved aside to .old, next never moved in
    val root = tmpDir("swapcrash")
    val live = s"$root/t"
    state((1, "ann", "nyc")).write.parquet(live)
    state((1, "ann", "paris")).write.parquet(live + ".next")
    import java.nio.file.{Files, Paths}
    Files.move(Paths.get(live), Paths.get(live + ".old"))
    assert(!Files.exists(Paths.get(live)))
    // every reader and writer of swapped state heals first
    StateCommit.recoverSwap(spark, live)
    val recovered = spark.read.parquet(live)
    assert(recovered.collect().toSeq === Seq(Row(1, "ann", "nyc")))
    assert(Files.exists(Paths.get(live))) // healed on disk, not just in-memory
  }

  /** Seed a bucketed (manifest-layout) store with `rows` as creates. */
  private def seedBucketed(path: String, rows: org.apache.spark.sql.DataFrame,
                           numBuckets: Int): Unit =
    graft.cdc.BucketedUpsertSink.applyBatch(spark, path,
      rows.withColumn("op", lit("create")), "id", numBuckets,
      schema = Some(rows.schema))

  test("bucketed sink rewrites only the touched buckets") {
    import graft.cdc.{BucketedUpsertSink, ManifestStore}
    val path = tmpDir("bsink") + "/state"
    val s0 = (1 to 200).map(i => (i, s"name$i", s"city$i")).toDF("id", "name", "city")
    seedBucketed(path, s0, numBuckets = 8)
    def dataFiles(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(path)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = dataFiles()
    val m0 = ManifestStore.currentManifest(spark, path).get
    assert(m0.buckets.size === 8)
    // one update + one delete; both pks land in <= 2 of the 8 buckets
    val batch = changes(("update", 7, "seven", null), ("delete", 8, null, null))
    BucketedUpsertSink.applyBatch(spark, path, batch, "id", numBuckets = 8)
    val state = BucketedUpsertSink.currentState(spark, path, s0.schema)
    assert(state.count() === 199)
    assert(state.filter(col("id") === 7).head() === Row(7, "seven", "city7"))
    assert(state.filter(col("id") === 8).count() === 0)
    // only the touched buckets point at new files; every other bucket's
    // entry carries forward verbatim
    val m1 = ManifestStore.currentManifest(spark, path).get
    val rewritten = m0.buckets.keySet.filter(b => !m1.buckets.get(b).contains(m0.buckets(b)))
    assert(rewritten.nonEmpty && rewritten.size <= 2, s"rewritten buckets: $rewritten")
    // and no existing file was rewritten or removed (same mtime)
    val after = dataFiles()
    before.foreach { case (p, t) =>
      assert(after.get(p).contains(t), s"file $p rewritten or removed")
    }
  }

  test("bucketed sink: deleting a bucket's last row drops its partition") {
    import graft.cdc.{BucketedUpsertSink, ManifestStore}
    val path = tmpDir("bsink2") + "/state"
    val s0 = Seq((1, "only", "row")).toDF("id", "name", "city")
    seedBucketed(path, s0, numBuckets = 4)
    assert(ManifestStore.currentManifest(spark, path).get.buckets.size === 1)
    BucketedUpsertSink.applyBatch(spark, path,
      changes(("delete", 1, null, null)), "id", numBuckets = 4)
    assert(BucketedUpsertSink.currentState(spark, path, s0.schema).count() === 0)
    assert(ManifestStore.currentManifest(spark, path).get.buckets.isEmpty,
      "the emptied bucket must leave the manifest")
  }

  test("bucketed sink is idempotent under batch replay") {
    import graft.cdc.BucketedUpsertSink
    val path = tmpDir("bsink3") + "/state"
    seedBucketed(path,
      (1 to 20).map(i => (i, s"n$i", s"c$i")).toDF("id", "name", "city"),
      numBuckets = 4)
    val batch = changes(("update", 3, "three", null), ("create", 21, "new", "here"),
      ("delete", 5, null, null))
    val schema3 = state((0, "x", "y")).schema
    BucketedUpsertSink.applyBatch(spark, path, batch, "id", numBuckets = 4)
    val once = BucketedUpsertSink.currentState(spark, path, schema3).orderBy("id").collect().toSeq
    BucketedUpsertSink.applyBatch(spark, path, batch, "id", numBuckets = 4)
    val twice = BucketedUpsertSink.currentState(spark, path, schema3).orderBy("id").collect().toSeq
    assert(once === twice)
    assert(once.length === 20) // 20 - 1 delete + 1 create
  }

  test("schema evolution: a new column extends the table, old rows read null") {
    // reference is schemaless (data: dict, schemas.py:16): fields appear
    // mid-stream and must flow through, not be silently dropped
    val s0 = state((1, "ann", "nyc"), (2, "bob", "sf"))
    val batch = Seq(("update", 1, "anne", "tier-1"))
      .toDF("op", "id", "name", "segment") // 'segment' never seen before
    val out = UpsertSink.applyBatch(s0, batch, "id").orderBy("id").collect().toSeq
    assert(out === Seq(
      Row(1, "anne", "nyc", "tier-1"),
      Row(2, "bob", "sf", null))) // untouched row reads null for the new field
  }

  test("schema evolution: a batch missing a stored column preserves it") {
    val s0 = state((1, "ann", "nyc"))
    val batch = Seq(("update", 1, "anne")).toDF("op", "id", "name") // no city
    val out = UpsertSink.applyBatch(s0, batch, "id").collect().toSeq
    assert(out === Seq(Row(1, "anne", "nyc")))
  }

  test("bucketed sink: schema evolution rewrites every bucket onto the new schema") {
    import graft.cdc.{BucketedUpsertSink, ManifestStore}
    val path = tmpDir("bsinkevo") + "/state"
    seedBucketed(path,
      (1 to 40).map(i => (i, s"n$i", s"c$i")).toDF("id", "name", "city"),
      numBuckets = 4)
    val batch = Seq(("update", 3, "three", "gold"))
      .toDF("op", "id", "name", "segment")
    BucketedUpsertSink.applyBatch(spark, path, batch, "id", numBuckets = 4)
    val evolved = StructType(state().schema.fields :+
      StructField("segment", StringType))
    val got = BucketedUpsertSink.currentState(spark, path, evolved)
    assert(got.columns.sorted.toSeq === Seq("city", "id", "name", "segment"))
    assert(got.count() === 40)
    assert(got.filter(col("id") === 3).head().getAs[String]("segment") === "gold")
    // every row (every bucket dir) now carries the evolved schema
    assert(got.filter(col("id") =!= 3)
      .filter(col("segment").isNotNull).count() === 0)
    // per-DIR footer check (review r11): the null-count assertion above is
    // vacuous under the touched-bucket-only regression — parquet reads a
    // MISSING column as null too. Each live bucket dir's own footer must
    // carry the evolved column.
    val m = ManifestStore.currentManifest(spark, path).get
    assert(m.buckets.size === 4, m.buckets.keys)
    m.buckets.values.foreach { e =>
      val cols = spark.read.parquet(s"$path/${e.relDir}").columns.toSet
      assert(cols.contains("segment"),
        s"bucket dir ${e.relDir} was not rewritten onto the evolved " +
          s"schema (footer columns: $cols)")
    }
    // and the incremental per-bucket path resumes on the new schema
    BucketedUpsertSink.applyBatch(spark, path,
      Seq(("update", 7, "seven", "silver")).toDF("op", "id", "name", "segment"),
      "id", numBuckets = 4)
    val after = BucketedUpsertSink.currentState(spark, path,
      evolved).filter(col("id") === 7).head()
    assert(after.getAs[String]("segment") === "silver")
  }

  test("create -> update -> delete on one pk within a batch nets to absence") {
    // reference event.py:10-13 last-write-wins, then delete applies
    val evs = Seq(
      ("create", 1, 10L), ("update", 1, 11L), ("delete", 1, 12L),
      ("create", 2, 13L)).toDF("op", "id", "offset")
      .withColumn("table", lit("t")).withColumn("name", lit("x"))
    val compacted = Transforms.lastWriteWins(evs, col("id"))
    val out = UpsertSink.applyBatch(Seq.empty[(Int, String)].toDF("id", "name"),
      compacted.select("op", "id", "name"), "id")
    assert(out.select("id").as[Int].collect().toSeq === Seq(2))
  }

  test("no mask: create replaces the whole document too — a deleted-then-" +
    "recreated row must not inherit the old document's fields (r9 review)") {
    val s0 = state((1, "ann", "nyc"))
    // delete + recreate compacts to the create; the re-created document
    // carries no city, so the stored 'nyc' must NOT leak back in
    val out = UpsertSink.applyBatch(s0, changes(("create", 1, "ann2", null)), "id")
    assert(out.collect().toSeq === Seq(Row(1, "ann2", null)))
    // update keeps the coalesce fallback (explicit-null unsupported w/o mask)
    val out2 = UpsertSink.applyBatch(s0, changes(("update", 1, "ann2", null)), "id")
    assert(out2.collect().toSeq === Seq(Row(1, "ann2", "nyc")))
  }

  test("atomicSwapDirs survives concurrent readers healing mid-swap: " +
    "repeated swaps under a liveExists hammer never throw and always leave " +
    "a complete copy live (r9 review)") {
    val root = tmpDir("swaprace")
    val live = s"$root/t"
    state((1, "v0", "c")).write.parquet(live)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readerFailed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val reader = new Thread(() => {
      // a reader's recoverSwap — the exact racer the fix addresses
      while (!stop.get()) {
        try { StateCommit.recoverSwap(spark, live) }
        catch { case t: Throwable => readerFailed.set(t); stop.set(true) }
      }
    }, "swap-race-reader")
    reader.setDaemon(true)
    reader.start()
    try {
      (1 to 20).foreach { i =>
        val next = s"$root/next-$i"
        state((1, s"v$i", "c")).write.parquet(next)
        graft.cdc.StateCommit.atomicSwapDirs(spark, next, live)
      }
    } finally { stop.set(true); reader.join(5000) }
    assert(readerFailed.get() === null,
      s"reader must never crash: ${readerFailed.get()}")
    val fin = spark.read.parquet(live).collect().toSeq
    assert(fin === Seq(Row(1, "v20", "c")),
      "the last swapped copy must be live and complete")
  }

  test("staging janitor: an hour-old crash leftover is reaped after a " +
    "swap, while a REGISTERED in-JVM writer's dir survives however old " +
    "its frozen mtime looks (r9 review: dir mtime freezes at job start, " +
    "so age alone would reap a long-running writer mid-job)") {
    val root = tmpDir("janitor")
    val live = s"$root/t"
    state((1, "v0", "c")).write.parquet(live)
    val oldMs = System.currentTimeMillis() - 2L * 3600L * 1000L
    // crash leftover: staging-patterned sibling, old mtime, NOT registered
    val stranded = new java.io.File(s"$live.next-deadbeef")
    assert(stranded.mkdirs() && stranded.setLastModified(oldMs))
    // live writer: registered via stagingDir, mtime forced equally old
    val owned = graft.cdc.StateCommit.stagingDir(live)
    val ownedDir = new java.io.File(owned)
    assert(ownedDir.mkdirs() && ownedDir.setLastModified(oldMs))
    // an unrelated sibling must never match the pattern
    val bystander = new java.io.File(s"$root/t2")
    assert(bystander.mkdirs() && bystander.setLastModified(oldMs))
    // one real swap triggers the sweep (first tick on this path)
    val next = s"$root/staged"
    state((1, "v1", "c")).write.parquet(next)
    graft.cdc.StateCommit.atomicSwapDirs(spark, next, live)
    assert(!stranded.exists(), "the unregistered hour-old leftover is reaped")
    assert(ownedDir.exists(), "a registered writer's staging must survive")
    assert(bystander.exists(), "non-staging siblings are untouched")
    assert(spark.read.parquet(live).collect().toSeq ===
      Seq(Row(1, "v1", "c")))
    graft.cdc.StateCommit.dropStaging(spark, owned)
    assert(!ownedDir.exists(), "dropStaging releases and removes the dir")
  }

  test("staging janitor: the reap horizon is configurable — a deployment " +
    "staging multi-hour cross-process rebuilds can raise it; lowering it " +
    "reaps younger leftovers (ADVICE r10)") {
    val default = graft.cdc.StateCommit.stagingReapHorizonMs
    try {
      graft.cdc.StateCommit.setStagingReapHorizonMs(10L * 1000L)
      val root = tmpDir("janitor-h")
      val live = s"$root/t"
      state((1, "v0", "c")).write.parquet(live)
      // 30s old: younger than the 1h default, older than the 10s horizon
      val stranded = new java.io.File(s"$live.next-cafebabe")
      assert(stranded.mkdirs() &&
        stranded.setLastModified(System.currentTimeMillis() - 30L * 1000L))
      // fresher than even the lowered horizon: must survive
      val fresh = new java.io.File(s"$live.next-00f4e54e")
      assert(fresh.mkdirs())
      val next = s"$root/staged"
      state((1, "v1", "c")).write.parquet(next)
      graft.cdc.StateCommit.atomicSwapDirs(spark, next, live)
      assert(!stranded.exists(), "past the lowered horizon: reaped")
      assert(fresh.exists(), "inside the horizon: kept")
      intercept[IllegalArgumentException] {
        graft.cdc.StateCommit.setStagingReapHorizonMs(0L)
      }
    } finally graft.cdc.StateCommit.setStagingReapHorizonMs(default)
  }

  test("atomicSwapDirs survives concurrent SWAPPERS: two threads swapping " +
    "their own staged copies into one live path both succeed — the loser " +
    "of the aside rename proceeds instead of failing a require (r9 review)") {
    val root = tmpDir("swapswap")
    val live = s"$root/t"
    state((1, "v0", "c")).write.parquet(live)
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    (1 to 10).foreach { round =>
      // stage both copies BEFORE the race so the threads spend their whole
      // lives inside atomicSwapDirs
      val nextA = s"$root/next-a-$round"
      val nextB = s"$root/next-b-$round"
      state((1, s"a$round", "c")).write.parquet(nextA)
      state((1, s"b$round", "c")).write.parquet(nextB)
      val threads = Seq(nextA, nextB).map { next =>
        new Thread(() => {
          try StateCommit.atomicSwapDirs(spark, next, live)
          catch { case t: Throwable => failed.compareAndSet(null, t); () }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join(30000))
      // a join timeout is a DEADLOCK diagnosis, not a later wrong-value
      // surprise (review r11): a still-running swapper would race the next
      // round's staging and report confusingly
      threads.foreach(t => assert(!t.isAlive,
        s"swapper deadlocked in atomicSwapDirs (round $round)"))
      assert(failed.get() === null,
        s"no swapper may fail spuriously (round $round): ${failed.get()}")
      val v = spark.read.parquet(live).collect().toSeq
      assert(v === Seq(Row(1, s"a$round", "c")) ||
        v === Seq(Row(1, s"b$round", "c")),
        s"one COMPLETE staged copy must win round $round, saw $v")
    }
  }
}
