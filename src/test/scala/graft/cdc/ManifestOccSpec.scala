package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Optimistic concurrency over the manifest store (r13): version
  * publication is mutually exclusive through an atomic create-exclusive
  * claim file, and [[ManifestStore.commitBatchOptimistic]] runs the
  * Delta-style loop on top — rebase when interleaved commits touched
  * disjoint buckets, recompute when they overlap. These specs pin:
  *
  *  - the DETERMINISTIC conflict paths (a conflicting commit is injected
  *    from inside the caller's merge closure, so the race is exact, not
  *    timing-dependent): disjoint -> one rebase, zero re-merges;
  *    overlapping -> one recompute and the interleaved write SURVIVES —
  *    the lost-update class a bare POSIX rename would hit silently
  *    (rename(2) replaces an existing destination, so the old
  *    "fail-loud-on-rename" assumption never actually held locally);
  *  - a real multi-threaded writer storm: every commit lands exactly once,
  *    versions stay gapless, final state is the per-key last write;
  *  - crash recovery: a claim with no published manifest older than the
  *    takeover threshold is broken and the version recovered; a FRESH
  *    foreign claim is waited out, never broken early;
  *  - token fencing: a claimant whose claim is stolen mid-publish (the
  *    test seam stalls it between the token re-read and the rename)
  *    aborts instead of double-publishing;
  *  - the single-writer publish path (a refresh's
  *    [[ManifestStore.publishFull]] under [[DriverLease]]) fails genuinely
  *    LOUD on contention.
  */
class ManifestOccSpec extends SparkSpec {
  import spark.implicits._

  private val payload = StructType(Seq(
    StructField("id", IntegerType), StructField("score", LongType)))
  private val B = BucketedUpsertSink.BucketCol
  private val N = 4

  private def bucketIdOf(i: Int): Long =
    spark.range(1).select(BucketedUpsertSink.bucketOf(lit(i), N)).head.getLong(0)

  /** ids 1..60 grouped by bucket, so tests can pick guaranteed-disjoint /
    * guaranteed-overlapping key sets. */
  private lazy val idsByBucket: Map[Long, Seq[Int]] =
    (1 to 60).groupBy(i => bucketIdOf(i)).view.mapValues(_.toSeq).toMap

  private def seed(path: String, rows: (Int, Long)*): Unit =
    BucketedUpsertSink.applyBatch(spark, path,
      rows.toSeq.toDF("id", "score").withColumn("op", lit("create")),
      "id", N, Some(payload), Seq("score"))

  private def stateRows(path: String): Set[(Int, Long)] =
    ManifestStore.readState(spark, path, payload).drop(B)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet

  /** Direct optimistic upsert of full (id, score) rows; `onCompute` runs at
    * every merge invocation (the deterministic-conflict injection seam). */
  private def occUpsert(path: String, rows: Seq[(Int, Long)],
                        takeover: Long = ManifestStore.ClaimTakeoverMs,
                        onCompute: Option[ManifestStore.Manifest] => Unit = _ => ())
      : ManifestStore.OccResult = {
    val fixes = rows.toDF("id", "score").withColumn("op", lit("create"))
      .withColumn(B, BucketedUpsertSink.bucketOf(col("id"), N))
    val touched = fixes.select(col(B)).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    ManifestStore.commitBatchOptimistic(spark, path, touched, N,
      Seq("score"), claimTakeoverMs = takeover, backoffMs = 10L) { base =>
      onCompute(base)
      BucketedUpsertSink.upsertMergeOf(spark, path, payload, touched,
        fixes.drop(B), "id", N)(base)
    }
  }

  private def claimPath(path: String, v: Long, g: Int = 0) =
    new java.io.File(path, ManifestStore.claimName(v, g))

  private def writeForeignClaim(path: String, v: Long, ageMs: Long,
                                gen: Int = 0): Unit = {
    val f = claimPath(path, v, gen)
    assert(f.createNewFile(), s"test claim $f already existed")
    java.nio.file.Files.write(f.toPath, "foreign-writer-token".getBytes("UTF-8"))
    assert(f.setLastModified(System.currentTimeMillis() - ageMs))
  }

  test("sequential optimistic commits: first-attempt publishes, gapless " +
    "versions, exact state") {
    val path = tmpDir("occseq") + "/state"
    val r1 = occUpsert(path, Seq(1 -> 10L, 2 -> 20L))
    val r2 = occUpsert(path, Seq(2 -> 21L, 3 -> 30L))
    assert(r1 == ManifestStore.OccResult(1L, 1, 0, 0))
    assert(r2 == ManifestStore.OccResult(2L, 1, 0, 0))
    assert(stateRows(path) == Set((1, 10L), (2, 21L), (3, 30L)))
    assert(ManifestStore.history(spark, path).map(_._1) == Seq(1L, 2L))
  }

  test("disjoint-bucket conflict REBASES: one manifest-only retry, the " +
    "merge closure runs once, both commits survive") {
    val path = tmpDir("occrebase") + "/state"
    val bA = idsByBucket.keys.min
    val bB = idsByBucket.keys.max
    assert(bA != bB, "fixture needs two distinct buckets")
    val (idA, idB) = (idsByBucket(bA).head, idsByBucket(bB).head)
    seed(path, idA -> 1L, idB -> 2L)
    var calls = 0
    val res = occUpsert(path, Seq(idA -> 100L), onCompute = { _ =>
      calls += 1
      // interleave a conflicting commit on the OTHER bucket, exactly
      // between this writer's state read and its publish
      if (calls == 1) seed(path, idB -> 200L)
    })
    assert(calls == 1, "disjoint conflict must NOT re-run the merge")
    assert(res.rebases == 1 && res.recomputes == 0 && res.attempts == 2)
    assert(res.version == 3L)
    assert(stateRows(path) == Set((idA, 100L), (idB, 200L)))
  }

  test("overlapping-bucket conflict RECOMPUTES: the merge re-runs against " +
    "the winner's state and the interleaved write survives (the lost-update " +
    "class a bare rename publish would silently hit)") {
    val path = tmpDir("occrecompute") + "/state"
    val bA = idsByBucket.keys.min
    val ids = idsByBucket(bA)
    assert(ids.size >= 2, "fixture needs two ids in one bucket")
    val (idX, idY) = (ids(0), ids(1))
    seed(path, idX -> 1L)
    var calls = 0
    val res = occUpsert(path, Seq(idX -> 99L), onCompute = { _ =>
      calls += 1
      if (calls == 1) seed(path, idY -> 77L) // same bucket: stale merge
    })
    assert(calls == 2, "overlap must re-run the merge against the new base")
    assert(res.rebases == 0 && res.recomputes == 1 && res.attempts == 2)
    assert(stateRows(path) == Set((idX, 99L), (idY, 77L)),
      "the interleaved commit's row must survive the optimistic re-merge")
  }

  test("three-writer storm: every commit lands exactly once, versions " +
    "gapless, final state is the per-key last write") {
    val path = tmpDir("occstorm") + "/state"
    seed(path, 1 -> 0L)
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = (0 until 3).map { t =>
      val th = new Thread(() =>
        try (1 to 3).foreach { k =>
          occUpsert(path, Seq((100 * k + t) -> (1000L * t + k))); ()
        } catch { case e: Throwable => failed.compareAndSet(null, e); () })
      th.setDaemon(true); th
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    if (failed.get != null) throw failed.get
    assert(threads.forall(!_.isAlive), "a writer thread hung")
    val expect = (for { t <- 0 until 3; k <- 1 to 3 }
      yield (100 * k + t, 1000L * t + k)).toSet + ((1, 0L))
    assert(stateRows(path) == expect)
    // base + 9 optimistic commits, no version reused or skipped
    assert(ManifestStore.history(spark, path).map(_._1) == (1L to 10L))
  }

  test("a stale claim (crashed claimant) is superseded by the next " +
    "generation and the version recovered; consumed claims leave no " +
    "files at rest") {
    val path = tmpDir("occstale") + "/state"
    seed(path, 1 -> 1L)
    writeForeignClaim(path, 2L, ageMs = 10L * 60L * 1000L)
    val res = occUpsert(path, Seq(2 -> 2L), takeover = 1000L)
    assert(res.version == 2L, "the wedged version must be recovered")
    assert(stateRows(path) == Set((1, 1L), (2, 2L)))
    assert(!claimPath(path, 2L, 0).exists() && !claimPath(path, 2L, 1).exists(),
      "a successful publish must consume its own and all lower generations")
  }

  test("a FRESH foreign claim is waited out, not broken early: the commit " +
    "blocks at least the takeover threshold before recovering") {
    val path = tmpDir("occfresh") + "/state"
    seed(path, 1 -> 1L)
    writeForeignClaim(path, 2L, ageMs = 0L)
    val t0 = System.currentTimeMillis()
    val res = occUpsert(path, Seq(2 -> 2L), takeover = 400L)
    val elapsed = System.currentTimeMillis() - t0
    assert(res.version == 2L)
    assert(elapsed >= 350L,
      s"a fresh claim must be given the takeover threshold, waited ${elapsed}ms")
    assert(stateRows(path) == Set((1, 1L), (2, 2L)))
  }

  test("generation fencing: a claimant taken over mid-publish (a breaker " +
    "claimed the next generation between its fence point and its rename) " +
    "aborts and retries instead of double-publishing") {
    val path = tmpDir("occfence") + "/state"
    seed(path, 1 -> 1L)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    ManifestStore.occBeforeRenameHook = () =>
      if (calls.getAndIncrement() == 0) {
        // take the version over exactly inside the fence-to-rename window:
        // a breaker that decided this claimant crashed claims generation 1
        val f = claimPath(path, 2L, 1)
        assert(f.createNewFile(), "takeover claim already existed")
        java.nio.file.Files.write(f.toPath, "breaker-token".getBytes("UTF-8"))
        ()
      }
    try {
      val t0 = System.currentTimeMillis()
      val res = occUpsert(path, Seq(2 -> 2L), takeover = 300L)
      assert(calls.get() >= 2, "the fenced attempt must have retried")
      assert(res.version == 2L && res.attempts >= 2)
      assert(System.currentTimeMillis() - t0 >= 250L,
        "the retry must have waited out the breaker's fresh claim")
      assert(stateRows(path) == Set((1, 1L), (2, 2L)))
      assert(ManifestStore.history(spark, path).map(_._1) == Seq(1L, 2L),
        "exactly one publish of the contended version")
      assert(!claimPath(path, 2L, 0).exists() && !claimPath(path, 2L, 1).exists()
        && !claimPath(path, 2L, 2).exists(),
        "all consumed generations must be gone after the publish")
    } finally ManifestStore.occBeforeRenameHook = () => ()
  }

  test("two HEALTHY breakers racing one stale claim: create-exclusive on " +
    "the next generation arbitrates — exactly one takes over, the loser " +
    "backs off and lands on the following version (a delete-based break " +
    "would let the second breaker destroy the first's fresh claim and " +
    "double-publish)") {
    val path = tmpDir("occbreakers") + "/state"
    seed(path, 1 -> 1L)
    writeForeignClaim(path, 2L, ageMs = 10L * 60L * 1000L)
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = Seq(10 -> 100L, 11 -> 110L).map { case (id, sc) =>
      val th = new Thread(() =>
        try { occUpsert(path, Seq(id -> sc), takeover = 800L); () }
        catch { case e: Throwable => failed.compareAndSet(null, e); () })
      th.setDaemon(true); th
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    if (failed.get != null) throw failed.get
    assert(threads.forall(!_.isAlive), "a breaker thread hung")
    assert(stateRows(path) == Set((1, 1L), (10, 100L), (11, 110L)),
      "both breakers' commits must survive — a lost update means the " +
        "takeover arbitration failed")
    assert(ManifestStore.history(spark, path).map(_._1) == Seq(1L, 2L, 3L),
      "exactly one publish per commit, no version double-published")
  }

  test("the single-writer publish path fails LOUD on contention (the " +
    "DriverLease-violation diagnostic, now real on POSIX)") {
    val path = tmpDir("occloud") + "/state"
    seed(path, 1 -> 1L)
    writeForeignClaim(path, 2L, ageMs = 0L)
    val staged = ManifestStore.stageFull(spark, path,
      Seq((2, 2L)).toDF("id", "score"), "id", N, Seq("score"))
    val e = intercept[IllegalStateException] {
      ManifestStore.publishFull(spark, path, staged)
    }
    ManifestStore.dropStaged(spark, staged)
    assert(stateRows(path) == Set((1, 1L)), "the lost publish changed nothing")
    assert(e.getMessage.contains("single-driver contract"))
    assert(e.getMessage.contains("commitBatchOptimistic"),
      "the diagnostic must name the concurrent-writer-safe alternative")
  }

  test("online repairUpsert lands against a store the sink owns, and the " +
    "sink's next batch sees the repair (no clobber in either direction)") {
    val path = tmpDir("occrepair") + "/state"
    seed(path, 1 -> 10L, 2 -> 20L, 3 -> 30L)
    val r = graft.ops.Maintenance.repairUpsert(spark, path,
      Seq((2, 2000L)).toDF("id", "score"), "id")
    assert(r.version == 2L)
    // the stream's next micro-batch (sink path) merges OVER the repair
    seed(path, 3 -> 33L)
    assert(stateRows(path) == Set((1, 10L), (2, 2000L), (3, 33L)))
  }
}
