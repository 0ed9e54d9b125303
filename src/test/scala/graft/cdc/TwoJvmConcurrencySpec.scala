package graft.cdc

import graft.SparkSpec
import graft.model._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Two-JVM LIVE concurrency (r11 verdict #4): [[TwoJvmLeaseSpec]] proves
  * refusal and takeover across real process boundaries, but no spec yet
  * ran WORK concurrently. Here a second JVM ([[ConcurrentReaderMain]])
  * loops the `check`-shaped read surface — manifest-pruned reads with
  * exact counts — against a bucketed sink for ≥30 s while THIS JVM streams
  * micro-batches through the real [[Pipeline]] (manifest commit +
  * watermark write per batch) and runs TWO mid-stream `refresh` rebuilds
  * (full manifest publishes). The reader asserts, every iteration, that
  * it never observes a row-count REGRESSION (the feed is insert-only and
  * refresh rebuilds a superset — counts are monotone by construction, so
  * a dip means a torn read), and the run must see ZERO vanished-file
  * retries: immutable files + a versioned manifest mean a live writer can
  * never delete a file a reader pinned. Exit codes: 0 clean, 1 crash,
  * 2 regression. */
class TwoJvmConcurrencySpec extends SparkSpec {

  private def addOpens: Seq[String] = {
    import scala.jdk.CollectionConverters._
    val in = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toVector
    in.zipWithIndex.flatMap {
      case (a, i) if a == "--add-opens" && i + 1 < in.size => Seq(a, in(i + 1))
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case _ => Nil
    }
  }

  private def spawn(mainClass: String, args: Seq[String],
                    out: java.io.File): Process = {
    val java = sys.props("java.home") + "/bin/java"
    val cmd = Seq(java) ++ addOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      "-Dspark.sql.session.timeZone=UTC",
      "-cp", sys.props("java.class.path"), mainClass) ++ args
    new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true).redirectOutput(out).start()
  }

  private def slurp(f: java.io.File): String =
    if (f.exists()) new String(java.nio.file.Files.readAllBytes(f.toPath),
      "UTF-8") else ""

  test("manifest layout (r12 verdict #1): the same 30+ s live-load run — " +
    "streamed batches plus two mid-stream refresh publishes — completes " +
    "with ZERO retryable read failures: immutable files + versioned " +
    "manifest close the FAILED_READ_FILE class entirely") {
    val scratch = tmpDir("twojvm-manifest")
    val sinkRoot = s"$scratch/sink"
    // full = false: a backfill would load the whole snapshot up front and
    // flatten the "reader sees the load advancing" assertion
    val sync = SyncConfig("t", pk = "id", full = false,
      schema = Some(StructType(Seq(
        StructField("id", IntegerType), StructField("score", LongType)))))
    val cfg = PipelineConfig(Seq(sync), stateBuckets = Some(8),
      zoneMapCols = Seq("score"))
    // the refresh source of truth: the FULL id set — a mid-run rebuild
    // loads a superset of whatever the stream has applied, so counts stay
    // monotone under any interleaving
    import spark.implicits._
    val total = 100000
    val fullDf = spark.range(total.toLong)
      .select(col("id").cast("int").as("id"), (col("id") * 10L).as("score"))
    val source = new MemoryCdcSource(spark, snapshot = Map("t" -> fullDf))
    val pipe = new Pipeline(spark, cfg, source, sinkRoot)
    val statePath = s"$sinkRoot/t"

    def events(lo: Int, hi: Int): Seq[ChangeEvent] =
      (lo until hi).map { i =>
        ChangeEvent("create", "t", i.toLong,
          new java.sql.Timestamp(1700000000000L + i),
          s"""{"id": $i, "score": ${i * 10L}}""")
      }

    val q = pipe.start(s"$scratch/ckpt", Trigger.ProcessingTime(200L))
    try {
      // bootstrap: first batch through; stats visible (the first published
      // manifest version — stats ride the data commit itself)
      source.addEvents(events(0, 500): _*)
      def statsLive(): Boolean = ManifestStore.isManifestStore(spark, statePath)
      val bootDeadline = System.currentTimeMillis() + 120000L
      while ((!statsLive() || pipe.sinkState(sync).isEmpty) &&
          System.currentTimeMillis() < bootDeadline) Thread.sleep(200L)
      assert(statsLive(), "bootstrap stats never appeared")

      val out = new java.io.File(scratch, "reader.out")
      // PACE-ADAPTIVE reader window (r14, closing the last flake class of
      // this suite): the refresh gates below key on OBSERVED reader reads,
      // and any fixed window (32 s in r12, 90 s in r13) eventually starves
      // the second gate on a slow-enough host — this round's steal-heavy
      // sandbox ran each heal+pruned read in ~6 s and a 90 s window fit
      // only one refresh, failing the run on pacing, not correctness. The
      // reader now runs for AT LEAST minMs (keeps the ≥30 s concurrent-
      // window assertion meaningful) and then until the parent drops a
      // stop file — which it does only after BOTH refreshes landed and the
      // reader took two further reads over the post-refresh state — with a
      // maxMs hard bound so a wedged parent can never hang the child.
      val stopFile = new java.io.File(scratch, "reader.stop")
      val reader = spawn("graft.cdc.ConcurrentReaderMain",
        Seq(statePath, "35000", "300000", stopFile.getPath), out)
      try {
        // feed while the reader lives; two refresh rebuilds mid-stream,
        // GATED on observed reader progress — the child's Spark boot takes
        // 15-25 s, and a refresh before its first read loads the full
        // superset and flattens the "load advances under the reader" curve
        var next = 500
        var refreshes = 0
        var readsAtSecondRefresh = Int.MaxValue
        while (reader.isAlive &&
            System.currentTimeMillis() < bootDeadline + 360000L) {
          if (next < total) {
            source.addEvents(events(next, next + 250): _*)
            next += 250
          }
          val readsSeen = slurp(out).linesIterator.count(_.startsWith("READ "))
          if ((refreshes == 0 && readsSeen >= 5) ||
              (refreshes == 1 && readsSeen >= 12)) {
            val n = pipe.refresh(Seq("t"))("t")
            assert(n === total.toLong, s"refresh loaded $n of $total")
            refreshes += 1
            if (refreshes == 2) readsAtSecondRefresh = readsSeen
          }
          // both refreshes done and the reader has read the post-refresh
          // state at least twice: release the child
          if (refreshes == 2 && readsSeen >= readsAtSecondRefresh + 2 &&
              !stopFile.exists()) {
            stopFile.createNewFile(); ()
          }
          Thread.sleep(150L)
        }
        assert(refreshes == 2,
          s"only $refreshes refresh(es) ran inside the reader's window:\n" +
            slurp(out).takeRight(1500))
        assert(reader.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
          s"reader JVM hung; output:\n${slurp(out).takeRight(2000)}")
        val log = slurp(out)
        assert(reader.exitValue() === 0,
          s"reader died (exit ${reader.exitValue()}):\n${log.takeRight(3000)}")
        val reads = log.linesIterator.filter(_.startsWith("READ ")).toVector
        assert(reads.size >= 10, s"too few reader iterations:\n$log")
        // the reader self-asserts monotonicity (exit 2); re-derive here so
        // the spec's record doesn't rest on the child alone
        val counts = reads.map(_.split(' ')(2).toLong)
        assert(counts.zip(counts.tail).forall { case (a, b) => b >= a },
          s"row-count regression visible in the read log: $counts")
        assert(counts.last > counts.head,
          "the reader never observed the live load advancing")
        // ≥30 s of genuinely concurrent load (child-reported span)
        val done = log.linesIterator.find(_.startsWith("DONE "))
          .getOrElse(fail(s"no DONE line:\n$log")).split(' ')
        assert(done(1).toLong >= 30000L,
          s"concurrent window only ${done(1)} ms:\n$log")
        // THE r13 contract: immutable files + versioned manifest mean a
        // live writer can never delete a file a reader pinned — the one
        // retryable class of the bucket-dir layout must not occur at all
        assert(done(3).toLong === 0L,
          s"manifest layout must produce ZERO vanished-file retries:\n" +
            log.linesIterator.filter(_.startsWith("RETRY"))
              .mkString("\n"))
        assert(!log.contains("RETRY"),
          "manifest layout must produce zero RETRY lines")
      } finally { reader.destroyForcibly(); () }
    } finally {
      try q.stop() finally pipe.releaseLeases()
    }
  }
}

/** Reader-JVM main: loop a manifest-pruned read + exact count against
  * statePath args(0) for at least args(1) ms, then until the stop file
  * args(3) appears or args(2) ms elapse. Prints one `READ <i> <n>` line per
  * iteration; exits 1 on any crash, 2 on a count regression.
  *
  * A vanished-file failure (a pinned file deleted under the read) is
  * counted and printed as a RETRY rather than crashing, so the parent can
  * report every occurrence: under the manifest layout there must be none.
  * Every other exception class is fatal. */
object ConcurrentReaderMain {
  private def vanishedFile(e: Throwable): Boolean = {
    var t: Throwable = e
    while (t != null) {
      if (t.isInstanceOf[java.io.FileNotFoundException] ||
        Option(t.getMessage).exists(m => m.contains("FAILED_READ_FILE") ||
          m.contains("does not exist"))) return true
      t = t.getCause
    }
    false
  }

  def main(args: Array[String]): Unit = {
    // minMs: smallest window (keeps the parent's ≥30 s concurrent-load
    // assertion meaningful on fast hosts); stopPath: the parent's
    // "both refreshes observed" release signal; maxMs: hard bound so a
    // wedged parent can never hang this JVM (pace-adaptive window, r14)
    val Array(statePath, minMs, maxMs, stopPath) = args
    val spark = graft.GraftSession.get("local[2]", 2)
    val t0 = System.currentTimeMillis()
    val minDeadline = t0 + minMs.toLong
    val maxDeadline = t0 + maxMs.toLong
    val stopFile = new java.io.File(stopPath)
    def keepGoing(): Boolean = {
      val now = System.currentTimeMillis()
      now < minDeadline || (now < maxDeadline && !stopFile.exists())
    }
    var last = -1L
    var i = 0
    var retries = 0
    while (keepGoing()) {
      try {
        // the check-shaped read surface, cross-process: a manifest-pruned
        // count over a wide range
        val n = ManifestStore.prunedRead(spark, statePath, StructType(Nil),
          "score", 0L, Long.MaxValue / 2).count()
        println(s"READ $i $n")
        if (n < last) {
          println(s"REGRESS $last -> $n"); Console.out.flush()
          spark.stop(); sys.exit(2)
        }
        last = n
        i += 1
      } catch {
        case e: Throwable if vanishedFile(e) =>
          retries += 1
          println(s"RETRY $retries (pinned file vanished mid-read)")
        case e: Throwable =>
          println(s"READERR ${e.getClass.getName}: ${e.getMessage}")
          Console.out.flush()
          sys.exit(1)
      }
    }
    println(s"DONE ${System.currentTimeMillis() - t0} $i $retries")
    Console.out.flush()
    spark.stop()
  }
}
