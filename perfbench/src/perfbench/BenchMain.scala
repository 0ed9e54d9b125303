package perfbench

import graft.GraftSession
import graft.cdc.{Pipeline, PluginHooks, SocketTailCdcSource, ManifestStore, OffsetWatermark}
import graft.model.{PipelineConfig, SyncConfig}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The system under test, driven through its public surface only: the
  * socket CDC source, `Pipeline.start/backfillIfNeeded/refresh/sinkState`,
  * `PluginHooks`, and Spark's query and scheduler listeners.
  *
  * Usage: `BenchMain --workload W --seed N --seconds S --trace 0|1
  * --dir RUN_DIR --cpus C`. The feed JVM must be serving and have written
  * `RUN_DIR/ctl/port`. Writes `RUN_DIR/result.json`. */
object BenchMain {
  private val RefreshReps = 3
  private val ReadSeconds = 3

  val schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("grp", LongType),
    StructField("score", LongType), StructField("name", StringType),
    StructField("note", StringType)))

  /** One committed micro-batch as the progress API reports it. */
  final case class Batch(id: Long, startMs: Long, endMs: Long, from: Long, to: Long,
                         rows: Long, latest: Option[Long], dur: Map[String, Long])

  final class ProgressLog extends StreamingQueryListener {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
    @volatile var committedTo = -1L
    @volatile var dataBatches = 0
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p: StreamingQueryProgress = e.progress
      val s = p.sources.headOption
      def off(j: String) = Option(j).filter(_ != "null").map(_.trim.toLong)
      val from = s.flatMap(x => off(x.startOffset)).getOrElse(-1L)
      val to = s.flatMap(x => off(x.endOffset)).getOrElse(-1L)
      if (to > from) {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        batches.add(Batch(p.batchId, start, start + dur.getOrElse("triggerExecution", 0L),
          from, to, p.numInputRows, s.flatMap(x => off(x.latestOffset)), dur))
        dataBatches += 1
        committedTo = math.max(committedTo, to)
      }
    }
  }

  final case class ReadRec(lo: Long, hi: Long, ms: Double, rows: Seq[String])

  def main(args: Array[String]): Unit = {
    // exit explicitly: a failed run must not linger on Spark's non-daemon threads
    val code = try { run(args); 0 } catch { case t: Throwable => t.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toInt
    val traced = o("trace") == "1"
    val dir = Paths.get(o("dir")).toAbsolutePath
    val cpus = o("cpus").toInt
    val spec = Workloads.spec(workload, seconds)
    val ctl = dir.resolve("ctl")
    val data = dir.resolve("data").toString
    val info = mutable.LinkedHashMap[String, Any]()

    val tSession = System.nanoTime()
    val spark = GraftSession.get(s"local[$cpus]", shufflePartitions = cpus)
    val sessionS = secs(tSession)

    // data generation: the source table (not part of set-up time)
    val tableDir = s"$data/tables"
    writeTable(spark, tableDir, (0L until spec.shape.initRows).iterator
      .map(k => Gen.initialRow(seed, k)), spec.shape.initRows)
    val port = Io.await(ctl.resolve("port")).trim.toInt

    val sync = SyncConfig(Gen.Table, pk = "id", full = true, schema = Some(schema))
    val config = PipelineConfig(Seq(sync), stateBuckets = Some(16), manifestSink = true)
    val sinkRoot = s"$data/sink"
    val statePath = s"$sinkRoot/${sync.indexName}"
    val ckpt = s"$data/ckpt"
    val probe = new FileProbe(OffsetWatermark.path(statePath))
    val hooks =
      if (traced) PluginHooks(postBatch = Seq((_: String, b: Long) => probe.record(b)))
      else PluginHooks()
    val source = new SocketTailCdcSource(spark, s"localhost:$port", tableDir,
      spec.maxEventsPerTrigger)
    val pipeline = new Pipeline(spark, config, source, sinkRoot, hooks)
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val trace = if (traced) Some(new Trace(spark)) else None
    trace.foreach(_.start())

    val reads = mutable.ArrayBuffer.empty[ReadRec]
    val readRnd = new java.util.SplittableRandom(Gen.mix(seed ^ 0xBEEFL))

    // ---- set-up: bootstrap backfill, then the query ----
    val tSetup = System.nanoTime()
    pipeline.backfillIfNeeded()
    val tStartMs = System.currentTimeMillis()
    val q = pipeline.start(ckpt,
      if (spec.rate > 0) Trigger.ProcessingTime(0L) else Trigger.AvailableNow())
    val startS = secs(tSetup)
    val startedMs = System.currentTimeMillis()
    def alive(): Unit = q.exception.foreach(e => throw e)

    // ---- warm phase: the first batch takes the preload cold ----
    awaitCond(180000L, "the warm batch") { alive(); progress.dataBatches >= 1 || !q.isActive }
    val warmEnd = progress.batches.asScala.minBy(_.id).endMs
    val warmS = (warmEnd - startedMs) / 1000.0
    Io.writeAtomic(ctl.resolve("go"), System.currentTimeMillis().toString)

    // ---- measured window ----
    if (spec.rate > 0) {
      Thread.sleep(seconds * 1000L)
      Io.writeAtomic(ctl.resolve("halt"), "")
    } else q.awaitTermination()
    val gen = parseFlat(Io.await(ctl.resolve("gen.json")))
    val nEvents = gen("events").toLong
    awaitCond(120000L, s"the query to commit all $nEvents events") { alive(); progress.committedTo >= nEvents - 1 }
    if (q.isActive) q.stop()
    pipeline.releaseLeases()
    trace.foreach(_.stop())

    // ---- reads: one closed-loop client on the synced sink ----
    val readsUntil = System.nanoTime() + (ReadSeconds * 1e9).toLong
    while (System.nanoTime() < readsUntil) reads += read(pipeline, sync, readRnd, spec.shape.keySpace, reads.size)

    // ---- correctness: replay every committed batch, compare ----
    val events = WireEvent.fetch(port, 0, nEvents - 1)
    Io.writeAtomic(ctl.resolve("stop"), "")
    val batches = progress.batches.asScala.toSeq.sortBy(_.id)
    val replay = new Replay((0L until spec.shape.initRows).iterator.map(k => Gen.initialRow(seed, k)))
    val batchKeys = mutable.ArrayBuffer.empty[(Long, Long)]
    batches.foreach(b => batchKeys += replay.applyBatch(events.iterator.slice((b.from + 1).toInt, (b.to + 1).toInt)))
    val (sinkN, sinkSum) = digest(pipeline.sinkState(sync))
    val expN = replay.state.size.toLong
    val expSum = replay.state.values.asScala.map(Replay.crc).sum
    val deadPath = pipeline.deadLetterPath(sync)
    val sinkDead =
      if (Files.exists(Paths.get(deadPath))) spark.read.parquet(deadPath).count() else 0L
    val synced = events.count(_.table == Gen.Table)
    var eventsFailed = 0L
    if (sinkN != expN || sinkSum != expSum) {
      val bad = diffKeys(pipeline.sinkState(sync), replay)
      eventsFailed = events.count(e => e.table == Gen.Table && (FlatJson.parse(e.data) match {
        case Left(m) => m.get("id").exists(k => bad.contains(k.asInstanceOf[Long]))
        case Right(ms) => ms.exists(_.get("id").exists(k => bad.contains(k.asInstanceOf[Long])))
      }))
      info("mismatched_keys") = bad.size
    }
    eventsFailed += math.abs(sinkDead - replay.deadLetters)
    val readsFailed = reads.count(r => expectedRead(replay, r) != r.rows).toLong
    info("compaction_diff_keys") = replay.compactionDiffKeys
    info("dead_letters") = sinkDead

    // live state footprint
    val manifest = ManifestStore.currentManifest(spark, statePath).get
    val liveFiles = manifest.buckets.values.toSeq.flatMap(b => listFiles(Paths.get(statePath, b.relDir)))
    val wmBytes = dirBytes(Paths.get(OffsetWatermark.path(statePath)))
    val stateBytesPerRow = (liveFiles.map(_._2).sum + wmBytes).toDouble / math.max(1L, sinkN)
    val sinkLayer = if (traced) Some(sinkHistory(spark, statePath, tStartMs)) else None

    // ---- rebuilds, on the warm JVM: each must equal the source table ----
    val tableDigest = (spec.shape.initRows,
      (0L until spec.shape.initRows).iterator.map(k => Replay.crc(Gen.initialRow(seed, k))).sum)
    val refreshTimes = (1 to RefreshReps).map { _ =>
      val t = System.nanoTime(); pipeline.refresh(); secs(t)
    }
    val refreshFailed = if (digest(pipeline.sinkState(sync)) == tableDigest) 0L else 1L
    pipeline.releaseLeases()

    // ---- end-to-end metrics ----
    val post = batches.filter(_.endMs > warmEnd)
    require(post.nonEmpty, "no batch committed after the warm phase")
    val fresh = mutable.ArrayBuffer.empty[Double]
    // an event counts from its due time, or from the end of the warm phase
    // if it was due earlier (a pre-loaded backlog)
    post.foreach { b =>
      var off = b.from + 1
      while (off <= b.to) {
        fresh += (b.endMs - math.max(events(off.toInt).tsMs, warmEnd)) / 1000.0
        off += 1
      }
    }
    val postEvents = post.map(b => b.to - b.from).sum
    val eventsPerS = postEvents / ((post.last.endMs - warmEnd) / 1000.0)
    val readMs = reads.map(_.ms)
    val m = mutable.LinkedHashMap[String, (Double, String)]()
    m("setup_s") = (sessionS + startS + warmS, "s")
    m("freshness_p50_s") = (pct(fresh, 0.5), "s")
    m("freshness_p99_s") = (pct(fresh, 0.99), "s")
    m("events_per_s") = (eventsPerS, "1/s")
    m("refresh_s") = (pct(refreshTimes, 0.5), "s")
    m("read_p50_ms") = (pct(readMs, 0.5), "ms")
    m("state_bytes_per_row") = (stateBytesPerRow, "B")
    info("samples") = Map("freshness" -> fresh.size, "reads" -> readMs.size,
      "refresh" -> refreshTimes.size, "batches" -> post.size)
    info("events_failed_frac") = eventsFailed.toDouble / math.max(1, synced)
    info("reads_failed_frac") = readsFailed.toDouble / math.max(1, reads.size)
    info("refresh_matches_table") = refreshFailed == 0
    info("setup_parts_s") = Map("session" -> sessionS, "start" -> startS, "warm" -> warmS)
    // about ten reads: the median is the only percentile with ten samples beyond it
    info("read_p90_ms") = pct(readMs, 0.9)
    info("add_batch_ms_p50") = pct(post.map(_.dur.getOrElse("addBatch", 0L).toDouble), 0.5)
    info("generator") = gen
    info("batches") = batches.map(b => s"${b.id}:${b.to - b.from}ev/${b.dur.getOrElse("triggerExecution", 0L)}ms").mkString(" ")

    trace.foreach { t =>
      layerMetrics(t, m, post, batches, batchKeys.toSeq, gen, sinkLayer.get, probe, liveFiles.size,
        dirBytes(Paths.get(ckpt)), dirBytes(Paths.get(deadPath)), sinkDead)
    }

    val failed = eventsFailed + readsFailed + refreshFailed
    val attempted = synced.toLong + reads.size + RefreshReps
    writeResult(dir.resolve("result.json"), failed == 0, attempted, failed, m, info)
    spark.streams.removeListener(progress)
    spark.stop()
  }

  // ---------------------------------------------------------------------

  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      // linear interpolation between closest ranks
      val r = p * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  private def awaitCond(timeoutMs: Long, what: String)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > deadline) throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(5)
    }
  }

  private def parseFlat(s: String): Map[String, String] =
    s.trim.stripPrefix("{").stripSuffix("}").split(",").map { kv =>
      val Array(k, v) = kv.split(":", 2); k.trim.stripPrefix("\"").stripSuffix("\"") -> v.trim
    }.toMap

  def writeTable(spark: SparkSession, tableDir: String, rows: Iterator[Array[Any]], n: Long): Unit = {
    val list = new java.util.ArrayList[Row](n.toInt)
    rows.foreach(r => list.add(Row.fromSeq(r.toSeq)))
    spark.createDataFrame(list, schema).repartition(4)
      .write.mode("overwrite").parquet(s"$tableDir/${Gen.Table}.parquet")
  }

  private def rowDigest = crc32(concat_ws("|",
    Gen.Fields.map(f => coalesce(col(f).cast("string"), lit("\\N"))): _*))

  /** (rows, sum of row CRCs) of a state; matches [[Replay.crc]]. */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(rowDigest), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Keys whose sink row differs from the replay (only run on a mismatch). */
  private def diffKeys(df: DataFrame, replay: Replay): Set[Long] = {
    val sink = df.select(col("id"), rowDigest.as("h")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exp = replay.state.asScala.map { case (k, r) => k.longValue -> Replay.crc(r) }.toMap
    (sink.keySet ++ exp.keySet).filter(k => sink.get(k) != exp.get(k)).toSet
  }

  private def rowLines(rows: Array[Row]): Seq[String] =
    rows.map(r => Replay.rowLine(Gen.Fields.map(f => r.getAs[Any](f)).toArray)).toSeq.sorted

  /** One closed-loop read: 9 pk point lookups for every range scan. */
  private def read(p: Pipeline, sync: SyncConfig, rnd: java.util.SplittableRandom,
                   keySpace: Long, i: Int): ReadRec = {
    val range = i % 10 == 9
    val lo = (rnd.nextLong() & Long.MaxValue) % keySpace
    val hi = if (range) lo + 99 else lo
    val n0 = System.nanoTime()
    val rows = p.sinkState(sync).filter(col("id").between(lo, hi)).collect()
    ReadRec(lo, hi, (System.nanoTime() - n0) / 1e6, rowLines(rows))
  }

  private def expectedRead(replay: Replay, r: ReadRec): Seq[String] =
    replay.state.subMap(r.lo, true, r.hi, true).values.asScala.map(Replay.rowLine).toSeq.sorted

  def listFiles(d: Path): Seq[(String, Long)] =
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.walk(d)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toSeq
      finally s.close()
    }

  def dirBytes(d: Path): Long = listFiles(d).map(_._2).sum

  /** Bytes newly written under a directory, recorded after every batch. */
  final class FileProbe(dir: String) {
    private var seen = Map.empty[String, Long]
    val written = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
    def record(batch: Long): Unit = synchronized {
      val now = listFiles(Paths.get(dir)).toMap
      written.merge(batch, now.collect { case (f, n) if !seen.get(f).contains(n) => n }.sum, _ + _)
      seen = now
    }
  }

  final case class SinkLayer(bucketsTouched: Seq[Double], rowsRewritten: Long, bytesWritten: Long)

  /** Per-commit sink work, from the retained manifest history: the buckets
    * whose directory a commit replaced, their rows and their new bytes. */
  private def sinkHistory(spark: SparkSession, statePath: String, streamStartMs: Long): SinkLayer = {
    val hist = ManifestStore.history(spark, statePath)
    val versions = hist.map(_._1)
    val touched = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    var bytes = 0L
    versions.sliding(2).foreach {
      case Seq(a, b) if hist.find(_._1 == b).exists(_._2 >= streamStartMs) =>
        val ma = ManifestStore.manifestAt(spark, statePath, a)
        val mb = ManifestStore.manifestAt(spark, statePath, b)
        val changed = mb.buckets.filter { case (k, e) => !ma.buckets.get(k).exists(_.relDir == e.relDir) }
        touched += changed.size
        rows += changed.values.map(_.nRows).sum
        bytes += changed.values.map(e => dirBytes(Paths.get(statePath, e.relDir))).sum
      case _ => ()
    }
    SinkLayer(touched.toSeq, rows, bytes)
  }

  private def layerMetrics(t: Trace, m: mutable.LinkedHashMap[String, (Double, String)],
                           post: Seq[Batch], all: Seq[Batch], keys: Seq[(Long, Long)],
                           gen: Map[String, String], sink: SinkLayer, probe: FileProbe,
                           files: Int, ckptBytes: Long, deadBytes: Long, deadRows: Long): Unit = {
    val samples = t.samples.asScala.toIndexedSeq.sortBy(_.t)
    val stream = samples.filter(!_.task)
    val jobs = t.jobs.values.asScala.toSeq
    val jobModule = jobs.map(j => j.id -> t.jobModule(j, stream)).toMap
    def inBatch(b: Batch)(s: Trace.Sample) = s.t >= b.startMs && s.t <= b.endMs
    def sampledMs(module: String, task: Boolean, addOnly: Boolean) = post.map { b =>
      samples.filter(s => s.task == task && s.module == module && (!addOnly || s.inAddBatch) && inBatch(b)(s))
        .map(_.w).sum
    }
    def med(xs: Seq[Double]) = pct(xs, 0.5)
    def dur(k: String) = med(post.map(_.dur.getOrElse(k, 0L).toDouble))
    def jobsOf(module: String) = med(post.map(b => jobs.count(j => j.batch == b.id && jobModule(j.id) == module).toDouble))
    val postIdx = post.map(b => all.indexWhere(_.id == b.id))
    val events = post.map(b => (b.to - b.from).toDouble).sum

    m("sources.latest_offset_ms") = (dur("latestOffset"), "ms")
    m("sources.lag_events_p99") = (pct(post.flatMap(b => b.latest.map(l => (l - b.to).toDouble)), 0.99), "count")
    m("sources.rows_per_batch") = (med(post.map(_.rows.toDouble)), "count")
    m("sources.task_ms") = (med(sampledMs(Trace.Sources, task = true, addOnly = false)), "ms")

    val addBatch = dur("addBatch")
    m("pipeline.add_batch_ms") = (addBatch, "ms")
    val modMs = Seq(Trace.PipelineM, Trace.Sink, Trace.Watermark, Trace.Lease, Trace.OtherGraft, Trace.Harness)
      .map(mod => mod -> med(sampledMs(mod, task = false, addOnly = true))).toMap
    m("pipeline.self_ms") = (modMs(Trace.PipelineM), "ms")
    m("pipeline.jobs") = (jobsOf(Trace.PipelineM), "count")
    m("pipeline.dead_letter_rows") = (deadRows.toDouble, "count")
    m("pipeline.dead_letter_bytes") = (deadBytes.toDouble, "B")
    m("pipeline.compaction_ratio") = (med(postIdx.map(i => keys(i)._2.toDouble / math.max(1L, keys(i)._1))), "ratio")

    m("sink.ms") = (modMs(Trace.Sink), "ms")
    m("sink.jobs") = (jobsOf(Trace.Sink), "count")
    m("sink.buckets_touched") = (med(sink.bucketsTouched), "count")
    m("sink.rows_rewritten_per_changed_row") =
      (sink.rowsRewritten.toDouble / math.max(1L, keys.map(_._2).sum), "ratio")
    m("sink.bytes_written_per_event") = (sink.bytesWritten.toDouble / math.max(1L, all.map(b => b.to - b.from).sum), "B")
    m("sink.files") = (files.toDouble, "count")

    m("watermark.ms") = (modMs(Trace.Watermark), "ms")
    m("watermark.jobs") = (jobsOf(Trace.Watermark), "count")
    val wmBytes = post.map(b => Option(probe.written.get(b.id)).map(_.longValue).getOrElse(0L)).sum
    m("watermark.bytes_written_per_event") = (wmBytes / math.max(1.0, events), "B")

    m("lease.ms") = (modMs(Trace.Lease), "ms")

    m("checkpoint.wal_commit_ms") = (dur("walCommit"), "ms")
    m("checkpoint.commit_offsets_ms") = (dur("commitOffsets"), "ms")
    m("checkpoint.bytes") = (ckptBytes.toDouble, "B")

    def batchCount(b: Batch, f: t.BatchCounts => Long) =
      Option(t.perBatch.get(b.id)).map(f).getOrElse(0L).toDouble
    m("engine.jobs_per_batch") = (med(post.map(b => jobs.count(_.batch == b.id).toDouble)), "count")
    m("engine.stages_per_batch") = (med(post.map(batchCount(_, _.stages.get))), "count")
    m("engine.tasks_per_batch") = (med(post.map(batchCount(_, _.tasks.get))), "count")
    m("engine.driver_gap_ms") = (med(post.map { b =>
      val iv = jobs.filter(_.batch == b.id).map(j => (j.start, math.max(j.start, j.end))).sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      math.max(0.0, b.dur.getOrElse("addBatch", 0L) - covered.toDouble)
    }), "ms")
    m("engine.shuffle_write_bytes") = (med(post.map(batchCount(_, _.shuffleWrite.get))), "B")
    m("engine.spill_bytes") = (post.map(batchCount(_, _.spill.get)).sum, "B")
    val heapPeak = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    m("engine.heap_peak_mb") = (heapPeak / 1048576.0, "MB")

    m("harness.generator_late_p99_ms") = (gen("late_p99_ms").toDouble, "ms")
    m("harness.addbatch_coverage_frac") = (modMs.values.sum / math.max(1e-9, addBatch), "ratio")
  }

  private def jsonValue(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => jsonValue(k.toString) + ":" + jsonValue(x) }.mkString("{", ",", "}")
    case b: Boolean => b.toString
    case n: Number => n.toString
    case other => jsonValue(other.toString)
  }

  private def writeResult(p: Path, correct: Boolean, attempted: Long, failed: Long,
                          m: collection.Map[String, (Double, String)],
                          info: collection.Map[String, Any]): Unit = {
    val metrics = m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    Io.writeAtomic(p, jsonValue(Map("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics, "info" -> info)))
  }
}
