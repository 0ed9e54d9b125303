package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** The traced run's instruments: a `SparkListener` that keys jobs, stages and
  * tasks on the streaming batch id, and a stack sampler that attributes the
  * stream-execution thread's and the task threads' time to this repo's
  * modules.
  *
  * Every job a micro-batch runs carries the call site `start at Pipeline`
  * (the stream thread pins it), so jobs cannot be split by call site; a job
  * is credited instead to the module the stream thread's samples name while
  * the job runs. A sample is credited to the innermost `graft.*` frame on the
  * stack, so time blocked in a Spark action counts toward the module that
  * called the action. */
final class Trace(spark: SparkSession, intervalMs: Long = 5L) {
  import Trace._

  final class Job(val id: Int, val batch: Long, val start: Long) {
    @volatile var end: Long = -1L
  }
  final class BatchCounts {
    val stages = new java.util.concurrent.atomic.AtomicLong()
    val tasks = new java.util.concurrent.atomic.AtomicLong()
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong()
    val spill = new java.util.concurrent.atomic.AtomicLong()
  }
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageBatch = new ConcurrentHashMap[Int, java.lang.Long]()
  val perBatch = new ConcurrentHashMap[Long, BatchCounts]()
  private def counts(b: Long) = perBatch.computeIfAbsent(b, _ => new BatchCounts)

  private def batchOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .map(_.toLong).getOrElse(-1L)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val b = batchOf(e.properties)
      jobs.put(e.jobId, new Job(e.jobId, b, e.time))
      e.stageIds.foreach(s => stageBatch.put(s, b))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val b = batchOf(e.properties)
      stageBatch.put(e.stageInfo.stageId, b)
      if (b >= 0) counts(b).stages.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val b = Option(stageBatch.get(e.stageId)).map(_.longValue).getOrElse(-1L)
      if (b >= 0) {
        val c = counts(b)
        c.tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    }
  }

  val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
  @volatile private var running = true

  private val sampler = new Thread(() => {
    var threads: Seq[Thread] = Seq.empty
    var lastScan = 0L
    var last = System.nanoTime()
    while (running) {
      val now = System.nanoTime()
      if (now - lastScan > 200000000L) {
        lastScan = now
        threads = Thread.getAllStackTraces.keySet.asScala.toSeq.filter { t =>
          val n = t.getName
          n.startsWith("stream execution thread") || n.startsWith("Executor task launch worker")
        }
      }
      val w = (now - last) / 1e6
      last = now
      val wall = System.currentTimeMillis()
      threads.foreach { t =>
        val st = t.getStackTrace
        val task = !t.getName.startsWith("stream execution thread")
        // a parked task worker is idle, not working for any module
        if (st.nonEmpty && !(task && idleWorker(st))) {
          val inAdd = !task && st.exists(f =>
            f.getMethodName == "addBatch" && f.getClassName.endsWith("ForeachBatchSink"))
          samples.add(Sample(wall, w, task, classify(st), inAdd))
        }
      }
      Thread.sleep(intervalMs)
    }
  }, "perfbench-sampler")
  sampler.setDaemon(true)

  def start(): Unit = { spark.sparkContext.addSparkListener(listener); sampler.start() }

  def stop(): Unit = {
    running = false
    sampler.join(2000)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Module of a finished job: the module most of the stream thread's
    * samples during the job name, else the sample nearest its start. */
  def jobModule(j: Job, streamSamples: IndexedSeq[Sample]): String = {
    val end = if (j.end < 0) j.start else j.end
    val inside = streamSamples.filter(s => s.t >= j.start && s.t <= end)
    if (inside.nonEmpty) inside.groupBy(_.module).maxBy(_._2.size)._1
    else if (streamSamples.isEmpty) Engine
    else streamSamples.minBy(s => math.abs(s.t - j.start)).module
  }
}

object Trace {
  val Sources = "sources"; val PipelineM = "pipeline"; val Sink = "sink"
  val Watermark = "watermark"; val Lease = "lease"; val Engine = "engine"
  val Harness = "harness"; val OtherGraft = "other"

  /** One stack sample: wall time (ms), weight (ms), thread kind, module,
    * and whether the stream thread was inside the sink's `addBatch`. */
  final case class Sample(t: Long, w: Double, task: Boolean, module: String, inAddBatch: Boolean)

  private def idleWorker(st: Array[StackTraceElement]): Boolean =
    st.exists(f => f.getClassName.startsWith("java.util.concurrent.ThreadPoolExecutor") &&
      f.getMethodName == "getTask")

  def moduleOf(className: String): Option[String] = {
    val c = className.takeWhile(_ != '$')
    if (c.startsWith("perfbench.")) Some(Harness)
    else if (c.startsWith("graft.sources.")) Some(Sources)
    else if (c.startsWith("graft.cdc.")) c.stripPrefix("graft.cdc.") match {
      case "Pipeline" | "Transforms" | "EnvelopeDecoders" | "PluginHooks" => Some(PipelineM)
      case "BucketedUpsertSink" | "ManifestStore" | "UpsertSink" => Some(Sink)
      case "OffsetWatermark" => Some(Watermark)
      case "DriverLease" | "StateCommit" => Some(Lease)
      case _ => Some(OtherGraft)
    }
    else if (c.startsWith("graft.ops.Maintenance")) Some(Sink)
    else if (c.startsWith("graft.")) Some(OtherGraft)
    else None
  }

  /** Innermost repo frame's module; harness frames anywhere win (the trace's
    * own hook is not the program's time); no repo frame means Spark itself. */
  def classify(st: Array[StackTraceElement]): String = {
    if (st.exists(_.getClassName.startsWith("perfbench."))) Harness
    else st.iterator.flatMap(f => moduleOf(f.getClassName)).nextOption().getOrElse(Engine)
  }
}
