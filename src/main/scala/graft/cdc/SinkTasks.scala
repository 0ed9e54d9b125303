package graft.cdc

import org.apache.spark.sql.DataFrame

/** Async sink-task surface — the reference's every-write-is-a-task model
  * (`meili.py:20-70`): Meilisearch acknowledges a write by returning a
  * TASK id; the client awaits it with `wait_for_task(timeout_in_ms =
  * wait_for_task_timeout)` (`meili.py:28,56-63`), and the refresh path
  * fires many data tasks and gathers them before the swap. Our parquet
  * micro-batch writes commit synchronously (the sink IS the commit), but
  * the blue/green refresh is genuinely long-running — so it is the async
  * task here, with the same await-with-timeout contract: a timeout is an
  * ERROR (the caller's data isn't queryable), while a FAILED task returns
  * with its error so the caller decides. */
object SinkTasks {
  final case class TaskInfo(id: Long, name: String, status: String,
                            error: Option[String]) {
    def pending: Boolean = status == "enqueued" || status == "processing"
  }

  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)
  private val tasks =
    new java.util.concurrent.ConcurrentHashMap[Long, TaskInfo]()
  // bounded retention: a long-running pipeline fires a task per refresh,
  // and a registry that only grows is a slow leak — evict the OLDEST
  // SETTLED tasks past the cap (pending ones are never evicted; the
  // reference's task list is likewise finite, served with paging)
  private val RetainSettled = 1024

  // highest task id ever evicted: status() distinguishes "settled and
  // evicted from the bounded registry" from "never existed" (review r11 —
  // a caller polling a long-settled refresh got an unexplained
  // no-such-task instead of the actionable message)
  @volatile private var evictedMax = 0L

  private def evictSettled(): Unit =
    if (tasks.size > 2 * RetainSettled) tasks.synchronized {
      val settled = scala.jdk.CollectionConverters
        .CollectionHasAsScala(tasks.values()).asScala
        .filterNot(_.pending).toSeq.sortBy(_.id)
      settled.dropRight(RetainSettled).foreach { t =>
        evictedMax = math.max(evictedMax, t.id)
        tasks.remove(t.id)
      }
    }

  /** Run `work` on a daemon thread; returns the task id immediately (the
    * task_uid the reference's client hands back on every write). */
  def submit(name: String)(work: => Unit): Long = {
    evictSettled()
    val id = ids.incrementAndGet()
    tasks.put(id, TaskInfo(id, name, "enqueued", None))
    val t = new Thread(() => {
      tasks.put(id, TaskInfo(id, name, "processing", None))
      try {
        work
        tasks.put(id, TaskInfo(id, name, "succeeded", None))
      } catch {
        case e: Throwable =>
          tasks.put(id, TaskInfo(id, name, "failed", Some(e.toString)))
      }
    }, s"graft-sink-task-$id")
    t.setDaemon(true)
    t.start()
    id
  }

  def status(id: Long): TaskInfo = Option(tasks.get(id)).getOrElse {
    if (id <= evictedMax && id > 0)
      throw new NoSuchElementException(
        s"sink task $id settled and was evicted from the bounded registry " +
          s"(RetainSettled=$RetainSettled) — poll sooner, or raise the cap")
    throw new NoSuchElementException(s"no sink task $id")
  }

  /** `wait_for_task(timeout_in_ms)`: poll until the task leaves the
    * pending states or the deadline passes; past the deadline, fail loud
    * with [[java.util.concurrent.TimeoutException]]. */
  def waitForTask(id: Long, timeoutMs: Long, pollMs: Long = 25L): TaskInfo = {
    // clamp: timeoutMs near Long.MaxValue (a "no timeout" sentinel) would
    // overflow the ns conversion into a past deadline and time out a
    // healthy task immediately (r9 review)
    val timeoutNanos =
      if (timeoutMs > Long.MaxValue / 1000000L) Long.MaxValue
      else timeoutMs * 1000000L
    val start = System.nanoTime()
    var s = status(id)
    while (s.pending && System.nanoTime() - start < timeoutNanos) {
      Thread.sleep(pollMs)
      s = status(id)
    }
    if (s.pending)
      throw new java.util.concurrent.TimeoutException(
        s"sink task $id (${s.name}) still ${s.status} after $timeoutMs ms")
    s
  }
}

/** S5 + `check` command: consistency verification (reference
  * `main.py:179-208` compares two scalar counts). We keep the count check
  * and add the content-level diff the reference lacks (SURVEY.md §2.2 set
  * ops): an `EXCEPT`-based row diff in both directions. */
object ConsistencyCheck {

  final case class Result(sourceCount: Long, sinkCount: Long,
                          missingInSink: Long, extraInSink: Long) {
    def ok: Boolean = sourceCount == sinkCount && missingInSink == 0 && extraInSink == 0
  }

  def countCheck(source: DataFrame, sink: DataFrame): Boolean =
    source.count() == sink.count()

  /** Full check: counts plus row-level except-diff (columns must align). */
  def check(source: DataFrame, sink: DataFrame): Result = {
    val cols = source.columns.toSeq
    val sink2 = sink.select(cols.map(org.apache.spark.sql.functions.col): _*)
    Result(
      sourceCount = source.count(),
      sinkCount = sink2.count(),
      missingInSink = source.exceptAll(sink2).count(),
      extraInSink = sink2.exceptAll(source).count()
    )
  }
}
