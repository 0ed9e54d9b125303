package graft

import graft.cdc.{MemoryCdcSource, Pipeline, SinkTasks}
import graft.model.{PipelineConfig, SyncConfig}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** The reference's task-await surface (`meili.py:28,56-63`): every write
  * is a task the client awaits with `wait_for_task(timeout_in_ms)`. Here
  * the long-running blue/green refresh is the async task; the await
  * contract is: succeeded tasks return, failed tasks return WITH their
  * error, and a still-pending task past the deadline fails loud. */
class SinkTasksSpec extends SparkSpec {

  private val sync = SyncConfig("t", pk = "id",
    schema = Some(StructType.fromDDL("id INT, v STRING")))

  /** A default-config pipeline (one-bucket manifest sink) whose full scan
    * of table `t` is `snapshot`. */
  private def pipeline(sinkRoot: String, snapshot: DataFrame): Pipeline =
    new Pipeline(spark, PipelineConfig(Seq(sync)),
      new MemoryCdcSource(spark, Map("t" -> snapshot)), sinkRoot)

  /** A live sink at `sinkRoot` holding `snapshot`, published by a refresh. */
  private def seed(sinkRoot: String, snapshot: DataFrame): Unit = {
    val pipe = pipeline(sinkRoot, snapshot)
    try pipe.refresh() finally pipe.releaseLeases()
    ()
  }

  test("async refresh: the task id returns immediately, waitForTask " +
    "gathers it, and the rebuilt copy is swapped live") {
    import spark.implicits._
    val sinkRoot = tmpDir("sinktasks")
    seed(sinkRoot, Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val fresh = Seq((1, "a2"), (2, "b2"), (3, "c")).toDF("id", "v")
    val pipe = pipeline(sinkRoot, fresh)
    try {
      val ids = pipe.refreshAsync()
      assert(ids.keySet === Set("t"))
      val info = SinkTasks.waitForTask(ids("t"), timeoutMs = 120000)
      assert(info.status === "succeeded", info.toString)
    } finally pipe.releaseLeases()
    assert(pipe.sinkState(sync).orderBy("id").as[(Int, String)].collect()
      .toSeq === Seq((1, "a2"), (2, "b2"), (3, "c")))
  }

  test("waitForTask fails loud past the deadline, and a later wait on the " +
    "same task still succeeds (the task keeps running)") {
    val gate = new java.util.concurrent.CountDownLatch(1)
    val id = SinkTasks.submit("slow") { gate.await() }
    intercept[java.util.concurrent.TimeoutException] {
      SinkTasks.waitForTask(id, timeoutMs = 150)
    }
    assert(SinkTasks.status(id).pending)
    gate.countDown()
    assert(SinkTasks.waitForTask(id, timeoutMs = 5000).status === "succeeded")
  }

  test("the registry is bounded: settled tasks evict past the cap, " +
    "recent ones stay queryable") {
    val first = SinkTasks.submit("evict-probe") { () }
    SinkTasks.waitForTask(first, timeoutMs = 5000)
    // flood with tasks well past the 2x-cap eviction trigger, and SETTLE
    // them all (eviction only ever touches settled tasks)
    val ids = (1 to 2200).map(i => SinkTasks.submit(s"flood-$i") { () })
    // an EARLY flood task may itself be evicted mid-flood — eviction only
    // ever removes SETTLED tasks. Record which ids vanished and assert
    // they are all from the OLD half (review r11: a blanket catch assumed
    // the invariant under test — a regression evicting PENDING tasks
    // would vanish the most RECENT ids and be silently absorbed).
    val vanished = scala.collection.mutable.ArrayBuffer.empty[Int]
    ids.zipWithIndex.foreach { case (id, i) =>
      try { SinkTasks.waitForTask(id, timeoutMs = 10000); () }
      catch { case _: NoSuchElementException => vanished += i }
    }
    assert(vanished.forall(_ < ids.length / 2),
      s"evicted ids must be OLD (settled long ago), but recent indices " +
        s"vanished: ${vanished.filter(_ >= ids.length / 2).take(5)}")
    SinkTasks.submit("trigger") { () } // eviction runs on submit
    intercept[NoSuchElementException](SinkTasks.status(first))
    SinkTasks.status(ids.last) // the RECENT settled task stays queryable
  }

  test("a failed task returns its error through the await instead of " +
    "hanging or vanishing") {
    val id = SinkTasks.submit("boom") { sys.error("index exploded") }
    val info = SinkTasks.waitForTask(id, timeoutMs = 5000)
    assert(info.status === "failed")
    assert(info.error.exists(_.contains("index exploded")))
    intercept[NoSuchElementException](SinkTasks.status(-1L))
  }

  test("waitForTask with a no-timeout sentinel (Long.MaxValue) waits " +
    "instead of overflowing into an instant TimeoutException (r9 review)") {
    val gate = new java.util.concurrent.CountDownLatch(1)
    val id = SinkTasks.submit("sentinel-wait") { gate.await() }
    // release shortly after: if the ns conversion overflowed, the wait
    // would throw BEFORE the release fires
    new Thread(() => { Thread.sleep(300); gate.countDown() }).start()
    assert(SinkTasks.waitForTask(id, timeoutMs = Long.MaxValue)
      .status === "succeeded")
  }

  test("overlapping refreshes of one live path each stage in their own " +
    "dir: the survivor is a COMPLETE copy, never an interleaved mix " +
    "(r9 review)") {
    import spark.implicits._
    val sinkRoot = tmpDir("sinktasks-conc")
    seed(sinkRoot, Seq((1, "seed")).toDF("id", "v"))
    // two rebuilds with DISTINGUISHABLE contents, fired back-to-back; with
    // a shared .staging dir their writes interleaved and the swap could
    // install a mix of the two
    val pipeA = pipeline(sinkRoot, (1 to 50).map(i => (i, "A")).toDF("id", "v"))
    val pipeB = pipeline(sinkRoot, (1 to 80).map(i => (i, "B")).toDF("id", "v"))
    try {
      val ta = pipeA.refreshAsync()("t")
      val tb = pipeB.refreshAsync()("t")
      assert(SinkTasks.waitForTask(ta, timeoutMs = 120000).status === "succeeded")
      assert(SinkTasks.waitForTask(tb, timeoutMs = 120000).status === "succeeded")
    } finally { pipeA.releaseLeases(); pipeB.releaseLeases() }
    val live = pipeA.sinkState(sync)
    val vals = live.select("v").as[String].collect().toSet
    val n = live.count()
    assert(vals.size === 1, s"mixed copies swapped live: $vals")
    assert((vals.head == "A" && n == 50L) || (vals.head == "B" && n == 80L),
      s"live must be exactly one complete rebuild, got $vals with $n rows")
  }
}
