package graft

import graft.cdc._
import graft.model._
import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Crash-and-resume over the live-connector seam: each of the three wire
  * formats (wal2json, mysql-binlog, mongo change stream) replays a captured
  * feed through the full `start` path, gets killed mid-stream with its
  * newest commit marker erased (the Spark definition of a crash inside the
  * batch window: the batch's effects may have landed but the commit never
  * did), resumes from the checkpoint, and must converge to exactly the
  * uninterrupted run's sink state. This is the reference's restart-
  * with-backoff contract (mysql.py:127-129, progress re-read on boot
  * main.py:84-101) expressed as Spark checkpoint recovery + idempotent
  * batch replay.
  *
  * The event sequence interleaves inserts, updates (partial for mongo) and
  * deletes across six single-message files — six micro-batches at
  * maxFilesPerTrigger=1 — so the kill point lands strictly between applied
  * state transitions, not after a single bulk load.
  */
class WireReplaySpec extends SparkSpec {

  private val sync = SyncConfig("test", pk = "id", schema = Some(StructType(Seq(
    StructField("id", IntegerType), StructField("age", IntegerType)))))

  private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")

  private def writeFeed(dir: String, messages: Seq[String]): Unit = {
    new java.io.File(dir).mkdirs()
    // strictly increasing mtimes: FileStreamSource admits files in
    // modification-time order, and six files written in the same
    // millisecond tie — a real replication feed arrives over time, so the
    // deterministic stand-in staggers the clock, not the content
    val base = System.currentTimeMillis() - 60000
    messages.zipWithIndex.foreach { case (m, i) =>
      val p = java.nio.file.Paths.get(f"$dir/m$i%03d.jsonl")
      java.nio.file.Files.write(p,
        s"""{"offset": ${i + 1}, "data": "${esc(m)}"}""".getBytes("UTF-8"))
      assert(p.toFile.setLastModified(base + i * 1000L))
    }
  }

  // the same logical change sequence in each connector's wire shape:
  // ins (1,10)+(2,20) | ins (3,30) | upd 1->11 | del 2 | ins (4,40) | upd 3->31
  private val expected = Seq(Row(1, 11), Row(3, 31), Row(4, 40))

  private val wal2jsonFeed = Seq(
    """{"change":[{"kind":"insert","schema":"public","table":"test","columnnames":["id","age"],"columnvalues":[1,10]},{"kind":"insert","schema":"public","table":"test","columnnames":["id","age"],"columnvalues":[2,20]}],"nextlsn":"0/1"}""",
    """{"change":[{"kind":"insert","schema":"public","table":"test","columnnames":["id","age"],"columnvalues":[3,30]}],"nextlsn":"0/2"}""",
    """{"change":[{"kind":"update","schema":"public","table":"test","columnnames":["id","age"],"columnvalues":[1,11]}],"nextlsn":"0/3"}""",
    """{"change":[{"kind":"delete","schema":"public","table":"test","oldkeys":{"keynames":["id"],"keyvalues":[2]}}],"nextlsn":"0/4"}""",
    """{"change":[{"kind":"insert","schema":"public","table":"test","columnnames":["id","age"],"columnvalues":[4,40]}],"nextlsn":"0/5"}""",
    """{"change":[{"kind":"update","schema":"public","table":"test","columnnames":["id","age"],"columnvalues":[3,31]}],"nextlsn":"0/6"}""")

  private val mysqlFeed = Seq(
    """{"schema":"d","table":"test","type":"write","rows":[{"values":{"id":1,"age":10}},{"values":{"id":2,"age":20}}]}""",
    """{"schema":"d","table":"test","type":"write","rows":[{"values":{"id":3,"age":30}}]}""",
    """{"schema":"d","table":"test","type":"update","rows":[{"before_values":{"id":1,"age":10},"after_values":{"id":1,"age":11}}]}""",
    """{"schema":"d","table":"test","type":"delete","rows":[{"values":{"id":2,"age":20}}]}""",
    """{"schema":"d","table":"test","type":"write","rows":[{"values":{"id":4,"age":40}}]}""",
    """{"schema":"d","table":"test","type":"update","rows":[{"before_values":{"id":3,"age":30},"after_values":{"id":3,"age":31}}]}""")

  // mongo updates are PARTIAL (updatedFields + key) — the presence-mask
  // merge path runs under crash/replay here, not just in UpsertSinkSpec
  private val mongoFeed = Seq(
    """{"operationType":"insert","ns":{"db":"d","coll":"test"},"fullDocument":{"id":1,"age":10}}""",
    """{"operationType":"insert","ns":{"db":"d","coll":"test"},"fullDocument":{"id":2,"age":20}}""",
    """{"operationType":"update","ns":{"db":"d","coll":"test"},"updateDescription":{"updatedFields":{"age":11}},"documentKey":{"id":1}}""",
    """{"operationType":"delete","ns":{"db":"d","coll":"test"},"documentKey":{"id":2}}""",
    """{"operationType":"insert","ns":{"db":"d","coll":"test"},"fullDocument":{"id":3,"age":30}}""",
    """{"operationType":"update","ns":{"db":"d","coll":"test"},"updateDescription":{"updatedFields":{"age":31}},"documentKey":{"id":3}}""")

  // mongo's sequence differs (inserts are single-document): its final state
  private val mongoExpected = Seq(Row(1, 11), Row(3, 31))

  // the same sequence in Debezium's envelope (single-row events like mongo;
  // mixes the flat and payload-wrapped forms a mixed-producer feed carries)
  private val debeziumFeed = Seq(
    """{"op":"c","before":null,"after":{"id":1,"age":10},"source":{"table":"test"},"ts_ms":1}""",
    """{"op":"c","before":null,"after":{"id":2,"age":20},"source":{"table":"test"},"ts_ms":2}""",
    """{"payload":{"op":"u","before":{"id":1,"age":10},"after":{"id":1,"age":11},"source":{"table":"test"},"ts_ms":3}}""",
    """{"op":"d","before":{"id":2,"age":20},"after":null,"source":{"table":"test"},"ts_ms":4}""",
    """{"payload":{"op":"c","before":null,"after":{"id":3,"age":30},"source":{"table":"test"},"ts_ms":5}}""",
    """{"op":"u","before":{"id":3,"age":30},"after":{"id":3,"age":31},"source":{"table":"test"},"ts_ms":6}""")

  private val debeziumExpected = Seq(Row(1, 11), Row(3, 31))

  private def runUninterrupted(feed: String, format: String, root: String): Seq[Row] = {
    val src = new WireCdcSource(spark, feed, root, format)
    val pipe = new Pipeline(spark, PipelineConfig(Seq(sync)), src, s"$root/sink_ref")
    val q = pipe.start(s"$root/ckpt_ref")
    q.processAllAvailable(); q.stop()
    pipe.sinkState(sync).orderBy("id").collect().toSeq
  }

  private def runWithCrash(feed: String, format: String, root: String): Seq[Row] = {
    val ckpt = s"$root/ckpt_crash"
    val mkPipe = () => new Pipeline(spark, PipelineConfig(Seq(sync)),
      new WireCdcSource(spark, feed, root, format), s"$root/sink_crash")
    // phase 1: continuous trigger, one file per micro-batch; kill once at
    // least two batches committed (and ideally before all six land)
    // try/finally on BOTH phases (review r11): an awaitCommits timeout or
    // a failed drain would otherwise leak a busy-triggering query into
    // the rest of the shared-session suite run
    val q1 = mkPipe().start(ckpt, Trigger.ProcessingTime(0L))
    try CkptCrash.awaitCommits(ckpt, 2)
    finally q1.stop()
    // crash window: rewind to mid-batch-k — batch k's sink effects may
    // already be applied, but as far as the checkpoint knows it never
    // committed. Resume must replay it idempotently.
    CkptCrash.simulateCrashAtLastCommit(spark, ckpt)
    // phase 2: resume from the same checkpoint and drain what's left
    val p2 = mkPipe()
    val q2 = p2.start(ckpt, Trigger.AvailableNow())
    try q2.processAllAvailable()
    finally q2.stop()
    p2.sinkState(sync).orderBy("id").collect().toSeq
  }

  for ((format, feedMsgs, want) <- Seq(
    ("wal2json", wal2jsonFeed, expected),
    ("mysql-binlog", mysqlFeed, expected),
    ("mongo", mongoFeed, mongoExpected),
    ("debezium", debeziumFeed, debeziumExpected))) {
    test(s"$format: killed mid-stream with a lost commit, the resumed sink " +
      "equals the uninterrupted run") {
      val root = tmpDir(s"wirereplay_${format.replace("-", "")}")
      val feed = s"$root/feed"
      writeFeed(feed, feedMsgs)
      val uninterrupted = runUninterrupted(feed, format, root)
      assert(uninterrupted === want, "uninterrupted baseline mismatch")
      val resumed = runWithCrash(feed, format, root)
      assert(resumed === uninterrupted)
    }
  }
}
