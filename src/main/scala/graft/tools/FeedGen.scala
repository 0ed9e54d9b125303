package graft.tools

import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic CDC demo-feed generator: materializes everything the CLI
  * needs for an end-to-end run — an initial `users` table, a parquet
  * ChangeEvent feed (one file per micro-batch), and a ready-to-run
  * `demo.properties` — so
  *
  * {{{
  * runMain graft.tools.FeedGen /tmp/graft-demo
  * runMain graft.cli.Main start /tmp/graft-demo/demo.properties
  * runMain graft.cli.Main check /tmp/graft-demo/demo.properties
  * }}}
  *
  * replays the reference's `start`→`check` workflow (`main.py:71-208`)
  * against file-backed state. Mirrors the reference's demo flow, not its
  * code. Everything is a pure function of (batch, index): re-running
  * produces byte-identical events, so checkpoint-resume demos behave
  * reproducibly.
  *
  * Event mix per batch (disjoint pk ranges keep the expected end state
  * trivially computable): creates mint fresh ids above the seed range,
  * score/name updates touch only ids 1..updatableMax (partial payloads —
  * exercising the presence-mask upsert), deletes touch only ids above
  * updatableMax.
  */
object FeedGen {

  final case class Layout(root: String) {
    def tableDir: String = s"$root/tables"
    def feedDir: String = s"$root/feed"
    def feedV2Dir: String = s"$root/feed-v2"
    def sinkRoot: String = s"$root/sink"
    def ckptDir: String = s"$root/ckpt"
    def propsPath: String = s"$root/demo.properties"
    def propsV2Path: String = s"$root/demo-v2.properties"
  }

  private val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
  private def at(secs: Long) = new java.sql.Timestamp(base.getTime + secs * 1000)

  /** Generate the demo tree; returns the layout. Deterministic. */
  def generate(spark: SparkSession, root: String, nUsers: Int = 200,
               nBatches: Int = 5, eventsPerBatch: Int = 40): Layout = {
    val lay = Layout(root)
    val updatableMax = nUsers / 2

    // initial full-scan table (the backfill source)
    val users = (1 to nUsers).map { i =>
      Row(i, s"user_$i", i * 1.5, at(i))
    }
    val userSchema = StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType),
      StructField("score", DoubleType), StructField("updated", TimestampType)))
    spark.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(users).asJava),
        userSchema)
      .repartition(1).write.mode(SaveMode.Overwrite)
      .parquet(s"${lay.tableDir}/users.parquet")

    // feed: one parquet file appended per batch = one micro-batch each under
    // maxFilesPerTrigger=1; the same plan is also written as the V2 source's
    // chunked-tsv wire format (chunk index == replication position), so both
    // source paths replay identical histories
    val envSchema = graft.model.ChangeEvent.schema
    // clean both feeds first: the parquet feed is written in append mode
    // (one file per batch), so a re-run against an existing root would
    // otherwise double the history and break the documented determinism
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(lay.feedDir), true)
    fs.delete(new org.apache.hadoop.fs.Path(lay.feedV2Dir), true)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(lay.feedV2Dir))
    for (b <- 0 until nBatches) {
      val rows = (0 until eventsPerBatch).map { j =>
        val off = (b.toLong * eventsPerBatch + j) + 1000000L
        val (op, data) = j % 5 match {
          case 0 => // create a brand-new user
            val id = nUsers + (b * eventsPerBatch + j) + 1
            ("create",
              s"""{"id": $id, "name": "new_${b}_$j", "score": ${id * 0.25}, """ +
                s""""updated": "2026-01-02 00:00:${b % 60}"}""")
          case 1 | 2 => // partial score update on a low id
            val id = (b * 7 + j * 3) % updatableMax + 1
            ("update", s"""{"id": $id, "score": ${off * 0.5}}""")
          case 3 => // partial rename on a low id
            val id = (b * 11 + j * 5) % updatableMax + 1
            ("update", s"""{"id": $id, "name": "renamed_${b}_$j"}""")
          case _ => // delete a high id (disjoint from the update range)
            val id = updatableMax + (b * 13 + j) % (nUsers - updatableMax) + 1
            ("delete", s"""{"id": $id}""")
        }
        Row(op, "users", off, at(3600 + off - 1000000L), data)
      }
      spark.createDataFrame(
          new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
          envSchema)
        .repartition(1).write.mode(SaveMode.Append).parquet(lay.feedDir)
      val tsv = rows.map { r =>
        val ts = r.getAs[java.sql.Timestamp](3).getTime // epochMillis
        s"${r.getString(0)}\t${r.getString(1)}\t${r.getLong(2)}\t$ts\t${r.getString(4)}"
      }.mkString("", "\n", "\n")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"${lay.feedV2Dir}/chunk-$b.tsv"), tsv)
    }

    val props =
      s"""feed.dir=${lay.feedDir}
         |table.dir=${lay.tableDir}
         |sink.root=${lay.sinkRoot}
         |checkpoint.dir=${lay.ckptDir}
         |sync.users.pk=id
         |sync.users.full=true
         |sync.users.schema=id INT, name STRING, score DOUBLE, updated TIMESTAMP
         |""".stripMargin
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(lay.propsPath), props)
    // same sync, V2 MicroBatchStream source; separate sink/checkpoint so the
    // two paths can be run side by side and diffed
    // insert.size=1 -> one chunk per micro-batch (source admission control),
    // matching the parquet path's default maxFilesPerTrigger=1 so both
    // replay with identical batch boundaries
    val propsV2 = props
      .replace(s"feed.dir=${lay.feedDir}", s"feed.dir=${lay.feedV2Dir}\nfeed.format=graft-cdc\ninsert.size=1")
      .replace(s"sink.root=${lay.sinkRoot}", s"sink.root=${lay.sinkRoot}-v2")
      .replace(s"checkpoint.dir=${lay.ckptDir}", s"checkpoint.dir=${lay.ckptDir}-v2")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(lay.propsV2Path), propsV2)
    lay
  }

  /** Expected end-state facts, derived from the same pure event plan —
    * used by the e2e spec and printed for demo users. */
  def expected(nUsers: Int = 200, nBatches: Int = 5,
               eventsPerBatch: Int = 40): (Long, Set[Int], Set[Int]) = {
    val updatableMax = nUsers / 2
    val created = for {
      b <- 0 until nBatches; j <- 0 until eventsPerBatch if j % 5 == 0
    } yield nUsers + (b * eventsPerBatch + j) + 1
    val deleted = for {
      b <- 0 until nBatches; j <- 0 until eventsPerBatch if j % 5 == 4
    } yield updatableMax + (b * 13 + j) % (nUsers - updatableMax) + 1
    val finalCount = nUsers + created.size - deleted.distinct.size
    (finalCount.toLong, created.toSet, deleted.toSet)
  }

  def main(args: Array[String]): Unit = {
    val root = if (args.nonEmpty) args(0) else "/tmp/graft-demo"
    val spark = graft.GraftSession.get()
    try {
      val lay = generate(spark, root)
      val (n, created, deleted) = expected()
      println(s"demo feed written under $root")
      println(s"  expected sink rows after drain: $n " +
        s"(${created.size} created, ${deleted.size} deleted)")
      println(s"next: runMain graft.cli.Main start ${lay.propsPath}")
      println(s"then: runMain graft.cli.Main check ${lay.propsPath}")
      println("note: check reports source=200 vs the drifted sink - the " +
        "static table snapshot never receives the feed's changes, exactly " +
        "like running the reference's check against a moving source")
    } finally spark.stop()
  }
}
