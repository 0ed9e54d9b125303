package graft

import graft.cdc.{ParquetCdcSource, Pipeline}
import graft.cli.Main
import graft.tools.FeedGen
import org.apache.spark.sql.functions._

/** End-to-end over the generated demo feed: FeedGen -> the CLI's config
  * parser -> ParquetCdcSource -> Pipeline (backfill + stream drain) ->
  * sink state matches the event plan's derived expectations. */
class FeedGenSpec extends SparkSpec {

  test("generated demo feed drains through the pipeline to the expected state") {
    val root = tmpDir("feedgen")
    val lay = FeedGen.generate(spark, root)

    // config flows through the same parser the CLI uses
    val props = new java.util.Properties()
    val in = new java.io.FileInputStream(lay.propsPath)
    try props.load(in) finally in.close()
    val cfg = Main.parseConfig(props)
    val sync = cfg.syncFor("users").get
    assert(sync.full && sync.pk === "id")

    val src = new ParquetCdcSource(spark, lay.feedDir, lay.tableDir,
      maxFilesPerTrigger = 1)
    val pipe = new Pipeline(spark, cfg, src, lay.sinkRoot)
    pipe.backfillIfNeeded()
    val q = pipe.start(lay.ckptDir)
    q.processAllAvailable(); q.stop()

    val state = pipe.sinkState(sync)
    val (expectedCount, created, deleted) = FeedGen.expected()
    assert(state.count() === expectedCount)
    val ids = state.select("id").collect().map(_.getInt(0)).toSet
    assert(created.subsetOf(ids))             // every create materialized
    assert(deleted.intersect(ids).isEmpty)    // every deleted id gone
    // a partially-updated row keeps its non-updated columns from backfill
    val touched = state.filter(col("name").startsWith("renamed_")).collect()
    assert(touched.nonEmpty)
    touched.foreach(r => assert(!r.isNullAt(r.fieldIndex("score"))))
    // timestamps were P2-coerced to epoch longs in the sink
    assert(state.schema("updated").dataType ===
      org.apache.spark.sql.types.LongType)
  }

  test("the V2 chunked feed replays to the identical end state as the parquet feed") {
    val root = tmpDir("feedgen2")
    val lay = FeedGen.generate(spark, root)
    val props = new java.util.Properties()
    val in = new java.io.FileInputStream(lay.propsV2Path)
    try props.load(in) finally in.close()
    assert(props.getProperty("feed.format") === "graft-cdc")
    val cfg = Main.parseConfig(props)
    val sync = cfg.syncFor("users").get

    def drain(src: graft.cdc.CdcSource, sinkRoot: String, ckpt: String) = {
      val pipe = new Pipeline(spark, cfg, src, sinkRoot)
      pipe.backfillIfNeeded()
      val q = pipe.start(ckpt)
      q.processAllAvailable(); q.stop()
      pipe.sinkState(sync).orderBy("id").collect().toSeq
    }
    val viaParquet = drain(
      new ParquetCdcSource(spark, lay.feedDir, lay.tableDir, 1),
      props.getProperty("sink.root") + "-p", props.getProperty("checkpoint.dir") + "-p")
    // insert.size=1 -> maxChunksPerTrigger=1 (source admission control):
    // one chunk per micro-batch, the same boundaries as the parquet path
    assert(cfg.insertSize === Some(1))
    val viaV2 = drain(
      new graft.cdc.V2CdcSource(spark, lay.feedV2Dir, lay.tableDir,
        tables = cfg.tables, maxChunksPerTrigger = cfg.insertSize.map(_.toLong)),
      props.getProperty("sink.root"), props.getProperty("checkpoint.dir"))
    assert(viaV2 === viaParquet)
    assert(viaV2.size === FeedGen.expected()._1)
  }
}
