package graft

import org.apache.spark.sql.functions._

/** File-format source/sink coverage (SURVEY.md §2.2 row 1 — the reference
  * has only DB connectors + an HTTP sink; here parquet/csv/json are native)
  * and the bucketing evidence for the upsert sink's scale posture. */
class FormatsSpec extends SparkSpec {

  test("csv and json sinks round-trip a sync state") {
    val src = ops.Tables(spark, sf, "nation")
    val base = tmpDir("fmt")
    src.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
    src.write.mode("overwrite").json(s"$base/json")
    val viaCsv = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$base/csv")
    val viaJson = spark.read.json(s"$base/json")
    assert(viaCsv.count() === 25 && viaJson.count() === 25)
    assert(viaCsv.select(sum(col("n_nationkey"))).head().getLong(0) ===
      src.select(sum(col("n_nationkey"))).head().getLong(0))
    assert(viaJson.columns.sorted.toSeq === src.columns.sorted.toSeq)
  }

  test("events normalizes naive (NTZ) parquet timestamps to TIMESTAMP " +
    "without shifting instants") {
    // the driver's fixture generator writes events.ts as a parquet naive
    // timestamp (read back as TIMESTAMP_NTZ); Tables.events must hand the
    // time functions (unix_micros etc.) a TIMESTAMP, value-identical under
    // the pinned UTC session tz — regression for the round-6 fixture swap
    val base = tmpDir("ntz")
    spark.sql(
      """SELECT 1L AS event_id, 1L AS user_id, 'view' AS event_type,
        |  1.0D AS value,
        |  TIMESTAMP_NTZ '2026-01-02 03:04:05.123456' AS ts""".stripMargin)
      .write.mode("overwrite").parquet(s"$base/events.parquet")
    val ev = ops.Tables.events(spark, base)
    assert(ev.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    assert(ev.select(expr("unix_micros(ts)")).head().getLong(0) ===
      1767323045123456L)
  }

  test("orc sink round-trips with predicate pushdown reaching the scan") {
    val src = ops.Tables(spark, sf, "orders")
    val base = tmpDir("orc")
    src.write.mode("overwrite").orc(s"$base/orc")
    val via = spark.read.orc(s"$base/orc").filter(col("o_totalprice") > 300000)
    assert(via.count() === src.filter(col("o_totalprice") > 300000).count())
    val plan = via.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("GreaterThan(o_totalprice"), plan.take(1500))
  }

  test("bucketed state table joins without an Exchange on the state side") {
    // The K1 upsert's scale posture (SCALE.md): bucket the state by pk so
    // each micro-batch join shuffles only the (small) batch side. Evidence:
    // the join plan reads the bucketed table with no Exchange above its scan.
    spark.sql("DROP TABLE IF EXISTS state_bucketed")
    // a previous JVM's run may have left the managed location behind while
    // this session's in-memory catalog has no such table — clear both
    val loc = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath,
      "state_bucketed")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    if (loc.exists()) rm(loc)
    ops.Tables(spark, sf, "customer")
      .write.mode("overwrite")
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .saveAsTable("state_bucketed")
    // force the sort-merge path (review r11): at fixture scale the planner
    // broadcast the batch side and DISABLED the bucketed scan ('Bucketed:
    // false (disabled by query planner)'), so the old exchange count was
    // the test's own repartition — the bucketing property was never
    // exercised. With broadcast off, the join must be SMJ, the state-side
    // bucketed scan must be ENABLED, and the only hash exchange is the
    // batch side's.
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val state = spark.table("state_bucketed")
      val batch = ops.Tables(spark, sf, "orders")
        .select(col("o_custkey"), col("o_totalprice"))
      val joined = state.join(batch, state("c_custkey") === batch("o_custkey"))
      assert(joined.count() > 0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(3000))
      assert(plan.contains("Bucketed: true"),
        "the state-side scan must USE the bucket layout: " + plan.take(3000))
      // exactly one shuffle: the batch side; the bucketed scan feeds the
      // join directly (bucket layout == join partitioning)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges === 1, plan.take(3000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("jsonl feed via the text format decodes end-to-end through the " +
    "wal2json decoder (the on-disk replication-log ingestion path)") {
    val base = tmpDir("jsonl")
    val lines = Seq(
      """{"change":[{"kind":"insert","schema":"public","table":"users",""" +
        """"columnnames":["id","name"],"columnvalues":[1,"ada"]}],""" +
        """"nextlsn":"0/1"}""",
      """{"change":[{"kind":"update","schema":"public","table":"users",""" +
        """"columnnames":["id","name"],"columnvalues":[1,"ada l"]},""" +
        """{"kind":"delete","schema":"public","table":"orders",""" +
        """"oldkeys":{"keynames":["id"],"keyvalues":[7]}}],""" +
        """"nextlsn":"0/2"}""")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/feed.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    // one file -> one split, so the synthesized offset is deterministic;
    // a real feed carries its own replication offset column
    val raw = spark.read.format("text").load(s"$base/feed.jsonl")
      .withColumn("offset", monotonically_increasing_id())
      .withColumnRenamed("value", "data")
    val decoded = graft.cdc.EnvelopeDecoders.decodeWal2json(raw).collect()
      .map(r => (r.getAs[String]("op"), r.getAs[String]("table"),
        r.getAs[String]("data"), r.getAs[String]("nextlsn")))
    assert(decoded.length === 3, "both entries of the second transaction survive")
    assert(decoded.map(d => (d._1, d._2)).toSeq ===
      Seq(("create", "users"), ("update", "users"), ("delete", "orders")))
    assert(decoded(0)._3.contains("\"ada\"") && decoded(2)._3.contains("7"))
    assert(decoded(2)._4 === "0/2", "the lsn rides every change of its tx")
  }

  test("binaryFile ingestion: staged .png files round-trip byte-identical " +
    "payloads into the real codec tier") {
    import spark.implicits._
    val base = tmpDir("binf")
    val payloads = graft.ops.Multimodal.pngView(spark, sf).collect()
      .take(8).map(r => r.doc_id -> r.payload).toMap
    payloads.foreach { case (id, bytes) =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$base/$id.png"), bytes)
    }
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(base)
      .select(
        expr("cast(regexp_extract(path, '([0-9]+)\\\\.png$', 1) as long)")
          .as("doc_id"),
        col("content"), col("length"))
    val back = files.as[(Long, Array[Byte], Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(back.keySet === payloads.keySet)
    back.foreach { case (id, (bytes, len)) =>
      assert(len === payloads(id).length.toLong)
      assert(bytes.sameElements(payloads(id)),
        s"doc $id: binaryFile content must be byte-identical")
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(img != null && img.getWidth > 0,
        s"doc $id: staged file must decode through the real codec")
    }
  }

  test("PNG encode and decode leave ImageIO's JVM-global cache flag " +
    "untouched, and the encoded bytes stay identical") {
    import javax.imageio.ImageIO
    val prev = ImageIO.getUseCache
    ImageIO.setUseCache(true)
    try {
      val payloads = graft.ops.Multimodal.pngView(spark, sf, maxId = Some(64L))
        .collect().sortBy(_.doc_id)
      assert(payloads.length === 64)
      val decoded = graft.ops.Multimodal.decodePng(spark, sf)
        .filter(col("doc_id") < 64L).collect()
      assert(decoded.length === 64 && decoded.forall(_.is_png))
      assert(ImageIO.getUseCache,
        "the codec tier must not flip ImageIO's global useCache flag")
      // MD5 over the concatenated payloads of doc_ids 0..63, pinned from
      // the encoder's output before the stream wrapping changed
      val md5 = java.security.MessageDigest.getInstance("MD5")
      payloads.foreach(r => md5.update(r.payload))
      assert(md5.digest().map("%02x".format(_)).mkString ===
        "b23aa7439a3d69cdcf81e9494fc2b33e")
    } finally ImageIO.setUseCache(prev)
  }
}
