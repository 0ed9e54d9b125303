package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-format replication-log ingestion promoted to the driver gate
  * (r8 verdict #5): the on-disk wal2json JSONL path — the shape a Postgres
  * logical-replication shipper leaves in a landing directory — staged,
  * scanned with Spark's `text` source, and decoded end-to-end through the
  * REAL [[graft.cdc.EnvelopeDecoders.decodeWal2json]] envelope decoder
  * (reference `postgres.py:89-131`), so the correctness gate now exercises
  * the text-scan → from_json envelope → per-change explode → payload
  * re-projection chain, not just the parquet feeds.
  */
object IngestFormats {

  /** Deterministic wal2json feed derived from `orders`, decoded back:
    * each order becomes one change entry — kind by `o_orderkey % 3`
    * (0 insert, 1 update, 2 delete; insert/update carry
    * columnnames/columnvalues, delete carries only `oldkeys` — the
    * wal2json contract) — and changes batch into transactions of up to 8
    * (`o_orderkey div 8`), each transaction one JSONL line carrying its
    * `nextlsn`. The oracle recomputes the expected decode output directly
    * from `orders`, so any row or field lost anywhere in
    * build → text write → text scan → decode hash-mismatches (the same
    * lossless-roundtrip grading shape as the codec audits).
    *
    * Scale shape: the feed build is one projection + one keyed groupBy
    * (the transaction batch); the text scan splits per file and the
    * decode is a codegen'd from_json + posexplode per line — all
    * corpus-linear, nothing driver-side. Multi-change transactions decode
    * ALL entries (the reference drops a transaction's tail on the first
    * non-synced table — `postgres.py:97-98` — which this engine
    * deliberately does not copy). */
  def jsonlDecode(spark: SparkSession, dir: String): DataFrame = {
    // the shared scratch helper, not an inline copy of it (review r11):
    // freshRoot exists precisely because copy-pasted preambles drifted
    val root = TwoBatchScratch.freshRoot(spark, "graft_jsonl")
    val feed = s"$root/feed"

    val o = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
    val kind = element_at(
      array(lit("insert"), lit("update"), lit("delete")),
      (pmod(col("o_orderkey"), lit(3)) + 1).cast("int"))
    val entry = when(pmod(col("o_orderkey"), lit(3)) === 2,
        concat(lit("{\"kind\":\"delete\",\"schema\":\"public\"," +
            "\"table\":\"orders\",\"oldkeys\":{\"keynames\":[\"o_orderkey\"]," +
            "\"keyvalues\":["),
          col("o_orderkey").cast("string"), lit("]}}")))
      .otherwise(
        concat(lit("{\"kind\":\""), kind,
          lit("\",\"schema\":\"public\",\"table\":\"orders\"," +
            "\"columnnames\":[\"o_orderkey\",\"o_custkey\",\"o_totalprice\"]," +
            "\"columnvalues\":["),
          // JSON-null rendering (r12 fuzz): wal2json emits `null` for a
          // NULL column value; the bare cast-concat NULL-propagated the
          // WHOLE line instead, and array_join then silently DROPPED the
          // event from the feed — a third of the change stream vanished
          // on a null-bearing table
          col("o_orderkey").cast("string"), lit(","),
          coalesce(col("o_custkey").cast("string"), lit("null")), lit(","),
          coalesce(col("o_totalprice").cast("string"), lit("null")),
          lit("]}")))
    val lines = o
      .select(expr("o_orderkey div 8").as("txn"),
        col("o_orderkey"), entry.as("entry"))
      .groupBy(col("txn"))
      .agg(expr(
        "array_join(transform(sort_array(collect_list(struct(o_orderkey, entry))), p -> p.entry), ',')")
        .as("body"))
      .select(concat(lit("{\"change\":["), col("body"),
        lit("],\"nextlsn\":\"0/"), col("txn").cast("string"),
        lit("\"}")).as("value"))
    lines.write.mode("overwrite").text(feed)

    val raw = spark.read.format("text").load(feed)
      .withColumn("offset", monotonically_increasing_id())
      .withColumnRenamed("value", "data")
    // json_tuple: ONE parse of the payload per row (review r11 — two
    // get_json_object calls parsed the same string twice), and o_custkey
    // IS graded now, so a decode defect corrupting an interior
    // columnvalues element hash-mismatches as the scaladoc promises
    // (previously only the first and last fields were projected)
    graft.cdc.EnvelopeDecoders.decodeWal2json(raw)
      .select(col("op"), col("table").as("table_name"), col("nextlsn"),
        json_tuple(col("data"), "o_orderkey", "o_custkey", "o_totalprice"))
      .select(col("op"), col("table_name"), col("nextlsn"),
        col("c0").cast("long").as("o_orderkey"),
        col("c1").cast("long").as("o_custkey"),
        col("c2").cast("double").as("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** End-to-end CDC SCHEMA EVOLUTION, oracle-graded (r12 verdict #6): a
    * wal2json wire feed whose payload gains a column MID-STREAM, driven
    * through the REAL pipeline — wire decode → typed sync view →
    * last-write-wins compaction → bucketed upsert sink on the
    * manifest-versioned immutable layout — across the operational flow a
    * real deployment takes (source DDL adds the column → the operator
    * widens the sync schema → restart on the same checkpoint). The final
    * sink state is what the gate grades, so a defect anywhere in the
    * decode/evolution/merge chain hash-mismatches.
    *
    * Feed, derived from `orders` (one change per wire message):
    *  - phase 1: INSERT (o_orderkey, o_totalprice=round(p,2)) for every key
    *  - phase 2 (restart, schema + o_custkey): for keys %3==1 an UPDATE
    *    carrying ONLY (o_orderkey, o_custkey) — the new column arrives and
    *    the presence-mask must keep phase-1's o_totalprice; for keys
    *    %3==2 a DELETE. Keys %3==0 are never touched again — after the
    *    sink's evolution rewrite they must read NULL for the new column.
    *
    * The phase-2 first batch carries a column the stored state lacks, so
    * the sink's evolution path (one-time full merge + full manifest
    * publish) runs inside the graded query — the claim the spec-level
    * footer checks could not grade end-to-end before. */
  def cdcEvolve(spark: SparkSession, dir: String): DataFrame =
    cdcEvolveStaged(spark, dir, (_, f) => f())

  /** [[cdcEvolve]] with a stage hook so the dev profiler can time each
    * lifecycle phase without a drift-prone copy of the query; `stage`
    * MUST invoke its thunk exactly once. */
  private[graft] def cdcEvolveStaged(spark: SparkSession, dir: String,
      stage: (String, () => Unit) => Unit): DataFrame = {
    import graft.cdc._
    import graft.model._
    import org.apache.spark.sql.types._
    val root = TwoBatchScratch.freshRoot(spark, "graft_cdc_evolve")
    val feed = s"$root/feed"
    val sinkRoot = s"$root/sink"
    val ckpt = s"$root/ckpt"
    new java.io.File(feed).mkdirs()

    val o = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("p2"))
    // wire lines are {"offset": N, "data": "<wal2json txn>"}; to_json
    // escapes the nested JSON payload correctly
    def writePhase(lines: DataFrame, first: Boolean): Unit =
      lines.select(to_json(struct(col("offset"), col("data"))).as("value"))
        .coalesce(1).write.mode(if (first) "overwrite" else "append").text(feed)
    def txn(entry: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      concat(lit("{\"change\":["), entry, lit("],\"nextlsn\":\"0/1\"}"))
    val insert = txn(concat(
      lit("{\"kind\":\"insert\",\"schema\":\"public\",\"table\":\"orders\"," +
        "\"columnnames\":[\"o_orderkey\",\"o_totalprice\"],\"columnvalues\":["),
      col("o_orderkey").cast("string"), lit(","),
      coalesce(col("p2").cast("string"), lit("null")), lit("]}")))
    val phase1 = o.select(col("o_orderkey").as("offset"), insert.as("data"))
    val update = txn(concat(
      lit("{\"kind\":\"update\",\"schema\":\"public\",\"table\":\"orders\"," +
        "\"columnnames\":[\"o_orderkey\",\"o_custkey\"],\"columnvalues\":["),
      col("o_orderkey").cast("string"), lit(","),
      coalesce(col("o_custkey").cast("string"), lit("null")), lit("]}")))
    val del = txn(concat(
      lit("{\"kind\":\"delete\",\"schema\":\"public\",\"table\":\"orders\"," +
        "\"oldkeys\":{\"keynames\":[\"o_orderkey\"],\"keyvalues\":["),
      col("o_orderkey").cast("string"), lit("]}}")))
    // phase-2 offsets sit strictly above every phase-1 offset (the wire
    // offsets are the LWW order) and far under the 2^43 encoding bound
    val phase2 = o.filter(pmod(col("o_orderkey"), lit(3)) =!= 0)
      .select((col("o_orderkey") + lit(1L << 34)).as("offset"),
        when(pmod(col("o_orderkey"), lit(3)) === 1, update)
          .otherwise(del).as("data"))

    val schemaV1 = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_totalprice", DoubleType)))
    val schemaV2 = StructType(schemaV1.fields :+ StructField("o_custkey", LongType))
    def run(schema: StructType): Unit = {
      val sync = SyncConfig("orders", pk = "o_orderkey", schema = Some(schema))
      val cfg = PipelineConfig(Seq(sync), stateBuckets = Some(8))
      val src = new WireCdcSource(spark, feed, s"$root/tables", "wal2json",
        maxFilesPerTrigger = 64)
      val pipe = new Pipeline(spark, cfg, src, sinkRoot)
      // NOT partition-tuned (r14 measured negative result): wrapping the
      // lifecycle in the streamedPairs-style 8-partition override changed
      // nothing (same-JVM interleaved A/B, two reps per arm: run-v1
      // 4.57/4.89 s untuned vs 4.88/4.99 s tuned; run-v2 a wash) — the
      // pipeline batch's cost is lifecycle + per-bucket I/O, not
      // shuffle-task count. Kept at the session default, which scales.
      val q = pipe.start(ckpt)
      try { q.processAllAvailable() } finally {
        try q.stop() finally pipe.releaseLeases()
      }
    }
    stage("feed-phase1", () => writePhase(phase1, first = true))
    stage("run-v1", () => run(schemaV1))
    stage("feed-phase2", () => writePhase(phase2, first = false))
    stage("run-v2-evolve", () => run(schemaV2))
    ManifestStore.readState(spark, sinkRoot + "/orders",
        StructType(schemaV2.fields))
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"),
        col("o_custkey"))
      .orderBy(col("o_orderkey"))
  }
}
