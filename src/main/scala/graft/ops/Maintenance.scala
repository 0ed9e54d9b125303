package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Operational diagnostics for cluster-scale layout and shuffle health:
  * join-key skew profiling and small-file compaction planning. Neither has
  * a reference analog (the reference syncs one row at a time and never
  * plans a shuffle); both are the tooling a 100 TB deployment consults
  * before letting a job loose — the skew report decides whether a join
  * needs salting (see [[Relational.saltedJoin]]), and the compaction plan
  * is the OPTIMIZE/bin-packing step every lakehouse ingest ends with.
  */
object Maintenance {

  /** Join-key skew diagnostic over orders.o_custkey (the key
    * [[Relational.saltedJoin]] salts): per-key frequency reduced to the
    * distribution stats a planner needs — max/mean multiplicity, the
    * skew ratio between them, the share of rows carried by the single
    * hottest key, and the salt factor [[Relational.saltedJoin]] would
    * need to level the hottest key down to the mean.
    *
    * Shape at scale: one two-phase count per key (map-side combine), then
    * a single-row reduce over the O(keys) count table — the corpus is
    * touched once, the driver sees one row. The hot-key list is a
    * separate bounded top-k (TakeOrderedAndProject), never a full sort. */
  def skewReport(spark: SparkSession, dir: String, topK: Int = 5): DataFrame = {
    val counts = Tables(spark, dir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
    val stats = counts.agg(
      count(lit(1)).as("n_keys"),
      sum(col("n")).as("n_rows"),
      max(col("n")).as("max_mult"),
      round(avg(col("n")), 4).as("mean_mult"))
    val hot = counts.orderBy(col("n").desc, col("o_custkey")).limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("o_custkey"))))
    hot.crossJoin(broadcast(stats))
      .select(
        col("rank"), col("o_custkey").as("hot_key"), col("n").as("hot_n"),
        col("n_keys"), col("n_rows"), col("max_mult"), col("mean_mult"),
        round(col("max_mult") / col("mean_mult"), 4).as("skew_ratio"),
        round(col("n") / col("n_rows"), 6).as("hot_share"),
        ceil(col("max_mult") / col("mean_mult")).cast("int").as("salt_factor"))
      .orderBy(col("rank"))
  }

  /** Small-file compaction plan: given per-shard sizes (the `documents`
    * corpus sharded by `doc_id % shards`, bytes approximated by text
    * length), greedily bin consecutive shards into output files of at
    * most `targetBytes` — the deterministic first-fit-by-order policy
    * every lakehouse OPTIMIZE uses, expressed as a prefix-sum: output
    * bin = floor(cumulative_bytes_before_shard / target).
    *
    * A shard larger than the target gets a bin of its own (the cumsum
    * jump covers it) and never blocks its neighbors. Output is O(shards):
    * shard -> (bytes, bin), plus the bin's running total for audit.
    *
    * Shape at scale: per-shard sizes are one two-phase agg; the prefix
    * sum runs over the O(shards) size table — a window over shards, not
    * rows, so the single-partition window funnel holds thousands of
    * shard rows, not the corpus. */
  def compactionPlan(spark: SparkSession, dir: String, shards: Int = 64,
                     targetBytes: Long = 32768): DataFrame = {
    val sizes = Tables(spark, dir, "documents")
      .select(pmod(col("doc_id"), lit(shards)).as("shard"),
        length(col("text")).cast("long").as("bytes"))
      .groupBy(col("shard")).agg(sum(col("bytes")).as("bytes"))
    val w = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    sizes
      .withColumn("prefix", coalesce(sum(col("bytes")).over(w), lit(0L)))
      // integer div: exact at any corpus size (a double round-trip loses
      // bits past 2^53 of cumulative bytes — reachable at 100 TB)
      .withColumn("bin", expr(s"prefix div ${targetBytes}L"))
      .select(col("shard"), col("bytes"), col("bin"))
      .orderBy(col("shard"))
  }

  /** Execute a compaction plan (the OPTIMIZE rewrite step
    * [[compactionPlan]] only diagnoses): rewrite a shard-partitioned
    * corpus into first-fit bins of at most `targetBytes` (proxy bytes —
    * the same deterministic prefix-sum policy as the plan), each bin ONE
    * output file, through the staging + atomic-swap protocol, and return
    * the per-bin zone-map stats (bin, row count, bytes, doc_id range —
    * bins are prunable by doc_id range the moment the swap lands).
    *
    * Unlike the shard-granular plan, the rewrite also SPLITS oversized
    * shards — what a real OPTIMIZE does when an input file exceeds the
    * target. Row bin = `shardPrefix div target + withinShardOffset div
    * target`: the second term is 0 for every row of a shard that fits
    * (offsets range over [0, bytes)), so binning is bit-identical to the
    * shard-granular policy there, and an oversized shard's rows fan out
    * over ~ceil(bytes/target) consecutive sub-bins (within-shard offsets
    * by doc_id order — deterministic, so the DuckDB oracle reproduces the
    * exact bins). Without this, first-fit degenerates to one-bin-per-shard
    * the moment every shard outgrows the target (the x100 curve showed
    * bins saturating at the shard count).
    *
    * Shape at scale: shard sizes are an O(shards) window; rows take ONE
    * pass — a broadcast join of the O(shards) shard→prefix map, a
    * per-shard (partitioned) running-sum window for the offsets, then a
    * bin-keyed repartition so each bin is written by exactly one task (a
    * task may carry several bins; partitionBy still emits one file per
    * bin). A crash between the two renames heals via
    * [[graft.cdc.StateCommit.recoverSwap]] on re-run. Returns the stats —
    * computed FROM the swapped data, so they always describe the live
    * bins — plus a trailing `n_shards` audit column. */
  def compactApply(spark: SparkSession, livePath: String,
                   targetBytes: Long = 32768): DataFrame = {
    // the documented heal-by-rerun contract (a crash between the two
    // renames heals via recoverSwap) needs the re-run to actually CALL
    // recoverSwap before reading — an eager parquet read of the absent
    // live path throws PATH_NOT_FOUND instead of healing (review r11)
    graft.cdc.StateCommit.recoverSwap(spark, livePath)
    val state = spark.read.parquet(livePath)
    val sizes = state
      .select(col("shard").cast("long").as("shard"),
        length(col("text")).cast("long").as("b"))
      .groupBy(col("shard")).agg(sum(col("b")).as("bytes"))
    val w = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val plan = sizes
      .withColumn("prefix", coalesce(sum(col("bytes")).over(w), lit(0L)))
      .select(col("shard"), col("prefix"))
    // within-shard running byte offset (doc_id order): the split term.
    // Partitioned by shard, so the window never funnels the corpus.
    val wIn = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    graft.cdc.StateCommit.stageSwap(spark, livePath) { staging =>
      // partition discovery reads the shard dir value back as INT; the
      // plan keys on LONG — normalize before the broadcast join
      state.withColumn("shard", col("shard").cast("long"))
        .join(broadcast(plan), Seq("shard"))
        .withColumn("off",
          coalesce(sum(length(col("text")).cast("long")).over(wIn), lit(0L)))
        .withColumn("bin", expr(
          s"(prefix div ${targetBytes}L) + (off div ${targetBytes}L)"))
        .drop("prefix", "off")
        .repartition(col("bin"))
        .write.mode("overwrite").partitionBy("bin").parquet(staging)
    }
    // ONE post-swap scan feeds the stats AND the caller's audit (r14, guide
    // §2.4: the audit in compactionApplyQuery re-scanned the compacted
    // corpus for aggregates this scan already computes). The stats are
    // O(bins) rows, collected ONCE and returned as a local relation
    // (ADVICE r14: a localCheckpoint(true) here was never unpersisted, so
    // a long-lived driver running periodic compactions leaked one O(bins)
    // cached RDD per call). Bins are bounded by corpus_bytes / targetBytes
    // — metadata-scale by construction. Column ORDER keeps the documented
    // stats prefix (bin, n_rows, bytes, min_doc, max_doc); n_shards rides
    // at the END so positional consumers are unchanged.
    val statsAgg = spark.read.parquet(livePath)
      .groupBy(col("bin").cast("long").as("bin"))
      .agg(count(lit(1)).as("n_rows"),
        sum(length(col("text")).cast("long")).as("bytes"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"),
        countDistinct(col("shard")).as("n_shards"))
    spark.createDataFrame(
      java.util.Arrays.asList(statsAgg.collect(): _*), statsAgg.schema)
      .orderBy(col("bin"))
  }

  /** Driver query for the applied compaction: stage the documents corpus
    * as a `doc_id % shards` shard-partitioned layout (the many-small-files
    * ingest shape), run [[compactApply]], and report the per-bin audit
    * FROM THE COMPACTED FILES — so the gate checks the layout the rewrite
    * actually produced, which the DuckDB oracle reproduces with the same
    * prefix-sum binning in pure SQL. */
  def compactionApplyQuery(spark: SparkSession, dir: String,
                           shards: Int = 64,
                           targetBytes: Long = 32768): DataFrame = {
    // scratch keyed by params: the apply and split driver queries stage
    // independent layouts in one session
    val root = TwoBatchScratch.freshRoot(spark,
      s"graft_compact_${shards}_$targetBytes")
    val live = s"$root/docs"
    val docs = Tables(spark, dir, "documents")
      .withColumn("shard", pmod(col("doc_id"), lit(shards)))
    // empty-corpus short circuit (r12 fuzz): a partitioned write of ZERO
    // rows leaves a dir with only _SUCCESS, which the read-back cannot
    // infer a schema from — and an empty corpus compacts to an empty
    // audit, the same zero rows the oracle's aggregate produces
    if (docs.isEmpty)
      return spark.range(0).select(col("id").as("bin"),
        col("id").as("n_shards"), col("id").as("n_docs"),
        col("id").as("bytes"))
    docs.repartition(col("shard"))
      .write.partitionBy("shard").parquet(live)
    // the audit IS a projection of the stats compactApply already computed
    // from the compacted files (r14): same post-swap scan, zero extra pass
    compactApply(spark, live, targetBytes)
      .select(col("bin"), col("n_shards"), col("n_rows").as("n_docs"),
        col("bytes"))
      .orderBy(col("bin"))
  }

  /** Driver query for manifest TIME TRAVEL (snapshot reproducibility — the
    * primitive a training pipeline pins a corpus version with): publish
    * version 1 as a full snapshot of orders (one row per key:
    * `val = max(round(o_totalprice,2))`, key-grouped so duplicate-pk
    * fixtures stay well-defined), then commit a version-2 batch that
    * UPDATES keys %3==1 to `CAST(max(o_custkey) AS DOUBLE)` and DELETES
    * keys %3==2 (the new full content of exactly the touched buckets),
    * then read BOTH the pinned version-1 snapshot
    * ([[graft.cdc.ManifestStore.readStateAt]]) and the current state,
    * full-outer-joined per key. The publish-time resolution is asserted
    * inline: a timestamp captured between the publishes must resolve AS OF
    * to version 1. Any snapshot-isolation failure — the v1 read seeing
    * v2's update or delete, the as-of misresolving, a vacuumed v1 —
    * hash-mismatches (or fails loud) against the analytic oracle. */
  def timeTravelQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.cdc.ManifestStore
    val (path, schema) = twoVersionOrdersStore(spark, dir, "graft_timetravel")
    val v1 = ManifestStore.readStateAt(spark, path, schema, 1L)
      .select(col("o_orderkey"), col("val").as("val_v1"))
    val now = ManifestStore.readState(spark, path, schema)
      .select(col("o_orderkey"), col("val").as("val_now"))
    v1.join(now, Seq("o_orderkey"), "full_outer")
      .select(col("o_orderkey"), col("val_v1"), col("val_now"))
      .orderBy(col("o_orderkey"))
  }

  /** Driver query for the manifest CHANGE DATA FEED: over the same
    * two-version store as [[timeTravelQuery]], emit
    * [[graft.cdc.ManifestStore.changesBetween]](v1 -> v2) — the row-level
    * delta a downstream consumer applies to catch up. DELETEs carry the v1
    * value (updated keys' old rows and removed keys' rows), INSERTs the v2
    * value; a key whose "update" coincidentally wrote the identical value
    * cancels in the null-safe set difference and emits nothing — the
    * oracle mirrors that with IS DISTINCT FROM. */
  def cdfQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.cdc.ManifestStore
    val (path, schema) = twoVersionOrdersStore(spark, dir, "graft_cdf")
    ManifestStore.changesBetween(spark, path, schema, 1L, 2L)
      .orderBy(col("o_orderkey"), col("_change"))
  }

  /** ONLINE repair: merge corrected full rows (`fixes`, keyed by `pk`;
    * optional `op` column for deletes — absent rows default to
    * replace-whole-document) into a LIVE manifest store through the
    * optimistic commit loop — safe to run WHILE the stream is writing.
    * This removes the stop-the-stream requirement the dead-letter
    * replay/backfill path had: a conflicting stream batch just makes the
    * repair re-merge against the winner's state (never a lost update in
    * either direction; the r12 `splitStale` fence covers the one remaining
    * ordering hazard, a checkpoint-replayed first batch after restart).
    * Layout (modulus, stat columns) is the STORE's — a repair never
    * re-lays anything out. */
  def repairUpsert(spark: SparkSession, statePath: String, fixes: DataFrame,
                   pk: String,
                   claimTakeoverMs: Long = graft.cdc.ManifestStore.ClaimTakeoverMs)
      : graft.cdc.ManifestStore.OccResult = {
    import graft.cdc.{BucketedUpsertSink, ManifestStore, UpsertSink}
    import graft.model.Op
    val b = BucketedUpsertSink.BucketCol
    val m = ManifestStore.currentManifest(spark, statePath).getOrElse(
      throw new IllegalStateException(
        s"repairUpsert targets an existing manifest store; $statePath has " +
          "no published manifest"))
    val n = m.nbuckets
    val payloadSchema = org.apache.spark.sql.types.StructType(
      fixes.schema.fields.filterNot(f => f.name == "op" || f.name == b))
    val withOp =
      (if (fixes.columns.contains("op")) fixes
       else fixes.withColumn("op", lit(Op.Create)))
        .withColumn(b, BucketedUpsertSink.bucketOf(col(pk), n))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      // bounded collect: at most n bucket ids
      val touched = withOp.select(col(b)).distinct()
        .collect().map(_.getLong(0)).sorted.toSeq
      require(touched.nonEmpty, "repairUpsert with an empty fixes frame")
      ManifestStore.commitBatchOptimistic(spark, statePath, touched, n,
        m.statCols, claimTakeoverMs = claimTakeoverMs)(
        BucketedUpsertSink.upsertMergeOf(spark, statePath, payloadSchema,
          touched, withOp.drop(b), pk, n))
    } finally { withOp.unpersist(); () }
  }

  /** Driver query for OPTIMISTIC CONCURRENT WRITERS: publish a base store
    * from `orders`, then run TWO writer threads concurrently against it —
    * each issuing two sequential [[repairUpsert]] commits over ITS half of
    * the keyspace (even/odd o_orderkey; the chunks land in overlapping
    * BUCKETS, so the optimistic loop's rebase/recompute paths are
    * exercised by real contention, not simulated). Key-level disjointness
    * makes the final state independent of the nondeterministic commit
    * interleaving — which is exactly what lets a DuckDB oracle grade a
    * genuine concurrency run:
    *   %4==0 -> ck+0.5    %4==1 -> val+1.0
    *   %4==2 -> ck+0.25   %4==3 -> val+2.0
    * Any lost update (a clobbered interleaved commit — the failure class
    * the claim protocol exists to prevent) leaves stale `val`s behind and
    * hash-mismatches. */
  def occDisjointQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.cdc.ManifestStore
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    // ONE key-grouped aggregate over orders feeds both the base store and
    // the writers' fixes frames (duplicate-pk fixtures stay well-defined)
    val base = Tables(spark, dir, "orders")
      .groupBy(col("o_orderkey"))
      .agg(max(round(col("o_totalprice"), 2)).as("val"),
        max(col("o_custkey")).as("ck"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // no eager count (r15): stageFull's commit-dir write below is the first
    // action and materializes this cache before anything races — the
    // dedicated count job bought nothing (threads start only after the
    // base publish and the `present` collect, both cache-backed by then)
    val root = TwoBatchScratch.freshRoot(spark, "graft_occ")
    val path = s"$root/state"
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("val", DoubleType)))
    val staged = ManifestStore.stageFull(spark, path,
      base.select(col("o_orderkey"), col("val")), "o_orderkey", 8,
      Seq("o_orderkey"))
    ManifestStore.publishFull(spark, path, staged)
    def fixes(mod4: Long, newVal: org.apache.spark.sql.Column) = base
      .filter(pmod(col("o_orderkey"), lit(4)) === mod4)
      .select(col("o_orderkey"), newVal.as("val"))
    // degenerate fixtures (empty / near-empty variants): a mod-class with
    // no keys has no repair to commit — skip it and expect one version
    // fewer, instead of tripping the empty-fixes contract. Bounded
    // collect: at most 4 distinct mod classes.
    val present = base.select(pmod(col("o_orderkey"), lit(4)).as("m"))
      .distinct().collect().map(_.getLong(0)).toSet
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    def writer(chunks: Seq[(Long, org.apache.spark.sql.Column)]): Thread = {
      val t = new Thread(() =>
        try chunks.filter(c => present.contains(c._1)).foreach { case (m4, v) =>
          repairUpsert(spark, path, fixes(m4, v), "o_orderkey"); ()
        } catch { case e: Throwable => failed.compareAndSet(null, e); () })
      t.setDaemon(true)
      t
    }
    try {
      val even = writer(Seq(
        0L -> (col("ck").cast("double") + lit(0.5)),
        2L -> (col("ck").cast("double") + lit(0.25))))
      val odd = writer(Seq(
        1L -> (col("val") + lit(1.0)),
        3L -> (col("val") + lit(2.0))))
      even.start(); odd.start()
      even.join(600000); odd.join(600000)
      if (failed.get != null) throw failed.get
      require(!even.isAlive && !odd.isAlive,
        "occ writer thread did not finish within the 10-minute budget")
    } finally { base.unpersist(); () }
    // every key was updated exactly once, so the final version count is
    // base + one commit per present mod-class (recomputes never add
    // versions) — exactly-once publication pinned inline
    val expectVersions = 1L + present.size
    val cur = ManifestStore.currentManifest(spark, path).get
    require(cur.version == expectVersions,
      s"expected exactly $expectVersions manifest versions (base + " +
        s"${present.size} commits), got ${cur.version} — an optimistic " +
        "commit was lost or double-published")
    ManifestStore.readState(spark, path, schema)
      .select(col("o_orderkey"), col("val"))
      .orderBy(col("o_orderkey"))
  }

  /** The shared two-version manifest store the time-travel and CDF driver
    * queries grade against one analytic oracle: version 1 holds one row
    * per orders key (`val = max(round(o_totalprice,2))`, key-grouped so
    * duplicate-pk fixtures stay well-defined); version 2 UPDATES keys
    * %3==1 to `CAST(max(o_custkey) AS DOUBLE)` and DELETES keys %3==2 via
    * a commit whose `merged` is the new full content of exactly the
    * touched buckets. The as-of anchor between the publishes is asserted
    * inline (it must resolve to version 1). */
  private def twoVersionOrdersStore(spark: SparkSession, dir: String,
      scratchPrefix: String): (String, org.apache.spark.sql.types.StructType) = {
    import graft.cdc.{BucketedUpsertSink, ManifestStore}
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val b = BucketedUpsertSink.BucketCol
    val root = TwoBatchScratch.freshRoot(spark, scratchPrefix)
    val path = s"$root/state"
    val n = 8
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("val", DoubleType)))
    // materialized ONCE (r14, guide §5): this aggregate feeds the v1
    // stageFull, the touched-buckets collect AND the v2 merged frame —
    // unpersisted it recomputed the whole orders group-by three times
    val base = Tables(spark, dir, "orders")
      .groupBy(col("o_orderkey"))
      .agg(max(round(col("o_totalprice"), 2)).as("val"),
        max(col("o_custkey")).as("ck"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      val staged = ManifestStore.stageFull(spark, path,
        base.select(col("o_orderkey"), col("val")), "o_orderkey", n,
        Seq("o_orderkey"))
      ManifestStore.publishFull(spark, path, staged)
      val tsAfterV1 = System.currentTimeMillis()
      Thread.sleep(5) // v2's publish mtime must sit strictly after the anchor
      val bucketed = base
        .withColumn(b, BucketedUpsertSink.bucketOf(col("o_orderkey"), n))
      // bounded collect: at most n=8 bucket ids
      val touched = bucketed.filter(pmod(col("o_orderkey"), lit(3)) =!= 0)
        .select(col(b)).distinct().collect().map(_.getLong(0)).toSeq
      val merged = bucketed
        .filter(col(b).isin(touched: _*) &&
          pmod(col("o_orderkey"), lit(3)) =!= 2)
        .select(col("o_orderkey"),
          when(pmod(col("o_orderkey"), lit(3)) === 1,
            col("ck").cast("double")).otherwise(col("val")).as("val"),
          col(b))
      ManifestStore.commitBatchOptimistic(spark, path, touched, n,
        Seq("o_orderkey"))(_ => merged)
      val asOf = ManifestStore.versionAsOf(spark, path, tsAfterV1)
      require(asOf == 1L,
        s"as-of resolution drifted: the anchor between the publishes must " +
          s"resolve to version 1, got $asOf")
      (path, schema)
    } finally { base.unpersist(); () }
  }
}
