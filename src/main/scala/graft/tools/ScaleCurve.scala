package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured scaling evidence: replicate the sf0.1 fact tables 1x/10x/100x
  * with shifted keys (join integrity preserved — each replica's lineitem
  * rows point at its own orders replica; replica documents get perturbed
  * text so the corpus grows in DISTINCT content rather than in duplicate
  * multiplicity, which would measure the quadratic dup pathology instead
  * of scan scaling) and time the headline operator shapes at each factor.
  * The point is the SLOPE: a plan that scales linearly here is
  * scan/shuffle-bound the way it will be on a cluster, while any
  * super-linear term (pair blowup, driver state) bends the curve long
  * before 100 TB does. Dev tool; results recorded in SCALE.md.
  *
  * Usage: runMain graft.tools.ScaleCurve [factors csv, default 1,10,100] [neardup] [stream] [bpe] [r6] [b5] [b6] [b9] [tws] [twsstate] [r7]
  *   `neardup` adds the near-dup composite (decontaminate + dup-span) at
  *   each factor — the standing per-round stress entry for the near-dup
  *   tier's scale curve (VERDICT r4 item 7). `stream` adds the
  *   checkpointed streaming dedup ingest (DedupStream.streamedPairs).
  *   `bpe` adds the iterative BPE trainer over DUPLICATE-text replicas
  *   (no perturbation): the corpus grows fac x while the vocabulary stays
  *   constant, which is exactly the axis that separates the trainer's one
  *   corpus scan (must grow linearly) from its per-round cost (claimed
  *   vocabulary-bound, so must stay FLAT as the corpus grows).
  */
object ScaleCurve {
  def main(args: Array[String]): Unit = {
    val factors = (if (args.nonEmpty) args(0) else "1,10,100")
      .split(',').map(_.trim.toInt).toSeq
    val nearDup = args.length > 1 && args.drop(1).contains("neardup")
    val stream = args.length > 1 && args.drop(1).contains("stream")
    val bpe = args.length > 1 && args.drop(1).contains("bpe")
    val r6 = args.length > 1 && args.drop(1).contains("r6")
    val b5 = args.length > 1 && args.drop(1).contains("b5")
    val b6 = args.length > 1 && args.drop(1).contains("b6")
    val b9 = args.length > 1 && args.drop(1).contains("b9")
    // `tws` measures the transformWithState band (hh / sessions / traillog)
    // at fac x feed volume AND fac x key cardinality: per-batch trigger
    // times print as TWSBATCH lines. The claim under test: a batch's cost
    // tracks ITS input (touched keys), not the accumulated state/corpus —
    // flat TWSBATCH times across batch index and ~constant rows/s across
    // factors.
    val tws = args.length > 1 && args.drop(1).contains("tws")
    // `twsstate` isolates the STATE-CARDINALITY axis the `tws` batch ties
    // to volume (r11 verdict #5): keys HELD in the state store grow fac x
    // (populate batch: one event per key), then three steady batches of
    // FIXED volume touch only the base key set. The 100x hazard for the
    // transformWithState band is per-trigger cost tracking total state
    // (an HDFS-backed store snapshots the whole map per commit); the ops
    // run RocksDB + changelog checkpointing (StreamTune), so the claim
    // under test is steady-batch TWSBATCH times FLAT across factors while
    // stateRows grows fac x. Bytes print per trigger.
    val twsState = args.length > 1 && args.drop(1).contains("twsstate")
    // `manifest` measures the manifest-layout sink's commit/resolve/
    // time-travel/vacuum costs with nbuckets scaled to held rows and the
    // batch pinned — the O(touched buckets) posture, measured (r13).
    val manifestCurve = args.length > 1 && args.drop(1).contains("manifest")
    // `r7` measures the round-7 batch ops: the compaction APPLY rewrite
    // (expected: I/O-linear in corpus bytes), the real-codec PNG
    // encode+decode roundtrip (row-linear, partition-parallel), and the
    // time-series gap-fill (user x day frame, sub-linear in events).
    val r7 = args.length > 1 && args.drop(1).contains("r7")
    // `r8` measures the round-8 ops: the IVF probe-cut decontamination
    // (cells-scaled = the production posture, linear; the brute tier's
    // quadratic bend measured beside it as the documented motivation),
    // the oversized-shard compaction SPLIT (bins must track
    // total-bytes/target, never saturate at the shard count), and the
    // real-codec WAV roundtrip (row-linear, partition-parallel).
    val r8 = args.length > 1 && args.drop(1).contains("r8")
    // `r8c` measures the round-8 THIRD batch: LPA communities (edges
    // linear on dissimilar replicas, 4 bounded rounds), SymSpell edit
    // dedup (variant explode linear, pair tier tracks 1-edit density —
    // flat on dissimilar replicas), ROUGE-2 (bigram build + keyed pair
    // joins, linear), histogram-ECDF quantile norm (one scan + bounded
    // window, linear), k-anonymity (one fused aggregate, linear), and
    // Apriori rules (basket dedup + item-bounded pair join, linear in
    // events).
    val r8c = args.length > 1 && args.drop(1).contains("r8c")
    // `r9` measures the graph family on the PRODUCTION cells-scaled
    // blocking (embedDupCells: two-level product quantizer, nCells =
    // 8 x fac so per-cell population stays ~constant as the corpus
    // grows) — the x100 run the frozen-block tiers could not give
    // (r8 verdict #1). Expected: edge volume and wall linear in fac at
    // x100 where the frozen blocking bends quadratic; the assignment
    // fold is O(sqrt(nCells)) per row by construction, so the quantizer
    // itself cannot be the bend.
    val r9 = args.length > 1 && args.drop(1).contains("r9")
    // `r10auto` measures the AUTO-derived cells tier (r9 verdict #7): the
    // DEFAULT nCells (ceil(corpus / 240), Dedup.autoCells) on the same
    // sign-reflected replicas as r9 — the prior batch pinned a
    // caller-chosen 8 x fac; this one proves the defaulted derivation
    // lands at the same operating point (cells ∝ corpus, per-cell
    // population in the ~240 band, wall linear) with NOBODY passing a
    // cell count. AUTO lines print the derived count + realized mean
    // nonempty-cell population per factor.
    val r10auto = args.length > 1 && args.drop(1).contains("r10auto")
    // `skew` measures salt-vs-plain under a DELIBERATE Zipf hot key
    // (r8 verdict #8): the per-pk compaction window is the operator class
    // AQE cannot re-split (a window partition is atomic, unlike a join),
    // so a pk holding ~half the feed serializes the plain form onto one
    // task while the salted two-stage form stays spread. Output equality
    // is PropertySpec's contract; this tier measures the WALL divergence.
    val skew = args.length > 1 && args.drop(1).contains("skew")
    // keep: leave the replicated tables on disk for stage profiling
    // (graft.tools.Profile <dir> prefix) instead of the default cleanup
    val keep = args.length > 1 && args.drop(1).contains("keep")
    // 256 shuffle partitions, not the harness's 32: the tool's whole point
    // is data 100x the fixtures, and partition sizing belongs to the data
    // (SCALE.md global posture) — at 60M-row shuffles, 32 partitions spill
    // where 256 fit in memory. AQE coalesces the small-factor runs back.
    val spark: SparkSession = graft.GraftSession.get("local[32]", 256)
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.quietBoundedWindowWarnings()
    val sf = "/root/testdata/sf0.1"
    val shift = Replica.Shift

    // the recipe lives in [[Replica]] (shared with StageFixture); the
    // why-distinct-content rationale is documented there
    def replicate(df: DataFrame, keyCols: Set[String], fac: Int,
                  perturbText: Boolean,
                  perturbEmbedding: Boolean = false): DataFrame =
      Replica(spark, df, keyCols, fac, perturbText, perturbEmbedding)

    def time(name: String, fac: Int)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"SCALECURVE $name%-14s x$fac%-4d ${(System.nanoTime() - t0) / 1e9}%8.3f s  rows=$n")
    }

    factors.foreach { fac =>
      // materialize each factor once so timings measure the OPERATOR, not
      // the replication cross-join
      val dir = s"/tmp/graft-scalecurve-$fac"
      // repartition(64) at WRITE time: the replication cross-join inherits
      // the fixture's 1-2 input splits, and a 344 MB table in 2 files caps
      // the later scan/shuffle-write at 2-3 map tasks (measured 160 s for
      // the x100 join). Splitting at the source is the fix SCALE.md's
      // negative-result note prescribes — ingest writes many files; an
      // engine-side blanket reshuffle was measured a loss.
      // skew/twsstate-only runs skip the shared fact staging entirely: those
      // tiers stage their own feeds, and lineitem x200+ in /tmp is pure waste
      val skewOnly = (skew || twsState || manifestCurve) && !(nearDup || stream || bpe || r6 ||
        b5 || b6 || b9 || tws || r7 || r8 || r8c || r9)
      if (fac != 1 && !skewOnly) {
        replicate(spark.read.parquet(s"$sf/lineitem.parquet"),
          Set("l_orderkey"), fac, perturbText = false)
          .repartition(64)
          .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
        replicate(spark.read.parquet(s"$sf/orders.parquet"),
          Set("o_orderkey"), fac, perturbText = false)
          .repartition(64)
          .write.mode("overwrite").parquet(s"$dir/orders.parquet")
        replicate(spark.read.parquet(s"$sf/documents.parquet"),
          Set("doc_id"), fac, perturbText = true)
          .repartition(64)
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      }
      val root = if (fac == 1) sf else dir
      lazy val lf = spark.read.parquet(s"$root/lineitem.parquet")
      lazy val of = spark.read.parquet(s"$root/orders.parquet")
      lazy val df2 = spark.read.parquet(s"$root/documents.parquet")
      if (!skewOnly) {
      lf.count(); of.count(); df2.count() // warm footers + JIT

      time("q1_agg_shape", fac)(
        lf.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("l_quantity")), avg(col("l_extendedprice")), count(lit(1)))
          .count())
      time("join_agg_shape", fac)(
        lf.join(of, lf("l_orderkey") === of("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(round(sum(col("l_extendedprice")), 2))
          .count())
      time("window_shape", fac)(
        of.withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc)))
          .filter(col("rn") === 1).count())
      time("dedup_exact", fac)(
        df2.groupBy(md5(col("text"))).agg(count(lit(1))).count())
      time("dedup_lsh", fac)(graft.ops.Dedup.minhashLsh(spark, root).count())
      }
      if (nearDup) {
        // near-dup composite, two tiers with different expected slopes:
        // decontaminate (keyed shingle semi-join) and dup_spans (positional
        // gram hashes) are the LINEAR-scan half — their slope evidences the
        // tier staying scan-bound as the corpus grows in DISTINCT content.
        // ngram_prefix is the PAIR-generating half: its slope tracks
        // candidate-pair volume (duplication density), not corpus size —
        // flat here because replicas are dissimilar by construction.
        time("decontaminate", fac)(graft.ops.Dedup.decontaminate(spark, root).count())
        time("dup_spans", fac)(graft.ops.TextAnalysis.dupSpans(spark, root).count())
        time("ngram_prefix", fac)(graft.ops.Dedup.ngramJaccardPrefix(spark, root).count())
        // paragraph-block scrub: one digest-keyed window + one doc groupBy —
        // the third linear tier; slope should match dup_spans
        time("para_dedup", fac)(graft.ops.TextAnalysis.paragraphDedup(spark, root).count())
      }
      if (stream) {
        // the checkpointed streaming ingest (two micro-batches through the
        // incremental LSH index): its slope vs the one-shot dedup_lsh line
        // is the cost of incrementality — per-batch index probe + state IO
        time("dedup_stream", fac)(
          graft.streaming.DedupStream.streamedPairs(spark, root).count())
        // phase breakdown of the same run shape, so the gap vs one-shot is
        // attributed (staging write? streaming machinery? the operator?):
        // drive the SAME two halves through updateLsh directly from the
        // well-partitioned source — stream-minus-direct is the harness
        // (feed layout + checkpoint) overhead
        val sroot = s"/tmp/graft-scurve-streamprof-$fac"
        val sp = new org.apache.hadoop.fs.Path(sroot)
        val sfs = sp.getFileSystem(spark.sessionState.newHadoopConf())
        sfs.delete(sp, true)
        val halves = graft.streaming.DedupStream.corpusHalves(
          df2.select(col("doc_id"), col("text")))
        time("direct_batch0", fac)(graft.ops.IncrementalDedup.updateLsh(
          spark, s"$sroot/state", halves(0), batchId = Some(0L)).count())
        time("direct_batch1", fac)(graft.ops.IncrementalDedup.updateLsh(
          spark, s"$sroot/state", halves(1), batchId = Some(1L)).count())
        sfs.delete(sp, true)
        ()
      }

      if (tws) {
        if (fac != 1)
          replicate(spark.read.parquet(s"$sf/events.parquet"),
            Set("event_id", "user_id"), fac, perturbText = false)
            .repartition(64)
            .write.mode("overwrite").parquet(s"$dir/events.parquet")
        val sroot = s"/tmp/graft-scurve-tws-$fac"
        val spth = new org.apache.hadoop.fs.Path(sroot)
        val sfs2 = spth.getFileSystem(spark.sessionState.newHadoopConf())
        sfs2.delete(spth, true)
        val ev = graft.ops.Tables.events(spark, root)
          .select(col("event_id"), col("ts"), col("user_id"), col("value"))
          .withColumn("tsu", unix_micros(col("ts")))
        ev.persist(); ev.count()
        // fixed batch COUNT at every factor: batch volume grows fac x, so
        // rows/s per batch is the throughput axis
        def qsplit(n: Int): Seq[DataFrame] = {
          val cuts = ev.stat.approxQuantile("tsu",
            (1 until n).map(_.toDouble / n).toArray, 0.001)
          val bounds = (Double.MinValue +: cuts :+ Double.MaxValue)
            .sliding(2).toSeq
          bounds.map { case Array(lo, hi) =>
            ev.filter(col("tsu") > lo && col("tsu") <= hi) }
        }
        def drain(name: String)(
            startQ: => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
          val t0 = System.nanoTime()
          val q = startQ
          try q.processAllAvailable() finally q.stop()
          val wall = (System.nanoTime() - t0) / 1e9
          val stats = graft.streaming.StreamLatency.stats(q)
          val rows = stats.map(_.inputRows).sum
          val stateRows = q.recentProgress
            .flatMap(_.stateOperators.map(_.numRowsTotal))
            .foldLeft(0L)(math.max)
          println(f"SCALECURVE tws_$name%-11s x$fac%-4d $wall%8.3f s  " +
            f"rows=$rows  rows/s=${if (wall > 0) rows / wall else 0.0}%.0f  " +
            s"stateRows=$stateRows")
          stats.foreach(s => println(
            f"TWSBATCH $name x$fac batch=${s.batchId} ${s.seconds}%6.3f s " +
              s"in=${s.inputRows}"))
        }
        val batches = qsplit(4)
        graft.streaming.DedupStream.stageBatches(s"$sroot/hh/feed",
          batches.map(_.select(col("user_id"))))
        drain("hh")(graft.streaming.StreamHeavyHitters.start(
          spark, s"$sroot/hh/feed", s"$sroot/hh/alerts", s"$sroot/hh/ckpt"))
        graft.streaming.DedupStream.stageBatches(s"$sroot/sess/feed",
          batches.map(_.select(col("user_id"), col("ts"))))
        drain("sessions")(graft.streaming.StreamSessions.start(
          spark, s"$sroot/sess/feed", s"$sroot/sess/out", s"$sroot/sess/ckpt",
          java.time.Duration.ofSeconds(86400L)))
        val tmax = ev.agg(max(col("tsu"))).head().getLong(0)
        val sentinelT = ev.select(col("user_id")).distinct()
          .select(lit(-1L).as("event_id"),
            timestamp_micros(lit(tmax + 1000000L)).as("ts"),
            col("user_id"), lit(0.0).as("value"), lit(true).as("sentinel"))
        graft.streaming.DedupStream.stageBatches(s"$sroot/trail/feed",
          batches.map(_.select(col("event_id"), col("ts"), col("user_id"),
            col("value"), lit(false).as("sentinel"))) :+ sentinelT)
        drain("traillog")(graft.streaming.StreamTrailLog.start(
          spark, s"$sroot/trail/feed", s"$sroot/trail/out", s"$sroot/trail/ckpt"))
        ev.unpersist()
        sfs2.delete(spth, true)
        ()
      }

      if (twsState) {
        // synthetic feeds: key cardinality is the ONLY thing that grows
        // with fac; steady-batch volume is pinned. No fixture staging.
        val baseKeys = 2000L
        val steadyRows = 20000L
        val u = baseKeys * fac
        val t0us = 1700000000L * 1000000L
        val sroot = s"/tmp/graft-scurve-twsstate-$fac"
        val spth = new org.apache.hadoop.fs.Path(sroot)
        val sfs2 = spth.getFileSystem(spark.sessionState.newHadoopConf())
        sfs2.delete(spth, true)
        // populate: ONE event per key — every key enters the state store
        // and (sessions gap >> feed span) stays held for the whole run
        val populate = spark.range(u).select(
          col("id").as("event_id"),
          timestamp_micros(lit(t0us) + (col("id") % 997L) * 100000L).as("ts"),
          col("id").as("user_id"),
          (col("id") % 100L).cast("double").as("value"))
        // steady batches: fixed rows, only the base key set touched; event
        // time advances one hour per batch so watermarks/timers move
        def steady(b: Int): DataFrame = spark.range(steadyRows).select(
          (lit(1000000L) * b + col("id")).as("event_id"),
          timestamp_micros(lit(t0us) + lit(b * 3600L * 1000000L) +
            (col("id") % 997L) * 100000L).as("ts"),
          pmod(col("id"), lit(baseKeys)).as("user_id"),
          (col("id") % 100L).cast("double").as("value"))
        val batches = populate +: (1 to 3).map(steady)
        def drainS(name: String)(
            startQ: => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
          val t0 = System.nanoTime()
          val q = startQ
          try q.processAllAvailable() finally q.stop()
          val wall = (System.nanoTime() - t0) / 1e9
          val progress = q.recentProgress
          val stateRows = progress
            .flatMap(_.stateOperators.map(_.numRowsTotal))
            .foldLeft(0L)(math.max)
          println(f"SCALECURVE twsstate_$name%-9s x$fac%-4d $wall%8.3f s  " +
            s"keys=$u stateRows=$stateRows")
          progress.filter(_.numInputRows > 0).foreach { p =>
            val bytes = p.stateOperators.map(_.memoryUsedBytes).sum
            println(f"TWSBATCH twsstate_$name x$fac batch=${p.batchId} " +
              f"${p.batchDuration / 1000.0}%6.3f s in=${p.numInputRows} " +
              s"stateBytes=$bytes")
          }
        }
        graft.streaming.DedupStream.stageBatches(s"$sroot/hh/feed",
          batches.map(_.select(col("user_id"))))
        drainS("hh")(graft.streaming.StreamHeavyHitters.start(
          spark, s"$sroot/hh/feed", s"$sroot/hh/alerts", s"$sroot/hh/ckpt"))
        graft.streaming.DedupStream.stageBatches(s"$sroot/sess/feed",
          batches.map(_.select(col("user_id"), col("ts"))))
        drainS("sessions")(graft.streaming.StreamSessions.start(
          spark, s"$sroot/sess/feed", s"$sroot/sess/out", s"$sroot/sess/ckpt",
          java.time.Duration.ofSeconds(86400L)))
        // traillog closes on a sentinel batch over every key (the tws
        // convention) — its cost legitimately tracks key count and is
        // reported as its own trigger line, separate from the steady band
        val sentinelT = spark.range(u).select(
          lit(-1L).as("event_id"),
          timestamp_micros(lit(t0us) + lit(5L * 3600L * 1000000L)).as("ts"),
          col("id").as("user_id"), lit(0.0).as("value"),
          lit(true).as("sentinel"))
        graft.streaming.DedupStream.stageBatches(s"$sroot/trail/feed",
          batches.map(_.select(col("event_id"), col("ts"), col("user_id"),
            col("value"), lit(false).as("sentinel"))) :+ sentinelT)
        drainS("traillog")(graft.streaming.StreamTrailLog.start(
          spark, s"$sroot/trail/feed", s"$sroot/trail/out", s"$sroot/trail/ckpt"))
        sfs2.delete(spth, true)
        ()
      }

      if (manifestCurve) {
        // the manifest-layout commit-cost axes (r13): with the bucket
        // modulus scaled to the data (constant ~1.5k rows/bucket — the
        // production layout rule), a micro-batch confined to a BOUNDED
        // bucket set must cost the same no matter how many rows the store
        // HOLDS, and the per-scan manifest resolve must stay a
        // few-millisecond text parse as the bucket count grows. fac scales
        // held rows and nbuckets TOGETHER; batch volume and the touched
        // bucket set are pinned. No fixture staging (synthetic keys).
        import graft.cdc.{BucketedUpsertSink, ManifestStore}
        import org.apache.spark.sql.types.{LongType, StructField, StructType}
        val held = 100000L * fac
        val nb = 64 * fac
        val mroot = s"/tmp/graft-scurve-manifest-$fac"
        val mpth = new org.apache.hadoop.fs.Path(mroot)
        val mfs = mpth.getFileSystem(spark.sessionState.newHadoopConf())
        mfs.delete(mpth, true)
        val mpath = s"$mroot/state"
        val payload = StructType(Seq(
          StructField("id", LongType), StructField("score", LongType)))
        val freshM = spark.range(held).select(col("id"), col("id").as("score"))
        time("manifest_publish", fac) {
          val st = ManifestStore.stageFull(spark, mpath, freshM, "id", nb,
            Seq("score"))
          ManifestStore.publishFull(spark, mpath, st); held
        }
        // pinned batch: 10k updates confined to the first 8 buckets — the
        // clustered-batch shape the layout's O(touched buckets) claim is
        // about (each bucket holds ~1.5k rows at every fac, so the batch
        // rewrites ~12k rows regardless of held volume)
        val batchIds = spark.range(held)
          .filter(BucketedUpsertSink.bucketOf(col("id"), nb) < 8)
          .limit(10000).select(col("id")).localCheckpoint(true)
        (1 to 5).foreach { i =>
          val changes = batchIds.select(lit("update").as("op"), col("id"),
            (col("id") + i).as("score"))
          val t0 = System.nanoTime()
          BucketedUpsertSink.applyBatch(spark, mpath, changes, "id", nb,
            Some(payload), statCols = Seq("score"))
          println(f"MANIFESTBATCH x$fac commit=$i " +
            f"${(System.nanoTime() - t0) / 1e9}%6.3f s in=10000 touched<=8")
        }
        time("manifest_resolve", fac) {
          ManifestStore.currentManifest(spark, mpath).get.buckets.size.toLong
        }
        time("manifest_timetravel", fac)(
          ManifestStore.readStateAt(spark, mpath, payload, 1L).count())
        time("manifest_read_now", fac)(
          ManifestStore.readState(spark, mpath, payload).count())
        time("manifest_vacuum", fac) {
          ManifestStore.vacuum(spark, mpath, keepVersions = 2, minAgeMs = 0L)
          0L
        }
        mfs.delete(mpth, true)
        ()
      }

      if (r7) {
        if (fac != 1)
          replicate(spark.read.parquet(s"$sf/events.parquet"),
            Set("event_id", "user_id"), fac, perturbText = false)
            .repartition(64)
            .write.mode("overwrite").parquet(s"$dir/events.parquet")
        time("compact_apply", fac)(
          graft.ops.Maintenance.compactionApplyQuery(spark, root).count())
        time("png_roundtrip", fac)(
          graft.ops.Multimodal.pngMetaQuery(spark, root).count())
        time("gapfill", fac)(
          graft.ops.Relational.gapFill(spark, root).count())
        // the unigram trainer steps over DUPLICATE-text replicas (the bpe
        // batch's axis): the corpus grows fac x while the vocabulary stays
        // constant, so the E-step folds (distinct-word-bound) must stay
        // FLAT and only the two corpus aggregates may grow
        val ddup = s"/tmp/graft-scurve-r7dup-$fac"
        if (fac != 1)
          replicate(spark.read.parquet(s"$sf/documents.parquet"),
            Set("doc_id"), fac, perturbText = false)
            .repartition(64)
            .write.mode("overwrite").parquet(s"$ddup/documents.parquet")
        val uroot = if (fac == 1) sf else ddup
        time("unigram_em", fac)(
          graft.ops.TextAnalysis.unigramEmRound(spark, uroot).count())
        time("unigram_prune", fac)(
          graft.ops.TextAnalysis.unigramPrune(spark, uroot).count())
        // same cleanup discipline as every other per-tier staging dir
        // (review r11): the x100 duplicate-text replica is multi-GB and
        // was the one dir left to fill /tmp across repeated runs
        if (fac != 1 && !keep) {
          val p = new org.apache.hadoop.fs.Path(ddup)
          p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
          ()
        }
        ()
      }

      if (r8) {
        // sign-reflected embedding replicas (the sem_dedup axis): the
        // corpus grows in DISTINCT directions, so the screen measures
        // scan/candidate scaling, not duplicate multiplicity
        val edir = s"/tmp/graft-scalecurve-r8-$fac"
        val eroot =
          if (fac == 1) sf
          else {
            replicate(spark.read.parquet(s"$sf/embeddings.parquet"),
              Set("vec_id"), fac, perturbText = false,
              perturbEmbedding = true)
              .repartition(64)
              .write.mode("overwrite").parquet(s"$edir/embeddings.parquet")
            edir
          }
        spark.read.parquet(s"$eroot/embeddings.parquet").count() // warm
        // cells-scaled probe cut (the FAISS posture: nCells tracks the
        // corpus, per-cell size constant): candidates per test vector are
        // CONSTANT, so the screen is linear in the corpus. The per-row
        // assignment fold is O(nCells) by construction (a real deployment
        // runs a BLAS/SIMD coarse quantizer), which caps the local
        // harness at x10 — the 1 -> 10 slope is the linearity evidence.
        if (fac <= 10) {
          time("decon_ivf_scl", fac)(
            graft.ops.Similarity.decontaminateEmbedIvf(spark, eroot,
              nCells = 8 * fac, nProbe = 4).count())
          // the brute tier is QUADRATIC by design (0.2N x 0.8N broadcast
          // cross) — measured beside the cut as its documented motivation,
          // the knn_cells_fixed pattern
          time("decon_brute", fac)(
            graft.ops.Similarity.decontaminateEmbed(spark, eroot).count())
        }
        // compaction split under byte pressure: 8 shards vs an 8 KiB
        // target — every shard oversized at every factor; the bin count
        // (rows=) must grow ~fac x (total/target), never pin at 8 = shards
        time("compact_split", fac)(
          graft.ops.Maintenance.compactionApplyQuery(spark, root,
            shards = 8, targetBytes = 8192).count())
        time("wav_roundtrip", fac)(
          graft.ops.Multimodal.wavMetaQuery(spark, root).count())
        // second-batch linear tiers: SQ8 (posexplode + two dim-keyed
        // aggs), the fused dataset card, NFC normalization (per-row
        // codegen), and the k-core peel (edges ~ fac x on dissimilar
        // replicas, bounded rounds)
        time("embed_sq8", fac)(
          graft.ops.Similarity.embedSq8(spark, eroot).count())
        time("data_card", fac)(
          graft.ops.TextAnalysis.dataCard(spark, root).count())
        time("nfc_normalize", fac)(
          graft.ops.TextAnalysis.textNormalize(spark, root).count())
        // frozen (label, sign-cell) blocks make the x100 edge build the
        // knn_cells_fixed quadratic — measured information-free there; the
        // production posture scales cells via kmeansFit like the KNN graph
        if (fac <= 10)
          time("kcore", fac)(
            graft.ops.Graph.kCore(spark, eroot).count())
        if (fac != 1 && !keep) {
          val p = new org.apache.hadoop.fs.Path(edir)
          p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
          ()
        }
      }

      if (r8c) {
        // text tiers ride the shared dissimilar-replica documents in
        // `root`: replica-suffixed tokens make prefix keys distinct
        // (edit dedup's pair tier must stay flat) and the doc_id shift
        // preserves in-replica adjacency (rouge pairs grow linearly)
        time("edit_dedup", fac)(
          graft.ops.Dedup.editDedup(spark, root).count())
        time("rouge2", fac)(
          graft.ops.TextAnalysis.rouge(spark, root).count())
        time("quantile_norm", fac)(
          graft.ops.Sampling.quantileNorm(spark, root).count())
        time("kanon", fac)(
          graft.ops.QualityChecks.kAnonymity(spark, root).count())
        // fourth-batch text tiers on the same replicas: KN model stats
        // are vocabulary-bound aggregates + keyed scoring joins (linear
        // scan); the zipf head cut is TakeOrderedAndProject (flat)
        time("kn_lm", fac)(
          graft.ops.TextAnalysis.knLmScore(spark, root).count())
        time("zipf", fac)(
          graft.ops.TextAnalysis.zipfFit(spark, root).count())
        // seventh-batch tiers: FIM is per-row slicing (flat), context
        // pack is chunk+filter linear with a bounded pack window,
        // erasure is one fused aggregate (flat)
        time("fim_split", fac)(
          graft.ops.TrainingPipeline.fimSplit(spark, root).count())
        time("erasure", fac)(
          graft.ops.TrainingPipeline.erasureAudit(spark, root).count())
        // context pack rides a DUPLICATE-text replica (the bpe_encode
        // axis): the perturbed replicas rewrite every token, so the
        // query terms would never match and the candidate set would be
        // vacuously empty; duplicate text keeps candidates ~fac x while
        // the pack stays budget-bounded
        val cpdir = s"/tmp/graft-scalecurve-r8c-cp-$fac"
        val cproot =
          if (fac == 1) sf
          else {
            replicate(spark.read.parquet(s"$sf/documents.parquet"),
              Set("doc_id"), fac, perturbText = false)
              .repartition(64)
              .write.mode("overwrite").parquet(s"$cpdir/documents.parquet")
            cpdir
          }
        spark.read.parquet(s"$cproot/documents.parquet").count() // warm
        time("context_pack", fac)(
          graft.ops.TrainingPipeline.contextPack(spark, cproot).count())
        if (fac != 1 && !keep) {
          val p = new org.apache.hadoop.fs.Path(cpdir)
          p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
          ()
        }
        // events replicated on (event_id, user_id): baskets grow fac x,
        // the item vocabulary stays fixed — the Apriori posture
        val avdir = s"/tmp/graft-scalecurve-r8c-ev-$fac"
        val avroot =
          if (fac == 1) sf
          else {
            replicate(spark.read.parquet(s"$sf/events.parquet"),
              Set("event_id", "user_id"), fac, perturbText = false)
              .repartition(64)
              .write.mode("overwrite").parquet(s"$avdir/events.parquet")
            avdir
          }
        spark.read.parquet(s"$avroot/events.parquet").count() // warm
        time("assoc_rules", fac)(
          graft.ops.FrequentItems.assocRules(spark, avroot).count())
        // transition matrix over the same replicated events: journeys
        // grow fac x in count, not length — the bounded-window posture
        time("markov_paths", fac)(
          graft.ops.Relational.markovPaths(spark, avroot).count())
        // ordered funnel over the same replicated events: users grow
        // fac x, step passes stay constant
        time("funnel_steps", fac)(
          graft.ops.Relational.funnelSteps(spark, avroot).count())
        if (fac != 1 && !keep) {
          val p = new org.apache.hadoop.fs.Path(avdir)
          p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
          ()
        }
        // sign-reflected embeddings (the kcore axis): edges linear in
        // fac; frozen (label, sign-cell) blocks make x100 the
        // knn_cells_fixed quadratic, so the LPA tier caps at x10 like
        // kcore — the production posture scales cells via kmeansFit
        val lpdir = s"/tmp/graft-scalecurve-r8c-emb-$fac"
        val lproot =
          if (fac == 1) sf
          else {
            replicate(spark.read.parquet(s"$sf/embeddings.parquet"),
              Set("vec_id"), fac, perturbText = false,
              perturbEmbedding = true)
              .repartition(64)
              .write.mode("overwrite").parquet(s"$lpdir/embeddings.parquet")
            lpdir
          }
        spark.read.parquet(s"$lproot/embeddings.parquet").count() // warm
        if (fac <= 10) {
          time("label_prop", fac)(
            graft.ops.Graph.labelProp(spark, lproot).count())
          time("dbscan", fac)(
            graft.ops.Graph.dbscan(spark, lproot).count())
          // k-occurrence over the kNN graph: same frozen-block x10 cap
          time("hubness", fac)(
            graft.ops.Similarity.hubness(spark, lproot).count())
        }
        if (fac != 1 && !keep) {
          val p = new org.apache.hadoop.fs.Path(lpdir)
          p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
          ()
        }
      }

      if (r9) {
        // same sign-reflected embedding replicas as the r8c graph tiers —
        // the corpus grows in distinct directions, edge structure linear
        val gdir = s"/tmp/graft-scalecurve-r9-emb-$fac"
        val groot =
          if (fac == 1) sf
          else {
            replicate(spark.read.parquet(s"$sf/embeddings.parquet"),
              Set("vec_id"), fac, perturbText = false,
              perturbEmbedding = true)
              .repartition(64)
              .write.mode("overwrite").parquet(s"$gdir/embeddings.parquet")
            gdir
          }
        spark.read.parquet(s"$groot/embeddings.parquet").count() // warm
        val cells = 8 * fac
        time("edges_cells", fac)(
          graft.ops.Dedup.embedDupCells(spark, groot, 0.15, cells).count())
        time("lpa_cells", fac)(
          graft.ops.Graph.labelProp(spark, groot,
            blocking = "cells", nCells = cells).count())
        time("dbscan_cells", fac)(
          graft.ops.Graph.dbscan(spark, groot,
            blocking = "cells", nCells = cells).count())
        time("kcore_cells", fac)(
          graft.ops.Graph.kCore(spark, groot,
            blocking = "cells", nCells = cells).count())
        time("knn_cells_q", fac)(
          graft.ops.Similarity.knnGraph(spark, groot,
            blocking = "cells", nCells = cells).count())
        time("hubness_cells", fac)(
          graft.ops.Similarity.hubness(spark, groot,
            blocking = "cells", nCells = cells).count())
        // r11: pageRank and triangles gained the cells tier (review r11
        // closed the last two signcell-pinned graph ops) — measured on the
        // same replicas so the whole family shares one curve
        time("pagerank_cells", fac)(
          graft.ops.Graph.pageRank(spark, groot,
            blocking = "cells", nCells = cells).count())
        time("triangles_cells", fac)(
          graft.ops.Graph.triangles(spark, groot, threshold = 0.15,
            blocking = "cells", nCells = cells).count())
        if (fac != 1 && !keep) {
          val p = new org.apache.hadoop.fs.Path(gdir)
          p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
          ()
        }
      }

      if (r10auto) {
        // same staging as r9 (sign-reflected distinct replicas)
        val gdir = s"/tmp/graft-scalecurve-r10a-emb-$fac"
        val groot =
          if (fac == 1) sf
          else {
            replicate(spark.read.parquet(s"$sf/embeddings.parquet"),
              Set("vec_id"), fac, perturbText = false,
              perturbEmbedding = true)
              .repartition(64)
              .write.mode("overwrite").parquet(s"$gdir/embeddings.parquet")
            gdir
          }
        val n = spark.read.parquet(s"$groot/embeddings.parquet").count() // warm
        val derived = graft.ops.Dedup.autoCells(n)
        // DEFAULTED call: no caller-pinned cell count anywhere
        time("edges_cells_auto", fac)(
          graft.ops.Dedup.embedDupCells(spark, groot, 0.15).count())
        // untimed diagnostic: re-runs the assignment (the timed calls stay
        // pure measurements of the defaulted public entry points)
        val nonempty = graft.ops.Dedup.productCellAssign(spark, groot, derived)
          .select("cell").distinct().count()
        println(f"AUTO fac=x$fac%-4d corpus=$n%-9d derived_cells=$derived%-7d " +
          f"nonempty=$nonempty%-7d mean_pop=${n.toDouble / math.max(1L, nonempty)}%.1f")
        time("knn_cells_auto", fac)(
          graft.ops.Similarity.knnGraph(spark, groot,
            blocking = "cells").count())
        if (fac != 1 && !keep) {
          val p = new org.apache.hadoop.fs.Path(gdir)
          p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
          ()
        }
      }

      if (skew) {
        // deterministic Zipf(s=3) pk via inverse-CDF over an md5 uniform
        // (pk = floor((1-u)^(-1/(s-1)))): P(pk = k) ~ 1/k^3, so pk 1
        // alone holds ~75% of the feed — the
        // pathological hot key, reproducible on both engines and at every
        // factor. The feed replicates events fac x with distinct offsets.
        val feed = replicate(
            spark.read.parquet(s"$sf/events.parquet")
              .select(col("event_id"), col("user_id")),
            Set("event_id"), math.max(fac, 1), perturbText = false)
          .select(col("event_id").as("offset"), lit("t").as("table"),
            expr("""cast(floor(power(1.0 - (cast(conv(substring(md5(concat('graft_zipf:', cast(event_id as string))), 1, 15), 16, 10) as double) / 1152921504606846976.0), -0.5)) as bigint)""")
              .as("pk"),
            // a realistic CDC payload (~256 B): the skew pathology is a
            // WIDE hot partition — narrow 8-byte keys sort too fast
            // single-task to ever hurt (measured: 25M-row hot key, 4.5 s)
            expr("repeat(md5(cast(event_id as string)), 8)").as("data"))
          .repartition(64)
          .localCheckpoint(true)
        val hot = feed.groupBy(col("pk")).count()
          .orderBy(col("count").desc).limit(1).head()
        println(s"SKEWFEED x$fac rows=${feed.count()} hottest pk=${hot.getLong(0)} share=${hot.getLong(1)}")
        // aggregate over the payload so column pruning cannot narrow the
        // window's sort rows to bare keys (count() alone measures an
        // 8-byte-row sort, which never hurts)
        time("lww_plain", fac)(
          graft.cdc.Transforms.lastWriteWins(feed, col("pk"))
            .agg(sum(length(col("data")))).head().getLong(0))
        time("lww_salted", fac)(
          graft.cdc.Transforms.saltedLastWriteWins(feed, col("pk"), salt = 16)
            .agg(sum(length(col("data")))).head().getLong(0))
      }

      if (r6) {
        // the round-6 operators. Expected slopes: pmi/hard_negatives/rrf
        // legs linear in the corpus (scan/agg tiers); the rrf FUSION and
        // each top-N constant; dedup_apply = flat pair graph (dissimilar
        // replicas) + one linear disposition join.
        if (fac != 1)
          replicate(spark.read.parquet(s"$sf/embeddings.parquet"),
            Set("vec_id"), fac, perturbText = false)
            .repartition(64)
            .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
        time("pmi_colloc", fac)(
          graft.ops.TextAnalysis.pmiCollocations(spark, root).count())
        time("rrf_fusion", fac)(
          graft.ops.Similarity.hybridRetrieve(spark, root).count())
        time("hard_negs", fac)(
          graft.ops.Similarity.hardNegatives(spark, root).count())
        time("dedup_apply", fac)(
          graft.ops.Dedup.dedupApply(spark, root).count())
        // sem_dedup over sign-reflected embedding replicas (see
        // replicate): distinct directions, linear pair graph. The
        // unperturbed replica above would hand sem_dedup fac identical
        // copies of every vector — fac^2/2 REAL eps-pairs per original —
        // measuring the dup-multiplicity pathology instead of scan/agg
        // scaling, exactly the text-perturbation rationale.
        val sedir = s"/tmp/graft-scalecurve-semb-$fac"
        val seroot =
          if (fac == 1) sf
          else {
            replicate(spark.read.parquet(s"$sf/embeddings.parquet"),
              Set("vec_id"), fac, perturbText = false,
              perturbEmbedding = true)
              .repartition(64)
              .write.mode("overwrite").parquet(s"$sedir/embeddings.parquet")
            sedir
          }
        spark.read.parquet(s"$seroot/embeddings.parquet").count() // warm
        time("sem_dedup", fac)(
          graft.ops.Dedup.semDedup(spark, seroot).count())
        if (fac != 1 && !keep) {
          val p = new org.apache.hadoop.fs.Path(sedir)
          p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
          ()
        }
        // duplicate-text replica (vocabulary constant, like the bpe tier):
        // the encode phase must NOT grow with fac — only the corpus join
        val edir = s"/tmp/graft-scalecurve-enc-$fac"
        val eroot =
          if (fac == 1) sf
          else {
            replicate(spark.read.parquet(s"$sf/documents.parquet"),
              Set("doc_id"), fac, perturbText = false)
              .repartition(64)
              .write.mode("overwrite").parquet(s"$edir/documents.parquet")
            edir
          }
        spark.read.parquet(s"$eroot/documents.parquet").count() // warm
        time("bpe_encode", fac)(
          graft.ops.TextAnalysis.bpeEncode(spark, eroot).count())
        if (fac != 1 && !keep) {
          val p = new org.apache.hadoop.fs.Path(edir)
          p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
          ()
        }
      }

      if (b5) {
        // fifth-batch operators, each on the replica axis that isolates
        // its claimed cost driver:
        // - weighted_sample on the DISTINCT-content corpus: one scan +
        //   per-partition heaps — must be scan-linear with a constant
        //   driver merge (k rows whatever fac is)
        time("weighted_sample", fac)(
          graft.ops.Sampling.weightedSample(spark, root).count())
        // - heavy_hitters + wordpiece on DUPLICATE-text replicas:
        //   vocabulary constant, counts scale with fac, so token SHARES —
        //   and therefore the heavy-hitter answer — are fac-invariant
        //   while the sketch/recount scans grow linearly; the wordpiece
        //   fold runs over the SAME distinct-word table at every fac, so
        //   fit-minus-scan must stay flat (the unigram/bpe claim, greedy
        //   flavor)
        val hdir = s"/tmp/graft-scalecurve-b5-$fac"
        val hroot =
          if (fac == 1) sf
          else {
            replicate(spark.read.parquet(s"$sf/documents.parquet"),
              Set("doc_id"), fac, perturbText = false)
              .repartition(64)
              .write.mode("overwrite").parquet(s"$hdir/documents.parquet")
            hdir
          }
        spark.read.parquet(s"$hroot/documents.parquet").count() // warm
        time("heavy_hitters", fac)(
          graft.ops.FrequentItems.heavyHitters(spark, hroot).count())
        time("wordpiece_enc", fac)(
          graft.ops.TextAnalysis.wordpieceEncode(spark, hroot).count())
        if (fac != 1 && !keep) {
          val p = new org.apache.hadoop.fs.Path(hdir)
          p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
          ()
        }
        // - pagerank on sign-REFLECTED embedding replicas (the sem_dedup
        //   rationale): the eps-neighbor graph grows linearly in fac, so
        //   per-iteration join+agg cost must track edges, not fac^2
        val pdir = s"/tmp/graft-scalecurve-b5pr-$fac"
        val proot =
          if (fac == 1) sf
          else {
            replicate(spark.read.parquet(s"$sf/embeddings.parquet"),
              Set("vec_id"), fac, perturbText = false,
              perturbEmbedding = true)
              .repartition(64)
              .write.mode("overwrite").parquet(s"$pdir/embeddings.parquet")
            pdir
          }
        spark.read.parquet(s"$proot/embeddings.parquet").count() // warm
        time("pagerank", fac)(
          graft.ops.Graph.pageRank(spark, proot).count())
        if (fac != 1 && !keep) {
          val p = new org.apache.hadoop.fs.Path(pdir)
          p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
          ()
        }
      }

      if (b6) {
        // sixth/seventh-batch operators.
        // - epoch_order on the distinct-content corpus: hash + skew-free
        //   shard windows — must be scan-linear
        time("epoch_order", fac)(
          graft.ops.Sampling.epochOrder(spark, root).count())
        // - dq_checks over the replicated fact tables (customer stays the
        //   unreplicated dimension — replica orders keep their custkeys, so
        //   referential integrity still holds): fused single-pass metrics
        //   must track the scans
        if (fac != 1) {
          val cp = new org.apache.hadoop.fs.Path(s"$dir/customer.parquet")
          val cfs = cp.getFileSystem(spark.sessionState.newHadoopConf())
          if (!cfs.exists(cp))
            spark.read.parquet(s"$sf/customer.parquet")
              .write.mode("overwrite").parquet(s"$dir/customer.parquet")
        }
        time("dq_checks", fac)(
          graft.ops.QualityChecks.dqChecks(spark, root).count())
        // - triangles + bitext on sign-reflected embedding replicas (the
        //   pagerank axis): triangles must track the oriented wedge
        //   volume; bitext's brute-force scoring tier is QUADRATIC in the
        //   per-label corpus BY DESIGN — the measured bend is the
        //   documented motivation for the IVF-PQ candidate generator at
        //   production scale
        val gdir = s"/tmp/graft-scalecurve-b6-$fac"
        val groot =
          if (fac == 1) sf
          else {
            replicate(spark.read.parquet(s"$sf/embeddings.parquet"),
              Set("vec_id"), fac, perturbText = false,
              perturbEmbedding = true)
              .repartition(64)
              .write.mode("overwrite").parquet(s"$gdir/embeddings.parquet")
            gdir
          }
        spark.read.parquet(s"$groot/embeddings.parquet").count() // warm
        time("triangles", fac)(
          graft.ops.Graph.triangles(spark, groot).count())
        time("bitext_mine", fac)(
          graft.ops.Similarity.bitextMine(spark, groot).count())
        if (fac != 1 && !keep) {
          val p = new org.apache.hadoop.fs.Path(gdir)
          p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
          ()
        }
      }

      if (b9) {
        // ninth-batch operators: layout + profiling ops over the
        // key-shifted fact replicas (scan-linear by construction), and the
        // blocked KNN graph on BOTH scaling axes — cells-fixed (per-cell
        // quadratic, the documented pathology) vs cells-scaled (per-cell
        // size constant as the corpus grows — the production posture,
        // where nCells tracks the corpus via kmeansFit).
        val ztmp = s"/tmp/graft-scalecurve-zw-$fac"
        time("zorder_write", fac) {
          graft.ops.Layout.zorderWrite(spark, root, ztmp, shards = 64)
          spark.read.parquet(ztmp).count()
        }
        locally {
          val p = new org.apache.hadoop.fs.Path(ztmp)
          p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
        }
        time("zone_map", fac)(
          graft.ops.Layout.zoneMap(spark, root).count())
        time("corr_matrix", fac)(
          graft.ops.Relational.corrMatrix(spark, root).count())

        val kdir = s"/tmp/graft-scalecurve-b9-$fac"
        val (krootFixed, krootScaled) =
          if (fac == 1) (sf, sf)
          else {
            val rep = replicate(spark.read.parquet(s"$sf/embeddings.parquet"),
              Set("vec_id"), fac, perturbText = false,
              perturbEmbedding = true)
            rep.repartition(64)
              .write.mode("overwrite").parquet(s"$kdir/fixed/embeddings.parquet")
            // cells-scaled: each replica contributes its own cells, so the
            // cell SIZE stays the fixture's while cell COUNT grows fac x
            rep.withColumn("label",
              (col("label") + (floor(col("vec_id") / shift) * 1000)).cast("int"))
              .repartition(64)
              .write.mode("overwrite").parquet(s"$kdir/scaled/embeddings.parquet")
            (s"$kdir/fixed", s"$kdir/scaled")
          }
        spark.read.parquet(s"$krootScaled/embeddings.parquet").count() // warm
        time("knn_cells_scaled", fac)(
          graft.ops.Similarity.knnGraph(spark, krootScaled).count())
        // the frozen-cell pathology is quadratic BY CONSTRUCTION — x10
        // demonstrates the bend (0.9 -> 14-25 s); x100 of a known
        // quadratic is 100x that, measured information-free
        if (fac <= 10)
          time("knn_cells_fixed", fac)(
            graft.ops.Similarity.knnGraph(spark, krootFixed).count())
        if (fac != 1 && !keep) {
          val p = new org.apache.hadoop.fs.Path(kdir)
          p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
          ()
        }
      }

      if (bpe) {
        // duplicate-text replica: vocabulary constant, corpus fac x
        val bdir = s"/tmp/graft-scalecurve-bpe-$fac"
        val broot =
          if (fac == 1) sf
          else {
            replicate(spark.read.parquet(s"$sf/documents.parquet"),
              Set("doc_id"), fac, perturbText = false)
              .repartition(64)
              .write.mode("overwrite").parquet(s"$bdir/documents.parquet")
            bdir
          }
        val bdocs = spark.read.parquet(s"$broot/documents.parquet")
        bdocs.count() // warm
        // phase 1, corpus-bound: the trainer's ONE corpus scan (token
        // explode + count into the distinct-token table)
        time("bpe_corpus_scan", fac)(
          bdocs.select(explode(split(col("text"), " ")).as("tok"))
            .groupBy(col("tok")).agg(count(lit(1))).count())
        // full trainer (3 merge rounds); fit-minus-scan is the per-round
        // tier, which must NOT grow with fac
        time("bpe_fit", fac)(
          graft.ops.TextAnalysis.bpeFit(spark, broot).count())
        // unigram family on the same duplicate-text replicas: the piece
        // inventory and the Viterbi DP are both claimed vocabulary-bound —
        // only the initial word count may grow with fac
        time("unigram_counts", fac)(
          graft.ops.TextAnalysis.unigramCounts(spark, broot).count())
        time("unigram_encode", fac)(
          graft.ops.TextAnalysis.unigramEncode(spark, broot).count())
        if (fac != 1 && !keep) {
          val p = new org.apache.hadoop.fs.Path(bdir)
          p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
          ()
        }
      }

      // the replicated tables are multi-GB at x100; don't leave them to
      // fill /tmp across repeated runs
      if (fac != 1 && !keep) {
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
        ()
      }
    }
    spark.stop()
  }
}
