package graft.cdc

import graft.model._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** U1 plugin surface (reference `plugin.py:8-22`): `preEvent` transforms run
  * on each sync's projected view before compaction (the reference's
  * `pre_event`, 1-row -> 1-row, here as whole-DataFrame transforms so they
  * stay declarative and codegen'd); `postBatch` callbacks fire after each
  * sync's batch is applied (the reference's `post_event`, batched). */
final case class PluginHooks(
    preEvent: Seq[(String, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame] = Seq.empty,
    postBatch: Seq[(String, Long) => Unit] = Seq.empty)

/** The user-facing plugin contract for config-driven loading (the
  * reference's `Plugin` classes with `pre_event`/`post_event`,
  * `plugin.py:8-22`): implement with a no-arg constructor and list the
  * class name under `plugins=` in the CLI config. `preEvent` is a
  * whole-DataFrame transform (so it can broadcast-join, not just map rows);
  * `postBatch` fires after each sync's batch commits. */
trait GraftPlugin {
  /** Tables this plugin applies to (both hooks); empty = every sync. Must
    * be a class constant — it is read once at load time. A preEvent that
    * references table-specific columns MUST scope itself here — the hook
    * runs per sync view, and an unresolved column in one sync's view would
    * otherwise kill the whole multi-table query. */
  def tables: Set[String] = Set.empty
  /** The reference's `is_global` flag (`settings.py:29-36`): true (default)
    * = one singleton instance serves every invocation; false = a FRESH
    * instance is constructed per hook invocation (per sync per micro-batch
    * — the DataFrame-granularity analog of the reference's per-event
    * instantiation), so stateful plugins start clean each batch. */
  def isGlobal: Boolean = true
  def preEvent(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = df
  def postBatch(table: String, batchId: Long): Unit = ()
}

object PluginHooks {
  /** Reflection loader mirroring the reference's dotted-path
    * `load_plugin(str)` (`plugin.py:25-31`, via `importlib`). A class
    * declaring `isGlobal = true` (the default) is instantiated once and
    * reused; `isGlobal = false` re-instantiates per hook invocation
    * (`settings.py:29-36`'s two modes). The probe instance that reads the
    * flags is the singleton in global mode and is discarded otherwise. */
  def load(classNames: Seq[String]): PluginHooks = {
    val loaded = classNames.map(_.trim).filter(_.nonEmpty).map { n =>
      try {
        val ctor = Class.forName(n).getDeclaredConstructor()
        (ctor, ctor.newInstance().asInstanceOf[GraftPlugin])
      } catch { case e: Exception =>
        throw new IllegalArgumentException(
          s"cannot load plugin class '$n' (config key plugins=)", e)
      }
    }
    val hooks = loaded.map { case (ctor, probe) =>
      // table scoping reads from the load-time probe (tables is a class
      // constant by contract), so a non-global plugin is only constructed
      // for hooks it actually serves; hook-time construction failures keep
      // the plugin-name context the load path provides instead of escaping
      // as a bare reflection exception that kills the stream anonymously
      val inst: () => GraftPlugin =
        if (probe.isGlobal) () => probe
        else () => try ctor.newInstance().asInstanceOf[GraftPlugin]
        catch { case e: Exception =>
          throw new IllegalStateException(
            s"cannot re-instantiate non-global plugin " +
              s"'${ctor.getDeclaringClass.getName}' (config key plugins=)", e)
        }
      (probe.tables, inst)
    }
    PluginHooks(
      preEvent = hooks.map { case (scope, inst) =>
        (table: String, df: org.apache.spark.sql.DataFrame) =>
          if (scope.isEmpty || scope(table)) inst().preEvent(df) else df
      },
      postBatch = hooks.map { case (scope, inst) =>
        (table: String, batchId: Long) =>
          if (scope.isEmpty || scope(table)) inst().postBatch(table, batchId)
      })
  }
}

/** The three entry points of the reference (`main.py`): `start` (streaming
  * sync with optional bootstrap backfill), `refresh` (atomic rebuild),
  * `check` (consistency) — re-expressed on Structured Streaming + batch jobs.
  *
  * The reference's coroutine pair + asyncio.Lock + progress store
  * (`main.py:102-140`) collapse into the micro-batch engine: the trigger is
  * the flush interval (B2), each micro-batch is the buffer (B1 compaction
  * runs inside it), and the checkpoint dir is the offset store. The
  * stranded-tail hazard of the reference (size-only trigger leaves a partial
  * buffer unflushed forever — SURVEY.md §2.3) cannot occur: every micro-batch
  * flushes.
  *
  * ==Deployment contract: one driver process per sink state path==
  *
  * Every concurrency protocol below — the per-path state lock, the swap
  * monitor — serializes writers within ONE driver JVM (refreshAsync
  * tasks, a replay racing a micro-batch). A SECOND driver process mutating the same state path is
  * outside the contract: the sink's manifest publish stays safe under
  * concurrent writers, but the swapped side state (the dead-letter
  * quarantine) is last-copy-wins across processes and silently drops the
  * loser's rows. That premise is
  * ENFORCED fail-loud by [[DriverLease]]: every mutating entry point
  * (applySync, refresh/backfill commit, replayDeadLetters) acquires a
  * heartbeat lease on the state path and a second process fails with a
  * clear message instead of interleaving; a crashed holder's lease is
  * reclaimed after [[graft.model.PipelineConfig.leaseStaleMs]]. For
  * OUT-OF-PROCESS operational commands against a live stream (a CLI
  * `replay`/`refresh` in another JVM), stop the stream first — its
  * shutdown RELEASES the lease immediately (the heartbeat thread's
  * finally), so a planned handoff is instant; only a crashed holder costs
  * the staleness window. A live stream's lease stays fresh even while
  * idle (the heartbeat thread, not just data-bearing batches).
  */
final class Pipeline(spark: SparkSession, config: PipelineConfig,
                     source: CdcSource, sinkRoot: String,
                     hooks: PluginHooks = PluginHooks()) {

  private def statePath(sync: SyncConfig): String = s"$sinkRoot/${sync.indexName}"

  /** Syncs whose NEXT micro-batch must be fenced against the sink's per-pk
    * positions + snapshot floor: exactly the first batch of each query
    * run — the only batch that can be a checkpoint REPLAY. Re-armed by
    * every [[start]]. See the fence in [[applySync]]. */
  private val replayFencePending =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** pk column name after rename (the sink is keyed by the OUTPUT name). */
  private def pkOut(sync: SyncConfig): String =
    sync.fields.find(_.src == sync.pk).map(_.out).getOrElse(sync.pk)

  private def mappings(sync: SyncConfig): Seq[FieldMapping] =
    if (sync.fields.nonEmpty) sync.fields
    else sync.schema.get.fields.map(f => FieldMapping(f.name)).toSeq

  /** Sink-side schema after P2 coercion: timestamps -> epoch longs,
    * dates -> strings (reference `schemas.py:21-24`). */
  private def sinkSchema(sync: SyncConfig): StructType = {
    val payload = sync.schema.getOrElse(
      throw new IllegalArgumentException(s"sync '${sync.table}' needs a schema"))
    StructType(mappings(sync).map { m =>
      val f = payload.fields.find(_.name == m.src).getOrElse(
        throw new IllegalArgumentException(s"no payload column '${m.src}'"))
      f.dataType match {
        case TimestampType | TimestampNTZType => StructField(m.out, LongType)
        case DateType                         => StructField(m.out, StringType)
        case dt                               => StructField(m.out, dt)
      }
    })
  }

  /** One sync's view of the envelope stream: F1 table filter + F2 op filter
    * + payload parse + P1/P2 projection/rename/coercion, with the envelope's
    * op/offset kept for compaction and apply, plus the field-presence mask
    * (which raw-JSON keys the event actually carried — output names) so the
    * sink can distinguish explicit-null from absent fields. All declarative —
    * Catalyst prunes the JSON parse to the referenced fields. */
  private def syncView(events: DataFrame, sync: SyncConfig): DataFrame = {
    val payload = sync.schema.get
    val ms = mappings(sync)
    val filtered = Transforms.opFilter(Transforms.tableFilter(events, Seq(sync.table)))
    // Multi-row events: a JSON ARRAY payload is one envelope carrying n rows
    // (MySQL multi-row binlog write). The reference decodes only rows[0]
    // and silently drops rows 1..n (`mysql.py:110-116`, SURVEY.md §2.3);
    // here every row expands to its own change, with the position kept as
    // `_ridx` so later rows of one event win compaction ties.
    // posexplode_outer keeps unparseable payloads as a (null, null) row for
    // the dead-letter path instead of vanishing.
    // rlike, not ltrim+startswith: ltrim strips only ASCII space, so a
    // payload led by tab/newline before '[' would be mis-read as single-row
    // and dead-lettered. \s covers all JSON whitespace.
    val isArray = col("data").rlike("^\\s*\\[")
    val exploded = filtered
      .withColumn("__rows",
        when(isArray, from_json(col("data"), ArrayType(payload)))
          .otherwise(array(from_json(col("data"), payload))))
      .select(col("op"), col("table"), col("offset"), col("data"),
        posexplode_outer(col("__rows")).as(Seq("_ridx", "row")))
    val projected = ms.map { m =>
      val dt = payload.fields.find(_.name == m.src).getOrElse(
        throw new IllegalArgumentException(s"no payload column '${m.src}'")).dataType
      val c = dt match {
        case TimestampType | TimestampNTZType =>
          Transforms.coerceTimestampToEpoch(col(s"row.${m.src}"))
        case DateType => Transforms.coerceDateToString(col(s"row.${m.src}"))
        case _        => col(s"row.${m.src}")
      }
      c.as(m.out)
    }
    // Field presence: from the raw JSON keys for single-row events (explicit
    // null vs absent); for multi-row events from the parsed struct's non-null
    // fields — array elements' raw text isn't individually addressable, and
    // multi-row binlog events are full row images, not partial updates.
    val present = filter(
      array(ms.map { m =>
        when(isArray, when(col(s"row.${m.src}").isNotNull, lit(m.out)))
          .otherwise(
            when(array_contains(expr("json_object_keys(data)"), m.src), lit(m.out)))
      }: _*),
      x => x.isNotNull).as(UpsertSink.PresentCol)
    exploded.select(
      Seq(col("op"), col("table"), col("offset"), col("_ridx")) ++ projected :+ present: _*)
  }

  /** Where events whose payload carries no primary key are quarantined
    * (per sync): the reference raises `KeyError` and dies (`event.py:11`);
    * crashing a 1000-executor pipeline on one malformed event is wrong, and
    * silently compacting all null-pk rows into one key is worse — they are
    * preserved here with their full envelope for replay after repair. */
  def deadLetterPath(sync: SyncConfig): String =
    s"$sinkRoot/_dead_letter/${sync.indexName}"

  /** The sink's bucket modulus: `state.buckets`, or one bucket when it is
    * absent. A store laid out under another modulus fails its next batch
    * naming `refresh` ([[BucketedUpsertSink.applyBatch]]'s modulus fence). */
  private val numBuckets: Int = config.stateBuckets.getOrElse(1)

  /** One aggregate over a batch view: its pk-less rows, its live rows and
    * the buckets its live pks land in
    * ([[BucketedUpsertSink.touchedBucketsCol]], at most [[numBuckets]]
    * ids). */
  private def probe(view: DataFrame, sync: SyncConfig): Pipeline.BatchProbe = {
    val pk = col(pkOut(sync))
    val r = view.agg(count(when(pk.isNull, 1)), count(pk),
      BucketedUpsertSink.touchedBucketsCol(pk, numBuckets)).head()
    Pipeline.BatchProbe(r.getLong(0), r.getLong(1), r.getSeq[Long](2).sorted)
  }

  /** Apply one micro-batch for one sync: dead-letter split, B1 compaction,
    * then K1 upsert (which ignores stale changes —
    * [[OffsetWatermark.superseded]]), committed via the sink's atomic
    * manifest publish. One
    * probe aggregate ([[probe]]) answers what
    * the batch holds before anything is written: the dead letters are
    * appended only when it counts any, the sink rewrites exactly the
    * buckets it names, and a batch with no live rows publishes no version.
    * The merge that writes a row also advances the row's position.
    *
    * Idempotent — replaying a batch yields the same state (at-least-once
    * -> effectively exactly-once). A replay decodes the same rows, so its
    * probe finds the same dead letters (they carry `offset`, so replays
    * dedupe there) and the same touched set; the touched set is taken
    * from exactly the rows the merge consumes (after the first-batch
    * fence, when it runs), so a replay rewrites the same buckets with the
    * same content and positions, and a replay whose rows were all fenced
    * as superseded changes nothing. */
  private def applySync(batch: DataFrame, sync: SyncConfig, batchId: Long): Unit =
    StateCommit.stateLock(statePath(sync)).synchronized {
    // fail-loud single-driver fence (see the class scaladoc); also the
    // per-batch heartbeat refresh
    DriverLease.acquire(spark, statePath(sync), staleMs = config.leaseStaleMs)
    val pk = pkOut(sync)
    // Persisted for the batch's lifetime (r15, guide §5): the decoded view
    // (from_json ×2 branches, posexplode, json_object_keys per mapping — the
    // batch's dominant per-row CPU) feeds the probe aggregate and the sink
    // merge (plus the dead-letter append and the first-batch fence when
    // they fire). Unpersisted, each re-ran the whole decode over the cached
    // raw batch; serialized cache cuts that to one decode + cache reads.
    // Batch-sized, freed in the finally below.
    val full = hooks.preEvent.foldLeft(syncView(batch, sync))((df, h) => h(sync.table, df))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
    val seen = probe(full, sync)
    if (seen.dead > 0)
      full.filter(col(pk).isNull).write.mode("append").parquet(deadLetterPath(sync))
    val view = full.filter(col(pk).isNotNull)
    // The FIRST micro-batch of a query run may be a checkpoint REPLAY of a
    // batch whose effects a dead-letter replay or a snapshot refresh
    // superseded while the stream was down (r12 OffsetWatermarkFuzzSpec
    // finding: crash -> operator repairs + runs `replay` (or `refresh`) ->
    // stream restarts -> the replayed batch re-upserts the OLD payload).
    // The sink's merge ignores every such superseded row by itself
    // (OffsetWatermark.superseded); the fence runs the same rule ahead of
    // it, through splitStale, so the touched set is exact: a replay the
    // sink fully supersedes rewrites no bucket and publishes nothing. Rows
    // AT their stored position stay (the idempotent re-apply). Later
    // batches of a run cannot be replays (Spark runs each batchId once per
    // query run), so steady state reads no positions ahead of the merge.
    // The same first batch refuses a store whose watermark is still in the
    // retired sidecar (OffsetWatermark.requireNoSidecar).
    // Fence identity is sync.indexName — the SAME identity statePath uses —
    // not sync.table: two syncs may share one source table with different
    // target indexes, and a table-keyed fence would be consumed by the first
    // sync's batch, leaving every other sync's first batch unfenced (ADVICE
    // r12). The fence drops rows, so the fenced batch is probed again (one
    // job, once per run): the touched set must be exactly the compacted
    // batch's buckets.
    if (replayFencePending.remove(sync.indexName)) {
      OffsetWatermark.requireNoSidecar(spark, statePath(sync))
      screened(view, sync, Some(seen.touched)) { (fenced, _) =>
        writeCompacted(sync, Pipeline.compact(fenced, pk),
          Some(probe(fenced, sync).touched))
      }
    } else writeCompacted(sync, Pipeline.compact(view, pk), Some(seen.touched))
    hooks.postBatch.foreach(_(sync.table, batchId))
    } finally { full.unpersist(); () }
  }

  /** Split `rows` into (fresh, superseded) against the sink's stored
    * positions — of `buckets`, or of every bucket — and its snapshot
    * floor, both from one manifest, and run `use` on the split. A fresh
    * split joined with stored positions is persisted for `use`, which reads
    * it more than once, and released after it. */
  private def screened[A](rows: DataFrame, sync: SyncConfig, buckets: Option[Seq[Long]])
                         (use: (DataFrame, DataFrame) => A): A = {
    val sp = statePath(sync)
    val m = ManifestStore.currentManifest(spark, sp)
    val positions = BucketedUpsertSink.positions(spark, sp, m, pkOut(sync), buckets)
    val (fresh, stale) = OffsetWatermark.splitStale(rows, positions,
      pkOut(sync), m.fold(0L)(_.floor))
    if (positions.isEmpty) use(fresh, stale)
    else {
      val kept = fresh.persist()
      try use(kept, stale) finally { kept.unpersist(); () }
    }
  }

  /** Commit one compacted change set to the sync's sink — the shared write
    * tail of the live micro-batch path and the dead-letter replay. The
    * manifest store publishes data and per-bucket zone-map stats in ONE
    * atomic manifest rename, so a batch is either fully visible or not at
    * all. `touched` is the batch's bucket set when the caller's probe
    * already has it; the sink computes it otherwise. */
  private def writeCompacted(sync: SyncConfig, compacted: DataFrame,
                             touched: Option[Seq[Long]] = None): Unit =
    BucketedUpsertSink.applyBatch(spark, statePath(sync), compacted,
      pkOut(sync), numBuckets, schema = Some(sinkSchema(sync)),
      statCols = zoneMapColsFor(sync), touched = touched)

  /** Re-apply REPAIRED dead-letter rows (the operational close of the
    * quarantine path [[deadLetterPath]] opens): rows whose pk is now
    * non-null — the operator has edited the quarantined parquet, e.g.
    * backfilled ids from the source of truth — run through the SAME
    * offset-ordered compaction + upsert the live batch path uses, and the
    * quarantine dir is rewritten (staging + atomic swap) to keep only the
    * still-unrepaired rows. Crash-safe by idempotence, not atomicity: a
    * crash between the sink apply and the quarantine rewrite re-replays
    * the same rows next run, and last-write-wins on (pk, offset) makes
    * the re-apply a no-op — the same at-least-once -> effectively-
    * exactly-once argument as the micro-batch path itself.
    *
    * Staleness guard (r8 ADVICE medium): a quarantined row carries the
    * source offset it FAILED at, which may predate live batches that have
    * since upserted the same pk — blindly re-applying it would overwrite
    * newer sink state with the stale payload. Repaired rows are therefore
    * screened against the position each sink row (or tombstone) carries
    * ([[OffsetWatermark]], written by every merge): rows whose
    * (offset, _ridx) position is strictly below the stored one for their pk
    * are SUPERSEDED — dropped from the quarantine without applying (the
    * live data is newer by construction; the row index matters because a
    * multi-row event's applied sibling at the SAME offset may have won
    * last-write-wins on _ridx). This also closes the crash-retry window: a replay
    * retried after interleaved stream writes re-screens and discards what
    * those writes superseded, instead of re-applying it.
    *
    * Snapshot-loaded rows get the sync-LEVEL guard (r9 review): a full
    * rebuild ([[refresh]]/[[backfillIfNeeded]]) loads the source's current
    * state with no position of its own, so a pk that only ever appeared in
    * quarantine has no position and a stale replay would overwrite its
    * refreshed value. Those rebuilds publish the snapshot floor — the max
    * offset observed (applied or quarantined) at snapshot time — in the
    * snapshot's manifest, and replay discards every repaired row at or
    * below it.
    *
    * Returns per-table (replayed, superseded, still quarantined). The
    * reference has no analog: it raises `KeyError` and dies on the first
    * pk-less event (`event.py:11`). */
  def replayDeadLetters(tables: Seq[String] = Seq.empty): Map[String, (Long, Long, Long)] =
    config.syncs
      .filter(s => tables.isEmpty || tables.contains(s.table))
      .map { s => StateCommit.stateLock(statePath(s)).synchronized {
        // single-driver fence: a CLI replay in a second JVM against a live
        // stream fails loud here instead of racing its swaps
        DriverLease.acquire(spark, statePath(s), staleMs = config.leaseStaleMs)
        val path = deadLetterPath(s)
        // heal an interrupted quarantine rewrite first: a crash between
        // atomicSwapDirs' two renames leaves the quarantine only at
        // `.old`, and probing the main path alone would read every
        // envelope as gone (r9 review)
        StateCommit.recoverSwap(spark, path)
        OffsetWatermark.requireNoSidecar(spark, statePath(s))
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(p)) s.table -> ((0L, 0L, 0L))
        else {
          val pk = pkOut(s)
          val dl = spark.read.parquet(path)
          val ready = dl.filter(col(pk).isNotNull)
          // a repaired row with a NULL offset cannot be ordered against the
          // stored positions: the three-valued staleness comparison would
          // place it in NEITHER split and the quarantine rewrite below would
          // DELETE it unapplied — silent loss. Fail loud instead.
          val nullOffset = ready.filter(col("offset").isNull).count()
          require(nullOffset == 0L,
            s"$nullOffset repaired dead-letter row(s) for '${s.table}' have " +
              "a NULL offset — restore the source offset in the quarantine " +
              "before replaying (the staleness screen cannot order them)")
          val (nFresh, nStale) = screened(ready, s, None) { (fresh, stale) =>
            val counts = (fresh.count(), stale.count())
            if (counts._1 > 0) writeCompacted(s, Pipeline.compact(fresh, pk))
            counts
          }
          if (nFresh > 0 || nStale > 0) {
            // keep only the still-null rows (superseded rows are resolved —
            // newer live data already holds their pk); overwrite via
            // staging + swap so a crash mid-rewrite never loses envelopes
            val remaining = dl.filter(col(pk).isNull)
            StateCommit.stageSwap(spark, path)(tmp =>
              remaining.write.mode("overwrite").parquet(tmp))
          }
          val left = spark.read.parquet(path).filter(col(pk).isNull).count()
          s.table -> ((nFresh, nStale, left))
        }
      }}.toMap

  // only stat columns the sink schema actually carries: a configured column
  // missing from one sync's payload must not fail that sync's batches
  private def zoneMapColsFor(sync: SyncConfig): Seq[String] = {
    val have = sinkSchema(sync).fieldNames.toSet
    config.zoneMapCols.filter(have)
  }

  /** The EXPENSIVE half of refresh/backfill, outside any lock: write
    * `snapshot` as an unpublished (invisible) manifest commit dir, its rows
    * without positions ([[BucketedUpsertSink.foldPositions]] with none).
    * No stored position or tombstone is carried: the snapshot floor the
    * commit publishes ([[observedOffsetCeiling]]) is at least every
    * position the store held when the scan started, so it fences all of
    * them; positions applied since are folded in at the commit
    * ([[refoldSince]]). */
  private def stageSnapshot(sync: SyncConfig,
                            snapshot: DataFrame): ManifestStore.StagedCommit =
    ManifestStore.stageFull(spark, statePath(sync),
      BucketedUpsertSink.foldPositions(snapshot, None, pkOut(sync)),
      pkOut(sync), numBuckets, zoneMapColsFor(sync))

  /** The shared locked COMMIT of every snapshot-rebuild path (refresh,
    * refreshAsync, backfill): publish the staged commit, with its snapshot
    * floor, as the next manifest version — one rename. One definition so
    * the three paths cannot drift. Batches and replays that committed
    * since `base` (the manifest `floor` was read from) advanced positions
    * above the floor that the staged copy lacks ([[refoldSince]]): those
    * are folded in OUTSIDE the lock first, while
    * the stream keeps flowing, so the locked step folds only what landed
    * during that catch-up — usually nothing, and then the commit is the
    * metadata publish alone. */
  private def commitSnapshot(sync: SyncConfig,
                             staged: ManifestStore.StagedCommit,
                             base: Option[ManifestStore.Manifest], floor: Long,
                             precondition: () => Boolean = () => true): Boolean = {
    val sp = statePath(sync)
    var current = staged
    // ONE failure-cleanup scope (a drop-and-rethrow catch per step invites
    // the next pre-publish step to forget its own): ANY throw up to the
    // publish drops the staged commit dirs, which no manifest references
    // yet.
    try {
      val seen = ManifestStore.currentManifest(spark, sp)
      current = refoldSince(sync, current, base, seen, floor)
      StateCommit.stateLock(sp).synchronized {
        // single-driver fence BEFORE any mutation of the live path (the
        // staged scan needed no lease — it wrote only its own unique dir)
        DriverLease.acquire(spark, sp, staleMs = config.leaseStaleMs)
        // evaluated under the lock (backfill's bootstrap-only re-probe);
        // losing it drops the staged copy instead of clobbering
        val published = precondition() && {
          current = refoldSince(sync, current, seen,
            ManifestStore.currentManifest(spark, sp), floor)
          ManifestStore.publishFull(spark, sp, current, floor); true
        }
        if (!published) ManifestStore.dropStaged(spark, current)
        published
      }
    } catch { case t: Throwable =>
      ManifestStore.dropStaged(spark, current); throw t }
  }

  /** Fold into a staged snapshot the positions above `floor` that batches
    * and replays committed between manifests `base` and `now`: those of
    * the buckets `now` rewrote, into the staged buckets their pks hash to —
    * the same ids when the moduli agree (the usual case: the modulus fence
    * keeps batches on the configured one), every staged bucket otherwise.
    * A pk's position is the greater of the two, and a pk that gained a
    * position but has no staged row becomes a tombstone
    * ([[BucketedUpsertSink.foldPositions]]). Positions at or below the
    * floor are left out: the floor fences them. The cost is the changed
    * buckets', not the table's; with nothing changed it is no job at all. */
  private def refoldSince(sync: SyncConfig, staged: ManifestStore.StagedCommit,
                          base: Option[ManifestStore.Manifest],
                          now: Option[ManifestStore.Manifest],
                          floor: Long): ManifestStore.StagedCommit = {
    val sp = statePath(sync)
    val changed = now.toSeq.flatMap { n =>
      val kept = base.filter(_.nbuckets == n.nbuckets).fold(Set.empty[String])(
        _.buckets.valuesIterator.map(_.relDir).toSet)
      n.buckets.collect { case (b, e) if !kept.contains(e.relDir) => b }
    }.sorted
    val moved = if (changed.isEmpty) None
      else BucketedUpsertSink.positions(spark, sp, now, pkOut(sync), Some(changed))
        .map(_.filter(col(UpsertSink.OffsetCol) > floor))
    moved.fold(staged) { p =>
      val targets =
        if (now.exists(_.nbuckets == staged.nbuckets)) changed
        else (0L until staged.nbuckets.toLong)
      ManifestStore.restage(spark, sp, staged, targets, pkOut(sync), sinkSchema(sync))(
        BucketedUpsertSink.foldPositions(_, Some(p), pkOut(sync)))
    }
  }

  /** A published manifest — not the state dir's existence, which an
    * unpublished staging commit already creates (the backfill's own
    * staging would defeat its bootstrap re-probe). */
  private def sinkLive(sync: SyncConfig): Boolean =
    ManifestStore.isManifestStore(spark, statePath(sync))

  /** Max source offset this pipeline has OBSERVED for a sync up to manifest
    * `base` — applied (the greatest position in its rows, or its floor,
    * which fences every position a rebuild dropped) or quarantined
    * (dead-letter envelopes), from parquet footers, with no job. A full
    * rebuild records this as the snapshot floor: the snapshot's content is
    * newer than everything observed up to it, so no stale change may
    * re-apply any of it. It is taken from `base` itself, the manifest the
    * rebuild's [[refoldSince]] starts from, so a batch that lands after it
    * is re-folded and one before it is under the floor — never neither. */
  private def observedOffsetCeiling(sync: SyncConfig,
                                    base: Option[ManifestStore.Manifest]): Long = {
    val sp = statePath(sync)
    val applied = math.max(
      ManifestStore.maxAppliedOffset(spark, sp, base).getOrElse(0L),
      base.fold(0L)(_.floor))
    // the quarantine is a swapped store: read it under the state lock, so
    // a replay's rewrite cannot swap it out between this read's listing
    // and its footer reads; and heal an interrupted rewrite first, which
    // must not read as an empty dir and record a too-low floor
    val dlMax = StateCommit.stateLock(sp).synchronized {
      StateCommit.recoverSwap(spark, deadLetterPath(sync))
      val dlPath = new org.apache.hadoop.fs.Path(deadLetterPath(sync))
      val fs = dlPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(dlPath)) None
      else ParquetFooter.maxOf(spark.sparkContext.hadoopConfiguration,
        ParquetFooter.dataFiles(fs, dlPath), "offset")
    }
    math.max(applied, dlMax.getOrElse(0L))
  }

  /** K3 bootstrap backfill: if `sync.full` and the sink is absent, load the
    * full scan before tailing (`main.py:84-101`). The snapshot floor is
    * captured BEFORE the scan and published with the snapshot — see
    * [[refresh]] for the ordering argument. */
  def backfillIfNeeded(): Unit = config.syncs.foreach { sync =>
    if (sync.full && !sinkLive(sync)) {
      // same stage-outside / commit-inside split as [[refresh]]: the full
      // scan must not hold the state lock (a caller that started the
      // stream first would stall every micro-batch for the whole
      // bootstrap scan — r9 review)
      val base = ManifestStore.currentManifest(spark, statePath(sync))
      val floor = observedOffsetCeiling(sync, base)
      val staged = stageSnapshot(sync, source.fullScan(sync))
      // re-probe under the lock: a live batch may have bootstrapped the
      // sink during our scan; K3 is bootstrap-only, and the stream is
      // already building on ITS copy — drop our staging, don't clobber
      commitSnapshot(sync, staged, base, floor,
        precondition = () => !sinkLive(sync))
    }
  }

  /** B2 flush triggers from config (reference `main.py:110-133`):
    * `insert_interval` -> a `ProcessingTime` cadence; unset -> immediate
    * micro-batches (the reference's per-event path — every batch still
    * flushes, so the reference's stranded-tail hazard cannot occur).
    * `insert_size` is admission control, not a trigger: it maps to the
    * source's `maxFilesPerTrigger`/`maxOffsetsPerTrigger` option. */
  def configTrigger: Trigger =
    config.insertIntervalSecs
      .map(s => Trigger.ProcessingTime(s * 1000L))
      .getOrElse(Trigger.ProcessingTime(0L))

  /** `start`: bootstrap + one streaming query applying all syncs per
    * micro-batch. Returns the running query (caller stops it).
    *
    * Out-of-order events need no keyed state in front of the sink: within
    * a batch B1 compaction keeps the newest position per pk, and across
    * batches the sink's merge ignores a change below its row's stored
    * position (SURVEY.md §7 hard part 1; [[OffsetWatermark.superseded]]).
    *
    * @param progress optional EXTERNAL progress store (the reference's
    *   file/redis `Progress` backends): committed batch positions are
    *   published through [[ProgressPublisher]] for other applications to
    *   read. Advisory — the checkpoint stays the restart source of truth.
    */
  def start(checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow(),
            progress: Option[ProgressStore] = None): StreamingQuery = {
    // reference main.py:35-36: `if settings.debug: logger.debug(settings)`
    if (config.debug) DebugLog.record(s"settings: $config")
    // register BEFORE any lease acquisition (backfill's commit, the first
    // batch): a restarted stream must be counted before the OLD query's
    // lingering heartbeat thread runs its shutdown release, or that
    // release deletes the lease this start just re-acquired. The increment
    // runs under the lease's per-path lock so it is atomic with any
    // concurrent releaseLeases' {count == 0 -> release} decision — without
    // it, a release decided on the old count could land between this
    // increment and the first acquire and delete the fresh lease
    // (review r10, twice). A failed start deregisters in the catch.
    config.syncs.foreach(s => DriverLease.locked(statePath(s)) {
      Pipeline.streamRefCount(statePath(s)).incrementAndGet(); ()
    })
    try startRegistered(checkpointDir, trigger, progress)
    catch { case t: Throwable =>
      // startRegistered stops any query it started before throwing (ADVICE
      // r10) — by here no stream is running, so deregister-and-release is
      // sound, not a live query left unfenced
      config.syncs.foreach(s => Pipeline.deregisterStream(spark, statePath(s)))
      throw t
    }
  }

  private def startRegistered(checkpointDir: String, trigger: Trigger,
                              progress: Option[ProgressStore]): StreamingQuery = {
    backfillIfNeeded()
    // arm the first-batch replay fence for every sync (see applySync)
    config.syncs.foreach(s => replayFencePending.add(s.indexName))
    val q = source.changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cached = batch.persist()
        try {
          // reference main.py:103-104: `if settings.debug:
          // logger.debug(event)` per decoded event — here per micro-batch,
          // with the event dump BOUNDED (a batch at scale carries millions
          // of events; debug output must not grow with data volume)
          if (config.debug) {
            DebugLog.record(s"batch $batchId: ${cached.count()} events")
            cached.toJSON.take(20).foreach(e =>
              DebugLog.record(s"batch $batchId event: $e"))
          }
          config.syncs.foreach(applySync(cached, _, batchId))
        } finally { cached.unpersist(); () }
      }
      .start()
    // everything between the query starting and this method returning runs
    // under an unwinding guard (ADVICE r10): a throw here (a failing
    // ProgressPublisher.attach, a heartbeat-thread construction failure)
    // would otherwise propagate to start()'s catch, which deregisters the
    // refcount and releases the lease while the query keeps RUNNING —
    // a leaked active stream the caller has no handle to stop, mutating
    // the state path without an idle heartbeat fence. Stop it first.
    try startWired(q, progress)
    catch { case t: Throwable =>
      try q.stop()
      catch { case scala.util.control.NonFatal(s) => t.addSuppressed(s) }
      throw t
    }
  }

  // test seam: runs inside startWired right after the listener attach, so a
  // spec can inject the post-start failure the unwinding guard exists for
  // (a throwing attach is not constructible from the public surface)
  private[cdc] var onStartWired: StreamingQuery => Unit = _ => ()

  private def startWired(q: StreamingQuery,
                         progress: Option[ProgressStore]): StreamingQuery = {
    progress.foreach(ProgressPublisher.attach(spark, q.id, _))
    onStartWired(q)
    // Lease heartbeat + shutdown release (review r10): batches only
    // heartbeat when data flows, so an IDLE-but-live stream's lease would
    // go stale and a second driver's takeover would then crash THIS stream
    // at its next data-bearing batch — the fence evicting the wrong party.
    // A daemon thread touches every sync's lease at a third of the
    // staleness horizon while the query is active, and RELEASES the leases
    // when it terminates, so a graceful stop hands the path over
    // immediately instead of costing the next driver a full staleness
    // window. An acquire refusal here (a foreign takeover already
    // happened) is WARN-logged, not thrown — the batch path is the
    // fail-loud surface.
    val hb = new Thread(() => {
      try {
        val interval = math.max(1000L, config.leaseStaleMs / 3)
        var sinceTouch = interval // touch immediately on start
        while (q.isActive && !Thread.currentThread().isInterrupted) {
          if (sinceTouch >= interval) {
            sinceTouch = 0L
            config.syncs.foreach { s =>
              try DriverLease.acquire(spark, statePath(s), staleMs = config.leaseStaleMs)
              catch {
                case e @ (_: IllegalStateException | _: IllegalArgumentException) =>
                  // IAE (a bad lease.stale.ms) must be LOUD here too: the
                  // stream would otherwise run unfenced until its first
                  // data batch throws it (review r10)
                  Pipeline.log.warn(s"lease heartbeat for ${statePath(s)}: ${e.getMessage}")
                case scala.util.control.NonFatal(_) => ()
              }
            }
          }
          Thread.sleep(200L); sinceTouch += 200L
        }
      } catch { case _: InterruptedException => () }
      finally {
        // deregister (decrement + maybe-release, atomic per path) FIRST,
        // self-remove from the registry LAST: the other order let a
        // releaseLeases find the queue empty, read the not-yet-decremented
        // count, skip the release, and strand the lease past JVM exit on a
        // clean shutdown (review r10)
        config.syncs.foreach(s => Pipeline.deregisterStream(spark, statePath(s)))
        heartbeats.removeIf(_._1 eq Thread.currentThread())
        ()
      }
    }, "graft-lease-heartbeat")
    heartbeats.add((hb, q))
    hb.setDaemon(true)
    hb.start()
    q
  }

  // this pipeline's heartbeat threads WITH their queries — releaseLeases
  // stops only those whose query has terminated, so shutdown hygiene on a
  // finished query can never kill a still-active restarted stream's
  // heartbeat (review r10)
  private val heartbeats =
    new java.util.concurrent.ConcurrentLinkedQueue[(Thread, StreamingQuery)]()

  /** Shutdown hygiene: stop-and-join the heartbeat threads of TERMINATED
    * queries (an in-flight interval touch could otherwise recreate a lease
    * just released and strand it past JVM exit) and release each sync's
    * lease — but only where NO stream is still active on the path, so the
    * call is safe at any time: a live (possibly restarted) stream keeps
    * both its heartbeat and its lease (review r10). The CLI calls it after
    * `awaitTermination` and in the one-shot verbs' finally, so a planned
    * same-path handoff never pays the staleness window. */
  def releaseLeases(): Unit = {
    // save-and-CLEAR a pending interrupt for the whole hygiene pass
    // (review r10, the right depth): an interrupt-driven shutdown arrives
    // here with the flag restored by rethrowIfInterrupt, and EVERY
    // blocking step below — join, the timed tryLock, Hadoop's fs.delete —
    // aborts instantly on a pending flag, silently stranding the lease.
    // The flag is restored on exit so the caller's interrupt semantics
    // survive.
    val wasInterrupted = Thread.interrupted()
    try releaseLeasesCleanFlag()
    finally if (wasInterrupted) Thread.currentThread().interrupt()
  }

  private def releaseLeasesCleanFlag(): Unit = {
    // stop only heartbeats whose query has TERMINATED (review r10: an
    // unconditional interrupt loop would kill a still-active restarted
    // stream's heartbeat and leave it running unfenced)
    val it = heartbeats.iterator()
    while (it.hasNext) {
      val (t, query) = it.next()
      if (!query.isActive) {
        it.remove()
        t.interrupt()
        try t.join(3000L) catch { case _: InterruptedException => () }
        if (t.isAlive)
          Pipeline.log.warn("lease heartbeat thread did not stop within 3s " +
            "(wedged in a filesystem call?) — the gated release below " +
            "skips any path it still counts on or whose lock it holds")
      }
    }
    // the gated, bounded-tryLock release per path — see releasePathIfUnused
    config.syncs.foreach(s => Pipeline.releasePathIfUnused(spark, statePath(s)))
    ()
  }

  /** `refresh`: atomic rebuild of each sync from a full scan
    * (`main.py:143-176`; offset pinning is the caller's checkpoint). The
    * configured sink layout (state.buckets, absent = 1 bucket) carries
    * onto the rebuilt copy — the reference's settings-copy-on-refresh
    * (`meili.py:43-49`) — so refresh is also how a store is re-laid out
    * under a new bucket count.
    *
    * Snapshot-floor ordering (r9 review): the observed-offset ceiling is
    * captured BEFORE the full scan starts, from the manifest the rebuild
    * starts from, and published WITH the snapshot. A live stream running
    * concurrently (the refreshAsync shape) can therefore only push real
    * observations ABOVE the published floor — their repairs stay
    * replayable (conservative) — never trap a post-snapshot quarantine
    * below it (which would silently discard a legitimate repair). The
    * rebuilt store keeps no position or tombstone at or below its floor,
    * which fences them all; positions applied above it while the scan ran
    * are carried ([[stageSnapshot]], [[commitSnapshot]]). */
  def refresh(tables: Seq[String] = Seq.empty): Map[String, Long] =
    config.syncs
      .filter(s => tables.isEmpty || tables.contains(s.table))
      .map(s => s.table -> rebuild(s))
      .toMap

  /** One sync's snapshot rebuild; returns the snapshot's row count. */
  private def rebuild(sync: SyncConfig): Long = {
    OffsetWatermark.requireNoSidecar(spark, statePath(sync))
    val base = ManifestStore.currentManifest(spark, statePath(sync))
    val floor = observedOffsetCeiling(sync, base)
    // stage (the full-scan materialization) runs OUTSIDE the state lock
    // so a live stream keeps flowing through the long scan; only the
    // commit serializes with applySync. Unlocked, a batch's
    // read-merge-write racing the commit silently dropped whichever
    // complete copy lost while the floor still asserted the snapshot
    // superseded everything below it
    val staged = stageSnapshot(sync, source.fullScan(sync))
    commitSnapshot(sync, staged, base, floor)
    staged.count
  }

  /** Async [[refresh]]: fire each sync's rebuild as a [[SinkTasks]] task
    * and return the ids — the reference's fire-then-gather refresh
    * (`meili.py:56-63`); pair with [[SinkTasks.waitForTask]] and a
    * timeout (its `wait_for_task_timeout`). */
  def refreshAsync(tables: Seq[String] = Seq.empty): Map[String, Long] =
    config.syncs
      .filter(s => tables.isEmpty || tables.contains(s.table))
      .map { s =>
        s.table -> SinkTasks.submit(s"refresh:${s.table}") {
          // the same rebuild as the synchronous refresh, inside the task
          rebuild(s); ()
        }
      }
      .toMap

  /** Lease status per sync (the `check` surface — r10 verdict #7): the
    * lease path, and the holder's identity + heartbeat age (ms) if held.
    * An operator diagnosing a refused second driver sees who holds what
    * without reading `<statePath>.lease` by hand. */
  def leaseStatus(): Map[String, (String, Option[(String, Long)])] =
    config.syncs.map { s =>
      s.table -> ((DriverLease.leasePath(statePath(s)),
        DriverLease.holder(spark, statePath(s))))
    }.toMap

  /** `check`: source count vs sink count per sync (`main.py:179-208`).
    * The manifest's per-bucket live-row counts give the sink count with no
    * scan; a store with no manifest counts 0. */
  def check(): Map[String, (Long, Long)] = config.syncs.map { s =>
    val sinkCount = ManifestStore.currentManifest(spark, statePath(s))
      .fold(0L)(_.rowCount)
    s.table -> (source.count(s), sinkCount)
  }.toMap

  /** Lineage per sync, for `check`: the greatest source offset the sink
    * has applied (`applied_offset`: the greatest position in the live
    * buckets' footers, with no job, or the snapshot floor when that is
    * higher — a rebuild holds everything up to its floor and stores no
    * position at or below it) and the snapshot floor (`snapshot_floor`),
    * both of the current manifest; 0 when there is none. */
  def lineage(): Map[String, (Long, Long)] = config.syncs.map { s =>
    val m = ManifestStore.currentManifest(spark, statePath(s))
    val floor = m.fold(0L)(_.floor)
    s.table -> ((math.max(
      ManifestStore.maxAppliedOffset(spark, statePath(s), m).getOrElse(0L), floor), floor))
  }.toMap

  /** Read one sync's current sink state (test/inspection helper); empty
    * when no manifest is published. */
  def sinkState(sync: SyncConfig): DataFrame =
    BucketedUpsertSink.currentState(spark, statePath(sync), sinkSchema(sync))
}

object Pipeline {

  /** B1 compaction of one sync's rows (the live batch or repaired dead
    * letters), handing the sink ONLY op + payload (+ mask) and the winning
    * change's position as [[UpsertSink.OffsetCol]]/[[UpsertSink.RidxCol]]:
    * the merge treats every other unknown column as schema evolution, so
    * leaking table/offset/_ridx would evolve them INTO the sink table. The
    * rows hold one table, so the window partitions by the pk alone and the
    * merge's join on the pk reuses its exchange. */
  private[cdc] def compact(rows: DataFrame, pk: String): DataFrame =
    Transforms.lastWriteWinsByPk(rows, col(pk), Seq(col("_ridx")))
      .drop("table")
      .withColumnRenamed("offset", UpsertSink.OffsetCol)
      .withColumn(UpsertSink.RidxCol, coalesce(col("_ridx").cast("int"), lit(0)))
      .drop("_ridx")

  /** What [[Pipeline]]'s probe aggregate found in a batch view. */
  private final case class BatchProbe(dead: Long, live: Long, touched: Seq[Long])

  private[cdc] val log = org.slf4j.LoggerFactory.getLogger("graft.pipeline")

  // Active streaming queries per state path (this JVM): the lease
  // heartbeat's shutdown release is gated on being the LAST one, so a
  // restarted stream's freshly re-acquired lease survives the old query's
  // lingering heartbeat thread (review r10). EVERY transition that can
  // decide a release runs under DriverLease.pathLock so register/acquire
  // and count-check/release cannot interleave.
  private val streamRefCounts = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicLong]()
  private[cdc] def streamRefCount(statePath: String): java.util.concurrent.atomic.AtomicLong =
    streamRefCounts.computeIfAbsent(statePath,
      _ => new java.util.concurrent.atomic.AtomicLong())

  /** Atomic {decrement; if last -> release} for one stream on one path —
    * the single deregistration used by the heartbeat's finally and a
    * failed start's unwinding. BLOCKING lock: the deregistering thread
    * must complete its own transition. */
  private[cdc] def deregisterStream(spark: SparkSession, statePath: String): Unit = {
    // the caller is typically a JUST-INTERRUPTED heartbeat running its
    // finally: clear the flag for the release's filesystem I/O (Hadoop
    // RPC aborts instantly on a pending interrupt) and restore it after
    // (review r10)
    val wasInterrupted = Thread.interrupted()
    try DriverLease.locked(statePath) {
      if (streamRefCount(statePath).decrementAndGet() == 0L) {
        try DriverLease.release(spark, statePath)
        catch { case scala.util.control.NonFatal(_) => () }
      }
    } finally if (wasInterrupted) Thread.currentThread().interrupt()
  }

  /** The gated shutdown release for one path: release iff NO stream is
    * registered, with the count re-checked under the path lock (a
    * concurrent start's register+acquire cannot interleave), and the lock
    * taken with a BOUNDED tryLock — a heartbeat wedged in an
    * interrupt-deaf filesystem RPC can hold this lock indefinitely
    * (possibly with the count already 0, mid-release), and shutdown must
    * skip such a path instead of hanging on the RPC's retry budget
    * (review r10). Returns true iff the lease was released. Shared by
    * [[Pipeline.releaseLeases]] and the lifecycle spec so the gating logic
    * cannot drift from what is tested. */
  private[cdc] def releasePathIfUnused(spark: SparkSession, statePath: String,
                                       tryMs: Long = DriverLease.TornGraceMs + 10000L): Boolean = {
    if (streamRefCount(statePath).get() != 0L) return false
    val l = DriverLease.pathLock(statePath)
    // untimed tryLock FIRST: it ignores a pending interrupt status, which
    // the timed form throws on instantly even for a FREE lock — and an
    // interrupt-driven shutdown (rethrowIfInterrupt restores the flag) is
    // exactly when this runs (review r10). The timed fallback bounds the
    // contended case; its default exceeds acquire's worst in-lock budget
    // (TornGraceMs + 5 s of deadline + retry sleeps), so a HEALTHY holder
    // — e.g. a background task's acquire waiting out a torn lease — is
    // waited for, not misclassified as wedged (review r10).
    val got = l.tryLock() ||
      (try l.tryLock(tryMs, java.util.concurrent.TimeUnit.MILLISECONDS)
       catch { case _: InterruptedException =>
         Thread.currentThread().interrupt(); false })
    if (!got) {
      log.warn(s"lease lock for $statePath is held (a wedged heartbeat?) — " +
        "skipping its shutdown release; the holder finishes it, or the " +
        "next driver pays the staleness window")
      return false
    }
    try {
      if (streamRefCount(statePath).get() == 0L) {
        try { DriverLease.release(spark, statePath); true }
        catch { case scala.util.control.NonFatal(_) => false }
      } else false
    } finally l.unlock()
  }
}
