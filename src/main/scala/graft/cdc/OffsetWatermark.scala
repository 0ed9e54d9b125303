package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Per-pk applied-position high-watermark sidecar for an upsert sink.
  *
  * Why it exists: the dead-letter replay path ([[Pipeline.replayDeadLetters]])
  * re-applies operator-repaired quarantined rows through the live upsert
  * tail. Those rows carry the SOURCE position they were quarantined at,
  * which may be far in the past by replay time — live batches may have
  * applied newer changes to the same pk since. Upserting a repaired row by
  * pk alone would overwrite that newer state with the stale quarantined
  * payload (the r8 ADVICE medium finding). The sink table itself
  * deliberately carries no offset column (schema evolution in the merge
  * would leak it into the index — see [[Pipeline.applySync]]), so the
  * watermark lives in a sidecar keyed table: pk -> max source position ever
  * applied for that pk. Replay consults it and DISCARDS any repaired row
  * whose position is below the sink's watermark for its pk (superseded by
  * live data); live batches and replays both advance it.
  *
  * Position = (offset, _ridx), compared lexicographically: one multi-row
  * envelope expands to several changes at ONE offset, ordered by `_ridx`
  * (last-write-wins ties break on it — [[Pipeline.applySync]]), so a
  * repaired row from such an event must also lose to an applied
  * same-offset sibling with a higher row index. Offset alone would read
  * that repair as fresh and invert the tiebreak the live path enforced
  * (r9 review).
  *
  * Crash-safety is the same at-least-once -> effectively-exactly-once
  * argument as the sink itself: `advance` is idempotent (greatest() of the
  * same inputs), so a checkpoint-replayed micro-batch or a crash-retried
  * replay re-advances to the same values; and because replay FILTERS on the
  * watermark, a crash-retry interleaved with newer stream writes can no
  * longer re-apply payloads those writes superseded.
  *
  * Scale posture: one layout, a flat store rewritten whole through a staged
  * swap ([[StateCommit.stageSwap]]) — one keyed merge against the full
  * narrow (pk, offset, _ridx) map per non-empty batch. An EMPTY batch (a
  * multi-sync config where one table got no events, or a batch whose rows
  * were all quarantined) returns before touching the store at all: no read,
  * no rewrite, no file-less dir (only _SUCCESS) that `spark.read.parquet`
  * could not infer a schema from. Entries are never deleted: a deleted
  * pk's watermark still guards against a late stale replay resurrecting
  * the row.
  *
  * The tradeoff: a batch that touches few of a very large store's pks
  * rewrites the whole map, where a pk-hash-bucketed layout would rewrite
  * only the touched buckets. The share of such batches in both `perfbench`
  * workloads is zero: every batch touched 16 of 16 sink buckets, so that
  * pruning never fired, while the bucketed layout cost two more jobs per
  * batch (the touched-bucket collect and the pruned read) and rewrote its
  * buckets in place under concurrent readers. A store written
  * in that retired `_bucket=` layout still reads (the bucket column is
  * dropped) and the first non-empty advance swaps it out whole, taking its
  * `_nbuckets-N` modulus file with it.
  *
  * The per-pk map guards rows the STREAM applied. Rows loaded by a full
  * snapshot rebuild ([[Pipeline.refresh]]/backfill) never pass through
  * `advance`, so they get a separate sync-LEVEL guard: the snapshot floor
  * ([[recordSnapshotFloor]]) — the max source offset observed (applied or
  * quarantined) when the snapshot was taken, captured BEFORE the snapshot
  * scan starts so concurrent stream progress can only leave it
  * conservatively low, never high. A snapshot holds the source's
  * then-current state, so it supersedes EVERY payload observed before it;
  * [[splitStale]] discards repaired rows at or below the floor even when
  * their pk has no per-pk entry.
  */
object OffsetWatermark {

  /** Stored max-applied-offset column. */
  val OffsetCol = "_wm_offset"

  /** Row index within the offset's envelope at which [[OffsetCol]] was
    * applied (multi-row events; 0 for single-row). */
  val RidxCol = "_wm_ridx"

  /** Above this many distinct repaired pks, [[splitStale]] stops
    * broadcasting the probe list and falls back to a shuffle join: a bulk
    * repair after a systematic quarantine (e.g. a decoder regression) can
    * hold millions of pks, and an unbounded broadcast of them would OOM the
    * driver — the same mechanical bounded-driver-work premise as the
    * mmrRerank/contextPack require guards. */
  val MaxBroadcastProbes = 1000000L

  def path(statePath: String): String = statePath + ".wm"

  /** Sidecar file holding the sync-level snapshot floor. */
  def floorPath(statePath: String): String = statePath + ".wm.floor"

  /** One healed listing of the watermark dir's entry names. Heals an
    * interrupted atomic swap first (the heal-first discipline of every
    * swapped store, [[StateCommit.recoverSwap]]). */
  private def entryNames(spark: SparkSession, dir: String): Array[String] = {
    StateCommit.recoverSwap(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p).map(_.getPath.getName)
  }

  /** True iff the listing holds actual DATA (parquet part files, or a
    * legacy store's bucket partition dirs) — `_SUCCESS` alone does not
    * count, so a historical schema-less empty write reads as absent and
    * the next real batch heals it via the initial-write path. */
  private def hasData(names: Array[String]): Boolean = names.exists { n =>
    n.startsWith(BucketedUpsertSink.BucketCol + "=") || n.endsWith(".parquet")
  }

  /** Current watermark table (pk, [[OffsetCol]], [[RidxCol]]); None if
    * never written. */
  def current(spark: SparkSession, statePath: String): Option[DataFrame] = {
    val dir = path(statePath)
    // The schema is known up front, so the read runs no inference job: one
    // footer, read on the driver, plus the row index when that footer lacks
    // it. A retired `_bucket=` layout whose buckets were rewritten one at a
    // time can hold pre- and post-_ridx files side by side; declared, the
    // column reads as null in the older files, which normalizeStored maps
    // to 0 — what the merged schema gave.
    if (hasData(entryNames(spark, dir))) {
      val footer = ParquetFooter.schemaOf(spark, dir)
      val schema =
        if (footer.fieldNames.contains(RidxCol)) footer
        else footer.add(RidxCol, IntegerType)
      Some(normalizeStored(spark.read.schema(schema).parquet(dir)
        .drop(BucketedUpsertSink.BucketCol)))
    } else None
  }

  /** Normalize a stored watermark read across schema generations: a
    * pre-`_ridx` sidecar (written before the r9 position upgrade) gains
    * [[RidxCol]] = 0, and a null stored row index reads as 0 — both mean
    * "first row of the envelope", so an upgraded deployment's first batch
    * merges instead of failing column resolution, and null positions can
    * never poison the three-valued comparisons in [[splitStale]]
    * (r9 review). */
  private def normalizeStored(df: DataFrame): DataFrame = {
    val withCol =
      if (df.columns.contains(RidxCol)) df
      else df.withColumn(RidxCol, lit(0))
    withCol.withColumn(RidxCol, coalesce(col(RidxCol).cast("int"), lit(0)))
  }

  /** Advance the watermark with one batch's applied (pk, offset, _ridx)
    * rows. Monotone: stored positions only ever increase (greatest of old
    * and new), so re-advancing with an already-applied batch is a no-op. An
    * empty batch is a full no-op (no store read or rewrite — see the scale
    * notes above). */
  def advance(spark: SparkSession, statePath: String, applied: DataFrame,
              pk: String): Unit =
    if (!applied.isEmpty) advanceNonEmpty(spark, statePath, applied, pk)

  /** [[advance]] for a caller that already knows `applied` holds rows (the
    * pipeline's probe counted them): skips the emptiness job. */
  private[cdc] def advanceNonEmpty(spark: SparkSession, statePath: String,
                                   applied: DataFrame, pk: String): Unit = {
    // a null _ridx (an unparseable-array envelope kept by posexplode_outer,
    // later repaired and replayed) is position 0 — coalesce BEFORE the
    // struct max so the null can't skew the lexicographic ordering, and
    // the stored column is never null (r9 review)
    val batch = applied
      .groupBy(col(pk))
      .agg(max(struct(col("offset"),
        coalesce(col("_ridx").cast("int"), lit(0)).as("_ridx"))).as("__m"))
      .select(col(pk), col("__m.offset").as(OffsetCol),
        col("__m._ridx").as(RidxCol))
    val dir = path(statePath)
    current(spark, statePath) match {
      case None => batch.write.mode("overwrite").parquet(dir)
      case Some(stored) =>
        // a legacy `_bucket=` store reads through current() without its
        // bucket column, and the swap replaces it whole
        val next = merge(stored, batch, pk)
        // invocation-unique staging with failure cleanup: a live batch's
        // advance and a replay's can overlap on one sidecar (r9 review)
        StateCommit.stageSwap(spark, dir)(tmp =>
          next.write.mode("overwrite").parquet(tmp))
    }
  }

  /** Keyed greatest-merge on the (offset, _ridx) pair: one shuffle on the
    * pk, streams both sides. Struct comparison is lexicographic, which is
    * exactly the position order. */
  private def merge(stored: DataFrame, batch: DataFrame, pk: String): DataFrame = {
    val s = stored.select(col(pk),
      struct(col(OffsetCol), col(RidxCol)).as("__s"))
    val b = batch.select(col(pk),
      struct(col(OffsetCol), col(RidxCol)).as("__b"))
    s.join(b, Seq(pk), "full_outer")
      .select(col(pk),
        greatest(coalesce(col("__s"), col("__b")),
                 coalesce(col("__b"), col("__s"))).as("__m"))
      .select(col(pk), col(s"__m.$OffsetCol").as(OffsetCol),
        col(s"__m.$RidxCol").as(RidxCol))
  }

  // same-JVM writer exclusion for the floor's read-max-write, path-keyed
  // like FileProgressStore.jvmLock: the advertised concurrent shape is
  // refreshAsync tasks inside ONE driver JVM -- the sink dirs are
  // single-pipeline-owned, the same premise the swap protocol runs on
  private val floorLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def floorLock(statePath: String): Object =
    floorLocks.computeIfAbsent(statePath, _ => new Object)

  /** Record the sync-level snapshot floor after a full rebuild: every
    * payload with offset <= `floor` was observed before the snapshot and is
    * superseded by it. MONOTONE: the committed value is max(existing,
    * floor) -- a floor asserts "a snapshot at least this new exists", which
    * later rebuilds can only strengthen; a rebuild whose recomputed ceiling
    * is LOWER (a replay purged the quarantine since) must not re-open the
    * fence for re-quarantined redeliveries (r9 review). Writers serialize
    * on a per-path JVM monitor and each writes a process-unique temp
    * (closed before the old floor is deleted and the temp renamed in), so
    * two overlapping refreshAsync tasks can neither interleave the
    * read-max-write nor rename each other's half-written temp live; a
    * failed rename (a reader's heal raced us) drops our temp and
    * re-evaluates against whatever won. A crash anywhere leaves either the
    * old complete floor or a COMPLETE temp that [[snapshotFloor]] heals
    * forward -- never a torn or erased fence.
    *
    * The caller computes `floor` BEFORE the snapshot scan and records it
    * AFTER the sink swap commits, so every crash ordering leaves the floor
    * conservatively LOW (stale replays stay possible in that window -- the
    * pre-snapshot semantics -- and re-running the rebuild heals it) rather
    * than dangerously high (which would silently discard repairs the sink
    * never received). */
  def recordSnapshotFloor(spark: SparkSession, statePath: String, floor: Long): Unit =
    floorLock(statePath).synchronized {
      val p = new org.apache.hadoop.fs.Path(floorPath(statePath))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      var attempts = 0
      var done = false
      while (!done) {
        attempts += 1
        healFloor(fs, statePath)
        val existing = readFloorFile(fs, p)
        val target = math.max(existing.getOrElse(0L), floor)
        if (existing.exists(_ >= target)) done = true
        else {
          val tmp = new org.apache.hadoop.fs.Path(
            floorPath(statePath) + ".next." +
              ProcessHandle.current().pid() + "-" + java.util.UUID.randomUUID())
          val out = fs.create(tmp, true)
          try out.write(target.toString.getBytes("UTF-8")) finally out.close()
          if (existing.isDefined) { fs.delete(p, false); () }
          if (fs.rename(tmp, p)) done = true
          else {
            // a reader's heal renamed a complete temp into place between
            // our delete and rename; ours lost -- discard it and re-check
            // what won (each retry needs another racer in that window)
            fs.delete(tmp, false)
            require(attempts <= 8,
              s"cannot commit snapshot floor at $p after $attempts attempts")
          }
        }
      }
    }

  /** Complete an interrupted [[recordSnapshotFloor]] commit: main absent
    * with complete temp(s) present means a writer crashed between the old
    * floor's delete and its rename -- rename the max-valued COMPLETE temp
    * in (an empty or torn temp is an in-flight writer's, skipped; a rename
    * that fails because the temp vanished means its owner or another healer
    * moved it, which is success). Leftover temps belong to live writers
    * (they self-delete on a failed rename) or to crashed ones (a few bytes
    * of garbage, superseded by any later commit). */
  private def healFloor(fs: org.apache.hadoop.fs.FileSystem, statePath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(floorPath(statePath))
    if (fs.exists(p)) return
    val parent = p.getParent
    if (parent == null || !fs.exists(parent)) return
    val prefix = p.getName + ".next"
    val candidates = fs.listStatus(parent).map(_.getPath).filter { t =>
      val n = t.getName
      n == prefix || n.startsWith(prefix + ".")
    }
    val complete = candidates.flatMap { t =>
      try readFloorRaw(fs, t).map(v => (t, v))
      catch { case _: java.io.IOException => None }
    }
    if (complete.nonEmpty) {
      val (best, _) = complete.maxBy(_._2)
      try { fs.rename(best, p); () }
      catch { case _: java.io.FileNotFoundException => () }
    }
  }

  /** Parse a floor file; None if absent, empty, or non-numeric (a torn or
    * in-flight temp). */
  private def readFloorRaw(fs: org.apache.hadoop.fs.FileSystem,
                           p: org.apache.hadoop.fs.Path): Option[Long] = {
    if (!fs.exists(p)) return None
    val len = fs.getFileStatus(p).getLen.toInt
    if (len == 0) return None
    val bytes = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, bytes) finally in.close()
    val text = new String(bytes, "UTF-8").trim
    scala.util.Try(text.toLong).toOption
  }

  /** The committed main floor; fail-loud on out-of-protocol corruption
    * (main is only ever renamed in COMPLETE, so unparseable content means
    * something outside the protocol edited it -- re-run refresh to restore
    * the fence rather than silently un-fencing). */
  private def readFloorFile(fs: org.apache.hadoop.fs.FileSystem,
                            p: org.apache.hadoop.fs.Path): Option[Long] =
    if (!fs.exists(p)) None
    else {
      val v = readFloorRaw(fs, p)
      require(v.isDefined,
        s"torn snapshot floor at $p -- re-run refresh to restore the fence")
      v
    }

  /** The recorded snapshot floor; 0 if no snapshot rebuild ever ran (no
    * fencing -- see [[splitStale]]). Heals an interrupted
    * [[recordSnapshotFloor]] commit first. Takes the same per-path lock as
    * the writer: an unlocked read landing inside a writer's delete-then-
    * rename window would see main absent, heal nothing (the writer's temp
    * is mid-protocol), and return 0 -- silently UN-fencing stale replays
    * for that call (r9 review). Readers and writers share the same-JVM
    * premise the lock documents. */
  def snapshotFloor(spark: SparkSession, statePath: String): Long =
    floorLock(statePath).synchronized {
      val p = new org.apache.hadoop.fs.Path(floorPath(statePath))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      healFloor(fs, statePath)
      readFloorFile(fs, p).getOrElse(0L)
    }

  /** Split repaired dead-letter rows into (fresh, superseded) against the
    * watermark and the snapshot floor: a row is superseded iff the sink has
    * already applied a STRICTLY newer (offset, _ridx) position for its pk,
    * OR a snapshot rebuild observed the row's offset (offset <= floor — the
    * snapshot holds the source's state from a later point, whether or not
    * the pk has a per-pk entry). Rows at the per-pk watermark position
    * exactly are fresh — re-applying them is the idempotent at-least-once
    * case. The watermark side is pruned to the replay's pks before the
    * join — via broadcast when the probe list is small
    * ([[MaxBroadcastProbes]], established by a LIMIT-bounded count, not a
    * full aggregation), via a shuffle join on a bulk repair — so the stored
    * map is never shuffled wholesale for an ordinary replay and a huge one
    * cannot OOM the driver. */
  def splitStale(ready: DataFrame, wm: Option[DataFrame], pk: String,
                 floor: Long = 0L,
                 maxBroadcastProbes: Long = MaxBroadcastProbes)
      : (DataFrame, DataFrame) = {
    val j = wm match {
      case None => ready
        .withColumn("__wmo", lit(null).cast("long"))
        .withColumn("__wmr", lit(null).cast("int"))
      case Some(w) =>
        val probes = ready.select(col(pk)).distinct()
        val wmNamed = w.withColumnRenamed(OffsetCol, "__wmo")
          .withColumnRenamed(RidxCol, "__wmr")
        val probeLimit = math.min(maxBroadcastProbes + 1, Int.MaxValue.toLong).toInt
        val small = probes.limit(probeLimit).count() <= maxBroadcastProbes
        val slice =
          if (small) wmNamed.join(broadcast(probes), Seq(pk))
          else wmNamed.join(probes, Seq(pk))
        ready.join(slice, Seq(pk), "left").localCheckpoint()
    }
    // floor == 0 means "no snapshot ever" and fences nothing, even for a
    // source whose offsets happen to start at 0
    val floorCond: Column =
      if (floor > 0L) col("offset") <= lit(floor) else lit(false)
    // coalesce both row indexes: a repaired row from an unparseable-array
    // envelope carries _ridx = NULL (posexplode_outer), and NULL < NULL is
    // NULL — a three-valued staleCond would drop the row from BOTH the
    // fresh and stale splits, stranding it in quarantine forever on a
    // crash-retry (r9 review). NULL reads as position 0, matching advance.
    val staleCond = floorCond ||
      (col("__wmo").isNotNull &&
        (col("offset") < col("__wmo") ||
          (col("offset") === col("__wmo") &&
            coalesce(col("_ridx").cast("int"), lit(0)) <
              coalesce(col("__wmr"), lit(0)))))
    (j.filter(!staleCond).drop("__wmo", "__wmr"),
      j.filter(staleCond).drop("__wmo", "__wmr"))
  }
}
