package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** The per-pk applied-position fence of an upsert sink — its one
  * staleness rule ([[superseded]]) — and the upgrade of the sidecar store
  * it used to live in.
  *
  * Every sink row carries the position of the change that last wrote it,
  * and a deleted pk keeps a tombstone with its position
  * ([[UpsertSink.Reserved]]). The rule is enforced where rows are written:
  * the sink's merge ([[UpsertSink.applyBatch]]) treats a superseded change
  * as absent, so no path — a live batch, a checkpoint replay, an
  * out-of-order source's late event, a repaired dead letter — can put an
  * older payload over a newer one. [[splitStale]] applies the same rule
  * ahead of the merge where a caller needs the split itself: the dead-letter
  * replay ([[Pipeline.replayDeadLetters]]) counts and discards its
  * superseded rows, and a run's first batch is fenced so that a replay the
  * sink fully supersedes publishes nothing.
  *
  * Why it exists: a repaired dead letter carries the SOURCE position it
  * was quarantined at, which may be far in the past by replay time — live
  * batches may have applied newer changes to the same pk since, and
  * upserting it by pk alone would overwrite that newer state with the stale
  * payload (the r8 ADVICE medium finding).
  *
  * Position = (offset, _ridx), compared lexicographically: one multi-row
  * envelope expands to several changes at ONE offset, ordered by `_ridx`
  * (last-write-wins ties break on it — [[Pipeline.applySync]]), so a
  * repaired row from such an event must also lose to an applied
  * same-offset sibling with a higher row index. Offset alone would read
  * that repair as fresh and invert the tiebreak the live path enforced
  * (r9 review).
  *
  * Crash-safety is the sink's own: a row's position is written by the same
  * manifest publish as its payload, so the two cannot disagree, and a
  * checkpoint-replayed batch re-merges to the same positions (greatest of
  * the same inputs).
  *
  * Rows loaded by a full snapshot rebuild ([[Pipeline.refresh]]/backfill)
  * carry no position of their own, so they get a sync-LEVEL guard: the
  * snapshot floor ([[ManifestStore.Manifest.floor]]) — the max source
  * offset observed (applied or quarantined) when the snapshot was taken,
  * read BEFORE the snapshot scan so concurrent stream progress can only
  * leave it conservatively low, and published in the same manifest rename
  * as the snapshot. A snapshot holds the source's then-current state, so it
  * supersedes EVERY change observed before it: a position at or below the
  * floor fences nothing the floor does not, and a rebuild stores none.
  *
  * Upgrade: a store written before positions lived in the rows keeps them
  * in a `.wm` sidecar ([[path]]) and the floor in a `.wm.floor` file
  * ([[floorPath]]). The pipeline folds both into the store once
  * ([[legacyPositions]], [[legacyFloor]], [[dropLegacy]]) and never writes
  * them again.
  */
object OffsetWatermark {

  /** Above this many distinct repaired pks, [[splitStale]] stops
    * broadcasting the probe list and falls back to a shuffle join: a bulk
    * repair after a systematic quarantine (e.g. a decoder regression) can
    * hold millions of pks, and an unbounded broadcast of them would OOM the
    * driver — the same mechanical bounded-driver-work premise as the
    * mmrRerank/contextPack require guards. */
  val MaxBroadcastProbes = 1000000L

  /** The legacy per-pk watermark sidecar of a state path. */
  def path(statePath: String): String = statePath + ".wm"

  /** The legacy snapshot-floor file of a state path. */
  def floorPath(statePath: String): String = statePath + ".wm.floor"

  private def fsOf(spark: SparkSession, p: String) = {
    val path = new org.apache.hadoop.fs.Path(p)
    (path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }

  /** Every legacy entry beside the state path, by the exact names the
    * retired protocols wrote: the sidecar (`.wm`, and its `.wm.old` and
    * `.wm.next-*` swap copies) and the floor file (`.wm.floor`, and its
    * `.wm.floor.next.*` temps). A sibling sync's state (an index named,
    * say, `t.wm.v2`) is never one of them. */
  private def legacyEntries(spark: SparkSession, statePath: String)
      : Seq[org.apache.hadoop.fs.Path] = {
    val (fs, wm) = fsOf(spark, path(statePath))
    val parent = wm.getParent
    val w = wm.getName
    def legacy(n: String): Boolean =
      n == w || n == s"$w.old" || n.startsWith(s"$w.next-") ||
        n == s"$w.floor" || n.startsWith(s"$w.floor.next")
    if (parent == null || !fs.exists(parent)) Nil
    else fs.listStatus(parent).map(_.getPath).filter(p => legacy(p.getName)).toSeq
  }

  /** True iff a legacy sidecar or floor file is still on disk. */
  def hasLegacy(spark: SparkSession, statePath: String): Boolean =
    legacyEntries(spark, statePath).nonEmpty

  /** The legacy sidecar's (pk, [[UpsertSink.OffsetCol]],
    * [[UpsertSink.RidxCol]]) positions — any of its past layouts: flat, the
    * `_bucket=` partitioned one, or from before the row index (read as 0) —
    * after healing an interrupted swap; None without data. */
  def legacyPositions(spark: SparkSession, statePath: String): Option[DataFrame] = {
    val dir = path(statePath)
    StateCommit.recoverSwap(spark, dir)
    val (fs, p) = fsOf(spark, dir)
    val hasData = fs.exists(p) && fs.listStatus(p).map(_.getPath.getName).exists(n =>
      n.startsWith(BucketedUpsertSink.BucketCol + "=") || n.endsWith(".parquet"))
    if (!hasData) None
    else {
      val footer = ParquetFooter.schemaOf(spark, dir)
      val schema =
        if (footer.fieldNames.contains(UpsertSink.RidxCol)) footer
        else footer.add(UpsertSink.RidxCol, IntegerType)
      val stored = spark.read.schema(schema).parquet(dir).drop(BucketedUpsertSink.BucketCol)
      Some(stored.withColumn(UpsertSink.RidxCol,
        coalesce(col(UpsertSink.RidxCol).cast("int"), lit(0))))
    }
  }

  /** The legacy snapshot floor: None when no floor was recorded, Left when
    * the floor file does not parse (torn, or edited outside the protocol).
    * A floor writer that crashed between deleting the old floor and
    * renaming its temp in left only a COMPLETE temp, whose value is the
    * floor; an empty or unparseable temp belonged to a writer still in
    * flight and carries nothing. */
  def legacyFloor(spark: SparkSession, statePath: String): Option[Either[String, Long]] = {
    val (fs, main) = fsOf(spark, floorPath(statePath))
    def parse(p: org.apache.hadoop.fs.Path): Option[Long] = {
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
      text.toLongOption
    }
    if (fs.exists(main))
      Some(parse(main).toRight(s"torn snapshot floor at $main"))
    else legacyEntries(spark, statePath)
      .filter(_.getName.startsWith(main.getName + ".next"))
      .flatMap(parse).maxOption.map(Right(_))
  }

  /** Delete the legacy sidecar and floor files, once the manifest carries
    * what they held. The sidecar goes first: a crash in between leaves only
    * the floor, whose re-fold is a no-op (the manifest floor is monotone). */
  def dropLegacy(spark: SparkSession, statePath: String): Unit = {
    val (fs, wm) = fsOf(spark, path(statePath))
    fs.delete(wm, true)
    legacyEntries(spark, statePath).foreach(fs.delete(_, true))
  }

  /** THE staleness rule, the one definition shared by the sink's merge
    * ([[UpsertSink.applyBatch]]) and [[splitStale]]: a positioned change is
    * SUPERSEDED iff its offset is at or below the snapshot `floor` (a
    * snapshot rebuild observed it — the snapshot holds the source's state
    * from a later point, whether or not the pk has a position; floor 0
    * means "no snapshot ever" and fences nothing, even for a source whose
    * offsets start at 0), or its position is STRICTLY below the one its
    * pk's row stores (a newer change was applied). A change AT the stored
    * position is fresh — re-applying it is the idempotent at-least-once
    * case. A NULL row index reads as 0, the first row of its envelope, as
    * the sink stores it; a change without an offset (a positionless
    * caller) is never superseded, and the result is never NULL: a
    * three-valued rule would drop a row from both the fresh and the
    * superseded split. Plain comparisons, no struct per row: the merge
    * evaluates this on every row of every touched bucket. */
  def superseded(offset: Column, ridx: Column, storedOffset: Column,
                 storedRidx: Column, floor: Long): Column = {
    val belowFloor = if (floor > 0L) offset <= lit(floor) else lit(false)
    val belowStored = offset < storedOffset || (offset === storedOffset &&
      coalesce(ridx.cast("int"), lit(0)) < coalesce(storedRidx.cast("int"), lit(0)))
    coalesce(belowFloor || (storedOffset.isNotNull && belowStored), lit(false))
  }

  /** Split repaired dead-letter rows (or a restarted run's first batch)
    * into (fresh, superseded) by [[superseded]], against the sink's stored
    * positions and the snapshot floor. `positions` is (pk,
    * [[UpsertSink.OffsetCol]], [[UpsertSink.RidxCol]])
    * ([[BucketedUpsertSink.positions]]); it is pruned to the rows' pks
    * before the join — via broadcast when the probe list is small
    * ([[MaxBroadcastProbes]], established by a LIMIT-bounded count, not a
    * full aggregation), via a shuffle join on a bulk repair — so the stored
    * map is never shuffled wholesale for an ordinary replay and a huge one
    * cannot OOM the driver. A row's NULL `_ridx` (a repaired row from an
    * unparseable-array envelope, posexplode_outer) reads as 0, as the sink
    * stores it. */
  def splitStale(ready: DataFrame, positions: Option[DataFrame], pk: String,
                 floor: Long = 0L,
                 maxBroadcastProbes: Long = MaxBroadcastProbes)
      : (DataFrame, DataFrame) = {
    val j = positions match {
      case None => ready
        .withColumn("__wmo", lit(null).cast("long"))
        .withColumn("__wmr", lit(null).cast("int"))
      case Some(w) =>
        val probes = ready.select(col(pk)).distinct()
        val wmNamed = w.withColumnRenamed(UpsertSink.OffsetCol, "__wmo")
          .withColumnRenamed(UpsertSink.RidxCol, "__wmr")
        val probeLimit = math.min(maxBroadcastProbes + 1, Int.MaxValue.toLong).toInt
        val small = probes.limit(probeLimit).count() <= maxBroadcastProbes
        val slice =
          if (small) wmNamed.join(broadcast(probes), Seq(pk))
          else wmNamed.join(probes, Seq(pk))
        ready.join(slice, Seq(pk), "left").localCheckpoint()
    }
    val staleCond = superseded(col("offset"), col("_ridx"), col("__wmo"), col("__wmr"), floor)
    (j.filter(!staleCond).drop("__wmo", "__wmr"),
      j.filter(staleCond).drop("__wmo", "__wmr"))
  }
}
