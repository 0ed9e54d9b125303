package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** K1 at scale: the upsert sink over a state table BUCKETED by pk hash, so
  * one micro-batch rewrites only the buckets its pks land in — O(changed
  * buckets), never the whole state. This is the "state is never rewritten
  * wholesale" posture from SCALE.md made concrete without a table format.
  * The physical layout is [[ManifestStore]]'s: a batch writes the touched
  * buckets' new content into a fresh immutable commit dir and ONE atomic
  * manifest rename publishes data + per-bucket zone-map stats together, so
  * a batch is either fully visible or not at all, and no file a concurrent
  * reader pinned is deleted inside the vacuum retention window.
  *
  * Scale notes:
  *  - the batch shuffles once on the pk (inside [[UpsertSink.applyBatch]]);
  *    the state side reads ONLY the touched buckets' dirs. The touched set
  *    ([[touchedBuckets]]) is one aggregate whose result `numBuckets` bounds
  *    (a config, never data volume); the pipeline folds it into the probe
  *    aggregate it already runs over the batch and passes it in.
  *  - idempotent: replaying a batch yields the same buckets with the same
  *    contents.
  *
  * This is the only sink layout: an absent `state.buckets` is one bucket.
  * The per-pk applied-offset watermark lives in the rows themselves
  * ([[UpsertSink.Reserved]]): the merge that writes a row also advances its
  * position, and a delete leaves a tombstone, so no second store is read
  * or rewritten per batch. The same merge enforces the staleness rule
  * ([[OffsetWatermark.superseded]]) against those positions and the
  * manifest's snapshot floor: this sink is where per-pk ordering holds.
  */
object BucketedUpsertSink {

  val BucketCol = "_bucket"

  /** The optimistic merge closure shared by the sink's batch path,
    * [[graft.ops.Maintenance.repairUpsert]], and the OCC spec: given a base
    * manifest, read the CURRENT state of the `touched` buckets, LWW-merge
    * the op-columned `changes` into it under the base's snapshot floor (a
    * superseded positioned change is absent — [[UpsertSink.applyBatch]]),
    * and re-bucket — the new full content of exactly those buckets. One
    * definition, so the merge semantics (op handling, staleness, empty-state
    * fallback, bucket-column plumbing) cannot silently diverge between the
    * stream and the repair path. */
  def upsertMergeOf(spark: SparkSession, statePath: String,
                    payloadSchema: org.apache.spark.sql.types.StructType,
                    touched: Seq[Long], changes: DataFrame, pk: String,
                    nbuckets: Int)
      : Option[ManifestStore.Manifest] => DataFrame = base => {
    val state = base match {
      case Some(mm) =>
        ManifestStore.readPhysicalOf(spark, statePath, Some(mm), payloadSchema,
          Some(touched)).drop(BucketCol)
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], payloadSchema)
    }
    UpsertSink.applyBatch(state, changes, pk, base.fold(0L)(_.floor))
      .withColumn(BucketCol, bucketOf(col(pk), nbuckets))
  }

  def bucketOf(pk: Column, numBuckets: Int): Column =
    pmod(xxhash64(pk), lit(numBuckets.toLong))

  /** Aggregate column: the set of buckets the non-null values of `pk` land
    * in (a null pk hashes to a real bucket, so it is masked out). */
  def touchedBucketsCol(pk: Column, numBuckets: Int): Column =
    collect_set(when(pk.isNotNull, bucketOf(pk, numBuckets)))

  /** The stored (pk, [[UpsertSink.OffsetCol]], [[UpsertSink.RidxCol]])
    * positions of a manifest's rows — tombstones included, so a deleted pk
    * still fences — optionally of a bucket subset; None when no selected
    * row carries a position, which the footers answer with no job (a store
    * just loaded by a backfill). Reads only the parquet columns it
    * selects. */
  def positions(spark: SparkSession, statePath: String,
                m: Option[ManifestStore.Manifest], pk: String,
                onlyBuckets: Option[Seq[Long]] = None): Option[DataFrame] =
    m.map(mm => mm.copy(buckets = mm.buckets.filter { case (b, _) =>
        onlyBuckets.forall(_.contains(b)) }))
      .filter(sel => ManifestStore.maxAppliedOffset(spark, statePath, Some(sel)).isDefined)
      .map { sel =>
        ManifestStore.readPhysicalOf(spark, statePath, Some(sel),
          org.apache.spark.sql.types.StructType(Nil))
          .filter(col(UpsertSink.OffsetCol).isNotNull)
          .select(col(pk), col(UpsertSink.OffsetCol), col(UpsertSink.RidxCol))
      }

  /** Fold stored positions into position-free or positioned rows: each
    * row keeps the greater of its own position and the one `positions`
    * holds for its pk, and a pk with a position but no row becomes a
    * tombstone. With no positions the rows just gain the reserved columns
    * (null: no change applied yet) — a snapshot rebuild stages its rows
    * so, since its floor fences every position it could carry. With
    * positions, this is how a rebuild takes in the positions applied
    * above its floor while its scan ran, and how a legacy `.wm` sidecar is
    * folded into the rows it guarded. */
  def foldPositions(rows: DataFrame, positions: Option[DataFrame],
                    pk: String): DataFrame = {
    import UpsertSink.{DeletedCol, OffsetCol, RidxCol}
    def orNull(c: String, t: String) =
      if (rows.columns.contains(c)) col(s"r.$c") else lit(null).cast(t)
    val payload = rows.columns.filterNot(UpsertSink.Reserved.contains)
    val r = rows.alias("r")
    positions match {
      case None =>
        r.select(payload.map(c => col(s"r.$c")) ++ Seq(
          orNull(OffsetCol, "long").as(OffsetCol), orNull(RidxCol, "int").as(RidxCol),
          orNull(DeletedCol, "boolean").as(DeletedCol)): _*)
      case Some(p) =>
        val pos = greatest(
          UpsertSink.position(orNull(OffsetCol, "long"), orNull(RidxCol, "int")),
          UpsertSink.position(col(s"p.$OffsetCol"), col(s"p.$RidxCol")))
        r.join(p.alias("p"), col(s"r.$pk") === col(s"p.$pk"), "full_outer")
          .select(payload.map(c =>
            (if (c == pk) coalesce(col(s"r.$c"), col(s"p.$c")) else col(s"r.$c")).as(c)) ++
            Seq(pos("o").as(OffsetCol), pos("r").as(RidxCol),
              when(col(s"r.$pk").isNotNull, orNull(DeletedCol, "boolean"))
                .otherwise(lit(true)).as(DeletedCol)): _*)
    }
  }

  /** The buckets `changes` touches, sorted — one aggregate job. */
  def touchedBuckets(changes: DataFrame, pk: String, numBuckets: Int): Seq[Long] =
    changes.agg(touchedBucketsCol(col(pk), numBuckets)).head()
      .getSeq[Long](0).sorted

  private def listNames(spark: SparkSession, statePath: String): Array[String] = {
    // Heal an interrupted legacy swap FIRST (a pre-manifest flat store was
    // swapped whole: live moved to '.old', next never moved in): without
    // this, a crash in that window makes the state look absent, the next
    // batch bootstraps an empty table, and once a new live dir exists the
    // '.old' full state is stranded forever — silent loss.
    StateCommit.recoverSwap(spark, statePath)
    val p = new org.apache.hadoop.fs.Path(statePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p).map(_.getPath.getName)
  }

  /** Entry names of a pre-manifest layout at a store's root: the retired
    * in-place layout's `_bucket=<id>` dirs and `_nbuckets-<n>` modulus
    * file, or a flat store's parquet part files, plus their `_SUCCESS`. */
  private[cdc] def isLegacyEntry(name: String): Boolean =
    name.startsWith(BucketCol + "=") || name.endsWith(".parquet") ||
      name.startsWith("_nbuckets-") || name == "_SUCCESS"

  /** True iff a root listing holds legacy DATA (bucket dirs or part
    * files) — `_SUCCESS` or a modulus file alone does not count. */
  private def legacyData(names: Array[String]): Boolean =
    names.exists(n => n.startsWith(BucketCol + "=") || n.endsWith(".parquet"))

  /** True iff the store holds data a reader must see: a published
    * manifest, or a legacy layout's data that its first batch or refresh
    * migrates. */
  def liveExists(spark: SparkSession, statePath: String): Boolean =
    ManifestStore.isManifestStore(spark, statePath) ||
      legacyData(listNames(spark, statePath))

  /** Current state (live rows, without the bucket or reserved columns).
    * The payload schema makes a
    * fully-emptied or not-yet-created state readable. A legacy store — the
    * retired in-place bucket-dir layout, or a FLAT store from before the
    * manifest store was the only layout — reads as its full legacy state,
    * never as absent, until its first batch or refresh migrates it. */
  def currentState(spark: SparkSession, statePath: String,
                   schema: org.apache.spark.sql.types.StructType): DataFrame =
    UpsertSink.live(storedState(spark, statePath,
      ManifestStore.currentManifest(spark, statePath), schema))

  /** The stored rows of manifest `m` (or of a legacy store when there is
    * none), tombstones and positions included, without the bucket column. */
  private[cdc] def storedState(spark: SparkSession, statePath: String,
                               m: Option[ManifestStore.Manifest],
                               schema: org.apache.spark.sql.types.StructType): DataFrame =
    m match {
      case Some(_) =>
        ManifestStore.readPhysicalOf(spark, statePath, m, schema).drop(BucketCol)
      case None =>
        if (legacyData(listNames(spark, statePath)))
          spark.read.parquet(statePath).drop(BucketCol)
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  /** Apply one compacted micro-batch: read ONLY the buckets the batch
    * touches, merge with [[UpsertSink.applyBatch]] semantics (presence
    * mask, create-replaces, delete-tombstones when positioned, superseded
    * changes absent under the store's snapshot floor), and publish the
    * touched buckets' new content as the next manifest version. `schema` makes the
    * very first batch work against a not-yet-created state (bootstrap
    * without a separate init). `statCols` are the zone-map stat columns the
    * manifest carries per bucket — a property of the store, like the
    * modulus: empty adopts the store's, different ones fail loud.
    * `touched` is the batch's bucket set when the caller already knows it
    * (it must be exactly `touchedBuckets(changes, pk, numBuckets)`);
    * otherwise it is computed here. An empty set publishes nothing, after
    * the legacy migration and the evolution guard have run. `changes` is
    * consumed once, by the merge. */
  def applyBatch(spark: SparkSession, statePath: String, changes: DataFrame,
                 pk: String, numBuckets: Int,
                 schema: Option[org.apache.spark.sql.types.StructType] = None,
                 statCols: Seq[String] = Seq.empty,
                 touched: Option[Seq[Long]] = None): Unit = {
    val m = ManifestStore.currentManifest(spark, statePath)
    // modulus fence (review r11): `pmod(hash, n)` decides which bucket a pk
    // lives in, so merging under a different modulus would miss existing
    // rows and duplicate pks — the store's layout wins
    m.foreach { mm =>
      if (mm.nbuckets != numBuckets)
        throw new IllegalStateException(
          s"manifest state at $statePath was laid out with ${mm.nbuckets} " +
            s"buckets; the configuration now says $numBuckets — run " +
            "`refresh` to re-bucket (the rebuild carries the configured layout)")
    }
    // stat columns are a property of the STORE like the modulus: a caller
    // that passes none adopts the store's; a caller that passes DIFFERENT
    // ones has changed config and must refresh (the rebuild re-lays the
    // stats out)
    val effStatCols = m match {
      case Some(mm) =>
        if (statCols.nonEmpty && statCols != mm.statCols)
          throw new IllegalStateException(
            s"manifest state at $statePath carries stats ${mm.statCols}; " +
              s"the configuration now says $statCols — run `refresh` to " +
              "re-lay the store out with the configured stat columns")
        mm.statCols
      case None => statCols
    }
    val payloadSchema = schema.getOrElse(
      org.apache.spark.sql.types.StructType(changes.schema.fields
        .filterNot(f => f.name == "op" || f.name == UpsertSink.PresentCol ||
          UpsertSink.Reserved.contains(f.name))))
    def fullRewrite(priorState: DataFrame): Unit = {
      val mergedFull = UpsertSink.applyBatch(priorState, changes, pk,
        m.fold(0L)(_.floor))
      val staged = ManifestStore.stageFull(spark, statePath, mergedFull, pk,
        numBuckets, effStatCols)
      ManifestStore.publishFull(spark, statePath, staged)
    }
    // one-time migration from a legacy layout (in-place bucket-dir or flat
    // store, no manifest yet): full merge + full publish; the publish drops
    // the superseded legacy files (ManifestStore.publishFull — the same
    // cutover a refresh or backfill over a legacy store takes)
    if (m.isEmpty && legacyData(listNames(spark, statePath))) {
      fullRewrite(spark.read.parquet(statePath).drop(BucketCol))
      return
    }
    // schema-evolution guard: a new column or a changed type pays a
    // one-time full merge + full publish so no two live bucket dirs ever
    // disagree on physical types. The resolved
    // manifest `m` is threaded through every read and the commit — ONE
    // manifest parse per batch (review r13 #6). The check itself reads ONE
    // bucket dir's footer on the driver, with no job: the invariant this
    // guard enforces is that every live dir carries the same physical
    // schema, so one dir answers for the store — a frame over every live
    // dir here cost an O(total buckets) file listing per batch (the r13
    // `ScaleCurve manifest` batch measured it as the only per-commit term
    // that grew with store size; at object-store scale it is a per-batch
    // LIST storm). An empty manifest
    // has no stored schema to disagree with — nothing to check.
    m.foreach { mm =>
      if (mm.buckets.nonEmpty) {
        val refDir = s"$statePath/${mm.buckets.minBy(_._1)._2.relDir}"
        val storedTypes = ParquetFooter.schemaOf(spark, refDir)
          .filterNot(_.name == BucketCol)
          .map(f => f.name -> f.dataType).toMap
        // the reserved columns merge by position, not as payload: they are
        // exempt, except that a store without them gains them once, through
        // this same full rewrite, when positioned changes first reach it
        val evolved = changes.schema
          .filterNot(f => f.name == "op" || f.name == UpsertSink.PresentCol ||
            UpsertSink.Reserved.contains(f.name))
          .exists(f => !storedTypes.get(f.name).contains(f.dataType)) ||
          (changes.columns.contains(UpsertSink.OffsetCol) &&
            !storedTypes.contains(UpsertSink.OffsetCol))
        if (evolved) {
          val full = ManifestStore.readPhysicalOf(spark, statePath, Some(mm),
            payloadSchema)
          fullRewrite(full.drop(BucketCol))
          return
        }
      }
    }
    val touchedSet = touched.getOrElse(touchedBuckets(changes, pk, numBuckets))
    if (touchedSet.isEmpty) return
    // OPTIMISTIC commit (r13): the merge is a CLOSURE over the base
    // manifest so a conflicting concurrent commit (an online repair /
    // backfill landing between our state read and our publish) makes
    // the loop re-merge against the winner's state instead of silently
    // clobbering it. The in-pipeline path is lease-serialized, so the
    // first attempt wins there and this costs one claim-file create.
    ManifestStore.commitBatchOptimistic(spark, statePath, touchedSet,
      numBuckets, effStatCols, prev = Some(m))(
      upsertMergeOf(spark, statePath, payloadSchema, touchedSet, changes, pk,
        numBuckets))
    ()
  }
}
