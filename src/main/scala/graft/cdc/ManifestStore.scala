package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** Manifest-versioned IMMUTABLE-FILE layout — the one physical layout of
  * the bucketed upsert sink ([[BucketedUpsertSink]]). It replaced an
  * in-place bucket-dir layout (r12 verdict #1) whose dynamic-partition
  * overwrite DELETED replaced part files, so a concurrent reader that
  * pinned them at scan planning died with a loud retryable
  * FAILED_READ_FILE — loud-never-wrong, but at 100 TB with many readers
  * constant operational pain.
  *
  * This layout is the lakehouse shape (the commit protocol Delta/Iceberg
  * give you, reduced to what the sink needs — no library, zero new deps):
  *
  *  - data files are written ONCE under per-commit directories and never
  *    renamed, rewritten, or deleted at commit time:
  *    `statePath/data/c-<millis>-<uuid>/bucket-<id>/part-*.parquet`
  *  - a tiny versioned TEXT manifest lists the live bucket directories:
  *    `statePath/manifest-v<000000000042>.txt`. Publish = write to a
  *    hidden tmp name + one atomic rename. Versions are never reused; a
  *    reader resolves the HIGHEST version once per scan and then touches
  *    only files that manifest references — files a later commit can
  *    supersede but never remove from under the pinned scan (vacuum
  *    deletes only what the last `keepVersions` manifests no longer
  *    reference AND is older than `minAgeMs`).
  *  - the manifest ALSO carries the per-bucket zone-map stats (live row
  *    count, min/max per stat column) and the sync's snapshot floor. Data,
  *    stats and floor publish in ONE atomic rename, so there is no window
  *    in which the stats describe a state the data no longer has, pruned
  *    reads need no staleness guard, and a refresh's floor cannot be lost
  *    after its snapshot landed.
  *  - rows may carry the sink's reserved position/tombstone columns
  *    ([[UpsertSink.Reserved]]); the logical readers ([[readStateOf]] and
  *    everything built on it) return live rows without them.
  *
  * Crash windows, all self-healing with no recoverSwap analog:
  * a crash before the manifest rename leaves an orphan commit dir (never
  * referenced, reaped by [[vacuum]] once old enough); the rename itself is
  * atomic; a crash after publish before vacuum leaves garbage the next
  * vacuum collects. Concurrent writers are FIRST-CLASS (r13): version
  * publication is mutually exclusive through an atomic create-exclusive
  * claim file (see the publish-protocol block below), and
  * [[commitBatchOptimistic]] runs the Delta-style optimistic loop on top —
  * rebase on disjoint-bucket conflicts, recompute on overlap — so an
  * online repair or backfill can commit safely WHILE the stream writes
  * (the single-driver [[DriverLease]] still serializes the pipeline's own
  * writers; the store no longer depends on it for integrity).
  *
  * 100 TB posture: the manifest is O(buckets) text resolved once per scan
  * (the Delta `_last_checkpoint` shape); per-commit work is the one write
  * of the touched buckets plus O(touched buckets) renames and footer reads
  * on the driver (the stats come from the written files' footers, so the
  * merged data is computed once and runs no stats job); vacuum listing is
  * bounded by the retention window and runs driver-side — at production
  * scale it is the periodic OPTIMIZE/VACUUM job, and running it per commit
  * here only because the retained set stays small.
  */
object ManifestStore {

  import BucketedUpsertSink.BucketCol

  /** Retention: a reader that resolved a manifest keeps every file it
    * references until the manifest ages out of the last `KeepVersions`
    * publishes AND `MinAgeMs` passes — the reader-scan-duration contract
    * every lakehouse vacuum has. */
  val KeepVersions = 8
  val MinAgeMs: Long = 10L * 60L * 1000L

  val DataDir = "data"
  private val FormatLine = "graft-manifest\t1"
  private val ManifestRe = """manifest-v(\d{12})\.txt""".r

  /** One bucket's live directory + its zone-map stats. `nRows` counts live
    * rows, not tombstones. Stats are stored as
    * LONG bounds (integral stat columns — the pruned-read API contract);
    * None = the bucket's column is all-null (conservatively non-matching,
    * exactly like the parquet zone map: null rows fail any range predicate).
    * A tombstone's payload is null, so only a pk stat column's bounds can
    * cover a tombstone — conservatively wider, never narrower. */
  final case class BucketEntry(relDir: String, nRows: Long,
                               stats: Map[String, (Option[Long], Option[Long])])

  /** `floor` is the sync's snapshot floor: every change at or below that
    * source offset was observed before a published snapshot and is
    * superseded by it (0 = no snapshot ever; see
    * [[OffsetWatermark.splitStale]]). Batch commits carry it forward;
    * [[publishFull]] raises it, never lowers it. */
  final case class Manifest(version: Long, nbuckets: Int,
                            statCols: Seq[String],
                            buckets: Map[Long, BucketEntry],
                            floor: Long = 0L) {
    def rowCount: Long = buckets.valuesIterator.map(_.nRows).sum
  }

  /** A staged-but-unpublished full snapshot (refresh/backfill): the data
    * commit dir is written OUTSIDE the state lock (unpublished = invisible),
    * publish is the cheap locked step. `commitDirs` (one, plus one per
    * [[restage]]) double as the abort path (dropping an unpublished commit
    * dir is always safe). */
  final case class StagedCommit(commitDirs: Seq[String],
                                buckets: Map[Long, BucketEntry],
                                nbuckets: Int, statCols: Seq[String]) {
    def count: Long = buckets.valuesIterator.map(_.nRows).sum
  }

  /** Published manifests are IMMUTABLE (versions never reused), so parses
    * memoize safely — but ONLY when keyed by the manifest FILE's identity
    * (mtime + length), not by (path, version) alone: a state dir wiped and
    * recreated in one JVM (dev scratch roots, tests) restarts versions at
    * 1, and a path-keyed cache then serves the OLD store's manifest whose
    * files are gone (r13 fuzz-gate finding — PATH_NOT_FOUND mid-stream).
    * The getFileStatus probe the key needs is paid anyway to read. */
  private final case class MKey(path: String, version: Long,
                                mtime: Long, len: Long)
  private val manifestCache =
    new java.util.LinkedHashMap[MKey, Manifest](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[MKey, Manifest]): Boolean =
        size() > 64
    }

  /** In-flight commit dirs of THIS driver (absolute paths): a refresh
    * stages its full snapshot OUTSIDE the state lock, and a slow stage can
    * outlive the vacuum age floor — the live stream's per-batch vacuums
    * must never reap a sibling thread's unpublished staging commit
    * (review r13 #2). This set is JVM-local; writers in OTHER processes
    * (first-class since the r13 OCC work) are protected by the filesystem
    * instead: vacuum's unpublished-dir age floor exceeds the optimistic
    * loop's whole wait budget (ClaimTakeoverMs + grace), and a waiting
    * writer re-touches its staged dir's mtime on every backoff tick, so a
    * LIVE foreign stage never goes stale while only a crashed one does
    * (ADVICE r13 medium). */
  private val activeStaging =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def hfs(spark: SparkSession, p: String) = {
    val path = new org.apache.hadoop.fs.Path(p)
    (path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }

  private def manifestName(v: Long): String = f"manifest-v$v%012d.txt"

  /** True iff `statePath` is a manifest-layout store (any published
    * manifest version exists); a store without one reads as empty. */
  def isManifestStore(spark: SparkSession, statePath: String): Boolean =
    // NOT cached (r13 fuzz-gate finding): a sticky positive poisoned any
    // path that is wiped and recreated in one JVM (dev scratch roots,
    // tests) — one listStatus per probe is the honest cost
    latestVersion(spark, statePath).isDefined

  private def latestVersion(spark: SparkSession, statePath: String): Option[Long] = {
    val (fs, p) = hfs(spark, statePath)
    if (!fs.exists(p)) None
    else {
      val vs = fs.listStatus(p).iterator.map(_.getPath.getName).collect {
        case ManifestRe(v) => v.toLong
      }.toSeq
      if (vs.isEmpty) None else Some(vs.max)
    }
  }

  def currentManifest(spark: SparkSession, statePath: String): Option[Manifest] =
    latestVersion(spark, statePath).map(v => readManifest(spark, statePath, v))

  /** Retained manifest history, oldest first: (version, publish mtime).
    * Bounded by vacuum retention — at most ~[[KeepVersions]] entries plus
    * whatever the age floor is still holding. */
  def history(spark: SparkSession, statePath: String): Seq[(Long, Long)] = {
    val (fs, p) = hfs(spark, statePath)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).iterator.flatMap { st =>
      st.getPath.getName match {
        case ManifestRe(v) => Some((v.toLong, st.getModificationTime))
        case _ => None
      }
    }.toSeq.sortBy(_._1)
  }

  /** The manifest of a SPECIFIC retained version — the time-travel anchor.
    * A version outside retention (vacuumed, or never published) fails LOUD
    * naming the retained range; it is never silently substituted with a
    * neighbor. */
  def manifestAt(spark: SparkSession, statePath: String,
                 version: Long): Manifest = {
    val (fs, _) = hfs(spark, statePath)
    val mp = new org.apache.hadoop.fs.Path(statePath, manifestName(version))
    if (!fs.exists(mp)) {
      val h = history(spark, statePath).map(_._1)
      throw new IllegalStateException(
        s"manifest version $version is not retained at $statePath — " +
          (if (h.isEmpty) "no manifest has ever been published here"
           else s"retained versions are [${h.head}..${h.last}]; versions " +
             s"that aged out of the last keepVersions=$KeepVersions " +
             "publishes were vacuumed"))
    }
    readManifest(spark, statePath, version)
  }

  /** TIME-TRAVEL read: the state exactly as manifest `version` published
    * it. Every file a retained manifest references is immutable and
    * vacuum-protected, so this is a plain pruned-listing read — the
    * snapshot-reproducibility primitive a training pipeline needs (pin the
    * corpus version a run trained on; re-read it byte-identical later,
    * within retention). */
  def readStateAt(spark: SparkSession, statePath: String, schema: StructType,
                  version: Long,
                  onlyBuckets: Option[Seq[Long]] = None): DataFrame =
    readStateOf(spark, statePath,
      Some(manifestAt(spark, statePath, version)), schema, onlyBuckets)

  /** Highest retained version published at-or-before `tsMillis` (AS OF
    * TIMESTAMP). Publish mtimes are monotone in version (single-driver
    * publishes, one rename each), so this is well-defined; a timestamp
    * older than the retained history fails LOUD — answering it with the
    * oldest survivor would silently misdate the snapshot. */
  def versionAsOf(spark: SparkSession, statePath: String,
                  tsMillis: Long): Long = {
    val h = history(spark, statePath)
    require(h.nonEmpty, s"no manifest has ever been published at $statePath")
    val at = h.filter(_._2 <= tsMillis)
    if (at.isEmpty) throw new IllegalStateException(
      s"as-of $tsMillis predates the oldest retained manifest at " +
        s"$statePath (version ${h.head._1}, published ${h.head._2}) — " +
        "earlier history has been vacuumed; an exact as-of read older " +
        "than retention cannot be answered")
    at.last._1
  }

  /** [[readStateAt]] resolved by publish time instead of version. */
  def readStateAsOf(spark: SparkSession, statePath: String,
                    schema: StructType, tsMillis: Long): DataFrame =
    readStateAt(spark, statePath, schema,
      versionAsOf(spark, statePath, tsMillis))

  /** CHANGE DATA FEED between two retained versions: the row-level delta a
    * downstream consumer applies to move a copy from `fromVersion`'s state
    * to `toVersion`'s without rescanning the store — payload columns plus
    * `_change` ('insert' | 'delete'; an updated key emits delete(old) +
    * insert(new)). Only buckets whose manifest entries DIFFER between the
    * two versions are read (an untouched bucket's entry is carried forward
    * byte-identical, so entry inequality is exactly the touched set);
    * within them, unchanged rows cancel in the null-safe set difference.
    * Cost: O(changed-bucket content) read + one except shuffle — never a
    * full-store diff. Both versions must be inside vacuum retention
    * ([[manifestAt]] fails loud otherwise). */
  def changesBetween(spark: SparkSession, statePath: String,
                     schema: StructType, fromVersion: Long,
                     toVersion: Long): DataFrame = {
    require(fromVersion < toVersion,
      s"changesBetween needs fromVersion < toVersion, got " +
        s"$fromVersion >= $toVersion")
    val a = manifestAt(spark, statePath, fromVersion)
    val b = manifestAt(spark, statePath, toVersion)
    val changed = (a.buckets.keySet ++ b.buckets.keySet).toSeq.sorted
      .filter(k => a.buckets.get(k).map(_.relDir) !=
        b.buckets.get(k).map(_.relDir))
    val oldDf = readStateOf(spark, statePath, Some(a), schema,
      Some(changed.filter(a.buckets.contains))).drop(BucketedUpsertSink.BucketCol)
    val newDf = readStateOf(spark, statePath, Some(b), schema,
      Some(changed.filter(b.buckets.contains))).drop(BucketedUpsertSink.BucketCol)
    oldDf.except(newDf).withColumn("_change", lit("delete"))
      .unionByName(newDf.except(oldDf).withColumn("_change", lit("insert")))
  }

  /** [[changesBetween]] from `fromVersion` to the current version; empty
    * (same schema) when the store is already at `fromVersion`. */
  def changesSince(spark: SparkSession, statePath: String,
                   schema: StructType, fromVersion: Long): DataFrame = {
    val cur = currentManifest(spark, statePath).getOrElse(throw
      new IllegalStateException(
        s"no manifest has ever been published at $statePath")).version
    if (cur == fromVersion)
      readStateAt(spark, statePath, schema, fromVersion)
        .drop(BucketedUpsertSink.BucketCol)
        .filter(lit(false)).withColumn("_change", lit(""))
    else changesBetween(spark, statePath, schema, fromVersion, cur)
  }

  private[cdc] def readManifest(spark: SparkSession, statePath: String,
                                version: Long): Manifest = {
    val (fs, _) = hfs(spark, statePath)
    val mp = new org.apache.hadoop.fs.Path(statePath, manifestName(version))
    val st = fs.getFileStatus(mp)
    val key = MKey(statePath, version, st.getModificationTime, st.getLen)
    manifestCache.synchronized {
      val hit = manifestCache.get(key)
      if (hit != null) return hit
    }
    val in = fs.open(mp)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val m = parseManifest(text, mp.toString)
    manifestCache.synchronized { manifestCache.put(key, m); () }
    m
  }

  private[cdc] def parseManifest(text: String, where: String): Manifest = {
    val lines = text.split("\n", -1).iterator.filter(_.nonEmpty).toVector
    require(lines.headOption.contains(FormatLine),
      s"$where: not a graft manifest (bad format line)")
    val kv = lines.drop(1).map(_.split("\t", -1))
    def field(k: String): String = kv.find(_.head == k).map(_(1)).getOrElse(
      throw new IllegalStateException(s"$where: missing manifest field '$k'"))
    val statCols = field("statcols").split(",", -1).filter(_.nonEmpty).toSeq
    def bound(s: String): Option[Long] = if (s == "-") None else Some(s.toLong)
    val buckets = kv.filter(_.head == "bucket").map { f =>
      // bucket <id> <relDir> <nrows> then (min max) per stat col
      require(f.length == 4 + 2 * statCols.size,
        s"$where: bucket line arity ${f.length} != ${4 + 2 * statCols.size}")
      val stats = statCols.zipWithIndex.map { case (c, i) =>
        c -> ((bound(f(4 + 2 * i)), bound(f(5 + 2 * i))))
      }.toMap
      f(1).toLong -> BucketEntry(f(2), f(3).toLong, stats)
    }.toMap
    Manifest(field("version").toLong, field("nbuckets").toInt, statCols,
      buckets, field("floor").toLong)
  }

  private def renderManifest(m: Manifest): String = {
    def bound(b: Option[Long]): String = b.fold("-")(_.toString)
    val header = Seq(FormatLine,
      s"version\t${m.version}", s"nbuckets\t${m.nbuckets}",
      s"statcols\t${m.statCols.mkString(",")}", s"floor\t${m.floor}")
    val rows = m.buckets.toSeq.sortBy(_._1).map { case (b, e) =>
      (Seq("bucket", b.toString, e.relDir, e.nRows.toString) ++
        m.statCols.flatMap(c => Seq(bound(e.stats(c)._1), bound(e.stats(c)._2))))
        .mkString("\t")
    }
    (header ++ rows).mkString("", "\n", "\n")
  }

  // ---------------------------------------------------------------------
  // Optimistic-concurrency publish protocol (r13). The naive tmp+rename
  // publish is NOT loud under a real two-writer race on a POSIX filesystem:
  // Hadoop's RawLocalFileSystem.rename maps to rename(2), which silently
  // REPLACES an existing destination — two writers publishing the same
  // version would last-write-win and lose a commit without any error. The
  // protocol below makes version publication mutually exclusive using ONLY
  // the one atomic-and-arbitrating primitive every target filesystem has,
  // create-exclusive — claims are GENERATION files that are only ever
  // CREATED, never deleted-then-recreated or moved, so every contention
  // point is settled by exactly one create winning:
  //
  //  1. render the manifest to a hidden tmp file (invisible to readers);
  //  2. CLAIM the version by atomically creating generation file
  //     `manifest-v<V>.claim-g<G>` (create-exclusive: O_CREAT|O_EXCL
  //     locally, create(overwrite=false) on HDFS — atomic on both), where
  //     G = 0 for an unclaimed version, or highest-existing + 1 when the
  //     highest generation is STALE (a crashed claimant, below). Losing
  //     the create means another writer owns that generation: back off.
  //  3. FENCE immediately before the rename: abort if a HIGHER generation
  //     claim appeared (a breaker decided we crashed) or the manifest was
  //     published meanwhile;
  //  4. one atomic rename tmp -> manifest-v<V>.txt. The highest-generation
  //     claim owner is the only renamer, so the rename never races.
  //
  // Crash recovery: a writer that dies between (2) and (4) leaves its
  // generation claim with no manifest, which would wedge the version. A
  // later writer that finds the highest generation OLDER than
  // `claimTakeoverMs` claims generation+1 — create-exclusive, so when TWO
  // healthy breakers cross the staleness threshold together exactly one
  // wins the takeover and the loser backs off cleanly (a delete-based
  // break would let the second breaker destroy the first breaker's fresh
  // claim — the lost-update class this protocol exists to prevent).
  // Residual window, documented honestly: a claimant that stalls LONGER
  // than claimTakeoverMs between its fence (3) and its rename (4) can
  // still race the breaker's ms-scale publish — the same double-fault
  // assumption (stall budget >> takeover threshold) every lease-based
  // system, including [[DriverLease]], already makes. Delta-on-S3 has
  // exactly this shape without an external lock service.
  // ---------------------------------------------------------------------

  /** Claim-takeover threshold: a version claim with no published manifest
    * older than this is considered crashed and may be superseded by a
    * higher-generation claim. Must be far above any plausible stall
    * between claiming and renaming (the rename follows the claim within
    * milliseconds on a healthy writer). */
  val ClaimTakeoverMs: Long = 15L * 60L * 1000L

  private[cdc] def claimName(v: Long, g: Int): String =
    f"manifest-v$v%012d.claim-g$g%04d"
  private val ClaimRe = """manifest-v(\d{12})\.claim-g(\d{4})""".r

  /** Atomic create-exclusive of `p` (content: a writer token, diagnostics
    * only — ownership IS having won this create): true iff WE created it.
    * Local filesystems go through java.io.File.createNewFile
    * (O_CREAT|O_EXCL — atomic); everything else through
    * create(overwrite=false), which HDFS implements atomically. */
  private def atomicClaim(fs: org.apache.hadoop.fs.FileSystem,
                          p: org.apache.hadoop.fs.Path,
                          token: String): Boolean = {
    val created =
      if (fs.getScheme == "file") {
        val f = new java.io.File(p.toUri.getPath)
        f.getParentFile.mkdirs()
        // lost-the-race is ONLY an existing file (mirror the non-file
        // branch, ADVICE r13): a genuine I/O failure (permissions, disk
        // full) mapped to `false` would spin the optimistic loop through
        // its full takeover budget and then blame a "stalled foreign
        // writer" — fail fast instead
        try f.createNewFile()
        catch { case e: java.io.IOException =>
          if (f.exists()) false else throw e }
      } else {
        try { fs.create(p, false).close(); true }
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.io.IOException if fs.exists(p) => false
        }
      }
    if (created)
      writeSmallFile(fs, p, token.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        createNew = false)
    created
  }

  /** Write a few bytes of metadata to `p`: `createNew` fails if it exists
    * (create-exclusive), otherwise an existing file is replaced. On the
    * `file` scheme this goes through java.nio: Hadoop's local filesystem
    * without native libraries forks a `chmod` process per `create` (about
    * 9 ms each, against 0.14 ms for the nio write), and a commit makes two
    * such writes. Elsewhere it is the filesystem's own create. */
  private def writeSmallFile(fs: org.apache.hadoop.fs.FileSystem,
                             p: org.apache.hadoop.fs.Path, bytes: Array[Byte],
                             createNew: Boolean): Unit =
    if (fs.getScheme == "file") {
      import java.nio.file.StandardOpenOption._
      val opts =
        if (createNew) Seq(CREATE_NEW, WRITE) else Seq(CREATE, TRUNCATE_EXISTING, WRITE)
      java.nio.file.Files.write(java.nio.file.Paths.get(p.toUri.getPath), bytes, opts: _*)
      ()
    } else {
      val out = fs.create(p, !createNew)
      try out.write(bytes) finally out.close()
    }

  /** The filesystem's own clock: the mtime it stamps on a freshly created
    * probe file. Used wherever an AGE is computed from an mtime another
    * host may have stamped — comparing those against the local clock
    * imports the full cross-host skew into the margin. Falls back to the
    * local clock if the probe cannot be created (the pre-ADVICE behavior,
    * never worse). One create+stat+delete per call — only invoked on
    * contention paths, never per row or per batch of a healthy commit. */
  private def fsNowMs(fs: org.apache.hadoop.fs.FileSystem,
                      dir: org.apache.hadoop.fs.Path): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(dir,
        s".clock-probe-${java.util.UUID.randomUUID().toString.take(8)}")
      fs.create(p, true).close()
      val t = fs.getFileStatus(p).getModificationTime
      try { fs.delete(p, false); () } catch { case _: java.io.IOException => () }
      t
    } catch { case _: java.io.IOException => System.currentTimeMillis() }

  /** Test seam: runs between the fence and the rename. Production value is
    * a no-op; the OCC spec uses it to take the claim over mid-publish and
    * prove the fence aborts the stalled claimant. */
  private[cdc] var occBeforeRenameHook: () => Unit = () => ()

  private[cdc] sealed trait PublishOutcome
  private[cdc] case object Published extends PublishOutcome
  /** The target version is owned or already published by another writer
    * (or our fence fired). The caller re-reads the latest manifest and
    * rebases/recomputes. */
  private[cdc] case object VersionTaken extends PublishOutcome

  /** One optimistic publish attempt of manifest `m` under the claim
    * protocol above. Never throws on contention — contention is a normal
    * outcome ([[VersionTaken]]); it throws only on genuine I/O failure,
    * and then never leaves its own claim behind (a lingering claim from an
    * aborting LIVE writer would wedge the version for the full takeover
    * threshold). */
  private[cdc] def tryPublish(spark: SparkSession, statePath: String,
                              m: Manifest,
                              claimTakeoverMs: Long = ClaimTakeoverMs): PublishOutcome = {
    val (fs, root) = hfs(spark, statePath)
    fs.mkdirs(root)
    val manifestP = new org.apache.hadoop.fs.Path(statePath, manifestName(m.version))
    def claimGens(): Seq[(Int, Long)] = // (generation, mtime), ascending
      fs.listStatus(root).iterator.flatMap { st =>
        st.getPath.getName match {
          case ClaimRe(v, g) if v.toLong == m.version =>
            Some((g.toInt, st.getModificationTime))
          case _ => None
        }
      }.toSeq.sortBy(_._1)
    if (fs.exists(manifestP)) return VersionTaken
    val existing = claimGens()
    val myGen: Int = existing.lastOption match {
      case None => 0
      case Some((hg, hmtime)) =>
        // staleness is measured against the FILESYSTEM's clock (a fresh
        // probe file's mtime), not the local one: the claim's mtime was
        // stamped by the storage host, and with writers on different
        // machines local-vs-storage skew would eat directly into the
        // takeover margin and could retire a HEALTHY claimant early
        // (ADVICE r13). Residual skew (storage clock moving between the
        // claim stamp and the probe) must stay far below ClaimTakeoverMs.
        if (fsNowMs(fs, root) - hmtime < claimTakeoverMs)
          return VersionTaken // a fresh claimant is mid-publish: wait
        hg + 1 // crashed claimant: take over by CREATING the next generation
    }
    val token = java.util.UUID.randomUUID().toString
    val claimP = new org.apache.hadoop.fs.Path(statePath, claimName(m.version, myGen))
    if (!atomicClaim(fs, claimP, token))
      return VersionTaken // another writer won this generation
    def dropOwnClaim(): Unit =
      try { fs.delete(claimP, false); () } catch { case _: java.io.IOException => () }
    if (fs.exists(manifestP)) { // published while we were claiming
      dropOwnClaim()
      return VersionTaken
    }
    val tmp = new org.apache.hadoop.fs.Path(statePath,
      s".manifest-tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      writeSmallFile(fs, tmp,
        renderManifest(m).getBytes(java.nio.charset.StandardCharsets.UTF_8),
        createNew = true)
      occBeforeRenameHook()
      // FENCE: a higher-generation claim means a breaker decided we
      // crashed and owns the version now; a published manifest means the
      // race is over. Abort without renaming in both cases.
      if (claimGens().exists(_._1 > myGen) || fs.exists(manifestP)) {
        try { fs.delete(tmp, false); () } catch { case _: java.io.IOException => () }
        dropOwnClaim()
        return VersionTaken
      }
      if (!fs.rename(tmp, manifestP)) {
        try { fs.delete(tmp, false); () } catch { case _: java.io.IOException => () }
        dropOwnClaim()
        throw new IllegalStateException(
          s"manifest rename failed for $manifestP while holding its claim — " +
            "filesystem refused an uncontended atomic rename")
      }
    } catch {
      case t: Throwable =>
        // an aborting LIVE writer must never wedge the version: drop the
        // claim (and tmp, best-effort) before propagating
        try { fs.delete(tmp, false); () } catch { case _: java.io.IOException => () }
        dropOwnClaim()
        throw t
    }
    // claims are CONSUMED once the manifest exists (every later attempt
    // short-circuits on the manifest probe before touching them): delete
    // our generation and everything below it so a healthy store carries no
    // claim files at rest. Higher generations (possible only inside the
    // documented double-fault window) are left to the vacuum sweep.
    claimGens().filter(_._1 <= myGen).foreach { case (g, _) =>
      try { fs.delete(new org.apache.hadoop.fs.Path(statePath,
        claimName(m.version, g)), false); () }
      catch { case _: java.io.IOException => () }
    }
    Published
  }

  /** Single-writer publish of a full snapshot ([[publishFull]], serialized
    * by the state lock and [[DriverLease]]): one claim-guarded attempt;
    * contention here means the single-driver contract was violated, so it
    * fails LOUD — and with the
    * claim protocol that loudness now actually holds on POSIX filesystems,
    * where a bare rename would silently last-write-win. */
  private def writeManifest(spark: SparkSession, statePath: String,
                            m: Manifest): Unit =
    tryPublish(spark, statePath, m) match {
      case Published => ()
      case VersionTaken => throw new IllegalStateException(
        s"manifest publish lost the claim race for version ${m.version} at " +
          s"$statePath — two writers on one state path violates the " +
          "single-driver contract (DriverLease); concurrent writers must " +
          "commit through commitBatchOptimistic")
    }

  /** Read the state a manifest describes, optionally only a bucket subset.
    * Data files carry the bucket id as a NORMAL long column ([[BucketCol]]),
    * so no partition-directory inference is ever involved; an empty
    * selection (or no manifest yet) returns an empty frame with
    * payload-schema + bucket column. The schema is the first selected
    * dir's footer, read on the driver: the footer Spark's own non-merging
    * inference would read, without the job it runs to read it (every live
    * dir shares one physical schema — the sink's evolution guard). Every
    * file this touches is immutable —
    * a concurrent commit can supersede them in a NEWER manifest but never
    * delete them inside the retention window, so the read cannot hit a
    * vanished file. */
  def readState(spark: SparkSession, statePath: String, schema: StructType,
                onlyBuckets: Option[Seq[Long]] = None): DataFrame =
    readStateOf(spark, statePath, currentManifest(spark, statePath), schema,
      onlyBuckets)

  /** As [[readState]] over an ALREADY-resolved manifest — the hot batch
    * path resolves once and threads it. Live rows only,
    * without the reserved position/tombstone columns ([[UpsertSink.live]]). */
  def readStateOf(spark: SparkSession, statePath: String,
                  manifest: Option[Manifest], schema: StructType,
                  onlyBuckets: Option[Seq[Long]] = None): DataFrame =
    UpsertSink.live(readPhysicalOf(spark, statePath, manifest, schema, onlyBuckets))

  /** The stored rows themselves, tombstones and positions included: what
    * the sink's merge reads and rewrites. */
  private[cdc] def readPhysicalOf(spark: SparkSession, statePath: String,
                                  manifest: Option[Manifest], schema: StructType,
                                  onlyBuckets: Option[Seq[Long]] = None): DataFrame =
    readBuckets(spark, statePath, manifest.fold(Map.empty[Long, BucketEntry])(_.buckets),
      schema, onlyBuckets)

  /** The physical rows of a staged, unpublished snapshot (of a bucket
    * subset). */
  private[cdc] def readStaged(spark: SparkSession, statePath: String,
                              staged: StagedCommit, schema: StructType,
                              onlyBuckets: Option[Seq[Long]] = None): DataFrame =
    readBuckets(spark, statePath, staged.buckets, schema, onlyBuckets)

  /** Every bucket dir of a manifest (or a staged snapshot) shares one
    * physical schema (the sink's evolution guard), so a read of a bucket
    * SUBSET — an empty one included — takes it from the lowest bucket's
    * footer, not from the caller's payload `schema` (used only when there
    * is no bucket at all). A merge whose buckets are all new then still
    * writes the columns every other bucket has: a positionless caller
    * ([[graft.ops.Maintenance.repairUpsert]]) over a positioned store keeps
    * the reserved columns. */
  private def readBuckets(spark: SparkSession, statePath: String,
                          buckets: Map[Long, BucketEntry], schema: StructType,
                          onlyBuckets: Option[Seq[Long]]): DataFrame = {
    val sel = onlyBuckets.map(_.toSet)
    val sorted = buckets.toSeq.sortBy(_._1)
    val dirs = sorted.collect {
      case (b, e) if sel.forall(_.contains(b)) => s"$statePath/${e.relDir}" }
    sorted.headOption.map { case (_, e) =>
      ParquetFooter.schemaOf(spark, s"$statePath/${e.relDir}") } match {
      case Some(physical) if dirs.nonEmpty =>
        spark.read.schema(physical).parquet(dirs: _*)
      case found =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(found.getOrElse(schema).fields.filterNot(_.name == BucketCol) :+
            StructField(BucketCol, LongType)))
    }
  }

  /** The greatest source offset any row of the store carries — the last
    * change the sink applied — from the live buckets' parquet footers on
    * the driver, with no job; None when no row carries a position. */
  def maxAppliedOffset(spark: SparkSession, statePath: String,
                       manifest: Option[Manifest]): Option[Long] = {
    val (fs, _) = hfs(spark, statePath)
    val conf = spark.sparkContext.hadoopConfiguration
    manifest.toSeq.flatMap(_.buckets.values).flatMap { e =>
      ParquetFooter.maxOf(conf, ParquetFooter.dataFiles(fs,
        new org.apache.hadoop.fs.Path(s"$statePath/${e.relDir}")), UpsertSink.OffsetCol)
    }.maxOption
  }

  private val BpartRe = """_bpart=(\d+)""".r

  /** Write one commit's data dir from a bucket-columned frame and return
    * the per-bucket entries (dir + stats). The frame is consumed ONCE, by
    * the write: each bucket's row count and stat bounds come from its
    * written files' footers on the driver ([[ParquetFooter.integralStats]]).
    * A frame with no rows leaves no dir and returns no entries. A failed
    * write drops its staging registration and its partial dir before
    * rethrowing — an unpublished dir is never referenced, so nothing else
    * can need it. */
  private def writeCommit(spark: SparkSession, statePath: String,
                          withBucket: DataFrame,
                          statCols: Seq[String]): Map[Long, BucketEntry] = {
    // the footer bounds equal min/max(cast(c as long)) only for integral
    // columns (the BucketEntry contract): refuse anything else up front
    statCols.foreach { c =>
      val t = withBucket.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        s"zone-map stat column '$c' is $t; stat columns must be integral")
    }
    val rel = s"$DataDir/c-${System.currentTimeMillis()}-" +
      java.util.UUID.randomUUID().toString.take(8)
    val abs = s"$statePath/$rel"
    val (fs, absP) = hfs(spark, abs)
    // registered BEFORE any file exists: vacuum must skip this dir for as
    // long as this driver is still staging/publishing it, however slow
    activeStaging.add(abs)
    try {
      // partitionBy gives one dir per bucket but strips the column and
      // names dirs `_bpart=<id>` — hidden to any Spark listing. Duplicate
      // the bucket id into a partition-only column, write, then rename each
      // dir to the plain `bucket-<id>` the manifest references (O(touched
      // buckets) driver renames; the files inside keep the real BucketCol).
      withBucket.withColumn("_bpart", col(BucketCol))
        .repartition(col("_bpart"))
        .write.mode("overwrite").partitionBy("_bpart").parquet(abs)
      val conf = spark.sparkContext.hadoopConfiguration
      val entries = fs.listStatus(absP).toSeq.map(_.getPath.getName).collect {
        case BpartRe(id) =>
          val b = id.toLong
          val src = new org.apache.hadoop.fs.Path(absP, s"_bpart=$b")
          val (n, st) = ParquetFooter.integralStats(conf,
            ParquetFooter.dataFiles(fs, src), statCols)
          val dst = new org.apache.hadoop.fs.Path(absP, f"bucket-$b%05d")
          if (!fs.rename(src, dst))
            throw new IllegalStateException(s"commit rename failed: $src -> $dst")
          b -> BucketEntry(f"$rel%s/bucket-$b%05d", n, st)
      }.toMap
      if (entries.isEmpty) discardStaging(fs, abs)
      else {
        // drop the _SUCCESS marker so only bucket dirs remain (cosmetic)
        try { fs.delete(new org.apache.hadoop.fs.Path(absP, "_SUCCESS"), false); () }
        catch { case _: java.io.IOException => () }
      }
      entries
    } catch {
      case t: Throwable =>
        discardStaging(fs, abs)
        throw t
    }
  }

  /** Drop one of THIS driver's unpublished commit dirs: its staging
    * registration and its files. Only for a dir no manifest references. */
  private def discardStaging(fs: org.apache.hadoop.fs.FileSystem,
                             abs: String): Unit = {
    activeStaging.remove(abs)
    try { fs.delete(new org.apache.hadoop.fs.Path(abs), true); () }
    catch { case _: java.io.IOException => () }
  }

  /** Commit dirs of `statePath` this driver is still staging (specs). */
  private[cdc] def stagingUnder(statePath: String): Set[String] =
    activeStaging.asScala.filter(_.startsWith(statePath + "/")).toSet

  /** The layout (modulus, stat columns) is a property of the STORE: a
    * writer configured differently must refresh, not write. */
  private def validateLayout(statePath: String, m: Option[Manifest],
                             nbuckets: Int, statCols: Seq[String]): Unit =
    m.foreach(mm => require(mm.nbuckets == nbuckets && mm.statCols == statCols,
      s"manifest store at $statePath has (nbuckets=${mm.nbuckets}, " +
        s"statCols=${mm.statCols}); the writer was configured " +
        s"($nbuckets, $statCols) — run `refresh` to re-lay the store out"))

  /** Outcome of one [[commitBatchOptimistic]]: the published version plus
    * how the race went — `rebases` are cheap manifest-only retries (the
    * interleaved commits touched DISJOINT buckets, so our staged files
    * stayed valid), `recomputes` re-ran the caller's merge against the
    * newer state (overlapping buckets made the staged merge stale). */
  final case class OccResult(version: Long, attempts: Int,
                             rebases: Int, recomputes: Int)

  /** OPTIMISTIC multi-writer commit — the Delta/Iceberg commit loop over
    * this layout, and what makes ONLINE repair/backfill safe alongside a
    * live stream (no more stop-the-stream requirement for
    * [[graft.ops.Maintenance.repairUpsert]]-class fixes).
    *
    * `computeMerged(base)` must return the new FULL content of the
    * `touched` buckets given the state `base` describes (bucket-columned;
    * consumed once, by the commit-dir write); untouched buckets carry their
    * entries forward unchanged, and a touched bucket absent from the merge
    * (its last row deleted) leaves the manifest. An empty `touched` set
    * publishes the base's buckets as the next version. The
    * loop: stage files against the current manifest, attempt a
    * claim-guarded publish of version+1; on contention re-read the latest
    * manifest and either REBASE (interleaved commits touched disjoint
    * buckets — our files are still the correct new content, only the
    * manifest pointer moves: O(1) extra cost) or RECOMPUTE (overlap — the
    * merge was computed against superseded bucket content and must re-run;
    * the superseded staged dir was never published, so it is deleted).
    *
    * 100 TB posture: contention cost is proportional to CONFLICTING work,
    * never to store size — a rebase is one manifest render+rename; a
    * recompute re-reads only the touched buckets. With B-bucket batches on
    * an N-bucket store, two concurrent writers overlap with probability
    * ~B²/N (birthday bound), so sizing N >> B² keeps recomputes rare; the
    * claim protocol makes the worst case a retry, never a lost update.
    *
    * Fails loud after `maxAttempts` base-advancing conflicts, or when a
    * pending foreign claim neither publishes nor goes stale within the
    * takeover threshold plus a grace budget. */
  def commitBatchOptimistic(spark: SparkSession, statePath: String,
                            touched: Seq[Long], nbuckets: Int,
                            statCols: Seq[String],
                            prev: Option[Option[Manifest]] = None,
                            maxAttempts: Int = 10,
                            claimTakeoverMs: Long = ClaimTakeoverMs,
                            backoffMs: Long = 25L)
                           (computeMerged: Option[Manifest] => DataFrame): OccResult = {
    val touchedSet = touched.toSet
    def validate(m: Option[Manifest]): Unit =
      validateLayout(statePath, m, nbuckets, statCols)
    def stage(b: Option[Manifest]): Map[Long, BucketEntry] =
      writeCommit(spark, statePath, computeMerged(b), statCols)
    var base = prev.getOrElse(currentManifest(spark, statePath))
    validate(base)
    var written = stage(base)
    var rebases = 0
    var recomputes = 0
    var attempts = 0
    // a pending foreign claim gets the takeover threshold plus grace to
    // either publish or go stale before we declare the store wedged; the
    // budget RESETS whenever the base advances (progress was made — a slow
    // commit with many legitimate conflicts must not inherit a spent clock
    // and then misread the next healthy fresh claim as a wedge)
    def freshDeadline() = System.currentTimeMillis() + claimTakeoverMs + 60000L
    var waitDeadline = freshDeadline()
    // exponential backoff while a foreign claimant is mid-publish: each
    // wait tick costs a listing of the state root, and a fixed short poll
    // over a long takeover window is exactly the per-prefix LIST storm the
    // 100 TB posture forbids
    var wait = backoffMs
    try {
      while (true) {
        attempts += 1
        val next = Manifest(
          version = base.fold(1L)(_.version + 1L),
          nbuckets = nbuckets, statCols = statCols,
          buckets = base.fold(Map.empty[Long, BucketEntry])(_.buckets)
            .removedAll(touched) ++ written,
          floor = base.fold(0L)(_.floor))
        tryPublish(spark, statePath, next, claimTakeoverMs) match {
          case Published =>
            releaseStaging(statePath, written)
            vacuum(spark, statePath)
            return OccResult(next.version, attempts, rebases, recomputes)
          case VersionTaken =>
            val latest = currentManifest(spark, statePath)
            if (latest.map(_.version) == base.map(_.version)) {
              // our target version is claimed but not yet published: wait
              // for the claimant to publish or for its claim to go stale
              // (tryPublish then takes it over)
              if (System.currentTimeMillis() > waitDeadline)
                throw new IllegalStateException(
                  s"optimistic commit to $statePath wedged: version " +
                    s"${next.version} stayed claimed-but-unpublished past " +
                    s"the takeover threshold (${claimTakeoverMs} ms) plus " +
                    "grace — a foreign writer is stalled mid-publish and " +
                    "its claim could not be broken")
              // keep our staged-but-unpublished commit dir visibly LIVE to
              // foreign vacuums while we wait out the claimant: re-touch
              // its mtime so the cross-process age floor (vacuum's
              // stagedCutoff) never sees it stale (ADVICE r13 medium)
              touchStaging(spark, statePath, written)
              Thread.sleep(wait)
              wait = math.min(wait * 2, 5000L)
            } else {
              wait = backoffMs
              waitDeadline = freshDeadline()
              if (rebases + recomputes + 1 >= maxAttempts)
                throw new IllegalStateException(
                  s"optimistic commit to $statePath gave up after " +
                    s"$maxAttempts base-advancing conflicts — contention " +
                    "this hot means the touched-bucket sets of concurrent " +
                    "writers overlap persistently; serialize those writers " +
                    "or re-bucket the store")
              validate(latest)
              val lm = latest.get
              val baseBuckets = base.fold(Map.empty[Long, BucketEntry])(_.buckets)
              val changed = (baseBuckets.keySet ++ lm.buckets.keySet)
                .filter(k => baseBuckets.get(k).map(_.relDir) !=
                  lm.buckets.get(k).map(_.relDir))
              if ((changed & touchedSet).isEmpty) {
                base = latest
                rebases += 1 // staged files still valid: manifest-only retry
              } else {
                // our stage lost the publish (VersionTaken: no rename
                // happened), so no manifest references it
                written.values.headOption.foreach(e => discardStaging(
                  hfs(spark, statePath)._1, commitDirOf(statePath, e)))
                base = latest
                written = stage(base)
                recomputes += 1
              }
            }
        }
      }
      throw new IllegalStateException("unreachable")
    } catch {
      case t: Throwable =>
        releaseStaging(statePath, written)
        throw t
    }
  }

  /** Refresh the staged commit dir's mtime (see [[vacuum]]'s stagedCutoff:
    * the cross-process liveness signal while this writer waits out a
    * foreign claim). Best-effort — a failed touch only narrows the margin
    * back to the age floor itself. */
  private def touchStaging(spark: SparkSession, statePath: String,
                           written: Map[Long, BucketEntry]): Unit =
    written.values.headOption.foreach { e =>
      val commitDir = new org.apache.hadoop.fs.Path(statePath,
        e.relDir.substring(0, e.relDir.lastIndexOf('/')))
      try {
        val (fs, _) = hfs(spark, statePath)
        fs.setTimes(commitDir, System.currentTimeMillis(), -1)
      } catch { case _: java.io.IOException => () }
    }

  private def commitDirOf(statePath: String, e: BucketEntry): String =
    s"$statePath/${e.relDir.substring(0, e.relDir.lastIndexOf('/'))}"

  private def releaseStaging(statePath: String,
                             written: Map[Long, BucketEntry]): Unit =
    written.values.headOption.foreach { e =>
      activeStaging.remove(commitDirOf(statePath, e))
      ()
    }

  /** Stage a FULL snapshot (refresh/backfill) as an unpublished commit dir:
    * runs outside any lock — unpublished data is invisible to every reader.
    * [[publishFull]] is the cheap locked half. */
  def stageFull(spark: SparkSession, statePath: String, fresh: DataFrame,
                pk: String, nbuckets: Int,
                statCols: Seq[String]): StagedCommit = {
    val entries = writeCommit(spark, statePath, fresh
      .withColumn(BucketCol, BucketedUpsertSink.bucketOf(col(pk), nbuckets)),
      statCols)
    // an EMPTY snapshot stages no files; its abort path must be a unique
    // no-op target, never the shared data root (aborting it would delete
    // every commit)
    val abs = entries.values.headOption.map(commitDirOf(statePath, _))
      .getOrElse(s"$statePath/$DataDir/empty-" +
        java.util.UUID.randomUUID().toString.take(8))
    StagedCommit(Seq(abs), entries, nbuckets, statCols)
  }

  /** Rewrite the `buckets` of a staged snapshot through `f` — from those
    * buckets' physical rows, without the bucket column, to their new rows —
    * into a fresh staged commit dir; every other bucket keeps its staged
    * entry. `f` may keep, change or add rows, but only of pks that hash to
    * `buckets`. The replaced dirs are dropped at once: no manifest
    * references them. */
  def restage(spark: SparkSession, statePath: String, staged: StagedCommit,
              buckets: Seq[Long], pk: String, schema: StructType)
             (f: DataFrame => DataFrame): StagedCommit = {
    val fresh = f(readStaged(spark, statePath, staged, schema, Some(buckets))
      .drop(BucketCol))
    val entries = writeCommit(spark, statePath, fresh.withColumn(BucketCol,
      BucketedUpsertSink.bucketOf(col(pk), staged.nbuckets)), staged.statCols)
    val (fs, _) = hfs(spark, statePath)
    buckets.flatMap(staged.buckets.get).foreach { e =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$statePath/${e.relDir}"), true) }
    staged.copy(
      commitDirs = staged.commitDirs ++ entries.values.headOption.map(commitDirOf(statePath, _)),
      buckets = staged.buckets -- buckets ++ entries)
  }

  /** Abandon a staged full snapshot that will not be published (a failed
    * or pre-empted refresh/backfill): drop its files and its registration. */
  def dropStaged(spark: SparkSession, staged: StagedCommit): Unit =
    staged.commitDirs.foreach(d => discardStaging(hfs(spark, d)._1, d))

  /** Publish a staged full snapshot: the next manifest references EXACTLY
    * the staged buckets (a refresh replaces the whole logical table — but
    * the superseded files stay readable to concurrent pinned scans until
    * vacuum retention expires, which is the entire point). `floor` is the
    * snapshot floor this publish asserts; the published floor is the
    * greater of it and the previous manifest's, in the same rename. A
    * store's first publish fails, publishing nothing, on a root that holds
    * pre-manifest data ([[requireNoPreManifestData]]). */
  def publishFull(spark: SparkSession, statePath: String,
                  staged: StagedCommit, floor: Long = 0L): Unit = {
    val prev = currentManifest(spark, statePath)
    try {
      if (prev.isEmpty) requireNoPreManifestData(spark, statePath)
      writeManifest(spark, statePath, Manifest(
        version = prev.fold(1L)(_.version + 1L),
        nbuckets = staged.nbuckets, statCols = staged.statCols,
        buckets = staged.buckets,
        floor = math.max(floor, prev.fold(0L)(_.floor))))
    } finally { staged.commitDirs.foreach(activeStaging.remove) }
    vacuum(spark, statePath)
  }

  /** Fail if the root of a store with no manifest holds data of a retired
    * pre-manifest layout — the in-place layout's `_bucket=<id>` dirs or a
    * flat store's parquet part files — or, with no root, a flat store's
    * `.old` copy from a crashed swap. Those formats are not read: a first
    * manifest published over them would hide their rows. */
  def requireNoPreManifestData(spark: SparkSession, statePath: String): Unit = {
    val (fs, root) = hfs(spark, statePath)
    val found =
      try fs.listStatus(root).map(_.getPath).filter(p =>
        p.getName.startsWith(BucketCol + "=") || p.getName.endsWith(".parquet")).toSeq
      catch { case _: java.io.FileNotFoundException =>
        Seq(new org.apache.hadoop.fs.Path(statePath + ".old")).filter(fs.exists) }
    if (found.nonEmpty)
      throw new IllegalStateException(
        s"$statePath holds data of a retired pre-manifest sink layout " +
          s"(${found.take(3).mkString(", ")}${if (found.size > 3) ", ..." else ""}), " +
          "which is no longer read — move it aside and run `refresh` to " +
          "rebuild the store from the source")
  }

  /** Delete data no retained manifest references. The reader-safety rule
    * is SUPERSESSION-time, not creation-time (review r13 #1): nothing is
    * deleted unless the OLDEST KEPT manifest is itself older than
    * `minAgeMs`. Versions are monotone in publish time, so any reader that
    * resolved the then-latest manifest within the last `minAgeMs` is
    * holding a KEPT version — every file it references survives. (A
    * creation-age rule would delete a long-carried-forward bucket dir the
    * moment `keepVersions` rapid commits superseded it.) On top of that,
    * two tiers for data no retained manifest references: a dir a
    * still-on-disk SUPERSEDED manifest published reaps under the plain
    * supersession gate (ex-live data — every possible reader holds a kept
    * manifest); a dir NO manifest knows (a foreign writer's in-flight
    * unpublished stage, or a crash orphan) waits out the longer
    * stagedCutoff floor that exceeds the optimistic loop's whole wait
    * budget (ADVICE r13 medium), and this driver's own live stages are
    * additionally shielded by [[activeStaging]] (review r13 #2). */
  def vacuum(spark: SparkSession, statePath: String,
             keepVersions: Int = KeepVersions,
             minAgeMs: Long = MinAgeMs): Unit = try {
    val (fs, root) = hfs(spark, statePath)
    if (!fs.exists(root)) return
    val versions = fs.listStatus(root).iterator.map(_.getPath.getName).collect {
      case ManifestRe(v) => v.toLong
    }.toSeq.sorted
    if (versions.isEmpty) return
    val cutoff = System.currentTimeMillis() - minAgeMs
    val kept = versions.takeRight(keepVersions)
    // supersession gate: deletion of ANYTHING requires the oldest kept
    // manifest to predate the age floor — see the scaladoc argument
    val keptOldestMtime = kept.map(v => fs.getFileStatus(
      new org.apache.hadoop.fs.Path(statePath, manifestName(v)))
      .getModificationTime).min
    if (keptOldestMtime >= cutoff) return
    val referenced = kept.flatMap(v =>
      readManifest(spark, statePath, v).buckets.values.map(_.relDir)).toSet
    // bucket dirs a SUPERSEDED manifest (still on disk this scan) once
    // published: ex-live data, reader-safe to reap at the plain minAgeMs
    // floor because the supersession gate above already proved every
    // possible reader holds a KEPT manifest. Collected BEFORE the
    // superseded manifest files themselves are deleted below. A dir in NO
    // manifest is either a foreign writer's in-flight unpublished stage or
    // a crash orphan — only those need the longer stagedCutoff floor
    // (ADVICE r13 medium); without this split the ADVICE fix quietly
    // stretched EVERY superseded file's retention to ~17 min.
    val supersededRefs = versions.dropRight(keepVersions).flatMap { v =>
      try readManifest(spark, statePath, v).buckets.values.map(_.relDir)
      catch { case _: java.io.FileNotFoundException => Nil } // peer vacuumed it
    }.toSet
    versions.dropRight(keepVersions).foreach { v =>
      val p = new org.apache.hadoop.fs.Path(statePath, manifestName(v))
      val old = try fs.getFileStatus(p).getModificationTime < cutoff
        catch { case _: java.io.FileNotFoundException => false } // peer vacuumed it
      if (old) {
        try { fs.delete(p, false); () } catch { case _: java.io.IOException => () }
      }
    }
    // consumed/superseded claims of versions AT OR BELOW the latest publish
    // are inert once old enough; claims ABOVE the latest version may be a
    // live pending publish and are only ever superseded by the takeover
    // path, never touched by vacuum
    val latest = versions.last
    fs.listStatus(root).iterator.foreach { st =>
      st.getPath.getName match {
        case ClaimRe(v, _) if v.toLong <= latest - keepVersions &&
            st.getModificationTime < cutoff =>
          try { fs.delete(st.getPath, false); () }
          catch { case _: java.io.IOException => () }
        case _ => ()
      }
    }
    val dataRoot = new org.apache.hadoop.fs.Path(statePath, DataDir)
    if (!fs.exists(dataRoot)) return
    // commit dirs reap on a floor that EXCEEDS the optimistic loop's whole
    // stale-claim wait budget (ClaimTakeoverMs + 60 s grace, plus margin):
    // a writer in ANOTHER process can legally hold a staged-but-unpublished
    // commit dir for that long while waiting out a foreign claim, and
    // activeStaging only shields this JVM's stages (ADVICE r13 medium).
    // Live foreign waiters additionally re-touch their dir's mtime every
    // backoff tick (commitBatchOptimistic), so only genuinely crashed
    // stages ever cross this floor.
    val stagedCutoff = System.currentTimeMillis() -
      math.max(minAgeMs, ClaimTakeoverMs + 120000L)
    fs.listStatus(dataRoot).foreach { commit =>
      val pastStagedFloor = commit.getModificationTime < stagedCutoff
      if (!activeStaging.contains(commit.getPath.toUri.getPath) &&
          !activeStaging.contains(commit.getPath.toString)) {
        val cname = commit.getPath.getName
        val bucketDirs =
          try fs.listStatus(commit.getPath)
          catch { case _: java.io.FileNotFoundException =>
            Array.empty[org.apache.hadoop.fs.FileStatus] } // peer reaped it
        bucketDirs.foreach { bucketDir =>
          val rel = s"$DataDir/$cname/${bucketDir.getPath.getName}"
          // published-then-superseded dirs reap at the plain age floor
          // (cutoff already passed via the supersession gate); dirs no
          // manifest on disk knows wait out the in-flight-stage floor
          if (!referenced.contains(rel) &&
              (pastStagedFloor || supersededRefs.contains(rel))) {
            try { fs.delete(bucketDir.getPath, true); () }
            catch { case _: java.io.IOException => () }
          }
        }
        // an emptied PUBLISHED commit dir (every bucket was superseded and
        // reaped above) can go at any age; an empty dir past the staged
        // floor is a crash orphan. A YOUNG empty dir with no published
        // history is a foreign stage between mkdir and its first bucket
        // write — never touched.
        val emptiedDeletable = pastStagedFloor ||
          bucketDirs.exists(b => supersededRefs.contains(
            s"$DataDir/$cname/${b.getPath.getName}"))
        val emptied = emptiedDeletable && {
          try fs.listStatus(commit.getPath).isEmpty
          catch { case _: java.io.FileNotFoundException => false } }
        if (emptied) {
          try { fs.delete(commit.getPath, true); () }
          catch { case _: java.io.IOException => () }
        }
      }
    }
  } catch {
    // vacuum is advisory garbage collection and, under the r13 concurrent-
    // writer model, two post-commit vacuums can race: a file the listing
    // saw may be gone by the time we stat or read it. That is a peer doing
    // our work, never an error — and it must NOT propagate out of a commit
    // whose manifest already published (the caller would retry a commit
    // that succeeded). The next commit's vacuum converges the leftovers.
    case _: java.io.FileNotFoundException => ()
  }

  /** Manifest-driven pruned read: consult the O(buckets) per-bucket stats
    * for the buckets whose [min,max] window on `statCol` intersects
    * [lo, hi], then read ONLY those buckets' dirs and apply the exact
    * predicate — at 100 TB a selective range predicate touches a handful
    * of buckets instead of the full state. The stats come from the SAME
    * atomic publish as the data, and no file in the plan is mutable, so
    * the result is a consistent snapshot that returns exactly what the
    * unpruned exact filter would. A stat column the manifest does not
    * carry falls back to the exact filter over the full current state. */
  def prunedRead(spark: SparkSession, statePath: String, schema: StructType,
                 statCol: String, lo: Long, hi: Long): DataFrame = {
    val exact = col(statCol) >= lo && col(statCol) <= hi
    // empty selections return an empty FRAME — the exact filter must still
    // resolve statCol on it even when the caller passed no schema
    val empSchema =
      if (schema.fieldNames.contains(statCol)) schema
      else StructType(schema.fields :+ StructField(statCol, LongType))
    currentManifest(spark, statePath) match {
      case None =>
        readState(spark, statePath, empSchema).filter(exact).drop(BucketCol)
      case Some(m) if !m.statCols.contains(statCol) =>
        readState(spark, statePath, empSchema).filter(exact).drop(BucketCol)
      case Some(m) =>
        // all-null stat column (None bounds) cannot match a range
        val candidates = m.buckets.toSeq.collect {
          case (b, e) if e.stats(statCol)._1.exists(_ <= hi) &&
            e.stats(statCol)._2.exists(_ >= lo) => b
        }
        // an everything-pruned read still carries the STORE's schema,
        // exactly like the unpruned filter would: a subset
        // read takes it from the store's footer ([[readBuckets]])
        readStateOf(spark, statePath, Some(m), empSchema, Some(candidates))
          .filter(exact).drop(BucketCol)
    }
  }
}
