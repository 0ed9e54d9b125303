package graft.cdc

import org.apache.spark.sql.SparkSession

/** THE state-commit protocol for directory-swapped state: the per-path
  * mutation and swap locks, and the staged-write/atomic-swap machinery
  * with its crash healing and staging janitor. One module (r9 verdict #2):
  * concurrency protocols must be read — and changed — in one place, and
  * every call site names StateCommit directly so grep finds every caller.
  *
  * The sink is NOT swapped: the manifest store ([[ManifestStore]])
  * publishes data and per-bucket zone-map stats in one atomic manifest
  * rename, so it needs none of this beyond [[stateLock]]. What swaps here
  * is every directory-rewritten state: the dead-letter quarantine, SCD2 and
  * incremental-dedup state, and compaction's rewrite.
  *
  * ==Swap state machine==
  *
  * Per live path `L`, the on-disk state is which of `L`, `L.old` and
  * invocation-unique `L.next-<id>` staging dirs exist.
  *
  * {{{
  * state             | event                   | action / next state
  * ------------------+-------------------------+-------------------------------
  * L                 | writer stages           | stagingDir(L) -> L + next-<id>
  *                   |                         | (registered with the janitor
  *                   |                         | before any file exists)
  * L + next-<id>     | staged write throws     | dropStaging -> L
  * L + next-<id>     | atomicSwapDirs          | L -> L.old; next-<id> -> L;
  *                   |                         | delete L.old -> L (deregistered)
  * L.old, no L       | crash between renames   | recoverSwap (every reader and
  *                   |                         | writer calls it first): rename
  *                   |                         | L.old back -> L (pre-swap copy)
  * next-<id> stale   | every 32nd swap of L    | janitor reaps unregistered
  *                   |                         | staging dirs older than
  *                   |                         | stagingReapHorizonMs
  * }}}
  *
  * Invariant the table preserves: a reader that heals first always finds a
  * COMPLETE copy at `L` — the pre-swap one or the post-swap one, never a
  * torn mix. A crash between the renames reverts to the pre-swap copy; the
  * streaming checkpoint replays the uncommitted batch and the idempotent
  * apply makes the replay safe.
  *
  * LOCK ORDER (deadlock discipline): [[stateLock]] is the OUTERMOST —
  * holders may take [[swapLock]] (via swap/heal) and [[DriverLease]]'s
  * per-path lock (via acquire); none of
  * those ever takes stateLock or each other. Keep any new acquisition
  * consistent with that order.
  *
  * Same-JVM premise: locks are JVM-local. Every advertised concurrent shape
  * is in-JVM (refreshAsync tasks, replay vs batch); cross-PROCESS exclusion
  * is [[DriverLease]]'s job — the rename-retry tolerance below is a last
  * line of defense, not a serialization.
  */
object StateCommit {

  // ---------------------------------------------------------------- locks

  // Per-state-path mutation lock: a live micro-batch and a dead-letter
  // replay both read-merge-write the same sink state and dead-letter
  // quarantine; unserialized, two concurrent read-merge-writes each swap a
  // COMPLETE copy and the winner silently drops the loser's rows.
  private val stateLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  def stateLock(statePath: String): Object =
    stateLocks.computeIfAbsent(statePath, _ => new Object)

  // Per-live-path monitor serializing same-JVM swappers and healers: the
  // rename-retry machinery tolerates cross-process racers, but two
  // in-process swappers interleaving exists-probes with deletes left narrow
  // TOCTOU windows where a crash could strand a path with NEITHER live nor
  // `.old` (r9 review).
  private val swapLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def swapLock(live: String): Object =
    swapLocks.computeIfAbsent(live, _ => new Object)

  // ------------------------------------------------------- staged swaps

  /** (FileSystem, Path) resolution against the session's Hadoop conf —
    * shared with [[DriverLease]] so remote filesystems resolve one way. */
  private[cdc] def hfs(spark: SparkSession, p: String): (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val path = new org.apache.hadoop.fs.Path(p)
    (path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }

  // staging dirs currently owned by a writer in THIS JVM — never reaped
  private val activeStaging =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  // amortizes the janitor's listStatus to every 32nd swap per live path
  private val sweepTick = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicLong]()

  /** Janitor reap horizon: an UNREGISTERED staging dir (no live writer in
    * this JVM) older than this is presumed crash-stranded and reaped. The
    * default (1 h) covers every in-repo rebuild with two orders of margin;
    * a deployment staging multi-hour cross-process full scans (a CLI
    * refresh in one JVM while a stream commits swaps in another — outside
    * the registry's visibility) must RAISE it past its longest stage
    * duration, or the scan loses its staging copy mid-write and fails at
    * swap time — safe (the rebuild re-runs) but expensive (ADVICE r9).
    * Reaped dirs are WARN-logged so that later swap failure is diagnosable
    * back to the reap. Configure via [[setStagingReapHorizonMs]]. */
  @volatile private[graft] var stagingReapHorizonMs: Long = 3600L * 1000L

  /** Configure the janitor horizon (see [[stagingReapHorizonMs]]). */
  def setStagingReapHorizonMs(ms: Long): Unit = {
    require(ms > 0, s"staging reap horizon must be positive, got $ms")
    stagingReapHorizonMs = ms
  }
  private val sweepLog = org.slf4j.LoggerFactory.getLogger("graft.janitor")

  /** Invocation-unique staging dir for a swap into `live`: a shared fixed
    * `.next` name lets two concurrent writers interleave writes in ONE
    * staging dir and swap a torn mix live (r9 review). The swap MOVES the
    * dir, so success leaves nothing behind; a crashed writer strands only
    * its own uniquely-named dir. Registered with the janitor BEFORE any
    * file exists: a staging dir's mtime freezes at job start, so age alone
    * cannot distinguish a long-running write from a crash leftover. */
  def stagingDir(live: String): String = {
    val d = live + ".next-" + java.util.UUID.randomUUID().toString.take(8)
    activeStaging.add(new org.apache.hadoop.fs.Path(d).getName)
    d
  }

  /** Staged-write-then-swap with failure cleanup: a staged write that
    * THROWS (task failure, disk full) must not leave its partial dir
    * registered with the janitor — protected from reaping forever, the
    * exact leak the janitor exists to fix (r9 review). */
  def stageSwap(spark: SparkSession, live: String)(write: String => Unit): Unit = {
    val tmp = stagingDir(live)
    try {
      write(tmp)
      atomicSwapDirs(spark, tmp, live)
    } catch {
      case t: Throwable => dropStaging(spark, tmp); throw t
    }
  }

  /** Abandon a staged dir without swapping it (its write threw): delete
    * it and release its janitor registration. */
  def dropStaging(spark: SparkSession, staging: String): Unit = {
    val (fs, p) = hfs(spark, staging)
    try { fs.delete(p, true); () }
    catch { case _: java.io.IOException => () }
    activeStaging.remove(p.getName)
    ()
  }

  /** Heal [[atomicSwapDirs]]'s crash window: a crash between the two renames
    * leaves no live dir but a complete `.old` — restore it. The state then
    * reflects the pre-batch version; the streaming checkpoint replays the
    * un-committed batch and the idempotent apply makes the replay safe. */
  def recoverSwap(spark: SparkSession, live: String): Unit =
    swapLock(live).synchronized {
      val (fs, p) = hfs(spark, live)
      val old = new org.apache.hadoop.fs.Path(live + ".old")
      if (!fs.exists(p) && fs.exists(old)) {
        // a swapper in ANOTHER process can finish and DELETE `.old` between
        // our exists probe and this rename — the vanished source means live
        // is healthy again, so the failed heal is a no-op, not an error
        // (caught by the r9 swap-race stress spec)
        try { fs.rename(old, p); () }
        catch { case _: java.io.FileNotFoundException => () }
      }
    }

  /** Directory pointer swap (stand-in for Delta/Iceberg atomic commit in the
    * zero-dependency harness): move live aside, move next into place. Each
    * rename is atomic (same-volume dir rename); the window between them is
    * recoverable — every read path calls [[recoverSwap]] first.
    *
    * Concurrent-swap race (r9 review): a reader's [[recoverSwap]] firing
    * INSIDE our two-rename window sees no live + a complete `.old` and
    * resurrects the old copy — then our `next -> live` rename fails because
    * live exists again. Whatever sits at `live` when that rename fails is a
    * COMPLETE directory, so the swap RETRIES: move it aside and rename
    * again. Retrying never installs a torn state, only decides which
    * complete copy ends up live; bounded — each retry requires another
    * racer in the exact window.
    *
    * Filesystem-semantics premise (review r10): the cross-process retry
    * tolerance assumes `FileSystem.rename` FAILS when the destination
    * exists (local-FS semantics, which this zero-dependency harness runs
    * on). On HDFS-like filesystems rename moves the source INTO an
    * existing destination directory instead, so a cross-process racer in
    * the exact window could nest a copy rather than trip the retry — on
    * such deployments [[DriverLease]] is the exclusion that prevents
    * cross-process swappers from existing at all, and a production
    * deployment would replace this directory-swap stand-in with a table
    * format's atomic commit (Delta/Iceberg) anyway. */
  def atomicSwapDirs(spark: SparkSession, next: String, live: String): Unit =
    swapLock(live).synchronized {
      recoverSwap(spark, live) // heal any earlier interrupted swap first
      val (fs, livePath) = hfs(spark, live)
      val old = new org.apache.hadoop.fs.Path(live + ".old")
      // only clear `.old` while a live copy exists: if live is absent,
      // `.old` may be the ONLY complete copy (a cross-process swapper
      // mid-window) and deleting it would let a crash strand the path with
      // neither (r9 review)
      if (fs.exists(livePath) && fs.exists(old)) fs.delete(old, true)
      // the aside itself can race a swapper in another process: both pass
      // the exists probe, the loser's rename finds the source vanished (the
      // winner took it) — live is then in the winner's hands, so just
      // proceed; a rename blocked by a racer-recreated `.old` re-clears it
      // (under the same live-exists guard) and retries (r9 review)
      var asideTries = 0
      while (fs.exists(livePath) &&
             !(try fs.rename(livePath, old)
               catch { case _: java.io.FileNotFoundException => false })) {
        asideTries += 1
        require(asideTries <= 8, s"rename $live -> $old failed ($asideTries attempts)")
        if (fs.exists(livePath)) fs.delete(old, true)
      }
      val nextPath = new org.apache.hadoop.fs.Path(next)
      var attempts = 0
      while (!fs.rename(nextPath, livePath)) {
        attempts += 1
        require(attempts <= 8, s"rename $next -> $live failed ($attempts attempts)")
        if (fs.exists(livePath)) {
          // a complete copy got (re)installed at live (a reader's heal, or
          // a cross-process racer's finished swap): move it aside and
          // retry. TOLERANT, not a bare require — the copy can vanish again
          // mid-move (another racer took it), which just means the retry
          // probe re-runs (r9 review)
          fs.delete(old, true)
          try { fs.rename(livePath, old); () }
          catch { case _: java.io.FileNotFoundException => () }
        }
      }
      if (fs.exists(old)) fs.delete(old, true)
      activeStaging.remove(nextPath.getName)
      sweepStaleStaging(fs, livePath)
      ()
    }

  /** Janitor for crash-stranded staging dirs — contract at
    * [[stagingReapHorizonMs]]: reaps unregistered
    * staging-patterned siblings older than [[stagingReapHorizonMs]] by a
    * TRUSTED mtime, WARN-logging each reap; never fails the committed swap
    * it rides on. */
  private def sweepStaleStaging(fs: org.apache.hadoop.fs.FileSystem,
                                livePath: org.apache.hadoop.fs.Path): Unit =
    try {
      val tick = sweepTick.computeIfAbsent(livePath.toString,
        _ => new java.util.concurrent.atomic.AtomicLong())
      if (tick.incrementAndGet() % 32L != 1L) return
      val parent = livePath.getParent
      if (parent == null || !fs.exists(parent)) return
      val name = livePath.getName
      val now = System.currentTimeMillis()
      val horizon = now - stagingReapHorizonMs
      fs.listStatus(parent).foreach { st =>
        val n = st.getPath.getName
        if ((n.startsWith(name + ".next-") || n.startsWith(name + ".staging-")) &&
            !activeStaging.contains(n) &&
            st.getModificationTime > 0 && st.getModificationTime < horizon) {
          try {
            if (fs.delete(st.getPath, true))
              sweepLog.warn(
                s"reaped stale staging dir ${st.getPath} (age " +
                  s"${(now - st.getModificationTime) / 1000}s > horizon " +
                  s"${stagingReapHorizonMs / 1000}s, no registered writer " +
                  "in this JVM); if a cross-process rebuild owned it, its " +
                  "swap will fail and must re-run — raise " +
                  "StateCommit.setStagingReapHorizonMs for long rebuilds")
            ()
          }
          catch { case _: java.io.IOException => () }
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () }
}
