package graft.cdc

import org.apache.spark.sql.SparkSession

/** Fail-loud single-driver lease on a sink state path (r9 verdict #1).
  *
  * The sink's concurrency protocols (state lock, swap monitor) serialize
  * writers within ONE driver JVM;
  * cross-process racers are merely tolerated by rename-retry with
  * last-copy-wins semantics — a second driver process streaming to the same
  * state path is OUTSIDE the deployment contract, but until this lease
  * nothing stopped it: two drivers would silently interleave complete-copy
  * swaps, each dropping the other's applied rows. The lease turns that
  * silent interleaving into a loud failure at the second driver's first
  * mutating call.
  *
  * Mechanism (the [[FileProgressStore]] file-discipline precedent): a
  * one-line lease file at `<statePath>.lease` holding the owner's process
  * identity (pid + random token, minted once per JVM); the HEARTBEAT is the
  * file's mtime, refreshed by every [[acquire]] — one `setTimes` RPC per
  * micro-batch, no rewrite. Every mutating entry point
  * (`Pipeline.applySync`, `commitRefreshSwap`, `replayDeadLetters`) acquires
  * under the state lock:
  *
  *  - no lease, or OUR identity        -> own it, refresh the heartbeat
  *  - foreign identity, heartbeat FRESH -> throw (the fail-loud contract)
  *  - foreign identity, heartbeat STALE -> take over (the previous driver is
  *    presumed dead: crashed drivers leave their lease behind, and takeover
  *    on staleness is what lets a restart reclaim its own state path after
  *    the token changed)
  *
  * The lease is a DETECTION fence, not a perfect mutex: two processes
  * racing the very first claim can both momentarily believe they own it
  * (the initial create is atomic where the filesystem provides atomic
  * create-no-overwrite — HDFS, local — but takeover's delete+create has a
  * window). The guarantee that matters survives: within one heartbeat
  * interval, at least one of the two observes a fresh foreign lease and
  * dies LOUDLY, which is precisely the contract violation the lease exists
  * to surface. A genuinely dead holder is reclaimed after
  * [[PipelineConfig.leaseStaleMs]] with a WARN.
  *
  * Scale posture: one tiny-file read + one setTimes per batch per sync —
  * noise next to the batch's own writes; nothing scales with data.
  */
object DriverLease {

  /** This JVM's lease identity: pid plus a random token so a RESTARTED
    * driver (same pid space, new process) never collides with its crashed
    * predecessor's lease content — the stale-heartbeat takeover is what
    * reclaims it. */
  val processIdentity: String =
    ProcessHandle.current().pid() + "-" +
      java.util.UUID.randomUUID().toString.take(8)

  /** Default staleness horizon: a heartbeat (mtime) older than this marks
    * the holder dead and the lease claimable. Must exceed the trigger
    * interval (every batch refreshes the heartbeat); the config surface is
    * `lease.stale.ms` -> [[graft.model.PipelineConfig.leaseStaleMs]]. */
  val DefaultStaleMs: Long = 60L * 1000L

  def leasePath(statePath: String): String = statePath + ".lease"

  /** Grace before a torn (unreadable) lease file may be reclaimed: long
    * enough that a healthy in-flight create (transiently length 0) is
    * never deleted from under its writer, short enough that a
    * crash-stranded torn file never wedges acquires. */
  val TornGraceMs: Long = 5000L

  /** Floor on the staleness horizon: the heartbeat cadence is
    * max(1 s, staleMs/3) plus RPC time, so horizons much below this are
    * unsustainable even for a healthy live stream — the fence would evict
    * the wrong party (review r10). */
  val MinStaleMs: Long = 5000L

  private val log = org.slf4j.LoggerFactory.getLogger("graft.lease")

  // same-JVM acquire serialization per path (two refreshAsync tasks must
  // not interleave the read-evaluate-write); cross-process exclusion is the
  // file content itself. A ReentrantLock, NOT a monitor (review r10): the
  // shutdown release must be able to tryLock-and-skip a path whose lock a
  // heartbeat wedged in an interrupt-deaf filesystem RPC still holds — a
  // synchronized block would park the CLI's shutdown finally on that RPC's
  // retry budget.
  private val locks = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.locks.ReentrantLock]()

  /** The per-path lock, exposed so Pipeline's stream-refcount transitions
    * can be ATOMIC with the release decision (review r10: a
    * check-then-release in separate lock sections raced a concurrent
    * start()'s register-then-acquire and deleted the live stream's fresh
    * lease). Reentrant with [[acquire]]/[[release]], which take the same
    * lock. */
  private[cdc] def pathLock(statePath: String): java.util.concurrent.locks.ReentrantLock =
    locks.computeIfAbsent(statePath,
      _ => new java.util.concurrent.locks.ReentrantLock())

  /** lock/try/finally-unlock on the path lock — shared with Pipeline's
    * refcount transitions so the locking discipline lives in one place. */
  private[cdc] def locked[T](statePath: String)(body: => T): T = {
    val l = pathLock(statePath)
    l.lock()
    try body finally l.unlock()
  }

  /** Rethrow an IO failure that is actually a THREAD INTERRUPT (Hadoop
    * wraps interrupts as InterruptedIOException / ClosedByInterrupt, often
    * CLEARING the flag): every lease I/O catch routes through this first,
    * or a heartbeat being stopped by releaseLeases could swallow its own
    * interrupt inside writeLease/delete/setTimes, outlive the join, and
    * recreate the lease it was being stopped to release (review r10). */
  private[cdc] def rethrowIfInterrupt(e: java.io.IOException): Unit = e match {
    // SocketTimeoutException (and Hadoop's ConnectTimeoutException under
    // it) EXTENDS InterruptedIOException but signals an I/O timeout, not a
    // thread interrupt — classifying it as one would let a single
    // transient network timeout kill the heartbeat and release a live
    // stream's lease (review r10)
    case _: java.net.SocketTimeoutException => ()
    case ie: java.io.InterruptedIOException =>
      Thread.currentThread().interrupt()
      throw new IllegalStateException("interrupted during lease I/O", ie)
    case ce: java.nio.channels.ClosedByInterruptException =>
      Thread.currentThread().interrupt()
      throw new IllegalStateException("interrupted during lease I/O", ce)
    case _ => ()
  }

  // the shared cdc (FileSystem, Path) resolver — one discipline with the
  // swap file protocol (review r10)
  private def hfs(spark: SparkSession, p: String) = StateCommit.hfs(spark, p)

  /** The lease file's protocol-visible state, from ONE stat (review r10:
    * separate exists/stat/read probes opened FileNotFound races between
    * them and paid duplicate RPCs on the per-batch hot path). */
  private sealed trait LeaseState
  private case object Absent extends LeaseState
  private final case class Held(identity: String, mtime: Long) extends LeaseState
  private final case class Torn(mtime: Long) extends LeaseState

  private def readState(fs: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path): LeaseState =
    try {
      val st = fs.getFileStatus(p)
      val len = st.getLen.toInt
      if (len == 0 || len > 256) Torn(st.getModificationTime)
      else {
        val bytes = new Array[Byte](len)
        val in = fs.open(p)
        try in.readFully(0, bytes) finally in.close()
        val id = new String(bytes, "UTF-8").trim
        if (id.isEmpty) Torn(st.getModificationTime)
        else Held(id, st.getModificationTime)
      }
    } catch {
      // vanished between stat and read = a racer's delete landed: absent
      case _: java.io.FileNotFoundException => Absent
      case e: java.io.IOException =>
        rethrowIfInterrupt(e) // an interrupt must propagate, not read as Torn
        Torn(System.currentTimeMillis())
    }

  private def readIdentity(fs: org.apache.hadoop.fs.FileSystem,
                           p: org.apache.hadoop.fs.Path): Option[(String, Long)] =
    readState(fs, p) match {
      case Held(id, mtime) => Some((id, mtime))
      case _ => None
    }

  private def writeLease(fs: org.apache.hadoop.fs.FileSystem,
                         p: org.apache.hadoop.fs.Path, identity: String,
                         overwrite: Boolean): Boolean =
    try {
      val parent = p.getParent
      if (parent != null && !fs.exists(parent)) { fs.mkdirs(parent); () }
      val out = fs.create(p, overwrite)
      try out.write(identity.getBytes("UTF-8")) finally out.close()
      true
    } catch {
      case e: java.io.IOException =>
        rethrowIfInterrupt(e)
        false // lost an atomic-create race
    }

  /** Acquire (or re-confirm) the lease for `identity`; throws
    * [[IllegalStateException]] if a DIFFERENT identity holds it with a
    * heartbeat younger than `staleMs`. Refreshes our heartbeat on success. */
  def acquire(spark: SparkSession, statePath: String,
              identity: String = processIdentity,
              staleMs: Long = DefaultStaleMs): Unit =
    locked(statePath) {
      // a zero/negative/tiny horizon reads every (or even a healthy
      // heartbeating) foreign lease as stale — two drivers would each take
      // over per batch, silently restoring the exact last-copy-wins
      // interleaving the lease exists to make loud (review r10); same
      // guard class as setStagingReapHorizonMs
      require(staleMs >= MinStaleMs,
        s"lease.stale.ms must be >= $MinStaleMs (the heartbeat cadence " +
          s"cannot sustain shorter horizons), got $staleMs")
      val (fs, p) = hfs(spark, leasePath(statePath))
      // time-bounded, not attempt-bounded (review r10): a crash-torn lease
      // younger than TornGraceMs must be WAITED OUT (it is
      // indistinguishable from a healthy in-flight create), so the loop
      // budget spans the grace; anything still unresolvable past it is a
      // genuinely wedged path and fails loud
      val deadline = System.currentTimeMillis() + TornGraceMs + 5000L
      // claim + VERIFY: the no-overwrite create is atomic where the
      // filesystem provides it, but a takeover's delete+create is not — a
      // racer acting on the same stale read can delete our fresh lease and
      // install its own. The re-read confirms our identity actually
      // survived; losing just loops (the winner's lease is fresh, so the
      // next iteration fails loud — the detection contract).
      def claim(): Boolean =
        writeLease(fs, p, identity, overwrite = false) &&
          (readState(fs, p) match {
            case Held(h, _) => h == identity
            case _ => false
          })
      var done = false
      while (!done) {
        readState(fs, p) match {
          case Held(h, prevMtime) if h == identity =>
            heartbeat(fs, p, statePath, identity, prevMtime, staleMs)
            done = true
          case Held(held, mtime) =>
            val age = System.currentTimeMillis() - mtime
            if (age <= staleMs)
              throw new IllegalStateException(
                s"sink state $statePath is leased by driver '$held' " +
                  s"(heartbeat ${age / 1000}s ago, horizon ${staleMs / 1000}s). " +
                  "A second driver process on the same state path is outside " +
                  "the deployment contract (see Pipeline's scaladoc) — stop " +
                  "it, or wait for its lease to expire.")
            else {
              log.warn(s"taking over stale driver lease at $p from '$held' " +
                s"(heartbeat ${age / 1000}s ago > ${staleMs / 1000}s horizon)")
              try { fs.delete(p, false); () }
              catch { case e: java.io.IOException => rethrowIfInterrupt(e) }
              done = claim()
            }
          case Torn(mtime) =>
            // a JUST-CREATED lease is transiently length 0
            // (create-then-write): inside the grace, wait — the writer
            // completes in ms and the next read sees its identity; past
            // the grace it is crash garbage, reclaimed so the create can
            // proceed (review r10: an ungated delete here raced a healthy
            // create and let BOTH drivers believe they owned it)
            if (System.currentTimeMillis() - mtime > TornGraceMs) {
              try { fs.delete(p, false); () }
              catch { case e: java.io.IOException => rethrowIfInterrupt(e) }
              done = claim()
            }
          case Absent =>
            done = claim()
        }
        if (!done) {
          if (System.currentTimeMillis() >= deadline)
            throw new IllegalStateException(
              s"cannot acquire driver lease at $p within " +
                s"${TornGraceMs + 5000L} ms (torn or heavily contended)")
          Thread.sleep(100L)
        }
      }
    }

  // Per-path heartbeat mode (ADVICE r10): the preferred heartbeat is one
  // setTimes RPC (no rewrite, no torn-read window), but setTimes can (a)
  // THROW UnsupportedOperationException on filesystems that don't expose
  // mtime mutation — previously uncaught, it propagated and failed every
  // batch — or (b) be a SILENT NO-OP (some object stores), freezing a
  // healthy holder's mtime until a second driver "legitimately" takes over
  // a live stream. Both degrade to REWRITING the lease file as the
  // heartbeat (the create refreshes mtime by construction; concurrent
  // readers tolerate the create window via TornGraceMs). (b) is caught by
  // verifying ONCE per path, on the first refresh old enough to be
  // measurable, that the mtime actually advanced.
  private object HbMode extends Enumeration { val Unverified, SetTimes, Rewrite = Value }
  private val hbModes =
    new java.util.concurrent.ConcurrentHashMap[String, HbMode.Value]()
  /** mtime gaps below this cannot distinguish a frozen mtime from
    * coarse-granularity rounding — verification waits for a bigger gap. */
  private val HbVerifyMinGapMs = 2000L

  private def heartbeat(fs: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path, statePath: String,
                        identity: String, prevMtime: Long,
                        staleMs: Long): Unit = {
    val mode = hbModes.getOrDefault(statePath, HbMode.Unverified)
    val now = System.currentTimeMillis()
    def fallbackRewrite(reason: String): Unit = {
      if (mode != HbMode.Rewrite) {
        hbModes.put(statePath, HbMode.Rewrite)
        log.warn(s"lease heartbeat at $p: $reason — falling back to " +
          "rewriting the lease file as the heartbeat")
      }
      if (!writeLease(fs, p, identity, overwrite = true))
        log.warn(s"lease heartbeat rewrite failed at $p — the lease is NOT " +
          s"refreshing and will look stale after ${staleMs / 1000}s")
    }
    if (mode == HbMode.Rewrite) { fallbackRewrite("rewrite mode"); return }
    try {
      fs.setTimes(p, now, -1)
      if (mode == HbMode.Unverified && now - prevMtime > HbVerifyMinGapMs) {
        // one verification stat per path lifetime — off the steady-state
        // hot path once the mode settles
        val after =
          try fs.getFileStatus(p).getModificationTime
          catch { case _: java.io.FileNotFoundException => now }
        if (after <= prevMtime)
          fallbackRewrite("setTimes is a silent no-op (mtime did not advance)")
        else hbModes.put(statePath, HbMode.SetTimes)
        ()
      }
    } catch {
      case _: UnsupportedOperationException =>
        fallbackRewrite("setTimes unsupported on this filesystem")
      case e: java.io.IOException =>
        rethrowIfInterrupt(e)
        // transient I/O failure: stay in the current mode, but be VISIBLE
        // (review r10) — silently frozen mtimes decay toward a
        // legitimate-looking foreign takeover, the wrong-party eviction
        log.warn(s"lease heartbeat setTimes failed at $p — the " +
          s"lease mtime is NOT refreshing and will look stale after " +
          s"${staleMs / 1000}s: ${e.getMessage}")
    }
  }

  /** Release the lease if `identity` holds it (shutdown hygiene and specs;
    * a crashed driver's lease is reclaimed by staleness instead). */
  def release(spark: SparkSession, statePath: String,
              identity: String = processIdentity): Unit =
    locked(statePath) {
      val (fs, p) = hfs(spark, leasePath(statePath))
      readIdentity(fs, p) match {
        case Some((held, _)) if held == identity =>
          try { fs.delete(p, false); () }
          catch { case e: java.io.IOException => rethrowIfInterrupt(e) }
        case _ => ()
      }
    }

  /** Current holder and heartbeat age in ms, if any (status surface). */
  def holder(spark: SparkSession, statePath: String): Option[(String, Long)] =
    locked(statePath) {
      val (fs, p) = hfs(spark, leasePath(statePath))
      readIdentity(fs, p).map { case (id, mtime) =>
        (id, System.currentTimeMillis() - mtime)
      }
    }
}
