package perfbench

import java.nio.file.{Files, Path, Paths}

/** The load generator: its own JVM, serving the `CdcFeedServer` wire.
  *
  * Usage: `FeedMain <workload> <seed> <seconds> <ctlDir>`. Control runs through files
  * in `ctlDir`:
  *  - writes `port` once the server listens and the preload is appended;
  *  - reads `go` (`<t0 epoch ms>`): for an open-loop workload, event i is
  *    due at t0 + i / rate, is appended at that time whatever the pipeline
  *    is doing, and carries its due time as `ts`;
  *  - reads `halt`: stops appending and writes `gen.json` (events appended,
  *    lateness percentiles);
  *  - reads `stop`: closes the server and exits. */
object FeedMain {
  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch { case t: Throwable => t.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, ctlS) = args
    val spec = Workloads.spec(workload, secondsS.toInt)
    val ctl = Paths.get(ctlS)
    val server = new graft.sources.CdcFeedServer()
    val gen = new EventStream(seedS.toLong, spec.shape)
    val loadedAt = System.currentTimeMillis()
    var n = 0L
    while (n < spec.preload) {
      val e = gen.next(); server.append(e.op, e.table, loadedAt, e.data); n += 1
    }
    Io.writeAtomic(ctl.resolve("port"), server.port.toString)
    val late = new java.util.ArrayList[java.lang.Double]()
    if (spec.rate > 0) {
      val t0 = Io.await(ctl.resolve("go")).trim.toLong
      // wall clock for the due stamps (shared with the system JVM), the
      // monotonic clock for lateness
      val nano0 = System.nanoTime() - (System.currentTimeMillis() - t0) * 1000000L
      val halt = ctl.resolve("halt")
      var i = 0L
      var checkedHalt = 0L
      var halted = false
      while (!halted) {
        val dueOff = (i * 1e9 / spec.rate).toLong
        val lateNs = System.nanoTime() - nano0 - dueOff
        if (lateNs < 0) java.util.concurrent.locks.LockSupport.parkNanos(math.min(-lateNs, 20000000L))
        else {
          val e = gen.next()
          server.append(e.op, e.table, t0 + dueOff / 1000000L, e.data)
          late.add(lateNs / 1e6)
          i += 1
        }
        val now = System.nanoTime()
        if (now - checkedHalt > 20000000L) { checkedHalt = now; halted = Files.exists(halt) }
      }
      n += i
    }
    val sorted = late.toArray(Array.empty[java.lang.Double]).map(_.doubleValue).sorted
    def pct(p: Double) = if (sorted.isEmpty) 0.0 else sorted(math.min(sorted.length - 1, (p * sorted.length).toInt))
    Io.writeAtomic(ctl.resolve("gen.json"),
      s"""{"events":$n,"late_p50_ms":${pct(0.5)},"late_p99_ms":${pct(0.99)},"late_max_ms":${sorted.lastOption.getOrElse(0.0)}}""")
    Io.await(ctl.resolve("stop"))
    server.close()
  }
}

object Io {
  def writeAtomic(p: Path, s: String): Unit = {
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.write(tmp, s.getBytes("UTF-8"))
    Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Wait for a control file and return its content. */
  def await(p: Path, timeoutMs: Long = 170000L): String = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!Files.exists(p)) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"timed out waiting for $p")
      Thread.sleep(5)
    }
    new String(Files.readAllBytes(p), "UTF-8")
  }
}
