package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Seeded schedule FUZZER for the dead-letter replay fence (r11 verdict
  * #3): the per-pk (offset, _ridx) watermark, the sync-level snapshot
  * floor, and the quarantine repair/replay loop — the other deep protocol
  * beside [[StateCommit]], until now verified by scenario specs only
  * ([[graft.OffsetWatermarkSpec]], SoakSpec).
  *
  * Structure mirrors [[StateCommitFuzzSpec]]: to make 1,000+ schedules fit
  * in CI seconds the SINK data plane is an in-memory model, while the
  * floor protocol is the REAL thing ([[OffsetWatermark.recordSnapshotFloor]]
  * / [[OffsetWatermark.snapshotFloor]] / the crash-temp heal, against real
  * files). The model's position algebra is not assumed: the battery test
  * below pins the model comparator against the REAL Spark
  * [[OffsetWatermark.splitStale]] and [[OffsetWatermark.advance]] on an
  * exhaustive (offset × ridx × watermark × floor) grid, so the fuzz
  * layer's model is a CHECKED mirror, not a parallel reimplementation
  * taken on faith.
  *
  * Atoms (the verdict's list): live ingest batch, crash-replay of the
  * last batch, quarantine (inside ingest), operator repair, dead-letter
  * replay (fresh and superseded), snapshot refresh + floor record, and a
  * crashed floor writer (complete temp, main deleted — the heal-forward
  * state). Invariant after EVERY atom: the model sink equals the
  * HAND-DERIVED oracle — last-write-wins over the applied-event history,
  * where a replayed repair counts as applied iff no strictly newer
  * position was applied for its pk and its offset is above the floor —
  * and the real on-disk floor equals the oracle floor.
  *
  * A failure prints its seed and atom script. The mutation test reruns
  * the schedules with the model's _ridx tiebreak REVERTED (offset-only
  * comparison — the exact r9-review hazard) and demands divergence, so
  * the oracle check is proven sensitive to the tiebreak it guards. */
class OffsetWatermarkFuzzSpec extends SparkSpec {

  private val Seeds = 1100

  // ---- position algebra (the model mirror, pinned by the battery) -----
  private case class Pos(off: Long, ridx: Int)
  private val posOrd: Ordering[Pos] = Ordering.by((p: Pos) => (p.off, p.ridx))

  /** Production staleness rule ([[OffsetWatermark.splitStale]]): fenced by
    * the floor (floor 0 = "no snapshot ever", fences nothing), else stale
    * iff the watermark holds a STRICTLY newer position. `mutated` reverts
    * the _ridx tiebreak (offset-only — the r9 hazard) for the mutation
    * test. */
  private def staleRule(p: Pos, wm: Option[Pos], floor: Long,
                        mutated: Boolean): Boolean =
    (floor > 0L && p.off <= floor) ||
      wm.exists(w => if (mutated) p.off < w.off else posOrd.lt(p, w))

  // ---- the world: model mechanics + real floor files + oracle ---------
  private final class World(val statePath: String, val mutated: Boolean) {
    // model (pipeline mechanics): sink, per-pk watermark, quarantine
    val sink = mutable.Map[Int, String]()
    val wm = mutable.Map[Int, Pos]()
    val quarantine = mutable.Map[(Int, Pos), String]()
    // shared input: every change the source ever emitted (original
    // payloads — repairs edit the quarantined FEED copy, not the source)
    val emitted = mutable.LinkedHashMap[(Int, Pos), String]()
    var maxEmittedOffset = 0L
    // oracle: (pk, pos) -> latest payload APPLIED at that position
    val appliedOracle = mutable.Map[(Int, Pos), String]()
    var floorOracle = 0L

    def sourceTruth: Map[Int, (Pos, String)] =
      emitted.toSeq.groupBy(_._1._1).map { case (pk, es) =>
        val (k, payload) = es.maxBy(_._1._2)(posOrd)
        pk -> ((k._2, payload))
      }

    def oracleSink: Map[Int, String] =
      appliedOracle.toSeq.groupBy(_._1._1).map { case (pk, es) =>
        pk -> es.maxBy(_._1._2)(posOrd)._2
      }
  }

  // ---- atoms ----------------------------------------------------------

  private case class Change(pk: Int, pos: Pos, payload: String,
                            quarantined: Boolean)

  /** Live ingest: applied rows hit the sink and advance the watermark;
    * undecodable rows land in quarantine (watermark NOT advanced — the
    * premise the replay fence exists for). */
  private def liveBatch(w: World, changes: Seq[Change]): Unit = {
    changes.foreach { c =>
      w.emitted((c.pk, c.pos)) = c.payload
      w.maxEmittedOffset = math.max(w.maxEmittedOffset, c.pos.off)
    }
    applyBatch(w, changes, fence = false)
  }

  /** A checkpoint-replayed restart batch runs the production FIRST-BATCH
    * fence (Pipeline.applySyncLocked, r12): rows strictly below their
    * pk's watermark, or at/below the floor, are superseded and drop — a
    * dead-letter replay or snapshot refresh that landed while the stream
    * was down can no longer be overwritten by the restart. */
  private def crashReplay(w: World, changes: Seq[Change]): Unit =
    applyBatch(w, changes, fence = true)

  private def applyBatch(w: World, changes: Seq[Change],
                         fence: Boolean): Unit = {
    val fl =
      if (fence) OffsetWatermark.snapshotFloor(spark, w.statePath) else 0L
    changes.sortBy(_.pos)(posOrd).foreach { c =>
      if (c.quarantined) {
        // a crash-replay overwrites a still-quarantined repair with the
        // original payload (the dead-letter write is keyed by position);
        // it never resurrects an entry a successful replay applied
        if (w.quarantine.contains((c.pk, c.pos)) ||
          !w.appliedOracle.contains((c.pk, c.pos)))
          w.quarantine((c.pk, c.pos)) = c.payload
      } else {
        if (!fence || !staleRule(c.pos, w.wm.get(c.pk), fl, w.mutated)) {
          w.sink(c.pk) = c.payload
          w.wm(c.pk) = w.wm.get(c.pk).fold(c.pos)(posOrd.max(_, c.pos))
        }
        val superseded = fence &&
          ((w.floorOracle > 0L && c.pos.off <= w.floorOracle) ||
            w.appliedOracle.keys.exists(a =>
              a._1 == c.pk && posOrd.gt(a._2, c.pos)))
        if (!superseded) w.appliedOracle((c.pk, c.pos)) = c.payload
      }
    }
  }

  /** Operator repair: edit a quarantined payload in place. */
  private def repair(w: World, key: (Int, Pos), newPayload: String): Unit =
    if (w.quarantine.contains(key)) w.quarantine(key) = newPayload

  /** Dead-letter replay of a selected quarantine subset. Decisions are
    * computed against the PRE-replay state for every row (the production
    * shape: one splitStale over the stored watermark), then fresh rows
    * apply LWW and re-advance; superseded rows are dropped. The model
    * decides by its (battery-pinned) rule; the ORACLE decides by the
    * hand-derived applied-history rule — if they ever disagree the sinks
    * diverge and the invariant fails. */
  private def replay(w: World, keys: Seq[(Int, Pos)]): Unit = {
    val fl = OffsetWatermark.snapshotFloor(spark, w.statePath)
    val present = keys.filter(w.quarantine.contains)
    val modelDecision = present.map { k =>
      k -> staleRule(k._2, w.wm.get(k._1), fl, w.mutated)
    }.toMap
    val oracleDecision = present.map { case k @ (pk, pos) =>
      val superseded =
        (w.floorOracle > 0L && pos.off <= w.floorOracle) ||
          w.appliedOracle.keys.exists(a => a._1 == pk && posOrd.gt(a._2, pos))
      k -> superseded
    }.toMap
    present.sortBy(_._2)(posOrd).foreach { case k @ (pk, pos) =>
      val payload = w.quarantine(k)
      w.quarantine -= k
      if (!modelDecision(k)) {
        w.sink(pk) = payload
        w.wm(pk) = w.wm.get(pk).fold(pos)(posOrd.max(_, pos))
      }
      if (!oracleDecision(k)) w.appliedOracle(k) = payload
    }
  }

  /** Snapshot refresh: the sink becomes source truth, and the floor (max
    * offset OBSERVED, captured before the scan) commits through the REAL
    * file protocol. Watermark entries persist (snapshot rows never pass
    * advance — the documented contract). */
  private def refresh(w: World): Unit = {
    val floorVal = w.maxEmittedOffset
    val truth = w.sourceTruth
    w.sink.clear()
    w.appliedOracle.clear()
    truth.foreach { case (pk, (pos, payload)) =>
      w.sink(pk) = payload
      w.appliedOracle((pk, pos)) = payload
    }
    OffsetWatermark.recordSnapshotFloor(spark, w.statePath, floorVal)
    w.floorOracle = math.max(w.floorOracle, floorVal)
  }

  /** A floor writer that crashed between the old main's delete and the
    * temp's rename: a COMPLETE temp stands, main is gone. Per the
    * protocol, any standing temp carries >= the old main's value (the
    * writer computes max(existing, floor) BEFORE deleting), so the heal
    * can only move the fence forward. */
  private def floorCrash(w: World, v: Long): Unit = {
    // a recorded floor is a max-observed-offset some refresh computed, so
    // it can never exceed the emitted history — clamp the seed draw
    val target = math.max(w.floorOracle,
      math.min(v, math.max(1L, w.maxEmittedOffset)))
    val main = new java.io.File(OffsetWatermark.floorPath(w.statePath))
    Option(main.getParentFile).foreach(_.mkdirs())
    val tmp = new java.io.File(
      OffsetWatermark.floorPath(w.statePath) + ".next.fuzz-" + target)
    java.nio.file.Files.write(tmp.toPath,
      target.toString.getBytes("UTF-8"))
    if (main.exists()) main.delete()
    w.floorOracle = target
  }

  private def checkInvariants(w: World, ctx: String): Unit = {
    assert(w.sink.toMap === w.oracleSink,
      s"$ctx: model sink diverged from the hand-derived oracle " +
        s"(model=${w.sink.toMap}, oracle=${w.oracleSink})")
    val fl = OffsetWatermark.snapshotFloor(spark, w.statePath)
    assert(fl === w.floorOracle,
      s"$ctx: on-disk floor $fl != oracle floor ${w.floorOracle}")
    // watermark sanity: never past the emitted history
    w.wm.foreach { case (pk, p) =>
      val maxEmitted = w.emitted.keys.collect { case (`pk`, q) => q }
        .reduceOption((a: Pos, b: Pos) => posOrd.max(a, b))
      assert(maxEmitted.exists(posOrd.gteq(_, p)),
        s"$ctx: watermark for pk $pk at $p passed the emitted history")
    }
  }

  // ---- schedule composition ------------------------------------------

  private case class Atom(name: String, run: () => Unit)

  private def compose(seed: Int, w: World): Vector[Atom] = {
    val rnd = new scala.util.Random(seed)
    var nextOffset = 1L
    var lastBatch: Seq[Change] = Nil
    val pks = 0 until 6 // small pool: force pk collisions across atoms
    def mkBatch(): Seq[Change] = {
      // 1-3 envelopes; an envelope holds 1-3 rows at ONE offset with
      // _ridx 0..n — the multi-row shape the tiebreak exists for
      val b = (1 to (1 + rnd.nextInt(3))).flatMap { _ =>
        val off = nextOffset; nextOffset += 1 + rnd.nextInt(2)
        val rows = 1 + rnd.nextInt(3)
        (0 until rows).map { r =>
          Change(pks(rnd.nextInt(pks.size)), Pos(off, r),
            s"p$off-$r-${rnd.nextInt(100)}", quarantined = rnd.nextDouble() < 0.3)
        }
      }
      lastBatch = b; b
    }
    val atoms = Vector.newBuilder[Atom]
    // open with two ingest batches so later atoms have material
    atoms += Atom("b0", { val b = mkBatch(); () => liveBatch(w, b) })
    atoms += Atom("b1", { val b = mkBatch(); () => liveBatch(w, b) })
    (1 to (6 + rnd.nextInt(6))).foreach { i =>
      rnd.nextInt(10) match {
        case 0 | 1 | 2 =>
          atoms += Atom(s"b$i", { val b = mkBatch(); () => liveBatch(w, b) })
        case 3 =>
          val snap = lastBatch
          atoms += Atom(s"crashReplay$i", () => crashReplay(w, snap))
        case 4 | 5 =>
          atoms += Atom(s"repair$i", () => {
            val q = w.quarantine.keys.toSeq.sortBy(k => (k._1, k._2.off, k._2.ridx))
            if (q.nonEmpty) {
              val k = q(rnd.nextInt(q.size))
              repair(w, k, s"repaired-$i-${rnd.nextInt(100)}")
            }
          })
        case 6 | 7 =>
          atoms += Atom(s"replay$i", () => {
            val q = w.quarantine.keys.toSeq.sortBy(k => (k._1, k._2.off, k._2.ridx))
            val n = if (q.isEmpty) 0 else 1 + rnd.nextInt(q.size)
            replay(w, rnd.shuffle(q).take(n))
          })
        case 8 =>
          // crashReplay across a refresh stays legal: the restart fence's
          // floor check supersedes the replayed batch's pre-snapshot rows
          atoms += Atom(s"refresh$i", () => refresh(w))
        case 9 =>
          atoms += Atom(s"floorCrash$i",
            () => floorCrash(w, (rnd.nextInt(20) + 1).toLong))
      }
    }
    atoms.result()
  }

  private def runSchedules(seeds: Range, mutated: Boolean,
                           base: String): (Int, Int, Int) = {
    var totalAtoms = 0
    var diverged = 0
    var replays = 0
    seeds.foreach { seed =>
      val w = new World(s"$base/s$seed${if (mutated) "m" else ""}/t", mutated)
      val sched = compose(seed, w)
      totalAtoms += sched.size
      val script = sched.map(_.name).mkString(",")
      try {
        sched.zipWithIndex.foreach { case (a, i) =>
          if (a.name.startsWith("replay")) replays += 1
          a.run()
          checkInvariants(w, s"seed=$seed after atom $i=${a.name}")
        }
      } catch {
        case _: Throwable if mutated => diverged += 1
        case e: Throwable =>
          fail(s"FUZZ seed=$seed schedule=[$script]: ${e.getMessage}", e)
      }
    }
    (totalAtoms, diverged, replays)
  }

  test(s"$Seeds random schedules over {ingest, crash-replay, quarantine, " +
    "repair, replay, refresh+floor, crashed floor writer} keep the sink " +
    "equal to the hand-derived oracle and the real on-disk floor equal to " +
    "the oracle floor after every atom (failing seed printed)") {
    val base = tmpDir("wm-fuzz")
    val (totalAtoms, _, replays) = runSchedules(1 to Seeds, mutated = false, base)
    info(s"$Seeds schedules, $totalAtoms atoms, $replays replay atoms")
    assert(totalAtoms >= 8 * Seeds, "schedules must be non-trivial")
    // the hazard population must actually occur: without replays the fence
    // is never exercised and the suite is vacuous
    assert(replays >= Seeds / 4, s"too few replay atoms: $replays")
  }

  test("mutation: reverting the _ridx tiebreak (offset-only staleness — " +
    "the r9 hazard) makes schedules DIVERGE from the oracle, proving the " +
    "invariant is sensitive to the tiebreak it guards") {
    val base = tmpDir("wm-fuzz-mut")
    val (_, diverged, _) = runSchedules(1 to 300, mutated = true, base)
    assert(diverged > 0,
      "no schedule caught the reverted tiebreak — the fuzzer cannot see " +
        "the exact bug class it exists for")
    info(s"mutated comparator caught by $diverged/300 schedules")
  }

  // ---- the battery: pin the model algebra to the REAL Spark ops -------

  test("position-algebra battery: the model staleness rule matches the " +
    "REAL splitStale on the full (offset × ridx × watermark × floor) " +
    "grid — nulls included — and the offset-only mutation is CAUGHT") {
    import spark.implicits._
    val offsets = 0L to 4L
    val ridxes: Seq[Option[Int]] = Seq(None, Some(0), Some(1), Some(2))
    val wms: Seq[Option[Pos]] =
      None +: (for { o <- offsets; r <- 0 to 2 } yield Some(Pos(o, r)))
    val combos = (for {
      (off, i) <- offsets.zipWithIndex
      (rx, j) <- ridxes.zipWithIndex
      (wm, k) <- wms.zipWithIndex
    } yield (i * 1000 + j * 100 + k, off, rx, wm)).toSeq
    val ready = combos.map { case (pk, off, rx, _) => (pk, off, rx, s"pl$pk") }
      .toDF("pk", "offset", "_ridx", "payload")
    val wmDf = combos.collect { case (pk, _, _, Some(w)) => (pk, w.off, w.ridx) }
      .toDF("pk", OffsetWatermark.OffsetCol, OffsetWatermark.RidxCol)
    for (floor <- Seq(0L, 2L)) {
      val (fresh, stale) =
        OffsetWatermark.splitStale(ready, Some(wmDf), "pk", floor)
      val freshPks = fresh.select("pk").collect().map(_.getInt(0)).toSet
      val stalePks = stale.select("pk").collect().map(_.getInt(0)).toSet
      assert(freshPks.intersect(stalePks).isEmpty)
      assert(freshPks.union(stalePks).size === combos.size,
        s"floor=$floor: splitStale dropped rows (three-valued leak?)")
      var mutationMismatch = 0
      combos.foreach { case (pk, off, rx, wm) =>
        val p = Pos(off, rx.getOrElse(0))
        val want = staleRule(p, wm, floor, mutated = false)
        val got = stalePks.contains(pk)
        assert(got === want,
          s"floor=$floor pk=$pk pos=$p wm=$wm: real=$got model=$want")
        if (staleRule(p, wm, floor, mutated = true) != got) mutationMismatch += 1
      }
      if (floor == 0L)
        assert(mutationMismatch > 0,
          "the offset-only comparator agreed with the real splitStale " +
            "everywhere — the battery cannot detect the tiebreak class")
    }
    // wm = None: nothing is stale below floor 0; floor fences by offset
    val (f0, s0) = OffsetWatermark.splitStale(ready, None, "pk", 0L)
    assert(s0.isEmpty && f0.count() === combos.size.toLong)
    val (f2, s2) = OffsetWatermark.splitStale(ready, None, "pk", 2L)
    assert(s2.select("pk").collect().map(_.getInt(0)).toSet ===
      combos.collect { case (pk, off, _, _) if off <= 2L => pk }.toSet)
    assert(f2.count() + s2.count() === combos.size.toLong)
  }

  test("advance battery: the REAL monotone merge equals the model max — " +
    "duplicate in-batch pks, null _ridx, and regressing positions never " +
    "move the stored watermark backwards") {
    import spark.implicits._
    val statePath = tmpDir("wm-fuzz-adv") + "/t"
    val b1Typed = Seq((1, 10L, Option(1), "a"), (2, 5L, Option(0), "a"),
      (3, 7L, Option.empty[Int], "a"), (4, 2L, Option(2), "a"))
      .toDF("pk", "offset", "_ridx", "payload")
    OffsetWatermark.advance(spark, statePath, b1Typed, "pk")
    // batch 2: pk1 regresses (stays), pk2 same offset higher ridx
    // (advances), pk3 null ridx again at higher offset, pk2 DUPLICATED in
    // one batch (in-batch max first), pk5 new
    val b2 = Seq((1, 9L, Option(0), "b"), (2, 5L, Option(2), "b"),
      (2, 5L, Option(1), "b"), (3, 8L, Option.empty[Int], "b"),
      (5, 1L, Option(0), "b"))
      .toDF("pk", "offset", "_ridx", "payload")
    OffsetWatermark.advance(spark, statePath, b2, "pk")
    val stored = OffsetWatermark.current(spark, statePath).get
      .collect().map(r => r.getInt(0) ->
        Pos(r.getLong(1), r.getInt(2))).toMap
    val model = mutable.Map[Int, Pos]()
    def adv(rows: Seq[(Int, Long, Option[Int])]): Unit =
      rows.foreach { case (pk, off, rx) =>
        val p = Pos(off, rx.getOrElse(0))
        model(pk) = model.get(pk).fold(p)(posOrd.max(_, p))
      }
    adv(Seq((1, 10L, Some(1)), (2, 5L, Some(0)), (3, 7L, None), (4, 2L, Some(2))))
    adv(Seq((1, 9L, Some(0)), (2, 5L, Some(2)), (2, 5L, Some(1)),
      (3, 8L, None), (5, 1L, Some(0))))
    assert(stored === model.toMap,
      s"stored watermark diverged from the model merge: $stored vs $model")
  }
}
