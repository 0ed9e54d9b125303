package perfbench

/** The seeded workload generator, shared by the feed JVM (which serves the
  * events) and the system JVM (which writes the source table and replays the
  * events). Everything is a pure function of the seed: the same seed gives
  * the same initial table and the same event sequence.
  *
  * Rows of the synced table `items`: id (pk), grp, score, name, note. All
  * values are longs or plain ASCII strings, so the JSON written here needs
  * no escaping and the replay parses it back exactly. */
object Gen {
  val Table = "items"
  val OtherTable = "audit" // events for a table no sync subscribes to
  val Fields: Seq[String] = Seq("id", "grp", "score", "name", "note")
  val NonPk: Seq[String] = Fields.tail

  /** splitmix64 finaliser: a stateless hash used as the per-key RNG. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def field(seed: Long, key: Long, version: Long, name: String): Any = {
    val h = mix(mix(seed ^ (key * 0x100000001B3L)) ^ (version * 31 + name.hashCode))
    name match {
      case "grp"   => java.lang.Math.floorMod(h, 100L)
      case "score" => java.lang.Math.floorMod(h, 1000000L)
      case "name"  => "n" + java.lang.Long.toHexString(h & 0xFFFFFFFFL)
      case "note"  => "note-" + java.lang.Long.toHexString(h) + "-" +
                      java.lang.Long.toHexString(mix(h))
    }
  }

  /** A full row image: Array(id, grp, score, name, note). */
  def row(seed: Long, key: Long, version: Long): Array[Any] =
    Array[Any](key) ++ NonPk.map(field(seed, key, version, _))

  /** The initial source table: keys 0 until n, version 0. */
  def initialRow(seed: Long, key: Long): Array[Any] = row(seed, key, 0L)

  def json(fields: Seq[(String, Any)]): String = fields.map {
    case (k, v: String) => s""""$k":"$v""""
    case (k, v)         => s""""$k":$v"""
  }.mkString("{", ",", "}")

  def rowJson(r: Array[Any]): String = json(Fields.zip(r))

  /** Event mix and key shape of one workload. Shares are of all events. */
  final case class Shape(
      initRows: Long,
      keySpace: Long,
      zipfS: Double,         // 0 = uniform keys
      create: Double,
      delete: Double,
      pkless: Double,
      multiRow: Double,      // multi-row create envelopes (JSON arrays)
      unsynced: Double)      // events for a table no sync reads

  /** One envelope before the feed server assigns its offset. */
  final case class Env(op: String, table: String, data: String)
}

/** Stateful event stream for one seed and shape. Updates and deletes only
  * touch keys that are live at generation time. */
final class EventStream(seed: Long, shape: Gen.Shape) {
  import Gen._

  private val rnd = new java.util.SplittableRandom(mix(seed ^ 0x5EEDL))
  // indexable live-key set: O(1) add, remove and uniform pick
  private var liveArr = new Array[Long](math.max(shape.keySpace, shape.initRows).toInt + 16)
  private var liveN = 0
  private val liveIdx = new java.util.HashMap[Long, Integer]()
  private var version = 1L
  private var fresh = math.max(shape.keySpace, shape.initRows)

  (0L until shape.initRows).foreach(addLive)

  private def addLive(k: Long): Unit = if (!liveIdx.containsKey(k)) {
    if (liveN == liveArr.length) liveArr = java.util.Arrays.copyOf(liveArr, liveN * 2)
    liveArr(liveN) = k; liveIdx.put(k, liveN); liveN += 1
  }
  private def removeLive(k: Long): Unit = {
    val i: Integer = liveIdx.remove(k)
    if (i != null) {
      liveN -= 1
      val last = liveArr(liveN)
      if (i.intValue != liveN) { liveArr(i) = last; liveIdx.put(last, i) }
    }
  }
  private def isLive(k: Long) = liveIdx.containsKey(k)

  // Zipf over ranks 1..keySpace, rank r maps to key (r * stride) mod keySpace
  // so hot keys are spread over the key range rather than bunched at 0
  private val zipfCdf: Array[Double] =
    if (shape.zipfS <= 0) Array.empty
    else {
      val n = shape.keySpace.toInt
      val c = new Array[Double](n)
      var acc = 0.0
      var r = 0
      while (r < n) { acc += 1.0 / math.pow(r + 1.0, shape.zipfS); c(r) = acc; r += 1 }
      c.map(_ / acc)
    }
  private val stride = {
    var s = shape.keySpace / 2 + 1
    while (BigInt(s).gcd(BigInt(shape.keySpace)) != 1) s += 1
    s
  }
  private def zipfKey(): Long = {
    val u = rnd.nextDouble()
    var i = java.util.Arrays.binarySearch(zipfCdf, u)
    if (i < 0) i = -i - 1
    (math.min(i, zipfCdf.length - 1).toLong * stride) % shape.keySpace
  }

  /** A live key (Zipf-weighted when the shape is skewed); needs liveN > 0. */
  private def pickLive(): Long = {
    var tries = 0
    while (shape.zipfS > 0 && tries < 8) {
      val k = zipfKey(); if (isLive(k)) return k; tries += 1
    }
    liveArr(rnd.nextInt(liveN))
  }

  private def pickDead(): Long = {
    var tries = 0
    while (tries < 8) {
      val k =
        if (shape.zipfS > 0) zipfKey()
        else (rnd.nextLong() & Long.MaxValue) % shape.keySpace
      if (!isLive(k)) return k
      tries += 1
    }
    fresh += 1; fresh
  }

  private def fullRow(k: Long): Array[Any] = { version += 1; row(seed, k, version) }

  def next(): Env = {
    val u = rnd.nextDouble()
    var t = shape.unsynced
    if (u < t) return Env("update", OtherTable, json(Seq("id" -> rnd.nextInt(1000))))
    t += shape.pkless
    if (u < t) {
      // no primary key: the pipeline dead-letters it
      return Env("update", Table, json(Seq("score" -> rnd.nextInt(1000000))))
    }
    t += shape.multiRow
    if (u < t) {
      val n = 2 + rnd.nextInt(3)
      val keys = (0 until n).map(_ => pickDead()).distinct
      keys.foreach(addLive)
      return Env("create", Table, keys.map(k => rowJson(fullRow(k))).mkString("[", ",", "]"))
    }
    t += shape.create
    if (u < t || liveN == 0) {
      val k = pickDead(); addLive(k)
      return Env("create", Table, rowJson(fullRow(k)))
    }
    t += shape.delete
    val k = pickLive()
    if (u < t) {
      removeLive(k)
      Env("delete", Table, json(Seq("id" -> k)))
    } else {
      // partial update: 1 or 2 of the non-pk fields
      val r = fullRow(k)
      val a = 1 + rnd.nextInt(NonPk.length)
      val picked =
        if (rnd.nextBoolean()) Seq(a)
        else Seq(a, 1 + (a + rnd.nextInt(NonPk.length - 1)) % NonPk.length).sorted
      Env("update", Table, json(("id" -> k) +: picked.map(i => Fields(i) -> r(i))))
    }
  }
}

object Workloads {
  /** Per-workload generator shape and load. The feed serves `preload` events
    * before the query starts; the first batch takes them cold (JIT, codegen,
    * the first-batch replay fence) and is the warm phase. An open-loop
    * workload then appends at `rate` events/s; a closed-loop one drains the
    * preload in batches of `maxEventsPerTrigger`. The backlog is sized from
    * the run length: 2400 events per second of run, in five batches. */
  final case class Spec(shape: Gen.Shape, preload: Long, rate: Double,
                        maxEventsPerTrigger: Option[Long])

  def spec(name: String, seconds: Int): Spec = name match {
    case "tail_uniform" => Spec(
      Gen.Shape(initRows = 20000, keySpace = 40000, zipfS = 0,
        create = 0.20, delete = 0.10, pkless = 0.005, multiRow = 0, unsynced = 0),
      preload = 1500, rate = 200, maxEventsPerTrigger = None)
    case "backlog_drain" => Spec(
      Gen.Shape(initRows = 10000, keySpace = 20000, zipfS = 1.1,
        create = 0.14, delete = 0.07, pkless = 0.005, multiRow = 0.20, unsynced = 0.10),
      preload = 2400L * seconds, rate = 0, maxEventsPerTrigger = Some(480L * seconds))
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}
