package perfbench

/** One envelope as served on the feed wire. */
final case class WireEvent(op: String, table: String, offset: Long, tsMs: Long, data: String)

object WireEvent {
  def parse(line: String): WireEvent = {
    val p = line.split("\t", 5)
    WireEvent(p(0), p(1), p(2).toLong, p(3).toLong, p(4))
  }

  /** Read offsets [from, to] back from the feed server (`FROM a b` verb). */
  def fetch(port: Int, from: Long, to: Long): Array[WireEvent] = {
    if (to < from) return Array.empty
    val sock = new java.net.Socket("localhost", port)
    try {
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(sock.getInputStream, "UTF-8"), 1 << 16)
      out.println(s"FROM $from $to")
      val buf = Array.newBuilder[WireEvent]
      var line = in.readLine()
      while (line != null) { buf += parse(line); line = in.readLine() }
      val got = buf.result()
      require(got.length == to - from + 1,
        s"feed returned ${got.length} events for span [$from, $to]")
      got
    } finally sock.close()
  }
}

/** Parser for the flat JSON objects (and arrays of them) that [[Gen]] writes:
  * long and unescaped string values only. */
object FlatJson {
  type Obj = Map[String, Any]

  def parse(s: String): Either[Obj, Seq[Obj]] = {
    val t = s.trim
    if (t.startsWith("[")) {
      val objs = Seq.newBuilder[Obj]
      var i = t.indexOf('{')
      while (i >= 0) {
        val j = t.indexOf('}', i)
        objs += obj(t.substring(i, j + 1))
        i = t.indexOf('{', j)
      }
      Right(objs.result())
    } else Left(obj(t))
  }

  private def obj(s: String): Obj = {
    val body = s.trim.stripPrefix("{").stripSuffix("}")
    if (body.isEmpty) Map.empty
    else body.split(",").iterator.map { kv =>
      val c = kv.indexOf(':')
      val k = kv.substring(0, c).trim.stripPrefix("\"").stripSuffix("\"")
      val v = kv.substring(c + 1).trim
      k -> (if (v.startsWith("\"")) v.substring(1, v.length - 1) else v.toLong)
    }.toMap
  }
}

/** The reference replay: the sink state the generated events must produce,
  * computed in plain Scala.
  *
  * Semantics, per micro-batch (the reference's buffer-then-flush model,
  * `event.py` EventCollection): every event of a batch for the synced table
  * is decoded (a JSON array is one row per element); a row without a
  * primary key is dead-lettered; the remaining rows are compacted to the
  * last one per key (offset, then array position); then a create replaces
  * the row, an update overwrites only the fields it carries, and a delete
  * removes the row. Batch boundaries come from the query's progress. */
final class Replay(initial: Iterator[Array[Any]]) {
  import Gen._

  val state = new java.util.TreeMap[java.lang.Long, Array[Any]]()
  initial.foreach(r => state.put(r(0).asInstanceOf[Long], r))
  var deadLetters = 0L
  /** Keys where applying a batch's events one by one would give another row
    * than the compacted apply (two partial updates to one key in a batch). */
  var compactionDiffKeys = 0L

  private final case class Change(op: String, offset: Long, ridx: Int, fields: FlatJson.Obj)

  /** Apply one batch; returns (rows decoded for the synced table, distinct keys). */
  def applyBatch(events: Iterator[WireEvent]): (Long, Long) = {
    val byKey = new java.util.HashMap[java.lang.Long, java.util.ArrayList[Change]]()
    var rows = 0L
    events.filter(e => e.table == Table && (e.op == "create" || e.op == "update" || e.op == "delete"))
      .foreach { e =>
        val objs = FlatJson.parse(e.data) match {
          case Left(o)   => Seq(o)
          case Right(os) => os
        }
        objs.zipWithIndex.foreach { case (o, i) =>
          rows += 1
          o.get("id") match {
            case None => deadLetters += 1
            case Some(k: Long) =>
              // an array row is a full row image: its present fields are its non-null ones
              byKey.computeIfAbsent(k, _ => new java.util.ArrayList[Change]())
                .add(Change(e.op, e.offset, i, o))
            case Some(other) => throw new IllegalStateException(s"non-long pk $other")
          }
        }
      }
    val order = java.util.Comparator.comparingLong((c: Change) => c.offset)
      .thenComparingInt((c: Change) => c.ridx)
    byKey.forEach { (k, cs) =>
      cs.sort(order)
      val before = state.get(k)
      val compacted = applyOne(before, cs.get(cs.size - 1))
      if (cs.size > 1) {
        var seq = before
        cs.forEach(c => seq = applyOne(seq, c))
        if (!sameRow(seq, compacted)) compactionDiffKeys += 1
      }
      if (compacted == null) state.remove(k) else state.put(k, compacted)
    }
    (rows, byKey.size.toLong)
  }

  private def applyOne(before: Array[Any], c: Change): Array[Any] = c.op match {
    case "delete" => null
    case "create" => Fields.map(f => c.fields.getOrElse(f, null)).toArray
    case _ =>
      val base = if (before == null) Array.fill[Any](Fields.length)(null) else before
      Fields.indices.map(i => c.fields.getOrElse(Fields(i), base(i))).toArray
  }

  private def sameRow(a: Array[Any], b: Array[Any]): Boolean =
    (a == null && b == null) || (a != null && b != null && a.sameElements(b))
}

object Replay {
  /** The row digest both sides compute: CRC32 of the fields joined by `|`,
    * nulls written as `\N`. Spark computes the same with `crc32(concat_ws)`. */
  def rowLine(r: Array[Any]): String =
    r.map(v => if (v == null) "\\N" else v.toString).mkString("|")

  def crc(r: Array[Any]): Long = {
    val c = new java.util.zip.CRC32()
    c.update(rowLine(r).getBytes("UTF-8"))
    c.getValue
  }
}
