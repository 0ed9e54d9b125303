package graft.cdc

import graft.model._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's per-event dataflow re-expressed as declarative DataFrame
  * transforms, so Catalyst handles pushdown/pruning and whole-stage codegen.
  *
  * Reference behaviors covered (SURVEY.md §2.1):
  *  - F1 table filter   (`main.py:107-109`, `settings.py:78-82`)
  *  - F2 op/DML filter  (`mysql.py:93`, `postgres.py:120-121`, `mongo.py:50`)
  *  - P1/P2 projection + rename + coercion (`schemas.py:18-30`)
  *  - B1 per-PK last-write-wins dedup (`event.py:10-13`)
  */
object Transforms {

  /** F1: only configured tables flow. A pushable `isin` predicate — on a real
    * CDC feed this reaches the source (topic selection / binlog filter). */
  def tableFilter(events: DataFrame, tables: Seq[String]): DataFrame =
    events.filter(col("table").isin(tables: _*))

  /** F2: DML-only filter (reference drops non-row events). */
  def opFilter(events: DataFrame, ops: Seq[String] = Op.all): DataFrame =
    events.filter(col("op").isin(ops: _*))

  /** P2 coercions from the reference (`schemas.py:21-24`), as Column fns:
    * datetime -> epoch seconds (int), date -> 'yyyy-MM-dd' string. */
  def coerceTimestampToEpoch(c: Column): Column = unix_timestamp(c)
  def coerceDateToString(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** P1/P2: projection + rename + type coercion generated from config, the
    * Spark form of `Event.mapping_data` (`schemas.py:18-30`). Timestamp
    * columns become epoch-seconds longs, dates become strings — the exact
    * sink-shape the reference pins in its tests
    * (`tests/test_mysql.py:24-30`: timestamp '1977-01-27 22:00:53' -> 223250453).
    *
    * Empty `fields` keeps all columns (reference `SELECT *`,
    * `mysql.py:39-40`), applying coercions to every column.
    */
  def projectAndCoerce(rows: DataFrame, sync: SyncConfig): DataFrame = {
    val mappings =
      if (sync.fields.nonEmpty) sync.fields
      else rows.schema.fields.map(f => FieldMapping(f.name)).toSeq
    val cols = mappings.map { m =>
      val field = rows.schema.fields.find(_.name == m.src)
        .getOrElse(throw new IllegalArgumentException(
          s"sync '${sync.table}': no such column '${m.src}'"))
      val c = field.dataType match {
        case TimestampType | TimestampNTZType => coerceTimestampToEpoch(col(m.src))
        case DateType                         => coerceDateToString(col(m.src))
        case _                                => col(m.src)
      }
      c.as(m.out)
    }
    rows.select(cols: _*)
  }

  /** B1: per-PK last-write-wins compaction inside a batch — the core
    * write-reduction semantics of the pipeline (`event.py:10-13`: a later
    * event on the same (table, pk) overwrites the earlier one).
    *
    * One shuffle on (table, pk); at scale this is the minimal shuffle the
    * semantics require, and AQE handles skewed hot keys.
    *
    * @param pkCol column holding the primary key value
    * @param ordering tie-break ordering; later offset wins
    */
  def lastWriteWins(events: DataFrame, pkCol: Column): DataFrame =
    lastWriteWins(events, pkCol, Seq.empty)

  /** Variant with extra tie-break columns AFTER the offset — used for
    * multi-row events where several rows share one source offset and the
    * LATER row in the payload array must win (reference semantics for a
    * multi-row binlog event, minus its rows[0]-only bug — `mysql.py:110-116`
    * drops rows 1..n entirely, SURVEY.md §2.3). */
  def lastWriteWins(events: DataFrame, pkCol: Column,
                    tiebreak: Seq[Column]): DataFrame =
    latestPer(events, Seq(col("table"), pkCol), tiebreak)

  /** [[lastWriteWins]] over a view already filtered to ONE table: the
    * window partitions by the pk alone, so a following join or merge keyed
    * on the pk reuses its exchange instead of shuffling again. */
  def lastWriteWinsByPk(events: DataFrame, pkCol: Column,
                        tiebreak: Seq[Column]): DataFrame =
    latestPer(events, Seq(pkCol), tiebreak)

  private def latestPer(events: DataFrame, keys: Seq[Column],
                        tiebreak: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*)
      .orderBy(col("offset").desc +: tiebreak.map(_.desc): _*)
    events.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Skew-resistant B1: two-stage compaction for hot keys. Stage 1 compacts
    * within (table, pk, salt) — the salt spreads one hot pk's events over
    * `salt` reducers — leaving at most `salt` candidates per pk; stage 2
    * compacts those. Equivalent to [[lastWriteWins]] (max-offset selection
    * is associative); PropertySpec asserts the equality. Use when a feed has
    * pathological hot keys that AQE's skew handling can't split (a window
    * over one key can't be split, unlike a join). The salt derives from
    * `offset` so it's deterministic under replay. */
  def saltedLastWriteWins(events: DataFrame, pkCol: Column, salt: Int = 16): DataFrame = {
    val s1 = Window.partitionBy(col("table"), pkCol, pmod(col("offset"), lit(salt)))
      .orderBy(col("offset").desc)
    val stage1 = events.withColumn("__rn", row_number().over(s1))
      .filter(col("__rn") === 1).drop("__rn")
    lastWriteWins(stage1, pkCol)
  }
}
