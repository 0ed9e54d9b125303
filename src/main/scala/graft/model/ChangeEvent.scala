package graft.model

import org.apache.spark.sql.types._

/** The CDC envelope — the reference's one logical "table type": an unbounded
  * keyed change-event stream over named tables.
  *
  * Mirrors `meilisync/schemas.py:13-16` (`Event{type, table, data}`) plus the
  * checkpoint position from `ProgressEvent` (`schemas.py:9-10`), re-expressed
  * as a typed Spark row. The schemaless `data: dict` of the reference becomes
  * a JSON-string payload parsed per-sync with `from_json` + a configured
  * [[SyncConfig.schema]], so Catalyst can prune and push down once the schema
  * is applied.
  *
  * @param op     create | update | delete (reference `enums.py:4-7`)
  * @param table  source table / collection name
  * @param offset monotone per-source position (binlog pos / LSN / resume token,
  *               reference `mysql.py:76-79`, `postgres.py:49-52`, `mongo.py:44-47`)
  * @param ts     event timestamp (arrival or commit time)
  * @param data   JSON row payload (column name -> value); for `update` events
  *               MAY be partial (only changed fields — reference `mongo.py:64`)
  */
final case class ChangeEvent(
    op: String,
    table: String,
    offset: Long,
    ts: java.sql.Timestamp,
    data: String
)

object Op {
  val Create = "create"
  val Update = "update"
  val Delete = "delete"
  val all: Seq[String] = Seq(Create, Update, Delete)
}

object ChangeEvent {
  /** DataFrame-side schema of the envelope (matches the case class). */
  val schema: StructType = StructType(Seq(
    StructField("op", StringType),
    StructField("table", StringType),
    StructField("offset", LongType),
    StructField("ts", TimestampType),
    StructField("data", StringType)
  ))
}

/** One field of a sync projection: source column plus optional rename.
  * Mirrors the `fields: {src: dst|null}` map of the reference
  * (`settings.py:46`, `README.md:208-209`). */
final case class FieldMapping(src: String, dst: Option[String] = None) {
  def out: String = dst.getOrElse(src)
}

/** Per-table sync configuration — mirrors reference `Sync`
  * (`settings.py:39-48`): which table to sync, its primary key, whether to
  * backfill, the target index, and an optional projection/rename list.
  *
  * Spark addition: an optional payload [[schema]] so the JSON `data` column
  * can be parsed into typed columns (the reference is schemaless; a typed
  * schema is what lets Catalyst prune/push down at 100 TB).
  */
final case class SyncConfig(
    table: String,
    pk: String = "id",
    full: Boolean = false,
    index: Option[String] = None,
    fields: Seq[FieldMapping] = Seq.empty,
    schema: Option[StructType] = None
) {
  def indexName: String = index.getOrElse(table)
}

/** Pipeline-level configuration — mirrors reference `Settings`
  * (`settings.py:60-82`): flush triggers and the list of syncs.
  *
  * Spark addition: `stateBuckets` is the bucket count of the sink's
  * manifest layout ([[graft.cdc.BucketedUpsertSink]] over
  * [[graft.cdc.ManifestStore]] — each batch rewrites only the pk-hash
  * buckets it touches into immutable files and publishes them with one
  * atomic manifest rename); None means one bucket. `zoneMapCols` are the
  * per-bucket min/max stat columns each manifest commit carries
  * alongside the row counts — the stats
  * [[graft.cdc.ManifestStore.prunedRead]] uses to prune buckets at query
  * time. */
final case class PipelineConfig(
    syncs: Seq[SyncConfig],
    insertSize: Option[Int] = None,
    insertIntervalSecs: Option[Int] = None,
    stateBuckets: Option[Int] = None,
    zoneMapCols: Seq[String] = Seq.empty,
    /** Ignored: the manifest layout is the only sink layout. Kept so
      * existing callers still compile. */
    @deprecated("the manifest layout is the only sink layout", "0.1.0")
    manifestSink: Boolean = false,
    /** The reference's `debug` settings flag (`settings.py:64`,
      * `main.py:35-36,103-104`): log the parsed settings at startup and
      * the decoded events per micro-batch (bounded sample — the row-at-a-
      * time reference logs every event; a Spark batch logs its head). */
    debug: Boolean = false,
    /** Heartbeat staleness horizon for the single-driver lease
      * ([[graft.cdc.DriverLease]]): a foreign lease whose heartbeat is
      * older than this is presumed dead and taken over; fresher, the
      * mutating call fails loud. Must exceed the trigger interval. */
    leaseStaleMs: Long = graft.cdc.DriverLease.DefaultStaleMs
) {
  /** `settings.get_sync(table)` (reference `settings.py:78-82`). */
  def syncFor(table: String): Option[SyncConfig] = syncs.find(_.table == table)
  def tables: Seq[String] = syncs.map(_.table)
}
