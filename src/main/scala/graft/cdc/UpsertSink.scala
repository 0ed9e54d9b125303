package graft.cdc

import graft.model._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** K1: the upsert/delete sink (reference `meili.py:121-151`), re-expressed as
  * an idempotent MERGE-shaped batch apply against a keyed table.
  *
  * Semantics (normative, from the reference):
  *  - create -> insert document
  *  - update -> PARTIAL upsert: only the fields present in the event change;
  *    untouched columns of an existing row are preserved (Meilisearch
  *    `update_documents` semantics; Mongo update events carry only changed
  *    fields — `mongo.py:64`). This is the column-wise coalesce merge.
  *  - delete -> remove by pk (`meili.py:137`)
  *  - applying the same batch twice yields the same table (idempotence — the
  *    reference is at-least-once, SURVEY.md §2.3, so replays must be safe).
  *
  * Scale posture: one shuffle on the pk (the join); the current-state side
  * streams through a shuffled hash / sort-merge join — no driver-side
  * collection, no per-row remote calls. With AQE on, skewed hot pks re-plan.
  */
object UpsertSink {

  /** Column name of the optional field-presence mask: an array of payload
    * column names that the event's raw payload actually carried. With it,
    * an explicitly-null field OVERWRITES the stored value (Meilisearch
    * `update_documents` overwrites every listed field, null included) and
    * only genuinely absent fields keep the old value. */
  val PresentCol = "_present"

  /** Apply one micro-batch of per-pk-compacted change rows to the current
    * state table.
    *
    * @param state   current table state (columns = payload columns; may be empty)
    * @param changes batch rows: an `op` column + payload columns, already
    *                last-write-wins-compacted per pk ([[Transforms.lastWriteWins]]).
    *                May carry a [[PresentCol]] field-presence mask; without
    *                it, null fields are treated as absent (explicit-NULL
    *                updates are then unsupported — the coalesce fallback).
    * @param pk      primary-key column name
    * @return        new state
    */
  def applyBatch(state: DataFrame, changes: DataFrame, pk: String): DataFrame = {
    // Schema evolution, both directions (the reference is SCHEMALESS —
    // `data: dict`, whatever the connector decodes flows through, so fields
    // appear and disappear mid-stream):
    //  - a field first seen in this batch extends the table; pre-existing
    //    rows read null for it
    //  - a field the batch doesn't carry is preserved from state for every
    //    touched row (same semantics as a non-present masked field)
    val changeTypes = changes.schema
      .filterNot(f => f.name == "op" || f.name == PresentCol)
      .map(f => f.name -> f.dataType).toMap
    val newCols = changes.columns
      .filterNot(n => n == "op" || n == PresentCol)
      .filterNot(state.columns.contains)
    val payloadCols = state.columns.toSeq ++ newCols
    require(state.columns.contains(pk), s"state table has no pk column '$pk'")
    val hasMask = changes.columns.contains(PresentCol)

    val s = state.alias("s")
    val c = changes.alias("c")
    val joined = s.join(c, col(s"s.$pk") === col(s"c.$pk"), "full_outer")
    def sCol(name: String) =
      if (state.columns.contains(name)) col(s"s.$name")
      else lit(null).cast(changeTypes(name))
    def cCol(name: String) =
      if (changeTypes.contains(name)) col(s"c.$name")
      else lit(null).cast(state.schema(name).dataType)

    // Row survives unless the change for its pk is a delete; column-wise:
    // a `create` replaces the whole document (reference add_documents,
    // `meili.py:129`) — in BOTH branches: without the mask, letting a
    // create coalesce with stored state would leak a deleted-then-recreated
    // row's old fields into the new document (r9 review) — while an
    // `update` overwrites exactly the fields the event carried (mask) /
    // the non-null fields (no mask), keeping the rest.
    val merged = joined
      .filter(col("c.op").isNull || col("c.op") =!= Op.Delete)
      .select(payloadCols.map { name =>
        val applied =
          if (hasMask)
            when(col("c.op") === Op.Create, cCol(name))
              .otherwise(when(array_contains(col(s"c.$PresentCol"), name), cCol(name))
                .otherwise(sCol(name)))
          else
            when(col("c.op") === Op.Create, cCol(name))
              .otherwise(coalesce(cCol(name), sCol(name)))
        when(col("c.op").isNull, sCol(name))                 // unchanged row
          .otherwise(applied)
          .as(name)
      }: _*)
    merged
  }
}
