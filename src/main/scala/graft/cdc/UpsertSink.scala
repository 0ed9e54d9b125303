package graft.cdc

import graft.model._
import org.apache.spark.sql.{Column, DataFrame}
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
  *  - delete -> remove by pk (`meili.py:137`); a delete that carries a
  *    position leaves a tombstone that every logical reader drops (see
  *    [[Reserved]])
  *  - applying the same batch twice yields the same table (idempotence — the
  *    reference is at-least-once, SURVEY.md §2.3, so replays must be safe).
  *  - a positioned change that is stale — strictly below the position its
  *    row stores, or at or below the snapshot floor — is ignored
  *    ([[OffsetWatermark.superseded]]): cross-batch ordering holds here, in
  *    the merge, with no keyed operator state in front of it.
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

  /** Reserved sink columns: the (offset, _ridx) POSITION of the change that
    * last wrote the row — the per-pk applied-offset watermark, kept in the
    * row it guards — and the tombstone flag. A delete leaves a tombstone
    * (pk, position, [[DeletedCol]] = true, every payload column null)
    * instead of removing the row, so a deleted pk still fences a stale
    * change — a late event, a replay, a dead-letter repair
    * ([[OffsetWatermark.superseded]]). Live rows carry
    * [[DeletedCol]] NULL, so a file's live-row count is that column's null
    * count in its footer. Logical readers ([[ManifestStore.readStateOf]])
    * drop tombstones and all three columns. */
  val OffsetCol = "_wm_offset"
  val RidxCol = "_wm_ridx"
  val DeletedCol = "_wm_deleted"
  val Reserved: Seq[String] = Seq(OffsetCol, RidxCol, DeletedCol)

  /** The logical view of a physical sink frame: live rows only, without
    * the reserved columns. A frame without them (a store no positioned
    * change ever wrote) is already logical. */
  def live(physical: DataFrame): DataFrame =
    (if (physical.columns.contains(DeletedCol)) physical.filter(col(DeletedCol).isNull)
     else physical).drop(Reserved: _*)

  /** A position as an orderable (offset, ridx) struct — lexicographic,
    * exactly the position order — or NULL when there is no offset. A null
    * row index is 0, the first row of its envelope. */
  private[cdc] def position(offset: Column, ridx: Column): Column =
    when(offset.isNotNull, struct(offset.cast("long").as("o"),
      coalesce(ridx.cast("int"), lit(0)).as("r")))

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
    * @param floor   the snapshot floor of the store `state` was read from
    *                ([[ManifestStore.Manifest.floor]]; 0 = none)
    * @return        new state
    *
    * Positions: when either side carries [[OffsetCol]], every output row
    * carries the greatest of its stored and incoming (offset, _ridx)
    * positions, and a delete leaves a tombstone holding that position. A
    * delete with no position on either side (a positionless direct caller)
    * removes the row. A positioned change that [[OffsetWatermark.superseded]]
    * names stale — at or below `floor`, or strictly below its row's stored
    * position — is treated as absent: the row, tombstone or not, and its
    * position stay as stored, and with no stored row nothing is written.
    * Positionless changes are never stale.
    */
  def applyBatch(state: DataFrame, changes: DataFrame, pk: String,
                 floor: Long = 0L): DataFrame = {
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
    // the reserved columns are not payload: they merge by position below
    val payloadCols = (state.columns.toSeq ++ newCols).filterNot(Reserved.contains)
    require(state.columns.contains(pk), s"state table has no pk column '$pk'")
    val hasMask = changes.columns.contains(PresentCol)
    val positioned =
      state.columns.contains(OffsetCol) || changes.columns.contains(OffsetCol)

    val s = state.alias("s")
    val c = changes.alias("c")
    def sCol(name: String) =
      if (state.columns.contains(name)) col(s"s.$name")
      else lit(null).cast(changeTypes(name))
    def cCol(name: String) =
      if (changeTypes.contains(name)) col(s"c.$name")
      else lit(null).cast(state.schema(name).dataType)
    def orNull(df: DataFrame, alias: String, name: String, t: String) =
      if (df.columns.contains(name)) col(s"$alias.$name").cast(t) else lit(null).cast(t)
    val sOff = orNull(state, "s", OffsetCol, "long")
    val sRidx = orNull(state, "s", RidxCol, "int")
    val cOff = orNull(changes, "c", OffsetCol, "long")
    val cRidx = orNull(changes, "c", RidxCol, "int")
    // The effective op, computed once per row: a superseded change reads as
    // no change at all
    val joined = s.join(c, col(s"s.$pk") === col(s"c.$pk"), "full_outer")
      .withColumn("__op", when(!OffsetWatermark.superseded(cOff, cRidx, sOff, sRidx, floor),
        col("c.op")))
    val op = col("__op")
    val isDelete = op === Op.Delete
    // the row's position: an applied positioned change's (never below the
    // stored one, or it would be superseded), else the stored one
    val takeChange = op.isNotNull && cOff.isNotNull
    val offset = when(takeChange, cOff).otherwise(sOff)
    val ridx = when(takeChange, coalesce(cRidx, lit(0)))
      .when(sOff.isNotNull, coalesce(sRidx, lit(0)))

    // Row survives unless the change for its pk is a delete (or a superseded
    // change with no stored row to keep); column-wise:
    // a `create` replaces the whole document (reference add_documents,
    // `meili.py:129`) — in BOTH branches: without the mask, letting a
    // create coalesce with stored state would leak a deleted-then-recreated
    // row's old fields into the new document (r9 review) — while an
    // `update` overwrites exactly the fields the event carried (mask) /
    // the non-null fields (no mask), keeping the rest. A tombstone's
    // payload is all null, so an update over it reads as over an absent
    // row.
    val kept = joined.filter(
      when(op.isNull, col(s"s.$pk").isNotNull)
        .when(isDelete, if (positioned) offset.isNotNull else lit(false))
        .otherwise(lit(true)))
    val payload = payloadCols.map { name =>
      val applied =
        if (hasMask)
          when(op === Op.Create, cCol(name))
            .otherwise(when(array_contains(col(s"c.$PresentCol"), name), cCol(name))
              .otherwise(sCol(name)))
        else
          when(op === Op.Create, cCol(name))
            .otherwise(coalesce(cCol(name), sCol(name)))
      val tombstone =
        if (name == pk) coalesce(cCol(name), sCol(name))
        else lit(null).cast(
          if (state.columns.contains(name)) state.schema(name).dataType
          else changeTypes(name))
      when(op.isNull, sCol(name))                         // unchanged row
        .when(isDelete, tombstone)
        .otherwise(applied)
        .as(name)
    }
    val reserved =
      if (!positioned) Nil
      else {
        val sDeleted =
          if (state.columns.contains(DeletedCol)) col(s"s.$DeletedCol")
          else lit(null).cast("boolean")
        Seq(offset.as(OffsetCol), ridx.as(RidxCol),
          when(op.isNull, sDeleted)
            .when(isDelete, lit(true))
            .otherwise(lit(null).cast("boolean")).as(DeletedCol))
      }
    kept.select(payload ++ reserved: _*)
  }
}
