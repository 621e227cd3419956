package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.table.GraftTable

/** Exactly-once table-to-table CDC mirroring — the CONSUMPTION half of the
  * streaming story (`StreamOps.ingestBatch`/`upsertBatch` are the ingest
  * half): a follower table tracks a source table by replaying the source's
  * row-level changelog in O(delta) per cycle, never rescanning either table.
  *
  * Offset bookkeeping is the transactional-sink trick used by the streaming
  * sink: the last mirrored source snapshot id rides the TARGET's own commit
  * summary, so the offset is durable in the same atomic commit as the data
  * it covers. A crash between read and commit re-reads the same range; a
  * crash after the commit makes the next cycle a no-op — at-least-once
  * driving upgraded to exactly-once state.
  *
  * Each cycle applies the range's NET effect as ONE `commitMorDelta`:
  * equality-delete every affected key + insert each key's final rows, which
  * makes replay CONVERGENT — even a lost offset (marker expired with old
  * snapshots) just replays a wider range into the same final state.
  *
  * 100 TB design: the changelog read is O(rows changed in range) (appends
  * read only their own files; MOR delete reconstruction semi-joins the
  * delete batch), the net-effect reduction shuffles O(delta) rows by key,
  * and the apply commit is O(delta) — source table size never appears.
  * Requires a CDC-friendly source history (append/MOR commits);
  * `readChangelog` raises loudly on copy-on-write rewrites in range.
  */
object TableFollow {

  /** Summary key carrying the last mirrored source snapshot id. */
  private[streaming] val OffsetKey = "follow-src-snapshot"

  /** Last source snapshot id the target has durably mirrored (metadata-only
    * scan of the target's snapshot summaries).
    */
  def lastFollowedOffset(dst: GraftTable): Option[Long] =
    dst.snapshotsList.flatMap(s => s.summary.get(OffsetKey) ++
        s.summary.get(GraftTable.CarriedFencePrefix + OffsetKey))
      .map(_.toLong).maxOption

  /** Mirror everything the source committed since the last cycle. Returns
    * the new offset when a commit landed, None when there was nothing to do
    * (no new source commits, or only content-preserving maintenance in
    * range — the offset then stays put and the next cycle re-checks the
    * same cheap empty range).
    */
  def follow(src: GraftTable, dst: GraftTable, keyCols: Seq[String]): Option[Long] = {
    // Same concurrent-follower guard as followAgg: the apply commit pins to
    // the target head this cycle read from. The delete-bearing branch is
    // state-convergent even if double-applied, but the append-only branch
    // is NOT (two appends of the same range duplicate every row) — so both
    // pin, the loser gets a loud ConcurrentModificationException, and its
    // retry sees the advanced offset and no-ops.
    val dstHead = dst.latest
    val from = lastFollowedOffset(dst).getOrElse(0L)
    val to = src.latest.snapshotId
    if (to <= from) return None
    mirror(src, dst, keyCols, from, to, dstHead)
  }

  /** Incremental view maintenance of a grouped COUNT/SUM aggregate — the
    * materialized-view half of CDC consumption: `dst` holds one row per
    * group (`groupCols..., n_rows BIGINT, sum_val DECIMAL(18,2)`) and each
    * cycle applies the source changelog's NET deltas (insert: +1/+value,
    * delete pre-image: -1/-value) instead of re-aggregating the source.
    * Work per cycle is O(delta) plus a semi-join lookup of the AFFECTED
    * groups in the agg table (which is #groups-sized, never source-sized)
    * — at 100 TB the source scan that a view refresh would cost never
    * happens. Sums are maintained in exact DECIMAL, so the incremental
    * state equals a from-scratch re-aggregation bit-for-bit, groups whose
    * count reaches 0 leave the view, and the same durable-offset commit
    * scheme as [[follow]] makes crash replays exactly-once.
    */
  def followAgg(src: GraftTable, dst: GraftTable, groupCols: Seq[String],
      valueCol: String, countCol: String = "n_rows",
      sumCol: String = "sum_val"): Option[Long] = {
    // Concurrent-refresh guard: the apply commit is pinned to the view head
    // this cycle READ from (`basedOn`) — two refreshers racing the same
    // range cannot both land (deltas are not idempotent; a double-apply
    // would double-count), the loser gets a loud
    // ConcurrentModificationException and retries against the new offset,
    // where the range is empty and the cycle no-ops.
    val dstHead = dst.latest
    // Offset loss is NOT convergent here (unlike [[follow]], whose net-
    // effect replay is idempotent per key): re-applying history as a delta
    // doubles the aggregates. from = 0 is therefore legal only for the
    // bootstrap of an EMPTY view; a non-empty view whose offset summary
    // was expired away (maintenance commits + aggressive snapshot expiry
    // on the view table) must refuse and be rebuilt with [[initAgg]].
    val from = lastFollowedOffset(dst) match {
      case Some(f) => f
      case None =>
        require(dst.readLatest().isEmpty,
          s"view ${dst.tableDir} has rows but no follow offset (snapshot " +
            "expiry dropped it?) — deltas cannot be applied safely; rebuild " +
            "the view with initAgg")
        0L
    }
    val to = src.latest.snapshotId
    if (to <= from) return None
    val chg = src.readChangelog(from, to).persist()
    try {
      if (chg.isEmpty) return None
      val keyC = groupCols.map(col)
      val dec = col(valueCol).cast(org.apache.spark.sql.types.DecimalType(18, 2))
      // The delta table is O(groups touched in range) — tiny relative to the
      // changelog. Checkpoint it eagerly: it feeds the affected-groups
      // semi-join AND the full-outer merge, so an unmaterialized delta would
      // re-aggregate the cached changelog once per reference (each pass
      // schedules one task per changelog partition).
      val delta = chg.groupBy(keyC: _*).agg(
        sum(when(col("_change_type") === "insert", 1L).otherwise(-1L)).as("d_n"),
        sum(when(col("_change_type") === "insert", dec).otherwise(-dec)).as("d_sum"))
        .localCheckpoint(eager = true)
      // joins are NULL-SAFE on the group keys (<=>): a NULL group is a
      // legitimate group and must merge with its existing view row — a
      // plain equi-join would leave both sides unmatched and double-count
      val dAlias = delta.select(keyC.zipWithIndex.map { case (c, i) =>
        c.as(s"_gf_k$i") } :+ col("d_n") :+ col("d_sum"): _*)
      val joinCond = groupCols.zipWithIndex
        .map { case (g, i) => col(g) <=> col(s"_gf_k$i") }.reduce(_ && _)
      val current = dst.readLatest().join(dAlias, joinCond, "left_semi")
      // d_sum is NULL when every changed row's value is NULL (SQL SUM skips
      // them) — coalesce to 0 so it cannot poison the running sum. The
      // view's sum convention is therefore SUM(COALESCE(value, 0)): NULL
      // values count rows but add nothing, and an all-NULL group reads 0.
      val zero = lit(0).cast(org.apache.spark.sql.types.DecimalType(18, 2))
      // every affected group deletes its view row; the groups still holding
      // rows append their new count and sum
      val merged = current.join(dAlias, joinCond, "full_outer")
        .select(groupCols.zipWithIndex.map { case (g, i) =>
          coalesce(col(g), col(s"_gf_k$i")).as(g) } :+
          (coalesce(col(countCol), lit(0L)) + col("d_n")).as(countCol) :+
          (coalesce(col(sumCol), zero) + coalesce(col("d_sum"), zero))
            .cast(org.apache.spark.sql.types.DecimalType(18, 2)).as(sumCol): _*)
      dst.commitUpsert(merged, groupCols, "follow-agg", keep = col(countCol) > 0,
        basedOn = Some(dstHead), extraSummary = Map(OffsetKey -> to.toString))
      Some(to)
    } finally chg.unpersist()
  }

  /** Full build of the COUNT/SUM view from the source's CURRENT state,
    * stamping the offset so later [[followAgg]] cycles are incremental.
    * Used at view creation: the source's PAST history may contain
    * copy-on-write commits the changelog cannot replay, but an MV created
    * now only needs the future as deltas. Requires an empty target.
    */
  def initAgg(src: GraftTable, dst: GraftTable, groupCols: Seq[String],
      valueCol: String, countCol: String = "n_rows",
      sumCol: String = "sum_val"): Long = {
    require(dst.readLatest().isEmpty,
      s"initAgg requires an empty view table: ${dst.tableDir}")
    val to = src.latest.snapshotId
    val keyC = groupCols.map(col)
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    // same SUM(COALESCE(value, 0)) convention as the incremental path
    val agg = src.readLatest().groupBy(keyC: _*).agg(
      count(lit(1)).as(countCol),
      coalesce(sum(col(valueCol).cast(dec)), lit(0).cast(dec)).cast(dec).as(sumCol))
    dst.append(agg.select(keyC :+ col(countCol) :+ col(sumCol): _*),
      extraSummary = Map(OffsetKey -> to.toString))
    to
  }

  /** Apply the net effect of the source changelog over (fromId, toId] to the
    * target as one atomic delete+insert commit carrying the offset marker.
    */
  private def mirror(src: GraftTable, dst: GraftTable, keyCols: Seq[String],
      fromId: Long, toId: Long, dstHead: graft.table.Snapshot): Option[Long] = {
    // The changelog feeds three consumers (empty check, delete-key file,
    // insert files) — cache the O(delta) batch once instead of re-executing
    // the changelog reconstruction per consumer.
    val chg = src.readChangelog(fromId, toId).persist()
    try {
      // Net effect per key, replay semantics: APPEND commits are ADDITIVE —
      // a key appended in two separate commits in range keeps BOTH commits'
      // rows, and a key with only appends in range keeps its pre-range
      // mirror rows too (it never enters the delete-key file). Only a
      // delete-bearing commit clears: insert rows survive iff they sit at or
      // after the key's LAST delete-bearing commit (an upsert emits
      // delete+insert under ONE id, so its own inserts survive as the
      // replacement; a delete-only maximal commit means the key is gone).
      val keyC = keyCols.map(col)
      val lastDel = max(when(col("_change_type") === "delete",
        col("_commit_snapshot_id"))).over(Window.partitionBy(keyC: _*))
      // Checkpoint AFTER the window: the three consumers below (delete-key
      // probe, delete-key file, insert file) would each re-shuffle the
      // cached changelog through the per-key window — one windowed pass,
      // three cheap block reads instead.
      val marked = chg.withColumn("_last_del", lastDel)
        .localCheckpoint(eager = true)
      val survives = col("_change_type") === "insert" &&
        (col("_last_del").isNull || col("_commit_snapshot_id") >= col("_last_del"))
      val finalRows = marked.filter(survives)
        .drop("_change_type", "_commit_snapshot_id", "_last_del")
      // Only keys a delete touched are cleared on the target; append-only
      // keys stay out of the delete file so their existing mirror rows live.
      val hasDeletes = !marked.filter(col("_last_del").isNotNull).isEmpty
      if (hasDeletes) {
        // one change set, read from the checkpoint: the key's last
        // delete-bearing commit's delete rows clear it, survivors append
        dst.commitDelta(marked.select(keyCols.map(k => col(k).as(GraftTable.deleteKeyCol(k))) ++
            dst.schema.fieldNames.map(col) :+
            (col("_change_type") === "delete" && col("_commit_snapshot_id") === col("_last_del"))
              .as(GraftTable.DeleteFlag) :+ survives.as(GraftTable.AppendFlag): _*),
          keyCols, "follow-cdc", basedOn = Some(dstHead),
          extraSummary = Map(OffsetKey -> toId.toString))
      } else if (!finalRows.isEmpty) {
        // append-only range: mirror it as a plain append (no delete file),
        // pinned to the observed head — an unpinned double-apply would
        // duplicate every mirrored row
        dst.append(finalRows, extraSummary = Map(OffsetKey -> toId.toString),
          basedOn = Some(dstHead))
      } else {
        return None // maintenance-only range: no state change
      }
      Some(toId)
    } finally chg.unpersist()
  }
}
