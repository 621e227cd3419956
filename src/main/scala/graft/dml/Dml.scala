package graft.dml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.table.{Fact, FileEntry, GraftTable, Snapshot}
import graft.table.GraftTable.{AppendFlag, DeleteFlag, PosCol, WrittenAtCol}

/** Row-level DML over `GraftTable` (SURVEY.md §2.8, D1-D3/J1-J2): one body
  * per statement, two commit forms — Iceberg's `write.{delete,update,merge}.mode`.
  *
  * Each statement builds ONE change set from a read-only scan of the files
  * snapshot metadata cannot rule out, each row tagged with its address
  * (part-file name, row position): per row the address, the table's
  * columns and the `DeleteFlag` / `AppendFlag` booleans. Which rows a
  * statement changes — NULL predicates, casts, the MERGE cardinality guard —
  * is decided there alone. The table's mode picks only the commit:
  *  - merge-on-read: [[GraftTable.commitDelta]] — a delete vector of the
  *    deleted addresses plus the appended rows; no data file is rewritten;
  *  - copy-on-write: the change set is evaluated once, the files its delete
  *    addresses name are rewritten without those rows, the appended rows
  *    land in the same write, and one commit swaps them in against the
  *    planned snapshot, keeping every untouched file by reference. A change
  *    set that deletes and appends nothing commits nothing.
  */
object Dml {

  /** 100 TB guard: a copy-on-write commit holds the touched-file name list
    * on the driver — bounded by file count (fine at the ~800k-file design
    * point), but a predicate touching tens of millions of files signals a
    * full-table rewrite that should be `overwrite()` instead of per-file COW.
    * Returns the warning it logs so the bound is unit-testable.
    */
  private[dml] def plannedFilesWarning(touched: Long, ceiling: Long = 1000000L): Option[String] =
    if (touched > ceiling)
      Some(s"DML planning touched $touched files (ceiling $ceiling): the driver-side " +
        "file list is at risk at this scale — use a coarser predicate per operation " +
        "or a full overwrite() instead of copy-on-write planning")
    else None

  private def warnCeiling(touched: Int): Unit =
    plannedFilesWarning(touched.toLong).foreach(w => System.err.println(s"[graft.dml] $w"))

  /** Minimum target file count for MERGE's source-key candidate planning —
    * below it the extra source job costs more than the pruning saves (it
    * showed up as bench drift on a single-file MERGE target).
    */
  private[dml] val RangePruneMinFiles = 8

  /** The files a DML predicate could possibly touch, pre-shrunk by snapshot
    * metadata (stats, partition values and transforms, null counts — the
    * shared `SnapshotPlanner` rule) BEFORE any data file is opened. At 100 TB
    * this is the difference between a planning scan over every file and
    * one over the handful whose bounds intersect the predicate. Always a
    * superset of the truly-matching files.
    *
    * `Column` no longer exposes its expression (Spark 4 split the Column API
    * from Catalyst), so the predicate is analyzed ONCE as a filter over an
    * empty relation with the snapshot's schema — no data is touched — and
    * the analyzed condition's conjuncts become the planner's facts. A
    * predicate that fails to analyze plans conservatively (every file).
    */
  private[dml] def planningCandidates(t: GraftTable, planned: Snapshot,
      pred: Column): (Seq[FileEntry], Int) = {
    val facts = scala.util.Try {
      val empty = t.spark.createDataFrame(
        t.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schemaOf(planned))
      empty.filter(pred).queryExecution.analyzed.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.flatMap(graft.table.Fact.of)
    }.getOrElse(Nil)
    (t.planner(planned).select(facts), planned.files.size)
  }

  /** The files of `planned` whose bounds can hold one of `source`'s `key`
    * values: MERGE's candidate rule, which never opens another file. A
    * source under `autoBroadcastJoinThreshold` collects its keys and prunes
    * per value (IN facts through [[SnapshotPlanner]]); a larger one prunes
    * by its [min, max]. A CDC batch scattered over a key-ordered table thus
    * plans the few files holding its keys, where its envelope would span
    * nearly all of them. Only a key type that widens to the column's
    * prunes: the join then compares in the column's type, so the keys are
    * cast to it first. Any other pair (an INT key against a STRING column,
    * where Spark compares in the number's type and '01' joins 1) keeps every
    * file, as does a table below [[RangePruneMinFiles]] or a planning
    * failure.
    *
    * Also returns whether the collected keys are known distinct — only for
    * types whose JVM equality is the join's (not floats: -0.0 joins 0.0;
    * not binary: arrays compare by reference) — so MERGE can skip its
    * per-key count.
    */
  private[dml] def sourceKeyCandidates(t: GraftTable, planned: Snapshot,
      source: DataFrame, key: String): (Seq[FileEntry], Boolean) =
    if (planned.files.size < RangePruneMinFiles) (planned.files, false)
    else scala.util.Try {
      val dt = t.schema(key).dataType
      val keys = source.select(col(key).cast(dt).as(key))
      require(widens(source.select(col(key)).schema.head.dataType, dt))
      val gate = source.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
      val (fact, distinct) =
        if (gate > 0 && keys.queryExecution.optimizedPlan.stats.sizeInBytes <= gate) {
          val vs = keys.collect().map(_.get(0)).filter(_ != null)
          val exact = dt match {
            case ByteType | ShortType | IntegerType | LongType | StringType | DateType |
                TimestampType | TimestampNTZType => true
            case _ => false
          }
          val uniq = vs.distinct
          (Fact.Points(key, uniq.toSeq), exact && uniq.length == vs.length)
        } else {
          val r = keys.agg(min(col(key)), max(col(key))).head()
          (Fact.Range(key, Option(r.get(0)), false, Option(r.get(1)), false), false)
        }
      (t.planner(planned).select(Seq(fact)), distinct)
    }.getOrElse((planned.files, false))

  /** Does a `from` key compare with a `to` column in the column's type? */
  private def widens(from: DataType, to: DataType): Boolean =
    from == to ||
      (to != StringType && org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(from, to))

  private def schemaOf(s: Snapshot): StructType =
    DataType.fromJson(s.schemaJson).asInstanceOf[StructType]

  /** `files` of `planned`, each row tagged with its address columns: the
    * scan-time file URI and [[GraftTable.PosCol]]. */
  private def tagged(t: GraftTable, planned: Snapshot, files: Seq[FileEntry]): DataFrame =
    t.readSnapshotTagged(planned.copy(files = files.toList), "_gf_uri", PosCol)

  /** A tagged row's address: the change set's delete payload. */
  private val rowAddress = Seq(
    element_at(split(col("_gf_uri"), "/"), -1).as(WrittenAtCol),
    col(PosCol))

  /** The tagged rows `pred` matches, read from its candidate files only;
    * None when metadata rules every file out. */
  private def matching(t: GraftTable, planned: Snapshot, pred: Column): Option[DataFrame] = {
    val (candidates, _) = planningCandidates(t, planned, pred)
    if (candidates.isEmpty) None else Some(tagged(t, planned, candidates).filter(pred))
  }

  /** UPDATE's row rewrite: project `rows` onto `planned`'s columns with each
    * assignment evaluated against the row's ORIGINAL values (SQL semantics —
    * no assignment sees another's result) and cast to its column's declared
    * type, so the written rows match the table schema whatever type the
    * expression has (`SET amount = 1.25` into a DECIMAL(10,2) column).
    */
  private def assign(rows: DataFrame, planned: Snapshot,
      assignments: Map[String, Column], carry: Seq[Column]): DataFrame = {
    val schema = schemaOf(planned)
    // SET keys resolve like SQL identifiers (case-insensitively)
    val byColumn = assignments.map { case (k, e) =>
      schema.fieldNames.find(_.equalsIgnoreCase(k)).getOrElse(
        throw new IllegalArgumentException(s"UPDATE sets unknown column $k")) -> e
    }
    rows.select(carry ++ schema.fields.map(f =>
      byColumn.get(f.name).fold(col(f.name))(_.cast(f.dataType)).as(f.name)): _*)
  }

  // ---- the change sets: one builder per statement ----

  /** DELETE's change set: the address of every row `pred` holds for. A row
    * whose predicate is NULL is not matched, so it stays. */
  private def deleteChange(t: GraftTable, planned: Snapshot, pred: Column): Option[DataFrame] =
    matching(t, planned, pred).map(_.select(rowAddress :+ lit(true).as(DeleteFlag): _*))

  /** UPDATE's change set: each matched row deletes its address and appends
    * its updated version. Positions name exactly the matched rows, so no
    * identifier columns are needed. */
  private def updateChange(t: GraftTable, planned: Snapshot, pred: Column,
      assignments: Map[String, Column]): Option[DataFrame] =
    matching(t, planned, pred).map(assign(_, planned, assignments, rowAddress :+
      lit(true).as(DeleteFlag) :+ lit(true).as(AppendFlag)))

  /** MERGE's change set, from ONE left join of the source against only the
    * target files that can hold a source key ([[sourceKeyCandidates]]).
    * A matched target row's address deletes and, unless `deleteWhen`
    * selects it, its updated version appends; an unmatched source row
    * appends as an insert when `insertNotMatched` and not delete-marked.
    * The cardinality guard (Spark/Iceberg MERGE raise on multiple source
    * rows per matched target row): a duplicated source key that matches
    * raises — also when all duplicates are delete-marked — while the change
    * set is evaluated, before any file is written. Not-matched duplicates
    * insert once each. The join carries no broadcast hint: Catalyst's size
    * estimate and AQE pick the strategy.
    */
  private[dml] def mergeChange(t: GraftTable, planned: Snapshot, source: DataFrame,
      key: String, updateSet: Map[String, Column], insertNotMatched: Boolean,
      deleteWhen: Option[Column]): DataFrame = {
    val (candidates, distinctKeys) = sourceKeyCandidates(t, planned, source, key)
    // per-key source count for the cardinality guard; keys already known
    // distinct need no count (and no shuffle of the source)
    val count1 = if (distinctKeys) lit(1L)
      else count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col(key)))
    val src = source.withColumn("_src_cnt", count1).alias("src")
    val tgt = tagged(t, planned, candidates).alias("tgt")
    val joined = src.join(tgt, col(s"src.$key") === col(s"tgt.$key"), "left")
    val matched = col("_gf_uri").isNotNull
    val cardErr = raise_error(concat(
      lit("MERGE cardinality violation: source has multiple rows for key "),
      col(s"src.$key").cast("string")))
    val deleted = deleteWhen.fold(lit(false))(d => coalesce(d, lit(false)))
    // explicit cast to the table field type: a source-typed expression (a
    // VALUES INT source into a BIGINT column) appends in the column's type
    val values = t.schema.fields.map { f =>
      val updated = updateSet.get(f.name).fold(col(s"tgt.${f.name}"))(_.cast(f.dataType))
      (if (!insertNotMatched) updated
        else when(matched, updated).otherwise(col(s"src.${f.name}").cast(f.dataType))).as(f.name)
    }
    joined.select(rowAddress ++ values :+
        when(matched && col("src._src_cnt") > 1, cardErr.cast("boolean"))
          .otherwise(matched).as(DeleteFlag) :+
        ((matched || lit(insertNotMatched)) && !deleted).as(AppendFlag): _*)
      .filter(col(DeleteFlag) || col(AppendFlag))
  }

  // ---- the two commit forms ----

  /** Commit the change set `change` builds against the current snapshot,
    * merge-on-read (`mor`: a `<operation>-dv` delta; `skipEmpty` as in
    * [[GraftTable.commitDelta]]) or copy-on-write ([[rewrite]]). */
  private def commit(t: GraftTable, operation: String, mor: Boolean, skipEmpty: Boolean = true)(
      change: Snapshot => Option[DataFrame]): Snapshot = {
    val planned = t.latest
    change(planned).fold(planned) { cs =>
      if (mor) t.commitDelta(cs, Nil, s"$operation-dv", basedOn = Some(planned),
        skipEmpty = skipEmpty)
      else rewrite(t, planned, cs, operation)
    }
  }

  /** The copy-on-write commit of a change set: evaluated once; the files
    * its delete addresses name are rewritten without those rows, the
    * appended rows and the already-written `written` files join them, and
    * `commitReplace` swaps them in against `planned` (any commit landing
    * in between aborts). Nothing to delete, append or add commits nothing.
    */
  private def rewrite(t: GraftTable, planned: Snapshot, change: DataFrame,
      operation: String, written: Seq[FileEntry] = Nil): Snapshot =
    GraftTable.evaluatedOnce(change) { cs =>
      val deletes = coalesce(col(DeleteFlag), lit(false))
      val appends =
        if (cs.columns.contains(AppendFlag)) coalesce(col(AppendFlag), lit(false)) else lit(false)
      // one job computes the change set: the touched files and the appends
      val r = cs.agg(collect_set(when(deletes, col(WrittenAtCol))),
        count(when(appends, lit(1)))).head()
      val names = r.getSeq[String](0).toSet
      warnCeiling(names.size)
      val (touched, untouched) = planned.files.partition(f => names(f.partName))
      if (touched.isEmpty && r.getLong(1) == 0 && written.isEmpty) planned
      else {
        val fields = schemaOf(planned).fieldNames.toSeq.map(col)
        val address = Seq(WrittenAtCol, PosCol)
        val kept = tagged(t, planned, touched).select(rowAddress ++ fields: _*)
          .join(cs.filter(deletes).select(address.map(col): _*), address, "left_anti")
        val rows = Seq(touched.nonEmpty -> kept, (r.getLong(1) > 0) -> cs.filter(appends))
          .collect { case (true, df) => df.select(fields: _*) }
        val out = if (rows.isEmpty) Nil
          else t.writeDataFiles(rows.reduce(_ union _), planned.snapshotId + 1)
        t.commitReplace(out ++ written, untouched, operation, planned)
      }
    }

  // ---- the statements ----

  private def morMode(t: GraftTable, prop: String): Boolean =
    t.properties.get(prop).map(_.toLowerCase).contains("merge-on-read")

  /** D2 — `DELETE FROM t WHERE pred` (ref delete_sales_events.sql:3-4),
    * copy-on-write. */
  def delete(t: GraftTable, pred: Column): Snapshot =
    commit(t, "delete", mor = false)(deleteChange(t, _, pred))

  /** Merge-on-read `DELETE FROM t WHERE pred` (the Iceberg v3
    * deletion-vector shape): a delete vector naming exactly the matched
    * rows — zero data files rewritten, no identifier columns trusted. */
  def deleteMor(t: GraftTable, pred: Column): Snapshot =
    commit(t, "delete", mor = true)(deleteChange(t, _, pred))

  /** DELETE committed as the table's `write.delete.mode` says — the entry
    * point every SQL route (pre-router and Spark catalog alike) goes
    * through. */
  def deleteAuto(t: GraftTable, pred: Column): Snapshot =
    commit(t, "delete", morMode(t, GraftTable.DeleteModeProp))(deleteChange(t, _, pred))

  /** D1 — `UPDATE t SET ... WHERE pred` (ref update_sales_events.sql:3-5),
    * copy-on-write. */
  def update(t: GraftTable, pred: Column, assignments: Map[String, Column]): Snapshot =
    commit(t, "update", mor = false)(updateChange(t, _, pred, assignments))

  /** Merge-on-read UPDATE: ONE delete vector + append commit. */
  def updateMor(t: GraftTable, pred: Column, assignments: Map[String, Column]): Snapshot =
    commit(t, "update", mor = true)(updateChange(t, _, pred, assignments))

  /** UPDATE committed as `write.update.mode` says — see [[deleteAuto]]. */
  def updateAuto(t: GraftTable, pred: Column, assignments: Map[String, Column]): Snapshot =
    commit(t, "update", morMode(t, GraftTable.UpdateModeProp))(
      updateChange(t, _, pred, assignments))

  /** D3/J1/J2 — `MERGE INTO t USING source ON t.key = source.key`
    * (ref merge_sales_events.sql:4-21, mixed-op spec
    * ICEBERG-Interoperability-Test-Spec.md:72 "20% updates, 5% deletes,
    * 75% inserts"), copy-on-write.
    *
    * `updateSet` maps target columns to expressions over the joined row
    * (reference source columns as `src.<col>`); rows with no match insert the
    * full source row when `insertNotMatched` (WHEN NOT MATCHED THEN INSERT).
    * `deleteWhen` is WHEN MATCHED AND <cond> THEN DELETE — it must reference
    * SOURCE columns (as `src.<col>`), since it also excludes delete-marked
    * source rows from the insert branch.
    */
  def merge(t: GraftTable, source: DataFrame, key: String,
      updateSet: Map[String, Column], insertNotMatched: Boolean,
      deleteWhen: Option[Column] = None): Snapshot =
    mergeWith(t, mor = false, source, key, updateSet, insertNotMatched, deleteWhen)

  /** Merge-on-read MERGE: [[merge]]'s change set committed as ONE delete
    * vector + append. */
  def mergeMor(t: GraftTable, source: DataFrame, key: String,
      updateSet: Map[String, Column], insertNotMatched: Boolean,
      deleteWhen: Option[Column] = None): Snapshot =
    mergeWith(t, mor = true, source, key, updateSet, insertNotMatched, deleteWhen)

  /** MERGE committed as `write.merge.mode` says — see [[deleteAuto]]. */
  def mergeAuto(t: GraftTable, source: DataFrame, key: String,
      updateSet: Map[String, Column], insertNotMatched: Boolean,
      deleteWhen: Option[Column] = None): Snapshot =
    mergeWith(t, morMode(t, GraftTable.MergeModeProp), source, key, updateSet,
      insertNotMatched, deleteWhen)

  private def mergeWith(t: GraftTable, mor: Boolean, source: DataFrame, key: String,
      updateSet: Map[String, Column], insertNotMatched: Boolean,
      deleteWhen: Option[Column]): Snapshot =
    // a merge-on-read MERGE commits even when it changes nothing
    commit(t, "merge", mor, skipEmpty = false)(planned => Some(
      mergeChange(t, planned, source, key, updateSet, insertNotMatched, deleteWhen)))

  /** The catalog's filter overwrite (`writeTo(...).overwrite(cond)`): the
    * copy-on-write DELETE of `cond` plus the already-written `written`
    * files, in one `overwrite` commit. */
  private[graft] def overwriteWhere(t: GraftTable, cond: Column,
      written: Seq[FileEntry]): Snapshot = {
    val planned = t.latest
    deleteChange(t, planned, cond).fold(
      if (written.isEmpty) planned else t.commitReplace(written, planned.files, "overwrite", planned)
    )(rewrite(t, planned, _, "overwrite", written))
  }

  /** Merge-on-read DELETE by explicit keys (the Iceberg v2 equality-delete
    * write, the Flink-CDC delete shape): `keys`' columns name table columns;
    * each tuple deletes every live row equal on all of them (null-safe).
    * Writes ONE small delete file + a metadata commit — no data file is
    * opened, read, or rewritten, so cost is O(batch) regardless of how many
    * of the table's files hold matching rows. Reads reconcile with a per-row
    * check on only the data files whose key bounds the delete's overlap
    * (`SnapshotPlanner.applies`) until `Maintenance.materializeDeletes`
    * folds the deletes in. Composes with concurrent appends (the delete is
    * the later commit and applies to them).
    */
  def deleteMorKeys(t: GraftTable, keys: DataFrame): Snapshot =
    t.commitMorDelta(keys, "delete-mor")

  /** Merge-on-read UPSERT (the Flink-CDC / Iceberg upsert-mode write): ONE
    * commit that equality-deletes `source`'s key tuples and appends
    * `source`'s rows. Existing rows with a source key disappear (their files
    * predate the commit), the new versions land as ordinary data files —
    * MERGE semantics at O(batch) write cost, deferring reconciliation to
    * reads. A duplicated source key raises (the MERGE cardinality guard:
    * two versions of the same key in one batch have no defined winner).
    */
  def upsertMor(t: GraftTable, source: DataFrame, keyCols: Seq[String]): Snapshot = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keyCols.map(col): _*)
    val guarded = source.withColumn("_src_cnt", count(lit(1)).over(w))
      .select(source.columns.map { c =>
        // the guard rides the first key column — always in the output, so
        // Catalyst cannot prune it; the window reuses the write's clustering
        if (c == keyCols.head)
          when(col("_src_cnt") <= 1, col(c)).otherwise(raise_error(concat(
            lit("UPSERT cardinality violation: source has multiple rows for key "),
            col(c).cast("string")))).as(c)
        else col(c)
      }.toSeq: _*)
    t.commitUpsert(guarded, keyCols, "upsert-mor")
  }
}
