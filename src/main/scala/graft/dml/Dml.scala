package graft.dml

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.table.{Fact, FileEntry, GraftTable, Snapshot, SnapshotLog}

/** Row-level DML over `GraftTable`, copy-on-write at file granularity
  * (SURVEY.md §2.8, D1-D3/J1-J2).
  *
  * Algorithm (the Iceberg COW shape): plan which data files actually contain
  * matching rows (one filtered scan collecting `input_file_name()` — the
  * collect is a *file-name list*, bounded by file count, never data), rewrite
  * only those files, and commit a snapshot that keeps every untouched file by
  * reference. At 100 TB a selective UPDATE rewrites a handful of files; the
  * filtered planning scan itself benefits from partition pruning and parquet
  * min/max skipping because `pred` is pushed into the scan.
  */
object Dml {

  /** Map fully-qualified `input_file_name()` URIs back to table-relative
    * paths, once, into a Set — so matching the snapshot's file entries is
    * O(1) per entry. (The previous `endsWith` scan per entry was
    * O(files × touched) string suffix comparisons on the driver: ~10^11 at
    * the 100 TB ≈ 800k-file design point.)
    */
  private def toRelative(t: GraftTable, fullPaths: Iterable[String]): Set[String] = {
    val conf = t.spark.sessionState.newHadoopConf()
    val fs = SnapshotLog.fs(conf, t.tableDir)
    val root = fs.makeQualified(SnapshotLog.dataPath(t.tableDir)).toUri.getPath + "/"
    fullPaths.iterator.map { p =>
      val abs = new HPath(p).toUri.getPath
      require(abs.startsWith(root), s"scanned file $abs outside table data root $root")
      abs.stripPrefix(root)
    }.toSet
  }

  /** 100 TB guard: COW planning holds the touched-file name list on the
    * driver — bounded by file count (fine at the ~800k-file design point),
    * but a predicate touching tens of millions of files signals a full-table
    * rewrite that should be `overwrite()` instead of per-file COW. Returns
    * the warning it logs so the bound is unit-testable.
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
      val schema = org.apache.spark.sql.types.DataType.fromJson(planned.schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      val empty = t.spark.createDataFrame(
        t.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      empty.filter(pred).queryExecution.analyzed.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.flatMap(graft.table.Fact.of)
    }.getOrElse(Nil)
    (t.planner(planned).select(facts), planned.files.size)
  }

  /** Split a snapshot's files into (files containing rows matching pred,
    * files provably untouched), remembering the snapshot the plan is based
    * on — commitRewrite validates nothing advanced past it. The planning
    * scan itself runs only over metadata-pruned candidate files; files the
    * snapshot's stats exclude are untouched without being opened.
    */
  private[graft] def planFiles(t: GraftTable, pred: Column): (Seq[FileEntry], Seq[FileEntry], Snapshot) = {
    val planned = t.latest
    val (candidates, _) = planningCandidates(t, planned, pred)
    // tagged at the scan: plain input_file_name() over the read is ambiguous
    // once merge-on-read deletes add their own file sources to the plan
    val withFile = t.readSnapshotTagged(
      planned.copy(files = candidates.toList), "_file")
    val touched = toRelative(t,
      withFile.filter(pred).select("_file").distinct().collect().map(_.getString(0)))
    warnCeiling(touched.size)
    val (m, u) = planned.files.partition(e => touched.contains(e.path))
    (m, u, planned)
  }

  /** Plan the source-keys side of MERGE's matched-file semi-join. Broadcast
    * is a *hint gated on Catalyst's size estimate* (default gate:
    * `spark.sql.autoBroadcastJoinThreshold`), never unconditional: the spec's
    * merge mix (ICEBERG-Interoperability-Test-Spec.md:72, 75% inserts) at
    * 100 TB implies sources with millions–billions of distinct keys, and a
    * forced broadcast of those would override AQE and OOM the driver. Above
    * the gate the join stays a shuffled left-semi equi-join — AQE may still
    * convert it to broadcast at runtime if the *actual* key set turns out
    * small, which is exactly the decision order we want (estimate → hint;
    * runtime size → AQE).
    */
  private[graft] def planKeys(source: DataFrame, key: String,
      thresholdBytes: Option[Long] = None): DataFrame = {
    val keys = source.select(col(key)).distinct()
    val gate = thresholdBytes.getOrElse(
      source.sparkSession.sessionState.conf.autoBroadcastJoinThreshold)
    if (gate > 0 && keys.queryExecution.optimizedPlan.stats.sizeInBytes <= gate)
      broadcast(keys)
    else keys
  }

  /** The files of `planned` whose bounds can hold one of `source`'s `key`
    * values: the candidate rule of both MERGEs, which never open another
    * file. A source under the broadcast gate [[planKeys]] uses collects its
    * keys and prunes per value (IN facts through [[SnapshotPlanner]]); a
    * larger one prunes by its [min, max]. A CDC batch scattered over a
    * key-ordered table thus plans the few files holding its keys, where
    * its envelope would span nearly all of them. Only a key type that
    * widens to the column's prunes: the join then compares in the column's
    * type, so the keys are cast to it first. Any other pair (an INT key
    * against a STRING column, where Spark compares in the number's type and
    * '01' joins 1) keeps every file, as does a table below
    * [[RangePruneMinFiles]] or a planning failure.
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

  /** UPDATE's row rewrite, shared by every update path: project `rows` onto
    * `planned`'s columns with each assignment evaluated against the row's
    * ORIGINAL values (SQL semantics — no assignment sees another's result)
    * and cast to its column's declared type, so the written rows match the
    * table schema whatever type the expression has (`SET amount = 1.25`
    * into a DECIMAL(10,2) column). With `onlyWhere`, rows failing it keep
    * their values — copy-on-write carries the unmatched rows of every file
    * it rewrites.
    */
  private def assign(rows: DataFrame, planned: Snapshot,
      assignments: Map[String, Column], onlyWhere: Option[Column] = None,
      carry: Seq[Column] = Nil): DataFrame = {
    val schema = org.apache.spark.sql.types.DataType.fromJson(planned.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    // SET keys resolve like SQL identifiers (case-insensitively)
    val byColumn = assignments.map { case (k, e) =>
      schema.fieldNames.find(_.equalsIgnoreCase(k)).getOrElse(
        throw new IllegalArgumentException(s"UPDATE sets unknown column $k")) -> e
    }
    rows.select(carry ++ schema.fields.map { f =>
      byColumn.get(f.name).fold(col(f.name)) { e =>
        val v = e.cast(f.dataType)
        onlyWhere.fold(v)(p => when(p, v).otherwise(col(f.name)))
      }.as(f.name)
    }: _*)
  }

  /** D1 — `UPDATE t SET ... WHERE pred` (ref update_sales_events.sql:3-5). */
  def update(t: GraftTable, pred: Column, assignments: Map[String, Column]): Snapshot = {
    val (matched, untouched, planned) = planFiles(t, pred)
    if (matched.isEmpty) return t.latest
    val rewritten = assign(t.readFiles(matched, planned), planned, assignments, Some(pred))
    t.commitRewrite(rewritten, untouched, "update", basedOn = Some(planned))
  }

  /** D2 — `DELETE FROM t WHERE pred` (ref delete_sales_events.sql:3-4). */
  def delete(t: GraftTable, pred: Column): Snapshot = {
    val (matched, untouched, planned) = planFiles(t, pred)
    if (matched.isEmpty) return t.latest
    val rewritten = t.readFiles(matched, planned).filter(!pred)
    t.commitRewrite(rewritten, untouched, "delete", basedOn = Some(planned))
  }

  /** `write.delete.representation` routing for merge-on-read DML:
    * `equality` (default) keys on identifier columns, `positional` writes
    * delete vectors. Any other value is refused loudly — a typo silently
    * falling back to equality would change DML semantics on a non-unique
    * key.
    */
  def positionalRepresentation(t: GraftTable): Boolean =
    t.properties.get(GraftTable.DeleteRepresentationProp)
      .map(_.toLowerCase) match {
      case Some("positional") => true
      case Some("equality") | None => false
      case Some(other) => throw new UnsupportedOperationException(
        s"${GraftTable.DeleteRepresentationProp}='$other' (equality or positional)")
    }

  private def morMode(t: GraftTable, prop: String): Boolean =
    t.properties.get(prop).map(_.toLowerCase).contains("merge-on-read")

  private def identifierCols(t: GraftTable, modeProp: String): Seq[String] =
    t.properties.get(GraftTable.IdentifierColumnsProp)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(
        s"$modeProp=merge-on-read needs ${GraftTable.IdentifierColumnsProp} on " +
          s"${t.tableDir} (or ${GraftTable.DeleteRepresentationProp}=positional)"))

  /** DELETE routed by the table's `write.delete.mode` /
    * `write.delete.representation` properties — the single entry point every
    * SQL route (pre-router and Spark catalog alike) goes through, so a
    * table declared merge-on-read gets its O(matched) read-only plan from
    * any door, never a silent COW rewrite.
    */
  def deleteAuto(t: GraftTable, pred: Column): Snapshot =
    if (!morMode(t, GraftTable.DeleteModeProp)) delete(t, pred)
    else if (positionalRepresentation(t)) deleteMorPositional(t, pred)
    else deleteMor(t, pred, identifierCols(t, GraftTable.DeleteModeProp))

  /** UPDATE routed by `write.update.mode` — see [[deleteAuto]]. */
  def updateAuto(t: GraftTable, pred: Column,
      assignments: Map[String, Column]): Snapshot =
    if (!morMode(t, GraftTable.UpdateModeProp)) update(t, pred, assignments)
    else if (positionalRepresentation(t)) updateMorPositional(t, pred, assignments)
    else updateMor(t, pred, assignments, identifierCols(t, GraftTable.UpdateModeProp))

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

  /** Merge-on-read `DELETE FROM t WHERE pred`: enumerate the distinct
    * `keyCols` tuples of matching rows (one pushed-down scan of the
    * metadata-pruned candidate files — read-only, unlike COW's rewrite),
    * then commit them as an equality-delete file.
    * `keyCols` must functionally identify the rows to delete: every live row
    * sharing a matching row's key tuple is deleted with it (choose a unique
    * key, or exactly the predicate columns). Serializable like COW delete:
    * aborts if a commit lands between planning and publish.
    */
  def deleteMor(t: GraftTable, pred: Column, keyCols: Seq[String]): Snapshot = {
    val planned = t.latest
    val (candidates, _) = planningCandidates(t, planned, pred)
    val keys = t.readSnapshot(planned.copy(files = candidates.toList)).filter(pred)
      .select(keyCols.map(col): _*).distinct()
    t.commitMorDelta(keys, "delete-mor", basedOn = Some(planned))
  }

  /** Positional merge-on-read `DELETE FROM t WHERE pred` (the Iceberg v3
    * deletion-vector shape, and what Iceberg-Spark itself writes for MOR
    * DML): ONE metadata-pruned, read-only scan of candidate files addresses
    * the matched rows as (part-file name, row position) tuples, committed as
    * a delete VECTOR — zero data files rewritten, no identifier columns
    * trusted, and a non-unique key can never over-delete: the vector names
    * exactly the rows the predicate matched. Reads reconcile with a per-row
    * lookup of the row address on only the files the vector names (cheaper
    * than equality: no key comparison, no key resolution).
    */
  def deleteMorPositional(t: GraftTable, pred: Column): Snapshot = {
    val planned = t.latest
    val (candidates, _) = planningCandidates(t, planned, pred)
    if (candidates.isEmpty) return planned
    val dv = t.readSnapshotTagged(planned.copy(files = candidates.toList),
        "_gf_uri", GraftTable.PosCol)
      .filter(pred)
      .select(rowAddress: _*)
    t.commitDvDelta(dv, "delete-dv", basedOn = Some(planned), skipEmpty = true)
  }

  /** A tagged read row's address: the vector payload. */
  private val rowAddress = Seq(
    element_at(split(col("_gf_uri"), "/"), -1).as(GraftTable.WrittenAtCol),
    col(GraftTable.PosCol))

  /** Positional merge-on-read `UPDATE t SET ... WHERE pred`: ONE delete
    * vector + append commit — the matched rows' addresses delete, their
    * updated versions append, ZERO data files rewrite. Unlike [[updateMor]]
    * this needs NO identifier-column declaration and cannot over-delete on a
    * non-unique key: positions name exactly the matched rows.
    */
  def updateMorPositional(t: GraftTable, pred: Column,
      assignments: Map[String, Column]): Snapshot = {
    val planned = t.latest
    val (candidates, _) = planningCandidates(t, planned, pred)
    if (candidates.isEmpty) return planned
    val tagged = t.readSnapshotTagged(planned.copy(files = candidates.toList),
      "_gf_uri", GraftTable.PosCol).filter(pred)
    val change = assign(tagged, planned, assignments, carry = rowAddress :+
      lit(true).as(GraftTable.DeleteFlag) :+ lit(true).as(GraftTable.AppendFlag))
    t.commitDelta(change, Nil, "update-dv", basedOn = Some(planned), skipEmpty = true)
  }

  /** Merge-on-read UPSERT (the Flink-CDC / Iceberg upsert-mode write): ONE
    * commit that equality-deletes `source`'s key tuples and appends
    * `source`'s rows. Existing rows with a source key disappear (their files
    * predate the commit), the new versions land as ordinary data files —
    * MERGE semantics at O(batch) write cost, deferring reconciliation to
    * reads. A duplicated source key raises (the MERGE cardinality guard:
    * two versions of the same key in one batch have no defined winner).
    * With `skipEmpty`, an empty source commits nothing.
    */
  def upsertMor(t: GraftTable, source: DataFrame, keyCols: Seq[String],
      operation: String = "upsert-mor",
      basedOn: Option[Snapshot] = None, skipEmpty: Boolean = false): Snapshot = {
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
    t.commitUpsert(guarded, keyCols, operation, basedOn = basedOn, skipEmpty = skipEmpty)
  }

  /** Merge-on-read `UPDATE t SET ... WHERE pred` (Iceberg's
    * `write.update.mode=merge-on-read`): ONE equality-delete + append commit
    * replacing the matched rows with their updated versions — the matched
    * scan is metadata-pruned and read-only, and ZERO data files rewrite (at
    * 100 TB a predicate UPDATE that rewrites files when a delete+append
    * would do is the expensive plan). `keyCols` are the table's declared
    * identifier columns and are TRUSTED unique (the identifier-field
    * contract, same trust as CDC upsert): a non-matched live row sharing a
    * matched row's key tuple would be deleted without replacement.
    * Duplicate tuples inside the matched set itself raise via the upsert
    * cardinality guard.
    */
  def updateMor(t: GraftTable, pred: Column, assignments: Map[String, Column],
      keyCols: Seq[String]): Snapshot = {
    val planned = t.latest
    val (candidates, _) = planningCandidates(t, planned, pred)
    if (candidates.isEmpty) return planned
    val updated = assign(t.readSnapshot(planned.copy(files = candidates.toList)).filter(pred),
      planned, assignments)
    upsertMor(t, updated, keyCols, "update-mor", basedOn = Some(planned), skipEmpty = true)
  }

  /** Merge-on-read MERGE (Iceberg's `write.merge.mode=merge-on-read`): the
    * same matched/not-matched semantics as [[merge]] committed as ONE
    * equality-delete + append — matched keys delete, updated versions and
    * not-matched inserts append, ZERO data files rewrite. Safe without an
    * identifier-column declaration: the delete key IS the merge key, and
    * every live row holding a matched key is by definition matched (joined),
    * so delete-by-key is exactly "delete the matched rows". See
    * [[mergeDelta]].
    */
  def mergeMor(t: GraftTable, source: DataFrame, key: String,
      updateSet: Map[String, Column], insertNotMatched: Boolean,
      deleteWhen: Option[Column] = None): Snapshot =
    mergeDelta(t, source, key, updateSet, insertNotMatched, deleteWhen, positional = false)

  /** Positional merge-on-read MERGE: [[mergeMor]]'s semantics committed as
    * ONE delete VECTOR + append — every matched target row's (file,
    * position) address deletes. Unlike the equality path this also composes
    * with live rows that merely SHARE a matched key value in pathological
    * data: the vector names the joined rows themselves.
    */
  def mergeMorPositional(t: GraftTable, source: DataFrame, key: String,
      updateSet: Map[String, Column], insertNotMatched: Boolean,
      deleteWhen: Option[Column] = None): Snapshot =
    mergeDelta(t, source, key, updateSet, insertNotMatched, deleteWhen, positional = true)

  /** Both merge-on-read MERGEs: ONE change set from ONE join of the source
    * against only the target files that can hold a source key
    * ([[sourceKeyCandidates]]), read-only. Each source row left-joins its
    * matched target rows: a matched row deletes (its key, or its row
    * address when `positional` — the only difference between the two) and,
    * unless `deleteWhen` selects it, appends its updated version; an
    * unmatched row appends as an insert when `insertNotMatched` and not
    * delete-marked. The COW cardinality guard carries over: a duplicated
    * source key that matches raises — also when all duplicates are
    * delete-marked — while the commit evaluates the change set, before any
    * file is written. Not-matched duplicates insert once each.
    */
  private def mergeDelta(t: GraftTable, source: DataFrame, key: String,
      updateSet: Map[String, Column], insertNotMatched: Boolean,
      deleteWhen: Option[Column], positional: Boolean): Snapshot = {
    val planned = t.latest
    val (candidates, distinctKeys) = sourceKeyCandidates(t, planned, source, key)
    val scanned = planned.copy(files = candidates.toList)
    // per-key source count for the cardinality guard; keys already known
    // distinct need no count (and no shuffle of the source)
    val count1 = if (distinctKeys) lit(1L)
      else count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col(key)))
    val src = source.withColumn("_src_cnt", count1).alias("src")
    val tgt = (if (positional) t.readSnapshotTagged(scanned, "_gf_uri", GraftTable.PosCol)
      else t.readSnapshotTagged(scanned, "_gf_uri")).alias("tgt")
    val joined = src.join(tgt, col(s"src.$key") === col(s"tgt.$key"), "left")
    val matched = col("_gf_uri").isNotNull
    val cardErr = raise_error(concat(
      lit("MERGE cardinality violation: source has multiple rows for key "),
      col(s"src.$key").cast("string")))
    val deleted = deleteWhen.fold(lit(false))(d => coalesce(d, lit(false)))
    // explicit cast to the table field type: the COW path's
    // when(hasMatch, e).otherwise(tgt.c) coerces source-typed expressions
    // implicitly (e.g. a VALUES INT source into a BIGINT column)
    val values = t.schema.fields.map { f =>
      val updated = updateSet.get(f.name).fold(col(s"tgt.${f.name}"))(_.cast(f.dataType))
      (if (!insertNotMatched) updated
        else when(matched, updated).otherwise(col(s"src.${f.name}").cast(f.dataType))).as(f.name)
    }
    val payload =
      if (positional) rowAddress else Seq(col(s"tgt.$key").as(GraftTable.deleteKeyCol(key)))
    val change = joined.select(payload ++ values :+
        when(matched && col("src._src_cnt") > 1, cardErr.cast("boolean"))
          .otherwise(matched).as(GraftTable.DeleteFlag) :+
        ((matched || lit(insertNotMatched)) && !deleted).as(GraftTable.AppendFlag): _*)
      .filter(col(GraftTable.DeleteFlag) || col(GraftTable.AppendFlag))
    t.commitDelta(change, if (positional) Nil else Seq(key),
      if (positional) "merge-dv" else "merge-mor", basedOn = Some(planned))
  }

  /** D3/J1/J2 — `MERGE INTO t USING source ON t.key = source.key`
    * (ref merge_sales_events.sql:4-21, mixed-op spec
    * ICEBERG-Interoperability-Test-Spec.md:72 "20% updates, 5% deletes,
    * 75% inserts").
    *
    * `updateSet` maps target columns to expressions over the joined row
    * (reference source columns as `src.<col>`); rows with no match insert the
    * full source row when `insertNotMatched` (WHEN NOT MATCHED THEN INSERT).
    * `deleteWhen` is WHEN MATCHED AND <cond> THEN DELETE — it must reference
    * SOURCE columns (as `src.<col>`), since it also excludes delete-marked
    * source rows from the insert branch. Matched rows in untouched files are
    * impossible by construction: every file containing a key present in
    * `source` is rewritten.
    */
  def merge(t: GraftTable, source: DataFrame, key: String,
      updateSet: Map[String, Column], insertNotMatched: Boolean,
      deleteWhen: Option[Column] = None,
      broadcastKeyThresholdBytes: Option[Long] = None): Snapshot = {
    // MERGE cardinality guard (Spark/Iceberg MERGE raises on multiple source
    // matches per target row; ref merge_sales_events.sql:4-21 assumes a
    // unique-key source): a duplicated source key would silently multiply
    // every matched target row through the left join below. The per-key count
    // rides the source as a window over the merge key — on the shuffled-join
    // path the window reuses the hash partitioning the rewrite join needs
    // anyway (a broadcast-sized source pays one small extra exchange). The
    // guard fires per matched row during the rewrite, BEFORE the delete
    // branch filters anything (see kept/updatedCols) — engines raise the
    // multiple-source-rows error for delete actions too. Not-matched
    // duplicates insert once each, matching engine MERGE semantics.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(key))
    val src = source.withColumn("_src_cnt", count(lit(1)).over(w)).alias("src")
    // Plan matched files via a semi-join against the source keys — the source
    // never collects to the driver (a VALUES-sized source broadcasts via the
    // size-gated hint; a large source shuffles its key column only).
    val planned = t.latest
    val srcKeys = planKeys(source, key, broadcastKeyThresholdBytes)
    // Metadata-prune the matched-file planning scan by the SOURCE's keys:
    // files whose key bounds hold none of them cannot hold a matched row and
    // go straight to untouched without being opened (the candidate rule both
    // MERGEs share). Sound: pruning only narrows the MATCHED side.
    val (candidates, _) = sourceKeyCandidates(t, planned, source, key)
    val withFile = t.readSnapshotTagged(planned.copy(files = candidates.toList), "_file")
    val touched = toRelative(t,
      withFile.join(srcKeys, Seq(key), "left_semi")
        .select("_file").distinct().collect().map(_.getString(0)))
    warnCeiling(touched.size)
    val (matched, untouched) = planned.files.partition(e => touched.contains(e.path))
    // Rewrite matched files: left-join to source, drop matched rows the
    // delete condition selects, apply updates where joined.
    val tgt = t.readFiles(matched, planned).alias("tgt")
    val joined = tgt.join(src, col(s"tgt.$key") === col(s"src.$key"), "left")
    val hasMatch = col(s"src.$key").isNotNull
    val cardinalityOk = coalesce(col("src._src_cnt"), lit(1L)) <= 1
    val cardErr = raise_error(concat(
      lit("MERGE cardinality violation: source has multiple rows for key "),
      col(s"src.$key").cast("string")))
    // The guard is evaluated INSIDE the delete filter, before any row is
    // discarded: a dup-key source whose duplicates are all delete-marked must
    // raise, not silently delete (filtering first would hide those rows from
    // the updatedCols check below).
    val kept = deleteWhen match {
      case Some(d) => joined.filter(
        when(hasMatch && !cardinalityOk, cardErr.cast("boolean"))
          .otherwise(!(hasMatch && coalesce(d, lit(false)))))
      case None => joined
    }
    // Cardinality violation also surfaces on the key column of every matched
    // row that survives the delete branch (the key is always in the output,
    // so Catalyst cannot prune the check): a matched row whose source key
    // appears >1 times raises instead of writing multiplied rows.
    val updatedCols = t.schema.fieldNames.map { c =>
      val base = updateSet.get(c) match {
        case Some(e) => when(hasMatch, e).otherwise(col(s"tgt.$c"))
        case None => col(s"tgt.$c")
      }
      if (c == key) when(cardinalityOk, base).otherwise(cardErr).as(c)
      else base.as(c)
    }
    val rewritten = kept.select(updatedCols.toSeq: _*)
    // WHEN NOT MATCHED THEN INSERT. Keys present anywhere in the target are
    // present in a matched file by construction (any file holding a source
    // key was planned as matched), so anti-joining against just the matched
    // files' keys is equivalent to anti-joining the whole table — and reads
    // only files already being rewritten, halving merge read I/O.
    val result =
      if (!insertNotMatched) rewritten
      else {
        val srcInsertable = deleteWhen match {
          case Some(d) => src.filter(!coalesce(d, lit(false)))
          case None => src
        }
        val matchedKeys = t.readFiles(matched, planned).select(key)
        // cast to the table field types, as the merge-on-read path does: a
        // union with a source-typed column would widen the rewritten rows
        val inserts = srcInsertable.join(matchedKeys, Seq(key), "left_anti")
          .select(t.schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
        rewritten.unionByName(inserts)
      }
    t.commitRewrite(result, untouched, "merge", basedOn = Some(planned))
  }
}
