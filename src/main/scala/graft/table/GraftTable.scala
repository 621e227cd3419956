package graft.table

import java.util.concurrent.ThreadLocalRandom

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.graftbridge.SqlInternals
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType, StringType, StructType}

/** A snapshot-versioned parquet table: immutable data files + the
  * `SnapshotLog` metadata log. This is the engine's analog of an Iceberg v2
  * table (SURVEY.md §7.1.3): every mutation — append, copy-on-write DML,
  * schema evolution, compaction — is a new snapshot that references immutable
  * files; reads resolve a snapshot (latest, by id, or by timestamp) to a file
  * list and never see in-flight writers.
  *
  * Layout: parquet part-files under `<dir>/data/` in ONE shared hive layout
  * (partition dirs common to every commit; each file is written once, by
  * its write task, at its final name — unique per write — before the
  * commit references it; see [[DataFileWriter]]), JSON snapshot docs under
  * `<dir>/_graft_log/`. A shared layout is what lets a read spanning many
  * commits be a single partition-discovery-clean parquet scan.
  *
  * Scale design:
  *  - commits are metadata-only for untouched files (append = parent list +
  *    new entries; DML rewrites only files that contain matching rows);
  *  - reads plan from the snapshot's own file list (`SnapshotFileIndex`),
  *    never from a directory listing: building a scan makes no filesystem
  *    call and starts no job, partition values come from the directory
  *    names, and Catalyst prunes partitions statically before any file is
  *    opened;
  *  - per-file rowCount/size feed maintenance policies (compaction picks
  *    small files without opening them).
  *
  * Schema evolution (SURVEY §7.4.1): each file entry records the snapshot that
  * wrote it (`writtenAt`); a read at snapshot T groups files by write-time
  * schema and replays the evolution ops committed in (writtenAt, T] — so old
  * snapshots read with their *own* schema and evolved reads see renamed /
  * added / widened columns without rewriting data.
  */
class GraftTable(val spark: SparkSession, val tableDir: String,
    hadoopConf: Option[Configuration] = None) {
  import GraftTable._

  // the caller's Hadoop conf, or the session's copied once per handle: it
  // serves the log, metadata and footer reads and commits, so a session
  // setting changed later reaches them only through a new handle (writes
  // copy the session's conf afresh, see writerFactory)
  private lazy val conf = hadoopConf.getOrElse(spark.sessionState.newHadoopConf())
  private def hfs = SnapshotLog.fs(conf, tableDir)

  def snapshotsList: Seq[Snapshot] = SnapshotLog.load(conf, tableDir)

  def latest: Snapshot = {
    val s = snapshotsList
    require(s.nonEmpty, s"table $tableDir has no snapshots")
    s.last
  }

  def schema: StructType = DataType.fromJson(latest.schemaJson).asInstanceOf[StructType]

  /** Sum of per-file row counts, or None when any file's count is the -1
    * unknown sentinel — summing the sentinel in would silently corrupt the
    * total; a null row count is the honest answer.
    */
  private def knownRowTotal(fs: Seq[FileEntry]): Option[Long] =
    if (fs.exists(_.rowCount < 0)) None else Some(fs.map(_.rowCount).sum)

  /** S8/S9 — the snapshots metadata table as a DataFrame. */
  def snapshots(): DataFrame = {
    import spark.implicits._
    snapshotsList.map(s => (s.snapshotId, s.parentId, new java.sql.Timestamp(s.committedAt),
      s.operation, s.files.size.toLong, knownRowTotal(s.files)))
      .toDF("snapshot_id", "parent_id", "committed_at", "operation", "n_files", "total_rows")
  }

  /** S9 — file-listing metadata table (ref snowflake.sql:364-378). */
  def files(): DataFrame = filesOf(latest)

  /** File listing as of a wall-clock time — the Snowflake
    * `INFORMATION_SCHEMA.ICEBERG_TABLE_FILES(TABLE_NAME => …, AT => ts)`
    * TVF shape (ref snowflake.sql:364-370): the newest snapshot committed
    * at or before `tsMillis`, same resolution rule as `readTimestampAsOf`.
    */
  def filesAsOf(tsMillis: Long): DataFrame = {
    val candidates = snapshotsList.filter(_.committedAt <= tsMillis)
    require(candidates.nonEmpty, s"no snapshot at or before $tsMillis in $tableDir")
    filesOf(candidates.last)
  }

  private def filesOf(snap: Snapshot): DataFrame = {
    import spark.implicits._
    snap.files.map(f => (f.path, f.rowCount, f.sizeBytes, f.writtenAt))
      .toDF("file_path", "row_count", "size_bytes", "written_at_snapshot")
  }

  /** Equality-delete-file listing metadata table (the `.deletes` analog of
    * Iceberg's metadata tables; empty when the table carries no
    * merge-on-read deletes).
    */
  def deleteFiles(): DataFrame = {
    import spark.implicits._
    latest.deletes.map(d => (d.path, d.keyCols.mkString(","), d.rowCount, d.sizeBytes, d.appliedAt))
      .toDF("file_path", "key_cols", "row_count", "size_bytes", "applied_at_snapshot")
  }

  /** Partition-level metadata table (the Iceberg `.partitions` analog):
    * per-partition file and row counts plus total bytes, computed from
    * snapshot METADATA alone — no data file is opened, so it stays O(files)
    * driver work at any data scale. A partition holding any file with an
    * unknown (-1) row count reports a NULL total_rows rather than silently
    * summing the sentinel in.
    */
  def partitions(): DataFrame = {
    import spark.implicits._
    val snap = latest
    snap.files.groupBy(_.partitionValues).toSeq
      .map { case (pv, fs) =>
        val key = snap.partitionCols.map(c => s"$c=${pv.getOrElse(c, "__HIVE_DEFAULT_PARTITION__")}")
          .mkString("/")
        (key, fs.size.toLong, knownRowTotal(fs), fs.map(_.sizeBytes).sum)
      }
      .sortBy(_._1)
      .toDF("partition", "n_files", "total_rows", "total_bytes")
  }

  /** Ref listing (the Iceberg `.refs` analog): tags and branches with the
    * snapshot each points at (a branch row carries its BASE main snapshot).
    */
  def refs(): DataFrame = {
    import spark.implicits._
    val tagRows = tags.toSeq.map { case (n, id) => (n, "tag", id) }
    val branchRows = branches.toSeq.map { case (n, base) => (n, "branch", base) }
    (tagRows ++ branchRows).sortBy(r => (r._2, r._1))
      .toDF("name", "type", "snapshot_id")
  }

  /** Table-properties metadata table (the Iceberg `.properties` analog). */
  def propertiesTable(): DataFrame = {
    import spark.implicits._
    properties.toSeq.sortBy(_._1).toDF("key", "value")
  }

  /** Metadata-log table (the Iceberg `.metadata_log_entries` analog): one
    * row per live document in the snapshot log directory — the physical
    * metadata a debugger or a manifest-consolidation policy reasons about.
    */
  def metadataLogTable(): DataFrame = {
    import spark.implicits._
    val dir = SnapshotLog.logPath(tableDir)
    val fs = hfs
    val rows =
      if (!fs.exists(dir)) Nil
      else {
        val it = fs.listStatus(dir).toSeq
        it.filter(_.isFile).map { st =>
          val name = st.getPath.getName
          val kind =
            if (name.startsWith("manifest-")) "manifest"
            else if (name.startsWith("v") && name.endsWith(".json")) "snapshot"
            else if (name.startsWith("tag-")) "tag"
            else if (name.startsWith("branch-")) "branch"
            else if (name.startsWith("props-")) "properties"
            else "other"
          (name, kind, st.getLen)
        }.sortBy(_._1)
      }
    rows.toDF("file", "kind", "size_bytes")
  }

  /** Every file referenced by ANY live snapshot (the Iceberg `.all_files`
    * analog), with the referencing snapshot — metadata-only, one row per
    * (snapshot, file) reference, so maintenance and debugging can see which
    * commits still pin a file without opening anything.
    */
  def allFiles(): DataFrame = {
    import spark.implicits._
    snapshotsList.flatMap(s => s.files.map(f =>
      (s.snapshotId, f.path, f.rowCount, f.sizeBytes, f.writtenAt)))
      .toDF("snapshot_id", "file_path", "row_count", "size_bytes", "written_at_snapshot")
  }

  /** Commit history metadata table (the Iceberg `.history` analog). */
  def history(): DataFrame = {
    import spark.implicits._
    snapshotsList.map(s => (new java.sql.Timestamp(s.committedAt), s.snapshotId,
      s.parentId, s.operation))
      .toDF("made_current_at", "snapshot_id", "parent_id", "operation")
  }

  def readLatest(): DataFrame = readSnapshot(latest)

  /** T1 — `VERSION AS OF <id>` (ref time_travel_validate.sql:6-12). */
  def readVersionAsOf(snapshotId: Long): DataFrame = {
    val snap = snapshotsList.find(_.snapshotId == snapshotId)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot $snapshotId in $tableDir"))
    readSnapshot(snap)
  }

  /** T2 — timestamp travel: newest snapshot committed at or before `tsMillis`
    * (ref snowflake.sql:359-361 `AT(TIMESTAMP => ...)`).
    */
  def readTimestampAsOf(tsMillis: Long): DataFrame = {
    val candidates = snapshotsList.filter(_.committedAt <= tsMillis)
    require(candidates.nonEmpty, s"no snapshot at or before $tsMillis in $tableDir")
    readSnapshot(candidates.last)
  }

  /** T2b — offset travel: Snowflake `AT(OFFSET => -seconds)` relative to
    * "now" (ref snowflake.sql:359-361). `nowMillis` is caller-supplied so the
    * query is deterministic under a pinned clock.
    */
  def readOffsetAsOf(offsetSeconds: Long, nowMillis: Long): DataFrame = {
    require(offsetSeconds <= 0, s"offset must be a non-positive number of seconds, got $offsetSeconds")
    readTimestampAsOf(nowMillis + offsetSeconds * 1000L)
  }

  /** Resolve a snapshot to a DataFrame: group files by evolution EPOCH (the
    * greatest chain step ≤ `writtenAt`), read each group with its write-time
    * physical schema, replay evolution ops up to the target snapshot, union.
    *
    * Epoch grouping, not per-`writtenAt` grouping, keeps the plan
    * O(evolution commits): physical schema and replay ops are constant
    * between two evolution commits, so a never-evolved table reads as ONE
    * parquet scan no matter how many append commits produced its files
    * (per-commit grouping grew the plan — an N-way union of N scans — with
    * every append).
    *
    * Merge-on-read deletes split each epoch group in two: files the
    * per-file rule marks (`SnapshotPlanner.applies`) read under a per-row
    * filter running the shared reconciler (`LiveRows` over `RowDeletes`),
    * keyed by `_metadata.file_name` and the current key columns, or by
    * `_metadata.row_index` for vectors; every other file reads with no
    * check. No join, no delete tuple in the plan.
    */
  def readSnapshot(snap: Snapshot): DataFrame = readSnapshotImpl(snap, None)

  /** Read with each row's originating part-file name (parquet
    * `_metadata.file_name`, the name delete vectors and [[LiveRows]] key
    * rows by) attached as `fileCol` and its position within that file
    * (`_metadata.row_index`) as `posCol`, both captured AT THE SCAN, where
    * each row's file is known — the read every DML change set is built
    * from. Together they are a stable row address (files are immutable).
    * Existing deletes are reconciled first, so already-deleted rows can
    * never be re-addressed.
    */
  private[graft] def readSnapshotTagged(snap: Snapshot, fileCol: String,
      posCol: String): DataFrame =
    readSnapshotImpl(snap, Some(fileCol), Some(posCol))

  private def readSnapshotImpl(snap: Snapshot, fileCol: Option[String],
      posCol: Option[String] = None): DataFrame = {
    val logical = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    if (snap.files.isEmpty) {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], logical)
      val withF = fileCol.fold(empty)(c => empty.withColumn(c, lit(null).cast("string")))
      return posCol.fold(withF)(c => withF.withColumn(c, lit(null).cast("long")))
    }
    // Self-contained-format guard: every live writtenAt must have its
    // write-time schema in the snapshot's own schemas map. A doc written by
    // the pre-self-contained format deserializes with schemas/chain empty and
    // would silently read evolved columns as all-NULL — fail loudly instead.
    val missingSchemas = snap.files.map(_.writtenAt.toString).toSet -- snap.schemas.keySet
    require(missingSchemas.isEmpty,
      s"snapshot ${snap.snapshotId} in $tableDir predates the self-contained snapshot " +
        s"format (no write-time schema recorded for commit(s) ${missingSchemas.mkString(", ")}); " +
        "rewrite the table with this version before reading")
    val dataRoot = SnapshotLog.dataPath(tableDir)
    val fs = hfs
    val plan = planner(snap)
    // Merge-on-read: the per-file rule picks the deletes each file needs;
    // files with none read with no check at all
    val marked: Map[String, List[DeleteEntry]] =
      if (snap.deletes.isEmpty) Map.empty
      else snap.files.iterator.map(f => f.path -> plan.deletesFor(f))
        .filter(_._2.nonEmpty).toMap
    if (marked.nonEmpty) {
      // the reconciler keys rows to their file by part-file NAME (globally
      // unique — published leaf names embed the commit id and a path hash)
      val names = snap.files.map(_.partName)
      require(names.distinct.size == names.size,
        s"snapshot ${snap.snapshotId} in $tableDir has colliding part-file names; " +
          "cannot resolve merge-on-read delete applicability")
    }
    // Schema json joins the key as a guard: same-epoch files must agree on
    // their physical schema to share a scan.
    val groups = snap.files.groupBy(f =>
      (plan.epochOf(f.writtenAt), snap.schemas(f.writtenAt.toString), marked.contains(f.path)))
    val parts = groups.toSeq.sortBy(g => (g._1._1, g._1._3)).map {
        case ((epoch, schemaJson, reconcile), entries) =>
      val physSchema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
      val sources = logical.fields.map(f => f -> plan.source(epoch, f.name))
      // the scan prunes its own files: each stored column it filters on
      // names the current column it replays as
      val current = sources.collect { case (f, Some(Stored(n, _))) => n -> f.name }.toMap
      val raw0 = SnapshotFileIndex.scan(spark, fs, tableDir, entries, physSchema, plan, current)
      // the part-file name, captured once: the reconciler's key and the
      // tagged read's address column
      val nameCol = fileCol.getOrElse(WrittenAtCol)
      val raw1 = if (fileCol.isDefined || reconcile)
        raw0.withColumn(nameCol, col("_metadata.file_name"))
      else raw0
      // the group's delete files once, and the distinct sets of them that
      // its files need
      val sets = if (!reconcile) IndexedSeq.empty[List[DeleteEntry]]
        else entries.map(e => marked(e.path)).distinct.toIndexedSeq
      val deletes = sets.flatten.distinct
      val specs = deletes.map(DeleteSpec.of(plan, _, dataRoot.toString))
      val vectors = specs.exists(_.positional)
      // captured AT the scan: after a union/evolution the metadata columns
      // are no longer addressable, and the index is only meaningful per file
      val posName = posCol.getOrElse(PosCol)
      val raw = if (posCol.isDefined || vectors)
        raw1.withColumn(posName, col("_metadata.row_index"))
      else raw1
      // Replay evolution committed after this epoch, from the snapshot's own
      // carried chain (`SnapshotPlanner.replay`, the connector's replay too)
      val replayed = plan.replay(epoch, physSchema, logical)
      // helper columns and discovered partition-only columns (transform
      // partitions) ride along, so every group unions with the same columns
      val carried = raw.columns.filterNot(c =>
        physSchema.fieldNames.contains(c) || logical.fieldNames.contains(c))
      val evolved =
        if (SnapshotPlanner.identity(replayed) && physSchema.length == logical.length) raw
        else raw.select((logical.fields.zip(replayed).map {
          case (f, _: UnresolvedAttribute) => col(f.name)
          case (f, e) => SqlInternals.column(e).as(f.name)
        } ++ carried.map(col)).toIndexedSeq: _*)
      if (!reconcile) evolved
      else {
        // the one reconciler, as a per-row filter over the current-schema
        // key columns of this group's (marked) files
        val keyNames = specs.flatMap(_.keyNames).distinct
        val deleteIdx = deletes.zipWithIndex.toMap
        val setIdx = sets.zipWithIndex.toMap
        val files = entries.map(e => e.partName ->
          (e.writtenAt, setIdx(marked(e.path)))).toMap
        val attr = UnresolvedAttribute.quoted _
        val pos = if (vectors) attr(posName) else Literal(-1L)
        val live = SqlInternals.column(LiveRows(
          Seq(attr(nameCol), pos) ++ keyNames.map(attr), specs,
          sets.map(_.map(deleteIdx).toIndexedSeq), files, keyNames))
        val helpers = (if (fileCol.isEmpty) Seq(WrittenAtCol) else Nil) ++
          (if (vectors && posCol.isEmpty) Seq(PosCol) else Nil)
        evolved.filter(live).drop(helpers: _*)
      }
    }
    val unified = parts.reduce(_.unionByName(_))
    // Present columns in the target snapshot's declared order.
    unified.select((logical.fieldNames.toSeq ++ fileCol ++ posCol).map(col): _*)
  }

  /** Evolution-aware read of a subset of the latest snapshot's files
    * (maintenance reads only the files it will rewrite).
    */
  def readFiles(entries: Seq[FileEntry]): DataFrame = readFiles(entries, latest)

  /** Read `entries` in the schema/evolution context of `asOf`. DML and
    * maintenance MUST pass the snapshot they PLANNED against: re-resolving
    * `latest` here would race a concurrent rewrite — the winner's snapshot
    * no longer carries the write-time schemas of files it replaced, so the
    * loser's read of its planned (now-replaced) files fails spuriously (or,
    * after a concurrent evolution, silently replays the wrong ops) instead
    * of reaching the commit-time conflict abort.
    */
  def readFiles(entries: Seq[FileEntry], asOf: Snapshot): DataFrame =
    readSnapshot(asOf.copy(files = entries.toList))

  /** Metadata-level partition pruning (the manifest-pruning role in Iceberg):
    * resolve the file list against equality predicates on partition columns
    * BEFORE Spark sees any path. Catalyst would prune these partitions too,
    * but only after listing and planning over every file — at 100 TB with
    * ~800k files, skipping them in the snapshot metadata keeps scan planning
    * O(selected partitions).
    */
  def readPartitions(partitionEquals: Map[String, String]): DataFrame = {
    val snap = latest
    val unknown = partitionEquals.keySet -- snap.partitionCols.toSet
    require(unknown.isEmpty, s"not partition columns: ${unknown.mkString(", ")}")
    val selected = snap.files.filter(f =>
      partitionEquals.forall { case (k, v) => f.partitionValues.get(k).contains(v) })
    readSnapshot(snap.copy(files = selected))
  }

  /** Stats-based file pruning (the Iceberg manifest `lower_bounds`/
    * `upper_bounds` scan-planning step): files whose recorded `[min, max]` for
    * `colName` falls entirely outside `[lo, hi]` are dropped from the scan
    * BEFORE Spark sees any path. Returns (selected, total) so callers can
    * observe skipping. Either bound may be null (one-sided range).
    *
    * Sound by construction — a file is only skipped on bounds that prove no
    * row matches:
    *  - `FileEntry.stats` keys are WRITE-TIME physical names, so the current
    *    column name is resolved per evolution epoch back to the name it had
    *    when each file was written (the role Iceberg's stable field ids play).
    *    A column ADDED after a file was written resolves to no name at all —
    *    stats that happen to sit under the same string (a renamed-away column
    *    re-using the name) describe a DIFFERENT column's data and are never
    *    consulted.
    *  - Non-finite float/double bounds compare by IEEE order (`Infinity`
    *    prunes nothing it shouldn't); a `NaN` or unparseable bound keeps the
    *    file.
    *  - Files with no usable stats (old format, all-null file, column widened
    *    to string) are always kept.
    *  - PARTITION columns prune too: the hive layout strips them from data
    *    files (no footer stats), but each file's partition value is an exact
    *    point `[v, v]` in the snapshot metadata. A null-partition file is
    *    dropped (a range predicate never matches null rows); an unparseable
    *    or hive-escaped value keeps the file. On a boolean or decimal
    *    identity-partition column a point still prunes by partition value.
    *
    * The rule itself lives in [[SnapshotPlanner]], shared with every other
    * read path.
    */
  def planBetween(snap: Snapshot, colName: String, lo: Any, hi: Any)
      : (Seq[FileEntry], Int) =
    (planner(snap).between(snap.files, colName, lo, hi), snap.files.size)

  /** The metadata planner over `snap` (see [[SnapshotPlanner]]): partition
    * transforms come from the table properties, read only if a range or
    * point pass reaches them.
    */
  def planner(snap: Snapshot): SnapshotPlanner =
    new SnapshotPlanner(snap, parseTransforms(scala.util.Try(properties).getOrElse(Map.empty)))

  /** Metadata-only `COUNT(*)` (the Iceberg aggregate-pushdown analog): the
    * snapshot's per-file row counts, less each delete vector's recorded
    * per-file counts, sum to the exact table count without opening any
    * data file — at 100 TB the difference between a full scan and O(files)
    * metadata arithmetic. None when metadata cannot answer exactly: an
    * equality delete (or a vector written without counts) that can touch
    * some file (the per-file rule, `SnapshotPlanner.applies`) removes rows
    * no entry accounts for, and an unknown per-file count (-1) leaves the
    * sum undefined — callers fall back to a scan.
    */
  def countRowsFromMetadata(snap: Snapshot): Option[Long] = planner(snap).countRows()

  def countRowsFromMetadata(): Option[Long] = countRowsFromMetadata(latest)

  /** `COUNT(*)` that opens only the files metadata cannot count (an
    * equality delete or an uncounted vector marks them) and counts the rest
    * from metadata. None when an unmarked file's count is unknown. */
  def countLive(snap: Snapshot): Option[Long] = {
    val plan = planner(snap)
    val (scan, counted) = snap.files.partition(f => plan.marked(f) && plan.liveRows(f).isEmpty)
    plan.countRows(counted).map(_ +
      (if (scan.isEmpty) 0L else readSnapshot(snap.copy(files = scan)).count()))
  }

  def countLive(): Option[Long] = countLive(latest)

  /** Metadata-only `MIN(col)`/`MAX(col)` from the per-file footer bounds.
    * Exact — not approximate — when every file answers for itself:
    *  - every live file resolves `colName` through the evolution chain to a
    *    write-time column with recorded stats (a file written before the
    *    column existed, or with an all-null/statless column, yields None);
    *  - the column is numeric, date, or timestamp: parquet footer bounds for
    *    those are exact extremes of the non-null values, matching SQL
    *    MIN/MAX null-skipping semantics. Strings are excluded — writers may
    *    TRUNCATE binary bounds, which widens them past the true extremes;
    *  - no merge-on-read delete is pending (a delete could remove the
    *    extreme row without touching file metadata);
    *  - no NaN poisoning (parquet drops stats on NaN-containing chunks, so
    *    surviving float bounds are comparable).
    * Returns values in the column's LOGICAL type (timestamp/date bounds are
    * stored as raw micros/epoch-days and converted back). None = scan.
    */
  def minMaxFromMetadata(colName: String, snapArg: Option[Snapshot] = None)
      : Option[(Any, Any)] =
    planner(snapArg.getOrElse(latest)).minMax(colName)

  /** Metadata-only `COUNT(col)` (non-null count — the second half of
    * aggregate pushdown): per-file `rowCount - nullCount` sums exactly when
    * every live file resolves the column and reports a null count, no MOR
    * delete is pending, and no file predates the column (its rows hold the
    * evolution default, which this method will not guess about). None =
    * scan.
    */
  def countNonNullFromMetadata(colName: String, snapArg: Option[Snapshot] = None)
      : Option[Long] =
    planner(snapArg.getOrElse(latest)).countNonNull(colName)

  /** Nullability-based file pruning (the Iceberg `null_value_counts` scan
    * planning): for `IS NULL`, a file whose recorded null count is zero
    * cannot match; for `IS NOT NULL`, a provably all-null file cannot.
    * Unknown counts, unresolvable columns, and files written before the
    * column existed are always kept. Returns (selected, total).
    */
  def planNullability(snap: Snapshot, colName: String, isNull: Boolean)
      : (Seq[FileEntry], Int) =
    (planner(snap).nullability(snap.files, colName, isNull), snap.files.size)

  /** Read rows where `colName` IS NULL / IS NOT NULL; the scan keeps only
    * the files whose null counts allow a match (`SnapshotFileIndex`).
    */
  def readWhereNull(colName: String, isNull: Boolean): DataFrame =
    readLatest().filter(if (isNull) col(colName).isNull else col(colName).isNotNull)

  /** Read rows with `colName` in `[lo, hi]`; the scan keeps only the files
    * whose bounds reach the range (`SnapshotFileIndex`). Pass null for an
    * open bound.
    */
  def readBetween(colName: String, lo: Any, hi: Any): DataFrame = {
    val c = col(colName)
    Seq(Option(lo).map(c >= lit(_)), Option(hi).map(c <= lit(_))).flatten
      .reduceOption(_ && _).fold(readLatest())(readLatest().filter)
  }

  /** Per-value point planning for IN-list lookups: the union of each
    * value's `planBetween` point pass. Far tighter than one [min, max]
    * envelope when the keys are sparse over a clustered table — and the
    * composition point where bucket-transform pruning bites (each point
    * keeps only its own hash bucket's files; the reference's flagship
    * lookup workload runs against `bucket(16, user_id)` partitioning,
    * `blob_dfs/blob-dfs_bench.py:72,132-136`). Returns (selected, total).
    */
  def planPoints(snap: Snapshot, colName: String, values: Seq[Any])
      : (Seq[FileEntry], Int) = {
    (planner(snap).points(snap.files, colName, values), snap.files.size)
  }

  /** Read rows where `colName` is one of `values`; the scan keeps only the
    * files a value's point pass keeps (stats, partition values, bucket
    * transform — `SnapshotFileIndex`).
    */
  def readIn(colName: String, values: Seq[Any]): DataFrame =
    readLatest().filter(col(colName).isin(values: _*))

  /** Incremental append scan (the Iceberg incremental-read analog:
    * `option("start-snapshot-id", …).option("end-snapshot-id", …)`): rows
    * APPENDED in snapshots (fromId, toId], read with toId's schema. The CDC
    * consumption primitive — a downstream pipeline processes each new batch
    * without rescanning the table.
    *
    * Content-preserving commits inside the range (compaction, manifest
    * rewrite, schema/partition evolution, delete materialization) are
    * skipped — their net content change is nil, and the rows they rewrote
    * are credited to their ORIGINAL append. Any content-CHANGING non-append
    * commit in range (DML, MOR delete/upsert, overwrite, rollback) raises:
    * an append-only incremental read over it would silently misreport the
    * delta (Iceberg's incremental scan raises the same way).
    */
  def readIncremental(fromId: Long, toId: Long): DataFrame = {
    val (to, range) = changeRange(fromId, toId)
    val bad = range.filterNot(s =>
      RowAddingOps(s.operation) || contentPreserving(s.operation))
    require(bad.isEmpty,
      s"incremental read over ($fromId, $toId] crosses content-changing commit(s) " +
        bad.map(s => s"${s.snapshotId}:${s.operation}").mkString(", ") +
        s" in $tableDir — append-only incremental semantics cannot represent them")
    val appendIds = range.filter(s => RowAddingOps(s.operation)).map(_.snapshotId).toSet
    // the appended files, from each appending snapshot's own doc (a later
    // in-range compaction may have dropped them from toId's list — they
    // remain on disk and in their commit's doc until expiry)
    val appended = range.filter(s => appendIds(s.snapshotId))
      .flatMap(s => s.files.filter(_.writtenAt == s.snapshotId))
    // flatMap, not apply: a zero-file append (e.g. a streaming batch whose
    // rows were all rejected upstream) records no write schema for its own
    // id — and contributes no files to read under one either
    val schemas = range.filter(s => appendIds(s.snapshotId))
      .flatMap(s => s.schemas.get(s.snapshotId.toString)
        .map(s.snapshotId.toString -> _)).toMap
    // deletes cannot apply: in-range MOR commits raise above, and any delete
    // with appliedAt ≤ fromId only touches files written before it
    readSnapshot(to.copy(files = appended.toList, schemas = schemas, deletes = Nil))
  }

  /** Commits that only ADD rows (their files carry writtenAt == own id) —
    * the insert-producing class for incremental/changelog reads. A zero-copy
    * import is an insert like any append.
    */
  private val RowAddingOps = Set("append", "add-files")

  /** Commits whose net content change is nil — skippable by incremental and
    * changelog reads (rewritten rows are credited to their original commit).
    */
  private val ContentPreservingOps = Set("create", "rewrite-data-files",
    "materialize-deletes", "zorder-rewrite", "sort-rewrite",
    "add-column", "rename-column", "widen-column", "evolve-partitioning")
  private def contentPreserving = ContentPreservingOps

  /** Resolve and validate a change-consumption range: `toId` exists,
    * `fromId` exists (or 0 for "since the beginning"), and the live
    * snapshots in (fromId, toId] form an UNBROKEN parent chain — tag-aware
    * expiry can leave the log non-contiguous, and a gapped range would
    * silently omit the expired commits' changes.
    */
  private def changeRange(fromId: Long, toId: Long): (Snapshot, Seq[Snapshot]) = {
    val snaps = snapshotsList
    require(fromId < toId, s"need fromId < toId, got ($fromId, $toId]")
    val to = snaps.find(_.snapshotId == toId)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot $toId in $tableDir"))
    require(fromId == 0 || snaps.exists(_.snapshotId == fromId),
      s"no snapshot $fromId in $tableDir (expired?)")
    val range = snaps.filter(s => s.snapshotId > fromId && s.snapshotId <= toId)
    val ids = range.map(_.snapshotId).toSet
    range.foreach { s =>
      val chained = s.parentId match {
        case None => fromId == 0
        case Some(p) => p == fromId || ids.contains(p)
      }
      require(chained,
        s"snapshot ${s.snapshotId}'s parent ${s.parentId.getOrElse("none")} is not " +
          s"live in ($fromId, $toId] of $tableDir — intermediate commits were " +
          "expired and their changes cannot be reconstructed")
    }
    (to, range)
  }

  /** Row-level changelog over (fromId, toId] (the Iceberg changelog-scan /
    * Delta CDF analog): every row appended or deleted in the range, in the
    * TARGET snapshot's schema, with `_change_type` ('insert' | 'delete') and
    * `_commit_snapshot_id` columns. An upsert appears as its delete half
    * (matched pre-images, read from the pre-commit state) plus its insert
    * half — the Iceberg changelog convention.
    *
    * Supported commits in range: appends (inserts), merge-on-read
    * delete/upsert (deletes reconstructed by semi-joining the pre-commit
    * state against the commit's delete files — O(delete batch) extra read,
    * which is why MOR makes CDC cheap), and content-preserving maintenance
    * (no rows). Copy-on-write DML and overwrites raise: their row diff is
    * not recorded and reconstructing it would re-read both sides of every
    * rewritten file.
    */
  def readChangelog(fromId: Long, toId: Long): DataFrame = {
    val (to, range) = changeRange(fromId, toId)
    val rowLevel = Set("delete-mor", "upsert-mor", "delete-dv", "update-dv", "merge-dv") ++
      RowAddingOps
    val bad = range.filterNot(s => rowLevel(s.operation) || contentPreserving(s.operation))
    require(bad.isEmpty,
      s"changelog over ($fromId, $toId] crosses commit(s) without row-level change " +
        "tracking: " + bad.map(s => s"${s.snapshotId}:${s.operation}").mkString(", ") +
        s" in $tableDir — copy-on-write rewrites do not record their row diff")
    val logical = DataType.fromJson(to.schemaJson).asInstanceOf[StructType]
    val dataRoot = SnapshotLog.dataPath(tableDir).toString
    val bySnap = snapshotsList.map(s => s.snapshotId -> s).toMap
    // Read `files` evolved to toId's schema: toId's chain replays evolution;
    // write-time schemas come from the carrying snapshot's own
    // self-contained map (never another, possibly-expired doc).
    def readAtTarget(files: List[FileEntry], schemas: Map[String, String],
        deletes: List[DeleteEntry]): DataFrame =
      readSnapshot(to.copy(files = files, schemas = schemas, deletes = deletes))
    val parts = range.filter(s => rowLevel(s.operation)).flatMap { s =>
      val inserts = {
        val added = s.files.filter(_.writtenAt == s.snapshotId)
        if (added.isEmpty) None
        else Some(readAtTarget(added, s.schemas, Nil)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_snapshot_id", lit(s.snapshotId)))
      }
      val deletes = {
        val added = s.deletes.filter(_.appliedAt == s.snapshotId)
        if (added.isEmpty) None
        else {
          // pre-commit state at toId's schema; the commit's deletes apply to
          // every pre-commit file (all writtenAt < appliedAt), so a plain
          // null-safe semi-join on the key tuples yields the deleted rows
          val parent = bySnap(s.parentId.getOrElse(
            throw new IllegalStateException(s"MOR commit ${s.snapshotId} has no parent")))
          val pre = readAtTarget(parent.files, parent.schemas, parent.deletes)
          val (dvAdded, eqAdded) = added.partition(_.positional)
          val eqMatched = eqAdded.map { d =>
            val del = spark.read.parquet(s"$dataRoot/${d.path}")
            val cond = d.keyCols.map { k =>
              val cur = SnapshotPlanner.currentName(to, k, d.appliedAt)
              val curType = logical.find(_.name == cur).map(_.dataType)
                .getOrElse(throw new IllegalStateException(
                  s"delete key column $cur no longer in schema of $tableDir"))
              col(s"_gf_pre.$cur") <=> col(s"_gf_del.$k").cast(curType)
            }.reduce(_ && _)
            pre.alias("_gf_pre").join(del.alias("_gf_del"), cond, "left_semi")
          }
          // positional: the vector NAMES the deleted rows — semi-join the
          // file/pos-tagged pre-commit state on the row address
          val dvMatched = if (dvAdded.isEmpty) Nil else {
            val preTagged = readSnapshotTagged(
              to.copy(files = parent.files, schemas = parent.schemas,
                deletes = parent.deletes), "_gf_cl_name", "_gf_cl_pos")
            val dv = dvAdded.map(d =>
              spark.read.parquet(s"$dataRoot/${d.path}")).reduce(_.unionByName(_))
            Seq(preTagged.alias("_gf_pre").join(dv.alias("_gf_del"),
              col("_gf_pre._gf_cl_name") === col(s"_gf_del.$WrittenAtCol") &&
                col("_gf_pre._gf_cl_pos") === col(s"_gf_del.$PosCol"),
              "left_semi")
              .drop("_gf_cl_pos", "_gf_cl_name"))
          }
          val matched = (eqMatched ++ dvMatched).reduce(_.unionByName(_)).distinct()
          Some(matched
            .withColumn("_change_type", lit("delete"))
            .withColumn("_commit_snapshot_id", lit(s.snapshotId)))
        }
      }
      inserts.toSeq ++ deletes.toSeq
    }
    val outCols = logical.fieldNames.toSeq ++ Seq("_change_type", "_commit_snapshot_id")
    if (parts.isEmpty) {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], logical)
      empty.withColumn("_change_type", lit("").cast("string"))
        .withColumn("_commit_snapshot_id", lit(0L))
        .filter(lit(false)).select(outCols.map(col): _*)
    } else parts.reduce(_.unionByName(_)).select(outCols.map(col): _*)
  }

  /** Roll the table back to `snapshotId`'s state as a NEW commit (the
    * Iceberg `rollback_to_snapshot` procedure): history stays linear — the
    * bad commits remain inspectable via time travel until expiry — and
    * concurrent readers just see another snapshot land.
    */
  def rollbackTo(snapshotId: Long): Snapshot = {
    val target = snapshotsList.find(_.snapshotId == snapshotId)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot $snapshotId in $tableDir"))
    commitWithRetry { parent =>
      val p = parent.getOrElse(throw new IllegalStateException("rollback on empty table"))
      Snapshot(p.snapshotId + 1, Some(p.snapshotId), clock(), "rollback",
        target.schemaJson, target.partitionCols, target.files,
        Map("rolled-back-to" -> snapshotId.toString), Nil,
        target.schemas, target.chain, target.deletes)
    }
  }

  /** Create an immutable named tag pinning `snapshotId` (the Iceberg tag
    * ref): `expireSnapshots` retains tagged snapshots regardless of
    * retain-last, so a tag is a durable audit/reproducibility point (e.g.
    * "the snapshot this model trained on"). Create-if-absent: re-tagging an
    * existing name is an error, not a silent move.
    */
  def createTag(name: String, snapshotId: Long): Unit =
    createTag(name, snapshotId, None)

  /** Tag with Iceberg's `RETAIN` clause: past `maxRefAgeMs` from creation
    * the tag is dropped by the next ref-aware expiry, releasing its pinned
    * snapshot — a bounded-lifetime audit point. None = pinned until an
    * explicit drop.
    */
  def createTag(name: String, snapshotId: Long, maxRefAgeMs: Option[Long]): Unit = {
    require(TagNameRe.matches(name),
      s"tag name must match ${TagNameRe.regex}, got '$name'")
    require(snapshotsList.exists(_.snapshotId == snapshotId),
      s"no snapshot $snapshotId in $tableDir")
    maxRefAgeMs.foreach(a => require(a > 0, s"tag RETAIN age must be positive, got $a"))
    val p = new org.apache.hadoop.fs.Path(SnapshotLog.logPath(tableDir), s"tag-$name.json")
    val doc = org.json4s.jackson.Serialization.write(
      Map("name" -> name, "snapshotId" -> snapshotId.toString,
        "createdAt" -> clock().toString) ++
        maxRefAgeMs.map(a => "maxRefAgeMs" -> a.toString))(SnapshotLog.formats)
    require(SnapshotLog.publishAtomicAt(hfs, p, doc), s"tag $name already exists in $tableDir")
  }

  /** Drop every tag whose RETAIN window has passed (the ref-aging step of
    * Iceberg's expire_snapshots); returns the dropped names. Tags without a
    * retention (or from the pre-retention format) never age out.
    */
  def dropExpiredTags(nowMillis: Long): Seq[String] = {
    implicit val fmts: org.json4s.Formats = SnapshotLog.formats
    val dir = SnapshotLog.logPath(tableDir)
    if (!hfs.exists(dir)) return Nil
    hfs.listStatus(dir).map(_.getPath).flatMap { p =>
      p.getName match {
        case TagFileRe(_) =>
          val m = org.json4s.jackson.JsonMethods.parse(
            SnapshotLog.readStringAt(hfs, p)).extract[Map[String, String]]
          for {
            age <- m.get("maxRefAgeMs").map(_.toLong)
            created <- m.get("createdAt").map(_.toLong)
            if created + age < nowMillis
          } yield { hfs.delete(p, false); m("name") }
        case _ => None
      }
    }.toSeq
  }

  /** All tags, name → pinned snapshot id. */
  def tags: Map[String, Long] = {
    implicit val fmts: org.json4s.Formats = SnapshotLog.formats
    val dir = SnapshotLog.logPath(tableDir)
    if (!hfs.exists(dir)) return Map.empty
    hfs.listStatus(dir).map(_.getPath).flatMap { p =>
      p.getName match {
        case TagFileRe(_) =>
          val m = org.json4s.jackson.JsonMethods.parse(
            SnapshotLog.readStringAt(hfs, p)).extract[Map[String, String]]
          Some(m("name") -> m("snapshotId").toLong)
        case _ => None
      }
    }.toMap
  }

  /** Read the snapshot a tag pins. */
  def readTag(name: String): DataFrame = {
    val id = tags.getOrElse(name,
      throw new IllegalArgumentException(s"no tag $name in $tableDir"))
    readVersionAsOf(id)
  }

  /** Drop a tag (the pinned snapshot becomes expirable again). */
  def deleteTag(name: String): Boolean =
    hfs.delete(new org.apache.hadoop.fs.Path(
      SnapshotLog.logPath(tableDir), s"tag-$name.json"), false)

  // ---- Branch refs: write-audit-publish staging (the Iceberg WAP flow) ----

  /** One branch head: the staged snapshot (self-contained, never in the main
    * log) plus the main snapshot it is based on.
    */
  private case class BranchHead(base: Long, seq: Long, snapshot: Snapshot)

  private def branchHead(name: String): Option[BranchHead] = {
    implicit val fmts: org.json4s.Formats = SnapshotLog.formats
    val dir = SnapshotLog.logPath(tableDir)
    if (!hfs.exists(dir)) return None
    val seqs = hfs.listStatus(dir).map(_.getPath.getName).collect {
      case BranchFileRe(n, seq) if n == name => seq.toLong
    }
    if (seqs.isEmpty) return None
    val seq = seqs.max
    val doc = org.json4s.jackson.JsonMethods.parse(SnapshotLog.readStringAt(hfs,
      new org.apache.hadoop.fs.Path(dir, branchFileName(name, seq))))
    val base = (doc \ "base").extract[Long]
    val snap = (doc \ "snapshot").extract[Snapshot]
    Some(BranchHead(base, seq, snap))
  }

  private def branchFileName(name: String, seq: Long) = f"branch-$name-$seq%08d.json"

  private def writeBranchHead(name: String, base: Long, seq: Long, snap: Snapshot): Boolean = {
    implicit val fmts: org.json4s.Formats = SnapshotLog.formats
    val doc = org.json4s.jackson.Serialization.write(Map(
      "base" -> base, "snapshot" -> snap))
    SnapshotLog.publishAtomicAt(hfs,
      new org.apache.hadoop.fs.Path(SnapshotLog.logPath(tableDir),
        branchFileName(name, seq)), doc)
  }

  /** Create a staging branch at the current main state (the start of a
    * write-audit-publish cycle). The branch lives OUTSIDE the main log:
    * main readers never see staged commits.
    */
  def createBranch(name: String): Unit = {
    require(TagNameRe.matches(name),
      s"branch name must match ${TagNameRe.regex}, got '$name'")
    require(branchHead(name).isEmpty, s"branch $name already exists in $tableDir")
    val base = latest
    require(writeBranchHead(name, base.snapshotId, 0L, base),
      s"branch $name already exists in $tableDir")
  }

  /** All branch names with their base main-snapshot ids. */
  def branches: Map[String, Long] = {
    val dir = SnapshotLog.logPath(tableDir)
    if (!hfs.exists(dir)) return Map.empty
    val names = hfs.listStatus(dir).map(_.getPath.getName).collect {
      case BranchFileRe(n, _) => n
    }.distinct
    names.flatMap(n => branchHead(n).map(h => n -> h.base)).toMap
  }

  /** A branch head's summary map (staged-appends counter plus whatever the
    * stager recorded — e.g. a streaming sink's durable batch id).
    */
  def branchSummary(name: String): Map[String, String] =
    branchHead(name).getOrElse(
      throw new IllegalArgumentException(s"no branch $name in $tableDir"))
      .snapshot.summary

  /** Audit read of a branch's staged state. */
  def readBranch(name: String): DataFrame =
    readSnapshot(branchHead(name).getOrElse(
      throw new IllegalArgumentException(s"no branch $name in $tableDir")).snapshot)

  /** Every data/delete file referenced by any live branch head — maintenance
    * must treat staged files as live (they are invisible to the main log).
    */
  private[graft] def branchReferencedPaths: Set[String] =
    branches.keySet.flatMap(n => branchHead(n).toSeq.flatMap(h =>
      h.snapshot.files.map(_.path) ++ h.snapshot.deletes.map(_.path)))

  /** Stage an append on a branch: data files land under `data/` like any
    * commit (immutable, shared layout) but are referenced only by the branch
    * head, so main readers cannot see them until publish. Schema evolution
    * on a branch is not supported — staged files carry the base snapshot's
    * schema, which is what makes publish a metadata-only fast-forward.
    *
    * `precondition` is re-evaluated against the CURRENT branch head inside
    * the CAS retry loop, so a caller's head-dependent guard (e.g. a
    * streaming sink's "skip if this batch id is already staged") is atomic
    * with the head write: two writers racing the same guard cannot both
    * stage — the loser's retry re-reads the head, sees the winner's stamp,
    * and returns false. Returns true iff the append was staged.
    */
  def appendToBranch(name: String, df: DataFrame,
      extraSummary: Map[String, String] = Map.empty,
      precondition: Snapshot => Boolean = _ => true): Boolean = {
    var attempts = 0
    while (attempts < 20) {
      attempts += 1
      val head = branchHead(name).getOrElse(
        throw new IllegalArgumentException(s"no branch $name in $tableDir"))
      if (!precondition(head.snapshot)) return false
      val cur = DataType.fromJson(head.snapshot.schemaJson).asInstanceOf[StructType]
      require(shapeOf(df.schema) == shapeOf(cur),
        s"branch append schema does not match $tableDir@$name")
      // staged files carry writtenAt = the BASE snapshot id: their physical
      // schema IS the base schema (no branch evolution), so main's
      // writtenAt→schema invariant holds verbatim after publish
      val written = writeDataFiles(df, head.base)
      val snap = head.snapshot.copy(
        files = head.snapshot.files ++ written.map(_.copy(writtenAt = head.base)),
        schemas = head.snapshot.schemas +
          (head.base.toString -> head.snapshot.schemaJson),
        summary = head.snapshot.summary ++ extraSummary +
          ("staged-appends" ->
            (head.snapshot.summary.getOrElse("staged-appends", "0").toInt + 1).toString))
      if (writeBranchHead(name, head.base, head.seq + 1, snap)) return true
      // a concurrent branch append won this seq: clean our staged files and
      // retry against the fresh head
      written.foreach(e => hfs.delete(
        new org.apache.hadoop.fs.Path(SnapshotLog.dataPath(tableDir), e.path), false))
    }
    throw new IllegalStateException(s"could not stage append on $tableDir@$name")
  }

  /** Publish a branch: fast-forward main to the audited staged state as ONE
    * commit (metadata-only — staged files are already in place). The WAP
    * contract is strict: if main advanced past the branch base, the audit
    * no longer describes what publish would produce, so it raises instead
    * (re-branch from the new main and re-audit). The branch ref is dropped
    * after a successful publish.
    */
  def publishBranch(name: String): Snapshot = {
    val head = branchHead(name).getOrElse(
      throw new IllegalArgumentException(s"no branch $name in $tableDir"))
    val snap = commitWithRetry { parent =>
      val p = parent.getOrElse(throw new IllegalStateException("publish on empty table"))
      if (p.snapshotId != head.base)
        throw new java.util.ConcurrentModificationException(
          s"main advanced to ${p.snapshotId} since branch $name based on ${head.base}: " +
            "the audited state is stale — re-branch and re-audit")
      val files = head.snapshot.files
      Snapshot(p.snapshotId + 1, Some(p.snapshotId), clock(), "publish-branch",
        p.schemaJson, p.partitionCols, files,
        // branch-scoped streaming batch ids stay durable ACROSS the publish:
        // the staged head's ids land in the main commit summary, so an
        // at-least-once replay (fresh/lost checkpoint) after a publish sees
        // them via the main log and cannot re-stage published batches
        head.snapshot.summary.filter(_._1.startsWith(GraftTable.StagedStreamKeyPrefix)) ++
        Map("published-branch" -> name,
          "added-files" -> (files.size - p.files.size).toString), Nil,
        schemasFor(files, head.snapshot.schemas + ((p.snapshotId + 1).toString -> p.schemaJson)),
        p.chain, head.snapshot.deletes)
    }
    dropBranch(name)
    snap
  }

  /** Drop a branch ref. Staged files it alone referenced become orphans
    * (removed by the next `removeOrphanFiles`).
    */
  def dropBranch(name: String): Boolean = {
    val dir = SnapshotLog.logPath(tableDir)
    if (!hfs.exists(dir)) return false
    val mine = hfs.listStatus(dir).map(_.getPath).filter(p => p.getName match {
      case BranchFileRe(n, _) => n == name
      case _ => false
    })
    mine.foreach(p => hfs.delete(p, false))
    mine.nonEmpty
  }

  // ---- Table properties: versioned docs, atomic publish, latest wins ----

  private def propsFileName(seq: Long) = f"props-$seq%08d.json"

  private def latestPropsSeq: Option[Long] = {
    val dir = SnapshotLog.logPath(tableDir)
    if (!hfs.exists(dir)) return None
    hfs.listStatus(dir).map(_.getPath.getName)
      .collect { case PropsFileRe(s) => s.toLong }.maxOption
  }

  private def propsAt(seq: Long): Map[String, String] = {
    implicit val fmts: org.json4s.Formats = SnapshotLog.formats
    org.json4s.jackson.JsonMethods.parse(SnapshotLog.readStringAt(hfs,
      new org.apache.hadoop.fs.Path(SnapshotLog.logPath(tableDir), propsFileName(seq))))
      .extract[Map[String, String]]
  }

  /** Current table properties (the Iceberg table-properties analog; e.g.
    * `write.parquet.bloom-filter-columns` — see `writerFactory`). Empty for
    * tables that never set any.
    */
  def properties: Map[String, String] =
    latestPropsSeq.map(propsAt).getOrElse(Map.empty)

  /** Merge `updates` into the table properties (None value = remove the
    * key). Compare-and-swap versioned publish: the observed latest seq is
    * read ONCE, the merged doc is published at exactly seq+1 by
    * create-if-absent, and a loser retries against the fresh doc — reading
    * "current props" and "latest seq" separately would let a concurrent
    * publish land between the two reads and be overwritten by a stale merge
    * (the lost update ConcurrentCommitSpec races for).
    */
  def setProperties(updates: Map[String, Option[String]]): Map[String, String] = {
    val dir = SnapshotLog.logPath(tableDir)
    hfs.mkdirs(dir)
    var attempts = 0
    while (attempts < 50) {
      attempts += 1
      val observed = latestPropsSeq
      val cur = observed.map(propsAt).getOrElse(Map.empty)
      val next = updates.foldLeft(cur) {
        case (m, (k, Some(v))) => m + (k -> v)
        case (m, (k, None)) => m - k
      }
      implicit val fmts: org.json4s.Formats = SnapshotLog.formats
      if (SnapshotLog.publishAtomicAt(hfs,
          new org.apache.hadoop.fs.Path(dir, propsFileName(observed.getOrElse(0L) + 1)),
          org.json4s.jackson.Serialization.write(next)))
        return next
      Thread.sleep(ThreadLocalRandom.current().nextLong(1L, math.min(50L, 2L + attempts * 2L)))
    }
    throw new IllegalStateException(s"could not publish properties in $tableDir")
  }

  /** ANALYZE — table/column statistics computed in ONE scan and stored in
    * table properties (the Iceberg `compute_table_stats` procedure / Puffin
    * stats-file analog). Per column: exact NDV and null count; min/max come
    * from snapshot metadata (footer bounds) — already exact there, and free.
    * Exact NDV (`COUNT(DISTINCT)`) keeps the stored numbers verifiable by
    * any engine; Spark plans the multi-distinct agg as one Expand + one
    * shuffle with map-side partials. At 100 TB pass `exact = false`:
    * HLL++ `approx_count_distinct` is a bounded-memory one-pass sketch —
    * the same trade Iceberg makes with theta sketches in Puffin.
    *
    * Keys: `stats.row-count`, `stats.snapshot-id`,
    * `stats.col.<name>.{ndv,nulls,min,max}`. Returns the merged properties.
    */
  def analyzeColumns(cols: Seq[String] = Nil, exact: Boolean = true): Map[String, String] = {
    val snap = latest
    val logical = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    val targets: Seq[String] =
      if (cols.isEmpty) logical.fields.map(_.name).toSeq
      else {
        cols.foreach(c => require(logical.fieldNames.contains(c),
          s"analyze: no column $c in $tableDir"))
        cols
      }
    val df = readSnapshot(snap)
    val aggs = targets.flatMap { c =>
      val ndv = if (exact) countDistinct(col(c))
        else approx_count_distinct(col(c))
      Seq(ndv.as(s"ndv:$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls:$c"))
    }
    val row = df.agg(count(lit(1)).as("rc"), aggs: _*).collect().head
    val rc = row.getAs[Long]("rc")
    val updates = scala.collection.mutable.Map[String, Option[String]](
      StatsRowCountProp -> Some(rc.toString),
      StatsSnapshotProp -> Some(snap.snapshotId.toString))
    targets.foreach { c =>
      updates(s"$StatsColPrefix$c.ndv") = Some(row.getAs[Long](s"ndv:$c").toString)
      updates(s"$StatsColPrefix$c.nulls") =
        Some(Option(row.get(row.fieldIndex(s"nulls:$c"))).fold("0")(_.toString))
      // bounds only where footer stats are exact for the type; stale keys
      // from a prior analyze are removed rather than left lying
      minMaxFromMetadata(c, Some(snap)) match {
        case Some((mn, mx)) =>
          updates(s"$StatsColPrefix$c.min") = Some(mn.toString)
          updates(s"$StatsColPrefix$c.max") = Some(mx.toString)
        case None =>
          updates(s"$StatsColPrefix$c.min") = None
          updates(s"$StatsColPrefix$c.max") = None
      }
    }
    setProperties(updates.toMap)
  }

  /** The `ns.t.column_stats` metadata relation: one row per analyzed column
    * out of the stored `stats.*` properties — (col_name, ndv, null_count,
    * min, max, row_count, analyzed_snapshot_id). Empty until `analyzeColumns`
    * (or `ANALYZE TABLE` / `CALL compute_table_stats`) has run.
    */
  def columnStatsTable(): DataFrame = {
    import spark.implicits._
    val props = properties
    val rc = props.get(StatsRowCountProp).map(_.toLong)
    val sid = props.get(StatsSnapshotProp).map(_.toLong)
    val colNames = props.keys.collect {
      case k if k.startsWith(StatsColPrefix) =>
        val rest = k.stripPrefix(StatsColPrefix)
        rest.take(rest.lastIndexOf('.'))
    }.toSeq.distinct.sorted
    colNames.map { c =>
      (c, props.get(s"$StatsColPrefix$c.ndv").map(_.toLong),
        props.get(s"$StatsColPrefix$c.nulls").map(_.toLong),
        props.get(s"$StatsColPrefix$c.min"), props.get(s"$StatsColPrefix$c.max"),
        rc, sid)
    }.toDF("col_name", "ndv", "null_count", "min", "max",
      "row_count", "analyzed_snapshot_id")
  }

  /** D4 — add column with default (ref schema_evolution_sales_events.sql:3-4).
    * An explicit default (even the empty string) replays over pre-evolution
    * rows; the no-default overload replays NULL — absence is encoded by
    * omitting the key, never by a sentinel value.
    */
  def addColumn(name: String, dataType: String): Snapshot =
    addColumn(name, dataType, None)
  def addColumn(name: String, dataType: String, default: String): Snapshot =
    addColumn(name, dataType, Some(default))
  def addColumn(name: String, dataType: String, default: Option[String]): Snapshot =
    evolveSchema(GraftTable.addColumnOp(name, dataType, default),
      s => StructType(s.fields :+ org.apache.spark.sql.types.StructField(
        name, DataType.fromDDL(dataType), nullable = true)), "add-column")

  /** D5 — rename column (ref schema_evolution_sales_events.sql:6-7). */
  def renameColumn(from: String, to: String): Snapshot =
    evolveSchema(GraftTable.renameColumnOp(from, to),
      s => StructType(s.fields.map(f => if (f.name == from) f.copy(name = to) else f)),
      "rename-column")

  /** D6 — type widening (ref schema_evolution_sales_events.sql:9-10). */
  def widenColumn(name: String, newType: String): Snapshot =
    evolveSchema(GraftTable.widenColumnOp(name, newType),
      s => StructType(s.fields.map(f =>
        if (f.name == name) f.copy(dataType = DataType.fromDDL(newType)) else f)),
      "widen-column")

  /** Drop a column (metadata-only, like the Iceberg `drop column`): old
    * files keep the physical data; reads replay the drop so the column never
    * surfaces, and a later re-`addColumn` of the same name starts a FRESH
    * column (`SnapshotPlanner.source` resolves the name to the add, so old
    * files' values and stats never alias in — on every read path).
    * Refused for columns the table still depends on: partition columns
    * (identity or a transform's source) and live MOR delete keys — dropping
    * those would break scan planning / delete application, not just hide
    * data.
    */
  def dropColumn(name: String): Snapshot = {
    val snap = latest
    require(snap.partitionCols.forall(_ != name),
      s"cannot drop partition column $name of $tableDir")
    require(!GraftTable.parseTransforms(properties).exists(_.src == name),
      s"cannot drop $name: it is the source of a partition transform in $tableDir")
    val liveKeyCols = snap.deletes
      .flatMap(d => d.keyCols.map(k => SnapshotPlanner.currentName(snap, k, d.appliedAt)))
    require(!liveKeyCols.contains(name),
      s"cannot drop $name: live merge-on-read delete files key on it in $tableDir")
    evolveSchema(GraftTable.dropColumnOp(name),
      s => {
        require(s.fieldNames.contains(name), s"no column $name in $tableDir")
        StructType(s.fields.filterNot(_.name == name))
      }, "drop-column")
  }

  /** S3 — bulk append (ref blob-dfs_bench.py:104-106). Metadata-only for
    * existing files. `sortWithinPartitionsCols` implements WRITE ORDERED BY
    * (O5, ref create_sales_events.sql:21-24). `extraSummary` entries land in
    * the snapshot's summary map (e.g. the streaming sink's batch-id marker).
    */
  /** `basedOn` pins the commit to an observed head (same refusal contract
    * as [[commitMorDelta]]): if the table advanced since, the commit throws
    * ConcurrentModificationException instead of landing — for callers whose
    * append is NOT idempotent relative to a state they read (e.g. a CDC
    * follower applying a delta derived from the offset at that head).
    */
  /** `preCommit` runs INSIDE every CAS attempt, before the snapshot is
    * built — a caller-supplied fence (e.g. the streaming epoch's
    * `stream-batch-id` re-check) that can abort the commit by throwing even
    * after the data files are staged; staged files are removed on abort.
    */
  def append(df: DataFrame, sortWithinPartitionsCols: Seq[String] = Nil,
      extraSummary: Map[String, String] = Map.empty,
      basedOn: Option[Snapshot] = None,
      preCommit: Option[Snapshot] => Unit = _ => ()): Snapshot =
    commitData(df, "append", parentFiles = true, sortWithinPartitionsCols,
      extraSummary, basedOn, preCommit)

  /** Commit one DSv2 STREAMING epoch as an exactly-once append — the
    * driver half of `df.writeStream.format("graft")`
    * (graft.sources.GraftWrite): the epoch's tasks already wrote their files
    * at their final names, and `written` holds the entries their commit
    * messages named. The commit fences on the same `stream-batch-id`
    * summary key as the foreachBatch sinks (StreamOps.ingestBatch), checked
    * again INSIDE the CAS retry so two racing replays of one epoch cannot
    * both land; Spark's at-least-once epoch replay after a restart upgrades
    * to exactly-once. Returns None when the epoch was already committed
    * (the replay's files are deleted).
    *
    * Only message-named files are committed — never a listing — so a
    * zombie attempt's file stays unreferenced (an orphan for
    * `remove_orphan_files`). A named file that is MISSING means the
    * coordinator accepted a task whose output vanished: refuse loudly
    * rather than silently drop its rows.
    */
  def commitStreamingEpoch(epochId: Long, written: Seq[FileEntry]): Option[Snapshot] = {
    final case class EpochDone() extends RuntimeException
    def fence: Option[Long] = snapshotsList.flatMap(s =>
      s.summary.get("stream-batch-id") ++
        s.summary.get(GraftTable.CarriedFencePrefix + "stream-batch-id"))
      .map(_.toLong).maxOption
    val dataRoot = SnapshotLog.dataPath(tableDir)
    def drop(): Unit = written.foreach(e => scala.util.Try(
      hfs.delete(new org.apache.hadoop.fs.Path(dataRoot, e.path), false)))
    if (fence.exists(_ >= epochId)) { drop(); return None }
    written.foreach(e => require(hfs.exists(new org.apache.hadoop.fs.Path(dataRoot, e.path)),
      s"streaming epoch $epochId: committed task file ${e.path} is missing"))
    val parentSnap = latest
    try Some(commitWithRetry { p0 =>
      val p = p0.getOrElse(throw new IllegalStateException(
        s"streaming write into $tableDir: table has no snapshots"))
      if (fence.exists(_ >= epochId)) throw EpochDone()
      if (shapeOf(DataType.fromJson(p.schemaJson).asInstanceOf[StructType]) !=
          shapeOf(DataType.fromJson(parentSnap.schemaJson).asInstanceOf[StructType]) ||
          p.partitionCols != parentSnap.partitionCols)
        throw new java.util.ConcurrentModificationException(
          s"schema or partitioning of $tableDir evolved concurrently with the streaming epoch")
      val id = p.snapshotId + 1
      val files = (p.files ++ written.map(_.copy(writtenAt = id))).toList
      // a zero-file epoch still advances the fence (no write schema
      // recorded — the streaming source skips it like any empty append)
      val schemas =
        if (written.isEmpty) schemasFor(files, p.schemas)
        else schemasFor(files, p.schemas + (id.toString -> p.schemaJson))
      Snapshot(id, Some(p.snapshotId), clock(), "append", p.schemaJson,
        p.partitionCols, files,
        Map("stream-batch-id" -> epochId.toString,
          "added-files" -> written.size.toString),
        Nil, schemas, p.chain, p.deletes)
    }) catch {
      case _: EpochDone => drop(); None
      case e: Throwable => drop(); throw e
    }
  }

  /** Zero-copy import of existing parquet files — the Iceberg
    * `add_files`/`migrate` procedure family (onboard data another engine
    * wrote without rewriting a byte). Files are RENAMED into the table's
    * shared data layout — an O(1) metadata move per file on the same
    * filesystem, never a data copy — and their parquet footers are harvested
    * at import, so row counts, min/max pruning, and metadata-only aggregates
    * work on imported files exactly as on written ones from the first read.
    *
    * Ownership transfers to the table (Iceberg `migrate` semantics). The
    * in-place external reference of Iceberg's `add_files` is deliberately
    * NOT offered: this format's GC ownership boundary is its single data
    * root — orphan scans and snapshot expiry reason only about files under
    * it, and an external reference would silently dodge both.
    *
    * Source layout contract: hive `k=v` subdirectories map to partition
    * columns and must cover the table's partition spec exactly; file
    * schemas must match the table's current logical schema minus partition
    * columns (the table's own layout keeps partition values in directories,
    * not files). Leaf names are uniquified on the way in (import sources
    * repeat `part-00000-…` names; merge-on-read delete applicability is
    * keyed by globally-unique part names). Empty files are skipped in
    * place; an unreadable footer refuses the whole import BEFORE any file
    * moves; a failed commit moves every imported file back.
    */
  def addFiles(sourceDir: String): Snapshot = {
    val src = new org.apache.hadoop.fs.Path(sourceDir)
    require(hfs.exists(src), s"add_files source $sourceDir does not exist")
    // importing from inside the table itself would rename LIVE files onto
    // new names and double-reference their rows — refuse before looking.
    // The check is symmetric: a source that CONTAINS the table (its parent)
    // would recursively list the table's own data/ files and corrupt it the
    // same way, so either direction of containment refuses.
    val tableQual = hfs.makeQualified(
      new org.apache.hadoop.fs.Path(tableDir)).toString
    val srcQualTop = hfs.makeQualified(src).toString
    require(!(srcQualTop + "/").startsWith(tableQual + "/"),
      s"add_files source $sourceDir lies inside table $tableDir")
    require(!(tableQual + "/").startsWith(srcQualTop + "/"),
      s"add_files source $sourceDir contains table $tableDir — importing " +
        "would rename the table's own live data files")
    val parentSnap = latest
    val partCols = parentSnap.partitionCols
    val logical = DataType.fromJson(parentSnap.schemaJson).asInstanceOf[StructType]
    val srcFiles = listParquetFiles(src)
    require(srcFiles.nonEmpty, s"add_files: no parquet files under $sourceDir")
    val srcQual = hfs.makeQualified(src).toString
    val parsed = srcFiles.map { f =>
      val rel = hfs.makeQualified(f).toString.stripPrefix(srcQual).stripPrefix("/")
      val partVals = rel.split("/").dropRight(1).filter(_.contains("="))
        .map { seg => val Array(k, v) = seg.split("=", 2); k -> v }.toMap
      require(partVals.keySet == partCols.toSet,
        s"add_files: $rel carries partition dirs [${partVals.keySet.mkString(",")}] " +
          s"but $tableDir is partitioned by [${partCols.mkString(",")}]")
      (f, rel, partVals)
    }
    // Shape check through Spark's own reader (data columns + hive partition
    // columns must equal the table's logical shape — the same rule append
    // enforces). Partition columns compare by NAME only: their directory-
    // inferred type is irrelevant because every table read forces the
    // logical schema over basePath discovery.
    val srcSchema = spark.read.option("basePath", sourceDir).parquet(sourceDir).schema
    def minusParts(s: StructType): StructType =
      StructType(s.fields.filterNot(f => partCols.contains(f.name)))
    require(partCols.forall(srcSchema.fieldNames.contains),
      s"add_files: source layout misses partition column(s) " +
        partCols.filterNot(srcSchema.fieldNames.contains).mkString(", "))
    require(shapeOf(minusParts(srcSchema)) == shapeOf(minusParts(logical)),
      s"add_files: source schema ${minusParts(srcSchema).simpleString} does not " +
        s"match table $tableDir ${minusParts(logical).simpleString}")
    // Footers are read at the SOURCE, so a corrupt file refuses the import
    // while everything still sits untouched where the caller put it.
    // 16-way parallel — a large import is O(files) driver metadata work
    // either way (PlanningScaleSpec bounds the class), but serial footer
    // I/O would dominate wall-clock.
    val withStats = {
      import scala.collection.parallel.CollectionConverters._
      val par = parsed.par
      par.tasksupport = new scala.collection.parallel.ForkJoinTaskSupport(
        new java.util.concurrent.ForkJoinPool(16))
      try par.map { case (f, rel, pv) =>
        val (rows, st) = footerMeta(f)
        require(rows >= 0,
          s"add_files: unreadable parquet footer for $rel — refusing import")
        (f, rel, pv, rows, st)
      }.seq
      finally par.tasksupport.asInstanceOf[scala.collection.parallel.ForkJoinTaskSupport]
        .forkJoinPool.shutdown()
    }
    val dataRoot = SnapshotLog.dataPath(tableDir)
    val guessId = parentSnap.snapshotId + 1
    val token = java.util.UUID.randomUUID().toString.take(8)
    val moved: Seq[(org.apache.hadoop.fs.Path, FileEntry)] =
      withStats.zipWithIndex.flatMap { case ((f, rel, pv, rows, st), i) =>
        if (rows == 0L) None // provably empty: never referenced, left in place
        else {
          val dirPart = rel.split("/").dropRight(1).filter(_.contains("=")).mkString("/")
          val name = f"import-$guessId%08d-$token-$i-${f.getName}"
          val destRel = if (dirPart.isEmpty) name else s"$dirPart/$name"
          val dest = new org.apache.hadoop.fs.Path(dataRoot, destRel)
          hfs.mkdirs(dest.getParent)
          require(hfs.rename(f, dest), s"add_files: could not move $f to $dest")
          // rename preserves the SOURCE mtime — an old source file would sit
          // unreferenced with an ancient timestamp until the commit lands,
          // and a concurrent remove_orphan_files would delete it (fresh
          // writes are safe only because their mtimes are new). Touch the
          // mtime so imports enjoy the same in-flight grace window.
          hfs.setTimes(dest, System.currentTimeMillis(), -1)
          val size = hfs.getFileStatus(dest).getLen
          Some((f, FileEntry(destRel, pv, rows, size, guessId, st)))
        }
      }
    require(moved.nonEmpty, s"add_files: only empty parquet files under $sourceDir")
    def moveBack(): Unit = moved.foreach { case (orig, e) =>
      scala.util.Try(hfs.rename(new org.apache.hadoop.fs.Path(dataRoot, e.path), orig))
    }
    try commitWithRetry { parent =>
      val p = parent.getOrElse(throw new IllegalStateException(
        s"add_files into $tableDir: table has no snapshots"))
      // A concurrent schema or partition evolution means the files no longer
      // match what they were validated against — abort (files move back).
      val cur = DataType.fromJson(p.schemaJson).asInstanceOf[StructType]
      if (shapeOf(cur) != shapeOf(logical))
        throw new java.util.ConcurrentModificationException(
          s"schema of $tableDir evolved concurrently with add_files")
      if (p.partitionCols != partCols)
        throw new java.util.ConcurrentModificationException(
          s"partitioning of $tableDir evolved concurrently with add_files")
      val id = p.snapshotId + 1
      // writtenAt = this commit: existing equality deletes (appliedAt <= id)
      // never touch imported rows, exactly as with an append's rows
      val files = (p.files ++ moved.map(_._2.copy(writtenAt = id))).toList
      Snapshot(id, Some(p.snapshotId), clock(), "add-files", p.schemaJson,
        p.partitionCols, files,
        Map("added-files" -> moved.size.toString, "import-source" -> sourceDir),
        Nil, schemasFor(files, p.schemas + (id.toString -> p.schemaJson)),
        p.chain, p.deletes)
    } catch { case e: Throwable => moveBack(); throw e }
  }

  /** Replace all data with `df` (used by compaction and full rewrites). */
  def overwrite(df: DataFrame, operation: String = "overwrite"): Snapshot =
    commitData(df, operation, parentFiles = false)

  /** Optimistic-commit loop: rebuild the snapshot against the CURRENT parent
    * on every attempt, so a loser retries with the winner's state instead of
    * silently dropping it (blind id-bumping would lose a concurrent append's
    * files). `build` may throw to abort (rewrite conflict validation).
    *
    * Losers back off with jitter (the Iceberg commit-retry shape): under N
    * racing committers a tight loop makes every loser re-list and re-lose in
    * lockstep, and a bounded attempt count can exhaust on a loaded machine —
    * a short randomized sleep that grows with the attempt count breaks the
    * convoy while keeping the uncontended path sleep-free.
    */
  private def commitWithRetry(build: Option[Snapshot] => Snapshot): Snapshot = {
    var attempts = 0
    while (attempts < 50) {
      val parent = snapshotsList.lastOption
      val snap = build(parent)
      // parent rides along so the published doc can be delta-encoded
      // (O(changed files) metadata per commit — SnapshotLog.SnapDoc)
      if (SnapshotLog.commit(conf, tableDir, snap, parent)) return snap
      attempts += 1
      Thread.sleep(ThreadLocalRandom.current().nextLong(1L, math.min(100L, 2L + attempts * 4L)))
    }
    throw new IllegalStateException(s"could not commit after $attempts retries in $tableDir")
  }

  /** Durable idempotence fences (stream batch ids, CDC follow offsets,
    * staged-stream ids) live in snapshot summaries — aggressive snapshot
    * expiry after maintenance commits would otherwise GC the fence and
    * silently re-open exactly-once paths to replays. Maintenance commits
    * therefore CARRY the current max of each fence key forward under
    * `carried:<key>` (a distinct key, so consumers that count genuine
    * stream commits by the primary key are unaffected); fence readers take
    * the max over both forms.
    */
  private def carriedFences(): Map[String, String] = {
    val snaps = snapshotsList
    def isFence(k: String): Boolean =
      k == "stream-batch-id" || k == "follow-src-snapshot" ||
        k.startsWith(GraftTable.StagedStreamKeyPrefix)
    val keys = snaps.flatMap(_.summary.keys).collect {
      case k if isFence(k) => k
      case k if k.startsWith(GraftTable.CarriedFencePrefix) =>
        k.stripPrefix(GraftTable.CarriedFencePrefix)
    }.toSet
    keys.flatMap { k =>
      snaps.flatMap(s => s.summary.get(k) ++
          s.summary.get(GraftTable.CarriedFencePrefix + k))
        .map(_.toLong).maxOption
        .map(v => (GraftTable.CarriedFencePrefix + k) -> v.toString)
    }.toMap
  }

  /** Commit a snapshot that keeps `keepFiles` from the snapshot the rewrite
    * was planned against and adds the files produced by writing `df`
    * (maintenance's rewrite primitive). Conflict rule (Iceberg's
    * serializable validation): any commit that landed after `basedOn`
    * aborts the rewrite — a concurrent append could hold rows the rewrite
    * should have seen, and a concurrent rewrite may have replaced files
    * this plan kept.
    */
  def commitRewrite(df: DataFrame, keepFiles: Seq[FileEntry], operation: String,
      basedOn: Option[Snapshot] = None, clearDeletes: Boolean = false,
      advisoryBytesOverride: Option[Long] = None): Snapshot = {
    val planned = basedOn.getOrElse(latest)
    commitReplace(writeDataFiles(df, planned.snapshotId + 1,
      advisoryOverride = advisoryBytesOverride), keepFiles, operation, planned, clearDeletes)
  }

  /** [[commitRewrite]]'s commit, for files already written (copy-on-write
    * DML, the connector's row-level and filter-overwrite writes). A commit
    * that fails deletes them. */
  private[graft] def commitReplace(written: Seq[FileEntry], keepFiles: Seq[FileEntry],
      operation: String, planned: Snapshot, clearDeletes: Boolean = false): Snapshot = {
    val fences = carriedFences()
    onFailureDrop(written.map(_.path)) { commitWithRetry { parent =>
      val p = parent.getOrElse(throw new IllegalStateException("rewrite on empty table"))
      if (p.snapshotId != planned.snapshotId)
        throw new java.util.ConcurrentModificationException(
          s"table advanced to ${p.snapshotId} since rewrite planned at ${planned.snapshotId}")
      val files = (keepFiles ++ written.map(_.copy(writtenAt = p.snapshotId + 1))).toList
      // Equality deletes ride along: rewritten output was read with deletes
      // APPLIED and carries writtenAt = the new id ≥ every appliedAt, so the
      // carried deletes no longer touch it; kept files still need them.
      // `clearDeletes` (delete materialization) drops them once no kept file
      // is affected — the caller proves that by rewriting every affected file.
      val deletes = if (clearDeletes) Nil else p.deletes
      Snapshot(p.snapshotId + 1, Some(p.snapshotId), clock(), operation, p.schemaJson,
        p.partitionCols, files,
        fences ++ Map("added-files" -> written.size.toString), Nil,
        schemasFor(files, p.schemas + ((p.snapshotId + 1).toString -> p.schemaJson)),
        p.chain, deletes)
    } }
  }

  /** Delete the files at `written` (paths relative to `data/`) when
    * `commit` throws: a failed write leaves nothing behind. */
  private def onFailureDrop[A](written: Seq[String])(commit: => A): A =
    try commit catch { case e: Throwable =>
      val dataRoot = SnapshotLog.dataPath(tableDir)
      written.foreach(p => scala.util.Try(
        hfs.delete(new org.apache.hadoop.fs.Path(dataRoot, p), false)))
      throw e
    }

  /** Merge-on-read commit primitive (the Iceberg v2 equality-delete write
    * path): ONE commit that adds an equality-delete file holding `keys`'
    * tuples. No existing data file is opened or rewritten: at 100 TB a
    * keyed delete batch costs O(batch), not O(matched files), with the
    * reconciliation deferred to reads (a per-row check on the files the
    * delete can touch — `SnapshotPlanner.applies`) and ultimately to
    * `Maintenance.materializeDeletes`. The delete applies to data files with
    * `writtenAt < appliedAt` (this commit's id). The Flink-CDC upsert shape
    * (delete keys + insert rows atomically) is [[commitUpsert]]; key types
    * are as in [[commitDelta]].
    */
  def commitMorDelta(keys: DataFrame, operation: String): Snapshot = {
    require(keys.columns.nonEmpty, "merge-on-read delete needs at least one key column")
    commitDelta(keys.select(keys.columns.map(k => col(k).as(deleteKeyCol(k))) :+
      lit(true).as(DeleteFlag): _*), keys.columns.toSeq, operation)
  }

  /** Positional merge-on-read commit primitive (the Iceberg v3
    * deletion-vector shape): ONE commit that adds a delete VECTOR —
    * (part-file name, row position) tuples addressing exactly the rows to
    * drop. Same O(batch) cost shape as [[commitMorDelta]], but no
    * identifier columns are trusted and a non-unique key can never
    * over-delete: the vector names rows, not values. `dv` must have exactly
    * the columns (`_gf_file` string, `_gf_pos` long) as produced by
    * [[readSnapshotTagged]]'s file/pos tagging. With `skipEmpty`, an empty
    * vector commits nothing.
    */
  def commitDvDelta(dv: DataFrame, operation: String,
      basedOn: Option[Snapshot] = None, skipEmpty: Boolean = false): Snapshot = {
    val dvCols = dv.schema.fieldNames.toSeq
    require(dvCols == Seq(GraftTable.WrittenAtCol, GraftTable.PosCol),
      s"delete vector must have columns (${GraftTable.WrittenAtCol}, " +
        s"${GraftTable.PosCol}); got ${dvCols.mkString(", ")}")
    commitDelta(dv.withColumn(DeleteFlag, lit(true)), Nil, operation, basedOn,
      skipEmpty = skipEmpty)
  }

  /** Upsert as one change set: every row of `rows` (table-shaped) deletes
    * its `keyCols` tuple; the rows where `keep` holds append. */
  def commitUpsert(rows: DataFrame, keyCols: Seq[String], operation: String,
      keep: Column = lit(true), basedOn: Option[Snapshot] = None,
      extraSummary: Map[String, String] = Map.empty): Snapshot =
    commitDelta(rows.select(keyCols.map(k => col(k).as(deleteKeyCol(k))) ++
      schema.fieldNames.map(col) :+ lit(true).as(DeleteFlag) :+ keep.as(AppendFlag): _*),
      keyCols, operation, basedOn, extraSummary)

  /** The one merge-on-read delta commit. `change` holds per row a delete
    * payload — the [[deleteKeyCol]] columns of `keyCols` (equality; each key
    * must widen to its column's type, as a narrowing could wrap onto another
    * row's key, and is stored in it), or `(_gf_file, _gf_pos)` when
    * `keyCols` is empty (a vector) — the table's columns, and the
    * [[DeleteFlag]] / [[AppendFlag]] booleans. A change set with no
    * [[AppendFlag]] column only deletes: its one consumer, the delete write,
    * evaluates it once, and sizes it by Catalyst's estimate.
    *
    * Otherwise `change` is evaluated ONCE ([[GraftTable.evaluatedOnce]])
    * and measured by the one job that computes it (bytes to delete, bytes
    * to append); both writes then read the checkpoint. An error raised
    * while evaluating it (a MERGE cardinality violation) surfaces before
    * any file is written. Delete shards and append write tasks are sized
    * by the measured bytes. With `skipEmpty`, deleting nothing commits
    * nothing.
    *
    * A vector addresses the PLANNED file set, which a commit landing in
    * between (compaction, COW DML) could move rows out of, so it always
    * aborts when the table advanced past its plan. An equality commit
    * aborts only when `basedOn` is given (serializable planning); otherwise
    * it retries against the current parent, composing with concurrent
    * appends (the delete is the later commit and applies to them).
    */
  private[graft] def commitDelta(change: DataFrame, keyCols: Seq[String], operation: String,
      basedOn: Option[Snapshot] = None, extraSummary: Map[String, String] = Map.empty,
      skipEmpty: Boolean = false): Snapshot = {
    val positional = keyCols.isEmpty
    val cur = schema
    val payloadCols = if (positional) Seq(WrittenAtCol, PosCol) else keyCols.map(deleteKeyCol)
    val payload =
      if (positional) payloadCols.map(col)
      else keyCols.map { k =>
        require(cur.fieldNames.contains(k), s"delete key column $k is not a column of $tableDir")
        val dt = change.schema(deleteKeyCol(k)).dataType
        require(Cast.canUpCast(dt, cur(k).dataType),
          s"delete key column $k of type ${dt.simpleString} " +
            s"cannot widen to the column's ${cur(k).dataType.simpleString}")
        // stored in the column's own type, so the footer bounds are the column's
        col(deleteKeyCol(k)).cast(cur(k).dataType).as(k)
      }
    val planned = basedOn.getOrElse(latest)
    def publish(delWritten: Seq[DeleteEntry], dataWritten: Seq[FileEntry]): Snapshot =
      onFailureDrop(delWritten.map(_.path) ++ dataWritten.map(_.path)) { commitWithRetry { parent =>
        val p = parent.getOrElse(throw new IllegalStateException(s"$operation on empty table"))
        if ((positional || basedOn.isDefined) && p.snapshotId != planned.snapshotId)
          throw new java.util.ConcurrentModificationException(
            s"table advanced to ${p.snapshotId} since $operation planned at ${planned.snapshotId}")
        if (positional) checkVectorCounts(p, delWritten)
        val id = p.snapshotId + 1
        val files = (p.files ++ dataWritten.map(_.copy(writtenAt = id))).toList
        val delEntries = delWritten.map(_.copy(keyCols = keyCols.toList, appliedAt = id))
        Snapshot(id, Some(p.snapshotId), clock(), operation, p.schemaJson,
          p.partitionCols, files,
          extraSummary ++ Map("added-delete-files" -> delEntries.size.toString,
            "added-files" -> dataWritten.size.toString) ++
            (if (positional) Map("delete-representation" -> "positional") else Map.empty),
          Nil, schemasFor(files, p.schemas + (id.toString -> p.schemaJson)),
          p.chain, (p.deletes ++ delEntries).toList)
      } }
    if (!change.columns.contains(AppendFlag)) {
      val written = writeDeleteFile(change.filter(col(DeleteFlag)).select(payload: _*), positional)
      return if (skipEmpty && written.isEmpty) planned else publish(written, Nil)
    }
    require(cur.fields.forall(f => change.schema.exists(c =>
      c.name == f.name && c.dataType == f.dataType)),
      s"$operation append schema does not match table $tableDir")
    // a row's bytes as a shuffle would carry them
    def bytesOf(cols: Seq[String]): Column = cols.map(c => change.schema(c).dataType match {
      case StringType | BinaryType => coalesce(octet_length(col(c)), lit(0))
      case dt => lit(dt.defaultSize)
    }).foldLeft(lit(8))(_ + _)
    val deletes = coalesce(col(DeleteFlag), lit(false))
    val appends = coalesce(col(AppendFlag), lit(false))
    // replacing rows are written apart from new ones, so a data file's key
    // bounds span one of the two key sets, not both
    val groups = Seq(appends && deletes, appends && !deletes)
    val sizes = (deletes -> payloadCols) +: groups.map(_ -> cur.fieldNames.toSeq)
    GraftTable.evaluatedOnce(change) { cached =>
      // one job, no shuffle: computes the checkpoint and measures it
      val n = sizes.size
      val Seq(delBytes, groupBytes @ _*) = cached.select(sizes.map { case (p, cs) =>
          when(p, bytesOf(cs)).otherwise(lit(0)).cast("long") }: _*)
        .queryExecution.toRdd.map(r => Seq.tabulate(n)(r.getLong))
        .fold(Seq.fill(n)(0L))((a, b) => a.zip(b).map { case (x, y) => x + y })
      if (skipEmpty && delBytes == 0) planned
      else {
        val delWritten =
          if (delBytes == 0) Nil
          else writeDeleteFile(cached.filter(deletes).select(payload: _*), positional,
            Some(BigInt(delBytes)))
        // one write task per advisory size, as a rebalance would split them
        val advisory = writeAdvisory(properties).getOrElse(spark.sessionState.conf.getConf(
          org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
        val parts = groups.zip(groupBytes).collect { case (g, b) if b > 0 =>
          cached.filter(g).select(cur.fieldNames.map(col): _*)
            .coalesce(math.min((b + advisory - 1) / advisory, Int.MaxValue).toInt)
        }
        val dataWritten =
          if (parts.isEmpty) Nil else writeDataFiles(parts.reduce(_ union _), planned.snapshotId + 1)
        publish(delWritten, dataWritten)
      }
    }
  }

  /** Refuse vectors naming a file that is not live in their parent `p`, or
    * deleting more rows of a file than it holds, with `p`'s vectors on it. */
  private def checkVectorCounts(p: Snapshot, vectors: Seq[DeleteEntry]): Unit = {
    val live = p.files.map(f => f.partName -> f).toMap
    vectors.flatMap(_.deletedRows.getOrElse(Map.empty)).groupMapReduce(_._1)(_._2)(_ + _)
      .foreach { case (name, n) =>
        val f = live.getOrElse(name, throw new IllegalStateException(
          s"delete vector names $name, which is not a live data file of snapshot ${p.snapshotId}"))
        val total = n + p.deletes.flatMap(_.deletedRows.flatMap(_.get(name))).sum
        if (f.rowCount >= 0 && total > f.rowCount)
          throw new IllegalStateException(s"delete vectors delete $total rows of $name, " +
            s"which holds ${f.rowCount}: a vector deletes a row an earlier one deleted")
      }
  }

  /** Write `keys` as parquet under `data/_deletes/` (the underscore keeps
    * data-scan partition discovery blind to it) and return entries with
    * placeholder keyCols/appliedAt (the commit loop fills them in) and the
    * footer stats — the bounds the per-file delete rule reads. A `vector`
    * (`(_gf_file, _gf_pos)` rows) gets its per-file counts from the writer
    * instead of stats.
    */
  private def writeDeleteFile(keys: DataFrame, vector: Boolean,
      measuredBytes: Option[BigInt] = None): Seq[DeleteEntry] = {
    // ONE delete file per commit by default: a delete batch is keys, not
    // data — small relative to the table by construction — and a single
    // file keeps the delete files a read parses exactly as many as the
    // un-materialized delete COMMITS. But a MOR UPDATE/MERGE
    // matching a large fraction of the table produces an UNBOUNDED vector,
    // and funneling it through one task is the write-side ceiling at 100 TB
    // (Iceberg shards position deletes per partition for the same reason):
    // above a size threshold, shard the write by RANGE — positional
    // vectors on their target file name (each shard holds every tuple of
    // the files it names, which its per-file counts need), key batches
    // on their first key column — so shards have disjoint bounds and the
    // per-file rule marks a data file only with the shards that name it
    // or whose keys it can hold. The read side already unions per-commit files, so
    // a multi-file delete commit costs nothing extra to apply.
    // The size is the delta commit's measured payload; without one it is
    // Catalyst's sizeInBytes, a BigInt that join-heavy plans can estimate
    // absurdly high (1e20 observed on the consolidation merge) — anything
    // past ~1 PB is an estimate artifact, never a real delete batch (a DV
    // is bounded by table row count: even an all-rows vector on a 100 TB
    // table is ~5e13 bytes). Untrusted estimates keep the single-file
    // shape; NEVER narrow the BigInt before the comparison (a wrapped
    // toLong/toInt here once produced a 2-billion-partition shuffle).
    val estBytes = measuredBytes.getOrElse(keys.queryExecution.optimizedPlan.stats.sizeInBytes)
    val saneCeiling = BigInt("1000000000000000") // 1e15
    val staged =
      if (estBytes <= GraftTable.DeleteShardBytes || estBytes > saneCeiling)
        keys.coalesce(1)
      else {
        // explicit shard count (estimate / ceiling, capped at 64): AQE
        // would otherwise coalesce a keyed repartition back to one task
        val shards =
          ((estBytes / GraftTable.DeleteShardBytes) + 1).min(BigInt(64)).toInt
        keys.repartitionByRange(shards, col(keys.columns.head))
      }
    // a sharded write's empty range shards write no file
    val out = DataFileWriter.run(staged,
      writerFactory(keys.schema, Nil, "del", deletes = true, vector = vector))
    // a vector's counts name its files: its footer bounds are never read
    out.entries.map(e => DeleteEntry(e.path, Nil, e.rowCount, e.sizeBytes, 0L, positional = vector,
      stats = if (vector) Map.empty else e.stats, deletedRows = out.deleted.get(e.path)))
  }

  /** M-step — the Iceberg `rewrite_position_delete_files` analog for
    * equality deletes: drop DANGLING entries (the per-file rule,
    * `SnapshotPlanner.applies`, holds for no live data file — the state
    * compaction leaves behind, or a delete whose keys miss every live
    * file's bounds) and CONSOLIDATE the survivors into one file per
    * resolved key-column group, carrying each tuple's own applicability bound in a
    * `_gf_applied_at` column. A key repeated across delete commits collapses
    * to its MAX bound — a row dies iff ANY merged delete applies iff
    * `writtenAt < max`, exactly the union semantics — so hot streaming-
    * upsert keys store once. Data files are untouched; the commit is
    * metadata plus O(delete tuples), never O(table).
    *
    * At 100 TB this keeps merge-on-read flat: the upsert sink adds one small
    * delete file per batch, and every read of a marked data file looks its
    * rows up in each of those N parsed files. After consolidation that is 1
    * per group. Old delete files stay for time travel until expiry + orphan
    * removal.
    * Returns None when nothing is dangling and every group is one file.
    *
    * `consolidate = false` runs only the dangling half — pure metadata,
    * zero file IO — which `maintainTable` applies after every compaction.
    */
  def rewriteDeleteFiles(consolidate: Boolean = true): Option[Snapshot] = {
    val planned = latest
    if (planned.deletes.isEmpty) return None
    // the reads' own rule: a delete no live file needs is dangling (exact
    // for counted vectors; the consolidation merge below drops the tuples
    // that name dead files)
    val plan = planner(planned)
    val (live0, dangling) = planned.deletes.partition(d =>
      planned.files.exists(plan.applies(d, _)))
    val (dvLive, live) = live0.partition(_.positional)
    // group by RESOLVED current key names (order-sensitive): entries whose
    // delete-time names differ but resolve identically merge; diverged
    // resolutions stay separate, exactly as they are separate read joins
    val groups = live.groupBy(d =>
      d.keyCols.map(k => SnapshotPlanner.currentName(planned, k, d.appliedAt)))
    val (toMerge, singles) =
      if (consolidate) groups.partition(_._2.size > 1)
      else (Map.empty[List[String], List[DeleteEntry]], groups)
    val mergeDv = consolidate && dvLive.size > 1
    if (dangling.isEmpty && toMerge.isEmpty && !mergeDv) return None
    val dataRoot = SnapshotLog.dataPath(tableDir).toString
    // all positional vectors collapse to ONE vector, keeping only tuples
    // that still name a live file. Vectors on one file are disjoint, so the
    // union needs no distinct: its writer's counts are the vectors' summed
    // counts over live files, and a repeated tuple fails the write.
    val dvWritten: Seq[DeleteEntry] = if (!mergeDv) dvLive else {
      import spark.implicits._
      val liveNamesDf = planned.files.map(_.partName).toDF(GraftTable.WrittenAtCol)
      val merged = dvLive.map(d => spark.read.parquet(s"$dataRoot/${d.path}"))
        .reduce(_.unionByName(_))
        .join(broadcast(liveNamesDf), Seq(GraftTable.WrittenAtCol), "left_semi")
        .select(col(GraftTable.WrittenAtCol), col(GraftTable.PosCol))
      writeDeleteFile(merged, vector = true).map(_.copy(appliedAt = dvLive.map(_.appliedAt).max))
    }
    val written = toMerge.toSeq.sortBy(_._1.mkString(",")).flatMap { case (curNames, entries) =>
      val canon = entries.maxBy(_.appliedAt)
      val curTypes = curNames.map(n => plan.schema(n).dataType)
      val union = entries.map { d =>
        val raw = spark.read.parquet(s"$dataRoot/${d.path}")
        val bounded = if (d.perRowAppliedAt) raw
          else raw.withColumn(SnapshotPlanner.AppliedAtCol, lit(d.appliedAt))
        // one atomic positional projection onto the canonical entry's
        // delete-time names (alias-select, immune to rename collisions), in
        // the columns' current types
        bounded.select(d.keyCols.zip(canon.keyCols).zip(curTypes).map {
          case ((from, to), dt) => col(from).cast(dt).as(to) } :+
          col(SnapshotPlanner.AppliedAtCol): _*)
      }.reduce(_.unionByName(_))
      val collapsed = union.groupBy(canon.keyCols.map(col): _*)
        .agg(max(col(SnapshotPlanner.AppliedAtCol)).as(SnapshotPlanner.AppliedAtCol))
      writeDeleteFile(collapsed, vector = false).map(_.copy(
        keyCols = canon.keyCols, appliedAt = canon.appliedAt, perRowAppliedAt = true))
    }
    val newDeletes =
      (singles.values.flatten ++ written ++ dvWritten).toList.sortBy(_.path)
    Some(commitWithRetry { parent =>
      val p = parent.getOrElse(
        throw new IllegalStateException("delete rewrite on empty table"))
      if (p.snapshotId != planned.snapshotId)
        throw new java.util.ConcurrentModificationException(
          s"table advanced to ${p.snapshotId} since delete rewrite planned at ${planned.snapshotId}")
      Snapshot(p.snapshotId + 1, Some(p.snapshotId), clock(), "rewrite-delete-files",
        p.schemaJson, p.partitionCols, p.files,
        Map("rewritten-delete-files" ->
          (toMerge.values.map(_.size).sum + (if (mergeDv) dvLive.size else 0)).toString,
          "added-delete-files" -> (written.size + (if (mergeDv) dvWritten.size else 0)).toString,
          "dangling-delete-files" -> dangling.size.toString),
        Nil, p.schemas, p.chain, newDeletes)
    })
  }

  /** Prune a schemas map to the writtenAt ids the file list still references,
    * so snapshot docs stay O(live schemas), not O(all schemas ever).
    */
  private def schemasFor(files: Seq[FileEntry], candidates: Map[String, String])
      : Map[String, String] = {
    val live = files.map(_.writtenAt.toString).toSet
    candidates.filter { case (k, _) => live.contains(k) }
  }

  /** Schema-evolution commit: no data movement; the new schema is recomputed
    * from the current parent on every retry so evolution composes with
    * concurrent appends.
    */
  def evolveSchema(op: String, schemaFn: StructType => StructType, operation: String): Snapshot =
    commitWithRetry { parent =>
      val p = parent.getOrElse(throw new IllegalStateException("evolve on empty table"))
      val newSchema = schemaFn(DataType.fromJson(p.schemaJson).asInstanceOf[StructType])
      Snapshot(p.snapshotId + 1, Some(p.snapshotId), clock(), operation, newSchema.json,
        p.partitionCols, p.files, Map.empty, List(op),
        schemasFor(p.files, p.schemas),
        p.chain :+ EvolutionStep(p.snapshotId + 1, List(op)), p.deletes)
    }

  /** Column shape (names + types, order-insensitive, nullability erased at
    * every nesting level) used to detect a schema change between writing
    * data files and committing them.
    */
  private def shapeOf(s: StructType): Set[(String, DataType)] =
    SqlInternals.asNullable(s).fields.map(f => (f.name, f.dataType)).toSet

  /** Driver-side metadata time of the LAST data commit on this instance:
    * everything after the executor write returns — snapshot build, delta
    * encode, atomic publish, retries. The bench reports it separately from
    * the write so the O(files) driver planning cost is visible at scale.
    */
  @volatile private[graft] var lastCommitNanos: Long = 0L

  private def commitData(df: DataFrame, operation: String, parentFiles: Boolean,
      sortCols: Seq[String] = Nil, extraSummary: Map[String, String] = Map.empty,
      basedOn: Option[Snapshot] = None,
      preCommit: Option[Snapshot] => Unit = _ => ()): Snapshot = {
    val writeShape = shapeOf(df.schema)
    // Fail a genuinely mis-shaped write BEFORE any data lands; the in-retry
    // check below then only ever fires for a true evolution race.
    snapshotsList.lastOption.foreach { p =>
      val cur = shapeOf(DataType.fromJson(p.schemaJson).asInstanceOf[StructType])
      require(cur == writeShape,
        s"$operation schema does not match table $tableDir: " +
          s"writing ${writeShape.toSeq.sortBy(_._1).mkString(", ")} " +
          s"into ${cur.toSeq.sortBy(_._1).mkString(", ")}")
    }
    commitWritten(writeDataFiles(df,
      snapshotsList.lastOption.map(_.snapshotId + 1).getOrElse(1L), sortCols),
      operation, parentFiles, df.schema, extraSummary, basedOn, preCommit)
  }

  /** [[commitData]]'s commit, for files already written (the connector's
    * batch writes): ONE snapshot that adds `written` — keeping the parent's
    * files for an append, replacing them for an overwrite. On ANY abort
    * (preCommit fence, basedOn pin, evolution race) the files are deleted
    * instead of left for the grace-period GC to find days later. */
  private[graft] def commitWritten(written: Seq[FileEntry], operation: String,
      parentFiles: Boolean, writeSchema: StructType,
      extraSummary: Map[String, String] = Map.empty, basedOn: Option[Snapshot] = None,
      preCommit: Option[Snapshot] => Unit = _ => ()): Snapshot = {
    val writeShape = shapeOf(writeSchema)
    val commitT0 = System.nanoTime()
    try onFailureDrop(written.map(_.path)) { commitWithRetry { parent =>
      preCommit(parent)
      basedOn.foreach { pinned =>
        if (parent.map(_.snapshotId).getOrElse(0L) != pinned.snapshotId)
          throw new java.util.ConcurrentModificationException(
            s"table advanced to ${parent.map(_.snapshotId)} since $operation " +
              s"planned at ${pinned.snapshotId} in $tableDir")
      }
      val id = parent.map(_.snapshotId + 1).getOrElse(1L)
      val keep = if (parentFiles) parent.map(_.files).getOrElse(Nil) else Nil
      val schemaJson = parent.map(_.schemaJson).getOrElse(writeSchema.json)
      // If a concurrent evolveSchema won the race between writeDataFiles and
      // this commit attempt, the parent schema no longer matches the bytes we
      // physically wrote — registering the files under the NEW schema would
      // read renamed/added columns as wrong/NULL. Abort instead (the caller
      // re-appends against the evolved table).
      parent.foreach { p =>
        val cur = DataType.fromJson(p.schemaJson).asInstanceOf[StructType]
        if (shapeOf(cur) != writeShape)
          throw new java.util.ConcurrentModificationException(
            s"schema of $tableDir evolved concurrently with an append: " +
              s"files were written as ${writeShape.toSeq.sortBy(_._1).mkString(", ")} " +
              s"but the table is now ${shapeOf(cur).toSeq.sortBy(_._1).mkString(", ")}")
      }
      // writtenAt follows the final id so evolution replay resolves the right
      // write-time schema (the shape check above rejects the only way the
      // final id's schema could differ from the write-time schema)
      val files = (keep ++ written.map(_.copy(writtenAt = id))).toList
      // append keeps the parent's equality deletes (they apply only to files
      // with writtenAt below their commit, never the rows appended here); a
      // full overwrite replaces all content, so deletes reset with it
      val deletes = if (parentFiles) parent.map(_.deletes).getOrElse(Nil) else Nil
      Snapshot(id, parent.map(_.snapshotId), clock(), operation, schemaJson,
        parent.map(_.partitionCols).getOrElse(Nil), files,
        extraSummary + ("added-files" -> written.size.toString), Nil,
        schemasFor(files,
          parent.map(_.schemas).getOrElse(Map.empty) + (id.toString -> schemaJson)),
        parent.map(_.chain).getOrElse(Nil), deletes)
    } } finally lastCommitNanos = System.nanoTime() - commitT0
  }

  /** D8 — partition evolution (spec ICEBERG-Interoperability-Test-Spec.md:79):
    * rewrite the current data under a new partition layout and record the new
    * partition columns in the snapshot. Data content is unchanged.
    */
  def evolvePartitioning(newPartitionCols: Seq[String]): Snapshot = {
    val planned = latest
    val written = writeDataFiles(readLatest(), planned.snapshotId + 1,
      partColsOverride = Some(newPartitionCols))
    onFailureDrop(written.map(_.path)) { commitWithRetry { parent =>
      val p = parent.getOrElse(throw new IllegalStateException("evolve on empty table"))
      if (p.snapshotId != planned.snapshotId)
        throw new java.util.ConcurrentModificationException(
          s"table advanced to ${p.snapshotId} since partition evolution planned at ${planned.snapshotId}")
      Snapshot(p.snapshotId + 1, Some(p.snapshotId), clock(), "evolve-partitioning",
        p.schemaJson, newPartitionCols.toList, written.toList,
        Map("added-files" -> written.size.toString), Nil,
        Map((p.snapshotId + 1).toString -> p.schemaJson), p.chain)
    } }
  }

  /** The advisory partition size a table write splits at: the table's
    * `write.target-file-size-bytes` (the Iceberg write knob the reference
    * configures, blob-dfs_bench.py / framework.yaml) times its
    * shuffle-to-parquet ratio. The rebalance splits on SHUFFLE bytes, but
    * parquet encodes several-fold smaller — without compensation a 64 MB
    * advisory lands ~8-15 MB files. `write.shuffle-compression-factor`
    * defaults to 2.0: oversizing a split is corrected by the next
    * compaction, undersizing never is. None when the table sets no target. */
  private[graft] def writeAdvisory(props: Map[String, String]): Option[Long] =
    props.get(TargetFileSizeProp)
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .map { target =>
        val factor = props.get(ShuffleCompressionFactorProp)
          .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(2.0)
        math.max(1L, (target * factor).toLong)
      }

  /** Write `df` as data files of the next commit (`snapshotId`) through
    * the one writer ([[DataFileWriter]]) and return their entries.
    *
    * write.distribution-mode=hash (ref framework.yaml:139): a partitioned
    * write clusters rows by partition value first, else every task emits a
    * file per partition value — task-count × partition-count tiny files.
    * REBALANCE, not plain repartition, is the target-file-size half of the
    * story: hash repartitioning maps every partition VALUE to exactly one
    * task — one file per value per commit regardless of size, so a hot
    * partition at 100 TB becomes one multi-GB single-task file. The AQE
    * rebalance keeps the same single shuffle and the same value clustering,
    * but splits shuffle partitions past the advisory size and coalesces tiny
    * ones — bounded file sizes AND write parallelism on skewed partitions
    * (the Iceberg `write.target-file-size-bytes` + hash-distribution pair).
    * The advisory size rides in the rebalance itself, so no session conf is
    * touched and concurrent writes into different tables never see each
    * other's settings.
    *
    * Within each task the rows sort by partition value, then by the per-call
    * sort or the sticky `write.sort-order` property (the Iceberg WRITE
    * ORDERED BY table setting): the writer closes a file when the partition
    * changes, and within-file ordering is what narrows per-file min/max
    * bounds and makes stats pruning bite.
    */
  private[graft] def writeDataFiles(df: DataFrame, snapshotId: Long,
      sortCols: Seq[String] = Nil,
      partColsOverride: Option[Seq[String]] = None,
      advisoryOverride: Option[Long] = None): Seq[FileEntry] = {
    val partCols = partColsOverride.getOrElse(
      snapshotsList.lastOption.map(_.partitionCols).getOrElse(Nil))
    val props = properties
    val parts = partitionValues(df.schema, partCols, props)
    val distributed =
      if (parts.isEmpty) df
      // an explicit caller override (a maintenance procedure's target
      // argument) WINS over the table property — Iceberg's procedure-option
      // precedence
      else SqlInternals.rebalance(df, parts, advisoryOverride.orElse(writeAdvisory(props)))
    val effectiveSort =
      if (sortCols.nonEmpty) sortCols
      else props.get(SortOrderProp)
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val order = parts ++ effectiveSort.map(col)
    val sorted = if (order.isEmpty) distributed else distributed.sortWithinPartitions(order: _*)
    DataFileWriter.run(sorted, writerFactory(df.schema, partCols, f"c$snapshotId%08d", props)).entries
      .map(_.copy(writtenAt = snapshotId))
  }

  /** Each partition column's value for rows of `input`: the column itself
    * (identity), or — for a transform partition column (the Iceberg
    * `days(ts)`-style spec, recorded by CREATE TABLE) — its derivation from
    * the source column, so writers hand in LOGICAL rows and the layout stays
    * transform-partitioned. Reads drop the derived column (it is not in the
    * logical schema). */
  private def partitionValues(input: StructType, partCols: Seq[String],
      props: Map[String, String]): Seq[Column] = {
    val transforms = GraftTable.parseTransforms(props).map(td => td.pc -> td).toMap
    partCols.map { pc =>
      if (input.fieldNames.contains(pc)) col(pc)
      else transforms.get(pc).map(GraftTable.transformColumn(_, input)).getOrElse(
        throw new IllegalArgumentException(
          s"partition column $pc is not in the data and has no derivable transform"))
    }
  }

  /** The one writer's factory for rows of `input`: files land under `data/`
    * (or `data/_deletes/` with `deletes`) in the hive layout of `partCols`,
    * every partition value derived in the task ([[partitionValues]], cast to
    * its directory string as Spark's file writer renders it).
    *
    * The Hadoop conf is this write's own, copied from the session's current
    * one (not the handle's: a `parquet.*` or `fs.*` setting made after the
    * handle was built reaches the next write): Spark's parquet `prepareWrite`
    * fills it from the session, then table data files pin TIMESTAMP_MICROS
    * (INT96, Spark's session default, carries no parquet min/max statistics
    * and would silently exempt timestamp columns from stats pruning) and
    * get bloom filters on the configured key columns (table property; the
    * Iceberg write.parquet.bloom-filter-enabled analog — row-group-level
    * point-lookup skipping that min/max bounds cannot provide for
    * uniformly-spread keys; Spark's vectorized reader consults them on
    * pushed-down equality). The session conf is never set.
    */
  private[graft] def writerFactory(input: StructType, partCols: Seq[String], stem: String,
      props: Map[String, String] = properties, deletes: Boolean = false,
      vector: Boolean = false): DataFileWriterFactory = {
    val probe = spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), input)
    val (bound, keep) = org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions(
        probe.select(partitionValues(input, partCols, props).map(_.cast(StringType)): _*)
          .queryExecution.analyzed) match {
      case org.apache.spark.sql.catalyst.plans.logical.Project(list, child) =>
        (partCols.zip(org.apache.spark.sql.catalyst.expressions.BindReferences
          .bindReferences(list.map {
            case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
            case e => e
          }, child.output)),
          input.fieldNames.indices.filterNot(i => partCols.contains(input(i).name)))
      case other => throw new IllegalStateException(s"unexpected partition plan $other")
    }
    // the rows' own nullability, as Spark's file writer keeps it: a column
    // the plan proves non-null is written `required` and decodes without
    // definition levels
    val fileSchema = StructType(keep.map(input(_)))
    val job = org.apache.hadoop.mapreduce.Job.getInstance(spark.sessionState.newHadoopConf())
    val outputs = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, fileSchema)
    val c = job.getConfiguration
    c.set(org.apache.spark.sql.internal.SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    props.get(BloomFilterColumnsProp).toSeq.flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
      .foreach { bc =>
        c.set(s"parquet.bloom.filter.enabled#$bc", "true")
        props.get(BloomFilterNdvProp).foreach(ndv => c.set(s"parquet.bloom.filter.expected.ndv#$bc", ndv))
      }
    val dataRoot = SnapshotLog.dataPath(tableDir)
    val root = hfs.makeQualified(
      if (deletes) new org.apache.hadoop.fs.Path(dataRoot, DeletesDir) else dataRoot)
    DataFileWriterFactory(root.toString, if (deletes) s"$DeletesDir/" else "", bound, keep,
      input.length, fileSchema, s"$stem-${java.util.UUID.randomUUID().toString.take(8)}",
      outputs, spark.sparkContext.broadcast(new org.apache.spark.util.SerializableConfiguration(c)),
      vector)
  }

  private def listParquetFiles(dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
    val it = hfs.listFiles(dir, true)
    val out = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.Path]()
    while (it.hasNext) {
      val s = it.next()
      if (s.isFile && s.getPath.getName.endsWith(".parquet")) out += s.getPath
    }
    out.toSeq
  }

  private def footerMeta(p: org.apache.hadoop.fs.Path)
      : (Long, Map[String, List[String]]) = GraftTable.footerMeta(conf, p)

  /** Columns of a data file that carry a parquet bloom filter (first row
    * group; one footer probe) — the observable for bloom-filter specs and
    * driver entries.
    */
  def bloomFilterColumns(relPath: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(SnapshotLog.dataPath(tableDir), relPath)
    val reader = GraftTable.openFooter(conf, p)
    try {
      import scala.jdk.CollectionConverters._
      val block = reader.getFooter.getBlocks.asScala.head
      val bfr = reader.getBloomFilterDataReader(block)
      block.getColumns.asScala
        .filter(c => bfr.readBloomFilter(c) != null)
        .map(_.getPath.toDotString).toSet
    } finally reader.close()
  }

  /** Create-only commit: the v1 doc must not exist; a conflict means the
    * table was created concurrently and is an error, never a retry.
    */
  private[table] def commitCreate(schemaJson: String, partitionCols: List[String]): Snapshot = {
    val snap = Snapshot(1L, None, clock(), "create", schemaJson, partitionCols,
      Nil, Map.empty, Nil)
    require(SnapshotLog.commit(conf, tableDir, snap), s"table already exists at $tableDir")
    snap
  }

  /** Injectable commit clock (tests pin it for deterministic time travel). */
  var clock: () => Long = () => System.currentTimeMillis()
}

object GraftTable {

  /** Summary-key prefix for a streaming WAP sink's durable batch id, scoped
    * by branch name (`staged-stream-batch-id:<branch>`). Branch scoping is
    * load-bearing twice over: a fresh branch head IS the base main snapshot
    * verbatim, so an UNSCOPED key would inherit the main table sink's
    * `stream-batch-id` and silently discard staged batches; and two branches
    * fed by independent streams (ids both restarting at 0) must not dedupe
    * against each other. `publishBranch` copies keys with this prefix into
    * the main commit summary so the id chain survives the branch drop.
    */
  val StagedStreamKeyPrefix = "staged-stream-batch-id:"

  /** Prefix under which maintenance commits carry idempotence fences
    * forward (see `carriedFences`); fence readers max over both the
    * primary key and this carried form.
    */
  val CarriedFencePrefix = "carried:"

  /** Accessors for the versioned per-column stats list in `FileEntry.stats`,
    * disambiguated STRUCTURALLY by length (no in-band sentinel — any string
    * is a legal rendered bound): `[min, max]` (legacy docs), `[min, max,
    * nullCount]` (full), `[nullCount]` alone (null count known, bounds
    * absent — an all-null file OR a NaN-poisoned float chunk). Every reader
    * goes through these, so either format prunes soundly and unknown fields
    * stay conservative.
    */
  private[table] object StatEntry {
    def bounds(l: List[String]): Option[(String, String)] = l match {
      case mn :: mx :: _ => Some((mn, mx))
      case _ => None
    }
    def nullCount(l: List[String]): Option[Long] = l match {
      case List(nc) => scala.util.Try(nc.toLong).toOption
      case List(_, _, nc) => scala.util.Try(nc.toLong).toOption
      case _ => None
    }
    /** Provably all-null: the recorded null count equals the file's row
      * count. NEVER inferred from bounds being absent — a NaN-poisoned
      * float chunk also has a known null count with no bounds (parquet
      * drops min/max when NaN appears), and its NaN rows are non-null.
      */
    def allNull(l: List[String], rowCount: Long): Boolean =
      rowCount >= 0 && nullCount(l).contains(rowCount)
  }

  /** Helper-column name carrying each row's part-file name during a
    * merge-on-read read (dropped before the result surfaces).
    */
  private[graft] val WrittenAtCol = "_gf_file"

  /** Helper-column name carrying each row's position within its part file
    * (parquet `_metadata.row_index`) during a positional merge-on-read read.
    * Also the position column INSIDE a delete-vector file, whose schema is
    * exactly (`_gf_file` string part-file name, `_gf_pos` long row index).
    */
  private[graft] val PosCol = "_gf_pos"

  /** [[GraftTable.commitDelta]] change-set columns: does the row delete,
    * does it append, and the name a delete key travels under (apart from
    * the appended value of its column). */
  private[graft] val DeleteFlag = "_gf_delete"
  private[graft] val AppendFlag = "_gf_append"
  private[graft] def deleteKeyCol(k: String): String = s"_gf_key_$k"

  /** Run `body` over `df` evaluated at most once: locally checkpointed
    * (keeping the partitions adaptive execution settled on; a persisted
    * plan would keep every shuffle partition), so the first job computes
    * it and every later read reuses it. A frame that only projects and
    * filters an already materialized one is passed as it is. The
    * checkpoint is released when `body` returns or throws. */
  private[graft] def evaluatedOnce[A](df: DataFrame)(body: DataFrame => A): A = {
    val materialized = df.queryExecution.optimizedPlan.find {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE
      case _: org.apache.spark.sql.catalyst.plans.logical.Project |
          _: org.apache.spark.sql.catalyst.plans.logical.Filter => false
      case _ => true
    }.isEmpty
    val cached = if (materialized) df else df.localCheckpoint(eager = false)
    try body(cached) finally if (!materialized) cached.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
  }

  /** Directory under `data/` holding equality-delete files. */
  private[table] val DeletesDir = "_deletes"

  /** Tag names: filesystem- and JSON-safe. */
  private[table] val TagNameRe = "[A-Za-z0-9._-]{1,128}".r
  private[table] val TagFileRe = "tag-([A-Za-z0-9._-]{1,128})\\.json".r
  private[table] val BranchFileRe = "branch-([A-Za-z0-9._-]{1,128})-(\\d+)\\.json".r
  private[table] val PropsFileRe = "props-(\\d+)\\.json".r

  /** Property: comma-separated columns that get a parquet bloom filter in
    * every data file written after the property is set (the Iceberg
    * `write.parquet.bloom-filter-enabled.column.<col>` analog). Point
    * lookups on these columns then skip row groups whose bloom excludes the
    * key — min/max bounds cannot do that for uniformly-spread keys.
    */
  val BloomFilterColumnsProp = "write.parquet.bloom-filter-columns"

  /** Property: expected distinct values per bloom-filtered column (sizes the
    * filter; parquet-mr's default otherwise).
    */
  val BloomFilterNdvProp = "write.parquet.bloom-filter-ndv"

  /** Property: comma-separated columns every append sorts within partitions
    * by (sticky `WRITE ORDERED BY` — the Iceberg sort-order setting). A
    * per-call sort argument overrides it.
    */
  val SortOrderProp = "write.sort-order"

  /** Iceberg's `write.delete.mode`: `copy-on-write` (default) rewrites
    * matched files; `merge-on-read` commits a delete vector naming the
    * matched rows. `write.update.mode` and `write.merge.mode` likewise.
    */
  val DeleteModeProp = "write.delete.mode"
  val UpdateModeProp = "write.update.mode"
  val MergeModeProp = "write.merge.mode"


  /** ANALYZE output (`analyzeColumns`): table-level row count / snapshot id
    * plus per-column `stats.col.<name>.{ndv,nulls,min,max}`.
    */
  val StatsRowCountProp = "stats.row-count"
  val StatsSnapshotProp = "stats.snapshot-id"
  val StatsColPrefix = "stats.col."
  /** Iceberg's `write.target-file-size-bytes`: when set, partitioned writes
    * size their rebalance splits to land parquet files near this target
    * (advisory = target × [[ShuffleCompressionFactorProp]]).
    */
  val TargetFileSizeProp = "write.target-file-size-bytes"

  /** Size ceiling for a single-file delete write; above it,
    * [[GraftTable.writeDeleteFile]] range-shards the batch across tasks
    * (one file per shard) instead of funneling through `coalesce(1)`.
    * Overridable via system property only so a spec can exercise the
    * sharded path without materializing 64 MB of keys.
    */
  private[table] def DeleteShardBytes: Long =
    sys.props.get("graft.test.delete-shard-bytes").map(_.toLong)
      .getOrElse(64L * 1024 * 1024)
  val ShuffleCompressionFactorProp = "write.shuffle-compression-factor"

  /** Property: semicolon-separated partition transforms,
    * `fn(srcCol)=partCol` or `fn(N,srcCol)=partCol` each (e.g.
    * `days(event_ts)=event_ts_day`, `bucket(16,tenant_id)=tenant_bucket`,
    * `truncate(8,sku)=sku_prefix`) — the Iceberg transform-partition-spec
    * analog. The writer derives the partition column from the source
    * column when the frame lacks it; `planBetween` prunes files from the
    * recorded transform values (time granularities bound, prefixes bound,
    * buckets pin point lookups).
    */
  val PartitionTransformsProp = "write.partition-transforms"
  private[table] val PartitionTransformRe =
    """(\w+)\((?:(\d+)\s*,\s*)?([\w.]+)\)=([\w.]+)""".r

  /** One recorded partition transform (`fn(src)=pc` / `fn(arg,src)=pc`). */
  private[graft] case class TransformDef(
      fn: String, arg: Option[Int], src: String, pc: String)

  private[graft] def parseTransforms(props: Map[String, String]): Seq[TransformDef] =
    props.get(PartitionTransformsProp).map(_.split(";").toSeq.flatMap {
      case PartitionTransformRe(fn, arg, src, pc) =>
        Some(TransformDef(fn, Option(arg).map(_.toInt), src, pc))
      case _ => None
    }).getOrElse(Nil)

  /** The derivation expression for a transform partition column — the write
    * side of the transform contract (the scan side is `SnapshotPlanner`'s
    * transform pass, which MUST invert exactly what is derived here).
    *
    * Time granularities derive from the UTC instant for `TimestampType`
    * (session-timezone-FREE: `to_date` under the writer's session zone was
    * the advisor's silent-prune case — a file written under a non-UTC
    * session and day-pruned under UTC could straddle the recorded day) and
    * from the wall clock for NTZ/date, which have no zone to begin with.
    * The double division below is exact to ±2^53 µs (~±285 years of epoch),
    * far beyond any stats-bearing parquet value this engine writes.
    *
    * `hours` derives an epoch-hour LONG (not a truncated timestamp): hive
    * layout URL-escapes `:` in directory values, which would make the
    * recorded value unreadable to the scan planner.
    *
    * `bucket(N)` is `pmod(murmur3(col), N)` — `functions.hash` and the scan
    * side's `bucketOf` share one hash (seed 42) by construction.
    */
  private[table] def transformColumn(td: TransformDef, schema: StructType): Column = {
    import org.apache.spark.sql.types._
    val f = schema.find(_.name == td.src).getOrElse(throw new IllegalArgumentException(
      s"transform source column ${td.src} is not in the data"))
    val c = col(td.src)
    def utcDate: Column = f.dataType match {
      case TimestampType => date_from_unix_date(
        floor(unix_micros(c) / lit(86400000000.0)).cast("int"))
      case TimestampNTZType => to_date(c)
      case DateType => c
      case other => throw new IllegalArgumentException(
        s"${td.fn}() partition transform needs a time-typed source, got $other")
    }
    td.fn match {
      case "days" => utcDate
      case "months" => trunc(utcDate, "month")
      case "years" => trunc(utcDate, "year")
      case "hours" => f.dataType match {
        case TimestampType => floor(unix_micros(c) / lit(3600000000.0)).cast("long")
        case TimestampNTZType =>
          unix_date(to_date(c)).cast("long") * lit(24L) + hour(c).cast("long")
        case other => throw new IllegalArgumentException(
          s"hours() partition transform needs a timestamp source, got $other")
      }
      case "bucket" =>
        val n = td.arg.getOrElse(throw new IllegalArgumentException(
          "bucket transform needs a bucket count: bucket(N,col)=pc"))
        // NOTE: uses Spark's murmur3 seed-42 `hash()`, not the Iceberg
        // bucket-transform spec (murmur3_x86_32 over each type's defined
        // byte layout). Write and scan sides share this derivation (see
        // bucketOf), so pruning is sound — but a bucket(N,col) table lays
        // rows out in DIFFERENT buckets than a spec-compliant engine would;
        // no cross-engine physical-layout compatibility is claimed.
        pmod(hash(c), lit(n))
      case "truncate" =>
        val n = td.arg.getOrElse(throw new IllegalArgumentException(
          "truncate transform needs a width: truncate(N,col)=pc"))
        f.dataType match {
          case StringType => substring(c, 1, n)
          // the Iceberg integer truncate: v - (v mod W), floor semantics
          // (pmod keeps the remainder non-negative, so -7 truncates to -10
          // at W=10, never toward zero)
          case ByteType | ShortType | IntegerType | LongType =>
            (c - pmod(c, lit(n))).cast(f.dataType)
          case other => throw new IllegalArgumentException(
            s"truncate partition transform needs a string or integral source, got $other")
        }
      case other => throw new IllegalArgumentException(
        s"unknown partition transform $other")
    }
  }

  /** The bucket a point value hashes to under `bucket(n)` — the scan-side
    * inverse of `transformColumn`'s `pmod(hash(col), n)`. Returns None
    * unless the value is PROVABLY in the column's external domain (an Int
    * widened to a Long column is the one coercion accepted): hashing a
    * lookalike (a numeric string, a narrowed long) yields a DIFFERENT
    * bucket and would silently drop the matching file. None = keep.
    */
  private[table] def bucketOf(dt: DataType, v: Any, n: Int): Option[Int] = {
    import org.apache.spark.sql.types._
    val exact: Option[Any] = (dt, v) match {
      case (LongType, x: Long) => Some(x)
      case (LongType, x: Int) => Some(x.toLong)
      case (IntegerType, x: Int) => Some(x)
      case (StringType, x: String) => Some(x)
      case _ => None
    }
    exact.flatMap { x =>
      scala.util.Try {
        val lit = org.apache.spark.sql.catalyst.expressions.Literal.create(x, dt)
        val h = new org.apache.spark.sql.catalyst.expressions.Murmur3Hash(Seq(lit))
          .eval(null).asInstanceOf[Int]
        Math.floorMod(h, n)
      }.toOption
    }
  }

  /** Smallest string strictly greater than every string with prefix `s`
    * (the exclusive upper bound of `truncate`'s `[prefix, next)` row
    * domain): increment the rightmost non-max char, drop the tail. None
    * when every char is Char.MaxValue — the domain is unbounded above,
    * callers must keep.
    */
  private[table] def nextPrefix(s: String): Option[String] = {
    val i = s.lastIndexWhere(_ != Char.MaxValue)
    if (i < 0) None else Some(s.substring(0, i) + (s.charAt(i) + 1).toChar)
  }

  /** S5 — CREATE TABLE with partition columns (ref create_sales_events.sql:1-19).
    * Partition transforms map to derived columns the caller adds before append.
    */
  def create(spark: SparkSession, dir: String, schema: StructType,
      partitionCols: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty): GraftTable = {
    val conf = spark.sessionState.newHadoopConf()
    require(SnapshotLog.load(conf, dir).isEmpty, s"table already exists at $dir")
    val t = new GraftTable(spark, dir)
    t.commitCreate(schema.json, partitionCols.toList)
    if (properties.nonEmpty)
      t.setProperties(properties.map { case (k, v) => k -> Some(v) })
    t
  }

  /** A handle on the table at `dir`, reading through `conf` when given
    * (else the session's Hadoop conf, copied once by the handle). */
  def load(spark: SparkSession, dir: String,
      conf: Option[Configuration] = None): GraftTable = {
    val t = new GraftTable(spark, dir, conf)
    require(t.snapshotsList.nonEmpty, s"no table at $dir")
    t
  }

  def exists(spark: SparkSession, dir: String, conf: Option[Configuration] = None): Boolean =
    SnapshotLog.load(conf.getOrElse(spark.sessionState.newHadoopConf()), dir).nonEmpty

  /** D7 — DESCRIBE TABLE as a DataFrame (ref schema_evolution_sales_events.sql:12). */
  def describe(spark: SparkSession, t: GraftTable): DataFrame = {
    import spark.implicits._
    t.schema.fields.map(f => (f.name, f.dataType.simpleString))
      .toSeq.toDF("col_name", "data_type")
  }

  /** Evolution-op encoding shared with SnapshotLog docs — JSON objects, so
    * column names, DDL types (`struct<a:int>`), and default values may contain
    * any character without corrupting committed metadata.
    *
    * Encoding note: since the round-10 build, `add` ops OMIT the `default`
    * key for no-default columns; a present `default` (including the empty
    * string) always replays as the declared literal. Op logs written by
    * earlier builds encoded no-default as `"default":""` — loading such a
    * table under this build replays '' instead of NULL for those columns
    * (no such tables exist in this environment; every run creates fresh).
    */
  def addColumnOp(name: String, dataType: String, default: Option[String]): String =
    writeOp(Map("op" -> "add", "name" -> name, "dataType" -> dataType) ++
      default.map("default" -> _))
  def renameColumnOp(from: String, to: String): String =
    writeOp(Map("op" -> "rename", "from" -> from, "to" -> to))
  def widenColumnOp(name: String, newType: String): String =
    writeOp(Map("op" -> "widen", "name" -> name, "dataType" -> newType))
  def dropColumnOp(name: String): String =
    writeOp(Map("op" -> "drop", "name" -> name))

  private def writeOp(m: Map[String, String]): String =
    org.json4s.jackson.Serialization.write(m)(SnapshotLog.formats)

  /** Open a parquet file for its footer with the caller's Hadoop conf.
    * `ParquetFileReader.open(InputFile)` alone builds a fresh
    * `Configuration`, which finds and parses `core-default.xml` again on
    * every call and ignores the caller's settings. */
  private def openFooter(conf: org.apache.hadoop.conf.Configuration,
      p: org.apache.hadoop.fs.Path): org.apache.parquet.hadoop.ParquetFileReader =
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf).build())

  /** Row count + per-column `[min, max, nullCount]` stats from the parquet
    * footer — one footer open serves all. Bounds are merged across row
    * groups; a column's BOUNDS drop out if any row group carries no
    * statistics (conservative: absent = never pruned), while its null count
    * (the Iceberg `null_value_counts` analog — IS NULL pruning, metadata
    * COUNT(col)) survives independently as long as every row group reports
    * one. A file with a known null count but no bounds (all-null, or a
    * NaN-poisoned float chunk) keeps `[n]` — see `StatEntry`, whose
    * `allNull` requires `n == rowCount`, never shape alone. Binary (string)
    * stats may be writer-truncated, but truncation only ever WIDENS the
    * bound, so pruning against them stays sound. Only top-level primitive
    * columns are tracked — nested paths (`a.b`) and logical types beyond
    * int/float/string have engine-specific orderings and are skipped.
    *
    * Static (conf passed in) so each WRITE TASK reads the footers of the
    * files it just closed ([[DataFileWriter]]) — the Iceberg writer design,
    * where per-file metrics ride the task result instead of a driver-side
    * footer sweep.
    */
  private[table] def footerMeta(conf: org.apache.hadoop.conf.Configuration,
      p: org.apache.hadoop.fs.Path): (Long, Map[String, List[String]]) = {
    try {
      val reader = openFooter(conf, p)
      try {
        import scala.jdk.CollectionConverters._
        val mins = scala.collection.mutable.Map[String, Comparable[Any]]()
        val maxs = scala.collection.mutable.Map[String, Comparable[Any]]()
        val nulls = scala.collection.mutable.Map[String, Long]()
        val invalid = scala.collection.mutable.Set[String]()
        val noNulls = scala.collection.mutable.Set[String]() // null count unusable
        for (block <- reader.getFooter.getBlocks.asScala;
             c <- block.getColumns.asScala) {
          val name = c.getPath.toDotString
          if (!name.contains('.') && statsComparable(c)) {
            val st = c.getStatistics
            if (st == null || st.isEmpty) {
              invalid += name; mins -= name; maxs -= name
              noNulls += name; nulls -= name
            } else {
              if (!noNulls(name)) {
                if (st.isNumNullsSet) nulls(name) = nulls.getOrElse(name, 0L) + st.getNumNulls
                else { noNulls += name; nulls -= name }
              }
              if (!invalid(name) && st.hasNonNullValue) {
                val mn = st.genericGetMin.asInstanceOf[Comparable[Any]]
                val mx = st.genericGetMax.asInstanceOf[Comparable[Any]]
                if (mins.get(name).forall(_.compareTo(mn) > 0)) mins(name) = mn
                if (maxs.get(name).forall(_.compareTo(mx) < 0)) maxs(name) = mx
              } // all-null row group: bounds unaffected
            }
          }
        }
        val keys = mins.keySet ++ nulls.keySet
        val stats = keys.flatMap { k =>
          val bounds =
            if (mins.contains(k)) List(renderStat(mins(k)), renderStat(maxs(k))) else Nil
          val entry = bounds ++ nulls.get(k).map(_.toString).toList
          if (entry.isEmpty) None else Some(k -> entry)
        }.toMap
        (reader.getRecordCount, stats)
      } finally reader.close()
    } catch { case _: Throwable => (-1L, Map.empty) }
  }

  /** Track only parquet primitives whose min/max ordering matches the engine's:
    * plain int32/int64/float/double and UTF8-annotated binary. Logical types
    * riding on these primitives (DATE on int32, TIMESTAMP on int64, nanos-as-
    * long) order identically to their physical values, so they stay prunable.
    * DECIMAL's unscaled-int ordering only matches within one scale — fine for
    * a single column written by this table, which has one schema per file.
    */
  private def statsComparable(c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): Boolean = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    c.getPrimitiveType.getPrimitiveTypeName match {
      case INT32 | INT64 | FLOAT | DOUBLE => true
      case BINARY =>
        c.getPrimitiveType.getLogicalTypeAnnotation ==
          org.apache.parquet.schema.LogicalTypeAnnotation.stringType()
      case _ => false
    }
  }

  private def renderStat(v: Comparable[Any]): String = (v: Any) match {
    case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
    case other => other.toString
  }

  /** Convert a user-facing range bound into the file-stats comparison domain.
    * Footer stats are RAW PHYSICAL values: Spark writes TimestampType as
    * parquet INT64 epoch-microseconds and DateType as INT32 epoch-days, so
    * bounds on those columns are converted before the numeric compare (the
    * same raw-physical trick as the events ns-long pushdown in
    * `Tables.eventsBetween`). Other prunable types compare as rendered.
    */
  private[table] def toPhysicalBound(dt: DataType, v: Any): String = {
    import org.apache.spark.sql.types._
    dt match {
      case TimestampType => v match {
        case t: java.sql.Timestamp =>
          (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L).toString
        case i: java.time.Instant =>
          (i.getEpochSecond * 1000000L + i.getNano / 1000L).toString
        case s: String => // interpreted as UTC, matching the session timezone
          val inst = java.time.LocalDateTime.parse(s.replace(" ", "T"))
            .toInstant(java.time.ZoneOffset.UTC)
          (inst.getEpochSecond * 1000000L + inst.getNano / 1000L).toString
        case n => n.toString // already epoch-micros
      }
      case TimestampNTZType => v match {
        // NTZ physical micros are the wall-clock value at UTC by definition
        case d: java.time.LocalDateTime =>
          val inst = d.toInstant(java.time.ZoneOffset.UTC)
          (inst.getEpochSecond * 1000000L + inst.getNano / 1000L).toString
        case s: String =>
          val inst = java.time.LocalDateTime.parse(s.replace(" ", "T"))
            .toInstant(java.time.ZoneOffset.UTC)
          (inst.getEpochSecond * 1000000L + inst.getNano / 1000L).toString
        case n => n.toString // already epoch-micros
      }
      case DateType => v match {
        case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
        case d: java.time.LocalDate => d.toEpochDay.toString
        case s: String => java.time.LocalDate.parse(s).toEpochDay.toString
        case n => n.toString // already epoch-days
      }
      case _ => v.toString
    }
  }

  /** Inverse of `toPhysicalBound`: convert a raw physical footer bound back
    * into the column's logical value (timestamp from epoch-micros, date from
    * epoch-days, numerics via their JVM type).
    */
  private[table] def fromPhysicalBound(dt: DataType, s: String): Any = {
    import org.apache.spark.sql.types._
    dt match {
      case TimestampType =>
        val micros = s.toLong
        val ts = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
        ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
        ts
      case TimestampNTZType =>
        val micros = s.toLong
        java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(micros, 1000000L),
          (Math.floorMod(micros, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC)
      case DateType => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(s.toLong))
      case ByteType => s.toByte
      case ShortType => s.toShort
      case IntegerType => s.toInt
      case LongType => s.toLong
      case FloatType => s.toFloat
      case DoubleType => s.toDouble
      case _ => s
    }
  }
}
