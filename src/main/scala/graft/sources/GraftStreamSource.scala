package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow,
  TimeZoneAwareExpression, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.SqlInternals
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider}
import org.apache.spark.sql.sources.{Filter => SFilter}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.table.{DeleteSpec, Fact, FileEntry, GraftTable, RowDeletes, Snapshot, SnapshotFileIndex,
  SnapshotLog, SnapshotPlanner}

/** DataSource V2 STREAMING SOURCE over a snapshot table — the read half of
  * the streaming story (`StreamOps`' exactly-once sinks are the write half):
  *
  * {{{
  *   spark.readStream.format("graft").load(tableDir)   // → micro-batches of
  *   // newly committed appends, offset = snapshot id, exactly-once via
  *   // Spark's own offset log
  * }}}
  *
  * Semantics mirror Iceberg's streaming read: each micro-batch is the data
  * files COMMITTED since the last consumed snapshot; row-adding commits
  * (`append`, zero-copy `add-files`) stream, content-preserving maintenance
  * (compaction, sort/z rewrites, evolution metadata) is skipped — its rows
  * were already streamed from their original commits — and row-REMOVING
  * commits (COW/MOR DML, overwrites) refuse loudly: an append-only stream
  * cannot represent a retraction (Iceberg's streaming read has the same
  * contract). Offsets are snapshot ids, so restart-resume composes with the
  * table's own time travel.
  *
  * Scale shape: `latestOffset`/`planInputPartitions` are O(new commits)
  * METADATA work on the driver (the snapshot log is delta-encoded); one
  * input partition per new data file, readers open only their own file.
  * Schema evolution inside an unconsumed range refuses loudly rather than
  * silently reading renamed columns as null (consume up to the evolution
  * point, restart with the new schema — the Iceberg operating procedure).
  *
  * Files read through Spark's own parquet reader, the one the table scan
  * runs, per epoch group with the table's evolution replay — see
  * [[GraftReads]].
  */
class GraftStreamSource extends TableProvider with DataSourceRegister
    with CreatableRelationProvider {

  override def shortName(): String = "graft"

  /** Path-based batch write (`df.write.format("graft").mode(...).save(dir)`).
    *
    * `DataFrameWriter.save` only takes the native DSv2 write path when the
    * table advertises `BATCH_WRITE`; the path table does not, so Spark's V1
    * source command (`DataSource.planForWriting`) calls THIS interface:
    * align columns to the table layout, then the table API's own distributed
    * append/overwrite (partition transforms, CAS commit retry, schema-shape
    * refusal, WRITE ORDERED BY all ride free).
    */
  override def createRelation(ctx: org.apache.spark.sql.SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft batch write needs a path (the table directory)"))
    val exists = GraftStreamSource.loadLog(dir).nonEmpty
    require(exists, s"no graft table at $dir — create it first " +
      "(GraftTable.create or CREATE TABLE); the connector writes into " +
      "existing tables, it does not infer table layout from a DataFrame")
    mode match {
      case SaveMode.Append => GraftStreamSource.writeInto(dir, data, overwrite = false)
      case SaveMode.Overwrite => GraftStreamSource.writeInto(dir, data, overwrite = true)
      case SaveMode.ErrorIfExists => throw new IllegalStateException(
        s"graft table at $dir already exists (mode ErrorIfExists)")
      case SaveMode.Ignore => () // table exists: by contract, no-op
    }
    val written = GraftStreamSource.tableSchema(dir)
    new BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext = ctx
      override def schema: StructType = written
    }
  }

  private def dirOf(options: CaseInsensitiveStringMap): String = {
    val p = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft source needs a path (the table directory)"))
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = dirOf(options)
    val snaps = GraftStreamSource.loadLog(dir)
    require(snaps.nonEmpty, s"no graft table at $dir")
    // a time-travel read surfaces the TARGET snapshot's schema, so a scan
    // before a column rename/widen reads the shape that was live then
    val snap = GraftStreamSource.resolveSnapshot(snaps, dir,
      Option(options.get("snapshot-id")).map(_.toLong),
      Option(options.get("as-of-timestamp")).map(_.toLong)).get
    DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new GraftStreamTable(properties.get("path"), schema)
}

private[sources] class GraftStreamTable(dir: String, tableSchema: StructType)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = s"graft:$dir"
  override def schema(): StructType = tableSchema

  /** `_file` — the absolute path of the data file each row came from (the
    * Iceberg `_file` metadata column): constant per input partition, served
    * without touching file bytes, and the metadata attribute Spark's
    * group-based row-level plans project on (see GraftCowOperation).
    */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftStreamSource.FileMetaCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "absolute path of the row's data file"
    })
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE)

  /** `df.writeStream.format("graft").start(dir)` — the native DSv2
    * streaming sink, exactly-once through the table's stream-batch-id fence
    * ([[GraftWrite]]). Path-based BATCH writes (`df.write.format("graft")
    * .save(dir)`) take [[GraftStreamSource.createRelation]], the V1 bridge
    * into the table's own append/overwrite.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(dir, info, viaCatalog = false)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val maxCommits = Option(options.get("max-commits-per-trigger")).map(_.toInt)
    val streamFrom = Option(options.get("stream-from"))
    // batch time travel (the Iceberg read-option analog): pin the scan to a
    // retained snapshot by id or to the last snapshot committed at or
    // before a wall-clock millisecond timestamp
    val asOfSnapshot = Option(options.get("snapshot-id")).map(_.toLong)
    val asOfTimestamp = Option(options.get("as-of-timestamp")).map(_.toLong)
    require(asOfSnapshot.isEmpty || asOfTimestamp.isEmpty,
      "set either snapshot-id or as-of-timestamp, not both")
    // incremental batch read over (start, end]: the appends committed in
    // the range (the Iceberg incremental-scan analog; the batch face of the
    // streaming source's commit-range planning)
    val incrementalFrom = Option(options.get("start-snapshot-id")).map(_.toLong)
    val incrementalTo = Option(options.get("end-snapshot-id")).map(_.toLong)
    require(incrementalTo.isEmpty || incrementalFrom.isDefined,
      "end-snapshot-id needs start-snapshot-id")
    require(incrementalFrom.isEmpty ||
        (asOfSnapshot.isEmpty && asOfTimestamp.isEmpty),
      "an incremental range and a time-travel target cannot combine")
    // Column pruning: Catalyst hands the projection down and the per-file
    // readers decode only the stored columns it replays from, so
    // unprojected columns are never decoded — the table scan's contract.
    // Filter pushdown: comparison, IN and null predicates prune whole FILES
    // through the table's own metadata planner (footer bounds and null
    // counts under write-time names, partition values and transforms) at
    // PLANNING time; every
    // filter is also returned as residual, so Spark re-evaluates row-level —
    // pruning can only ever drop files proven out of range, never change
    // results.
    // Aggregate pushdown: ungrouped COUNT(*)/COUNT(col)/MIN/MAX answer from
    // SNAPSHOT METADATA alone (file row counts + footer stats harvested at
    // write time) when no row can escape the stats' view — no live delete
    // that can touch a covered file, no residual filters (Spark only
    // attempts the pushdown when the scan has
    // no post-scan filters, and this scan keeps every filter residual).
    // The 100 TB shape: a full-table COUNT(*) is a driver-side metadata
    // fold instead of a 100 TB scan — the same contract as Iceberg's
    // aggregate pushdown over manifest stats.
    new ScanBuilder with SupportsPushDownRequiredColumns
        with SupportsPushDownFilters with SupportsPushDownAggregates
        with org.apache.spark.sql.connector.read.SupportsPushDownLimit {
      private var required: StructType = tableSchema
      private var pushed: Array[SFilter] = Array.empty
      private var agg: Option[(StructType, Array[Array[Any]], String)] = None
      private var limit: Option[Int] = None
      override def pruneColumns(requiredSchema: StructType): Unit =
        // keep the table's field order; Spark's requiredSchema is already a
        // subset of the logical schema — plus the `_file` metadata column
        // when the query (or a row-level plan) asked for it
        required = StructType(tableSchema.fields.filter(f =>
          requiredSchema.fieldNames.contains(f.name)) ++
          requiredSchema.fields.filter(_.name == GraftStreamSource.FileMetaCol))
      override def pushFilters(filters: Array[SFilter]): Array[SFilter] = {
        pushed = GraftStreamSource.plannable(filters)
        filters // all residual: file-skipping only, rows re-checked above
      }
      override def pushedFilters(): Array[SFilter] = pushed
      override def supportCompletePushDown(a: Aggregation): Boolean =
        pushed.isEmpty && incrementalFrom.isEmpty &&
          GraftStreamSource.planAggregation(
            dir, tableSchema, a, asOfSnapshot, asOfTimestamp).isDefined
      override def pushAggregation(a: Aggregation): Boolean = {
        // complete pushdown only: a partial (per-task) metadata aggregate
        // has no cheaper form than the complete one, so never accept the
        // partial contract; incremental ranges aggregate their own files,
        // not the snapshot the metadata plan would read
        if (pushed.nonEmpty || incrementalFrom.nonEmpty) return false
        agg = GraftStreamSource.planAggregation(
          dir, tableSchema, a, asOfSnapshot, asOfTimestamp)
        agg.isDefined
      }
      // Partial limit pushdown: Spark keeps its own Limit on top, so the
      // scan may over-deliver but must never under-deliver — planInput
      // Partitions keeps a file PREFIX only when exact metadata row counts
      // prove it carries >= limit live rows (no delete touches the prefix,
      // no filters). A
      // `LIMIT 10` on a million-file table then opens one file.
      override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
      override def build(): Scan = agg match {
        case Some((aggSchema, rows, desc)) =>
          new GraftAggScan(dir, aggSchema, rows, desc)
        case None =>
          new GraftScan(dir, tableSchema, required, maxCommits, pushed,
            streamFrom, asOfSnapshot, asOfTimestamp, limit,
            incrementalFrom, incrementalTo)
      }
    }
  }
}

private[sources] class GraftScan(dir: String, fullSchema: StructType,
    schema: StructType, maxCommitsPerTrigger: Option[Int],
    pushedFilters: Array[SFilter] = Array.empty,
    streamFrom: Option[String] = None,
    asOfSnapshot: Option[Long] = None,
    asOfTimestamp: Option[Long] = None,
    pushedLimit: Option[Int] = None,
    incrementalFrom: Option[Long] = None,
    incrementalTo: Option[Long] = None,
    onPlanned: Option[(Snapshot, Seq[FileEntry]) => Unit] = None)
    extends Scan
    with SupportsReportStatistics with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
  override def readSchema(): StructType = schema

  // one scan reads one load of the log: statistics, partitioning, planning
  // and the readers all see the same snapshots
  private lazy val snaps = GraftStreamSource.loadLog(dir)

  /** Storage-partitioned joins (`SupportsReportPartitioning` +
    * `HasPartitionKey`): when every identity-partition column is in the
    * read schema and every file carries an exactly-convertible value, the
    * scan reports `KeyGroupedPartitioning` over those columns and each
    * input partition exposes its typed key row — two graft tables
    * co-partitioned on the join key then join with NO shuffle on either
    * side (under spark.sql.sources.v2.bucketing.enabled), the plan that
    * keeps a 100 TB fact-fact join from moving 100 TB twice. Reported
    * keys and key-row order are both [[spjKeyCols]], so they always agree.
    */
  private lazy val spjKeyCols: List[String] = if (incrementalFrom.isDefined) Nil else {
    resolve(snaps).toList.flatMap { snap =>
      val cols = snap.partitionCols.filter(c => schema.exists(_.name == c))
      val ok = cols.nonEmpty && snap.files.nonEmpty &&
        snap.files.forall(f => cols.forall(c =>
          f.partitionValues.get(c).exists(v => GraftStreamSource
            .partitionKeyValue(schema(schema.fieldIndex(c)).dataType, v).isDefined)))
      if (ok) cols else Nil
    }
  }
  private[sources] def spjKeyFor(e: FileEntry): Array[Any] =
    spjKeyCols.map(c => GraftStreamSource.partitionKeyValue(
      schema(schema.fieldIndex(c)).dataType, e.partitionValues(c)).get).toArray
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (spjKeyCols.isEmpty)
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    else {
      val groups = resolve(snaps).map(_.files
        .map(f => spjKeyCols.map(f.partitionValues)).distinct.size).getOrElse(0)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        spjKeyCols.map(c => Expressions.identity(c):
          org.apache.spark.sql.connector.expressions.Expression).toArray,
        math.max(groups, 1))
    }

  /** The snapshot this batch scan reads: the head, or the time-travel
    * target when `snapshot-id` / `as-of-timestamp` was set. */
  private def resolve(snaps: Seq[Snapshot]): Option[Snapshot] =
    GraftStreamSource.resolveSnapshot(snaps, dir, asOfSnapshot, asOfTimestamp)

  /** Dynamic partition pruning / runtime filtering (the DSv2
    * `SupportsRuntimeFiltering` contract): when this scan is the fact side
    * of a join, Spark re-plans it at RUNTIME with the build side's actual
    * join-key values as an `In` filter — whole files drop on partition
    * values and footer bounds before any task launches, the decisive plan
    * at 100 TB where a dimension filter touches a handful of partitions.
    * Purely an optimization: files that survive still re-check rows in the
    * join itself, so over-approximation never changes results.
    */
  @volatile private var runtimeFilters: Array[SFilter] = Array.empty
  override def filterAttributes(): Array[NamedReference] = {
    // columns runtime values can actually prune on: partition columns
    // (exact value match) and numeric columns (footer [min,max] bounds) —
    // restricted to the PRUNED read schema, because Spark resolves these
    // names against the scan's output (a pruning join's key is always in
    // the output, so nothing is lost)
    val partCols = snaps.lastOption.toSeq.flatMap(_.files)
      .flatMap(_.partitionValues.keys).distinct
    val boundCols = fullSchema.fields.filter(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType => true
      case _ => false
    }).map(_.name)
    (partCols ++ boundCols).distinct
      .filter(c => schema.exists(_.name == c))
      .map(Expressions.column).toArray
  }
  override def filter(filters: Array[SFilter]): Unit =
    runtimeFilters = GraftStreamSource.plannable(filters)
  private def facts: Seq[Fact] =
    Fact.of((pushedFilters ++ runtimeFilters).toSeq)

  /** Exact table statistics from the snapshot's file inventory, AFTER the
    * pushed filters' file pruning — so Catalyst's join planning sees the
    * size a scan will actually read and broadcasts small graft reads
    * (estimate → runtime AQE, the same decision order as the engine's own
    * MERGE planning). Metadata only: no file is opened.
    */
  override def estimateStatistics(): Statistics = {
    val files = resolve(snaps).map(s => GraftStreamSource.planner(dir, s).select(facts))
      .getOrElse(Nil)
    val bytes = files.map(_.sizeBytes).sum
    val rows = if (files.exists(_.rowCount < 0)) java.util.OptionalLong.empty()
      else java.util.OptionalLong.of(files.map(_.rowCount).sum)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = rows
    }
  }
  override def description(): String =
    s"GraftScan($dir, pushed=[${pushedFilters.mkString(", ")}])"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(asOfSnapshot.isEmpty && asOfTimestamp.isEmpty,
      "snapshot-id/as-of-timestamp are batch read options; a stream anchors " +
        "its START with stream-from instead")
    new GraftMicroBatchStream(dir, fullSchema, schema, maxCommitsPerTrigger,
      pushedFilters, streamFrom)
  }

  /** The files this scan may read and how each is read, planned once per
    * scan so every re-plan (runtime filtering) places a file in the same
    * reader group. A batch read covers the resolved snapshot's files, and
    * merge-on-read deletes RECONCILE inside each reader (the Iceberg
    * connector posture): every data file's partition carries exactly the
    * delete files the table's per-file rule keeps for it
    * (`SnapshotPlanner.applies`: committed after the file, key bounds
    * overlapping, renames followed), and the reader runs the table's own
    * row check (`RowDeletes`) over parse-once tuple sets — no extra Spark
    * stage, and files no delete can touch read with no check at all.
    * Evolution replays per epoch group, as in the table scan.
    */
  private lazy val reads: GraftReads = {
    require(snaps.nonEmpty, s"no graft table at $dir")
    incrementalFrom match {
      case Some(from) => incrementalReads(from)
      case None =>
        val head = resolve(snaps).get
        new GraftReads(dir, GraftStreamSource.planner(dir, head),
          head.files.map(e => e -> head.schemas(e.writtenAt.toString)), schema, reconcile = true)
    }
  }

  /** Incremental batch over (start, end]: the appends committed in the
    * range, mirroring the table API's `readIncremental` contract — unbroken
    * parent chain (expired intermediates refuse), content-changing commits
    * refuse (append-only semantics can't represent a retraction), files come
    * from each appending commit's OWN doc (a later in-range compaction may
    * have dropped them from the end snapshot's list), and no delete can
    * apply (in-range MOR commits refuse; earlier deletes only touch earlier
    * files). O(range) metadata planning — the CDC-batch shape at 100 TB.
    */
  private def incrementalReads(from: Long): GraftReads = {
    val to = incrementalTo.getOrElse(snaps.last.snapshotId)
    require(from < to, s"need start-snapshot-id < end, got ($from, $to]")
    require(snaps.exists(_.snapshotId == to),
      s"end-snapshot-id $to is not retained in $dir")
    require(from == 0L || snaps.exists(_.snapshotId == from),
      s"start-snapshot-id $from is not retained in $dir (expired?)")
    val range = snaps.filter(s => s.snapshotId > from && s.snapshotId <= to)
    val ids = range.map(_.snapshotId).toSet
    range.foreach { s =>
      require(s.parentId match {
        case None => from == 0L
        case Some(p) => p == from || ids.contains(p)
      }, s"snapshot ${s.snapshotId}'s parent is not live in ($from, $to] of " +
        s"$dir — intermediate commits were expired")
    }
    val bad = range.filterNot(s => GraftStreamSource.RowAdding(s.operation) ||
      GraftStreamSource.Skippable(s.operation))
    require(bad.isEmpty,
      s"incremental read over ($from, $to] crosses content-changing commit(s) " +
        bad.map(s => s"${s.snapshotId}:${s.operation}").mkString(", ") +
        s" in $dir — append-only incremental semantics cannot represent them")
    GraftStreamSource.appendedReads(dir, snaps, range, fullSchema, schema,
      (_, e) => s"graft incremental read: ${e.path} in $dir was written under an " +
        "evolved schema — use the table API (readIncremental) for evolution replay")
  }

  override def toBatch(): Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val plan = reads.plan
      if (incrementalFrom.isDefined)
        return plan.select(facts, reads.files).map(reads.partition(_)).toArray
      val surviving = plan.select(facts)
      // pushed LIMIT: read the smallest file prefix whose exact metadata
      // row counts already cover it — only when no delete can shrink a
      // prefix file's live count below its metadata count (Spark re-applies
      // the limit on top, so over-delivery is fine; under-delivery never is)
      val chosen = pushedLimit match {
        case Some(n) if surviving.forall(_.rowCount >= 0) =>
          var acc = 0L
          val prefix =
            surviving.takeWhile { e => val need = acc < n; acc += e.rowCount; need }
          if (prefix.forall(reads.deletes(_).isEmpty)) prefix else surviving
        case _ => surviving
      }
      // COW row-level operations record exactly which files this scan chose
      // (post filter pruning) so the write side replaces those and ONLY
      // those; see GraftCowOperation in GraftCatalog.scala
      onPlanned.foreach(_(plan.snap, chosen))
      chosen.map(e => reads.partition(e,
        if (spjKeyCols.isEmpty) Array.empty else spjKeyFor(e))).toArray[InputPartition]
    }
    override def createReaderFactory(): PartitionReaderFactory = reads.factory
  }
}

/** The scan a COMPLETELY pushed-down aggregation builds: one input
  * partition carrying the result row COMPUTED ON THE DRIVER from snapshot
  * metadata (file row counts, footer bounds, null counts) — no data file is
  * ever opened. `description()` carries the pushed aggregate list so
  * `explain` shows `PushedAggregation` and a plan audit can pin the
  * metadata-only path.
  */
private[sources] class GraftAggScan(dir: String, aggSchema: StructType,
    rows: Array[Array[Any]], pushedAggs: String) extends Scan {
  override def readSchema(): StructType = aggSchema
  override def description(): String =
    s"GraftAggScan($dir, PushedAggregation: [$pushedAggs])"
  override def toBatch(): Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      Array(GraftAggPartition(rows))
    override def createReaderFactory(): PartitionReaderFactory =
      new GraftAggReaderFactory
  }
}

private[sources] case class GraftAggPartition(rows: Array[Array[Any]])
  extends InputPartition

private[sources] class GraftAggReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val rows = p.asInstanceOf[GraftAggPartition].rows
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = new GenericInternalRow(rows(i).clone())
      override def close(): Unit = ()
    }
}

/** Offset = highest consumed snapshot id. */
private[sources] case class GraftOffset(snapshotId: Long) extends Offset {
  override def json(): String = s"""{"snapshotId":$snapshotId}"""
}

private[sources] class GraftMicroBatchStream(dir: String,
    fullSchema: StructType, schema: StructType,
    maxCommitsPerTrigger: Option[Int],
    pushedFilters: Array[SFilter] = Array.empty,
    streamFrom: Option[String] = None) extends MicroBatchStream
    with SupportsTriggerAvailableNow {

  private def snaps = GraftStreamSource.loadLog(dir)

  // Trigger.AvailableNow contract: the run drains up to the head captured
  // HERE, then stops — commits landing mid-run wait for the next run.
  // Without this interface Spark falls back to single-batch Trigger.Once
  // semantics, where a rate limit would silently truncate the run.
  @volatile private var availableNowBound: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowBound = Some(snaps.lastOption.map(_.snapshotId).getOrElse(0L))

  /** Starting position for a FRESH checkpoint (`option("stream-from", ...)`,
    * the Iceberg `stream-from-timestamp` analog in snapshot units):
    * `earliest` (default) replays the full retained history and requires the
    * chain root to still be retained; `latest` anchors at the current head
    * and streams only commits after query start — the only position that
    * always works on a table whose early history was expired; a snapshot id
    * anchors at that retained snapshot. Only consulted when the checkpoint
    * has no offset yet — resume always wins.
    */
  override def initialOffset(): Offset = streamFrom.map(_.trim) match {
    case None | Some("earliest") => GraftOffset(0L)
    case Some("latest") =>
      GraftOffset(snaps.lastOption.map(_.snapshotId).getOrElse(0L))
    case Some(id) if id.nonEmpty && id.forall(_.isDigit) =>
      val sid = id.toLong
      require(sid == 0L || snaps.exists(_.snapshotId == sid),
        s"stream-from snapshot $sid is not retained in $dir — pick a live " +
          "snapshot id (see the snapshots metadata table), or 'latest'")
      GraftOffset(sid)
    case Some(other) => throw new IllegalArgumentException(
      s"bad stream-from value '$other': expected 'earliest', 'latest', or a " +
        "snapshot id")
  }

  override def latestOffset(): Offset = {
    val s = snaps
    GraftOffset(if (s.isEmpty) 0L else s.last.snapshotId)
  }

  /** Rate limiting (`option("max-commits-per-trigger", n)`): each
    * micro-batch consumes at most n commits past the start offset — the
    * backfill-throttle an operator needs when a streaming query starts
    * against months of table history (the Iceberg streaming-read
    * rate-limit analog, in commit units because a commit is this source's
    * atomic progress step).
    */
  override def getDefaultReadLimit: ReadLimit =
    maxCommitsPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[GraftOffset].snapshotId
    val all = snaps.filter(s => s.snapshotId > from &&
      availableNowBound.forall(s.snapshotId <= _))
    if (all.isEmpty) GraftOffset(from)
    else maxCommitsPerTrigger match {
      case Some(n) => GraftOffset(all.take(n).last.snapshotId)
      case None => GraftOffset(all.last.snapshotId)
    }
  }

  override def reportLatestOffset(): Offset = latestOffset()

  override def deserializeOffset(json: String): Offset = {
    val re = """\{"snapshotId":(\d+)\}""".r
    json.trim match {
      case re(id) => GraftOffset(id.toLong)
      case other => throw new IllegalArgumentException(s"bad graft offset: $other")
    }
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GraftOffset].snapshotId
    val to = end.asInstanceOf[GraftOffset].snapshotId
    val log = snaps
    val range = log.filter(s => s.snapshotId > from && s.snapshotId <= to)
    // Expiry safety (the table's changeRange contract): the range must be
    // an UNBROKEN parent chain anchored at the start offset — snapshot
    // expiry between runs can drop committed appends, and silently skipping
    // them would lose streamed data. Refuse loudly instead.
    range.headOption.foreach { first =>
      val anchored =
        if (from == 0L) first.parentId.isEmpty
        else first.parentId.contains(from)
      val contiguous = range.sliding(2).forall {
        case Seq(a, b) => b.parentId.contains(a.snapshotId)
        case _ => true
      }
      require(anchored && contiguous,
        s"graft streaming read: snapshots in ($from, $to] of $dir are not a " +
          "contiguous parent chain — commits were expired since the last " +
          "consumed offset. Restart with a fresh checkpoint AND " +
          "option(\"stream-from\", \"latest\") (or a retained snapshot id); " +
          "a fresh checkpoint alone replays from the chain root, which is " +
          "no longer retained")
    }
    val bad = range.filterNot(s =>
      GraftStreamSource.RowAdding(s.operation) ||
        GraftStreamSource.Skippable(s.operation))
    require(bad.isEmpty,
      s"graft streaming read over ($from, $to] crosses row-removing commit(s) " +
        bad.map(s => s"${s.snapshotId}:${s.operation}").mkString(", ") +
        s" in $dir — an append-only stream cannot represent a retraction")
    // refuse schema drift inside the unconsumed range: reading old files
    // under a renamed/evolved schema would silently null (or alias) columns
    val batch = GraftStreamSource.appendedReads(dir, log, range, fullSchema, schema,
      (s, _) => s"graft streaming read: snapshot ${s.snapshotId} in $dir was written " +
        s"under a different schema than the stream's — consume up to the " +
        "evolution point with the old schema, then restart the query")
    reads = batch
    batch.plan.select(Fact.of(pushedFilters.toSeq), batch.files).map(batch.partition(_))
      .toArray[InputPartition]
  }

  // the readers of the batch planned last: Spark plans a micro-batch's
  // partitions before it asks for their reader factory
  @volatile private var reads: GraftReads = _

  override def createReaderFactory(): PartitionReaderFactory = {
    require(reads != null, s"graft streaming read of $dir: no micro-batch planned")
    reads.factory
  }
}

/** One data file as a read task: its path and size, its reader group in
  * [[GraftReads]], its partition values (typed as the table scan types
  * them) followed by its path for `_file`, and the deletes that apply to it.
  */
private[sources] case class GraftInputPartition(
    filePath: String,
    sizeBytes: Long,
    group: Int,
    values: InternalRow,
    rowCount: Long,
    writtenAt: Long,
    deletes: List[DeleteSpec],
    spjKey: Array[Any]) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  // only consulted when the scan reported KeyGroupedPartitioning, which
  // fills spjKey for every partition it plans (same column order)
  override def partitionKey(): InternalRow = new GenericInternalRow(spjKey)
}

/** One reader group: Spark's parquet reader function over the group's
  * write-time schema, rows laid out as [decoded stored columns, parquet row
  * index when a delete vector applies, partition values, file path];
  * `output` projects such a row into the scan schema through the evolution
  * replay, `keys` into the current delete-key columns `keyNames`.
  */
private[sources] case class GraftReadGroup(
    read: PartitionedFile => Iterator[InternalRow],
    decodes: Boolean,
    output: Seq[Expression],
    keys: Seq[Expression],
    keyNames: IndexedSeq[String],
    rowIndex: Int)

/** The connector's reads of a set of data files, planned before any task runs.
  * Files split into the table scan's groups — one evolution epoch and
  * write-time schema each, files a delete marks apart — and each group reads
  * with the function Spark's `ParquetFileFormat.buildReaderWithPartitionValues`
  * builds, the reader behind every Spark parquet scan. Its rows go through
  * the table's own evolution replay (`SnapshotPlanner.replay`) bound into a
  * projection, so only the stored columns the scan schema replays from are
  * decoded. Partition values come from `SnapshotFileIndex.partitionValues`,
  * the table scan's typing.
  *
  * `entries` pairs each file with its write-time schema json; with
  * `reconcile`, each file carries the deletes the per-file rule
  * (`SnapshotPlanner.applies`) keeps for it.
  */
private[sources] final class GraftReads(dir: String, val plan: SnapshotPlanner,
    entries: Seq[(FileEntry, String)], schema: StructType, reconcile: Boolean) {
  private val spark = SparkSession.active
  private val dataRoot = SnapshotLog.dataPath(dir).toString

  def files: Seq[FileEntry] = entries.map(_._1)

  private val deletesOf: Map[String, List[DeleteSpec]] =
    if (!reconcile || plan.snap.deletes.isEmpty) Map.empty
    else {
      val specs = plan.snap.deletes.map(d => d -> DeleteSpec.of(plan, d, dataRoot)).toMap
      files.map(e => e.path -> plan.deletesFor(e).map(specs)).filter(_._2.nonEmpty).toMap
    }

  def deletes(e: FileEntry): List[DeleteSpec] = deletesOf.getOrElse(e.path, Nil)

  // per group: its reader, and per file of it, the file's partition row
  private val built: IndexedSeq[(GraftReadGroup, Seq[(String, InternalRow)])] = {
    val fs = SnapshotLog.fs(spark.sessionState.newHadoopConf(), dir)
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    val byGroup = entries.groupBy { case (e, json) =>
      (plan.epochOf(e.writtenAt), json, deletesOf.contains(e.path)) }.toIndexedSeq
    byGroup.map { case ((epoch, json, _), members) =>
      val stored = DataType.fromJson(json).asInstanceOf[StructType]
      val (partSchema, partRows) = SnapshotFileIndex.partitionValues(spark, fs, dir,
        members.map(_._1), stored, plan)
      val specs = members.flatMap(m => deletes(m._1)).distinct
      val keyFields = specs.filterNot(_.positional)
        .flatMap(d => d.keyNames.zip(d.keyTypes)).distinct
        .map { case (n, t) => StructField(n, t) }
      val read = schema.filterNot(_.name == GraftStreamSource.FileMetaCol)
      val out = plan.replay(epoch, stored, StructType(read))
      val keys = plan.replay(epoch, stored, StructType(keyFields))
      val referenced = (out ++ keys).flatMap(_.collect {
        case a: UnresolvedAttribute => a.nameParts.head }).toSet
      val dataSchema = SqlInternals.asNullable(
        StructType(stored.filterNot(f => partSchema.fieldNames.contains(f.name))))
      val vectors = specs.exists(_.positional)
      val required = StructType(dataSchema.filter(f => referenced(f.name)) ++
        (if (vectors) Seq(StructField(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
          LongType)) else Nil))
      val withFile = partSchema.add(GraftStreamSource.FileMetaCol, StringType, nullable = false)
      val layout = StructType(required ++ withFile)
      def bind(e: Expression): Expression = e.transform {
        case a: UnresolvedAttribute =>
          val i = layout.fieldIndex(a.nameParts.head)
          BoundReference(i, layout(i).dataType, nullable = true)
        case z: TimeZoneAwareExpression if z.timeZoneId.isEmpty => z.withTimeZone(zone)
      }
      val fileCol = BoundReference(layout.length - 1, StringType, nullable = false)
      val replayOf = read.map(_.name).zip(out).toMap
      val output = schema.map(f =>
        if (f.name == GraftStreamSource.FileMetaCol) fileCol else bind(replayOf(f.name)))
      val readFn = new ParquetFileFormat().buildReaderWithPartitionValues(spark, dataSchema,
        withFile, required, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConf())
      val group = GraftReadGroup(readFn, required.nonEmpty, output, keys.map(bind),
        keyFields.map(_.name).toIndexedSeq, if (vectors) required.length - 1 else -1)
      val rows = members.zip(partRows).map { case ((e, _), values) =>
        e.path -> (new GenericInternalRow(values.toSeq(partSchema).toArray :+
          UTF8String.fromString(s"$dataRoot/${e.path}")): InternalRow)
      }
      (group, rows)
    }
  }
  private val groups = built.map(_._1)
  private val placed: Map[String, (Int, InternalRow)] = built.zipWithIndex.flatMap {
    case ((_, rows), g) => rows.map { case (path, values) => path -> (g, values) }
  }.toMap

  def partition(e: FileEntry, spjKey: Array[Any] = Array.empty): GraftInputPartition = {
    val (group, values) = placed(e.path)
    GraftInputPartition(s"$dataRoot/${e.path}", e.sizeBytes, group, values, e.rowCount,
      e.writtenAt, deletes(e), spjKey)
  }

  def factory: PartitionReaderFactory = new GraftReaderFactory(groups)
}

/** Reads one [[GraftInputPartition]] with its group's reader. A file whose
  * scan needs no stored column and no delete check emits its metadata row
  * count of constant rows without being opened. A delete check runs the
  * table's reconciler (`RowDeletes`) per row, positions from Spark's row
  * index column, as the table scan's `LiveRows` takes `_metadata.row_index`.
  */
private[sources] class GraftReaderFactory(groups: IndexedSeq[GraftReadGroup])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    val g = groups(p.group)
    val rows: Iterator[InternalRow] =
      if (!g.decodes && p.deletes.isEmpty && p.rowCount >= 0)
        Iterator.iterate(0L)(_ + 1).takeWhile(_ < p.rowCount).map(_ => p.values)
      else g.read(PartitionedFile(p.values, SparkPath.fromPathString(p.filePath), 0L,
        p.sizeBytes, Array.empty[String], 0L, p.sizeBytes))
    val live = if (p.deletes.isEmpty) rows else {
      val check = new RowDeletes(p.filePath.substring(p.filePath.lastIndexOf('/') + 1),
        p.writtenAt, p.deletes, g.keyNames)
      val keyRow = UnsafeProjection.create(g.keys)
      val types = g.keys.map(_.dataType).toArray
      val keys = new Array[Any](types.length)
      rows.filter { r =>
        val k = keyRow(r)
        var i = 0
        while (i < keys.length) {
          keys(i) = if (k.isNullAt(i)) null else k.get(i, types(i))
          i += 1
        }
        val pos =
          if (g.rowIndex < 0) -1L
          else if (r.isNullAt(g.rowIndex)) throw new IllegalStateException(
            s"the parquet reader gave no row index for ${p.filePath}")
          else r.getLong(g.rowIndex)
        !check.deleted(pos, keys)
      }
    }
    val out = UnsafeProjection.create(g.output)
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean = live.hasNext && { row = out(live.next()); true }
      override def get(): InternalRow = row
      override def close(): Unit = rows match {
        case c: java.io.Closeable => c.close()
        case _ =>
      }
    }
  }
}

object GraftStreamSource {

  /** Name of the `_file` metadata column (the Iceberg `_file` analog). */
  private[sources] val FileMetaCol = "_file"

  /** The table's snapshot log, read through the session's Hadoop conf, so
    * every `spark.hadoop.*` setting (a filesystem implementation, object-store
    * credentials) applies as it does to the table API's own loads. */
  private[sources] def loadLog(dir: String): Seq[Snapshot] =
    SnapshotLog.load(SparkSession.active.sessionState.newHadoopConf(), dir)

  /** The table's metadata planner over `snap` — the one evolution replay,
    * pruning rule and metadata-aggregate rule the table API also uses.
    * Partition transforms load from the table properties only if a range or
    * point pass reaches them. */
  private[sources] def planner(dir: String, snap: Snapshot): SnapshotPlanner =
    new GraftTable(SparkSession.active, dir).planner(snap)

  /** The filters the planner can turn into file-pruning facts. */
  private[sources] def plannable(filters: Array[SFilter]): Array[SFilter] =
    filters.filter(f => Fact.of(Seq(f)).nonEmpty)

  /** Append-only reads (incremental batch, micro-batch) never replay
    * evolution: every appended file must store each column of the read
    * schema under its own name and type. Provenance is judged against the
    * latest retained snapshot carrying the read schema — a file written
    * after it was written under a different schema — so a column dropped
    * and re-added with the same type (same shape, different values) refuses
    * too. Returns that snapshot's planner for pruning the range.
    */
  private[sources] def appendOnlyPlanner(dir: String, snaps: Seq[Snapshot],
      fullSchema: StructType, appended: Seq[(Snapshot, FileEntry)],
      refusal: (Snapshot, FileEntry) => String): SnapshotPlanner = {
    val shape = (st: StructType) => st.fields.map(f => (f.name, f.dataType)).toSet
    val plan = snaps.reverseIterator.find(s =>
      shape(DataType.fromJson(s.schemaJson).asInstanceOf[StructType]) == shape(fullSchema))
      .map(planner(dir, _))
    // files of one commit share one verdict
    val verdicts = scala.collection.mutable.Map[Long, Boolean]()
    appended.foreach { case (s, e) =>
      require(verdicts.getOrElseUpdate(e.writtenAt,
        plan.exists(p => e.writtenAt <= p.snap.snapshotId && scala.util.Try(
          SnapshotPlanner.identity(p.replay(p.epochOf(e.writtenAt), DataType.fromJson(
            s.schemas(e.writtenAt.toString)).asInstanceOf[StructType], fullSchema)))
          .getOrElse(false))),
        refusal(s, e))
    }
    plan.getOrElse(planner(dir, snaps.last))
  }

  /** Reads of the files `range`'s row-adding commits appended, each under
    * its own commit's write-time schema; they must replay nothing
    * ([[appendOnlyPlanner]]), and no delete applies to them. */
  private[sources] def appendedReads(dir: String, snaps: Seq[Snapshot], range: Seq[Snapshot],
      fullSchema: StructType, schema: StructType,
      refusal: (Snapshot, FileEntry) => String): GraftReads = {
    val appended = range.filter(s => RowAdding(s.operation))
      .flatMap(s => s.files.filter(_.writtenAt == s.snapshotId).map(s -> _))
    new GraftReads(dir, appendOnlyPlanner(dir, snaps, fullSchema, appended, refusal),
      appended.map { case (s, e) => e -> s.schemas(e.writtenAt.toString) }, schema,
      reconcile = false)
  }

  private[sources] def tableSchema(dir: String): StructType = {
    val snaps = loadLog(dir)
    require(snaps.nonEmpty, s"no graft table at $dir")
    DataType.fromJson(snaps.last.schemaJson).asInstanceOf[StructType]
  }

  /** One write body for both connector write routes (path-based `save` and
    * catalog INSERT): align to the table's column order so the data files
    * keep one layout — the append's own shape check still refuses genuine
    * mismatches (missing columns fail the select here) — then the table
    * API's distributed append/overwrite.
    */
  private[sources] def writeInto(dir: String,
      data: org.apache.spark.sql.DataFrame, overwrite: Boolean): Unit = {
    val t = graft.table.GraftTable.load(data.sparkSession, dir)
    val aligned = data.select(tableSchema(dir).fieldNames
      .map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
    if (overwrite) t.overwrite(aligned) else t.append(aligned)
  }

  /** Batch time-travel resolution shared by the scan, the metadata
    * aggregate, and schema inference: by retained snapshot id, by the last
    * snapshot at or before a millisecond timestamp, else the head. Unknown
    * targets raise — a typo'd snapshot id must never silently read head. */
  private[sources] def resolveSnapshot(snaps: Seq[Snapshot],
      dir: String, id: Option[Long], ts: Option[Long]): Option[Snapshot] =
    (id, ts) match {
      case (Some(i), _) =>
        val s = snaps.find(_.snapshotId == i)
        require(s.isDefined,
          s"snapshot-id $i is not retained in $dir (see the snapshots metadata table)")
        s
      case (_, Some(t)) =>
        val s = snaps.filter(_.committedAt <= t).lastOption
        require(s.isDefined,
          s"as-of-timestamp $t predates every retained snapshot of $dir")
        s
      case _ => snaps.lastOption
    }

  /** Plan an aggregation against snapshot metadata alone, or None when any
    * condition makes metadata untrustworthy. Returns (result schema, the
    * result rows' values, a plan-visible description). Every value comes
    * from the table's own metadata functions ([[SnapshotPlanner]]
    * `countRows` / `countNonNull` / `minMax`, the same ones the table API
    * and SQL front door answer with), so stats resolve under each file's
    * write-time column name and a dropped-then-re-added column never reads
    * the old column's bounds. Each `None` is a case where metadata could
    * lie: a delete metadata cannot count (an equality delete, a vector
    * without counts) that can touch a covered file, any live delete under
    * COUNT(col) / MIN / MAX, an unknown row count, a column some file cannot
    * trace, a missing null count or bound, a type whose footer bounds are
    * not exact (strings), SUM/AVG/DISTINCT, or grouping by anything but
    * identity-partition columns. A group whose rows counted vectors delete
    * entirely yields no row, as Spark's GROUP BY would.
    */
  private[sources] def planAggregation(dir: String, schema: StructType,
      agg: Aggregation, asOfSnapshot: Option[Long] = None,
      asOfTimestamp: Option[Long] = None): Option[(StructType, Array[Array[Any]], String)] = {
    val head = resolveSnapshot(loadLog(dir),
      dir, asOfSnapshot, asOfTimestamp).getOrElse(return None)
    val plan = planner(dir, head)
    val files = head.files

    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          Some(nr.fieldNames()(0)).filter(c => schema.exists(_.name == c))
        case _ => None
      }
    def typeOf(c: String): DataType = schema(schema.fieldIndex(c)).dataType

    /** Each aggregate becomes (result type, description, per-group
      * evaluator) over the table's own metadata functions; the evaluator
      * returns None when THAT group's metadata can't answer exactly — which
      * refuses the whole pushdown. */
    type Eval = List[FileEntry] => Option[Any]
    def extreme(c: String, pick: ((Any, Any)) => Any): Eval = fs =>
      scala.util.Try(plan.minMax(c, fs)).toOption.flatten
        .map(mm => CatalystTypeConverters.convertToCatalyst(pick(mm)))
    val planned: Seq[(DataType, String, Eval)] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        (LongType: DataType, "COUNT(*)", (fs: List[FileEntry]) => plan.countRows(fs))
      case cnt: Count if !cnt.isDistinct =>
        val c = colOf(cnt.column).getOrElse(return None)
        (LongType: DataType, s"COUNT($c)", (fs: List[FileEntry]) =>
          scala.util.Try(plan.countNonNull(c, fs)).toOption.flatten)
      case m: Min =>
        val c = colOf(m.column).getOrElse(return None)
        (typeOf(c), s"MIN($c)", extreme(c, _._1))
      case m: Max =>
        val c = colOf(m.column).getOrElse(return None)
        (typeOf(c), s"MAX($c)", extreme(c, _._2))
      case _ => return None // SUM/AVG/distinct: not derivable from metadata
    }

    // GROUP BY: identity-partition columns recorded in every file — each
    // group is exactly one partition-value tuple, so per-group file sets
    // (and their metadata) are exact. Beyond Iceberg's aggregate pushdown,
    // which refuses any grouping; the decisive plan for the 100 TB
    // "row count per day partition" query — zero data files opened.
    val groupCols = agg.groupByExpressions.toSeq.map(colOf(_).getOrElse(return None))
    if (!groupCols.forall(c => files.forall(_.partitionValues.contains(c))))
      return None
    val groups: Seq[(Array[Any], List[FileEntry])] =
      if (groupCols.isEmpty) Seq((Array.empty[Any], files))
      else files.groupBy(f => groupCols.map(f.partitionValues)).toSeq
        // a partition whose rows vectors deleted entirely is no group
        .filterNot { case (_, fs) => plan.countRows(fs).contains(0L) }
        .sortBy(_._1.mkString("\u0000")).map { case (raws, fs) =>
          (groupCols.zip(raws).map { case (c, raw) =>
            partitionKeyValue(typeOf(c), raw).getOrElse(return None)
          }.toArray, fs)
        }

    val rows: Array[Array[Any]] = groups.map { case (key, fs) =>
      key ++ planned.map(_._3(fs).getOrElse(return None))
    }.toArray
    val fields = groupCols.map(c => schema(schema.fieldIndex(c))) ++
      planned.zipWithIndex.map { case ((dt, d, _), i) =>
        StructField(s"agg_$i", dt, nullable = !d.startsWith("COUNT"))
      }
    val desc = (groupCols.map(c => s"GROUP BY $c") ++ planned.map(_._2))
      .mkString(", ")
    Some((StructType(fields), rows, desc))
  }

  /** A recorded partition value as the CATALYST value of the column's type
    * (UTF8String for strings, boxed numerics, days-int for dates), decoded
    * from its hive-escaped directory name — the currency of grouped
    * metadata aggregates and storage-partitioned join keys. None = the null
    * partition, or a type (or raw string) that can't round-trip exactly,
    * which refuses whatever optimization asked.
    */
  private[sources] def partitionKeyValue(dt: DataType, raw: String): Option[Any] =
    if (raw == "__HIVE_DEFAULT_PARTITION__") None
    else scala.util.Try[Any] {
      val v = ExternalCatalogUtils.unescapePathName(raw)
      dt match {
        case StringType => UTF8String.fromString(v)
        case ByteType => v.toByte
        case ShortType => v.toShort
        case IntegerType => v.toInt
        case LongType => v.toLong
        case FloatType => v.toFloat
        case DoubleType => v.toDouble
        case DateType => java.time.LocalDate.parse(v).toEpochDay.toInt
        case BooleanType => v.toBoolean
      }
    }.toOption

  /** Same classification as the table's incremental readers. */
  private[sources] val RowAdding = Set("append", "add-files")
  private[sources] val Skippable = Set("create", "rewrite-data-files",
    "materialize-deletes", "zorder-rewrite", "sort-rewrite",
    "add-column", "rename-column", "widen-column", "evolve-partitioning")
}
