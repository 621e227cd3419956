package graft.sources

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graftbridge.SqlInternals
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsOverwrite, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.{AlwaysTrue, Filter => SFilter}
import org.apache.spark.sql.types.StructType

import graft.table.{DataFileWriter, FileEntry, GraftTable, Snapshot, WrittenFiles}

/** The connector's write builder: append by default; `truncate()` /
  * `overwrite(AlwaysTrue)` = full-table overwrite (the INSERT OVERWRITE
  * static default); a non-trivial filter = atomic filter-overwrite.
  * `viaCatalog` says whether Spark can resolve the table's partition
  * transforms through [[GraftCatalog]]'s functions. */
private[sources] class GraftWriteBuilder(dir: String, info: LogicalWriteInfo,
    viaCatalog: Boolean) extends WriteBuilder with SupportsTruncate with SupportsOverwrite {
  private var mode: GraftWrite.Mode = GraftWrite.Append
  override def truncate(): WriteBuilder = { mode = GraftWrite.Overwrite; this }
  override def canOverwrite(filters: Array[SFilter]): Boolean =
    GraftCatalog.filtersToColumn(filters).isDefined
  override def overwrite(filters: Array[SFilter]): WriteBuilder = {
    mode =
      if (filters.forall(_.isInstanceOf[AlwaysTrue])) GraftWrite.Overwrite
      else GraftWrite.OverwriteWhere(GraftCatalog.filtersToColumn(filters).getOrElse(
        throw new UnsupportedOperationException(
          s"graft overwrite: untranslatable filters ${filters.mkString(", ")}")))
    this
  }
  override def build(): Write = new GraftWrite(dir, info.schema(), viaCatalog, mode)
}

/** The one DSv2 write into a graft table — catalog INSERT / INSERT
  * OVERWRITE / filter-overwrite, the copy-on-write `ReplaceData` of
  * UPDATE/DELETE/MERGE, staged CTAS/RTAS and the streaming sink. Its tasks
  * run the table's own writer ([[GraftTable.writerFactory]]): each writes
  * its files once, at their final names under `data/`, and returns their
  * entries as its commit message; the driver commits exactly the entries
  * the messages name, and an abort deletes them.
  *
  * The write declares its distribution and ordering, so Spark shapes the
  * input and no session conf is touched: a partitioned table clusters by
  * its partition transforms (rebalanced at the table's
  * `write.target-file-size-bytes` advisory), and every table orders by
  * partition, then `write.sort-order` — Iceberg's `SparkWrite` pattern.
  */
private[sources] class GraftWrite(dir: String, schema: StructType, viaCatalog: Boolean,
    mode: GraftWrite.Mode) extends Write with RequiresDistributionAndOrdering {

  private val table = GraftTable.load(SparkSession.active, dir)
  private val props = table.properties
  private val partCols = table.latest.partitionCols
  // Spark has resolved the rows to this schema; its nested nullability
  // may be narrower, so the commit's evolution check compares the table's
  private val tableSchema = table.schema

  private val partitionBy: Array[V2Expression] =
    if (viaCatalog) GraftCatalog.reportPartitioning(partCols, props).map(t => t: V2Expression)
    else {
      // a path table has no function catalog: transforms cluster by their
      // source column, which keeps rows of one partition value together
      val sources = GraftTable.parseTransforms(props).map(td => td.pc -> td.src).toMap
      partCols.map(pc => Expressions.column(sources.getOrElse(pc, pc)): V2Expression).toArray
    }

  override def requiredDistribution(): Distribution =
    if (partCols.isEmpty) Distributions.unspecified()
    else Distributions.clustered(partitionBy)

  override def requiredOrdering(): Array[SortOrder] =
    (partitionBy ++ props.get(GraftTable.SortOrderProp).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)).map(Expressions.column))
      .map(e => Expressions.sort(e, SortDirection.ASCENDING))

  override def distributionStrictlyRequired(): Boolean = false

  override def advisoryPartitionSizeInBytes(): Long =
    if (partCols.isEmpty) 0L else table.writeAdvisory(props).getOrElse(0L)

  private def factory(stem: String) = table.writerFactory(schema, partCols, stem, props)

  private def entries(messages: Array[WriterCommitMessage]): Seq[FileEntry] =
    messages.toSeq.collect { case WrittenFiles(es) => es }.flatten

  override def toBatch: BatchWrite = new BatchWrite {
    private val files = factory(s"c${table.latest.snapshotId + 1}")
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = files
    override def abort(messages: Array[WriterCommitMessage]): Unit =
      DataFileWriter.delete(files, entries(messages))
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val written = entries(messages)
      mode match {
        case GraftWrite.Append =>
          table.commitWritten(written, "append", parentFiles = true, tableSchema)
        case GraftWrite.Overwrite =>
          table.commitWritten(written, "overwrite", parentFiles = false, tableSchema)
        case GraftWrite.OverwriteWhere(cond) =>
          // rewrite matched files minus matching rows, add the written rows,
          // keep everything untouched — ONE commit
          val (matched, untouched, planned) = graft.dml.Dml.planFiles(table, cond)
          val survivors = table.writeDataFiles(
            table.readFiles(matched, planned).filter(!cond), planned.snapshotId + 1)
          table.commitReplace(survivors ++ written, untouched, "overwrite", planned)
        case GraftWrite.Replace(plannedRef, operation) =>
          val (plannedSnap, scanned) = plannedRef().getOrElse((table.latest, Nil))
          val scannedPaths = scanned.map(_.path).toSet
          table.commitReplace(written, plannedSnap.files.filterNot(e => scannedPaths(e.path)),
            operation, plannedSnap)
      }
    }
  }

  /** The streaming sink, `df.writeStream.format("graft")`: each epoch's
    * tasks write their files at their final names under `data/` before the
    * commit, and the driver commits the entries their messages named through
    * [[GraftTable.commitStreamingEpoch]], fenced on the `stream-batch-id`
    * summary key, so Spark's at-least-once epoch replay after a restart
    * upgrades to exactly-once (a replay's files are deleted). A zombie
    * attempt's file is never named, so it stays an orphan for
    * `remove_orphan_files`. */
  override def toStreaming: StreamingWrite = {
    require(mode == GraftWrite.Append,
      "graft streaming sink is append-only: use outputMode('append')")
    val shape = (st: StructType) =>
      SqlInternals.asNullable(st).fields.map(f => (f.name, f.dataType)).toSet
    require(shape(schema) == shape(tableSchema),
      s"graft streaming sink: stream schema ${schema.simpleString} " +
        s"does not match table $dir ${tableSchema.simpleString}")
    new StreamingWrite {
      private val files = factory("stream")
      override def createStreamingWriterFactory(info: PhysicalWriteInfo)
          : StreamingDataWriterFactory = files
      override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
        table.commitStreamingEpoch(epochId, entries(messages))
      override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
        DataFileWriter.delete(files, entries(messages))
    }
  }
}

private[sources] object GraftWrite {
  sealed trait Mode
  case object Append extends Mode
  case object Overwrite extends Mode
  final case class OverwriteWhere(cond: Column) extends Mode
  /** A copy-on-write row-level operation: swap the files its scan planned
    * for the written replacement rows, against the snapshot it planned. */
  final case class Replace(planned: () => Option[(Snapshot, Seq[FileEntry])],
      operation: String) extends Mode
}
