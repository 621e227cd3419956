package graft.table

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitionDirectory, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.SqlInternals
import org.apache.spark.sql.types.StructType

/** The file index of a table scan, fed by the snapshot's own file list: each
  * `FileEntry`'s path and size become a `FileStatus`, so building a read
  * makes no filesystem call and starts no listing job (Iceberg's manifests
  * play the same role — a reader never lists storage).
  *
  * Everything past the file list is Spark's own `PartitioningAwareFileIndex`:
  * partition directories under `root` parse, unescape and resolve their
  * types against `schema` exactly as `spark.read.option("basePath", root)`
  * would, and the scan stays a `FileSourceScanExec` with its pushdown,
  * `_metadata` columns and split planning. Only the root's name is used (it
  * is the base path of partition parsing), never its contents.
  *
  * A file removed out of band fails the read when it executes
  * (`FileNotFoundException`); it is never skipped. The snapshot records no
  * modification time, so `_metadata.file_modification_time` reads the epoch.
  *
  * Scans prune themselves: `listFiles` keeps only the files the snapshot's
  * `planner` keeps for the filters Spark hands the scan (Delta's file index
  * skips data the same way), so every read built on the table scan — SQL,
  * joins, subqueries, time travel, DML source queries, the table API —
  * prunes at physical planning, and Spark's own partition pruning still
  * runs first. The filters name the group's stored columns; `current` maps
  * each to the current column it replays as, and a conjunct over a column
  * with no current name prunes nothing.
  *
  * Two indexes are equal when they list the same files, the rule Spark's
  * `InMemoryFileIndex` applies to its root paths: plan reuse and the cache
  * manager then treat two reads of the same files as one.
  */
private[graft] final class SnapshotFileIndex(spark: SparkSession, val root: Path,
    val tableDir: String, entries: Seq[(FileEntry, FileStatus)], schema: StructType,
    planner: SnapshotPlanner, current: Map[String, String])
    extends PartitioningAwareFileIndex(spark, Map.empty, Some(schema)) {

  private val files = entries.map(_._2)

  override val rootPaths: Seq[Path] = Seq(root)

  override val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap(files.map(f => f.getPath -> f): _*)

  override val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    files.toArray.groupBy(_.getPath.getParent)

  private lazy val spec = inferPartitioning()

  override def partitionSpec(): PartitionSpec = spec

  // the parent lists an unpartitioned index's files through its root paths;
  // the snapshot already names them
  override def allFiles(): Seq[FileStatus] = files

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val listed = super.listFiles(partitionFilters, dataFilters)
    val facts = (partitionFilters ++ dataFilters)
      .filter(_.references.forall(a => current.contains(a.name)))
      .flatMap(e => Fact.of(e.transform {
        case a: AttributeReference => a.withName(current(a.name))
      }))
    if (facts.isEmpty) listed
    else {
      val kept = planner.select(facts, entries.map(_._1)).map(_.path).toSet
      val path = entries.map { case (e, f) => f.getPath -> e.path }.toMap
      listed.map(d => d.copy(files = d.files.filter(f => kept(path(f.getPath)))))
        .filter(_.files.nonEmpty)
    }
  }

  override def refresh(): Unit = ()

  override def equals(o: Any): Boolean = o match {
    case s: SnapshotFileIndex => root == s.root && leafFiles.keySet == s.leafFiles.keySet
    case _ => false
  }

  override def hashCode: Int = leafFiles.keySet.hashCode
}

private[graft] object SnapshotFileIndex {
  /** One epoch group's parquet scan over `entries` under the data directory
    * `dataDir` of the table at `tableDir`: the relation
    * `spark.read.option("basePath", dataDir).schema(schema).parquet(paths)`
    * resolves — hive partition columns from the directories, typed by
    * `schema` where it names them, data columns nullable — without a
    * filesystem call or a job. Its listing prunes through `planner`, with
    * `current` mapping the group's stored column names to current ones.
    *
    * A file's path is the directory's text plus the entry's relative path,
    * qualified the way `spark.read` qualifies a path it is given, so
    * `input_file_name()` reads as in a plain parquet read of the file (a
    * local file reads `file:///…`).
    */
  def scan(spark: SparkSession, fs: FileSystem, tableDir: String, entries: Seq[FileEntry],
      schema: StructType, planner: SnapshotPlanner, current: Map[String, String]): DataFrame = {
    val index = build(spark, fs, tableDir, entries, schema, planner, current)
    val parts = index.partitionSchema
    val resolver = spark.sessionState.conf.resolver
    val data = StructType(schema.filterNot(f => parts.exists(p => resolver(p.name, f.name))))
    SqlInternals.ofRows(spark, LogicalRelation(HadoopFsRelation(index, parts,
      SqlInternals.asNullable(data), None, new ParquetFileFormat, Map.empty)(spark)))
  }

  /** The partition schema of `entries`' directories and each entry's
    * partition values, typed as a [[scan]] of them types them: Spark's
    * partition parsing against `schema`, timestamps in the session time
    * zone. */
  def partitionValues(spark: SparkSession, fs: FileSystem, tableDir: String,
      entries: Seq[FileEntry], schema: StructType,
      planner: SnapshotPlanner): (StructType, Seq[InternalRow]) = {
    val index = build(spark, fs, tableDir, entries, schema, planner, Map.empty)
    val byDir = index.partitionSpec().partitions.map(p => p.path -> p.values).toMap
    (index.partitionSchema,
      index.allFiles().map(f => byDir.getOrElse(f.getPath.getParent, InternalRow.empty)))
  }

  private def build(spark: SparkSession, fs: FileSystem, tableDir: String,
      entries: Seq[FileEntry], schema: StructType, planner: SnapshotPlanner,
      current: Map[String, String]): SnapshotFileIndex = {
    def qualified(p: Path) = p.makeQualified(fs.getUri, fs.getWorkingDirectory)
    val dataDir = SnapshotLog.dataPath(tableDir)
    val statuses = entries.map(e => e -> new FileStatus(
      e.sizeBytes, false, 1, 0L, 0L, qualified(new Path(s"$dataDir/${e.path}"))))
    new SnapshotFileIndex(spark, qualified(dataDir), tableDir, statuses, schema,
      planner, current)
  }

  /** Per table directory, (files read, files indexed) summed over the table
    * scans of an executed plan — through adaptive plans, query stages,
    * commands' inner plans and subqueries. A file read by two scans counts
    * twice, in both numbers. */
  def listed(plan: SparkPlan): Map[String, (Int, Int)] = {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      // inner children are a plan's subqueries, or a command's inner plan
      case other =>
        (other.children ++ other.innerChildren.collect { case s: SparkPlan => s }).flatMap(scans)
    }
    scans(plan).flatMap(s => s.relation.location match {
      case i: SnapshotFileIndex =>
        Seq(i.tableDir -> (s.metrics("numFiles").value.toInt, i.allFiles().size))
      case _ => Nil
    }).groupMapReduce(_._1)(_._2) { case ((a, b), (c, d)) => (a + c, b + d) }
  }
}
