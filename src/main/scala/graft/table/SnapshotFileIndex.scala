package graft.table

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitionSpec, PartitioningAwareFileIndex}
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
  * Two indexes are equal when they list the same files, the rule Spark's
  * `InMemoryFileIndex` applies to its root paths: plan reuse and the cache
  * manager then treat two reads of the same files as one.
  */
private[table] final class SnapshotFileIndex(spark: SparkSession, val root: Path,
    files: Seq[FileStatus], schema: StructType)
    extends PartitioningAwareFileIndex(spark, Map.empty, Some(schema)) {

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

  override def refresh(): Unit = ()

  override def equals(o: Any): Boolean = o match {
    case s: SnapshotFileIndex => root == s.root && leafFiles.keySet == s.leafFiles.keySet
    case _ => false
  }

  override def hashCode: Int = leafFiles.keySet.hashCode
}

private[table] object SnapshotFileIndex {
  /** One epoch group's parquet scan over `entries` under the table's data
    * directory `dataDir`: the relation `spark.read.option("basePath",
    * dataDir).schema(schema).parquet(paths)` resolves — hive partition
    * columns from the directories, typed by `schema` where it names them,
    * data columns nullable — without a filesystem call or a job.
    *
    * A file's path is the directory's text plus the entry's relative path,
    * qualified the way `spark.read` qualifies a path it is given, so
    * `input_file_name()` reads as in a plain parquet read of the file (a
    * local file reads `file:///…`).
    */
  def scan(spark: SparkSession, fs: FileSystem, dataDir: Path, entries: Seq[FileEntry],
      schema: StructType): DataFrame = {
    def qualified(p: Path) = p.makeQualified(fs.getUri, fs.getWorkingDirectory)
    val index = new SnapshotFileIndex(spark, qualified(dataDir), entries.map(e => new FileStatus(
      e.sizeBytes, false, 1, 0L, 0L, qualified(new Path(s"$dataDir/${e.path}")))), schema)
    val parts = index.partitionSchema
    val resolver = spark.sessionState.conf.resolver
    val data = StructType(schema.filterNot(f => parts.exists(p => resolver(p.name, f.name))))
    SqlInternals.ofRows(spark, LogicalRelation(HadoopFsRelation(index, parts,
      SqlInternals.asNullable(data), None, new ParquetFileFormat, Map.empty)(spark)))
  }
}
