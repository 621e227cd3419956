package graft.table

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** What one write task hands the driver: the files it wrote, each with its
  * final table-relative path, partition values, row count, size and footer
  * stats. `writtenAt` is filled in by the commit. */
private[graft] final case class WrittenFiles(entries: Seq[FileEntry]) extends WriterCommitMessage

/** The one table-file writer's factory: every route that turns rows into a
  * table's data or delete files — the table API's DataFrame writes and the
  * connector's batch, row-level and streaming writes — creates its task
  * writers here.
  *
  * @param root      qualified directory the files land under (`data/` or
  *                  `data/_deletes`); entry paths are relative to `data/`
  * @param relPrefix prefix of every entry path (`""` or `_deletes/`)
  * @param partition per partition column: its name and its value as a
  *                  string, an expression bound to the input row (identity
  *                  columns are references, transform columns derive here)
  * @param keep      input ordinals written into the file (the input minus
  *                  its identity partition columns)
  * @param fileSchema the file's columns
  * @param name      leaf-name stem; a per-write token keeps names unique
  * @param conf      the write's Hadoop conf, broadcast once per write as
  *                  Spark's file scan broadcasts its read conf: the factory
  *                  that travels with every task carries only the handle
  */
private[graft] final case class DataFileWriterFactory(
    root: String,
    relPrefix: String,
    partition: Seq[(String, Expression)],
    keep: Seq[Int],
    inputWidth: Int,
    fileSchema: StructType,
    name: String,
    outputs: OutputWriterFactory,
    conf: Broadcast[SerializableConfiguration]) extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataFileWriter(this, partitionId, taskId)

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new DataFileWriter(copy(name = s"$name-e$epochId"), partitionId, taskId)
}

/** One task's writer. Each parquet file is written once, by Spark's own
  * parquet output writer, at its final unique name; rows arrive clustered
  * by partition (the write's required ordering), and a change of partition
  * value closes the current file and opens the next. `commit` reads back
  * the footer of every file it closed and returns their entries; `abort`
  * deletes every file the task opened.
  */
private[graft] final class DataFileWriter(f: DataFileWriterFactory, partitionId: Int,
    taskId: Long) extends DataWriter[InternalRow] {

  private val conf = f.conf.value.value
  private val context = new TaskAttemptContextImpl(conf, new TaskAttemptID(
    new TaskID(new JobID(f.name, 0), TaskType.MAP, partitionId),
    Option(TaskContext.get()).map(_.attemptNumber()).getOrElse(0)))
  // null when unpartitioned / when every input column is written
  private val partValues =
    if (f.partition.isEmpty) null else UnsafeProjection.create(f.partition.map(_._2))
  private val project =
    if (f.keep.size == f.inputWidth) null
    else UnsafeProjection.create(f.keep.zipWithIndex.map { case (i, j) =>
      BoundReference(i, f.fileSchema(j).dataType, nullable = true) })
  private var current: OutputWriter = _
  private var currentKey: InternalRow = _
  private var currentRel: (String, Map[String, String]) = _
  private var rows = 0L
  private val closed = scala.collection.mutable.ArrayBuffer[(String, Map[String, String], Long)]()
  private val opened = scala.collection.mutable.ArrayBuffer[String]()

  private def open(key: InternalRow): Unit = {
    val values = f.partition.indices.map { i =>
      f.partition(i)._1 -> ExternalCatalogUtils.getPartitionValueString(
        if (key.isNullAt(i)) null else key.getUTF8String(i).toString)
    }
    val dir = values.map { case (c, v) => s"${ExternalCatalogUtils.escapePathName(c)}=$v" }
    val leaf = f"${f.name}-$partitionId%05d-$taskId-${opened.size}.parquet"
    val rel = (dir :+ leaf).mkString("/")
    opened += rel
    current = f.outputs.newInstance(new Path(f.root, rel).toString, f.fileSchema, context)
    currentKey = key
    currentRel = (rel, values.toMap)
    rows = 0L
  }

  private def closeCurrent(): Unit = if (current != null) {
    current.close()
    closed += ((currentRel._1, currentRel._2, rows))
    current = null
  }

  override def write(row: InternalRow): Unit = {
    val key = if (partValues == null) null else partValues(row)
    if (current == null || (key != null && key != currentKey)) {
      closeCurrent()
      open(if (key == null) null else key.copy())
    }
    current.write(if (project == null) row else project(row))
    rows += 1
  }

  /** Row-level plans hand the metadata projection apart from the row. */
  override def write(metadata: InternalRow, row: InternalRow): Unit = write(row)

  override def commit(): WriterCommitMessage = {
    closeCurrent()
    val fs = new Path(f.root).getFileSystem(conf)
    WrittenFiles(closed.toSeq.map { case (rel, pv, n) =>
      val p = new Path(f.root, rel)
      val (footerRows, stats) = GraftTable.footerMeta(conf, p)
      require(footerRows == n, s"written file $p holds $footerRows rows, the task wrote $n")
      FileEntry(f.relPrefix + rel, pv, n, fs.getFileStatus(p).getLen, 0L, stats)
    })
  }

  override def abort(): Unit = {
    scala.util.Try(if (current != null) current.close())
    current = null
    val fs = new Path(f.root).getFileSystem(conf)
    opened.foreach(rel => scala.util.Try(fs.delete(new Path(f.root, rel), false)))
  }

  override def close(): Unit = ()
}

private[graft] object DataFileWriter {

  /** Run `df` through the writer as one Spark job, the way Spark's own V2
    * write runs a task: write every row, then commit, or abort on failure.
    * A failed job leaves nothing behind: it deletes the files its committed
    * tasks named, and — once its stages have no running task left — any
    * file a task finished after the failure (its result never arrives, but
    * its leaf name carries this write's token). */
  def run(df: DataFrame, factory: DataFileWriterFactory): Seq[FileEntry] = {
    val qe = df.queryExecution
    val sc = df.sparkSession.sparkContext
    val done = scala.collection.mutable.ArrayBuffer[FileEntry]()
    val task = (rows: Iterator[InternalRow]) => {
      val ctx = TaskContext.get()
      val w = factory.createWriter(ctx.partitionId(), ctx.taskAttemptId())
      try {
        rows.foreach(w.write)
        w.commit().asInstanceOf[WrittenFiles]
      } catch { case e: Throwable => w.abort(); throw e }
      finally w.close()
    }
    var jobIds = Seq.empty[Int]
    try SQLExecution.withNewExecutionId(qe, Some("graft table write")) {
      val rdd = qe.executedPlan.execute()
      val job = sc.submitJob(rdd, task, rdd.partitions.indices.toSeq,
        (_: Int, m: WrittenFiles) => done.synchronized(done ++= m.entries), ())
      jobIds = job.jobIds
      scala.concurrent.Await.ready(job, scala.concurrent.duration.Duration.Inf)
      job.value.get.get
    } catch { case e: Throwable =>
      delete(factory, done.synchronized(done.toSeq))
      val stages = jobIds.flatMap(id => Option(sc.statusTracker.getJobInfo(id).orNull))
        .flatMap(_.stageIds.toSeq)
      val deadline = System.currentTimeMillis() + 30000L
      while (System.currentTimeMillis() < deadline && stages.exists(id =>
          Option(sc.statusTracker.getStageInfo(id).orNull).exists(_.numActiveTasks > 0)))
        Thread.sleep(20)
      val root = new Path(factory.root)
      val fs = root.getFileSystem(factory.conf.value.value)
      scala.util.Try {
        val it = fs.listFiles(root, true)
        while (it.hasNext) {
          val f = it.next().getPath
          if (f.getName.startsWith(factory.name + "-")) fs.delete(f, false)
        }
      }
      throw e
    }
    done.toSeq.sortBy(_.path)
  }

  /** Delete written files (a job or a commit that failed). */
  def delete(factory: DataFileWriterFactory, entries: Seq[FileEntry]): Unit = {
    val conf = factory.conf.value.value
    entries.foreach { e =>
      val p = new Path(factory.root, e.path.stripPrefix(factory.relPrefix))
      scala.util.Try(p.getFileSystem(conf).delete(p, false))
    }
  }
}
