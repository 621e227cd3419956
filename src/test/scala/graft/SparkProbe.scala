package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.table.{GraftTable, SnapshotFileIndex}

/** What Spark did while a block ran: the jobs it started, the bytes its
  * tasks read from storage and the file scans of the queries it executed. Listener events arrive asynchronously, so a
  * marker job runs before and after the block; both listeners sit on the
  * shared listener queue, which delivers in order, so once the closing
  * marker is seen every event of the block has been seen too.
  */
object SparkProbe {
  final case class Observed(jobs: Int, scans: Seq[FileSourceScanExec], inputBytes: Long = 0L)

  private val MarkerProp = "graft.probe.marker"

  def observe[T](spark: SparkSession)(body: => T): (T, Observed) = {
    val sc = spark.sparkContext
    val started = new AtomicInteger()
    val read = new AtomicLong()
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val closed = new CountDownLatch(1)
    val opened = new CountDownLatch(1)
    val jobs = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty(MarkerProp))) match {
          case Some("open") => started.set(0); read.set(0); plans.clear(); opened.countDown()
          case Some("close") => closed.countDown()
          case _ => started.incrementAndGet()
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach(m => read.addAndGet(m.inputMetrics.bytesRead))
    }
    val queries = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        plans.add(qe.executedPlan)
    }
    def marker(kind: String, latch: CountDownLatch): Unit = {
      sc.setLocalProperty(MarkerProp, kind)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(MarkerProp, null)
      assert(latch.await(60, TimeUnit.SECONDS), s"listener never saw the $kind marker")
    }
    sc.addSparkListener(jobs)
    spark.listenerManager.register(queries)
    try {
      marker("open", opened)
      val out = body
      marker("close", closed)
      (out, Observed(started.get, plans.asScala.toSeq.flatMap(scansOf), read.get))
    } finally {
      spark.listenerManager.unregister(queries)
      sc.removeSparkListener(jobs)
    }
  }

  /** Every file scan of an executed plan: through adaptive plans, query
    * stages, commands' inner plans and subqueries. */
  def scansOf(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case f: FileSourceScanExec => Seq(f)
    case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
    case q: QueryStageExec => scansOf(q.plan)
    // inner children are a plan's subqueries, or a command's inner plan
    case other =>
      (other.children ++ other.innerChildren.collect { case s: SparkPlan => s }).flatMap(scansOf)
  }

  /** Files each scan read (its `numFiles` metric, set when it executed). */
  def filesRead(scans: Seq[FileSourceScanExec]): Seq[Long] =
    scans.map(_.metrics("numFiles").value)

  /** The scans of table `t` (its snapshot file index) among `scans`. */
  def tableScans(t: GraftTable, scans: Seq[FileSourceScanExec]): Seq[FileSourceScanExec] =
    scans.filter(_.relation.location match {
      case i: SnapshotFileIndex => i.tableDir == t.tableDir
      case _ => false
    })

  /** (files read, files in the snapshot) summed over the scans of table
    * `t`: a file two scans read counts twice, in both numbers. */
  def tableFiles(t: GraftTable, o: Observed): (Long, Long) = {
    val own = tableScans(t, o.scans)
    (filesRead(own).sum, own.map(_.relation.location.inputFiles.length.toLong).sum)
  }
}
