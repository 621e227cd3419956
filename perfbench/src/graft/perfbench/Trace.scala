package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** One recorded span: a timed call into a layer, nested under `parent`
  * (-1 for an operation's root span) and tagged with the operation id.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, `span` is a plain call; enabled, it
  * keeps every span until the run writes them out at the end.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Int = -1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, op, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Duration in ms of the most recent span named `name` (0 when absent). */
  def lastMs(name: String): Double =
    spans.reverseIterator.find(_.name == name)
      .map(s => (s.endNs - s.startNs) / 1e6).getOrElse(0.0)

  def all: Seq[Span] = spans.toSeq
}

/** Spark and JVM counters for one operation: a listener the benchmark
  * registers (jobs, stages, tasks, task time, GC time, bytes read, shuffle
  * bytes written) plus the heap pools' peak usage.
  */
final class Meter(sc: SparkContext) {
  private val jobs, stages, tasks, taskMs, gcMs, inputBytes, shuffleWrite = new AtomicLong

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  })

  private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .toArray(Array.empty[java.lang.management.MemoryPoolMXBean])
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private def totals: Array[Long] =
    Array(jobs, stages, tasks, taskMs, gcMs, inputBytes, shuffleWrite).map(_.get)

  /** Run `body` and return its result with the counters it moved. */
  def measure[A](body: => A): (A, Map[String, Double]) = {
    org.apache.spark.PerfbenchBus.drain(sc)
    heapPools.foreach(_.resetPeakUsage())
    val before = totals
    val r = body
    org.apache.spark.PerfbenchBus.drain(sc)
    val d = totals.zip(before).map { case (a, b) => (a - b).toDouble }
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    (r, Map(
      "spark.jobs" -> d(0), "spark.stages" -> d(1), "spark.tasks" -> d(2),
      "spark.task_ms" -> d(3), "spark.gc_ms" -> d(4), "spark.input_bytes" -> d(5),
      "spark.shuffle_write_bytes" -> d(6), "jvm.heap_peak_mb" -> heapPeakMb))
  }
}

/** Minimal JSON rendering for the run record (maps, sequences, strings,
  * numbers, booleans, options).
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: java.math.BigDecimal => n.toPlainString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
