package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalogsvc.CatalogService
import graft.dml.Dml
import graft.maintenance.Maintenance
import graft.plan.SparkSqlEngine
import graft.table.{GraftTable, Snapshot, SnapshotLog}

// ---- the plan, as written by perfbench/plan.py ----

/** Rows `[lo, hi)` of `Synthesize.txEvents` with `delta` added to `user_id`. */
final case class Gen(lo: Long, hi: Long, delta: Long)

/** A key predicate: `range` is `lo <= user_id < hi`, `mod` is `user_id % m = r`. */
final case class Pred(kind: String, lo: Long, hi: Long, m: Long, r: Long)

final case class Op(id: Int, kind: String, sql: List[String], src: List[Gen],
    pred: Option[Pred], keys: List[Long], tsLo: Option[String], tsHi: Option[String],
    expectCount: Option[Long])

final case class TableDef(ns: String, name: String, ddl: List[String])

final case class Plan(workload: String, seed: Long, table: TableDef, setup: List[Op],
    warmup: List[Op], rounds: List[List[Op]], finalMaintain: Option[Op], finalCount: Op,
    finalChecksum: Op, finalCounts: Int, finalChecksums: Int)

/** One executed operation, as recorded in the run file. */
final case class OpRecord(id: Int, kind: String, round: Int, phase: String, route: String,
    ms: Double, ok: Boolean, error: Option[String], counters: Map[String, Double]) {
  def json: Map[String, Any] = Map("id" -> id, "kind" -> kind, "round" -> round,
    "phase" -> phase, "route" -> route, "ms" -> ms, "ok" -> ok, "error" -> error,
    "counters" -> counters)
}

/** What an operation returned, reduced to what the checks compare. */
sealed trait Outcome
case object NoValue extends Outcome
final case class CountValue(n: Long) extends Outcome
final case class SumValue(v: java.math.BigDecimal) extends Outcome
final case class RowsValue(rows: Set[Seq[String]]) extends Outcome

/** The benchmark's JVM side: builds the workload's table through SQL DDL on
  * an attached `CatalogService`, runs the plan's operations as SQL text
  * through `SparkSqlEngine.execute` in a closed loop (one client), checks
  * every result against the generator, and writes one JSON run record.
  * The statistics are computed from that record by `perfbench/run.py`.
  *
  * With `--trace 1` the same loop records spans around calls into each
  * layer's public functions, takes Spark/JVM counters per operation, and
  * alternates each write or read between the SQL route and the direct
  * public call with the same rows.
  *
  * Usage: PerfBench --plan <plan.json> --out <run.json> --work <dir>
  *   --trace <0|1> --cpus <n>
  */
object PerfBench {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val plan = readPlan(opts("plan"))
    val work = opts("work")
    val cpus = opts.getOrElse("cpus", "4")
    val traced = opts.getOrElse("trace", "0") == "1"
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = graft.queries.Tables.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("perfbench"), cpus)
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val result =
      try new Run(spark, plan, work, traced, sessionS).execute()
      finally spark.stop()
    Files.write(Paths.get(opts("out")), Json(result).getBytes(StandardCharsets.UTF_8))
    sys.exit(0)
  }

  private def readPlan(path: String): Plan = {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)).extract[Plan]
  }
}

final class Run(spark: SparkSession, plan: Plan, work: String, traced: Boolean,
    sessionS: Double) {

  private val tracer = new Tracer(traced)
  private val meter = if (traced) Some(new Meter(spark.sparkContext)) else None
  private val eng = new SparkSqlEngine(spark)
  private val cat = new CatalogService(spark, s"$work/catalog")
  eng.registerCatalog(cat)
  private val records = mutable.ArrayBuffer.empty[OpRecord]
  private val executed = mutable.ArrayBuffer.empty[Op] // ops that changed the table
  private val routeTurn = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val probeErrors = mutable.ArrayBuffer.empty[String]
  private lazy val conf = spark.sessionState.newHadoopConf()

  private def table: GraftTable = cat.loadTable(plan.table.ns, plan.table.name)

  /** The generator rows an op supplies, as one DataFrame. */
  private def gen(g: Gen): DataFrame =
    graft.gen.Synthesize.txEvents(spark, g.hi, partitions = 4)
      .filter(col("user_id") >= g.lo)
      .withColumn("user_id", col("user_id") + g.delta)

  private def source(op: Op): DataFrame = op.src.map(gen).reduce(_ unionByName _)

  private def predCol(p: Pred): Column = p.kind match {
    case "range" => col("user_id") >= p.lo && col("user_id") < p.hi
    case "mod" => pmod(col("user_id"), lit(p.m)) === p.r
  }

  private def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def cpuProbe(): Double = {
    val xs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(2000000L).selectExpr("sum(id * 3 + 1)").collect()
      elapsedS(t0)
    }.sorted
    xs(1)
  }

  def execute(): Map[String, Any] = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val t0 = System.nanoTime()
    plan.table.ddl.foreach(eng.execute)
    val ddlS = elapsedS(t0)
    val loadsS = plan.setup.map(op => runOp(op, -1, "setup").ms / 1000.0)

    // lookup expectations come from the generator, never from the table
    val lookupKeys = (plan.warmup ++ plan.rounds.flatten).filter(_.kind == "lookup")
      .flatMap(_.keys).distinct
    val expectedRows: Map[Long, Seq[String]] =
      if (lookupKeys.isEmpty) Map.empty
      else plan.setup.map(source).reduce(_ unionByName _)
        .filter(col("user_id").isin(lookupKeys: _*))
        .collect().map(r => r.getLong(0) -> rowStrings(r)).toMap
    // read paths compile and JIT on their first call: one untimed pass of
    // each read kind keeps that out of the loop's samples
    val warmupS = plan.warmup.map(op => runOp(op, -1, "warmup", expectedRows).ms / 1000.0).sum
    val probeStart = cpuProbe()

    // closed loop, one client: every op waits for the previous one
    val loopT0 = System.nanoTime()
    for ((ops, round) <- plan.rounds.zipWithIndex)
      ops.foreach(op => runOp(op, round, "loop", expectedRows))
    val round = plan.rounds.size
    val loopS = elapsedS(loopT0)
    val loopOps = records.count(_.phase == "loop")

    // stored bytes at the end of the timed loop, before the final pass
    val end = table.latest
    val stored = Map(
      "data_files" -> end.files.size, "data_bytes" -> end.files.map(_.sizeBytes).sum,
      "delete_files" -> end.deletes.size, "delete_bytes" -> end.deletes.map(_.sizeBytes).sum,
      "snapshots" -> table.snapshotsList.size)

    // final checks against the generator model, then the final maintenance
    // pass, which must leave the same rows behind
    val (modelCount, modelSum) = model()
    def verify(phase: String, counts: Int, checksums: Int): Boolean =
      (0 until math.max(counts, checksums)).map { i =>
        (i >= counts || runOp(plan.finalCount, round, phase).ok) &
          (i >= checksums ||
            runOp(plan.finalChecksum, round, phase, expectSum = Some(modelSum)).ok)
      }.forall(identity)
    var finalOk = verify("final", plan.finalCounts, plan.finalChecksums)
    plan.finalMaintain.foreach { op =>
      runOp(op, round, "final")
      finalOk &= verify("verify", 1, 1)
    }

    val probeEnd = cpuProbe()
    val rt = Runtime.getRuntime
    Map(
      "workload" -> plan.workload, "seed" -> plan.seed, "traced" -> traced,
      "env" -> Map(
        "cpus_available" -> rt.availableProcessors(), "spark_master" -> spark.sparkContext.master,
        "xmx_mb" -> rt.maxMemory() / 1048576, "java_version" -> System.getProperty("java.version"),
        "java_vm" -> System.getProperty("java.vm.name"), "spark_version" -> spark.version,
        "cpu_probe_start_s" -> probeStart, "cpu_probe_end_s" -> probeEnd,
        "load_avg_start" -> loadStart, "load_avg_end" -> os.getSystemLoadAverage),
      "setup" -> Map("session_s" -> sessionS, "ddl_s" -> ddlS, "warmup_s" -> warmupS,
        "loads_s" -> loadsS),
      "loop" -> Map("seconds" -> loopS, "rounds" -> round, "ops" -> loopOps),
      "stored" -> stored,
      "model" -> Map("live_rows" -> modelCount, "checksum" -> modelSum,
        "plan_live_rows" -> plan.finalCount.expectCount, "final_ok" -> finalOk),
      "ops" -> records.map(_.json),
      "spans" -> tracer.all.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
      "probe_errors" -> probeErrors)
  }

  // ---- one operation ----

  /** SQL everywhere, except the traced set-up and loop, which alternate each
    * op kind between SQL and the direct call, starting on the side the seed's
    * parity picks (kinds that occur once a run get both sides across seeds).
    * `maintainTable` has no SQL form.
    */
  private def route(op: Op, phase: String): String =
    if (op.kind == "maintain_table") "direct"
    else if (!traced || (phase != "loop" && phase != "setup")) "sql"
    else {
      val n = routeTurn(op.kind)
      routeTurn(op.kind) = n + 1
      if ((n + plan.seed) % 2 == 0) "sql" else "direct"
    }

  private def runOp(op: Op, round: Int, phase: String,
      expectedRows: Map[Long, Seq[String]] = Map.empty,
      expectSum: Option[java.math.BigDecimal] = None): OpRecord = {
    val how = route(op, phase)
    if (op.src.nonEmpty) source(op).createOrReplaceTempView("bench_src")
    tracer.op = op.id
    val counters = mutable.Map.empty[String, Double]
    var ms = 0.0
    val attempt = scala.util.Try {
      tracer.span("op." + op.kind) {
        val probe = if (traced) Some(beforeProbe(op, counters)) else None
        def t = probe.map(_.t).getOrElse(table)
        val (outcome, c) = meter match {
          case Some(m) => m.measure(timed(op, how, t, d => ms = d))
          case None => (timed(op, how, t, d => ms = d), Map.empty[String, Double])
        }
        counters ++= c
        probe.foreach(afterProbe(op, how, ms, _, counters))
        outcome
      }
    }
    val error: Option[String] = attempt match {
      case scala.util.Failure(e) =>
        Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
      case scala.util.Success(outcome) => check(op, outcome, expectedRows, expectSum)
    }
    if (isWrite(op) && attempt.isSuccess) executed += op
    val rec = OpRecord(op.id, op.kind, round, phase, how, ms, error.isEmpty, error, counters.toMap)
    records += rec
    rec
  }

  private def isWrite(op: Op): Boolean =
    Set("load", "insert", "upsert", "delete", "update").contains(op.kind)

  /** Run the op by the chosen route; `setMs` receives the timed region. */
  private def timed(op: Op, how: String, t: => GraftTable, setMs: Double => Unit): Outcome = {
    val t0 = System.nanoTime()
    val out =
      if (how == "sql") tracer.span("plan.execute") { viaSql(op) }
      else tracer.span("direct." + op.kind) { direct(op, t) }
    setMs((System.nanoTime() - t0) / 1e6)
    out
  }

  private def viaSql(op: Op): Outcome = {
    val results = op.sql.map(eng.execute)
    val rows = results.lastOption.map(_.rows).getOrElse(Nil)
    op.kind match {
      case "count" => CountValue(rows.head("row_count").asInstanceOf[Number].longValue)
      case "checksum" => SumValue(asDecimal(rows.head("checksum")))
      case "lookup" => RowsValue(rows.map(m => Seq("user_id", "ts", "amount", "city",
        "category").map(c => String.valueOf(m(c)))).toSet)
      case _ => NoValue
    }
  }

  /** The same operation through the layers' public calls, bypassing SQL. */
  private def direct(op: Op, t: GraftTable): Outcome =
    op.kind match {
      case "load" | "insert" =>
        t.append(source(op).orderBy("ts")); NoValue
      case "upsert" =>
        Dml.mergeMor(t, source(op), "user_id",
          t.schema.fieldNames.map(c => c -> col(s"src.$c")).toMap, insertNotMatched = true)
        NoValue
      case "delete" => Dml.deleteAuto(t, predCol(op.pred.get)); NoValue
      case "update" =>
        Dml.updateAuto(t, predCol(op.pred.get), Map("amount" -> (col("amount") + lit(0.5))))
        NoValue
      case "checksum" =>
        SumValue(asDecimal(t.readLatest().agg(sum(col("amount").cast("decimal(20,3)")))
          .collect().head.get(0)))
      case "count" =>
        CountValue(t.countRowsFromMetadata().getOrElse(t.readLatest().count()))
      case "pruned_agg" =>
        val snap = t.latest
        val (lo, hi) = (ts(op.tsLo.get), ts(op.tsHi.get))
        val (files, _) = t.planBetween(snap, "ts", lo, hi)
        t.readSnapshot(snap.copy(files = files.toList))
          .filter(col("ts") >= lit(lo) && col("ts") < lit(hi))
          .groupBy("city").count().collect()
        NoValue
      case "full_agg" =>
        t.readLatest().groupBy("category")
          .agg(percentile_approx(col("amount"), lit(0.95), lit(10000)), count(lit(1))).collect()
        NoValue
      case "lookup" =>
        RowsValue(t.readIn("user_id", op.keys).collect().map(rowStrings).toSet)
      case "maintain_calls" =>
        Maintenance.rewriteDataFiles(t, 134217728L, 2)
        Maintenance.rewriteManifests(t)
        Maintenance.expireSnapshots(t, 2)
        NoValue
      case "maintain_table" => Maintenance.maintainTable(t); NoValue
    }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def asDecimal(v: Any): java.math.BigDecimal = v match {
    case d: java.math.BigDecimal => d.setScale(3)
    case null => java.math.BigDecimal.ZERO.setScale(3)
  }

  private def rowStrings(r: Row): Seq[String] =
    Seq("user_id", "ts", "amount", "city", "category").map(c => String.valueOf(r.getAs[Any](c)))

  private def check(op: Op, out: Outcome, expectedRows: Map[Long, Seq[String]],
      expectSum: Option[java.math.BigDecimal]): Option[String] = (op.kind, out) match {
    case ("count", CountValue(n)) =>
      op.expectCount.filter(_ != n).map(e => s"COUNT(*) returned $n, expected $e")
    case ("lookup", RowsValue(rows)) =>
      val want = op.keys.flatMap(expectedRows.get).toSet
      if (rows == want) None else Some(s"lookup returned ${rows.size} rows, expected ${want.size}")
    case ("checksum", SumValue(v)) =>
      expectSum.filter(_.compareTo(v) != 0).map(e => s"SUM(amount) returned $v, expected $e")
    case _ => None
  }

  // ---- the plain-Spark model of the expected final state ----

  /** Live rows and SUM(amount) after every executed write, recomputed from
    * the generator with plain Spark: each key's latest write survives unless
    * a later delete matches it, and every later update adds 0.5.
    */
  private def model(): (Long, java.math.BigDecimal) = {
    val writes = executed.filter(o => o.src.nonEmpty).map(o =>
      source(o).select(col("user_id"), col("amount"), lit(o.id).as("ver")))
    val all = writes.reduce(_ unionByName _)
    val latest = all.groupBy("user_id").agg(max("ver").as("ver"))
      .join(all, Seq("user_id", "ver"))
    def after(o: Op) = predCol(o.pred.get) && col("ver") < o.id
    val deletes = executed.filter(_.kind == "delete")
    val updates = executed.filter(_.kind == "update")
    val live = if (deletes.isEmpty) latest else latest.filter(!deletes.map(after).reduce(_ || _))
    val bump = updates.map(o => when(after(o), lit(0.5)).otherwise(lit(0.0)))
      .foldLeft(lit(0.0))(_ + _)
    val r = live.agg(count(lit(1)), sum((col("amount") + bump).cast("decimal(20,3)")))
      .collect().head
    (r.getLong(0), asDecimal(r.get(1)))
  }

  // ---- traced-run probes around the operation ----

  private final case class Before(t: GraftTable, snap: Snapshot, snapshots: Int)

  private def beforeProbe(op: Op, c: mutable.Map[String, Double]): Before = {
    val t = tracer.span("catalog.load_table") { table }
    val snaps = t.snapshotsList
    val snap = snaps.last
    c("catalog.load_table_ms") = tracer.lastMs("catalog.load_table")
    def planned(sel: Seq[_], total: Int): Unit = {
      c("table.plan_ms") = tracer.lastMs("table.plan")
      c("table.files_selected") = sel.size
      c("table.files_total") = total
    }
    probe("plan") {
      op.kind match {
        case "pruned_agg" =>
          val (sel, n) = tracer.span("table.plan") {
            t.planBetween(snap, "ts", ts(op.tsLo.get), ts(op.tsHi.get)) }
          planned(sel, n)
        case "lookup" =>
          val (sel, n) = tracer.span("table.plan") { t.planPoints(snap, "user_id", op.keys) }
          planned(sel, n)
        case "delete" | "update" if op.pred.exists(_.kind == "range") =>
          val p = op.pred.get
          val (sel, n) = tracer.span("table.plan") {
            t.planBetween(snap, "user_id", p.lo, p.hi - 1) }
          planned(sel, n)
        case _ =>
      }
    }
    if (op.kind == "checksum" || op.kind == "full_agg") probe("scan") {
      val df = tracer.span("table.scan_build") { t.readLatest() }
      c("table.scan_build_ms") = tracer.lastMs("table.scan_build")
      val (_, sc) = meter.get.measure {
        tracer.span("table.scan_exec") { df.write.format("noop").mode("overwrite").save() }
      }
      c("table.scan_exec_ms") = tracer.lastMs("table.scan_exec")
      c("scan.input_bytes") = sc("spark.input_bytes")
      c("scan.task_ms") = sc("spark.task_ms")
      c("table.delete_files_live") = snap.deletes.size
      // the merge-on-read read (build + execute) minus a raw parquet read of
      // the same data files; only measured while delete files are live
      if (snap.deletes.nonEmpty) {
        val root = SnapshotLog.dataPath(t.tableDir).toString
        val paths = snap.files.map(f => s"$root/${f.path}")
        tracer.span("table.raw_scan") {
          spark.read.parquet(paths: _*).write.format("noop").mode("overwrite").save()
        }
        c("table.delete_reconcile_ms") = c("table.scan_build_ms") + c("table.scan_exec_ms") -
          tracer.lastMs("table.raw_scan")
      }
    }
    Before(t, snap, snaps.size)
  }

  private def afterProbe(op: Op, how: String, ms: Double, b: Before,
      c: mutable.Map[String, Double]): Unit = probe("log") {
    val snaps = tracer.span("log.load") { SnapshotLog.load(conf, b.t.tableDir) }
    c("log.load_ms") = tracer.lastMs("log.load")
    c("log.snapshots_live") = snaps.size
    val logDir = SnapshotLog.logPath(b.t.tableDir)
    c("log.docs") = SnapshotLog.fs(conf, b.t.tableDir).listStatus(logDir).length
    val after = snaps.last
    if (after.snapshotId != b.snap.snapshotId) diff(op, how, ms, b, snaps, c)
  }

  private def diff(op: Op, how: String, ms: Double, b: Before, snaps: Seq[Snapshot],
      c: mutable.Map[String, Double]): Unit = {
    val after = snaps.last
    val beforeFiles = b.snap.files.map(f => f.path -> f.sizeBytes).toMap
    val afterFiles = after.files.map(f => f.path -> f.sizeBytes).toMap
    val added = afterFiles.keySet -- beforeFiles.keySet
    val removed = beforeFiles.keySet -- afterFiles.keySet
    val deletesAdded = after.deletes.size - b.snap.deletes.size
    // set by data commits (appends) on this op's own table instance
    if (how == "direct" && b.t.lastCommitNanos > 0)
      c("table.commit_ms") = b.t.lastCommitNanos / 1e6
    op.kind match {
      case "insert" | "load" =>
        c("write.files_added") = added.size
        c("write.bytes_added") = added.toSeq.map(afterFiles).sum.toDouble
        c.get("table.commit_ms").foreach(commit => c("write.data_ms") = ms - commit)
      case "upsert" | "delete" | "update" =>
        c("dml.files_rewritten") = removed.size
        c("dml.delete_files_added") = deletesAdded
      case _ =>
        c("maint.files_rewritten") = removed.size
        c("maint.bytes_rewritten") = removed.toSeq.map(beforeFiles).sum.toDouble
        c("maint.deletes_materialized") = math.max(0, -deletesAdded)
        c("maint.snapshots_expired") = math.max(0, b.snapshots - snaps.size)
    }
  }

  private def probe(name: String)(body: => Unit): Unit =
    try body
    catch {
      case e: Exception => probeErrors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
}
