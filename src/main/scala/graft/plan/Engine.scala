package graft.plan

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.{CollectLimitExec, SQLExecution}
import org.apache.spark.sql.graftbridge.SqlInternals
import org.apache.spark.sql.types.StructType

/** One executed statement's captured output (H4; the reference's
  * `StatementResult`, `framework/engines/base.py:16-20`): row-oriented maps,
  * capped at `maxResultRows` like the reference's `df.take(200)`.
  */
case class StatementResult(
    statement: String,
    rows: Seq[Map[String, Any]],
    rowcount: Option[Long])

/** Engine adapter boundary (H12): render → split → execute. */
trait EngineAdapter {
  def name: String
  def runScript(template: String, vars: Map[String, Any]): Seq[StatementResult] = {
    Sql.split(Sql.render(template, vars)).map(execute)
  }
  def execute(statement: String): StatementResult
}

/** Spark SQL adapter (`framework/engines/spark.py:59-73`): capture take(200)
  * for reads; collect() non-capturing statements to force their effects.
  */
class SparkSqlEngine(spark: SparkSession, maxResultRows: Int = 200) extends EngineAdapter {
  override val name = "spark"

  /** Snapshot tables registered as temp views, by view name. Their reads
    * prune at the scan (`SnapshotFileIndex`): the statement's own filters
    * pick the files, whatever its shape.
    */
  private val graftViews = scala.collection.mutable.Map[String, graft.table.GraftTable]()

  /** Namespace remembered from the last `USE`-family statement naming one
    * the registered catalog has; unqualified CREATE TABLE / CTAS resolve
    * against it (the notebook replay flow — openspark.ipynb issues
    * `use namespace x` then bare `create table t (...)`).
    */
  private var currentNamespace: Option[String] = None

  /** Per registered view, the last read statement's (files scanned, files
    * in the snapshot), summed over that statement's scans of the view's
    * table — the observable skipping proof for specs and driver entries.
    */
  val lastPrune = scala.collection.mutable.Map[String, (Int, Int)]()

  /** The snapshot each registered view is currently bound to. A re-register
    * whose table head is UNCHANGED skips the temp-view rebuild: the existing
    * view already reads exactly this snapshot, and a rebuild would re-plan
    * the scan and re-register the view (the scan plans from the snapshot's
    * file list, so the rebuild makes no filesystem call and starts no job).
    * Equality is eq-then-== : the snapshot-log load cache returns the same
    * parsed instance for an unchanged log, so the hot path is a pointer
    * compare.
    */
  private val boundSnapshots =
    scala.collection.mutable.Map[String, (String, graft.table.Snapshot)]()

  /** Register `t` as temp view `viewName`. The view is re-resolved to the
    * table's LATEST snapshot before every statement that reads it.
    * The bound key carries the TABLE DIR as well as the snapshot: two
    * different tables can hold structurally equal heads (freshly created,
    * same schema, same-millisecond commit), and skipping the rebind on
    * content equality alone would leave the view reading the OLD table's
    * files while graftViews points at the new one.
    */
  def registerGraftTable(viewName: String, t: graft.table.GraftTable): Unit = {
    val vn = viewName.toLowerCase
    graftViews(vn) = t
    val cur = t.latest
    val unchanged = boundSnapshots.get(vn).exists { case (dir, b) =>
      dir == t.tableDir && ((b eq cur) || b == cur)
    }
    if (!unchanged) {
      t.readSnapshot(cur).createOrReplaceTempView(viewName)
      boundSnapshots(vn) = (t.tableDir, cur)
    }
  }

  private var catalogOpt: Option[graft.catalogsvc.CatalogService] = None

  /** Attach a catalog so SQL DDL (CREATE NAMESPACE / CREATE TABLE / ALTER
    * WRITE ORDERED BY) routes to it; tables created via SQL auto-register
    * as views for the rest of the script.
    */
  def registerCatalog(cat: graft.catalogsvc.CatalogService): Unit =
    catalogOpt = Some(cat)

  /** Statement-time clock for Snowflake `AT(OFFSET => -s)` resolution
    * (tests pin it; `readOffsetAsOf`'s nowMillis surfaced into SQL).
    */
  var clock: () => Long = () => System.currentTimeMillis()

  override def execute(rawStatement: String): StatementResult = {
    // Snowflake-dialect text (postfix casts, AT travel clauses) translates
    // to Spark grammar BEFORE parsing — the reference's snowflake.sql
    // statements then run verbatim through the same routes as Spark SQL.
    val statement = SqlDml.rewriteSnowflakeDialect(rawStatement, clock)
    // The statement's one parse: the routes below and the fallback all read
    // this plan. Forced after the textual DDL routes have passed, so an
    // Iceberg-extension statement Spark's grammar rejects never parses, and
    // a statement no route takes that Spark cannot parse raises Spark's own
    // parse error.
    lazy val parsed = spark.sessionState.sqlParser.parsePlan(statement)
    // one name resolution per statement, shared by every route
    val names = new SqlDml.Names(graftViews.toMap, catalogOpt)
    // SQL DML over a registered snapshot table routes to the table layer's
    // copy-on-write DML (UPDATE/DELETE/MERGE are not executable over temp
    // views); whole-table COUNT(*) answers from snapshot metadata; VERSION /
    // TIMESTAMP AS OF rewrites to snapshot-pinned views.
    def capture(df: DataFrame): StatementResult = {
      val captures = Sql.capturesRows(statement)
      val run = if (captures) df.limit(maxResultRows) else df
      val rows = if (captures) collectLimited(run) else run.collect()
      for ((dir, files) <- graft.table.SnapshotFileIndex.listed(run.queryExecution.executedPlan);
           (vn, t) <- graftViews if t.tableDir == dir)
        lastPrune(vn) = files
      val captured = if (!captures) Nil else rows.toSeq.map(r =>
        r.schema.fieldNames.zipWithIndex.map { case (f, i) => f -> r.get(i) }.toMap)
      StatementResult(statement, captured, None)
    }
    // Every route that READS a registered view resets it to the table's
    // latest snapshot first (a no-op when the head is unchanged): a DML
    // whose source subquery reads a registered view must not commit rows
    // computed from a snapshot the table has moved past. The metadata-only
    // routes (DDL, COUNT(*) pushdown) answer without touching any view and
    // skip the refresh — metadata must keep answering even when data files
    // are gone.
    SqlDml.tryDdl(spark, statement, parsed, names, registerGraftTable,
        vn => {
          graftViews.remove(vn)
          boundSnapshots.remove(vn)
          spark.catalog.dropTempView(vn)
        }, () => refreshGraftViews(),
        defaultNamespace = currentNamespace,
        setNamespace = ns => currentNamespace = Some(ns))
      .orElse(SqlDml.tryMetaAgg(statement, parsed, names))
      .orElse {
        refreshGraftViews()
        SqlDml.tryExecute(spark, statement, parsed, names).map { r =>
          // the DML committed a new snapshot: re-register immediately so
          // even out-of-band spark.sql readers (not routed through execute)
          // see it
          refreshGraftViews(); r
        }
      }
      .orElse(SqlDml.tryReadRewrites(spark, parsed, names).map(capture))
      .getOrElse(capture(SqlInternals.ofRows(spark, parsed)))
  }

  /** `df.collect()` of a captured read, in one Spark job. Spark collects a
    * `CollectLimitExec` root with `executeTake`: it scans one partition and,
    * when that comes back short, starts a second job over more of them — a
    * selective read over several files pays for two jobs. Here the limit's
    * child runs once over every partition, each task stopping at the limit
    * (P partitions: P tasks of at most `limit` rows each), and the first
    * `limit` rows in partition order are the rows `collect` returns. It
    * runs as one SQL execution, as `collect` does, so listeners and SQL
    * metrics see it. An adaptive root and an OFFSET keep Spark's collect.
    */
  private def collectLimited(df: DataFrame): Array[Row] = {
    val qe = df.queryExecution
    qe.executedPlan match {
      case CollectLimitExec(limit, child, 0) if limit >= 0 =>
        SQLExecution.withNewExecutionId(qe, Some("collect")) {
          qe.executedPlan.resetMetrics()
          val parts = spark.sparkContext.runJob(child.execute(),
            (rows: Iterator[InternalRow]) => rows.take(limit).map(_.copy()).toArray)
          val fromRow = rowEncoder(df.schema).createDeserializer()
          parts.iterator.flatten.take(limit).map(fromRow).toArray
        }
      case _ => df.collect()
    }
  }

  /** The resolved Row encoder of the last captured schema. Resolving one
    * runs the analyzer over its deserializer (about 3 ms, a few percent of a
    * point lookup), and consecutive captures of one result shape, such as a
    * loop of lookups, share it. Each capture takes its own deserializer. */
  @volatile private var lastEncoder: (StructType, ExpressionEncoder[Row]) = (null, null)

  private def rowEncoder(schema: StructType): ExpressionEncoder[Row] = {
    val (s, enc) = lastEncoder
    if (schema == s) enc
    else {
      val resolved = ExpressionEncoder(schema).resolveAndBind()
      lastEncoder = (schema, resolved)
      resolved
    }
  }

  /** Reset every registered view to its table's latest snapshot (no-op per
    * view when the bound head is already current).
    */
  private def refreshGraftViews(): Unit =
    graftViews.foreach { case (n, t) => registerGraftTable(n, t) }
}

/** H12 — per-(engine, catalog) adapter cache (`framework/engines/base.py:81-124`). */
class EngineFactory(spark: SparkSession) {
  private val cache = scala.collection.mutable.Map[(String, String), EngineAdapter]()
  def get(engine: String, catalog: String): EngineAdapter = synchronized {
    cache.getOrElseUpdate((engine, catalog), engine match {
      case "spark" => new SparkSqlEngine(spark)
      case other => throw new IllegalArgumentException(s"unknown engine: $other")
    })
  }
  def size: Int = cache.size
}
