package graft.plan

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, SubqueryAlias}

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

  /** Snapshot tables whose SQL reads get stats-based file pruning (the
    * readBetween path surfaced into the engine, VERDICT r7 #8): before each
    * statement runs, a conjunctive predicate over one of these views
    * shrinks the scan's file list through the table's `SnapshotPlanner` — the
    * statement's own WHERE clause still applies the exact predicate over the
    * surviving files, so an unrecognized statement shape (joins, subqueries,
    * expressions over the column) just falls back to the full view: never
    * wrong rows, only fewer skipped files.
    */
  private val graftViews = scala.collection.mutable.Map[String, graft.table.GraftTable]()

  /** Namespace remembered from the last `USE`-family statement naming one
    * the registered catalog has; unqualified CREATE TABLE / CTAS resolve
    * against it (the notebook replay flow — openspark.ipynb issues
    * `use namespace x` then bare `create table t (...)`).
    */
  private var currentNamespace: Option[String] = None

  /** Last (files scanned, files total) per view touched by a pruned read —
    * the observable skipping proof for specs and driver entries.
    */
  val lastPrune = scala.collection.mutable.Map[String, (Int, Int)]()

  /** The snapshot each registered view is currently bound to. A re-register
    * whose table head is UNCHANGED skips the temp-view rebuild: the existing
    * view already reads exactly this snapshot, and a rebuild would re-plan
    * the scan and re-register the view (the scan plans from the snapshot's
    * file list, so the rebuild makes no filesystem call and starts no job).
    * Pruned registrations bind a file-SHRUNK view of the same snapshot id,
    * so they must clear the entry (pruneGraftViews does) — head equality
    * alone must never skip past one.
    * Equality is eq-then-== : the snapshot-log load cache returns the same
    * parsed instance for an unchanged log, so the hot path is a pointer
    * compare.
    */
  private val boundSnapshots =
    scala.collection.mutable.Map[String, (String, graft.table.Snapshot)]()

  /** Register `t` as temp view `viewName` with pruned SQL reads. The view is
    * re-resolved to the table's LATEST snapshot before every statement.
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
    // SQL DML over a registered snapshot table routes to the table layer's
    // copy-on-write DML (UPDATE/DELETE/MERGE are not executable over temp
    // views); whole-table COUNT(*) answers from snapshot metadata; VERSION /
    // TIMESTAMP AS OF rewrites to snapshot-pinned views.
    def capture(df: org.apache.spark.sql.DataFrame): StatementResult =
      if (Sql.capturesRows(statement)) {
        val rows = df.take(maxResultRows).map(r =>
          r.schema.fieldNames.zipWithIndex.map { case (f, i) => f -> r.get(i) }.toMap)
        StatementResult(statement, rows.toSeq, None)
      } else {
        df.collect()
        StatementResult(statement, Nil, None)
      }
    // Every route that READS a registered view resets it to the table's
    // latest full snapshot first. A prior statement's pruned registration
    // (file-shrunk view) or pre-commit registration must never leak — a DML
    // whose source subquery reads a registered view would otherwise silently
    // commit rows computed from a stale or file-pruned view (the read path
    // alone resetting was not enough). The metadata-only routes (DDL,
    // COUNT(*) pushdown) answer without touching any view and skip the
    // refresh — metadata must keep answering even when data files are gone.
    SqlDml.tryDdl(spark, statement, catalogOpt, registerGraftTable,
        graftViews.toMap, vn => {
          graftViews.remove(vn)
          boundSnapshots.remove(vn)
          spark.catalog.dropTempView(vn)
        }, () => refreshGraftViews(),
        defaultNamespace = currentNamespace,
        setNamespace = ns => currentNamespace = Some(ns))
      .orElse(SqlDml.tryMetaAgg(statement, spark, graftViews.toMap, catalogOpt))
      .orElse {
        refreshGraftViews()
        SqlDml.tryExecute(spark, statement, graftViews.toMap, catalogOpt).map { r =>
          // the DML committed a new snapshot: re-register immediately so
          // even out-of-band spark.sql readers (not routed through execute)
          // see it
          refreshGraftViews(); r
        }
      }
      .orElse {
        pruneGraftViews(statement)
        SqlDml.tryReadRewrites(spark, statement, graftViews.toMap, catalogOpt).map(capture)
      }
      .getOrElse(capture(spark.sql(statement)))
  }

  /** Reset every registered view to its table's latest full snapshot
    * (no-op per view when the bound head is already current).
    */
  private def refreshGraftViews(): Unit =
    graftViews.foreach { case (n, t) => registerGraftTable(n, t) }

  /** Parse (never execute) `statement`; for each Filter sitting on a
    * registered view, plan its conjuncts into a pruned file list and swap
    * the temp view before execution.
    */
  private def pruneGraftViews(statement: String): Unit = {
    if (graftViews.isEmpty) return
    // views were reset to the full latest snapshot by execute's
    // refreshGraftViews() before any route ran; this pass only narrows
    val parsed =
      try spark.sessionState.sqlParser.parsePlan(statement)
      catch { case _: Throwable => return }
    // one temp view serves every reference to it: a view read more than
    // once (self-union, subquery, CTE body) narrowed to one Filter's files
    // would starve the other reads, so only singly-read views prune
    // a qualified name costs catalog lookups: resolve each one once
    val resolved = scala.collection.mutable.Map[Seq[String], Option[String]]()
    val view = (r: UnresolvedRelation) =>
      resolved.getOrElseUpdate(r.multipartIdentifier.toSeq, viewOf(r))
    lazy val reads =
      references(parsed, view).groupBy(identity).map { case (v, rs) => v -> rs.size }
    parsed.foreach {
      case f: Filter =>
        for (viewName <- viewBelow(f.child, view) if reads.get(viewName).contains(1);
             t <- graftViews.get(viewName)) {
          val snap = t.latest
          // range, IN-list (per value — where bucket-transform pruning bites
          // in plain SQL) and IS [NOT] NULL conjuncts, one shared rule
          val files = t.planner(snap).select(graft.table.Fact.of(f.condition))
          lastPrune(viewName) = (files.size, snap.files.size)
          if (files.size < snap.files.size) {
            t.readSnapshot(snap.copy(files = files.toList)).createOrReplaceTempView(viewName)
            // the view now reads a file-SHRUNK copy of this snapshot: head
            // equality must not let the next refresh skip the full rebind
            boundSnapshots.remove(viewName)
          }
        }
      case _ =>
    }
  }

  /** The single registered view under a Filter's child (through aliases);
    * None for joins/subqueries — those shapes fall back to the full view.
    * A catalog-qualified `ns.t` maps to its registered view (same table
    * directory) so qualified reads prune exactly like bare ones — the read
    * rewrite later resolves the qualified name to that same (pruned) view.
    */
  private def viewBelow(p: LogicalPlan,
      view: UnresolvedRelation => Option[String]): Option[String] = p match {
    case r: UnresolvedRelation => view(r)
    case s: SubqueryAlias => viewBelow(s.child, view)
    case _ => None
  }

  private def viewOf(r: UnresolvedRelation): Option[String] =
    r.multipartIdentifier.toSeq match {
      case Seq(vn) => Some(vn.toLowerCase)
      case Seq(ns, tn) =>
        for {
          cat <- catalogOpt
          if cat.tableExists(ns, tn)
          dir = cat.loadTable(ns, tn).tableDir
          vn <- graftViews.collectFirst { case (n, t) if t.tableDir == dir => n }
        } yield vn
      case _ => None
    }

  /** The registered views a parsed statement reads, once per reference —
    * subquery expressions and CTE definitions included. */
  private def references(p: LogicalPlan,
      view: UnresolvedRelation => Option[String]): Seq[String] = {
    val own = p match {
      case r: UnresolvedRelation => view(r).toSeq
      case _ => Nil
    }
    val nested = p.children ++ p.innerChildren.collect { case c: LogicalPlan => c } ++
      p.expressions.flatMap(_.collect { case s: SubqueryExpression => s.plan })
    own ++ nested.flatMap(references(_, view))
  }
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
