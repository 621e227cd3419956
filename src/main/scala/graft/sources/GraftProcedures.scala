package graft.sources

import java.util.{Collections, Iterator => JIterator}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{ResolvedProcedure, UnresolvedProcedure}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.plans.logical.Call
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.catalogsvc.CatalogService
import graft.maintenance.Maintenance
import graft.table.GraftTable

/** The Iceberg procedures, `CALL <catalog>.system.<proc>(...)`, for both SQL
  * routes: [[GraftCatalog]]'s `ProcedureCatalog` face under stock
  * `spark.sql`, and the SQL engine's pre-router, which hands its parsed
  * `Call` to [[bind]]. Either way stock Spark 4 binds the named and
  * positional arguments against the parameters declared here (in Iceberg's
  * positional order, defaults included), coerces their types, and hands the
  * body one [[InternalRow]]; the bodies delegate to the same
  * [[graft.maintenance.Maintenance]] / [[graft.table.GraftTable]] entry
  * points as every other route. The reference's bench maintenance runs
  * exactly this shape (`blob_dfs/blob-dfs_bench.py:141-155` —
  * `CALL opencatalog.system.rewrite_data_files(table => ..., options =>
  * map(...))`), and `SHOW PROCEDURES` / `DESCRIBE PROCEDURE` work for free.
  *
  * The routes differ only in their [[Host]]: how the `table` argument names
  * a table. Shapes a procedure cannot honor throw
  * `UnsupportedOperationException` with the construct named. Results
  * surface as a [[LocalScan]]: procedure outputs are O(1) summaries or
  * O(affected files) listings — driver-sized by construction, never table
  * data.
  */
private[graft] object GraftProcedures {

  /** What a procedure body needs from the route that runs it: the table a
    * `table` argument names, and the catalog `register_table` writes to.
    */
  final case class Host(table: String => GraftTable, service: () => CatalogService)

  /** One IN parameter; `default = None` means required. */
  private def p(name: String, dt: DataType, default: Option[String] = None,
      comment: String = ""): ProcedureParameter = {
    var b = ProcedureParameter.in(name, dt)
    default.foreach(d => b = b.defaultValue(d))
    if (comment.nonEmpty) b = b.comment(comment)
    b.build()
  }

  private val S = StringType
  private def nullOf(t: String) = Some(s"CAST(NULL AS $t)")

  private def refuse(what: String): Nothing =
    throw new UnsupportedOperationException(s"CALL shape not supported by the table layer: $what")

  /** Typed access to the bound-argument row, by declared parameter order. */
  private final class Args(row: InternalRow, params: Seq[ProcedureParameter]) {
    private def idx(name: String): Int = {
      val i = params.indexWhere(_.name == name)
      require(i >= 0, s"no procedure parameter $name")
      i
    }
    def isNull(name: String): Boolean = row.isNullAt(idx(name))
    def str(name: String): String = row.getUTF8String(idx(name)).toString
    def strOpt(name: String): Option[String] =
      if (isNull(name)) None else Some(str(name))
    def long(name: String): Long = row.getLong(idx(name))
    def longOpt(name: String): Option[Long] =
      if (isNull(name)) None else Some(long(name))
    def intOpt(name: String): Option[Int] =
      if (isNull(name)) None else Some(row.getInt(idx(name)))
    /** TIMESTAMP arrives as epoch MICROseconds. */
    def tsMillisOpt(name: String): Option[Long] =
      longOpt(name).map(Math.floorDiv(_, 1000L))
    def strMap(name: String): Map[String, String] = {
      val i = idx(name)
      if (row.isNullAt(i)) return Map.empty
      val m = row.getMap(i)
      val ks = m.keyArray(); val vs = m.valueArray()
      (0 until m.numElements()).map(j =>
        ks.getUTF8String(j).toString -> vs.getUTF8String(j).toString).toMap
    }
    def strArrayOpt(name: String): Option[Seq[String]] = {
      val i = idx(name)
      if (row.isNullAt(i)) None
      else {
        val a = row.getArray(i)
        Some((0 until a.numElements()).map(j => a.getUTF8String(j).toString))
      }
    }
  }

  private def toCatalyst(v: Any): Any = v match {
    case s: String => UTF8String.fromString(s)
    case x => x
  }

  private final class RowsScan(out: StructType, data: Seq[Seq[Any]],
      label: String) extends LocalScan {
    override def readSchema(): StructType = out
    override def rows(): Array[InternalRow] =
      data.map(vs => new GenericInternalRow(vs.map(toCatalyst).toArray): InternalRow)
        .toArray
    override def description(): String = s"GraftProcedureResult($label)"
  }

  private final case class ProcDef(procName: String, describe: String,
      params: Seq[ProcedureParameter], out: StructType,
      body: (Host, Args) => Seq[Seq[Any]]) {
    def on(host: Host): UnboundProcedure = new UnboundProcedure with BoundProcedure {
      override def name(): String = procName
      override def description(): String = describe
      override def bind(inputType: StructType): BoundProcedure = this
      override def parameters(): Array[ProcedureParameter] = params.toArray
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): JIterator[Scan] = {
        val rows = body(host, new Args(input, params))
        Collections.singletonList[Scan](new RowsScan(out, rows, procName)).iterator()
      }
    }
  }

  private def out(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  /** Split a predicate string on word-boundary `AND` OUTSIDE single-quoted
    * literals, so a partition value containing the word (e.g.
    * `city = 'a and b'`) survives intact and any whitespace (newlines
    * included) may surround the keyword. Quotes toggle; `''` inside a
    * literal is the SQL escape for one quote and stays in-literal.
    */
  private[graft] def splitTopLevelAnd(s: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var inQ = false
    def wordChar(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'') { inQ = !inQ; cur += c; i += 1 }
      else if (!inQ && s.regionMatches(true, i, "AND", 0, 3) &&
          (i == 0 || !wordChar(s.charAt(i - 1))) &&
          (i + 3 >= s.length || !wordChar(s.charAt(i + 3)))) {
        parts += cur.toString; cur.clear(); i += 3
      } else { cur += c; i += 1 }
    }
    parts += cur.toString
    parts.result()
  }

  /** The rewrite_data_files `where` grammar: partition-equality conjunctions
    * only — arbitrary predicates would need a row-level rewrite, which is not
    * what a scoped binpack means.
    */
  private def partitionEqualityFilter(text: String): Map[String, String] = {
    val eqRe = """(?s)\A\s*([\w`]+)\s*=\s*(?:'([^']*)'|(\S+))\s*\z""".r
    splitTopLevelAnd(text).map(_.trim).map {
      case eqRe(k, quoted, bare) => k.replace("`", "") -> Option(quoted).getOrElse(bare)
      case other => refuse(
        s"rewrite_data_files where clause '$other' (partition-equality conjunctions only)")
    }.toMap
  }

  private val rewriteDataFiles = ProcDef("rewrite_data_files",
    "Compact (binpack) or re-cluster (sort/zorder) a table's data files",
    Seq(
      p("table", S, comment = "table identifier, ns.table"),
      p("strategy", S, Some("'binpack'")),
      p("sort_order", S, nullOf("STRING"), "column list or zorder(c1,c2) when strategy='sort'"),
      p("options", MapType(S, S), Some("map()")),
      p("where", S, nullOf("STRING"), "partition-equality scope for binpack")),
    out("rewritten_data_files_count" -> LongType, "added_data_files_count" -> LongType),
    (host, a) => {
      val t = host.table(a.str("table"))
      val opts = a.strMap("options")
      val badOpt = opts.keySet.diff(
        Set("min-input-files", "max-file-size-bytes", "target-file-size-bytes"))
      if (badOpt.nonEmpty) refuse(s"rewrite_data_files options $badOpt")
      // Iceberg's option resolution: an explicit procedure option wins;
      // absent the option, the table's own write.target-file-size-bytes
      // applies before the engine default
      val target = opts.get("target-file-size-bytes")
        .orElse(opts.get("max-file-size-bytes")).map(_.toLong)
        .orElse(t.properties.get(GraftTable.TargetFileSizeProp)
          .flatMap(s => scala.util.Try(s.toLong).toOption))
        .getOrElse(512L * 1024 * 1024)
      val before = t.latest.files.map(_.path).toSet
      val after = (a.str("strategy").toLowerCase match {
        case "binpack" =>
          if (!a.isNull("sort_order"))
            refuse("rewrite_data_files sort_order without strategy => 'sort'")
          val partFilter = a.strOpt("where").map(partitionEqualityFilter).getOrElse(Map.empty)
          val minIn = opts.get("min-input-files").map(_.toInt).getOrElse(2)
          Maintenance.rewriteDataFiles(t, target, minIn, partFilter)
        case "sort" =>
          // a sort rewrite re-clusters the whole table; a where-scope would
          // claim a narrower rewrite than what ran
          if (!a.isNull("where"))
            refuse("rewrite_data_files(strategy => 'sort') with where (sort rewrites are whole-table)")
          val so = a.strOpt("sort_order").getOrElse(
            refuse("rewrite_data_files(strategy => 'sort') without sort_order"))
          val zRe = """(?i)\A\s*zorder\s*\(([^)]*)\)\s*\z""".r
          so match {
            case zRe(colsStr) =>
              val zcols = colsStr.split(",").map(_.trim.replace("`", ""))
                .filter(_.nonEmpty).toSeq
              Maintenance.zorderRewrite(t, zcols, target)
            case _ =>
              // tolerate ASC/DESC NULLS ... after each column
              val scols = so.split(",").map(_.trim.replace("`", ""))
                .map(_.split("\\s+").head).filter(_.nonEmpty).toSeq
              Maintenance.sortRewrite(t, scols, target)
          }
        case other => refuse(s"rewrite_data_files strategy '$other' (binpack or sort)")
      }).map(_.files.map(_.path).toSet).getOrElse(before)
      Seq(Seq((before -- after).size.toLong, (after -- before).size.toLong))
    })

  private val rewriteManifests = ProcDef("rewrite_manifests",
    "Consolidate snapshot-log manifests",
    Seq(p("table", S)),
    out("rewritten_manifests_count" -> LongType),
    (host, a) => Seq(Seq(
      Maintenance.rewriteManifests(host.table(a.str("table"))).toLong)))

  private val expireSnapshots = ProcDef("expire_snapshots",
    "Expire old snapshots and delete files only they reference",
    Seq(
      p("table", S),
      p("older_than", TimestampType, nullOf("TIMESTAMP")),
      p("retain_last", IntegerType, nullOf("INT"))),
    out("deleted_snapshots_count" -> LongType),
    (host, a) => {
      // Iceberg applies both bounds; its default retain_last is 1, ours
      // stays 2 unless older_than is given
      val olderThan = a.tsMillisOpt("older_than")
      val retain = a.intOpt("retain_last")
        .getOrElse(if (olderThan.isDefined) 1 else 2)
      Seq(Seq(Maintenance.expireSnapshots(
        host.table(a.str("table")), retain, olderThan).toLong))
    })

  private val removeOrphanFiles = ProcDef("remove_orphan_files",
    "Delete data-layout files no retained snapshot references",
    Seq(p("table", S), p("older_than", TimestampType, nullOf("TIMESTAMP"))),
    out("orphan_file_location" -> S),
    (host, a) => {
      // default: Iceberg's 3-day in-flight grace window
      val bound = a.tsMillisOpt("older_than").getOrElse(
        System.currentTimeMillis() - Maintenance.DefaultOrphanGraceMillis)
      Maintenance.removeOrphanFiles(host.table(a.str("table")), bound)
        .sorted.map(Seq(_))
    })

  private val rewritePositionDeleteFiles = ProcDef("rewrite_position_delete_files",
    "Drop dangling delete entries and consolidate survivors",
    Seq(p("table", S)),
    out("rewritten_delete_files_count" -> LongType, "added_delete_files_count" -> LongType),
    (host, a) => {
      val t = host.table(a.str("table"))
      val before = t.latest.deletes
      val after = t.rewriteDeleteFiles().map(_.deletes).getOrElse(before)
      val beforePaths = before.map(_.path).toSet
      val afterPaths = after.map(_.path).toSet
      Seq(Seq((beforePaths -- afterPaths).size.toLong,
        (afterPaths -- beforePaths).size.toLong))
    })

  // rollbackTo commits a NEW snapshot mirroring the target — history stays
  // linear — so "current" is the fresh head, with the restored content id
  // alongside (Iceberg's pointer-move reports current == target)
  private val rollbackToSnapshot = ProcDef("rollback_to_snapshot",
    "Restore the table to a past snapshot's content (as a new commit)",
    Seq(p("table", S), p("snapshot_id", LongType)),
    out("previous_snapshot_id" -> LongType, "current_snapshot_id" -> LongType,
      "rolled_back_to" -> LongType),
    (host, a) => {
      val t = host.table(a.str("table"))
      val prev = t.latest.snapshotId
      val sid = a.long("snapshot_id")
      val rolled = t.rollbackTo(sid)
      Seq(Seq(prev, rolled.snapshotId, sid))
    })

  private val rollbackToTimestamp = ProcDef("rollback_to_timestamp",
    "Restore the newest snapshot committed at or before the bound",
    Seq(p("table", S), p("timestamp", TimestampType)),
    out("previous_snapshot_id" -> LongType, "current_snapshot_id" -> LongType,
      "rolled_back_to" -> LongType),
    (host, a) => {
      val t = host.table(a.str("table"))
      val bound = a.tsMillisOpt("timestamp").get
      val candidates = t.snapshotsList.filter(_.committedAt <= bound)
      if (candidates.isEmpty) refuse(s"rollback_to_timestamp: no snapshot at or before $bound")
      val prev = t.latest.snapshotId
      val rolled = t.rollbackTo(candidates.last.snapshotId)
      Seq(Seq(prev, rolled.snapshotId, candidates.last.snapshotId))
    })

  // Branches exist for WAP staging on main, so only branch='main' (publish
  // the audited staged state) is meaningful; publishBranch raises if main
  // advanced past the branch base (no longer a fast-forward)
  private val fastForward = ProcDef("fast_forward",
    "Fast-forward a branch to another ref's head (main = publish WAP state)",
    Seq(p("table", S), p("branch", S), p("to", S)),
    out("branch_updated" -> S, "previous_ref" -> LongType, "updated_ref" -> LongType),
    (host, a) => {
      val branch = a.str("branch")
      if (branch.toLowerCase != "main")
        refuse(s"fast_forward branch '$branch' (only main can fast-forward)")
      val t = host.table(a.str("table"))
      val prevHead = t.latest.snapshotId
      val published = t.publishBranch(a.str("to"))
      Seq(Seq(branch, prevHead, published.snapshotId))
    })

  private val addFiles = ProcDef("add_files",
    "Zero-copy import of existing parquet files into the table",
    Seq(p("table", S), p("source_table", S,
      comment = "`parquet`.`/dir`, or a bare directory path")),
    out("added_files_count" -> LongType, "changed_partition_count" -> LongType),
    (host, a) => {
      val t = host.table(a.str("table"))
      val srcRe = """(?i)\A\s*`?parquet`?\s*\.\s*`([^`]+)`\s*\z""".r
      val srcDir = a.str("source_table") match {
        case srcRe(path) => path
        case path => path.replace("`", "")
      }
      val beforeParts = t.latest.files.map(_.partitionValues).toSet
      val before = t.latest.files.map(_.path).toSet
      t.addFiles(srcDir)
      val addedEntries = t.latest.files.filterNot(f => before(f.path))
      Seq(Seq(addedEntries.size.toLong,
        addedEntries.map(_.partitionValues).toSet.diff(beforeParts).size.toLong))
    })

  private val computeTableStats = ProcDef("compute_table_stats",
    "Exact NDV/null-count column statistics into table properties",
    Seq(p("table", S), p("columns", ArrayType(S), nullOf("ARRAY<STRING>"))),
    out("statistics_file" -> S, "analyzed_columns" -> LongType, "snapshot_id" -> LongType),
    (host, a) => {
      val t = host.table(a.str("table"))
      val colsArg = a.strArrayOpt("columns").getOrElse(Nil)
      val analyzed = if (colsArg.nonEmpty) colsArg.size else t.schema.fields.length
      val props = t.analyzeColumns(colsArg)
      Seq(Seq(s"properties:${GraftTable.StatsColPrefix}*", analyzed.toLong,
        props(GraftTable.StatsSnapshotProp).toLong))
    })

  // the target does not exist yet: register_table attaches an existing
  // table directory under a new catalog name (a leading catalog part drops)
  private val registerTable = ProcDef("register_table",
    "Attach an existing table directory under a catalog name",
    Seq(p("table", S), p("metadata_file", S)),
    out("current_snapshot_id" -> LongType, "total_records_count" -> LongType,
      "total_data_files_count" -> LongType),
    (host, a) => {
      val parts = a.str("table").replace("`", "").split("\\.").toSeq
      val (rns, rtn) = parts match {
        case Seq(ns0, tn0) => (ns0, tn0)
        case Seq(_, ns0, tn0) => (ns0, tn0)
        case _ => refuse(s"register_table target ${a.str("table")} (need ns.table)")
      }
      val rt = host.service().registerTable(rns, rtn, a.str("metadata_file"))
      Seq(Seq(rt.latest.snapshotId,
        rt.countRowsFromMetadata().getOrElse(-1L),
        rt.latest.files.size.toLong))
    })

  private val ancestorsOf = ProcDef("ancestors_of",
    "The snapshot lineage (id, commit time) from a snapshot back to the root",
    Seq(p("table", S), p("snapshot_id", LongType, nullOf("BIGINT"))),
    out("snapshot_id" -> LongType, "timestamp" -> TimestampType),
    (host, a) => {
      val t = host.table(a.str("table"))
      val byId = t.snapshotsList.map(s => s.snapshotId -> s).toMap
      val start = a.longOpt("snapshot_id").getOrElse(t.latest.snapshotId)
      require(byId.contains(start), s"ancestors_of: no snapshot $start")
      // newest-first walk up the parent chain (Iceberg's output order)
      Iterator.iterate(byId.get(start))(_.flatMap(_.parentId).flatMap(byId.get))
        .takeWhile(_.isDefined).flatten
        .map(s => Seq[Any](s.snapshotId, s.committedAt * 1000L)).toSeq
    })

  // Iceberg's CDC-view procedure: a session view over the row-level
  // changelog in (start, end], default full history to head; the O(delta)
  // read itself happens when the view is queried
  private val createChangelogView = ProcDef("create_changelog_view",
    "Register a session view over the row-level changelog in (start, end]",
    Seq(p("table", S), p("changelog_view", S, nullOf("STRING")),
      p("options", MapType(S, S), Some("map()"))),
    out("changelog_view" -> S),
    (host, a) => {
      val t = host.table(a.str("table"))
      val viewName = a.strOpt("changelog_view").getOrElse(
        s"${a.str("table").replace("`", "").split("\\.").last}_changes")
      val opts = a.strMap("options")
      // the full-history default is only valid while the chain root is
      // retained: after expiry it would silently omit the earliest inserts
      val from = opts.get("start-snapshot-id").map(_.toLong).getOrElse {
        require(t.snapshotsList.head.parentId.isEmpty,
          s"create_changelog_view on ${a.str("table")}: early history was expired, " +
            "so the default (full-history) changelog cannot be built — pass " +
            "options => map('start-snapshot-id', '<id>') with a retained snapshot id")
        0L
      }
      val toId = opts.get("end-snapshot-id").map(_.toLong).getOrElse(t.latest.snapshotId)
      t.readChangelog(from, toId).createOrReplaceTempView(viewName)
      Seq(Seq(viewName))
    })

  private val all: Seq[ProcDef] = Seq(rewriteDataFiles, rewriteManifests,
    expireSnapshots, removeOrphanFiles, rewritePositionDeleteFiles,
    rollbackToSnapshot, rollbackToTimestamp, fastForward, addFiles,
    computeTableStats, registerTable, ancestorsOf, createChangelogView)

  private val byName: Map[String, ProcDef] = all.map(d => d.procName -> d).toMap

  def names: Seq[String] = all.map(_.procName)

  private def isSystem(namespace: Seq[String]): Boolean =
    namespace.map(_.toLowerCase) == Seq("system")

  /** `ProcedureCatalog.loadProcedure` over `host`. */
  def load(host: Host, ident: Identifier): UnboundProcedure = {
    require(isSystem(ident.namespace().toSeq),
      s"graft procedures live in the system namespace, got " +
        (ident.namespace() :+ ident.name()).mkString("."))
    byName.get(ident.name().toLowerCase).map(_.on(host)).getOrElse(
      throw new IllegalArgumentException(s"no such procedure: system.${ident.name()}"))
  }

  /** `ProcedureCatalog.listProcedures`. */
  def list(namespace: Array[String]): Array[Identifier] =
    if (!isSystem(namespace.toSeq)) Array.empty
    else names.map(Identifier.of(Array("system"), _)).toArray

  /** A parsed `CALL [<catalog>.]system.<proc>(...)` with its procedure
    * resolved against this registry over `host`; analyzing the result runs
    * Spark's own binding and then the procedure. None when the statement
    * names no graft procedure.
    */
  def bind(host: Host, call: Call): Option[Call] = call.procedure match {
    case UnresolvedProcedure(parts)
        if parts.size == 1 || isSystem(parts.slice(parts.size - 2, parts.size - 1)) =>
      byName.get(parts.last.toLowerCase).map { d =>
        val catalog = new ProcedureCatalog {
          override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = ()
          override def name(): String = if (parts.size > 2) parts.head else "graft"
          override def loadProcedure(ident: Identifier): UnboundProcedure = load(host, ident)
          override def listProcedures(namespace: Array[String]): Array[Identifier] =
            list(namespace)
        }
        call.copy(procedure = ResolvedProcedure(catalog,
          Identifier.of(Array("system"), d.procName), d.on(host)))
      }
    case _ => None
  }
}
