package graft.plan

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.SqlInternals

import org.apache.spark.sql.connector.catalog.TableCatalog

import graft.dml.Dml
import graft.sources.{GraftCatalog, GraftProcedures}
import graft.table.GraftTable

/** SQL-surface DML (the statement shapes the reference harness runs —
  * `update_sales_events.sql:1-3`, `delete_sales_events.sql:1-2`,
  * `merge_sales_events.sql:4-21`): `UPDATE`/`DELETE`/`MERGE` statements over
  * a registered snapshot table parse through Spark's own SQL parser and
  * route to the table layer's copy-on-write DML, so a harness script mixing
  * DML and reads runs verbatim against a `GraftTable` the way it would
  * against an Iceberg catalog table.
  *
  * The translation is deliberately STRICT: a statement shape the table
  * layer's semantics don't cover one-for-one (per-action UPDATE conditions,
  * `NOT MATCHED BY SOURCE` clauses, non-equi merge conditions, INSERT lists
  * that are not a bijection of source columns) raises with the unsupported
  * construct named — never a silent approximation.
  */
object SqlDml {

  /** The names one statement resolves: the registered views (lowercase view
    * name → table) and the attached catalog's exact `ns.t`. A qualified name
    * resolves once per statement — every route that asks for it shares one
    * `tableExists` + `loadTable`, each of which copies the session's Hadoop
    * conf and reads the table's log.
    */
  final class Names(val views: Map[String, GraftTable],
      val catalog: Option[graft.catalogsvc.CatalogService]) {
    private val loaded = scala.collection.mutable.Map[(String, String), Option[GraftTable]]()
    def table(ns: String, tn: String): Option[GraftTable] = loaded.getOrElseUpdate((ns, tn),
      catalog.filter(_.tableExists(ns, tn)).map(_.loadTable(ns, tn)))
    /** The exact-name rule every route shares: one part names a registered
      * view, two name the catalog's `ns.t`; anything else is someone else's
      * table (None: fall through, never hijack). */
    def resolve(parts: Seq[String]): Option[GraftTable] = parts match {
      case Seq(one) => views.get(one.toLowerCase)
      case Seq(ns, tn) => table(ns, tn)
      case _ => None
    }
    def isEmpty: Boolean = views.isEmpty && catalog.isEmpty
  }

  /** Interpret the parsed statement as DML over a registered view or an
    * exact catalog `ns.t`. Some(result) when the statement is DML on such a
    * table; None when it is not DML at all (callers fall through to Spark).
    */
  def tryExecute(spark: SparkSession, statement: String, parsed: LogicalPlan,
      names: Names): Option[StatementResult] = {
    if (names.isEmpty) return None
    parsed match {
      case u: UpdateTable =>
        target(u.table, names).map { case (alias, t) =>
          val strip = dequalify(alias) _
          val assigns = u.assignments.map { a =>
            val k = a.key match {
              case attr: UnresolvedAttribute => attr.nameParts.last
              case other => unsupported(s"UPDATE SET key $other")
            }
            k -> strip(a.value)
          }.toMap
          val pred = u.condition.map(strip).getOrElse(lit(true))
          // Iceberg's write.update.mode: merge-on-read replaces the matched
          // rows via ONE equality-delete + append on the declared identifier
          // columns (or a positional delete vector under
          // write.delete.representation=positional) — zero data files
          // rewritten. Routing lives in Dml.updateAuto, shared with the
          // Spark-catalog SQL route.
          Dml.updateAuto(t, pred, assigns)
          StatementResult(statement, Nil, None)
        }

      case d: DeleteFromTable =>
        target(d.table, names).map { case (alias, t) =>
          val pred = dequalify(alias)(d.condition)
          // Iceberg's write.delete.mode: merge-on-read commits an equality-
          // delete file or positional delete vector (read-only plan,
          // O(matched keys)) instead of rewriting matched data files.
          // Routing lives in Dml.deleteAuto, shared with the Spark-catalog
          // SQL route.
          Dml.deleteAuto(t, pred)
          StatementResult(statement, Nil, None)
        }

      case m: MergeIntoTable =>
        target(m.targetTable, names).map { case (tgtAlias, t) =>
          executeMerge(spark, statement, m, tgtAlias, t, names)
        }

      case ins: InsertIntoStatement =>
        // `INSERT INTO t.branch_<name> ...` stages rows on a WAP branch
        // (Iceberg's branch-write spelling) instead of committing to main —
        // the relation's trailing part is the ref, the prefix resolves like
        // any DML target. A real table whose exact name ends in a
        // `branch_*` part wins over the sugar (exact match beats suffix
        // interpretation, the same rule as the metadata-relation reads).
        val branchSink: Option[(GraftTable, String)] = ins.table match {
          case r: UnresolvedRelation
              if r.multipartIdentifier.size >= 2 &&
                r.multipartIdentifier.last.toLowerCase.startsWith("branch_") &&
                target(r, names).isEmpty =>
            val branchName = r.multipartIdentifier.last.substring(7)
            target(UnresolvedRelation(r.multipartIdentifier.init), names)
              .map { case (_, t) => (t, branchName) }
          case _ => None
        }
        (branchSink.map(_._1).map(t => ("", t)) orElse
            target(ins.table, names)).map { case (_, t) =>
          // the reference's bulk-insert shape (bulk_insert_sales_events.sql:
          // 1-9): INSERT INTO t VALUES/SELECT, positional column matching.
          if (ins.partitionSpec.nonEmpty) unsupported("INSERT with PARTITION spec")
          val src = SqlInternals.ofRows(spark,
            resolveCatalogRelations(ins.query, names))
          val fields = t.schema.fields
          // explicit column list reorders; otherwise positional
          val ordered: Seq[(String, org.apache.spark.sql.types.StructField)] =
            if (ins.userSpecifiedCols.nonEmpty) {
              require(ins.userSpecifiedCols.size == src.columns.length &&
                ins.userSpecifiedCols.toSet == fields.map(_.name).toSet,
                s"INSERT column list must cover the table schema exactly")
              src.columns.toSeq.zip(ins.userSpecifiedCols.map(c =>
                fields.find(_.name == c).get))
            } else {
              require(src.columns.length == fields.length,
                s"INSERT arity ${src.columns.length} != table arity ${fields.length}")
              src.columns.toSeq.zip(fields.toSeq)
            }
          val shaped = src.select(ordered.map { case (from, f) =>
            col(from).cast(f.dataType).as(f.name)
          }: _*)
          branchSink match {
            case Some((bt, branchName)) =>
              if (ins.overwrite) unsupported("INSERT OVERWRITE on a branch")
              bt.appendToBranch(branchName, shaped)
            case None =>
              if (ins.overwrite) t.overwrite(shaped) else t.append(shaped)
          }
          StatementResult(statement, Nil, None)
        }

      case _ => None
    }
  }

  private def executeMerge(spark: SparkSession, statement: String,
      m: MergeIntoTable, tgtAlias: String, t: GraftTable, names: Names): StatementResult = {
    if (m.notMatchedBySourceActions.nonEmpty)
      unsupported("MERGE ... WHEN NOT MATCHED BY SOURCE")
    val (srcAlias, srcPlan) = m.sourceTable match {
      case SubqueryAlias(id, child) => (id.name, child)
      case r: UnresolvedRelation => (r.multipartIdentifier.last, r)
      case other => unsupported(s"MERGE source ${other.nodeName} without an alias")
    }
    // The session's analyzer resolves the source exactly as spark.sql would
    // (VALUES lists, temp views, functions); catalog-qualified relations
    // swap to snapshot views first
    val srcDf = SqlInternals.ofRows(spark,
      resolveCatalogRelations(srcPlan, names))

    // ON tgt.k = src.k (either side order) — the single-equi-key contract of
    // the table layer's merge
    val (tgtKey, srcKey) = m.mergeCondition match {
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
        (qualifierOf(a), qualifierOf(b)) match {
          case (Some(qa), Some(qb)) if qa.equalsIgnoreCase(tgtAlias) && qb.equalsIgnoreCase(srcAlias) =>
            (a.nameParts.last, b.nameParts.last)
          case (Some(qa), Some(qb)) if qa.equalsIgnoreCase(srcAlias) && qb.equalsIgnoreCase(tgtAlias) =>
            (b.nameParts.last, a.nameParts.last)
          case _ => unsupported(s"MERGE condition qualifiers in ${m.mergeCondition.sql}")
        }
      case other => unsupported(s"MERGE condition ${other.sql} (need tgt.k = src.k)")
    }

    // INSERT column mapping: every VALUES entry must be a bare src.column
    // reference and the list must cover the whole target schema — the table
    // layer inserts full source rows selected by target column names.
    val insertActions = m.notMatchedActions
    if (insertActions.size > 1) unsupported("multiple WHEN NOT MATCHED clauses")
    val insertMapping: Option[Map[String, String]] = insertActions.headOption.map {
      case InsertAction(Some(_), _) => unsupported("WHEN NOT MATCHED AND <cond>")
      case InsertAction(None, assigns) =>
        assigns.map { a =>
          val tgtCol = a.key match {
            case attr: UnresolvedAttribute => attr.nameParts.last
            case other => unsupported(s"INSERT column $other")
          }
          val srcCol = a.value match {
            case attr: UnresolvedAttribute => attr.nameParts.last
            case other => unsupported(
              s"INSERT value ${other.sql} (need a bare source column)")
          }
          srcCol -> tgtCol
        }.toMap
      case _: InsertStarAction => srcDf.columns.map(c => c -> c).toMap
      case other => unsupported(s"MERGE action ${other.getClass.getSimpleName}")
    }
    insertMapping.foreach { mapping =>
      require(mapping.values.toSet.size == mapping.size,
        s"INSERT mapping is not injective: ${mapping.values.mkString(", ")}")
      val missing = t.schema.fieldNames.toSet -- mapping.values.toSet
      if (missing.nonEmpty)
        unsupported(s"INSERT list missing target column(s) ${missing.mkString(", ")}")
      // the join key must survive the reshape as the TARGET key name, or the
      // semi-join below would match on a different column than the ON clause
      if (!mapping.get(srcKey).contains(tgtKey))
        unsupported(s"INSERT list maps merge key $srcKey to " +
          s"${mapping.getOrElse(srcKey, "<nothing>")}, not the ON clause's $tgtKey")
    }
    // Reshape the source to target column names (identity when no insert
    // clause beyond the key), and track the rename so src.<col> references
    // in UPDATE/DELETE expressions follow their column. One SELECT, not
    // chained withColumnRenamed — a swap-shaped mapping must not cascade.
    val rename: Map[String, String] =
      insertMapping.getOrElse(Map(srcKey -> tgtKey)).filter { case (s, d) => s != d }
    val finalNames = srcDf.columns.map(c => rename.getOrElse(c, c))
    require(finalNames.distinct.length == finalNames.length,
      s"source reshape collides: ${finalNames.mkString(", ")}")
    val reshaped = srcDf.select(
      srcDf.columns.map(c => col(c).as(rename.getOrElse(c, c))).toSeq: _*)

    // Matched actions → (updateSet, deleteWhen): WHEN MATCHED [AND c] THEN
    // DELETE plus at most one unconditional UPDATE — the delete condition
    // selects, the update applies to the rest, matching engine first-match
    // semantics for this shape.
    var updateSet = Map.empty[String, Column]
    var deleteWhen: Option[Column] = None
    var sawUpdate = false
    var sawDelete = false
    val requal = requalify(tgtAlias, srcAlias, rename) _
    m.matchedActions.foreach {
      case UpdateAction(cond, assigns, _) =>
        if (sawUpdate) unsupported("multiple WHEN MATCHED ... UPDATE clauses")
        if (cond.isDefined) unsupported("WHEN MATCHED AND <cond> THEN UPDATE")
        if (sawDelete && deleteWhen.isEmpty)
          unsupported("UPDATE after an unconditional DELETE (unreachable)")
        sawUpdate = true
        updateSet = assigns.map { a =>
          val k = a.key match {
            case attr: UnresolvedAttribute => attr.nameParts.last
            case other => unsupported(s"UPDATE SET key $other")
          }
          k -> requal(a.value)
        }.toMap
      case UpdateStarAction(cond) =>
        if (sawUpdate) unsupported("multiple WHEN MATCHED ... UPDATE clauses")
        if (cond.isDefined) unsupported("WHEN MATCHED AND <cond> THEN UPDATE *")
        sawUpdate = true
        updateSet = t.schema.fieldNames.map(c => c -> col(s"src.$c")).toMap
      case DeleteAction(cond) =>
        if (sawDelete) unsupported("multiple WHEN MATCHED ... DELETE clauses")
        sawDelete = true
        deleteWhen = Some(cond.map(requal).getOrElse(lit(true)))
      case other => unsupported(s"MERGE action ${other.getClass.getSimpleName}")
    }

    // Iceberg's write.merge.mode: merge-on-read commits matched-key
    // equality-deletes + the updated/inserted rows instead of rewriting
    // matched data files (no identifier columns needed — the delete key IS
    // the merge key; see Dml.mergeMor)
    if (t.properties.get(graft.table.GraftTable.MergeModeProp)
        .map(_.toLowerCase).contains("merge-on-read")) {
      if (positionalRepresentation(t))
        Dml.mergeMorPositional(t, reshaped, tgtKey, updateSet,
          insertNotMatched = insertMapping.isDefined, deleteWhen = deleteWhen)
      else
        Dml.mergeMor(t, reshaped, tgtKey, updateSet,
          insertNotMatched = insertMapping.isDefined, deleteWhen = deleteWhen)
    } else
      Dml.merge(t, reshaped, tgtKey, updateSet,
        insertNotMatched = insertMapping.isDefined, deleteWhen = deleteWhen)
    StatementResult(statement, Nil, None)
  }

  /** Metadata-answered whole-table aggregates (the Iceberg aggregate-
    * pushdown surface as plain SQL; the reference scripts run `SELECT
    * COUNT(*)` after every DML — `update_sales_events.sql:5-6`): when the
    * statement is exactly a projection of aliased COUNT(*) / COUNT(col) /
    * MIN(col) / MAX(col) calls over a registered snapshot table and the
    * snapshot's metadata can answer EVERY one exactly (no live MOR delete
    * touching a covered file, all row/null counts known, min/max types
    * whose footer bounds are exact extremes — see `countRowsFromMetadata` /
    * `countNonNullFromMetadata` / `minMaxFromMetadata` for each form's
    * soundness conditions), the result comes from O(files) driver
    * arithmetic with NO scan. COUNT(*) goes further (`countLive`): files a
    * live delete can touch are counted by a reconciled scan of those files
    * alone, the rest from metadata. Any other shape — filters, grouping,
    * expressions over the aggregate, a missing explicit alias, any
    * unanswerable column — returns None and the caller falls through to
    * spark.sql over the registered view.
    */
  def tryMetaAgg(statement: String, parsed: LogicalPlan,
      names: Names): Option[StatementResult] = {
    if (names.isEmpty) return None
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedFunction, UnresolvedStar}
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
    // one aggregate call → its metadata evaluation, or None = not answerable
    def evalOf(fn: UnresolvedFunction): Option[GraftTable => Option[Any]] = {
      if (fn.isDistinct || fn.filter.isDefined) return None
      def bare(e: org.apache.spark.sql.catalyst.expressions.Expression): Option[String] =
        e match {
          case a: UnresolvedAttribute if a.nameParts.size == 1 => Some(a.nameParts.head)
          case _ => None
        }
      (fn.nameParts.map(_.toLowerCase), fn.arguments) match {
        case (Seq("count"), Seq(_: UnresolvedStar)) => Some(t => t.countLive())
        case (Seq("count"), Seq(Literal(1, _))) => Some(t => t.countLive())
        case (Seq("count"), Seq(a)) => bare(a).map(c =>
          t => scala.util.Try(t.countNonNullFromMetadata(c)).toOption.flatten)
        case (Seq("min"), Seq(a)) => bare(a).map(c =>
          t => scala.util.Try(t.minMaxFromMetadata(c)).toOption.flatten.map(_._1))
        case (Seq("max"), Seq(a)) => bare(a).map(c =>
          t => scala.util.Try(t.minMaxFromMetadata(c)).toOption.flatten.map(_._2))
        case _ => None
      }
    }
    // the PARSED plan is a Project — the analyzer is what turns a
    // whole-table aggregate into an Aggregate node, and this router runs
    // pre-analysis
    parsed match {
      case Project(projs, child) if projs.nonEmpty =>
        val items: Seq[Option[(String, GraftTable => Option[Any])]] = projs.map {
          case Alias(fn: UnresolvedFunction, outName) => evalOf(fn).map(outName -> _)
          case _ => None
        }
        if (items.exists(_.isEmpty)) return None
        target(child, names).flatMap { case (_, t) =>
          val values = items.flatten.map { case (out, f) => f(t).map(out -> _) }
          if (values.exists(_.isEmpty)) None // any unanswerable part: full scan
          else Some(StatementResult(statement,
            Seq(values.flatten.toMap), None))
        }
      case _ => None
    }
  }


  /** Anchored to the statement HEAD (`\A`) and matched in full (Scala's
    * regex pattern match uses `matches()`): only a statement that IS an
    * `ALTER TABLE ... WRITE ORDERED BY ...` routes here — a statement merely
    * CONTAINING the phrase (e.g. inside a string literal) never can, because
    * it would have to start with something other than ALTER TABLE. The
    * column list is restricted to identifier characters so a trailing quote
    * or parenthesis (a literal's closing syntax) breaks the match.
    */
  private val UseContextRe =
    """(?is)\A\s*USE\s+(CATALOG|WAREHOUSE|DATABASE|SCHEMA|ROLE)\s+(?:IDENTIFIER\('([\w.]+)'\)|([\w.`"]+))\s*;?\s*\z""".r

  private val WriteOrderedByRe =
    """(?is)\A\s*ALTER\s+TABLE\s+([\w.`]+)\s+WRITE\s+ORDERED\s+BY\s+([\w.`,\s]+?)\s*;?\s*\z""".r

  // Snowflake's schemaless `CREATE [OR REPLACE] ICEBERG TABLE name K='v' ...`
  // (a catalog link, not a create — see the route). Anchored full match: the
  // tail must be exclusively K = 'v' pairs, so the column-list create form
  // (normalized by rewriteSnowflakeCreate before this runs) can never land
  // here.
  private val CreateIcebergLinkRe =
    """(?is)\A\s*CREATE\s+(?:OR\s+REPLACE\s+)?ICEBERG\s+TABLE\s+([\w.$`"]+)\s+((?:\w+\s*=\s*'[^']*'\s*,?\s*)+);?\s*\z""".r
  private val SnowflakePairRe = """(?s)(\w+)\s*=\s*('[^']*')""".r

  // Snowflake `ALTER ICEBERG TABLE t REFRESH` (ref snowflake.sql:389): a
  // catalog-linked metadata re-sync. Locally the equivalent is re-reading
  // the snapshot log and re-registering views — anchored full match, like
  // the other textual routes. (The `ICEBERG` keyword itself is stripped by
  // the dialect pass before this matcher runs.)
  private val AlterRefreshRe =
    """(?is)\A\s*ALTER\s+TABLE\s+[\w.`"]+\s+REFRESH\s*;?\s*\z""".r

  // Iceberg branch/tag DDL (SQL-extension grammar Spark's parser rejects,
  // so matched textually like WRITE ORDERED BY — anchored, full-match):
  //   ALTER TABLE t CREATE BRANCH [IF NOT EXISTS] b
  //   ALTER TABLE t CREATE TAG [IF NOT EXISTS] g [AS OF VERSION n]
  //   ALTER TABLE t DROP BRANCH [IF EXISTS] b / DROP TAG [IF EXISTS] g
  private val CreateBranchRe =
    """(?is)\A\s*ALTER\s+TABLE\s+([\w.`]+)\s+CREATE\s+BRANCH\s+(IF\s+NOT\s+EXISTS\s+)?([\w-]+)\s*;?\s*\z""".r
  private val CreateTagRe =
    """(?is)\A\s*ALTER\s+TABLE\s+([\w.`]+)\s+CREATE\s+TAG\s+(IF\s+NOT\s+EXISTS\s+)?([\w-]+)(\s+AS\s+OF\s+VERSION\s+(\d+))?(\s+RETAIN\s+(\d+)\s+DAYS)?\s*;?\s*\z""".r
  private val DropBranchRe =
    """(?is)\A\s*ALTER\s+TABLE\s+([\w.`]+)\s+DROP\s+BRANCH\s+(IF\s+EXISTS\s+)?([\w-]+)\s*;?\s*\z""".r
  private val DropTagRe =
    """(?is)\A\s*ALTER\s+TABLE\s+([\w.`]+)\s+DROP\s+TAG\s+(IF\s+EXISTS\s+)?([\w-]+)\s*;?\s*\z""".r

  // Materialized-view DDL (no Spark grammar for it — matched textually like
  // branch DDL): grouped COUNT/SUM views maintained INCREMENTALLY from the
  // source table's row-level changelog (`TableFollow.followAgg` — O(delta)
  // per refresh, exact DECIMAL sums, never a source rescan). The supported
  // defining-query shape is
  //   SELECT g1[, g2...], COUNT(*) AS c, SUM(col) AS s FROM t GROUP BY g1[, g2...]
  // — anything else refuses loudly. The view's backing table lives beside
  // the source (`<srcDir>-mv-<name>`) and carries the definition in its
  // table properties, so REFRESH after an engine restart needs no state
  // beyond the registered names.
  private val CreateMatViewRe =
    """(?is)\A\s*CREATE\s+MATERIALIZED\s+VIEW\s+(IF\s+NOT\s+EXISTS\s+)?([\w`]+)\s+AS\s+SELECT\s+(.+?)\s+FROM\s+([\w.`]+)\s+GROUP\s+BY\s+(.+?)\s*;?\s*\z""".r
  private val RefreshMatViewRe =
    """(?is)\A\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([\w`]+)\s*;?\s*\z""".r
  private val DropMatViewRe =
    """(?is)\A\s*DROP\s+MATERIALIZED\s+VIEW\s+(IF\s+EXISTS\s+)?([\w`]+)\s*;?\s*\z""".r

  private[plan] val MvSourceProp = "mv.source"
  private val MvGroupColsProp = "mv.group-cols"
  private val MvValueColProp = "mv.value-col"
  private val MvCountAsProp = "mv.count-as"
  private val MvSumAsProp = "mv.sum-as"

  /** SQL DDL against a registered catalog — the remaining statement shapes
    * of the reference's spark scripts (`bootstrap_namespace.sql:1`,
    * `create_sales_events.sql:1-24`):
    *
    *  - `CREATE NAMESPACE [IF NOT EXISTS] ns`;
    *  - `CREATE TABLE [IF NOT EXISTS] ns.t (cols) ... PARTITIONED BY
    *    (transforms) [LOCATION path] TBLPROPERTIES (...)` — created by the
    *    catalog's shared `GraftCatalog.create`; the created table registers
    *    as a view so the rest of the script reads and writes it by name;
    *  - `ALTER TABLE ns.t WRITE ORDERED BY c1, c2` — Iceberg-extension
    *    syntax Spark's parser rejects, matched textually and routed to the
    *    sticky sort-order property.
    *
    * Schema evolution, lifecycle, and inspection statements route to the
    * table layer — the reference's `schema_evolution_sales_events.sql:3-12`
    * runs verbatim:
    *
    *  - `ALTER TABLE t ADD / RENAME / ALTER / DROP COLUMN`, `SET / UNSET
    *    TBLPROPERTIES` → Spark's `TableChange`s, applied by
    *    `GraftCatalog.alter` exactly as on the catalog route (D4–D6);
    *  - `DESCRIBE TABLE t` → the schema as rows, with recorded comments (D7);
    *  - `DROP TABLE ns.t` → catalog drop + view unregistration (S7);
    *  - `SHOW TABLES IN ns` → catalog listing as rows;
    *  - `CREATE TABLE ns.t [PARTITIONED BY (transforms)] AS SELECT ...` →
    *    `GraftCatalog.create` + append (CTAS);
    *  - `TRUNCATE TABLE t` → metadata-only empty-overwrite commit;
    *  - `CALL <cat>.system.<proc>(...)` → the catalog's procedure registry,
    *    `GraftProcedures` (the reference bench's maintenance statements,
    *    blob-dfs_bench.py:141-155);
    *  - `USE CATALOG c` / `USE ns` → accepted no-ops (the engine has one
    *    implicit catalog; the reference scripts open with a context switch).
    *
    * An evolution target resolves like DML targets do: a bare single-part
    * name against the registered views, `ns.t` against the catalog — a
    * qualified name that is neither falls through to spark.sql and fails
    * loudly. After an evolution commit every view over the table re-registers
    * so subsequent statements see the new schema.
    *
    * The textual routes (`USE` headers, branch and tag DDL, materialized
    * views, Snowflake links, `WRITE ORDERED BY`) match the statement's
    * text; every other route matches `parsed`, the statement's one parse,
    * forced only once no textual route took the statement.
    *
    * None when the statement is not DDL (or needs a catalog none is
    * registered for).
    */
  def tryDdl(spark: SparkSession, statement: String, parsed: => LogicalPlan,
      names: Names,
      register: (String, GraftTable) => Unit,
      unregister: String => Unit = _ => (),
      refreshViews: () => Unit = () => (),
      defaultNamespace: Option[String] = None,
      setNamespace: String => Unit = _ => ()): Option[StatementResult] = {
    val tables = names.views
    val catalog = names.catalog
    // Context-switch headers the reference scripts open with, in dialects
    // Spark's parser rejects (`USE CATALOG x` is Databricks grammar,
    // `USE DATABASE`/`USE SCHEMA [IDENTIFIER('x')]` Snowflake): the engine
    // has one implicit catalog, so they are accepted no-ops — matched
    // anchored and in full, like WRITE ORDERED BY, so a statement merely
    // containing the phrase can never route here. Spark-parseable `USE ns`
    // arrives as SetCatalogAndNamespace below instead. A DATABASE/SCHEMA
    // switch naming a namespace the registered catalog HAS also becomes the
    // default namespace for later unqualified DDL (the notebook flow).
    statement match {
      case UseContextRe(kw, identQ, identB) =>
        if (Set("database", "schema")(kw.toLowerCase)) for {
          cat <- catalog
          ns = Option(identQ).getOrElse(identB).replaceAll("[`\"]", "")
          if cat.namespaceExists(ns)
        } setNamespace(ns)
        return Some(StatementResult(statement, Nil, None))
      case AlterRefreshRe() =>
        refreshViews()
        return Some(StatementResult(statement, Nil, None))
      case _ =>
    }
    // Branch/tag DDL targets resolve like DML targets: one part → registered
    // view, ns.t → the catalog; anything else falls through (never hijack).
    def resolveDdlIdent(ident: String): Option[GraftTable] =
      names.resolve(ident.replace("`", "").split("\\.").toSeq)
    statement match {
      case CreateBranchRe(ident, ifNot, name) =>
        resolveDdlIdent(ident).foreach { t =>
          if (ifNot == null || !t.branches.contains(name)) t.createBranch(name)
          return Some(StatementResult(statement, Nil, None))
        }
      case CreateTagRe(ident, ifNot, name, _, version, _, retainDays) =>
        resolveDdlIdent(ident).foreach { t =>
          val sid = Option(version).map(_.toLong).getOrElse(t.latest.snapshotId)
          // RETAIN n DAYS (the Iceberg ref-retention clause): the tag ages
          // out at the next ref-aware expiry after the window passes
          val age = Option(retainDays).map(_.toLong * 24L * 3600 * 1000)
          if (ifNot == null || !t.tags.contains(name)) t.createTag(name, sid, age)
          return Some(StatementResult(statement, Nil, None))
        }
      case DropBranchRe(ident, ifExists, name) =>
        resolveDdlIdent(ident).foreach { t =>
          val dropped = t.dropBranch(name)
          if (!dropped && ifExists == null)
            throw new IllegalArgumentException(s"no branch $name on $ident")
          return Some(StatementResult(statement, Nil, None))
        }
      case DropTagRe(ident, ifExists, name) =>
        resolveDdlIdent(ident).foreach { t =>
          val dropped = t.deleteTag(name)
          if (!dropped && ifExists == null)
            throw new IllegalArgumentException(s"no tag $name on $ident")
          return Some(StatementResult(statement, Nil, None))
        }
      case CreateMatViewRe(ifNot, nameQ, selectList, srcIdent, groupByStr) =>
        resolveDdlIdent(srcIdent).foreach { src =>
          val name = nameQ.replace("`", "")
          // the registered name is the identity: a TABLE name must never be
          // silently rebound to a view, and an existing MV under this name
          // must not be silently replaced by one over a DIFFERENT source
          // (the backing-dir existence check below only catches same-source
          // re-creates)
          tables.get(name.toLowerCase).foreach { existing =>
            if (!existing.properties.contains(MvSourceProp))
              throw new IllegalArgumentException(
                s"$name is already a registered table; pick another view name")
            if (ifNot != null)
              return Some(StatementResult(statement, Nil, None)) // keep as-is
            throw new IllegalArgumentException(
              s"materialized view $name already exists")
          }
          val items = selectList.split(",").map(_.trim).filter(_.nonEmpty)
          val CountAgg = """(?i)\ACOUNT\s*\(\s*\*\s*\)\s+AS\s+(\w+)\z""".r
          val SumAgg = """(?i)\ASUM\s*\(\s*([\w`]+)\s*\)\s+AS\s+(\w+)\z""".r
          if (items.length < 3)
            unsupported("materialized view query (need group cols, COUNT(*) AS c, SUM(col) AS s)")
          val (gItems, aggItems) = items.splitAt(items.length - 2)
          val (countAs, valueCol, sumAs) = aggItems match {
            case Array(CountAgg(c), SumAgg(v, s)) => (c, v.replace("`", ""), s)
            case _ =>
              unsupported("materialized view aggregates (need exactly COUNT(*) AS c, SUM(col) AS s)")
          }
          if (!gItems.forall(_.matches("[\\w`]+")))
            unsupported("materialized view group columns (bare identifiers only)")
          val groupCols = gItems.map(_.replace("`", "")).toSeq
          val gby = groupByStr.split(",").map(_.trim.replace("`", ""))
            .filter(_.nonEmpty).toSeq
          if (groupCols.sorted != gby.sorted)
            throw new IllegalArgumentException(
              s"GROUP BY (${gby.mkString(", ")}) must list the selected group " +
                s"columns (${groupCols.mkString(", ")})")
          val mvDir = s"${src.tableDir}-mv-$name"
          if (GraftTable.exists(spark, mvDir)) {
            if (ifNot == null)
              throw new IllegalArgumentException(s"materialized view $name already exists")
            register(name, GraftTable.load(spark, mvDir))
            return Some(StatementResult(statement, Nil, None))
          }
          val srcSchema = src.readLatest().schema
          import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}
          val fields = groupCols.map { g =>
            val f = srcSchema.find(_.name.equalsIgnoreCase(g)).getOrElse(
              throw new IllegalArgumentException(s"group column $g not in $srcIdent"))
            StructField(f.name, f.dataType)
          } ++ Seq(StructField(countAs, LongType),
            StructField(sumAs, DecimalType(18, 2)))
          if (!srcSchema.fieldNames.exists(_.equalsIgnoreCase(valueCol)))
            throw new IllegalArgumentException(s"SUM column $valueCol not in $srcIdent")
          val mv = GraftTable.create(spark, mvDir, StructType(fields),
            properties = Map(
              MvSourceProp -> srcIdent.replace("`", ""),
              MvGroupColsProp -> groupCols.mkString(","),
              MvValueColProp -> valueCol,
              MvCountAsProp -> countAs,
              MvSumAsProp -> sumAs))
          graft.streaming.TableFollow.initAgg(src, mv, groupCols, valueCol,
            countAs, sumAs)
          register(name, mv)
          return Some(StatementResult(statement, Nil, None))
        }
      case RefreshMatViewRe(nameQ) =>
        tables.get(nameQ.replace("`", "").toLowerCase).foreach { mv =>
          val props = mv.properties
          val srcName = props.getOrElse(MvSourceProp,
            throw new IllegalArgumentException(
              s"$nameQ is a table, not a materialized view"))
          val src = resolveDdlIdent(srcName).getOrElse(
            throw new IllegalArgumentException(
              s"materialized view source $srcName is not registered"))
          val refreshed = graft.streaming.TableFollow.followAgg(src, mv,
            props(MvGroupColsProp).split(",").toSeq, props(MvValueColProp),
            props(MvCountAsProp), props(MvSumAsProp))
          refreshViews()
          return Some(StatementResult(statement,
            Seq(Map("view" -> nameQ.replace("`", ""),
              "refreshed" -> refreshed.isDefined)), None))
        }
      case DropMatViewRe(ifExists, nameQ) =>
        val name = nameQ.replace("`", "").toLowerCase
        tables.get(name) match {
          case Some(mv) if mv.properties.contains(MvSourceProp) =>
            unregister(name)
            val p = new org.apache.hadoop.fs.Path(mv.tableDir)
            p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
            return Some(StatementResult(statement, Nil, None))
          case Some(_) =>
            throw new IllegalArgumentException(s"$name is a table, not a materialized view")
          case None if ifExists != null =>
            return Some(StatementResult(statement, Nil, None))
          case None =>
            throw new IllegalArgumentException(s"no materialized view $name")
        }
      case _ =>
    }
    catalog.foreach { cat =>
      statement match {
        // Snowflake's SCHEMALESS iceberg create (ref snowflake.sql:131,141,
        // 194,223,293): `CREATE [OR REPLACE] ICEBERG TABLE name
        // EXTERNAL_VOLUME=... CATALOG=... CATALOG_NAMESPACE=...
        // CATALOG_TABLE_NAME=...` links an EXISTING catalog-managed table
        // under a local name — no columns, no data. The account-coupled
        // storage clauses are tolerated; the linkage itself maps to a view
        // registration over the referenced catalog table (the engine's
        // register_table analog). A reference to a table the catalog does
        // not have refuses loudly — Snowflake's own transcript shows the
        // same create failing when the target is absent.
        case CreateIcebergLinkRe(localName, pairsStr) =>
          val pairs = SnowflakePairRe.findAllMatchIn(pairsStr).map(m =>
            m.group(1).toLowerCase ->
              m.group(2).stripPrefix("'").stripSuffix("'")).toMap
          val tn = pairs.getOrElse("catalog_table_name",
            unsupported("ICEBERG TABLE link without CATALOG_TABLE_NAME"))
          val ns = pairs.get("catalog_namespace").orElse(defaultNamespace)
            .getOrElse(unsupported(
              "ICEBERG TABLE link without CATALOG_NAMESPACE (and no USE namespace)"))
          require(cat.tableExists(ns, tn),
            s"CREATE ICEBERG TABLE link: no table $ns.$tn in the catalog " +
              "(Snowflake refuses the same create when the catalog target is absent)")
          val viewName = localName.replaceAll("[`\"]", "")
            .split("\\.").last.toLowerCase
          register(viewName, cat.loadTable(ns, tn))
          return Some(StatementResult(statement, Nil, None))
        case WriteOrderedByRe(ident, colsStr) =>
          val parts = ident.replace("`", "").split("\\.")
          if (parts.length != 2) unsupported(s"ALTER TABLE target $ident (need ns.table)")
          val t = cat.loadTable(parts(0), parts(1))
          val cols = colsStr.split(",").map(_.trim).filter(_.nonEmpty)
          t.setProperties(Map(
            GraftTable.SortOrderProp -> Some(cols.mkString(","))))
          return Some(StatementResult(statement, Nil, None))
        case _ =>
      }
    }
    import org.apache.spark.sql.catalyst.analysis.{FieldName, FieldPosition, ResolvedFieldName, ResolvedFieldPosition, UnresolvedFieldName, UnresolvedFieldPosition, UnresolvedIdentifier, UnresolvedNamespace, UnresolvedTable, UnresolvedTableOrView}
    import org.apache.spark.sql.types.{NullType, StructField}

    // Same exact-name contract as DML's target(): one part → registered
    // view, two parts → the catalog's ns.table; anything else is someone
    // else's table (fall through, never hijack).
    def nameParts(p: LogicalPlan): Option[Seq[String]] = p match {
      case ut: UnresolvedTable => Some(ut.multipartIdentifier)
      case utv: UnresolvedTableOrView => Some(utv.multipartIdentifier)
      case ui: UnresolvedIdentifier => Some(ui.nameParts)
      case _ => None
    }
    def resolve(p: LogicalPlan): Option[GraftTable] = nameParts(p).flatMap(names.resolve)
    // After an evolution commit, re-register every view over the table so
    // the rest of the script reads the evolved schema.
    def evolved(t: GraftTable): StatementResult = {
      tables.foreach { case (vn, vt) =>
        if (vt.tableDir == t.tableDir) register(vn, t)
      }
      StatementResult(statement, Nil, None)
    }

    parsed match {
      // ALTER TABLE schema, comment and property changes: Spark's own
      // TableChange mapping (what the catalog route receives), applied by
      // the catalog's shared `alter`. The field names need no analysis:
      // `alter` resolves them against the table.
      case cmd: AlterTableCommand =>
        resolve(cmd.table).map { t =>
          def name(f: FieldName): FieldName = f match {
            case UnresolvedFieldName(parts) =>
              ResolvedFieldName(parts.init, StructField(parts.last, NullType))
            case other => other
          }
          def position(p: FieldPosition): FieldPosition = p match {
            case UnresolvedFieldPosition(pos) => ResolvedFieldPosition(pos)
            case other => other
          }
          val changes = (cmd match {
            // a new column's path and position are fields, not children
            case ac: AddColumns => ac.copy(columnsToAdd = ac.columnsToAdd.map(c =>
              c.copy(path = c.path.map(name), position = c.position.map(position))))
            case other => other
          }).transformExpressions {
            case f: FieldName => name(f)
            case p: FieldPosition => position(p)
          }.asInstanceOf[AlterTableCommand].changes
          GraftCatalog.alter(t, changes, nameParts(cmd.table).get.mkString("."))
          evolved(t)
        }

      // ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS c,... | FOR ALL
      // COLUMNS]: the column form runs the one-scan NDV/null pass; the
      // table-level form records the row count — metadata-only when the
      // statement says NOSCAN and the snapshot's per-file counts are whole.
      case ac: org.apache.spark.sql.catalyst.plans.logical.AnalyzeColumn =>
        resolve(ac.child).map { t =>
          val cols = if (ac.allColumns) Nil else ac.columnNames.getOrElse(Nil)
          t.analyzeColumns(cols)
          StatementResult(statement, Nil, None)
        }
      case at: org.apache.spark.sql.catalyst.plans.logical.AnalyzeTable =>
        resolve(at.child).map { t =>
          val rc =
            if (at.noScan)
              t.countRowsFromMetadata().getOrElse(
                sys.error(s"ANALYZE NOSCAN: per-file row counts unavailable"))
            else t.readLatest().count()
          t.setProperties(Map(
            graft.table.GraftTable.StatsRowCountProp -> Some(rc.toString),
            graft.table.GraftTable.StatsSnapshotProp ->
              Some(t.latest.snapshotId.toString)))
          StatementResult(statement, Nil, None)
        }

      // SHOW CREATE TABLE: reconstruct the DDL from the snapshot's schema,
      // partition spec, and live properties — identity partition columns
      // render by name (a transform spec's full definition already rides
      // the rendered TBLPROPERTIES).
      case sct: org.apache.spark.sql.catalyst.plans.logical.ShowCreateTable =>
        resolve(sct.child).map { t =>
          val name = nameParts(sct.child).map(_.mkString("."))
            .getOrElse(t.tableDir)
          val cols = t.schema.fields
            .map(f => s"  ${f.name} ${f.dataType.sql}").mkString(",\n")
          val partCols = t.latest.partitionCols
          val props = t.properties.toSeq.sortBy(_._1)
            .map { case (k, v) => s"  '$k' = '$v'" }.mkString(",\n")
          val ddl = s"CREATE TABLE $name (\n$cols)\nUSING iceberg" +
            (if (partCols.nonEmpty) s"\nPARTITIONED BY (${partCols.mkString(", ")})"
             else "") +
            (if (props.nonEmpty) s"\nTBLPROPERTIES (\n$props)" else "")
          StatementResult(statement, Seq(Map("createtab_stmt" -> ddl)), None)
        }

      case dr: DescribeRelation =>
        resolve(dr.relation).map { t =>
          val props = t.properties
          val rows = t.schema.fields.toSeq.map(f =>
            Map[String, Any]("col_name" -> f.name,
              "data_type" -> f.dataType.simpleString,
              "comment" -> props.get(GraftCatalog.ColumnCommentPrefix + f.name).orNull))
          StatementResult(statement, rows, None)
        }

      case sp: ShowTableProperties =>
        resolve(sp.table).map { t =>
          val props = t.properties
          val tblName = nameParts(sp.table).map(_.mkString("."))
            .getOrElse(t.tableDir)
          val rows = sp.propertyKey match {
            // a missing key mirrors Spark/Iceberg: a message row, never a
            // null value (a null Any renders inconsistently downstream)
            case Some(k) => Seq(Map[String, Any](
              "key" -> k, "value" -> props.getOrElse(k,
                s"Table $tblName does not have property: $k")))
            case None => props.toSeq.sortBy(_._1).map { case (k, v) =>
              Map[String, Any]("key" -> k, "value" -> v)
            }
          }
          StatementResult(statement, rows, None)
        }

      case dt: DropTable =>
        nameParts(dt.child).flatMap {
          case Seq(ns, tname) => catalog.flatMap { cat =>
            if (cat.tableExists(ns, tname)) {
              val droppedDir = cat.loadTable(ns, tname).tableDir
              cat.dropTable(ns, tname)
              unregister(tname.toLowerCase)
              // sweep EVERY view over the dropped table's dir — a view
              // registered under another name must not keep serving the
              // dropped table's last snapshot
              tables.foreach { case (vn, vt) =>
                if (vt.tableDir == droppedDir) unregister(vn)
              }
              Some(StatementResult(statement, Nil, None))
            } else if (dt.ifExists) Some(StatementResult(statement, Nil, None))
            else None // fall through: spark.sql raises its own not-found
          }
          case _ => None
        }

      case st: ShowTables =>
        catalog.flatMap { cat =>
          val ns = st.namespace match {
            case u: UnresolvedNamespace => u.multipartIdentifier.mkString(".")
            case _ => return None
          }
          if (!cat.namespaceExists(ns)) None
          else {
            val names = cat.listTables(ns).sorted
              .filter(n => st.pattern.forall(p =>
                java.util.regex.Pattern.matches(
                  p.replace("*", ".*").replace("?", "."), n)))
            Some(StatementResult(statement,
              names.map(n => Map[String, Any](
                "namespace" -> ns, "tableName" -> n, "isTemporary" -> false)),
              None))
          }
        }

      // `SHOW NAMESPACES` / `SHOW SCHEMAS` list the registered catalog's
      // namespaces (ref snowflake.sql:106 `show schemas`, openspark.ipynb
      // "show namespaces") — without this route the statement falls through
      // to spark.sql, which lists SPARK's catalog, not CatalogService's.
      // Only the flat form (optionally `IN <catalog>`) routes; a multi-part
      // qualifier means nested namespaces this engine doesn't have, so it
      // falls through loudly to Spark's own resolution.
      case sn: org.apache.spark.sql.execution.command.ShowNamespacesCommand =>
        catalog.flatMap { cat =>
          val qualifier = sn.child match {
            case u: org.apache.spark.sql.catalyst.analysis.UnresolvedNamespace =>
              u.multipartIdentifier
            case _ => return None
          }
          if (qualifier.size > 1) None
          else {
            val names = cat.listNamespaces().sorted
              .filter(n => sn.pattern.forall(p =>
                java.util.regex.Pattern.matches(
                  p.replace("*", ".*").replace("?", "."), n)))
            Some(StatementResult(statement,
              names.map(n => Map[String, Any]("namespace" -> n)), None))
          }
        }

      // `USE ns` / `USE NAMESPACE ns` / `USE CATALOG c`: single implicit
      // catalog — accept so the reference scripts' context-switch headers
      // run, and REMEMBER a namespace the registered catalog actually has
      // (the notebooks then issue UNQUALIFIED create-table statements that
      // resolve against it; an unknown namespace stays a pure no-op so the
      // Snowflake/Databricks headers keep running unchanged).
      case sc: SetCatalogAndNamespace =>
        for {
          cat <- catalog
          u <- sc.child match {
            case u: UnresolvedNamespace => Some(u)
            case _ => None
          }
          ns = u.multipartIdentifier.mkString(".")
          if cat.namespaceExists(ns)
        } setNamespace(ns)
        Some(StatementResult(statement, Nil, None))
      // `USE NAMESPACE ns` parses straight to the session-catalog command,
      // which would fail against Spark's catalog for OUR namespaces — with
      // a registered catalog it is accepted (and remembered when the
      // namespace exists); without one it falls through to Spark's own
      case sn: org.apache.spark.sql.execution.command.SetNamespaceCommand =>
        catalog.map { cat =>
          val ns = sn.namespace.mkString(".")
          if (cat.namespaceExists(ns)) setNamespace(ns)
          StatementResult(statement, Nil, None)
        }
      case cmd if cmd.getClass.getSimpleName == "SetCatalogCommand" =>
        Some(StatementResult(statement, Nil, None))

      // Iceberg procedures as SQL (the reference's bench statements,
      // blob-dfs_bench.py:141-155): the catalog's procedure registry, bound
      // by Spark's own CALL analysis (named and positional arguments,
      // defaults, coercion), with `table` arguments resolved the engine's
      // way. Unknown procedures and non-system namespaces fall through.
      case c: Call =>
        val touched = scala.collection.mutable.ArrayBuffer.empty[GraftTable]
        val host = GraftProcedures.Host(
          ident => {
            // a leading catalog part (`catalog.ns.t`, as in the reference's
            // calls) drops off before the DDL resolution rule applies
            val parts = ident.split("\\.")
            val t = resolveDdlIdent((if (parts.length == 3) parts.tail else parts).mkString("."))
              .getOrElse(throw new IllegalArgumentException(
                s"CALL: '$ident' is neither a registered view nor a catalog table"))
            touched += t
            t
          },
          () => catalog.getOrElse(unsupported("register_table without a registered catalog")))
        GraftProcedures.bind(host, c).map { bound =>
          val rows = SqlInternals.ofRows(spark, bound).collect().toSeq
            .map(r => r.schema.fieldNames.zip(r.toSeq).toMap[String, Any])
          // maintenance may have changed the live file set (or, for
          // rollback, the data): re-register every view over the table
          touched.foreach(evolved)
          StatementResult(statement, rows, None)
        }

      case tt: TruncateTable =>
        resolve(tt.table).map { t =>
          // metadata-only: an overwrite commit with an empty frame — old
          // files stay readable via time travel until expiry
          t.overwrite(spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], t.schema),
            operation = "truncate")
          evolved(t)
        }

      case ctas: CreateTableAsSelect =>
        val cat = catalog.getOrElse(return None)
        val (ns, tname) = ctas.name match {
          case id: UnresolvedIdentifier if id.nameParts.size == 2 =>
            (id.nameParts.head, id.nameParts.last)
          case id: UnresolvedIdentifier
              if id.nameParts.size == 1 && defaultNamespace.isDefined =>
            (defaultNamespace.get, id.nameParts.head)
          case id: UnresolvedIdentifier =>
            unsupported(s"CTAS name ${id.nameParts.mkString(".")} " +
              "(need ns.table, or USE a namespace first)")
          case other => unsupported(s"CTAS target $other")
        }
        if (cat.tableExists(ns, tname)) {
          if (ctas.ignoreIfExists) {
            register(tname, cat.loadTable(ns, tname))
            return Some(StatementResult(statement, Nil, None))
          }
          throw new IllegalStateException(s"table exists: $ns.$tname")
        }
        // CTAS READS data: its source views must read their tables' latest
        // snapshots (the DML routes refresh the same way; metadata-only DDL
        // branches stay refresh-free so they keep answering when data files
        // are gone)
        refreshViews()
        val src = SqlInternals.ofRows(spark,
          resolveCatalogRelations(ctas.query, names))
        val t = GraftCatalog.create(spark, cat, ns, tname, src.schema, ctas.partitioning,
          specOf(ctas.tableSpec))
        t.append(src)
        register(tname, t)
        Some(StatementResult(statement, Nil, None))

      case cn: CreateNamespace =>
        val cat = catalog.getOrElse(return None)
        val ns = cn.name match {
          case u: UnresolvedNamespace => u.multipartIdentifier.mkString(".")
          case other => unsupported(s"CREATE NAMESPACE target $other")
        }
        cat.createNamespace(ns, ifNotExists = cn.ifNotExists)
        Some(StatementResult(statement, Nil, None))

      case dn: DropNamespace =>
        val cat = catalog.getOrElse(return None)
        val ns = dn.namespace match {
          case u: UnresolvedNamespace => u.multipartIdentifier.mkString(".")
          case other => unsupported(s"DROP NAMESPACE target $other")
        }
        if (!cat.namespaceExists(ns)) {
          if (dn.ifExists) Some(StatementResult(statement, Nil, None))
          else None // fall through: spark.sql raises its own not-found
        } else {
          // same stale-view rule as DROP TABLE: a cascade drops tables, so
          // every registered view over one of their dirs must go too, or it
          // would keep serving a dropped table's last snapshot
          if (dn.cascade) {
            val droppedDirs = cat.listTables(ns)
              .map(tn => cat.loadTable(ns, tn).tableDir).toSet
            cat.dropNamespaceCascade(ns)
            tables.foreach { case (vn, vt) =>
              if (droppedDirs.contains(vt.tableDir)) unregister(vn)
            }
          } else cat.dropNamespace(ns)
          Some(StatementResult(statement, Nil, None))
        }

      case ct: CreateTable =>
        routeCreateTable(spark, statement, catalog, register, unregister, tables,
          defaultNamespace, ct.name, ct.columns, ct.partitioning, ct.tableSpec,
          ignoreIfExists = ct.ignoreIfExists, orReplace = false)

      // `CREATE OR REPLACE TABLE` (the Snowflake-dialect ICEBERG create
      // normalizes to this head): drop-if-exists, then the same create
      case rt: ReplaceTable =>
        routeCreateTable(spark, statement, catalog, register, unregister, tables,
          defaultNamespace, rt.name, rt.columns, rt.partitioning, rt.tableSpec,
          ignoreIfExists = false, orReplace = true)

      case _ => None
    }
  }

  /** Shared CREATE TABLE / CREATE OR REPLACE TABLE route: resolve the
    * ns.table name (or the USE-namespace default), honor IF NOT EXISTS /
    * OR REPLACE occupancy, create through the catalog's shared
    * `GraftCatalog.create` (partition transforms, TBLPROPERTIES, LOCATION),
    * register the view.
    */
  private def routeCreateTable(spark: SparkSession, statement: String,
      catalog: Option[graft.catalogsvc.CatalogService],
      register: (String, GraftTable) => Unit,
      unregister: String => Unit,
      tables: Map[String, GraftTable],
      defaultNamespace: Option[String],
      name: LogicalPlan,
      columns: Seq[org.apache.spark.sql.catalyst.plans.logical.ColumnDefinition],
      partitioning: Seq[org.apache.spark.sql.connector.expressions.Transform],
      tableSpec: Any,
      ignoreIfExists: Boolean,
      orReplace: Boolean): Option[StatementResult] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier
    val cat = catalog.getOrElse(return None)
    val (ns, tname) = name match {
      case id: UnresolvedIdentifier if id.nameParts.size == 2 =>
        (id.nameParts.head, id.nameParts.last)
      // unqualified CREATE after USE <ns> (the notebook flow): resolve
      // against the remembered namespace
      case id: UnresolvedIdentifier
          if id.nameParts.size == 1 && defaultNamespace.isDefined =>
        (defaultNamespace.get, id.nameParts.head)
      case id: UnresolvedIdentifier =>
        unsupported(s"CREATE TABLE name ${id.nameParts.mkString(".")} " +
          "(need ns.table, or USE a namespace first)")
      case other => unsupported(s"CREATE TABLE target $other")
    }
    if (cat.tableExists(ns, tname)) {
      if (ignoreIfExists) {
        register(tname, cat.loadTable(ns, tname))
        return Some(StatementResult(statement, Nil, None))
      }
      if (!orReplace) throw new IllegalStateException(s"table exists: $ns.$tname")
      // OR REPLACE: drop the occupant first, sweeping every view over its
      // dir (the DROP TABLE rule — a stale view must not keep serving the
      // replaced table's last snapshot)
      val droppedDir = cat.loadTable(ns, tname).tableDir
      cat.dropTable(ns, tname)
      unregister(tname.toLowerCase)
      tables.foreach { case (vn, vt) =>
        if (vt.tableDir == droppedDir) unregister(vn)
      }
    }
    val fields = columns.map(cd =>
      org.apache.spark.sql.types.StructField(cd.name, cd.dataType, cd.nullable))
    val t = GraftCatalog.create(spark, cat, ns, tname,
      org.apache.spark.sql.types.StructType(fields.toArray), partitioning, specOf(tableSpec))
    register(tname, t)
    Some(StatementResult(statement, Nil, None))
  }

  /** A create statement's TBLPROPERTIES and LOCATION, as the properties
    * `GraftCatalog.create` takes. */
  private def specOf(tableSpec: Any): Map[String, String] = tableSpec match {
    case ts: TableSpec => ts.properties ++ ts.location.map(TableCatalog.PROP_LOCATION -> _)
    case ts: UnresolvedTableSpec => // the parse-time shape
      ts.properties ++ ts.location.map(TableCatalog.PROP_LOCATION -> _)
    case _ => Map.empty[String, String]
  }

  /** Resolve a metadata-relation suffix: the catalog's inspection tables
    * (`GraftCatalog.MetaFrames`), plus Iceberg's dynamic `branch_<name>` / `tag_<name>` ref reads
    * (`SELECT ... FROM t.branch_audit` is the audit step of a SQL WAP
    * cycle). Ref names keep the suffix's original case.
    */
  private def metaFrame(suffix: String): Option[GraftTable => DataFrame] = {
    val s = suffix.toLowerCase
    GraftCatalog.MetaFrames.get(s)
      .orElse(if (s.startsWith("branch_") && s.length > 7)
        Some((t: GraftTable) => t.readBranch(suffix.substring(7))) else None)
      .orElse(if (s.startsWith("tag_") && s.length > 4)
        Some((t: GraftTable) => t.readTag(suffix.substring(4))) else None)
  }

  /** Read-side plan rewrites over registered snapshot tables, in one pass:
    *
    *  - SQL time travel (the reference's `time_travel_validate.sql:4-10`,
    *    `SELECT ... FROM t VERSION AS OF n`): each `RelationTimeTravel` is
    *    rewritten to a fresh temp view materialized at that snapshot
    *    (version id, or a foldable timestamp for `TIMESTAMP AS OF`);
    *  - metadata tables (`bulk_insert_sales_events.sql:14-17`,
    *    `SELECT ... FROM t.snapshots`): a two-part relation whose head is a
    *    registered view and whose trailing part names a metadata table reads
    *    that DataFrame (exactly `<view>.<suffix>` — a longer qualified name
    *    is a different table, never resolved by its last parts).
    *
    * The rewritten plan runs through the session analyzer, so both compose
    * with any surrounding statement shape — subqueries included, and the
    * same table can appear at several versions in one statement. None when
    * nothing was rewritten.
    */
  def tryReadRewrites(spark: SparkSession, parsed: LogicalPlan,
      names: Names): Option[DataFrame] = {
    if (names.isEmpty) return None
    val tables = names.views
    import org.apache.spark.sql.catalyst.analysis.RelationTimeTravel
    var n = 0
    def registered(df: DataFrame, base: String, kind: String): UnresolvedRelation = {
      n += 1
      val vname = s"${base}__${kind}_$n"
      df.createOrReplaceTempView(vname)
      UnresolvedRelation(Seq(vname))
    }
    // exact catalog-backed ns.t, mirroring target()'s qualified rule
    def catTable(parts: Seq[String]): Option[GraftTable] = parts match {
      case Seq(ns, tn) => names.table(ns, tn)
      case _ => None
    }
    // transformDownWithSubqueries, parents before children: a travel node
    // must claim its child relation before the plain-relation rule sees it
    // (the replacement view is single-part, which no rule below matches).
    // Subquery traversal still applies — a rewritable relation inside a
    // scalar subquery lives in an expression's nested plan.
    // Same exact-name rule as target(): registered views route on a bare
    // name, catalog tables on their exact two-part name, and a metadata
    // suffix only as `<view>.<suffix>` / `<ns>.<t>.<suffix>` —
    // `otherdb.sales` / `otherdb.sales.snapshots` must not resolve against
    // a registered `sales`.
    val rewritten = parsed.transformDownWithSubqueries {
      case RelationTimeTravel(r: UnresolvedRelation, ts, version)
          if names.resolve(r.multipartIdentifier).nonEmpty =>
        val t = names.resolve(r.multipartIdentifier).get
        val df = (version, ts) match {
          // Iceberg's VERSION AS OF accepts a snapshot id OR a ref name:
          // numeric → snapshot travel; otherwise a tag, then a branch
          // (same precedence as Iceberg's ref resolution)
          case (Some(v), _) if v.forall(_.isDigit) && v.nonEmpty =>
            t.readVersionAsOf(v.toLong)
          case (Some(v), _) if t.tags.contains(v) => t.readTag(v)
          case (Some(v), _) if t.branches.contains(v) => t.readBranch(v)
          case (Some(v), _) =>
            throw new IllegalArgumentException(
              s"VERSION AS OF '$v': no snapshot, tag, or branch by that name")
          case (None, Some(expr)) if expr.foldable =>
            t.readTimestampAsOf(foldTimestampMillis(spark, expr))
          case _ => unsupported("time travel without a literal version/timestamp")
        }
        registered(df, r.multipartIdentifier.last, "travel")
      // Snowflake INFORMATION_SCHEMA TVFs (ref snowflake.sql:364-378) —
      // `TABLE(INFORMATION_SCHEMA.ICEBERG_TABLE_FILES(TABLE_NAME => 't'
      // [, AT => ts]))` and `...ICEBERG_TABLE_SNAPSHOT_REFRESH_HISTORY(...)`
      // parse as the generic TABLE(<fn>) wrapper; route them to the named
      // registered table's files()/history() metadata frames. Matching is
      // anchored on the full two-part INFORMATION_SCHEMA function name, so
      // Spark's own TABLE(range(...)) and every other TVF pass through.
      case tvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
          if tvf.name.size == 1 && tvf.name.head.equalsIgnoreCase("table") &&
            infoSchemaTvf(tvf).nonEmpty =>
        val (kind, f) = infoSchemaTvf(tvf).get
        val named = f.arguments.collect {
          case org.apache.spark.sql.catalyst.expressions.NamedArgumentExpression(k, v) =>
            k.toUpperCase -> v
        }.toMap
        val tableName = named.get("TABLE_NAME") match {
          case Some(Literal(s, org.apache.spark.sql.types.StringType)) if s != null =>
            s.toString
          case other => unsupported(s"$kind needs TABLE_NAME => '<name>', got $other")
        }
        val t = tables.getOrElse(tableName.toLowerCase,
          unsupported(s"$kind over unregistered table $tableName"))
        val df = kind match {
          case "ICEBERG_TABLE_FILES" => named.get("AT") match {
            case Some(expr) if expr.foldable =>
              t.filesAsOf(foldTimestampMillis(spark, expr))
            case Some(other) => unsupported(s"non-literal AT argument ${other.sql}")
            case None => t.files()
          }
          case _ => t.history() // ICEBERG_TABLE_SNAPSHOT_REFRESH_HISTORY
        }
        registered(df, tableName, "tvf")
      // a real catalog table named like a metadata suffix wins over the
      // sugar (exact match beats suffix interpretation)
      case r: UnresolvedRelation
          if r.multipartIdentifier.size == 2 && catTable(r.multipartIdentifier).nonEmpty =>
        val t = catTable(r.multipartIdentifier).get
        tables.collectFirst { case (vn, vt) if vt.tableDir == t.tableDir => vn } match {
          case Some(vn) => n += 1; UnresolvedRelation(Seq(vn))
          case None => registered(t.readLatest(), r.multipartIdentifier.last, "cat")
        }
      case r: UnresolvedRelation
          if r.multipartIdentifier.size == 2 &&
            metaFrame(r.multipartIdentifier.last).nonEmpty &&
            tables.contains(r.multipartIdentifier.init.last.toLowerCase) =>
        val base = r.multipartIdentifier.init.last
        val t = tables(base.toLowerCase)
        registered(metaFrame(r.multipartIdentifier.last).get(t), base, "meta")
      case r: UnresolvedRelation
          if r.multipartIdentifier.size == 3 &&
            metaFrame(r.multipartIdentifier.last).nonEmpty &&
            catTable(r.multipartIdentifier.init).nonEmpty =>
        val t = catTable(r.multipartIdentifier.init).get
        registered(metaFrame(r.multipartIdentifier.last).get(t),
          r.multipartIdentifier(1), "meta")
    }
    if (n == 0) None else Some(SqlInternals.ofRows(spark, rewritten))
  }

  /** Fold a parsed (unanalyzed) literal timestamp expression to epoch
    * millis. A parsed-but-unanalyzed Cast has no timezone yet; pin the
    * session zone before folding (what ResolveTimeZone would do).
    */
  private def foldTimestampMillis(spark: SparkSession, expr: Expression): Long = {
    val zoned = expr.transform {
      case e: org.apache.spark.sql.catalyst.expressions.TimeZoneAwareExpression
          if e.timeZoneId.isEmpty =>
        e.withTimeZone(spark.sessionState.conf.sessionLocalTimeZone)
    }
    zoned.eval(null) match {
      case micros: Long => Math.floorDiv(micros, 1000L) // ts literal = epoch-micros
      case s: org.apache.spark.unsafe.types.UTF8String =>
        // a bare string literal resolves through Spark's OWN string→timestamp
        // cast pinned to the SESSION zone — the same parser (and the same
        // lenient forms: date-only, unpadded fields, embedded offsets) as
        // the explicit CAST spelling, never the JVM default zone
        val cast = org.apache.spark.sql.catalyst.expressions.Cast(
          Literal(s, org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.TimestampType,
          Some(spark.sessionState.conf.sessionLocalTimeZone))
        cast.eval(null) match {
          case micros: Long => Math.floorDiv(micros, 1000L)
          case _ => unsupported(s"unparseable timestamp literal '$s'")
        }
      case other => unsupported(s"timestamp value $other")
    }
  }

  /** The Snowflake INFORMATION_SCHEMA table functions this engine serves,
    * matched by their FULL two-part name inside the `TABLE(...)` wrapper.
    */
  private def infoSchemaTvf(
      tvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction)
      : Option[(String, org.apache.spark.sql.catalyst.analysis.UnresolvedFunction)] =
    tvf.functionArgs match {
      case Seq(f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction) =>
        f.nameParts.map(_.toUpperCase) match {
          case Seq("INFORMATION_SCHEMA",
              fn @ ("ICEBERG_TABLE_FILES" | "ICEBERG_TABLE_SNAPSHOT_REFRESH_HISTORY")) =>
            Some((fn, f))
          case _ => None
        }
      case _ => None
    }

  /** Resolve a DML target plan to (alias-or-name, table) by the exact-name
    * rule (`Names.resolve`): a bare name is a registered view, and the
    * reference's rendered scripts qualify every statement with
    * `{{ target_namespace }}.{{ table_name }}`, an exact catalog `ns.t`.
    * Any other qualified relation (`otherdb.sales`) is a DIFFERENT table
    * even when its last part collides with a registered view name —
    * matching by last part would hijack it (execute the DML against the
    * registered table, silently). It falls through to Spark, which fails
    * loudly for DML over an unknown relation.
    */
  private def target(plan: LogicalPlan, names: Names)
      : Option[(String, GraftTable)] = plan match {
    case SubqueryAlias(id, child) =>
      target(child, names).map { case (_, t) => (id.name, t) }
    case r: UnresolvedRelation =>
      names.resolve(r.multipartIdentifier).map(t => (r.multipartIdentifier.last, t))
    case _ => None
  }

  /** Swap every exact catalog-backed `ns.t` relation in `plan` for a temp
    * view over the table's latest snapshot — an already-registered view over
    * the same table is reused (same refresh/prune lifecycle), an
    * unregistered one materializes fresh. DML source plans (INSERT SELECT,
    * MERGE USING) resolve through the session analyzer, which cannot see
    * catalog names on its own.
    */
  private def resolveCatalogRelations(plan: LogicalPlan, names: Names): LogicalPlan =
    if (names.catalog.isEmpty) plan
    else plan.transformUpWithSubqueries {
      case r: UnresolvedRelation if r.multipartIdentifier.size == 2 &&
          names.table(r.multipartIdentifier.head, r.multipartIdentifier.last).nonEmpty =>
        val Seq(ns, tn) = r.multipartIdentifier.toSeq
        val t = names.table(ns, tn).get
        names.views.collectFirst { case (vn, vt) if vt.tableDir == t.tableDir => vn } match {
          case Some(vn) => UnresolvedRelation(Seq(vn))
          case None =>
            val vname = s"${tn}__cat_src"
            t.readLatest().createOrReplaceTempView(vname)
            UnresolvedRelation(Seq(vname))
        }
    }

  private def qualifierOf(a: UnresolvedAttribute): Option[String] =
    if (a.nameParts.size >= 2) Some(a.nameParts.init.last) else None

  /** UPDATE/DELETE expressions run over the bare table DataFrame: strip the
    * target alias/table qualifier so `t.price` and `ns.tbl.price` resolve as
    * `price`. Unqualified references pass through untouched.
    */
  private def dequalify(alias: String)(e: Expression): Column =
    SqlInternals.column(e.transformUp {
      case a: UnresolvedAttribute
        if qualifierOf(a).exists(_.equalsIgnoreCase(alias)) =>
        UnresolvedAttribute(Seq(a.nameParts.last))
    })

  /** MERGE expressions run over the table layer's join, whose two sides are
    * aliased `tgt` and `src`: rewrite the statement's own aliases onto those,
    * following any source-column rename from the INSERT mapping.
    */
  private def requalify(tgtAlias: String, srcAlias: String,
      rename: Map[String, String])(e: Expression): Column =
    SqlInternals.column(e.transformUp {
      case a: UnresolvedAttribute if qualifierOf(a).isDefined =>
        val q = qualifierOf(a).get
        val base = a.nameParts.last
        if (q.equalsIgnoreCase(tgtAlias)) UnresolvedAttribute(Seq("tgt", base))
        else if (q.equalsIgnoreCase(srcAlias))
          UnresolvedAttribute(Seq("src", rename.getOrElse(base, base)))
        else a
    })

  private def unsupported(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"SQL DML shape not supported by the table layer: $what")

  /** `write.delete.representation` routing for merge-on-read DML: `equality`
    * (default) keys on identifier columns, `positional` writes delete
    * vectors. Any other value is refused loudly — a typo silently falling
    * back to equality would change DML semantics on a non-unique key.
    */
  private def positionalRepresentation(t: GraftTable): Boolean =
    t.properties.get(graft.table.GraftTable.DeleteRepresentationProp)
      .map(_.toLowerCase) match {
      case Some("positional") => true
      case Some("equality") | None => false
      case Some(other) => unsupported(
        s"${graft.table.GraftTable.DeleteRepresentationProp}='$other' " +
          "(equality or positional)")
    }

  // ---------------------------------------------------------------------
  // Snowflake-dialect pre-parse rewrites (the reference's snowflake.sql
  // travel section, `snowflake.sql:359-361`): the API layer already
  // implements the SEMANTICS (readTimestampAsOf / readOffsetAsOf); these
  // rewrites let the Snowflake statement TEXT run verbatim through the one
  // engine by translating to Spark's grammar before parsing.
  // ---------------------------------------------------------------------

  /** Snowflake type aliases Spark's parser rejects. */
  private def mapSnowflakeType(t: String): String = t.toUpperCase match {
    case "TIMESTAMP_LTZ" | "TIMESTAMP_TZ" => "TIMESTAMP"
    case _ => t
  }

  /** Quoted spans `[open, close]` (quote chars inclusive) of `s`: Spark's
    * default (non-ANSI) mode treats BOTH `'...'` and `"..."` as string
    * literals, and backticks quote identifiers. Honors backslash escapes
    * (string literals only) and the doubled-quote escape (`''`, `""`,
    * ` `` `). An unterminated quote spans to end-of-string.
    */
  private[plan] def quoteSpans(s: String): Vector[(Int, Int)] = {
    val spans = Vector.newBuilder[(Int, Int)]
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'' || c == '"' || c == '`') {
        val open = i; val q = c
        i += 1
        var closed = false
        while (i < s.length && !closed) {
          val d = s.charAt(i)
          if (d == '\\' && q != '`' && i + 1 < s.length) i += 2
          else if (d == q && i + 1 < s.length && s.charAt(i + 1) == q) i += 2
          else if (d == q) closed = true
          else i += 1
        }
        spans += ((open, if (closed) i else s.length - 1))
        if (closed) i += 1
      } else i += 1
    }
    spans.result()
  }

  /** Rewrite postfix casts `x::TYPE` → `CAST(x AS TYPE)` outside string
    * literals and quoted identifiers (operand = a quoted literal or an
    * identifier/number run; Snowflake timestamp aliases map to Spark's
    * TIMESTAMP). Anything that does not look like a cast is left untouched.
    */
  private[plan] def rewritePostfixCasts(statement: String): String = {
    def once(s: String): Option[String] = {
      val spans = quoteSpans(s)
      def inSpan(p: Int): Boolean = spans.exists { case (a, b) => p >= a && p <= b }
      var i = 0; var pos = -1
      while (i < s.length - 1 && pos < 0) {
        if (s.charAt(i) == ':' && s.charAt(i + 1) == ':' && !inSpan(i)) pos = i
        i += 1
      }
      if (pos < 0) return None
      var e = pos - 1
      while (e >= 0 && s.charAt(e).isWhitespace) e -= 1
      if (e < 0) return None
      val spanEnd = spans.find(_._2 == e)
      val start =
        if (spanEnd.isDefined) spanEnd.get._1
        else {
          var b = e
          while (b >= 0 && (s.charAt(b).isLetterOrDigit ||
            s.charAt(b) == '.' || s.charAt(b) == '_')) b -= 1
          b + 1
        }
      if (start > e) return None
      var t0 = pos + 2
      while (t0 < s.length && s.charAt(t0).isWhitespace) t0 += 1
      var t1 = t0
      while (t1 < s.length && (s.charAt(t1).isLetterOrDigit || s.charAt(t1) == '_')) t1 += 1
      if (t1 == t0) return None
      var end = t1
      // optional precision suffix: TYPE(p[,s])
      var w = t1
      while (w < s.length && s.charAt(w).isWhitespace) w += 1
      if (w < s.length && s.charAt(w) == '(') {
        var d = 1; var j = w + 1
        while (j < s.length && d > 0) {
          if (s.charAt(j) == '(') d += 1 else if (s.charAt(j) == ')') d -= 1
          j += 1
        }
        if (d == 0 && s.substring(w + 1, j - 1).forall(ch =>
          ch.isDigit || ch == ',' || ch.isWhitespace)) end = j
      }
      val operand = s.substring(start, e + 1)
      val tpe = mapSnowflakeType(s.substring(t0, end))
      Some(s.substring(0, start) + s"CAST($operand AS $tpe)" + s.substring(end))
    }
    var cur = statement; var go = true; var guard = 0
    while (go && guard < 64) {
      once(cur) match { case Some(n) => cur = n; case None => go = false }
      guard += 1
    }
    cur
  }

  /** Constant integer arithmetic (`-60*1800`, `(3+2)*60`) — the OFFSET
    * argument shape. None when anything but digits/ops/parens appears.
    */
  private[plan] def evalIntExpr(s: String): Option[Long] = {
    val toks = s.replaceAll("\\s+", "")
    if (toks.isEmpty || !toks.forall(c => c.isDigit || "+-*/()".contains(c))) return None
    var i = 0
    def peek: Char = if (i < toks.length) toks.charAt(i) else '\u0000' // end-of-input sentinel: matches no operator
    def expr(): Long = {
      var v = term()
      while (peek == '+' || peek == '-') {
        val op = peek; i += 1
        val r = term()
        v = if (op == '+') v + r else v - r
      }
      v
    }
    def term(): Long = {
      var v = unary()
      while (peek == '*' || peek == '/') {
        val op = peek; i += 1
        val r = unary()
        v = if (op == '*') v * r else v / r
      }
      v
    }
    def unary(): Long = peek match {
      case '-' => i += 1; -unary()
      case '+' => i += 1; unary()
      case '(' =>
        i += 1; val v = expr()
        if (peek != ')') throw new IllegalArgumentException("unbalanced")
        i += 1; v
      case c if c.isDigit =>
        val b = i
        while (peek.isDigit) i += 1
        toks.substring(b, i).toLong
      case _ => throw new IllegalArgumentException("bad token")
    }
    scala.util.Try { val v = expr(); if (i == toks.length) v else throw new IllegalArgumentException("trailing") }.toOption
  }

  /** Rewrite Snowflake `AT(TIMESTAMP => e)` / `AT(OFFSET => e)` relation
    * clauses to Spark `TIMESTAMP AS OF`: the timestamp form keeps its
    * expression (type aliases mapped); the offset form — SECONDS relative
    * to statement time, non-positive — is resolved against `nowMillis`
    * here, exactly `readOffsetAsOf`'s contract. An `AT(` whose content
    * matches neither form is left untouched.
    */
  private[plan] def rewriteAtClauses(statement: String, nowMillis: () => Long): String = {
    val AtRe = """(?i)\bAT\s*\(""".r
    def once(s: String): Option[String] = {
      // same literal discipline as rewritePostfixCasts: skip matches and
      // parens inside '...'/"..."/`...` regions, escapes included
      val spans = quoteSpans(s)
      def inSpan(p: Int): Boolean = spans.exists { case (a, b) => p >= a && p <= b }
      for (m <- AtRe.findAllMatchIn(s)) {
        if (!inSpan(m.start)) {
          var d = 1; var j = m.end
          while (j < s.length && d > 0) {
            val c = s.charAt(j)
            if (!inSpan(j)) {
              if (c == '(') d += 1
              else if (c == ')') d -= 1
            }
            j += 1
          }
          if (d == 0) {
            val content = s.substring(m.end, j - 1).trim
            val TsRe = """(?is)TIMESTAMP\s*=>\s*(.+)""".r
            val OffRe = """(?is)OFFSET\s*=>\s*(.+)""".r
            content match {
              case TsRe(e) =>
                // map type aliases inside non-postfix casts too
                val mapped = e.trim.replaceAll("(?i)TIMESTAMP_LTZ|TIMESTAMP_TZ", "TIMESTAMP")
                return Some(s.substring(0, m.start) + s"TIMESTAMP AS OF $mapped" +
                  s.substring(j))
              case OffRe(e) =>
                evalIntExpr(e) match {
                  case Some(sec) =>
                    val ts = java.time.Instant.ofEpochMilli(nowMillis() + sec * 1000L)
                      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime
                      .format(java.time.format.DateTimeFormatter
                        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
                    return Some(s.substring(0, m.start) +
                      s"TIMESTAMP AS OF '$ts'" + s.substring(j))
                  case None => // not a constant offset: leave untouched
                }
              case _ => // not a travel clause: leave untouched
            }
          }
        }
      }
      None
    }
    var cur = statement; var go = true; var guard = 0
    while (go && guard < 16) {
      once(cur) match { case Some(n) => cur = n; case None => go = false }
      guard += 1
    }
    cur
  }

  /** `ALTER ICEBERG TABLE ...` (ref snowflake.sql:389-391) is Snowflake's
    * spelling for DDL on an Iceberg table; Spark's grammar has no ICEBERG
    * keyword — strip it, anchored to the statement head, so the evolution /
    * REFRESH routes see standard `ALTER TABLE` text.
    */
  private val AlterIcebergHeadRe = """(?is)\A(\s*)ALTER\s+ICEBERG\s+TABLE\b""".r

  /** Snowflake `CREATE [OR REPLACE] ICEBERG TABLE name (cols) [PARTITION BY
    * (...)] [K = 'v' ...]` (ref `iceberg-tests/sql/snowflake/open_catalog/
    * create_sales_events.sql:5`, `snowflake.sql:96,109`) normalized to the
    * Spark head the CreateTable/ReplaceTable routes already serve:
    *
    *  - `ICEBERG` dropped; `OR REPLACE` kept (→ ReplaceTable → drop+create);
    *  - `PARTITION BY` expression-form transforms mapped onto Spark's
    *    transform spellings: `DAY(x)`→`days(x)`, `HOUR/MONTH/YEAR`
    *    likewise, `BUCKET(n, x)`→`bucket(n, x)`, bare identity unchanged;
    *  - the account-coupled tail (`TARGET_FILE_SIZE`, `EXTERNAL_VOLUME`,
    *    `CATALOG`, `BASE_LOCATION`, ...) recorded as inert
    *    `TBLPROPERTIES ('snowflake.<key>' = ...)` — tolerated and ignored,
    *    the existing TBLPROPERTIES-passthrough posture.
    *
    * The SCHEMALESS form (no column list — a catalog LINK, not a create)
    * passes through unchanged for `CreateIcebergLinkRe`'s textual route.
    * Anything this parser cannot fully account for also passes through
    * unchanged — never mangle a statement half-way.
    */
  private val CreateIcebergHeadRe =
    """(?is)\A\s*CREATE(\s+OR\s+REPLACE)?\s+ICEBERG\s+TABLE\s+""".r

  private[plan] def rewriteSnowflakeCreate(statement: String): String = {
    val m = CreateIcebergHeadRe.findFirstMatchIn(statement).getOrElse(return statement)
    val orReplace = m.group(1) != null
    val rest0 = statement.substring(m.end).trim match {
      case s if s.endsWith(";") => s.dropRight(1).trim
      case s => s
    }
    val nameEnd = rest0.indexWhere(c => c == '(' || c.isWhitespace)
    val (nameRaw, afterName) =
      if (nameEnd < 0) (rest0, "") else (rest0.substring(0, nameEnd), rest0.substring(nameEnd))
    val name = nameRaw.replace("\"", "`")
    var tail = afterName.trim
    if (!tail.startsWith("(")) return statement // schemaless link form
    // balanced-paren slice, quote-aware
    def balanced(s: String): Option[(String, String)] = {
      var depth = 0; var i = 0; var inQ = false
      while (i < s.length) {
        val c = s.charAt(i)
        if (inQ) { if (c == '\'') inQ = false }
        else c match {
          case '\'' => inQ = true
          case '(' => depth += 1
          case ')' =>
            depth -= 1
            if (depth == 0) return Some((s.substring(0, i + 1), s.substring(i + 1)))
          case _ =>
        }
        i += 1
      }
      None
    }
    val (colList, rest2) = balanced(tail).getOrElse(return statement)
    tail = rest2.trim
    val partClause = """(?is)\Apartition\s+by\s*""".r.findFirstMatchIn(tail).map { pm =>
      val (p, r) = balanced(tail.substring(pm.end)).getOrElse(return statement)
      tail = r.trim
      p
    }
    // the remaining tail must be exclusively K = value pairs → TBLPROPERTIES
    val PairHead = """(?s)\A(\w+)\s*=\s*('[^']*'|[\w.]+)\s*,?\s*""".r
    var props = Vector.empty[(String, String)]
    var t2 = tail
    while (t2.nonEmpty) {
      PairHead.findFirstMatchIn(t2) match {
        case Some(pm) =>
          props :+= (pm.group(1).toLowerCase,
            pm.group(2).stripPrefix("'").stripSuffix("'"))
          t2 = t2.substring(pm.end)
        case None => return statement // unaccounted-for tail: leave intact
      }
    }
    val transforms = partClause.map { p =>
      val inner = p.substring(1, p.length - 1)
      val parts = {
        var depth = 0; val sb = new StringBuilder
        val out = Vector.newBuilder[String]
        inner.foreach {
          case '(' => depth += 1; sb += '('
          case ')' => depth -= 1; sb += ')'
          case ',' if depth == 0 => out += sb.toString; sb.clear()
          case c => sb += c
        }
        out += sb.toString
        out.result().map(_.trim).filter(_.nonEmpty)
      }
      val Fn = """(?is)\A(\w+)\s*\((.*)\)\z""".r
      parts.map {
        case Fn(fn, args) =>
          val a = args.trim
          fn.toLowerCase match {
            case "day" | "days" => s"days($a)"
            case "hour" | "hours" => s"hours($a)"
            case "month" | "months" => s"months($a)"
            case "year" | "years" => s"years($a)"
            case other => s"${other.toLowerCase}($a)" // bucket(n, x), truncate
          }
        case ident => ident
      }.mkString(", ")
    }
    val propsSql =
      if (props.isEmpty) ""
      else "\nTBLPROPERTIES (" + props.map { case (k, v) =>
        s"'snowflake.$k' = '${v.replace("'", "''")}'"
      }.mkString(", ") + ")"
    s"CREATE ${if (orReplace) "OR REPLACE " else ""}TABLE $name $colList USING iceberg" +
      transforms.map(ts => s"\nPARTITIONED BY ($ts)").getOrElse("") + propsSql
  }

  /** The full Snowflake-dialect pre-parse pass: the ICEBERG create
    * normalization first (raw text), then postfix casts (so an
    * `AT(TIMESTAMP => '...'::TIMESTAMP_LTZ)` body is already Spark-legal
    * when the AT clause is lifted), then AT travel clauses, then the
    * `ALTER ICEBERG TABLE` head normalization.
    */
  def rewriteSnowflakeDialect(statement: String,
      nowMillis: () => Long = () => System.currentTimeMillis()): String =
    AlterIcebergHeadRe.replaceFirstIn(
      rewriteAtClauses(rewritePostfixCasts(rewriteSnowflakeCreate(statement)),
        nowMillis), "$1ALTER TABLE")
}
