package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NonEmptyNamespaceException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Column => V2Column, FunctionCatalog, Identifier, NamespaceChange, ProcedureCatalog, StagedTable, StagingTableCatalog, SupportsDelete, SupportsNamespaces, SupportsRead, SupportsRowLevelOperations, Table, TableCapability, TableCatalog, TableChange, TableInfo}
import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder}
import org.apache.spark.sql.sources.{AlwaysTrue, And => SAnd, EqualNullSafe => SEqualNullSafe, EqualTo => SEqualTo, Filter => SFilter, GreaterThan => SGt, GreaterThanOrEqual => SGte, In => SIn, IsNotNull => SIsNotNull, IsNull => SIsNull, LessThan => SLt, LessThanOrEqual => SLte, Not => SNot, Or => SOr, StringContains => SContains, StringEndsWith => SEndsWith, StringStartsWith => SStartsWith}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}

import graft.catalogsvc.CatalogService
import graft.table.{FileEntry, GraftTable, Snapshot, SnapshotLog}

/** The Spark `TableCatalog` plugin — the piece that lets STOCK Spark SQL
  * resolve, create, alter, and mutate graft tables through three-part names
  * with zero pre-routing (the reference's entire Spark surface is
  * catalog-configured: `iceberg-tests/config/framework.yaml:39-74` sets
  * `spark.sql.catalog.<name>`, the notebooks `USE CATALOG`, and
  * `blob_dfs/blob-dfs_bench.py:104-106` appends via DataFrameWriterV2):
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/warehouse")
  *   spark.sql("CREATE NAMESPACE graft.analytics")
  *   spark.sql("CREATE TABLE graft.analytics.events (...) PARTITIONED BY (days(ts))")
  *   df.writeTo("graft.analytics.events").append()
  *   spark.sql("UPDATE graft.analytics.events SET ... WHERE ...")
  *   spark.sql("DELETE FROM graft.analytics.events WHERE ...")
  *   spark.sql("MERGE INTO graft.analytics.events t USING src s ON ... ")
  * }}}
  *
  * Backed by [[graft.catalogsvc.CatalogService]] (namespace/table layout on
  * the warehouse root) and [[graft.table.GraftTable]] (all table semantics).
  * Reads ride the DSv2 connector scan ([[GraftStreamTable]]) with its full
  * pushdown surface (file pruning, metadata aggregates, runtime filtering,
  * SPJ, limit); writes ride the table API's distributed append/overwrite, so
  * partition transforms, CAS commit retry, and WRITE ORDERED BY apply
  * identically to every route into the table.
  *
  * Row-level SQL (UPDATE/MERGE, and DELETE with non-translatable
  * predicates) goes through Spark's own group-based rewrite plans
  * (`SupportsRowLevelOperations` → `ReplaceData`): the operation's scan
  * records exactly which files survived filter pruning, the rewrite query
  * computes those files' replacement rows, and one CAS commit swaps the
  * planned files for the staged output (`commitRewrite` with the planned
  * snapshot as the serializable base — a concurrent commit aborts the DML
  * rather than losing it). Translatable DELETEs take Spark's
  * metadata-delete fast path into [[graft.dml.Dml.deleteAuto]] instead, and
  * a filter overwrite (`writeTo(...).overwrite(cond)`) commits as the
  * copy-on-write DELETE of `cond` plus the written rows
  * ([[graft.dml.Dml.overwriteWhere]]).
  *
  * Table commands have one implementation for both SQL routes: CALL runs
  * [[GraftProcedures]], and CREATE TABLE / ALTER TABLE run the companion's
  * `create` / `alter`, which the engine's pre-router (`plan/SqlDml.scala`)
  * calls too. Only the statement surfaces stock Spark cannot parse
  * (Snowflake dialect, WAP branch DDL, WRITE ORDERED BY, materialized views)
  * live on the pre-router alone.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with StagingTableCatalog with ProcedureCatalog with FunctionCatalog {

  private var catalogName: String = "graft"
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active
  private def svc: CatalogService = new CatalogService(spark, warehouse)

  /** Resolve a procedure's `table => 'ns.t'` argument (a leading catalog
    * part naming THIS catalog is tolerated, as in the reference's CALLs).
    */
  private def loadGraftTable(identStr: String): GraftTable = {
    val parts = identStr.replace("`", "").split("\\.").toSeq
    val (ns, tn) = parts match {
      case Seq(n, t) => (n, t)
      case Seq(c, n, t) if c.equalsIgnoreCase(catalogName) => (n, t)
      case _ => throw new IllegalArgumentException(
        s"table identifier '$identStr' (need ns.table or $catalogName.ns.table)")
    }
    svc.loadTable(ns, tn)
  }

  // ---- procedures (CALL <cat>.system.<proc>) ----

  override def loadProcedure(ident: Identifier): UnboundProcedure =
    GraftProcedures.load(GraftProcedures.Host(loadGraftTable, () => svc), ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.list(namespace)

  // ---- functions (SELECT <cat>.system.<fn>(...)) ----

  /** `system.<fn>` from SQL; a bare `<fn>` is how Spark resolves the
    * partition transforms a write declares as its distribution. */
  override def loadFunction(ident: Identifier): UnboundFunction = {
    if (!ident.namespace().map(_.toLowerCase).sameElements(Array("system")) &&
        ident.namespace().nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
    GraftFunctions.load(ident.name()).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident))
  }

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (!namespace.map(_.toLowerCase).sameElements(Array("system"))) Array.empty
    else GraftFunctions.names.map(Identifier.of(Array("system"), _)).toArray

  override def functionExists(ident: Identifier): Boolean =
    ident.namespace().map(_.toLowerCase).sameElements(Array("system")) &&
      GraftFunctions.load(ident.name()).isDefined

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog '$name' needs a warehouse root: set " +
          s"spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  /** This catalog's namespaces are single-level (the Polaris-style
    * `catalog.namespace.table` layout the reference uses throughout).
    */
  private def ns1(namespace: Array[String]): String = {
    require(namespace.length == 1,
      s"graft catalog namespaces are single-level, got " +
        namespace.mkString("[", ".", "]"))
    namespace(0)
  }

  // ---- namespaces ----

  override def listNamespaces(): Array[Array[String]] =
    svc.listNamespaces().map(Array(_)).toArray

  override def listNamespaces(parent: Array[String]): Array[Array[String]] =
    if (parent.isEmpty) listNamespaces()
    else if (svc.namespaceExists(ns1(parent))) Array.empty
    else throw new NoSuchNamespaceException(parent)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && svc.namespaceExists(namespace(0))

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map("location" -> s"$warehouse/${namespace(0)}").asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit =
    try svc.createNamespace(ns1(namespace))
    catch { case _: IllegalStateException =>
      throw new NamespaceAlreadyExistsException(namespace)
    }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    throw new UnsupportedOperationException(
      "graft namespaces carry no mutable metadata")
  }

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    val ns = ns1(namespace)
    if (cascade) svc.dropNamespaceCascade(ns)
    else {
      if (svc.listTables(ns).nonEmpty || svc.listViews(ns).nonEmpty)
        throw NonEmptyNamespaceException(namespace, "namespace has tables or views",
          None)
      svc.dropNamespace(ns)
    }
    true
  }

  // ---- tables ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    svc.listTables(ns1(namespace)).map(Identifier.of(namespace, _)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace.length == 1 &&
      svc.namespaceExists(ident.namespace()(0)) &&
      svc.tableExists(ident.namespace()(0), ident.name)

  private def identString(ident: Identifier): String =
    (Seq(catalogName) ++ ident.namespace() :+ ident.name()).mkString(".")

  override def loadTable(ident: Identifier): Table = {
    if (tableExists(ident)) {
      val dir = svc.loadTable(ns1(ident.namespace()), ident.name()).tableDir
      GraftCatalogTable(dir, identString(ident))
    } else metadataTableFor(ident).getOrElse(throw new NoSuchTableException(ident))
  }

  /** `cat.ns.t.snapshots` and friends: Spark resolves a four-part name as
    * `Identifier(["ns","t"], "snapshots")` — when the inner two-part name
    * is a real table and the trailing part a known inspection suffix, serve
    * that metadata frame as a read-only table (the Iceberg metadata-table
    * convention). An actual table named like a suffix always wins — this
    * path only runs when `tableExists` said no.
    */
  private def metadataTableFor(ident: Identifier): Option[Table] =
    if (ident.namespace.length != 2) None
    else {
      val inner = Identifier.of(Array(ident.namespace()(0)), ident.namespace()(1))
      val frame = GraftCatalog.MetaFrames.get(ident.name().toLowerCase)
      if (frame.isEmpty || !tableExists(inner)) None
      else {
        val dir = svc.loadTable(ns1(inner.namespace()), inner.name()).tableDir
        Some(new GraftMetadataTable(dir, identString(ident), frame.get))
      }
    }

  /** `VERSION AS OF <snapshot-id | 'tag'>` through three-part SQL names
    * (same precedence as the engine's travel rewrite: digits = snapshot id,
    * then tag names; branch reads stay on the table API — a branch's file
    * set is not a main-line snapshot pin).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = svc.loadTable(ns1(ident.namespace()), ident.name()).tableDir
    val t = GraftTable.load(spark, dir)
    val id =
      if (version.nonEmpty && version.forall(_.isDigit)) version.toLong
      else t.tags.getOrElse(version, throw new IllegalArgumentException(
        s"graft VERSION AS OF '$version': not a snapshot id or tag of ${ident.name}"))
    GraftCatalogTable(dir, identString(ident), pinnedSnapshot = Some(id))
  }

  /** `TIMESTAMP AS OF` — Spark hands epoch MICROseconds. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = svc.loadTable(ns1(ident.namespace()), ident.name()).tableDir
    GraftCatalogTable(dir, identString(ident),
      pinnedTimestamp = Some(timestampMicros / 1000L))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    val ns = ns1(ident.namespace())
    if (!svc.namespaceExists(ns)) throw new NoSuchNamespaceException(ident.namespace())
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val t = GraftCatalog.create(spark, svc, ns, ident.name(), schema, partitions.toSeq,
      properties.asScala.toMap)
    GraftCatalogTable(t.tableDir, identString(ident))
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    GraftCatalog.alter(svc.loadTable(ns1(ident.namespace()), ident.name()), changes,
      ident.name)
    loadTable(ident)
  }

  // ---- atomic CTAS / RTAS (StagingTableCatalog) ----
  //
  // CREATE TABLE AS SELECT / REPLACE TABLE AS SELECT /
  // writeTo().create()/replace()/createOrReplace() stage the new table as a
  // REAL graft table under `<warehouse>/_staging/<uuid>` (invisible to
  // listNamespaces — underscore prefix), write into it through the same
  // native DSv2 batch write as any other table, and only on write success
  // swap it into place with filesystem renames. A mid-write failure aborts
  // to a staging delete: the target name never holds a partial table, and a
  // REPLACE target stays fully readable until the instant of the swap.

  private def stagingModeFor(ident: Identifier, mustExist: Boolean,
      mustNotExist: Boolean): Unit = {
    val ns = ns1(ident.namespace())
    if (!svc.namespaceExists(ns)) throw new NoSuchNamespaceException(ident.namespace())
    if (mustNotExist && tableExists(ident)) throw new TableAlreadyExistsException(ident)
    if (mustExist && !tableExists(ident)) throw new NoSuchTableException(ident)
  }

  private def stage(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String],
      mode: GraftStagedTable.Mode): StagedTable = {
    require(!properties.containsKey(TableCatalog.PROP_LOCATION),
      s"graft staged CREATE/REPLACE does not take LOCATION (stage-and-swap " +
        s"owns the table path); use plain CREATE TABLE ... LOCATION instead")
    val stagingDir = s"$warehouse/_staging/${java.util.UUID.randomUUID()}"
    val (partCols, props) = GraftCatalog.layout(partitions.toSeq, properties.asScala.toMap)
    GraftTable.create(spark, stagingDir, schema, partCols, props)
    new GraftStagedTable(this, stagingDir, warehouse, ident,
      identString(ident), mode)
  }

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): StagedTable = {
    stagingModeFor(ident, mustExist = false, mustNotExist = true)
    stage(ident, schema, partitions, properties, GraftStagedTable.Create)
  }

  override def stageCreate(ident: Identifier, columns: Array[V2Column],
      partitions: Array[Transform], properties: JMap[String, String]): StagedTable =
    stageCreate(ident, GraftCatalog.columnsToStructType(columns),
      partitions, properties)

  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable =
    stageCreate(ident, info.schema(), info.partitions(), info.properties())

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): StagedTable = {
    stagingModeFor(ident, mustExist = true, mustNotExist = false)
    stage(ident, schema, partitions, properties, GraftStagedTable.Replace)
  }

  override def stageReplace(ident: Identifier, columns: Array[V2Column],
      partitions: Array[Transform], properties: JMap[String, String]): StagedTable =
    stageReplace(ident, GraftCatalog.columnsToStructType(columns),
      partitions, properties)

  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable =
    stageReplace(ident, info.schema(), info.partitions(), info.properties())

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): StagedTable = {
    stagingModeFor(ident, mustExist = false, mustNotExist = false)
    stage(ident, schema, partitions, properties, GraftStagedTable.CreateOrReplace)
  }

  override def stageCreateOrReplace(ident: Identifier, columns: Array[V2Column],
      partitions: Array[Transform], properties: JMap[String, String]): StagedTable =
    stageCreateOrReplace(ident, GraftCatalog.columnsToStructType(columns),
      partitions, properties)

  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable =
    stageCreateOrReplace(ident, info.schema(), info.partitions(), info.properties())

  override def dropTable(ident: Identifier): Boolean =
    if (!tableExists(ident)) false
    else { svc.dropTable(ns1(ident.namespace()), ident.name()); true }

  override def purgeTable(ident: Identifier): Boolean = dropTable(ident)

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val newNs = ns1(newIdent.namespace())
    if (!svc.namespaceExists(newNs))
      throw new NoSuchNamespaceException(newIdent.namespace())
    // through the Hadoop filesystem of the warehouse path (NOT java.nio):
    // a non-local fs.defaultFS or a `file:`-scheme warehouse must rename
    // exactly like every other table/catalog operation reaches storage
    val from = new org.apache.hadoop.fs.Path(warehouse,
      s"${ns1(oldIdent.namespace())}/${oldIdent.name()}")
    val to = new org.apache.hadoop.fs.Path(warehouse, s"$newNs/${newIdent.name()}")
    val fs = from.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.rename(from, to))
      throw new IllegalStateException(
        s"RENAME ${identString(oldIdent)} -> ${identString(newIdent)}: " +
          s"filesystem rename($from, $to) returned false")
  }
}

/** A read-only inspection table (`cat.ns.t.snapshots` etc.): the frame is
  * O(files)/O(snapshots) driver-side metadata — no data file is opened — so
  * it serves through a [[org.apache.spark.sql.connector.read.LocalScan]]
  * (Spark plans a LocalTableScan; no tasks launch), the same materialization
  * cost the frames already have everywhere else they're used.
  */
private[sources] class GraftMetadataTable(dir: String, identName: String,
    frame: GraftTable => DataFrame) extends Table with SupportsRead {
  private def df: DataFrame = frame(GraftTable.load(SparkSession.active, dir))
  override def name(): String = identName
  override def schema(): StructType = df.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.LocalScan {
          private val snap = df
          override def readSchema(): StructType = snap.schema
          override def rows(): Array[InternalRow] =
            snap.queryExecution.executedPlan.executeCollect().map(_.copy())
          override def description(): String = s"GraftMetadataScan($identName)"
        }
    }
}

object GraftCatalog {

  /** Column comments persist as `comment.<column>` table properties (the
    * snapshot schema JSON is physical layout, not annotation), so they
    * survive catalog restarts and round-trip through SHOW TBLPROPERTIES;
    * `GraftCatalogTable.schemaFor` re-attaches them as StructField metadata
    * so DESCRIBE shows them too.
    */
  val ColumnCommentPrefix = "comment."

  /** DSv2 `Column[]` → `StructType` for the staged-create faces (Spark's
    * own CatalogV2Util equivalent is private[sql]). Comments become field
    * comments; defaults are refused like everywhere else they're unsupported.
    */
  private[sources] def columnsToStructType(columns: Array[V2Column]): StructType =
    StructType(columns.map { c =>
      val f = org.apache.spark.sql.types.StructField(
        c.name(), c.dataType(), c.nullable())
      Option(c.comment()).map(f.withComment).getOrElse(f)
    })

  /** The inspection suffixes `loadTable` resolves for `cat.ns.t.<suffix>`,
    * and the SQL engine for `<view>.<suffix>` / `ns.t.<suffix>`.
    */
  private[graft] val MetaFrames: Map[String, GraftTable => DataFrame] = Map(
    "snapshots" -> (_.snapshots()),
    "files" -> (_.files()),
    "delete_files" -> (_.deleteFiles()),
    "partitions" -> (_.partitions()),
    "refs" -> (_.refs()),
    "history" -> (_.history()),
    "all_files" -> (_.allFiles()),
    "properties" -> (_.propertiesTable()),
    "column_stats" -> (_.columnStatsTable()),
    "metadata_log_entries" -> (_.metadataLogTable()))

  /** CREATE TABLE for both SQL routes (this catalog, and the SQL engine's
    * pre-router): the partitioning and properties map through [[layout]];
    * with a `location` property the table lives at that external path and
    * the catalog holds a pointer registration (the register_table shape).
    */
  private[graft] def create(spark: SparkSession, svc: CatalogService, ns: String,
      name: String, schema: StructType, partitioning: Seq[Transform],
      properties: Map[String, String]): GraftTable = {
    val (partCols, props) = layout(partitioning, properties)
    properties.get(TableCatalog.PROP_LOCATION) match {
      case Some(location) =>
        val created = GraftTable.create(spark, location, schema, partCols, props)
        svc.registerTable(ns, name, created.tableDir)
      case None =>
        val created = svc.createTable(ns, name, schema, partCols)
        if (props.nonEmpty) created.setProperties(props.map { case (k, v) => k -> Some(v) })
        created
    }
  }

  /** Map Spark's `Transform[]` partitioning and a create request's
    * properties onto the table layout. Identity transforms are partition
    * columns as-is; time/bucket/truncate transforms derive a partition
    * column (named `src_<fn>`) recorded in the `write.partition-transforms`
    * property, the encoding the table API uses. Properties Spark itself
    * attaches to the request (provider, owner, location, parser-surfaced
    * options) are not table content.
    */
  private def layout(partitioning: Seq[Transform],
      properties: Map[String, String]): (Seq[String], Map[String, String]) = {
    var partCols = Vector.empty[String]
    var transforms = Vector.empty[String]
    partitioning.foreach { tr =>
      val src = tr.references.headOption.map(_.fieldNames.mkString("."))
        .getOrElse(throw new UnsupportedOperationException(
          s"partition transform ${tr.describe}"))
      // the numeric argument of bucket(N, col) / truncate(col, N), either
      // argument order, via the public v2 Literal interface
      def numArg: Int = tr.arguments.collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value.toString.toInt
      }.getOrElse(throw new UnsupportedOperationException(
        s"${tr.name} transform without a numeric argument"))
      tr.name match {
        case "identity" => partCols :+= src
        case fn @ ("days" | "hours" | "months" | "years") =>
          val pc = s"${src}_${fn.stripSuffix("s")}"
          partCols :+= pc
          transforms :+= s"$fn($src)=$pc"
        case fn @ ("bucket" | "truncate") =>
          val pc = s"${src}_${if (fn == "bucket") "bucket" else "trunc"}"
          partCols :+= pc
          transforms :+= s"$fn($numArg,$src)=$pc"
        case other => throw new UnsupportedOperationException(
          s"partition transform $other($src)")
      }
    }
    val reserved = Set(TableCatalog.PROP_PROVIDER, TableCatalog.PROP_OWNER,
      TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_IS_MANAGED_LOCATION, TableCatalog.PROP_TABLE_TYPE)
    val props = properties.filterNot { case (k, _) =>
      reserved.contains(k) || k.startsWith(TableCatalog.OPTION_PREFIX)
    } ++ (if (transforms.isEmpty) None
      else Some(GraftTable.PartitionTransformsProp -> transforms.mkString(";")))
    (partCols, props)
  }

  /** ALTER TABLE for both SQL routes: Spark's `TableChange`s applied to `t`
    * in order, top-level columns only. Column and table comments and
    * properties commit together, after the schema changes. What the table
    * format cannot honor refuses loudly: column positions (FIRST / AFTER),
    * NOT NULL, defaults changed after the fact, a new LOCATION.
    */
  private[graft] def alter(t: GraftTable, changes: Seq[TableChange], tableName: String): Unit = {
    def refuse(what: String): Nothing = throw new UnsupportedOperationException(
      s"ALTER TABLE $tableName: $what is not supported by the table layer")
    def top(fieldNames: Array[String]): String = {
      if (fieldNames.length != 1) refuse(s"nested column ${fieldNames.mkString(".")}")
      fieldNames(0)
    }
    def commentKey(fieldNames: Array[String]): String = {
      val cn = top(fieldNames)
      require(t.schema.fieldNames.contains(cn), s"no column $cn in $tableName")
      s"$ColumnCommentPrefix$cn"
    }
    var props = Map.empty[String, Option[String]]
    changes.foreach {
      case sp: TableChange.SetProperty if sp.property == TableCatalog.PROP_LOCATION =>
        refuse("SET LOCATION")
      case sp: TableChange.SetProperty => props += sp.property -> Some(sp.value)
      case rp: TableChange.RemoveProperty => props += rp.property -> None
      case ac: TableChange.AddColumn =>
        if (ac.position != null) refuse(s"ADD COLUMN ... ${ac.position}")
        // DEFAULT NULL replays like no default
        val default = Option(ac.defaultValue).flatMap(d => Option(d.getValue))
          .flatMap(l => Option(l.value)).map(_.toString)
        t.addColumn(top(ac.fieldNames), ac.dataType.sql, default)
        Option(ac.comment).foreach(c => props += commentKey(ac.fieldNames) -> Some(c))
      case rc: TableChange.RenameColumn =>
        t.renameColumn(top(rc.fieldNames), rc.newName)
      case ut: TableChange.UpdateColumnType =>
        t.widenColumn(top(ut.fieldNames), ut.newDataType.sql)
      case dc: TableChange.DeleteColumn =>
        val name = top(dc.fieldNames)
        if (t.schema.fieldNames.contains(name)) t.dropColumn(name)
        else if (dc.ifExists == null || !dc.ifExists.booleanValue())
          throw new IllegalArgumentException(s"no column $name in $tableName")
      case un: TableChange.UpdateColumnNullability =>
        // every graft column is nullable: DROP NOT NULL is already
        // satisfied; SET NOT NULL cannot be enforced by the format
        if (!un.nullable()) throw new UnsupportedOperationException(
          s"graft ALTER TABLE: NOT NULL is not enforced by the table " +
            s"format; cannot alter ${top(un.fieldNames)} on $tableName")
      case uc: TableChange.UpdateColumnComment =>
        // durable as a table property: round-trips through SHOW
        // TBLPROPERTIES and DESCRIBE on both routes
        props += commentKey(uc.fieldNames) -> Option(uc.newComment).filter(_.nonEmpty)
      case other => refuse(other.getClass.getSimpleName)
    }
    if (props.nonEmpty) t.setProperties(props)
  }

  /** Inverse of [[layout]]'s partitioning for `Table.partitioning()`: rebuild the
    * Transform[] from the snapshot's partition columns + recorded transform
    * property (derived columns report their transform over the SOURCE
    * column; plain partition columns report identity).
    */
  private[sources] def reportPartitioning(partitionCols: Seq[String],
      props: Map[String, String]): Array[Transform] = {
    val byPc = GraftTable.parseTransforms(props).map(td => td.pc -> td).toMap
    partitionCols.map { pc =>
      byPc.get(pc) match {
        case Some(td) => td.fn match {
          case "days" => Expressions.days(td.src)
          case "hours" => Expressions.hours(td.src)
          case "months" => Expressions.months(td.src)
          case "years" => Expressions.years(td.src)
          case "bucket" => Expressions.bucket(td.arg.getOrElse(0), td.src)
          case "truncate" => Expressions.apply("truncate",
            Expressions.literal(td.arg.getOrElse(0)), Expressions.column(td.src))
          case _ => Expressions.identity(pc)
        }
        case None => Expressions.identity(pc)
      }
    }.toArray
  }

  /** v1 data-source Filter → Column, for `SupportsDelete.deleteWhere` and
    * filter-overwrite. Total translation or None — a partially translated
    * predicate would delete the wrong rows.
    */
  private[sources] def filterToColumn(f: SFilter): Option[Column] = f match {
    case SEqualTo(a, v) => Some(col(a) === lit(v))
    case SEqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case SGt(a, v) => Some(col(a) > lit(v))
    case SGte(a, v) => Some(col(a) >= lit(v))
    case SLt(a, v) => Some(col(a) < lit(v))
    case SLte(a, v) => Some(col(a) <= lit(v))
    case SIn(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case SIsNull(a) => Some(col(a).isNull)
    case SIsNotNull(a) => Some(col(a).isNotNull)
    case SStartsWith(a, v) => Some(col(a).startsWith(v))
    case SEndsWith(a, v) => Some(col(a).endsWith(v))
    case SContains(a, v) => Some(col(a).contains(v))
    case SAnd(l, r) => for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
    case SOr(l, r) => for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
    case SNot(c) => filterToColumn(c).map(!_)
    case _: AlwaysTrue => Some(lit(true))
    case _ => None
  }

  private[sources] def filtersToColumn(filters: Array[SFilter]): Option[Column] =
    if (filters.isEmpty) Some(lit(true))
    else filters.toSeq.traverseFilters.map(_.reduce(_ && _))

  private implicit class TraverseOps(filters: Seq[SFilter]) {
    def traverseFilters: Option[Seq[Column]] = {
      val cols = filters.map(filterToColumn)
      if (cols.forall(_.isDefined)) Some(cols.map(_.get)) else None
    }
  }
}

/** A catalog-resolved graft table: the connector table
  * ([[GraftStreamTable]]: scans with the full pushdown surface, streaming
  * read/write) plus the catalog-only faces — partitioning/properties
  * reporting, the native DSv2 batch write ([[GraftWrite]]: tasks write every
  * file once, at its final name, before the driver's one commit; every
  * column type), metadata-delete (`SupportsDelete`), and group-based
  * copy-on-write row-level operations (`SupportsRowLevelOperations` — SQL
  * UPDATE/MERGE/DELETE).
  */
private[sources] case class GraftCatalogTable(dir: String, identName: String,
    pinnedSnapshot: Option[Long] = None, pinnedTimestamp: Option[Long] = None)
    extends GraftStreamTable(dir, GraftCatalogTable.schemaFor(dir,
      pinnedSnapshot, pinnedTimestamp))
    with SupportsRowLevelOperations with SupportsDelete {

  private def pinned = pinnedSnapshot.isDefined || pinnedTimestamp.isDefined

  override def name(): String = identName

  override def partitioning(): Array[Transform] = {
    val t = GraftTable.load(SparkSession.active, dir)
    GraftCatalog.reportPartitioning(t.latest.partitionCols, t.properties)
  }

  override def properties(): JMap[String, String] = {
    val t = GraftTable.load(SparkSession.active, dir)
    (t.properties + (TableCatalog.PROP_PROVIDER -> "graft")).asJava
  }

  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = java.util.EnumSet.copyOf(super.capabilities())
    caps.add(TableCapability.BATCH_WRITE)
    caps.add(TableCapability.OVERWRITE_BY_FILTER)
    caps
  }

  /** Time-travel pinning rides the same scan options as the path-based
    * connector (`snapshot-id` / `as-of-timestamp`).
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    if (!pinned) super.newScanBuilder(options)
    else {
      val merged = new java.util.HashMap[String, String](options)
      pinnedSnapshot.foreach(id => merged.put("snapshot-id", id.toString))
      pinnedTimestamp.foreach(ts => merged.put("as-of-timestamp", ts.toString))
      super.newScanBuilder(new CaseInsensitiveStringMap(merged))
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!pinned, s"cannot write into a time-travel read of $identName")
    new GraftWriteBuilder(dir, info, viaCatalog = true)
  }

  // ---- metadata delete (Spark's fast path for translatable DELETE) ----

  override def canDeleteWhere(filters: Array[SFilter]): Boolean =
    GraftCatalog.filtersToColumn(filters).isDefined

  override def deleteWhere(filters: Array[SFilter]): Unit = {
    val pred = GraftCatalog.filtersToColumn(filters).getOrElse(
      throw new UnsupportedOperationException(
        s"graft DELETE: untranslatable filters ${filters.mkString(", ")}"))
    val t = GraftTable.load(SparkSession.active, dir)
    // honors write.delete.mode=merge-on-read (a delete vector) exactly like
    // the pre-router's DELETE route
    graft.dml.Dml.deleteAuto(t, pred)
  }

  // ---- group-based copy-on-write row-level operations ----

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation = new GraftCowOperation(dir, info)
    }
}

private[sources] object GraftCatalogTable {
  private[sources] def schemaFor(dir: String, pinnedSnapshot: Option[Long],
      pinnedTimestamp: Option[Long]): StructType = {
    val snaps = GraftStreamSource.loadLog(dir)
    require(snaps.nonEmpty, s"no graft table at $dir")
    val snap = GraftStreamSource.resolveSnapshot(snaps, dir,
      pinnedSnapshot, pinnedTimestamp).get
    val st = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    // re-attach persisted column comments (comment.<col> properties) so
    // DESCRIBE through the catalog shows what ALTER COLUMN ... COMMENT set
    val comments = GraftTable.load(SparkSession.active, dir).properties
      .collect { case (k, v) if k.startsWith(GraftCatalog.ColumnCommentPrefix) =>
        k.stripPrefix(GraftCatalog.ColumnCommentPrefix) -> v
      }
    if (comments.isEmpty) st
    else StructType(st.fields.map(f =>
      comments.get(f.name).map(f.withComment).getOrElse(f)))
  }
}

/** Group-based copy-on-write row-level operation (the Iceberg
  * SparkCopyOnWriteOperation shape): Spark rewrites UPDATE/DELETE/MERGE
  * into a `ReplaceData` plan over this operation's scan; the scan records
  * exactly which files survived static filter pruning (the "groups"), the
  * rewrite query produces those files' full replacement rows, and the write
  * commits the written replacement files with `keep = everything not scanned` against
  * the snapshot the scan planned — a concurrent commit in between aborts the
  * DML (serializable), never silently drops it.
  *
  * At 100 TB the decisive property is the same as the engine's own COW DML:
  * only files the (pushed-down) condition cannot rule out are rewritten;
  * runtime group filtering is deliberately NOT offered (the scan's
  * `filterAttributes` is empty) so the planned-file set is decided once, at
  * planning, and the scan↔write handshake cannot race a second planning
  * pass.
  */
private[sources] class GraftCowOperation(dir: String, info: RowLevelOperationInfo)
    extends RowLevelOperation {

  /** Set by the scan's `planInputPartitions`; read by the write's commit. */
  @volatile private[sources] var planned: Option[(Snapshot, Seq[FileEntry])] = None

  override def command(): RowLevelOperation.Command = info.command()

  /** `_file` is required so Spark takes the metadata-projection write path
    * (`DataAndMetadataWritingSparkTask`): the rewrite query's synthetic
    * columns (`__row_operation`) are projected AWAY before rows reach the
    * data writer — without a metadata attribute Spark hands the writer the
    * raw query row, synthetic columns included.
    */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column(GraftStreamSource.FileMetaCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
        with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
      private val full = GraftCatalogTable.schemaFor(dir, None, None)
      private var required: StructType = full
      private var pushed: Array[SFilter] = Array.empty
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = StructType(full.fields.filter(f =>
          requiredSchema.fieldNames.contains(f.name)) ++
          requiredSchema.fields.filter(_.name == GraftStreamSource.FileMetaCol))
      override def pushFilters(filters: Array[SFilter]): Array[SFilter] = {
        pushed = GraftStreamSource.plannable(filters)
        filters // all residual: file pruning only — the rewrite plan needs
                // every row of every scanned file
      }
      override def pushedFilters(): Array[SFilter] = pushed
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new GraftScan(dir, full, required, None, pushed,
            onPlanned = Some((snap, files) => planned = Some((snap, files)))) {
          // no runtime filtering: the planned-file set must be decided in
          // exactly one planning pass (see class doc)
          override def filterAttributes(): Array[
            org.apache.spark.sql.connector.expressions.NamedReference] = Array.empty
        }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new GraftWrite(dir, info.schema(), viaCatalog = true,
        GraftWrite.Replace(() => planned, command().toString.toLowerCase))
    }

  override def description(): String = s"GraftCowOperation($dir, ${command()})"
}

/** A staged table for atomic CTAS/RTAS: a REAL graft table living under
  * `<warehouse>/_staging/<uuid>` that Spark writes into through the normal
  * native batch write; `commitStagedChanges` swaps it to the target name
  * with filesystem renames (REPLACE parks the old table in a trash path
  * first and restores it if the swap fails); `abortStagedChanges` deletes
  * the staging directory. The target name never holds a partial table —
  * snapshot-log file paths are table-relative, so the rename carries the
  * whole table intact (same invariant RENAME TABLE relies on).
  */
private[sources] class GraftStagedTable(catalog: GraftCatalog,
    stagingDir: String, warehouse: String, ident: Identifier,
    identName: String, mode: GraftStagedTable.Mode)
    extends Table with org.apache.spark.sql.connector.catalog.SupportsWrite
    with StagedTable {

  private val inner = GraftCatalogTable(stagingDir, identName)

  override def name(): String = identName
  override def schema(): StructType = inner.schema()
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def properties(): JMap[String, String] = inner.properties()
  override def capabilities(): java.util.Set[TableCapability] = inner.capabilities()
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    inner.newWriteBuilder(info)

  private def fs = new org.apache.hadoop.fs.Path(warehouse)
    .getFileSystem(SparkSession.active.sessionState.newHadoopConf())
  private def stagingPath = new org.apache.hadoop.fs.Path(stagingDir)
  private def renameOrThrow(from: org.apache.hadoop.fs.Path,
      to: org.apache.hadoop.fs.Path): Unit =
    if (!fs.rename(from, to)) throw new IllegalStateException(
      s"staged commit of $identName: rename($from, $to) returned false")

  override def commitStagedChanges(): Unit = {
    val dst = new org.apache.hadoop.fs.Path(warehouse,
      s"${ident.namespace()(0)}/${ident.name()}")
    mode match {
      case GraftStagedTable.Create =>
        if (fs.exists(dst)) {
          abortStagedChanges()
          throw new TableAlreadyExistsException(ident)
        }
        renameOrThrow(stagingPath, dst)
      case GraftStagedTable.Replace | GraftStagedTable.CreateOrReplace =>
        val existed = fs.exists(dst)
        if (mode == GraftStagedTable.Replace && !existed) {
          abortStagedChanges()
          throw new NoSuchTableException(ident)
        }
        val trash = new org.apache.hadoop.fs.Path(warehouse,
          s"_staging/trash-${java.util.UUID.randomUUID()}")
        if (existed) renameOrThrow(dst, trash)
        try renameOrThrow(stagingPath, dst)
        catch { case e: Throwable =>
          // restore the parked original so a failed swap loses nothing
          if (existed) fs.rename(trash, dst)
          throw e
        }
        if (existed) fs.delete(trash, true)
    }
  }

  override def abortStagedChanges(): Unit = {
    // Spark kills a failed write job's other tasks asynchronously, and one
    // still opening its output file recreates directories under the
    // staging path after a delete: sweep until the path stays gone for a
    // quiet period (bounded, so an abort never hangs).
    val start = System.currentTimeMillis()
    var quietSince = start
    while (System.currentTimeMillis() - quietSince < 500L &&
        System.currentTimeMillis() - start < 10000L) {
      if (scala.util.Try(fs.exists(stagingPath)).getOrElse(false)) {
        scala.util.Try(fs.delete(stagingPath, true))
        quietSince = System.currentTimeMillis()
      }
      Thread.sleep(20)
    }
  }
}

private[sources] object GraftStagedTable {
  sealed trait Mode
  case object Create extends Mode
  case object Replace extends Mode
  case object CreateOrReplace extends Mode
}
