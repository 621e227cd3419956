package graft.catalogsvc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.table.GraftTable

/** S11 — in-process catalog service mirroring the reference's Polaris REST
  * surface semantics (`opencatalog/scripts/opencatalog_api_tester.py`:
  * namespace CRUD :643-736, view CRUD :794-847, metrics report :874-885),
  * minus the network: zero-egress environment, so entities live on the local
  * filesystem under a catalog root, tables are `GraftTable` directories, and
  * views are named SQL documents resolved at read time.
  *
  * Error semantics follow the REST tester's expectations: creating an
  * existing entity or dropping a missing one raises; drops are ordered
  * tables/views-before-namespace (`:1059-1068` cleanup reordering).
  */
class CatalogService(spark: SparkSession, rootUri: String) {
  private implicit val formats: Formats = DefaultFormats

  // a `file:`-scheme root is a local path: java.nio would read the scheme
  // as a relative directory named `file:` under the working directory
  private val rootDir =
    if (rootUri.startsWith("file:")) new org.apache.hadoop.fs.Path(rootUri).toUri.getPath
    else rootUri

  private def nsDir(ns: String) = {
    require(ns.matches("[A-Za-z0-9_]+"), s"unsafe namespace: $ns")
    Paths.get(rootDir, ns)
  }
  private def tableDir(ns: String, name: String) = {
    require(name.matches("[A-Za-z0-9_]+"), s"unsafe table name: $name")
    nsDir(ns).resolve(name)
  }
  private def viewsFile(ns: String) = nsDir(ns).resolve("_views.json")
  private def metricsFile = Paths.get(rootDir, "_metrics.jsonl")

  // --- namespaces ---

  def createNamespace(ns: String, ifNotExists: Boolean = false): Unit = {
    val dir = nsDir(ns)
    if (Files.exists(dir)) {
      if (!ifNotExists) throw new IllegalStateException(s"namespace exists: $ns")
    } else Files.createDirectories(dir)
  }

  def namespaceExists(ns: String): Boolean = Files.isDirectory(nsDir(ns))

  def listNamespaces(): Seq[String] = {
    val root = Paths.get(rootDir)
    if (!Files.isDirectory(root)) Nil
    else {
      import scala.jdk.CollectionConverters._
      Files.list(root).iterator().asScala
        .filter(Files.isDirectory(_)).map(_.getFileName.toString)
        .filterNot(_.startsWith("_")).toSeq.sorted
    }
  }

  def dropNamespace(ns: String): Unit = {
    if (!namespaceExists(ns)) throw new IllegalStateException(s"no such namespace: $ns")
    require(listTables(ns).isEmpty && listViews(ns).isEmpty,
      s"namespace not empty: $ns (drop tables and views first)")
    Files.deleteIfExists(viewsFile(ns))
    Files.delete(nsDir(ns))
  }

  // --- tables ---

  def createTable(ns: String, name: String, schema: StructType,
      partitionCols: Seq[String] = Nil): GraftTable = {
    require(namespaceExists(ns), s"no such namespace: $ns")
    // a pointer registration also occupies the name, even when its external
    // table has vanished — creating over it would shadow the registration
    if (tableExists(ns, name) || Files.exists(pointerFile(ns, name)))
      throw new IllegalStateException(s"table exists: $ns.$name")
    GraftTable.create(spark, tableDir(ns, name).toString, schema, partitionCols)
  }

  /** A registered table (`registerTable`) is a POINTER entry: the catalog
    * directory holds only `_pointer.json` naming the external table
    * location. Name resolution follows the pointer; everything downstream
    * (loads, DML, maintenance) operates on the external directory.
    */
  private def pointerFile(ns: String, name: String) =
    tableDir(ns, name).resolve("_pointer.json")

  private def resolvedDir(ns: String, name: String): String = {
    val ptr = pointerFile(ns, name)
    if (Files.exists(ptr)) {
      val doc: Map[String, String] = Serialization.read[Map[String, String]](
        new String(Files.readAllBytes(ptr), StandardCharsets.UTF_8))
      doc("location")
    } else tableDir(ns, name).toString
  }

  /** The Iceberg `register_table` procedure: attach an EXISTING table
    * directory to this catalog under `ns.name` — metadata-only (one pointer
    * doc written; the table's own snapshot log stays where it is, and stays
    * shared with whoever else reads that location). Dropping a registered
    * name removes the registration, never the external table.
    */
  def registerTable(ns: String, name: String, location: String): GraftTable = {
    require(namespaceExists(ns), s"no such namespace: $ns")
    if (tableExists(ns, name))
      throw new IllegalStateException(s"table exists: $ns.$name")
    // occupancy matches createTable's shadow-refusal: an existing pointer —
    // even one whose target died — still occupies the name; re-pointing
    // requires an explicit dropTable first, never a silent overwrite
    if (Files.exists(pointerFile(ns, name)))
      throw new IllegalStateException(
        s"register_table: $ns.$name is already a registration (its pointer " +
          "file exists); DROP TABLE it before registering a new location")
    require(GraftTable.exists(spark, location),
      s"register_table: no table at $location")
    Files.createDirectories(tableDir(ns, name))
    Files.write(pointerFile(ns, name),
      Serialization.write(Map("location" -> location))
        .getBytes(StandardCharsets.UTF_8))
    loadTable(ns, name)
  }

  def loadTable(ns: String, name: String): GraftTable =
    GraftTable.load(spark, resolvedDir(ns, name))

  def tableExists(ns: String, name: String): Boolean =
    GraftTable.exists(spark, resolvedDir(ns, name))

  def listTables(ns: String): Seq[String] = {
    val dir = nsDir(ns)
    if (!Files.isDirectory(dir)) Nil
    else {
      import scala.jdk.CollectionConverters._
      Files.list(dir).iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString)
        // a pointer registration is a catalog entry even when its external
        // table has vanished — hiding it would strand the dead registration
        // from lifecycle ops (cascade drop walks this listing)
        .filter(n => tableExists(ns, n) || Files.exists(pointerFile(ns, n)))
        .toSeq.sorted
    }
  }

  def dropTable(ns: String, name: String): Unit = {
    // a pointer registration is droppable even after its external table
    // vanished — otherwise the dead registration could never be cleared
    if (!tableExists(ns, name) && !Files.exists(pointerFile(ns, name)))
      throw new IllegalStateException(s"no such table: $ns.$name")
    def rm(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p)) {
        import scala.jdk.CollectionConverters._
        Files.list(p).iterator().asScala.toSeq.foreach(rm)
      }
      Files.delete(p)
    }
    rm(tableDir(ns, name))
  }

  // --- views (named SQL over registered temp views, replace-able) ---

  private def readViews(ns: String): Map[String, String] = {
    val f = viewsFile(ns)
    if (!Files.exists(f)) Map.empty
    else Serialization.read[Map[String, String]](
      new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
  }
  private def writeViews(ns: String, views: Map[String, String]): Unit =
    Files.write(viewsFile(ns), Serialization.write(views).getBytes(StandardCharsets.UTF_8))

  def createView(ns: String, name: String, sql: String): Unit = {
    require(namespaceExists(ns), s"no such namespace: $ns")
    val vs = readViews(ns)
    if (vs.contains(name)) throw new IllegalStateException(s"view exists: $ns.$name")
    writeViews(ns, vs + (name -> sql))
  }

  /** Replace-view (the REST tester's PUT replace, `:823-836`). */
  def replaceView(ns: String, name: String, sql: String): Unit = {
    val vs = readViews(ns)
    if (!vs.contains(name)) throw new IllegalStateException(s"no such view: $ns.$name")
    writeViews(ns, vs + (name -> sql))
  }

  def describeView(ns: String, name: String): String =
    readViews(ns).getOrElse(name, throw new IllegalStateException(s"no such view: $ns.$name"))

  def listViews(ns: String): Seq[String] = readViews(ns).keys.toSeq.sorted

  def dropView(ns: String, name: String): Unit = {
    val vs = readViews(ns)
    if (!vs.contains(name)) throw new IllegalStateException(s"no such view: $ns.$name")
    writeViews(ns, vs - name)
  }

  /** Resolve a view: register every table in the namespace as a temp view,
    * then run the stored SQL.
    */
  def readView(ns: String, name: String): DataFrame = {
    val sql = describeView(ns, name)
    listTables(ns).foreach(t => loadTable(ns, t).readLatest().createOrReplaceTempView(t))
    spark.sql(sql)
  }

  // --- metrics (the REST tester's table-metrics report, :874-885) ---

  def reportMetrics(ns: String, table: String, metrics: Map[String, Long]): Unit = {
    val line = Serialization.write(Map("namespace" -> ns, "table" -> table) ++
      metrics.map { case (k, v) => k -> v.toString })
    Files.createDirectories(metricsFile.getParent)
    Files.writeString(metricsFile, line + "\n",
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }

  def metricsCount: Long =
    if (!Files.exists(metricsFile)) 0L
    else Files.readAllLines(metricsFile).size.toLong

  /** Cleanup with the REST tester's ordering: tables and views drop before
    * their namespace (`:1059-1068`).
    */
  def dropNamespaceCascade(ns: String): Unit = {
    listViews(ns).foreach(dropView(ns, _))
    listTables(ns).foreach(dropTable(ns, _))
    dropNamespace(ns)
  }
}
