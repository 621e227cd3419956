package graft.plan

import org.apache.spark.sql.functions._

import graft.{SparkProbe, SparkSpec}
import graft.table.GraftTable

/** SQL reads prune at the scan (`SnapshotFileIndex`): a predicate in a plain
  * SQL statement shrinks each scan's file list through the snapshot planner,
  * whatever the statement's shape, without ever changing results; a
  * predicate the planner cannot decide reads every file.
  */
class PrunedSqlEngineSpec extends SparkSpec {

  private def kvTable(prefix: String): GraftTable = {
    import spark.implicits._
    val dir = scratchDir(prefix)
    val base = (0L until 40L).map(k => (k, s"v$k")).toDF("k", "v")
    val t = GraftTable.create(spark, dir, base.schema)
    (0 until 4).foreach(i =>
      t.append(base.filter(col("k") >= i * 10 && col("k") < (i + 1) * 10).coalesce(1)))
    t
  }

  /** `sql` through `eng`: its rows, and (files read, files in the snapshot)
    * summed over its scans of `t`. */
  private def probe(eng: SparkSqlEngine, t: GraftTable, sql: String)
      : (Seq[Map[String, Any]], (Long, Long)) = {
    val (res, o) = SparkProbe.observe(spark)(eng.execute(sql))
    (res.rows, SparkProbe.tableFiles(t, o))
  }

  test("a SQL range predicate prunes files and returns exact rows") {
    val t = kvTable("sqlprune-")
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("kv_sql", t)
    val res = eng.execute("SELECT k FROM kv_sql WHERE k >= 12 AND k <= 27 ORDER BY k")
    assert(res.rows.map(_("k").asInstanceOf[Long]) === (12L to 27L))
    assert(eng.lastPrune("kv_sql") === ((2, 4)))
  }

  test("BETWEEN and flipped literal-first comparisons prune too") {
    val t = kvTable("sqlprune-between-")
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("kv_between", t)
    val r1 = eng.execute("SELECT COUNT(*) AS n FROM kv_between WHERE k BETWEEN 31 AND 35")
    assert(r1.rows.head("n") === 5L)
    assert(eng.lastPrune("kv_between") === ((1, 4)))
    val r2 = eng.execute("SELECT COUNT(*) AS n FROM kv_between WHERE 31 <= k AND 35 >= k")
    assert(r2.rows.head("n") === 5L)
    assert(eng.lastPrune("kv_between") === ((1, 4)))
  }

  test("an unfiltered follow-up statement sees the full table again") {
    val t = kvTable("sqlprune-reset-")
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("kv_reset", t)
    eng.execute("SELECT k FROM kv_reset WHERE k >= 35")
    assert(eng.lastPrune("kv_reset") === ((1, 4)))
    val all = eng.execute("SELECT COUNT(*) AS n FROM kv_reset")
    assert(all.rows.head("n") === 40L, "a filtered read narrowed a later unfiltered one")
  }

  test("equality predicates prune to the single containing file") {
    val t = kvTable("sqlprune-eq-")
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("kv_eq", t)
    val res = eng.execute("SELECT v FROM kv_eq WHERE k = 23")
    assert(res.rows.map(_("v")) === Seq("v23"))
    assert(eng.lastPrune("kv_eq") === ((1, 4)))
  }

  test("a join prunes its filtered side; an expression predicate reads every file") {
    val t = kvTable("sqlprune-join-")
    val dim = kvTable("sqlprune-join-dim-")
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("kv_a", t)
    eng.registerGraftTable("kv_b", dim)
    val (rows, files) = probe(eng, t,
      "SELECT a.k, b.v FROM kv_a a JOIN kv_b b ON a.k = b.k WHERE a.k >= 35 ORDER BY a.k")
    assert(rows.map(r => (r("k"), r("v"))) === (35L to 39L).map(k => (k, s"v$k")))
    assert(files === ((1L, 4L)))
    assert(eng.lastPrune("kv_a") === ((1, 4)))
    // expression-over-column predicates are not recognized → every file, exact rows
    val (expr, all) = probe(eng, t, "SELECT COUNT(*) AS n FROM kv_a WHERE k + 1 >= 39")
    assert(expr.head("n") === 2L)
    assert(all === ((4L, 4L)))
  }

  test("a scalar subquery prunes its own scan and the outer one") {
    val t = kvTable("sqlprune-scalar-")
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("kv_sc", t)
    val (rows, files) = probe(eng, t, "SELECT k FROM kv_sc WHERE k >= 35 AND " +
      "v > (SELECT MIN(v) FROM kv_sc WHERE k < 10) ORDER BY k")
    assert(rows.map(_("k")) === (35L to 39L))
    assert(files === ((2L, 8L)))
  }

  test("a VERSION AS OF read prunes the snapshot it travels to") {
    import spark.implicits._
    val t = kvTable("sqlprune-travel-")
    val v = t.latest.snapshotId
    t.append(Seq((100L, "v100")).toDF("k", "v").coalesce(1))
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("kv_tt", t)
    val (rows, files) =
      probe(eng, t, s"SELECT k FROM kv_tt VERSION AS OF $v WHERE k >= 35 ORDER BY k")
    assert(rows.map(_("k")) === (35L to 39L))
    assert(files === ((1L, 4L)))
  }

  test("an unregistered ns.t read prunes") {
    import spark.implicits._
    val cat = new graft.catalogsvc.CatalogService(spark, scratchDir("sqlprune-unreg-cat"))
    cat.createNamespace("ns")
    val t = cat.createTable("ns", "kv_unreg", Seq((0L, "")).toDF("k", "v").schema)
    (0 until 4).foreach(i =>
      t.append((i * 10L until (i + 1) * 10L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1)))
    val eng = new SparkSqlEngine(spark)
    eng.registerCatalog(cat)
    val (rows, files) = probe(eng, t, "SELECT k FROM ns.kv_unreg WHERE k < 3 ORDER BY k")
    assert(rows.map(_("k")) === Seq(0L, 1L, 2L))
    assert(files === ((1L, 4L)))
  }

  test("a read over an unchanged table head registers no temp view") {
    val t = kvTable("sqlprune-bound-")
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("kv_bound", t)
    def view = spark.sessionState.catalog.getRawTempView("kv_bound").get
    val bound = view
    assert(eng.execute("SELECT k FROM kv_bound WHERE k >= 35").rows.size === 5)
    assert(eng.lastPrune("kv_bound") === ((1, 4)))
    assert(eng.execute("SELECT COUNT(*) AS n FROM kv_bound WHERE k < 5").rows.head("n") === 5L)
    assert(view eq bound, "a read re-registered the view")
  }

  test("IN-list predicates prune per value, including bucket-transform pinning") {
    import spark.implicits._
    // bucket(8)-partitioned table: a SQL IN-list must keep only the listed
    // keys' hash buckets (the reference's lookup workload shape in SQL)
    val dir = scratchDir("sqlprune-inlist-")
    val base = (0L until 100L).map(k => (k, s"v$k")).toDF("k", "v")
    val t = GraftTable.create(spark, dir, base.schema,
      partitionCols = Seq("k_bucket"),
      properties = Map(graft.table.GraftTable.PartitionTransformsProp ->
        "bucket(8,k)=k_bucket"))
    t.append(base)
    assert(t.latest.files.size === 8)
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("kv_in", t)
    val res = eng.execute("SELECT k FROM kv_in WHERE k IN (3, 17, 42) ORDER BY k")
    assert(res.rows.map(_("k")) === Seq(3L, 17L, 42L))
    val (scanned, total) = eng.lastPrune("kv_in")
    assert(total === 8 && scanned <= 3,
      s"IN-list must pin to the listed keys' buckets, scanned $scanned of $total")
  }

  test("DML reads the full latest view, never a prior statement's pruned registration") {
    import spark.implicits._
    // a filtered read prunes at its own scan; an INSERT INTO ... SELECT
    // whose source is the same view must still read EVERY file, or it
    // silently commits a fraction of the rows
    val t = kvTable("sqlprune-dml-stale-")
    val dst = GraftTable.create(spark, scratchDir("sqlprune-dml-dst-"),
      Seq((0L, "x")).toDF("k", "v").schema)
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("kv_src", t)
    eng.registerGraftTable("kv_dst", dst)
    eng.execute("SELECT k FROM kv_src WHERE k >= 35") // reads 1 of 4 files
    assert(eng.lastPrune("kv_src") === ((1, 4)))
    eng.execute("INSERT INTO kv_dst SELECT * FROM kv_src")
    assert(dst.readLatest().count() === 40L,
      "INSERT read a fraction of its source view")
  }

  test("CTAS reads the full latest view, never a prior statement's pruned registration") {
    // tryDdl routes before any refresh: a filtered read before the CTAS
    // must not narrow what the CTAS source query reads
    val t = kvTable("sqlprune-ctas-stale-")
    val eng = new SparkSqlEngine(spark)
    val cat = new graft.catalogsvc.CatalogService(spark, scratchDir("sqlprune-ctas-cat"))
    eng.registerCatalog(cat)
    eng.execute("CREATE NAMESPACE ns")
    eng.registerGraftTable("kv_ctas_src", t)
    eng.execute("SELECT k FROM kv_ctas_src WHERE k >= 35") // reads 1 of 4 files
    assert(eng.lastPrune("kv_ctas_src") === ((1, 4)))
    eng.execute("CREATE TABLE ns.big AS SELECT * FROM kv_ctas_src")
    assert(cat.loadTable("ns", "big").readLatest().count() === 40L,
      "CTAS read a fraction of its source view")
  }

  test("a DML commit re-registers the view for out-of-band readers immediately") {
    import spark.implicits._
    val t = kvTable("sqlprune-dml-refresh-")
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("kv_ref2", t)
    eng.execute("DELETE FROM kv_ref2 WHERE k >= 30")
    // NOT routed through eng.execute: the temp view itself must already
    // point at the post-commit snapshot
    assert(spark.table("kv_ref2").count() === 30L)
  }

  test("the registered view tracks the table's latest snapshot across commits") {
    import spark.implicits._
    val t = kvTable("sqlprune-fresh-")
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("kv_fresh", t)
    assert(eng.execute("SELECT COUNT(*) AS n FROM kv_fresh").rows.head("n") === 40L)
    t.append(Seq((100L, "v100")).toDF("k", "v").coalesce(1))
    assert(eng.execute("SELECT COUNT(*) AS n FROM kv_fresh").rows.head("n") === 41L)
    val pruned = eng.execute("SELECT k FROM kv_fresh WHERE k >= 99")
    assert(pruned.rows.map(_("k")) === Seq(100L))
    assert(eng.lastPrune("kv_fresh") === ((1, 5)))
  }

  test("a view read more than once in one statement prunes each read on its own") {
    val t = kvTable("sqlprune-multi-")
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("kv_multi", t)
    // (n, files each scan of the table read, files in the snapshot summed)
    def run(sql: String): (Any, Seq[Long], Long) = {
      val (res, o) = SparkProbe.observe(spark)(eng.execute(sql))
      (res.rows.head("n"), SparkProbe.filesRead(SparkProbe.tableScans(t, o.scans)).sorted,
        SparkProbe.tableFiles(t, o)._2)
    }
    // each branch filters the one shared view its own way
    assert(run("SELECT COUNT(*) AS n FROM (SELECT k FROM kv_multi WHERE k >= 35 " +
      "UNION ALL SELECT k FROM kv_multi WHERE k < 5)") === ((10L, Seq(1L, 1L), 8L)))
    assert(eng.lastPrune("kv_multi") === ((2, 8)))
    assert(run("WITH lo AS (SELECT k FROM kv_multi WHERE k < 5) SELECT COUNT(*) AS n " +
      "FROM (SELECT k FROM kv_multi WHERE k >= 35 UNION ALL SELECT k FROM lo)") ===
      ((10L, Seq(1L, 1L), 8L)))
    // the unfiltered subquery reads every file, the filtered outer read one
    assert(run("SELECT COUNT(*) AS n FROM kv_multi WHERE k >= 35 AND " +
      "(SELECT COUNT(*) FROM kv_multi) = 40") === ((5L, Seq(1L, 4L), 8L)))
    assert(eng.lastPrune("kv_multi") === ((5, 8)))
    assert(run("SELECT COUNT(*) AS n FROM kv_multi WHERE k >= 35") === ((5L, Seq(1L), 4L)))
    assert(eng.lastPrune("kv_multi") === ((1, 4)))
  }

  test("a FLOAT column compared with a decimal literal keeps the files Spark matches") {
    import spark.implicits._
    // Spark compares `f < 0.7` as cast(f AS DOUBLE) < 0.7, and 0.7f widens
    // to 0.69999998 while its footer bound renders as "0.7"
    val dir = scratchDir("sqlprune-float-")
    val base = Seq(0.1f, 0.7f, 2.0f).toDF("f")
    val t = GraftTable.create(spark, dir, base.schema)
    Seq(0.1f, 0.7f, 2.0f).foreach(v => t.append(base.filter(col("f") === v).coalesce(1)))
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("fl", t)
    def fs(sql: String): Seq[Float] =
      eng.execute(sql).rows.map(_("f").asInstanceOf[Float]).sorted
    assert(fs("SELECT f FROM fl WHERE f < 0.7") === Seq(0.1f, 0.7f))
    assert(eng.lastPrune("fl") === ((2, 3)))
    assert(fs("SELECT f FROM fl WHERE f > 0.1") === Seq(0.1f, 0.7f, 2.0f))
    // a FLOAT-typed value compares in the column's own domain: strict holds
    assert(fs("SELECT f FROM fl WHERE f < CAST(0.7 AS FLOAT)") === Seq(0.1f))
    assert(eng.lastPrune("fl") === ((1, 3)))
  }

  test("a STRING column compared with a number prunes nothing, and stays exact") {
    import spark.implicits._
    // Spark compares `s > 5` as numbers, where '10' > 5; the string bounds
    // order "10" < "5", so a string-domain prune would drop matching files
    val dir = scratchDir("sqlprune-string-")
    val base = Seq("10", "20", "3").toDF("s")
    val t = GraftTable.create(spark, dir, base.schema)
    Seq("10", "20", "3").foreach(v => t.append(base.filter(col("s") === v).coalesce(1)))
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("st", t)
    def n(sql: String): Long = eng.execute(sql).rows.head("n").asInstanceOf[Long]
    assert(n("SELECT COUNT(*) AS n FROM st WHERE s > 5") === 2L)
    assert(eng.lastPrune("st") === ((3, 3)))
    assert(n("SELECT COUNT(*) AS n FROM st WHERE s IN (3, 20)") === 2L)
    assert(eng.lastPrune("st") === ((3, 3)))
    // a string literal still prunes in the column's own domain
    assert(n("SELECT COUNT(*) AS n FROM st WHERE s = '20'") === 1L)
    assert(eng.lastPrune("st") === ((1, 3)))
  }
}
