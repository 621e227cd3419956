package graft.plan

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

import graft.{SparkProbe, SparkSpec}
import graft.catalogsvc.CatalogService
import graft.table.GraftTable

/** A captured read returns exactly the rows `spark.sql(sql).limit(200)
  * .collect()` returns, in one Spark job where Spark's own collect of a
  * limit starts two; the engine parses each statement once and loads each
  * qualified catalog name once.
  */
class CaptureParitySpec extends SparkSpec {

  /** 8 files of 50 rows: file i holds the keys k with k % 8 == i, so every
    * file spans the whole key range and a point lookup reads all of them. */
  private lazy val wide: GraftTable = {
    import spark.implicits._
    val t = GraftTable.create(spark, scratchDir("capture-wide-"),
      Seq((0L, "")).toDF("k", "v").schema)
    (0 until 8).foreach(i =>
      t.append((0L until 400L).filter(_ % 8 == i).map(k => (k, s"v$k")).toDF("k", "v")
        .coalesce(1)))
    t
  }

  private def rowsOf(rs: Array[Row]): Seq[Map[String, Any]] =
    rs.toSeq.map(r => r.schema.fieldNames.zipWithIndex.map { case (f, i) => f -> r.get(i) }.toMap)

  private def engine(view: String): SparkSqlEngine = {
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable(view, wide)
    eng
  }

  /** The engine's rows for `sql`, which must equal Spark's own capture. */
  private def parity(eng: SparkSqlEngine, sql: String): Seq[Map[String, Any]] = {
    val got = eng.execute(sql).rows
    assert(got === rowsOf(spark.sql(sql).limit(200).collect()), sql)
    got
  }

  test("a selective lookup over several files is one Spark job with Spark's rows") {
    val eng = engine("cap_lookup")
    val sql = "SELECT * FROM cap_lookup WHERE k IN (3, 100, 301)"
    val (res, o) = SparkProbe.observe(spark)(eng.execute(sql))
    assert(res.rows.map(_("k")).toSet === Set(3L, 100L, 301L))
    assert(res.rows === rowsOf(spark.sql(sql).limit(200).collect()))
    assert(eng.lastPrune("cap_lookup") === ((8, 8)))
    assert(o.jobs === 1, "the capture started more than one job")
    // Spark's collect of the same limit scans one partition, comes back
    // short and starts a second job: the saving is real
    val (_, spark2) = SparkProbe.observe(spark)(spark.sql(sql).limit(200).collect())
    assert(spark2.jobs === 2)
  }

  test("an unselective read returns the first 200 rows in partition order") {
    val eng = engine("cap_all")
    val got = parity(eng, "SELECT * FROM cap_all")
    assert(got.size === 200)
    assert(spark.table("cap_all").rdd.getNumPartitions > 1)
  }

  test("zero rows, LIMIT, LIMIT with OFFSET and GROUP BY match Spark's capture") {
    val eng = engine("cap_shapes")
    assert(parity(eng, "SELECT * FROM cap_shapes WHERE k = 5 AND v = 'none'").isEmpty)
    assert(parity(eng, "SELECT * FROM cap_shapes WHERE k < 0").isEmpty)
    assert(parity(eng, "SELECT k, v FROM cap_shapes LIMIT 5").size === 5)
    assert(parity(eng, "SELECT k FROM cap_shapes LIMIT 5 OFFSET 3").size === 5)
    val grouped = "SELECT k % 4 AS g, COUNT(*) AS n FROM cap_shapes GROUP BY k % 4"
    val got = eng.execute(grouped).rows
    assert(got.sortBy(_("g").asInstanceOf[Long]) ===
      rowsOf(spark.sql(grouped).limit(200).collect()).sortBy(_("g").asInstanceOf[Long]))
    assert(got.map(_("n")).toSet === Set(100L))
  }

  test("a failing statement raises Spark's own error") {
    val eng = engine("cap_fail")
    def thrown(body: => Any): Throwable = intercept[Throwable](body)
    def root(e: Throwable): Throwable = Option(e.getCause).map(root).getOrElse(e)
    // a task failure: the same exception, over the same root cause
    val failing = "SELECT raise_error(concat('bad ', v)) FROM cap_fail WHERE k = 3"
    val (mine, theirs) = (thrown(eng.execute(failing)),
      thrown(spark.sql(failing).limit(200).collect()))
    assert(mine.getClass === theirs.getClass)
    assert(root(mine).getClass === root(theirs).getClass)
    assert(root(mine).getMessage === root(theirs).getMessage)
    assert(root(mine).getMessage.contains("bad v3"))
    // analysis and parse errors: the same exception and message
    for (bad <- Seq("SELECT nope FROM cap_fail", "SELEC k FROM cap_fail")) {
      val (a, b) = (thrown(eng.execute(bad)), thrown(spark.sql(bad).limit(200).collect()))
      assert(a.getClass === b.getClass, bad)
      assert(a.getMessage === b.getMessage, bad)
    }
  }

  test("each statement is parsed once, whichever route takes it") {
    val parses = new AtomicInteger()
    // a session of its own, so the counting parser is the only one injected
    val counted = SparkSession.builder().withExtensions(_.injectParser(
      (_, delegate) => new CountingParser(delegate, parses)))
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = try counted.getOrCreate() finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
    val cat = new CatalogService(s2, scratchDir("capture-parse-cat"))
    val eng = new SparkSqlEngine(s2)
    eng.registerCatalog(cat)
    def parsesOf(sql: String): Int = {
      parses.set(0)
      eng.execute(sql)
      parses.get
    }
    assert(parsesOf("CREATE NAMESPACE ns") === 1)
    assert(parsesOf("CREATE TABLE ns.t (k BIGINT, v STRING) USING iceberg") === 1)
    assert(parsesOf("INSERT INTO ns.t VALUES (1, 'a'), (2, 'b'), (3, 'c')") === 1)
    assert(parsesOf("SELECT COUNT(*) AS n FROM ns.t") === 1)
    assert(parsesOf("SELECT * FROM ns.t WHERE k IN (1, 3)") === 1)
    assert(parsesOf("UPDATE ns.t SET v = 'z' WHERE k = 2") === 1)
    assert(parsesOf("SELECT k FROM t WHERE v = 'z'") === 1)
    // an Iceberg-extension statement matches textually and is never parsed
    assert(parsesOf("ALTER TABLE ns.t WRITE ORDERED BY k") === 0)
    assert(eng.execute("SELECT k FROM t WHERE v = 'z'").rows === Seq(Map("k" -> 2L)))
  }

  test("a qualified name loads from the catalog once per statement") {
    import spark.implicits._
    val loads = mutable.Map[String, Int]().withDefaultValue(0)
    val cat = new CatalogService(spark, scratchDir("capture-load-cat")) {
      override def loadTable(ns: String, name: String): GraftTable = {
        loads(s"$ns.$name") += 1
        super.loadTable(ns, name)
      }
    }
    cat.createNamespace("ns")
    val t = cat.createTable("ns", "kv", Seq((0L, "")).toDF("k", "v").schema)
    (0 until 4).foreach(i =>
      t.append((i * 10L until (i + 1) * 10L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1)))
    val src = cat.createTable("ns", "src", Seq((0L, "")).toDF("k", "v").schema)
    src.append(Seq((5L, "s5"), (50L, "s50")).toDF("k", "v"))
    val eng = new SparkSqlEngine(spark)
    eng.registerCatalog(cat)
    val v1 = cat.loadTable("ns", "kv").latest.snapshotId
    def loadsOf(sql: String): Map[String, Int] = {
      loads.clear()
      eng.execute(sql)
      loads.toMap
    }
    assert(loadsOf("SELECT * FROM ns.kv WHERE k IN (1, 12, 33)") === Map("ns.kv" -> 1))
    assert(loadsOf("SELECT COUNT(*) AS n FROM ns.kv") === Map("ns.kv" -> 1))
    assert(loadsOf(s"SELECT k FROM ns.kv VERSION AS OF $v1 WHERE k < 3") === Map("ns.kv" -> 1))
    // the DML target and its source share the statement's one resolution
    assert(loadsOf("INSERT INTO ns.kv SELECT k + 100, v FROM ns.kv WHERE k < 2") ===
      Map("ns.kv" -> 1))
    assert(loadsOf("MERGE INTO ns.kv t USING (SELECT * FROM ns.src) s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET t.v = s.v WHEN NOT MATCHED THEN INSERT *") ===
      Map("ns.kv" -> 1, "ns.src" -> 1))
    val rows = eng.execute("SELECT k, v FROM ns.kv WHERE k IN (5, 50, 100)").rows
    assert(rows.map(r => r("k") -> r("v")).toMap ===
      Map(5L -> "s5", 50L -> "s50", 100L -> "v0"))
    assert(t.readLatest().filter(col("k") >= 100).count() === 2L)
  }
}

/** The session's parser, counting the statements it parses. */
private class CountingParser(delegate: ParserInterface, parses: AtomicInteger)
    extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan = {
    parses.incrementAndGet(); delegate.parsePlan(sqlText)
  }
  override def parsePlanWithParameters(sqlText: String, ctx: ParameterContext): LogicalPlan = {
    parses.incrementAndGet(); delegate.parsePlanWithParameters(sqlText, ctx)
  }
  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan = {
    parses.incrementAndGet(); delegate.parseQuery(sqlText)
  }
  override def parseRoutineParam(sqlText: String): StructType = delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
}
