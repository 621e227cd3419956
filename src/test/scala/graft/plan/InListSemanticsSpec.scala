package graft.plan

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.types.StructType

import graft.{InListToInSet, SparkProbe, SparkSpec}
import graft.table.GraftTable

/** [[InListToInSet]] changes no answer and no file selection: every IN and
  * NOT IN query returns what the same query returns with the rule
  * excluded, through NULLs in the list and the column, NaN and signed
  * zeros, and timestamps; and lookups select the same files on bucket,
  * identity and `days` layouts.
  */
class InListSemanticsSpec extends SparkSpec {

  import spark.implicits._

  private val cat = "inlistsem"
  private lazy val wh = scratchDir("inlistsem-cat")

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.s")
  }

  override def afterAll(): Unit = {
    spark.conf.unset(s"spark.sql.catalog.$cat")
    spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    super.afterAll()
  }

  /** `body` with the rule excluded from the optimizer. */
  private def withoutRule[T](body: => T): T = {
    spark.conf.set("spark.sql.optimizer.excludedRules", InListToInSet.ruleName)
    try body finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  private def hasInSet(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists(_.isInstanceOf[InSet])))

  /** Rows as text: NaN and -0.0 compare exactly. */
  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("IN and NOT IN answer as without the rule: NULLs, NaN, -0.0, timestamps") {
    spark.sql(s"""CREATE TABLE $cat.s.vals (id BIGINT, d DOUBLE, f FLOAT, ts TIMESTAMP,
      ntz TIMESTAMP_NTZ)""")
    val t = GraftTable.load(spark, s"$wh/s/vals")
    val ts = (h: Int) => f"2024-03-0${1 + h / 24}%d ${h % 24}%02d:00:00"
    val nan = Double.NaN
    val data = Seq[(Option[Long], Option[Double], Int)](
      (Some(1L), Some(0.0), 0), (Some(2L), Some(-0.0), 12), (Some(3L), Some(nan), 24),
      (Some(4L), Some(1.5), 36), (Some(5L), Some(2.5), 48), (None, None, -1),
      (Some(6L), None, 60), (None, Some(1.5), 12))
    t.append(data.map { case (id, d, h) =>
        (id, d, d.map(_.toFloat), if (h < 0) None else Some(ts(h))) }
      .toDF("id", "d", "f", "ts").selectExpr("id", "d", "f", "CAST(ts AS TIMESTAMP) AS ts",
        "CAST(ts AS TIMESTAMP_NTZ) AS ntz").coalesce(2))
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("vals", t)
    val nanD = "CAST('NaN' AS DOUBLE)"
    val nanF = "CAST('NaN' AS FLOAT)"
    val conds = Seq(
      "id IN (1, 2, NULL)", "id NOT IN (1, 2, NULL)", "id NOT IN (1, 2)", "id IN (4, 9)",
      "d IN (0.0D, 1.5D)", "d IN (-0.0D, 2.5D)", "d NOT IN (-0.0D, 2.5D)",
      s"d IN ($nanD, 1.5D)", s"d NOT IN ($nanD, 1.5D)", "d IN (0.0D, NULL)",
      s"f IN (CAST(0.0 AS FLOAT), $nanF)", "f NOT IN (CAST(-0.0 AS FLOAT), CAST(1.5 AS FLOAT))",
      s"ts IN (TIMESTAMP '${ts(0)}', TIMESTAMP '${ts(36)}', NULL)",
      s"ts NOT IN (TIMESTAMP '${ts(12)}', TIMESTAMP '${ts(48)}')",
      s"ntz IN (TIMESTAMP_NTZ '${ts(24)}', TIMESTAMP_NTZ '${ts(60)}')")
    for (from <- Seq("vals", s"$cat.s.vals"); c <- conds) {
      // as a projected three-valued result (the rule always applies) and
      // as a filter (which the optimizer may fold: `NOT IN (…, NULL)`)
      val projected = s"SELECT id, d, ($c) AS m FROM $from"
      assert(hasInSet(spark.sql(projected)), projected)
      for (q <- Seq(projected, s"SELECT * FROM $from WHERE $c")) {
        val df = spark.sql(q)
        val expected = withoutRule {
          val plain = spark.sql(q)
          assert(!hasInSet(plain), q)
          rows(plain)
        }
        assert(rows(df) === expected, q)
      }
    }
    // the engine's route reads the same rows
    val lookup = "SELECT id FROM vals WHERE id IN (1, 2, NULL)"
    assert(eng.execute(lookup).rows.map(_("id")).toSet === Set(1L, 2L))
  }

  test("lookups select the same files on bucket, identity and days layouts") {
    val schema = StructType.fromDDL("user_id bigint, region bigint, ts timestamp, v string")
    val layouts = Seq(
      ("bucket", Seq("user_id_bucket"), Map(
        GraftTable.PartitionTransformsProp -> "bucket(16,user_id)=user_id_bucket"),
        "user_id IN (3, 77, 140)"),
      ("identity", Seq("region"), Map.empty[String, String], "region IN (2, 5)"),
      ("days", Seq("ts_day"), Map(GraftTable.PartitionTransformsProp -> "days(ts)=ts_day"),
        "ts IN (TIMESTAMP '2024-03-02 05:00:00', TIMESTAMP '2024-03-04 07:00:00')"))
    val data = (0L until 240L).map(k => (k, k % 8,
      java.sql.Timestamp.valueOf(f"2024-03-0${1 + k % 6}%d ${k % 24}%02d:00:00"), s"v$k"))
      .toDF("user_id", "region", "ts", "v")
    for ((name, partCols, props, cond) <- layouts) {
      val t = GraftTable.create(spark, scratchDir(s"inlistsem-$name-") + "/t", schema,
        partitionCols = partCols, properties = props)
      t.append(data)
      val eng = new SparkSqlEngine(spark)
      eng.registerGraftTable(name, t)
      val q = s"SELECT * FROM $name WHERE $cond"
      /** (rows, files the scan selected, the engine's lastPrune) */
      def run(): (Seq[String], Set[String], (Int, Int)) = {
        val df = spark.sql(q)
        val selected = SparkProbe.scansOf(df.queryExecution.executedPlan).flatMap(s =>
          s.relation.location.listFiles(s.partitionFilters, s.dataFilters)
            .flatMap(_.files.map(_.getPath.getName))).toSet
        eng.execute(q)
        (rows(df), selected, eng.lastPrune(name))
      }
      assert(hasInSet(spark.sql(q)), name)
      val withRule = run()
      val plain = withoutRule(run())
      assert(withRule === plain, name)
      val (_, selected, (read, total)) = withRule
      assert(selected.nonEmpty && read === selected.size && read < total,
        s"$name: $read of $total files")
    }
  }
}
