package graft.plan

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.{In, InSet}

import graft.{InListToInSet, SparkSpec}
import graft.table.GraftTable

/** A BIGINT IN-list point lookup with fresh keys compiles no class once the
  * first lookup has run, on the engine's route and on stock Spark SQL over
  * a catalog table: [[InListToInSet]] plans the list as `InSet`, whose
  * generated code does not hold the keys.
  */
class InListCodegenSpec extends SparkSpec {

  import spark.implicits._

  private val cat = "inlistcg"
  private lazy val wh = scratchDir("inlistcg-cat")

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.pl")
  }

  override def afterAll(): Unit = {
    spark.conf.unset(s"spark.sql.catalog.$cat")
    spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    super.afterAll()
  }

  /** The generated rows: (user_id, day, amount) for 600 keys over 3 days. */
  private val data = (0L until 600L).map(k => (k, k % 3, k * 0.25))

  /** The reference lookup layout, `days(ts)` + `bucket(16, user_id)`. */
  private lazy val table: GraftTable = {
    spark.sql(s"""CREATE TABLE $cat.pl.ev (user_id BIGINT, ts TIMESTAMP, amount DOUBLE)
      PARTITIONED BY (days(ts), bucket(16, user_id))""")
    val t = GraftTable.load(spark, s"$wh/pl/ev")
    t.append(data.toDF("user_id", "day", "amount").selectExpr("user_id",
      "timestamp_seconds(day * 86400 + user_id) AS ts", "amount"))
    t
  }

  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** 21 lookups of 3 keys each, no key used twice (a fresh `base` per call
    * site keeps them fresh across calls too). */
  private def lookups(base: Long): Seq[Seq[Long]] =
    (0 until 21).map(i => Seq(base + i * 7, base + i * 7 + 2, base + i * 7 + 5))

  private def sql(from: String, keys: Seq[Long]): String =
    s"SELECT * FROM $from WHERE user_id IN (${keys.mkString(", ")})"

  private def expected(keys: Seq[Long]): Seq[(Long, Double)] =
    data.filter(r => keys.contains(r._1)).map(r => (r._1, r._3)).sorted

  /** Classes compiled by each lookup after the first, and every lookup's
    * rows checked against the generated rows. */
  private def compiledAfterFirst(keySets: Seq[Seq[Long]])(run: Seq[Long] => Seq[(Long, Double)])
      : Seq[Long] =
    keySets.zipWithIndex.flatMap { case (keys, i) =>
      val before = compiled
      val rows = run(keys)
      val n = compiled - before
      assert(rows.sorted === expected(keys), s"lookup $i of $keys")
      if (i == 0) None else Some(n)
    }

  test("engine lookups with fresh BIGINT keys compile no class after the first") {
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("ev", table)
    def lookup(keys: Seq[Long]): Seq[(Long, Double)] =
      eng.execute(sql("ev", keys)).rows.map(r =>
        (r("user_id").asInstanceOf[Long], r("amount").asInstanceOf[Double]))
    val keySets = lookups(0L)
    assert(spark.sql(sql("ev", keySets.head)).queryExecution.optimizedPlan
      .exists(_.expressions.exists(_.exists(_.isInstanceOf[InSet]))))
    val perLookup = compiledAfterFirst(keySets)(lookup)
    assert(perLookup.size >= 20)
    assert(perLookup.forall(_ == 0L), s"classes compiled per lookup: $perLookup")
    // the same lookups planned as `In` compile per lookup: the count above
    // sees compilations
    spark.conf.set("spark.sql.optimizer.excludedRules", InListToInSet.ruleName)
    try {
      val inPlan = spark.sql(sql("ev", keySets.head)).queryExecution.optimizedPlan
      assert(inPlan.exists(_.expressions.exists(_.exists(_.isInstanceOf[In]))))
      val asIn = compiledAfterFirst(lookups(200L).take(4))(lookup)
      assert(asIn.forall(_ > 0L), s"classes compiled per In lookup: $asIn")
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  test("catalog lookups with fresh BIGINT keys compile no class after the first") {
    table
    val perLookup = compiledAfterFirst(lookups(400L)) { keys =>
      spark.sql(sql(s"$cat.pl.ev", keys)).as[(Long, java.sql.Timestamp, Double)].collect()
        .toSeq.map(r => (r._1, r._3))
    }
    assert(perLookup.size >= 20)
    assert(perLookup.forall(_ == 0L), s"classes compiled per lookup: $perLookup")
  }
}
