package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.table.GraftTable

/** `SELECT <cat>.system.<fn>(...)` — the FunctionCatalog face. The load-
  * bearing property is BIT-PARITY with the write side's partition-transform
  * derivation: `system.bucket(n, k)` must equal the partition value a
  * `bucket(n,k)` table records for the row, or user-side partition math
  * silently disagrees with pruning.
  */
class GraftFunctionsSpec extends SparkSpec {

  private def withCatalog[A](name: String)(body: String => A): A = {
    val wh = scratchDir(s"cat-$name")
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    try body(wh)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$name")
      spark.conf.unset(s"spark.sql.catalog.$name.warehouse")
    }
  }

  test("bucket/truncate agree with hash()/floor formulas across types") {
    withCatalog("gf1") { _ =>
      import spark.implicits._
      Seq((1L, 17, "alpha"), (-42L, -7, "beta"), (987654321L, 123, ""),
        (0L, 0, "zeta"))
        .toDF("l", "i", "s").createOrReplaceTempView("vals")
      val rows = spark.sql(
        """SELECT gf1.system.bucket(16, l) AS bl, pmod(hash(l), 16) AS bl0,
              gf1.system.bucket(8, i) AS bi, pmod(hash(i), 8) AS bi0,
              gf1.system.bucket(4, s) AS bs, pmod(hash(s), 4) AS bs0,
              gf1.system.truncate(10, l) AS tl, l - pmod(l, 10) AS tl0,
              gf1.system.truncate(3, s) AS ts, substring(s, 1, 3) AS ts0
          FROM vals""").collect()
      rows.foreach { r =>
        assert(r.get(0) == r.get(1) && r.get(2) == r.get(3) && r.get(4) == r.get(5), r)
        assert(r.get(6) == r.get(7) && r.get(8) == r.get(9), r)
      }
      // codegen path: the magic `invoke` method binds (Invoke expression),
      // not the row-boxing ApplyFunctionExpression fallback
      val plan = spark.sql("SELECT gf1.system.bucket(8, l) FROM vals")
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("invoke") && !plan.contains("ApplyFunctionExpression"), plan)
    }
  }

  test("function values equal recorded transform partition values") {
    withCatalog("gf3") { wh =>
      import spark.implicits._
      spark.sql("CREATE NAMESPACE gf3.fn")
      spark.sql("""CREATE TABLE gf3.fn.t (id BIGINT, ts TIMESTAMP)
        PARTITIONED BY (bucket(4, id), days(ts))""")
      val df = Seq(
        (1L, "2024-03-07 23:59:59"), (2L, "2024-03-08 00:00:01"),
        (77L, "2023-12-31 12:00:00"), (1234L, "2024-01-01 00:00:00"))
        .toDF("id", "tss").select($"id", $"tss".cast("timestamp").as("ts"))
      df.writeTo("gf3.fn.t").append()
      val t = GraftTable.load(spark, s"$wh/fn/t")
      assert(t.latest.partitionCols == List("id_bucket", "ts_day"))
      // the files' RECORDED layout values vs the catalog functions' derived
      // values, keyed with per-partition row counts — bit-parity of the
      // function face with the write side's transform derivation
      val recorded = t.latest.files
        .groupBy(f => (f.partitionValues("id_bucket"), f.partitionValues("ts_day")))
        .view.mapValues(_.map(_.rowCount).sum).toMap
      val derived = spark.sql(
        """SELECT CAST(gf3.system.bucket(4, id) AS STRING) AS fb,
              CAST(gf3.system.days(ts) AS STRING) AS fd, COUNT(*) AS c
           FROM gf3.fn.t GROUP BY 1, 2""").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(derived == recorded, s"$derived vs $recorded")

      // months/years/hours formulas against SQL equivalents (UTC session)
      val g = spark.sql(
        """SELECT gf3.system.months(ts) AS m, trunc(CAST(ts AS DATE), 'month') AS m0,
              gf3.system.years(ts) AS y, trunc(CAST(ts AS DATE), 'year') AS y0,
              gf3.system.hours(ts) AS h,
              CAST(floor(unix_micros(ts) / CAST(3600000000 AS DOUBLE)) AS BIGINT) AS h0
           FROM gf3.fn.t""").collect()
      g.foreach { r =>
        assert(r.get(0) == r.get(1) && r.get(2) == r.get(3), r)
        assert(r.getLong(4) == r.getLong(5), r)
      }
    }
  }

  test("transform functions run in whole-stage codegen with no interpreted fallback") {
    withCatalog("gf5") { _ =>
      import spark.implicits._
      spark.sql("CREATE NAMESPACE gf5.fn")
      spark.sql("CREATE TABLE gf5.fn.t (l BIGINT, i INT, s STRING, d DATE, ts TIMESTAMP)")
      Seq((1L, 7, "alpha", "2024-03-07", "2024-03-07 23:59:59"),
        (-42L, -3, "beta", "1999-12-31", "2023-12-31 12:00:00"))
        .toDF("l", "i", "s", "d", "ts")
        .select($"l", $"i", $"s", $"d".cast("date"), $"ts".cast("timestamp"))
        .writeTo("gf5.fn.t").append()
      // a generated-code compile failure raises instead of falling back
      val key = "spark.sql.codegen.fallback"
      val prior = spark.conf.getOption(key)
      spark.conf.set(key, "false")
      try {
        val rows = spark.sql(
          """SELECT gf5.system.bucket(4, l) = pmod(hash(l), 4),
                gf5.system.bucket(4, i) = pmod(hash(i), 4),
                gf5.system.bucket(4, s) = pmod(hash(s), 4),
                gf5.system.bucket(4, d) = pmod(hash(d), 4),
                gf5.system.truncate(10, l) = l - pmod(l, 10),
                gf5.system.days(ts) = CAST(ts AS DATE),
                gf5.system.hours(ts) =
                  CAST(floor(unix_micros(ts) / CAST(3600000000 AS DOUBLE)) AS BIGINT)
             FROM gf5.fn.t""").collect()
        assert(rows.length == 2)
        rows.foreach(r => assert((0 until r.length).forall(r.getBoolean), r))
      } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("unsupported argument types and unknown functions refuse loudly") {
    withCatalog("gf4") { _ =>
      val e1 = intercept[Exception](
        spark.sql("SELECT gf4.system.bucket(4, CAST(1.5 AS DOUBLE))").collect())
      assert(e1.getMessage.contains("bucket"), e1.getMessage)
      val e2 = intercept[Exception](
        spark.sql("SELECT gf4.system.nope(1)").collect())
      assert(e2.getMessage.toLowerCase.contains("nope"), e2.getMessage)
    }
  }
}
