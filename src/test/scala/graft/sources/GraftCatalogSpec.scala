package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.table.GraftTable

/** The `TableCatalog` plugin: STOCK `spark.sql` over three-part names —
  * no pre-router, no temp views. DDL, INSERT, UPDATE/DELETE/MERGE (Spark's
  * own row-level rewrite plans over the group-based COW operation), time
  * travel, writeTo(), and SHOW/DESCRIBE all resolve through
  * `spark.sql.catalog.<name> = graft.sources.GraftCatalog`.
  */
class GraftCatalogSpec extends SparkSpec {

  private def withCatalog[A](name: String)(body: => A): A = {
    val wh = scratchDir(s"cat-$name")
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    try body
    finally {
      spark.conf.unset(s"spark.sql.catalog.$name")
      spark.conf.unset(s"spark.sql.catalog.$name.warehouse")
    }
  }

  test("namespace + table DDL, INSERT, SELECT through plain spark.sql") {
    withCatalog("gc1") {
      spark.sql("CREATE NAMESPACE gc1.sales")
      assert(spark.sql("SHOW NAMESPACES IN gc1").collect().map(_.getString(0))
        .contains("sales"))
      spark.sql("""CREATE TABLE gc1.sales.events (
        id BIGINT, region STRING, amount DOUBLE) PARTITIONED BY (region)""")
      assert(spark.sql("SHOW TABLES IN gc1.sales").collect()
        .map(_.getString(1)).contains("events"))
      spark.sql("""INSERT INTO gc1.sales.events VALUES
        (1, 'emea', 10.0), (2, 'emea', 20.0), (3, 'apac', 5.0), (4, 'amer', 2.5)""")
      val rows = spark.sql(
        "SELECT region, COUNT(*) AS n, SUM(amount) AS s FROM gc1.sales.events " +
          "GROUP BY region ORDER BY region").collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
        Seq(("amer", 1L, 2.5), ("apac", 1L, 5.0), ("emea", 2L, 30.0)))
      // partitioned layout came from the catalog table's reported transforms
      val desc = spark.sql("DESCRIBE TABLE EXTENDED gc1.sales.events").collect()
        .map(_.getString(0))
      assert(desc.contains("# Partition Information") || desc.contains("region"))
    }
  }

  test("UPDATE / DELETE / MERGE via Spark's row-level plans; COW targets files") {
    withCatalog("gc2") {
      spark.sql("CREATE NAMESPACE gc2.crud")
      spark.sql("CREATE TABLE gc2.crud.t (k BIGINT, flag STRING, v DOUBLE)")
      spark.sql("""INSERT INTO gc2.crud.t VALUES
        (1, 'A', 1.0), (2, 'A', 2.0), (3, 'R', 3.0), (4, 'R', 4.0), (5, 'N', 5.0)""")
      // second file: COW must only rewrite the file(s) the predicate touches
      spark.sql("INSERT INTO gc2.crud.t VALUES (100, 'Z', 100.0), (101, 'Z', 101.0)")

      val t = GraftTable.load(spark,
        s"${spark.conf.get("spark.sql.catalog.gc2.warehouse")}/crud/t")
      val snaps = t.snapshotsList // [create, append1, append2]
      val fileTwo = snaps.last.files.map(_.path).toSet --
        snaps(snaps.length - 2).files.map(_.path).toSet // second append's file(s)
      assert(fileTwo.nonEmpty)

      // k < 50 prunes the second file on footer bounds (k ∈ [100, 101]):
      // group-based COW must rewrite only the first file
      spark.sql("UPDATE gc2.crud.t SET v = v + 10 WHERE flag = 'R' AND k < 50")
      assert(spark.sql("SELECT SUM(v) FROM gc2.crud.t").head.getDouble(0) == 236.0)
      assert(fileTwo.subsetOf(GraftTable.load(spark, t.tableDir)
        .latest.files.map(_.path).toSet),
        "COW update rewrote a file the predicate provably does not touch")

      // translatable DELETE takes Spark's metadata-delete path into
      // Dml.delete (exact file targeting by content)
      spark.sql("DELETE FROM gc2.crud.t WHERE flag = 'N'")
      assert(spark.sql("SELECT COUNT(*) FROM gc2.crud.t").head.getLong(0) == 6L)
      assert(fileTwo.subsetOf(GraftTable.load(spark, t.tableDir)
        .latest.files.map(_.path).toSet))

      spark.sql("SELECT 3 AS k, 'up' AS tag, 30.0 AS nv UNION ALL SELECT 6, 'in', 60.0")
        .createOrReplaceTempView("src")
      spark.sql("""MERGE INTO gc2.crud.t t USING src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.nv
        WHEN NOT MATCHED THEN INSERT (k, flag, v) VALUES (s.k, s.tag, s.nv)""")
      val after = spark.sql("SELECT k, v FROM gc2.crud.t ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(after == Seq((1L, 1.0), (2L, 2.0), (3L, 30.0), (4L, 14.0),
        (6L, 60.0), (100L, 100.0), (101L, 101.0)))
      val ops = GraftTable.load(spark, t.tableDir).snapshotsList.map(_.operation)
      assert(ops.count(_ == "update") >= 1, s"ops: $ops")
      assert(ops.count(_ == "merge") >= 1, s"ops: $ops")
    }
  }

  test("writeTo().append(), time travel, ALTER TABLE evolution") {
    withCatalog("gc3") {
      import spark.implicits._
      spark.sql("CREATE NAMESPACE gc3.lab")
      spark.sql("CREATE TABLE gc3.lab.m (id BIGINT, name STRING)")
      Seq((1L, "a"), (2L, "b")).toDF("id", "name").writeTo("gc3.lab.m").append()
      val v1 = GraftTable.load(spark,
        s"${spark.conf.get("spark.sql.catalog.gc3.warehouse")}/lab/m").latest.snapshotId
      Seq((3L, "c")).toDF("id", "name").writeTo("gc3.lab.m").append()
      assert(spark.table("gc3.lab.m").count() == 3)
      assert(spark.sql(s"SELECT COUNT(*) FROM gc3.lab.m VERSION AS OF $v1")
        .head.getLong(0) == 2L)

      spark.sql("ALTER TABLE gc3.lab.m ADD COLUMN score DOUBLE")
      spark.sql("ALTER TABLE gc3.lab.m RENAME COLUMN name TO label")
      val cols = spark.table("gc3.lab.m").columns.toSeq
      assert(cols == Seq("id", "label", "score"))
      // pre-evolution rows replay NULL for the added column
      assert(spark.sql("SELECT COUNT(*) FROM gc3.lab.m WHERE score IS NULL")
        .head.getLong(0) == 3L)
      spark.sql("ALTER TABLE gc3.lab.m SET TBLPROPERTIES ('owner.team' = 'ml')")
      assert(GraftTable.load(spark,
        s"${spark.conf.get("spark.sql.catalog.gc3.warehouse")}/lab/m")
        .properties.get("owner.team").contains("ml"))
    }
  }

  test("INSERT OVERWRITE, DROP, and catalog pushdown survives (metadata agg)") {
    withCatalog("gc4") {
      spark.sql("CREATE NAMESPACE gc4.ops")
      spark.sql("CREATE TABLE gc4.ops.t (id BIGINT, v DOUBLE)")
      spark.sql("INSERT INTO gc4.ops.t SELECT id, id * 1.0 FROM RANGE(10)")
      spark.sql("INSERT OVERWRITE gc4.ops.t SELECT id, id * 2.0 FROM RANGE(5)")
      assert(spark.table("gc4.ops.t").count() == 5)
      assert(spark.sql("SELECT SUM(v) FROM gc4.ops.t").head.getDouble(0) == 20.0)
      // COUNT(*) answers from snapshot metadata (aggregate pushdown through
      // the catalog read path — same scan as format("graft"))
      val plan = spark.sql("SELECT COUNT(*) FROM gc4.ops.t")
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation") || plan.contains("GraftAggScan"),
        s"expected metadata-agg scan in:\n$plan")
      spark.sql("DROP TABLE gc4.ops.t")
      assert(spark.sql("SHOW TABLES IN gc4.ops").collect().isEmpty)
      spark.sql("DROP NAMESPACE gc4.ops")
      intercept[Exception](spark.sql("SELECT * FROM gc4.ops.t").collect())
    }
  }

  test("CTAS and INSERT INTO SELECT through the catalog") {
    withCatalog("gc5") {
      spark.sql("CREATE NAMESPACE gc5.marts")
      spark.sql("""CREATE TABLE gc5.marts.sq AS
        SELECT id, id * id AS sq FROM RANGE(10)""")
      assert(spark.table("gc5.marts.sq").count() == 10)
      spark.sql("INSERT INTO gc5.marts.sq SELECT id, -1 FROM RANGE(10, 13)")
      assert(spark.sql("SELECT SUM(sq) FROM gc5.marts.sq").head.getLong(0) ==
        (0 until 10).map(i => i * i).sum - 3)
      // CTAS staged through the native DSv2 write: the table is a real
      // graft table with a snapshot log, not a path of loose files
      val t = GraftTable.load(spark,
        s"${spark.conf.get("spark.sql.catalog.gc5.warehouse")}/marts/sq")
      assert(t.snapshotsList.map(_.operation).count(_ == "append") == 2)
    }
  }

  test("metadata tables and tag travel through four-part / VERSION AS OF names") {
    withCatalog("gc7") {
      import spark.implicits._
      spark.sql("CREATE NAMESPACE gc7.ops")
      spark.sql("CREATE TABLE gc7.ops.t (k BIGINT, region STRING) PARTITIONED BY (region)")
      Seq((1L, "emea"), (2L, "emea"), (3L, "apac")).toDF("k", "region")
        .writeTo("gc7.ops.t").append()
      Seq((4L, "apac")).toDF("k", "region").writeTo("gc7.ops.t").append()

      val snaps = spark.sql(
        "SELECT snapshot_id, operation FROM gc7.ops.t.snapshots ORDER BY snapshot_id")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(snaps.map(_._2).toSeq == Seq("create", "append", "append"))
      assert(spark.sql("SELECT SUM(row_count) FROM gc7.ops.t.files")
        .head.getLong(0) == 4L)
      val parts = spark.sql(
        "SELECT partition, total_rows FROM gc7.ops.t.partitions ORDER BY partition")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(parts == Seq(("region=apac", 2L), ("region=emea", 2L)))
      // metadata table plans as a local scan — zero tasks, no data file read
      val plan = spark.sql("SELECT * FROM gc7.ops.t.history")
        .queryExecution.executedPlan.toString
      assert(plan.contains("LocalTableScan") || plan.contains("GraftMetadataScan"), plan)

      // tag travel: VERSION AS OF 'name' resolves through the catalog
      val firstAppend = snaps(1)._1
      val t = GraftTable.load(spark,
        s"${spark.conf.get("spark.sql.catalog.gc7.warehouse")}/ops/t")
      t.createTag("audit", firstAppend)
      assert(spark.sql("SELECT COUNT(*) FROM gc7.ops.t VERSION AS OF 'audit'")
        .head.getLong(0) == 3L)
      assert(spark.sql("SELECT type FROM gc7.ops.t.refs").head.getString(0) == "tag")
    }
  }

  test("RENAME TABLE goes through the Hadoop filesystem (file:-scheme warehouse)") {
    val wh = s"file:${scratchDir("cat-rename")}"
    spark.conf.set("spark.sql.catalog.gcr.warehouse", wh)
    spark.conf.set("spark.sql.catalog.gcr", "graft.sources.GraftCatalog")
    try {
      spark.sql("CREATE NAMESPACE gcr.a")
      spark.sql("CREATE NAMESPACE gcr.b")
      spark.sql("CREATE TABLE gcr.a.src (id BIGINT, v DOUBLE)")
      spark.sql("INSERT INTO gcr.a.src SELECT id, id * 0.5 FROM RANGE(8)")
      // cross-namespace rename (RENAME TO is catalog-relative): java.nio
      // would choke on the file: scheme; the Hadoop FS route must move
      // data + snapshot log intact
      spark.sql("ALTER TABLE gcr.a.src RENAME TO b.dst")
      assert(spark.sql("SELECT COUNT(*), SUM(v) FROM gcr.b.dst").head.getLong(0) == 8L)
      assert(spark.sql("SHOW TABLES IN gcr.a").collect().isEmpty)
      intercept[Exception](spark.table("gcr.a.src").collect())
      // the file: root resolved to its local path: no `file:` directory
      // appeared under the working directory
      assert(!new java.io.File("file:").exists())
    } finally {
      spark.conf.unset("spark.sql.catalog.gcr")
      spark.conf.unset("spark.sql.catalog.gcr.warehouse")
    }
  }

  test("ALTER COLUMN COMMENT persists; nullability change refuses loudly") {
    withCatalog("gc8") {
      spark.sql("CREATE NAMESPACE gc8.meta")
      spark.sql("CREATE TABLE gc8.meta.t (id BIGINT, v DOUBLE)")
      spark.sql("ALTER TABLE gc8.meta.t ALTER COLUMN v COMMENT 'gross amount'")
      // durable: round-trips through SHOW TBLPROPERTIES ...
      val props = spark.sql("SHOW TBLPROPERTIES gc8.meta.t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(props.get("comment.v").contains("gross amount"), props)
      // ... and through DESCRIBE (schemaFor re-attaches field metadata)
      val desc = spark.sql("DESCRIBE TABLE gc8.meta.t").collect()
        .map(r => r.getString(0) -> r.getString(2)).toMap
      assert(desc.get("v").contains("gross amount"), desc)
      // NOT NULL is not enforceable: loud refusal (Spark's analysis or the
      // catalog — either way the statement fails rather than no-ops) ...
      val ex = intercept[Exception](
        spark.sql("ALTER TABLE gc8.meta.t ALTER COLUMN v SET NOT NULL"))
      assert(ex.getMessage.toLowerCase.contains("nullab") ||
        ex.getMessage.toLowerCase.contains("not null"), ex.getMessage)
      // ... while DROP NOT NULL is already satisfied (all columns nullable)
      spark.sql("ALTER TABLE gc8.meta.t ALTER COLUMN v DROP NOT NULL")
    }
  }

  test("readStream.table follows appends through the catalog") {
    withCatalog("gc6") {
      import spark.implicits._
      spark.sql("CREATE NAMESPACE gc6.live")
      spark.sql("CREATE TABLE gc6.live.ev (id BIGINT, v DOUBLE)")
      Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v").writeTo("gc6.live.ev").append()
      val out = scratchDir("gc6-out")
      val q = spark.readStream.table("gc6.live.ev")
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$out/_cp")
        .option("path", s"$out/data")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      Seq((3L, 3.0)).toDF("id", "v").writeTo("gc6.live.ev").append()
      val q2 = spark.readStream.table("gc6.live.ev")
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$out/_cp")
        .option("path", s"$out/data")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q2.awaitTermination(60000)
      val got = spark.read.parquet(s"$out/data")
      assert(got.count() == 3 &&
        got.agg(sum("v")).head.getDouble(0) == 6.0)
    }
  }
}
