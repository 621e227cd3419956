package graft.plan

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.table.GraftTable

/** SQL-surface DML routed through the engine to the table layer: the
  * statement shapes the reference harness runs (UPDATE ... SET/WHERE,
  * DELETE ... WHERE, MERGE with a VALUES source, matched UPDATE / DELETE
  * and NOT MATCHED INSERT), plus strict refusal of shapes the table layer
  * cannot honor one-for-one.
  */
class SqlDmlSpec extends SparkSpec {

  private def mkTable(name: String): (SparkSqlEngine, GraftTable) = {
    import spark.implicits._
    val df = Seq(
      (1L, 10L, 5.0, "app"),
      (2L, 11L, 6.0, "web"),
      (4L, 12L, 7.0, "app"),
      (8L, 13L, 8.0, "store")
    ).toDF("event_id", "tenant_id", "price", "channel")
    val t = GraftTable.create(spark, scratchDir(name), df.schema)
    t.append(df)
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("sales", t)
    (eng, t)
  }

  test("UPDATE ... SET ... WHERE routes to copy-on-write update") {
    val (eng, t) = mkTable("sqldml-upd")
    // the reference's update shape (update_sales_events.sql:1-3)
    eng.execute("UPDATE sales SET price = price * 2 WHERE event_id = 1")
    val rows = t.readLatest().orderBy("event_id")
      .select("event_id", "price").collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 10.0), (2L, 6.0), (4L, 7.0), (8L, 8.0)))
    // and the next engine read sees the new state through the view
    val res = eng.execute("SELECT SUM(price) AS s FROM sales")
    assert(res.rows.head("s") == 31.0)
  }

  test("DELETE FROM ... WHERE routes to copy-on-write delete") {
    import spark.implicits._
    val (eng, t) = mkTable("sqldml-del")
    eng.execute("DELETE FROM sales WHERE event_id = 8")
    assert(t.readLatest().count() == 3L)
    assert(t.latest.operation == "delete")
    // a row whose predicate is NULL is not matched: it survives a
    // copy-on-write DELETE on every route (one file, so the rewrite reads it)
    val rows = Seq((1L, Option(1L)), (2L, None), (3L, Option(10L))).toDF("k", "v").coalesce(1)
    def live(t: GraftTable) =
      t.readLatest().as[(Long, Option[Long])].collect().sortBy(_._1).toSeq
    val survivors = Seq((1L, Some(1L)), (2L, None))
    val n = GraftTable.create(spark, scratchDir("sqldml-del-null"), rows.schema)
    n.append(rows)
    eng.registerGraftTable("nullable", n)
    eng.execute("DELETE FROM nullable WHERE v > 5")
    assert(live(n) == survivors)
    assert(n.latest.operation == "delete")
    val cat = "sqldmlnull"
    val wh = scratchDir("sqldml-del-null-cat")
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      spark.sql(s"CREATE NAMESPACE $cat.ns")
      Seq("d", "o").foreach(tn => spark.sql(s"CREATE TABLE $cat.ns.$tn (k BIGINT, v BIGINT)"))
      rows.writeTo(s"$cat.ns.d").append()
      // Spark's DELETE lands in deleteWhere → Dml.deleteAuto
      spark.sql(s"DELETE FROM $cat.ns.d WHERE v > 5")
      val d = GraftTable.load(spark, s"$wh/ns/d")
      assert(live(d) == survivors)
      assert(d.latest.operation == "delete")
      rows.writeTo(s"$cat.ns.o").append()
      Seq((4L, Option(4L))).toDF("k", "v").writeTo(s"$cat.ns.o").overwrite(col("v") > 5)
      val o = GraftTable.load(spark, s"$wh/ns/o")
      assert(live(o) == survivors :+ ((4L, Some(4L))))
      assert(o.latest.operation == "overwrite")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("MERGE with VALUES source: matched update + not matched insert") {
    val (eng, t) = mkTable("sqldml-merge")
    eng.execute("""
      MERGE INTO sales AS tgt
      USING (
        SELECT * FROM VALUES (2, 99, 50.0, 'kiosk'), (9, 14, 15.0, 'store')
          AS updates(event_id, tenant_id, price, channel)
      ) AS src
      ON tgt.event_id = src.event_id
      WHEN MATCHED THEN UPDATE SET price = src.price, channel = src.channel
      WHEN NOT MATCHED THEN INSERT (event_id, tenant_id, price, channel)
        VALUES (src.event_id, src.tenant_id, src.price, src.channel)""")
    val rows = t.readLatest().orderBy("event_id")
      .select("event_id", "tenant_id", "price", "channel").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSeq
    assert(rows == Seq(
      (1L, 10L, 5.0, "app"),
      (2L, 11L, 50.0, "kiosk"), // updated: price+channel, tenant untouched
      (4L, 12L, 7.0, "app"),
      (8L, 13L, 8.0, "store"),
      (9L, 14L, 15.0, "store"))) // inserted
  }

  test("MERGE delete branch and qualified update expressions") {
    val (eng, t) = mkTable("sqldml-merge-del")
    eng.execute("""
      MERGE INTO sales AS t
      USING (SELECT * FROM VALUES (4, CAST(1 AS BIGINT)), (2, CAST(0 AS BIGINT))
               AS s(event_id, kill)) AS s
      ON t.event_id = s.event_id
      WHEN MATCHED AND s.kill = 1 THEN DELETE
      WHEN MATCHED THEN UPDATE SET price = t.price + 100""")
    val rows = t.readLatest().orderBy("event_id")
      .select("event_id", "price").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows == Seq((1L, 5.0), (2L, 106.0), (8L, 8.0))) // 4 deleted, 2 updated
  }

  test("UPDATE honors write.update.mode=merge-on-read: zero files rewritten") {
    val (eng, t) = mkTable("sqldml-upd-mor")
    t.setProperties(Map(GraftTable.UpdateModeProp -> Some("merge-on-read")))
    val filesBefore = t.latest.files.map(_.path).toSet
    val fromId = t.latest.snapshotId
    eng.execute("UPDATE sales SET price = price * 2 WHERE channel = 'app'")
    assert(t.latest.operation == "update-dv")
    // zero data files rewritten, one delete vector committed
    assert(t.latest.files.map(_.path).toSet.intersect(filesBefore) == filesBefore)
    assert(t.latest.deletes.nonEmpty && t.latest.deletes.forall(_.positional))
    val rows = t.readLatest().orderBy("event_id")
      .select("event_id", "price").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows == Seq((1L, 10.0), (2L, 6.0), (4L, 14.0), (8L, 8.0)))
    // the changelog reconstructs the update as delete half + insert half
    val ch = t.readChangelog(fromId, t.latest.snapshotId)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ch == Map("insert" -> 2L, "delete" -> 2L))
    // a DECIMAL literal assigned to a DOUBLE column casts to the column type
    eng.execute("UPDATE sales SET price = 1.25 WHERE event_id = 8")
    assert(t.latest.operation == "update-dv")
    assert(t.readLatest().filter(col("event_id") === 8L).select("price")
      .collect().map(_.getDouble(0)).toSeq == Seq(1.25))
    // a matched-nothing update commits nothing
    val snaps = t.snapshotsList.size
    eng.execute("UPDATE sales SET price = 0 WHERE channel = 'nope'")
    assert(t.snapshotsList.size == snaps)
  }

  test("merge-on-read UPDATE without identifier columns writes a vector") {
    val (eng, t) = mkTable("sqldml-upd-mor-noid")
    t.setProperties(Map(GraftTable.UpdateModeProp -> Some("merge-on-read")))
    val filesBefore = t.latest.files.map(_.path).toSet
    eng.execute("UPDATE sales SET price = 0 WHERE event_id = 1")
    assert(t.latest.operation == "update-dv")
    assert(filesBefore.subsetOf(t.latest.files.map(_.path).toSet))
    assert(t.latest.deletes.map(d => (d.positional, d.rowCount)) == Seq((true, 1L)))
    assert(t.readLatest().orderBy("event_id").select("event_id", "price").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 0.0), (2L, 6.0), (4L, 7.0), (8L, 8.0)))
  }

  // event_id is declared the identifier column, yet two live rows share each
  // of 1 and 2: a key-valued delete would take both copies
  private def dupKeyRows = {
    import spark.implicits._
    Seq((1L, "a", 1.0), (1L, "b", 2.0), (2L, "c", 3.0), (2L, "d", 4.0), (3L, "e", 5.0))
      .toDF("event_id", "tag", "price")
  }

  private def liveRows(t: GraftTable): Seq[(Long, String, Double)] = {
    import spark.implicits._
    t.readLatest().select("event_id", "tag", "price")
      .as[(Long, String, Double)].collect().sortBy(_._2).toSeq
  }

  private def assertVectorCommit(t: GraftTable, op: String): Unit = {
    assert(t.latest.operation == op)
    val added = t.latest.deletes.filter(_.appliedAt == t.latest.snapshotId)
    assert(added.nonEmpty && added.forall(d => d.positional && d.keyCols.isEmpty), added)
  }

  test("merge-on-read DML on a duplicated identifier key touches only the matched rows") {
    val t = GraftTable.create(spark, scratchDir("sqldml-mor-dupkey"), dupKeyRows.schema)
    t.append(dupKeyRows)
    t.setProperties(Map(
      GraftTable.DeleteModeProp -> Some("merge-on-read"),
      GraftTable.UpdateModeProp -> Some("merge-on-read"),
      GraftTable.MergeModeProp -> Some("merge-on-read"),
      "write.identifier-columns" -> Some("event_id")))
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("dup", t)
    eng.execute("DELETE FROM dup WHERE tag = 'a'")
    assert(liveRows(t) == Seq((1L, "b", 2.0), (2L, "c", 3.0), (2L, "d", 4.0), (3L, "e", 5.0)))
    assertVectorCommit(t, "delete-dv")
    eng.execute("UPDATE dup SET price = price + 10 WHERE tag = 'c'")
    assert(liveRows(t) == Seq((1L, "b", 2.0), (2L, "c", 13.0), (2L, "d", 4.0), (3L, "e", 5.0)))
    assertVectorCommit(t, "update-dv")
    eng.execute("""
      MERGE INTO dup AS tgt
      USING (SELECT * FROM VALUES (2, 'x', 50.0) AS s(event_id, tag, price)) AS src
      ON tgt.event_id = src.event_id
      WHEN MATCHED THEN UPDATE SET price = src.price""")
    // both target rows of key 2 match the one source row
    assert(liveRows(t) == Seq((1L, "b", 2.0), (2L, "c", 50.0), (2L, "d", 50.0), (3L, "e", 5.0)))
    assertVectorCommit(t, "merge-dv")
  }

  test("stock Spark SQL DELETE on a duplicated identifier key removes only the matched row") {
    // a GraftCatalog table: Spark's DELETE lands in deleteWhere → Dml.deleteAuto
    val cat = "sqldmldup"
    val wh = scratchDir("sqldml-mor-dupkey-cat")
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      spark.sql(s"CREATE NAMESPACE $cat.ops")
      spark.sql(s"""CREATE TABLE $cat.ops.dup (event_id BIGINT, tag STRING, price DOUBLE)
        TBLPROPERTIES ('write.delete.mode' = 'merge-on-read',
          'write.identifier-columns' = 'event_id')""")
      dupKeyRows.writeTo(s"$cat.ops.dup").append()
      spark.sql(s"DELETE FROM $cat.ops.dup WHERE tag = 'a'")
      val t = GraftTable.load(spark, s"$wh/ops/dup")
      assert(liveRows(t) == Seq((1L, "b", 2.0), (2L, "c", 3.0), (2L, "d", 4.0), (3L, "e", 5.0)))
      assertVectorCommit(t, "delete-dv")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("MERGE honors write.merge.mode=merge-on-read: one delta commit") {
    val (eng, t) = mkTable("sqldml-merge-mor")
    t.setProperties(Map(GraftTable.MergeModeProp -> Some("merge-on-read")))
    val filesBefore = t.latest.files.map(_.path).toSet
    eng.execute("""
      MERGE INTO sales AS tgt
      USING (
        SELECT * FROM VALUES (2, 99, 50.0, 'kiosk'), (4, 0, 0.0, 'kill'),
          (9, 14, 15.0, 'store')
          AS updates(event_id, tenant_id, price, channel)
      ) AS src
      ON tgt.event_id = src.event_id
      WHEN MATCHED AND src.channel = 'kill' THEN DELETE
      WHEN MATCHED THEN UPDATE SET price = src.price, channel = src.channel
      WHEN NOT MATCHED THEN INSERT (event_id, tenant_id, price, channel)
        VALUES (src.event_id, src.tenant_id, src.price, src.channel)""")
    assert(t.latest.operation == "merge-dv")
    assert(t.latest.files.map(_.path).toSet.intersect(filesBefore) == filesBefore)
    assert(t.latest.deletes.nonEmpty)
    val rows = t.readLatest().orderBy("event_id")
      .select("event_id", "tenant_id", "price", "channel").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSeq
    assert(rows == Seq(
      (1L, 10L, 5.0, "app"),
      (2L, 11L, 50.0, "kiosk"), // updated; tenant untouched
      (8L, 13L, 8.0, "store"), // 4 deleted
      (9L, 14L, 15.0, "store"))) // inserted
    // the MERGE cardinality guard carries over to the MOR path
    intercept[Exception] {
      eng.execute("""
        MERGE INTO sales AS tgt
        USING (SELECT * FROM VALUES (2, 1.0), (2, 2.0) AS d(event_id, price)) AS src
        ON tgt.event_id = src.event_id
        WHEN MATCHED THEN UPDATE SET price = src.price""")
    }
  }

  test("merge-on-read DML on a hive-partitioned table reads back") {
    import spark.implicits._
    // one write job spans 3 partition values, so dynamic-partition tasks
    // used to emit colliding part basenames across the hive dirs and every
    // MOR read refused; unique published leaf names make this layout work
    val df = (1 to 60).map(i => (i.toLong, s"d${i % 3}", i * 1.0)).toDF("id", "ds", "v")
    val t = GraftTable.create(spark, scratchDir("sqldml-mor-part"), df.schema,
      partitionCols = Seq("ds"))
    t.append(df)
    t.setProperties(Map(
      GraftTable.DeleteModeProp -> Some("merge-on-read"),
      GraftTable.UpdateModeProp -> Some("merge-on-read")))
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("pev", t)
    eng.execute("DELETE FROM pev WHERE id <= 6")
    assert(t.latest.operation == "delete-dv")
    eng.execute("UPDATE pev SET v = v + 1000 WHERE id = 60")
    assert(t.latest.operation == "update-dv")
    assert(t.readLatest().count() == 54)
    val res = eng.execute("SELECT CAST(SUM(id) AS BIGINT) AS s FROM pev").rows.head
    assert(res("s") == (7L to 60L).sum)
    assert(t.readLatest().filter(col("id") === 60).head.getDouble(2) == 1060.0)
  }

  test("merge-on-read UPDATE composes with rename evolution") {
    val (eng, t) = mkTable("sqldml-upd-mor-evo")
    t.setProperties(Map(GraftTable.UpdateModeProp -> Some("merge-on-read")))
    eng.execute("ALTER TABLE sales RENAME COLUMN price TO amount")
    eng.execute("UPDATE sales SET amount = amount + 1 WHERE event_id = 2")
    assert(t.latest.operation == "update-dv")
    val rows = t.readLatest().orderBy("event_id")
      .select("event_id", "amount").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows == Seq((1L, 5.0), (2L, 7.0), (4L, 7.0), (8L, 8.0)))
  }

  test("whole-table COUNT(*) answers from snapshot metadata, no scan") {
    import org.apache.spark.sql.functions.col
    val (eng, t) = mkTable("sqldml-count")
    // destroy the data files: a scan now fails loudly, metadata still answers
    val dataDir = new java.io.File(s"${t.tableDir}/data")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(dataDir)
    val res = eng.execute("SELECT COUNT(*) AS row_count FROM sales")
    assert(res.rows == Seq(Map("row_count" -> 4L)))
  }

  test("MIN/MAX/COUNT(col) answer from snapshot metadata alongside COUNT(*)") {
    val (eng, t) = mkTable("sqldml-metaagg")
    // destroy the data files: only metadata can answer now
    val dataDir = new java.io.File(s"${t.tableDir}/data")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(dataDir)
    val res = eng.execute(
      """SELECT COUNT(*) AS c, COUNT(price) AS nn,
                MIN(price) AS mn, MAX(price) AS mx, MAX(tenant_id) AS mt
         FROM sales""")
    assert(res.rows == Seq(Map(
      "c" -> 4L, "nn" -> 4L, "mn" -> 5.0, "mx" -> 8.0, "mt" -> 13L)))
    // a STRING min is not metadata-exact (writer-truncated bounds): the
    // whole statement falls through to a scan, which fails loudly here
    intercept[Exception] {
      eng.execute("SELECT COUNT(*) AS c, MIN(channel) AS m FROM sales")
    }
  }

  test("COUNT(*) falls back to a real scan when metadata cannot answer") {
    import spark.implicits._
    val (eng, t) = mkTable("sqldml-count-fallback")
    // a pending MOR delete: metadata count unavailable, the scan-path answer
    // must reflect the delete
    graft.dml.Dml.deleteMorKeys(t, Seq(8L).toDF("event_id"))
    val res = eng.execute("SELECT COUNT(*) AS row_count FROM sales")
    assert(res.rows.head("row_count") == 3L)
    // filtered counts are never intercepted
    val filtered = eng.execute("SELECT COUNT(*) AS c FROM sales WHERE price > 5.5")
    assert(filtered.rows.head("c") == 2L)
  }

  test("VERSION AS OF rewrites to snapshot-pinned views (reference time_travel_validate.sql)") {
    val (eng, t) = mkTable("sqldml-travel")
    val baseline = t.latest.snapshotId
    eng.execute("DELETE FROM sales WHERE event_id = 8")
    // current vs baseline — the reference script's exact statement shapes
    assert(eng.execute("SELECT COUNT(*) AS current_row_count FROM sales")
      .rows.head("current_row_count") == 3L)
    assert(eng.execute(
      s"SELECT COUNT(*) AS baseline_row_count FROM sales VERSION AS OF $baseline")
      .rows.head("baseline_row_count") == 4L)
    assert(eng.execute(
      s"SELECT SUM(price) AS baseline_price FROM sales VERSION AS OF $baseline")
      .rows.head("baseline_price") == 26.0)
    // both versions of one table in a single statement
    val both = eng.execute(
      s"""SELECT (SELECT COUNT(*) FROM sales) AS now,
            (SELECT COUNT(*) FROM sales VERSION AS OF $baseline) AS before""")
    assert(both.rows.head == Map("now" -> 3L, "before" -> 4L))
  }

  test("the reference's spark script statements run verbatim end to end") {
    // bootstrap_namespace.sql + create_sales_events.sql (days transform,
    // TBLPROPERTIES, the Iceberg-extension WRITE ORDERED BY) +
    // bulk_insert_sales_events.sql + read_sales_events.sql +
    // update_sales_events.sql + delete_sales_events.sql +
    // time_travel_validate.sql, with the template placeholders rendered —
    // every statement shape the reference's spark engine executes.
    val eng = new SparkSqlEngine(spark)
    val cat = new graft.catalogsvc.CatalogService(spark, scratchDir("sqldml-cat"))
    eng.registerCatalog(cat)
    eng.execute("CREATE NAMESPACE IF NOT EXISTS analytics")
    eng.execute("""
      CREATE TABLE IF NOT EXISTS analytics.sales_events (
        event_id BIGINT, tenant_id BIGINT, event_ts TIMESTAMP_NTZ, sku STRING,
        qty BIGINT, price DOUBLE, country STRING, ds DATE
      )
      USING iceberg
      PARTITIONED BY (days(event_ts))
      TBLPROPERTIES ('write.distribution-mode'='hash')""")
    eng.execute("ALTER TABLE analytics.sales_events WRITE ORDERED BY event_ts, tenant_id")
    val t = cat.loadTable("analytics", "sales_events")
    assert(t.latest.partitionCols == List("event_ts_day"))
    assert(t.properties.get("write.sort-order").contains("event_ts,tenant_id"))
    assert(t.properties.get("write.distribution-mode").contains("hash"))

    // bulk insert (8 rows) then its two validation reads
    eng.execute("""
      INSERT INTO sales_events VALUES
        (1, 10, TIMESTAMP '2024-01-01 00:00:00', 'sku-0001', 3, 19.99, 'US', DATE '2024-01-01'),
        (2, 11, TIMESTAMP '2024-01-01 00:05:00', 'sku-0002', 5, 5.00, 'US', DATE '2024-01-01'),
        (3, 12, TIMESTAMP '2024-01-02 09:30:00', 'sku-0003', 2, 10.00, 'GB', DATE '2024-01-02'),
        (4, 13, TIMESTAMP '2024-01-02 10:45:00', 'sku-0004', 8, 7.50, 'FR', DATE '2024-01-02'),
        (5, 10, TIMESTAMP '2024-01-03 12:00:00', 'sku-0005', 1, 99.99, 'US', DATE '2024-01-03'),
        (6, 11, TIMESTAMP '2024-01-03 13:25:00', 'sku-0002', 10, 5.00, 'US', DATE '2024-01-03'),
        (7, 12, TIMESTAMP '2024-01-04 15:55:00', 'sku-0003', 4, 11.00, 'GB', DATE '2024-01-04'),
        (8, 13, TIMESTAMP '2024-01-05 16:10:00', 'sku-0004', 6, 7.50, 'FR', DATE '2024-01-05')""")
    assert(eng.execute("SELECT COUNT(*) AS row_count FROM sales_events")
      .rows.head("row_count") == 8L)
    val snapRow = eng.execute("""
      SELECT snapshot_id, committed_at FROM sales_events.snapshots
      ORDER BY committed_at DESC LIMIT 1""").rows.head
    val baseline = snapRow("snapshot_id").asInstanceOf[Long]
    assert(baseline == t.latest.snapshotId)

    // read script: ordered projection
    val read = eng.execute("""
      SELECT event_id, tenant_id, event_ts, sku, qty, price, country, ds
      FROM sales_events ORDER BY event_id""")
    assert(read.rows.map(_("event_id")) == (1L to 8L))

    // update script: bump one price, re-read
    eng.execute("UPDATE sales_events SET price = price * 1.1 WHERE event_id = 1")
    assert(eng.execute("SELECT COUNT(*) AS row_count FROM sales_events")
      .rows.head("row_count") == 8L)
    val p1 = eng.execute(
      "SELECT event_id, price FROM sales_events WHERE event_id = 1").rows.head
    assert(p1("price").asInstanceOf[Double] > 21.0)

    // delete script
    eng.execute("DELETE FROM sales_events WHERE event_id = 8")
    assert(eng.execute("SELECT COUNT(*) AS row_count FROM sales_events")
      .rows.head("row_count") == 7L)
    assert(eng.execute("SELECT event_id FROM sales_events ORDER BY event_id")
      .rows.map(_("event_id")) == (1L to 7L))

    // time travel script: current vs baseline counts and a baseline aggregate
    assert(eng.execute("SELECT COUNT(*) AS current_row_count FROM sales_events")
      .rows.head("current_row_count") == 7L)
    assert(eng.execute(
      s"SELECT COUNT(*) AS baseline_row_count FROM sales_events VERSION AS OF $baseline")
      .rows.head("baseline_row_count") == 8L)
    assert(eng.execute(
      s"SELECT SUM(qty) AS baseline_qty FROM sales_events VERSION AS OF $baseline")
      .rows.head("baseline_qty") == 39L)
  }

  test("unsupported shapes raise with the construct named; non-DML falls through") {
    val (eng, _) = mkTable("sqldml-unsupported")
    val e = intercept[UnsupportedOperationException] {
      eng.execute("""
        MERGE INTO sales AS t USING (SELECT 1 AS event_id) AS s
        ON t.event_id = s.event_id
        WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    }
    assert(e.getMessage.contains("NOT MATCHED BY SOURCE"))
    // a plain read is untouched by the router
    assert(eng.execute("SELECT COUNT(*) AS c FROM sales").rows.head("c") == 4L)
    // DML on an unregistered relation is not intercepted (fails loudly in
    // spark.sql, exactly as before the router existed)
    intercept[Exception] {
      eng.execute("DELETE FROM not_registered WHERE x = 1")
    }
  }

  test("a qualified name ending in a registered view name is never hijacked") {
    // the advisor's hijack case: `otherdb.sales` is a DIFFERENT table even
    // though its last part collides with the registered `sales` — every
    // routing path (DML, metadata count, meta tables, time travel) must fall
    // through to spark.sql and fail loudly, leaving the registered table
    // untouched
    val (eng, t) = mkTable("sqldml-hijack")
    val before = t.latest.snapshotId
    intercept[Exception] {
      eng.execute("UPDATE otherdb.sales SET price = 0 WHERE event_id = 1")
    }
    intercept[Exception] {
      eng.execute("DELETE FROM otherdb.sales WHERE event_id = 1")
    }
    intercept[Exception] {
      eng.execute("MERGE INTO otherdb.sales AS t USING (SELECT CAST(1 AS BIGINT) AS event_id) AS s " +
        "ON t.event_id = s.event_id WHEN MATCHED THEN DELETE")
    }
    intercept[Exception] { eng.execute("SELECT COUNT(*) AS n FROM otherdb.sales") }
    intercept[Exception] { eng.execute("SELECT * FROM otherdb.sales.snapshots") }
    intercept[Exception] { eng.execute("SELECT * FROM otherdb.sales VERSION AS OF 1") }
    assert(t.latest.snapshotId == before, "a qualified-name statement mutated the registered table")
    // the bare registered name still routes
    assert(eng.execute("SELECT COUNT(*) AS n FROM sales").rows.head("n") == 4L)
  }

  test("SQL DDL records the full transform matrix; writes derive the partition columns") {
    import graft.table.GraftTable
    val eng = new SparkSqlEngine(spark)
    val cat = new graft.catalogsvc.CatalogService(spark, scratchDir("sqldml-ddl-tf"))
    eng.registerCatalog(cat)
    eng.execute("CREATE NAMESPACE tf")
    eng.execute("""
      CREATE TABLE tf.ev (
        event_id BIGINT, tenant_id BIGINT, sku STRING,
        event_ts TIMESTAMP_NTZ, price DOUBLE
      ) USING iceberg
      PARTITIONED BY (bucket(8, tenant_id), truncate(sku, 3), months(event_ts))""")
    val t = cat.loadTable("tf", "ev")
    assert(t.latest.partitionCols ==
      List("tenant_id_bucket", "sku_trunc", "event_ts_month"))
    assert(t.properties(GraftTable.PartitionTransformsProp).split(";").toSet == Set(
      "bucket(8,tenant_id)=tenant_id_bucket", "truncate(3,sku)=sku_trunc",
      "months(event_ts)=event_ts_month"))
    eng.execute("""
      INSERT INTO ev VALUES
        (1, 10, 'sku-001', TIMESTAMP '2024-02-05 10:00:00', 5.0),
        (2, 11, 'abc-002', TIMESTAMP '2024-03-06 10:00:00', 6.0)""")
    val files = t.latest.files
    assert(files.forall(_.partitionValues.keySet ==
      Set("tenant_id_bucket", "sku_trunc", "event_ts_month")))
    assert(files.flatMap(_.partitionValues.get("sku_trunc")).toSet == Set("sku", "abc"))
    assert(files.flatMap(_.partitionValues.get("event_ts_month")).toSet ==
      Set("2024-02-01", "2024-03-01"))
    // the recorded bucket values match the write derivation pmod(hash(k), 8)
    def expectedBucket(k: Long): String =
      spark.range(1).select(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(org.apache.spark.sql.functions.lit(k)),
        org.apache.spark.sql.functions.lit(8))).head.getInt(0).toString
    files.foreach { f =>
      val key = if (f.partitionValues("sku_trunc") == "sku") 10L else 11L
      assert(f.partitionValues("tenant_id_bucket") == expectedBucket(key))
    }
    // and the rows read back whole (derived columns never surface)
    val r = eng.execute("SELECT event_id, tenant_id, sku FROM ev ORDER BY event_id")
    assert(r.rows.map(m => (m("event_id"), m("tenant_id"), m("sku"))) ==
      Seq((1L, 10L, "sku-001"), (2L, 11L, "abc-002")))
  }

  test("schema-evolution SQL routes to the table layer; old rows read the evolved shape") {
    val (eng, t) = mkTable("sqldml-evolve")
    // the reference's schema_evolution_sales_events.sql statements, rendered
    eng.execute("ALTER TABLE sales ADD COLUMN country STRING DEFAULT 'US'")
    eng.execute("ALTER TABLE sales RENAME COLUMN channel TO sales_channel")
    eng.execute("ALTER TABLE sales ALTER COLUMN price TYPE DECIMAL(18,2)")
    assert(t.schema.fieldNames.toSeq ==
      Seq("event_id", "tenant_id", "price", "sales_channel", "country"))
    assert(t.schema("price").dataType.simpleString == "decimal(18,2)")
    // pre-evolution rows surface the default, the rename, and the widen —
    // through the engine's re-registered view, no manual refresh
    val r = eng.execute(
      """SELECT country, COUNT(*) AS n, CAST(SUM(price) AS DOUBLE) AS s
         FROM sales GROUP BY country""").rows
    assert(r.size == 1 && r.head("country") == "US" && r.head("n") == 4L &&
      r.head("s") == 26.0)
    // DESCRIBE surfaces the evolved schema as rows
    val d = eng.execute("DESCRIBE TABLE sales").rows
    assert(d.map(m => (m("col_name"), m("data_type"))) == Seq(
      ("event_id", "bigint"), ("tenant_id", "bigint"), ("price", "decimal(18,2)"),
      ("sales_channel", "string"), ("country", "string")))
    // DROP COLUMN hides the column from reads; re-ADD starts fresh (the
    // default, never the old values)
    eng.execute("ALTER TABLE sales DROP COLUMN sales_channel")
    assert(!t.schema.fieldNames.contains("sales_channel"))
    eng.execute("ALTER TABLE sales ADD COLUMN sales_channel STRING DEFAULT 'none'")
    val re = eng.execute(
      "SELECT DISTINCT sales_channel AS c FROM sales").rows.map(_("c"))
    assert(re == Seq("none"), s"re-added column resurrected old values: $re")
  }

  test("evolution DDL on a qualified name is never hijacked; guarded drops refuse") {
    val (eng, t) = mkTable("sqldml-evolve-neg")
    // qualified name ending in the registered view name: falls through to
    // spark.sql and fails loudly — never evolves the registered table
    intercept[Exception] {
      eng.execute("ALTER TABLE otherdb.sales ADD COLUMN x INT")
    }
    assert(!t.schema.fieldNames.contains("x"))
    // ALTER COLUMN beyond what the format records (a column position) is
    // refused, not approximated
    val e = intercept[UnsupportedOperationException] {
      eng.execute("ALTER TABLE sales ALTER COLUMN price FIRST")
    }
    assert(e.getMessage.contains("not supported"))
    // dropping a column the table depends on refuses with the reason named
    val pt = GraftTable.create(spark, scratchDir("sqldml-evolve-part"),
      t.schema, partitionCols = Seq("channel"))
    val pe = intercept[IllegalArgumentException] { pt.dropColumn("channel") }
    assert(pe.getMessage.contains("partition column"))
  }

  test("DROP TABLE drops from the catalog and unregisters the view") {
    val eng = new SparkSqlEngine(spark)
    val cat = new graft.catalogsvc.CatalogService(spark, scratchDir("sqldml-drop"))
    eng.registerCatalog(cat)
    eng.execute("CREATE NAMESPACE lifecycle")
    eng.execute("CREATE TABLE lifecycle.probe (k BIGINT) USING iceberg")
    eng.execute("INSERT INTO probe VALUES (1), (2)")
    assert(eng.execute("SHOW TABLES IN lifecycle").rows.map(_("tableName")) == Seq("probe"))
    eng.execute("DROP TABLE lifecycle.probe")
    assert(!cat.tableExists("lifecycle", "probe"))
    assert(eng.execute("SHOW TABLES IN lifecycle").rows.isEmpty)
    // the view is gone too: the next read fails loudly instead of serving
    // the dropped table's last registration
    intercept[Exception] { eng.execute("SELECT COUNT(*) AS n FROM probe") }
  }

  test("catalog-qualified names route everywhere the rendered scripts use them") {
    val eng = new SparkSqlEngine(spark)
    val cat = new graft.catalogsvc.CatalogService(spark, scratchDir("sqldml-qualified"))
    eng.registerCatalog(cat)
    eng.execute("CREATE NAMESPACE analytics")
    eng.execute("CREATE TABLE analytics.ev (event_id BIGINT, qty BIGINT) USING iceberg")
    // the reference's rendered statements qualify EVERY name with
    // `{{ target_namespace }}.{{ table_name }}` — all of these are that shape
    eng.execute("INSERT INTO analytics.ev VALUES (1, 3), (2, 5)")
    eng.execute("UPDATE analytics.ev SET qty = qty + 1 WHERE event_id = 1")
    assert(eng.execute("SELECT CAST(SUM(qty) AS BIGINT) AS q FROM analytics.ev")
      .rows.head("q") == 9L)
    // whole-table COUNT(*) on the qualified name answers from metadata
    assert(eng.execute("SELECT COUNT(*) AS n FROM analytics.ev").rows.head("n") == 2L)
    // three-part metadata relation and qualified time travel
    assert(eng.execute(
      "SELECT snapshot_id FROM analytics.ev.snapshots ORDER BY snapshot_id").rows.size == 3)
    assert(eng.execute(
      "SELECT CAST(SUM(qty) AS BIGINT) AS q FROM analytics.ev VERSION AS OF 2")
      .rows.head("q") == 8L)
    // qualified MERGE target AND qualified source subquery
    eng.execute("CREATE TABLE analytics.src (event_id BIGINT, qty BIGINT) USING iceberg")
    eng.execute("INSERT INTO analytics.src VALUES (2, 50), (9, 9)")
    eng.execute("""
      MERGE INTO analytics.ev AS tgt
      USING (SELECT * FROM analytics.src) AS src ON tgt.event_id = src.event_id
      WHEN MATCHED THEN UPDATE SET qty = src.qty
      WHEN NOT MATCHED THEN INSERT (event_id, qty) VALUES (src.event_id, src.qty)""")
    eng.execute("DELETE FROM analytics.ev WHERE event_id = 9")
    val fin = eng.execute(
      "SELECT COUNT(*) AS n, CAST(SUM(qty) AS BIGINT) AS q FROM analytics.ev").rows.head
    assert(fin("n") == 2L && fin("q") == 54L)
    // a qualified name NOT in the catalog still falls through loudly
    intercept[Exception] { eng.execute("UPDATE otherdb.ev SET qty = 0") }
    // qualified reads prune files exactly like bare ones (the prune pass
    // maps ns.t to its registered view before the read rewrite reuses it)
    eng.execute("CREATE TABLE analytics.pr (k BIGINT, v BIGINT) USING iceberg")
    eng.execute("INSERT INTO analytics.pr VALUES (1, 1), (2, 2)")
    eng.execute("INSERT INTO analytics.pr VALUES (100, 3), (200, 4)")
    val pruned = eng.execute(
      "SELECT CAST(SUM(v) AS BIGINT) AS s FROM analytics.pr WHERE k >= 100").rows.head
    assert(pruned("s") == 7L)
    val (scanned, total) = eng.lastPrune("pr")
    assert(scanned < total, s"qualified read did not prune: $scanned/$total")
  }

  test("CTAS and TRUNCATE TABLE route to the table layer") {
    val eng = new SparkSqlEngine(spark)
    val cat = new graft.catalogsvc.CatalogService(spark, scratchDir("sqldml-ctas"))
    eng.registerCatalog(cat)
    eng.execute("CREATE NAMESPACE analytics")
    eng.execute("CREATE TABLE analytics.ev (event_id BIGINT, qty BIGINT) USING iceberg")
    eng.execute("INSERT INTO analytics.ev VALUES (1, 3), (2, 5), (3, 2)")
    // CTAS from a qualified source; the new table registers for the script
    eng.execute("""
      CREATE TABLE analytics.big AS
      SELECT event_id, qty * 10 AS qty10 FROM analytics.ev WHERE qty >= 3""")
    assert(cat.tableExists("analytics", "big"))
    val r = eng.execute("SELECT CAST(SUM(qty10) AS BIGINT) AS s FROM big").rows.head
    assert(r("s") == 80L)
    // TRUNCATE keeps the table and schema, empties the data, stays travelable
    eng.execute("TRUNCATE TABLE analytics.big")
    assert(eng.execute("SELECT COUNT(*) AS n FROM analytics.big").rows.head("n") == 0L)
    val t = cat.loadTable("analytics", "big")
    assert(t.schema.fieldNames.toSeq == Seq("event_id", "qty10"))
    assert(t.readVersionAsOf(t.latest.snapshotId - 1).count() == 2L)
  }

  test("CALL maintenance procedures route to the Maintenance layer") {
    val (eng, t) = mkTable("sqldml-call")
    eng.execute("UPDATE sales SET price = price + 100.0 WHERE event_id = 1")
    // rollback via the Iceberg procedure, positional args, catalog-prefixed
    // name: history stays linear, the data reverts
    val rb = eng.execute(
      "CALL opencatalog.system.rollback_to_snapshot('sales', 2)").rows.head
    assert(rb("rolled_back_to") == 2L)
    assert(rb("current_snapshot_id") == 4L) // linear history: a fresh head
    assert(eng.execute("SELECT CAST(SUM(price) AS DOUBLE) AS s FROM sales")
      .rows.head("s") == 26.0)
    // remove_orphan_files: a stray file under data/ comes back as a row.
    // Without older_than the 3-day in-flight grace window protects the
    // brand-new stray; an explicit future bound collects it.
    val stray = new java.io.File(s"${t.tableDir}/data/stray-debris.parquet")
    java.nio.file.Files.writeString(stray.toPath, "junk")
    val graced = eng.execute(
      "CALL opencatalog.system.remove_orphan_files(table => 'sales')").rows
    assert(graced.isEmpty, "a file younger than the grace window was collected")
    assert(stray.exists())
    val removed = eng.execute(
      """CALL opencatalog.system.remove_orphan_files(table => 'sales',
         older_than => TIMESTAMP '2100-01-01 00:00:00')""").rows
    assert(removed.map(_("orphan_file_location")) == Seq("stray-debris.parquet"))
    assert(!stray.exists())
    // an unknown procedure is never swallowed: falls through and raises
    intercept[Exception] {
      eng.execute("CALL opencatalog.system.no_such_proc('sales')")
    }
    // a recognized procedure with an argument the layer can't honor names it
    val e = intercept[UnsupportedOperationException] {
      eng.execute(
        "CALL opencatalog.system.rewrite_data_files(table => 'sales', strategy => 'sort')")
    }
    assert(e.getMessage.contains("strategy"))
  }

  test("Snowflake dialect rewrites: postfix casts, AT clauses, constant arithmetic") {
    // pure-text layer first (snowflake.sql:359-361 shapes)
    assert(SqlDml.rewritePostfixCasts("SELECT '2024-01-01'::TIMESTAMP_LTZ AS t") ==
      "SELECT CAST('2024-01-01' AS TIMESTAMP) AS t")
    assert(SqlDml.rewritePostfixCasts("SELECT a.b::DECIMAL(18,2), c::DATE FROM t") ==
      "SELECT CAST(a.b AS DECIMAL(18,2)), CAST(c AS DATE) FROM t")
    // a :: inside a string literal is data, not syntax — in EITHER quote
    // style (Spark's default non-ANSI mode treats "..." as a string literal
    // too), past a backslash-escaped quote, and in a backtick identifier
    assert(SqlDml.rewritePostfixCasts("SELECT 'a::b' AS s") == "SELECT 'a::b' AS s")
    assert(SqlDml.rewritePostfixCasts("SELECT \"a::b\" AS s") == "SELECT \"a::b\" AS s")
    assert(SqlDml.rewritePostfixCasts("SELECT 'it\\'s::x' AS s") == "SELECT 'it\\'s::x' AS s")
    assert(SqlDml.rewritePostfixCasts("SELECT 'it''s::x' AS s") == "SELECT 'it''s::x' AS s")
    assert(SqlDml.rewritePostfixCasts("SELECT `a::b` FROM t") == "SELECT `a::b` FROM t")
    // ...while a real cast AFTER such a literal still rewrites, with the
    // full literal (escapes included) as the operand
    assert(SqlDml.rewritePostfixCasts("SELECT 'it\\'s ok'::STRING AS s") ==
      "SELECT CAST('it\\'s ok' AS STRING) AS s")
    assert(SqlDml.rewritePostfixCasts("SELECT \"2024-01-01\"::DATE AS d") ==
      "SELECT CAST(\"2024-01-01\" AS DATE) AS d")
    assert(SqlDml.rewritePostfixCasts("SELECT `a b`::INT FROM t") ==
      "SELECT CAST(`a b` AS INT) FROM t")
    assert(SqlDml.evalIntExpr("-60*1800").contains(-108000L))
    assert(SqlDml.evalIntExpr("(3+2)*60").contains(300L))
    assert(SqlDml.evalIntExpr("DROP TABLE x").isEmpty)
    val at = SqlDml.rewriteAtClauses(
      "SELECT * FROM t AT(TIMESTAMP => CAST('2025-09-29 18:36:00' AS TIMESTAMP_LTZ))",
      () => 0L)
    assert(at == "SELECT * FROM t TIMESTAMP AS OF CAST('2025-09-29 18:36:00' AS TIMESTAMP)")
    val off = SqlDml.rewriteAtClauses("SELECT * FROM t AT(OFFSET => -60)",
      () => 60000L) // now = 1970-01-01T00:01:00Z, -60s → epoch
    assert(off == "SELECT * FROM t TIMESTAMP AS OF '1970-01-01 00:00:00.000'")
    // a non-travel AT( and an AT inside a literal stay untouched
    assert(SqlDml.rewriteAtClauses("SELECT at(x, 1) FROM t", () => 0L) ==
      "SELECT at(x, 1) FROM t")
    assert(SqlDml.rewriteAtClauses("SELECT 'AT(OFFSET => -1)' AS s", () => 0L) ==
      "SELECT 'AT(OFFSET => -1)' AS s")
    // ...in double-quoted literals too, and a ')' inside a literal must not
    // close the AT clause early
    assert(SqlDml.rewriteAtClauses("SELECT \"AT(OFFSET => -1)\" AS s", () => 0L) ==
      "SELECT \"AT(OFFSET => -1)\" AS s")
    assert(SqlDml.rewriteAtClauses(
      "SELECT * FROM t AT(TIMESTAMP => CAST(') 2024' AS TIMESTAMP))", () => 0L) ==
      "SELECT * FROM t TIMESTAMP AS OF CAST(') 2024' AS TIMESTAMP)")
  }

  test("Snowflake travel statements run verbatim against a registered table") {
    import spark.implicits._
    val df = Seq((1L, 5.0), (2L, 6.0), (3L, 7.0)).toDF("event_id", "price")
    val t = graft.table.GraftTable.create(spark, scratchDir("sqldml-snowtravel"), df.schema)
    var now = (System.currentTimeMillis() / 1000L) * 1000L
    t.clock = () => { now += 60000L; now }
    t.append(df)
    val afterInsert = t.latest.committedAt
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("snowt", t)
    eng.execute("DELETE FROM snowt WHERE event_id = 3")
    eng.clock = () => now + 120000L
    val tsStr = java.time.Instant.ofEpochMilli(afterInsert)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    assert(eng.execute(
      s"SELECT COUNT(*) AS n FROM snowt AT(TIMESTAMP => '$tsStr'::TIMESTAMP)")
      .rows.head("n") == 3L)
    assert(eng.execute(
      s"SELECT COUNT(*) AS n FROM snowt AT(TIMESTAMP => CAST('$tsStr' AS TIMESTAMP_LTZ))")
      .rows.head("n") == 3L)
    val offSec = (eng.clock() - afterInsert) / 1000L
    assert(eng.execute(s"SELECT COUNT(*) AS n FROM snowt AT(OFFSET => -$offSec)")
      .rows.head("n") == 3L)
    assert(eng.execute("SELECT COUNT(*) AS n FROM snowt").rows.head("n") == 2L)
  }

  test("INFORMATION_SCHEMA TVFs route to files()/history(), other TVFs pass through") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val t = graft.table.GraftTable.create(spark, scratchDir("sqldml-tvf"), df.schema)
    var now = (System.currentTimeMillis() / 1000L) * 1000L
    t.clock = () => { now += 60000L; now }
    t.append(df.coalesce(1))
    val t1 = t.latest.committedAt
    t.append(Seq((3L, "c")).toDF("k", "v").coalesce(1))
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("tvft", t)
    // no-AT files listing = current snapshot's files
    val cur = eng.execute(
      "SELECT * FROM TABLE(INFORMATION_SCHEMA.ICEBERG_TABLE_FILES(TABLE_NAME => 'tvft'))")
    assert(cur.rows.size === 2)
    assert(cur.rows.map(_("row_count").asInstanceOf[Long]).sum === 3L)
    // AT => first-commit time pins the listing to that snapshot's file set
    val tsStr = java.time.Instant.ofEpochMilli(t1)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    val at = eng.execute(s"SELECT * FROM TABLE(INFORMATION_SCHEMA.ICEBERG_TABLE_FILES(" +
      s"TABLE_NAME => 'tvft', AT => CAST('$tsStr' AS TIMESTAMP_LTZ)))")
    assert(at.rows.size === 1)
    assert(at.rows.map(_("row_count").asInstanceOf[Long]).sum === 2L)
    // lenient literal forms resolve through Spark's own cast in the session
    // zone: unpadded fields and a bare string (no CAST) — same snapshot
    val tsLenient = java.time.Instant.ofEpochMilli(t1)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-M-d H:mm:ss"))
    val atBare = eng.execute(s"SELECT * FROM TABLE(INFORMATION_SCHEMA.ICEBERG_TABLE_FILES(" +
      s"TABLE_NAME => 'tvft', AT => '$tsLenient'))")
    assert(atBare.rows.size === 1)
    // refresh history = the commit history (create + two appends)
    val hist = eng.execute("SELECT * FROM TABLE(" +
      "INFORMATION_SCHEMA.ICEBERG_TABLE_SNAPSHOT_REFRESH_HISTORY(TABLE_NAME => 'tvft'))")
    assert(hist.rows.map(_("operation")) === Seq("create", "append", "append"))
    // an unregistered table fails loudly, never silently empty
    val e = intercept[UnsupportedOperationException](eng.execute(
      "SELECT * FROM TABLE(INFORMATION_SCHEMA.ICEBERG_TABLE_FILES(TABLE_NAME => 'nope'))"))
    assert(e.getMessage.contains("nope"))
    // Spark's own TVFs are untouched by the route
    val r = eng.execute("SELECT * FROM range(3)")
    assert(r.rows.size === 3)
  }

  test("ALTER ICEBERG TABLE: REFRESH no-ops with a view refresh, ADD COLUMN evolves") {
    import spark.implicits._
    val df = Seq((1L, 5.0)).toDF("event_id", "price")
    val t = graft.table.GraftTable.create(spark, scratchDir("sqldml-altice"), df.schema)
    t.append(df)
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("cl_t", t)
    eng.execute("ALTER ICEBERG TABLE cl_t REFRESH")
    eng.execute("ALTER ICEBERG TABLE cl_t ADD COLUMN mail STRING comment 'e-mail'")
    assert(t.schema.fieldNames.toSeq === Seq("event_id", "price", "mail"))
    assert(eng.execute("SELECT mail FROM cl_t").rows.map(_("mail")) == Seq(null))
    // a statement merely CONTAINING the refresh phrase is data, not a route
    val res = eng.execute("SELECT 'ALTER TABLE cl_t REFRESH' AS s")
    assert(res.rows.head("s") == "ALTER TABLE cl_t REFRESH")
  }

  test("DROP TABLE unregisters every view over the dropped table, not just its name") {
    val eng = new SparkSqlEngine(spark)
    val cat = new graft.catalogsvc.CatalogService(spark, scratchDir("sqldml-dropviews"))
    eng.registerCatalog(cat)
    eng.execute("CREATE NAMESPACE ns")
    eng.execute("CREATE TABLE ns.ev (k BIGINT) USING iceberg")
    eng.execute("INSERT INTO ns.ev VALUES (1), (2)")
    // a second view over the SAME table dir, under an unrelated name
    eng.registerGraftTable("ev_alias", cat.loadTable("ns", "ev"))
    assert(eng.execute("SELECT COUNT(*) AS n FROM ev_alias").rows.head("n") == 2L)
    eng.execute("DROP TABLE ns.ev")
    // the alias must not keep serving the dropped table's last snapshot
    val e = intercept[Exception] {
      eng.execute("SELECT COUNT(*) AS n FROM ev_alias")
    }
    assert(e.getMessage.toLowerCase.contains("ev_alias") ||
      e.getMessage.toLowerCase.contains("table or view not found") ||
      e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"))
  }

  test("an explicit empty-string column default replays as '' for old rows") {
    import spark.implicits._
    val df = Seq((1L, 5.0)).toDF("event_id", "price")
    val t = graft.table.GraftTable.create(spark, scratchDir("sqldml-emptydef"), df.schema)
    t.append(df)
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("edt", t)
    eng.execute("ALTER TABLE edt ADD COLUMN tag STRING DEFAULT ''")
    val rows = eng.execute("SELECT tag FROM edt").rows
    assert(rows.map(_("tag")) == Seq(""),
      "explicit '' default replayed as NULL for pre-evolution rows")
    // and the no-default form still replays NULL
    eng.execute("ALTER TABLE edt ADD COLUMN note STRING")
    assert(eng.execute("SELECT note FROM edt").rows.map(_("note")) == Seq(null))
  }

  test("WRITE ORDERED BY routing is anchored to the statement head") {
    val eng = new SparkSqlEngine(spark)
    val cat = new graft.catalogsvc.CatalogService(spark, scratchDir("sqldml-wob-cat"))
    eng.registerCatalog(cat)
    eng.execute("CREATE NAMESPACE wob")
    eng.execute("CREATE TABLE wob.t (a BIGINT, c STRING) USING iceberg")
    val t = cat.loadTable("wob", "t")
    // a statement merely CONTAINING the phrase (string literal) must not set
    // the sticky sort-order property — it is a plain read returning the text
    val res = eng.execute("SELECT 'ALTER TABLE wob.t WRITE ORDERED BY c' AS s")
    assert(res.rows.head("s") == "ALTER TABLE wob.t WRITE ORDERED BY c")
    assert(t.properties.get(graft.table.GraftTable.SortOrderProp).isEmpty,
      "a string literal containing the phrase set the table's sort order")
    // the real statement still routes
    eng.execute("ALTER TABLE wob.t WRITE ORDERED BY c, a")
    assert(t.properties.get(graft.table.GraftTable.SortOrderProp).contains("c,a"))
    // SHOW TBLPROPERTIES reads the versioned property store, full and keyed
    val all = eng.execute("SHOW TBLPROPERTIES wob.t").rows
    assert(all.exists(r => r("key") == graft.table.GraftTable.SortOrderProp &&
      r("value") == "c,a"))
    val one = eng.execute(
      s"SHOW TBLPROPERTIES wob.t ('${graft.table.GraftTable.SortOrderProp}')").rows
    assert(one == Seq(Map("key" -> graft.table.GraftTable.SortOrderProp, "value" -> "c,a")))
  }

  test("rewrite_data_files(where => ...) compacts only the named partition") {
    import spark.implicits._
    val df = Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "B")).toDF("k", "ds")
    val t = GraftTable.create(spark, scratchDir("sqldml-scoped"), df.schema,
      partitionCols = Seq("ds"))
    (1 to 3).foreach(_ => t.append(df))
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("sc", t)
    val beforeB = t.latest.files.filter(_.partitionValues.get("ds").contains("B")).map(_.path).toSet
    val res = eng.execute(
      """CALL graft.system.rewrite_data_files(table => 'sc', where => "ds = 'A'",
         options => map('min-input-files','2'))""").rows.head
    assert(res("rewritten_data_files_count").asInstanceOf[Long] >= 2L)
    val afterB = t.latest.files.filter(_.partitionValues.get("ds").contains("B")).map(_.path).toSet
    assert(afterB == beforeB, "a scoped compaction touched files outside its partition")
    assert(t.latest.files.count(_.partitionValues.get("ds").contains("A")) === 1,
      "partition A did not compact to one file")
    assert(t.readLatest().count() === 12L)
    // non-partition column refuses loudly
    intercept[Exception] { eng.execute(
      """CALL graft.system.rewrite_data_files(table => 'sc', where => "k = 1")""") }
  }

  test("SHOW NAMESPACES / SHOW SCHEMAS list the registered catalog's namespaces") {
    val eng = new SparkSqlEngine(spark)
    val cat = new graft.catalogsvc.CatalogService(spark, scratchDir("sqldml-showns"))
    eng.registerCatalog(cat)
    eng.execute("CREATE NAMESPACE analytics")
    eng.execute("CREATE NAMESPACE staging")
    assert(eng.execute("SHOW NAMESPACES").rows.map(_("namespace")) ==
      Seq("analytics", "staging"))
    // snowflake.sql:106's `show schemas` spelling parses to the same plan
    assert(eng.execute("SHOW SCHEMAS").rows.map(_("namespace")) ==
      Seq("analytics", "staging"))
    assert(eng.execute("SHOW NAMESPACES LIKE 'stag*'").rows.map(_("namespace")) ==
      Seq("staging"))
    // no registered catalog -> falls through to Spark's own catalog (which
    // answers with its default namespace, not CatalogService's)
    val bare = new SparkSqlEngine(spark)
    assert(!bare.execute("SHOW NAMESPACES").rows.map(_("namespace")).contains("analytics"))
  }

  test("USE namespace makes unqualified CREATE resolve against it (notebook flow)") {
    val eng = new SparkSqlEngine(spark)
    val cat = new graft.catalogsvc.CatalogService(spark, scratchDir("sqldml-usens"))
    eng.registerCatalog(cat)
    eng.execute("CREATE NAMESPACE nb")
    // unqualified create BEFORE any USE refuses loudly
    intercept[Exception] { eng.execute("CREATE TABLE orphan (k BIGINT) USING iceberg") }
    // USE of a namespace the catalog does NOT have is a no-op context-wise
    eng.execute("USE NAMESPACE default")
    intercept[Exception] { eng.execute("CREATE TABLE orphan (k BIGINT) USING iceberg") }
    // the notebook flow: USE then bare CREATE lands in the used namespace
    eng.execute("USE NAMESPACE nb")
    eng.execute("CREATE TABLE noted (k BIGINT) USING iceberg")
    assert(cat.tableExists("nb", "noted"))
    eng.execute("INSERT INTO noted VALUES (7)")
    assert(eng.execute("SELECT COUNT(*) AS n FROM noted").rows.head("n") == 1L)
    // Snowflake's `USE SCHEMA x` spelling sets the same context
    eng.execute("CREATE NAMESPACE nb2")
    eng.execute("USE SCHEMA nb2")
    eng.execute("CREATE TABLE noted2 (k BIGINT) USING iceberg")
    assert(cat.tableExists("nb2", "noted2"))
    // qualified names still win over the context
    eng.execute("CREATE TABLE nb.explicit (k BIGINT) USING iceberg")
    assert(cat.tableExists("nb", "explicit") && !cat.tableExists("nb2", "explicit"))
  }

  test("DROP NAMESPACE CASCADE unregisters the dropped tables' views") {
    val eng = new SparkSqlEngine(spark)
    val cat = new graft.catalogsvc.CatalogService(spark, scratchDir("sqldml-dropns"))
    eng.registerCatalog(cat)
    eng.execute("CREATE NAMESPACE doomed")
    eng.execute("CREATE TABLE doomed.probe (k BIGINT) USING iceberg")
    eng.execute("INSERT INTO probe VALUES (1), (2)")
    assert(eng.execute("SELECT COUNT(*) AS n FROM probe").rows.head("n") == 2L)
    eng.execute("DROP NAMESPACE doomed CASCADE")
    assert(!cat.namespaceExists("doomed"))
    assert(eng.execute("SHOW NAMESPACES").rows.isEmpty)
    // the view over the dropped table must not serve its last snapshot
    intercept[Exception] { eng.execute("SELECT COUNT(*) AS n FROM probe") }
    // plain DROP NAMESPACE refuses on a non-empty namespace, loudly
    eng.execute("CREATE NAMESPACE busy")
    eng.execute("CREATE TABLE busy.t1 (k BIGINT) USING iceberg")
    intercept[Exception] { eng.execute("DROP NAMESPACE busy") }
    assert(cat.tableExists("busy", "t1"))
  }

  test("SHOW TBLPROPERTIES on a missing key answers with a message row, not null") {
    import spark.implicits._
    val df = Seq((1L, 1.0)).toDF("k", "v")
    val t = GraftTable.create(spark, scratchDir("sqldml-showprops"), df.schema)
    t.append(df)
    t.setProperties(Map("commit.retry.num-retries" -> Some("7")))
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("pt", t)
    val hit = eng.execute("SHOW TBLPROPERTIES pt ('commit.retry.num-retries')").rows.head
    assert(hit("value") == "7")
    val miss = eng.execute("SHOW TBLPROPERTIES pt ('missing.key')").rows.head
    assert(miss("key") == "missing.key")
    assert(miss("value") == "Table pt does not have property: missing.key")
  }

  test("rewrite_data_files where-values containing the word AND stay intact") {
    import spark.implicits._
    val df = Seq((1L, "a and b"), (2L, "a and b"), (3L, "plain")).toDF("k", "ds")
    val t = GraftTable.create(spark, scratchDir("sqldml-andval"), df.schema,
      partitionCols = Seq("ds"))
    (1 to 2).foreach(_ => t.append(df))
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("av", t)
    val res = eng.execute(
      """CALL graft.system.rewrite_data_files(table => 'av', where => "ds = 'a and b'",
         options => map('min-input-files','2'))""").rows.head
    assert(res("rewritten_data_files_count").asInstanceOf[Long] >= 2L)
    assert(t.latest.files.count(_.partitionValues.get("ds").contains("a and b")) === 1)
    assert(t.latest.files.count(_.partitionValues.get("ds").contains("plain")) === 2,
      "the other partition must be untouched")
    assert(t.readLatest().count() === 6L)
    // and the splitter still honors a real conjunction around quoted values,
    // with any whitespace around the keyword
    val split = graft.sources.GraftProcedures.splitTopLevelAnd _
    assert(split("a = 'x and y' AND b = 'z'").map(_.trim) ==
      Seq("a = 'x and y'", "b = 'z'"))
    assert(split("android = 'AND'").map(_.trim) ==
      Seq("android = 'AND'"))
    assert(split("k = 1\nAND v = 1").map(_.trim) == Seq("k = 1", "v = 1"))
  }

  test("expire_snapshots(older_than => ts) bounds by commit time with retain floor") {
    import spark.implicits._
    val df = Seq((1L, 1.0)).toDF("k", "v")
    val t = GraftTable.create(spark, scratchDir("sqldml-older"), df.schema)
    (1 to 4).foreach(_ => t.append(df))
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("ot", t)
    // bound in the past: nothing is old enough
    val none = eng.execute(
      """CALL graft.system.expire_snapshots(table => 'ot',
         older_than => TIMESTAMP '2000-01-01 00:00:00')""").rows.head
    assert(none("deleted_snapshots_count") == 0L)
    // bound in the future: everything qualifies but retain_last floors at 1
    val all = eng.execute(
      """CALL graft.system.expire_snapshots(table => 'ot',
         older_than => TIMESTAMP '2100-01-01 00:00:00')""").rows.head
    assert(all("deleted_snapshots_count") == 4L)
    assert(t.snapshotsList.size === 1, "retain_last floor must keep the head")
    assert(t.readLatest().count() === 4L)
    // explicit retain_last stays a floor alongside older_than
    (1 to 2).foreach(_ => t.append(df))
    val some = eng.execute(
      """CALL graft.system.expire_snapshots(table => 'ot',
         older_than => TIMESTAMP '2100-01-01 00:00:00', retain_last => 2)""").rows.head
    assert(some("deleted_snapshots_count") == 1L)
    assert(t.snapshotsList.size === 2)
  }

  test("rollback_to_timestamp restores the newest snapshot at or before the bound") {
    import spark.implicits._
    val t = GraftTable.create(spark, scratchDir("sqldml-rbts"),
      Seq((1L, 1.0)).toDF("k", "v").schema)
    t.append(Seq((1L, 1.0)).toDF("k", "v"))
    Thread.sleep(20)
    t.append(Seq((2L, 2.0)).toDF("k", "v"))
    val target = t.latest
    Thread.sleep(20)
    t.append(Seq((3L, 3.0)).toDF("k", "v"))
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("rb", t)
    val boundIso = java.time.Instant.ofEpochMilli(target.committedAt).toString
    val res = eng.execute(
      s"CALL graft.system.rollback_to_timestamp(table => 'rb', timestamp => '$boundIso')")
      .rows.head
    assert(res("rolled_back_to") == target.snapshotId)
    assert(eng.execute("SELECT COUNT(*) AS n FROM rb").rows.head("n") == 2L)
  }

  test("VERSION AS OF resolves tags and branches by name") {
    import spark.implicits._
    val df = Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v")
    val t = GraftTable.create(spark, scratchDir("sqldml-vtag"), df.schema)
    t.append(df)
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("vt", t)
    eng.execute("ALTER TABLE vt CREATE TAG v1")
    eng.execute("ALTER TABLE vt CREATE BRANCH wip")
    eng.execute("INSERT INTO vt.branch_wip VALUES (3, 3.0)")
    eng.execute("INSERT INTO vt VALUES (4, 4.0), (5, 5.0)")
    assert(eng.execute("SELECT COUNT(*) AS n FROM vt VERSION AS OF 'v1'")
      .rows.head("n") == 2L)
    assert(eng.execute("SELECT COUNT(*) AS n FROM vt VERSION AS OF 'wip'")
      .rows.head("n") == 3L)
    assert(eng.execute("SELECT COUNT(*) AS n FROM vt").rows.head("n") == 4L)
    intercept[Exception] {
      eng.execute("SELECT COUNT(*) AS n FROM vt VERSION AS OF 'nope'")
    }
  }

  test("SQL WAP cycle: CREATE BRANCH, branch INSERT, audit read, fast_forward") {
    import spark.implicits._
    val df = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "amt")
    val t = GraftTable.create(spark, scratchDir("sqldml-wap"), df.schema)
    t.append(df)
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("wt", t)
    eng.execute("ALTER TABLE wt CREATE TAG baseline")
    eng.execute("ALTER TABLE wt CREATE BRANCH audit")
    eng.execute("INSERT INTO wt.branch_audit VALUES (3, 30.0), (4, 40.0)")
    // staged rows audit-readable on the branch, invisible on main
    assert(eng.execute("SELECT COUNT(*) AS n FROM wt.branch_audit").rows.head("n") == 4L)
    assert(eng.execute("SELECT COUNT(*) AS n FROM wt").rows.head("n") == 2L)
    val ff = eng.execute(
      "CALL graft.system.fast_forward(table => 'wt', branch => 'main', to => 'audit')")
    assert(ff.rows.head("branch_updated") == "main")
    assert(eng.execute("SELECT COUNT(*) AS n FROM wt").rows.head("n") == 4L)
    // branch ref dropped by publish; the tag still pins the pre-publish state
    assert(t.branches.isEmpty)
    assert(eng.execute("SELECT COUNT(*) AS n FROM wt.tag_baseline").rows.head("n") == 2L)
    eng.execute("ALTER TABLE wt DROP TAG baseline")
    assert(t.tags.isEmpty)
  }

  test("branch/tag DDL is anchored; DROP without IF EXISTS is loud") {
    import spark.implicits._
    val df = Seq((1L, 1.0)).toDF("id", "amt")
    val t = GraftTable.create(spark, scratchDir("sqldml-wap-neg"), df.schema)
    t.append(df)
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("wn", t)
    // a string literal containing the phrase is a plain read, not DDL
    val res = eng.execute("SELECT 'ALTER TABLE wn CREATE BRANCH b' AS s")
    assert(res.rows.head("s") == "ALTER TABLE wn CREATE BRANCH b")
    assert(t.branches.isEmpty, "a string literal created a branch")
    intercept[Exception] { eng.execute("ALTER TABLE wn DROP BRANCH nope") }
    intercept[Exception] { eng.execute("ALTER TABLE wn DROP TAG nope") }
    // IF EXISTS / IF NOT EXISTS forms are idempotent
    eng.execute("ALTER TABLE wn DROP BRANCH IF EXISTS nope")
    eng.execute("ALTER TABLE wn CREATE BRANCH IF NOT EXISTS b")
    eng.execute("ALTER TABLE wn CREATE BRANCH IF NOT EXISTS b")
    assert(t.branches.keySet == Set("b"))
    // stale publish refuses: main advanced past the branch base
    eng.execute("INSERT INTO wn VALUES (2, 2.0)")
    intercept[Exception] {
      eng.execute("CALL graft.system.fast_forward(table => 'wn', branch => 'main', to => 'b')")
    }
  }

  test("Snowflake CREATE [OR REPLACE] ICEBERG TABLE routes: transforms, replace, link") {
    val eng = new SparkSqlEngine(spark)
    val cat = new graft.catalogsvc.CatalogService(spark, scratchDir("sqldml-sfcreate"))
    eng.registerCatalog(cat)
    eng.execute("CREATE NAMESPACE analytics")
    eng.execute("USE SCHEMA analytics")
    // the reference's rendered snowflake create (create_sales_events.sql:5):
    // expression-form transforms DAY(ts) + BUCKET(16, tenant_id)
    eng.execute(
      """CREATE OR REPLACE ICEBERG TABLE sales_events (
        |  event_id BIGINT,
        |  tenant_id INT,
        |  event_ts TIMESTAMP,
        |  sku STRING,
        |  qty INT
        |)
        |PARTITION BY (
        |  DAY(event_ts),
        |  BUCKET(16, tenant_id)
        |);""".stripMargin)
    assert(cat.tableExists("analytics", "sales_events"))
    eng.execute("INSERT INTO sales_events VALUES " +
      "(1, 7, TIMESTAMP '2025-05-06 10:00:00', 'sku-1', 3), " +
      "(2, 9, TIMESTAMP '2025-05-07 11:00:00', 'sku-2', 5)")
    assert(eng.execute("SELECT COUNT(*) AS n FROM sales_events").rows.head("n") == 2L)
    // the mapped transforms actually partition the writes
    val t = cat.loadTable("analytics", "sales_events")
    val pvals = t.latest.files.flatMap(_.partitionValues.keySet).toSet
    assert(pvals == Set("event_ts_day", "tenant_id_bucket"),
      s"transform-derived partition columns missing: $pvals")
    // OR REPLACE drops and re-creates: the old rows are gone
    eng.execute(
      """CREATE OR REPLACE ICEBERG TABLE sales_events (
        |  event_id BIGINT, sku STRING
        |) TARGET_FILE_SIZE = '64MB';""".stripMargin)
    assert(eng.execute("SELECT COUNT(*) AS n FROM sales_events").rows.head("n") == 0L)
    val t2 = cat.loadTable("analytics", "sales_events")
    assert(t2.schema.fieldNames.toSeq == Seq("event_id", "sku"))
    // the account-coupled tail records as an inert property
    assert(t2.properties.get("snowflake.target_file_size").contains("64MB"))
    // plain CREATE ICEBERG TABLE (no OR REPLACE) refuses an occupied name
    intercept[IllegalStateException] {
      eng.execute("CREATE ICEBERG TABLE sales_events (x INT);")
    }
    // the SCHEMALESS form links an existing catalog table under a local name
    eng.execute("INSERT INTO sales_events VALUES (10, 'a'), (11, 'b')")
    eng.execute(
      """CREATE OR REPLACE ICEBERG TABLE external_managed_table
        |  EXTERNAL_VOLUME = 'opensnowflake'
        |  CATALOG = 'opensnowflake'
        |  CATALOG_NAMESPACE = 'analytics'
        |  CATALOG_TABLE_NAME = 'sales_events';""".stripMargin)
    assert(eng.execute("SELECT COUNT(*) AS n FROM external_managed_table")
      .rows.head("n") == 2L)
    // a link to a table the catalog does not have refuses loudly (the
    // reference's own transcript records Snowflake failing the same way)
    val e = intercept[Exception] {
      eng.execute(
        """CREATE OR REPLACE ICEBERG TABLE nope
          |  EXTERNAL_VOLUME = 'v' CATALOG = 'c'
          |  CATALOG_NAMESPACE = 'analytics' CATALOG_TABLE_NAME = 'absent';""".stripMargin)
    }
    assert(e.getMessage.contains("no table analytics.absent"))
    // a string literal containing the phrase is a plain read, never DDL
    val lit = eng.execute("SELECT 'CREATE OR REPLACE ICEBERG TABLE x (y INT)' AS s")
    assert(lit.rows.head("s").toString.contains("ICEBERG"))
  }

  test("changelog view default is full history; expired history refuses the default") {
    import spark.implicits._
    val eng = new SparkSqlEngine(spark)
    val cat = new graft.catalogsvc.CatalogService(spark, scratchDir("sqldml-clv"))
    eng.registerCatalog(cat)
    eng.execute("CREATE NAMESPACE ops")
    eng.execute("CREATE TABLE ops.ev (event_id BIGINT, qty BIGINT) USING iceberg")
    eng.execute("INSERT INTO ev VALUES (1, 3), (2, 5)")
    eng.execute("INSERT INTO ev VALUES (3, 7)")
    // default view = FULL history: the first commit's inserts are included
    eng.execute(
      "CALL opencatalog.system.create_changelog_view(table => 'ops.ev', " +
        "changelog_view => 'clv_all')")
    assert(eng.execute("SELECT COUNT(*) AS n FROM clv_all").rows.head("n") == 3L)
    // expire the early history: the default must refuse, not silently omit
    val t = cat.loadTable("ops", "ev")
    graft.maintenance.Maintenance.expireSnapshots(t, retainLast = 1)
    val e = intercept[Exception] {
      eng.execute(
        "CALL opencatalog.system.create_changelog_view(table => 'ops.ev', " +
          "changelog_view => 'clv_gone')")
    }
    def messages(ex: Throwable): Seq[String] =
      Option(ex).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("start-snapshot-id")),
      s"refusal must name the explicit-start remediation: ${messages(e).take(3)}")
    // an explicit retained start still works
    val head = t.latest.snapshotId
    eng.execute("INSERT INTO ev VALUES (4, 9)")
    eng.execute(
      "CALL opencatalog.system.create_changelog_view(table => 'ops.ev', " +
        s"changelog_view => 'clv_tail', options => map('start-snapshot-id', '$head'))")
    assert(eng.execute("SELECT COUNT(*) AS n FROM clv_tail").rows.head("n") == 1L)
  }

  test("materialized view lifecycle: create, incremental refresh, drop") {
    val (eng, t) = mkTable("sqldml-mv")
    eng.execute("CREATE MATERIALIZED VIEW mv AS SELECT channel, " +
      "COUNT(*) AS n, SUM(price) AS total FROM sales GROUP BY channel")
    def mvRows() = eng.execute("SELECT channel, n, total FROM mv ORDER BY channel")
      .rows.map(r => (r("channel"), r("n"),
        r("total").asInstanceOf[java.math.BigDecimal].doubleValue()))
    assert(mvRows() == Seq(("app", 2L, 12.0), ("store", 1L, 8.0), ("web", 1L, 6.0)))
    // source DML, then an O(delta) refresh — counts and sums move exactly
    eng.execute("INSERT INTO sales VALUES (16, 14, 3.5, 'web')")
    eng.execute("DELETE FROM sales WHERE event_id = 8") // COW delete...
    intercept[Exception] { // ...which the changelog refuses loudly
      eng.execute("REFRESH MATERIALIZED VIEW mv")
    }
    val (eng2, t2) = mkTable("sqldml-mv2")
    eng2.execute("CREATE MATERIALIZED VIEW mv AS SELECT channel, " +
      "COUNT(*) AS n, SUM(price) AS total FROM sales GROUP BY channel")
    eng2.execute("INSERT INTO sales VALUES (16, 14, 3.5, 'web')")
    graft.dml.Dml.deleteMorKeys(t2, {
      import spark.implicits._
      Seq(Tuple1(8L)).toDF("event_id")
    })
    val r = eng2.execute("REFRESH MATERIALIZED VIEW mv")
    assert(r.rows.head("refreshed") == true)
    val rows2 = eng2.execute("SELECT channel, n, total FROM mv ORDER BY channel")
      .rows.map(x => (x("channel"), x("n"),
        x("total").asInstanceOf[java.math.BigDecimal].doubleValue()))
    assert(rows2 == Seq(("app", 2L, 12.0), ("web", 2L, 9.5)),
      "store reached zero rows and must leave the view")
    // idle refresh is a no-op, not a double-apply
    assert(eng2.execute("REFRESH MATERIALIZED VIEW mv").rows.head("refreshed") == false)
    eng2.execute("DROP MATERIALIZED VIEW mv")
    intercept[Exception] { eng2.execute("REFRESH MATERIALIZED VIEW mv") }
    eng2.execute("DROP MATERIALIZED VIEW IF EXISTS mv") // idempotent form
  }

  test("materialized view refuses unsupported shapes and non-MV targets") {
    val (eng, _) = mkTable("sqldml-mv-neg")
    intercept[Exception] { // AVG is not maintainable by count/sum deltas alone
      eng.execute("CREATE MATERIALIZED VIEW bad AS SELECT channel, " +
        "AVG(price) AS a FROM sales GROUP BY channel")
    }
    intercept[Exception] { // plain table is not an MV
      eng.execute("REFRESH MATERIALIZED VIEW sales")
    }
    intercept[Exception] { eng.execute("DROP MATERIALIZED VIEW sales") }
    intercept[Exception] { // an MV must not silently shadow a table name
      eng.execute("CREATE MATERIALIZED VIEW sales AS SELECT channel, " +
        "COUNT(*) AS n, SUM(price) AS s FROM sales GROUP BY channel")
    }
  }

  test("materialized view name cannot be rebound to a different source") {
    val (eng, _) = mkTable("sqldml-mv-rebind")
    import spark.implicits._
    val other = Seq((1L, 2.0, "x")).toDF("id", "amount", "grp")
    val t2 = GraftTable.create(spark, scratchDir("sqldml-mv-rebind-2"), other.schema)
    t2.append(other)
    eng.registerGraftTable("other", t2)
    eng.execute("CREATE MATERIALIZED VIEW mv AS SELECT channel, " +
      "COUNT(*) AS n, SUM(price) AS s FROM sales GROUP BY channel")
    intercept[Exception] { // same name, DIFFERENT source: must refuse
      eng.execute("CREATE MATERIALIZED VIEW mv AS SELECT grp, " +
        "COUNT(*) AS n, SUM(amount) AS s FROM other GROUP BY grp")
    }
    // IF NOT EXISTS keeps the ORIGINAL definition, never rebinds
    eng.execute("CREATE MATERIALIZED VIEW IF NOT EXISTS mv AS SELECT grp, " +
      "COUNT(*) AS n, SUM(amount) AS s FROM other GROUP BY grp")
    val cols = eng.execute("SELECT * FROM mv").rows.head.keySet
    assert(cols.contains("channel") && !cols.contains("grp"),
      s"mv must still be the sales view: $cols")
  }

  test("rewrite_data_files strategy 'sort' routes both spellings; bad strategy is loud") {
    import spark.implicits._
    val df = (1 to 200).map(i => (i.toLong, (i * 7 % 200).toLong)).toDF("a", "b")
    val t = GraftTable.create(spark, scratchDir("sqldml-sortrw"), df.schema)
    t.append(df.repartition(4))
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("srt", t)
    val row = eng.execute(
      """CALL opencatalog.system.rewrite_data_files(table => 'srt',
         strategy => 'sort', sort_order => 'a ASC',
         options => map('target-file-size-bytes', '2048'))""").rows.head
    assert(row("rewritten_data_files_count").asInstanceOf[Long] >= 1L)
    assert(row("added_data_files_count").asInstanceOf[Long] >= 1L)
    // content preserved and the registered view sees the rewrite
    assert(eng.execute("SELECT CAST(SUM(a) AS BIGINT) AS s FROM srt")
      .rows.head("s") == (200L * 201L) / 2)
    // zorder spelling routes to the z-rewrite
    val zrow = eng.execute(
      """CALL opencatalog.system.rewrite_data_files(table => 'srt',
         strategy => 'sort', sort_order => 'zorder(a, b)')""").rows.head
    assert(zrow("added_data_files_count").asInstanceOf[Long] >= 1L)
    // refusals: unknown strategy; sort_order without the strategy
    intercept[UnsupportedOperationException] {
      eng.execute(
        "CALL opencatalog.system.rewrite_data_files(table => 'srt', strategy => 'shuffle')")
    }
    intercept[UnsupportedOperationException] {
      eng.execute(
        "CALL opencatalog.system.rewrite_data_files(table => 'srt', sort_order => 'a')")
    }
  }

  test("ANALYZE TABLE table-level route: NOSCAN answers from metadata") {
    val (eng, t) = mkTable("sqldml-analyze")
    eng.execute("ANALYZE TABLE sales COMPUTE STATISTICS NOSCAN")
    assert(t.properties(graft.table.GraftTable.StatsRowCountProp) == "4")
    eng.execute("ANALYZE TABLE sales COMPUTE STATISTICS FOR COLUMNS channel")
    assert(t.properties(
      s"${graft.table.GraftTable.StatsColPrefix}channel.ndv") == "3")
  }

  test("register_table attaches an external dir; refusals are loud") {
    import spark.implicits._
    val eng = new SparkSqlEngine(spark)
    val cat = new graft.catalogsvc.CatalogService(spark, scratchDir("sqldml-reg"))
    eng.registerCatalog(cat)
    eng.execute("CREATE NAMESPACE reg")
    val extDir = scratchDir("sqldml-reg-ext") + "/t"
    val df = Seq((1L, 2.0)).toDF("id", "v").coalesce(1)
    val ext = GraftTable.create(spark, extDir, df.schema)
    ext.append(df)
    val row = eng.execute(
      s"CALL opencatalog.system.register_table(table => 'reg.ev', metadata_file => '$extDir')")
      .rows.head
    assert(row("total_records_count") == 1L)
    // the registered name is live: DML through the catalog hits the
    // EXTERNAL table (shared metadata, Iceberg register semantics)
    eng.execute("INSERT INTO reg.ev VALUES (2, 3.0)")
    assert(ext.readLatest().count() == 2)
    // duplicate registration refuses
    intercept[Exception] {
      eng.execute(
        s"CALL opencatalog.system.register_table(table => 'reg.ev', metadata_file => '$extDir')")
    }
    // registering a non-table location refuses
    intercept[Exception] {
      eng.execute(
        "CALL opencatalog.system.register_table(table => 'reg.ev2', metadata_file => '/nonexistent')")
    }
    // dropping the registration never touches the external table
    eng.execute("DROP TABLE reg.ev")
    assert(!cat.tableExists("reg", "ev"))
    assert(GraftTable.exists(spark, extDir) && ext.readLatest().count() == 2)
  }

  test("a registered name cannot be shadowed and a dead pointer stays droppable") {
    import spark.implicits._
    val cat = new graft.catalogsvc.CatalogService(spark, scratchDir("sqldml-reg2"))
    cat.createNamespace("reg")
    val extRoot = scratchDir("sqldml-reg2-ext")
    val extDir = extRoot + "/t"
    val df = Seq((1L, 2.0)).toDF("id", "v").coalesce(1)
    GraftTable.create(spark, extDir, df.schema).append(df)
    cat.registerTable("reg", "ev", extDir)
    // creating over the registered name refuses — it would shadow the pointer
    intercept[IllegalStateException] {
      cat.createTable("reg", "ev", df.schema)
    }
    // the external table vanishes out from under the registration...
    def rm(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rm); p.delete()
    }
    rm(new java.io.File(extDir))
    assert(!cat.tableExists("reg", "ev"))
    // ...it still LISTS (lifecycle ops must see it), is droppable, and the
    // name frees up
    assert(cat.listTables("reg").contains("ev"))
    // re-registering OVER the dead pointer refuses — same occupancy rule as
    // createTable's shadow-refusal; the operator must drop first
    val ext3 = scratchDir("sqldml-reg2-ext3") + "/t"
    GraftTable.create(spark, ext3, df.schema).append(df)
    val eDead = intercept[IllegalStateException] {
      cat.registerTable("reg", "ev", ext3)
    }
    assert(eDead.getMessage.contains("already a registration"))
    cat.dropTable("reg", "ev")
    cat.createTable("reg", "ev", df.schema)
    assert(cat.tableExists("reg", "ev"))
    // a namespace holding a dead registration cascade-drops cleanly
    cat.createNamespace("reg2")
    val ext2 = scratchDir("sqldml-reg2-ext2") + "/t"
    GraftTable.create(spark, ext2, df.schema).append(df)
    cat.registerTable("reg2", "dead", ext2)
    rm(new java.io.File(ext2))
    cat.dropNamespaceCascade("reg2")
    assert(!cat.namespaceExists("reg2"))
  }
}
