package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalogsvc.CatalogService
import graft.dml.Dml
import graft.flow.{Saga, StateStore}
import graft.gen.Synthesize
import graft.plan._
import graft.table.GraftTable

/** The harness/dataflow operator family (SURVEY.md §2.14, H1-H16 + S11)
  * exposed as driver-checkable queries. Each entry drives the real component
  * and emits its observable behavior as rows with a literal-VALUES oracle —
  * the components' semantics are fixed, so their outputs are constants.
  */
object HarnessQueries {
  type Q = (SparkSession, String) => DataFrame

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmTree)
    f.delete()
  }

  private def scratch(name: String): String = {
    val dir = new java.io.File(s"/root/repo/target/graft-scratch/$name")
    if (dir.exists()) rmTree(dir)
    dir.mkdirs()
    dir.toString
  }

  val queries: Map[String, Q] = Map(
    // H10/H5-H8 — the reference's spark_open_crud plan shape end-to-end
    // (framework.yaml:367-452): create → insert → read → update → read →
    // delete → read, with validators over shared state.
    "h_plan_crud" -> ((s, _) => {
      import s.implicits._
      val dir = scratch("plan_crud")
      val engine = new SparkSqlEngine(s)
      var table: GraftTable = null
      def refresh(): Unit = table.readLatest().createOrReplaceTempView("sales_plan")
      val steps = Seq(
        Step.action("create_table", _ => {
          table = GraftTable.create(s, dir, graft.model.Schemas.salesEvents); Nil
        }),
        Step.action("bulk_insert", _ => {
          table.append(Synthesize.salesEvents8(s)); refresh()
          Seq(Map("row_count" -> 8L))
        }, Seq(RowcountEquals("{{ dataset.rows }}"))),
        Step.sql("read_baseline", engine,
          "SELECT COUNT(*) AS row_count FROM sales_plan",
          Seq(RowcountEquals("8"), StoreRowcountAs("baseline_rowcount"))),
        Step.sql("store_rows", engine,
          "SELECT event_id, qty FROM sales_plan ORDER BY event_id",
          Seq(StoreRowsAs("baseline_rows"))),
        Step.action("update_row", _ => {
          Dml.update(table, col("event_id") === 1, Map("qty" -> lit(30))); refresh(); Nil
        }),
        Step.sql("read_after_update", engine,
          "SELECT COUNT(*) AS row_count FROM sales_plan",
          Seq(RowcountEquals("{{ state.baseline_rowcount }}"))),
        Step.action("delete_row", _ => {
          Dml.delete(table, col("event_id") === 8); refresh(); Nil
        }),
        Step.sql("read_after_delete", engine,
          "SELECT COUNT(*) AS row_count FROM sales_plan",
          Seq(RowcountEquals("{{ state.baseline_rowcount - 1 }}"), RowcountAtLeast("1"))),
        Step.sql("rows_changed", engine,
          "SELECT event_id, qty FROM sales_plan ORDER BY event_id",
          // baseline had 8 rows incl. pre-update qty — must NOT equal now
          Seq(CompareRowsWithState("baseline_rows")), continueOnError = true))
      val report = PlanRunner.run("spark_open_crud", steps,
        vars = Map("dataset.rows" -> 8))
      report.steps.map(r => (r.name, r.status, r.validations.count(_.passed).toLong))
        .toDF("step", "status", "n_validations_passed")
        .orderBy("step")
    }),

    // H1 — strict template render incl. state arithmetic
    "h_template_render" -> ((s, _) => {
      import s.implicits._
      Seq(
        ("basic", Sql.render("SELECT * FROM {{ ns }}.sales LIMIT {{ n }}",
          Map("ns" -> "demo", "n" -> 10))),
        ("arithmetic", Sql.render("expect {{ rows - 1 }} of {{ rows }}", Map("rows" -> 8))),
        ("strict_undefined", try { Sql.render("{{ missing }}", Map.empty); "no-error" }
          catch { case _: IllegalArgumentException => "raised" }),
        // F9 — the filters the reference templates use (create_sales_events
        // .sql:7,13-26): `| upper`, `| join`, `| default`, `~` concat.
        ("filter_upper", Sql.render("{{ col_type | upper }}", Map("col_type" -> "string"))),
        ("filter_join", Sql.render("({{ cols | join(', ') }})",
          Map("cols" -> Seq("event_id", "qty", "price")))),
        ("filter_default", Sql.render("{{ transform | default('identity') | lower }}", Map.empty)),
        ("concat", Sql.render("{{ 'DAY(' ~ part_col ~ ')' }}", Map("part_col" -> "event_ts"))))
        .toDF("case", "rendered").orderBy("case")
    }),

    // F9 blocks — the reference's CREATE-TABLE template shape end-to-end:
    // {% for %} with loop.last, {% if/elif/else %}, {% set %}, whitespace
    // control, filters, ~ concat, dotted map access (ref
    // create_sales_events.sql:5-30). Output = trimmed non-empty lines.
    "h_template_blocks" -> ((s, _) => {
      import s.implicits._
      val template =
        """CREATE TABLE {{ table_name }} (
          |{%- for column in columns %}
          |  {{ column.name }} {{ column.type | upper }}{% if not loop.last %},{% endif %}
          |{%- endfor %}
          |)
          |{%- if partition_spec %}
          |PARTITION BY (
          |{%- for partition in partition_spec %}
          |{%- set t = partition.transform | default('identity') | lower %}
          |{%- if t == 'days' %}
          |{%- set expression = 'DAY(' ~ partition.column ~ ')' %}
          |{%- elif t == 'bucket' and partition.num_buckets %}
          |{%- set expression = 'BUCKET(' ~ partition.num_buckets ~ ', ' ~ partition.column ~ ')' %}
          |{%- else %}
          |{%- set expression = partition.column %}
          |{%- endif %}
          |  {{ expression }}{% if not loop.last %},{% endif %}
          |{%- endfor %}
          |)
          |{%- endif %}""".stripMargin
      val columns = graft.model.Schemas.salesEvents.fields.toSeq
        .map(f => Map("name" -> f.name, "type" -> f.dataType.sql.toLowerCase))
      val vars = Map(
        "table_name" -> "sales_events",
        "columns" -> columns,
        "partition_spec" -> Seq(
          Map("column" -> "event_ts", "transform" -> "days"),
          Map("column" -> "tenant_id", "transform" -> "bucket", "num_buckets" -> 8),
          Map("column" -> "country")))
      Sql.render(template, vars).linesIterator.map(_.trim).filter(_.nonEmpty)
        .zipWithIndex.map { case (line, i) => (i.toLong, line) }
        .toSeq.toDF("idx", "line").orderBy("idx")
    }),

    // H11 — script-resolution matrix (ref framework/config.py:69-78): the
    // engine×catalog grid resolved against a scripts map with `*` wildcards
    // at both levels; unresolvable cells surface as 'raised' (the reference
    // raises KeyError).
    "h_script_matrix" -> ((s, _) => {
      import s.implicits._
      val tc = TestCase("interop_read", Map(
        "spark" -> Map("open" -> "sql/spark/open_catalog/read.sql",
          "*" -> "sql/spark/any/read.sql"),
        "trino" -> Map("unity" -> "sql/trino/unity/read.sql"),
        "*" -> Map("open" -> "sql/common/open/read.sql",
          "*" -> "sql/common/read.sql")))
      val rows = for {
        engine <- Seq("spark", "trino", "snowflake")
        catalog <- Seq("open", "unity", "glue")
      } yield {
        val resolved = try tc.resolveScript(engine, catalog)
          catch { case _: NoSuchElementException => "raised" }
        (engine, catalog, resolved)
      }
      rows.toDF("engine", "catalog", "script").orderBy("engine", "catalog")
    }),

    // H2/H3 — statement split (quotes + comments) and capture classification
    "h_statement_split" -> ((s, _) => {
      import s.implicits._
      val script =
        """CREATE TABLE t (a INT); -- a comment; with a semicolon
          |INSERT INTO t VALUES ('a;b');
          |SELECT * FROM t""".stripMargin
      Sql.split(script).zipWithIndex.map { case (stmt, i) =>
        (i.toLong, stmt.split("\\s+").head.toUpperCase, Sql.capturesRows(stmt))
      }.toDF("idx", "first_keyword", "captures_rows").orderBy("idx")
    }),

    // H9 — rowcount derivation ladder over the reference's probe shapes
    "h_rowcount_derivation" -> ((s, _) => {
      import s.implicits._
      def res(rows: Seq[Map[String, Any]]) = StatementResult("probe", rows, None)
      Seq(
        ("count_key", Validators.deriveRowcount(res(Seq(Map("COUNT(*)" -> 7L)))).get),
        ("single_numeric", Validators.deriveRowcount(res(Seq(Map("n" -> 42L)))).get),
        ("row_fallback", Validators.deriveRowcount(
          res(Seq(Map("a" -> "x"), Map("a" -> "y"), Map("a" -> "z")))).get))
        .toDF("case", "derived").orderBy("case")
    }),

    // H12/H13 — adapter cache identity + median-of-N
    "h_factory_timing" -> ((s, _) => {
      import s.implicits._
      val factory = new EngineFactory(s)
      factory.get("spark", "open"); factory.get("spark", "open"); factory.get("spark", "unity")
      Seq(("factory_cache_size", factory.size.toDouble),
        ("median_odd", Timing.median(Seq(3.0, 1.0, 2.0))),
        ("median_even", Timing.median(Seq(4.0, 1.0, 2.0, 3.0))))
        .toDF("case", "value").orderBy("case")
    }),

    // H15 — saga compensation ordering on mid-plan failure
    "h_saga_compensation" -> ((s, _) => {
      import s.implicits._
      val log = scala.collection.mutable.ArrayBuffer[String]()
      val report = Saga.run(Seq(
        Saga.SagaStep("provision_storage", () => log += "a", () => log += "undo_a"),
        Saga.SagaStep("create_catalog", () => log += "b", () => log += "undo_b"),
        Saga.SagaStep("grant_access", () => throw new RuntimeException("denied"), () => ()),
        Saga.SagaStep("smoke_check", () => log += "d", () => ())))
      val stepRows = report.steps.map(st => ("step", st.name, st.status))
      val compRows = report.compensations.zipWithIndex.map { case (c, i) =>
        ("compensation_" + i, c.name, c.status)
      }
      (stepRows ++ compRows).toDF("phase", "name", "status").orderBy("phase", "name")
    }),

    // H16 — idempotent provisioning over the JSON state store
    "h_state_store" -> ((s, _) => {
      import s.implicits._
      val store = new StateStore(scratch("state_store"))
      var creates = 0
      def provision() = store.ensure("catalog", "demo") {
        creates += 1; Map("name" -> "demo", "status" -> "ready")
      }
      provision(); val rec = provision() // second call must not re-create
      store.put("catalog", "other", Map("name" -> "other", "status" -> "ready"))
      Seq((store.list("catalog").mkString(","), rec("status"), creates.toLong,
        store.delete("catalog", "other"), store.list("catalog").mkString(",")))
        .toDF("records", "status", "n_creates", "deleted", "after_delete")
    }),

    // H14 — API test suite with PASS/EXP/FAIL classification and capture
    // hooks, mirroring the reference tester's committed transcript shape
    // (opencatalog/README.md:157-201: reads, writes, expected-failure cases,
    // cleanup ordered tables-before-namespace)
    "h_api_suite" -> ((s, dir) => {
      import s.implicits._
      import graft.catalogsvc.ApiTester._
      val cat = new graft.catalogsvc.CatalogService(s, scratch("api_suite"))
      val schema = Tables.nation(s, dir).schema
      val report = run(Seq(
        ApiTest("create_namespace", _ => cat.createNamespace("api_ns")),
        ApiTest("create_namespace_dup", _ => cat.createNamespace("api_ns"), expectError = true),
        ApiTest("list_namespaces", _ => cat.listNamespaces().mkString(","), captureAs = Some("ns_list")),
        ApiTest("head_namespace", ctx => {
          require(cat.namespaceExists("api_ns")); ctx("ns_list")
        }),
        ApiTest("create_table", _ => cat.createTable("api_ns", "nation_t", schema)),
        ApiTest("describe_missing_table", _ => cat.loadTable("api_ns", "ghost"), expectError = true),
        ApiTest("create_view", _ => cat.createView("api_ns", "v1", "SELECT 1 AS one")),
        ApiTest("replace_view", _ => cat.replaceView("api_ns", "v1", "SELECT 2 AS two")),
        ApiTest("replace_missing_view", _ => cat.replaceView("api_ns", "ghost", "SELECT 3"),
          expectError = true),
        ApiTest("report_metrics", _ => cat.reportMetrics("api_ns", "nation_t", Map("rows" -> 25L))),
        ApiTest("drop_namespace_nonempty", _ => cat.dropNamespace("api_ns"), expectError = true),
        ApiTest("cleanup_cascade", _ => cat.dropNamespaceCascade("api_ns"))))
      report.outcomes.map(o => (o.name, o.status))
        .toDF("test", "status").orderBy("test")
    }),

    // Stats pruning surfaced into the SQL engine path (VERDICT r7 #8): a
    // plain SQL range predicate over a registered snapshot-table view must
    // skip files the same way the dedicated readBetween entry does. Four
    // disjoint-range commits, one BETWEEN-shaped statement, and the engine's
    // observed (scanned, total) ride the hash-checked output next to the
    // aggregate — so both wrong rows and a pruning regression go red.
    "h_sql_pruned_read" -> ((s, dir) => {
      import s.implicits._
      val data = Tables.lineitem(s, dir).filter(col("l_orderkey") < 1000)
      val t = GraftTable.create(s, scratch("sql_pruned"), data.schema)
      Seq((0L, 250L), (250L, 500L), (500L, 750L), (750L, 1000L)).foreach { case (lo, hi) =>
        t.append(data.filter(col("l_orderkey") >= lo && col("l_orderkey") < hi).coalesce(1))
      }
      val engine = new SparkSqlEngine(s)
      engine.registerGraftTable("li_sql", t)
      val res = engine.execute(
        """SELECT COUNT(*) AS row_count,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
           FROM li_sql WHERE l_orderkey >= 300 AND l_orderkey <= 600""")
      val (scanned, total) = engine.lastPrune("li_sql")
      val m = res.rows.head
      Seq((m("row_count").asInstanceOf[Long], m("sum_qty").asInstanceOf[Double],
        scanned.toLong, total.toLong))
        .toDF("row_count", "sum_qty", "n_files_scanned", "n_files_total")
    }),

    // SQL-surface DML routed to the table layer (the reference's own script
    // shapes: update_sales_events.sql, delete_sales_events.sql, the
    // snowflake merge_sales_events.sql): UPDATE, DELETE, and a MERGE with
    // matched-update + not-matched-insert run as plain SQL statements
    // through the engine, each committing a copy-on-write snapshot; the
    // final read rides the hash-checked output with the snapshot count as
    // proof all three DML statements committed.
    "h_sql_dml" -> ((s, dir) => {
      import s.implicits._
      val data = Tables.orders(s, dir).filter(col("o_orderkey") < 300)
      val t = GraftTable.create(s, scratch("sql_dml"), data.schema)
      t.append(data)
      Tables.orders(s, dir).createOrReplaceTempView("h_sqldml_orders_src")
      val engine = new SparkSqlEngine(s)
      engine.registerGraftTable("sales", t)
      // additive, not multiplicative: the update must stay exact at 2dp so
      // the decimal-cast checksum is engine-portable (Fmt's half-up/half-even
      // rule; SqlDmlSpec covers the multiplicative shape)
      engine.execute(
        "UPDATE sales SET o_totalprice = o_totalprice + 100.0 WHERE o_orderstatus = 'F'")
      engine.execute("DELETE FROM sales WHERE o_orderkey % 10 = 7")
      engine.execute("""
        MERGE INTO sales AS tgt
        USING (SELECT o_orderkey, o_custkey, o_orderstatus,
                      o_totalprice + 1000.0 AS o_totalprice, o_orderdate, o_orderpriority
               FROM h_sqldml_orders_src WHERE o_orderkey >= 280 AND o_orderkey < 320) AS src
        ON tgt.o_orderkey = src.o_orderkey
        WHEN MATCHED THEN UPDATE SET o_totalprice = src.o_totalprice
        WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_orderstatus,
          o_totalprice, o_orderdate, o_orderpriority)
        VALUES (src.o_orderkey, src.o_custkey, src.o_orderstatus,
          src.o_totalprice, src.o_orderdate, src.o_orderpriority)""")
      val res = engine.execute(
        """SELECT COUNT(*) AS row_count,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price
           FROM sales""")
      val m = res.rows.head
      Seq((m("row_count").asInstanceOf[Long], m("sum_price").asInstanceOf[Double],
        t.snapshotsList.size.toLong))
        .toDF("row_count", "sum_price", "n_snapshots")
    }),

    // The reference's spark script suite verbatim (bulk_insert → read →
    // update → delete → time_travel_validate, template placeholders
    // rendered — including the `{{ target_namespace }}.{{ table_name }}`
    // qualification every rendered statement carries): INSERT VALUES,
    // metadata-table read, COW DML, and VERSION AS OF all as plain SQL
    // through one engine. Fully deterministic — the
    // VALUES rows are the reference's own — so the oracle is literal.
    "h_sql_script_suite" -> ((s, _) => {
      import s.implicits._
      val eng = new SparkSqlEngine(s)
      val cat = new CatalogService(s, scratch("sql_script_suite"))
      eng.registerCatalog(cat)
      eng.execute("CREATE NAMESPACE IF NOT EXISTS analytics")
      eng.execute("""
        CREATE TABLE IF NOT EXISTS analytics.sales_events (
          event_id BIGINT, tenant_id BIGINT, event_ts TIMESTAMP_NTZ, sku STRING,
          qty BIGINT, price DOUBLE, country STRING, ds DATE
        ) USING iceberg
        PARTITIONED BY (days(event_ts))
        TBLPROPERTIES ('write.distribution-mode'='hash')""")
      eng.execute("ALTER TABLE analytics.sales_events WRITE ORDERED BY event_ts, tenant_id")
      val t = cat.loadTable("analytics", "sales_events")
      eng.execute("""
        INSERT INTO analytics.sales_events VALUES
          (1, 10, TIMESTAMP '2024-01-01 00:00:00', 'sku-0001', 3, 19.99, 'US', DATE '2024-01-01'),
          (2, 11, TIMESTAMP '2024-01-01 00:05:00', 'sku-0002', 5, 5.00, 'US', DATE '2024-01-01'),
          (3, 12, TIMESTAMP '2024-01-02 09:30:00', 'sku-0003', 2, 10.00, 'GB', DATE '2024-01-02'),
          (4, 13, TIMESTAMP '2024-01-02 10:45:00', 'sku-0004', 8, 7.50, 'FR', DATE '2024-01-02'),
          (5, 10, TIMESTAMP '2024-01-03 12:00:00', 'sku-0005', 1, 99.99, 'US', DATE '2024-01-03'),
          (6, 11, TIMESTAMP '2024-01-03 13:25:00', 'sku-0002', 10, 5.00, 'US', DATE '2024-01-03'),
          (7, 12, TIMESTAMP '2024-01-04 15:55:00', 'sku-0003', 4, 11.00, 'GB', DATE '2024-01-04'),
          (8, 13, TIMESTAMP '2024-01-05 16:10:00', 'sku-0004', 6, 7.50, 'FR', DATE '2024-01-05')""")
      val baseline = eng.execute(
        """SELECT snapshot_id, committed_at FROM analytics.sales_events.snapshots
           ORDER BY committed_at DESC LIMIT 1""").rows.head("snapshot_id").asInstanceOf[Long]
      eng.execute("UPDATE analytics.sales_events SET price = price * 1.1 WHERE event_id = 1")
      eng.execute("DELETE FROM analytics.sales_events WHERE event_id = 8")
      val cur = eng.execute(
        """SELECT COUNT(*) AS c, CAST(SUM(qty) AS BIGINT) AS q
           FROM analytics.sales_events""").rows.head
      val base = eng.execute(
        s"""SELECT COUNT(*) AS c, CAST(SUM(qty) AS BIGINT) AS q
            FROM analytics.sales_events VERSION AS OF $baseline""").rows.head
      Seq((cur("c").asInstanceOf[Long], cur("q").asInstanceOf[Long],
        base("c").asInstanceOf[Long], base("q").asInstanceOf[Long],
        t.snapshotsList.size.toLong))
        .toDF("current_rows", "current_qty", "baseline_rows", "baseline_qty", "n_snapshots")
    }),

    // A1/A-pushdown as plain SQL: whole-table COUNT(*)/COUNT(col)/MIN/MAX
    // answer from snapshot metadata with NO scan — proven by destroying the
    // data files before the statement runs (the values still match the
    // oracle's lineitem-derived aggregates because the metadata recorded
    // them at write time).
    "h_sql_meta_agg" -> ((s, dir) => {
      import s.implicits._
      val data = Tables.lineitem(s, dir).filter(col("l_orderkey") < 700)
      val t = GraftTable.create(s, scratch("sql_meta_agg"), data.schema)
      t.append(data)
      val engine = new SparkSqlEngine(s)
      engine.registerGraftTable("li_meta", t)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(s"${t.tableDir}/data"))
      val m = engine.execute(
        """SELECT COUNT(*) AS row_count, COUNT(l_quantity) AS nn_qty,
                  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
                  MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
           FROM li_meta""").rows.head
      Seq((m("row_count").asInstanceOf[Long], m("nn_qty").asInstanceOf[Long],
        m("min_qty").asInstanceOf[Double], m("max_qty").asInstanceOf[Double],
        m("min_key").asInstanceOf[Long], m("max_key").asInstanceOf[Long]))
        .toDF("row_count", "nn_qty", "min_qty", "max_qty", "min_key", "max_key")
    }),

    // T1/T2 through the SNOWFLAKE dialect (VERDICT r8 ask #8; the
    // reference's snowflake.sql:359-361 travel section): `AT(TIMESTAMP =>
    // '...'::TIMESTAMP_LTZ)` and `AT(OFFSET => <negative seconds>)` run
    // VERBATIM — a pre-parse rewrite translates postfix casts and AT
    // clauses to Spark's TIMESTAMP AS OF, with the offset resolved against
    // the engine clock (readOffsetAsOf's contract surfaced as SQL text).
    "h_sql_snowflake_travel" -> ((s, dir) => {
      import s.implicits._
      val data = Tables.lineitem(s, dir).filter(col("l_orderkey") < 500)
      val t = GraftTable.create(s, scratch("sql_snow_travel"), data.schema)
      var now = (System.currentTimeMillis() / 1000L) * 1000L
      t.clock = () => { now += 60000L; now }
      t.append(data) // the baseline snapshot, committed at T1
      val afterInsert = t.latest.committedAt
      val engine = new SparkSqlEngine(s)
      engine.registerGraftTable("li_snow", t)
      engine.execute("DELETE FROM li_snow WHERE l_returnflag = 'R'")
      engine.clock = () => now + 120000L // statement time: after both commits
      val tsStr = java.time.Instant.ofEpochMilli(afterInsert)
        .atZone(java.time.ZoneOffset.UTC).toLocalDateTime
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
      val q = "COUNT(*) AS c, CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) " +
        "AS DECIMAL(18,2)) AS DOUBLE) AS q"
      val tsForm = engine.execute(
        s"SELECT $q FROM li_snow AT(TIMESTAMP => '$tsStr'::TIMESTAMP_LTZ)").rows.head
      val offSec = (engine.clock() - afterInsert) / 1000L
      val offForm = engine.execute(
        s"SELECT $q FROM li_snow AT(OFFSET => -$offSec)").rows.head
      val curForm = engine.execute(s"SELECT $q FROM li_snow").rows.head
      Seq((tsForm("c").asInstanceOf[Long], tsForm("q").asInstanceOf[Double],
        offForm("c").asInstanceOf[Long], offForm("q").asInstanceOf[Double],
        curForm("c").asInstanceOf[Long], curForm("q").asInstanceOf[Double]))
        .toDF("ts_rows", "ts_qty", "off_rows", "off_qty", "cur_rows", "cur_qty")
    }),

    // The SNOWFLAKE-engine create chain VERBATIM (the reference's rendered
    // per-engine template `iceberg-tests/sql/snowflake/open_catalog/
    // create_sales_events.sql:5` + `bulk_insert_sales_events.sql:4-14`, and
    // snowflake.sql:131's OR REPLACE + schemaless-link forms): `CREATE OR
    // REPLACE ICEBERG TABLE` with expression-form `PARTITION BY (DAY(ts),
    // BUCKET(16, tenant_id))` transforms, the postfix-cast INSERT, OR
    // REPLACE as drop-and-create with the account-coupled tail recorded
    // inert, and the schemaless form linking an existing catalog table
    // under a local name.
    "h_sql_snowflake_create" -> ((s, _) => {
      import s.implicits._
      val eng = new SparkSqlEngine(s)
      val cat = new CatalogService(s, scratch("sql_sfcreate"))
      eng.registerCatalog(cat)
      eng.execute("CREATE SCHEMA IF NOT EXISTS analytics")
      eng.execute("USE SCHEMA analytics")
      eng.execute(
        """CREATE OR REPLACE ICEBERG TABLE sales_events (
          |  event_id BIGINT,
          |  tenant_id INT,
          |  event_ts TIMESTAMP,
          |  sku STRING,
          |  qty INT,
          |  price DECIMAL(18,2),
          |  country STRING,
          |  ds DATE
          |)
          |PARTITION BY (
          |  DAY(event_ts),
          |  BUCKET(16, tenant_id)
          |);""".stripMargin)
      eng.execute(
        """INSERT INTO sales_events VALUES
          |  (1, 10, '2024-01-01 00:00:00'::TIMESTAMP, 'sku-0001', 3, 19.99, 'US', '2024-01-01'::DATE),
          |  (2, 11, '2024-01-01 00:05:00'::TIMESTAMP, 'sku-0002', 5, 5.00, 'US', '2024-01-01'::DATE),
          |  (3, 12, '2024-01-02 09:30:00'::TIMESTAMP, 'sku-0003', 2, 10.00, 'GB', '2024-01-02'::DATE),
          |  (4, 13, '2024-01-02 10:45:00'::TIMESTAMP, 'sku-0004', 8, 7.50, 'FR', '2024-01-02'::DATE),
          |  (5, 10, '2024-01-03 12:00:00'::TIMESTAMP, 'sku-0005', 1, 99.99, 'US', '2024-01-03'::DATE),
          |  (6, 11, '2024-01-03 13:25:00'::TIMESTAMP, 'sku-0002', 10, 5.00, 'US', '2024-01-03'::DATE),
          |  (7, 12, '2024-01-04 15:55:00'::TIMESTAMP, 'sku-0003', 4, 11.00, 'GB', '2024-01-04'::DATE),
          |  (8, 13, '2024-01-05 16:10:00'::TIMESTAMP, 'sku-0004', 6, 7.50, 'FR', '2024-01-05'::DATE);""".stripMargin)
      val rc = eng.execute("SELECT COUNT(*) AS row_count FROM sales_events")
        .rows.head("row_count").asInstanceOf[Long]
      val agg = eng.execute(
        """SELECT CAST(SUM(qty) AS BIGINT) AS sum_qty,
          |  CAST(CAST(SUM(price) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
          |  COUNT(DISTINCT country) AS n_countries FROM sales_events""".stripMargin)
        .rows.head
      val partCols = cat.loadTable("analytics", "sales_events")
        .latest.files.flatMap(_.partitionValues.keySet)
        .toSet.toSeq.sorted.mkString(",")
      // OR REPLACE = drop-and-create; the account-coupled tail records inert
      eng.execute("CREATE OR REPLACE ICEBERG TABLE sales_events (" +
        "event_id BIGINT, sku STRING) TARGET_FILE_SIZE = '64MB';")
      val replaced = eng.execute("SELECT COUNT(*) AS n FROM sales_events")
        .rows.head("n").asInstanceOf[Long]
      eng.execute("INSERT INTO sales_events VALUES (10, 'a'), (11, 'b'), (12, 'c')")
      eng.execute(
        """CREATE OR REPLACE ICEBERG TABLE external_managed_table
          |  EXTERNAL_VOLUME = 'opensnowflake'
          |  CATALOG = 'opensnowflake'
          |  CATALOG_NAMESPACE = 'analytics'
          |  CATALOG_TABLE_NAME = 'sales_events';""".stripMargin)
      val linked = eng.execute("SELECT COUNT(*) AS n FROM external_managed_table")
        .rows.head("n").asInstanceOf[Long]
      val tfs = cat.loadTable("analytics", "sales_events")
        .properties.getOrElse("snowflake.target_file_size", "")
      Seq((rc, agg("sum_qty").asInstanceOf[Long],
        agg("sum_price").asInstanceOf[Double],
        agg("n_countries").asInstanceOf[Long], partCols, replaced, linked, tfs))
        .toDF("row_count", "sum_qty", "sum_price", "n_countries",
          "part_cols", "replaced_rows", "linked_rows", "target_file_size")
    }),

    // The reference's INFORMATION_SCHEMA metadata section
    // (snowflake.sql:364-378) run VERBATIM: `TABLE(INFORMATION_SCHEMA.
    // ICEBERG_TABLE_FILES(TABLE_NAME => 't', AT => ts))` lists the file
    // set as of a wall-clock time, the no-AT form lists the current files,
    // and `ICEBERG_TABLE_SNAPSHOT_REFRESH_HISTORY` returns the commit
    // history — each TVF routed to the registered table's metadata frames.
    // Output reduces the file listings to counts/row totals (paths are
    // scratch-dir-dependent) → literal oracle.
    "h_sql_infoschema" -> ((s, _) => {
      import s.implicits._
      val df = Seq(("kun", "w", 100L, java.sql.Date.valueOf("2025-07-01")),
          ("mia", "z", 300L, java.sql.Date.valueOf("2025-07-02")))
        .toDF("first_name", "last_name", "amount", "join_date")
      val t = GraftTable.create(s, scratch("sql_infoschema"), df.schema)
      var now = (System.currentTimeMillis() / 1000L) * 1000L
      t.clock = () => { now += 60000L; now }
      t.append(df.coalesce(1))
      val afterInsert = t.latest.committedAt
      val eng = new SparkSqlEngine(s)
      eng.registerGraftTable("catalog_linked_table", t)
      val tsStr = java.time.Instant.ofEpochMilli(afterInsert)
        .atZone(java.time.ZoneOffset.UTC).toLocalDateTime
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
      val filesAt = eng.execute(s"""
        SELECT *
          FROM TABLE(
            INFORMATION_SCHEMA.ICEBERG_TABLE_FILES(
              TABLE_NAME => 'catalog_linked_table',
              AT => CAST('$tsStr' AS TIMESTAMP_LTZ)
            )
          )""").rows
      eng.execute(
        "INSERT INTO catalog_linked_table VALUES ('lily', 'bai', 200, DATE '2025-08-12')")
      val filesNow = eng.execute("SELECT * FROM TABLE(INFORMATION_SCHEMA" +
        ".ICEBERG_TABLE_FILES(TABLE_NAME => 'catalog_linked_table'))").rows
      val hist = eng.execute("""
        SELECT *
          FROM TABLE(INFORMATION_SCHEMA.ICEBERG_TABLE_SNAPSHOT_REFRESH_HISTORY(
            TABLE_NAME => 'catalog_linked_table'
          ))""").rows
      // the rest of the section (snowflake.sql:389-402) verbatim: REFRESH,
      // ALTER ICEBERG TABLE ADD COLUMN, a post-evolution INSERT, UPDATE
      eng.execute("ALTER ICEBERG TABLE catalog_linked_table REFRESH")
      eng.execute(
        "ALTER ICEBERG TABLE catalog_linked_table ADD COLUMN mail STRING comment 'e-mail'")
      eng.execute("INSERT INTO catalog_linked_table VALUES " +
        "('kiki', 'liu', 500, DATE '2025-12-05','kiki.liu@mail.com')")
      eng.execute("UPDATE catalog_linked_table SET amount = 400 WHERE first_name = 'kun'")
      val fin = eng.execute("SELECT COUNT(*) AS n, CAST(SUM(amount) AS BIGINT) AS amt, " +
        "COUNT(mail) AS n_mail FROM catalog_linked_table").rows.head
      Seq((filesAt.size.toLong, filesAt.map(_("row_count").asInstanceOf[Long]).sum,
          filesNow.size.toLong, filesNow.map(_("row_count").asInstanceOf[Long]).sum,
          hist.size.toLong, hist.map(_("operation")).mkString(","),
          fin("n").asInstanceOf[Long], fin("amt").asInstanceOf[Long],
          fin("n_mail").asInstanceOf[Long]))
        .toDF("files_t1", "rows_t1", "files_now", "rows_now", "n_history", "history_ops",
          "final_rows", "amount_sum", "n_mail")
    }),

    // D4-D7 through the SQL front door — the reference's
    // schema_evolution_sales_events.sql:1-12 statements run VERBATIM
    // (USE CATALOG, ADD COLUMN ... DEFAULT, RENAME COLUMN, ALTER COLUMN
    // TYPE, DESCRIBE TABLE), plus DROP COLUMN and table lifecycle
    // (SHOW TABLES / DROP TABLE). Deterministic literal VALUES → literal
    // oracle. Old rows read the ADD default and the renamed/widened
    // columns; the dropped column vanishes from reads and DESCRIBE.
    "h_sql_evolution" -> ((s, _) => {
      import s.implicits._
      val eng = new SparkSqlEngine(s)
      val cat = new CatalogService(s, scratch("sql_evolution"))
      eng.registerCatalog(cat)
      eng.execute("CREATE NAMESPACE IF NOT EXISTS analytics")
      eng.execute("""
        CREATE TABLE IF NOT EXISTS analytics.sales_events (
          event_id BIGINT, tenant_id BIGINT, event_ts TIMESTAMP_NTZ, sku STRING,
          qty BIGINT, price DOUBLE, country STRING, ds DATE
        ) USING iceberg""")
      eng.execute("""
        INSERT INTO sales_events VALUES
          (1, 10, TIMESTAMP '2024-01-01 00:00:00', 'sku-0001', 3, 19.99, 'US', DATE '2024-01-01'),
          (2, 11, TIMESTAMP '2024-01-01 00:05:00', 'sku-0002', 5, 5.00, 'US', DATE '2024-01-01'),
          (3, 12, TIMESTAMP '2024-01-02 09:30:00', 'sku-0003', 2, 10.00, 'GB', DATE '2024-01-02'),
          (4, 13, TIMESTAMP '2024-01-02 10:45:00', 'sku-0004', 8, 7.50, 'FR', DATE '2024-01-02')""")
      // schema_evolution_sales_events.sql rendered, statement for statement
      eng.execute("USE CATALOG main")
      eng.execute("ALTER TABLE analytics.sales_events ADD COLUMN channel STRING DEFAULT 'web'")
      eng.execute("ALTER TABLE analytics.sales_events RENAME COLUMN sku TO product_sku")
      eng.execute("ALTER TABLE analytics.sales_events ALTER COLUMN price TYPE DECIMAL(18,2)")
      // post-evolution write carries the new shape (renamed sku, explicit channel)
      eng.execute("""
        INSERT INTO sales_events VALUES
          (5, 12, TIMESTAMP '2024-01-03 08:00:00', 'sku-0009', 2, 10.00, 'GB',
           DATE '2024-01-03', 'app')""")
      eng.execute("ALTER TABLE analytics.sales_events DROP COLUMN country")
      val desc = eng.execute("DESCRIBE TABLE analytics.sales_events")
      val descStr = desc.rows.map(r => s"${r("col_name")}:${r("data_type")}").mkString(",")
      // lifecycle: a scratch table shows up in SHOW TABLES and drops away
      eng.execute("CREATE TABLE analytics.tmp_probe (k BIGINT) USING iceberg")
      val before = eng.execute("SHOW TABLES IN analytics").rows
        .map(_("tableName")).mkString(",")
      eng.execute("DROP TABLE analytics.tmp_probe")
      val after = eng.execute("SHOW TABLES IN analytics").rows
        .map(_("tableName")).mkString(",")
      val agg = eng.execute("""
        SELECT channel, COUNT(*) AS n, CAST(SUM(qty) AS BIGINT) AS total_qty,
               CAST(SUM(price) AS DOUBLE) AS revenue
        FROM sales_events GROUP BY channel ORDER BY channel""").rows
      val web = agg.find(_("channel") == "web").get
      val app = agg.find(_("channel") == "app").get
      Seq((web("n").asInstanceOf[Long], web("total_qty").asInstanceOf[Long],
        web("revenue").asInstanceOf[Double], app("n").asInstanceOf[Long],
        app("total_qty").asInstanceOf[Long], app("revenue").asInstanceOf[Double],
        descStr, before, after))
        .toDF("web_n", "web_qty", "web_revenue", "app_n", "app_qty", "app_revenue",
          "described", "tables_before", "tables_after")
    }),

    // M1-M3 through the SQL front door — the reference bench's maintenance
    // statements run VERBATIM (blob-dfs_bench.py:141-155): CALL
    // <cat>.system.rewrite_data_files(table => ..., options => map(...)),
    // rewrite_manifests, expire_snapshots(retain_last => 2). Three small
    // insert commits (two part-files each) binpack to one; expiry trims to 2;
    // data never changes.
    "h_sql_maintenance" -> ((s, _) => {
      import s.implicits._
      val eng = new SparkSqlEngine(s)
      val cat = new CatalogService(s, scratch("sql_maintenance"))
      eng.registerCatalog(cat)
      eng.execute("CREATE NAMESPACE ops")
      eng.execute("CREATE TABLE ops.ev (event_id BIGINT, qty BIGINT) USING iceberg")
      eng.execute("INSERT INTO ev VALUES (1, 3), (2, 5)")
      eng.execute("INSERT INTO ev VALUES (3, 2), (4, 8)")
      eng.execute("INSERT INTO ev VALUES (5, 1), (6, 6)")
      val rw = eng.execute(
        """CALL opencatalog.system.rewrite_data_files(table => 'ops.ev',
           options => map('min-input-files','2','max-file-size-bytes','536870912'))""")
        .rows.head
      val rm = eng.execute("CALL opencatalog.system.rewrite_manifests('ops.ev')").rows.head
      val ex = eng.execute(
        "CALL opencatalog.system.expire_snapshots(table => 'ops.ev', retain_last => 2)")
        .rows.head
      val t = cat.loadTable("ops", "ev")
      val agg = eng.execute(
        "SELECT COUNT(*) AS n, CAST(SUM(qty) AS BIGINT) AS q FROM ev").rows.head
      Seq((agg("n").asInstanceOf[Long], agg("q").asInstanceOf[Long],
        rw("rewritten_data_files_count").asInstanceOf[Long],
        rw("added_data_files_count").asInstanceOf[Long],
        rm("rewritten_manifests_count").asInstanceOf[Long] >= 1L,
        ex("deleted_snapshots_count").asInstanceOf[Long],
        t.latest.files.size.toLong, t.snapshotsList.size.toLong))
        .toDF("row_count", "total_qty", "files_rewritten", "files_added",
          "manifests_consolidated", "snapshots_deleted", "files_after", "snapshots_after")
    }),

    // ANALYZE statistics + zero-copy import as VERBATIM SQL through the
    // engine: add_files renames an external parquet directory in, ANALYZE
    // computes exact NDV/null stats, the column_stats metadata relation
    // reads them back by name, and compute_table_stats scopes a re-analyze.
    "h_sql_analyze" -> ((s, _) => {
      import s.implicits._
      val eng = new SparkSqlEngine(s)
      val cat = new CatalogService(s, scratch("sql_analyze"))
      eng.registerCatalog(cat)
      eng.execute("CREATE NAMESPACE ops")
      eng.execute(
        "CREATE TABLE ops.ev (event_id BIGINT, qty BIGINT, tag STRING) USING iceberg")
      eng.execute("INSERT INTO ev VALUES (1, 3, 'a'), (2, 5, 'b'), (3, 5, NULL)")
      val ext = scratch("sql_analyze_ext")
      Seq((4L, 2L, "a"), (5L, 7L, "c")).toDF("event_id", "qty", "tag")
        .coalesce(1).write.mode("overwrite").parquet(ext)
      val af = eng.execute(
        s"""CALL opencatalog.system.add_files(table => 'ops.ev',
            source_table => '`parquet`.`$ext`')""").rows.head
      eng.execute("ANALYZE TABLE ops.ev COMPUTE STATISTICS FOR ALL COLUMNS")
      val stats = eng.execute(
        """SELECT col_name, ndv, null_count, row_count
           FROM ops.ev.column_stats ORDER BY col_name""").rows
      val cts = eng.execute(
        """CALL opencatalog.system.compute_table_stats(table => 'ops.ev',
           columns => array('qty'))""").rows.head
      val m = stats.map(r => r("col_name").toString -> r).toMap
      Seq((af("added_files_count").asInstanceOf[Long],
        m("event_id")("ndv").asInstanceOf[Long],
        m("qty")("ndv").asInstanceOf[Long],
        m("tag")("ndv").asInstanceOf[Long],
        m("tag")("null_count").asInstanceOf[Long],
        m("qty")("row_count").asInstanceOf[Long],
        cts("analyzed_columns").asInstanceOf[Long]))
        .toDF("files_added", "event_ndv", "qty_ndv", "tag_ndv", "tag_nulls",
          "row_count", "cts_cols")
    }),

    // Merge-on-read DELETE as VERBATIM SQL (Iceberg's write.delete.mode):
    // after ALTER TABLE sets merge-on-read + identifier columns, DELETE
    // commits an equality-delete file and rewrites ZERO data files — proven
    // in the oracle-checked output — while reads reconcile with a per-row
    // check on the files the delete can touch.
    "h_sql_mor_delete" -> ((s, _) => {
      import s.implicits._
      val eng = new SparkSqlEngine(s)
      val cat = new CatalogService(s, scratch("sql_mor_delete"))
      eng.registerCatalog(cat)
      eng.execute("CREATE NAMESPACE ops")
      eng.execute("CREATE TABLE ops.ev (event_id BIGINT, qty BIGINT) USING iceberg")
      eng.execute("INSERT INTO ev VALUES (1, 3), (2, 5), (3, 2), (4, 8), (5, 1)")
      eng.execute("""ALTER TABLE ops.ev SET TBLPROPERTIES (
        'write.delete.mode' = 'merge-on-read',
        'write.identifier-columns' = 'event_id')""")
      val t = cat.loadTable("ops", "ev")
      val filesBefore = t.latest.files.map(_.path).toSet
      eng.execute("DELETE FROM ev WHERE qty >= 5")
      val rewritten = (filesBefore -- t.latest.files.map(_.path).toSet).size.toLong
      val agg = eng.execute(
        "SELECT COUNT(*) AS n, CAST(SUM(qty) AS BIGINT) AS q FROM ev").rows.head
      Seq((agg("n").asInstanceOf[Long], agg("q").asInstanceOf[Long], rewritten,
        t.latest.deletes.size.toLong))
        .toDF("row_count", "total_qty", "files_rewritten", "n_delete_files")
    }),

    // Merge-on-read UPDATE via SQL (Iceberg's write.update.mode): the
    // predicate UPDATE commits ONE equality-delete + append on the declared
    // identifier columns — files_rewritten pins ZERO data files rewritten,
    // the expensive plan a 100 TB predicate UPDATE must avoid.
    "h_sql_mor_update" -> ((s, _) => {
      import s.implicits._
      val eng = new SparkSqlEngine(s)
      val cat = new CatalogService(s, scratch("sql_mor_update"))
      eng.registerCatalog(cat)
      eng.execute("CREATE NAMESPACE ops")
      eng.execute("CREATE TABLE ops.ev (event_id BIGINT, qty BIGINT) USING iceberg")
      eng.execute("INSERT INTO ev VALUES (1, 3), (2, 5), (3, 2), (4, 8), (5, 1)")
      eng.execute("""ALTER TABLE ops.ev SET TBLPROPERTIES (
        'write.update.mode' = 'merge-on-read',
        'write.identifier-columns' = 'event_id')""")
      val t = cat.loadTable("ops", "ev")
      val filesBefore = t.latest.files.map(_.path).toSet
      eng.execute("UPDATE ev SET qty = qty + 10 WHERE qty >= 5")
      val rewritten = (filesBefore -- t.latest.files.map(_.path).toSet).size.toLong
      val agg = eng.execute(
        "SELECT COUNT(*) AS n, CAST(SUM(qty) AS BIGINT) AS q FROM ev").rows.head
      Seq((agg("n").asInstanceOf[Long], agg("q").asInstanceOf[Long], rewritten,
        t.latest.deletes.size.toLong,
        t.snapshotsList.exists(_.operation == "update-mor")))
        .toDF("row_count", "total_qty", "files_rewritten", "n_delete_files",
          "op_update_mor")
    }),

    // Merge-on-read MERGE via SQL (Iceberg's write.merge.mode): matched
    // update + conditional delete + not-matched insert land as ONE
    // equality-delete + append commit — zero data files rewritten, and the
    // delete key is the merge key (no identifier columns needed).
    "h_sql_mor_merge" -> ((s, _) => {
      import s.implicits._
      val eng = new SparkSqlEngine(s)
      val cat = new CatalogService(s, scratch("sql_mor_merge"))
      eng.registerCatalog(cat)
      eng.execute("CREATE NAMESPACE ops")
      eng.execute("CREATE TABLE ops.ev (event_id BIGINT, qty BIGINT) USING iceberg")
      eng.execute("INSERT INTO ev VALUES (1, 3), (2, 5), (3, 2), (4, 8), (5, 1)")
      eng.execute(
        "ALTER TABLE ops.ev SET TBLPROPERTIES ('write.merge.mode' = 'merge-on-read')")
      val t = cat.loadTable("ops", "ev")
      val filesBefore = t.latest.files.map(_.path).toSet
      eng.execute(
        """MERGE INTO ev AS tgt
           USING (SELECT col1 AS event_id, col2 AS qty
                  FROM VALUES (2, 100), (4, -1), (6, 50)) AS src
           ON tgt.event_id = src.event_id
           WHEN MATCHED AND src.qty < 0 THEN DELETE
           WHEN MATCHED THEN UPDATE SET qty = src.qty
           WHEN NOT MATCHED THEN INSERT (event_id, qty)
             VALUES (src.event_id, src.qty)""")
      val rewritten = (filesBefore -- t.latest.files.map(_.path).toSet).size.toLong
      val agg = eng.execute(
        "SELECT COUNT(*) AS n, CAST(SUM(qty) AS BIGINT) AS q FROM ev").rows.head
      Seq((agg("n").asInstanceOf[Long], agg("q").asInstanceOf[Long], rewritten,
        t.latest.deletes.size.toLong,
        t.snapshotsList.exists(_.operation == "merge-mor")))
        .toDF("row_count", "total_qty", "files_rewritten", "n_delete_files",
          "op_merge_mor")
    }),

    // Positional merge-on-read DML via SQL (write.delete.representation =
    // positional, the Iceberg v3 deletion-vector shape): DELETE and UPDATE
    // each commit a delete VECTOR — zero data files rewritten, NO identifier
    // columns declared, and a duplicated event_id cannot over-delete (the
    // vector names exactly the matched row; an equality key on event_id
    // would have killed both copies).
    "h_sql_mor_dv" -> ((s, _) => {
      import s.implicits._
      val eng = new SparkSqlEngine(s)
      val cat = new CatalogService(s, scratch("sql_mor_dv"))
      eng.registerCatalog(cat)
      eng.execute("CREATE NAMESPACE ops")
      eng.execute("CREATE TABLE ops.ev (event_id BIGINT, qty BIGINT) USING iceberg")
      eng.execute("INSERT INTO ev VALUES (1, 3), (2, 5), (2, 7), (3, 2), (4, 8)")
      eng.execute("""ALTER TABLE ops.ev SET TBLPROPERTIES (
        'write.delete.mode' = 'merge-on-read',
        'write.update.mode' = 'merge-on-read',
        'write.merge.mode' = 'merge-on-read',
        'write.delete.representation' = 'positional')""")
      val t = cat.loadTable("ops", "ev")
      val filesBefore = t.latest.files.map(_.path).toSet
      eng.execute("DELETE FROM ev WHERE event_id = 2 AND qty = 5")
      eng.execute("UPDATE ev SET qty = qty + 10 WHERE qty >= 7")
      eng.execute(
        """MERGE INTO ev AS tgt
           USING (SELECT col1 AS event_id, col2 AS qty
                  FROM VALUES (3, 100), (6, 60)) AS src
           ON tgt.event_id = src.event_id
           WHEN MATCHED THEN UPDATE SET qty = src.qty
           WHEN NOT MATCHED THEN INSERT (event_id, qty)
             VALUES (src.event_id, src.qty)""")
      val rewritten = (filesBefore -- t.latest.files.map(_.path).toSet).size.toLong
      val agg = eng.execute(
        "SELECT COUNT(*) AS n, CAST(SUM(qty) AS BIGINT) AS q FROM ev").rows.head
      Seq((agg("n").asInstanceOf[Long], agg("q").asInstanceOf[Long], rewritten,
        t.latest.deletes.count(_.positional).toLong,
        t.snapshotsList.exists(_.operation == "delete-dv"),
        t.snapshotsList.exists(_.operation == "update-dv"),
        t.snapshotsList.exists(_.operation == "merge-dv")))
        .toDF("row_count", "total_qty", "files_rewritten", "n_delete_vectors",
          "op_delete_dv", "op_update_dv", "op_merge_dv")
    }),

    // SHOW CREATE TABLE + the metadata_log_entries relation as VERBATIM
    // SQL: the reconstructed DDL carries columns, partitioning, and live
    // properties; the metadata-log relation exposes the physical log docs.
    "h_sql_show_create" -> ((s, _) => {
      import s.implicits._
      val eng = new SparkSqlEngine(s)
      val cat = new CatalogService(s, scratch("sql_showcreate"))
      eng.registerCatalog(cat)
      eng.execute("CREATE NAMESPACE ops")
      eng.execute(
        """CREATE TABLE ops.ev (event_id BIGINT, qty BIGINT, region STRING)
           USING iceberg PARTITIONED BY (region)
           TBLPROPERTIES ('write.target-file-size-bytes' = '1048576')""")
      eng.execute("INSERT INTO ev VALUES (1, 3, 'na'), (2, 5, 'eu')")
      val ddl = eng.execute("SHOW CREATE TABLE ops.ev")
        .rows.head("createtab_stmt").toString
      val meta = eng.execute(
        """SELECT kind, COUNT(*) AS n FROM ops.ev.metadata_log_entries
           GROUP BY kind ORDER BY kind""").rows
      val byKind = meta.map(r => r("kind").toString -> r("n").asInstanceOf[Long]).toMap
      Seq((ddl.contains("event_id BIGINT"),
        ddl.contains("PARTITIONED BY (region)"),
        ddl.contains("'write.target-file-size-bytes' = '1048576'"),
        byKind.getOrElse("snapshot", 0L),
        byKind.getOrElse("properties", 0L) >= 1L))
        .toDF("has_cols", "has_partitioning", "has_props",
          "n_snapshot_docs", "has_props_doc")
    }),

    // CDC as VERBATIM SQL (Iceberg's create_changelog_view procedure): the
    // whole lifecycle — appends, a merge-on-read DELETE (whose pre-images
    // the changelog reconstructs), another append — then the registered
    // view aggregates row-level changes by type. Oracle states the exact
    // change counts and key sums.
    "h_sql_changelog" -> ((s, _) => {
      import s.implicits._
      val eng = new SparkSqlEngine(s)
      val cat = new CatalogService(s, scratch("sql_changelog"))
      eng.registerCatalog(cat)
      eng.execute("CREATE NAMESPACE ops")
      eng.execute("CREATE TABLE ops.ev (event_id BIGINT, qty BIGINT) USING iceberg")
      eng.execute("INSERT INTO ev VALUES (1, 3), (2, 5), (3, 2), (4, 8), (5, 1)")
      eng.execute("""ALTER TABLE ops.ev SET TBLPROPERTIES (
        'write.delete.mode' = 'merge-on-read',
        'write.identifier-columns' = 'event_id')""")
      eng.execute("DELETE FROM ev WHERE qty >= 5")
      eng.execute("INSERT INTO ev VALUES (6, 9)")
      val cv = eng.execute(
        """CALL opencatalog.system.create_changelog_view(table => 'ops.ev',
           changelog_view => 'ev_changes')""").rows.head
      val rows = eng.execute(
        """SELECT _change_type AS change_type, COUNT(*) AS n,
                  CAST(SUM(event_id) AS BIGINT) AS key_sum
           FROM ev_changes GROUP BY _change_type ORDER BY _change_type""").rows
      val byType = rows.map(r => r("change_type").toString -> r).toMap
      Seq((cv("changelog_view").toString,
        byType("insert")("n").asInstanceOf[Long],
        byType("insert")("key_sum").asInstanceOf[Long],
        byType("delete")("n").asInstanceOf[Long],
        byType("delete")("key_sum").asInstanceOf[Long]))
        .toDF("view_name", "n_inserts", "insert_key_sum",
          "n_deletes", "delete_key_sum")
    }),

    // register_table as VERBATIM SQL: attach a table directory that lives
    // OUTSIDE the catalog root under a catalog name (metadata-only — one
    // pointer doc), query it by name, then drop the name and prove the
    // external table is untouched (dropping a registration never deletes
    // shared data).
    "h_sql_register" -> ((s, _) => {
      import s.implicits._
      val eng = new SparkSqlEngine(s)
      val cat = new CatalogService(s, scratch("sql_register"))
      eng.registerCatalog(cat)
      eng.execute("CREATE NAMESPACE shared")
      val extDir = scratch("sql_register_ext") + "/t"
      val src = Seq((1L, 4L), (2L, 6L), (3L, 5L)).toDF("id", "qty").coalesce(1)
      val ext = graft.table.GraftTable.create(s, extDir, src.schema)
      ext.append(src)
      val reg = eng.execute(
        s"""CALL opencatalog.system.register_table(table => 'shared.ev',
            metadata_file => '$extDir')""").rows.head
      val agg = eng.execute(
        "SELECT COUNT(*) AS n, CAST(SUM(qty) AS BIGINT) AS q FROM shared.ev").rows.head
      val wasListed = cat.listTables("shared").contains("ev")
      eng.execute("DROP TABLE shared.ev")
      Seq((reg("total_records_count").asInstanceOf[Long],
        reg("total_data_files_count").asInstanceOf[Long],
        agg("n").asInstanceOf[Long], agg("q").asInstanceOf[Long],
        wasListed, cat.tableExists("shared", "ev"),
        graft.table.GraftTable.exists(s, extDir), ext.readLatest().count()))
        .toDF("reg_rows", "reg_files", "row_count", "total_qty",
          "was_listed", "listed_after_drop", "external_intact", "external_rows")
    }),

    // S11 — catalog CRUD lifecycle with tables-before-namespace cleanup
    "catalog_crud" -> ((s, dir) => {
      import s.implicits._
      val cat = new CatalogService(s, scratch("catalog"))
      cat.createNamespace("analytics")
      cat.createNamespace("staging")
      val t = cat.createTable("analytics", "li", Tables.lineitem(s, dir).schema)
      t.append(Tables.lineitem(s, dir).filter(col("l_orderkey") < 100))
      cat.createView("analytics", "big_items",
        "SELECT l_orderkey, l_quantity FROM li WHERE l_quantity > 40")
      cat.replaceView("analytics", "big_items",
        "SELECT l_orderkey, l_quantity FROM li WHERE l_quantity > 45")
      cat.reportMetrics("analytics", "li", Map("rows_read" -> 100L))
      val viewRows = cat.readView("analytics", "big_items").count()
      val dupNs = try { cat.createNamespace("analytics"); "no-error" }
        catch { case _: IllegalStateException => "raised" }
      cat.dropNamespaceCascade("staging")
      Seq((cat.listNamespaces().mkString(","), cat.listTables("analytics").mkString(","),
        cat.listViews("analytics").mkString(","), viewRows, dupNs, cat.metricsCount))
        .toDF("namespaces", "tables", "views", "view_rows", "dup_ns", "n_metrics")
    }),

    // Write-audit-publish as VERBATIM SQL (Iceberg's branch/tag surface):
    // CREATE TAG pins the pre-publish state, CREATE BRANCH opens staging,
    // INSERT INTO t.branch_<name> stages rows main cannot see, the branch
    // relation audits them, CALL system.fast_forward publishes in one
    // metadata-only commit, and the tag still reads the old state after.
    "h_sql_wap" -> ((s, _) => {
      import s.implicits._
      val eng = new SparkSqlEngine(s)
      val cat = new CatalogService(s, scratch("sql_wap"))
      eng.registerCatalog(cat)
      eng.execute("CREATE NAMESPACE wap")
      eng.execute("CREATE TABLE wap.tx (id BIGINT, amt DOUBLE) USING iceberg")
      eng.execute("INSERT INTO tx VALUES (1, 10.0), (2, 20.0)")
      eng.execute("ALTER TABLE tx CREATE TAG pre_publish")
      eng.execute("ALTER TABLE tx CREATE BRANCH audit")
      eng.execute("INSERT INTO tx.branch_audit VALUES (3, 30.0), (4, 40.0)")
      def one(sql: String): Map[String, Any] = eng.execute(sql).rows.head
      val staged = one("SELECT COUNT(*) AS n FROM tx.branch_audit")("n").asInstanceOf[Long]
      val mainBefore = one("SELECT COUNT(*) AS n FROM tx")("n").asInstanceOf[Long]
      val ff = one(
        "CALL graft.system.fast_forward(table => 'tx', branch => 'main', to => 'audit')")
      val after = one("""SELECT COUNT(*) AS n, CAST(SUM(amt) AS DOUBLE) AS s FROM tx""")
      val tagged = one("SELECT COUNT(*) AS n FROM tx.tag_pre_publish")("n").asInstanceOf[Long]
      val refs = eng.execute("SELECT name, type FROM tx.refs ORDER BY name").rows
        .map(r => s"${r("name")}:${r("type")}").mkString(",")
      eng.execute("ALTER TABLE tx DROP TAG pre_publish")
      val refsAfterDrop = eng.execute("SELECT COUNT(*) AS n FROM tx.refs").rows
        .head("n").asInstanceOf[Long]
      Seq((staged, mainBefore, ff("branch_updated").toString,
        after("n").asInstanceOf[Long], after("s").asInstanceOf[Double],
        tagged, refs, refsAfterDrop))
        .toDF("staged_rows", "main_before", "branch_updated", "main_after",
          "amt_after", "tag_rows", "refs", "refs_after_drop")
    }),

    // The openspark.ipynb notebook flow VERBATIM (jupyternotebook/
    // openspark.ipynb cells): show namespaces → create namespace → use
    // namespace → show tables (empty) → UNQUALIFIED partitioned create →
    // insert → select. The unqualified CREATE resolves against the USEd
    // namespace — the statement a notebook replayer hits first.
    "h_sql_notebook" -> ((s, _) => {
      import s.implicits._
      val eng = new SparkSqlEngine(s)
      val cat = new CatalogService(s, scratch("sql_notebook"))
      eng.registerCatalog(cat)
      val nsBefore = eng.execute("show namespaces").rows.size.toLong
      eng.execute("create namespace open_spark_blob")
      eng.execute("use namespace open_spark_blob")
      val tablesBefore = eng.execute("show tables in open_spark_blob").rows.size.toLong
      eng.execute("create table spark_table ( first_name STRING,last_name STRING," +
        "amount INT,create_date DATE) using iceberg partitioned by (first_name)")
      eng.execute("insert into spark_table values ('kun', 'xue', 100, cast('2025-05-06'as date))")
      val row = eng.execute("select * from spark_table").rows.head
      val t = cat.loadTable("open_spark_blob", "spark_table")
      Seq((nsBefore, tablesBefore,
        eng.execute("show tables in open_spark_blob").rows.map(_("tableName").toString).mkString(","),
        row("first_name").toString, row("last_name").toString,
        row("amount").toString.toLong, row("create_date").toString,
        t.latest.partitionCols.mkString(",")))
        .toDF("ns_before", "tables_before", "tables_after",
          "first_name", "last_name", "amount", "create_date", "partition_cols")
    }),

    // SHOW NAMESPACES / SHOW SCHEMAS over the registered catalog (ref
    // snowflake.sql:106 `show schemas`; openspark.ipynb "show namespaces"):
    // the engine lists CatalogService's namespaces — not Spark's own
    // catalog — with LIKE-pattern filtering, and a dropped namespace
    // disappears from the listing. Deterministic names → literal oracle.
    // Analytic SQL through the engine over a registered snapshot table:
    // ROLLUP subtotals, a ranking window, and HAVING all execute via the
    // bridge's capture path (temp view over the table's latest snapshot);
    // the oracle recomputes all three shapes relationally
    "h_sql_analytics" -> ((s, dir) => {
      import s.implicits._
      val eng = new SparkSqlEngine(s)
      val base = Tables.orders(s, dir).filter(col("o_orderkey") < 300)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val t = graft.table.GraftTable.create(s, scratch("sql_analytics"), base.schema)
      t.append(base)
      eng.registerGraftTable("ord", t)
      val rollRows = eng.execute(
        "SELECT o_orderpriority AS p, COUNT(*) AS n FROM ord " +
          "GROUP BY ROLLUP (o_orderpriority)").rows
      val topRows = eng.execute(
        "SELECT o_orderpriority, o_orderkey FROM (" +
          "SELECT o_orderpriority, o_orderkey, row_number() OVER (" +
          "PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey" +
          ") AS rk FROM ord) WHERE rk = 1").rows
      val havRows = eng.execute(
        "SELECT o_orderpriority AS p, COUNT(*) AS n FROM ord " +
          "GROUP BY o_orderpriority HAVING COUNT(*) >= 10").rows
      val topBy = topRows.map(r => r("o_orderpriority").asInstanceOf[String] ->
        r("o_orderkey").asInstanceOf[Long]).toMap
      val havSet = havRows.map(_("p").asInstanceOf[String]).toSet
      rollRows.map { r =>
        val p = Option(r("p")).map(_.asInstanceOf[String]).getOrElse("<ALL>")
        (p, r("n").asInstanceOf[Long], topBy.getOrElse(p, -1L), havSet.contains(p))
      }.toDF("priority", "n_orders", "top_orderkey", "big_group")
        .orderBy("priority")
    }),

    // Materialized-view SQL lifecycle end to end: CREATE over a registered
    // table, read the view, append through SQL INSERT, REFRESH (O(delta)
    // changelog apply), read the refreshed state — the final per-priority
    // rows are recomputed relationally by the oracle.
    "h_sql_matview" -> ((s, dir) => {
      import s.implicits._
      val eng = new SparkSqlEngine(s)
      val base = Tables.orders(s, dir).filter(col("o_orderkey") < 100)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val tblDir = scratch("sql_mv")
      // the MV's backing table lives BESIDE the source dir, outside what
      // scratch() wipes — clear it so the entry reruns in one JVM
      rmTree(new java.io.File(s"$tblDir-mv-prio_mv"))
      val t = graft.table.GraftTable.create(s, tblDir, base.schema)
      t.append(base)
      eng.registerGraftTable("ord", t)
      eng.execute("CREATE MATERIALIZED VIEW prio_mv AS SELECT o_orderpriority, " +
        "COUNT(*) AS n_orders, SUM(o_totalprice) AS total FROM ord " +
        "GROUP BY o_orderpriority")
      val nBefore = eng.execute("SELECT COUNT(*) AS c FROM prio_mv")
        .rows.head("c").asInstanceOf[Long]
      eng.execute("INSERT INTO ord VALUES (1001, '1-URGENT', 111.11), " +
        "(1002, '1-URGENT', 222.22)")
      val refreshed = eng.execute("REFRESH MATERIALIZED VIEW prio_mv")
        .rows.head("refreshed").asInstanceOf[Boolean]
      eng.execute("SELECT o_orderpriority, n_orders, total FROM prio_mv")
        .rows.map(r => (r("o_orderpriority").asInstanceOf[String],
          r("n_orders").asInstanceOf[Long],
          r("total").asInstanceOf[java.math.BigDecimal].doubleValue()))
        .toDF("o_orderpriority", "n_orders", "total")
        .withColumn("groups_before", lit(nBefore))
        .withColumn("refreshed", lit(refreshed))
        .orderBy("o_orderpriority")
    }),

    "h_sql_show_namespaces" -> ((s, _) => {
      import s.implicits._
      val eng = new SparkSqlEngine(s)
      val cat = new CatalogService(s, scratch("sql_showns"))
      eng.registerCatalog(cat)
      Seq("analytics", "raw", "staging").foreach(n =>
        eng.execute(s"CREATE NAMESPACE $n"))
      def names(sql: String): String =
        eng.execute(sql).rows.map(_("namespace").toString).mkString(",")
      val all = names("SHOW NAMESPACES")
      val schemas = names("SHOW SCHEMAS") // snowflake.sql:106 spelling
      val filtered = names("SHOW NAMESPACES LIKE 'st*'")
      eng.execute("DROP NAMESPACE raw")
      val afterDrop = names("SHOW NAMESPACES")
      Seq((all, schemas, filtered, afterDrop))
        .toDF("namespaces", "via_show_schemas", "filtered", "after_drop")
    })
  )

  val oracle: Map[String, String] = Map(
    "h_sql_script_suite" ->
      """SELECT CAST(7 AS BIGINT) AS current_rows, CAST(33 AS BIGINT) AS current_qty,
           CAST(8 AS BIGINT) AS baseline_rows, CAST(39 AS BIGINT) AS baseline_qty,
           CAST(4 AS BIGINT) AS n_snapshots""",
    "h_sql_dml" ->
      """WITH upd AS (
           SELECT o_orderkey,
                  CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 100.0
                       ELSE o_totalprice END AS o_totalprice
           FROM orders WHERE o_orderkey < 300),
         del AS (SELECT * FROM upd WHERE o_orderkey % 10 <> 7),
         src AS (SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice
                 FROM orders WHERE o_orderkey >= 280 AND o_orderkey < 320),
         merged AS (
           SELECT d.o_orderkey, COALESCE(s.o_totalprice, d.o_totalprice) AS o_totalprice
           FROM del d LEFT JOIN src s ON d.o_orderkey = s.o_orderkey
           UNION ALL
           SELECT s.o_orderkey, s.o_totalprice FROM src s
           WHERE NOT EXISTS (SELECT 1 FROM del d WHERE d.o_orderkey = s.o_orderkey))
         SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
           CAST(5 AS BIGINT) AS n_snapshots
         FROM merged""",
    "h_sql_meta_agg" ->
      """SELECT COUNT(*) AS row_count, COUNT(l_quantity) AS nn_qty,
           MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
           MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
         FROM lineitem WHERE l_orderkey < 700""",
    "h_sql_snowflake_travel" ->
      """SELECT CAST(a.c AS BIGINT) AS ts_rows, a.q AS ts_qty,
           CAST(a.c AS BIGINT) AS off_rows, a.q AS off_qty,
           CAST(b.c AS BIGINT) AS cur_rows, b.q AS cur_qty
         FROM (SELECT COUNT(*) c,
                 CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) q
               FROM lineitem WHERE l_orderkey < 500) a,
              (SELECT COUNT(*) c,
                 CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) q
               FROM lineitem WHERE l_orderkey < 500 AND l_returnflag <> 'R') b""",
    "h_sql_snowflake_create" ->
      """SELECT CAST(8 AS BIGINT) AS row_count, CAST(39 AS BIGINT) AS sum_qty,
           165.98 AS sum_price, CAST(3 AS BIGINT) AS n_countries,
           'event_ts_day,tenant_id_bucket' AS part_cols,
           CAST(0 AS BIGINT) AS replaced_rows, CAST(3 AS BIGINT) AS linked_rows,
           '64MB' AS target_file_size""",
    "h_sql_infoschema" ->
      """SELECT CAST(1 AS BIGINT) AS files_t1, CAST(2 AS BIGINT) AS rows_t1,
           CAST(2 AS BIGINT) AS files_now, CAST(3 AS BIGINT) AS rows_now,
           CAST(3 AS BIGINT) AS n_history,
           'create,append,append' AS history_ops,
           CAST(4 AS BIGINT) AS final_rows, CAST(1400 AS BIGINT) AS amount_sum,
           CAST(1 AS BIGINT) AS n_mail""",
    "h_sql_notebook" ->
      """SELECT CAST(0 AS BIGINT) AS ns_before, CAST(0 AS BIGINT) AS tables_before,
           'spark_table' AS tables_after,
           'kun' AS first_name, 'xue' AS last_name, CAST(100 AS BIGINT) AS amount,
           '2025-05-06' AS create_date, 'first_name' AS partition_cols""",
    "h_sql_analytics" ->
      """WITH o AS (SELECT o_orderkey, o_orderpriority, o_totalprice
                    FROM orders WHERE o_orderkey < 300),
         roll AS (SELECT o_orderpriority AS p, COUNT(*) AS n
                  FROM o GROUP BY ROLLUP (o_orderpriority)),
         top AS (SELECT o_orderpriority AS p, o_orderkey FROM (
                   SELECT o_orderpriority, o_orderkey,
                     row_number() OVER (PARTITION BY o_orderpriority
                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
                   FROM o) WHERE rk = 1),
         hav AS (SELECT o_orderpriority AS p FROM o
                 GROUP BY o_orderpriority HAVING COUNT(*) >= 10)
         SELECT COALESCE(roll.p, '<ALL>') AS priority, roll.n AS n_orders,
                CAST(COALESCE(top.o_orderkey, -1) AS BIGINT) AS top_orderkey,
                (hav.p IS NOT NULL) AS big_group
         FROM roll LEFT JOIN top ON roll.p = top.p
                   LEFT JOIN hav ON roll.p = hav.p
         ORDER BY priority""",
    "h_sql_matview" ->
      """WITH final AS (
           SELECT o_orderpriority, o_totalprice FROM orders WHERE o_orderkey < 100
           UNION ALL SELECT '1-URGENT', 111.11
           UNION ALL SELECT '1-URGENT', 222.22),
         n_before AS (
           SELECT COUNT(DISTINCT o_orderpriority) AS g FROM orders
           WHERE o_orderkey < 100)
         SELECT o_orderpriority, COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total,
           (SELECT g FROM n_before) AS groups_before,
           true AS refreshed
         FROM final GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "h_sql_show_namespaces" ->
      """SELECT 'analytics,raw,staging' AS namespaces,
           'analytics,raw,staging' AS via_show_schemas,
           'staging' AS filtered,
           'analytics,staging' AS after_drop""",
    "h_sql_show_create" ->
      """SELECT TRUE AS has_cols, TRUE AS has_partitioning, TRUE AS has_props,
           CAST(2 AS BIGINT) AS n_snapshot_docs, TRUE AS has_props_doc""",
    "h_sql_changelog" ->
      """SELECT 'ev_changes' AS view_name, CAST(6 AS BIGINT) AS n_inserts,
           CAST(21 AS BIGINT) AS insert_key_sum, CAST(2 AS BIGINT) AS n_deletes,
           CAST(6 AS BIGINT) AS delete_key_sum""",
    "h_sql_mor_delete" ->
      """SELECT CAST(3 AS BIGINT) AS row_count, CAST(6 AS BIGINT) AS total_qty,
           CAST(0 AS BIGINT) AS files_rewritten, CAST(1 AS BIGINT) AS n_delete_files""",
    "h_sql_mor_update" ->
      """SELECT CAST(5 AS BIGINT) AS row_count, CAST(39 AS BIGINT) AS total_qty,
           CAST(0 AS BIGINT) AS files_rewritten, CAST(1 AS BIGINT) AS n_delete_files,
           TRUE AS op_update_mor""",
    "h_sql_mor_merge" ->
      """SELECT CAST(5 AS BIGINT) AS row_count, CAST(156 AS BIGINT) AS total_qty,
           CAST(0 AS BIGINT) AS files_rewritten, CAST(1 AS BIGINT) AS n_delete_files,
           TRUE AS op_merge_mor""",
    "h_sql_mor_dv" ->
      """SELECT CAST(5 AS BIGINT) AS row_count, CAST(198 AS BIGINT) AS total_qty,
           CAST(0 AS BIGINT) AS files_rewritten, CAST(3 AS BIGINT) AS n_delete_vectors,
           TRUE AS op_delete_dv, TRUE AS op_update_dv, TRUE AS op_merge_dv""",
    "h_sql_register" ->
      """SELECT CAST(3 AS BIGINT) AS reg_rows, CAST(1 AS BIGINT) AS reg_files,
           CAST(3 AS BIGINT) AS row_count, CAST(15 AS BIGINT) AS total_qty,
           TRUE AS was_listed, FALSE AS listed_after_drop,
           TRUE AS external_intact, CAST(3 AS BIGINT) AS external_rows""",
    "h_sql_analyze" ->
      """SELECT CAST(1 AS BIGINT) AS files_added, CAST(5 AS BIGINT) AS event_ndv,
           CAST(4 AS BIGINT) AS qty_ndv, CAST(3 AS BIGINT) AS tag_ndv,
           CAST(1 AS BIGINT) AS tag_nulls, CAST(5 AS BIGINT) AS row_count,
           CAST(1 AS BIGINT) AS cts_cols""",
    "h_sql_maintenance" ->
      """SELECT CAST(6 AS BIGINT) AS row_count, CAST(25 AS BIGINT) AS total_qty,
           CAST(6 AS BIGINT) AS files_rewritten, CAST(1 AS BIGINT) AS files_added,
           TRUE AS manifests_consolidated, CAST(3 AS BIGINT) AS snapshots_deleted,
           CAST(1 AS BIGINT) AS files_after, CAST(2 AS BIGINT) AS snapshots_after""",
    "h_sql_wap" ->
      """SELECT CAST(4 AS BIGINT) AS staged_rows, CAST(2 AS BIGINT) AS main_before,
           'main' AS branch_updated, CAST(4 AS BIGINT) AS main_after,
           CAST(100.0 AS DOUBLE) AS amt_after, CAST(2 AS BIGINT) AS tag_rows,
           'pre_publish:tag' AS refs, CAST(0 AS BIGINT) AS refs_after_drop""",
    "h_sql_evolution" ->
      """SELECT CAST(4 AS BIGINT) AS web_n, CAST(18 AS BIGINT) AS web_qty,
           CAST(42.49 AS DOUBLE) AS web_revenue,
           CAST(1 AS BIGINT) AS app_n, CAST(2 AS BIGINT) AS app_qty,
           CAST(10.00 AS DOUBLE) AS app_revenue,
           'event_id:bigint,tenant_id:bigint,event_ts:timestamp_ntz,product_sku:string,qty:bigint,price:decimal(18,2),ds:date,channel:string' AS described,
           'sales_events,tmp_probe' AS tables_before,
           'sales_events' AS tables_after""",
    "h_sql_pruned_read" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
           CAST(2 AS BIGINT) AS n_files_scanned, CAST(4 AS BIGINT) AS n_files_total
         FROM lineitem WHERE l_orderkey BETWEEN 300 AND 600""",
    "h_plan_crud" ->
      """SELECT * FROM (VALUES
           ('bulk_insert', 'passed', CAST(1 AS BIGINT)),
           ('create_table', 'passed', 0),
           ('delete_row', 'passed', 0),
           ('read_after_delete', 'passed', 2),
           ('read_after_update', 'passed', 1),
           ('read_baseline', 'passed', 2),
           ('rows_changed', 'failed', 0),
           ('store_rows', 'passed', 1),
           ('update_row', 'passed', 0))
         AS t(step, status, n_validations_passed) ORDER BY step""",
    "h_template_render" ->
      """SELECT * FROM (VALUES
           ('arithmetic', 'expect 7 of 8'),
           ('basic', 'SELECT * FROM demo.sales LIMIT 10'),
           ('concat', 'DAY(event_ts)'),
           ('filter_default', 'identity'),
           ('filter_join', '(event_id, qty, price)'),
           ('filter_upper', 'STRING'),
           ('strict_undefined', 'raised'))
         AS t("case", rendered) ORDER BY "case"""",
    "h_template_blocks" ->
      """SELECT * FROM (VALUES
           (CAST(0 AS BIGINT), 'CREATE TABLE sales_events ('),
           (1, 'event_id BIGINT,'),
           (2, 'tenant_id INT,'),
           (3, 'event_ts TIMESTAMP,'),
           (4, 'sku STRING,'),
           (5, 'qty INT,'),
           (6, 'price DECIMAL(18,2),'),
           (7, 'country STRING,'),
           (8, 'ds DATE'),
           (9, ')'),
           (10, 'PARTITION BY ('),
           (11, 'DAY(event_ts),'),
           (12, 'BUCKET(8, tenant_id),'),
           (13, 'country'),
           (14, ')'))
         AS t(idx, line) ORDER BY idx""",
    "h_script_matrix" ->
      """SELECT * FROM (VALUES
           ('snowflake', 'glue', 'sql/common/read.sql'),
           ('snowflake', 'open', 'sql/common/open/read.sql'),
           ('snowflake', 'unity', 'sql/common/read.sql'),
           ('spark', 'glue', 'sql/spark/any/read.sql'),
           ('spark', 'open', 'sql/spark/open_catalog/read.sql'),
           ('spark', 'unity', 'sql/spark/any/read.sql'),
           ('trino', 'glue', 'raised'),
           ('trino', 'open', 'raised'),
           ('trino', 'unity', 'sql/trino/unity/read.sql'))
         AS t(engine, catalog, script) ORDER BY engine, catalog""",
    "h_statement_split" ->
      """SELECT * FROM (VALUES
           (CAST(0 AS BIGINT), 'CREATE', false),
           (1, 'INSERT', false),
           (2, 'SELECT', true))
         AS t(idx, first_keyword, captures_rows) ORDER BY idx""",
    "h_rowcount_derivation" ->
      """SELECT * FROM (VALUES
           ('count_key', CAST(7 AS BIGINT)),
           ('row_fallback', 3),
           ('single_numeric', 42))
         AS t("case", derived) ORDER BY "case"""",
    "h_factory_timing" ->
      """SELECT * FROM (VALUES
           ('factory_cache_size', 2.0),
           ('median_even', 2.5),
           ('median_odd', 2.0))
         AS t("case", "value") ORDER BY "case"""",
    "h_saga_compensation" ->
      """SELECT * FROM (VALUES
           ('compensation_0', 'create_catalog', 'compensated'),
           ('compensation_1', 'provision_storage', 'compensated'),
           ('step', 'create_catalog', 'completed'),
           ('step', 'grant_access', 'failed'),
           ('step', 'provision_storage', 'completed'),
           ('step', 'smoke_check', 'skipped'))
         AS t(phase, name, status) ORDER BY phase, name""",
    "h_state_store" ->
      """SELECT 'demo,other' AS records, 'ready' AS status, CAST(1 AS BIGINT) AS n_creates,
              true AS deleted, 'demo' AS after_delete""",
    "h_api_suite" ->
      """SELECT * FROM (VALUES
           ('cleanup_cascade', 'PASS'),
           ('create_namespace', 'PASS'),
           ('create_namespace_dup', 'EXP'),
           ('create_table', 'PASS'),
           ('create_view', 'PASS'),
           ('describe_missing_table', 'EXP'),
           ('drop_namespace_nonempty', 'EXP'),
           ('head_namespace', 'PASS'),
           ('list_namespaces', 'PASS'),
           ('replace_missing_view', 'EXP'),
           ('replace_view', 'PASS'),
           ('report_metrics', 'PASS'))
         AS t(test, status) ORDER BY test""",
    "catalog_crud" ->
      """SELECT 'analytics' AS namespaces, 'li' AS tables, 'big_items' AS views,
              (SELECT COUNT(*) FROM lineitem WHERE l_orderkey < 100 AND l_quantity > 45) AS view_rows,
              'raised' AS dup_ns, CAST(1 AS BIGINT) AS n_metrics"""
  )
}
