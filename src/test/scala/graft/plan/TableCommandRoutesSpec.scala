package graft.plan

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.catalogsvc.CatalogService
import graft.sources.GraftProcedures
import graft.table.GraftTable

/** The two SQL front doors — the engine's pre-router
  * (`SparkSqlEngine.execute`) and stock `spark.sql` on a `GraftCatalog` —
  * run one implementation of each table command. The same statement on
  * twin tables (one per route, built by the same table-API calls) must give
  * the same result columns, rows and table effects, and a refused shape
  * must refuse on both.
  */
class TableCommandRoutesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val engWh = scratchDir("routes-eng")
  private lazy val catWh = scratchDir("routes-cat")
  private lazy val eng = {
    val e = new SparkSqlEngine(spark)
    e.registerCatalog(new CatalogService(spark, engWh))
    e
  }
  private def warehouses = Seq(engWh, catWh)

  override def beforeAll(): Unit = {
    super.beforeAll()
    // the reference's catalog name, so engine and catalog statements are
    // the same text
    spark.conf.set("spark.sql.catalog.opencatalog", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.opencatalog.warehouse", catWh)
    warehouses.foreach(new CatalogService(spark, _).createNamespace("ns", ifNotExists = true))
  }

  override def afterAll(): Unit = {
    spark.conf.unset("spark.sql.catalog.opencatalog")
    spark.conf.unset("spark.sql.catalog.opencatalog.warehouse")
    super.afterAll()
  }

  private def table(wh: String, name: String): GraftTable =
    new CatalogService(spark, wh).loadTable("ns", name)

  private def appendRounds(t: GraftTable, n: Int): Unit = (0 until n).foreach { i =>
    t.append(Seq((2L * i, s"a$i"), (2L * i + 1, s"b$i")).toDF("k", "v").coalesce(1))
  }

  /** `ns.<name>` in both warehouses, shaped by the same table-API calls;
    * `setup` also gets the warehouse, for side files. */
  private def twins(name: String)(setup: (GraftTable, String) => Unit): Unit =
    warehouses.foreach { wh =>
      val t = new CatalogService(spark, wh).createTable("ns", name,
        Seq((0L, "")).toDF("k", "v").schema)
      setup(t, wh)
    }

  /** What a command left behind: the snapshot lineage, the live data and
    * delete files, the rows and the properties. */
  private def effects(wh: String, name: String) = {
    val t = table(wh, name)
    (t.snapshotsList.map(s => (s.snapshotId, s.operation)), t.latest.files.size,
      t.latest.deletes.size, t.readLatest().collect().map(_.toString).sorted.toSeq,
      t.properties)
  }

  /** Commit times differ between the twins by construction. */
  private def normalize(rows: Seq[Map[String, Any]]): Seq[Map[String, Any]] =
    rows.map(_.map {
      case (k, _: java.sql.Timestamp) => k -> "<timestamp>"
      case kv => kv
    })

  /** Run `engSql` through the engine and `catSql` (default: the same text)
    * through `spark.sql`; `observe` runs after each and must see the same.
    * Returns the engine's rows. */
  private def same(name: String, engSql: String, catSql: String = null,
      observe: () => Any = () => ()): Seq[Map[String, Any]] = {
    val e = eng.execute(engSql).rows
    val eSeen = observe()
    val df = spark.sql(Option(catSql).getOrElse(engSql))
    val c = df.collect().toSeq.map(r => df.columns.zip(r.toSeq).toMap[String, Any])
    val cSeen = observe()
    e.foreach(r => assert(r.keySet == df.columns.toSet, s"$engSql: ${r.keySet}"))
    assert(normalize(e) == normalize(c), engSql)
    assert(eSeen == cSeen, engSql)
    assert(effects(engWh, name) == effects(catWh, name), engSql)
    e
  }

  private def refusedOnBoth(sql: String): Unit = {
    intercept[UnsupportedOperationException](eng.execute(sql))
    intercept[UnsupportedOperationException](spark.sql(sql).collect())
  }

  private val CallPrefix = "CALL opencatalog.system"

  private val cases: Seq[(String, () => Unit)] = Seq(
    "rewrite_data_files" -> (() => {
      twins("rdf")((t, _) => appendRounds(t, 4))
      // positional, in Iceberg's order: options is the fourth argument, so
      // 100 minimum input files leaves all four files in place
      val kept = same("rdf", s"$CallPrefix.rewrite_data_files('ns.rdf', 'binpack', NULL, " +
        "map('min-input-files','100'))")
      assert(kept == Seq(Map("rewritten_data_files_count" -> 0L, "added_data_files_count" -> 0L)))
      same("rdf", s"$CallPrefix.rewrite_data_files(table => 'ns.rdf', " +
        "options => map('min-input-files','2'))")
      assert(warehouses.map(table(_, "rdf").latest.files.size) == Seq(1, 1))
      refusedOnBoth(s"$CallPrefix.rewrite_data_files(table => 'ns.rdf', strategy => 'shuffle')")
      refusedOnBoth(s"$CallPrefix.rewrite_data_files(table => 'ns.rdf', where => 'k + 1 = 2')")
    }),
    "rewrite_manifests" -> (() => {
      twins("rm")((t, _) => appendRounds(t, 3))
      same("rm", s"$CallPrefix.rewrite_manifests('ns.rm')")
    }),
    "expire_snapshots" -> (() => {
      twins("es")((t, _) => appendRounds(t, 4))
      val r = same("es", s"$CallPrefix.expire_snapshots(table => 'ns.es', retain_last => 2)")
      assert(r == Seq(Map("deleted_snapshots_count" -> 3L)))
    }),
    "remove_orphan_files" -> (() => {
      twins("ro") { (t, _) =>
        appendRounds(t, 1)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"${t.tableDir}/data/stray.parquet"), "junk")
      }
      val r = same("ro", s"$CallPrefix.remove_orphan_files(table => 'ns.ro', " +
        "older_than => TIMESTAMP '2100-01-01 00:00:00')")
      assert(r.map(_("orphan_file_location")) == Seq("stray.parquet"))
    }),
    "rewrite_position_delete_files" -> (() => {
      twins("rp") { (t, _) =>
        appendRounds(t, 2)
        t.setProperties(Map("write.delete.mode" -> Some("merge-on-read"),
          "write.identifier-columns" -> Some("k")))
        graft.dml.Dml.deleteAuto(t, col("k") === 1L)
        graft.dml.Dml.deleteAuto(t, col("k") === 2L)
      }
      same("rp", s"$CallPrefix.rewrite_position_delete_files('ns.rp')")
    }),
    "rollback_to_snapshot" -> (() => {
      twins("rb")((t, _) => appendRounds(t, 3))
      same("rb", s"$CallPrefix.rollback_to_snapshot('ns.rb', 2)")
    }),
    "rollback_to_timestamp" -> (() => {
      // commits one minute apart from a shared base: the bound picks the
      // same snapshot on both twins
      val base = System.currentTimeMillis() + 86400000L
      twins("rt") { (t, _) =>
        var now = base
        t.clock = () => { now += 60000L; now }
        appendRounds(t, 3)
      }
      val bound = java.time.Instant.ofEpochMilli(base + 150000L).toString
      val r = same("rt", s"$CallPrefix.rollback_to_timestamp(table => 'ns.rt', " +
        s"timestamp => '$bound')")
      assert(r.head("rolled_back_to") == 3L)
    }),
    "fast_forward" -> (() => {
      twins("ff") { (t, _) =>
        appendRounds(t, 1)
        t.createBranch("audit")
        t.appendToBranch("audit", Seq((9L, "z")).toDF("k", "v"))
      }
      same("ff", s"$CallPrefix.fast_forward(table => 'ns.ff', branch => 'main', to => 'audit')")
      refusedOnBoth(s"$CallPrefix.fast_forward('ns.ff', 'audit', 'main')")
    }),
    "add_files" -> (() => {
      twins("af") { (t, wh) =>
        appendRounds(t, 1)
        Seq((7L, "x"), (8L, "y")).toDF("k", "v").coalesce(1).write.parquet(s"$wh-af-src")
      }
      def call(wh: String) =
        s"$CallPrefix.add_files(table => 'ns.af', source_table => '`parquet`.`$wh-af-src`')"
      same("af", call(engWh), call(catWh))
    }),
    "compute_table_stats" -> (() => {
      twins("cs")((t, _) => appendRounds(t, 2))
      same("cs", s"$CallPrefix.compute_table_stats(table => 'ns.cs', columns => array('k'))")
    }),
    "register_table" -> (() => {
      val dirs = warehouses.map { wh =>
        val dir = s"$wh-reg"
        appendRounds(GraftTable.create(spark, dir, Seq((0L, "")).toDF("k", "v").schema), 2)
        dir
      }
      def call(dir: String) =
        s"$CallPrefix.register_table(table => 'ns.reg', metadata_file => '$dir')"
      same("reg", call(dirs(0)), call(dirs(1)))
    }),
    "ancestors_of" -> (() => {
      twins("an")((t, _) => appendRounds(t, 2))
      val r = same("an", s"$CallPrefix.ancestors_of('ns.an')")
      assert(r.map(_("snapshot_id")) == Seq(3L, 2L, 1L))
      // each route reports its own table's commit times
      val committed = table(engWh, "an").snapshotsList
        .map(s => s.snapshotId -> new java.sql.Timestamp(s.committedAt)).toMap
      r.foreach(row => assert(row("timestamp") == committed(row("snapshot_id").asInstanceOf[Long])))
    }),
    "create_changelog_view" -> (() => {
      twins("cv")((t, _) => appendRounds(t, 2))
      // positional, in Iceberg's order: the view name is the second argument
      val r = same("cv", s"$CallPrefix.create_changelog_view('ns.cv', 'a_cv')",
        observe = () => spark.sql("SELECT _change_type, k FROM a_cv").collect()
          .map(_.toString).sorted.toSeq)
      assert(r == Seq(Map("changelog_view" -> "a_cv")))
    }))

  test("every graft procedure has a two-route case") {
    assert(cases.map(_._1).toSet == GraftProcedures.names.toSet)
  }

  cases.foreach { case (name, body) =>
    test(s"CALL $name: same columns, rows and table effects on both SQL routes")(body())
  }

  /** Run the same DDL on both routes: `ddl(prefix)` with `ns` or
    * `opencatalog.ns` as the namespace. */
  private def both(ddl: String => String): Unit = {
    eng.execute(ddl("ns"))
    spark.sql(ddl("opencatalog.ns")).collect()
  }

  test("CREATE TABLE ... LOCATION puts the table at that path on both routes") {
    val dirs = warehouses.map(wh => s"$wh-located")
    eng.execute(s"CREATE TABLE ns.loc (k BIGINT) USING iceberg LOCATION '${dirs(0)}'")
    spark.sql(s"CREATE TABLE opencatalog.ns.loc (k BIGINT) LOCATION '${dirs(1)}'")
    both(ns => s"INSERT INTO $ns.loc VALUES (1), (2)")
    dirs.foreach(dir => assert(GraftTable.load(spark, dir).readLatest().count() == 2L, dir))
    assert(effects(engWh, "loc") == effects(catWh, "loc"))
  }

  test("ADD COLUMN ... FIRST / AFTER refuses on both routes") {
    both(ns => s"CREATE TABLE $ns.pos (k BIGINT, v STRING)")
    Seq("x INT FIRST", "x INT AFTER k").foreach { col =>
      intercept[UnsupportedOperationException](eng.execute(s"ALTER TABLE ns.pos ADD COLUMN $col"))
      intercept[UnsupportedOperationException](
        spark.sql(s"ALTER TABLE opencatalog.ns.pos ADD COLUMN $col"))
    }
    warehouses.foreach(wh => assert(table(wh, "pos").schema.fieldNames.toSeq == Seq("k", "v")))
  }

  test("ALTER COLUMN ... COMMENT is recorded on both routes") {
    both(ns => s"CREATE TABLE $ns.cm (k BIGINT, v STRING)")
    both(ns => s"ALTER TABLE $ns.cm ALTER COLUMN k COMMENT 'key'")
    warehouses.foreach(wh =>
      assert(table(wh, "cm").properties.get("comment.k").contains("key"), wh))
    val described = eng.execute("DESCRIBE TABLE ns.cm").rows
      .map(r => r("col_name") -> r("comment")).toMap
    assert(described == Map("k" -> "key", "v" -> null))
    assert(effects(engWh, "cm") == effects(catWh, "cm"))
  }

  test("DROP COLUMN IF EXISTS is one rule on both routes") {
    both(ns => s"CREATE TABLE $ns.dc (k BIGINT, v STRING)")
    both(ns => s"ALTER TABLE $ns.dc DROP COLUMN IF EXISTS nope")
    both(ns => s"ALTER TABLE $ns.dc DROP COLUMN IF EXISTS v")
    warehouses.foreach(wh => assert(table(wh, "dc").schema.fieldNames.toSeq == Seq("k")))
    intercept[Exception](eng.execute("ALTER TABLE ns.dc DROP COLUMN nope"))
    intercept[Exception](spark.sql("ALTER TABLE opencatalog.ns.dc DROP COLUMN nope"))
  }

  test("CTAS with PARTITIONED BY gives the same layout and rows on both routes") {
    both(ns => s"CREATE TABLE $ns.ctas_src (k BIGINT, v STRING)")
    both(ns => s"INSERT INTO $ns.ctas_src VALUES (1, 'a'), (2, 'b'), (3, 'a'), (4, 'c')")
    Seq("ctas_ident" -> ("v", Seq("v"), None),
        "ctas_bucket" -> ("bucket(4, k)", Seq("k_bucket"), Some("bucket(4,k)=k_bucket")))
      .foreach { case (name, (by, partCols, transforms)) =>
        both(ns => s"CREATE TABLE $ns.$name PARTITIONED BY ($by) AS SELECT * FROM $ns.ctas_src")
        val layouts = warehouses.map { wh =>
          val t = table(wh, name)
          (t.latest.partitionCols, t.properties.get(GraftTable.PartitionTransformsProp),
            t.readLatest().collect().map(_.toString).sorted.toSeq)
        }
        assert(layouts(0) == layouts(1), name)
        assert(layouts(0)._1 == partCols && layouts(0)._2 == transforms, name)
        assert(layouts(0)._3 == Seq("[1,a]", "[2,b]", "[3,a]", "[4,c]"), name)
      }
  }
}
