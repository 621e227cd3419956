package graft.table

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** `addFiles` (zero-copy import) and `analyzeColumns` (stored statistics). */
class AddFilesAnalyzeSpec extends SparkSpec {

  private def orders(n: Int) = {
    import spark.implicits._
    (1 to n).map(i =>
      (i.toLong, s"c$i", (i % 3).toString, i * 10.5)).toDF(
      "o_orderkey", "name", "bucket", "price")
  }

  test("addFiles imports an unpartitioned directory zero-copy with live stats") {
    val dir = scratchDir("addfiles")
    val df = orders(100)
    val t = GraftTable.create(spark, s"$dir/t", df.schema)
    t.append(df.filter(col("o_orderkey") <= 40))

    val ext = s"$dir/external"
    df.filter(col("o_orderkey") > 40).repartition(3)
      .write.parquet(ext)
    val extFilesBefore = new java.io.File(ext).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(extFilesBefore == 3)

    val snap = t.addFiles(ext)
    assert(snap.operation == "add-files")
    assert(snap.summary("added-files") == "3")
    // zero-copy: the source directory's parquet files are GONE (renamed)
    assert(new java.io.File(ext).listFiles()
      .count(_.getName.endsWith(".parquet")) == 0)
    // content is the union
    assert(t.readLatest().count() == 100)
    assert(t.readLatest().agg(sum("o_orderkey")).head.getLong(0) == 5050L)
    // imported footers feed metadata-only answers
    assert(t.countRowsFromMetadata().contains(100L))
    val (mn, mx) = t.minMaxFromMetadata("o_orderkey").get
    assert(mn == 1L && mx == 100L)
    // and stats pruning: a point lookup above the import boundary must not
    // open the pre-import file (its footer max is 40)
    val (planned, total) = t.planBetween(t.latest, "o_orderkey", 90L, 100L)
    assert(total == t.latest.files.size)
    assert(planned.nonEmpty && planned.forall(_.path.contains("import-")),
      s"expected every o_orderkey<=40 append file pruned, planned " +
        planned.map(_.path).mkString(", "))
  }

  test("addFiles maps hive k=v dirs onto the table's partition spec") {
    val dir = scratchDir("addfiles_part")
    val df = orders(60)
    val t = GraftTable.create(spark, s"$dir/t", df.schema,
      partitionCols = Seq("bucket"))
    t.append(df.filter(col("o_orderkey") <= 30))
    val ext = s"$dir/external"
    df.filter(col("o_orderkey") > 30)
      .write.partitionBy("bucket").parquet(ext)

    t.addFiles(ext)
    assert(t.readLatest().count() == 60)
    // imported entries carry their partition values → partition pruning works
    val one = t.readLatest().filter(col("bucket") === "1")
    assert(one.count() == 20)
    val imported = t.latest.files.filter(_.path.contains("import-"))
    assert(imported.nonEmpty)
    assert(imported.forall(_.partitionValues.keySet == Set("bucket")))
  }

  test("addFiles refuses a schema mismatch and a partition-layout mismatch") {
    val dir = scratchDir("addfiles_bad")
    val df = orders(10)
    val t = GraftTable.create(spark, s"$dir/t", df.schema)
    t.append(df)
    // wrong shape
    val bad = s"$dir/bad"
    df.withColumnRenamed("price", "cost").write.parquet(bad)
    val e1 = intercept[IllegalArgumentException](t.addFiles(bad))
    assert(e1.getMessage.contains("does not match table"))
    // partitioned source into an unpartitioned table
    val badPart = s"$dir/badpart"
    df.write.partitionBy("bucket").parquet(badPart)
    val e2 = intercept[IllegalArgumentException](t.addFiles(badPart))
    assert(e2.getMessage.contains("partition"))
    // nothing imported, nothing half-moved
    assert(t.readLatest().count() == 10)
    assert(t.latest.files.forall(!_.path.contains("import-")))
  }

  test("addFiles refuses a source inside the table itself") {
    val dir = scratchDir("addfiles_self")
    val df = orders(10)
    val t = GraftTable.create(spark, s"$dir/t", df.schema)
    t.append(df)
    // importing the table's own data dir would rename live files onto new
    // names and double-reference every row
    val e = intercept[IllegalArgumentException](t.addFiles(s"$dir/t/data"))
    assert(e.getMessage.contains("inside table"))
    assert(t.readLatest().count() == 10)
    // the symmetric direction: a source that CONTAINS the table would list
    // the table's own live files under data/ and rename them out
    val e2 = intercept[IllegalArgumentException](t.addFiles(dir))
    assert(e2.getMessage.contains("contains table"))
    // equal paths trip the inside-table arm first — still a refusal
    val e3 = intercept[IllegalArgumentException](t.addFiles(s"$dir/t"))
    assert(e3.getMessage.contains("inside table"))
    assert(t.readLatest().count() == 10)
  }

  test("addFiles refuses an unreadable footer before moving anything") {
    val dir = scratchDir("addfiles_corrupt")
    val df = orders(10)
    val t = GraftTable.create(spark, s"$dir/t", df.schema)
    t.append(df)
    val ext = s"$dir/external"
    df.write.parquet(ext)
    // corrupt one file in place (truncate the footer)
    val f = new java.io.File(ext).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val ch = java.nio.channels.FileChannel.open(f.toPath,
      java.nio.file.StandardOpenOption.WRITE)
    try ch.truncate(4) finally ch.close()
    val names = new java.io.File(ext).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    intercept[Exception](t.addFiles(ext))
    // source untouched: every file still where the caller put it
    assert(new java.io.File(ext).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet == names)
    assert(t.readLatest().count() == 10)
  }

  test("imported files get fresh mtimes — the orphan-sweep in-flight grace applies") {
    val dir = scratchDir("addfiles_mtime")
    val df = orders(20)
    val t = GraftTable.create(spark, s"$dir/t", df.schema)
    t.append(df.filter(col("o_orderkey") <= 10))
    val ext = s"$dir/external"
    df.filter(col("o_orderkey") > 10).coalesce(1).write.parquet(ext)
    // age the source file far past any orphan grace bound
    val old = System.currentTimeMillis() - 30L * 24 * 3600 * 1000
    new java.io.File(ext).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => assert(f.setLastModified(old)))
    val before = System.currentTimeMillis()
    t.addFiles(ext)
    val imported = t.latest.files.filter(_.path.contains("import-"))
    assert(imported.nonEmpty)
    val hfs = graft.table.SnapshotLog.fs(
      spark.sessionState.newHadoopConf(), s"$dir/t")
    imported.foreach { e =>
      val mt = hfs.getFileStatus(new org.apache.hadoop.fs.Path(
        graft.table.SnapshotLog.dataPath(s"$dir/t"), e.path)).getModificationTime
      assert(mt >= before - 1000,
        s"${e.path} kept its ancient source mtime ($mt) — a concurrent " +
          "orphan sweep in the rename-to-commit window would delete it")
    }
    // and a sweep bounded at 'now minus grace' leaves the import alone
    val removed = graft.maintenance.Maintenance.removeOrphanFiles(
      t, System.currentTimeMillis() - 1000L)
    assert(removed.isEmpty)
    assert(t.readLatest().count() == 20)
  }

  test("addFiles racing a concurrent append loses no files from either side") {
    val dir = scratchDir("addfiles_race")
    val df = orders(60)
    val t = GraftTable.create(spark, s"$dir/t", df.schema)
    t.append(df.filter(col("o_orderkey") <= 20))
    val ext = s"$dir/external"
    df.filter(col("o_orderkey") > 40).repartition(2).write.parquet(ext)

    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fImport = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = t.addFiles(ext)
      })
      val fAppend = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = new GraftTable(spark, s"$dir/t")
          .append(df.filter(col("o_orderkey") > 20 && col("o_orderkey") <= 40))
      })
      fImport.get(120, java.util.concurrent.TimeUnit.SECONDS)
      fAppend.get(120, java.util.concurrent.TimeUnit.SECONDS)
    } finally pool.shutdown()
    // both commits landed: full content, no lost files, counts intact
    assert(t.readLatest().count() == 60)
    assert(t.readLatest().agg(sum("o_orderkey")).head.getLong(0) == 30L * 61L)
    assert(t.countRowsFromMetadata().contains(60L))
  }

  test("incremental/changelog reads treat add-files as inserts, sort-rewrite as no-op") {
    val dir = scratchDir("cdc_class")
    val df = orders(30)
    val t = GraftTable.create(spark, s"$dir/t", df.schema)
    t.append(df.filter(col("o_orderkey") <= 10))
    val from = t.latest.snapshotId
    t.append(df.filter(col("o_orderkey") > 10 && col("o_orderkey") <= 20))
    // content-preserving re-cluster inside the range must NOT break or
    // double-count the incremental read
    graft.maintenance.Maintenance.sortRewrite(t, Seq("o_orderkey"), 1L << 20)
    val ext = s"$dir/ext"
    df.filter(col("o_orderkey") > 20).coalesce(1).write.parquet(ext)
    t.addFiles(ext) // zero-copy import is an insert like any append
    val inc = t.readIncremental(from, t.latest.snapshotId)
    assert(inc.count() == 20)
    assert(inc.agg(min("o_orderkey"), max("o_orderkey")).head match {
      case r => r.getLong(0) == 11L && r.getLong(1) == 30L
    })
    val cl = t.readChangelog(from, t.latest.snapshotId)
    assert(cl.filter(col("_change_type") === "insert").count() == 20)
    assert(cl.filter(col("_change_type") === "delete").count() == 0)
  }

  test("analyzeColumns stores exact ndv/null/bounds; re-analyze replaces") {
    import spark.implicits._
    val dir = scratchDir("analyze")
    val df = Seq(
      (1L, Some(1.0), "a"), (2L, Some(2.0), "b"), (3L, None, "a"),
      (4L, Some(2.0), null.asInstanceOf[String])).toDF("k", "v", "s")
    val t = GraftTable.create(spark, s"$dir/t", df.schema)
    t.append(df)
    t.analyzeColumns()
    val props = t.properties
    assert(props(GraftTable.StatsRowCountProp) == "4")
    assert(props(s"${GraftTable.StatsColPrefix}k.ndv") == "4")
    assert(props(s"${GraftTable.StatsColPrefix}v.ndv") == "2")
    assert(props(s"${GraftTable.StatsColPrefix}v.nulls") == "1")
    assert(props(s"${GraftTable.StatsColPrefix}s.ndv") == "2")
    assert(props(s"${GraftTable.StatsColPrefix}s.nulls") == "1")
    assert(props(s"${GraftTable.StatsColPrefix}k.min") == "1")
    assert(props(s"${GraftTable.StatsColPrefix}k.max") == "4")
    // string columns track no bounds
    assert(!props.contains(s"${GraftTable.StatsColPrefix}s.min"))
    // the relation renders the same numbers
    val rel = t.columnStatsTable().collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rel("k") == ((4L, 0L)) && rel("v") == ((2L, 1L)))

    // MOR deletes make footer bounds unsafe → re-analyze must DROP bounds
    // while refreshing ndv (stale bounds would be silently wrong)
    t.commitMorDelta(Seq(1L).toDF("k"), "delete")
    t.analyzeColumns(Seq("k"))
    val props2 = t.properties
    assert(props2(s"${GraftTable.StatsColPrefix}k.ndv") == "3")
    assert(!props2.contains(s"${GraftTable.StatsColPrefix}k.min"))
    assert(props2(GraftTable.StatsRowCountProp) == "3")
  }

  test("approx analyze bounds memory at scale and stays sane") {
    import spark.implicits._
    val dir = scratchDir("analyze_approx")
    val df = (1 to 5000).map(i => (i.toLong, i % 7)).toDF("k", "m")
    val t = GraftTable.create(spark, s"$dir/t", df.schema)
    t.append(df)
    t.analyzeColumns(Seq("k", "m"), exact = false)
    val props = t.properties
    val ndvK = props(s"${GraftTable.StatsColPrefix}k.ndv").toLong
    assert(math.abs(ndvK - 5000L) <= 500L, s"approx ndv too far off: $ndvK")
    assert(props(s"${GraftTable.StatsColPrefix}m.ndv").toLong == 7L)
  }
}
