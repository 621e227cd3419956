package graft.table

import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** Stats from one site: every write task reads the footers of the files it
  * just closed and returns their entries ([[DataFileWriter]]). Those entries
  * must equal a driver-side `GraftTable.footerMeta` re-read of the same
  * files — partition values, row counts, sizes and per-column stats — on
  * every route into the table: the table API's append, a catalog INSERT
  * and a streaming epoch.
  */
class TaskStatsSpec extends SparkSpec {

  private val df = {
    import spark.implicits._
    // p = k/30: each partition file holds a CONTIGUOUS k range, so the
    // task-collected bounds are selective and the prune test can bite
    (0L until 210L).map(k => (k, s"v$k", (k / 30).toString)).toDF("k", "v", "p")
  }

  private def build(prefix: String): GraftTable = {
    val t = GraftTable.create(spark, scratchDir(prefix), df.schema,
      partitionCols = Seq("p"),
      properties = Map(GraftTable.SortOrderProp -> "k",
        GraftTable.BloomFilterColumnsProp -> "v"))
    t.append(df)
    t
  }

  /** Each entry of the latest snapshot against a fresh footer read. */
  private def assertReRead(t: GraftTable): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val files = t.latest.files
    assert(files.nonEmpty)
    files.foreach { e =>
      val p = new org.apache.hadoop.fs.Path(SnapshotLog.dataPath(t.tableDir), e.path)
      val (rows, stats) = GraftTable.footerMeta(conf, p)
      val dirs = e.path.split("/").dropRight(1)
        .map { seg => val Array(k, v) = seg.split("=", 2); k -> v }.toMap
      assert((e.rowCount, e.stats, e.sizeBytes, e.partitionValues) ===
        ((rows, stats, p.getFileSystem(conf).getFileStatus(p).getLen, dirs)),
        s"entry of ${e.path} diverged from its footer")
    }
  }

  test("task-collected entries equal driver footer-derived entries") {
    val t = build("taskstats-task-")
    assertReRead(t)
    // the tasks recorded usable stats (bounds + null count) and the
    // table's write properties reached the files
    assert(t.latest.files.forall(f => f.stats.get("k").exists(_.size == 3)))
    assert(t.latest.files.forall(f => t.bloomFilterColumns(f.path) == Set("v")))
    assert(t.readLatest().orderBy("k").collect().toSeq === df.orderBy("k").collect().toSeq)
  }

  test("task-path commits prune and answer metadata queries like driver-path commits") {
    val t = build("taskstats-prune-")
    // footer stats from the task path feed the same planning passes
    val (sel, total) = t.planBetween(t.latest, "k", 0L, 20L)
    assert(sel.size < total, "task-collected bounds must prune")
    assert(t.countRowsFromMetadata().contains(210L))
    assert(t.readBetween("k", 0L, 20L).count() === 21L)
  }

  test("catalog INSERT and streaming epoch entries equal a footer re-read") {
    val wh = scratchDir("taskstats-cat")
    spark.conf.set("spark.sql.catalog.tsc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.tsc.warehouse", wh)
    try {
      spark.sql("CREATE NAMESPACE tsc.ns")
      spark.sql("CREATE TABLE tsc.ns.t (k BIGINT, v STRING, p STRING) PARTITIONED BY (p)")
      spark.sql("INSERT INTO tsc.ns.t VALUES (1, 'a', 'x'), (2, 'b', 'y'), (3, NULL, 'x')")
      assertReRead(GraftTable.load(spark, s"$wh/ns/t"))
    } finally {
      spark.conf.unset("spark.sql.catalog.tsc")
      spark.conf.unset("spark.sql.catalog.tsc.warehouse")
    }
    val root = scratchDir("taskstats-stream")
    df.repartition(2).write.parquet(s"$root/src")
    val t = GraftTable.create(spark, s"$root/t", df.schema, partitionCols = Seq("p"))
    spark.readStream.schema(df.schema).parquet(s"$root/src")
      .writeStream.format("graft")
      .option("checkpointLocation", s"$root/cp")
      .trigger(Trigger.AvailableNow())
      .start(t.tableDir).awaitTermination()
    assert(t.readLatest().count() === 210L)
    assertReRead(t)
  }
}
