package graft.table

import org.apache.spark.sql.functions._

import graft.{SparkProbe, SparkSpec}
import graft.dml.Dml
import graft.plan.SparkSqlEngine

/** Delete vectors carry their per-file counts: COUNT(*) over a
  * merge-on-read table that SQL DML changed answers from snapshot metadata
  * alone, the commit refuses a vector whose counts cannot hold, and
  * maintenance keeps the counts.
  */
class VectorCountSpec extends SparkSpec {

  import spark.implicits._

  private val cat = "vcount"
  private lazy val wh = scratchDir("vcount-cat")

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.ops")
  }

  override def afterAll(): Unit = {
    spark.conf.unset(s"spark.sql.catalog.$cat")
    spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    super.afterAll()
  }

  /** `ops.<name>` in the catalog: merge-on-read for every DML, two data
    * files of ids 1–10 and 11–20. */
  private def morTable(name: String): GraftTable = {
    spark.sql(s"""CREATE TABLE $cat.ops.$name (id BIGINT, v BIGINT)
      TBLPROPERTIES ('write.delete.mode' = 'merge-on-read',
        'write.update.mode' = 'merge-on-read', 'write.merge.mode' = 'merge-on-read')""")
    val t = GraftTable.load(spark, s"$wh/ops/$name")
    t.append((1L to 10L).map(i => (i, i * 10)).toDF("id", "v").coalesce(1))
    t.append((11L to 20L).map(i => (i, i * 10)).toDF("id", "v").coalesce(1))
    t
  }

  /** COUNT(*) through the engine's route: its answer and the jobs it ran. */
  private def engineCount(eng: SparkSqlEngine, view: String): (Long, Int) = {
    val (n, o) = SparkProbe.observe(spark) {
      eng.execute(s"SELECT COUNT(*) AS n FROM $view").rows.head("n").asInstanceOf[Long]
    }
    (n, o.jobs)
  }

  test("COUNT(*) after SQL DELETE, UPDATE and MERGE starts no job and stays exact") {
    val t = morTable("counted")
    val firstFile = t.latest.files.head.partName // ids 1–10
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("counted", t)
    // stock Spark's DELETE on the catalog lands in the table's vector
    // delete; its UPDATE and MERGE are copy-on-write row-level plans, so
    // those go through the engine's routes
    val statements = Seq(
      "delete-dv" -> (() => spark.sql(s"DELETE FROM $cat.ops.counted WHERE id IN (3, 14)")),
      "update-dv" -> (() => eng.execute("UPDATE counted SET v = v + 1 WHERE id = 5")),
      "merge-dv" -> (() => eng.execute("""MERGE INTO counted AS tgt
        USING (SELECT * FROM VALUES (7L, 0L), (12L, 1L), (30L, 2L) AS s(id, v)) AS src
        ON tgt.id = src.id
        WHEN MATCHED AND src.v = 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = src.v
        WHEN NOT MATCHED THEN INSERT (id, v) VALUES (src.id, src.v)""")))
    statements.foreach { case (op, run) =>
      run()
      assert(t.latest.operation === op)
      val expected = t.readLatest().count()
      assert(t.countRowsFromMetadata() === Some(expected), op)
      val (n, jobs) = engineCount(eng, "counted")
      assert(n === expected, op)
      assert(jobs === 0, s"$op: the engine's COUNT(*) ran $jobs Spark jobs")
      // the catalog's COUNT(*) is the connector's pushed metadata aggregate:
      // no data file is opened
      val (rows, o) = SparkProbe.observe(spark) {
        val df = spark.sql(s"SELECT COUNT(*) FROM $cat.ops.counted")
        (df.collect().head.getLong(0), df.queryExecution.executedPlan.toString)
      }
      assert(rows._1 === expected, op)
      assert(rows._2.contains("PushedAggregation"), s"$op:\n${rows._2}")
      assert(o.scans.isEmpty && o.inputBytes === 0L && o.jobs <= 1, op)
    }
    assert(t.latest.deletes.forall(d => d.positional && d.deletedRows.isDefined))
    val live = t.readLatest().count()
    assert(live === 18L) // 20 − 3, 14, 7 + 30

    val (_, analyzed) = SparkProbe.observe(spark) {
      eng.execute("ANALYZE TABLE counted COMPUTE STATISTICS NOSCAN")
    }
    assert(t.properties(GraftTable.StatsRowCountProp) === live.toString)
    assert(analyzed.jobs === 0)

    // an equality delete on a file the vectors count: that file falls back
    // to a scan, and the count stays exact
    assert(t.latest.deletes.exists(_.deletedRows.exists(_.contains(firstFile))))
    Dml.deleteMorKeys(t, Seq(1L).toDF("id"))
    assert(t.countRowsFromMetadata().isEmpty)
    val (n, jobs) = engineCount(eng, "counted")
    assert(n === live - 1 && n === t.readLatest().count())
    assert(jobs > 0, "the count must scan the file the equality delete marks")
  }

  test("a grouped COUNT(*) has no row for a partition whose rows a vector deleted") {
    spark.sql(s"""CREATE TABLE $cat.ops.byday (id BIGINT, ds STRING) PARTITIONED BY (ds)
      TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""")
    val t = GraftTable.load(spark, s"$wh/ops/byday")
    t.append((1L to 12L).map(i => (i, s"d${i % 3}")).toDF("id", "ds"))
    spark.sql(s"DELETE FROM $cat.ops.byday WHERE ds = 'd1'")
    assert(t.latest.operation === "delete-dv")
    // the partition's files stay live; the vector deletes all their rows
    assert(t.latest.files.exists(_.partitionValues.get("ds").contains("d1")))
    val df = spark.sql(s"SELECT ds, COUNT(*) AS n FROM $cat.ops.byday GROUP BY ds")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation"), plan)
    // Spark's own GROUP BY over the table scan
    val expected = t.readLatest().groupBy("ds").count().as[(String, Long)].collect().toMap
    assert(expected === Map("d0" -> 4L, "d2" -> 4L))
    assert(df.as[(String, Long)].collect().toMap === expected)
  }

  /** Every file under the table's data directory. */
  private def dataListing(t: GraftTable): Set[String] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(t.tableDir, "data"))
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_)).map(_.toString).toSet
    } finally walk.close()
  }

  /** Commit a hand-built vector; it must be refused with a message
    * holding `why`, leaving the head and the data directory as they were. */
  private def refused(t: GraftTable, tuples: Seq[(String, Long)], why: String): Unit = {
    val (head, files) = (t.latest, dataListing(t))
    val e = intercept[Exception](t.commitDvDelta(
      tuples.toDF(GraftTable.WrittenAtCol, GraftTable.PosCol), "delete-dv"))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" / ")
    assert(messages.contains(why), messages)
    assert(t.latest === head)
    assert(dataListing(t) === files)
  }

  test("a vector that repeats a row, names a dead file or deletes a row twice is refused") {
    val t = GraftTable.create(spark, scratchDir("vcount-refuse") + "/t",
      Seq((0L, 0L)).toDF("id", "v").schema)
    t.append((1L to 4L).map(i => (i, i)).toDF("id", "v").coalesce(1))
    val name = t.latest.files.head.partName
    refused(t, Seq((name, 1L), (name, 2L), (name, 1L)), "names row 1 of")
    refused(t, Seq(("gone.parquet", 0L)), "not a live data file")
    t.commitDvDelta((0L to 3L).map(p => (name, p)).toDF(GraftTable.WrittenAtCol,
      GraftTable.PosCol), "delete-dv")
    assert(t.latest.deletes.head.deletedRows === Some(Map(name -> 4L)))
    assert(t.countRowsFromMetadata() === Some(0L))
    // every row of the file is already deleted: one more passes its count
    refused(t, Seq((name, 2L)), "delete vectors delete 5 rows")
    assert(t.readLatest().count() === 0L)
  }

  test("merging vectors sums their counts, and COUNT(*) stays job-free") {
    val t = GraftTable.create(spark, scratchDir("vcount-merge") + "/t",
      Seq((0L, 0L)).toDF("id", "v").schema)
    t.append((1L to 10L).map(i => (i, i)).toDF("id", "v").coalesce(1))
    t.append((11L to 20L).map(i => (i, i)).toDF("id", "v").coalesce(1))
    Dml.deleteMor(t, col("id").isin(1L, 2L, 11L))
    Dml.deleteMor(t, col("id") === 3L)
    Dml.deleteMor(t, col("id").isin(12L, 13L))
    val before = t.latest.deletes
    assert(before.size === 3)
    val summed = before.flatMap(_.deletedRows.get).groupMapReduce(_._1)(_._2)(_ + _)
    assert(summed.values.toSeq.sorted === Seq(3L, 3L))
    val eng = new SparkSqlEngine(spark)
    eng.registerGraftTable("merged", t)
    eng.execute("CALL graft.system.rewrite_position_delete_files('merged')")
    val after = t.latest.deletes
    assert(after.size === 1)
    assert(after.head.deletedRows === Some(summed))
    assert(after.head.rowCount === 6L)
    val (n, jobs) = engineCount(eng, "merged")
    assert(n === 14L && n === t.readLatest().count())
    assert(jobs === 0)
  }

  test("a vector written without counts still reads, and counts through a scan") {
    val t = GraftTable.create(spark, scratchDir("vcount-old") + "/t",
      Seq((0L, 0L)).toDF("id", "v").schema)
    t.append((1L to 10L).map(i => (i, i)).toDF("id", "v").coalesce(1))
    t.append((11L to 20L).map(i => (i, i)).toDF("id", "v").coalesce(1))
    Dml.deleteMor(t, col("id").isin(4L, 15L))
    // the doc as a writer before per-file counts left it
    val doc = java.nio.file.Paths.get(t.tableDir, SnapshotLog.LogDir,
      f"v${t.latest.snapshotId}%08d.json")
    val raw = java.nio.file.Files.readString(doc)
    assert(!raw.contains("partName"), "the doc stores counts, not derived names")
    val stripped = raw.replaceAll(""","deletedRows":\{[^}]*\}""", "")
    assert(stripped !== raw)
    java.nio.file.Files.writeString(doc, stripped)
    SnapshotLog.invalidate(t.tableDir)
    assert(t.latest.deletes.map(_.deletedRows) === Seq(None))
    assert(t.countRowsFromMetadata().isEmpty)
    assert(t.readLatest().select("id").as[Long].collect().sorted ===
      ((1L to 20L).toSet -- Set(4L, 15L)).toSeq.sorted)
    assert(t.countLive() === Some(18L))
    // the vector without counts applies to every older file: both scan
    val plan = t.planner(t.latest)
    assert(t.latest.files.forall(plan.marked))
  }
}
