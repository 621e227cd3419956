package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.{SparkProbe, SparkSpec}
import graft.table.{Fact, GraftTable}

/** The connector's one write ([[GraftWrite]]): every column type through
  * the catalog and the streaming sink, each row written once, and the
  * partition values the writer derives — escaped or not — prune. */
class GraftWriteSpec extends SparkSpec {

  private def withCatalog[A](name: String)(body: String => A): A = {
    val wh = scratchDir(s"gw-$name")
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    try body(wh)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$name")
      spark.conf.unset(s"spark.sql.catalog.$name.warehouse")
    }
  }

  test("ARRAY and STRUCT columns write through a catalog INSERT and the streaming sink") {
    withCatalog("gwc") { wh =>
      spark.sql("CREATE NAMESPACE gwc.ns")
      spark.sql("CREATE TABLE gwc.ns.t (id BIGINT, tags ARRAY<STRING>, " +
        "pt STRUCT<x: DOUBLE, y: INT>) PARTITIONED BY (bucket(2, id))")
      spark.sql("INSERT INTO gwc.ns.t VALUES (1, array('a', 'b'), named_struct('x', 1.5, 'y', 2)), " +
        "(2, array(), named_struct('x', -1.0, 'y', NULL)), (3, NULL, NULL)")
      val expected = spark.sql("SELECT * FROM VALUES (1L, array('a', 'b'), named_struct('x', 1.5, 'y', 2)), " +
        "(2L, array(), named_struct('x', -1.0, 'y', CAST(NULL AS INT))), " +
        "(3L, CAST(NULL AS ARRAY<STRING>), CAST(NULL AS STRUCT<x: DOUBLE, y: INT>)) AS v(id, tags, pt)")
      def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("id").collect().toSeq
      assert(rows(spark.table("gwc.ns.t")) === rows(expected))
      // the streaming sink takes the same write: the same rows land again
      val root = scratchDir("gw-stream")
      expected.write.parquet(s"$root/src")
      spark.readStream.schema(expected.schema).parquet(s"$root/src")
        .writeStream.format("graft")
        .option("checkpointLocation", s"$root/cp")
        .trigger(Trigger.AvailableNow())
        .start(s"$wh/ns/t").awaitTermination()
      assert(rows(spark.table("gwc.ns.t")) === rows(expected.union(expected)))
      val t = GraftTable.load(spark, s"$wh/ns/t")
      assert(t.snapshotsList.count(_.summary.contains("stream-batch-id")) == 1)
    }
  }

  test("a catalog INSERT clusters by each partition transform: one file per partition value") {
    withCatalog("gwt") { wh =>
      spark.sql("CREATE NAMESPACE gwt.ns")
      spark.sql("CREATE TABLE gwt.ns.t (id BIGINT, s STRING, ts TIMESTAMP) " +
        "PARTITIONED BY (hours(ts), truncate(s, 2), bucket(3, id))")
      val src = spark.range(0, 240, 1, 4).select(col("id"),
        concat(lit("k"), (col("id") % 5).cast("string"), lit("-x")).as("s"),
        timestamp_seconds(lit(1709251200L) + (col("id") % 7) * 3600).as("ts"))
      src.createOrReplaceTempView("gwt_src")
      spark.sql("INSERT INTO gwt.ns.t SELECT * FROM gwt_src")
      val files = GraftTable.load(spark, s"$wh/ns/t").latest.files
      assert(files.map(_.partitionValues).distinct.size === files.size,
        "a partition value was written by more than one task")
      assert(spark.table("gwt.ns.t").orderBy("id").collect().toSeq ===
        src.orderBy("id").collect().toSeq)
    }
  }

  test("a catalog INSERT writes each row once: no staged file is read back") {
    withCatalog("gwp") { _ =>
      spark.sql("CREATE NAMESPACE gwp.ns")
      spark.sql("CREATE TABLE gwp.ns.t (id BIGINT, v STRING, amount DOUBLE)")
      spark.sql("INSERT INTO gwp.ns.t VALUES (0, 'warm', 0.0)")
      val (_, seen) = SparkProbe.observe(spark) {
        spark.sql("INSERT INTO gwp.ns.t VALUES (1, 'a', 1.5), (2, 'b', 2.5), (3, 'c', 3.5)")
      }
      assert(seen.inputBytes === 0L, s"the INSERT read ${seen.inputBytes} bytes")
      assert(spark.table("gwp.ns.t").count() === 4L)
    }
  }

  test("escaped partition values prune equalities and ranges in the table scan and the connector") {
    import spark.implicits._
    def ts(h: Int) = java.sql.Timestamp.from(java.time.Instant.parse(f"2024-03-01T$h%02d:00:00Z"))
    val df = (0 until 40).map(i => (i.toLong, ts(i % 4), Seq("a/b", "c d", "e%f", "g")(i % 4)))
      .toDF("id", "at", "path")
    val dir = scratchDir("gw-escaped") + "/t"
    val t = GraftTable.create(spark, dir, df.schema, partitionCols = Seq("at", "path"))
    t.append(df)
    assert(t.latest.files.size == 4)
    assert(t.latest.files.exists(_.partitionValues("path").contains("%")),
      "the a/b directory value is hive-escaped")
    val dataRoot = graft.table.SnapshotLog.dataPath(dir).toString
    def planned(pred: org.apache.spark.sql.Column, filters: Array[org.apache.spark.sql.sources.Filter]): (Int, Int) = {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], t.schema)
      val cond = empty.filter(pred).queryExecution.analyzed.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }
      val tableFiles = t.planner(t.latest).select(cond.flatMap(Fact.of)).size
      val sb = new GraftStreamTable(dir, t.schema).newScanBuilder(CaseInsensitiveStringMap.empty())
      sb.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownFilters].pushFilters(filters)
      val connFiles = sb.build().toBatch().planInputPartitions().length
      assert(t.readLatest().filter(pred).count() ===
        spark.read.format("graft").load(dir).filter(pred).count())
      (tableFiles, connFiles)
    }
    import org.apache.spark.sql.{sources => S}
    assert(planned(col("path") === "a/b", Array(S.EqualTo("path", "a/b"))) === ((1, 1)))
    assert(planned(col("path") === "e%f", Array(S.EqualTo("path", "e%f"))) === ((1, 1)))
    assert(planned(col("path") > "b", Array(S.GreaterThan("path", "b"))) === ((3, 3)))
    assert(planned(col("at") === ts(2), Array(S.EqualTo("at", ts(2)))) === ((1, 1)))
    assert(planned(col("at") >= ts(2) && col("at") < ts(3),
      Array(S.GreaterThanOrEqual("at", ts(2)), S.LessThan("at", ts(3)))) === ((1, 1)))
    assert(t.readLatest().filter(col("path") === "a/b").count() === 10L)
    assert(t.readLatest().filter(col("at") === ts(1)).count() === 10L)
  }
}
