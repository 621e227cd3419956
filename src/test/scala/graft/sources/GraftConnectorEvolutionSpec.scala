package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.table.GraftTable

/** Connector-side evolution replay: `format("graft")` batch reads of files
  * written under an OLDER schema resolve through the table's evolution
  * replay (rename → stored name, widen → cast, add-with-default →
  * constant, drop → gone) instead of refusing — value-identical to the
  * table API's own readLatest replay.
  */
class GraftConnectorEvolutionSpec extends SparkSpec {

  test("rename + widen + add-default + drop replay through format(graft)") {
    import spark.implicits._
    val dir = scratchDir("conn-evolve") + "/t"
    val v1 = Seq((1, "a", 1.5f), (2, "b", 2.5f)).toDF("id", "name", "score")
    val t = GraftTable.create(spark, dir, v1.schema)
    t.append(v1)
    t.renameColumn("name", "label")
    t.widenColumn("id", "BIGINT")
    t.addColumn("grade", "STRING", "none")
    t.addColumn("note", "STRING") // no default -> NULL replay
    t.widenColumn("score", "DOUBLE")
    // post-evolution file under the current shape
    t.append(Seq((3L, "c", 3.5, "good", "n3")).toDF("id", "label", "score", "grade", "note"))

    val df = spark.read.format("graft").load(dir).orderBy("id")
    assert(df.columns.toSeq == Seq("id", "label", "score", "grade", "note"))
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
      r.getString(3), Option(r.getString(4)))).toSeq
    assert(rows == Seq(
      (1L, "a", 1.5, "none", None),
      (2L, "b", 2.5, "none", None),
      (3L, "c", 3.5, "good", Some("n3"))))
    // value parity with the table API's own replay
    val api = t.readLatest().orderBy("id").collect().map(_.toSeq).toSeq
    assert(df.collect().map(_.toSeq).toSeq == api)

    // dropped column vanishes from old files too
    t.dropColumn("note")
    val df2 = spark.read.format("graft").load(dir)
    assert(df2.columns.toSeq == Seq("id", "label", "score", "grade"))
    assert(df2.count() == 3)
  }

  test("a column widened INT to STRING replays through format(graft)") {
    import spark.implicits._
    val dir = scratchDir("conn-widen-str") + "/t"
    val v1 = Seq((1, 10), (2, 20)).toDF("id", "code")
    val t = GraftTable.create(spark, dir, v1.schema)
    t.append(v1)
    t.widenColumn("code", "STRING")
    t.append(Seq((3, "x30")).toDF("id", "code"))
    def rows(d: org.apache.spark.sql.DataFrame) = d.orderBy("id").collect().toSeq
    val conn = spark.read.format("graft").load(dir)
    assert(rows(conn) == rows(t.readLatest()))
    assert(rows(conn).map(_.getString(1)) == Seq("10", "20", "x30"))
    assert(conn.filter(col("code") === "20").count() == 1)
  }

  test("evolved read keeps pruning + projection; aggregates stay correct") {
    import spark.implicits._
    val dir = scratchDir("conn-evolve2") + "/t"
    val v1 = (1 to 100).map(i => (i, i * 1.0)).toDF("k", "v")
    val t = GraftTable.create(spark, dir, v1.schema)
    t.append(v1)
    t.widenColumn("k", "BIGINT")
    t.append((101 to 200).map(i => (i.toLong, i * 1.0)).toDF("k", "v"))
    val df = spark.read.format("graft").load(dir)
    assert(df.filter(col("k") <= 150L).count() == 150L)
    assert(df.agg(sum("k")).head.getLong(0) == (1L to 200L).sum)
    // projection of only the widened column still decodes
    assert(df.select("k").agg(max("k")).head.getLong(0) == 200L)
  }

  test("_file metadata column: constant per file, no file bytes needed") {
    import spark.implicits._
    val dir = scratchDir("conn-file") + "/t"
    val data = (1 to 10).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
    val t = GraftTable.create(spark, dir, data.schema)
    t.append(data.filter(col("id") <= 5).coalesce(1))
    t.append(data.filter(col("id") > 5).coalesce(1))
    val df = spark.read.format("graft").load(dir).select(col("id"), col("_file"))
    val byFile = df.collect().map(r => (r.getLong(0), r.getString(1)))
    assert(byFile.map(_._2).distinct.length == t.latest.files.size)
    // rows written together share a _file; files carry their real paths
    val groups = byFile.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    assert(groups == Set((1L to 5L).toSet, (6L to 10L).toSet))
    assert(byFile.forall(_._2.startsWith(dir)))
  }

  /** 100 rows whose `v` (101..200) is dropped, then re-added with default 5. */
  private def readdedTable(name: String): (String, GraftTable, Long, Long) = {
    import spark.implicits._
    val dir = scratchDir(name) + "/t"
    val df = (1 to 100).map(i => (i.toLong, i + 100L)).toDF("id", "v")
    val t = GraftTable.create(spark, dir, df.schema)
    val created = t.latest.snapshotId
    t.append(df)
    val appended = t.latest.snapshotId
    t.dropColumn("v")
    t.addColumn("v", "BIGINT", "5")
    (dir, t, created, appended)
  }

  private def messages(e: Throwable): String =
    if (e == null) "" else Option(e.getMessage).getOrElse("") + "|" + messages(e.getCause)

  test("drop then re-add with a default: reads, filters and pushed aggregates match readLatest") {
    val (dir, t, _, _) = readdedTable("conn-readd")
    val conn = spark.read.format("graft").load(dir)
    val api = t.readLatest()
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("id").collect().map(_.toSeq).toSeq
    assert(rows(conn) == rows(api))
    assert(api.filter(col("v") === 5L).count() == 100)
    assert(conn.filter(col("v") === 5L).count() == 100)
    val aggs = Seq(min("v").as("mn"), max("v").as("mx"), count("v").as("n"))
    val fromApi = api.agg(aggs.head, aggs.tail: _*).head.toSeq
    val fromConn = conn.agg(aggs.head, aggs.tail: _*).head.toSeq
    assert(fromApi == Seq(5L, 5L, 100L) && fromConn == fromApi)
  }

  test("append-only ranges over a dropped-then-re-added column refuse, never read old values") {
    val (dir, _, created, appended) = readdedTable("conn-readd-range")
    // (created, appended] holds only the append, whose file stores the
    // DROPPED v under the re-added column's name and type
    val e = intercept[Exception] {
      spark.read.format("graft")
        .option("start-snapshot-id", created.toString)
        .option("end-snapshot-id", appended.toString).load(dir).collect()
    }
    assert(messages(e).contains("evolved schema"), messages(e))
    // one commit per micro-batch: the append's batch is planned before the
    // drop commit is ever reached, and must refuse on its own
    val q = spark.readStream.format("graft").option("max-commits-per-trigger", "1")
      .load(dir).writeStream.format("memory").queryName("readd_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val se = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(messages(se).contains("different schema"), messages(se))
    assert(spark.table("readd_stream").count() == 0, "dropped values were streamed")
  }
}
