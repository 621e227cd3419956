package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dml.Dml
import graft.table.GraftTable

/** Connector reads of complex types: arrays, structs and maps decode
  * through `format("graft")` with projection, null elements, and MOR delete
  * reconciliation intact.
  */
class GraftConnectorNestedSpec extends SparkSpec {

  test("array<string> + struct round-trip through format(graft)") {
    val df = spark.sql("""
      SELECT * FROM VALUES
        (1L, array('a','b'), named_struct('source', 'web', 'score', 0.5D)),
        (2L, array('c'), named_struct('source', 'app', 'score', 1.5D)),
        (3L, CAST(NULL AS ARRAY<STRING>), named_struct('source', 'web', 'score', 2.0D)),
        (4L, array('d', CAST(NULL AS STRING)), named_struct('source', 'api', 'score', 3.0D))
      AS t(event_id, tags, meta)""")
    val dir = scratchDir("conn-nested") + "/t"
    val t = GraftTable.create(spark, dir, df.schema)
    t.append(df)
    val back = spark.read.format("graft").load(dir).orderBy("event_id")
    val rows = back.collect().map { r =>
      (r.getLong(0), Option(r.getSeq[String](1)).map(_.toList),
        r.getStruct(2).getString(0), r.getStruct(2).getDouble(1))
    }.toSeq
    assert(rows == Seq(
      (1L, Some(List("a", "b")), "web", 0.5),
      (2L, Some(List("c")), "app", 1.5),
      (3L, None, "web", 2.0),
      (4L, Some(List("d", null)), "api", 3.0)))
    // projection of only a nested column
    assert(spark.read.format("graft").load(dir)
      .select(coalesce(size(col("tags")), lit(-1)).as("n"))
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(-1, 1, 2, 2))
  }

  test("array<float> table: aggregates, pruning, MOR delete reconcile") {
    import spark.implicits._
    val df = (1 to 100).map(i =>
      (i.toLong, Array.tabulate(4)(j => (i + j).toFloat))).toDF("id", "vec")
    val dir = scratchDir("conn-nested2") + "/t"
    val t = GraftTable.create(spark, dir, df.schema)
    t.append(df.filter(col("id") <= 50).coalesce(1))
    t.append(df.filter(col("id") > 50).coalesce(1))
    val back = spark.read.format("graft").load(dir)
    assert(back.count() == 100)
    assert(back.agg(sum(element_at(col("vec"), 1))).head.getDouble(0) == (1 to 100).sum.toDouble)
    // numeric pruning on the primitive column still applies with nested cols projected
    assert(back.filter(col("id") > 50).count() == 50)
    // equality-delete reconciliation with a nested column in the projection
    Dml.deleteMorKeys(t, Seq(1L, 2L, 3L).toDF("id"))
    val after = spark.read.format("graft").load(dir)
    assert(after.count() == 97)
    assert(after.agg(min(col("id"))).head.getLong(0) == 4L)
    assert(after.select(element_at(col("vec"), 4)).agg(max("element_at(vec, 4)"))
      .head.getFloat(0) == 103f)
  }

  test("map<string, array<int>> reads through format(graft)") {
    val df = spark.sql("""
      SELECT * FROM VALUES
        (1L, map('a', array(1, 2), 'b', CAST(NULL AS ARRAY<INT>))),
        (2L, CAST(NULL AS MAP<STRING, ARRAY<INT>>)),
        (3L, map('c', array(3, CAST(NULL AS INT))))
      AS t(id, m)""")
    val dir = scratchDir("conn-nested-map") + "/t"
    val t = GraftTable.create(spark, dir, df.schema)
    t.append(df)
    def rows(d: org.apache.spark.sql.DataFrame) = d.orderBy("id").collect().toSeq
    val conn = spark.read.format("graft").load(dir)
    assert(rows(conn) == rows(t.readLatest()))
    assert(rows(conn) == rows(df))
    assert(rows(conn.select(col("id"), element_at(col("m"), "a").as("a"))) ==
      rows(t.readLatest().select(col("id"), element_at(col("m"), "a").as("a"))))
  }
}
