package graft.table

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dml.Dml

/** Sharded delete-vector writes: above the size ceiling a MOR delete
  * commit writes one delete file PER SHARD instead of funneling the whole
  * vector through `coalesce(1)` — and the multi-file commit round-trips
  * identically on the read side (per-commit files union).
  */
class DeleteShardSpec extends SparkSpec {

  test("large positional DV shards into multiple files; read reconciles") {
    import spark.implicits._
    val dir = scratchDir("dv-shard") + "/t"
    val df = (1 to 4000).map(i => (i.toLong, i % 7)).toDF("id", "grp")
    val t = GraftTable.create(spark, dir, df.schema)
    t.append(df.repartition(4))
    sys.props("graft.test.delete-shard-bytes") = "1024" // force the sharded path
    try {
      Dml.deleteMorPositional(t, col("id") % 2 === 0)
      val delFiles = t.latest.deletes
      assert(delFiles.size > 1,
        s"expected a sharded multi-file DV commit, got ${delFiles.size} file(s)")
      assert(t.readLatest().count() == 2000)
      assert(t.readLatest().agg(min("id"), max("id")).head.toSeq == Seq(1L, 3999L))
      // connector read reconciles the sharded vector identically
      assert(spark.read.format("graft").load(dir).count() == 2000)
    } finally sys.props.remove("graft.test.delete-shard-bytes")
  }

  test("small key-batch deletes keep the single-file shape") {
    import spark.implicits._
    val dir = scratchDir("dv-single") + "/t"
    val df = (1 to 100).map(i => (i.toLong, s"u$i")).toDF("id", "u")
    val t = GraftTable.create(spark, dir, df.schema)
    t.append(df)
    Dml.deleteMorKeys(t, Seq(1L, 2L).toDF("id"))
    assert(t.latest.deletes.size == 1)
    assert(t.readLatest().count() == 98)
  }

  test("sharded key batches range-partition: disjoint bounds, one shard per inner file") {
    import spark.implicits._
    val dir = scratchDir("del-range") + "/t"
    val t = GraftTable.create(spark, dir, Seq((1L, "a")).toDF("id", "u").schema)
    // 40 key-ordered data files of 100 keys each
    (0 until 40).foreach { i =>
      t.append((i * 100L until i * 100L + 100L).map(k => (k, s"u$k")).toDF("id", "u").coalesce(1))
    }
    sys.props("graft.test.delete-shard-bytes") = "8192" // force the sharded path
    try Dml.deleteMorKeys(t, (0L until 4000L by 2L).toDF("id").repartition(8))
    finally sys.props.remove("graft.test.delete-shard-bytes")
    val shards = t.latest.deletes
    assert(shards.size > 1, s"expected a sharded delete commit, got ${shards.size} file(s)")
    val bounds = shards.map(d => d.stats("id").take(2).map(_.toLong)).sortBy(_.head)
    bounds.sliding(2).foreach { case Seq(a, b) =>
      assert(a(1) < b(0), s"shard bounds overlap: $bounds")
    }
    // a data file lying inside one shard's bounds is marked by that shard alone
    val plan = t.planner(t.latest)
    val inner = t.latest.files.filter { f =>
      val Seq(lo, hi) = f.stats("id").take(2).map(_.toLong)
      bounds.exists(b => b(0) <= lo && hi <= b(1))
    }
    assert(inner.nonEmpty)
    inner.foreach(f => assert(plan.deletesFor(f).size === 1, f.path))
    assert(t.readLatest().count() === 2000)
  }
}
