package graft.table

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Metadata-only COUNT/MIN/MAX: exact answers with zero data-file reads, and
  * a None (scan-fallback) verdict in every case where metadata cannot answer
  * exactly — pending MOR deletes, unknown row counts, missing stats, string
  * columns, columns added after files were written.
  */
class MetadataAggSpec extends SparkSpec {

  private def tsOf(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  test("count and min/max answer from metadata alone — data files deleted first") {
    import spark.implicits._
    val dir = scratchDir("meta-agg")
    val df = Seq(
      (5L, 2.5, tsOf("2024-01-03 10:00:00"), "b"),
      (1L, 9.0, tsOf("2024-01-01 08:30:00"), "a"),
      (9L, -3.25, tsOf("2024-02-01 23:59:59"), "c")
    ).toDF("k", "price", "ts", "s")
    val t = GraftTable.create(spark, dir, df.schema)
    t.append(df.filter(col("k") < 9))
    t.append(df.filter(col("k") === 9))

    // destroy the data files: any accidental scan now fails loudly
    val dataDir = new java.io.File(s"$dir/data")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(dataDir)

    assert(t.countRowsFromMetadata().contains(3L))
    assert(t.minMaxFromMetadata("k").contains((1L, 9L)))
    assert(t.minMaxFromMetadata("price").contains((-3.25, 9.0)))
    assert(t.minMaxFromMetadata("ts").contains(
      (tsOf("2024-01-01 08:30:00"), tsOf("2024-02-01 23:59:59"))))
    // strings may be writer-truncated: never answered from metadata
    assert(t.minMaxFromMetadata("s").isEmpty)
  }

  test("pending merge-on-read delete forces scan fallback") {
    import spark.implicits._
    val dir = scratchDir("meta-agg-mor")
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val t = GraftTable.create(spark, dir, df.schema)
    t.append(df)
    assert(t.countRowsFromMetadata().contains(3L))
    graft.dml.Dml.deleteMorKeys(t, Seq(3L).toDF("k"))
    // the delete removed a row no file entry accounts for
    assert(t.countRowsFromMetadata().isEmpty)
    assert(t.minMaxFromMetadata("k").isEmpty)
    assert(t.readLatest().count() == 2L)
  }

  test("column added after files were written yields None, not stale bounds") {
    import spark.implicits._
    val dir = scratchDir("meta-agg-evolve")
    val df = Seq((1L, 10L), (2L, 20L)).toDF("k", "old")
    val t = GraftTable.create(spark, dir, df.schema)
    t.append(df)
    // rename old→old2 then re-add "old": stats recorded under "old" describe
    // the RENAMED column's data and must not answer for the new column
    t.renameColumn("old", "old2")
    t.addColumn("old", "bigint")
    assert(t.minMaxFromMetadata("old").isEmpty)
    // the renamed column still answers through its lineage
    assert(t.minMaxFromMetadata("old2").contains((10L, 20L)))
  }

  test("partition columns answer from partition values (no footer stats exist)") {
    import spark.implicits._
    val dir = scratchDir("meta-agg-part")
    val df = Seq(
      (1L, Option(10L)), (2L, Option(10L)), (3L, Option(20L)), (4L, Option.empty[Long])
    ).toDF("k", "day")
    val t = GraftTable.create(spark, dir, df.schema, partitionCols = Seq("day"))
    t.append(df)
    // hive layout strips the partition column from data files — these all
    // derive from the exact per-file partition values in snapshot metadata
    assert(t.minMaxFromMetadata("day").contains((10L, 20L)))
    assert(t.countNonNullFromMetadata("day").contains(3L))
    val (selNull, total) = t.planNullability(t.latest, "day", isNull = true)
    assert(selNull.size == 1 && total == 3,
      "only the __HIVE_DEFAULT_PARTITION__ file can hold IS NULL rows")
    assert(t.readWhereNull("day", isNull = true).count() == 1L)
    assert(t.readWhereNull("day", isNull = false).count() == 3L)
  }

  test("a delete whose keys miss every live file leaves metadata answering") {
    import spark.implicits._
    val dir = scratchDir("meta-agg-missed") + "/t"
    val t = GraftTable.create(spark, dir,
      org.apache.spark.sql.types.StructType.fromDDL("k bigint, v string"))
    t.append((1L to 10L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    t.append((11L to 20L).map(i => (i, s"b$i")).toDF("k", "v").coalesce(1))
    graft.dml.Dml.deleteMorKeys(t, Seq(500L).toDF("k"))
    assert(t.latest.deletes.size == 1)
    assert(t.countRowsFromMetadata().contains(20L))
    val df = spark.read.format("graft").load(dir).agg(count(lit(1)).as("n"))
    assert(df.collect().head.getLong(0) == 20L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation"), s"expected metadata aggregate in:\n$plan")
  }

  test("all-null and NaN columns fall back to scan") {
    import spark.implicits._
    val dir = scratchDir("meta-agg-null")
    val df = Seq(
      (1L, Option.empty[Double], Double.NaN),
      (2L, Option.empty[Double], 1.5)
    ).toDF("k", "all_null", "with_nan")
    val t = GraftTable.create(spark, dir, df.schema)
    t.append(df)
    assert(t.minMaxFromMetadata("all_null").isEmpty)
    // parquet drops stats for NaN-containing double chunks → conservative None
    assert(t.minMaxFromMetadata("with_nan").isEmpty)
    assert(t.minMaxFromMetadata("k").contains((1L, 2L)))
  }
}
