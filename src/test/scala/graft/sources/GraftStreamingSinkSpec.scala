package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.table.GraftTable

/** The DSv2 streaming SINK: `df.writeStream.format("graft").start(dir)` —
  * exactly-once through Spark's epoch commits + the table's stream-batch-id
  * fence, no foreachBatch.
  */
class GraftStreamingSinkSpec extends SparkSpec {

  private def mkSource(root: String, n: Int): Unit = {
    import spark.implicits._
    val df = (1 to n).map(i => (i.toLong, s"u${i % 5}", i * 1.5)).toDF("id", "user", "v")
    // 4 files -> 4 micro-batches under maxFilesPerTrigger=1
    df.repartition(4).write.parquet(s"$root/src")
  }

  private def runSink(root: String, dir: String, checkpoint: String): Unit = {
    val schema = spark.read.parquet(s"$root/src").schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$root/src")
      .writeStream.format("graft")
      .option("checkpointLocation", s"$root/$checkpoint")
      .trigger(Trigger.AvailableNow())
      .start(dir)
    q.awaitTermination()
  }

  test("streaming sink appends each epoch exactly once; replay skips all") {
    import spark.implicits._
    val root = scratchDir("stream-sink")
    val dir = s"$root/t"
    mkSource(root, 100)
    val schema = spark.read.parquet(s"$root/src").schema
    val t = GraftTable.create(spark, dir, schema)
    runSink(root, dir, "cp1")
    assert(t.readLatest().count() == 100)
    assert(t.readLatest().agg(sum("id")).head.getLong(0) == 5050L)
    val streamCommits = t.snapshotsList.count(_.summary.contains("stream-batch-id"))
    assert(streamCommits == 4, s"expected 4 epoch commits, saw $streamCommits")
    // every data file was written once, by the epoch's own tasks
    assert(t.latest.files.nonEmpty)
    assert(t.latest.files.forall(_.path.startsWith("stream-")))
    // fresh checkpoint -> Spark replays every epoch -> the fence skips all
    runSink(root, dir, "cp2")
    assert(t.readLatest().count() == 100)
    assert(t.snapshotsList.count(_.summary.contains("stream-batch-id")) == 4)
    // the replayed epochs' files were deleted: every parquet file under
    // data/ is a committed one
    def parquets(f: java.io.File): Seq[java.io.File] =
      if (!f.exists()) Nil
      else if (f.isDirectory) f.listFiles().toSeq.flatMap(parquets)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    assert(parquets(new java.io.File(s"$dir/data")).size == t.latest.files.size)
    // published rows read back identically through the connector
    assert(spark.read.format("graft").load(dir).orderBy("id").collect().toSeq ==
      t.readLatest().orderBy("id").collect().toSeq)
  }

  test("streaming sink into a partitioned table lands hive layout with stats") {
    import spark.implicits._
    val root = scratchDir("stream-sink-part")
    val dir = s"$root/t"
    val df = (1 to 60).map(i => (i.toLong, s"2024-06-0${i % 3 + 1}", i * 2.0))
      .toDF("id", "ds", "v")
    df.repartition(3).write.parquet(s"$root/src")
    val t = GraftTable.create(spark, dir, df.schema, partitionCols = Seq("ds"))
    val q = spark.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$root/src")
      .writeStream.format("graft")
      .option("checkpointLocation", s"$root/cp1")
      .trigger(Trigger.AvailableNow())
      .start(dir)
    q.awaitTermination()
    assert(t.readLatest().count() == 60)
    assert(t.latest.files.forall(_.partitionValues.contains("ds")))
    assert(t.snapshotsList.count(_.summary.contains("stream-batch-id")) == 3)
    assert(spark.read.format("graft").load(dir)
      .filter(col("ds") === "2024-06-02").count() == 20)
  }

  test("epoch commit publishes ONLY message-named files — zombie staging files never land") {
    import spark.implicits._
    val root = scratchDir("stream-sink-zombie")
    val dir = s"$root/t"
    val winner = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "user", "v")
    val t = GraftTable.create(spark, dir, winner.schema)
    // tasks write at final names: the winning attempt's file, a zombie
    // attempt's duplicate (closed parquet, same rows, abort never ran) and
    // a torn leftover (an unclosed write — no parquet footer at all)
    val named = t.writeDataFiles(winner.coalesce(1), 2L)
    val zombie = t.writeDataFiles(winner.coalesce(1), 2L)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/data/stream-torn.parquet"),
      Array[Byte](0x50, 0x41, 0x52, 0x31, 0x00))
    // a directory listing would double rows (zombie) then wedge on the torn
    // footer; the message-named commit lands exactly the winner's rows
    val snap = t.commitStreamingEpoch(0L, named)
    assert(snap.nonEmpty)
    assert(t.latest.files.map(_.path) === named.map(_.path))
    assert(t.readLatest().count() == 2)
    assert(t.readLatest().agg(sum("id")).head.getLong(0) == 3L)
    // the leftovers are unreferenced: the orphan sweep reclaims exactly them
    assert(graft.maintenance.Maintenance.removeOrphanFiles(t, Long.MaxValue).toSet ===
      (zombie.map(_.path) :+ "stream-torn.parquet").toSet)
    assert(t.readLatest().count() == 2)
  }

  test("epoch commit refuses when a message-named file is missing") {
    import spark.implicits._
    val root = scratchDir("stream-sink-missing")
    val dir = s"$root/t"
    val df = Seq((1L, "a", 1.0)).toDF("id", "user", "v")
    val t = GraftTable.create(spark, dir, df.schema)
    val ex = intercept[IllegalArgumentException] {
      t.commitStreamingEpoch(0L, Seq(graft.table.FileEntry("stream-gone.parquet", Map.empty, 1L, 10L)))
    }
    assert(ex.getMessage.contains("is missing"))
    assert(t.snapshotsList.size == 1)
  }

  test("partitioned epoch commit reads only message-named files and fences in-commit") {
    import spark.implicits._
    val root = scratchDir("stream-sink-zombie-part")
    val dir = s"$root/t"
    val df = Seq((1L, "2024-06-01", 1.0), (2L, "2024-06-02", 2.0))
      .toDF("id", "ds", "v")
    val t = GraftTable.create(spark, dir, df.schema, partitionCols = Seq("ds"))
    val named = t.writeDataFiles(df.coalesce(1), 2L)
    val zombie = t.writeDataFiles(df.coalesce(1), 2L)
    assert(t.commitStreamingEpoch(0L, named).nonEmpty)
    assert(t.latest.files.map(_.path).toSet === named.map(_.path).toSet)
    assert(t.latest.files.forall(_.partitionValues.contains("ds")))
    assert(t.readLatest().count() == 2)
    // replay of the SAME epoch (fence already advanced): skipped, no
    // commit, and the replay's own files are deleted
    val replay = t.writeDataFiles(df.coalesce(1), 3L)
    assert(t.commitStreamingEpoch(0L, replay).isEmpty)
    assert(replay.forall(e => !new java.io.File(s"$dir/data/${e.path}").exists()))
    assert(t.readLatest().count() == 2)
    assert(t.snapshotsList.count(_.summary.contains("stream-batch-id")) == 1)
    assert(graft.maintenance.Maintenance.removeOrphanFiles(t, Long.MaxValue).toSet ===
      zombie.map(_.path).toSet)
  }

  test("streaming sink refuses a schema that does not match the table") {
    import spark.implicits._
    val root = scratchDir("stream-sink-badschema")
    val dir = s"$root/t"
    val good = Seq((1L, "a", 1.0)).toDF("id", "user", "v")
    GraftTable.create(spark, dir, good.schema)
    val bad = Seq((1L, "a")).toDF("id", "user")
    bad.write.parquet(s"$root/src")
    val ex = intercept[Exception] {
      val q = spark.readStream.schema(bad.schema).parquet(s"$root/src")
        .writeStream.format("graft")
        .option("checkpointLocation", s"$root/cp")
        .trigger(Trigger.AvailableNow())
        .start(dir)
      q.awaitTermination()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).exists(c => Option(c.getMessage)
      .exists(_.contains("does not match table"))))
  }
}
