package graft.table

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dml.Dml

object DataFileWriterSpec {
  @volatile var entered = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)
}

/** The one table-file writer: a failed write leaves nothing behind, and a
  * write never sets the session conf — its timestamp type and advisory
  * size are its own — while it reads the session's current Hadoop
  * settings. */
class DataFileWriterSpec extends SparkSpec {
  import DataFileWriterSpec._

  /** Every file and directory under `data/` (relative), checksums aside. */
  private def listing(t: GraftTable): Set[String] = {
    val root = new java.io.File(s"${t.tableDir}/data")
    def walk(f: java.io.File): Seq[String] =
      if (f.getName.endsWith(".crc")) Nil
      else root.toPath.relativize(f.toPath).toString +:
        (if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Nil)
    walk(root).toSet
  }

  private def kv(n: Int, parts: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"v$i")).toDF("k", "v").repartition(parts)
  }

  test("an append whose task raises leaves data/ and the snapshot unchanged") {
    val t = GraftTable.create(spark, scratchDir("dfw-append-fail"), kv(1, 1).schema)
    t.append(kv(40, 2))
    val (files, snaps) = (listing(t), t.snapshotsList.map(_.snapshotId))
    // four tasks; the one holding k >= 150 raises after the others commit
    val bad = spark.range(0, 200, 1, 4).select(col("id").as("k"),
      when(col("id") < 150, col("id").cast("string"))
        .otherwise(assert_true(lit(false)).cast("string")).as("v"))
    intercept[Exception](t.append(bad))
    assert(listing(t) === files)
    assert(t.snapshotsList.map(_.snapshotId) === snaps)
    assert(t.readLatest().count() === 40L)
  }

  /** A MERGE whose duplicate source key matches raises while its change
    * set is evaluated: no write job starts, so data/ and the log stay as
    * they were. */
  private def raisingMerge(name: String, merge: (GraftTable, org.apache.spark.sql.DataFrame) => Any)
      : Unit = {
    import spark.implicits._
    val t = GraftTable.create(spark, scratchDir(name), kv(1, 1).schema)
    t.append(kv(100, 4))
    val (files, snaps) = (listing(t), t.snapshotsList.map(_.snapshotId))
    val src = Seq((5L, "x"), (5L, "y"), (500L, "z")).toDF("k", "v")
    val (out, seen) = graft.SparkProbe.observe(spark)(scala.util.Try(merge(t, src)))
    val e = intercept[Exception](out.get)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("cardinality violation")), e)
    assert(seen.writeJobs === 0)
    assert(listing(t) === files)
    assert(t.snapshotsList.map(_.snapshotId) === snaps)
    // the probe sees a write when there is one
    assert(graft.SparkProbe.observe(spark)(t.append(kv(1, 1)))._2.writeJobs === 1)
  }

  test("a copy-on-write MERGE that raises its duplicate-key guard leaves data/ and the snapshot unchanged") {
    raisingMerge("dfw-merge-fail", (t, src) =>
      Dml.merge(t, src, "k", Map("v" -> col("src.v")), insertNotMatched = true))
  }

  test("a merge-on-read MERGE that raises its duplicate-key guard leaves data/ unchanged") {
    raisingMerge("dfw-merge-mor-fail", (t, src) =>
      Dml.mergeMor(t, src, "k", Map("v" -> col("src.v")), insertNotMatched = true))
  }

  test("a table write never sets the session conf") {
    import spark.implicits._
    val keys = Seq("spark.sql.parquet.outputTimestampType",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val before = keys.map(spark.conf.getOption)
    val df = (0 until 100).map(i => (i.toLong, new java.sql.Timestamp(i * 1000L), s"p${i % 2}"))
      .toDF("k", "ts", "p")
    val t = GraftTable.create(spark, scratchDir("dfw-conf"), df.schema, Seq("p"),
      properties = Map(GraftTable.TargetFileSizeProp -> "4096"))
    entered = new CountDownLatch(1)
    release = new CountDownLatch(1)
    val hold = udf { (k: Long) =>
      DataFileWriterSpec.entered.countDown()
      DataFileWriterSpec.release.await(60, TimeUnit.SECONDS)
      k
    }
    val write = Future(t.append(df.withColumn("k", hold(col("k")))))
    try {
      assert(entered.await(60, TimeUnit.SECONDS), "the write's task never started")
      assert(keys.map(spark.conf.getOption) === before, "the write set the session conf")
    } finally release.countDown()
    Await.result(write, 120.seconds)
    assert(keys.map(spark.conf.getOption) === before)
    // the table's own settings reached its files: timestamps carry stats
    assert(t.latest.files.forall(_.stats.get("ts").exists(_.size == 3)))
  }

  test("a Hadoop setting made after a handle is built reaches the handle's next write") {
    val t = GraftTable.create(spark, scratchDir("dfw-late-conf"), kv(1, 1).schema)
    t.append(kv(2000, 1))
    def rowGroups: Int = {
      val f = t.latest.files.maxBy(_.writtenAt)
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"${t.tableDir}/data/${f.path}"),
        spark.sessionState.newHadoopConf())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRowGroups.size finally r.close()
    }
    assert(rowGroups === 1)
    // a row group closes once its buffered bytes pass parquet.block.size
    spark.conf.set("parquet.block.size", "1024")
    try t.append(kv(2000, 1)) finally spark.conf.unset("parquet.block.size")
    assert(rowGroups > 1)
    assert(t.readLatest().count() === 4000L)
  }

  test("concurrent appends with different target file sizes each produce their serial file count") {
    import spark.implicits._
    val rows = (1 to 40000).map { i =>
      ("only", (i * 2654435761L) % 999983L, f"${i * 40503L}%x-${i.toHexString}")
    }.toDF("p", "k", "payload").cache()
    def table(name: String, target: Long) = GraftTable.create(spark, scratchDir(name),
      rows.schema, Seq("p"), properties = Map(GraftTable.TargetFileSizeProp -> target.toString,
        GraftTable.ShuffleCompressionFactorProp -> "1.0"))
    val (small, big) = (64L * 1024, 1L << 30)
    val serial = Seq(small, big).map { target =>
      val t = table("dfw-serial", target); t.append(rows); t.latest.files.size
    }
    assert(serial(0) > 1 && serial(1) == 1, s"serial file counts $serial")
    val ts = Seq(small, big).map(table("dfw-concurrent", _))
    Await.result(Future.sequence(ts.map(t => Future(t.append(rows)))), 300.seconds)
    assert(ts.map(_.latest.files.size) === serial)
    rows.unpersist()
  }
}
