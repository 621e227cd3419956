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
  * size are its own. */
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

  test("a copy-on-write MERGE that raises its duplicate-key guard leaves data/ and the snapshot unchanged") {
    import spark.implicits._
    val t = GraftTable.create(spark, scratchDir("dfw-merge-fail"), kv(1, 1).schema)
    t.append(kv(100, 4))
    val (files, snaps) = (listing(t), t.snapshotsList.map(_.snapshotId))
    val src = Seq((5L, "x"), (5L, "y"), (500L, "z")).toDF("k", "v")
    val e = intercept[Exception](Dml.merge(t, src, "k", Map("v" -> col("src.v")),
      insertNotMatched = true))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("cardinality violation")), e)
    assert(listing(t) === files)
    assert(t.snapshotsList.map(_.snapshotId) === snaps)
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
