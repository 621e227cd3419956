package graft.table

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.{SparkProbe, SparkSpec}

/** Table scans plan from the snapshot's own file list (`SnapshotFileIndex`):
  * building a read starts no Spark job, and what it reads — rows, partition
  * values, `_metadata` columns, `input_file_name()` — equals a plain
  * `spark.read.parquet` of the same files under the same base path.
  */
class SnapshotFileIndexSpec extends SparkSpec {

  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def withMeta(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col) ++ Seq(col("_metadata.file_name"), col("_metadata.row_index"),
      input_file_name()): _*)

  /** The same files read the way the table used to read them. */
  private def plain(t: GraftTable, files: Seq[FileEntry], schema: StructType): DataFrame = {
    val root = SnapshotLog.dataPath(t.tableDir).toString
    spark.read.option("basePath", root).schema(schema)
      .parquet(files.map(f => s"$root/${f.path}"): _*)
  }

  test("building a read over a 48-file snapshot starts no Spark job") {
    val t = GraftTable.create(spark, scratchDir("sfi-jobs-") + "/t",
      StructType.fromDDL("id bigint, p int"), partitionCols = Seq("p"))
    t.append(spark.range(0, 4800).select(col("id"), (col("id") % 48).cast("int").as("p"))
      .coalesce(1))
    assert(t.latest.files.size === 48)
    val (df, built) = SparkProbe.observe(spark)(t.readLatest())
    assert(built.jobs === 0, "building the read ran a job")
    val eng = new graft.plan.SparkSqlEngine(spark)
    val (_, bound) = SparkProbe.observe(spark)(eng.registerGraftTable("sfi_jobs", t))
    assert(bound.jobs === 0, "binding the SQL view ran a job")
    assert(df.count() === 4800L)
    assert(df.inputFiles.length === 48)
    assert(eng.execute("SELECT COUNT(*) AS n FROM sfi_jobs WHERE p = 7").rows.head("n") === 100L)
    assert(eng.lastPrune("sfi_jobs") === ((1, 48)))
  }

  test("identity partitions with escaped strings, NULL and DATE read as plain parquet does") {
    val t = GraftTable.create(spark, scratchDir("sfi-ident-") + "/t",
      StructType.fromDDL("id bigint, v string, region string, d date"),
      partitionCols = Seq("region", "d"))
    val regions = Seq(Some("a/b"), Some("x%y"), Some("sp ace"), Some("k=v:1"), None)
    val days = Seq(Some(java.sql.Date.valueOf("2024-02-29")), None)
    val data = for ((r, i) <- regions.zipWithIndex; (d, j) <- days.zipWithIndex; k <- 0 until 3)
      yield ((i * 10 + j * 3 + k).toLong, s"v$i$j$k", r, d)
    t.append(data.toDF("id", "v", "region", "d").coalesce(1))
    val snap = t.latest
    assert(snap.files.size === regions.size * days.size)
    val cols = Seq("id", "v", "region", "d")
    assert(rows(withMeta(t.readLatest(), cols)) === rows(withMeta(plain(t, snap.files, t.schema), cols)))
    // decoded values, exactly the written ones
    assert(rows(t.readLatest().select(cols.map(col): _*)) ===
      rows(data.toDF("id", "v", "region", "d")))
    assert(t.readLatest().filter(col("region") === "a/b").count() === 6L)
    assert(t.readLatest().filter(col("region").isNull && col("d").isNull).count() === 3L)
    // the DML addressing read: file and row position captured at the scan
    val tagged = t.readSnapshotTagged(snap, "_f", "_pos").select("id", "_f", "_pos")
    val base = plain(t, snap.files, t.schema)
      .select(col("id"), input_file_name(), col("_metadata.row_index"))
    assert(rows(tagged) === rows(base))
    assert(tagged.collect().forall(_.getString(1).startsWith("file:")))
  }

  test("a transform-partitioned table reads as plain parquet does") {
    val t = GraftTable.create(spark, scratchDir("sfi-transform-") + "/t",
      StructType.fromDDL("id bigint, ts timestamp"), partitionCols = Seq("ts_day"),
      properties = Map(GraftTable.PartitionTransformsProp -> "days(ts)=ts_day"))
    val data = for (d <- 1 to 4; h <- 0 until 5)
      yield (d * 100L + h, java.sql.Timestamp.valueOf(f"2024-03-$d%02d ${h * 4}%02d:00:00"))
    t.append(data.toDF("id", "ts"))
    val snap = t.latest
    assert(snap.files.map(_.partitionValues("ts_day")).toSet.size === 4)
    val cols = Seq("id", "ts")
    assert(rows(withMeta(t.readLatest(), cols)) === rows(withMeta(plain(t, snap.files, t.schema), cols)))
    assert(rows(t.readLatest()) === rows(data.toDF("id", "ts")))
  }

  test("an evolved schema reads every epoch with its own layout and builds with no job") {
    val t = GraftTable.create(spark, scratchDir("sfi-evolve-") + "/t",
      StructType.fromDDL("id bigint, v int"))
    t.append((1 to 30).map(i => (i.toLong, i)).toDF("id", "v").repartition(3))
    val before = t.latest.files
    t.addColumn("w", "string", "dflt")
    t.renameColumn("v", "v2")
    t.widenColumn("v2", "bigint")
    t.append((31 to 40).map(i => (i.toLong, i.toLong * 2, s"w$i")).toDF("id", "v2", "w")
      .coalesce(1))
    val snap = t.latest
    val (df, built) = SparkProbe.observe(spark)(t.readLatest())
    assert(built.jobs === 0)
    val expected = (1 to 30).map(i => (i.toLong, i.toLong, "dflt")) ++
      (31 to 40).map(i => (i.toLong, i.toLong * 2, s"w$i"))
    assert(rows(df) === rows(expected.toDF("id", "v2", "w")))
    // each row's file and position equal a plain read of each write's files
    val tagged = t.readSnapshotTagged(snap, "_f", "_pos").select("id", "_f", "_pos")
    val after = snap.files.filterNot(f => before.exists(_.path == f.path))
    val base = Seq((before, StructType.fromDDL("id bigint, v int")),
        (after, StructType.fromDDL("id bigint, v2 bigint, w string")))
      .map { case (fs, s) =>
        plain(t, fs, s).select(col("id"), input_file_name(), col("_metadata.row_index")) }
      .reduce(_.union(_))
    assert(rows(tagged) === rows(base))
  }

  test("a data file removed out of band fails the read when it runs, never drops rows") {
    val t = GraftTable.create(spark, scratchDir("sfi-missing-") + "/t",
      StructType.fromDDL("id bigint"))
    (0 until 3).foreach(i => t.append(spark.range(i * 10, i * 10 + 10).toDF().coalesce(1)))
    val gone = t.latest.files(1)
    val path = new Path(SnapshotLog.dataPath(t.tableDir), gone.path)
    assert(path.getFileSystem(spark.sessionState.newHadoopConf()).delete(path, false))
    val df = t.readLatest() // builds: nothing is listed or opened
    def missing(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[java.io.FileNotFoundException])
    val onCollect = intercept[Exception](df.collect())
    assert(missing(onCollect), onCollect.toString)
    val onCount = intercept[Exception](df.count())
    assert(missing(onCount), onCount.toString)
  }

  test("two reads of the same files are one relation; different file sets are not") {
    val t = GraftTable.create(spark, scratchDir("sfi-equal-") + "/t",
      StructType.fromDDL("id bigint"))
    (0 until 2).foreach(i => t.append(spark.range(i * 10, i * 10 + 10).toDF().coalesce(1)))
    val snap = t.latest
    def plan(df: DataFrame) = df.queryExecution.optimizedPlan
    assert(plan(t.readLatest()).sameResult(plan(t.readLatest())))
    assert(!plan(t.readFiles(snap.files.take(1))).sameResult(plan(t.readFiles(snap.files.drop(1)))))
    // a self-union of one snapshot and of two disjoint halves stay exact
    assert(t.readLatest().union(t.readLatest()).count() === 40L)
    assert(t.readFiles(snap.files.take(1)).union(t.readFiles(snap.files.drop(1)))
      .select(sum("id")).head().getLong(0) === (0L until 20L).sum)
  }

  test("a table-API filter prunes at the scan, a renamed column by its current name") {
    val t = GraftTable.create(spark, scratchDir("sfi-prune-") + "/t",
      StructType.fromDDL("id bigint, v int"))
    (0 until 4).foreach(i =>
      t.append((i * 10 until i * 10 + 10).map(k => (k.toLong, k)).toDF("id", "v").coalesce(1)))
    def read(df: => DataFrame): (Seq[String], (Long, Long)) = {
      val (rows, o) = SparkProbe.observe(spark)(df.collect().map(_.toString).toSeq.sorted)
      (rows, SparkProbe.tableFiles(t, o))
    }
    assert(read(t.readLatest().filter(col("v") >= 35)) ===
      (((35 to 39).map(k => s"[$k,$k]"), (1L, 4L))))
    // the old files store `v`; the filter names `v2`
    t.renameColumn("v", "v2")
    t.append(Seq((40L, 40)).toDF("id", "v2").coalesce(1))
    assert(read(t.readLatest().filter(col("v2").between(12, 13))) ===
      ((Seq("[12,12]", "[13,13]"), (1L, 5L))))
    assert(read(t.readLatest().filter(col("v2") === 40)) === ((Seq("[40,40]"), (1L, 5L))))
    // the table API's pruned reads are filters over the same scan
    assert(read(t.readBetween("v2", 21, 22)) === ((Seq("[21,21]", "[22,22]"), (1L, 5L))))
    assert(read(t.readIn("v2", Seq(1, 40))) === ((Seq("[1,1]", "[40,40]"), (2L, 5L))))
  }

  test("a SQL IN list of 12 keys (the optimizer's InSet) reads only those keys' buckets") {
    val t = GraftTable.create(spark, scratchDir("sfi-inset-") + "/t",
      StructType.fromDDL("k bigint, v string"), partitionCols = Seq("k_bucket"),
      properties = Map(GraftTable.PartitionTransformsProp -> "bucket(8,k)=k_bucket"))
    t.append((0L until 200L).map(k => (k, s"v$k")).toDF("k", "v"))
    assert(t.latest.files.size === 8)
    // 12 keys from two buckets
    val buckets = (0L until 200L).groupBy(k => GraftTable.bucketOf(LongType, k, 8).get)
    val keys = (buckets(1).take(6) ++ buckets(5).take(6)).sorted
    val eng = new graft.plan.SparkSqlEngine(spark)
    eng.registerGraftTable("sfi_inset", t)
    val sql = s"SELECT k FROM sfi_inset WHERE k IN (${keys.mkString(", ")}) ORDER BY k"
    assert(spark.sql(sql).queryExecution.optimizedPlan.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.InSet]))))
    val (res, o) = SparkProbe.observe(spark)(eng.execute(sql))
    assert(res.rows.map(_("k")) === keys)
    assert(SparkProbe.tableFiles(t, o) === ((2L, 8L)))
    assert(eng.lastPrune("sfi_inset") === ((2, 8)))
  }
}
