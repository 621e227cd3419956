package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.table.{GraftDeleteCache, GraftTable}

/** The DSv2 streaming source: `spark.readStream.format("graft").load(dir)`. */
class GraftStreamSourceSpec extends SparkSpec {

  private def mkTable(name: String, n: Int): (String, GraftTable) = {
    import spark.implicits._
    val df = (1 to n).map(i => (i.toLong, s"u${i % 5}", i * 1.5)).toDF("id", "user", "v")
    val dir = scratchDir(name) + "/t"
    val t = GraftTable.create(spark, dir, df.schema)
    t.append(df.filter(col("id") <= n / 2))
    t.append(df.filter(col("id") > n / 2))
    (dir, t)
  }

  private def runStream(dir: String, queryName: String): Unit = {
    val q = spark.readStream.format("graft").load(dir)
      .groupBy("user").agg(count(lit(1)).as("n"), sum("id").as("id_sum"))
      .writeStream.format("memory").queryName(queryName)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  test("streams the table's committed appends exactly once") {
    val (dir, t) = mkTable("stream-src", 100)
    runStream(dir, "src_counts")
    val out = spark.table("src_counts").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.values.map(_._1).sum == 100)
    assert(out.values.map(_._2).sum == 5050L)
    assert(out("u0")._1 == 20)
    // maintenance inside the history is skipped, not double-read
    graft.maintenance.Maintenance.rewriteDataFiles(t, minInputFiles = 2)
    runStream(dir, "src_counts2")
    assert(spark.table("src_counts2").collect().map(_.getLong(1)).sum == 100)
  }

  test("a second run resumes from the checkpointed offset and sees only new appends") {
    import spark.implicits._
    val (dir, t) = mkTable("stream-src-resume", 50)
    val ckpt = scratchDir("stream-src-ckpt")
    val outDir = scratchDir("stream-src-out")
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft").load(dir)
        .select("id")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    assert(spark.read.parquet(outDir).count() == 50)
    // new append between runs → only the delta streams on resume
    t.append(Seq((51L, "u1", 1.0), (52L, "u2", 2.0)).toDF("id", "user", "v"))
    runOnce()
    val ids = spark.read.parquet(outDir).select("id").collect().map(_.getLong(0)).sorted
    assert(ids.length == 52 && ids.distinct.length == 52,
      s"expected exactly-once delivery of 52 distinct ids, got ${ids.length}")
  }

  test("column pruning reaches the scan; count(*) answers from metadata alone") {
    import spark.implicits._
    val df = (1 to 30).map(i => (i.toLong, s"n$i", i * 2.0, s"t$i"))
      .toDF("id", "name", "v", "tag")
    val dir = scratchDir("stream-src-prune") + "/t"
    val t = GraftTable.create(spark, dir, df.schema)
    t.append(df)
    val pruned = spark.read.format("graft").load(dir).select("id", "v")
    val scanOut = pruned.queryExecution.executedPlan
      .collectLeaves().head.output.map(_.name)
    assert(scanOut.toSet == Set("id", "v"),
      s"projection did not reach the scan: $scanOut")
    assert(pruned.agg(sum("v")).head.getDouble(0) == (1 to 30).map(_ * 2.0).sum)
    // the strongest proof the zero-data-field path never opens a file:
    // remove the data bytes, then count through the connector
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    rm(new java.io.File(s"$dir/data"))
    assert(spark.read.format("graft").load(dir).count() == 30)
  }

  test("pushed comparison filters prune whole files at planning time") {
    import spark.implicits._
    val dir = scratchDir("stream-src-filter") + "/t"
    val df = (1 to 300).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
    val t = GraftTable.create(spark, dir, df.schema)
    // three single-file commits with disjoint id ranges
    t.append(df.filter(col("id") <= 100).coalesce(1))
    t.append(df.filter(col("id") > 100 && col("id") <= 200).coalesce(1))
    t.append(df.filter(col("id") > 200).coalesce(1))
    def scanParts(d: org.apache.spark.sql.DataFrame): Int = d.rdd.getNumPartitions
    val all = spark.read.format("graft").load(dir)
    assert(scanParts(all) == 3)
    val hi = all.filter(col("id") > 250)
    assert(scanParts(hi) == 1, "range filter must prune two of three files")
    assert(hi.count() == 50)
    val point = all.filter(col("id") === 150L)
    assert(scanParts(point) == 1)
    assert(point.select("v").head.getDouble(0) == 150.0)
    // partition-value equality prunes hive partitions
    val pdir = scratchDir("stream-src-filter-p") + "/t"
    val pdf = (1 to 60).map(i => (i.toLong, (i % 3).toString)).toDF("id", "bucket")
    val pt = GraftTable.create(spark, pdir, pdf.schema, partitionCols = Seq("bucket"))
    pt.append(pdf)
    val nTotal = pt.latest.files.size
    val one = spark.read.format("graft").load(pdir).filter(col("bucket") === "1")
    assert(scanParts(one) < nTotal,
      s"partition filter must prune: ${scanParts(one)}/$nTotal")
    assert(one.count() == 20)
  }

  test("a resume across expired commits refuses instead of silently skipping") {
    import spark.implicits._
    val (dir, t) = mkTable("stream-src-expire", 40)
    val ckpt = scratchDir("stream-src-expire-ckpt")
    val outDir = scratchDir("stream-src-expire-out")
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft").load(dir).select("id")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    assert(spark.read.parquet(outDir).count() == 40)
    // two more appends, then aggressive expiry drops the FIRST of them —
    // the resumed stream must refuse, not silently deliver only the second
    t.append(Seq((41L, "u1", 1.0)).toDF("id", "user", "v"))
    t.append(Seq((42L, "u2", 2.0)).toDF("id", "user", "v"))
    graft.maintenance.Maintenance.expireSnapshots(t, retainLast = 1)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce()
    }
    def messages(e: Throwable): Seq[String] =
      Option(e).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(ex).exists(_.contains("contiguous parent chain")),
      s"expected the expiry-gap refusal, got: ${messages(ex).take(3)}")
  }

  test("reported statistics drive a broadcast when the connector side is small") {
    import spark.implicits._
    val dir = scratchDir("stream-src-stats") + "/t"
    val dim = (1 to 50).map(i => (i.toLong, s"name$i")).toDF("id", "nm").coalesce(1)
    val t = GraftTable.create(spark, dir, dim.schema)
    t.append(dim)
    val big = spark.range(0, 200000).selectExpr("(id % 50) + 1 AS id", "id AS x")
    val joined = big.join(spark.read.format("graft").load(dir), Seq("id"))
    def nodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
      p.nodeName +: (p.children.flatMap(nodes) ++ (p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          nodes(a.initialPlan)
        case _ => Nil
      }))
    val ns = nodes(joined.queryExecution.executedPlan)
    assert(ns.exists(_.contains("BroadcastHashJoin")),
      s"small connector read did not broadcast: $ns")
    assert(joined.count() == 200000)
  }

  test("filters on the streaming path stay correct under file pruning") {
    import spark.implicits._
    val dir = scratchDir("stream-src-sfilter") + "/t"
    val df = (1 to 200).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
    val t = GraftTable.create(spark, dir, df.schema)
    t.append(df.filter(col("id") <= 100).coalesce(1))
    t.append(df.filter(col("id") > 100).coalesce(1))
    val q = spark.readStream.format("graft").load(dir)
      .filter(col("id") > 150)
      .groupBy().agg(count(lit(1)).as("n"), sum("id").as("s"))
      .writeStream.format("memory").queryName("src_sfilter")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val r = spark.table("src_sfilter").head
    assert(r.getLong(0) == 50 && r.getLong(1) == (151L to 200L).sum)
  }

  test("timestamp and null values round-trip through the connector readers") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("a"), java.sql.Timestamp.valueOf("2024-03-01 10:30:00")),
      (2L, None, java.sql.Timestamp.valueOf("2024-03-02 11:45:30")),
      (3L, Some("c"), java.sql.Timestamp.valueOf("2024-03-03 23:59:59")))
      .toDF("id", "tag", "ts")
    val dir = scratchDir("stream-src-ts") + "/t"
    val t = GraftTable.create(spark, dir, df.schema)
    t.append(df)
    val out = spark.read.format("graft").load(dir).orderBy("id").collect()
    assert(out.length == 3)
    assert(out(1).isNullAt(1), "null string must survive the reader")
    assert(out(0).getTimestamp(2) == java.sql.Timestamp.valueOf("2024-03-01 10:30:00"))
    assert(out(2).getTimestamp(2) == java.sql.Timestamp.valueOf("2024-03-03 23:59:59"))
    // and the batch face agrees with the table's own read path
    assert(spark.read.format("graft").load(dir).orderBy("id").collect().toSeq ==
      t.readLatest().orderBy("id").collect().toSeq)
  }

  test("row-removing commits refuse; hive partition values fill from dirs") {
    import spark.implicits._
    val df = (1 to 40).map(i => (i.toLong, (i % 4).toString)).toDF("id", "bucket")
    val dir = scratchDir("stream-src-part") + "/t"
    val t = GraftTable.create(spark, dir, df.schema, partitionCols = Seq("bucket"))
    t.append(df)
    runStreamPart(dir, "src_part")
    val out = spark.table("src_part").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("0" -> 10L, "1" -> 10L, "2" -> 10L, "3" -> 10L))
    // a COW delete inside the unconsumed range refuses loudly
    graft.dml.Dml.delete(t, col("id") === 1L)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runStreamPart(dir, "src_part2")
    }
    assert(ex.getCause.getMessage.contains("row-removing") ||
      ex.getMessage.contains("row-removing"))
  }

  test("max-commits-per-trigger throttles the backfill into multiple batches") {
    val (dir, _) = mkTable("stream-src-rate", 60)
    val q = spark.readStream.format("graft")
      .option("max-commits-per-trigger", "1").load(dir)
      .groupBy("user").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("src_rate")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // create + 2 append commits at 1 commit/trigger → the offset advances
    // one snapshot per micro-batch (DSv2 row metrics aren't reported by
    // this source, so the batch count reads from the offset progression)
    val ends = q.recentProgress.toSeq
      .flatMap(p => p.sources.headOption.map(_.endOffset))
      .flatMap(o => """"snapshotId":(\d+)""".r.findFirstMatchIn(o).map(_.group(1).toLong))
    assert(ends.distinct.size >= 3,
      s"expected the throttle to advance one commit per batch, offsets: $ends")
    assert(spark.table("src_rate").collect().map(_.getLong(1)).sum == 60)
  }

  test("batch read serves the latest snapshot; MOR deletes reconcile in-reader") {
    import spark.implicits._
    val (dir, t) = mkTable("batch-src", 80)
    val out = spark.read.format("graft").load(dir)
    assert(out.count() == 80)
    assert(out.agg(sum("id")).head.getLong(0) == 80L * 81L / 2)
    // compaction keeps the batch face consistent
    graft.maintenance.Maintenance.rewriteDataFiles(t, minInputFiles = 2)
    assert(spark.read.format("graft").load(dir).count() == 80)
    // merge-on-read deletes apply inside the readers — the connector serves
    // the same reconciled rows as the table API's scan
    t.commitMorDelta(Seq(1L, 7L, 80L).toDF("id"), "delete-mor")
    val got = spark.read.format("graft").load(dir)
    assert(got.count() == 77)
    assert(got.agg(sum("id")).head.getLong(0) == 80L * 81L / 2 - 1 - 7 - 80)
    assert(got.orderBy("id").collect().toSeq ==
      t.readLatest().orderBy("id").collect().toSeq)
    // a projection that drops the delete key column still reconciles (the
    // key rides the parquet read without being emitted)
    assert(spark.read.format("graft").load(dir).select("user")
      .count() == 77)
    // a row re-inserted AFTER the delete stays live (bound is per-file)
    t.append(Seq((7L, "u7", 7.0)).toDF("id", "user", "v"))
    val after = spark.read.format("graft").load(dir)
    assert(after.count() == 78)
    assert(after.filter(col("id") === 7L).count() == 1)
    assert(after.orderBy("id", "user").collect().toSeq ==
      t.readLatest().orderBy("id", "user").collect().toSeq)
  }

  test("stream-from latest / snapshot-id anchors a fresh checkpoint past expired history") {
    import spark.implicits._
    val (dir, t) = mkTable("stream-src-from", 40)
    graft.maintenance.Maintenance.expireSnapshots(t, retainLast = 1)
    // default (earliest) refuses: the chain root is gone
    val exDefault = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runStream(dir, "src_from_default")
    }
    def messages(e: Throwable): Seq[String] =
      Option(e).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(exDefault).exists(_.contains("stream-from")),
      s"refusal must name the remediation option: ${messages(exDefault).take(3)}")
    // stream-from => latest: anchors at the current head, streams only new commits
    val ckpt = scratchDir("stream-src-from-ckpt")
    val outDir = scratchDir("stream-src-from-out")
    def runLatest(): Unit = {
      val q = spark.readStream.format("graft")
        .option("stream-from", "latest").load(dir).select("id")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runLatest()
    assert(spark.read.parquet(outDir).count() == 0, "latest starts empty")
    t.append(Seq((41L, "u1", 1.0), (42L, "u2", 2.0)).toDF("id", "user", "v"))
    runLatest()
    assert(spark.read.parquet(outDir).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(41L, 42L))
    // stream-from => <retained id>: anchors there; later commits stream
    val head = t.latest.snapshotId
    t.append(Seq((43L, "u3", 3.0)).toDF("id", "user", "v"))
    val q2 = spark.readStream.format("graft")
      .option("stream-from", head.toString).load(dir)
      .groupBy().agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("src_from_id")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.table("src_from_id").head.getLong(0) == 1)
    // a dropped/garbage position refuses loudly
    val exBad = intercept[Exception] {
      spark.readStream.format("graft").option("stream-from", "yesterday")
        .load(dir).writeStream.format("memory").queryName("src_from_bad")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    assert(messages(exBad).exists(_.contains("stream-from")))
  }

  test("date-partitioned tables read through the connector") {
    import spark.implicits._
    val clean = (1 to 30).map(i =>
      (i.toLong, java.sql.Date.valueOf("2024-06-0" + (i % 3 + 1)))).toDF("id", "ds")
    val dir = scratchDir("stream-src-date") + "/t"
    val t = GraftTable.create(spark, dir, clean.schema, partitionCols = Seq("ds"))
    t.append(clean)
    val out = spark.read.format("graft").load(dir)
    assert(out.count() == 30)
    assert(out.orderBy("id").collect().toSeq ==
      t.readLatest().orderBy("id").collect().toSeq)
    assert(out.filter(col("ds") === java.sql.Date.valueOf("2024-06-01")).count() == 10)
  }

  test("a TIMESTAMP identity partition reads in the session time zone") {
    import spark.implicits._
    val key = "spark.sql.session.timeZone"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try {
      val df = Seq((1L, "2024-03-01 10:30:00"), (2L, "2024-07-04 23:00:00"),
        (3L, "2024-03-01 10:30:00")).toDF("id", "s")
        .select($"id", $"s".cast("timestamp").as("ts"))
      val dir = scratchDir("stream-src-ts-part") + "/t"
      val t = GraftTable.create(spark, dir, df.schema, partitionCols = Seq("ts"))
      t.append(df)
      def rows(d: org.apache.spark.sql.DataFrame) = d.orderBy("id").collect().toSeq
      val conn = spark.read.format("graft").load(dir)
      assert(rows(conn) == rows(t.readLatest()))
      assert(rows(conn) == rows(df))
      // the partition values themselves, and a filter on one
      def values(d: org.apache.spark.sql.DataFrame) =
        d.select("ts").distinct().orderBy("ts").collect().toSeq
      assert(values(conn) == values(t.readLatest()))
      assert(conn.filter($"ts" === java.sql.Timestamp.valueOf("2024-03-01 10:30:00")).count() ==
        t.readLatest().filter($"ts" === java.sql.Timestamp.valueOf("2024-03-01 10:30:00")).count())
    } finally spark.conf.set(key, prior)
  }

  test("a parquet v2 (DELTA-encoded) file imported by addFiles reads, projected or not") {
    import spark.implicits._
    val df = (1 to 200).map(i => (i.toLong, s"name-$i", i * 0.5)).toDF("id", "name", "v")
    val dir = scratchDir("stream-src-v2")
    val t = GraftTable.create(spark, s"$dir/t", df.schema)
    t.append(df.filter(col("id") <= 100))
    df.filter(col("id") > 100).coalesce(1).write
      .option("parquet.writer.version", "v2")
      .option("parquet.enable.dictionary", "false")
      .parquet(s"$dir/external")
    t.addFiles(s"$dir/external")
    def rows(d: org.apache.spark.sql.DataFrame) = d.orderBy("id").collect().toSeq
    val conn = spark.read.format("graft").load(s"$dir/t")
    assert(rows(conn) == rows(t.readLatest()))
    assert(rows(conn) == rows(df))
    assert(rows(conn.select("id", "name")) == rows(t.readLatest().select("id", "name")))
    assert(conn.select("name").filter(col("name") === "name-150").count() == 1)
  }

  test("connector log loads read through the session's Hadoop conf") {
    import spark.implicits._
    // a scheme known only to the context's Hadoop conf, where a
    // `spark.hadoop.fs.gtest.impl` setting lands; uncached, so every
    // filesystem lookup needs the setting
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.gtest.impl", classOf[GtestFileSystem].getName)
    hc.setBoolean("fs.gtest.impl.disable.cache", true)
    try {
      val dir = "gtest://" + scratchDir("session-conf") + "/t"
      val df = (1 to 20).map(i => (i.toLong, s"u${i % 3}")).toDF("id", "user")
      GraftTable.create(spark, dir, df.schema)
      df.write.format("graft").mode("append").save(dir)
      val back = spark.read.format("graft").load(dir)
      assert(back.count() == 20)
      assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
      assert(back.filter(col("id") > 15).count() == 5)
    } finally {
      hc.unset("fs.gtest.impl")
      hc.unset("fs.gtest.impl.disable.cache")
    }
  }

  test("batch write through the connector: append and overwrite modes") {
    import spark.implicits._
    val df = (1 to 40).map(i => (i.toLong, s"u${i % 5}", i * 1.5)).toDF("id", "user", "v")
    val dir = scratchDir("conn-write") + "/t"
    val t = GraftTable.create(spark, dir, df.schema)
    df.filter(col("id") <= 20).write.format("graft").mode("append").save(dir)
    // shuffled column order still lands in table layout
    df.filter(col("id") > 20).select("v", "id", "user")
      .write.format("graft").mode("append").save(dir)
    assert(t.readLatest().count() == 40)
    assert(t.readLatest().agg(sum("id")).head.getLong(0) == 40L * 41 / 2)
    assert(t.snapshotsList.count(_.operation == "append") == 2)
    // connector read-after-write round trip
    assert(spark.read.format("graft").load(dir).orderBy("id").collect().toSeq ==
      t.readLatest().orderBy("id").collect().toSeq)
    // overwrite replaces all content in one snapshot
    df.filter(col("id") <= 5).write.format("graft").mode("overwrite").save(dir)
    assert(t.readLatest().count() == 5)
    assert(t.latest.operation == "overwrite")
    // schema mismatch refuses before any data lands
    val snaps = t.snapshotsList.size
    intercept[Exception] {
      Seq((1L, "x")).toDF("id", "user").write.format("graft").mode("append").save(dir)
    }
    assert(t.snapshotsList.size == snaps)
  }

  test("connector write into a transform-partitioned table prunes like a table write") {
    import spark.implicits._
    val df = (1 to 60).map(i => (i.toLong, s"2024-06-0${i % 3 + 1}", i * 2.0))
      .toDF("id", "ds", "v")
    val dir = scratchDir("conn-write-part") + "/t"
    val t = GraftTable.create(spark, dir, df.schema, partitionCols = Seq("ds"))
    df.write.format("graft").mode("append").save(dir)
    // files landed hive-partitioned with partition values recorded
    assert(t.latest.files.nonEmpty)
    assert(t.latest.files.forall(_.partitionValues.contains("ds")))
    // partition equality prunes files at connector planning
    val pruned = spark.read.format("graft").load(dir).filter(col("ds") === "2024-06-02")
    assert(pruned.count() == 20)
    assert(pruned.rdd.getNumPartitions < t.latest.files.size)
  }

  test("connector append onto a MOR-deleted table keeps the deletes live") {
    import spark.implicits._
    val df = (1 to 30).map(i => (i.toLong, s"u${i % 5}", i * 1.0)).toDF("id", "user", "v")
    val dir = scratchDir("conn-write-mor") + "/t"
    val t = GraftTable.create(spark, dir, df.schema)
    t.append(df)
    t.commitMorDelta(Seq(3L, 9L).toDF("id"), "delete-mor")
    Seq((31L, "u1", 31.0)).toDF("id", "user", "v")
      .write.format("graft").mode("append").save(dir)
    val got = spark.read.format("graft").load(dir)
    assert(got.count() == 29) // 30 - 2 deleted + 1 appended
    assert(got.filter(col("id").isin(3L, 9L)).count() == 0)
    assert(got.orderBy("id").collect().toSeq ==
      t.readLatest().orderBy("id").collect().toSeq)
  }

  test("MOR delete keyed on a partition column reconciles through the connector") {
    import spark.implicits._
    val df = (1 to 60).map(i => (i.toLong, s"2024-06-0${i % 3 + 1}", i * 2.0))
      .toDF("id", "ds", "v")
    val dir = scratchDir("conn-mor-partkey") + "/t"
    val t = GraftTable.create(spark, dir, df.schema, partitionCols = Seq("ds"))
    t.append(df)
    // delete key = the partition column itself: the tuple check must read it
    // from the partition constants (it is absent from the file bytes)
    t.commitMorDelta(Seq("2024-06-02").toDF("ds"), "delete-mor")
    val got = spark.read.format("graft").load(dir)
    assert(got.count() == 40)
    assert(got.filter(col("ds") === "2024-06-02").count() == 0)
    // and with a projection that drops the partition column entirely
    assert(got.select("id").count() == 40)
    assert(got.agg(sum("id")).head.getLong(0) == 1830L - 590L)
    // the table API agrees (published leaf names are globally unique, so
    // hive-partitioned MOR resolution no longer hits basename collisions)
    assert(t.readLatest().agg(sum("id")).head.getLong(0) == 1830L - 590L)
  }

  test("delete files parse once per executor, not once per input partition") {
    import spark.implicits._
    val df = (1 to 80).map(i => (i.toLong, s"u${i % 5}", i * 1.0)).toDF("id", "user", "v")
    val dir = scratchDir("conn-mor-cache") + "/t"
    val t = GraftTable.create(spark, dir, df.schema)
    // four separate appends → four data files, each carrying the delete
    (0 until 4).foreach(k => t.append(df.filter(col("id") % 4 === k)))
    t.commitMorDelta(Seq(8L, 16L, 24L).toDF("id"), "delete-mor")
    val scan = spark.read.format("graft").load(dir)
    assert(scan.rdd.getNumPartitions >= 4)
    val before = GraftDeleteCache.parses.get()
    assert(scan.count() == 77)
    val after = GraftDeleteCache.parses.get()
    // one delete file, many input partitions: at most one parse (zero if a
    // prior test in this JVM already cached an identical path — impossible
    // here, scratch dirs are fresh)
    assert(after - before == 1,
      s"expected 1 delete-file parse across the scan, saw ${after - before}")
    // a second scan over the same table re-uses the cached parse entirely
    assert(spark.read.format("graft").load(dir).count() == 77)
    assert(GraftDeleteCache.parses.get() == after)
  }

  private def runStreamPart(dir: String, queryName: String): Unit = {
    val q = spark.readStream.format("graft").load(dir)
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(queryName)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }
}

/** The local filesystem under the `gtest` scheme. */
class GtestFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "gtest"
  override def getUri: java.net.URI = java.net.URI.create("gtest:///")
}
