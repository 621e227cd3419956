package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkSpec
import graft.table.GraftTable

/** Connector-scan pushdowns beyond column/filter pruning: metadata-only
  * aggregate pushdown (`SupportsPushDownAggregates`) and runtime filtering /
  * dynamic partition pruning (`SupportsRuntimeFiltering`).
  */
class ConnectorPushdownSpec extends SparkSpec {

  /** cat-partitioned table: cats a..d, 25 rows each, one file per cat per
    * append (2 appends → 8 data files). */
  private def mkPartitioned(name: String): (String, GraftTable) = {
    import spark.implicits._
    val df = (1 to 100).map(i =>
      (i.toLong, s"${('a' + i % 4).toChar}", i * 1.5)).toDF("id", "cat", "v")
    val dir = scratchDir(name) + "/t"
    val t = GraftTable.create(spark, dir, df.schema, partitionCols = Seq("cat"))
    t.append(df.filter(col("id") <= 50))
    t.append(df.filter(col("id") > 50))
    (dir, t)
  }

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // force AQE final plan
    df.queryExecution.executedPlan.toString
  }

  test("ungrouped COUNT/MIN/MAX answer from metadata only (PushedAggregation)") {
    val (dir, _) = mkPartitioned("agg-push")
    val df = spark.read.format("graft").load(dir)
      .agg(count(lit(1)).as("n"), min("id").as("mn"), max("v").as("mx"),
        count("v").as("nv"))
    val p = plan(df)
    assert(p.contains("PushedAggregation"), s"expected metadata aggregate in:\n$p")
    val r = df.collect().head
    assert(r.getLong(0) == 100 && r.getLong(1) == 1L &&
      r.getDouble(2) == 150.0 && r.getLong(3) == 100)
  }

  test("MIN/MAX on a partition column folds exact partition values") {
    import spark.implicits._
    val df0 = (1 to 40).map(i => (i.toLong, (2000 + i % 4).toLong)).toDF("id", "yr")
    val dir = scratchDir("agg-part") + "/t"
    val t = GraftTable.create(spark, dir, df0.schema, partitionCols = Seq("yr"))
    t.append(df0)
    val df = spark.read.format("graft").load(dir)
      .agg(min("yr").as("mn"), max("yr").as("mx"))
    val p = plan(df)
    assert(p.contains("PushedAggregation"))
    val r = df.collect().head
    assert(r.getLong(0) == 2000L && r.getLong(1) == 2003L)
  }

  test("COUNT(col) subtracts exact footer null counts") {
    import spark.implicits._
    val df0 = (1 to 30).map(i =>
      (i.toLong, if (i % 3 == 0) null else s"s$i")).toDF("id", "s")
    val dir = scratchDir("agg-nulls") + "/t"
    val t = GraftTable.create(spark, dir, df0.schema)
    t.append(df0)
    val df = spark.read.format("graft").load(dir)
      .agg(count("s").as("ns"), count(lit(1)).as("n"))
    val p = plan(df)
    assert(p.contains("PushedAggregation"))
    val r = df.collect().head
    assert(r.getLong(0) == 20 && r.getLong(1) == 30)
  }

  test("deletes disable the metadata aggregate; results stay correct") {
    val (dir, t) = mkPartitioned("agg-del")
    graft.dml.Dml.deleteMor(t, col("id") === 7L, Seq("id"))
    val df = spark.read.format("graft").load(dir)
      .agg(count(lit(1)).as("n"), max("id").as("mx"))
    val p = plan(df)
    assert(!p.contains("PushedAggregation"), s"deletes must refuse pushdown:\n$p")
    val r = df.collect().head
    assert(r.getLong(0) == 99 && r.getLong(1) == 100L)
  }

  test("a row filter disables the metadata aggregate; results stay correct") {
    val (dir, _) = mkPartitioned("agg-filt")
    val df = spark.read.format("graft").load(dir)
      .filter(col("id") > 50L).agg(count(lit(1)).as("n"))
    val p = plan(df)
    assert(!p.contains("PushedAggregation"))
    assert(df.collect().head.getLong(0) == 50)
  }

  test("SUM and non-partition grouping refuse (not derivable from metadata)") {
    val (dir, _) = mkPartitioned("agg-sum")
    val s = spark.read.format("graft").load(dir).agg(sum("id").as("s"))
    assert(!plan(s).contains("PushedAggregation"))
    assert(s.collect().head.getLong(0) == 5050L)
    val g = spark.read.format("graft").load(dir)
      .groupBy("v").agg(count(lit(1)).as("n"))
    assert(!plan(g).contains("PushedAggregation"))
    assert(g.collect().map(_.getLong(1)).sum == 100)
  }

  test("GROUP BY a partition column pushes: one metadata row per partition") {
    val (dir, _) = mkPartitioned("agg-group")
    val g = spark.read.format("graft").load(dir)
      .groupBy("cat").agg(count(lit(1)).as("n"), min("id").as("mn"),
        max("id").as("mx"))
    val p = plan(g)
    assert(p.contains("PushedAggregation"), s"expected grouped metadata agg in:\n$p")
    val rows = g.collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.keySet == Set("a", "b", "c", "d"))
    // cat 'a' = i % 4 == 0 → ids 4..100 step 4; 'b' = i % 4 == 1 → 1..97
    assert(rows("a") == ((25L, 4L, 100L)))
    assert(rows("b") == ((25L, 1L, 97L)))
    assert(rows.values.map(_._1).sum == 100L)
  }

  test("runtime In-filter prunes files on partition values and bounds") {
    val (dir, t) = mkPartitioned("rt-filter")
    val all = t.latest.files.size
    val table = new GraftStreamTable(dir, t.schema)
    val scan = table.newScanBuilder(CaseInsensitiveStringMap.empty()).build()
    val rf = scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
    // partition column: exact value match keeps only cat=b files
    assert(rf.filterAttributes().map(_.fieldNames().head).toSet
      .intersect(Set("cat", "id", "v")) == Set("cat", "id", "v"))
    rf.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("cat", Array("b"))))
    val kept = scan.toBatch().planInputPartitions().length
    assert(kept == all / 4, s"expected ${all / 4} of $all files, got $kept")
    // numeric column: footer bounds prune the second append's files
    val scan2 = table.newScanBuilder(CaseInsensitiveStringMap.empty()).build()
    scan2.asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
      .filter(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("id", Array[Any](3L, 17L))))
    val kept2 = scan2.toBatch().planInputPartitions().length
    assert(kept2 == all / 2, s"expected ${all / 2} of $all files, got $kept2")
    // a null-only IN can never match a row: prunes everything
    val scan3 = table.newScanBuilder(CaseInsensitiveStringMap.empty()).build()
    scan3.asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
      .filter(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("cat", Array[Any](null))))
    assert(scan3.toBatch().planInputPartitions().isEmpty)
  }

  test("batch time travel: snapshot-id and as-of-timestamp pin the scan") {
    import spark.implicits._
    val df0 = (1 to 60).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
    val dir = scratchDir("tt") + "/t"
    val t = GraftTable.create(spark, dir, df0.schema)
    t.append(df0.filter(col("id") <= 20))
    val snap1 = t.latest
    t.append(df0.filter(col("id") > 20))
    assert(spark.read.format("graft").load(dir).count() == 60)
    val atId = spark.read.format("graft")
      .option("snapshot-id", snap1.snapshotId.toString).load(dir)
    assert(atId.count() == 20 && atId.agg(max("id")).collect().head.getLong(0) == 20L)
    val atTs = spark.read.format("graft")
      .option("as-of-timestamp", snap1.committedAt.toString).load(dir)
    assert(atTs.count() == 20)
    // the metadata aggregate composes with time travel
    val agg = spark.read.format("graft")
      .option("snapshot-id", snap1.snapshotId.toString).load(dir)
      .agg(count(lit(1)).as("n"), max("id").as("mx"))
    assert(plan(agg).contains("PushedAggregation"))
    val r = agg.collect().head
    assert(r.getLong(0) == 20 && r.getLong(1) == 20L)
    // unknown targets raise, never silently read head
    intercept[Exception] {
      spark.read.format("graft").option("snapshot-id", "999999").load(dir).count()
    }
    intercept[Exception] {
      spark.read.format("graft").option("as-of-timestamp", "1").load(dir).count()
    }
  }

  test("pushed LIMIT reads a file prefix proven by metadata row counts") {
    val (dir, t) = mkPartitioned("limit-push")
    val files = t.latest.files
    val table = new GraftStreamTable(dir, t.schema)
    val sb = table.newScanBuilder(CaseInsensitiveStringMap.empty())
    assert(sb.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownLimit]
      .pushLimit(30))
    val parts = sb.build().toBatch().planInputPartitions()
    // smallest prefix of 12-13-row files covering 30 rows = 3 files
    val needed = {
      var acc = 0L; files.takeWhile { e => val need = acc < 30; acc += e.rowCount; need }
    }.size
    assert(parts.length == needed && parts.length < files.size)
    // e2e: LIMIT over the connector still yields exactly n rows
    assert(spark.read.format("graft").load(dir).limit(30).count() == 30)
    // deletes disable prefix pruning but not correctness
    graft.dml.Dml.deleteMor(t, col("id") === 5L, Seq("id"))
    assert(spark.read.format("graft").load(dir).limit(99).count() == 99)
    val sb2 = table.newScanBuilder(CaseInsensitiveStringMap.empty())
    sb2.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownLimit]
      .pushLimit(30)
    assert(sb2.build().toBatch().planInputPartitions().length == files.size)
  }

  test("storage-partitioned join: co-partitioned tables join with no shuffle") {
    import spark.implicits._
    val (dirA, _) = mkPartitioned("spj-a")
    val dfB = (1 to 8).map(i =>
      (i * 100L, s"${('a' + i % 4).toChar}")).toDF("b_id", "cat")
    val dirB = scratchDir("spj-b") + "/t"
    val tB = GraftTable.create(spark, dirB, dfB.schema, partitionCols = Seq("cat"))
    tB.append(dfB)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val a = spark.read.format("graft").load(dirA)
      val b = spark.read.format("graft").load(dirB)
      val j = a.join(b, Seq("cat"))
      val n = j.count()
      assert(n == 200, s"each cat: 25 fact x 2 build rows -> 200, got $n")
      val agg = j.agg(sum("id").as("s"), sum("b_id").as("sb")).collect().head
      assert(agg.getLong(0) == 2 * 5050L) // every fact row matched twice
      assert(agg.getLong(1) == 25L * (100L to 800L by 100L).sum)
      val p = {
        val d = a.join(b, Seq("cat")).groupBy("cat").agg(count(lit(1)).as("n"))
        d.collect()
        d.queryExecution.executedPlan.toString
      }
      assert(!p.contains("Exchange"),
        s"co-partitioned join must not shuffle either side:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("incremental batch read returns exactly the range's appends") {
    import spark.implicits._
    val df0 = (1 to 90).map(i => (i.toLong, i * 3.0)).toDF("id", "v")
    val dir = scratchDir("incr") + "/t"
    val t = GraftTable.create(spark, dir, df0.schema)
    t.append(df0.filter(col("id") <= 30))
    val s1 = t.latest.snapshotId
    t.append(df0.filter(col("id") > 30 && col("id") <= 60))
    val s2 = t.latest.snapshotId
    t.append(df0.filter(col("id") > 60))
    val mid = spark.read.format("graft")
      .option("start-snapshot-id", s1.toString)
      .option("end-snapshot-id", s2.toString).load(dir)
    assert(mid.count() == 30)
    assert(mid.agg(min("id"), max("id")).collect().head.toSeq == Seq(31L, 60L))
    // open end = everything after s1
    val tail = spark.read.format("graft")
      .option("start-snapshot-id", s1.toString).load(dir)
    assert(tail.count() == 60)
    // compaction in range is skippable, its rows already counted once
    graft.maintenance.Maintenance.rewriteDataFiles(t, minInputFiles = 2)
    assert(spark.read.format("graft")
      .option("start-snapshot-id", s1.toString).load(dir).count() == 60)
    // a row-removing commit in range refuses
    graft.dml.Dml.delete(t, col("id") === 5L)
    intercept[Exception] {
      spark.read.format("graft")
        .option("start-snapshot-id", s1.toString).load(dir).count()
    }
    // but a range ending before it still reads
    assert(spark.read.format("graft")
      .option("start-snapshot-id", s1.toString)
      .option("end-snapshot-id", s2.toString).load(dir).count() == 30)
  }

  test("dynamic partition pruning fires end-to-end on a dim join") {
    import spark.implicits._
    val (dir, _) = mkPartitioned("dpp")
    val fact = spark.read.format("graft").load(dir)
    val dim = Seq(("b", "keep")).toDF("cat", "tag")
    val joined = fact.join(dim, Seq("cat")).agg(
      count(lit(1)).as("n"), sum("id").as("s"))
    val p = plan(joined)
    assert(p.contains("dynamicpruning") || p.contains("RuntimeFilters"),
      s"expected a runtime filter on the graft scan in:\n$p")
    val r = joined.collect().head
    val expect = (1 to 100).filter(_ % 4 == 1) // cat 'b' = i % 4 == 1
    assert(r.getLong(0) == expect.size && r.getLong(1) == expect.map(_.toLong).sum)
  }

  test("differential pruning: connector partitions equal the table planner's files") {
    import spark.implicits._
    import org.apache.spark.sql.{sources => S}
    def ts(d: Int, h: Int) =
      java.sql.Timestamp.from(java.time.Instant.parse(f"2024-03-0$d%dT$h%02d:00:00Z"))
    // identity (cat), days(ts) and bucket(4, id) partitions; the first
    // append has no null v, the second nulls v above id 90
    val df = (1 to 100).map(i => (i.toLong, if (i % 2 == 0) "a" else "b",
      ts(1 + i % 3, i % 24), if (i > 90) None else Some(i + 100L))).toDF("id", "cat", "ts", "v")
    val dir = scratchDir("diff-prune") + "/t"
    val t = GraftTable.create(spark, dir, df.schema,
      partitionCols = Seq("cat", "ts_day", "id_bucket"),
      properties = Map(GraftTable.PartitionTransformsProp ->
        "days(ts)=ts_day;bucket(4,id)=id_bucket"))
    t.append(df.filter(col("id") <= 50))
    t.append(df.filter(col("id") > 50))
    val dataRoot = graft.table.SnapshotLog.dataPath(dir).toString

    /** (table planner's files, connector's planned files) for one shape:
      * the table side plans the ANALYZED Catalyst predicate, the connector
      * side plans the sources.Filters Spark hands a scan. */
    def both(pred: org.apache.spark.sql.Column,
        filters: Array[S.Filter]): (Set[String], Set[String]) = {
      val snap = t.latest
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], t.schema)
      val cond = empty.filter(pred).queryExecution.analyzed.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }
      val tableFiles = t.planner(snap).select(cond.flatMap(graft.table.Fact.of))
        .map(_.path).toSet
      val sb = new GraftStreamTable(dir, t.schema)
        .newScanBuilder(CaseInsensitiveStringMap.empty())
      sb.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownFilters]
        .pushFilters(filters)
      val connFiles = sb.build().toBatch().planInputPartitions()
        .map(_.asInstanceOf[GraftInputPartition].filePath.stripPrefix(dataRoot + "/")).toSet
      (tableFiles, connFiles)
    }
    def check(name: String, pred: org.apache.spark.sql.Column, filters: Array[S.Filter],
        pruned: Boolean = true): Set[String] = {
      val (tf, cf) = both(pred, filters)
      assert(tf == cf, s"$name: table planned ${tf.size} files, connector ${cf.size}")
      val total = t.latest.files.size
      if (pruned) assert(cf.size < total, s"$name: nothing pruned of $total files")
      // pruning never changes rows
      assert(spark.read.format("graft").load(dir).filter(pred).count() ==
        t.readLatest().filter(pred).count(), s"$name: row counts differ")
      cf
    }

    val strict = check("strict range", col("id") > 50L, Array(S.GreaterThan("id", 50L)))
    // the strict bound is tighter than the inclusive planBetween envelope
    assert(strict.size < t.planBetween(t.latest, "id", 50L, null)._1.size)
    // a point pins one hash bucket (bucket transform) within its stats range
    check("point", col("id") === 17L, Array(S.EqualTo("id", 17L)))
    val in3 = check("IN list", col("id").isin(3L, 17L, 42L), Array(S.In("id", Array(3L, 17L, 42L))))
    // a long list still prunes per value, never to its [min, max] envelope
    val far = Seq(3L, 17L, 42L) ++ (1000L until 51000L)
    assert(check("long IN list", col("id").isin(far: _*),
      Array(S.In("id", far.toArray[Any]))) == in3)
    assert(check("IN (NULL)", col("id").isin(lit(null).cast("long")),
      Array(S.In("id", Array(null)))).isEmpty)
    check("IS NULL", col("v").isNull, Array(S.IsNull("v")))
    check("partition equality", col("cat") === "b", Array(S.EqualTo("cat", "b")))
    check("days transform", col("ts") >= ts(2, 0) && col("ts") < ts(3, 0),
      Array(S.GreaterThanOrEqual("ts", ts(2, 0)), S.LessThan("ts", ts(3, 0))))

    // after a rename, stats resolve under the write-time name on both sides
    t.renameColumn("v", "w")
    // a post-rename append: reads now union a replayed and a current epoch
    t.append(df.filter(col("id") <= 10).withColumnRenamed("v", "w"))
    check("renamed range", col("w") <= 120L, Array(S.LessThanOrEqual("w", 120L)))
    check("renamed IS NULL", col("w").isNull, Array(S.IsNull("w")))
    // drop it and re-add its original name: the old files' stats recorded
    // under "v" describe the dropped column and must never prune the new one
    t.dropColumn("w")
    t.addColumn("v", "BIGINT", "5")
    assert(check("re-added point", col("v") === 5L, Array(S.EqualTo("v", 5L)),
      pruned = false).size == t.latest.files.size)
  }

  test("hive-escaped partition values read decoded, as the table scan reads them") {
    import spark.implicits._
    val df = Seq((1L, "a/b"), (2L, "x%y"), (3L, "sp ace"), (4L, null), (5L, "k=v:1"))
      .toDF("id", "region")
    val dir = scratchDir("conn-escaped") + "/t"
    val t = GraftTable.create(spark, dir, df.schema, partitionCols = Seq("region"))
    t.append(df)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("id", "region").as[(Long, Option[String])].collect().sortBy(_._1).toSeq
    val conn = spark.read.format("graft").load(dir)
    assert(rows(conn) === rows(df))
    assert(rows(conn) === rows(t.readLatest()))
    assert(conn.filter(col("region") === "a/b").count() === 1L)
    assert(conn.filter(col("region") === "x%y").count() === 1L)
    assert(conn.filter(col("region").isNull).count() === 1L)
    // grouped metadata aggregates key their groups by the decoded value
    val grouped = conn.groupBy("region").agg(count(lit(1)).as("n"))
      .as[(Option[String], Long)].collect().toSet
    assert(grouped === Set((Some("a/b"), 1L), (Some("x%y"), 1L), (Some("sp ace"), 1L),
      (None, 1L), (Some("k=v:1"), 1L)))
    // timestamps render with an escaped ':' in their directory names
    val ts = Seq((1L, java.sql.Timestamp.valueOf("2025-05-06 12:30:00"))).toDF("id", "ts")
    val tsDir = scratchDir("conn-escaped-ts") + "/t"
    GraftTable.create(spark, tsDir, ts.schema, partitionCols = Seq("ts")).append(ts)
    assert(spark.read.format("graft").load(tsDir).collect().toSeq === ts.collect().toSeq)
  }
}
