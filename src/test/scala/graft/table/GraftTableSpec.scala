package graft.table

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.dml.Dml
import graft.gen.Synthesize
import graft.maintenance.Maintenance

/** End-to-end table-layer spec mirroring the reference's `spark_open_crud`
  * plan (iceberg-tests/config/framework.yaml:367-452): create → insert →
  * read → update → delete → merge → evolve → time-travel → maintain.
  */
class GraftTableSpec extends SparkSpec {

  private def newSalesTable(): GraftTable = {
    val dir = scratchDir("sales-")
    val t = GraftTable.create(spark, dir, graft.model.Schemas.salesEvents)
    t.append(Synthesize.salesEvents8(spark))
    t
  }

  test("generators produce the declared schemas (model contract)") {
    val tx = Synthesize.txEvents(spark, 10)
    assert(tx.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      graft.model.Schemas.txEvents.fields.map(f => (f.name, f.dataType)).toSeq)
    val sales = Synthesize.salesEvents8(spark)
    assert(sales.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      graft.model.Schemas.salesEvents.fields.map(f => (f.name, f.dataType)).toSeq)
  }

  test("create + append + readLatest round-trips the 8-row interop dataset") {
    val t = newSalesTable()
    assert(t.readLatest().count() === 8)
    val sums = t.readLatest().agg(sum("qty")).collect()(0).getLong(0)
    assert(sums === 39) // 3+5+2+8+1+10+4+6
  }

  test("snapshots() metadata table exposes ids and operations (S8)") {
    val t = newSalesTable()
    val snaps = t.snapshots().orderBy("snapshot_id").collect()
    assert(snaps.map(_.getString(3)).toSeq === Seq("create", "append"))
    assert(snaps.last.getLong(5) === 8) // total_rows
  }

  test("UPDATE rewrites only files containing matches (D1)") {
    val t = newSalesTable()
    Dml.update(t, col("event_id") === 1,
      Map("price" -> (col("price") * 1.1).cast(DecimalType(18, 2))))
    val updated = t.readLatest().filter(col("event_id") === 1)
      .select("price").collect()(0).getDecimal(0)
    assert(updated === new java.math.BigDecimal("21.99")) // 19.99 * 1.1 = 21.989 → 21.99
    assert(t.readLatest().count() === 8)
    assert(t.latest.operation === "update")
  }

  test("DELETE removes matching rows, count drops to 7 (D2)") {
    val t = newSalesTable()
    Dml.delete(t, col("event_id") === 8)
    assert(t.readLatest().count() === 7)
    assert(t.readLatest().filter(col("event_id") === 8).count() === 0)
  }

  test("MERGE upsert: matched update + not-matched insert (J1/D3)") {
    val t = newSalesTable()
    import spark.implicits._
    val source = Seq(
      (1L, 10, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "sku-0001", 30,
        new java.math.BigDecimal("19.99"), "US", java.sql.Date.valueOf("2024-01-01")),
      (9L, 14, java.sql.Timestamp.valueOf("2024-01-06 09:00:00"), "sku-0009", 2,
        new java.math.BigDecimal("42.00"), "DE", java.sql.Date.valueOf("2024-01-06")))
      .toDF("event_id", "tenant_id", "event_ts", "sku", "qty", "price", "country", "ds")
      .withColumn("price", col("price").cast(DecimalType(18, 2)))
    Dml.merge(t, source, "event_id",
      Map("qty" -> col("src.qty"), "price" -> col("src.price")),
      insertNotMatched = true)
    val rows = t.readLatest()
    assert(rows.count() === 9)
    assert(rows.filter(col("event_id") === 1).select("qty").collect()(0).getInt(0) === 30)
    assert(rows.filter(col("event_id") === 9).select("country").collect()(0).getString(0) === "DE")
  }

  test("MERGE update-only leaves non-matching keys alone (J2)") {
    val t = newSalesTable()
    import spark.implicits._
    val source = Seq((2L, 99)).toDF("event_id", "qty")
    Dml.merge(t, source, "event_id", Map("qty" -> col("src.qty")), insertNotMatched = false)
    assert(t.readLatest().count() === 8)
    assert(t.readLatest().filter(col("event_id") === 2).select("qty").collect()(0).getInt(0) === 99)
  }

  test("schema evolution: add with default + rename + widen, old files still read (D4-D6)") {
    val t = newSalesTable()
    t.addColumn("channel", "string", "web")
    t.renameColumn("sku", "product_sku")
    t.widenColumn("qty", "bigint")
    val df = t.readLatest()
    assert(df.columns.contains("channel") && df.columns.contains("product_sku"))
    assert(!df.columns.contains("sku"))
    assert(df.schema("qty").dataType === LongType)
    // pre-evolution rows surface the default
    assert(df.filter(col("channel") === "web").count() === 8)
    // data written AFTER evolution carries its own schema; both generations read
    t.append(df.limit(1).withColumn("event_id", lit(100L)))
    assert(t.readLatest().count() === 9)
  }

  test("VERSION AS OF reads an old snapshot with its own schema (T1)") {
    val t = newSalesTable()
    val baseline = t.latest.snapshotId
    Dml.delete(t, col("event_id") === 8)
    t.addColumn("channel", "string", "web")
    assert(t.readVersionAsOf(baseline).count() === 8)
    assert(!t.readVersionAsOf(baseline).columns.contains("channel"))
    assert(t.readLatest().count() === 7)
  }

  test("TIMESTAMP AS OF resolves by commit time (T2)") {
    val t = newSalesTable()
    var fake = 1000L
    t.clock = () => { fake += 1000; fake }
    Dml.delete(t, col("event_id") === 8) // committed at some fake time
    val afterDelete = t.latest.committedAt
    Dml.delete(t, col("event_id") === 7)
    assert(t.readTimestampAsOf(afterDelete).count() === 7)
    assert(t.readLatest().count() === 6)
  }

  test("expire_snapshots retains last N and deletes dead files (M3)") {
    val t = newSalesTable()
    Dml.delete(t, col("event_id") === 8)
    Dml.delete(t, col("event_id") === 7)
    val expired = Maintenance.expireSnapshots(t, retainLast = 2)
    assert(expired === 2)
    assert(t.snapshotsList.size === 2)
    assert(t.readLatest().count() === 6) // data intact
    intercept[IllegalArgumentException](t.readVersionAsOf(1L))
  }

  test("rewrite_data_files compacts to fewer files, data unchanged (M1)") {
    val dir = scratchDir("compact-")
    val t = GraftTable.create(spark, dir, Synthesize.txEvents(spark, 10).schema)
    (1 to 4).foreach(_ => t.append(Synthesize.txEvents(spark, 100, partitions = 4)))
    val before = t.latest.files.size
    val sumBefore = t.readLatest().agg(sum("user_id")).collect()(0).getLong(0)
    Maintenance.rewriteDataFiles(t, targetFileSizeBytes = 512L * 1024 * 1024)
    assert(t.latest.files.size < before)
    assert(t.readLatest().count() === 400)
    assert(t.readLatest().agg(sum("user_id")).collect()(0).getLong(0) === sumBefore)
  }

  test("rewrite_manifests consolidates the log (M2) and orphan cleanup is safe (M4)") {
    val t = newSalesTable()
    Dml.delete(t, col("event_id") === 8)
    val n = Maintenance.rewriteManifests(t)
    assert(n === 3)
    assert(t.snapshotsList.size === 3) // same content, consolidated
    // drop an orphan into data/ and ensure only it is removed
    val orphan = new java.io.File(s"${t.tableDir}/data/orphan.parquet")
    java.nio.file.Files.writeString(orphan.toPath, "junk")
    val removed = Maintenance.removeOrphanFiles(t, Long.MaxValue)
    assert(removed.exists(_.contains("orphan.parquet")))
    assert(t.readLatest().count() === 7)
  }

  test("partitioned table prunes partitions on read (S5 partitioning)") {
    val dir = scratchDir("part-")
    val events = Synthesize.txEvents(spark, 200).withColumn("ds", col("ts").cast("date"))
    val t = GraftTable.create(spark, dir, events.schema, partitionCols = Seq("category"))
    t.append(events)
    val plan = t.readLatest().filter(col("category") === "A").queryExecution
      .executedPlan.toString
    assert(t.readLatest().filter(col("category") === "A").count() === 40)
    // partition filter reached the scan (no full-table read)
    assert(plan.contains("PartitionFilters") || !plan.contains("category = A"))
  }

  test("readPartitions prunes the file list in metadata before Spark plans (manifest pruning)") {
    val dir = scratchDir("metaprune-")
    val events = Synthesize.txEvents(spark, 200)
    val t = GraftTable.create(spark, dir, events.schema, partitionCols = Seq("category"))
    t.append(events)
    val pruned = t.readPartitions(Map("category" -> "A"))
    // only files of the A partition are handed to Spark at all
    val prunedFiles = t.latest.files.filter(_.partitionValues.get("category").contains("A"))
    assert(prunedFiles.nonEmpty && prunedFiles.size < t.latest.files.size)
    assert(pruned.count() === 40)
    assert(pruned.inputFiles.length === prunedFiles.size)
    intercept[IllegalArgumentException](t.readPartitions(Map("user_id" -> "1")))
  }

  test("evolved old files still read correctly after expire_snapshots (self-contained docs)") {
    val t = newSalesTable()
    t.renameColumn("sku", "product_sku")
    t.addColumn("channel", "string", "web")
    t.append(t.readLatest().limit(1)
      .withColumn("event_id", lit(100L)).withColumn("channel", lit("store")))
    // expiring must NOT lose the write-time schemas of files the retained
    // snapshot still references (the round-3 silent-NULL hazard)
    assert(Maintenance.expireSnapshots(t, retainLast = 1) > 0)
    assert(t.snapshotsList.size === 1)
    val df = t.readLatest()
    assert(df.count() === 9)
    assert(df.filter(col("product_sku").isNull).count() === 0)
    assert(df.filter(col("channel") === "web").count() === 8)
    assert(df.filter(col("channel") === "store").count() === 1)
  }

  test("append racing a planned compaction aborts the compaction, append survives") {
    val dir = scratchDir("race-compact-")
    val t = GraftTable.create(spark, dir, Synthesize.txEvents(spark, 10).schema)
    (1 to 3).foreach(_ => t.append(Synthesize.txEvents(spark, 100, partitions = 2)))
    val planned = t.latest
    val compacted = t.readSnapshot(planned).repartition(1)
    t.append(Synthesize.txEvents(spark, 50)) // lands between plan and commit
    intercept[java.util.ConcurrentModificationException] {
      t.commitRewrite(compacted, Nil, "rewrite-data-files", basedOn = Some(planned))
    }
    assert(t.readLatest().count() === 350) // the concurrent append was not lost
  }

  test("two threads appending concurrently both commit with distinct snapshots") {
    val t = newSalesTable()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (1 to 2).map(_ => Future(t.append(Synthesize.salesEvents8(spark))))
    val snaps = Await.result(Future.sequence(fs), 120.seconds)
    assert(snaps.map(_.snapshotId).distinct.size === 2)
    assert(t.readLatest().count() === 24) // 8 + 8 + 8
    assert(t.snapshotsList.map(_.snapshotId) === t.snapshotsList.map(_.snapshotId).sorted)
  }

  test("a 20-append unevolved table reads as exactly ONE parquet scan") {
    val t = newSalesTable()
    (1 to 19).foreach(_ => t.append(Synthesize.salesEvents8(spark)))
    assert(t.snapshotsList.size === 21)
    val df = t.readLatest()
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(scans.size === 1,
      s"expected one scan for an unevolved table, got ${scans.size}:\n${df.queryExecution.optimizedPlan}")
    assert(df.count() === 160)
  }

  test("an evolved table plans one scan per evolution epoch, not per commit") {
    val t = newSalesTable()
    (1 to 4).foreach(_ => t.append(Synthesize.salesEvents8(spark))) // epoch 0: 5 data commits
    t.addColumn("channel", "string", "web")
    (1 to 5).foreach(_ => t.append( // epoch 1: 5 data commits on the evolved schema
      Synthesize.salesEvents8(spark).withColumn("channel", lit("store"))))
    val df = t.readLatest()
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(scans.size === 2, s"expected two scans (two epochs):\n${df.queryExecution.optimizedPlan}")
    assert(df.filter(col("channel") === "web").count() === 40)
    assert(df.filter(col("channel") === "store").count() === 40)
  }

  test("MERGE mixed: matched delete + update + insert in one merge across files (spec :72)") {
    import spark.implicits._
    val dir = scratchDir("merge-mixed-")
    val base = (1L to 40L).map(k => (k, k * 10)).toDF("k", "v")
    val t = GraftTable.create(spark, dir, base.schema)
    t.append(base.filter(col("k") <= 20).repartition(2))
    t.append(base.filter(col("k") > 20).repartition(2))
    // source: keys 11..50; delete-marked where k % 10 == 0
    val source = (11L to 50L).map(k => (k, k * 100)).toDF("k", "v")
    Dml.merge(t, source, "k", Map("v" -> col("src.v")), insertNotMatched = true,
      deleteWhen = Some(col("src.k") % 10 === 0))
    val rows = t.readLatest().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // deleted: matched marked keys 20, 30, 40; 50 is marked AND unmatched → never inserted
    assert(!rows.contains(20L) && !rows.contains(30L) && !rows.contains(40L) && !rows.contains(50L))
    assert(rows(10L) === 100L)   // k=10 predates the source window: untouched
    assert(rows(15L) === 1500L)  // matched update
    assert(rows(45L) === 4500L)  // unmatched insert
    // 40 base - 3 deleted + 9 inserted (41..49)
    assert(rows.size === 46)
  }

  test("MERGE keeps untouched files by reference (file-granular COW)") {
    import spark.implicits._
    val dir = scratchDir("merge-untouched-")
    val base = (1L to 20L).map(k => (k, k)).toDF("k", "v")
    val t = GraftTable.create(spark, dir, base.schema)
    t.append(base.filter(col("k") <= 10).coalesce(1))
    t.append(base.filter(col("k") > 10).coalesce(1))
    val before = t.latest.files.map(_.path).toSet
    val source = Seq((3L, 300L)).toDF("k", "v")
    Dml.merge(t, source, "k", Map("v" -> col("src.v")), insertNotMatched = true)
    val after = t.latest.files.map(_.path).toSet
    // the file holding k>10 contains no source key: kept byte-identical
    assert((before intersect after).size === 1,
      s"expected exactly one untouched file kept by reference: before=$before after=$after")
    assert(t.readLatest().count() === 20)
  }

  test("an in-flight (empty) trailing snapshot doc is invisible to readers") {
    val t = newSalesTable()
    val next = t.latest.snapshotId + 1
    val p = java.nio.file.Paths.get(t.tableDir, "_graft_log", f"v$next%08d.json")
    java.nio.file.Files.createFile(p) // a committer claimed the id, bytes not yet landed
    assert(t.readLatest().count() === 8) // pre-commit state after the retry budget
    java.nio.file.Files.delete(p)
  }

  test("compaction is partition-local: clean partitions are kept by reference") {
    val dir = scratchDir("compact-partial-")
    val t = GraftTable.create(spark, dir, graft.model.Schemas.salesEvents,
      partitionCols = Seq("country"))
    t.append(Synthesize.salesEvents8(spark)) // US/GB/FR each get files
    t.append(Synthesize.salesEvents8(spark).filter(col("country") === "US")) // US now 2 files
    val gbBefore = t.latest.files.filter(_.partitionValues.get("country").contains("GB")).map(_.path).toSet
    val usBefore = t.latest.files.count(_.partitionValues.get("country").contains("US"))
    assert(usBefore >= 2)
    Maintenance.rewriteDataFiles(t, targetFileSizeBytes = 1L << 30, minInputFiles = 2)
    val after = t.latest
    // GB had one clean file: identical entry survives, never rewritten
    assert(after.files.filter(_.partitionValues.get("country").contains("GB")).map(_.path).toSet === gbBefore)
    // US collapsed into fewer files than before
    assert(after.files.count(_.partitionValues.get("country").contains("US")) < usBefore)
    assert(t.readLatest().count() === 12)
    assert(t.readLatest().filter(col("country") === "US").count() === 8)
  }

  test("append commit docs are delta-encoded: O(added files), not O(table)") {
    val t = newSalesTable() // v1 create (full doc), v2 append
    val p2 = t.latest.files.head.path
    t.append(Synthesize.salesEvents8(spark)) // v3
    t.append(Synthesize.salesEvents8(spark)) // v4
    val raw = java.nio.file.Files.readString(
      java.nio.file.Paths.get(t.tableDir, "_graft_log", "v00000004.json"))
    assert(!raw.contains(p2), "v4 doc re-serialized a file inherited from v2")
    assert(raw.contains("added"))
    assert(t.readLatest().count() === 24)
    // maintenance over delta docs: consolidation, further deltas, expiry
    Maintenance.rewriteManifests(t)
    t.append(Synthesize.salesEvents8(spark))
    assert(t.readLatest().count() === 32)
    Maintenance.expireSnapshots(t, retainLast = 2)
    assert(t.readLatest().count() === 32)
  }

  test("partition filters reach the scan in the shared hive layout") {
    val dir = scratchDir("prune-plan-")
    val t = GraftTable.create(spark, dir, graft.model.Schemas.salesEvents,
      partitionCols = Seq("country"))
    t.append(Synthesize.salesEvents8(spark))
    t.append(Synthesize.salesEvents8(spark))
    val df = t.readLatest().filter(col("country") === "US")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("country"),
      s"expected country in PartitionFilters:\n$plan")
    assert(df.count() === 8) // 4 US rows per append
  }

  test("appending a mis-shaped DataFrame fails fast with a schema error") {
    val t = newSalesTable()
    val bad = Synthesize.salesEvents8(spark).drop("country")
    val e = intercept[IllegalArgumentException](t.append(bad))
    assert(e.getMessage.contains("schema does not match"))
    assert(t.readLatest().count() === 8) // nothing was written
  }

  test("append aborts when the schema evolves between write and commit (race)") {
    val t = newSalesTable()
    val saboteur = GraftTable.load(spark, t.tableDir)
    var fired = false
    t.clock = () => {
      if (!fired) { fired = true; saboteur.addColumn("channel", "string", "web") }
      System.currentTimeMillis()
    }
    intercept[java.util.ConcurrentModificationException] {
      t.append(Synthesize.salesEvents8(spark))
    }
    // the winning evolution is intact and the failed append leaked no rows
    assert(GraftTable.load(spark, t.tableDir).readLatest().count() === 8)
  }

  test("pre-self-contained snapshot docs fail loudly instead of reading NULLs") {
    val t = newSalesTable()
    val legacy = t.latest.copy(schemas = Map.empty) // what an old-format doc deserializes to
    val e = intercept[IllegalArgumentException](t.readSnapshot(legacy))
    assert(e.getMessage.contains("self-contained"))
  }

  test("offset time travel resolves relative to a supplied now (T2b)") {
    val t = newSalesTable()
    var fake = 1000000L
    t.clock = () => { fake += 60000; fake }
    t.append(Synthesize.salesEvents8(spark))
    val afterSecond = t.latest.committedAt
    Dml.delete(t, col("event_id") <= 4) // both appends hold ids 1..8 → 8 rows go
    assert(t.readLatest().count() === 8)
    assert(t.readOffsetAsOf(-60, afterSecond + 60000).count() === 16)
    intercept[IllegalArgumentException](t.readOffsetAsOf(60, afterSecond))
  }

  test("two threads appending concurrently to a PARTITIONED table share the hive layout") {
    val dir = scratchDir("race-partitioned-")
    val t = GraftTable.create(spark, dir, graft.model.Schemas.salesEvents,
      partitionCols = Seq("country"))
    t.append(Synthesize.salesEvents8(spark))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (1 to 2).map(_ => Future(t.append(Synthesize.salesEvents8(spark))))
    Await.result(Future.sequence(fs), 120.seconds)
    assert(t.readLatest().count() === 24)
    // all files live in shared country=XX dirs and carry partition values
    assert(t.latest.files.forall(f => f.partitionValues.contains("country")))
    assert(t.latest.files.forall(f => f.path.startsWith("country=")))
    // partition-pruned metadata read still resolves
    assert(t.readPartitions(Map("country" -> "US")).count() === 12)
  }

  test("concurrent commit loser retries onto a fresh id (optimistic concurrency)") {
    val t = newSalesTable()
    val conf = spark.sessionState.newHadoopConf()
    val id = t.latest.snapshotId + 1
    // simulate a racing writer that claimed the next id
    val racer = t.latest.copy(snapshotId = id, parentId = Some(t.latest.snapshotId))
    assert(SnapshotLog.commit(conf, t.tableDir, racer))
    assert(!SnapshotLog.commit(conf, t.tableDir, racer)) // same id loses
    t.append(Synthesize.salesEvents8(spark)) // retries past the conflict
    assert(t.latest.snapshotId > id)
  }

  test("unknown (-1) per-file row counts surface as NULL totals, never summed in") {
    val t = newSalesTable()
    // doctor a snapshot whose files carry the unknown-count sentinel (the
    // footer-read-failure shape): totals must go NULL, not silently absorb -1
    val s = t.latest
    val doctored = s.copy(snapshotId = s.snapshotId + 1, parentId = Some(s.snapshotId),
      files = s.files.map(_.copy(rowCount = -1L)))
    assert(SnapshotLog.commit(spark.sessionState.newHadoopConf(), t.tableDir, doctored))
    val parts = t.partitions().collect()
    assert(parts.nonEmpty && parts.forall(_.isNullAt(parts.head.fieldIndex("total_rows"))))
    val snapRow = t.snapshots().orderBy(org.apache.spark.sql.functions.desc("snapshot_id"))
      .collect().head
    assert(snapRow.isNullAt(snapRow.fieldIndex("total_rows")))
  }

  test("append and overwrite ignore nested nullability: array('a', 'b') into ARRAY<STRING>") {
    val t = GraftTable.create(spark, scratchDir("nested-null-"),
      StructType.fromDDL("k bigint, tags array<string>, attrs map<string, array<int>>"))
    // literal arrays and maps carry containsNull = false / valueContainsNull = false
    val df = spark.range(2).select(col("id").as("k"), array(lit("a"), lit("b")).as("tags"),
      map(lit("x"), array(lit(1))).as("attrs"))
    assert(!df.schema("tags").dataType.asInstanceOf[ArrayType].containsNull)
    t.append(df)
    t.overwrite(df.union(df))
    assert(t.readLatest().collect().map(r => (r.getLong(0), r.getSeq[String](1))).toSeq
      .sortBy(_._1) === Seq((0L, Seq("a", "b")), (0L, Seq("a", "b")), (1L, Seq("a", "b")),
        (1L, Seq("a", "b"))))
  }
}
