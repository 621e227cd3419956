package graft.table

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dml.Dml
import graft.gen.Synthesize
import graft.maintenance.Maintenance

/** Merge-on-read equality deletes (the Iceberg v2 delete-file design):
  * keyed deletes and upserts commit O(batch) delete/data files without
  * touching existing data files; reads reconcile with a per-row filter on
  * the files a delete can touch;
  * `materializeDeletes` folds them back into data files.
  */
class MorDeleteSpec extends SparkSpec {

  import spark.implicits._

  private def newSalesTable(): GraftTable = {
    val dir = scratchDir("mor-")
    val t = GraftTable.create(spark, dir, graft.model.Schemas.salesEvents)
    t.append(Synthesize.salesEvents8(spark))
    t
  }

  test("deleteMorKeys removes matching rows without rewriting any data file") {
    val t = newSalesTable()
    val filesBefore = t.latest.files.map(_.path).toSet
    Dml.deleteMorKeys(t, Seq(2L, 5L).toDF("event_id"))
    assert(t.latest.files.map(_.path).toSet === filesBefore) // zero data rewrite
    assert(t.latest.deletes.size === 1) // one delete file per commit
    assert(t.latest.deletes.head.rowCount === 2)
    assert(t.latest.operation === "delete-mor")
    val ids = t.readLatest().select("event_id").as[Long].collect().sorted
    assert(ids === Array(1L, 3L, 4L, 6L, 7L, 8L))
  }

  test("deleteMor enumerates keys from a predicate (read-only planning)") {
    val t = newSalesTable()
    val filesBefore = t.latest.files.map(_.path).toSet
    Dml.deleteMor(t, col("qty") >= 8) // qty 8 and 10 → ids 4, 6
    assert(t.latest.files.map(_.path).toSet === filesBefore)
    assert(t.latest.deletes.map(d => (d.positional, d.rowCount)) === Seq((true, 2L)))
    assert(t.readLatest().count() === 6)
    assert(t.readLatest().filter(col("qty") >= 8).count() === 0)
  }

  test("rewriteDeleteFiles drops a delete whose keys miss every live file") {
    val t = GraftTable.create(spark, scratchDir("mor-dangling-"),
      org.apache.spark.sql.types.StructType.fromDDL("k bigint, v string"))
    t.append((1L to 10L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    t.append((11L to 20L).map(i => (i, s"b$i")).toDF("k", "v").coalesce(1))
    Dml.deleteMorKeys(t, Seq(100L, 101L).toDF("k"))
    val before = t.latest
    // both files predate the delete, but neither can hold its keys
    assert(before.files.forall(_.writtenAt < before.deletes.head.appliedAt))
    assert(before.files.forall(!t.planner(before).applies(before.deletes.head, _)))
    assert(t.rewriteDeleteFiles(consolidate = false).isDefined)
    assert(t.latest.deletes.isEmpty)
    assert(t.latest.summary("dangling-delete-files") === "1")
    assert(t.latest.files === before.files)
    assert(t.readLatest().select("k").as[Long].collect().sorted === (1L to 20L).toArray)
  }

  test("rows appended AFTER a delete with the same key survive (re-insert)") {
    val t = newSalesTable()
    Dml.deleteMorKeys(t, Seq(1L).toDF("event_id"))
    assert(t.readLatest().filter(col("event_id") === 1).count() === 0)
    // re-insert the full original batch: only event_id=1 is net-new content
    t.append(Synthesize.salesEvents8(spark).filter(col("event_id") === 1))
    assert(t.readLatest().filter(col("event_id") === 1).count() === 1)
    assert(t.readLatest().count() === 8)
  }

  test("upsertMor updates existing keys and inserts new ones in one commit") {
    val t = newSalesTable()
    val snapsBefore = t.snapshotsList.size
    val src = Synthesize.salesEvents8(spark)
      .filter(col("event_id").isin(1, 2))
      .withColumn("qty", col("qty") + 100)
      .unionByName(Synthesize.salesEvents8(spark)
        .filter(col("event_id") === 3).withColumn("event_id", lit(99L)))
    Dml.upsertMor(t, src, Seq("event_id"))
    assert(t.snapshotsList.size === snapsBefore + 1) // ONE commit
    val out = t.readLatest()
    assert(out.count() === 9) // 8 originals − 0 net + 1 new key
    assert(out.filter(col("event_id") === 1).select("qty").as[Long].head === 103L)
    assert(out.filter(col("event_id") === 2).select("qty").as[Long].head === 105L)
    assert(out.filter(col("event_id") === 99).count() === 1)
    // exactly one version of each upserted key
    assert(out.groupBy("event_id").count().filter(col("count") > 1).count() === 0)
  }

  test("upsertMor raises on a duplicated source key (cardinality guard)") {
    val t = newSalesTable()
    val dup = Synthesize.salesEvents8(spark).filter(col("event_id") === 1)
      .unionByName(Synthesize.salesEvents8(spark).filter(col("event_id") === 1))
    val e = intercept[Exception] { Dml.upsertMor(t, dup, Seq("event_id")) }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("UPSERT cardinality violation")))
  }

  test("null key tuples delete null rows (null-safe equality, Iceberg semantics)") {
    val dir = scratchDir("mor-null-")
    val t = GraftTable.create(spark, dir,
      org.apache.spark.sql.types.StructType.fromDDL("k bigint, v string"))
    t.append(Seq((Some(1L), "a"), (None, "b"), (Some(2L), "c"))
      .toDF("k", "v").selectExpr("k", "v"))
    Dml.deleteMorKeys(t, Seq(Option.empty[Long]).toDF("k"))
    val out = t.readLatest().select("v").as[String].collect().sorted
    assert(out === Array("a", "c")) // the null-keyed row is gone
  }

  test("COW update on a table with live MOR deletes does not resurrect rows") {
    val t = newSalesTable()
    Dml.deleteMorKeys(t, Seq(3L).toDF("event_id"))
    Dml.update(t, col("event_id") === 4, Map("qty" -> lit(400)))
    val out = t.readLatest()
    assert(out.filter(col("event_id") === 3).count() === 0)
    assert(out.filter(col("event_id") === 4).select("qty").as[Int].head === 400)
    assert(out.count() === 7)
  }

  test("materializeDeletes folds deletes into data files and clears them") {
    val t = newSalesTable()
    Dml.deleteMorKeys(t, Seq(2L, 7L).toDF("event_id"))
    val before = t.readLatest().orderBy("event_id").collect()
    val snap = Maintenance.materializeDeletes(t)
    assert(snap.isDefined)
    assert(t.latest.deletes.isEmpty)
    assert(t.readLatest().orderBy("event_id").collect() === before)
    // idempotent: second call is a no-op
    assert(Maintenance.materializeDeletes(t).isEmpty)
  }

  test("time travel to the pre-delete snapshot still sees all rows") {
    val t = newSalesTable()
    val preDelete = t.latest.snapshotId
    Dml.deleteMorKeys(t, Seq(1L).toDF("event_id"))
    assert(t.readVersionAsOf(preDelete).count() === 8)
    assert(t.readLatest().count() === 7)
  }

  test("delete key columns follow later renames (evolution forward-mapping)") {
    val t = newSalesTable()
    Dml.deleteMorKeys(t, Seq(5L).toDF("event_id"))
    t.renameColumn("event_id", "eid")
    val out = t.readLatest()
    assert(out.columns.contains("eid"))
    assert(out.filter(col("eid") === 5).count() === 0)
    assert(out.count() === 7)
  }

  test("delete key values follow later type widening (cast at join)") {
    val dir = scratchDir("mor-widen-")
    val t = GraftTable.create(spark, dir,
      org.apache.spark.sql.types.StructType.fromDDL("k int, v string"))
    t.append(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"))
    Dml.deleteMorKeys(t, Seq(2).toDF("k"))
    t.widenColumn("k", "bigint")
    val out = t.readLatest().select("k").as[Long].collect().sorted
    assert(out === Array(1L, 3L))
  }

  test("expiry removes delete files only when no retained snapshot needs them") {
    val t = newSalesTable()
    Dml.deleteMorKeys(t, Seq(6L).toDF("event_id"))
    t.append(Synthesize.salesEvents8(spark).filter(col("event_id") === 6)
      .withColumn("event_id", lit(100L)))
    val delPath = t.latest.deletes.head.path
    val fs = SnapshotLog.fs(spark.sessionState.newHadoopConf(), t.tableDir)
    val full = new org.apache.hadoop.fs.Path(SnapshotLog.dataPath(t.tableDir), delPath)
    // retained snapshots still reference the delete file → it must survive
    Maintenance.expireSnapshots(t, retainLast = 2)
    assert(fs.exists(full))
    assert(t.readLatest().filter(col("event_id") === 6).count() === 0)
    // materialize, commit more, then expire the delete-bearing snapshots away
    Maintenance.materializeDeletes(t)
    t.append(Synthesize.salesEvents8(spark).filter(col("event_id") === 1)
      .withColumn("event_id", lit(101L)))
    Maintenance.expireSnapshots(t, retainLast = 2)
    assert(!fs.exists(full)) // no retained snapshot references it any more
  }

  test("orphan-file removal spares live delete files") {
    val t = newSalesTable()
    Dml.deleteMorKeys(t, Seq(8L).toDF("event_id"))
    val removed = Maintenance.removeOrphanFiles(t, Long.MaxValue)
    assert(!removed.exists(_.startsWith("_deletes/")))
    assert(t.readLatest().count() === 7) // still applied
  }

  test("MOR read plans no join and no exchange on the data side") {
    val t = newSalesTable()
    Dml.deleteMorKeys(t, Seq(1L).toDF("event_id"))
    val plan = t.readLatest().queryExecution.executedPlan.toString
    // the delete is a per-row filter at the marked files' scan: no join of
    // any kind, and nothing exchanges the data side
    assert(!plan.contains("Join") && !plan.contains("Exchange"),
      s"expected no join and no exchange in:\n$plan")
  }

  test("snapshot docs stay delta-sized across MOR commits (persistence)") {
    val t = newSalesTable()
    Dml.deleteMorKeys(t, Seq(1L).toDF("event_id"))
    Dml.upsertMor(t,
      Synthesize.salesEvents8(spark).filter(col("event_id") === 2)
        .withColumn("qty", lit(7)), Seq("event_id"))
    // reload from disk through the doc codec and compare in-memory state
    val reloaded = GraftTable.load(spark, t.tableDir)
    assert(reloaded.latest === t.latest)
    assert(reloaded.readLatest().count() === 7)
    assert(reloaded.latest.deletes.size === 2)
  }

  test("stats pruning stays sound over live MOR deletes") {
    val dir = scratchDir("mor-prune-")
    val t = GraftTable.create(spark, dir,
      org.apache.spark.sql.types.StructType.fromDDL("k bigint, v string"))
    t.append((1L to 10L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    t.append((11L to 20L).map(i => (i, s"b$i")).toDF("k", "v").coalesce(1))
    Dml.deleteMorKeys(t, (1L to 10L).toDF("k"))
    // file bounds predate the delete: the emptied file is conservatively
    // KEPT by planning (bounds only ever widen), and the read-side
    // reconciliation makes the result exact anyway
    val (sel, total) = t.planBetween(t.latest, "k", 1L, 5L)
    assert(total === 2 && sel.size === 1) // second file pruned by bounds
    assert(t.readBetween("k", 1L, 5L).count() === 0) // deletes win at read
    assert(t.readBetween("k", 11L, 15L).count() === 5)
    // after materialization the emptied file disappears physically and the
    // same range prunes everything
    Maintenance.materializeDeletes(t)
    val (sel2, _) = t.planBetween(t.latest, "k", 1L, 5L)
    assert(t.readBetween("k", 1L, 5L).count() === 0)
    assert(sel2.forall(f => f.stats.get("k").forall(st =>
      new java.math.BigDecimal(st(1)).longValue >= 1L)))
  }

  test("materializeDeletes rewrites only the files a delete can touch") {
    val t = GraftTable.create(spark, scratchDir("mor-materialize-"),
      org.apache.spark.sql.types.StructType.fromDDL("k bigint, v string"))
    Seq(1L, 11L, 21L).foreach(lo =>
      t.append((lo until lo + 10).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1)))
    Dml.deleteMorKeys(t, Seq(15L).toDF("k"))
    val before = t.latest.files.map(_.path).toSet
    val rows = t.readLatest().orderBy("k").collect().toSeq
    val after = Maintenance.materializeDeletes(t).get
    assert((before -- after.files.map(_.path)).size === 1, "one file rewritten")
    assert(after.files.size === 3)
    assert(after.deletes.isEmpty)
    assert(t.readLatest().orderBy("k").collect().toSeq === rows)
  }

  test("deleteFiles metadata table lists live delete files") {
    val t = newSalesTable()
    Dml.deleteMorKeys(t, Seq(1L, 2L).toDF("event_id"))
    val rows = t.deleteFiles().collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(2)).sum === 2) // two key tuples
    assert(rows.forall(_.getString(1) === "event_id"))
  }
}
