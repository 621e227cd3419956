package graft.table

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dml.Dml
import graft.gen.Synthesize
import graft.maintenance.Maintenance

/** Positional merge-on-read deletes (the Iceberg v3 deletion-vector shape):
  * predicate DELETE/UPDATE commits a vector of (part-file name, row
  * position) tuples addressing exactly the matched rows — zero data files
  * rewritten, no identifier columns trusted, reads drop the addressed rows
  * with a per-row filter on the files the vector names.
  */
class DeleteVectorSpec extends SparkSpec {

  import spark.implicits._

  private def newSalesTable(): GraftTable = {
    val dir = scratchDir("dv-")
    val t = GraftTable.create(spark, dir, graft.model.Schemas.salesEvents)
    t.append(Synthesize.salesEvents8(spark))
    t
  }

  test("positional delete removes matched rows without rewriting any data file") {
    val t = newSalesTable()
    val filesBefore = t.latest.files.map(_.path).toSet
    Dml.deleteMor(t, col("qty") >= 8) // qty 8 and 10 → ids 4, 6
    assert(t.latest.files.map(_.path).toSet === filesBefore)
    assert(t.latest.operation === "delete-dv")
    assert(t.latest.deletes.size === 1)
    assert(t.latest.deletes.head.positional)
    assert(t.latest.deletes.head.keyCols === Nil)
    assert(t.latest.deletes.head.rowCount === 2)
    val ids = t.readLatest().select("event_id").as[Long].collect().sorted
    assert(ids === Array(1L, 2L, 3L, 5L, 7L, 8L))
  }

  test("a non-unique 'key' cannot over-delete: only the matched rows die") {
    val dir = scratchDir("dv-dup-")
    val t = GraftTable.create(spark, dir,
      Seq((1L, "a", 10L)).toDF("k", "tag", "v").schema)
    // two rows share k=1; the predicate matches only one of them
    t.append(Seq((1L, "a", 10L), (1L, "b", 20L), (2L, "c", 30L))
      .toDF("k", "tag", "v"))
    Dml.deleteMor(t, col("tag") === "a")
    val rows = t.readLatest().select("k", "tag").as[(Long, String)].collect().sortBy(_._2)
    assert(rows === Array((1L, "b"), (2L, "c")),
      "the k=1 row NOT matched by the predicate must survive")
  }

  test("rows re-inserted after a positional delete survive (new files are unreachable)") {
    val t = newSalesTable()
    Dml.deleteMor(t, col("event_id") === 1)
    assert(t.readLatest().filter(col("event_id") === 1).count() === 0)
    t.append(Synthesize.salesEvents8(spark).filter(col("event_id") === 1))
    assert(t.readLatest().filter(col("event_id") === 1).count() === 1)
    assert(t.readLatest().count() === 8)
  }

  test("positional update replaces matched rows with zero data-file rewrites") {
    val t = newSalesTable()
    val filesBefore = t.latest.files.map(_.path).toSet
    Dml.updateMor(t, col("event_id") === 3,
      Map("qty" -> (col("qty") + lit(100L))))
    assert(t.latest.operation === "update-dv")
    assert(filesBefore.subsetOf(t.latest.files.map(_.path).toSet),
      "every pre-update data file must survive by reference")
    assert(t.latest.files.size === filesBefore.size + 1, "one appended file")
    val before = Synthesize.salesEvents8(spark)
      .filter(col("event_id") === 3).select("qty").as[Long].head()
    val after = t.readLatest()
      .filter(col("event_id") === 3).select("qty").as[Long].collect()
    assert(after.toSeq === Seq(before + 100L))
    assert(t.readLatest().count() === 8)
  }

  test("SQL DELETE/UPDATE on a merge-on-read table write vectors") {
    val t = newSalesTable()
    t.setProperties(Map(
      GraftTable.DeleteModeProp -> Some("merge-on-read"),
      GraftTable.UpdateModeProp -> Some("merge-on-read")))
    val eng = new graft.plan.SparkSqlEngine(spark)
    eng.registerGraftTable("dv_sales", t)
    val filesBefore = t.latest.files.map(_.path).toSet
    eng.execute("DELETE FROM dv_sales WHERE event_id = 2")
    assert(t.latest.operation === "delete-dv")
    eng.execute("UPDATE dv_sales SET qty = qty + 1 WHERE event_id = 4")
    assert(t.latest.operation === "update-dv")
    assert(filesBefore.subsetOf(t.latest.files.map(_.path).toSet))
    assert(t.readLatest().count() === 7)
    // no identifier columns declared anywhere — vectors need none
    assert(!t.properties.contains("write.identifier-columns"))
  }

  // the connector reads primitive columns only (its long-standing contract),
  // so its parity tests use a decimal-free table
  private def newPrimitiveTable(prefix: String): GraftTable = {
    val dir = scratchDir(prefix)
    val df = (1L to 8L).map(i => (i, i * 10L, s"s$i")).toDF("id", "v", "s")
    val t = GraftTable.create(spark, dir, df.schema)
    t.append(df)
    t
  }

  test("the DSv2 connector reconciles delete vectors (parity with the table API)") {
    val t = newPrimitiveTable("dv-conn-")
    Dml.deleteMor(t, col("v") >= 70L) // ids 7, 8
    Dml.updateMor(t, col("id") === 1, Map("v" -> lit(999L)))
    val viaConnector = spark.read.format("graft").load(t.tableDir)
      .select("id", "v").as[(Long, Long)].collect().sortBy(_._1)
    val viaTable = t.readLatest()
      .select("id", "v").as[(Long, Long)].collect().sortBy(_._1)
    assert(viaConnector === viaTable)
    assert(viaConnector.map(_._1) === Array(1L, 2L, 3L, 4L, 5L, 6L))
    assert(viaConnector.head._2 === 999L)
  }

  test("positional and equality deletes compose on one table") {
    val t = newPrimitiveTable("dv-mixed-")
    Dml.deleteMorKeys(t, Seq(2L).toDF("id")) // equality
    Dml.deleteMor(t, col("id") === 5) // positional
    val ids = t.readLatest().select("id").as[Long].collect().sorted
    assert(ids === Array(1L, 3L, 4L, 6L, 7L, 8L))
    val viaConnector = spark.read.format("graft").load(t.tableDir)
      .select("id").as[Long].collect().sorted
    assert(viaConnector === ids)
  }

  test("compaction materializes vectors; consolidation merges them and prunes dead tuples") {
    val t = newSalesTable()
    Dml.deleteMor(t, col("event_id") === 1)
    Dml.deleteMor(t, col("event_id") === 2)
    assert(t.latest.deletes.count(_.positional) === 2)
    // consolidation: two live vectors collapse to one
    val consolidated = t.rewriteDeleteFiles()
    assert(consolidated.isDefined)
    assert(t.latest.deletes.count(_.positional) === 1)
    assert(t.readLatest().count() === 6)
    // compaction rewrites the data files; the new files carry no deletes
    Maintenance.materializeDeletes(t)
    assert(t.latest.deletes.isEmpty)
    assert(t.readLatest().count() === 6)
  }

  test("the DV read plan has no join and no exchange on the data side") {
    val t = newSalesTable()
    Dml.deleteMor(t, col("event_id") <= 2)
    val plan = t.readLatest().queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"),
      s"the data side must not join or shuffle for a delete vector:\n$plan")
  }

  test("time travel before the vector still sees the deleted rows; changelog records them") {
    val t = newSalesTable()
    val preDelete = t.latest.snapshotId
    Dml.deleteMor(t, col("event_id") <= 2)
    assert(t.readVersionAsOf(preDelete).count() === 8)
    val cl = t.readChangelog(preDelete, t.latest.snapshotId)
    val deleted = cl.filter(col("_change_type") === "delete")
      .select("event_id").as[Long].collect().sorted
    assert(deleted === Array(1L, 2L))
  }

  test("a commit landing between plan and publish aborts the vector (positions are snapshot-bound)") {
    val t = newSalesTable()
    val planned = t.latest
    // simulate the race: another writer appends AFTER this delete planned
    t.append(Synthesize.salesEvents8(spark).filter(col("event_id") === 8))
    val dv = Seq(("nonexistent.parquet", 0L))
      .toDF(GraftTable.WrittenAtCol, GraftTable.PosCol)
    intercept[java.util.ConcurrentModificationException] {
      t.commitDvDelta(dv, "delete-dv", basedOn = Some(planned))
    }
  }

  test("positional MERGE: update + delete + insert in one vector commit") {
    val t = newPrimitiveTable("dv-merge-")
    val filesBefore = t.latest.files.map(_.path).toSet
    // src: update id=2 (v→200), delete id=4, insert id=9
    val src = Seq((2L, 200L, "u2"), (4L, -1L, "d4"), (9L, 90L, "i9"))
      .toDF("id", "v", "s")
    Dml.mergeMor(t, src, "id",
      Map("v" -> col("src.v"), "s" -> col("src.s")),
      insertNotMatched = true,
      deleteWhen = Some(col("src.v") < 0L))
    assert(t.latest.operation === "merge-dv")
    assert(filesBefore.subsetOf(t.latest.files.map(_.path).toSet),
      "zero data files rewritten")
    val rows = t.readLatest().select("id", "v").as[(Long, Long)]
      .collect().sortBy(_._1)
    assert(rows.map(_._1) === Array(1L, 2L, 3L, 5L, 6L, 7L, 8L, 9L))
    assert(rows.toMap.apply(2L) === 200L)
    assert(rows.toMap.apply(9L) === 90L)
    // connector parity across the merge
    val viaConnector = spark.read.format("graft").load(t.tableDir)
      .select("id", "v").as[(Long, Long)].collect().sortBy(_._1)
    assert(viaConnector === rows)
  }

  test("positional MERGE raises on a duplicated source key before committing") {
    val t = newPrimitiveTable("dv-merge-dup-")
    val snapsBefore = t.snapshotsList.size
    val src = Seq((2L, 200L, "a"), (2L, 201L, "b")).toDF("id", "v", "s")
    intercept[Exception] {
      Dml.mergeMor(t, src, "id",
        Map("v" -> col("src.v")), insertNotMatched = false)
    }
    assert(t.snapshotsList.size === snapsBefore, "nothing may commit")
  }

  test("partition-spanning vectors on a hive-partitioned table") {
    val dir = scratchDir("dv-part-")
    val df = (1L to 40L).map(i => (i, s"c${i % 4}", i * 10L)).toDF("id", "cat", "v")
    val t = GraftTable.create(spark, dir, df.schema, partitionCols = Seq("cat"))
    t.append(df)
    val filesBefore = t.latest.files.map(_.path).toSet
    Dml.deleteMor(t, col("v") % 100L === 0L) // ids 10,20,30,40 across partitions
    assert(t.latest.files.map(_.path).toSet === filesBefore)
    assert(t.readLatest().count() === 36)
    assert(t.readLatest().filter(col("v") % 100L === 0L).count() === 0)
    val viaConnector = spark.read.format("graft").load(dir)
      .select("id").as[Long].collect().sorted
    assert(viaConnector === t.readLatest().select("id").as[Long].collect().sorted)
  }

  /** Every path under the table's data directory. */
  private def dataListing(t: GraftTable): Set[String] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(t.tableDir, "data"))
    try { import scala.jdk.CollectionConverters._; walk.iterator.asScala.map(_.toString).toSet }
    finally walk.close()
  }

  test("a MERGE cardinality violation leaves no file behind (equality and positional)") {
    Seq(false, true).foreach { positional =>
      val t = newPrimitiveTable("merge-dup-clean-")
      val (before, head) = (dataListing(t), t.latest)
      val src = Seq((2L, 200L, "a"), (2L, 201L, "b"), (9L, 90L, "i")).toDF("id", "v", "s")
      // the equality delta commit is the keyed upsert; SQL MERGE writes vectors
      val e = intercept[Exception] {
        if (positional) Dml.mergeMor(t, src, "id", Map("v" -> col("src.v")), true)
        else Dml.upsertMor(t, src, Seq("id"))
      }
      assert(e.toString.contains("cardinality violation") ||
        Option(e.getCause).exists(_.toString.contains("cardinality violation")), e)
      assert(dataListing(t) === before, s"positional=$positional")
      assert(t.latest === head)
    }
  }

  test("merge-on-read DML leaves no persisted RDD or cached relation, on success or raise") {
    val t = newPrimitiveTable("mor-release-")
    val dup = Seq((3L, 1L, "a"), (3L, 2L, "b")).toDF("id", "v", "s")
    val statements: Seq[() => Any] = Seq(
      () => Dml.mergeMor(t, Seq((2L, 5L, "m")).toDF("id", "v", "s"), "id",
        Map("v" -> col("src.v")), insertNotMatched = true),
      () => Dml.mergeMor(t, dup, "id", Map("v" -> col("src.v")), insertNotMatched = true),
      () => Dml.mergeMor(t, Seq((4L, 6L, "p")).toDF("id", "v", "s"), "id",
        Map("v" -> col("src.v")), insertNotMatched = false),
      () => Dml.upsertMor(t, Seq((5L, 7L, "s5")).toDF("id", "v", "s"), Seq("id")),
      () => Dml.updateMor(t, col("id") === 6L, Map("v" -> lit(8L))),
      () => Dml.deleteMorKeys(t, Seq(7L).toDF("id")),
      () => Dml.deleteMor(t, col("id") === 8L),
      () => Dml.upsertMor(t, dup, Seq("id")))
    val cache = spark.sharedState.cacheManager
    statements.zipWithIndex.foreach { case (run, i) =>
      val (rdds, cached) = (spark.sparkContext.getPersistentRDDs.keySet, cache.isEmpty)
      scala.util.Try(run())
      assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(rdds), s"statement $i")
      assert(cache.isEmpty === cached, s"statement $i")
    }
    assert(t.readLatest().select("id", "v").as[(Long, Long)].collect().sortBy(_._1) ===
      Array((1L, 10L), (2L, 5L), (3L, 30L), (4L, 6L), (5L, 7L), (6L, 8L)))
  }
}
