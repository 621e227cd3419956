package graft.sources

import graft.SparkSpec
import graft.table.GraftTable

/** `CALL <cat>.system.<proc>(...)` through STOCK spark.sql — Spark 4's
  * native CALL statement bound against the catalog's ProcedureCatalog face
  * (the reference's maintenance statements are exactly this shape,
  * blob_dfs/blob-dfs_bench.py:141-155).
  */
class GraftProceduresSpec extends SparkSpec {

  private def withCatalog[A](name: String)(body: String => A): A = {
    val wh = scratchDir(s"cat-$name")
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    try body(wh)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$name")
      spark.conf.unset(s"spark.sql.catalog.$name.warehouse")
    }
  }

  test("the reference's bench maintenance CALLs run verbatim") {
    withCatalog("gp1") { wh =>
      import spark.implicits._
      spark.sql("CREATE NAMESPACE gp1.bench")
      spark.sql("CREATE TABLE gp1.bench.t (k BIGINT, v DOUBLE)")
      // several small appends -> several small files for binpack to merge
      (0 until 4).foreach { i =>
        Seq.tabulate(50)(j => (i * 50L + j, j.toDouble)).toDF("k", "v")
          .coalesce(1).writeTo("gp1.bench.t").append()
      }
      val t = GraftTable.load(spark, s"$wh/bench/t")
      val filesBefore = t.latest.files.size
      assert(filesBefore >= 4)

      val rw = spark.sql(
        """CALL gp1.system.rewrite_data_files(table => 'bench.t',
          options => map('min-input-files','2','max-file-size-bytes','536870912'))""")
        .collect().head
      assert(rw.schema.fieldNames.toSeq ==
        Seq("rewritten_data_files_count", "added_data_files_count"))
      assert(rw.getLong(0) == filesBefore && rw.getLong(1) >= 1)
      assert(spark.sql("SELECT COUNT(*) c, CAST(SUM(k) AS BIGINT) s FROM gp1.bench.t")
        .collect().head.toSeq == Seq(200L, (0L until 200L).sum))

      val rm = spark.sql("CALL gp1.system.rewrite_manifests('bench.t')").collect().head
      assert(rm.getLong(0) >= 0)

      val exp = spark.sql(
        "CALL gp1.system.expire_snapshots(table => 'bench.t', retain_last => 2)")
        .collect().head
      assert(exp.getLong(0) > 0)
      assert(GraftTable.load(spark, s"$wh/bench/t").snapshotsList.size == 2)
    }
  }

  test("rollback, lineage, and discovery procedures") {
    withCatalog("gp2") { wh =>
      spark.sql("CREATE NAMESPACE gp2.ops")
      spark.sql("CREATE TABLE gp2.ops.t (k BIGINT)")
      spark.sql("INSERT INTO gp2.ops.t VALUES (1), (2)")
      spark.sql("INSERT INTO gp2.ops.t VALUES (3)")
      val t = GraftTable.load(spark, s"$wh/ops/t")
      val afterFirst = t.snapshotsList(1).snapshotId

      val anc = spark.sql("CALL gp2.system.ancestors_of('ops.t')").collect()
      assert(anc.map(_.getLong(0)).toSeq ==
        t.snapshotsList.map(_.snapshotId).reverse)
      assert(anc.head.getTimestamp(1) != null)

      val rb = spark.sql(
        s"CALL gp2.system.rollback_to_snapshot(table => 'ops.t', snapshot_id => $afterFirst)")
        .collect().head
      assert(rb.getLong(2) == afterFirst)
      assert(spark.sql("SELECT COUNT(*) FROM gp2.ops.t").collect().head.getLong(0) == 2L)

      // positional CALL + named mix; SHOW / DESCRIBE discovery
      val procs = spark.sql("SHOW PROCEDURES IN gp2.system").collect()
        .map(_.mkString("|")).mkString("\n")
      Seq("rewrite_data_files", "expire_snapshots", "remove_orphan_files",
        "ancestors_of").foreach(n => assert(procs.contains(n), procs))
      val desc = spark.sql("DESCRIBE PROCEDURE gp2.system.expire_snapshots")
        .collect().map(_.mkString("|")).mkString("\n")
      assert(desc.contains("expire_snapshots"))
    }
  }

  test("remove_orphan_files and the changelog view") {
    withCatalog("gp3") { wh =>
      spark.sql("CREATE NAMESPACE gp3.ops")
      // merge-on-read DML records its row diff, so the changelog can cross
      // the delete commit (COW rewrites refuse — no row-level diff); the
      // catalog DELETE route honors the mode property via Dml.deleteAuto
      spark.sql("""CREATE TABLE gp3.ops.t (k BIGINT, v STRING)
        TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""")
      spark.sql("INSERT INTO gp3.ops.t VALUES (1, 'a'), (2, 'b')")
      spark.sql("DELETE FROM gp3.ops.t WHERE k = 2")
      assert(GraftTable.load(spark, s"$wh/ops/t").latest.operation == "delete-dv")

      // plant an orphan in the data layout; older_than => now disables grace
      val t = GraftTable.load(spark, s"$wh/ops/t")
      val orphan = new java.io.File(
        graft.table.SnapshotLog.dataPath(t.tableDir).toString, "orphan-0.parquet")
      java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
      val removed = spark.sql(
        "CALL gp3.system.remove_orphan_files(table => 'ops.t', older_than => current_timestamp())")
        .collect().map(_.getString(0))
      assert(removed.exists(_.endsWith("orphan-0.parquet")), removed.toSeq)
      assert(!orphan.exists())

      val cv = spark.sql(
        "CALL gp3.system.create_changelog_view(table => 'ops.t')").collect().head
      assert(cv.getString(0) == "t_changes")
      val changes = spark.sql(
        "SELECT _change_type, k FROM t_changes ORDER BY _commit_snapshot_id, _change_type, k")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(changes.sorted.toSeq ==
        Seq(("delete", 2L), ("insert", 1L), ("insert", 2L)), changes.toSeq)
    }
  }

  test("add_files imports and unknown procedures refuse with the name") {
    withCatalog("gp4") { wh =>
      import spark.implicits._
      spark.sql("CREATE NAMESPACE gp4.ops")
      spark.sql("CREATE TABLE gp4.ops.t (k BIGINT, v DOUBLE)")
      val ext = scratchDir("gp4-ext") + "/files"
      Seq((10L, 1.0), (11L, 2.0)).toDF("k", "v").coalesce(1).write.parquet(ext)
      val af = spark.sql(
        s"CALL gp4.system.add_files(table => 'ops.t', source_table => '`parquet`.`$ext`')")
        .collect().head
      assert(af.getLong(0) == 1L)
      assert(spark.sql("SELECT COUNT(*) FROM gp4.ops.t").collect().head.getLong(0) == 2L)

      val err = intercept[Exception](spark.sql("CALL gp4.system.nope()"))
      assert(err.getMessage.contains("nope"))
    }
  }
}
