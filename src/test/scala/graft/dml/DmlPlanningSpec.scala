package graft.dml

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** DML planning shape at scale: which files a statement reads, and that
  * MERGE's change-set join never forces a broadcast (VERDICT r5 "what's
  * wrong" #1 — an unconditional broadcast of all distinct source keys OOMs
  * the driver at the spec's 100 TB merge mix).
  */
class DmlPlanningSpec extends SparkSpec {

  /** Does the plan carry a broadcast hint anywhere? */
  private def hinted(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.exists {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint =>
        h.hints.strategy.nonEmpty
      case _ => false
    }

  test("small MERGE source: candidates by its collected keys, no broadcast hint") {
    import spark.implicits._
    val t = keyOrdered("merge-small-src-")
    // under autoBroadcastJoinThreshold the keys collect and prune per value:
    // two files, and the collected keys are known distinct
    val src = Seq(5L, 1705L).map(k => (k, s"s$k")).toDF("k", "v")
    val (candidates, distinct) = Dml.sourceKeyCandidates(t, t.latest, src, "k")
    assert(candidates.size === 2 && distinct)
    assert(!hinted(Dml.mergeChange(t, t.latest, src, "k", Map("v" -> col("src.v")),
      insertNotMatched = true, deleteWhen = None)))
  }

  test("large MERGE source: candidates by its key range, no broadcast hint") {
    // 20M keys estimate at ~160 MB — past autoBroadcastJoinThreshold, so the
    // keys are never collected: the candidates are the files whose bounds
    // meet [1000, 2e7), and nothing hints the change-set join to broadcast
    val src = spark.range(1000L, 20000000L).select(col("id").as("k"), lit("s").as("v"))
    val t = keyOrdered("merge-large-src-")
    val (candidates, distinct) = Dml.sourceKeyCandidates(t, t.latest, src, "k")
    assert(candidates.size === 30 && !distinct)
    assert(!hinted(Dml.mergeChange(t, t.latest, src, "k", Map("v" -> col("src.v")),
      insertNotMatched = true, deleteWhen = None)))
  }

  test("equality merge-on-read DELETE scans only its candidate files for keys") {
    import spark.implicits._
    val t = graft.table.GraftTable.create(spark, scratchDir("dml-mor-keys-"),
      Seq((1L, "a")).toDF("k", "v").schema)
    (0 until 6).foreach { i =>
      t.append((i * 100 until i * 100 + 100).map(j => (j.toLong, s"v$j"))
        .toDF("k", "v").coalesce(1))
    }
    val (_, seen) = graft.SparkProbe.observe(spark)(
      Dml.deleteMorKeys(t,
        t.readLatest().filter(col("k") >= 210 && col("k") < 260).select("k")))
    val tableScans = seen.scans.filter(
      _.relation.location.rootPaths.exists(_.toString.contains(t.tableDir)))
    assert(tableScans.nonEmpty)
    // one of the six files can hold k in [210, 260)
    assert(graft.SparkProbe.filesRead(tableScans).forall(_ == 1L),
      graft.SparkProbe.filesRead(tableScans))
    assert(t.latest.deletes.size === 1)
    assert(t.readLatest().select("k").as[Long].collect().sorted ===
      (0L until 600L).filterNot(k => k >= 210 && k < 260).toArray)
  }

  test("DML planning pre-prunes candidate files from predicate bounds") {
    import spark.implicits._
    val t = graft.table.GraftTable.create(spark, scratchDir("dml-prune-"),
      Seq((1L, "a")).toDF("k", "v").schema)
    (0 until 4).foreach { i =>
      t.append((i * 100 until i * 100 + 100).map(j => (j.toLong, s"v$j"))
        .toDF("k", "v").coalesce(1))
    }
    val planned = t.latest
    // range predicate on the stats-tracked column: one candidate file
    val (c1, total) = Dml.planningCandidates(t, planned,
      col("k") >= 110 && col("k") <= 150)
    assert(total === 4 && c1.size === 1)
    // point predicate, literal on the left
    val (c2, _) = Dml.planningCandidates(t, planned, lit(305L) === col("k"))
    assert(c2.size === 1)
    // OR cannot bound: conservative full candidate set
    val (c3, _) = Dml.planningCandidates(t, planned,
      col("k") === 5 || col("k") === 305)
    assert(c3.size === 4)
    // predicate on an untracked expression: full set
    val (c4, _) = Dml.planningCandidates(t, planned, length(col("v")) > 2)
    assert(c4.size === 4)
    // end-to-end: the pruned plan still yields exact DML results
    Dml.update(t, col("k") >= 110 && col("k") <= 150, Map("v" -> lit("upd")))
    assert(t.readLatest().filter(col("v") === "upd").count() === 41)
    assert(t.readLatest().count() === 400)
    Dml.delete(t, col("k") === 305)
    assert(t.readLatest().count() === 399)
  }

  test("DML planning prunes IN-lists per value, tighter than a min/max envelope") {
    import spark.implicits._
    val t = graft.table.GraftTable.create(spark, scratchDir("dml-inprune-"),
      Seq((1L, "a")).toDF("k", "v").schema)
    (0 until 4).foreach { i =>
      t.append((i * 100 until i * 100 + 100).map(j => (j.toLong, s"v$j"))
        .toDF("k", "v").coalesce(1))
    }
    val planned = t.latest
    // keys from files 0 and 3 only: a [5, 305] envelope would keep all four
    val (c1, total) = Dml.planningCandidates(t, planned,
      col("k").isin(5L, 7L, 305L))
    assert(total === 4 && c1.size === 2,
      s"per-value pruning must skip the middle files, got ${c1.size}")
    // a 33-value list whose values land in every file keeps all four
    val big = (0L until 33L).map(_ * 10L)
    val (c2, _) = Dml.planningCandidates(t, planned, col("k").isin(big: _*))
    assert(c2.size === 4)
    // end-to-end exactness
    Dml.delete(t, col("k").isin(5L, 7L, 305L))
    assert(t.readLatest().count() === 397)
  }

  test("DML planning prunes on IS NULL / IS NOT NULL via null counts") {
    import spark.implicits._
    val df = ((1 to 10).map(i => (i.toLong, Some(i.toLong))) ++
      (11 to 20).map(i => (i.toLong, Option.empty[Long])) ++
      (21 to 25).map(i => (i.toLong, if (i % 2 == 0) Some(i.toLong) else None)))
      .toDF("k", "v")
    val t = graft.table.GraftTable.create(spark, scratchDir("dml-nullprune-"), df.schema)
    t.append(df.filter(col("k") <= 10).coalesce(1))   // no nulls
    t.append(df.filter(col("k") > 10 && col("k") <= 20).coalesce(1)) // all null
    t.append(df.filter(col("k") > 20).coalesce(1))    // mixed
    val planned = t.latest
    val (cNull, total) = Dml.planningCandidates(t, planned, col("v").isNull)
    assert(total === 3 && cNull.size === 2, "zero-null file cannot hold IS NULL matches")
    val (cNotNull, _) = Dml.planningCandidates(t, planned, col("v").isNotNull && col("v") < 5)
    assert(cNotNull.size === 1, "all-null file AND out-of-range file both excluded")
    // end-to-end: the cleaning delete stays exact
    Dml.delete(t, col("v").isNull)
    assert(t.readLatest().count() === 12)
    assert(t.readLatest().filter(col("v").isNull).count() === 0)
  }

  test("predicate bounds follow renames (pruning stays sound across evolution)") {
    import spark.implicits._
    val t = graft.table.GraftTable.create(spark, scratchDir("dml-prune-ev-"),
      Seq((1L, "a")).toDF("k", "v").schema)
    t.append((0L until 100L).map(j => (j, s"v$j")).toDF("k", "v").coalesce(1))
    t.append((100L until 200L).map(j => (j, s"v$j")).toDF("k", "v").coalesce(1))
    t.renameColumn("k", "key")
    val (c, total) = Dml.planningCandidates(t, t.latest, col("key") < 50)
    assert(total === 2 && c.size === 1) // old-name stats resolved via lineage
    Dml.delete(t, col("key") < 50)
    assert(t.readLatest().count() === 150)
  }

  test("MERGE planning prunes by source key range and keeps results exact") {
    import spark.implicits._
    val t = graft.table.GraftTable.create(spark, scratchDir("merge-prune-"),
      Seq((1L, "a")).toDF("k", "v").schema)
    // Dml.RangePruneMinFiles files, so the key-range planning agg engages
    // (below the gate the agg is skipped — one less source scan)
    (0 until Dml.RangePruneMinFiles).foreach { i =>
      t.append((i * 100 until i * 100 + 100).map(j => (j.toLong, s"v$j"))
        .toDF("k", "v").coalesce(1))
    }
    val fileFor0 = t.latest.files.map(_.path).toSet
    // source keys 150..159 (updates) + big inserts: only the 100-199 file
    // can hold matches; the others go untouched by metadata
    val src = ((150L until 160L) ++ (10000L until 10005L)).map(k => (k, s"s$k")).toDF("k", "v")
    Dml.merge(t, src, "k", Map("v" -> col("src.v")), insertNotMatched = true)
    val out = t.readLatest()
    assert(out.count() === Dml.RangePruneMinFiles * 100 + 5)
    assert(out.filter(col("k") === 155).select("v").as[String].head === "s155")
    assert(out.filter(col("k") === 10002).count() === 1)
    assert(out.filter(col("k") === 5).select("v").as[String].head === "v5")
    // every out-of-range file was kept by reference, not rewritten
    val kept = t.latest.files.map(_.path).toSet.intersect(fileFor0)
    assert(kept.size === Dml.RangePruneMinFiles - 1, s"expected untouched files, kept $kept")
  }

  test("MERGE with duplicate source keys on a matched row raises a cardinality violation") {
    import spark.implicits._
    val dir = scratchDir("merge-dup-")
    val base = (1L to 10L).map(k => (k, k)).toDF("k", "v")
    val t = graft.table.GraftTable.create(spark, dir, base.schema)
    t.append(base)
    // key 3 appears twice in the source — engines raise, never multiply
    val source = Seq((3L, 300L), (3L, 301L), (11L, 1100L)).toDF("k", "v")
    val e = intercept[Throwable] {
      Dml.merge(t, source, "k", Map("v" -> col("src.v")), insertNotMatched = true)
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + "|" + msgs(t.getCause)
    assert(msgs(e).toLowerCase.contains("cardinality violation"), msgs(e))
    // the failed merge committed nothing
    assert(t.readLatest().count() === 10)
    assert(t.latest.operation === "append")
  }

  test("duplicate source keys all consumed by the delete branch still raise (no silent delete)") {
    import spark.implicits._
    val dir = scratchDir("merge-dup-delete-")
    val base = (1L to 10L).map(k => (k, k)).toDF("k", "v")
    val t = graft.table.GraftTable.create(spark, dir, base.schema)
    t.append(base)
    // key 3 appears twice, BOTH rows delete-marked: filtering them out before
    // the guard would silently delete where engines raise for delete actions too
    val source = Seq((3L, -1L), (3L, -2L)).toDF("k", "v")
    val e = intercept[Throwable] {
      Dml.merge(t, source, "k", Map("v" -> col("src.v")), insertNotMatched = true,
        deleteWhen = Some(col("src.v") < 0))
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + "|" + msgs(t.getCause)
    assert(msgs(e).toLowerCase.contains("cardinality violation"), msgs(e))
    assert(t.readLatest().count() === 10) // nothing committed, nothing deleted
  }

  test("a single delete-marked source row per key still deletes cleanly") {
    import spark.implicits._
    val dir = scratchDir("merge-single-delete-")
    val base = (1L to 10L).map(k => (k, k)).toDF("k", "v")
    val t = graft.table.GraftTable.create(spark, dir, base.schema)
    t.append(base)
    val source = Seq((3L, -1L), (5L, 500L)).toDF("k", "v")
    Dml.merge(t, source, "k", Map("v" -> col("src.v")), insertNotMatched = true,
      deleteWhen = Some(col("src.v") < 0))
    val rows = t.readLatest()
    assert(rows.count() === 9) // k=3 deleted, k=5 updated
    assert(rows.filter(col("k") === 3).count() === 0)
    assert(rows.filter(col("k") === 5).select("v").collect()(0).getLong(0) === 500L)
  }

  test("duplicate source keys that match NO target row insert once each (legal)") {
    import spark.implicits._
    val dir = scratchDir("merge-dup-unmatched-")
    val base = (1L to 10L).map(k => (k, k)).toDF("k", "v")
    val t = graft.table.GraftTable.create(spark, dir, base.schema)
    t.append(base)
    val source = Seq((21L, 1L), (21L, 2L), (5L, 500L)).toDF("k", "v")
    Dml.merge(t, source, "k", Map("v" -> col("src.v")), insertNotMatched = true)
    val rows = t.readLatest()
    assert(rows.count() === 12) // 10 base + both k=21 inserts
    assert(rows.filter(col("k") === 21).count() === 2)
    assert(rows.filter(col("k") === 5).select("v").collect()(0).getLong(0) === 500L)
  }

  test("planning ceiling warns past the driver-side file-list bound") {
    assert(Dml.plannedFilesWarning(1000000L).isEmpty)
    assert(Dml.plannedFilesWarning(1000001L).nonEmpty)
    assert(Dml.plannedFilesWarning(10L, ceiling = 5L).exists(_.contains("10 files")))
  }

  /** A 40-file table whose file i holds keys [100 i, 100 i + 100). */
  private def keyOrdered(prefix: String): graft.table.GraftTable = {
    import spark.implicits._
    val t = graft.table.GraftTable.create(spark, scratchDir(prefix),
      Seq((1L, "a")).toDF("k", "v").schema)
    (0 until 40).foreach { i =>
      t.append((i * 100L until i * 100L + 100L).map(j => (j, s"v$j")).toDF("k", "v").coalesce(1))
    }
    t
  }

  test("source-key candidates: a scattered small source plans only the files holding its keys") {
    import spark.implicits._
    val t = keyOrdered("merge-points-")
    // 100 keys in three files (0, 17, 39): their envelope spans all 40
    val keys = (0L until 40L) ++ (1700L until 1730L) ++ (3970L until 4000L)
    val src = keys.map(k => (k, s"s$k")).toDF("k", "v")
    val planned = t.latest
    val (candidates, distinct) = Dml.sourceKeyCandidates(t, planned, src, "k")
    assert(candidates.size === 3, candidates.map(_.path))
    assert(distinct)
    assert(t.planBetween(planned, "k", keys.min, keys.max)._1.size === 40)
    // the COW MERGE plans from the same rule and stays exact
    Dml.merge(t, src, "k", Map("v" -> col("src.v")), insertNotMatched = true)
    assert(t.readLatest().count() === 4000)
    assert(t.readLatest().filter(col("v").startsWith("s")).count() === 100)
    assert(t.latest.files.map(_.path).toSet.intersect(planned.files.map(_.path).toSet).size === 37)
  }

  test("merge-on-read MERGE scans each candidate file once; UPDATE runs no file-name collect") {
    import spark.implicits._
    val t = keyOrdered("merge-mor-scan-")
    val src = ((1710L until 1720L) ++ (9000L until 9005L)).map(k => (k, s"s$k")).toDF("k", "v")
    val candidates = Dml.sourceKeyCandidates(t, t.latest, src, "k")._1
      .map(_.path.split('/').last).toSet
    assert(candidates.size === 1)
    def tableScans(seen: graft.SparkProbe.Observed) =
      seen.scans.filter(_.relation.location.rootPaths.exists(_.toString.contains(t.tableDir)))
    val (_, merged) = graft.SparkProbe.observe(spark)(
      Dml.mergeMor(t, src, "k", Map("v" -> col("src.v")), insertNotMatched = true))
    val scans = tableScans(merged)
    assert(graft.SparkProbe.filesRead(scans).sum === candidates.size)
    assert(scans.flatMap(_.relation.location.inputFiles).map(_.split('/').last).toSet ===
      candidates)
    assert(t.readLatest().count() === 4005)
    assert(t.readLatest().filter(col("k") === 1715).select("v").as[String].head === "s1715")
    // UPDATE: one read of its candidate files (file 20 and the MERGE's
    // appended file), no separate file-name planning scan
    val updateCandidates = Dml.planningCandidates(t, t.latest, col("k") === 2050L)._1
    assert(updateCandidates.size === 2)
    val (_, updated) = graft.SparkProbe.observe(spark)(
      Dml.updateMor(t, col("k") === 2050L, Map("v" -> lit("u"))))
    assert(graft.SparkProbe.filesRead(tableScans(updated)).sum === updateCandidates.size)
    assert(updated.jobs <= 4, updated.jobs)
    assert(t.readLatest().filter(col("v") === "u").count() === 1)
  }

  test("source-key candidates keep every file when the join compares in the key's type") {
    import spark.implicits._
    // STRING keys "00".."99", ten per file: '01' sits in a file whose string
    // bounds ["00", "09"] exclude "1", yet Spark joins '01' to an INT 1
    def stringKeyed(prefix: String) = {
      val t = graft.table.GraftTable.create(spark, scratchDir(prefix),
        Seq(("a", "b")).toDF("k", "v").schema)
      (0 until 10).foreach { i =>
        t.append((0 until 10).map(j => (s"$i$j", "old")).toDF("k", "v").coalesce(1))
      }
      t
    }
    val src = Seq((1, "new")).toDF("k", "v")
    val probe = stringKeyed("merge-str-probe-")
    assert(Dml.sourceKeyCandidates(probe, probe.latest, src, "k")._1.size === 10)
    def check(t: graft.table.GraftTable): Unit = {
      assert(t.readLatest().count() === 100)
      assert(t.readLatest().filter(col("v") === "new").select("k").as[String].collect().toSeq ===
        Seq("01"))
    }
    val mor = stringKeyed("merge-str-mor-")
    Dml.mergeMor(mor, src, "k", Map("v" -> col("src.v")), insertNotMatched = true)
    check(mor)
    val cow = stringKeyed("merge-str-cow-")
    Dml.merge(cow, src, "k", Map("v" -> col("src.v")), insertNotMatched = true)
    check(cow)
  }
}
