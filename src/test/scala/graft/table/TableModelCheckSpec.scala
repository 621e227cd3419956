package graft.table

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dml.Dml
import graft.maintenance.Maintenance

/** Model-based randomized check of the table layer: a seeded random sequence
  * of appends, COW deletes/updates/merges, merge-on-read keyed
  * deletes/upserts, delete materialization, compactions, and snapshot expiry
  * runs against both a GraftTable and a trivial in-memory model; after every
  * op the table must read back exactly the model, and every retained
  * historical snapshot must still read back the model state recorded when it
  * was committed. Directed specs pin individual behaviors — this hunts for
  * interactions between them (e.g. COW update over live MOR deletes after
  * compaction).
  */
class TableModelCheckSpec extends SparkSpec {
  import spark.implicits._

  test("randomized op sequences match an in-memory model (seeded)") {
    val rnd = new scala.util.Random(20260812L)
    val tags = Vector("a", "b", "c")
    var totalDeltaDocs = 0
    (1 to 3).foreach { round =>
      val dir = scratchDir(s"model-$round-")
      val schema = Seq((0L, 0, "x")).toDF("id", "qty", "tag").schema
      val t = GraftTable.create(spark, dir, schema)
      var model = Vector.empty[(Long, Int, String)]
      var nextId = 0L
      var history = Map[Long, Vector[(Long, Int, String)]](t.latest.snapshotId -> model)

      var nDeltaDocs = 0
      // WAP branch model: staged content = base-snapshot content + staged
      // appends, independent of where main moves afterwards
      var branchBase: Long = -1L
      var branchModel = Vector.empty[(Long, Int, String)]
      var branchOpen = false
      // streaming WAP staging model (r13): the durable batch-id fence is
      // max(published id on main, branch-head id); a simulated checkpoint
      // loss restarts the stream's counter and every replayed id must no-op
      var wapStreamNext = 0L
      var wapPublished = -1L
      var wapBranchKey = -1L
      // incremental agg-view follower model (r13): the view tracks
      // groupBy(tag){count, sum(qty)}; a COW commit in the un-refreshed
      // range must refuse loudly and force a full rebuild
      var ivmDst: Option[GraftTable] = None
      var ivmCowInRange = false
      var ivmExpireInRange = false
      var ivmSeq = 0
      def sync(opName: String): Unit = {
        history += (t.latest.snapshotId -> model)
        val actual = t.readLatest().as[(Long, Int, String)].collect().sorted.toVector
        assert(actual === model.sorted, s"divergence after $opName (round $round)")
        // Metadata aggregates: whenever metadata CLAIMS an answer it must
        // equal the model exactly — across every random mix of appends, COW
        // and MOR DML, compaction, expiry, and evolution. (None = declared
        // scan-fallback, always legal.)
        t.countRowsFromMetadata().foreach(n =>
          assert(n === actual.size.toLong, s"metadata COUNT(*) after $opName (round $round)"))
        assert(t.countLive() === Some(actual.size.toLong),
          s"COUNT(*) route after $opName (round $round)")
        t.minMaxFromMetadata("id").foreach { case (mn, mx) =>
          assert(model.nonEmpty && mn == model.map(_._1).min && mx == model.map(_._1).max,
            s"metadata MIN/MAX(id) after $opName (round $round): ($mn,$mx) vs model")
        }
        scala.util.Try(t.countNonNullFromMetadata("qty")).toOption.flatten.foreach(n =>
          assert(n === model.size.toLong, s"metadata COUNT(qty) after $opName (round $round)"))
        // the PERSISTED doc for this commit must be delta-encoded whenever the
        // delta is smaller than the full listing — and a delta doc must never
        // also re-serialize the full inventory (expire may have consolidated
        // the doc away into a manifest; skip then)
        val p = java.nio.file.Paths.get(dir, "_graft_log",
          f"v${t.latest.snapshotId}%08d.json")
        if (java.nio.file.Files.exists(p)) {
          val raw = java.nio.file.Files.readString(p)
          if (raw.contains("\"added\"")) {
            nDeltaDocs += 1
            assert(!raw.contains("\"files\""),
              s"doc after $opName is both delta- and full-encoded (round $round)")
          }
        }
      }

      def ivmRebuild(): Unit = {
        import org.apache.spark.sql.types._
        ivmSeq += 1
        val d = GraftTable.create(spark, scratchDir(s"model-ivm-$round-$ivmSeq-"),
          StructType(Seq(StructField("tag", StringType),
            StructField("n_rows", LongType),
            StructField("sum_val", DecimalType(18, 2)))))
        graft.streaming.TableFollow.initAgg(t, d, Seq("tag"), "qty")
        ivmDst = Some(d)
        ivmCowInRange = false
        ivmExpireInRange = false
      }
      def ivmVerify(opName: String): Unit = ivmDst.foreach { d =>
        val actual = d.readLatest().collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).longValueExact()))
          .sorted.toVector
        val expected = model.groupBy(_._3).toVector
          .map { case (tg, rows) => (tg, rows.size.toLong, rows.map(_._2.toLong).sum) }
          .sorted
        assert(actual === expected, s"agg view diverged after $opName (round $round)")
      }

      (1 to 16).foreach { _ =>
        rnd.nextInt(12) match {
          case 0 | 1 =>
            val rows = (1 to 1 + rnd.nextInt(20)).map { _ =>
              nextId += 1; (nextId, rnd.nextInt(100), tags(rnd.nextInt(3)))
            }.toVector
            t.append(rows.toDF("id", "qty", "tag"))
            model ++= rows
            sync(s"append(${rows.size})")
          case 2 =>
            val m = 2 + rnd.nextInt(3); val r = rnd.nextInt(m)
            Dml.delete(t, col("qty") % m === r)
            model = model.filterNot(x => x._2 % m == r)
            ivmCowInRange = true
            sync(s"delete(qty%$m==$r)")
          case 3 =>
            val tg = tags(rnd.nextInt(3))
            Dml.update(t, col("tag") === tg, Map("qty" -> (col("qty") + 10)))
            model = model.map(x => if (x._3 == tg) (x._1, x._2 + 10, x._3) else x)
            ivmCowInRange = true
            sync(s"update(tag=$tg)")
          case 4 =>
            // upsert a window around the newest ids: touches existing rows,
            // re-inserts previously-deleted ids, and appends two fresh ones
            val lo = math.max(1L, nextId - 5)
            val srcRows = (lo to nextId + 2).map(i =>
              (i, 500 + rnd.nextInt(10), "m")).toVector
            nextId += 2
            Dml.merge(t, srcRows.toDF("id", "qty", "tag"), "id",
              Map("qty" -> col("src.qty"), "tag" -> col("src.tag")),
              insertNotMatched = true)
            val byId = srcRows.map(r => r._1 -> r).toMap
            model = model.map(x => byId.getOrElse(x._1, x))
            val present = model.map(_._1).toSet
            model ++= srcRows.filterNot(r => present.contains(r._1))
            ivmCowInRange = true
            sync(s"merge(${srcRows.size})")
          case 5 =>
            if (rnd.nextBoolean()) {
              Maintenance.rewriteDataFiles(t, targetFileSizeBytes = 1L << 30)
              sync("compact")
            } else {
              Maintenance.expireSnapshots(t, retainLast = 3)
              val retained = t.snapshotsList.map(_.snapshotId).toSet
              history = history.filter { case (k, _) => retained.contains(k) }
              ivmExpireInRange = true
              sync("expire")
            }
          case 6 =>
            // manifest consolidation is metadata-only: every snapshot (and
            // all history) must survive byte-identically
            Maintenance.rewriteManifests(t)
            sync("rewrite-manifests")
          case 7 =>
            // merge-on-read delete of some live ids and some misses, by key
            // (an equality delete) or by predicate (a counted vector) — and
            // occasionally materialize or consolidate the accumulated deletes
            if (model.nonEmpty && rnd.nextBoolean()) {
              val ids = rnd.shuffle(model.map(_._1)).take(1 + rnd.nextInt(4)) :+ (nextId + 100)
              val byKey = rnd.nextBoolean()
              if (byKey) Dml.deleteMorKeys(t, ids.toDF("id"))
              else Dml.deleteMor(t, col("id").isin(ids: _*))
              val gone = ids.toSet
              model = model.filterNot(x => gone.contains(x._1))
              sync(s"delete-mor(${ids.size}, byKey=$byKey)")
            } else if (rnd.nextBoolean()) {
              Maintenance.materializeDeletes(t)
              sync("materialize-deletes")
            } else {
              t.rewriteDeleteFiles()
              sync("rewrite-delete-files")
            }
          case 8 =>
            // merge-on-read upsert over a window around the newest ids —
            // the MOR twin of case 4's COW merge (same model transition)
            val lo = math.max(1L, nextId - 4)
            val srcRows = (lo to nextId + 1).map(i =>
              (i, 900 + rnd.nextInt(10), "u")).toVector
            nextId += 1
            Dml.upsertMor(t, srcRows.toDF("id", "qty", "tag"), Seq("id"))
            val byId = srcRows.map(r => r._1 -> r).toMap
            model = model.map(x => byId.getOrElse(x._1, x))
            val present = model.map(_._1).toSet
            model ++= srcRows.filterNot(r => present.contains(r._1))
            sync(s"upsert-mor(${srcRows.size})")
          case 9 =>
            // WAP branch walk: open a staging branch, stage appends on it,
            // then publish (iff main never moved — the fast-forward
            // contract) or observe the stale refusal and drop. The branch
            // read must track ITS model at every step regardless of main.
            if (!branchOpen) {
              t.createBranch("wapb")
              branchBase = t.latest.snapshotId
              branchModel = model
              branchOpen = true
              wapBranchKey = -1L
              sync("create-branch") // main unchanged
            } else if (rnd.nextBoolean()) {
              val rows = (1 to 1 + rnd.nextInt(5)).map { _ =>
                nextId += 1; (nextId, rnd.nextInt(100), tags(rnd.nextInt(3)))
              }.toVector
              t.appendToBranch("wapb", rows.toDF("id", "qty", "tag"))
              branchModel ++= rows
              sync(s"branch-append(${rows.size})") // main unchanged
            } else if (t.latest.snapshotId == branchBase) {
              t.publishBranch("wapb")
              model = branchModel
              branchOpen = false
              wapPublished = math.max(wapPublished, wapBranchKey)
              wapBranchKey = -1L
              sync("publish-branch")
            } else {
              // main advanced (or the base expired): publish must refuse and
              // change nothing; the branch then drops cleanly
              intercept[java.util.ConcurrentModificationException] {
                t.publishBranch("wapb")
              }
              sync("stale-publish-refused")
              t.dropBranch("wapb")
              branchOpen = false
              wapBranchKey = -1L // staged ids die with the branch: re-stageable
              sync("drop-branch")
            }
            if (branchOpen) {
              val staged = t.readBranch("wapb")
                .as[(Long, Int, String)].collect().sorted.toVector
              assert(staged === branchModel.sorted,
                s"branch content diverged from branch model (round $round)")
            }
          case 10 =>
            // streaming WAP staging with at-least-once replay (r13): batch
            // ids restart from 0 after a simulated checkpoint loss, and
            // stageBatch must append exactly the ids above the durable
            // fence (branch-scoped key on the head, carried through
            // publishes on main) and silently skip every other
            if (branchOpen) {
              if (rnd.nextInt(4) == 0) wapStreamNext = 0L // checkpoint lost
              val batchId = wapStreamNext
              wapStreamNext += 1
              val rows = (1 to 1 + rnd.nextInt(3)).map { _ =>
                nextId += 1; (nextId, rnd.nextInt(100), tags(rnd.nextInt(3)))
              }.toVector
              graft.streaming.StreamOps.stageBatch(t, "wapb")(
                rows.toDF("id", "qty", "tag"), batchId)
              val fresh = batchId > math.max(wapPublished, wapBranchKey)
              if (fresh) { branchModel ++= rows; wapBranchKey = batchId }
              sync(s"stage-batch($batchId,fresh=$fresh)") // main unchanged
              val staged = t.readBranch("wapb")
                .as[(Long, Int, String)].collect().sorted.toVector
              assert(staged === branchModel.sorted,
                s"staged content diverged after stage-batch (round $round)")
            }
          case 11 =>
            // incremental agg view follows the table through the random
            // history: refreshes apply clean ranges incrementally; a COW
            // commit in range must refuse LOUDLY (never silent wrong
            // aggregates), after which a full rebuild resumes following
            if (ivmDst.isEmpty) {
              ivmRebuild()
              ivmVerify("ivm-init")
            } else {
              val attempt = scala.util.Try(
                graft.streaming.TableFollow.followAgg(t, ivmDst.get,
                  Seq("tag"), "qty"))
              if (ivmCowInRange && !ivmExpireInRange)
                assert(attempt.isFailure,
                  s"COW commit in range must refuse the incremental refresh (round $round)")
              attempt match {
                case scala.util.Success(_) =>
                  ivmCowInRange = false; ivmExpireInRange = false
                case scala.util.Failure(_) => ivmRebuild()
              }
              ivmVerify("ivm-refresh")
            }
        }
      }
      // every retained snapshot still reads back its recorded state
      history.foreach { case (sid, rows) =>
        val actual = t.readVersionAsOf(sid).as[(Long, Int, String)].collect().sorted.toVector
        assert(actual === rows.sorted, s"snapshot $sid diverged from history (round $round)")
      }
      // the op mix must have produced genuinely delta-encoded commit docs
      // (asserted as a cross-round total: the per-round count is a function
      // of the seeded op draw, not of the behavior under test)
      totalDeltaDocs += nDeltaDocs
    }
    assert(totalDeltaDocs >= 8,
      s"expected delta-encoded docs across the op sequences, saw $totalDeltaDocs")
  }
}
