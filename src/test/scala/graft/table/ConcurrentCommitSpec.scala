package graft.table

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Concurrent-writer stress on the optimistic commit loop (VERDICT r5 next #5):
  * the single-threaded model check (TableModelCheckSpec) can't exercise real
  * interleavings — here 8 threads race appends (plus an evolution race in the
  * second test) and the table must come out with every committed row present,
  * a strictly linear snapshot lineage, and every referenced file on disk.
  */
class ConcurrentCommitSpec extends SparkSpec {

  private def assertLinearLineage(t: GraftTable): Unit = {
    val snaps = t.snapshotsList
    val ids = snaps.map(_.snapshotId)
    assert(ids === (1L to ids.size.toLong), "snapshot ids must be contiguous")
    snaps.sliding(2).foreach {
      case Seq(a, b) => assert(b.parentId.contains(a.snapshotId),
        s"snapshot ${b.snapshotId} must chain to ${a.snapshotId}")
      case _ =>
    }
  }

  private def assertFilesOnDisk(t: GraftTable): Unit = {
    val root = SnapshotLog.dataPath(t.tableDir).toString
    t.latest.files.foreach(f =>
      assert(new java.io.File(s"$root/${f.path}").isFile, s"missing data file ${f.path}"))
  }

  test("8 racing append threads lose no files and keep lineage linear") {
    import spark.implicits._
    val dir = scratchDir("concurrent-append")
    val schema = Seq((1L, 1L)).toDF("k", "v").schema
    GraftTable.create(spark, dir, schema)
    val nThreads = 8
    val perThread = 3
    val rowsPer = 10
    val pool = Executors.newFixedThreadPool(nThreads)
    val start = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (0 until nThreads).foreach { th =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try (0 until perThread).foreach { i =>
            val base = (th * perThread + i) * rowsPer
            val df = (0 until rowsPer).map(j => ((base + j).toLong, th.toLong)).toDF("k", "v")
            new GraftTable(spark, dir).append(df)
          } catch { case e: Throwable => failures.add(e) }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(300, TimeUnit.SECONDS), "writers timed out")
    assert(failures.isEmpty, s"writer failed: ${Option(failures.peek()).map(_.toString)}")
    val t = GraftTable.load(spark, dir)
    val total = (nThreads * perThread * rowsPer).toLong
    assert(t.readLatest().count() === total)
    assert(t.readLatest().select("k").distinct().count() === total, "a commit's rows were lost")
    assert(t.snapshotsList.size === nThreads * perThread + 1)
    assertLinearLineage(t)
    assertFilesOnDisk(t)
    // total_rows over the lineage is monotone — no snapshot dropped a winner's files
    val rowCounts = t.snapshotsList.map(_.files.map(_.rowCount).sum)
    assert(rowCounts === rowCounts.sorted)
  }

  test("threads racing the same staged batch id stage it exactly once") {
    import spark.implicits._
    val dir = scratchDir("concurrent-stage")
    val t = GraftTable.create(spark, dir, Seq((1L, 1L)).toDF("k", "v").schema)
    t.createBranch("s")
    val nThreads = 6
    val pool = Executors.newFixedThreadPool(nThreads)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // every batch id is offered by EVERY thread simultaneously: the
    // appendToBranch precondition runs inside the CAS loop, so per id
    // exactly one stage may land regardless of interleaving
    (0 until 4).foreach { batchId =>
      val start = new CountDownLatch(1)
      val staged = new AtomicLong(0)
      (0 until nThreads).foreach { th =>
        pool.submit(new Runnable {
          def run(): Unit = {
            start.await()
            try {
              val df = (0 until 5).map(j => ((batchId * 5 + j).toLong, th.toLong))
                .toDF("k", "v")
              graft.streaming.StreamOps.stageBatch(
                new GraftTable(spark, dir), "s")(df, batchId.toLong)
            } catch { case e: Throwable => failures.add(e) }
          }
        })
      }
      start.countDown()
      // batches run one id at a time (a stream's ids are ordered); threads
      // within an id race freely
      while (staged.get() == 0 && pool.asInstanceOf[java.util.concurrent.ThreadPoolExecutor]
          .getActiveCount > 0) Thread.sleep(5)
      while (pool.asInstanceOf[java.util.concurrent.ThreadPoolExecutor]
          .getActiveCount > 0) Thread.sleep(5)
    }
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(failures.isEmpty, s"stager failed: ${Option(failures.peek()).map(_.toString)}")
    val t2 = GraftTable.load(spark, dir)
    assert(t2.branchSummary("s")("staged-appends").toLong === 4L,
      "each batch id must stage exactly once across 6 racing threads")
    assert(t2.readBranch("s").count() === 20L)
    assert(t2.readBranch("s").select("k").distinct().count() === 20L,
      "a duplicate stage slipped past the precondition")
  }

  test("racing property setters lose no update (optimistic versioned publish)") {
    import spark.implicits._
    val dir = scratchDir("concurrent-props")
    val t = GraftTable.create(spark, dir, Seq((1L, 1L)).toDF("k", "v").schema)
    val nThreads = 4
    val perThread = 5
    val pool = Executors.newFixedThreadPool(nThreads)
    val start = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (0 until nThreads).foreach { th =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try (0 until perThread).foreach { i =>
            new GraftTable(spark, dir).setProperties(Map(s"key-$th-$i" -> Some(s"v$th$i")))
          } catch { case e: Throwable => failures.add(e) }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "setters timed out")
    assert(failures.isEmpty, s"setter failed: ${Option(failures.peek()).map(_.toString)}")
    val props = t.properties
    (0 until nThreads).foreach { th =>
      (0 until perThread).foreach { i =>
        assert(props.get(s"key-$th-$i").contains(s"v$th$i"),
          s"lost concurrent property update key-$th-$i")
      }
    }
  }

  test("MOR keyed deletes racing appenders serialize by commit order") {
    import spark.implicits._
    val dir = scratchDir("concurrent-mor")
    val schema = Seq((1L, 1L)).toDF("k", "v").schema
    val t0 = GraftTable.create(spark, dir, schema)
    // seed keys 0..49 so deleters always have targets
    t0.append((0 until 50).map(i => (i.toLong, 0L)).toDF("k", "v"))
    val pool = Executors.newFixedThreadPool(6)
    val start = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // 4 appender threads add fresh key ranges; 2 deleter threads MOR-delete
    // seeded keys — deletes never target appended keys, so the final state
    // is order-independent: (seed minus deleted) plus all appends
    (0 until 4).foreach { th =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try (0 until 2).foreach { i =>
            val base = 1000 + (th * 2 + i) * 10
            new GraftTable(spark, dir).append(
              (0 until 10).map(j => ((base + j).toLong, th.toLong)).toDF("k", "v"))
          } catch { case e: Throwable => failures.add(e) }
        }
      })
    }
    (0 until 2).foreach { th =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try {
            val keys = (th * 10 until th * 10 + 10).map(_.toLong)
            graft.dml.Dml.deleteMorKeys(new GraftTable(spark, dir), keys.toDF("k"))
          } catch { case e: Throwable => failures.add(e) }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(300, TimeUnit.SECONDS), "writers timed out")
    assert(failures.isEmpty, s"writer failed: ${Option(failures.peek()).map(_.toString)}")
    val t = GraftTable.load(spark, dir)
    // 50 seeded − 20 deleted + 80 appended
    assert(t.readLatest().count() === 110L)
    assert(t.readLatest().filter(col("k") < 20).count() === 0L)
    assert(t.readLatest().filter(col("k") >= 20 && col("k") < 50).count() === 30L)
    assertLinearLineage(t)
    assertFilesOnDisk(t)
    val delPaths = t.latest.deletes.map(_.path)
    assert(delPaths.size === 2)
    val root = SnapshotLog.dataPath(t.tableDir).toString
    delPaths.foreach(p => assert(new java.io.File(s"$root/$p").isFile))
  }

  test("a STALE manifest publisher cannot hide newer commits (coverage beats seq)") {
    import spark.implicits._
    val dir = scratchDir("stale-manifest")
    val schema = Seq((1L, 1L)).toDF("k", "v").schema
    val t = GraftTable.create(spark, dir, schema)
    (0 until 5).foreach(i => t.append(Seq((i.toLong, 0L)).toDF("k", "v")))
    val conf = spark.sessionState.newHadoopConf()
    // a consolidator loads its snapshot list here (covers <= 6: create + 5)...
    val staleView = SnapshotLog.load(conf, dir)
    // ...then two more commits land and a FRESH consolidator runs: it
    // publishes coverage 8 and deletes the per-snapshot docs it subsumes
    (5 until 7).foreach(i => t.append(Seq((i.toLong, 0L)).toDF("k", "v")))
    assert(SnapshotLog.rewriteManifests(conf, dir) === 8)
    // the stale consolidator finally publishes its OLD list; under seq-only
    // naming it would claim the highest sequence, win every subsequent load,
    // and delete the fresh manifest — silently dropping commits 7 and 8
    assert(SnapshotLog.publishManifest(
      SnapshotLog.fs(conf, dir), SnapshotLog.logPath(dir), staleView))
    val after = SnapshotLog.load(conf, dir)
    assert(after.map(_.snapshotId) === (1L to 8L), "stale manifest must lose at load")
    assert(t.readLatest().count() === 7, "no rows lost to the stale publisher")
    assertFilesOnDisk(t)
  }

  test("a commit claiming the newest id a manifest consolidated is refused, not hidden") {
    import spark.implicits._
    val dir = scratchDir("manifest-tombstone")
    val t = GraftTable.create(spark, dir, Seq((1L, 1L)).toDF("k", "v").schema)
    (0 until 3).foreach(i => t.append(Seq((i.toLong, 0L)).toDF("k", "v")))
    val conf = spark.sessionState.newHadoopConf()
    val snaps = SnapshotLog.load(conf, dir)
    val (stale, newest) = (snaps(snaps.size - 2), snaps.last)
    assert(SnapshotLog.rewriteManifests(conf, dir) === snaps.size) // covers 1..N
    // a committer whose view ended one commit before the coverage claims N
    val extra = newest.files.head.copy(path = "never-written.parquet")
    val racing = newest.copy(committedAt = newest.committedAt + 1,
      files = stale.files :+ extra)
    assert(!SnapshotLog.commit(conf, dir, racing, Some(stale)),
      "the claim must fail so the committer retries against a fresh load")
    assert(SnapshotLog.load(conf, dir).map(_.snapshotId) === snaps.map(_.snapshotId))
    assert(t.readLatest().count() === 3)
  }

  test("appends racing rewriteManifests consolidators lose nothing") {
    import spark.implicits._
    val dir = scratchDir("concurrent-manifest")
    val schema = Seq((1L, 1L)).toDF("k", "v").schema
    GraftTable.create(spark, dir, schema)
    val nWriters = 4
    val perThread = 3
    val pool = Executors.newFixedThreadPool(nWriters + 2)
    val start = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    (0 until nWriters).foreach { th =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try (0 until perThread).foreach { i =>
            new GraftTable(spark, dir).append(
              Seq(((th * perThread + i).toLong, th.toLong)).toDF("k", "v"))
          } catch { case e: Throwable => failures.add(e) }
        }
      })
    }
    (0 until 2).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try while (!stop.get()) {
            graft.maintenance.Maintenance.rewriteManifests(new GraftTable(spark, dir))
            Thread.sleep(3)
          } catch { case e: Throwable => failures.add(e) }
        }
      })
    }
    start.countDown()
    Thread.sleep(4000)
    stop.set(true)
    pool.shutdown()
    assert(pool.awaitTermination(300, TimeUnit.SECONDS), "threads timed out")
    assert(failures.isEmpty, s"failed: ${Option(failures.peek()).map(_.toString)}")
    val t = GraftTable.load(spark, dir)
    assert(t.readLatest().count() === (nWriters * perThread).toLong)
    assert(t.snapshotsList.size === nWriters * perThread + 1)
    assertLinearLineage(t)
    assertFilesOnDisk(t)
  }

  test("appends racing a concurrent schema evolution abort-and-retry, never mis-register") {
    import spark.implicits._
    val dir = scratchDir("concurrent-evolve")
    val schema = Seq((1L, 1L)).toDF("k", "v").schema
    GraftTable.create(spark, dir, schema)
    val nWriters = 7
    val perThread = 2
    val rowsPer = 10
    val pool = Executors.newFixedThreadPool(nWriters + 1)
    val start = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appendedRows = new AtomicLong(0)
    // build the append frame against the table's CURRENT schema; on the
    // evolution race (shape require / ConcurrentModificationException) the
    // writer rebuilds and retries — the documented caller contract
    def appendAdapting(base: Int, v: Long): Unit = {
      var done = false
      var tries = 0
      while (!done) {
        val cur = new GraftTable(spark, dir)
        var df: DataFrame = (0 until rowsPer).map(j => ((base + j).toLong, v)).toDF("k", "v")
        if (cur.schema.fieldNames.contains("extra"))
          df = df.withColumn("extra", lit("w"))
        try { cur.append(df); done = true }
        catch {
          case _: java.util.ConcurrentModificationException | _: IllegalArgumentException =>
            tries += 1
            if (tries > 10) throw new IllegalStateException("append gave up after 10 evolution races")
        }
      }
      appendedRows.addAndGet(rowsPer.toLong)
    }
    (0 until nWriters).foreach { th =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try (0 until perThread).foreach(i => appendAdapting((th * perThread + i) * rowsPer, th.toLong))
          catch { case e: Throwable => failures.add(e) }
        }
      })
    }
    pool.submit(new Runnable {
      def run(): Unit = {
        start.await()
        try { Thread.sleep(50); GraftTable.load(spark, dir).addColumn("extra", "string", "d") }
        catch { case e: Throwable => failures.add(e) }
      }
    })
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(300, TimeUnit.SECONDS), "writers timed out")
    assert(failures.isEmpty, s"writer failed: ${Option(failures.peek()).map(_.toString)}")
    val t = GraftTable.load(spark, dir)
    assert(t.schema.fieldNames.contains("extra"))
    val out = t.readLatest()
    assert(out.count() === appendedRows.get())
    // every row reads a concrete `extra`: pre-evolution files replay the
    // default, post-evolution files carry the written literal — all-NULL
    // would mean a file got registered under the wrong schema
    assert(out.filter(col("extra").isNull).count() === 0)
    assertLinearLineage(t)
    assertFilesOnDisk(t)
  }
}
