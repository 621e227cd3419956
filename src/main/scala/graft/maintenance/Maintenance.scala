package graft.maintenance

import org.apache.hadoop.fs.Path

import graft.table.{GraftTable, SnapshotLog}

/** Table maintenance procedures (SURVEY.md §2.10, M1-M4) — the analogs of
  * Iceberg's `rewrite_data_files`, `rewrite_manifests`, `expire_snapshots`,
  * and orphan-file removal (ref blob_dfs/blob-dfs_bench.py:140-155).
  *
  * Concurrency contract: every procedure is safe to run while COMMITS race
  * it (compaction aborts on a conflicting commit via basedOn validation;
  * consolidation is metadata-only and coverage-ordered — see
  * SnapshotLog.publishManifest; ConcurrentCommitSpec stresses both). Two
  * MAINTENANCE procedures racing each other, however, are the operator's
  * job to serialize — same as Iceberg's filesystem tables: e.g. a
  * rewriteManifests that loaded before a concurrent expireSnapshots
  * published can re-surface the expired snapshot METADATA whose data files
  * expiry already deleted. The failure is loud (time travel to such a
  * snapshot fails at scan; the latest snapshot and all live reads are
  * unaffected) and the next expiry re-trims, but a maintenance scheduler
  * should still run these one at a time per table.
  */
/** Thresholds for `Maintenance.maintainTable` — when each procedure is
  * worth its cost. Defaults suit steady incremental ingest.
  *
  * @param targetFileSizeBytes compaction target (also the small-file bound)
  * @param minInputFiles       per-partition small-file count that triggers
  *                            compaction
  * @param maxDeleteFiles      materialize merge-on-read deletes once this
  *                            many delete files have accumulated (bounds
  *                            the delete files reads reconcile)
  * @param maxSnapshotDocs     consolidate the log into a manifest once this
  *                            many per-snapshot docs exist
  * @param retainLast          snapshots to retain at expiry; 0 = never expire
  */
case class MaintenancePolicy(
    targetFileSizeBytes: Long = 512L * 1024 * 1024,
    minInputFiles: Int = 2,
    maxDeleteFiles: Int = 8,
    maxSnapshotDocs: Int = 16,
    retainLast: Int = 0)

/** What one `maintainTable` pass actually did. */
case class MaintenanceReport(
    materializedDeletes: Boolean,
    compacted: Boolean,
    manifestsConsolidated: Int,
    snapshotsExpired: Int,
    danglingDeletesDropped: Boolean = false)

object Maintenance {

  /** M1 — compaction: coalesce small files into ~`targetFileSizeBytes` files
    * (ref `rewrite_data_files(..., max-file-size-bytes)`,
    * blob-dfs_bench.py:140-143), PARTITION-LOCALLY: only partitions holding
    * at least `minInputFiles` sub-target files are rewritten (the
    * reference's `min-input-files` guard applied per partition, Iceberg's
    * binpack behavior); every other file is kept by reference. At 100 TB a
    * compaction after incremental ingest touches the handful of fresh
    * partitions, never the whole table.
    */
  def rewriteDataFiles(t: GraftTable, targetFileSizeBytes: Long = 512L * 1024 * 1024,
      minInputFiles: Int = 2,
      partitionFilter: Map[String, String] = Map.empty): Option[graft.table.Snapshot] = {
    // `targetFileSizeBytes` is treated as EXPLICIT (it both selects the
    // compactable files and sizes the output): a front end offering
    // Iceberg's "absent option → table property → default" resolution does
    // it before calling (the SQL CALL route does).

    val planned = t.latest
    // `partitionFilter` is Iceberg's `rewrite_data_files(where => ...)`
    // scoped to partition-equality predicates — the 100 TB operating mode:
    // a scheduled compactor works one partition (one day, one bucket) per
    // run instead of re-planning the whole table. Files outside the scope
    // are untouched by construction (they stay in `keep`).
    require(partitionFilter.keySet.subsetOf(planned.partitionCols.toSet),
      s"rewrite_data_files where-filter on non-partition column(s) " +
        s"${partitionFilter.keySet -- planned.partitionCols}: only " +
        "partition-equality predicates select a compaction scope")
    val byPartition = planned.files.groupBy(_.partitionValues)
    val (compactable, untouched) = byPartition.partition { case (pv, fs) =>
      partitionFilter.forall { case (k, v) => pv.get(k).contains(v) } &&
        fs.count(_.sizeBytes < targetFileSizeBytes) >= minInputFiles
    }
    if (compactable.isEmpty) return None
    val toRewrite = compactable.values.flatten.toSeq
    val keep = untouched.values.flatten.toSeq
    val df = t.readFiles(toRewrite, planned)
    // basedOn-validated: a concurrent append between plan and commit aborts
    // the compaction instead of being silently dropped by an overwrite
    if (planned.partitionCols.nonEmpty) {
      // A partitioned write already pays ONE shuffle inside writeDataFiles
      // (the AQE rebalance by partition columns); a pre-repartition here
      // would be a SECOND full shuffle of the same rows — at 100 TB the
      // dominant cost of the whole procedure. The requested file size rides
      // the rebalance's advisory split/coalesce target, passed as an
      // explicit override so the PROCEDURE argument wins over any
      // write.target-file-size-bytes table property (Iceberg's precedence),
      // with the same shuffle-to-parquet compensation as the write path.
      val factor = t.properties.get(graft.table.GraftTable.ShuffleCompressionFactorProp)
        .flatMap(x => scala.util.Try(x.toDouble).toOption).getOrElse(2.0)
      Some(t.commitRewrite(df, keep, "rewrite-data-files", basedOn = Some(planned),
        advisoryBytesOverride = Some(math.max(1L, (targetFileSizeBytes * factor).toLong))))
    } else {
      // unpartitioned: writeDataFiles adds no distribution of its own, so
      // the explicit repartition IS the single sizing shuffle
      val totalBytes = toRewrite.map(_.sizeBytes).sum
      val targetFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileSizeBytes).toInt)
      Some(t.commitRewrite(df.repartition(targetFiles), keep,
        "rewrite-data-files", basedOn = Some(planned)))
    }
  }

  /** Z-order clustering rewrite (the Delta `OPTIMIZE ZORDER BY` / Iceberg
    * `rewrite_data_files(strategy => 'sort', sort_order => 'zorder(...)')`
    * analog): rewrite the table clustered on the interleaved bit order of
    * `cols`' QUANTILE-BUCKET ids, so file-level min/max bounds become narrow
    * on EVERY listed column at once and `planBetween`/`readBetween` skip
    * files for predicates on any of them — a linear sort only ever serves
    * its leading column.
    *
    * Scale shape: one `approxQuantile` pass computes 256 bucket boundaries
    * per column (sampled driver-side, O(cols × 256) memory — never data);
    * bucket ids are a codegen'd fold over the broadcast-literal boundary
    * array; the z-value drives ONE `repartitionByRange` + partition-local
    * sort. No global single-partition window anywhere (rank-via-window
    * z-ordering pulls the table through one task — the classic scale trap).
    * Rank-by-quantile also makes the interleave skew-robust: each bucket
    * holds ~1/256 of ROWS, not 1/256 of the value range.
    *
    * Columns must be numeric/date/timestamp (ordered in their physical
    * domain). Rewrites the WHOLE table (like a full OPTIMIZE); live
    * merge-on-read deletes are materialized by the rewrite.
    */
  /** Linear sort-clustering rewrite — Iceberg's
    * `rewrite_data_files(strategy => 'sort', sort_order => 'c1, c2')`:
    * rewrite the table range-partitioned and sorted on `cols`, so file-level
    * min/max bounds become narrow on the LEADING column (lexicographically
    * on the rest) and stats pruning skips files for its predicates; when
    * several INDEPENDENT predicate columns must all prune, use
    * [[zorderRewrite]]. One `repartitionByRange` (sampled boundaries) plus a
    * partition-local sort — no global single-task stage. Unpartitioned
    * tables only (a hive-partitioned write re-clusters rows by partition
    * value and would undo the range layout; partitioned tables get sticky
    * per-partition ordering via `write.sort-order` instead).
    */
  def sortRewrite(t: GraftTable, cols: Seq[String],
      targetFileSizeBytes: Long = 512L * 1024 * 1024): Option[graft.table.Snapshot] = {
    import org.apache.spark.sql.functions.col
    require(cols.nonEmpty, "sort rewrite needs at least one column")
    val planned = t.latest
    if (planned.files.isEmpty) return None
    require(planned.partitionCols.isEmpty,
      s"sort rewrite requires an unpartitioned table; ${t.tableDir} is " +
        s"partitioned by ${planned.partitionCols.mkString(", ")} — set " +
        "write.sort-order for sticky per-partition ordering instead")
    val schema = t.schema
    cols.foreach(c => require(schema.fieldNames.contains(c),
      s"no column $c in ${t.tableDir}"))
    val totalBytes = planned.files.map(_.sizeBytes).sum
    val targetFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileSizeBytes).toInt)
    val out = t.readSnapshot(planned)
      .repartitionByRange(targetFiles, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
    Some(t.commitRewrite(out, Nil, "sort-rewrite",
      basedOn = Some(planned), clearDeletes = true))
  }

  def zorderRewrite(t: GraftTable, cols: Seq[String],
      targetFileSizeBytes: Long = 512L * 1024 * 1024): Option[graft.table.Snapshot] = {
    import org.apache.spark.sql.functions._
    require(cols.size >= 2 && cols.size <= 8,
      s"z-order needs 2..8 columns (8 bits each in a 64-bit z-value), got $cols")
    val planned = t.latest
    if (planned.files.isEmpty) return None
    // a hive-partitioned write re-clusters rows by partition column and
    // would undo the z-range layout; z-order the partition columns into the
    // sort instead of partitioning, or evolve to unpartitioned first
    require(planned.partitionCols.isEmpty,
      s"z-order rewrite requires an unpartitioned table; ${t.tableDir} is " +
        s"partitioned by ${planned.partitionCols.mkString(", ")}")
    val schema = t.schema
    cols.foreach { c =>
      val f = schema.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"no column $c in ${t.tableDir}"))
      require(zorderable(f.dataType), s"column $c: ${f.dataType.simpleString} is not " +
        "z-orderable (numeric/date/timestamp only)")
    }
    val totalBytes = planned.files.map(_.sizeBytes).sum
    val targetFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileSizeBytes).toInt)
    val out = zordered(t, planned, cols, targetFiles)
    Some(t.commitRewrite(out, Nil, "zorder-rewrite",
      basedOn = Some(planned), clearDeletes = true))
  }

  /** The z-clustered DataFrame `zorderRewrite` writes (exposed separately so
    * specs can audit the physical plan without committing).
    */
  private[graft] def zorderPlanForAudit(t: GraftTable, cols: Seq[String]): org.apache.spark.sql.DataFrame =
    zordered(t, t.latest, cols, 16)

  private def zordered(t: GraftTable, planned: graft.table.Snapshot,
      cols: Seq[String], targetFiles: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val df = t.readSnapshot(planned)
    val asDouble = cols.map(c => s"_zq_$c" -> col(c).cast("double"))
    val withD = asDouble.foldLeft(df) { case (d, (n, e)) => d.withColumn(n, e) }
    // 255 interior cut points per column ≈ 256 equal-ROW-count buckets;
    // relativeError 0.01 keeps the sample pass cheap and the buckets honest
    val probs = (1 until Buckets).map(_.toDouble / Buckets).toArray
    val cuts = withD.stat.approxQuantile(asDouble.map(_._1).toArray, probs, 0.01)
    val zCol = morton(cols.zip(cuts).map { case (c, bounds) =>
      bucketOf(col(c).cast("double"), bounds)
    })
    withD.withColumn("_z", zCol)
      .repartitionByRange(targetFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop(asDouble.map(_._1) :+ "_z": _*)
  }

  private val Buckets = 256 // 8 bits per dimension

  /** Bucket id of `v` against sorted cut points: the number of cuts ≤ v via
    * the native `zorder_bucket` binary search (graft.functions.ZorderBucket
    * — the `aggregate`-HOF fold it replaces ran an interpreted lambda per
    * cut per row per dimension, ~10 s of task time on a 100k-row rewrite).
    * Nulls land in bucket 0 (sorted first, harmless for clustering).
    */
  private def bucketOf(v: org.apache.spark.sql.Column,
      bounds: Array[Double]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    coalesce(call_function("zorder_bucket", v, lit(bounds)), lit(0))
  }

  /** Morton (z-curve) interleave of the per-dimension bucket ids: bit i of
    * dimension d lands at position i*D + d, so the curve alternates bits
    * across dimensions and nearby z-values are nearby in every dimension.
    */
  private def morton(buckets: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val d = buckets.size
    val bits = (0 until 8).flatMap { i =>
      buckets.zipWithIndex.map { case (b, dim) =>
        shiftleft(shiftright(b, i).bitwiseAND(lit(1)).cast("long"), i * d + dim)
      }
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** Materialize merge-on-read equality deletes back into data files (the
    * Iceberg `rewrite_data_files` + `rewrite_position_delete_files` pair in
    * one procedure): rewrite exactly the data files some delete can touch
    * (the per-file rule, `SnapshotPlanner.applies`) reading them WITH
    * deletes applied, keep every other file by reference, and drop the
    * delete entries — no kept file has an applicable delete by
    * construction. Physical delete files stay on disk for older snapshots
    * (time travel) until expiry/orphan removal.
    *
    * At 100 TB this bounds the delete files reads must reconcile: run it
    * when the accumulated delete count starts to tax scans, same cadence as
    * compaction. Returns None when the table carries no deletes.
    */
  def materializeDeletes(t: GraftTable): Option[graft.table.Snapshot] = {
    val planned = t.latest
    if (planned.deletes.isEmpty) return None
    val (affected, keep) = planned.files.partition(t.planner(planned).marked)
    if (affected.isEmpty) {
      // nothing the deletes can touch: commit a metadata-only drop
      return Some(t.commitRewrite(
        t.readFiles(Nil, planned), keep, "materialize-deletes",
        basedOn = Some(planned), clearDeletes = true))
    }
    val df = t.readFiles(affected, planned) // merge-on-read: deletes applied
    Some(t.commitRewrite(df, keep, "materialize-deletes",
      basedOn = Some(planned), clearDeletes = true))
  }

  private def zorderable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
           DateType | TimestampType => true
      case _: DecimalType => true
      case _ => false
    }
  }

  /** M2 — manifest rewrite: consolidate the snapshot log
    * (ref `rewrite_manifests`, blob-dfs_bench.py:146-149).
    */
  def rewriteManifests(t: GraftTable): Int =
    SnapshotLog.rewriteManifests(t.spark.sessionState.newHadoopConf(), t.tableDir)

  /** M3 — snapshot expiry, retain-last-N (ref `expire_snapshots(retain_last=2)`,
    * blob-dfs_bench.py:152-155). Publishes the trimmed log FIRST, then deletes
    * data files referenced only by expired snapshots.
    */
  def expireSnapshots(t: GraftTable, retainLast: Int = 2): Int =
    expireSnapshots(t, retainLast, None)

  /** Ref-aware snapshot expiry. `olderThanMillis` adds Iceberg's primary
    * expiry form (`expire_snapshots(older_than => ts)`): only snapshots
    * committed strictly before the bound expire, AND the newest
    * `retainLast` survive regardless of age (Iceberg applies both bounds
    * together — retain_last is a floor, never overridden by older_than).
    * The head snapshot therefore always survives. Tagged snapshots survive
    * until their tag drops.
    */
  def expireSnapshots(t: GraftTable, retainLast: Int, olderThanMillis: Option[Long]): Int = {
    val conf = t.spark.sessionState.newHadoopConf()
    val snaps = SnapshotLog.load(conf, t.tableDir)
    // ref aging first (Iceberg's expire_snapshots order), and BEFORE the
    // retain-last short-circuit: Iceberg removes aged-out refs
    // unconditionally, so a RETAIN-expired tag on a two-snapshot table
    // must still drop even when no snapshot can expire this pass
    t.dropExpiredTags(t.clock())
    if (snaps.size <= retainLast) return 0
    // tags pin snapshots past retain-last (the Iceberg ref-aware expiry):
    // a tagged snapshot and its files survive until the tag is dropped
    val pinned = t.tags.values.toSet
    val youngEnough = olderThanMillis.map(bound =>
      snaps.filter(_.committedAt >= bound).map(_.snapshotId).toSet)
      .getOrElse(Set.empty)
    val keepIds = snaps.takeRight(retainLast).map(_.snapshotId).toSet ++ pinned ++
      youngEnough
    val (retained, expired) = snaps.partition(s => keepIds(s.snapshotId))
    if (expired.isEmpty) return 0
    if (!SnapshotLog.replaceAll(conf, t.tableDir, retained)) return 0
    // branch-staged files are invisible to the main log but must survive
    val live = retained.flatMap(s => s.files.map(_.path) ++ s.deletes.map(_.path)).toSet ++
      t.branchReferencedPaths
    val fs = SnapshotLog.fs(conf, t.tableDir)
    val dataRoot = SnapshotLog.dataPath(t.tableDir)
    val dead = expired.flatMap(s =>
      s.files.map(_.path) ++ s.deletes.map(_.path)).toSet -- live
    // parallel deletes: expiring thousands of dead files must not serialize
    // driver-side round-trips (same rationale as the commit-path publishes)
    import scala.collection.parallel.CollectionConverters._
    val par = dead.toSeq.par
    par.tasksupport = new scala.collection.parallel.ForkJoinTaskSupport(
      new java.util.concurrent.ForkJoinPool(16))
    try par.foreach(p => fs.delete(new Path(dataRoot, p), false))
    finally par.tasksupport.asInstanceOf[scala.collection.parallel.ForkJoinTaskSupport]
      .forkJoinPool.shutdown()
    expired.size
  }

  /** One policy-driven maintenance pass (the scheduled "table service" an
    * operator runs per table, analog of Iceberg's maintenance actions
    * chained): materialize merge-on-read deletes once they stack past the
    * policy bound, then binpack-compact, then consolidate the snapshot log,
    * then expire — in that order, because materialization before compaction
    * avoids rewriting the same partitions twice, consolidation wants the
    * post-compaction log, and expiry wants everything else settled. Each
    * step is individually skippable by its threshold, so an idle table is a
    * cheap metadata-only no-op pass. Single-runner contract per table (see
    * the class doc on racing maintenance procedures).
    */
  def maintainTable(t: GraftTable,
      policy: MaintenancePolicy = MaintenancePolicy()): MaintenanceReport = {
    val materialized =
      if (t.latest.deletes.size > policy.maxDeleteFiles)
        materializeDeletes(t).isDefined
      else false
    val compacted = rewriteDataFiles(t, policy.targetFileSizeBytes,
      policy.minInputFiles).isDefined
    // compaction rewrites affected files with new writtenAt ids, stranding
    // their deletes — drop the now-dangling entries (pure metadata, no IO;
    // full consolidation stays an explicit rewriteDeleteFiles/CALL decision)
    val danglingDropped =
      t.latest.deletes.nonEmpty && t.rewriteDeleteFiles(consolidate = false).isDefined
    val conf = t.spark.sessionState.newHadoopConf()
    val logDir = SnapshotLog.logPath(t.tableDir)
    val fs = SnapshotLog.fs(conf, t.tableDir)
    val nDocs =
      if (!fs.exists(logDir)) 0
      else fs.listStatus(logDir).count(_.getPath.getName.matches("v\\d+\\.json"))
    val consolidated =
      if (nDocs > policy.maxSnapshotDocs) rewriteManifests(t) else 0
    val expired =
      if (policy.retainLast > 0) expireSnapshots(t, policy.retainLast) else 0
    MaintenanceReport(materialized, compacted, consolidated, expired, danglingDropped)
  }

  /** M4 — orphan-file removal (spec ICEBERG-Interoperability-Test-Spec.md:85,104):
    * delete files under data/ that no live snapshot references. Returns the
    * orphans removed.
    */
  /** Default orphan grace window (Iceberg's remove_orphan_files default):
    * an unreferenced file younger than this is treated as a possible
    * IN-FLIGHT write, not an orphan — write tasks write every data and
    * delete file at its final name in the shared data/ layout BEFORE the
    * snapshot doc commits, so a graceless sweep racing a writer would
    * delete files the imminent commit references (silent table corruption,
    * not a spurious failure).
    */
  val DefaultOrphanGraceMillis: Long = 3L * 24 * 60 * 60 * 1000

  def removeOrphanFiles(t: GraftTable): Seq[String] =
    removeOrphanFiles(t, System.currentTimeMillis() - DefaultOrphanGraceMillis)

  /** Remove unreferenced files whose modification time is strictly before
    * `olderThanMillis`. Callers that KNOW no write is in flight (tests,
    * post-drop cleanup of a single table) may pass `Long.MaxValue`; a
    * scheduled janitor keeps the default grace.
    */
  def removeOrphanFiles(t: GraftTable, olderThanMillis: Long): Seq[String] = {
    val conf = t.spark.sessionState.newHadoopConf()
    val fs = SnapshotLog.fs(conf, t.tableDir)
    val dataRoot = SnapshotLog.dataPath(t.tableDir)
    if (!fs.exists(dataRoot)) return Nil
    val live = SnapshotLog.load(conf, t.tableDir)
      .flatMap(s => s.files.map(_.path) ++ s.deletes.map(_.path)).toSet ++
      t.branchReferencedPaths
    val it = fs.listFiles(dataRoot, true)
    val rootStr = fs.makeQualified(dataRoot).toString
    val orphans = scala.collection.mutable.ArrayBuffer[String]()
    while (it.hasNext) {
      val s = it.next()
      if (s.isFile && s.getModificationTime < olderThanMillis) {
        val rel = fs.makeQualified(s.getPath).toString.stripPrefix(rootStr).stripPrefix("/")
        // _SUCCESS markers and other non-data artifacts count as orphans too,
        // but only parquet files threaten correctness; remove both.
        if (!live.contains(rel)) { orphans += rel; fs.delete(s.getPath, false) }
      }
    }
    orphans.toSeq
  }
}
