package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import java.nio.charset.StandardCharsets

/** One data file tracked by a snapshot.
  *
  * @param path            path relative to the table's `data/` root
  * @param partitionValues hive-style partition values parsed from the path
  *                        (string-encoded; cast to the partition schema on use)
  * @param rowCount        rows in the file (-1 unknown)
  * @param sizeBytes       file length
  * @param writtenAt       snapshot id whose commit wrote the file — the file's
  *                        physical schema is that snapshot's schema (drives
  *                        schema-evolution reads)
  * @param stats           per-column `[min, max]` bounds over the file's
  *                        non-null values, string-rendered, harvested from the
  *                        parquet footer at commit time (the Iceberg
  *                        manifest-bounds analog: `lower_bounds`/`upper_bounds`
  *                        per data file). Keys are WRITE-TIME physical column
  *                        names; only integral / floating / string columns are
  *                        tracked. Absent key = unknown = never pruned.
  */
case class FileEntry(
    path: String,
    partitionValues: Map[String, String],
    rowCount: Long,
    sizeBytes: Long,
    writtenAt: Long = 0L,
    stats: Map[String, List[String]] = Map.empty)

/** One equality-delete file tracked by a snapshot (the Iceberg v2
  * equality-delete-file analog: a parquet file of key tuples; a data row is
  * live iff no delete committed AFTER its file was written matches its key).
  *
  * @param path      path relative to the table's `data/` root (under
  *                  `_deletes/` — the underscore keeps the data scan's
  *                  partition discovery blind to it)
  * @param keyCols   equality columns AT DELETE TIME (delete-time physical
  *                  names; reads map them forward through later renames)
  * @param rowCount  key tuples in the file
  * @param sizeBytes file length
  * @param appliedAt snapshot id of the delete commit — the delete applies
  *                  exactly to data files with `writtenAt < appliedAt`, so
  *                  rows appended in the same commit (upsert) or later
  *                  (re-insert) are never affected
  * @param perRowAppliedAt a consolidated file (`rewriteDeleteFiles`) carries
  *                  each tuple's own applicability bound in a
  *                  `_gf_applied_at` column; `appliedAt` is then the MAX over
  *                  rows — still the correct ceiling for affected-file
  *                  partitioning and evolution-name resolution (the entry's
  *                  keyCols are the names at that epoch)
  * @param stats     footer bounds of the file, in `FileEntry.stats`' format
  *                  and under the file's own column names: each key column
  *                  (`[min, max, nullCount]`, stored in the column's type at
  *                  the write), a consolidated file's `_gf_applied_at`, a
  *                  vector's `_gf_file` and `_gf_pos`. They feed the
  *                  per-file applicability rule (`SnapshotPlanner.applies`).
  *                  Absent (docs written before the field) = applies to
  *                  every file the commit bound allows.
  */
case class DeleteEntry(
    path: String,
    keyCols: List[String],
    rowCount: Long,
    sizeBytes: Long,
    appliedAt: Long,
    perRowAppliedAt: Boolean = false,
    positional: Boolean = false,
    stats: Map[String, List[String]] = Map.empty)

/** One schema-evolution commit's ops, carried forward in every descendant
  * snapshot so evolution replay never needs another snapshot doc.
  */
case class EvolutionStep(snapshotId: Long, ops: List[String])

/** One committed table version — the analog of an Iceberg snapshot + manifest
  * list (reference surface: `SELECT snapshot_id, committed_at FROM t.snapshots`,
  * `iceberg-tests/sql/spark/open_catalog/bulk_insert_sales_events.sql:14-17`).
  *
  * The full data-file list is embedded per snapshot. Commits are therefore
  * metadata-only for untouched files: an append stores references to the
  * parent's files plus the new ones, never rewriting data.
  *
  * Each snapshot doc is SELF-CONTAINED for reads (the Iceberg schemas-list
  * design): `schemas` maps every distinct `writtenAt` id among `files` to that
  * write-time physical schema, and `chain` carries every evolution commit's
  * ops. `expireSnapshots` can therefore drop any older doc without breaking
  * schema resolution for files the retained snapshots still reference.
  *
  * 100 TB note: the in-memory list is complete per snapshot, but the
  * PERSISTED doc is not — `SnapDoc` delta-encodes every commit with a known
  * parent as (added entries, removed paths, parent pointer), so commit
  * metadata I/O is O(changed files), with `rewriteManifests` consolidating
  * deltas into one full listing (the Iceberg delta-manifest design;
  * GraftTableSpec + TableModelCheckSpec assert docs stay delta-sized across
  * append/DML/expire). `schemas`/`chain` stay small: one entry per live
  * write-time schema / evolution commit, never per file.
  *
  * @param evolution schema-evolution ops applied BY this commit, in order,
  *                  JSON-encoded (see GraftTable.addColumnOp); empty for data
  *                  commits. Reading a file written at snapshot s replays all
  *                  chain ops in (s, target].
  * @param schemas   writtenAt snapshot id (stringified for JSON) → physical
  *                  schemaJson, covering every distinct writtenAt in `files`
  * @param chain     all evolution commits at or before this snapshot, ascending
  */
case class Snapshot(
    snapshotId: Long,
    parentId: Option[Long],
    committedAt: Long,
    operation: String,
    schemaJson: String,
    partitionCols: List[String],
    files: List[FileEntry],
    summary: Map[String, String],
    evolution: List[String] = Nil,
    schemas: Map[String, String] = Map.empty,
    chain: List[EvolutionStep] = Nil,
    deletes: List[DeleteEntry] = Nil)

/** Persistence for the snapshot log: `<table>/_graft_log/v<N>.json`, one doc per
  * snapshot, committed by atomic create-if-absent (optimistic concurrency;
  * see `publishAtomic` — namenode-arbitrated `create(overwrite=false)` on
  * HDFS, temp-file + hard-link claim on the local filesystem, where both
  * Hadoop rename and `create(overwrite=false)` are non-atomic
  * check-then-act). `manifest-<N>.json` holds
  * a consolidated array of all snapshots ≤ N (written by `rewriteManifests`),
  * so a reader loads one consolidated doc plus newer deltas instead of N files.
  *
  * Crash-safety invariant everywhere: PUBLISH the replacement doc first, verify
  * the publish succeeded, and only then delete superseded files — a crash
  * between the two steps leaves harmless duplicates, never data loss.
  */
object SnapshotLog {
  implicit val formats: Formats = DefaultFormats

  val LogDir = "_graft_log"
  val DataDir = "data"

  /** On-disk form of one snapshot doc. A commit whose parent is known is
    * DELTA-encoded — `added` entries plus `removedPaths` relative to the
    * parent — so commit metadata I/O is O(changed files), not O(table): at
    * the 100 TB ≈ 800k-file design point an append doc stays bytes-sized
    * instead of re-serializing the entire file inventory. Full listings
    * (`files`) appear only in bootstrap docs, in docs where the delta would
    * not be smaller (e.g. full overwrites), and in consolidated manifests —
    * so `load()` always reconstructs from one full doc plus newer deltas.
    */
  private[table] case class SnapDoc(
      snapshotId: Long,
      parentId: Option[Long],
      committedAt: Long,
      operation: String,
      schemaJson: String,
      partitionCols: List[String],
      summary: Map[String, String],
      evolution: List[String] = Nil,
      schemas: Map[String, String] = Map.empty,
      chain: List[EvolutionStep] = Nil,
      files: Option[List[FileEntry]] = None,
      added: Option[List[FileEntry]] = None,
      removedPaths: Option[List[String]] = None,
      deletes: Option[List[DeleteEntry]] = None,
      addedDeletes: Option[List[DeleteEntry]] = None,
      removedDeletePaths: Option[List[String]] = None)

  private[table] def toDoc(snap: Snapshot, parent: Option[Snapshot]): SnapDoc = {
    val base = SnapDoc(snap.snapshotId, snap.parentId, snap.committedAt, snap.operation,
      snap.schemaJson, snap.partitionCols, snap.summary, snap.evolution,
      snap.schemas, snap.chain)
    parent match {
      case Some(p) if snap.parentId.contains(p.snapshotId) =>
        val parentPaths = p.files.map(_.path).toSet
        val snapPaths = snap.files.map(_.path).toSet
        val added = snap.files.filterNot(e => parentPaths.contains(e.path))
        val removed = p.files.map(_.path).filterNot(snapPaths.contains)
        // delete-file entries delta-encode the same way (append-mostly:
        // removals only at materialization/expiry)
        val parentDelPaths = p.deletes.map(_.path).toSet
        val snapDelPaths = snap.deletes.map(_.path).toSet
        val addedDel = snap.deletes.filterNot(e => parentDelPaths.contains(e.path))
        val removedDel = p.deletes.map(_.path).filterNot(snapDelPaths.contains)
        val withDel =
          if (addedDel.size + removedDel.size < snap.deletes.size)
            base.copy(addedDeletes = Some(addedDel),
              removedDeletePaths = Some(removedDel))
          else base.copy(deletes = Some(snap.deletes))
        // a path is written exactly once, so kept entries never mutate and
        // (added, removed) reconstructs the list exactly
        if (added.size + removed.size < snap.files.size)
          withDel.copy(added = Some(added), removedPaths = Some(removed))
        else withDel.copy(files = Some(snap.files))
      case _ => base.copy(files = Some(snap.files), deletes = Some(snap.deletes))
    }
  }

  private def resolveDoc(doc: SnapDoc, prev: Option[Snapshot]): Snapshot = {
    def parentOf: Snapshot = {
      val p = prev.getOrElse(throw new IllegalStateException(
        s"delta snapshot doc ${doc.snapshotId} has no resolvable parent"))
      require(doc.parentId.contains(p.snapshotId),
        s"delta snapshot doc ${doc.snapshotId} chains to ${doc.parentId}, not ${p.snapshotId}")
      p
    }
    val files = doc.files.getOrElse {
      val p = parentOf
      val removed = doc.removedPaths.getOrElse(Nil).toSet
      p.files.filterNot(e => removed.contains(e.path)) ++ doc.added.getOrElse(Nil)
    }
    val deletes = doc.deletes.getOrElse {
      if (doc.addedDeletes.isEmpty && doc.removedDeletePaths.isEmpty) {
        // pre-MOR doc: a full-list doc carries deletes=Some above, so a doc
        // with NO delete fields at all is either older than this format
        // (never had deletes) or a delta doc with an unchanged empty list —
        // both resolve to the parent's list (Nil for pre-format docs)
        prev.map(_.deletes).getOrElse(Nil)
      } else {
        val p = parentOf
        val removed = doc.removedDeletePaths.getOrElse(Nil).toSet
        p.deletes.filterNot(e => removed.contains(e.path)) ++ doc.addedDeletes.getOrElse(Nil)
      }
    }
    Snapshot(doc.snapshotId, doc.parentId, doc.committedAt, doc.operation,
      doc.schemaJson, doc.partitionCols, files, doc.summary, doc.evolution,
      doc.schemas, doc.chain, deletes)
  }

  def logPath(tableDir: String) = new Path(tableDir, LogDir)
  def dataPath(tableDir: String) = new Path(tableDir, DataDir)

  private def snapFileName(id: Long) = f"v$id%08d.json"
  private def manifestFileName(maxId: Long, seq: Long) =
    f"manifest-$maxId%08d-$seq%08d.json"
  // (\d+), not (\d{8}): ids beyond 8 digits must stay visible to load()
  private val SnapRe = "v(\\d+)\\.json".r
  // Manifest names carry (maxCoveredSnapshotId, publishSeq) and readers pick
  // the LEXICOGRAPHIC MAX of that pair, so the freshest COVERAGE always wins
  // regardless of publish order. The seq component makes every publish a
  // fresh create-if-absent name (a re-publish of the same coverage, e.g.
  // rewriteManifests after expireSnapshots, never renames over an existing
  // doc); the maxId component defeats the stale-publisher race — without it,
  // a consolidator that loaded BEFORE newer commits landed could claim a
  // HIGHER seq than a consolidator that covered them, and its deletion pass
  // would remove both the newer manifest and (already-consolidated) newer
  // snapshot docs: silent loss of the newest commits. With coverage in the
  // name, the stale manifest sorts lower, deletes nothing fresher, and is
  // itself ignored at load.
  private val ManifestRe = "manifest-(\\d+)-(\\d+)\\.json".r

  def fs(conf: Configuration, dir: String): FileSystem = new Path(dir).getFileSystem(conf)

  private def writeString(fs: FileSystem, p: Path, s: String, overwrite: Boolean = true): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** Atomic create-if-absent publish: write `s` at `p` iff `p` does not exist,
    * returning false (and writing nothing visible) when it does.
    *
    * On HDFS-like filesystems `create(overwrite=false)` IS this — existence is
    * arbitrated by the namenode. On the LOCAL filesystem it is NOT:
    * `RawLocalFileSystem.create` calls `exists()` and then opens a truncating
    * `FileOutputStream`, so two racing committers can both pass the check,
    * both "win" the same version, and the loser's doc bytes silently replace
    * the winner's — a lost commit (ConcurrentCommitSpec caught this as a
    * 10-row loss under 8 racing appenders). For `file:` we therefore write a
    * unique temp sibling and claim the final name with a hard link, which the
    * kernel makes atomic (link(2) fails EEXIST); the doc is complete the
    * instant it becomes visible, so local readers can never observe a partial
    * doc either. Temp names match neither SnapRe nor ManifestRe, so `load()`
    * ignores a crash-orphaned temp.
    */
  private def publishAtomic(fs: FileSystem, p: Path, s: String): Boolean =
    if (fs.getScheme == "file") {
      val target = java.nio.file.Paths.get(fs.makeQualified(p).toUri.getPath)
      val tmp = target.resolveSibling(
        s".${target.getFileName}.${java.util.UUID.randomUUID()}.tmp")
      java.nio.file.Files.write(tmp, s.getBytes(StandardCharsets.UTF_8))
      try {
        java.nio.file.Files.createLink(target, tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      try {
        writeString(fs, p, s, overwrite = false)
        true
      } catch {
        case _: FileAlreadyExistsException => false
        case _: org.apache.hadoop.fs.PathExistsException => false
      }
    }

  /** Public faces of the atomic-publish / read primitives for sibling
    * metadata files that share the log's concurrency story (e.g. tag refs).
    */
  private[table] def publishAtomicAt(fs: FileSystem, p: Path, s: String): Boolean =
    publishAtomic(fs, p, s)
  private[table] def readStringAt(fs: FileSystem, p: Path): String =
    readString(fs, p)

  private def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Atomically publish a snapshot doc via create-if-absent (delta-encoded
    * against `parent` when given — see SnapDoc). Returns false if the version
    * already exists (a concurrent commit won) — callers retry with a fresh id.
    */
  def commit(conf: Configuration, tableDir: String, snap: Snapshot,
      parent: Option[Snapshot] = None): Boolean = {
    val f = fs(conf, tableDir)
    val dir = logPath(tableDir)
    f.mkdirs(dir)
    val finalPath = new Path(dir, snapFileName(snap.snapshotId))
    val ok = publishAtomic(f, finalPath, Serialization.write(toDoc(snap, parent)))
    if (ok) invalidate(tableDir)
    ok
  }

  /** All live snapshots, ascending by id: newest consolidated manifest (full
    * listings) plus any newer per-snapshot docs, each resolved against its
    * predecessor when delta-encoded.
    *
    * A doc that was LISTED but is GONE by the time it is read was deleted by
    * a concurrent manifest consolidation — the listing is stale, and the
    * whole load restarts against a fresh one (the new manifest covers the
    * vanished doc). Treating it like an in-flight commit instead would
    * silently truncate the lineage at the vanished id, and a committer
    * working from that view would claim a FREED version name: its commit
    * would succeed but stay forever invisible below the manifest's coverage
    * — lost rows. Restarting is loud-safe: bounded attempts, then throw.
    */
  def load(conf: Configuration, tableDir: String): Seq[Snapshot] = {
    var attempt = 0
    while (attempt < 50) {
      loadOnce(conf, tableDir) match {
        case Some(snaps) => return snaps
        case None => attempt += 1; Thread.sleep(10)
      }
    }
    throw new IllegalStateException(
      s"snapshot log at $tableDir kept changing underneath $attempt loads")
  }

  /** One listing-consistent load attempt; None = a listed doc vanished
    * mid-read (concurrent consolidation) — re-list and try again.
    */
  /** Listing-signature load cache: parsed snapshot lists keyed by the log
    * dir's full (name, length, mtime) listing. Log docs are immutable once
    * fully written (the only in-place content change is an in-flight doc
    * completing, which changes its length), so an identical signature means
    * an identical parse — repeat loads, which every table operation issues
    * several of, pay ONE listStatus instead of re-reading and re-parsing
    * every doc. Same-JVM commits invalidate eagerly (belt to the signature's
    * suspenders — a scratch dir removed and recreated within one mtime tick
    * could otherwise alias); external writers are caught by the signature.
    * In-flight (truncated) views are never cached.
    */
  private val loadCache = new java.util.concurrent.ConcurrentHashMap[
    String, (IndexedSeq[(String, Long, Long)], Seq[Snapshot])]()

  private[table] def invalidate(tableDir: String): Unit = loadCache.remove(tableDir)

  /** Uncached full log parses since JVM start — the cache's observable:
    * specs assert repeat loads stop paying it. Not a public metric.
    */
  private[table] val uncachedParses = new java.util.concurrent.atomic.AtomicLong

  private def loadOnce(conf: Configuration, tableDir: String): Option[Seq[Snapshot]] = {
    val f = fs(conf, tableDir)
    val dir = logPath(tableDir)
    if (!f.exists(dir)) return Some(Seq.empty)
    val statuses = f.listStatus(dir)
    val sig = statuses.map(s =>
      (s.getPath.getName, s.getLen, s.getModificationTime)).sortBy(_._1).toIndexedSeq
    val cached = loadCache.get(tableDir)
    if (cached != null && cached._1 == sig) return Some(cached._2)
    uncachedParses.incrementAndGet()
    val names = statuses.map(_.getPath.getName)
    val manifestKeys = names.collect { case ManifestRe(m, s) => (m.toLong, s.toLong) }
    val base: Seq[Snapshot] =
      if (manifestKeys.isEmpty) Seq.empty
      else {
        val (m, s) = manifestKeys.max
        try Serialization.read[List[Snapshot]](
          readString(f, new Path(dir, manifestFileName(m, s))))
        catch {
          // deleted by a fresher publisher between list and read
          case _: java.io.FileNotFoundException => return None
        }
      }
    val upTo = if (base.isEmpty) -1L else base.map(_.snapshotId).max
    val ids = names.collect { case SnapRe(n) if n.toLong > upTo => n.toLong }.sorted
    // Commit ids are claimed one after another, so the docs after the
    // manifest run upTo+1, upTo+2, … without a hole. A hole (or, with no
    // manifest listed, a first doc that is a delta) means the listing raced
    // a consolidation: re-list rather than serve a lineage cut short.
    val gap = ids.nonEmpty && ((base.nonEmpty && ids.head != upTo + 1) ||
      ids.zip(ids.tail).exists { case (a, b) => b != a + 1 })
    if (gap) return None
    // create-if-absent claims the id BEFORE the doc bytes land (HDFS path —
    // the local hard-link publish is all-or-nothing), so a reader racing a
    // committer can see an empty/partial doc: retry briefly, then treat a
    // still-unreadable doc (and everything after it) as an in-flight,
    // uncommitted transaction — readers get the pre-commit state; the
    // committer's own retry loop spins until its doc is visible.
    var inFlight = false
    var vanished = false
    val resolved = ids.foldLeft(base.sortBy(_.snapshotId).toList) { (acc, id) =>
      if (inFlight || vanished) acc
      else readSnapDoc(f, new Path(dir, snapFileName(id))) match {
        case SnapFound(doc) if acc.isEmpty && doc.files.isEmpty => vanished = true; acc
        case SnapFound(doc) => acc :+ resolveDoc(doc, acc.lastOption)
        case SnapInFlight => inFlight = true; acc
        case SnapVanished => vanished = true; acc
      }
    }
    if (vanished) None
    else {
      if (!inFlight) {
        if (loadCache.size > 64) loadCache.clear()
        loadCache.put(tableDir, (sig, resolved))
      }
      Some(resolved)
    }
  }

  private sealed trait SnapRead
  private case class SnapFound(doc: SnapDoc) extends SnapRead
  private case object SnapInFlight extends SnapRead
  private case object SnapVanished extends SnapRead

  /** A writer that died between create and write+close leaves a permanently
    * empty doc: reads then pay the retry budget once per load and serve the
    * pre-commit state, while writers exhaust their id retries — the same
    * recovery posture as a held Iceberg commit lock; removeOrphanFiles plus
    * manual doc removal is the operator escape hatch. A doc that VANISHES
    * (FileNotFound) was consolidated away concurrently — reported distinctly
    * so load() re-lists instead of serving a truncated lineage.
    */
  private def readSnapDoc(f: FileSystem, p: Path): SnapRead = {
    var attempt = 0
    while (attempt < 100) {
      val s = try readString(f, p) catch {
        case _: java.io.FileNotFoundException => return SnapVanished
        case _: java.io.IOException => ""
      }
      if (s.nonEmpty) {
        try return SnapFound(Serialization.read[SnapDoc](s))
        catch { case _: Throwable => /* partially written, retry */ }
      }
      Thread.sleep(5)
      attempt += 1
    }
    SnapInFlight
  }

  /** Publish a consolidated manifest doc under a fresh
    * (coverage, sequence) name (create-if-absent; retries on a concurrent
    * publisher), and only after a verified publish delete per-snapshot docs
    * the published coverage subsumes and manifests whose (coverage, seq)
    * sorts STRICTLY BELOW ours — a concurrently published manifest covering
    * newer snapshots is never touched, and at load it wins over this one
    * (see ManifestRe). On publish failure nothing is deleted.
    *
    * The newest covered doc stays as a TOMBSTONE (load ignores it: it is at
    * or below the coverage). A committer whose view ends one commit before
    * the coverage claims exactly that id; with the doc gone its
    * create-if-absent would succeed and the commit would land invisibly
    * below the manifest. With the tombstone it fails and retries against a
    * fresh load. The next consolidation removes the tombstone.
    */
  private[table] def publishManifest(f: FileSystem, dir: Path, snaps: Seq[Snapshot]): Boolean = {
    val maxId = snaps.map(_.snapshotId).max
    val existing = f.listStatus(dir).map(_.getPath.getName)
      .collect { case ManifestRe(_, s) => s.toLong }
    var seq = (if (existing.isEmpty) 0L else existing.max) + 1
    var published = false
    var attempts = 0
    val doc = Serialization.write(snaps.toList)
    while (!published && attempts < 10) {
      attempts += 1
      if (publishAtomic(f, new Path(dir, manifestFileName(maxId, seq)), doc)) published = true
      else seq += 1
    }
    if (!published) return false
    f.listStatus(dir).map(_.getPath).foreach { p =>
      p.getName match {
        case SnapRe(n) if n.toLong < maxId => f.delete(p, false)
        case ManifestRe(m, s)
          if m.toLong < maxId || (m.toLong == maxId && s.toLong < seq) =>
          f.delete(p, false)
        case _ =>
      }
    }
    true
  }

  /** Consolidate the log into one manifest doc and drop the per-snapshot files
    * it covers (our analog of `rewrite_manifests`, reference
    * `blob_dfs/blob-dfs_bench.py:146-149`). Returns snapshots consolidated,
    * 0 if the log is empty or the publish failed.
    */
  def rewriteManifests(conf: Configuration, tableDir: String): Int = {
    val snaps = load(conf, tableDir)
    if (snaps.isEmpty) return 0
    if (publishManifest(fs(conf, tableDir), logPath(tableDir), snaps)) {
      invalidate(tableDir); snaps.size
    } else 0
  }

  /** Replace the whole log with `snaps` (used by expireSnapshots). Publishes
    * the new manifest first; only after a verified publish are superseded docs
    * removed (publishManifest's ordering). No-op on empty input.
    */
  def replaceAll(conf: Configuration, tableDir: String, snaps: Seq[Snapshot]): Boolean = {
    if (snaps.isEmpty) return false
    val ok = publishManifest(fs(conf, tableDir), logPath(tableDir), snaps)
    if (ok) invalidate(tableDir)
    ok
  }
}
