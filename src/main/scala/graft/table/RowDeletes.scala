package graft.table

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, DataType, DoubleType,
  FloatType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One live delete file as a reader applies it to a data file: absolute
  * path, the key columns as stored in the file (`keyCols`, delete-time
  * names) with their current names and types (renames followed forward,
  * widenings applied), the commit bound, and whether each tuple carries its
  * own bound (`_gf_applied_at`, written by delete consolidation).
  */
private[graft] case class DeleteSpec(
    path: String,
    keyCols: List[String],
    keyNames: List[String],
    keyTypes: List[DataType],
    appliedAt: Long,
    perRowAppliedAt: Boolean,
    positional: Boolean)

private[graft] object DeleteSpec {
  /** `d` as readers of `plan`'s snapshot apply it. */
  def of(plan: SnapshotPlanner, d: DeleteEntry, dataRoot: String): DeleteSpec = {
    val names = d.keyCols.map(plan.currentKeyName(_, d.appliedAt))
    val types = names.map(n => plan.schema.find(_.name == n).map(_.dataType).getOrElse(
      throw new IllegalStateException(
        s"delete key column $n of ${d.path} is no longer in the table schema")))
    DeleteSpec(s"$dataRoot/${d.path}", d.keyCols, names, types, d.appliedAt,
      d.perRowAppliedAt, d.positional)
  }
}

/** Delete tuples as hash keys with the equality of Spark's `<=>`: byte
  * arrays compare by content, -0.0 equals 0.0 and NaN equals NaN (the
  * tuple is a Scala `List`, whose `==` never matches a NaN, so NaN becomes
  * a sentinel), structs and arrays compare element by element. The parse
  * side passes `copy = true` to detach values from the reader's reused
  * buffers.
  */
private[table] object DeleteKey {
  private case object NaNKey

  def normalizer(dt: DataType, copy: Boolean): Any => Any = dt match {
    case BinaryType => {
      case b: Array[Byte] => java.nio.ByteBuffer.wrap(if (copy) b.clone() else b)
      case v => v
    }
    case DoubleType => {
      case d: Double => if (d.isNaN) NaNKey else if (d == 0.0d) 0.0d else d
      case v => v
    }
    case FloatType => {
      case f: Float => if (f.isNaN) NaNKey else if (f == 0.0f) 0.0f else f
      case v => v
    }
    case StringType if copy => {
      case s: UTF8String => s.clone()
      case v => v
    }
    case st: StructType =>
      val fields = st.fields.map(f => (f.dataType, normalizer(f.dataType, copy)))
      val struct: Any => Any = {
        case r: InternalRow => List.tabulate(fields.length) { i =>
          if (r.isNullAt(i)) null else fields(i)._2(r.get(i, fields(i)._1))
        }
        case v => v
      }
      struct
    case ArrayType(et, _) =>
      val elem = normalizer(et, copy)
      val array: Any => Any = {
        case a: ArrayData => List.tabulate(a.numElements()) { i =>
          if (a.isNullAt(i)) null else elem(a.get(i, et))
        }
        case v => v
      }
      array
    case _ => identity
  }
}

/** JVM-wide parse-once cache for delete files. Delete files are immutable
  * once committed (content-addressed paths under the data dir are never
  * rewritten in place), so the spec fully identifies the parsed tuple→bound
  * map; without this, a scan re-reads every applicable delete file per data
  * file — O(data files × delete files) read amplification on a heavily
  * deleted table (Iceberg caches the parsed delete sets the same way).
  *
  * Concurrency: per-key SINGLE-FLIGHT (a CompletableFuture per in-progress
  * parse) — exactly one task parses a given delete file while others wait on
  * that future, and tasks on UNRELATED files never serialize (an object-wide
  * lock here stalled every delete lookup executor-wide behind one fat
  * parse). Eviction is bounded by total cached TUPLES, not entry count — 64
  * fat maps can exhaust an executor while 64 is meaningless for small ones.
  * `parses` counts actual file parses (cache misses) for tests.
  */
private[graft] object GraftDeleteCache {
  /** ~4M cached delete tuples ≈ low hundreds of MB worst case — bounded
    * regardless of how fat individual delete files are.
    */
  private val MaxTuples = 4L * 1000 * 1000
  val parses = new java.util.concurrent.atomic.AtomicLong(0L)

  // access-ordered LRU of key → (parsed value, tuple count); guarded by its
  // own monitor, held only for O(1) map ops — never across a parse
  private val lru =
    new java.util.LinkedHashMap[AnyRef, (AnyRef, Long)](16, 0.75f, true)
  private var cachedTuples = 0L
  private val inflight = new java.util.concurrent.ConcurrentHashMap[
    AnyRef, java.util.concurrent.CompletableFuture[AnyRef]]()

  private def cached(key: AnyRef): AnyRef =
    lru.synchronized { val hit = lru.get(key); if (hit == null) null else hit._1 }

  private def admit(key: AnyRef, value: AnyRef, tuples: Long): Unit =
    lru.synchronized {
      if (!lru.containsKey(key)) {
        lru.put(key, (value, tuples))
        cachedTuples += tuples
        val it = lru.entrySet().iterator()
        // evict eldest first; never the entry just admitted (it is in use)
        while (cachedTuples > MaxTuples && it.hasNext) {
          val e = it.next()
          if (e.getKey != key) { cachedTuples -= e.getValue._2; it.remove() }
        }
      }
    }

  private def lookup[V <: AnyRef](key: AnyRef, doParse: () => (V, Long)): V = {
    val hit = cached(key)
    if (hit != null) return hit.asInstanceOf[V]
    val fresh = new java.util.concurrent.CompletableFuture[AnyRef]()
    val prior = inflight.putIfAbsent(key, fresh)
    if (prior != null) return prior.join().asInstanceOf[V]
    try {
      val v = cached(key) match { // the race we lost may have completed
        case null =>
          val (parsed, tuples) = doParse()
          admit(key, parsed, tuples)
          parsed
        case x => x.asInstanceOf[V]
      }
      fresh.complete(v)
      v
    } catch {
      case t: Throwable => fresh.completeExceptionally(t); throw t
    } finally inflight.remove(key, fresh)
  }

  /** Equality half: key tuple (Catalyst values in the current key types,
    * as [[DeleteKey]] normalizes them) → latest applied-at bound. */
  def get(d: DeleteSpec): java.util.HashMap[List[Any], java.lang.Long] =
    lookup((d.path, d.keyCols, d.keyTypes, d.perRowAppliedAt, d.appliedAt), () => {
      val m = parse(d)
      (m, m.size().toLong)
    })

  // Positional delete-vector half: (dv path) → per-file-name position sets.
  // One parse serves every data file the vector touches.
  def getPositional(d: DeleteSpec)
      : java.util.HashMap[String, java.util.HashSet[java.lang.Long]] =
    lookup(("pos", d.path), () => {
      val m = parsePositional(d)
      var n = 0L
      val it = m.values().iterator()
      while (it.hasNext) n += it.next().size()
      (m, n)
    })

  private def parsePositional(d: DeleteSpec)
      : java.util.HashMap[String, java.util.HashSet[java.lang.Long]] = {
    parses.incrementAndGet()
    val m = new java.util.HashMap[String, java.util.HashSet[java.lang.Long]]()
    val r = new VectorizedParquetRecordReader(false, 4096)
    try {
      r.initialize(d.path, java.util.Arrays.asList(GraftTable.WrittenAtCol, GraftTable.PosCol))
      val batch = r.resultBatch()
      require(batch.column(0).dataType() == StringType && batch.column(1).dataType() == LongType,
        s"delete vector ${d.path} must store (${GraftTable.WrittenAtCol} STRING, " +
          s"${GraftTable.PosCol} BIGINT)")
      while (r.nextKeyValue()) {
        val row = r.getCurrentValue.asInstanceOf[InternalRow]
        val name = row.getUTF8String(0).toString
        var set = m.get(name)
        if (set == null) { set = new java.util.HashSet[java.lang.Long](); m.put(name, set) }
        set.add(row.getLong(1))
      }
    } finally r.close()
    m
  }

  /** Spark's own parquet decode reads the key columns in their stored
    * types; a stored type that differs from the current one (a widening
    * since the delete, or a key batch written in another type) casts up the
    * way the column's rows do. */
  private def parse(d: DeleteSpec): java.util.HashMap[List[Any], java.lang.Long] = {
    parses.incrementAndGet()
    val m = new java.util.HashMap[List[Any], java.lang.Long]()
    val cols = d.keyCols ++ (if (d.perRowAppliedAt) List(SnapshotPlanner.AppliedAtCol) else Nil)
    val r = new VectorizedParquetRecordReader(false, 4096)
    try {
      r.initialize(d.path, java.util.Arrays.asList(cols: _*))
      val batch = r.resultBatch()
      val keys = d.keyTypes.zipWithIndex.map { case (cur, i) =>
        val stored = batch.column(i).dataType()
        val ref = BoundReference(i, stored, nullable = true)
        if (stored == cur) ref else Cast(ref, cur, Some("UTC"))
      }.toArray
      val norm = d.keyTypes.map(DeleteKey.normalizer(_, copy = true)).toArray
      while (r.nextKeyValue()) {
        val row = r.getCurrentValue.asInstanceOf[InternalRow]
        val tuple = List.tabulate(keys.length)(i => norm(i)(keys(i).eval(row)))
        val bound: Long =
          if (d.perRowAppliedAt) {
            require(!row.isNullAt(keys.length),
              s"consolidated delete file ${d.path} lacks ${SnapshotPlanner.AppliedAtCol}")
            row.getLong(keys.length)
          } else d.appliedAt
        val prev = m.get(tuple)
        if (prev == null || bound > prev) m.put(tuple, bound)
      }
    } finally r.close()
    m
  }
}

/** The per-row "is this row deleted" check for one data file — the one
  * merge-on-read reconciler. The table scan runs it as a filter expression
  * ([[LiveRows]]), the connector reader calls it per row; both hand it only
  * the deletes the per-file rule (`SnapshotPlanner.applies`) keeps for the
  * file. Equality specs look the row's key tuple up in their parsed map (a
  * hit deletes the row iff its bound is after the file's write); vectors
  * delete the row positions recorded under the file's part name. Parsed
  * sets come from [[GraftDeleteCache]], so each delete file is read once per
  * JVM whatever the number of data files it touches.
  *
  * @param keyNames the current key columns, in the order the caller passes
  *                 their values to [[deleted]]
  */
private[graft] final class RowDeletes(fileName: String, writtenAt: Long,
    specs: Seq[DeleteSpec], keyNames: IndexedSeq[String]) {
  private val equality: Array[(Array[Int], Array[Any => Any],
      java.util.HashMap[List[Any], java.lang.Long])] =
    specs.filterNot(_.positional).map(d =>
      (d.keyNames.map(keyNames.indexOf(_)).toArray,
        d.keyTypes.map(DeleteKey.normalizer(_, copy = false)).toArray,
        GraftDeleteCache.get(d))).toArray
  private val positions: java.util.HashSet[java.lang.Long] = {
    val s = new java.util.HashSet[java.lang.Long]()
    specs.filter(_.positional).foreach { d =>
      val set = GraftDeleteCache.getPositional(d).get(fileName)
      if (set != null) s.addAll(set)
    }
    s
  }

  /** `keys` holds the row's values of `keyNames`, Catalyst-typed. */
  def deleted(rowIndex: Long, keys: Array[Any]): Boolean =
    (!positions.isEmpty && positions.contains(rowIndex)) || equality.exists {
      case (idx, norm, m) =>
        val bound = m.get(List.tabulate(idx.length)(i => norm(i)(keys(idx(i)))))
        bound != null && writtenAt < bound
    }
}

/** The table scan's merge-on-read filter: true iff the row survives its
  * file's applicable deletes. `children` are the file name
  * (`_metadata.file_name`), the row index (`_metadata.row_index`, or a
  * constant when no vector applies) and then the current key columns
  * `keyNames`. Only files the rule marks are scanned under this filter, so
  * no delete tuple rides the plan, only delete paths — each once: `deletes`
  * lists the group's applicable delete files, `sets` the distinct index
  * sets into it that some file needs, and `files` maps every file the scan
  * reads to its write id and its set. A delete that marks every file costs
  * the plan one index per file, not one spec per file.
  */
private[graft] case class LiveRows(children: Seq[Expression],
    deletes: IndexedSeq[DeleteSpec], sets: IndexedSeq[IndexedSeq[Int]],
    files: Map[String, (Long, Int)], keyNames: IndexedSeq[String])
    extends Expression with CodegenFallback {
  override def nullable: Boolean = false
  override def dataType: DataType = BooleanType
  override protected def stringArgs: Iterator[Any] = Iterator(children)

  // per task: rows of one file arrive together, so the last lookup serves
  @transient private lazy val keys = new Array[Any](keyNames.length)
  @transient private var lastName: UTF8String = _
  @transient private var lastCheck: RowDeletes = _

  override def eval(input: InternalRow): Any = {
    val name = children.head.eval(input).asInstanceOf[UTF8String]
    if (lastName == null || lastName != name) {
      val (writtenAt, set) = files.getOrElse(name.toString, throw new IllegalStateException(
        s"no merge-on-read delete plan for data file $name"))
      lastCheck = new RowDeletes(name.toString, writtenAt, sets(set).map(deletes), keyNames)
      lastName = name.clone()
    }
    var i = 0
    while (i < keys.length) { keys(i) = children(i + 2).eval(input); i += 1 }
    !lastCheck.deleted(children(1).eval(input).asInstanceOf[Long], keys)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LiveRows = copy(children = newChildren)
}
