package graft.table

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, Between, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._

/** One schema-evolution op, decoded from its JSON encoding in the snapshot
  * chain (see `GraftTable.addColumnOp` and friends).
  */
private[graft] sealed trait EvolutionOp

private[graft] object EvolutionOp {
  case class Add(name: String, dataType: String, default: Option[String]) extends EvolutionOp
  case class Rename(from: String, to: String) extends EvolutionOp
  case class Widen(name: String, dataType: String) extends EvolutionOp
  case class Drop(name: String) extends EvolutionOp

  /** The single decoder of evolution-op JSON. An `add` without a `default`
    * key replays NULL; a present key (even "") replays that literal. */
  def parse(op: String): EvolutionOp = {
    implicit val fmts: org.json4s.Formats = SnapshotLog.formats
    val m = org.json4s.jackson.JsonMethods.parse(op).extract[Map[String, String]]
    m.getOrElse("op", "?") match {
      case "add" => Add(m("name"), m("dataType"), m.get("default"))
      case "rename" => Rename(m("from"), m("to"))
      case "widen" => Widen(m("name"), m("dataType"))
      case "drop" => Drop(m("name"))
      case _ => throw new IllegalArgumentException(s"bad evolution op: $op")
    }
  }
}

/** Where a column of a snapshot's schema lives in a file written in an
  * earlier evolution epoch. */
private[graft] sealed trait ColumnSource

/** Stored in the file under its write-time `name`; `widened` when a widen op
  * changed its type since (the reader casts the stored type up). */
private[graft] case class Stored(name: String, widened: Boolean) extends ColumnSource

/** Added after the file was written: every row of the file reads `default`
  * (NULL when None) cast to the add-time `dataType`, then to the current type. */
private[graft] case class Added(default: Option[String], dataType: String) extends ColumnSource

/** A conjunct of a row predicate that file metadata can decide, in the
  * column's external value domain (`GraftTable.toPhysicalBound` converts). */
private[graft] sealed trait Fact { def col: String }

private[graft] object Fact {
  /** `lo <(=) col <(=) hi`; either side may be open. */
  case class Range(col: String, lo: Option[Any], loStrict: Boolean,
      hi: Option[Any], hiStrict: Boolean) extends Fact
  /** `col IN (values)`; null values dropped — an empty list matches nothing. */
  case class Points(col: String, values: Seq[Any]) extends Fact
  case class Nullness(col: String, isNull: Boolean) extends Fact

  private def point(c: String, v: Any): Fact = Range(c, Some(v), false, Some(v), false)

  /** The conjunct extractor for an analyzed or optimized Catalyst condition
    * (attribute references, literals under implicit casts, the optimizer's
    * `InSet`). Only top-level AND conjuncts comparing a bare column to a
    * foldable, non-null value contribute; anything else (OR, NOT,
    * expressions over the column, casts of the column) contributes
    * nothing, which keeps every caller's file set a superset of the
    * matching files. Values come out in their external form (strings, not
    * UTF8String; Catalyst-internal days/micros for dates/timestamps, which
    * the planner's bound conversion accepts).
    */
  def of(cond: Expression): Seq[Fact] = {
    def attr(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def external(v: Any): Any = v match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case v => v
    }
    // None = not a constant (or not evaluable here); Some(None) = NULL
    def constant(e: Expression): Option[Option[Any]] = scala.util.Try {
      if (!e.foldable || e.exists(_.isInstanceOf[Attribute])) None
      else Some(Option(e.eval(null)).map(external))
    }.toOption.flatten
    def value(e: Expression): Option[Any] = constant(e).flatten
    // attr-vs-value applies `direct`, value-vs-attr applies `flipped`
    def compare(x: Expression, y: Expression)(direct: (String, Any) => Fact)(
        flipped: (String, Any) => Fact): Seq[Fact] =
      (attr(x), value(y), attr(y), value(x)) match {
        case (Some(c), Some(v), _, _) => Seq(direct(c, v))
        case (_, _, Some(c), Some(v)) => Seq(flipped(c, v))
        case _ => Nil
      }
    def lower(strict: Boolean)(c: String, v: Any): Fact = Range(c, Some(v), strict, None, false)
    def upper(strict: Boolean)(c: String, v: Any): Fact = Range(c, None, false, Some(v), strict)
    def between(c: Option[String], lo: Option[Any], hi: Option[Any]): Seq[Fact] =
      (for (n <- c; l <- lo; h <- hi) yield Range(n, Some(l), false, Some(h), false)).toSeq
    cond match {
      case And(l, r) => of(l) ++ of(r)
      case EqualTo(x, y) => compare(x, y)(point)(point)
      case GreaterThan(x, y) => compare(x, y)(lower(true))(upper(true))
      case GreaterThanOrEqual(x, y) => compare(x, y)(lower(false))(upper(false))
      case LessThan(x, y) => compare(x, y)(upper(true))(lower(true))
      case LessThanOrEqual(x, y) => compare(x, y)(upper(false))(lower(false))
      case b: Between => between(attr(b.input), value(b.lower), value(b.upper))
      case In(a, vs) if attr(a).isDefined =>
        // a null element never matches (three-valued logic); any
        // non-constant element leaves the list undecidable
        val consts = vs.map(constant)
        if (consts.forall(_.isDefined)) Seq(Points(attr(a).get, consts.flatten.flatten))
        else Nil
      // the optimizer's form of a long IN list: Catalyst-internal values
      case InSet(a, vs) if attr(a).isDefined =>
        Seq(Points(attr(a).get, vs.toSeq.filter(_ != null).map(external)))
      case IsNull(a) => attr(a).map(Nullness(_, isNull = true)).toSeq
      case IsNotNull(a) => attr(a).map(Nullness(_, isNull = false)).toSeq
      case _ => Nil
    }
  }

  /** The same extractor for filters a DSv2 scan was handed (pushed or
    * runtime): AND recurses, comparisons with a null value contribute
    * nothing. */
  def of(filters: Seq[sources.Filter]): Seq[Fact] = filters.flatMap {
    case sources.And(l, r) => of(Seq(l, r))
    case sources.EqualTo(c, v) if v != null => Seq(point(c, v))
    case sources.GreaterThan(c, v) if v != null => Seq(Range(c, Some(v), true, None, false))
    case sources.GreaterThanOrEqual(c, v) if v != null => Seq(Range(c, Some(v), false, None, false))
    case sources.LessThan(c, v) if v != null => Seq(Range(c, None, false, Some(v), true))
    case sources.LessThanOrEqual(c, v) if v != null => Seq(Range(c, None, false, Some(v), false))
    case sources.In(c, vs) if vs != null => Seq(Points(c, vs.toSeq.filter(_ != null)))
    case sources.IsNull(c) => Seq(Nullness(c, isNull = true))
    case sources.IsNotNull(c) => Seq(Nullness(c, isNull = false))
    case _ => Nil
  }
}

/** Snapshot-metadata planning for every read path (the table scan's file
  * index, the table API's `planBetween` / `planPoints` / `planNullability` /
  * metadata aggregates, DML planning, and the DSv2 connector's scans,
  * stream planning and pushed aggregates) — one
  * evolution replay, one file-pruning rule, one metadata-aggregate rule, so
  * two engines reading one snapshot cannot disagree about it.
  *
  * Per-snapshot state (schema, chain epochs, per-epoch column provenance,
  * partition transforms) resolves once per planner, however many values or
  * facts a call applies. `transforms` is by-name: table properties are read
  * only when a range or point actually reaches the transform pass. A table
  * scan's file indexes share one planner and may list from several threads
  * at once (a broadcast side, a subquery), so the caches are concurrent.
  */
final class SnapshotPlanner(val snap: Snapshot,
    transforms: => Seq[GraftTable.TransformDef]) {
  import GraftTable.{StatEntry, toPhysicalBound, fromPhysicalBound}

  lazy val schema: StructType = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
  private lazy val transformDefs = transforms
  private lazy val chainIds = snap.chain.map(_.snapshotId).sorted

  /** The evolution epoch of a file: the greatest chain step at or before
    * its write. Files of one epoch share one write-time schema and one
    * replay. */
  def epochOf(writtenAt: Long): Long =
    chainIds.foldLeft(0L)((e, id) => if (id <= writtenAt) id else e)

  private val sourceCache = scala.collection.concurrent.TrieMap[(Long, String), Option[ColumnSource]]()
  private val opsCache = scala.collection.concurrent.TrieMap[Long, Seq[EvolutionOp]]()

  /** Column provenance for files of `epoch`: where current column `name`
    * lives in such a file, found by walking the ops committed in
    * (epoch, snap] backwards. None = untraceable (never for a consistent
    * log; callers refuse or stay conservative). A drop followed by a re-add
    * of the same name resolves to the ADD — old files' values under that
    * name belong to a different column and are never read or trusted.
    */
  def source(epoch: Long, name: String): Option[ColumnSource] =
    sourceCache.getOrElseUpdate((epoch, name), {
      val ops = opsCache.getOrElseUpdate(epoch, SnapshotPlanner.opsAfter(snap, epoch))
      var cur = name
      var widened = false
      var out: Option[Option[ColumnSource]] = None
      val it = ops.reverseIterator
      while (out.isEmpty && it.hasNext) it.next() match {
        case EvolutionOp.Add(n, t, d) if n == cur => out = Some(Some(Added(d, t)))
        case EvolutionOp.Rename(from, to) if to == cur => cur = from
        case EvolutionOp.Rename(from, _) if from == cur => out = Some(None)
        case EvolutionOp.Widen(n, _) if n == cur => widened = true
        case EvolutionOp.Drop(n) if n == cur => out = Some(None)
        case _ =>
      }
      out.getOrElse(Some(Stored(cur, widened)))
    })

  def sourceOf(f: FileEntry, name: String): Option[ColumnSource] =
    source(epochOf(f.writtenAt), name)

  /** The evolution replay for files of `epoch` written under `stored`: per
    * column of `logical`, the expression over the stored columns (unresolved
    * attributes, by stored name) that reads it — the column itself when its
    * name and type are unchanged, the stored column cast to the current type
    * after a rename or widen, or the declared default (NULL without one) for
    * a column added later. Every scan path replays through it: the table
    * scan as DataFrame columns, the connector bound into a projection over
    * each file's rows. Replay is exact for every file of the epoch: no chain
    * step lies between the epoch and a file's write.
    */
  def replay(epoch: Long, stored: StructType, logical: StructType): Seq[Expression] =
    logical.fields.toSeq.map { f =>
      source(epoch, f.name) match {
        case Some(Stored(n, _)) if n == f.name &&
            stored.exists(p => p.name == n && p.dataType == f.dataType) =>
          UnresolvedAttribute.quoted(n)
        case Some(Stored(n, _)) => Cast(UnresolvedAttribute.quoted(n), f.dataType)
        case Some(Added(d, t)) => Cast(Cast(Literal(d.orNull), DataType.fromDDL(t)), f.dataType)
        case None => throw new IllegalStateException(
          s"column ${f.name} of snapshot ${snap.snapshotId} has no provenance in epoch $epoch")
      }
    }

  private def typeOf(colName: String): DataType =
    schema.find(_.name == colName)
      .getOrElse(throw new IllegalArgumentException(s"no column $colName"))
      .dataType

  /** The write-time name under which `f`'s footer stats and partition value
    * for `colName` are recorded, or None when they cannot describe the
    * current column: it was added after the file, or widened to a string
    * (numeric bounds do not order as strings). */
  private def statsName(f: FileEntry, colName: String, dt: DataType): Option[String] =
    sourceOf(f, colName) match {
      case Some(Stored(n, widened)) if !(widened && dt == StringType) => Some(n)
      case _ => None
    }

  // ---- file pruning ----

  /** The files of `from` (default: the snapshot's) that may hold rows
    * satisfying every fact; facts on columns this snapshot does not have,
    * that compare a STRING column with a non-string value, or that fail to
    * plan (an unparseable value), prune nothing. Order is kept. */
  def select(facts: Seq[Fact], from: Seq[FileEntry] = snap.files): Seq[FileEntry] =
    facts.foldLeft(from) { (files, fact) =>
      if (!schema.fieldNames.contains(fact.col) || !sameDomain(fact)) files
      else scala.util.Try(fact match {
        case Fact.Range(c, lo, loStrict, hi, hiStrict) =>
          files.filter(rangeKeep(c, lo.orNull, loStrict, hi.orNull, hiStrict))
        case Fact.Points(c, vs) => points(files, c, vs)
        case Fact.Nullness(c, isNull) => nullability(files, c, isNull)
      }).getOrElse(files)
    }

  /** False for a STRING column compared with a non-string value (`s > 5`):
    * Spark compares in the value's type, where string bounds do not order
    * (`'10' > 5`, yet `"10" < "5"`). */
  private def sameDomain(fact: Fact): Boolean = typeOf(fact.col) != StringType || (fact match {
    case Fact.Range(_, lo, _, hi, _) => (lo ++ hi).forall(_.isInstanceOf[String])
    case Fact.Points(_, vs) => vs.forall(_.isInstanceOf[String])
    case _: Fact.Nullness => true
  })

  /** Range pruning — see `GraftTable.planBetween` for the contract. */
  def between(files: Seq[FileEntry], colName: String, lo: Any, hi: Any): Seq[FileEntry] =
    files.filter(rangeKeep(colName, lo, loStrict = false, hi, hiStrict = false))

  /** A file survives iff at least one value's point pass keeps it. The
    * values are sorted once in the column's bound order, and each file walks
    * only those inside its own identity-partition point or footer bounds:
    * a value outside them fails its point pass, so skipping it changes
    * nothing. Values that do not compare (NaN, unordered types) are tried on
    * every file. */
  def points(files: Seq[FileEntry], colName: String, values: Seq[Any]): Seq[FileEntry] = {
    val dt = typeOf(colName)
    val cmp = SnapshotPlanner.compare(dt)
    case class Point(lo: String, hi: String, keep: FileEntry => Boolean)
    val all = values.map(v => Point(side(dt, v, strict = false, upper = false).phys,
      side(dt, v, strict = false, upper = true).phys,
      rangeKeep(colName, v, loStrict = false, v, hiStrict = false)))
    val (sortable, loose) =
      if (!SnapshotPlanner.ordered(dt)) (Nil, all)
      else all.partition(p => cmp(p.lo, p.lo).isDefined && cmp(p.hi, p.hi).isDefined)
    // by (lo, hi): a snapped float value spans at most one step, so hi
    // ascends too and the search below can bisect on it
    val sorted = sortable.sortWith((a, b) =>
      cmp(a.lo, b.lo).get < 0 || (cmp(a.lo, b.lo).get == 0 && cmp(a.hi, b.hi).get < 0))
      .toIndexedSeq
    def inWindow(f: FileEntry): Iterator[Point] = window(f, colName, dt) match {
      case None => sorted.iterator
      case Some((mn, mx)) =>
        var (i, j) = (0, sorted.size) // first value whose hi reaches mn
        while (i < j) {
          val m = (i + j) >>> 1
          if (cmp(sorted(m).hi, mn).get < 0) i = m + 1 else j = m
        }
        sorted.iterator.drop(i).takeWhile(p => cmp(p.lo, mx).get <= 0)
    }
    files.filter(f => loose.exists(_.keep(f)) || inWindow(f).exists(_.keep(f)))
  }

  /** `f`'s value of partition column `c`, decoded from its hive directory
    * form (`a%2Fb` → `a/b`, `00%3A00` → `00:00`) — the one place a
    * partition value is unescaped, so escaped values prune like any other. */
  private def partitionValue(f: FileEntry, c: String): Option[String] =
    f.partitionValues.get(c).map(v =>
      if (v.indexOf('%') < 0) v
      else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(v))

  /** A decoded identity partition value as a point of the physical bound
    * domain. The writer rendered a TIMESTAMP in the session time zone
    * (Spark's cast to string), so it parses back in that zone. */
  private def partitionPoint(dt: DataType, v: String): Option[String] = scala.util.Try {
    if (dt != TimestampType) toPhysicalBound(dt, v)
    else {
      val i = java.time.LocalDateTime.parse(v.replace(' ', 'T')).atZone(java.time.ZoneId.of(
        org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)).toInstant
      (i.getEpochSecond * 1000000L + i.getNano / 1000L).toString
    }
  }.toOption

  /** The stretch of the physical domain `f`'s values of `colName` occupy:
    * its identity partition point, else its footer bounds; None when
    * neither is known and comparable. */
  private def window(f: FileEntry, colName: String, dt: DataType): Option[(String, String)] = {
    val cmp = SnapshotPlanner.compare(dt)
    statsName(f, colName, dt).flatMap { phys =>
      partitionValue(f, phys).filter(_ != SnapshotPlanner.NullPartition)
        .flatMap(partitionPoint(dt, _)).map(p => (p, p))
        .orElse(f.stats.get(phys).flatMap(StatEntry.bounds))
    }.filter { case (mn, mx) => cmp(mn, mn).isDefined && cmp(mx, mx).isDefined }
  }

  /** Null-count pruning — see `GraftTable.planNullability`. */
  def nullability(files: Seq[FileEntry], colName: String, isNull: Boolean): Seq[FileEntry] =
    statsEntries(files, colName) match {
      case None => files
      case Some(perFile) => files.zip(perFile).collect {
        case (f, None) => f // no stats: keep
        case (f, Some(e)) if (if (isNull) !StatEntry.nullCount(e).contains(0L)
            else !StatEntry.allNull(e, f.rowCount)) => f
      }
    }

  /** The per-file keep decision for `[lo, hi]` on `colName` (null = open
    * side; strict sides exclude the bound itself), with all per-call state
    * — column type, converted bounds, transforms on the column — resolved
    * once. */
  private def rangeKeep(colName: String, lo: Any, loStrict: Boolean, hi: Any,
      hiStrict: Boolean): FileEntry => Boolean = {
    val dt = typeOf(colName)
    val loS = Option(lo).map(side(dt, _, loStrict, upper = false))
    val hiS = Option(hi).map(side(dt, _, hiStrict, upper = true))
    val isPoint = loS.isDefined && loS == hiS && !loS.get.strict
    if (!SnapshotPlanner.ordered(dt))
      return if (isPoint) partitionEquals(colName, dt, lo) else _ => true
    // None = incomparable (unparseable or NaN bound) → treated as "keep".
    val cmp = SnapshotPlanner.compare(dt)
    // does [mn, mx] reach the query range? strictness only where exact
    def reaches(mn: String, mx: String, strict: Boolean): Boolean =
      loS.forall(l => cmp(mx, l.phys).forall(c => if (strict && l.strict) c > 0 else c >= 0)) &&
        hiS.forall(h => cmp(mn, h.phys).forall(c => if (strict && h.strict) c < 0 else c <= 0))
    // [start, end] overlap test for transform domains, physical domain
    def overlaps(min: Long, max: Long): Boolean =
      reaches(min.toString, max.toString, strict = false)
    // Transform-partition pruning (the Iceberg partition-transform scan
    // planning): when the queried column is the SOURCE of a recorded
    // transform, each file's transform partition value constrains its rows —
    // time granularities bound them to [start, next) in physical micros /
    // epoch-days, truncate(N) prefixes bound strings to [prefix, next), and
    // bucket(N) pins a POINT predicate's file set to the value's hash
    // bucket. Time derivation is UTC-pinned at write (`transformColumn`),
    // so instant-domain comparison is sound under ANY read session
    // timezone. Anything unparseable keeps the file.
    def keepFor(td: GraftTable.TransformDef, v: String): Boolean = td.fn match {
      case "days" | "months" | "years" =>
        scala.util.Try(java.time.LocalDate.parse(v)).toOption.forall { d =>
          val end = td.fn match {
            case "days" => d.plusDays(1)
            case "months" => d.plusMonths(1)
            case _ => d.plusYears(1)
          }
          dt match {
            case DateType => overlaps(d.toEpochDay, end.toEpochDay - 1)
            case TimestampType | TimestampNTZType =>
              overlaps(d.toEpochDay * 86400000000L, end.toEpochDay * 86400000000L - 1)
            case _ => true
          }
        }
      case "hours" =>
        scala.util.Try(v.toLong).toOption.forall { h =>
          dt match {
            case TimestampType | TimestampNTZType =>
              overlaps(h * 3600000000L, (h + 1) * 3600000000L - 1)
            case _ => true
          }
        }
      case "bucket" if isPoint =>
        (for (n <- td.arg; b <- GraftTable.bucketOf(dt, lo, n))
          yield v == b.toString).getOrElse(true)
      case "truncate" if dt == StringType =>
        // rows in this file all carry prefix v: their domain is [v, next)
        hiS.forall(h => cmp(v, h.phys).forall(_ <= 0)) &&
          GraftTable.nextPrefix(v).forall(np => loS.forall(l => cmp(np, l.phys).forall(_ > 0)))
      case "truncate"
          if dt == ByteType || dt == ShortType || dt == IntegerType || dt == LongType =>
        // integral truncate: value v bounds rows to [v, v + W)
        (for (w <- td.arg; base <- scala.util.Try(v.toLong).toOption)
          yield overlaps(base, base + w - 1)).getOrElse(true)
      case _ => true
    }
    def transformKeep(f: FileEntry, phys: String): Boolean =
      transformDefs.filter(_.src == phys).forall { td =>
        partitionValue(f, td.pc) match {
          case Some(SnapshotPlanner.NullPartition) => false // null source never matches
          case Some(v) => keepFor(td, v)
          case None => true // absent: keep
        }
      }
    f => {
      // a provably empty file (pre-empty-skip commits) matches nothing
      if (f.rowCount == 0L) false
      else statsName(f, colName, dt) match {
        case None => true
        case Some(phys) =>
          // an identity partition value is an exact point [v, v]; the null
          // partition never satisfies a range
          val partKeep = partitionValue(f, phys) match {
            case Some(SnapshotPlanner.NullPartition) => false
            case Some(v) => partitionPoint(dt, v).forall(p => reaches(p, p, strict = true))
            case None => true
          }
          val statsKeep = f.stats.get(phys) match {
            // a range predicate never matches null rows, so a provably
            // all-null file holds nothing in [lo, hi]
            case Some(entry) if StatEntry.allNull(entry, f.rowCount) => false
            case Some(entry) => StatEntry.bounds(entry).forall { case (mn, mx) =>
              reaches(mn, mx, strict = true)
            }
            case None => true
          }
          partKeep && statsKeep && transformKeep(f, phys)
      }
    }
  }

  /** One end of a query range in the column's physical bound domain. */
  private case class Side(phys: String, strict: Boolean)

  /** `v` as the lower or `upper` end of a range on a column of type `dt`.
    * A FLOAT column meets a non-float value in a wider domain: Spark casts
    * the column to double, or the value to float. Such a value snaps
    * outward to the nearest float on its side, and the end turns
    * inclusive; that holds under either cast. */
  private def side(dt: DataType, v: Any, strict: Boolean, upper: Boolean): Side =
    if (dt != FloatType || v.isInstanceOf[Float]) Side(toPhysicalBound(dt, v), strict)
    else {
      val d = v.toString.toDouble
      val f = d.toFloat
      val snapped =
        if (upper) { if (f.toDouble < d) Math.nextUp(f) else f }
        else { if (f.toDouble > d) Math.nextDown(f) else f }
      Side(snapped.toString, strict = false)
    }

  /** Point equality on a column type without an engine-neutral order
    * (boolean, decimal): only an identity partition value can decide it. */
  private def partitionEquals(colName: String, dt: DataType, v: Any): FileEntry => Boolean =
    f => statsName(f, colName, dt).flatMap(partitionValue(f, _)) match {
      case Some(SnapshotPlanner.NullPartition) => false
      case Some(raw) => dt match {
        case BooleanType => scala.util.Try(raw.toBoolean == v.toString.toBoolean).getOrElse(true)
        case _: DecimalType => scala.util.Try(new java.math.BigDecimal(raw)
          .compareTo(new java.math.BigDecimal(v.toString)) == 0).getOrElse(true)
        case _ => true
      }
      case _ => true
    }

  // ---- merge-on-read delete applicability ----

  private val curNames = scala.collection.concurrent.TrieMap[(String, Long), String]()

  /** `name`, recorded by the delete committed at `appliedAt`, under its
    * current name (renames followed forward). */
  def currentKeyName(name: String, appliedAt: Long): String =
    curNames.getOrElseUpdate((name, appliedAt),
      SnapshotPlanner.currentName(snap, name, appliedAt))

  /** The one per-file delete rule (Iceberg's `DeleteFileIndex` role): can
    * delete entry `d` remove a row of data file `f`? Both must hold:
    *  - `d` was committed after `f` was written: `writtenAt < appliedAt`,
    *    or below a consolidated file's recorded `_gf_applied_at` max;
    *  - for equality deletes, every key column's bounds overlap: the column
    *    is resolved through renames (its current name, then `f`'s
    *    write-time name), the bounds compare in the current type, and nulls
    *    overlap nulls. For a vector, `f`'s part name lies inside the
    *    recorded `_gf_file` bounds.
    * Anything unknown (no stats on either side, a column added after the
    * file, a type whose bounds do not order) means "applies". The table
    * scan, the connector's per-partition delete lists, metadata aggregates,
    * the COUNT(*) route and delete materialization all decide here. */
  def applies(d: DeleteEntry, f: FileEntry): Boolean = {
    val bound =
      if (!d.perRowAppliedAt) d.appliedAt
      else d.stats.get(SnapshotPlanner.AppliedAtCol).flatMap(StatEntry.bounds)
        .flatMap(b => scala.util.Try(b._2.toLong).toOption)
        .fold(d.appliedAt)(math.min(_, d.appliedAt))
    f.writtenAt < bound && (
      if (d.positional)
        d.stats.get(GraftTable.WrittenAtCol).flatMap(StatEntry.bounds).forall {
          case (lo, hi) =>
            val name = f.path.substring(f.path.lastIndexOf('/') + 1)
            lo.compareTo(name) <= 0 && name.compareTo(hi) <= 0
        }
      else d.keyCols.forall(k => keyMayMatch(d, k, f)))
  }

  /** The live deletes that can touch `f`. */
  def deletesFor(f: FileEntry): List[DeleteEntry] = snap.deletes.filter(applies(_, f))

  /** True when some live delete can touch `f`: the file needs reconciling. */
  def marked(f: FileEntry): Boolean = snap.deletes.exists(applies(_, f))

  private def keyMayMatch(d: DeleteEntry, k: String, f: FileEntry): Boolean = {
    val cur = currentKeyName(k, d.appliedAt)
    (schema.find(_.name == cur), d.stats.get(k)) match {
      case (Some(field), Some(del)) =>
        val dt = field.dataType
        def widened(src: Option[ColumnSource]) = src match {
          case Some(Stored(_, w)) => w
          case _ => true
        }
        // a float bound widened to double (or any bound widened to a
        // string) renders in the old type's domain: not comparable
        val mixedDomain = (dt == DoubleType || dt == StringType) &&
          (widened(source(epochOf(d.appliedAt), cur)) || widened(sourceOf(f, cur)))
        statsName(f, cur, dt) match {
          case Some(phys) if SnapshotPlanner.ordered(dt) && !mixedDomain =>
            val partition = f.partitionValues.get(phys)
            val entry = f.stats.get(phys)
            val dataAllNull = partition.contains(SnapshotPlanner.NullPartition) ||
              entry.exists(StatEntry.allNull(_, f.rowCount))
            val dataMayBeNull = partition match {
              case Some(v) => v == SnapshotPlanner.NullPartition
              case None => entry.flatMap(StatEntry.nullCount).forall(_ > 0)
            }
            val delAllNull = StatEntry.allNull(del, d.rowCount)
            val nullsMeet = StatEntry.nullCount(del).forall(_ > 0) && dataMayBeNull
            val cmp = SnapshotPlanner.compare(dt)
            val valuesMeet = !delAllNull && !dataAllNull &&
              ((StatEntry.bounds(del), window(f, cur, dt)) match {
                case (Some((dLo, dHi)), Some((fLo, fHi))) =>
                  cmp(dLo, fHi).forall(_ <= 0) && cmp(fLo, dHi).forall(_ <= 0)
                case _ => true
              })
            nullsMeet || valuesMeet
          case _ => true
        }
      case _ => true
    }
  }

  // ---- metadata aggregates ----

  /** Each file's stats entry for `colName`, resolved through the evolution
    * chain: None when some file's write-time name cannot be traced (a
    * column added later — stats under the same string would describe a
    * different column); otherwise one Option[entry] per file, aligned with
    * `files`. A PARTITION column synthesizes an exact entry from the file's
    * partition value: the default partition is all-null (`[rowCount]`), any
    * other parseable value the exact point `[v, v, 0]`. A None ELEMENT is
    * per-file "unknown".
    */
  private def statsEntries(files: Seq[FileEntry], colName: String)
      : Option[Seq[Option[List[String]]]] = {
    val dt = typeOf(colName)
    def partitionEntry(f: FileEntry, phys: String): Option[List[String]] =
      partitionValue(f, phys).flatMap {
        case SnapshotPlanner.NullPartition =>
          if (f.rowCount >= 0) Some(List(f.rowCount.toString)) else None
        case v => partitionPoint(dt, v).map(p => List(p, p, "0"))
      }
    val names = files.map(f => statsName(f, colName, dt))
    if (names.exists(_.isEmpty)) None
    else Some(files.zip(names).map { case (f, n) =>
      f.stats.get(n.get).orElse(partitionEntry(f, n.get)) })
  }

  /** Exact row count, or None when a live delete can touch one of `files`
    * or a count is unknown. */
  def countRows(files: Seq[FileEntry] = snap.files): Option[Long] =
    if (files.exists(f => f.rowCount < 0 || marked(f))) None
    else Some(files.map(_.rowCount).sum)

  /** Exact COUNT(col) — see `GraftTable.countNonNullFromMetadata`. */
  def countNonNull(colName: String, files: Seq[FileEntry] = snap.files): Option[Long] =
    if (files.isEmpty || files.exists(marked)) None
    else statsEntries(files, colName).flatMap { perFile =>
      val counts = files.zip(perFile).map { case (f, entry) =>
        if (f.rowCount == 0) Some(0L) // empty file: zero non-null rows
        else if (f.rowCount < 0) None
        else entry.flatMap(StatEntry.nullCount).map(f.rowCount - _)
      }
      if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
    }

  /** Exact MIN/MAX(col) in the column's logical type — see
    * `GraftTable.minMaxFromMetadata`. */
  def minMax(colName: String, files: Seq[FileEntry] = snap.files): Option[(Any, Any)] = {
    if (files.isEmpty || files.exists(marked)) return None
    val dt = typeOf(colName)
    val exact = dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
           TimestampType | TimestampNTZType | DateType => true
      case _ => false // string bounds may be writer-truncated; others untracked
    }
    if (!exact) return None
    // Exact ordering keys: Double for float/double columns (doubles ARE the
    // domain; NaN rejected), BigDecimal otherwise (int64 micros past 2^53
    // must not round through a double).
    val floating = dt == FloatType || dt == DoubleType
    def parseable(s: String): Boolean =
      if (floating) scala.util.Try(java.lang.Double.parseDouble(s)).toOption.exists(!_.isNaN)
      else scala.util.Try(new java.math.BigDecimal(s)).isSuccess
    def lt(a: String, b: String): Boolean =
      if (floating) java.lang.Double.parseDouble(a) < java.lang.Double.parseDouble(b)
      else new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b)) < 0
    // Per file: None = unknown (bail to scan); Some(None) = provably
    // all-null or empty, contributes nothing; Some(Some(bounds)) = contributes.
    val entries = statsEntries(files, colName).getOrElse(return None)
    val perFile: Seq[Option[Option[(String, String)]]] = files.zip(entries).map {
      case (f, _) if f.rowCount == 0L => Some(None)
      case (f, Some(entry)) if StatEntry.allNull(entry, f.rowCount) => Some(None)
      case (_, Some(entry)) => StatEntry.bounds(entry) match {
        case Some((mn, mx)) if parseable(mn) && parseable(mx) => Some(Some((mn, mx)))
        case _ => None
      }
      case (_, None) => None
    }
    if (perFile.exists(_.isEmpty)) return None
    val bounds = perFile.flatten.flatten
    if (bounds.isEmpty) return None // every row null: a scan answers MIN=MAX=NULL
    val mn = bounds.map(_._1).reduce((a, b) => if (lt(a, b)) a else b)
    val mx = bounds.map(_._2).reduce((a, b) => if (lt(a, b)) b else a)
    Some((fromPhysicalBound(dt, mn), fromPhysicalBound(dt, mx)))
  }
}

object SnapshotPlanner {
  /** Hive's rendering of a null partition value. */
  private[table] val NullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Per-tuple commit bound column of a consolidated delete file. */
  private[graft] val AppliedAtCol = "_gf_applied_at"

  /** Types whose footer bounds and partition points order like the engine
    * (decimal/binary/nested orderings are engine-specific). */
  private[graft] def ordered(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         StringType | TimestampType | TimestampNTZType | DateType => true
    case _ => false
  }

  /** Order of two rendered bounds of an ordered type — strings
    * lexicographically, floats numerically (-0.0 equals 0.0, as in Spark's
    * comparisons), the rest as exact decimals (int64 micros past 2^53 must
    * not round through a double). None = incomparable (unparseable, or
    * NaN). */
  private[table] def compare(dt: DataType): (String, String) => Option[Int] =
    if (dt == StringType) (a, b) => Some(a.compareTo(b))
    else if (dt == FloatType || dt == DoubleType) (a, b) => scala.util.Try {
      val x = java.lang.Double.parseDouble(a) // "Infinity"/"NaN" parse fine
      val y = java.lang.Double.parseDouble(b)
      if (x.isNaN || y.isNaN) None else Some(if (x < y) -1 else if (x > y) 1 else 0)
    }.toOption.flatten
    else (a, b) => scala.util.Try(
      new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))).toOption

  /** True when a [[SnapshotPlanner.replay]] reads every column as itself. */
  private[graft] def identity(replay: Seq[Expression]): Boolean =
    replay.forall(_.isInstanceOf[UnresolvedAttribute])

  /** The evolution ops committed in (since, snap], in commit order. */
  private[graft] def opsAfter(snap: Snapshot, since: Long): Seq[EvolutionOp] =
    snap.chain.filter(st => st.snapshotId > since && st.snapshotId <= snap.snapshotId)
      .flatMap(_.ops).map(EvolutionOp.parse)

  /** Forward-map a column name recorded at snapshot `since` to its name at
    * `snap` by following the renames committed in (since, snap] — how
    * equality-delete key columns recorded before a rename resolve. An `add`
    * can never capture the tracked name: the name existed at `since`, so an
    * add of the same string is only legal after a rename moved the tracked
    * column away, which this replay follows first.
    */
  private[graft] def currentName(snap: Snapshot, name: String, since: Long): String =
    opsAfter(snap, since).foldLeft(name) {
      case (cur, EvolutionOp.Rename(from, to)) if from == cur => to
      case (cur, _) => cur
    }
}
