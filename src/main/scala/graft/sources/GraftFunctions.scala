package graft.sources

import java.time.LocalDate

import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The `FunctionCatalog` face of [[GraftCatalog]] — Iceberg exposes its
  * partition transforms as catalog functions (`system.bucket`,
  * `system.truncate`, `system.years/months/days/hours`) so SQL can compute
  * a row's partition value directly; this is the graft analog, BIT-EXACT
  * with the write side's transform derivation
  * (`GraftTable.transformColumn`) and therefore with the scan planner's
  * pruning inverse:
  *
  *  - `bucket(n, v)` = `pmod(murmur3_seed42_hash(v), n)` — Spark's own
  *    `hash()` family, the hash the table's bucket layout is built from
  *    (NOT the Iceberg spec's murmur3_x86_32 byte layout; see the
  *    transformColumn note — no cross-engine physical-layout parity is
  *    claimed, in-engine parity is total).
  *  - `truncate(w, v)` — string prefix / integral floor (`v - pmod(v, w)`).
  *  - `days/months/years(t)` — the UTC civil date (truncated to month /
  *    year start) as a DATE; `hours(t)` — the epoch-hour as BIGINT.
  *
  * All are [[ScalarFunction]]s with static `invoke` magic methods, so calls
  * stay inside whole-stage codegen (Spark compiles a direct method call —
  * no InternalRow boxing on the hot path). The function classes are
  * `private[sources]`, which compiles to public: a Scala `private` nested
  * class is private in the bytecode, and generated Java cannot call into it.
  */
private[sources] object GraftFunctions {

  private val MicrosPerDay = 86400000000L
  private val MicrosPerHour = 3600000000L

  private def hash32(v: Any, dt: DataType): Int =
    Murmur3HashFunction.hash(v, dt, 42).toInt

  // ---- bucket ----

  /** One bound bucket signature per source type: the murmur3 byte layout
    * differs by type (hashInt vs hashLong vs bytes), exactly as `hash(col)`
    * differs — binding by the ARGUMENT's type keeps write/scan/function
    * agreement (`bucketOf` refuses cross-type lookalikes for the same
    * reason).
    */
  private[sources] abstract class BucketBase(srcType: DataType)
      extends ScalarFunction[java.lang.Integer] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, srcType)
    override def resultType(): DataType = IntegerType
    override def name(): String = "bucket"
    override def canonicalName(): String = s"graft.system.bucket($srcType)"
    override def produceResult(input: InternalRow): java.lang.Integer = {
      val n = input.getInt(0)
      val v = input.get(1, srcType)
      Math.floorMod(hash32(v, srcType), n)
    }
  }
  private[sources] case object BucketLong extends BucketBase(LongType) {
    def invoke(n: Int, v: Long): Int =
      Math.floorMod(hash32(v, LongType), n)
  }
  private[sources] case object BucketInt extends BucketBase(IntegerType) {
    def invoke(n: Int, v: Int): Int =
      Math.floorMod(hash32(v, IntegerType), n)
  }
  private[sources] case object BucketString extends BucketBase(StringType) {
    def invoke(n: Int, v: UTF8String): Int =
      Math.floorMod(hash32(v, StringType), n)
  }
  private[sources] case object BucketDate extends BucketBase(DateType) {
    def invoke(n: Int, v: Int): Int =
      Math.floorMod(hash32(v, DateType), n)
  }

  // ---- truncate ----

  private[sources] case object TruncateLong extends ScalarFunction[java.lang.Long] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, LongType)
    override def resultType(): DataType = LongType
    override def name(): String = "truncate"
    def invoke(w: Int, v: Long): Long = v - Math.floorMod(v, w.toLong)
    override def produceResult(input: InternalRow): java.lang.Long =
      invoke(input.getInt(0), input.getLong(1))
  }
  private[sources] case object TruncateInt extends ScalarFunction[java.lang.Integer] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, IntegerType)
    override def resultType(): DataType = IntegerType
    override def name(): String = "truncate"
    def invoke(w: Int, v: Int): Int = v - Math.floorMod(v, w)
    override def produceResult(input: InternalRow): java.lang.Integer =
      invoke(input.getInt(0), input.getInt(1))
  }
  private[sources] case object TruncateString extends ScalarFunction[UTF8String] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, StringType)
    override def resultType(): DataType = StringType
    override def name(): String = "truncate"
    def invoke(w: Int, v: UTF8String): UTF8String = v.substringSQL(1, w)
    override def produceResult(input: InternalRow): UTF8String =
      invoke(input.getInt(0), input.getUTF8String(1))
  }

  // ---- time granularities ----

  /** Epoch-micros → UTC civil day (epoch days) — `transformColumn`'s
    * `floor(unix_micros / 86400e6)`, session-timezone-FREE by design.
    */
  private def utcEpochDay(micros: Long): Int =
    Math.floorDiv(micros, MicrosPerDay).toInt

  private[sources] abstract class TimeGranularity(fnName: String, srcType: DataType,
      out: DataType) extends ScalarFunction[Any] {
    override def inputTypes(): Array[DataType] = Array(srcType)
    override def resultType(): DataType = out
    override def name(): String = fnName
    override def canonicalName(): String = s"graft.system.$fnName($srcType)"
  }

  private def monthStart(epochDay: Int): Int =
    LocalDate.ofEpochDay(epochDay.toLong).withDayOfMonth(1).toEpochDay.toInt
  private def yearStart(epochDay: Int): Int =
    LocalDate.ofEpochDay(epochDay.toLong).withDayOfYear(1).toEpochDay.toInt

  // TIMESTAMP and TIMESTAMP_NTZ both arrive as micros longs and share the
  // floor-division civil-day formula (NTZ micros are already wall-clock;
  // transformColumn's to_date(c) is the same division), so one bound class
  // per (fn, long-vs-date) pair suffices.
  private[sources] class DaysTs(srcType: DataType)
      extends TimeGranularity("days", srcType, DateType) {
    def invoke(micros: Long): Int = utcEpochDay(micros)
    override def produceResult(input: InternalRow): Any = invoke(input.getLong(0))
  }
  private[sources] case object DaysDate extends TimeGranularity("days", DateType, DateType) {
    def invoke(d: Int): Int = d
    override def produceResult(input: InternalRow): Any = invoke(input.getInt(0))
  }
  private[sources] class MonthsTs(srcType: DataType)
      extends TimeGranularity("months", srcType, DateType) {
    def invoke(micros: Long): Int = monthStart(utcEpochDay(micros))
    override def produceResult(input: InternalRow): Any = invoke(input.getLong(0))
  }
  private[sources] case object MonthsDate extends TimeGranularity("months", DateType, DateType) {
    def invoke(d: Int): Int = monthStart(d)
    override def produceResult(input: InternalRow): Any = invoke(input.getInt(0))
  }
  private[sources] class YearsTs(srcType: DataType)
      extends TimeGranularity("years", srcType, DateType) {
    def invoke(micros: Long): Int = yearStart(utcEpochDay(micros))
    override def produceResult(input: InternalRow): Any = invoke(input.getLong(0))
  }
  private[sources] case object YearsDate extends TimeGranularity("years", DateType, DateType) {
    def invoke(d: Int): Int = yearStart(d)
    override def produceResult(input: InternalRow): Any = invoke(input.getInt(0))
  }
  private[sources] class HoursTs(srcType: DataType)
      extends TimeGranularity("hours", srcType, LongType) {
    def invoke(micros: Long): Long = Math.floorDiv(micros, MicrosPerHour)
    override def produceResult(input: InternalRow): Any = invoke(input.getLong(0))
  }

  // ---- unbound faces ----

  private def unbound(fnName: String, describe: String)(
      f: PartialFunction[Seq[DataType], BoundFunction]): UnboundFunction =
    new UnboundFunction {
      override def name(): String = fnName
      override def description(): String = describe
      override def bind(inputType: StructType): BoundFunction = {
        val dts = inputType.fields.map(_.dataType).toSeq
        f.applyOrElse(dts, (got: Seq[DataType]) =>
          throw new UnsupportedOperationException(
            s"graft system.$fnName: unsupported argument types " +
              got.map(_.simpleString).mkString("(", ", ", ")")))
      }
    }

  private val all: Map[String, UnboundFunction] = Map(
    "bucket" -> unbound("bucket",
      "bucket(n, v): the bucket-transform partition value of v under n buckets") {
      case Seq(IntegerType, LongType) => BucketLong
      case Seq(IntegerType, IntegerType) => BucketInt
      case Seq(IntegerType, StringType) => BucketString
      case Seq(IntegerType, DateType) => BucketDate
    },
    "truncate" -> unbound("truncate",
      "truncate(w, v): string prefix / integral floor partition value") {
      case Seq(IntegerType, LongType) => TruncateLong
      case Seq(IntegerType, IntegerType) => TruncateInt
      case Seq(IntegerType, StringType) => TruncateString
    },
    "days" -> unbound("days", "days(t): the UTC civil date of t") {
      case Seq(TimestampType) => new DaysTs(TimestampType)
      case Seq(TimestampNTZType) => new DaysTs(TimestampNTZType)
      case Seq(DateType) => DaysDate
    },
    "months" -> unbound("months", "months(t): the UTC month start of t") {
      case Seq(TimestampType) => new MonthsTs(TimestampType)
      case Seq(TimestampNTZType) => new MonthsTs(TimestampNTZType)
      case Seq(DateType) => MonthsDate
    },
    "years" -> unbound("years", "years(t): the UTC year start of t") {
      case Seq(TimestampType) => new YearsTs(TimestampType)
      case Seq(TimestampNTZType) => new YearsTs(TimestampNTZType)
      case Seq(DateType) => YearsDate
    },
    "hours" -> unbound("hours", "hours(t): the epoch hour of t") {
      case Seq(TimestampType) => new HoursTs(TimestampType)
      case Seq(TimestampNTZType) => new HoursTs(TimestampNTZType)
    })

  def names: Seq[String] = all.keys.toSeq.sorted

  def load(name: String): Option[UnboundFunction] = all.get(name.toLowerCase)
}
