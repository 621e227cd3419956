package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver-generated testdata tables (see TESTDATA.md).
  *
  * One quirk: `events.parquet` stores `ts` as parquet INT64 TIMESTAMP(NANOS),
  * which Spark's TimestampType (microseconds) cannot represent natively — the
  * vectorized reader rejects it outright. We read nanos as a plain long
  * (`spark.sql.legacy.parquet.nanosAsLong=true`, set by every session builder in
  * this project) and reconstruct a microsecond timestamp with integer division,
  * which truncates exactly like DuckDB's TIMESTAMP_NS → TIMESTAMP cast, so the
  * oracle agrees on boundary rows.
  *
  * Scale note: these are plain parquet scans — predicate pushdown, column
  * pruning and partition pruning all apply unchanged on a real cluster; nothing
  * here collects to the driver.
  */
object Tables {

  def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "customer")
  def nation(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "region")
  def part(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "part")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "supplier")
  def documents(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "embeddings")

  /** `events` with `ts` normalized to session-zoned TimestampType (µs).
    * The generator has shipped `ts` as BOTH nanosecond longs (timestamp[ns]
    * read under `nanosAsLong`) and native timestamp[us] (read as
    * TIMESTAMP_NTZ) across testdata generations — branch on the physical
    * type so either encoding lands on the same logical column. The long
    * path truncates ns→µs exactly like DuckDB's ns→µs cast; the NTZ path
    * is a value-preserving cast under the UTC session timezone.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeTs(read(spark, sfDir, "events"))

  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }

  /** `events` restricted to `[startUtc, endUtc)` — the range predicate is
    * applied to the RAW stored column (nanosecond long or native timestamp)
    * so it pushes into the parquet scan (row-group min/max skipping;
    * partition pruning on a partitioned layout). Filtering the normalized
    * timestamp instead would sit above a computed projection and scan
    * everything — the difference between a pruned read and a full 100 TB
    * pass.
    */
  def eventsBetween(spark: SparkSession, sfDir: String,
      startUtc: String, endUtc: String): DataFrame = {
    val ldt = (s: String) => java.time.LocalDateTime.parse(s.replace(" ", "T"))
    val raw = read(spark, sfDir, "events")
    import org.apache.spark.sql.types._
    val bound: String => Column = raw.schema("ts").dataType match {
      case LongType => s => lit(
        ldt(s).toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000000L)
      case TimestampNTZType => s => lit(ldt(s))
      case _ => s => lit(java.sql.Timestamp.from(
        ldt(s).toInstant(java.time.ZoneOffset.UTC)))
    }
    normalizeTs(raw.filter(col("ts") >= bound(startUtc) && col("ts") < bound(endUtc)))
  }

  /** Scale-adaptive parallelism floor for CPU-heavy per-row map stages
    * (shingling, MinHash/SimHash signatures, LSH projections, per-doc regex
    * metrics). A local test file arrives as ONE scan split, so the expensive
    * map work would serialize on a single core while the rest of the machine
    * idles; a production corpus scan already has far more splits than cores,
    * where this is the identity — no shuffle is ever added at scale (guide
    * §2: derive partitioning from input size, never a constant tuned for
    * either local mode or the cluster). Hash-partitioning on `key` keeps
    * row placement deterministic (no round-robin, no rand()) so retries and
    * reruns see identical layouts and fold orders.
    *
    * The partition count comes from [[estimatedPartitions]] over the
    * UN-EXECUTED physical plan — never `df.rdd`: under AQE, `Dataset.rdd`
    * forces `getFinalPhysicalPlan`, which eagerly RUNS every upstream
    * shuffle/broadcast stage as real Spark jobs at DataFrame-construction
    * time, and those results are not reused by the plan the caller builds
    * (the whole upstream pipeline would execute twice).
    */
  def spread(df: DataFrame, key: String = "doc_id"): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (estimatedPartitions(df.queryExecution.sparkPlan) >= p) df
    else df.repartition(p, col(key))
  }

  /** Estimated output-partition count of a physical plan WITHOUT executing
    * anything: scan splits from the (cached) file listing via Spark's own
    * split-packing arithmetic, shuffles reset to their partition count,
    * broadcast joins follow the streamed side, unions add. Unknown leaves
    * estimate 1, which errs toward adding the parallelism floor — the only
    * cost of a misestimate is one small extra shuffle at test scale, never
    * a single-task CPU stage.
    */
  private def estimatedPartitions(plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, RDDScanExec, UnionExec}
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    plan match {
      case l: LocalTableScanExec =>
        // Spark parallelizes a local relation over min(max(rows,1),
        // leaf-node default parallelism) slices — mirror it so test-fixture
        // frames keep the same spread decision the .rdd probe made
        math.min(math.max(l.rows.length, 1),
          l.session.sparkContext.defaultParallelism)
      case s: FileSourceScanExec =>
        val listing = s.selectedPartitions
        val maxSplit = math.max(1L,
          FilePartition.maxSplitBytes(s.relation.sparkSession, listing))
        // same packing as FilePartition.getFilePartitions to first order:
        // total (size + open-cost) bytes over the split size
        math.ceil(listing.calculateTotalPartitionBytes.toDouble / maxSplit).toInt
      case e: ShuffleExchangeLike => e.numPartitions
      case j: BroadcastHashJoinExec =>
        estimatedPartitions(if (j.buildSide == BuildLeft) j.right else j.left)
      case j: BroadcastNestedLoopJoinExec =>
        estimatedPartitions(if (j.buildSide == BuildLeft) j.right else j.left)
      case u: UnionExec => u.children.map(estimatedPartitions).sum
      case r: RDDScanExec => r.rdd.getNumPartitions
      case other =>
        if (other.children.isEmpty) 1
        else other.children.map(estimatedPartitions).max
    }
  }

  /** Config every SparkSession in this project needs. */
  def configure(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", s"${graft.Scratch.target}/spark-warehouse")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
}
