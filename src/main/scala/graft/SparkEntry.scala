package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see SURVEY.md §7.
  *
  * `queries` aggregates every operator family's registry; each key that also
  * appears in `oracleSql` is checked against DuckDB by the driver (rows +
  * schema + hash), the rest get a rows-only check.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Pruned-scan + checksum aggregate over lineitem (SURVEY §2.4 A2/A3).
    */
  def entry(spark: SparkSession): DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("row_count"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("decimal(18,2)").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)") * col("l_quantity").cast("decimal(18,2)"))
          .cast("decimal(18,2)").as("revenue"))
      .orderBy("l_returnflag", "l_linestatus")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.RelationalQueries.queries ++
      graft.queries.TableQueries.queries ++
      graft.queries.HarnessQueries.queries ++
      graft.queries.ScaleQueries.queries ++
      graft.operators.Sessionize.queries ++
      graft.operators.Graph.queries ++
      graft.llm.TextAnalysis.queries ++
      graft.llm.LangModel.queries ++
      graft.llm.Decontaminate.queries ++
      graft.llm.Retrieval.queries ++
      graft.llm.Scrub.queries ++
      graft.llm.Pipeline.queries ++
      graft.llm.Dedup.queries ++
      graft.llm.Similarity.queries ++
      graft.llm.Multimodal.queries ++
      graft.llm.Chunking.queries ++
      graft.llm.Sampling.queries ++
      graft.streaming.StreamOps.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    graft.queries.RelationalQueries.oracle ++
      graft.queries.TableQueries.oracle ++
      graft.queries.HarnessQueries.oracle ++
      graft.queries.ScaleQueries.oracle ++
      graft.operators.Sessionize.oracle ++
      graft.operators.Graph.oracle ++
      graft.llm.TextAnalysis.oracle ++
      graft.llm.LangModel.oracle ++
      graft.llm.Decontaminate.oracle ++
      graft.llm.Retrieval.oracle ++
      graft.llm.Scrub.oracle ++
      graft.llm.Pipeline.oracle ++
      graft.llm.Dedup.oracle ++
      graft.llm.Similarity.oracle ++
      graft.llm.Multimodal.oracle ++
      graft.llm.Chunking.oracle ++
      graft.llm.Sampling.oracle ++
      graft.streaming.StreamOps.oracle
}
