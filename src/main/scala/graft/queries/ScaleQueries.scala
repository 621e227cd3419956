package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{SkewSalting, TemporalJoins}

/** Scale-technique operators exposed as oracle-checked queries: each result
  * is semantically identical to its naive formulation (that IS the oracle),
  * while the plan demonstrates the technique — salting for skew, bucketed
  * co-located joins.
  */
object ScaleQueries {
  type Q = (SparkSession, String) => DataFrame

  // Hash-stable guarded formatting shared across query files — see Fmt.
  private def dec(c: org.apache.spark.sql.Column) = Fmt.dec(c)
  private def dbl(c: org.apache.spark.sql.Column) = Fmt.dbl(c)

  val queries: Map[String, Q] = Map(
    // Two-phase salted aggregation == plain group-by (decimal sums → exact)
    "skew_salted_agg" -> ((s, dir) => {
      val ev = Tables.events(s, dir).withColumn("v", dec(col("value")))
      SkewSalting.saltedAgg(ev, "event_type", "v")
        .select(col("event_type"), col("cnt"), dbl(col("total")).as("total"))
        .orderBy("event_type")
    }),

    // Salted join == plain join: skewed events × per-user dim
    "skew_salted_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val dim = ev.select(col("user_id")).distinct()
        .withColumn("user_bucket", pmod(col("user_id"), lit(5L)))
      SkewSalting.saltedJoin(ev, dim, "user_id")
        .groupBy("user_bucket")
        .agg(count(lit(1)).as("cnt"), dbl(sum(dec(col("value")))).as("total"))
        .orderBy("user_bucket")
    }),

    // As-of join (union + running-last window; DuckDB ASOF JOIN is the
    // oracle): every click picks up the most recent purchase at or before it
    // per user. Purchases are deduped per (user, ts) so the payload is
    // deterministic; max/count aggregates are float-order-insensitive.
    "asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value").as("click_value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max(col("value")).as("purchase_value"))
      TemporalJoins.asOf(clicks, purchases, "user_id", "ts")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_clicks"),
          count(col("purchase_value")).as("n_matched"),
          max(col("purchase_value")).as("max_purchase_value"))
        .orderBy("user_id")
    }),

    // Salted two-phase as-of join == plain as-of (same DuckDB ASOF oracle):
    // the hot-key-safe variant must produce identical matches while its
    // window partitions by (key, time-bucket) instead of key alone.
    "asof_join_salted" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value").as("click_value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max(col("value")).as("purchase_value"))
      TemporalJoins.asOfSalted(clicks, purchases, "user_id", "ts",
          bucketWidth = 6L * 3600 * 1000000) // 6-hour buckets over the event span
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_clicks"),
          count(col("purchase_value")).as("n_matched"),
          max(col("purchase_value")).as("max_purchase_value"))
        .orderBy("user_id")
    }),

    // Range join via time bucketing (equi-join on (key, bucket) + residual
    // filter; the plain BETWEEN theta join is the oracle): clicks landing
    // inside a 5-minute window after each error event, per user.
    "range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value").as("click_value"))
      val windows = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 5 MINUTES")).as("end_ts"))
      TemporalJoins.pointInInterval(clicks, windows, "user_id",
          "ts", "start_ts", "end_ts", bucketMicros = 300000000L)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_hits"),
          max(col("click_value")).as("max_click_value"))
        .orderBy("user_id")
    }),

    // Bucketed co-located join: both sides bucketed by the join key on disk,
    // so the join needs NO exchange (verified by BucketedJoinSpec). The
    // result equals the plain parquet join — that's the oracle.
    "j5_bucketed_join" -> ((s, dir) => {
      s.sql("DROP TABLE IF EXISTS orders_bkt")
      s.sql("DROP TABLE IF EXISTS customer_bkt")
      // a fresh JVM has an empty in-memory catalog but the warehouse files
      // survive on disk — clear them so saveAsTable never hits a stale path
      Seq("orders_bkt", "customer_bkt").foreach { t =>
        graft.Scratch.rm(new java.io.File(s"${graft.Scratch.target}/spark-warehouse/$t"))
      }
      Tables.orders(s, dir).write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable("orders_bkt")
      Tables.customer(s, dir).write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable("customer_bkt")
      s.table("orders_bkt")
        .join(s.table("customer_bkt"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), dbl(sum(dec(col("o_totalprice")))).as("revenue"))
        .orderBy("c_mktsegment")
    })
  )

  val oracle: Map[String, String] = Map(
    "skew_salted_agg" ->
      """SELECT event_type, COUNT(*) AS cnt,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
         FROM events GROUP BY event_type ORDER BY event_type""",
    "skew_salted_join" ->
      """SELECT user_id % 5 AS user_bucket, COUNT(*) AS cnt,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
         FROM events GROUP BY 1 ORDER BY user_bucket""",
    "asof_join" ->
      """WITH l AS (
           SELECT user_id, ts, value AS click_value FROM events WHERE event_type = 'click'),
         r AS (
           SELECT user_id, ts, MAX(value) AS purchase_value
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
         j AS (
           SELECT l.user_id AS user_id, r.purchase_value
           FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts)
         SELECT user_id, COUNT(*) AS n_clicks, COUNT(purchase_value) AS n_matched,
                MAX(purchase_value) AS max_purchase_value
         FROM j GROUP BY user_id ORDER BY user_id""",
    "asof_join_salted" ->
      """WITH l AS (
           SELECT user_id, ts, value AS click_value FROM events WHERE event_type = 'click'),
         r AS (
           SELECT user_id, ts, MAX(value) AS purchase_value
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
         j AS (
           SELECT l.user_id AS user_id, r.purchase_value
           FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts)
         SELECT user_id, COUNT(*) AS n_clicks, COUNT(purchase_value) AS n_matched,
                MAX(purchase_value) AS max_purchase_value
         FROM j GROUP BY user_id ORDER BY user_id""",
    "range_join" ->
      """WITH p AS (
           SELECT user_id, ts, value AS click_value FROM events WHERE event_type = 'click'),
         i AS (
           SELECT user_id, ts AS start_ts, ts + INTERVAL 5 MINUTE AS end_ts
           FROM events WHERE event_type = 'error')
         SELECT p.user_id AS user_id, COUNT(*) AS n_hits,
                MAX(p.click_value) AS max_click_value
         FROM p JOIN i ON p.user_id = i.user_id
                      AND p.ts BETWEEN i.start_ts AND i.end_ts
         GROUP BY 1 ORDER BY user_id""",
    "j5_bucketed_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""
  )
}
