package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dml.Dml
import graft.gen.Synthesize
import graft.maintenance.Maintenance
import graft.table.GraftTable

/** Table-layer operators (create/append/DML/time-travel/maintenance) exposed
  * as driver-checkable queries: each entry builds a scratch `GraftTable` from
  * a deterministic slice of the testdata, applies the operation, and returns a
  * read-back whose expected value the DuckDB oracle derives from the SAME
  * source parquet — so the snapshot log, COW rewrite, and evolution replay are
  * all on the hash-checked path.
  */
object TableQueries {
  type Q = (SparkSession, String) => DataFrame

  private val ScratchRoot = "/root/repo/target/graft-scratch"

  /** Fresh scratch dir per query invocation (Verify and Bench both rebuild). */
  private def scratch(name: String): String = {
    val dir = new java.io.File(s"$ScratchRoot/$name")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    if (dir.exists()) rm(dir)
    dir.mkdirs()
    dir.toString
  }

  // Hash-stable guarded formatting shared across query files — see Fmt.
  private def dec(c: org.apache.spark.sql.Column) = Fmt.dec(c)
  private def dbl(c: org.apache.spark.sql.Column) = Fmt.dbl(c)

  private def liSubset(s: SparkSession, dir: String, maxKey: Long): DataFrame =
    Tables.lineitem(s, dir).filter(col("l_orderkey") < maxKey)

  private def checksum(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("row_count"),
      dbl(sum(dec(col("l_quantity")))).as("sum_qty"))

  val queries: Map[String, Q] = Map(
    // D1 — COW UPDATE: bump quantity on one returnflag, checksum read-back
    "t_cow_update" -> ((s, dir) => {
      val t = GraftTable.create(s, scratch("cow_update"), liSubset(s, dir, 1000).schema)
      t.append(liSubset(s, dir, 1000))
      Dml.update(t, col("l_returnflag") === "R",
        Map("l_quantity" -> (col("l_quantity") + 5.0)))
      checksum(t.readLatest())
    }),

    // D2 — COW DELETE: drop one returnflag, checksum read-back
    "t_cow_delete" -> ((s, dir) => {
      val t = GraftTable.create(s, scratch("cow_delete"), liSubset(s, dir, 1000).schema)
      t.append(liSubset(s, dir, 1000))
      Dml.delete(t, col("l_returnflag") === "R")
      checksum(t.readLatest())
    }),

    // Metadata-only aggregates (the Iceberg aggregate-pushdown analog):
    // COUNT(*)/MIN/MAX answered purely from snapshot metadata — per-file row
    // counts and footer bounds over two commits — with NO data file opened
    // (MetadataAggSpec proves it by deleting the data dir first). Values
    // still hash-match the oracle's full scan; long, double, and timestamp
    // families all resolve through the same physical-bound rendering.
    "t_meta_agg" -> ((s, dir) => {
      import s.implicits._
      val base = Tables.orders(s, dir).filter(col("o_orderkey") < 500)
      val t = GraftTable.create(s, scratch("meta_agg"), base.schema)
      t.append(base.filter(col("o_orderkey") < 250))
      t.append(base.filter(col("o_orderkey") >= 250))
      val cnt = t.countRowsFromMetadata().getOrElse(
        sys.error("metadata count must be available on a delete-free table"))
      val (mnK, mxK) = t.minMaxFromMetadata("o_orderkey").getOrElse(
        sys.error("o_orderkey bounds must be available"))
      val (mnP, mxP) = t.minMaxFromMetadata("o_totalprice").getOrElse(
        sys.error("o_totalprice bounds must be available"))
      val (mnD, mxD) = t.minMaxFromMetadata("o_orderdate").getOrElse(
        sys.error("o_orderdate bounds must be available"))
      Seq((cnt, mnK.asInstanceOf[Long], mxK.asInstanceOf[Long],
        mnP.asInstanceOf[Double], mxP.asInstanceOf[Double],
        mnD.asInstanceOf[java.time.LocalDateTime], mxD.asInstanceOf[java.time.LocalDateTime]))
        .toDF("row_count", "min_key", "max_key", "min_price", "max_price",
          "min_date", "max_date")
    }),

    // Incremental append scan (Iceberg incremental read): rows appended in
    // (fromId, toId] only — the CDC consumption primitive. A compaction
    // inside the range is content-preserving and skipped; the oracle is the
    // 2nd+3rd slices exactly.
    "t_incremental_read" -> ((s, dir) => {
      val base = Tables.orders(s, dir).filter(col("o_orderkey") < 300)
      val t = GraftTable.create(s, scratch("incremental_read"), base.schema)
      t.append(base.filter(col("o_orderkey") < 100))
      val fromId = t.latest.snapshotId
      t.append(base.filter(col("o_orderkey") >= 100 && col("o_orderkey") < 200))
      Maintenance.rewriteDataFiles(t, minInputFiles = 2) // content-preserving, skipped
      t.append(base.filter(col("o_orderkey") >= 200))
      t.readIncremental(fromId, t.latest.snapshotId)
        .agg(count(lit(1)).as("row_count"),
          dbl(sum(dec(col("o_totalprice")))).as("sum_price"),
          min(col("o_orderkey")).as("min_key"))
    }),

    // Bloom-filtered point lookup (the Iceberg write.parquet.bloom-filter
    // property analog): the table property puts a parquet bloom filter on
    // the key column of every written file, Spark's reader consults it on
    // the pushed-down equality, and the lookup result rides the hash-checked
    // output with a per-file bloom-present proof column. A HIGH-CARDINALITY
    // key (orders' unique o_orderkey) is the honest demo: parquet drops the
    // bloom for chunks that stay fully dictionary-encoded, because the
    // dictionary page already gives exact row-group skipping there.
    "t_bloom_lookup" -> ((s, dir) => {
      val data = Tables.orders(s, dir).filter(col("o_orderkey") < 2000)
      val t = GraftTable.create(s, scratch("bloom_lookup"), data.schema,
        properties = Map(GraftTable.BloomFilterColumnsProp -> "o_orderkey"))
      t.append(data)
      val allBloom = t.latest.files.forall(f =>
        t.bloomFilterColumns(f.path).contains("o_orderkey"))
      t.readLatest().filter(col("o_orderkey") === 999)
        .agg(count(lit(1)).as("row_count"),
          dbl(sum(dec(col("o_totalprice")))).as("sum_price"))
        .withColumn("all_files_bloomed", lit(allBloom))
    }),

    // Properties + all_files metadata tables: create-time and post-hoc
    // property versions merge (CAS-published), and the all-files listing
    // counts every (snapshot, file) reference across the lineage — three
    // single-file commits referenced by successive snapshots give 1+2+3
    // references over 3 distinct files. Deterministic, VALUES-style oracle.
    "t_props_meta" -> ((s, dir) => {
      import s.implicits._
      val base = Tables.orders(s, dir).filter(col("o_orderkey") < 90)
      val t = GraftTable.create(s, scratch("props_meta"), base.schema,
        properties = Map("write.sort-order" -> "o_orderkey", "owner" -> "pipeline"))
      t.setProperties(Map("owner" -> Some("team-data"), "comment" -> Some("demo")))
      (0 until 3).foreach(i => t.append(
        base.filter(col("o_orderkey") % 3 === i).coalesce(1)))
      val props = t.propertiesTable()
      val refs = t.allFiles().agg(
        count(lit(1)).as("n_refs"),
        countDistinct(col("file_path")).as("n_distinct_files"))
      props.crossJoin(refs)
    }),

    // Null-count file skipping (the Iceberg null_value_counts analog): a
    // derived nullable column lands in three files — never-null, all-null,
    // mixed — and IS NOT NULL / IS NULL reads each provably skip the file
    // that cannot match, with the scan counts and the metadata-only
    // COUNT(col) riding the hash-checked output.
    "t_null_prune" -> ((s, dir) => {
      import s.implicits._
      val base = Tables.lineitem(s, dir).filter(col("l_orderkey") < 600)
        .withColumn("q_big", when(col("l_quantity") > 25, col("l_quantity")))
      val t = GraftTable.create(s, scratch("null_prune"), base.schema)
      t.append(base.filter(col("l_orderkey") < 300 && col("q_big").isNotNull).coalesce(1))
      t.append(base.filter(col("l_orderkey") < 300 && col("q_big").isNull).coalesce(1))
      t.append(base.filter(col("l_orderkey") >= 300).coalesce(1))
      val (selNotNull, total) = t.planNullability(t.latest, "q_big", isNull = false)
      val (selNull, _) = t.planNullability(t.latest, "q_big", isNull = true)
      val notNullRows = t.readWhereNull("q_big", isNull = false).count()
      val nullRows = t.readWhereNull("q_big", isNull = true).count()
      val metaCount = t.countNonNullFromMetadata("q_big").getOrElse(
        sys.error("null counts must be available on a freshly-written table"))
      Seq((notNullRows, nullRows, selNotNull.size.toLong, selNull.size.toLong,
        total.toLong, metaCount))
        .toDF("notnull_rows", "null_rows", "notnull_files_scanned",
          "null_files_scanned", "n_files", "meta_nonnull_count")
    }),

    // Exactly-once CDC mirroring (TableFollow): a follower table replays the
    // source's changelog in two cycles — appends first, then a MOR upsert +
    // keyed delete applied as one net-effect commit — and must equal the
    // source bit-for-bit (mirror_diff = symmetric exceptAll count, 0).
    // n_dst_commits = create + two follow commits proves the O(delta) cycle
    // count; the oracle derives the same final state from the source parquet.
    "t_follow_cdc" -> ((s, dir) => {
      val base = Tables.orders(s, dir).filter(col("o_orderkey") < 200)
      val src = GraftTable.create(s, scratch("follow_src"), base.schema)
      val dst = GraftTable.create(s, scratch("follow_dst"), base.schema)
      src.append(base.filter(col("o_orderkey") < 150))
      graft.streaming.TableFollow.follow(src, dst, Seq("o_orderkey"))
      Dml.upsertMor(src,
        base.filter(col("o_orderkey") >= 100)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0),
        Seq("o_orderkey"))
      Dml.deleteMorKeys(src,
        base.filter(col("o_orderkey") % 7 === 0).select("o_orderkey"))
      graft.streaming.TableFollow.follow(src, dst, Seq("o_orderkey"))
      // Symmetric multiset diff in ONE aggregation pass (VERDICT r21 #4):
      // union the sides under a +1/-1 tag, group by every column, and sum
      // |net| — exceptAll keeps max(0, cnt_a − cnt_b) copies per distinct
      // row, so the two directions sum to Σ|cnt_a − cnt_b| exactly. The
      // two-direction exceptAll form aggregated each side twice and joined
      // twice (4 sort-aggregate passes); this reads each side once. dst is
      // still checkpointed (the final agg re-reads it); src is now read
      // once, so its checkpoint would be pure overhead.
      val dstRows = dst.readLatest().localCheckpoint(eager = true)
      val srcRows = src.readLatest()
      val keyCols = dstRows.columns.map(col).toSeq
      val diff = dstRows.withColumn("_side", lit(1L))
        .unionByName(srcRows.withColumn("_side", lit(-1L)))
        .groupBy(keyCols: _*).agg(sum(col("_side")).as("_net"))
        .agg(coalesce(sum(abs(col("_net"))), lit(0L)).as("d"))
        .first().getLong(0)
      dstRows.agg(
          count(lit(1)).as("row_count"),
          dbl(sum(dec(col("o_totalprice")))).as("sum_price"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
        .withColumn("mirror_diff", lit(diff))
        .withColumn("n_dst_commits", lit(dst.snapshotsList.size.toLong))
    }),

    // Incremental view maintenance: a per-priority COUNT/SUM view kept
    // current from the source changelog's net deltas (O(delta) per cycle,
    // exact DECIMAL sums) through the same append + MOR-upsert + MOR-delete
    // history as t_follow_cdc; ivm_diff proves the incremental state equals
    // a from-scratch re-aggregation bit-for-bit.
    "t_follow_agg_ivm" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val base = Tables.orders(s, dir).filter(col("o_orderkey") < 200)
      val src = GraftTable.create(s, scratch("followagg_src"), base.schema)
      val dst = GraftTable.create(s, scratch("followagg_dst"), StructType(Seq(
        StructField("o_orderpriority", StringType),
        StructField("n_rows", LongType),
        StructField("sum_val", DecimalType(18, 2)))))
      def cycle(): Unit = {
        graft.streaming.TableFollow.followAgg(src, dst,
          Seq("o_orderpriority"), "o_totalprice")
        ()
      }
      src.append(base.filter(col("o_orderkey") < 150))
      cycle()
      Dml.upsertMor(src,
        base.filter(col("o_orderkey") >= 100)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0),
        Seq("o_orderkey"))
      Dml.deleteMorKeys(src,
        base.filter(col("o_orderkey") % 7 === 0).select("o_orderkey"))
      cycle()
      // same one-pass symmetric diff as t_follow_cdc (VERDICT r21 #4); the
      // view stays checkpointed (the final projection re-reads it), the
      // recomputation is read once so it no longer checkpoints
      val recomputed = src.readLatest().groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("o_totalprice"))).cast(DecimalType(18, 2)).as("sum_val"))
      val view = dst.readLatest().localCheckpoint(eager = true)
      val ivmKeys = view.columns.map(col).toSeq
      val ivmDiff = view.withColumn("_side", lit(1L))
        .unionByName(recomputed.withColumn("_side", lit(-1L)))
        .groupBy(ivmKeys: _*).agg(sum(col("_side")).as("_net"))
        .agg(coalesce(sum(abs(col("_net"))), lit(0L)).as("d"))
        .first().getLong(0)
      view.select(col("o_orderpriority"), col("n_rows"),
          dbl(col("sum_val")).as("sum_price"))
        .withColumn("ivm_diff", lit(ivmDiff))
        .orderBy("o_orderpriority")
    }),

    // Rollback procedure: a bad COW delete is undone by a NEW commit that
    // restores the earlier state; history stays linear (4 snapshots:
    // create, append, delete, rollback) and the bad commit stays
    // time-travelable until expiry.
    "t_rollback" -> ((s, dir) => {
      val base = Tables.orders(s, dir).filter(col("o_orderkey") < 200)
      val t = GraftTable.create(s, scratch("rollback"), base.schema)
      t.append(base)
      val good = t.latest.snapshotId
      Dml.delete(t, col("o_orderkey") % 3 === 0) // the "bad" commit
      t.rollbackTo(good)
      t.readLatest().agg(count(lit(1)).as("row_count"),
          dbl(sum(dec(col("o_totalprice")))).as("sum_price"))
        .withColumn("n_snapshots", lit(t.snapshotsList.size.toLong))
    }),

    // Tag refs: a tag pins its snapshot through expiry (retain-last-1 would
    // otherwise drop it); the tagged read reproduces the first slice while
    // the latest read sees everything.
    "t_tags" -> ((s, dir) => {
      val base = Tables.orders(s, dir).filter(col("o_orderkey") < 200)
      val t = GraftTable.create(s, scratch("tags"), base.schema)
      t.append(base.filter(col("o_orderkey") < 100))
      t.createTag("train-v1", t.latest.snapshotId)
      t.append(base.filter(col("o_orderkey") >= 100))
      Maintenance.expireSnapshots(t, retainLast = 1)
      val tagged = t.readTag("train-v1")
        .agg(count(lit(1)).as("tagged_rows"),
          dbl(sum(dec(col("o_totalprice")))).as("tagged_price"))
      val all = t.readLatest().agg(count(lit(1)).as("row_count"))
      tagged.crossJoin(all)
    }),

    // Policy-driven maintenance pass: accumulated MOR deletes + small files
    // + a long log trigger all four procedures in one call; the report
    // fields are deterministic (commit counts, not file counts) and content
    // is exactly the source minus the deleted keys.
    "t_maintain" -> ((s, dir) => {
      val base = Tables.orders(s, dir).filter(col("o_orderkey") < 300)
      val t = GraftTable.create(s, scratch("maintain"), base.schema)
      t.append(base.filter(col("o_orderkey") < 100))
      t.append(base.filter(col("o_orderkey") >= 100 && col("o_orderkey") < 200))
      t.append(base.filter(col("o_orderkey") >= 200))
      Dml.deleteMor(t, col("o_orderkey") % 9 === 0, Seq("o_orderkey"))
      Dml.deleteMor(t, col("o_orderkey") % 11 === 0, Seq("o_orderkey"))
      val report = Maintenance.maintainTable(t, graft.maintenance.MaintenancePolicy(
        maxDeleteFiles = 1, maxSnapshotDocs = 3, retainLast = 2))
      t.readLatest().agg(count(lit(1)).as("row_count"),
          dbl(sum(dec(col("o_totalprice")))).as("sum_price"))
        .withColumn("materialized", lit(report.materializedDeletes))
        .withColumn("compacted", lit(report.compacted))
        .withColumn("n_consolidated", lit(report.manifestsConsolidated.toLong))
        .withColumn("n_expired", lit(report.snapshotsExpired.toLong))
    }),

    // Partitions metadata table: per-partition file/row counts from snapshot
    // metadata alone (no data file opened) — the oracle recomputes the same
    // rollup from the raw data. Two appends per partition prove cross-commit
    // aggregation; n_files stays metadata-derived but data-checkable row
    // counts anchor the hash.
    "t_partitions_meta" -> ((s, dir) => {
      val base = Tables.orders(s, dir).filter(col("o_orderkey") < 400)
        .withColumn("bucket", (col("o_orderkey") % 4).cast("string"))
      val t = GraftTable.create(s, scratch("partitions_meta"), base.schema,
        partitionCols = Seq("bucket"))
      t.append(base.filter(col("o_orderkey") < 200))
      t.append(base.filter(col("o_orderkey") >= 200))
      t.partitions().select("partition", "total_rows").orderBy("partition")
    }),

    // Write-audit-publish: a branch stages the second slice invisibly
    // (rows_during_audit proves main stayed at the first slice), the audit
    // reads the staged state, and publish fast-forwards main in one commit.
    "t_wap" -> ((s, dir) => {
      val base = Tables.orders(s, dir)
      val t = GraftTable.create(s, scratch("wap"), base.schema)
      t.append(base.filter(col("o_orderkey") < 100))
      t.createBranch("stage")
      t.appendToBranch("stage", base.filter(col("o_orderkey") >= 100 && col("o_orderkey") < 200))
      val auditRows = t.readBranch("stage").count()
      val mainDuring = t.readLatest().count()
      t.publishBranch("stage")
      t.readLatest().agg(count(lit(1)).as("row_count"),
          dbl(sum(dec(col("o_totalprice")))).as("sum_price"))
        .withColumn("rows_during_audit", lit(mainDuring))
        .withColumn("rows_at_audit", lit(auditRows))
    }),

    // Row-level changelog (CDC diff): appends surface as inserts, a MOR
    // delete as deletes, an upsert as delete-of-preimage + insert — grouped
    // by change type so the oracle can reconstruct every branch from the
    // same source slice.
    "t_changelog" -> ((s, dir) => {
      val base = Tables.orders(s, dir)
      val t = GraftTable.create(s, scratch("changelog"), base.schema)
      val from = t.latest.snapshotId
      t.append(base.filter(col("o_orderkey") < 200))
      Dml.deleteMor(t, col("o_orderkey") % 7 === 0, Seq("o_orderkey"))
      val source = base.filter(col("o_orderkey") >= 100 && col("o_orderkey") < 300)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      Dml.upsertMor(t, source, Seq("o_orderkey"))
      t.readChangelog(from, t.latest.snapshotId)
        .groupBy(col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("row_count"),
          sum(col("o_orderkey")).as("key_sum"))
        .orderBy("change_type")
    }),

    // Z-order clustering rewrite: after clustering on (event_id, user_id),
    // a narrow range on EITHER column provably skips files (booleans in the
    // oracle-checked output), while content is byte-identical to the source.
    "t_zorder" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select("event_id", "user_id", "value")
      val t = GraftTable.create(s, scratch("zorder"), ev.schema)
      t.append(ev.repartition(8))
      val target = math.max(1L, t.latest.files.map(_.sizeBytes).sum / 16)
      Maintenance.zorderRewrite(t, Seq("event_id", "user_id"), target)
      val nEvents = ev.count()
      val (selE, totE) = t.planBetween(t.latest, "event_id", nEvents / 2, nEvents / 2 + nEvents / 20)
      val (selU, totU) = t.planBetween(t.latest, "user_id", 3L, 3L)
      // STRICT pruning (fewer files than total), not a 2x margin: the range
      // shuffle behind the z-rewrite samples its boundaries per run, so file
      // widths wobble and a fixed-ratio flag is knife-edge under load; the
      // deterministic tightness properties live in ZorderSpec.
      t.readLatest().agg(count(lit(1)).as("row_count"),
          sum(col("event_id")).as("id_sum"),
          sum(col("user_id")).as("user_sum"))
        .withColumn("pruned_event", lit(selE.size < totE))
        .withColumn("pruned_user", lit(selU.size < totU))
    }),

    // The DSv2 connector's BATCH face (spark.read.format("graft")): a
    // two-commit table reads through the connector's own per-file readers
    // and the aggregate hash-matches the source rows (DuckDB-checked) —
    // what an external Spark job pointed at the directory consumes.
    "t_connector_batch" -> ((s, dir) => {
      val base = Tables.orders(s, dir).filter(col("o_orderkey") < 400)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val t = GraftTable.create(s, scratch("connector_batch"), base.schema)
      t.append(base.filter(col("o_orderkey") < 200))
      t.append(base.filter(col("o_orderkey") >= 200))
      s.read.format("graft").load(t.tableDir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          dbl(sum(dec(col("o_totalprice")))).as("total"))
        .orderBy("o_orderstatus")
    }),

    // The DSv2 connector's batch WRITE face (df.write.format("graft")
    // .mode(...).save(dir)): path-based appends — one with shuffled column
    // order, which the connector aligns to the table layout — then an
    // overwrite on a second table replacing all content in one snapshot;
    // both read back through the connector and hash-match the source rows.
    "t_connector_write" -> ((s, dir) => {
      val base = Tables.orders(s, dir).filter(col("o_orderkey") < 400)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val t = GraftTable.create(s, scratch("connector_write"), base.schema)
      base.filter(col("o_orderkey") < 200)
        .write.format("graft").mode("append").save(t.tableDir)
      base.filter(col("o_orderkey") >= 200)
        .select("o_totalprice", "o_orderkey", "o_orderstatus")
        .write.format("graft").mode("append").save(t.tableDir)
      val t2 = GraftTable.create(s, scratch("connector_write_ow"), base.schema)
      base.write.format("graft").mode("append").save(t2.tableDir)
      base.filter(col("o_orderkey") < 100)
        .write.format("graft").mode("overwrite").save(t2.tableDir)
      val owRows = s.read.format("graft").load(t2.tableDir).count()
      s.read.format("graft").load(t.tableDir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          dbl(sum(dec(col("o_totalprice")))).as("total"))
        .withColumn("ow_rows", lit(owRows))
        .withColumn("ow_replaced", lit(t2.latest.operation == "overwrite"))
        .orderBy("o_orderstatus")
    }),

    // Metadata-only aggregate pushdown through the connector
    // (SupportsPushDownAggregates): ungrouped COUNT(*)/MIN/MAX/COUNT(col)
    // answer from snapshot file counts + footer stats — `agg_pushed` pins
    // that the plan carries the PushedAggregation scan (no data file is
    // opened), the decisive shape for a 100 TB full-table COUNT.
    "t_connector_agg" -> ((s, dir) => {
      val base = Tables.orders(s, dir).filter(col("o_orderkey") < 500)
        .select("o_orderkey", "o_custkey", "o_orderstatus")
      val t = GraftTable.create(s, scratch("connector_agg"), base.schema)
      t.append(base.filter(col("o_orderkey") < 250))
      t.append(base.filter(col("o_orderkey") >= 250))
      val agg = s.read.format("graft").load(t.tableDir)
        .agg(count(lit(1)).as("row_count"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"),
          count(col("o_custkey")).as("n_cust"))
      val pushed = agg.queryExecution.executedPlan.toString
        .contains("PushedAggregation")
      agg.withColumn("agg_pushed", lit(pushed))
    }),

    // Incremental batch read through the connector (the Iceberg
    // incremental-scan analog): (start, end] returns exactly the range's
    // appends — O(range) metadata planning, a later compaction doesn't
    // double the rows (files come from each commit's own doc).
    "t_connector_incremental" -> ((s, dir) => {
      val base = Tables.orders(s, dir).filter(col("o_orderkey") < 900)
        .select("o_orderkey", "o_totalprice")
      val t = GraftTable.create(s, scratch("connector_incr"), base.schema)
      t.append(base.filter(col("o_orderkey") < 300))
      val s1 = t.latest.snapshotId
      t.append(base.filter(col("o_orderkey") >= 300 && col("o_orderkey") < 600))
      val s2 = t.latest.snapshotId
      t.append(base.filter(col("o_orderkey") >= 600))
      graft.maintenance.Maintenance.rewriteDataFiles(t, minInputFiles = 2)
      s.read.format("graft")
        .option("start-snapshot-id", s1.toString)
        .option("end-snapshot-id", s2.toString).load(t.tableDir)
        .agg(count(lit(1)).as("row_count"),
          dbl(sum(dec(col("o_totalprice")))).as("sum_price"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
    }),

    // Storage-partitioned join through the connector
    // (SupportsReportPartitioning + HasPartitionKey): two graft tables
    // co-partitioned on the join key join with NO Exchange on either side —
    // `no_shuffle` pins the executed plan, values prove no row was lost to
    // the group alignment. The shape that keeps a 100 TB fact-fact join
    // from moving the data twice.
    "t_connector_spj" -> ((s, dir) => {
      import s.implicits._
      val base = Tables.orders(s, dir).select("o_orderkey", "o_orderstatus")
      val tA = GraftTable.create(s, scratch("spj_fact"),
        base.schema, partitionCols = Seq("o_orderstatus"))
      tA.append(base.filter(col("o_orderkey") < 600))
      val bSide = base.filter(col("o_orderkey") >= 600 && col("o_orderkey") < 900)
        .select(col("o_orderkey").as("b_key"), col("o_orderstatus"))
      val tB = GraftTable.create(s, scratch("spj_build"),
        bSide.schema, partitionCols = Seq("o_orderstatus"))
      tB.append(bSide)
      val confs = Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
      val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        // no ORDER BY here: a global sort legitimately range-shuffles, and
        // the pin is about the JOIN+AGG needing no Exchange; rows are
        // sorted driver-side below
        val j = s.read.format("graft").load(tA.tableDir)
          .join(s.read.format("graft").load(tB.tableDir), Seq("o_orderstatus"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_a"),
            sum(col("b_key")).as("sum_b"))
        val rows = j.collect()
        val noShuffle = !j.queryExecution.executedPlan.toString.contains("Exchange")
        rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSeq.sortBy(_._1).toDF("o_orderstatus", "n", "sum_a", "sum_b")
          .withColumn("no_shuffle", lit(noShuffle))
      } finally saved.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }),

    // GROUPED metadata aggregate through the connector (beyond Iceberg,
    // which refuses any grouping): GROUP BY an identity-partition column
    // answers one row per partition from per-group file metadata —
    // `agg_pushed` pins that no data file was opened.
    "t_connector_agg_group" -> ((s, dir) => {
      val base = Tables.orders(s, dir).filter(col("o_orderkey") < 800)
        .select("o_orderkey", "o_orderstatus")
      val t = GraftTable.create(s, scratch("connector_agg_group"), base.schema,
        partitionCols = Seq("o_orderstatus"))
      t.append(base)
      val g = s.read.format("graft").load(t.tableDir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
      val pushed = g.queryExecution.executedPlan.toString
        .contains("PushedAggregation")
      g.withColumn("agg_pushed", lit(pushed)).orderBy("o_orderstatus")
    }),

    // Batch time travel through the connector (the Iceberg read-option
    // analog): snapshot-id pins the first append's snapshot, and the
    // metadata aggregate composes with it — `agg_pushed` pins that the
    // historical COUNT/MIN/MAX still answered from metadata alone.
    "t_connector_travel" -> ((s, dir) => {
      val base = Tables.orders(s, dir).filter(col("o_orderkey") < 600)
        .select("o_orderkey", "o_custkey")
      val t = GraftTable.create(s, scratch("connector_travel"), base.schema)
      t.append(base.filter(col("o_orderkey") < 300))
      val snap1 = t.latest
      t.append(base.filter(col("o_orderkey") >= 300))
      val at = s.read.format("graft")
        .option("snapshot-id", snap1.snapshotId.toString).load(t.tableDir)
        .agg(count(lit(1)).as("row_count"), max(col("o_orderkey")).as("max_key"))
      val pushed = at.queryExecution.executedPlan.toString
        .contains("PushedAggregation")
      val headRows = s.read.format("graft").load(t.tableDir).count()
      at.withColumn("agg_pushed", lit(pushed))
        .withColumn("head_rows", lit(headRows))
    }),

    // Dynamic partition pruning through the connector
    // (SupportsRuntimeFiltering): a priority-partitioned fact joined to a
    // two-row dim — Spark re-plans the graft scan at runtime with the dim's
    // actual join keys as an In filter, so only the matching partitions'
    // files are read (plan-shape pinned in ConnectorPushdownSpec; values
    // here prove the pruning never drops a matching row).
    "t_connector_dpp" -> ((s, dir) => {
      import s.implicits._
      val base = Tables.orders(s, dir).filter(col("o_orderkey") < 1000)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val t = GraftTable.create(s, scratch("connector_dpp"), base.schema,
        partitionCols = Seq("o_orderpriority"))
      t.append(base)
      val fact = s.read.format("graft").load(t.tableDir)
      val dim = Seq("1-URGENT", "3-MEDIUM").toDF("o_orderpriority")
      fact.join(broadcast(dim), Seq("o_orderpriority"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          dbl(sum(dec(col("o_totalprice")))).as("total"))
        .orderBy("o_orderpriority")
    }),

    // Linear sort rewrite via the VERBATIM CALL route (Iceberg's
    // rewrite_data_files(strategy => 'sort', sort_order => ...)): a table
    // appended in shuffled order re-clusters on event_id, so leading-column
    // stats pruning bites (strict fewer-files proof like t_zorder; the
    // sampled range boundaries make exact file counts non-deterministic)
    // while content is byte-preserved.
    "t_sort_rewrite" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select("event_id", "user_id", "value")
      val t = GraftTable.create(s, scratch("sort_rewrite"), ev.schema)
      t.append(ev.repartition(8))
      val target = math.max(1L, t.latest.files.map(_.sizeBytes).sum / 16)
      val eng = new graft.plan.SparkSqlEngine(s)
      eng.registerGraftTable("sorted_t", t)
      val row = eng.execute(
        s"""CALL opencatalog.system.rewrite_data_files(table => 'sorted_t',
            strategy => 'sort', sort_order => 'event_id ASC',
            options => map('target-file-size-bytes', '$target'))""").rows.head
      val nEvents = ev.count()
      val (sel, tot) = t.planBetween(t.latest, "event_id",
        nEvents / 2, nEvents / 2 + nEvents / 20)
      t.readLatest().agg(count(lit(1)).as("row_count"),
          sum(col("event_id")).as("id_sum"),
          sum(col("user_id")).as("user_sum"))
        .withColumn("pruned_event", lit(sel.size < tot))
        .withColumn("files_rewritten",
          lit(row("rewritten_data_files_count").asInstanceOf[Long] > 0L))
    }),

    // Merge-on-read DELETE (the Iceberg v2 equality-delete path): the commit
    // writes a small delete file and rewrites ZERO data files — proven in the
    // oracle-checked output by `data_files_rewritten` (set difference of the
    // file lists around the delete) — while the read-back reconciles with a
    // per-row check on the files the delete can touch.
    "t_mor_delete" -> ((s, dir) => {
      val base = Tables.orders(s, dir).filter(col("o_orderkey") < 200)
      val t = GraftTable.create(s, scratch("mor_delete"), base.schema)
      t.append(base.filter(col("o_orderkey") < 70))
      t.append(base.filter(col("o_orderkey") >= 70 && col("o_orderkey") < 140))
      t.append(base.filter(col("o_orderkey") >= 140))
      val filesBefore = t.latest.files.map(_.path).toSet
      Dml.deleteMor(t, col("o_orderkey") % 7 === 0, Seq("o_orderkey"))
      val rewritten = (t.latest.files.map(_.path).toSet -- filesBefore).size.toLong
      t.readLatest().agg(count(lit(1)).as("row_count"),
          dbl(sum(dec(col("o_totalprice")))).as("sum_price"))
        .withColumn("data_files_rewritten", lit(rewritten))
        .withColumn("n_delete_files", lit(t.latest.deletes.size.toLong))
    }),

    // Merge-on-read UPSERT (the Flink-CDC shape): ONE commit equality-deletes
    // the source keys and appends the new versions; `n_commits` proves the
    // atomicity (create + append + upsert = 3 snapshots), and the content
    // matches the COW merge's oracle on the same slice.
    "t_mor_upsert" -> ((s, dir) => {
      val base = Tables.orders(s, dir)
      val t = GraftTable.create(s, scratch("mor_upsert"), base.schema)
      t.append(base.filter(col("o_orderkey") < 100))
      val source = base.filter(col("o_orderkey") >= 50 && col("o_orderkey") < 150)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      Dml.upsertMor(t, source, Seq("o_orderkey"))
      t.readLatest().agg(count(lit(1)).as("row_count"),
          dbl(sum(dec(col("o_totalprice")))).as("sum_price"))
        .withColumn("n_commits", lit(t.snapshotsList.size.toLong))
    }),

    // Positional merge-on-read DML (the Iceberg v3 deletion-vector shape):
    // predicate DELETE then predicate UPDATE each commit a delete VECTOR of
    // (part-file name, row position) tuples — data_files_rewritten pins zero
    // data files rewritten across BOTH, no identifier columns are declared
    // (positions name rows, not key values), and the read reconciles with a
    // per-row lookup of the row address on the files the vector names.
    "t_mor_dv" -> ((s, dir) => {
      val base = Tables.orders(s, dir).filter(col("o_orderkey") < 200)
      val t = GraftTable.create(s, scratch("mor_dv"), base.schema)
      t.append(base.filter(col("o_orderkey") < 70))
      t.append(base.filter(col("o_orderkey") >= 70 && col("o_orderkey") < 140))
      t.append(base.filter(col("o_orderkey") >= 140))
      val filesBefore = t.latest.files.map(_.path).toSet
      Dml.deleteMorPositional(t, col("o_orderkey") % 7 === 0)
      Dml.updateMorPositional(t, col("o_orderkey") % 5 === 0,
        Map("o_totalprice" -> (col("o_totalprice") * 2)))
      val rewritten = (filesBefore -- t.latest.files.map(_.path).toSet).size.toLong
      t.readLatest().agg(count(lit(1)).as("row_count"),
          dbl(sum(dec(col("o_totalprice")))).as("sum_price"))
        .withColumn("data_files_rewritten", lit(rewritten))
        .withColumn("n_delete_vectors",
          lit(t.latest.deletes.count(_.positional).toLong))
    }),

    // Delete materialization: fold merge-on-read deletes back into data
    // files; content is unchanged (same oracle as the pre-materialize state)
    // and the delete list drains to zero.
    "t_mor_materialize" -> ((s, dir) => {
      val base = Tables.orders(s, dir).filter(col("o_orderkey") < 200)
      val t = GraftTable.create(s, scratch("mor_materialize"), base.schema)
      t.append(base.filter(col("o_orderkey") < 100))
      t.append(base.filter(col("o_orderkey") >= 100))
      Dml.deleteMor(t, col("o_orderkey") % 5 === 0, Seq("o_orderkey"))
      Maintenance.materializeDeletes(t)
      t.readLatest().agg(count(lit(1)).as("row_count"),
          dbl(sum(dec(col("o_totalprice")))).as("sum_price"))
        .withColumn("n_delete_files_after", lit(t.latest.deletes.size.toLong))
    }),

    // D3/J1 — MERGE upsert: doubled-price source overlaps half the target
    "t_merge_upsert" -> ((s, dir) => {
      val base = Tables.orders(s, dir)
      val t = GraftTable.create(s, scratch("merge_upsert"), base.schema)
      t.append(base.filter(col("o_orderkey") < 100))
      val source = base.filter(col("o_orderkey") >= 50 && col("o_orderkey") < 150)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      Dml.merge(t, source, "o_orderkey",
        Map("o_totalprice" -> col("src.o_totalprice")), insertNotMatched = true)
      t.readLatest().agg(count(lit(1)).as("row_count"),
        dbl(sum(dec(col("o_totalprice")))).as("sum_price"))
    }),

    // J2 — MERGE update-only (no WHEN NOT MATCHED branch): unmatched source
    // rows do nothing (ref snowflake.sql:405-409 table x table update merge)
    "t_merge_update_only" -> ((s, dir) => {
      val base = Tables.orders(s, dir)
      val t = GraftTable.create(s, scratch("merge_update_only"), base.schema)
      t.append(base.filter(col("o_orderkey") < 100))
      val source = base.filter(col("o_orderkey") >= 50 && col("o_orderkey") < 150)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      Dml.merge(t, source, "o_orderkey",
        Map("o_totalprice" -> col("src.o_totalprice")), insertNotMatched = false)
      t.readLatest().agg(count(lit(1)).as("row_count"),
        dbl(sum(dec(col("o_totalprice")))).as("sum_price"))
    }),

    // D3+spec:72 — MERGE with the mixed op profile ("20% updates, 5%
    // deletes, 75% inserts"): one merge updates matched rows, deletes
    // matched rows the source marks (key % 10 == 0), inserts unmatched
    // source rows — against a 3-file target where one file is untouched.
    "t_merge_mixed" -> ((s, dir) => {
      val base = Tables.orders(s, dir)
      val t = GraftTable.create(s, scratch("merge_mixed"), base.schema)
      t.append(base.filter(col("o_orderkey") < 50))
      t.append(base.filter(col("o_orderkey") >= 50 && col("o_orderkey") < 100))
      t.append(base.filter(col("o_orderkey") >= 150 && col("o_orderkey") < 200))
      val source = base.filter(col("o_orderkey") < 150)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      Dml.merge(t, source, "o_orderkey",
        Map("o_totalprice" -> col("src.o_totalprice")), insertNotMatched = true,
        deleteWhen = Some(col("src.o_orderkey") % 10 === 0))
      t.readLatest().agg(count(lit(1)).as("row_count"),
        dbl(sum(dec(col("o_totalprice")))).as("sum_price"))
    }),

    // The reference's flagship interop_small chain as ONE query
    // (ref framework.yaml:290-365): create → 8-row insert → evolve (add
    // channel, rename sku→product_sku, widen qty) → MERGE on the EVOLVED
    // schema with the reference's source rows (merge_sales_events.sql:8-11)
    // → trailing DELETE WHERE event_id = 4 (merge_sales_events.sql:23) →
    // COUNT + SUM(qty) checksums (merge_sales_events.sql:26-27).
    "t_interop_chain" -> ((s, _) => {
      val t = GraftTable.create(s, scratch("interop_chain"), graft.model.Schemas.salesEvents)
      t.append(Synthesize.salesEvents8(s))
      // store_rows_as baseline_snapshot (framework.yaml:317-319)
      val baselineId = t.latest.snapshotId
      t.addColumn("channel", "string", "web")
      t.renameColumn("sku", "product_sku")
      t.widenColumn("qty", "bigint")
      val source = s.sql("""
        SELECT * FROM VALUES
          (2L, 11, TIMESTAMP '2024-01-01 00:05:00', 'sku-0002', 6L, CAST(5.50 AS DECIMAL(18,2)), 'US', DATE '2024-01-01', 'app'),
          (9L, 14, TIMESTAMP '2024-01-06 08:10:00', 'sku-0006', 7L, CAST(15.00 AS DECIMAL(18,2)), 'DE', DATE '2024-01-06', 'store')
        AS t(event_id, tenant_id, event_ts, product_sku, qty, price, country, ds, channel)""")
      Dml.merge(t, source, "event_id",
        Map("qty" -> col("src.qty"), "price" -> col("src.price"),
          "channel" -> col("src.channel")), insertNotMatched = true)
      Dml.delete(t, col("event_id") === 4)
      // time_travel_validate: the pre-evolution snapshot still counts 8
      // (rowcount_equals vs the stored baseline, framework.yaml:345-351)
      val baselineRows = t.readVersionAsOf(baselineId).count()
      t.readLatest().agg(count(lit(1)).as("row_count"),
        sum(col("qty")).as("total_qty"),
        sum(when(col("channel") === "web", 1L).otherwise(0L)).as("n_web"),
        dbl(sum(dec(col("price")))).as("sum_price"))
        .withColumn("baseline_rows", lit(baselineRows))
    }),

    // T1 — VERSION AS OF: read the pre-delete snapshot
    "t_time_travel" -> ((s, dir) => {
      val t = GraftTable.create(s, scratch("time_travel"), liSubset(s, dir, 500).schema)
      t.append(liSubset(s, dir, 500))
      val baseline = t.latest.snapshotId
      Dml.delete(t, col("l_returnflag") === "R")
      checksum(t.readVersionAsOf(baseline))
    }),

    // S8 — snapshots() metadata after create → append → delete
    "t_snapshots_meta" -> ((s, dir) => {
      val t = GraftTable.create(s, scratch("snapshots_meta"), liSubset(s, dir, 500).schema)
      t.append(liSubset(s, dir, 500))
      Dml.delete(t, col("l_returnflag") === "R")
      t.snapshots().select("snapshot_id", "operation", "total_rows").orderBy("snapshot_id")
    }),

    // D4-D6 — evolution chain on the 8-row interop dataset, evolved read-back
    "t_schema_evolution" -> ((s, _) => {
      val t = GraftTable.create(s, scratch("schema_evolution"), graft.model.Schemas.salesEvents)
      t.append(Synthesize.salesEvents8(s))
      t.addColumn("channel", "string", "web")
      t.renameColumn("sku", "product_sku")
      t.widenColumn("qty", "bigint")
      t.readLatest().select("event_id", "product_sku", "qty", "channel").orderBy("event_id")
    }),

    // D7 — DESCRIBE TABLE after evolution
    "t_describe" -> ((s, _) => {
      val t = GraftTable.create(s, scratch("describe"), graft.model.Schemas.salesEvents)
      t.append(Synthesize.salesEvents8(s))
      t.addColumn("channel", "string", "web")
      t.renameColumn("sku", "product_sku")
      t.widenColumn("qty", "bigint")
      GraftTable.describe(s, t).orderBy("col_name")
    }),

    // S5/P3 — hive-partitioned table, partition-pruned read-back
    "t_partitioned_prune" -> ((s, dir) => {
      val data = liSubset(s, dir, 1000)
      val t = GraftTable.create(s, scratch("partitioned"), data.schema,
        partitionCols = Seq("l_returnflag"))
      t.append(data)
      t.readLatest().filter(col("l_returnflag") === "A")
        .agg(count(lit(1)).as("row_count"))
    }),

    // S5 — bucket partition transform (ref framework.yaml:133-134
    // `bucket(tenant_id,16)`): the transform is a derived column the caller
    // adds before append; metadata pruning then serves bucket-equality reads
    "t_bucket_transform" -> ((s, dir) => {
      val data = Tables.orders(s, dir).filter(col("o_orderkey") < 2000)
        .withColumn("bucket", pmod(col("o_custkey"), lit(4)))
      val t = GraftTable.create(s, scratch("bucket_transform"), data.schema,
        partitionCols = Seq("bucket"))
      t.append(data)
      t.readPartitions(Map("bucket" -> "1"))
        .agg(count(lit(1)).as("row_count"),
          dbl(sum(dec(col("o_totalprice")))).as("sum_price"))
    }),

    // S5 — truncate partition transform (spec ICEBERG-Interoperability-Test-
    // Spec.md:79 `truncate(sku,N)`; Snowflake translation
    // create_sales_events.sql:13-26): like bucket, the transform is a derived
    // prefix column added before append; metadata pruning then serves
    // prefix-equality reads without opening non-matching files.
    "t_truncate_transform" -> ((s, dir) => {
      val data = Tables.orders(s, dir)
        .withColumn("prio_trunc", substring(col("o_orderpriority"), 1, 1))
      val t = GraftTable.create(s, scratch("truncate_transform"), data.schema,
        partitionCols = Seq("prio_trunc"))
      t.append(data)
      t.readPartitions(Map("prio_trunc" -> "3"))
        .agg(count(lit(1)).as("row_count"),
          dbl(sum(dec(col("o_totalprice")))).as("sum_price"))
    }),

    // P4+S5 — bucket-transform METADATA pruning for point/IN-list lookups
    // (VERDICT r8 ask #1; the reference's flagship lookup workload runs
    // against bucket(16, user_id) partitioning and prunes to the matching
    // buckets from metadata alone, blob_dfs/blob-dfs_bench.py:72,132-136).
    // Footer stats are STRIPPED, so the recorded bucket partition values
    // alone must select: a 3-key IN-list plans to ≤3 of the 16 bucket files
    // (min/max bounds are near-useless for a hash-scattered key), and the
    // pruned read still returns exactly the oracle's rows.
    "t_bucket_prune" -> ((s, dir) => {
      val data = Tables.orders(s, dir)
      val t = GraftTable.create(s, scratch("bucket_prune"), data.schema,
        partitionCols = Seq("custkey_bucket"),
        properties = Map(GraftTable.PartitionTransformsProp ->
          "bucket(16,o_custkey)=custkey_bucket"))
      t.append(data)
      val keys: Seq[Any] = Seq(37L, 223L, 1141L)
      val snap = t.latest
      val statless = snap.copy(files = snap.files.map(_.copy(stats = Map.empty)))
      val (sel, total) = t.planPoints(statless, "o_custkey", keys)
      t.readSnapshot(statless.copy(files = sel.toList))
        .filter(col("o_custkey").isin(keys: _*))
        .agg(count(lit(1)).as("row_count"),
          dbl(sum(dec(col("o_totalprice")))).as("sum_price"))
        .withColumn("files_pruned", lit(sel.size <= keys.size && sel.size < total))
    }),

    // P3+S5 — months()-transform metadata pruning end to end (VERDICT r8
    // ask #2's oracle face; per-granularity boundary cases live in
    // StatsPruneSpec): a quarter-range read over a months(ts)-partitioned
    // year plans from the recorded month values alone (footer stats
    // stripped) and matches the oracle's date-range aggregate.
    "t_month_prune" -> ((s, dir) => {
      // orders' first year (testdata o_orderdate spans 1995..2001) → exactly
      // 12 month partitions; the quarter range must plan to 3 of them
      val data = Tables.orders(s, dir)
        .filter(col("o_orderdate") < lit("1996-01-01 00:00:00"))
      val t = GraftTable.create(s, scratch("month_prune"), data.schema,
        partitionCols = Seq("od_month"),
        properties = Map(GraftTable.PartitionTransformsProp ->
          "months(o_orderdate)=od_month"))
      t.append(data)
      val snap = t.latest
      val statless = snap.copy(files = snap.files.map(_.copy(stats = Map.empty)))
      val (sel, total) = t.planBetween(statless, "o_orderdate",
        "1995-04-01 00:00:00", "1995-06-30 23:59:59")
      t.readSnapshot(statless.copy(files = sel.toList))
        .filter(col("o_orderdate") >= lit("1995-04-01 00:00:00") &&
          col("o_orderdate") <= lit("1995-06-30 23:59:59"))
        .agg(count(lit(1)).as("row_count"),
          dbl(sum(dec(col("o_totalprice")))).as("sum_price"))
        .withColumn("files_pruned", lit(sel.size == 3 && total == 12))
    }),

    // P5+S5 — truncate()-transform prefix pruning (VERDICT r8 ask #6, spec
    // ICEBERG-Interoperability-Test-Spec.md:79 truncate(sku,N)): a recorded
    // prefix value bounds the column to [prefix, next), so string equality
    // prunes to the matching prefix's files from partition values alone.
    "t_truncate_prune" -> ((s, dir) => {
      val data = Tables.orders(s, dir)
      val t = GraftTable.create(s, scratch("truncate_prune"), data.schema,
        partitionCols = Seq("prio_pfx"),
        properties = Map(GraftTable.PartitionTransformsProp ->
          "truncate(1,o_orderpriority)=prio_pfx"))
      t.append(data)
      val snap = t.latest
      val statless = snap.copy(files = snap.files.map(_.copy(stats = Map.empty)))
      val (sel, total) = t.planBetween(statless, "o_orderpriority",
        "3-MEDIUM", "3-MEDIUM")
      t.readSnapshot(statless.copy(files = sel.toList))
        .filter(col("o_orderpriority") === "3-MEDIUM")
        .agg(count(lit(1)).as("row_count"),
          dbl(sum(dec(col("o_totalprice")))).as("sum_price"))
        .withColumn("files_pruned", lit(sel.size == 1 && total == 5))
    }),

    // J1 at the spec's large-source scale (ICEBERG-Interoperability-Test-
    // Spec.md:72 — 75% inserts implies a source comparable to the target):
    // the whole orders table merges into a half-sized target with the
    // key-planning broadcast gated OFF, so file planning runs as a shuffled
    // left-semi join — the 100 TB shape where broadcasting every distinct
    // source key would OOM the driver (DmlPlanningSpec asserts the plan).
    "t_merge_large_source" -> ((s, dir) => {
      val base = Tables.orders(s, dir)
      val t = GraftTable.create(s, scratch("merge_large_source"), base.schema)
      t.append(base.filter(col("o_orderkey") % 2 === 0))
      val source = base.withColumn("o_totalprice", col("o_totalprice") * 2)
      Dml.merge(t, source, "o_orderkey",
        Map("o_totalprice" -> col("src.o_totalprice")), insertNotMatched = true,
        broadcastKeyThresholdBytes = Some(0L))
      t.readLatest().agg(count(lit(1)).as("row_count"),
        dbl(sum(dec(col("o_totalprice")))).as("sum_price"))
    }),

    // M1 — compaction preserves data, collapses to one file
    "t_compaction" -> ((s, dir) => {
      val data = liSubset(s, dir, 400)
      val t = GraftTable.create(s, scratch("compaction"), data.schema)
      (0 until 4).foreach(i =>
        t.append(data.filter(col("l_orderkey") % 4 === i)))
      Maintenance.rewriteDataFiles(t, targetFileSizeBytes = 1L << 30)
      t.readLatest().agg(count(lit(1)).as("row_count"),
        dbl(sum(dec(col("l_quantity")))).as("sum_qty"))
        .withColumn("n_files", lit(t.latest.files.size.toLong))
    }),

    // M2+M3 — manifest rewrite then expiry retain-last-2; log + data both right
    "t_expire_snapshots" -> ((s, dir) => {
      val t = GraftTable.create(s, scratch("expire"), liSubset(s, dir, 500).schema)
      t.append(liSubset(s, dir, 500))
      Dml.delete(t, col("l_returnflag") === "R")
      Maintenance.rewriteManifests(t)
      Maintenance.expireSnapshots(t, retainLast = 2)
      checksum(t.readLatest())
        .withColumn("n_snapshots", lit(t.snapshotsList.size.toLong))
    }),

    // S4 — INSERT INTO ... VALUES: the reference's 8 literal rows round-trip
    // (ref bulk_insert_sales_events.sql:3-11)
    "s4_insert_values" -> ((s, _) => {
      val t = GraftTable.create(s, scratch("insert_values"), graft.model.Schemas.salesEvents)
      t.append(Synthesize.salesEvents8(s))
      t.readLatest()
        .withColumn("price", col("price").cast("double"))
        .select("event_id", "tenant_id", "event_ts", "sku", "qty", "price", "country", "ds")
        .orderBy("event_id")
    }),

    // O5 — WRITE ORDERED BY: files physically sorted within partitions
    // (ref create_sales_events.sql:21-24). Output proves order by checking
    // every data file's rows are monotonic in ts.
    "o5_write_ordering" -> ((s, _) => {
      import s.implicits._
      val data = Synthesize.txEvents(s, 1000, partitions = 4)
      val t = GraftTable.create(s, scratch("write_ordering"), data.schema)
      t.append(data, sortWithinPartitionsCols = Seq("ts", "user_id"))
      val root = graft.table.SnapshotLog.dataPath(t.tableDir).toString
      val perFileSorted = t.latest.files.map { fe =>
        val ts = s.read.parquet(s"$root/${fe.path}")
          .select("ts").collect().map(_.getTimestamp(0).getTime)
        ts.sameElements(ts.sorted)
      }
      Seq((perFileSorted.size.toLong, perFileSorted.count(identity).toLong))
        .toDF("n_files", "n_files_sorted")
    }),

    // D8 — partition evolution: repartition events-shaped data from
    // event_type to day partitioning; content is unchanged, layout is new
    // Zero-copy import (the Iceberg add_files/migrate family): an external
    // engine's parquet directory renames into the table — no data rewrite —
    // and imported footers feed metadata exactly like written files, proven
    // by answering COUNT(*) from metadata alone after the import.
    "t_add_files" -> ((s, dir) => {
      val base = Tables.orders(s, dir).filter(col("o_orderkey") < 400)
      val t = GraftTable.create(s, scratch("add_files"), base.schema)
      t.append(base.filter(col("o_orderkey") < 200))
      val ext = scratch("add_files_ext")
      base.filter(col("o_orderkey") >= 200)
        .repartition(2).write.mode("overwrite").parquet(ext)
      t.addFiles(ext)
      val metaCnt = t.countRowsFromMetadata().getOrElse(
        sys.error("metadata count must survive a zero-copy import"))
      t.readLatest().agg(
        count(lit(1)).as("row_count"),
        dbl(sum(dec(col("o_totalprice")))).as("sum_price"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
        .withColumn("meta_count", lit(metaCnt))
    }),

    // ANALYZE TABLE: exact per-column NDV/null counts from one scan, footer
    // min/max riding along, all durable in table properties — read back
    // through the column_stats metadata relation and re-typed, so the
    // store-then-parse path is what the oracle hash-checks. o_orderstatus
    // has no tracked bounds (string footer bounds may be writer-truncated):
    // its min/max are null by design.
    "t_analyze_stats" -> ((s, dir) => {
      val base = Tables.orders(s, dir).filter(col("o_orderkey") < 600)
      val t = GraftTable.create(s, scratch("analyze_stats"), base.schema)
      t.append(base.filter(col("o_orderkey") < 300))
      t.append(base.filter(col("o_orderkey") >= 300))
      t.analyzeColumns(Seq("o_orderkey", "o_orderstatus", "o_totalprice"))
      t.columnStatsTable()
        .select(col("col_name"), col("ndv"), col("null_count"), col("row_count"),
          col("min").cast("double").as("min_val"),
          col("max").cast("double").as("max_val"))
        .orderBy("col_name")
    }),

    "d8_partition_evolution" -> ((s, dir) => {
      import s.implicits._
      val data = Tables.events(s, dir).withColumn("ds", col("ts").cast("date").cast("string"))
      val t = GraftTable.create(s, scratch("part_evolution"), data.schema,
        partitionCols = Seq("event_type"))
      t.append(data)
      t.evolvePartitioning(Seq("ds"))
      val dsPartitioned = t.latest.files.forall(_.partitionValues.contains("ds"))
      t.readLatest().agg(count(lit(1)).as("row_count"))
        .withColumn("ds_partitioned", lit(dsPartitioned))
        .withColumn("n_partitions", lit(t.latest.files.map(_.partitionValues("ds")).distinct.size.toLong))
    }),

    // T3 — snapshot lineage: capture the baseline snapshot id from the
    // snapshots() metadata table, mutate, travel back via the captured id
    // (ref framework.yaml:317-319 + time_travel_validate.sql:6-12)
    "t3_snapshot_lineage" -> ((s, dir) => {
      val t = GraftTable.create(s, scratch("lineage"), liSubset(s, dir, 500).schema)
      t.append(liSubset(s, dir, 500))
      // store_rows_as baseline_snapshot: top-1 by committed_at
      val baselineId = t.snapshots()
        .orderBy(col("committed_at").desc, col("snapshot_id").desc)
        .select("snapshot_id").first().getLong(0)
      Dml.delete(t, col("l_returnflag") === "R")
      val baselineCount = t.readVersionAsOf(baselineId).count()
      val latestCount = t.readLatest().count()
      t.readVersionAsOf(baselineId)
        .agg(count(lit(1)).as("row_count"))
        .withColumn("latest_rows", lit(latestCount))
        .withColumn("lineage_ok", lit(baselineCount > latestCount))
    }),

    // T2 — timestamp travel with a pinned commit clock
    "t2_timestamp_travel" -> ((s, dir) => {
      val t = GraftTable.create(s, scratch("ts_travel"), liSubset(s, dir, 500).schema)
      var fake = 1000000L
      t.clock = () => { fake += 60000; fake }
      t.append(liSubset(s, dir, 500))
      val afterAppend = t.latest.committedAt
      Dml.delete(t, col("l_returnflag") === "R")
      checksum(t.readTimestampAsOf(afterAppend))
    }),

    // T2b — offset travel: Snowflake AT(OFFSET => -secs) under a pinned
    // clock (ref snowflake.sql:359-361)
    "t2b_offset_travel" -> ((s, dir) => {
      val t = GraftTable.create(s, scratch("offset_travel"), liSubset(s, dir, 500).schema)
      var fake = 1000000L
      t.clock = () => { fake += 60000; fake }
      t.append(liSubset(s, dir, 500))
      val afterAppend = t.latest.committedAt
      Dml.delete(t, col("l_returnflag") === "R")
      // "now" = the delete commit's clock; -60s lands on the append snapshot
      checksum(t.readOffsetAsOf(-(t.latest.committedAt - afterAppend) / 1000, t.latest.committedAt))
    }),

    // S9 — file-listing metadata TVF analog (ref snowflake.sql:364-378)
    "t_files_meta" -> ((s, dir) => {
      val t = GraftTable.create(s, scratch("files_meta"), liSubset(s, dir, 400).schema)
      t.append(liSubset(s, dir, 400).coalesce(1))
      t.append(liSubset(s, dir, 400).coalesce(1).withColumn("l_orderkey", col("l_orderkey") + 1000))
      t.files().agg(count(lit(1)).as("n_files"),
        sum(col("row_count")).as("total_rows"),
        max(col("written_at_snapshot")).as("max_written_at"))
    }),

    // Nested types through the table layer (spec :44 optional interop
    // coverage): array + struct columns survive create → append → evolve →
    // read-back; projection reaches into the struct.
    "t_nested_roundtrip" -> ((s, _) => {
      val df = s.sql("""
        SELECT * FROM VALUES
          (1L, array('a','b'), named_struct('source', 'web', 'score', 0.5D)),
          (2L, array('c'), named_struct('source', 'app', 'score', 1.5D)),
          (3L, CAST(NULL AS ARRAY<STRING>), named_struct('source', 'web', 'score', 2.0D))
        AS t(event_id, tags, meta)""")
      val t = GraftTable.create(s, scratch("nested"), df.schema)
      t.append(df)
      t.addColumn("channel", "string", "web")
      t.readLatest().select(col("event_id"), size(col("tags")).as("n_tags"),
        col("meta.source").as("source"), col("meta.score").as("score"), col("channel"))
        .orderBy("event_id")
    }),

    // Stats-based file pruning (the Iceberg manifest lower/upper-bounds scan
    // plan, ref spec ICEBERG-Interoperability-Test-Spec.md:86 "File pruning
    // effectiveness"): four appends with disjoint l_orderkey ranges land as
    // four files; a BETWEEN read plans only the two overlapping files from
    // footer-harvested bounds, then applies the exact predicate to the
    // survivors. n_files_scanned/total put the skipping itself on the
    // hash-checked path — a too-aggressive bound check would change row_count,
    // a never-pruning one would change n_files_scanned.
    "t_stats_prune" -> ((s, dir) => {
      val data = liSubset(s, dir, 1000)
      val t = GraftTable.create(s, scratch("stats_prune"), data.schema)
      Seq((0L, 250L), (250L, 500L), (500L, 750L), (750L, 1000L)).foreach { case (lo, hi) =>
        t.append(data.filter(col("l_orderkey") >= lo && col("l_orderkey") < hi).coalesce(1))
      }
      val (selected, total) = t.planBetween(t.latest, "l_orderkey", 300L, 600L)
      t.readBetween("l_orderkey", 300L, 600L)
        .agg(count(lit(1)).as("row_count"),
          dbl(sum(dec(col("l_quantity")))).as("sum_qty"))
        .withColumn("n_files_scanned", lit(selected.size.toLong))
        .withColumn("n_files_total", lit(total.toLong))
    }),

    // Timestamp-range stats pruning — the reference's flagship pruned-read
    // shape (ref blob_dfs/blob-dfs_bench.py:117-122 times a ts BETWEEN over a
    // day-partitioned table): two days of events land as 4 hour-quartile
    // files PER day partition; a 09:30-11:45 read plans exactly ONE of the 8
    // files from its raw-micros footer bounds — file skipping WITHIN a
    // partition, which day-partition pruning alone cannot do. The scanned/
    // total counts ride the hash-checked output, so both a bounds regression
    // (wrong rows) and a pruning regression (wrong file count) go red.
    "t_ts_stats_prune" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-07 00:00:00").cast("timestamp"))
        .select("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("ds", to_date(col("ts")).cast("string"))
      val t = GraftTable.create(s, scratch("ts_stats_prune"), ev.schema,
        partitionCols = Seq("ds"))
      (0 until 4).foreach(q =>
        t.append(ev.filter(hour(col("ts")) >= q * 6 && hour(col("ts")) < (q + 1) * 6)))
      val lo = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-05T09:30:00Z"))
      val hi = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-05T11:45:00Z"))
      val (selected, total) = t.planBetween(t.latest, "ts", lo, hi)
      t.readBetween("ts", lo, hi)
        .agg(count(lit(1)).as("row_count"),
          sum(col("user_id")).as("user_id_sum"),
          min(col("event_id")).as("min_event"),
          max(col("event_id")).as("max_event"))
        .withColumn("n_files_scanned", lit(selected.size.toLong))
        .withColumn("n_files_total", lit(total.toLong))
    }),

    // Partition-value range pruning: the partition column never reaches the
    // data files (hive layout), so its pruning comes from the snapshot's
    // partition metadata, not footer stats — two appends over four day
    // partitions give 8 files, and a two-day ds range plans exactly the 4
    // files of the covered partitions. Complements t_ts_stats_prune (which
    // skips WITHIN a partition on data-column bounds).
    "t_partition_range_prune" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts") >= lit("2024-01-03 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-07 00:00:00").cast("timestamp"))
        .select("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("ds", to_date(col("ts")).cast("string"))
      val t = GraftTable.create(s, scratch("part_range_prune"), ev.schema,
        partitionCols = Seq("ds"))
      t.append(ev.filter(col("event_id") % 2 === 0))
      t.append(ev.filter(col("event_id") % 2 === 1))
      val (selected, total) = t.planBetween(t.latest, "ds", "2024-01-04", "2024-01-05")
      t.readBetween("ds", "2024-01-04", "2024-01-05")
        .agg(count(lit(1)).as("row_count"),
          sum(col("user_id")).as("user_id_sum"),
          min(col("event_id")).as("min_event"),
          max(col("event_id")).as("max_event"))
        .withColumn("n_files_scanned", lit(selected.size.toLong))
        .withColumn("n_files_total", lit(total.toLong))
    }),

    // M4 — orphan removal leaves live data intact
    "t_orphan_cleanup" -> ((s, dir) => {
      val t = GraftTable.create(s, scratch("orphan"), liSubset(s, dir, 500).schema)
      t.append(liSubset(s, dir, 500))
      val orphan = new java.io.File(s"${t.tableDir}/data/orphan.parquet")
      java.nio.file.Files.writeString(orphan.toPath, "junk")
      // explicit bound: the planted orphan is brand-new, and this entry
      // tests LIVENESS-based selection, not the in-flight grace window
      val removed = Maintenance.removeOrphanFiles(t, Long.MaxValue)
      checksum(t.readLatest())
        .withColumn("n_orphans_removed",
          lit(removed.count(_.contains("orphan.parquet")).toLong))
    }),

    // The Spark TableCatalog plugin (graft.sources.GraftCatalog): STOCK
    // spark.sql over three-part names with NO pre-router — the reference's
    // catalog-configured Spark surface (framework.yaml:39-74 sets
    // spark.sql.catalog.<name>; blob-dfs_bench.py:104-106 appends via
    // DataFrameWriterV2). The full open-CRUD chain: CREATE NAMESPACE/TABLE,
    // writeTo().append(), SQL UPDATE (Spark's group-based COW rewrite over
    // SupportsRowLevelOperations), SQL DELETE (the metadata-delete fast path
    // into Dml.delete), SQL MERGE (matched update + not-matched insert),
    // checksum read back through the catalog scan.
    "spark_open_crud" -> ((s, dir) => {
      val wh = scratch("open_crud_wh")
      s.conf.set("spark.sql.catalog.gcrud", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gcrud.warehouse", wh)
      s.sql("CREATE NAMESPACE gcrud.sales")
      s.sql("""CREATE TABLE gcrud.sales.orders_crud (
        o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE,
        o_orderstatus STRING)""")
      Tables.orders(s, dir).filter(col("o_orderkey") < 400)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .writeTo("gcrud.sales.orders_crud").append()
      s.sql("""UPDATE gcrud.sales.orders_crud
        SET o_totalprice = o_totalprice + 100.0
        WHERE o_orderstatus = 'F' AND o_orderkey < 200""")
      s.sql("""DELETE FROM gcrud.sales.orders_crud
        WHERE o_orderstatus = 'O' AND o_orderkey >= 300""")
      Tables.orders(s, dir)
        .filter(col("o_orderkey").between(100, 500))
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .createOrReplaceTempView("open_crud_src")
      s.sql("""MERGE INTO gcrud.sales.orders_crud t USING open_crud_src s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED THEN UPDATE SET o_totalprice = t.o_totalprice + 50.0
        WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_totalprice,
          o_orderstatus) VALUES (s.o_orderkey, s.o_custkey, s.o_totalprice,
          s.o_orderstatus)""")
      s.sql("""SELECT COUNT(*) AS row_count,
        CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
        SUM(o_orderkey) AS sum_key
        FROM gcrud.sales.orders_crud""")
    }),

    // Connector reads of COMPLEX types (array / struct over primitives):
    // an embeddings-shaped table (vec_id, array<float> embedding, a struct
    // column) reads back through format("graft") — nested decode in both
    // reader backends, with pruning/projection intact. Interop touchpoint:
    // nested-type coverage in the spec's optional matrix
    // (ICEBERG-Interoperability-Test-Spec.md:44).
    "t_connector_nested" -> ((s, dir) => {
      val base = Tables.embeddings(s, dir).filter(col("vec_id") < 2000)
        .select(col("vec_id"), col("embedding"),
          struct(col("label").as("label2"),
            size(col("embedding")).as("dim")).as("meta"))
      val t = GraftTable.create(s, scratch("connector_nested"), base.schema)
      t.append(base.filter(col("vec_id") < 1000))
      t.append(base.filter(col("vec_id") >= 1000))
      s.read.format("graft").load(t.tableDir)
        .agg(count(lit(1)).as("row_count"),
          sum(size(col("embedding")).cast("long")).as("sum_dims"),
          sum(col("meta.label2").cast("long")).as("sum_label"),
          sum(when(element_at(col("embedding"), 1) > 0f, 1L).otherwise(0L))
            .as("n_pos_first"))
    }),

    // Connector-side schema-evolution replay: an ALTERed table (rename +
    // widen + add-with-default) stays readable via format("graft") — each
    // old file carries a planning-time column mapping (physical name,
    // write-time type cast, default constant) instead of refusing. The
    // interop shape: an external engine pointed at the directory keeps
    // reading across evolution (framework.yaml:290-365).
    "t_connector_evolved" -> ((s, dir) => {
      val base = Tables.orders(s, dir).filter(col("o_orderkey") < 300)
        .select(col("o_orderkey").cast("int").as("okey"),
          col("o_totalprice"), col("o_orderstatus"))
      val t = GraftTable.create(s, scratch("connector_evolved"), base.schema)
      t.append(base)
      t.renameColumn("o_orderstatus", "status")
      t.widenColumn("okey", "BIGINT")
      t.addColumn("src", "STRING", "legacy")
      t.append(Tables.orders(s, dir)
        .filter(col("o_orderkey") >= 300 && col("o_orderkey") < 600)
        .select(col("o_orderkey").as("okey"), col("o_totalprice"),
          col("o_orderstatus").as("status"), lit("new").as("src")))
      s.read.format("graft").load(t.tableDir)
        .agg(count(lit(1)).as("row_count"),
          sum(col("okey")).as("sum_key"),
          dbl(sum(dec(col("o_totalprice")))).as("sum_price"),
          sum(when(col("src") === "legacy", 1L).otherwise(0L)).as("n_legacy"),
          min(col("status")).as("min_status"))
    }),

    // Catalog-routed schema evolution + time travel, all through STOCK
    // spark.sql: ALTER TABLE ADD/RENAME/ALTER COLUMN TYPE land on the
    // table's evolution chain (TableChange -> add/rename/widen), old rows
    // replay under the new shape, INSERT INTO SELECT resolves the evolved
    // schema, and VERSION AS OF reads back the pre-evolution snapshot
    // through TableCatalog.loadTable(ident, version). The interop plan's
    // evolve-then-read-across-engines shape (framework.yaml:290-365), here
    // with Spark itself as the "other engine".
    "spark_open_evolution" -> ((s, dir) => {
      val wh = scratch("open_evo_wh")
      s.conf.set("spark.sql.catalog.gcevo", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gcevo.warehouse", wh)
      s.sql("CREATE NAMESPACE gcevo.lab")
      s.sql("""CREATE TABLE gcevo.lab.orders_evo (
        okey INT, o_totalprice DOUBLE, o_orderstatus STRING)""")
      Tables.orders(s, dir).filter(col("o_orderkey") < 300)
        .select(col("o_orderkey").cast("int").as("okey"),
          col("o_totalprice"), col("o_orderstatus"))
        .writeTo("gcevo.lab.orders_evo").append()
      val v1 = GraftTable.load(s, s"$wh/lab/orders_evo").latest.snapshotId
      s.sql("ALTER TABLE gcevo.lab.orders_evo RENAME COLUMN o_orderstatus TO status")
      s.sql("ALTER TABLE gcevo.lab.orders_evo ALTER COLUMN okey TYPE BIGINT")
      s.sql("ALTER TABLE gcevo.lab.orders_evo ADD COLUMN src STRING")
      Tables.orders(s, dir)
        .filter(col("o_orderkey") >= 300 && col("o_orderkey") < 600)
        .select(col("o_orderkey").as("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus").as("status"))
        .createOrReplaceTempView("open_evo_src")
      s.sql("""INSERT INTO gcevo.lab.orders_evo
        SELECT o_orderkey, o_totalprice, status, 'new' FROM open_evo_src""")
      s.sql(s"""SELECT
          (SELECT COUNT(*) FROM gcevo.lab.orders_evo) AS row_count,
          (SELECT SUM(okey) FROM gcevo.lab.orders_evo) AS sum_key,
          (SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE)
             FROM gcevo.lab.orders_evo) AS sum_price,
          (SELECT COUNT(*) FROM gcevo.lab.orders_evo WHERE src IS NULL) AS n_legacy,
          (SELECT MIN(status) FROM gcevo.lab.orders_evo) AS min_status,
          (SELECT COUNT(*) FROM gcevo.lab.orders_evo VERSION AS OF $v1) AS n_at_v1""")
    }),

    // CTAS + RTAS through the catalog: stock `CREATE TABLE cat.ns.t AS
    // SELECT` stages the table via StagingTableCatalog and the native DSv2
    // batch write, committing with an atomic swap (a mid-write failure
    // leaves NO table — GraftStagedCtasSpec pins that); INSERT INTO SELECT
    // appends an increment; `REPLACE TABLE ... AS SELECT` stage-swaps the
    // content wholesale while the old table stays readable until the
    // instant of the swap. The pre-replace aggregate rides along as
    // literals so the oracle checks both generations.
    "spark_open_ctas" -> ((s, dir) => {
      val wh = scratch("open_ctas_wh")
      s.conf.set("spark.sql.catalog.gcts", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gcts.warehouse", wh)
      s.sql("CREATE NAMESPACE gcts.marts")
      Tables.orders(s, dir).createOrReplaceTempView("open_ctas_orders")
      s.sql("""CREATE TABLE gcts.marts.status_daily AS
        SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM open_ctas_orders WHERE o_orderkey < 2000 GROUP BY o_orderstatus""")
      s.sql("""INSERT INTO gcts.marts.status_daily
        SELECT concat('x_', o_orderstatus), COUNT(*),
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        FROM open_ctas_orders
        WHERE o_orderkey >= 2000 AND o_orderkey < 4000 GROUP BY o_orderstatus""")
      val pre = s.sql(
        "SELECT COUNT(*) AS n, SUM(n_orders) AS so FROM gcts.marts.status_daily")
        .head()
      s.sql("""REPLACE TABLE gcts.marts.status_daily AS
        SELECT concat('y_', o_orderstatus) AS status, COUNT(*) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM open_ctas_orders
        WHERE o_orderkey >= 4000 AND o_orderkey < 6000 GROUP BY o_orderstatus""")
      s.sql(s"""SELECT status, n_orders,
          CAST(CAST(total AS DECIMAL(18,2)) AS DOUBLE) AS total,
          CAST(${pre.getLong(0)} AS BIGINT) AS pre_replace_rows,
          CAST(${pre.getLong(1)} AS BIGINT) AS pre_replace_orders
        FROM gcts.marts.status_daily ORDER BY status""")
    }),

    // Inspection/metadata tables through the catalog: `cat.ns.t.partitions`
    // / `.snapshots` / `.files` resolve as four-part names (Iceberg's
    // metadata-table convention — the bulk-insert notebook reads
    // `t.snapshots` the same way, bulk_insert_sales_events.sql:14-17),
    // planned as a LocalTableScan over snapshot metadata: zero tasks, no
    // data file opened.
    "spark_open_meta" -> ((s, dir) => {
      val wh = scratch("open_meta_wh")
      s.conf.set("spark.sql.catalog.gcm", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gcm.warehouse", wh)
      s.sql("CREATE NAMESPACE gcm.ops")
      s.sql("""CREATE TABLE gcm.ops.orders_meta (
        o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)
        PARTITIONED BY (o_orderstatus)""")
      Tables.orders(s, dir).filter(col("o_orderkey") < 700)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .writeTo("gcm.ops.orders_meta").append()
      Tables.orders(s, dir)
        .filter(col("o_orderkey") >= 700 && col("o_orderkey") < 1000)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .writeTo("gcm.ops.orders_meta").append()
      s.sql("""SELECT p.partition, p.total_rows,
          (SELECT COUNT(*) FROM gcm.ops.orders_meta.snapshots
             WHERE operation = 'append') AS n_appends,
          (SELECT SUM(row_count) FROM gcm.ops.orders_meta.files) AS n_rows_files
        FROM gcm.ops.orders_meta.partitions p ORDER BY p.partition""")
    }),

    // CALL procedures through the catalog's ProcedureCatalog face: stock
    // Spark 4 parses `CALL cat.system.proc(...)`, binds the named arguments
    // against the declared parameters, and this engine's Maintenance layer
    // runs them — the reference's bench maintenance statements verbatim
    // (blob-dfs_bench.py:141-155). Three 1-file appends → binpack rewrites
    // 3 into 1; expire_snapshots(retain_last => 2) drops the other 3 of 5
    // snapshots; ancestors_of walks the remaining 2-deep lineage.
    "spark_call_procedures" -> ((s, dir) => {
      val wh = scratch("call_proc_wh")
      s.conf.set("spark.sql.catalog.gcp", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.gcp.warehouse", wh)
      s.sql("CREATE NAMESPACE gcp.maint")
      s.sql("CREATE TABLE gcp.maint.orders_m (o_orderkey BIGINT, o_totalprice DOUBLE)")
      val src = Tables.orders(s, dir).select("o_orderkey", "o_totalprice")
      Seq(0L, 700L, 1400L).foreach { lo =>
        src.filter(col("o_orderkey") >= lo && col("o_orderkey") < lo + 700)
          .coalesce(1).writeTo("gcp.maint.orders_m").append()
      }
      val rw = s.sql(
        """CALL gcp.system.rewrite_data_files(table => 'maint.orders_m',
          options => map('min-input-files','2','max-file-size-bytes','536870912'))""")
        .head()
      val exp = s.sql(
        "CALL gcp.system.expire_snapshots(table => 'maint.orders_m', retain_last => 2)")
        .head()
      val lineage = s.sql("CALL gcp.system.ancestors_of('maint.orders_m')").count()
      s.sql(s"""SELECT COUNT(*) AS n_rows,
          CAST(CAST(SUM(o_totalprice) AS DECIMAL(18,2)) AS DOUBLE) AS total,
          CAST(${rw.getLong(0)} AS BIGINT) AS rewritten_files,
          CAST(${rw.getLong(1)} AS BIGINT) AS added_files,
          CAST(${exp.getLong(0)} AS BIGINT) AS expired_snapshots,
          CAST($lineage AS BIGINT) AS lineage_depth
        FROM gcp.maint.orders_m""")
    })
  )

  val oracle: Map[String, String] = Map(
    "t_add_files" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
           MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
           COUNT(*) AS meta_count
         FROM orders WHERE o_orderkey < 400""",
    "t_analyze_stats" ->
      """WITH src AS (SELECT * FROM orders WHERE o_orderkey < 600)
         SELECT 'o_orderkey' AS col_name,
                CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS ndv,
                CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
                CAST(COUNT(*) AS BIGINT) AS row_count,
                CAST(MIN(o_orderkey) AS DOUBLE) AS min_val,
                CAST(MAX(o_orderkey) AS DOUBLE) AS max_val
         FROM src
         UNION ALL
         SELECT 'o_orderstatus',
                CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
                CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                CAST(COUNT(*) AS BIGINT),
                CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
         FROM src
         UNION ALL
         SELECT 'o_totalprice',
                CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
                CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                CAST(COUNT(*) AS BIGINT),
                CAST(MIN(o_totalprice) AS DOUBLE),
                CAST(MAX(o_totalprice) AS DOUBLE)
         FROM src
         ORDER BY col_name""",
    "t_ts_stats_prune" ->
      """SELECT COUNT(*) AS row_count, CAST(SUM(user_id) AS BIGINT) AS user_id_sum,
           MIN(event_id) AS min_event, MAX(event_id) AS max_event,
           CAST(1 AS BIGINT) AS n_files_scanned, CAST(8 AS BIGINT) AS n_files_total
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-05 09:30:00' AND ts <= TIMESTAMP '2024-01-05 11:45:00'""",
    "t_partition_range_prune" ->
      """SELECT COUNT(*) AS row_count, CAST(SUM(user_id) AS BIGINT) AS user_id_sum,
           MIN(event_id) AS min_event, MAX(event_id) AS max_event,
           CAST(4 AS BIGINT) AS n_files_scanned, CAST(8 AS BIGINT) AS n_files_total
         FROM events
         WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-04' AND DATE '2024-01-05'""",
    "t_cow_update" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_quantity + 5.0 ELSE l_quantity END AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
         FROM lineitem WHERE l_orderkey < 1000""",
    "t_cow_delete" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
         FROM lineitem WHERE l_orderkey < 1000 AND l_returnflag <> 'R'""",
    "t_meta_agg" ->
      """SELECT COUNT(*) AS row_count,
           MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
           MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
           MIN(o_orderdate) AS min_date, MAX(o_orderdate) AS max_date
         FROM orders WHERE o_orderkey < 500""",
    "t_incremental_read" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
           MIN(o_orderkey) AS min_key
         FROM orders WHERE o_orderkey >= 100 AND o_orderkey < 300""",
    "t_bloom_lookup" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
           TRUE AS all_files_bloomed
         FROM orders WHERE o_orderkey < 2000 AND o_orderkey = 999""",
    "t_props_meta" ->
      """SELECT * FROM (VALUES
           ('comment', 'demo', CAST(6 AS BIGINT), CAST(3 AS BIGINT)),
           ('owner', 'team-data', CAST(6 AS BIGINT), CAST(3 AS BIGINT)),
           ('write.sort-order', 'o_orderkey', CAST(6 AS BIGINT), CAST(3 AS BIGINT)))
         AS t(key, value, n_refs, n_distinct_files)""",
    "t_null_prune" ->
      """SELECT
           (SELECT COUNT(*) FROM lineitem WHERE l_orderkey < 600 AND l_quantity > 25) AS notnull_rows,
           (SELECT COUNT(*) FROM lineitem WHERE l_orderkey < 600 AND l_quantity <= 25) AS null_rows,
           CAST(2 AS BIGINT) AS notnull_files_scanned,
           CAST(2 AS BIGINT) AS null_files_scanned,
           CAST(3 AS BIGINT) AS n_files,
           (SELECT COUNT(*) FROM lineitem WHERE l_orderkey < 600 AND l_quantity > 25) AS meta_nonnull_count""",
    "t_follow_cdc" ->
      """WITH final AS (
           SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_orderkey < 100 AND o_orderkey % 7 <> 0
           UNION ALL
           SELECT o_orderkey, o_totalprice + 1000.0 FROM orders
           WHERE o_orderkey >= 100 AND o_orderkey < 200 AND o_orderkey % 7 <> 0)
         SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
           MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
           CAST(0 AS BIGINT) AS mirror_diff, CAST(3 AS BIGINT) AS n_dst_commits
         FROM final""",
    "t_follow_agg_ivm" ->
      """WITH final AS (
           SELECT o_orderpriority, o_totalprice FROM orders
           WHERE o_orderkey < 100 AND o_orderkey % 7 <> 0
           UNION ALL
           SELECT o_orderpriority, o_totalprice + 1000.0 FROM orders
           WHERE o_orderkey >= 100 AND o_orderkey < 200 AND o_orderkey % 7 <> 0)
         SELECT o_orderpriority, COUNT(*) AS n_rows,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
           CAST(0 AS BIGINT) AS ivm_diff
         FROM final GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "t_rollback" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
           CAST(4 AS BIGINT) AS n_snapshots
         FROM orders WHERE o_orderkey < 200""",
    "t_tags" ->
      """SELECT
           (SELECT COUNT(*) FROM orders WHERE o_orderkey < 100) AS tagged_rows,
           (SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE)
              FROM orders WHERE o_orderkey < 100) AS tagged_price,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey < 200) AS row_count""",
    "t_maintain" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
           true AS materialized, true AS compacted,
           CAST(8 AS BIGINT) AS n_consolidated, CAST(6 AS BIGINT) AS n_expired
         FROM orders
         WHERE o_orderkey < 300 AND o_orderkey % 9 <> 0 AND o_orderkey % 11 <> 0""",
    "t_partitions_meta" ->
      """SELECT 'bucket=' || CAST(o_orderkey % 4 AS VARCHAR) AS partition,
           COUNT(*) AS total_rows
         FROM orders WHERE o_orderkey < 400
         GROUP BY 1 ORDER BY 1""",
    "t_wap" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey < 100) AS rows_during_audit,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey < 200) AS rows_at_audit
         FROM orders WHERE o_orderkey < 200""",
    "t_changelog" ->
      """WITH ch AS (
           SELECT 'insert' AS t, o_orderkey AS k FROM orders WHERE o_orderkey < 200
           UNION ALL SELECT 'delete', o_orderkey FROM orders
             WHERE o_orderkey < 200 AND o_orderkey % 7 = 0
           UNION ALL SELECT 'delete', o_orderkey FROM orders
             WHERE o_orderkey >= 100 AND o_orderkey < 200 AND o_orderkey % 7 <> 0
           UNION ALL SELECT 'insert', o_orderkey FROM orders
             WHERE o_orderkey >= 100 AND o_orderkey < 300)
         SELECT t AS change_type, COUNT(*) AS row_count,
                CAST(SUM(k) AS BIGINT) AS key_sum
         FROM ch GROUP BY 1 ORDER BY 1""",
    "t_connector_batch" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
         FROM orders WHERE o_orderkey < 400
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "t_connector_write" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey < 100) AS ow_rows,
           true AS ow_replaced
         FROM orders WHERE o_orderkey < 400
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "t_connector_agg" ->
      """SELECT COUNT(*) AS row_count, MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key, CAST(COUNT(o_custkey) AS BIGINT) AS n_cust,
           true AS agg_pushed
         FROM orders WHERE o_orderkey < 500""",
    "t_connector_incremental" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
           MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
         FROM orders WHERE o_orderkey >= 300 AND o_orderkey < 600""",
    "t_connector_spj" ->
      """SELECT a.o_orderstatus, COUNT(*) AS n,
           CAST(SUM(a.o_orderkey) AS BIGINT) AS sum_a,
           CAST(SUM(b.b_key) AS BIGINT) AS sum_b,
           true AS no_shuffle
         FROM (SELECT o_orderkey, o_orderstatus FROM orders
               WHERE o_orderkey < 600) a
         JOIN (SELECT o_orderkey AS b_key, o_orderstatus FROM orders
               WHERE o_orderkey >= 600 AND o_orderkey < 900) b
           USING (o_orderstatus)
         GROUP BY a.o_orderstatus ORDER BY a.o_orderstatus""",
    "t_connector_agg_group" ->
      """SELECT o_orderstatus, COUNT(*) AS n, MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key, true AS agg_pushed
         FROM orders WHERE o_orderkey < 800
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "t_connector_travel" ->
      """SELECT COUNT(*) AS row_count, MAX(o_orderkey) AS max_key,
           true AS agg_pushed,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey < 600) AS head_rows
         FROM orders WHERE o_orderkey < 300""",
    "t_connector_dpp" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
         FROM orders
         WHERE o_orderkey < 1000
           AND o_orderpriority IN ('1-URGENT', '3-MEDIUM')
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "t_sort_rewrite" ->
      """SELECT COUNT(*) AS row_count,
           CAST(SUM(event_id) AS BIGINT) AS id_sum,
           CAST(SUM(user_id) AS BIGINT) AS user_sum,
           true AS pruned_event, true AS files_rewritten
         FROM events""",
    "t_zorder" ->
      """SELECT COUNT(*) AS row_count,
           CAST(SUM(event_id) AS BIGINT) AS id_sum,
           CAST(SUM(user_id) AS BIGINT) AS user_sum,
           true AS pruned_event, true AS pruned_user
         FROM events""",
    "t_mor_delete" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
           CAST(0 AS BIGINT) AS data_files_rewritten,
           CAST(1 AS BIGINT) AS n_delete_files
         FROM orders WHERE o_orderkey < 200 AND o_orderkey % 7 <> 0""",
    "t_mor_upsert" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(CASE WHEN o_orderkey >= 50 THEN o_totalprice * 2 ELSE o_totalprice END AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
           CAST(3 AS BIGINT) AS n_commits
         FROM orders WHERE o_orderkey < 150""",
    "t_mor_dv" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
           CAST(0 AS BIGINT) AS data_files_rewritten,
           CAST(2 AS BIGINT) AS n_delete_vectors
         FROM orders WHERE o_orderkey < 200 AND o_orderkey % 7 <> 0""",
    "t_mor_materialize" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
           CAST(0 AS BIGINT) AS n_delete_files_after
         FROM orders WHERE o_orderkey < 200 AND o_orderkey % 5 <> 0""",
    "t_merge_upsert" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(CASE WHEN o_orderkey >= 50 THEN o_totalprice * 2 ELSE o_totalprice END AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price
         FROM orders WHERE o_orderkey < 150""",
    "t_merge_update_only" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(CASE WHEN o_orderkey >= 50 THEN o_totalprice * 2 ELSE o_totalprice END AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price
         FROM orders WHERE o_orderkey < 100""",
    "t_merge_mixed" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(CASE WHEN o_orderkey < 150 THEN o_totalprice * 2 ELSE o_totalprice END AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price
         FROM orders
         WHERE o_orderkey < 200
           AND (o_orderkey >= 150 OR o_orderkey % 10 <> 0)""",
    "t_interop_chain" ->
      """SELECT COUNT(*) AS row_count, CAST(SUM(qty) AS BIGINT) AS total_qty,
           CAST(SUM(CASE WHEN channel = 'web' THEN 1 ELSE 0 END) AS BIGINT) AS n_web,
           CAST(CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
           CAST(8 AS BIGINT) AS baseline_rows
         FROM (VALUES
           (1, 3, 'web', 19.99), (2, 6, 'app', 5.50), (3, 2, 'web', 10.00),
           (5, 1, 'web', 99.99), (6, 10, 'web', 5.00), (7, 4, 'web', 11.00),
           (8, 6, 'web', 7.50), (9, 7, 'store', 15.00))
         AS t(event_id, qty, channel, price)""",
    "t2b_offset_travel" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
         FROM lineitem WHERE l_orderkey < 500""",
    "t_time_travel" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
         FROM lineitem WHERE l_orderkey < 500""",
    "t_snapshots_meta" ->
      """SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS snapshot_id, 'create' AS operation, CAST(0 AS BIGINT) AS total_rows
           UNION ALL
           SELECT 2, 'append', (SELECT COUNT(*) FROM lineitem WHERE l_orderkey < 500)
           UNION ALL
           SELECT 3, 'delete', (SELECT COUNT(*) FROM lineitem WHERE l_orderkey < 500 AND l_returnflag <> 'R'))
         ORDER BY snapshot_id""",
    "t_schema_evolution" ->
      """SELECT * FROM (VALUES
           (CAST(1 AS BIGINT), 'sku-0001', CAST(3 AS BIGINT), 'web'),
           (2, 'sku-0002', 5, 'web'),
           (3, 'sku-0003', 2, 'web'),
           (4, 'sku-0004', 8, 'web'),
           (5, 'sku-0005', 1, 'web'),
           (6, 'sku-0002', 10, 'web'),
           (7, 'sku-0003', 4, 'web'),
           (8, 'sku-0004', 6, 'web'))
         AS t(event_id, product_sku, qty, channel) ORDER BY event_id""",
    "t_describe" ->
      """SELECT * FROM (VALUES
           ('channel', 'string'), ('country', 'string'), ('ds', 'date'),
           ('event_id', 'bigint'), ('event_ts', 'timestamp'),
           ('price', 'decimal(18,2)'), ('product_sku', 'string'),
           ('qty', 'bigint'), ('tenant_id', 'int'))
         AS t(col_name, data_type) ORDER BY col_name""",
    "t_partitioned_prune" ->
      "SELECT COUNT(*) AS row_count FROM lineitem WHERE l_orderkey < 1000 AND l_returnflag = 'A'",
    "t_bucket_transform" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price
         FROM orders WHERE o_orderkey < 2000 AND o_custkey % 4 = 1""",
    "t_truncate_transform" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price
         FROM orders WHERE substring(o_orderpriority, 1, 1) = '3'""",
    "t_bucket_prune" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
           TRUE AS files_pruned
         FROM orders WHERE o_custkey IN (37, 223, 1141)""",
    "t_month_prune" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
           TRUE AS files_pruned
         FROM orders WHERE o_orderdate >= TIMESTAMP '1995-04-01 00:00:00'
           AND o_orderdate <= TIMESTAMP '1995-06-30 23:59:59'""",
    "t_truncate_prune" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
           TRUE AS files_pruned
         FROM orders WHERE o_orderpriority = '3-MEDIUM'""",
    "t_merge_large_source" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(o_totalprice * 2 AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price
         FROM orders""",
    "t_compaction" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
           CAST(1 AS BIGINT) AS n_files
         FROM lineitem WHERE l_orderkey < 400""",
    "t_expire_snapshots" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
           CAST(2 AS BIGINT) AS n_snapshots
         FROM lineitem WHERE l_orderkey < 500 AND l_returnflag <> 'R'""",
    "s4_insert_values" ->
      """SELECT * FROM (VALUES
           (CAST(1 AS BIGINT), 10, TIMESTAMP '2024-01-01 00:00:00', 'sku-0001', 3, CAST(19.99 AS DOUBLE), 'US', DATE '2024-01-01'),
           (2, 11, TIMESTAMP '2024-01-01 00:05:00', 'sku-0002', 5, CAST(5.00 AS DOUBLE), 'US', DATE '2024-01-01'),
           (3, 12, TIMESTAMP '2024-01-02 09:30:00', 'sku-0003', 2, CAST(10.00 AS DOUBLE), 'GB', DATE '2024-01-02'),
           (4, 13, TIMESTAMP '2024-01-02 10:45:00', 'sku-0004', 8, CAST(7.50 AS DOUBLE), 'FR', DATE '2024-01-02'),
           (5, 10, TIMESTAMP '2024-01-03 12:00:00', 'sku-0005', 1, CAST(99.99 AS DOUBLE), 'US', DATE '2024-01-03'),
           (6, 11, TIMESTAMP '2024-01-03 13:25:00', 'sku-0002', 10, CAST(5.00 AS DOUBLE), 'US', DATE '2024-01-03'),
           (7, 12, TIMESTAMP '2024-01-04 15:55:00', 'sku-0003', 4, CAST(11.00 AS DOUBLE), 'GB', DATE '2024-01-04'),
           (8, 13, TIMESTAMP '2024-01-05 16:10:00', 'sku-0004', 6, CAST(7.50 AS DOUBLE), 'FR', DATE '2024-01-05'))
         AS t(event_id, tenant_id, event_ts, sku, qty, price, country, ds)
         ORDER BY event_id""",
    "o5_write_ordering" ->
      "SELECT CAST(4 AS BIGINT) AS n_files, CAST(4 AS BIGINT) AS n_files_sorted",
    "d8_partition_evolution" ->
      """SELECT COUNT(*) AS row_count, true AS ds_partitioned,
           (SELECT COUNT(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE)) FROM events) AS n_partitions
         FROM events""",
    "t3_snapshot_lineage" ->
      """SELECT COUNT(*) AS row_count,
           (SELECT COUNT(*) FROM lineitem WHERE l_orderkey < 500 AND l_returnflag <> 'R') AS latest_rows,
           true AS lineage_ok
         FROM lineitem WHERE l_orderkey < 500""",
    "t2_timestamp_travel" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
         FROM lineitem WHERE l_orderkey < 500""",
    "t_files_meta" ->
      """SELECT CAST(2 AS BIGINT) AS n_files,
           CAST(2 * (SELECT COUNT(*) FROM lineitem WHERE l_orderkey < 400) AS BIGINT) AS total_rows,
           CAST(3 AS BIGINT) AS max_written_at""",
    "t_nested_roundtrip" ->
      """SELECT * FROM (VALUES
           (CAST(1 AS BIGINT), 2, 'web', CAST(0.5 AS DOUBLE), 'web'),
           (2, 1, 'app', CAST(1.5 AS DOUBLE), 'web'),
           (3, CAST(NULL AS INT), 'web', CAST(2.0 AS DOUBLE), 'web'))
         AS t(event_id, n_tags, source, score, channel) ORDER BY event_id""",
    "t_stats_prune" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
           CAST(2 AS BIGINT) AS n_files_scanned,
           CAST(4 AS BIGINT) AS n_files_total
         FROM lineitem WHERE l_orderkey BETWEEN 300 AND 600""",
    "t_orphan_cleanup" ->
      """SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
           CAST(1 AS BIGINT) AS n_orphans_removed
         FROM lineitem WHERE l_orderkey < 500""",
    "spark_open_crud" ->
      """WITH base AS (
           SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderstatus
           FROM orders WHERE o_orderkey < 400),
         upd AS (
           SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderstatus = 'F' AND o_orderkey < 200
               THEN o_totalprice + 100.0 ELSE o_totalprice END AS o_totalprice,
             o_orderstatus FROM base),
         del AS (
           SELECT * FROM upd WHERE NOT (o_orderstatus = 'O' AND o_orderkey >= 300)),
         src AS (
           SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderstatus
           FROM orders WHERE o_orderkey BETWEEN 100 AND 500),
         merged AS (
           SELECT d.o_orderkey,
             CASE WHEN s.o_orderkey IS NOT NULL
               THEN d.o_totalprice + 50.0 ELSE d.o_totalprice END AS o_totalprice
           FROM del d LEFT JOIN src s ON d.o_orderkey = s.o_orderkey
           UNION ALL
           SELECT s.o_orderkey, s.o_totalprice
           FROM src s LEFT JOIN del d ON s.o_orderkey = d.o_orderkey
           WHERE d.o_orderkey IS NULL)
         SELECT COUNT(*) AS row_count,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
         FROM merged""",
    "t_connector_nested" ->
      """SELECT COUNT(*) AS row_count,
           CAST(SUM(len(embedding)) AS BIGINT) AS sum_dims,
           CAST(SUM(label) AS BIGINT) AS sum_label,
           CAST(SUM(CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_first
         FROM embeddings WHERE vec_id < 2000""",
    "t_connector_evolved" ->
      """SELECT COUNT(*) AS row_count,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
           CAST(SUM(CASE WHEN o_orderkey < 300 THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy,
           MIN(o_orderstatus) AS min_status
         FROM orders WHERE o_orderkey < 600""",
    "spark_open_evolution" ->
      """SELECT COUNT(*) AS row_count,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
           CAST(SUM(CASE WHEN o_orderkey < 300 THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy,
           MIN(o_orderstatus) AS min_status,
           CAST(SUM(CASE WHEN o_orderkey < 300 THEN 1 ELSE 0 END) AS BIGINT) AS n_at_v1
         FROM orders WHERE o_orderkey < 600""",
    "spark_open_ctas" ->
      """WITH pre AS (
           SELECT o_orderstatus AS status, COUNT(*) AS n_orders
           FROM orders WHERE o_orderkey < 2000 GROUP BY o_orderstatus
           UNION ALL
           SELECT 'x_' || o_orderstatus, COUNT(*)
           FROM orders WHERE o_orderkey >= 2000 AND o_orderkey < 4000
           GROUP BY o_orderstatus)
         SELECT status, n_orders,
           CAST(CAST(total AS DECIMAL(18,2)) AS DOUBLE) AS total,
           (SELECT COUNT(*) FROM pre) AS pre_replace_rows,
           (SELECT CAST(SUM(n_orders) AS BIGINT) FROM pre) AS pre_replace_orders
         FROM (
           SELECT 'y_' || o_orderstatus AS status, COUNT(*) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
           FROM orders WHERE o_orderkey >= 4000 AND o_orderkey < 6000
           GROUP BY o_orderstatus)
         ORDER BY status""",
    "spark_open_meta" ->
      """SELECT 'o_orderstatus=' || o_orderstatus AS partition,
           COUNT(*) AS total_rows,
           CAST(2 AS BIGINT) AS n_appends,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey < 1000) AS n_rows_files
         FROM orders WHERE o_orderkey < 1000
         GROUP BY o_orderstatus ORDER BY 1""",
    "spark_call_procedures" ->
      """SELECT COUNT(*) AS n_rows,
           CAST(CAST(SUM(o_totalprice) AS DECIMAL(18,2)) AS DOUBLE) AS total,
           CAST(3 AS BIGINT) AS rewritten_files,
           CAST(1 AS BIGINT) AS added_files,
           CAST(3 AS BIGINT) AS expired_snapshots,
           CAST(2 AS BIGINT) AS lineage_depth
         FROM orders WHERE o_orderkey < 2100"""
  )
}
