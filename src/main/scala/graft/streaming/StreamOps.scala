package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming operators over the events stream (beyond-reference
  * coverage: the reference has no streaming surface, but a Spark-native
  * engine at 100 TB ingests continuously — SURVEY.md §2.12 notes the gap).
  *
  * Design: streams are DataFrames with `readStream` sources; event-time
  * windowed aggregation under a watermark bounds state; custom per-key state
  * uses `flatMapGroupsWithState` (the KeyValueGroupedDataset path). Everything
  * is testable deterministically with `Trigger.AvailableNow` over the static
  * events parquet — the streaming plan processes all existing files in
  * micro-batches then stops, so results equal the batch equivalent.
  */
object StreamOps {

  /** Event-time daily counts per event type under a 1-day watermark. */
  def dailyTypeCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").cast("date").as("day"), col("event_type"), col("cnt"))

  /** Streaming ingest dedup: drop event-id duplicates under an event-time
    * watermark (state for an id is kept one day past the watermark — the
    * at-least-once-source dedup pattern; unbounded dropDuplicates would leak
    * state forever on a real stream).
    */
  def dedupedTypeCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"))

  case class UserEvent(user_id: Long, value: Double)
  case class UserStats(user_id: Long, n_events: Long, total_value: Double)

  /** Custom stateful aggregation: per-user running totals via
    * flatMapGroupsWithState (the mapGroupsWithState family — arbitrary state
    * the built-in aggs can't express).
    */
  def userRunningStats(events: Dataset[UserEvent]): Dataset[UserStats] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserStats, UserStats](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[UserStats]) =>
          val prev = state.getOption.getOrElse(UserStats(userId, 0L, 0.0))
          var n = prev.n_events
          var total = prev.total_value
          rows.foreach { e => n += 1; total += e.value }
          val next = UserStats(userId, n, total)
          state.update(next)
          Iterator(next)
      }
  }

  /** Stream-stream interval join: clicks joined to the purchases that follow
    * them within one hour for the same user, both sides watermarked so join
    * state is bounded (Spark drops a buffered row once the other side's
    * watermark passes its join window — unbounded stream-stream joins never
    * release state).
    */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 day")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 day")
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_ts"), col("purchase_ts"))
  }

  /** Highest stream batch id ever committed into `t` by the table sink
    * (scan of the snapshot summaries — O(snapshots), metadata-only).
    * Reads the carried form too: maintenance commits preserve the fence
    * through snapshot expiry (`GraftTable.CarriedFencePrefix`).
    */
  def lastCommittedBatchId(t: graft.table.GraftTable): Option[Long] =
    t.snapshotsList.flatMap(s => s.summary.get("stream-batch-id") ++
        s.summary.get(graft.table.GraftTable.CarriedFencePrefix + "stream-batch-id"))
      .map(_.toLong).maxOption

  /** Idempotent streaming sink into a GraftTable: each micro-batch appends
    * with its batch id recorded in the snapshot summary, and a batch at or
    * below the last committed id is SKIPPED — Spark's foreachBatch is
    * at-least-once across restarts, so the id check upgrades table ingest to
    * exactly-once (the standard transactional-sink contract: the batch id is
    * durable in the same commit as the data it covers).
    */
  def ingestBatch(t: graft.table.GraftTable)(batch: DataFrame, batchId: Long): Unit =
    if (lastCommittedBatchId(t).forall(batchId > _))
      t.append(batch, extraSummary = Map("stream-batch-id" -> batchId.toString))

  /** `ingestBatch` + bounded small-file growth — the ops problem every
    * streaming table sink hits at 100 TB: each micro-batch commit adds
    * files, and a week of 1-minute batches is 10k tiny files unless
    * something compacts. This sink compacts INLINE whenever the live file
    * count passes `maxFiles` (partition-local binpack via
    * `Maintenance.rewriteDataFiles` — only partitions with ≥2 sub-target
    * files rewrite, so steady-state work is proportional to fresh data,
    * not table size). Correctness is unchanged: the compaction commit is
    * content-preserving and carries no `stream-batch-id`, so the
    * exactly-once replay check still sees exactly the append history.
    */
  def ingestBatchCompacting(t: graft.table.GraftTable, maxFiles: Int,
      targetFileSizeBytes: Long = 512L * 1024 * 1024)
      (batch: DataFrame, batchId: Long): Unit = {
    ingestBatch(t)(batch, batchId)
    if (t.latest.files.size > maxFiles)
      graft.maintenance.Maintenance.rewriteDataFiles(t, targetFileSizeBytes)
  }

  /** Exactly-once streaming UPSERT sink (the Flink-CDC-into-Iceberg shape,
    * built on merge-on-read): each micro-batch is reduced to its LAST
    * version per key (`orderCols` descending — (key, orderCols) must be
    * unique for a deterministic winner), then committed as ONE equality-
    * delete + append via `commitUpsert` — O(batch) regardless of table
    * size, no data-file rewrite, with the batch id durable in the same
    * commit for the same at-least-once → exactly-once upgrade as
    * `ingestBatch`. Cross-batch ordering is the stream's: a later batch
    * wins, which is CDC's contract (upstream emits versions in order).
    */
  def upsertBatch(t: graft.table.GraftTable, keyCols: Seq[String], orderCols: Seq[String])
      (batch: DataFrame, batchId: Long): Unit =
    if (lastCommittedBatchId(t).forall(batchId > _)) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col): _*)
        .orderBy(orderCols.map(c => col(c).desc): _*)
      val lastPerKey = batch.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn")
      t.commitUpsert(lastPerKey, keyCols, "upsert-mor",
        extraSummary = Map("stream-batch-id" -> batchId.toString))
    }

  /** Exactly-once streaming INCREMENTAL-INGESTION sink — the full
    * production loop for a training corpus: each micro-batch of documents
    * is deduplicated against the CURRENT admitted corpus
    * ([[graft.llm.Dedup.ingestFlags]] admission: a doc is kept iff its
    * within-batch near-dup component touches no corpus duplicate and it is
    * the component's min-id representative), and the admitted docs append
    * to the corpus table. With `indexT` set, the corpus's persisted
    * MinHash band index drives candidate generation (the scale path — the
    * corpus is never re-LSH'd; see [[graft.llm.Dedup.incrementalNearDups]])
    * and the admitted docs' band rows append to the index table so the next
    * batch probes an up-to-date index. With `exactPairs` the pair sets come
    * from bounded all-pairs 2-gram Jaccard instead — the DuckDB-checkable
    * admission twin.
    *
    * Exactly-once across TWO tables from one at-least-once callback: the
    * corpus append commits first with the batch id durable in its summary;
    * the index append derives its rows from the corpus table's OWN commit
    * for that id (`readIncremental` over just that snapshot), not from the
    * callback's arguments — so a crash between the two commits replays
    * into a pure repair (corpus fence skips, index append reconstructs
    * exactly the admitted rows), and the pair never diverges.
    */
  def dedupIngestBatch(
      corpusT: graft.table.GraftTable,
      indexT: Option[graft.table.GraftTable] = None,
      numPerm: Int = 128, bands: Int = 32,
      threshold: Double = 0.5, shingleSize: Int = 3,
      exactPairs: Boolean = false)(batch: DataFrame, batchId: Long): Unit = {
    import graft.llm.Dedup
    val corpusDone = lastCommittedBatchId(corpusT).exists(_ >= batchId)
    if (!corpusDone) {
      val corpus = corpusT.readLatest()
      var persisted: Option[DataFrame] = None
      val (cross, within) =
        if (exactPairs) {
          // corpus x batch and batch x batch only — never corpus x corpus
          // (those pairs can't affect this batch's admission)
          def jac(a: Column, b: Column): Column =
            when(size(array_union(a, b)) === 0, lit(0.0))
              .otherwise(size(array_intersect(a, b)) /
                size(array_union(a, b)).cast("double"))
          val cSh = corpus.select(col("doc_id").as("corpus_doc_id"),
            Dedup.shingleStrings(col("text")).as("sh_c"))
          val bSh = batch.select(col("doc_id").as("new_doc_id"),
            Dedup.shingleStrings(col("text")).as("sh_b"))
          (cSh.crossJoin(bSh)
            .filter(jac(col("sh_c"), col("sh_b")) >= threshold)
            .select("corpus_doc_id", "new_doc_id"),
            bSh.crossJoin(bSh.select(col("new_doc_id").as("doc_b"),
              col("sh_b").as("sh_b2")))
            .filter(col("new_doc_id") < col("doc_b") &&
              jac(col("sh_b"), col("sh_b2")) >= threshold)
            .select(col("new_doc_id").as("doc_a"), col("doc_b")))
        } else {
          val index = indexT.map(_.readLatest()).getOrElse(
            Dedup.minHashBandRows(corpus, numPerm, bands, shingleSize))
          // the batch signs ONCE: the persisted band rows feed both the
          // index probe and the within-batch self-join (without the persist
          // each consumer would recompute shingles + signatures)
          val batchBands = Dedup.minHashBandRows(batch, numPerm, bands, shingleSize)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          persisted = Some(batchBands)
          (Dedup.incrementalNearDupsFromBands(batch, batchBands, index, corpus,
            threshold, shingleSize),
            Dedup.minHashNearDupsFromBands(batch, batchBands, threshold, shingleSize))
        }
      val kept = batch.join(
        Dedup.ingestFlags(batch, cross, within).filter(col("kept")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      try corpusT.append(kept,
        extraSummary = Map("stream-batch-id" -> batchId.toString))
      finally persisted.foreach(_.unpersist())
    }
    indexT.foreach { it =>
      if (!lastCommittedBatchId(it).exists(_ >= batchId)) {
        corpusT.snapshotsList
          .find(_.summary.get("stream-batch-id").contains(batchId.toString)) match {
          case Some(s) =>
            val admitted =
              corpusT.readIncremental(s.parentId.getOrElse(0L), s.snapshotId)
            it.append(Dedup.minHashBandRows(admitted, numPerm, bands, shingleSize),
              extraSummary = Map("stream-batch-id" -> batchId.toString))
          case None =>
            // The corpus fence says this batch committed (possibly via a
            // carried fence surviving snapshot expiry) but no retained
            // snapshot carries the raw id — the admitted docs' band rows can
            // no longer be reconstructed incrementally, and silently
            // skipping would leave a permanent hole in the index (silent
            // near-dup misses downstream). Refuse loudly; the operator
            // rebuilds the index (minHashBandRows over the corpus) or
            // expires snapshots only after the index has caught up.
            require(!lastCommittedBatchId(corpusT).exists(_ >= batchId),
              s"index repair for stream batch $batchId: the corpus commit " +
                s"was expired before its band rows reached the index table — " +
                "rebuild the index from the corpus (Dedup.minHashBandRows) " +
                "or re-run expiry only after index catch-up")
        }
      }
    }
  }

  /** Exactly-once streaming ingest INTO a WAP branch: each micro-batch
    * stages on `branch` (invisible to main readers) with its batch id
    * durable under the BRANCH-SCOPED key `staged-stream-batch-id:<branch>`
    * — the same at-least-once → exactly-once upgrade as `ingestBatch`, but
    * the data waits for an audit. When the stream (or its owner) decides
    * the staged window is good, `publishBranch` lands everything as ONE
    * main commit; a failed audit drops the branch and no reader ever saw a
    * row. The streaming shape of write-audit-publish.
    *
    * Exactly-once holds ACROSS branch lifetimes, not just within one:
    *  - the key is branch-scoped, so a fresh branch head (which is the base
    *    main snapshot verbatim) cannot inherit the main table sink's
    *    `stream-batch-id` and silently discard early batches;
    *  - `publishBranch` copies the key into the main commit summary, so a
    *    fresh-checkpoint replay after a publish finds the published id on
    *    main (`publishedStagedId`) and skips re-staging those batches on
    *    the re-created branch;
    *  - the head-side id check runs as an `appendToBranch` precondition
    *    INSIDE its CAS retry loop, so two writers racing the same branch
    *    cannot both stage one batch id (the loser re-reads the head, sees
    *    the winner's stamp, and skips).
    * The contract identifies a logical stream with its branch name: re-use
    * a published branch's name only when resuming the SAME stream.
    */
  def stageBatch(t: graft.table.GraftTable, branch: String)
      (batch: DataFrame, batchId: Long): Unit = {
    val key = graft.table.GraftTable.StagedStreamKeyPrefix + branch
    if (publishedStagedId(t, branch).forall(batchId > _))
      t.appendToBranch(branch, batch,
        extraSummary = Map(key -> batchId.toString),
        precondition = head => head.summary.get(key).map(_.toLong).forall(batchId > _))
  }

  /** Highest batch id this branch's stream ever PUBLISHED into main
    * (O(snapshots) metadata scan of the summaries, like
    * `lastCommittedBatchId`).
    */
  def publishedStagedId(t: graft.table.GraftTable, branch: String): Option[Long] = {
    val key = graft.table.GraftTable.StagedStreamKeyPrefix + branch
    t.snapshotsList.flatMap(s => s.summary.get(key) ++
        s.summary.get(graft.table.GraftTable.CarriedFencePrefix + key))
      .map(_.toLong).maxOption
  }

  /** Run a streaming query over the static events parquet with
    * Trigger.AvailableNow into a memory sink; returns the final result table.
    * `maxFilesPerTrigger` forces multi-batch execution so incremental state
    * handling is actually exercised.
    */
  def runAvailableNow(spark: SparkSession, sfDir: String, queryName: String,
      transform: DataFrame => DataFrame, outputMode: String = "complete"): DataFrame = {
    // The file-stream source wants a directory; expose the single events
    // parquet through a scratch dir (symlink, copy fallback) without touching
    // the read-only testdata.
    val streamDir = java.nio.file.Paths.get(graft.Scratch.dir(s"stream-$queryName"))
    val target = streamDir.resolve("events.parquet")
    java.nio.file.Files.createDirectories(streamDir)
    java.nio.file.Files.deleteIfExists(target) // sfDir may differ between runs
    val src = java.nio.file.Paths.get(s"$sfDir/events.parquet")
    try java.nio.file.Files.createSymbolicLink(target, src)
    catch { case _: Throwable => java.nio.file.Files.copy(src, target) }
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    // ts normalization matches Tables.events: ns-long and native-timestamp
    // testdata generations both land on session-zoned TimestampType
    val tsNorm: Column = schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("timestamp_micros(ts div 1000)")
      case _ => col("ts").cast("timestamp")
    }
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir.toString)
      .withColumn("ts", tsNorm)
    // State-store partition count is pinned at the query's first run from
    // spark.sql.shuffle.partitions; 32 stores per stateful op is pure
    // overhead at test scale (each is a checkpoint dir written per batch).
    // On a real cluster this knob would stay at the session default.
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val q = transform(stream).writeStream
        .format("memory")
        .queryName(queryName)
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    spark.table(queryName)
  }

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // The DSv2 STREAMING SOURCE over a snapshot table
    // (spark.readStream.format("graft") — graft.sources.GraftStreamSource):
    // a two-commit table streams through the connector micro-batch by
    // micro-batch (offset = snapshot id) and the aggregate equals the batch
    // answer from the same source rows (DuckDB-checked). The read half of
    // the streaming story; the exactly-once sinks are the write half.
    "stream_table_source" -> ((s, dir) => {
      val base = graft.queries.Tables.orders(s, dir)
        .filter(col("o_orderkey") < 500)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val tdir = graft.Scratch.fresh("stream_table_source") + "/t"
      val t = graft.table.GraftTable.create(s, tdir, base.schema)
      t.append(base.filter(col("o_orderkey") < 250))
      t.append(base.filter(col("o_orderkey") >= 250))
      // same state-store sizing as runAvailableNow: the stateful agg pins
      // its store count from spark.sql.shuffle.partitions at first run, and
      // 32 HDFS-backed stores (each a per-batch checkpoint write) is pure
      // overhead at test scale — on a real cluster the session default stays
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        val q = s.readStream.format("graft").load(tdir)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            graft.queries.Fmt.dbl(
              sum(graft.queries.Fmt.dec(col("o_totalprice")))).as("total"))
          .writeStream.format("memory").queryName("stream_table_source")
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table("stream_table_source").orderBy("o_orderstatus")
    }),

    // Streaming windowed agg == batch daily counts (oracle-checked)
    "stream_windowed_counts" -> ((s, dir) =>
      runAvailableNow(s, dir, "stream_windowed_counts", dailyTypeCounts)
        .orderBy("day", "event_type")),

    // Custom stateful op: final per-user stats from update-mode stream.
    // Update mode emits one row per user per batch; the max per user is the
    // final state. Event counts are exact, and the 4-decimal-rounded float
    // totals are grid-stable (see the stream_user_totals oracle note), so
    // both entries are DuckDB-checked.
    "stream_user_stats" -> ((s, dir) => {
      import s.implicits._
      val result = runAvailableNow(s, dir, "stream_user_stats",
        df => df.select(col("user_id"), col("value")).as[UserEvent]
          .transform(userRunningStats).toDF(),
        outputMode = "update")
      result.groupBy("user_id")
        .agg(max("n_events").as("n_events"))
        .filter(col("user_id") < 20)
        .orderBy("user_id")
    }),

    // Stream-static enrichment join: each micro-batch joins the event
    // stream to a BROADCAST static dimension (the static side re-resolves
    // per batch, so a dimension update is visible without restarting the
    // query — the classic enrichment shape). Per-nation counts equal the
    // batch join (DuckDB-checked).
    "stream_static_join" -> ((s, dir) => {
      val dim = broadcast(graft.queries.Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey")))
      runAvailableNow(s, dir, "stream_static_join",
        ev => ev.join(dim, col("user_id") === col("c_custkey"))
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_events")))
        .orderBy("c_nationkey")
    }),

    // Streaming dedup by event id under watermark; counts equal the batch
    // distinct counts (DuckDB-checked)
    "stream_dedup" -> ((s, dir) =>
      runAvailableNow(s, dir, "stream_dedup", dedupedTypeCounts,
        outputMode = "complete")
        .orderBy("event_type")),

    // Stream-stream interval join == batch theta join (append-mode join rows
    // aggregated in batch afterwards; oracle-checked)
    "stream_interval_join" -> ((s, dir) =>
      runAvailableNow(s, dir, "stream_interval_join", clickPurchaseJoin,
        outputMode = "append")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id")),

    // Streaming ingest into the snapshot table, run TWICE with fresh
    // checkpoints: the second run replays every batch and the idempotent
    // sink must skip them all — row counts equal one copy of events and the
    // table carries exactly one stream commit per batch (DuckDB-checked).
    "stream_table_sink" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val root = graft.Scratch.fresh("stream_table_sink")
      // split events into 4 files so AvailableNow runs 4 real micro-batches
      val events = graft.queries.Tables.events(s, dir)
        .select("event_id", "user_id", "event_type", "value", "ts")
      events.repartition(4).write.parquet(s"$root/src")
      val t = graft.table.GraftTable.create(s, s"$root/table", events.schema)
      def runOnce(checkpoint: String): Unit = {
        val q = s.readStream.schema(events.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$root/src")
          .writeStream
          .foreachBatch(ingestBatch(t) _)
          .option("checkpointLocation", s"$root/$checkpoint")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      runOnce("cp1")
      runOnce("cp2") // fresh checkpoint -> full replay -> all batches skipped
      val streamCommits = t.snapshotsList.count(_.summary.contains("stream-batch-id"))
      t.readLatest().agg(count(lit(1)).as("row_count"),
        sum(col("event_id")).as("id_sum"))
        .withColumn("n_stream_commits", lit(streamCommits.toLong))
    }),

    // The DSv2 STREAMING SINK (df.writeStream.format("graft").start(dir) —
    // no foreachBatch): 4 micro-batches land as 4 exactly-once epoch
    // commits through graft.sources.GraftStreamingWrite, then a SECOND run
    // from a fresh checkpoint replays every epoch and the stream-batch-id
    // fence skips them all — row counts equal one copy of events and
    // n_stream_commits stays 4 (DuckDB-checked).
    "stream_connector_sink" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val root = graft.Scratch.fresh("stream_connector_sink")
      val events = graft.queries.Tables.events(s, dir)
        .select("event_id", "user_id", "event_type", "value", "ts")
      events.repartition(4).write.parquet(s"$root/src")
      val t = graft.table.GraftTable.create(s, s"$root/table", events.schema)
      def runOnce(checkpoint: String): Unit = {
        val q = s.readStream.schema(events.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$root/src")
          .writeStream.format("graft")
          .option("checkpointLocation", s"$root/$checkpoint")
          .trigger(Trigger.AvailableNow())
          .start(t.tableDir)
        q.awaitTermination()
      }
      runOnce("cp1")
      runOnce("cp2") // fresh checkpoint -> full replay -> all epochs skipped
      val streamCommits = t.snapshotsList.count(_.summary.contains("stream-batch-id"))
      t.readLatest().agg(count(lit(1)).as("row_count"),
        sum(col("event_id")).as("id_sum"))
        .withColumn("n_stream_commits", lit(streamCommits.toLong))
    }),

    // Streaming ingest with inline auto-compaction: 4 micro-batches into
    // the table sink with maxFiles=2 — file count stays bounded while the
    // row content equals one copy of events, compaction commits appear,
    // and a fresh-checkpoint replay still skips every batch (the
    // compaction commits carry no batch id).
    "stream_ingest_autocompact" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val root = graft.Scratch.fresh("stream_ingest_autocompact")
      val events = graft.queries.Tables.events(s, dir)
        .select("event_id", "user_id", "event_type", "value", "ts")
      events.repartition(4).write.parquet(s"$root/src")
      val t = graft.table.GraftTable.create(s, s"$root/table", events.schema)
      def runOnce(checkpoint: String): Unit = {
        val q = s.readStream.schema(events.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$root/src")
          .writeStream
          .foreachBatch(ingestBatchCompacting(t, maxFiles = 2) _)
          .option("checkpointLocation", s"$root/$checkpoint")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      runOnce("cp1")
      runOnce("cp2") // fresh checkpoint -> full replay -> all batches skipped
      val streamCommits = t.snapshotsList.count(_.summary.contains("stream-batch-id"))
      val compactions = t.snapshotsList.count(_.operation == "rewrite-data-files")
      t.readLatest().agg(count(lit(1)).as("row_count"),
        sum(col("event_id")).as("id_sum"))
        .withColumn("n_stream_commits", lit(streamCommits.toLong))
        .withColumn("files_bounded", lit(t.latest.files.size <= 2))
        .withColumn("compacted", lit(compactions >= 1L))
    }),

    // Streaming write-audit-publish: micro-batches stage on a WAP branch
    // (exactly-once via the branch-durable batch id — a fresh-checkpoint
    // replay skips every batch), main sees NOTHING until the audited state
    // publishes as ONE commit.
    "stream_wap_sink" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val root = graft.Scratch.fresh("stream_wap_sink")
      val events = graft.queries.Tables.events(s, dir)
        .select("event_id", "user_id", "event_type", "value", "ts")
      events.repartition(4).write.parquet(s"$root/src")
      val t = graft.table.GraftTable.create(s, s"$root/table", events.schema)
      t.createBranch("ingest")
      def runOnce(checkpoint: String): Unit = {
        val q = s.readStream.schema(events.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$root/src")
          .writeStream
          .foreachBatch(stageBatch(t, "ingest") _)
          .option("checkpointLocation", s"$root/$checkpoint")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      runOnce("cp1")
      runOnce("cp2") // fresh checkpoint -> full replay -> every batch skipped
      val nStaged = t.branchSummary("ingest").getOrElse("staged-appends", "0").toLong
      val mainBefore = t.readLatest().count()
      val commitsBefore = t.snapshotsList.size
      t.publishBranch("ingest")
      val mainCommitsAdded = (t.snapshotsList.size - commitsBefore).toLong
      t.readLatest().agg(count(lit(1)).as("row_count"),
        sum(col("event_id")).as("id_sum"))
        .withColumn("n_staged", lit(nStaged))
        .withColumn("rows_before_publish", lit(mainBefore))
        .withColumn("n_publish_commits", lit(mainCommitsAdded))
    }),

    // Streaming upsert sink: events keyed by user_id, last version per user
    // wins. The source is range-partitioned on (ts, event_id) so micro-batch
    // order follows event time and the cross-batch winner equals the global
    // last-by-(ts, event_id) — which is exactly what the DuckDB window
    // oracle computes. A second run from a fresh checkpoint replays every
    // batch and all are skipped (exactly-once), proven by n_upsert_commits.
    "stream_upsert_sink" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val root = graft.Scratch.fresh("stream_upsert_sink")
      val events = graft.queries.Tables.events(s, dir)
        .select("event_id", "user_id", "event_type", "value", "ts")
      // part-00000..3 cover ascending (ts, event_id) bands (range
      // partitioner contract). The file-stream source orders by modification
      // time, which one write job does NOT stratify — so the parts are
      // published under band names with PINNED ascending mtimes, making
      // batch order = event-time order deterministically.
      events.repartitionByRange(4, col("ts"), col("event_id"))
        .write.parquet(s"$root/stage")
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        s.sessionState.newHadoopConf())
      val srcDir = new org.apache.hadoop.fs.Path(s"$root/src")
      fs.mkdirs(srcDir)
      val parts = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/stage"))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      parts.zipWithIndex.foreach { case (p, i) =>
        val dest = new org.apache.hadoop.fs.Path(srcDir, f"band-$i%02d.parquet")
        require(fs.rename(p, dest), s"could not publish $p")
        fs.setTimes(dest, 1000L * (i + 1), -1)
      }
      val t = graft.table.GraftTable.create(s, s"$root/table", events.schema)
      def runOnce(checkpoint: String): Unit = {
        val q = s.readStream.schema(events.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$root/src")
          .writeStream
          .foreachBatch(upsertBatch(t, Seq("user_id"), Seq("ts", "event_id")) _)
          .option("checkpointLocation", s"$root/$checkpoint")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      runOnce("cp1")
      runOnce("cp2") // fresh checkpoint -> full replay -> all batches skipped
      val upsertCommits = t.snapshotsList.count(_.summary.contains("stream-batch-id"))
      t.readLatest().agg(count(lit(1)).as("row_count"),
        sum(col("event_id")).as("id_sum"))
        .withColumn("n_upsert_commits", lit(upsertCommits.toLong))
    }),

    // Streaming incremental corpus ingestion, fully oracle-checked: a seed
    // corpus (doc_id < 200) plus four arriving document batches of 30,
    // deduplicated batch-by-batch with the exactPairs admission twin
    // (bounded all-pairs 2-gram Jaccard — the same declared oracle shape as
    // dedup_incremental_exact; the LSH+index scale path of the SAME sink is
    // exercised with crash-repair in StreamIncrementalIngestSpec). A second
    // fresh-checkpoint run replays all four batches and must skip them all
    // (n_stream_commits stays 4) — the exactly-once proof rides in the
    // output.
    "stream_incremental_ingest" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val root = graft.Scratch.fresh("stream_incr_ingest")
      val docs = graft.queries.Tables.documents(s, dir)
        .select("doc_id", "text").filter(col("doc_id") < 320)
      val seed = docs.filter(col("doc_id") < 200)
      val t = graft.table.GraftTable.create(s, s"$root/corpus", docs.schema)
      t.append(seed)
      // one file per arrival batch, written sequentially so the file
      // stream's mtime order IS the ingestion order
      Seq((200, 230), (230, 260), (260, 290), (290, 320)).foreach { case (a, b) =>
        docs.filter(col("doc_id") >= a && col("doc_id") < b)
          .coalesce(1).write.mode("append").parquet(s"$root/src")
      }
      def runOnce(checkpoint: String): Unit = {
        val q = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$root/src")
          .writeStream
          .foreachBatch(dedupIngestBatch(t, threshold = 0.1, exactPairs = true) _)
          .option("checkpointLocation", s"$root/$checkpoint")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      runOnce("cp1")
      runOnce("cp2") // fresh checkpoint -> full replay -> all batches skipped
      val streamCommits = t.snapshotsList.count(_.summary.contains("stream-batch-id"))
      t.readLatest().select(col("doc_id"))
        .withColumn("n_stream_commits", lit(streamCommits.toLong))
        .orderBy("doc_id")
    }),

    "stream_user_totals" -> ((s, dir) => {
      import s.implicits._
      runAvailableNow(s, dir, "stream_user_totals",
        df => df.select(col("user_id"), col("value")).as[UserEvent]
          .transform(userRunningStats).toDF(),
        outputMode = "update")
        .groupBy("user_id")
        .agg(max("n_events").as("n_events"), round(max("total_value"), 4).as("total_value"))
        .filter(col("user_id") < 20)
        .orderBy("user_id")
    }),

    // Streaming session windows: Spark's session_window() gap-merging agg —
    // the streaming twin of the batch Sessionize operator. Two events share
    // a session iff the later one starts strictly inside the earlier's
    // [ts, ts + gap) window (end-exclusive: a gap of exactly 12h opens a
    // NEW session — the oracle's >= mirrors this boundary exactly).
    "stream_session_windows" -> ((s, dir) =>
      runAvailableNow(s, dir, "stream_session_windows",
        df => df.filter(col("user_id") < 15)
          .groupBy(col("user_id"), session_window(col("ts"), "12 hours"))
          .agg(count(lit(1)).as("n_events"), sum(col("value")).as("v")))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"),
          round(sum("v"), 4).as("total_value"))
        .orderBy("user_id"))
  )

  val oracle: Map[String, String] = Map(
    // Sequential admission replayed batch-by-batch (the four arrival
    // batches unrolled, like the kmeans/pagerank round-unrolled oracles):
    // per batch k — exact 2-gram-Jaccard pairs, corpus_dup vs the admitted
    // set so far, within-batch closure via a recursive CTE, component-level
    // rejection + min-id keeper, then the admitted set grows
    "stream_incremental_ingest" -> {
      val blocks = Seq((1, 200, 230), (2, 230, 260), (3, 260, 290), (4, 290, 320))
        .map { case (k, lo, hi) =>
          s"""b$k AS (SELECT doc_id FROM sh WHERE doc_id >= $lo AND doc_id < $hi),
             x$k AS (SELECT DISTINCT p.doc_b AS doc_id FROM p
                     JOIN a${k - 1} ON p.doc_a = a${k - 1}.doc_id
                     JOIN b$k ON p.doc_b = b$k.doc_id),
             w$k AS (SELECT p.doc_a, p.doc_b FROM p
                     JOIN b$k x ON p.doc_a = x.doc_id
                     JOIN b$k y ON p.doc_b = y.doc_id),
             e$k AS (SELECT doc_a AS src, doc_b AS dst FROM w$k
                     UNION ALL SELECT doc_b AS src, doc_a AS dst FROM w$k),
             reach$k(id, label) AS (
               SELECT doc_id, doc_id FROM b$k
               UNION
               SELECT e.src, r.label FROM e$k e JOIN reach$k r ON e.dst = r.id),
             comp$k AS (SELECT id AS doc_id, MIN(label) AS component
                        FROM reach$k GROUP BY id),
             flg$k AS (SELECT b.doc_id, (x.doc_id IS NOT NULL) AS cd, c.component
                       FROM b$k b JOIN comp$k c USING (doc_id)
                       LEFT JOIN x$k x ON b.doc_id = x.doc_id),
             cs$k AS (SELECT component, BOOL_OR(cd) AS bad, MIN(doc_id) AS rep
                      FROM flg$k GROUP BY component),
             a$k AS (SELECT doc_id FROM a${k - 1}
                     UNION ALL
                     SELECT f.doc_id FROM flg$k f JOIN cs$k USING (component)
                     WHERE (NOT cs$k.bad) AND f.doc_id = cs$k.rep)"""
        }.mkString(",\n")
      raw"""WITH RECURSIVE tk AS (
             SELECT doc_id,
               list_filter(string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'),
                 w -> w <> '') AS toks
             FROM documents WHERE doc_id < 320),
           sh AS (
             SELECT doc_id,
               list_distinct(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
                 ELSE list_transform(generate_series(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i + 1]) END) AS sh
             FROM tk),
           p AS (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             WHERE (CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
                    ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.sh, b.sh))) END) >= 0.1),
           a0 AS (SELECT doc_id FROM sh WHERE doc_id < 200),
           $blocks
         SELECT doc_id, CAST(4 AS BIGINT) AS n_stream_commits
         FROM a4 ORDER BY doc_id"""
    },
    "stream_windowed_counts" ->
      """SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
              event_type, COUNT(*) AS cnt
         FROM events GROUP BY 1, 2 ORDER BY day, event_type""",
    "stream_user_stats" ->
      """SELECT user_id, COUNT(*) AS n_events FROM events
         WHERE user_id < 20 GROUP BY user_id ORDER BY user_id""",
    // The stream accumulates each user's total sequentially while SQL sums
    // in scan order — but events.value carries exactly 2 decimals, so every
    // per-user sum sits ON the 0.01 grid: the 4-decimal round's nearest
    // boundary is 5e-5 away versus ~1e-11 of worst-case float accumulation
    // error. The rounded totals are therefore bit-stable across engines and
    // orderings, and the entry is fully oracle-checkable.
    "stream_user_totals" ->
      """SELECT user_id, COUNT(*) AS n_events,
              round(SUM(value), 4) AS total_value
         FROM events WHERE user_id < 20 GROUP BY user_id ORDER BY user_id""",
    "stream_table_source" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
         FROM orders WHERE o_orderkey < 500
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "stream_static_join" ->
      """SELECT c_nationkey, COUNT(*) AS n_events
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY c_nationkey ORDER BY c_nationkey""",
    "stream_dedup" ->
      """SELECT event_type, COUNT(DISTINCT event_id) AS cnt
         FROM events GROUP BY event_type ORDER BY event_type""",
    "stream_table_sink" ->
      """SELECT COUNT(*) AS row_count, CAST(SUM(event_id) AS BIGINT) AS id_sum,
              CAST(4 AS BIGINT) AS n_stream_commits
         FROM events""",
    "stream_connector_sink" ->
      """SELECT COUNT(*) AS row_count, CAST(SUM(event_id) AS BIGINT) AS id_sum,
              CAST(4 AS BIGINT) AS n_stream_commits
         FROM events""",
    "stream_ingest_autocompact" ->
      """SELECT COUNT(*) AS row_count, CAST(SUM(event_id) AS BIGINT) AS id_sum,
              CAST(4 AS BIGINT) AS n_stream_commits,
              true AS files_bounded, true AS compacted
         FROM events""",
    "stream_wap_sink" ->
      """SELECT COUNT(*) AS row_count, CAST(SUM(event_id) AS BIGINT) AS id_sum,
              CAST(4 AS BIGINT) AS n_staged,
              CAST(0 AS BIGINT) AS rows_before_publish,
              CAST(1 AS BIGINT) AS n_publish_commits
         FROM events""",
    "stream_upsert_sink" ->
      """SELECT COUNT(*) AS row_count, CAST(SUM(event_id) AS BIGINT) AS id_sum,
              CAST(4 AS BIGINT) AS n_upsert_commits
         FROM (SELECT user_id, event_id,
                 ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
               FROM events)
         WHERE rn = 1""",
    // Gap-based sessionization replayed relationally: a new session opens
    // when the µs gap to the previous event is >= the 12h window (Spark's
    // session end is exclusive), then sessions count per user
    "stream_session_windows" ->
      """WITH o AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
              FROM events WHERE user_id < 15),
         s AS (SELECT user_id, ts, value,
                 CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        OR epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts))
                           >= CAST(43200000000 AS BIGINT)
                      THEN 1 ELSE 0 END AS new_s
               FROM o),
         g AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sid FROM s)
         SELECT user_id, CAST(COUNT(DISTINCT sid) AS BIGINT) AS n_sessions,
                COUNT(*) AS n_events, round(SUM(value), 4) AS total_value
         FROM g GROUP BY user_id ORDER BY user_id""",
    "stream_interval_join" ->
      """WITH c AS (SELECT user_id, ts AS cts FROM events WHERE event_type = 'click'),
            p AS (SELECT user_id, ts AS pts FROM events WHERE event_type = 'purchase')
         SELECT c.user_id AS user_id, COUNT(*) AS n_pairs
         FROM c JOIN p ON c.user_id = p.user_id
                      AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 1 HOUR
         GROUP BY 1 ORDER BY user_id"""
  )
}
