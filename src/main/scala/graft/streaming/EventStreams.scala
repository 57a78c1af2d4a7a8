package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DecimalType, StructType}

/** Structured Streaming surface over the `events` table.
  *
  * The reference is batch-only (SURVEY.md §2.8) — this is the extension
  * path: the same parquet drives a file-source stream, so incremental
  * models can be re-expressed as streaming queries with watermarks. For
  * synchronous verification we run the stream to completion against a
  * memory sink (`processAllAvailable`), which makes the result equal to
  * the batch computation and therefore oracle-checkable.
  */
object EventStreams {

  case class Ev(user_id: Long, tsUs: Long, value: Double)
  case class Sess(user_id: Long, n_events: Long, sum_value: Double)

  private def eventStream(spark: SparkSession, sfDir: String): DataFrame = {
    // ts physical type varies by generator version (nanos-as-long /
    // NTZ µs / TZ); EventTime.normalizeTs maps all three to the same
    // session-TZ TimestampType micros. The conf only matters for the
    // TIMESTAMP(NANOS) vintage and is harmless otherwise.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/events.parquet"
    val schema = spark.read.parquet(path).schema
    // the file stream source wants a directory; glob-filter to this table
    graft.functions.EventTime.normalizeTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(sfDir))
  }

  /** Session conf selecting the state-store backend for the stateful
    * queries here: set to `rocksdb` to run them on Spark's
    * RocksDBStateStoreProvider — the 100 TB posture, where aggregation/
    * join/dedup state exceeds executor heap (RocksDB keeps state off-heap
    * on local disk with incremental checkpointing; the default
    * HDFS-backed provider holds every version in memory). Applied at
    * query START via [[withStatePartitions]], so one session can mix
    * providers across queries. */
  val StateStoreConf = "graft.streaming.stateStore"

  /** Stateful-query cost is dominated by per-partition state-store
    * instances (each checkpointed per micro-batch), so the state
    * partition count should track STATE volume, not CPU count. Both the
    * count and the provider class are captured at query START — set them
    * for the `start()` call only and restore immediately after. */
  private def withStatePartitions[T](spark: SparkSession, n: Int)(
      start: => T): T = {
    val provider =
      if (spark.conf.getOption(StateStoreConf).exists(_.equalsIgnoreCase("rocksdb")))
        Seq("spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else Nil
    graft.engine.SessionConf.withConf(spark,
      (Seq("spark.sql.shuffle.partitions" -> n.toString) ++ provider): _*)(start)
  }

  /** Tumbling 1-hour windowed aggregation with a watermark, run to
    * completion. Complete output mode so no window is dropped and the
    * result matches the batch equivalent exactly. */
  def hourlyCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("hour"),
        col("event_type"), col("n"), col("sum_value"))
    val name = "graft_stream_hourly"
    val q = withStatePartitions(spark, 8)(
      agg.writeStream.outputMode("complete").format("memory")
        .queryName(name).start())
    try q.processAllAvailable() finally q.stop()
    spark.table(name).orderBy(col("hour"), col("event_type"))
  }

  /** Streaming exact deduplication: the same parquet is read TWICE and
    * unioned (so every event arrives exactly twice), then
    * `dropDuplicatesWithinWatermark` on event_id emits each event once —
    * state is bounded by the watermark horizon instead of growing with
    * the full stream history (the 100 TB posture for at-least-once
    * sources). Returned as per-type counts over the sink, equal to the
    * single-copy batch counts. */
  def dedupCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val doubled = eventStream(spark, sfDir).union(eventStream(spark, sfDir))
    val dedup = doubled
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("event_type"))
    val name = "graft_stream_dedup"
    val q = withStatePartitions(spark, 8)(
      dedup.writeStream.outputMode("append").format("memory")
        .queryName(name).start())
    try q.processAllAvailable() finally q.stop()
    spark.table(name).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n")).orderBy(col("event_type"))
  }

  /** Stream-stream interval join (click attribution): purchases joined to
    * the same user's clicks in the preceding hour. Both sides carry
    * watermarks and the join has a two-sided time bound, so each side's
    * state is dropped once the watermark passes the interval — bounded
    * state, the streaming-join scale requirement. Join pairs land in the
    * sink; the per-purchase click count is a batch aggregation over it. */
  def clickAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val p = eventStream(spark, sfDir).filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val c = eventStream(spark, sfDir).filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val joined = p.join(c, expr(
      "p_user = c_user AND c_ts >= p_ts - interval 1 hour AND c_ts <= p_ts"))
      .select(col("p_id"), col("c_id"))
    val name = "graft_stream_join"
    val q = withStatePartitions(spark, 8)(
      joined.writeStream.outputMode("append").format("memory")
        .queryName(name).start())
    try q.processAllAvailable() finally q.stop()
    spark.table(name).groupBy(col("p_id").as("event_id"))
      .agg(count(lit(1)).as("n_clicks")).orderBy(col("event_id"))
  }

  /** Batch sessionization (30-minute inactivity gap): the window-function
    * formulation — new-session flags via lag, then a running sum as the
    * session index. One shuffle on user_id; scales with the event log.
    * The stateful-streaming twin lives in [[sessionizeStreaming]]. */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes.toLong * 60 * 1000 * 1000
    val flagged = events.withColumn("is_new",
      when(lag(col("ts"), 1).over(w).isNull ||
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) > gapUs, 1)
        .otherwise(0))
    flagged
      .withColumn("session_idx", sum(col("is_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
  }

  /** Sessionization via Spark's NATIVE session_window operator — the
    * built-in-first twin of [[sessionizeBatch]]: one groupBy, no window
    * functions, and the same code shape works under readStream with a
    * watermark (session merging is the engine's job). Boundary
    * semantics differ from the lag formulation by design: session_window
    * closes at last_ts + gap EXCLUSIVE, so an event exactly `gap` after
    * its predecessor starts a NEW session (`>=`, where the lag form used
    * `>`); the oracle mirrors that. */
  def sessionizeNative(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("user_id"),
        date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("sum_value"))

  /** Stateful-streaming sessionization with flatMapGroupsWithState —
    * event-time sessions with a processing-time-independent gap. Used by
    * the streaming spec; returns (user_id, n_events, sum_value) per
    * closed session. */
  def sessionizeStreaming(spark: SparkSession, sfDir: String,
      gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = gapMinutes.toLong * 60 * 1000 * 1000
    val ev = eventStream(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("tsUs"), col("value"))
      .as[(Long, Long, Double)].map { case (u, t, v) => Ev(u, t, v) }
    val sessions = ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Ev], Sess](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Ev], state: GroupState[List[Ev]]) =>
          // batch-driven smoke path: all rows for a user arrive together;
          // split the sorted event times on gaps > gapUs
          val evs = (state.getOption.getOrElse(Nil) ++ rows.toList).sortBy(_.tsUs)
          state.update(Nil)
          if (evs.isEmpty) Iterator.empty
          else {
            val sessions = evs.tail.foldLeft(List(List(evs.head))) { (acc, e) =>
              if (e.tsUs - acc.head.head.tsUs > gapUs) List(e) :: acc
              else (e :: acc.head) :: acc.tail
            }
            sessions.reverseIterator.map(s =>
              Sess(user, s.size.toLong, s.map(_.value).sum))
          }
      }
    val name = "graft_stream_sessions"
    val q = sessions.toDF().writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  // ---- the streaming-ledger family: one kernel, one step per ledger ----

  private val D38 = DecimalType(38, 0)

  /** The streaming-ledger kernel every `streaming*` ledger writer below
    * is a call of: ONE AvailableNow-triggered file-source run over
    * `landingDir`, each microbatch passed through `step(batch, batchId)`
    * and appended to `table`. The CHECKPOINTED OFFSET LOG in
    * `checkpointDir` is the incremental cursor — a re-run processes
    * exactly the files that arrived since the last run's offsets, so
    * arrival order and id space are arbitrary, and history is never
    * re-read unless a step asks for it through [[ledgerHistory]].
    *
    * DELIVERY: the microbatch sink is at-least-once — a crash between a
    * batch's append and its offset commit replays the batch and appends
    * its rows AGAIN. Every ledger therefore keys its rows by `batch_id`
    * (the posting ledgers by doc), and its merge view collapses
    * duplicate deliveries (`dropDuplicates(batch_id, keys)`, a distinct,
    * or a min/max per key) before it aggregates: read a ledger through
    * its merge view, never a bare groupBy-sum, or a replay overcounts. A
    * step that reads history also sees a replayed batch's first
    * delivery, and must still emit rows its merge view collapses (the
    * lateness ledger reads only lower batch ids, so its replay is
    * byte-identical; the posting ledgers' max(kept) keeps the first
    * verdict). For exactly-once at warehouse scale, land the append as
    * a MERGE or an idempotent overwrite of a batchId-keyed partition;
    * the single-driver AvailableNow runs here complete per call.
    *
    * The appends go through the cloned microbatch session, so the run
    * ends by refreshing `table` in the CALLER's session — without it a
    * read there sees the pre-run file listing. */
  private[streaming] def runLedger(spark: SparkSession, landingDir: String,
      schema: StructType, table: String, checkpointDir: String)(
      step: (DataFrame, Long) => DataFrame): Unit = {
    val fb: (Dataset[Row], Long) => Unit = (batch, batchId) =>
      step(batch.toDF(), batchId)
        .transform(compactForAppend)
        .write.mode("append").format("parquet").saveAsTable(table)
    val q = spark.readStream.schema(schema).parquet(landingDir).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(fb)
      .start()
    try q.awaitTermination() finally q.stop()
    if (spark.catalog.tableExists(table)) spark.catalog.refreshTable(table)
  }

  /** Every row of `table` appended so far, read in `batch`'s (cloned
    * microbatch) session, or None before the table's first append. The
    * cloned session's relation cache may hold a pre-run file listing of
    * the ledger, so it is refreshed first: the read sees every batch
    * appended so far, including this run's earlier ones. */
  private[streaming] def ledgerHistory(batch: DataFrame,
      table: String): Option[DataFrame] = {
    val s = batch.sparkSession
    if (!s.catalog.tableExists(table)) None
    else {
      s.catalog.refreshTable(table)
      Some(s.table(table))
    }
  }

  /** Compact a microbatch output before its ledger append (guide §6
    * small files): the streaming engine clones the query session with
    * AQE force-disabled (ResolveWriteToStream), so a microbatch body
    * writing through the session's static shuffle-partition count
    * commits that many tiny part files PER BATCH (measured: 32 ~16 KB
    * files per x161 append — the table accretes
    * runs × batches × partitions files that every later read must list
    * and open). The batch queries a microbatch body runs are plain
    * batch plans, so re-enable AQE on the cloned session and REBALANCE
    * the append: partitions coalesce (or split) to advisory size — one
    * file for the summary-sized appends the ledger contract documents,
    * real volume still spreads. Content-identical, layout only. */
  private def compactForAppend(df: DataFrame): DataFrame = {
    df.sparkSession.conf.set("spark.sql.adaptive.enabled", "true")
    df.hint("rebalance")
  }

  /** The compactor skeleton every batch-stamped ledger shares: the
    * batches STRICTLY BELOW the max batch id fold through `fold` into
    * one pre-merged row set with the ledger's columns — stamped
    * `batch_id = -1` (a real streaming batch id is never negative), or,
    * for the set compactor, the first asserting batch. The max-id batch
    * is kept VERBATIM: under AvailableNow crash semantics it is the only
    * batch a restart can re-deliver (earlier batches' offsets are
    * committed), and a replay must land on rows with its original
    * batch_id for the merge views' collapse to see them. Run compaction
    * between runs (no stream active on the table), any number of times.
    * An empty ledger comes back unchanged. Scale shape: one bounded
    * max-id agg (1-row collect), one filter scan, then the fold. */
  private def compactBelowMax(ledger: DataFrame)(
      fold: DataFrame => DataFrame): DataFrame = {
    val maxB = ledger.agg(max(col("batch_id"))).first()
    if (maxB.isNullAt(0)) return ledger
    val older = fold(ledger.filter(col("batch_id") < maxB.getLong(0)))
    ledger.filter(col("batch_id") === maxB.getLong(0))
      .unionByName(older.select(ledger.columns.map(col): _*))
  }

  /** STREAMING incremental corpus dedup — the continuous-ingest twin of
    * the batch signature ledger ([[graft.operators.Dedup.dedupBatchLedger]]):
    * a file-source stream over the landing directory, each microbatch
    * dedup'd against the accumulated ledger table's kept postings,
    * verdict rows appended. Unlike the batch formulation's max-doc-id
    * predicate, the cursor is the offset log ([[runLedger]]), so history
    * is never re-read, let alone re-shingled. */
  def streamingDedupLedger(spark: SparkSession, landingDir: String,
      schema: StructType, ledgerTable: String,
      checkpointDir: String, idCol: String, textCol: String,
      n: Int = 4, numHashes: Int = 8, numBands: Int = 4): Unit = {
    import graft.operators.Dedup
    runLedger(spark, landingDir, schema, ledgerTable, checkpointDir) {
      (batch, _) => Dedup.dedupBatchLedger(batch,
        keptPostings(batch, ledgerTable, Dedup.minhashBandPostings(_,
          idCol, textCol, n, numHashes, numBands)),
        idCol, textCol, n, numHashes, numBands)
    }
  }

  /** The embedding twin of [[streamingDedupLedger]] — the same
    * offset-log-cursored ledger over SRP band postings
    * ([[graft.operators.Dedup.embeddingDedupBatchLedger]]) instead of
    * MinHash shingles, completing the batch/streaming × text/embedding
    * incremental-dedup matrix (driver and delivery: [[runLedger]]). */
  def streamingEmbeddingDedupLedger(spark: SparkSession, landingDir: String,
      schema: StructType, ledgerTable: String,
      checkpointDir: String, idCol: String, vecCol: String, dim: Int,
      numPlanes: Int = 64, numBands: Int = 8): Unit = {
    import graft.operators.Dedup
    runLedger(spark, landingDir, schema, ledgerTable, checkpointDir) {
      (batch, _) => Dedup.embeddingDedupBatchLedger(batch,
        keptPostings(batch, ledgerTable, Dedup.srpBandPostings(_, idCol,
          vecCol, dim, numPlanes, numBands)),
        idCol, vecCol, dim, numPlanes, numBands)
    }
  }

  /** The CONTENT-CHUNK twin of [[streamingDedupLedger]] — the same
    * offset-log-cursored ledger over CDC chunk postings
    * ([[graft.operators.Cdc.cdcDedupBatchLedger]]), completing the
    * batch/streaming × doc-hash/embedding/chunk incremental-dedup
    * matrix: shift-robust dedup whose cursor is the file-source offset
    * log ([[runLedger]]), so arrival order and id space stay arbitrary. */
  def streamingCdcDedupLedger(spark: SparkSession, landingDir: String,
      schema: StructType, ledgerTable: String,
      checkpointDir: String, idCol: String, textCol: String,
      w: Int = 16, mask: Int = 63, minChunkLen: Int = 32): Unit = {
    import graft.operators.Cdc
    runLedger(spark, landingDir, schema, ledgerTable, checkpointDir) {
      (batch, _) => Cdc.cdcDedupBatchLedger(batch,
        keptPostings(batch, ledgerTable,
          Cdc.chunkPostings(_, idCol, textCol, w, mask, minChunkLen)),
        idCol, textCol, w, mask, minChunkLen)
    }
  }

  /** A dedup posting ledger's kept postings so far — the history each
    * microbatch is dedup'd against — or, before the ledger's first
    * append, `emptyPostings(batch.limit(0))` for the posting schema. */
  private def keptPostings(batch: DataFrame, table: String,
      emptyPostings: DataFrame => DataFrame): DataFrame =
    ledgerHistory(batch, table)
      .map(_.filter(col("kept") && col("band") >= 0))
      .getOrElse(emptyPostings(batch.limit(0)))

  /** Streaming heavy-hitters sketch LEDGER — corpus term monitoring that
    * never reprocesses history: each microbatch contributes ONE
    * Misra–Gries summary ([[graft.expressions.MisraGriesTopK]]) plus its
    * row count, appended as (term, est) rows (count rides a null-term
    * sentinel, the ledger-sentinel convention). Because the MG merge is a
    * pointwise SUM, the ledger's global summary is just
    * `groupBy(term).sum(est)` — and the merged bounds telescope across
    * batches exactly as they do across partitions (Agarwal et al., PODS
    * 2012), so [[graft.operators.HeavyHitters.reportFromSummary]] can
    * assert the same integer-exact guarantees over any number of
    * increments. Per batch the appended rows are bounded by
    * tasks × capacity + 1 — sketch-sized, never corpus-sized; the one
    * collected row is the same bounded-metadata shape as the BPE merge
    * loop's argmax row. Read it through [[mergeSketchLedger]] (delivery:
    * [[runLedger]]) — a replay counted twice would break the
    * est ≤ exact invariant the report's sketch_ok verdict asserts. */
  def streamingHeavyHitters(spark: SparkSession, landingDir: String,
      schema: StructType, sketchTable: String,
      checkpointDir: String, termCol: String, capacity: Int): Unit =
    runLedger(spark, landingDir, schema, sketchTable, checkpointDir) {
      (batch, batchId) =>
        // ONE pass over the microbatch: (n, summary) in a single row
        val row = batch.agg(
          count(lit(1)).as("__n"),
          graft.expressions.SketchExpressions
            .misraGriesTopK(col(termCol), capacity).as("__sk")).first()
        val entries = row.getSeq[Row](1)
          .map(e => (e.getString(0), e.getLong(1)))
        val s = batch.sparkSession
        import s.implicits._
        ((null.asInstanceOf[String], row.getLong(0)) +: entries)
          .toDF("term", "est")
          .withColumn("batch_id", lit(batchId))
    }

  /** Streaming source-drift ledger: each AvailableNow run appends the
    * micro-batch's (source, bterm, cs) bucket counts — bucketed against
    * a PINNED reference vocabulary — stamped with `batch_id`. Counts are
    * additive, so the merged ledger telescopes to exactly the batch
    * bucket-count table and the x78 JS machinery
    * ([[graft.operators.CorpusDrift.jsFromBucketCounts]]) reports drift
    * without ever re-reading history. Read it through
    * [[mergeDriftLedger]] (delivery: [[runLedger]]). */
  def streamingDriftLedger(spark: SparkSession, landingDir: String,
      schema: StructType, ledgerTable: String,
      checkpointDir: String, sourceCol: String, textCol: String,
      vocab: Seq[String]): Unit =
    runLedger(spark, landingDir, schema, ledgerTable, checkpointDir) {
      (batch, batchId) =>
        graft.operators.CorpusDrift
          .bucketCountsAgainstVocab(batch, sourceCol, textCol, vocab)
          .withColumn("batch_id", lit(batchId))
    }

  /** Idempotent merge of a [[streamingDriftLedger]]: collapse
    * at-least-once replays on (batch_id, source, bterm) — a replayed
    * batch re-appends identical count rows, so keeping any one copy is
    * exact — then sum to the (source, bterm, cs) bucket-count table
    * [[graft.operators.CorpusDrift.jsFromBucketCounts]] consumes. */
  def mergeDriftLedger(ledger: DataFrame): DataFrame =
    ledger.dropDuplicates("batch_id", "source", "bterm")
      .groupBy("source", "bterm").agg(sum(col("cs")).as("cs"))

  /** Streaming column-profile LEDGER — the x158 data-contract monitor
    * fed incrementally (completes the monitoring family's
    * batch/streaming pairing: drift x84/x78, anomaly x145/x138, profile
    * x159/x158): each microbatch appends its own per-slice
    * (column_name, value) count partials, stamped with batch_id. Counts
    * are ADDITIVE, so the merged ledger telescopes to exactly the count
    * table [[graft.operators.Profiler.reportFromCounts]] consumes — the
    * streamed profile equals the batch profile row-for-row, which is
    * what the x159 oracle asserts. `slice` labels each row's profile
    * side (e.g. before/after a µs-epoch midpoint) so ONE ledger feeds
    * both sides of [[graft.operators.Profiler.drift]].
    *
    * Per batch the appended rows are bounded by the batch's per-column
    * distinct-value counts (the same cost the batch profiler's pass B
    * pays, paid once per increment instead of per report) — value-level
    * partials, never raw rows; a per-batch NDV cannot merge, count
    * tables can. Read it through [[mergeProfileLedger]] (delivery:
    * [[runLedger]]). */
  def streamingProfileLedger(spark: SparkSession, landingDir: String,
      schema: StructType, ledgerTable: String,
      checkpointDir: String, cols: Seq[(String, Column)],
      slice: Column): Unit =
    runLedger(spark, landingDir, schema, ledgerTable, checkpointDir) {
      (batch, batchId) =>
        batch
          .select(slice.as("slice"),
            graft.operators.Profiler.stackedValues(cols)
              .as(Seq("column_name", "value")))
          .groupBy("slice", "column_name", "value")
          .agg(count(lit(1)).as("c"))
          .withColumn("batch_id", lit(batchId))
    }

  /** Idempotent merge of a [[streamingProfileLedger]]: collapse
    * at-least-once replays on (batch_id, slice, column_name, value) — a
    * replayed batch re-appends identical count rows, so keeping any one
    * copy is exact — then sum to the per-slice (column_name, value, c)
    * count table. Feed each slice to
    * [[graft.operators.Profiler.reportFromCounts]]. */
  def mergeProfileLedger(ledger: DataFrame): DataFrame =
    ledger.dropDuplicates("batch_id", "slice", "column_name", "value")
      .groupBy("slice", "column_name", "value")
      .agg(sum(col("c")).as("c"))

  /** Streaming uniform-sample LEDGER — a rerun-stable n-per-group
    * hash-rank sample (eval slices, spot-check panels, the x29 rule)
    * maintained incrementally: each microbatch appends its OWN
    * per-group md5-rank top-n (windows over the bounded batch, never
    * history), stamped with batch_id. The rank key is a pure function
    * of the id, so the global top-n is the top-n of the union of
    * per-batch top-n's (a member's rank within its batch is <= its
    * global rank) — [[mergeSampleLedger]] re-ranks only batches × n
    * candidate rows per group and telescopes to exactly the batch rule,
    * which is what the x162 oracle asserts. A replayed batch
    * ([[runLedger]]) re-appends identical (group, id) rows, which the
    * merge's candidate distinct collapses (hash-rank sampling is
    * idempotent BY KEY). */
  def streamingSampleLedger(spark: SparkSession, landingDir: String,
      schema: StructType, ledgerTable: String,
      checkpointDir: String, groupCol: String, idCol: String,
      n: Int): Unit =
    runLedger(spark, landingDir, schema, ledgerTable, checkpointDir) {
      (batch, batchId) =>
        graft.operators.Sampling.capPerGroup(
          batch.select(col(groupCol), col(idCol)), groupCol, idCol, n)
          .withColumn("batch_id", lit(batchId))
    }

  /** Merged view of a [[streamingSampleLedger]]: distinct candidates
    * (collapses replays AND cross-batch duplicate ids), then the x29
    * md5-rank cap over the bounded candidate set (<= batches × n rows
    * per group). Equals the batch rule over everything ingested. */
  def mergeSampleLedger(ledger: DataFrame, groupCol: String, idCol: String,
      n: Int): DataFrame =
    graft.operators.Sampling.capPerGroup(
      ledger.select(col(groupCol), col(idCol)).distinct(),
      groupCol, idCol, n)

  /** Compact a [[streamingSampleLedger]] ([[compactBelowMax]]): older
    * batches collapse to their CURRENT merged top-n (candidates those
    * rows outrank are dropped for good — they can never re-enter a
    * pure-hash-rank top-n). Lossless through [[mergeSampleLedger]],
    * strictly shrinking once a group has more than n candidates in old
    * batches. */
  def compactSampleLedger(ledger: DataFrame, groupCol: String,
      idCol: String, n: Int): DataFrame =
    compactBelowMax(ledger)(mergeSampleLedger(_, groupCol, idCol, n)
      .withColumn("batch_id", lit(-1L)))

  /** Non-null `(u, us, id)` event rows — user, event time in epoch µs,
    * event id — the input of the session and burstiness partials. */
  private def userEvents(events: DataFrame, userCol: String, tsCol: String,
      idCol: String): DataFrame =
    events
      .select(col(userCol).as("u"), unix_micros(col(tsCol)).as("us"),
        col(idCol).cast("long").as("id"))
      .filter(col("u").isNotNull && col("us").isNotNull)

  /** Streaming SESSION ledger — incremental sessionization (the x10
    * batch op fed batch-by-batch): each microbatch sessionizes ITS OWN
    * events (the x10 gap rule) and appends only the session SUMMARIES
    * `(u, start_us, end_us, n, batch_id)` — bounded by the batch's
    * session count, never its event count. Cross-batch stitching is
    * the merge view's job: gap-tolerant interval merging over the
    * summaries (a running max-end window per user + the gaps-and-
    * islands rule) provably reconstructs the full-corpus sessions for
    * ANY batch split, including out-of-order backfills — a summary
    * can only join events whose full-ordering gaps are ≤ the summary's
    * own span, and no summary ever spans a true session break (the
    * closest event pair across a break is the adjacent pair, whose gap
    * exceeds `gapMinutes` by definition). Replays ([[runLedger]])
    * collapse on (batch_id, u, start_us).
    */
  def streamingSessionLedger(spark: SparkSession, landingDir: String,
      schema: StructType, ledgerTable: String,
      checkpointDir: String, userCol: String, tsCol: String,
      idCol: String, gapMinutes: Int): Unit = {
    require(gapMinutes >= 1, s"gapMinutes must be >= 1, got $gapMinutes")
    val gapUs = gapMinutes * 60000000L
    runLedger(spark, landingDir, schema, ledgerTable, checkpointDir) {
      (batch, batchId) =>
        val w = Window.partitionBy(col("u")).orderBy(col("us"), col("id"))
        userEvents(batch, userCol, tsCol, idCol)
          .withColumn("prev", lag(col("us"), 1).over(w))
          .withColumn("is_new",
            (col("prev").isNull || col("us") - col("prev") > gapUs)
              .cast("long"))
          .withColumn("sid", sum(col("is_new")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("u"), col("sid"))
          .agg(min(col("us")).as("start_us"), max(col("us")).as("end_us"),
            count(lit(1)).as("n"))
          .drop("sid")
          .withColumn("batch_id", lit(batchId))
    }
  }

  /** Stitched full-corpus session summaries from a session ledger:
    * `(u, start_us, end_us, n)` — gap-tolerant interval merging per
    * user (see [[streamingSessionLedger]] for why this equals the
    * batch sessionization for any split). */
  def mergeSessionLedger(ledger: DataFrame, gapMinutes: Int): DataFrame = {
    val gapUs = gapMinutes * 60000000L
    val base = ledger.dropDuplicates("batch_id", "u", "start_us")
    val wP = Window.partitionBy(col("u"))
      .orderBy(col("start_us"), col("end_us"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wC = Window.partitionBy(col("u"))
      .orderBy(col("start_us"), col("end_us"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("pmax", max(col("end_us")).over(wP))
      .withColumn("is_new",
        (col("pmax").isNull || col("start_us") > col("pmax") + gapUs)
          .cast("long"))
      .withColumn("island", sum(col("is_new")).over(wC))
      .groupBy(col("u"), col("island"))
      .agg(min(col("start_us")).as("start_us"),
        max(col("end_us")).as("end_us"), sum(col("n")).as("n"))
      .drop("island")
  }

  /** Compact a session ledger ([[compactBelowMax]]): older batches
    * collapse to their MERGED session summaries (interval merging is
    * associative, so merging a prefix then the rest equals merging
    * everything — semantically lossless under [[mergeSessionLedger]]). */
  def compactSessionLedger(ledger: DataFrame, gapMinutes: Int): DataFrame =
    compactBelowMax(ledger)(mergeSessionLedger(_, gapMinutes)
      .withColumn("batch_id", lit(-1L)))

  /** Streaming BURSTINESS ledger — [[graft.operators.Burstiness]] (x185)
    * fed incrementally: each microbatch appends per-user partials
    * `(u, n, first_us, last_us, s1 = Σ gap-sec, s2 = Σ gap-sec²,
    * batch_id)` — the within-batch gap sums plus the interval ends the
    * merge needs to stitch the BOUNDARY gaps between batches. Unlike
    * the additive ledgers, gap statistics are order-dependent, so this
    * ledger carries a TIME-ORDERED-INGESTION contract: each user's
    * batch intervals must not interleave (normal streaming; a backfill
    * violates it), and the merge view enforces it loudly rather than
    * silently mis-stitching.
    *
    * Backfill taxonomy: a batch whose interval lands strictly BETWEEN
    * two existing intervals stitches fine — [[mergeBurstinessLedger]]
    * orders by `first_us`, not batch id, so out-of-order but
    * non-overlapping delivery needs no special path. Only OVERLAPPING
    * intervals (the backfill's events interleave an existing batch's)
    * are unstitchable from interval partials — within-batch gap sums
    * counted gaps the interleaved events split — and those raise; the
    * recovery is [[repairBurstinessLedger]] (replay ONLY the affected
    * users from the raw events — a semi-join-pruned pass — into one
    * `batch_id = -1` partial each). Replays ([[runLedger]]) collapse on
    * (batch_id, u, first_us). */
  def streamingBurstinessLedger(spark: SparkSession, landingDir: String,
      schema: StructType, ledgerTable: String,
      checkpointDir: String, userCol: String, tsCol: String,
      idCol: String): Unit =
    runLedger(spark, landingDir, schema, ledgerTable, checkpointDir) {
      (batch, batchId) =>
        burstinessPartial(userEvents(batch, userCol, tsCol, idCol), batchId)
    }

  /** Per-user gap partials `(u, n, first_us, last_us, s1, s2, batch_id)`
    * over `(u, us, id)` event rows — a streaming batch's, or the
    * affected users' full history in [[repairBurstinessLedger]]. */
  private def burstinessPartial(ev: DataFrame, batchId: Long): DataFrame = {
    val w = Window.partitionBy(col("u")).orderBy(col("us"), col("id"))
    ev.withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("g", expr("(us - prev) DIV 1000000"))
      .groupBy(col("u"))
      .agg(count(lit(1)).as("n"), min(col("us")).as("first_us"),
        max(col("us")).as("last_us"),
        coalesce(sum(col("g")), lit(0L)).as("s1"),
        coalesce(sum((col("g") * col("g")).cast(D38)), lit(0L).cast(D38))
          .cast(D38).as("s2"))
      .withColumn("batch_id", lit(batchId))
  }

  /** Burstiness ledger rows plus `b_gap`, the BOUNDARY gap in seconds
    * from the user's previous batch interval (ordered by first_us; null
    * for the first). Interleaving intervals cannot be stitched from
    * partials and raise "out-of-order ingestion cannot be `<verb>`". */
  private def withBoundaryGap(rows: DataFrame, verb: String): DataFrame = {
    val wO = Window.partitionBy(col("u"))
      .orderBy(col("first_us"), col("last_us"))
    rows
      .withColumn("prev_last", lag(col("last_us"), 1).over(wO))
      .withColumn("b_gap",
        when(col("prev_last").isNull, lit(null).cast("long"))
          .otherwise(when(col("prev_last") > col("first_us"),
            raise_error(concat(
              lit("burstiness ledger: batch intervals interleave for user "),
              col("u").cast("string"),
              lit(s" — out-of-order ingestion cannot be $verb")))
              .cast("long"))
            .otherwise(expr("(first_us - prev_last) DIV 1000000"))))
  }

  /** s1 and s2 over [[withBoundaryGap]] rows: the within-batch gap sums
    * plus the boundary gaps'. */
  private def stitchedGapSums: Seq[Column] = Seq(
    (coalesce(sum(col("s1")), lit(0L)) +
      coalesce(sum(col("b_gap")), lit(0L))).cast("long").as("s1"),
    (coalesce(sum(col("s2")), lit(0L).cast(D38)) +
      coalesce(sum((col("b_gap") * col("b_gap")).cast(D38)),
        lit(0L).cast(D38))).cast(D38).as("s2"))

  /** x185's report from a burstiness ledger: stitches boundary gaps
    * between consecutive batch intervals per user, then applies the
    * identical B/cv arithmetic — the merged report must equal the
    * whole-corpus [[graft.operators.Burstiness.interArrival]].
    * Interleaving batch intervals (an out-of-order backfill) fail
    * loudly: gap statistics cannot be stitched out of order. */
  def mergeBurstinessLedger(ledger: DataFrame, userCol: String,
      minGaps: Long = 2L): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val agg = withBoundaryGap(
        ledger.dropDuplicates("batch_id", "u", "first_us"), "stitched")
      .groupBy(col("u"))
      .agg(sum(col("n")).cast("long").as("nn"), stitchedGapSums: _*)
      .withColumn("n", col("nn") - 1L) // total gaps = events − 1
      .filter(col("n") >= minGaps)
    val mu = col("s1").cast(DoubleType) / col("n")
    val vard = (col("n") * col("s2") -
      col("s1").cast(D38) * col("s1").cast(D38))
      .cast(DoubleType) / (col("n").cast(DoubleType) * col("n"))
    val sigma = sqrt(greatest(vard, lit(0.0)))
    agg.select(col("u").as(userCol), col("n").cast("long").as("n_gaps"),
      expr("CAST(s1 * 1000000 DIV n AS BIGINT)").as("mean_gap_sec_micro"),
      when(sigma + mu > 0.0, round((sigma - mu) / (sigma + mu), 6))
        .otherwise(lit(0.0)).as("burstiness"),
      when(mu > 0.0, round(sigma / mu, 6))
        .otherwise(lit(0.0)).as("cv"))
  }

  /** REPAIR an out-of-order backfill in a burstiness ledger: detect
    * users whose batch intervals OVERLAP (the unstitchable class — see
    * [[streamingBurstinessLedger]]'s taxonomy; non-overlapping
    * backfills never need this), drop all their ledger rows, and
    * replace them with ONE `batch_id = -1` partial each recomputed
    * from the raw `events` relation (the landing data the ledger was
    * fed from — the data, not the partials, is the only place the true
    * interleaved gap sequence still exists). Untouched users' rows
    * pass through byte-identical. After repair,
    * [[mergeBurstinessLedger]] equals the whole-corpus batch rule
    * (BurstinessLedgerSpec pins it against x185's aggregation).
    *
    * Scale shape: detection is LEDGER-sized (one per-user window over
    * batch intervals); the replay reads only affected users' events —
    * a broadcastable-keys semi-join that prunes at the scan — and its
    * one sort rides the same per-user key. Cost is proportional to the
    * backfill's blast radius, never the corpus. */
  def repairBurstinessLedger(ledger: DataFrame, events: DataFrame,
      userCol: String, tsCol: String, idCol: String): DataFrame = {
    val base = ledger.dropDuplicates("batch_id", "u", "first_us")
    val wO = Window.partitionBy(col("u"))
      .orderBy(col("first_us"), col("last_us"))
    val badUsers = base
      .withColumn("prev_last", lag(col("last_us"), 1).over(wO))
      .filter(col("prev_last").isNotNull &&
        col("prev_last") > col("first_us"))
      .select(col("u")).distinct()
    val keep = base.join(badUsers, Seq("u"), "left_anti")
    keep.unionByName(burstinessPartial(
      userEvents(events, userCol, tsCol, idCol)
        .join(badUsers, Seq("u"), "left_semi"), -1L))
  }

  /** Compact a burstiness ledger ([[compactBelowMax]]): older batches
    * collapse to ONE stitched partial per user (boundary-gap stitching
    * over time-ordered intervals is associative, so pre-stitching a
    * prefix is lossless under [[mergeBurstinessLedger]]). */
  def compactBurstinessLedger(ledger: DataFrame): DataFrame =
    compactBelowMax(ledger)(older =>
      withBoundaryGap(older.dropDuplicates("batch_id", "u", "first_us"),
          "compacted")
        .groupBy(col("u"))
        .agg(sum(col("n")).cast("long").as("n"),
          Seq(min(col("first_us")).as("first_us"),
            max(col("last_us")).as("last_us")) ++ stitchedGapSums: _*)
        .withColumn("batch_id", lit(-1L)))

  /** Streaming KMV CARDINALITY ledger — the bounded-state distinct
    * tracker (K Minimum Values, Bar-Yossef et al., RANDOM 2002): where
    * the novelty ledger (x175) stores EVERY distinct shingle hash —
    * vocabulary-sized, the honest-but-heavy exact design — this stores
    * at most `k` rows per batch: the batch's k smallest md5 values of
    * the key stream. Bottom-k is MERGEABLE (bottom-k of a union =
    * bottom-k of the per-batch bottom-ks), so the merged ledger
    * estimates the all-time distinct count from k·batches rows —
    * then compaction ([[compactSetLedger]] on the hash; set semantics
    * apply verbatim) takes it to ~k. Per-batch state is TakeOrdered-k
    * (k rows to the driver, never a global sort). Replays
    * ([[runLedger]]) collapse by hash. */
  def streamingKmvLedger(spark: SparkSession, landingDir: String,
      schema: StructType, ledgerTable: String,
      checkpointDir: String, key: Column, k: Int): Unit = {
    require(k >= 16, s"k must be >= 16 for a usable estimate, got $k")
    runLedger(spark, landingDir, schema, ledgerTable, checkpointDir) {
      (batch, batchId) =>
        batch
          .select(md5(key.cast("string")).as("h"))
          .filter(col("h").isNotNull)
          .distinct()
          .orderBy(col("h")).limit(k)
          .withColumn("batch_id", lit(batchId))
    }
  }

  /** Distinct-count estimate from a KMV ledger: `(k_used, n_rows,
    * kmv_estimate)` — N̂ = (k−1)·16¹³ DIV h_k over the merged bottom-k
    * (the first 13 hex chars of the k-th smallest hash as a uniform
    * integer in [0, 16¹³) — 52 bits of precision, and (k−1)·16¹³ stays
    * inside a long for k ≤ 2047, so the floor division is exact and
    * identical on both engines; the x185 decimal-DIV lesson applied up
    * front). When fewer than `k` distinct hashes exist the count is
    * exact (= n_rows). Replays collapse by hash (set semantics). */
  def mergeKmvLedger(ledger: DataFrame, k: Int): DataFrame = {
    require(k <= 2047, s"k must be <= 2047 (long-exact arithmetic), got $k")
    val bottom = ledger.select(col("h")).distinct()
      .orderBy(col("h")).limit(k)
    val agg = bottom.agg(count(lit(1)).cast("long").as("n_rows"),
      max(col("h")).as("hk"))
    agg.select(lit(k.toLong).as("k_used"), col("n_rows"),
      when(col("n_rows") < k, col("n_rows"))
        .otherwise(expr(
          s"(${k - 1}L * 4503599627370496L) DIV " +
            "greatest(CAST(conv(substring(hk, 1, 13), 16, 10) AS BIGINT), 1L)"))
        .as("kmv_estimate"))
  }

  /** Streaming LATE-ARRIVAL audit ledger — the watermark-design input
    * every event-time pipeline needs before picking
    * `withWatermark(delay)`: each microbatch appends ONE row
    * `(batch_id, n_rows, batch_max_us, wm_before_us, late_rows)` where
    * `wm_before_us` is the running high-water mark (max event time over
    * all PRIOR batches — the x50 bounded-cursor pattern: a 1-row agg
    * over the ledger's [[ledgerHistory]], never the corpus) and
    * `late_rows` counts this batch's rows older than `wm_before − delay`
    * — exactly the rows a `delay`-second watermark would have dropped
    * (the lateness model of the Dataflow paper: Akidau et al., VLDB
    * 2015). Sentinel −1 for batch 0's undefined watermark keeps the
    * ledger null-free.
    *
    * [[latenessReport]] collapses replays ([[runLedger]]) by batch id.
    * `wm_before_us` is computed from ledger rows with `batch_id < this
    * batch` only: on a replay the re-run batch would otherwise see its
    * OWN earlier row in the max and emit a different
    * `(wm_before_us, late_rows)`, making the report's dropDuplicates
    * keep an arbitrary verdict. */
  def streamingLatenessLedger(spark: SparkSession, landingDir: String,
      schema: StructType, ledgerTable: String,
      checkpointDir: String, tsCol: String, delaySeconds: Long): Unit = {
    require(delaySeconds >= 0, "delaySeconds must be >= 0")
    runLedger(spark, landingDir, schema, ledgerTable, checkpointDir) {
      (batch, batchId) =>
        val wmBefore = ledgerHistory(batch, ledgerTable)
          .map(_.filter(col("batch_id") < lit(batchId))
            .agg(max(col("batch_max_us"))).first())
          .collect { case r if !r.isNullAt(0) => r.getLong(0) }
          .getOrElse(-1L)
        val us = unix_micros(col(tsCol))
        val lateIf =
          if (wmBefore >= 0L) us < lit(wmBefore - delaySeconds * 1000000L)
          else lit(false)
        batch
          .agg(count(lit(1)).as("n_rows"),
            coalesce(max(us), lit(-1L)).as("batch_max_us"),
            sum(when(lateIf, 1L).otherwise(0L)).as("late_rows"))
          .select(lit(batchId).as("batch_id"), col("n_rows"),
            col("batch_max_us"), lit(wmBefore).as("wm_before_us"),
            col("late_rows"))
    }
  }

  /** Per-batch lateness shares + a `batch_id = -1` corpus-total row:
    * `(batch_id, n_rows, late_rows, wm_before_us, late_micro)`. */
  def latenessReport(ledger: DataFrame): DataFrame = {
    val batches = ledger.dropDuplicates("batch_id")
    val per = batches.select(col("batch_id"), col("n_rows"),
      col("late_rows"), col("wm_before_us"),
      expr("late_rows * 1000000 DIV n_rows").as("late_micro"))
    val tot = batches
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("late_rows")).as("late_rows"))
      .select(lit(-1L).as("batch_id"), col("n_rows"), col("late_rows"),
        lit(-1L).as("wm_before_us"),
        expr("late_rows * 1000000 DIV n_rows").as("late_micro"))
    per.unionByName(tot)
  }

  /** Streaming RETRACTION-aware aggregate ledger — the CDC completion
    * of the additive-ledger family (x168 tokens, x145 hourly): input
    * rows carry a signed `opCol` (+1 insert / −1 delete), each
    * microbatch appends GROUPS-sized partials
    * (`rows_delta = Σ op`, `value_delta = Σ op·value`), and the merged
    * view telescopes to the NET position per group — retract-stream
    * aggregation in the sense of Flink's retraction model (Carbone et
    * al., "Apache Flink: Stream and Batch Processing in a Single
    * Engine", IEEE Data Eng. Bull. 2015) expressed as an append-only
    * ledger instead of operator state, so deletes never force a
    * corpus re-scan and the ledger stays bounded by groups × batches
    * (then [[compactBatchLedger]] on (group → rows_delta,
    * value_delta) collapses history). Read it through
    * [[mergeRetractionLedger]] (delivery: [[runLedger]]). */
  def streamingRetractionLedger(spark: SparkSession, landingDir: String,
      schema: StructType, ledgerTable: String,
      checkpointDir: String, groupCol: String, opCol: String,
      valueCol: String): Unit =
    runLedger(spark, landingDir, schema, ledgerTable, checkpointDir) {
      (batch, batchId) =>
        batch
          .groupBy(col(groupCol))
          .agg(sum(col(opCol).cast("long")).as("rows_delta"),
            sum(col(opCol).cast("long") * col(valueCol).cast("long"))
              .as("value_delta"))
          .withColumn("batch_id", lit(batchId))
    }

  /** Net position per group from a retraction ledger: `(group,
    * live_rows, net_value)` over all groups ever seen (a fully-deleted
    * group reports 0 — that IS its current state). A NEGATIVE net row
    * count is a retraction with no matching insert — upstream CDC
    * corruption, never valid — and fails loudly rather than reporting
    * a nonsense position. */
  def mergeRetractionLedger(ledger: DataFrame, groupCol: String): DataFrame =
    ledger.dropDuplicates("batch_id", groupCol)
      .groupBy(col(groupCol))
      .agg(sum(col("rows_delta")).as("lr"),
        sum(col("value_delta")).as("net_value"))
      .select(col(groupCol),
        when(col("lr") < 0L, raise_error(concat(
          lit("retraction ledger: group '"), col(groupCol).cast("string"),
          lit("' nets "), col("lr").cast("string"),
          lit(" live rows (< 0) — retraction without matching insert"))))
          .otherwise(col("lr")).cast("long").as("live_rows"),
        col("net_value"))

  /** Streaming token-accounting LEDGER — per-group corpus token/doc
    * totals maintained incrementally: the numbers every mix-design step
    * consumes (UniMax caps x98, temperature resampling x48, DoReMi-lite
    * x106 all start from "how many tokens does each source have") kept
    * current without ever re-scanning the corpus. Each microbatch
    * appends ONE row per group it touches — (group, docs, tokens,
    * batch_id), a groups-sized partial from a map-side-combined agg —
    * and totals are ADDITIVE, so the merged ledger telescopes to
    * exactly the whole-corpus aggregation (what the x168 oracle
    * asserts). The lightest member of the ledger family: per-batch
    * state is groups-sized, not value- or posting-sized.
    *
    * `tokens` is any non-null integer Column over the batch rows
    * (the x08 counters, or a real tokenizer's count column upstream).
    * Read it through [[mergeTokenLedger]] (delivery: [[runLedger]]).
    * Compaction is the generic [[compactBatchLedger]] on
    * (group → docs, tokens). */
  def streamingTokenLedger(spark: SparkSession, landingDir: String,
      schema: StructType, ledgerTable: String,
      checkpointDir: String, groupCol: String, tokens: Column): Unit =
    runLedger(spark, landingDir, schema, ledgerTable, checkpointDir) {
      (batch, batchId) => tokenLedgerPartial(batch, groupCol, tokens, batchId)
    }

  /** One batch's (group, docs, tokens) partial stamped `batchId`,
    * counts multiplied by `sign` (streamingTokenLedger's microbatch
    * rows at +1; [[tokenLedgerRetraction]] emits the −1 form). */
  def tokenLedgerPartial(batch: DataFrame, groupCol: String, tokens: Column,
      batchId: Long, sign: Long = 1L): DataFrame =
    batch.groupBy(col(groupCol))
      .agg((lit(sign) * count(lit(1))).as("docs"),
        (lit(sign) * sum(tokens.cast("long"))).as("tokens"))
      .withColumn("batch_id", lit(batchId))

  /** Idempotent merge of a [[streamingTokenLedger]]: collapse
    * at-least-once replays on (batch_id, group) — a replayed batch
    * re-appends identical partial rows, so keeping any one copy is
    * exact — then sum to the per-group (docs, tokens) totals. */
  def mergeTokenLedger(ledger: DataFrame, groupCol: String): DataFrame =
    ledger.dropDuplicates("batch_id", groupCol)
      .groupBy(col(groupCol))
      .agg(sum(col("docs")).as("docs"), sum(col("tokens")).as("tokens"))

  /** Streaming QUANTILE ledger — exact per-group weighted quantiles
    * maintained incrementally (completes the batch/streaming pairing
    * for the quantile family: x170 is the batch op, this feeds it
    * batch-by-batch; the truncation-planning numbers — "what length
    * cutoff keeps 90% of each source's tokens" — kept current without
    * corpus re-scans). Each microbatch appends its OWN weighted
    * `(g, v, w)` histogram partial — one map-side-combined agg, rows
    * bounded by the batch's (group, value-NDV), never its row count —
    * and histograms are ADDITIVE, so the merged ledger telescopes to
    * exactly the whole-corpus histogram and the x170 selection runs
    * over it unchanged ([[mergeQuantileLedger]] delegates to
    * [[graft.operators.WeightedQuantiles.perGroup]] verbatim).
    * Null values / null-or-negative weights fail loudly AT WRITE time
    * (the x170 contract — a null silently vanishing from SUM would
    * shift every downstream quantile).
    *
    * The merge collapses replays ([[runLedger]]) on (batch_id, g, v)
    * before re-aggregating. Compaction is the generic
    * [[compactBatchLedger]] on ((g, v) → w) — additive, lossless. */
  def streamingQuantileLedger(spark: SparkSession, landingDir: String,
      schema: StructType, ledgerTable: String,
      checkpointDir: String, groupCol: String, valueCol: String,
      weight: Column): Unit =
    runLedger(spark, landingDir, schema, ledgerTable, checkpointDir) {
      (batch, batchId) =>
        quantileCells(batch, groupCol, valueCol, weight, "quantile ledger")
          .groupBy(col("g"), col("v"))
          .agg(sum(col("w")).as("w"))
          .withColumn("batch_id", lit(batchId))
    }

  /** `(g, v, w)` quantile cells under the x170 write-time guards: a null
    * value or a null/negative weight raises, `who` naming the writer. */
  private def quantileCells(rows: DataFrame, groupCol: String,
      valueCol: String, weight: Column, who: String): DataFrame =
    rows.select(col(groupCol).as("g"),
      when(col(valueCol).isNull, raise_error(lit(s"$who: null $valueCol")))
        .otherwise(col(valueCol)).as("v"),
      when(weight.isNull || weight < 0, raise_error(
        lit(s"$who: null/negative weight")))
        .otherwise(weight.cast("long")).as("w"))

  /** Signed retraction batch for a [[streamingQuantileLedger]] — the
    * HISTOGRAM member of the additive family (x215; siblings
    * [[countMinRetraction]] x211 and [[tokenLedgerRetraction]] x213):
    * weighted (g, v) histograms are additive, so the purged keys'
    * contribution recomputed from the raw source and appended NEGATED
    * nets the ledger to exactly the clean-corpus histogram — and the
    * quantiles over it. Same write-time loud guards as the ledger
    * writer (a null value / null-or-negative weight silently vanishing
    * from the retraction would shift every downstream quantile the
    * other way); `batchId` ≤ −2 and fresh per retraction (the
    * [[countMinRetraction]] replay contract). Read the netted ledger
    * through [[mergeQuantileLedgerNetted]], which nets, guards, and
    * drops zeroed values — [[mergeQuantileLedger]] would let a
    * fully-purged value's w = 0 row win a cum-weight boundary tie. */
  def quantileLedgerRetraction(raw: DataFrame, deletes: DataFrame,
      keyCol: String, groupCol: String, valueCol: String, weight: Column,
      batchId: Long): DataFrame =
    quantileCells(retractedRows(raw, deletes, keyCol, batchId), groupCol,
        valueCol, weight, "quantile retraction")
      .groupBy(col("g"), col("v"))
      .agg((-sum(col("w"))).as("w"))
      .withColumn("batch_id", lit(batchId))

  /** [[mergeQuantileLedger]] for a ledger carrying retraction batches:
    * collapse replays on (batch_id, g, v), NET the weights per (g, v),
    * FAIL LOUDLY on any negative net (over-retraction — the raw
    * relation handed to [[quantileLedgerRetraction]] was not the
    * ledger's true ingest source), drop fully-purged (w = 0) values so
    * they cannot be selected at a cumulative-weight boundary, then the
    * x170 machinery. With no retraction batches present this reduces
    * to [[mergeQuantileLedger]] exactly (all nets positive, none
    * zero). */
  def mergeQuantileLedgerNetted(ledger: DataFrame, groupCol: String,
      valueCol: String, pctsMicro: Seq[Long]): DataFrame = {
    val netted = ledger.dropDuplicates("batch_id", "g", "v")
      .groupBy(col("g"), col("v"))
      .agg(sum(col("w")).as("w"))
      .select(col("g"), col("v"),
        when(col("w") < 0L, raise_error(concat(
          lit("quantile ledger: value '"), col("v").cast("string"),
          lit("' nets negative weight after retraction — the " +
            "retraction's raw source was not this ledger's ingest"))))
          .otherwise(col("w")).as("w"))
      .filter(col("w") =!= 0L)
    graft.operators.WeightedQuantiles.perGroup(
      netted.select(col("g").as(groupCol), col("v").as(valueCol),
        col("w")),
      groupCol, valueCol, "w", pctsMicro)
  }

  /** Exact per-group quantiles from a quantile ledger: collapse
    * replays on (batch_id, g, v), then the x170 machinery over the
    * merged histogram — provably equal to the batch op over everything
    * ingested (histogram addition telescopes). Output matches
    * [[graft.operators.WeightedQuantiles.perGroup]]:
    * `(groupCol, pct_micro, value_at, total_weight)`. */
  def mergeQuantileLedger(ledger: DataFrame, groupCol: String,
      valueCol: String, pctsMicro: Seq[Long]): DataFrame =
    graft.operators.WeightedQuantiles.perGroup(
      ledger.dropDuplicates("batch_id", "g", "v")
        .select(col("g").as(groupCol), col("v").as(valueCol), col("w")),
      groupCol, valueCol, "w", pctsMicro)

  /** Streaming Count-Min sketch LEDGER — point-frequency monitoring
    * that never reprocesses history (completes the streaming sketch
    * matrix: dedup x58/x64, heavy hitters x72, drift x84): each
    * microbatch contributes its own CM sketch
    * ([[graft.expressions.CountMinSketch]]) appended as sparse
    * (pos, cnt) counter rows — bounded by depth×width per batch, never
    * corpus-sized — plus the batch row count on a pos = −1 sentinel.
    * CM counters are ADDITIVE (the merge is a pointwise sum), so the
    * ledger telescopes to exactly the whole-corpus sketch and the x87
    * estimate/verdict machinery holds over any number of increments.
    * Read it through [[mergeCountMinLedger]] (delivery: [[runLedger]]). */
  def streamingCountMin(spark: SparkSession, landingDir: String,
      schema: StructType, sketchTable: String,
      checkpointDir: String, termCol: String, depth: Int,
      width: Int): Unit =
    runLedger(spark, landingDir, schema, sketchTable, checkpointDir) {
      (batch, batchId) =>
        countMinPartial(batch, termCol, depth, width, batchId)
    }

  /** One batch's sparse CM partial — (pos, cnt) counters plus the
    * pos = −1 row-count sentinel, stamped `batchId`, cnt multiplied by
    * `sign` (streamingCountMin's per-microbatch rows at +1;
    * [[countMinRetraction]] emits the −1 form). ONE pass over the
    * batch: (n, sketch) in a single driver row, bounded depth×width. */
  def countMinPartial(batch: DataFrame, termCol: String, depth: Int,
      width: Int, batchId: Long, sign: Long = 1L): DataFrame = {
    val s = batch.sparkSession
    val row = batch.agg(
      count(lit(1)).as("__n"),
      graft.expressions.SketchExpressions
        .countMinSketch(col(termCol), depth, width).as("__sk")).first()
    val n = row.getLong(0)
    val sparse = row.getSeq[Long](1).zipWithIndex
      .collect { case (c, i) if c != 0L => (i, sign * c) }
    import s.implicits._
    ((-1, sign * n) +: sparse).toDF("pos", "cnt")
      .withColumn("batch_id", lit(batchId))
  }

  /** Idempotent merge of a [[streamingCountMin]] ledger: collapse
    * at-least-once replays on (batch_id, pos) — a replayed batch
    * re-appends identical counter rows, so keeping any one copy is
    * exact — then sum to (counters = (pos, cnt) merged counter table,
    * totals = single-row exact n from the pos = −1 sentinels) — the two
    * frames [[graft.operators.HeavyHitters.countMinReportFromCounters]]
    * takes. */
  def mergeCountMinLedger(ledger: DataFrame): (DataFrame, DataFrame) = {
    val once = ledger.dropDuplicates("batch_id", "pos")
    (once.filter(col("pos") >= 0)
      .groupBy(col("pos")).agg(sum(col("cnt")).as("cnt")),
      once.filter(col("pos") === -1).agg(sum(col("cnt")).as("__n")))
  }

  /** Idempotent merge of a [[streamingHeavyHitters]] ledger:
    * `dropDuplicates(batch_id, term)` collapses at-least-once replays
    * (a replayed batch re-appends rows with the SAME batch_id; each
    * delivery is individually a valid MG summary of that batch, so
    * keeping any one preserves est ≤ exact), then the pointwise sum.
    * Returns (summary = per-term merged estimates,
    * totals = single-row exact n from the null-term sentinels) — the
    * two frames [[graft.operators.HeavyHitters.reportFromSummary]]
    * takes. */
  def mergeSketchLedger(ledger: DataFrame): (DataFrame, DataFrame) = {
    val once = ledger.dropDuplicates("batch_id", "term")
    (once.filter(col("term").isNotNull)
      .groupBy(col("term")).agg(sum(col("est")).as("est")),
      once.filter(col("term").isNull).agg(sum(col("est")).as("__n")))
  }

  /** Streaming takedown/suppression LEDGER — right-to-be-forgotten
    * requests arrive continuously (x114's batch audit is the one-shot
    * form); each AvailableNow run appends every microbatch's DISTINCT
    * request ids as (id, batch_id) rows, with the offset log as the
    * cursor, so already-processed request files are never re-read.
    * Suppression is idempotent BY ID, so at-least-once delivery
    * ([[runLedger]]) is safe by construction — a replayed batch
    * re-asserts ids it already asserted; readers go through
    * [[suppressionSet]], which collapses duplicates and keeps the FIRST
    * asserting batch per id (the audit trail: when did this id become
    * suppressed). Compaction is [[compactSetLedger]] on the id. */
  def streamingSuppressionLedger(spark: SparkSession, landingDir: String,
      schema: StructType, ledgerTable: String,
      checkpointDir: String, idCol: String): Unit =
    runLedger(spark, landingDir, schema, ledgerTable, checkpointDir) {
      (batch, batchId) =>
        batch.select(col(idCol)).distinct()
          .withColumn("batch_id", lit(batchId))
    }

  /** The deduplicated suppression set from a [[streamingSuppressionLedger]]
    * table: one row per suppressed id + the first batch that asserted it
    * (replay-idempotent: duplicate deliveries collapse under min). */
  def suppressionSet(ledger: DataFrame, idCol: String): DataFrame =
    ledger.groupBy(col(idCol))
      .agg(min(col("batch_id")).as("first_batch"))

  /** Streaming hourly rate LEDGER — continuous observability that never
    * reprocesses history (the x138 anomaly z-test's incremental feed):
    * each microbatch contributes its own (hour, n_events, n_matched)
    * partial counts stamped with `batch_id`; counts are ADDITIVE, so
    * the merged ledger telescopes to exactly the batch hourly frame and
    * [[graft.operators.Anomaly.spikesFromHourly]] reports identically
    * on both. Appended rows are bounded by the batch's distinct hours —
    * time-sized, never corpus-sized. Read it through
    * [[mergeHourlyLedger]] (delivery: [[runLedger]]). */
  def streamingHourlyLedger(spark: SparkSession, landingDir: String,
      schema: StructType, ledgerTable: String,
      checkpointDir: String, tsCol: String, typeCol: String,
      matchType: String): Unit =
    runLedger(spark, landingDir, schema, ledgerTable, checkpointDir) {
      (batch, batchId) =>
        batch
          .select(date_trunc("hour", col(tsCol)).as("hour"),
            (col(typeCol) === matchType).cast("long").as("hit"))
          .groupBy("hour")
          .agg(count(lit(1)).as("n_events"), sum(col("hit")).as("n_matched"))
          .withColumn("batch_id", lit(batchId))
    }

  /** Replay-idempotent merge of a [[streamingHourlyLedger]] table back
    * to the exact batch hourly frame. */
  def mergeHourlyLedger(ledger: DataFrame): DataFrame =
    ledger.dropDuplicates("batch_id", "hour")
      .groupBy("hour")
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("n_matched")).as("n_matched"))

  /** Compact a batch-stamped ADDITIVE ledger (heavy hitters x72, drift
    * x84, count-min x94, hourly x145) — the sketch-ledger twin of
    * [[graft.operators.Dedup.compactLedger]]: the ledgers grow one
    * batch's rows per microbatch forever, so at 100 TB the postings
    * table itself becomes the scan cost even though each batch is
    * sketch-sized. Compaction ([[compactBelowMax]]) collapses the older
    * batches into one pre-merged row set after the same
    * `dropDuplicates(batch_id, keys)` replay collapse the merge views
    * apply — so the result is semantically LOSSLESS under every
    * `merge*Ledger` reader: same keys, same sums, rows bounded by
    * distinct keys + the last batch instead of batches × keys;
    * compacting a compacted ledger is a no-op modulo row order. */
  def compactBatchLedger(ledger: DataFrame, keyCols: Seq[String],
      sumCols: Seq[String]): DataFrame =
    compactBelowMax(ledger)(_.dropDuplicates("batch_id" +: keyCols)
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col(sumCols.head)).as(sumCols.head),
        sumCols.tail.map(c => sum(col(c)).as(c)): _*)
      .withColumn("batch_id", lit(-1L)))

  /** Streaming retention-activity LEDGER — the x135 cohort triangle fed
    * incrementally (the analytics family's batch/streaming pairing,
    * like x138/x145 and x158/x159): each microbatch appends its OWN
    * distinct (u, week) activity rows stamped with batch_id. The
    * activity SET is the complete retention state — a user's cohort is
    * their min active week ([[graft.operators.Retention
    * .cohortsFromActivity]]), so late history merging in simply moves
    * the min — and set union is idempotent, so at-least-once replays
    * ([[runLedger]]) and cross-batch repeat activity both collapse in
    * the merge's distinct. Appended rows are bounded by the batch's distinct
    * (user, week) pairs, the same intermediate the batch op builds —
    * paid once per increment instead of per corpus re-scan. */
  def streamingRetentionLedger(spark: SparkSession, landingDir: String,
      schema: StructType, ledgerTable: String,
      checkpointDir: String, userCol: String, tsCol: String): Unit =
    runLedger(spark, landingDir, schema, ledgerTable, checkpointDir) {
      (batch, batchId) =>
        batch
          .select(col(userCol).as("u"),
            to_date(date_trunc("week", col(tsCol))).as("week"))
          .distinct()
          .withColumn("batch_id", lit(batchId))
    }

  /** Merged view of a [[streamingRetentionLedger]]: the distinct
    * (u, week) activity set (collapses replays and repeat activity).
    * Feed to [[graft.operators.Retention.cohortsFromActivity]]. */
  def mergeActivityLedger(ledger: DataFrame): DataFrame =
    ledger.select(col("u"), col("week")).distinct()

  /** Compact a SET-semantics ledger (retention activity x172, KMV
    * x201, novelty x175, suppression x115, or any ledger whose merged
    * view is a distinct or a first-batch min over key columns): one row
    * per key tuple across the older batches, keeping the FIRST
    * asserting batch as the audit trail (the [[suppressionSet]]
    * convention); the max-id batch stays verbatim
    * ([[compactBelowMax]]). */
  def compactSetLedger(ledger: DataFrame, keyCols: Seq[String]): DataFrame =
    compactBelowMax(ledger)(_.groupBy(keyCols.map(col): _*)
      .agg(min(col("batch_id")).as("batch_id")))

  /** Streaming vocabulary-novelty LEDGER — x129's Heaps-law growth
    * curve fed incrementally: "how much of this batch is text we have
    * never seen" is the crawl-monitoring number that catches a stalled
    * frontier (novelty → 0) or a junk flood (novelty spike) the day it
    * happens, without re-shingling history. Each microbatch appends its
    * OWN distinct shingle md5s stamped with batch_id; a shingle's FIRST
    * asserting batch is its novelty evidence, and first-batch =
    * min(batch_id) is replay-stable (a replayed batch re-appends rows
    * with the same id — the suppression-ledger x115 argument), so the
    * merged view survives at-least-once delivery ([[runLedger]]) and
    * [[compactSetLedger]] compaction unchanged.
    *
    * Ledger rows are bounded by the batch's DISTINCT shingles (32-hex
    * keys, the x02 shuffle convention), the same intermediate a batch
    * Heaps fit builds — paid once per increment. */
  def streamingNoveltyLedger(spark: SparkSession, landingDir: String,
      schema: StructType, ledgerTable: String,
      checkpointDir: String, textCol: String, n: Int): Unit =
    runLedger(spark, landingDir, schema, ledgerTable, checkpointDir) {
      (batch, batchId) =>
        batch
          .select(explode(graft.functions.TextFunctions.shingles(
            graft.functions.TextFunctions.tokens(col(textCol)), n))
            .as("t"))
          .select(md5(col("t")).as("sh"))
          .distinct()
          .withColumn("batch_id", lit(batchId))
    }

  /** Per-batch novelty from a [[streamingNoveltyLedger]]: each batch's
    * count of FIRST-SEEN shingles plus its share of the total vocabulary
    * (truncating micro; total via an explicit 1-row broadcast — the
    * x25/x40 shape). First-seen = min asserting batch per shingle, so
    * replays and re-occurrences collapse before any count. */
  def noveltyReport(ledger: DataFrame): DataFrame = {
    val firsts = ledger.groupBy(col("sh"))
      .agg(min(col("batch_id")).as("batch_id"))
    val perBatch = firsts.groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_new_shingles"))
    val vocab = perBatch.agg(sum(col("n_new_shingles")).as("__vocab"))
    perBatch.crossJoin(broadcast(vocab))
      .select(col("batch_id"), col("n_new_shingles"),
        expr("n_new_shingles * 1000000 DIV __vocab")
          .as("share_of_vocab_micro"))
  }

  /** Right-to-be-forgotten for any KEY-KEYED ledger (sample x162,
    * session x196, retention x172, burstiness x197, suppression-fed
    * derived stores — every shape whose rows are attributable to one
    * id): remove the deleted keys' rows with one anti-join. The generic
    * member of the takedown family — [[graft.operators.TakedownRewrite]]
    * rewrites the published corpus, [[graft.operators.Dedup.purgeLedger]]
    * purges doc-keyed postings with the re-admission contract, and this
    * purges everything keyed by a user/doc id whose merge views are
    * per-key (dropping a key's rows drops exactly that key's merged
    * output and leaves every other key's view bit-identical — the
    * per-key locality every merge view in this file has by
    * construction). Idempotent; commutes with the per-key-LOSSLESS
    * compactors (set/session/batch — all per-key groupBys)
    * at the MERGE-VIEW level — raw rows can differ in batch-id
    * bookkeeping when the purged key owned the max batch, since the
    * compactors keep that batch verbatim as the replay cursor.
    * It does NOT commute with [[compactSampleLedger]], whose top-n rank
    * cut is lossy across keys within a group: purge FIRST, then compact
    * — the purge is authoritative and compaction then backfills the
    * sample from surviving candidates. NOT for cross-key aggregates a
    * key contributed to anonymously (count-min cells, drift counts,
    * token totals): subtracting one key's contribution needs a SIGNED
    * retraction batch — [[countMinRetraction]] /
    * [[tokenLedgerRetraction]] compose one from the delete list and the
    * raw-events source (x211/x213), the x182 ledger carries it — not a
    * row purge. REPLAY CAVEAT: purge removes rows, it
    * cannot remove them from a batch an at-least-once writer may
    * re-deliver — a crash-retry of a pre-purge batch re-appends the
    * purged ids' rows. The durable suppression intake (x115) is the
    * system of record for exactly this reason: re-running the purge
    * (idempotent) after any replay window closes restores the
    * invariant. */
  def purgeLedger(ledger: DataFrame, deletes: DataFrame,
      keyCol: String): DataFrame =
    ledger.join(deletes.select(col(keyCol)).distinct(), Seq(keyCol),
      "left_anti")

  /** The `raw` rows whose `keyCol` is on the `deletes` list (one
    * semi-join-pruned pass) — the source a signed retraction batch is
    * recomputed from. `batchId` must be ≤ −2 and fresh per retraction. */
  private def retractedRows(raw: DataFrame, deletes: DataFrame,
      keyCol: String, batchId: Long): DataFrame = {
    require(batchId <= -2L,
      s"retraction batchId must be <= -2 (got $batchId): -1 is the " +
        "compaction stamp and >= 0 are live stream batches")
    raw.join(deletes.select(col(keyCol)).distinct(), Seq(keyCol),
      "left_semi")
  }

  /** Signed RETRACTION batch for a Count-Min ledger — the takedown path
    * [[purgeLedger]] cannot take (the r15 verdict's last governance
    * quadrant): a CM cell holds every key's contributions ANONYMOUSLY,
    * so no row purge can remove one key's share — but the sketch is
    * LINEAR, so that share can be recomputed from the raw-events source
    * and appended NEGATED. The netted ledger is then EXACTLY the sketch
    * of the clean events (cell-wise: CM(all) − CM(purged) = CM(all −
    * purged) — same hash functions, pointwise sums), so every estimate
    * guarantee (never-under, ε-overcount) holds as if the purged keys
    * had never been ingested; this is exact netting, not approximate
    * deletion. Cost ∝ the purged keys' rows: one semi-join-pruned pass
    * over the raw source (at scale, partition-pruned by the key
    * layout), one driver-held depth×width sketch.
    *
    * Output matches [[streamingCountMin]]'s row shape — sparse
    * (pos, cnt<0) counters plus the pos = −1 row-count sentinel —
    * stamped with the caller's `batchId`, which MUST be ≤ −2 and fresh
    * per retraction (−1 is the compaction stamp; real stream batches
    * are ≥ 0): append it to the ledger table and every
    * [[mergeCountMinLedger]] read nets the keys out. Replay: a
    * re-appended copy of the SAME batch collapses in the merge's
    * `dropDuplicates(batch_id, pos)` — until [[compactBatchLedger]]
    * folds it into the −1 row, after which re-appending double-
    * subtracts; record applied retraction ids durably (the x115 intake
    * discipline) and never re-emit one after compaction.
    *
    * NOT for the non-linear sketches: Misra–Gries summaries (x71/x72),
    * HLL registers (x70) and GK quantiles (x73) are max/threshold
    * shapes with no additive inverse — deletion there means rebuilding
    * from clean events. */
  def countMinRetraction(rawEvents: DataFrame, deletes: DataFrame,
      keyCol: String, termCol: String, depth: Int, width: Int,
      batchId: Long): DataFrame =
    countMinPartial(retractedRows(rawEvents, deletes, keyCol, batchId),
      termCol, depth, width, batchId, sign = -1L)

  /** Signed retraction batch for a [[streamingTokenLedger]] — the
    * GROUP-TOTALS member of the additive family (docs/token counts per
    * source, x168's shape; the same negated-partial construction covers
    * any (group → additive counts) ledger, e.g. the drift count tables).
    * Recomputes the purged keys' per-group (docs, tokens) from the raw
    * source (one semi-join-pruned pass) and emits them NEGATED under
    * `batchId` (≤ −2, fresh — see [[countMinRetraction]]'s replay
    * contract). [[mergeTokenLedger]] over ledger + batch telescopes to
    * exactly the clean-corpus totals; a group whose every row was
    * purged reports (0, 0) — that IS its current state (the x182
    * fully-deleted-group convention). */
  def tokenLedgerRetraction(raw: DataFrame, deletes: DataFrame,
      keyCol: String, groupCol: String, tokens: Column,
      batchId: Long): DataFrame =
    tokenLedgerPartial(retractedRows(raw, deletes, keyCol, batchId),
      groupCol, tokens, batchId, sign = -1L)
}
