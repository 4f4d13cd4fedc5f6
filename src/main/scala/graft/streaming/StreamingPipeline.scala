package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.core.{GraftConf, Model}
import graft.jobs.{CombineJob, LoadJob}
import graft.sinks.Upsert

/** Structured Streaming mode (SURVEY §2.9): the reference IS a
  * hand-rolled file-source stream — cron-appended CSVs, exactly-once
  * consumption via archive-move, keyed upsert sink. One streaming query
  * replaces both DAGs:
  *
  *  - T1 cadence → `Trigger.ProcessingTime` / `AvailableNow`
  *  - T2 exactly-once files → checkpointed file source +
  *    `cleanSource=archive` (the engine's own archive-after-batch)
  *  - T3 at-least-once + idempotent sink → `foreachBatch` keyed upsert
  *  - T4 in-batch dedup → first-wins inside the batch
  *  - T5 no-watermark changelog upsert (late rows still update score)
  */
object StreamingPipeline {

  /** All-string schema of the landing CSV (header family of the current
    * fetcher). Streaming reads need an explicit schema.
    */
  val LandingSchema: StructType =
    StructType(Model.DbColumns.map(c =>
      org.apache.spark.sql.types.StructField(c, org.apache.spark.sql.types.StringType)))

  /** The fused combine+load stream: landing dir → normalize → in-batch
    * first-wins dedup → typed upsert into the parquet serving table.
    * `maxFilesPerTrigger` bounds batch size; `cleanSource=archive`
    * reproduces the loaded/-move (T2).
    *
    * In-batch encounter order: the file source provides no global file
    * rank, so `file_seq` is the file's rank in the SORTED set of batch
    * file names (lexicographic — the reference's sort order), built as a
    * map-literal lookup from the ≤maxFilesPerTrigger distinct names (a
    * bounded metadata collect, never a row collect — and never the
    * single-partition funnel an unpartitioned window over the whole
    * batch would be). `row_seq` is derived per file exactly as
    * [[graft.sources.LandingCsv.read]] does: `multiLine=true` pins one
    * whole file per task so `monotonically_increasing_id` is strictly
    * row-ordered within each file, then a per-file window ranks it —
    * in-file order is guaranteed, not assumed.
    */
  def start(
      spark: SparkSession,
      dataDir: String,
      loadedDir: String,
      tableDir: String,
      checkpointDir: String,
      conf: GraftConf = GraftConf.default,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val raw = spark.readStream
      .schema(LandingSchema)
      .option("header", "true")
      // VALIDATE each file's header against the schema instead of
      // mapping columns by position: the landing dir can hold legacy
      // header families (FIXTURES.md §3 — the batch path groups by
      // header line for exactly this reason), and the default
      // enforceSchema=true would silently read a legacy file's post_id
      // into thing_key etc. and upsert the garbage. A mismatched file
      // fails the query loudly; legacy families go through the batch
      // path (CombineJob), which tolerates them.
      .option("enforceSchema", "false")
      .option("multiLine", "true") // one file == one task ⇒ stable row order
      .option("pathGlobFilter", "italytravel_*.csv")
      .option("maxFilesPerTrigger", "16")
      .option("cleanSource", "archive")
      .option("sourceArchiveDir", loadedDir)
      .csv(dataDir)

    raw.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          // file_seq = rank in the SORTED batch file names (a bounded
          // metadata collect: ≤maxFilesPerTrigger distinct names);
          // the ordering contract itself (multiLine task pinning,
          // map-literal lookup) lives in ONE place —
          // LandingCsv.attachEncounterOrder, shared with the batch path
          val names = batch
            .withColumn("_fname",
              element_at(split(input_file_name(), "/"), -1))
            .select("_fname").distinct()
            .collect().map(_.getString(0)).sorted
          val ordered = graft.sources.LandingCsv
            .attachEncounterOrder(batch, names.zipWithIndex.toMap)
          val stage = LoadJob.typed(CombineJob.transform(ordered, conf))
            .withColumn("ingested_at", current_timestamp())
          Upsert.upsertParquetPartitioned(spark, stage, tableDir,
            updateColumns = conf.updateColumns)
        }
        ()
      }
      .start()
  }

  // ------------------------------------------------------------ T5/T7

  /** Event-time tumbling aggregation with a watermark (T5 analytics
    * form): counts + value sums per (window, event_type); late data
    * beyond the watermark is dropped.
    */
  def hourlyEventCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Per-key running state for T7: tracks each user's event count and
    * running value sum across micro-batches via mapGroupsWithState —
    * the engine analog of per-`thing_key` score-trajectory tracking.
    */
  final case class UserEvent(user_id: Long, value: Double)
  final case class UserStat(user_id: Long, n_events: Long, sum_value: Double)

  def trackUserStats(events: Dataset[UserEvent]): Dataset[UserStat] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserStat, UserStat](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[UserStat]) =>
          val prev = state.getOption.getOrElse(UserStat(uid, 0L, 0.0))
          val next = rows.foldLeft(prev) { (s, e) =>
            UserStat(uid, s.n_events + 1, s.sum_value + e.value)
          }
          state.update(next)
          next
      }
  }

  /** T7 in the Spark-4-native arbitrary-state API: the same per-user
    * running stats as [[trackUserStats]], expressed as a
    * `StatefulProcessor` over `transformWithState` — typed named state
    * (`ValueState`), explicit `TimeMode`, optional per-state TTL, and
    * the RocksDB state-store backend (required by the operator; the
    * spec pins the provider conf). This is the API new stateful
    * operators should target; `mapGroupsWithState` stays as the
    * compatibility surface.
    */
  class UserStatsProcessor(
      ttl: org.apache.spark.sql.streaming.TTLConfig =
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEvent, UserStat] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[UserStat] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[UserStat]("stats",
        org.apache.spark.sql.Encoders.product[UserStat], ttl)

    override def handleInputRows(
        key: Long,
        rows: Iterator[UserEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserStat] = {
      // An expired value reads as absent — exists() is the TTL gate.
      val prev = if (state.exists()) state.get() else UserStat(key, 0L, 0.0)
      val next = rows.foldLeft(prev) { (s, e) =>
        UserStat(key, s.n_events + 1, s.sum_value + e.value)
      }
      state.update(next)
      Iterator.single(next)
    }
  }

  def trackUserStatsTws(events: Dataset[UserEvent]): Dataset[UserStat] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new UserStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** [[UserStatsProcessor]] with per-state TTL: state idle past
    * `ttlMs` is expired by the store, so a key's running count restarts
    * from zero on its next arrival. At 100 TB-stream scale TTL is the
    * state-size backstop for keyspaces that grow without bound (e.g.
    * one key per user-forever): eviction happens inside RocksDB without
    * a timer per key and without the processor ever enumerating idle
    * keys. TTL requires TimeMode.ProcessingTime.
    */
  def trackUserStatsTtl(
      events: Dataset[UserEvent],
      ttlMs: Long): Dataset[UserStat] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new UserStatsProcessor(org.apache.spark.sql.streaming.TTLConfig(
          java.time.Duration.ofMillis(ttlMs))),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Update())
  }

  final case class TypedEvent(user_id: Long, event_type: String, value: Double)
  final case class TypeCount(user_id: Long, event_type: String, n: Long)

  /** Per-user per-event-type counts on `MapState` — the third
    * transformWithState primitive (ValueState: [[UserStatsProcessor]],
    * timers: [[SessionProcessor]], MapState: here). Point lookups and
    * single-entry updates touch only the map entries for the types seen
    * in the batch; the full map is never deserialized, which is the
    * reason to prefer MapState over a ValueState[Map[...]] once a key's
    * sub-keyspace is large.
    */
  class UserTypeCountsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TypedEvent, TypeCount] {
    @transient private var counts: org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[TypedEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[TypeCount] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { e =>
        val prev = if (counts.containsKey(e.event_type)) counts.getValue(e.event_type) else 0L
        counts.updateValue(e.event_type, prev + 1L)
        touched += e.event_type
      }
      touched.iterator.map(t => TypeCount(key, t, counts.getValue(t)))
    }
  }

  def countTypesTws(events: Dataset[TypedEvent]): Dataset[TypeCount] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new UserTypeCountsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** [[sessionize]] in the transformWithState API: per-user open-session
    * ValueState plus a REAL per-key timer — each batch re-arms an
    * inactivity timer `gapMs` ahead; `handleExpiredTimer` closes the
    * session, emits it downstream, and clears the state. Nothing is
    * emitted while a session is open, exactly like the
    * flatMapGroupsWithState form — but timers here are first-class
    * (registered/deleted explicitly) instead of a single implicit
    * timeout slot per key.
    */
  class SessionProcessor(gapMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SessionEvent, ClosedSession] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[OpenSession] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[OpenSession]("open",
        org.apache.spark.sql.Encoders.product[OpenSession],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[SessionEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[ClosedSession] = {
      val merged = rows.foldLeft(
        if (state.exists()) state.get()
        else OpenSession(0, Long.MaxValue, Long.MinValue, 0.0)) { (s, e) =>
        OpenSession(s.n + 1, math.min(s.start, e.tus),
          math.max(s.end, e.tus), s.sum + e.value)
      }
      state.update(merged)
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(timerValues.getCurrentProcessingTimeInMs() + gapMs)
      Iterator.empty
    }

    override def handleExpiredTimer(
        key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[ClosedSession] = {
      if (!state.exists()) Iterator.empty
      else {
        val s = state.get()
        state.clear()
        Iterator.single(ClosedSession(key, s.n, s.start, s.end, s.sum))
      }
    }
  }

  def sessionizeTws(
      events: Dataset[SessionEvent],
      gapMs: Long = 2000): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Append())
  }

  /** Cross-batch keyed dedup with bounded state (T4 scale form):
    * duplicates of a key arriving within the watermark horizon are
    * dropped; state ages out beyond it.
    */
  def dedupWithinWatermark(
      df: DataFrame,
      key: String,
      tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(key)

  /** Streaming decontamination gate: every arriving document is probed
    * against a STATIC Bloom bitset of the training corpus's normalizing
    * fingerprints — the ingest-time guard that keeps eval/benchmark
    * material from ever being appended to a training corpus. The bitset
    * is built once from the batch side ([[graft.operators.BloomBuild]])
    * and pinned into the streaming plan as a literal (m/8 bytes — the
    * streaming analog of the broadcast in q_contamination_bloom), so
    * the probe is pure scan-stage work per micro-batch: no stream-static
    * join, no shuffle, no state store. No false negatives — every true
    * contaminant is flagged; rare false positives (rate (1−e^(−kn/m))^k)
    * only quarantine extra docs for the downstream exact check.
    */
  /** Streaming ANN index ingest — the embedding-side mirror of the
    * reference's fetch→combine→load file chain: a parquet file stream
    * of arriving embedding batches is encoded per micro-batch
    * ([[graft.analytics.SimilarityQueries.codesTable]] — the same
    * scan-stage kernels as the batch build, zero corpus-side exchange)
    * and appended into the stored codes table via the IDEMPOTENT
    * batch-scoped append, so `foreachBatch`'s at-least-once replay
    * converges to exactly-once table state. Serving
    * ([[graft.analytics.SimilarityQueries.ivfPqServeFromCodes]]) sees
    * every landed batch immediately; [[graft.analytics
    * .SimilarityQueries.compactCodesMinor]] fires automatically every
    * `compactEvery` batches (see [[DefaultCompactEvery]]).
    */
  def startCodesIngest(
      spark: SparkSession,
      incomingDir: String,
      codesDir: String,
      checkpointDir: String,
      cbIvf: Array[Double],
      cbPq: Array[Double],
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = DefaultCompactEvery): StreamingQuery = {
    import org.apache.spark.sql.types._
    val schema = new StructType()
      .add("vec_id", LongType, nullable = false)
      .add("embedding", ArrayType(FloatType, containsNull = false),
        nullable = false)
      .add("label", IntegerType)
    startIndexIngest(spark, incomingDir, checkpointDir, schema, trigger) {
      (batch, batchId) =>
        graft.analytics.SimilarityQueries.appendToCodesIdempotent(
          batch, codesDir, batchId, cbIvf, cbPq)
        onCadence(compactEvery, batchId) {
          graft.analytics.SimilarityQueries.compactCodesMinor(spark, codesDir); ()
        }
    }
  }

  /** Residual-family twin of [[startCodesIngest]]: arriving vectors
    * are encoded against the FROZEN (coarse codebook, cell means,
    * residual sub-quantizers) triple — the freeze-and-append premise
    * AnnRecallSpec pins — and appended exactly-once into the
    * cell-partitioned residual codes table, minor compaction on the
    * shared cadence. All crash/replay/compaction semantics are the
    * raw family's (shared `IncrementalParquet` machinery, pinned in
    * `CodesStreamIngestSpec`); only the encode expression differs.
    */
  def startResidualCodesIngest(
      spark: SparkSession,
      incomingDir: String,
      codesDir: String,
      checkpointDir: String,
      cbIvf: Array[Double],
      means: Array[Double],
      cbPqRes: Array[Double],
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = DefaultCompactEvery): StreamingQuery = {
    import org.apache.spark.sql.types._
    val schema = new StructType()
      .add("vec_id", LongType, nullable = false)
      .add("embedding", ArrayType(FloatType, containsNull = false),
        nullable = false)
      .add("label", IntegerType)
    startIndexIngest(spark, incomingDir, checkpointDir, schema, trigger) {
      (batch, batchId) =>
        graft.analytics.SimilarityQueries.appendToResidualCodesIdempotent(
          batch, codesDir, batchId, cbIvf, means, cbPqRes)
        onCadence(compactEvery, batchId) {
          graft.analytics.SimilarityQueries.compactCodesMinor(spark, codesDir); ()
        }
    }
  }

  /** Streamed SemDeDup maintenance — the semantic-verdict member of
    * the incremental family: arriving vector batches append
    * exactly-once into the cell-partitioned member table (assignment
    * against the FIXED trained codebook is scan-stage — the codebook
    * discipline of [[startCodesIngest]]), then the batch's verdicts
    * derive from the stored table at |batch| × |touched cells| and
    * append exactly-once into the verdicts table. The fold is exact
    * under id-monotone arrival (a verdict depends only on lower-id
    * same-cell members, all stored when the batch lands) — the file
    * stream's lexicographic delivery order IS that contract when
    * landing files carry ascending id ranges, the same convention the
    * lexical encounter-order operators (S4/O1) build on.
    * `SemanticIncrementalSpec` pins fold == one-shot across
    * mid-stream compaction and replay; the `q_dedup_semantic_incr`
    * catalog gate checks the two-batch lifecycle under the one-shot
    * full-verdict DuckDB SQL.
    */
  def startSemanticIngest(
      spark: SparkSession,
      incomingDir: String,
      cellsDir: String,
      verdictsDir: String,
      checkpointDir: String,
      cb: Array[Double],
      threshold: Double = 0.4,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = DefaultCompactEvery): StreamingQuery = {
    import org.apache.spark.sql.types._
    val schema = new StructType()
      .add("vec_id", LongType, nullable = false)
      .add("embedding", ArrayType(FloatType, containsNull = false),
        nullable = false)
    startIndexIngest(spark, incomingDir, checkpointDir, schema, trigger) {
      (batch, batchId) =>
        import graft.analytics.SimilarityQueries
        SimilarityQueries.appendToCellsIdempotent(batch, cellsDir, batchId, cb)
        // verdicts are batch-scoped rows — the idempotent append keyed
        // by the same batchId makes a replayed trigger a no-op on BOTH
        // tables (cells acked ⇒ verdict probe reads identical state)
        graft.sinks.IncrementalParquet.appendIdempotent(
          spark, verdictsDir, "cell", batchId)(
          SimilarityQueries.batchSemanticVerdicts(
            spark, cellsDir, batch, cb, threshold))
        onCadence(compactEvery, batchId) {
          SimilarityQueries.compactCellsMinor(spark, cellsDir); ()
        }
    }
  }

  /** Compaction cadence for the continuous loops: every append leaves
    * one file set per touched partition, so a long-running stream
    * fragments its buckets without bound unless compaction runs BETWEEN
    * triggers. Firing inside `foreachBatch` (same driver thread, after
    * the batch's append/fold completed) honors the single-writer
    * contract of [[graft.sinks.IncrementalParquet]] by construction —
    * no trigger is in flight while it runs. Every `compactEvery`-th
    * batch pays a MINOR (size-tiered) firing — O(absorbed bytes), never
    * O(table), see [[graft.sinks.IncrementalParquet.compactMinor]] —
    * bounding per-bucket file counts at ~`compactEvery` batch files
    * plus a logarithmic ladder of base files; a replay of a compacted
    * batch stays a no-op (ack markers outlive absorption; unacked
    * batch files are never absorbed). 0 disables.
    */
  val DefaultCompactEvery = 8

  private def onCadence(compactEvery: Int, batchId: Long)(
      compact: => Unit): Unit =
    if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
      compact

  /** The ingest scaffold both index streams share: a parquet file
    * stream over `incomingDir` (small per-trigger file cap so one big
    * drop still lands in bounded micro-batches) driving an idempotent
    * per-batch append; empty batches (trigger fired, no new files)
    * never reach the sink.
    */
  private def startIndexIngest(
      spark: SparkSession, incomingDir: String, checkpointDir: String,
      schema: org.apache.spark.sql.types.StructType, trigger: Trigger)(
      append: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "4")
      .parquet(incomingDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) append(batch, batchId)
      }
      .start()

  /** Streaming lexical-dedup index ingest — the signature-table mirror
    * of [[startCodesIngest]]: arriving document files are signatured
    * per micro-batch (one scan-stage pass over the batch alone) and
    * appended exactly-once into the bucketed incremental signature
    * table; near-dup candidates for the whole corpus-so-far then serve
    * from the table via
    * [[graft.analytics.DedupQueries.candidatePairsFromStored]] with no
    * tokenizer/SHA/MinHash recompute.
    * [[graft.analytics.DedupQueries.compactSignaturesMinor]] fires
    * automatically every `compactEvery` batches (see
    * [[DefaultCompactEvery]]).
    */
  def startSignaturesIngest(
      spark: SparkSession,
      incomingDir: String,
      sigDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = DefaultCompactEvery): StreamingQuery = {
    startIndexIngest(spark, incomingDir, checkpointDir, docSchema, trigger) {
      (batch, batchId) =>
        graft.analytics.DedupQueries.appendToSignaturesIdempotent(
          batch, sigDir, batchId)
        onCadence(compactEvery, batchId) {
          graft.analytics.DedupQueries.compactSignaturesMinor(spark, sigDir); ()
        }
    }
  }

  /** Streaming SPAN-dedup index ingest (round 11) — the window-table
    * member of the incremental-index trio: arriving document files are
    * window-fingerprinted per micro-batch (one kernel pass over the
    * batch alone) and appended exactly-once into the fp-bucketed
    * incremental window table; the spans touching each batch then
    * derive from the stored table via
    * [[graft.analytics.DedupQueries.batchSpanPairs]] at
    * |batch windows| × colliders, never corpus². Same cadence-fired
    * minor compaction as the signature stream.
    */
  def startSpanIngest(
      spark: SparkSession,
      incomingDir: String,
      winDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = DefaultCompactEvery): StreamingQuery = {
    startIndexIngest(spark, incomingDir, checkpointDir, docSchema, trigger) {
      (batch, batchId) =>
        graft.analytics.DedupQueries.appendToWindowsIdempotent(
          batch, winDir, batchId)
        onCadence(compactEvery, batchId) {
          graft.analytics.DedupQueries.compactSignaturesMinor(spark, winDir); ()
        }
    }
  }

  /** Streamed term-statistics maintenance — [[startLmIngest]]'s
    * sibling for the salient-term corpus state (document-frequency
    * table + doc count). df is additive over batches ONLY because the
    * file stream delivers each document exactly once (a doc split or
    * replayed across batches would double-count every term it
    * contains), so the append's ack protocol is the correctness
    * condition here, not merely an efficiency —
    * `TextQueries.appendToTermStatsIdempotent` documents the contract;
    * the q_top_terms_incr catalog gate checks the maintained state
    * against a full recompute.
    */
  def startTermStatsIngest(
      spark: SparkSession,
      incomingDir: String,
      dfDir: String,
      cntDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = DefaultCompactEvery): StreamingQuery =
    startIndexIngest(spark, incomingDir, checkpointDir, docSchema, trigger) {
      (batch, batchId) =>
        graft.analytics.TextQueries.appendToTermStatsIdempotent(
          batch, dfDir, cntDir, batchId)
        onCadence(compactEvery, batchId) {
          graft.analytics.TextQueries.compactTermStatsMinor(
            spark, dfDir, cntDir); ()
        }
    }

  /** Streamed diversity-state maintenance: the per-source distinct
    * unigram/bigram tables (SET-UNION semigroup — dedup-on-compact
    * keeps them Heaps-bounded) and the sum-merge per-source counters
    * behind `q_diversity_report_incr`. Gram-set replay is harmless
    * (union is idempotent); the COUNTERS are why the ack protocol
    * matters — a replayed batch would double a source's token totals
    * and silently shift its ratios.
    */
  def startDiversityIngest(
      spark: SparkSession,
      incomingDir: String,
      uniDir: String,
      biDir: String,
      cntDir: String,
      sktDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = DefaultCompactEvery): StreamingQuery =
    startIndexIngest(spark, incomingDir, checkpointDir, docSourceSchema,
      trigger) { (batch, batchId) =>
      graft.analytics.RetrievalQueries.appendToDiversityIdempotent(
        batch, uniDir, biDir, cntDir, sktDir, batchId)
      onCadence(compactEvery, batchId) {
        graft.analytics.RetrievalQueries.compactDiversityMinor(
          spark, uniDir, biDir, cntDir, sktDir); ()
      }
    }

  private def docSourceSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    new StructType()
      .add("doc_id", LongType, nullable = false)
      .add("text", StringType)
      .add("source", StringType)
  }

  /** Streamed inverted-postings maintenance — the lexical search index
    * joining the continuously-maintained family: arriving documents'
    * postings (doc_id, term, tf) and doc-length rows append
    * exactly-once (document-keyed and immutable, so a batch's rows are
    * disjoint from every other batch's — replay would DOUBLE every tf,
    * making the ack protocol the correctness condition, exactly as for
    * df above); the doc-count table sum-merges on the compaction
    * cadence. A concurrent BM25 serve ([[graft.analytics
    * .RetrievalQueries]] `q_bm25_served`) reads corpus state from these
    * tables only — the q_bm25_served catalog gate checks the maintained
    * index against a full recompute.
    */
  def startPostingsIngest(
      spark: SparkSession,
      incomingDir: String,
      pstDir: String,
      dlDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = DefaultCompactEvery): StreamingQuery =
    startIndexIngest(spark, incomingDir, checkpointDir, docSchema, trigger) {
      (batch, batchId) =>
        graft.analytics.RetrievalQueries.appendToPostingsIdempotent(
          batch, pstDir, dlDir, batchId)
        onCadence(compactEvery, batchId) {
          graft.analytics.RetrievalQueries.compactPostingsMinor(
            spark, pstDir, dlDir); ()
        }
    }

  /** Streamed TAKEDOWN maintenance — the deletion lifecycle's
    * maintainer (the GDPR shape: the reference's pipeline salts PII
    * hashes at ingest, Fetch_reddit.py:58-63; this is the removal
    * complement for the derived index state). Arriving takedown
    * requests — (doc_id) rows — land as exactly-once tombstone batches
    * on the stored BM25 index: the doc stops appearing in every serve
    * the moment its batch acks (serve-side anti-join; the (N, totlen)
    * scalars retract its contribution), a REPLAYED request is a no-op
    * forever, and the takedown path never rewrites the table
    * (O(batch), the same cost class as an append). Tombstone appends
    * touch only the `_tombstones` sibling dirs, so this maintainer is
    * safe to run CONCURRENTLY with the table's
    * [[startPostingsIngest]].
    *
    * Physical purge ([[graft.analytics.RetrievalQueries
    * .purgePostingsTombstones]], O(touched partitions)) fires on
    * `purgeEvery` cadence ONLY when `purgeEvery > 0` — purge rewrites
    * live partitions, so it carries the same single-writer requirement
    * as compaction (quiesce the table's ingest stream first); the
    * default leaves rows tombstone-served, byte-removal an explicit
    * maintenance step.
    */
  def startTakedownIngest(
      spark: SparkSession,
      incomingDir: String,
      pstDir: String,
      dlDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      purgeEvery: Int = 0): StreamingQuery = {
    val takedownSchema = {
      import org.apache.spark.sql.types._
      new StructType().add("doc_id", LongType, nullable = false)
    }
    startIndexIngest(spark, incomingDir, checkpointDir, takedownSchema,
      trigger) { (batch, batchId) =>
      graft.analytics.RetrievalQueries.deleteFromPostingsIdempotent(
        batch.select(org.apache.spark.sql.functions.col("doc_id")),
        pstDir, dlDir, batchId)
      if (purgeEvery > 0) onCadence(purgeEvery, batchId) {
        graft.analytics.RetrievalQueries.purgePostingsTombstones(
          spark, pstDir, dlDir); ()
      }
    }
  }

  /** Streamed positional-bigram postings maintenance — the phrase
    * index joining the continuously-maintained family: arriving
    * documents' positional (doc_id, bigram, pos) rows append
    * exactly-once (document-keyed and immutable, the tf-postings
    * argument verbatim — replay would duplicate every position row),
    * compaction re-files on cadence.
    * A concurrent phrase serve ([[graft.analytics.RetrievalQueries]]
    * `q_phrase_served`) reads candidates from this table only; the
    * catalog gate checks it against a full recompute.
    */
  def startPhraseIngest(
      spark: SparkSession,
      incomingDir: String,
      bpstDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = DefaultCompactEvery): StreamingQuery =
    startIndexIngest(spark, incomingDir, checkpointDir, docSchema, trigger) {
      (batch, batchId) =>
        graft.analytics.RetrievalQueries.appendToPhraseIdempotent(
          batch, bpstDir, batchId)
        onCadence(compactEvery, batchId) {
          graft.analytics.RetrievalQueries.compactPhraseMinor(
            spark, bpstDir); ()
        }
    }

  /** Streamed LM-model maintenance — MODEL state joining the
    * continuously-maintained family: arriving documents' bigram and
    * unigram count DELTAS append exactly-once into the stored model
    * tables ([[graft.analytics.TextQueries.appendToLmModelIdempotent]],
    * one O(batch) pass, no table IO), and on the compaction cadence
    * the tiers SUM-MERGE (aggregate-on-compact —
    * [[graft.analytics.TextQueries.compactLmModelMinor]]), so the
    * model a concurrent [[perplexityGate]] serves from stays
    * Zipf-bounded while the corpus grows without bound. Counts are a
    * semigroup over disjoint batches, so the maintained model is
    * bit-identical to a full retrain at every trigger boundary
    * (LmIncrementalSpec pins the identity; the q_lm_score_incr
    * catalog gate pins it against the full-retrain DuckDB oracle).
    */
  def startLmIngest(
      spark: SparkSession,
      incomingDir: String,
      bgDir: String,
      uniDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = DefaultCompactEvery): StreamingQuery =
    startIndexIngest(spark, incomingDir, checkpointDir, docSchema, trigger) {
      (batch, batchId) =>
        graft.analytics.TextQueries.appendToLmModelIdempotent(
          batch, bgDir, uniDir, batchId)
        onCadence(compactEvery, batchId) {
          graft.analytics.TextQueries.compactLmModelMinor(
            spark, bgDir, uniDir); ()
        }
    }

  /** Streamed DSIR model maintenance — the selection family's member
    * of the maintained-state set (the [[startLmIngest]] shape):
    * arriving document batches append their hashed-feature
    * bucket-count DELTAS exactly-once
    * ([[graft.analytics.CorpusPrepQueries.appendToDsirModelIdempotent]],
    * one O(batch) pass), tiers SUM-MERGE on the compaction cadence,
    * and scoring serves from the stored counts bit-identically to a
    * one-shot train (integer semigroup state; the
    * q_select_dsir_incr catalog gate pins the lifecycle under the
    * full-recompute oracle). `isTarget` decides which arriving docs
    * count toward the target model — exactly-once matters doubly
    * here: a replayed batch would inflate its buckets and shift every
    * log-ratio.
    */
  def startDsirIngest(
      spark: SparkSession,
      incomingDir: String,
      modelDir: String,
      checkpointDir: String,
      isTarget: org.apache.spark.sql.Column,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = DefaultCompactEvery): StreamingQuery = {
    import org.apache.spark.sql.types._
    // wider than docSchema: `isTarget` typically reads the source tag
    val schema = new StructType()
      .add("doc_id", LongType, nullable = false)
      .add("text", StringType)
      .add("source", StringType)
    startIndexIngest(spark, incomingDir, checkpointDir, schema, trigger) {
      (batch, batchId) =>
        graft.analytics.CorpusPrepQueries.appendToDsirModelIdempotent(
          batch, isTarget, modelDir, batchId)
        onCadence(compactEvery, batchId) {
          graft.analytics.CorpusPrepQueries.compactDsirModelMinor(
            spark, modelDir); ()
        }
    }
  }

  /** Continuous dedup maintenance — the full closed loop a training
    * pipeline runs at ingest time, composed per micro-batch from the
    * pieces that each hold their own exactly-once contract:
    *
    *  1. the batch's signatures append into the stored table
    *     ([[graft.analytics.DedupQueries.appendToSignaturesIdempotent]]
    *     — ack markers make a replay a no-op); once the table exists
    *     the append runs beside steps 2–3, which do not depend on it;
    *  2. near-dup pairs TOUCHING the batch are derived from the stored
    *     table at |batch| × colliders cost
    *     ([[graft.analytics.DedupQueries.batchVerifiedPairs]] — the
    *     corpus is never re-self-joined, pairs among pre-existing docs
    *     are never re-derived);
    *  3. the new edges fold into the durable cluster-labels table at
    *     batch-bounded cost ([[graft.operators.ConnectedComponents
    *     .incrementalDelta]] — merges run on the contracted graph,
    *     and only changed/new label rows are written, through the
    *     crash-recovering partitioned upsert).
    *
    * Replay convergence: an already-folded batch's delta is EMPTY (its
    * edges contract to self-loops, its nodes already carry labels), so
    * at-least-once `foreachBatch` delivery yields exactly-once label
    * state — ClusterMaintenanceSpec pins the fold-equals-full-recompute
    * identity across triggers, replay, and a mid-stream crash window.
    * Public (not private to the stream wiring) so the spec can drive
    * single batches and replays directly.
    *
    * The delta is PERSISTED (ack-markered, in a `.delta` sibling of the
    * labels table) BEFORE the upsert starts, and a replay re-applies
    * the STORED delta instead of recomputing — closing the one window
    * replay-by-recompute leaves open: a crash between the upsert's
    * per-bucket swaps leaves a mixed-version labels table that
    * per-bucket recovery cannot detect, and a delta recomputed FROM it
    * would silently diverge forever (rationale and convergence argument
    * at [[graft.sinks.IncrementalParquet.batchScopedResult]]).
    */
  def maintainClusters(
      spark: SparkSession, sigDir: String, labelsDir: String,
      batch: DataFrame, batchId: Long,
      threshold: Double = 0.5): Unit = {
    import graft.analytics.DedupQueries
    // heal a previous upsert's crashed swap BEFORE reading labels: the
    // delta is computed FROM the table, so deferring recovery to the
    // write (where the upsert would run it anyway) is too late — a
    // replay would fold against a table missing a retired bucket and
    // write a permanently-divergent delta over the recovered rows
    Upsert.recoverParquetPartitioned(spark, labelsDir)
    // Once the signature table exists, the batch's append runs BESIDE
    // the rest of the trigger: the driver-side pair derivation reads
    // "stored − batch ∪ in hand", the same rows whether or not the
    // append has landed (DedupQueries.batchVerifiedPairsLocal), and the
    // labels fold never reads the signature table. The table's
    // compaction crash state is healed first, so the append moves
    // nothing under the reader. The append runs on its own thread,
    // which inherits this thread's Spark job properties. The table's
    // first batch appends first, and the distributed arm awaits the
    // append before it reads the table.
    val fs = new org.apache.hadoop.fs.Path(sigDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val beside = fs.exists(new org.apache.hadoop.fs.Path(sigDir))
    val append = new java.util.concurrent.FutureTask[Unit](() =>
      DedupQueries.appendToSignaturesIdempotent(batch, sigDir, batchId))
    def appended(): Unit =
      try append.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    if (beside) {
      graft.sinks.IncrementalParquet.recover(spark, sigDir, "bkt")
      new Thread(append, s"graft-signature-append-$batchId").start()
    } else {
      append.run()
      appended()
    }
    val folded = scala.util.Try {
      val (delta, nDelta) =
        graft.sinks.IncrementalParquet.batchScopedResultCounted(
          spark, deltaDirFor(labelsDir), batchId) {
        val edges = DedupQueries.batchVerifiedPairsLocal(
            spark, sigDir, batch, threshold).getOrElse {
          appended()
          DedupQueries.batchVerifiedPairsDistributed(
            spark, sigDir, batch, threshold)
        }
        graft.operators.ConnectedComponents.incrementalDelta(
          clusterLabels(spark, labelsDir), edges, "doc_id_a", "doc_id_b")
      }
      // the emptiness gate reads the stored delta's FOOTER count — the
      // delta is parquet-backed either way (no recompute), and an
      // isEmpty job per trigger was pure fixed floor
      if (nDelta > 0)
        Upsert.upsertParquetPartitioned(spark, delta, labelsDir,
          key = "id", updateColumns = Seq("component"), numBuckets = 16)
    }
    // await the append before rethrowing either failure: a failed fold
    // must not leave an orphaned writer that a restart's replay of the
    // same batch would race on the same table and staging dirs
    val written = scala.util.Try(appended())
    folded.get
    written.get
  }

  /** The persisted-delta sibling of a labels table (dot-prefixed, like
    * the upsert's `.stage`/`.retired` scratch dirs — NOT inside the
    * table dir, which must stay a pure parquet layout).
    */
  private def deltaDirFor(labelsDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(labelsDir)
    new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}.delta").toString
  }

  /** The durable cluster-labels table `(id, component)` the maintenance
    * loop keeps current — empty-but-typed before the first fold. Only
    * pair-incident docs appear (exactly [[graft.operators
    * .ConnectedComponents.run]]'s contract); singletons are implicit.
    */
  def clusterLabels(spark: SparkSession, labelsDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val p = new Path(labelsDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      Upsert.readKeyedTable(spark, labelsDir)
        .select(col("id"), col("component"))
    else {
      import spark.implicits._
      spark.emptyDataset[(Long, Long)].toDF("id", "component")
    }
  }

  /** Streaming wiring for [[maintainClusters]]: a parquet file stream
    * of arriving `(doc_id, text)` document batches drives the
    * append → pair → fold loop once per micro-batch.
    */
  def startDedupMaintenance(
      spark: SparkSession,
      incomingDir: String,
      sigDir: String,
      labelsDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = DefaultCompactEvery,
      threshold: Double = 0.5): StreamingQuery = {
    startIndexIngest(spark, incomingDir, checkpointDir, docSchema, trigger) {
      (batch, batchId) =>
        maintainClusters(spark, sigDir, labelsDir, batch, batchId, threshold)
        onCadence(compactEvery, batchId) {
          graft.analytics.DedupQueries.compactSignaturesMinor(spark, sigDir); ()
        }
    }
  }

  /** [[maintainClusters]]'s embedding mirror: per batch of arriving
    * vectors, append sign buckets AND raw vectors exactly-once (the
    * loop owns a bucketed vector table at `vecsDir` —
    * [[graft.analytics.DedupQueries.appendToVectorsIdempotent]] — so
    * the verify's vector fetch partition-prunes to candidate buckets
    * instead of scanning a landing dir whole, and the stream's
    * incoming files need no retention: `cleanSource`/archival is
    * fine. The verify still fails loudly if a candidate's vector is
    * missing rather than silently dropping its pairs), derive
    * cosine-verified pairs touching the batch from the stored bucket
    * table, and fold the new edges into the semantic cluster-labels
    * table. Same crash-recovery-before-read ordering, same empty-delta
    * replay convergence, and the same persisted-delta replay protocol
    * as [[maintainClusters]].
    */
  def maintainEmbedClusters(
      spark: SparkSession, bucketsDir: String, labelsDir: String,
      vecsDir: String, batch: DataFrame, batchId: Long,
      threshold: Double = 0.4,
      bands: Int = 4, bits: Int = 8): Unit = {
    // the two appends touch DISJOINT tables (sign buckets, raw
    // vectors) with no ordering dependence — run them concurrently so
    // their fixed per-write costs (stage shuffle, committer, install
    // renames) overlap instead of stacking; each keeps its own
    // exactly-once recovery, and both complete before the probe reads
    // either table. Halves the trigger's append slice (SCALING.md
    // round 11, "Measured: phase walls").
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fSb = Future {
      graft.analytics.DedupQueries.appendToSignBucketsIdempotent(
        batch, bucketsDir, batchId, bands, bits)
    }
    val fVec = Future {
      graft.analytics.DedupQueries.appendToVectorsIdempotent(
        batch, vecsDir, batchId)
    }
    // await BOTH before rethrowing either failure: propagating fSb's
    // exception while fVec still runs would let an orphaned writer
    // outlive the trigger — a restart's replay of the same batch could
    // then run appendToVectorsIdempotent CONCURRENTLY with the orphan
    // on the same table and staging dirs, violating the exactly-once
    // protocol's single-writer assumption
    val results = Seq(fSb, fVec).map(f =>
      Await.ready(f, Duration.Inf).value.get)
    results.collectFirst { case scala.util.Failure(e) => throw e }
    Upsert.recoverParquetPartitioned(spark, labelsDir)
    val (delta, nDelta) =
      graft.sinks.IncrementalParquet.batchScopedResultCounted(
        spark, deltaDirFor(labelsDir), batchId) {
      val edges = graft.analytics.DedupQueries.batchVerifiedEmbedPairs(
        spark, bucketsDir, batch, vecsDir, threshold, bands, bits)
      graft.operators.ConnectedComponents.incrementalDelta(
        clusterLabels(spark, labelsDir), edges, "id_a", "id_b")
    }
    if (nDelta > 0) // footer-count gate, same rationale as the lexical loop
      Upsert.upsertParquetPartitioned(spark, delta, labelsDir,
        key = "id", updateColumns = Seq("component"), numBuckets = 16)
  }

  private def embeddingSchema: StructType = {
    import org.apache.spark.sql.types._
    new StructType()
      .add("vec_id", LongType, nullable = false)
      .add("embedding", ArrayType(FloatType, containsNull = false),
        nullable = false)
  }

  /** Arriving-document schema shared by both lexical ingest wirings —
    * hoisted like [[embeddingSchema]] so a corpus-schema change cannot
    * drift between them.
    */
  private def docSchema: StructType = {
    import org.apache.spark.sql.types._
    new StructType()
      .add("doc_id", LongType, nullable = false)
      .add("text", StringType)
  }

  /** Streaming wiring for [[maintainEmbedClusters]] — the semantic
    * side of continuous dedup, mirroring [[startDedupMaintenance]].
    * `vecsDir` is the loop-owned bucketed vector table (appended
    * exactly-once per batch, minor-compacted on the same cadence as
    * the sign buckets); the incoming dir is just a landing zone and
    * may be cleaned after consumption.
    */
  def startEmbedDedupMaintenance(
      spark: SparkSession,
      incomingDir: String,
      bucketsDir: String,
      vecsDir: String,
      labelsDir: String,
      checkpointDir: String,
      threshold: Double = 0.4,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = DefaultCompactEvery,
      bands: Int = 4, bits: Int = 8): StreamingQuery =
    startIndexIngest(spark, incomingDir, checkpointDir, embeddingSchema,
      trigger) { (batch, batchId) =>
      maintainEmbedClusters(spark, bucketsDir, labelsDir, vecsDir,
        batch, batchId, threshold, bands, bits)
      onCadence(compactEvery, batchId) {
        graft.analytics.DedupQueries.compactSignaturesMinor(spark, bucketsDir)
        graft.analytics.DedupQueries.compactSignaturesMinor(spark, vecsDir); ()
      }
    }

  def decontaminationGate(
      docs: DataFrame,
      bloomBits: Array[Long],
      textCol: String = "text",
      probes: Int = graft.operators.BloomFilter.DefaultProbes): DataFrame = {
    import graft.operators.BloomFilter
    val fp = graft.functions.TextFunctions.fingerprint(col(textCol))
    val (h1, h2) = BloomFilter.hashColumns(col("fp"))
    docs
      .withColumn("fp", fp)
      .withColumn("h1", h1).withColumn("h2", h2)
      .withColumn("contaminated",
        // probes MUST match the BloomBuild that produced the bitset —
        // probing more positions than were set yields false negatives,
        // the one failure mode this gate exists to prevent
        BloomFilter.mightContain(typedLit(bloomBits), col("h1"), col("h2"),
          bits = bloomBits.length * 64, probes = probes))
      .drop("h1", "h2")
  }

  /** Streaming perplexity gate — the LM-quality analog of
    * [[decontaminationGate]]: score ARRIVING documents against the
    * STORED bigram model table (train-once memoized, see
    * `TextQueries.lmModelPath`) and flag those whose bits-per-bigram
    * exceeds `maxBits` (CCNet-style: incoherent token soup scores
    * high). Stream-static: the model is a static DataFrame joined to
    * the exploded bigram stream; unseen bigrams/left-tokens smooth via
    * add-½, so novel arrivals score without retraining. The per-doc
    * fold is a streaming aggregation — run the sink in update mode.
    * Docs with fewer than 2 tokens produce no bigrams and are not
    * emitted (nothing to score — gate them upstream on tokenCount if
    * they must pass).
    */
  def perplexityGate(
      docs: DataFrame,
      model: DataFrame,
      maxBits: Double): DataFrame =
    graft.analytics.TextQueries.scoreBitsPerBigram(docs, model)
      .withColumn("high_perplexity", col("bits_per_bigram") > maxBits)

  /** Streaming span-contamination gate — [[decontaminationGate]] at
    * SPAN granularity: flag arriving documents containing a ≥k-token
    * run copied verbatim from the stored corpus (the Lee et al. 2022
    * train-vs-incoming form: whole-doc fingerprints miss partial
    * copies; this catches them). `spanIndex` is the stored
    * distinct-window-fingerprint table (an `fp` column over the train
    * corpus's [[graft.analytics.DedupQueries.explodedSpanWindows]]);
    * arriving docs explode into packed double-base window fingerprints and
    * stream-static LEFT-join the index, then fold per doc. Output:
    * (doc_id, n_windows, n_matched, contaminated) — contaminated when
    * any window matched (`minWindows` raises the bar for noisy
    * domains). Per-doc fold is a streaming aggregation — run the sink
    * in update mode. Docs shorter than k tokens have no windows and
    * are not emitted (nothing to probe — gate them upstream on
    * tokenCount if they must pass).
    */
  def spanContaminationGate(
      docs: DataFrame,
      spanIndex: DataFrame,
      minWindows: Int = 1): DataFrame = {
    val windows = graft.analytics.DedupQueries.explodedSpanWindows(
      docs.select(col("doc_id"), lower(col("text")).as("text")))
    windows
      .join(spanIndex.select(col("fp"), lit(1).as("hit")), Seq("fp"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_windows"),
        count(col("hit")).cast("long").as("n_matched"))
      .withColumn("contaminated", col("n_matched") >= minWindows)
  }

  /** Streaming embedding-outlier gate — q_embed_outliers' online
    * sibling, and the embedding-space member of the quality-gate
    * family (decontamination, perplexity, span contamination):
    * arriving vectors score ‖v − mean(cell)‖² against a FROZEN
    * (codebook, means) generation ENTIRELY scan-stage — the
    * parameters compile into the kernels, so the gate carries no
    * join and no state; verdicts are a pure per-row function, hence
    * trivially idempotent under replay. The threshold is CALIBRATED
    * OFFLINE from the batch form's per-cell quantiles — an in-stream
    * per-batch quantile would make a vector's verdict depend on its
    * batch's composition (non-reproducible under re-batching, the
    * failure mode the deterministic-sampling family exists to avoid).
    */
  def outlierGate(
      vecs: DataFrame, cbIvf: Array[Double], means: Array[Double],
      maxD2: Double): DataFrame =
    graft.analytics.SimilarityQueries.embedOutlierScores(vecs, cbIvf, means)
      .withColumn("outlier", col("d2") > maxD2)

  /** Streaming relevance gate — the retrieval family's member of the
    * quality-gate family: arriving documents BM25-score against a
    * FROZEN (idf, corpus-stats) model for a fixed query
    * ([[graft.analytics.RetrievalQueries.relevanceModel]], read once
    * from the stored postings index — the frozen-generation
    * discipline), routing targeted corpus collection ("keep docs
    * relevant to X" — the query-driven sibling of DSIR's
    * distribution-driven selection). Scoring is a pure per-document
    * function of the arriving text plus broadcast model state — no
    * corpus join, no streaming state — so streamed scores are
    * bit-identical to a batch pass by construction (RetrievalSpec).
    * Docs matching no model term are not emitted.
    */
  def relevanceGate(docs: DataFrame, idf: DataFrame, gs: DataFrame,
      minScore: Double): DataFrame =
    graft.analytics.RetrievalQueries.bm25RelevanceScores(docs, idf, gs)
      .withColumn("relevant", col("score") >= minScore)

  /** Stream-stream interval join (J6 streaming form): purchases joined
    * to the same user's clicks from the preceding `window`. Watermarks
    * on BOTH sides + the time-bound condition let the state store evict
    * rows once they can no longer match — bounded state at 100 TB/day
    * rates, vs unbounded buffering for an unconstrained join.
    */
  def clickToPurchaseJoin(
      clicks: DataFrame, // (ts, user_id, event_id)
      purchases: DataFrame,
      window: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("ts").as("click_ts"), col("user_id").as("c_user"),
        col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("ts").as("purchase_ts"), col("user_id").as("p_user"),
        col("event_id").as("purchase_id"))
    p.join(c,
      col("c_user") === col("p_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $window"))
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("click_id"), col("purchase_ts"), col("click_ts"))
  }

  /** Completed-session emission via flatMapGroupsWithState (T7's
    * richer form): per-user state accumulates events; a processing-time
    * timeout closes the session and EMITS it downstream (nothing is
    * emitted while the session is open). The engine analog of
    * gap-sessionization with bounded state + incremental output.
    */
  final case class SessionEvent(user_id: Long, tus: Long, value: Double)
  final case class OpenSession(n: Long, start: Long, end: Long, sum: Double)
  final case class ClosedSession(
      user_id: Long, n_events: Long, start_us: Long, end_us: Long, sum_value: Double)

  def sessionize(
      events: Dataset[SessionEvent],
      timeoutMs: Long = 2000): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (uid: Long, rows: Iterator[SessionEvent], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(ClosedSession(uid, s.n, s.start, s.end, s.sum))
          } else {
            val merged = rows.foldLeft(
              state.getOption.getOrElse(OpenSession(0, Long.MaxValue, Long.MinValue, 0.0))) {
              (s, e) =>
                OpenSession(s.n + 1, math.min(s.start, e.tus),
                  math.max(s.end, e.tus), s.sum + e.value)
            }
            state.update(merged)
            state.setTimeoutDuration(timeoutMs)
            Iterator.empty
          }
      }
  }
}
