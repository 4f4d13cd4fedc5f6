package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.functions.TextFunctions._

/** Corpus-preparation operators for a training-data pipeline, each
  * under the DuckDB oracle gate: repetition-based quality filtering
  * (the Gopher-rule family), deterministic concat-and-split sequence
  * packing, and PII scrubbing (regex masking + salted pseudonyms).
  *
  * Scale notes: repetition stats are one explode + two keyed
  * aggregations (word counts are map-side-combined before the
  * (doc_id, word) exchange); packing is a single per-shard window
  * exchange; PII scrubbing is pure scan-stage. Output-shape rules
  * follow [[CoreQueries]]: BIGINT counts, DOUBLE ratios computed with
  * the same IEEE op order on both engines, no arrays/decimals.
  */
object CorpusPrepQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def dbl(c: Column): Column = c.cast(DoubleType)

  /** Shared mixture CTEs (DuckDB): per-source token stats → shares →
    * √-temperature numerators → the source-ordered normalizer fold.
    * Composed by both `q_domain_mixture` (the plan) and
    * `q_mixture_resample` (the actionable per-doc assignment).
    */
  private val mixtureCtesSql =
    """s AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t_tokens FROM s),
      |sh AS (SELECT source, n_docs, n_tokens,
      |         CAST(n_tokens AS DOUBLE) / CAST(t_tokens AS DOUBLE) AS share,
      |         sqrt(CAST(n_tokens AS DOUBLE) / CAST(t_tokens AS DOUBLE)) AS sq
      |       FROM s, tot),
      |z AS (SELECT list_reduce(list(sq ORDER BY source), (a, x) -> a + x) AS z
      |      FROM sh)""".stripMargin

  /** Spark mirror of [[mixtureCtesSql]]: one row per source with the
    * raw share, √-share and the broadcast normalizer attached.
    */
  private def mixtureShares(docs: DataFrame): DataFrame = {
    val stats = docs.groupBy(col("source"))
      .agg(count(lit(1)).cast(LongType).as("n_docs"),
        sum(tokenCount(col("text"))).cast(LongType).as("n_tokens"))
    val total = stats.agg(sum(col("n_tokens")).cast(LongType).as("t_tokens"))
    val sh = stats.crossJoin(broadcast(total))
      .withColumn("share", dbl(col("n_tokens")) / dbl(col("t_tokens")))
      .withColumn("sq", sqrt(col("share")))
    val z = sh.agg(aggregate(
      sort_array(collect_list(struct(col("source"), col("sq")))),
      lit(0.0d), (acc, x) => acc + x.getField("sq")).as("z"))
    sh.crossJoin(broadcast(z))
  }

  /** DSIR importance weights (Xie et al. 2023) for every document:
    * word uni+bigram features hashed into `buckets` buckets
    * (cross-engine sha-prefix hash), two smoothed bag-of-buckets
    * models — rows where `isTarget` holds vs the whole frame — and
    * per-doc weight Σ_b n_d[b] · qlog₂(p̂[b]/q̂[b]). The log-ratios are
    * quantized to the 2⁻³⁰ dyadic grid, so the per-doc sum is
    * order-independent EXACT under any partitioning (the catalog
    * gate's determinism rests on this). Returns `(doc_id, w)` for the
    * FULL document universe (featureless docs get weight 0.0).
    *
    * Scale shape: the feature hash is scan-stage CPU (linear, no
    * exchange — ~2 sha256 per token; the dominant term at sf10, 20.7 s
    * for ~20M feature instances, parallelizes embarrassingly); the
    * only exchanges are the ≤`buckets`-row model aggregations and the
    * (doc_id, bucket) count; models broadcast into the weight join.
    */
  def dsirWeights(
      docs: DataFrame, isTarget: Column, buckets: Int = 1024): DataFrame =
    dsirWeightsTwoPass(docs, isTarget, buckets, shaBucket(buckets))

  /** The CHEAP-HASH library variant of [[dsirWeights]]: xxhash64
    * buckets instead of the sha prefix. The sha term is ~80% of
    * `q_select_dsir`'s sf10 wall (~2 sha256 per token — the price of
    * cross-engine hashability); xxhash64 is one codegen'd 64-bit mix
    * per feature, measured ~5× less scan CPU (SCALING.md round 14,
    * "The DSIR cheap-hash variant"). Same model, same smoothing, same
    * determinism under reruns/retries — but NOT DuckDB-derivable, so
    * it is spec'd for selection OVERLAP against the gated sha form
    * (bucket collisions differ, weights shift at the margin), not
    * hash-gated. Use it when the pipeline doesn't need cross-engine
    * re-derivation; the sha form stays the reference.
    */
  def dsirWeightsFast(
      docs: DataFrame, isTarget: Column, buckets: Int = 1024): DataFrame =
    dsirWeightsTwoPass(docs, isTarget, buckets,
      g => pmod(xxhash64(g), lit(buckets.toLong)))

  /** The TWO-PASS shape: model aggregation and per-doc counts each
    * execute the feature pass (one tokenize+sha scan per pass, two per
    * serve). A one-pass shape sharing a per-doc count frame (checkpointed
    * or exchange-reused) measured slower at the bench corpus
    * (OPTIMIZATION_r17.md "Change 2", same-JVM interleaved A/B: ckpt
    * 2.97/3.46 s, reuse 3.29/3.57 vs two-pass 2.39/3.26 min/median).
    */
  private def dsirWeightsTwoPass(
      docs: DataFrame, isTarget: Column, buckets: Int,
      bucketOf: Column => Column): DataFrame = {
    val hb = dsirBuckets(docs, isTarget, buckets, bucketOf)
    val counts = hb.groupBy(col("b")).agg(
      count(lit(1)).cast(LongType).as("rcnt"),
      count(when(col("is_t"), 1)).cast(LongType).as("tcnt"))
    val dc = hb.groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).cast(LongType).as("n"))
    dsirScore(docs, dc, counts, buckets)
  }

  /** The gated form's bucket hash: cross-engine sha prefix. */
  private def shaBucket(buckets: Int): Column => Column = {
    import graft.functions.SimilarityFunctions.elementHash
    g => elementHash(g) % buckets
  }

  /** The hashed feature→bucket frame shared by model training and
    * document scoring: one row per feature INSTANCE with its bucket.
    */
  private def dsirBuckets(
      docs: DataFrame, isTarget: Column, buckets: Int,
      bucketOf: Column => Column): DataFrame = {
    val tok = docs.select(col("doc_id"), isTarget.as("is_t"),
      tokens(lower(col("text"))).as("ts"))
    // uni + bigram feature instances from ONE Generate over the one
    // materialized token array (was: a Union of two branches, each
    // re-scanning + re-tokenizing the corpus — 2x the scan pass for
    // the identical feature multiset; grouping consumers are order-
    // agnostic, so concatenating the grams per doc changes nothing)
    val bigrams = when(size(col("ts")) >= 2,
      zip_with(
        slice(col("ts"), lit(1), size(col("ts")) - 1),
        slice(col("ts"), lit(2), size(col("ts")) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    tok.select(col("doc_id"), col("is_t"),
        explode(concat(col("ts"), bigrams)).as("g"))
      .select(col("doc_id"), col("is_t"), bucketOf(col("g")).as("b"))
  }

  /** Score every document against a `(b, rcnt, tcnt)` bucket-count
    * model (totals derive by summing it — exact integers): quantized
    * per-bucket log-ratios, per-doc Σ n·lr over the `(doc_id, b, n)`
    * count frame, full document universe. Shared by the one-shot form
    * and the stored-model serve, so the two cannot diverge.
    *
    * `unseenLr`: log-ratio for a scored bucket ABSENT from the model —
    * only reachable when the model lags the scored corpus (stored-model
    * scoring mid-drain; in the gated converged forms every scored
    * bucket is in the model by construction, so the arm is dead there).
    * When given (the stored-model path), an unseen bucket contributes
    * the smoothed ratio the Laplace model implies —
    * qlog₂((0.5/(t_n+halfB))/(0.5/(r_n+halfB))) — instead of silently
    * dropping out of the inner join as an implicit 0.
    *
    * The totals come from a GLOBAL WINDOW over the ≤`buckets`-row
    * model frame, not a separate scalar aggregation: an
    * `agg`-then-cross-join tot would re-expand the counts subtree —
    * and for the one-shot form the whole corpus feature pass under
    * it — as a duplicated plan branch (measured: the original
    * agg+crossJoin shape ran the tokenize+sha pass 5× per serve,
    * 10 sha subexpressions in the plan vs 4 now; AQE does not reuse
    * the differing exchanges). The single-partition window is over at
    * most `buckets` rows — bounded by construction. A collect-to-
    * LocalRelation was measured too: least total CPU, but its
    * serialized extra job LOSES wall everywhere on an idle box
    * (sf0.1 1.40 → 2.10 s); the window shape keeps everything in one
    * job so independent stages still overlap.
    */
  private def dsirScore(
      docs: DataFrame, dc: DataFrame, counts: DataFrame,
      buckets: Int, smoothUnseen: Boolean = false): DataFrame = {
    val wAll = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val halfB = buckets * 0.5
    val lrCore = counts
      .withColumn("r_n", sum(col("rcnt")).over(wAll).cast(LongType))
      .withColumn("t_n", sum(col("tcnt")).over(wAll).cast(LongType))
    val lr = lrCore
      .select(col("b"), TextQueries.quantizeLog2(log2(
        ((col("tcnt") + lit(0.5)) / (col("t_n") + lit(halfB))) /
        ((col("rcnt") + lit(0.5)) / (col("r_n") + lit(halfB))))).as("lr"))
    val terms =
      if (!smoothUnseen)
        dc.join(broadcast(lr), "b")
          .select(col("doc_id"), (col("n") * col("lr")).as("term"))
      else {
        // zero-count smoothed log-ratio, one row (the totals are
        // constant over the ≤`buckets`-row model frame); the 1-row
        // broadcast BNL is the intended scalar-join shape
        val dflt = lrCore.select(TextQueries.quantizeLog2(log2(
          (lit(0.5) / (col("t_n") + lit(halfB))) /
          (lit(0.5) / (col("r_n") + lit(halfB))))).as("ulr")).limit(1)
        dc.join(broadcast(lr), Seq("b"), "left")
          .crossJoin(broadcast(dflt))
          .select(col("doc_id"),
            (col("n") * coalesce(col("lr"), col("ulr"))).as("term"))
      }
    val w = terms.groupBy(col("doc_id")).agg(sum(col("term")).as("w"))
    docs.select(col("doc_id")).join(w, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("w"), lit(0.0)).as("w"))
  }

  /** Deterministic top-k tail of the selection (rank window only over
    * the k survivors of the distributed TakeOrderedAndProject).
    */
  private def dsirTopK(wa: DataFrame, k: Int): DataFrame = {
    val top = wa.orderBy(col("w").desc, col("doc_id")).limit(k)
    val win = Window.orderBy(col("w").desc, col("doc_id"))
    top.withColumn("rank", row_number().over(win).cast(IntegerType))
      .select(col("doc_id"), col("rank"),
        (floor(col("w") * 1000) / 1000).as("weight"))
      .orderBy(col("rank"))
  }

  // ------------------------------------------------------------------
  // Incremental DSIR model — the selection family joins the
  // continuously-maintained state (signatures, sign buckets, windows,
  // codes, LM counts, term stats, cells): bucket counts are pure
  // semigroup state (integer feature-instance sums over disjoint doc
  // batches), so per-batch DELTAS append exactly-once into one tiny
  // bkt-partitioned table and minor compaction SUM-MERGES absorbed
  // tiers (the aggregate-on-compact hook; the stored table stays
  // ≤`buckets` rows per tier). Reconstruction sums the deltas —
  // integer arithmetic end-to-end, so the maintained model is
  // IDENTICAL to a one-shot train and q_select_dsir_incr runs under
  // q_select_dsir's full-recompute DuckDB SQL. Replay protection is
  // the correctness condition (a replayed batch would inflate its
  // buckets' counts and shift every log-ratio).

  /** A batch's bucket-count delta — one O(batch) pass, no table IO. */
  private[graft] def dsirDeltas(
      batch: DataFrame, isTarget: Column, buckets: Int = 1024): DataFrame =
    dsirBuckets(batch, isTarget, buckets, shaBucket(buckets))
      .groupBy(col("b")).agg(
        count(lit(1)).cast(LongType).as("rcnt"),
        count(when(col("is_t"), 1)).cast(LongType).as("tcnt"))
      .withColumn("bkt", pmod(col("b"), lit(8)))

  // zero-drop: a bucket whose every feature instance was retracted
  // folds to (0, 0) at a compaction firing and leaves the table —
  // absent, exactly like a bucket the one-shot train never saw
  private val mergeDsirCounts: DataFrame => DataFrame =
    _.groupBy(col("bkt"), col("b"))
      .agg(sum(col("rcnt")).as("rcnt"), sum(col("tcnt")).as("tcnt"))
      .filter(col("rcnt") =!= 0 || col("tcnt") =!= 0)

  /** Exactly-once append of a batch's model delta. */
  def appendToDsirModelIdempotent(
      batch: DataFrame, isTarget: Column, dir: String, batchId: Long): Unit =
    graft.sinks.IncrementalParquet.appendIdempotent(
      batch.sparkSession, dir, "bkt", batchId, Seq("b"))(
      dsirDeltas(batch, isTarget))

  /** Exactly-once RETRACTION of a batch of DELETED documents from the
    * maintained DSIR model — the
    * [[TextQueries.retractFromTermStatsIdempotent]] mechanism on the
    * selection family: negative bucket-count deltas through the same
    * append protocol under the negative id space. The bucket totals
    * (r_n, t_n) derive from the summed counts, so they retract with
    * no separate state, and every log-ratio shifts exactly as a
    * retrain on the survivors would shift it. `isTarget` must be the
    * same predicate the ingest used — retraction negates exactly the
    * deltas the deleted docs contributed.
    */
  def retractFromDsirModelIdempotent(
      deletedDocs: DataFrame, isTarget: Column, dir: String,
      batchId: Long): Unit =
    graft.sinks.IncrementalParquet.appendIdempotent(
      deletedDocs.sparkSession, dir, "bkt",
      graft.sinks.IncrementalParquet.retractionBatchId(batchId), Seq("b"))(
      dsirDeltas(deletedDocs, isTarget)
        .withColumn("rcnt", -col("rcnt"))
        .withColumn("tcnt", -col("tcnt")))

  /** Minor compaction with count merging. */
  def compactDsirModelMinor(s: SparkSession, dir: String): Int =
    graft.sinks.IncrementalParquet.compactMinor(
      s, dir, "bkt", merge = mergeDsirCounts)

  /** Score a corpus against the MAINTAINED model: bucket counts sum
    * from the stored delta tiers (any unmerged tiers collapse here),
    * then the shared [[dsirScore]] tail — bit-identical to the
    * one-shot weights because every stored operand is an integer.
    * Scores with `smoothUnseen` on: a stored model that LAGS the
    * scored corpus (streamed ingest mid-drain) gives buckets it has
    * never seen the smoothed zero-count log-ratio, not a silent 0;
    * once every scored doc's batch is absorbed the arm is dead and
    * the weights equal the one-shot train's exactly (the converged
    * case the q_select_dsir_incr gate hashes).
    */
  def dsirWeightsFromStoredModel(
      docs: DataFrame, countsDir: String, buckets: Int = 1024): DataFrame = {
    val counts = Tables.parquetCachedSchema(docs.sparkSession, countsDir)
      .groupBy(col("b")).agg(
        sum(col("rcnt")).cast(LongType).as("rcnt"),
        sum(col("tcnt")).cast(LongType).as("tcnt"))
      // between a retraction's ack and its compaction fold, a fully-
      // retracted bucket sums to (0, 0) — it must score as ABSENT
      // (the smoothed-unseen arm), like a bucket never trained on
      .filter(col("rcnt") =!= 0 || col("tcnt") =!= 0)
    val dc = dsirBuckets(docs, lit(false), buckets, shaBucket(buckets))
      .groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).cast(LongType).as("n"))
    dsirScore(docs, dc, counts, buckets, smoothUnseen = true)
  }

  private val storedIncDsir =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** THE incrementally-built DSIR model per corpus fingerprint — the
    * family's lifecycle gate (the [[TextQueries.incrementalLmModelPath]]
    * shape): even-doc_id half as batch 0, odd half as batch 1, minor
    * merge-compaction, serve from the stored counts. Identical to the
    * one-shot model, so q_select_dsir's oracle checks the whole
    * append → merge-compact → reconstruct lifecycle.
    */
  private[graft] def incrementalDsirModelPath(
      s: SparkSession, dir: String): String =
    Tables.memoizedParquet(storedIncDsir,
      Tables.derivedStateKey(s, dir, "documents") + "|dsirincr",
      "graft-dsir-incr") { out =>
      val docs = t(s, dir, "documents")
      val isTarget = col("source").isin("src0", "src1")
      appendToDsirModelIdempotent(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), isTarget, out, 0L)
      appendToDsirModelIdempotent(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), isTarget, out, 1L)
      compactDsirModelMinor(s, out); ()
    }

  private val storedIncDsirDeleted =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The DELETION-lifecycle DSIR model: build + append + RETRACTION
    * batch (every doc ≡ 3 mod 7) + replayed retraction (pinned no-op
    * — a double retraction shifts every log-ratio) + merge-compaction
    * folding the negatives away. q_select_dsir_deleted serves from it
    * under the full-retrain-over-survivors oracle.
    */
  private[graft] def incrementalDsirModelDeletedPath(
      s: SparkSession, dir: String): String =
    Tables.memoizedParquet(storedIncDsirDeleted,
      Tables.derivedStateKey(s, dir, "documents") + "|dsirincr-del",
      "graft-dsir-del") { out =>
      val docs = t(s, dir, "documents")
      val isTarget = col("source").isin("src0", "src1")
      appendToDsirModelIdempotent(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), isTarget, out, 0L)
      appendToDsirModelIdempotent(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), isTarget, out, 1L)
      retractFromDsirModelIdempotent(
        docs.filter(pmod(col("doc_id"), lit(7)) === 3), isTarget, out, 0L)
      // replay with DIFFERENT content: the ack must make it a no-op
      retractFromDsirModelIdempotent(
        docs.filter(pmod(col("doc_id"), lit(7)) =!= 3).limit(1),
        isTarget, out, 0L)
      compactDsirModelMinor(s, out); ()
    }

  /** The paper's SAMPLED selection: Gumbel-top-k draws k documents
    * without replacement with probability ∝ 2^w — rank by
    * w + g where g = −log₂(−log₂ u) is BASE-2 Gumbel noise (Gumbel
    * scale 1/ln2 plus a rank-irrelevant constant shift): `w` is a
    * base-2 log-ratio sum, so 2^w IS the DSIR importance ratio and
    * the base-2 noise is the correctly-scaled Gumbel-max companion
    * (natural-log Gumbel(0,1) would sample ∝ exp(w), a flatter
    * distribution over base-2 weights). The noise is HASH-DERIVED
    * (u from the salted element hash of the doc id) and quantized to
    * the dyadic grid, so the draw is DETERMINISTIC per (seed,
    * doc_id): reruns, retries and both engines agree on the sample —
    * the only way a distributed pipeline can make "random" selection
    * idempotent (the q_mixture_resample / q_sample_stratified
    * discipline). Distributed top-k via orderBy+limit, like the
    * deterministic form.
    */
  def dsirGumbelTopK(
      weights: DataFrame, k: Int, seed: String): DataFrame = {
    import graft.functions.SimilarityFunctions.elementHash
    // u ∈ (0, 1): 28-bit hash scaled by 2⁻²⁸ with a half-step offset,
    // exact dyadic; g quantized so w + g stays order-stable
    val u = (elementHash(concat(lit(s"$seed|"),
      col("doc_id").cast(StringType))) + lit(0.5)) / lit(268435456.0)
    val g = TextQueries.quantizeLog2(-log2(-log2(u)))
    weights
      .withColumn("key", col("w") + g)
      .orderBy(col("key").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), col("w"), col("key"))
  }


  // ------------------------------------------------------------------
  // Trained quality classifier — model-based filtering, the third
  // quality-filter family after the heuristic rules and the LM
  // perplexity score: a logistic regression DISTILLS the composite
  // heuristic verdict (quality ≥ 0.6) into a linear model over cheap
  // per-doc features, trained IN the engine by
  // [[graft.operators.QuantizedLr]]'s deterministic full-batch GD.
  // Every training step is cross-engine exact (dyadic-grid weights,
  // sigma quantization, exact integer gradient sums — the ladder
  // documented on the trainer), so the DuckDB oracle re-derives the ENTIRE
  // training run by unrolling the iterations as CTEs — the k-means
  // discipline applied to supervised learning — and the final scores
  // hash-match end to end.

  private val LrK = 5
  private val LrIters = 40
  private val LrEta = 8.0

  /** One floor-to-2⁻²⁰ quantization (the feature/weight grid). */
  private def q20(c: Column): Column =
    floor(c * lit(1048576.0)) / lit(1048576.0)

  /** The k=5 feature vector: intercept, capped token count, alpha
    * ratio, their interaction (quantized product of the QUANTIZED
    * factors — mirrored literally in the oracle), distinct-token
    * ratio (a repetition signal — the trained weight on it is
    * strongly negative, matching the Gopher-rule intuition).
    */
  private def lrFeatures: Column = {
    val len = length(col("text")).cast(DoubleType)
    val tokCap = q20(least(lit(1.0),
      tokenCount(col("text")).cast(DoubleType) / lit(64.0)))
    val alpha = q20(when(length(col("text")) > 0,
      regexp_count(col("text"), lit("[A-Za-z]")).cast(DoubleType) / len)
      .otherwise(lit(0.0)))
    val distinctRatio = q20(when(length(col("text")) > 0,
      size(array_distinct(tokens(col("text")))).cast(DoubleType) /
        greatest(tokenCount(col("text")), lit(1)).cast(DoubleType))
      .otherwise(lit(0.0)))
    array(lit(1.0), tokCap, alpha, q20(tokCap * alpha), distinctRatio)
  }

  /** Distillation label: the composite heuristic verdict. */
  private def lrLabel: Column =
    when(qualityScore(col("text")) >= 0.6, 1.0).otherwise(0.0)

  /** Quantized sigma of the margin against a compiled weight vector —
    * the scoring expression (shared by training inside QuantizedLr in
    * spirit; kept in exact lockstep with the oracle's list_reduce).
    */
  private def lrSigma(w: Array[Double]): Column = {
    val wl = typedlit(w)
    val z = (0 until LrK)
      .map(j => element_at(wl, j + 1) * element_at(col("x"), j + 1))
      .reduce(_ + _)
    floor(lit(1.0) / (lit(1.0) + exp(-z)) * lit(1048576.0)) / lit(1048576.0)
  }

  // ---- the oracle's relational mirror of the same pieces ----

  private def lrReSql(pat: String): String =
    s"CAST(len(regexp_extract_all(text, '$pat')) AS DOUBLE)"

  private def lrFeatSql: String = {
    val len = "CAST(length(text) AS DOUBLE)"
    val tokCap =
      s"floor(least(1.0, ${lrReSql("\\S+")} / 64.0) * 1048576.0) / 1048576.0"
    val alpha = s"""floor((CASE WHEN length(text) > 0
                  |         THEN ${lrReSql("[A-Za-z]")} / $len
                  |         ELSE 0.0 END) * 1048576.0) / 1048576.0""".stripMargin
    val distinctRatio =
      s"""floor((CASE WHEN length(text) > 0
         |         THEN CAST(len(list_distinct(regexp_extract_all(text, '\\S+')))
         |                   AS DOUBLE)
         |              / CAST(greatest(len(regexp_extract_all(text, '\\S+')), 1)
         |                     AS DOUBLE)
         |         ELSE 0.0 END) * 1048576.0) / 1048576.0""".stripMargin
    val quality =
      s"""least(1.0, ${lrReSql("\\S+")} / 64.0)
         |      * (CASE WHEN length(text) > 0
         |              THEN ${lrReSql("[A-Za-z]")} / $len ELSE 0.0 END)
         |      * (CASE WHEN length(text) > 0
         |              THEN greatest(0.0,
         |                     1.0 - (${lrReSql("[.,;:!?]")} / $len) * 4.0)
         |              ELSE 0.0 END)""".stripMargin
    s"""feat AS MATERIALIZED (SELECT doc_id,
       |  [1.0,
       |   $tokCap,
       |   $alpha,
       |   floor(($tokCap) * ($alpha) * 1048576.0) / 1048576.0,
       |   $distinctRatio] AS x,
       |  CAST(CASE WHEN $quality >= 0.6 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS y
       |FROM documents)""".stripMargin
  }

  /** One unrolled GD iteration (`w$${i-1}` → `w$$i`): per-doc quantized
    * sigma, per-feature BIGINT gradient sum, dyadic weight update —
    * the exact relational mirror of one [[graft.operators.QuantizedLr]]
    * step.
    */
  private def lrIterSql(i: Int): String =
    s"""s$i AS MATERIALIZED (SELECT f.doc_id, f.x, f.y,
       |  floor(1.0 / (1.0 + exp(-(list_reduce(
       |    [w.w[j + 1] * f.x[j + 1] FOR j IN range(0, $LrK)],
       |    (a, b) -> a + b)))) * 1048576.0) / 1048576.0 AS s
       |  FROM feat f, w${i - 1} w),
       |g$i AS (SELECT jj.j AS j,
       |  CAST(sum(CAST(floor((t.s - t.y) * t.x[jj.j + 1] * 1073741824.0)
       |                AS BIGINT)) AS BIGINT) AS gu
       |  FROM s$i t, (SELECT unnest(range(0, $LrK)) AS j) jj GROUP BY jj.j),
       |w$i AS MATERIALIZED (SELECT list(
       |  floor((w.w[g.j + 1] - $LrEta * CAST(g.gu AS DOUBLE) / 1073741824.0
       |         / CAST(n.n AS DOUBLE)) * 1048576.0) / 1048576.0
       |  ORDER BY g.j) AS w
       |  FROM g$i g, w${i - 1} w, nn n)""".stripMargin

  /** The CTE chain through the per-doc weight relation `wa` — the
    * relational mirror of [[dsirWeights]], shared by all three gated
    * selection forms (deterministic top-k one-shot + maintained,
    * Gumbel-sampled).
    */
  private val dsirWaCtesSql: String = dsirWaCtesSqlOver("documents")

  /** [[dsirWaCtesSql]] over an arbitrary corpus relation — the
    * deletion gate retrains AND scores over the surviving corpus
    * (every count, both totals and the weight join's right side
    * follow the source).
    */
  private def dsirWaCtesSqlOver(src: String): String =
    s"""tok AS (SELECT doc_id, source,
        |         regexp_extract_all(lower(text), '\\S+') AS ts FROM $src),
        |feat AS (
        |  SELECT doc_id, source, unnest(ts) AS g FROM tok
        |  UNION ALL
        |  SELECT doc_id, source,
        |    unnest([ts[i] || ' ' || ts[i+1]
        |            FOR i IN range(1, greatest(len(ts), 1))]) AS g
        |  FROM tok),
        |hb AS (SELECT doc_id, source,
        |         list_sum([(strpos('0123456789abcdef',
        |                           substring(sha256(g), p, 1)) - 1)
        |                   * CAST(16**(7 - p) AS BIGINT)
        |                   FOR p IN range(1, 8)]) % 1024 AS b
        |       FROM feat),
        |rc AS (SELECT b, CAST(count(*) AS BIGINT) AS rcnt FROM hb GROUP BY b),
        |tc AS (SELECT b, CAST(count(*) AS BIGINT) AS tcnt FROM hb
        |       WHERE source IN ('src0', 'src1') GROUP BY b),
        |tot AS (SELECT
        |          (SELECT CAST(count(*) AS BIGINT) FROM hb) AS r_n,
        |          (SELECT CAST(count(*) AS BIGINT) FROM hb
        |           WHERE source IN ('src0', 'src1')) AS t_n),
        |lr AS (SELECT rc.b,
        |         floor(log2(((COALESCE(tc.tcnt, 0) + 0.5) / (t.t_n + 512.0))
        |                  / ((rc.rcnt + 0.5) / (t.r_n + 512.0)))
        |               * 1073741824.0) / 1073741824.0 AS lr
        |       FROM rc LEFT JOIN tc ON tc.b = rc.b, tot t),
        |dc AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS n
        |       FROM hb GROUP BY doc_id, b),
        |w AS (SELECT dc.doc_id, SUM(dc.n * lr.lr) AS w
        |      FROM dc JOIN lr ON lr.b = dc.b GROUP BY dc.doc_id),
        |wa AS (SELECT d.doc_id, COALESCE(w.w, 0.0) AS w
        |       FROM $src d LEFT JOIN w ON w.doc_id = d.doc_id)""".stripMargin

  /** One oracle text for the WHOLE deterministic selection relation —
    * shared by q_select_dsir and q_select_dsir_incr (the round-4
    * precedent: one oracle per result relation, however many physical
    * strategies compute it — here one-shot train vs maintained
    * stored-count model).
    */
  private val dsirSelectSql: String =
    s"""WITH $dsirWaCtesSql,
        |r AS (SELECT doc_id, w,
        |        CAST(row_number() OVER (ORDER BY w DESC, doc_id)
        |             AS INTEGER) AS rank
        |      FROM wa)
        |SELECT doc_id, rank, floor(w * 1000) / 1000 AS weight
        |FROM r WHERE rank <= 100 ORDER BY rank""".stripMargin

  /** q_select_dsir_sampled's oracle: the same weight relation, then
    * the hash-derived base-2 Gumbel key of [[dsirGumbelTopK]] —
    * u from the 7-hex-digit sha prefix (the engine's elementHash,
    * mirrored from q_mixture_resample) with the half-step offset,
    * g = ⌊−log₂(−log₂ u)·2³⁰⌋/2³⁰ — and the top-100 by (key, doc_id).
    */
  private val dsirSampledSql: String =
    s"""WITH $dsirWaCtesSql,
        |gk AS (SELECT doc_id, w,
        |         w + floor(-log2(-log2(
        |               (list_sum([(strpos('0123456789abcdef',
        |                  substring(sha256('r14|' || CAST(doc_id AS VARCHAR)),
        |                            p, 1)) - 1)
        |                  * CAST(16**(7 - p) AS BIGINT)
        |                  FOR p IN range(1, 8)]) + 0.5) / 268435456.0))
        |             * 1073741824.0) / 1073741824.0 AS gumbel_key
        |       FROM wa),
        |r AS (SELECT doc_id, w, gumbel_key,
        |        CAST(row_number() OVER (ORDER BY gumbel_key DESC, doc_id)
        |             AS INTEGER) AS rank
        |      FROM gk)
        |SELECT doc_id, rank, floor(w * 1000) / 1000 AS weight,
        |  floor(gumbel_key * 1000) / 1000 AS gumbel_key
        |FROM r WHERE rank <= 100 ORDER BY rank""".stripMargin

  val all: Seq[GraftQuery] = Seq(

    // ------------------------------------------------- quality filters
    // Gopher-style repetition ratios per document: fraction of
    // duplicate words, most-frequent-word share, duplicate-bigram
    // fraction, and the resulting keep decision. The word branch is
    // explode → (doc_id, word) count → doc_id rollup (partial agg
    // combines before each exchange); the bigram branch is scan-stage
    // array ops (docs are ≤100 words; at real corpus scale the
    // distinct-bigram count would move into a codegen kernel like
    // graft.expressions.HashExpressions rather than interpreted HOFs).
    // Ratios are computed with the identical cast-then-divide op order
    // on both engines so the doubles (and the keep booleans derived
    // from them) are bit-identical.
    GraftQuery(
      "q_repetition_stats",
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |tok AS (SELECT doc_id, unnest(ws) AS word FROM d),
        |wc AS (SELECT doc_id, word, count(*) AS c FROM tok GROUP BY doc_id, word),
        |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |          CAST(count(*) AS BIGINT) AS n_distinct,
        |          CAST(max(c) AS BIGINT) AS top_c
        |        FROM wc GROUP BY doc_id),
        |bg AS (SELECT doc_id,
        |         CAST(len(list_distinct(
        |           [ws[i] || ' ' || ws[i + 1] FOR i IN range(1, len(ws))]
        |         )) AS BIGINT) AS n_db
        |       FROM d)
        |SELECT a.doc_id, n_words, n_distinct,
        |  CAST(top_c AS DOUBLE) / CAST(n_words AS DOUBLE) AS top_word_frac,
        |  1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE) AS dup_word_frac,
        |  1.0 - CAST(n_db AS DOUBLE) / CAST(n_words - 1 AS DOUBLE) AS dup_bigram_frac,
        |  (CAST(top_c AS DOUBLE) / CAST(n_words AS DOUBLE) <= 0.2
        |   AND 1.0 - CAST(n_db AS DOUBLE) / CAST(n_words - 1 AS DOUBLE) <= 0.6)
        |    AS keep_doc
        |FROM agg a JOIN bg USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
      val agg = d.select(col("doc_id"), explode(col("ws")).as("word"))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_words"), count(lit(1)).as("n_distinct"),
          max(col("c")).as("top_c"))
      val bg = d.select(col("doc_id"),
        size(array_distinct(zip_with(
          slice(col("ws"), lit(1), size(col("ws")) - 1),
          slice(col("ws"), lit(2), size(col("ws")) - 1),
          (a, b) => concat(a, lit(" "), b)))).cast(LongType).as("n_db"))
      val topF = dbl(col("top_c")) / dbl(col("n_words"))
      val dupW = lit(1.0) - dbl(col("n_distinct")) / dbl(col("n_words"))
      val dupB = lit(1.0) - dbl(col("n_db")) / dbl(col("n_words") - 1)
      agg.join(bg, "doc_id")
        .select(col("doc_id"), col("n_words"), col("n_distinct"),
          topF.as("top_word_frac"), dupW.as("dup_word_frac"),
          dupB.as("dup_bigram_frac"),
          (topF <= 0.2 && dupB <= 0.6).as("keep_doc"))
        .orderBy(col("doc_id"))
    },

    // ---------------------------------------------------- seq packing
    // Concat-and-split packing: per source shard, documents are laid
    // end-to-end in doc_id order and cut into fixed 256-token training
    // sequences; each doc reports the token interval it occupies and
    // the first/last sequence it lands in. One window exchange
    // partitioned by shard (the 100 TB layout: pack within shards, not
    // globally — no single-partition funnel). All-integer math (DIV),
    // and the running sum is CAST back to BIGINT on the oracle side so
    // DuckDB's HUGEINT never reaches the comparator.
    GraftQuery(
      "q_pack_sequences",
      """WITH d AS (SELECT doc_id, source,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |           FROM documents),
        |c AS (SELECT doc_id, source, n_tok,
        |        CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |                              ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |          AS tok_end
        |      FROM d)
        |SELECT doc_id, source, n_tok,
        |  tok_end - n_tok AS tok_start,
        |  (tok_end - n_tok) // 256 AS seq_first,
        |  (tok_end - 1) // 256 AS seq_last,
        |  (tok_end - 1) // 256 - (tok_end - n_tok) // 256 + 1 AS n_seqs
        |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast(LongType).as("n_tok"))
        .withColumn("tok_end", sum(col("n_tok")).over(w))
        .withColumn("tok_start", col("tok_end") - col("n_tok"))
        .withColumn("seq_first", expr("tok_start DIV 256"))
        .withColumn("seq_last", expr("(tok_end - 1) DIV 256"))
        .select(col("doc_id"), col("source"), col("n_tok"), col("tok_start"),
          col("seq_first"), col("seq_last"),
          (col("seq_last") - col("seq_first") + 1).as("n_seqs"))
        .orderBy(col("doc_id"))
    },

    // -------------------------------------------------- curation funnel
    // THE training-corpus query: every curation rule composed into one
    // per-document verdict — language identified (stopword-vote ≠
    // 'und'), quality score ≥ 0.3, Gopher-style repetition bounds
    // (top-word share ≤ 0.2, duplicate-bigram fraction ≤ 0.6), and
    // first-wins exact dedup (minimum doc_id within the normalizing-
    // fingerprint group), over the planted-copy corpus so the dedup arm
    // provably fires. One funnel pass = the scan-stage rules + one
    // word-stat aggregation + one fingerprint window + a doc_id join —
    // no rule re-scans the corpus. Booleans are AND-composed from
    // identically-computed doubles/counts on both engines, so the
    // verdict column hashes bit-identically.
    GraftQuery(
      "q_curation_funnel", {
        def reCount(expr: String, pat: String) =
          s"len(regexp_extract_all($expr, '$pat'))"
        val scores = LangStopwords.map { case (l, ws) =>
          l -> reCount("lower(text)", ws.mkString("\\b(", "|", ")\\b"))
        }
        val scoreSel = scores.map { case (l, e) => s"$e AS s_$l" }.mkString(",\n           ")
        val total = scores.map(s => s"s_${s._1}").mkString(" + ")
        val best = scores.map(s => s"s_${s._1}").mkString("greatest(", ", ", ")")
        val predArms = scores.map { case (l, _) =>
          s"WHEN ($total) > 0 AND s_$l = $best THEN '$l'"
        }.mkString(" ")
        val quality =
          s"""(least(1.0, CAST(${reCount("text", "\\S+")} AS DOUBLE) / 64.0)
             |     * (CASE WHEN length(text) > 0
             |             THEN CAST(${reCount("text", "[A-Za-z]")} AS DOUBLE) / CAST(length(text) AS DOUBLE)
             |             ELSE 0.0 END)
             |     * (CASE WHEN length(text) > 0
             |             THEN greatest(0.0, 1.0 - (CAST(${reCount("text", "[.,;:!?]")} AS DOUBLE)
             |                                       / CAST(length(text) AS DOUBLE)) * 4.0)
             |             ELSE 0.0 END))""".stripMargin
        s"""WITH c AS (${DedupQueries.exactDupCorpusSql}),
           |t0 AS (SELECT doc_id, text,
           |         regexp_extract_all(lower(text), '\\S+') AS tsl FROM c),
           |wc AS (SELECT doc_id, word, count(*) AS cnt
           |       FROM (SELECT doc_id, unnest(tsl) AS word FROM t0) GROUP BY 1, 2),
           |agg AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
           |          CAST(max(cnt) AS BIGINT) AS top_c FROM wc GROUP BY 1),
           |scan AS (SELECT doc_id,
           |           $scoreSel,
           |           $quality >= 0.3 AS quality_ok,
           |           CAST(len(list_distinct([tsl[i] || ' ' || tsl[i+1]
           |                FOR i IN range(1, greatest(len(tsl), 1))])) AS BIGINT) AS n_db,
           |           row_number() OVER (
           |             PARTITION BY sha256(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
           |             ORDER BY doc_id) = 1 AS dup_ok
           |         FROM t0),
           |v AS (SELECT s.doc_id,
           |        (CASE $predArms ELSE 'und' END) <> 'und' AS lang_ok,
           |        quality_ok,
           |        coalesce(n_words >= 2
           |         AND CAST(top_c AS DOUBLE) / CAST(n_words AS DOUBLE) <= 0.2
           |         AND 1.0 - CAST(n_db AS DOUBLE) / CAST(n_words - 1 AS DOUBLE) <= 0.6,
           |         FALSE) AS repetition_ok,
           |        dup_ok
           |      FROM scan s LEFT JOIN agg USING (doc_id))
           |SELECT doc_id, lang_ok, quality_ok, repetition_ok, dup_ok,
           |  (lang_ok AND quality_ok AND repetition_ok AND dup_ok) AS keep
           |FROM v ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      val c = DedupQueries.exactDupCorpus(t(s, dir, "documents"))
      val base = c.select(col("doc_id"), col("text"),
        tokens(lower(col("text"))).as("tsl"))
      val wordAgg = base.select(col("doc_id"), explode(col("tsl")).as("word"))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_words"), max(col("cnt")).as("top_c"))
      val wFp = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      base.select(col("doc_id"),
          (langId(col("text")) =!= "und").as("lang_ok"),
          (qualityScore(col("text")) >= 0.3).as("quality_ok"),
          size(array_distinct(shinglesFromTokens(col("tsl"), 2)))
            .cast(LongType).as("n_db"),
          fingerprint(col("text")).as("fp"))
        .withColumn("dup_ok", row_number().over(wFp) === 1)
        // LEFT join: a zero-token doc has no word-stat row but still
        // owes the funnel a verdict (keep=false), not silent absence;
        // the n_words >= 2 guard also pins the 1-token edge, where
        // Spark's null-on-div-by-zero and DuckDB's IEEE inf would
        // otherwise diverge
        .join(wordAgg, Seq("doc_id"), "left")
        .withColumn("repetition_ok",
          coalesce(col("n_words") >= 2 &&
            dbl(col("top_c")) / dbl(col("n_words")) <= 0.2 &&
            lit(1.0) - dbl(col("n_db")) / dbl(col("n_words") - 1) <= 0.6,
            lit(false)))
        .select(col("doc_id"), col("lang_ok"), col("quality_ok"),
          col("repetition_ok"), col("dup_ok"),
          (col("lang_ok") && col("quality_ok") && col("repetition_ok") &&
            col("dup_ok")).as("keep"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------------ PII scrub
    // Training-corpus PII pass: mask every digit run in the free-text
    // payload (RE2-safe character-class pattern — no lookarounds, so
    // Spark's java.util.regex and DuckDB's RE2 agree) and replace the
    // stable user id with a salted-SHA pseudonym (joinable across
    // tables scrubbed with the same pepper, not reversible). Pure
    // scan-stage: zero shuffles before the presentation sort.
    GraftQuery(
      "q_pii_scrub",
      """SELECT event_id,
        |  substring(sha256('pepper|' || CAST(user_id AS VARCHAR)), 1, 16)
        |    AS user_pseudo,
        |  regexp_replace(props, '[0-9]+', '#', 'g') AS props_scrubbed
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      // sha+regex projection above the sort (the q_normalize_row
      // discipline): the range sampler otherwise runs it twice
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("props"))
        .orderBy(col("event_id"))
        .select(col("event_id"),
          substring(sha2(concat(lit("pepper|"), col("user_id").cast(StringType)), 256),
            1, 16).as("user_pseudo"),
          regexp_replace(col("props"), "[0-9]+", "#").as("props_scrubbed"))
    },

    // ------------------------------------------------ domain mixture
    // Temperature-weighted domain mixture planning — the GPT-3/PaLM
    // "mixture weights" operator: per-source token shares are
    // temperature-smoothed (wₛ ∝ shareₛ^t) so small domains are
    // up-weighted relative to their raw mass, and each source gets
    // its resampling rate (wₛ/shareₛ — >1 means upsample) and its
    // document target for a fixed 100k-doc training draw. t = 0.5:
    // sqrt is CORRECTLY ROUNDED under IEEE 754 on both engines (a
    // fractional pow() is not — the same transcendental-determinism
    // reasoning as q_lm_score's log2 note, except sqrt removes the
    // risk entirely). The normalizer Σ√share folds in source order
    // (sorted collect on one side, list(... ORDER BY) on the other)
    // so the double sum is order-identical. One grouped aggregation
    // over the corpus + a broadcast one-row normalizer join — the
    // whole plan is two small exchanges regardless of corpus size.
    GraftQuery(
      "q_domain_mixture",
      s"""WITH $mixtureCtesSql
        |SELECT source, n_docs, n_tokens,
        |  floor(share * 1000000) / 1000000 AS share,
        |  floor(sq / z * 1000000) / 1000000 AS weight,
        |  floor(sq / z / share * 1000000) / 1000000 AS sample_rate,
        |  CAST(floor(sq / z * 100000) AS BIGINT) AS n_target
        |FROM sh, z ORDER BY source""".stripMargin) { (s, dir) =>
      mixtureShares(t(s, dir, "documents"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          (floor(col("share") * 1000000) / 1000000).as("share"),
          (floor(col("sq") / col("z") * 1000000) / 1000000).as("weight"),
          (floor(col("sq") / col("z") / col("share") * 1000000) / 1000000)
            .as("sample_rate"),
          floor(col("sq") / col("z") * 100000).cast(LongType).as("n_target"))
        .orderBy(col("source"))
    },

    // --------------------------------------------- mixture resample
    // The ACTIONABLE mixture form: every document gets its
    // deterministic copy count under the planned rates —
    // floor(rate) whole copies plus one more when the doc's salted
    // hash bucket falls under the fractional part (the
    // q_sample_stratified hash-mod discipline, so reruns and both
    // engines agree exactly). Upsampled domains (rate > 1) duplicate;
    // downsampled ones keep a hash-chosen subset; Σ n_copies tracks
    // rate × n_docs per source. Scan-stage per-doc work + the
    // broadcast rates join — the corpus is never shuffled.
    GraftQuery(
      "q_mixture_resample",
      s"""WITH $mixtureCtesSql,
        |r AS (SELECT source, sq / z / share AS rate FROM sh, z),
        |b AS (SELECT doc_id, source,
        |        list_sum([(strpos('0123456789abcdef', substring(h, p, 1)) - 1)
        |                  * CAST(16**(7 - p) AS BIGINT) FOR p IN range(1, 8)]) % 1000
        |          AS bucket
        |      FROM (SELECT doc_id, source,
        |              substring(sha256('mix|' || CAST(doc_id AS VARCHAR)), 1, 7) AS h
        |            FROM documents))
        |SELECT b.doc_id, b.source,
        |  CAST(floor(rate) +
        |       CASE WHEN bucket < (rate - floor(rate)) * 1000 THEN 1 ELSE 0 END
        |       AS BIGINT) AS n_copies
        |FROM b JOIN r ON b.source = r.source
        |ORDER BY b.doc_id""".stripMargin) { (s, dir) =>
      import graft.functions.SimilarityFunctions.elementHash
      val rates = mixtureShares(t(s, dir, "documents"))
        .select(col("source"),
          (col("sq") / col("z") / col("share")).as("rate"))
      val bucket = elementHash(
        concat(lit("mix|"), col("doc_id").cast(StringType))) % 1000
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), bucket.as("bucket"))
        .join(broadcast(rates), "source")
        .select(col("doc_id"), col("source"),
          (floor(col("rate")) +
            when(col("bucket") < (col("rate") - floor(col("rate"))) * 1000, 1)
              .otherwise(0)).cast(LongType).as("n_copies"))
        .orderBy(col("doc_id"))
    },

    // ----------------------------------------- DSIR data selection
    // (implementation: [[dsirWeights]] + deterministic top-k; the
    // sampled selection is gated below as q_select_dsir_sampled)
    // Importance-resampling data selection (Xie et al. 2023, DSIR):
    // score every raw document by how target-like its hashed n-gram
    // profile is, then keep the top-k. Features are word unigrams +
    // bigrams of the standard tokenizer, hashed into 1024 buckets via
    // the engine's cross-engine element hash (sha-prefix → BIGINT —
    // the q_mixture_resample discipline). Two smoothed bag-of-buckets
    // models — target = sources src0/src1 (the small high-quality
    // reference corpus stand-in), raw = the whole corpus — give a
    // per-bucket log-likelihood ratio; a document's importance weight
    // is Σ_b n_d[b] · lr[b]. CROSS-ENGINE EXACT because every lr is
    // quantized to the 2⁻³⁰ dyadic grid (the LM-scoring discipline):
    // each term n·lr is then an exact dyadic rational and the per-doc
    // SUM is order-independent under any partitioning — no ordered
    // fold needed. Selection is deterministic top-k by (weight,
    // doc_id) through orderBy+limit (TakeOrderedAndProject — no
    // global-sort exchange), with the rank window over the 100
    // surviving rows only. Scale shape: two feature-frame
    // aggregations (bucket models are ≤1024 rows, broadcast), one
    // per-(doc, bucket) aggregation with map-side combine, and a
    // distributed top-k — the corpus never shuffles whole documents.
    // The paper's sampled variant (Gumbel noise on the weights) is
    // gated separately as q_select_dsir_sampled; this form pins the
    // deterministic core.
    GraftQuery(
      "q_select_dsir",
      dsirSelectSql) { (s, dir) =>
      val wa = dsirWeights(t(s, dir, "documents"),
        col("source").isin("src0", "src1"))
      dsirTopK(wa, 100)
    },

    // ------------------------------- DSIR from the MAINTAINED model
    // Same selection relation served from the incrementally-built
    // bucket-count table (append even half -> append odd half -> minor
    // merge-compaction -> reconstruct): counts are integers summed
    // over a disjoint batch partition of the corpus, so the maintained
    // model is bit-identical to the one-shot train and the SAME
    // full-recompute oracle hashes the whole lifecycle.
    GraftQuery("q_select_dsir_incr", dsirSelectSql) { (s, dir) =>
      val docs = t(s, dir, "documents")
      dsirTopK(
        dsirWeightsFromStoredModel(docs, incrementalDsirModelPath(s, dir)),
        100)
    },

    // The selection family's deletion lifecycle under the oracle
    // hash: the maintained bucket counts built as build + append +
    // RETRACTION batch (doc ≡ 3 mod 7) + replayed retraction (pinned
    // no-op) + merge-compaction, then the selection served over the
    // surviving docs. The oracle retrains from scratch on the
    // survivors — counts, totals and every log-ratio shift, and the
    // top-100 re-ranks accordingly.
    GraftQuery("q_select_dsir_deleted",
      s"""WITH ${dsirWaCtesSqlOver(
            "(SELECT * FROM documents WHERE doc_id % 7 <> 3)")},
          |r AS (SELECT doc_id, w,
          |        CAST(row_number() OVER (ORDER BY w DESC, doc_id)
          |             AS INTEGER) AS rank
          |      FROM wa)
          |SELECT doc_id, rank, floor(w * 1000) / 1000 AS weight
          |FROM r WHERE rank <= 100 ORDER BY rank""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(7)) =!= 3)
      dsirTopK(
        dsirWeightsFromStoredModel(
          docs, incrementalDsirModelDeletedPath(s, dir)),
        100)
    },

    // ----------------------------------- DSIR, the paper's SAMPLED form
    // Gumbel-top-k selection ∝ 2^w (the method Xie et al. actually
    // run; the deterministic top-k above is the ablation): the noise
    // is hash-derived per (seed, doc_id) and dyadic-quantized
    // ([[dsirGumbelTopK]]), so the "random" draw is rerun-idempotent
    // and cross-engine exact — which is what lets the paper's sampled
    // selection sit under the SAME hash gate as its deterministic
    // sibling. Scale shape identical to q_select_dsir: the noise is
    // one scan-stage sha over the ≤corpus-row weight frame, selection
    // stays TakeOrderedAndProject.
    GraftQuery("q_select_dsir_sampled", dsirSampledSql) { (s, dir) =>
      val wa = dsirWeights(t(s, dir, "documents"),
        col("source").isin("src0", "src1"))
      val top = dsirGumbelTopK(wa, 100, "r14")
      val win = Window.orderBy(col("key").desc, col("doc_id"))
      top.withColumn("rank", row_number().over(win).cast(IntegerType))
        .select(col("doc_id"), col("rank"),
          (floor(col("w") * 1000) / 1000).as("weight"),
          (floor(col("key") * 1000) / 1000).as("gumbel_key"))
        .orderBy(col("rank"))
    },

    // ------------------------------- DSIR to a TOKEN budget
    // What a training run actually buys is tokens, not documents: the
    // budgeted form selects the greedy weight-ordered prefix whose
    // cumulative token count first covers the budget (every doc whose
    // PRECEDING selection is still under budget — the last one may
    // overshoot, the standard greedy-prefix convention). Zero-token
    // docs are excluded UP FRONT on both sides: they contribute
    // nothing a training run buys, and — load-bearing for the plan —
    // every candidate then advances the cumulative sum by ≥1, so any
    // selected doc has rank ≤ budget and the plan cuts to the
    // top-`budget` docs FIRST via the distributed
    // TakeOrderedAndProject; the cumulative-sum window (inherently a
    // global prefix scan) runs over ≤budget rows, never the corpus
    // (without the exclusion, a run of zero-token docs inside the
    // prefix could push true selections past any fixed cut).
    // All-integer cumulative arithmetic; rank ties broken by doc_id;
    // cross-engine exact like its siblings.
    GraftQuery(
      "q_select_dsir_budget",
      s"""WITH $dsirWaCtesSql,
         |tk AS (SELECT doc_id,
         |         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)
         |           AS n_tok
         |       FROM documents
         |       WHERE len(regexp_extract_all(text, '\\S+')) >= 1),
         |r AS (SELECT wa.doc_id, wa.w, tk.n_tok,
         |        CAST(row_number() OVER (ORDER BY wa.w DESC, wa.doc_id)
         |             AS INTEGER) AS rank,
         |        CAST(sum(tk.n_tok) OVER (ORDER BY wa.w DESC, wa.doc_id
         |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
         |      FROM wa JOIN tk ON tk.doc_id = wa.doc_id)
         |SELECT doc_id, rank, n_tok, cum_tok,
         |  floor(w * 1000) / 1000 AS weight
         |FROM r WHERE cum_tok - n_tok < 4096 ORDER BY rank""".stripMargin) {
      (s, dir) =>
      val docs = t(s, dir, "documents")
      val budget = 4096L
      val wa = dsirWeights(docs, col("source").isin("src0", "src1"))
      val toks = docs.select(col("doc_id"),
        tokenCount(col("text")).cast(LongType).as("n_tok"))
        .filter(col("n_tok") >= 1)
      // distributed top-k cut BEFORE the prefix windows: ≥1 token per
      // doc bounds the greedy prefix at `budget` docs
      val cand = wa.join(toks, "doc_id")
        .orderBy(col("w").desc, col("doc_id")).limit(budget.toInt)
      val ord = Window.orderBy(col("w").desc, col("doc_id"))
      val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cand
        .withColumn("rank", row_number().over(ord).cast(IntegerType))
        .withColumn("cum_tok", sum(col("n_tok")).over(cum).cast(LongType))
        .filter(col("cum_tok") - col("n_tok") < budget)
        .select(col("doc_id"), col("rank"), col("n_tok"), col("cum_tok"),
          (floor(col("w") * 1000) / 1000).as("weight"))
        .orderBy(col("rank"))
    },

    // -------------------------------- trained quality classifier (LR)
    // Model-based quality filtering: logistic regression distilled
    // from the composite heuristic verdict, trained in-engine by
    // QuantizedLr's deterministic quantized GD (40 full-batch
    // iterations, eta=8) and scored in one scan pass. The oracle
    // re-derives THE WHOLE TRAINING RUN as unrolled CTEs — the
    // trained weights, hence every score and keep decision,
    // hash-match. Measured distillation accuracy 0.988 vs the
    // teacher rule at sf0.01 (the interaction feature carries the
    // product rule; the distinct-token ratio earns a strong negative
    // weight — the repetition signal). Scale: training is
    // iters x one integer-sum aggregation over a materialized
    // feature frame; scoring is scan-stage.
    GraftQuery(
      "q_quality_classifier",
      s"""WITH $lrFeatSql,
         |nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM feat),
         |w0 AS MATERIALIZED (SELECT [${Seq.fill(LrK)("0.0").mkString(", ")}] AS w),
         |${(1 to LrIters).map(lrIterSql).mkString(",\n")},
         |sc AS (SELECT f.doc_id, f.y,
         |  floor(1.0 / (1.0 + exp(-(list_reduce(
         |    [w.w[j + 1] * f.x[j + 1] FOR j IN range(0, $LrK)],
         |    (a, b) -> a + b)))) * 1048576.0) / 1048576.0 AS s
         |  FROM feat f, w$LrIters w)
         |SELECT doc_id, floor(s * 10000) / 10000 AS score,
         |  CAST(CASE WHEN s >= 0.5 THEN 1 ELSE 0 END AS INTEGER) AS keep,
         |  CAST(y AS INTEGER) AS label
         |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val feat = docs.select(col("doc_id"), lrFeatures.as("x"),
        lrLabel.as("y"))
      val w = graft.operators.QuantizedLr.cached(
        feat, Tables.derivedStateKey(s, dir, "documents"), LrK, LrIters,
        LrEta)
      val sig = lrSigma(w)
      // feature+sigma projection ABOVE the sort (the q_normalize_row
      // discipline): the range sampler otherwise runs the whole
      // tokenize/regex feature chain twice per serve
      docs.select(col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
        .select(col("doc_id"), lrFeatures.as("x"), lrLabel.as("y"))
        .select(col("doc_id"),
          (floor(sig * 10000) / 10000).as("score"),
          when(sig >= 0.5, 1).otherwise(0).cast(IntegerType).as("keep"),
          col("y").cast(IntegerType).as("label"))
    }
  )
}
