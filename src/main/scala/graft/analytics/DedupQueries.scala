package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.functions.SimilarityFunctions._
import graft.functions.TextFunctions._

/** Deduplication operators for training-data curation: exact
  * (fingerprint hash-groupBy), MinHash+LSH, SimHash with byte blocking,
  * and n-gram Jaccard. The synthetic corpus has no planted duplicates,
  * so each query UNIONs `documents` with deterministically perturbed
  * copies (id + 10000) — the oracle SQL plants the identical copies, so
  * the dup-detection result is fully hash-checked.
  *
  * Scale design (100 TB): signatures are per-row scan-stage expressions
  * — ONE SHA-256 per shingle/token, then arithmetic-only permutations
  * (see [[graft.functions.SimilarityFunctions]] cost notes); the only
  * shuffles are (a) the groupBy / self-join on SMALL keys (fingerprint,
  * band signature, simhash byte) and (b) final ordering. All-pairs
  * comparison never happens — LSH bands and simhash-byte pigeonhole
  * blocking bound candidate sets.
  */
object DedupQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** MinHash params: k=16 hashes in 4 bands × 4 rows. */
  private val K = 16
  private val Bands = 4
  private val RowsPerBand = 4

  // -------------------------------------------------------- corpora
  // Exact-dup corpus: every 10th doc re-appears (id+10000) uppercased
  // and whitespace-padded — invisible to the normalizing fingerprint.
  private[analytics] def exactDupCorpus(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .unionByName(
        docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 10000).as("doc_id"),
            concat(lit(" "), upper(col("text")), lit("  ")).as("text")))

  private[analytics] val exactDupCorpusSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 10000 AS doc_id, ' ' || upper(text) || '  ' AS text
      |FROM documents WHERE doc_id % 10 = 0""".stripMargin

  // Near-dup corpus: every 25th doc re-appears (id+10000) with its last
  // two tokens dropped — high-Jaccard but not identical.
  // coalesce(…, "") makes `text` provably NON-NULLABLE: every signature
  // derived from it is then non-nullable too, so the self-joins on
  // signature keys generate no isnotnull filters — which would
  // otherwise be pushed below the join with the entire SHA+signature
  // pipeline substituted in, doubling per-row work and defeating
  // exchange reuse. (Data has no nulls; this is a nullability proof,
  // not a behavior change — the oracle SQL needs no mirror.)
  /** The near-dup text normalization BOTH signature entry points share.
    * [[signatureTable]] (via [[nearDupCorpus]]) and [[rawSignatures]]
    * must normalize identically or signatures in the incremental
    * bucket table silently stop matching the memoized corpus table —
    * change it here, nowhere else.
    */
  private def normalizedText: Column =
    coalesce(lower(col("text")), lit(""))

  private[graft] def nearDupCorpus(docs: DataFrame): DataFrame = {
    val ts = tokens(lower(col("text")))
    docs.select(col("doc_id"), normalizedText.as("text"))
      .unionByName(
        docs.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 10000).as("doc_id"),
            concat_ws(" ", slice(ts, lit(1), greatest(size(ts) - 2, lit(1))))
              .as("text")))
  }

  private val nearDupCorpusSql =
    """SELECT doc_id, lower(text) AS text FROM documents
      |UNION ALL
      |SELECT doc_id + 10000 AS doc_id,
      |  array_to_string(ts[1:greatest(len(ts) - 2, 1)], ' ') AS text
      |FROM (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ts
      |      FROM documents WHERE doc_id % 25 = 0)""".stripMargin

  /** Substring-span window width (tokens). Lee et al. 2022 use 50-token
    * spans on web corpora; 8 matches this corpus' ~55-token documents
    * (the planted copies are 8–20 tokens). The seed join is on EXACT
    * window fingerprints, so k only sets the minimum detectable span.
    */
  private[analytics] val SpanK = 8

  /** Partial-copy corpus for substring-span dedup: the base synthetic
    * corpus has no cross-document shared 8-grams (~30-word vocab, so a
    * chance 8-gram repeat is ~30⁻⁸ per window pair), so the query plants
    * them. Every 20th doc re-appears (id+10000) with tokens 4..23 of the
    * original embedded between doc-unique marker runs (6 tokens each —
    * shorter than k, so marker runs can never seed a window match), and
    * every 100th doc additionally re-appears (id+20000) carrying TWO
    * disjoint slices (tokens 4..11 and 20..35) — a two-span pair, which
    * also overlaps the id+10000 copy of the same original in exactly the
    * first 8 tokens (one window), exercising copy-vs-copy detection.
    */
  private def spanMarkers(prefix: String, id: Column): Column =
    array_repeat(concat(lit(prefix), id.cast("string")), 6)

  private[analytics] def spanDupCorpus(docs: DataFrame): DataFrame = {
    val ts = tokens(lower(col("text")))
    def copy(pieces: Column*): Column =
      concat_ws(" ", concat(pieces: _*))
    // coalesce each SLICE (not just the base-corpus text below),
    // mirroring the SQL's coalesce placement: on a NULL-text doc the
    // mirror keeps the marker tokens around an empty slice, while a
    // bare slice would nullify the whole concat and concat_ws would
    // collapse the planted copy to '' — a latent oracle divergence
    // (the generator never emits NULL text today, but the two engines
    // must agree by construction, not by data luck)
    def safeSlice(start: Int, len: Int): Column =
      coalesce(slice(ts, start, len), array())
    val one = docs.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 10000).as("doc_id"),
        copy(
          spanMarkers("z", col("doc_id") + 10000),
          safeSlice(4, 20),
          spanMarkers("y", col("doc_id") + 10000)).as("text"))
    val two = docs.filter(col("doc_id") % 100 === 0)
      .select((col("doc_id") + 20000).as("doc_id"),
        copy(
          spanMarkers("u", col("doc_id") + 20000),
          safeSlice(4, 8),
          spanMarkers("v", col("doc_id") + 20000),
          safeSlice(20, 16),
          spanMarkers("w", col("doc_id") + 20000)).as("text"))
    // coalesce: provably NON-NULLABLE text, so no isnotnull(fp)
    // filters are pushed below the span pipeline's self-join — with
    // them the two join sides' subplans differ (the filter lands on
    // one) and ReuseExchange cannot share the explode+SHA exchange
    // (the same nullability proof nearDupCorpus documents)
    docs.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), coalesce(lower(col("text")), lit("")).as("text"))
      .unionByName(one).unionByName(two)
  }

  private def spanMarkersSql(prefix: String, idExpr: String): String =
    s"trim(repeat('$prefix' || CAST($idExpr AS VARCHAR) || ' ', 6))"

  // coalesce: DuckDB's array_to_string([]) is NULL (not ''), which would
  // null the whole concatenation for short originals whose slice clamps
  // to empty — Spark's concat_ws just skips the empty array.
  private[analytics] val spanDupCorpusSql = {
    val ts = "regexp_extract_all(lower(text), '\\S+')"
    s"""SELECT doc_id, lower(text) AS text FROM documents
       |UNION ALL
       |SELECT doc_id + 10000 AS doc_id,
       |  ${spanMarkersSql("z", "doc_id + 10000")} || ' ' ||
       |  coalesce(array_to_string(ts[4:23], ' '), '') || ' ' ||
       |  ${spanMarkersSql("y", "doc_id + 10000")} AS text
       |FROM (SELECT doc_id, $ts AS ts FROM documents WHERE doc_id % 20 = 0)
       |UNION ALL
       |SELECT doc_id + 20000 AS doc_id,
       |  ${spanMarkersSql("u", "doc_id + 20000")} || ' ' ||
       |  coalesce(array_to_string(ts[4:11], ' '), '') || ' ' ||
       |  ${spanMarkersSql("v", "doc_id + 20000")} || ' ' ||
       |  coalesce(array_to_string(ts[20:35], ' '), '') || ' ' ||
       |  ${spanMarkersSql("w", "doc_id + 20000")} AS text
       |FROM (SELECT doc_id, $ts AS ts FROM documents WHERE doc_id % 100 = 0)""".stripMargin
  }

  /** Document-frequency cap for [[all]]'s `q_dedup_spans_df`: window
    * fingerprints seen in more than this many DISTINCT docs are
    * boilerplate (headers, footers, license blocks — the dominant
    * false-span source on web corpora per Lee et al.), not copies,
    * and are dropped before the pair join. This bounds the join's
    * per-fingerprint group size — the Σ|group|² term — by maxDf².
    */
  private[analytics] val SpanMaxDf = 8

  /** [[spanDupCorpus]] plus a planted BOILERPLATE family: every
    * doc_id % 10 == 7 base doc (50 docs at the 500-doc corpus —
    * disjoint from the even-id planted-copy families) gets the same
    * 12-token footer. Its 5 pure-footer windows have df = 50, far
    * over [[SpanMaxDf]]; boundary windows mix doc-specific tokens
    * (small df) and are kept — they bridge footer-family pairs that
    * share a genuine sub-k tail, and match nothing otherwise.
    * Uncapped, the footer alone would emit C(50,2) = 1225 spans; the
    * df-capped query emits none of the zero-shared-suffix ones while
    * keeping every true copy span (planted fps have df ≤ 3).
    */
  private val SpanFooter: String =
    (1 to 12).map(i => s"bq$i").mkString(" ")

  private[analytics] def spanBoilerplateCorpus(docs: DataFrame): DataFrame =
    spanDupCorpus(docs).withColumn("text",
      when(col("doc_id") < 10000 && col("doc_id") % 10 === 7,
        concat(col("text"), lit(s" $SpanFooter")))
        .otherwise(col("text")))

  private[analytics] val spanBoilerplateCorpusSql =
    s"""SELECT doc_id,
       |  CASE WHEN doc_id < 10000 AND doc_id % 10 = 7
       |       THEN text || ' $SpanFooter' ELSE text END AS text
       |FROM ($spanDupCorpusSql)""".stripMargin

  /** DuckDB: distinct 3-gram shingle set of a token list `ts`. */
  private val shingleSetSql =
    """list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
      |               FOR i IN range(1, greatest(len(ts) - 1, 1))])""".stripMargin

  /** DuckDB: hex prefix (length n) of sha256 of each array element. */
  private def shaPrefixListSql(arr: String, n: Int): String =
    s"[substring(sha256(x), 1, $n) FOR x IN $arr]"

  /** DuckDB: hex string (length n) → BIGINT (mirrors Spark's conv). */
  private def hexToLongListSql(arr: String, n: Int): String =
    s"""[list_sum([(strpos('0123456789abcdef', substring(h, p, 1)) - 1)
       |           * CAST(16**($n - p) AS BIGINT) FOR p IN range(1, ${n + 1})])
       | FOR h IN $arr]""".stripMargin

  /** DuckDB: the k universal-hash MinHash mins over a BIGINT list. */
  private def minhashSigSql(hashesCol: String): String =
    (0 until K).map { i =>
      s"list_min([(v * ${minhashA(i)} + ${minhashB(i)}) % $MinhashP FOR v IN $hashesCol])"
    }.mkString("[", ",\n           ", "]")

  /** Exact cross-split contamination, shared by q_contamination (plain
    * equi-join) and q_contamination_bloom (broadcast-Bloom prefilter +
    * exact confirm — same answer, Bloom has no false negatives).
    */
  private val contaminationOracleSql =
    s"""WITH c AS ($exactDupCorpusSql),
       |f AS (
       |  SELECT doc_id,
       |    sha256(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
       |    list_sum([(strpos('0123456789abcdef', substring(h, p, 1)) - 1)
       |              * CAST(16**(7 - p) AS BIGINT) FOR p IN range(1, 8)]) % 100 AS bucket
       |  FROM (SELECT doc_id, text,
       |          substring(sha256(CAST(doc_id AS VARCHAR)), 1, 7) AS h FROM c)),
       |s AS (SELECT doc_id, fp,
       |        CASE WHEN bucket < 80 THEN 'train'
       |             WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
       |      FROM f),
       |tr AS (SELECT fp, min(doc_id) AS train_doc FROM s
       |       WHERE split = 'train' GROUP BY fp)
       |SELECT e.doc_id AS eval_doc, e.split, tr.train_doc, e.fp
       |FROM s e JOIN tr ON e.fp = tr.fp
       |WHERE e.split <> 'train'
       |ORDER BY eval_doc""".stripMargin

  /** Split + fingerprint frame feeding the contamination queries
    * (text carried through for the n-gram variant; Catalyst prunes it
    * where unused).
    */
  private def contaminationSplits(docs: DataFrame): DataFrame = {
    import graft.functions.SimilarityFunctions.elementHash
    exactDupCorpus(docs)
      .select(col("doc_id"), col("text"),
        fingerprint(col("text")).as("fp"),
        (elementHash(col("doc_id").cast(StringType)) % 100).as("bucket"))
      .select(col("doc_id"), col("text"), col("fp"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val").otherwise("test").as("split"))
  }

  /** Phase 1 of the two-phase LSH dedup pipeline: the per-document
    * signature table `(doc_id, shs, sg)` — shingle sets, ONE SHA per
    * shingle, k-permutation MinHash signature. This is the expensive
    * full-corpus pass; at 100 TB it runs ONCE and the result is
    * WRITTEN to storage (parquet), then every downstream consumer
    * (minhash candidates, Jaccard verify, cluster closure, incremental
    * re-runs) reads the table instead of re-hashing the corpus —
    * SignatureMaterializeSpec proves the reload path recomputes no
    * SHA/signature work and yields identical candidates.
    */
  def signatureTable(docs: DataFrame): DataFrame =
    signaturesOf(nearDupCorpus(docs))

  /** Signatures of exactly the given `(doc_id, text)` rows — the
    * INGEST form: row-wise (no planted oracle copies), so a batch's
    * signatures computed alone equal its slice of a full-corpus pass,
    * which is what makes incremental build == one-shot build.
    */
  def rawSignatures(docs: DataFrame): DataFrame =
    signaturesOf(docs.select(col("doc_id"), normalizedText.as("text")))

  private def signaturesOf(corpus: DataFrame): DataFrame = {
    // tokens materialized FIRST: the shingle expression references the
    // array n+1 times, and inlining the tokenizer would re-run the
    // regex per reference (36 regexp evals/row in the naive plan)
    val tok = corpus
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 3)
    val sh = tok.select(col("doc_id"),
      array_distinct(shinglesFromTokens(col("ts"), 3)).as("shs"))
    val hv = sh.select(col("doc_id"), col("shs"),
      transform(col("shs"), elementHash(_)).as("hv"))
    hv.select(col("doc_id"), col("shs"),
      minhashSignatureFromHashes(col("hv"), K).as("sg"))
  }

  /** Band-key explosion of a signature table (Bands rows per doc),
    * carrying only `doc_id`, `sg`, and the requested `carry` columns —
    * a signature table stored WITHOUT the large shingle-set column (the
    * realistic materialized layout; SignatureMaterializeSpec (c) shows
    * shs is never read for sg-only candidates) works as long as no
    * caller asks to carry it.
    */
  private def bandKeys(sig: DataFrame, carry: Seq[String]): DataFrame = {
    val cols = (Seq("doc_id") ++ carry ++ Seq("sg")).distinct.map(col)
    sig.select(cols :+ explode(sequence(lit(0), lit(Bands - 1))).as("b"): _*)
      .withColumn("bsig", bandSignature(col("sg"), col("b"), RowsPerBand))
  }

  /** Phase 2: band keys from a signature table (in-memory or reloaded
    * from parquet) → self-join on (band, band-signature) → distinct
    * candidate pairs carrying `extra` ⊆ {shs, sg} from both sides.
    */
  def candidatePairsFromSignatures(
      sig: DataFrame, extra: Seq[String]): DataFrame = {
    // Pair on BARE ids, attach payloads after the distinct (r17,
    // guide §2.3/§8 "shuffle keys, not payloads"): the previous shape
    // carried the `extra` columns — the shingle-set arrays for every
    // verify consumer — through the 4x band explode, the band
    // self-join AND the distinct, so the candidate exchange shuffled
    // (and the distinct hashed/compared) hundred-element string
    // arrays on both sides. Id-only pairs make the band join + dedup
    // a few bytes per row; the payload columns then attach by doc_id
    // join, functionally dependent on the id, so the result rows are
    // identical. At scale the pair frame is the small side (AQE
    // broadcasts it) and the signature payloads are never exchanged
    // at all.
    val bands = bandKeys(sig, Seq.empty)
    val a = bands.select(col("b"), col("bsig"), col("doc_id").as("doc_id_a"))
    val b = bands.select(col("b").as("b2"), col("bsig").as("bsig2"),
      col("doc_id").as("doc_id_b"))
    val pairs = a.join(b, col("b") === col("b2") &&
        col("bsig") === col("bsig2") && col("doc_id_a") < col("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"))
      .distinct()
    if (extra.isEmpty) pairs
    else {
      val cols = Seq("doc_id") ++ extra
      val sa = sig.select(col("doc_id").as("doc_id_a") +:
        extra.map(c => col(c).as(s"${c}_a")): _*)
      val sb = sig.select(col("doc_id").as("doc_id_b") +:
        extra.map(c => col(c).as(s"${c}_b")): _*)
      pairs.join(sa, Seq("doc_id_a")).join(sb, Seq("doc_id_b"))
        .select(cols.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b"))): _*)
    }
  }

  /** Incremental ingest: candidate pairs between a NEW batch's
    * signatures and the stored corpus signature table — the arriving
    * batch band-joins against the materialized band keys plus
    * self-joins itself; the corpus is never re-self-joined. Pairs are
    * canonicalized (doc_id_a < doc_id_b), so for disjoint id sets
    *   full-corpus candidates = corpus-self ∪ cross-batch ∪ batch-self
    * exactly (SignatureMaterializeSpec proves the identity) — the
    * incremental re-run cost is |batch|·|corpus colliders|, not
    * |corpus|². The join is left to the planner; the maintenance
    * probe ([[batchVerifiedPairsDistributed]]) broadcasts its batch
    * side instead.
    */
  def crossBatchCandidatePairs(
      newSig: DataFrame, corpusSig: DataFrame): DataFrame =
    crossBatchCandidatePairsFrom(bandKeys(newSig, Seq.empty)
      .select(col("b"), col("bsig"), col("doc_id").as("id_n")), corpusSig)

  /** [[crossBatchCandidatePairs]] from an already-shaped batch band-key
    * frame `(b, bsig, id_n)` — split out so the maintenance probe can
    * supply a broadcast batch side.
    */
  private def crossBatchCandidatePairsFrom(
      bn: DataFrame, corpusSig: DataFrame): DataFrame = {
    val bc = bandKeys(corpusSig, Seq.empty)
      .select(col("b").as("b2"), col("bsig").as("bsig2"), col("doc_id").as("id_c"))
    bn.join(bc, col("b") === col("b2") && col("bsig") === col("bsig2") &&
        col("id_n") =!= col("id_c"))
      .select(least(col("id_n"), col("id_c")).as("doc_id_a"),
        greatest(col("id_n"), col("id_c")).as("doc_id_b"))
      .distinct()
  }

  /** One-shot in-memory form (phase 1 + phase 2 with an exchange
    * barrier between them — the repartition stops the optimizer from
    * substituting the signature pipeline into the band projection's
    * multiple references). Retained as the spec-level reference; the
    * catalog queries serve from the MATERIALIZED signature table via
    * [[lshCandidatesServed]].
    */
  private[graft] def lshCandidates(
      docs: DataFrame, extra: Seq[String]): DataFrame =
    candidatePairsFromSignatures(
      signatureTable(docs).repartition(col("doc_id")), extra)

  /** Phase 2 over the ONE materialized signature table per corpus
    * ([[incrementalSignaturesPath]]) — the form every lexical LSH
    * catalog query serves from: no SHA / MinHash / tokenizer work
    * appears in these plans (PlanSpec pins it); the expensive
    * tokenize→shingle→SHA→MinHash corpus pass was paid once at index
    * build time, shared by minhash candidates, Jaccard verify, and the
    * cluster closure alike.
    */
  private[graft] def lshCandidatesServed(
      s: SparkSession, dir: String, extra: Seq[String]): DataFrame =
    candidatePairsFromSignatures(
      storedSignaturesLive(s, incrementalSignaturesPath(s, dir)), extra)

  // ------------------------------------------------------------------
  // Incremental signature table — the lexical mirror of the stored ANN
  // codes index: a durable hive-bucketed table that streaming document
  // batches append into exactly once, with small-file compaction.
  // ------------------------------------------------------------------

  /** Bucket count for the incremental table. Buckets are a doc_id hash
    * (not a band key — a doc's signature lives in ONE bucket, appends
    * touch only the buckets a batch hashes into, and compaction
    * rewrites only fragmented buckets, O(fragmented), not O(table)).
    * 16 keeps per-bucket files big at test scale; a 100 TB deployment
    * raises it so bucket ≈ file-group size, the same sizing knob as the
    * codes table's cell count.
    */
  val SignatureBuckets = 16

  /** Resolved doc-hash bucket count: the `graft.dedup.buckets` session
    * conf when set, else [[SignatureBuckets]]. This is THE
    * partition-pruning granularity knob for the incremental tables —
    * per-trigger stored-table reads prune to the ≤|batch| buckets the
    * batch's ids hash into, so pruning only engages when the bucket
    * count exceeds typical batch cardinality (at the 16 default, any
    * batch of ≳16 ids touches every bucket and the "pruned" read is a
    * full single-pass scan). A deployment sizes it at TABLE BIRTH
    * (like Upsert's `_graft_buckets` pin) and never changes it for a
    * live table: the bucket of an id is a function of the count, so
    * mixing counts across a table's lifetime mis-prunes. Engagement is
    * measured: `read_files`/`index_files` at 256 buckets vs 16
    * (SCALING.md round 9, "Bucket-count engagement").
    */
  def signatureBuckets(s: SparkSession): Int =
    s.conf.get("graft.dedup.buckets", SignatureBuckets.toString).toInt

  /** The bucket count BAKED INTO a stored incremental table's rows —
    * the `_graft_layout` pin written at the table's first append, else
    * the session's [[signatureBuckets]] for a table born this session.
    * The pin closes the silent mis-prune window: bucket-of-id is a
    * function of the count, so pruning a table born at one count with
    * another silently drops matching rows. An EXPLICITLY-set session
    * conf that contradicts an existing pin fails loudly (a deployment
    * cannot re-bucket a live table by flipping the knob); an unset conf
    * defers to the pin, so reopening a 256-bucket table from a fresh
    * session needs no conf plumbing.
    */
  private[graft] def tableBuckets(s: SparkSession, dir: String): Int = {
    val pinned = graft.sinks.IncrementalParquet.readLayout(s, dir)
      .get("buckets").map(_.toInt)
    val conf = s.conf.getOption("graft.dedup.buckets").map(_.toInt)
    (pinned, conf) match {
      case (Some(p), Some(c)) if p != c =>
        throw new IllegalStateException(
          s"$dir was created with buckets=$p but graft.dedup.buckets=$c " +
            "— the bucket count is baked into the stored rows and cannot " +
            "change over a live table (rebuild it instead)")
      case (Some(p), _) => p
      case (None, _) => signatureBuckets(s)
    }
  }

  /** [[rawSignatures]] + the bucket column, the incremental table's
    * on-disk schema: (doc_id, shs, sg, bkt) partitioned by bkt.
    */
  def bucketedSignatures(docs: DataFrame): DataFrame =
    bucketedSignatures(docs, signatureBuckets(docs.sparkSession))

  private def bucketedSignatures(docs: DataFrame, n: Int): DataFrame =
    rawSignatures(docs).withColumn("bkt", pmod(hash(col("doc_id")), lit(n)))

  /** Exactly-once per-batch append into the incremental signature
    * table — protocol (ack markers, batch-scoped deterministic names,
    * replay overwrite) in [[graft.sinks.IncrementalParquet]]; this
    * contributes only the domain half: signature the batch's rows
    * (one scan-stage pass over the batch alone) partitioned by bucket.
    * Files are sort-clustered by doc_id (the shingle fetch's probe
    * key) and the bucket count is pinned at table birth.
    */
  def appendToSignaturesIdempotent(
      batch: DataFrame, sigDir: String, batchId: Long): Unit = {
    val n = tableBuckets(batch.sparkSession, sigDir)
    graft.sinks.IncrementalParquet.appendIdempotent(
      batch.sparkSession, sigDir, "bkt", batchId, Seq("doc_id"),
      Map("buckets" -> n.toString))(bucketedSignatures(batch, n))
  }

  /** Compact fragmented buckets of any `bkt`-partitioned incremental
    * table (signatures or sign buckets) to one file each —
    * [[graft.sinks.IncrementalParquet.compact]] carries the protocol.
    * Returns the number of buckets compacted.
    */
  def compactSignatures(
      spark: SparkSession, sigDir: String, maxFilesPerBucket: Int = 1): Int =
    graft.sinks.IncrementalParquet.compact(
      spark, sigDir, "bkt", maxFilesPerBucket)(s => Int.box(s.toInt))

  /** Minor (size-tiered) compaction of a `bkt`-partitioned incremental
    * table — absorbs only per-batch files (plus the smallest base
    * files when the tier count overflows), so in-loop cadence firings
    * cost O(absorbed bytes), never O(table). Protocol and crash
    * analysis at [[graft.sinks.IncrementalParquet.compactMinor]];
    * [[compactSignatures]] remains the explicit full rewrite.
    */
  def compactSignaturesMinor(spark: SparkSession, sigDir: String): Int =
    graft.sinks.IncrementalParquet.compactMinor(spark, sigDir, "bkt")

  /** Exactly-once TAKEDOWN of a batch of document ids from a stored
    * signature table (lexical MinHash or embedding sign-buckets — the
    * protocol never looks at the signature bytes): the ids land as
    * tombstones on the table's `_tombstones` sibling (own ack
    * namespace — a replayed delete batch is a no-op forever) and every
    * serve filters them from the moment the batch acks
    * ([[storedSignaturesLive]]): the doc stops pairing, so it leaves
    * every candidate pair, every verified near-dup edge and every
    * cluster derived from the table — INCLUDING re-splitting a cluster
    * it alone bridged, because cluster labels are derived from the
    * surviving edges at serve time, not stored. O(batch), no table
    * rewrite; [[purgeSignaturesTombstones]] is the physical removal.
    */
  def deleteFromSignaturesIdempotent(
      docIds: DataFrame, sigDir: String, batchId: Long): Unit =
    graft.sinks.IncrementalParquet.appendTombstonesIdempotent(
      docIds.sparkSession, sigDir, "doc_id", batchId)(docIds)

  /** Physical purge of tombstoned docs from a stored signature table —
    * O(touched buckets), never O(table): a doc's signature lives in
    * exactly ONE doc-hash bucket, so a takedown batch rewrites
    * ≤ |batch| buckets. Returns buckets rewritten.
    */
  def purgeSignaturesTombstones(s: SparkSession, sigDir: String): Int =
    graft.sinks.IncrementalParquet.purgeTombstoned(
      s, sigDir, "bkt", "doc_id")(v => Int.box(v.toInt))

  /** Read a stored signature table for SERVING with the deletion
    * lifecycle applied: tombstoned docs stop pairing the moment their
    * delete batch acks. Identity — no plan change — for a
    * never-deleted table, so the LSH plan pins hold unchanged.
    */
  private[analytics] def storedSignaturesLive(
      s: SparkSession, sigDir: String): DataFrame =
    graft.sinks.IncrementalParquet.applyTombstones(s, sigDir, "doc_id")(
      Tables.parquetCachedSchema(s, sigDir))

  /** Candidate pairs served from the incremental table on disk: the
    * stored signatures band-join themselves (plus optionally a new
    * unstored batch via [[crossBatchCandidatePairs]]); no tokenizer /
    * SHA / MinHash work for stored docs.
    */
  def candidatePairsFromStored(
      s: SparkSession, sigDir: String, extra: Seq[String] = Seq.empty): DataFrame =
    candidatePairsFromSignatures(storedSignaturesLive(s, sigDir), extra)

  /** The doc-hash buckets a set of ids hashes into — derivable from the
    * ids ALONE (the point of bucketing by id hash, not band key), so
    * per-batch reads of a `bkt=`-partitioned table can partition-prune
    * to only the buckets a batch or its candidates touch. The collect
    * is metadata-sized by construction: ≤ [[SignatureBuckets]] ints.
    */
  private def bucketsOf(ids: DataFrame, idCol: String, n: Int): Seq[Integer] =
    ids.select(pmod(hash(col(idCol)), lit(n)).as("bkt"))
      .distinct().collect().map(r => Int.box(r.getInt(0))).toSeq

  /** Driver-side evaluation of `pmod(hash(id), n)` — the hash bucket of
    * an id WITHOUT a Spark job, for probe key sets already collected to
    * the driver. Must agree with the column form exactly (a divergent
    * bucket silently prunes matching rows away), so it evaluates the
    * SAME Catalyst expression the column plan compiles
    * (`Murmur3Hash(seed = 42)`, what `functions.hash` resolves to);
    * LayoutPinSpec pins the equality over random ids.
    */
  private[graft] def hashBucketLocal(id: Long, n: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    math.floorMod(
      Murmur3Hash(Seq(Literal(id)), 42).eval(null).asInstanceOf[Int], n)
  }

  /** Max probe-key values pushed into a parquet scan as an `In`
    * predicate. See [[keyPruned]] for the (512, 4096] band rationale.
    */
  private val ProbeKeyCap = 4096

  /** Collect a batch-bounded frame once: the driver copy becomes a
    * LocalRelation (a Project over it evaluates in the optimizer, with
    * no job) and its rows feed probe-key derivation without further
    * Spark jobs. `None` when the frame exceeds `cap` — callers fall back to
    * their distributed shape, re-evaluating the frame's lineage once
    * (streaming batches stay under the cap, so the over-cap arm is the
    * backfill shape, not the hot path).
    */
  private def collectLocal(df: DataFrame, cap: Int):
      Option[(Array[org.apache.spark.sql.Row], DataFrame)] = {
    // a FULL collect, cap checked after — not limit(cap+1): Spark runs
    // a limit-collect as an escalating WAVE of jobs (1, 4, 16…
    // partitions), which at trigger cadence turned each collect into
    // ~4 sequential jobs scanning in ramps (measured 4× wall on the
    // vector fetch). The full collect is one all-partition job; the
    // over-cap arm briefly holds the big array on the driver, the same
    // size class as the broadcast the caller would otherwise build
    // from the exact same frame.
    // Misuse bound: when the optimizer can already prove the frame
    // exceeds the cap (a LIMIT/local-relation lineage), skip the
    // collect without a job. A backfill-sized frame the planner CANNOT
    // bound (parquet-scan lineage) still pays the full collect before
    // the over-cap check — `spark.driver.maxResultSize` is the
    // explicit backstop there (the collect fails loudly, same failure
    // class as the broadcast the caller would build from the same
    // frame).
    if (df.queryExecution.optimizedPlan.maxRows.exists(_ > cap)) return None
    val rows = df.collect()
    if (rows.length > cap) None
    else {
      import scala.jdk.CollectionConverters._
      Some((rows, df.sparkSession.createDataFrame(
        rows.toSeq.asJava, df.schema)))
    }
  }

  // Probe key sets, candidate ids and their hash buckets all derive
  // driver-side from the [[collectLocal]] copies now (round 11) — the
  // separate probeKeys/probeIdKeys collect jobs this section used to
  // hold are gone. [[ProbeKeyCap]] (4096) deliberately EXCEEDS the
  // session's parquet `In` pushdown threshold (512, `GraftSession` —
  // higher overflows parquet's recursive OR-tree evaluation, measured
  // at 4000): key sets in (512, 4096] push down only as a min/max
  // range, trading row-group skip quality for still avoiding the
  // broadcast-semi fallback's build + exchange — the collected
  // `isInCollection` predicate stays EXACT post-scan either way, and
  // on sort-clustered files even the collapsed range skips groups
  // outside [min(keys), max(keys)]. Results are identical across the
  // whole band; only skip granularity degrades, and only there.

  /** `base` filtered to rows whose `keyCol` is in the collected key
    * set — an EXACT pushed-down predicate (parquet page/row-group
    * min/max skipping engages on sort-clustered files; see the
    * `_graft_layout` sort pin) with a join fallback when the key set
    * is over-cap or the caller declined driver collection.
    */
  private def keyPruned(
      base: DataFrame, keyCol: String, keys: Option[Seq[Any]])(
      fallback: DataFrame => DataFrame): DataFrame = keys match {
    case Some(ks) if ks.isEmpty => base.filter(lit(false))
    case Some(ks) => base.filter(col(keyCol).isInCollection(ks))
    case None => fallback(base)
  }

  /** Jaccard-verified near-dup pairs TOUCHING a batch, served from the
    * stored signature table — the per-trigger pair stage of continuous
    * dedup maintenance. Call AFTER the batch's signatures are appended:
    * the batch band-joins the stored table (batch-self pairs included,
    * since the stored side contains the batch), which costs
    * |batch| × colliders, never corpus² — the corpus is not
    * re-self-joined, and pairs among pre-existing docs (already folded
    * into the labels table by earlier triggers) are not re-derived.
    *
    * When every batch-bounded frame fits [[Tables.driverRowCap]]
    * (streaming cadence) the pairs derive on the driver
    * ([[batchVerifiedPairsLocal]]); over the cap the distributed shape
    * runs ([[batchVerifiedPairsDistributed]]). Both return the same
    * rows.
    */
  def batchVerifiedPairs(
      s: SparkSession, sigDir: String, batch: DataFrame,
      threshold: Double = 0.5): DataFrame =
    batchVerifiedPairsLocal(s, sigDir, batch, threshold)
      .getOrElse(batchVerifiedPairsDistributed(s, sigDir, batch, threshold))

  /** The streaming-cadence arm of [[batchVerifiedPairs]]: three Spark
    * jobs, each a scan, with every batch-sized step between them on
    * driver rows.
    *  1. The batch's signature rows are COMPUTED in hand (one O(batch)
    *     kernel pass inside the collect), not fetched back: they are a
    *     pure function of the batch, bit-identical to what its append
    *     writes. Their band keys are one Project over the local rows.
    *  2. The stored band keys colliding with the batch's (an exact `In`
    *     on the band signatures, evaluated in the scan stage; `shs`
    *     never crosses the reader) come back in one collect; the band
    *     join, the batch-self pairs and the pair dedup run on the
    *     driver. A broadcast join would add a build job and its
    *     distinct an exchange.
    *  3. The shingle sets of the stored candidates come back in one
    *     fetch, pruned to the buckets the candidate ids hash into and
    *     to the ids themselves (an `In` pushed into the sort-clustered
    *     scan); the verify then runs on the driver ([[verifyLocal]]).
    *
    * The stored side is read WITHOUT the batch's own ids, and the
    * batch's rows join it from hand: "stored − batch ∪ in hand" is the
    * same set whether or not the batch's append has landed, so this
    * arm may run beside that append
    * ([[graft.streaming.StreamingPipeline.maintainClusters]]). The
    * stored table is opened with the batch's known schema (no
    * inference job over a table an append may be writing), and a file
    * deleted under the reader — only a replay clearing this batch's
    * crashed install deletes table files — holds only batch rows,
    * which the filter drops anyway, so missing files are skipped. The
    * caller must have healed compaction crash state first
    * ([[graft.sinks.IncrementalParquet.recover]]).
    *
    * None when a batch-bounded frame exceeds [[Tables.driverRowCap]].
    */
  private[graft] def batchVerifiedPairsLocal(
      s: SparkSession, sigDir: String, batch: DataFrame,
      threshold: Double): Option[DataFrame] = {
    val nBuckets = tableBuckets(s, sigDir)
    val cap = Tables.driverRowCap(s)
    // wide rows (shingle sets): the tighter cap the fetch uses too
    val wideCap = math.min(cap, 1 << 16)
    collectLocal(rawSignatures(batch), wideCap).flatMap { case (mine, mineDf) =>
      val ids = mine.map(_.getLong(0)).distinct
      val bn: Array[(Int, String, Long)] = mineDf
        .select(col("doc_id") +: (0 until Bands).map(b =>
          bandSignature(col("sg"), lit(b), RowsPerBand)): _*)
        .collect()
        .flatMap(r => (0 until Bands).map(b => (b, r.getString(b + 1), r.getLong(0))))
      val others = graft.sinks.IncrementalParquet.applyTombstones(s, sigDir, "doc_id")(
        s.read.schema(mineDf.schema.add("bkt", IntegerType))
          .option("ignoreMissingFiles", "true").parquet(sigDir))
        .filter(!col("doc_id").isInCollection(ids))
      val colliders = bandKeys(others, Seq.empty)
        .filter(col("bsig").isInCollection(bn.map(_._2).distinct))
        .select(col("b"), col("bsig"), col("doc_id"))
      collectLocal(colliders, cap).flatMap { case (cs, _) =>
        val pairs = bandJoin(bn,
          cs.map(r => (r.getInt(0), r.getString(1), r.getLong(2))) ++ bn)
        val mineSet = ids.toSet
        val candIds = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct
          .filterNot(mineSet)
        val fetchPlan = keyPruned(
          others.filter(col("bkt").isin(
            candIds.map(id => Int.box(hashBucketLocal(id, nBuckets))).distinct.toSeq: _*)),
          "doc_id", Some(candIds.toSeq.map(Long.box): Seq[Any])
            .filter(_.size <= ProbeKeyCap)) {
            import s.implicits._
            _.join(broadcast(candIds.toSeq.toDF("doc_id")), Seq("doc_id"), "left_semi")
          }
          .select(col("doc_id"), col("shs"))
        collectLocal(fetchPlan, wideCap).map { case (fetched, _) =>
          verifyLocal(s, pairs,
            fetched ++ mine.map(r => org.apache.spark.sql.Row(r.getLong(0), r.get(1))),
            mineDf.schema("shs"), threshold)
        }
      }
    }
  }

  /** The band join of [[crossBatchCandidatePairsFrom]] over driver
    * rows `(b, bsig, doc_id)`: every batch key pairs with every
    * colliding key of another doc, canonicalized `(a < b)` and
    * deduplicated.
    */
  private def bandJoin(
      batch: Array[(Int, String, Long)],
      colliders: Array[(Int, String, Long)]): Array[(Long, Long)] = {
    val byKey = batch.groupBy(k => (k._1, k._2))
    colliders.iterator.flatMap { case (b, bsig, idC) =>
      byKey.getOrElse((b, bsig), Array.empty[(Int, String, Long)]).iterator
        .collect { case (_, _, idN) if idN != idC =>
          (math.min(idN, idC), math.max(idN, idC)) }
    }.distinct.toArray
  }

  /** The distributed arm of [[batchVerifiedPairs]] (backfill-sized
    * batches: frames over [[Tables.driverRowCap]]).
    * Per-trigger stored-table IO (the maintenance-series axis — at
    * 1000:1 corpus:batch ratios the stored-table SCANS are what
    * dominate a trigger):
    *  - the batch's signature rows are computed, not fetched back (see
    *    [[batchVerifiedPairsLocal]]), and only their band keys drive
    *    the candidate probe as the broadcast side, so the stored table
    *    is scanned, never exchanged — per-batch corpus SHUFFLES, not
    *    scans, are what accumulate as the corpus grows (SCALING.md
    *    "Backfill path": against the shuffled shape, the same labels
    *    with 182 vs 469 MB of shuffle on a 160k-doc batch);
    *  - the candidate probe reads only (doc_id, sg) of the stored
    *    table (columnar pruning; `shs` never crosses the reader);
    *  - shingle sets for the verify are fetched ONCE (not once per
    *    pair side), pruned to the buckets the candidate ids hash into,
    *    and the batch-bounded fetch is joined to both pair sides from
    *    its materialized copy — the stored `shs` column is scanned at
    *    most once per trigger, and only in candidate-touching buckets.
    */
  private[graft] def batchVerifiedPairsDistributed(
      s: SparkSession, sigDir: String, batch: DataFrame,
      threshold: Double): DataFrame = {
    val stored = storedSignaturesLive(s, sigDir)
    val nBuckets = tableBuckets(s, sigDir)
    val bn = broadcast(bandKeys(bucketedSignatures(batch, nBuckets), Seq.empty)
      .select(col("b"), col("bsig"), col("doc_id").as("id_n")))
    // the batch-bounded pair list feeds the candidate-id derivation AND
    // the verify joins — one probe evaluation
    val pairs = crossBatchCandidatePairsFrom(bn, stored).localCheckpoint()
    val candIds = pairs.select(col("doc_id_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_id_b").as("doc_id")))
      .distinct()
    // ONE bucket-pruned shingle fetch (batch-bounded result),
    // materialized so joining it to both pair sides cannot re-scan the
    // stored table per side
    val fetched = stored
      .filter(col("bkt").isin(bucketsOf(candIds, "doc_id", nBuckets): _*))
      .join(broadcast(candIds), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("shs"))
      .localCheckpoint()
    pairs
      .join(fetched.select(col("doc_id").as("doc_id_a"),
        col("shs").as("shs_a")), "doc_id_a")
      .join(fetched.select(col("doc_id").as("doc_id_b"),
        col("shs").as("shs_b")), "doc_id_b")
      .withColumn("jac", jaccard(col("shs_a"), col("shs_b")))
      .filter(col("jac") >= threshold)
      .select(col("doc_id_a"), col("doc_id_b"))
  }

  /** The Jaccard verify of [[batchVerifiedPairsLocal]] over driver-held
    * pairs and shingle sets, with no Spark job: the two pair ⋈ shingle
    * joins run on the driver (inner-join semantics, duplicates
    * included), and the SAME [[jaccard]] Catalyst expression scores
    * each joined pair over a LocalRelation — the optimizer's
    * `ConvertToLocalRelation` evaluates a Project over a LocalRelation
    * in place, interpreted. The threshold test is part of that
    * projection, so Spark's comparison semantics (NULL, NaN) decide
    * which pairs survive, exactly as in the distributed filter. The
    * surviving edges return as a LocalRelation, which the fold reads
    * without a job ([[graft.operators.ConnectedComponents
    * .incrementalDelta]]).
    */
  private def verifyLocal(
      s: SparkSession,
      pairs: Array[(Long, Long)],
      shs: Array[org.apache.spark.sql.Row],
      shsField: StructField,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.Row
    val byId: Map[Long, Seq[Any]] =
      shs.toSeq.groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.get(1)) }
    val joined: Seq[Row] = for {
      (a, b) <- pairs.toSeq
      sa <- byId.getOrElse(a, Nil)
      sb <- byId.getOrElse(b, Nil)
    } yield Row(a, b, sa, sb)
    val schema = new StructType()
      .add("doc_id_a", LongType, nullable = false)
      .add("doc_id_b", LongType, nullable = false)
      .add(shsField.copy(name = "shs_a"))
      .add(shsField.copy(name = "shs_b"))
    import scala.jdk.CollectionConverters._
    val kept = s.createDataFrame(joined.asJava, schema)
      .select(col("doc_id_a"), col("doc_id_b"),
        (jaccard(col("shs_a"), col("shs_b")) >= threshold).as("keep"))
      .collect()
      .collect { case r if !r.isNullAt(2) && r.getBoolean(2) =>
        (r.getLong(0), r.getLong(1)) }
    import s.implicits._
    kept.toSeq.toDF("doc_id_a", "doc_id_b")
  }

  /** THE labels table maintained by driving the full STREAMING
    * maintenance loop ([[graft.streaming.StreamingPipeline
    * .maintainClusters]]) over batched document arrivals — the
    * lifecycle behind `q_dedup_clusters_maintained`, covering
    * append → batch-pair probe → persisted delta → partitioned label
    * upsert → mid-stream compaction under the driver's hash gate the
    * way `q_ann_codes_served` covers the codes table. The corpus
    * arrives as four deterministic, arrival-agnostic batches
    * (`pmod(doc_id, 4)`), so later batches MERGE clusters discovered by
    * earlier ones; compaction fires between batches to put the
    * compact-mid-stream path under the gate too. Returns the labels
    * TABLE directory (managed by the partitioned upsert).
    */
  private val storedMaintainedLabels =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def maintainedLabelsPath(
      s: SparkSession, dir: String): String =
    graft.core.Tables.memoizedParquet(storedMaintainedLabels,
      Tables.derivedStateKey(s, dir, "documents") + "|maint",
      "graft-labels-maint") { out =>
      val sig = s"$out/sig"
      val labels = s"$out/labels"
      val corpus = nearDupCorpus(t(s, dir, "documents"))
      for (b <- 0 until 4) {
        val batch = corpus.filter(pmod(col("doc_id"), lit(4)) === b)
        graft.streaming.StreamingPipeline.maintainClusters(
          s, sig, labels, batch, b.toLong)
        // both compaction kinds fire mid-stream so the serve-after-
        // compact path of EACH is under the driver's hash gate: the
        // full rewrite after batch 1, the minor (size-tiered,
        // marker-committed) absorption after batch 2
        if (b == 1) compactSignatures(s, sig)
        if (b == 2) compactSignaturesMinor(s, sig)
      }
    } + "/labels"

  /** The embedding mirror of [[maintainedLabelsPath]] — the semantic
    * labels table built by driving [[graft.streaming.StreamingPipeline
    * .maintainEmbedClusters]] over four batched vector arrivals
    * (per batch: land the vectors as the stream source would, append
    * sign buckets exactly-once, probe batch-touching cosine-verified
    * pairs from the stored table, persisted-delta label fold; both
    * compaction kinds fire mid-stream). Catalog defaults (threshold
    * 0.4, 4×8 bands) so the serve sits under the same DuckDB arms as
    * `q_dedup_embed_clusters`.
    */
  private val storedMaintainedEmbedLabels =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def maintainedEmbedLabelsPath(
      s: SparkSession, dir: String): String =
    graft.core.Tables.memoizedParquet(storedMaintainedEmbedLabels,
      Tables.derivedStateKey(s, dir, "embeddings") + "|maint",
      "graft-elabels-maint") { out =>
      val idx = s"$out/sb"
      val labels = s"$out/labels"
      val vecsDir = s"$out/vecs" // loop-owned bucketed vector table
      val corpus = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      for (b <- 0 until 4) {
        val batch = corpus.filter(pmod(col("vec_id"), lit(4)) === b)
        graft.streaming.StreamingPipeline.maintainEmbedClusters(
          s, idx, labels, vecsDir, batch, b.toLong)
        if (b == 1) { compactSignatures(s, idx); compactSignatures(s, vecsDir) }
        if (b == 2) {
          compactSignaturesMinor(s, idx); compactSignaturesMinor(s, vecsDir)
        }
      }
    } + "/labels"

  /** THE materialized signature table per corpus, memoized and built
    * through the incremental lifecycle (the lexical mirror of
    * [[SimilarityQueries.incrementalCodesPath]] — shared shape in
    * [[graft.sinks.IncrementalParquet.buildViaLifecycle]]): build from
    * the even-doc_id half, append the odd half as an arriving batch,
    * compact the fragmented buckets. Row-identical to a one-shot
    * [[signatureTable]] pass, so the driver's hash gates on every
    * consumer (minhash, jaccard, clusters) check the whole lexical
    * index lifecycle end-to-end. The key folds in the documents
    * table's content fingerprint, so an in-session corpus mutation
    * rebuilds instead of serving stale signatures.
    */
  private val storedIncSignatures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def incrementalSignaturesPath(
      s: SparkSession, dir: String): String =
    graft.sinks.IncrementalParquet.buildViaLifecycle(storedIncSignatures,
      Tables.derivedStateKey(s, dir, "documents") + "|inc", "graft-sig-inc",
      nearDupCorpus(t(s, dir, "documents")), "doc_id", "bkt")(
      bucketedSignatures)

  private val storedIncSignaturesDeleted =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The DELETION-lifecycle signature table: the standard incremental
    * build, then the takedown protocol end to end (ids ≡ 3 mod 14
    * physically purged, ≡ 10 mod 14 tombstone-served, a replayed
    * delete batch pinned as a no-op —
    * [[graft.sinks.IncrementalParquet.buildViaDeleteLifecycle]]).
    * q_dedup_clusters_deleted serves the whole LSH → verify → closure
    * chain from it, so its one oracle hash pins both removal
    * mechanisms — including the cluster RE-SPLIT a deleted bridge doc
    * forces, the part no incremental label fold can express — against
    * the full recompute over the surviving corpus.
    */
  private[graft] def incrementalSignaturesDeletedPath(
      s: SparkSession, dir: String): String =
    graft.sinks.IncrementalParquet.buildViaDeleteLifecycle(
      storedIncSignaturesDeleted,
      Tables.derivedStateKey(s, dir, "documents") + "|inc-del",
      "graft-sig-del",
      nearDupCorpus(t(s, dir, "documents")), "doc_id", "bkt")(
      bucketedSignatures)

  /** DuckDB mirror of [[lshCandidates]] through the `pair` CTE.
    * `recursive = true` emits `WITH RECURSIVE` so callers can append a
    * recursive CTE (DuckDB requires the keyword on the WITH clause even
    * when only a later CTE recurses).
    */
  private def lshCandidatesSql(
      extraA: String, extraB: String, recursive: Boolean = false): String =
    s"""WITH ${if (recursive) "RECURSIVE " else ""}c AS ($nearDupCorpusSql),
       |sh AS (SELECT doc_id, $shingleSetSql AS shs
       |       FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS ts FROM c)
       |       WHERE len(ts) >= 3),
       |h7 AS (SELECT doc_id, shs, ${shaPrefixListSql("shs", 7)} AS hp FROM sh),
       |hv AS (SELECT doc_id, shs, ${hexToLongListSql("hp", 7)} AS hv FROM h7),
       |sig AS (SELECT doc_id, shs, ${minhashSigSql("hv")} AS sg FROM hv),
       |band AS (SELECT doc_id, shs, sg, b,
       |           sg[$RowsPerBand*b+1]::VARCHAR || '|' || sg[$RowsPerBand*b+2]::VARCHAR || '|' ||
       |           sg[$RowsPerBand*b+3]::VARCHAR || '|' || sg[$RowsPerBand*b+4]::VARCHAR AS bsig
       |         FROM sig, (SELECT unnest(range(0, $Bands)) AS b)),
       |pair AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |                a.$extraA AS ea, b.$extraB AS eb
       |         FROM band a JOIN band b
       |           ON a.b = b.b AND a.bsig = b.bsig AND a.doc_id < b.doc_id)""".stripMargin

  /** The cluster-closure oracle text shared by q_dedup_clusters and
    * q_dedup_clusters_deleted — `candFilter` injects the deletion
    * gate's survivor predicate at the verified-edge stage, exactly
    * where the served tombstone anti-join removes a deleted doc's
    * pairs (filtering per-doc pairs commutes with filtering the
    * signature rows: banding is per-doc, with no cross-doc state).
    */
  private def clustersClosureSql(candFilter: String = ""): String =
    s"""${lshCandidatesSql("shs", "shs", recursive = true)},
       |j AS (SELECT doc_a, doc_b FROM (
       |        SELECT doc_a, doc_b,
       |          CAST(len(list_intersect(ea, eb)) AS DOUBLE)
       |            / (len(ea) + len(eb) - len(list_intersect(ea, eb))) AS jac
       |        FROM pair)
       |      WHERE jac >= 0.5$candFilter),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM j
       |          UNION SELECT doc_b, doc_a FROM j),
       |reach AS (
       |  SELECT u AS node, u AS lab FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.v AS node, r.lab FROM reach r JOIN edges e ON e.u = r.node),
       |cl AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node)
       |SELECT doc_id, cluster_id,
       |  CAST(count(*) OVER (PARTITION BY cluster_id) AS INTEGER) AS csize
       |FROM cl ORDER BY doc_id""".stripMargin

  /** The verified-pair closure served from an EXPLICIT stored
    * signature table (tombstone-filtered) — the shared Spark body of
    * q_dedup_clusters and q_dedup_clusters_deleted.
    */
  private def clustersFromSignatureTable(
      s: SparkSession, sigDir: String): DataFrame = {
    val pairs = candidatePairsFromSignatures(
      storedSignaturesLive(s, sigDir), Seq("shs"))
      .withColumn("jac", jaccard(col("shs_a"), col("shs_b")))
      .filter(col("jac") >= 0.5)
      .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"))
    graft.operators.ConnectedComponents.runAdaptive(pairs, "doc_a", "doc_b")._1
      .select(col("id").as("doc_id"), col("component").as("cluster_id"))
      .withColumn("csize",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster_id"))).cast(IntegerType))
      .orderBy(col("doc_id"))
  }

  /** Embedding near-dup pairs via banded DENSE sign-hyperplane blocking
    * + exact cosine verify, over a (vec_id, embedding) frame. Public so
    * DedupSemanticsSpec can measure recall on a planted-dup corpus
    * against the all-pairs exact form, and so callers can sweep
    * (bands, bits) (SCALING.md round 2) — the 100 TB tuning knob:
    * collision noise is bands · n²/2^bits, recall
    * 1 − (1 − p_bit^bits)^bands.
    */
  def embedNearDupPairs(
      e0: DataFrame,
      threshold: Double,
      bands: Int = 4,
      bits: Int = 8,
      dim: Int = 64): DataFrame = {
    val e = e0
      .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
      .repartition(col("vec_id")) // barrier: norms/buckets computed once
    val banded = e.select(col("vec_id"), col("embedding"), col("nrm"),
      posexplode(denseSignBuckets(col("embedding"), bands, bits, dim))
        .as(Seq("band", "bucket")))
    val a = banded.select(col("band"), col("bucket"),
      col("vec_id").as("id_a"), col("embedding").as("va"), col("nrm").as("na"))
    val b = banded.select(col("band").as("band2"), col("bucket").as("bucket2"),
      col("vec_id").as("id_b"), col("embedding").as("vb"), col("nrm").as("nb"))
    // At true 100 TB scale the distinct would run on bare (id_a, id_b)
    // with a post-join vector fetch; carrying the vectors through is
    // one fewer shuffle at sf scales and identical semantics.
    a.join(b, col("band") === col("band2") && col("bucket") === col("bucket2") &&
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("va"), col("na"), col("vb"), col("nb"))
      .distinct()
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cosine"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The embedding analog of [[signatureTable]]: the per-vector
    * (vec_id, nrm, band, bucket) sign-LSH index — ONE corpus scan
    * computing norms and all band buckets via the codegen'd
    * [[graft.functions.SimilarityFunctions.denseSignBuckets]] kernel,
    * exploded to a row per (vector, band). At 100 TB this is written
    * once and every semantic-dedup consumer band-joins against it.
    */
  def signBucketTable(
      e0: DataFrame, bands: Int = 4, bits: Int = 8, dim: Int = 64): DataFrame =
    e0.select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
      .select(col("vec_id"), col("nrm"),
        posexplode(denseSignBuckets(col("embedding"), bands, bits, dim))
          .as(Seq("band", "bucket")))

  /** Verified near-dup pairs SERVED from a materialized sign-bucket
    * table: candidates are a self-join of the (small) bucket index —
    * no SignBuckets kernel, no norm recompute — and the exact-cosine
    * verify fetches raw vectors only for the candidate pairs (the true
    * 100 TB shape: the distinct runs on bare ids + norms, then a
    * post-blocking vector fetch). Row-identical to
    * [[embedNearDupPairs]]: same candidates, same pinned-fold cosine.
    */
  def embedPairsFromBuckets(
      buckets: DataFrame, e: DataFrame, threshold: Double): DataFrame = {
    val a = buckets.select(col("band"), col("bucket"),
      col("vec_id").as("id_a"), col("nrm").as("na"))
    val b = buckets.select(col("band").as("band2"), col("bucket").as("bucket2"),
      col("vec_id").as("id_b"), col("nrm").as("nb"))
    val cand = a.join(b,
        col("band") === col("band2") && col("bucket") === col("bucket2") &&
          col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("na"), col("nb"))
      .distinct()
    val va = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val vb = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    cand.join(va, "id_a").join(vb, "id_b")
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cosine"))
      // deliberately UNSORTED: the cluster-closure consumer feeds these
      // pairs straight into ConnectedComponents (which repartitions),
      // so a global sort here would be a wasted exchange; q_dedup_embed
      // adds its own ORDER BY at the catalog boundary
  }

  private[graft] def embedPairsServed(
      s: SparkSession, dir: String, threshold: Double): DataFrame =
    embedPairsFromBucketsTable(
      s, incrementalSignBucketsPath(s, dir), t(s, dir, "embeddings"),
      threshold)

  /** [[embedPairsFromBuckets]] against an EXPLICIT stored sign-bucket
    * table with the deletion lifecycle applied — tombstoned vec_ids
    * stop pairing the moment their delete batch acks (the candidate
    * stage filters, so the verify's vector fetch is survivor-only for
    * free); identity plan for a never-deleted table.
    */
  private def embedPairsFromBucketsTable(s: SparkSession,
      bucketsDir: String, e: DataFrame, threshold: Double): DataFrame =
    embedPairsFromBuckets(
      graft.sinks.IncrementalParquet.applyTombstones(s, bucketsDir, "vec_id")(
        Tables.parquetCachedSchema(s, bucketsDir)),
      e, threshold)

  /** Exactly-once TAKEDOWN of vector ids from a stored sign-bucket
    * table — the embedding mirror of
    * [[deleteFromSignaturesIdempotent]] (key `vec_id`); same protocol,
    * same O(batch) cost, same [[purgeSignaturesTombstones]] physical
    * removal (the table is `bkt`-partitioned like its lexical twin).
    */
  def deleteFromSignBucketsIdempotent(
      vecIds: DataFrame, bucketsDir: String, batchId: Long): Unit =
    graft.sinks.IncrementalParquet.appendTombstonesIdempotent(
      vecIds.sparkSession, bucketsDir, "vec_id", batchId)(vecIds)

  private val storedIncSignBucketsDeleted =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The DELETION-lifecycle sign-bucket table — the embedding mirror
    * of [[incrementalSignaturesDeletedPath]] (build + purge-arm +
    * tombstone-arm + replayed-batch no-op), serving
    * q_dedup_embed_clusters_deleted.
    */
  private[graft] def incrementalSignBucketsDeletedPath(
      s: SparkSession, dir: String): String =
    graft.sinks.IncrementalParquet.buildViaDeleteLifecycle(
      storedIncSignBucketsDeleted,
      Tables.derivedStateKey(s, dir, "embeddings") + "|inc-del",
      "graft-sbuckets-del",
      t(s, dir, "embeddings"), "vec_id", "bkt")(bucketedSignBuckets(_))

  /** [[signBucketTable]] + the hash bucket column — the embedding
    * mirror of [[bucketedSignatures]]: a vector's band rows all land
    * in ONE `bkt` partition, so per-batch appends touch only the
    * buckets a batch hashes into. `(bands, bits)` is the corpus-density
    * sizing knob (candidate noise = bands·n·|batch|/2^bits, see
    * [[embedNearDupPairs]]): the catalog default 4×8 is pinned by the
    * DuckDB oracle arms; a 100 TB deployment sizes `bits` up (the
    * kernel packs up to 64) so the noise term stays bounded as the
    * corpus grows — the 16-batch embed maintenance series (SCALING.md
    * round 8) runs 4×16.
    */
  def bucketedSignBuckets(
      e: DataFrame, bands: Int = 4, bits: Int = 8): DataFrame =
    bucketedSignBuckets(e, bands, bits,
      signatureBuckets(e.sparkSession))

  private def bucketedSignBuckets(
      e: DataFrame, bands: Int, bits: Int, n: Int): DataFrame =
    signBucketTable(e, bands, bits).withColumn("bkt",
      pmod(hash(col("vec_id")), lit(n)))

  /** Exactly-once per-batch append into an incremental sign-bucket
    * table — the embedding mirror of [[appendToSignaturesIdempotent]]:
    * bucket the batch's vectors (one scan-stage kernel pass over the
    * batch alone) partitioned by the vec_id hash bucket; the
    * replay/ack protocol lives in [[graft.sinks.IncrementalParquet]].
    */
  def appendToSignBucketsIdempotent(
      batch: DataFrame, bucketsDir: String, batchId: Long,
      bands: Int = 4, bits: Int = 8): Unit = {
    val n = tableBuckets(batch.sparkSession, bucketsDir)
    // sort-clustered by (bucket, band): the per-trigger candidate
    // probe pushes the batch's bucket-key set into this table's scan,
    // and a bucket-ordered layout is what gives parquet pages tight
    // bucket ranges to skip on
    graft.sinks.IncrementalParquet.appendIdempotent(
      batch.sparkSession, bucketsDir, "bkt", batchId,
      Seq("bucket", "band"), Map("buckets" -> n.toString))(
      bucketedSignBuckets(batch, bands, bits, n))
  }

  /** The continuous embed loop's durable raw-vector table
    * `(vec_id, embedding)` partitioned on the same vec_id hash bucket
    * as the sign-bucket index — what makes the verify's vector fetch
    * partition-PRUNABLE (the lexical loop gets this for free because
    * shingle sets live inside the signature table; vectors are too
    * wide to multiply by `bands`, so they get their own table). Owned
    * by the loop: appended exactly-once per batch alongside the sign
    * buckets, minor-compacted on the same cadence — which also frees
    * the stream's incoming files from the old retain-forever
    * constraint (the loop's own table is now the verify's source of
    * truth, so `cleanSource`/archival of the landing dir is fine).
    */
  def appendToVectorsIdempotent(
      batch: DataFrame, vecsDir: String, batchId: Long): Unit = {
    val n = tableBuckets(batch.sparkSession, vecsDir)
    // sort-clustered by vec_id: the verify's vector fetch pushes the
    // candidate id set into this scan, and id-ordered files let page
    // skipping prune it to ~matching pages
    graft.sinks.IncrementalParquet.appendIdempotent(
      batch.sparkSession, vecsDir, "bkt", batchId, Seq("vec_id"),
      Map("buckets" -> n.toString))(
      batch.select(col("vec_id"), col("embedding")).withColumn("bkt",
        pmod(hash(col("vec_id")), lit(n))))
  }

  /** Cosine-verified near-dup pairs TOUCHING a batch of vectors — the
    * embedding mirror of [[batchVerifiedPairs]]. Call AFTER the
    * batch's sign buckets AND vectors are appended: the batch's bucket
    * rows are fetched back by id and band-join the stored table
    * (batch-self pairs included), so the candidate stage costs
    * |batch| × colliders, never corpus². The exact-cosine verify
    * fetches raw vectors from the loop-owned bucketed table at
    * `vecsDir` ([[appendToVectorsIdempotent]]) partition-pruned to the
    * buckets the candidate ids hash into — same pinned-fold arithmetic
    * as [[embedPairsFromBuckets]], so folds agree with the batch build
    * bit-for-bit. Before round 8 the fetch scanned the UN-bucketed
    * landing dir whole: the one per-trigger stage whose IO grew with
    * the corpus instead of the candidate set.
    */
  def batchVerifiedEmbedPairs(
      s: SparkSession, bucketsDir: String, batch: DataFrame,
      vecsDir: String, threshold: Double,
      bands: Int = 4, bits: Int = 8): DataFrame = {
    val stored = Tables.parquetCachedSchema(s, bucketsDir)
    val nBuckets = tableBuckets(s, bucketsDir)
    // COMPUTE the batch's band rows, don't fetch them back — the
    // lexical loop's reasoning verbatim: one O(batch) SignBuckets
    // kernel pass (no table IO) replaces a per-trigger stored-table
    // scan whose bucket pruning saturates at streaming batch sizes
    // (the round-9 32-batch probe attributed the series' drift to
    // exactly this scan mass). At streaming cadence the band rows are
    // driver-sized: COLLECTED once (the kernel runs distributed inside
    // the collect), they become a LocalRelation — the probe's pushed
    // key set derives with no further job and the join's broadcast
    // build is free. Over-cap (a backfill-sized batch) falls back to
    // the checkpointed shape, re-paying the kernel once.
    val bbPlan = bucketedSignBuckets(batch, bands, bits, nBuckets)
    val bbLocal = collectLocal(bbPlan, Tables.driverRowCap(s))
    val bb = bbLocal.map(_._2).getOrElse(bbPlan.localCheckpoint())
    // the batch side is broadcast, for the same reason as the lexical
    // mirror: corpus bucket rows are scanned, never exchanged. Stored
    // norms ride along so the verify never recomputes a norm fold.
    val a = broadcast(bb.select(col("band"), col("bucket"),
      col("vec_id").as("id_l"), col("nrm").as("nrm_l")))
    // the batch's DISTINCT bucket keys pushed into the stored scan: a
    // strict superset of the join's (band, bucket) matches, so the
    // result is unchanged — but the pushed `In` engages page min/max
    // skipping on the (bucket, band)-sorted files, so a trigger reads
    // ~the pages its keys land in instead of the whole index (the
    // corpus-proportional probe term the round-9 decomposition
    // isolated; at streaming batch:corpus ratios the key set is far
    // smaller than the page count, and the skip ratio GROWS with the
    // corpus). Over-cap sets (backfill) collapse to the full scan.
    val bucketKeys: Option[Seq[Any]] = bbLocal.map { case (rows, _) =>
      val i = bbPlan.schema.fieldIndex("bucket")
      rows.map(_.get(i)).distinct.toSeq
    }.filter(_.size <= ProbeKeyCap)
    val b = keyPruned(stored, "bucket", bucketKeys)(identity)
      .select(col("band").as("band2"), col("bucket").as("bucket2"),
      col("vec_id").as("id_r"), col("nrm").as("nrm_r"))
    val candPlan = a.join(b,
        col("band") === col("band2") && col("bucket") === col("bucket2") &&
          col("id_l") =!= col("id_r"))
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"),
        when(col("id_l") < col("id_r"), col("nrm_l"))
          .otherwise(col("nrm_r")).as("na"),
        when(col("id_l") < col("id_r"), col("nrm_r"))
          .otherwise(col("nrm_l")).as("nb"))
      .distinct()
    // batch-bounded; feeds the candidate-id derivation AND both verify
    // joins — one probe evaluation, collected at streaming cadence
    // (ids, hash buckets and the pushed key set then derive
    // driver-side with zero further jobs); over-cap → checkpoint.
    val candLocal = collectLocal(candPlan, Tables.driverRowCap(s))
    val cand = candLocal.map(_._2).getOrElse(candPlan.localCheckpoint())
    // ONE bucket-pruned pass over the loop-owned vector table:
    // candidate ids alone determine which bkt= partitions can hold
    // their vectors, so only candidate-touching buckets are read —
    // broadcast-semi down to the candidate ids, then both sides join
    // the batch-bounded materialized fetch.
    val candIdsLocal: Option[Seq[Long]] = candLocal.map { case (rows, _) =>
      rows.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct.toSeq
    }
    val candIds = candIdsLocal match {
      case Some(ids) =>
        import s.implicits._
        ids.toDF("vec_id")
      case None => cand.select(col("id_a").as("vec_id"))
        .unionByName(cand.select(col("id_b").as("vec_id")))
        .distinct()
    }
    // candidate ids pushed into the vector scan as an exact `In`
    // predicate (it IS the semi join's key set): vec_id-sorted files
    // give row-group skipping tight ranges, so the fetch reads ~the
    // groups its ids land in, not every candidate-bucket file whole —
    // the second corpus-proportional per-trigger term. Over-cap →
    // semi join.
    val nv = tableBuckets(s, vecsDir)
    val idKeys: Option[Seq[Any]] =
      candIdsLocal.filter(_.size <= ProbeKeyCap).map(_.map(Long.box))
    val candBkts = candIdsLocal
      .map(_.map(id => Int.box(hashBucketLocal(id, nv))).distinct)
      .getOrElse(bucketsOf(candIds, "vec_id", nv))
    val vecsPlan = keyPruned(
      Tables.parquetCachedSchema(s, vecsDir).filter(col("bkt").isin(candBkts: _*)),
      "vec_id", idKeys)(
      _.join(broadcast(candIds), Seq("vec_id"), "left_semi"))
      .select(col("vec_id"), col("embedding"))
    // the fetched vectors are CANDIDATE-bounded: at streaming cadence
    // they collect too (tighter row cap — embeddings are wide), so the
    // verify joins need no materialization barriers and the
    // missing-vector guard is a driver set test — three more jobs off
    // the trigger (vector checkpoint, fetched checkpoint, guard count).
    // The cosine itself stays THE Spark expression over the local
    // relations: same kernel, same float order as the batch build.
    val vecsLocal =
      if (candIdsLocal.isDefined)
        collectLocal(vecsPlan, math.min(Tables.driverRowCap(s), 1 << 16))
      else None
    // The guard, either way: the vector store is the verify's source
    // of truth (unlike the lexical loop, whose shingle sets live
    // inside the signature table itself). If a landed vector has been
    // cleaned away, silently dropping its candidate pairs would
    // corrupt the labels table with no signal — fail instead.
    def missingMsg(n: Long) =
      s"$n candidate pairs reference vectors absent from the " +
        "loop-owned vector table — a batch's vector append was lost " +
        "(the sign-bucket and vector appends must share every batch)"
    val fetched = vecsLocal match {
      case Some((vrows, vdf)) =>
        val have = vrows.map(_.getLong(0)).toSet
        val missingPairs = candLocal.get._1.count(r =>
          !have.contains(r.getLong(0)) || !have.contains(r.getLong(1)))
        if (missingPairs > 0)
          throw new IllegalStateException(missingMsg(missingPairs))
        // guard passed: inner joins ≡ the fallback's left joins
        cand
          .join(vdf.select(col("vec_id").as("id_a"), col("embedding").as("va")),
            Seq("id_a"))
          .join(vdf.select(col("vec_id").as("id_b"), col("embedding").as("vb")),
            Seq("id_b"))
      case None =>
        val vecs = vecsPlan.localCheckpoint()
        val f = cand
          .join(vecs.select(col("vec_id").as("id_a"), col("embedding").as("va")),
            Seq("id_a"), "left")
          .join(vecs.select(col("vec_id").as("id_b"), col("embedding").as("vb")),
            Seq("id_b"), "left")
          .localCheckpoint() // candidates are batch-bounded; guard +
                             // verify read the same materialization
        val missing = f.filter(col("va").isNull || col("vb").isNull).count()
        if (missing > 0) throw new IllegalStateException(missingMsg(missing))
        f
    }
    fetched
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** THE materialized sign-bucket table per corpus — the embedding
    * mirror of [[incrementalSignaturesPath]] (same
    * [[graft.sinks.IncrementalParquet.buildViaLifecycle]] shape),
    * serving both `q_dedup_embed` and `q_dedup_embed_clusters` so the
    * driver's hash gates cover this index lifecycle too.
    */
  private val storedIncSignBuckets =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def incrementalSignBucketsPath(
      s: SparkSession, dir: String): String =
    graft.sinks.IncrementalParquet.buildViaLifecycle(storedIncSignBuckets,
      Tables.derivedStateKey(s, dir, "embeddings") + "|inc",
      "graft-sbuckets-inc",
      t(s, dir, "embeddings"), "vec_id", "bkt")(bucketedSignBuckets(_))

  /** The embedding cluster-closure oracle shared by
    * q_dedup_embed_clusters and its deletion gate — `candFilter`
    * injects the survivor predicate at the verified-edge stage (`pe`),
    * exactly where the served tombstone anti-join removes a deleted
    * vector's pairs.
    */
  private def embedClustersSql(candFilter: String = ""): String =
    s"""${embedPairSql(recursive = true)},
      |pe AS (SELECT id_a, id_b FROM p WHERE cos >= 0.4$candFilter),
      |edges AS (SELECT id_a AS u, id_b AS w FROM pe
      |          UNION SELECT id_b, id_a FROM pe),
      |reach AS (
      |  SELECT u AS node, u AS lab FROM (SELECT DISTINCT u FROM edges)
      |  UNION
      |  SELECT e.w AS node, r.lab FROM reach r JOIN edges e ON e.u = r.node),
      |cl AS (SELECT node AS vec_id, min(lab) AS cluster_id FROM reach GROUP BY node)
      |SELECT vec_id, cluster_id,
      |  CAST(count(*) OVER (PARTITION BY cluster_id) AS INTEGER) AS csize,
      |  CAST(vec_id = cluster_id AS INTEGER) AS keep
      |FROM cl ORDER BY vec_id""".stripMargin

  /** The verified-pair closure + keep-min-id verdict served from an
    * EXPLICIT stored sign-bucket table (tombstone-filtered) — the
    * shared Spark body of q_dedup_embed_clusters and its deletion
    * gate.
    */
  private def embedClustersFromBuckets(
      s: SparkSession, bucketsDir: String, e: DataFrame): DataFrame = {
    val pairs = embedPairsFromBucketsTable(s, bucketsDir, e, 0.4)
      .select(col("id_a"), col("id_b"))
    graft.operators.ConnectedComponents.runAdaptive(pairs, "id_a", "id_b")._1
      .select(col("id").as("vec_id"), col("component").as("cluster_id"))
      .withColumn("csize",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster_id"))).cast(IntegerType))
      .withColumn("keep",
        (col("vec_id") === col("cluster_id")).cast(IntegerType))
      .orderBy(col("vec_id"))
  }

  /** DuckDB mirror of [[embedNearDupPairs]] up through the `p` CTE
    * (id_a, id_b, cos) — shared by q_dedup_embed and its cluster
    * composition. `recursive` emits `WITH RECURSIVE` (DuckDB wants the
    * keyword on the WITH clause even when only a later CTE recurses).
    */
  private def embedPairSql(recursive: Boolean): String = {
    // one SELECT per band (OracleSql.denseSignBandArms): bit i of
    // the bucket is the sign of the same ±1-signed left-to-right
    // coordinate sum the codegen'd kernel computes.
    val bandArms = OracleSql.denseSignBandArms(4, 8, 64)
    s"""WITH ${if (recursive) "RECURSIVE " else ""}e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
      |           FROM embeddings),
      |n AS (SELECT vec_id, v,
      |        sqrt(list_reduce([v[i] * v[i] FOR i IN range(1, 65)],
      |                         (a, b) -> a + b)) AS nrm
      |      FROM e),
      |bb AS (
      |        $bandArms),
      |pair AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
      |                a.v AS va, a.nrm AS na, b.v AS vb, b.nrm AS nb
      |         FROM bb a JOIN bb b
      |           ON a.band = b.band AND a.bucket = b.bucket
      |          AND a.vec_id < b.vec_id),
      |p AS (SELECT id_a, id_b,
      |        list_reduce([va[i] * vb[i] FOR i IN range(1, 65)],
      |                    (x, y) -> x + y) / (na * nb) AS cos
      |      FROM pair)""".stripMargin
  }

  /** Shared SimHash near-dup oracle, parameterized by sketch width.
    * Feature hashes are `hexLen`-hex-char SHA-256 prefixes (4·hexLen
    * sketch bits); candidates block on the LOW `nBlocks` bytes of the
    * sketch. Pigeonhole: a pair within hamming radius r < nBlocks
    * differs in at most r of the blocked bytes, so some block agrees —
    * sketch bits above 8·nBlocks may go unblocked without losing
    * recall (unblocked differences only ever ADD to a pair's hamming).
    * Both engines verify exact hamming ≤ 6 on the survivors, so with
    * nBlocks > 6 the result is exactly the radius-≤6 pair set; the
    * 32-bit form keeps its historical 4-block shape (recall guaranteed
    * to radius 3, verified to 6) — the Spark side mirrors the same
    * blocks, so the hash gate stays exact either way.
    */
  private def simhashOracleSql(hexLen: Int, nBlocks: Int): String = {
    val width = hexLen * 4
    s"""WITH c AS ($nearDupCorpusSql),
       |sh AS (SELECT doc_id, $shingleSetSql AS shs
       |       FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS ts FROM c)
       |       WHERE len(ts) >= 3),
       |hx AS (SELECT doc_id, ${shaPrefixListSql("shs", hexLen)} AS hp FROM sh),
       |hv AS (SELECT doc_id, ${hexToLongListSql("hp", hexLen)} AS hv FROM hx),
       |bts AS (SELECT doc_id,
       |        [CASE WHEN list_sum([(((v >> (${width - 1} - j)) & 1) * 2) - 1 FOR v IN hv]) > 0
       |              THEN 1::BIGINT ELSE 0::BIGINT END
       |         FOR j IN range(0, $width)] AS bits
       |      FROM hv),
       |sim AS (SELECT doc_id,
       |          CAST(list_reduce(bits, (acc, v) -> acc * 2 + v) AS BIGINT) AS sh
       |        FROM bts),
       |blk AS (SELECT doc_id, sh, k, CAST((sh >> (8 * k)) % 256 AS BIGINT) AS byte
       |        FROM sim, (SELECT unnest(range(0, $nBlocks)) AS k)),
       |pair AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |                a.sh AS sha, b.sh AS shb
       |         FROM blk a JOIN blk b
       |           ON a.k = b.k AND a.byte = b.byte AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, sha AS simhash_a, shb AS simhash_b,
       |  CAST(bit_count(xor(sha, shb)) AS INTEGER) AS hamming
       |FROM pair WHERE bit_count(xor(sha, shb)) <= 6
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Spark half of the shared SimHash skeleton — must mirror
    * [[simhashOracleSql]] block for block (same `nBlocks`, an
    * `elementHash` producing the oracle's hex-fold values, a `sketch`
    * kernel packing the same vote bits).
    */
  private def simhashPairs(nBlocks: Int, elementHash: Column => Column,
      sketch: Column => Column)(s: SparkSession, dir: String): DataFrame = {
    val tok = nearDupCorpus(t(s, dir, "documents"))
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 3)
    val sh = tok.select(col("doc_id"),
      array_distinct(shinglesFromTokens(col("ts"), 3)).as("shs"))
    val hv = sh.select(col("doc_id"),
      transform(col("shs"), elementHash(_)).as("hv"))
    // exchange barrier before the self-join (see lshCandidates)
    val sim = hv.select(col("doc_id"), sketch(col("hv")).as("sh"))
      .repartition(col("doc_id"))
    val blocks = sim.select(col("doc_id"), col("sh"),
        explode(array((0 until nBlocks).map { k =>
          struct(lit(k).as("k"), simhashByte(col("sh"), k).as("byte"))
        }: _*)).as("blk"))
      .select(col("doc_id"), col("sh"),
        col("blk.k").as("k"), col("blk.byte").as("byte"))
    val a = blocks.select(col("k"), col("byte"),
      col("doc_id").as("doc_a"), col("sh").as("sha"))
    val b = blocks.select(col("k").as("k2"), col("byte").as("byte2"),
      col("doc_id").as("doc_b"), col("sh").as("shb"))
    a.join(b, col("k") === col("k2") && col("byte") === col("byte2") &&
        col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sha"), col("shb"))
      .distinct()
      .filter(hamming(col("sha"), col("shb")) <= 6)
      .select(col("doc_a"), col("doc_b"),
        col("sha").as("simhash_a"), col("shb").as("simhash_b"),
        hamming(col("sha"), col("shb")).cast(IntegerType).as("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Two-clean-block pigeonhole for the 64-bit sketch — the blocking
    * that keeps SimHash near-linear past ~10⁵ docs. Single-byte
    * blocking (above) admits n²·7/2⁸ chance candidates between
    * unrelated docs; the round-8 sf1 sweep measured exactly that
    * quadratic verify tail (10.5 s at sf1, 11.4× wall for 10× docs).
    * Splitting the 60 significant bits into EIGHT disjoint blocks
    * (4×8-bit + 4×7-bit) instead of seven makes hamming ≤ 6 leave at
    * least TWO clean blocks — so some block PAIR is clean, and an
    * equi-join on the C(8,2) = 28 (pair-id, bits₁, bits₂) keys (14-16
    * bits each) has full recall with ~29× fewer chance collisions
    * (Σ 2^-(w₁+w₂) ≈ 1/1057 per unrelated pair vs 7/256). Same
    * verified output as the one-clean-block join — the oracle keeps
    * its byte-blocked shape because results, not plans, are compared.
    * The cost is 28 index rows per doc instead of 7: linear, the right
    * trade against a quadratic term (Manku et al., WWW'07 make the
    * same table-count-for-precision trade for 64-bit fingerprints).
    */
  private def simhashPairs64PairBlocked(elementHash: Column => Column,
      sketch: Column => Column)(s: SparkSession, dir: String): DataFrame = {
    val widths = Seq(8, 8, 8, 8, 7, 7, 7, 7)
    val offsets = widths.scanLeft(0)(_ + _).init
    def blockBits(c: Column, k: Int): Column =
      shiftrightunsigned(c, offsets(k))
        .bitwiseAND(lit((1L << widths(k)) - 1))
    val tok = nearDupCorpus(t(s, dir, "documents"))
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 3)
    val sh = tok.select(col("doc_id"),
      array_distinct(shinglesFromTokens(col("ts"), 3)).as("shs"))
    val hv = sh.select(col("doc_id"),
      transform(col("shs"), elementHash(_)).as("hv"))
    // exchange barrier before the self-join (see lshCandidates)
    val sim = hv.select(col("doc_id"), sketch(col("hv")).as("sh"))
      .repartition(col("doc_id"))
    val pairIdx = for (k1 <- 0 until 8; k2 <- k1 + 1 until 8) yield (k1, k2)
    val blocks = sim.select(col("doc_id"), col("sh"),
        explode(array(pairIdx.map { case (k1, k2) =>
          struct(lit(k1 * 8 + k2).as("pk"),
            blockBits(col("sh"), k1).as("b1"),
            blockBits(col("sh"), k2).as("b2"))
        }: _*)).as("blk"))
      .select(col("doc_id"), col("sh"), col("blk.pk").as("pk"),
        col("blk.b1").as("b1"), col("blk.b2").as("b2"))
    val a = blocks.select(col("pk"), col("b1"), col("b2"),
      col("doc_id").as("doc_a"), col("sh").as("sha"))
    val b = blocks.select(col("pk").as("pk2"), col("b1").as("b12"),
      col("b2").as("b22"), col("doc_id").as("doc_b"), col("sh").as("shb"))
    a.join(b, col("pk") === col("pk2") && col("b1") === col("b12") &&
        col("b2") === col("b22") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sha"), col("shb"))
      .distinct()
      .filter(hamming(col("sha"), col("shb")) <= 6)
      .select(col("doc_a"), col("doc_b"),
        col("sha").as("simhash_a"), col("shb").as("simhash_b"),
        hamming(col("sha"), col("shb")).cast(IntegerType).as("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Exploded k-token window fingerprints of a `(doc_id, text)`
    * frame: `(doc_id, pos, fp)` rows, pos 1-based, fp the packed
    * double-base 62-bit key — the span-dedup seed shared by the
    * catalog pipeline and the streaming span-contamination gate.
    */
  private[graft] def explodedSpanWindows(corpus: DataFrame): DataFrame = {
    val hv = transform(tokens(col("text")), elementHash(_))
    val packed = graft.functions.TextFunctions
      .windowFingerprintsPacked(hv, SpanK)
    corpus.select(col("doc_id"),
      posexplode(packed).as(Seq("p0", "fp")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        col("fp"))
  }

  private val storedSpanWindows =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** STORED exploded window table `(doc_id, pos, fp)` of a span
    * corpus, fp-partitioned on disk — the signature-table discipline
    * applied to the span family (round-9 verdict #3): the
    * tokenize→SHA→kernel→posexplode derivation is the single most
    * expensive pass in the span queries, and before this it was
    * re-paid on every invocation of every span query (materialized
    * only within a run via localCheckpoint). Now it is written ONCE
    * per (corpus fingerprint, corpus variant) and every consumer —
    * both `q_dedup_spans` variants, the removal query, and the
    * streaming gate's distinct-fp index — serves from the parquet
    * table with zero tokenizer/kernel work (PlanSpec pins it).
    * `tag` distinguishes the planted-corpus variants sharing one
    * source table.
    */
  private[graft] def spanWindowsPath(
      s: SparkSession, dir: String, tag: String)(
      corpus: => DataFrame): String =
    graft.core.Tables.memoizedParquet(storedSpanWindows,
      Tables.derivedStateKey(s, dir, "documents") + s"|spanwin-$tag",
      "graft-span-windows") { out =>
      explodedSpanWindows(corpus)
        .repartition(col("fp"))
        .write.parquet(s"$out/win")
    } + "/win"

  /** The stored window table of a span-corpus variant, as a DataFrame
    * — what every span catalog query's serve path starts from.
    */
  private def spanWindowsServed(s: SparkSession, dir: String, tag: String)(
      corpus: => DataFrame): DataFrame =
    Tables.parquetCachedSchema(s, spanWindowsPath(s, dir, tag)(corpus))

  // ------------------------------------------------------------------
  // Incremental window table — continuous maintenance for the SPAN
  // family (round 11), completing the trio: signatures (lexical
  // near-dup), sign buckets (embedding near-dup), and now window
  // fingerprints (substring spans) all share the same exactly-once
  // append / minor-compaction / probe-from-stored lifecycle.
  // ------------------------------------------------------------------

  /** Exactly-once per-batch append into an incremental WINDOW table
    * `(doc_id, pos, fp, bkt)` — the span family's mirror of
    * [[appendToSignaturesIdempotent]]. The hive bucket is a hash of
    * the FINGERPRINT (not the doc id): the span probe's key is fp —
    * a batch's windows join stored windows on fp — so fp-hash
    * partitioning is what lets a batch-touching probe prune to the
    * buckets its fingerprints land in, and fp-sorted files are what
    * give the pushed `In` row groups to skip. Replay/ack protocol in
    * [[graft.sinks.IncrementalParquet]]; the window kernel runs once
    * over the batch alone (O(batch), no table IO).
    */
  def appendToWindowsIdempotent(
      batch: DataFrame, winDir: String, batchId: Long): Unit = {
    val n = tableBuckets(batch.sparkSession, winDir)
    graft.sinks.IncrementalParquet.appendIdempotent(
      batch.sparkSession, winDir, "bkt", batchId, Seq("fp"),
      Map("buckets" -> n.toString))(
      explodedSpanWindows(batch)
        .withColumn("bkt", pmod(hash(col("fp")), lit(n))))
  }

  /** The stored incremental window table as the `(doc_id, pos, fp)`
    * frame the span pipeline consumes — tombstone-filtered: a
    * taken-down doc's windows stop seeding spans the moment its
    * delete batch acks (identity plan for a never-deleted table).
    */
  def windowsFromStored(s: SparkSession, winDir: String): DataFrame =
    graft.sinks.IncrementalParquet.applyTombstones(s, winDir, "doc_id")(
      Tables.parquetCachedSchema(s, winDir))
      .select(col("doc_id"), col("pos"), col("fp"))

  /** Exactly-once TAKEDOWN of document ids from a stored window
    * table — the span family's member of the deletion lifecycle
    * (same protocol as [[deleteFromSignaturesIdempotent]]; physical
    * removal is O(touched buckets) via
    * [[purgeSignaturesTombstones]] — the table is `bkt`-partitioned,
    * a doc's windows spread across the buckets its fingerprints hash
    * into).
    */
  def deleteFromWindowsIdempotent(
      docIds: DataFrame, winDir: String, batchId: Long): Unit =
    graft.sinks.IncrementalParquet.appendTombstonesIdempotent(
      docIds.sparkSession, winDir, "doc_id", batchId)(docIds)

  private val storedIncWindowsDeleted =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The DELETION-lifecycle window table over the span-dup corpus —
    * build + purge-arm + tombstone-arm + replayed-batch no-op
    * ([[graft.sinks.IncrementalParquet.buildViaDeleteLifecycle]]),
    * serving q_dedup_spans_deleted.
    */
  private[graft] def incrementalWindowsDeletedPath(
      s: SparkSession, dir: String): String = {
    val n = signatureBuckets(s)
    graft.sinks.IncrementalParquet.buildViaDeleteLifecycle(
      storedIncWindowsDeleted,
      Tables.derivedStateKey(s, dir, "documents") + "|spanwin-del",
      "graft-spanwin-del",
      spanDupCorpus(t(s, dir, "documents")), "doc_id", "bkt",
      sortCols = Seq("fp"), pinExtra = Map("buckets" -> n.toString))(
      docs => explodedSpanWindows(docs)
        .withColumn("bkt", pmod(hash(col("fp")), lit(n))))
  }

  /** Maximal shared spans TOUCHING a batch, served from the stored
    * window table — the per-trigger span stage of continuous span
    * dedup. Call AFTER the batch's windows are appended: the batch's
    * window rows (one kernel pass, no table IO) probe the stored
    * table on fp, so the match stage costs |batch windows| × colliders,
    * never corpus² — pairs among pre-existing docs are never
    * re-derived, and the gaps-and-islands merge runs only on
    * batch-touching pairs (complete per pair, so the merge commutes
    * with the old-self/batch-touching split — [[spanIslands]]).
    * Batch-self matches arrive from both probe directions and are
    * deduplicated; stored-side reads prune to the buckets the batch's
    * fingerprints hash into, with the key set pushed as an exact `In`
    * when small (streaming cadence) and the usual fallbacks beyond
    * ([[collectLocal]] / [[keyPruned]] contracts).
    */
  def batchSpanPairs(
      s: SparkSession, winDir: String, batch: DataFrame): DataFrame = {
    val stored = Tables.parquetCachedSchema(s, winDir)
    val n = tableBuckets(s, winDir)
    val bwPlan = explodedSpanWindows(batch)
    val bwLocal = collectLocal(bwPlan, Tables.driverRowCap(s))
    val bw = bwLocal.map(_._2).getOrElse(bwPlan.localCheckpoint())
    val a = broadcast(bw.select(col("doc_id").as("id_n"), col("pos").as("pn"),
      col("fp")))
    val fpIdx = bwPlan.schema.fieldIndex("fp")
    val fpLocal: Option[Seq[Long]] = bwLocal.map { case (rows, _) =>
      rows.map(_.getLong(fpIdx)).distinct.toSeq
    }
    val fpKeys: Option[Seq[Any]] =
      fpLocal.filter(_.size <= ProbeKeyCap).map(_.map(Long.box))
    val storedPruned = fpLocal match {
      case Some(fps) =>
        val bkts = fps.map(fp => Int.box(hashBucketLocal(fp, n))).distinct
        keyPruned(stored.filter(col("bkt").isin(bkts: _*)), "fp", fpKeys)(
          identity)
      case None => stored
    }
    val b = storedPruned.select(col("doc_id").as("id_c"),
      col("pos").as("pc"), col("fp").as("fp2"))
    val m = a.join(b, col("fp") === col("fp2") && col("id_n") =!= col("id_c"))
      .select(least(col("id_n"), col("id_c")).as("doc_a"),
        greatest(col("id_n"), col("id_c")).as("doc_b"),
        when(col("id_n") < col("id_c"), col("pn")).otherwise(col("pc"))
          .as("pa"),
        when(col("id_n") < col("id_c"), col("pc")).otherwise(col("pn"))
          .as("pb"))
      .distinct() // batch-self matches arrive from both probe sides
    spanIslands(m)
  }

  private val storedIncSpans =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** THE incrementally-built span set per corpus, memoized — the span
    * family's lifecycle gate, mirroring [[incrementalSignaturesPath]]:
    * the even-doc_id half of the span corpus arrives as batch 0 of an
    * incremental window table, its self-spans are derived from the
    * stored table and persisted, then the odd half arrives as batch 1
    * (minor compaction fires), and the batch-touching spans from
    * [[batchSpanPairs]] union with the persisted base. Row-identical
    * to a one-shot [[spanPipeline]] over the whole corpus — matches
    * partition exactly into old-self and batch-touching pairs and the
    * islands merge is per-pair — so the driver's full-span DuckDB
    * oracle checks the entire append → probe → compact lifecycle.
    */
  private[graft] def incrementalSpansPath(s: SparkSession, dir: String): String =
    graft.core.Tables.memoizedParquet(storedIncSpans,
      Tables.derivedStateKey(s, dir, "documents") + "|spanincr",
      "graft-spans-incr") { out =>
      val corpus = spanDupCorpus(t(s, dir, "documents"))
      val winDir = s"$out/win"
      appendToWindowsIdempotent(
        corpus.filter(pmod(col("doc_id"), lit(2)) === 0), winDir, 0L)
      // base spans must be DERIVED AND PERSISTED before the next batch
      // lands — the stored table is about to grow
      spanPipeline(windowsFromStored(s, winDir), None)
        .write.parquet(s"$out/base")
      val batch = corpus.filter(pmod(col("doc_id"), lit(2)) === 1)
      appendToWindowsIdempotent(batch, winDir, 1L)
      compactSignaturesMinor(s, winDir) // bkt-partitioned: same machinery
      Tables.parquetCachedSchema(s, s"$out/base")
        .unionByName(batchSpanPairs(s, winDir, batch))
        .write.parquet(s"$out/spans")
    } + "/spans"

  /** Rewrite `corpus` with every span's doc_b occurrence deleted —
    * the actionable half of `q_dedup_spans_removal`. Memory shape
    * (round-9 verdict #6): per-doc AGGREGATION state is the doc's
    * interval list, O(spans) — the previous formulation reassembled
    * whole documents through `collect_list(struct(pos, tok))`, an
    * O(doc-tokens) single-row buffer that made 1M-token documents a
    * memory hazard. Token dropping + text rebuild run as scan-stage
    * HOFs (filter-with-index + exists + array_join): per-row work
    * O(tokens × spans), per-row width O(text) — the same class as any
    * text expression. Intervals may overlap across diagonals; the
    * per-token coverage test handles that without an interval merge.
    * Zero-token docs are dropped (the SQL oracle's token explode
    * never emits them). Output: (doc_id, n_removed, text_clean),
    * whitespace-normalized like the oracle's string_agg.
    */
  private[graft] def removeSpans(
      corpus: DataFrame, spans: DataFrame): DataFrame = {
    val rm = spans.select(col("doc_b").as("doc_id"),
        struct(col("start_b").as("s"),
          (col("start_b") + col("span_len")).as("e")).as("iv"))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("iv")).as("ivs"))
    corpus
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .filter(size(col("ts")) > 0)
      .join(rm, Seq("doc_id"), "left")
      .select(col("doc_id"), col("ts"),
        coalesce(col("ivs"), array()).as("ivs"))
      .withColumn("kept", filter(col("ts"), (_, i) =>
        !exists(col("ivs"), iv =>
          (i + 1) >= iv.getField("s") && (i + 1) < iv.getField("e"))))
      .select(col("doc_id"),
        (size(col("ts")) - size(col("kept"))).cast("long").as("n_removed"),
        array_join(col("kept"), " ").as("text_clean"))
  }

  /** Shared span-dedup pipeline (Spark side): the STORED window table
    * (`byFp`, see [[spanWindowsPath]] — `(doc_id, pos, fp)` rows,
    * fp-partitioned parquet) -> optional df-cap (drop fingerprints in
    * > maxDf distinct docs: boilerplate, not copies) -> self-equi-join
    * on the 62-bit key -> gaps-and-islands merge per (pair, diagonal)
    * into maximal spans. Both q_dedup_spans variants build on this;
    * the oracle mirror is [[spanPipelineSql]]. The self-join's two
    * sides and (df form) the hot-fingerprint aggregation + anti-join
    * probe all consume the one stored table — no tokenizer / SHA /
    * kernel work appears in any serve plan (the round-9 shape paid the
    * kernel+explode once per RUN via localCheckpoint; the store pays
    * it once per CORPUS, like the signature and codes tables).
    */
  private[graft] def spanPipeline(byFp: DataFrame, maxDf: Option[Int]): DataFrame = {
    val wf = maxDf match {
      case None => byFp
      case Some(cap) =>
        // the hot set is tiny by construction (only over-cap fps), so
        // the anti-join broadcasts; the df agg runs on the shared
        // exchange's partitioning — no extra shuffle
        val hot = byFp.groupBy(col("fp"))
          .agg(countDistinct(col("doc_id")).as("df"))
          .filter(col("df") > cap).select(col("fp"))
        byFp.join(broadcast(hot), Seq("fp"), "left_anti")
    }
    val a = wf.select(col("doc_id").as("doc_a"), col("pos").as("pa"),
      col("fp"))
    val b = wf.select(col("doc_id").as("doc_b"), col("pos").as("pb"),
      col("fp"))
    spanIslands(a.join(b, Seq("fp")).filter(col("doc_a") < col("doc_b")))
    // callers add their ORDER BY — the removal query consumes this
    // unsorted
  }

  /** The gaps-and-islands tail shared by [[spanPipeline]] and the
    * incremental [[batchSpanPairs]]: merge per-(pair, diagonal)
    * position matches `(doc_a, doc_b, pa, pb)` into maximal spans.
    * Correct for ANY match subset that is complete per pair — islands
    * group within a (doc_a, doc_b) pair, so partitioning the match set
    * by pair (the incremental old-self/batch-touching split) commutes
    * with the merge.
    */
  private def spanIslands(m: DataFrame): DataFrame = {
    val k = SpanK
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pa"))
    m.withColumn("diag", col("pa") - col("pb"))
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("grp"))
      .agg(min(col("pa")).as("start_a"), min(col("pb")).as("start_b"),
        (max(col("pa")) - min(col("pa")) + lit(k.toLong)).as("span_len"))
      .select(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"),
        col("span_len"))
  }

  /** DuckDB mirror of [[spanPipeline]] over `corpusSql`. */
  private def spanPipelineSql(corpusSql: String, maxDf: Option[Int]): String = {
    val k = SpanK
    val pows = graft.functions.TextFunctions.windowPows(k)
      .mkString("[", ", ", "]")
    val pows2 = graft.functions.TextFunctions
      .windowPows(k, graft.functions.TextFunctions.RollB2)
      .mkString("[", ", ", "]")
    val P = graft.functions.TextFunctions.RollP
    val eSrc = maxDf match {
      case None => "e"
      case Some(cap) =>
        s"""(SELECT * FROM e WHERE fp NOT IN (
           |   SELECT fp FROM e GROUP BY fp
           |   HAVING count(DISTINCT doc_id) > $cap))""".stripMargin
    }
    // seed key = both window polynomials packed into one 62-bit
    // BIGINT (each < 2^31): a chance match needs BOTH to collide
    s"""WITH c AS ($corpusSql),
       |tok AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS ts FROM c),
       |hp AS (SELECT doc_id, ${shaPrefixListSql("ts", 7)} AS hp FROM tok),
       |hv AS (SELECT doc_id, ${hexToLongListSql("hp", 7)} AS hv FROM hp),
       |wf AS (SELECT doc_id,
       |         CASE WHEN len(hv) >= $k THEN
       |           [(list_sum([(hv[i + j] * ($pows)[j + 1]) % $P
       |                       FOR j IN range(0, $k)]) % $P) * ${1L << 31}
       |            + list_sum([(hv[i + j] * ($pows2)[j + 1]) % $P
       |                        FOR j IN range(0, $k)]) % $P
       |            FOR i IN range(1, len(hv) - $k + 2)]
       |         ELSE [] END AS fps FROM hv),
       |e AS (SELECT doc_id,
       |        CAST(unnest(range(len(fps))) + 1 AS BIGINT) AS pos,
       |        unnest(fps) AS fp FROM wf),
       |m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |             a.pos AS pa, b.pos AS pb
       |      FROM $eSrc a JOIN $eSrc b
       |      ON a.fp = b.fp AND a.doc_id < b.doc_id),
       |i AS (SELECT doc_a, doc_b, pa, pb, pa - pb AS diag,
       |        pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
       |                                ORDER BY pa) AS grp
       |      FROM m)
       |SELECT doc_a, doc_b,
       |  min(pa) AS start_a, min(pb) AS start_b,
       |  max(pa) - min(pa) + $k AS span_len
       |FROM i GROUP BY doc_a, doc_b, diag, grp
       |ORDER BY doc_a, doc_b, start_a, start_b""".stripMargin
  }

  val all: Seq[GraftQuery] = Seq(

    // ---------------------------------------------------------- exact
    // Exact dedup: group by normalizing fingerprint (lower + whitespace
    // collapse + SHA-256). At scale: one hash-partitioned groupBy on a
    // 64-char key with map-side partial aggregation.
    GraftQuery(
      "q_dedup_exact",
      s"""WITH c AS ($exactDupCorpusSql)
         |SELECT sha256(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
         |  count(*) AS n_copies, min(doc_id) AS first_doc
         |FROM c GROUP BY fp ORDER BY fp""".stripMargin) { (s, dir) =>
      exactDupCorpus(t(s, dir, "documents"))
        .groupBy(fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("fp"))
    },

    // -------------------------------------------------------- MinHash
    // MinHash+LSH near-dup candidates: per-row 16-permutation signature
    // (one scan-stage expression), explode only the 4 band keys,
    // self-join on (band, band-signature) — candidates ≪ all-pairs.
    // est_jaccard = agreeing signature positions / 16.
    GraftQuery(
      "q_dedup_minhash",
      s"""${lshCandidatesSql("sg", "sg")}
         |SELECT doc_a, doc_b,
         |  round(CAST(list_sum([CASE WHEN ea[i] = eb[i] THEN 1 ELSE 0 END
         |                       FOR i IN range(1, ${K + 1})]) AS DOUBLE) / $K.0, 4)
         |    AS est_jaccard
         |FROM pair ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      lshCandidatesServed(s, dir, Seq("sg"))
        .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"),
          round(minhashEstJaccard(col("sg_a"), col("sg_b"), K), 4)
            .as("est_jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // -------------------------------------------------------- Jaccard
    // Exact n-gram Jaccard over the SAME LSH candidate pairs — the
    // verification stage of the standard LSH-then-verify dedup
    // pipeline. Output: candidate pairs with true Jaccard ≥ 0.5.
    GraftQuery(
      "q_dedup_jaccard",
      s"""${lshCandidatesSql("shs", "shs")},
         |j AS (SELECT doc_a, doc_b,
         |        CAST(len(list_intersect(ea, eb)) AS DOUBLE)
         |          / (len(ea) + len(eb) - len(list_intersect(ea, eb))) AS jac
         |      FROM pair)
         |SELECT doc_a, doc_b, round(jac, 4) AS jaccard
         |FROM j WHERE jac >= 0.5 ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      lshCandidatesServed(s, dir, Seq("shs"))
        .withColumn("jac", jaccard(col("shs_a"), col("shs_b")))
        .filter(col("jac") >= 0.5)
        .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"),
          round(col("jac"), 4).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ---------------------------------------------------------- spans
    // Cross-document substring-SPAN dedup (Lee et al. 2022,
    // "Deduplicating Training Data Makes Language Models Better"):
    // find maximal runs of ≥k tokens shared verbatim between document
    // PAIRS — partial-copy removal, the train-vs-train complement of
    // the exact/near-doc families above. Pipeline: per-token hash →
    // k-token rolling window fingerprints (sum-of-powers mod P, exact
    // on both engines) → posexplode → self-EQUI-join on fingerprint
    // (doc_a < doc_b) → merge hits on the same diagonal (pa − pb) into
    // maximal spans via gaps-and-islands. Output one row per maximal
    // shared span: (doc_a, doc_b, start_a, start_b, span_len), token
    // positions 1-based.
    //
    // Scale (100 TB): the paper uses a suffix array; the Spark-first
    // form is this fingerprint equi-join — work is bounded by
    // Σ_fp |group|², not all-pairs, and stays linear while shared
    // k-grams are rare. On web corpora boilerplate k-grams make hot
    // groups: the production mitigation is a document-frequency cap on
    // the fingerprint (drop fps seen in > maxDf docs before the join —
    // they are boilerplate, not copies), which composes here as one
    // extra groupBy; the gate keeps exact semantics so the oracle can
    // replay it. The explode is a narrow flatMap; the only shuffles are
    // the fp equi-join (exchange reused across both sides) and the
    // per-(pair, diagonal) island window.
    GraftQuery(
      "q_dedup_spans", spanPipelineSql(spanDupCorpusSql, None)) { (s, dir) =>
      spanPipeline(
        spanWindowsServed(s, dir, "dup")(spanDupCorpus(t(s, dir, "documents"))),
        None)
        .orderBy(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"))
    },

    // ------------------------------------------- spans, incremental
    // The span family's CONTINUOUS-MAINTENANCE lifecycle gate (round
    // 11), completing the trio with the signature and sign-bucket
    // tables: the even half of the span corpus arrives as batch 0 of
    // an incremental fp-bucketed window table, its self-spans are
    // derived from the stored table and persisted, the odd half lands
    // as batch 1 (minor compaction fires mid-lifecycle), and the
    // batch-touching spans probe the stored table at
    // |batch windows| × colliders (batchSpanPairs — the corpus is
    // never re-self-joined). The oracle is the SAME one-shot full-span
    // SQL as q_dedup_spans: "incremental span fold == one-shot
    // recompute" is exactly the identity checked, the span analog of
    // q_dedup_clusters_incr. Identity argument: position matches
    // partition exactly into old-self and batch-touching PAIRS, and
    // the gaps-and-islands merge is per-pair, so it commutes with the
    // split.
    GraftQuery(
      "q_dedup_spans_incr", spanPipelineSql(spanDupCorpusSql, None)) { (s, dir) =>
      Tables.parquetCachedSchema(s, incrementalSpansPath(s, dir))
        .orderBy(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"))
    },

    // The span family's deletion lifecycle under the oracle hash: the
    // fp-bucketed window table built as build + append + takedown A
    // (doc_id ≡ 3 mod 14, physically PURGED) + takedown B (≡ 10 mod
    // 14, tombstone-SERVED) + replayed batch A (pinned no-op); the
    // span pipeline then runs over the surviving windows. A deleted
    // doc leaves every shared span — including spans where it was one
    // side of the only copy pair, which vanish entirely (span
    // "clusters" are per-pair, so no closure repair arises). Oracle:
    // the one-shot span SQL over the surviving span corpus.
    GraftQuery(
      "q_dedup_spans_deleted",
      spanPipelineSql(
        s"SELECT * FROM ($spanDupCorpusSql) WHERE doc_id % 7 <> 3",
        None)) { (s, dir) =>
      spanPipeline(
        windowsFromStored(s, incrementalWindowsDeletedPath(s, dir)), None)
        .orderBy(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"))
    },

    // ------------------------------------------------- spans, df-cap
    // The production form of the span seed: window fingerprints seen
    // in more than SpanMaxDf distinct docs are boilerplate (headers,
    // footers, license blocks), not copies — Lee et al.'s dominant
    // false-span source on web corpora — and are dropped BEFORE the
    // pair join, bounding the join's per-fingerprint group mass (the
    // Σ|group|² term) by maxDf². The corpus plants a 50-doc shared
    // footer: its pure-footer windows (df = 50) are capped, removing
    // every zero-shared-suffix boilerplate pair (~1200 of C(50,2)),
    // while true copy spans (planted fps, df ≤ 3) survive exactly and
    // BOUNDARY windows (shared doc tail + footer prefix, small df)
    // legitimately bridge pairs whose common tail alone is shorter
    // than k — the boundary behavior every real df-capped dedup has,
    // pinned in DedupSemanticsSpec. One extra small-key aggregation
    // over the fp column; the hot set is broadcast into a left-anti
    // join.
    GraftQuery(
      "q_dedup_spans_df",
      spanPipelineSql(spanBoilerplateCorpusSql, Some(SpanMaxDf))) { (s, dir) =>
      spanPipeline(
        spanWindowsServed(s, dir, "boiler")(
          spanBoilerplateCorpus(t(s, dir, "documents"))),
        Some(SpanMaxDf))
        .orderBy(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"))
    },


    // --------------------------------------------- spans, removal
    // The ACTIONABLE form of substring-span dedup — what Lee et al.
    // 2022 actually do to the training set: for every maximal shared
    // span, delete the occurrence in the HIGHER-id document (first
    // occurrence wins, the engine's encounter-order convention) and
    // emit the rewritten corpus. Pipeline: spans (shared seed
    // pipeline, served from the stored window table) → collect each
    // doc's removed INTERVALS (one aggregation whose per-doc state is
    // O(spans), NOT O(tokens) — the round-9 shape reassembled whole
    // documents through a collect_list over every token, a per-row
    // memory hazard at 1M-token docs) → join intervals back to the
    // corpus (one row per doc) → drop covered tokens and rebuild the
    // text with scan-stage HOFs (filter-with-index + array_join: row
    // width stays O(text), like every other text expression, and
    // nothing doc-sized ever sits in an aggregation buffer). Every
    // corpus doc is emitted (n_removed = 0 when untouched); a
    // fully-consumed doc emits ''. The oracle keeps its explicit
    // token-explode + anti-join formulation — same rewritten corpus,
    // independently derived. 100 TB shape: one span-bounded
    // aggregation, one broadcast-or-shuffle join keyed by doc_id, one
    // corpus scan — no token-granular shuffle at all.
    GraftQuery(
      "q_dedup_spans_removal", {
        s"""WITH sp AS (${spanPipelineSql(spanDupCorpusSql, None)}),
           |rm AS (SELECT DISTINCT doc_b AS doc_id,
           |         unnest(range(start_b, start_b + span_len)) AS pos
           |       FROM sp),
           |c AS ($spanDupCorpusSql),
           |tk AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS ts FROM c),
           |tok AS (SELECT doc_id,
           |          CAST(unnest(range(len(ts))) + 1 AS BIGINT) AS pos,
           |          unnest(ts) AS tok FROM tk),
           |kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t
           |         WHERE NOT EXISTS (SELECT 1 FROM rm r
           |           WHERE r.doc_id = t.doc_id AND r.pos = t.pos)),
           |agg AS (SELECT doc_id,
           |          string_agg(tok, ' ' ORDER BY pos) AS text_clean,
           |          count(*) AS n_kept
           |        FROM kept GROUP BY doc_id),
           |tot AS (SELECT doc_id, count(*) AS n_total FROM tok GROUP BY doc_id)
           |SELECT tot.doc_id,
           |  CAST(tot.n_total - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed,
           |  coalesce(agg.text_clean, '') AS text_clean
           |FROM tot LEFT JOIN agg ON tot.doc_id = agg.doc_id
           |ORDER BY tot.doc_id""".stripMargin
      }) { (s, dir) =>
      removeSpans(
        spanDupCorpus(t(s, dir, "documents")),
        spanPipeline(
          spanWindowsServed(s, dir, "dup")(
            spanDupCorpus(t(s, dir, "documents"))), None))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------------- clusters
    // Transitive closure of the verified near-dup pairs: the LSH-then-
    // verify stages emit PAIRS, but keep-one-per-group curation needs
    // components (a~b, b~c ⇒ one cluster {a,b,c}). Spark side runs
    // min-label propagation ([[graft.operators.ConnectedComponents]]);
    // the oracle computes the same closure as a recursive CTE. Labels
    // are min-reachable-id on both sides, so the outputs are identical
    // without any ordering convention beyond the final ORDER BY.
    GraftQuery(
      "q_dedup_clusters", clustersClosureSql()) { (s, dir) =>
      // pair stage served from the same incrementally-built signature
      // table as q_dedup_minhash/q_dedup_jaccard (build half → append
      // half → compact), so this query's hash gate covers the lexical
      // index lifecycle the way q_ann_codes_served covers the codes
      // table's
      clustersFromSignatureTable(s, incrementalSignaturesPath(s, dir))
    },

    // The near-dup DELETION lifecycle under the oracle hash: the same
    // LSH → Jaccard-verify → closure chain served from a signature
    // table built as build + append + takedown A (doc_id ≡ 3 mod 14,
    // physically PURGED) + takedown B (≡ 10 mod 14, tombstone-SERVED)
    // + replayed batch A (pinned no-op). A deleted doc leaves every
    // pair and every cluster — and a cluster it alone bridged
    // RE-SPLITS, the repair no stored-label fold can express: labels
    // here derive from the surviving edges at serve time, which is
    // why takedown on this family is O(batch) instead of O(affected
    // components).
    GraftQuery(
      "q_dedup_clusters_deleted",
      clustersClosureSql(
        candFilter = " AND doc_a % 7 <> 3 AND doc_b % 7 <> 3")) { (s, dir) =>
      clustersFromSignatureTable(s, incrementalSignaturesDeletedPath(s, dir))
    },

    // ---------------------------------- cluster representative pick
    // Keep-BEST-per-cluster curation — what production dedup actually
    // ships: min-id keep (q_dedup_clusters' convention and FirstWins'
    // encounter-order rule) is the right default for STREAMING
    // determinism, but a batch curation pass prefers the highest-
    // QUALITY member of each near-dup cluster (the C4/RefinedWeb-style
    // "keep the best copy" rule). Composition: the same verified-pair
    // closure as q_dedup_clusters (pairs served from the stored
    // signature table), each clustered doc scored by the engine's
    // heuristic quality, representative = rank 1 by (quality DESC,
    // doc_id) within the cluster. Ranking runs on the RAW double score
    // (identical IEEE chain on both engines — the cosine-rank
    // discipline); the displayed score floors to 4 decimals
    // (q_quality_score's rendering note). Scale shape: the closure's
    // cost dominates; the pick adds one scan-stage quality projection,
    // one doc_id equi-join against the (small) clustered-labels frame
    // and one per-cluster window exchange.
    GraftQuery(
      "q_cluster_representative", {
        def reCount(expr: String, pat: String) =
          s"len(regexp_extract_all($expr, '$pat'))"
        val quality =
          s"""(least(1.0, CAST(${reCount("text", "\\S+")} AS DOUBLE) / 64.0)
             |   * (CASE WHEN length(text) > 0
             |           THEN CAST(${reCount("text", "[A-Za-z]")} AS DOUBLE)
             |                / CAST(length(text) AS DOUBLE)
             |           ELSE 0.0 END)
             |   * (CASE WHEN length(text) > 0
             |           THEN greatest(0.0,
             |                  1.0 - (CAST(${reCount("text", "[.,;:!?]")} AS DOUBLE)
             |                         / CAST(length(text) AS DOUBLE)) * 4.0)
             |           ELSE 0.0 END))""".stripMargin
        s"""${lshCandidatesSql("shs", "shs", recursive = true)},
           |j AS (SELECT doc_a, doc_b FROM (
           |        SELECT doc_a, doc_b,
           |          CAST(len(list_intersect(ea, eb)) AS DOUBLE)
           |            / (len(ea) + len(eb) - len(list_intersect(ea, eb))) AS jac
           |        FROM pair)
           |      WHERE jac >= 0.5),
           |edges AS (SELECT doc_a AS u, doc_b AS v FROM j
           |          UNION SELECT doc_b, doc_a FROM j),
           |reach AS (
           |  SELECT u AS node, u AS lab FROM (SELECT DISTINCT u FROM edges)
           |  UNION
           |  SELECT e.v AS node, r.lab FROM reach r JOIN edges e ON e.u = r.node),
           |cl AS (SELECT node AS doc_id, min(lab) AS cluster_id
           |       FROM reach GROUP BY node),
           |q AS (SELECT doc_id, $quality AS q FROM c),
           |r AS (SELECT cl.doc_id, cl.cluster_id, q.q,
           |        row_number() OVER (PARTITION BY cl.cluster_id
           |          ORDER BY q.q DESC, cl.doc_id) AS rk
           |      FROM cl JOIN q ON q.doc_id = cl.doc_id)
           |SELECT doc_id, cluster_id, floor(q * 10000) / 10000 AS quality,
           |  rk = 1 AS keep
           |FROM r ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      import graft.functions.TextFunctions.qualityScore
      val pairs = lshCandidatesServed(s, dir, Seq("shs"))
        .withColumn("jac", jaccard(col("shs_a"), col("shs_b")))
        .filter(col("jac") >= 0.5)
        .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"))
      val labels = graft.operators.ConnectedComponents
        .runAdaptive(pairs, "doc_a", "doc_b")._1
        .select(col("id").as("doc_id"), col("component").as("cluster_id"))
      val scored = nearDupCorpus(t(s, dir, "documents"))
        .select(col("doc_id"), qualityScore(col("text")).as("q"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id")).orderBy(col("q").desc, col("doc_id"))
      labels.join(scored, "doc_id")
        .withColumn("rk", row_number().over(w))
        .select(col("doc_id"), col("cluster_id"),
          (floor(col("q") * 10000) / 10000).as("quality"),
          (col("rk") === 1).as("keep"))
        .orderBy(col("doc_id"))
    },

    // -------------------------------------- incremental cluster fold
    // The cluster-MAINTENANCE path under the driver's hash gate: the
    // other O(corpus)-per-batch stage a continuously-ingesting dedup
    // pipeline would hit. Signatures and codes already append at
    // O(batch) (IncrementalParquet); this gates the closure doing the
    // same — half the verified pairs form the existing labeling, the
    // other half folds in via ConnectedComponents.incremental (new
    // edges contract to component representatives, components run on
    // the batch-bounded contracted graph, one relabel join applies the
    // merges). The oracle is the SAME full recursive closure as
    // q_dedup_clusters: incremental fold == full recompute is exactly
    // the identity being checked.
    GraftQuery(
      "q_dedup_clusters_incr",
      s"""${lshCandidatesSql("shs", "shs", recursive = true)},
         |j AS (SELECT doc_a, doc_b FROM (
         |        SELECT doc_a, doc_b,
         |          CAST(len(list_intersect(ea, eb)) AS DOUBLE)
         |            / (len(ea) + len(eb) - len(list_intersect(ea, eb))) AS jac
         |        FROM pair)
         |      WHERE jac >= 0.5),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM j
         |          UNION SELECT doc_b, doc_a FROM j),
         |reach AS (
         |  SELECT u AS node, u AS lab FROM (SELECT DISTINCT u FROM edges)
         |  UNION
         |  SELECT e.v AS node, r.lab FROM reach r JOIN edges e ON e.u = r.node),
         |cl AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node)
         |SELECT doc_id, cluster_id,
         |  CAST(count(*) OVER (PARTITION BY cluster_id) AS INTEGER) AS csize
         |FROM cl ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val pairs = lshCandidatesServed(s, dir, Seq("shs"))
        .withColumn("jac", jaccard(col("shs_a"), col("shs_b")))
        .filter(col("jac") >= 0.5)
        .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"))
        .persist() // both halves filter this; compute the verify once
      // a deterministic, arrival-agnostic split standing in for "the
      // corpus so far" vs "the next batch" — the identity holds for ANY
      // split, so parity is as good a gate as a real arrival order
      val half = pmod(col("doc_a") + col("doc_b"), lit(2))
      val merged = try {
        val base = graft.operators.ConnectedComponents
          .runAdaptive(pairs.filter(half === 0), "doc_a", "doc_b")._1
        graft.operators.ConnectedComponents
          .incremental(base, pairs.filter(half === 1), "doc_a", "doc_b")
      } finally pairs.unpersist() // base/merged are checkpoint-backed
      merged
        .select(col("id").as("doc_id"), col("component").as("cluster_id"))
        .withColumn("csize",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("cluster_id"))).cast(IntegerType))
        .orderBy(col("doc_id"))
    },

    // --------------------------------------- maintained-labels serve
    // The STREAMING maintenance lifecycle under the driver's hash gate
    // — the closure analog of q_ann_codes_served: the labels table is
    // built by driving StreamingPipeline.maintainClusters over four
    // batched document arrivals (per batch: idempotent signature
    // append → batch-touching pair probe from the stored table →
    // persisted delta → partitioned label upsert; compaction fires
    // mid-stream), then the closure is SERVED from that table. The
    // oracle is the same full recursive-CTE closure as
    // q_dedup_clusters, so "continuously-maintained labels == one-shot
    // recompute" is exactly the identity checked. Like
    // q_dedup_clusters_incr this is a LIFECYCLE GATE, not a production
    // cost model: the four folds deliberately re-run the whole
    // maintenance loop per catalog build (production pays one fold per
    // arriving batch) — do not "optimize" the gate down to one pass.
    GraftQuery(
      "q_dedup_clusters_maintained",
      s"""${lshCandidatesSql("shs", "shs", recursive = true)},
         |j AS (SELECT doc_a, doc_b FROM (
         |        SELECT doc_a, doc_b,
         |          CAST(len(list_intersect(ea, eb)) AS DOUBLE)
         |            / (len(ea) + len(eb) - len(list_intersect(ea, eb))) AS jac
         |        FROM pair)
         |      WHERE jac >= 0.5),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM j
         |          UNION SELECT doc_b, doc_a FROM j),
         |reach AS (
         |  SELECT u AS node, u AS lab FROM (SELECT DISTINCT u FROM edges)
         |  UNION
         |  SELECT e.v AS node, r.lab FROM reach r JOIN edges e ON e.u = r.node),
         |cl AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node)
         |SELECT doc_id, cluster_id,
         |  CAST(count(*) OVER (PARTITION BY cluster_id) AS INTEGER) AS csize
         |FROM cl ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.parquetCachedSchema(s, maintainedLabelsPath(s, dir))
        .select(col("id").as("doc_id"), col("component").as("cluster_id"))
        .withColumn("csize",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("cluster_id"))).cast(IntegerType))
        .orderBy(col("doc_id"))
    },

    // -------------------------------------------------------- SimHash
    // SimHash near-dup over 3-gram SHINGLE features (unigram token sets
    // are near-identical across this shared-vocabulary corpus, which
    // would collapse every doc into one simhash cluster): 32-bit
    // signature per doc; byte blocking (pigeonhole: Hamming ≤ 3 ⇒ one
    // of the 4 bytes agrees) replaces all-pairs with 4 small equi-joins;
    // survivors filtered on exact Hamming ≤ 6 via xor+bit_count. Both
    // width variants share one skeleton: see [[simhashOracleSql]] /
    // [[simhashPairs]].
    GraftQuery("q_dedup_simhash", simhashOracleSql(hexLen = 8, nBlocks = 4))(
      simhashPairs(nBlocks = 4, elementHash32, simhash32FromHashes)),

    // ------------------------------------------ SimHash, 64-bit sketch
    // The wide-sketch variant of q_dedup_simhash — the production form
    // past ~10⁴ docs. SCALING.md round 6 measured the 32-bit sketch's
    // chance-collision background (Σ₀⁶C(32,k)/2³² ≈ 2.7e-4 per
    // unrelated pair) dominating its output quadratically at sf1;
    // widening the sketch drops that tail to Σ₀⁶C(60,k)/2⁶⁰ ≈ 5e-11
    // (60 significant bits) while true near-dups — whose hamming
    // distance tracks edit distance, not sketch width — still collide.
    // Same scan-stage simhash64 kernel, but TWO-CLEAN-BLOCK pigeonhole
    // blocking (8 disjoint blocks over the 60 significant bits, join on
    // the 28 block-pair keys — hamming ≤ 6 guarantees a clean pair, so
    // recall is exact while chance candidates drop ~29× vs single-byte
    // blocks; see [[simhashPairs64PairBlocked]]), verify only
    // co-blocked pairs. Feature hashes are 60-bit SHA prefixes (15 hex
    // chars): the 16th would overflow the oracle's signed-BIGINT hex
    // fold. The oracle keeps the one-clean-block (7-byte) join: both
    // blockings are full-recall, so the verified output is identical.
    GraftQuery("q_dedup_simhash64", simhashOracleSql(hexLen = 15, nBlocks = 7))(
      simhashPairs64PairBlocked(elementHash60, simhash64FromHashes)),

    // ----------------------------------------------- contamination scan
    // Train/eval contamination detection — the dedup and split
    // primitives composed: every document gets a deterministic
    // hash-bucket split (80/10/10, as q_split_assign) and a normalizing
    // fingerprint (as q_dedup_exact, over the planted-copy corpus so
    // cross-split exact dups provably exist); an eval-side document is
    // CONTAMINATED when its fingerprint also appears in train. Scale:
    // the train side collapses to distinct fingerprints before the
    // equi-join on the 64-char key — eval never all-pairs anything.
    GraftQuery(
      "q_contamination",
      contaminationOracleSql) { (s, dir) =>
      val withSplit = contaminationSplits(t(s, dir, "documents"))
      val train = withSplit.filter(col("split") === "train")
        .groupBy(col("fp")).agg(min(col("doc_id")).as("train_doc"))
      withSplit.filter(col("split") =!= "train")
        .select(col("doc_id").as("eval_doc"), col("split"), col("fp"))
        .join(train, "fp")
        .select(col("eval_doc"), col("split"), col("train_doc"), col("fp"))
        .orderBy(col("eval_doc"))
    },

    // --------------------------------------- contamination, Bloom form
    // The same contamination scan in the shape a 100 TB deployment runs
    // it: the train side folds into an 8 KiB Bloom bitset with ONE
    // typed aggregation (map-side partial buffers OR together — only
    // |partitions| bitsets cross the exchange), the bitset broadcasts
    // as a one-row frame, and eval-side non-members die in the SCAN
    // stage (codegen'd probe, graft.operators.BloomMightContain)
    // before the confirm join ever shuffles a row. Bloom filters have
    // no false negatives and the exact equi-join confirms survivors,
    // so the answer — and the oracle — is IDENTICAL to q_contamination;
    // the filter only shrinks the shuffled candidate stream (FP rate
    // (1−e^(−kn/m))^k ≈ 3·10⁻⁷ at n=400, m=2¹⁶, k=4; BloomFilterSpec
    // measures selectivity and zero-miss on the planted dups).
    GraftQuery(
      "q_contamination_bloom",
      contaminationOracleSql) { (s, dir) =>
      import s.implicits._
      import graft.operators.{BloomBuild, BloomFilter, BloomHashes}
      val (h1, h2) = BloomFilter.hashColumns(col("fp"))
      val withH = contaminationSplits(t(s, dir, "documents"))
        .withColumn("h1", h1).withColumn("h2", h2)
      val train = withH.filter(col("split") === "train")
      val bloom = new BloomBuild(BloomFilter.DefaultBits, BloomFilter.DefaultProbes)
      val bloomRow = train.select(col("h1"), col("h2")).as[BloomHashes]
        .select(bloom.toColumn).toDF("bloom")
      val trainFp = train.groupBy(col("fp")).agg(min(col("doc_id")).as("train_doc"))
      withH.filter(col("split") =!= "train")
        .join(broadcast(bloomRow))
        .filter(BloomFilter.mightContain(col("bloom"), col("h1"), col("h2")))
        .select(col("doc_id").as("eval_doc"), col("split"), col("fp"))
        .join(trainFp, "fp")
        .select(col("eval_doc"), col("split"), col("train_doc"), col("fp"))
        .orderBy(col("eval_doc"))
    },

    // ------------------------------------- contamination, n-gram form
    // Benchmark-style n-gram overlap decontamination (the 8-gram
    // collision method of the GPT-3/PaLM contamination appendices —
    // stricter than whole-doc fingerprints: a PARTIAL copy inside an
    // otherwise-novel doc still collides): an eval doc is flagged when
    // any of its distinct lowercased 8-token shingles appears anywhere
    // in train. Scale shape: the gram explode is scan-stage; train
    // collapses to DISTINCT grams before the equi-join, and the
    // aggregation is per (doc, split) with map-side combine. At 100 TB
    // the train gram set becomes a broadcast Bloom bitset over gram
    // hashes (compose graft.operators.BloomFilter exactly as
    // q_contamination_bloom) with this exact join as the confirm stage.
    GraftQuery(
      "q_contamination_ngram", {
        val gram8 = (0 until 8).map(k => s"ts[i+$k]").mkString(" || ' ' || ")
        s"""WITH c AS ($exactDupCorpusSql),
           |f AS (
           |  SELECT doc_id, text,
           |    list_sum([(strpos('0123456789abcdef', substring(h, p, 1)) - 1)
           |              * CAST(16**(7 - p) AS BIGINT) FOR p IN range(1, 8)]) % 100 AS bucket
           |  FROM (SELECT doc_id, text,
           |          substring(sha256(CAST(doc_id AS VARCHAR)), 1, 7) AS h FROM c)),
           |s AS (SELECT doc_id,
           |        CASE WHEN bucket < 80 THEN 'train'
           |             WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
           |        regexp_extract_all(lower(text), '\\S+') AS ts
           |      FROM f),
           |g AS (SELECT doc_id, split,
           |        unnest(list_distinct([$gram8
           |                              FOR i IN range(1, len(ts) - 6)])) AS gram
           |      FROM s WHERE len(ts) >= 8),
           |tg AS (SELECT DISTINCT gram FROM g WHERE split = 'train')
           |SELECT g.doc_id AS eval_doc, g.split,
           |  CAST(count(*) AS BIGINT) AS n_overlap, min(g.gram) AS first_gram
           |FROM g JOIN tg USING (gram)
           |WHERE g.split <> 'train'
           |GROUP BY 1, 2 ORDER BY eval_doc""".stripMargin
      }) { (s, dir) =>
      // JOINLESS single-pass form: a train/eval split-then-self-join
      // would re-execute the tokenize+shingle scan per branch (filter
      // pushdown splits any barrier exchange) and shuffle the gram
      // stream twice. Instead ONE window over the gram partition marks
      // each gram's train-presence — one scan, one gram exchange, and
      // the per-doc rollup; no join anywhere in the plan (PlanSpec
      // pins exchange count and joinlessness).
      val wGram = org.apache.spark.sql.expressions.Window.partitionBy(col("gram"))
      contaminationSplits(t(s, dir, "documents"))
        .select(col("doc_id"), col("split"), tokens(lower(col("text"))).as("ts"))
        .filter(size(col("ts")) >= 8)
        .select(col("doc_id"), col("split"),
          explode(array_distinct(shinglesFromTokens(col("ts"), 8))).as("gram"))
        .withColumn("in_train",
          max(when(col("split") === "train", 1).otherwise(0)).over(wGram))
        .filter(col("split") =!= "train" && col("in_train") === 1)
        .groupBy(col("doc_id"), col("split"))
        .agg(count(lit(1)).as("n_overlap"), min(col("gram")).as("first_gram"))
        .select(col("doc_id").as("eval_doc"), col("split"),
          col("n_overlap"), col("first_gram"))
        .orderBy(col("eval_doc"))
    },

    // ---------------------------------------------- embedding near-dup
    // Cosine near-dup over the embedding column, LSH-then-verify (the
    // 100 TB shape — NO all-pairs stage anywhere): `bands` independent
    // dense ±1 random-hyperplane sign buckets (`bits` sign tests each,
    // pinned constants shared with the oracle SQL); candidate pairs
    // agree on (band, bucket) — an equi-join on a small key — and the
    // exact codegen'd cosine verifies candidates only. Norms are
    // per-vector scan-stage columns. The all-pairs exact form survives
    // as the RECALL oracle in DedupSemanticsSpec (planted near-dup
    // copies; banded blocking finds >90% of cosine≥0.95 pairs),
    // PlanSpec asserts this plan has no cartesian/BNL join, and
    // SCALING.md measures the (bands, bits) candidate-volume knob.
    GraftQuery(
      "q_dedup_embed",
      s"""${embedPairSql(recursive = false)}
        |SELECT id_a, id_b, round(cos, 4) AS cosine
        |FROM p WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      embedPairsServed(s, dir, 0.4).orderBy(col("id_a"), col("id_b"))
    },

    // ------------------------------------- embedding near-dup clusters
    // The semantic-dedup path composed end-to-end, mirroring the
    // lexical q_dedup_clusters gate: banded sign-LSH candidates →
    // exact-cosine verify → transitive closure
    // ([[graft.operators.ConnectedComponents]]) → keep-min-id curation
    // verdict (keep = 1 exactly for each cluster's minimum vec_id —
    // singletons keep themselves). The oracle re-derives the closure as
    // a recursive CTE over the same verified pair list; labels are
    // min-reachable-id on both sides, so outputs align without any
    // ordering convention beyond the final ORDER BY.
    GraftQuery(
      "q_dedup_embed_clusters", embedClustersSql()) { (s, dir) =>
      // pair stage served from the same incrementally-built sign-bucket
      // table as q_dedup_embed (build half → append half → compact) —
      // the embedding mirror of q_dedup_clusters' lifecycle gate
      embedClustersFromBuckets(s, incrementalSignBucketsPath(s, dir),
        t(s, dir, "embeddings"))
    },

    // The embedding deletion lifecycle under the oracle hash — the
    // semantic mirror of q_dedup_clusters_deleted: the sign-bucket
    // index built as build + append + takedown A (vec_id ≡ 3 mod 14,
    // physically PURGED) + takedown B (≡ 10 mod 14, tombstone-SERVED)
    // + replayed batch A (pinned no-op). A deleted vector leaves every
    // pair and cluster, and a cluster it bridged re-splits — labels
    // derive from surviving edges at serve time.
    GraftQuery(
      "q_dedup_embed_clusters_deleted",
      embedClustersSql(
        candFilter = " AND id_a % 7 <> 3 AND id_b % 7 <> 3")) { (s, dir) =>
      embedClustersFromBuckets(s, incrementalSignBucketsDeletedPath(s, dir),
        t(s, dir, "embeddings"))
    },

    // ------------------------------ maintained semantic labels serve
    // The embedding mirror of q_dedup_clusters_maintained: the labels
    // table is built by driving StreamingPipeline.maintainEmbedClusters
    // over four batched vector arrivals (landed store append →
    // exactly-once sign-bucket append → batch-touching cosine-verified
    // pair probe → persisted delta → partitioned label upsert, with
    // both compaction kinds firing mid-stream), then the closure is
    // SERVED from that table against the same recursive-CTE oracle as
    // the one-shot q_dedup_embed_clusters — so "continuously-maintained
    // semantic labels == full recompute" is the identity the driver
    // hash-checks. A LIFECYCLE GATE like its lexical twin: production
    // pays one fold per arriving batch, the four-fold rebuild here is
    // the gate's cost, not the loop's.
    GraftQuery(
      "q_dedup_embed_clusters_maintained",
      s"""${embedPairSql(recursive = true)},
        |pe AS (SELECT id_a, id_b FROM p WHERE cos >= 0.4),
        |edges AS (SELECT id_a AS u, id_b AS w FROM pe
        |          UNION SELECT id_b, id_a FROM pe),
        |reach AS (
        |  SELECT u AS node, u AS lab FROM (SELECT DISTINCT u FROM edges)
        |  UNION
        |  SELECT e.w AS node, r.lab FROM reach r JOIN edges e ON e.u = r.node),
        |cl AS (SELECT node AS vec_id, min(lab) AS cluster_id FROM reach GROUP BY node)
        |SELECT vec_id, cluster_id,
        |  CAST(count(*) OVER (PARTITION BY cluster_id) AS INTEGER) AS csize
        |FROM cl ORDER BY vec_id""".stripMargin) { (s, dir) =>
      Tables.parquetCachedSchema(s, maintainedEmbedLabelsPath(s, dir))
        .select(col("id").as("vec_id"), col("component").as("cluster_id"))
        .withColumn("csize",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("cluster_id"))).cast(IntegerType))
        .orderBy(col("vec_id"))
    })
}
