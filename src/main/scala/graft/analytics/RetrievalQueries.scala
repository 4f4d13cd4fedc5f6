package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{
  DecimalType, IntegerType, LongType, StringType, StructField, StructType}

import graft.core.Tables
import graft.functions.SimilarityFunctions.{dot, l2Norm}
import graft.functions.TextFunctions.tokens
import graft.analytics.SimilarityQueries.{dotSql, embDoubleSql}

/** Lexical retrieval over the document corpus — the keyword half of the
  * retrieval stack the ANN family provides the vector half of. Okapi
  * BM25 (Robertson et al., TREC-3) top-k search, a stored inverted
  * postings index with the engine's exactly-once incremental lifecycle,
  * and reciprocal-rank fusion (Cormack et al. 2009) of the lexical and
  * vector rankings — the standard hybrid-search combiner.
  *
  * Cross-engine exactness (the hash-gate discipline):
  *
  *   - The BM25 term-frequency normalization is computed as ONE exact
  *     integer ratio. With k1 = 6/5 and b = 3/4 the textbook form
  *     tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)), avgdl = totlen/N,
  *     rearranges to
  *
  *         44·tf·totlen / (20·tf·totlen + 6·totlen + 18·dl·N)
  *
  *     — products widened to decimal(38,0) on the Spark side and
  *     HUGEINT on the DuckDB side ([[tfNorm]]), so both engines carry
  *     exact 128-bit-class integers to ~10³⁸: a BIGINT product would
  *     silently wrap past 44·tf·totlen ≥ 2⁶³ (one megatoken document
  *     against a 10¹³-token corpus puts tf·totlen at 10¹⁹ > 2·10¹⁷)
  *     while DuckDB widened — wrong-but-plausible scores invisible to
  *     the oracle. Widened, the ratio is exact to tf·totlen < 2·10³⁶
  *     (beyond any physical corpus), followed by exactly one
  *     exact-INT→DOUBLE conversion per side (IEEE round-to-nearest,
  *     identical in both engines) and one IEEE division.
  *     [[RetrievalSpec]] drives the product past 2⁶³ and checks the
  *     hand-computed BigDecimal value on both scoring consumers.
  *   - idf = log2(1 + (N − df + ½)/(df + ½)) (the Lucene always-
  *     positive variant) runs libm log2 on a bit-identical argument and
  *     is quantized to the 2⁻³⁰ dyadic grid ([[TextQueries.quantizeLog2]])
  *     so a 1-ulp cross-engine log2 difference cannot reach the sum —
  *     the exact mechanism the LM perplexity gate proved.
  *   - Per-candidate scores fold in TERM order (sort_array → left fold
  *     / DuckDB `list(... ORDER BY term)` → list_reduce), so the float
  *     sum is order-identical; ranking runs on the raw folded double
  *     (bit-identical), display rounds after.
  *
  * 100 TB shape: the query-term table is tiny (queries × top terms) and
  * broadcasts; corpus postings semi-join it BEFORE any aggregation, so
  * candidate mass is bounded by the posting lists of the query terms —
  * the inverted-index access path, not a corpus scan. df/dl/totlen/N
  * are corpus STATE (stored, incrementally maintained — see
  * [[incrementalPostingsDirs]]); the served form never tokenizes the
  * corpus. This synthetic corpus's 31-word vocabulary makes every term
  * a stopword (posting lists ≈ the corpus), which exercises the worst
  * case; a real vocabulary prunes by orders of magnitude.
  *
  * Reference anchor: the reference pipeline has no search operator —
  * this family is part of the training-data-curation surface (query-
  * based decontamination, targeted corpus audit) the 100 TB engine
  * needs beyond the reference's ingest scope.
  */
object RetrievalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Number of query documents (doc_id < NQueries) and query terms per
    * document — the per-doc salient terms become the lexical query,
    * mirroring the ANN family's "first n vectors are the query set".
    */
  private val NQueries = 5
  private val TermsPerQuery = 3
  private val TopK = 10
  /** Per-family candidate depth feeding the RRF fusion. */
  private val FuseDepth = 20

  // ------------------------------------------------------------------
  // Shared oracle SQL
  // ------------------------------------------------------------------

  /** The BM25 chain through the ranked relation `bmr(q_id, n_id,
    * matched, score, rank)` — shared verbatim by q_bm25_topk,
    * q_bm25_served (full-recompute oracle for the stored-index serve)
    * and the hybrid fusion oracle.
    */
  private[analytics] def bm25CtesSql: String =
    s"""$bm25CorpusCtesSql,
       |qtf AS (SELECT doc_id AS q_id, term, count(*) AS tf FROM tokq
       |        WHERE doc_id < $NQueries GROUP BY doc_id, term),
       |qt AS (SELECT q_id, term FROM (
       |         SELECT q_id, term, row_number() OVER (PARTITION BY q_id
       |           ORDER BY tf DESC, term) AS rk FROM qtf)
       |       WHERE rk <= $TermsPerQuery),
       |$bm25ScoreCtesSql""".stripMargin

  /** The corpus-state CTEs (tokenized stream, doc lengths, the 1-row
    * scalars) — shared by the corpus-derived and external-text query
    * forms.
    */
  private def bm25CorpusCtesSql: String =
    s"""tokq AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS term
       |         FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tokq GROUP BY doc_id),
       |gs AS (SELECT (SELECT count(*) FROM documents) AS n,
       |              (SELECT count(*) FROM tokq) AS totlen)""".stripMargin

  /** External-text query-term CTEs: query texts arrive as
    * (q_id < 0, text) rows in `xqSql` — the NEGATIVE internal ids of
    * the user-facing search entries, so the corpus self-exclusion in
    * the scoring join never fires and an external query that exactly
    * matches a stored document retrieves it. Same salient-term rule
    * as the corpus form (top [[TermsPerQuery]] by tf desc, term asc).
    */
  private def bm25TextQtSql(xqSql: String): String =
    s"""xq AS ($xqSql),
       |xtok AS (SELECT q_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS term
       |         FROM xq),
       |qtf AS (SELECT q_id, term, count(*) AS tf FROM xtok
       |        GROUP BY q_id, term),
       |qt AS (SELECT q_id, term FROM (
       |         SELECT q_id, term, row_number() OVER (PARTITION BY q_id
       |           ORDER BY tf DESC, term) AS rk FROM qtf)
       |       WHERE rk <= $TermsPerQuery)""".stripMargin

  /** The scoring chain from `qt(q_id, term)` through the ranked
    * relation `bmr` — shared by every BM25 oracle so the kernel
    * (HUGEINT ratio, quantized idf, term-ordered fold) cannot drift
    * between the corpus-derived and external-text forms.
    */
  private def bm25ScoreCtesSql: String =
    s"""pst AS (SELECT doc_id, term, count(*) AS tf FROM tokq
       |        WHERE term IN (SELECT DISTINCT term FROM qt)
       |        GROUP BY doc_id, term),
       |dft AS (SELECT term, count(*) AS df FROM pst GROUP BY term),
       |idf AS (SELECT d.term,
       |          floor(log2(1.0 + (g.n - d.df + 0.5) / (d.df + 0.5))
       |                * 1073741824.0) / 1073741824.0 AS idf
       |        FROM dft d, gs g),
       |sc AS (SELECT q.q_id, p.doc_id AS n_id, p.term,
       |         i.idf * (CAST(44 * CAST(p.tf AS HUGEINT) * g.totlen AS DOUBLE)
       |                  / CAST(20 * CAST(p.tf AS HUGEINT) * g.totlen
       |                         + 6 * CAST(g.totlen AS HUGEINT)
       |                         + 18 * CAST(l.dl AS HUGEINT) * g.n AS DOUBLE)) AS sc
       |       FROM qt q
       |       JOIN pst p ON p.term = q.term AND p.doc_id <> q.q_id
       |       JOIN idf i ON i.term = q.term
       |       JOIN dl l ON l.doc_id = p.doc_id
       |       CROSS JOIN gs g),
       |bagg AS (SELECT q_id, n_id,
       |           CAST(count(*) AS INTEGER) AS matched,
       |           list_reduce(list(sc ORDER BY term), (a, x) -> a + x) AS score
       |         FROM sc GROUP BY q_id, n_id),
       |bmr AS (SELECT q_id, n_id, matched, score,
       |          CAST(row_number() OVER (PARTITION BY q_id
       |            ORDER BY score DESC, n_id) AS INTEGER) AS rank
       |        FROM bagg)""".stripMargin

  private def bm25TopkSql: String =
    s"""WITH $bm25CtesSql
       |SELECT q_id, n_id, rank, matched,
       |  floor(score * 10000) / 10000 AS bm25
       |FROM bmr WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin

  /** The deletion-lifecycle oracle: a full recompute over the
    * SURVIVING corpus (every doc_id ≡ 3 mod 7 taken down) with the
    * query side still drawn from the ORIGINAL query documents — a
    * deleted doc stops being retrievABLE, not askable. Shares
    * [[bm25ScoreCtesSql]] verbatim, so the scoring kernel cannot
    * drift between the standard and post-takedown forms; dl / gs /
    * pst all derive from the survivor-filtered token stream, which is
    * exactly the retraction the served index must reproduce through
    * its tombstones and purged bytes.
    */
  private def bm25DeletedSql: String =
    s"""WITH tokq0 AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS term
       |  FROM documents),
       |qtf AS (SELECT doc_id AS q_id, term, count(*) AS tf FROM tokq0
       |        WHERE doc_id < $NQueries GROUP BY doc_id, term),
       |qt AS (SELECT q_id, term FROM (
       |         SELECT q_id, term, row_number() OVER (PARTITION BY q_id
       |           ORDER BY tf DESC, term) AS rk FROM qtf)
       |       WHERE rk <= $TermsPerQuery),
       |tokq AS (SELECT * FROM tokq0 WHERE doc_id % 7 <> 3),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tokq GROUP BY doc_id),
       |gs AS (SELECT (SELECT count(*) FROM documents
       |               WHERE doc_id % 7 <> 3) AS n,
       |              (SELECT count(*) FROM tokq) AS totlen),
       |$bm25ScoreCtesSql
       |SELECT q_id, n_id, rank, matched,
       |  floor(score * 10000) / 10000 AS bm25
       |FROM bmr WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------------------------
  // External-search catalog twins: the user-facing serve entries
  // (bm25SearchText / phraseSearchText / hybridSearch) under the SAME
  // DuckDB hash gate as everything else. The query inputs must be
  // re-derivable by the oracle, so each twin takes one query drawn
  // from a corpus row (collected driver-side and passed through the
  // EXTERNAL entry — the negative-id path end to end, including
  // exact-match retrieval of the stored twin) plus, for BM25, one
  // pure literal string.
  // ------------------------------------------------------------------

  /** Corpus row whose text (and, for hybrid, embedding) plays the
    * external query — deliberately ≥ NQueries so the twin exercises a
    * query the corpus-derived gates never use, and < 10 (the ANN
    * encode CTEs' query-lookup bound).
    */
  private val ExternalQueryId = 7

  /** Corpus-prefix bound for q_phrase_text_n4's WINNER derivation —
    * the gate scaffolding that picks corpus-frequent 4-gram phrases.
    * Covers the whole corpus at sf ≤ 0.01 (500 docs), so the gate's
    * winners and hashes there are unchanged; at larger corpora it
    * caps the scaffolding tokenize at a constant (the SERVE the gate
    * exists to check remains whole-corpus through the stored
    * positional index).
    */
  private val PhraseDeriveDocs = 2048

  /** A pure literal external query — vocabulary words so it retrieves
    * rows at every scale factor; 4 distinct tf-1 terms so the
    * salient-term cut (top 3 by tf desc, term asc) is non-trivial.
    */
  private val ExternalLiteralQuery = "stream filter window merge"

  private def bm25TextSql: String =
    s"""WITH $bm25CorpusCtesSql,
       |${bm25TextQtSql(
        s"""SELECT CAST(-1 AS BIGINT) AS q_id, text FROM documents
           |          WHERE doc_id = $ExternalQueryId
           |          UNION ALL
           |          SELECT CAST(-2 AS BIGINT) AS q_id,
           |            '$ExternalLiteralQuery' AS text""".stripMargin)},
       |$bm25ScoreCtesSql
       |SELECT -q_id - 1 AS q_id, n_id, rank, matched,
       |  floor(score * 10000) / 10000 AS bm25
       |FROM bmr WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin

  /** The external n=4 phrase twins' oracle: THREE phrases, each
    * re-derivable from the corpus by a deterministic rule so the gate
    * carries a multi-row, distinct-count ranking instead of the 1-row
    * existence check it started as —
    *  - q 0: the corpus-wide most frequent 4-gram (occurrences DESC,
    *    gram ASC) — multi-document hits, so the (occurrences DESC,
    *    n_id) ranking's tie-break is exercised across several rows;
    *  - q 1: the 4-gram with the highest single-document repeat count
    *    (max-per-doc DESC, occurrences DESC, gram ASC) — rows with
    *    occurrences > 1, so the result set carries DISTINCT counts and
    *    a count-ordering bug cannot hash-match;
    *  - q 2: the first four tokens of the query document (the original
    *    exact-match twin).
    * Occurrences counted by a direct sliding 4-gram window (the
    * full-recompute mirror of the positional-index walk — same
    * relation, proven equivalent by the seeded brute-force spec).
    */
  private def phraseTextSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS ts
       |  FROM documents),
       |win AS (SELECT doc_id, ts,
       |          unnest(range(1, len(ts) - 2)) AS i
       |        FROM tk WHERE len(ts) >= 4),
       |g4 AS (SELECT doc_id,
       |         ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]
       |           AS g
       |       FROM win),
       |per AS (SELECT g, doc_id, count(*) AS c FROM g4
       |        WHERE doc_id < $PhraseDeriveDocs GROUP BY g, doc_id),
       |st AS (SELECT g, sum(c) AS occ, max(c) AS mx FROM per GROUP BY g),
       |p0 AS (SELECT g FROM st ORDER BY occ DESC, g LIMIT 1),
       |p1 AS (SELECT g FROM st ORDER BY mx DESC, occ DESC, g LIMIT 1),
       |p2 AS (SELECT ts[1] || ' ' || ts[2] || ' ' || ts[3] || ' ' || ts[4]
       |         AS g
       |       FROM tk WHERE doc_id = $ExternalQueryId),
       |ph AS (SELECT CAST(0 AS BIGINT) AS q_id, g FROM p0
       |       UNION ALL SELECT CAST(1 AS BIGINT) AS q_id, g FROM p1
       |       UNION ALL SELECT CAST(2 AS BIGINT) AS q_id, g FROM p2),
       |occ AS (SELECT p.q_id, w.doc_id AS n_id, count(*) AS occurrences
       |        FROM g4 w JOIN ph p ON w.g = p.g
       |        GROUP BY p.q_id, w.doc_id),
       |r AS (SELECT q_id, n_id, occurrences,
       |        CAST(row_number() OVER (PARTITION BY q_id
       |          ORDER BY occurrences DESC, n_id) AS INTEGER) AS rank
       |      FROM occ)
       |SELECT q_id, n_id, rank, occurrences
       |FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin

  /** The external hybrid twin's oracle: BM25 arm from the external-
    * text CTEs, vector arm from the external-vector ANN chain (both
    * riding internal id −1, mapped to position 0 before fusion — the
    * map is per-query bijective, so fusing mapped ids equals mapping
    * the fused result).
    */
  private def hybridTextSql: String =
    s"""WITH $bm25CorpusCtesSql,
       |${bm25TextQtSql(
        s"""SELECT CAST(-1 AS BIGINT) AS q_id, text FROM documents
           |          WHERE doc_id = $ExternalQueryId""".stripMargin)},
       |$bm25ScoreCtesSql,
       |e AS ($embDoubleSql),
       |${SimilarityQueries.ivfPqRankedExternalCtesSql(ExternalQueryId, 2, 24)},
       |bt AS (SELECT -q_id - 1 AS q_id, n_id, rank AS bm_rank FROM bmr
       |       WHERE rank <= $FuseDepth),
       |ct AS (SELECT -q_id - 1 AS q_id, n_id, rank AS cos_rank FROM annr
       |       WHERE rank <= $FuseDepth),
       |$rrfFuseSql""".stripMargin

  // ------------------------------------------------------------------
  // Shared Spark-side pieces
  // ------------------------------------------------------------------

  /** The exact BM25 tf-normalization ratio
    * 44·tf·totlen / (20·tf·totlen + 6·totlen + 18·dl·N) — THE scoring
    * kernel of every BM25 consumer (one-shot, served, both hybrid
    * arms, the streaming relevance gate), factored out so the overflow
    * guard cannot drift between them. Every product runs in
    * decimal(38,0) (exact integers to ~10³⁸ — decimal×decimal at
    * scale 0 keeps scale 0, so no rounding ever occurs), mirroring the
    * oracle's HUGEINT widening; the ONLY inexact steps are the final
    * exact-integer→DOUBLE conversion per side (IEEE round-to-nearest
    * in both engines: Spark's Decimal.toDouble and DuckDB's
    * HUGEINT→DOUBLE are both correctly rounded) and one IEEE division.
    * A BIGINT pipeline wraps silently past 44·tf·totlen ≥ 2⁶³ — the
    * unguarded-overflow class [[graft.operators.QuantizedLr]] was
    * cured of with exactly this widening.
    */
  private[graft] def tfNorm(
      tf: Column, dl: Column, n: Column, totlen: Column): Column = {
    val d = DecimalType(38, 0)
    val tfTot = tf.cast(d) * totlen.cast(d)
    val num = lit(44).cast(d) * tfTot
    val den = lit(20).cast(d) * tfTot + lit(6).cast(d) * totlen.cast(d) +
      lit(18).cast(d) * dl.cast(d) * n.cast(d)
    num.cast("double") / den.cast("double")
  }

  /** The salient-term query set (q_id, term) for documents doc_id <
    * NQueries: top terms by (tf DESC, term) WITHIN the query document —
    * integer-exact ranking, no corpus state, so the query side is a
    * pure function of the query docs alone.
    */
  private def queryTerms(docs: DataFrame, nQueries: Int = NQueries): DataFrame = {
    val s = docs.sparkSession
    if (nQueries.toLong * TermsPerQuery <= PushdownTermsMax) {
      // Driver-sized by the same bound that picks the literal fetch
      // arm: ONE slim collect of the query docs' texts and the
      // DRIVER-SIDE salient-term cut ([[externalQueryTerms]]'s
      // tokenizer and tie-break, property-pinned against
      // [[queryTermsAll]] in RetrievalSpec and hash-gated by
      // q_bm25_text): one scan job where the distributed frame runs a
      // 3-exchange chain. Bulk batches past the bound keep that frame,
      // like the postings JOIN arm.
      import s.implicits._
      queryDocTexts(docs, nQueries)
        .flatMap { case (id, text) => salientTerms(text).map(t => (id, t)) }
        .toDF("q_id", "term")
    } else queryTermsAll(docs.filter(col("doc_id") < nQueries))
  }

  /** The query docs' `(doc_id, text)` rows on the driver, in id order —
    * the one slim collect behind every driver-side query arm. The id is
    * read through a cast to long, so a documents table with INT (or any
    * integral) ids serves like a BIGINT one; NULL texts are dropped.
    */
  private def queryDocTexts(
      docs: DataFrame, nQueries: Int): Seq[(Long, String)] =
    docs.filter(col("doc_id") < nQueries)
      .select(col("doc_id").cast("long"), col("text")).collect().toSeq
      .flatMap(r => Option(r.getString(1)).map(t => (r.getLong(0), t)))
      .sortBy(_._1)

  /** Salient terms of EVERY doc in `qdocs` — the un-filtered body
    * behind [[queryTerms]], shared with the external-text search
    * entry ([[bm25SearchText]], whose query frame is not id-bounded).
    */
  private[graft] def queryTermsAll(qdocs: DataFrame): DataFrame = {
    val qtok = qdocs
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
    val wq = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("term"))
    qtok.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= TermsPerQuery)
      .select(col("doc_id").as("q_id"), col("term"))
  }

  /** The stored-index BM25 serve at an arbitrary query-batch size —
    * the library form behind q_bm25_served (which fixes nQueries to
    * the gated catalog value).
    */
  def bm25ServedTopK(s: SparkSession, dir: String, nQueries: Int): DataFrame =
    bm25Project(bm25ServedRanked(s, dir, nQueries))

  /** Query-term-count BOUND (nQueries × TermsPerQuery — known on the
    * driver before any job) above which [[bm25ServedRanked]] switches
    * from the collect-and-literal-pushdown fetch to a broadcast
    * semi-join of the term frame against the postings table. The
    * literal arm is the interactive-batch plan: O(query posting lists)
    * IO via bkt partition + term row-group pruning — but its collect
    * and the In-literal planning cost grow with the term count (tens
    * of thousands of literals stall the driver, the million-query
    * offline-join shape the round-14 self-review named). The JOIN arm
    * reads the postings table once and semi-joins the (still
    * vocab-bounded, broadcastable) distinct-term frame — no collect,
    * no literal explosion; at that query scale a full index pass is
    * the right plan. Set at the measured crossover (SCALING.md round
    * 15, "Size-aware BM25 serve arms";
    * 200k docs × 100k-term synthetic vocabulary, warm medians:
    * literal/join 1.02/1.84 s at 15 terms, 1.63/2.43 at 1.5k,
    * 2.79/3.77 at 6k, 4.53/4.72 at 18k, 6.55/5.91 at 45k — crossover
    * ~2·10⁴, and it moves UP with corpus size because the join arm's
    * postings pass is corpus-sized while the literal arm's
    * collect+planning cost is corpus-independent — see SCALING.md
    * round 15).
    */
  private val PushdownTermsMax = 16384L

  /** The stored-index serve as a RANKED relation (q_id, n_id, matched,
    * score, rank) — the BM25 arm of the indexed hybrid fusion and the
    * body behind [[bm25ServedTopK]].
    */
  private def bm25ServedRanked(
      s: SparkSession, dir: String, nQueries: Int): DataFrame =
    bm25RankedFromIndex(s, dir,
      queryTerms(t(s, dir, "documents"), nQueries),
      nQueries.toLong * TermsPerQuery)

  /** BM25 top-k for EXTERNAL query strings against the stored index —
    * the user-facing serve (the catalog's `q_bm25_served` derives its
    * queries from corpus docs so the DuckDB oracle can re-derive
    * them; a real search batch arrives as text). Each query string
    * gets the same salient-term treatment (top [[TermsPerQuery]] by
    * tf desc, term asc). Query ids in the output are the input
    * positions 0..n−1; internally they ride as NEGATIVE ids so the
    * corpus self-exclusion filter (n_id ≠ q_id, meaningful only when
    * queries ARE corpus docs) can never collide with a corpus doc id
    * — an external query that exactly matches a stored document must
    * retrieve it.
    */
  def bm25SearchText(
      s: SparkSession, dir: String, queries: Seq[String]): DataFrame =
    bm25Request(s, dir, queries).map("bm25SearchText")(ranked =>
      bm25Project(ranked)
        .withColumn("q_id", -col("q_id") - 1)
        .orderBy(col("q_id"), col("rank")))
      .prepare(s).run

  /** One external BM25 request over the stored index as a
    * [[Tables.Request]]: its query-term rows (slot `qt`) and the
    * bucket and term lists that prune the postings scan (slots `bkt`,
    * `term`), over the postings and doc-stats tables' generation.
    */
  private def bm25Request(
      s: SparkSession, dir: String, queries: Seq[String]): Tables.Request = {
    val dirs @ (pstDir, dlDir) = incrementalPostingsDirs(s, dir)
    val qt = externalTermRows(queries)
    val (terms, bkts) = Tables.valueBucketsLocal(
      qt.map(_.getString(1)), DedupQueries.tableBuckets(s, pstDir))
    val literal = queries.size.toLong * TermsPerQuery <= PushdownTermsMax
    Tables.Request(s"bm25|$pstDir|$dlDir|$literal",
      (graft.sinks.IncrementalParquet.generation(s, pstDir),
        graft.sinks.IncrementalParquet.generation(s, dlDir)),
      Tables.Bindings(rows = Map("qt" -> (QueryTermSchema, qt)),
        values = Map("bkt" -> bkts, "term" -> terms)),
      sl => bm25Served(s, dirs, sl.rows("qt"), literal,
        sl.isin(col("bkt"), "bkt") && sl.isin(col("term"), "term")))
  }

  /** The (q_id, term) schema of the external query-term relation. */
  private val QueryTermSchema = StructType(Seq(
    StructField("q_id", LongType, nullable = false),
    StructField("term", StringType)))

  /** Driver-side salient-term derivation for EXTERNAL query strings —
    * the query texts are driver strings already, so the per-query
    * top-terms cut runs as plain Scala and lands in the plan as ONE
    * local relation: no tokenize/window jobs per invocation, and the
    * literal arm's bucket collect reads it without a Spark job (the
    * interactive-serve planning floor is job-count × fixed overhead —
    * SCALING.md round 12, "The ANN serve drift adjudicated").
    * Semantics mirror [[queryTermsAll]] exactly: whitespace tokens
    * (the same java.util.regex \\S+ class Spark's regexp_extract_all
    * compiles) of the text lowercased by Spark's own lower()
    * ([[sparkLower]]), top [[TermsPerQuery]] by (tf desc, term asc).
    * The q_bm25_text / q_hybrid_text hash gates pin the identity
    * cross-engine.
    */
  private[graft] def externalQueryTerms(
      s: SparkSession, queries: Seq[String]): DataFrame =
    s.createDataFrame(
      java.util.Arrays.asList(externalTermRows(queries): _*), QueryTermSchema)

  /** The (q_id, term) rows behind [[externalQueryTerms]]. */
  private def externalTermRows(queries: Seq[String]): Seq[Row] =
    queries.zipWithIndex.flatMap { case (text, i) =>
      Option(text).toSeq.flatMap(salientTerms).map(t => Row(-(i + 1).toLong, t))
    }

  /** The driver-side salient-term cut of one text — THE tokenizer +
    * tie-break shared by [[externalQueryTerms]] and the localized
    * [[queryTerms]], factored so the two driver derivations cannot
    * drift from each other (their identity with the distributed
    * [[queryTermsAll]] is property-pinned in RetrievalSpec and
    * hash-gated by q_bm25_text / q_hybrid_text).
    */
  private def salientTerms(text: String): Seq[String] =
    "\\S+".r.findAllIn(sparkLower(text)).toSeq
      .groupBy(identity).view.mapValues(_.size).toSeq
      .sortWith { case ((t1, n1), (t2, n2)) =>
        n1 > n2 || (n1 == n2 && utf8Compare(t1, t2) < 0) }
      .take(TermsPerQuery)
      .map(_._1)

  /** The most frequent n-shingle of one text (ties by UTF-8 byte
    * order — the engine's string sort), or None when the text has
    * fewer than n tokens (shinglesFromTokens then emits nothing and
    * the grouped form drops the doc). The driver-side mirror of the
    * queryPhrases / trigram-gate derivations; same tokenizer as
    * [[salientTerms]], identity with the distributed window form
    * property-pinned in RetrievalSpec.
    */
  private[graft] def topShingle(text: String, n: Int): Option[String] = {
    val ts = "\\S+".r.findAllIn(sparkLower(text)).toSeq
    if (ts.length < n) None
    else Some(ts.sliding(n).map(_.mkString(" ")).toSeq
      .groupBy(identity).view.mapValues(_.size).toSeq
      .sortWith { case ((g1, c1), (g2, c2)) =>
        c1 > c2 || (c1 == c2 && utf8Compare(g1, g2) < 0) }
      .head._1)
  }

  /** `text` lowercased by Spark's own lower() — the expression the
    * corpus-side tokenizers run, evaluated eagerly on the driver (the
    * [[Tables.valueBucketsLocal]] discipline), so a driver-side query
    * derivation folds case exactly as the stored index did: under any
    * JVM default locale, and under either setting of
    * `spark.sql.icu.caseMappings.enabled` (ICU root-locale mappings by
    * default, the JVM's default-locale ones when it is off).
    */
  private[graft] def sparkLower(text: String): String = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Lower}
    Lower(Literal(text))
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty).toString
  }

  /** Unsigned UTF-8 byte comparison — the string order Spark
    * (UTF8String) and DuckDB (VARCHAR) both sort by. Java's
    * String.compareTo orders by UTF-16 code UNITS, which disagrees
    * for supplementary-plane characters (surrogates sort below
    * high-BMP code points), so a driver-side tie-break must not use
    * it: the salient-term cut could pick a different term than the
    * oracle re-derives at the TermsPerQuery boundary.
    */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** The stored-index serve body over an arbitrary query-term frame:
    * arm choice (see [[PushdownTermsMax]]), pruned postings fetch,
    * corpus scalars, ranking.
    */
  private def bm25RankedFromIndex(s: SparkSession, dir: String,
      qt: DataFrame, termBound: Long): DataFrame =
    bm25RankedFromDirs(s, incrementalPostingsDirs(s, dir), qt, termBound)

  /** [[bm25RankedFromIndex]] against EXPLICIT stored-table dirs — the
    * body behind both the standard serve and the deletion-lifecycle
    * gate (which serves from its own build+delete index tables).
    */
  private[graft] def bm25RankedFromDirs(s: SparkSession,
      dirs: (String, String),
      qt: DataFrame, termBound: Long): DataFrame =
    bm25Served(s, dirs, qt, termBound <= PushdownTermsMax, {
      val nb = DedupQueries.tableBuckets(s, dirs._1)
      val (terms, bkts) = Tables.valueBuckets(qt.select(col("term")), nb)
      col("bkt").isin(bkts: _*) && col("term").isin(terms: _*)
    }).run

  /** The stored-index BM25 body as a [[Tables.Served]] body: the
    * pruned postings, the doc stats and the query terms are its leaves,
    * and the literal arm's ranking is laid out by the request's tier.
    * The arm is chosen by the caller and, for the literal arm, so is
    * the postings scan's pruning predicate `prune` (by name: the join
    * arm never builds it).
    */
  private def bm25Served(s: SparkSession, dirs: (String, String),
      qt: DataFrame, literalArm: Boolean, prune: => Column): Tables.Served = {
    val (pstDir, dlDir) = dirs
    val pst =
      if (literalArm) {
        // LITERAL arm — the query-term set is driver-sized (queries ×
        // TermsPerQuery; the ANN family's query-side-collect
        // precedent): collect it and push LITERAL In-filters into the
        // postings scan: `bkt` prunes hive PARTITIONS (only buckets
        // containing a query term are listed at all) and `term` prunes
        // parquet ROW GROUPS (files are term-sorted). Without this the
        // serve reads the whole postings table to then join ≤
        // queries×terms distinct terms — the difference between
        // O(index) and O(posting lists of the query) IO at 100 TB.
        // This corpus's 31-term vocabulary hits every bucket (worst
        // case by design); the plan shape is pinned regardless.
        Tables.parquetCachedSchema(s, pstDir)
          .filter(prune)
          .select(col("doc_id"), col("term"), col("tf"))
      } else {
        // JOIN arm — the offline bulk-query shape: one postings pass,
        // semi-joined on the distinct-term frame with NO broadcast
        // hint: corpus-derived query sets are vocab-bounded, but an
        // external bulk batch's distinct terms grow with the query
        // text, and a forced broadcast bypasses AQE's size check and
        // targets the driver at exactly the scale this arm exists
        // for. AQE still broadcasts small term frames on its own; an
        // oversized one shuffle-joins on term and the job survives.
        Tables.parquetCachedSchema(s, pstDir)
          .join(qt.select(col("term")).distinct(), Seq("term"), "left_semi")
          .select(col("doc_id"), col("term"), col("tf"))
      }
    // takedown filtering: tombstoned docs stop ranking and stop
    // counting toward df the moment their delete batch acks (identity
    // — no plan change — for a never-deleted index)
    val pstLive = graft.sinks.IncrementalParquet
      .applyTombstones(s, pstDir, "doc_id")(pst)
    val dlT = graft.sinks.IncrementalParquet
      .applyTombstones(s, dlDir, "doc_id")(
        Tables.parquetCachedSchema(s, dlDir))
      .select(col("doc_id"), col("dl"))
    val gs = gsLocal(s, dlDir)
    // the bulk-query arm keeps the planner shape at any size: at the
    // query scales that pick it, the term frame itself may be too
    // large to force through the driver or into one task
    Tables.Served(Seq(pstLive, dlT, qt), tier =>
      bm25Ranked(qt, pstLive, dlT, gs,
        if (literalArm) tier else Tables.Tier.Planner))
  }

  /** Per doc-stats dir: its generation and its (N, totlen). */
  private val storedGsScalars = new java.util.concurrent.ConcurrentHashMap[
    String, ((Long, Long), (Long, Long))]()

  /** The 1-row (N, totlen) corpus scalars of a stored postings
    * generation, aggregated ONCE per doc-stats table and served as a
    * local relation afterwards: an interactive search call must not
    * pay a doc-stats-table aggregation per invocation — at scale that
    * is a corpus-doc-count-sized scan on every query (the
    * planning-floor lesson). The scalars are exact integer sums, so
    * the memo is bit-identical to the aggregation it replaces; the
    * table dirs are themselves fingerprint-memoized per corpus, so a
    * changed corpus changes the key (and the catalog hash gates pin
    * the round trip), and the memo holds the table's generation
    * ([[graft.sinks.IncrementalParquet.generation]]), so any mutation
    * (append, takedown, purge, compaction — in this JVM, or an append
    * by another process) recomputes the scalars.
    */
  private def gsLocal(s: SparkSession, dlDir: String): DataFrame = {
    val gen = graft.sinks.IncrementalParquet.generation(s, dlDir)
    val (_, (n, totlen)) = storedGsScalars.compute(dlDir, (_, v) =>
      if (v != null && v._1 == gen) v else (gen, survivingScalars(s, dlDir)))
    import s.implicits._
    Seq((n, totlen)).toDF("n", "totlen")
  }

  /** The SURVIVING (N, totlen) corpus scalars in ONE aggregation over
    * the tombstone-filtered doc-stats table: N = count of surviving dl
    * rows — exact because [[docStatsDeltas]] writes a dl row for EVERY
    * ingested doc (token-less ones carry dl = 0) — and totlen their
    * sum. Self-maintaining under the whole lifecycle: appends add
    * rows, a takedown's tombstones filter them, a purge removes them
    * physically (and clears the tombstones) — the scalars follow the
    * rows with no separate counter to retract (a separate doc-count
    * table would need its own exactly-once NEGATIVE deltas, and a
    * crash between retraction and purge would double-retract).
    */
  private def survivingScalars(
      s: SparkSession, dlDir: String): (Long, Long) = {
    val r = graft.sinks.IncrementalParquet
      .applyTombstones(s, dlDir, "doc_id")(
        Tables.parquetCachedSchema(s, dlDir))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("totlen"))
      .head
    (r.getLong(0), r.getLong(1))
  }

  /** BM25 ranked candidates `(q_id, n_id, matched, score, rank)` from
    * the corpus-state relations: `pst(doc_id, term, tf)` already
    * restricted to query terms, `dl(doc_id, dl)`, and the 1-row
    * `gs(n, totlen)`. Shared by the one-shot, served and hybrid forms —
    * only WHERE the state comes from differs (recompute vs stored) —
    * and laid out by `tier` ([[Tables.Tier]]): interactive batches
    * broadcast the (queries × TermsPerQuery) term frame, the bulk-query
    * JOIN arm ([[Tables.Tier.Planner]]) leaves it to the planner so an
    * unbounded offline query set shuffle-joins on term instead of being
    * forced through a driver-sized broadcast (AQE still broadcasts
    * small frames on its own).
    */
  private[graft] def bm25Ranked(
      qt: DataFrame, pst: DataFrame, dl: DataFrame, gs: DataFrame,
      tier: Tables.Tier = Tables.Tier.Broadcast): DataFrame = {
    // term-partition barrier: both consumers below (the df aggregation
    // and the scoring join) read `p` behind the SAME exchange, so
    // ReuseExchange runs the postings subtree ONCE — without it each
    // reference re-executes the tokenize/scan chain (the q_top_terms
    // lesson; 5 full-corpus tokenizer passes in this query's first
    // plan shape, 1 after). The one-partition tier reads its pruned
    // postings twice in the same task instead: the barrier would be
    // an exchange, i.e. a job.
    val p = if (tier.onePartition) tier.leaf(pst) else pst.repartition(col("term"))
    // df of the query terms only — derived from the already-filtered
    // postings, so the aggregation is posting-list-sized
    val dft = p.groupBy(col("term")).agg(count(lit(1)).as("df"))
    def idfOf(n: Column) = TextQueries.quantizeLog2(log2(lit(1.0) +
      (n - col("df") + lit(0.5)) / (col("df") + lit(0.5)))).as("idf")
    // the 1-row (n, totlen) scalars: driver-held ones fold in as
    // literals in the one-partition tier (the cross join below is a
    // BroadcastNestedLoopJoin, i.e. a job); otherwise they ride the
    // broadcast idf frame so their subtree is referenced exactly once
    // in the whole plan
    val idf = Tables.localRows(gs).filter(_ => tier.onePartition) match {
      case Some(Seq(r)) =>
        dft.select(col("term"), idfOf(lit(r.getLong(0))),
          lit(r.getLong(0)).as("n"), lit(r.getLong(1)).as("totlen"))
      case _ =>
        dft.crossJoin(broadcast(gs)).select(col("term"), idfOf(col("n")),
          col("n"), col("totlen"))
    }
    // one exact integer ratio per (candidate, term): decimal(38,0)
    // products (overflow-proof — see [[tfNorm]]), ONE cast to double
    // per side, one IEEE division, one IEEE multiply
    val cand = tier.single(tier.small(qt)
        .join(p.withColumnRenamed("doc_id", "n_id"), Seq("term")))
      .filter(col("n_id") =!= col("q_id"))
    val withIdf = tier.single(cand.join(
      if (tier.onePartition) tier.small(idf) else broadcast(idf), Seq("term")))
    val sc = withIdf
      .join(tier.leaf(dl).withColumnRenamed("doc_id", "n_id"), Seq("n_id"))
      .select(col("q_id"), col("n_id"), col("term"),
        (col("idf") *
          tfNorm(col("tf"), col("dl"), col("n"), col("totlen"))).as("sc"))
    val wr = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("n_id"))
    // fold per-term scores in TERM order so the double sum is
    // order-identical with the oracle's list_reduce(list(... ORDER BY term))
    sc.groupBy(col("q_id"), col("n_id"))
      .agg(count(lit(1)).cast(IntegerType).as("matched"),
        aggregate(
          sort_array(collect_list(struct(col("term"), col("sc")))),
          lit(0.0d), (acc, x) => acc + x.getField("sc")).as("score"))
      .withColumn("rank", row_number().over(wr).cast(IntegerType))
  }

  private def bm25Project(ranked: DataFrame): DataFrame =
    ranked.filter(col("rank") <= TopK)
      .select(col("q_id"), col("n_id"), col("rank"), col("matched"),
        (floor(col("score") * 10000) / 10000).as("bm25"))
      .orderBy(col("q_id"), col("rank"))

  /** Full-recompute corpus state from the documents table: postings
    * restricted to the query terms, per-doc length, and the 1-row
    * (n, totlen) scalars.
    */
  private[graft] def recomputedState(
      docs: DataFrame, qt: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val tok = docs.select(col("doc_id"),
      explode(tokens(lower(col("text")))).as("term"))
    // semi-join the (tiny, broadcast) query-term set BEFORE the tf
    // aggregation: only matching postings ever reach an exchange
    val pst = tok.join(broadcast(qt.select("term").distinct()), Seq("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    // doc length and corpus totals via regexp_count — scan-stage
    // projections with NO array materialization, explode or exchange
    // (the q_token_stats lesson); counting '\S+' matches equals
    // counting exploded tokens, so the oracle's groupBy form agrees
    val dl = docs.select(col("doc_id"),
      graft.functions.TextFunctions.tokenCount(col("text")).cast("long")
        .as("dl"))
    val gs = docs.agg(count(lit(1)).as("n"),
      sum(graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
        .as("totlen"))
    (pst, dl, gs)
  }

  // ------------------------------------------------------------------
  // Stored inverted postings — the engine's incremental-lifecycle
  // discipline applied to the lexical index: postings (doc_id, term,
  // tf) and doc stats (doc_id, dl) are document-keyed and immutable
  // (a doc's postings never change), so incremental maintenance is
  // pure exactly-once APPEND of each batch's rows — the ack protocol
  // is the correctness condition (a replayed batch would double every
  // tf), exactly as for the df table in TextQueries. The doc-count
  // table is sum-mergeable semigroup state. The SERVED query never
  // tokenizes the corpus: scoring state comes entirely from the stored
  // tables, and the full-recompute oracle checks the round trip.
  // ------------------------------------------------------------------

  /** A batch's postings rows: one (doc_id, term, tf) per distinct term
    * of each batch doc, term-bucketed so a query-term join can prune.
    */
  private[graft] def postingsDeltas(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .withColumn("bkt", pmod(hash(col("term")), lit(n)))

  /** A batch's per-doc token counts — EVERY batch doc gets a row,
    * including token-less ones (dl = 0): a dl row can never surface a
    * candidate (no postings to join), but the row's PRESENCE is what
    * makes the deletion lifecycle's N retraction exact — the surviving
    * doc count is derived from tombstone-matched dl rows
    * ([[survivingScalars]]), so a takedown of a token-less doc must
    * find one to retract. Scan-stage regexp_count — counting '\S+'
    * matches equals counting exploded tokens (the q_token_stats
    * lesson), so the batch text is NOT re-tokenized for the doc-stats
    * delta: [[postingsDeltas]]'s explode is the only tokenizer pass
    * per trigger.
    */
  private[graft] def docStatsDeltas(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long")
          .as("dl"))
      .withColumn("bkt", pmod(hash(col("doc_id")), lit(n)))

  /** A batch's doc-count delta — one row, counting EVERY batch doc.
    * Used by the TERM-STATS family ([[TextQueries]]); the BM25
    * postings family derives N from its dl rows instead
    * ([[survivingScalars]]) so the deletion lifecycle needs no
    * separate counter retraction.
    */
  private[graft] def docCountDelta(docs: DataFrame): DataFrame =
    docs.agg(count(lit(1)).as("n")).withColumn("bkt", lit(0))

  /** Exactly-once append of one batch's index rows into the three
    * stored tables (postings / doc stats / doc count).
    */
  def appendToPostingsIdempotent(batch: DataFrame, pstDir: String,
      dlDir: String, batchId: Long): Unit = {
    val s = batch.sparkSession
    val nb = DedupQueries.tableBuckets(s, pstDir)
    graft.sinks.IncrementalParquet.appendIdempotent(
      s, pstDir, "bkt", batchId, Seq("term", "doc_id"),
      Map("buckets" -> nb.toString))(postingsDeltas(batch, nb))
    graft.sinks.IncrementalParquet.appendIdempotent(
      s, dlDir, "bkt", batchId, Seq("doc_id"),
      Map("buckets" -> nb.toString))(docStatsDeltas(batch, nb))
  }

  /** Exactly-once TAKEDOWN of a batch of document ids from the stored
    * BM25 index — the deletion lifecycle's lexical member (the GDPR
    * shape: the reference salts PII hashes at Fetch_reddit.py:58-63;
    * removal of a stored document's derived state is the complement).
    * The ids land as tombstones on the postings and doc-stats tables
    * (sibling `_tombstones` tables, own ack namespace — a replayed
    * delete batch is a no-op forever) and every serve filters them
    * from the moment the batch acks: the doc stops ranking, its
    * posting rows stop counting toward df, and the (N, totlen)
    * scalars retract its contribution ([[survivingScalars]] derives
    * the retraction from tombstone-MATCHED dl rows, so deleting a
    * never-ingested id retracts nothing). O(batch) — no table
    * rewrite; [[purgePostingsTombstones]] does the physical removal.
    */
  def deleteFromPostingsIdempotent(docIds: DataFrame, pstDir: String,
      dlDir: String, batchId: Long): Unit = {
    val s = docIds.sparkSession
    graft.sinks.IncrementalParquet.appendTombstonesIdempotent(
      s, pstDir, "doc_id", batchId)(docIds)
    graft.sinks.IncrementalParquet.appendTombstonesIdempotent(
      s, dlDir, "doc_id", batchId)(docIds)
  }

  /** Physical purge of tombstoned rows from the stored BM25 index —
    * O(touched partitions), never O(corpus): only partitions holding
    * a deleted doc's rows are rewritten (postings are term-bucketed,
    * so a doc's rows spread across the buckets of its terms; doc
    * stats are doc-bucketed, one partition per deleted doc). Serves
    * are correct before, during and after (the tombstones filter
    * until the rows are physically gone). Returns partitions
    * rewritten.
    */
  def purgePostingsTombstones(
      s: SparkSession, pstDir: String, dlDir: String): Int =
    graft.sinks.IncrementalParquet.purgeTombstoned(
      s, pstDir, "bkt", "doc_id")(v => Int.box(v.toInt)) +
      graft.sinks.IncrementalParquet.purgeTombstoned(
        s, dlDir, "bkt", "doc_id")(v => Int.box(v.toInt))

  /** Minor compaction: postings/doc-stats rows are disjoint across
    * batches (document-keyed) so compaction only re-files them; the
    * doc count sum-merges.
    */
  def compactPostingsMinor(
      s: SparkSession, pstDir: String, dlDir: String): Int =
    graft.sinks.IncrementalParquet.compactMinor(s, pstDir, "bkt") +
      graft.sinks.IncrementalParquet.compactMinor(s, dlDir, "bkt")

  private val storedPostings =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** THE incrementally-built postings index per corpus fingerprint —
    * even half as batch 0, odd half as batch 1, minor compaction; the
    * same split every stored-state family uses, so the oracle's
    * full-recompute hash check pins append → compact → reconstruct.
    */
  private[graft] def incrementalPostingsDirs(
      s: SparkSession, dir: String): (String, String) = {
    val out = Tables.memoizedParquet(storedPostings,
      Tables.derivedStateKey(s, dir, "documents") + "|postings",
      "graft-postings-incr") { out =>
      val docs = t(s, dir, "documents")
      appendToPostingsIdempotent(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        s"$out/pst", s"$out/dl", 0L)
      appendToPostingsIdempotent(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1),
        s"$out/pst", s"$out/dl", 1L)
      compactPostingsMinor(s, s"$out/pst", s"$out/dl"); ()
    }
    (s"$out/pst", s"$out/dl")
  }

  private val storedPostingsDeleted =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The DELETION-lifecycle postings index: the same two-batch
    * incremental build, then an exactly-once TAKEDOWN batch (every
    * doc_id ≡ 3 mod 7), a REPLAY of that batch (must be a no-op — a
    * double retraction would shift every idf the oracle re-derives),
    * minor compaction, and a physical purge of the postings table
    * while the doc-stats table keeps serving through its tombstones —
    * so ONE oracle hash pins both removal mechanisms (purged bytes
    * and tombstone-filtered serve) against the full recompute over
    * the SURVIVING corpus.
    */
  private[graft] def incrementalPostingsDeletedDirs(
      s: SparkSession, dir: String): (String, String) = {
    val out = Tables.memoizedParquet(storedPostingsDeleted,
      Tables.derivedStateKey(s, dir, "documents") + "|postings-del",
      "graft-postings-del") { out =>
      val docs = t(s, dir, "documents")
      val (pst, dl) = (s"$out/pst", s"$out/dl")
      appendToPostingsIdempotent(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), pst, dl, 0L)
      appendToPostingsIdempotent(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), pst, dl, 1L)
      val takedown = docs.filter(pmod(col("doc_id"), lit(7)) === 3)
        .select(col("doc_id"))
      deleteFromPostingsIdempotent(takedown, pst, dl, 0L)
      // replay with DIFFERENT content: the ack must make it a no-op
      deleteFromPostingsIdempotent(
        docs.limit(1).select(col("doc_id")), pst, dl, 0L)
      compactPostingsMinor(s, pst, dl)
      // physical purge of the postings table; the doc-stats table
      // deliberately stays tombstone-served
      graft.sinks.IncrementalParquet.purgeTombstoned(
        s, pst, "bkt", "doc_id")(v => Int.box(v.toInt)); ()
    }
    (s"$out/pst", s"$out/dl")
  }

  // ------------------------------------------------------------------
  // Stored POSITIONAL bigram postings — the phrase-search analog of
  // the inverted tf postings: (doc_id, bigram, pos) with pos the
  // 0-based shingle offset (adjacency is encoded by the shingle
  // construction itself; counts are a group-by over the pruned
  // scan). Document-keyed and immutable like the tf table, so
  // maintenance is pure exactly-once append + re-filing
  // compaction; a replayed batch would duplicate every position
  // row (doubling derived counts), so the ack
  // protocol is again the correctness condition. The served phrase
  // query never tokenizes the corpus: candidates come from the stored
  // table behind literal bkt/bigram pushdown — the positional-index
  // access path (Lucene's phrase queries walk the same structure; an
  // n>2 phrase is the identical mechanism at wider shingles).
  // ------------------------------------------------------------------

  /** The per-doc bigram stream (doc_id, bigram) — token array
    * materialized in its OWN projection before the shingle explode
    * (shinglesFromTokens references the array 3×; inlining the
    * tokenizer re-runs the regex per reference — measured 6× on the
    * whole phrase query).
    */
  private def bigramStream(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(lower(col("text"))).as("ts"))
      .select(col("doc_id"), explode(
        graft.functions.TextFunctions.shinglesFromTokens(col("ts"), 2))
        .as("bigram"))

  /** A batch's POSITIONAL bigram postings rows — (doc_id, bigram,
    * pos) with pos the 0-based shingle offset — bigram-bucketed for
    * pruning. Positions (not just counts) are what make the index a
    * real phrase index: bigram counts serve 2-word phrases, and an
    * n-word phrase is a position-join — its n−1 constituent bigrams
    * at consecutive offsets (the Lucene phrase-query walk); counts
    * stay derivable as a group-by over the pruned scan.
    */
  private[graft] def phrasePostingsDeltas(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), tokens(lower(col("text"))).as("ts"))
      .select(col("doc_id"), posexplode(
        graft.functions.TextFunctions.shinglesFromTokens(col("ts"), 2)))
      .withColumnRenamed("col", "bigram")
      .withColumn("bkt", pmod(hash(col("bigram")), lit(n)))

  /** Exactly-once append of one batch's bigram postings. */
  def appendToPhraseIdempotent(
      batch: DataFrame, bpstDir: String, batchId: Long): Unit = {
    val s = batch.sparkSession
    val nb = DedupQueries.tableBuckets(s, bpstDir)
    graft.sinks.IncrementalParquet.appendIdempotent(
      s, bpstDir, "bkt", batchId, Seq("bigram", "doc_id"),
      Map("buckets" -> nb.toString))(phrasePostingsDeltas(batch, nb))
  }

  /** Minor compaction — rows are disjoint across batches
    * (document-keyed), so compaction only re-files them.
    */
  def compactPhraseMinor(s: SparkSession, bpstDir: String): Int =
    graft.sinks.IncrementalParquet.compactMinor(s, bpstDir, "bkt")

  /** Exactly-once TAKEDOWN of a batch of document ids from the stored
    * positional bigram index — the phrase family's member of the
    * deletion lifecycle: the ids land as tombstones (sibling table,
    * own ack namespace — a replayed delete batch is a no-op forever)
    * and every phrase serve filters them from the moment the batch
    * acks. O(batch); [[purgePhraseTombstones]] is the physical
    * removal.
    */
  def deleteFromPhraseIdempotent(
      docIds: DataFrame, bpstDir: String, batchId: Long): Unit =
    graft.sinks.IncrementalParquet.appendTombstonesIdempotent(
      docIds.sparkSession, bpstDir, "doc_id", batchId)(docIds)

  /** Physical purge of tombstoned docs from the stored bigram index —
    * O(touched buckets): a doc's position rows spread across the
    * buckets of its bigrams, so a takedown batch rewrites only the
    * buckets its docs' bigrams hash into. Returns buckets rewritten.
    */
  def purgePhraseTombstones(s: SparkSession, bpstDir: String): Int =
    graft.sinks.IncrementalParquet.purgeTombstoned(
      s, bpstDir, "bkt", "doc_id")(v => Int.box(v.toInt))

  /** Read the stored bigram index for SERVING with the deletion
    * lifecycle applied (identity for a never-deleted table — the
    * phrase plan pins hold unchanged).
    */
  private def storedPhraseLive(s: SparkSession, bpstDir: String): DataFrame =
    graft.sinks.IncrementalParquet.applyTombstones(s, bpstDir, "doc_id")(
      Tables.parquetCachedSchema(s, bpstDir))

  private val storedPhrase =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** THE incrementally-built bigram postings table per corpus
    * fingerprint — the standard even/odd two-batch build + compaction,
    * so the full-recompute oracle pins the append → compact →
    * reconstruct round trip.
    */
  private[graft] def incrementalPhraseDir(
      s: SparkSession, dir: String): String = {
    val out = Tables.memoizedParquet(storedPhrase,
      Tables.derivedStateKey(s, dir, "documents") + "|phrase",
      "graft-phrase-incr") { out =>
      val docs = t(s, dir, "documents")
      appendToPhraseIdempotent(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), s"$out/bpst", 0L)
      appendToPhraseIdempotent(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), s"$out/bpst", 1L)
      compactPhraseMinor(s, s"$out/bpst"); ()
    }
    s"$out/bpst"
  }

  private val storedPhraseDeleted =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The DELETION-lifecycle bigram index: the standard two-batch
    * build, then the takedown protocol end to end — batch A (doc_id ≡
    * 3 mod 14) physically PURGED, batch B (≡ 10 mod 14)
    * tombstone-SERVED, batch A replayed post-purge (pinned no-op),
    * minor compaction last so the tombstones also ride through a
    * compaction firing. q_phrase_deleted's one oracle hash pins both
    * removal mechanisms against the full recompute over the surviving
    * corpus.
    */
  private[graft] def incrementalPhraseDeletedDir(
      s: SparkSession, dir: String): String = {
    val out = Tables.memoizedParquet(storedPhraseDeleted,
      Tables.derivedStateKey(s, dir, "documents") + "|phrase-del",
      "graft-phrase-del") { out =>
      val docs = t(s, dir, "documents")
      val bp = s"$out/bpst"
      appendToPhraseIdempotent(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), bp, 0L)
      appendToPhraseIdempotent(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), bp, 1L)
      deleteFromPhraseIdempotent(docs
        .filter(pmod(col("doc_id"), lit(14)) === 3).select(col("doc_id")),
        bp, 0L)
      purgePhraseTombstones(s, bp)
      deleteFromPhraseIdempotent(docs
        .filter(pmod(col("doc_id"), lit(14)) === 10).select(col("doc_id")),
        bp, 1L)
      // replay batch A with different content after its purge: the
      // retained ack must make it a no-op
      deleteFromPhraseIdempotent(docs
        .filter(pmod(col("doc_id"), lit(7)) =!= 3).limit(1)
        .select(col("doc_id")), bp, 0L)
      compactPhraseMinor(s, bp); ()
    }
    s"$out/bpst"
  }

  /** Each query doc's phrase: its most frequent bigram (ties
    * lexicographic) — query-batch-sized, a pure function of the query
    * docs alone (the [[queryTerms]] discipline).
    */
  private def queryPhrases(docs: DataFrame): DataFrame = {
    // one (q_id, phrase) row per query doc — driver-sized BY
    // DEFINITION: ONE slim collect of the query docs' texts and the
    // driver-side top-shingle cut ([[topShingle]] — the queryTerms
    // discipline taken to its end state: r17 collected the RESULT of
    // the distributed shingle+tf-window subtree, ~4 AQE stage jobs;
    // this is one pushed-down scan job). Served as a LocalRelation as
    // before; identity with the window form is property-pinned.
    val s = docs.sparkSession
    import s.implicits._
    queryDocTexts(docs, NQueries)
      .flatMap { case (id, text) => topShingle(text, 2).map(p => (id, p)) }
      .toDF("q_id", "phrase")
  }

  /** The phrase ranking tail shared by the one-shot and served forms:
    * `m(n_id, bigram, occurrences)` — candidates already restricted to
    * the query phrases — joined to the (broadcast, above the one-task
    * bound) phrase set, ranked by occurrence count. Integer-exact end
    * to end.
    */
  private def phraseRank(qp: DataFrame, m: DataFrame,
      tier: Tables.Tier = Tables.Tier.Broadcast): DataFrame = {
    val wr = Window.partitionBy(col("q_id"))
      .orderBy(col("occurrences").desc, col("n_id"))
    m.join(tier.small(qp), col("bigram") === col("phrase") &&
        col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), col("occurrences"))
      .withColumn("rank", row_number().over(wr).cast(IntegerType))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("n_id"), col("rank"), col("occurrences"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Exact-phrase search for EXTERNAL phrase strings of ANY length
    * n ≥ 2 against the stored positional index — the user-facing
    * generalization of the gated bigram/trigram forms: a phrase of n
    * words occurs at base offset p iff each of its n−1 constituent
    * bigrams sits at p+k (k = 0..n−2) — ONE pruned positional scan,
    * one broadcast join against the (phrase, bigram, offset) triples,
    * and a group-by that demands all n−1 distinct offsets per
    * (phrase, doc, base). Output: (q_id = input position, n_id, rank,
    * occurrences), occurrence-ranked like the gated forms. Phrases
    * are lowercased and whitespace-tokenized with the corpus rule. The
    * pruned scan and the triples are the request's leaves
    * ([[Tables.tier]]); the triples (slot `triples`) and the scan's
    * bucket and bigram lists (slots `bkt`, `bigram`) bind into the
    * entry's template ([[Tables.Request]]).
    */
  def phraseSearchText(
      s: SparkSession, dir: String, phrases: Seq[String]): DataFrame = {
    val bpstDir = incrementalPhraseDir(s, dir)
    val nb = DedupQueries.tableBuckets(s, bpstDir)
    // (q_id, bigram, off, need) triples — driver-sized by definition
    val triples = phrases.zipWithIndex.flatMap { case (p, i) =>
      val ts = sparkLower(p.trim).split("\\s+").toSeq.filter(_.nonEmpty)
      require(ts.length >= 2,
        s"phrase '$p' has ${ts.length} token(s); phrases need n >= 2")
      ts.sliding(2).zipWithIndex.map { case (bg, k) =>
        Row(i.toLong, bg.mkString(" "), k, ts.length - 1)
      }.toSeq
    }
    val need = triples.map(_.getString(1)).distinct
    val needBkts = Tables.valueBucketsLocal(need, nb)._2
    Tables.Request(s"phraseSearchText|$bpstDir",
      graft.sinks.IncrementalParquet.generation(s, bpstDir),
      Tables.Bindings(rows = Map("triples" -> (PhraseTripleSchema, triples)),
        values = Map("bkt" -> needBkts, "bigram" -> need)),
      sl => {
        val pruned = storedPhraseLive(s, bpstDir)
          .filter(sl.isin(col("bkt"), "bkt") && sl.isin(col("bigram"), "bigram"))
          .select(col("doc_id"), col("bigram"), col("pos"))
        val tripleDf = sl.rows("triples")
        Tables.Served(Seq(pruned, tripleDf), tier =>
          phraseHitsRanked(tier.leaf(pruned).join(tier.small(tripleDf), Seq("bigram"))))
      }).prepare(s).run
  }

  /** The (q_id, bigram, off, need) schema of the phrase triples. */
  private val PhraseTripleSchema = StructType(Seq(
    StructField("q_id", LongType, nullable = false),
    StructField("bigram", StringType),
    StructField("off", IntegerType, nullable = false),
    StructField("need", IntegerType, nullable = false)))

  /** The phrase ranking over `joined` — each (constituent bigram,
    * stored position) pair joined to its triple: every pair votes for
    * base offset pos − off, and a base with all n−1 distinct offsets is
    * one phrase occurrence.
    */
  private def phraseHitsRanked(joined: DataFrame): DataFrame = {
    val hits = joined
      .select(col("q_id"), col("doc_id"), col("need"),
        (col("pos") - col("off")).as("base"), col("off"))
      .groupBy(col("q_id"), col("doc_id"), col("need"), col("base"))
      .agg(countDistinct(col("off")).as("got"))
      .filter(col("got") === col("need"))
    val wr = Window.partitionBy(col("q_id"))
      .orderBy(col("occurrences").desc, col("n_id"))
    hits.groupBy(col("q_id"), col("doc_id"))
      .agg(count(lit(1)).as("occurrences"))
      .withColumnRenamed("doc_id", "n_id")
      .withColumn("rank", row_number().over(wr).cast(IntegerType))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("n_id"), col("rank"), col("occurrences"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** The stored-index phrase serve body shared by q_phrase_served and
    * q_phrase_deleted — candidates from the (tombstone-filtered)
    * stored bigram index behind literal bkt/bigram In-filters, query
    * phrases always derived from the original query documents.
    */
  private def phraseServedFrom(
      s: SparkSession, docs: DataFrame, bpstDir: String): DataFrame = {
    val qp = queryPhrases(docs)
    // the phrase set is driver-sized BY DEFINITION (one bigram per
    // query doc) — collect it and push literal In-filters into the
    // stored postings scan, the bm25ServedRanked precedent
    val nb = DedupQueries.tableBuckets(s, bpstDir)
    val (phrases, bkts) =
      Tables.valueBuckets(qp.select(col("phrase")), nb)
    // occurrence counts are a group-by over the PRUNED positional
    // scan — posting-list-sized, never corpus-sized
    val pruned = storedPhraseLive(s, bpstDir)
      .filter(col("bkt").isin(bkts: _*) && col("bigram").isin(phrases: _*))
    val tier = Tables.tier(pruned, qp)
    val m = tier.leaf(pruned)
      .groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("occurrences"))
      .withColumnRenamed("doc_id", "n_id")
    phraseRank(qp, m, tier)
  }

  /** q_phrase_search's DuckDB mirror — shared verbatim by
    * q_phrase_served (the q_bm25_served discipline: one full-recompute
    * oracle text per result relation, so the stored-index round trip
    * is hash-gated).
    */
  private def phraseSearchSql: String = phraseSearchSqlWith("")

  /** [[phraseSearchSql]] with `candFilter` injected at the candidate
    * stage (`m`) — the deletion gate's survivor predicate sits exactly
    * where the served tombstone anti-join removes a deleted doc's
    * position rows; the query side (`qp`) stays drawn from the
    * ORIGINAL query documents (a deleted doc stops being retrievable,
    * not askable).
    */
  private def phraseSearchSqlWith(candFilter: String): String =
    s"""WITH tk AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS ts
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, ts[i] || ' ' || ts[i+1] AS bigram
       |  FROM (SELECT doc_id, ts,
       |          unnest(range(1, len(ts))) AS i FROM tk)
       |  WHERE len(ts) >= 2),
       |qp AS (SELECT doc_id AS q_id, bigram AS phrase FROM (
       |         SELECT doc_id, bigram,
       |           row_number() OVER (PARTITION BY doc_id
       |             ORDER BY count(*) DESC, bigram) AS rk
       |         FROM bg WHERE doc_id < $NQueries GROUP BY doc_id, bigram)
       |       WHERE rk = 1),
       |m AS (SELECT doc_id AS n_id, bigram, count(*) AS occurrences
       |      FROM bg WHERE bigram IN (SELECT phrase FROM qp)$candFilter
       |      GROUP BY doc_id, bigram),
       |j AS (SELECT q.q_id, m.n_id, m.occurrences FROM qp q
       |      JOIN m ON m.bigram = q.phrase AND m.n_id <> q.q_id),
       |r AS (SELECT q_id, n_id, occurrences,
       |        CAST(row_number() OVER (PARTITION BY q_id
       |          ORDER BY occurrences DESC, n_id) AS INTEGER) AS rank
       |      FROM j)
       |SELECT q_id, n_id, rank, occurrences
       |FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------------------------
  // Incrementally-maintained diversity state — the corpus state behind
  // q_diversity_report as continuously-maintained tables: the distinct
  // unigram and bigram sets per source are SET-UNION semigroup state
  // (append new grams exactly-once, dedup on compaction — the stored
  // tables stay Heaps-bounded instead of growing with batch count),
  // and the per-source totals (docs, tokens, bigrams) are sum-merge
  // counters. Unlike df/tf state, a REPLAYED batch cannot corrupt the
  // gram sets (set union is idempotent) — but it WOULD double the
  // totals, so the ack protocol still carries the counters'
  // correctness.
  // ------------------------------------------------------------------

  private def gramFrames(docs: DataFrame): (DataFrame, DataFrame) = {
    val tk = docs.select(col("source"), tokens(lower(col("text"))).as("ts"))
    val uni = tk.select(col("source"), explode(col("ts")).as("term"))
    val bi = tk.select(col("source"), explode(
      graft.functions.TextFunctions.shinglesFromTokens(col("ts"), 2))
      .as("term"))
    (uni, bi)
  }

  private def gramDeltas(grams: DataFrame, n: Int): DataFrame =
    grams.distinct()
      .withColumn("bkt", pmod(hash(col("term")), lit(n)))

  /** Per-source counter deltas — ONE scan-stage pass: a doc of dl
    * tokens contributes dl unigrams and max(dl−1, 0) bigrams (the
    * shingle count by construction), so the counters need no explode
    * and no second tokenizer pass over the batch (the gram deltas'
    * [[gramFrames]] explode is the only one per trigger).
    */
  private[graft] def diversityCountsDelta(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        // coalesce per row: tokenCount(null text) is null, and a
        // source whose whole batch is null-text must keep the old
        // explode-path contract of 0 counters, not a NULL row
        coalesce(graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("long"), lit(0L)).as("dl"))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("dl")).as("n_tokens"),
        sum(greatest(col("dl") - 1, lit(0L))).as("n_bigrams"))
      .withColumn("bkt", lit(0))

  private val mergeDistinctGrams: DataFrame => DataFrame = _.distinct()
  // zero-drop: a source whose every doc was taken down folds to an
  // all-zero counter row at a compaction firing and leaves the table
  private val mergeDivCounts: DataFrame => DataFrame =
    _.groupBy(col("bkt"), col("source")).agg(
      sum(col("n_docs")).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens"),
      sum(col("n_bigrams")).as("n_bigrams"))
      .filter(col("n_docs") =!= 0 || col("n_tokens") =!= 0 ||
        col("n_bigrams") =!= 0)
  private val mergeSketches: DataFrame => DataFrame =
    _.groupBy(col("bkt"), col("source"), col("kind"))
      .agg(hll_union_agg(col("sketch")).as("sketch"))

  /** Per-source distinct-gram cap on the EXACT diversity gram tables —
    * the guard against the vocabulary-explosion case (a source of
    * random hex blobs grows its gram set linearly with tokens, not
    * Heaps-bounded, so the stored table would grow with the corpus).
    * Enforcement is at append time against the maintained HLL
    * sketches ([[appendToDiversityIdempotent]]): a source whose
    * estimated distinct-gram count would exceed the cap either fails
    * the append LOUDLY (`graft.diversity.onGramCap=fail`, the default
    * — the old-book-append discipline) or, in `sketch` mode, has its
    * gram rows EXCLUDED from the exact tables from that batch on while
    * the sketches (4 KB per source×kind, always maintained, replay-
    * idempotent by set semantics) keep serving its uniq counts within
    * HLL error (~2% at the default lgConfigK). The serve picks the arm
    * per source by the same monotone estimate-vs-cap rule, so a source
    * whose exact set is incomplete can never be served from it.
    */
  private[graft] val MaxGramsPerSourceKey = "graft.diversity.maxGramsPerSource"
  private[graft] val MaxGramsPerSourceDefault = 10000000L
  private[graft] val OnGramCapKey = "graft.diversity.onGramCap"

  private def gramCap(s: SparkSession): Long = s.conf.get(
    MaxGramsPerSourceKey, MaxGramsPerSourceDefault.toString).toLong

  /** Stored sketch rows, or an empty frame before the first append. */
  private def storedSketches(s: SparkSession, sktDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val p = new Path(sktDir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      p.toUri, s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Tables.parquetCachedSchema(s, sktDir)
      .select(col("source"), col("kind"), col("sketch"))
    else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("kind",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("sketch",
          org.apache.spark.sql.types.BinaryType))))
  }

  /** Persisted was-ever-truncated markers. The estimate-vs-cap rule
    * alone is monotone only for a CONSTANT cap: a source excluded
    * from the exact gram tables at cap c would silently serve its
    * partial exact counts if the cap were later raised above its
    * estimate (and the fail-mode error text itself coaches raising
    * the cap). So sketch-mode truncation also drops one tiny marker
    * file per source under the sketch dir — create-if-absent, so
    * replay-safe — and both the append exclusion and the serve arm
    * choice honor the markers forever: an exact set that ever lost a
    * batch can never serve again, at any cap.
    */
  private def truncatedDir(sktDir: String) = s"$sktDir/_truncated"

  private def fsFor(s: SparkSession, path: org.apache.hadoop.fs.Path) =
    org.apache.hadoop.fs.FileSystem.get(
      path.toUri, s.sparkContext.hadoopConfiguration)

  private def markerBytes(
      s: SparkSession, p: org.apache.hadoop.fs.Path): Array[Byte] = {
    val in = fsFor(s, p).open(p)
    try in.readAllBytes() finally in.close()
  }

  /** A source's marker file name — the FULL 64-hex digest (markers
    * are long-lived; a truncated name's collision would silently
    * leave the second source unmarked, or clear the wrong one).
    */
  private def markerName(src: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(src.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def markTruncated(
      s: SparkSession, sktDir: String, sources: Seq[String]): Unit = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(truncatedDir(sktDir))
    val fs = fsFor(s, dir)
    fs.mkdirs(dir)
    sources.foreach { src =>
      val bytes = src.getBytes("UTF-8")
      val name = markerName(src)
      val p = new Path(dir, name)
      // an existing marker counts only if its content round-trips to
      // the source: a crash mid-write leaves an empty/partial file
      // that a bare exists() check would never repair, and the
      // wrong-content serve arm would follow it forever (an unreadable
      // marker — e.g. checksum mismatch — is equally not intact)
      val intact = fs.exists(p) && scala.util.Try(
        java.util.Arrays.equals(markerBytes(s, p), bytes)).getOrElse(false)
      if (!intact) {
        // write-then-rename: rename is atomic on HDFS-like
        // filesystems, so the marker either exists complete or not
        // at all — never partially. The tmp name is UNIQUE per
        // repairer (two concurrent repairs must not truncate each
        // other's in-flight tmp), and the destination is deleted
        // ONLY when a file is actually present (i.e. verified
        // corrupt by the intact check above) — the common
        // first-write path renames directly with no delete, so the
        // no-marker window exists only during repair of an
        // already-corrupt marker, never on creation
        val tmp = new Path(dir,
          s"_tmp.$name.${java.util.UUID.randomUUID.toString.take(8)}")
        val out = fs.create(tmp, true)
        try out.write(bytes) finally out.close()
        if (fs.exists(p)) fs.delete(p, false)
        if (!fs.rename(tmp, p)) {
          // a concurrent marker won the race; trust it only if intact
          val ok = fs.exists(p) &&
            java.util.Arrays.equals(markerBytes(s, p), bytes)
          fs.delete(tmp, false)
          if (!ok) throw new java.io.IOException(
            s"could not persist truncation marker for source '$src' at $p")
        }
      }
    }
  }

  private def truncatedSources(
      s: SparkSession, sktDir: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(truncatedDir(sktDir))
    val fs = fsFor(s, dir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      // in-flight temp files are NOT markers (unique-suffixed, only
      // ever renamed away); everything else in the dir must be a
      // complete marker or the serve cannot proceed
      .filter(st => !st.getPath.getName.startsWith("_tmp."))
      .map { st =>
        // an EMPTY marker is as unknowable as an unreadable one: it
        // names no source, so skipping it would serve that source's
        // partial exact gram set as exact — the hole the markers
        // exist to close — and it never self-heals unless a later
        // truncating append happens to hit the same source. Fail
        // with the same actionable message as the unreadable case.
        if (st.getLen == 0) throw new IllegalStateException(
          s"empty truncation marker ${st.getPath} — restore its " +
            "content (the truncated source name) or delete it and " +
            "re-run a truncating append for its source; serving " +
            "without it could report a partial exact gram set as " +
            "exact")
        // an UNREADABLE marker (e.g. a stale checksum sidecar from a
        // pre-atomic-rename crash) must fail ACTIONABLY, not serve:
        // we cannot know which source it names, so skipping it could
        // serve a partial exact set after a cap raise — the exact
        // hole the markers exist to close
        scala.util.Try(new String(markerBytes(s, st.getPath), "UTF-8"))
          .getOrElse(throw new IllegalStateException(
            s"unreadable truncation marker ${st.getPath} — restore its " +
              "content (the truncated source name) or delete it and " +
              "re-run a truncating append for its source; serving " +
              "without it could report a partial exact gram set as " +
              "exact"))
      }
      .distinct
  }

  /** Union-merged per-(source, kind) distinct-gram estimates from the
    * stored sketches plus any extra sketch rows — |sources|×2 rows.
    */
  private def sketchEstimates(
      stored: DataFrame, extra: Option[DataFrame] = None): DataFrame =
    extra.fold(stored)(e =>
        stored.unionByName(e.select(col("source"), col("kind"), col("sketch"))))
      .groupBy(col("source"), col("kind"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("est"))

  /** Exactly-once append of one batch's diversity deltas, cap-guarded
    * (see [[MaxGramsPerSourceKey]]).
    */
  def appendToDiversityIdempotent(batch: DataFrame, uniDir: String,
      biDir: String, cntDir: String, sktDir: String, batchId: Long): Unit = {
    val s = batch.sparkSession
    val nb = DedupQueries.tableBuckets(s, uniDir)
    val (uni, bi) = gramFrames(batch)
    // one tokenizer pass per batch: the distinct gram deltas
    // materialize once and feed the exact appends, the sketch append
    // AND the cap estimate (a sketch over distinct grams equals one
    // over all grams)
    val u = gramDeltas(uni, nb).localCheckpoint()
    val b = gramDeltas(bi, nb).localCheckpoint()
    val batchSk = u.groupBy(col("source"))
      .agg(hll_sketch_agg(col("term")).as("sketch"))
      .withColumn("kind", lit("uni"))
      .unionByName(b.groupBy(col("source"))
        .agg(hll_sketch_agg(col("term")).as("sketch"))
        .withColumn("kind", lit("bi")))
      .withColumn("bkt", lit(0))
      .select(col("bkt"), col("source"), col("kind"), col("sketch"))
      .localCheckpoint()
    // sources whose distinct-gram estimate WOULD exceed the cap after
    // this batch — evaluated BEFORE any write, so fail mode refuses
    // with all four tables untouched
    val cap = gramCap(s)
    val over = sketchEstimates(storedSketches(s, sktDir), Some(batchSk))
      .filter(col("est") > cap)
      .select(col("source")).distinct().collect()
      .map(_.getString(0)).toSeq.sorted
    if (over.nonEmpty &&
        s.conf.get(OnGramCapKey, "fail") != "sketch")
      throw new IllegalStateException(
        s"diversity gram cap ($cap distinct grams/source) exceeded by " +
          s"source(s) ${over.mkString(", ")} at batch $batchId — the " +
          "exact gram tables would grow unbounded for a non-Heaps " +
          s"vocabulary; raise $MaxGramsPerSourceKey or set " +
          s"$OnGramCapKey=sketch to serve their uniq counts from the " +
          "maintained HLL sketches instead")
    if (over.nonEmpty) markTruncated(s, sktDir, over)
    // exclude BOTH the newly-over sources and every source ever
    // truncated before (its exact set is already incomplete — adding
    // new batches back after a cap raise would mix partial history
    // with fresh rows)
    val excluded = (over ++ truncatedSources(s, sktDir)).distinct
    def exactPart(d: DataFrame) =
      if (excluded.isEmpty) d else d.filter(!col("source").isin(excluded: _*))
    graft.sinks.IncrementalParquet.appendIdempotent(
      s, uniDir, "bkt", batchId, Seq("term"),
      Map("buckets" -> nb.toString))(exactPart(u))
    graft.sinks.IncrementalParquet.appendIdempotent(
      s, biDir, "bkt", batchId, Seq("term"),
      Map("buckets" -> nb.toString))(exactPart(b))
    graft.sinks.IncrementalParquet.appendIdempotent(
      s, cntDir, "bkt", batchId)(diversityCountsDelta(batch))
    graft.sinks.IncrementalParquet.appendIdempotent(
      s, sktDir, "bkt", batchId)(batchSk)
  }

  /** Exactly-once TAKEDOWN of a batch of deleted documents from the
    * maintained diversity state — the deletion lifecycle's HARD case,
    * because the state spans all three removal classes at once. The
    * counter table is semigroup state: removal is the standard exact
    * NEGATIVE delta under the retraction id space. The distinct-gram
    * tables and HLL sketches are SET-UNION state — not subtractable
    * (a gram the deleted doc carried may still be justified by a
    * surviving doc, and an HLL cannot forget) — so every TOUCHED
    * source's gram rows and sketches are RE-DERIVED from the
    * surviving corpus and installed by atomic replacement
    * ([[graft.sinks.IncrementalParquet.replaceKeyRows]]). `survivors`
    * must be the surviving documents of (at least) the touched
    * sources: at 100 TB that is a source-pruned scan of the curated
    * corpus (the hive-by-source layout), O(touched sources' docs) +
    * an O(gram-table-bytes) rewrite — Heaps-bounded, never O(corpus).
    *
    * Exactly-once: the count retraction rides the ack protocol (a
    * replayed batch retracts nothing), and the re-derive is
    * idempotent by construction (same survivors → same rows), so a
    * replayed takedown converges to the identical state. Crash
    * between retraction and rebuild: the serve transiently pairs
    * retracted counters with stale gram sets for the touched sources
    * — re-running the takedown (the stream's replay) heals it; the
    * sketches are replaced with survivor-only sketches, so the
    * deleted doc's content leaves even the approximate state. Cap
    * interaction: a touched source whose REBUILT estimate still
    * exceeds the gram cap keeps its truncation marker and serves from
    * the fresh sketches; a source that drops back under the cap now
    * has a COMPLETE survivor-derived exact set, so its marker clears
    * — the one legitimate un-truncation, because completeness was
    * re-established from the source of truth, not assumed.
    */
  def deleteFromDiversityIdempotent(deletedDocs: DataFrame,
      survivors: => DataFrame, uniDir: String, biDir: String,
      cntDir: String, sktDir: String, batchId: Long): Unit = {
    val s = deletedDocs.sparkSession
    val touched = deletedDocs.select(col("source")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    if (touched.isEmpty) return
    graft.sinks.IncrementalParquet.appendIdempotent(
      s, cntDir, "bkt",
      graft.sinks.IncrementalParquet.retractionBatchId(batchId))(
      diversityCountsDelta(deletedDocs)
        .withColumn("n_docs", -col("n_docs"))
        .withColumn("n_tokens", -col("n_tokens"))
        .withColumn("n_bigrams", -col("n_bigrams")))
    rebuildDiversitySources(
      s, survivors, touched, uniDir, biDir, sktDir)
  }

  /** Re-derive the touched sources' gram rows and sketches from the
    * surviving corpus and install them atomically — the set-union
    * arm of [[deleteFromDiversityIdempotent]].
    */
  private def rebuildDiversitySources(s: SparkSession, survivors: DataFrame,
      touched: Seq[String], uniDir: String, biDir: String,
      sktDir: String): Unit = {
    val surv = survivors.filter(col("source").isin(touched: _*))
    val nb = DedupQueries.tableBuckets(s, uniDir)
    val (uni, bi) = gramFrames(surv)
    val u = gramDeltas(uni, nb).localCheckpoint()
    val b = gramDeltas(bi, nb).localCheckpoint()
    val sk = u.groupBy(col("source"))
      .agg(hll_sketch_agg(col("term")).as("sketch"))
      .withColumn("kind", lit("uni"))
      .unionByName(b.groupBy(col("source"))
        .agg(hll_sketch_agg(col("term")).as("sketch"))
        .withColumn("kind", lit("bi")))
      .withColumn("bkt", lit(0))
      .select(col("bkt"), col("source"), col("kind"), col("sketch"))
      .localCheckpoint()
    // cap rule over the REBUILT estimates: still-over sources keep
    // truncation (gram rows stay excluded, sketches serve); back-under
    // sources are complete again from the source of truth
    val cap = gramCap(s)
    val over = sk.groupBy(col("source"), col("kind"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("est"))
      .filter(col("est") > cap)
      .select(col("source")).distinct().collect()
      .map(_.getString(0)).toSeq.sorted
    def keep(d: DataFrame) =
      if (over.isEmpty) d else d.filter(!col("source").isin(over: _*))
    graft.sinks.IncrementalParquet.replaceKeyRows(
      s, uniDir, "bkt", "source", touched, keep(u))(v => Int.box(v.toInt))
    graft.sinks.IncrementalParquet.replaceKeyRows(
      s, biDir, "bkt", "source", touched, keep(b))(v => Int.box(v.toInt))
    graft.sinks.IncrementalParquet.replaceKeyRows(
      s, sktDir, "bkt", "source", touched, sk)(v => Int.box(v.toInt))
    if (over.nonEmpty) markTruncated(s, sktDir, over)
    clearTruncated(s, sktDir, touched.filterNot(over.contains))
  }

  /** Remove the truncation markers of sources whose exact gram sets
    * were just re-established COMPLETE from the surviving corpus —
    * only [[rebuildDiversitySources]] may call this (everywhere else
    * the markers are forever, see [[truncatedDir]]).
    */
  private def clearTruncated(
      s: SparkSession, sktDir: String, sources: Seq[String]): Unit = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(truncatedDir(sktDir))
    val fs = fsFor(s, dir)
    if (!fs.exists(dir) || sources.isEmpty) return
    val names = sources.map(markerName).toSet
    fs.listStatus(dir).foreach { st =>
      if (names.contains(st.getPath.getName)) fs.delete(st.getPath, false)
    }
  }

  /** Minor compaction: gram tables dedup (set union), counters sum,
    * sketches HLL-union.
    */
  def compactDiversityMinor(s: SparkSession, uniDir: String,
      biDir: String, cntDir: String, sktDir: String): Int =
    graft.sinks.IncrementalParquet.compactMinor(
      s, uniDir, "bkt", merge = mergeDistinctGrams) +
      graft.sinks.IncrementalParquet.compactMinor(
        s, biDir, "bkt", merge = mergeDistinctGrams) +
      graft.sinks.IncrementalParquet.compactMinor(
        s, cntDir, "bkt", merge = mergeDivCounts) +
      graft.sinks.IncrementalParquet.compactMinor(
        s, sktDir, "bkt", merge = mergeSketches)

  private val storedDiversity =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def incrementalDiversityDirs(
      s: SparkSession, dir: String): (String, String, String, String) = {
    val out = Tables.memoizedParquet(storedDiversity,
      Tables.derivedStateKey(s, dir, "documents") + "|diversity",
      "graft-diversity-incr") { out =>
      val docs = t(s, dir, "documents")
      appendToDiversityIdempotent(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        s"$out/uni", s"$out/bi", s"$out/cnt", s"$out/skt", 0L)
      appendToDiversityIdempotent(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1),
        s"$out/uni", s"$out/bi", s"$out/cnt", s"$out/skt", 1L)
      compactDiversityMinor(
        s, s"$out/uni", s"$out/bi", s"$out/cnt", s"$out/skt"); ()
    }
    (s"$out/uni", s"$out/bi", s"$out/cnt", s"$out/skt")
  }

  private val storedDiversityDeleted =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The DELETION-lifecycle diversity state: the standard two-batch
    * build, then a takedown of every doc ≡ 3 mod 7 through all three
    * removal arms at once (count retraction + gram/sketch re-derive
    * from the survivors), a REPLAYED takedown (the count retraction
    * no-ops on its ack; the re-derive converges to identical rows),
    * and minor compaction folding the negative counters away.
    */
  private[graft] def incrementalDiversityDeletedDirs(
      s: SparkSession, dir: String): (String, String, String, String) = {
    val out = Tables.memoizedParquet(storedDiversityDeleted,
      Tables.derivedStateKey(s, dir, "documents") + "|diversity-del",
      "graft-diversity-del") { out =>
      val docs = t(s, dir, "documents")
      val dirs = (s"$out/uni", s"$out/bi", s"$out/cnt", s"$out/skt")
      appendToDiversityIdempotent(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        dirs._1, dirs._2, dirs._3, dirs._4, 0L)
      appendToDiversityIdempotent(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1),
        dirs._1, dirs._2, dirs._3, dirs._4, 1L)
      val deleted = docs.filter(pmod(col("doc_id"), lit(7)) === 3)
      val survivors = docs.filter(pmod(col("doc_id"), lit(7)) =!= 3)
      deleteFromDiversityIdempotent(deleted, survivors,
        dirs._1, dirs._2, dirs._3, dirs._4, 0L)
      // replayed takedown: identical end state (retraction acked,
      // re-derive idempotent)
      deleteFromDiversityIdempotent(deleted, survivors,
        dirs._1, dirs._2, dirs._3, dirs._4, 0L)
      compactDiversityMinor(s, dirs._1, dirs._2, dirs._3, dirs._4); ()
    }
    (s"$out/uni", s"$out/bi", s"$out/cnt", s"$out/skt")
  }

  /** The maintained-state diversity serve. Per-source arm choice by
    * the SAME monotone estimate-vs-cap rule the append guard uses
    * (estimates only grow, so any source whose exact gram set an
    * append ever truncated is still over the cap here — an incomplete
    * exact set can never serve): normal sources aggregate the exact
    * stored gram tables (bit-identical to a full recount — the oracle
    * gate), capped sources serve their uniq counts from the HLL
    * sketches (~2% error, 4 KB state regardless of vocabulary).
    */
  def diversityServed(s: SparkSession, uniDir: String, biDir: String,
      cntDir: String, sktDir: String): DataFrame = {
    val ests = sketchEstimates(storedSketches(s, sktDir)).localCheckpoint()
    // over-cap now, OR ever truncated (an exact set that lost a batch
    // can never serve, at any later cap — see [[truncatedDir]])
    val capped = (ests.filter(col("est") > gramCap(s))
      .select(col("source")).distinct().collect()
      .map(_.getString(0)).toSeq ++
      truncatedSources(s, sktDir)).distinct // driver-sized: ≤ |sources|
    def exact(dirStr: String, alias: String) = {
      val base = Tables.parquetCachedSchema(s, dirStr)
        .select(col("source"), col("term"))
      val kept =
        if (capped.isEmpty) base
        else base.filter(!col("source").isin(capped: _*))
      kept.distinct()
        .groupBy(col("source")).agg(count(lit(1)).as(alias))
    }
    def sketched(kind: String, alias: String) =
      ests.filter(col("kind") === kind && col("source").isin(capped: _*))
        .select(col("source"), col("est").as(alias))
    val uniq =
      if (capped.isEmpty) exact(uniDir, "uniq_unigrams")
      else exact(uniDir, "uniq_unigrams")
        .unionByName(sketched("uni", "uniq_unigrams"))
    val biq =
      if (capped.isEmpty) exact(biDir, "uniq_bigrams")
      else exact(biDir, "uniq_bigrams")
        .unionByName(sketched("bi", "uniq_bigrams"))
    val cnt = Tables.parquetCachedSchema(s, cntDir)
      .groupBy(col("source")).agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_bigrams")).as("n_bigrams"))
    // mirror the one-shot's INNER join on the unigram relation:
    // a source with zero tokens is absent from the report
    diversityProject(cnt.filter(col("n_tokens") > 0)
      .join(uniq, Seq("source"))
      .join(biq, Seq("source"), "left"))
  }

  /** q_diversity_report's DuckDB mirror — shared verbatim by
    * q_diversity_report_incr (one oracle text per result relation).
    */
  private def diversityReportSql: String = diversityReportSqlOver("documents")

  /** [[diversityReportSql]] over an arbitrary corpus relation — the
    * deletion gate recomputes every report column over the survivors.
    */
  private def diversityReportSqlOver(src: String): String =
    s"""WITH tk AS (
       |  SELECT doc_id, source, regexp_extract_all(lower(text), '\\S+') AS ts
       |  FROM $src),
       |uni AS (SELECT source, count(*) AS n_tokens,
       |          count(DISTINCT term) AS uniq_unigrams
       |        FROM (SELECT source, unnest(ts) AS term FROM tk)
       |        GROUP BY source),
       |bi AS (SELECT source, count(*) AS n_bigrams,
       |         count(DISTINCT bigram) AS uniq_bigrams
       |       FROM (SELECT source, ts[i] || ' ' || ts[i+1] AS bigram
       |             FROM (SELECT source, ts,
       |                     unnest(range(1, len(ts))) AS i FROM tk)
       |             WHERE len(ts) >= 2)
       |       GROUP BY source),
       |d AS (SELECT source, count(*) AS n_docs FROM $src
       |      GROUP BY source)
       |SELECT d.source, d.n_docs, uni.n_tokens, uni.uniq_unigrams,
       |  coalesce(bi.uniq_bigrams, 0) AS uniq_bigrams,
       |  CAST(uni.uniq_unigrams AS DOUBLE)
       |    / CAST(uni.n_tokens AS DOUBLE) AS ttr,
       |  CASE WHEN coalesce(bi.n_bigrams, 0) = 0 THEN 0.0
       |       ELSE CAST(bi.uniq_bigrams AS DOUBLE)
       |              / CAST(bi.n_bigrams AS DOUBLE) END AS bigram_ratio
       |FROM d JOIN uni ON uni.source = d.source
       |LEFT JOIN bi ON bi.source = d.source
       |ORDER BY d.source""".stripMargin

  /** The report's shared output projection over a frame carrying
    * (source, n_docs, n_tokens, uniq_unigrams, n_bigrams?,
    * uniq_bigrams?) — both physical strategies (recompute / stored)
    * end here so the aliases and edge handling cannot drift.
    */
  private def diversityProject(j: DataFrame): DataFrame =
    j.select(col("source"), col("n_docs"), col("n_tokens"),
        col("uniq_unigrams"),
        coalesce(col("uniq_bigrams"), lit(0L)).as("uniq_bigrams"),
        (col("uniq_unigrams").cast("double") /
          col("n_tokens").cast("double")).as("ttr"),
        when(coalesce(col("n_bigrams"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("uniq_bigrams").cast("double") /
            col("n_bigrams").cast("double")).as("bigram_ratio"))
      .orderBy(col("source"))

  /** The RRF fusion tail shared by both hybrid queries: full-outer
    * join of the two top-depth rankings (`bt`: q_id, n_id, bm_rank;
    * `ct`: q_id, n_id, cos_rank), rrf = Σ 1/(60+rank) — IEEE-exact,
    * no libm — ranked and cut at [[TopK]].
    */
  private def rrfFuse(bt: DataFrame, ct: DataFrame,
      tier: Tables.Tier = Tables.Tier.Planner): DataFrame =
    rrfFusedRanked(bt, ct, tier)
      .select(col("q_id"), col("n_id"), col("rank"), col("bm_rank"),
        col("cos_rank"),
        (floor(col("rrf") * 1000000) / 1000000).as("rrf_score"))
      .orderBy(col("q_id"), col("rank"))

  /** The fused ranking with the RAW rrf double kept (q_id, n_id, rrf,
    * bm_rank, cos_rank, rank), cut at [[TopK]] — the body behind
    * [[rrfFuse]] and the candidate source of the diversified hybrid
    * chain (MMR's rel must be the raw score, not the display-rounded
    * one).
    */
  private def rrfFusedRanked(bt: DataFrame, ct: DataFrame,
      tier: Tables.Tier = Tables.Tier.Planner): DataFrame = {
    val wr = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf").desc, col("n_id"))
    tier.single(tier.leaf(bt).join(tier.leaf(ct), Seq("q_id", "n_id"),
        "full_outer"))
      .select(col("q_id"), col("n_id"),
        (coalesce(lit(1.0) / (lit(60) + col("bm_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("cos_rank")), lit(0.0)))
          .as("rrf"),
        coalesce(col("bm_rank"), lit(0)).cast(IntegerType).as("bm_rank"),
        coalesce(col("cos_rank"), lit(0)).cast(IntegerType).as("cos_rank"))
      .withColumn("rank", row_number().over(wr).cast(IntegerType))
      .filter(col("rank") <= TopK)
  }

  /** Daemon pool for INDEPENDENT fusion-arm subtrees (guide §2.6:
    * actions are only sequential because the driver calls them
    * sequentially — independent jobs submitted from separate threads
    * back-fill each other's gaps). The interactive hybrid walls are
    * job-count × per-job driver gap (planning + AQE stage submission;
    * JobProfile r17/r18), and the two arms share NO subtree, so one
    * arm's driver gaps overlap the other's jobs. Bounded: at most
    * [[ArmPoolSize]] daemon threads, none queued — an arm that finds
    * every thread busy runs on its caller's thread instead
    * ([[inParallel]]), so a saturated pool degrades to sequential
    * arms and never waits behind itself. Idle threads expire.
    */
  private lazy val armPool = {
    val p = new java.util.concurrent.ThreadPoolExecutor(
      ArmPoolSize, ArmPoolSize, 30L, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.SynchronousQueue[Runnable](),
      (r: Runnable) => {
        val th = new Thread(r, "graft-fusion-arm"); th.setDaemon(true); th
      })
    p.allowCoreThreadTimeOut(true)
    p
  }

  /** Threads of the fusion-arm pool: one per core. */
  private[graft] val ArmPoolSize: Int =
    math.max(2, Runtime.getRuntime.availableProcessors)

  /** Evaluate `fa` on the arm pool while `fb` runs on the calling
    * thread, or both in turn on the calling thread when the pool is
    * full; rethrows `fa`'s failure unwrapped. A pool thread keeps the
    * Spark local properties of whichever thread created it, so the arm
    * runs under the caller's job group and description (copied in,
    * cleared after): its jobs belong to the caller's request. If `fb`
    * throws, the arm's jobs are cancelled (by a per-call job tag) until
    * the arm ends, so a failed request leaves no job running.
    */
  private[graft] def inParallel[A, B](fa: => A, fb: => B): (A, B) = {
    val sc = SparkSession.active.sparkContext
    val props = Seq("spark.jobGroup.id", "spark.job.description",
      "spark.job.interruptOnCancel").map(k => k -> sc.getLocalProperty(k))
    val tag = s"graft-fusion-arm-${java.util.UUID.randomUUID}"
    val f = try armPool.submit(new java.util.concurrent.Callable[A] {
      def call(): A = {
        props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        sc.addJobTag(tag)
        try fa
        finally {
          sc.removeJobTag(tag)
          props.foreach { case (k, _) => sc.setLocalProperty(k, null) }
        }
      }
    }) catch {
      case _: java.util.concurrent.RejectedExecutionException =>
        val a = fa
        return (a, fb)
    }
    val b = try fb catch {
      case e: Throwable =>
        while (!f.isDone) {
          sc.cancelJobsWithTag(tag)
          try f.get(50, java.util.concurrent.TimeUnit.MILLISECONDS)
          catch { case _: Exception => () }
        }
        throw e
    }
    val a = try f.get() catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    }
    (a, b)
  }

  /** Construct and collect one fusion arm — rows (q_id, n_id, rank).
    * By-name so the whole arm (including its construction-time
    * collects: query-side derivation, ANN probe collect) runs inside
    * the worker thread.
    */
  private def collectArm(mk: => DataFrame): Array[(Long, Long, Int)] =
    mk.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))

  /** Driver-side mirror of [[rrfFusedRanked]] over two collected arms:
    * full-outer merge on (q_id, n_id), rrf = Σ 1/(60+rank) over the
    * present arms (absent rank ⇒ 0 contribution, exactly the
    * distributed coalesce), rank by (rrf DESC, n_id) cut at [[TopK]].
    * Bit-identical arithmetic: 1.0/(60+rank) is one IEEE division of
    * exact small ints per term and the two-addend sum runs in the
    * same (bm, cos) order as the distributed expression; ranks are >0
    * whenever present so 0 is a faithful absent marker. Emits rows
    * (q_id, n_id, rrf, bm_rank, cos_rank, rank) sorted by (q_id, rank).
    */
  private[graft] def rrfFuseLocal(
      bt: Seq[(Long, Long, Int)], ct: Seq[(Long, Long, Int)])
      : Seq[(Long, Long, Double, Int, Int, Int)] = {
    val m = scala.collection.mutable.HashMap.empty[(Long, Long), (Int, Int)]
    bt.foreach { case (q, n, r) => m.update((q, n), (r, 0)) }
    ct.foreach { case (q, n, r) =>
      m.update((q, n), (m.getOrElse((q, n), (0, 0))._1, r))
    }
    m.iterator.map { case ((q, n), (bm, cr)) =>
      val rrf = (if (bm != 0) 1.0 / (60 + bm) else 0.0) +
        (if (cr != 0) 1.0 / (60 + cr) else 0.0)
      (q, n, rrf, bm, cr)
    }.toSeq.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (_, rows) =>
      rows.sortBy { case (_, n, rrf, _, _) => (-rrf, n) }
        .take(TopK).zipWithIndex
        .map { case ((q, n, rrf, bm, cr), i) => (q, n, rrf, bm, cr, i + 1) }
    }
  }

  /** [[rrfFuse]]'s output relation assembled from locally fused rows —
    * same columns, same display floor (floor(rrf·10⁶)/10⁶ via the same
    * double ops: the exact-integer double from floor divides by the
    * exact 10⁶), same final ordering.
    */
  private def rrfFuseDfLocal(s: SparkSession,
      fused: Seq[(Long, Long, Double, Int, Int, Int)]): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("q_id", LongType), StructField("n_id", LongType),
      StructField("rank", IntegerType), StructField("bm_rank", IntegerType),
      StructField("cos_rank", IntegerType),
      StructField("rrf_score", DoubleType)))
    val rows = fused.map { case (q, n, rrf, bm, cr, rk) =>
      org.apache.spark.sql.Row(q, n, rk, bm, cr,
        math.floor(rrf * 1000000) / 1000000)
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .orderBy(col("q_id"), col("rank"))
  }

  /** Size-aware fusion: interactive batches (the [[mmrBulk]] bound —
    * both arms are ≤ queries × [[FuseDepth]] rows by construction)
    * collect the two arms CONCURRENTLY and fuse driver-side; bulk
    * batches keep the distributed full-outer fuse.
    */
  private def rrfFuseSized(s: SparkSession, numQueries: Long,
      mkBt: => DataFrame, mkCt: => DataFrame): DataFrame =
    if (!mmrBulk(numQueries)) {
      val (btRows, ctRows) = inParallel(collectArm(mkBt), collectArm(mkCt))
      rrfFuseDfLocal(s, rrfFuseLocal(btRows.toSeq, ctRows.toSeq))
    } else rrfFuse(mkBt, mkCt)

  /** The fusion CTEs (`fu`, `fr`) — `bt`/`ct` expected upstream with
    * the same columns; shared by the fused final SELECT and the
    * diversified chain's candidate CTE.
    */
  private def rrfCtesSql: String =
    s"""fu AS (SELECT coalesce(bt.q_id, ct.q_id) AS q_id,
       |         coalesce(bt.n_id, ct.n_id) AS n_id,
       |         coalesce(1.0 / (60 + bt.bm_rank), 0.0)
       |           + coalesce(1.0 / (60 + ct.cos_rank), 0.0) AS rrf,
       |         coalesce(bt.bm_rank, 0) AS bm_rank,
       |         coalesce(ct.cos_rank, 0) AS cos_rank
       |       FROM bt FULL OUTER JOIN ct
       |         ON bt.q_id = ct.q_id AND bt.n_id = ct.n_id),
       |fr AS (SELECT q_id, n_id, rrf, bm_rank, cos_rank,
       |         CAST(row_number() OVER (PARTITION BY q_id
       |           ORDER BY rrf DESC, n_id) AS INTEGER) AS rank
       |       FROM fu)""".stripMargin

  /** The fusion tail's oracle mirror — `bt`/`ct` CTEs expected
    * upstream with the same columns.
    */
  private def rrfFuseSql: String =
    s"""$rrfCtesSql
       |SELECT q_id, n_id, rank, bm_rank, cos_rank,
       |  floor(rrf * 1000000) / 1000000 AS rrf_score
       |FROM fr WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin

  /** MMR picks (diversified top-k size) at the catalog's default dial. */
  private val MmrPicks = 5

  /** The unrolled MMR selection CTEs for the oracle: step 1 picks
    * argmax λ·rel, each later step k joins the max-similarity-to-
    * selected aggregate and picks argmax λ·rel − (1−λ)·maxsim over the
    * not-yet-selected pool — the QuantizedLr discipline (the oracle
    * re-derives every iteration of an iterative algorithm relationally).
    * λ and 1−λ arrive as SQL literals (dyadic doubles, so both engines'
    * products round identically).
    */
  private def mmrStepsSql(picks: Int, lam: String, lamC: String): String = {
    val steps = (2 to picks).map { k =>
      val prev = k - 1
      s"""sel$prev AS (${(1 until k).map(i =>
        s"SELECT q_id, n_id FROM s$i").mkString(" UNION ALL ")}),
         |s$k AS (SELECT q_id, n_id, mmr FROM (
         |  SELECT c.q_id, c.n_id, $lam * c.rel - $lamC * mx.sm AS mmr,
         |    row_number() OVER (PARTITION BY c.q_id
         |      ORDER BY $lam * c.rel - $lamC * mx.sm DESC, c.n_id) AS rk
         |  FROM cand c JOIN (
         |    SELECT p.q_id, p.da, max(p.sim) AS sm
         |    FROM ps p JOIN sel$prev s ON p.q_id = s.q_id AND p.db = s.n_id
         |    GROUP BY p.q_id, p.da) mx
         |  ON mx.q_id = c.q_id AND mx.da = c.n_id
         |  WHERE NOT EXISTS (SELECT 1 FROM sel$prev x
         |                    WHERE x.q_id = c.q_id AND x.n_id = c.n_id))
         |WHERE rk = 1)""".stripMargin
    }
    steps.mkString(",\n")
  }

  /** The greedy tail shared by the exact and indexed oracle texts —
    * everything downstream of the `cand(q_id, n_id, rel, cv, cn)`
    * CTE (pairwise sims, seed pick, unrolled steps, final projection),
    * factored so the two candidate-pool strategies cannot drift in
    * their selection semantics.
    */
  private def mmrTailSql(picks: Int, lam: String, lamC: String): String =
    s"""ps AS (SELECT a.q_id, a.n_id AS da, b.n_id AS db,
       |         ${dotSql("a.cv", "b.cv")} / (a.cn * b.cn) AS sim
       |       FROM cand a JOIN cand b
       |         ON a.q_id = b.q_id AND a.n_id <> b.n_id),
       |s1 AS (SELECT q_id, n_id, $lam * rel AS mmr FROM (
       |         SELECT q_id, n_id, rel, row_number() OVER (
       |           PARTITION BY q_id ORDER BY rel DESC, n_id) AS rk
       |         FROM cand) WHERE rk = 1),
       |${mmrStepsSql(picks, lam, lamC)}
       |SELECT q_id, n_id, pick, floor(mmr * 10000) / 10000 AS mmr_score
       |FROM (${(1 to picks).map(k =>
        s"SELECT q_id, n_id, CAST($k AS INTEGER) AS pick, mmr FROM s$k")
        .mkString(" UNION ALL ")})
       |ORDER BY q_id, pick""".stripMargin

  /** The complete MMR oracle text at a (pool, picks, λ) dial — shared
    * by both gated dials so a third is one line.
    */
  private def mmrSql(pool: Int, picks: Int, lam: String, lamC: String): String =
    s"""WITH e AS ($embDoubleSql),
       |nq AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
       |cd0 AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |          ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) AS rel,
       |          c.v AS cv, c.nrm AS cn
       |        FROM nq q JOIN nq c ON c.vec_id <> q.vec_id
       |        WHERE q.vec_id < $NQueries),
       |cand AS (SELECT q_id, n_id, rel, cv, cn FROM (
       |          SELECT *, row_number() OVER (PARTITION BY q_id
       |            ORDER BY rel DESC, n_id) AS rk FROM cd0)
       |         WHERE rk <= $pool),
       |${mmrTailSql(picks, lam, lamC)}""".stripMargin

  /** The INDEXED MMR oracle text: the candidate pool is the stored-
    * codes ANN serve's ranking (the q_hybrid_rrf_indexed discipline —
    * the oracle re-derives the whole IVF-PQ chain relationally), rel
    * recomputed as the exact cosine over the pooled ids, then the
    * same greedy tail as the exact dials.
    */
  private def mmrIndexedSql(
      pool: Int, picks: Int, lam: String, lamC: String): String =
    s"""WITH e AS ($embDoubleSql),
       |${SimilarityQueries.ivfPqRankedCtesSql(NQueries, 2,
          // the driver (mmrIndexedPool) widens the ADC re-rank budget
          // to cover the requested pool; the oracle must share the
          // widening rule or a pool dial past MmrIndexedTopC silently
          // drifts the two
          math.max(MmrIndexedTopC, pool))},
       |cand AS (SELECT a.q_id, a.n_id,
       |           ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) AS rel,
       |           c.v AS cv, c.nrm AS cn
       |         FROM annr a JOIN nv q ON q.vec_id = a.q_id
       |                     JOIN nv c ON c.vec_id = a.n_id
       |         WHERE a.rank <= $pool),
       |${mmrTailSql(picks, lam, lamC)}""".stripMargin

  /** The MMR greedy selection at an arbitrary (pool, picks, λ) dial —
    * the library form behind both gated catalog dials. λ must be a
    * dyadic double (λ and 1−λ exactly representable) for the
    * cross-engine trajectory identity the catalog gates rely on; the
    * library itself is correct for any λ ∈ [0,1].
    */
  def mmrDiversified(s: SparkSession, dir: String, nQueries: Int,
      pool: Int, picks: Int, lam: Double): DataFrame =
    mmrForQueries(s, dir, mmrCorpusQueryFrame(s, dir, nQueries),
      pool, picks, lam, nQueries.toLong)

  /** The INDEXED MMR tier: same greedy selection, but the candidate
    * pool comes from the stored-codes ANN serve instead of an exact
    * full-corpus cosine scan — the form a user runs at scale (the
    * q_hybrid_rrf_indexed discipline applied to diversified
    * retrieval). The pool is APPROXIMATE exactly like any ANN-vs-exact
    * choice: candidates are the exact-cosine re-rank of the IVF-PQ
    * ADC top-[[MmrIndexedTopC]]; the greedy trajectory over that pool
    * is deterministic end to end, so the oracle re-derives the whole
    * chain and the hash gate covers this tier too.
    */
  def mmrDiversifiedIndexed(s: SparkSession, dir: String, nQueries: Int,
      pool: Int, picks: Int, lam: Double): DataFrame =
    mmrSelect(
      mmrIndexedCandidates(s, dir, mmrCorpusQueryFrame(s, dir, nQueries),
        pool, bulk = mmrBulk(nQueries.toLong)),
      picks, lam, nQueries.toLong)

  /** Corpus-size threshold (bytes, embeddings-table stats) above which
    * [[mmrSearchVectors]] pools candidates from the stored-codes ANN
    * serve instead of the exact full-corpus cosine scan — the
    * [[HybridExactMaxBytes]] recipe: the exact pool is the right
    * plan only while the corpus is small enough that index plumbing
    * costs more than the scan it avoids, and the switch trades recall
    * for scan cost exactly like any ANN-vs-exact choice. Set at the
    * MEASURED intersection, not an extrapolation (round 17,
    * SCALING.md "Round 17: MMR exact/indexed crossover measured where
    * the scan dominates", forced-arm warm medians): at 5 MB the
    * exact arm wins every batch size (0.45 vs 0.89 s at nq=10); at
    * 52 MB the indexed arm already wins any multi-query batch (1.19
    * vs 1.87 s at nq=10; nq=1 is a 0.71-vs-0.93 near-tie held up only
    * by the indexed job floor); at 523 MB (an sf100 embeddings-only
    * up-sample) indexed wins everywhere — 2.11 vs 2.47 s at nq=1 and
    * 2.51 vs 39.9 s at nq=10, the exact pool's scan×sort term in full
    * effect. 16 MB is the geometric midpoint of the nq≥10
    * intersection bracket (5–52 MB) — conservative in the direction a
    * real cluster moves it, since the scan term grows with IO while
    * the indexed serve stays candidate-bounded.
    */
  private val MmrExactMaxBytes = 16L * 1024 * 1024

  /** MMR-diversified top-k for EXTERNAL query vectors — the
    * diversified sibling of [[SimilarityQueries.annSearchVectors]]:
    * raw vectors in, (q_id = input position, n_id, pick, mmr_score)
    * out, negative internal ids so corpus self-exclusion never fires.
    * Size-aware: the candidate pool is exact below
    * [[MmrExactMaxBytes]] and the stored-codes ANN serve above it,
    * so an interactive user gets the near-flat indexed tier at scale
    * without choosing.
    */
  def mmrSearchVectors(s: SparkSession, dir: String,
      vectors: Seq[Array[Float]], pool: Int = FuseDepth,
      picks: Int = MmrPicks, lam: Double = 0.5): DataFrame = {
    val embKey = Tables.derivedStateKey(s, dir, "embeddings")
    if (embeddingsBytes(s, dir, embKey) <= MmrExactMaxBytes)
      mmrVectorsExact(s, dir, embKey, vectors, pool, picks, lam)
    else mmrVectorsIndexed(s, dir, vectors, pool, picks, lam)
  }

  /** The exact-pool arm of [[mmrSearchVectors]] at embeddings
    * generation `embKey`; in the one-partition tier the entry's
    * template is the whole request.
    */
  private[graft] def mmrVectorsExact(s: SparkSession, dir: String,
      embKey: String, vectors: Seq[Array[Float]], pool: Int, picks: Int,
      lam: Double): DataFrame = {
    val nq = vectors.size.toLong
    val rows = mmrQueryRows(vectors)
    val p = Tables.Request(s"mmrSearchVectors|$embKey|$pool|$picks|$lam",
      embKey, Tables.Bindings(rows = Map("q" -> (MmrQuerySchema, rows))),
      sl => {
        val sv = mmrExactServed(s, dir, mmrQuery(sl.rows("q")), pool, picks, lam)
        Tables.Served(sv.leaves, tier =>
          if (tier.onePartition) mmrExternal(sv.plan(tier)) else sv.plan(tier))
      }).prepare(s)
    val tier = if (mmrBulk(nq)) Tables.Tier.Planner else p.tier
    if (tier.onePartition) p.plan(tier)
    else mmrExternal(mmrSelect(p.plan(tier), picks, lam, nq))
  }

  /** The indexed-pool arm of [[mmrSearchVectors]]. */
  private[graft] def mmrVectorsIndexed(s: SparkSession, dir: String,
      vectors: Seq[Array[Float]], pool: Int, picks: Int,
      lam: Double): DataFrame = {
    val nq = vectors.size.toLong
    val q = mmrQuery(s.createDataFrame(
      java.util.Arrays.asList(mmrQueryRows(vectors): _*), MmrQuerySchema))
    mmrExternal(mmrSelect(
      mmrIndexedCandidates(s, dir, q, pool, bulk = mmrBulk(nq)), picks, lam, nq))
  }

  /** An external MMR batch as (q_id, qv) rows on negative ids. */
  private def mmrQueryRows(vectors: Seq[Array[Float]]): Seq[Row] =
    vectors.zipWithIndex.map { case (v, i) => Row(-(i + 1).toLong, v) }

  private def mmrQuery(q: DataFrame): DataFrame =
    q.select(col("q_id"), col("qv"), l2Norm(col("qv")).as("qn"))

  /** Picks back on input positions, in (q_id, pick) order. */
  private def mmrExternal(picked: DataFrame): DataFrame = picked
    .withColumn("q_id", -col("q_id") - 1)
    .orderBy(col("q_id"), col("pick"))

  /** The (q_id, qv) schema of an external MMR query batch. */
  private val MmrQuerySchema = StructType(Seq(
    StructField("q_id", LongType, nullable = false),
    StructField("qv", org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType, containsNull = false))))

  /** Per corpus dir: the embeddings fingerprint key and the table's
    * size estimate, which picks [[mmrSearchVectors]]'s pool.
    */
  private val storedEmbeddingsBytes =
    new java.util.concurrent.ConcurrentHashMap[String, (String, BigInt)]()

  private def embeddingsBytes(s: SparkSession, dir: String, embKey: String): BigInt =
    storedEmbeddingsBytes.compute(dir, (_, v) =>
      if (v != null && v._1 == embKey) v
      else (embKey, t(s, dir, "embeddings").queryExecution.optimizedPlan.stats.sizeInBytes)
    )._2

  /** The corpus-query frame (q_id, qv, qn) for doc_id < nQueries —
    * shared by both gated MMR families.
    */
  private[graft] def mmrCorpusQueryFrame(
      s: SparkSession, dir: String, nQueries: Int): DataFrame =
    t(s, dir, "embeddings").filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        l2Norm(col("embedding")).as("qn"))

  /** The EXACT candidate pool + greedy selection over an arbitrary
    * query frame (q_id, qv, qn) — the oracle-exact small-corpus form.
    * The embeddings and the query frame are the request's leaves
    * ([[Tables.tier]]): within one task's bound the theta join is a
    * one-task CartesianProduct and the grouped greedy kernel runs in
    * the same partition, so the whole request is one job.
    */
  private def mmrForQueries(s: SparkSession, dir: String, q: DataFrame,
      pool: Int, picks: Int, lam: Double, numQueries: Long): DataFrame = {
    val served = mmrExactServed(s, dir, q, pool, picks, lam)
    // interactive batches broadcast the query frame; a bulk batch's
    // query frame may exceed driver-broadcast size, so the hint drops
    // and AQE decides (the BM25 JOIN-arm discipline) — the theta-join
    // pool is then a shuffle join, still never all-pairs materialized
    // past the rank cut
    val tier =
      if (mmrBulk(numQueries)) Tables.Tier.Planner
      else Tables.tier(served.leaves: _*)
    if (tier.onePartition) served.plan(tier)
    else mmrSelect(served.plan(tier), picks, lam, numQueries)
  }

  /** The exact-pool body of [[mmrForQueries]]: the embeddings and the
    * query frame are its leaves. In the one-partition tier its plan is
    * the whole selection (the grouped greedy kernel in the pool's one
    * partition); in the distributed tiers it is the candidate pool
    * (q_id, n_id, rel, cv, cn), which [[mmrSelect]] finishes.
    */
  private def mmrExactServed(s: SparkSession, dir: String, q: DataFrame,
      pool: Int, picks: Int, lam: Double): Tables.Served = {
    val e = t(s, dir, "embeddings")
    val c = e.select(col("vec_id").as("n_id"), col("embedding").as("cv"),
      l2Norm(col("embedding")).as("cn"))
    val wrel = Window.partitionBy(col("q_id"))
      .orderBy(col("rel").desc, col("n_id"))
    Tables.Served(Seq(c, q), tier => {
      val cand = tier.single(tier.single(c).join(tier.cross(q),
          col("n_id") =!= col("q_id")))
        .withColumn("rel", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
        .withColumn("rk", row_number().over(wrel))
        .filter(col("rk") <= pool)
        .select(col("q_id"), col("n_id"), col("rel"), col("cv"), col("cn"))
      if (tier.onePartition) mmrGreedyDistributed(cand, picks, lam) else cand
    })
  }

  /** Exact-cosine re-rank depth of the ADC candidate stage feeding the
    * indexed MMR pool — the q_hybrid_rrf_indexed dial (wide enough to
    * fill a [[FuseDepth]]-sized pool).
    */
  private[graft] val MmrIndexedTopC = 24

  /** The stored-codes ANN ranking that seeds the indexed pool —
    * exposed separately so the plan spec can pin the serve stage
    * (stored codes in, no corpus-side encode, no exact-cosine corpus
    * join) independently of the point-fetch stage below.
    */
  private[graft] def mmrIndexedPool(s: SparkSession, dir: String,
      q: DataFrame, pool: Int): DataFrame =
    // the re-rank budget must cover the requested pool: a fixed topC
    // would silently cap a pool > MmrIndexedTopC at the ADC cut and
    // the greedy stage would diversify over fewer candidates than the
    // exact arm returns for the same dial (the pool can still come up
    // short when the probed cells hold fewer vectors — inherent to
    // any ANN candidate source)
    SimilarityQueries.servedRankedForQueryFrame(s, dir,
      q.select(col("q_id").as("vec_id"), col("qv").as("embedding")),
      nprobe = 2, topC = math.max(MmrIndexedTopC, pool), depth = pool)

  /** The INDEXED candidate pool (q_id, n_id, rel, cv, cn) over an
    * arbitrary query frame (q_id, qv, qn): candidate ids from the
    * stored-codes ANN serve (never a corpus-side encode or exact-scan
    * — the index work was paid at build time), then a point fetch of
    * the ≤ queries × pool candidate vectors for the greedy stage's
    * exact rel/sim math. Both stages are bounded by the query batch:
    * the candidate-pair collect is ≤ queries × pool driver rows, and
    * the fetch prunes the embeddings scan to the candidate ids.
    */
  private[graft] def mmrIndexedCandidates(s: SparkSession, dir: String,
      q: DataFrame, pool: Int, bulk: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val ranked = mmrIndexedPool(s, dir, q, pool)
    val fetched =
      if (bulk) {
        // BULK fetch arm: the pair frame stays distributed and the
        // candidate vectors arrive by JOIN — a collect + `isin`
        // literal over millions of candidate ids would bottleneck the
        // driver and blow the plan (the BM25 JOIN-arm discipline). No
        // broadcast hints: at the batch sizes that pick this arm the
        // pair/query frames may exceed driver-broadcast size; AQE
        // still broadcasts small ones on its own.
        t(s, dir, "embeddings")
          .select(col("vec_id").as("n_id"), col("embedding").as("cv"),
            l2Norm(col("embedding")).as("cn"))
          .join(ranked.select(col("q_id"), col("n_id")), Seq("n_id"))
          .join(q, Seq("q_id"))
      } else {
        val pairRows = ranked.select(col("q_id"), col("n_id")).collect().toSeq
        val ids = pairRows.map(_.getLong(1)).distinct
        val pairs = s.createDataFrame(
          java.util.Arrays.asList(pairRows: _*),
          StructType(Seq(StructField("q_id", LongType),
            StructField("n_id", LongType))))
        t(s, dir, "embeddings")
          .filter(col("vec_id").isin(ids: _*))
          .select(col("vec_id").as("n_id"), col("embedding").as("cv"),
            l2Norm(col("embedding")).as("cn"))
          .join(broadcast(pairs), Seq("n_id"))
          .join(broadcast(q), Seq("q_id"))
      }
    fetched
      .select(col("q_id"), col("n_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("rel"),
        col("cv"), col("cn"))
  }

  /** ONE query's MMR greedy selection over its candidate pool rows
    * `(n_id, rel, cv, cn)` → `(n_id, pick, mmr_score)` — THE selection
    * kernel, shared bit-for-bit by the driver arm ([[mmrGreedy]]) and
    * the distributed bulk arm ([[mmrGreedyDistributed]]): the same
    * compiled arithmetic runs in both places, so the arms cannot
    * drift. Every double op mirrors the relational form the unrolled
    * oracle CTEs re-derive — FloatVectorDot's strict left-to-right
    * accumulation, λ·rel − (1−λ)·max-sim with the same literal
    * products, ties by (value desc, n_id asc); the seed pick mirrors
    * the oracle's s1 CTE EXACTLY: ordered by (rel desc, n_id asc)
    * with mmr emitted as λ·rel (ordering by λ·rel would diverge at
    * λ=0, where every product ties at 0 and the tie-break would pick
    * the lowest n_id regardless of relevance). Order-independent in
    * the candidate order: every pick is an argmin over a key made
    * unique by its trailing n_id.
    */
  private[graft] def mmrGreedyPerQuery(
      cs: Array[(Long, Double, Array[Float], Double)],
      picks: Int, lam: Double): Seq[(Long, Int, Double)] = {
    val lamC = 1.0 - lam
    def dotD(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val sim = scala.collection.mutable.HashMap.empty[(Long, Long), Double]
    for (a <- cs; b <- cs; if a._1 != b._1)
      sim((a._1, b._1)) = dotD(a._3, b._3) / (a._4 * b._4)
    val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Double)]
    for (k <- 1 to picks) {
      if (k == 1 && cs.nonEmpty) {
        val c = cs.minBy(c => (-c._2, c._1))
        selected += c._1
        out += ((c._1, 1, math.floor(lam * c._2 * 10000) / 10000))
      } else {
        val scored = cs.filter(c => !selected.contains(c._1)).map { c =>
          val mmr = lam * c._2 -
            lamC * selected.map(sel => sim((c._1, sel))).max
          (c._1, mmr)
        }
        if (scored.nonEmpty) {
          val (n, mmr) = scored.minBy { case (n, m) => (-m, n) }
          selected += n
          out += ((n, k, math.floor(mmr * 10000) / 10000))
        }
      }
    }
    out.toSeq
  }

  /** The MMR greedy selection over a candidate pool (q_id, n_id, rel,
    * cv, cn) — shared by the exact and indexed tiers so the selection
    * semantics cannot drift between them. This is the INTERACTIVE
    * (driver) arm: the pool is query-batch-sized BY CONSTRUCTION
    * (≤ queries × pool rows of 64-dim vectors — driver metadata, the
    * ANN serve's collect-once discipline), so the greedy selection
    * runs as plain driver arithmetic on ONE collected frame. Rounds
    * 13–15 ran the loop distributed over per-step localCheckpoints:
    * correct, but 8+ scheduler jobs per pick on query-batch-sized
    * local relations — a 46-job floor for a 1-query search
    * (SCALING.md round 16, "External search entries: the planning
    * floor cut"). For OFFLINE bulk batches the per-query
    * kernel runs distributed instead ([[mmrGreedyDistributed]]); the
    * catalog hash gates pin the shared kernel bit-for-bit at every
    * dial, and the arm-identity spec pins the two arms row-identical.
    */
  private[graft] def mmrGreedy(
      cand0: DataFrame, picks: Int, lam: Double): DataFrame = {
    val s = cand0.sparkSession
    val rows = cand0.collect()
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int, Double)]
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      // (n_id, rel, cv, cn), pool-sized
      val cs = rs.map(r => (r.getLong(1), r.getDouble(2),
        r.getSeq[Float](3).toArray, r.getDouble(4)))
      mmrGreedyPerQuery(cs, picks, lam).foreach { case (n, k, m) =>
        out += ((q, n, k, m)) }
    }
    import s.implicits._
    out.toSeq.toDF("q_id", "n_id", "pick", "mmr_score")
      .orderBy(col("q_id"), col("pick"))
  }

  /** The BULK (distributed) greedy arm: the per-query kernel runs
    * inside `flatMapGroups` keyed on q_id — embarrassingly parallel
    * (queries never interact), so an offline million-query
    * diversification scales with the cluster instead of collecting
    * queries × pool candidate VECTORS to the driver and running the
    * selection single-threaded. Same compiled kernel as the driver
    * arm — identical output by construction (and pinned row-identical
    * by the arm-identity spec on random pools). Over a one-partition
    * candidate frame ([[Tables.Tier.OnePartition]]) the grouping plans
    * no exchange, so the exact tier's interactive request runs the
    * greedy inside its one job instead of collecting the pool.
    */
  private[graft] def mmrGreedyDistributed(
      cand0: DataFrame, picks: Int, lam: Double): DataFrame = {
    val s = cand0.sparkSession
    import s.implicits._
    cand0.select(col("q_id"), col("n_id"), col("rel"), col("cv"), col("cn"))
      .as[(Long, Long, Double, Array[Float], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (q: Long,
          it: Iterator[(Long, Long, Double, Array[Float], Double)]) =>
        val cs = it.map(t => (t._2, t._3, t._4, t._5)).toArray
        mmrGreedyPerQuery(cs, picks, lam).iterator
          .map { case (n, k, m) => (q, n, k, m) }
      }
      .toDF("q_id", "n_id", "pick", "mmr_score")
      .orderBy(col("q_id"), col("pick"))
  }

  /** Query-batch-size bound (count of queries — known on the driver
    * before any job, the [[PushdownTermsMax]] discipline) above
    * which the diversified family's greedy and candidate-fetch stages
    * switch from the interactive driver arm (collect + literal-pruned
    * point fetch + driver arithmetic) to the distributed bulk arm
    * (join-based vector fetch + grouped per-query greedy). The driver
    * arm's collect carries the candidate VECTORS (≈ queries × pool ×
    * 64 floats ≈ 300 B/row) and builds an `isin` literal over the
    * candidate ids, both linear in the batch — fine interactive,
    * driver-bound for offline million-query batches. The default is
    * set by the STRUCTURAL bound, not local wall-clock: the round-17
    * measurement at sf1 (SCALING.md round 17, "Bulk (distributed) arm
    * for the diversified retrieval family") has the bulk arm
    * winning at EVERY batch size on this box (n=1: 0.78 vs 1.02 s;
    * n=512: 1.60 vs 1.97; n=10k: 9.6 vs 12.3) because a 5 MB local
    * corpus makes the bulk arm's un-pruned embeddings scan free — but
    * at 100 TB that scan term dominates a small batch, and the driver
    * arm's id-pruned point fetch (O(candidates) IO) is the right plan
    * exactly while the candidate-id set fits the literal-pushdown
    * discipline: 512 queries × pool 20 = 10,240 ids, just under the
    * [[PushdownTermsMax]] 16,384-literal line. Above it the
    * literal stops pruning anyway and the measured-everywhere-faster
    * bulk arm takes over.
    */
  private val MmrBulkQueriesMin = 512L

  private def mmrBulk(numQueries: Long): Boolean = numQueries > MmrBulkQueriesMin

  /** Size-aware greedy dispatch — driver arm at interactive batch
    * sizes, distributed arm above [[MmrBulkQueriesMin]].
    */
  private def mmrSelect(cand: DataFrame, picks: Int, lam: Double,
      numQueries: Long): DataFrame =
    if (mmrBulk(numQueries))
      mmrGreedyDistributed(cand, picks, lam)
    else mmrGreedy(cand, picks, lam)

  // ------------------------------------------------------------------
  // Streaming relevance scoring — the retrieval family's gate member
  // (the quality-gate pattern: perplexity, outlier, span-contamination
  // gates all score arrivals against FROZEN stored state). A relevance
  // gate routes arriving documents by BM25 score against a fixed query
  // — targeted corpus collection ("keep docs relevant to X"), the
  // query-driven sibling of DSIR's distribution-driven selection.
  // ------------------------------------------------------------------

  /** The frozen relevance model for a fixed query-term set: the
    * (term, idf) rows and the 1-row (n, totlen) scalars, all read from
    * the stored index tables and localCheckpoint-materialized — the
    * frozen-generation discipline (scoring must not depend on when the
    * maintainer last ran mid-stream).
    */
  def relevanceModel(s: SparkSession, pstDir: String, dlDir: String,
      terms: Seq[String]): (DataFrame, DataFrame) = {
    val nb = DedupQueries.tableBuckets(s, pstDir)
    // all bucket ids job-free (the per-term Tables.hashBucket loop
    // launched one 1-row Spark job per term; the r17 shape one
    // local-relation job for all of them)
    import s.implicits._
    val bkts = Tables.valueBucketsLocal(terms, nb)._2
    // tombstone-filtered like every stored-index read: a taken-down
    // doc must stop counting toward the frozen model's df and scalars
    val dft = graft.sinks.IncrementalParquet
      .applyTombstones(s, pstDir, "doc_id")(
        Tables.parquetCachedSchema(s, pstDir)
          .filter(col("bkt").isin(bkts: _*) && col("term").isin(terms: _*)))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val (nS, totS) = survivingScalars(s, dlDir)
    val gs = Seq((nS, totS)).toDF("n", "totlen")
    val idf = dft.crossJoin(broadcast(gs)).select(col("term"),
      TextQueries.quantizeLog2(log2(lit(1.0) +
        (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))).as("idf"))
      .localCheckpoint()
    (idf, gs)
  }

  /** BM25 scores of `docs` against the frozen (idf, gs) model — a pure
    * per-document function of the arriving text plus broadcast model
    * state (no join against the corpus, no streaming state), so the
    * streamed scores are bit-identical to a batch pass by construction.
    * Emits only docs matching ≥1 model term (nothing to score
    * otherwise — gate upstream on tokenCount if every doc needs a row).
    */
  def bm25RelevanceScores(docs: DataFrame, idf: DataFrame,
      gs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long")
          .as("dl"),
        explode(tokens(lower(col("text")))).as("term"))
      .join(broadcast(idf), Seq("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"), col("idf"))
      .agg(count(lit(1)).as("tf"))
    tf.crossJoin(broadcast(gs))
      .select(col("doc_id"), col("term"),
        (col("idf") *
          tfNorm(col("tf"), col("dl"), col("n"), col("totlen"))).as("sc"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(IntegerType).as("matched"),
        aggregate(
          sort_array(collect_list(struct(col("term"), col("sc")))),
          lit(0.0d), (acc, x) => acc + x.getField("sc")).as("score"))
  }

  /** The exact hybrid tier: full-recompute BM25 arm fused with the
    * brute-force cosine arm — the oracle-friendly small-corpus form
    * behind q_hybrid_rrf.
    */
  def hybridRrfExact(s: SparkSession, dir: String, nQueries: Int): DataFrame =
    // the arms share NO subtree, so the interactive tier collects them
    // CONCURRENTLY and fuses driver-side (rrfFuseSized): r18's cut of
    // the job-count × driver-gap wall (24 sequential jobs measured,
    // task time ≈ half the wall)
    rrfFuseSized(s, nQueries.toLong,
      hybridExactBmArm(s, dir, nQueries), hybridExactCosArm(s, dir, nQueries))

  /** The exact tier's BM25 arm (q_id, n_id, bm_rank) — split out so
    * the plan spec can pin the arm shape now that the interactive
    * fused output is a local relation.
    */
  private[graft] def hybridExactBmArm(
      s: SparkSession, dir: String, nQueries: Int): DataFrame = {
    val docs = t(s, dir, "documents")
    val qt = queryTerms(docs, nQueries)
    val (pst, dl, gs) = recomputedState(docs, qt)
    bm25Ranked(qt, pst, dl, gs)
      .filter(col("rank") <= FuseDepth)
      .select(col("q_id"), col("n_id"), col("rank").as("bm_rank"))
  }

  /** The exact tier's vector arm (q_id, n_id, cos_rank) —
    * q_ann_bruteforce's proven shape: the query side broadcasts; the
    * corpus never shuffles for the join.
    */
  private[graft] def hybridExactCosArm(
      s: SparkSession, dir: String, nQueries: Int): DataFrame = {
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        l2Norm(col("embedding")).as("qn"))
    val c = e.select(col("vec_id").as("n_id"), col("embedding").as("cv"),
      l2Norm(col("embedding")).as("cn"))
    val wc = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    c.join(broadcast(q), col("n_id") =!= col("q_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("cos_rank", row_number().over(wc).cast(IntegerType))
      .filter(col("cos_rank") <= FuseDepth)
      .select(col("q_id"), col("n_id"), col("cos_rank"))
  }

  /** The indexed hybrid tier: BOTH arms from stored indexes — the
    * form behind q_hybrid_rrf_indexed.
    */
  def hybridRrfIndexed(
      s: SparkSession, dir: String, nQueries: Int): DataFrame =
    rrfFuseSized(s, nQueries.toLong,
      hybridIndexedBmArm(s, dir, nQueries),
      hybridIndexedCosArm(s, dir, nQueries))

  /** The indexed tier's BM25 arm (q_id, n_id, bm_rank) — split out so
    * the plan spec pins the stored-index serve shape per arm (the
    * interactive fused output is a local relation since r18).
    */
  private[graft] def hybridIndexedBmArm(
      s: SparkSession, dir: String, nQueries: Int): DataFrame =
    bm25ServedRanked(s, dir, nQueries)
      .filter(col("rank") <= FuseDepth)
      .select(col("q_id"), col("n_id"), col("rank").as("bm_rank"))

  /** The indexed tier's vector arm (q_id, n_id, cos_rank). */
  private[graft] def hybridIndexedCosArm(
      s: SparkSession, dir: String, nQueries: Int): DataFrame =
    SimilarityQueries.pinnedServedRanked(
      s, dir, nQueries, nprobe = 2, topC = 24, depth = FuseDepth)
      .select(col("q_id"), col("n_id"), col("rank").as("cos_rank"))

  /** Hybrid (RRF) search for EXTERNAL queries — each query a (text,
    * embedding) pair — with BOTH arms served from the stored indexes:
    * BM25 from the maintained postings tables
    * ([[bm25SearchText]]'s chain) and the vector arm from the stored
    * IVF-PQ codes table at the fusion dials
    * ([[SimilarityQueries.annRequest]]). The user-facing
    * sibling of the gated q_hybrid_rrf_indexed: a search batch
    * arrives as raw text + raw vectors, never staged into the corpus.
    * Query ids are input positions; both arms ride negative internal
    * ids so corpus self-exclusion never fires for external queries.
    * One tier for the whole request, from both arms' leaves
    * ([[Tables.tier]]): within one task's bound the two arms and the
    * fusion run in one partition as ONE job, from one template; above
    * it each arm binds its own template, and the two are collected
    * concurrently and fused driver-side ([[rrfFuseSized]]).
    */
  def hybridSearch(s: SparkSession, dir: String,
      queries: Seq[(String, Array[Float])]): DataFrame = {
    val (bm, ann) = hybridArms(s, dir, queries)
    def external(fused: DataFrame) = fused
      .withColumn("q_id", -col("q_id") - 1)
      .orderBy(col("q_id"), col("rank"))
    val one = bm.zip(ann, "hybridSearch")((bt, ct, tier) =>
      external(rrfFuse(bt, ct, tier))).prepare(s)
    val tier = one.tier
    if (tier.onePartition) one.plan(tier)
    else external(rrfFuseSized(s, queries.size.toLong,
      bm.prepare(s).plan(tier), ann.prepare(s).plan(tier)))
  }

  /** The two arms of an external hybrid request as [[Tables.Request]]s:
    * BM25 (q_id, n_id, bm_rank) and ANN (q_id, n_id, cos_rank) at the
    * fusion dials, both on negative internal query ids.
    */
  private def hybridArms(s: SparkSession, dir: String,
      queries: Seq[(String, Array[Float])]): (Tables.Request, Tables.Request) = (
    bm25Request(s, dir, queries.map(_._1)).map("bt")(_
      .filter(col("rank") <= FuseDepth)
      .select(col("q_id"), col("n_id"), col("rank").as("bm_rank"))),
    SimilarityQueries.annRequest(s, dir, queries.map(_._2),
        nprobe = 2, topC = 24, depth = FuseDepth).map("ct")(_
      .select(col("q_id"), col("n_id"), col("rank").as("cos_rank"))))

  /** Diversified hybrid retrieval — MMR over the RRF-fused candidate
    * list: rel is the RAW fused rrf (IEEE-exact, a sum of at most two
    * 1/(60+rank) divisions — no libm, no quantization), sim is the
    * exact embedding cosine between candidates, so near-duplicate
    * documents cannot crowd a fused result list (Carbonell &
    * Goldstein's MMR applied to Cormack's RRF — the full modern
    * retrieval stack in one chain). Both fusion arms serve from their
    * stored indexes (the q_hybrid_rrf_indexed chain); the candidate
    * list is query-batch-sized and nothing is corpus-sized after the
    * two index serves. Size-aware like every retrieval entry: at
    * interactive batch sizes the vectors arrive by id-pruned point
    * fetch and the greedy runs driver-side; above
    * [[MmrBulkQueriesMin]] the fetch is an un-hinted join and the
    * per-query greedy runs distributed (same kernel — arm-identity
    * pinned).
    */
  def hybridDiversified(s: SparkSession, dir: String, nQueries: Int,
      picks: Int, lam: Double): DataFrame =
    diversifiedSized(s, dir, nQueries.toLong, picks, lam,
      hybridIndexedBmArm(s, dir, nQueries),
      hybridIndexedCosArm(s, dir, nQueries))

  /** Size-aware diversified tail over the two fusion arms: the
    * interactive tier collects the arms CONCURRENTLY, fuses
    * driver-side ([[rrfFuseLocal]] — rel is the raw fused rrf, exactly
    * the triples the previous shape collected from the distributed
    * fuse), point-fetches the candidate vectors in ONE id-pruned job
    * and runs the shared greedy kernel on the driver
    * ([[mmrGreedyLocal]]). Bulk batches keep the distributed fuse +
    * join-fetch + grouped greedy.
    */
  private def diversifiedSized(s: SparkSession, dir: String,
      numQueries: Long, picks: Int, lam: Double,
      mkBt: => DataFrame, mkCt: => DataFrame): DataFrame =
    if (mmrBulk(numQueries))
      mmrSelect(fusedCandidates(s, dir, rrfFusedRanked(mkBt, mkCt)),
        picks, lam, numQueries)
    else {
      val (btRows, ctRows) = inParallel(collectArm(mkBt), collectArm(mkCt))
      mmrGreedyLocal(s, dir,
        rrfFuseLocal(btRows.toSeq, ctRows.toSeq)
          .map { case (q, n, rrf, _, _, _) => (q, n, rrf) },
        picks, lam)
    }

  /** The interactive diversified tail over locally fused (q_id, n_id,
    * rel) triples: ONE id-pruned embeddings job fetches each distinct
    * candidate's (vector, norm) — cv/cn computed by the SAME plan-side
    * l2Norm expression as every other tier — and the shared per-query
    * kernel [[mmrGreedyPerQuery]] runs on the driver. Candidates
    * without an embedding row drop out exactly like the previous
    * shape's inner join. Replaces collect-fused → broadcast-pair join
    * → collect-candidates (two driver round trips + a join stage) with
    * one slim fetch.
    */
  private def mmrGreedyLocal(s: SparkSession, dir: String,
      triples: Seq[(Long, Long, Double)], picks: Int,
      lam: Double): DataFrame = {
    val ids = triples.map(_._2).distinct
    val vecs = t(s, dir, "embeddings")
      .filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id"), col("embedding"),
        l2Norm(col("embedding")).as("cn"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getSeq[Float](1).toArray, r.getDouble(2)))).toMap
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int, Double)]
    triples.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (q, rs) =>
      val cs = rs.flatMap { case (_, n, rel) =>
        vecs.get(n).map { case (cv, cn) => (n, rel, cv, cn) }
      }.toArray
      mmrGreedyPerQuery(cs, picks, lam).foreach { case (n, k, m) =>
        out += ((q, n, k, m))
      }
    }
    import s.implicits._
    out.toSeq.toDF("q_id", "n_id", "pick", "mmr_score")
      .orderBy(col("q_id"), col("pick"))
  }

  /** Diversified hybrid search for EXTERNAL (text, vector) queries —
    * the diversified sibling of [[hybridSearch]]: same two stored-
    * index arms and fusion, then the MMR cut over the fused top-k.
    * Query ids are input positions; negative internal ids throughout.
    */
  def searchDiversified(s: SparkSession, dir: String,
      queries: Seq[(String, Array[Float])], picks: Int = MmrPicks,
      lam: Double = 0.5): DataFrame = {
    val (bm, ann) = hybridArms(s, dir, queries)
    diversifiedSized(s, dir, queries.size.toLong, picks, lam,
      bm.prepare(s).run, ann.prepare(s).run)
      .withColumn("q_id", -col("q_id") - 1)
      .orderBy(col("q_id"), col("pick"))
  }

  /** The BULK MMR candidate frame (q_id, n_id, rel, cv, cn) over a
    * fused ranking: the triples stay distributed and the vectors
    * arrive by un-hinted join (see [[mmrIndexedCandidates]]).
    */
  private def fusedCandidates(s: SparkSession, dir: String,
      fused: DataFrame): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id").as("n_id"), col("embedding").as("cv"),
        l2Norm(col("embedding")).as("cn"))
      .join(fused.select(col("q_id"), col("n_id"),
        col("rrf").as("rel")), Seq("n_id"))
      .select(col("q_id"), col("n_id"), col("rel"), col("cv"), col("cn"))

  /** The diversified hybrid oracle: the full fused chain (both index
    * serves re-derived relationally, fusion CTEs) feeding the shared
    * MMR greedy tail with rel = raw rrf.
    */
  private def searchDiversifiedSql(
      picks: Int, lam: String, lamC: String): String =
    s"""WITH $bm25CtesSql,
       |e AS ($embDoubleSql),
       |${SimilarityQueries.ivfPqRankedCtesSql(NQueries, 2, 24)},
       |bt AS (SELECT q_id, n_id, rank AS bm_rank FROM bmr
       |       WHERE rank <= $FuseDepth),
       |ct AS (SELECT q_id, n_id, rank AS cos_rank FROM annr
       |       WHERE rank <= $FuseDepth),
       |$rrfCtesSql,
       |cand AS (SELECT f.q_id, f.n_id, f.rrf AS rel,
       |           n.v AS cv, n.nrm AS cn
       |         FROM fr f JOIN nv n ON n.vec_id = f.n_id
       |         WHERE f.rank <= $TopK),
       |${mmrTailSql(picks, lam, lamC)}""".stripMargin

  /** Corpus-size threshold (bytes, embeddings-table stats) above which
    * [[hybridRrf]] serves the INDEXED tier instead of the exact one.
    * The exact tier's vector arm is a brute-force cosine scan — the
    * right plan only while the corpus is small enough that index
    * plumbing costs more than the scan it avoids (tiny-input walls are
    * job-count × planning floors — the re-rank fetch lesson). Set at
    * the measured crossover, re-measured in round 16 after the
    * serve-floor cuts (memoized codebook + corpus scalars) moved it
    * DOWN: exact/indexed 1.79/1.60 s at sf0.01 = 80 KB (near-tie),
    * 2.74/2.13 at sf0.1 = 0.80 MB, 2.58/2.31 at sf1 = 5.2 MB — the
    * indexed arm now wins from sf0.1 up (round 14 had measured
    * 1.56/2.08 there). 512 KB sits between the near-tie point (where
    * the exact tier's exact vector ranking is worth keeping) and the
    * first clear indexed win.
    */
  private val HybridExactMaxBytes = 512L * 1024

  /** Size-aware hybrid retrieval — the single library entry point: the
    * arm is picked from the embeddings table's optimizer stats against
    * [[HybridExactMaxBytes]], so a user gets the oracle-exact tier
    * on a small corpus and the near-flat indexed tier at scale without
    * choosing (the exactReRankTail precedent). Both tiers stay
    * available directly ([[hybridRrfExact]]/[[hybridRrfIndexed]], each
    * oracle-gated as its own catalog query); NOTE the tiers are
    * different RANKINGS by design — the indexed vector arm is IVF-PQ
    * approximate — so the switch trades recall for scan cost exactly
    * like any ANN-vs-exact choice.
    */
  def hybridRrf(s: SparkSession, dir: String, nQueries: Int): DataFrame = {
    if (t(s, dir, "embeddings").queryExecution.optimizedPlan.stats.sizeInBytes <=
        HybridExactMaxBytes) hybridRrfExact(s, dir, nQueries)
    else hybridRrfIndexed(s, dir, nQueries)
  }

  val all: Seq[GraftQuery] = Seq(

    // ------------------------------------------------------ BM25 top-k
    // Okapi BM25 keyword search: for each query document (doc_id < 5),
    // its 3 most salient terms retrieve the top-10 corpus documents.
    // Plan: tokenize → broadcast-semi-join on query terms → tf agg →
    // idf broadcast → per-candidate ordered fold → per-query rank.
    GraftQuery("q_bm25_topk", bm25TopkSql) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val qt = queryTerms(docs)
      val (pst, dl, gs) = recomputedState(docs, qt)
      bm25Project(bm25Ranked(qt, pst, dl, gs))
    },

    // Same oracle text, served from the STORED inverted index: the
    // corpus never tokenizes at query time — postings, doc lengths and
    // the (N, totlen) scalars all read from the incrementally-built
    // tables (two exactly-once batches + compaction), and the
    // full-recompute SQL checks nothing was lost on the round trip.
    // This is the form a user runs at scale: query cost is bounded by
    // the query terms' posting lists plus one doc-stats-sized scalar
    // aggregation, independent of the corpus text.
    GraftQuery("q_bm25_served", bm25TopkSql) { (s, dir) =>
      bm25ServedTopK(s, dir, NQueries)
    },

    // The DELETION lifecycle under the oracle hash: build + append +
    // exactly-once takedown batch (doc_id ≡ 3 mod 7) + REPLAYED
    // takedown (pinned no-op — a double retraction would shift every
    // idf) + minor compaction + physical purge of the postings table,
    // with the doc-stats table left tombstone-served — one hash pins
    // BOTH removal mechanisms against the full recompute over the
    // surviving corpus. Deleted docs stop ranking, stop counting
    // toward df, and their (1, dl) contribution leaves the scalars;
    // queries still come from the original query documents.
    GraftQuery("q_bm25_deleted", bm25DeletedSql) { (s, dir) =>
      val docs = t(s, dir, "documents")
      bm25Project(bm25RankedFromDirs(s,
        incrementalPostingsDeletedDirs(s, dir),
        queryTerms(docs), NQueries.toLong * TermsPerQuery))
    },

    // --------------------------------------------- leakage-free splits
    // Dedup-aware train/val/test assignment — the leakage guard
    // q_split_assign's per-doc hash cannot give: hashing doc_id puts
    // two IDENTICAL documents in different splits with probability
    // ~2·p·(1−p), silently leaking train content into test. Keying the
    // split hash on the exact-dup FINGERPRINT (the normalized-text
    // sha — q_dedup_exact's cluster key) makes every copy of a
    // document land in the same split BY CONSTRUCTION, and the query
    // PROVES it cross-engine: leaky_docs counts docs whose cluster
    // spans >1 split and must be 0. Pure scan-stage hash + one window
    // over the cluster key; same 80/10/10 recipe as q_split_assign.
    GraftQuery(
      "q_split_leakfree",
      """WITH b AS (
        |  SELECT doc_id, source,
        |    sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |a AS (
        |  SELECT doc_id, source, fp,
        |    CASE WHEN bucket < 80 THEN 'train'
        |         WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT doc_id, source, fp,
        |          list_sum([(strpos('0123456789abcdef', substring(h, p, 1)) - 1)
        |                    * CAST(16**(7 - p) AS BIGINT)
        |                    FOR p IN range(1, 8)]) % 100 AS bucket
        |        FROM (SELECT doc_id, source, fp,
        |                substring(sha256(fp), 1, 7) AS h FROM b))),
        |lk AS (
        |  SELECT doc_id, source, split,
        |    count(DISTINCT split) OVER (PARTITION BY fp) AS n_splits
        |  FROM a)
        |SELECT source, split, count(*) AS n,
        |  CAST(coalesce(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) AS leaky_docs
        |FROM lk GROUP BY source, split ORDER BY source, split""".stripMargin) {
      (s, dir) =>
        import graft.functions.TextFunctions.fingerprint
        import graft.functions.SimilarityFunctions.elementHash
        val a = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            fingerprint(col("text")).as("fp"))
          .withColumn("bucket", elementHash(col("fp")) % 100)
          .withColumn("split",
            when(col("bucket") < 80, "train")
              .when(col("bucket") < 90, "val").otherwise("test"))
        val wFp = Window.partitionBy(col("fp"))
        a.withColumn("n_splits",
            org.apache.spark.sql.functions.size(
              collect_set(col("split")).over(wFp)))
          .groupBy(col("source"), col("split"))
          .agg(count(lit(1)).as("n"),
            coalesce(sum(when(col("n_splits") > 1, 1L).otherwise(0L)),
              lit(0L)).as("leaky_docs"))
          .orderBy(col("source"), col("split"))
    },

    // -------------------------------------------- diversity report
    // Per-source corpus diversity — the type-token and distinct-bigram
    // ratios a mixture decision reads before weighting a source (a
    // low-diversity source is template/boilerplate mass that a raw
    // token count over-credits; self-repetition metrics are standard
    // curation signals beside the per-doc repetition gates). Every
    // statistic is an exact BIGINT; the two ratios are ONE IEEE
    // division of exact integers each — bit-identical cross-engine, no
    // quantization needed. Plan: two grouped distinct-aggregations
    // (unigram and bigram streams explode differently, so the passes
    // cannot share a scan) plus one plain count pass — all map-side
    // partial-aggregated, output |sources| rows.
    GraftQuery(
      "q_diversity_report",
      diversityReportSql) { (s, dir) =>
      import graft.functions.TextFunctions.shinglesFromTokens
      val docs = t(s, dir, "documents")
      val tk = docs.select(col("doc_id"), col("source"),
        tokens(lower(col("text"))).as("ts"))
      val uni = tk.select(col("source"), explode(col("ts")).as("term"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("term")).as("uniq_unigrams"))
      val bi = tk.select(col("source"),
          explode(shinglesFromTokens(col("ts"), 2)).as("bigram"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_bigrams"),
          countDistinct(col("bigram")).as("uniq_bigrams"))
      val d = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      diversityProject(d.join(uni, Seq("source"))
        .join(bi, Seq("source"), "left"))
    },

    // Same oracle text, served from the CONTINUOUSLY-MAINTAINED
    // diversity state: the distinct unigram/bigram tables (set-union
    // semigroup — dedup-on-compact keeps them Heaps-bounded) and the
    // sum-merge per-source counters, built through two exactly-once
    // batches + compaction. The full-recompute SQL pins that append →
    // dedup-compact → reconstruct loses nothing — i.e. that the
    // distinct-gram union really is corpus state, not a per-query
    // recount. Serving is three |vocab|-bounded aggregations; the
    // corpus text is never touched.
    GraftQuery("q_diversity_report_incr", diversityReportSql) { (s, dir) =>
      val (uniDir, biDir, cntDir, sktDir) = incrementalDiversityDirs(s, dir)
      diversityServed(s, uniDir, biDir, cntDir, sktDir)
    },

    // The diversity family's deletion lifecycle under the oracle hash
    // — the HARD case, all three removal arms in one takedown: exact
    // negative counter deltas (semigroup), and per-source re-derive
    // of the distinct-gram sets and HLL sketches from the survivors
    // (set-union state can neither tombstone nor subtract — a deleted
    // doc's gram may still be justified by a surviving doc, and an
    // HLL cannot forget). Build + append + takedown (doc ≡ 3 mod 7) +
    // REPLAYED takedown (retraction acked, re-derive idempotent) +
    // merge-compaction; the oracle recomputes every report column
    // over the surviving corpus.
    GraftQuery("q_diversity_report_deleted",
      diversityReportSqlOver(
        "(SELECT * FROM documents WHERE doc_id % 7 <> 3)")) { (s, dir) =>
      val (uniDir, biDir, cntDir, sktDir) =
        incrementalDiversityDeletedDirs(s, dir)
      diversityServed(s, uniDir, biDir, cntDir, sktDir)
    },

    // ------------------------------------------------- phrase search
    // Exact-phrase retrieval over positional bigram postings — the
    // adjacency-aware operator BM25's bag-of-words scoring cannot
    // express (a doc containing both words of a phrase in unrelated
    // positions must NOT match). Each query doc's most frequent bigram
    // (ties lexicographic) is its phrase; candidates rank by occurrence
    // count. Adjacency is encoded in the shingle construction itself,
    // so the whole chain is INTEGER-exact — no floats anywhere, the
    // strongest possible hash gate. Longer phrases are the same
    // mechanism at n>2 (shinglesFromTokens is n-ary). Plan: the bigram
    // explode is scan-stage; the (tiny) phrase set broadcasts and
    // semi-joins the bigram stream BEFORE the occurrence aggregation —
    // candidate mass is bounded by the phrases' posting lists, the
    // positional-index access path.
    GraftQuery("q_phrase_search", phraseSearchSql) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val qp = queryPhrases(docs)
      // semi-join the broadcast phrase set BEFORE the occurrence agg:
      // candidate mass is bounded by the phrases' posting lists
      val m = bigramStream(docs)
        .join(broadcast(qp.select(col("phrase")).distinct()),
          col("bigram") === col("phrase"))
        .groupBy(col("doc_id"), col("bigram"))
        .agg(count(lit(1)).as("occurrences"))
        .withColumnRenamed("doc_id", "n_id")
      phraseRank(qp, m)
    },

    // Same oracle text, served from the STORED positional bigram index
    // (the q_bm25_served discipline): candidates come from the
    // incrementally-built bigram postings table behind LITERAL
    // bkt/bigram In-filters — `bkt` prunes hive partitions, `bigram`
    // prunes bigram-sorted row groups — so the corpus text is never
    // tokenized or shingled at query time; only the query docs
    // (doc_id < 5, pushed down) are read to derive the phrases. The
    // full-recompute SQL pins the append → compact → serve round trip.
    // This closes the round-14 verdict's one perf-weak catalog entry:
    // at 100 TB a phrase query must not tokenize the corpus.
    GraftQuery("q_phrase_served", phraseSearchSql) { (s, dir) =>
      phraseServedFrom(s, t(s, dir, "documents"),
        incrementalPhraseDir(s, dir))
    },

    // The phrase-index DELETION lifecycle under the oracle hash:
    // build + append + takedown A (doc_id ≡ 3 mod 14, physically
    // PURGED) + takedown B (≡ 10 mod 14, tombstone-SERVED) + replayed
    // batch A (pinned no-op) + minor compaction — one hash pins both
    // removal mechanisms against the full recompute over the
    // surviving corpus, with queries still drawn from the original
    // query documents.
    GraftQuery("q_phrase_deleted",
      phraseSearchSqlWith(" AND doc_id % 7 <> 3")) { (s, dir) =>
      phraseServedFrom(s, t(s, dir, "documents"),
        incrementalPhraseDeletedDir(s, dir))
    },

    // The n>2 phrase form, served from the SAME positional bigram
    // index: each query doc's most frequent TRIGRAM is its phrase; a
    // trigram "a b c" occurs at offset p iff bigram "a b" sits at p
    // AND bigram "b c" sits at p+1 — the positional-index
    // intersection (the Lucene phrase-query walk), so the serve is
    // two literal-pruned scans of the stored positions and one
    // position-equijoin, integer-exact end to end; the corpus text is
    // never tokenized at query time (the oracle re-derives everything
    // from raw text). This discharges the "longer phrases are the
    // same mechanism" claim with a gated query instead of prose.
    GraftQuery(
      "q_phrase_trigram",
      s"""WITH tk AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS ts
         |  FROM documents),
         |tg AS (
         |  SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS trigram
         |  FROM (SELECT doc_id, ts,
         |          unnest(range(1, len(ts) - 1)) AS i FROM tk)
         |  WHERE len(ts) >= 3),
         |qp AS (SELECT doc_id AS q_id, trigram AS phrase FROM (
         |         SELECT doc_id, trigram,
         |           row_number() OVER (PARTITION BY doc_id
         |             ORDER BY count(*) DESC, trigram) AS rk
         |         FROM tg WHERE doc_id < $NQueries GROUP BY doc_id, trigram)
         |       WHERE rk = 1),
         |m AS (SELECT doc_id AS n_id, trigram, count(*) AS occurrences
         |      FROM tg WHERE trigram IN (SELECT phrase FROM qp)
         |      GROUP BY doc_id, trigram),
         |j AS (SELECT q.q_id, m.n_id, m.occurrences FROM qp q
         |      JOIN m ON m.trigram = q.phrase AND m.n_id <> q.q_id),
         |r AS (SELECT q_id, n_id, occurrences,
         |        CAST(row_number() OVER (PARTITION BY q_id
         |          ORDER BY occurrences DESC, n_id) AS INTEGER) AS rank
         |      FROM j)
         |SELECT q_id, n_id, rank, occurrences
         |FROM r WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin) {
      (s, dir) =>
        import s.implicits._
        val docs = t(s, dir, "documents")
        val bpstDir = incrementalPhraseDir(s, dir)
        // query-side trigram phrases: one slim collect of the query
        // docs' texts + the driver-side top-shingle cut — one row per
        // query doc, served as a LocalRelation (the queryTerms /
        // queryPhrases discipline; r17 collected the result of the
        // distributed shingle+tf-window subtree instead, ~4 AQE stage
        // jobs per serve)
        val qpPairs = queryDocTexts(docs, NQueries).flatMap {
          case (id, text) => topShingle(text, 3).map(p => (id, p))
        }
        val qp = qpPairs.toDF("q_id", "phrase")
        // the phrase set is driver-sized (one trigram per query doc):
        // split each into its two constituent bigrams locally and push
        // literal In-filters into the positional scans
        val nb = DedupQueries.tableBuckets(s, bpstDir)
        val pairs = qpPairs.map(_._2).distinct.map { p =>
            val t3 = p.split(' ')
            (p, s"${t3(0)} ${t3(1)}", s"${t3(1)} ${t3(2)}")
          }
        val pairDf = broadcast(pairs.toDF("phrase", "b1", "b2"))
        val need = pairs.flatMap(x => Seq(x._2, x._3)).distinct
        val needBkts = if (need.isEmpty) Seq.empty[Int]
          else Tables.valueBucketsLocal(need, nb)._2
        val pruned = storedPhraseLive(s, bpstDir)
          .filter(col("bkt").isin(needBkts: _*) &&
            col("bigram").isin(need: _*))
          .select(col("doc_id"), col("bigram"), col("pos"))
        // positional intersection: b1@p ∧ b2@(p+1) ⇒ one phrase hit
        val hits = pruned.join(pairDf, col("bigram") === col("b1"))
          .select(col("phrase"), col("doc_id"), col("pos"), col("b2"))
          .join(pruned.select(col("doc_id"), col("bigram").as("bg2"),
            col("pos").as("pos2")),
            Seq("doc_id"))
          .filter(col("bg2") === col("b2") && col("pos2") === col("pos") + 1)
        val m = hits.groupBy(col("doc_id"), col("phrase"))
          .agg(count(lit(1)).as("occurrences"))
          .select(col("doc_id").as("n_id"),
            col("phrase").as("bigram"), col("occurrences"))
        phraseRank(qp, m)
    },

    // ------------------------------------------ MMR diversified top-k
    // Maximal Marginal Relevance (Carbonell & Goldstein 1998) — the
    // diversified retrieval operator: greedily pick 5 of the top-20
    // cosine candidates maximizing λ·rel(d) − (1−λ)·max_{s∈S} sim(d,s)
    // with λ = ½, so near-duplicate candidates cannot crowd a result
    // list (the retrieval-side face of the dedup family). Exactness:
    // rel and sim are the proven exact-cosine chain; λ-halving is an
    // IEEE exponent shift; max over a set and one subtraction are
    // deterministic on identical doubles — so the GREEDY TRAJECTORY
    // itself is cross-engine identical, and the oracle re-derives all
    // 5 selection steps as unrolled CTEs (the QuantizedLr discipline
    // for iterative algorithms). Scale: after the candidate rank,
    // everything is query-batch-sized (pool² sims per query); the
    // candidate and pairwise frames are localCheckpoint-materialized
    // so the 5-step loop re-reads tiny local relations instead of
    // re-running the corpus scan per step (the iterative-plan lesson).
    GraftQuery(
      "q_mmr_diversify",
      mmrSql(FuseDepth, MmrPicks, "0.5", "0.5")) { (s, dir) =>
      mmrDiversified(s, dir, NQueries, FuseDepth, MmrPicks, 0.5)
    },

    // The SAME library form at a second (pool, picks, λ) dial — pool
    // 16, picks 7, λ=¼ (relevance-light, diversity-heavy) — so the
    // generalized MMR is oracle-proven beyond the catalog constants
    // (the round-14 verdict's "one property the user actually varies"
    // item): the dial reaches the λ-asymmetric branch (0.25·rel −
    // 0.75·sim — both factors dyadic, so the greedy trajectory stays
    // bit-identical cross-engine) and a picks count that exceeds the
    // default, exercising two more unrolled selection steps.
    GraftQuery(
      "q_mmr_diversify_l25",
      mmrSql(16, 7, "0.25", "0.75")) { (s, dir) =>
      mmrDiversified(s, dir, NQueries, 16, 7, 0.25)
    },

    // The INDEXED MMR tier — the form a user runs at scale: the
    // candidate pool is the stored-codes ANN serve (IVF-PQ ADC top-24,
    // exact-cosine re-ranked, cut at the pool size) instead of an
    // exact full-corpus cosine scan; the greedy selection is the SAME
    // shared tail as the exact dials. Deterministic end to end —
    // pinned codebook, tie-broken argmins, dyadic ADC sums, exact
    // rel/sim cosines over the pooled ids — so the oracle re-derives
    // the whole IVF-PQ chain plus all unrolled greedy steps, and the
    // hash gate covers the at-scale form (the q_hybrid_rrf_indexed
    // discipline applied to diversified retrieval).
    GraftQuery(
      "q_mmr_diversify_indexed",
      mmrIndexedSql(FuseDepth, MmrPicks, "0.5", "0.5")) { (s, dir) =>
      mmrDiversifiedIndexed(s, dir, NQueries, FuseDepth, MmrPicks, 0.5)
    },

    // ------------------------------------------- hybrid RRF retrieval
    // Reciprocal-rank fusion (Cormack et al. 2009) of the lexical BM25
    // ranking and the exact cosine vector ranking — the standard
    // hybrid-search combiner (k = 60): rrf = Σ 1/(60 + rank) over the
    // rankings that retrieved the doc within depth 20. Every fusion
    // term is one IEEE division of 1.0 by a small exact integer and
    // the sum has at most two addends — no libm anywhere, so the
    // fused score is bit-identical cross-engine with NO quantization.
    // Absent ranks surface as 0 (kept integer so the gate sees no
    // int/float skew). Scale: both inputs are top-depth-per-query
    // relations (queries × depth rows) — the fusion join, window and
    // output are all query-batch-sized, nothing corpus-sized.
    GraftQuery(
      "q_hybrid_rrf",
      s"""WITH $bm25CtesSql,
         |e AS ($embDoubleSql),
         |nq AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
         |cs AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |         ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
         |       FROM nq q JOIN nq c ON c.vec_id <> q.vec_id
         |       WHERE q.vec_id < $NQueries),
         |crk AS (SELECT q_id, n_id,
         |          CAST(row_number() OVER (PARTITION BY q_id
         |            ORDER BY cos DESC, n_id) AS INTEGER) AS cos_rank
         |        FROM cs),
         |bt AS (SELECT q_id, n_id, rank AS bm_rank FROM bmr
         |       WHERE rank <= $FuseDepth),
         |ct AS (SELECT q_id, n_id, cos_rank FROM crk
         |       WHERE cos_rank <= $FuseDepth),
         |$rrfFuseSql""".stripMargin) { (s, dir) =>
      hybridRrfExact(s, dir, NQueries)
    },

    // ---------------------------------- hybrid fusion, INDEXED tiers
    // The hybrid form a user runs at scale: BOTH fusion arms serve
    // from their stored indexes — BM25 from the maintained postings
    // tables (bucket/term-pruned scan, no corpus tokenize) and the
    // vector arm from the stored IVF-PQ codes table (the
    // q_ann_codes_served chain at the fusion dials: topC widened to 24
    // so the exact re-rank can fill depth 20). Deterministic end to
    // end — pinned codebook, tie-broken argmins, dyadic ADC sums, the
    // IEEE-exact fusion — so the oracle re-derives BOTH index chains
    // plus the fusion relationally, and the hash gate covers the
    // at-scale form, not just the exact small-corpus tier (the
    // q_ann_filtered_indexed discipline applied to hybrid search).
    GraftQuery(
      "q_hybrid_rrf_indexed",
      s"""WITH $bm25CtesSql,
         |e AS ($embDoubleSql),
         |${SimilarityQueries.ivfPqRankedCtesSql(NQueries, 2, 24)},
         |bt AS (SELECT q_id, n_id, rank AS bm_rank FROM bmr
         |       WHERE rank <= $FuseDepth),
         |ct AS (SELECT q_id, n_id, rank AS cos_rank FROM annr
         |       WHERE rank <= $FuseDepth),
         |$rrfFuseSql""".stripMargin) { (s, dir) =>
      hybridRrfIndexed(s, dir, NQueries)
    },

    // ---------------------------------- diversified hybrid retrieval
    // MMR over the RRF-fused top-k — the full retrieval stack (two
    // stored-index arms → IEEE-exact fusion → diversification) under
    // ONE hash gate: the oracle re-derives both index chains, the
    // fusion CTEs and every greedy step. rel is the raw fused rrf
    // (bit-identical cross-engine by construction), sim the exact
    // candidate cosine, all frames query-batch-sized after the serves.
    GraftQuery(
      "q_search_diversified",
      searchDiversifiedSql(MmrPicks, "0.5", "0.5")) { (s, dir) =>
      hybridDiversified(s, dir, NQueries, MmrPicks, 0.5)
    },

    // --------------------------------- external search API, gated
    // The user-facing serve entries under the driver's hash gate: the
    // query rides the EXTERNAL path end to end (negative internal
    // ids, stored-index serve, position-mapped output) — one query
    // drawn from a corpus row so the oracle can re-derive it, one
    // pure literal. Each twin exercises exact-match retrieval of the
    // stored twin (no self-exclusion on external ids).
    GraftQuery("q_bm25_text", bm25TextSql) { (s, dir) =>
      val qtext = t(s, dir, "documents")
        .filter(col("doc_id") === ExternalQueryId)
        .select(col("text")).head.getString(0)
      bm25SearchText(s, dir, Seq(qtext, ExternalLiteralQuery))
    },

    // Arbitrary-n phrase search (n = 4) from the stored positional
    // bigram index — the n > 3 path no corpus-derived gate reaches.
    // Three phrases (see [[phraseTextSql]]): the corpus-frequent
    // 4-gram (multi-doc tie-break ranking), the highest-repeat 4-gram
    // (occurrences > 1 — distinct counts in the result), and the
    // query document's leading 4-gram (the exact-match twin). The
    // corpus-derived picks cost one tokenize + gram aggregation —
    // gate-input derivation, not part of the serve under test (the
    // serve itself still never tokenizes the corpus).
    GraftQuery("q_phrase_text_n4", phraseTextSql) { (s, dir) =>
      // tokens materialized FIRST in their own projection: the 4-gram
      // window references the array 5 times, and inlining the
      // tokenizer would re-run the regex per reference (the
      // shinglesFromTokens lesson)
      // winner DERIVATION is gate scaffolding (picking interesting
      // phrases), not the serve — bound its tokenize to a
      // deterministic corpus prefix so the gate's cost does not grow
      // with the corpus (identical winners at the small sfs, where
      // the prefix covers the whole corpus; the SERVE below stays
      // whole-corpus through the stored positional index)
      val tok = t(s, dir, "documents")
        .filter(col("doc_id") < PhraseDeriveDocs)
        .select(col("doc_id"), tokens(lower(col("text"))).as("ts"))
        .filter(size(col("ts")) >= 4)
      val per = tok
        .select(col("doc_id"), explode(
          graft.functions.TextFunctions.shinglesFromTokens(col("ts"), 4))
          .as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      // both rule winners in ONE aggregation job: min_by over a
      // struct whose trailing field is the gram itself, so the
      // ordering key is unique per gram (deterministic min_by) and
      // (-occ, g) / (-mx, -occ, g) mirror the oracle's ORDER BY
      val w = per.groupBy(col("g"))
        .agg(sum(col("c")).as("occ"), max(col("c")).as("mx"))
        .agg(
          min_by(col("g"), struct((-col("occ")).as("a"), col("g").as("g")))
            .as("p0"),
          min_by(col("g"), struct((-col("mx")).as("a"),
            (-col("occ")).as("b"), col("g").as("g"))).as("p1"))
        .head
      val leading = t(s, dir, "documents")
        .filter(col("doc_id") === ExternalQueryId)
        .select(col("text")).head.getString(0)
        .trim.toLowerCase(java.util.Locale.ROOT)
        .split("\\s+").filter(_.nonEmpty).take(4).mkString(" ")
      phraseSearchText(s, dir,
        Seq(w.getString(0), w.getString(1), leading))
    },

    // Hybrid (text, vector) search with BOTH arms on the external
    // path — the full user-facing chain behind one hash gate.
    GraftQuery("q_hybrid_text", hybridTextSql) { (s, dir) =>
      val qtext = t(s, dir, "documents")
        .filter(col("doc_id") === ExternalQueryId)
        .select(col("text")).head.getString(0)
      val qvec = t(s, dir, "embeddings")
        .filter(col("vec_id") === ExternalQueryId)
        .select(col("embedding")).head.getSeq[Float](0).toArray
      hybridSearch(s, dir, Seq((qtext, qvec)))
    })
}
