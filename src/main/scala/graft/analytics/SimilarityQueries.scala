package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.expressions.PqExpressions
import graft.functions.SimilarityFunctions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`array<float>`, 64-dim, unit-norm).
  *
  * Two tiers, as a real 100 TB pipeline would run them:
  *  - brute-force cosine top-k — the exact baseline. Query set broadcast
  *    against the corpus (corpus stays partitioned, never shuffled);
  *    ranking via per-partition window → TakeOrdered-style pruning.
  *  - sign-LSH bucketed — the scale path: corpus and queries hashed to
  *    an 8-bit deterministic hyperplane bucket; candidate generation is
  *    an equi-join on the bucket key (hash exchange on a tiny int)
  *    instead of a cross join.
  *
  * Both sides (Spark & DuckDB oracle) compute cosine with identical
  * double-precision left-to-right folds, so ranks are bit-stable.
  */
object SimilarityQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Memo key for state derived from this corpus's embeddings: path +
    * content fingerprint, so in-session corpus mutation invalidates
    * every downstream memo (codebooks, stored codes) instead of
    * serving stale derived data.
    */
  private def corpusKey(s: SparkSession, dir: String): String =
    Tables.derivedStateKey(s, dir, "embeddings")

  /** DuckDB: strict left-to-right dot product of 64-dim double lists.
    * Shared with [[RetrievalQueries]] (hybrid lexical+vector fusion).
    */
  private[analytics] def dotSql(a: String, b: String): String =
    s"list_reduce([$a[i] * $b[i] FOR i IN range(1, 65)], (x, y) -> x + y)"

  private[analytics] val embDoubleSql =
    "SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings"

  private def pqSubDistSql(a: String, b: String): String =
    s"""list_reduce([($a[8*jj.j + i] - $b[8*jj.j + i])
       |             * ($a[8*jj.j + i] - $b[8*jj.j + i])
       |             FOR i IN range(1, 9)], (x, y) -> x + y)""".stripMargin

  /** The deterministic codebook (vectors vec_id < n, ascending id)
    * collected to the driver as a flat row-major double array — a few
    * KiB of MODEL PARAMETER compiled into the scan-stage kernels
    * ([[graft.expressions.PqEncode]] & co.), exactly how a production
    * ANN index ships trained centroids to executors. This replaces the
    * corpus × centroids × subspaces explode+groupBy encode of earlier
    * rounds: the corpus side of every index build is now a pure
    * projection with ZERO exchange.
    */
  private[graft] def collectCodebook(e: DataFrame, n: Int): Array[Double] =
    graft.operators.CodebookTrainer.initCodebook(e, n, normalize = false)

  /** Embedding column made provably non-nullable, so kernel outputs
    * used as join keys infer no `isnotnull` (which would inline the
    * kernel into a filter and run it twice per row).
    */
  private def embNN: Column =
    coalesce(col("embedding"), typedlit(Array.empty[Float]))

  /** IVF probe → in-cell exact-cosine top-3 against an arbitrary
    * codebook (pinned for q_ann_ivf, k-means-trained for
    * q_ann_ivf_trained; also driven by AnnRecallSpec). Coarse
    * assignment is the scan-stage argmax-dot kernel; the candidate
    * stage is a broadcast equi-join on the cell id.
    */
  private[graft] def ivfPipeline(
      e: DataFrame, cb: Array[Double], nQueries: Int): DataFrame = {
    val corpus = e.select(col("vec_id").as("n_id"),
      col("embedding").as("cv"), l2Norm(col("embedding")).as("cn"),
      PqExpressions.nearestCell(embNN, cb, 64).as("cell"))
    val probes = e.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("q_id"), col("embedding").as("qv"),
      l2Norm(col("embedding")).as("qn"),
      explode(PqExpressions.nearestCells(embNN, cb, 64, 2)).as("pcell"))
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    // (q, n) pairs are unique (one cell per vector, distinct probes) —
    // no dedup exchange needed
    corpus.join(broadcast(probes),
        col("cell") === col("pcell") && col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      .withColumn("rank", row_number().over(wRank).cast(IntegerType))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("n_id"), col("rank"),
        round(col("cos"), 4).as("cosine"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** PQ encode → ADC candidate top-8 → exact-cosine top-3 against an
    * arbitrary codebook (pinned for q_ann_pq; trained sub-quantizers
    * in AnnRecallSpec). Encode and query tables are scan-stage kernel
    * projections; only (q_id, n_id, ad2) enters the ranking exchange.
    */
  private[graft] def pqPipeline(
      e: DataFrame, cb: Array[Double], nQueries: Int): DataFrame = {
    val codes = e.select(col("vec_id").as("n_id"),
      PqExpressions.pqEncode(embNN, cb, 8, 8).as("cl"))
    val qdt = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"),
        PqExpressions.pqSubDists(embNN, cb, 8, 8).as("dl"))
    val wCand = Window.partitionBy(col("q_id")).orderBy(col("ad2"), col("n_id"))
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    val cand = codes.join(broadcast(qdt), col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        PqExpressions.adcScore(col("cl"), col("dl"), 8).as("ad2"))
      .withColumn("crank", row_number().over(wCand))
      .filter(col("crank") <= 8)
      .select(col("q_id"), col("n_id"), col("ad2"))
    val fetched = e.join(broadcast(cand), col("vec_id") === col("n_id"))
      .select(col("q_id"), col("n_id"), col("ad2"),
        col("embedding").as("cv"), l2Norm(col("embedding")).as("cn"))
    val qn = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id2"), col("embedding").as("qv"),
        l2Norm(col("embedding")).as("qn"))
    fetched.join(broadcast(qn), col("q_id") === col("q_id2"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(wRank).cast(IntegerType))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("n_id"), col("rank"),
        round(col("ad2"), 4).as("approx_d2"),
        round(col("cos"), 4).as("cosine"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Farthest-point (k-means++-style) IVF seeding as DuckDB CTEs,
    * mirroring [[graft.operators.CodebookTrainer.farthestPointInitIvf]]
    * step for step: normalize the `vec_id < pool` candidates, seed with
    * the lowest id, then k-1 unrolled selection steps — each takes the
    * candidate MINIMIZING its max dot (= farthest on the unit sphere)
    * against the selected set, ties to the lower vec_id
    * (`ORDER BY md ASC, vec_id LIMIT 1` = the Scala loop's strict-<
    * scan in ascending id order). Dots are the same pinned left-to-
    * right double folds as everywhere else, and max() is order-
    * independent, so each step picks the same vector bit-for-bit in
    * both engines. Emits `c0(c_id, cv)` with c_id = selection order —
    * the codebook row order the Spark kernels compile.
    */
  private def fpIvfInitSql(k: Int = 16, pool: Int = 128): String = {
    val steps = (2 to k).map { i =>
      s"""fd$i AS MATERIALIZED (SELECT p.vec_id, max(${dotSql("p.nv", "s.nv")}) AS md
         |         FROM fpool p, fsel${i - 1} s
         |         WHERE p.vec_id NOT IN (SELECT vec_id FROM fsel${i - 1})
         |         GROUP BY p.vec_id),
         |fsel$i AS MATERIALIZED (SELECT * FROM fsel${i - 1} UNION ALL
         |           SELECT ${i - 1} AS c_id, p.vec_id, p.nv
         |           FROM fpool p
         |           JOIN (SELECT vec_id FROM fd$i ORDER BY md ASC, vec_id
         |                 LIMIT 1) w USING (vec_id))""".stripMargin
    }.mkString(",\n")
    s"""fpool AS MATERIALIZED (SELECT vec_id,
       |            [x / sqrt(${dotSql("v", "v")}) FOR x IN v] AS nv
       |          FROM e WHERE vec_id < $pool),
       |fsel1 AS MATERIALIZED (SELECT 0 AS c_id, vec_id, nv FROM fpool
       |          ORDER BY vec_id LIMIT 1),
       |$steps,
       |c0 AS (SELECT c_id, nv AS cv FROM fsel$k)""".stripMargin
  }

  /** Per-subspace farthest-point PQ seeding as DuckDB CTEs, mirroring
    * [[graft.operators.CodebookTrainer.farthestPointInitPq]]: every
    * subspace independently seeds with the lowest id's subvector, then
    * k-1 unrolled steps each take (per subspace, via one row_number
    * window over all 8 at once) the subvector MAXIMIZING its min
    * squared-L2 distance to that subspace's selected set, ties to the
    * lower vec_id. Emits `p0(c_id, cv)` where centroid c's block j is
    * subspace j's c-th selection — the independent-block layout
    * [[graft.operators.CodebookTrainer.trainPq]] updates.
    */
  private def fpPqInitSql(
      k: Int = 16, subspaces: Int = 8, subDim: Int = 8,
      pool: Int = 128, src: String = "e"): String = {
    def sub(p: String, q: String): String =
      s"""list_reduce([($p[$subDim*s.j + i] - $q[$subDim*s.j + i])
         |             * ($p[$subDim*s.j + i] - $q[$subDim*s.j + i])
         |             FOR i IN range(1, ${subDim + 1})], (x, y) -> x + y)""".stripMargin
    val steps = (2 to k).map { i =>
      s"""pd$i AS MATERIALIZED (SELECT s.j, p.vec_id, min(${sub("p.v", "q.v")}) AS mind
         |         FROM ppool p, psel${i - 1} s JOIN ppool q ON q.vec_id = s.vec_id
         |         WHERE NOT EXISTS (SELECT 1 FROM psel${i - 1} t
         |                           WHERE t.j = s.j AND t.vec_id = p.vec_id)
         |         GROUP BY s.j, p.vec_id),
         |psel$i AS MATERIALIZED (SELECT * FROM psel${i - 1} UNION ALL
         |           SELECT j, ${i - 1} AS c_id, vec_id FROM (
         |             SELECT j, vec_id, row_number() OVER (PARTITION BY j
         |               ORDER BY mind DESC, vec_id) AS rk FROM pd$i)
         |           WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""ppool AS MATERIALIZED (SELECT vec_id, v FROM $src WHERE vec_id < $pool),
       |psel1 AS MATERIALIZED (SELECT jj.j, 0 AS c_id, w.vec_id
       |          FROM (SELECT unnest(range(0, $subspaces)) AS j) jj,
       |               (SELECT vec_id FROM ppool ORDER BY vec_id LIMIT 1) w),
       |$steps,
       |p0 AS (SELECT s.c_id,
       |         flatten(list(q.v[$subDim*s.j + 1 : $subDim*s.j + $subDim]
       |                      ORDER BY s.j)) AS cv
       |       FROM psel$k s JOIN ppool q ON q.vec_id = s.vec_id
       |       GROUP BY s.c_id)""".stripMargin
  }

  /** One unrolled spherical-k-means iteration as DuckDB CTEs
    * (`$prev` → `c$n`): assignment by argmax dot (tie → lower id),
    * per-cell sums over the QUANTIZED coordinate lists (exact BIGINTs,
    * so group order is irrelevant — the property that makes training
    * cross-engine-deterministic), mean and spherical normalization in
    * the pinned op order of [[graft.operators.CodebookTrainer]].
    * Empty cells (LEFT JOIN miss) AND zero-sum cells (every quantized
    * coordinate sum cancelled exactly to 0) keep the previous centroid
    * — both rules mirror [[graft.operators.CodebookTrainer]]'s, so the
    * engines cannot diverge even on adversarial cancelling data.
    */
  private def kmeansIterSql(n: Int, prev: String): String =
    s"""asg$n AS (SELECT z.vec_id, z.qv, c.c_id,
       |            row_number() OVER (PARTITION BY z.vec_id
       |              ORDER BY ${dotSql("z.v", "c.cv")} DESC, c.c_id) AS rk
       |          FROM qz z, $prev c),
       |own$n AS (SELECT vec_id, qv, c_id FROM asg$n WHERE rk = 1),
       |cnt$n AS (SELECT c_id, COUNT(*) AS n FROM own$n GROUP BY c_id),
       |ssum$n AS (SELECT o.c_id, i.i AS j, CAST(sum(o.qv[i.i]) AS BIGINT) AS s
       |           FROM own$n o, (SELECT unnest(range(1, 65)) AS i) i
       |           GROUP BY o.c_id, i.i),
       |m$n AS (SELECT s.c_id,
       |          list(CAST(s.s AS DOUBLE) / CAST(c.n AS DOUBLE) / 1048576.0
       |               ORDER BY s.j) AS mv
       |        FROM ssum$n s JOIN cnt$n c ON c.c_id = s.c_id GROUP BY s.c_id),
       |c$n AS (SELECT p.c_id,
       |          CASE WHEN m.mv IS NULL THEN p.cv
       |               WHEN list_reduce([abs(y) FOR y IN m.mv],
       |                      (a, b) -> a + b) = 0 THEN p.cv
       |               ELSE [x / sqrt(list_reduce([y * y FOR y IN m.mv],
       |                      (a, b) -> a + b)) FOR x IN m.mv] END AS cv
       |        FROM $prev p LEFT JOIN m$n m ON m.c_id = p.c_id)""".stripMargin

  /** IVF × PQ composition against independently supplied codebooks
    * (the same pinned codebook twice for q_ann_ivfpq; trained coarse
    * centroids + trained sub-quantizers for q_ann_ivfpq_trained).
    * ONE corpus scan computes the IVF cell AND the 8 PQ codes side by
    * side as kernel projections — no window, no explode, no groupBy:
    * zero exchange below the candidate ranking on the corpus side
    * (coarse assign is argmax-dot; unit-norm ⇒ dot order = cosine
    * order). Probe cells + ADC tables broadcast as a tiny per-query
    * projection; only probed cells' members are scored.
    */
  private[graft] def ivfPqPipeline(
      e: DataFrame, cbIvf: Array[Double], cbPq: Array[Double],
      nQueries: Int): DataFrame = {
    val corpus = e.select(col("vec_id").as("n_id"),
      PqExpressions.nearestCell(embNN, cbIvf, 64).as("cell"),
      PqExpressions.pqEncode(embNN, cbPq, 8, 8).as("cl"))
    val probes = e.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("q_id"),
      explode(PqExpressions.nearestCells(embNN, cbIvf, 64, 2)).as("pcell"),
      PqExpressions.pqSubDists(embNN, cbPq, 8, 8).as("dl"))
    val wCand = Window.partitionBy(col("q_id")).orderBy(col("ad2"), col("n_id"))
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    // (q, n) pairs are unique (one cell per vector, distinct probes),
    // so no dedup stage is needed; ADC is 8 array probes per pair
    val cand = corpus.join(broadcast(probes),
        col("cell") === col("pcell") && col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        PqExpressions.adcScore(col("cl"), col("dl"), 8).as("ad2"))
      .withColumn("crank", row_number().over(wCand))
      .filter(col("crank") <= 8)
      .select(col("q_id"), col("n_id"), col("ad2"))
    val fetched = e.join(broadcast(cand), col("vec_id") === col("n_id"))
      .select(col("q_id"), col("n_id"), col("ad2"),
        col("embedding").as("nv"), l2Norm(col("embedding")).as("cn"))
    val qn = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id2"), col("embedding").as("qv"),
        l2Norm(col("embedding")).as("qn"))
    fetched.join(broadcast(qn), col("q_id") === col("q_id2"))
      .withColumn("cos", dot(col("qv"), col("nv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(wRank).cast(IntegerType))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("n_id"), col("rank"),
        round(col("ad2"), 4).as("approx_d2"),
        round(col("cos"), 4).as("cosine"))
      .orderBy(col("q_id"), col("rank"))
  }

  // ------------------------------------------------- residual IVF-PQ
  // IVF-ADC with RESIDUAL encoding (Jégou, Douze, Schmid 2011 §III —
  // the production IVF-PQ formulation): vectors are PQ-encoded as
  // v − centroid(cell) instead of raw v, so the sub-quantizers spend
  // their 16 codes on the (smaller) within-cell residual distribution
  // rather than the whole sphere, and ADC approximates
  // ‖r_q − r_n‖² with both residuals taken w.r.t. the SAME probed
  // cell. Recall-spec'd (AnnRecallSpec measures it against the
  // raw-vector trained pipeline on brute-force ground truth) AND,
  // since round 13, under the cross-engine hash gate as
  // q_ann_ivfpq_residual: the whole chain — trained coarse centroids,
  // quantized cell means, float-rounded residuals, residual-trained
  // sub-quantizers, cell-relative ADC — is deterministic in BOTH
  // engines, so the oracle re-derives it relationally end to end.

  /** Per-cell reference points as one double-array-of-arrays literal —
    * the scan-stage lookup table residual computation probes by cell
    * id.
    */
  private def centroidLit(cents: Array[Double], dim: Int): Column =
    array((0 until cents.length / dim).map(c =>
      typedlit(cents.slice(c * dim, (c + 1) * dim))): _*)

  /** `embedding − reference(cell)` as array<float> (kernel input
    * type). The subtraction runs in DOUBLE and the result rounds to
    * float ONCE — a precision chain both engines reproduce exactly:
    * float→double is lossless, the double subtraction is one
    * IEEE-defined rounding, and the double→float cast is one more
    * (Spark's `(float)` and SQL `CAST(... AS FLOAT)` are the same
    * round-to-nearest-even). Subtracting float-cast means in FLOAT
    * arithmetic instead would double-round through a float
    * intermediate the oracle can't express relationally.
    */
  private def residualFor(cell: Column, cents: Array[Double]): Column =
    zip_with(embNN.cast("array<double>"),
      element_at(centroidLit(cents, 64), cell + lit(1)),
      (a, b) => a - b).cast("array<float>")

  /** Per-cell MEANS of the assigned members — the residual reference.
    * NOT the spherical centroids: those are UNIT-normalized (cosine
    * assignment), and `v − unit_centroid` on near-orthogonal data has
    * norm ≈ √2 — residuals LARGER than the raw vectors, which measured
    * recall 0.53 vs raw 0.67 on the first attempt. The L2-correct
    * residual reference is the unnormalized cell mean (Jégou et al.'s
    * coarse quantizer is plain k-means, whose centroids ARE the
    * means); an empty cell keeps a zero row (its residual degenerates
    * to the raw vector). Sums run over QUANTIZED coordinates (exact
    * BIGINTs — the [[graft.operators.CodebookTrainer]] discipline), so
    * the mean is order-independent under any partitioning and a DuckDB
    * oracle re-derives it bit-for-bit; the mean itself divides in the
    * same pinned op order as the trainer (sum/n/2²⁰, all doubles). One
    * aggregation + a 16×64 driver collect.
    */
  private[graft] def cellMeans(e: DataFrame, cbIvf: Array[Double]): Array[Double] = {
    val dim = 64
    val q = graft.operators.CodebookTrainer.Quant.toDouble
    val sums = (0 until dim).map(j =>
      sum(floor(element_at(embNN, j + 1).cast("double") * lit(q) + lit(0.5))
        .cast("long")).as(s"s$j"))
    val rows = e
      .groupBy(PqExpressions.nearestCell(embNN, cbIvf, dim).as("cell"))
      .agg(count(lit(1)).as("n"), sums: _*).collect()
    val out = new Array[Double](cbIvf.length)
    rows.foreach { r =>
      val c = r.getInt(0)
      val n = r.getLong(1).toDouble
      var j = 0
      while (j < dim) {
        out(c * dim + j) = r.getLong(2 + j).toDouble / n / q; j += 1
      }
    }
    out
  }

  /** [[cellMeans]] memoized per (corpus key, coarse codebook) — the
    * train-once/serve-many discipline of
    * [[graft.operators.CodebookTrainer.cachedPq]]; defensive copy for
    * the same reason (callers embed the array into kernel literals).
    */
  private val meansMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]()

  private[graft] def cachedCellMeans(
      e: DataFrame, dataKey: String, cbIvf: Array[Double]): Array[Double] = {
    val key = s"means|$dataKey|${codebookDigest(cbIvf)}"
    val hit = meansMemo.get(key)
    val m = if (hit != null) hit
    else {
      val computed = cellMeans(e, cbIvf)
      val prev = meansMemo.putIfAbsent(key, computed)
      if (prev != null) prev else computed
    }
    m.clone()
  }

  /** Scan-stage embedding-outlier scores against a FROZEN (coarse
    * books, cell means) generation: (vec_id, cell, d2) where d2 is the
    * strict left-to-right double self-dot of the float-rounded
    * residual — ‖v − mean(cell)‖² in the exact precision chain the
    * residual family pins cross-engine. Shared by the gated per-cell
    * quantile form (q_embed_outliers) and the streaming gate
    * ([[graft.streaming.StreamingPipeline.outlierGate]]): no join, no
    * exchange — the parameters compile into the kernels.
    */
  def embedOutlierScores(
      vecs: DataFrame, cbIvf: Array[Double],
      means: Array[Double]): DataFrame = {
    val cell = PqExpressions.nearestCell(embNN, cbIvf, 64)
    val res = residualFor(cell, means)
    vecs.select(col("vec_id"), cell.as("cell"), dot(res, res).as("d2"))
  }

  /** Corpus view whose `embedding` column is each vector's residual
    * w.r.t. its assigned cell's mean — the training input for residual
    * sub-quantizers (feeds [[graft.operators.CodebookTrainer.trainPq]]
    * unchanged: the trainer is distribution-agnostic).
    */
  private[graft] def residualFrame(
      e: DataFrame, cbIvf: Array[Double], means: Array[Double]): DataFrame =
    e.select(col("vec_id"),
      residualFor(
        PqExpressions.nearestCell(embNN, cbIvf, 64), means).as("embedding"))

  /** Residual analog of [[codesTable]] — the stored-index frame of the
    * residual IVF-ADC family: cell assignment and the PQ code of
    * v − mean(cell), both scan-stage kernels in ONE corpus pass, zero
    * exchange on the encode side. Written `.partitionBy("cell")` it
    * backs the same build → ingest → compact lifecycle as the raw
    * family's codes table.
    */
  def residualCodesTable(
      e: DataFrame, cbIvf: Array[Double], means: Array[Double],
      cbPqRes: Array[Double]): DataFrame = {
    val cell = PqExpressions.nearestCell(embNN, cbIvf, 64)
    e.select(col("vec_id"), cell.as("cell"),
      PqExpressions.pqEncode(residualFor(cell, means), cbPqRes, 8, 8).as("cl"))
  }

  /** Residual IVF-ADC serving: same plan shape as [[ivfPqPipeline]]
    * (scan-stage encode, broadcast cell equi-join, ADC top-8, exact
    * re-rank top-3) — the ONLY change is what gets PQ-coded. The probe
    * side computes one residual per (query, probed cell) pair, because
    * the query's residual is cell-relative; still scan-stage, ≤
    * nQueries × nprobe rows. In-query REFERENCE form: the catalog
    * entry serves the same relation from the stored residual codes
    * table ([[ivfPqResidualServeFromCodes]]); spec-pinned equal.
    */
  private[graft] def ivfPqResidualPipeline(
      e: DataFrame, cbIvf: Array[Double], means: Array[Double],
      cbPqRes: Array[Double], nQueries: Int): DataFrame = {
    val corpus = residualCodesTable(e, cbIvf, means, cbPqRes)
      .withColumnRenamed("vec_id", "n_id")
    val probes = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"),
        explode(PqExpressions.nearestCells(embNN, cbIvf, 64, 2)).as("pcell"),
        col("embedding"))
      .select(col("q_id"), col("pcell"),
        PqExpressions.pqSubDists(
          residualFor(col("pcell"), means), cbPqRes, 8, 8).as("dl"))
    val wCand = Window.partitionBy(col("q_id")).orderBy(col("ad2"), col("n_id"))
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    val cand = corpus.join(broadcast(probes),
        col("cell") === col("pcell") && col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        PqExpressions.adcScore(col("cl"), col("dl"), 8).as("ad2"))
      .withColumn("crank", row_number().over(wCand))
      .filter(col("crank") <= 8)
      .select(col("q_id"), col("n_id"), col("ad2"))
    val fetched = e.join(broadcast(cand), col("vec_id") === col("n_id"))
      .select(col("q_id"), col("n_id"), col("ad2"),
        col("embedding").as("nv"), l2Norm(col("embedding")).as("cn"))
    val qn = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id2"), col("embedding").as("qv"),
        l2Norm(col("embedding")).as("qn"))
    fetched.join(broadcast(qn), col("q_id") === col("q_id2"))
      .withColumn("cos", dot(col("qv"), col("nv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(wRank).cast(IntegerType))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("n_id"), col("rank"),
        round(col("ad2"), 4).as("approx_d2"),
        round(col("cos"), 4).as("cosine"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** q_ann_ivfpq's oracle SQL — shared verbatim by q_ann_codes_served,
    * whose Spark side serves the SAME relation from the stored codes
    * table (the round-4 PQ-family precedent: one oracle text per
    * result relation, however many physical strategies compute it).
    */
  private def ivfPqPinnedSql: String =
    s"""WITH e AS ($embDoubleSql),
       |n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
       |cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 16),
       |${ivfPqAdcTailSql("cent", "cent")}""".stripMargin

  /** The deletion-lifecycle ANN oracle: the [[ivfPqPinnedSql]] serve
    * re-derived with every vec_id ≡ 3 mod 7 taken down — the
    * CANDIDATE side filters to survivors while queries, centroids and
    * the frozen encode stay drawn from the ORIGINAL corpus (deletion
    * removes retrievABILITY, never retrains the frozen books — the
    * generation-pin discipline). The filter sits exactly where the
    * served tombstone anti-join sits: before the ADC budget cut, so
    * survivors fill the freed candidate slots on both engines.
    */
  private def ivfPqDeletedSql: String =
    s"""WITH e AS ($embDoubleSql),
       |n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
       |cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 16),
       |${ivfPqAdcTailSql("cent", "cent",
          candFilter = " AND ce.n_id % 7 <> 3")}""".stripMargin

  /** The trained residual chain as shared CTEs — coarse k-means
    * (`c2` after the unrolled iterations), final assignment (`asgF` /
    * `cellsF`), quantized per-cell means (`meanl` — exact BIGINT sums,
    * the [[cellMeans]] mirror), and the float-rounded residual frame
    * (`rz`). Expects CTE `e` upstream; composed by
    * q_ann_ivfpq_residual and q_embed_outliers (one relational text
    * for the chain, however many queries serve from it).
    */
  private def trainedResidualCtesSql: String =
    s"""qz AS (SELECT vec_id, v,
       |        [CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) FOR x IN v] AS qv
       |       FROM e),
       |${fpIvfInitSql()},
       |${kmeansIterSql(1, "c0")},
       |${kmeansIterSql(2, "c1")},
       |asgF AS (SELECT a.vec_id, c.c_id,
       |          row_number() OVER (PARTITION BY a.vec_id
       |            ORDER BY ${dotSql("a.v", "c.cv")} DESC, c.c_id) AS crank
       |        FROM e a, c2 c),
       |cellsF AS (SELECT vec_id AS n_id, c_id AS cell FROM asgF
       |           WHERE crank = 1),
       |mcnt AS (SELECT cell, COUNT(*) AS cnt FROM cellsF GROUP BY cell),
       |msum AS (SELECT cf.cell, i.i AS j, CAST(sum(z.qv[i.i]) AS BIGINT) AS s
       |         FROM cellsF cf, qz z, (SELECT unnest(range(1, 65)) AS i) i
       |         WHERE z.vec_id = cf.n_id
       |         GROUP BY cf.cell, i.i),
       |meanl AS (SELECT s.cell,
       |            list(CAST(s.s AS DOUBLE) / CAST(c.cnt AS DOUBLE)
       |                 / 1048576.0 ORDER BY s.j) AS mv
       |          FROM msum s JOIN mcnt c ON c.cell = s.cell GROUP BY s.cell),
       |rz AS (SELECT cf.n_id AS vec_id,
       |         [CAST(CAST(z.v[i] - m.mv[i] AS FLOAT) AS DOUBLE)
       |          FOR i IN range(1, 65)] AS v
       |       FROM cellsF cf JOIN e z ON z.vec_id = cf.n_id
       |            JOIN meanl m ON m.cell = cf.cell)""".stripMargin

  /** q_ann_filtered_indexed's oracle: the stored-index filtered serve
    * re-derived relationally — coarse cells over the pinned codebook,
    * the metadata filter as a PRE-candidate join on the cell table
    * (`fcells` — exactly where [[filteredServeFromCodes]] puts its
    * semi-join, BEFORE the ADC budget cut), probes widened to
    * nprobe=8 × topC=24 (the coupled probe-widening dial the recall
    * sweep landed on), PQ encode + ADC over qualifying vectors only,
    * exact re-rank tail.
    */
  private def filteredIndexedSql: String =
    s"""WITH e AS ($embDoubleSql),
       |n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
       |cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 16),
       |asg AS (SELECT a.vec_id, c.c_id,
       |          row_number() OVER (PARTITION BY a.vec_id
       |            ORDER BY ${dotSql("a.v", "c.cv")} DESC, c.c_id) AS crank
       |        FROM e a, cent c),
       |cells AS (SELECT vec_id AS n_id, c_id AS cell FROM asg WHERE crank = 1),
       |fcells AS (SELECT ce.n_id, ce.cell FROM cells ce
       |           JOIN documents d ON d.doc_id = ce.n_id
       |           WHERE d.lang = 'en'),
       |probes AS (SELECT vec_id AS q_id, c_id AS cell FROM asg
       |           WHERE vec_id < 10 AND crank <= 8),
       |${pqEncodeCtesSql("cent")},
       |s AS (SELECT p.q_id, ce.n_id,
       |        list_reduce([q.dl[k.cl[j + 1] * 8 + j + 1]
       |                     FOR j IN range(0, 8)], (x, y) -> x + y) AS ad2
       |      FROM probes p
       |      JOIN fcells ce ON p.cell = ce.cell AND ce.n_id <> p.q_id
       |      JOIN cm k ON k.n_id = ce.n_id
       |      JOIN qdl q ON q.q_id = p.q_id),
       |${adcRankTailSql(24)}""".stripMargin

  private def codebookDigest(cbs: Array[Double]*): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    cbs.foreach(_.foreach { d =>
      buf.clear(); buf.putDouble(d); md.update(buf.array())
    })
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** Phase-1 STORED ANN index — the materialized analog of SCALING.md's
    * 100 TB claim ("codes as 1-byte arrays, 16× scan-IO cut"): ONE
    * corpus scan computes every vector's IVF cell and PQ code list side
    * by side as scan-stage kernels, zero exchange. Write it
    * `.partitionBy("cell")` so the serve path prunes to probed cells at
    * the file-listing level (CodesMaterializeSpec pins both the pruning
    * and the absence of encode work at serve time).
    */
  def codesTable(
      e: DataFrame, cbIvf: Array[Double], cbPq: Array[Double]): DataFrame =
    e.select(col("vec_id"),
      PqExpressions.nearestCell(embNN, cbIvf, 64).as("cell"),
      PqExpressions.pqEncode(embNN, cbPq, 8, 8).as("cl"))

  /** Serve-side probe projection over a (small, external) query-vector
    * table: probed cells exploded + the per-subspace ADC lookup table.
    * Kernel work here is per QUERY, not per corpus vector — the whole
    * point of the stored index.
    */
  def probeTable(
      queries: DataFrame, cbIvf: Array[Double], cbPq: Array[Double],
      nprobe: Int = 2): DataFrame =
    queries.select(col("vec_id").as("q_id"),
      explode(PqExpressions.nearestCells(embNN, cbIvf, 64, nprobe)).as("pcell"),
      PqExpressions.pqSubDists(embNN, cbPq, 8, 8).as("dl"))

  /** Incremental index ingest — the ANN analog of the lexical
    * pipeline's cross-batch signature path: a NEW batch of vectors is
    * encoded (one scan-stage kernel pass over the batch alone) and
    * appended into the stored codes table's cell partitions. Parquet
    * hive-partition append touches only the cells the batch lands in;
    * existing cells' files are never rewritten, and vec_ids are unique
    * across batches so no merge is needed. Serving immediately sees
    * the union (CodesIncrementalSpec: build-half + append-half ==
    * build-full, row-identical serve).
    */
  def appendToCodes(
      batch: DataFrame, codesDir: String, cbIvf: Array[Double],
      cbPq: Array[Double]): Unit =
    try codesTable(batch, cbIvf, cbPq)
      .write.mode("append").partitionBy("cell").parquet(codesDir)
    finally graft.sinks.IncrementalParquet.advanceGeneration(codesDir)

  /** Exactly-once streaming form of [[appendToCodes]]: delegates the
    * ack-marker + batch-scoped-deterministic-name protocol to
    * [[graft.sinks.IncrementalParquet.appendIdempotent]] (contract and
    * crash analysis documented there), contributing only the domain
    * half — encode the batch with the scan-stage kernels, partitioned
    * by cell. Touches only the cells the batch lands in, O(batch) like
    * the non-streaming append. Maintenance (compaction) and ingest are
    * single-writer: run [[compactCodes]] from the same driver that owns
    * the stream (e.g. between triggers), not concurrently with an
    * in-flight micro-batch.
    */
  def appendToCodesIdempotent(
      batch: DataFrame, codesDir: String, batchId: Long,
      cbIvf: Array[Double], cbPq: Array[Double]): Unit =
    graft.sinks.IncrementalParquet.appendIdempotent(
      batch.sparkSession, codesDir, "cell", batchId,
      pinExtra = booksPin(cbIvf, cbPq))(
      codesTable(batch, cbIvf, cbPq))

  /** The codebook-GENERATION layout property: codes are meaningless
    * under different books (cell membership itself changes), so the
    * digest of the frozen parameter set rides the table's layout pin —
    * an append or serve under drifted books fails loudly ("a layout
    * property cannot change over a live table — rebuild it instead")
    * instead of silently mixing generations. [[stagedRebuildCodes]] IS
    * that rebuild.
    */
  private def booksPin(cbs: Array[Double]*): Map[String, String] =
    Map("books" -> codebookDigest(cbs: _*))

  /** Record the codebook generation of a codes dir that already holds
    * data (a table seeded by a plain `codesTable(...).write` — the
    * adoptLayout escape hatch, asserted by the caller).
    */
  def adoptBooks(
      spark: SparkSession, codesDir: String, cbs: Array[Double]*): Unit =
    graft.sinks.IncrementalParquet.adoptLayout(spark, codesDir, booksPin(cbs: _*))

  /** Open a stored codes dir for serving under the caller's codebooks:
    * heal any crashed rebuild swap, then verify the generation pin —
    * serving stored codes with the wrong books returns silently wrong
    * neighbors (the ADC scores look plausible; cell pruning drops true
    * candidates), the silent-wrong class everything else here guards
    * against. An unpinned dir (pre-pin table) is served as-is.
    */
  def codesForServe(
      spark: SparkSession, codesDir: String, cbs: Array[Double]*): DataFrame = {
    graft.sinks.IncrementalParquet.recoverRebuildSwap(spark, codesDir)
    val pinned =
      graft.sinks.IncrementalParquet.readLayout(spark, codesDir).get("books")
    val expect = codebookDigest(cbs: _*)
    require(pinned.forall(_ == expect),
      s"$codesDir was encoded under books ${pinned.getOrElse("?")} but this " +
        s"serve compiled $expect — staged-rebuild the index " +
        "(stagedRebuildCodes); mixing generations mis-prunes silently")
    Tables.parquetCachedSchema(spark, codesDir)
  }

  /** Staged codebook rebuild + atomic swap for a serving codes table —
    * the drift answer SCALING.md promises: when monitoring says the
    * frozen books have drifted from the corpus (recall sag on fresh
    * queries), build NEW-generation codes alongside the serving table
    * (one O(corpus) encode pass — the old generation serves throughout)
    * and swap in two renames between triggers. Never per-batch
    * retraining. Protocol, replay-marker carry and crash recovery live
    * in [[graft.sinks.IncrementalParquet.rebuildSwap]]; this wrapper
    * contributes the domain half — the new encode and the new
    * generation's books pin. [[stagedRebuildResidualCodes]] is the
    * residual family's twin.
    */
  def stagedRebuildCodes(
      corpus: DataFrame, codesDir: String,
      cbIvfNew: Array[Double], cbPqNew: Array[Double]): Unit = {
    val spark = corpus.sparkSession
    graft.sinks.IncrementalParquet.rebuildSwap(spark, codesDir, "cell") {
      stage =>
        codesTable(corpus, cbIvfNew, cbPqNew)
          .write.mode("overwrite").partitionBy("cell").parquet(stage)
        graft.sinks.IncrementalParquet.adoptLayout(
          spark, stage, booksPin(cbIvfNew, cbPqNew))
    }
  }

  /** [[stagedRebuildCodes]] for the residual family: the frozen
    * generation is the (coarse codebook, cell means, residual
    * sub-quantizers) TRIPLE — a drift in any member invalidates the
    * stored codes (residuals are meaningless under a different
    * reference frame), so all three ride the generation pin together.
    */
  def stagedRebuildResidualCodes(
      corpus: DataFrame, codesDir: String, cbIvfNew: Array[Double],
      meansNew: Array[Double], cbPqResNew: Array[Double]): Unit = {
    val spark = corpus.sparkSession
    graft.sinks.IncrementalParquet.rebuildSwap(spark, codesDir, "cell") {
      stage =>
        residualCodesTable(corpus, cbIvfNew, meansNew, cbPqResNew)
          .write.mode("overwrite").partitionBy("cell").parquet(stage)
        graft.sinks.IncrementalParquet.adoptLayout(
          spark, stage, booksPin(cbIvfNew, meansNew, cbPqResNew))
    }
  }

  /** Residual-family twin of [[appendToCodesIdempotent]]: the batch is
    * encoded against the FROZEN (coarse codebook, cell means, residual
    * sub-quantizers) triple — the freeze-and-append premise
    * AnnRecallSpec pins — and appended exactly-once under the same
    * ack-marker protocol. Crash/replay/compaction semantics are
    * entirely the shared [[graft.sinks.IncrementalParquet]] machinery.
    */
  def appendToResidualCodesIdempotent(
      batch: DataFrame, codesDir: String, batchId: Long,
      cbIvf: Array[Double], means: Array[Double],
      cbPqRes: Array[Double]): Unit =
    graft.sinks.IncrementalParquet.appendIdempotent(
      batch.sparkSession, codesDir, "cell", batchId,
      pinExtra = booksPin(cbIvf, means, cbPqRes))(
      residualCodesTable(batch, cbIvf, means, cbPqRes))

  /** Compact the stored codes table's fragmented cell partitions to one
    * file each — [[graft.sinks.IncrementalParquet.compact]] carries the
    * protocol (retired-sibling swap, crash recovery, unacked-batch
    * skip); cells parse as Int so the partition-pruned read keeps its
    * typed `PartitionFilters`. Returns the number of cells compacted.
    */
  def compactCodes(
      spark: SparkSession, codesDir: String, maxFilesPerCell: Int = 1): Int =
    graft.sinks.IncrementalParquet.compact(
      spark, codesDir, "cell", maxFilesPerCell)(s => Int.box(s.toInt))

  /** Minor (size-tiered) compaction of the codes table — the in-loop
    * cadence job: absorbs only per-batch cell files (plus overflowing
    * small bases), O(absorbed bytes) per firing, never O(index).
    * Protocol at [[graft.sinks.IncrementalParquet.compactMinor]];
    * [[compactCodes]] remains the explicit full rewrite.
    */
  def compactCodesMinor(spark: SparkSession, codesDir: String): Int =
    graft.sinks.IncrementalParquet.compactMinor(spark, codesDir, "cell")

  /** Exactly-once TAKEDOWN of a batch of vector ids from a stored
    * codes table (pinned, trained or residual — the protocol never
    * looks at the code bytes): the ids land as tombstones on the
    * table's `_tombstones` sibling (own ack namespace — a replayed
    * delete batch is a no-op forever) and every serve filters them
    * from the moment the batch acks ([[storedCodesLive]]): the vector
    * stops surfacing as an ANN candidate in every tier that reads the
    * table. O(batch), no table rewrite — [[purgeCodesTombstones]] is
    * the physical removal. Deletion never retrains the frozen books
    * (the generation pin is untouched): removal is a corpus change,
    * not a codebook change — the staged-rebuild path remains the
    * answer to DRIFT, this the answer to TAKEDOWN.
    */
  def deleteFromCodesIdempotent(
      vecIds: DataFrame, codesDir: String, batchId: Long): Unit =
    graft.sinks.IncrementalParquet.appendTombstonesIdempotent(
      vecIds.sparkSession, codesDir, "vec_id", batchId)(vecIds)

  /** Physical purge of tombstoned vectors from a stored codes table —
    * O(touched cells), never O(index): only the cells holding a
    * deleted vector's code are rewritten (a vector's code lives in
    * exactly ONE cell, so a takedown batch touches ≤ |batch| cells).
    * Serves stay correct before, during and after (tombstones filter
    * until the bytes are gone). Returns cells rewritten.
    */
  def purgeCodesTombstones(s: SparkSession, codesDir: String): Int =
    graft.sinks.IncrementalParquet.purgeTombstoned(
      s, codesDir, "cell", "vec_id")(v => Int.box(v.toInt))

  /** Read a stored codes table for SERVING with the deletion
    * lifecycle applied: tombstoned vec_ids stop surfacing as
    * candidates the moment their delete batch acks. Identity — no
    * plan change at all — for a never-deleted table, so the plan pins
    * on every codes serve hold unchanged.
    */
  private[analytics] def storedCodesLive(
      s: SparkSession, codesDir: String): DataFrame =
    graft.sinks.IncrementalParquet.applyTombstones(s, codesDir, "vec_id")(
      Tables.parquetCachedSchema(s, codesDir))

  /** THE memoized stored codes table per (corpus, codebooks), built
    * through the incremental lifecycle
    * ([[graft.sinks.IncrementalParquet.buildViaLifecycle]]: even-half
    * base build, odd half as an arriving batch, fragmented-cell
    * compaction). Row-identical to a one-shot [[codesTable]] build, so
    * every serve it backs (q_ann_ivfpq, q_ann_ivfpq_trained,
    * q_ann_codes_served) sits under a driver hash gate that checks the
    * whole build → ingest → compact lifecycle. The key folds in the
    * corpus CONTENT fingerprint ([[graft.core.Tables.tableFingerprint]])
    * and a digest of the codebooks, so mutating a corpus dir
    * in-session — or serving the same dir with different (e.g. trained
    * vs pinned) codebooks — builds a fresh index instead of silently
    * serving stale codes.
    */
  private val storedIncCodes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def incrementalCodesPath(
      s: SparkSession, dir: String,
      cbIvf: Array[Double], cbPq: Array[Double]): String =
    graft.sinks.IncrementalParquet.buildViaLifecycle(storedIncCodes,
      Tables.derivedStateKey(s, dir, "embeddings") +
        "|inc|" + codebookDigest(cbIvf, cbPq), "graft-codes-inc",
      t(s, dir, "embeddings"), "vec_id", "cell",
      pinExtra = booksPin(cbIvf, cbPq))(
      codesTable(_, cbIvf, cbPq))

  private val storedIncCodesDeleted =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The DELETION-lifecycle codes table: the standard incremental
    * build, then the takedown protocol exercised end to end (batch A
    * ids ≡ 3 mod 14 physically purged, batch B ids ≡ 10 mod 14 left
    * tombstone-served, batch A replayed post-purge as a pinned no-op
    * — [[graft.sinks.IncrementalParquet.buildViaDeleteLifecycle]]),
    * so q_ann_deleted's one oracle hash pins both removal mechanisms
    * against the full recompute over the surviving corpus.
    */
  private[graft] def incrementalCodesDeletedPath(
      s: SparkSession, dir: String,
      cbIvf: Array[Double], cbPq: Array[Double]): String =
    graft.sinks.IncrementalParquet.buildViaDeleteLifecycle(
      storedIncCodesDeleted,
      Tables.derivedStateKey(s, dir, "embeddings") +
        "|inc-del|" + codebookDigest(cbIvf, cbPq), "graft-codes-del",
      t(s, dir, "embeddings"), "vec_id", "cell",
      pinExtra = booksPin(cbIvf, cbPq))(
      codesTable(_, cbIvf, cbPq))

  /** The residual family's memoized stored codes table, built through
    * the SAME incremental lifecycle as [[incrementalCodesPath]] (even-
    * half base build, odd half as an arriving batch, fragmented-cell
    * compaction) — so q_ann_ivfpq_residual's hash gate checks the whole
    * build → ingest → compact path too. The key folds in the cell
    * MEANS alongside both codebooks: residual codes are meaningless
    * under a different reference frame, and a drifted means array must
    * build a fresh index, not serve stale codes.
    */
  private val storedIncResidualCodes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def incrementalResidualCodesPath(
      s: SparkSession, dir: String, cbIvf: Array[Double],
      means: Array[Double], cbPqRes: Array[Double]): String =
    graft.sinks.IncrementalParquet.buildViaLifecycle(storedIncResidualCodes,
      Tables.derivedStateKey(s, dir, "embeddings") +
        "|res|" + codebookDigest(cbIvf, means, cbPqRes), "graft-rescodes-inc",
      t(s, dir, "embeddings"), "vec_id", "cell",
      pinExtra = booksPin(cbIvf, means, cbPqRes))(
      residualCodesTable(_, cbIvf, means, cbPqRes))

  /** The one pinned-codebook stored-index serve both q_ann_ivfpq and
    * q_ann_codes_served run (shared so the two entries cannot diverge):
    * read THE memoized incrementally-built codes table for the corpus
    * and serve through [[ivfPqServeFromCodes]].
    */
  private def pinnedIvfPqServe(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val cb = pinnedCodebook(s, dir)
    val codes = storedCodesLive(s, incrementalCodesPath(s, dir, cb, cb))
    ivfPqServeFromCodes(e, codes, cb, cb, 10)
  }

  private val pinnedCodebooks =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]()

  /** The PINNED 16-centroid codebook (first 16 corpus vectors),
    * collected ONCE per corpus fingerprint: every pinned-codebook
    * serve needs it, and an interactive search call must not pay the
    * collect job per invocation (the trained codebooks have had this
    * memo since round 4 — CodebookMemoSpec). Deterministic collect, so
    * the memo is value-identical; the fingerprint key invalidates on
    * corpus change like every derived-state memo.
    */
  private def pinnedCodebook(s: SparkSession, dir: String): Array[Double] =
    pinnedCodebooks.computeIfAbsent(
      Tables.derivedStateKey(s, dir, "embeddings") + "|pinned16",
      _ => collectCodebook(t(s, dir, "embeddings"), 16))

  /** Driver-local DataFrame from collected rows — the LocalRelation
    * every stored-codes serve builds its query side from (broadcasts
    * materialize driver-side with no job).
    */
  private def localDf(s: SparkSession, schema: StructType,
      rows: Seq[org.apache.spark.sql.Row]): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** ADC candidate top-`topC` per query reading ONLY the stored codes
    * table: prune to the probed cells (a static partition filter —
    * `probedCells` is the query batch's cell set, ≤ nQueries×nprobe
    * ints of driver-side metadata), broadcast-join the probe table on
    * the cell key, ADC-score each co-celled (query, code) pair. No
    * PqEncode / NearestCell runs here — the corpus-side index work was
    * paid once at build time.
    */
  def adcCandidatesFromCodes(
      codes: DataFrame, probes: DataFrame, probedCells: Seq[Int],
      topC: Int = 8): DataFrame =
    adcCandidates(codes.filter(col("cell").isin(probedCells: _*)), probes,
      topC, Tables.Tier.Broadcast)

  /** [[adcCandidatesFromCodes]] over codes already pruned to the probed
    * cells, laid out by the request's tier.
    */
  private def adcCandidates(pruned: DataFrame, probes: DataFrame,
      topC: Int, tier: Tables.Tier): DataFrame = {
    val wCand = Window.partitionBy(col("q_id")).orderBy(col("ad2"), col("n_id"))
    tier.leaf(pruned).join(tier.small(probes),
        col("cell") === col("pcell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        PqExpressions.adcScore(col("cl"), col("dl"), 8).as("ad2"))
      .withColumn("crank", row_number().over(wCand))
      .filter(col("crank") <= topC)
      .select(col("q_id"), col("n_id"), col("ad2"))
  }

  /** Stored-index serving composed end-to-end: probes from the query
    * vectors, ADC candidates from the codes table alone, then the exact
    * re-rank fetches full vectors ONLY for the ≤ topC×nQueries
    * candidates (same tail as [[ivfPqPipeline]] — output schema and
    * values match q_ann_ivfpq exactly when the codes table was built
    * with its codebooks).
    */
  private[graft] def ivfPqServeFromCodes(
      e: DataFrame, codes: DataFrame, cbIvf: Array[Double],
      cbPq: Array[Double], nQueries: Int, nprobe: Int = 2,
      topC: Int = 8, depth: Int = 3): DataFrame =
    ivfPqServed(e, codes, cbIvf, cbPq,
      e.filter(col("vec_id") < nQueries), nprobe, topC, depth).run

  /** ANN top-k for EXTERNAL query vectors against the stored codes
    * table — the user-facing vector-search entry (the catalog serves
    * draw queries from stored embeddings so the DuckDB oracle can
    * re-derive them; a real search batch arrives as raw vectors,
    * exactly like [[graft.analytics.RetrievalQueries.bm25SearchText]]
    * on the lexical side). Query ids in the output are the input
    * positions 0..n−1; internally they ride as NEGATIVE ids so the
    * corpus self-exclusion (n_id ≠ q_id, meaningful only when queries
    * ARE corpus vectors) can never collide — a query equal to a
    * stored vector retrieves it at rank 1 with cosine 1.
    */
  def annSearchVectors(s: SparkSession, dir: String,
      vectors: Seq[Array[Float]], nprobe: Int = 2, topC: Int = 8,
      depth: Int = 3): DataFrame =
    annRequest(s, dir, vectors, nprobe, topC, depth)
      .map("annSearchVectors")(_
        .withColumn("q_id", -col("q_id") - 1)
        .orderBy(col("q_id"), col("rank")))
      .prepare(s).run

  /** The external-vector serve as a [[Tables.Request]] whose RANKED
    * relation KEEPS the negative internal query ids — the vector arm of
    * [[graft.analytics.RetrievalQueries.hybridSearch]] too (the fusion
    * joins both arms on the internal ids before mapping back). The
    * query side — probe cells, ADC lookup tables, norms — is derived
    * per request through a prepared projection of the query vectors
    * (no job: a local relation), and binds as the `probes` and `qn`
    * relations and the `cell` list that prunes the codes scan.
    */
  private[analytics] def annRequest(s: SparkSession, dir: String,
      vectors: Seq[Array[Float]], nprobe: Int, topC: Int,
      depth: Int): Tables.Request = {
    val cb = pinnedCodebook(s, dir)
    val codesDir = incrementalCodesPath(s, dir, cb, cb)
    val qrows = vectors.zipWithIndex.map { case (v, i) => Row(-(i + 1).toLong, v) }
    val qside = Tables.Request(s"annQuery|$codesDir|$nprobe", (),
      Tables.Bindings(rows = Map("q" -> (QueryVectorSchema, qrows))),
      sl => Tables.Served(Nil, _ => querySide(sl.rows("q"), cb, cb, nprobe)))
      .prepare(s).plan(Tables.Tier.Planner)
    Tables.Request(s"ann|$codesDir|$nprobe|$topC|$depth",
      graft.sinks.IncrementalParquet.generation(s, codesDir),
      queryBindings(qside),
      sl => ivfPqServedOver(t(s, dir, "embeddings"),
        storedCodesLive(s, codesDir), sl, topC, depth))
  }

  /** The (vec_id, embedding) schema of an external query-vector batch. */
  private val QueryVectorSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  /** The pinned-codebook stored-codes serve over an ARBITRARY query
    * frame (vec_id, embedding) at caller-chosen dials — the shared
    * body behind the indexed MMR tier's candidate pool
    * ([[graft.analytics.RetrievalQueries]] q_mmr_diversify_indexed /
    * mmrSearchVectors): same codes table and serve chain as
    * q_ann_codes_served.
    */
  private[analytics] def servedRankedForQueryFrame(s: SparkSession,
      dir: String, queryVecs: DataFrame, nprobe: Int, topC: Int,
      depth: Int): DataFrame = {
    val cb = pinnedCodebook(s, dir)
    val codes = storedCodesLive(s, incrementalCodesPath(s, dir, cb, cb))
    ivfPqServed(t(s, dir, "embeddings"), codes, cb, cb, queryVecs, nprobe,
      topC, depth).run
  }

  /** The stored-codes serve body over an arbitrary query-vector frame
    * (vec_id, embedding) as a [[Tables.Served]] body — the query side
    * collected once ([[queryBindings]]) and the body built over it
    * fresh ([[ivfPqServedOver]]).
    */
  private def ivfPqServed(
      e: DataFrame, codes: DataFrame, cbIvf: Array[Double],
      cbPq: Array[Double], queryVecs: DataFrame, nprobe: Int,
      topC: Int, depth: Int): Tables.Served =
    ivfPqServedOver(e, codes, new Tables.Slots(e.sparkSession,
      queryBindings(querySide(queryVecs, cbIvf, cbPq, nprobe))), topC, depth)

  /** The query side of a stored-codes serve: per query vector its probe
    * cells, its subspace distance lookups, the raw vector and its norm.
    */
  private def querySide(queryVecs: DataFrame, cbIvf: Array[Double],
      cbPq: Array[Double], nprobe: Int): DataFrame =
    queryVecs.select(
      col("vec_id"),
      PqExpressions.nearestCells(embNN, cbIvf, 64, nprobe).as("pcells"),
      PqExpressions.pqSubDists(embNN, cbPq, 8, 8).as("dl"),
      col("embedding").as("qv"),
      l2Norm(col("embedding")).as("qn"))

  /** The slot values of a stored-codes serve from its [[querySide]]:
    * ONE tiny collect covers the whole query side — ≤ nQueries rows of
    * driver metadata, evaluated on the driver with no job when the
    * query vectors are driver rows ([[Tables.collectLocal]]). The probe table (`probes`), the exact-re-rank
    * query side (`qn`) AND the probed-cell list (`cell`) all derive
    * from it, and the two relations are LOCAL relations, whose
    * broadcasts materialize driver-side with no job. Round 12 replaced
    * the previous localCheckpoint + distinct-collect + runtime-broadcast
    * shape after decomposing the warm serve wall: 12 jobs summing to
    * 0.27 s under a 0.73 s wall — a job-count × planning floor, not a
    * data term (SCALING.md round 12; same lesson as the round-11
    * trigger work). At scale the query side stays driver-sized by
    * definition (it IS the query batch); the corpus-side candidate join
    * is untouched.
    */
  private def queryBindings(qside: DataFrame): Tables.Bindings = {
    val qRows = Tables.collectLocal(qside)
    val probeSchema = StructType(Seq(
      StructField("q_id", LongType), StructField("pcell", IntegerType),
      StructField("dl", qside.schema("dl").dataType)))
    val qnSchema = StructType(Seq(
      StructField("q_id2", LongType), StructField("qv", qside.schema("qv").dataType),
      StructField("qn", DoubleType)))
    val probes = qRows.toSeq.flatMap { r =>
      r.getAs[scala.collection.Seq[Int]]("pcells").map(c =>
        Row(r.getLong(0), c, r.getAs[Any]("dl")))
    }
    val qn = qRows.toSeq.map(r => Row(r.getLong(0), r.getAs[Any]("qv"), r.getDouble(4)))
    val cells = qRows.flatMap(
      _.getAs[scala.collection.Seq[Int]]("pcells")).distinct.toSeq
    Tables.Bindings(
      rows = Map("probes" -> (probeSchema, probes), "qn" -> (qnSchema, qn)),
      values = Map("cell" -> cells))
  }

  /** The stored-codes serve body over its slots: the codes pruned to
    * the probed cells, the embeddings the re-rank fetches from, and the
    * two local query relations are its leaves.
    */
  private def ivfPqServedOver(e: DataFrame, codes: DataFrame,
      sl: Tables.Slots, topC: Int, depth: Int): Tables.Served = {
    val probes = sl.rows("probes")
    val qn = sl.rows("qn")
    val pruned = codes.filter(sl.isin(col("cell"), "cell"))
    Tables.Served(Seq(pruned, e, probes, qn), tier =>
      exactReRankTail(e, adcCandidates(pruned, probes, topC, tier), qn,
        depth, tier, sl.collect))
  }

  /** The pinned-codebook stored-index serve as a RANKED relation at an
    * arbitrary depth — the ANN arm of the indexed hybrid fusion
    * ([[RetrievalQueries]] q_hybrid_rrf_indexed): same codes table and
    * serve chain as q_ann_codes_served, with the re-rank budget (topC)
    * and emitted depth widened to the fusion dials.
    */
  private[analytics] def pinnedServedRanked(s: SparkSession, dir: String,
      nQueries: Int, nprobe: Int, topC: Int, depth: Int): DataFrame = {
    val e = t(s, dir, "embeddings")
    val cb = pinnedCodebook(s, dir)
    val codes = storedCodesLive(s, incrementalCodesPath(s, dir, cb, cb))
    ivfPqServeFromCodes(e, codes, cb, cb, nQueries, nprobe, topC, depth)
  }

  /** The pinned-codebook stored-index ranking as shared oracle CTEs,
    * through the relation `annr(q_id, n_id, rank)` (rank over the
    * exact-cosine re-rank of the top-`topC` ADC candidates). Expects
    * CTE `e` (double-cast embeddings) upstream; CTE names are chosen
    * to compose with [[RetrievalQueries.bm25CtesSql]]. The corpus
    * side (nv/cent/asg/cells/encode) and the ADC → re-rank → rank
    * tail are SHARED with the external form below — only the
    * query-side CTEs (qprobe/qd/qv2) and the self-exclusion differ,
    * so the two oracles cannot drift (the bm25ScoreCtesSql
    * discipline).
    */
  private[analytics] def ivfPqRankedCtesSql(
      nQueries: Int, nprobe: Int, topC: Int): String =
    s"""$ivfPqCorpusCtesSql,
       |qprobe AS (SELECT vec_id AS q_id, c_id AS cell FROM asg
       |           WHERE vec_id < $nQueries AND crank <= $nprobe),
       |qd AS (SELECT q_id, dl FROM qdl WHERE q_id < $nQueries),
       |qv2 AS (SELECT vec_id AS q_id, v, nrm FROM nv
       |        WHERE vec_id < $nQueries),
       |${ivfPqRankedTailSql(topC, excludeSelf = true)}""".stripMargin

  /** The stored-codes serve for ONE EXTERNAL query vector equal to
    * corpus vector `src`, riding internal id −1 — the negative-id
    * discipline of [[annRequest]]: self-exclusion never
    * fires, so an exact-match external query retrieves its stored
    * twin at rank 1. Emits `annr(q_id = −1, n_id, rank)`; expects CTE
    * `e` upstream; composes with [[RetrievalQueries]]' BM25 text CTEs
    * (the q_hybrid_text oracle). `src` must be < 10 (the encode CTEs'
    * query-lookup bound). Same shared corpus body and tail as the
    * corpus form above.
    */
  private[analytics] def ivfPqRankedExternalCtesSql(
      src: Int, nprobe: Int, topC: Int): String =
    s"""$ivfPqCorpusCtesSql,
       |qprobe AS (SELECT CAST(-1 AS BIGINT) AS q_id, c_id AS cell FROM asg
       |           WHERE vec_id = $src AND crank <= $nprobe),
       |qd AS (SELECT CAST(-1 AS BIGINT) AS q_id, dl FROM qdl
       |       WHERE q_id = $src),
       |qv2 AS (SELECT CAST(-1 AS BIGINT) AS q_id, v, nrm FROM nv
       |        WHERE vec_id = $src),
       |${ivfPqRankedTailSql(topC, excludeSelf = false)}""".stripMargin

  /** The corpus-side CTEs shared by both ranked-serve oracles: norms,
    * pinned centroids, coarse assignment, cells, PQ encode.
    */
  private def ivfPqCorpusCtesSql: String =
    s"""nv AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
       |cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 16),
       |asg AS (SELECT a.vec_id, c.c_id,
       |          row_number() OVER (PARTITION BY a.vec_id
       |            ORDER BY ${dotSql("a.v", "c.cv")} DESC, c.c_id) AS crank
       |        FROM e a, cent c),
       |cells AS (SELECT vec_id AS n_id, c_id AS cell FROM asg WHERE crank = 1),
       |${pqEncodeCtesSql("cent")}""".stripMargin

  /** ADC scoring → exact-cosine re-rank → `annr` rank tail shared by
    * both ranked-serve oracles. Expects query-side CTEs
    * `qprobe(q_id, cell)`, `qd(q_id, dl)`, `qv2(q_id, v, nrm)`;
    * `excludeSelf` is the corpus-query self-exclusion (external
    * queries ride ids no corpus vector carries, so it must NOT fire
    * there — an exact-match query retrieves its stored twin).
    */
  private def ivfPqRankedTailSql(topC: Int, excludeSelf: Boolean): String =
    s"""s AS (SELECT p.q_id, ce.n_id,
       |        list_reduce([q.dl[k.cl[j + 1] * 8 + j + 1]
       |                     FOR j IN range(0, 8)], (x, y) -> x + y) AS ad2
       |      FROM qprobe p
       |      JOIN cells ce ON p.cell = ce.cell${
        if (excludeSelf) " AND ce.n_id <> p.q_id" else ""}
       |      JOIN cm k ON k.n_id = ce.n_id
       |      JOIN qd q ON q.q_id = p.q_id),
       |acand AS (SELECT q_id, n_id, ad2,
       |            row_number() OVER (PARTITION BY q_id
       |              ORDER BY ad2, n_id) AS crank2
       |          FROM s),
       |ar AS (SELECT a.q_id, a.n_id,
       |         ${dotSql("qn.v", "cn.v")} / (qn.nrm * cn.nrm) AS cos
       |       FROM acand a JOIN qv2 qn ON qn.q_id = a.q_id
       |                    JOIN nv cn ON cn.vec_id = a.n_id
       |       WHERE a.crank2 <= $topC),
       |annr AS (SELECT q_id, n_id,
       |           CAST(row_number() OVER (PARTITION BY q_id
       |             ORDER BY cos DESC, n_id) AS INTEGER) AS rank
       |         FROM ar)""".stripMargin

  /** Index-accelerated FILTERED search — the scale path of
    * q_ann_filtered once the corpus is indexed: candidates come from
    * the stored codes table pruned to probed cells, and the metadata
    * filter lands on the CODES side as a semi-join BEFORE the ADC
    * top-C cut — the candidate budget is spent on QUALIFYING vectors
    * only, so the filter costs no recall at the budget boundary (the
    * classic post-filter failure: top-C retrieved first, filtered
    * after, possibly to zero survivors). The remaining recall gap is
    * the usual cell-probe horizon, measured in AnnRecallSpec.
    * `allowedIds` is a one-column id relation; at 100 TB it is itself
    * the output of a pushed-down metadata scan, and the semi-join is
    * an equi-join AQE sizes (broadcast when small).
    *
    * `nprobe` AND `topC` should both scale with 1/selectivity
    * (probe-widening — the standard filtered-search dial): a filter
    * keeping fraction s of the corpus thins every probed cell to
    * s·|cell|, so at the unfiltered defaults the candidate horizon
    * shrinks by s and recall drops with it (measured 0.37 vs 0.67
    * unfiltered at s≈0.44, nprobe=2/topC=8). The dials are COUPLED:
    * widening nprobe alone peaks then FALLS (0.60 at nprobe=8 → 0.47
    * at 16 — the extra cells' candidates crowd a fixed top-8 budget
    * out through ADC quantization noise), while nprobe=8..12 ×
    * topC=24 measures 0.73–0.77, above even the unfiltered horizon
    * (SCALING.md round 13, "Filtered (hybrid) search"; AnnRecallSpec
    * pins the 0.7 floor at nprobe=⌈4/s⌉, topC=24). Widening costs
    * O(nprobe) driver rows + probed cells scanned and O(topC)
    * re-ranked candidates — never a per-cell term.
    */
  def filteredServeFromCodes(
      e: DataFrame, codes: DataFrame, allowedIds: DataFrame,
      cbIvf: Array[Double], cbPq: Array[Double], nQueries: Int,
      nprobe: Int = 2, topC: Int = 8): DataFrame = {
    val idCol = allowedIds.columns.head
    val filtered = codes.join(allowedIds,
      codes("vec_id") === allowedIds(idCol), "left_semi")
    ivfPqServeFromCodes(e, filtered, cbIvf, cbPq, nQueries, nprobe, topC)
  }

  /** Corpus-size threshold (bytes) above which [[exactReRankTail]]
    * switches from the fused broadcast-probe fetch to the collected
    * point fetch ([[pointFetch]]). Set at the measured crossover
    * (SCALING.md round 14, "The stored-serve re-rank tail made
    * size-aware", nq=10, warm medians: fused/point 0.44/0.49 s at
    * sf0.1 (0.8 MB — the job floor still wins), 0.63/0.45 s at sf1
    * (5.1 MB), 0.62/0.60 s at sf10 (51 MB, where the shared ADC stage
    * dominates both arms).
    */
  private val ReRankFetchBytes = 4L * 1024 * 1024

  /** Exact-cosine re-rank tail shared by every stored-codes serve:
    * fetch full vectors ONLY for the candidate set (≤ topC × nQueries
    * rows), join the driver-local query side, rank by exact cosine.
    * `qn` must carry (q_id2, qv, qn).
    *
    * Two size-aware fetch arms, row-identical by construction:
    *
    *  - FUSED (small corpus): `e ⋈ broadcast(cand)` — one
    *    BroadcastHashJoin whose probe side scans the whole embeddings
    *    table. Below the threshold the scan is cheaper than the extra
    *    job the other arm pays (tiny-input walls are job-count ×
    *    planning floors — the round-12 serve lesson), so the serve
    *    stays a single fused job.
    *  - POINT FETCH (large corpus): the candidate set is already
    *    driver-sized by construction (≤ topC × nQueries), so collect
    *    it, fetch vectors via `vec_id.isin(ids)` — an In predicate
    *    that pushes to the parquet scan and row-group-skips over the
    *    vec_id-clustered layout (SCALING.md round 10, "Row-group
    *    skipping engages as the corpus grows": read fraction
    *    → 0.15 at 160M rows) — and join the now-LOCAL candidate
    *    relation. Turns the one remaining O(corpus) IO term of every
    *    stored-index serve into O(candidates).
    */
  private def exactReRankTail(
      e: DataFrame, cand: DataFrame, qn: DataFrame,
      depth: Int, tier: Tables.Tier,
      collect: DataFrame => Array[Row] = _.collect()): DataFrame = {
    val (probe, candDf) =
      if (e.queryExecution.optimizedPlan.stats.sizeInBytes <= ReRankFetchBytes) (e, cand)
      else pointFetch(e, cand, collect)
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    val fetched = tier.single(tier.leaf(probe)
        .join(tier.small(candDf), col("vec_id") === col("n_id")))
      .select(col("q_id"), col("n_id"), col("ad2"),
        col("embedding").as("nv"), l2Norm(col("embedding")).as("cn"))
    fetched.join(tier.small(qn), col("q_id") === col("q_id2"))
      .withColumn("cos", dot(col("qv"), col("nv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(wRank).cast(IntegerType))
      .filter(col("rank") <= depth)
      .select(col("q_id"), col("n_id"), col("rank"),
        round(col("ad2"), 4).as("approx_d2"),
        round(col("cos"), 4).as("cosine"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** The POINT FETCH arm of [[exactReRankTail]]: the re-rank's probe
    * side (`e` cut to the candidates' ids by an `In` predicate that
    * pushes to the parquet scan) and its candidate side (`cand`
    * collected by `collect` into a local relation).
    */
  private[graft] def pointFetch(e: DataFrame, cand: DataFrame,
      collect: DataFrame => Array[Row]): (DataFrame, DataFrame) = {
    val rows = collect(cand).toSeq
    val ids = rows.map(_.getLong(cand.schema.fieldIndex("n_id"))).distinct
    (e.filter(col("vec_id").isin(ids: _*)),
      localDf(e.sparkSession, cand.schema, rows))
  }

  /** Stored-index serve for the residual family — the analog of
    * [[ivfPqServeFromCodes]] with one structural difference: the ADC
    * lookup table `dl` is CELL-RELATIVE (the query's residual depends
    * on the probed cell), so the one collected query side is exploded
    * to ≤ nQueries × nprobe rows BEFORE the subdist kernel — still
    * driver-sized by definition (it IS the query batch × nprobe). No
    * NearestCell / PqEncode runs over the corpus: cell assignment and
    * residual encoding were paid once at index build.
    */
  private[graft] def ivfPqResidualServeFromCodes(
      e: DataFrame, codes: DataFrame, cbIvf: Array[Double],
      means: Array[Double], cbPqRes: Array[Double],
      nQueries: Int): DataFrame = {
    val s = e.sparkSession
    val qside = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding"),
        explode(PqExpressions.nearestCells(embNN, cbIvf, 64, 2)).as("pcell"))
      .select(col("vec_id"), col("pcell"),
        PqExpressions.pqSubDists(
          residualFor(col("pcell"), means), cbPqRes, 8, 8).as("dl"),
        col("embedding").as("qv"), l2Norm(col("embedding")).as("qn"))
    val qRows = qside.collect()
    val dlT = qside.schema("dl").dataType
    val qvT = qside.schema("qv").dataType
    val probeSchema = StructType(Seq(
      StructField("q_id", LongType), StructField("pcell", IntegerType),
      StructField("dl", dlT)))
    val probes = localDf(s, probeSchema, qRows.toSeq.map(r =>
      org.apache.spark.sql.Row(r.getLong(0), r.getInt(1),
        r.getAs[Any]("dl"))))
    val cells = qRows.map(_.getInt(1)).distinct.toSeq
    val qnSchema = StructType(Seq(
      StructField("q_id2", LongType), StructField("qv", qvT),
      StructField("qn", DoubleType)))
    val qn = localDf(s, qnSchema, qRows.groupBy(_.getLong(0)).values.toSeq
      .map(_.head).map(r => org.apache.spark.sql.Row(
        r.getLong(0), r.getAs[Any]("qv"), r.getDouble(4))))
    val pruned = codes.filter(col("cell").isin(cells: _*))
    val tier = Tables.tier(pruned, e, probes, qn)
    exactReRankTail(e, adcCandidates(pruned, probes, 8, tier), qn, 3, tier)
  }

  /** One unrolled per-subspace PQ k-means iteration as DuckDB CTEs
    * (`$prev` → `p$n`): assignment by argmin subspace-L2 (tie → lower
    * centroid id — the [[graft.expressions.PqEncode]] rule), per-
    * (subspace, code) coordinate sums over QUANTIZED lists (exact
    * BIGINTs), plain means in [[graft.operators.CodebookTrainer]]'s
    * pinned op order (no normalization — PQ scores in L2). A (j, code)
    * group with no members keeps the previous subspace block via the
    * positional LEFT JOIN + COALESCE.
    */
  private def pqKmeansIterSql(
      n: Int, prev: String, src: String = "qz"): String =
    s"""pasg$n AS (SELECT z.vec_id, z.qv, jj.j, c.c_id,
       |             row_number() OVER (PARTITION BY z.vec_id, jj.j
       |               ORDER BY ${pqSubDistSql("z.v", "c.cv")}, c.c_id) AS rk
       |           FROM $src z, $prev c, (SELECT unnest(range(0, 8)) AS j) jj),
       |pown$n AS (SELECT vec_id, qv, j, c_id FROM pasg$n WHERE rk = 1),
       |pcnt$n AS (SELECT j, c_id, COUNT(*) AS n FROM pown$n GROUP BY j, c_id),
       |psum$n AS (SELECT o.j, o.c_id, i.i AS i,
       |             CAST(sum(o.qv[8 * o.j + i.i]) AS BIGINT) AS s
       |           FROM pown$n o, (SELECT unnest(range(1, 9)) AS i) i
       |           GROUP BY o.j, o.c_id, i.i),
       |pm$n AS (SELECT s.j, s.c_id, s.i,
       |           CAST(s.s AS DOUBLE) / CAST(c.n AS DOUBLE) / 1048576.0 AS mval
       |         FROM psum$n s JOIN pcnt$n c ON c.j = s.j AND c.c_id = s.c_id),
       |p$n AS (SELECT p.c_id,
       |          list(COALESCE(m.mval, p.cv[8 * pos.j + pos.i])
       |               ORDER BY 8 * pos.j + pos.i) AS cv
       |        FROM $prev p
       |        CROSS JOIN (SELECT jj.j, ii.i
       |                    FROM (SELECT unnest(range(0, 8)) AS j) jj,
       |                         (SELECT unnest(range(1, 9)) AS i) ii) pos
       |        LEFT JOIN pm$n m ON m.c_id = p.c_id AND m.j = pos.j AND m.i = pos.i
       |        GROUP BY p.c_id)""".stripMargin

  /** PQ encode + query-ADC-table CTEs over sub-quantizers from
    * `$cent(c_id, cv)` (pinned or trained): per-(vector, centroid,
    * subspace) distances, per-subspace argmin codes (tie → lower id),
    * per-query distance lookup lists. Expects CTE `e` upstream.
    */
  private def pqEncodeCtesSql(cent: String): String =
    s"""pd AS (SELECT a.vec_id AS n_id, c.c_id, jj.j,
       |         ${pqSubDistSql("a.v", "c.cv")} AS d2
       |       FROM e a, $cent c, (SELECT unnest(range(0, 8)) AS j) jj),
       |enc AS (SELECT n_id, j, c_id,
       |          row_number() OVER (PARTITION BY n_id, j
       |            ORDER BY d2, c_id) AS r
       |        FROM pd),
       |cm AS (SELECT n_id, list(c_id ORDER BY j) AS cl
       |       FROM enc WHERE r = 1 GROUP BY n_id),
       |qdl AS (SELECT n_id AS q_id, list(d2 ORDER BY c_id * 8 + j) AS dl
       |        FROM pd WHERE n_id < 10 GROUP BY n_id)""".stripMargin

  /** ADC candidate top-`topC` → exact-cosine re-rank top-3 → final
    * SELECT — the closing block every PQ-family oracle shares. Expects
    * CTEs `n` and `s(q_id, n_id, ad2)` upstream.
    */
  private def adcRankTailSql(topC: Int = 8): String =
    s"""cand AS (SELECT q_id, n_id, ad2,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY ad2, n_id) AS crank
       |         FROM s),
       |r AS (SELECT q_id, n_id, ad2,
       |        ${dotSql("qn.v", "cn.v")} / (qn.nrm * cn.nrm) AS cos
       |      FROM cand JOIN n qn ON qn.vec_id = cand.q_id
       |                JOIN n cn ON cn.vec_id = cand.n_id
       |      WHERE crank <= $topC),
       |t AS (SELECT q_id, n_id, ad2, cos,
       |        CAST(row_number() OVER (PARTITION BY q_id
       |               ORDER BY cos DESC, n_id) AS INTEGER) AS rank
       |      FROM r)
       |SELECT q_id, n_id, rank, round(ad2, 4) AS approx_d2,
       |  round(cos, 4) AS cosine
       |FROM t WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  /** Full plain-PQ oracle tail (q_ann_pq pinned / q_ann_pq_trained):
    * encode CTEs + all-pairs ADC scoring + rank tail.
    */
  private def pqAdcTailSql(cent: String): String =
    s"""${pqEncodeCtesSql(cent)},
       |s AS (SELECT q.q_id, c.n_id,
       |        list_reduce([q.dl[c.cl[j + 1] * 8 + j + 1]
       |                     FOR j IN range(0, 8)], (x, y) -> x + y) AS ad2
       |      FROM cm c, qdl q WHERE c.n_id <> q.q_id),
       |${adcRankTailSql()}""".stripMargin

  /** Full IVF×PQ oracle tail (q_ann_ivfpq pinned / q_ann_ivfpq_trained):
    * coarse cells/probes from `$centIvf`, encode CTEs from `$centPq`,
    * probed-cells-only ADC scoring + rank tail.
    */
  private def ivfPqAdcTailSql(centIvf: String, centPq: String,
      candFilter: String = ""): String =
    s"""asg AS (SELECT a.vec_id, c.c_id,
       |          row_number() OVER (PARTITION BY a.vec_id
       |            ORDER BY ${dotSql("a.v", "c.cv")} DESC, c.c_id) AS crank
       |        FROM e a, $centIvf c),
       |cells AS (SELECT vec_id AS n_id, c_id AS cell FROM asg WHERE crank = 1),
       |probes AS (SELECT vec_id AS q_id, c_id AS cell FROM asg
       |           WHERE vec_id < 10 AND crank <= 2),
       |${pqEncodeCtesSql(centPq)},
       |s AS (SELECT p.q_id, ce.n_id,
       |        list_reduce([q.dl[k.cl[j + 1] * 8 + j + 1]
       |                     FOR j IN range(0, 8)], (x, y) -> x + y) AS ad2
       |      FROM probes p
       |      JOIN cells ce ON p.cell = ce.cell AND ce.n_id <> p.q_id$candFilter
       |      JOIN cm k ON k.n_id = ce.n_id
       |      JOIN qdl q ON q.q_id = p.q_id),
       |${adcRankTailSql()}""".stripMargin

  val all: Seq[GraftQuery] = Seq(

    // ----------------------------------------------------- brute force
    // Exact top-10 cosine neighbors for query vectors vec_id < 5.
    GraftQuery(
      "q_ann_bruteforce",
      s"""WITH e AS ($embDoubleSql),
         |n AS (SELECT vec_id, v,
         |        sqrt(${dotSql("v", "v")}) AS nrm FROM e),
         |s AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |        ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
         |      FROM n q JOIN n c ON c.vec_id <> q.vec_id
         |      WHERE q.vec_id < 5),
         |r AS (SELECT q_id, n_id, cos,
         |        CAST(row_number() OVER (PARTITION BY q_id
         |               ORDER BY cos DESC, n_id) AS INTEGER) AS rank
         |      FROM s)
         |SELECT q_id, n_id, rank, round(cos, 4) AS cosine
         |FROM r WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
          l2Norm(col("embedding")).as("qn"))
      val c = e.select(col("vec_id").as("n_id"), col("embedding").as("cv"),
        l2Norm(col("embedding")).as("cn"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("n_id"))
      // broadcast the (tiny) query set; corpus never shuffles for the
      // join — only the per-query top-k ranking exchanges. Norms are
      // per-vector columns; the pair kernel is one codegen'd dot.
      c.join(broadcast(q), col("n_id") =!= col("q_id"))
        .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("q_id"), col("n_id"),
          col("rank").cast(IntegerType).as("rank"),
          round(col("cos"), 4).as("cosine"))
        .orderBy(col("q_id"), col("rank"))
    },

    // ---------------------------------------------------- filtered ANN
    // Hybrid metadata + vector search — the retrieval shape a curation
    // pipeline runs constantly ("nearest docs to this one, but only
    // among <lang/source/quality subset>"): the predicate lives on the
    // DOCUMENTS table, the vectors on embeddings, and the right plan
    // PRE-filters — the lang gate pushes into the documents scan
    // (PushedFilters + doc_id-only ReadSchema, pinned in PlanSpec), a
    // semi-join keeps only qualifying corpus vectors, and the exact
    // top-k runs on the survivors. Cost: selectivity × |corpus| pair
    // dots, vs a post-filter's recall gamble (an ANN candidate list
    // filtered AFTER retrieval can lose every survivor — the classic
    // filtered-search failure mode; here recall is exact BY
    // CONSTRUCTION). Queries come from the full corpus — a query need
    // not satisfy its own filter. Scale: the id semi-join broadcasts
    // when the filtered set is small and shuffles otherwise (AQE's
    // call); the query side broadcasts as in q_ann_bruteforce (the
    // intended BNL of a 10-row side).
    GraftQuery(
      "q_ann_filtered",
      s"""WITH e AS ($embDoubleSql),
         |f AS (SELECT e.vec_id, e.v FROM e
         |      JOIN documents d ON d.doc_id = e.vec_id
         |      WHERE d.lang = 'en'),
         |n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM f),
         |q AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e
         |      WHERE vec_id < 10),
         |s AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |        ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
         |      FROM q, n c WHERE c.vec_id <> q.vec_id),
         |r AS (SELECT q_id, n_id, cos,
         |        CAST(row_number() OVER (PARTITION BY q_id
         |               ORDER BY cos DESC, n_id) AS INTEGER) AS rank
         |      FROM s)
         |SELECT q_id, n_id, rank, round(cos, 4) AS cosine
         |FROM r WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val ids = t(s, dir, "documents").filter(col("lang") === "en")
        .select(col("doc_id"))
      val c = e.join(ids, col("vec_id") === col("doc_id"), "left_semi")
        .select(col("vec_id").as("n_id"), col("embedding").as("cv"),
          l2Norm(col("embedding")).as("cn"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
          l2Norm(col("embedding")).as("qn"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("n_id"))
      c.join(broadcast(q), col("n_id") =!= col("q_id"))
        .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("n_id"),
          col("rank").cast(IntegerType).as("rank"),
          round(col("cos"), 4).as("cosine"))
        .orderBy(col("q_id"), col("rank"))
    },

    // ------------------------------------------------------- LSH bucket
    // Bucketed ANN: 8 deterministic hyperplane sign bits (coordinate
    // differences) → bucket; per-query top-3 within the bucket. Recall
    // is partial by design — the point is the candidate set shrinks from
    // |corpus| to |bucket| (~1/256), turning ANN into an equi-join.
    GraftQuery(
      "q_ann_lsh",
      s"""WITH e AS ($embDoubleSql),
         |n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm,
         |        CAST(list_sum([CASE WHEN v[2*i + 1] > v[2*i + 2]
         |                            THEN CAST(2 ** i AS BIGINT) ELSE 0 END
         |                       FOR i IN range(0, 8)]) AS BIGINT) AS bucket
         |      FROM e),
         |s AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, q.bucket,
         |        ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
         |      FROM n q JOIN n c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
         |      WHERE q.vec_id < 20),
         |r AS (SELECT q_id, n_id, bucket, cos,
         |        CAST(row_number() OVER (PARTITION BY q_id
         |               ORDER BY cos DESC, n_id) AS INTEGER) AS rank
         |      FROM s)
         |SELECT q_id, n_id, bucket, rank, round(cos, 4) AS cosine
         |FROM r WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          signBucket(col("embedding"), 8).as("bucket"),
          l2Norm(col("embedding")).as("nrm"))
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
          col("bucket"), col("nrm").as("qn"))
      val c = e.select(col("vec_id").as("n_id"), col("embedding").as("cv"),
        col("bucket").as("cbucket"), col("nrm").as("cn"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("n_id"))
      q.join(c, col("bucket") === col("cbucket") && col("n_id") =!= col("q_id"))
        .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("n_id"), col("bucket"),
          col("rank").cast(IntegerType).as("rank"),
          round(col("cos"), 4).as("cosine"))
        .orderBy(col("q_id"), col("rank"))
    },

    // ---------------------------------------------------- int8 quantized
    // Scalar-quantized ANN — the quantization tier between brute force
    // and LSH/IVF blocking: coordinates quantized round-half-up to
    // int8 codes (|x| ≤ 1 on unit-norm embeddings ⇒ [−127, 127]); the
    // candidate pass ranks by the EXACT-integer quantized dot product
    // (one codegen'd kernel, no float math), keeps top-8 per query, and
    // the exact float cosine re-ranks only those survivors to top-3.
    // Scale shape: queries broadcast, the corpus never shuffles for the
    // candidate pass, and at 100 TB the codes would be materialized
    // 1-byte arrays — 4× less scan IO than float32 with SIMD integer
    // MACs. Integer scores are bit-identical across engines, so the
    // candidate CUT (not just the final ranks) is deterministic.
    GraftQuery(
      "q_ann_int8", {
        val qdotSql =
          """list_reduce([CAST(floor(q.v[i] * 127.0 + 0.5) AS BIGINT)
            |             * CAST(floor(c.v[i] * 127.0 + 0.5) AS BIGINT)
            |             FOR i IN range(1, 65)], (x, y) -> x + y)""".stripMargin
        s"""WITH e AS ($embDoubleSql),
           |n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
           |s AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           |        q.v AS qv, q.nrm AS qn, c.v AS cv, c.nrm AS cn,
           |        $qdotSql AS qdot
           |      FROM n q JOIN n c ON c.vec_id <> q.vec_id
           |      WHERE q.vec_id < 10),
           |cand AS (SELECT *, row_number() OVER (PARTITION BY q_id
           |           ORDER BY qdot DESC, n_id) AS crank FROM s),
           |r AS (SELECT q_id, n_id, qdot,
           |        ${dotSql("qv", "cv")} / (qn * cn) AS cos
           |      FROM cand WHERE crank <= 8),
           |t AS (SELECT q_id, n_id, qdot, cos,
           |        CAST(row_number() OVER (PARTITION BY q_id
           |               ORDER BY cos DESC, n_id) AS INTEGER) AS rank
           |      FROM r)
           |SELECT q_id, n_id, rank, qdot, round(cos, 4) AS cosine
           |FROM t WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
      }) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val wCand = Window.partitionBy(col("q_id"))
        .orderBy(col("qdot").desc, col("n_id"))
      val wRank = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("n_id"))
      // integer pass: ONLY (q_id, n_id, qdot) — 24-byte triples, no
      // vectors, no norms — enters the candidate-ranking exchange (the
      // float form q_ann_bruteforce prunes to a scalar the same way;
      // carrying vectors through the window would 20× the shuffle)
      val queries = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val cand = e.select(col("vec_id").as("n_id"), col("embedding").as("cv"))
        .join(broadcast(queries), col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"),
          quantizedDotI8(col("qv"), col("cv")).as("qdot"))
        .withColumn("crank", row_number().over(wCand))
        .filter(col("crank") <= 8)
        .select(col("q_id"), col("n_id"), col("qdot"))
      // exact re-rank: vectors and norms fetched ONLY for the ≤8
      // survivors per query (tiny candidate list broadcasts against
      // one more corpus scan; norms are never computed corpus-wide)
      val fetched = e.join(broadcast(cand), col("vec_id") === col("n_id"))
        .select(col("q_id"), col("n_id"), col("qdot"),
          col("embedding").as("cv"), l2Norm(col("embedding")).as("cn"))
      val qn = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id2"), col("embedding").as("qv"),
          l2Norm(col("embedding")).as("qn"))
      fetched.join(broadcast(qn), col("q_id") === col("q_id2"))
        .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
        .withColumn("rank", row_number().over(wRank).cast(IntegerType))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("n_id"), col("rank"), col("qdot"),
          round(col("cos"), 4).as("cosine"))
        .orderBy(col("q_id"), col("rank"))
    },

    // --------------------------------------------- product quantization
    // PQ/ADC ANN — the production tier beside scalar int8: the 64-dim
    // space splits into 8 subspaces of 8 dims; each corpus vector is
    // encoded as 8 four-bit codes (nearest of 16 pinned centroids per
    // subspace — vectors vec_id < 16 serve as the deterministic
    // codebook, as q_ann_ivf, keeping this query's index layout fixed;
    // CodebookTrainer k-means the sub-quantizers and AnnRecallSpec
    // pins the trained recall floor at 0.8), and
    // queries score candidates ASYMMETRICALLY by summing per-subspace
    // query→centroid distances from a 128-entry lookup table. Scale
    // shape: codes are 8 bytes/vector (16× smaller than float32, the
    // stored layout); encoding is a per-row pass against the broadcast
    // codebook; scoring is 8 map lookups per (query, vector) — no
    // float math touches the corpus until the exact re-rank of the
    // top-8 survivors. Determinism: every distance is the identical
    // cast→subtract→multiply→left-to-right-sum on both engines, the
    // per-subspace argmin breaks ties on centroid id, and the ADC score
    // folds in fixed subspace order — so even the approximate DISTANCES
    // hash-match.
    GraftQuery(
      "q_ann_pq", {
        s"""WITH e AS ($embDoubleSql),
           |n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
           |cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 16),
           |${pqAdcTailSql("cent")}""".stripMargin
      }) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      // encode + query tables are pure scan-stage kernel projections
      // against the compiled codebook — ZERO exchange on the encode
      // side (the prior form materialized corpus × 16 × 8 rows through
      // an explode and two aggregations to compute the same argmins)
      pqPipeline(e, collectCodebook(e, 16), 10)
    },

    // ------------------------------------------------------------ IVF-PQ
    // The production ANN config — both index structures composed:
    // coarse IVF cells bound WHICH vectors are scored (probes=2 of 16
    // cells ⇒ ~1/8 of the corpus per query) and PQ/ADC bounds the COST
    // of scoring each one (8 lookups, no float math). The exact cosine
    // re-ranks the top-8 as ever. Since round 6 the DEFAULT serve path
    // is the stored index: the (vec_id, cell, codes) table is built
    // once per corpus (memoized partitioned parquet) and the query
    // reads only it for candidates, pruned to the probed cells — the
    // 100 TB shape where cells partition the stored 8-byte code table,
    // a query touches only its probed partitions, and scan IO per
    // candidate is 16× under float32. The in-query composition
    // ([[ivfPqPipeline]]) survives as the spec-level reference
    // (CodesMaterializeSpec proves row-identity). All determinism
    // properties of q_ann_ivf and q_ann_pq compose unchanged, so the
    // full pipeline — approximate distances included — hash-matches
    // the oracle.
    GraftQuery(
      "q_ann_ivfpq", ivfPqPinnedSql)(pinnedIvfPqServe),

    // ------------------- IVF-PQ from the INCREMENTALLY-BUILT stored index
    // The index-lifecycle gate: the ONE codes table per corpus
    // ([[incrementalCodesPath]]) is built from HALF the corpus, the
    // other half arrives as an appended batch (touching only the cells
    // it lands in), and the fragmented cell partitions are COMPACTED
    // back to one file each ([[compactCodes]] — the small-file antidote
    // for streaming ingest). Build + append + compact is row-identical
    // to a one-shot build by construction, so the oracle IS
    // q_ann_ivfpq's SQL. Since the serve consolidation (one index build
    // per family, round 6) q_ann_ivfpq reads the same table; this entry
    // remains as the explicitly-documented lifecycle gate (parquet
    // append round-trip, per-cell rewrite, partition pruning). The two
    // entries share [[pinnedIvfPqServe]] so they cannot diverge; only
    // the index BUILD is memoized — each run re-executes the serve
    // join/rank, so keeping the gate costs one extra serve per round.
    GraftQuery("q_ann_codes_served", ivfPqPinnedSql)(pinnedIvfPqServe),

    // The ANN deletion lifecycle under the oracle hash: build + append
    // + takedown batch A (vec_id ≡ 3 mod 14, physically PURGED) +
    // takedown batch B (≡ 10 mod 14, tombstone-SERVED) + replayed
    // batch A (pinned no-op) — one hash pins both removal mechanisms
    // against the full IVF-PQ recompute over the surviving corpus.
    // Queries and the frozen books stay drawn from the original
    // corpus: a deleted vector stops being retrievable, not askable,
    // and removal never retrains a generation.
    GraftQuery("q_ann_deleted", ivfPqDeletedSql) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val cb = pinnedCodebook(s, dir)
      val codes = storedCodesLive(
        s, incrementalCodesDeletedPath(s, dir, cb, cb))
      ivfPqServeFromCodes(e, codes, cb, cb, 10)
    },

    // ------------------------- filtered search from the STORED index
    // The scale tier of q_ann_filtered (whose exact pre-filter scans
    // selectivity × |corpus| pair dots): candidates come from THE
    // stored codes table shared with q_ann_ivfpq, the metadata filter
    // lands on the codes side as a semi-join BEFORE the ADC top-C cut
    // (no post-filter recall cliff — the budget is spent on QUALIFYING
    // vectors only), and the dials run at the coupled widening the
    // recall sweep landed on (nprobe=8 × topC=24; widening nprobe
    // alone PEAKS THEN FALLS — SCALING.md round 13). Deterministic
    // end to end — pinned codebook, tie-broken argmins, dyadic ADC sums — so the
    // oracle re-derives the whole serve relationally and the hash gate
    // covers the at-scale form a real user runs, not just the exact
    // small-corpus tier.
    GraftQuery("q_ann_filtered_indexed", filteredIndexedSql) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val cb = collectCodebook(e, 16)
      val codes = storedCodesLive(s, incrementalCodesPath(s, dir, cb, cb))
      val allowed = t(s, dir, "documents").filter(col("lang") === "en")
        .select(col("doc_id"))
      filteredServeFromCodes(e, codes, allowed, cb, cb, 10,
        nprobe = 8, topC = 24)
    },

    // ----------------------------------------------- multiband dense LSH
    // Multi-table sign-LSH ANN (the recall upgrade over the single
    // 8-bit bucket of q_ann_lsh): every vector gets 4 independent dense
    // ±1-hyperplane buckets in ONE codegen'd SignBuckets pass; a
    // candidate is any vector sharing ANY (band, bucket) with the query
    // — the standard L-table LSH union, p_find = 1 − (1 − p^L). The
    // candidate stage is still a pure equi-join on a small key; exact
    // cosine re-ranks the union. Scale: bits per band is the collision
    // knob (SCALING.md sweep), bands the recall knob.
    GraftQuery(
      "q_ann_multiband", {
        val bandArms = OracleSql.denseSignBandArms(4, 8, 64)
        s"""WITH e AS ($embDoubleSql),
           |n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
           |bb AS (
           |        $bandArms),
           |cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id,
           |                q.v AS qv, q.nrm AS qn, c.v AS cv, c.nrm AS cn
           |         FROM bb q JOIN bb c
           |           ON q.band = c.band AND q.bucket = c.bucket
           |          AND c.vec_id <> q.vec_id
           |         WHERE q.vec_id < 20),
           |s AS (SELECT q_id, n_id, ${dotSql("qv", "cv")} / (qn * cn) AS cos
           |      FROM cand),
           |r AS (SELECT q_id, n_id, cos,
           |        CAST(row_number() OVER (PARTITION BY q_id
           |               ORDER BY cos DESC, n_id) AS INTEGER) AS rank
           |      FROM s)
           |SELECT q_id, n_id, rank, round(cos, 4) AS cosine
           |FROM r WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
      }) { (s, dir) =>
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))
        .repartition(col("vec_id")) // barrier: norms/buckets computed once
      val banded = e.select(col("vec_id"), col("embedding"), col("nrm"),
        posexplode(denseSignBuckets(col("embedding"), 4, 8, 64))
          .as(Seq("band", "bucket")))
      val q = banded.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
          col("nrm").as("qn"), col("band"), col("bucket"))
      val c = banded.select(col("vec_id").as("n_id"), col("embedding").as("cv"),
        col("nrm").as("cn"), col("band").as("band2"), col("bucket").as("bucket2"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("n_id"))
      q.join(c, col("band") === col("band2") && col("bucket") === col("bucket2") &&
          col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"), col("qv"), col("qn"), col("cv"), col("cn"))
        .distinct() // union over bands: a pair may collide in several
        .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
        .withColumn("rank", row_number().over(w).cast(IntegerType))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("n_id"), col("rank"),
          round(col("cos"), 4).as("cosine"))
        .orderBy(col("q_id"), col("rank"))
    },

    // ------------------------------------------------------------- IVF
    // Inverted-file ANN: vectors with vec_id < 16 serve as coarse
    // centroids (a fixed, deterministic codebook — a real deployment
    // would k-means these — q_ann_ivf_trained does, hash-checked
    // end to end); every vector is assigned to its nearest
    // centroid by dot product (unit-norm ⇒ cosine order), queries probe
    // their nprobe=2 nearest cells, exact cosine re-ranks inside the
    // probed cells. Scale shape: assignment is |corpus|×16 codegen'd
    // dots in the scan stage; the candidate join is an equi-join on the
    // small cell id — the corpus never all-pairs.
    GraftQuery(
      "q_ann_ivf",
      s"""WITH e AS ($embDoubleSql),
         |n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
         |cent AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 16),
         |asg AS (SELECT vec_id, v, nrm, c_id,
         |          row_number() OVER (PARTITION BY vec_id
         |            ORDER BY ${dotSql("v", "cv")} DESC, c_id) AS crank
         |        FROM n, cent),
         |cell AS (SELECT vec_id, v, nrm, c_id AS cell FROM asg WHERE crank = 1),
         |probe AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, c_id AS cell
         |          FROM asg WHERE vec_id < 10 AND crank <= 2),
         |s AS (SELECT p.q_id, c.vec_id AS n_id,
         |        ${dotSql("p.qv", "c.v")} / (p.qn * c.nrm) AS cos
         |      FROM probe p JOIN cell c ON p.cell = c.cell AND c.vec_id <> p.q_id),
         |r AS (SELECT q_id, n_id, cos,
         |        CAST(row_number() OVER (PARTITION BY q_id
         |               ORDER BY cos DESC, n_id) AS INTEGER) AS rank
         |      FROM (SELECT DISTINCT q_id, n_id, cos FROM s))
         |SELECT q_id, n_id, rank, round(cos, 4) AS cosine
         |FROM r WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      // coarse assignment is a scan-stage argmax-dot kernel against
      // the compiled codebook — the corpus carries (vector, norm,
      // cell) out of ONE scan with no window/exchange (the prior form
      // broadcast-joined 16 centroids and ranked them with a
      // row_number window per vector); the oracle's DISTINCT is a
      // structural no-op on unique (q, n) pairs
      ivfPipeline(e, collectCodebook(e, 16), 10)
    },

    // ------------------------------------------------- trained IVF
    // IVF with a TRAINED codebook: 2 iterations of deterministic
    // spherical k-means (graft.operators.CodebookTrainer) replace the
    // pinned vec_id<16 centroids. Training itself is cross-engine
    // deterministic — assignment ties break on centroid id, per-cell
    // coordinate sums are exact quantized BIGINTs (order-independent
    // under ANY partitioning), and the mean/normalize doubles combine
    // in pinned op order — so the DuckDB oracle re-derives the SAME
    // centroids relationally (unrolled iteration CTEs) and the whole
    // trained index, not just the final ranks, hash-matches. Scale
    // shape: each iteration is one corpus scan + a 16×64 aggregation;
    // only 16 aggregate rows reach the driver.
    GraftQuery(
      "q_ann_ivf_trained",
      s"""WITH e AS ($embDoubleSql),
         |qz AS (SELECT vec_id, v,
         |        [CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) FOR x IN v] AS qv
         |       FROM e),
         |${fpIvfInitSql()},
         |${kmeansIterSql(1, "c0")},
         |${kmeansIterSql(2, "c1")},
         |n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
         |asgF AS (SELECT a.vec_id, c.c_id,
         |          row_number() OVER (PARTITION BY a.vec_id
         |            ORDER BY ${dotSql("a.v", "c.cv")} DESC, c.c_id) AS crank
         |        FROM e a, c2 c),
         |cell AS (SELECT n.vec_id, n.v, n.nrm, a.c_id AS cell
         |         FROM asgF a JOIN n ON n.vec_id = a.vec_id WHERE a.crank = 1),
         |probe AS (SELECT n.vec_id AS q_id, n.v AS qv, n.nrm AS qn,
         |            a.c_id AS cell
         |          FROM asgF a JOIN n ON n.vec_id = a.vec_id
         |          WHERE a.vec_id < 10 AND a.crank <= 2),
         |s AS (SELECT p.q_id, c.vec_id AS n_id,
         |        ${dotSql("p.qv", "c.v")} / (p.qn * c.nrm) AS cos
         |      FROM probe p JOIN cell c ON p.cell = c.cell AND c.vec_id <> p.q_id),
         |r AS (SELECT q_id, n_id, cos,
         |        CAST(row_number() OVER (PARTITION BY q_id
         |               ORDER BY cos DESC, n_id) AS INTEGER) AS rank
         |      FROM s)
         |SELECT q_id, n_id, rank, round(cos, 4) AS cosine
         |FROM r WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      ivfPipeline(e,
        graft.operators.CodebookTrainer.cachedSphericalIvf(
          e, corpusKey(s, dir), 16, 64, 2), 10)
    },

    // ------------------------------------------------- trained PQ
    // PQ with TRAINED sub-quantizers: 2 iterations of per-subspace
    // deterministic k-means (CodebookTrainer.trainPq — the codebook
    // AnnRecallSpec shows lifting ADC recall to >=0.8 from the pinned
    // codebook's 0.5 floor) feeding the same encode/ADC/re-rank
    // pipeline as q_ann_pq. Training determinism composes exactly as
    // in q_ann_ivf_trained: argmin ties break on centroid id, per-
    // (subspace, code) coordinate sums are exact quantized BIGINTs,
    // means combine in pinned op order — so the oracle re-derives the
    // same sub-quantizers via unrolled per-subspace iteration CTEs and
    // the trained index hash-matches end to end, approximate distances
    // included. Scale shape: each iteration is one corpus scan (the
    // PqEncode kernel assigns all 8 subspaces in the scan stage) + a
    // (8x16)-group aggregation; only 128 aggregate rows reach the
    // driver.
    GraftQuery(
      "q_ann_pq_trained",
      s"""WITH e AS ($embDoubleSql),
         |qz AS (SELECT vec_id, v,
         |        [CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) FOR x IN v] AS qv
         |       FROM e),
         |${fpPqInitSql()},
         |${pqKmeansIterSql(1, "p0")},
         |${pqKmeansIterSql(2, "p1")},
         |n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
         |${pqAdcTailSql("p2")}""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      pqPipeline(e,
        graft.operators.CodebookTrainer.cachedPq(
          e, corpusKey(s, dir), 8, 8, 16, 2), 10)
    },

    // -------------------------------------------- trained IVF-PQ
    // The production serving config with BOTH index structures
    // trained: spherical-k-means coarse centroids bound WHICH vectors
    // are scored, per-subspace-k-means sub-quantizers bound the COST
    // of each — q_ann_ivfpq's composition with q_ann_ivf_trained's
    // and q_ann_pq_trained's codebooks. The oracle unrolls BOTH
    // trainings in one statement (the two iteration-CTE families are
    // name-disjoint) and the full trained index hash-matches,
    // approximate distances included.
    GraftQuery(
      "q_ann_ivfpq_trained",
      s"""WITH e AS ($embDoubleSql),
         |qz AS (SELECT vec_id, v,
         |        [CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) FOR x IN v] AS qv
         |       FROM e),
         |${fpIvfInitSql()},
         |${kmeansIterSql(1, "c0")},
         |${kmeansIterSql(2, "c1")},
         |${fpPqInitSql()},
         |${pqKmeansIterSql(1, "p0")},
         |${pqKmeansIterSql(2, "p1")},
         |n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
         |${ivfPqAdcTailSql("c2", "p2")}""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val key = corpusKey(s, dir)
      val cbIvf =
        graft.operators.CodebookTrainer.cachedSphericalIvf(e, key, 16, 64, 2)
      val cbPq =
        graft.operators.CodebookTrainer.cachedPq(e, key, 8, 8, 16, 2)
      // trained serving also goes through the stored index (the memo
      // key folds in the codebook digest, so the trained and pinned
      // indexes coexist per corpus)
      val codes = storedCodesLive(s, incrementalCodesPath(s, dir, cbIvf, cbPq))
      ivfPqServeFromCodes(e, codes, cbIvf, cbPq, 10)
    },

    // -------------------------------------- residual IVF-ADC (trained)
    // The Jégou et al. 2011 §III formulation promoted from
    // recall-spec-only (round 12) to the cross-engine hash gate: PQ
    // codes quantize v − mean(cell) instead of raw v, and ADC scores
    // ‖r_q − r_n‖² with BOTH residuals taken w.r.t. the probed cell.
    // Every stage of the longer training chain is cross-engine
    // deterministic by the same three disciplines as its siblings:
    // (1) per-cell coordinate sums are exact quantized BIGINTs
    // (order-independent — cellMeans uses the trainer's 2²⁰ scale), so
    // the cell means match bit-for-bit; (2) the residual is ONE double
    // subtraction rounded to float ONCE (both IEEE-pinned ops), so the
    // residual corpus the sub-quantizers train on is identical; (3)
    // the residual PQ training itself is the same unrolled per-
    // subspace k-means as q_ann_pq_trained, just over the residual
    // frame. The oracle re-derives ALL of it relationally — coarse
    // training, assignment, quantized means, residuals, residual PQ
    // training, per-(query, probed-cell) ADC tables — and the
    // approximate distances hash-match end to end. The Spark side
    // serves from THE stored residual codes table (built once through
    // the incremental lifecycle — the q_ann_codes_served discipline),
    // so the gate also checks residual build → ingest → compact; the
    // in-query composition stays as the spec-level reference
    // (ivfPqResidualPipeline, equality pinned in CodesIncrementalSpec).
    GraftQuery(
      "q_ann_ivfpq_residual",
      s"""WITH e AS ($embDoubleSql),
         |$trainedResidualCtesSql,
         |n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
         |probes AS (SELECT vec_id AS q_id, c_id AS cell FROM asgF
         |           WHERE vec_id < 10 AND crank <= 2),
         |rqz AS (SELECT vec_id, v,
         |         [CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) FOR x IN v] AS qv
         |        FROM rz),
         |${fpPqInitSql(src = "rz")},
         |${pqKmeansIterSql(1, "p0", src = "rqz")},
         |${pqKmeansIterSql(2, "p1", src = "rqz")},
         |rpd AS (SELECT a.vec_id AS n_id, c.c_id, jj.j,
         |          ${pqSubDistSql("a.v", "c.cv")} AS d2
         |        FROM rz a, p2 c, (SELECT unnest(range(0, 8)) AS j) jj),
         |rcm AS (SELECT n_id, list(c_id ORDER BY j) AS cl
         |        FROM (SELECT n_id, j, c_id,
         |                row_number() OVER (PARTITION BY n_id, j
         |                  ORDER BY d2, c_id) AS r
         |              FROM rpd) x
         |        WHERE x.r = 1 GROUP BY n_id),
         |pqr AS (SELECT p.q_id, p.cell,
         |          [CAST(CAST(z.v[i] - COALESCE(m.mv[i], 0.0) AS FLOAT)
         |                AS DOUBLE) FOR i IN range(1, 65)] AS rv
         |        FROM probes p JOIN e z ON z.vec_id = p.q_id
         |             LEFT JOIN meanl m ON m.cell = p.cell),
         |qpd AS (SELECT q.q_id, q.cell, c.c_id, jj.j,
         |          ${pqSubDistSql("q.rv", "c.cv")} AS d2
         |        FROM pqr q, p2 c, (SELECT unnest(range(0, 8)) AS j) jj),
         |qdl AS (SELECT q_id, cell, list(d2 ORDER BY c_id * 8 + j) AS dl
         |        FROM qpd GROUP BY q_id, cell),
         |s AS (SELECT p.q_id, ce.n_id,
         |        list_reduce([q.dl[k.cl[j + 1] * 8 + j + 1]
         |                     FOR j IN range(0, 8)], (x, y) -> x + y) AS ad2
         |      FROM probes p
         |      JOIN cellsF ce ON ce.cell = p.cell AND ce.n_id <> p.q_id
         |      JOIN rcm k ON k.n_id = ce.n_id
         |      JOIN qdl q ON q.q_id = p.q_id AND q.cell = p.cell),
         |${adcRankTailSql()}""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val key = corpusKey(s, dir)
      val cbIvf =
        graft.operators.CodebookTrainer.cachedSphericalIvf(e, key, 16, 64, 2)
      val means = cachedCellMeans(e, key, cbIvf)
      val cbPqRes = graft.operators.CodebookTrainer.cachedPq(
        residualFrame(e, cbIvf, means), s"$key/residual", 8, 8, 16, 2)
      val codes = storedCodesLive(s,
        incrementalResidualCodesPath(s, dir, cbIvf, means, cbPqRes))
      ivfPqResidualServeFromCodes(e, codes, cbIvf, means, cbPqRes, 10)
    },

    // ---------------------------------- embedding outlier pruning
    // Per-cluster distance-quantile corpus cleaning — the embedding-
    // space quality filter beside the lexical rules (the CLIP-score /
    // LAION-style "drop the weirdest tail" step, and the k-means
    // outlier criterion of classic data cleaning): every vector's
    // squared distance to its OWN cell's mean, ranked within the
    // cell, and the top ⌊n/20⌋ per cell (the 5% tail, integer-exact
    // cut rk·20 ≤ n) flagged as outliers. Reuses the residual
    // family's proven cross-engine chain verbatim — trained coarse
    // books, exact quantized cell means, float-rounded residuals —
    // so the oracle is the shared CTE text plus a dot, a window and
    // an integer comparison; the distance is the strict left-to-right
    // double dot of the float-rounded residual with itself (the
    // q_ann_* discipline, so even the DISTANCES hash-match). Scale
    // shape: one scan-stage assign+residual pass, ONE cell exchange
    // shared by both window functions, no joins over the corpus.
    GraftQuery(
      "q_embed_outliers",
      s"""WITH e AS ($embDoubleSql),
         |$trainedResidualCtesSql,
         |d AS (SELECT r.vec_id, cf.cell, ${dotSql("r.v", "r.v")} AS d2
         |      FROM rz r JOIN cellsF cf ON cf.n_id = r.vec_id),
         |rk AS (SELECT vec_id, cell, d2,
         |         row_number() OVER (PARTITION BY cell
         |           ORDER BY d2 DESC, vec_id) AS rk,
         |         COUNT(*) OVER (PARTITION BY cell) AS n
         |       FROM d)
         |SELECT vec_id, CAST(cell AS INTEGER) AS cell,
         |  round(d2, 4) AS dist2, rk * 20 <= n AS is_outlier
         |FROM rk ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val key = corpusKey(s, dir)
      val cbIvf =
        graft.operators.CodebookTrainer.cachedSphericalIvf(e, key, 16, 64, 2)
      val means = cachedCellMeans(e, key, cbIvf)
      val wCell = Window.partitionBy(col("cell"))
        .orderBy(col("d2").desc, col("vec_id"))
      val wCnt = Window.partitionBy(col("cell"))
      embedOutlierScores(e, cbIvf, means)
        .withColumn("rk", row_number().over(wCell))
        .withColumn("n", count(lit(1)).over(wCnt))
        .select(col("vec_id"), col("cell"),
          round(col("d2"), 4).as("dist2"),
          (col("rk") * 20 <= col("n")).as("is_outlier"))
        .orderBy(col("vec_id"))
    },

    // ------------------------------------------- semantic dedup (SemDeDup)
    // Cluster-locality semantic dedup (Abbas et al. 2023, SemDeDup:
    // k-means-cluster the embeddings, then prune near-duplicates
    // WITHIN each cluster only) — the published curation technique the
    // LSH-based q_dedup_embed family approximates from the other
    // direction. Both blocking structures bound the pair mass without
    // an all-pairs stage, but they differ in what they can miss and
    // how they scale: sign-LSH's random hyperplanes admit any pair
    // with band-collision probability rising in cosine (recall decays
    // smoothly, corpus-independent), while SemDeDup's learned
    // partition compares ONLY same-cell pairs (a near-dup pair
    // straddling a k-means boundary is invisible — the paper's
    // accepted approximation) and in exchange is embarrassingly
    // parallel: one equi-join on the cell id, per-cell pair mass
    // Σ|cell|², bounded by training k ∝ corpus (the paper runs k=50k
    // at 5B docs; the trainer's k is that dial — the serve plan is
    // identical at any k). Keep rule: the paper iterates each cluster
    // sequentially keeping the first non-duplicate encountered; the
    // deterministic parallel form of that convention is the engine's
    // encounter-order rule (operators/FirstWins.scala) — a vector is
    // pruned iff SOME lower-id same-cell vector sits within the
    // threshold, which needs no sequential scan and no closure (cf.
    // q_dedup_embed_clusters, which builds the transitive closure
    // instead of a per-cell verdict). Centroids are the SAME trained
    // spherical-k-means codebook q_ann_ivf_trained serves from
    // (cachedSphericalIvf — training is cross-engine deterministic),
    // so the oracle re-derives them with the unrolled iteration CTEs
    // and the whole verdict, assignment included, hash-matches.
    GraftQuery("q_dedup_semantic", semanticSql) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val cb = graft.operators.CodebookTrainer.cachedSphericalIvf(
        e, corpusKey(s, dir), 16, 64, 2)
      semanticPipeline(e, cb, 0.4)
    },

    // --------------------------------------- incremental semantic dedup
    // SemDeDup as CONTINUOUSLY-MAINTAINED state — the embedding
    // verdict's maintenance path, joining the incremental family. The
    // stored state is the cell-partitioned member table (vec_id, cell,
    // norm, vector): arriving batches append exactly-once
    // ([[appendToCellsIdempotent]] — assignment against the FIXED
    // trained codebook is scan-stage, the codebook discipline the
    // stored-codes family established), and each batch's verdicts
    // derive from the stored table at |batch| × |touched cells|
    // (partition-pruned to the ≤k cells the batch lands in) — the
    // corpus is never re-self-joined and pre-existing docs' verdicts
    // are never recomputed. The fold is EXACT under id-monotone
    // arrival (the file stream's delivery order): a doc's verdict
    // depends only on LOWER-id same-cell members, all of which are
    // already stored when its batch lands — so the gate splits the
    // corpus into id-ordered halves (parity splits, which the
    // pair-symmetric span/cluster gates use, would let a later batch
    // hold a LOWER id than an earlier doc and the early verdict would
    // miss it). Checked against the SAME one-shot SQL as
    // q_dedup_semantic: "incremental fold == one-shot verdict".
    GraftQuery("q_dedup_semantic_incr", semanticSql) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val cb = graft.operators.CodebookTrainer.cachedSphericalIvf(
        e, corpusKey(s, dir), 16, 64, 2)
      val out = Tables.memoizedParquet(storedSemanticIncr,
        corpusKey(s, dir) + "|semincr", "graft-sem-incr") { out =>
        val cellsDir = s"$out/cells"
        val verdictsDir = s"$out/verdicts"
        val mid = e.agg(max(col("vec_id"))).head.getLong(0) / 2
        val b0 = e.filter(col("vec_id") <= mid)
        val b1 = e.filter(col("vec_id") > mid)
        appendToCellsIdempotent(b0, cellsDir, 0L, cb)
        batchSemanticVerdicts(s, cellsDir, b0, cb, 0.4)
          .write.mode("append").parquet(verdictsDir)
        appendToCellsIdempotent(b1, cellsDir, 1L, cb)
        // mid-lifecycle compaction: batch-1 verdicts must read the
        // same rows through the rewritten file tier
        compactCellsMinor(s, cellsDir)
        batchSemanticVerdicts(s, cellsDir, b1, cb, 0.4)
          .write.mode("append").parquet(verdictsDir); ()
      }
      Tables.parquetCachedSchema(s, s"$out/verdicts")
        .select(col("vec_id"), col("cell"), col("keep"))
        .orderBy(col("vec_id"))
    })

  /** q_dedup_semantic's DuckDB mirror — the full verdict from scratch,
    * trained-centroid derivation included (unrolled k-means CTEs, the
    * q_ann_*_trained discipline); shared verbatim by
    * q_dedup_semantic_incr (one oracle text per result relation).
    */
  private def semanticSql: String =
    s"""WITH e AS ($embDoubleSql),
       |qz AS (SELECT vec_id, v,
       |        [CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) FOR x IN v] AS qv
       |       FROM e),
       |${fpIvfInitSql()},
       |${kmeansIterSql(1, "c0")},
       |${kmeansIterSql(2, "c1")},
       |n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
       |sasg AS (SELECT n.vec_id, n.v, n.nrm, c.c_id,
       |           row_number() OVER (PARTITION BY n.vec_id
       |             ORDER BY ${dotSql("n.v", "c.cv")} DESC, c.c_id) AS rk
       |         FROM n, c2 c),
       |scell AS (SELECT vec_id, v, nrm, c_id AS cell FROM sasg WHERE rk = 1),
       |sp AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |       FROM scell a JOIN scell b
       |         ON a.cell = b.cell AND a.vec_id < b.vec_id
       |       WHERE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.4)
       |SELECT c.vec_id, CAST(c.cell AS INTEGER) AS cell,
       |  CAST(c.vec_id NOT IN (SELECT id_b FROM sp) AS INTEGER) AS keep
       |FROM scell c ORDER BY c.vec_id""".stripMargin

  /** The one-shot SemDeDup verdict: scan-stage cell assignment, ONE
    * within-cell equi-join, encounter-order keep rule. Shared by
    * q_dedup_semantic and SemanticIncrementalSpec's one-shot side.
    */
  private[graft] def semanticPipeline(
      e: DataFrame, cb: Array[Double], threshold: Double): DataFrame = {
    // ONE corpus scan carries (vector, norm, cell) — assignment is
    // the scan-stage argmax-dot kernel, exactly q_ann_ivf's shape
    val asg = e.select(col("vec_id"), embNN.as("v"),
      l2Norm(embNN).as("nrm"),
      PqExpressions.nearestCell(embNN, cb, 64).as("cell"))
    val pruned = asg.select(col("cell").as("cell_a"),
        col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
      .join(asg.select(col("cell").as("cell_b"), col("vec_id").as("id_b"),
        col("v").as("vb"), col("nrm").as("nb")),
        col("cell_a") === col("cell_b") && col("id_a") < col("id_b"))
      .filter(dot(col("va"), col("vb")) / (col("na") * col("nb"))
        >= threshold)
      .select(col("id_b").as("rid")).distinct()
    asg.join(pruned, col("vec_id") === col("rid"), "left")
      .select(col("vec_id"), col("cell").cast(IntegerType).as("cell"),
        col("rid").isNull.cast(IntegerType).as("keep"))
      .orderBy(col("vec_id"))
  }

  /** A batch's cell-table rows against the FIXED trained codebook —
    * the scan-stage projection both the append and the verdict probe
    * share.
    */
  private def cellRows(batch: DataFrame, cb: Array[Double]): DataFrame =
    batch.select(col("vec_id"),
      PqExpressions.nearestCell(embNN, cb, 64).cast(IntegerType).as("cell"),
      l2Norm(embNN).as("nrm"), embNN.as("v"))

  /** Exactly-once append of a batch's members into the cell-partitioned
    * table (hive partition = cell id, so a batch's verdict probe
    * partition-prunes to the ≤k cells it touches; files sorted by
    * vec_id inside each cell).
    */
  def appendToCellsIdempotent(
      batch: DataFrame, cellsDir: String, batchId: Long,
      cb: Array[Double]): Unit = {
    val s = batch.sparkSession
    // ID-MONOTONICITY GUARD. The semantic fold's exactness contract is
    // id-monotone batch arrival (batchSemanticVerdicts: a verdict
    // depends only on LOWER-id same-cell members, all stored by the
    // time its batch lands). An out-of-order batch would not fail —
    // it would silently produce verdicts that can never see the late
    // lower-id neighbor, the silent-wrong-results class the layout
    // pins guard against elsewhere — so the broken invariant fails
    // loudly here instead (round-12; the loud-guard convention). Each
    // ack marker carries its batch's max vec_id (committed atomically
    // WITH the ack — see appendIdempotent's markerNote), and a
    // non-replay batch whose min id does not exceed the max acked note
    // is rejected. Markers without a parsable note (pre-guard tables)
    // fall back to the true stored max via one column-pruned scan.
    // replays skip the guard (and its batch agg): the marker already
    // exists, so appendIdempotent no-ops and never evaluates the note
    val mm =
      if (graft.sinks.IncrementalParquet.acked(s, cellsDir, batchId)) None
      else {
        val r = batch.agg(
          min(col("vec_id")).as("mn"), max(col("vec_id")).as("mx")).head
        if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
      }
    mm.foreach { case (bMin, _) =>
      val (wm, allParsed) =
        graft.sinks.IncrementalParquet.ackedNoteWatermark(s, cellsDir)
      val storedMax =
        if (allParsed) wm
        else Tables.parquetCachedSchema(s, cellsDir).agg(max(col("vec_id")))
          .head.getAs[Any](0) match {
            case null => None
            case v: Long => Some(v)
          }
      storedMax.filter(_ >= bMin).foreach { w =>
        throw new IllegalStateException(
          s"out-of-order semantic batch b$batchId: min vec_id $bMin " +
            s"<= stored watermark $w in $cellsDir — the incremental " +
            "fold is exact only under id-monotone arrival; recompute " +
            "via the one-shot semanticPipeline instead")
      }
    }
    // an EMPTY batch's note is Long.MinValue: parsable (so it never
    // degrades later guards to the fallback scan) and floor-valued (so
    // it never raises the watermark)
    graft.sinks.IncrementalParquet.appendIdempotent(
      s, cellsDir, "cell", batchId, Seq("vec_id"),
      markerNote = mm.map(_._2).getOrElse(Long.MinValue).toString)(
      cellRows(batch, cb))
  }

  /** Minor compaction of the cell table (row-identity — no merge). */
  def compactCellsMinor(s: SparkSession, cellsDir: String): Int =
    graft.sinks.IncrementalParquet.compactMinor(s, cellsDir, "cell")

  /** The arriving batch's SemDeDup verdicts against the stored cell
    * table (which must already contain the batch — append first): a
    * batch vector is pruned iff SOME lower-id member of its cell sits
    * within the threshold. Cost |batch| × |touched cells' members|:
    * the stored read partition-prunes to the batch's ≤k cell ids
    * (collected driver-side — bounded by the codebook size, not the
    * data), and nothing outside the batch is re-verdicted.
    */
  private[graft] def batchSemanticVerdicts(
      s: SparkSession, cellsDir: String, batch: DataFrame,
      cb: Array[Double], threshold: Double): DataFrame = {
    val b = cellRows(batch, cb)
    val cells = b.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val stored = Tables.parquetCachedSchema(s, cellsDir)
      .filter(col("cell").isin(cells: _*))
      .select(col("cell").as("cell_a"), col("vec_id").as("id_a"),
        col("v").as("va"), col("nrm").as("na"))
    val pruned = stored
      .join(b.select(col("cell").as("cell_b"), col("vec_id").as("id_b"),
        col("v").as("vb"), col("nrm").as("nb")),
        col("cell_a") === col("cell_b") && col("id_a") < col("id_b"))
      .filter(dot(col("va"), col("vb")) / (col("na") * col("nb"))
        >= threshold)
      .select(col("id_b").as("rid")).distinct()
    b.join(pruned, col("vec_id") === col("rid"), "left")
      .select(col("vec_id"), col("cell"),
        col("rid").isNull.cast(IntegerType).as("keep"))
  }

  private val storedSemanticIncr =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
}
