package graft

/** Semantic quality of the ANN catalog queries against brute-force
  * ground truth: bucketed variants trade recall for candidate-set size
  * by DESIGN, but the multiband union must dominate the single-band
  * bucket, and every approximate hit must be a true neighbor-ranked
  * result (the verify stage is exact cosine, so reported cosines are
  * exact — only the candidate horizon is approximate).
  */
class AnnRecallSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  private def top3(name: String): Map[Long, Set[Long]] =
    SparkEntry.queries(name)(spark, dir)
      .select("q_id", "n_id").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  test("multiband union recall >= single-band bucket recall vs brute force") {
    val exact = top3("q_ann_bruteforce") // top-10 per query, queries 0-4
    val single = top3("q_ann_lsh")       // queries 0-19
    val multi = top3("q_ann_multiband")  // queries 0-19

    // restrict to the brute-force query set; ground truth = its top-10
    val qs = exact.keySet
    def recall(approx: Map[Long, Set[Long]]): Double = {
      val hits = qs.toSeq.map { q =>
        approx.getOrElse(q, Set.empty).count(exact(q).contains).toDouble /
          math.min(3, exact(q).size)
      }
      hits.sum / hits.size
    }
    val rSingle = recall(single)
    val rMulti = recall(multi)
    assert(rMulti >= rSingle,
      s"multiband recall $rMulti < single-band $rSingle")
    assert(rMulti > 0.0, "multiband found nothing from the true top-10")
  }

  test("int8-quantized candidate cut preserves the exact top neighbors") {
    val exact = top3("q_ann_bruteforce") // exact top-10, queries 0-4
    val int8 = top3("q_ann_int8")        // queries 0-9, top-3 of int-dot top-8
    val qs = exact.keySet
    // int8 quantizes 64-dim unit vectors to ±127 codes — fidelity is
    // high enough that the top-3 after the integer cut should land in
    // the exact top-10 essentially always
    val hits = qs.toSeq.map(q => int8(q).count(exact(q).contains))
    val recall = hits.sum.toDouble / (3.0 * qs.size)
    assert(recall >= 0.8, s"int8 top-3-in-exact-top-10 recall $recall, hits=$hits")
  }

  test("PQ/ADC candidate cut finds true neighbors (crude pinned codebook)") {
    val exact = top3("q_ann_bruteforce")
    val pq = top3("q_ann_pq")
    val qs = exact.keySet
    // 16 pinned (non-k-means) centroids per subspace quantize coarsely
    // by design — the floor is deliberately below int8's (measured ~0.8
    // at sf0.001); what matters is the ADC cut still surfaces true
    // neighbors and the exact re-rank reports exact cosines
    val hits = qs.toSeq.map(q => pq(q).count(exact(q).contains))
    val recall = hits.sum.toDouble / (3.0 * qs.size)
    assert(recall >= 0.5, s"pq top-3-in-exact-top-10 recall $recall, hits=$hits")
  }

  test("trained PQ sub-quantizers lift ADC recall to >= 0.9") {
    import graft.core.Tables
    import graft.operators.CodebookTrainer
    val e = Tables.load(spark, dir, "embeddings")
    val cb = CodebookTrainer.trainPq(e, 8, 8, 16, 2)
    val exact = top3("q_ann_bruteforce")
    val trained = graft.analytics.SimilarityQueries.pqPipeline(e, cb, 10)
      .select("q_id", "n_id").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val qs = exact.keySet
    val hits = qs.toSeq.map(q => trained.getOrElse(q, Set.empty[Long])
      .count(exact(q).contains))
    val recall = hits.sum.toDouble / (3.0 * qs.size)
    // farthest-point seeding lifted this floor from 0.8 (first-k seeds
    // all land in the same dense lump on clustered data; spread seeds
    // don't) — measured 0.933 at sf0.01
    assert(recall >= 0.9,
      s"trained-pq top-3-in-exact-top-10 recall $recall, hits=$hits")
  }

  test("trained IVF keeps recall high while balancing the cells") {
    import graft.core.Tables
    import graft.expressions.PqExpressions
    import graft.operators.CodebookTrainer
    import org.apache.spark.sql.functions._
    val exact = top3("q_ann_bruteforce")
    val trainedQ = top3("q_ann_ivf_trained")
    val qs = exact.keySet
    def recall(m: Map[Long, Set[Long]]): Double =
      qs.toSeq.map(q => m.getOrElse(q, Set.empty[Long])
        .count(exact(q).contains)).sum.toDouble / (3.0 * qs.size)
    // NOTE recall at fixed nprobe is NOT the trained index's win — a
    // lopsided pinned codebook funnels most of the corpus into a few
    // cells, so probing 2 of them is near-brute-force: recall 1.0 at
    // ~full scan cost. What training buys at 100 TB is BOUNDED per-cell
    // scan cost with recall still high. Assert both halves.
    val rt = recall(trainedQ)
    assert(rt >= 0.8, s"trained IVF recall $rt under the 0.8 floor")

    val e = Tables.load(spark, dir, "embeddings")
    val emb = coalesce(col("embedding"), typedlit(Array.empty[Float]))
    def maxCellFraction(cb: Array[Double]): Double = {
      val sizes = e.groupBy(PqExpressions.nearestCell(emb, cb, 64).as("cell"))
        .count().collect().map(_.getLong(1))
      sizes.max.toDouble / sizes.sum
    }
    val pinnedFrac = maxCellFraction(
      CodebookTrainer.initCodebook(e, 16, normalize = false))
    val trainedFrac = maxCellFraction(
      CodebookTrainer.trainSphericalIvf(e, 16, 64, 2))
    assert(trainedFrac < pinnedFrac,
      s"training did not balance cells: max cell $trainedFrac vs pinned $pinnedFrac")
  }

  test("residual IVF-ADC is non-inferior to raw-vector trained IVF-PQ") {
    import graft.core.Tables
    import graft.operators.CodebookTrainer
    import graft.analytics.SimilarityQueries
    val e = Tables.load(spark, dir, "embeddings")
    val cbIvf = CodebookTrainer.trainSphericalIvf(e, 16, 64, 2)
    def top3Of(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("q_id", "n_id").collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val exact = top3("q_ann_bruteforce")
    val qs = exact.keySet
    def recall(m: Map[Long, Set[Long]]): Double =
      qs.toSeq.map(q => m.getOrElse(q, Set.empty[Long])
        .count(exact(q).contains)).sum.toDouble / (3.0 * qs.size)
    // raw-vector trained IVF-PQ (the q_ann_ivfpq_trained composition)
    val cbPqRaw = CodebookTrainer.trainPq(e, 8, 8, 16, 2)
    val rRaw = recall(top3Of(
      SimilarityQueries.ivfPqPipeline(e, cbIvf, cbPqRaw, 10)))
    // residual IVF-ADC: sub-quantizers trained on v − centroid(cell),
    // ADC over cell-relative residuals on both sides
    val means = SimilarityQueries.cellMeans(e, cbIvf)
    val cbPqRes = CodebookTrainer.trainPq(
      SimilarityQueries.residualFrame(e, cbIvf, means), 8, 8, 16, 2)
    val rRes = recall(top3Of(
      SimilarityQueries.ivfPqResidualPipeline(e, cbIvf, means, cbPqRes, 10)))
    info(s"recall raw=$rRaw residual=$rRes")
    // On this near-uniform synthetic sphere the cell means sit near
    // the origin, so residual ≈ raw and BOTH measure 0.667 — the
    // recall here is bounded by nprobe=2 cell pruning, not by
    // quantization (the paper's residual gains come from CLUSTERED
    // data, where means are far from zero and residual variance is
    // genuinely smaller). The pinned claim is therefore
    // non-inferiority at matched candidate budget — the spec's job is
    // to catch a residual-arithmetic bug (a mismatched cell reference
    // between the encode and probe sides collapses recall toward 0;
    // the first implementation's unit-normalized references measured
    // 0.53), not to manufacture a win the data cannot show.
    assert(rRes >= rRaw - 0.05,
      s"residual recall $rRes under raw $rRaw — cell-reference mismatch?")
    assert(rRes >= 0.6, s"residual IVF-ADC recall $rRes under 0.6")
  }

  test("filtered serve from codes: the filter precedes the ADC budget — " +
      "every result qualifies, recall vs exact filtered search holds") {
    import graft.core.Tables
    import graft.operators.CodebookTrainer
    import graft.analytics.SimilarityQueries
    import org.apache.spark.sql.functions._
    val e = Tables.load(spark, dir, "embeddings")
    val key = Tables.derivedStateKey(spark, dir, "embeddings")
    val cbIvf = CodebookTrainer.cachedSphericalIvf(e, key, 16, 64, 2)
    val cbPq = CodebookTrainer.cachedPq(e, key, 8, 8, 16, 2)
    val codes = SimilarityQueries.codesTable(e, cbIvf, cbPq)
    val allowed = Tables.load(spark, dir, "documents")
      .filter(col("lang") === "en").select(col("doc_id"))
    // probe-widening: the filter keeps s ≈ 0.44 of the corpus, so the
    // filtered serve widens BOTH dials by 1/s — more cells probed
    // (nprobe, the horizon) AND a larger ADC candidate budget (topC:
    // the 2026-08 sweep showed recall PEAKS then falls when nprobe
    // grows alone — extra cells' candidates crowd a fixed top-8 out
    // through quantization noise; nprobe=8..12 × topC=24 measured
    // 0.73–0.77 vs 0.37 at the unfiltered defaults, SCALING.md round 13
    // "Filtered (hybrid) search")
    val s = allowed.count().toDouble / e.count().toDouble
    val nprobe = math.min(16, math.ceil(4.0 / s).toInt)
    val served = SimilarityQueries.filteredServeFromCodes(
      e, codes, allowed, cbIvf, cbPq, 10, nprobe, topC = 24)
      .select("q_id", "n_id").collect()
    // the filter is exact BY CONSTRUCTION (semi-join on the codes side,
    // upstream of the top-C cut) — a leak here means the join moved
    // above the budget boundary
    val allowedSet = allowed.collect().map(_.getLong(0)).toSet
    assert(served.nonEmpty)
    assert(served.forall(r => allowedSet.contains(r.getLong(1))),
      "an unfiltered candidate leaked through the semi-join")
    // recall vs the exact pre-filtered search (q_ann_filtered): the
    // only gap is the nprobe=2 cell horizon, same as the unfiltered
    // trained family — NOT a post-filter budget loss
    val exact = top3("q_ann_filtered")
    val approx = served.groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val qs = exact.keySet
    val recall = qs.toSeq.map(q => approx.getOrElse(q, Set.empty[Long])
      .count(exact(q).contains)).sum.toDouble / (3.0 * qs.size)
    info(s"filtered-from-codes recall $recall (nprobe=$nprobe, topC=24)")
    assert(recall >= 0.7, s"filtered-from-codes recall $recall under 0.7")
  }

  test("frozen-codebook staleness: an index trained on half the corpus " +
      "serves the doubled corpus without losing recall") {
    // The continuous-ingest reality: codebooks train ONCE, then
    // appendToCodes encodes every later arrival with the FROZEN books
    // (retraining would invalidate all stored codes). Under a
    // stationary distribution the stale quantizer is as good as a
    // fresh one — that is the property that makes freeze-and-append
    // sound, and the one a DRIFTING distribution would break (the
    // operational answer there is distribution monitoring + a staged
    // index rebuild, not per-batch retraining).
    import graft.core.Tables
    import graft.operators.CodebookTrainer
    import graft.analytics.SimilarityQueries
    import org.apache.spark.sql.functions._
    val e = Tables.load(spark, dir, "embeddings")
    val exact = top3("q_ann_bruteforce")
    def recallOf(cbIvf: Array[Double], cbPq: Array[Double]): Double = {
      val codes = SimilarityQueries.codesTable(e, cbIvf, cbPq)
      val served = SimilarityQueries
        .ivfPqServeFromCodes(e, codes, cbIvf, cbPq, 5)
        .select("q_id", "n_id").collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val qs = exact.keySet
      qs.toSeq.map(q => served.getOrElse(q, Set.empty[Long])
        .count(exact(q).contains)).sum.toDouble / (3.0 * qs.size)
    }
    val fresh = recallOf(
      CodebookTrainer.trainSphericalIvf(e, 16, 64, 2),
      CodebookTrainer.trainPq(e, 8, 8, 16, 2))
    val half = e.filter(pmod(col("vec_id"), lit(2)) === 0)
    val stale = recallOf(
      CodebookTrainer.trainSphericalIvf(half, 16, 64, 2),
      CodebookTrainer.trainPq(half, 8, 8, 16, 2))
    info(s"recall fresh=$fresh stale(trained on half)=$stale")
    assert(stale >= fresh - 0.1,
      s"half-corpus-trained books lost recall: $stale vs fresh $fresh")
    assert(stale >= 0.5, s"stale-book recall $stale under 0.5")
  }
}
