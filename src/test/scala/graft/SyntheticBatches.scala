package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic synthetic batches for the incremental-maintenance
  * specs: splitmix-derived token soups and vectors whose later batches
  * carry near-copies of batch 0, so every batch after the first yields
  * real cross-batch pairs. The same generators fed the 8-, 16- and
  * 32-batch maintenance series in SCALING.md ("Measured: per-batch
  * maintenance cost as the corpus grows behind it" and the round-8/9
  * series after it).
  *
  * LEXICAL docs are 40 tokens from a 50k vocab. Every 7th doc of a
  * batch > 0 is a near-copy of its same-offset doc in batch 0 with 2 of
  * 40 tokens replaced (post-shingling Jaccard ≈ 0.8, well above the 0.5
  * verify bar), so a fold must MERGE into clusters discovered by
  * earlier batches, not just label fresh nodes.
  *
  * EMBED vectors are 64-dim floats; every 7th vector of batches > 0 is
  * its batch-0 same-offset vector with one coordinate nudged
  * (cosine ≈ 0.999), so the embedding fold merges cross-batch clusters
  * the same way.
  */
object SyntheticBatches {

  private def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Batch `b` of `m` docs: doc_id = b*m+k. Token j of a base doc is
    * `w<mix(id-seed)>`; a near-copy doc reuses the BATCH-0 same-offset
    * doc's seeds except tokens 0 and 20. Copies must reference a BASE
    * doc (one whose displayed tokens are its own seeds): copying the
    * previous batch's doc by id-seed would reproduce tokens a chained
    * copy does not actually display, yielding zero true pairs.
    */
  def batchDocs(spark: SparkSession, b: Long, m: Long): DataFrame = {
    import spark.implicits._
    (0L until m).map { k =>
      val id = b * m + k
      val copyOf = if (b > 0 && k % 7 == 0) k else id // batch-0 base
      val text = (0 until 40).map { j =>
        val seed =
          if (copyOf != id && j != 0 && j != 20) mix(copyOf * 97 + j)
          else mix(id * 97 + j)
        s"w${math.floorMod(seed, 50000)}"
      }.mkString(" ")
      (id, text)
    }.toDF("doc_id", "text")
  }

  /** Batch `b` of `m` docs with ZIPF-drawn tokens (p(rank) ∝ 1/rank
    * over a 10k vocab via log-uniform inverse CDF) — the count-table
    * corpus. [[batchDocs]]' near-copy corpus draws ~uniform over 50k
    * seeds, so its bigrams are mostly unique and a count-merge would
    * be vacuous; natural text is Zipfian, which is exactly what makes
    * the maintained count table sublinear in the corpus (Heaps' law)
    * and the sum-merge collapse real.
    */
  def batchZipfDocs(spark: SparkSession, b: Long, m: Long): DataFrame = {
    import spark.implicits._
    val lnV = math.log(10000.0)
    (0L until m).map { k =>
      val id = b * m + k
      val text = (0 until 40).map { j =>
        val u = math.floorMod(mix(id * 97 + j), 1000000) / 1000000.0
        val rank = math.min(9999L, math.exp(u * lnV).toLong)
        s"z$rank"
      }.mkString(" ")
      (id, text)
    }.toDF("doc_id", "text")
  }

  /** Batch `b` of `m` 64-dim vectors, embedding mirror of [[batchDocs]]:
    * near-copies perturb ONE coordinate of their batch-0 base by +0.05
    * (cosine stays ≈ 1), everything else is independent splitmix noise.
    *
    * Random 64-dim cosines are ~N(0, 1/64), so the catalog's 0.4
    * threshold is only a 3.2σ cut and its labels graph percolates over
    * many batches of this corpus (SCALING.md round 8, "the 16-batch
    * series, flattened"); the maintenance series over it ran at
    * threshold 0.8 with 4×16-bit bands.
    */
  def batchVecs(spark: SparkSession, b: Long, m: Long): DataFrame = {
    import spark.implicits._
    (0L until m).map { k =>
      val id = b * m + k
      val copyOf = if (b > 0 && k % 7 == 0) k else id
      val v = Array.tabulate(64) { j =>
        // uniform in [-1, 1) from the base vector's seed
        (math.floorMod(mix(copyOf * 131 + j), 1000000) / 500000f) - 1f
      }
      if (copyOf != id) v(b.toInt % 64) += 0.05f
      (id, v.toSeq)
    }.toDF("vec_id", "embedding")
  }
}
