package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.analytics.TextQueries
import graft.streaming.StreamingPipeline

/** Continuous LM-model maintenance (round 11) — MODEL state joining
  * the incremental family, and the first user of aggregate-on-compact:
  * streamed document batches append bigram/unigram count DELTAS
  * exactly-once, minor compaction SUM-MERGES the tiers, and the
  * reconstructed model is bit-identical to a one-shot retrain at every
  * trigger boundary (counts are a semigroup over disjoint batches).
  * SyntheticBatches' near-copy corpus gives real cross-batch shared
  * bigrams, so merging genuinely adds counts across tiers.
  */
class LmIncrementalSpec extends SparkSpec {

  private def modelSet(df: DataFrame): Set[(String, String, Long, Long, Long)] =
    df.select(col("bigram"), col("w1"), col("c12"), col("c1"), col("v"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet

  private def scoreSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("doc_id"), col("n_bigrams"), col("bits_per_bigram"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("streamed count deltas + merge-compaction == one-shot retrain, to the bit") {
    withTempDir { root =>
      val incoming = Files.createDirectory(root.resolve("incoming"))
      val bg = root.resolve("bg").toString
      val uni = root.resolve("uni").toString
      val ckpt = root.resolve("ckpt").toString
      val b0 = SyntheticBatches.batchDocs(spark, 0, 120)
      val b1 = SyntheticBatches.batchDocs(spark, 1, 120)

      land(b0, incoming, "b0.parquet")
      StreamingPipeline.startLmIngest(
        spark, incoming.toString, bg, uni, ckpt, Trigger.AvailableNow())
        .awaitTermination(120000)
      // trigger-boundary identity after batch 0 alone
      assert(modelSet(TextQueries.lmModelFromStored(spark, bg, uni)) ==
        modelSet(TextQueries.trainLmModel(b0)),
        "stored model after batch 0 drifted from a one-shot retrain")

      land(b1, incoming, "b1.parquet")
      // compactEvery = 1: the sum-merge firing runs mid-stream
      StreamingPipeline.startLmIngest(
        spark, incoming.toString, bg, uni, ckpt, Trigger.AvailableNow(),
        compactEvery = 1).awaitTermination(120000)

      val union = b0.unionByName(b1)
      val oneShot = TextQueries.trainLmModel(union)
      val stored = TextQueries.lmModelFromStored(spark, bg, uni)
      assert(modelSet(stored) == modelSet(oneShot),
        "incrementally maintained model drifted from the full retrain")

      // the near-copy corpus must actually share bigrams across
      // batches, or the sum-merge above was vacuous
      val merged = TextQueries.bigramDeltas(b0, 1)
        .select(col("bigram"))
        .intersect(TextQueries.bigramDeltas(b1, 1).select(col("bigram")))
        .count()
      assert(merged > 100, s"only $merged cross-batch bigrams — vacuous merge")

      // aggregate-on-compact really collapsed the tiers: the stored
      // bigram table holds ONE row per distinct bigram (both batch
      // tiers were absorbed through the sum-merge), not one per
      // (batch, bigram)
      val storedRows = spark.read.parquet(bg).count()
      val distinctBigrams = oneShot.count()
      assert(storedRows == distinctBigrams,
        s"stored bigram rows $storedRows != distinct bigrams $distinctBigrams — tiers not merged")

      // scores from the maintained model == scores from the retrain,
      // exact doubles included (integer counts -> identical logp grid)
      assert(scoreSet(TextQueries.scoreBitsPerBigram(union, stored)) ==
        scoreSet(TextQueries.scoreBitsPerBigram(union, oneShot)),
        "scoring through the maintained model diverged")

      // replay of an absorbed batch is a no-op (ack outlives absorption)
      TextQueries.appendToLmModelIdempotent(b1, bg, uni, 1L)
      assert(spark.read.parquet(bg).count() == storedRows,
        "replayed delta batch re-appended rows")
    }
  }
}
