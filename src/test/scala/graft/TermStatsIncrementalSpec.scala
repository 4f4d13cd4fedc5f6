package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.analytics.TextQueries
import graft.streaming.StreamingPipeline

/** Continuous term-statistics maintenance (round 11) — the salient-term
  * CORPUS state (document-frequency table + doc count) joining the
  * incremental family as aggregate-on-compact's second user. df is
  * additive over batches ONLY because their doc sets are disjoint (a
  * replayed doc would double-count every term it contains), so the
  * exactly-once ack is the CORRECTNESS condition here — the replay test
  * at the bottom is the load-bearing one. SyntheticBatches' near-copy
  * corpus shares most of its vocabulary across batches, so the
  * sum-merge compaction genuinely adds counts across tiers.
  */
class TermStatsIncrementalSpec extends SparkSpec {

  private def dfSet(df: DataFrame): Set[(String, Long)] =
    df.select(col("term"), col("df")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

  private def oneShotDf(docs: DataFrame): DataFrame =
    TextQueries.dfDeltas(docs, 1).select(col("term"), col("df"))

  test("streamed df deltas + merge-compaction == one-shot recount, exactly") {
    withTempDir { root =>
      val incoming = Files.createDirectory(root.resolve("incoming"))
      val dfDir = root.resolve("df").toString
      val cntDir = root.resolve("cnt").toString
      val ckpt = root.resolve("ckpt").toString
      val b0 = SyntheticBatches.batchDocs(spark, 0, 120)
      val b1 = SyntheticBatches.batchDocs(spark, 1, 120)

      land(b0, incoming, "b0.parquet")
      StreamingPipeline.startTermStatsIngest(
        spark, incoming.toString, dfDir, cntDir, ckpt, Trigger.AvailableNow())
        .awaitTermination(120000)
      // trigger-boundary identity after batch 0 alone
      val (df0, n0) = TextQueries.termStatsFromStored(spark, dfDir, cntDir)
      assert(dfSet(df0) == dfSet(oneShotDf(b0)),
        "stored df after batch 0 drifted from a one-shot recount")
      assert(n0.collect().head.getLong(0) == b0.count(),
        "stored doc count after batch 0 wrong")

      land(b1, incoming, "b1.parquet")
      // compactEvery = 1: the sum-merge firing runs mid-stream
      StreamingPipeline.startTermStatsIngest(
        spark, incoming.toString, dfDir, cntDir, ckpt, Trigger.AvailableNow(),
        compactEvery = 1).awaitTermination(120000)

      val union = b0.unionByName(b1)
      val oneShot = oneShotDf(union)
      val (stored, nStored) = TextQueries.termStatsFromStored(spark, dfDir, cntDir)
      assert(dfSet(stored) == dfSet(oneShot),
        "incrementally maintained df drifted from the full recount")
      assert(nStored.collect().head.getLong(0) == union.count(),
        "maintained doc count drifted")

      // the near-copy corpus must share terms across batches, or the
      // sum-merge above was vacuous
      val sharedTerms = TextQueries.dfDeltas(b0, 1).select(col("term"))
        .intersect(TextQueries.dfDeltas(b1, 1).select(col("term"))).count()
      assert(sharedTerms > 50, s"only $sharedTerms cross-batch terms — vacuous merge")

      // aggregate-on-compact really collapsed the tiers: one stored row
      // per distinct term, not one per (batch, term)
      val storedRows = spark.read.parquet(dfDir).count()
      val distinctTerms = oneShot.count()
      assert(storedRows == distinctTerms,
        s"stored df rows $storedRows != distinct terms $distinctTerms — tiers not merged")

      // replay of an absorbed batch is a no-op — THE correctness
      // condition for df additivity (a re-ingested doc would
      // double-count every term it contains and inflate n_docs)
      TextQueries.appendToTermStatsIdempotent(b1, dfDir, cntDir, 1L)
      val (dfAfter, nAfter) = TextQueries.termStatsFromStored(spark, dfDir, cntDir)
      assert(dfSet(dfAfter) == dfSet(oneShot),
        "replayed delta batch inflated df counts")
      assert(nAfter.collect().head.getLong(0) == union.count(),
        "replayed delta batch inflated the doc count")
    }
  }
}
