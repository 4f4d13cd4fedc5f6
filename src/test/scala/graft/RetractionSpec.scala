package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analytics.TextQueries

/** The deletion lifecycle's SEMIGROUP arm (count retraction): negative
  * deltas ride the ordinary exactly-once append protocol under the
  * NEGATIVE batch-id space ([[graft.sinks.IncrementalParquet
  * .retractionBatchId]]). Pins what the q_top_terms_deleted /
  * q_lm_score_deleted oracle hashes cannot see in isolation: the
  * ingest and retraction id spaces never collide (ingest batch 7 and
  * retraction batch 7 coexist, and each replays as its own no-op), the
  * serve nets retractions out BEFORE any compaction runs, and a
  * compaction firing folds a fully-retracted term out of the table
  * PHYSICALLY — the GDPR property: after compact, the bytes carry no
  * evidence the deleted doc's unique terms were ever ingested.
  */
class RetractionSpec extends SparkSpec {

  private def dfOf(docs: DataFrame): Map[String, Long] =
    docs.select(col("doc_id"), explode(
        graft.functions.TextFunctions.tokens(lower(col("text")))).as("term"))
      .distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("term-stats retraction: serve == recompute over survivors from " +
      "the moment the batch acks; ingest and retraction batch ids " +
      "never collide; each replays as its own no-op; compaction folds " +
      "a fully-retracted term out of the bytes") {
    withTempDir { root =>
      val dfDir = root.resolve("df").toString
      val cntDir = root.resolve("cnt").toString
      val b0 = SyntheticBatches.batchDocs(spark, 0, 40)
      val b1 = SyntheticBatches.batchDocs(spark, 1, 40)
      TextQueries.appendToTermStatsIdempotent(b0, dfDir, cntDir, 0L)
      TextQueries.appendToTermStatsIdempotent(b1, dfDir, cntDir, 1L)

      val deleted = b0.filter(pmod(col("doc_id"), lit(5)) === 2)
      val survivors = b0.filter(pmod(col("doc_id"), lit(5)) =!= 2).union(b1)
      // retraction batch id 0 must NOT collide with ingest batch id 0
      TextQueries.retractFromTermStatsIdempotent(deleted, dfDir, cntDir, 0L)

      def served(): (Map[String, Long], Long) = {
        val (dfT, n) = TextQueries.termStatsFromStored(spark, dfDir, cntDir)
        (dfT.collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
          n.head.getLong(0))
      }
      val (dfServed, nServed) = served()
      assert(nServed == survivors.count(), "doc count did not retract")
      assert(dfServed == dfOf(survivors),
        "served df drifted from the surviving-corpus recompute")

      // replay the retraction with DIFFERENT content: no-op
      TextQueries.retractFromTermStatsIdempotent(
        b1.limit(3), dfDir, cntDir, 0L)
      assert(served() == ((dfServed, nServed)),
        "replayed retraction batch mutated the state")
      // replay the INGEST batch that shares the numeric id: also a
      // no-op (the id spaces are disjoint, so each ack guards its own)
      TextQueries.appendToTermStatsIdempotent(b0, dfDir, cntDir, 0L)
      assert(served() == ((dfServed, nServed)),
        "replayed ingest batch mutated the state after a retraction " +
          "with the same numeric id")

      // a term unique to a deleted doc: present in the raw bytes as
      // (+1, -1) rows pre-compact, GONE physically post-compact
      val uniqueTerm = (dfOf(b0.union(b1)).keySet -- dfOf(survivors).keySet)
        .headOption.getOrElse(fail("probe corpus gave no unique term"))
      def rawRows(term: String): Long =
        spark.read.parquet(dfDir).filter(col("term") === term).count()
      assert(rawRows(uniqueTerm) == 2L,
        "expected the +1/-1 delta pair before compaction")
      TextQueries.compactTermStatsMinor(spark, dfDir, cntDir)
      assert(rawRows(uniqueTerm) == 0L,
        "compaction must fold a fully-retracted term out of the bytes")
      assert(served() == ((dfServed, nServed)),
        "compaction changed the served state")
    }
  }

  test("LM-model retraction: reconstructed model == one-shot retrain " +
      "on the survivors (c12, c1 and v all retract); replay is a no-op") {
    withTempDir { root =>
      val bgDir = root.resolve("bg").toString
      val uniDir = root.resolve("uni").toString
      val b0 = SyntheticBatches.batchZipfDocs(spark, 0, 60)
      val b1 = SyntheticBatches.batchZipfDocs(spark, 1, 60)
      TextQueries.appendToLmModelIdempotent(b0, bgDir, uniDir, 0L)
      TextQueries.appendToLmModelIdempotent(b1, bgDir, uniDir, 1L)
      val deleted = b0.filter(pmod(col("doc_id"), lit(4)) === 1)
      val survivors = b0.filter(pmod(col("doc_id"), lit(4)) =!= 1).union(b1)
      TextQueries.retractFromLmModelIdempotent(deleted, bgDir, uniDir, 0L)

      def modelRows(df: DataFrame): Set[(String, String, Long, Long, Long)] =
        df.collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      val reconstructed =
        modelRows(TextQueries.lmModelFromStored(spark, bgDir, uniDir))
      val retrained = modelRows(TextQueries.trainLmModel(survivors))
      assert(reconstructed == retrained,
        "retracted model drifted from a full retrain on the survivors")

      TextQueries.retractFromLmModelIdempotent(
        b1.limit(2), bgDir, uniDir, 0L)
      assert(modelRows(TextQueries.lmModelFromStored(spark, bgDir, uniDir))
        == retrained, "replayed retraction mutated the model")

      TextQueries.compactLmModelMinor(spark, bgDir, uniDir)
      assert(modelRows(TextQueries.lmModelFromStored(spark, bgDir, uniDir))
        == retrained, "merge-compaction changed the reconstructed model")
    }
  }
}
