package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.analytics.DedupQueries
import graft.streaming.StreamingPipeline

/** Continuous span-dedup maintenance (round 11) — the window-table
  * member of the incremental-index trio: streamed document batches
  * append their window fingerprints exactly-once, spans touching each
  * batch derive from the stored table, and the incremental identity
  * (base self-spans ∪ batch-touching spans == one-shot full spans)
  * holds across streaming delivery, minor compaction, and replay.
  * SyntheticBatches' deterministic near-copy corpus supplies real
  * cross-batch shared substrings (38 of 40 tokens shared ⇒ long spans).
  */
class SpanIngestSpec extends SparkSpec {

  private def spanSet(df: DataFrame): Set[(Long, Long, Long, Long, Long)] =
    df.select(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"),
        col("span_len"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet

  private def winSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.select(col("doc_id"), col("pos"), col("fp")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("streamed window batches: stored == one-shot; incremental spans == full recompute") {
    withTempDir { root =>
      val incoming = Files.createDirectory(root.resolve("incoming"))
      val win = root.resolve("win").toString
      val ckpt = root.resolve("ckpt").toString
      val b0 = SyntheticBatches.batchDocs(spark, 0, 120)
      val b1 = SyntheticBatches.batchDocs(spark, 1, 120)

      land(b0, incoming, "b0.parquet")
      StreamingPipeline.startSpanIngest(
        spark, incoming.toString, win, ckpt, Trigger.AvailableNow())
        .awaitTermination(120000)
      // base self-spans derived from the stored table BEFORE the next
      // batch lands — the maintenance ordering the lifecycle gate uses
      val baseSpans = spanSet(DedupQueries.spanPipeline(
        DedupQueries.windowsFromStored(spark, win), None))

      land(b1, incoming, "b1.parquet")
      // compactEvery = 1: the minor firing runs mid-stream; the serve
      // below must not notice
      StreamingPipeline.startSpanIngest(
        spark, incoming.toString, win, ckpt, Trigger.AvailableNow(),
        compactEvery = 1).awaitTermination(120000)

      // stored window rows == one-shot kernel pass over the union
      val union = b0.unionByName(b1)
      assert(winSet(DedupQueries.windowsFromStored(spark, win)) ==
        winSet(DedupQueries.explodedSpanWindows(union)),
        "stored window table drifted from the one-shot kernel pass")

      // incremental identity: base ∪ batch-touching == full one-shot
      val batchSpans = spanSet(DedupQueries.batchSpanPairs(spark, win, b1))
      val full = spanSet(DedupQueries.spanPipeline(
        DedupQueries.explodedSpanWindows(union), None))
      assert((baseSpans ++ batchSpans) == full,
        "incremental span fold diverged from the full recompute")
      // and the batch really contributed cross-batch spans (a near-copy
      // in b1 shares a long run with its batch-0 base)
      val crossBatch = batchSpans.exists { case (a, b, _, _, len) =>
        a < 120 && b >= 120 && len >= 8
      }
      assert(crossBatch, "no cross-batch span — corpus too easy, vacuous test")

      // probe-arm parity: the over-cap arm (collectLocal declines,
      // localCheckpoint + broadcast join, no key pruning) must agree
      // with the pushed probe — the driver-cap seam LayoutPinSpec uses
      // on the lexical/embed probes
      withoutDriverCollects(assert(spanSet(DedupQueries.batchSpanPairs(
        spark, win, b1)) == batchSpans, "span probe over-cap arm diverged"))

      // replay of an absorbed batch is a no-op (ack outlives absorption)
      val before = winSet(DedupQueries.windowsFromStored(spark, win))
      DedupQueries.appendToWindowsIdempotent(b1, win, 1L)
      assert(winSet(DedupQueries.windowsFromStored(spark, win)) == before,
        "replayed window batch re-appended rows")

      // mechanism pin: a streaming-cadence batch (< inFilterThreshold
      // distinct fingerprints) pushes its fp set to the stored window
      // scan as a REAL parquet In predicate, with the hive buckets
      // pruned at partition level — the plan shape that makes the
      // row-group-skip curve reachable (SCALING.md round 10, "Row-group
      // skipping engages as the corpus grows")
      // (ids start at 240 — past b0/b1 — so the probe models fresh
      // arrivals, though the pin is about the scan, not the rows)
      val small = SyntheticBatches.batchDocs(spark, 16, 15)
      val plan = DedupQueries.batchSpanPairs(spark, win, small)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      assert(plan.contains("PushedFilters: [In(fp"),
        "fp key set not pushed to the stored window scan:\n" + plan)
      assert("PartitionFilters: \\[[^\\]]*bkt".r.findFirstIn(plan).isDefined,
        "bucket partition pruning missing on the stored window scan:\n" + plan)
    }
  }
}
