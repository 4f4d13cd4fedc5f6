package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.analytics.SimilarityQueries
import graft.streaming.StreamingPipeline

/** Continuous SemDeDup maintenance (round 11) — the semantic verdict
  * joining the incremental family. The fold is exact under id-monotone
  * arrival because a verdict depends only on LOWER-id same-cell
  * members: when a batch lands, everything below its ids is already in
  * the stored cell table. SyntheticBatches' near-copy vector corpus
  * (every 7th batch-1 vector is a batch-0 vector with one coordinate
  * nudged, cosine ≈ 0.999) forces real CROSS-BATCH prunes: batch-1
  * copies must be pruned by their batch-0 bases through the stored
  * table, not by anything in their own batch.
  */
class SemanticIncrementalSpec extends SparkSpec {

  private def verdictSet(df: DataFrame): Set[(Long, Int, Int)] =
    df.select(col("vec_id"), col("cell").cast("int"), col("keep"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet

  test("streamed cell folds == one-shot SemDeDup verdict, across compaction and replay") {
    withTempDir { root =>
      val incoming = Files.createDirectory(root.resolve("incoming"))
      val cells = root.resolve("cells").toString
      val verdicts = root.resolve("verdicts").toString
      val ckpt = root.resolve("ckpt").toString
      val b0 = SyntheticBatches.batchVecs(spark, 0, 400)
      val b1 = SyntheticBatches.batchVecs(spark, 1, 400)
      // the codebook is train-once FIXED state (the stored-codes
      // discipline): trained on the first arrival, held for the run
      val cb = graft.operators.CodebookTrainer.trainSphericalIvf(b0, 16, 64, 2)
      // random 64-dim geometry: threshold 0.8 (≈6.4σ) as the embed
      // maintenance loop runs — only planted near-copies verify
      val thr = 0.8

      land(b0, incoming, "b0.parquet")
      StreamingPipeline.startSemanticIngest(
        spark, incoming.toString, cells, verdicts, ckpt, cb, thr,
        Trigger.AvailableNow()).awaitTermination(120000)
      assert(verdictSet(spark.read.parquet(verdicts)) ==
        verdictSet(SimilarityQueries.semanticPipeline(b0, cb, thr)),
        "verdicts after batch 0 drifted from the one-shot")

      land(b1, incoming, "b1.parquet")
      // compactEvery = 1: batch-1's verdict probe reads the cell table
      // through a mid-stream rewritten file tier
      StreamingPipeline.startSemanticIngest(
        spark, incoming.toString, cells, verdicts, ckpt, cb, thr,
        Trigger.AvailableNow(), compactEvery = 1).awaitTermination(120000)

      val union = b0.unionByName(b1)
      val streamed = verdictSet(spark.read.parquet(verdicts))
      assert(streamed == verdictSet(
        SimilarityQueries.semanticPipeline(union, cb, thr)),
        "incrementally folded verdicts drifted from the one-shot")

      // the near-copy corpus must force CROSS-BATCH prunes: batch-1
      // vectors pruned by batch-0 bases through the STORED table
      val prunedB1 = streamed.count { case (id, _, keep) =>
        id >= 400 && keep == 0 }
      assert(prunedB1 > 20,
        s"only $prunedB1 batch-1 prunes — the stored-table probe was vacuous")
      // batch-0 rows keep their original verdicts (nothing re-verdicted)
      assert(streamed.count { case (id, _, _) => id < 400 } == 400)

      // replay of an absorbed batch is a no-op on both tables
      val cellRows0 = spark.read.parquet(cells).count()
      SimilarityQueries.appendToCellsIdempotent(b1, cells, 1L, cb)
      assert(spark.read.parquet(cells).count() == cellRows0,
        "replayed batch re-appended cell rows")
      graft.sinks.IncrementalParquet.appendIdempotent(
        spark, verdicts, "cell", 1L)(
        SimilarityQueries.batchSemanticVerdicts(spark, cells, b1, cb, thr))
      assert(verdictSet(spark.read.parquet(verdicts)) == streamed,
        "replayed batch re-appended verdict rows")
    }
  }

  test("out-of-order batch fails loudly instead of silently mis-verdicting") {
    withTempDir { root =>
      val cells = root.resolve("cells").toString
      val b1 = SyntheticBatches.batchVecs(spark, 1, 400) // ids 400..799
      val b0 = SyntheticBatches.batchVecs(spark, 0, 400) // ids 0..399
      val cb = graft.operators.CodebookTrainer.trainSphericalIvf(b0, 16, 64, 2)
      SimilarityQueries.appendToCellsIdempotent(b1, cells, 0L, cb)

      // a LOWER-id batch under a NEW batchId: its docs' verdicts could
      // never be seen by the already-stored higher ids — the fold's
      // exactness contract (id-monotone arrival) is broken, and the
      // guard must reject it rather than append
      val ex = intercept[IllegalStateException] {
        SimilarityQueries.appendToCellsIdempotent(b0, cells, 1L, cb)
      }
      assert(ex.getMessage.contains("id-monotone"),
        s"wrong failure: ${ex.getMessage}")
      assert(!graft.sinks.IncrementalParquet.acked(spark, cells, 1L),
        "rejected batch must not ack")

      // replay of the ALREADY-ACKED batch stays a no-op (its own ids
      // sit at the watermark — the guard must not fire on replays)
      SimilarityQueries.appendToCellsIdempotent(b1, cells, 0L, cb)

      // in-order continuation is accepted
      val b2 = SyntheticBatches.batchVecs(spark, 2, 400) // ids 800..1199
      SimilarityQueries.appendToCellsIdempotent(b2, cells, 2L, cb)
      assert(spark.read.parquet(cells).count() == 800)

      // pre-guard tables (ack markers without a parsable note): the
      // guard falls back to the true stored max and still rejects
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      for (m <- Seq("b0", "b2"))
        fs.create(new org.apache.hadoop.fs.Path(s"$cells/_ingested/$m"),
          true).close() // truncate the note
      val ex2 = intercept[IllegalStateException] {
        SimilarityQueries.appendToCellsIdempotent(b0, cells, 3L, cb)
      }
      assert(ex2.getMessage.contains("id-monotone"))
    }
  }

  test("a truncated marker note never parses as an understated watermark") {
    withTempDir { root =>
      import spark.implicits._
      val dir = root.resolve("t").toString
      graft.sinks.IncrementalParquet.appendIdempotent(
        spark, dir, "cell", 0L, markerNote = "1000") {
        Seq((1L, 7)).toDF("vec_id", "cell")
      }
      assert(graft.sinks.IncrementalParquet.ackedNoteWatermark(spark, dir) ==
        (Some(1000L), true), "complete note must parse")

      // simulate an ack create interrupted mid-content: any digit
      // PREFIX of the intended note persists without the trailing-\n
      // sentinel. It must be treated as UNPARSED (allParsed=false →
      // callers fall back to the stored-data scan), not as the valid
      // watermark 10 — which would let an out-of-order batch with ids
      // in (10, 1000] pass the monotonicity guard silently.
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val out = fs.create(
        new org.apache.hadoop.fs.Path(s"$dir/_ingested/b0"), true)
      out.write("10".getBytes("UTF-8"))
      out.close()
      val (wm, allParsed) =
        graft.sinks.IncrementalParquet.ackedNoteWatermark(spark, dir)
      assert(!allParsed, "a sentinel-less note must not count as parsed")
      assert(wm.isEmpty, s"truncated digits must not yield a watermark: $wm")
    }
  }
}
