package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.analytics.DedupQueries
import graft.core.Tables
import graft.operators.ConnectedComponents
import graft.streaming.StreamingPipeline

/** Continuous dedup maintenance end-to-end: document batches arrive as
  * parquet files, each micro-batch appends its signatures, derives the
  * near-dup pairs touching it from the stored table, and folds the new
  * edges into a durable cluster-labels table at batch-bounded cost.
  * The invariant pinned throughout: after any prefix of batches, the
  * labels table equals a from-scratch closure over the corpus landed
  * so far — and replays fold to an empty delta, so at-least-once
  * delivery converges to exactly-once labels.
  */
class ClusterMaintenanceSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def docs = Tables.load(spark, sf, "documents")
    .select(col("doc_id"), col("text"))

  /** From-scratch ground truth over `corpus`: verified pairs (the same
    * LSH → Jaccard pipeline the stream serves from its stored table)
    * then the full closure.
    */
  private def fullRecompute(
      corpus: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    val sig = DedupQueries.rawSignatures(corpus).repartition(col("doc_id"))
    val pairs = DedupQueries.candidatePairsFromSignatures(sig, Seq("shs"))
      .withColumn("jac",
        graft.functions.SimilarityFunctions.jaccard(col("shs_a"), col("shs_b")))
      .filter(col("jac") >= 0.5)
      .select(col("doc_id_a"), col("doc_id_b"))
    ConnectedComponents.run(pairs, "doc_id_a", "doc_id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def labelMap(labelsDir: String): Map[Long, Long] =
    StreamingPipeline.clusterLabels(spark, labelsDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("streamed batches maintain labels == full recompute at every prefix") {
    withTempDir { root =>
      val incoming = Files.createDirectory(root.resolve("incoming"))
      val sig = root.resolve("sig").toString
      val labels = root.resolve("labels").toString
      val ckpt = root.resolve("ckpt").toString

      // three disjoint waves; the sf0.001 documents table has planted
      // near-dup replicas spread across doc_ids, so later waves MERGE
      // clusters discovered by earlier ones — the hard maintenance case
      val waves = Seq(
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 === 1),
        docs.filter(col("doc_id") % 3 === 2))

      land(waves(0), incoming, "w0.parquet")
      StreamingPipeline.startDedupMaintenance(
        spark, incoming.toString, sig, labels, ckpt, Trigger.AvailableNow())
        .awaitTermination(180000)
      assert(labelMap(labels) == fullRecompute(waves(0)))

      land(waves(1), incoming, "w1.parquet")
      land(waves(2), incoming, "w2.parquet")
      StreamingPipeline.startDedupMaintenance(
        spark, incoming.toString, sig, labels, ckpt, Trigger.AvailableNow())
        .awaitTermination(180000)
      val fin = labelMap(labels)
      assert(fin == fullRecompute(docs))
      assert(fin.nonEmpty)
      // at least one cluster must span waves (a merge actually happened)
      // or the corpus would not be exercising the maintenance path
      val spanning = fin.groupBy(_._2).values
        .exists(m => m.keys.map(_ % 3).toSet.size > 1)
      assert(spanning, "no cluster spans waves — test corpus too easy")
    }
  }

  test("embedding maintenance mirrors the lexical loop end-to-end") {
    withTempDir { root =>
      val incoming = Files.createDirectory(root.resolve("incoming"))
      val buckets = root.resolve("buckets").toString
      val vecs = root.resolve("vecs").toString
      val labels = root.resolve("labels").toString
      val ckpt = root.resolve("ckpt").toString
      val threshold = 0.2 // denser pair graph than the catalog's 0.4:
                          // more cross-wave merges for the fold to apply
      val emb = Tables.load(spark, sf, "embeddings")
        .select(col("vec_id"), col("embedding"))

      land(emb.filter(col("vec_id") % 2 === 0), incoming, "w0.parquet")
      StreamingPipeline.startEmbedDedupMaintenance(
        spark, incoming.toString, buckets, vecs, labels, ckpt, threshold,
        Trigger.AvailableNow()).awaitTermination(180000)

      // the verify's source of truth is now the loop-owned bucketed
      // vector table, so the LANDING files may be cleaned mid-stream —
      // the retention constraint the pre-round-8 loop imposed is gone
      import scala.jdk.CollectionConverters._
      Files.list(incoming).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(Files.delete)

      land(emb.filter(col("vec_id") % 2 === 1), incoming, "w1.parquet")
      // cadence 1: the in-stream MINOR compaction of BOTH loop-owned
      // tables (sign buckets + raw vectors) fires during this wave —
      // the fold and serve must not notice
      StreamingPipeline.startEmbedDedupMaintenance(
        spark, incoming.toString, buckets, vecs, labels, ckpt, threshold,
        Trigger.AvailableNow(), compactEvery = 1).awaitTermination(180000)

      val fin = labelMap(labels)
      val pairs = DedupQueries.embedNearDupPairs(emb, threshold)
        .select(col("id_a"), col("id_b"))
      val expect = ConnectedComponents.run(pairs, "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fin == expect)
      assert(fin.nonEmpty, "vacuous: no embedding near-dup pairs at all")
      val spanning = fin.groupBy(_._2).values
        .exists(m => m.keys.map(_ % 2).toSet.size > 1)
      assert(spanning, "no cluster spans waves — no merge was exercised")

      // replay convergence for THIS family too: re-folding wave 1
      // directly (the at-least-once case) must change nothing
      StreamingPipeline.maintainEmbedClusters(spark, buckets, labels,
        vecs, emb.filter(col("vec_id") % 2 === 1), 1L, threshold)
      assert(labelMap(labels) == fin, "embed replay diverged")
    }
  }

  test("a replay after a mid-swap crash heals the table BEFORE folding") {
    withTempDir { root =>
      val sig = root.resolve("sig").toString
      val labels = root.resolve("labels")
      val b0 = docs.filter(col("doc_id") % 2 === 0)
      val b1 = docs.filter(col("doc_id") % 2 === 1)
      StreamingPipeline.maintainClusters(spark, sig, labels.toString, b0, 0L)
      StreamingPipeline.maintainClusters(spark, sig, labels.toString, b1, 1L)
      val healthy = labelMap(labels.toString)

      // simulate the upsert's documented crash window: a bucket retired
      // but its replacement never installed (crash between the two
      // renames). If the NEXT fold read the damaged table, the rows of
      // the missing bucket would re-enter as singletons and the delta
      // written over the recovered bucket would diverge forever.
      import scala.jdk.CollectionConverters._
      val buckets = Files.list(labels).iterator().asScala
        .filter(_.getFileName.toString.startsWith("kb=")).toSeq
      assert(buckets.nonEmpty)
      val retired = Files.createDirectory(
        labels.getParent.resolve(s".${labels.getFileName}.retired"))
      val victim = buckets.head.getFileName
      Files.move(labels.resolve(victim), retired.resolve(victim))

      // replay batch 1 against the damaged table: maintainClusters must
      // recover first, fold an empty delta, and leave labels intact
      StreamingPipeline.maintainClusters(spark, sig, labels.toString, b1, 1L)
      assert(labelMap(labels.toString) == healthy,
        "crash-window replay diverged from the healthy labeling")
      assert(labelMap(labels.toString) == fullRecompute(docs))
    }
  }

  test("replay after a crash BETWEEN bucket swaps re-applies the stored delta") {
    // the one window per-bucket recovery cannot see: the labels upsert
    // installs touched kb= buckets one rename at a time, so a crash
    // mid-loop leaves a MIXED-version table — some buckets already hold
    // batch 1's labels, others still batch 0's. Every live dir exists,
    // so recoverParquetPartitioned has nothing to restore, and a delta
    // RECOMPUTED from the mixed table would silently diverge (batch
    // edges contract to self-loops; transitively-relabeled rows in
    // not-yet-swapped buckets are never re-derived). The fix under
    // test: the delta was PERSISTED before the upsert started, and the
    // replay re-applies the STORED delta, which converges any mix of
    // old/new buckets to the new version.
    withTempDir { root =>
      val sig = root.resolve("sig").toString
      val labels = root.resolve("labels")
      val b0 = docs.filter(col("doc_id") % 2 === 0)
      val b1 = docs.filter(col("doc_id") % 2 === 1)
      StreamingPipeline.maintainClusters(spark, sig, labels.toString, b0, 0L)

      // snapshot the post-batch-0 table, then fold batch 1 fully
      import scala.jdk.CollectionConverters._
      val pre = root.resolve("labels-pre")
      def copyTree(from: Path, to: Path): Unit =
        Files.walk(from).iterator().asScala.foreach { p =>
          val t = to.resolve(from.relativize(p).toString)
          if (Files.isDirectory(p)) Files.createDirectories(t)
          else Files.copy(p, t)
        }
      copyTree(labels, pre)
      StreamingPipeline.maintainClusters(spark, sig, labels.toString, b1, 1L)
      val healthy = labelMap(labels.toString)
      assert(healthy == fullRecompute(docs))

      // batch 1's delta must be persisted+acked, batch 0's pruned
      val delta = labels.getParent.resolve(s".${labels.getFileName}.delta")
      assert(Files.exists(delta.resolve("_acked/b1")), "delta b1 not acked")
      assert(!Files.exists(delta.resolve("b0")), "superseded delta not pruned")

      // rebuild the mid-swap mix: half the buckets roll back to their
      // batch-0 version (buckets new in batch 1 are REMOVED — "not yet
      // installed"), the rest keep batch 1's labels
      val buckets = Files.list(labels).iterator().asScala
        .filter(_.getFileName.toString.startsWith("kb=")).toSeq.sortBy(_.toString)
      val victims = buckets.zipWithIndex.collect { case (p, i) if i % 2 == 0 => p }
      assert(victims.nonEmpty)
      victims.foreach { b =>
        Files.walk(b).iterator().asScala.toSeq.reverse.foreach(Files.delete)
        val old = pre.resolve(b.getFileName.toString)
        if (Files.exists(old)) copyTree(old, b)
      }
      assert(labelMap(labels.toString) != healthy,
        "mix reconstruction was a no-op — the window is not being exercised")

      // replay batch 1: stored delta re-applies, table converges
      StreamingPipeline.maintainClusters(spark, sig, labels.toString, b1, 1L)
      assert(labelMap(labels.toString) == healthy,
        "mixed-version replay diverged from the healthy labeling")
    }
  }

  test("compaction cadence mid-stream: same labels, bounded bucket files") {
    withTempDir { root =>
      val incoming = Files.createDirectory(root.resolve("incoming"))
      val sig = root.resolve("sig")
      val labels = root.resolve("labels").toString
      val ckpt = root.resolve("ckpt").toString

      // four waves, compactEvery = 2: compaction fires INSIDE the
      // stream after batches 1 and 3, not just at end-of-run. Land one
      // file per stream restart (maxFilesPerTrigger=4 would otherwise
      // drain several files into one batch) so batchIds 0..3 happen.
      val waves = (0 until 4).map(w => docs.filter(col("doc_id") % 4 === w))
      waves.zipWithIndex.foreach { case (w, i) =>
        land(w, incoming, f"w$i%02d.parquet")
        StreamingPipeline.startDedupMaintenance(
          spark, incoming.toString, sig.toString, labels, ckpt,
          Trigger.AvailableNow(), compactEvery = 2)
          .awaitTermination(180000)
      }

      // labels identical to a full recompute despite mid-stream compaction
      assert(labelMap(labels) == fullRecompute(docs))

      import scala.jdk.CollectionConverters._
      // the in-loop cadence fires MINOR compaction: after the last
      // firing (batch 3) every per-batch file is absorbed and each
      // bucket holds only its bounded base-file ladder (one `c<g>-`
      // file per firing that touched it, tier-merged before it can
      // exceed the maxBaseFiles bound — here 2 firings ⇒ ≤2 bases)
      Files.list(sig).iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("bkt="))
        .foreach { p =>
          val files = Files.list(p).iterator().asScala
            .map(_.getFileName.toString)
            .filter(f => !f.startsWith("_") && !f.startsWith(".")).toSeq
          assert(files.forall(_.matches("^c\\d+-.*")),
            s"${p.getFileName}: unabsorbed batch files in $files")
          assert(files.size <= 2, s"${p.getFileName}: $files")
        }

      // replay of a batch whose files compaction absorbed: still a no-op
      val before = labelMap(labels)
      StreamingPipeline.maintainClusters(
        spark, sig.toString, labels, waves(1), 1L)
      assert(labelMap(labels) == before, "post-compaction replay diverged")
    }
  }

  test("a steady-state maintenance batch runs at most 14 Spark jobs") {
    // the trigger's fixed floor is its job count, not its data: each
    // batch-sized step (verify, edge dedup, fold, delta build, upsert
    // bookkeeping) must run on driver rows without a job of its own
    withTempDir { root =>
      val sig = root.resolve("sig").toString
      val labels = root.resolve("labels").toString
      StreamingPipeline.maintainClusters(spark, sig, labels,
        docs.filter(col("doc_id") % 2 === 0), 0L)
      StreamingPipeline.maintainClusters(spark, sig, labels,
        docs.filter(col("doc_id") % 4 === 1), 1L)
      val before = labelMap(labels)
      val (_, jobs) = jobsOf {
        StreamingPipeline.maintainClusters(spark, sig, labels,
          docs.filter(col("doc_id") % 4 === 3), 2L)
      }
      info(s"$jobs Spark jobs")
      assert(labelMap(labels) != before, "vacuous: the batch wrote no delta")
      assert(jobs <= 14, s"$jobs Spark jobs for one steady-state batch")
    }
  }

  test("driver-local fold and forced distributed fold give identical labels") {
    val batches = (0 until 3).map(w => docs.filter(col("doc_id") % 3 === w))
    def fold(root: Path): Map[Long, Long] = {
      val sig = root.resolve("sig").toString
      val labels = root.resolve("labels").toString
      batches.zipWithIndex.foreach { case (b, i) =>
        StreamingPipeline.maintainClusters(spark, sig, labels, b, i.toLong)
      }
      labelMap(labels)
    }
    val local = withTempDir(fold)
    // the driver cap at 0 forces every distributed arm: pair probe,
    // shingle fetch, verify joins, fold preamble and delta joins
    val distributed = withoutDriverCollects(withTempDir(fold))
    assert(local.nonEmpty)
    assert(local == distributed)
    assert(local == fullRecompute(docs))
  }

  test("replaying a folded batch is a no-op: empty delta, same labels") {
    withTempDir { root =>
      val sig = root.resolve("sig").toString
      val labels = root.resolve("labels").toString
      val b0 = docs.filter(col("doc_id") % 2 === 0)
      val b1 = docs.filter(col("doc_id") % 2 === 1)
      StreamingPipeline.maintainClusters(spark, sig, labels, b0, 0L)
      StreamingPipeline.maintainClusters(spark, sig, labels, b1, 1L)
      val before = labelMap(labels)
      assert(before == fullRecompute(docs))
      // at-least-once replay of BOTH batches, any order
      StreamingPipeline.maintainClusters(spark, sig, labels, b1, 1L)
      StreamingPipeline.maintainClusters(spark, sig, labels, b0, 0L)
      assert(labelMap(labels) == before)
      // and the delta for an already-folded batch is literally empty
      val edges = DedupQueries.batchVerifiedPairs(spark, sig, b1)
      val delta = ConnectedComponents.incrementalDelta(
        StreamingPipeline.clusterLabels(spark, labels), edges,
        "doc_id_a", "doc_id_b")
      assert(delta.isEmpty)
    }
  }
}
