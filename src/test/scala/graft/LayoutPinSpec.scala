package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analytics.DedupQueries
import graft.sinks.IncrementalParquet

/** The `_graft_layout` pin machinery and the probe plumbing built on
  * it — the silent-wrong-results guards of the sort-clustered
  * incremental index design (round 10), spec'd per the round-10
  * verdict: (a) the pin round-trips through a fresh-conf reader,
  * (b) conflicting layout conf fails loudly instead of mis-pruning,
  * (c) a pin is never stamped onto pre-existing unpinned bytes,
  * (d) keys first supplied after birth are persisted into the pin,
  * (e) compaction preserves the pinned clustering inside every file it
  * writes, (f) the driver-side hash-bucket evaluation agrees with the
  * column plan exactly, and (g) the pushed-probe and over-cap
  * (join-fallback) arms of both batch pair probes return identical
  * pairs.
  */
class LayoutPinSpec extends SparkSpec {

  private def withoutConf[T](key: String)(body: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.unset(key)
    try body
    finally prior.foreach(spark.conf.set(key, _))
  }

  test("(a)+(b) bucket pin round-trips; conflicting conf fails loudly") {
    withTempDir { root =>
      val t = root.resolve("sb").toString
      val vecs = SyntheticBatches.batchVecs(spark, 0, 64)
      withConf("graft.dedup.buckets", "8") {
        DedupQueries.appendToSignBucketsIdempotent(vecs, t, 0L)
      }
      // fresh-conf reader: no session conf, the pin alone carries the
      // count (≠ the code default 16, so a fallback would be caught)
      withoutConf("graft.dedup.buckets") {
        assert(IncrementalParquet.readLayout(spark, t).get("buckets")
          .contains("8"))
        assert(DedupQueries.tableBuckets(spark, t) == 8)
      }
      // conflicting explicit conf: reads AND writes must fail loudly
      withConf("graft.dedup.buckets", "4") {
        val e = intercept[IllegalStateException] {
          DedupQueries.tableBuckets(spark, t)
        }
        assert(e.getMessage.contains("buckets"))
        intercept[IllegalStateException] {
          DedupQueries.appendToSignBucketsIdempotent(
            SyntheticBatches.batchVecs(spark, 1, 64), t, 1L)
        }
      }
      // matching explicit conf still appends fine
      withConf("graft.dedup.buckets", "8") {
        DedupQueries.appendToSignBucketsIdempotent(
          SyntheticBatches.batchVecs(spark, 1, 64), t, 1L)
        assert(DedupQueries.tableBuckets(spark, t) == 8)
      }
    }
  }

  test("(c) no birth pin onto pre-existing unpinned data; adoptLayout is the explicit step") {
    withTempDir { root =>
      val t = root.resolve("tbl").toString
      // pre-existing UNPINNED bytes (written outside the append path)
      DedupQueries.bucketedSignatures(
        SyntheticBatches.batchDocs(spark, 0, 50))
        .write.partitionBy("bkt").parquet(t)
      assert(IncrementalParquet.readLayout(spark, t).isEmpty)
      val e = intercept[IllegalStateException] {
        IncrementalParquet.appendIdempotent(spark, t, "bkt", 1L,
          Seq("doc_id"), Map("buckets" -> "16")) {
          DedupQueries.bucketedSignatures(
            SyntheticBatches.batchDocs(spark, 1, 50))
        }
      }
      assert(e.getMessage.contains("adoptLayout"))
      // the explicit adoption step records the layout, then appends flow
      IncrementalParquet.adoptLayout(spark, t,
        Map("sort" -> "doc_id", "buckets" -> "16"))
      IncrementalParquet.appendIdempotent(spark, t, "bkt", 1L,
        Seq("doc_id"), Map("buckets" -> "16")) {
        DedupQueries.bucketedSignatures(
          SyntheticBatches.batchDocs(spark, 1, 50))
      }
      assert(spark.read.parquet(t).count() ==
        DedupQueries.bucketedSignatures(
          SyntheticBatches.batchDocs(spark, 0, 50)).count() +
        DedupQueries.bucketedSignatures(
          SyntheticBatches.batchDocs(spark, 1, 50)).count())
    }
  }

  test("(d) a key first supplied after birth is persisted into the pin") {
    withTempDir { root =>
      val t = root.resolve("tbl").toString
      def batch(b: Long) = DedupQueries.bucketedSignatures(
        SyntheticBatches.batchDocs(spark, b, 40))
      // born with only the sort pinned
      IncrementalParquet.appendIdempotent(spark, t, "bkt", 0L,
        Seq("doc_id"))(batch(0))
      assert(IncrementalParquet.readLayout(spark, t) ==
        Map("sort" -> "doc_id"))
      // a later writer supplies buckets: must be APPENDED to the pin,
      // not silently dropped (or the mis-prune guard never engages)
      IncrementalParquet.appendIdempotent(spark, t, "bkt", 1L,
        Seq("doc_id"), Map("buckets" -> "16"))(batch(1))
      assert(IncrementalParquet.readLayout(spark, t) ==
        Map("sort" -> "doc_id", "buckets" -> "16"))
      // ...and from now on a conflicting value fails like any drift
      intercept[IllegalStateException] {
        IncrementalParquet.appendIdempotent(spark, t, "bkt", 2L,
          Seq("doc_id"), Map("buckets" -> "32"))(batch(2))
      }
    }
  }

  test("(e) minor compaction re-clusters by the PINNED sort inside every file") {
    withTempDir { root =>
      val t = root.resolve("sb").toString
      // several appends so buckets hold multiple differently-ordered
      // batch files; absorption must re-sort, not concatenate
      for (b <- 0 until 3)
        DedupQueries.appendToSignBucketsIdempotent(
          SyntheticBatches.batchVecs(spark, b.toLong, 200), t, b.toLong)
      assert(DedupQueries.compactSignaturesMinor(spark, t) > 0)
      import scala.jdk.CollectionConverters._
      val files = Files.walk(java.nio.file.Paths.get(t)).iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getParent.getFileName.toString.startsWith("bkt=") &&
          p.getFileName.toString.matches("^c\\d+-.*\\.parquet$"))
        .map(_.toString).toSeq
      assert(files.nonEmpty, "minor compaction produced no base files")
      files.foreach { f =>
        val keys = spark.read.parquet(f)
          .select(col("bucket"), col("band")).collect()
          .map(r => (r.getLong(0), r.getInt(1))).toSeq
        assert(keys == keys.sorted,
          s"$f lost the pinned (bucket, band) clustering")
      }
    }
  }

  test("(f) driver-side hash bucket == the column plan's pmod(hash(id), n)") {
    import spark.implicits._
    val ids = (Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue) ++
      (0 until 2000).map(i => i * 2654435761L - 1000000007L * (i % 7))).distinct
    for (n <- Seq(4, 16, 256)) {
      val sparkSide = ids.toDF("id")
        .select(col("id"), pmod(hash(col("id")), lit(n)).as("b"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      ids.foreach { id =>
        assert(DedupQueries.hashBucketLocal(id, n) == sparkSide(id),
          s"hashBucketLocal($id, $n) diverged from the column plan")
      }
    }
  }

  /** Sorted canonical pair list of a frame with two long columns. */
  private def pairsOf(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("(g) lexical probe: pushed-In, over-cap and join-fallback arms agree") {
    withTempDir { root =>
      val t = root.resolve("sig").toString
      DedupQueries.appendToSignaturesIdempotent(
        SyntheticBatches.batchDocs(spark, 0, 300), t, 0L)
      val batch = SyntheticBatches.batchDocs(spark, 1, 300)
      DedupQueries.appendToSignaturesIdempotent(batch, t, 1L)
      val pushed = pairsOf(
        DedupQueries.batchVerifiedPairs(spark, t, batch))
      assert(pushed.nonEmpty, "vacuous: no verified pairs")
      // over-cap: every collectLocal falls to its distributed arm, the
      // broadcast-semi join fallback (the backfill shape)
      val overCap = withoutDriverCollects {
        pairsOf(DedupQueries.batchVerifiedPairs(spark, t, batch))
      }
      assert(overCap == pushed, "over-cap arm diverged from pushed probe")
    }
  }

  test("(g) embed probe: pushed-In, over-cap and join-fallback arms agree") {
    withTempDir { root =>
      val sb = root.resolve("sb").toString
      val vecs = root.resolve("vecs").toString
      DedupQueries.appendToSignBucketsIdempotent(
        SyntheticBatches.batchVecs(spark, 0, 300), sb, 0L, bands = 4, bits = 16)
      DedupQueries.appendToVectorsIdempotent(
        SyntheticBatches.batchVecs(spark, 0, 300), vecs, 0L)
      val batch = SyntheticBatches.batchVecs(spark, 1, 300)
      DedupQueries.appendToSignBucketsIdempotent(batch, sb, 1L,
        bands = 4, bits = 16)
      DedupQueries.appendToVectorsIdempotent(batch, vecs, 1L)
      def pairs() = pairsOf(
        DedupQueries.batchVerifiedEmbedPairs(spark, sb, batch, vecs,
          threshold = 0.8, bands = 4, bits = 16))
      val pushed = pairs()
      assert(pushed.nonEmpty, "vacuous: no verified embed pairs")
      // over-cap: the checkpointed batch side and the semi-join fallback
      val overCap = withoutDriverCollects(pairs())
      assert(overCap == pushed, "over-cap arm diverged from pushed probe")
    }
  }

  test("driver fold and distributed fold produce identical deltas") {
    import spark.implicits._
    val labels = Seq((1L, 1L), (2L, 1L), (5L, 5L), (9L, 9L), (12L, 12L))
      .toDF("id", "component")
    // merges two existing components, links a new node into one, adds a
    // fresh pair and a self-edge-only node — every delta row kind
    val edges = Seq((2L, 5L), (9L, 20L), (30L, 31L), (40L, 40L))
      .toDF("id_a", "id_b")
    def deltaMap(d: DataFrame): Map[Long, Long] =
      d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val driver = deltaMap(graft.operators.ConnectedComponents
      .incrementalDelta(labels, edges, "id_a", "id_b"))
    // seam: cap 0 forces the distributed preamble
    val dist = withoutDriverCollects {
      deltaMap(graft.operators.ConnectedComponents
        .incrementalDelta(labels, edges, "id_a", "id_b"))
    }
    assert(driver == dist, "driver fold diverged from distributed fold")
    // the expected delta, by hand: 5's component joins 1 (via 2—5),
    // 20 enters under 9, 30/31 form a fresh pair, 40 is a singleton
    assert(driver == Map(5L -> 1L, 20L -> 9L, 30L -> 30L, 31L -> 30L,
      40L -> 40L))
  }
}
