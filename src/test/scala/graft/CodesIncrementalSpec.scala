package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analytics.SimilarityQueries
import graft.core.Tables
import graft.operators.CodebookTrainer

/** Incremental ANN index ingest: appending a new vector batch into the
  * stored codes table must (a) yield a table that serves row-identically
  * to one built from the full corpus in one shot, and (b) never rewrite
  * the files of cells the batch does not touch — the property that
  * makes per-batch ingest O(batch), not O(index), at 100 TB.
  */
class CodesIncrementalSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("append-half == build-full, and untouched cell files are byte-stable") {
    withTempDir { root =>
      val e = Tables.load(spark, sf, "embeddings")
      val cb = CodebookTrainer.initCodebook(e, 16, normalize = false)
      val full = root.resolve("full").toString
      val inc = root.resolve("inc").toString

      SimilarityQueries.codesTable(e, cb, cb)
        .write.mode("overwrite").partitionBy("cell").parquet(full)

      val half1 = e.filter(col("vec_id") % 2 === 0)
      val half2 = e.filter(col("vec_id") % 2 =!= 0)
      SimilarityQueries.codesTable(half1, cb, cb)
        .write.mode("overwrite").partitionBy("cell").parquet(inc)

      // snapshot the first batch's data files before the append
      def files(dir: String): Map[String, Long] = {
        val r = Paths.get(dir)
        import scala.jdk.CollectionConverters._
        Files.walk(r).iterator().asScala
          .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
          .map(p => r.relativize(p).toString -> Files.getLastModifiedTime(p).toMillis)
          .toMap
      }
      val before = files(inc)

      SimilarityQueries.appendToCodes(half2, inc, cb, cb)

      // (b) every pre-existing data file survives the append untouched
      val after = files(inc)
      before.foreach { case (f, mtime) =>
        assert(after.contains(f), s"append rewrote/removed $f")
        assert(after(f) == mtime, s"append modified $f")
      }
      assert(after.size > before.size, "append added no files")

      // (a) the incrementally built index serves row-identically to the
      // one-shot build
      val servedInc = SimilarityQueries.ivfPqServeFromCodes(
        e, spark.read.parquet(inc), cb, cb, 10).collect().toSeq
      val servedFull = SimilarityQueries.ivfPqServeFromCodes(
        e, spark.read.parquet(full), cb, cb, 10).collect().toSeq
      assert(servedInc == servedFull)
      // and to the in-query index (transitively q_ann_ivfpq)
      assert(servedInc == SparkEntry.queries("q_ann_ivfpq")(spark, sf)
        .collect().toSeq)
    }
  }

  /** Per-cell data-file census of a `cell=`-partitioned codes dir. */
  private def cellFiles(dir: String): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("cell="))
      .map { p =>
        p.getFileName.toString -> Files.list(p).iterator().asScala
          .count(f => Files.isRegularFile(f) &&
            !f.getFileName.toString.startsWith("_") &&
            !f.getFileName.toString.startsWith("."))
      }.toMap
  }

  test("N appends then compactCodes: rows identical, one file per cell, idempotent") {
    withTempDir { root =>
      val e = Tables.load(spark, sf, "embeddings")
      val cb = CodebookTrainer.initCodebook(e, 16, normalize = false)
      val inc = root.resolve("inc").toString

      // build from a third, then two appended batches → fragmented cells
      SimilarityQueries.codesTable(e.filter(col("vec_id") % 3 === 0), cb, cb)
        .write.mode("overwrite").partitionBy("cell").parquet(inc)
      SimilarityQueries.appendToCodes(e.filter(col("vec_id") % 3 === 1), inc, cb, cb)
      SimilarityQueries.appendToCodes(e.filter(col("vec_id") % 3 === 2), inc, cb, cb)

      val fragmented = cellFiles(inc)
      assert(fragmented.values.exists(_ > 1), s"no fragmentation to compact: $fragmented")
      val servedBefore = SimilarityQueries.ivfPqServeFromCodes(
        e, spark.read.parquet(inc), cb, cb, 10).collect().toSeq

      val n = SimilarityQueries.compactCodes(spark, inc)
      assert(n == fragmented.count(_._2 > 1), s"compacted $n of $fragmented")

      // every cell is down to exactly one data file, rows unchanged
      val after = cellFiles(inc)
      assert(after.values.forall(_ == 1), s"cells still fragmented: $after")
      assert(after.keySet == fragmented.keySet, "compaction changed the cell set")
      val servedAfter = SimilarityQueries.ivfPqServeFromCodes(
        e, spark.read.parquet(inc), cb, cb, 10).collect().toSeq
      assert(servedAfter == servedBefore)

      // a second pass finds nothing fragmented — compaction is idempotent
      // and O(fragmented cells), so a clean table costs a listing only
      assert(SimilarityQueries.compactCodes(spark, inc) == 0)
    }
  }

  test("compactCodes crash recovery: a retired-but-never-replaced cell is restored") {
    withTempDir { root =>
      val e = Tables.load(spark, sf, "embeddings")
      val cb = CodebookTrainer.initCodebook(e, 16, normalize = false)
      val inc = root.resolve("codes").toString
      SimilarityQueries.codesTable(e.filter(col("vec_id") % 2 === 0), cb, cb)
        .write.mode("overwrite").partitionBy("cell").parquet(inc)
      SimilarityQueries.appendToCodes(e.filter(col("vec_id") % 2 === 1), inc, cb, cb)
      val expected = SimilarityQueries.ivfPqServeFromCodes(
        e, spark.read.parquet(inc), cb, cb, 10).collect().toSeq

      // simulate a crash mid-swap: one live cell moved to .retired, its
      // replacement never installed, stale stage dir left behind
      import scala.jdk.CollectionConverters._
      val aCell = Files.list(Paths.get(inc)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("cell=")).toSeq.head
      val retired = Paths.get(root.toString, ".codes.retired")
      Files.createDirectories(retired)
      Files.move(aCell, retired.resolve(aCell.getFileName.toString))
      Files.createDirectories(Paths.get(root.toString, ".codes.compact", "junk"))

      // the next compaction run's preamble restores the cell before
      // doing any work; the table then serves exactly as before
      SimilarityQueries.compactCodes(spark, inc)
      assert(!Files.exists(retired), ".retired not cleaned up")
      val served = SimilarityQueries.ivfPqServeFromCodes(
        e, spark.read.parquet(inc), cb, cb, 10).collect().toSeq
      assert(served == expected)
    }
  }

  test("residual codes: append-half == build-full, stored serve == in-query " +
      "pipeline (transitively q_ann_ivfpq_residual)") {
    withTempDir { root =>
      val e = Tables.load(spark, sf, "embeddings")
      val key = Tables.derivedStateKey(spark, sf, "embeddings")
      val cbIvf = CodebookTrainer.cachedSphericalIvf(e, key, 16, 64, 2)
      val means = SimilarityQueries.cachedCellMeans(e, key, cbIvf)
      val cbPqRes = CodebookTrainer.cachedPq(
        SimilarityQueries.residualFrame(e, cbIvf, means),
        s"$key/residual", 8, 8, 16, 2)
      val full = root.resolve("full").toString
      val inc = root.resolve("inc").toString

      SimilarityQueries.residualCodesTable(e, cbIvf, means, cbPqRes)
        .write.mode("overwrite").partitionBy("cell").parquet(full)
      SimilarityQueries
        .residualCodesTable(e.filter(col("vec_id") % 2 === 0),
          cbIvf, means, cbPqRes)
        .write.mode("overwrite").partitionBy("cell").parquet(inc)
      SimilarityQueries
        .residualCodesTable(e.filter(col("vec_id") % 2 =!= 0),
          cbIvf, means, cbPqRes)
        .write.mode("append").partitionBy("cell").parquet(inc)

      def serve(dir: String) = SimilarityQueries.ivfPqResidualServeFromCodes(
        e, spark.read.parquet(dir), cbIvf, means, cbPqRes, 10).collect().toSeq
      val servedInc = serve(inc)
      // incrementally built == one-shot build
      assert(servedInc == serve(full))
      // stored-codes serve == the in-query reference pipeline — the
      // identity that lets q_ann_ivfpq_residual's oracle (which
      // re-derives the in-query composition relationally) gate the
      // stored-index path
      assert(servedInc == SimilarityQueries.ivfPqResidualPipeline(
        e, cbIvf, means, cbPqRes, 10).collect().toSeq)
      // and transitively the catalog entry itself
      assert(servedInc == SparkEntry.queries("q_ann_ivfpq_residual")(spark, sf)
        .collect().toSeq)
    }
  }

  test("external-vector ANN search: a query equal to a stored vector " +
      "retrieves it at rank 1 with cosine 1.0 (no self-exclusion for " +
      "external ids); results serve from the stored codes table") {
    val e = Tables.load(spark, sf, "embeddings")
    val v7 = e.filter(col("vec_id") === 7L)
      .select(col("embedding")).head.getSeq[Float](0).toArray
    val df = SimilarityQueries.annSearchVectors(spark, sf, Seq(v7))
    val out = df.collect()
    assert(out.nonEmpty && out.forall(_.getLong(0) == 0L))
    // the exact-match stored vector: its own cell is its top probe,
    // its ADC distance ~0 survives any topC, the exact re-rank puts
    // it first at cosine exactly 1 (rounded display)
    assert(out.head.getLong(1) == 7L && out.head.getInt(2) == 1,
      out.mkString(", "))
    assert(out.head.getDouble(4) == 1.0, out.head.toString)
    // the serve reads the STORED codes table, not a corpus-side encode
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft-codes-inc"), plan.take(2000))
  }

  test("point-fetch re-rank arm == fused arm, with the In filter pushed " +
      "to the embeddings scan") {
    val e = Tables.load(spark, sf, "embeddings")
    val cb = CodebookTrainer.initCodebook(e, 16, normalize = false)
    val codes = SimilarityQueries.codesTable(e, cb, cb).localCheckpoint()
    // the re-rank candidates of 10 corpus queries; below the 4 MB line
    // the serve fetches their vectors by the fused arm (the whole
    // embeddings table probes the candidates)
    val cand = SimilarityQueries.ivfPqServeFromCodes(e, codes, cb, cb, 10)
      .select(col("q_id"), col("n_id"), col("approx_d2").as("ad2"))
    def fetched(probe: DataFrame, c: DataFrame) =
      probe.join(c, col("vec_id") === col("n_id"))
        .select(col("q_id"), col("n_id"), col("ad2"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getSeq[Float](3)))
        .toSeq.sortBy(t => (t._1, t._2))
    // identity: both arms fetch the same ≤ topC×nQueries candidate
    // vectors, so the exact-cosine ranking over them cannot differ
    val fused = fetched(e, cand)
    val (probe, local) = SimilarityQueries.pointFetch(e, cand, _.collect())
    assert(fused.nonEmpty && fetched(probe, local) == fused)
    // the point arm's corpus fetch is an In predicate at the parquet
    // scan (row-group skip over the vec_id-clustered layout), not a
    // full-corpus BHJ probe side
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(vec_id"),
      s"no pushed In(vec_id) in point-arm plan:\n$plan")
  }
}
