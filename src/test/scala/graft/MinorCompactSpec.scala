package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analytics.DedupQueries
import graft.sinks.IncrementalParquet

/** Minor (size-tiered, marker-committed) compaction — the in-loop
  * firing whose cost must stay O(absorbed bytes) as the table grows.
  * Pins the four properties the continuous-maintenance loops depend
  * on: absorption preserves content exactly; the base-file tier stays
  * bounded under arbitrarily long append streams; both crash windows
  * (before and after the commit marker) converge on the next firing;
  * and replay/ack interplay (unacked files skipped, absorbed batches
  * stay replay-no-ops).
  */
class MinorCompactSpec extends SparkSpec {

  private def docs(lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    (lo until hi).map(i => (i, s"tok${i % 7} tok${i % 11} body $i text"))
      .toDF("doc_id", "text")
  }

  private def sortedRows(dir: String): Seq[String] =
    spark.read.parquet(dir).select(col("doc_id"), col("bkt"))
      .collect().map(_.toString).sorted.toSeq

  /** (batchFiles, baseFiles, otherFiles) per bucket dir. */
  private def census(dir: String): Map[String, (Seq[String], Seq[String], Seq[String])] = {
    import scala.jdk.CollectionConverters._
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("bkt="))
      .map { p =>
        val fs = Files.list(p).iterator().asScala.map(_.getFileName.toString)
          .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSeq.sorted
        p.getFileName.toString -> (
          fs.filter(_.matches("^b\\d+-.*")),
          fs.filter(_.matches("^c\\d+-.*")),
          fs.filterNot(n => n.matches("^b\\d+-.*") || n.matches("^c\\d+-.*")))
      }.toMap
  }

  test("append writes ONE file per touched bucket; minor absorbs batch files exactly") {
    withTempDir { root =>
      val t = root.resolve("sig").toString
      DedupQueries.appendToSignaturesIdempotent(docs(0, 500), t, 0L)
      DedupQueries.appendToSignaturesIdempotent(docs(500, 1000), t, 1L)

      // the repartition-by-bkt stage write: one data file per (batch, bucket)
      census(t).foreach { case (bkt, (batch, base, other)) =>
        assert(batch.size <= 2 && base.isEmpty && other.isEmpty,
          s"$bkt unexpected layout: batch=$batch base=$base other=$other")
        batch.groupBy(_.takeWhile(_ != '-')).foreach { case (pfx, fs) =>
          assert(fs.size == 1, s"$bkt has ${fs.size} files for $pfx")
        }
      }

      val before = sortedRows(t)
      val n = DedupQueries.compactSignaturesMinor(spark, t)
      assert(n > 0, "nothing absorbed")
      assert(sortedRows(t) == before, "minor compaction changed table content")
      census(t).foreach { case (bkt, (batch, base, _)) =>
        assert(batch.isEmpty, s"$bkt still holds batch files: $batch")
        assert(base.size == 1, s"$bkt base tier: $base")
      }
      // idempotent: nothing left to absorb, metadata-only second call
      assert(DedupQueries.compactSignaturesMinor(spark, t) == 0)

      // a replay of an absorbed batch stays a no-op (ack outlives absorption)
      DedupQueries.appendToSignaturesIdempotent(docs(0, 500), t, 0L)
      assert(sortedRows(t) == before, "absorbed batch replayed rows back in")
      census(t).foreach { case (bkt, (batch, _, _)) =>
        assert(batch.isEmpty, s"replay re-appended files in $bkt: $batch")
      }
    }
  }

  test("size-tiered: base-file count stays bounded over a long append stream") {
    withTempDir { root =>
      val t = root.resolve("sig").toString
      val maxBase = 3
      for (b <- 0 until 12) {
        DedupQueries.appendToSignaturesIdempotent(
          docs(b * 200L, (b + 1) * 200L), t, b.toLong)
        IncrementalParquet.compactMinor(spark, t, "bkt",
          minBatchFiles = 1, maxBaseFiles = maxBase)
        census(t).foreach { case (bkt, (_, base, _)) =>
          assert(base.size <= maxBase,
            s"$bkt base tier overflowed after batch $b: $base")
        }
      }
      assert(sortedRows(t) == {
        val all = root.resolve("all").toString
        DedupQueries.bucketedSignatures(docs(0, 2400))
          .write.partitionBy("bkt").parquet(all)
        sortedRows(all)
      }, "12 append+minor rounds drifted from the one-shot build")
    }
  }

  test("crash before commit: orphan generation files are swept, nothing lost") {
    withTempDir { root =>
      val t = root.resolve("sig").toString
      DedupQueries.appendToSignaturesIdempotent(docs(0, 400), t, 0L)
      DedupQueries.appendToSignaturesIdempotent(docs(400, 800), t, 1L)
      val before = sortedRows(t)

      // a firing that crashed after install, before its marker: orphan
      // c<g>-* files whose rows all still live in their batch files
      val (bkt, (batch, _, _)) = census(t).find(_._2._1.nonEmpty).get
      val live = Paths.get(t, bkt)
      Files.copy(live.resolve(batch.head), live.resolve("c9-0.parquet"),
        StandardCopyOption.COPY_ATTRIBUTES)
      // the real writer raises the in-flight sentinel before any
      // install, so a crashed firing always leaves it behind
      Files.createDirectories(Paths.get(t, "_compact"))
      Files.write(Paths.get(t, "_compact", ".inflight"), Array.empty[Byte])
      assert(spark.read.parquet(t).count() > before.size, "dup rows expected")

      // next firing's preamble deletes the orphan BEFORE selecting work
      DedupQueries.compactSignaturesMinor(spark, t)
      assert(sortedRows(t) == before, "orphan sweep lost or duplicated rows")
      assert(!Files.exists(live.resolve("c9-0.parquet")), "orphan survived")
      // the sentinel is consumed by the sweep (and a healthy firing
      // drops its own), so the next trigger skips the partition walk
      assert(!Files.exists(Paths.get(t, "_compact", ".inflight")),
        "in-flight sentinel not dropped after recovery")
    }
  }

  test("crash after commit: a non-empty marker's deletions finish on the next firing") {
    withTempDir { root =>
      val t = root.resolve("sig").toString
      DedupQueries.appendToSignaturesIdempotent(docs(0, 400), t, 0L)
      val before = sortedRows(t)

      // reconstruct the exact post-commit pre-delete state: a base file
      // holding a batch file's rows, marker listing that batch file
      val (bkt, (batch, _, _)) = census(t).find(_._2._1.nonEmpty).get
      val live = Paths.get(t, bkt)
      Files.copy(live.resolve(batch.head), live.resolve("c7-0.parquet"),
        StandardCopyOption.COPY_ATTRIBUTES)
      val markers = Paths.get(t, "_compact")
      Files.createDirectories(markers)
      Files.write(markers.resolve("c7"), s"$bkt/${batch.head}\n".getBytes("UTF-8"))

      DedupQueries.compactSignaturesMinor(spark, t)
      assert(sortedRows(t) == before, "pending deletions not finished")
      assert(!Files.exists(live.resolve(batch.head)),
        "absorbed batch file survived its committed deletion")
      assert(Files.size(markers.resolve("c7")) == 0, "marker not truncated")
      // the recovered base file stays (its generation is committed)
      assert(Files.exists(live.resolve("c7-0.parquet")))
    }
  }

  test("FULL compact after a crashed minor firing does not bake in duplicates") {
    withTempDir { root =>
      val t = root.resolve("sig").toString
      DedupQueries.appendToSignaturesIdempotent(docs(0, 400), t, 0L)
      DedupQueries.appendToSignaturesIdempotent(docs(400, 800), t, 1L)
      val before = sortedRows(t)

      // crash-before-commit again: an orphan generation file whose rows
      // all still live in their batch file — but this time the operator
      // runs the documented explicit FULL rewrite next, not another
      // minor firing. Without the shared recovery preamble the rewrite
      // would absorb orphan + originals into one part file, making the
      // duplicate rows permanent and undetectable.
      val (bkt, (batch, _, _)) = census(t).find(_._2._1.nonEmpty).get
      val live = Paths.get(t, bkt)
      Files.copy(live.resolve(batch.head), live.resolve("c9-0.parquet"),
        StandardCopyOption.COPY_ATTRIBUTES)
      Files.createDirectories(Paths.get(t, "_compact"))
      Files.write(Paths.get(t, "_compact", ".inflight"), Array.empty[Byte])

      DedupQueries.compactSignatures(spark, t)
      assert(sortedRows(t) == before,
        "full compact baked a crashed minor firing's duplicates into the table")
    }
  }

  test("over-cap probe: the stored signatures are scanned, never exchanged") {
    import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import scala.jdk.CollectionConverters._
    withTempDir { root =>
      val t = root.resolve("sig").toString
      DedupQueries.appendToSignaturesIdempotent(docs(0, 600), t, 0L)
      // near-copies of batch-0 docs so real cross-batch pairs exist
      val copies = docs(0, 80).select(
        (col("doc_id") + 600).as("doc_id"), col("text"))
      DedupQueries.appendToSignaturesIdempotent(copies, t, 1L)
      def pairs(): Set[(Long, Long)] =
        DedupQueries.batchVerifiedPairs(spark, t, copies)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val driverArm = pairs()
      assert(driverArm.nonEmpty, "vacuous: no cross-batch pairs at all")
      // the executed plan of every query the distributed arm runs
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          plans.add(qe.executedPlan)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      // auto-broadcast off: the plan's own hints, not size estimates,
      // must keep the stored side out of every exchange
      val overCap = withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
        withoutDriverCollects {
          spark.listenerManager.register(listener)
          try {
            val r = pairs()
            org.apache.spark.graftspec.Bus.drain(spark.sparkContext)
            r
          } finally spark.listenerManager.unregister(listener)
        }
      }
      assert(overCap == driverArm, "distributed arm diverged from the driver arm")
      // per stored-table scan: does an Exchange sit between it and the
      // join that consumes it (the batch-bounded join OUTPUT may shuffle)
      def storedScans(p: SparkPlan, exchanged: Boolean): Seq[Boolean] = p match {
        case s: FileSourceScanLike
            if s.relation.location.rootPaths.exists(_.toString.contains(t)) =>
          Seq(exchanged)
        case a: AdaptiveSparkPlanExec => storedScans(a.executedPlan, exchanged)
        case q: QueryStageExec => storedScans(q.plan, exchanged)
        case r: ReusedExchangeExec => storedScans(r.child, exchanged)
        case _: BaseJoinExec => p.children.flatMap(storedScans(_, exchanged = false))
        case _: Exchange => p.children.flatMap(storedScans(_, exchanged = true))
        case _ => p.children.flatMap(storedScans(_, exchanged))
      }
      val scans = plans.asScala.toSeq.flatMap(storedScans(_, exchanged = false))
      // the candidate probe and the shingle fetch each read the table
      assert(scans.size >= 2, s"vacuous: ${scans.size} stored-table scans seen")
      assert(!scans.contains(true),
        "the stored signature table is exchanged:\n" + plans.asScala.mkString("\n"))
    }
  }

  test("a crashed FULL compact heals at the NEXT append, not the next compact") {
    withTempDir { root =>
      val t = root.resolve("sig").toString
      DedupQueries.appendToSignaturesIdempotent(docs(0, 400), t, 0L)
      val before = sortedRows(t)

      // full-compact crash window: a bucket retired, replacement never
      // installed. Before round 8's shared recovery, the next APPEND
      // would blindly recreate the live dir — and the next full compact
      // would then discard the retired copy as stale: silent permanent
      // loss of every pre-crash row of the bucket.
      val bkt = census(t).keys.head
      val retired = root.resolve(".sig.retired")
      Files.createDirectories(retired)
      Files.move(Paths.get(t, bkt), retired.resolve(bkt))
      assert(sortedRows(t).size < before.size, "window not constructed")

      DedupQueries.appendToSignaturesIdempotent(docs(400, 800), t, 1L)
      // the append's preamble restored the bucket BEFORE installing —
      // this trigger's own reads already see the complete table
      val all = root.resolve("all").toString
      DedupQueries.bucketedSignatures(docs(0, 800))
        .write.partitionBy("bkt").parquet(all)
      assert(sortedRows(t) == sortedRows(all), "pre-crash rows lost")
      assert(!Files.exists(retired), ".retired not cleaned up")
    }
  }

  test("recovery MERGES a retired bucket whose live dir was recreated by appends") {
    withTempDir { root =>
      // defense-in-depth for state a pre-round-8 writer could leave:
      // live dir exists but holds ONLY append batch files (no compact
      // replacement). Discarding the retired copy would lose data;
      // recovery must merge it back in.
      val t = root.resolve("sig").toString
      DedupQueries.appendToSignaturesIdempotent(docs(0, 400), t, 0L)
      val bkt = census(t).keys.head
      val retired = root.resolve(".sig.retired")
      Files.createDirectories(retired)
      Files.move(Paths.get(t, bkt), retired.resolve(bkt))

      // fabricate the recreated live dir from a SECOND table's same-
      // bucket append (disjoint rows, disjoint batch-file name)
      val t2 = root.resolve("other").toString
      DedupQueries.appendToSignaturesIdempotent(docs(400, 800), t2, 7L)
      val donorIds = spark.read.parquet(t2).select(col("doc_id"))
        .filter(col("bkt") === bkt.stripPrefix("bkt=").toInt)
        .collect().map(_.getLong(0)).toSet
      val donor = Paths.get(t2, bkt)
      val live = Files.createDirectories(Paths.get(t, bkt))
      import scala.jdk.CollectionConverters._
      Files.list(donor).iterator().asScala
        .filter(_.getFileName.toString.startsWith("b7-"))
        .foreach(f => Files.move(f, live.resolve(f.getFileName.toString)))
      Files.createDirectories(Paths.get(t, "_ingested"))
      Files.createFile(Paths.get(t, "_ingested", "b7"))

      DedupQueries.compactSignaturesMinor(spark, t)
      // every pre-crash row of the bucket AND the recreated batch's
      // rows survive
      val got = spark.read.parquet(t).select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet
      val expect = (0L until 400L).toSet ++ donorIds
      assert(got == expect,
        s"merge recovery lost ${(expect -- got).size} / gained ${(got -- expect).size} rows")
      assert(!Files.exists(retired), ".retired not cleaned up")
    }
  }

  test("unacked batch files are skipped per-file, not absorbed") {
    withTempDir { root =>
      val t = root.resolve("sig").toString
      DedupQueries.appendToSignaturesIdempotent(docs(0, 400), t, 0L)
      DedupQueries.appendToSignaturesIdempotent(docs(400, 800), t, 1L)
      // simulate batch 1 crashed before its ack
      Files.delete(Paths.get(t, "_ingested", "b1"))
      val before = sortedRows(t)

      IncrementalParquet.compactMinor(spark, t, "bkt", minBatchFiles = 1)
      assert(sortedRows(t) == before)
      census(t).foreach { case (bkt, (batch, _, _)) =>
        assert(batch.forall(_.startsWith("b1-")),
          s"$bkt: acked b0 files not absorbed: $batch")
        assert(batch.nonEmpty == batch.exists(_.startsWith("b1-")),
          s"$bkt: unacked b1 files were absorbed")
      }
    }
  }
}
