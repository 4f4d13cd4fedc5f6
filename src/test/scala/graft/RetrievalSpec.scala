package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.analytics.RetrievalQueries
import graft.streaming.StreamingPipeline

/** The lexical retrieval family (round 14): BM25 semantics against a
  * hand-derived synthetic corpus, the stored-postings lifecycle
  * (streamed ingest == one-shot recount; replay is a no-op — the
  * exactly-once ack is the CORRECTNESS condition, a replayed doc would
  * double every tf), served == recomputed identity, and RRF fusion
  * self-consistency. Cross-engine exactness is pinned by the catalog
  * gates (q_bm25_topk / q_bm25_served / q_hybrid_rrf share the
  * full-recompute DuckDB oracle).
  */
class RetrievalSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** A corpus whose BM25 ranking is hand-derivable. Query docs are
    * doc_id < 5 (the family's query-set convention); doc 0's single
    * salient term is "rare".
    */
  private def tinyCorpus: DataFrame = {
    import spark.implicits._
    Seq(
      (0L, "rare rare rare"), // query: salient term = rare, dl=3
      (1L, "filler"), (2L, "filler"), (3L, "filler"), (4L, "filler"),
      (5L, "rare common common common"),  // tf(rare)=1, dl=4
      (6L, "rare rare common common"),    // tf(rare)=2, dl=4
      (7L, "common common common common") // no rare: not a candidate
    ).toDF("doc_id", "text")
  }

  private def postingsSet(dir: String): Set[(Long, String, Long)] =
    spark.read.parquet(dir).select(col("doc_id"), col("term"), col("tf"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("BM25 over the hand-derived corpus: tf ordering, idf value, " +
      "non-candidates absent") {
    withTempDir { root =>
      tinyCorpus.repartition(1).write.parquet(s"$root/documents.parquet")
      val out = SparkEntry.queries("q_bm25_topk")(spark, root.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getInt(2), r.getInt(3), r.getDouble(4)))
      val q0 = out.filter(_._1 == 0L)
      // candidates for "rare": docs 5 and 6 only (doc 0 is the query
      // itself, doc 7 has no query term, fillers share no term)
      assert(q0.map(_._2).toSet == Set(5L, 6L), q0.mkString(", "))
      // higher tf at equal dl ranks first
      assert(q0.find(_._2 == 6L).get._3 == 1 && q0.find(_._2 == 5L).get._3 == 2)
      // hand-derived score for (q0, doc6): N=8, totlen=19, df(rare)=3,
      // idf = floor(log2(1 + 5.5/3.5)·2^30)/2^30, tfnorm = 44·2·19 /
      // (20·2·19 + 6·19 + 18·4·8); display floors at 1e-4
      val idf = math.floor(
        (math.log(1.0 + 5.5 / 3.5) / math.log(2.0)) * 1073741824.0) / 1073741824.0
      val expected = math.floor(
        idf * (44.0 * 2 * 19 / (20 * 2 * 19 + 6 * 19 + 18 * 4 * 8)) * 10000) / 10000
      val got = q0.find(_._2 == 6L).get._5
      assert(math.abs(got - expected) < 1e-6, s"got $got expected $expected")
      // matched-term count: exactly the one query term
      assert(q0.forall(_._4 == 1))
    }
  }

  test("streamed postings ingest == one-shot recount; replayed batch " +
      "is a no-op") {
    withTempDir { root =>
      val incoming = Files.createDirectory(root.resolve("incoming"))
      val pstDir = root.resolve("pst").toString
      val dlDir = root.resolve("dl").toString
      val ckpt = root.resolve("ckpt").toString
      val b0 = SyntheticBatches.batchDocs(spark, 0, 80)
      val b1 = SyntheticBatches.batchDocs(spark, 1, 80)

      land(b0, incoming, "b0.parquet")
      StreamingPipeline.startPostingsIngest(
        spark, incoming.toString, pstDir, dlDir, ckpt,
        Trigger.AvailableNow()).awaitTermination(120000)
      val oneShot0 = RetrievalQueries.postingsDeltas(b0, 1)
        .select(col("doc_id"), col("term"), col("tf")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(postingsSet(pstDir) == oneShot0,
        "stored postings after batch 0 drifted from a one-shot recount")

      land(b1, incoming, "b1.parquet")
      StreamingPipeline.startPostingsIngest(
        spark, incoming.toString, pstDir, dlDir, ckpt,
        Trigger.AvailableNow()).awaitTermination(120000)
      val both = RetrievalQueries.postingsDeltas(b0.union(b1), 1)
        .select(col("doc_id"), col("term"), col("tf")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(postingsSet(pstDir) == both,
        "stored postings after batch 1 drifted from a full recount")

      // replay: re-append batch 0 under its original batchId — the ack
      // marker must short-circuit; a double-ingested doc would double
      // its tf rows
      RetrievalQueries.appendToPostingsIdempotent(b0, pstDir, dlDir, 0L)
      assert(postingsSet(pstDir) == both, "replayed batch mutated the index")
      // N = count of dl rows (one per ingested doc — the scalar source)
      val n = spark.read.parquet(dlDir).count()
      assert(n == 160L, s"doc count $n after replay")
      val totlen = spark.read.parquet(dlDir).agg(sum("dl")).head.getLong(0)
      assert(totlen == 160L * 40, s"totlen $totlen after replay")
    }
  }

  test("streamed takedown: a deleted doc stops appearing in the serve " +
      "the moment its batch acks; the serve equals a full recompute " +
      "over the surviving corpus; a replayed delete (direct AND via " +
      "stream restart) is a no-op; purge leaves the serve unchanged " +
      "and the bytes clean") {
    withTempDir { root =>
      val incoming = Files.createDirectory(root.resolve("incoming"))
      val takedowns = Files.createDirectory(root.resolve("takedowns"))
      val pstDir = root.resolve("pst").toString
      val dlDir = root.resolve("dl").toString
      val dirs = (pstDir, dlDir)
      val b0 = SyntheticBatches.batchDocs(spark, 0, 80)
      val b1 = SyntheticBatches.batchDocs(spark, 1, 80)
      land(b0, incoming, "b0.parquet")
      land(b1, incoming, "b1.parquet")
      StreamingPipeline.startPostingsIngest(
        spark, incoming.toString, pstDir, dlDir,
        root.resolve("ckpt").toString, Trigger.AvailableNow())
        .awaitTermination(120000)
      val qt = RetrievalQueries.queryTermsAll(b0.filter(col("doc_id") < 3))
      def serve(): Seq[(Long, Long, Int, Double)] =
        RetrievalQueries.bm25RankedFromDirs(spark, dirs, qt, 9L)
          .select(col("q_id"), col("n_id"), col("rank"), col("score"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
            r.getDouble(3))).sortBy(t => (t._1, t._3)).toSeq
      val before = serve()
      // victim: a ranked non-query doc (takedown of a doc users FIND)
      val victim = before.map(_._2).find(_ >= 3L).get
      assert(before.exists(_._2 == victim))

      import spark.implicits._
      land(Seq(victim).toDF("doc_id"), takedowns, "t0.parquet")
      val tkCkpt = root.resolve("tkckpt").toString
      StreamingPipeline.startTakedownIngest(
        spark, takedowns.toString, pstDir, dlDir, tkCkpt,
        Trigger.AvailableNow()).awaitTermination(120000)
      val after = serve()
      assert(!after.exists(_._2 == victim),
        "deleted doc still appears in the serve")
      // the served ranking equals a FULL RECOMPUTE over survivors —
      // including the (N, totlen) retraction, which shifts every
      // surviving score's idf/avgdl, not just the victim's rows
      val survivors = b0.union(b1).filter(col("doc_id") =!= victim)
      val (rp, rd, rg) = RetrievalQueries.recomputedState(survivors, qt)
      val expected = RetrievalQueries.bm25Ranked(qt, rp, rd, rg)
        .select(col("q_id"), col("n_id"), col("rank"), col("score"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getDouble(3))).sortBy(t => (t._1, t._3)).toSeq
      assert(after == expected,
        "post-takedown serve drifted from the surviving-corpus recompute")

      // replayed delete batch (direct call, same id, different keys):
      // the tombstone ack must make it a no-op
      RetrievalQueries.deleteFromPostingsIdempotent(
        Seq(3L).toDF("doc_id"), pstDir, dlDir, 0L)
      assert(serve() == after, "replayed delete batch mutated the index")
      // streaming replay: restarting the takedown stream on the same
      // checkpoint re-delivers nothing and changes nothing
      StreamingPipeline.startTakedownIngest(
        spark, takedowns.toString, pstDir, dlDir, tkCkpt,
        Trigger.AvailableNow()).awaitTermination(120000)
      assert(serve() == after, "takedown stream restart mutated the index")

      // physical purge: serve identical, bytes clean, tombstones
      // cleared — and the replayed batch STILL a no-op afterwards
      val purged = RetrievalQueries.purgePostingsTombstones(
        spark, pstDir, dlDir)
      assert(purged > 0)
      assert(serve() == after, "purge changed the served ranking")
      assert(spark.read.parquet(pstDir)
        .filter(col("doc_id") === victim).count() == 0L)
      assert(spark.read.parquet(dlDir)
        .filter(col("doc_id") === victim).count() == 0L)
      assert(!graft.sinks.IncrementalParquet.hasTombstones(spark, pstDir))
      RetrievalQueries.deleteFromPostingsIdempotent(
        Seq(5L).toDF("doc_id"), pstDir, dlDir, 0L)
      assert(serve() == after,
        "replayed delete batch re-applied after purge")
    }
  }

  test("leak-free splits: planted duplicates that the per-id recipe " +
      "would separate stay co-located; leaky_docs is zero") {
    import spark.implicits._
    import graft.functions.SimilarityFunctions.elementHash
    // find two doc ids whose ID-keyed buckets land in DIFFERENT splits
    // (the q_split_assign recipe would leak a duplicate across them)
    val buckets = spark.range(0, 64)
      .select(col("id"), (elementHash(col("id").cast("string")) % 100)
        .as("b")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def sp(b: Long) = if (b < 80) "train" else if (b < 90) "val" else "test"
    val pair = (for {
      a <- 0L until 64L; c <- (a + 1) until 64L
      if sp(buckets(a)) != sp(buckets(c))
    } yield (a, c)).head
    withTempDir { root =>
      val dup = "this exact document appears twice"
      (Seq((pair._1, dup, "s0"), (pair._2, dup, "s1")) ++
        (0L until 64L).filterNot(i => i == pair._1 || i == pair._2)
          .map(i => (i, s"unique text $i", s"s${i % 2}")))
        .toDF("doc_id", "text", "source").repartition(1)
        .write.parquet(s"$root/documents.parquet")
      val out = SparkEntry.queries("q_split_leakfree")(spark, root.toString)
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getLong(3)))
      // the guard the query PROVES: no document's dup cluster spans
      // two splits — even for the pair the per-id hash separates
      assert(out.forall(_._4 == 0L), out.mkString(", "))
      assert(out.map(_._3).sum == 64L)
    }
  }

  test("streamed diversity state == one-shot recount; gram-set replay " +
      "is idempotent but the counters need the ack (replay is a no-op)") {
    import spark.implicits._
    withTempDir { root =>
      val incoming = Files.createDirectory(root.resolve("incoming"))
      val (uniDir, biDir, cntDir, sktDir) = (root.resolve("uni").toString,
        root.resolve("bi").toString, root.resolve("cnt").toString,
        root.resolve("skt").toString)
      val ckpt = root.resolve("ck").toString
      def batch(b: Long) = SyntheticBatches.batchDocs(spark, b, 60)
        .withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(3))))
      land(batch(0), incoming, "b0.parquet")
      land(batch(1), incoming, "b1.parquet")
      StreamingPipeline.startDiversityIngest(
        spark, incoming.toString, uniDir, biDir, cntDir, sktDir, ckpt,
        Trigger.AvailableNow()).awaitTermination(120000)
      val both = batch(0).union(batch(1))
      def uniSet(dir: String) = spark.read.parquet(dir)
        .select(col("source"), col("term")).distinct().collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val expUni = graft.functions.TextFunctions
        .tokens(lower(col("text")))
      val expect = both.select(col("source"), explode(expUni).as("term"))
        .distinct().collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(uniSet(uniDir) == expect, "stored unigram set drifted")
      val totTokens = spark.read.parquet(cntDir)
        .agg(sum("n_tokens")).head.getLong(0)
      assert(totTokens == 120L * 40, s"token total $totTokens")
      // replay batch 0: gram union is idempotent anyway; the COUNTERS
      // are what the ack must protect
      RetrievalQueries.appendToDiversityIdempotent(
        batch(0), uniDir, biDir, cntDir, sktDir, 0L)
      assert(spark.read.parquet(cntDir).agg(sum("n_tokens"))
        .head.getLong(0) == 120L * 40, "replayed batch doubled the totals")
      assert(uniSet(uniDir) == expect)
    }
  }

  test("q_bm25_served == q_bm25_topk on the same corpus (store/serve " +
      "round trip loses nothing)") {
    val a = SparkEntry.queries("q_bm25_topk")(spark, sfDir).collect().toSeq
    val b = SparkEntry.queries("q_bm25_served")(spark, sfDir).collect().toSeq
    assert(a == b)
  }

  test("phrase search matches ADJACENT word pairs only, counts " +
      "occurrences — bag-of-words co-occurrence must not match") {
    import spark.implicits._
    withTempDir { root =>
      Seq(
        (0L, "alpha beta alpha beta"), // phrase = "alpha beta" (2 > 1)
        (1L, "filler pad"), (2L, "filler pad"), (3L, "filler pad"),
        (4L, "filler pad"),
        (5L, "alpha beta x"),                    // adjacent once
        (6L, "alpha x beta"),                    // both words, NOT adjacent
        (7L, "alpha beta alpha beta alpha beta") // adjacent thrice
      ).toDF("doc_id", "text").repartition(1)
        .write.parquet(s"$root/documents.parquet")
      val q0 = SparkEntry.queries("q_phrase_search")(spark, root.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getLong(3))).filter(_._1 == 0L)
      assert(q0.map(x => x._2 -> x._4).toMap == Map(5L -> 1L, 7L -> 3L),
        q0.mkString(", "))
      // occurrence-count ordering: doc 7 (3 hits) above doc 5 (1 hit)
      assert(q0.find(_._2 == 7L).get._3 == 1 && q0.find(_._2 == 5L).get._3 == 2)
    }
  }

  test("gram-cap guard: a non-Heaps random-token source refuses LOUDLY " +
      "in fail mode (nothing written); in sketch mode its exact rows " +
      "are excluded (stored state bounded) and the report serves its " +
      "uniq counts from the HLL sketches while normal sources stay " +
      "bit-exact") {
    import spark.implicits._
    withTempDir { root =>
      val (uniDir, biDir, cntDir, sktDir) = (root.resolve("uni").toString,
        root.resolve("bi").toString, root.resolve("cnt").toString,
        root.resolve("skt").toString)
      // adversarial source: EVERY token unique (the hex-blob case —
      // gram growth linear in tokens); normal source: fixed 4-word
      // vocabulary
      def mkBatch(b: Int): DataFrame =
        ((0 until 30).map(i => (b * 1000L + i,
          (0 until 20).map(j => s"x${b}_${i}_$j").mkString(" "), "hex")) ++
          (0 until 30).map(i => (b * 1000L + 500 + i,
            "alpha beta gamma delta", "norm")))
          .toDF("doc_id", "text", "source")
      def append(d: DataFrame, id: Long) =
        RetrievalQueries.appendToDiversityIdempotent(
          d, uniDir, biDir, cntDir, sktDir, id)
      spark.conf.set(RetrievalQueries.MaxGramsPerSourceKey, "100")
      try {
        // FAIL mode (the default): the first append already puts the
        // hex source past 100 distinct grams — refuse before ANY write
        val e = intercept[IllegalStateException] { append(mkBatch(0), 0L) }
        assert(e.getMessage.contains("hex") &&
          e.getMessage.contains("sketch"), e.getMessage)
        assert(!Files.exists(root.resolve("uni")) &&
          !Files.exists(root.resolve("skt")),
          "fail mode must leave all four tables untouched")

        // SKETCH mode: appends proceed, the capped source's gram rows
        // never reach the exact tables
        spark.conf.set(RetrievalQueries.OnGramCapKey, "sketch")
        append(mkBatch(0), 0L)
        append(mkBatch(1), 1L)
        RetrievalQueries.compactDiversityMinor(
          spark, uniDir, biDir, cntDir, sktDir)
        val uniBySource = spark.read.parquet(uniDir)
          .groupBy(col("source")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(!uniBySource.contains("hex"),
          s"capped source leaked into the exact table: $uniBySource")
        assert(uniBySource("norm") == 4L, uniBySource.toString)

        val report = RetrievalQueries.diversityServed(
            spark, uniDir, biDir, cntDir, sktDir)
          .collect().map(r => r.getString(0) ->
            (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
        // normal source: exact arm, bit-identical to a recount
        assert(report("norm") == ((60L, 240L, 4L, 3L)), report.toString)
        // capped source: counters stay EXACT (they are sum-merge
        // state, never sketched); uniq counts come from the sketches
        // within HLL error (true distincts: 1200 unigrams, 1140
        // bigrams — every gram unique)
        val (hd, ht, hu, hb) = report("hex")
        assert(hd == 60L && ht == 1200L, report.toString)
        assert(math.abs(hu - 1200.0) / 1200.0 < 0.05, s"uni est $hu")
        assert(math.abs(hb - 1140.0) / 1140.0 < 0.05, s"bi est $hb")
      } finally {
        spark.conf.unset(RetrievalQueries.MaxGramsPerSourceKey)
        spark.conf.unset(RetrievalQueries.OnGramCapKey)
      }
    }
  }

  test("cap raise after truncation: a source whose exact gram set " +
      "ever lost a batch keeps serving from the sketches at ANY later " +
      "cap — partial exact counts can never masquerade as exact") {
    import spark.implicits._
    withTempDir { root =>
      val (uniDir, biDir, cntDir, sktDir) = (root.resolve("uni").toString,
        root.resolve("bi").toString, root.resolve("cnt").toString,
        root.resolve("skt").toString)
      // 600 fresh unigrams per batch for the hex source
      def mkBatch(b: Int): DataFrame =
        (0 until 30).map(i => (b * 1000L + i,
          (0 until 20).map(j => s"x${b}_${i}_$j").mkString(" "), "hex"))
          .toDF("doc_id", "text", "source")
      def append(d: DataFrame, id: Long) =
        RetrievalQueries.appendToDiversityIdempotent(
          d, uniDir, biDir, cntDir, sktDir, id)
      spark.conf.set(RetrievalQueries.OnGramCapKey, "sketch")
      spark.conf.set(RetrievalQueries.MaxGramsPerSourceKey, "1300")
      try {
        append(mkBatch(0), 0L) // 600  <= 1300: appended exactly
        append(mkBatch(1), 1L) // 1200 <= 1300: appended exactly
        append(mkBatch(2), 2L) // 1800 > 1300: truncated + marked
        val exactRows = spark.read.parquet(uniDir)
          .filter(col("source") === "hex").count()
        assert(exactRows == 1200L, s"exact rows $exactRows")
        // raise the cap far above the estimate: without the persisted
        // marker the serve would fall back to the exact arm and report
        // the PARTIAL 1200 as if it were exact
        spark.conf.set(RetrievalQueries.MaxGramsPerSourceKey, "10000000")
        val hex = RetrievalQueries.diversityServed(
            spark, uniDir, biDir, cntDir, sktDir)
          .filter(col("source") === "hex")
          .select(col("uniq_unigrams")).head.getLong(0)
        assert(math.abs(hex - 1800.0) / 1800.0 < 0.05,
          s"served $hex — expected ~1800 from the sketch, not the " +
            "1200-row partial exact set")
        // marker resilience: markers are full-digest-named,
        // content-verified, and written via atomic rename. An
        // in-flight _tmp. file is NOT a marker; a crash-orphaned
        // EMPTY file is an UNKNOWABLE marker (it names no source) —
        // the next truncating append REPAIRS it (a marker whose
        // content doesn't round-trip is treated as absent and
        // rewritten), and an unrepaired one fails the serve
        // actionably (asserted below).
        val mdir = root.resolve("skt").resolve("_truncated")
        val marker = Files.list(mdir).iterator().asScala.toSeq
          .filterNot(_.getFileName.toString.startsWith(".")) match {
          case Seq(one) => one
          case other => fail(s"expected 1 marker, got $other")
        }
        assert(marker.getFileName.toString.length == 64,
          s"marker name must be the full sha-256 hex: $marker")
        Files.write(marker, Array.emptyByteArray)            // crashed write
        // drop the stale checksum sidecar too — a real partial write
        // has a matching partial crc, not the old content's
        Files.deleteIfExists(mdir.resolve("." + marker.getFileName + ".crc"))
        Files.write(mdir.resolve("_tmp.orphan"), "hex".getBytes("UTF-8"))
        spark.conf.set(RetrievalQueries.MaxGramsPerSourceKey, "1300")
        append(mkBatch(3), 3L) // still over cap: re-marks, repairing
        assert(new String(Files.readAllBytes(marker), "UTF-8") == "hex",
          "truncating append must rewrite the corrupted marker")
        spark.conf.set(RetrievalQueries.MaxGramsPerSourceKey, "10000000")
        val hex2 = RetrievalQueries.diversityServed(
            spark, uniDir, biDir, cntDir, sktDir)
          .filter(col("source") === "hex")
          .select(col("uniq_unigrams")).head.getLong(0)
        assert(math.abs(hex2 - 2400.0) / 2400.0 < 0.05,
          s"served $hex2 — expected ~2400 from the sketch after repair")
        // an empty marker that NO later append repairs (e.g. a
        // legacy non-atomic write for a source never appended again)
        // names an unknown truncated source: the serve must fail
        // actionably, never skip it — skipping would report that
        // source's partial exact gram set as exact forever
        val orphan = mdir.resolve("0" * 64)
        Files.write(orphan, Array.emptyByteArray)
        val ex = intercept[IllegalStateException] {
          RetrievalQueries.diversityServed(
            spark, uniDir, biDir, cntDir, sktDir).collect()
        }
        assert(ex.getMessage.contains("empty truncation marker"),
          s"wrong failure: ${ex.getMessage}")
        Files.deleteIfExists(orphan)
        Files.deleteIfExists(mdir.resolve("." + orphan.getFileName + ".crc"))
      } finally {
        spark.conf.unset(RetrievalQueries.MaxGramsPerSourceKey)
        spark.conf.unset(RetrievalQueries.OnGramCapKey)
      }
    }
  }

  test("phraseSearchText == driver-side brute force over a seeded " +
      "random corpus (overlapping and self-repeating phrases included)") {
    import spark.implicits._
    val rnd = new scala.util.Random(421)
    val alphabet = Vector("a", "b", "c", "d")
    // tiny alphabet ⇒ dense repeats and overlapping occurrences — the
    // positional-walk edge cases (e.g. "a a a a" contains "a a" 3×)
    val docs = (0L until 40L).map(i =>
      (i, Seq.fill(3 + rnd.nextInt(18))(
        alphabet(rnd.nextInt(alphabet.size))).mkString(" ")))
    val phrases = Seq.fill(6)(
      Seq.fill(2 + rnd.nextInt(3))(
        alphabet(rnd.nextInt(alphabet.size))).mkString(" ")).distinct
    def bruteOcc(text: String, phrase: String): Long = {
      val ts = text.split(" ").toSeq
      val ps = phrase.split(" ").toSeq
      (0 to ts.length - ps.length)
        .count(i => ts.slice(i, i + ps.length) == ps).toLong
    }
    withTempDir { root =>
      docs.toDF("doc_id", "text").repartition(1)
        .write.parquet(s"$root/documents.parquet")
      val got = RetrievalQueries.phraseSearchText(
          spark, root.toString, phrases)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getInt(2), r.getLong(3)))
        .toMap
      for ((p, qi) <- phrases.zipWithIndex) {
        val expected = docs.map { case (id, t) => id -> bruteOcc(t, p) }
          .filter(_._2 > 0L)
          .sortBy { case (id, occ) => (-occ, id) }
          .take(10) // TopK
          .zipWithIndex.map { case ((id, occ), rk) =>
            (qi.toLong, id) -> ((rk + 1), occ) }
          .toMap
        assert(got.view.filterKeys(_._1 == qi).toMap == expected,
          s"phrase '$p': got ${got.filter(_._1._1 == qi)} vs $expected")
      }
    }
  }

  test("external-text BM25 search: an arbitrary query string serves " +
      "from the stored index; scores match the corpus-doc serve and an " +
      "exact-match document is retrievable (no self-exclusion leak)") {
    withTempDir { root =>
      tinyCorpus.repartition(1).write.parquet(s"$root/documents.parquet")
      // the catalog ranking for corpus-doc query 0 ("rare rare rare"):
      // candidates 5 and 6 with scores that depend only on corpus
      // state + the term — not on who asked
      val catalog = SparkEntry.queries("q_bm25_topk")(spark, root.toString)
        .collect().filter(_.getLong(0) == 0L)
        .map(r => r.getLong(1) -> r.getDouble(4)).toMap
      val out = RetrievalQueries.bm25SearchText(
          spark, root.toString, Seq("rare rare rare"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getDouble(4)))
      // q_id is the input position
      assert(out.forall(_._1 == 0L), out.mkString(", "))
      // the EXACT-MATCH corpus doc (doc 0 carries the same text) is
      // retrieved — the corpus-doc serve's self-exclusion must not
      // fire for external queries — and ranks FIRST (tf 3 at dl 3
      // beats tf 2 and tf 1 at dl 4)
      assert(out.map(_._2).toSet == Set(0L, 5L, 6L), out.mkString(", "))
      assert(out.find(_._2 == 0L).get._3 == 1)
      // docs 5 and 6 score exactly what the catalog serve gave them
      for (n <- Seq(5L, 6L))
        assert(out.find(_._2 == n).get._4 == catalog(n),
          s"doc $n: ${out.find(_._2 == n).get._4} vs ${catalog(n)}")
    }
  }

  test("BM25 serve arms: join arm == literal arm row-identical; the " +
      "join arm plans a postings semi-join, the literal arm pushes " +
      "In(term) literals") {
    // the arm follows the request's term bound: the catalog's 5 query
    // docs × 3 terms take the literal arm, a bound past the 16,384-term
    // line the join arm; the query terms are the distributed frame the
    // catalog derives past that line
    val dirs = RetrievalQueries.incrementalPostingsDirs(spark, sfDir)
    val qt = RetrievalQueries.queryTermsAll(
      spark.read.parquet(s"$sfDir/documents.parquet").filter(col("doc_id") < 5))
    def servedAt(termBound: Long) =
      RetrievalQueries.bm25RankedFromDirs(spark, dirs, qt, termBound)
    // identity: both arms restrict the postings to the same distinct
    // query-term set, so the scored relation cannot differ
    val litArm = servedAt(15L)
    val joinArm = servedAt(Long.MaxValue)
    val a = litArm.collect().toSeq.map(_.toString).sorted
    val b = joinArm.collect().toSeq.map(_.toString).sorted
    assert(a.nonEmpty && a == b)
    // arm identity is a PLAN property: the literal arm's postings scan
    // carries the collected In(term) pushdown; the join arm has no
    // term literals anywhere and restricts via a broadcast semi-join
    val lp = litArm.queryExecution.executedPlan.toString
    assert(lp.contains("In(term"), lp.take(3000))
    val jp = joinArm.queryExecution.executedPlan.toString
    assert(!jp.contains("In(term"), jp.take(3000))
    assert(jp.contains("LeftSemi"), jp.take(3000))
  }

  test("streamed phrase-index ingest == one-shot recount; replayed " +
      "batch is a no-op; the serve reads ONLY the stored bigrams") {
    withTempDir { root =>
      val incoming = Files.createDirectory(root.resolve("incoming"))
      val bpstDir = root.resolve("bpst").toString
      val ckpt = root.resolve("ckpt").toString
      val b0 = SyntheticBatches.batchDocs(spark, 0, 80)
      val b1 = SyntheticBatches.batchDocs(spark, 1, 80)
      def stored() = spark.read.parquet(bpstDir)
        .select(col("doc_id"), col("bigram"), col("pos")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      def recount(d: DataFrame) = RetrievalQueries.phrasePostingsDeltas(d, 1)
        .select(col("doc_id"), col("bigram"), col("pos")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet

      land(b0, incoming, "b0.parquet")
      StreamingPipeline.startPhraseIngest(
        spark, incoming.toString, bpstDir, ckpt,
        Trigger.AvailableNow()).awaitTermination(120000)
      assert(stored() == recount(b0),
        "stored bigram postings after batch 0 drifted from a recount")

      land(b1, incoming, "b1.parquet")
      StreamingPipeline.startPhraseIngest(
        spark, incoming.toString, bpstDir, ckpt,
        Trigger.AvailableNow()).awaitTermination(120000)
      val both = recount(b0.union(b1))
      assert(stored() == both,
        "stored bigram postings after batch 1 drifted from a recount")

      // replay batch 0 under its original batchId: the ack marker must
      // short-circuit — a double-ingested doc would double its occ rows
      RetrievalQueries.appendToPhraseIdempotent(b0, bpstDir, 0L)
      assert(stored() == both, "replayed batch mutated the phrase index")
    }
  }

  test("q_phrase_served == q_phrase_search on the same corpus " +
      "(store/serve round trip loses nothing)") {
    val a = SparkEntry.queries("q_phrase_search")(spark, sfDir).collect().toSeq
    val b = SparkEntry.queries("q_phrase_served")(spark, sfDir).collect().toSeq
    assert(a.nonEmpty && a == b)
  }

  test("trigram phrase via positional intersection: three words in " +
      "order match, a bigram-pair in the WRONG order or with a gap " +
      "does not") {
    import spark.implicits._
    withTempDir { root =>
      Seq(
        (0L, "alpha beta gamma alpha beta gamma"), // phrase: alpha beta gamma (×2)
        (1L, "pad x"), (2L, "pad x"), (3L, "pad x"), (4L, "pad x"),
        (5L, "alpha beta gamma end"),       // exact trigram once
        (6L, "alpha beta x beta gamma"),    // both bigrams, NOT consecutive
        (7L, "beta gamma alpha beta zzz"),  // both bigrams, wrong order
        (8L, "alpha beta gamma alpha beta gamma zz") // twice
      ).toDF("doc_id", "text").repartition(1)
        .write.parquet(s"$root/documents.parquet")
      val q0 = SparkEntry.queries("q_phrase_trigram")(spark, root.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getLong(3))).filter(_._1 == 0L)
      // docs 6 and 7 contain BOTH constituent bigrams ("alpha beta",
      // "beta gamma") but never at consecutive offsets in order —
      // a count-only bigram index would wrongly admit them
      assert(q0.map(x => x._2 -> x._4).toMap == Map(5L -> 1L, 8L -> 2L),
        q0.mkString(", "))
      assert(q0.find(_._2 == 8L).get._3 == 1)
    }
  }

  test("external-text phrase search at arbitrary n: a 4-word phrase " +
      "matches only aligned consecutive bigrams; all-bigrams-present-" +
      "but-unaligned does not match; n=2 degenerates to the bigram walk") {
    import spark.implicits._
    withTempDir { root =>
      Seq(
        (0L, "w x y z w x y z"),      // "w x y z" twice (bases 0 and 4)
        (1L, "x y pad w x pad y z"),  // ALL 3 bigrams, never aligned
        (2L, "w x y pad"),            // prefix only (2 of 3 bigrams)
        (3L, "pad w x y z pad")       // once, mid-doc
      ).toDF("doc_id", "text").repartition(1)
        .write.parquet(s"$root/documents.parquet")
      val out = RetrievalQueries.phraseSearchText(
          spark, root.toString, Seq("w x y z", "w x"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getLong(3)))
      val q0 = out.filter(_._1 == 0L).map(x => x._2 -> x._4).toMap
      assert(q0 == Map(0L -> 2L, 3L -> 1L), out.mkString(", "))
      // the n=2 phrase is the plain bigram posting walk: docs 0 (×2),
      // 1, 2, 3 all contain "w x" once except doc 0
      val q1 = out.filter(_._1 == 1L).map(x => x._2 -> x._4).toMap
      assert(q1 == Map(0L -> 2L, 1L -> 1L, 2L -> 1L, 3L -> 1L),
        out.mkString(", "))
    }
  }

  test("MMR diversification: an exact near-duplicate of the first pick " +
      "loses to a dissimilar lower-relevance candidate") {
    import spark.implicits._
    withTempDir { root =>
      def vec(parts: (Int, Float)*): Array[Float] = {
        val a = Array.fill(64)(0.0f)
        parts.foreach { case (i, x) => a(i) = x }
        a
      }
      val rows = Seq(
        (0L, vec(0 -> 1.0f)), // the query
        // junk fillers for the other query slots (anti-aligned)
        (1L, vec(0 -> -1.0f)), (2L, vec(0 -> -1.0f)),
        (3L, vec(0 -> -1.0f)), (4L, vec(0 -> -1.0f)),
        (5L, vec(0 -> 0.995f, 1 -> 0.0999f)), // A: top relevance
        (6L, vec(0 -> 0.995f, 1 -> 0.0999f)), // B: exact duplicate of A
        (7L, vec(2 -> 1.0f, 0 -> 0.05f))      // C: dissimilar, low rel
      ).map { case (id, v) => (id, v, 0) }
      rows.toDF("vec_id", "embedding", "label").repartition(1)
        .write.parquet(s"$root/embeddings.parquet")
      val q0 = SparkEntry.queries("q_mmr_diversify")(spark, root.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .filter(_._1 == 0L).sortBy(_._3)
      // pick 1 = A (5, ties to B broken by id); pick 2 must be C (7):
      // B's mmr = ½·rel − ½·1.0 < 0 while C's ≈ ½·0.05 − ε — pure
      // top-k would have returned B second
      assert(q0(0)._2 == 5L, q0.mkString(", "))
      assert(q0(1)._2 == 7L, q0.mkString(", "))
      assert(!q0.take(2).exists(_._2 == 6L))
    }
  }

  test("external-vector MMR search: diversification holds for a raw " +
      "query vector — the exact duplicate of pick 1 loses pick 2 to a " +
      "dissimilar lower-relevance candidate") {
    import spark.implicits._
    withTempDir { root =>
      def vec(parts: (Int, Float)*): Array[Float] = {
        val a = Array.fill(64)(0.0f)
        parts.foreach { case (i, x) => a(i) = x }
        a
      }
      Seq(
        (1L, vec(0 -> 0.995f, 1 -> 0.0999f)), // A: top relevance
        (2L, vec(0 -> 0.995f, 1 -> 0.0999f)), // B: exact duplicate of A
        (3L, vec(2 -> 1.0f, 0 -> 0.05f)),     // C: dissimilar, low rel
        (4L, vec(0 -> -1.0f)), (5L, vec(0 -> -1.0f))
      ).map { case (id, v) => (id, v, 0) }
        .toDF("vec_id", "embedding", "label").repartition(1)
        .write.parquet(s"$root/embeddings.parquet")
      val out = RetrievalQueries.mmrSearchVectors(
          spark, root.toString, Seq(vec(0 -> 1.0f)), pool = 5, picks = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      assert(out.forall(_._1 == 0L), out.mkString(", "))
      val byPick = out.sortBy(_._3)
      assert(byPick(0)._2 == 1L, out.mkString(", ")) // A first (tie → id)
      assert(byPick(1)._2 == 3L, out.mkString(", ")) // C beats the dup B
    }
  }

  test("mmrSearchVectors: size-aware candidate pool — the default " +
      "equals the forced-exact arm on a small corpus, and the forced-" +
      "indexed arm pools from the stored codes, seeding with an " +
      "exact-match external query's stored twin at pick 1") {
    val v7 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") === 7).select(col("embedding"))
      .head.getSeq[Float](0).toArray
    def rows(df: DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    // the entry's default dials: pool 20, 5 picks, λ 0.5
    val dflt = rows(RetrievalQueries.mmrSearchVectors(spark, sfDir, Seq(v7)))
    val embKey = graft.core.Tables.derivedStateKey(spark, sfDir, "embeddings")
    val exact = rows(RetrievalQueries.mmrVectorsExact(
      spark, sfDir, embKey, Seq(v7), 20, 5, 0.5))
    assert(dflt == exact,
      s"below the 16 MB line the default must pick the exact arm:\n" +
        s"$dflt\nvs\n$exact")
    val indexed = rows(RetrievalQueries.mmrVectorsIndexed(
      spark, sfDir, Seq(v7), 20, 5, 0.5))
    // pick 1 maximizes λ·rel: BOTH arms must seed with the stored twin
    // (cos 1.0 → mmr = λ = 0.5) — external ids never self-exclude, and
    // the indexed pool must surface the twin through the codes serve
    assert(exact.head == ((0L, 7L, 1, 0.5)), exact.toString)
    assert(indexed.head == ((0L, 7L, 1, 0.5)), indexed.toString)
    assert(exact.map(_._3) == (1 to 5) && indexed.map(_._3) == (1 to 5),
      s"both arms must fill all picks: $exact / $indexed")
  }

  test("searchDiversified: external (text, vector) query — the " +
      "exact-match stored doc tops BOTH fused arms and seeds pick 1 " +
      "with mmr = lambda * 2/61; picks are distinct") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val qtext = docs.filter(col("doc_id") === 7)
      .select(col("text")).head.getString(0)
    val qvec = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") === 7).select(col("embedding"))
      .head.getSeq[Float](0).toArray
    val out = RetrievalQueries.searchDiversified(
        spark, sfDir, Seq((qtext, qvec)))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    assert(out.forall(_._1 == 0L), out.mkString(", "))
    // doc 7 is rank 1 in the BM25 arm (exact-match text, no
    // self-exclusion on external ids) AND rank 1 in the vector arm
    // (cosine 1.0) → rrf = 2/61, the maximum any doc can score →
    // seed pick, mmr = 0.5 * 2/61 floored to 4 decimals
    assert(out.head == ((0L, 7L, 1, math.floor(1.0 / 61 * 10000) / 10000)),
      out.mkString(", "))
    assert(out.map(_._3) == (1 to out.size) &&
      out.map(_._2).distinct.size == out.size, out.mkString(", "))
  }

  test("indexed MMR honors dials beyond the default ADC budget: a " +
      "pool > 24 widens the re-rank cut so every pick fills (a fixed " +
      "topC would silently cap the pool at the ADC stage)") {
    val v7 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") === 7).select(col("embedding"))
      .head.getSeq[Float](0).toArray
    val out = RetrievalQueries.mmrVectorsIndexed(
        spark, sfDir, Seq(v7), pool = 30, picks = 25, lam = 0.5)
      .collect().map(r => (r.getInt(2), r.getLong(1))).toSeq
    assert(out.map(_._1) == (1 to 25),
      s"picks must fill past the 24-candidate ADC default: " +
        s"${out.map(_._1)}")
    assert(out.map(_._2).distinct.length == 25, out.toString)
  }

  test("relevance gate: streamed scores == one batch pass bit-for-bit, " +
      "and agree with the gated q_bm25_topk scores for the same query") {
    import graft.analytics.RetrievalQueries
    // frozen model for query doc 0's salient terms, read from the
    // stored index the catalog lifecycle built for sf0.001
    val (pstDir, dlDir) =
      RetrievalQueries.incrementalPostingsDirs(spark, sfDir)
    // query 0's terms as the catalog derives them: from the gated
    // top-k output we only know the ranking, so re-derive via the
    // oracle route — take them from the q_bm25_topk implementation's
    // own query frame by scoring and matching below instead
    val topk = SparkEntry.queries("q_bm25_topk")(spark, sfDir)
      .collect().filter(_.getLong(0) == 0L)
      .map(r => r.getLong(1) -> r.getDouble(4)).toMap
    // terms of doc 0 (top-3 by tf desc, term asc — the family's rule)
    val terms = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") === 0L)
      .select(explode(graft.functions.TextFunctions.tokens(
        lower(col("text")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("term")).limit(3)
      .collect().map(_.getString(0)).toSeq
    val (idf, gs) = RetrievalQueries.relevanceModel(
      spark, pstDir, dlDir, terms)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))

    // batch pass
    val batch = StreamingPipeline.relevanceGate(docs, idf, gs, 0.5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getBoolean(3))).sortBy(_._1)

    // the same docs through a real stream (two landed files)
    withTempDir { root =>
      val incoming = Files.createDirectory(root.resolve("incoming"))
      val outDir = root.resolve("out").toString
      land(docs.filter(pmod(col("doc_id"), lit(2)) === 0), incoming, "a.parquet")
      land(docs.filter(pmod(col("doc_id"), lit(2)) === 1), incoming, "b.parquet")
      val schema = new org.apache.spark.sql.types.StructType()
        .add("doc_id", org.apache.spark.sql.types.LongType)
        .add("text", org.apache.spark.sql.types.StringType)
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(incoming.toString)
        .writeStream.outputMode("append")
        .option("checkpointLocation", root.resolve("ck").toString)
        .foreachBatch { (b: DataFrame, _: Long) =>
          StreamingPipeline.relevanceGate(b, idf, gs, 0.5)
            .write.mode("append").parquet(outDir); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      val streamed = spark.read.parquet(outDir)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
          r.getBoolean(3))).sortBy(_._1)
      assert(streamed.toSeq == batch.toSeq,
        "streamed relevance scores drifted from the batch pass")
    }

    // consistency with the gated ranking: every (q0, n_id) row of
    // q_bm25_topk carries floor(score·1e4)/1e4 — the gate's score for
    // that doc must floor to the same value
    val byDoc = batch.map(r => r._1 -> r._3).toMap
    topk.foreach { case (nId, bm) =>
      val s = math.floor(byDoc(nId) * 10000) / 10000
      assert(s == bm, s"doc $nId: gate ${s} vs catalog $bm")
    }
  }

  test("BM25 scoring past the BIGINT wrap: 44·tf·totlen ≥ 2⁶³ scores " +
      "exactly (decimal widening) on BOTH scoring consumers") {
    import spark.implicits._
    import java.math.BigDecimal
    // one megatoken-class document against a 10¹³-token corpus: the
    // regime the round-14 verdict identified — a BIGINT pipeline wraps
    // silently here while DuckDB widens to HUGEINT, so the oracle
    // could never catch the divergence
    val tf = 30000L; val dl = 30000L
    val n = 1000000000L; val totlen = 10000000000000L
    assert(44L * tf * totlen < 0L, // the product DOES wrap in BIGINT
      "fixture no longer exceeds the 2^63 headroom")
    val num = BigDecimal.valueOf(44L).multiply(BigDecimal.valueOf(tf))
      .multiply(BigDecimal.valueOf(totlen))
    val den = BigDecimal.valueOf(20L).multiply(BigDecimal.valueOf(tf))
      .multiply(BigDecimal.valueOf(totlen))
      .add(BigDecimal.valueOf(6L).multiply(BigDecimal.valueOf(totlen)))
      .add(BigDecimal.valueOf(18L).multiply(BigDecimal.valueOf(dl))
        .multiply(BigDecimal.valueOf(n)))
    // the documented contract: one correctly-rounded exact-INT→DOUBLE
    // conversion per side, one IEEE division
    val exactNorm = num.doubleValue() / den.doubleValue()

    // consumer 1 — bm25Ranked (q_bm25_topk, q_bm25_served, both
    // hybrid arms): forged corpus-state frames at the overflow scale
    val qt = Seq((0L, "t")).toDF("q_id", "term")
    val pst = Seq((1L, "t", tf)).toDF("doc_id", "term", "tf")
    val dlT = Seq((1L, dl)).toDF("doc_id", "dl")
    val gs = Seq((n, totlen)).toDF("n", "totlen")
    val row = RetrievalQueries.bm25Ranked(qt, pst, dlT, gs)
      .select(col("q_id"), col("n_id"), col("score")).collect()
    assert(row.length == 1)
    // df=1 ⇒ idf from the same quantized-log2 chain the engine runs;
    // isolate it from the score so the OVERFLOW-sensitive factor is
    // checked against the BigDecimal hand value, not against libm
    val idf = spark.range(1).select(graft.analytics.TextQueries
        .quantizeLog2(log2(lit(1.0 + (n - 1 + 0.5) / 1.5))))
      .head.getDouble(0)
    assert(row.head.getDouble(2) == idf * exactNorm,
      s"bm25Ranked score ${row.head.getDouble(2)} != ${idf * exactNorm}")

    // consumer 2 — bm25RelevanceScores (the streaming relevance gate):
    // a real 30000-token document against a forged frozen model
    val doc = Seq((7L, ("t " * tf.toInt).trim)).toDF("doc_id", "text")
    val idfM = Seq(("t", 2.5)).toDF("term", "idf")
    val scored = RetrievalQueries.bm25RelevanceScores(doc, idfM, gs)
      .select(col("doc_id"), col("score")).collect()
    assert(scored.length == 1)
    assert(scored.head.getDouble(1) == 2.5 * exactNorm,
      s"gate score ${scored.head.getDouble(1)} != ${2.5 * exactNorm}")
  }

  test("size-aware hybridRrf: picks the exact tier under the byte " +
      "threshold and the indexed tier above it, each row-identical to " +
      "its gated catalog form") {
    import graft.analytics.RetrievalQueries
    def rows(q: String, dir: String) =
      SparkEntry.queries(q)(spark, dir).collect().toSeq
    // the fused output is a driver-side local relation for either tier
    // (rrfFuseSized), so its plan cannot tell the tiers apart; the rows
    // can, because the indexed vector arm is IVF-PQ approximate and the
    // gated tiers differ on both corpora. Against the 512 KB line the
    // embeddings' optimizer estimates are 193,646 B at sf0.001 (exact)
    // and 798,695 B at sf0.1 (indexed).
    for ((dir, tier, other) <- Seq(
        (sfDir, "q_hybrid_rrf", "q_hybrid_rrf_indexed"),
        (java.nio.file.Paths.get(sfDir).resolveSibling("sf0.1").toString,
          "q_hybrid_rrf_indexed", "q_hybrid_rrf"))) {
      val bytes = spark.read.parquet(s"$dir/embeddings.parquet")
        .queryExecution.optimizedPlan.stats.sizeInBytes
      assert((bytes > 512 * 1024) == (tier == "q_hybrid_rrf_indexed"),
        s"$dir: embeddings estimate $bytes B")
      val want = rows(tier, dir)
      assert(want != rows(other, dir),
        s"$dir: the gated tiers agree, so rows cannot show the tier")
      assert(RetrievalQueries.hybridRrf(spark, dir, 5).collect().toSeq == want,
        s"$dir: hybridRrf must serve $tier")
    }
    // only the indexed tier's vector arm serves from the stored codes
    // table
    assert(RetrievalQueries.hybridIndexedCosArm(spark, sfDir, 5)
      .queryExecution.executedPlan.toString.contains("graft-codes-inc"))
    assert(!RetrievalQueries.hybridExactCosArm(spark, sfDir, 5)
      .queryExecution.executedPlan.toString.contains("graft-codes-inc"))
  }

  test("external hybrid search: a (text, vector) query fuses both " +
      "stored-index arms; an exact-match document arrives through the " +
      "vector arm at rank 1 and the fused score is the reciprocal sum") {
    val text7 = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") === 7L).select(col("text")).head.getString(0)
    val v7 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") === 7L).select(col("embedding"))
      .head.getSeq[Float](0).toArray
    val out = RetrievalQueries.hybridSearch(
        spark, sfDir, Seq((text7, v7)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3), r.getInt(4), r.getDouble(5)))
    assert(out.nonEmpty && out.forall(_._1 == 0L))
    // the identical stored vector comes through the vector arm first
    val r7 = out.find(_._2 == 7L)
    assert(r7.isDefined && r7.get._5 == 1, out.mkString(", "))
    // fused score is exactly the reciprocal sum of present ranks
    for ((_, _, _, bm, cs, sc) <- out) {
      val expect = math.floor(
        ((if (bm > 0) 1.0 / (60 + bm) else 0.0) +
          (if (cs > 0) 1.0 / (60 + cs) else 0.0)) * 1000000) / 1000000
      assert(sc == expect, s"rrf $sc != $expect for ranks $bm/$cs")
    }
  }

  test("q_hybrid_rrf: fused score is exactly the sum of its rank " +
      "reciprocals; ordering follows the fused score") {
    val rows = SparkEntry.queries("q_hybrid_rrf")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    for ((_, _, bm, cs, sc) <- rows) {
      assert(bm >= 0 && bm <= 20 && cs >= 0 && cs <= 20, s"ranks $bm/$cs")
      assert(bm > 0 || cs > 0, "a fused row must come from some ranking")
      val expect = math.floor(
        ((if (bm > 0) 1.0 / (60 + bm) else 0.0) +
          (if (cs > 0) 1.0 / (60 + cs) else 0.0)) * 1000000) / 1000000
      assert(sc == expect, s"rrf_score $sc != $expect for ranks $bm/$cs")
    }
    // within each query the output rank ordering is non-increasing in
    // the fused score
    rows.groupBy(_._1).foreach { case (_, qr) =>
      val byRank = qr.sortBy(_._2).map(_._5)
      assert(byRank.zip(byRank.tail).forall { case (x, y) => x >= y })
    }
  }

  // ------------------------------------------------------------------
  // Property specs for the driver-side semantic twins: the external
  // entries replicate Spark tokenize/fold semantics in plain Scala
  // (a second implementation of record). The catalog hash gates pin
  // today's behavior at three corpora; these generator-based
  // equivalences pin the twins against FUTURE edits the gated corpora
  // don't happen to contain (e.g. the round-16 UTF-16-vs-UTF-8
  // tie-break bug class).
  // ------------------------------------------------------------------

  /** `body` under a Turkish JVM default locale, where the JVM's own
    * default-locale lowercasing maps 'I' to dotless 'ı'; the driver
    * derivations must still fold case exactly as Spark's lower().
    */
  private def underTurkishLocale[T](body: => T): T = {
    val prior = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
    try body finally java.util.Locale.setDefault(prior)
  }

  test("property: externalQueryTerms == queryTermsAll on 120+ random " +
      "unicode texts (supplementary plane, mixed case, ragged " +
      "whitespace, tf ties at the salient-term boundary)") {
    // also a NULL text, and the whole property again under a Turkish
    // default locale
    import spark.implicits._
    val rnd = new scala.util.Random(1701)
    // token pool chosen to be ADVERSARIAL for the twin's two known
    // drift axes: case folding (sharp s, dotted capital I, final
    // sigma) and tie-break byte order (U+1F600 sorts BELOW U+FFEE in
    // UTF-16 code units but ABOVE it in UTF-8 bytes)
    val pool = Vector("a", "b", "zz", "Ab", "AB", "ß", "İ", "ı",
      "Σα", "ς", "漢字", "😀", "￮", "x😀y", "a1", "1", "!?", "é", "É")
    val seps = Vector(" ", "  ", "\t", "\n", " \t ", "　")
    def randText(): String = {
      val n = rnd.nextInt(28)
      (0 until n).map(_ => pool(rnd.nextInt(pool.size)))
        .mkString(seps(rnd.nextInt(seps.size)))
    }
    val crafted = Seq(
      "", "   ", "\t\n", "single",
      // equal-tf tie at the top-3 boundary where UTF-16 and UTF-8
      // orders DISAGREE: a(2) b(2) then one of {😀, ￮} — UTF-8 must
      // pick ￮ (EF BF AE < F0 9F 98 80)
      "a a b b ￮ 😀",
      "😀 ￮ a a b b",
      "ß ß SS ss İ i̇",
      // the NULL text drops in both arms, as lower(NULL) explodes to
      // no rows
      null, "ISTANBUL Istanbul istanbul İstanbul III")
    val texts = crafted ++ Seq.fill(120)(randText())
    def check(): Unit = {
      val expected = RetrievalQueries.queryTermsAll(
          texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
            .toDF("doc_id", "text"))
        .collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getString(1)).toSet).toMap
      val got = RetrievalQueries.externalQueryTerms(spark, texts)
        .collect().groupBy(r => -r.getLong(0) - 1)
        .view.mapValues(_.map(_.getString(1)).toSet).toMap
      assert(got.keySet == expected.keySet,
        s"texts with terms differ: ${got.keySet.diff(expected.keySet)} / " +
          s"${expected.keySet.diff(got.keySet)}")
      for ((i, terms) <- expected)
        assert(got(i) == terms,
          s"text #$i '${texts(i.toInt)}': driver ${got(i)} vs spark $terms")
    }
    check()
    underTurkishLocale(check())
  }

  test("property: driver-side topShingle == the distributed " +
      "shingle+tf-window derivation on 120+ random unicode texts, " +
      "n = 2 and 3 (the r18 localized queryPhrases / trigram gate)") {
    // also a NULL text, and the whole property again under a Turkish
    // default locale
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(1702)
    val pool = Vector("a", "b", "zz", "Ab", "AB", "ß", "İ", "ı",
      "Σα", "ς", "漢字", "😀", "￮", "x😀y", "a1", "1", "!?", "é", "É")
    val seps = Vector(" ", "  ", "\t", "\n", " \t ", "　")
    def randText(): String = {
      val n = rnd.nextInt(28)
      (0 until n).map(_ => pool(rnd.nextInt(pool.size)))
        .mkString(seps(rnd.nextInt(seps.size)))
    }
    val crafted = Seq("", " ", "one", "one two",
      // equal-count shingle tie where UTF-16 and UTF-8 orders disagree
      "￮ x 😀 x ￮ x 😀 x", "a b a b b a",
      null, "I I İ Istanbul I İ")
    val texts = crafted ++ Seq.fill(120)(randText())
    def check(n: Int, locale: String): Unit = {
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val wq = Window.partitionBy(col("doc_id"))
        .orderBy(col("cnt").desc, col("g"))
      val expected = docs
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(lower(col("text"))).as("ts"))
        .select(col("doc_id"), explode(
          graft.functions.TextFunctions.shinglesFromTokens(col("ts"), n))
          .as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(wq)).filter(col("rk") === 1)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      // the driver arms' NULL guard: Option(text), as queryPhrases and
      // the trigram gate read it
      val got = texts.zipWithIndex.flatMap { case (t, i) =>
        Option(t).flatMap(RetrievalQueries.topShingle(_, n)).map(i.toLong -> _)
      }.toMap
      assert(got == expected,
        s"n=$n $locale: driver-only ${got.toSet.diff(expected.toSet)} / " +
          s"spark-only ${expected.toSet.diff(got.toSet)}")
    }
    for (n <- Seq(2, 3)) {
      check(n, "default locale")
      underTurkishLocale(check(n, "tr-TR locale"))
    }
  }

  test("valueBucketsLocal == the plan-side valueBuckets derivation " +
      "(same pmod∘hash buckets, no job) on unicode + empty values") {
    import spark.implicits._
    val vals = Seq("a", "b", "stream filter", "漢字 😀", "", "É", "ı",
      "x" * 300)
    for (n <- Seq(4, 16, 64)) {
      // repartition defeats the LocalRelation fast path, so v1/b1
      // exercise the distributed plan-side derivation
      val (v1, b1) =
        graft.core.Tables.valueBuckets(vals.toDF("v").repartition(2), n)
      val (v2, b2) = graft.core.Tables.valueBucketsLocal(vals, n)
      assert(v1.toSet == v2.toSet && b1.toSet == b2.toSet,
        s"n=$n: plan ($v1, $b1) vs local ($v2, $b2)")
    }
  }

  /** Test-local INDEPENDENT reference MMR: a from-scratch re-derivation
    * of the Carbonell & Goldstein recurrence (sorted-argmax form, no
    * shared code with the production kernel) so a kernel edit that
    * drifts from the defined semantics cannot hide behind arm identity.
    */
  private def referenceMmr(
      cand: Seq[(Long, Long, Double, Array[Float], Double)],
      picks: Int, lam: Double): Seq[(Long, Long, Int, Double)] = {
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0
      for (i <- 0 until math.min(a.length, b.length))
        acc += a(i).toDouble * b(i).toDouble
      acc
    }
    cand.groupBy(_._1).toSeq.flatMap { case (q, rows) =>
      val cs = rows.map(r => (r._2, r._3, r._4, r._5))
      var selected = Vector.empty[(Long, Double, Array[Float], Double)]
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Int, Double)]
      for (k <- 1 to picks) {
        val open = cs.filterNot(c => selected.exists(_._1 == c._1))
        if (open.nonEmpty) {
          if (k == 1) {
            val c = open.sortBy(c => (-c._2, c._1)).head
            selected :+= c
            out += ((q, c._1, 1, math.floor(lam * c._2 * 1e4) / 1e4))
          } else {
            val best = open.map { c =>
              val mx = selected
                .map(s => dot(c._3, s._3) / (c._4 * s._4)).max
              (c, lam * c._2 - (1.0 - lam) * mx)
            }.sortBy { case (c, m) => (-m, c._1) }.head
            selected :+= best._1
            out += ((q, best._1._1, k, math.floor(best._2 * 1e4) / 1e4))
          }
        }
      }
      out
    }
  }

  test("property: grouped greedy == independent reference MMR on 100 " +
      "random (pool, lambda) cases including exact rel ties and lambda " +
      "in {0, 0.25, 0.5, 1}") {
    import spark.implicits._
    val rnd = new scala.util.Random(9042)
    for (lam <- Seq(0.0, 0.25, 0.5, 1.0)) {
      // one frame of 25 independent query pools per lambda — the
      // greedy never crosses q_id, so each pool is its own case
      val cand = (0 until 25).flatMap { q =>
        val ids = rnd.shuffle((0L until 40L).toList).take(8 + rnd.nextInt(8))
        // quantized rel so EXACT ties occur regularly (tie-break path)
        ids.map { n =>
          val rel = math.floor(rnd.nextDouble() * 8) / 8.0
          val cv = Array.fill(8)(rnd.nextInt(5).toFloat - 2f)
          val cn = math.sqrt(
            cv.map(x => x.toDouble * x.toDouble).sum).max(1e-9)
          (q.toLong, n, rel, cv, cn)
        }
      }
      val df = cand.map { case (q, n, r, cv, cn) => (q, n, r, cv.toSeq, cn) }
        .toDF("q_id", "n_id", "rel", "cv", "cn")
      def key(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getDouble(3))).sortBy(t => (t._1, t._3)).toSeq
      val got = key(RetrievalQueries.mmrGreedy(df, 5, lam).collect())
      val ref = referenceMmr(cand, 5, lam)
        .map(t => (t._1, t._2, t._3, t._4)).sortBy(t => (t._1, t._3))
      assert(got == ref,
        s"lambda=$lam: kernel diverges from the independent reference")
    }
  }

  test("distributed arms end-to-end: searchDiversified and " +
      "mmrDiversifiedIndexed with no driver collects in the distributed " +
      "serve tier are row-identical to the default path") {
    def key(rows: Array[Row]) = rows.map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    // the driver-collect cap at 0 takes the distributed fuse, the
    // join-fetched vectors and the exchanged grouped greedy
    def distributed[T](body: => T): T =
      withoutDriverCollects(withDistributedServes(body))
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("text").isNotNull).orderBy(col("doc_id"))
      .select(col("text")).collect().map(_.getString(0))
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .orderBy(col("vec_id")).select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    val rnd = new scala.util.Random(513)
    val queries = Seq.fill(7)(
      texts(rnd.nextInt(texts.length)).split(" ").take(4).mkString(" ") ->
        vecs(rnd.nextInt(vecs.length)))
    def search() =
      key(RetrievalQueries.searchDiversified(spark, sfDir, queries).collect())
    val interactive = search()
    assert(interactive.map(_._1).distinct.size == 7, "queries served no rows")
    assert(distributed(search()) == interactive, "searchDiversified arms diverge")
    def indexed() = key(RetrievalQueries.mmrDiversifiedIndexed(
      spark, sfDir, 3, 20, 5, 0.5).collect())
    val mi = indexed()
    assert(mi.nonEmpty && distributed(indexed()) == mi,
      "mmrDiversifiedIndexed arms diverge")
  }

  test("driver query arms read INT doc ids: q_bm25_topk, " +
      "q_phrase_search and q_phrase_trigram over an INT-id copy of the " +
      "documents give the original rows") {
    withTempDir { root =>
      spark.read.parquet(s"$sfDir/documents.parquet")
        .withColumn("doc_id", col("doc_id").cast("int"))
        .write.parquet(s"$root/documents.parquet")
      // ids compared as Long: the INT copy may keep INT id columns
      def rows(q: String, dir: String): Seq[String] =
        SparkEntry.queries(q)(spark, dir).collect().toSeq
          .map(_.toSeq.map { case i: Int => i.toLong; case v => v }
            .mkString("|"))
      for (q <- Seq("q_bm25_topk", "q_phrase_search", "q_phrase_trigram")) {
        val want = rows(q, sfDir)
        assert(want.nonEmpty, q)
        assert(rows(q, root.toString) == want, q)
      }
    }
  }

  test("diversified and fused index serves read INT ids: " +
      "q_mmr_diversify_indexed, q_search_diversified and " +
      "q_hybrid_rrf_indexed over INT-id copies of the corpus give the " +
      "original rows") {
    withTempDir { root =>
      for ((table, id) <- Seq("documents" -> "doc_id", "embeddings" -> "vec_id"))
        spark.read.parquet(s"$sfDir/$table.parquet")
          .withColumn(id, col(id).cast("int"))
          .write.parquet(s"$root/$table.parquet")
      def rows(q: String, dir: String): Seq[String] =
        SparkEntry.queries(q)(spark, dir).collect().toSeq
          .map(_.toSeq.map { case i: Int => i.toLong; case v => v }
            .mkString("|"))
      for (q <- Seq("q_mmr_diversify_indexed", "q_search_diversified",
          "q_hybrid_rrf_indexed")) {
        val want = rows(q, sfDir)
        assert(want.nonEmpty, q)
        assert(rows(q, root.toString) == want, q)
      }
    }
  }
}
