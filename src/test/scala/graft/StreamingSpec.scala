package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.core.GraftConf
import graft.streaming.StreamingPipeline
import graft.streaming.StreamingPipeline.{UserEvent, UserStat}

/** Streaming semantics (SURVEY §2.9): exactly-once file consumption via
  * archive (T2), idempotent keyed upsert across micro-batches (T3),
  * in-batch dedup (T4), and stateful per-key tracking (T7).
  */
class StreamingSpec extends SparkSpec {

  private val conf = GraftConf(salt = "test-salt")

  private def write(dir: Path, name: String, content: String): Unit =
    Files.write(dir.resolve(name), content.getBytes("UTF-8"))

  private val header =
    "thing_key,thing_type,id,created_at,score,num_comments,title_sanitized,author_hash,permalink,subreddit,flair_text"

  test("file stream: upsert across batches, archive consumed files") {
    withTempDir { root =>
      val data = Files.createDirectory(root.resolve("data"))
      val loaded = root.resolve("loaded").toString
      val table = root.resolve("table").toString
      val ckpt = root.resolve("ckpt").toString

      write(data, "italytravel_1.csv",
        s"""$header
           |K1,t3,id1,2025-09-09T12:00:00Z,5,1,Title one,AH1,PL1,sub,
           |K2,t3,id2,2025-09-09T12:01:00Z,2,0,Title two,AH2,PL2,sub,
           |K1,t3,id1,2025-09-09T12:02:00Z,99,9,Dup in batch,AHX,PLX,sub,
           |""".stripMargin)

      val q1 = StreamingPipeline.start(spark, data.toString, loaded, table,
        ckpt, conf, Trigger.AvailableNow())
      q1.awaitTermination(120000)

      val t1 = spark.read.parquet(table).collect()
        .map(r => r.getAs[String]("thing_key") -> r).toMap
      assert(t1.size == 2)
      // in-batch first-wins: K1 kept the first row (score 5, not 99)
      assert(t1("K1").getAs[Int]("score") == 5)
      assert(t1("K1").getAs[String]("author_hash") == "AH1")

      // batch 2: K1 score update + new key K3
      write(data, "italytravel_2.csv",
        s"""$header
           |K1,t3,id1,2025-09-09T13:00:00Z,7,2,New title,AHY,PLY,sub,Flair
           |K3,t3,id3,2025-09-09T13:01:00Z,1,0,Third,AH3,PL3,sub,
           |""".stripMargin)
      val q2 = StreamingPipeline.start(spark, data.toString, loaded, table,
        ckpt, conf, Trigger.AvailableNow())
      q2.awaitTermination(120000)

      val t2 = spark.read.parquet(table).collect()
        .map(r => r.getAs[String]("thing_key") -> r).toMap
      assert(t2.size == 3)
      // update columns changed ...
      assert(t2("K1").getAs[Int]("score") == 7)
      assert(t2("K1").getAs[String]("title_sanitized") == "New title")
      assert(t2("K1").getAs[String]("flair_text") == "Flair")
      // ... conflict-protected columns preserved (author_hash, permalink)
      assert(t2("K1").getAs[String]("author_hash") == "AH1")
      assert(t2("K1").getAs[String]("permalink") == "pl1")

      // T2: the file source archives consumed files at the NEXT trigger
      // (async cleaner), so after batch 2 the batch-1 file must have
      // left the scan dir; the batch-2 file may lag one trigger.
      import scala.jdk.CollectionConverters._
      val deadline = System.currentTimeMillis() + 15000
      def inData = Files.list(data).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".csv")).toSeq
      while (inData.contains("italytravel_1.csv") &&
        System.currentTimeMillis() < deadline) Thread.sleep(200)
      assert(!inData.contains("italytravel_1.csv"),
        s"batch-1 file still in data/: $inData")
    }
  }

  test("file stream REJECTS a legacy header family instead of reading it positionally") {
    withTempDir { root =>
      val data = Files.createDirectory(root.resolve("data"))
      val loaded = root.resolve("loaded").toString
      val table = root.resolve("table").toString
      val ckpt = root.resolve("ckpt").toString

      // a legacy-family file (FIXTURES.md §3) matches the stream's glob
      // but not its schema; with positional mapping (enforceSchema's
      // default) its post_id would land in thing_key, url in
      // thing_type, … and be upserted as garbage with no error. The
      // stream must fail LOUDLY instead; legacy families are the batch
      // path's job (CombineJob groups files by header line).
      write(data, "italytravel_legacy.csv",
        """post_id,url,score_value,comments
          |p1,https://x/1,5,2
          |""".stripMargin)
      val q = StreamingPipeline.start(spark, data.toString, loaded, table,
        ckpt, conf, Trigger.AvailableNow())
      val failed =
        try { q.awaitTermination(120000); false }
        catch {
          case e: org.apache.spark.sql.streaming.StreamingQueryException =>
            val chain = Iterator.iterate(e: Throwable)(_.getCause)
              .takeWhile(_ != null).map(_.toString.toLowerCase).mkString(" | ")
            assert(chain.contains("header") || chain.contains("schema"),
              s"stream failed for an unexpected reason: $chain")
            true
        }
      assert(failed, "legacy header family was consumed instead of rejected")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(table)),
        "garbage rows reached the serving table")
    }
  }

  test("mapGroupsWithState tracks per-user running stats across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[UserEvent]
    val query = StreamingPipeline.trackUserStats(input.toDS())
      .writeStream.format("memory").queryName("user_stats")
      .outputMode("update").start()
    try {
      input.addData(UserEvent(1, 2.0), UserEvent(1, 3.0), UserEvent(2, 1.0))
      query.processAllAvailable()
      input.addData(UserEvent(1, 5.0))
      query.processAllAvailable()
      val latest = spark.table("user_stats").as[UserStat].collect()
        .groupBy(_.user_id).map { case (u, xs) => u -> xs.maxBy(_.n_events) }
      assert(latest(1L) == UserStat(1L, 3, 10.0))
      assert(latest(2L) == UserStat(2L, 1, 1.0))
    } finally query.stop()
  }

  test("transformWithState (RocksDB backend) tracks per-user stats like mapGroupsWithState") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[UserEvent]
      val query = StreamingPipeline.trackUserStatsTws(input.toDS())
        .writeStream.format("memory").queryName("user_stats_tws")
        .outputMode("update").start()
      try {
        input.addData(UserEvent(1, 2.0), UserEvent(1, 3.0), UserEvent(2, 1.0))
        query.processAllAvailable()
        input.addData(UserEvent(1, 5.0))
        query.processAllAvailable()
        val latest = spark.table("user_stats_tws").as[UserStat].collect()
          .groupBy(_.user_id).map { case (u, xs) => u -> xs.maxBy(_.n_events) }
        assert(latest(1L) == UserStat(1L, 3, 10.0))
        assert(latest(2L) == UserStat(2L, 1, 1.0))
      } finally query.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  private def withRocksDb[A](body: => A): A = {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("transformWithState TTL expires idle per-key state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withRocksDb {
      val input = MemoryStream[UserEvent]
      // TTL 5s: long enough that live back-to-back batches never expire,
      // short enough that the 7s idle gap below provably does.
      val query = StreamingPipeline.trackUserStatsTtl(input.toDS(), ttlMs = 5000)
        .writeStream.format("memory").queryName("user_stats_ttl")
        .outputMode("update").start()
      try {
        // TimeMode.ProcessingTime keeps scheduling batches, so
        // processAllAvailable never settles — poll the sink (same
        // caveat as the timer tests).
        def awaitRow(want: UserStat): Unit = {
          val deadline = System.currentTimeMillis() + 30000
          var rows = Set.empty[UserStat]
          while (!rows.contains(want) && System.currentTimeMillis() < deadline) {
            Thread.sleep(250)
            rows = spark.table("user_stats_ttl").as[UserStat].collect().toSet
          }
          assert(rows.contains(want), s"never saw $want in $rows")
        }
        input.addData(UserEvent(7, 2.0), UserEvent(8, 1.0))
        awaitRow(UserStat(7, 1, 2.0))
        input.addData(UserEvent(8, 1.0)) // within TTL: state survives
        awaitRow(UserStat(8, 2, 2.0))
        Thread.sleep(7000) // idle past TTL
        input.addData(UserEvent(7, 5.0)) // expired: count restarts
        awaitRow(UserStat(7, 1, 5.0))
        val rows = spark.table("user_stats_ttl").as[UserStat].collect().toSet
        assert(!rows.exists(r => r.user_id == 7 && r.n_events == 2),
          s"state not expired: $rows")
      } finally query.stop()
    }
  }

  test("transformWithState MapState counts per-key sub-keys incrementally") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import StreamingPipeline.{TypeCount, TypedEvent}
    withRocksDb {
      val input = MemoryStream[TypedEvent]
      val query = StreamingPipeline.countTypesTws(input.toDS())
        .writeStream.format("memory").queryName("type_counts")
        .outputMode("update").start()
      try {
        input.addData(TypedEvent(1, "click", 1.0), TypedEvent(1, "click", 1.0),
          TypedEvent(1, "view", 1.0), TypedEvent(2, "view", 1.0))
        query.processAllAvailable()
        input.addData(TypedEvent(1, "click", 1.0))
        query.processAllAvailable()
        val latest = spark.table("type_counts").as[TypeCount].collect()
          .groupBy(c => (c.user_id, c.event_type))
          .map { case (k, xs) => k -> xs.map(_.n).max }
        assert(latest == Map((1L, "click") -> 3L, (1L, "view") -> 1L, (2L, "view") -> 1L))
      } finally query.stop()
    }
  }

  test("dropDuplicatesWithinWatermark dedups across micro-batches (T4)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val df = input.toDF().toDF("ts", "thing_key")
    val query = StreamingPipeline
      .dedupWithinWatermark(df, "thing_key", "ts", "1 hour")
      .writeStream.format("memory").queryName("dedup_wm")
      .outputMode("append").start()
    try {
      val t = java.sql.Timestamp.valueOf("2025-01-01 10:00:00")
      input.addData((t, "K1"), (t, "K1"), (t, "K2"))
      query.processAllAvailable()
      input.addData((java.sql.Timestamp.valueOf("2025-01-01 10:10:00"), "K1"))
      query.processAllAvailable() // duplicate within watermark → dropped
      val keys = spark.table("dedup_wm").collect()
        .map(_.getAs[String]("thing_key")).toSeq.sorted
      assert(keys == Seq("K1", "K2"))
    } finally query.stop()
  }

  test("streaming decontamination gate flags train-fingerprint arrivals (scan-stage probe)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.{BloomBuild, BloomFilter, BloomHashes}
    import org.apache.spark.sql.functions.col
    // static train side: fingerprints -> 8 KiB bloom, built once
    val train = Seq("alpha beta gamma", "delta epsilon zeta")
    val bloom = new BloomBuild(BloomFilter.DefaultBits, BloomFilter.DefaultProbes)
    val (h1, h2) = BloomFilter.hashColumns(col("fp"))
    val bits = train.toDF("text")
      .withColumn("fp", graft.functions.TextFunctions.fingerprint(col("text")))
      .withColumn("h1", h1).withColumn("h2", h2)
      .select(col("h1"), col("h2")).as[BloomHashes]
      .select(bloom.toColumn).collect().head
    val input = MemoryStream[(Long, String)]
    val query = StreamingPipeline
      .decontaminationGate(input.toDF().toDF("doc_id", "text"), bits)
      .writeStream.format("memory").queryName("decon_gate")
      .outputMode("append").start()
    try {
      // doc 2 is a whitespace/case-perturbed copy of a train doc — the
      // normalizing fingerprint still collides; docs 1 and 3 are novel
      input.addData((1L, "fresh novel content one"), (2L, "  ALPHA beta   GAMMA "))
      query.processAllAvailable()
      input.addData((3L, "more novel content"))
      query.processAllAvailable()
      val flags = spark.table("decon_gate").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("contaminated")).toMap
      assert(flags == Map(1L -> false, 2L -> true, 3L -> false))
    } finally query.stop()
  }

  test("streaming perplexity gate scores arrivals against the stored LM model") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // static train side: a tiny repetitive corpus -> stored-model shape
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the chair"),
      (3L, "the dog sat on the mat")).toDF("doc_id", "text")
    val model = graft.analytics.TextQueries.trainLmModel(corpus)
    val input = MemoryStream[(Long, String)]
    val query = StreamingPipeline
      .perplexityGate(input.toDF().toDF("doc_id", "text"), model, maxBits = 2.0)
      .writeStream.format("memory").queryName("ppl_gate")
      .outputMode("update").start()
    try {
      // doc 10 re-uses the corpus' dominant bigrams; doc 11 is token
      // soup the model never saw (every bigram smooths to the floor)
      input.addData(
        (10L, "the cat sat on the mat"),
        (11L, "zq xv qk jw pf gx yb"))
      query.processAllAvailable()
      val rows = spark.table("ppl_gate").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Double]("bits_per_bigram"), r.getAs[Boolean]("high_perplexity"))))
        .toMap
      assert(rows.keySet == Set(10L, 11L))
      val (seenBits, seenFlag) = rows(10L)
      val (soupBits, soupFlag) = rows(11L)
      assert(!seenFlag && soupFlag, s"seen=$seenBits soup=$soupBits")
      assert(soupBits > seenBits + 1.0,
        s"model does not separate seen from unseen: $seenBits vs $soupBits")
    } finally query.stop()
  }

  test("streaming embedding-outlier gate: scan-stage verdicts match the " +
      "batch scorer against the frozen generation") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val e = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val key = graft.core.Tables.derivedStateKey(
      spark, "/root/testdata/sf0.001", "embeddings")
    val cbIvf = graft.operators.CodebookTrainer
      .cachedSphericalIvf(e, key, 16, 64, 2)
    val means = graft.analytics.SimilarityQueries.cachedCellMeans(e, key, cbIvf)
    // threshold calibrated offline: the batch scorer's median d2 —
    // splits the corpus so both verdicts provably occur
    val d2s = graft.analytics.SimilarityQueries
      .embedOutlierScores(e, cbIvf, means)
      .select("d2").collect().map(_.getDouble(0)).sorted
    val maxD2 = d2s(d2s.length / 2)
    val arrivals = e.limit(64)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect()
    val input = MemoryStream[(Long, Array[Float])]
    val query = StreamingPipeline
      .outlierGate(input.toDF().toDF("vec_id", "embedding"),
        cbIvf, means, maxD2)
      .writeStream.format("memory").queryName("outlier_gate")
      .outputMode("append").start()
    try {
      input.addData(arrivals.toSeq)
      query.processAllAvailable()
      val streamed = spark.table("outlier_gate").collect()
        .map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[Double]("d2"), r.getAs[Boolean]("outlier")))).toMap
      val batch = graft.analytics.SimilarityQueries
        .embedOutlierScores(e.limit(64), cbIvf, means)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(streamed.keySet == batch.keySet)
      // frozen-generation scoring is a pure per-row function: the
      // streamed d2 equals the batch d2 bit-for-bit, verdict included
      streamed.foreach { case (id, (d2, flag)) =>
        assert(d2 == batch(id), s"vec $id: streamed $d2 != batch ${batch(id)}")
        assert(flag == (d2 > maxD2))
      }
      assert(streamed.values.exists(_._2) && streamed.values.exists(!_._2),
        "threshold did not split the arrivals — test not probative")
    } finally query.stop()
  }

  test("streaming span gate flags arrivals carrying a copied >=8-token run") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lower}
    // static train side: distinct window fingerprints of a small corpus
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten eleven"))
      .toDF("doc_id", "text")
    val index = graft.analytics.DedupQueries.explodedSpanWindows(
        corpus.select(col("doc_id"), lower(col("text")).as("text")))
      .select(col("fp")).distinct()
    val input = MemoryStream[(Long, String)]
    val query = StreamingPipeline
      .spanContaminationGate(input.toDF().toDF("doc_id", "text"), index)
      .writeStream.format("memory").queryName("span_gate")
      .outputMode("update").start()
    try {
      input.addData(
        // doc 10 embeds tokens 2..9 of corpus doc 1 (8-token run)
        // between novel words — whole-doc fingerprints would miss it
        (10L, "fresh beta gamma delta epsilon zeta eta theta iota ending"),
        // doc 11 shares scattered words but no 8-token run
        (11L, "alpha two gamma four epsilon six eta eight iota ten fresh"),
        // doc 12 is novel
        (12L, "completely novel words with no overlap at all here today"))
      query.processAllAvailable()
      val rows = spark.table("span_gate").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_matched"), r.getAs[Boolean]("contaminated"))))
        .toMap
      assert(rows.keySet == Set(10L, 11L, 12L))
      assert(rows(10L)._2, s"partial copy not flagged: ${rows(10L)}")
      assert(rows(10L)._1 == 1L) // exactly the one copied window
      assert(!rows(11L)._2 && rows(11L)._1 == 0L, s"${rows(11L)}")
      assert(!rows(12L)._2 && rows(12L)._1 == 0L, s"${rows(12L)}")
    } finally query.stop()
  }

  test("Model.typed: serving DataFrame ⇄ Dataset[RedditThing]") {
    import spark.implicits._
    val df = Seq(("K1", "t3", "id1", java.sql.Timestamp.valueOf("2025-01-01 00:00:00"),
      5, 2, "T", "AH", "PL", "sub", "F"))
      .toDF("thing_key", "thing_type", "id", "created_at", "score",
        "num_comments", "title_sanitized", "author_hash", "permalink",
        "subreddit", "flair_text")
    val things = graft.core.Model.typed(df).collect()
    assert(things.head.thing_key == "K1" && things.head.score == 5)
  }

  test("stream-stream interval join matches purchases to preceding clicks") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val purchases = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val joined = StreamingPipeline.clickToPurchaseJoin(
      clicks.toDF().toDF("ts", "user_id", "event_id"),
      purchases.toDF().toDF("ts", "user_id", "event_id"))
    val query = joined.writeStream.format("memory")
      .queryName("ss_join").outputMode("append").start()
    try {
      def ts(m: String) = java.sql.Timestamp.valueOf(s"2025-01-01 10:$m:00")
      clicks.addData((ts("00"), 1L, 100L), (ts("05"), 2L, 200L))
      purchases.addData(
        (ts("10"), 1L, 900L),  // 10 min after user-1 click → match
        (ts("50"), 2L, 901L))  // 45 min after user-2 click → outside window
      query.processAllAvailable()
      val rows = spark.table("ss_join").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Long]("purchase_id") == 900L)
      assert(rows.head.getAs[Long]("click_id") == 100L)
    } finally query.stop()
  }

  test("flatMapGroupsWithState emits completed sessions on timeout") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import StreamingPipeline.{ClosedSession, SessionEvent}
    val input = MemoryStream[SessionEvent]
    val query = StreamingPipeline.sessionize(input.toDS(), timeoutMs = 500)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      input.addData(SessionEvent(1, 1000, 2.0), SessionEvent(1, 3000, 3.0))
      // NOTE: with ProcessingTimeTimeout the engine keeps scheduling
      // timer batches, so processAllAvailable would never settle — poll
      // the sink instead.
      val deadline = System.currentTimeMillis() + 30000
      var closed = Seq.empty[ClosedSession]
      while (closed.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(250)
        closed = spark.table("sessions").as[ClosedSession].collect().toSeq
      }
      assert(closed.map(c => (c.user_id, c.n_events, c.start_us, c.end_us, c.sum_value))
        .contains((1L, 2L, 1000L, 3000L, 5.0)))
    } finally query.stop()
  }

  test("transformWithState timers close and emit sessions (RocksDB backend)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import StreamingPipeline.{ClosedSession, SessionEvent}
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[SessionEvent]
      val query = StreamingPipeline.sessionizeTws(input.toDS(), gapMs = 500)
        .writeStream.format("memory").queryName("sessions_tws")
        .outputMode("append").start()
      try {
        input.addData(SessionEvent(1, 1000, 2.0), SessionEvent(1, 3000, 3.0))
        // processing-time timers keep scheduling batches; poll the sink
        // instead of processAllAvailable (same caveat as the
        // flatMapGroupsWithState form)
        val deadline = System.currentTimeMillis() + 30000
        var closed = Seq.empty[ClosedSession]
        while (closed.isEmpty && System.currentTimeMillis() < deadline) {
          Thread.sleep(250)
          closed = spark.table("sessions_tws").as[ClosedSession].collect().toSeq
        }
        assert(closed.map(c => (c.user_id, c.n_events, c.start_us, c.end_us, c.sum_value))
          .contains((1L, 2L, 1000L, 3000L, 5.0)))
      } finally query.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("a restarted AvailableNow maintainer reuses its generated code") {
    // every start runs on a cloned session; the codegen cache must still
    // hit for the restarted query's identical plans
    withTempDir { root =>
      import spark.implicits._
      val incoming = Files.createDirectory(root.resolve("incoming"))
      val pst = root.resolve("pst").toString
      def absorb(): Unit = StreamingPipeline.startPostingsIngest(spark,
        incoming.toString, pst, root.resolve("dl").toString,
        root.resolve("ckpt").toString, Trigger.AvailableNow())
        .awaitTermination(120000)
      land(Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta"))
        .toDF("doc_id", "text"), incoming, "b0.parquet")
      absorb()
      land(Seq((3L, "gamma delta epsilon")).toDF("doc_id", "text"),
        incoming, "b1.parquet")
      val compiled = org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME
      val c0 = compiled.getCount
      absorb()
      val compiles = compiled.getCount - c0
      info(s"$compiles classes compiled")
      assert(spark.read.parquet(pst).filter($"doc_id" === 3L).count() == 3L)
      assert(compiles <= 4, s"$compiles classes compiled by the restart")
    }
  }

  test("hourlyEventCounts compiles to a watermarked streaming agg") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val query = StreamingPipeline.hourlyEventCounts(df)
      .writeStream.format("memory").queryName("hourly")
      .outputMode("update").start()
    try {
      input.addData(
        (java.sql.Timestamp.valueOf("2025-01-01 10:15:00"), "click", 1.0),
        (java.sql.Timestamp.valueOf("2025-01-01 10:45:00"), "click", 2.0),
        (java.sql.Timestamp.valueOf("2025-01-01 11:05:00"), "buy", 5.0))
      query.processAllAvailable()
      val rows = spark.table("hourly").collect()
      val clicks = rows.find(_.getAs[String]("event_type") == "click").get
      assert(clicks.getAs[Long]("n") == 2)
      assert(clicks.getAs[Double]("sum_value") == 3.0)
    } finally query.stop()
  }
}
