package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

import graft.analytics.{DedupQueries, RetrievalQueries, SimilarityQueries}
import graft.core.Tables

/** Prepared serves ([[graft.core.Tables.Request]]): each of the five
  * external search entries builds its plan once per index generation
  * and binds every later request into it. A bound request returns the
  * rows a fresh build returns, in both serve tiers, on random and
  * adversarial requests; a warm build submits no Spark job; and every
  * kind of index mutation, in this JVM or by another writer, makes the
  * next request see the new index.
  */
class PreparedServeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private lazy val docs: IndexedSeq[String] =
    Tables.load(spark, dir, "documents").orderBy(col("doc_id"))
      .select(col("text")).collect().map(_.getString(0))
      .filter(t => t != null && t.split(" ").length >= 4).toIndexedSeq

  private lazy val vecs: IndexedSeq[Array[Float]] =
    Tables.load(spark, dir, "embeddings").orderBy(col("vec_id"))
      .collect().map(_.getSeq[Float](1).toArray).toIndexedSeq

  /** One request of a batch of (text, vector) queries. */
  private type Req = Seq[(String, Array[Float])]

  /** Seeded random requests of one or two queries (text spans of
    * stored documents, some with an out-of-vocabulary word; stored
    * vectors with noise), then the adversarial ones: an all-OOV text,
    * a NULL text, and Turkish dotted and dotless capitals.
    */
  private def requests(phrase: Boolean): Seq[Req] = {
    val rnd = new scala.util.Random(11)
    def text(): String = {
      val ts = docs(rnd.nextInt(docs.size)).split(" ")
      val n = 2 + rnd.nextInt(3)
      val st = rnd.nextInt(ts.length - n + 1)
      val span = ts.slice(st, st + n).toSeq
      (if (rnd.nextInt(3) == 0) span :+ s"zq${rnd.nextInt(99)}" else span).mkString(" ")
    }
    def vec(): Array[Float] =
      vecs(rnd.nextInt(vecs.size)).map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    val random = Seq.fill(4)(Seq.fill(1 + rnd.nextInt(2))(text() -> vec()))
    val oov = Seq("zqaa zqbb zqcc" -> vec())
    val turkish = Seq(("İSTANBUL Istanbul ıI " + text()) -> vec())
    val nullText = Seq((null: String) -> vec(), text() -> vec())
    random ++ Seq(oov, turkish) ++ (if (phrase) Nil else Seq(nullText))
  }

  private def entries(d: String): Seq[(String, Req => DataFrame)] = Seq(
    "bm25SearchText" -> (r => RetrievalQueries.bm25SearchText(spark, d, r.map(_._1))),
    "phraseSearchText" -> (r => RetrievalQueries.phraseSearchText(spark, d, r.map(_._1))),
    "annSearchVectors" -> (r => SimilarityQueries.annSearchVectors(spark, d, r.map(_._2))),
    "hybridSearch" -> (r => RetrievalQueries.hybridSearch(spark, d, r)),
    "mmrSearchVectors" -> (r => RetrievalQueries.mmrSearchVectors(spark, d, r.map(_._2))))

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** The stored-table relations of a built plan, by identity. */
  private def relations(df: DataFrame): Seq[AnyRef] =
    df.queryExecution.analyzed.collect { case r: LogicalRelation => r.relation }

  private def shares(a: DataFrame, b: DataFrame): Boolean =
    relations(a).exists(x => relations(b).exists(_ eq x))

  private def underTurkishLocale[T](body: => T): T = {
    val prior = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
    try body finally java.util.Locale.setDefault(prior)
  }

  /** Every request bound into a template built from another request
    * returns the rows of its own fresh build.
    */
  private def boundEqualsFresh(name: String, serve: Req => DataFrame,
      reqs: Seq[Req], where: String, someRows: Boolean = true): Unit = {
    val fresh = reqs.map { r => Tables.dropTemplates(); rows(serve(r)) }
    Tables.dropTemplates()
    val seed = serve(reqs.last)
    rows(seed)
    reqs.zip(fresh).foreach { case (r, want) =>
      val df = serve(r)
      assert(rows(df) == want, s"$name ($where): bound != fresh for $r")
    }
    assert(!someRows || fresh.exists(_.nonEmpty), s"$name ($where) served no rows")
  }

  for ((name, serve) <- entries(dir)) {
    val reqs = requests(phrase = name == "phraseSearchText")
    test(s"$name: bound requests equal fresh builds in the one-partition tier") {
      boundEqualsFresh(name, serve, reqs, "one-partition")
      underTurkishLocale(boundEqualsFresh(name, serve, reqs.head +: reqs.takeRight(2),
        "tr-TR", someRows = false))
    }
    test(s"$name: bound requests equal fresh builds in the distributed tier") {
      withDistributedServes(boundEqualsFresh(name, serve, reqs.take(3), "distributed"))
    }
    test(s"$name: a warm build runs no Spark job, reuses the template's " +
        "relations, and its collect runs one job") {
      val r = reqs.head
      rows(serve(r)); rows(serve(reqs(1)))
      val (df, buildJobs) = jobsOf(serve(r))
      assert(buildJobs == 0, s"$name: building ran $buildJobs jobs")
      assert(shares(df, serve(reqs(1))), s"$name: built afresh, not bound")
      val (_, execJobs) = jobsOf(rows(df))
      assert(execJobs == 1, s"$name: the collect ran $execJobs jobs")
    }
  }

  test("bm25SearchText: bound requests equal fresh builds in the postings " +
      "semi-join arm, whose plan reads the query relation twice") {
    val (name, serve) = entries(dir).head
    // 5,462 queries × 3 terms bound 16,386 terms: past the 16,384-term
    // line of the literal arm, so each request takes the join arm. All
    // but a few are out-of-vocabulary, so the ranking stays small.
    val rnd = new scala.util.Random(5462)
    val reqs = Seq.fill(2)(Seq.tabulate(5462) { i =>
      val ts = docs(rnd.nextInt(docs.size)).split(" ")
      val text = if (i % 1000 == 0) ts.slice(rnd.nextInt(ts.length - 1), ts.length).take(2).toSeq
        else Seq(s"zq$i", s"zq${rnd.nextInt(99)}")
      text.mkString(" ") -> vecs(0)
    })
    val plan = serve(reqs.head).queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi") && !plan.contains("In(term"), plan.take(3000))
    boundEqualsFresh(name, serve, reqs, "join arm")
  }

  test("one pass over the five entries keeps 6 templates, far below the cap") {
    Tables.dropTemplates()
    for ((_, serve) <- entries(dir)) rows(serve(requests(phrase = true).head))
    info(s"${Tables.templateCount} templates, cap ${Tables.MaxTemplates}")
    assert(Tables.templateCount == 6)
  }

  test("a dial sweep past the template cap keeps the map within it, and " +
      "every swept request equals its fresh build") {
    val v = Seq(vecs(3))
    val lams = (1 to 2 * Tables.MaxTemplates).map(_.toDouble / (2 * Tables.MaxTemplates))
    def serve(lam: Double) = {
      val got = rows(RetrievalQueries.mmrSearchVectors(spark, dir, v, lam = lam))
      assert(Tables.templateCount <= Tables.MaxTemplates)
      got
    }
    Tables.dropTemplates()
    // forward: every λ is a new key, built fresh; back: the last cap
    // keys are still kept, so those requests bind into their templates
    val fresh = lams.map(serve)
    assert(fresh.forall(_.nonEmpty))
    lams.zip(fresh).reverse.foreach { case (lam, want) =>
      assert(serve(lam) == want, s"λ = $lam: bound != fresh")
    }
  }

  test("bound requests equal fresh builds over an INT-id corpus") {
    withTempDir { root =>
      spark.read.parquet(s"$dir/documents.parquet")
        .withColumn("doc_id", col("doc_id").cast("int"))
        .write.parquet(s"$root/documents.parquet")
      spark.read.parquet(s"$dir/embeddings.parquet")
        .write.parquet(s"$root/embeddings.parquet")
      for ((name, serve) <- entries(root.toString))
        boundEqualsFresh(name, serve,
          requests(phrase = name == "phraseSearchText").take(3), "INT ids")
    }
  }

  test("every index mutation reaches the next bound request: append, " +
      "takedown, purge, minor compaction, and another writer's append") {
    withTempDir { root =>
      Seq("documents", "embeddings").foreach(t =>
        spark.read.parquet(s"$dir/$t.parquet").write.parquet(s"$root/$t.parquet"))
      val d = root.toString
      val (pst, dl) = RetrievalQueries.incrementalPostingsDirs(spark, d)
      // one term, so the appended documents (that term six times) rank
      // first and every append or takedown changes the served ids
      val term = docs.head.split(" ").head
      val query = Seq(term)
      def served = rows(RetrievalQueries.bm25SearchText(spark, d, query))
      def fresh = { Tables.dropTemplates(); served }
      import spark.implicits._
      def batch(ids: Seq[Long]) =
        ids.map(i => (i, Seq.fill(6)(term).mkString(" "))).toDF("doc_id", "text")
      // a stale template would miss new files, or read files the
      // mutation deleted (FileNotFoundException)
      def step(what: String, changes: Boolean)(mutate: => Unit): Unit = {
        val before = served
        served // the template is warm
        mutate
        val after = served
        assert(after == fresh, s"after $what: bound $after != fresh")
        assert((after != before) == changes, s"$what: before $before, after $after")
      }
      step("append", changes = true)(RetrievalQueries.appendToPostingsIdempotent(
        batch(Seq(900001L, 900002L)), pst, dl, 7L))
      step("takedown", changes = true)(RetrievalQueries.deleteFromPostingsIdempotent(
        Seq(900001L).toDF("doc_id"), pst, dl, 7L))
      // the tombstoned rows go physically; the rows served stay
      step("purge", changes = false)(
        RetrievalQueries.purgePostingsTombstones(spark, pst, dl))
      // two more batches, so a postings partition holds two batch files
      // for the compaction to absorb (and delete)
      step("append", changes = true)(RetrievalQueries.appendToPostingsIdempotent(
        batch(Seq(900003L)), pst, dl, 8L))
      step("append", changes = true)(RetrievalQueries.appendToPostingsIdempotent(
        batch(Seq(900004L)), pst, dl, 9L))
      step("compaction", changes = false)(
        assert(RetrievalQueries.compactPostingsMinor(spark, pst, dl) > 0))
      step("another writer's append", changes = true) {
        // the ack protocol by hand, without this JVM's mutators: batch
        // files installed under batch-scoped names, then the ack marker
        val nb = DedupQueries.tableBuckets(spark, pst)
        val add = batch(Seq(900005L, 900006L))
        for ((table, rowsOf) <- Seq(
            pst -> RetrievalQueries.postingsDeltas(add, nb),
            dl -> RetrievalQueries.docStatsDeltas(add, nb))) {
          val stage = s"$root/stage-${new java.io.File(table).getName}"
          rowsOf.write.partitionBy("bkt").parquet(stage)
          new java.io.File(stage).listFiles().filter(_.getName.startsWith("bkt="))
            .foreach { part =>
              val live = new java.io.File(table, part.getName)
              live.mkdirs()
              part.listFiles().filter(_.getName.endsWith(".parquet")).zipWithIndex
                .foreach { case (f, k) =>
                  java.nio.file.Files.move(f.toPath, new java.io.File(live, s"b10-$k.parquet").toPath)
                }
            }
          java.nio.file.Files.createFile(new java.io.File(table, "_ingested/b10").toPath)
        }
      }
    }
  }
}
