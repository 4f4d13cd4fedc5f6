package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.analytics.{RetrievalQueries, SimilarityQueries}

/** The one-partition serve tier ([[graft.core.Tables.Tier]]): over the
  * small fixture every stored-index request fits one task, so each of
  * the five external search entries runs as ONE Spark job, and its rows
  * equal the distributed tier's ([[SparkSpec.withDistributedServes]]).
  */
class ServeTierSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Query texts: a stored document verbatim, and a span of another
    * with an out-of-vocabulary word.
    */
  private lazy val texts: Seq[String] = {
    val docs = graft.core.Tables.load(spark, dir, "documents")
      .filter(col("doc_id").isin(7L, 11L)).orderBy(col("doc_id"))
      .select(col("text")).collect().map(_.getString(0))
    Seq(docs(0), docs(1).split(" ").take(6).mkString(" ") + " zqoovword")
  }

  /** Phrases: the exact stored document's first words, and one with an
    * out-of-vocabulary word.
    */
  private lazy val phrases: Seq[String] =
    Seq(texts.head.split(" ").take(3).mkString(" "),
      texts(1).split(" ").takeRight(2).mkString(" "))

  /** Query vectors: a stored vector verbatim, and another with noise. */
  private lazy val vectors: Seq[Array[Float]] =
    graft.core.Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id").isin(3L, 9L)).orderBy(col("vec_id"))
      .collect().toSeq.zipWithIndex.map { case (r, i) =>
        r.getSeq[Float](1).toArray.map(x => if (i == 0) x else x + 0.01f)
      }

  private def entries: Seq[(String, () => DataFrame)] = Seq(
    "bm25SearchText" -> (() =>
      RetrievalQueries.bm25SearchText(spark, dir, texts)),
    "phraseSearchText" -> (() =>
      RetrievalQueries.phraseSearchText(spark, dir, phrases)),
    "annSearchVectors" -> (() =>
      SimilarityQueries.annSearchVectors(spark, dir, vectors)),
    "hybridSearch" -> (() =>
      RetrievalQueries.hybridSearch(spark, dir, texts.zip(vectors))),
    "mmrSearchVectors" -> (() =>
      RetrievalQueries.mmrSearchVectors(spark, dir, vectors)))

  private def served(mk: () => DataFrame): Seq[Row] = mk().collect().toSeq

  for ((name, mk) <- entries)
    test(s"$name: one Spark job per request in the one-partition tier, " +
        "rows identical to the forced-distributed tier") {
      served(mk) // builds the memoized stored indexes and scalars
      val (rows, jobs) = jobsOf(served(mk))
      val (forced, forcedJobs) = jobsOf(withDistributedServes(served(mk)))
      assert(rows.nonEmpty, s"$name served no rows")
      assert(jobs == 1, s"$name ran $jobs Spark jobs")
      assert(forcedJobs > 1,
        s"$name: the forced bound did not pick the distributed tier")
      assert(rows == forced, s"$name: one-partition $rows\n!= distributed $forced")
    }

  test("fusion arms: the pool-side arm's jobs carry the caller's job " +
      "group and description, whichever thread created the pool thread") {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add((e.properties.getProperty("spark.jobGroup.id"),
          e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(l)
    try for (g <- Seq("request-a", "request-b")) {
      seen.clear()
      sc.setJobGroup(g, s"$g-span", interruptOnCancel = false)
      try RetrievalQueries.inParallel(spark.range(3).count(), ())
      finally sc.clearJobGroup()
      org.apache.spark.graftspec.Bus.drain(sc)
      assert(!seen.isEmpty && seen.toArray.forall(_ == ((g, s"$g-span"))),
        seen.toArray.mkString(", "))
    } finally sc.removeSparkListener(l)
  }

  test("fusion arms: a failing calling-thread arm cancels the pool-side " +
      "arm's job and waits for it, so no job is left running") {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val err = intercept[IllegalStateException] {
      RetrievalQueries.inParallel(
        spark.range(0, 200, 1, 2).foreach(_ => Thread.sleep(100)),
        {
          val deadline = System.nanoTime() + 30e9
          while (sc.statusTracker.getActiveJobIds.isEmpty &&
              System.nanoTime() < deadline) Thread.sleep(20)
          throw new IllegalStateException("calling-thread arm failed")
        })
    }
    assert(err.getMessage == "calling-thread arm failed")
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    // cancelled, not run to completion (each task sleeps 10 s)
    assert((System.nanoTime() - t0) / 1e9 < 8)
  }

  test("fusion arms: more concurrent distributed hybrid requests than the " +
      "arm pool has threads return the serial rows and leave no job running") {
    val n = RetrievalQueries.ArmPoolSize + 2
    val reqs = (0 until n).map(i => Seq(texts(i % 2) -> vectors(i % 2)))
    def hybrid(r: Seq[(String, Array[Float])]) =
      served(() => RetrievalQueries.hybridSearch(spark, dir, r))
    withDistributedServes {
      val serial = reqs.map(hybrid)
      val threads = java.util.concurrent.Executors.newFixedThreadPool(n)
      try {
        val start = new java.util.concurrent.CountDownLatch(1)
        val fs = reqs.map(r => threads.submit(
          new java.util.concurrent.Callable[Seq[Row]] {
            def call(): Seq[Row] = { start.await(); hybrid(r) }
          }))
        start.countDown()
        assert(fs.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS)) == serial)
      } finally threads.shutdownNow()
    }
    org.apache.spark.graftspec.Bus.drain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
  }

  test("an exact-match query vector retrieves its stored twin at rank 1") {
    val ann = served(entries(2)._2).filter(_.getLong(0) == 0L)
    assert(ann.head.getLong(1) == 3L && ann.head.getInt(2) == 1, ann)
  }
}
