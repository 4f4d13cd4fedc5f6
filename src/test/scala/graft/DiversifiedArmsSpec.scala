package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.analytics.RetrievalQueries

/** The diversified retrieval family and its fusion siblings under every
  * forced arm: the default shape, the distributed serve tier
  * ([[SparkSpec.withDistributedServes]]), the driver-collect cap at 0
  * ([[SparkSpec.withoutDriverCollects]]: relational fusion, join-fetched
  * candidate vectors, the exact pool in the planner tier), and both
  * together. Each entry's rows are identical in all four.
  */
class DiversifiedArmsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** A pool past the indexed serve's default ADC budget. */
  private val Pool = 30

  /** Query vectors: a stored vector verbatim, another with noise, and
    * the first again (a duplicate query in the same batch).
    */
  private lazy val vectors: Seq[Array[Float]] = {
    val vs = graft.core.Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id").isin(3L, 9L)).orderBy(col("vec_id"))
      .collect().toSeq.zipWithIndex.map { case (r, i) =>
        r.getSeq[Float](1).toArray.map(x => if (i == 0) x else x + 0.01f)
      }
    vs :+ vs.head
  }

  /** (text, vector) queries: stored document 7 verbatim with vector 3,
    * a span of document 11 with an out-of-vocabulary word, and the
    * first again.
    */
  private lazy val queries: Seq[(String, Array[Float])] = {
    val docs = graft.core.Tables.load(spark, dir, "documents")
      .filter(col("doc_id").isin(7L, 11L)).orderBy(col("doc_id"))
      .select(col("text")).collect().map(_.getString(0))
    Seq(docs(0), docs(1).split(" ").take(6).mkString(" ") + " zqoovword",
      docs(0)).zip(vectors)
  }

  private def embKey = graft.core.Tables.derivedStateKey(spark, dir, "embeddings")

  private def entries: Seq[(String, () => DataFrame)] =
    Seq(0.0, 0.25, 1.0).flatMap { lam => Seq(
      s"mmrDiversified λ=$lam" -> (() =>
        RetrievalQueries.mmrDiversified(spark, dir, 5, Pool, 5, lam)),
      s"mmrDiversifiedIndexed λ=$lam" -> (() =>
        RetrievalQueries.mmrDiversifiedIndexed(spark, dir, 5, Pool, 5, lam)),
      s"mmrSearchVectors exact pool λ=$lam" -> (() =>
        RetrievalQueries.mmrVectorsExact(spark, dir, embKey, vectors, Pool, 5, lam)),
      s"mmrSearchVectors indexed pool λ=$lam" -> (() =>
        RetrievalQueries.mmrVectorsIndexed(spark, dir, vectors, Pool, 5, lam)),
      s"hybridDiversified λ=$lam" -> (() =>
        RetrievalQueries.hybridDiversified(spark, dir, 5, 5, lam)),
      s"searchDiversified λ=$lam" -> (() =>
        RetrievalQueries.searchDiversified(spark, dir, queries, 5, lam)))
    } ++ Seq(
      "hybridRrfExact" -> (() => RetrievalQueries.hybridRrfExact(spark, dir, 5)),
      "hybridRrfIndexed" -> (() => RetrievalQueries.hybridRrfIndexed(spark, dir, 5)),
      "hybridSearch" -> (() => RetrievalQueries.hybridSearch(spark, dir, queries)))

  private def forced[T](body: => T): Seq[(String, () => T)] = Seq(
    "default" -> (() => body),
    "distributed serves" -> (() => withDistributedServes(body)),
    "no driver collects" -> (() => withoutDriverCollects(body)),
    "both" -> (() => withDistributedServes(withoutDriverCollects(body))))

  test("every diversified and fused entry gives identical rows under the " +
      "default, distributed-serve, no-driver-collect and combined arms") {
    for ((name, mk) <- entries) {
      val runs = forced(mk().collect().toSeq).map { case (arm, run) => arm -> run() }
      val want = runs.head._2
      assert(want.nonEmpty, s"$name served no rows")
      for ((arm, got) <- runs.tail)
        assert(got == want, s"$name: $arm\n$got\n!= default\n$want")
    }
  }

  test("duplicate queries in one batch get the same picks, and a pool past " +
      "the ADC budget fills every pick") {
    for (lam <- Seq(0.0, 0.25, 1.0)) {
      val picks = RetrievalQueries.mmrVectorsIndexed(spark, dir, vectors, Pool, 25, lam)
        .collect().toSeq.groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(r => (r.getLong(1), r.getInt(2), r.getDouble(3))) }
      assert(picks(0L).map(_._2) == (1 to 25), s"λ=$lam: ${picks(0L)}")
      assert(picks(0L) == picks(2L), s"λ=$lam: duplicate queries diverge")
    }
  }

  /** Spark jobs of a catalog query's build and collect on the sf0.001
    * fixture, stored indexes warm, pinned at the counts of the one
    * grouped kernel. Before it both queries ran 8 (they collected
    * their candidate vectors and ran the greedy on the driver).
    */
  for ((q, bound) <- Seq("q_mmr_diversify_indexed" -> 3, "q_search_diversified" -> 5))
    test(s"$q: at most $bound Spark jobs per warm build and collect") {
      def run() = SparkEntry.queries(q)(spark, dir).collect().toSeq
      val want = run()
      val (rows, jobs) = jobsOf(run())
      assert(rows == want && rows.nonEmpty)
      assert(jobs <= bound, s"$q ran $jobs Spark jobs")
    }
}
