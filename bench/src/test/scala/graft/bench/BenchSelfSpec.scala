package graft.bench

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The harness's own logic: statistics, generators, reference models
  * and output checks. No Spark session: everything here is plain JVM
  * code, so the checks cannot share a fault with the code they judge.
  */
class BenchSelfSpec extends AnyFunSuite {

  test("median and interval union") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Tracer.unionMs(Seq((5.0, 15.0), (0.0, 10.0), (20.0, 30.0))) == 25.0)
    assert(Tracer.unionMs(Seq.empty) == 0.0)
  }

  test("a job's module is the innermost library frame of its call site") {
    val site = Seq(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n" +
        "graft.sinks.Upsert$.upsertParquetPartitioned(Upsert.scala:631)\n" +
        "graft.jobs.LoadJob$.run(Jobs.scala:184)\n" +
        "graft.bench.Ingest$.batch(Ingest.scala:87)")
    assert(Tracer.moduleOf(site) == "sinks")
    assert(Tracer.moduleOf(Seq("graft.bench.Main$.main(Main.scala:1)")) == "other")
    assert(Tracer.moduleOf(Seq("graft.SparkEntry$.x(SparkEntry.scala:1)")) == "other")
  }

  test("generators: byte-identical for one seed, different for another") {
    def listing(seed: Long) = Gen.render(Gen.listings(seed, 6, 2).flatMap(_.pages.flatten))
    def pages(seed: Long) = Gen.listings(seed, 3, 2).flatMap(_.pages).map(Gen.pageJson)
    def corpus(seed: Long) = Seq("documents", "embeddings")
      .map(t => Gen.render(Gen.table(t, seed, 50)))
    def reqs(seed: Long) = {
      val docs = Gen.table("documents", 1, 50).map(_.getString(1))
      val vecs = Gen.table("embeddings", 1, 50).map(_.getSeq[Float](1).toArray)
      Gen.render(Serve.requests(seed, 30, docs, vecs).map(r => (r.op, r.text, r.vector)))
    }
    for (g <- Seq[Long => Any](listing, pages, corpus, reqs)) {
      assert(g(7) == g(7))
      assert(g(7) != g(8))
    }
  }

  test("listing mix: re-appearing, in-batch duplicate and malformed posts occur") {
    val bs = Gen.listings(3, 20, 3)
    val keys = bs.map(_.pages.flatten.map(p => IngestModel.key(p, "")))
    assert(keys.exists(k => k.distinct.size < k.size), "no in-batch duplicate")
    assert(keys.zipWithIndex.exists { case (k, i) =>
      i > 0 && k.exists(keys.take(i).flatten.toSet) }, "no re-appearance")
    val posts = bs.flatMap(_.pages.flatten)
    assert(posts.exists(_.name.isEmpty) && posts.exists(_.score.isEmpty) &&
      posts.exists(_.createdUtc.contains(0.0)) && posts.exists(_.title.contains("\n")))
    assert(bs.forall(_.pages.forall(_.size <= 40)), "a page over the fetch limit")
    // a backfill batch 0 is one page of the requested size
    val h = Gen.listings(3, 3, 2, historyPosts = 100)
    assert(h(0).pages.map(_.size) == IndexedSeq(100))
    assert(h.drop(1).forall(_.pages.map(_.size) == IndexedSeq(25, 25)))
  }

  test("ingest model on a hand-built three-batch case") {
    assert(IngestModel.sha256("abc") ==
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    def post(id: String, score: Long, title: String = "rome trip",
        name: Option[String] = null, created: Double = 1.7e9,
        flair: String = "Tips") = Gen.Post(
      name = Option(name).getOrElse(Some(s"t3_$id")), id = Some(id),
      createdUtc = Some(created), score = Some(score), numComments = Some(1L),
      title = title, author = Some("ann"), permalink = Some(s"/r/x/$id/"),
      subreddit = Some("ItalyTravel"), flair = Some(flair))
    val b1 = Gen.Batch(IndexedSeq(IndexedSeq(
      post("a", 10),
      post("b", 5, name = None), // no name: keyed by t3_<id>
      post("c", 5000000000L, title = " hi\nmail me@x.com  now 12345678 ",
        created = 0.0)))) // malformed: score out of range, no time
    val b2 = Gen.Batch(IndexedSeq(
      IndexedSeq(post("a", 20, flair = "Question"), post("d", 1)),
      IndexedSeq(post("a", 99)))) // in-batch duplicate: the first wins
    val b3 = Gen.Batch(IndexedSeq(IndexedSeq(post("b", 7, title = "new title"))))
    val salt = "s"
    val rows = IngestModel.table(Seq(b1, b2, b3), salt)
      .map(r => IngestModel.Columns.zip(r).toMap)
    def k(fullname: String) = IngestModel.sha256(salt + fullname)
    val byKey = rows.map(r => r("thing_key") -> r).toMap
    assert(rows.size == 4)
    assert(byKey(k("t3_a"))("score") == "20")
    assert(byKey(k("t3_a"))("flair_text") == "Question")
    assert(byKey(k("t3_b"))("score") == "7")
    assert(byKey(k("t3_b"))("title_sanitized") == "new title")
    assert(byKey(k("t3_b"))("id") == IngestModel.sha256(salt + "b"))
    assert(byKey(k("t3_c"))("score") == "0")
    assert(byKey(k("t3_c"))("created_at") == null)
    assert(byKey(k("t3_c"))("title_sanitized") ==
      "hi mail [redacted-email] now [redacted-number]")
    assert(byKey(k("t3_d"))("created_at") == "1700000000")
    assert(byKey(k("t3_a"))("permalink") ==
      IngestModel.sha256(salt + "https://www.reddit.com/r/x/a/"))
    // first appearances feed the maintainers once each, in order
    val docs = IngestModel.firstAppearances(Seq(b1, b2, b3))
    assert(docs(0).map(_._1) == Seq(0L, 1L, 2L))
    assert(docs(1).map(_._1) == Seq(3L))
    assert(docs(2).isEmpty)
  }

  test("an output check fails when one result row is perturbed") {
    // serving table vs model
    val want = IngestModel.table(Gen.listings(5, 3, 1), "s")
    assert(IngestModel.diff(want, want).isEmpty)
    val bad = want.updated(1, want(1).updated(4, "12345"))
    assert(IngestModel.diff(bad, want).nonEmpty)
    assert(IngestModel.diff(want :+ want(0), want).nonEmpty)
    // phrase responses vs brute force
    val st = new Serve.State("", IndexedSeq("a b a b", "b a", "c"),
      IndexedSeq(Array(1f, 0f), Array(0f, 1f), Array(1f, 1f)))
    val req = Serve.Request("phraseSearchText", "A b", Array.empty[Float])
    val good = Seq(Row(0L, 0L, 1, 2L))
    assert(Serve.phraseCheck(st, Seq(Serve.Served(req, good))).isEmpty)
    assert(Serve.phraseCheck(st, Seq(Serve.Served(req, Seq(Row(0L, 0L, 1, 1L))))).nonEmpty)
    // vector responses: shape invariants
    val schema = StructType(Seq(StructField("q_id", LongType), StructField("n_id", LongType),
      StructField("rank", IntegerType), StructField("cosine", DoubleType)))
    def ann(rows: (Long, Int, Double)*) = Serve.Served(
      Serve.Request("annSearchVectors", "", Array(1f, 0.1f)),
      rows.map { case (n, r, c) => new GenericRowWithSchema(Array(0L, n, r, c), schema): Row })
    val ok = ann((0L, 1, 0.99), (2L, 2, 0.77), (1L, 3, 0.1))
    assert(Serve.vectorCheck(st, "annSearchVectors", Seq(ok)).isEmpty)
    assert(Serve.vectorCheck(st, "annSearchVectors",
      Seq(ann((0L, 1, 0.99), (2L, 3, 0.77), (1L, 2, 0.1)))).nonEmpty)
    assert(Serve.vectorCheck(st, "annSearchVectors",
      Seq(ann((0L, 1, 0.5), (2L, 2, 0.77), (1L, 3, 0.1)))).nonEmpty)
    assert(Serve.vectorCheck(st, "annSearchVectors",
      Seq(ann((0L, 1, 0.99), (9L, 2, 0.77), (1L, 3, 0.1)))).nonEmpty)
  }
}
