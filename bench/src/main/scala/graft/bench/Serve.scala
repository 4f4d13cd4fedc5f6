package graft.bench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.analytics.{RetrievalQueries, SimilarityQueries}
import graft.core.Tables

/** The `serve` workload: one search user, one query per call, against
  * a generated corpus whose stored indexes are built in set-up. The
  * user's requests go to `bm25SearchText`, `phraseSearchText`,
  * `annSearchVectors`, `hybridSearch` and `mmrSearchVectors` in turn; a
  * request's latency is DataFrame construction plus the collect. One
  * timed operation is one pass of five requests, one per op: the five
  * latencies differ by op, so a median over single requests would jump
  * between ops from seed to seed, while a pass's wall is steady.
  * Query texts are spans of corpus documents, some with an
  * out-of-vocabulary word; query vectors are corpus embeddings plus
  * noise.
  */
object Serve {

  /** Corpus size: the shape of the catalog's sf0.1 corpus, generated
    * from the seed (5,000 documents of 10–100 tokens over the same
    * 31-word vocabulary, and 2,000 64-d embeddings).
    */
  val Docs = 5000
  val Vecs = 2000
  /** Documents of the untimed warm-up's corpus (half as many vectors). */
  val WarmupDocs = 200
  val Ops: IndexedSeq[String] = IndexedSeq("bm25SearchText", "phraseSearchText",
    "annSearchVectors", "hybridSearch", "mmrSearchVectors")

  /** One generated request. */
  final case class Request(op: String, text: String, vector: Array[Float])

  /** A request and what the serve returned. */
  final case class Served(req: Request, rows: Seq[Row])

  /** Seeded requests over a corpus (doc texts, embeddings). The ops
    * take turns, so every run serves the same mix.
    */
  def requests(seed: Long, n: Int, docs: IndexedSeq[String],
      vecs: IndexedSeq[Array[Float]]): IndexedSeq[Request] = {
    val r = new Gen.Rng(seed).split(0x5E4EL)
    (0 until n).map { i =>
      val op = Ops(i % Ops.size)
      val toks = docs(r.int(docs.size)).split(' ')
      val (len, oov) = op match {
        case "phraseSearchText" => (2 + r.int(3), r.chance(0.1))
        case _ => (4 + r.int(8), r.chance(0.2))
      }
      val start = r.int(math.max(1, toks.length - len + 1))
      val span = toks.slice(start, start + len).toSeq
      val words = if (oov) span :+ s"zq${r.int(1000)}" else span
      val v = vecs(r.int(vecs.size)).map(x => (x + 0.02 * r.gaussian()).toFloat)
      Request(op, words.mkString(" "), v)
    }
  }

  def call(ctx: Ctx, dir: String, req: Request, group: String): (Seq[Row], Double, Double) = {
    val s = ctx.spark
    val t0 = System.nanoTime()
    val df: DataFrame = ctx.span(group, "analytics", s"${req.op}.build") {
      req.op match {
        case "bm25SearchText" => RetrievalQueries.bm25SearchText(s, dir, Seq(req.text))
        case "phraseSearchText" => RetrievalQueries.phraseSearchText(s, dir, Seq(req.text))
        case "annSearchVectors" => SimilarityQueries.annSearchVectors(s, dir, Seq(req.vector))
        case "hybridSearch" => RetrievalQueries.hybridSearch(s, dir, Seq(req.text -> req.vector))
        case "mmrSearchVectors" => RetrievalQueries.mmrSearchVectors(s, dir, Seq(req.vector))
      }
    }
    val t1 = System.nanoTime()
    val rows = ctx.span(group, "analytics", s"${req.op}.exec") { df.collect().toSeq }
    val t2 = System.nanoTime()
    (rows, (t1 - t0) / 1e6, (t2 - t1) / 1e6)
  }

  final class State(val dir: String, val docs: IndexedSeq[String],
      val vecs: IndexedSeq[Array[Float]]) {
    val served = scala.collection.mutable.ArrayBuffer.empty[Served]
    val buildMs, execMs = scala.collection.mutable.HashMap.empty[String, List[Double]]
  }

  def run(ctx: Ctx): Result = {
    val docs = Gen.table("documents", ctx.seed, Docs).map(_.getString(1))
    val vecs = Gen.table("embeddings", ctx.seed, Vecs)
      .map(_.getSeq[Float](1).toArray)
    val reqs = requests(ctx.seed, 5000, docs, vecs)
    /** Write the corpus; the first call of each op builds its stored index. */
    def setup(dir: String, seed: Long, nDocs: Int, nVecs: Int, rs: Seq[Request]): Unit = {
      Gen.writeCorpus(ctx.spark, dir, seed, nDocs, nVecs)
      Ops.foreach { op =>
        val t0 = System.nanoTime()
        call(ctx, dir, rs.find(_.op == op).get, "setup")
        System.err.println(f"[bench]   first $op: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    val (st, setupS) = ctx.setupReps { dir =>
      val seed = ctx.seed ^ 0x3A53L
      val (wd, wv) = (Gen.table("documents", seed, WarmupDocs).map(_.getString(1)),
        Gen.table("embeddings", seed, WarmupDocs / 2).map(_.getSeq[Float](1).toArray))
      setup(dir, seed, WarmupDocs, WarmupDocs / 2, requests(seed, Ops.size, wd, wv))
    } { dir =>
      setup(dir, ctx.seed, Docs, Vecs, reqs)
      new State(dir, docs, vecs)
    }
    // untimed warm-up: one pass of other requests, so the timed window
    // starts on warm code paths and memo caches
    requests(ctx.seed ^ 0x3A53L, Ops.size, docs, vecs)
      .foreach(r => call(ctx, st.dir, r, "warmup"))
    // one operation is one pass: the five ops in turn, one request each
    val samples = ctx.closedLoop(minOps = 4) { pass =>
      Ops.indices.foreach { j =>
        val i = pass * Ops.size + j
        val req = reqs(i)
        val (rows, b, e) = call(ctx, st.dir, req, s"req$i")
        st.served += Served(req, rows)
        if (ctx.attached) {
          st.buildMs(req.op) = b :: st.buildMs.getOrElse(req.op, Nil)
          st.execMs(req.op) = e :: st.execMs.getOrElse(req.op, Nil)
        }
      }
      ("pass", Ops.size.toDouble)
    }
    val c0 = System.nanoTime()
    val failures = check(ctx, st)
    System.err.println(f"[bench] checks: ${(System.nanoTime() - c0) / 1e9}%.2f s")
    val metrics =
      if (!ctx.trace) Result.endToEnd(setupS, samples.filterNot(_.traced))
      else layers(ctx, st) ++ Result.overhead(samples)
    Result(metrics, samples.size, 0, failures)
  }

  // ------------------------------------------------------------ checks

  /** Recall@k floors against exact cosine, per vector op. Measured at
    * the library version this benchmark was written against, over
    * seventeen seeds of this corpus recipe: the lowest per-run mean (ann
    * 0.392, hybrid 0.359, mmr 0.371) less 0.1, about two standard errors
    * of a ~33-query mean below the lowest run, so a seed does not trip
    * the floor but a recall collapse does.
    */
  val RecallFloor: Map[String, Double] = Map(
    "annSearchVectors" -> 0.29, "hybridSearch" -> 0.25, "mmrSearchVectors" -> 0.27)

  /** Extra queries per vector op, served in one batch after the timed
    * window, so the recall floor is judged on enough queries.
    */
  val RecallQueries = 30

  def check(ctx: Ctx, st: State): Seq[String] = {
    val byOp = st.served.groupBy(_.req.op)
    val extra = requests(ctx.seed ^ 0x7EC411L, RecallQueries * Ops.size, st.docs, st.vecs)
    bm25Check(ctx, st, byOp.getOrElse("bm25SearchText", Seq.empty).toSeq) ++
      phraseCheck(st, byOp.getOrElse("phraseSearchText", Seq.empty).toSeq) ++
      VectorShape.keys.toSeq.sorted.flatMap(op => vectorCheck(st, op,
        byOp.getOrElse(op, Seq.empty).toSeq ++ batchServe(ctx, st.dir, extra.filter(_.op == op))))
  }

  /** Serve many requests of one vector op in one call; responses are
    * split by query position.
    */
  def batchServe(ctx: Ctx, dir: String, reqs: Seq[Request]): Seq[Served] = {
    val s = ctx.spark
    val df = reqs.head.op match {
      case "annSearchVectors" => SimilarityQueries.annSearchVectors(s, dir, reqs.map(_.vector))
      case "hybridSearch" => RetrievalQueries.hybridSearch(s, dir, reqs.map(r => r.text -> r.vector))
      case "mmrSearchVectors" => RetrievalQueries.mmrSearchVectors(s, dir, reqs.map(_.vector))
    }
    val rows = df.collect().toSeq.groupBy(_.getAs[Long]("q_id"))
    reqs.indices.map(i => Served(reqs(i), rows.getOrElse(i.toLong, Seq.empty)))
  }

  /** BM25 responses against the gated one-shot form: the corpus
    * recount of postings and scalars (no stored index) ranked by the
    * same scoring and cut to the same top 10.
    */
  def bm25Check(ctx: Ctx, st: State, served: Seq[Served]): Seq[String] =
    if (served.isEmpty) Seq.empty else {
      val s = ctx.spark
      val texts = served.map(_.req.text)
      val qt = RetrievalQueries.externalQueryTerms(s, texts)
      val docs = Tables.load(s, st.dir, "documents")
      val (pst, dl, gs) = RetrievalQueries.recomputedState(docs, qt)
      val want = RetrievalQueries.bm25Ranked(qt, pst, dl, gs)
        .filter(col("rank") <= 10)
        .select((-col("q_id") - 1).as("q_id"), col("n_id"), col("rank"),
          col("matched"), (floor(col("score") * 10000) / 10000).as("bm25"))
        .collect().map(r => (r.getLong(0).toInt, r.getLong(1), r.getInt(2), r.getInt(3), r.getDouble(4)))
        .groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3, x._4, x._5)).sortBy(_._2).toSeq).toMap
      served.zipWithIndex.flatMap { case (sv, i) =>
        val got = sv.rows.map(r => (r.getLong(1), r.getInt(2), r.getInt(3), r.getDouble(4)))
        val w = want.getOrElse(i, Seq.empty)
        if (got == w) None
        else Some(s"bm25SearchText('${sv.req.text}'): served ${got.take(3)}... != one-shot ${w.take(3)}...")
      }
    }

  /** Phrase responses against a driver-side brute force over the
    * corpus: occurrences of the lowercased token sequence per doc, top
    * 10 by (occurrences desc, doc id).
    */
  def phraseCheck(st: State, served: Seq[Served]): Seq[String] =
    served.flatMap { sv =>
      val ps = sv.req.text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").toSeq
      val want = st.docs.zipWithIndex.map { case (t, id) =>
        val ts = "\\S+".r.findAllIn(t.toLowerCase(java.util.Locale.ROOT)).toSeq
        id.toLong -> (0 to ts.length - ps.length).count(i => ts.slice(i, i + ps.length) == ps).toLong
      }.filter(_._2 > 0).sortBy { case (id, occ) => (-occ, id) }.take(10)
        .zipWithIndex.map { case ((id, occ), rk) => (id, rk + 1, occ) }
      val got = sv.rows.map(r => (r.getLong(1), r.getInt(2), r.getLong(3)))
      if (got == want) None
      else Some(s"phraseSearchText('${sv.req.text}'): served ${got.take(3)}... != brute force ${want.take(3)}...")
    }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }

  /** Vector responses: shape invariants (k rows, existing ids, ranks
    * 1..k, non-increasing scores) per request, and mean recall@k against
    * the exact-cosine top k at or above [[RecallFloor]]. Hybrid ids come
    * from both arms, so they may name any document; the others name
    * embeddings.
    */
  def vectorCheck(st: State, op: String, served: Seq[Served]): Seq[String] =
    if (served.isEmpty) Seq.empty else {
      val idBound = if (op == "hybridSearch") math.max(st.docs.size, st.vecs.size)
                    else st.vecs.size
      val shape = served.flatMap { sv =>
        val (rankCol, scoreCol, k) = VectorShape(op)
        val ids = sv.rows.map(_.getAs[Long]("n_id"))
        val ranks = sv.rows.map(_.getAs[Int](rankCol))
        val scores = sv.rows.map(_.getAs[Double](scoreCol))
        if (ids.size != k) Some(s"$op: ${ids.size} rows, want $k")
        else if (ids.exists(i => i < 0 || i >= idBound)) Some(s"$op: unknown id in $ids")
        else if (ranks != (1 to k)) Some(s"$op: ranks $ranks")
        else if (scores.zip(scores.drop(1)).exists { case (a, b) => b > a + 1e-12 })
          Some(s"$op: scores not non-increasing $scores")
        else None
      }
      val recall = served.map { sv =>
        val k = sv.rows.size
        val exact = st.vecs.indices.sortBy(i => -cosine(st.vecs(i), sv.req.vector)).take(k).toSet
        sv.rows.count(r => exact(r.getAs[Long]("n_id").toInt)).toDouble / math.max(k, 1)
      }
      val mean = recall.sum / recall.size
      System.err.println(f"[serve] $op mean recall@k vs exact cosine: $mean%.4f over ${recall.size}")
      shape.take(3) ++
        (if (mean + 1e-9 < RecallFloor(op)) Seq(f"$op: mean recall $mean%.4f < floor ${RecallFloor(op)}") else Nil)
    }

  /** (rank column, score column, rows per query) of each vector op's
    * response at its default dials.
    */
  val VectorShape: Map[String, (String, String, Int)] = Map(
    "annSearchVectors" -> ("rank", "cosine", 3),
    "hybridSearch" -> ("rank", "rrf_score", 10),
    "mmrSearchVectors" -> ("pick", "mmr_score", 5))

  // ------------------------------------------------------------ layers

  def layers(ctx: Ctx, st: State): Map[String, (Double, String)] = {
    val t = ctx.tracer.get
    t.settle()
    val roots = t.spans.filter(_.parent.isEmpty)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Ops.flatMap { op =>
      val reqs = roots.filter(_.name.startsWith(s"$op.")).groupBy(_.group).values.toSeq
      val jobs = reqs.map(_.flatMap(t.jobsOf))
      Seq(
        s"analytics.$op.build_ms" -> (med(st.buildMs.getOrElse(op, Nil)), "ms"),
        s"analytics.$op.exec_ms" -> (med(st.execMs.getOrElse(op, Nil)), "ms"),
        s"analytics.$op.spark_jobs" -> (med(jobs.map(_.size.toDouble)), "count"),
        s"analytics.$op.bytes_read" -> (med(jobs.map(_.map(_.bytesRead).sum.toDouble)), "bytes"))
    }.toMap ++ Layers.common(ctx, roots)
  }
}
