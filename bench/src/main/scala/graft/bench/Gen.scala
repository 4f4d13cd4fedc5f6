package graft.bench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every generator is a pure function of its
  * seed and sizes: the same seed gives the same records, byte for byte
  * once rendered (see [[Gen.render]]), and a different seed gives
  * different ones. Writers only persist what the generators return.
  */
object Gen {

  /** splitmix64 — a tiny, fully specified PRNG, so the inputs cannot
    * drift with a JDK's `Random` implementation.
    */
  final class Rng(seed: Long) {
    private var x = seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
    def nextLong(): Long = {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def int(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
    def double(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def gaussian(): Double = {
      val u = math.max(double(), 1e-12)
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * double())
    }
    def pick[A](xs: IndexedSeq[A]): A = xs(int(xs.size))
    def chance(p: Double): Boolean = double() < p
    def split(salt: Long): Rng = new Rng(nextLong() ^ salt)
  }

  /** A deterministic text rendering of any generated record set (rows,
    * case classes, arrays): what the determinism self-test compares.
    */
  def render(xs: Iterable[Any]): String = xs.map {
    case r: Row => r.toSeq.map(renderCell).mkString("|")
    case p: Product => p.productIterator.map(renderCell).mkString("|")
    case o => renderCell(o)
  }.mkString("\n")

  private def renderCell(v: Any): String = v match {
    case null => "∅"
    case a: Array[Float] => a.map(java.lang.Float.floatToIntBits).mkString(",")
    case s: scala.collection.Seq[_] => s.map(renderCell).mkString("[", ",", "]")
    case o => o.toString
  }

  // ------------------------------------------------------------ corpus

  /** Vocabulary of the document text: the engine's corpus family uses a
    * small closed vocabulary, so postings, shingles and phrases repeat.
    */
  val Words: IndexedSeq[String] = IndexedSeq(
    "a", "the", "fast", "slow", "big", "small", "spark", "query", "table",
    "row", "column", "key", "value", "hash", "sort", "merge", "join",
    "scan", "filter", "group", "agg", "window", "batch", "stream", "data",
    "part", "order", "line", "customer", "vector", "dup")

  val Dim = 64

  val schemas: Map[String, StructType] = Map(
    "documents" -> StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType))),
    "embeddings" -> StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true)),
      StructField("label", IntegerType))))

  /** `rows` rows of one corpus table: `documents`, or `embeddings`
    * (unit vectors drawn around ten centroids). Each table draws from
    * its own stream of the seed.
    */
  def table(name: String, seed: Long, rows: Int): IndexedSeq[Row] = {
    val r = new Rng(seed).split(name.hashCode.toLong)
    name match {
      case "documents" =>
        documents(r, rows).map { case (id, text) =>
          Row(id, text, r.pick(IndexedSeq("en", "en", "en", "de", "fr", "es", "zh")),
            s"src${r.int(20)}", text.length.toLong)
        }
      case "embeddings" =>
        val centroids = Array.fill(10)(unit(Array.fill(Dim)(r.gaussian())))
        (0 until rows).map { i =>
          val label = r.int(10)
          val c = centroids(label)
          val v = unit(Array.tabulate(Dim)(d => c(d) + 0.6 * r.gaussian() / math.sqrt(Dim / 4.0)))
          Row(i.toLong, v.map(_.toFloat).toSeq, label)
        }
    }
  }

  /** (doc_id, text): 10–100 vocabulary tokens; ~10% of the docs are
    * near-copies of an earlier doc with a few tokens changed, so dedup
    * and clustering find real neighbours.
    */
  def documents(r: Rng, n: Int): IndexedSeq[(Long, String)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    for (i <- 0 until n) {
      val text =
        if (i > 10 && r.chance(0.1)) {
          val base = out(r.int(out.size))._2.split(' ')
          (0 until 1 + r.int(3)).foreach(_ => base(r.int(base.length)) = r.pick(Words))
          base.mkString(" ")
        } else Seq.fill(10 + r.int(91))(r.pick(Words)).mkString(" ")
      out += i.toLong -> text
    }
    out.toIndexedSeq
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** Write a corpus of `docs` documents and `vecs` embeddings as
    * `<dir>/<table>.parquet`, one file per table, the layout the
    * engine's loaders read.
    */
  def writeCorpus(spark: SparkSession, dir: String, seed: Long, docs: Int,
      vecs: Int): Unit =
    Seq("documents" -> docs, "embeddings" -> vecs).foreach { case (t, n) =>
      spark.createDataFrame(
          spark.sparkContext.parallelize(table(t, seed, n), 1), schemas(t))
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }

  // ----------------------------------------------------------- listings

  /** One post as it appears in one listing page. `None` fields are
    * absent from the JSON object.
    */
  final case class Post(
      name: Option[String], id: Option[String], createdUtc: Option[Double],
      score: Option[Long], numComments: Option[Long], title: String,
      author: Option[String], permalink: Option[String],
      subreddit: Option[String], flair: Option[String])

  /** One batch: its listing pages, in file order. */
  final case class Batch(pages: IndexedSeq[IndexedSeq[Post]])

  /** Post count of every listing page (the fetch stage caps a page at
    * `GraftConf.fetchLimit` = 40 posts; pages stay under it).
    */
  val PostsPerPage = 25

  /** Mix of the ingest stream, as shares of the posts in a batch. */
  val ReappearShare = 0.30
  val InBatchDupShare = 0.05
  val MalformedShare = 0.02

  private val TitleWords = IndexedSeq("rome", "venice", "florence", "train",
    "ticket", "hotel", "beach", "pasta", "museum", "tips", "itinerary",
    "budget", "week", "summer", "lake", "como", "naples", "sicily", "ferry",
    "wine")
  private val Flairs = IndexedSeq("Question", "Itinerary", "Trip Report", "Tips")

  /** `nBatches` batches of `pagesPerBatch` pages; with `historyPosts`
    * > 0, batch 0 is instead one backfill page of that many posts, which
    * pre-grows the serving table before the regular batches. A post
    * first seen in an earlier batch re-appears with new score and
    * comment counts; a post may repeat inside one batch with different
    * counts (the first occurrence in file order wins); a few posts are
    * malformed: no `name` (the key falls back to `t3_<id>`), a zero
    * `created_utc`, missing counts, an out-of-range score, or a title
    * that needs sanitizing.
    */
  def listings(seed: Long, nBatches: Int, pagesPerBatch: Int,
      historyPosts: Int = 0): IndexedSeq[Batch] = {
    val r = new Rng(seed).split(0x11571L)
    var next = 0
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val seenSet = scala.collection.mutable.HashSet.empty[Int]
    def fresh(): Int = { val k = next; next += 1; k }
    // a post's stable fields come from its own stream; what changes
    // between appearances (counts, flair, malformation) from `r`
    def post(k: Int, malformed: Boolean): Post = {
      val own = new Rng(seed).split(k.toLong)
      val id = java.lang.Long.toString(1000000L + k * 7919L, 36)
      val title0 = Seq.fill(3 + own.int(6))(own.pick(TitleWords)).mkString(" ")
      val author = s"user${own.int(400)}"
      val kind = if (malformed) r.int(5) else -1
      Post(
        name = if (kind == 0) None else Some(s"t3_$id"),
        id = Some(id),
        createdUtc = Some(if (kind == 1) 0.0 else 1.7e9 + k * 600.0),
        score = if (kind == 2) None else if (kind == 3) Some(5000000000L)
                else Some(r.int(5000).toLong),
        numComments = if (kind == 2) None else Some(r.int(300).toLong),
        title = if (kind == 4) s" $title0\ncontact me@mail.com  or 5551234567 " else title0,
        author = Some(author),
        permalink = Some(s"/r/ItalyTravel/comments/$id/post_$k/"),
        subreddit = Some("ItalyTravel"),
        flair = Some(r.pick(Flairs)))
    }
    (0 until nBatches).map { b =>
      val history = b == 0 && historyPosts > 0
      val n = if (history) historyPosts else pagesPerBatch * PostsPerPage
      val keys = scala.collection.mutable.ArrayBuffer.empty[Int]
      val inBatch = scala.collection.mutable.HashSet.empty[Int]
      while (keys.size < n) {
        val u = r.double()
        val k =
          if (u < InBatchDupShare && keys.nonEmpty) keys(r.int(keys.size))
          else if (u < InBatchDupShare + ReappearShare && seen.nonEmpty) {
            val k = seen(r.int(seen.size))
            if (inBatch(k)) -1 else k
          } else fresh()
        if (k >= 0) { keys += k; inBatch += k }
      }
      val posts = keys.map(k => post(k, r.chance(MalformedShare))).toIndexedSeq
      keys.foreach(k => if (seenSet.add(k)) seen += k)
      Batch(posts.grouped(if (history) n else PostsPerPage).toIndexedSeq)
    }
  }

  /** A listing page as reddit's API returns it. */
  def pageJson(posts: Seq[Post]): String = {
    def q(s: String): String = {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case '\n' => b ++= "\\n"
        case c => b += c
      }
      b += '"'
      b.toString
    }
    val children = posts.map { p =>
      val fields = Seq(
        p.name.map(v => s""""name": ${q(v)}"""),
        p.id.map(v => s""""id": ${q(v)}"""),
        p.createdUtc.map(v => s""""created_utc": $v"""),
        p.score.map(v => s""""score": $v"""),
        p.numComments.map(v => s""""num_comments": $v"""),
        Some(s""""title": ${q(p.title)}"""),
        p.author.map(v => s""""author": ${q(v)}"""),
        p.permalink.map(v => s""""permalink": ${q(v)}"""),
        p.subreddit.map(v => s""""subreddit": ${q(v)}"""),
        p.flair.map(v => s""""link_flair_text": ${q(v)}""")).flatten
      s"""{"kind": "t3", "data": {${fields.mkString(", ")}}}"""
    }
    s"""{"kind": "Listing", "data": {"children": [${children.mkString(", ")}]}}"""
  }
}
