package graft.bench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.GraftConf
import graft.jobs.{CombineJob, FetchJob, LoadJob}
import graft.streaming.StreamingPipeline

/** The `ingest` workload: the pipeline's own job. Each batch fetches
  * its listing pages to landing CSVs (`FetchJob.run` per page),
  * combines and dedups them (`CombineJob.run`), upserts the combined
  * CSV into a parquet serving table that grows across batches
  * (`LoadJob.run`), and hands each post's first appearance to the
  * postings and dedup maintainers as a `(doc_id, text)` document
  * (`StreamingPipeline.startPostingsIngest` and
  * `startDedupMaintenance`, `Trigger.AvailableNow`, run side by side).
  * One operation is one batch, timed from its pages on disk to both
  * maintainers acked; its units are the batch's input posts. Set-up
  * runs batch 0, a backfill page of [[HistoryPosts]] posts, so the
  * timed batches upsert into a table and absorb into indexes of that
  * size, whatever number of batches a run reaches.
  */
object Ingest {

  val PagesPerBatch = 2
  val HistoryPosts = 1000
  /** Backfill size of the untimed warm-up. */
  val WarmupHistoryPosts = 50
  /** Batches the generator prepares; far above what a run consumes. */
  val MaxBatches = 400

  final class Dirs(root: String) {
    val pages = s"$root/pages"
    val data = s"$root/data"
    val combined = s"$root/combined"
    val loaded = s"$root/loaded"
    val table = s"$root/table"
    val staged = s"$root/staged"
    val incoming = s"$root/incoming"
    val pst = s"$root/pst"
    val dl = s"$root/dl"
    val sig = s"$root/sig"
    val labels = s"$root/labels"
    val ckptPst = s"$root/ckpt-pst"
    val ckptDedup = s"$root/ckpt-dedup"
    def index: Seq[String] = Seq(pst, dl, sig, labels)
  }

  final class State(val dirs: Dirs, val batches: IndexedSeq[Gen.Batch]) {
    val firstSeen: Map[Int, Seq[(Long, String)]] = IngestModel.firstAppearances(batches)
    var done = 0
    val filesRewritten = scala.collection.mutable.ArrayBuffer.empty[Double]
    val postingsRuns, dedupRuns = scala.collection.mutable.Set.empty[String]
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val conf = GraftConf.default
    val batches = Gen.listings(ctx.seed, MaxBatches, PagesPerBatch, HistoryPosts)

    def prepare(st: State, b: Int): Unit = {
      val d = st.dirs
      st.batches(b).pages.zipWithIndex.foreach { case (posts, p) =>
        val json = Gen.pageJson(posts)
        val f = new File(f"${d.pages}/b$b%05d_p$p%03d.json")
        f.getParentFile.mkdirs()
        Files.write(f.toPath, json.getBytes("UTF-8"))
      }
      import spark.implicits._
      val docs = st.firstSeen.getOrElse(b, Seq.empty)
      spark.sparkContext.setJobGroup(Layers.PrepareGroup, "stage documents")
      try docs.toDF("doc_id", "text").coalesce(1).write.mode("overwrite")
        .parquet(f"${d.staged}/b$b%05d")
      finally spark.sparkContext.clearJobGroup()
    }

    def batch(st: State, b: Int): Double = {
      val d = st.dirs
      val g = s"batch$b"
      st.batches(b).pages.zipWithIndex.foreach { case (posts, p) =>
        // the backfill page is larger than the fetch stage's page cap
        val fetchConf = conf.copy(fetchLimit = math.max(conf.fetchLimit, posts.size))
        ctx.span(g, "jobs", "fetch") {
          FetchJob.run(spark, f"${d.pages}/b$b%05d_p$p%03d.json",
            f"${d.data}/italytravel_$b%05d_$p%03d.csv", fetchConf)
        }
      }
      val combined = ctx.span(g, "jobs", "combine") {
        CombineJob.run(spark, d.data, d.combined, d.loaded, conf,
          outName = Some(f"combined_$b%05d.csv"))
      }.getOrElse(throw new IllegalStateException(s"batch $b combined nothing"))
      val before = if (ctx.attached) Some(dataFiles(d.table)) else None
      ctx.span(g, "jobs", "load") { LoadJob.run(spark, combined, d.table, conf) }
      before.foreach(b0 => st.filesRewritten += (dataFiles(d.table) -- b0).size)
      // hand the batch's new documents to both maintainers
      landDocs(f"${d.staged}/b$b%05d", d.incoming, f"b$b%05d.parquet")
      ctx.span(g, "streaming", "absorb") {
        val qs = Seq(
          StreamingPipeline.startPostingsIngest(spark, d.incoming, d.pst, d.dl,
            d.ckptPst, Trigger.AvailableNow()),
          StreamingPipeline.startDedupMaintenance(spark, d.incoming, d.sig,
            d.labels, d.ckptDedup, Trigger.AvailableNow()))
        ctx.tracer.filter(_ => ctx.attached).foreach { t =>
          t.current.foreach(s => qs.foreach(q => t.bindStream(q.runId.toString, s)))
          st.postingsRuns += qs(0).runId.toString
          st.dedupRuns += qs(1).runId.toString
        }
        awaitAll(qs)
      }
      st.done = b + 1
      st.batches(b).pages.map(_.size).sum.toDouble
    }

    // the warm-up runs a small backfill and one regular batch
    val warmBatches = Gen.listings(ctx.seed ^ 0x3A53L, 2, PagesPerBatch, WarmupHistoryPosts)
    val (st, setupS) = ctx.setupReps { dir =>
      val s = new State(new Dirs(dir), warmBatches)
      warmBatches.indices.foreach { b => prepare(s, b); batch(s, b) }
    } { dir =>
      val s = new State(new Dirs(dir), batches)
      prepare(s, 0)
      batch(s, 0)
      s
    }
    val samples = ctx.closedLoop(minOps = 3, prepare = i => prepare(st, i + 1)) { i =>
      ("batch", batch(st, i + 1))
    }
    val c0 = System.nanoTime()
    val failures = check(ctx, st)
    System.err.println(f"[bench] checks: ${(System.nanoTime() - c0) / 1e9}%.2f s")
    val untraced = samples.filterNot(_.traced)
    val metrics =
      if (!ctx.trace) Result.endToEnd(setupS, untraced)
      else layers(ctx, st) ++ Result.overhead(samples)
    Result(metrics, samples.size, 0, failures)
  }

  private def pageBytes(st: State, b: Int): Long =
    st.batches(b).pages.indices.map(p =>
      new File(f"${st.dirs.pages}/b$b%05d_p$p%03d.json").length).sum

  private def awaitAll(qs: Seq[StreamingQuery]): Unit = {
    // await every query before rethrowing any failure
    val errs = qs.flatMap(q => scala.util.Try(q.awaitTermination()).failed.toOption)
    errs.headOption.foreach(e => throw e)
  }

  /** Move a staged single-file parquet batch into the stream's input. */
  private def landDocs(staged: String, incoming: String, name: String): Unit = {
    new File(incoming).mkdirs()
    val part = new File(staged).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new File(incoming, name).toPath,
      StandardCopyOption.ATOMIC_MOVE)
  }

  private def dataFiles(dir: String): Set[String] = {
    def walk(f: File): Seq[String] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f.getPath) else Seq.empty
    walk(new File(dir)).toSet
  }

  /** Output checks, outside the timed region: the serving table against
    * [[IngestModel]] over the batches this run processed, and the
    * stored postings against a one-shot recount of every absorbed doc.
    */
  def check(ctx: Ctx, st: State): Seq[String] = {
    val spark = ctx.spark
    val want = IngestModel.table(st.batches.take(st.done), GraftConf.default.salt)
    val got = spark.read.parquet(st.dirs.table)
      .select(IngestModel.Columns.map(col): _*)
      .collect().map(r => IngestModel.Columns.indices.map(i =>
        Option(r.get(i)).map {
          case t: java.sql.Timestamp => (t.getTime / 1000).toString
          case v => v.toString
        }.orNull)).toSeq
    val tableFailures = IngestModel.diff(got, want)
    import spark.implicits._
    val docs = (0 until st.done).flatMap(b => st.firstSeen.getOrElse(b, Seq.empty))
    val recount = graft.analytics.RetrievalQueries
      .postingsDeltas(docs.toDF("doc_id", "text"), 1)
      .select(col("doc_id"), col("term"), col("tf")).as[(Long, String, Long)]
      .collect().sorted.toSeq
    val stored = spark.read.parquet(st.dirs.pst)
      .select(col("doc_id"), col("term"), col("tf")).as[(Long, String, Long)]
      .collect().sorted.toSeq
    val postingFailures =
      if (stored == recount) Seq.empty
      else Seq(s"stored postings (${stored.size} rows) != one-shot recount " +
        s"(${recount.size} rows); first difference: " +
        stored.diff(recount).headOption.orElse(recount.diff(stored).headOption).getOrElse(""))
    tableFailures ++ postingFailures
  }

  /** Traced per-layer metrics, per batch (medians) over the traced half. */
  def layers(ctx: Ctx, st: State): Map[String, (Double, String)] = {
    val t = ctx.tracer.get
    t.settle()
    val roots = t.spans.filter(_.parent.isEmpty)
    def perBatch(name: String): Seq[Seq[Tracer.Span]] =
      roots.groupBy(_.group).values.map(_.filter(_.name == name)).filter(_.nonEmpty).toSeq
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def stage(name: String): (Double, Double) = {
      val b = perBatch(name)
      (med(b.map(_.map(_.ms).sum)), med(b.map(_.flatMap(t.jobsOf).size.toDouble)))
    }
    val (fetchMs, fetchJobs) = stage("fetch")
    val (combineMs, combineJobs) = stage("combine")
    val (loadMs, loadJobs) = stage("load")
    val loads = roots.filter(_.name == "load")
    val sinkJobs = loads.map(s => t.jobsOf(s).filter(_.module == "sinks"))
    val upsertMs = sinkJobs.filter(_.nonEmpty)
      .map(js => (js.map(_.end).max - js.map(_.start).min).toDouble)
    val upsertShuffle = sinkJobs.map(_.map(_.shuffleWrite).sum.toDouble)
    val progress = scala.jdk.CollectionConverters.IteratorHasAsScala(
      t.progress.iterator()).asScala.toSeq
    def absorbMs(runs: collection.Set[String]) =
      med(progress.filter(p => runs(p.runId)).groupBy(_.runId).values
        .map(_.map(_.ms.toDouble).sum).toSeq)
    val d = st.dirs
    val tableBytes = Core.du(new File(d.table))
    val indexBytes = d.index.map(p => Core.du(new File(p))).sum
    val allBytes = (0 until st.done).map(b => pageBytes(st, b)).sum
    Map(
      "jobs.fetch_ms" -> (fetchMs, "ms"),
      "jobs.combine_ms" -> (combineMs, "ms"),
      "jobs.load_ms" -> (loadMs, "ms"),
      "jobs.fetch.spark_jobs" -> (fetchJobs, "count"),
      "jobs.combine.spark_jobs" -> (combineJobs, "count"),
      "jobs.load.spark_jobs" -> (loadJobs, "count"),
      "sinks.upsert_ms" -> (med(upsertMs), "ms"),
      "sinks.upsert_files_rewritten" -> (med(st.filesRewritten.toSeq), "count"),
      "sinks.upsert_shuffle_bytes" -> (med(upsertShuffle), "bytes"),
      "sinks.table_bytes" -> (tableBytes.toDouble, "bytes"),
      "sinks.bytes_per_input_byte" -> ((tableBytes + indexBytes).toDouble / allBytes, "ratio"),
      "streaming.postings_absorb_ms" -> (absorbMs(st.postingsRuns), "ms"),
      "streaming.dedup_absorb_ms" -> (absorbMs(st.dedupRuns), "ms"),
      "streaming.batch_duration_ms" -> (med(progress.map(_.ms.toDouble)), "ms"),
      "streaming.index_files" -> (d.index.map(p => dataFiles(p).size).sum.toDouble, "count")) ++
      Layers.common(ctx, roots)
  }
}

/** The reference model of the serving table, computed from the
  * generator's records with plain JVM code (no Spark): the reference
  * pipeline's semantics, batch by batch. Within a batch the first
  * occurrence of a key in file order wins; across batches the latest
  * batch updates the upsert's update columns and keeps the rest from
  * the row's first insert.
  */
object IngestModel {

  /** The compared columns: all but the wall-clock `ingested_at`. */
  val Columns: Seq[String] = Seq("thing_key", "thing_type", "id", "created_at",
    "score", "num_comments", "title_sanitized", "author_hash", "permalink",
    "subreddit", "flair_text")

  private val UpdateColumns = Set("score", "num_comments", "title_sanitized",
    "subreddit", "flair_text")

  def sha256(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private def salted(salt: String, v: Option[String]): String =
    v.filter(_.nonEmpty).map(x => sha256(salt + x)).getOrElse("")

  def sanitize(title: String): String = {
    val collapsed = title.replace("\n", " ").replaceAll("\\s+", " ").trim
    val redacted = collapsed
      .replaceAll("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[redacted-email]")
      .replaceAll("[0-9]{7,}", "[redacted-number]")
    redacted.take(300)
  }

  /** The thing key of a post: salted hash of its fullname, `t3_<id>`
    * when the name is missing.
    */
  def key(p: Gen.Post, salt: String): String =
    salted(salt, p.name.filter(_.nonEmpty).orElse(p.id.filter(_.nonEmpty).map("t3_" + _)))

  /** One post as a serving row (values rendered as strings, created_at
    * as epoch seconds, null when the post has none).
    */
  def row(p: Gen.Post, salt: String): IndexedSeq[String] = {
    def int(v: Option[Long]): String =
      v.filter(x => x >= Int.MinValue && x <= Int.MaxValue).getOrElse(0L).toString
    IndexedSeq(
      key(p, salt), "t3", salted(salt, p.id),
      p.createdUtc.filter(_ != 0.0).map(x => math.floor(x).toLong.toString).orNull,
      int(p.score), int(p.numComments), sanitize(p.title),
      salted(salt, p.author),
      salted(salt, p.permalink.filter(_.nonEmpty).map("https://www.reddit.com" + _)),
      p.subreddit.filter(_.nonEmpty).getOrElse("italytravel"),
      p.flair.getOrElse(""))
  }

  def table(batches: Seq[Gen.Batch], salt: String): Seq[IndexedSeq[String]] = {
    val rows = scala.collection.mutable.LinkedHashMap.empty[String, IndexedSeq[String]]
    batches.foreach { b =>
      val winners = scala.collection.mutable.LinkedHashMap.empty[String, IndexedSeq[String]]
      b.pages.flatten.foreach { p =>
        val r = row(p, salt)
        if (!winners.contains(r(0))) winners(r(0)) = r
      }
      winners.foreach { case (k, r) =>
        rows(k) = rows.get(k) match {
          case None => r
          case Some(old) => Columns.indices.map(i =>
            if (UpdateColumns(Columns(i))) r(i) else old(i))
        }
      }
    }
    rows.values.toSeq
  }

  /** Documents handed to the maintainers, per batch: each post's first
    * appearance as `(doc_id, raw title)`; doc ids number posts in order
    * of first appearance.
    */
  def firstAppearances(batches: Seq[Gen.Batch]): Map[Int, Seq[(Long, String)]] = {
    val seen = scala.collection.mutable.HashMap.empty[String, Long]
    batches.zipWithIndex.map { case (b, i) =>
      i -> b.pages.flatten.flatMap { p =>
        val k = key(p, "")
        if (seen.contains(k)) None
        else { seen(k) = seen.size.toLong; Some(seen(k) -> p.title) }
      }
    }.toMap
  }

  /** Row-set difference as failure messages (empty when equal). */
  def diff(got: Seq[Seq[String]], want: Seq[Seq[String]]): Seq[String] = {
    def byKey(rs: Seq[Seq[String]]) = rs.groupBy(_.head)
    val g = byKey(got)
    val w = byKey(want)
    val dup = g.collect { case (k, rs) if rs.size > 1 => s"key $k stored ${rs.size} times" }
    val missing = (w.keySet -- g.keySet).toSeq.map(k => s"key $k missing")
    val extra = (g.keySet -- w.keySet).toSeq.map(k => s"key $k unexpected")
    val changed = (w.keySet & g.keySet).toSeq.flatMap { k =>
      val (a, b) = (g(k).head, w(k).head)
      Columns.indices.collect { case i if a(i) != b(i) =>
        s"key $k ${Columns(i)}: stored '${a(i)}', model '${b(i)}'" }
    }
    val all = (dup ++ missing ++ extra ++ changed).toSeq
    if (all.isEmpty) all else s"serving table differs from model in ${all.size} places" +: all.take(5)
  }
}
