package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

/** Exactly-once incremental maintenance for a hive-partitioned parquet
  * table — the machinery behind both incremental indexes (the ANN codes
  * table's `cell=` partitions and the lexical signature table's `bkt=`
  * buckets). Extracted so the two stay protocol-identical; the contract
  * and crash analysis live here, the domain encode/serve logic with the
  * callers.
  *
  * Two cooperating jobs, both single-writer (run from the driver that
  * owns the stream, never concurrently with an in-flight micro-batch):
  *
  * '''appendIdempotent''' — `foreachBatch` delivers at-least-once (a
  * batch whose write succeeded but whose checkpoint commit crashed is
  * REPLAYED with the same batchId), and a blind parquet append would
  * duplicate every replayed row. Two mechanisms compose to exactly-once
  * table state:
  *
  *  1. An ACK MARKER (`_ingested/b<batchId>`, created only after every
  *     file is installed; `_`-prefixed so parquet readers ignore it).
  *     A replay of an acked batch returns immediately — in particular a
  *     replay AFTER [[compact]] has absorbed the batch's files (whose
  *     batch-scoped names no longer exist) cannot re-append.
  *  2. For a replay of an UNACKED batch (crash mid-install), files are
  *     staged then installed under DETERMINISTIC batch-scoped names
  *     (`b<batchId>-<seq>`), the batch's whole name prefix cleared
  *     first, so the replay overwrites rather than duplicates — and
  *     [[compact]] refuses to touch partitions holding unacked batch
  *     files, so the names are guaranteed to still be there.
  *
  * Touches only the partitions the batch lands in — O(batch), not
  * O(table).
  *
  * '''compact''' — every append leaves one file set per touched
  * partition, so a streaming ingest at real cadence accretes the
  * classic small-file problem. This job rewrites each FRAGMENTED
  * partition (more than `maxFilesPerPart` data files) to exactly one
  * file — `repartition(partCol)` puts each partition's rows in one
  * task, so `partitionBy(partCol)` emits one file per value — and swaps
  * only those directories using the retired-sibling protocol of
  * [[Upsert.upsertParquetPartitioned]]: new files fully staged first,
  * each replaced partition parked in `.retired` until its replacement
  * is installed, and the preamble restores any retired-but-never-
  * replaced partition from a previous crash. Untouched partitions are
  * never read or rewritten, so compaction cost is O(fragmented
  * partitions), not O(table).
  */
object IncrementalParquet {

  /** In-JVM mutation count per table dir (normalized path), advanced
    * by every public mutator below once it ends, failed or not.
    */
  private val mutations =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def dirKey(dirStr: String): String = new Path(dirStr).toUri.getPath

  /** Record that the table at `dirStr` changed (or may have, when the
    * mutator failed part-way). Writers outside this object that change
    * a table's files call it too.
    */
  def advanceGeneration(dirStr: String): Unit =
    mutations.merge(dirKey(dirStr), 1L, (a, b) => a + b)

  /** The generation of a stored table: changes whenever its files do.
    * Two parts: the in-JVM mutation count ([[advanceGeneration]]),
    * which covers every mutator (append, takedown, purge, compaction,
    * rebuild swap), and the mtime of the ack dir `_ingested`, which
    * every append through [[appendIdempotent]] touches when it creates
    * its marker — so an append by another process shows too, at one
    * file-status call per table. What derives from a table's listing
    * or contents (a prepared serve plan, a corpus-scalar memo) keys on
    * this value. Residual risk: another process's takedown, purge or
    * compaction does not touch `_ingested`, and two appends within
    * one mtime tick look like one.
    */
  def generation(spark: SparkSession, dirStr: String): (Long, Long) = {
    val dir = new Path(dirStr)
    val fs = FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)
    val acks =
      try fs.getFileStatus(new Path(dir, "_ingested")).getModificationTime
      catch { case _: java.io.FileNotFoundException => -1L }
    (Option(mutations.get(dirKey(dirStr))).fold(0L)(_.longValue), acks)
  }

  /** Layout pin file name — a `_`-prefixed sibling of the partition
    * dirs (parquet readers ignore it) holding the table's BIRTH layout
    * as `k=v` lines: the sort-cluster columns (`sort=bucket,band`) and
    * any caller-domain properties (the dedup tables pin their doc-hash
    * bucket count as `buckets=N`). The pin exists because both are
    * functions baked into the stored BYTES: compaction must preserve
    * the clustering it cannot see, and a bucket-pruned read against a
    * table born under a different `graft.dedup.buckets` would silently
    * mis-prune (drop matching rows with no error). Written create-once
    * at the first append; later writers verify against it and fail
    * loudly on drift instead of corrupting the layout.
    */
  private val LayoutPin = "_graft_layout"

  /** Read the layout pin as a property map (empty when absent). Falls
    * back to the rename-aside backup ([[writePinAtomic]]) when the
    * primary is missing: a crash between "park old pin aside" and
    * "install new pin" must not make the table look unpinned (an
    * unpinned read would fall back to the session conf — exactly the
    * mis-prune the pin exists to prevent).
    */
  def readLayout(spark: SparkSession, dirStr: String): Map[String, String] = {
    val dir = new Path(dirStr)
    val fs = FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)
    readLayout(fs, dir)
  }

  private def readLayout(fs: FileSystem, dir: Path): Map[String, String] = {
    val primary = new Path(dir, LayoutPin)
    val pin =
      if (fs.exists(primary)) primary
      else new Path(dir, s".$LayoutPin.bak")
    if (!fs.exists(pin)) Map.empty
    else {
      val in = fs.open(pin)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.contains('='))
        .map { l => val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1) }
        .toMap
      finally in.close()
    }
  }

  /** The pinned sort-cluster columns of a table (empty when unpinned). */
  private def pinnedSort(fs: FileSystem, dir: Path): Seq[String] =
    readLayout(fs, dir).get("sort").toSeq
      .flatMap(_.split(',')).filter(_.nonEmpty)

  /** Pin write/verify at append time. When a pin exists: verify the
    * caller's layout against it and fail loudly on drift — a
    * mid-lifetime sort or bucket-count change cannot be honored against
    * bytes written under the old layout; caller keys ABSENT from the
    * pin are appended to it (rewrite via [[writePinAtomic]]), so the
    * drift protection engages for a property first supplied after the
    * table's birth instead of silently never persisting it. When no pin
    * exists: create one, but ONLY for a genuinely newborn table (no
    * committed data under any `partCol=` dir) — stamping a birth pin
    * onto pre-existing bytes would certify whatever this session's conf
    * happens to be as the layout those bytes were written under. A
    * table creator that just produced the base bytes itself records
    * them with [[adoptLayout]].
    */
  private def pinLayout(fs: FileSystem, dir: Path, partCol: String,
      props: Map[String, String]): Unit = {
    if (props.isEmpty) return
    val existing = readLayout(fs, dir)
    if (existing.nonEmpty) {
      verifyAgainst(dir, existing, props)
      val missing = props.filterNot { case (k, _) => existing.contains(k) }
      if (missing.nonEmpty) writePinAtomic(fs, dir, existing ++ missing)
      return
    }
    if (hasCommittedData(fs, dir, partCol))
      throw new IllegalStateException(
        s"$dir holds data files but no layout pin — refusing to stamp " +
          s"${props.mkString(", ")} as its birth layout (the stored bytes " +
          "may have been written under a different one). If this layout " +
          "is known to match the bytes, record it explicitly with " +
          "IncrementalParquet.adoptLayout.")
    fs.mkdirs(dir)
    val tmp = new Path(dir, s".$LayoutPin.tmp")
    val out = fs.create(tmp, true)
    try out.write(props.toSeq.sorted.map { case (k, v) => s"$k=$v\n" }
      .mkString.getBytes("UTF-8")) finally out.close()
    val pin = new Path(dir, LayoutPin)
    if (!fs.rename(tmp, pin)) {
      if (!fs.exists(pin))
        throw new IllegalStateException(s"rename $tmp -> $pin failed")
      // lost a create race: a concurrent first writer installed its pin
      // between our read and our rename. Its layout won — verify OURS
      // against it instead of proceeding on an unchecked assumption
      // (two table-creators with different layouts must not both pass).
      verifyAgainst(dir, readLayout(fs, dir), props)
    }
  }

  private def verifyAgainst(dir: Path, existing: Map[String, String],
      props: Map[String, String]): Unit = {
    val drift = props.filter { case (k, v) => existing.get(k).exists(_ != v) }
    if (drift.nonEmpty)
      throw new IllegalStateException(
        s"$dir layout pin mismatch: table was created with " +
          s"${existing.mkString(", ")} but this writer expects " +
          s"${drift.mkString(", ")} — a layout property cannot change " +
          "over a live table (rebuild it instead)")
  }

  /** Whether any `partCol=` partition of `dir` holds a committed
    * (non-hidden) data file — the newborn test behind [[pinLayout]]'s
    * create guard. Costs one listing per partition, paid only on the
    * no-pin path (at most once per table lifetime plus crashed-first-
    * append retries).
    */
  private def hasCommittedData(
      fs: FileSystem, dir: Path, partCol: String): Boolean =
    fs.exists(dir) && fs.listStatus(dir)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$partCol="))
      .exists(st => fs.listStatus(st.getPath)
        .exists(f => f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith(".")))

  /** Explicit layout adoption — the one sanctioned way to pin a table
    * that already holds data: the caller asserts `props` describes the
    * bytes on disk (e.g. [[buildViaLifecycle]] pinning the base table
    * it just wrote with those very options). Merges with any existing
    * pin under the same drift check as appends.
    */
  def adoptLayout(
      spark: SparkSession, dirStr: String, props: Map[String, String]): Unit = {
    if (props.isEmpty) return
    val dir = new Path(dirStr)
    val fs = FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)
    val existing = readLayout(fs, dir)
    verifyAgainst(dir, existing, props)
    if (!props.forall { case (k, v) => existing.get(k).contains(v) }) {
      fs.mkdirs(dir)
      writePinAtomic(fs, dir, existing ++ props)
    }
  }

  /** Overwrite-capable atomic pin write: stage to a temp file, then an
    * atomic-overwrite rename (FileContext) into place. On filesystems
    * without an AbstractFileSystem binding, fall back to parking the
    * old pin in a `.bak` sibling before installing the new one — some
    * pin file survives every crash point ([[readLayout]] consults the
    * backup), so the table can never silently revert to unpinned.
    */
  private def writePinAtomic(
      fs: FileSystem, dir: Path, props: Map[String, String]): Unit = {
    val tmp = new Path(dir, s".$LayoutPin.tmp")
    val out = fs.create(tmp, true)
    try out.write(props.toSeq.sorted.map { case (k, v) => s"$k=$v\n" }
      .mkString.getBytes("UTF-8")) finally out.close()
    val pin = new Path(dir, LayoutPin)
    try
      org.apache.hadoop.fs.FileContext.getFileContext(pin.toUri, fs.getConf)
        .rename(tmp, pin, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        val bak = new Path(dir, s".$LayoutPin.bak")
        if (fs.exists(pin)) {
          // primary present: the .bak (if any) is an older generation —
          // safe to clear before parking the current primary into it
          fs.delete(bak, false)
          if (!fs.rename(pin, bak))
            throw new IllegalStateException(s"rename $pin -> $bak failed")
        } else if (fs.exists(bak)) {
          // primary ABSENT with a surviving .bak: a prior attempt
          // crashed between park and install, so the .bak is the sole
          // pin. Deleting it first (the old order) would leave the
          // table pinless if THIS attempt crashes before the install —
          // the exact state the backup exists to prevent. Keep it; the
          // install below overwrites the primary slot only, and the
          // stale .bak is cleared after the new pin is live.
        }
        if (!fs.rename(tmp, pin))
          throw new IllegalStateException(s"rename $tmp -> $pin failed")
        fs.delete(bak, false)
    }
  }

  /** Write options for a sort-clustered index file set: small ROW
    * GROUPS (256 KB in-memory buffer vs the 128 MB default) are what
    * give a probe's pushed `In` filter skip-granularity — measured on
    * this Spark, the vectorized reader skips at row-group min/max
    * level only (parquet column-index page skipping does not engage),
    * so a default-sized file is ONE group and a pushed filter skips
    * nothing. 256 KB buffers ≈ 2–3k rows per group for these narrow
    * index rows: a probing trigger reads ~the groups its keys land
    * in, and the skip RATIO grows with the corpus (groups cover
    * fewer key-space values as rows-per-key rise). Cost: more group
    * footers per file — bounded, since files stay partition-sized and
    * these tables are probe-optimized indexes, not scan tables.
    */
  private def clusteredWriteOpts(sortCols: Seq[String]): Map[String, String] =
    if (sortCols.isEmpty) Map.empty
    else Map(
      "parquet.block.size" -> (256 * 1024).toString,
      "parquet.page.row.count.limit" -> "4096")

  /** `df` repartitioned to one shuffle task per `partCol` value and —
    * when the table is sort-clustered — ordered by (partCol, sortCols)
    * within each task, so every written file is internally sorted by
    * the probe key and parquet page/row-group min/max stats carry tight
    * ranges for pushed filters to skip on. The partCol prefix also
    * satisfies the dynamic-partition writer's required ordering, so no
    * second sort is inserted behind our back (which would destroy the
    * clustering).
    */
  private def clustered(
      df: DataFrame, partCol: String, sortCols: Seq[String]): DataFrame = {
    val re = df.repartition(col(partCol))
    if (sortCols.isEmpty) re
    else re.sortWithinPartitions((partCol +: sortCols).map(col): _*)
  }

  /** Install `batchRows` (hive-partitioned on `partCol`) into `dirStr`
    * exactly once for `batchId` — see the object doc for the protocol.
    * `batchRows` is by-name: a replay of an acked batch never
    * constructs the DataFrame (so domain encode work — signatures, PQ
    * kernels — is never re-paid). The stage write repartitions on
    * `partCol` first, so each touched partition receives exactly ONE
    * file per batch instead of one per shuffle task (32 tasks × P
    * partitions = hundreds of small files per append otherwise — the
    * dominant fragmentation source a long-running stream feeds
    * [[compactMinor]]). The shuffle this inserts is batch-sized, never
    * table-sized.
    *
    * `sortCols` sort-clusters the installed files by the table's probe
    * key (see [[LayoutPin]]) and pins it; `pinExtra` adds caller-domain
    * layout properties to the same pin. Both verified against an
    * existing pin — drift fails loudly.
    *
    * `markerNote` (by-name — never evaluated on a replay) is written
    * INTO the ack marker, making the ack the atomic carrier of one
    * small caller fact about the batch. The semantic cell table stores
    * its max vec_id here, so its id-monotonicity watermark commits in
    * the SAME create as the ack — a separate watermark file would open
    * a crash window (acked append, unwritten watermark) in which an
    * out-of-order batch passes the guard silently. The note is written
    * with a trailing `\n` SENTINEL and [[ackedNoteWatermark]] refuses
    * to parse a note that lacks it: a create interrupted mid-content
    * can persist any digit PREFIX of the intended note (e.g. `1000`
    * truncated to `10`), which would otherwise parse as a valid — and
    * silently understated — watermark.
    */
  def appendIdempotent(spark: SparkSession, dirStr: String, partCol: String,
      batchId: Long, sortCols: Seq[String] = Nil,
      pinExtra: Map[String, String] = Map.empty,
      markerNote: => String = "")(
      batchRows: => DataFrame): Unit = try {
    val dir = new Path(dirStr)
    val fs = FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)
    recover(spark, dirStr, partCol)
    val marker = new Path(dir, s"_ingested/b$batchId")
    if (fs.exists(marker)) return // acked: this batch is fully installed
    pinLayout(fs, dir, partCol,
      (if (sortCols.nonEmpty) Map("sort" -> sortCols.mkString(","))
       else Map.empty[String, String]) ++ pinExtra)
    val stage = new Path(dir.getParent, s".${dir.getName}.ingest-b$batchId")
    fs.delete(stage, true)
    clustered(batchRows, partCol, sortCols)
      .write.mode("overwrite").options(clusteredWriteOpts(sortCols))
      .partitionBy(partCol).parquet(stage.toString)
    fs.listStatus(stage)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$partCol="))
      .foreach { partDir =>
        val live = new Path(dir, partDir.getPath.getName)
        fs.mkdirs(live)
        // a replay may shard the same rows into FEWER files than the
        // crashed attempt installed — clear the batch's whole prefix so
        // no stale b<id>-k file outlives its replacement set
        fs.listStatus(live)
          .filter(_.getPath.getName.startsWith(s"b$batchId-"))
          .foreach(f => fs.delete(f.getPath, false))
        fs.listStatus(partDir.getPath)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
          .sortBy(_.getPath.getName)
          .zipWithIndex.foreach { case (f, k) =>
            val dest = new Path(live, s"b$batchId-$k.parquet")
            fs.delete(dest, false) // replay: same name, same content
            if (!fs.rename(f.getPath, dest))
              throw new IllegalStateException(s"rename ${f.getPath} -> $dest failed")
          }
      }
    fs.delete(stage, true)
    fs.mkdirs(marker.getParent)
    val ack = fs.create(marker, true) // ack LAST: replay-safe until here
    val note = markerNote
    // "\n" = completeness sentinel; a mid-write crash yields a note
    // without it, which ackedNoteWatermark treats as unparsed
    if (note.nonEmpty) ack.write((note + "\n").getBytes("UTF-8"))
    ack.close()
  } finally advanceGeneration(dirStr)

  /** Heal a table's compaction crash state — [[appendIdempotent]] runs
    * this FIRST, every trigger: a crashed full compact's retired
    * partition or a crashed minor firing's duplicates would otherwise
    * stay visible to this trigger's reads (the maintenance loops read
    * the table right after the append) — and a post-crash append that
    * recreates a retired partition's live dir is exactly what turns the
    * stale `.retired` copy into silent data loss at the next full
    * compact. A caller that reads the table WHILE its append runs
    * calls this before starting either, so the append's own call finds
    * nothing to move under the reader. Healthy-path cost: three
    * existence checks plus one listing of the (tiny) _compact dir — the
    * O(partitions) orphan walk runs only behind the crashed-firing
    * sentinel (see recoverMinorState).
    */
  def recover(spark: SparkSession, dirStr: String, partCol: String): Unit = try {
    val dir = new Path(dirStr)
    val fs = FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) {
      recoverRetired(fs, dir, partCol)
      // a minor firing raises _compact/.inflight BEFORE installing any
      // c-file, so every crash window (including a first-ever firing)
      // is visible from the _compact listing alone
      recoverMinorState(fs, dir, partCol)
    }
  } finally advanceGeneration(dirStr)

  /** Whether `batchId` is already acked into `dirStr` — callers use
    * this to skip pre-append guards on replays (the replay itself
    * short-circuits inside [[appendIdempotent]] regardless).
    */
  def acked(spark: SparkSession, dirStr: String, batchId: Long): Boolean = {
    val dir = new Path(dirStr)
    val fs = FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)
    fs.exists(new Path(dir, s"_ingested/b$batchId"))
  }

  /** Marker-note contents are immutable once the ack lands (single
    * writer; replays never rewrite an existing marker), so each marker
    * is read from the FS at most once per JVM.
    */
  private val noteCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** Max numeric ack-marker note across every acked batch of `dirStr`:
    * `(watermark, allParsed)`. `watermark` is None when no acked batch
    * carries a parsable note; `allParsed` is false when SOME acked
    * marker has no parsable note (pre-note-format table, or an ack
    * whose write was interrupted mid-content) — the caller must then
    * fall back to deriving the fact from the data instead of trusting
    * a partial watermark. A note counts as parsed ONLY when the whole
    * marker was read (readFully at the listed length — a bare
    * InputStream.read may legally return a prefix) AND it carries the
    * trailing `\n` completeness sentinel [[appendIdempotent]] writes:
    * either truncation mode would otherwise leave a digit PREFIX that
    * still parses as a Long, silently understating the watermark with
    * allParsed=true. One `_ingested` listing + one tiny read per
    * not-yet-cached marker.
    */
  def ackedNoteWatermark(
      spark: SparkSession, dirStr: String): (Option[Long], Boolean) = {
    val dir = new Path(dirStr)
    val fs = FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)
    val ingested = new Path(dir, "_ingested")
    if (!fs.exists(ingested)) return (None, true)
    val notes = fs.listStatus(ingested).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("b"))
      .map { st =>
        // one entry per marker path; the stored (len, mtime) key
        // detects a healed/rewritten marker — including a SAME-LENGTH
        // rewrite, which a bare length check would serve stale for the
        // JVM lifetime — and forces a re-read without leaking the old
        // entry (notes are otherwise write-once). Residual risk: on a
        // filesystem with coarse (e.g. 1 s) mtime granularity a
        // same-length rewrite within the same tick is invisible to
        // this key; markers are write-once in the protocol, so that
        // window only matters for out-of-protocol manual healing —
        // bounce the JVM (or clear the cache) after hand-editing one.
        val len = math.min(st.getLen, 4096L).toInt
        val statusKey = s"$len:${st.getModificationTime}"
        val hit = noteCache.get(st.getPath.toString)
        if (hit != null && hit._1 == statusKey) hit._2
        else {
          val raw =
            if (len <= 0) ""
            else {
              val buf = new Array[Byte](len)
              val in = fs.open(st.getPath)
              // a marker whose readable content is shorter than its
              // listed length (reader racing the creating writer, or a
              // marker healed between listStatus and open) makes
              // readFully throw EOFException — that is exactly the
              // torn/in-flight case the `\n` sentinel exists for, so
              // degrade to unparsed ("" → allParsed=false, data-derived
              // fallback) instead of failing the whole watermark call.
              // The "" is NOT cached: the settled marker re-reads clean
              // on the next call under its new (len, mtime) key.
              try { in.readFully(0, buf, 0, len); new String(buf, "UTF-8") }
              catch { case _: java.io.EOFException => null }
              finally in.close()
            }
          if (raw == null) "" else {
            noteCache.put(st.getPath.toString, (statusKey, raw))
            raw
          }
        }
      }
    val parsed = notes.map(raw =>
      if (raw.endsWith("\n")) raw.trim.toLongOption else None)
    (parsed.flatten.maxOption, parsed.forall(_.isDefined))
  }

  /** Compute-once persistence for a batch-scoped derived result — the
    * fix for the one replay window [[appendIdempotent]] and
    * [[Upsert.upsertParquetPartitioned]] leave open when a batch's
    * WRITE is a function of the table it updates (the cluster-labels
    * fold: delta = f(labels, batch)). The upsert installs touched
    * buckets one rename at a time, so a crash mid-swap leaves a
    * MIXED-version table — some buckets already hold the batch's new
    * labels, others the old ones — which per-bucket recovery cannot
    * detect (every live dir exists). Recomputing the delta FROM that
    * table on replay silently diverges: batch edges whose endpoints
    * were already relabeled contract to self-loops, so transitively-
    * relabeled rows in not-yet-swapped buckets are never re-derived.
    * The cure is to never recompute across a replay: the delta is
    * PERSISTED (staged write → rename → ack marker) before the upsert
    * starts, and a replay re-applies the STORED delta — re-upserting
    * the full delta over a mixed table converges it exactly to the
    * new version, because bucket swaps are whole-directory (each
    * bucket is entirely old or entirely new) and rows outside the
    * delta are identical in both versions.
    *
    * Contract: `compute` runs (and its result is persisted + acked)
    * only if no ack marker exists for `batchId`; otherwise the stored
    * copy is returned untouched. Because the caller applies its write
    * only AFTER this returns, the no-marker path implies the write for
    * `batchId` never started, so `compute` always reads a consistent
    * table. Batch ids must be monotone per stream (foreachBatch's
    * contract — only the LAST uncommitted batch is ever replayed), so
    * persisting batch N prunes every stored batch < N. Single-writer,
    * like everything else in this file.
    */
  def batchScopedResult(spark: SparkSession, dirStr: String, batchId: Long)(
      compute: => DataFrame): DataFrame =
    batchScopedResultCounted(spark, dirStr, batchId)(compute)._1

  /** [[batchScopedResult]] + the stored result's exact row count, read
    * from the parquet FOOTERS on the driver — no Spark job. Callers
    * gating on emptiness (`if (delta nonempty) upsert`) previously paid
    * a full `isEmpty` job to re-scan rows whose count the write already
    * determined; at streaming cadence that job was a visible slice of
    * every trigger's wall. A computed result that is already driver
    * rows (a LocalRelation) is written as one task and handed back as
    * those same rows — the persisted copy is what a replay reads, and
    * the caller's write needs no read-back job.
    */
  def batchScopedResultCounted(
      spark: SparkSession, dirStr: String, batchId: Long)(
      compute: => DataFrame): (DataFrame, Long) = {
    val dir = new Path(dirStr)
    val fs = FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)
    val data = new Path(dir, s"b$batchId")
    val marker = new Path(dir, s"_acked/b$batchId")
    val computed = if (fs.exists(marker)) None else {
      val df = compute
      val stage = new Path(dir, s".b$batchId.stage")
      fs.delete(stage, true)
      // a driver-held result writes as ONE task and one file: a local
      // relation's scan would otherwise spread a dozen rows over
      // min(rows, cores) tasks and files
      (if (graft.core.Tables.localRows(df).isDefined) df.coalesce(1) else df)
        .write.mode("overwrite").parquet(stage.toString)
      fs.delete(data, true) // unacked crash leftovers from this batch
      if (!fs.rename(stage, data))
        throw new IllegalStateException(s"rename $stage -> $data failed")
      fs.mkdirs(marker.getParent)
      fs.create(marker, true).close() // ack LAST: compute-again-safe until here
      // prune superseded batches: once batch N is processed, no batch
      // < N can be replayed again (monotone-batchId contract above).
      // STRICTLY older only — a manual out-of-order replay of an old
      // batch must never delete a newer batch's stored result
      val bName = "^b(\\d+)$".r
      fs.listStatus(dir).foreach { st =>
        st.getPath.getName match {
          case bName(id) if id.toLong < batchId =>
            fs.delete(st.getPath, true)
            fs.delete(new Path(dir, s"_acked/b$id"), false)
          case _ => ()
        }
      }
      Some(df)
    }
    computed.flatMap(df =>
        graft.core.Tables.localRows(df).map(rs => (df, rs.size.toLong)))
      .getOrElse {
        // the computing call knows the stored schema, so its read-back
        // infers nothing (inference is a footer-reading Spark job); a
        // replay of a stored result infers it
        val stored = computed.fold(spark.read)(df => spark.read.schema(df.schema))
          .parquet(data.toString)
        (stored, parquetRowCount(fs, data))
      }
  }

  /** Exact row count of a parquet directory from file footers alone —
    * a driver-side metadata read (one footer per data file), no Spark
    * job. Valid for any directory this object wrote (non-partitioned
    * `b<id>` result dirs); row counts are a mandatory footer field.
    */
  private def parquetRowCount(fs: FileSystem, dir: Path): Long =
    fs.listStatus(dir)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
      .map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(f, fs.getConf)
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try rd.getRecordCount finally rd.close()
      }.sum

  /** Build-once memo for an index table built THROUGH the incremental
    * lifecycle this object maintains — the one shape every stored index
    * family shares (ANN codes `cell=`, lexical signatures `bkt=`,
    * embedding sign buckets `bkt=`): write `transform` of the
    * even-`idCol` half of the corpus as the base table, install the odd
    * half as an [[appendIdempotent]] batch, then [[compact]] the
    * fragmented partitions. Row-identical to a one-shot
    * `transform(source)` build — disjoint id halves, the append touches
    * only the partitions the batch lands in, compaction moves bytes not
    * rows — so a driver hash gate over a query served from the table
    * checks the whole build → ingest → compact lifecycle end-to-end.
    * Centralized so the lifecycle cannot drift between families; the
    * partition column must hold Int values (all three families' do).
    */
  def buildViaLifecycle(
      memo: java.util.concurrent.ConcurrentHashMap[String, String],
      key: String, tmpPrefix: String,
      source: => DataFrame, idCol: String, partCol: String,
      sortCols: Seq[String] = Nil,
      pinExtra: Map[String, String] = Map.empty)(
      transform: DataFrame => DataFrame): String =
    graft.core.Tables.memoizedParquet(memo, key, tmpPrefix) { out =>
      // by-name source: a memo-hit serve never constructs the DataFrame
      lifecycleBuild(out, source, idCol, partCol, sortCols, pinExtra)(
        transform)
    }

  private def lifecycleBuild(out: String, source: DataFrame, idCol: String,
      partCol: String, sortCols: Seq[String],
      pinExtra: Map[String, String])(
      transform: DataFrame => DataFrame): Unit = {
    val src = source
    val spark = src.sparkSession
    // pmod, not %: Spark's % keeps the dividend's sign, so a plain
    // `% 2 === 1` split would silently drop negative odd ids
    clustered(transform(src.filter(pmod(col(idCol), lit(2)) === 0)),
        partCol, sortCols)
      .write.mode("overwrite").options(clusteredWriteOpts(sortCols))
      .partitionBy(partCol).parquet(out)
    // record the base bytes' layout as the table's birth pin — this
    // writer just produced them with exactly these options, which is
    // the one situation adoptLayout exists for (the append below
    // refuses to stamp a pin onto pre-existing unpinned data)
    adoptLayout(spark, out,
      (if (sortCols.nonEmpty) Map("sort" -> sortCols.mkString(","))
       else Map.empty[String, String]) ++ pinExtra)
    appendIdempotent(spark, out, partCol, 1L, sortCols, pinExtra) {
      transform(src.filter(pmod(col(idCol), lit(2)) === 1))
    }
    compact(spark, out, partCol)(s => Int.box(s.toInt)); ()
  }

  /** The standard DELETED-index build every `q_*_deleted` gate serves
    * from: [[buildViaLifecycle]]'s build → append → compact, then the
    * deletion lifecycle exercised END TO END on the result — takedown
    * batch A (ids ≡ 3 mod 14) physically PURGED to bytes, takedown
    * batch B (ids ≡ 10 mod 14) left tombstone-SERVED, and batch A
    * REPLAYED with different content after its purge (pinned no-op:
    * the `_ingested` ack outlives the cleared tombstone rows). A ∪ B
    * is exactly the residue class id ≡ 3 (mod 7), so ONE oracle hash
    * over a serve from this table pins BOTH removal mechanisms — and
    * the replay guard — against the full recompute over the surviving
    * corpus. `idCol` doubles as the tombstone key: every family here
    * is keyed by the id its rows derive from.
    */
  def buildViaDeleteLifecycle(
      memo: java.util.concurrent.ConcurrentHashMap[String, String],
      key: String, tmpPrefix: String,
      source: => DataFrame, idCol: String, partCol: String,
      sortCols: Seq[String] = Nil,
      pinExtra: Map[String, String] = Map.empty)(
      transform: DataFrame => DataFrame): String =
    graft.core.Tables.memoizedParquet(memo, key, tmpPrefix) { out =>
      val src = source
      val spark = src.sparkSession
      lifecycleBuild(out, src, idCol, partCol, sortCols, pinExtra)(transform)
      appendTombstonesIdempotent(spark, out, idCol, 0L)(
        src.filter(pmod(col(idCol), lit(14)) === 3).select(col(idCol)))
      purgeTombstoned(spark, out, partCol, idCol)(v => Int.box(v.toInt))
      appendTombstonesIdempotent(spark, out, idCol, 1L)(
        src.filter(pmod(col(idCol), lit(14)) === 10).select(col(idCol)))
      // replay batch 0 with DIFFERENT content: the retained ack must
      // make it a no-op even though its tombstone rows were cleared
      appendTombstonesIdempotent(spark, out, idCol, 0L)(
        src.filter(pmod(col(idCol), lit(7)) =!= 3).limit(1)
          .select(col(idCol)))
    }

  /** LSM-style MINOR compaction — the in-loop companion of [[compact]]
    * whose cost is O(absorbed bytes), never O(table). [[compact]]
    * rewrites every fragmented partition wholesale: right as an
    * occasional explicit maintenance job, but fired on a cadence inside
    * a continuous ingest loop its cost grows linearly with the table
    * (the 16-batch maintenance series showed exactly that, SCALING.md
    * round 8:
    * compaction-batch walls climbing 12.9 → 21.9 s while fold-only
    * batches stayed flat). A minor firing absorbs, per partition:
    *
    *  - all ACKED batch files (`b<id>-k`, `_ingested` marker present)
    *    when at least `minBatchFiles` of them exist — unacked files are
    *    SKIPPED per-file (not [[compact]]'s whole-partition refusal:
    *    absorption never touches the batch-scoped names an in-doubt
    *    replay needs);
    *  - plus, when the partition's count of minor-produced BASE files
    *    (`c<g>-k`) would exceed `maxBaseFiles`, its
    *    `ceil(maxBaseFiles/2)` smallest bases — classic size-tiered
    *    merging: small bases merge often and cheaply, large ones
    *    exponentially rarely, so write amplification is
    *    O(log table/batch) and no firing rewrites a partition
    *    wholesale. Files produced by the one-shot base build or by a
    *    full [[compact]] (plain `part-*` names) sit above the tiers
    *    and are never re-absorbed here.
    *
    * Absorbed rows become ONE new base file per partition, named for a
    * GENERATION `g` = 1 + the highest generation ever committed
    * (parsed from the permanent `_compact/` marker names — unique
    * across firings, crashes and replays by construction). Absorption
    * is marker-committed:
    *
    *  1. staged write of the absorbed rows (scratch sibling dir);
    *  2. install under the deterministic `c<g>-k` names;
    *  3. COMMIT — write `_compact/c<g>` listing the absorbed files
    *     (temp file + rename, never partially visible);
    *  4. delete the absorbed files; truncate the marker to empty.
    *
    * Crash before 3: orphan `c<g>-*` files with no marker — the next
    * firing's preamble deletes them (every absorbed original is still
    * live, nothing lost). Crash after 3: a non-empty marker — the
    * preamble finishes its deletions (idempotent) and truncates.
    * Readers between 3 and 4 could see absorbed rows twice; like
    * [[compact]]'s retired-directory window this is excluded by the
    * family's single-writer contract (maintenance runs from the driver
    * that owns the stream, never concurrently with a serve).
    * `_ingested` ack markers outlive absorption, so a replay of an
    * absorbed batch stays a no-op. Returns the number of partitions
    * that absorbed files.
    *
    * `merge` — AGGREGATE-ON-COMPACT for semigroup-mergeable tables
    * (round 11): applied to the absorbed rows before the staged write,
    * so a count-delta table (the incremental LM model's bigram/unigram
    * counts) collapses its tiers to one row per key instead of merely
    * concatenating them, keeping the stored table key-bounded (Zipf)
    * rather than growing with batch count × keys. Contract: `merge`
    * must preserve the table schema including `partCol`, and must be
    * SERVE-EQUIVALENT — for any absorbed row set S the table's serve
    * path yields identical results reading `merge(S)` in place of S
    * (true exactly when the serve folds rows with an associative,
    * commutative merge of which `merge` is a partial fold — integer
    * count sums here). Row-identity tables (signatures, windows, sign
    * buckets: serve reads rows verbatim) must keep the identity
    * default. Crash safety is unchanged: `merge` runs inside the
    * staged write, before any live file moves.
    */
  def compactMinor(spark: SparkSession, dirStr: String, partCol: String,
      minBatchFiles: Int = 2, maxBaseFiles: Int = 8,
      merge: DataFrame => DataFrame = identity): Int = try {
    val dir = new Path(dirStr)
    val fs = FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return 0
    val markerDir = new Path(dir, "_compact")
    val batchFile = "^b(-?\\d+)-.*".r
    val baseFile = "^c(\\d+)-.*".r
    // shared crash recovery first: a crashed FULL compact's retired
    // state, then pending committed deletions and orphan
    // uncommitted-generation outputs
    recoverRetired(fs, dir, partCol)
    val gens = recoverMinorState(fs, dir, partCol)

    // one metadata walk: classify every partition's files (orphan base
    // files were already swept by the recovery preamble above, so any
    // surviving c<g>-* file is committed)
    val ackCache = scala.collection.mutable.Map.empty[Long, Boolean]
    def isAcked(id: Long): Boolean = ackCache.getOrElseUpdate(id,
      fs.exists(new Path(dir, s"_ingested/b$id")))
    val toAbsorb: Seq[(String, Seq[Path])] = fs.listStatus(dir)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$partCol="))
      .toSeq.flatMap { st =>
        var batch = List.empty[Path]
        var base = List.empty[(Path, Long)]
        fs.listStatus(st.getPath).filter(_.isFile).foreach { f =>
          f.getPath.getName match {
            case baseFile(_) => base ::= (f.getPath, f.getLen)
            case batchFile(id) if isAcked(id.toLong) => batch ::= f.getPath
            case _ => () // unacked batch file, or a part-* above the tiers
          }
        }
        if (batch.size < minBatchFiles) None
        else {
          val j = if (base.size + 1 > maxBaseFiles) (maxBaseFiles + 1) / 2 else 0
          val smallest = base.sortBy { case (p, len) => (len, p.getName) }
            .take(j).map(_._1)
          Some(st.getPath.getName -> (batch.reverse ++ smallest))
        }
      }
    if (toAbsorb.isEmpty) return 0
    val g = (gens + 0L).max + 1

    // raise the in-flight sentinel BEFORE touching any live dir: its
    // presence is what tells the next recovery that orphan c<g>-*
    // outputs may exist, so the healthy path never pays the
    // O(partitions) orphan walk (see [[recoverMinorState]]). Dropped
    // LAST, after the marker commit and cleanup.
    fs.mkdirs(markerDir)
    fs.create(new Path(markerDir, InflightFlag), true).close()

    val stage = new Path(dir.getParent, s".${dir.getName}.minor")
    fs.delete(stage, true)
    // re-cluster by the PINNED sort columns: absorption concatenates
    // per-batch files whose individual orderings do not compose, so
    // without the re-sort every minor firing would erode the page-stat
    // tightness the probes' pushed filters skip on
    val sortCols = pinnedSort(fs, dir)
    clustered(
      merge(spark.read.option("basePath", dirStr)
        .parquet(toAbsorb.flatMap(_._2).map(_.toString): _*)),
      partCol, sortCols)
      .write.mode("overwrite").options(clusteredWriteOpts(sortCols))
      .partitionBy(partCol).parquet(stage.toString)
    fs.listStatus(stage)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$partCol="))
      .foreach { partDir =>
        val live = new Path(dir, partDir.getPath.getName)
        fs.mkdirs(live)
        fs.listStatus(partDir.getPath)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
          .sortBy(_.getPath.getName)
          .zipWithIndex.foreach { case (f, k) =>
            val dest = new Path(live, s"c$g-$k.parquet")
            fs.delete(dest, false) // rerun after crash-before-commit
            if (!fs.rename(f.getPath, dest))
              throw new IllegalStateException(s"rename ${f.getPath} -> $dest failed")
          }
      }
    fs.delete(stage, true)

    fs.mkdirs(markerDir)
    val tmp = new Path(markerDir, s".c$g.tmp")
    val out = fs.create(tmp, true)
    try out.write(toAbsorb.flatMap { case (part, files) =>
      files.map(f => s"$part/${f.getName}\n")
    }.mkString.getBytes("UTF-8")) finally out.close()
    val marker = new Path(markerDir, s"c$g")
    fs.delete(marker, false)
    if (!fs.rename(tmp, marker))
      throw new IllegalStateException(s"rename $tmp -> $marker failed")
    toAbsorb.foreach { case (_, files) => files.foreach(fs.delete(_, false)) }
    fs.create(marker, true).close() // truncate: committed + cleaned
    fs.delete(new Path(markerDir, InflightFlag), false) // healthy exit
    toAbsorb.size
  } finally advanceGeneration(dirStr)

  /** In-flight sentinel under `_compact/`: present exactly while a
    * minor firing may have installed uncommitted `c<g>-*` outputs.
    */
  private val InflightFlag = ".inflight"

  /** Crash recovery for a full [[compact]]'s retired-sibling state —
    * run by EVERY writer (append, minor, full) before touching the
    * table. A `.retired` dir from a crashed full compact can meet two
    * live-dir states, and the right action differs:
    *
    *  - live MISSING: the crash hit between the retire rename and the
    *    replacement install — the retired copy is the only one.
    *    Restore it wholesale.
    *  - live EXISTS with a replacement file (any non-`b<id>-` name —
    *    compaction replacements are plain `part-*`, and a rewritten
    *    partition is never empty): the crash hit after the install,
    *    before the retired cleanup. The live dir is the complete new
    *    version; discard the retired old one.
    *  - live EXISTS holding ONLY `b<id>-` batch files: the live dir
    *    was RECREATED by post-crash appends (appendIdempotent mkdirs
    *    it), not by the replacement install. Discarding the retired
    *    copy here would silently and permanently lose every pre-crash
    *    row of the partition — instead MERGE the retired files back
    *    in. Names cannot collide: the retired copy holds only
    *    acked-batch/base/part files (a partition with unacked files is
    *    never compacted), and post-crash appends install under fresh
    *    batch ids (acked batches replay as marker no-ops).
    *
    * Cost when healthy: one existence check.
    */
  private def recoverRetired(fs: FileSystem, dir: Path, partCol: String): Unit = {
    val retiredDir = new Path(dir.getParent, s".${dir.getName}.retired")
    if (!fs.exists(retiredDir)) return
    val batchFile = "^b(-?\\d+)-.*".r
    fs.listStatus(retiredDir).foreach { st =>
      val live = new Path(dir, st.getPath.getName)
      if (!fs.exists(live)) {
        if (!fs.rename(st.getPath, live))
          throw new IllegalStateException(
            s"recovery rename ${st.getPath} -> $live failed")
      } else {
        val liveNames = fs.listStatus(live)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
          .map(_.getPath.getName)
        val appendOnly = liveNames.nonEmpty && liveNames.forall {
          case batchFile(_) => true
          case _ => false
        }
        if (appendOnly || liveNames.isEmpty) {
          fs.listStatus(st.getPath).filter(_.isFile).foreach { f =>
            val dest = new Path(live, f.getPath.getName)
            if (fs.exists(dest))
              throw new IllegalStateException(
                s"retired/live name collision at $dest — refusing to guess")
            if (!fs.rename(f.getPath, dest))
              throw new IllegalStateException(
                s"recovery merge ${f.getPath} -> $dest failed")
          }
        } // else: replacement installed — the retired copy is the old
          // version, dropped with the dir below
      }
    }
    fs.delete(retiredDir, true)
  }

  /** Shared crash recovery for minor-compaction state — run by BOTH
    * compaction kinds before reading the table:
    *
    *  1. drop stale commit temps (`.c<g>.tmp`) — a fully-written but
    *     never-renamed temp is an UNcommitted firing whose outputs
    *     step 3 deletes; acting on its list would drop the absorbed
    *     originals too;
    *  2. finish any COMMITTED absorption whose deletions crashed
    *     (non-empty marker → delete the listed files, truncate);
    *  3. sweep orphan base files of uncommitted generations (outputs
    *     of a firing that crashed before its marker — every absorbed
    *     original is still live, so nothing is lost). The sweep's
    *     partition walk runs ONLY when the `.inflight` sentinel is
    *     present (raised by [[compactMinor]] before any install,
    *     dropped after cleanup): per-trigger recovery on the healthy
    *     path is one `_compact` listing, not an O(partitions)
    *     metadata walk.
    *
    * The full [[compact]] MUST run this too: rewriting a partition
    * that holds an uncommitted orphan `c<g>-*` alongside the still-
    * live batch files it was copied from would bake the duplicate
    * rows permanently into the table (no later firing could detect
    * them once the batch-scoped names are gone). Returns the set of
    * committed generations.
    */
  private def recoverMinorState(
      fs: FileSystem, dir: Path, partCol: String): Set[Long] = {
    val markerDir = new Path(dir, "_compact")
    val markerName = "^c(\\d+)$".r
    val baseFile = "^c(\\d+)-.*".r
    var inflight = false
    if (fs.exists(markerDir)) fs.listStatus(markerDir).foreach { m =>
      m.getPath.getName match {
        case InflightFlag => inflight = true
        case markerName(_) if m.getLen > 0 =>
          val in = fs.open(m.getPath)
          val listed = try scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().toList finally in.close()
          listed.filter(_.nonEmpty)
            .foreach(rel => fs.delete(new Path(dir, rel), false))
          fs.create(m.getPath, true).close() // committed + cleaned
        case markerName(_) => ()
        // recursive: the catch-all exists to converge on ANY unexpected
        // entry (stale .c<g>.tmp is the known one) — a non-empty
        // directory here would make a non-recursive delete a silent
        // permanent no-op
        case _ => fs.delete(m.getPath, true)
      }
    }
    val gens: Set[Long] =
      if (!fs.exists(markerDir)) Set.empty
      else fs.listStatus(markerDir).map(_.getPath.getName).collect {
        case markerName(g) => g.toLong
      }.toSet
    // orphan sweep ONLY behind the in-flight sentinel: compactMinor
    // raises `.inflight` before installing any c<g>-* output and drops
    // it after commit+cleanup, so "no flag" proves "no uncommitted
    // outputs" and the healthy per-trigger path costs one _compact
    // listing instead of an O(partitions) metadata walk (an object
    // store bills that walk per micro-batch).
    if (inflight) {
      fs.listStatus(dir)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$partCol="))
        .foreach { st =>
          fs.listStatus(st.getPath).filter(_.isFile).foreach { f =>
            f.getPath.getName match {
              case baseFile(g) if !gens.contains(g.toLong) =>
                fs.delete(f.getPath, false) // orphan: never committed
              case _ => ()
            }
          }
        }
      fs.delete(new Path(markerDir, InflightFlag), false) // swept clean
    }
    gens
  }

  /** Rewrite each fragmented `partCol=` partition of `dirStr` to one
    * file — see the object doc for the protocol and crash recovery.
    * `partValue` parses a partition directory value into the literal
    * used for the partition-pruned read (its type must match the
    * column's, or the `.isin` filter would cast and could defeat
    * pruning). `merge` is [[compactMinor]]'s aggregate-on-compact hook
    * (same serve-equivalence contract); here it sees each fragmented
    * partition's ENTIRE content, so a count table leaves the full
    * rewrite with exactly one row per key. Returns the number of
    * partitions compacted.
    */
  def compact(spark: SparkSession, dirStr: String, partCol: String,
      maxFilesPerPart: Int = 1,
      merge: DataFrame => DataFrame = identity)(
      partValue: String => Any): Int = try {
    val dir = new Path(dirStr)
    val fs = FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)
    val stage = new Path(dir.getParent, s".${dir.getName}.compact")
    val retiredDir = new Path(dir.getParent, s".${dir.getName}.retired")
    val batchFile = "^b(-?\\d+)-.*".r
    def ackedOrNotBatch(name: String): Boolean = name match {
      case batchFile(id) => fs.exists(new Path(dir, s"_ingested/b$id"))
      case _ => true
    }

    // crash recovery BEFORE clearing scratch state — shared with
    // appendIdempotent/compactMinor, see [[recoverRetired]]
    recoverRetired(fs, dir, partCol)
    fs.delete(stage, true)
    if (!fs.exists(dir)) return 0
    // and minor-compaction crash state: an uncommitted orphan c<g>-*
    // rewritten together with the batch files it duplicates would bake
    // the duplicate rows in permanently — see [[recoverMinorState]]
    recoverMinorState(fs, dir, partCol)

    val fragmented = fs.listStatus(dir)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$partCol="))
      .filter { st =>
        val files = fs.listStatus(st.getPath)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
          .map(_.getPath.getName)
        files.length > maxFilesPerPart && files.forall(ackedOrNotBatch)
      }
      .map(_.getPath.getName.stripPrefix(s"$partCol="))
      .sorted
    if (fragmented.isEmpty) return 0
    rewriteWholePartitions(spark, dirStr, partCol, fragmented, merge)(partValue)
  } finally advanceGeneration(dirStr)

  /** The whole-partition rewrite core shared by [[compact]] and
    * [[purgeTombstoned]]: partition-pruned read of ONLY the selected
    * values (one shuffle task per value ⇒ one output file per
    * partition, re-sorted by the pinned cluster columns so a full
    * rewrite keeps the probe layout), then the retired-sibling swap. A
    * selected partition whose rewrite produces NO rows (a purge that
    * deletes everything in it) is retired with no replacement — the
    * partition disappears, which is the correct post-delete state; a
    * crash between its retire and the final cleanup restores it
    * ([[recoverRetired]]), and the caller's tombstones keep the
    * restored rows filtered until the re-run retires it again.
    */
  private def rewriteWholePartitions(spark: SparkSession, dirStr: String,
      partCol: String, selected: Seq[String],
      merge: DataFrame => DataFrame)(partValue: String => Any): Int = {
    val dir = new Path(dirStr)
    val fs = FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)
    val stage = new Path(dir.getParent, s".${dir.getName}.compact")
    val retiredDir = new Path(dir.getParent, s".${dir.getName}.retired")
    fs.delete(stage, true) // scratch hygiene (single-writer contract)
    val sortCols = pinnedSort(fs, dir)
    clustered(
      merge(spark.read.parquet(dirStr)
        .filter(col(partCol).isin(selected.map(partValue): _*))),
      partCol, sortCols)
      .write.options(clusteredWriteOpts(sortCols))
      .partitionBy(partCol).parquet(stage.toString)

    fs.mkdirs(retiredDir)
    selected.foreach { v =>
      val live = new Path(dir, s"$partCol=$v")
      val next = new Path(stage, s"$partCol=$v")
      if (fs.exists(live) && !fs.rename(live, new Path(retiredDir, s"$partCol=$v")))
        throw new IllegalStateException(s"rename $live -> $retiredDir failed")
      if (fs.exists(next) && !fs.rename(next, live))
        throw new IllegalStateException(s"rename $next -> $live failed")
    }
    fs.delete(retiredDir, true)
    fs.delete(stage, true)
    selected.length
  }

  private def rebuildPaths(dir: Path): (Path, Path) = (
    new Path(dir.getParent, s".${dir.getName}.rebuild"),
    new Path(dir.getParent, s".${dir.getName}.rebuild-retired"))

  /** Marker committing a staged rebuild as swap-ready — written only
    * after `build` returned AND the ack markers were carried, so crash
    * recovery can tell a complete new generation from a partial one.
    */
  private val SwapReady = "_swap_ready"

  /** Staged WHOLE-TABLE rebuild + atomic swap — the model-drift answer
    * for derived tables whose encoding depends on frozen parameters
    * (codebooks, cell means): when the frozen generation has drifted
    * from the corpus, the table cannot be migrated in place (partition
    * membership itself changes — a mixed-generation table mis-prunes),
    * and per-batch retraining is the one thing the freeze-and-append
    * design forbids. So: `build` writes the NEW generation into a
    * staging sibling while the old table keeps serving (the rebuild is
    * the long part — O(corpus), paid without any serve interruption),
    * then the swap is two renames executed between triggers.
    *
    * Replay protection survives the swap: every `_ingested` ack marker
    * is COPIED into the staged table before the swap, because a batch
    * acked into the old generation is already IN the rebuilt bytes
    * (the rebuild reads the authoritative corpus) — without the carry,
    * a post-swap replay of the last batch would re-append rows the
    * rebuild already encoded. Conversely the swap REFUSES a table
    * holding UNACKED batch files (an in-flight or torn ingest): those
    * rows' membership in the rebuild snapshot is undecidable here, so
    * fail loudly and let the ingest settle first (single-writer, like
    * [[compact]]: run from the driver that owns the stream, between
    * triggers). The BUILD step tolerates concurrent serves (including
    * their [[recoverRebuildSwap]] heals — serve-safe by design), but
    * the two SWAP renames must not interleave with a serve-side heal:
    * a heal landing inside that µs window would roll the ready stage
    * forward itself and this writer's second rename would then fail
    * loudly on the already-completed swap (correct state, spurious
    * error). Same-driver between-triggers discipline excludes it.
    *
    * Crash points (recovery in [[recoverRebuildSwap]], run as the
    * preamble of every call — serves should run it too after a crash):
    * mid-build / pre-swap → staging is scratch, deleted; between the
    * two renames → the staged generation carries [[SwapReady]], so
    * recovery rolls FORWARD (installs it and discards the parked old
    * generation); after install, before the parked delete → roll
    * forward is a delete. Some complete generation is serveable at
    * every point.
    *
    * The `build` lambda owns the NEW generation's layout pin IN FULL:
    * the swap copies nothing from the old pin, because every layout
    * property (sort columns, bucket counts, model digests) describes
    * BYTES, and the staged bytes are new — carrying an old generation's
    * props forward would re-certify them unchecked against a layout
    * that may deliberately differ.
    */
  def rebuildSwap(spark: SparkSession, dirStr: String, partCol: String)(
      build: String => Unit): Unit = try {
    val dir = new Path(dirStr)
    val fs = FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)
    recoverRebuildSwap(spark, dirStr)
    require(fs.exists(dir), s"$dirStr: no live table to rebuild")
    val batchFile = "^b(-?\\d+)-.*".r
    val unacked = fs.listStatus(dir)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$partCol="))
      .flatMap(st => fs.listStatus(st.getPath)).map(_.getPath.getName)
      .collect { case n @ batchFile(id)
        if !fs.exists(new Path(dir, s"_ingested/b$id")) => n }
    require(unacked.isEmpty,
      s"$dirStr holds unacked batch files (${unacked.take(3).mkString(", ")}" +
        s"…): an in-flight ingest's replay after the swap would duplicate " +
        "rows the rebuild snapshot already encoded — let the ingest settle, " +
        "then rebuild")
    val (stage, parked) = rebuildPaths(dir)
    fs.delete(stage, true)
    build(stage.toString)
    val ing = new Path(dir, "_ingested")
    if (fs.exists(ing)) {
      val dst = new Path(stage, "_ingested")
      fs.mkdirs(dst)
      fs.listStatus(ing).filter(_.isFile).foreach { st =>
        org.apache.hadoop.fs.FileUtil.copy(
          fs, st.getPath, fs, new Path(dst, st.getPath.getName), false,
          spark.sparkContext.hadoopConfiguration)
      }
    }
    fs.create(new Path(stage, SwapReady), true).close()
    fs.delete(parked, true)
    if (!fs.rename(dir, parked))
      throw new IllegalStateException(s"rename $dir -> $parked failed")
    if (!fs.rename(stage, dir))
      throw new IllegalStateException(s"rename $stage -> $dir failed")
    fs.delete(new Path(dir, SwapReady), false)
    fs.delete(parked, true)
  } finally advanceGeneration(dirStr)

  /** SERVE-SAFE crash recovery for [[rebuildSwap]] — idempotent, cheap
    * (existence checks on the healthy path), and callable from a serve
    * path WHILE a rebuild's build step runs on the same driver: it
    * never touches the staging dir except to roll a ready-marked
    * generation forward, because a live-table serve cannot tell a
    * crashed half-built stage from the in-flight build happening right
    * now (deleting it here would nuke the rebuild under the writer —
    * scratch-stage hygiene belongs to [[rebuildSwap]]'s own preamble,
    * where single-writer discipline guarantees no build is in flight).
    * Roll forward when the staged generation committed ([[SwapReady]]
    * present), restore the parked old generation otherwise; a parked
    * survivor next to a live table (crash after install) is retired.
    */
  def recoverRebuildSwap(spark: SparkSession, dirStr: String): Unit = {
    val dir = new Path(dirStr)
    val fs = FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)
    val (stage, parked) = rebuildPaths(dir)
    if (!fs.exists(dir)) try {
      if (fs.exists(new Path(stage, SwapReady))) {
        // crashed between the two renames: the new generation is
        // complete (markers carried, ready-marked) — finish the swap
        if (!fs.rename(stage, dir))
          throw new IllegalStateException(s"rename $stage -> $dir failed")
        fs.delete(new Path(dir, SwapReady), false)
        fs.delete(parked, true)
      } else if (fs.exists(parked)) {
        // crashed with an incomplete stage: restore the old generation
        // (the half-built stage is left for the writer's preamble)
        if (!fs.rename(parked, dir))
          throw new IllegalStateException(s"rename $parked -> $dir failed")
      }
    } finally advanceGeneration(dirStr)
    else {
      fs.delete(new Path(dir, SwapReady), false) // settle a rolled-forward dir
      // live + parked together only ever means "crashed after install":
      // a healthy in-flight swap holds the two states disjointly
      fs.delete(parked, true)
    }
  }

  // ------------------------------------------------------------------
  // DELETION LIFECYCLE — tombstones + serve-side filtering + physical
  // purge, the takedown machinery for every document-keyed stored
  // table this object maintains (GDPR-class removal; the reference is
  // itself a GDPR pipeline — salted PII hashing at
  // Fetch_reddit.py:58-63). Three cooperating pieces:
  //
  //  1. appendTombstonesIdempotent — a takedown batch's keys land in a
  //     SIBLING incremental table `<dir>/_tombstones` (underscore-
  //     prefixed, so parent-table parquet reads never see it; its own
  //     `_ingested/b<id>` ack namespace, so delete-stream batch ids
  //     never collide with the parent's ingest ids). Exactly-once by
  //     the same ack protocol as any append: a REPLAYED delete batch
  //     is a no-op forever, including after the rows it named are
  //     physically gone.
  //  2. applyTombstones — the serve-side anti-join every family's read
  //     path routes through: a tombstoned key stops appearing in every
  //     serve the moment the delete batch acks, with NO table rewrite
  //     on the takedown path (O(batch), the same cost class as an
  //     append). Tables that never saw a delete pay one existence
  //     check (no join is added to their plans — the gates' plan pins
  //     hold unchanged).
  //  3. purgeTombstoned — physical removal, O(touched partitions)
  //     never O(table): one column-pruned (partCol, keyCol) scan finds
  //     the partitions actually holding tombstoned rows, each is
  //     rewritten through the retired-sibling swap with the tombstones
  //     anti-joined out, and partitions with no match are never read
  //     again nor rewritten. When every touched partition purged (none
  //     skipped for in-flight ingest state), the tombstone ROWS are
  //     cleared — the acks stay, so replayed delete batches remain
  //     no-ops — and the table is byte-clean of the deleted keys.
  //
  // Crash analysis: a crash mid-purge leaves some partitions rewritten
  // and some not — the tombstones are still present (cleared LAST), so
  // serves stay correct throughout and the re-run purges the rest. A
  // crash between the last rewrite and the clear re-runs as an empty
  // purge (no partition matches) and clears. recoverRetired restores a
  // partition retired-but-not-replaced; its rows resurface FILTERED
  // (tombstones still present) until the re-run retires it again.
  // Deleting a key that was never ingested is a harmless no-op (the
  // anti-join matches nothing); re-ingesting a key AFTER its purge
  // cycle completes makes it live again (delete-then-reinsert =
  // present — the tombstone names bytes, not an identity ban).
  // ------------------------------------------------------------------

  /** The RETRACTION id space — the deletion lifecycle's SEMIGROUP arm
    * (count tables: df/term stats, LM bigrams, DSIR buckets — rows are
    * sum-mergeable, so removal is data, not filtering): a family's
    * delete stream installs NEGATIVE deltas through the ordinary
    * [[appendIdempotent]] protocol with its batch ids mapped into the
    * negative half of the id space, so they can never collide with
    * ingest ids in the shared `_ingested` ack namespace (ingest batch
    * 7 acks `b7` and names files `b7-k`; retraction batch 7 acks
    * `b-8` and names `b-8-k` — no shared prefix, so neither replay
    * can clear the other's files). Everything else is the existing
    * machinery: a replayed retraction is a no-op forever, serve-side
    * sums net the negatives out with NO plan change, and the family's
    * merge-compaction physically folds a retraction into its base
    * rows — a fully-retracted key's zero row is dropped by the merge,
    * leaving the table byte-clean of the deleted contribution.
    * Document-keyed families use tombstones (below) instead; count
    * families use this because their rows aren't keyed by the deleted
    * id at all.
    */
  def retractionBatchId(batchId: Long): Long = -batchId - 1

  /** The tombstone sibling table of a stored table. */
  def tombstoneDir(dirStr: String): String = s"$dirStr/_tombstones"

  /** Exactly-once append of one takedown batch's keys (any DataFrame
    * with `keyCol`; deduplicated here) into `<dir>/_tombstones`.
    */
  def appendTombstonesIdempotent(spark: SparkSession, dirStr: String,
      keyCol: String, batchId: Long)(keys: => DataFrame): Unit =
    try appendIdempotent(spark, tombstoneDir(dirStr), "tb", batchId) {
      keys.select(col(keyCol)).distinct().withColumn("tb", lit(0))
    } finally advanceGeneration(dirStr)

  /** Whether a replayed takedown batch is already acked. */
  def tombstoneAcked(
      spark: SparkSession, dirStr: String, batchId: Long): Boolean =
    acked(spark, tombstoneDir(dirStr), batchId)

  /** Whether any tombstone ROWS exist (cheap driver-side listing —
    * `false` both for a never-deleted table and after a completed
    * purge cycle cleared the rows).
    */
  def hasTombstones(spark: SparkSession, dirStr: String): Boolean = {
    val dir = new Path(tombstoneDir(dirStr))
    val fs = FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)
    fs.exists(dir) && fs.listStatus(dir)
      .exists(st => st.isDirectory && st.getPath.getName.startsWith("tb=") &&
        fs.listStatus(st.getPath).exists(f =>
          f.isFile && !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith(".")))
  }

  /** The distinct tombstoned keys as a 1-column frame (None when the
    * table has none — the common fast path).
    */
  def tombstoneKeys(spark: SparkSession, dirStr: String,
      keyCol: String): Option[DataFrame] =
    if (!hasTombstones(spark, dirStr)) None
    else Some(spark.read.parquet(tombstoneDir(dirStr))
      .select(col(keyCol)).distinct())

  /** Serve-side deletion: anti-join `df` against the table's
    * tombstones on `keyCol`. Identity (no plan change at all) for a
    * table with no tombstone rows. No broadcast hint — a takedown
    * wave's key set is unbounded, and AQE broadcasts small frames on
    * its own.
    */
  def applyTombstones(spark: SparkSession, dirStr: String, keyCol: String)(
      df: DataFrame): DataFrame =
    tombstoneKeys(spark, dirStr, keyCol)
      .fold(df)(t => df.join(t, Seq(keyCol), "left_anti"))

  /** Physical purge of tombstoned rows — O(touched partitions): one
    * column-pruned scan locates the partitions holding tombstoned
    * rows, each is rewritten (retired-sibling swap) with the
    * tombstones anti-joined out. Partitions holding UNACKED batch
    * files are skipped (an in-flight ingest's replay needs its
    * batch-scoped names; the tombstones keep their rows filtered) and
    * the tombstone rows are then retained for the next purge. Returns
    * the number of partitions rewritten.
    */
  def purgeTombstoned(spark: SparkSession, dirStr: String, partCol: String,
      keyCol: String)(partValue: String => Any): Int = try {
    val dir = new Path(dirStr)
    val fs = FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)
    val tombOpt = tombstoneKeys(spark, dirStr, keyCol)
    if (tombOpt.isEmpty || !fs.exists(dir)) return 0
    val tomb = tombOpt.get
    recoverRetired(fs, dir, partCol)
    recoverMinorState(fs, dir, partCol)
    val batchFile = "^b(-?\\d+)-.*".r
    // touched partitions: (partCol, keyCol) columns only — parquet
    // reads nothing else, and partitions without a tombstoned key are
    // never rewritten
    val touched = spark.read.parquet(dirStr)
      .select(col(partCol), col(keyCol))
      .join(tomb, Seq(keyCol), "left_semi")
      .select(col(partCol)).distinct()
      .collect().map(_.get(0).toString).toSeq.sorted
    val (clean, skipped) = touched.partition { v =>
      val live = new Path(dir, s"$partCol=$v")
      !fs.exists(live) || fs.listStatus(live).forall { f =>
        f.getPath.getName match {
          case batchFile(id) =>
            fs.exists(new Path(dir, s"_ingested/b$id"))
          case _ => true
        }
      }
    }
    val purged =
      if (clean.isEmpty) 0
      else rewriteWholePartitions(spark, dirStr, partCol, clean,
        _.join(tomb, Seq(keyCol), "left_anti"))(partValue)
    // clear the tombstone ROWS only when nothing still references them
    // (no partition skipped); the `_ingested` acks stay forever so a
    // replayed delete batch can never re-append
    if (skipped.isEmpty) clearTombstoneRows(fs, new Path(tombstoneDir(dirStr)))
    purged
  } finally advanceGeneration(dirStr)

  /** Crash-safe REPLACEMENT of every row carrying one of `keys` with
    * `fresh` — the deletion lifecycle's third arm, for SET-UNION state
    * (distinct-gram tables, HLL sketches) that neither tombstones nor
    * negative deltas can express: a set cannot forget an element
    * (surviving rows may still justify it) and a sketch cannot
    * subtract, so the only exact takedown is RE-DERIVATION — the
    * caller computes `fresh` (the keys' rows recomputed from the
    * surviving corpus) and this installs it atomically per partition
    * through the retired-sibling swap. Key rows spread across
    * partitions (they are bucketed by VALUE hash, not key hash), so
    * the rewrite touches every partition — O(table bytes), the
    * honest price of set-union state, bounded by Heaps' law rather
    * than the corpus. Idempotent by construction (same survivors →
    * same rows), so the caller's replay protection can ride its
    * count-retraction ack alone; a crash mid-swap heals through
    * [[recoverRetired]] on the next append/replace.
    */
  def replaceKeyRows(spark: SparkSession, dirStr: String, partCol: String,
      keyCol: String, keys: Seq[String], fresh: DataFrame)(
      partValue: String => Any): Int = try {
    val dir = new Path(dirStr)
    val fs = FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir) || keys.isEmpty) return 0
    recoverRetired(fs, dir, partCol)
    recoverMinorState(fs, dir, partCol)
    val existing = fs.listStatus(dir)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$partCol="))
      .map(_.getPath.getName.stripPrefix(s"$partCol=")).toSeq
    val freshParts = fresh.select(col(partCol)).distinct()
      .collect().map(_.get(0).toString).toSeq
    val selected = (existing ++ freshParts).distinct.sorted
    rewriteWholePartitions(spark, dirStr, partCol, selected,
      old => old.filter(!col(keyCol).isin(keys: _*))
        .unionByName(fresh))(partValue)
  } finally advanceGeneration(dirStr)

  private def clearTombstoneRows(fs: FileSystem, tdir: Path): Unit = {
    if (!fs.exists(tdir)) return
    fs.listStatus(tdir).foreach { st =>
      val n = st.getPath.getName
      // keep the ack namespace (`_ingested`) and the layout pin; drop
      // the data partitions and compaction markers
      if (st.isDirectory && (n.startsWith("tb=") || n == "_compact"))
        fs.delete(st.getPath, true)
    }
  }
}
