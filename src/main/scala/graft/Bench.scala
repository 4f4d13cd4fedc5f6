package graft
import graft.core.{GraftSession, Tables}

/** Benchmark main: times every catalog query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. A warmup pass runs first so the timings
  * measure the queries, not JIT/codegen/classloading of the first one.
  *
  * Contention robustness: BENCH_r04 was poisoned by a sustained
  * host-level contention window that hit the same contiguous block of
  * queries in both of the (same-order) timed passes, inflating the
  * official total 7.4x with no code change. The harness now runs
  * [[Passes]] timed passes with the catalog order ROTATED by a
  * different offset each pass, and takes the per-query min across
  * passes — a contiguous wall-clock slow window then covers a
  * different subset of queries in every pass, so no query can be
  * poisoned in all of them. Passes whose flanking calibration samples
  * show contention are RE-QUEUED (up to [[MaxRequeues]], see
  * [[poisonedPasses]]) so a transiently busy host costs a re-run, not
  * a noisy-flagged artifact. Failures are surfaced (stderr + an
  * "errors" count in the line), never timed as `-1`.
  */
object Bench {
  /** Timed passes. 3 is the minimum where a single contention window
    * strictly cannot poison every observation of any query (each pass
    * starts a third of the catalog further along).
    */
  val Passes = 3

  /** Calibration samples whose max/min ratio marks the run noisy.
    * Within-run scheduler jitter on a healthy host stays well under
    * this; a contention window long enough to matter at per-query
    * granularity (~tens of seconds) spans at least one whole
    * inter-sample gap and shows up as a >=2x sample.
    */
  val NoiseRatio = 2.0

  /** Extra pass executions the harness may spend re-running passes
    * whose flanking calibration samples were contended — bounded so a
    * host that stays busy cannot stretch the run forever (the artifact
    * then carries the `noisy` flag instead, as before).
    */
  val MaxRequeues = 2

  /** Indices of executed passes flanked by a contended calibration
    * sample — the re-queue rule (BENCH_r07 shipped `noisy: 3.0` while
    * a controlled re-run measured the code FASTER; re-running a
    * flagged pass inside the same artifact is cheaper than adjudicating
    * it afterwards). Execution k ran between `samples(k)` and
    * `samples(k+1)`; it is poisoned when either flank reaches
    * [[NoiseRatio]] × the run's fastest sample (the fastest sample is
    * the best available proxy for the uncontended host). Pure, so
    * BenchSpec can feed synthetic sample series.
    */
  def poisonedPasses(samples: Seq[Double], nPasses: Int): Seq[Int] = {
    val used = samples.take(nPasses + 1)
    if (used.size < nPasses + 1 || used.exists(_ <= 0)) Seq.empty
    else {
      val base = used.min
      (0 until nPasses).filter(i =>
        math.max(used(i), used(i + 1)) / base >= NoiseRatio)
    }
  }

  /** Data-independent single-thread CPU yardstick: a fixed count of
    * splitmix64 steps, ~0.1 s on an uncontended core. Rotation + min
    * (below) defend each query against a contention WINDOW, but a
    * window that outlasts the whole run — BENCH_r04 (7.4x) and
    * BENCH_r06 (1.8x, every pass) — poisons every observation and the
    * min defense is blind to it. This probe is the absolute reference
    * the artifact needs to be self-diagnosing: its wall time depends
    * only on the host, so the per-round `"calib"` median is directly
    * comparable across rounds (same driver machine), and an intra-run
    * max/min ratio >= [[NoiseRatio]] flags the run as `"noisy"` without
    * any re-run or controlled environment.
    */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < (1 << 26)) {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      acc ^= z ^ (z >>> 31)
      i += 1
    }
    if (acc == 42L) System.err.println("[bench] calib fixed point") // defeat DCE
    (System.nanoTime() - t0) / 1e9
  }

  /** (median, max/min) of the calibration samples — upper median for
    * even counts; ratio is None for fewer than two samples.
    */
  def calibStats(samples: Seq[Double]): (Option[Double], Option[Double]) =
    if (samples.isEmpty) (None, None)
    else {
      val s = samples.sorted
      (Some(s(s.size / 2)),
        if (s.size < 2 || s.head <= 0) None else Some(s.last / s.head))
    }

  /** The timed action: materialize EVERY output row and column into
    * the no-op sink. Rounds 1–11 timed `.count()`, under which
    * Catalyst legally prunes whatever the count doesn't need — final
    * projections (column pruning), sorts below the aggregate, and
    * whole multiplicity-preserving outer joins (`EliminateOuterJoin`:
    * q_dedup_semantic's count-plan optimized to a bare corpus-scan
    * count, eliding 100% of the verdict compute — caught in round 12
    * when its sf10 "wall" came back 350× under the real one). count()
    * was consistent across rounds, but it measured a different
    * (cheaper) plan than the one users run and left the per-query
    * regression gate blind inside elided subtrees. The noop sink is
    * the standard Spark bench action: full evaluation, zero IO.
    * SCALING.md round 12 carries the old→new wall mapping.
    */
  def materialize(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-bench")
    // Warmup: exercise parquet reader, whole-stage codegen, shuffle and
    // window machinery once, untimed. The calibration loop warms twice
    // so its own JIT compilation never lands in a recorded sample.
    calibrate(); calibrate()
    Tables.load(spark, sfDir, "region").count()
    materialize(SparkEntry.queries("q_topk")(spark, sfDir))
    materialize(SparkEntry.queries("q_window_rank")(spark, sfDir))

    val calibSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    val catalog = SparkEntry.queries.toSeq
    // executions: (rotation slot, per-query walls). The initial
    // schedule runs each slot once; the re-queue loop below may append
    // extra executions of contended slots.
    val executions =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Map[String, Option[Double]])]
    calibSamples += calibrate() // yardstick brackets every execution
    def runPass(slot: Int): Unit = {
      val pass = rotate(catalog, slot * catalog.size / Passes).map { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          materialize(fn(spark, sfDir))
          name -> Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed in pass(slot=$slot): $e")
            name -> (None: Option[Double])
        }
      }.toMap
      executions += slot -> pass
      calibSamples += calibrate()
      System.err.println(
        f"[bench] pass slot=$slot total ${pass.values.flatten.sum}%.1f s")
    }
    (0 until Passes).foreach(runPass)
    // re-queue: a slot with no un-contended execution gets re-run, up
    // to MaxRequeues extra passes — so one busy neighbor process during
    // one pass costs a re-run, not a noisy-flagged artifact
    def dirtySlots: Seq[Int] = {
      val poisoned = poisonedPasses(calibSamples.toSeq, executions.size).toSet
      (0 until Passes).filter(slot => !executions.zipWithIndex.exists {
        case ((s, _), k) => s == slot && !poisoned(k)
      })
    }
    var requeues = 0
    while (dirtySlots.nonEmpty && requeues < MaxRequeues) {
      val slot = dirtySlots.head
      System.err.println(s"[bench] re-queueing contended pass slot=$slot")
      runPass(slot)
      requeues += 1
    }
    val stillDirty = dirtySlots
    val (calib, noise) = calibStats(calibSamples.toSeq)
    System.err.println("[bench] calib samples: " +
      calibSamples.map(s => f"$s%.3f").mkString(", "))
    // the min-combine uses EVERY execution (a poisoned pass only ever
    // inflates walls; its observations cannot drag a min down); the
    // noisy flag survives only if some slot never got a clean run
    val (results, errors, flaky) = combine(executions.map(_._2).toSeq)
    errors.foreach(n => System.err.println(s"[bench] $n failed in EVERY pass"))
    flaky.foreach(n => System.err.println(s"[bench] $n failed in SOME passes"))
    println(renderLine(results, sfDir, errors = errors.size, flaky = flaky.size,
      calib = calib,
      noise = noise.filter(_ >= NoiseRatio && stillDirty.nonEmpty)))
    // full-map sidecar: the stdout line sheds its fastest queries'
    // walls under the 1970-char budget, so the round-over-round
    // regression check loses per-query history for the shed tail. The
    // sidecar carries EVERY query at 3 decimals; per-round history
    // lives in git (the file is committed with each round).
    try {
      val path = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "BENCH_full.json")
      // per-query regression gate BEFORE overwriting the sidecar: diff
      // this run against the committed previous round's full map so a
      // clusters_incr-style drift surfaces at build time, not judge
      // time (round-9 verdict #7). Stderr-only: the stdout JSON line
      // is the artifact and must stay last.
      val prevFile = java.nio.file.Paths.get(path)
      if (java.nio.file.Files.exists(prevFile)) {
        val prevDoc =
          new String(java.nio.file.Files.readAllBytes(prevFile), "UTF-8")
        incomparable(prevDoc, GraftSession.cpus, calib) match {
          case Some(why) =>
            System.err.println(
              s"[bench] baseline not comparable ($why): no per-query diff vs $path")
          case None =>
            val prev = parseFullQueries(prevDoc)
            val regs = regressions(prev, results)
            regs.foreach { case (q, p, v) =>
              System.err.println(
                f"[bench] REGRESSION $q: $p%.2f -> $v%.2f s (x${v / p}%.2f)")
            }
            if (regs.isEmpty && prev.nonEmpty)
              System.err.println(
                s"[bench] no per-query regressions >= x$RegressionRatio vs $path")
        }
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        renderFull(results, sfDir, errors = errors, flaky = flaky,
          calib = calib, noise = noise.filter(_ >= NoiseRatio &&
            stillDirty.nonEmpty), cpus = Some(GraftSession.cpus))
          .getBytes("UTF-8"))
      System.err.println(s"[bench] full per-query map written to $path")
    } catch {
      case e: Throwable => // never let the sidecar break the artifact
        System.err.println(s"[bench] sidecar write failed: $e")
    }
    spark.stop()
    // do NOT exit nonzero on query errors: sbt's [error] epilogue would
    // print AFTER the JSON line and could push it out of the driver's
    // last-2000-chars capture window — losing the whole artifact instead
    // of flagging it. The "errors" field in the line carries the signal.
  }

  /** Flag threshold for the per-query regression diff: current wall
    * >= [[RegressionRatio]] × previous AND at least
    * [[RegressionFloor]] seconds slower — the floor keeps sub-100 ms
    * queries' scheduler jitter from tripping the ratio.
    */
  val RegressionRatio = 1.2
  val RegressionFloor = 0.15

  /** A previous sidecar is a baseline for the per-query diff only when
    * it ran on the same core count and its `calib` is within this
    * factor of the current run's, either way: walls from another host
    * class differ by more than the regression ratio on every query.
    */
  val CalibBand = 1.25

  /** Why a previous sidecar document is no baseline for a run on
    * `cpus` cores at `calib`, or None when it is one. A sidecar written
    * before `cpus` was recorded is never a baseline. Pure, so BenchSpec
    * feeds synthetic documents.
    */
  def incomparable(prevDoc: String, cpus: Int,
      calib: Option[Double]): Option[String] = {
    def meta(key: String): Option[Double] =
      raw""""$key"\s*:\s*([0-9.]+)""".r.findFirstMatchIn(prevDoc)
        .map(_.group(1).toDouble)
    (meta("cpus").map(_.toInt), meta("calib"), calib) match {
      case (None, _, _) => Some("the previous sidecar records no cpus")
      case (Some(p), _, _) if p != cpus => Some(s"cpus $p -> $cpus")
      case (_, Some(p), Some(c)) if p > 0 && c > 0 =>
        if (math.max(p, c) / math.min(p, c) <= CalibBand) None
        else Some(s"calib $p -> $c, outside x$CalibBand")
      case _ => Some("calib missing or zero")
    }
  }

  /** Per-query walls parsed out of a previous sidecar document. The
    * sidecar's meta fields (`value`, `calib`, …) also match the
    * number-pair shape, so callers intersect with the current
    * catalog's names ([[regressions]] does).
    */
  def parseFullQueries(json: String): Map[String, Double] = {
    val re = """"([A-Za-z0-9_]+)"\s*:\s*([0-9]+\.[0-9]+)""".r
    re.findAllMatchIn(json).map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** Queries of `cur` that regressed vs `prev` per the
    * ratio-and-floor rule, sorted worst-absolute first as
    * `(name, prevWall, curWall)`. Only names present in BOTH maps are
    * compared (new queries have no baseline; `prev`'s meta fields are
    * not in `cur`). Pure, so BenchSpec feeds synthetic maps.
    */
  def regressions(prev: Map[String, Double], cur: Map[String, Double],
      ratio: Double = RegressionRatio,
      floor: Double = RegressionFloor): Seq[(String, Double, Double)] =
    cur.toSeq.collect {
      case (q, v) if prev.get(q).exists(p =>
          p > 0 && v >= p * ratio && v - p >= floor) => (q, prev(q), v)
    }.sortBy { case (q, p, v) => (-(v - p), q) }

  /** The sidecar document: every query's wall at 3 decimals (slowest
    * first — the natural reading order for a regression check), plus
    * the same provenance fields as the line. No length budget: this
    * goes to a FILE, not the driver's stdout capture window. Pure, so
    * BenchSpec covers it without running the catalog.
    */
  def renderFull(results: Map[String, Double], sfDir: String,
                 passes: Int = Passes, errors: Seq[String] = Nil,
                 flaky: Seq[String] = Nil, calib: Option[Double] = None,
                 noise: Option[Double] = None,
                 cpus: Option[Int] = None): String = {
    def f(decimals: Int)(v: Double): String =
      s"%.${decimals}f".formatLocal(java.util.Locale.ROOT, v)
    def strArr(xs: Seq[String]): String =
      xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val sf = sfDir.stripSuffix("/").split('/').last
    val qs = results.toSeq.sortBy { case (k, v) => (-v, k) }
      .map { case (k, v) => s"""    "$k": ${f(3)(v)}""" }
      .mkString("{\n", ",\n", "\n  }")
    val opt = cpus.map(n => s""",\n  "cpus": $n""").getOrElse("") +
      calib.map(c => s""",\n  "calib": ${f(3)(c)}""").getOrElse("") +
      noise.map(r => s""",\n  "noisy": ${f(1)(r)}""").getOrElse("") +
      (if (errors.nonEmpty) s""",\n  "errors": ${strArr(errors)}""" else "") +
      (if (flaky.nonEmpty) s""",\n  "flaky": ${strArr(flaky)}""" else "")
    s"""{
       |  "metric": "total",
       |  "value": ${f(3)(total)},
       |  "unit": "sec",
       |  "passes": $passes,
       |  "n_queries": ${results.size},
       |  "sf": "$sf"$opt,
       |  "queries": $qs
       |}
       |""".stripMargin
  }

  /** Left-rotate by k; total for any k (including k >= size), stable
    * order otherwise. Each bench pass uses a different offset so a
    * contiguous contention window in wall-clock time lands on a
    * different slice of the catalog per pass.
    */
  def rotate[A](xs: Seq[A], k: Int): Seq[A] =
    if (xs.isEmpty) xs
    else {
      val n = ((k % xs.size) + xs.size) % xs.size
      xs.drop(n) ++ xs.take(n)
    }

  /** Per-query min across passes, ignoring failed observations. A
    * query counts as an error only when it failed in EVERY pass (a
    * one-pass hiccup with clean observations elsewhere is noise, not a
    * broken query) — but partial failures are not invisible either:
    * the third element lists queries that failed in SOME passes while
    * succeeding in at least one, so the artifact distinguishes
    * fully-clean from intermittently-failing runs. Pure, so BenchSpec
    * can feed synthetic poisoned passes.
    */
  def combine(passes: Seq[Map[String, Option[Double]]])
      : (Map[String, Double], Seq[String], Seq[String]) = {
    val names = passes.flatMap(_.keys).distinct
    val byName = names.map(n => n -> passes.flatMap(_.get(n)))
    val mins = byName.collect {
      case (n, obs) if obs.flatten.nonEmpty => n -> obs.flatten.min }
    val errs = byName.collect {
      case (n, obs) if obs.flatten.isEmpty => n }
    val flaky = byName.collect {
      case (n, obs) if obs.flatten.nonEmpty && obs.exists(_.isEmpty) => n }
    (mins.toMap, errs.sorted, flaky.sorted)
  }

  /** Render the ONE JSON line the driver parses. The driver captures
    * only the LAST 2000 chars of stdout and extracts the line from
    * that window (BENCH_r02.json: full-precision doubles pushed the
    * line start out of the window -> "parsed": null), so per-query
    * precision degrades 3 -> 2 -> 1 decimals, then provenance fields
    * shed, then the FASTEST queries drop one at a time (never to 0
    * decimals — see the ladder comment) until the line fits
    * under 1970 chars — measured headroom: in the driver's own round-3
    * capture exactly one byte (the trailing newline) follows the line,
    * so 1970 keeps ≥30 bytes of trailing-output tolerance even at the
    * degrade threshold, and `"sf"` carries the directory BASENAME to
    * spend the window on query timings rather than a constant path
    * prefix. BenchLineSpec asserts the ladder absorbs the current
    * catalog plus twenty future queries — grow the catalog and that
    * test, not this margin. `"passes"`/`"errors"` let a judge tell a
    * robust multi-pass artifact from a one-shot one without re-running;
    * `"errors"`/`"flaky"` appear ONLY when nonzero (presence IS the
    * signal — at 91 queries the two always-zero fields were the margin
    * between 1-decimal rendering and shedding on a clean run). At 92
    * queries even `"passes"` costs that margin, so the ladder drops it
    * first: per-query 100 ms resolution (what
    * the round-over-round regression check reads) is worth more than a
    * constant int that [[Passes]] pins in code — the field still
    * renders whenever it fits. `"errors"`/`"flaky"` are never dropped:
    * they exist only when something failed, and a failure signal
    * outranks a decimal.
    *
    * `"calib"` (median [[calibrate]] wall, 3 decimals) is the
    * cross-round host yardstick — host-dependent only, so the judge
    * compares it across rounds to tell "the code got slower" from
    * "the host got slower". It NEVER sheds (BenchLineSpec pins its
    * survival at real catalog size): when the line is tight the ladder
    * prefers dropping the fastest queries' walls over losing the one
    * field that makes every other number interpretable. `"noisy"`
    * (intra-run calibration max/min, present only when it reached
    * [[NoiseRatio]]) is a failure signal like `"errors"`: it exists
    * only when the run is self-measured as contended, so it is never
    * dropped either.
    */
  def renderLine(results: Map[String, Double], sfDir: String,
                 passes: Int = Passes, errors: Int = 0,
                 flaky: Int = 0, calib: Option[Double] = None,
                 noise: Option[Double] = None): String = {
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val sf = sfDir.stripSuffix("/").split('/').last
    def f(decimals: Int)(v: Double): String =
      s"%.${decimals}f".formatLocal(java.util.Locale.ROOT, v)
    val fail = (if (errors > 0) s""","errors":$errors""" else "") +
      (if (flaky > 0) s""","flaky":$flaky""" else "") +
      noise.map(r => s""","noisy":${f(1)(r)}""").getOrElse("")
    val cal = calib.map(c => s""","calib":${f(3)(c)}""").getOrElse("")
    def render(decimals: Int, withPasses: Boolean): String = {
      val prov = (if (withPasses) s""","passes":$passes""" else "") + cal + fail
      val qs = results.map { case (k, v) => "\"" + k + "\":" + f(decimals)(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${f(decimals)(total)},"unit":"sec"$prov,"queries":$qs,"sf":"$sf"}"""
    }
    // calib never sheds (see the scaladoc); "passes" does. Below 1
    // decimal the ladder does NOT degrade to 0 decimals (at a 0.5 s
    // median, integer seconds erase the round-over-round regression
    // signal for most of the catalog); instead it sheds the FASTEST
    // queries — whose ~0.1 s walls carry no information — one at a
    // time, saying how many were dropped, keeping 100 ms resolution
    // and the calibration yardstick for everything it keeps.
    Seq((3, true), (2, true), (1, true), (1, false))
      .map((render _).tupled).find(_.length <= 1970).getOrElse {
      val sorted = results.toSeq.sortBy { case (k, v) => (-v, k) }
      def renderTop(k: Int): String = {
        val qs = sorted.take(k).map { case (n, v) => "\"" + n + "\":" + f(1)(v) }
          .mkString("{", ",", "}")
        val drop = if (k < sorted.size) s""","dropped":${sorted.size - k}""" else ""
        s"""{"metric":"total","value":${f(1)(total)},"unit":"sec"$cal$fail,"queries":$qs$drop,"sf":"$sf"}"""
      }
      (sorted.size to 0 by -1).iterator.map(renderTop).find(_.length <= 1970).get
    }
  }
}
