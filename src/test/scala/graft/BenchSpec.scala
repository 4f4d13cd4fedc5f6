package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness must defend its own artifact: BENCH_r04's total
  * was inflated 7.4x by a host-contention window that covered the same
  * contiguous block of queries in both same-order passes. These tests
  * pin the two mechanisms that prevent a recurrence — per-pass order
  * rotation and pure min-across-passes combination — on synthetic
  * timings, no SparkSession needed.
  */
class BenchSpec extends AnyFunSuite {

  private val names = (1 to 30).map(i => f"q_$i%02d")

  test("a fully poisoned pass does not reach the reported mins") {
    val clean = names.map(_ -> Option(0.5)).toMap
    // pass 1 poisoned: every query 40x slower (sustained contention)
    val poisoned = names.map(_ -> Option(20.0)).toMap
    val (mins, errs, flaky) = Bench.combine(Seq(clean, poisoned, clean))
    assert(flaky.isEmpty)
    assert(errs.isEmpty)
    assert(mins.values.forall(_ == 0.5), "poisoned pass leaked into mins")
  }

  test("a contiguous slow window cannot poison a query in every rotated pass") {
    val catalog = names
    val n = catalog.size
    // simulate a contention window covering wall-clock positions 10..19
    // of EVERY pass (the BENCH_r04 failure shape); with per-pass
    // rotation each position maps to a different query per pass
    val window = (10 until 20).toSet
    val passes = (0 until Bench.Passes).map { i =>
      Bench.rotate(catalog, i * n / Bench.Passes).zipWithIndex.map {
        case (q, pos) => q -> Option(if (window(pos)) 60.0 else 0.4)
      }.toMap
    }
    val (mins, _, _) = Bench.combine(passes)
    assert(mins.values.forall(_ == 0.4),
      "some query was slow in all passes — rotation offsets overlap")
  }

  test("a query failing in one pass uses the min of its clean observations") {
    val p1 = Map("q_a" -> Option(1.0), "q_b" -> Option(2.0))
    val p2 = Map("q_a" -> (None: Option[Double]), "q_b" -> Option(1.5))
    val p3 = Map("q_a" -> Option(0.9), "q_b" -> Option(2.5))
    val (mins, errs, flaky) = Bench.combine(Seq(p1, p2, p3))
    assert(errs.isEmpty)
    assert(flaky == Seq("q_a"), "a partial failure must be surfaced as flaky")
    assert(mins == Map("q_a" -> 0.9, "q_b" -> 1.5))
  }

  test("a query failing in EVERY pass is an error, not a timing") {
    val pass = Map("q_ok" -> Option(1.0), "q_broken" -> (None: Option[Double]))
    val (mins, errs, flaky) = Bench.combine(Seq(pass, pass, pass))
    assert(mins == Map("q_ok" -> 1.0))
    assert(errs == Seq("q_broken"))
    assert(flaky.isEmpty, "an every-pass failure is an error, not flaky")
  }

  test("rotate is a total permutation at every offset") {
    val xs = (1 to 7).toSeq
    for (k <- -3 to 15) {
      val r = Bench.rotate(xs, k)
      assert(r.sorted == xs, s"rotate($k) lost elements")
    }
    assert(Bench.rotate(Seq.empty[Int], 5).isEmpty)
    assert(Bench.rotate(xs, 0) == xs)
    assert(Bench.rotate(xs, 7) == xs)
  }

  test("the rendered line carries passes and errors for the judge") {
    val line = Bench.renderLine(Map("q_x" -> 1.234), "/root/testdata/sf0.1",
      passes = 3, errors = 2, flaky = 1)
    assert(line.contains("\"passes\":3"))
    assert(line.contains("\"errors\":2"))
    assert(line.contains("\"flaky\":1"))
  }

  test("zero-valued errors/flaky are omitted: presence is the signal") {
    // the two always-zero fields cost exactly the margin between
    // 1-decimal and 0-decimal rendering at the full catalog
    val line = Bench.renderLine(Map("q_x" -> 1.234), "/root/testdata/sf0.1",
      passes = 3, errors = 0, flaky = 0)
    assert(line.contains("\"passes\":3"))
    assert(!line.contains("\"errors\""))
    assert(!line.contains("\"flaky\""))
  }

  test("the re-queue rule flags exactly the passes flanked by contention") {
    // execution k runs between samples(k) and samples(k+1); one 3x
    // sample poisons BOTH passes it flanks, nothing else
    assert(Bench.poisonedPasses(Seq(0.1, 0.1, 0.3, 0.1), 3) == Seq(1, 2))
    // an all-clean series flags nothing
    assert(Bench.poisonedPasses(Seq(0.1, 0.1, 0.1, 0.1), 3) == Seq.empty)
    // the baseline is the fastest sample of the run, so a uniformly
    // slow-but-steady host is NOT flagged (cross-round calib catches it)
    assert(Bench.poisonedPasses(Seq(0.3, 0.3, 0.3, 0.3), 3) == Seq.empty)
    // ratio exactly at NoiseRatio counts as contended (>=, like noisy)
    assert(Bench.poisonedPasses(Seq(0.1, 0.2, 0.1, 0.1), 3) == Seq(0, 1))
    // degenerate inputs: too few samples / non-positive walls
    assert(Bench.poisonedPasses(Seq(0.1, 0.1), 3) == Seq.empty)
    assert(Bench.poisonedPasses(Seq(0.1, 0.0, 0.1, 0.1), 3) == Seq.empty)
    // re-queued executions extend the series; only their own flanks count
    assert(Bench.poisonedPasses(Seq(0.1, 0.1, 0.3, 0.1, 0.1), 4) == Seq(1, 2))
  }

  test("calibration stats: upper median and max/min ratio") {
    assert(Bench.calibStats(Seq.empty) == (None, None))
    assert(Bench.calibStats(Seq(0.5)) == (Some(0.5), None))
    val (med, ratio) = Bench.calibStats(Seq(0.1, 0.4, 0.2, 0.1))
    assert(med.contains(0.2)) // sorted (0.1,0.1,0.2,0.4): upper median
    assert(ratio.exists(r => math.abs(r - 4.0) < 1e-9))
  }

  test("calibrate measures a fixed CPU workload, repeatably") {
    Bench.calibrate() // JIT warm, as main() does
    val a = Bench.calibrate()
    val b = Bench.calibrate()
    assert(a > 0.005 && a < 10.0, s"calibration wall $a implausible")
    // same workload back-to-back: within-JVM repeatability is the whole
    // point of the yardstick; 5x tolerance keeps this stable on any CI
    assert(math.max(a, b) / math.min(a, b) < 5.0, s"calib unstable: $a vs $b")
  }

  test("the full-map sidecar carries every query at 3 decimals, valid JSON") {
    val results = (1 to 120).map(i => f"q_$i%03d" -> i / 100.0).toMap
    val doc = Bench.renderFull(results, "/tmp/sf0.1",
      calib = Some(0.0843), flaky = Seq("q_007"))
    // never sheds: all queries present regardless of catalog size
    results.keys.foreach(k => assert(doc.contains("\"" + k + "\""), k))
    assert(doc.contains("\"q_120\": 1.200"))
    assert(doc.contains("\"n_queries\": 120"))
    assert(doc.contains("\"calib\": 0.084"))
    assert(doc.contains("\"flaky\": [\"q_007\"]"))
    assert(!doc.contains("\"noisy\""))
    assert(!doc.contains("\"errors\""))
    // structurally valid JSON (brace/bracket balance + parseable by the
    // same ujson-free check the driver effectively does: strict braces)
    assert(doc.count(_ == '{') == doc.count(_ == '}'))
    assert(doc.count(_ == '[') == doc.count(_ == ']'))
    // slowest-first ordering inside the queries map
    val i120 = doc.indexOf("\"q_120\"")
    val i001 = doc.indexOf("\"q_001\"")
    assert(i120 >= 0 && i001 > i120, "queries not sorted slowest-first")
  }

  test("regression gate: sidecar round-trips through parse + diff") {
    val prevResults = Map("q_fast" -> 0.050, "q_ok" -> 1.000,
      "q_bad" -> 4.000, "q_gone" -> 2.000)
    val doc = Bench.renderFull(prevResults, "/tmp/sf0.1", calib = Some(0.09))
    val prev = Bench.parseFullQueries(doc)
    // parse recovers every query wall (meta fields like "value" ride
    // along harmlessly — regressions() intersects by name)
    prevResults.foreach { case (k, v) =>
      assert(math.abs(prev(k) - v) < 1e-9, k)
    }
    val cur = Map(
      "q_fast" -> 0.120, // 2.4x but +0.07 s: under the floor, not flagged
      "q_ok" -> 1.100,   // +10%: under the ratio, not flagged
      "q_bad" -> 4.550,  // the round-9 shape: x1.14... under ratio
      "q_new" -> 9.000)  // no baseline: never flagged
    assert(Bench.regressions(prev, Map("q_bad" -> 5.000)) ==
      Seq(("q_bad", 4.000, 5.000)), "x1.25 +1.0s must flag")
    assert(Bench.regressions(prev, cur).isEmpty,
      "floor/ratio guards must hold")
    // worst-absolute-first ordering
    val multi = Bench.regressions(prev,
      Map("q_ok" -> 1.500, "q_bad" -> 6.000))
    assert(multi.map(_._1) == Seq("q_bad", "q_ok"))
  }

  test("a sidecar from a like host is a baseline: cpus recorded, ratio and floor kept") {
    val doc = Bench.renderFull(Map("q_a" -> 2.000, "q_b" -> 0.500),
      "/tmp/sf0.1", calib = Some(0.090), cpus = Some(8))
    assert(doc.contains("\"cpus\": 8"))
    // the integer meta field never reads as a query wall
    assert(!Bench.parseFullQueries(doc).contains("cpus"))
    // same cores, calib within the band either way
    assert(Bench.incomparable(doc, 8, Some(0.090)).isEmpty)
    assert(Bench.incomparable(doc, 8, Some(0.090 * 1.2)).isEmpty)
    assert(Bench.incomparable(doc, 8, Some(0.090 / 1.2)).isEmpty)
    val prev = Bench.parseFullQueries(doc)
    assert(Bench.regressions(prev, Map("q_a" -> 2.400, "q_b" -> 0.640)) ==
      Seq(("q_a", 2.000, 2.400)), "x1.2 +0.4 s flags; x1.28 +0.14 s does not")
  }

  test("a sidecar from another host is no baseline: cpus or calib outside the band") {
    val doc = Bench.renderFull(Map("q_a" -> 2.000), "/tmp/sf0.1",
      calib = Some(0.087), cpus = Some(8))
    // the recorded mismatch: an 8-core sidecar read by a 4-core run
    assert(Bench.incomparable(doc, 4, Some(0.087)).exists(_.contains("cpus 8 -> 4")))
    assert(Bench.incomparable(doc, 8, Some(0.187)).exists(_.contains("calib")))
    assert(Bench.incomparable(doc, 8, Some(0.060)).exists(_.contains("calib")))
    assert(Bench.incomparable(doc, 8, None).nonEmpty)
    // a sidecar written before cpus was recorded
    val old = Bench.renderFull(Map("q_a" -> 2.000), "/tmp/sf0.1",
      calib = Some(0.087))
    assert(Bench.incomparable(old, 8, Some(0.087)).exists(_.contains("no cpus")))
  }

  test("the line carries calib as provenance and noisy as a failure signal") {
    val line = Bench.renderLine(Map("q_x" -> 1.234), "/tmp/sf0.1",
      calib = Some(0.0843), noise = Some(3.21))
    assert(line.contains("\"calib\":0.084"))
    assert(line.contains("\"noisy\":3.2"))
    val clean = Bench.renderLine(Map("q_x" -> 1.234), "/tmp/sf0.1",
      calib = Some(0.0843), noise = None)
    assert(!clean.contains("\"noisy\""), "a clean run must not carry noisy")
  }
}
