package graft

import graft.operators.ConnectedComponents

/** Min-label propagation vs a driver-side union-find oracle on graph
  * shapes that stress it: long chains (diameter = rounds), rings,
  * stars, multi-component mixes, and the near-clique shape LSH dup
  * groups actually produce. Tests that pin round counts or loop
  * internals run with the driver union-find arm off
  * ([[SparkSpec.withoutDriverCollects]]), so they cannot silently move
  * to it.
  */
class ConnectedComponentsSpec extends SparkSpec {

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def check(edges: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    // BOTH arms: the default (small Long graphs take the round-11
    // driver fast path) and the forced distributed loop
    val got = ConnectedComponents.run(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got == unionFind(edges), s"edges=$edges (driver arm)")
    val dist = withoutDriverCollects {
      ConnectedComponents.run(edges.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
    }
    assert(dist == unionFind(edges), s"edges=$edges (distributed arm)")
  }

  test("chain, ring, star, and mixed components match union-find") {
    check(Seq((1L, 2L)))
    check((1L to 9L).map(i => (i, i + 1))) // chain: diameter 9
    check((1L to 9L).map(i => (i, i + 1)) :+ ((10L, 1L))) // ring
    check((2L to 8L).map(i => (1L, i))) // star
    check(Seq((5L, 3L), (3L, 9L), (20L, 21L), (22L, 21L), (40L, 41L)))
    // near-clique dup groups (the LSH shape) + chain bridging two ids
    check(Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L), (3L, 10L)))
  }

  test("label order is direction-independent") {
    import spark.implicits._
    val e = Seq((7L, 3L), (3L, 11L), (11L, 2L))
    val got = ConnectedComponents.run(e.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got.values.toSet == Set(2L) && got.keySet == Set(2L, 3L, 7L, 11L))
  }

  test("large-star/small-star matches union-find on every shape") {
    import spark.implicits._
    val shapes = Seq(
      Seq((1L, 2L)),
      (1L to 9L).map(i => (i, i + 1)), // chain
      (1L to 9L).map(i => (i, i + 1)) :+ ((10L, 1L)), // ring
      (2L to 8L).map(i => (1L, i)), // star
      Seq((5L, 3L), (3L, 9L), (20L, 21L), (22L, 21L), (40L, 41L)),
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L),
        (10L, 12L), (3L, 10L)))
    shapes.foreach { edges =>
      val (labels, _) =
        ConnectedComponents.runAlternating(edges.toDF("a", "b"), "a", "b")
      val got = labels.as[(Long, Long)].collect().toMap
      assert(got == unionFind(edges), s"edges=$edges")
    }
  }

  test("alternating CC does not stop at a multi-parent pseudo-forest") {
    import spark.implicits._
    // Regression: after one large-star/small-star round this graph
    // becomes {(3,1),(4,1),(3,2),(5,2)} — no node is both an edge head
    // and tail, but node 3 points at TWO roots, so a no-2-path-only
    // convergence test stops early, splitting one component into
    // {1,3,4} / {2,5} and emitting node 3 twice. The out-degree-1 half
    // of the convergence test forces another round.
    val edges = Seq((1L, 4L), (3L, 4L), (2L, 5L), (3L, 5L))
    val (labels, _) =
      ConnectedComponents.runAlternating(edges.toDF("a", "b"), "a", "b")
    val got = labels.as[(Long, Long)].collect()
    assert(got.length == 5, s"duplicate or missing node rows: ${got.toSeq}")
    assert(got.toMap == unionFind(edges))
    assert(got.forall(_._2 == 1L))
  }

  test("alternating CC matches union-find on seeded random graphs") {
    import spark.implicits._
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      val n = 24
      val edges = Seq.fill(20)(
        (rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1))
        .filter { case (a, b) => a != b }
      val (labels, _) =
        ConnectedComponents.runAlternating(edges.toDF("a", "b"), "a", "b")
      val got = labels.as[(Long, Long)].collect()
      assert(got.length == got.map(_._1).distinct.length,
        s"seed=$seed duplicate node rows")
      assert(got.toMap == unionFind(edges), s"seed=$seed edges=$edges")
    }
  }

  test("adaptive CC matches union-find on every shape without switching") {
    import spark.implicits._
    val shapes = Seq(
      Seq((1L, 2L)),
      (2L to 8L).map(i => (1L, i)), // star
      Seq((5L, 3L), (3L, 9L), (20L, 21L), (22L, 21L), (40L, 41L)),
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L),
        (10L, 12L), (3L, 10L)))
    shapes.foreach { edges =>
      val (labels, rounds) = withoutDriverCollects {
        ConnectedComponents.runAdaptive(edges.toDF("a", "b"), "a", "b")
      }
      val got = labels.as[(Long, Long)].collect().toMap
      assert(got == unionFind(edges), s"edges=$edges")
      // near-clique shapes converge inside the min-label budget, so the
      // adaptive path must be label-propagation only
      assert(rounds <= 6, s"edges=$edges rounds=$rounds")
    }
  }

  test("adaptive CC switches mid-flight on a chain and stays exact") {
    import spark.implicits._
    // A 60-node chain (min-label would need 59 rounds) PLUS two cliques
    // that collapse within the min-label budget: the switch must
    // contract by the partial labels and compose alternating labels
    // back through them, with already-collapsed components taking the
    // coalesce path.
    val chain = (100L until 159L).map(i => (i + 1, i))
    val cliques = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L))
    val edges = chain ++ cliques
    val (labels, rounds) = withoutDriverCollects {
      ConnectedComponents.runAdaptive(edges.toDF("a", "b"), "a", "b",
        switchAfter = 4)
    }
    val got = labels.as[(Long, Long)].collect()
    assert(got.length == got.map(_._1).distinct.length, "duplicate node rows")
    assert(got.toMap == unionFind(edges))
    assert(rounds > 4, s"expected a switch, rounds=$rounds")
  }

  test("10k-node path graph fed to the ADAPTIVE entry stays logarithmic") {
    import spark.implicits._
    val n = 10000L
    val path = (1L until n).map(i => (i + 1, i))
    val (labels, rounds) = withoutDriverCollects {
      ConnectedComponents.runAdaptive(path.toDF("a", "b"), "a", "b")
    }
    // switchAfter (6) min-label rounds + the SoCC'14 logarithmic bound
    // for the alternating phase on the contracted (still ~10k-node) path
    assert(rounds <= 6 + 16, s"rounds=$rounds")
    val got = labels.as[(Long, Long)].collect()
    assert(got.length == n)
    assert(got.forall(_._2 == 1L), s"bad labels: ${got.filter(_._2 != 1L).take(5).toSeq}")
  }

  test("incremental fold equals a full recompute on seeded random graphs") {
    import spark.implicits._
    // The maintenance identity: CC(all edges) == incremental(CC(old),
    // new) for ANY split — including splits whose second half merges
    // components learned from the first and introduces brand-new nodes.
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      val n = 30
      val edges = Seq.fill(26)(
        (rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1))
        .filter { case (a, b) => a != b }
      val (old, batch) = edges.partition { case (a, b) => (a + b) % 2 == 0 }
      val base = ConnectedComponents.runAdaptive(
        old.toDF("a", "b"), "a", "b")._1
      val got = ConnectedComponents.incremental(
          base, batch.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect()
      assert(got.length == got.map(_._1).distinct.length,
        s"seed=$seed duplicate node rows")
      assert(got.toMap == unionFind(edges), s"seed=$seed edges=$edges")
    }
  }

  test("a 50-fold in-memory chain of driver folds keeps a constant plan " +
      "depth and ends at the full recompute") {
    import spark.implicits._
    def depth(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
      1 + (p.children.map(depth) :+ 0).max
    val rnd = new scala.util.Random(50)
    val batches = Seq.fill(50)(Seq.fill(3)(
      (rnd.nextInt(120).toLong + 1, rnd.nextInt(120).toLong + 1)))
    val old = Seq((1L, 2L), (3L, 4L))
    var labels = ConnectedComponents.runAdaptive(old.toDF("a", "b"), "a", "b")._1
    val depths = batches.map { b =>
      labels = ConnectedComponents.incremental(labels, b.toDF("a", "b"), "a", "b")
      depth(labels.queryExecution.analyzed)
    }
    assert(depths.distinct.size == 1, depths)
    assert(labels.as[(Long, Long)].collect().toMap ==
      unionFind(old ++ batches.flatten))
  }

  test("incremental fold handles merges, new nodes, and repeated batches") {
    import spark.implicits._
    // batch 1 bridges two existing components AND brings an entirely
    // new component; batch 2 bridges the new component into the merged
    // one — chained folds must keep the min-reachable-id invariant
    val old = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
    val b1 = Seq((3L, 10L), (50L, 51L))
    val b2 = Seq((51L, 11L))
    val base = ConnectedComponents.runAdaptive(old.toDF("a", "b"), "a", "b")._1
    val after1 = ConnectedComponents.incremental(base, b1.toDF("a", "b"), "a", "b")
    val after2 = ConnectedComponents.incremental(after1, b2.toDF("a", "b"), "a", "b")
    assert(after1.as[(Long, Long)].collect().toMap == unionFind(old ++ b1))
    assert(after2.as[(Long, Long)].collect().toMap == unionFind(old ++ b1 ++ b2))
    // an EMPTY batch is the identity
    val same = ConnectedComponents.incremental(
      base, Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b")
    assert(same.as[(Long, Long)].collect().toMap == unionFind(old))
  }

  test("driver union-find path == distributed path (driver row cap)") {
    import spark.implicits._
    // under the driver row cap the fold runs union-find on the driver;
    // at cap 0 it takes the distributed preamble, and driverAltMap
    // declines too, so the contracted graph goes through runAdaptive.
    // Both must produce the identical min-reachable-id labeling — the
    // backfill shape cannot change results.
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(100 + seed)
      val n = 40
      val edges = Seq.fill(30)(
        (rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1))
        .filter { case (a, b) => a != b }
      val (old, batch) = edges.partition { case (a, b) => (a + b) % 2 == 0 }
      val base = ConnectedComponents.runAdaptive(
        old.toDF("a", "b"), "a", "b")._1
      val viaDriver = ConnectedComponents.incremental(
        base, batch.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      val viaCluster = withoutDriverCollects(ConnectedComponents.incremental(
        base, batch.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap)
      assert(viaDriver == viaCluster, s"seed=$seed")
      assert(viaDriver == unionFind(edges), s"seed=$seed vs oracle")
      // delta form too
      val dDriver = ConnectedComponents.incrementalDelta(
        base, batch.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      val dCluster = withoutDriverCollects(ConnectedComponents.incrementalDelta(
        base, batch.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap)
      assert(dDriver == dCluster, s"seed=$seed delta")
    }
  }

  test("a batch node appearing only in self-edges folds as a singleton") {
    import spark.implicits._
    // run() labels a self-edge-only node as its own singleton (its
    // minLabelLoop keeps self-edges); the fold must agree, so newNodes
    // derive from the UNFILTERED batch edge list — dedup generators
    // enforce a < b and never emit one, but the fold == full-recompute
    // identity must not depend on that
    val base = ConnectedComponents.runAdaptive(
      Seq((1L, 2L)).toDF("a", "b"), "a", "b")._1
    val folded = ConnectedComponents.incremental(
      base, Seq((7L, 7L), (2L, 3L)).toDF("a", "b"), "a", "b")
    assert(folded.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L))
    assert(ConnectedComponents.run(
        Seq((1L, 2L), (7L, 7L), (2L, 3L)).toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L))
    // and the delta form emits the singleton row too
    val delta = ConnectedComponents.incrementalDelta(
      base, Seq((7L, 7L)).toDF("a", "b"), "a", "b")
    assert(delta.as[(Long, Long)].collect().toMap == Map(7L -> 7L))
  }

  test("10k-node path graph converges in O(log n) rounds") {
    import spark.implicits._
    val n = 10000L
    // Adversarial for min-label propagation: diameter n-1, so run()
    // would need ~n rounds. Ids descend so the min (1) sits at one end.
    val path = (1L until n).map(i => (i + 1, i))
    val (labels, rounds) =
      ConnectedComponents.runAlternating(path.toDF("a", "b"), "a", "b")
    // SoCC'14 bound: rounds logarithmic in the longest path.
    // log2(10000) ≈ 13.3; observed well under 16 — pin with no slack
    // beyond that so a regression to linear behavior fails loudly.
    assert(rounds <= 16, s"rounds=$rounds")
    val got = labels.as[(Long, Long)].collect()
    assert(got.length == n)
    assert(got.forall(_._2 == 1L), s"bad labels: ${got.filter(_._2 != 1L).take(5).toSeq}")
  }
}
