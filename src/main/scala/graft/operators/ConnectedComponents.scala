package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Connected components over an undirected edge list — the cluster-
  * formation step after every pairwise dedup stage: LSH/SimHash/embed
  * pipelines emit near-dup PAIRS, but keep-one-per-group curation needs
  * the transitive closure (a~b, b~c ⇒ keep one of {a,b,c}).
  *
  * Algorithm: iterative minimum-label propagation. Every node starts
  * labeled with itself; each round joins labels across the symmetrized
  * edge list and keeps the per-node minimum; convergence when no label
  * shrinks. Rounds = graph diameter. Dup graphs are the favorable case:
  * LSH components are near-cliques (diameter 2–3), so the loop runs
  * 3–4 rounds of plain shuffle joins regardless of corpus size — each
  * round is one hash join + one aggregation on (id, label) pairs, no
  * driver-side data. For adversarial long-chain graphs,
  * [[runAlternating]] implements the alternating large-star/small-star
  * variant (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14), whose round count is logarithmic in the longest
  * path instead of linear — the per-round plan shape is the same
  * (shuffle joins + aggregations on the edge list, nothing
  * driver-side).
  *
  * Each round ends in an eager localCheckpoint: it truncates the
  * growing lineage (re-planning cost is quadratic in iteration count
  * otherwise) and doubles as the convergence-count action.
  */
object ConnectedComponents {

  /** Label every node of `edges` (pairs `aCol`, `bCol`) with the
    * minimum node id reachable from it. Returns (`id`, `component`).
    */
  def run(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 25): DataFrame = {
    val (labels, changed, _, _, release) =
      minLabelLoop(edges, aCol, bCol, maxIter)
    release()
    if (changed > 0)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds")
    labels.select(col("id"), col("label").as("component"))
  }

  /** The min-label propagation loop shared by [[run]] and
    * [[runAdaptive]]. Returns (labels `(id, label)`, 1/0 still-changing
    * after the last round, rounds executed, symmetrized+self-loop edge
    * list, release hook for the persisted inputs).
    *
    * Three deliberate cost moves, all prompted by profiling the cluster
    * queries (round-4 weak item):
    *  - the INPUT edge list is materialized once (persist + count)
    *    before symmetrizing — `e ∪ swap(e)` otherwise executes the
    *    (expensive: LSH + verify) upstream pipeline once per union
    *    branch inside the first materializing job;
    *  - self-loops on the symmetrized list fold the keep-own-label arm
    *    into the neighbor minimum, making each round ONE join + ONE
    *    aggregation (two exchanges) instead of join + agg + second
    *    left join (three);
    *  - convergence rides the round's own localCheckpoint action as an
    *    `observe`d exact decimal label-sum (labels only decrease, so an
    *    unchanged sum ⇔ no label changed) — one Spark job per round and
    *    no old-vs-new row comparison at all.
    */
  private def minLabelLoop(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int): (DataFrame, Long, Int, DataFrame, () => Unit) = {
    // persist + count, not localCheckpoint: the count materializes the
    // expensive upstream exactly once BEFORE the symmetrizing union
    // forks two consumers of it, and persist (unlike checkpoint blocks,
    // which only the ContextCleaner eventually reclaims) can be
    // released deterministically when the caller is done — repeated
    // cluster queries in one session must not accumulate edge-list
    // copies in executor storage
    val e = edges.select(col(aCol).as("src"), col(bCol).as("dst")).persist()
    val edgeCount = e.count()
    // Driver fast path (round 11): dup-pair graphs are usually TINY
    // relative to the corpus (the catalog's verified-pair lists are
    // thousands to low millions of edges even at sf10), and on such
    // graphs the iterative loop's per-round join + aggregation +
    // checkpoint chain is pure fixed cost. The edge list is already
    // materialized (persist + count above — the expensive upstream ran
    // exactly once either way), so when it is under the driver cap and
    // Long-typed, collect it from cache and label it with the same
    // min-label union-find the incremental fold uses; labels return as
    // a LocalRelation with changed = 0, so both [[run]] and
    // [[runAdaptive]] exit before any distributed round. Over-cap
    // graphs — the 100 TB shape — keep the distributed loop unchanged;
    // a driver cap of 0 forces it (ConnectedComponentsSpec pins
    // output equality across both arms).
    if (edgeCount <= graft.core.Tables.driverRowCap(edges.sparkSession) &&
        e.schema.fields.forall(_.dataType ==
          org.apache.spark.sql.types.LongType)) {
      val pairs = e.collect().map(r => (r.getLong(0), r.getLong(1)))
      val find = unionFind(pairs)
      val nodeSet = new java.util.LinkedHashSet[Long]()
      pairs.foreach { case (u, w) => nodeSet.add(u); nodeSet.add(w) }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](
        nodeSet.size)
      nodeSet.forEach(nId => out += ((nId, find(nId))))
      val spark = edges.sparkSession
      import spark.implicits._
      // sym slot: unused by every changed == 0 consumer (runAdaptive
      // contracts on it only when changed != 0); e keeps the slot typed
      return (out.toSeq.toDF("id", "label"), 0L, 1, e,
        () => { e.unpersist(); () })
    }
    val sym = e
      .unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()

    // self-loops fold the "keep own label" arm into the neighbor min:
    // label'(u) = min over (neighbors ∪ {u}) of label — ONE join + ONE
    // aggregation per round, where the self-loop-free form needed a
    // second (left) join against the old labels to apply least(own,
    // neighbors) and compute the change flag. Only the self-loop form
    // is persisted (it is a superset of sym; the contraction consumer
    // filters self-edges anyway).
    val nodes = sym.select(col("src").as("id")).distinct()
    val symSelf = sym
      .unionByName(nodes.select(col("id").as("src"), col("id").as("dst")))
      .persist()

    // Round 1 needs no label join: with label0(u) = u, the propagated
    // label is min(dst) over symSelf edges from u (self-loops make that
    // min(neighbors ∪ {u}) exactly) — a bare aggregation, saving the
    // identity-labeling checkpoint job the loop otherwise pays first.
    // Round 1 always counts as "changed": labels only decrease, so it
    // can only be a fixed point when every component is a singleton —
    // and then round 2 is a no-op pass over nodes-only rows that just
    // confirms convergence.
    // convergence via the label-sum: labels only ever DECREASE
    // per-node, so an unchanged (exact, decimal) sum across a round is
    // equivalent to no label having changed — and it rides the round's
    // own checkpoint action as an observed metric
    // ([[graft.core.Tables.checkpointObserved]]), no extra job and no
    // per-row old-vs-new comparison. Each checkpoint is eager: it
    // truncates lineage and materializes the round.
    def checkpointed(round: DataFrame): (DataFrame, Option[java.math.BigDecimal]) = {
      val (cp, s) = graft.core.Tables.checkpointObserved(
        round, sum(col("label").cast(DecimalType(38, 0))))
      (cp, Option(s).map(_.asInstanceOf[java.math.BigDecimal]))
    }
    var (labels, prevSum) = checkpointed(symSelf
      .groupBy(col("src")).agg(min(col("dst")).as("label"))
      .select(col("src").as("id"), col("label")))

    var changed = true
    var it = 1 // the pre-loop aggregation was propagation round 1
    while (changed && it < maxIter) {
      val (next, s) = checkpointed(
        symSelf.join(labels, symSelf("src") === labels("id"))
          .select(col("dst").as("nid"), col("label"))
          .groupBy(col("nid")).agg(min(col("label")).as("label"))
          .select(col("nid").as("id"), col("label")))
      changed = (prevSum, s) match {
        case (Some(a), Some(b)) => a.compareTo(b) != 0
        case (a, b) => a.isDefined != b.isDefined
      }
      prevSum = s
      labels = next
      it += 1
    }
    // labels is checkpoint-backed, so releasing the persisted inputs is
    // safe once the caller no longer derives anything from sym;
    // per-round checkpoint blocks of DROPPED rounds are reclaimed by
    // the ContextCleaner as their Datasets go out of scope
    val release = () => { symSelf.unpersist(); e.unpersist(); () }
    (labels, if (changed) 1L else 0L, it, symSelf, release)
  }

  /** Topology-adaptive connected components: min-label propagation
    * (optimal on the near-clique components dup pipelines produce —
    * diameter 2–3, so 3–4 rounds) that detects slow convergence and
    * switches to the O(log n)-round [[runAlternating]] mid-flight, so
    * an adversarial long-chain graph cannot drive the round count to
    * the graph diameter. The switch CONTRACTS the graph by the labels
    * learned so far — every edge (u,v) maps to (label(u), label(v)),
    * self-loops drop — and the alternating phase runs on the (strictly
    * smaller) contracted graph. Correctness of the composition: each
    * label is the id of some node in the same component with
    * label ≤ id, and the component's global minimum m always has
    * label(m) = m, so contracted components biject with original ones
    * and carry the same minimum; alternating labels the contraction
    * with that minimum, and final(u) = alt(label(u)) (coalesced to
    * label(u) for components the min-label phase already collapsed to
    * a single contracted node).
    *
    * Returns (labels `(id, component)` — identical to [[run]] —, total
    * rounds across both phases).
    */
  def runAdaptive(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      switchAfter: Int = 6,
      maxIter: Int = 40): (DataFrame, Int) = {
    val (labels, changed, rounds, sym, release) =
      minLabelLoop(edges, aCol, bCol, switchAfter)
    if (changed == 0) {
      release()
      (labels.select(col("id"), col("label").as("component")), rounds)
    } else {
      val la = labels.select(col("id").as("ia"), col("label").as("lsrc"))
      val lb = labels.select(col("id").as("ib"), col("label").as("ldst"))
      val contracted = sym
        .join(la, sym("src") === la("ia"))
        .join(lb, sym("dst") === lb("ib"))
        .select(col("lsrc").as("csrc"), col("ldst").as("cdst"))
        .filter(col("csrc") =!= col("cdst"))
        .distinct()
      val (alt, altRounds) =
        runAlternating(contracted, "csrc", "cdst", maxIter = maxIter)
      // runAlternating eagerly checkpointed the contracted edges, so
      // nothing downstream derives from sym/e anymore
      release()
      val aliased = alt.select(col("id").as("aid"), col("component").as("acomp"))
      val fin = labels.join(aliased, labels("label") === aliased("aid"), "left")
        .select(labels("id"),
          coalesce(col("acomp"), col("label")).as("component"))
      (fin, rounds + altRounds)
    }
  }

  /** Incrementally fold a batch of NEW edges into an EXISTING labeling
    * — the cluster-maintenance step a continuously-ingesting dedup
    * pipeline needs: signatures and codes already append per batch at
    * O(batch) ([[graft.sinks.IncrementalParquet]]), and recomputing the
    * closure over the whole corpus per batch would be the one remaining
    * O(corpus) stage. `labels` is a valid min-reachable-id labeling
    * (`id`, `component`) of the graph so far (from [[run]] /
    * [[runAdaptive]] / a previous call to this); `newEdges` is the
    * batch's pair list. Returns the labeling of the UNION graph,
    * identical to a full recompute (ConnectedComponentsSpec pins the
    * identity on random graphs, across multi-batch folds and
    * batch-introduced nodes).
    *
    * Shape: every new edge maps endpoints → their current component
    * (endpoints unseen so far enter as their own singleton component),
    * self-edges inside one component drop, and connected components
    * run on the CONTRACTED graph — whose size is bounded by the
    * batch's edge count, not the corpus. Correctness of the
    * composition is the [[runAdaptive]] contraction argument: each
    * existing component's label IS its minimum node id, so the minimum
    * over a merged group of component labels is the global minimum id
    * of the merged component. The final relabel join touches every
    * stored label row, but the contracted label map is batch-sized —
    * broadcast at scale, no shuffle of the corpus-sized side; a
    * deployment keeping labels in a partitioned table writes back only
    * rows whose component actually changed (`acomp` non-null and
    * different), an O(changed) upsert via the same partitioned-upsert
    * machinery the index tables use.
    */
  def incremental(
      labels: DataFrame,
      newEdges: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    def relabel(ext: DataFrame, altMap: DataFrame): DataFrame =
      ext.join(broadcast(altMap), ext("component") === altMap("aid"), "left")
        .select(ext("id"),
          coalesce(col("acomp"), ext("component")).as("component"))
    foldPieces(labels, newEdges, aCol, bCol) match {
      // the driver fold's pieces are driver data, so its relabel output
      // is collected and returned as a local relation: a caller folding
      // repeatedly in memory gets a constant plan depth instead of one
      // more relabel join over the whole chain per fold (an eager
      // checkpoint would truncate it too, with a materialization job
      // per fold — r17 JobProfile: 64 near-empty tasks). Labels
      // already on the driver relabel with no job at all.
      case LocalFold(lab, fresh, alt) =>
        val spark = lab.sparkSession
        import spark.implicits._
        val old = graft.core.Tables.localRows(lab) match {
          case Some(rows) => rows.map(r => (r.getLong(0), r.getLong(1)))
          case None => lab.as[(Long, Long)].collect().toSeq
        }
        (old ++ fresh.map(n => (n, n)))
          .map { case (id, c) => (id, alt.getOrElse(c, c)) }
          .toDF("id", "component")
      case DistFold(lab, newNodes, altMap, release) =>
        // localCheckpoint is eager: materialized before release fires
        try relabel(lab.unionByName(newNodes), altMap).localCheckpoint()
        finally release()
    }
  }

  /** The UPSERT form of [[incremental]]: only the rows a stored labels
    * table must write — batch-introduced nodes (with their folded
    * labels, which may be their own ids) and existing rows whose
    * component changed. Applying this delta over the old labels (new
    * rows inserted, changed rows' `component` replaced) yields exactly
    * [[incremental]]'s full output, so a continuously-maintained
    * labels table pays O(changed) writes per batch instead of
    * rewriting O(corpus) rows — the same cost shape as the index
    * tables' per-batch appends. A replay of an already-folded batch
    * produces an EMPTY delta (its edges contract to self-loops and its
    * nodes are all present), which is what makes at-least-once
    * delivery converge to exactly-once labels.
    */
  def incrementalDelta(
      labels: DataFrame,
      newEdges: DataFrame,
      aCol: String,
      bCol: String): DataFrame =
    foldPieces(labels, newEdges, aCol, bCol) match {
      case f: LocalFold => localDelta(f)
      case DistFold(lab, newNodes, altMap, release) =>
        try {
          val changedOld = lab.join(broadcast(altMap),
              lab("component") === altMap("aid"))
            .filter(col("acomp") =!= lab("component"))
            .select(lab("id"), col("acomp").as("component"))
          val fresh = newNodes
            .join(broadcast(altMap),
              newNodes("component") === altMap("aid"), "left")
            .select(newNodes("id"),
              coalesce(col("acomp"), newNodes("component")).as("component"))
          // localCheckpoint is eager: materialized before release fires
          changedOld.unionByName(fresh).localCheckpoint()
        } finally release()
    }

  /** [[incrementalDelta]] over the driver fold: the changed rows of
    * existing components come from ONE labels scan with the moved
    * component ids pushed as an exact `In` predicate (none moved — a
    * replayed batch — means no scan at all), the batch-new nodes map
    * through the relabel map on the driver, and the delta returns as a
    * LocalRelation: a caller persisting it writes driver rows, with no
    * join, broadcast build or exchange in front of the write.
    */
  private def localDelta(f: LocalFold): DataFrame = {
    val spark = f.lab.sparkSession
    val moved = f.alt.filter { case (c, m) => c != m }
    val changedOld =
      if (moved.isEmpty) Array.empty[(Long, Long)]
      else f.lab.filter(col("component").isInCollection(moved.keys.toSeq))
        .collect().map(r => (r.getLong(0), moved(r.getLong(1))))
    val fresh = f.fresh.map(n => (n, f.alt.getOrElse(n, n)))
    import spark.implicits._
    (changedOld.toSeq ++ fresh).toDF("id", "component")
  }

  /** The pieces [[foldPieces]] hands [[incremental]] /
    * [[incrementalDelta]]: existing labels, batch-introduced singleton
    * rows, and the contracted-component relabel map `(aid, acomp)`.
    */
  private sealed trait Fold

  /** The driver arm's pieces: the batch-new nodes and the relabel map
    * are plain driver data (the labels stay the caller's frame).
    */
  private final case class LocalFold(
      lab: DataFrame, fresh: Seq[Long], alt: Map[Long, Long]) extends Fold

  /** The distributed arm's pieces, with a release hook for the
    * persisted inputs — call it after materializing any derived output.
    */
  private final case class DistFold(
      lab: DataFrame, newNodes: DataFrame, altMap: DataFrame,
      release: () => Unit) extends Fold

  /** Shared core of [[incremental]] / [[incrementalDelta]]: the
    * contracted-component relabel map is built by running CC on the
    * batch-bounded contracted graph. The labels ∪ newNodes union is
    * NOT materialized here: the delta path never reads it whole (only
    * [[incremental]] does, and it derives the union itself), and
    * persisting + counting it was a per-trigger O(corpus)
    * scan-and-cache the maintenance loops paid for nothing.
    */
  private def foldPieces(
      labels: DataFrame,
      newEdges: DataFrame,
      aCol: String,
      bCol: String): Fold = {
    // self-edges are kept in e0 (node derivation) and dropped only for
    // contraction: a batch node appearing ONLY in self-edges must still
    // get a singleton label row, exactly as [[run]] (whose minLabelLoop
    // keeps self-edges too) would label it — dedup pair generators
    // enforce a < b and never emit one, but the fold == full-recompute
    // identity should not depend on that
    val pairs = newEdges.select(col(aCol).as("src"), col(bCol).as("dst"))
    val longOnly = (pairs.schema.fields ++ labels.schema.fields).forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    val cap = graft.core.Tables.driverRowCap(labels.sparkSession)
    // Streaming-cadence fast path: when the batch's edges fit the
    // driver row cap, the WHOLE fold preamble (batch nodes, seen
    // labels, contraction, min-label components) runs on driver-local
    // data with ONE Spark job — a pushed-`In` fetch of the touched
    // labels — instead of the distributed preamble's five-plus
    // (seen-label checkpoint, new-node checkpoint, contracted-CC
    // collect, broadcast builds). At a maintenance trigger's scale
    // every job is a visible slice of the wall; the fixed floor was
    // job count, not data. Edges that are already driver rows (the
    // verified pairs of a streaming batch) are read and deduplicated
    // in place; others are materialized and counted once first.
    val local =
      if (longOnly && pairs.schema.forall(!_.nullable))
        graft.core.Tables.localRows(pairs)
          .map(_.map(r => (r.getLong(0), r.getLong(1))).distinct)
      else None
    local match {
      case Some(es) if es.size <= cap => return foldPiecesDriver(labels, es)
      case _ => ()
    }
    val e0 = pairs.distinct().persist()
    val e = e0.filter(col("src") =!= col("dst"))
    val release = () => { e0.unpersist(); () }
    try {
      // materialize the (possibly expensive) pair stage once — the
      // count also gates the driver fast path below, so the over-cap
      // arm never pays a wasted partial collect and the under-cap arm
      // collects straight from cache
      val edgeCount = e0.count()
      if (longOnly && edgeCount <= cap) {
        val es = e0.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        release()
        return foldPiecesDriver(labels, es)
      }
      val lab = labels.select(col("id"), col("component"))
      // ONE broadcast-semi probe of the corpus-sized labels fetches the
      // (id, component) rows of every batch-incident node — a
      // batch-bounded result the REST of the fold preamble runs on, so
      // the corpus is scanned exactly once here and exchanged never:
      //  - new nodes = batch nodes minus the probed ids (an anti join
      //    between two batch-bounded sets — a broadcast left-anti
      //    against the corpus would have to build the corpus side);
      //  - the contraction joins the batch edges against the probed
      //    labels, broadcast-tiny on both sides.
      val batchNodes = e0.select(col("src").as("id"))
        .unionByName(e0.select(col("dst").as("id")))
        .distinct()
      val seenLab = lab
        .join(broadcast(batchNodes), Seq("id"), "left_semi")
        .localCheckpoint() // batch-bounded; consumed by anti + both
                           // contraction sides — one corpus scan total
      // batch-bounded (anti join between two batch-bounded sets);
      // localCheckpoint so its two consumers (the contraction's
      // `touched` side and the caller's fresh-rows derivation) never
      // recompute the probe
      val newNodes = batchNodes
        .join(broadcast(seenLab.select(col("id"))), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("component"))
        .localCheckpoint()
      // every batch-incident node's label, batch-bounded by
      // construction (probed existing labels + fresh singletons)
      val touched = seenLab.unionByName(newNodes)
      val la = touched.select(col("id").as("ia"), col("component").as("ca"))
      val lb = touched.select(col("id").as("ib"), col("component").as("cb"))
      val contracted = e
        .join(broadcast(la), e("src") === col("ia"))
        .join(broadcast(lb), e("dst") === col("ib"))
        .select(col("ca").as("u"), col("cb").as("w"))
        .filter(col("u") =!= col("w"))
        .distinct()
      // the contracted graph is batch-bounded; at streaming cadence it
      // is DRIVER-SIZED, and the iterative CC's multi-round job chain
      // (persist/count per round) was the single largest fixed cost of
      // a maintenance trigger (~2.5 s of a ~7 s tiny trigger, SCALING.md
      // round 10, "Per-trigger job profile"). Union-find on the collected edge list produces the
      // identical min-label result in one collect + one parallelize;
      // over-cap (backfill) graphs keep the log-round distributed path.
      val altMap = driverAltMap(contracted).getOrElse {
        val (alt, _) = runAdaptive(contracted, "u", "w")
        alt.select(col("id").as("aid"), col("component").as("acomp"))
      }
      // e0 stays persisted until release: a caller's derived frames may
      // still reference it. A failing session must not accumulate
      // edge-list copies in executor storage, so the throw path
      // releases too.
      DistFold(lab, newNodes, altMap, release)
    } catch { case t: Throwable => release(); throw t }
  }

  /** Union-find min-label over a driver-local edge list — the shared
    * core of [[driverAltMap]] and [[foldPiecesDriver]]: returns a
    * find() whose fixed point labels every node the minimum id
    * reachable from it (unions always point larger → smaller, so roots
    * ARE component minima).
    */
  private def unionFind(edges: Array[(Long, Long)]): Long => Long = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { // path halving
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp)
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    edges.foreach { case (u, w) =>
      val (ru, rw) = (find(u), find(w))
      if (ru != rw) parent.put(math.max(ru, rw), math.min(ru, rw))
    }
    find
  }

  /** The driver-side fast path of [[foldPieces]]: over the batch's
    * distinct driver-held edges (the caller gated on
    * [[graft.core.Tables.driverRowCap]] and on Long id columns), fetch
    * the labels of exactly the batch-incident nodes with one
    * pushed-`In` scan, then run contraction + min-label union-find on
    * plain driver data. The
    * pieces are row-identical to the distributed preamble's —
    * `ConnectedComponentsSpec`/`ClusterMaintenanceSpec` pin
    * fold == full-recompute across both arms.
    */
  private def foldPiecesDriver(
      labels: DataFrame, edges: Seq[(Long, Long)]): LocalFold = {
    // batch nodes — self-edge-only nodes included (they still need a
    // singleton label row, matching the distributed path's e0)
    val nodeSet = new java.util.LinkedHashSet[Long]()
    edges.foreach { case (u, w) => nodeSet.add(u); nodeSet.add(w) }
    val nodes = new Array[Long](nodeSet.size)
    var i = 0
    nodeSet.forEach { n => nodes(i) = n; i += 1 }
    val lab = labels.select(col("id"), col("component"))
    // ONE scan fetches the (id, component) rows of every batch-incident
    // node: the id set is pushed into the labels read as an exact `In`
    // predicate (the driver mirror of the old broadcast-semi probe)
    val seen: java.util.HashMap[Long, Long] = {
      val m = new java.util.HashMap[Long, Long]()
      if (nodes.nonEmpty)
        lab.filter(col("id").isInCollection(nodes.toSeq))
          .collect().foreach(r => m.put(r.getLong(0), r.getLong(1)))
      m
    }
    def comp(n: Long): Long = seen.getOrDefault(n, n)
    // contraction: endpoints → current components; in-component edges
    // drop as self-loops exactly like the distributed contraction
    val contracted = edges.collect {
      case (u, w) if u != w && comp(u) != comp(w) => (comp(u), comp(w))
    }.toArray
    val find = unionFind(contracted)
    val alt = contracted.iterator.flatMap { case (u, w) => Iterator(u, w) }
      .map(n => n -> find(n)).toMap
    LocalFold(lab, nodes.filterNot(seen.containsKey).toSeq, alt)
  }

  /** Min-label components of a BATCH-BOUNDED contracted graph computed
    * driver-side — `(aid, acomp)` rows identical to
    * `runAdaptive(contracted).select(id, component)`: union-find over
    * the collected edges, each node labeled the minimum id reachable
    * from it. Engaged only when both columns are LongType and the edge
    * list is under [[graft.core.Tables.driverRowCap]]; `None` otherwise (the
    * distributed path recomputes `contracted` from its persisted inputs — two
    * broadcast joins, no corpus work).
    */
  private def driverAltMap(contracted: DataFrame): Option[DataFrame] = {
    if (!contracted.schema.fields.forall(_.dataType ==
        org.apache.spark.sql.types.LongType)) return None
    val cap = graft.core.Tables.driverRowCap(contracted.sparkSession)
    val rows = contracted.limit(cap + 1).collect()
    if (rows.length > cap) return None
    val edges = rows.map(r => (r.getLong(0), r.getLong(1)))
    // find(x) IS the min-label: roots are component minima by
    // construction ([[unionFind]])
    val find = unionFind(edges)
    val nodes = new java.util.HashSet[Long]()
    edges.foreach { case (u, w) => nodes.add(u); nodes.add(w) }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](nodes.size)
    nodes.forEach(n => out += ((n, find(n))))
    val spark = contracted.sparkSession
    import spark.implicits._
    Some(out.toSeq.toDF("aid", "acomp"))
  }

  /** Large-star: per node u over the symmetrized edge list, link every
    * STRICTLY LARGER neighbor to m = min(Γ(u) ∪ {u}). Self-loops drop;
    * output is deduplicated.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .select(col("src").as("u"), least(col("src"), col("mn")).as("m"))
    sym.join(mins, sym("src") === mins("u"))
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Small-star: orient every edge large→small; per node u, link u and
    * all its (smaller) neighbors to m = min(N(u) ∪ {u}).
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val or = e.select(greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst"))
    val mins = or.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .select(col("src").as("u"), col("mn").as("m"))
    or.join(mins, or("src") === mins("u"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .unionByName(mins.select(col("u").as("src"), col("m").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Alternating large-star/small-star (Kiveris et al., SoCC'14) — the
    * adversarial-graph path: round count is logarithmic in the longest
    * path (ConnectedComponentsSpec pins ≤16 rounds on a 10k-node path
    * graph, where [[run]] would need 10k label-propagation rounds).
    * Mins only ever decrease, so the fixed point is a star forest with
    * every component's nodes pointing at its minimum id; convergence is
    * detected structurally — the edge set is a star forest iff every
    * tail has out-degree exactly 1 AND no 2-edge path exists (the
    * first alone misses chains; the second alone misses a node
    * pointing at two different roots, which still has merging to do) —
    * so one aggregation and one (dst = src) self-join per round answer
    * "converged?" without comparing edge multisets. Per round: three
    * aggregations + three joins on the (shrinking) edge list, one
    * localCheckpoint to truncate lineage — no driver-side data ever.
    *
    * Returns (labels `(id, component)`, rounds). Labels match [[run]]
    * exactly (component = min reachable id); like [[run]], only nodes
    * incident to at least one non-self edge appear.
    */
  def runAlternating(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 40): (DataFrame, Int) = {
    // materialize FIRST, derive nodes from the checkpointed copy: the
    // caller's edge plan can be expensive (the maintenance fold hands
    // in a contracted graph built from two corpus-side joins), and an
    // un-checkpointed `nodes` would evaluate it a second time. distinct
    // drops no endpoints, so the node set is identical either way.
    val e1 = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()
    val nodes = e1.select(col("src").as("id"))
      .unionByName(e1.select(col("dst").as("id")))
      .distinct()
      .localCheckpoint()

    var e = e1
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxIter) {
      val next = smallStar(largeStar(e)).localCheckpoint()
      rounds += 1
      // Fixed point ⇔ the edge set is a star forest: every tail has
      // exactly ONE head (out-degree 1 — a node pointing at two
      // different roots still has merging to do) and no head is itself
      // a tail (no 2-edge path — a chain still has hops to collapse).
      // Both are cheap actions on the checkpointed edge list; at a
      // star forest both operators are the identity, so stopping here
      // is exact, not heuristic.
      val deg = next.agg(count(lit(1)), count_distinct(col("src"))).collect()(0)
      converged = deg.getLong(0) == deg.getLong(1) &&
        next.alias("a")
          .join(next.alias("b"), col("a.dst") === col("b.src"))
          .isEmpty
      e = next
    }
    if (!converged)
      throw new IllegalStateException(
        s"alternating connected components did not converge in $maxIter rounds")
    val comp = e.select(col("src").as("id"), col("dst").as("component"))
    val labels = nodes.join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    (labels, rounds)
  }
}
