package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, graftbridge}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{
  BindReferences, Expression, In, Literal, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.trees.{TreeNode, TreeNodeTag}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** Loader for the analytics corpus (repo:TESTDATA.md): one parquet file
  * per table under a scale-factor directory.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // The events table carries INT64 TIMESTAMP(NANOS) — a parquet type
    // Spark doesn't model (SPARK-40819). Read nanos as long, then
    // normalize to TimestampType at microsecond precision (`div` keeps
    // the arithmetic in exact integer space; a double division would
    // lose precision above 2^53 ns). DuckDB's CAST(ts_ns AS TIMESTAMP)
    // truncates identically, so oracle parity holds.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = parquetCachedSchema(spark, s"$sfDir/$name.parquet")
    df.schema.fields.filter(f => f.name == "ts" && f.dataType == LongType)
      .foldLeft(df)((d, f) =>
        d.withColumn(f.name, timestamp_micros(expr(s"${f.name} div 1000"))))
  }

  /** Inferred-schema cache for parquet reads of stable-schema tables —
    * the corpus tables and the engine's stored derived-state tables.
    * `spark.read.parquet(path)` pays a footer-read JOB per call for
    * schema inference; at the warm-serve job-count floor (round 11/12:
    * tiny-input walls are jobs × fixed overhead, not data) that one
    * job is a measurable slice of EVERY catalog query's wall. The
    * cache validates against the top-level FileStatus (len + mtime),
    * so an in-place rewrite of a table file re-infers. Appends INSIDE
    * an existing partition dir can leave the top-level mtime unchanged
    * and hit the cache — safe here by construction: every stored table
    * kind in this engine has a fixed per-path schema (appends and
    * compaction never alter columns), and SCHEMA is all the cache
    * holds; file listings and data reads always run fresh. One entry
    * per PATH (the status key is stored in the value and replaced when
    * it drifts): keying the map by path+status would insert a fresh
    * entry on every compaction/overwrite that touches the top-level
    * mtime and never evict the stale one — a slow driver-side leak
    * over a long-lived maintenance loop's hundreds of firings.
    * Residual risk (shared with IncrementalParquet's note cache): a
    * same-length rewrite within one mtime tick on a coarse-granularity
    * filesystem is invisible to the (len, mtime) key — harmless here
    * because rewrites of a stored table never change its schema, which
    * is all this cache holds.
    */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, org.apache.spark.sql.types.StructType)]()

  def parquetCachedSchema(spark: SparkSession, path: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val statusKey = s"${st.getLen}:${st.getModificationTime}"
    val cached = schemaCache.get(path)
    if (cached != null && cached._1 == statusKey)
      spark.read.schema(cached._2).parquet(path)
    else {
      val df = spark.read.parquet(path)
      schemaCache.put(path, (statusKey, df.schema))
      df
    }
  }

  /** The bucket id the incremental writers assign to `value` —
    * computed via the SAME plan-side expression (pmod∘hash) they use,
    * evaluated on a 1-row frame, so a driver-side reimplementation can
    * never drift from the stored layout.
    */
  def hashBucket(spark: SparkSession, value: String, n: Int): Int =
    spark.range(1).select(pmod(hash(lit(value)), lit(n))).head.getInt(0)

  /** The distinct values of `values`' single string column together
    * with their writer-side bucket ids — THE one implementation of
    * the collect-for-literal-pushdown idiom every stored-index serve
    * uses (bm25 literal arm, phrase serves, relevance model): bucket
    * ids come from the SAME plan-side expression the incremental
    * writers use (pmod∘hash), evaluated in ONE job over the
    * (driver-sized by construction) value frame, so a serve-side
    * reimplementation can never drift from the stored layout.
    */
  def valueBuckets(values: DataFrame, n: Int): (Seq[String], Seq[Int]) = {
    // values already ON the driver (a LocalRelation — the localized
    // query sides since r17) take the job-free arm: same expression,
    // eagerly evaluated — an interactive serve's bucket derivation
    // must not cost a scheduler round trip (the job-floor lesson)
    localStrings(values) match {
      case Some(vs) => valueBucketsLocal(vs, n)
      case None =>
        val c = col(values.columns.head)
        val rows = values.select(c.as("v"), pmod(hash(c), lit(n)).as("bkt"))
          .distinct().collect()
        (rows.map(_.getString(0)).toSeq.distinct,
          rows.map(_.getInt(1)).toSeq.distinct)
    }
  }

  /** [[valueBuckets]] for values ALREADY on the driver: the SAME
    * plan-side expression (pmod∘hash) the incremental writers use,
    * eagerly evaluated (its children are Literals, so it is resolved
    * and needs no row) — bit-identical bucket ids with NO Spark job.
    */
  def valueBucketsLocal(values: Seq[String], n: Int): (Seq[String], Seq[Int]) = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, Pmod}
    val vs = values.distinct
    // the very expression `pmod(hash(v), n)` resolves to — Murmur3Hash
    // (seed 42) under Pmod — constructed resolved so it evals eagerly
    val bkts = vs.map(v =>
      Pmod(new Murmur3Hash(Seq(Literal.create(v, StringType))), Literal(n))
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        .asInstanceOf[Int]).distinct
    (vs, bkts)
  }

  /** The single string column of a frame whose OPTIMIZED plan is a
    * LocalRelation, extracted without running a job (the optimizer
    * collapses Project-over-LocalRelation, so `select` of one column
    * of a localized frame qualifies); None for distributed frames —
    * callers then fall back to the plan-side derivation.
    */
  private def localStrings(df: DataFrame): Option[Seq[String]] =
    localRows(df).filter(_ => df.schema.fields.map(_.dataType).toSeq ==
        Seq(org.apache.spark.sql.types.StringType))
      .map(_.map(r => Option(r.getUTF8String(0)).map(_.toString).orNull))

  /** The rows of a frame whose OPTIMIZED plan is a LocalRelation (a
    * driver-built frame, or a Project/Filter over one, which the
    * optimizer's `ConvertToLocalRelation` evaluates in place), read as
    * Catalyst rows in the frame's column order without a Spark job;
    * None for distributed frames.
    */
  def localRows(df: DataFrame): Option[Seq[org.apache.spark.sql.catalyst.InternalRow]] =
    df.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        Some(lr.data)
      case _ => None
    }

  /** The rows of `df`. A projection of a local relation (a bound query
    * side) is evaluated on the driver by its analyzed expressions, as
    * the optimizer's `ConvertToLocalRelation` would evaluate it, with
    * no optimizer, physical plan or job; any other frame is collected.
    */
  def collectLocal(df: DataFrame): Array[Row] = {
    val local = df.queryExecution.analyzed match {
      case Project(list, r: LocalRelation) if list.forall(_.deterministic) =>
        Some((list.map(BindReferences.bindReference(_: Expression, r.output)), r))
      case _ => None
    }
    local.filterNot(_._1.exists(_.exists(_.isInstanceOf[Unevaluable]))) match {
      case Some((exprs, r)) =>
        val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
        r.data.map(in => toRow(InternalRow.fromSeq(exprs.map(_.eval(in))))
          .asInstanceOf[Row]).toArray
      case None => df.collect()
    }
  }

  /** Rows a driver-side collect may hold before its caller takes the
    * distributed arm (the dedup maintainer's batch-bounded frames, the
    * connected-components edge lists): 1M rows, ≈ 16 MB of long pairs,
    * the size class of the broadcast the caller would otherwise build
    * from them. `0` sends every capped collect to its distributed arm.
    */
  private[graft] def driverRowCap(spark: SparkSession): Int =
    spark.conf.get(DriverRowCapKey, (1 << 20).toString).toInt

  private[graft] val DriverRowCapKey = "graft.driver.rowCap"

  /** The execution shape of one request's plan. Every Spark job costs a
    * scheduler round trip, and AQE runs each exchange and broadcast of
    * a plan as a job of its own, so an interactive request over a few
    * hundred KB of pruned index paid ~10 jobs for data one task reads
    * in milliseconds. In the [[Tier.OnePartition]] tier every leaf is
    * one partition and every join a shuffle-hash join of one-partition
    * sides, so Spark plans no exchange and no broadcast and the whole
    * request runs as ONE job. The other tiers are the distributed
    * shapes: [[Tier.Broadcast]] broadcasts the driver-sized join sides
    * (the interactive shape above the one-task bound), [[Tier.Planner]]
    * leaves every side to the planner (the bulk-query shape, whose
    * query side may outgrow a broadcast).
    */
  sealed abstract class Tier(val onePartition: Boolean) {
    /** A leaf of the request: one partition in the one-partition tier,
      * as-is otherwise. The shuffle-hash hint keeps the planner from
      * broadcasting a one-partition join side (a broadcast is a job).
      */
    def leaf(df: DataFrame): DataFrame =
      if (onePartition) df.coalesce(1).hint("shuffle_hash") else df
    /** A driver-sized side of an equi-join. */
    def small(df: DataFrame): DataFrame
    /** The driver-sized side of a theta join (no equi key): in the
      * one-partition tier a CartesianProduct side, which over two
      * one-partition sides runs as one task.
      */
    def cross(df: DataFrame): DataFrame
    /** Exactly one partition in the one-partition tier, unhinted: a
      * theta-join side, or a join's output that feeds another join or
      * comes out of a full-outer or theta join. Spark skips the
      * exchanges of a join only when every child is exactly
      * SinglePartition; an inner shuffle-hash join reports a
      * PartitioningCollection (enough for a window or an aggregate, not
      * for the next join), a full-outer or cartesian one an
      * UnknownPartitioning. Each coalesce also ends a
      * whole-stage-codegen stage, so it goes only where needed.
      */
    def single(df: DataFrame): DataFrame =
      if (onePartition) df.coalesce(1) else df
  }

  object Tier {
    case object OnePartition extends Tier(true) {
      def small(df: DataFrame): DataFrame = leaf(df)
      def cross(df: DataFrame): DataFrame =
        df.coalesce(1).hint("shuffle_replicate_nl")
    }
    case object Broadcast extends Tier(false) {
      def small(df: DataFrame): DataFrame = broadcast(df)
      def cross(df: DataFrame): DataFrame = broadcast(df)
    }
    case object Planner extends Tier(false) {
      def small(df: DataFrame): DataFrame = df
      def cross(df: DataFrame): DataFrame = df
    }
  }

  /** The tier of one request, picked once from its leaves (the
    * partition-pruned index scans and the local query relations): the
    * sum of their optimized-plan size estimates against
    * `spark.sql.files.maxPartitionBytes`, Spark's own bound on the bytes
    * one task reads. A request within it runs in
    * [[Tier.OnePartition]]; one above it keeps the distributed
    * [[Tier.Broadcast]] shape.
    */
  def tier(leaves: DataFrame*): Tier =
    tierOf(leaves.head.sparkSession, leaves.map(leafBytes).sum)

  private def leafBytes(leaf: DataFrame): BigInt =
    leaf.queryExecution.optimizedPlan.stats.sizeInBytes

  private def tierOf(spark: SparkSession, bytes: BigInt): Tier = {
    val bound = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes"))
    if (bytes <= bound) Tier.OnePartition else Tier.Broadcast
  }

  /** A request body written once against [[Tier]]: its leaves, and its
    * plan over whichever tier the leaves pick. A caller that serves
    * several bodies in one request (hybrid search's two arms) picks
    * one tier from all their leaves.
    */
  final case class Served(leaves: Seq[DataFrame], plan: Tier => DataFrame) {
    def run: DataFrame = plan(tier(leaves: _*))
  }

  // ------------------------------------------------------------------
  // Prepared serves. Building a request's DataFrame step by step costs
  // tens of milliseconds of driver time per request: every step
  // re-analyzes the growing plan, and every parquet read resolves its
  // data source and lists its files again. A served entry's plan has
  // the same shape for every request over one index generation; only
  // the query's values differ. So the body is built once per (entry,
  // tier, generation) with its query values in marked SLOTS, its
  // analyzed plan is kept as the template, and each later request
  // binds its own values into the template's slots. The optimizer and
  // the physical planner still run per request, over the bound plan.
  // ------------------------------------------------------------------

  /** One request's values for the slots of a body ([[Request]]): the
    * driver rows of its query relations, with their schemas, and the
    * literal lists of its pruned scans, each by slot name.
    */
  final case class Bindings(
      rows: Map[String, (StructType, Seq[Row])] = Map.empty,
      values: Map[String, Seq[Any]] = Map.empty) {
    def ++(o: Bindings): Bindings = Bindings(rows ++ o.rows, values ++ o.values)
  }

  /** The mark of a slot node: a query relation or a literal `In`. */
  private val SlotTag = TreeNodeTag[String]("graftSlot")

  private def slotOf(n: TreeNode[_]): Option[String] = n.getTagValue(SlotTag)

  /** The slots of a body over one request's [[Bindings]]: each builds
    * the request's value as a plan node marked with the slot's name, so
    * a later request's values bind into the same node of the analyzed
    * plan by that mark (the analyzer renames and wraps, but keeps
    * marks). A body built over `Slots` directly, outside a
    * [[Prepared]] request, is an ordinary fresh build.
    */
  final class Slots(spark: SparkSession, b: Bindings) {
    private[Tables] val used = scala.collection.mutable.Set.empty[String]
    private[Tables] var reusable = true

    /** `df`'s rows, collected while the body is built. The body's plan
      * then holds request rows outside any slot, so it is never kept
      * as a template.
      */
    def collect(df: DataFrame): Array[Row] = {
      reusable = false
      df.collect()
    }

    /** The query relation `name`: this request's rows. */
    def rows(name: String): DataFrame = {
      val (schema, rs) = b.rows(name)
      val rel = LocalRelation.fromExternalRows(DataTypeUtils.toAttributes(schema), rs)
      rel.setTagValue(SlotTag, name)
      used += name
      graftbridge.ofRows(spark, rel)
    }

    /** `c IN (this request's values of slot `name`)` — a pruning
      * predicate of a stored-index scan.
      */
    def isin(c: Column, name: String): Column = {
      val in = In(graftbridge.expression(c), b.values(name).map(Literal(_)))
      in.setTagValue(SlotTag, name)
      used += name
      graftbridge.column(in)
    }
  }

  /** A kept template: per tier, the analyzed plan of the body; and the
    * profile of its leaves, valid while `token` equals the request's.
    */
  private final class Template(val token: AnyRef) {
    @volatile var profile: LeafProfile = _
    val plans = new java.util.concurrent.ConcurrentHashMap[Tier, LogicalPlan]()
  }

  /** The leaf bytes of a body per request, without the optimizer: the
    * stored leaves' size estimate is fixed within a generation (a
    * literal `In` does not change the estimate of a path-based scan),
    * and a query relation's grows with its rows by its row width — the
    * two numbers [[tier]] sums from the optimized leaves.
    */
  private final case class LeafProfile(fixed: BigInt, perRow: Seq[(String, BigInt)])

  /** One template per key: a changed token replaces it, so the map
    * holds no stale generation.
    */
  private val templates = new java.util.concurrent.ConcurrentHashMap[String, Template]()

  /** Templates kept at most: keys carry caller dials (MMR's λ, ANN's
    * nprobe), so a dial sweep would grow the map without bound. A new
    * key past the cap drops them all. One pass over the five search
    * entries keeps 6 keys per corpus.
    */
  private[graft] val MaxTemplates = 64

  /** Forget every template: each entry's next request builds fresh. */
  private[graft] def dropTemplates(): Unit = templates.clear()

  private[graft] def templateCount: Int = templates.size

  /** A served body prepared for one request: its tier and its plan in
    * any tier, from the template when one is kept, else built fresh
    * (and kept, when every slot the body used survived analysis).
    * Made by [[Request.prepare]].
    */
  final class Prepared private[Tables] (spark: SparkSession, key: String,
      token: AnyRef, b: Bindings, body: Slots => Served) {
    private lazy val template = {
      if (templates.size >= MaxTemplates && !templates.containsKey(key)) dropTemplates()
      templates.compute(key, (_, t) =>
        if (t != null && t.token == token) t else new Template(token))
    }
    private lazy val fresh: (Slots, Served) = {
      val sl = new Slots(spark, b)
      (sl, body(sl))
    }

    /** The request's tier: the template's leaf profile over this
      * request's row counts (the profile is taken once per template,
      * from the first request's optimized leaves).
      */
    lazy val tier: Tier = {
      val t = template
      if (t.profile == null) t.profile = profileOf(fresh._2.leaves)
      tierOf(spark, t.profile.fixed +
        t.profile.perRow.map { case (n, w) => w * b.rows(n)._2.size }.sum)
    }

    /** The request's plan in `tier`. */
    def plan(tier: Tier): DataFrame = template.plans.get(tier) match {
      case null =>
        val (sl, served) = fresh
        val df = served.plan(tier)
        val analyzed = df.queryExecution.analyzed
        if (sl.reusable && bindable(analyzed, sl.used.toSet))
          template.plans.putIfAbsent(tier, analyzed)
        df
      case p => graftbridge.ofRows(spark, bind(p))
    }

    def run: DataFrame = plan(tier)

    /** `p` with this request's rows and values in its slots. */
    private def bind(p: LogicalPlan): LogicalPlan =
      p.transformUp {
        case r: LocalRelation if slotOf(r).isDefined =>
          LocalRelation.fromExternalRows(r.output, b.rows(slotOf(r).get)._2)
      }.transformAllExpressions {
        case in: In if slotOf(in).isDefined =>
          in.copy(list = b.values(slotOf(in).get)
            .map(v => Literal.create(v, in.value.dataType)))
      }
  }

  /** A served request before preparation: its `body` over slots, the
    * `bindings` of this request, the `key` naming the entry and
    * whatever fixes its plan's shape (stored dirs, dials), and the
    * `generation` of the stored state its plan reads
    * ([[graft.sinks.IncrementalParquet.generation]], a corpus
    * fingerprint).
    */
  final case class Request(key: String, generation: Any, bindings: Bindings,
      body: Slots => Served) {
    /** This request over its entry's template. The template also
      * follows the session and its conf (the analyzer folds conf, such
      * as ANSI mode, into the plan).
      */
    def prepare(spark: SparkSession): Prepared = new Prepared(spark, key,
      (spark, generation, spark.conf.getAll), bindings, body)

    /** The body's plan followed by `f` in every tier; `name` tells the
      * templates apart.
      */
    def map(name: String)(f: DataFrame => DataFrame): Request =
      Request(s"$key|$name", generation, bindings, sl => {
        val b = body(sl)
        Served(b.leaves, t => f(b.plan(t)))
      })

    /** Two requests served as one: both bodies' leaves, and `f` over
      * both plans in the one tier they pick together. Their slot names
      * must differ.
      */
    def zip(o: Request, name: String)(
        f: (DataFrame, DataFrame, Tier) => DataFrame): Request =
      Request(s"$key+${o.key}|$name", (generation, o.generation),
        bindings ++ o.bindings, sl => {
          val (a, b) = (body(sl), o.body(sl))
          Served(a.leaves ++ b.leaves, t => f(a.plan(t), b.plan(t), t))
        })
  }

  /** Whether a fresh plan can serve as a template: every slot the body
    * used is still marked in it, outside subqueries (where binding
    * reaches), and every marked `In` lists literals of its column's
    * type (binding replaces exactly those).
    */
  private def bindable(p: LogicalPlan, used: Set[String]): Boolean = {
    val rels = p.collect { case r: LocalRelation => slotOf(r) }.flatten
    val ins = p.flatMap(_.expressions)
      .flatMap(_.collect { case in: In if slotOf(in).isDefined => in })
    ins.forall(in => in.list.forall(l =>
      l.isInstanceOf[Literal] && l.dataType == in.value.dataType)) &&
      used.subsetOf((rels ++ ins.flatMap(slotOf)).toSet)
  }

  /** The [[LeafProfile]] of a body's freshly built leaves: a leaf over
    * one query relation is that slot's rows times the leaf's row width
    * (Spark's estimate for a local relation and the projections over
    * it); any other leaf is fixed at its optimized size estimate.
    */
  private def profileOf(leaves: Seq[DataFrame]): LeafProfile = {
    val bySlot = leaves.map(l => l -> l.queryExecution.analyzed
      .collect { case r: LocalRelation => slotOf(r) }.flatten)
    val (local, stored) = bySlot.partition(_._2.nonEmpty)
    LeafProfile(stored.map(l => leafBytes(l._1)).sum, local.map {
      case (l, Seq(slot)) =>
        slot -> EstimationUtils.getSizePerRow(l.queryExecution.analyzed.output)
      case (_, slots) => throw new IllegalArgumentException(
        s"a leaf over several query relations (${slots.mkString(", ")})")
    })
  }

  /** Eagerly local-checkpoint `df` with the aggregate `metric`
    * observed on the same job: returns the checkpointed frame and the
    * metric's value over exactly its rows, with no second job. Metrics
    * firing for the eager localCheckpoint action is observed but
    * undocumented Spark behavior, so the wait is BOUNDED (30 s):
    * `Observation.get` would otherwise hang forever if a Spark upgrade
    * stopped reporting them. Past the bound, or on a metrics-path
    * failure, the metric is recomputed over the checkpointed frame by
    * an explicit job — the same value, since that frame is fixed. The
    * waiter is a DEDICATED daemon thread per call, not a shared-pool
    * task: a permanently blocked get strands only its own inert
    * thread, never starves a pool other code shares.
    */
  def checkpointObserved(
      df: DataFrame, metric: org.apache.spark.sql.Column): (DataFrame, Any) = {
    val o = org.apache.spark.sql.Observation()
    val cp = df.observe(o, metric.as("m")).localCheckpoint()
    val box = new java.util.concurrent.LinkedBlockingQueue[AnyRef](1)
    val waiter = new Thread(() =>
      box.offer(try o.get catch { case e: Throwable => e }))
    waiter.setDaemon(true)
    waiter.start()
    box.poll(30, java.util.concurrent.TimeUnit.SECONDS) match {
      case m: Map[_, _] => (cp, m.asInstanceOf[Map[String, Any]]("m"))
      case _ => (cp, cp.agg(metric).head().get(0))
    }
  }

  /** Register every table as a temp view (for spark.sql use). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    All.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))

  /** Content fingerprint of a table's files (names + sizes + mtimes,
    * SHA-256). Memo keys for per-corpus derived state (codebooks, stored
    * codes/signature tables) fold this in, so an in-session mutation of
    * a corpus dir changes the key and forces a rebuild instead of
    * silently serving stale derived data. One FS listing per call —
    * metadata-only, no data read.
    */
  def tableFingerprint(spark: SparkSession, sfDir: String, name: String): String = {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val p = new Path(s"$sfDir/$name.parquet")
    val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
    val entries =
      if (!fs.exists(p)) Seq("absent")
      else if (fs.getFileStatus(p).isDirectory) {
        // RECURSIVE listing: partitioned layouts (cell=/lang= subdirs)
        // keep their data files one level down — a top-level-only scan
        // would fingerprint them all as the same empty listing and
        // serve stale derived state after a mutation
        val it = fs.listFiles(p, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val st = it.next()
          val rel = p.toUri.relativize(st.getPath.toUri).getPath
          buf += s"$rel:${st.getLen}:${st.getModificationTime}"
        }
        buf.sorted.toSeq
      } else {
        val st = fs.getFileStatus(p)
        Seq(s"${p.getName}:${st.getLen}:${st.getModificationTime}")
      }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(entries.mkString(";").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
  }

  /** Memo key for state derived from `sfDir/name`: the path plus the
    * content fingerprint (see [[tableFingerprint]]).
    */
  def derivedStateKey(spark: SparkSession, sfDir: String, name: String): String =
    s"$sfDir@${tableFingerprint(spark, sfDir, name)}"

  /** Build-once-per-key parquet memo shared by every per-corpus derived
    * state (stored signatures, sign buckets, codes tables): look the
    * key up, else write into a fresh temp dir via `build` and publish
    * with putIfAbsent — a lost creation race leaves one orphan temp dir
    * and adopts the winner's path. Centralized so the race/invalidation
    * semantics cannot drift between the four call sites.
    */
  def memoizedParquet(
      memo: java.util.concurrent.ConcurrentHashMap[String, String],
      key: String, tmpPrefix: String)(build: String => Unit): String = {
    val hit = memo.get(key)
    if (hit != null) hit
    else {
      val out = java.nio.file.Files.createTempDirectory(tmpPrefix).toString
      build(out)
      val prev = memo.putIfAbsent(key, out)
      if (prev != null) prev else out
    }
  }
}
