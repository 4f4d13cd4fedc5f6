package graft.bench

/** Per-layer metrics every traced run reports, whatever its workload. */
object Layers {

  /** Job group of the benchmark's own untimed Spark work (staging the
    * next batch's inputs); such jobs count toward no layer.
    */
  val PrepareGroup = "bench:prepare"

  /** Over the traced operations (`roots`: one root span per operation
    * or per module call at the top level):
    *  - `spark.executor_busy_share`: Σ task run time ÷ (cores × wall);
    *  - `spark.unattributed_jobs`: jobs no span claims;
    *  - `layer.<module>.self_ms`: per operation, the benchmark's spans
    *    into the module minus the part their child spans cover;
    *  - `layer.<module>.job_ms`: per operation, the wall of Spark jobs
    *    whose innermost library frame is in the module;
    *  - `spark.plan_ms`, `spark.codegen_compiles`, `spark.driver_gap_ms`:
    *    per operation, Catalyst planning (the QueryPlanningTracker
    *    phases of every query execution in the window), Janino compiles,
    *    and the operations' wall not covered by any Spark job.
    */
  def common(ctx: Ctx, roots: Seq[Tracer.Span]): Map[String, (Double, String)] = {
    val t = ctx.tracer.get
    t.settle()
    import scala.jdk.CollectionConverters._
    val all = t.jobs.values.asScala.toSeq.filter(_.group != PrepareGroup)
    val ops = math.max(1, roots.map(_.group).distinct.size).toDouble
    val wall = Tracer.unionMs(roots.map(s => (s.start, s.end)))
    val spans = t.spans
    def self(s: Tracer.Span) = s.ms - Tracer.unionMs(
      spans.filter(_.parent.contains(s.id)).map(c => (c.start, c.end)))
    val selfMs = spans.groupBy(_.layer).view.mapValues(_.map(self).sum / ops).toMap
    val jobMs = all.groupBy(_.module).view.mapValues(_.map(j => (j.end - j.start).toDouble).sum / ops).toMap
    val win0 = roots.map(_.start).min
    val win1 = roots.map(_.end).max
    val planMs = t.plans.asScala.filter(p => p.startEpochMs >= win0 && p.startEpochMs <= win1)
      .map(_.ms).sum
    val jobIv = all.map(j => (j.start.toDouble, j.end.toDouble))
    val covered = roots.map(s => Tracer.unionMs(jobIv.filter(iv => iv._2 > s.start && iv._1 < s.end)
      .map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) })).sum
    Map(
      "spark.plan_ms" -> (planMs / ops, "ms"),
      "spark.codegen_compiles" -> (roots.map(s => s.compiles1 - s.compiles0).sum / ops, "count"),
      "spark.driver_gap_ms" -> ((roots.map(_.ms).sum - covered) / ops, "ms"),
      "spark.executor_busy_share" -> (all.map(_.runMs).sum / (ctx.cores * math.max(wall, 1.0)), "ratio"),
      "spark.unattributed_jobs" -> (all.count(j => t.spanOf(j).isEmpty).toDouble, "count")) ++
      Tracer.Modules.flatMap(m => Seq(
        s"layer.$m.self_ms" -> (selfMs.getOrElse(m, 0.0), "ms"),
        s"layer.$m.job_ms" -> (jobMs.getOrElse(m, 0.0), "ms")))
  }
}
