package graft.bench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** One benchmark run: one workload, one seed, one JVM, one closed-loop
  * client (the calling thread).
  *
  * {{{
  * Main --workload <ingest|serve> --seed <n> --seconds <s>
  *      --trace <0|1> --cores <n> --scratch <dir> --out <result.json>
  *      --budget <s>
  * }}}
  *
  * Writes the result object to `--out`; `run.py` prints the final
  * line. Everything the run writes lives under `--scratch` (the JVM's
  * tmpdir, Spark's local and warehouse dirs are pointed there by the
  * launcher).
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(
      workload = a("workload"), seed = a("seed").toLong,
      seconds = a("seconds").toDouble, trace = a("trace") == "1",
      cores = a("cores").toInt, scratch = a("scratch"),
      budgetS = a("budget").toDouble)
    val spark = GraftSession.local("graft-bench", ctx.cores)
    ctx.spark = spark
    val result =
      try ctx.workload match {
        case "ingest" => Ingest.run(ctx)
        case "serve" => Serve.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally {
        ctx.tracer.foreach(_.dump(s"${ctx.scratch}/spans.jsonl"))
      }
    val withCore = if (ctx.trace) result ++ Core.metrics(ctx) else result
    spark.stop()
    withCore.write(a("out"))
  }
}

/** Run-wide state and the closed-loop driver shared by the workloads. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
    val trace: Boolean, val cores: Int, val scratch: String, budgetS: Double) {
  var spark: SparkSession = _
  var tracer: Option[Tracer] = None

  /** When the set-up and the timed window must be over (`--budget`
    * seconds after start), so that on a slow host the run still ends
    * within its time limit.
    */
  private val deadlineNs = System.nanoTime() + (budgetS * 1e9).toLong

  /** Whether `ns` more nanoseconds of work would pass the deadline. */
  def late(ns: Long): Boolean = System.nanoTime() + ns > deadlineNs

  /** Set-up repetitions; `setup_s` is their median. */
  val SetupReps = 2

  /** Run `warmup` once, untimed, on a small input of the same shape,
    * so the JVM's first-use costs (class loading, JIT, Spark's codegen
    * cache) do not land in one repetition only. Then run `setup`
    * [[SetupReps]] times, each into a fresh directory, and keep the
    * last state; on a host so slow that another repetition and as much
    * again would pass the deadline, stop after the first. Returns the
    * state with the median set-up wall (s).
    */
  def setupReps[S](warmup: String => Unit)(setup: String => S): (S, Double) = {
    def timed[A](label: String, dir: String)(f: String => A): (A, Double) = {
      new File(dir).mkdirs()
      val t0 = System.nanoTime()
      val a = f(dir)
      val wall = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] $label: $wall%.2f s")
      (a, wall)
    }
    timed("warm-up (untimed)", s"$scratch/work/warmup")(warmup)
    val reps = scala.collection.mutable.ArrayBuffer(timed("set-up 0", s"$scratch/work/setup0")(setup))
    while (reps.size < SetupReps && !late((reps.last._2 * 2e9).toLong)) {
      val i = reps.size
      reps += timed(s"set-up $i", s"$scratch/work/setup$i")(setup)
    }
    if (reps.size < SetupReps)
      System.err.println(s"[bench] slow host: ${reps.size} of $SetupReps set-ups, to end in time")
    (reps.last._1, Stats.median(reps.map(_._2).toSeq))
  }

  /** The closed loop: `prepare(i)` (untimed) then `op(i)` (timed), back
    * to back, until the measured window (`seconds`, at least `minOps`
    * calls) is spent; `op` returns its name and input units. When the
    * next operation would pass the deadline, the window ends early,
    * after at least one operation. In a traced run the first half of
    * the window runs without the tracer and the rest with it (at least
    * one operation each), so tracing overhead is measured within the
    * run.
    */
  def closedLoop(minOps: Int, prepare: Int => Unit = _ => ())(
      op: Int => (String, Double)): Seq[Sample] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val budgetNs = (seconds * 1e9).toLong
    var spent = 0L
    var i = 0
    def lastNs = out.lastOption.fold(0L)(s => (s.ms * 1e6).toLong)
    def more = spent < budgetNs || out.size < minOps || (trace && !out.exists(_.traced))
    def stop = out.nonEmpty && late(lastNs) && (!trace || out.exists(_.traced))
    while (more && !stop) {
      if (trace && !attached && out.nonEmpty && (spent >= budgetNs / 2 || late(2 * lastNs))) {
        val t = new Tracer(spark)
        tracer = Some(t)
        t.attach()
        attached = true
      }
      prepare(i)
      val t0 = System.nanoTime()
      val (name, units) = op(i)
      val ns = System.nanoTime() - t0
      spent += ns
      out += Sample(name, ns / 1e6, units, attached)
      System.err.println(f"[bench] $name $i: ${ns / 1e6}%.1f ms")
      i += 1
    }
    if (attached) tracer.foreach(_.detach())
    attached = false
    if (more) System.err.println("[bench] slow host: window ended early, to end in time")
    System.err.println(f"[bench] ${out.size} operations in ${spent / 1e9}%.2f s")
    out.toSeq
  }

  /** Whether the tracer is listening now. */
  var attached = false

  /** A span around a call into a library module, when traced. */
  def span[A](group: String, layer: String, name: String)(f: => A): A =
    tracer match {
      case Some(t) if attached => t.span(group, layer, name)(f)
      case _ => f
    }
}

/** One timed operation: its wall, the input units it processed, and
  * whether the tracer was attached.
  */
final case class Sample(op: String, ms: Double, units: Double, traced: Boolean)

/** A run's outcome: the metric values and the checks. */
final case class Result(
    metrics: Map[String, (Double, String)],
    attempted: Long, failed: Long, failures: Seq[String]) {

  def ++(more: Map[String, (Double, String)]): Result = copy(metrics = metrics ++ more)

  def write(path: String): Unit = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
      s"${q(k)}: {\"value\": $num, \"unit\": ${q(u)}}"
    }
    val json = s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, "failed": $failed, """ +
      s""""failures": [${failures.map(q).mkString(", ")}], "metrics": {${ms.mkString(", ")}}}"""
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(json) finally w.close()
  }
}

object Result {

  /** The end-to-end metrics every workload reports, from its untraced
    * samples: set-up time, work units per second of operation wall,
    * and the median of one operation's wall.
    */
  def endToEnd(setupS: Double, samples: Seq[Sample]): Map[String, (Double, String)] = {
    val ms = samples.map(_.ms)
    Map(
      "setup_s" -> (setupS, "s"),
      "throughput_per_s" -> (samples.map(_.units).sum / (ms.sum / 1e3), "1/s"),
      "p50_ms" -> (Stats.median(ms), "ms"))
  }

  /** Tracing overhead: the traced half's end-to-end numbers minus the
    * untraced half's, over the same operation mix.
    */
  def overhead(samples: Seq[Sample]): Map[String, (Double, String)] = {
    val (t, u) = samples.partition(_.traced)
    if (t.isEmpty || u.isEmpty) Map.empty
    else Map(
      "trace.overhead_p50_ms" -> (Stats.median(t.map(_.ms)) - Stats.median(u.map(_.ms)), "ms"),
      "trace.overhead_share" -> (Stats.median(t.map(_.ms)) / Stats.median(u.map(_.ms)) - 1, "ratio"))
  }
}

/** `core` layer metrics: what the run leaves behind and keeps alive. */
object Core {
  def metrics(ctx: Ctx): Map[String, (Double, String)] = {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val left = Option(tmp.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft-")).map(du).sum
    System.gc()
    val rt = Runtime.getRuntime
    Map(
      "core.tmp_bytes_left" -> (left.toDouble, "bytes"),
      "core.heap_retained_mb" -> ((rt.totalMemory - rt.freeMemory) / 1048576.0, "MB"))
  }

  def du(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).toSeq.flatten.map(du).sum
}
