package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the engine.
  *
  * Local mode mirrors the reference's operating envelope (LocalExecutor,
  * 32 slots — /root/reference/airflow.cfg:51,93) but the configuration is
  * written for a real cluster: AQE on (runtime re-plan / skew-join at the
  * 100 TB north star), shuffle partitions sized to cores locally (a
  * cluster deployment overrides via --conf), UTC session time zone
  * (matches /root/reference/airflow.cfg:43 `default_timezone = utc`).
  */
object GraftSession {

  /** Number of local cores; driver overrides via SPARK_GRAFT_CPUS. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def local(appName: String = "graft", cores: Int = cpus): SparkSession = {
    val spark = SparkSession
      .builder()
      .withExtensions(new graft.GraftExtensions()) // SQL: float_vector_dot, …
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Split even single small parquet files across the cores: at test
      // SFs one table = one file, and without this every scan is a
      // 1-task stage. A real cluster keeps 128 MB splits (this is a
      // minimum-split-count hint, not a size override).
      .config("spark.sql.files.minPartitionNum", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Small dims (region/nation/supplier/part at test SFs) broadcast;
      // 64 MB keeps even sf-scaled dims on the broadcast path.
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      // Push `In` predicates to parquet as real value sets up to 512
      // values instead of the default 10: the incremental-index probes
      // (DedupQueries.keyPruned) push a streaming batch's key set into
      // sort-clustered index scans, and the default collapses any
      // ≥10-value set to a useless min/max range. 512 is deliberately
      // NOT higher — parquet evaluates the pushed set as a recursive
      // OR tree, and multi-thousand-value trees overflow the stack
      // (measured at 4000); beyond the threshold Spark range-collapses,
      // which is the safe behavior for backfill-sized sets.
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "512")
      // List up to 256 paths on the driver before falling back to a
      // distributed listing job: the incremental index tables hold
      // 16-64 partition dirs, and the default threshold (32) turned
      // every per-trigger table open into a ~0.4 s Spark job for a
      // listing the driver does in milliseconds. 256 stays far below
      // the scale where a distributed listing wins (thousands of
      // object-store prefixes); such a deployment overrides via --conf.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "256")
      // Static conf (JVM-wide Guava cache in CodeGenerator): the
      // default 100 entries thrash under a 148-query catalog (each
      // query compiles several codegen units; once the working set
      // passes the cap, EVERY serve re-runs Janino on the driver —
      // measured as the dominant inter-job gap in JobProfile). Sized
      // to hold the whole catalog's units with headroom; driver-memory
      // only, scale-independent (a production deployment with a large
      // query library wants the same).
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "4096"))
      // Static conf: one executor-side classloader for every session
      // of this context. Each streaming query runs on a CLONED session,
      // and with artifact isolation on, every clone gets its own
      // classloader keyed by its JobArtifactState uuid. The codegen
      // cache keys on (classloader, code), so a maintainer restarted
      // per AvailableNow batch recompiled identical generated code
      // (~47 Janino compiles per absorb; after 7 batches the cache
      // held 482 keys for 127 distinct bodies under 16 loaders). The
      // engine adds no per-session artifacts, so nothing needs the
      // isolation.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config(MaxSinglePartitionBytes, Long.MaxValue.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Joins whose children are ALL single-partition already plan no
    * exchange, unless a child's size estimate passes this conf (128 MB
    * by default), when Spark re-shuffles for parallelism. The
    * one-partition serve tier ([[Tables.Tier]]) picks one partition
    * from its leaves' sizes; the estimates this check reads are of join
    * outputs, which without CBO multiply their children's sizes, so a
    * re-rank join over a few hundred KB of inputs "exceeded" it and
    * ran as five jobs instead of one. Raised so the tier's own bound
    * decides; it touches no join with a multi-partition child.
    */
  private val MaxSinglePartitionBytes = "spark.sql.maxSinglePartitionBytes"

  /** Apply engine defaults to an externally built session (e.g.
    * Verify/Bench). Static confs cannot be set here: such a session
    * should also set `spark.sql.artifact.isolation.enabled=false` when
    * it is built (see [[local]]).
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.parquet.pushdown.inFilterThreshold", "512")
    spark.conf.set(
      "spark.sql.sources.parallelPartitionDiscovery.threshold", "256")
    spark.conf.set(MaxSinglePartitionBytes, Long.MaxValue.toString)
    spark
  }
}
