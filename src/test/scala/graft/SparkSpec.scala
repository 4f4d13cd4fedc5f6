package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

/** Shared local SparkSession for all suites (one JVM under sbt fork). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("graft-test", 4)

  /** One-column string DataFrame. */
  def strDf(values: Seq[String], name: String = "v"): DataFrame = {
    import spark.implicits._
    values.toDF(name)
  }

  /** Evaluate a Column over single string inputs. */
  def evalStr(values: Seq[String])(
      f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Seq[Any] = {
    import org.apache.spark.sql.functions.col
    strDf(values).select(f(col("v"))).collect().toSeq.map(_.get(0))
  }

  /** Reference oracle for salted SHA-256 (`_hash_value` /
    * `_sha256_hex`, /root/reference/dags/Fetch_reddit.py:58-63).
    */
  def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Land `df` as ONE parquet file named `name` in `incoming` — the
    * arrival protocol every stream-ingest suite simulates (a producer
    * dropping one complete file per batch). Shared here so the landing
    * semantics cannot drift between the ingest suites.
    */
  def land(df: DataFrame, incoming: java.nio.file.Path, name: String): Unit = {
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Files.createTempDirectory("land")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val listing = java.nio.file.Files.list(tmp)
    val part =
      try listing.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally listing.close()
    java.nio.file.Files.move(part, incoming.resolve(name))
  }

  /** Run `body` with a session conf set, restoring (or clearing) it
    * after — the suites share one session, so conf leaks would poison
    * sibling tests.
    */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** `body` with the stored-index serves forced onto their distributed
    * tier ([[graft.core.Tables.tier]]): a one-task bound of 1 KB, below
    * every request's leaves on the test corpora. Not 1 byte: the same
    * conf sets the scans' split size, and a body that collects while
    * it is built (the hybrid arms, the MMR greedy) would run one task
    * per byte of input. The other size decisions are constants, reached
    * through their real inputs or by calling their arms; the one other
    * seam is the driver-collect cap, [[withoutDriverCollects]].
    */
  def withDistributedServes[T](body: => T): T =
    withConf("spark.sql.files.maxPartitionBytes", "1024")(body)

  /** `body` with the driver-collect cap ([[graft.core.Tables.driverRowCap]])
    * at 0: every dedup frame and connected-components edge list that
    * would be collected to the driver takes its distributed arm.
    */
  def withoutDriverCollects[T](body: => T): T =
    withConf(graft.core.Tables.DriverRowCapKey, "0")(body)

  /** `body`'s result and the number of Spark jobs that started while it
    * ran (any thread), counted by a listener once the bus has drained.
    */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.graftspec.Bus.drain(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.graftspec.Bus.drain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }

  def withTempDir[T](f: java.nio.file.Path => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-test")
    try f(dir)
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}
