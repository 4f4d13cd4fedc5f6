package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Model

/** Reddit listing-JSON source (SURVEY §2.1 S1, offline/fixture path).
  *
  * The reference pulls `{data:{children:[{kind,data:{...}}]}}` over HTTP
  * (driver-side concern, /root/reference/dags/Fetch_reddit.py:103-204)
  * then loops rows in Python. Here ingestion is declarative: read with
  * the pinned nested schema, `explode` the children array, project the
  * ten consumed fields (Fetch_reddit.py:140-166). Catalyst prunes the
  * nested struct down to exactly these paths at the scan.
  *
  * A live connector would land pages as JSON files (or feed
  * `spark.createDataFrame`) and reuse this exact plan — the HTTP fetch
  * itself (OAuth token cache, backoff, Retry-After) is an IO detail
  * outside the query engine, deliberately not reimplemented here.
  */
object ListingSource {

  /** Read one or more listing JSON files (multiLine documents). */
  def read(spark: SparkSession, paths: String*): DataFrame =
    spark.read
      .schema(Model.ListingSchema)
      .option("multiLine", "true")
      .json(paths: _*)

  /** Explode to one row per post with the reference's field names.
    * Null-safe exactly like the Python `.get()` chain: absent fields
    * stay null. `limit` caps the posts taken from EACH listing
    * document (its first `limit` children): [[graft.jobs.FetchJob]]
    * reads one page per call, so this is the reference's per-call cap
    * (Fetch_reddit.py:170-171). The cap is a `slice` inside the
    * explode, not a `.limit`: a limit node names its generated counter
    * from a JVM-wide id, so every fetch compiled fresh classes and ran
    * a second, single-partition job.
    */
  def posts(listing: DataFrame, limit: Int = Int.MaxValue): DataFrame =
    listing
      .select(explode(slice(col("data.children"), 1, limit)).as("c"))
      .select(
        col("c.data.name").as("name"),
        col("c.data.id").as("id"),
        col("c.data.created_utc").as("created_utc"),
        col("c.data.score").as("score"),
        col("c.data.num_comments").as("num_comments"),
        col("c.data.title").as("title"),
        col("c.data.author").as("author"),
        col("c.data.permalink").as("permalink"),
        col("c.data.subreddit").as("subreddit"),
        col("c.data.link_flair_text").as("link_flair_text"))
}
