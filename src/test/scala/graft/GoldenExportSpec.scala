package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.core.GraftConf
import graft.functions.PipelineFunctions._
import graft.jobs.CombineJob
import graft.operators.Normalize

/** Golden test against the reference's REAL table export
  * (`/root/reference/redit_table_202509091827.csv`, 19 rows + header,
  * legacy profile — raw normalized permalinks, FIXTURES.md §6):
  * the engine's normalize/dedup pipeline must treat real production
  * rows as a fixpoint — already-normalized data passes through
  * unchanged and fully deduplicated.
  *
  * The export is not part of the repository. Where the file is not
  * readable, every test is canceled (not failed) with one message
  * naming the missing path; the assertions run unchanged wherever the
  * reference export is present.
  */
class GoldenExportSpec extends SparkSpec {

  private val exportCsv = "/root/reference/redit_table_202509091827.csv"

  /** The export as a frame; cancels the calling test when the file is
    * absent, before anything reads it.
    */
  private def export = {
    assume(Files.isReadable(Paths.get(exportCsv)),
      s"reference export $exportCsv is absent or unreadable")
    spark.read
      .option("header", "true")
      .option("multiLine", "true")
      .csv(exportCsv)
  }

  test("export shape: 19 rows, 12 columns, unique keys, 64-hex hashes") {
    val df = export
    assert(df.count() == 19)
    assert(df.columns.length == 12 && df.columns.contains("ingested_at"))
    assert(df.select("thing_key").distinct().count() == 19)
    val badHash = df.filter(
      !col("thing_key").rlike("^[0-9a-f]{64}$") ||
        !col("author_hash").rlike("^[0-9a-f]{64}$")).count()
    assert(badHash == 0)
  }

  test("legacy permalinks are a fixpoint of normPermalink") {
    val changed = export
      .filter(normPermalink(col("permalink")) =!= col("permalink"))
      .count()
    assert(changed == 0) // lowercased, no trailing slash — already normalized
  }

  test("titles are a fixpoint of sanitizeTitle (incl. unicode + quotes)") {
    val df = export
    // the export contains an embedded-quote title and a € title — both
    // survive CSV round-trip and sanitize unchanged
    assert(df.filter(col("title_sanitized").contains("\"Base\"")).count() == 1)
    val changed = df.filter(
      sanitizeTitle(col("title_sanitized")) =!= col("title_sanitized")).count()
    assert(changed == 0)
  }

  test("combine pipeline is identity+dedup on real production rows") {
    val withOrder = export
      .withColumn("file_seq", lit(0))
      .withColumn("row_seq", monotonically_increasing_id())
    val out = CombineJob.transform(withOrder, GraftConf.legacy)
    assert(out.count() == 19)
    // normalized columns unchanged vs the export (the pipeline is
    // idempotent on its own output — reference property A2/README:308)
    val joined = export.alias("e").join(out.alias("o"), Seq("thing_key"))
    val drift = joined.filter(
      col("e.permalink") =!= col("o.permalink") ||
        col("e.title_sanitized") =!= col("o.title_sanitized") ||
        col("e.score") =!= col("o.score") ||
        col("e.subreddit") =!= col("o.subreddit")).count()
    assert(drift == 0)
  }

  test("re-ingesting the export twice upserts to the same 19 rows") {
    val withOrder = export
      .withColumn("file_seq", lit(0))
      .withColumn("row_seq", monotonically_increasing_id())
    val batch = CombineJob.transform(
      withOrder.unionByName(withOrder), GraftConf.legacy)
    assert(batch.count() == 19) // in-batch dedup collapses the replay
  }

  test("Normalize key derivation fills rows that lose their key") {
    val keyless = export.drop("thing_key")
      .withColumn("file_seq", lit(0))
      .withColumn("row_seq", monotonically_increasing_id())
    val out = Normalize.keyed(Normalize(keyless, GraftConf.legacy))
    assert(out.count() == 19)
    assert(out.filter(!col("thing_key").rlike("^[0-9a-f]{64}$")).count() == 0)
    assert(out.select("thing_key").distinct().count() == 19)
  }
}
