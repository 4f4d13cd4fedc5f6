package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library's settable `graft.*` session keys. The size decisions
  * are constants chosen by their inputs; every key is a value that
  * tests and benchmarks would have to cover, so a new one has to be
  * added here on purpose.
  */
class ConfKeySpec extends AnyFunSuite {

  test("src/main reads exactly the four documented graft.* conf keys") {
    val sources: Seq[Path] = {
      val walk = Files.walk(Paths.get("src/main/scala"))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(sources.nonEmpty)
    val keys = sources.flatMap(f =>
      "\"(graft\\.[^\"]*)\"".r.findAllMatchIn(Files.readString(f)).map(_.group(1))).toSet
    assert(keys == Set(
      "graft.diversity.maxGramsPerSource",
      "graft.diversity.onGramCap",
      "graft.dedup.buckets",
      "graft.driver.rowCap"), keys.toSeq.sorted.mkString(", "))
  }
}
