package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every LSH near-dup path pairs rows through [[graft.dedup.BucketPairs]]:
  * the hot-bucket cap window and the MinHash agreement estimate each have
  * one copy under src/main. A source scan, no Spark session. */
class BucketPairsSourceSpec extends AnyFunSuite {

  private def mainFiles: Seq[Path] = {
    val s = Files.walk(Paths.get("src/main"))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("the __bn cap column appears only in BucketPairs.scala") {
    val needle = "\"__bn\""
    val hits = mainFiles.filter(p => Files.readString(p).contains(needle))
      .map(_.getFileName.toString)
    assert(hits == Seq("BucketPairs.scala"), hits)
  }

  test("the zip_with agreement estimate appears once in MinHashLsh.scala") {
    val src = Files.readString(Paths.get("src/main/scala/graft/dedup/MinHashLsh.scala"))
    assert("zip_with\\(".r.findAllIn(src).size == 1)
  }
}
