package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class FreshnessSpec extends AnyFunSuite {
  private def entry(name: String, batch: Long) =
    s"""{"path":"file:///data/topic/$name","timestamp":1700000000000,"batchId":$batch}"""

  test("the source log maps each file to the batch that first listed it, compact files included") {
    val dir = Files.createTempDirectory("perfbench_srclog_")
    try {
      Files.write(dir.resolve("9.compact"), Seq("v1",
        entry("f00000.json", 0), entry("f00001.json", 1), entry("f00002.json", 1)).asJava)
      Files.write(dir.resolve("10"), Seq("v1", entry("f00003.json", 10)).asJava)
      Files.write(dir.resolve("11"), Seq("v1", entry("f00004.json", 11),
        entry("f00005.json", 11)).asJava)
      Files.write(dir.resolve(".11.crc"), Seq("not a log").asJava)
      assert(Freshness.sourceLog(dir) == Map("f00000.json" -> 0L, "f00001.json" -> 1L,
        "f00002.json" -> 1L, "f00003.json" -> 10L, "f00004.json" -> 11L,
        "f00005.json" -> 11L))
      assert(Freshness.sourceLog(dir.resolve("missing")).isEmpty)
    } finally {
      Files.list(dir).iterator().asScala.foreach(Files.delete)
      Files.delete(dir)
    }
  }

  test("per-event freshness is the consuming batch's commit minus the file's creation") {
    val files = Seq(Freshness.Landed("a", 1000L, 2), Freshness.Landed("b", 1500L, 1),
      Freshness.Landed("c", 2000L, 3))
    val fileBatch = Map("a" -> 1L, "b" -> 1L, "c" -> 2L)
    val commit = Map(1L -> 2500L, 2L -> 4000L)
    assert(Freshness.perEvent(files, fileBatch, commit) ==
      Right(Seq(1.5, 1.5, 1.0, 2.0, 2.0, 2.0)))
    // a file no committed batch holds is reported, not guessed
    assert(Freshness.perEvent(files, fileBatch - "c", commit) == Left(Seq("c")))
    assert(Freshness.perEvent(files, fileBatch, commit - 2L) == Left(Seq("c")))
  }
}
