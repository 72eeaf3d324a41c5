package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Maps generated files onto the stream batches that consumed them and
  * turns batch commit times into per-event freshness.
  */
object Freshness {

  private val PathRe = "\"path\"\\s*:\\s*\"([^\"]+)\"".r
  private val BatchRe = "\"batchId\"\\s*:\\s*(\\d+)".r

  /** File name → batch id, from a file stream source's metadata log
    * (`<checkpoint>/sources/0`): plain `<batchId>` files and the
    * `<batchId>.compact` files that fold earlier ones. Every entry line
    * carries its own `batchId`.
    */
  def sourceLog(dir: Path): Map[String, Long] = {
    if (!Files.isDirectory(dir)) return Map.empty
    val files = {
      val s = Files.list(dir)
      try s.iterator().asScala.toList finally s.close()
    }
    files.filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap { p =>
        Files.readAllLines(p, StandardCharsets.UTF_8).asScala.flatMap { line =>
          for {
            path <- PathRe.findFirstMatchIn(line).map(_.group(1))
            batch <- BatchRe.findFirstMatchIn(line).map(_.group(1).toLong)
          } yield path.substring(path.lastIndexOf('/') + 1) -> batch
        }
      }
      .groupMapReduce(_._1)(_._2)(math.min)
  }

  /** Landed file as the generator recorded it. */
  final case class Landed(name: String, createdMs: Long, events: Int)

  /** Per-event freshness in seconds: the commit time of the batch that
    * consumed each file minus the file's creation stamp, repeated once per
    * event in the file. Left: the names of files no committed batch holds.
    */
  def perEvent(files: Seq[Landed], fileBatch: Map[String, Long],
      commitMs: Map[Long, Long]): Either[Seq[String], Seq[Double]] = {
    val missing = files.filterNot(f =>
      fileBatch.get(f.name).exists(commitMs.contains)).map(_.name)
    if (missing.nonEmpty) Left(missing)
    else Right(files.flatMap { f =>
      val s = (commitMs(fileBatch(f.name)) - f.createdMs) / 1000.0
      Seq.fill(f.events)(s)
    })
  }
}
