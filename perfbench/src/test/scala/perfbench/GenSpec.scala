package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.cdc.{CdcOps, CdcSim, Envelope}
import graft.streaming.BucketedSnapshot

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = {
    val s = GraftSession.builder("2").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  override def afterAll(): Unit = spark.stop()

  private val payloadCols = Ingest.PayloadCols

  /** Two generators' worth of input: a per-event-stamped topic slice
    * (keys may repeat) followed by stamped trickle batches (keys distinct).
    */
  private def sample(seed: Long): Seq[Batch] = {
    val g = new Gen(seed)
    Seq(g.batch(3000, Ingest.BaseTs, Mix(0.6, 0.1, 0.01), perEventTs = true)) ++
      (1 to 5).map(k => g.batch(200, Ingest.BaseTs + 10000000L + k, Trickle.TrickleMix))
  }

  private def parsed(batches: Seq[Batch]) = {
    import spark.implicits._
    Envelope.parse(batches.flatMap(_.lines).toDF("value"), CdcSim.payloadSchema)
  }

  test("the plain fold equals CdcOps.snapshotLatest over the same events") {
    for (seed <- Seq(1L, 7L)) {
      val batches = sample(seed)
      val want = Gen.fold(batches.flatMap(_.changes))
      val got = CdcOps.snapshotLatest(parsed(batches), Ingest.KeyCols, "ts_ms", payloadCols)
        .filter(col("id").isNotNull).select(Reads.Cols.map(col): _*)
        .collect().map(Reads.toOrder).toSeq
      assert(got.size == want.size)
      assert(got.map(o => o.id -> o).toMap == want)
      assert(Gen.digest(got) == Gen.digest(want.values))
    }
  }

  test("malformed envelopes parse to all-null rows that the store keeps as one null-key row") {
    val batches = sample(3L)
    val malformed = batches.map(_.malformed).sum
    assert(malformed > 0, "the sample must contain malformed envelopes")
    val rows = parsed(batches)
    assert(rows.filter(col("op").isNull && col("id").isNull && col("sign") === 1)
      .count() == malformed)
    val dir = Files.createTempDirectory("perfbench_gen_").toString
    try {
      BucketedSnapshot.merge(dir, Ingest.KeyCols, payloadCols)(rows, 0L)
      val snap = BucketedSnapshot.readSnapshot(spark, dir).get
      assert(snap.filter(col("id").isNull).count() == 1)
      assert(snap.filter(col("id").isNotNull).count() ==
        Gen.fold(batches.flatMap(_.changes)).size)
    } finally Ingest.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("the same seed gives the same events") {
    assert(sample(5L).map(_.lines) == sample(5L).map(_.lines))
    assert(sample(5L).map(_.lines) != sample(6L).map(_.lines))
  }
}
