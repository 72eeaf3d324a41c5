package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.streaming.BucketedSnapshot

/** Timings of the read phase, seconds per operation. */
final case class ReadTimes(point: Seq[Double], report: Seq[Double],
    asof: Seq[Double], queryMix: Double, queries: Seq[(String, Double)],
    layer: Map[String, Double])

/** The analytics read phase: one client, closed loop, no writes, over the
  * store the ingest phase left behind. A seeded cycle of two point reads
  * (`readKeys`, 1–100 keys), two daily reports over `readSnapshot` and two
  * as-of reads (`readSnapshotAsOf`), then (traced runs) one pass over the
  * workload's sample of registered queries. Every answer is checked.
  */
object Reads {
  val Cols: Seq[String] = Seq("id", "custkey", "price", "status", "ts_ms")
  val ReadsPerCycle = 2

  def toOrder(r: Row): Order =
    Order(r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3), r.getLong(4))

  private def cents(p: Double): Long = math.round(p * 100)

  /** Per (day, status): row count and price sum in cents. */
  def report(state: Iterable[Order]): Map[(Long, String), (Long, Long)] =
    state.groupMapReduce(o => (o.tsMs / 86400000L, o.status))(o =>
      (1L, cents(o.price)))((a, b) => (a._1 + b._1, a._2 + b._2))

  /** Count, price sum in cents, and stamp sum of the live keyed rows. */
  def totals(state: Iterable[Order]): (Long, Long, Long) =
    state.foldLeft((0L, 0L, 0L))((a, o) => (a._1 + 1, a._2 + cents(o.price), a._3 + o.tsMs))

  /** The daily report over a snapshot: per (day, status) of the keyed
    * rows, row count and price sum in cents.
    */
  def reportQuery(snapshot: DataFrame): DataFrame =
    snapshot.filter(col("id").isNotNull)
      .groupBy(expr("ts_ms div 86400000").as("day"), col("status"))
      .agg(count(lit(1)), sum(round(col("price") * 100).cast("long")))

  /** [[totals]] over a snapshot's keyed rows, as one row. */
  def totalsQuery(snapshot: DataFrame): Row = {
    val df = snapshot.filter(col("id").isNotNull)
    df.agg(count(lit(1)), sum(round(col("price") * 100).cast("long")),
      sum(col("ts_ms"))).head()
  }

  def run(ctx: Ctx, ing: Ingested, budgetMs: Long, sample: Seq[String],
      hashes: Map[String, (Long, Long)]): ReadTimes = {
    val spark = ctx.spark
    import spark.implicits._
    val rnd = new SplittableRandom(ctx.seed * 31 + 7)
    val expected = ing.finalState
    val liveIds = expected.keys.toArray.sorted
    val maxId = if (liveIds.isEmpty) 1L else liveIds.last
    // every expected answer is worked out before the loop: a timing covers
    // only the program's call and its collect
    val wantReport = report(expected.values)
    val point, rep, asof = mutable.ArrayBuffer.empty[Double]
    val filesRead = mutable.ArrayBuffer.empty[Double]
    var pointRows = 0L

    /** Times `call` (the store read and its collect), then checks its
      * answer outside the timing.
      */
    def timed[T](sink: mutable.ArrayBuffer[Double], name: String)(call: => T)(
        check: T => Unit): Unit = {
      val t0 = System.nanoTime()
      val got = ctx.op(name)(ctx.trace.span(name)(call))
      sink += (System.nanoTime() - t0) / 1e9
      got.foreach(check)
    }
    def traceFiles(df: DataFrame): Unit =
      if (ctx.trace.enabled) filesRead += df.inputFiles.length.toDouble

    val t0 = System.currentTimeMillis()
    while (System.currentTimeMillis() - t0 < budgetMs) {
      for (_ <- 0 until ReadsPerCycle) {
        // 1–100 keys: mostly live, some deleted or never inserted
        val keys = Seq.fill(1 + rnd.nextInt(100)) {
          if (rnd.nextInt(5) > 0 && liveIds.nonEmpty) liveIds(rnd.nextInt(liveIds.length))
          else 1L + rnd.nextLong(maxId + 1000)
        }.distinct
        val keyDf = keys.toDF("id")
        timed(point, "store.read_keys") {
          val df = BucketedSnapshot.readKeys(spark, ing.store, Ingest.KeyCols, keyDf)
            .get.select(Cols.map(col): _*)
          (df, df.collect())
        } { case (df, rows) =>
          traceFiles(df)
          val got = rows.map(toOrder).toSeq
          pointRows += got.size
          val want = keys.flatMap(expected.get)
          ctx.check(got.sortBy(_.id) == want.sortBy(_.id),
            s"point read of ${keys.size} keys: ${got.size} rows, expected ${want.size}")
        }
      }
      for (_ <- 0 until ReadsPerCycle) timed(rep, "store.read_snapshot") {
        val df = BucketedSnapshot.readSnapshot(spark, ing.store).get
        (df, reportQuery(df).collect())
      } { case (df, rows) =>
        traceFiles(df)
        val got = rows.map(r =>
          (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
        ctx.check(got == wantReport, "daily report differs from expected state")
      }
      for (_ <- 0 until ReadsPerCycle) {
        val v = ing.versions(rnd.nextInt(ing.versions.size))
        timed(asof, "store.read_asof") {
          val df = BucketedSnapshot.readSnapshotAsOf(spark, ing.store, v).get
          (df, totalsQuery(df))
        } { case (df, r) =>
          traceFiles(df)
          val got = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
            if (r.isNullAt(2)) 0L else r.getLong(2))
          ctx.check(ing.totalsAt.get(v).contains(got), s"as-of read at version $v")
        }
      }
    }

    val queries = Queries.pass(ctx, sample, hashes)

    val layer = mutable.LinkedHashMap.empty[String, Double]
    if (ctx.trace.enabled) {
      ctx.trace.drain()
      val reads = ctx.trace.aggOf(s => s.name.startsWith("store.read_"))
      val pointAgg = ctx.trace.aggOf(_.name == "store.read_keys")
      val nReads = math.max(1, point.size + rep.size + asof.size)
      layer ++= Seq(
        "store.read_keys_s" -> Stats.mean(point),
        "store.read_snapshot_s" -> Stats.mean(rep),
        "store.read_asof_s" -> Stats.mean(asof),
        "store.files_read_per_read" -> Stats.mean(filesRead),
        "store.bytes_read_per_read" -> reads.inputBytes.toDouble / nReads,
        "store.rows_read_per_result" ->
          pointAgg.inputRecords.toDouble / math.max(1L, pointRows))
      queries.foreach { case (q, _) =>
        layer += s"q.$q.jobs" -> ctx.trace.aggOf(_.name == s"q.$q").jobs.toDouble
      }
    }
    ReadTimes(point.toSeq, rep.toSeq, asof.toSeq, queries.map(_._2).sum,
      queries, layer.toMap)
  }
}

/** The sampled registered queries and their recorded answers. */
object Queries {
  /** The traced run's query pass: the reference report family and the
    * ROADMAP cost centers, split between the workloads (~20 s and ~30 s
    * cold at local[4]); together all eleven.
    */
  val Sample: Map[String, Seq[String]] = Map(
    "cdc_trickle" -> Seq("daily_revenue", "category_revenue", "top_customers",
      "cdc_snapshot_latest", "cdc_store_cdf", "text_containment"),
    "cdc_backfill" -> Seq("daily_revenue_theilsen", "part_communities",
      "knn_graph_search", "knn_lsh", "dedup_jaccard_ppjoin"))

  val All: Seq[String] = Sample.values.flatten.toSeq.sorted

  /** One pass over `sample`: per-query walls, each answer checked against
    * its recorded digest. The digest is printed as a `query-hash` detail
    * line (`name<TAB>rows<TAB>bit_xor`), the form `query_hashes.tsv` keeps.
    */
  def pass(ctx: Ctx, sample: Seq[String],
      hashes: Map[String, (Long, Long)]): Seq[(String, Double)] =
    sample.map { q =>
      val t = System.nanoTime()
      val got = ctx.op(s"query $q") {
        ctx.trace.span(s"q.$q")(digest(SparkEntry.queries(q)(ctx.spark, ctx.dataDir)))
      }
      val wall = (System.nanoTime() - t) / 1e9
      got.foreach { d =>
        println(s"[perfbench] query-hash $q\t${d._1}\t${d._2}")
        ctx.check(hashes.get(q).contains(d),
          s"query $q: rows/bit_xor $d != recorded ${hashes.get(q)}")
      }
      q -> wall
    }

  /** (rows, bit_xor of xxhash64 over every column): the answer digest. */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(df.columns.map(col).toSeq: _*).as("h"))
      .agg(count(lit(1)), bit_xor(col("h"))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** `name<TAB>rows<TAB>bit_xor` lines; `#` starts a comment. */
  def load(p: Path): Map[String, (Long, Long)] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p, StandardCharsets.UTF_8).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).collect { case Array(n, rows, h) =>
        n -> (rows.toLong, h.toLong) }.toMap
}
