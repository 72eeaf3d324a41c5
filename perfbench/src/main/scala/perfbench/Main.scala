package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.streaming.BucketedSnapshot

/** Run-wide context: session, trace, seed, and the operation tally. */
final class Ctx(val spark: SparkSession, val trace: Trace, val work: Path,
    val dataDir: String, val seed: Long) {
  val progress = new StreamListener
  spark.streams.addListener(progress)
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]

  /** One attempted operation; an exception counts it failed. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  /** A wrong answer: the enclosing operation counts failed. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)

  def fail(what: String): Unit = {
    failed += 1
    problems += what
    System.err.println(s"[perfbench] FAILED $what")
  }

  def await(what: String, timeoutMs: Long)(done: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!done) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(10)
    }
  }
}

/** `perfbench.Main --workload <cdc_trickle|cdc_backfill> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> --data <dir> --hashes <file>`
  *
  * Prints detail lines, then one JSON line: `correct`, `attempted`,
  * `failed`, and the end-to-end metrics (trace 0) or the per-layer metrics
  * (trace 1). Exits 1 when any output was wrong.
  */
object Main {
  final case class Metric(value: Double, unit: String)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = Paths.get(opt("work"))
    require(Queries.Sample.contains(workload), s"unknown workload $workload")
    val cores = Runtime.getRuntime.availableProcessors
    val heap = new HeapWatch
    val spark = GraftSession.builder(cores.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(spark.sparkContext, traced)
    if (traced) spark.sparkContext.addSparkListener(trace.engine)
    val ctx = new Ctx(spark, trace, work, opt("data"), seed)
    val hashes = Queries.load(Paths.get(opt("hashes")))
    val ingest: Ingest = workload match {
      case "cdc_trickle" => new Trickle(ctx)
      case "cdc_backfill" => new Backfill(ctx)
    }

    // warm-up, outside every timed phase (see Ingest.warmUp)
    val warm = trace.span("warmup") {
      Calibrate.measure(cores)
      Ingest.warmUp(ctx)
    }
    // set-up, several times; the last one's store is measured
    val setups = (1 to ingest.setupReps).map { rep =>
      val t0 = System.nanoTime()
      trace.span("setup")(ingest.setup(rep))
      (System.nanoTime() - t0) / 1e9
    }
    trace.drain()
    val engine0 = trace.total
    val gc0 = heap.gcSeconds
    val jit0 = Ingest.jitMs
    val m0 = System.nanoTime()
    // --seconds: split between ingest and the read loop; the traced run
    // adds one pass over the query sample, a fixed amount of work
    val ingestMs = (seconds * 1000L * ingest.ingestShare).toLong
    val readMs = seconds * 1000L - ingestMs
    val ing = heap.watch(trace.span("ingest")(ingest.measure(ingestMs)))
    ctx.attempted += ing.commits.size
    val cal1 = Calibrate.measure(cores)
    val reads = heap.watch(trace.span("reads")(Reads.run(ctx, ing, readMs,
      if (traced) Queries.Sample(workload) else Nil, hashes)))
    val measuredS = (System.nanoTime() - m0) / 1e9
    val gcS = heap.gcSeconds - gc0
    val jitS = (Ingest.jitMs - jit0) / 1000.0
    val cal2 = Calibrate.measure(cores)

    // the final state check: keyed rows equal the expected fold; null-key
    // rows (malformed envelopes the store kept) are counted, not dropped
    var nullKeyRows = 0L
    var liveRows = 0L
    ctx.op("final state") {
      val rows = BucketedSnapshot.readSnapshot(spark, ing.store).get
        .select(Reads.Cols.map(col): _*).collect()
      liveRows = rows.length
      val (nulls, keyed) = rows.partition(_.isNullAt(0))
      nullKeyRows = nulls.length
      val got = Gen.digest(keyed.map(Reads.toOrder).toSeq)
      val want = Gen.digest(ing.finalState.values)
      ctx.check(got == want, s"final state digest $got != expected $want")
    }
    val failedRatio = ctx.failed.toDouble / math.max(1L, ctx.attempted)

    val p = Stats.summarize _
    val fresh = if (ing.freshness.nonEmpty) p(ing.freshness) else p(Seq(Double.NaN))
    val commit = p(ing.commits)
    val point = p(reads.point)
    // host-speed factors (see Calibrate): for set-up and ingest timings the
    // kernel right after ingest, for the read phase's the mean of the
    // kernels on either side of it; no stream or query runs beside them
    val fIngest = Calibrate.RefSeconds / cal1
    val fReads = Calibrate.RefSeconds / ((cal1 + cal2) / 2)
    // an open loop's delivered rate is set by its schedule, not host speed
    val fRate = if (ingest.closedLoop) 1 / fIngest else 1.0
    // end-to-end metrics: each a median over many operations, steady
    // enough across runs for a relative bound
    val e2e = Seq(
      "setup_s" -> Metric(Stats.median(setups) * fIngest, "s"),
      "freshness_p50_s" -> Metric(fresh.p50 * fIngest, "s"),
      "commit_p50_s" -> Metric(commit.p50 * fIngest, "s"),
      "events_per_s" -> Metric(ing.events / ing.wallS * fRate, "1/s"),
      "point_read_p50_s" -> Metric(point.p50 * fReads, "s"),
      "report_p50_s" -> Metric(Stats.median(reads.report) * fReads, "s"),
      "asof_read_p50_s" -> Metric(Stats.median(reads.asof) * fReads, "s"),
      "heap_peak_mb" -> Metric(heap.peakMb, "MB"),
      "ok_ratio" -> Metric(1.0 - failedRatio, "ratio"))
    // tails and counts too thin or too jittery for a bound at this run
    // length; printed on every run, emitted as per-layer metrics
    val tails = Seq(
      "freshness_p90_s" -> Metric(fresh.p90, "s"),
      "commit_p90_s" -> Metric(commit.p90, "s"),
      "point_read_p90_s" -> Metric(point.p90, "s"),
      "query_mix_s" -> Metric(reads.queryMix, "s"),
      "failed_ratio" -> Metric(failedRatio, "ratio"),
      "null_key_rows" -> Metric(nullKeyRows.toDouble, "count"))

    println(s"[perfbench] workload=$workload seed=$seed seconds=$seconds " +
      s"trace=${if (traced) 1 else 0} cores=$cores")
    println(f"[perfbench] warmup rounds=${warm.rounds} wall_s=${warm.wallS}%.3f " +
      f"jit_s=${warm.jitS}%.3f; jit_s in measured phases=$jitS%.3f")
    println(s"[perfbench] setup_s reps=${setups.map(s => f"$s%.3f").mkString(",")}")
    println(f"[perfbench] calibration kernel_s=$cal1%.4f,$cal2%.4f " +
      f"factor ingest=$fIngest%.4f reads=$fReads%.4f " +
      "(timings below are raw; end-to-end timings are raw × their phase's factor)")
    println(s"[perfbench] freshness ${fresh.describe("s")}")
    println(s"[perfbench] commit ${commit.describe("s")}")
    println(s"[perfbench] point_read ${point.describe("s")}")
    println(s"[perfbench] report ${p(reads.report).describe("s")}")
    println(s"[perfbench] asof_read ${p(reads.asof).describe("s")}")
    if (reads.queries.nonEmpty) println(s"[perfbench] queries " +
      reads.queries.map { case (q, s) => f"$q=$s%.3f" }.mkString(" "))
    println(f"[perfbench] events=${ing.events} ingest_wall_s=${ing.wallS}%.3f live_rows=$liveRows")
    (e2e ++ tails.filterNot(_._1 == "query_mix_s" && reads.queries.isEmpty)).foreach { case (n, m) =>
      println(s"[perfbench] metric $n ${m.value} ${m.unit}") }

    val metrics: Seq[(String, Metric)] =
      if (!traced) e2e
      else {
        trace.drain()
        val tot = trace.total
        tot -= engine0
        val parse = parsePass(ctx, ing.inputs)
        val leafOps = trace.spans.filter(s => s.name == "store.merge" ||
          s.name == "stream.batch" || s.name.startsWith("store.read_") ||
          s.name.startsWith("q."))
        val layer = mutable.LinkedHashMap.empty[String, Metric]
        def put(n: String, v: Double, u: String): Unit = layer(n) = Metric(v, u)
        put("envelope.parse_s", parse._1, "s")
        put("envelope.rows_per_s", parse._2 / math.max(parse._1, 1e-9), "1/s")
        put("envelope.malformed_rows", parse._3.toDouble, "count")
        for ((n, u) <- LayerNames.Ingest) put(n, ing.layer.getOrElse(n, 0.0), u)
        put("store.live_rows", liveRows.toDouble, "count")
        for ((n, u) <- LayerNames.Read) put(n, reads.layer.getOrElse(n, 0.0), u)
        val qTimes = reads.queries.toMap
        for (q <- Queries.All) {
          put(s"q.${q}_s", qTimes.getOrElse(q, 0.0), "s")
          put(s"q.$q.jobs", reads.layer.getOrElse(s"q.$q.jobs", 0.0), "count")
        }
        put("spark.jobs", tot.jobs.toDouble, "count")
        put("spark.stages", tot.stages.toDouble, "count")
        put("spark.tasks", tot.tasks.toDouble, "count")
        put("spark.task_s", tot.runMs / 1000.0, "s")
        put("spark.cpu_util", tot.cpuNs / 1e9 / (measuredS * cores), "ratio")
        put("spark.driver_gap_s", leafOps.map(trace.driverGapMs).sum / 1000.0, "s")
        put("spark.shuffle_write_bytes", tot.shuffleWrite.toDouble, "bytes")
        put("spark.shuffle_read_bytes", tot.shuffleRead.toDouble, "bytes")
        put("spark.spill_bytes", tot.spill.toDouble, "bytes")
        put("spark.input_bytes", tot.inputBytes.toDouble, "bytes")
        put("jvm.gc_s", gcS, "s")
        put("jvm.jit_s", jitS, "s")
        put("jvm.warmup_s", warm.wallS, "s")
        tails.foreach { case (n, m) => layer(n) = m }
        val (overS, overRatio) = overhead(ctx, ing)
        put("trace.overhead_s", overS, "s")
        put("trace.overhead_ratio", overRatio, "ratio")
        trace.write(work.resolve(s"spans-$workload-$seed.jsonl"))
        println(s"[perfbench] spans=${trace.spans.size} in spans-$workload-$seed.jsonl")
        layer.toSeq
      }

    spark.stop()
    ctx.problems.take(20).foreach(p => println(s"[perfbench] problem: $p"))
    val correct = ctx.failed == 0
    val body = metrics.map { case (n, m) =>
      val v = if (m.value.isNaN || m.value.isInfinite) "null" else m.value.toString
      s""""$n": {"value": $v, "unit": "${m.unit}"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, "metrics": {$body}}""")
    Console.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** Traced only: one parse-only pass over the ingest input — seconds,
    * rows, and rows Envelope.parse emitted with no op (malformed).
    */
  private def parsePass(ctx: Ctx, inputs: Seq[String]): (Double, Long, Long) = {
    val t0 = System.nanoTime()
    val r = ctx.trace.span("envelope.parse") {
      val df = Ingest.parse(ctx, inputs)
      df.agg(count(lit(1)), sum(when(col("op").isNull, 1).otherwise(0)),
        sum(xxhash64(df.columns.map(col).toSeq: _*) % 2)).head()
    }
    ((System.nanoTime() - t0) / 1e9, r.getLong(0), r.getLong(1))
  }

  /** Traced only: point reads alternately without and with the trace
    * instrumentation (listeners and job groups); median difference per read.
    */
  private def overhead(ctx: Ctx, ing: Ingested): (Double, Double) = {
    val spark = ctx.spark
    import spark.implicits._
    val sc = spark.sparkContext
    val keys = ing.finalState.keys.take(20).toSeq.toDF("id")
    def read(): Double = {
      val t0 = System.nanoTime()
      BucketedSnapshot.readKeys(spark, ing.store, Ingest.KeyCols, keys).get.collect()
      (System.nanoTime() - t0) / 1e9
    }
    read()
    val off, on = mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until 8) {
      sc.removeSparkListener(ctx.trace.engine)
      off += read()
      sc.addSparkListener(ctx.trace.engine)
      on += ctx.trace.span("trace.calibrate")(read())
    }
    val d = Stats.median(on.toSeq) - Stats.median(off.toSeq)
    (d, d / Stats.median(off.toSeq))
  }
}

/** Per-layer metrics the ingest and read phases fill, with their units (0
  * where the workload does not exercise the layer).
  */
object LayerNames {
  val Ingest: Seq[(String, String)] = Seq(
    "store.merge_s" -> "s", "store.buckets_touched_ratio" -> "ratio",
    "store.rows_written_per_event" -> "1/event",
    "store.bytes_written_per_event" -> "1/event",
    "store.files_per_commit" -> "files", "store.version_dirs" -> "count",
    "store.bytes" -> "bytes",
    "stream.trigger_s" -> "s", "stream.add_batch_s" -> "s",
    "stream.latest_offset_s" -> "s", "stream.query_planning_s" -> "s",
    "stream.wal_commit_s" -> "s", "stream.commit_offsets_s" -> "s",
    "stream.batches" -> "count", "stream.utilisation" -> "ratio",
    "stream.rows_per_batch" -> "rows",
    "stream.queue_wait_s" -> "s", "gen.late_s" -> "s")
  val Read: Seq[(String, String)] = Seq(
    "store.read_keys_s" -> "s", "store.read_snapshot_s" -> "s",
    "store.read_asof_s" -> "s", "store.files_read_per_read" -> "1/read",
    "store.bytes_read_per_read" -> "1/read", "store.rows_read_per_result" -> "1/row")
}
