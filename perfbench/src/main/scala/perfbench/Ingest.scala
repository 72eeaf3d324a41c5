package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.cdc.{CdcSim, Envelope}
import graft.streaming.{BucketedSnapshot, CdcPipeline}

/** What an ingest phase leaves for the read phase and the checks. */
final case class Ingested(
    store: String,
    /** committed store versions, oldest first */
    versions: Seq[Long],
    /** per committed version, the totals an as-of read must return */
    totalsAt: Map[Long, (Long, Long, Long)],
    finalState: Map[Long, Order],
    /** per-event seconds from creation (or availability) to commit */
    freshness: Seq[Double],
    /** per-batch store commit walls, seconds */
    commits: Seq[Double],
    events: Long,
    wallS: Double,
    /** envelope files the phase consumed (for the traced parse pass) */
    inputs: Seq[String],
    layer: Map[String, Double])

/** An ingest workload: `setup` builds its inputs and initial store (run
  * several times, the last one kept), `measure` ingests for a time budget.
  */
trait Ingest {
  /** Set-ups per run; `setup_s` is their median. */
  def setupReps: Int
  /** Closed loop: the ingest rate is bounded by the store, not a schedule. */
  def closedLoop: Boolean
  /** Share of `--seconds` given to the ingest phase; the read phase has
    * the rest.
    */
  def ingestShare: Double
  def setup(rep: Int): Unit
  def measure(budgetMs: Long): Ingested
  def close(): Unit = ()
}

object Ingest {
  val KeyCols: Seq[String] = Seq("id")
  val PayloadCols: Seq[String] =
    CdcSim.payloadSchema.fieldNames.toSeq.filterNot(KeyCols.contains)
  /** Stamp base of pre-landed events (2020-09-13), far below wall-clock
    * stamps, so trickle changes always supersede them.
    */
  val BaseTs = 1600000000000L

  /** Warm-up ends after this many quiet rounds in a row, or at the cap:
    * the server compiler never goes idle here (each new query plan brings
    * new generated classes to compile), so the cap is what usually ends it.
    */
  val QuietRounds = 2
  val MaxWarmUpMs = 14000L

  /** What warm-up cost: rounds, wall seconds, and the JIT compile seconds
    * spent during it.
    */
  final case class WarmUp(rounds: Int, wallS: Double, jitS: Double)

  /** JVM compile time so far, milliseconds, summed over compiler threads. */
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** JVM and engine warm-up, outside every timed phase: rounds of a merge
    * and the three store reads (the read phase's query shapes) on a
    * scratch store, repeated until the JIT compilers quiet down
    * ([[QuietRounds]] rounds in a row each add less compile time than
    * their own wall, i.e. under one compiler thread kept busy) or
    * [[MaxWarmUpMs]] passes. Class loading, first-use code generation and
    * the heaviest early compilations then land on no measured operation.
    */
  def warmUp(ctx: Ctx): WarmUp = {
    val spark = ctx.spark
    import spark.implicits._
    val root = ctx.work.resolve("warmup")
    val gen = new Gen(-1L)
    val store = root.resolve("store").toString
    val t0 = System.currentTimeMillis()
    val jit0 = jitMs
    var k = 0
    var quiet = 0
    while (quiet < QuietRounds && System.currentTimeMillis() - t0 < MaxWarmUpMs) {
      val c0 = jitMs
      val r0 = System.currentTimeMillis()
      val b = gen.batch(if (k == 0) 5000 else 2000, BaseTs + k * 100000L,
        Trickle.TrickleMix, perEventTs = true)
      val f = root.resolve(s"w$k.json")
      Gen.land(b.lines, root.resolve(s"staging/w$k.json"), f)
      BucketedSnapshot.merge(store, KeyCols, PayloadCols)(parse(ctx, Seq(f.toString)), k.toLong)
      val keys = (1L to 100L by 3L).toDF("id")
      BucketedSnapshot.readKeys(spark, store, KeyCols, keys).get
        .select(Reads.Cols.map(col): _*).collect()
      Reads.reportQuery(BucketedSnapshot.readSnapshot(spark, store).get).collect()
      Reads.totalsQuery(BucketedSnapshot.readSnapshotAsOf(spark, store, k / 2L).get)
      k += 1
      if (jitMs - c0 < System.currentTimeMillis() - r0) quiet += 1 else quiet = 0
    }
    deleteRecursively(root)
    WarmUp(k, (System.currentTimeMillis() - t0) / 1000.0, (jitMs - jit0) / 1000.0)
  }

  def deleteRecursively(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally w.close()
  }

  def parse(ctx: Ctx, files: Seq[String]): DataFrame =
    Envelope.parse(ctx.spark.read.text(files: _*), CdcSim.payloadSchema)

  /** The expected final state and, per version, the totals an as-of read
    * must return: one fold over each version's changes, oldest version
    * first. Worked out before any timed read.
    */
  def expected(deltas: Seq[(Long, Iterator[Change])])
      : (Map[Long, Order], Map[Long, (Long, Long, Long)]) = {
    var state = Map.empty[Long, Order]
    val totals = deltas.map { case (v, changes) =>
      state = Gen.fold(changes, state)
      v -> Reads.totals(state.values)
    }.toMap
    (state, totals)
  }
}

/** `cdc_trickle`: a store pre-loaded with ~20k live keys and consumed by
  * `BucketedSnapshot.start`, then one generator thread landing a small
  * envelope file on a fixed schedule (open loop) while the same query
  * keeps consuming the topic dir.
  */
final class Trickle(ctx: Ctx) extends Ingest {
  import Trickle._
  import Ingest._

  private var root: Path = _
  private var gen: Gen = _
  private var preload: Vector[Change] = Vector.empty
  private var query: StreamingQuery = _
  private var untimedAgg: Agg = new Agg

  val setupReps = 3
  val closedLoop = false
  // at --seconds 22: 12.5 s of ingest (six files at the 2.5 s period)
  val ingestShare = 0.57

  private def topic = root.resolve("topic")
  private def staging = root.resolve("staging")
  private def store = root.resolve("store").toString
  private def checkpoint = root.resolve("checkpoint")

  def setup(rep: Int): Unit = {
    close()
    if (root != null) deleteRecursively(root)
    root = ctx.work.resolve(s"trickle-$rep")
    Files.createDirectories(topic)
    gen = new Gen(ctx.seed)
    val b = gen.batch(PreloadKeys, BaseTs, PreloadMix, perEventTs = true)
    Gen.land(b.lines, staging.resolve("f00000.json"),
      topic.resolve("f00000.json"))
    // only the changes are kept: the expected state needs nothing else
    preload = b.changes
    // the preload is merged as batch 0 on the per-batch path `start`
    // installs; the query's own batch 0 then finds that commit marker and
    // replays as a no-op, exactly as after a crash between store commit
    // and offset commit
    BucketedSnapshot.merge(store, KeyCols, PayloadCols)(
      parse(ctx, Seq(topic.resolve("f00000.json").toString)), 0L)
    query = BucketedSnapshot.start(ctx.spark, CdcPipeline.Files(topic.toString),
      CdcSim.payloadSchema, KeyCols, store, checkpoint.toString,
      trigger = Trigger.ProcessingTime(0L))
    ctx.await("stream batch 0", 120000) {
      query.exception.foreach(e => throw e)
      Files.exists(checkpoint.resolve("commits/0"))
    }
  }

  override def close(): Unit = if (query != null) {
    query.stop()
    query = null
  }

  /** True once `names` are all in committed batches whose progress has
    * been posted (progress follows the commit log entry).
    */
  private def committed(names: Seq[String]): Boolean = {
    query.exception.foreach(e => throw e)
    val fileBatch = Freshness.sourceLog(checkpoint.resolve("sources/0"))
    names.forall(fileBatch.contains) && {
      val last = names.map(fileBatch).max
      ctx.progress.of(query.runId.toString)
        .exists(p => p.batchId >= last && p.numInputRows > 0)
    }
  }

  def measure(budgetMs: Long): Ingested = {
    // priming, untimed: the query's first batch with data runs the
    // stream's per-batch path for the first time; its file is part of the
    // expected state but of no timing
    val primeName = "f00001.json"
    val prime = {
      val b = gen.batch(FileEvents, System.currentTimeMillis(), TrickleMix)
      Gen.land(b.lines, staging.resolve(primeName), topic.resolve(primeName))
      b.changes
    }
    ctx.await("priming batch", 120000)(committed(Seq(primeName)))
    ctx.trace.drain()
    untimedAgg = ctx.trace.groupAgg(query.runId.toString)
    val landed = new java.util.concurrent.ConcurrentLinkedQueue[
      (Freshness.Landed, Long, Long, Vector[Change])]()
    val t0 = System.currentTimeMillis()
    @volatile var genError: Option[Throwable] = None
    // one generator thread on a fixed schedule: file k is due at
    // t0 + k·period whether or not the store kept up
    val generator = new Thread(() => {
      try {
        var k = 0
        var lastStamp = 0L
        while (t0 + k * PeriodMs < t0 + budgetMs) {
          val due = t0 + k * PeriodMs
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          val created = math.max(System.currentTimeMillis(), lastStamp + 1)
          lastStamp = created
          val b = gen.batch(FileEvents, created, TrickleMix)
          val name = f"f${k + 2}%05d.json"
          Gen.land(b.lines, staging.resolve(name), topic.resolve(name))
          landed.add((Freshness.Landed(name, created, b.events), due,
            System.currentTimeMillis(), b.changes))
          k += 1
        }
      } catch { case e: Throwable => genError = Some(e) }
    }, "perfbench-generator")
    generator.setDaemon(true)
    generator.start()
    generator.join()
    genError.foreach(e => throw e)
    val files = landed.asScala.toSeq.sortBy(_._1.name)
    // drain: every landed file in a batch whose commit is durable
    ctx.await("trickle drain", 120000)(committed(files.map(_._1.name)))
    val fileBatch = Freshness.sourceLog(checkpoint.resolve("sources/0"))
    val primeBatch = fileBatch(primeName)
    val runId = query.runId.toString
    val progress = ctx.progress.of(runId).filter(_.numInputRows > 0)
    close()
    val dataBatches = progress.filter(_.batchId > primeBatch).sortBy(_.batchId)
    def startMs(p: StreamingQueryProgress) = Instant.parse(p.timestamp).toEpochMilli
    def dur(p: StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val commitMs = progress.map(p =>
      p.batchId -> (startMs(p) + dur(p, "triggerExecution"))).toMap
    val fresh = Freshness.perEvent(files.map(_._1), fileBatch, commitMs) match {
      case Right(xs) => xs
      case Left(missing) =>
        ctx.fail(s"freshness: no committed batch for ${missing.take(5).mkString(",")}")
        Seq.empty
    }
    val events = files.map(_._1.events.toLong).sum
    val wallS = (commitMs.values.max - t0) / 1000.0
    val versions = BucketedSnapshot.latestVersion(store).toSeq
      .flatMap(v => 0L to v)
    val (finalState, totalsAt) = expected(versions.map(v => v ->
      (if (v == 0L) preload.iterator
       else if (v == primeBatch) prime.iterator
       else files.iterator.filter(f => fileBatch(f._1.name) == v).flatMap(_._4))))
    // utilisation: the median batch's trigger wall against the schedule's
    // period; well below 1, files do not queue behind a running batch
    val triggerP50 = Stats.median(dataBatches.map(dur(_, "triggerExecution") / 1000.0))
    val utilisation = triggerP50 / (PeriodMs / 1000.0)
    println(f"[perfbench] trickle period_s=${PeriodMs / 1000.0}%.3f files=${files.size} " +
      f"batches=${dataBatches.size} trigger_p50_s=$triggerP50%.4f utilisation=$utilisation%.3f " +
      "trigger_s=" + dataBatches.map(p => f"${dur(p, "triggerExecution") / 1000.0}%.3f").mkString(","))
    val layer = mutable.LinkedHashMap.empty[String, Double]
    if (ctx.trace.enabled) {
      dataBatches.foreach(p => ctx.trace.external("stream.batch", startMs(p),
        commitMs(p.batchId), runId))
      def mean(k: String) = Stats.mean(dataBatches.map(dur(_, k) / 1000.0))
      layer ++= Seq(
        "stream.trigger_s" -> mean("triggerExecution"),
        "stream.add_batch_s" -> mean("addBatch"),
        "stream.latest_offset_s" -> mean("latestOffset"),
        "stream.query_planning_s" -> mean("queryPlanning"),
        "stream.wal_commit_s" -> mean("walCommit"),
        "stream.commit_offsets_s" -> mean("commitOffsets"),
        "stream.batches" -> dataBatches.size.toDouble,
        "stream.utilisation" -> utilisation,
        "stream.rows_per_batch" -> Stats.mean(dataBatches.map(_.numInputRows.toDouble)),
        "stream.queue_wait_s" -> Stats.mean(files.map { f =>
          val p = progress.find(_.batchId == fileBatch(f._1.name)).get
          (startMs(p) - f._3) / 1000.0
        }),
        "gen.late_s" -> Stats.mean(files.map(f => (f._1.createdMs - f._2) / 1000.0)),
        "store.merge_s" -> mean("addBatch"))
      ctx.trace.drain()
      val engine = ctx.trace.groupAgg(runId)
      engine -= untimedAgg
      layer ++= StoreScan.writeMetrics(store, dataBatches.map(_.batchId),
        engine, events)
    }
    Ingested(store, versions, totalsAt, finalState,
      fresh, dataBatches.map(dur(_, "addBatch") / 1000.0), events, wallS,
      files.map(f => topic.resolve(f._1.name).toString), layer.toMap)
  }
}

object Trickle {
  val PreloadKeys = 20000
  val PreloadMix: Mix = Mix(insert = 1.0, delete = 0.0, malformed = 0.001)
  val FileEvents = 500
  val PeriodMs = 2500L
  val TrickleMix: Mix = Mix(insert = 0.4, delete = 0.1, malformed = 0.001)
}

/** `cdc_backfill`: a pre-landed seeded topic merged into an empty store as
  * a few large slices, back to back (closed loop), each through the same
  * per-batch path `BucketedSnapshot.start` installs.
  */
final class Backfill(ctx: Ctx) extends Ingest {
  import Backfill._
  import Ingest._

  private var root: Path = _
  /** (file, changes, events) per slice; the lines are on disk only */
  private var slices: Seq[(String, Vector[Change], Int)] = Nil
  // a set-up here is ~0.3 s of generation and file writes, jittery from
  // collector pauses and the first reps' compilations; the median of
  // eleven steadies it
  val setupReps = 11
  val closedLoop = true
  val ingestShare = 0.5

  def setup(rep: Int): Unit = {
    if (root != null) deleteRecursively(root)
    root = ctx.work.resolve(s"backfill-$rep")
    val topic = root.resolve("topic")
    Files.createDirectories(topic)
    val gen = new Gen(ctx.seed)
    slices = (0 until Slices).map { k =>
      val b = gen.batch(Events / Slices, BaseTs + k.toLong * Events, BackfillMix,
        perEventTs = true)
      val name = f"slice-$k%02d.json"
      Gen.land(b.lines, root.resolve("staging").resolve(name), topic.resolve(name))
      (topic.resolve(name).toString, b.changes, b.events)
    }
  }

  def measure(budgetMs: Long): Ingested = {
    val t0 = System.currentTimeMillis()
    val commits = mutable.ArrayBuffer.empty[Double]
    val fresh = mutable.ArrayBuffer.empty[Double]
    var pass = 0
    var store = ""
    var events = 0L
    var mergeS = 0.0
    var lastPassMs = 0L
    // whole passes over a fresh store while another one fits the budget
    while (pass == 0 || System.currentTimeMillis() - t0 + lastPassMs <= budgetMs) {
      val p0 = System.currentTimeMillis()
      if (store.nonEmpty) deleteRecursively(Paths.get(store))
      store = root.resolve(s"store-$pass").toString
      val passStart = System.nanoTime()
      slices.zipWithIndex.foreach { case ((file, _, n), k) =>
        val s0 = System.nanoTime()
        ctx.trace.span("store.merge") {
          BucketedSnapshot.merge(store, KeyCols, PayloadCols)(
            parse(ctx, Seq(file)), k.toLong)
        }
        val s1 = System.nanoTime()
        commits += (s1 - s0) / 1e9
        mergeS += (s1 - s0) / 1e9
        fresh ++= Seq.fill(n)((s1 - passStart) / 1e9)
        events += n
      }
      pass += 1
      lastPassMs = System.currentTimeMillis() - p0
    }
    val versions = slices.indices.map(_.toLong)
    val (finalState, totalsAt) = expected(
      slices.zipWithIndex.map { case (s, k) => k.toLong -> s._2.iterator })
    val layer = mutable.LinkedHashMap.empty[String, Double]
    if (ctx.trace.enabled) {
      ctx.trace.drain()
      val lastPass = ctx.trace.spans.filter(_.name == "store.merge").takeRight(Slices)
      layer ++= Seq("store.merge_s" ->
        Stats.mean(ctx.trace.spans.filter(_.name == "store.merge").map(_.seconds)))
      val engine = ctx.trace.aggOf(s => lastPass.contains(s))
      layer ++= StoreScan.writeMetrics(store, versions, engine,
        slices.map(_._3.toLong).sum)
    }
    Ingested(store, versions, totalsAt, finalState, fresh.toSeq,
      commits.toSeq, events, mergeS, slices.map(_._1), layer.toMap)
  }
}

object Backfill {
  val Events = 160000
  /** Odd, so the median event sits mid-slice, not on a slice boundary
    * where the catch-up freshness steps from one commit to the next.
    */
  val Slices = 7
  val BackfillMix: Mix = Mix(insert = 0.5, delete = 0.15, malformed = 0.001)
}

/** Store-layout counters read off the store directory. */
object StoreScan {
  private def list(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else { val s = Files.list(p); try s.iterator().asScala.toList finally s.close() }

  private def partFiles(p: Path): Seq[Path] =
    list(p).filter(_.getFileName.toString.endsWith(".parquet"))

  def writeMetrics(store: String, batches: Seq[Long], engine: Agg,
      events: Long): Seq[(String, Double)] = {
    val root = Paths.get(store)
    val buckets = list(root).filter(_.getFileName.toString.startsWith("bucket="))
    val versionDirs = buckets.flatMap(list).filter(_.getFileName.toString.startsWith("v="))
    val perBatch = batches.map { b =>
      val dirs = buckets.map(_.resolve(s"v=$b")).filter(Files.isDirectory(_))
      (dirs.size, dirs.map(d => partFiles(d).size).sum)
    }
    val bytes = {
      val w = Files.walk(root)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }
    val nBuckets = math.max(1, buckets.size)
    val ev = math.max(1L, events).toDouble
    Seq(
      "store.buckets_touched_ratio" -> Stats.mean(perBatch.map(_._1.toDouble / nBuckets)),
      "store.rows_written_per_event" -> engine.outputRecords / ev,
      "store.bytes_written_per_event" -> engine.outputBytes / ev,
      "store.files_per_commit" -> Stats.mean(perBatch.map(_._2.toDouble)),
      "store.version_dirs" -> versionDirs.size.toDouble,
      "store.bytes" -> bytes.toDouble)
  }
}
