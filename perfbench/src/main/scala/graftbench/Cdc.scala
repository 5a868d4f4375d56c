package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.operators.{MvTransform, VersionedUpsert}
import graft.sources.ChangeLog
import graft.streaming.CdcPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress, Trigger}

/** Pieces both CDC workloads share. */
object Cdc {

  /** The pipeline under test: JSON wire files → envelope parse → MV
    * transform → parquet append, checkpointed.
    */
  def start(spark: SparkSession, changes: Path, sink: Path, ckpt: Path,
            trigger: Trigger): StreamingQuery =
    CdcPipeline.writeTo(
      MvTransform(ChangeLog.fromJsonValues(spark.readStream.text(changes.toString))),
      sink.toString, ckpt.toString, trigger)

  /** Set-up time: start the pipeline on one landed file and wait until
    * that file is committed. [[Ctx.setups]] times, on fresh directories.
    */
  def setupSeconds(c: Ctx, envelopes: Int): Seq[Double] = (1 to Ctx.setups).map { i =>
    val d = c.dir(s"setup$i")
    val changes = Files.createDirectories(d.resolve("changes"))
    FsOps.landAtomically(changes, "f-000000.json",
      new EnvelopeGen(c.seed * 7919 + i, math.max(1, envelopes / 4), "s", 0)
        .lines(envelopes))
    Stats.timed {
      val q = start(c.spark, changes, d.resolve("sink"), d.resolve("ckpt"),
        CdcPipeline.pollTrigger)
      try q.processAllAvailable() finally q.stop()
    }._2
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** FINAL over a log, both strategies, as (booking_id, version) rows:
    * (rows, order-insensitive hash) for each.
    */
  def finalFolds(spark: SparkSession, sink: Path): Seq[(Long, Long)] = {
    val log = spark.read.parquet(sink.toString)
    Seq(VersionedUpsert.finalView(log), VersionedUpsert.finalViewAgg(log)).map { v =>
      val rows = v.select("booking_id", "version").collect()
      (rows.length.toLong,
        rows.map(r => Fold.rowHash(r.getString(0), r.getLong(1))).sum)
    }
  }

  private val PathAndBatch = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r.unanchored

  /** Landed file name → the micro-batch that read it, from the file
    * source's metadata log (plain and compacted entries alike).
    */
  def fileBatches(ckpt: Path): Map[String, Long] = {
    val dir = ckpt.resolve("sources").resolve("0")
    if (!Files.isDirectory(dir)) return Map.empty
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .collect { case PathAndBatch(path, b) =>
        path.substring(path.lastIndexOf('/') + 1) -> b.toLong }
      .toMap
    finally s.close()
  }

  /** Micro-batch id → epoch ms its commit was written (the end of the
    * batch), from the commit log.
    */
  def commitTimes(ckpt: Path): Map[Long, Long] = {
    val dir = ckpt.resolve("commits")
    if (!Files.isDirectory(dir)) return Map.empty
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter(_.getFileName.toString.forall(_.isDigit))
      .map(p => p.getFileName.toString.toLong -> Files.getLastModifiedTime(p).toMillis)
      .toMap
    finally s.close()
  }

  /** Collects progress events; attached only in the traced half. */
  final class ProgressLog extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[StreamingQueryProgress]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) {
        events.add(e.progress)
        val start = java.time.Instant.parse(e.progress.timestamp).toEpochMilli
        val end = start + e.progress.durationMs.getOrDefault("triggerExecution", 0L)
        Trace.record(s"batch ${e.progress.batchId}", "streaming", 0L,
          Trace.nanosOfEpochMs(start), Trace.nanosOfEpochMs(end))
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def all: Seq[StreamingQueryProgress] = events.asScala.toSeq
  }

  val streamingNames: Seq[String] = Seq("batches", "latest_offset_ms", "get_batch_ms",
    "query_planning_ms", "add_batch_ms", "wal_commit_ms", "commit_offsets_ms",
    "queue_wait_ms", "rows_per_batch").map("streaming." + _)

  /** Per-batch medians of the progress durations. */
  def streamingLayer(ps: Seq[StreamingQueryProgress],
                     queueWaitMs: Seq[Double]): Map[String, Double] = {
    def med(key: String): Double =
      Stats.median(ps.map(_.durationMs.getOrDefault(key, 0L).toDouble))
    if (ps.isEmpty) streamingNames.map(_ -> 0.0).toMap
    else Map(
      "streaming.batches" -> ps.size.toDouble,
      "streaming.latest_offset_ms" -> med("latestOffset"),
      "streaming.get_batch_ms" -> med("getBatch"),
      "streaming.query_planning_ms" -> med("queryPlanning"),
      "streaming.add_batch_ms" -> med("addBatch"),
      "streaming.wal_commit_ms" -> med("walCommit"),
      "streaming.commit_offsets_ms" -> med("commitOffsets"),
      "streaming.queue_wait_ms" ->
        (if (queueWaitMs.isEmpty) 0.0 else Stats.median(queueWaitMs)),
      "streaming.rows_per_batch" -> Stats.median(ps.map(_.numInputRows.toDouble)))
  }

  def batchStartMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli
}

/** `cdc_tail`: an open-loop generator lands one JSON-wire file every
  * 250 ms while the pipeline polls at the reference's 500 ms trigger and
  * a reader runs FINAL over the growing log once a second.
  *
  * Freshness of a file is the commit time of the micro-batch that read
  * it minus the time the file was due to land, so a stalled generator
  * or a slow batch both count. The first `warm` seconds are excluded.
  *
  * A processing-time trigger fires on multiples of its interval since
  * the epoch, so the schedule is pinned to that grid: files are due
  * [[phaseMs]] and `phaseMs + 250` ms after a trigger instant. With a
  * free phase, the wait for the next trigger would shift every file's
  * freshness by up to 250 ms from run to run. The reader is pinned to
  * the same grid: where its reads fall against the trigger moved
  * freshness by a quarter from seed to seed.
  */
object CdcTail {
  val pollMs = 500L
  val phaseMs = 125L

  def run(c: Ctx): Outcome = {
    val perSec = if (c.small) 400 else 8000
    val intervalMs = 250L
    val perFile = (perSec * intervalMs / 1000).toInt
    val keys = if (c.small) 500 else 5000
    val warmMs = if (c.small) 1000L else 6000L
    val setup = Cdc.setupSeconds(c, perFile)

    val root = c.dir("tail")
    val changes = Files.createDirectories(root.resolve("changes"))
    val sink = root.resolve("sink")
    val ckpt = root.resolve("ckpt")
    val gen = new EnvelopeGen(c.seed, keys, "b", 0)
    // reads start midway between two trigger instants; the seed picks
    // which of the two poll intervals in a second they fall in
    val readerPhaseMs = pollMs * new java.util.Random(c.seed).nextInt(2) + pollMs / 2 - phaseMs
    val measureMs = (c.seconds * 1000).toLong
    val nFiles = ((warmMs + measureMs) / intervalMs).toInt + 1
    val name = (i: Int) => f"f-$i%06d.json"

    val q = Cdc.start(c.spark, changes, sink, ckpt, CdcPipeline.pollTrigger)
    val t0 = (System.currentTimeMillis() / pollMs + 1) * pollMs + phaseMs
    val sched = Array.tabulate(nFiles)(i => t0 + i * intervalMs)
    val landed = new Array[Long](nFiles)

    val generator = new Thread(() => {
      var i = 0
      while (i < nFiles) {
        val body = gen.lines(perFile)
        val wait = sched(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        FsOps.landAtomically(changes, name(i), body)
        landed(i) = System.currentTimeMillis()
        i += 1
      }
    }, "perfbench-generator")

    // (start epoch ms, seconds, ok)
    val reads = new ConcurrentLinkedQueue[(Long, Double, Boolean)]
    @volatile var reading = true
    val reader = new Thread(() => {
      var next = t0 + 1000 + readerPhaseMs
      while (reading) {
        val wait = next - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val ready = Files.isDirectory(sink) && {
          val ls = Files.list(sink)
          try ls.iterator().asScala.exists(_.toString.endsWith(".parquet"))
          finally ls.close()
        }
        if (reading && ready) {
          val start = System.currentTimeMillis()
          val ok = try {
            Trace.span("final_read", "upsert") {
              Cdc.noop(VersionedUpsert.finalView(c.spark.read.parquet(sink.toString)))
            }
            true
          } catch { case _: Exception => false }
          reads.add((start, (System.currentTimeMillis() - start) / 1000.0, ok))
        }
        // one reader: a read that overruns its second skips the ticks it
        // covered rather than firing them back to back
        next += 1000
        while (next <= System.currentTimeMillis()) next += 1000
      }
    }, "perfbench-reader")

    generator.start()
    reader.start()

    // the measured window, split into halves in a traced run
    val windows = c.halves.scanLeft((false, t0 + warmMs, t0 + warmMs)) {
      case ((_, _, end), (traced, s)) => (traced, end, end + (s * 1000).toLong)
    }.tail
    val progress = new Cdc.ProgressLog
    var sparkBefore = Map.empty[String, Double]
    var sparkAfter = Map.empty[String, Double]
    windows.foreach { case (traced, from, to) =>
      val wait = from - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      if (traced) {
        Trace.start(c.spark)
        c.spark.streams.addListener(progress)
        sparkBefore = Trace.sparkNow(c.spark)
      }
    }
    generator.join()
    if (Trace.on) sparkAfter = Trace.sparkNow(c.spark)
    q.processAllAvailable()
    reading = false
    reader.join()
    q.stop()

    val batchOf = Cdc.fileBatches(ckpt)
    val commitMs = Cdc.commitTimes(ckpt)
    val commitOf = (i: Int) => batchOf.get(name(i)).flatMap(commitMs.get)
    val missing = (0 until nFiles).count(i => commitOf(i).isEmpty)
    val lateness = landed.indices.map(i => (landed(i) - sched(i)).toDouble)

    def inWindow(from: Long, to: Long) =
      (0 until nFiles).filter(i => sched(i) >= from && sched(i) < to && commitOf(i).isDefined)
    def freshness(files: Seq[Int]) = files.map(i => (commitOf(i).get - sched(i)).toDouble)
    // achieved ingest: rows of the batches that carried the window's
    // files over the time between the commit before them and their last
    def achieved(files: Seq[Int]): Double = {
      val bs = files.map(i => batchOf(name(i))).distinct.sorted
      if (bs.isEmpty) return 0.0
      val rows = batchOf.values.count(b => b >= bs.head && b <= bs.last) * perFile.toDouble
      val before = commitMs.filter(_._1 < bs.head).values.maxOption
        .getOrElse(t0 - intervalMs)
      rows / ((commitMs(bs.last) - before) / 1000.0)
    }
    def readsIn(from: Long, to: Long) =
      reads.asScala.toSeq.filter { case (s, _, _) => s >= from && s < to }

    val folds = Cdc.finalFolds(c.spark, sink)
    val expected = (gen.liveCount, gen.liveHash)
    val wrongFinals = folds.count(_ != expected)
    val failedReads = reads.asScala.count(!_._3)

    val (_, plainFrom, plainTo) = windows.head
    val plainFiles = inWindow(plainFrom, plainTo)
    val plainFresh = freshness(plainFiles)
    val e2e = Map(
      "setup_s" -> Stats.median(setup),
      "latency_p50_ms" -> Stats.median(plainFresh),
      "throughput_per_s" -> achieved(plainFiles))

    val backlogEnd = (0 until nFiles).count(i =>
      sched(i) < plainTo && commitOf(i).forall(_ > plainTo))
    val notes = Seq(
      "files" -> nFiles, "envelopes" -> gen.emitted,
      "offered_per_s" -> perSec,
      "freshness_p95_ms" -> Stats.pct(plainFresh, 95),
      "final_read_p50_ms" -> Stats.median(readsIn(plainFrom, plainTo).map(_._2 * 1000)),
      "backlog_end_files" -> backlogEnd,
      "lateness_p95_ms" -> Stats.pct(lateness, 95),
      "lateness_max_ms" -> lateness.max,
      "setup_runs_s" -> setup,
      "final_rows" -> expected._1)

    val layer = windows.find(_._1).map { case (_, from, to) =>
      val files = inWindow(from, to)
      val fresh = freshness(files)
      val ps = progress.all.filter(p => Cdc.batchStartMs(p) >= from && Cdc.batchStartMs(p) < to)
      val startOf = ps.map(p => p.batchId -> Cdc.batchStartMs(p)).toMap
      val queueWait = files.flatMap(i => startOf.get(batchOf(name(i))).map(s => (s - sched(i)).toDouble))
      Cdc.streamingLayer(ps, queueWait) ++ Map(
        "tail.freshness_p50_ms" -> Stats.median(fresh),
        "tail.freshness_p95_ms" -> Stats.pct(fresh, 95),
        "tail.final_read_p50_ms" -> Stats.median(readsIn(from, to).map(_._2 * 1000)),
        "tail.backlog_end_files" -> (0 until nFiles).count(i =>
          sched(i) < to && commitOf(i).forall(_ > to)).toDouble,
        "gen.lateness_p95_ms" -> Stats.pct(lateness, 95),
        "gen.lateness_max_ms" -> lateness.max,
        "run.cold_s" -> setup.head,
        "trace.overhead_pct" ->
          100 * (Stats.median(fresh) / Stats.median(plainFresh) - 1)) ++
        Layers.spark(Trace.delta(sparkAfter, sparkBefore)) ++
        CdcLayers.measure(c, changes, sink, expected._1)
    }.getOrElse(Map.empty)
    val (mixAttempted, mixFailed, mixLayer) =
      if (c.trace) QueryMix.rowsTraced(c, QueryMix.otherRows)
      else (0L, 0L, Map.empty[String, Double])

    Outcome(
      attempted = nFiles + reads.size + folds.size + mixAttempted,
      failed = missing + failedReads + wrongFinals + mixFailed,
      e2e = e2e, layer = Layers.complete(layer ++ mixLayer), notes = notes)
  }
}

/** Per-layer timings of the CDC path on a quiet engine, over a tail
  * run's own landed files and log, three times each: envelope parse,
  * MV transform over parsed envelopes, parquet append of transformed
  * rows, FINAL with both strategies, and compaction. Traced runs only.
  */
object CdcLayers {
  def measure(c: Ctx, changes: Path, sink: Path, liveRows: Long): Map[String, Double] = {
    val root = c.dir("layers")
    val parsed = root.resolve("parsed").toString
    val transformed = root.resolve("transformed").toString
    val spark = c.spark
    ChangeLog.fromJsonValues(spark.read.text(changes.toString)).write.parquet(parsed)
    MvTransform(spark.read.parquet(parsed)).write.parquet(transformed)
    val envelopes = spark.read.parquet(parsed).count()
    val log = spark.read.parquet(sink.toString)
    val logRows = log.count()
    def cpu = Trace.sparkNow(spark).getOrElse("task_cpu_s", 0.0)
    def shuffled = Trace.sparkNow(spark).getOrElse("shuffle_write_bytes", 0.0)

    val runs = (1 to 3).map { i =>
      val cpu0 = cpu
      val parse = Stats.timed(Trace.span("parse", "sources") {
        Cdc.noop(ChangeLog.fromJsonValues(spark.read.text(changes.toString))) })._2
      val parseCpu = cpu - cpu0
      val mv = Stats.timed(Trace.span("transform", "mv") {
        Cdc.noop(MvTransform(spark.read.parquet(parsed))) })._2
      val out = root.resolve(s"append$i")
      val append = Stats.timed(Trace.span("append", "streaming") {
        spark.read.parquet(transformed).write.parquet(out.toString) })._2
      FsOps.deleteTree(out)
      val bytes0 = shuffled
      val window = Stats.timed(Trace.span("final_window", "upsert") {
        Cdc.noop(VersionedUpsert.finalView(log)) })._2
      val windowBytes = shuffled - bytes0
      val agg = Stats.timed(Trace.span("final_agg", "upsert") {
        Cdc.noop(VersionedUpsert.finalViewAgg(log)) })._2
      val compacted = root.resolve(s"compact$i")
      val compact = Stats.timed(Trace.span("compact", "upsert") {
        VersionedUpsert.compact(log).write.parquet(compacted.toString) })._2
      FsOps.deleteTree(compacted)
      Seq(parse, parseCpu, mv, append, window, windowBytes, agg, compact)
    }
    def med(k: Int) = Stats.median(runs.map(_(k)))
    Map(
      "sources.parse_s" -> med(0),
      "sources.parse_cpu_us_per_row" -> med(1) * 1e6 / envelopes,
      "mv.transform_s" -> med(2),
      "sink.append_s" -> med(3),
      "upsert.final_window_s" -> med(4),
      "upsert.shuffle_write_bytes" -> med(5),
      "upsert.final_agg_s" -> med(6),
      "upsert.compact_s" -> med(7),
      "upsert.log_rows_per_live_row" -> logRows.toDouble / liveRows)
  }
}
