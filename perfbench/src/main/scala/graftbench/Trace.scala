package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer spans and Spark-side counters for the traced run.
  *
  * Spans are recorded by the benchmark around its calls into graft's
  * public functions; nothing inside graft is instrumented. A span has a
  * name, a layer, a start, an end and the span that caused it. Spark
  * jobs become child spans of the benchmark span that submitted them,
  * found through a thread-local Spark job property. Spans stay in
  * memory and are written out once, when the run ends.
  *
  * With tracing off, [[span]] runs its body and records nothing, and no
  * listener is attached.
  */
object Trace {
  @volatile var on = false

  final case class Span(id: Long, parent: Long, name: String, layer: String,
                        startNs: Long, endNs: Long)

  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  private val SpanProp = "graftbench.span"
  private val StreamingQueryIdProp = "sql.streaming.queryId"

  /** Wall-clock epoch ms → the nanoTime scale spans use. */
  private val epochToNanoOffset: Long =
    System.nanoTime() - System.currentTimeMillis() * 1000000L
  def nanosOfEpochMs(ms: Long): Long = ms * 1000000L + epochToNanoOffset

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      val sc = org.apache.spark.BenchBridge.activeContext
      val prevProp = sc.map(_.getLocalProperty(SpanProp)).orNull
      current.set(id)
      sc.foreach(_.setLocalProperty(SpanProp, id.toString))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, layer, t0, System.nanoTime()))
        current.set(parent)
        sc.foreach(_.setLocalProperty(SpanProp, prevProp))
      }
    }

  /** A span whose times were observed elsewhere (a listener event). */
  def record(name: String, layer: String, parent: Long,
             startNs: Long, endNs: Long): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), parent, name, layer,
      startNs, endNs))

  def all: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    spans.asScala.toSeq
  }

  /** Self time per layer: a span's duration minus the part of its
    * interval that its children cover.
    */
  def selfSecondsByLayer: Map[String, Double] = {
    val raw = all
    val batches = raw.filter(s => s.layer == "streaming" && s.name.startsWith("batch "))
    val ss = raw.map { s =>
      if (s.parent != -1L) s
      else s.copy(parent = batches.find(b => b.startNs <= s.startNs && s.startNs <= b.endNs)
        .map(_.id).getOrElse(0L))
    }
    val children = ss.groupBy(_.parent)
    ss.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var reach = s.startNs
      kids.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { covered += b - from; reach = b }
      }
      s.layer -> (s.endNs - s.startNs - covered) / 1e9
    }.groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sum }
  }

  def write(path: java.nio.file.Path): Unit = {
    val rows = all.sortBy(_.startNs).map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path,
      Jackson.mapper.writerWithDefaultPrettyPrinter().writeValueAsString(rows) + "\n")
  }

  /** Spark engine counters, read through a SparkListener and a
    * QueryExecutionListener attached only in traced runs.
    */
  final class SparkCounters extends SparkListener with QueryExecutionListener {
    val jobs = new LongAdder
    val stages = new LongAdder
    val oneTaskStages = new LongAdder
    val oneTaskNs = new LongAdder
    val taskCpuNs = new LongAdder
    val gcMs = new LongAdder
    val shuffleWriteBytes = new LongAdder
    val peakExecMem = new AtomicLong
    val planNs = new LongAdder
    private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]
    private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]
    /** span id → (one-task stages, task CPU ns) of the jobs it submitted */
    private val bySpan = new java.util.concurrent.ConcurrentHashMap[Long, (LongAdder, LongAdder)]
    private def spanCounters(stageId: Int) =
      bySpan.computeIfAbsent(stageSpan.getOrDefault(stageId, 0L),
        _ => (new LongAdder, new LongAdder))
    def forSpan(id: Long): (Double, Double) =
      Option(bySpan.get(id)).map { case (a, b) => (a.sum.toDouble, b.sum / 1e9) }
        .getOrElse((0.0, 0.0))

    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      jobs.increment()
      val props = Option(e.properties)
      // a streaming micro-batch's jobs carry the query id instead of a
      // span; they are adopted by the batch span that contains them
      val parent = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong)
        .getOrElse(if (props.exists(_.getProperty(StreamingQueryIdProp) != null)) -1L else 0L)
      jobStarts.put(e.jobId, (nanosOfEpochMs(e.time), parent))
      e.stageIds.foreach(stageSpan.put(_, parent))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (t0, parent) =>
        record(s"job ${e.jobId}", "spark", parent, t0, nanosOfEpochMs(e.time))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
      val si = e.stageInfo
      stages.increment()
      if (si.numTasks == 1) {
        oneTaskStages.increment()
        spanCounters(si.stageId)._1.increment()
        for (a <- si.submissionTime; b <- si.completionTime)
          oneTaskNs.add((b - a) * 1000000L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (on && m != null) {
        taskCpuNs.add(m.executorCpuTime)
        spanCounters(e.stageId)._2.add(m.executorCpuTime)
        gcMs.add(m.jvmGCTime)
        shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
        peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max(_, _))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) planNs.add(qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

    def snapshot: Map[String, Double] = Map(
      "jobs" -> jobs.sum.toDouble,
      "stages" -> stages.sum.toDouble,
      "one_task_stages" -> oneTaskStages.sum.toDouble,
      "one_task_s" -> oneTaskNs.sum / 1e9,
      "task_cpu_s" -> taskCpuNs.sum / 1e9,
      "gc_s" -> gcMs.sum / 1e3,
      "shuffle_write_bytes" -> shuffleWriteBytes.sum.toDouble,
      "peak_exec_mem_bytes" -> peakExecMem.get.toDouble,
      "plan_ms" -> planNs.sum / 1e6)
  }

  /** Differences of two [[SparkCounters.snapshot]]s (peak memory is a
    * maximum, so it is taken as is).
    */
  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) =>
      k -> (if (k == "peak_exec_mem_bytes") v else v - before.getOrElse(k, 0.0))
    }

  private var counters: Option[SparkCounters] = None
  private var sessions = Set.empty[SparkSession]

  /** Turn tracing on: attach the listeners, once per context and once
    * per session (the planning listener is per session).
    */
  def start(spark: SparkSession): Unit = {
    val c = counters.getOrElse {
      val fresh = new SparkCounters
      spark.sparkContext.addSparkListener(fresh)
      counters = Some(fresh)
      fresh
    }
    if (!sessions(spark)) {
      spark.listenerManager.register(c)
      sessions += spark
    }
    on = true
  }

  /** Forget recorded spans and stop recording (between workloads). */
  def reset(): Unit = { on = false; spans.clear() }

  /** (one-task stages, task CPU s) of the jobs span `id` submitted. */
  def countersFor(id: Long): (Double, Double) =
    counters.map(_.forSpan(id)).getOrElse((0.0, 0.0))

  /** Spark counters so far, after the listener bus has caught up. */
  def sparkNow(spark: SparkSession): Map[String, Double] = counters match {
    case Some(c) =>
      drainBus(spark)
      c.snapshot
    case None => Map.empty
  }

  /** Listener events post asynchronously; wait until the bus is idle. */
  def drainBus(spark: SparkSession): Unit =
    org.apache.spark.BenchBridge.drainListenerBus(spark.sparkContext)
}
