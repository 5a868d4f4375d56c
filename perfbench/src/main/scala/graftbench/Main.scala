package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** What one workload run needs. `small` selects the smoke-check sizes. */
final case class Ctx(spark: SparkSession, work: Path, seed: Long,
                     seconds: Double, trace: Boolean, small: Boolean,
                     cores: Int) {
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  /** The measured window: all of it untraced, or, in a traced run, an
    * untraced half followed by a traced half (their difference is the
    * tracing overhead).
    */
  def halves: Seq[(Boolean, Double)] =
    if (trace) Seq(false -> seconds / 2, true -> seconds / 2)
    else Seq(false -> seconds)
}

object Ctx {
  /** Set-ups per run; the median is reported, so the first, cold one
    * does not count.
    */
  val setups = 4
}

/** A workload's result. `attempted`/`failed` count checked operations;
  * `e2e` and `layer` are metric name → value; `notes` are printed as a
  * summary line before the result.
  */
final case class Outcome(attempted: Long, failed: Long,
                         e2e: Map[String, Double], layer: Map[String, Double],
                         notes: Seq[(String, Any)] = Nil)

/** Benchmark entry point, launched by `perfbench/run.py`:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> [--small]
  *
  * Prints a host line, a summary line and, last, `RESULT <json>` with
  * every end-to-end metric (untraced) or every per-layer metric
  * (traced). `--workload all --small` is the smoke self-check.
  */
object Main {
  val workloads: Map[String, Ctx => Outcome] = Map(
    "cdc_tail" -> CdcTail.run,
    "clean_corpus" -> CleanCorpus.run)

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts.getOrElse("workload", "cdc_tail")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val small = args.contains("--small")
    val work = Paths.get(opts.getOrElse("work", ".perfbench/run")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    Expected.path = opts.get("expected")
    Expected.recording = args.contains("--record")
    val names = workload.split(",").toSeq
    require(names.forall(workloads.contains), s"unknown workload $workload")

    FsOps.deleteTree(work)
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.metricsEnabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println("host: " + Jackson.write(ListMap(hostShape(spark, cores): _*)))

    var exit = 0
    try {
      names.foreach { name =>
        Trace.reset()
        val ctx = Ctx(spark, Files.createDirectories(work.resolve(name)),
          seed, seconds, trace, small, cores)
        val out = workloads(name)(ctx)
        val rss = peakRssMb()
        val metrics =
          if (trace) out.layer
          else out.e2e + ("peak_rss_mb" -> rss)
        if (trace) Trace.write(work.resolve(s"$name-spans.json"))
        println(s"$name: " + Jackson.write(ListMap(out.notes: _*)))
        val result = Jackson.write(ListMap(
          "correct" -> (out.failed == 0),
          "attempted" -> out.attempted,
          "failed" -> out.failed,
          "metrics" -> metrics))
        println(s"RESULT $name $result")
        if (out.failed != 0) exit = 1
      }
    } finally spark.stop()
    sys.exit(exit)
  }

  def hostShape(spark: SparkSession, cores: Int): Seq[(String, Any)] = {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    Seq(
      "cores" -> cores,
      "spark_master" -> spark.sparkContext.master,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).mkString("+"),
      "spark" -> spark.version,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}")
  }

  /** Peak resident set of this JVM, from /proc (Linux). */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)
  }
}
