package graftbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper, SerializationFeature}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The per-layer metric names every traced run reports. A workload
  * fills the names that belong to it; the rest read 0.
  */
object Layers {
  val sparkNames: Seq[String] = Seq("jobs", "stages", "one_task_stages",
    "one_task_s", "task_cpu_s", "gc_s", "shuffle_write_bytes",
    "peak_exec_mem_bytes", "plan_ms")

  /** Layers spans are recorded under, for self times. */
  val layers: Seq[String] = Seq("sources", "mv", "streaming", "upsert",
    "corpus", "analytics", "spark", "bench")

  val names: Seq[String] =
    Cdc.streamingNames ++
      Seq("tail.freshness_p50_ms", "tail.freshness_p95_ms",
        "tail.final_read_p50_ms", "tail.backlog_end_files",
        "gen.lateness_p95_ms", "gen.lateness_max_ms",
        "sources.parse_s", "sources.parse_cpu_us_per_row",
        "mv.transform_s", "sink.append_s",
        "upsert.final_window_s", "upsert.final_agg_s", "upsert.compact_s",
        "upsert.shuffle_write_bytes", "upsert.log_rows_per_live_row") ++
      CleanCorpus.stages.flatMap(s =>
        Seq(s"corpus.${s}_s", s"corpus.$s.rows_in", s"corpus.$s.rows_out")) ++
      QueryMix.rows.flatMap(r =>
        Seq("cold_s", "warm_s", "build_s", "jobs", "one_task_stages", "task_cpu_s")
          .map(m => s"mix.$r.$m")) ++
      sparkNames.map("spark." + _) ++
      layers.map(l => s"self.${l}_s") ++
      Seq("run.cold_s", "trace.overhead_pct", "trace.spans")

  def spark(m: Map[String, Double]): Map[String, Double] =
    sparkNames.map(n => s"spark.$n" -> m.getOrElse(n, 0.0)).toMap

  /** A traced run's metrics over the full name list, with self times
    * per layer from the recorded spans. Empty when untraced.
    */
  def complete(m: Map[String, Double]): Map[String, Double] =
    if (m.isEmpty) Map.empty
    else {
      val self = Trace.selfSecondsByLayer
      val all = m ++ layers.map(l => s"self.${l}_s" -> self.getOrElse(l, 0.0)) +
        ("trace.spans" -> Trace.all.size.toDouble)
      names.map { n =>
        val v = all.getOrElse(n, 0.0)
        n -> (if (v.isNaN) 0.0 else v)
      }.toMap
    }
}

/** The JSON mapper for result lines, span files and `expected.json`. */
object Jackson {
  val mapper: ObjectMapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .enable(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS)
    .build()

  def write(v: Any): String = mapper.writeValueAsString(v)
}

/** Answers recorded for the corpus counts and the mix digests, in
  * `expected.json` beside the benchmark, one section per workload and
  * size. `--record` updates a section with what the run observed.
  */
object Expected {
  @volatile var path: Option[String] = None
  @volatile var recording = false

  private def mapper = Jackson.mapper

  private def load(): ObjectNode =
    path.filter(p => Files.exists(Paths.get(p)))
      .map(p => mapper.readTree(Files.readString(Paths.get(p))).asInstanceOf[ObjectNode])
      .getOrElse(mapper.createObjectNode())

  private def key(workload: String, small: Boolean) =
    s"$workload/${if (small) "small" else "full"}"

  def section(workload: String, small: Boolean): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    Option(load().get(key(workload, small)))
      .map(_.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
      .getOrElse(Map.empty)
  }

  /** Update a section's entries with what the run observed. */
  def record(workload: String, small: Boolean, observed: Map[String, Any]): Unit =
    if (recording) path.foreach { p =>
      val root = load()
      val node = Option(root.get(key(workload, small)))
        .map(_.asInstanceOf[ObjectNode])
        .getOrElse(mapper.createObjectNode())
      observed.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v.toString) }
      root.set[JsonNode](key(workload, small), node)
      Files.writeString(Paths.get(p),
        mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root) + "\n")
    }
}
