package graftbench

import graft.SparkEntry
import org.apache.spark.sql.Row

/** The analytics mix: one closed-loop client running a fixed list of
  * `SparkEntry` rows over generated tables, in an order drawn from the
  * seed. A fresh session runs one cold pass (memo builds included) and
  * one warm pass; warm passes over the same paths are memo hits by
  * design. It rides in the traced runs, after the timed window, and
  * gives the per-row `mix.*` metrics: its cold pass alone would not fit
  * a default run's time.
  *
  * Each call is timed in two parts: building the DataFrame (graft's
  * eager work before the result is asked for) and collecting it. Every
  * result is hashed and checked against the value recorded for it.
  */
object QueryMix {
  val rows: Seq[String] = Seq("q_fuzzy_names2", "ann_opq_recall",
    "dedup_clusters_dist", "q_pagerank_dupgraph", "cdc_final",
    "q1_pricing_summary")

  /** Rows over the corpus (`documents`) and over the other tables; each
    * half rides in the traced run of the workload it is closest to.
    */
  val corpusRows: Seq[String] = Seq("dedup_clusters_dist", "q_pagerank_dupgraph")
  val otherRows: Seq[String] = rows.filterNot(corpusRows.contains)

  /** One cold pass and one warm pass over `subset` in a fresh session,
    * traced. Returns (attempted, failed, per-row metrics).
    */
  def rowsTraced(c: Ctx, subset: Seq[String]): (Long, Long, Map[String, Double]) = {
    val data = c.dir("mix").resolve("data").toString
    TableGen.writeMixTables(c.spark, data, if (c.small) 100 else 200)
    val expected = Expected.section("query_mix", c.small)
    val order = new scala.util.Random(c.seed).shuffle(subset)
    val session = c.spark.newSession()
    var failed = 0L
    var observed = Map.empty[String, Any]

    // one pass over the rows: (row, build seconds, total seconds)
    def pass(): Seq[(String, Double, Double)] = Trace.span("pass", "bench") {
      order.map { name =>
        val t0 = System.nanoTime()
        val (result, build) = Trace.span(name, "analytics") {
          val (df, b) = Stats.timed(SparkEntry.queries(name)(session, data))
          (df.collect(), b)
        }
        val total = Stats.secondsSince(t0)
        val digest = Digest.rows(result)
        observed += name -> digest
        if (!expected.get(name).contains(digest)) failed += 1
        (name, build, total)
      }
    }

    Trace.start(session)
    val cold = pass()
    val warmFrom = System.nanoTime()
    val warm = pass()
    Expected.record("query_mix", c.small, observed)
    val metrics = subset.flatMap { name =>
      Seq(s"mix.$name.cold_s" -> cold.find(_._1 == name).get._3,
        s"mix.$name.warm_s" -> warm.find(_._1 == name).get._3,
        s"mix.$name.build_s" -> warm.find(_._1 == name).get._2)
    }.toMap ++ warmCounters(warmFrom)
    (2L * subset.size, failed, metrics)
  }

  /** Jobs, one-task stages and task CPU per row in the warm pass, from
    * the row spans recorded since `from` (nanoTime) and their jobs.
    */
  private def warmCounters(from: Long): Map[String, Double] = {
    val spans = Trace.all
    val jobsBySpan = spans.filter(_.layer == "spark").groupBy(_.parent)
    spans.filter(s => s.layer == "analytics" && s.startNs >= from).flatMap { s =>
      val (oneTask, cpu) = Trace.countersFor(s.id)
      Seq(s"mix.${s.name}.jobs" -> jobsBySpan.getOrElse(s.id, Nil).size.toDouble,
        s"mix.${s.name}.one_task_stages" -> oneTask,
        s"mix.${s.name}.task_cpu_s" -> cpu)
    }.toMap
  }
}

/** Order-insensitive digest of a result, stable across partitionings:
  * floating-point values are rounded to 6 significant digits.
  */
object Digest {
  private def cell(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6))
      .stripTrailingZeros.toPlainString

  def rows(rs: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rs.map(cell).sorted.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    s"${rs.length}:" + md.digest().take(8).map("%02x".format(_)).mkString
  }
}
