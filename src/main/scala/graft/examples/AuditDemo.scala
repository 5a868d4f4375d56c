package graft.examples

import graft.operators.{Behavior, Manifest, Sampling, Sketches, TextAnalysis}
import org.apache.spark.sql.functions._

/** End-to-end corpus release audit — the report a data-release process
  * would attach to a dataset version, composed from the library's
  * audit operators: content-addressed manifest, split-distribution
  * drift, novelty (crawl saturation), length histogram, sketch
  * summaries (distinct / quantile), and the event-stream health pair
  * (anomaly flags + the forecast floor). Every number here is an
  * oracle-certified query elsewhere in the suite; the demo is their
  * composition over sf0.001.
  *
  *   sbt "runMain graft.examples.AuditDemo"
  */
object AuditDemo {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.LocalSession("ERROR")

    val manifest = Manifest.datasetManifest(spark, dir).collect()
    println(s"[demo] manifest: ${manifest.length} tables; " +
      manifest.map(r => s"${r.getString(0)}=${r.getLong(1)}x" +
        f"${r.getLong(2)}%x").mkString(", "))

    val kl = Sampling.splitKlDrift(spark, dir).collect().head
    println(f"[demo] split drift: KL(train||val)=" +
      f"${kl.getAs[Double]("kl_train_val")}%.4f over " +
      f"${kl.getAs[Long]("vocab_size")} vocab types " +
      "(near zero = the hash split sheared nothing)")

    val novelty = TextAnalysis.noveltyScores(spark, dir)
      .agg(avg(col("novelty")).as("mean"),
        sum(when(col("novelty") < 0.1, 1L).otherwise(0L)).as("stale"))
      .collect().head
    println(f"[demo] novelty: corpus mean ${novelty.getDouble(0)}%.3f; " +
      s"${novelty.getLong(1)} docs <0.1 (near-duplicates of earlier docs)")

    val hist = TextAnalysis.lengthHistogram(spark, dir).collect()
    val top = hist.maxBy(_.getAs[Double]("doc_share"))
    println(f"[demo] lengths: ${hist.length} pow2 buckets; modal bucket " +
      s"[${top.getAs[Long]("bucket_lo")},${top.getAs[Long]("bucket_hi")}] " +
      f"holds ${top.getAs[Double]("doc_share") * 100}%.1f%% of docs")

    val hll = Sketches.hllDistinct(spark, dir).collect().head
    println(f"[demo] hll: est ${hll.getAs[Double]("est_distinct")}%.0f vs " +
      s"exact ${hll.getAs[Long]("n_exact")} distinct customers " +
      f"(rel err ${hll.getAs[Double]("rel_err") * 100}%.1f%%, 64 registers)")

    val hq = Sketches.histogramQuantiles(spark, dir).collect()
    println("[demo] quantile sketch: " + hq.map(r =>
      s"p${100 * r.getAs[Long]("q_num") / r.getAs[Long]("q_den")}" +
        s" in [${r.getAs[Long]("lo_cents")},${r.getAs[Long]("hi_cents")}]c")
      .mkString(", "))

    val anomalies = Behavior.hourlyAnomalies(spark, dir)
      .filter(col("is_anomaly")).count()
    val fb = Behavior.forecastBaseline(spark, dir).collect()
    val worst = fb.maxBy(_.getAs[Double]("mape"))
    println(f"[demo] events: $anomalies anomalous hours; seasonal-naive " +
      f"MAPE ${worst.getAs[Double]("mape") * 100}%.1f%% on " +
      s"'${worst.getString(0)}' (the floor a forecaster must beat)")

    spark.stop()
  }
}
