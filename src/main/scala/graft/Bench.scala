package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR`, prints the per-query JSON line
  * `{"queries":{...},"metric":"total","value":N,"unit":"sec","sf":...}`
  * followed by a short total-only summary line (the driver captures a
  * bounded stdout tail; round 3 lost the total because it led a
  * >2000-char line — now the total always lands inside the tail).
  *
  * Each query is fully materialized through the `noop` sink — `.count()`
  * would let Catalyst prune projections and undercount the real work. A
  * warmup query runs first so JVM/codegen startup isn't billed to the
  * first measured query; queries run in sorted name order for
  * round-over-round comparability, and each query's reported time is
  * the MIN of two passes — single-pass numbers on a 32-thread local
  * JVM carry ±10% JIT/GC noise that round-over-round comparisons then
  * misread as plan changes (the r1→r2 "warmup artifact" lesson).
  *
  * Beside the times, the first line reports each query's executed work
  * from its [[Profile]] (`shuffle_bytes`, `peak_mem`, `jobs`, `stages`,
  * `one_task_stages`, `task_cpu_s`). Times are not compared against
  * recorded floors — a floor recorded on one host shape is noise on
  * another; the work of every row is pinned host-independently by
  * PlanBudgetSpec instead. The summary's `regressions` lists the
  * queries that failed.
  *
  * Bench runs with AQE on, and AQE re-plans a running query on
  * whichever query stage finishes first, so a row's `jobs` and
  * `stages` can differ by one between two captures of the same code
  * (q_pagerank_dupgraph read 27 or 28 jobs across warm runs of one
  * JVM). Read a one-job move there as noise; PlanBudgetSpec measures
  * the work with AQE off for this reason.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession("WARN")

    // the full benched surface: every driver-checked query plus the
    // bench-only rows (sketch-only approx forms — no oracle, but their
    // cost profile is the thing the approx operators exist for).
    // SPARK_GRAFT_ONLY (comma-separated names) restricts the run — a
    // local iteration aid; the driver never sets it.
    val all = SparkEntry.queries ++ SparkEntry.benchOnly
    val benched = sys.env.get("SPARK_GRAFT_ONLY") match {
      case Some(names) if names.nonEmpty =>
        val keep = names.split(",").map(_.trim).toSet
        all.filter { case (k, _) => keep(k) }
      case _ => all
    }

    val failed = Profile(0, 0, 0, 0, 0.0, 0L, 0L, Nil)
    def materializeRow(name: String): (Double, Profile) =
      try materialize(spark, sfDir, benched(name))
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        (-1.0, failed)
      }

    // setup: lay out the day-partitioned events fixture so the benched
    // q_partition_pruned_scan measures purely the pruned read, never
    // the one-time layout write.
    try operators.Bucketing.prepareDayLayout(spark, sfDir)
    catch { case _: Throwable => }

    // warmup: JVM/codegen/parquet-footer caches (not reported). Fixed
    // query — Map iteration order is unspecified, and a varying warmup
    // would shift which measured query absorbs first-touch costs.
    val names = benched.keys.toSeq.sorted
    materializeRow(names.head)

    val pass1 = names.map(n => n -> materializeRow(n)).toMap
    // per query: min-time pass wins, and its profile travels with it
    // (the min-time pass is the warmed shape for memoized-model rows)
    val full = names.map { n =>
      val p2 = materializeRow(n)
      val p1 = pass1(n)
      n -> (if (p1._1 < 0) p2 else if (p2._1 < 0) p1
            else if (p1._1 <= p2._1) p1 else p2)
    }
    def perQuery(v: ((Double, Profile)) => Any): String =
      full.map { case (n, r) => "\"" + n + "\":" + v(r) }.mkString("{", ",", "}")
    val total = full.map(_._2._1).filter(_ >= 0).sum
    // a query that FAILED (time −1) is reported, not fatal — the bench
    // must still emit its contract line
    val regressions = full.collect { case (n, (t, _)) if t < 0 => "\"" + n + "(failed)\"" }
    // Two lines, total-last: the full per-query JSON first (with the
    // total fields at the END of the object, so even a tail-truncated
    // capture of this long line still shows them), then a short
    // summary line that always fits whole inside a bounded tail
    // capture. Both are complete JSON objects.
    // the summary's metric name is distinct so a consumer grepping for
    // the "total" contract line can never match two objects
    println(s"""{"queries":${perQuery(_._1)},"shuffle_bytes":${perQuery(_._2.shuffleBytes)},"peak_mem":${perQuery(_._2.peakMem)},"jobs":${perQuery(_._2.jobs)},"stages":${perQuery(_._2.stages)},"one_task_stages":${perQuery(_._2.oneTaskStages)},"task_cpu_s":${perQuery(_._2.taskCpuS)},"metric":"total","value":$total,"unit":"sec","sf":"$sfDir"}""")
    println(s"""{"metric":"total_summary","value":$total,"unit":"sec","sf":"$sfDir","n_queries":${full.size},"regressions":${regressions.mkString("[", ",", "]")}}""")
    spark.stop()
  }

  /** One timed materialization of a row: the heap is levelled, then the
    * row's DataFrame is built and written through the `noop` sink inside
    * a [[Profile]]. Returns wall seconds (construction included, the
    * listener drain not) and the row's executed work; a failure throws.
    */
  def materialize(spark: SparkSession, sfDir: String,
                  row: (SparkSession, String) => DataFrame): (Double, Profile) = {
    // Level the heap before the timer starts: memoized-model
    // localCheckpoint blocks accumulate across the 180-row run, and
    // without this the GC debt they create lands on whichever row
    // runs NEXT — the r10 emb_jl / r11 ann_pq "flagged in-suite,
    // at-floor isolated" pattern. The pause itself is between
    // measurements, so it never inflates a reported time.
    System.gc()
    Profile(spark) {
      val t0 = System.nanoTime()
      row(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
  }
}
