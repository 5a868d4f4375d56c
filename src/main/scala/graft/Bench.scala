package graft

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

    // Per-query resource budgets (round-16 verdict item 5: time-only
    // floors leave the ×10-OOM class invisible at sf0.1): a listener
    // accumulates shuffle-WRITE bytes (the canonical shuffled-volume
    // number; read ≈ write in local mode) and the max per-task
    // peakExecutionMemory between resets. Task-end events post
    // asynchronously, so each read drains the bus first (bridge —
    // the only way to observe completion of the event stream).
    object metrics extends org.apache.spark.scheduler.SparkListener {
      val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
      val peakMem = new java.util.concurrent.atomic.AtomicLong
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          peakMem.accumulateAndGet(m.peakExecutionMemory, math.max(_, _))
        }
      }
      def reset(): Unit = { shuffleWrite.set(0L); peakMem.set(0L) }
    }
    spark.sparkContext.addSparkListener(metrics)

    // (time sec, shuffle-write bytes, peak task memory bytes); a
    // failed materialization reports time −1 with zeroed resources
    def materialize(name: String): (Double, Long, Long) = {
      // Level the heap before the timer starts: memoized-model
      // localCheckpoint blocks accumulate across the 180-row run, and
      // without this the GC debt they create lands on whichever row
      // runs NEXT — the r10 emb_jl / r11 ann_pq "flagged in-suite,
      // at-floor isolated" pattern. The pause itself is between
      // measurements, so it never inflates a reported time.
      System.gc()
      metrics.reset()
      val t0 = System.nanoTime()
      try benched(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return (-1.0, 0L, 0L)
      }
      val t = (System.nanoTime() - t0) / 1e9
      // the drain can time out (listenerBus.waitUntilEmpty throws) on a
      // loaded host — degrade that query's RESOURCE numbers rather than
      // aborting the whole run: time, the primary metric, is captured
      try org.apache.spark.sql.graft.bridge
        .drainListenerBus(spark.sparkContext, 10000L)
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name listener drain: ${e.getMessage}")
      }
      (t, metrics.shuffleWrite.get(), metrics.peakMem.get())
    }

    // setup: lay out the day-partitioned events fixture so the benched
    // q_partition_pruned_scan measures purely the pruned read, never
    // the one-time layout write.
    try operators.Bucketing.prepareDayLayout(spark, sfDir)
    catch { case _: Throwable => }

    // warmup: JVM/codegen/parquet-footer caches (not reported). Fixed
    // query — Map iteration order is unspecified, and a varying warmup
    // would shift which measured query absorbs first-touch costs.
    try materialize(benched.keys.toSeq.sorted.head)
    catch { case _: Throwable => }

    val names = benched.keys.toSeq.sorted
    val pass1 = names.map(n => n -> materialize(n)).toMap
    // per query: min-time pass wins, and its resource numbers travel
    // with it (bytes are deterministic per plan shape; the min-time
    // pass is the warmed shape for memoized-model rows)
    val full = names.map { n =>
      val p2 = materialize(n)
      val p1 = pass1(n)
      n -> (if (p1._1 < 0) p2 else if (p2._1 < 0) p1
            else if (p1._1 <= p2._1) p1 else p2)
    }
    val results = full.map { case (n, (t, _, _)) => n -> t }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val sb = full.map { case (k, (_, b, _)) => "\"" + k + "\":" + b }
      .mkString("{", ",", "}")
    val pm = full.map { case (k, (_, _, m)) => "\"" + k + "\":" + m }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // per-query budget guard: the aggregate 2×-of-baseline bar can hide
    // per-row drift under surface growth, so every query is also held
    // to 1.5× its recorded time (src/main/resources/bench_budget.tsv,
    // re-recorded via tools/check_bench_budget.py --update after an
    // intentional change). Budgets are recorded at sf0.1 (the driver's
    // official bench scale); at any other SF the comparison would be
    // all-noise (or vacuous), so the guard only arms there. Regressions
    // are reported, not fatal — the bench must still emit its contract
    // line on a noisy host. A query that FAILED (time −1) is always
    // reported, at any scale.
    val budget: Map[String, Double] = {
      val in = getClass.getResourceAsStream("/bench_budget.tsv")
      if (in == null || !sfDir.endsWith("sf0.1")) Map.empty
      else scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map { l =>
          val Array(n, t) = l.split("\t"); n -> t.toDouble
        }.toMap
    }
    val regressions = results.collect {
      case (n, t) if t < 0 => "\"" + n + "(failed)\""
      case (n, t) if budget.get(n).exists(b => t > 1.5 * b) =>
        "\"" + n + f"(${t}%.2f>1.5x${budget(n)}%.2f)" + "\""
    }
    // Two lines, total-last: the full per-query JSON first (with the
    // total fields at the END of the object, so even a tail-truncated
    // capture of this long line still shows them), then a short
    // summary line that always fits whole inside a bounded tail
    // capture. Both are complete JSON objects.
    // the summary's metric name is distinct so a consumer grepping for
    // the "total" contract line can never match two objects
    println(s"""{"queries":$qs,"shuffle_bytes":$sb,"peak_mem":$pm,"metric":"total","value":$total,"unit":"sec","sf":"$sfDir"}""")
    println(s"""{"metric":"total_summary","value":$total,"unit":"sec","sf":"$sfDir","n_queries":${results.size},"regressions":${regressions.mkString("[", ",", "]")}}""")
    spark.stop()
  }
}
