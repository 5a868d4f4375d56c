package graft

/** Single-query timing harness for iteration: runs the named
  * SparkEntry queries N times each (after one warmup materialization)
  * through [[Bench.materialize]] — the same heap levelling, noop write
  * and [[Profile]] as the bench — and prints min/median per query plus
  * the min-time rep's jobs and task CPU seconds. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.TimeQuery text_repetition [more...]"
  *
  * `tools/scale_rehearsal.py` parses the `[time] <name> min=… median=…
  * reps=…` prefix of each line.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // Shuffle width decouples from thread count for the big-corpus
    // rehearsals: a real cluster scales spark.sql.shuffle.partitions
    // with data volume (thousands at 100 TB), and at x100 locally the
    // default width=threads makes each task's sort/hash state 100x the
    // bench shape — more partitions shrink per-task state while
    // local[cpus] still bounds concurrency.
    val spark = LocalSession("ERROR",
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", LocalSession.cpus))
    val benched = SparkEntry.queries ++ SparkEntry.benchOnly
    args.foreach { name =>
      def once() = Bench.materialize(spark, sfDir, benched(name))
      once() // warmup
      val runs = (1 to reps).map(_ => once()).sortBy(_._1)
      val (min, p) = runs.head
      println(f"[time] $name%-28s min=$min%.3f median=${runs(runs.size / 2)._1}%.3f reps=$reps" +
        f" jobs=${p.jobs} task_cpu_s=${p.taskCpuS}%.3f")
    }
    spark.stop()
  }
}
