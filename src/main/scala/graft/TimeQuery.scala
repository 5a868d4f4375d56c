package graft

/** Single-query timing harness for iteration: runs the named
  * SparkEntry queries N times each (after one warmup materialization)
  * under the same session config as [[Bench]] and prints min/median
  * per query. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.TimeQuery text_repetition [more...]"
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
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      benched(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    args.foreach { name =>
      once(name) // warmup
      val ts = (1 to reps).map(_ => once(name)).sorted
      println(f"[time] $name%-28s min=${ts.head}%.3f median=${ts(ts.size / 2)}%.3f reps=$reps")
    }
    spark.stop()
  }
}
