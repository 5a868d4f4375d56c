package graft

/** Plan inspector: prints the formatted physical plan for one or all
  * SparkEntry queries. Usage:
  * `sbt "runMain graft.Explain [queryName ...]"` (default: all).
  * Review targets: PushedFilters reaching the scans, broadcast joins on
  * dimension tables, WholeStageCodegen span width, exchange reuse.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = LocalSession("ERROR")
    // bench-only rows (no oracle form) have plans worth reviewing too
    val all = SparkEntry.queries ++ SparkEntry.benchOnly
    val names = if (args.nonEmpty) args.toSeq else all.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      all(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
