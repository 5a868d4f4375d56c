package graft

import org.apache.spark.sql.SparkSession

/** The local session every main ([[Bench]], [[TimeQuery]], [[Verify]],
  * [[Explain]], the example pipelines, [[tools.ScaleGen]] and
  * [[tools.HotLineGen]]) runs under: `local[SPARK_GRAFT_CPUS]` (default 4), that
  * many shuffle partitions unless the caller widens them, AQE on, UTC,
  * no UI.
  */
object LocalSession {
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def apply(logLevel: String, shufflePartitions: String = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
