package graft

import scala.jdk.CollectionConverters._

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg (local iteration only): comma-separated query names
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val spark = LocalSession("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(
      new java.io.File(s"$outDir/oracle_sql.json"),
      SparkEntry.oracleSql.filter { case (k, _) => only.forall(_.contains(k)) }.asJava)
    spark.stop()
  }
}
