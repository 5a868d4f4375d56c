package graft

import org.apache.spark.sql.SparkSession

/** Content-version keys for the [[Memo]] entries (trained
  * centroids/codebooks/BPE models, checkpointed derived tables).
  *
  * Every [[Memo]] key except the layout readers' (whose layout path is
  * itself content-versioned) is built here so that REGENERATED
  * source data under the same path — which the test harness does
  * between rounds, and a production lake does on every backfill — can
  * never serve a stale artifact: the key carries a per-file
  * name/size/mtime fingerprint of the source table, so new content is
  * a new key and the old entry simply goes cold. Values that hold
  * session state (checkpointed DataFrames strongly reference their
  * SparkSession, so a weak/soft session key would never collect — the
  * round-8 WeakHashMap lesson) also mix in the session identity;
  * [[Memo]] drops them once that session stops. Session-free values
  * live for the JVM, which is honest: the JVMs that hold them (one sbt
  * test run, one Bench/Verify main) are short-lived by design, and the
  * values are model-artifact-sized, not corpus copies.
  */
object DataVersion {

  /** Per-file fingerprint of `dir/table.parquet` — cheap (one
    * directory listing), stable while the data is, different for any
    * rewrite.
    */
  def fingerprint(dir: String, table: String): String = {
    val src = new java.io.File(dir, s"$table.parquet")
    val files =
      if (src.isDirectory) Option(src.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      else Seq(src)
    files.map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .sorted.mkString("|").hashCode.toString
  }

  /** Memo key for session-free driver-data artifacts (plain Seqs). */
  def key(dir: String, table: String, tag: String = ""): String =
    s"$dir#$tag#${fingerprint(dir, table)}"

  /** Memo key for session-bound values (checkpointed DataFrames,
    * resolved readers): adds the owning session's identity.
    */
  def sessionKey(spark: SparkSession, dir: String, table: String,
                 tag: String = ""): String =
    s"${System.identityHashCode(spark)}#${key(dir, table, tag)}"
}
