package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Testdata table loader (`/root/testdata/sf{N}/<name>.parquet`,
  * TESTDATA.md). One parquet directory per table; explicit paths, no
  * catalog — the driver's DuckDB oracle reads the same files.
  */
object Tables {

  /** The events table's `ts` has shipped in two physical forms across
    * testdata generations: TIMESTAMP(NANOS) (which Spark 4 refuses by
    * default — read nanos as long and floor-divide to micros, the same
    * truncation DuckDB applies narrowing to its native micros) and
    * plain TIMESTAMP(MICROS) with isAdjustedToUTC=false (which Spark
    * reads as TIMESTAMP_NTZ — cast to TIMESTAMP under the pinned UTC
    * session, the same naive reading DuckDB gives it). Both normalize
    * to identical session-TZ timestamps, so operators and oracle
    * comparisons are generation-agnostic.
    *
    * The schema comes from ONE data file's footer, read on the driver
    * (the first data file in path order — the file Spark's own
    * non-merging inference reads, converted by Spark's own
    * `ParquetToSparkSchemaConverter` under the session conf) and is
    * handed to `spark.read.schema(..)`: no schema-inference job is
    * submitted (`spark.read.parquet(path)` runs a one-task
    * `mergeSchemasInParallel` job per call). A path that is missing or
    * empty, partitioned (`k=v` subdirectories), carries parquet
    * summary files or an empty file, or has an unreadable footer falls
    * back to Spark's inference, so the answer — and the error for a
    * bad path — is Spark's in every case.
    */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = pathOf(sfDir, name)
    load(spark, name, path, listing(spark, path))
  }

  private def pathOf(sfDir: String, name: String): String =
    s"$sfDir/$name.parquet"

  private def load(spark: SparkSession, name: String, path: String,
                   files: Option[Listing]): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = files.flatMap(footerSchema(spark, _)) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) if name == "events" =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case Some(org.apache.spark.sql.types.TimestampNTZType)
          if name == "events" =>
        df.withColumn("ts", expr("cast(ts as timestamp)"))
      case _ => df
    }
  }

  /** One listing of a table path, shared by the schema read and the
    * [[spread]] gate. `data` holds the non-hidden regular files;
    * `plain` is false when the layout needs Spark's own inference
    * (subdirectories, summary files, an empty file, or no file).
    */
  private final case class Listing(
      conf: org.apache.hadoop.conf.Configuration,
      data: Seq[org.apache.hadoop.fs.FileStatus],
      plain: Boolean)

  /** None when the path is missing or cannot be listed. */
  private def listing(spark: SparkSession, path: String): Option[Listing] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val conf = spark.sessionState.newHadoopConf()
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return None
      val st = fs.getFileStatus(p)
      if (!st.isDirectory) return Some(Listing(conf, Seq(st), st.getLen > 0))
      // Spark's own hidden-name rule (InMemoryFileIndex)
      val (hidden, visible) = fs.listStatus(p).toSeq.partition { f =>
        val n = f.getPath.getName
        (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
          n.endsWith("._COPYING_")
      }
      val summaries = hidden.exists { f =>
        val n = f.getPath.getName
        n == "_metadata" || n == "_common_metadata"
      }
      val data = visible.filter(_.isFile)
      Some(Listing(conf, data,
        plain = data.nonEmpty && data.size == visible.size && !summaries &&
          data.forall(_.getLen > 0)))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The first data file's schema, None when the layout or the footer
    * needs Spark's inference instead.
    */
  private def footerSchema(spark: SparkSession, l: Listing)
      : Option[org.apache.spark.sql.types.StructType] =
    if (!l.plain) None
    else try {
      Some(org.apache.spark.sql.graft.bridge.parquetFooterSchema(
        spark, l.conf, l.data.minBy(_.getPath.toString)))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** [[apply]], spread to full core parallelism when the SCAN cannot
    * provide it — the feeder for CPU-heavy per-row kernels (md5
    * shingling, image codecs, Levenshtein verify).
    *
    * A parquet row group is the unit of scan parallelism; the testdata
    * tables ship as single-row-group files, so every scan is ONE task
    * regardless of `minPartitionNum` — and any expensive kernel fused
    * above that scan serializes on one core (guide §2.5: "one huge
    * unsplittable file … repartition immediately after the read"). The
    * hash repartition spreads the rows across
    * `spark.sql.shuffle.partitions` at the cost of shuffling the
    * projected columns once.
    *
    * Scale-adaptive by construction, not a local[32] constant: the
    * repartition only engages when the table is genuinely ONE scan
    * split — exactly one non-hidden data file, and that file either
    * fits inside `spark.sql.files.maxPartitionBytes` (the whole table
    * is one split anyway — one extra tiny shuffle) or holds a single
    * parquet row group (the unsplittable-big-file case; byte-range
    * splits past the first are empty, so the scan is still one task).
    * Any directory-backed multi-file table or multi-row-group file
    * already scans wide: the branch is the identity and no payload
    * byte is ever re-shuffled. Sizes/row groups come from the Hadoop
    * FileSystem + the parquet footer (driver-side metadata reads — no
    * job, no `.rdd`; the round-18 `java.io.File.length()` gate read a
    * DIRECTORY's entry size (~4 KB) and would have re-shuffled a
    * production table).
    *
    * Key contract: the spread hashes ONE column — `keyCol`, defaulting
    * to the LEADING column — which must be non-null high-cardinality
    * or the repartition collapses (xxhash64(null) is the seed for
    * every row). Hashing the whole row would drag every column into
    * the scan's ReadSchema and defeat column pruning (guide §2.3
    * "project before the exchange"). Every testdata table leads with
    * a high-cardinality id key; a call site whose table does not MUST
    * pass `keyCol` explicitly.
    */
  def spread(spark: SparkSession, sfDir: String, name: String,
             keyCol: String = null): DataFrame = {
    val path = pathOf(sfDir, name)
    val files = listing(spark, path)
    val df = load(spark, name, path, files)
    if (files.exists(oneSplit(spark, _))) {
      val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
      // deterministic hash key, 32n distinct values (guide §2.5):
      // round-robin repartition would pay a LOCAL SORT of the single
      // input partition first (sortBeforeRepartition, on by default
      // for retry determinism) — serial again for exactly the tables
      // this helper exists to spread; a deterministic hash key needs
      // no such sort and stays retry-safe.
      val kc = if (keyCol == null) df.columns.head else keyCol
      val key = org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.col(kc)),
        org.apache.spark.sql.functions.lit(32L * n))
      df.repartition(n, key)
    } else df
  }

  /** True iff the table at `path` will scan as ONE task: exactly one
    * non-hidden, non-empty data file (the path itself, or the sole
    * data file of a directory-backed table), and that file is either
    * within one `maxPartitionBytes` split or a single parquet row
    * group. Errors (missing path, unreadable footer) read as `false`
    * — the identity path is always the safe side.
    */
  private[graft] def scanIsOneSplit(spark: SparkSession,
                                    path: String): Boolean =
    listing(spark, path).exists(oneSplit(spark, _))

  private def oneSplit(spark: SparkSession, l: Listing): Boolean =
    try {
      val data = l.data.filter(_.getLen > 0)
      if (data.size != 1) return false
      val maxPart =
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
          spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
      data.head.getLen <= maxPart || parquetRowGroups(l.conf, data.head) == 1
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Row-group count off the parquet footer — only consulted for a
    * single data file LARGER than one split, so the testdata fast
    * path never pays the footer read.
    */
  private def parquetRowGroups(conf: org.apache.hadoop.conf.Configuration,
                               f: org.apache.hadoop.fs.FileStatus): Int = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromStatus(f, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRowGroups.size
    finally r.close()
  }
}
