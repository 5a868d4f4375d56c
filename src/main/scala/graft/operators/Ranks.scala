package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Global total-order ranks WITHOUT the single-partition window.
  *
  * `row_number().over(Window.orderBy(...))` with no `partitionBy` is
  * correct but serialized: Spark warns ("No Partition Defined … Moving
  * all data to a single partition") and funnels the whole input through
  * ONE WindowExec task — a scale-killer on a corpus-sized frame. The
  * two shapes here keep the exact same rank semantics with distributed
  * plans, and a PlanBudgetSpec guard bans the empty-partition window
  * from every registered query so the anti-pattern cannot recur.
  */
object Ranks {

  /** Eager `localCheckpoint` plus the frame's row count, both from the
    * ONE job the checkpoint runs: the count rides along as a
    * `Dataset.observe` metric instead of a second `count()` job over
    * the materialized table. For driver fast paths that gate on the
    * size of a table they checkpoint anyway (never `limit(n + 1)`,
    * which `executeTake` runs as a series of growing jobs).
    */
  private[operators] def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
    val rows = org.apache.spark.sql.Observation()
    val cp = df.observe(rows, count(lit(1)).as("n")).localCheckpoint()
    (cp, rows.get("n").asInstanceOf[Long])
  }

  /** Size-guarded broadcast: hint `df` for broadcast only when its
    * measured row count is under the budget — otherwise hint a
    * SHUFFLED HASH join (not the bare default: Catalyst would pick
    * sort-merge, paying a sort on the huge probe side; and at small
    * test scales it would auto-broadcast under
    * `autoBroadcastJoinThreshold`, hiding the fallback shape the spec
    * needs to certify). Both shapes are row-identical by construction
    * — the join is the same equi-join either way (FuzzyEvalSpec and
    * LineDedupSpec pin it; PlanSpec pins the shape switch at a forced
    * threshold). The count is usually [[checkpointCounted]]'s.
    */
  private[operators] def guarded(df: DataFrame, rows: Long,
                                 maxRows: Long): DataFrame =
    if (rows <= maxRows) broadcast(df) else df.hint("shuffle_hash")

  /** Distributed `row_number` over a total order — the classic
    * two-pass range-sort rank:
    *
    *   1. range-partition on the order columns (partition p's rows all
    *      sort before partition p+1's) and pin the partition id;
    *   2. count rows per partition — a tiny (numPartitions-row)
    *      aggregate collected to the driver for the cumulative
    *      offsets, the same bounded-artifact discipline as the
    *      IVF/PQ/BPE codebook pulls;
    *   3. rank locally per partition (`Window.partitionBy(pid)` — all
    *      partitions rank in parallel) and add the broadcast offset.
    *
    * The staged frame is localCheckpointed so both passes read ONE
    * materialization and the partition ids are frozen between them —
    * callers should project down to the order columns + payload before
    * ranking, which every call site here does (they rank id/score
    * projections, never wide rows).
    *
    * The order must be total (callers tie-break on a unique id), so
    * equal keys cannot straddle a range boundary and the rank is
    * deterministic at any parallelism.
    */
  /** The shared range-stage: range-partition on the order, pin the
    * partition id, and materialize once (localCheckpoint — the ids must
    * be frozen between the per-partition aggregate pass and the
    * read-off). Every entry point below is this stage plus its own
    * numPartitions-row aggregate and read-off.
    */
  private def rangeStage(df: DataFrame, order: Seq[Column]): DataFrame = {
    val nParts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.repartitionByRange(nParts, order: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
  }

  /** [[rangeStage]] plus its per-partition row counts — the staging of
    * [[global]] and [[kth]].
    */
  private def rangeStaged(df: DataFrame,
                          order: Seq[Column]): (DataFrame, Array[(Int, Long)]) = {
    val staged = rangeStage(df, order)
    val counts = staged.groupBy(col("__pid")).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    (staged, counts)
  }

  def global(df: DataFrame, rankCol: String, order: Column*): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (staged, counts) = rangeStaged(df, order)
    var acc = 0L
    val offsets = counts.map { case (p, n) => val o = acc; acc += n; (p, o) }
    val offDf = offsets.toSeq.toDF("__pid", "__off")
    val local = Window.partitionBy(col("__pid")).orderBy(order: _*)
    staged.withColumn("__lrn", row_number().over(local).cast("long"))
      .join(broadcast(offDf), "__pid")
      .withColumn(rankCol, col("__off") + col("__lrn"))
      .drop("__pid", "__lrn", "__off")
  }

  /** The k-th row (1-based) of a total order — [[global]]'s selection
    * twin for callers that read off ONE order statistic (a median, a
    * percentile pin) instead of needing every rank: same range-stage +
    * per-partition-count passes, but then sorts ONLY the partition that
    * holds rank k (the counts locate it), where [[global]] would sort
    * and rank every partition just to filter all but one row away. The
    * saved work is the whole downstream sort: at a corpus-sized input,
    * N·log(N/p) per partition across all p partitions collapses to one
    * partition's share.
    *
    * Same contracts as [[global]]: the order must be total (callers
    * tie-break on a unique column), the staged frame is materialized
    * once (localCheckpoint) so the partition ids are frozen between the
    * count pass and the read-off, and the per-partition count collect
    * is numPartitions-sized. k ≤ 0 or k > rows returns an empty frame
    * with the input schema (the degenerate-corpus contract).
    */
  def kth(df: DataFrame, k: Long, order: Column*): DataFrame = {
    // degenerate k: empty frame with the input schema, BEFORE paying
    // the range-stage + checkpoint + count jobs
    if (k <= 0) return df.filter(lit(false))
    val (staged, counts) = rangeStaged(df, order)
    var acc = 0L
    var target = -1
    var off = 0L
    counts.foreach { case (p, n) =>
      if (target < 0 && acc + n >= k) { target = p; off = acc }
      acc += n
    }
    val local = Window.partitionBy(col("__pid")).orderBy(order: _*)
    staged.filter(col("__pid") === target)
      .withColumn("__lrn", row_number().over(local).cast("long"))
      .filter(col("__lrn") === (k - off))
      .drop("__pid", "__lrn")
  }

  /** Several independent total orders ranked in ONE staged pass: the
    * input carries a TAG column naming which order each row belongs
    * to (e.g. three skinny (custkey, tag, metric) projections unioned
    * for an RFM triple-rank), and the frame is range-partitioned on
    * (tag, order...) — tags occupy contiguous partition runs, a
    * partition may straddle a tag boundary, so both the per-partition
    * counts and the local window key on (partition, tag). One
    * repartitionByRange, ONE localCheckpoint, ONE bounded
    * (numPartitions × tags)-row offsets collect, one window pass —
    * where N chained [[global]] calls would stage, materialize, and
    * collect N times over the same base frame.
    *
    * `order` must be total within every tag (tie-break on a unique
    * id), same contract as [[global]].
    */
  def globalTagged(df: DataFrame, tagCol: String, rankCol: String,
                   order: Column*): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val staged = rangeStage(df, col(tagCol).asc +: order)
    val counts = staged.groupBy(col("__pid"), col(tagCol))
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val offsets = counts.groupBy(_._2).toSeq.flatMap { case (t, rows) =>
      var acc = 0L
      rows.sortBy(_._1).map { case (p, _, n) => val o = acc; acc += n; (p, t, o) }
    }
    val offDf = offsets.toDF("__pid", tagCol, "__off")
    val local = Window.partitionBy(col("__pid"), col(tagCol)).orderBy(order: _*)
    staged.withColumn("__lrn", row_number().over(local).cast("long"))
      .join(broadcast(offDf), Seq("__pid", tagCol))
      .withColumn(rankCol, col("__off") + col("__lrn"))
      .drop("__pid", "__lrn", "__off")
  }

  /** Distributed EXCLUSIVE prefix sum over a total order — the running
    * "everything strictly before me" aggregate ([[global]]'s sibling
    * for sums instead of counts): range-partition on the order columns,
    * cumulate locally per partition (all partitions in parallel), and
    * add the cumulative per-partition totals — a numPartitions-row
    * collect, the same bounded-artifact discipline as [[global]]'s
    * offsets. The local window is `rowsBetween(unboundedPreceding,
    * -1)`, so the row's own value is excluded; callers add it back when
    * they want the inclusive form.
    *
    * The order must be total (tie-break on a unique key), same contract
    * as [[global]] — equal keys must not straddle a range boundary.
    *
    * Value contract (stated, like [[global]]'s total-order contract):
    * `valueCol` is integer-valued (int/long/decimal-integer all fine);
    * nulls count 0 toward the offsets (an all-null partition cannot
    * NPE the driver collect). ACCUMULATION IS EXACT DECIMAL(38,0), on
    * both the distributed passes and the BigInt driver offsets, and
    * `sumCol` comes back DECIMAL(38,0): the running values the callers
    * build are PRODUCTS of corpus counts — the KS gap |n₂·cum₁ −
    * n₁·cum₂| is bounded by 2·n₁·n₂ and the AUC win count by n⁺·n⁻,
    * both past int64's 9.2·10¹⁸ at ~3·10⁹ rows per side, i.e. inside
    * the 100 TB envelope where an int64 prefix would WRAP silently
    * (not null — wrong answers). DECIMAL(38,0) holds them to ~10¹⁹
    * rows per side.
    */
  def prefixSum(df: DataFrame, valueCol: String, sumCol: String,
                order: Column*): DataFrame = {
    val spark = df.sparkSession
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val staged = rangeStage(df, order)
    val sums = staged.groupBy(col("__pid"))
      .agg(sum(col(valueCol).cast(d38)).as("__s"))
      .collect()
      .map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) BigInt(0) else BigInt(r.getDecimal(1).toBigInteger)))
      .sortBy(_._1)
    var acc = BigInt(0)
    val offsets = sums.map { case (p, s) => val o = acc; acc += s; (p, o) }
    val offDf = spark.createDataFrame(
      java.util.Arrays.asList(offsets.map { case (p, o) =>
        org.apache.spark.sql.Row(p, new java.math.BigDecimal(o.bigInteger))
      }: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__pid",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("__off", d38,
          nullable = false))))
    val local = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    staged
      .withColumn("__lps",
        coalesce(sum(col(valueCol).cast(d38)).over(local),
          lit(0L).cast(d38)))
      .join(broadcast(offDf), "__pid")
      .withColumn(sumCol, (col("__off") + col("__lps")).cast(d38))
      .drop("__pid", "__lps", "__off")
  }

  /** Distributed EXCLUSIVE running max over a total order —
    * [[prefixSum]]'s sibling for max: each row gets the max of
    * `valueCol` over all rows STRICTLY before it (NULL for the global
    * first row, so "no predecessor" is distinguishable from any real
    * value). Same two-pass shape: range-partition on the order, one
    * bounded numPartitions-row collect of per-partition maxes turned
    * into running-max offsets, then a local exclusive window max
    * combined with the broadcast offset via `greatest` (which skips
    * the NULL offset of the first partitions).
    *
    * Same contracts as [[prefixSum]]: total order (tie-break on a
    * unique key) and an integer-valued `valueCol` (cast to bigint;
    * nulls never contribute — `max` skips them on both passes).
    */
  def prefixMax(df: DataFrame, valueCol: String, maxCol: String,
                order: Column*): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val staged = rangeStage(df, order)
    val maxes = staged.groupBy(col("__pid"))
      .agg(max(col(valueCol).cast("long")).as("__m"))
      .collect()
      .map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .sortBy(_._1)
    var acc: Option[Long] = None
    val offsets = maxes.map { case (p, m) =>
      val o = acc
      acc = (acc ++ m).reduceOption(_ max _)
      (p, o)
    }
    val offDf = offsets.toSeq.toDF("__pid", "__off")
    val local = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    staged
      .withColumn("__lpm", max(col(valueCol).cast("long")).over(local))
      .join(broadcast(offDf), "__pid")
      .withColumn(maxCol, greatest(col("__off"), col("__lpm")))
      .drop("__pid", "__lpm", "__off")
  }

  /** Exact `row_number` under (score DESC, id ASC) for a BOUNDED frame
    * (a TakeOrdered output — tens to hundreds of rows) with no window
    * at all: rank(x) = 1 + |{y : y.score > x.score ∨ (y.score = x.score
    * ∧ y.id < x.id)}|, a broadcast non-equi self-join + count. O(n²)
    * comparisons is the right trade at these sizes, and the plan stays
    * whole-stage-codegen joins/aggregates end to end.
    *
    * Requires `id` unique (makes the order total, so the count-based
    * rank IS row_number) and `score` non-null.
    */
  def boundedRank(df: DataFrame, rankCol: String, score: String,
                  id: String): DataFrame = {
    // The frame is TakeOrdered-bounded (tens of rows) but its LINEAGE
    // can be a whole retrieval pipeline (BM25 scan+shuffle, a corpus
    // cosine top-k): the three references below — the peers broadcast,
    // the ahead join's probe side, and the final join's left side —
    // would each re-execute that lineage (r19 measured: rrfFusion's
    // nested boundedRanks re-ran the corpus pipelines ~3x apiece,
    // a 2,030-line plan and a flat 2.3 s scheduling floor at ANY
    // scale). Checkpoint the bounded frame once so the pipeline runs
    // once and every reference reads the tens-of-rows materialization.
    val d = df.localCheckpoint()
    val peers = d.select(col(score).as("__s"), col(id).as("__i"))
    val ahead = d
      .join(broadcast(peers),
        col("__s") > col(score) ||
          (col("__s") === col(score) && col("__i") < col(id)),
        "left_outer")
      .groupBy(col(id))
      .agg((count(col("__i")) + lit(1L)).as(rankCol))
    d.join(broadcast(ahead), Seq(id))
  }
}
