package graft

import org.apache.spark.sql.DataFrame

/** Work budget over the ENTIRE query surface: every SparkEntry query is
  * built and written through the `noop` sink at sf0.001 inside a
  * [[Profile]], and the work it EXECUTED — jobs, stages, shuffle-map
  * stages, shuffle-write bytes — is held to the recorded pin, eager
  * construction jobs and shuffles inside checkpointed subtrees included.
  * A new job, stage or shuffle sneaking into a refactor fails here until
  * consciously re-recorded. The handpicked PlanSpec assertions pin the
  * *why* for key operators; this pins the *what* for all of them.
  *
  * Regenerate after an intentional change:
  *   GRAFT_UPDATE_PLAN_BUDGET=1 sbt "testOnly graft.PlanBudgetSpec"
  * then commit the refreshed src/test/resources/executed_work.tsv
  * (name, jobs, stages, shuffle-map stages, shuffle-write bytes). Only
  * what moved is re-pinned: a row that still holds to its line keeps
  * it, a drifted or new row is rewritten, a removed row is dropped.
  *
  * Counts are exact: [[SparkSpec]] fixes local[4] and 4 shuffle
  * partitions, so they do not depend on the host, and AQE — whose
  * re-planning depends on which stage finishes first — is off while
  * they are measured. Shuffle bytes vary with the row order tasks see
  * (q_theil_sen's pairs read 8.4 to 10.9 MB across runs), so they are
  * held to a band.
  */
class PlanBudgetSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val pinFile =
    new java.io.File("src/test/resources/executed_work.tsv")
  private val rows =
    (SparkEntry.queries ++ SparkEntry.benchOnly).toSeq.sortBy(_._1)

  /** AQE re-plans a running query on whichever query stage finishes
    * first, so two runs of one plan can differ by a job (over ten warm
    * runs each, q_pagerank_dupgraph read 27 or 28 jobs, and with AQE's
    * runtime broadcast conversion off q_concurrent_sessions still read
    * 20 or 21). The pin measures the static plan: AQE off, so jobs are
    * the driver's actions and stages the plan's stages.
    */
  private val adaptive = "spark.sql.adaptive.enabled"

  /** The work of building `df` (construction jobs included) and writing it. */
  private def run(df: => DataFrame): Profile = {
    spark.conf.set(adaptive, "false")
    try Profile(spark)(df.write.format("noop").mode("overwrite").save())._2
    finally spark.conf.unset(adaptive) // SparkSpec leaves it at Spark's default
  }

  /** Shuffle bytes may move by half, or by 4 KiB on small rows. */
  private def inBand(recorded: Long, now: Long): Boolean =
    math.abs(now - recorded) <= math.max(recorded / 2, 4096L)

  /** Every row built once, in name order; returns the rows whose
    * optimized plan holds a single-partition global window. Building a
    * row builds the memos it reads, so the work pinned below is each
    * row's warm work whatever other suites ran first in this JVM.
    */
  private lazy val windowOffenders: Seq[String] = rows.flatMap { case (name, fn) =>
    fn(spark, dir).queryExecution.optimizedPlan
      .collectWithSubqueries {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty =>
          w.windowExpressions.map(_.sql).mkString(", ")
      }
      .map(w => s"$name: Window[$w] with empty partition spec")
  }

  test("no query plans a single-partition global window") {
    // `Window.orderBy` with no partitionBy moves EVERY input row to one
    // partition (Spark's own "WARN WindowExec: No Partition Defined")
    // — correct at test scale, serialized at 100 TB. Global total
    // orders must go through Ranks.global / Ranks.boundedRank instead;
    // this guard turns the runtime warning into a build failure for
    // the whole registered surface.
    assert(windowOffenders.isEmpty, windowOffenders.mkString("\n  "))
  }

  test("hash-shuffle count per query matches the recorded budget") {
    val _ = windowOffenders // every row built once: memos warm
    val actual = rows.map { case (name, fn) => name -> run(fn(spark, dir)) }
    val recorded: Map[String, String] =
      if (!pinFile.exists()) Map.empty
      else scala.io.Source.fromFile(pinFile, "UTF-8").getLines()
        .filter(_.nonEmpty).map(l => l.takeWhile(_ != '\t') -> l).toMap
    /** Why row `n`'s work `p` breaks its recorded pin; None if it holds. */
    def drift(n: String, p: Profile): Option[String] = recorded.get(n) match {
      case Some(l) =>
        val Array(_, j, s, sh, b) = l.split("\t")
        val (c, counts) = ((j.toInt, s.toInt, sh.toInt), (p.jobs, p.stages, p.shuffleStages))
        if (c == counts && inBand(b.toLong, p.shuffleBytes)) None
        else Some(s"$n: recorded (jobs, stages, shuffles) $c and $b shuffle bytes, " +
          s"now $counts and ${p.shuffleBytes}")
      case None => Some(s"$n: NEW query, no recorded pin")
    }
    val diffs = actual.flatMap { case (n, p) => drift(n, p) }
    if (sys.env.contains("GRAFT_UPDATE_PLAN_BUDGET")) {
      // re-pin only what moved: a row that holds keeps its recorded
      // line, so shuffle-byte noise inside the band is not churn
      pinFile.getParentFile.mkdirs()
      val w = new java.io.PrintWriter(pinFile, "UTF-8")
      try actual.foreach { case (n, p) =>
        w.println(if (drift(n, p).isEmpty) recorded(n)
          else Seq(n, p.jobs, p.stages, p.shuffleStages, p.shuffleBytes).mkString("\t"))
      } finally w.close()
      info(s"re-recorded ${diffs.size} of ${actual.size} pins in $pinFile")
    } else {
      assert(pinFile.exists(),
        s"missing $pinFile — run GRAFT_UPDATE_PLAN_BUDGET=1 sbt 'testOnly graft.PlanBudgetSpec'")
      val stale = recorded.keySet -- actual.map(_._1).toSet
      assert(diffs.isEmpty && stale.isEmpty,
        ("executed work drift:" +: (diffs ++ stale.map(n => s"$n: query removed")))
          .mkString("\n  "))
    }
  }
}
