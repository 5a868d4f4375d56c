package graft

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge

/** [[Profile]] counts exactly the work submitted under its job group:
  * a fixed plan gives fixed counts, a job another thread submits
  * meanwhile is left out, a broadcast's job (run on Spark's broadcast
  * thread) is kept, and on a quiet context the scoped counts equal
  * what an unscoped listener sees.
  */
class ProfileSpec extends SparkSpec {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** (jobs, stages) every thread submitted while `body` ran. */
  private def unscoped(body: => Any): (Int, Int) = {
    val sc = spark.sparkContext
    val jobs, stages = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
    }
    bridge.drainListenerBus(sc, 10000)
    sc.addSparkListener(listener)
    try {
      body
      bridge.drainListenerBus(sc, 10000)
      (jobs.get, stages.get)
    } finally sc.removeSparkListener(listener)
  }

  private def repartitionAgg: DataFrame =
    spark.range(0, 1000, 1, 4).repartition(3)
      .groupBy((col("id") % 10).as("k")).agg(count(lit(1)).as("n"))

  private def broadcastJoin: DataFrame =
    spark.range(0, 1000, 1, 4).toDF("k")
      .join(broadcast(spark.range(0, 10).toDF("k")), "k")

  test("a fixed plan: exact jobs, stages and shuffle stages, non-zero shuffle bytes") {
    val (_, p) = Profile(spark)(noop(repartitionAgg))
    // the repartition's map stage, the partial aggregate's map stage,
    // the final aggregate — each its own job under AQE
    assert((p.jobs, p.stages, p.shuffleStages) === (3, 3, 2))
    assert(p.shuffleBytes > 0)
    assert(p.taskCpuS > 0)
    assert(p.stageNames.size === p.stages)
    // the same plan again gives the same counts
    val (_, again) = Profile(spark)(noop(repartitionAgg))
    assert((again.jobs, again.stages, again.shuffleStages) === (3, 3, 2))
  }

  test("a job submitted outside the group, from another thread, is not counted") {
    // the pool's thread exists before the profile starts, so it does not
    // inherit the profile's job group
    val pool = Executors.newSingleThreadExecutor()
    try {
      pool.submit(new Runnable { def run(): Unit = () }).get()
      val (outside, p) = Profile(spark) {
        val other = pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = spark.range(0, 100, 1, 2).count()
        })
        noop(repartitionAgg)
        other.get()
      }
      assert(outside === 100L)
      assert((p.jobs, p.stages, p.shuffleStages) === (3, 3, 2))
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  test("a broadcast join's broadcast job, run on the broadcast thread, is counted") {
    val (_, p) = Profile(spark)(noop(broadcastJoin))
    // one job collects the broadcast side, one runs the join
    assert(p.jobs === 2)
    assert(p.shuffleStages === 0)
  }

  test("on a quiet context the scoped counts equal an unscoped count") {
    Seq(repartitionAgg _, broadcastJoin _).foreach { df =>
      var p: Profile = null
      val all = unscoped { p = Profile(spark)(noop(df()))._2 }
      assert((p.jobs, p.stages) === all)
    }
  }
}
