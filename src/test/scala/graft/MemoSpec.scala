package graft

import java.util.concurrent.atomic.AtomicInteger

/** The [[Memo]] contract every memoized artifact relies on: a hit
  * never reruns the builder, builders may look up other keys, a failed
  * build is not cached, and an installed value is what the next lookup
  * serves. Eviction of values whose session stopped is not exercised
  * here: every suite shares one SparkContext, which no test may stop.
  */
class MemoSpec extends SparkSpec {

  /** A tiny customer table in a fresh directory. */
  private lazy val dir: String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("memospec").toString
    Seq(1L -> "abcd", 2L -> "abce", 3L -> "abdd", 4L -> "xyz")
      .toDF("c_custkey", "c_name").write.parquet(s"$d/customer.parquet")
    d
  }

  private def key(tag: String): String = s"memospec#$tag#${System.nanoTime()}"

  test("a second lookup of the same key does not rerun the builder") {
    val k = key("hit")
    val builds = new AtomicInteger
    val first = Memo(k) { builds.incrementAndGet(); new Object }
    val second = Memo(k) { builds.incrementAndGet(); new Object }
    assert(first eq second)
    assert(builds.get === 1)
  }

  test("concurrent lookups of one key build it once") {
    val k = key("race")
    val builds = new AtomicInteger
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val tasks = (1 to 8).map(_ => pool.submit(() =>
        Memo(k) { Thread.sleep(50); builds.incrementAndGet(); new Object }))
      val got = tasks.map(_.get())
      assert(got.forall(_ eq got.head))
      assert(builds.get === 1)
    } finally pool.shutdown()
  }

  test("the Fuzzy key keeps maxForms apart: forced budget 0 and the default get separate entries") {
    val fuzzy = operators.Fuzzy
    val forcedKey = fuzzy.candidates2Key(spark, dir, 0L)
    val defaultKey = fuzzy.candidates2Key(spark, dir, fuzzy.maxBroadcastForms)
    assert(forcedKey !== defaultKey)
    val forced = fuzzy.nameJoin2(spark, dir, 0L, 0L).count()
    val default = fuzzy.nameJoin2(spark, dir).count()
    assert(forced === default && default > 0)
    def served(k: String) =
      Memo[org.apache.spark.sql.DataFrame](k)(fail(s"$k was not memoized"))
    assert(served(forcedKey) ne served(defaultKey))
  }

  test("a builder that does nested Memo lookups succeeds") {
    // enough nested inserts to force a resize of the shared map while
    // the outer build is in flight — the case a nested computeIfAbsent
    // on one ConcurrentHashMap rejects
    val outer = key("outer")
    val inner = (1 to 256).map(i => key(s"inner$i"))
    val got = Memo(outer)(inner.map(k => Memo(k)(k)).mkString)
    assert(got === inner.mkString)
    assert(inner.forall(k => Memo[String](k)(fail(s"$k was not memoized")) == k))
  }

  test("a builder that throws leaves no entry") {
    val k = key("throw")
    intercept[IllegalStateException] {
      Memo[String](k)(throw new IllegalStateException("build failed"))
    }
    val builds = new AtomicInteger
    assert(Memo(k) { builds.incrementAndGet(); "rebuilt" } === "rebuilt")
    assert(builds.get === 1)
  }

  test("an installed value is what the next lookup serves") {
    val k = key("install")
    val trained = Memo(k)(Seq(1L, 2L))
    val reloaded = Seq(1L, 2L)
    Memo.install(k, reloaded)
    assert(Memo[Seq[Long]](k)(fail("install was not served")) eq reloaded)
    assert(trained ne reloaded)
    // the operators' install slots share their lookup's key: an
    // installed model is served without training
    val w = Array(3L, -1L, 2L, 0L, 5L, -4L)
    ModelStore.install(ModelStore.perceptron, dir, w)
    assert(operators.Perceptron.trainedWeights(spark, dir) eq w)
  }
}
