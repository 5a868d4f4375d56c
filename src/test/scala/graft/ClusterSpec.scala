package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Connected components by min-label propagation: agreement with a
  * serial union-find on random graphs, and the survivors pipeline's
  * invariants on real LSH pairs.
  */
class ClusterSpec extends SparkSpec {

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct
    ids.map(i => i -> find(i)).toMap
  }

  test("clusters agree with serial union-find on random graphs — BOTH paths") {
    import spark.implicits._
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val edges = (1 to 60).map { _ =>
        val a = rnd.nextInt(40).toLong; val b = rnd.nextInt(40).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      val expected = unionFind(40, edges)
      // fast path (driver union-find) and distributed propagation must
      // land on the identical fixpoint
      val fast = Dedup.clusters(edges.toDF("a_id", "b_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val distributed = Dedup.clusters(edges.toDF("a_id", "b_id"),
          smallGraphLimit = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fast === expected, s"seed=$seed (fast path)")
      assert(distributed === expected, s"seed=$seed (distributed path)")
    }
  }

  test("long chain converges within maxIters (pointer jumping, O(log diameter))") {
    import spark.implicits._
    // a 60-node chain: plain min-label propagation needs 59 rounds and
    // would blow the default maxIters=10; path halving needs ~log2(60).
    // smallGraphLimit=0 forces the distributed loop under test.
    val edges = (0L until 59L).map(i => (i, i + 1))
    val got = Dedup.clusters(edges.toDF("a_id", "b_id"), smallGraphLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length === 60)
    assert(got.forall(_._2 === 0L), s"chain must collapse to node 0")
  }

  test("iteration cap scales with the graph: a 4096-node chain (13 jump rounds) converges") {
    import spark.implicits._
    // needs ~log2(4096)+1 = 13 rounds — past the OLD hard cap of 10
    // (the round-15 ×10 rehearsal tripped exactly this on a dense 4k
    // component); the auto cap 10+2·⌈log2(nodes)⌉ admits it with
    // headroom while still bounding a runaway loop
    val edges = (0L until 4095L).map(i => (i, i + 1))
    val got = Dedup.clusters(edges.toDF("a_id", "b_id"), smallGraphLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length === 4096)
    assert(got.forall(_._2 === 0L), "chain must collapse to node 0")
  }

  test("qualitySurvivors: highest-quality member wins, ties to smallest id, singletons survive") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    // hand-built clusters: {1,2,3} labeled 1, {4,5} labeled 4; 6 unpaired
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("id", "cluster")
    val quality = Seq(
      (1L, 10.0), (2L, 42.0), (3L, 17.0), // 2 is best in {1,2,3}
      (4L, 7.0), (5L, 7.0)                // tie in {4,5} → smallest id (4)
    ).toDF("doc_id", "quality")            // 6 has no score → survives anyway
    val surv = Dedup.qualitySurvivors(docs, labels, quality)
      .collect().map(_.getLong(0)).toSet
    assert(surv === Set(2L, 4L, 6L))
  }

  test("survivors: one representative per cluster, unpaired docs all survive") {
    val dir = "/root/testdata/sf0.001"
    val pairs = Dedup.lshCandidatePairs(spark, dir)
    val surv = Dedup.survivors(spark, dir)
    val total = Tables(spark, dir, "documents").count()
    val clustered = Dedup.clusters(pairs)
    val nClusters = clustered.select("cluster").distinct().count()
    val nClusteredDocs = clustered.count()
    // every doc either survives or was folded into a cluster rep
    assert(surv.count() === total - nClusteredDocs + nClusters)
    // no surviving pair: both ends of any candidate pair never co-survive
    val coSurvive = pairs
      .join(surv.withColumnRenamed("doc_id", "a_id"), "a_id")
      .join(surv.withColumnRenamed("doc_id", "b_id"), "b_id")
    assert(coSurvive.count() === 0)
  }

  test("dedup impact: bucket totals reconcile with the corpus and the survivor set") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val impact = graft.operators.Dedup.dedupImpact(spark, dir).collect()
    val nDocs = Tables(spark, dir, "documents").count()
    val nSurv = graft.operators.Dedup.survivors(spark, dir).count()
    // documents partition exactly into the buckets
    assert(impact.map(_.getAs[Long]("n_docs")).sum === nDocs)
    // removed docs = corpus − survivors (one kept per cluster)
    assert(impact.map(_.getAs[Long]("n_docs_removed")).sum === nDocs - nSurv)
    // singleton bucket removes nothing
    val singles = impact.find(_.getAs[Long]("size_bucket") === 1L).get
    assert(singles.getAs[Long]("n_docs_removed") === 0L)
    assert(singles.getAs[Long]("tokens_removed") === 0L)
    // token loss reconciles against a direct recompute over survivors
    val tokTotal = Tables(spark, dir, "documents")
      .agg(sum(size(split(trim(col("text")), " ")).cast("long"))).head().getLong(0)
    val survToks = Tables(spark, dir, "documents")
      .join(graft.operators.Dedup.survivors(spark, dir), "doc_id")
      .agg(sum(size(split(trim(col("text")), " ")).cast("long"))).head().getLong(0)
    assert(impact.map(_.getAs[Long]("tokens_removed")).sum === tokTotal - survToks)
  }

  test("incremental merge equals the full recompute, and delta work merges real bridges") {
    val dir = "/root/testdata/sf0.001"
    val full = Dedup.clustersQuery(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val inc = Dedup.ccIncremental(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc.size === full.size, "same node domain")
    full.foreach { case (id, c) =>
      assert(inc(id) === c, s"node $id: incremental vs full")
    }
    // the test is only meaningful if the delta actually merges or adds
    // something — otherwise the incremental path is vacuously equal
    assert(inc.keys.exists(_ % 10 == 0), "delta nodes present in the graph")
  }

  test("edge-count gate boundary: limit == edges and limit == edges - 1 agree") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    def driverBuilt(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val pairs = (1 to 40).map { _ =>
      val a = rnd.nextInt(30).toLong; val b = rnd.nextInt(30).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    val edges = 2L * pairs.size // the gate counts directed edges
    def run(limit: Long) = Dedup.clusters(pairs.toDF("a_id", "b_id"),
      smallGraphLimit = limit)
    // at the limit the driver union-find answers; one below, the
    // distributed propagation does
    assert(driverBuilt(run(edges)))
    assert(!driverBuilt(run(edges - 1)))
    val fast = run(edges).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = run(edges - 1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === dist)
    assert(fast === unionFind(30, pairs))
  }
}
