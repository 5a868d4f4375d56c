package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Synthesize a ×FACTOR corpus from an existing testdata directory —
  * the scale-rehearsal fixture (round-15 mandate): every 100 TB claim
  * rests on design discipline plus the sf0.01→sf0.1 slope audit, and
  * this generator buys the NEXT decade locally so an unbounded-state
  * mistake surfaces here, not on a user's first scale-up.
  *
  * Replication scheme ("same distributions", organic growth — not
  * verbatim copies, which would inflate duplicate-pair density
  * quadratically and mis-shape the dedup rows):
  *
  *  - every fact table gets FACTOR replicas; replica k shifts each
  *    entity id by k·10⁹ (a stride divisible by 2/5/10/25/100, so all
  *    the engine's deterministic mod-class samplers keep their
  *    sampling fraction at scale);
  *  - `documents.text` replica k>0 passes through a per-replica
  *    letter SUBSTITUTION CIPHER (alphabet rotated by k, spaces
  *    fixed) — a bijection on characters preserves every word length,
  *    every shingle-set size, and every pairwise overlap EXACTLY, so
  *    the within-replica near-duplicate structure is an isomorphic
  *    image of the base corpus (hash randomness re-rolled, structure
  *    identical) while cross-replica similarity is zero: truth pairs
  *    scale linearly ×FACTOR, the way an organically larger crawl's
  *    would. (A word-suffix transform was measured to INFLATE
  *    within-replica similarity ~1000× — longer words shift the
  *    char-shingle population toward shared intra-word shingles —
  *    which is why a length-preserving bijection is the only safe
  *    text transform here.);
  *  - `customer.c_name` replica k>0 appends a 4-char tag whose
  *    pairwise edit distance across replicas is ≥ 3 (> the fuzzy-join
  *    lev ≤ 2 threshold), so name-dup groups also replicate without
  *    cross-replica explosion;
  *  - `embeddings.embedding` replica k rotates the dimension order by
  *    k — norms and per-dim marginals are preserved, replicas are
  *    mutually decorrelated (no artificial exact-tie ANN neighbors);
  *  - dimension tables (region, nation, part, supplier) stay fixed —
  *    the catalog does not grow with order volume (the TPC-H shape),
  *    so per-part/supplier fan-in grows ×FACTOR, which is exactly the
  *    skew direction a scale rehearsal should stress;
  *  - timestamps and dates are untouched: the calendar doesn't grow
  *    with the business, per-day density does.
  */
object ScaleGen {

  /** Id stride between replicas — divisible by every modulus the
    * engine samples on (2, 5, 10, 25, 100), so mod-class samplers see
    * the same fraction at every scale.
    */
  val stride = 1000000000L

  /** Replica name tag with pairwise lev ≥ 3 across ALL replicas (and
    * ≥ 3 vs the untagged base — length gap), > the fuzzy join's
    * lev ≤ 2, so name-dup groups replicate without cross-replica
    * pairs: k ≤ 25 is the 4-char single-letter triple, k ≥ 26 the
    * 7-char two-letter code with each letter tripled (two distinct
    * codes keep LCS ≤ 3 at length 6 ⇒ lev ≥ 3; ScaleGenSpec
    * brute-force-pins every pair through factor 128 with adversarial
    * run-ending base names).
    *
    * PRECONDITION (round-18 advice): the cross-replica guarantee
    * assumes EQUAL-LENGTH base names, which the TPC-H customer
    * corpus satisfies (`Customer#%09d`, fixed 18 chars). With bases
    * of different lengths the tag of the shorter name can align
    * against the tail of the longer name itself —
    * `"x" + replicaTag(26)` = `"x aaaaaa"` vs
    * `"x aaa" + replicaTag(1)` = `"x aaa aaa"` is lev 1 — a spurious
    * cross-replica fuzzy pair. ScaleGenSpec brute-forces the
    * equal-length cross-NAME × cross-tag combinations through factor
    * 128 and pins the unequal-length counterexample as the
    * documented boundary of the invariant.
    */
  def replicaTag(k: Int): String =
    if (k == 0) ""
    else if (k <= 25) " " + ('a' + k - 1).toChar.toString * 3
    else " " + ('a' + (k - 26) / 26).toChar.toString * 3 +
      ('a' + (k - 26) % 26).toChar.toString * 3

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/root/repo/scale10"
    val factor = if (args.length > 2) args(2).toInt else 10
    // Factor bound 128 (round-17, for the ×100 rehearsal point) — the
    // binding constraint is the embedding transform (64 rotations × 2
    // sign decades); the other transforms reach further:
    //  - name tags above 26 switch to 6-char two-letter codes
    //    c1c1c1c2c2c2, each letter TRIPLED — any two distinct codes
    //    keep LCS ≤ 3 at length 6, so lev ≥ 3 (> the fuzzy lev ≤ 2
    //    threshold; ScaleGenSpec brute-force-pins all pairs through
    //    factor 128), 26 + 676 codes available;
    //  - text ciphers above 25 rotations switch to AFFINE maps
    //    i → a·i + b mod 26 with gcd(a, 26) = 1 — 12 units × 26
    //    shifts = 312 distinct bijections;
    //  - embedding rotations compose the k mod 64 rotation with a
    //    sign flip on odd k/64 decades (norm-preserving,
    //    decorrelated) — 128 distinct transforms.
    // k ≤ 25 reproduces the round-16 transforms exactly, so scale10
    // regenerates byte-identical at a given core count (the session is
    // LocalSession's; the core count sets the scan splits, and so which
    // rows land in which of the 8 output files — never the row set).
    require(factor >= 1 && factor <= 128,
      s"factor must be in [1, 128] (embedding-transform bound), got $factor")
    val spark = graft.LocalSession("WARN")

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.coalesce(8).write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")

    def shifted(c: String, k: Int) = col(c) + lit(k * stride)

    // dimension tables: fixed catalog
    Seq("region", "nation", "part", "supplier").foreach(t => write(read(t), t))

    def replicate(t: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = read(t)
      write((0 until factor).map(k => f(base, k)).reduce(_ unionByName _), t)
    }

    replicate("customer") { (df, k) =>
      df.select(shifted("c_custkey", k).as("c_custkey"),
        (if (k == 0) col("c_name")
         else concat(col("c_name"), lit(replicaTag(k)))).as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    }

    replicate("orders") { (df, k) =>
      df.select(shifted("o_orderkey", k).as("o_orderkey"),
        shifted("o_custkey", k).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }

    replicate("lineitem") { (df, k) =>
      // part/supplier keys stay in the fixed catalog's key space
      df.withColumn("l_orderkey", shifted("l_orderkey", k))
    }

    replicate("events") { (df, k) =>
      df.withColumn("event_id", shifted("event_id", k))
        .withColumn("user_id", shifted("user_id", k))
    }

    replicate("documents") { (df, k) =>
      // per-replica AFFINE substitution cipher i → a·i + b mod 26
      // (gcd(a, 26) = 1 ⇒ bijection): length-preserving ⇒ shingle
      // structure isomorphic within a replica; distinct maps for
      // every k < 312 ⇒ near-zero cross-replica overlap (two affine
      // maps agree on ≤ gcd(a1−a2, 26) letters, so multi-letter words
      // almost never coincide). k ≤ 25 degenerates to a = 1 — the
      // original rotation, so scale10 regenerates byte-identical.
      val alphabet = "abcdefghijklmnopqrstuvwxyz"
      val units = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
      val a = units((k / 26) % units.length)
      val b = k % 26
      val mapped = (0 until 26).map(i => alphabet((a * i + b) % 26)).mkString
      val txt =
        if (k == 0) col("text")
        else translate(col("text"), alphabet, mapped)
      df.select(shifted("doc_id", k).as("doc_id"), txt.as("text"),
          col("lang"), col("source"), col("n_chars"))
    }

    replicate("embeddings") { (df, k) =>
      val d = 64
      val rot = k % d
      val rotated =
        if (rot == 0) col("embedding")
        else concat(slice(col("embedding"), rot + 1, d - rot),
          slice(col("embedding"), 1, rot))
      // past 64 replicas the rotation alone repeats — compose a sign
      // flip on odd k/64 decades (norm-preserving, decorrelated, and
      // k ≤ 63 keeps the original transform so scale10 regenerates
      // byte-identical)
      val emb =
        if ((k / d) % 2 == 0) rotated
        else transform(rotated, x => -x)
      df.select(shifted("vec_id", k).as("vec_id"), emb.as("embedding"),
        col("label"))
    }

    println(s"[scalegen] wrote ${out} at factor ${factor} from ${src}")
    spark.stop()
  }
}
