package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass n-gram MinHash kernel, called from both the interpreted and
  * codegen paths of [[NgramMinHashMd5]].
  *
  * Semantics (bit-for-bit what the DuckDB oracle computes): for every
  * window of `n` code points of `text`, take a *family* of md5 digests —
  * `md5(g)`, `md5(g || '1')`, `md5(g || '2')`, … (ASCII digit suffix per
  * seeded digest; seed 0 is unsuffixed, keeping the 4-hash family
  * byte-identical to the original definition) — slice each 32-hex-char
  * digest into four 8-hex-char substrings, giving `k` independent hash
  * functions from `ceil(k/4)` digests; return the per-slice minimum as
  * lowercase hex strings. Real near-dup dedup needs 16–128 permutations
  * with threshold-tuned b×r banding; md5's 128 bits cap a single digest
  * at 4 slices, so the seed suffix extends the family without leaving
  * the one hash primitive Spark and DuckDB share bit-for-bit.
  *
  * Why this is fast where the equivalent
  * `transform(shingles, g -> md5(g))` pipeline is not: no shingle string
  * array, no per-shingle UTF8String, no 32-char hex digest string — the
  * window is hashed directly from the row's UTF-8 byte buffer
  * (`md.update(bytes, off, len)`), the digest goes into one reused
  * 16-byte buffer, and each 8-hex-char slice is compared as an unsigned
  * 32-bit int (hex is order-preserving: fixed-width lowercase hex sorts
  * identically to the unsigned value). Only the k winning slices are
  * ever formatted as strings, once per row.
  */
object MinHashUtil {

  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** UTF-8 seed suffixes for digests 1..63 (digest 0 is unsuffixed). */
  private val seedSuffix: Array[Array[Byte]] =
    Array.tabulate(64)(d => d.toString.getBytes("UTF-8"))

  /** @return array<string> of `k` 8-hex-char minima, or null if the text
    *         has fewer than `n` code points (mirrors `array_min([])`).
    */
  def ngramMinHashMd5(text: UTF8String, n: Int, k: Int): ArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    // Code-point start offsets (UTF-8 continuation bytes are 10xxxxxx);
    // windows are n code points, matching substr() in Spark and DuckDB.
    val starts = new Array[Int](len + 1)
    var m = 0
    var i = 0
    while (i < len) {
      if ((bytes(i) & 0xC0) != 0x80) { starts(m) = i; m += 1 }
      i += 1
    }
    starts(m) = len
    if (m < n) return null

    val md = md5.get()
    val digest = new Array[Byte](16)
    val mins = Array.fill(k)(0xFFFFFFFFL)
    val numDigests = (k + 3) / 4
    var w = 0
    while (w <= m - n) {
      var d = 0
      while (d < numDigests) {
        md.reset()
        md.update(bytes, starts(w), starts(w + n) - starts(w))
        if (d > 0) md.update(seedSuffix(d))
        md.digest(digest, 0, 16)
        var j = d * 4
        val jEnd = if (j + 4 < k) j + 4 else k
        while (j < jEnd) {
          val o = (j - d * 4) * 4
          val v = ((digest(o) & 0xFFL) << 24) | ((digest(o + 1) & 0xFFL) << 16) |
            ((digest(o + 2) & 0xFFL) << 8) | (digest(o + 3) & 0xFFL)
          if (v < mins(j)) mins(j) = v
          j += 1
        }
        d += 1
      }
      w += 1
    }
    val out = new Array[AnyRef](k)
    var j = 0
    while (j < k) {
      out(j) = UTF8String.fromString(f"${mins(j)}%08x")
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Mersenne prime 2³¹−1 — the modulus of the affine MinHash family.
    * All intermediates of (a·h + b) mod P with a,h,b < P stay under
    * 2⁶², so the arithmetic is overflow-free in signed 64-bit on both
    * Spark and the DuckDB oracle.
    */
  val AffineP = 2147483647L

  /** Pairwise-independent affine coefficients aⱼ∈[1,P), bⱼ∈[0,P) for up
    * to 256 hash functions, from a fixed-seed generator (java.util.Random
    * is algorithmically specified, so the family is stable across JVMs).
    * [[graft.SparkEntry]] embeds the same values as literals in the
    * DuckDB oracle SQL.
    */
  private val affineConsts: (Array[Long], Array[Long]) = {
    val rnd = new java.util.Random(20240812L)
    val a = Array.fill(256)(1L + rnd.nextInt((AffineP - 1).toInt))
    val b = Array.fill(256)(rnd.nextInt(AffineP.toInt).toLong)
    (a, b)
  }
  def affineA(j: Int): Long = affineConsts._1(j)
  def affineB(j: Int): Long = affineConsts._2(j)

  /** Production-width ("wide") MinHash: ONE md5 digest per n-code-point
    * window supplies a 32-bit base hash h (first 4 digest bytes,
    * big-endian unsigned — numerically the same slice 0 the seeded-slice
    * family uses); hash function j is the affine permutation
    * (aⱼ·(h mod P) + bⱼ) mod P. Cost per window is one digest + k
    * multiply-adds, versus ⌈k/4⌉ digests for the seeded-slice family —
    * at k=64 that is 1/16th the hashing, which is what makes 64–128
    * permutations affordable on a 100 TB corpus.
    *
    * @return array<bigint> of k minima, or null if the text has fewer
    *         than `n` code points (mirrors `array_min([])`).
    */
  def ngramMinHashAffine(text: UTF8String, n: Int, k: Int): ArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    val starts = new Array[Int](len + 1)
    var m = 0
    var i = 0
    while (i < len) {
      if ((bytes(i) & 0xC0) != 0x80) { starts(m) = i; m += 1 }
      i += 1
    }
    starts(m) = len
    if (m < n) return null

    val md = md5.get()
    val digest = new Array[Byte](16)
    val a = affineConsts._1
    val b = affineConsts._2
    val mins = Array.fill(k)(Long.MaxValue)
    var w = 0
    while (w <= m - n) {
      md.reset()
      md.update(bytes, starts(w), starts(w + n) - starts(w))
      md.digest(digest, 0, 16)
      val h = ((digest(0) & 0xFFL) << 24) | ((digest(1) & 0xFFL) << 16) |
        ((digest(2) & 0xFFL) << 8) | (digest(3) & 0xFFL)
      val hm = h % AffineP
      var j = 0
      while (j < k) {
        val v = (a(j) * hm + b(j)) % AffineP
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      w += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }
}

/** Native codegen'd n-gram MinHash signature of a string column in one
  * pass (see [[MinHashUtil.ngramMinHashMd5]] for the kernel and the
  * oracle-parity contract).
  *
  * `ngram_minhash_md5(text, n, k)` ≡
  * `array(min(substr(md5(g),1,8)), …, min(substr(md5(g || '1'),1,8)), …)`
  * over all `n`-code-point windows `g` of `text` — hash function
  * `j` is 8-hex-char slice `j % 4` of the seeded digest
  * `md5(g || seed)` with seed `j / 4` ('' for 0, the ASCII decimal
  * otherwise) — but ~20× faster: the composed-builtin form materializes
  * a shingle array and a 32-char hex digest per shingle through the
  * interpreted higher-order-function path, while this kernel stays
  * inside whole-stage codegen and hashes windows straight out of the
  * row's UTF-8 buffer.
  *
  * Returns null when `text` is null or shorter than `n` code points
  * (mirroring `array_min` over an empty shingle array).
  */
object NgramMinHashMd5 extends Kernel("ngram_minhash_md5", 1,
    Seq("shingle width n", "numHashes k"), mayReturnNull = true) {
  override def check(s: Seq[Int]): Unit = {
    require(s(0) >= 1, s"shingle width must be >= 1, got ${s(0)}")
    require(s(1) >= 1 && s(1) <= 256,
      s"numHashes must be in [1, 256] (64 seeded digests × 4 slices), got ${s(1)}")
  }
  def bind(t: Seq[DataType], s: Seq[Int]): Either[String, (String, DataType)] =
    stringChild(t, "MinHashUtil.ngramMinHashMd5", ArrayType(StringType, containsNull = false))

  /** Column-API entry point: `minhashSignature($"text", 8, 4)`. */
  def signature(text: Column, n: Int, numHashes: Int): Column = call(Seq(text), n, numHashes)
}

/** Native codegen'd production-width n-gram MinHash (see
  * [[MinHashUtil.ngramMinHashAffine]] for the kernel and the
  * oracle-parity contract).
  *
  * `ngram_minhash_affine(text, n, k)` ≡ for every n-code-point window
  * g: base hash h = first 8 hex chars of md5(g) as an unsigned 32-bit
  * value; hash j = (aⱼ·(h mod P) + bⱼ) mod P over the Mersenne prime
  * P = 2³¹−1 with fixed pairwise-independent coefficients
  * ([[MinHashUtil.affineA]]/[[MinHashUtil.affineB]]); the signature is
  * the per-function minimum over all windows.
  *
  * This is the scale path for 100 TB dedup: one digest per window + k
  * multiply-adds, versus ⌈k/4⌉ digests for the seeded-md5-slice family
  * ([[NgramMinHashMd5]], kept as the oracle-parity narrow path at
  * k=16) — 16× less hashing at k=64.
  *
  * Returns null when `text` is null or shorter than `n` code points.
  */
object NgramMinHashAffine extends Kernel("ngram_minhash_affine", 1,
    Seq("shingle width n", "numHashes k"), mayReturnNull = true) {
  override def check(s: Seq[Int]): Unit = {
    require(s(0) >= 1, s"shingle width must be >= 1, got ${s(0)}")
    require(s(1) >= 1 && s(1) <= 256, s"numHashes must be in [1, 256], got ${s(1)}")
  }
  def bind(t: Seq[DataType], s: Seq[Int]): Either[String, (String, DataType)] =
    stringChild(t, "MinHashUtil.ngramMinHashAffine", longs)

  /** Column-API entry point: `NgramMinHashAffine.signature($"text", 8, 64)`. */
  def signature(text: Column, n: Int, numHashes: Int): Column = call(Seq(text), n, numHashes)
}
