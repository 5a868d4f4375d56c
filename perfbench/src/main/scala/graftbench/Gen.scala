package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Order-insensitive fingerprint of a set of (booking_id, version) rows. */
object Fold {
  def rowHash(bookingId: String, version: Long): Long = {
    val s = s"$bookingId#$version"
    (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x5be0cd19).toLong & 0xffffffffL)
  }
}

/** Debezium change envelopes in JSON wire form, generated from a seed.
  *
  * The stream is the events table read as a change log: each envelope
  * touches one booking key; the first touch of a key (or the first
  * after its delete) is a create, later touches are updates, and one in
  * ten is a delete. `source.lsn` grows strictly, with gaps, inside
  * `[lsnBase, lsnBase + 4 * envelopes)`, so generators with disjoint
  * key prefixes and LSN bases give disjoint key and LSN spaces.
  *
  * The generator keeps the fold of everything it emitted: per key the
  * last version and whether it is live. That fold is the expected FINAL
  * table.
  */
final class EnvelopeGen(seed: Long, keys: Int, prefix: String, lsnBase: Long) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val alive = new Array[Boolean](keys)
  private val status = new Array[Int](keys)
  private val created = new Array[Long](keys)
  private val modified = new Array[Long](keys)
  private val version = new Array[Long](keys)
  private var lsn = lsnBase
  var emitted = 0L

  private val statuses = Array("Open", "Created", "In Progress", "Delayed",
    "Completed", "Cancelled", "New", "Closed")
  private val epochUs = 1704067200000000L // 2024-01-01T00:00:00Z

  private def image(sb: java.lang.StringBuilder, k: Int): Unit = {
    sb.append("{\"id\":").append(k)
      .append(",\"booking_id\":\"").append(prefix).append(k)
      .append("\",\"status\":\"").append(statuses(status(k)))
      .append("\",\"is_deleted\":0,\"is_canceled\":").append(status(k) == 5)
      .append(",\"created_at\":").append(created(k))
      .append(",\"modified_at\":").append(modified(k)).append('}')
  }

  /** Append one envelope as a JSON line. */
  def appendNext(sb: java.lang.StringBuilder): Unit = {
    val k = rnd.nextInt(keys)
    lsn += 1 + rnd.nextInt(3)
    val ts = epochUs + (lsn - lsnBase) * 1000L
    val op = if (!alive(k)) "c" else if (rnd.nextInt(10) == 0) "d" else "u"
    sb.append("{\"before\":")
    if (op == "c") sb.append("null") else image(sb, k)
    op match {
      case "c" =>
        alive(k) = true; status(k) = rnd.nextInt(3); created(k) = ts; modified(k) = ts
      case "u" =>
        status(k) = rnd.nextInt(statuses.length); modified(k) = ts
      case _ =>
        alive(k) = false
    }
    version(k) = lsn
    sb.append(",\"after\":")
    if (op == "d") sb.append("null") else image(sb, k)
    sb.append(",\"source\":{\"sequence\":\"").append(lsn)
      .append("\",\"lsn\":").append(lsn).append("},\"op\":\"").append(op)
      .append("\",\"ts_ms\":").append(ts / 1000L).append("}\n")
    emitted += 1
  }

  def lines(n: Int): String = {
    val sb = new java.lang.StringBuilder(n * 420)
    var i = 0
    while (i < n) { appendNext(sb); i += 1 }
    sb.toString
  }

  /** Live keys ever touched. */
  def liveCount: Long = alive.count(identity).toLong

  /** Order-insensitive hash of the live (booking_id, version) pairs. */
  def liveHash: Long = {
    var h = 0L
    var k = 0
    while (k < keys) {
      if (alive(k)) h += Fold.rowHash(s"$prefix$k", version(k))
      k += 1
    }
    h
  }
}

object FsOps {
  /** Write a file under a dot-name first and rename it into place, so a
    * directory-listing reader never sees it half written.
    */
  def landAtomically(dir: Path, name: String, body: String): Unit = {
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      } finally s.close()
    }
}

/** The tables the corpus and analytics workloads read, in the layout
  * graft's `Tables` expects: `<dir>/<name>.parquet`, one file each.
  *
  * Contents are fixed by [[ContentSeed]], so recorded answers stay valid;
  * the workload seed only reorders rows (corpus) or calls (mix).
  */
object TableGen {
  val ContentSeed = 42L

  private val vocab = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val langs = Array("en", "en", "en", "de", "fr", "es", "zh")

  /** Documents shaped like the synthetic corpus graft is tested on:
    * 10–100 words from a 30-word vocabulary, and one in twenty a near
    * duplicate (an earlier document plus a marker word). One in eight
    * also carries one of four shared 40-word passages, the boilerplate
    * duplicate-span removal exists to cut.
    */
  def documents(n: Int): IndexedSeq[(Long, String, String, String)] = {
    val rnd = new java.util.Random(ContentSeed)
    def words(k: Int) = Array.fill(k)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val passages = Array.fill(4)(words(40))
    val texts = new Array[String](n)
    (0 until n).map { i =>
      texts(i) =
        if (i > 0 && rnd.nextInt(20) == 0) texts(rnd.nextInt(i)) + " dup"
        else if (rnd.nextInt(8) == 0)
          Seq(words(rnd.nextInt(30)), passages(rnd.nextInt(4)), words(1 + rnd.nextInt(30)))
            .filter(_.nonEmpty).mkString(" ")
        else words(10 + rnd.nextInt(91))
      (i.toLong, texts(i), langs(rnd.nextInt(langs.length)), s"src${i % 20}")
    }
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The corpus as raw JSONL, rows in a seeded order. */
  def documentsJsonl(n: Int, orderSeed: Long): String = {
    val docs = new scala.util.Random(orderSeed).shuffle(documents(n))
    docs.map { case (id, t, l, s) =>
      Jackson.write(Map("doc_id" -> id, "text" -> t, "lang" -> l, "source" -> s,
        "n_chars" -> t.length.toLong))
    }.mkString("", "\n", "\n")
  }

  private def write(spark: SparkSession, dir: String, name: String,
                    schema: StructType, rows: Seq[Row]): Unit = {
    val rdd = spark.sparkContext.parallelize(rows, 1)
    spark.createDataFrame(rdd, schema).write.mode("overwrite")
      .parquet(s"$dir/$name.parquet")
  }

  /** Every table the analytics mix reads, at `n` customers. */
  def writeMixTables(spark: SparkSession, dir: String, n: Int): Unit = {
    val rnd = new java.util.Random(ContentSeed)
    val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write(spark, dir, "customer", StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
      (0 until n).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        math.round(rnd.nextDouble() * 1000000) / 100.0,
        segments(rnd.nextInt(segments.length)))))

    val centers = Array.fill(10, 64)(rnd.nextGaussian().toFloat * 0.3f)
    write(spark, dir, "embeddings", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))),
      (0 until n).map { i =>
        val label = rnd.nextInt(10)
        Row(i.toLong,
          centers(label).map(c => c + rnd.nextGaussian().toFloat * 0.1f).toSeq,
          label)
      })

    write(spark, dir, "documents", docSchema,
      documents(n).map { case (id, t, l, s) => Row(id, t, l, s, t.length.toLong) })

    val types = Array("signup", "click", "view", "purchase", "error")
    val t0 = 1704067200000L
    val nEvents = n * 20
    val users = math.max(1, n / 10)
    write(spark, dir, "events", StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
      (0 until nEvents).map(i => Row(i.toLong,
        new Timestamp(t0 + i * 25900L + rnd.nextInt(25000)),
        rnd.nextInt(users).toLong, types(rnd.nextInt(types.length)),
        math.round(rnd.nextDouble() * 20000) / 100.0,
        s"""{"k": ${rnd.nextInt(100)}}""")))

    val nLines = n * 40
    write(spark, dir, "lineitem", StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))),
      (0 until nLines).map { i =>
        val qty = 1 + rnd.nextInt(50)
        Row((i / 4).toLong, rnd.nextInt(n * 2).toLong, rnd.nextInt(n / 10 + 1).toLong,
          i % 4 + 1, qty.toDouble, qty * (900 + rnd.nextInt(100000)) / 100.0,
          rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
          "ANR".charAt(rnd.nextInt(3)).toString, "FO".charAt(rnd.nextInt(2)).toString,
          new Timestamp(694224000000L + rnd.nextInt(2500) * 86400000L))
      })
  }
}
