package graft

import graft.sources.CorpusIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[Tables]] reads a table's schema from one data file's footer on the
  * driver instead of letting `spark.read.parquet` infer it with a job.
  * The schema must be exactly the one inference gives (names, types,
  * nullability, metadata) after Tables' own `events.ts` fix-ups, for
  * every layout the engine reads; layouts the footer read does not
  * cover must still go through Spark's inference.
  */
class TablesSchemaSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Jobs submitted by `body` on this thread (tagged by a job group so
    * nothing else running in the JVM is counted).
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val (out, p) = Profile(spark)(body)
    (out, p.jobs)
  }

  /** What `spark.read.parquet` infers, with the `events.ts` fix-ups
    * Tables applies on top of it.
    */
  private def inferred(dir: String, name: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    val fixed: DataFrame =
      df.schema.fields.find(_.name == "ts").map(_.dataType) match {
        case Some(LongType) if name == "events" =>
          df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case Some(TimestampNTZType) if name == "events" =>
          df.withColumn("ts", expr("cast(ts as timestamp)"))
        case _ => df
      }
    fixed.schema
  }

  private def assertSameSchema(dir: String, name: String): Unit = {
    val (got, jobs) = jobsOf(Tables(spark, dir, name).schema)
    val want = inferred(dir, name)
    assert(got === want, s"$dir/$name")
    // field-by-field too, so a failure names the column
    got.fields.zip(want.fields).foreach { case (g, w) =>
      assert((g.name, g.dataType, g.nullable, g.metadata) ===
        (w.name, w.dataType, w.nullable, w.metadata), s"$dir/$name.${g.name}")
    }
    assert(jobs === 0, s"$dir/$name: Tables submitted $jobs job(s)")
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A parquet file with an `events`-shaped `ts` in the given physical
    * form, written by parquet's own example writer — no Spark row
    * metadata in the footer, like the testdata's non-Spark writer.
    */
  private def writeEvents(dir: String, tsType: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 event_id; optional int64 ts ($tsType); " +
        "optional binary event_type (STRING); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet/part-0.parquet"))
      .withType(schema)
      .withConf(spark.sessionState.newHadoopConf())
      .build()
    val f = new SimpleGroupFactory(schema)
    try (1L to 3L).foreach { i =>
      w.write(f.newGroup().append("event_id", i)
        .append("ts", 1700000000000000000L + i * 1000000000L)
        .append("event_type", s"t$i"))
    } finally w.close()
  }

  test("every sf0.001 table: footer schema == inferred schema, no job") {
    val names = new java.io.File(sf).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    assert(names.contains("documents") && names.contains("events"))
    names.foreach(assertSameSchema(sf, _))
  }

  test("CorpusIngest output and a multi-file directory match inference") {
    val raw = tmpDir("tables-ingest")
    java.nio.file.Files.write(java.nio.file.Paths.get(raw, "part-0.jsonl"),
      Seq("""{"doc_id": 1, "text": "one two", "lang": "en", "source": "a", "n_chars": 7}""",
        """{"doc_id": 2, "text": "three", "lang": "de", "source": "b", "n_chars": 5}""")
        .mkString("\n").getBytes("UTF-8"))
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    val ingested = tmpDir("tables-ingested")
    CorpusIngest.clean(CorpusIngest.readJsonl(spark, raw, docSchema))
      .select(docSchema.fieldNames.map(col).toIndexedSeq: _*)
      .write.parquet(s"$ingested/documents.parquet")
    assertSameSchema(ingested, "documents")

    import spark.implicits._
    val multi = tmpDir("tables-multi")
    (1L to 300L).map(i => (i, s"v$i", i * 0.5)).toDF("id", "v", "x")
      .withColumn("v", col("v").as("v", new MetadataBuilder()
        .putString("comment", "carried through the footer").build()))
      .repartition(4).write.parquet(s"$multi/t.parquet")
    assert(new java.io.File(s"$multi/t.parquet").listFiles()
      .count(_.getName.endsWith(".parquet")) > 1)
    assertSameSchema(multi, "t")
    assert(Tables(spark, multi, "t").schema("v").metadata.getString("comment") ===
      "carried through the footer")
    assert(Tables(spark, multi, "t").count() === 300L)
  }

  test("both physical forms of events.ts: NANOS as long and NTZ micros") {
    val nanos = tmpDir("tables-nanos")
    writeEvents(nanos, "TIMESTAMP(NANOS,true)")
    assertSameSchema(nanos, "events")
    val ntz = tmpDir("tables-ntz")
    writeEvents(ntz, "TIMESTAMP(MICROS,false)")
    assertSameSchema(ntz, "events")
    // both normalize to session timestamps
    assert(Tables(spark, nanos, "events").schema("ts").dataType === TimestampType)
    assert(Tables(spark, ntz, "events").schema("ts").dataType === TimestampType)
    assert(Tables(spark, nanos, "events").count() === 3L)
  }

  test("fallbacks: partitioned, empty and missing paths still go through inference") {
    import spark.implicits._
    // partitioned: the partition column comes from inference
    val part = tmpDir("tables-part")
    (1L to 20L).map(i => (i, i % 2)).toDF("id", "k")
      .write.partitionBy("k").parquet(s"$part/t.parquet")
    val (schema, jobs) = jobsOf(Tables(spark, part, "t").schema)
    assert(schema === spark.read.parquet(s"$part/t.parquet").schema)
    assert(schema.fieldNames.toSeq === Seq("id", "k"))
    assert(jobs >= 1, "a partitioned table must be inferred by Spark")
    assert(Tables(spark, part, "t").count() === 20L)

    // an empty directory and a missing path fail exactly as Spark does
    val empty = tmpDir("tables-empty")
    new java.io.File(s"$empty/t.parquet").mkdirs()
    def err(body: => Any): String =
      intercept[org.apache.spark.sql.AnalysisException](body).getCondition
    assert(err(Tables(spark, empty, "t")) ===
      err(spark.read.parquet(s"$empty/t.parquet")))
    assert(err(Tables(spark, empty, "nope")) ===
      err(spark.read.parquet(s"$empty/nope.parquet")))

    // an unreadable footer: Tables hands the path to Spark, which
    // reports the corrupt file itself
    val bad = tmpDir("tables-bad")
    new java.io.File(s"$bad/t.parquet").mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(bad, "t.parquet", "part-0.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    val ours = intercept[Exception](Tables(spark, bad, "t").schema)
    val theirs = intercept[Exception](spark.read.parquet(s"$bad/t.parquet").schema)
    assert(ours.getClass === theirs.getClass)
  }
}
