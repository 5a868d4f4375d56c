package graft.examples

import graft.operators.Multimodal
import org.apache.spark.sql.functions._

/** End-to-end multimodal curation pass — what an image/audio/video
  * ingest runs before any expensive model sees a byte, composed from
  * the library's REAL-codec operators: perceptual-hash image dedup
  * (synthesize PNGs → ImageIO round-trip → dHash → banded Hamming
  * pairs → incremental delta-vs-base probe), audio feature + spectral
  * extraction (WAV synth → javax.sound parse → integer-exact features
  * → Goertzel probe bank), and the RIFF/AVI frame walk. Every number
  * here is either oracle-certified or sine-physics-spec'd elsewhere;
  * the demo is their composition over sf0.001.
  *
  *   sbt "runMain graft.examples.MediaDemo"
  */
object MediaDemo {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.LocalSession("ERROR")

    val hashes = Multimodal.dhashIndex(spark, dir).collect()
    println(s"[demo] dhash index: ${hashes.length} images hashed " +
      "(PNG encode -> ImageIO decode -> 64-bit difference hash)")

    val pairs = Multimodal.dhashPairs(spark, dir).collect()
    val exact = pairs.count(_.getInt(2) == 0)
    println(s"[demo] image near-dups: ${pairs.length} verified pairs at " +
      s"Hamming <= ${Multimodal.dhashHammingMax} ($exact at distance 0); " +
      "banded multi-index join, never all-pairs")

    val inc = Multimodal.dhashIncremental(spark, dir).collect()
    println(s"[demo] incremental ingest: ${inc.length} delta-vs-base pairs " +
      "(odd-id batch probing the even-id standing index)")

    val audio = Multimodal.audioFeatures(
      Multimodal.audioFromDocuments(spark, dir)).collect()
    if (audio.nonEmpty) {
      val avgRms = audio.map(_.rms).sum / audio.length
      println(f"[demo] audio features: ${audio.length}%d WAVs parsed; " +
        f"mean RMS $avgRms%.4f, peak range ${audio.map(_.peak).min}%d.." +
        f"${audio.map(_.peak).max}%d (integer-exact off the real PCM walk)")
    } else
      println("[demo] audio features: 0 WAVs parsed (corpus too short to synthesize audio)")

    val spectral = Multimodal.audioSpectral(
      Multimodal.audioFromDocuments(spark, dir)).collect()
    val byBin = spectral.groupBy(_.dominant_hz).view.mapValues(_.length)
      .toSeq.sortBy(_._1)
    println(s"[demo] spectral probe bank: dominant-bin census " +
      byBin.map { case (hz, n) => s"${hz}Hz=$n" }.mkString(", ") +
      " (md5-noise corpus spreads across bins)")

    val frames = Multimodal.videoFrameIndex(spark, dir)
    println(s"[demo] video demux: ${frames.count()} frames walked out of " +
      "real RIFF/AVI containers at 4 fps")

    val redactReady = hashes.length == audio.length
    println(s"[demo] modality parity: image rows == audio rows is " +
      s"$redactReady (every doc acquired both payload kinds)")
    spark.stop()
  }
}
