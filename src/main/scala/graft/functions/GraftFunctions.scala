package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graft.bridge

/** SQL surface for graft's native Catalyst expressions: every [[Kernel]]
  * in [[GraftFunctions.all]] is exposed to `spark.sql(...)` users under
  * its declared name, so the engine's custom kernels are first-class
  * functions, not Column-API-only.
  *
  * Two registration paths:
  *  - [[GraftExtensions]] via `spark.sql.extensions=graft.functions.GraftExtensions`
  *    at session build (the standard production mechanism);
  *  - [[GraftFunctions.register]] on a live session (tests, notebooks).
  */
object GraftFunctions {

  /** Every native kernel declaration. */
  val all: Seq[Kernel] = Seq(NgramMinHashMd5, NgramMinHashAffine, RollingHash,
    WindowHashes, DupSpanIslands, CutDupSpans, WinnowFingerprints, DotProductD,
    Int8QuantStats, Lz78PhraseCount, BigramEntropyStats, GreedyChunkEnds)

  /** Register every native function on a live session. */
  def register(spark: SparkSession): Unit =
    all.foreach(k => bridge.registerFunction(spark, k.name, k.build))
}

/** `spark.sql.extensions` entry point:
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { k =>
      ext.injectFunction((FunctionIdentifier(k.name),
        new ExpressionInfo("graft.functions", k.name), k.build))
    }
}
