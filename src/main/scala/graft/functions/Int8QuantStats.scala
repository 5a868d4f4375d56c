package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused int8-quantization statistics kernel, shared by interpreted
  * eval and generated code. One pass finds `maxabs` (the symmetric
  * scale numerator), a second emits the statistics of the code vector
  * qᵢ = trunc(xᵢ·127/maxabs) WITHOUT materializing it: sum/min/max of
  * the codes plus the three dot-product accumulators ⟨x,x⟩, ⟨x,q⟩,
  * ⟨q,q⟩ folded in index order — each accumulator sees exactly the
  * operation sequence of a separate [[VectorKernel]]-style loop, so
  * the reconstruction error ⟨x,x⟩ − 2c⟨x,q⟩ + c²⟨q,q⟩ (c = maxabs/127)
  * is bit-identical to the composed
  * `transform`/`aggregate`/`DotProductD` form it replaces (the
  * reference implementation the tri-parity spec compares against),
  * which the DuckDB oracle mirrors.
  *
  * maxabs = 0 (all-zero vector) quantizes to zero codes with zero
  * error, matching the composed form's guarded branch; an EMPTY array
  * also yields the zero row (the composed form nulls instead — no
  * engine path feeds empty embeddings, and a total kernel beats a
  * null-channel in generated code).
  */
object Int8QuantKernel {

  def statsF(a: ArrayData): InternalRow = stats(a, isFloat = true)
  def statsD(a: ArrayData): InternalRow = stats(a, isFloat = false)

  private def stats(a: ArrayData, isFloat: Boolean): InternalRow = {
    val n = a.numElements()
    var maxabs = 0.0
    var i = 0
    while (i < n) {
      val v = math.abs(
        if (isFloat) a.getFloat(i).toDouble else a.getDouble(i))
      if (v > maxabs) maxabs = v
      i += 1
    }
    if (n == 0 || maxabs == 0.0) return InternalRow(maxabs, 0L, 0L, 0L, 0.0)
    val c = maxabs / 127.0
    var sumQ = 0L
    var minQ = Long.MaxValue
    var maxQ = Long.MinValue
    var xx = 0.0
    var xq = 0.0
    var qq = 0.0
    i = 0
    while (i < n) {
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val q = ((x * 127.0) / maxabs).toLong
      val qd = q.toDouble
      sumQ += q
      if (q < minQ) minQ = q
      if (q > maxQ) maxQ = q
      xx += x * x
      xq += x * qd
      qq += qd * qd
      i += 1
    }
    InternalRow(maxabs, sumQ, minQ, maxQ, xx - 2.0 * c * xq + c * c * qq)
  }
}

/** Native codegen'd int8-quantization audit over one `array<float>` /
  * `array<double>` column: struct(maxabs, sum_q, min_q, max_q,
  * recon_err). The composed higher-order-function form runs four
  * interpreted lambda passes per row (abs-max, quantize, sum, two
  * casts) plus three dot products — per-element boxing on every pass;
  * this is one fused loop inside whole-stage codegen, the same
  * HOF→kernel promotion as [[DotProductD]] and the MinHash kernels.
  */
object Int8QuantStats extends Kernel("int8_quant_stats", 1, Nil) {
  private val result = StructType(Seq(
    StructField("maxabs", DoubleType, nullable = false),
    StructField("sum_q", LongType, nullable = false),
    StructField("min_q", LongType, nullable = false),
    StructField("max_q", LongType, nullable = false),
    StructField("recon_err", DoubleType, nullable = false)))

  def bind(t: Seq[DataType], s: Seq[Int]): Either[String, (String, DataType)] = t.head match {
    case ArrayType(FloatType, _) => Right("Int8QuantKernel.statsF" -> result)
    case ArrayType(DoubleType, _) => Right("Int8QuantKernel.statsD" -> result)
    case other => Left(s"int8_quant_stats needs an array<float|double> child, got $other")
  }

  /** Column-API entry point. */
  def apply(a: Column): Column = call(Seq(a))
}
