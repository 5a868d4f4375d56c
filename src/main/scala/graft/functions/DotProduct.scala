package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Kernel shared by interpreted eval and generated code: Σ aᵢ·bᵢ in
  * double over float arrays, accumulated in index order — bit-identical
  * to the `aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)),
  * 0d, (acc, v) -> acc + v)` higher-order-function form it replaces
  * (same IEEE operations in the same order), which DuckDB's oracle
  * mirrors. Both sides of every pair in the engine have equal length;
  * trailing elements of a longer array are ignored.
  */
object VectorKernel {
  def dotFF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** float × double — corpus embedding against a trained (double)
    * centroid; the float side is widened exactly, as the oracle's
    * `CAST(e[i] AS DOUBLE) * c[i]` does.
    */
  def dotFD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getDouble(i)
      i += 1
    }
    acc
  }

  def dotDF(a: ArrayData, b: ArrayData): Double = dotFD(b, a)

  def dotDD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }
}

/** Native codegen'd dot product over two `array<float>` columns.
  *
  * Spark's higher-order functions (`zip_with`, `aggregate`) evaluate
  * through the interpreted lambda path — per element they allocate and
  * box; on the ANN hot loop (every query×candidate pair) that is the
  * dominant cost. This kernel is a single fused loop over the two
  * `ArrayData` buffers inside whole-stage codegen; the variant (FF, FD,
  * DF or DD) is selected statically from the child element types, so
  * codegen emits a direct monomorphic call.
  */
object DotProductD extends Kernel("dot_product_d", 2, Nil) {
  def bind(t: Seq[DataType], s: Seq[Int]): Either[String, (String, DataType)] = {
    def tag(d: DataType) = d match {
      case ArrayType(FloatType, _) => "F"
      case ArrayType(DoubleType, _) => "D"
      case _ => ""
    }
    val variant = tag(t(0)) + tag(t(1))
    if (variant.length == 2) Right(s"VectorKernel.dot$variant" -> DoubleType)
    else Left(s"dot_product_d needs two array<float|double> children, got ${t(0)} and ${t(1)}")
  }

  /** Column-API entry point: `dot($"a", $"b")`. */
  def apply(a: Column, b: Column): Column = call(Seq(a, b))
}
