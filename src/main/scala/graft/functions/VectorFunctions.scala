package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, VectorKernels}
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

/** Dense-vector math over Array[Float]/Array[Double] columns. The dot
  * product — the only per-element kernel — is a codegen'd static call
  * (VectorKernels.dot); everything else composes it. Element folds run
  * in index order, which keeps double arithmetic bit-deterministic
  * across runs and engines.
  *
  * Join-side callers should pre-normalize (or pre-compute `norm2`)
  * once per ROW before the join so the per-PAIR work is a single dot:
  * see graft.operators.Similarity.
  */
object VectorFunctions {

  /** Cast an array<float> column to array<double> before arithmetic:
    * float accumulation is both lossy and engine-dependent. A direct
    * array cast (codegen'd, element-identical) — the transform() HOF
    * spelling is interpreted CodegenFallback. The optimizer drops it on
    * a column that is already array<double>. */
  def toDoubleArray(c: Column): Column = c.cast("array<double>")

  /** Codegen'd dot product (index-ordered fold, bit-deterministic);
    * NULL when the lengths differ. */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.call(VectorKernels, "dot", DoubleType, returnNullable = true)(
      toDoubleArray(a), toDoubleArray(b))

  def norm2(a: Column): Column = sqrt(dot(a, a))

  /** Unit-normalise each codebook row once on the driver, for
    * ivfTopBuckets. */
  def unitCodebook(centroids: Array[Array[Double]]): Array[Array[Double]] = {
    require(centroids.nonEmpty && centroids.forall(_.length == centroids.head.length),
      "codebook must be non-empty and not ragged")
    centroids.map { c =>
      var s = 0.0
      c.foreach(x => s += x * x)
      val n = math.sqrt(s)
      c.map(x => if (n > 0) x / n else 0.0)
    }
  }

  /** The vector's `top` nearest codebook centroid ids by cosine, ties
    * to the smaller id; empty for a vector of the wrong dimension (see
    * VectorKernels.topBuckets). Pass the same `unitBook` array to every
    * call site of one plan: it is bound by reference. */
  def ivfTopBuckets(v: Column, unitBook: Array[Array[Double]], top: Int): Column = {
    require(top >= 1 && top <= unitBook.length, s"top=$top outside 1..${unitBook.length}")
    ColumnBridge.call(VectorKernels, "topBuckets", ArrayType(LongType, containsNull = false))(
      toDoubleArray(v), ColumnBridge.table(unitBook), lit(top))
  }
}
