package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Per-row vector kernels over array<double>. */
object VectorKernels {
  /** Dot product of two array<double> values.
    *
    * The higher-order-function spelling (`aggregate(zip_with(a, b,
    * _*_), 0.0, _+_)`) is CodegenFallback — every element hop is an
    * interpreted Invoke, which is fatal when the kernel runs once per
    * candidate PAIR (q35/q36 similarity joins). This is a tight
    * primitive loop called from whole-stage codegen instead.
    *
    * The fold runs in index order with a plain `+=` on equal-length
    * inputs, exactly the arithmetic sequence of the HOF spelling, so
    * results match it bit-for-bit there (oracle parity keeps holding at
    * round(…, 4)). On UNEQUAL lengths the HOF spelling null-pads the
    * short side (`zip_with` → null product → null sum), so this kernel
    * returns null too (bound with `returnNullable`) — a silent
    * min-length truncation would turn a malformed embedding into a
    * plausible number. */
  def dot(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  private val NoBuckets = new GenericArrayData(Array.empty[Any])

  /** Driver-trained IVF codebook assignment: the top-`top` centroid
    * ids for vector `v`, ranked by cosine, ties to the smaller
    * centroid id. `unitBook` holds the unit-normalised centroids (one
    * row each), so ranking by dot(v, ĉ_j) equals ranking by cosine
    * (the per-row |v| factor is a positive constant across j). The
    * codebook is a driver-local constant, so assignment is a pure
    * per-row map — scan → project, no broadcast join, no argmax
    * aggregate, no exchange at ANY corpus scale. Vectors of the wrong
    * dimensionality yield an empty array (explode drops them). */
  def topBuckets(v: ArrayData, unitBook: Array[Array[Double]], top: Int): ArrayData = {
    val dim = unitBook(0).length
    if (v.numElements() != dim) return NoBuckets
    val k = unitBook.length
    val sims = new Array[Double](k)
    var j = 0
    while (j < k) {
      val c = unitBook(j)
      var s = 0.0
      var i = 0
      while (i < dim) { s += v.getDouble(i) * c(i); i += 1 }
      sims(j) = s
      j += 1
    }
    val out = new Array[Any](top)
    val taken = new Array[Boolean](k)
    var t = 0
    while (t < top) {
      var best = -1
      var bs = 0.0
      var j2 = 0
      while (j2 < k) {
        if (!taken(j2) && (best < 0 || sims(j2) > bs)) { best = j2; bs = sims(j2) }
        j2 += 1
      }
      taken(best) = true
      out(t) = best.toLong
      t += 1
    }
    new GenericArrayData(out)
  }
}
