package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram shingles over a token array, as one tight JVM loop.
  *
  * The higher-order-function spelling
  * (`when(size(t) >= n, transform(sequence(1, size(t)-n+1),
  * i => concat_ws(" ", element_at×n))).otherwise(array())`) is
  * CodegenFallback: every shingle is an interpreted sub-tree walk
  * (sequence element → lambda bind → n element_at calls → concat_ws),
  * measured at ~2.7 s per evaluation over just 500 docs — and the
  * dedup queries evaluate it up to four times per plan. This kernel
  * produces the identical array (same strings, same order, concat_ws
  * null-skipping included; size < n and NULL input both yield the
  * empty array exactly like the when/otherwise wrapper) in one
  * codegen'd call per row.
  */
object ShingleUtil {
  private val Sep = UTF8String.fromString(" ")
  private val Empty = new GenericArrayData(Array.empty[Any])

  /** Bound with `propagateNull = false`: a NULL token array maps to
    * the empty array (the wrapper's `otherwise`), never to NULL. */
  def shingles(toks: ArrayData, n: Int): ArrayData = {
    if (toks == null) return Empty
    val m = toks.numElements()
    if (m < n) return Empty
    val out = new Array[Any](m - n + 1)
    var i = 0
    while (i <= m - n) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) {
        parts(j) = if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
        j += 1
      }
      // UTF8String.concatWs skips null inputs — concat_ws parity
      out(i) = UTF8String.concatWs(Sep, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}
