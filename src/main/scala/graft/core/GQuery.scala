package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** One declared engine query: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) the equivalent DuckDB oracle
  * SQL the driver's correctness gate replays on the same parquet
  * tables. `oracle = None` → the driver records a weaker rows-only
  * check (used for the probabilistic/hash-seeded operators whose
  * exact output no other engine can reproduce).
  */
final case class GQuery(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryUtils {
  import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression, If, Literal}
  import org.apache.spark.sql.graftbridge._

  /** The parse half of the exact-sum split: unscaled(cast(c →
    * DECIMAL(28,10))) as a long, or the out-of-band sentinel when the
    * fast path does not apply. Call sites pre-project this ONCE as a
    * named column (`withColumn("_u", unscaled18(c))`) — it is the
    * expensive node (Double.toString + digit parse), and neither
    * window update projections nor aggregate-update codegen reliably
    * CSE a subtree that several buffer expressions share (measured: 3
    * evaluations/row/input when inlined, 1 when pre-projected). */
  def unscaled18(c: Column): Column =
    ColumnBridge.call(DecimalFast, "unscaled18OrSentinel", LongType)(c)

  /** (hi, lo) children for SumScaled128 from a pre-projected parse
    * column `u` and the original double `d` (slow-branch-only). All
    * refs are attribute/branch reads — cheap to duplicate across the
    * aggregate's buffer-update expressions. */
  private def parts(u: Column, d: Column): (Expression, Expression) = {
    val ue = ColumnBridge.expression(u)
    val de = ColumnBridge.expression(d)
    val sent = Literal(DecimalSum.Sentinel)
    val hi = If(EqualTo(ue, sent),
      ColumnBridge.invoke(DecimalSum, "slowHi18", LongType)(de), Literal(0L))
    val lo = If(EqualTo(ue, sent),
      ColumnBridge.invoke(DecimalSum, "slowLo18", LongType)(de), ue)
    (hi, lo)
  }

  /** Exact sum of cast(d → DECIMAL(28,10)) as DECIMAL(38,10), computed
    * by the two-long SumScaled128 kernel (bit-identical to the built-in
    * Sum over the cast — see DecimalFastSpec — without its per-row
    * BigDecimal buffer churn).
    *
    * CONTRACT: `u` MUST be the pre-projected `unscaled18(d)` of the
    * SAME expression `d` — nothing here can verify the pairing (both
    * are opaque Columns at this point), and a mismatched pair
    * type-checks but sums garbage. Convention at every call site: the
    * parse column is named `u_<x>`/`_u` and is created by
    * `withColumn("u_x", unscaled18(col("x")))` immediately above the
    * aggregate that consumes it, so the pairing is reviewable in one
    * screenful. The oracle gate backstops the convention: a wrong
    * pairing cannot produce the Cast-sum the DuckDB replay computes. */
  def sumDec(u: Column, d: Column): Column = {
    val (hi, lo) = parts(u, d)
    ColumnBridge.column(SumScaled128(hi, lo).toAggregateExpression())
  }

  /** sumDec emitting the normalized struct<hi,lo> parts instead of the
    * decimal — for two-level aggregations whose outer level re-sums
    * the partials (q05/q10/q11). */
  def sumDecParts(u: Column, d: Column): Column = {
    val (hi, lo) = parts(u, d)
    ColumnBridge.column(SumScaled128(hi, lo, emitStruct = true).toAggregateExpression())
  }

  /** Re-aggregate struct<hi,lo> partials (from sumDecParts) into the
    * exact DECIMAL(38,10) total. Children are plain field reads. */
  def sumOfParts(s: Column): Column = {
    val hi = ColumnBridge.expression(s.getField("hi"))
    val lo = ColumnBridge.expression(s.getField("lo"))
    ColumnBridge.column(SumScaled128(hi, lo).toAggregateExpression())
  }

  /** Exact decimal sum of a double expression, surfaced as double.
    * Summing doubles directly is order-dependent (shuffle/partition
    * order differs run to run and engine to engine); summing after a
    * cast to DECIMAL(28,10) is exact and associative, so Spark and the
    * DuckDB oracle agree bit-for-bit no matter the plan. The final
    * round() guards the decimal→double conversion ulp.
    * `u` must be the pre-projected `unscaled18(d)` column. */
  def dsum(u: Column, d: Column): Column =
    round(sumDec(u, d).cast("double"), 4)

  /** Deterministic mean: exact decimal sum over exact long count. */
  def davg(u: Column, d: Column): Column =
    round(sumDec(u, d).cast("double") / count(lit(1)), 6)

  /** The same casts, spelled for the DuckDB oracle. */
  def sqlDsum(e: String): String =
    s"round(sum(($e)::DECIMAL(28,10))::DOUBLE, 4)"
  def sqlDavg(e: String): String =
    s"round(sum(($e)::DECIMAL(28,10))::DOUBLE / count(*), 6)"
}
