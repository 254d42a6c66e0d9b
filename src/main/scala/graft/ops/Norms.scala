package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Normalization helpers shared across operators (SURVEY.md P5/P6/P14, §2.9).
  *
  * Engine-wide convention: money/quantity columns become integer cents
  * (LONG) before any aggregation. Long arithmetic is exact and
  * order-independent, so Spark results hash-match a DuckDB oracle
  * regardless of partitioning, AQE re-planning, or accumulation order —
  * which also means results are stable when the same query runs on a
  * 1000-executor cluster instead of local[32].
  */
object Norms {

  /** Exact-cents conversion: `round(x*100)` as LONG. The doubles in play
    * are exact-cent values, so `x*100` lands within 1 ulp of an integer
    * and never near a rounding boundary. */
  def cents(c: Column): Column = round(c * 100, 0).cast(LongType)

  /** ISO-8601 parse, `Z`-suffixed or naive (SURVEY P6; reference
    * `producers/polymarket_ws_manager.py:165-166` replaces Z manually —
    * Spark's to_timestamp handles both forms natively with UTC session TZ). */
  def isoTs(c: Column): Column = to_timestamp(c)

  /** Second-stage decode for double-encoded JSON arrays (SURVEY §7.4;
    * reference `producers/market_discovery.py:85-86,94-95`: the Gamma API
    * returns `outcomePrices`/`clobTokenIds` as JSON-encoded *strings*).
    * Accepts either a real array-typed column (returned as-is) or a string
    * column holding `"[\"a\",\"b\"]"`. */
  def decodeJsonArray(c: Column): Column = from_json(c, ArrayType(StringType))

  /** dict.get(k, default) → coalesce (SURVEY §2.9). */
  def getOr(c: Column, default: Column): Column = coalesce(c, default)

  /** Guarded division: 0 when the denominator is 0 (SURVEY A4 pattern). */
  def safeDiv(num: Column, den: Column): Column =
    when(den === 0, lit(0.0)).otherwise(num.cast(DoubleType) / den.cast(DoubleType))
}
