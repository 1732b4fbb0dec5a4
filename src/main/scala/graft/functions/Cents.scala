package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** THE cent quantization of the engine — pure-IEEE, engine- and
  * version-proof.
  *
  * `cents(v) = floor(v * 100 + 0.5)` uses only operations IEEE 754
  * specifies exactly (multiply, add, floor), so Spark and every DuckDB
  * release produce bit-identical longs. A `CAST(double AS
  * DECIMAL(18,2))` by contrast invokes an engine-owned rounding policy
  * (Spark rounds the shortest decimal representation half-up; DuckDB
  * rounds the binary value, and its half-way behavior has changed
  * across releases) — near a half-cent the two disagree, which is how
  * a hash-compared query can match under one DuckDB build and drift
  * under another (the q_vpin lesson, rounds 6-8). Every hash-compared
  * cent/money path in [[graft.SparkEntry]] uses these forms on BOTH
  * the engine and oracle sides.
  *
  * Semantics: round-half-up toward +infinity (-100.5 → -100). Exact
  * for |v| < ~2^43 dollars (the product stays under 2^53); cent sums
  * are exact longs up to 2^63 ≈ $9.2e16 — far past any per-group
  * volume at 100 TB. The same quantization is genuinely lossy only
  * when applied to a REHYDRATED sum (a cents total finished to double
  * and re-quantized) past ~1e13 dollars — so quantize per row before
  * aggregation, never after (see
  * [[graft.operators.CandleOps.ohlcvRollup]]).
  *
  * MIGRATION NOTE (round 9 format break): this quantization REPLACED
  * the earlier `CAST(double AS DECIMAL(18,2))` in every cent path, and
  * the two differ at exactly two boundary classes — negatives round
  * half toward +infinity here (−1.005 → −100 cents; the decimal cast
  * gave −101) and >2-dp doubles whose binary value sits just below the
  * decimal half round down (0.285 → 28; the decimal cast's
  * shortest-representation rounding gave 29). Both engine and oracle
  * changed together, so hash parity holds — but carrier rollup stores
  * PERSISTED by pre-round-9 builds carry a `volume_dec` decimal column
  * where current stores carry long `vol_cents`, and their boundary
  * rows may differ by one cent from a rebuild. Such stores (a) stop
  * routing — [[org.apache.spark.sql.graft.RollupRouter]] requires
  * `vol_cents` and logs a migration warning when it sees a
  * `volume_dec`-only store — and (b) should be REBUILT from the base
  * table (`RollupStore.buildWithCarriers`, or `repairRange` over the
  * full span), not column-renamed: a rename would freeze the old
  * rounding at the boundaries forever.
  */
object Cents {

  /** Per-row long cents: `floor(v * 100 + 0.5)`. */
  def cents(c: Column): Column =
    floor(c * lit(100) + lit(0.5)).cast(LongType)

  /** Exact long cent total finished to a double: `sum(cents)/100`.
    * Long sum → double cast → one IEEE division; DuckDB's
    * `CAST(sum(cents) AS DOUBLE) / 100` (HUGEINT-accumulated) lands on
    * the same correctly-rounded double because both sides round the
    * same exact integer.
    */
  def centsToMoney(sumCents: Column): Column =
    sumCents.cast(DoubleType) / lit(100)

  /** Order-independent, engine-proof money sum of a 2-ish-decimal
    * double column: per-row cents, exact long accumulation, one
    * division at the end.
    */
  def moneySum(c: Column): Column = centsToMoney(sum(cents(c)))
}
