package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Time-series resampling — the regularize-then-fill operator (pandas
  * `resample().ffill()`, kdb `aj` on a grid) Spark has no built-in for:
  * per key, emit one row per `stepSeconds` across the key's observed time
  * span, carrying the latest observation at-or-before each grid point
  * (forward fill; grid points before the first observation stay NULL —
  * only the aligned leading point can be one).
  *
  * Shape: span agg (one shuffle on key) → grid explode (map-only,
  * bounded by `maxPointsPerKey`) → AsofJoin.backward (the co-partitioned
  * streaming merge). Nothing quadratic, nothing unbounded: at 100 TB the
  * grid size is span/step × keys by construction, and the grid keeps the
  * span aggregate's key partitioning, so only the observations shuffle
  * for the fill.
  */
object Resample {

  /** Forward-fill `valueCol` onto a `stepSeconds`-spaced grid per key.
    * Grid start is aligned DOWN to a step multiple (epoch-anchored), so
    * grids of different keys line up. Several observations at one
    * (key, ts) fill with their max: the value is the as-of tie. Keys
    * whose span would exceed `maxPointsPerKey` grid points are dropped
    * (the RangeJoin/Dedup cap discipline: one pathological key must not
    * explode the output). */
  def forwardFill(df: DataFrame, keyCol: String, tsCol: String,
                  valueCol: String, stepSeconds: Long,
                  maxPointsPerKey: Long = 100000L): DataFrame = {
    require(stepSeconds > 0, "stepSeconds must be positive")
    require(maxPointsPerKey > 0, "maxPointsPerKey must be positive")
    val stepUs = stepSeconds * 1000000L
    val spans = df.groupBy(col(keyCol))
      .agg(min(col(tsCol)).as("__t0"), max(col(tsCol)).as("__t1"))
      .select(col(keyCol),
        (floor(unix_micros(col("__t0")) / stepUs) * stepUs).as("__g0"),
        unix_micros(col("__t1")).as("__g1"))
      .filter((col("__g1") - col("__g0")) / stepUs < maxPointsPerKey)
    val grid = spans
      .select(col(keyCol),
        explode(sequence(col("__g0"), col("__g1"), lit(stepUs))).as("__gus"))
      .select(col(keyCol), timestamp_micros(col("__gus")).as(tsCol))
    AsofJoin.backward(grid, df.select(keyCol, tsCol, valueCol), keyCol,
      tsCol, Seq(valueCol), tie = Some(valueCol))
  }

  /** Time-weighted average per key — the step-function mean a metrics or
    * pricing pipeline wants when observations arrive irregularly (a value
    * holds from its event until the next one; a plain AVG over-weights
    * bursts). Exact until the single final division: value in centi-units
    * (long), interval in whole seconds (long), so Σ v·Δt is an exact long
    * (bounded ~6·10¹² for month-long spans at the data's value range) and
    * both engines divide the SAME two integers — one IEEE division of
    * identical operands is bit-identical, no rounding hazard.
    *
    * Scale shape: one window (lead ts) per key over the key exchange,
    * then a key-level aggregate — O(rows), whale exposure identical to
    * every per-user window in the repo (shard via Sessionize's bounded
    * partitions if a key is a whale). Keys with a single event have zero
    * span and are reported with NULL twap (no interval to average). Ties
    * on the timestamp break by tieCol so Δt attribution is
    * layout-deterministic.
    *
    * Output: (keyCol, span_s, twap_centi rounded to 2 dp). */
  def twap(df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
           valueCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("__ts"), col("__tie"))
    df.select(col(keyCol),
        // Column./ is double division; floor+cast is the exact integer
        // quotient here (µs < 2^53, so the double path loses nothing)
        floor(unix_micros(col(tsCol)) / 1000000L).cast("long").as("__ts"),
        col(tieCol).cast("long").as("__tie"),
        round(col(valueCol).cast("double") * 100).cast("long").as("__vc"))
      .withColumn("__dt", lead(col("__ts"), 1).over(w) - col("__ts"))
      .groupBy(col(keyCol))
      .agg(sum(col("__dt")).as("span_s"),
        round(sum(col("__vc") * col("__dt")).cast("double") /
          sum(col("__dt")).cast("double"), 2).as("twap_centi"))
  }
}
