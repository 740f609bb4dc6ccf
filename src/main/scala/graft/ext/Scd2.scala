package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension (Type 2) history over a change log.
  *
  * The reference warehouse stores only the CURRENT state of mutable
  * dimension attributes (`users.level` in its star schema — see
  * /root/reference/create_tables.py:15, where a re-load simply overwrites
  * the row), so any fact loaded before the change is attributed to the
  * user's LATER level. SCD2 is the standard warehouse answer: keep one row
  * per (key, attribute-version) with a half-open validity interval
  * `[valid_from, valid_to)`, `valid_to IS NULL` marking the current row.
  *
  * Scale shape: the history functions are windows partitioned by the
  * dimension key — ONE hash exchange on the key, then per-user sorted
  * passes. [[pointInTime]] is no interval join: the classic fact×dim
  * interval join materializes facts_u × versions_u rows per user BEFORE
  * its range filter (quadratic under a whale user — the same hazard as
  * the stream-stream interval join, see PERF_NOTES "Streaming under a
  * whale key"), so instead it is the as-of merge: one exchange and one
  * sort per side, then O(facts_u + versions_u) per user.
  */
object Scd2 {

  /** Collapse a (possibly repetitive) attribute observation log into SCD2
    * history rows. Consecutive observations with the same attribute value
    * merge into one version; `version` is 1-based per key in
    * (orderCol, tieCol) order.
    *
    * Output: keyCol, attrCol, `valid_from_us`, `valid_to_us` (epoch µs;
    * NULL = current), `version`. Ties on orderCol are broken by tieCol so
    * the history is deterministic under any physical layout. */
  def buildHistory(observations: DataFrame, keyCol: String, tsCol: String,
                   tieCol: String, attrCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(tieCol))
    val changes = observations
      .withColumn("__prev", lag(col(attrCol), 1).over(w))
      .filter(col("__prev").isNull || col("__prev") =!= col(attrCol))
      .drop("__prev")
    changes
      .withColumn("valid_from_us", unix_micros(col(tsCol)))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
      .withColumn("version", row_number().over(w).cast("long"))
      .select(col(keyCol), col(attrCol),
        col("valid_from_us"), col("valid_to_us"), col("version"))
  }

  /** Incremental SCD2 maintenance — the nightly dimension update: fold a
    * NEW batch of observations into existing history WITHOUT rebuilding
    * untouched keys. Exactness contract (spec- and oracle-pinned): when
    * every batch observation is event-time-later than everything already
    * folded for its key (the normal append-only load discipline, same
    * precondition as the streaming fold), the result is ROW-IDENTICAL to
    * a full rebuild over old∪new.
    *
    * Mechanics per batch key: closed versions are immutable and pass
    * through; the key's OPEN version is re-seeded as an observation at
    * its own valid_from (tie = Long.MinValue so it sorts first) and
    * [[buildHistory]] reruns over seed∪batch; recomputed version numbers
    * shift by the open version's index so numbering continues. Keys
    * absent from the batch are untouched — the recompute touches
    * O(batch keys) history rows, not the dimension.
    *
    * Scale shape: a semi-join splits the dimension by batch membership
    * (one exchange on the key), the recompute windows over batch keys
    * only. At 100 TB the nightly cost is ∝ the batch, exactly like
    * [[graft.etl.IncrementalAgg]]. */
  def applyBatch(history: DataFrame, newObs: DataFrame, keyCol: String,
                 tsCol: String, tieCol: String, attrCol: String)
      : DataFrame = {
    val batchKeys = newObs.select(col(keyCol)).distinct()
    val untouched = history.join(batchKeys, Seq(keyCol), "left_anti")
    val affected = history.join(batchKeys, Seq(keyCol), "left_semi")
    val closed = affected.filter(col("valid_to_us").isNotNull)
    val open = affected.filter(col("valid_to_us").isNull)
    // the open version, replayed as the seed observation of the rerun
    val seed = open.select(col(keyCol),
      timestamp_micros(col("valid_from_us")).as(tsCol),
      lit(Long.MinValue).as(tieCol), col(attrCol),
      (col("version") - 1L).as("__shift"))
    val rerun = buildHistory(
      seed.drop("__shift").unionByName(
        newObs.select(col(keyCol), col(tsCol),
          col(tieCol).cast("long").as(tieCol), col(attrCol))),
      keyCol, tsCol, tieCol, attrCol)
    // left join: a batch key with no prior history has no seed (shift 0)
    val shifted = rerun
      .join(seed.select(col(keyCol), col("__shift")), Seq(keyCol), "left")
      .select(col(keyCol), col(attrCol), col("valid_from_us"),
        col("valid_to_us"),
        (col("version") + coalesce(col("__shift"), lit(0L))).as("version"))
    untouched.unionByName(closed).unionByName(shifted)
  }

  /** Point-in-time attribute lookup: for every fact row, the attribute
    * version active at the fact's timestamp (change at ts t is effective
    * for facts with ts ≥ t; facts before the key's first change, and
    * facts with a NULL key, get NULL).
    *
    * One backward [[AsofJoin]] over the non-NULL observations, tieCol as
    * its tie: among same-ts changes the highest tie wins — the row the
    * half-open-interval formulation keeps (earlier same-ts versions get
    * empty `[t, t)` intervals). No change filter: the latest observation
    * carries the attribute of the latest change.
    *
    * Output: the fact columns in `factCols`, plus attrCol (NULL when no
    * version is active yet). */
  def pointInTime(facts: DataFrame, observations: DataFrame,
                  keyCol: String, tsCol: String, tieCol: String,
                  attrCol: String, factCols: Seq[String]): DataFrame = {
    val obs = observations.filter(col(attrCol).isNotNull)
      .select(keyCol, tsCol, tieCol, attrCol)
    AsofJoin.backward(facts, obs, keyCol, tsCol, Seq(attrCol),
        tie = Some(tieCol))
      .select((factCols :+ attrCol).map(col): _*)
  }
}
