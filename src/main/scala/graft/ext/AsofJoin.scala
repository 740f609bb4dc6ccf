package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.graftbridge.GraftExprBridge

import graft.plans.{AsofJoinNode, AsofJoinStrategy}

/** As-of join — the time-series operator Spark's built-ins lack (pandas
  * `merge_asof`, kdb `aj`, DuckDB `ASOF JOIN`): for each left row, the
  * single right row with the LATEST right.ts ≤ left.ts (backward) or the
  * EARLIEST right.ts ≥ left.ts (forward) within the same key.
  *
  * Both directions build the first-class plan node (`graft.plans.
  * AsofJoinNode` → `AsofJoinStrategy` → `AsofJoinExec`): one hash
  * exchange and one (key, ts) sort per side, then a per-partition
  * streaming merge with O(1) state. Each side ships only its own columns,
  * and nothing is buffered per key — versus a range join's per-key
  * quadratic blowup (every left × every earlier right pair materialized
  * before the per-pair filter).
  *
  * Ties (right.ts == left.ts) match, as in pandas/DuckDB (`allow_exact_
  * matches=True` semantics). A NULL key matches nothing, as in SQL: the
  * left row keeps a NULL payload.
  *
  * Among same-(key, ts) right rows the highest non-NULL `tie` wins, so
  * `tie = payload` is `max(payload)` per (key, ts) with no aggregate.
  *
  * The planner strategy is registered via `GraftExtensions`
  * (`injectPlannerStrategy`) for extension-built sessions; for any other
  * session the first call installs it idempotently through the public
  * `experimental.extraStrategies` hook.
  */
object AsofJoin {

  /** Backward as-of (pandas default): latest right at-or-before left.ts.
    *
    * @param rightCols right-side payload columns to carry onto matches
    * @param toleranceSeconds optional max staleness: matches older than
    *   left.ts - tolerance are dropped (NULL payload), pandas `tolerance`
    * @param tie optional right column; its highest value wins a same-ts tie
    */
  def backward(left: DataFrame, right: DataFrame, key: String, ts: String,
               rightCols: Seq[String],
               toleranceSeconds: Option[Long] = None,
               tie: Option[String] = None): DataFrame =
    join(left, right, key, ts, rightCols, toleranceSeconds, tie, forward = false)

  /** Forward as-of: earliest right at-or-after left.ts. */
  def forward(left: DataFrame, right: DataFrame, key: String, ts: String,
              rightCols: Seq[String],
              toleranceSeconds: Option[Long] = None,
              tie: Option[String] = None): DataFrame =
    join(left, right, key, ts, rightCols, toleranceSeconds, tie, forward = true)

  private def join(left: DataFrame, right: DataFrame, key: String,
                   ts: String, rightCols: Seq[String],
                   toleranceSeconds: Option[Long], tie: Option[String],
                   forward: Boolean): DataFrame = {
    // rightCols are appended to the left schema verbatim — a name shared
    // with a left column would produce ambiguous output columns far from
    // this call site
    val payloadClash = rightCols.filter(left.columns.contains)
    require(payloadClash.isEmpty,
      s"rightCols collide with left columns: ${payloadClash.mkString(",")} — alias them on the right side first")

    val spark = left.sparkSession
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(AsofJoinStrategy) &&
        !spark.sessionState.planner.strategies.contains(AsofJoinStrategy))
      exp.extraStrategies = exp.extraStrategies :+ AsofJoinStrategy

    val lPlan = left.queryExecution.analyzed
    // re-alias every right column: fresh expr ids, so a self-join (same
    // source both sides) can never produce ambiguous references
    val rAnalyzed = right.queryExecution.analyzed
    val rAliases = rAnalyzed.output.map(a => Alias(a, a.name)())
    val rPlan = Project(rAliases, rAnalyzed)
    val rOut = rAliases.map(_.toAttribute)

    def attr(out: Seq[Attribute], name: String, side: String) =
      out.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"$side column not found: $name"))

    val node = AsofJoinNode(lPlan, rPlan,
      attr(lPlan.output, key, "left"), attr(rOut, key, "right"),
      attr(lPlan.output, ts, "left"), attr(rOut, ts, "right"),
      rightCols.map(c => attr(rOut, c, "right")),
      forward, toleranceSeconds.map(_ * 1000000L),
      tie.map(attr(rOut, _, "right")))
    GraftExprBridge.ofRows(spark, node)
  }
}
