package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-key time-series smoothing and trend estimation with
  * order-independent (layout-proof) arithmetic — the [[graft.operators.ExactMoney]]
  * discipline applied to EWMA weights and regression moments.
  *
  * Both operators aggregate doubles that arrive in nondeterministic
  * partition order, so naive `sum(double)` would make the rounded output
  * layout-dependent (the exact bug class `ScaleSmokeMain xcheck` caught
  * in the money aggregates at sf1). Here every sum is over exact
  * integers: fixed-point centi-units for the measure, integer EWMA
  * weights, DECIMAL(38,0) regression moments. The single final division
  * is of identical exact operands in every engine and layout.
  */
object TimeSeries {

  /** Truncated exponentially-weighted moving average per key: the
    * smoothed level after the last `k` observations, newest first, with
    * decay alpha = aNum/aDen.
    *
    * The normalized truncated EWMA is
    *   s = sum_j (1-a)^j x_j / sum_j (1-a)^j,   j = 0 (newest) .. k-1,
    * and multiplying numerator and denominator by aDen^(k-1) turns the
    * weights into exact integers w_j = (aDen-aNum)^j * aDen^(k-1-j) —
    * e.g. alpha=1/4, k=16 gives w_j = 3^j * 4^(15-j), all < 2^30. The
    * measure is rounded per row to centi-units (exact 2-decimal data),
    * so numerator and denominator are exact integer sums: associative,
    * commutative, identical under any partition layout and in any
    * engine.
    *
    * Scale shape: one per-key window (partition-bounded, the TWAP
    * precedent) to rank recency, then a hash aggregate. Keys are
    * independent; a whale key costs one partition's sort of its own
    * rows, never a global sort.
    */
  def ewma(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      tieCol: String,
      valueCol: String,
      k: Int = 16,
      aNum: Int = 1,
      aDen: Int = 4): DataFrame = {
    require(k >= 1 && aNum > 0 && aNum < aDen, s"alpha in (0,1): $aNum/$aDen")
    val decay = aDen - aNum
    require(math.pow(decay, k - 1) * math.pow(aDen, k - 1) < math.pow(2, 62),
      s"integer weights overflow long: decay=$decay den=$aDen k=$k")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).desc, col(tieCol).desc)
    // pow() on int args is exact in double far past these magnitudes
    val weight = (pow(lit(decay), col("rn") - 1) *
      pow(lit(aDen), lit(k) - col("rn"))).cast("long")
    events
      .select(col(keyCol), col(tsCol), col(tieCol),
        round(col(valueCol) * 100, 0).cast("long").as("vc"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .withColumn("wt", weight)
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n_used"),
        sum((col("wt") * col("vc")).cast("decimal(38,0)")).as("num"),
        sum(col("wt").cast("decimal(38,0)")).as("den"))
      .select(col(keyCol), col("n_used"),
        round(col("num").cast("double") / col("den").cast("double") / 100.0, 6)
          .as("ewma"))
  }

  /** Exact CUSUM change-point per group: the hour where the cumulative
    * deviation from the group's overall mean peaks — the classic
    * mean-shift detector, made hash-exact by clearing denominators.
    *
    * With hourly integer totals (cnt_h, sum_h) and group totals (N, T),
    * the cumulative deviation after hour h is
    *   csum_h - ccnt_h * (T/N)
    * whose sign/argmax survive multiplying by N:
    *   D_h = N * csum_h - ccnt_h * T      (exact DECIMAL(38,0) integers).
    * The change point is the hour maximizing |D_h| (earliest on ties;
    * the final hour is excluded — D there is identically 0). Pre/post
    * means are exact integer ratios divided once at the end.
    *
    * CONTRACT: a group whose events all fall inside ONE hour has no
    * candidate split (its only row is the excluded final hour) and is
    * ABSENT from the output — "no change point detectable", not a zero
    * row. Callers joining back to a group dimension should left-join.
    *
    * Scale shape: one hash aggregate to hourly cells (corpus-sized
    * exchange of 8-byte keys), then windows over the AGGREGATED hourly
    * table — partitions are |hours| per group, calendar-bounded, never
    * corpus-bounded (the bigram-LM window precedent).
    */
  def changePoint(
      events: DataFrame,
      groupCol: String,
      tsCol: String,
      valueCol: String): DataFrame = {
    val hourly = events
      .select(col(groupCol), date_trunc("hour", col(tsCol)).as("hour"),
        round(col(valueCol) * 100, 0).cast("long").as("vc"))
      .groupBy(col(groupCol), col("hour"))
      .agg(count(lit(1)).as("cnt"), sum(col("vc")).as("s"))
    val byTime = Window.partitionBy(col(groupCol)).orderBy(col("hour"))
    val whole = Window.partitionBy(col(groupCol))
    val cum = hourly
      .withColumn("ccnt", sum(col("cnt")).over(byTime))
      .withColumn("csum", sum(col("s")).over(byTime))
      .withColumn("n", sum(col("cnt")).over(whole))
      .withColumn("t", sum(col("s")).over(whole))
      .filter(col("ccnt") < col("n")) // final hour: D = 0 by identity
      .withColumn("d", col("n").cast("decimal(38,0)") * col("csum") -
        col("ccnt").cast("decimal(38,0)") * col("t"))
    val best = Window.partitionBy(col(groupCol))
      .orderBy(abs(col("d")).desc, col("hour"))
    cum.withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1)
      .select(
        col(groupCol),
        col("hour").as("change_hour"),
        col("ccnt").as("n_before"),
        (col("n") - col("ccnt")).as("n_after"),
        round(col("csum").cast("double") / col("ccnt") / 100.0, 4)
          .as("mean_before"),
        round((col("t") - col("csum")).cast("double") /
          (col("n") - col("ccnt")) / 100.0, 4).as("mean_after"))
  }

  /** Exact per-group OLS trend: slope and Pearson correlation of the
    * measure against epoch-hour, from exact integer moments.
    *
    * x = floor(epoch_us / 3.6e9) (integer hours), y = centi-units of the
    * measure. The five moments (sx, sy, sxy, sxx, syy) are DECIMAL(38,0)
    * sums of integer products — exact at any corpus size below 10^38,
    * where plain longs would wrap near 10^19 (n*sxx crosses 2^63 already
    * at sf0.1 scale). slope = (n*sxy - sx*sy) / (n*sxx - sx^2); both
    * operands are exact, so the correctly-rounded double quotient is
    * engine- and layout-independent.
    *
    * Scale shape: one hash aggregate with map-side partials, cells = one
    * per group — the cheapest shape Spark has.
    */
  def trend(
      events: DataFrame,
      groupCol: String,
      tsCol: String,
      valueCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val moments = events
      .select(col(groupCol),
        floor(unix_micros(col(tsCol)) / 3600000000L).cast("long").as("xh"),
        round(col(valueCol) * 100, 0).cast("long").as("vc"))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(dec(col("xh"))).as("sx"),
        sum(dec(col("vc"))).as("sy"),
        sum(dec(col("xh")) * col("vc")).as("sxy"),
        sum(dec(col("xh")) * col("xh")).as("sxx"),
        sum(dec(col("vc")) * col("vc")).as("syy"))
    val covN = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val varX = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val varY = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    // degenerate groups (zero variance in x or y) have no defined slope /
    // correlation -> NULL, not an ANSI divide-by-zero
    moments.select(
      col(groupCol),
      col("n").cast("long").as("n"),
      when(varX =!= 0.0, round(covN / varX, 6)).as("slope_centi_per_hour"),
      when(varX =!= 0.0 && varY =!= 0.0,
        round(covN / (sqrt(varX) * sqrt(varY)), 6)).as("pearson_r"))
  }

  /** Exact autocorrelation (ACF) per key over an integer-valued regular
    * series — the seasonality probe behind every forecasting pipeline.
    *
    * Input: one row per (key, t, x) with `t` an integer grid index
    * (e.g. hours since epoch) and `x` an exact integer measure (a count,
    * or a centi-unit). For each lag k the estimator is the full-mean
    * Pearson form over the pairs that EXIST on the grid (missing grid
    * points simply contribute no pair — the sparse-series convention,
    * matched exactly by the oracle's self-join):
    *
    *   r_k = Σ(x_t − μ)(x_{t+k} − μ) / Σ(x_t − μ)²,   μ = S/n
    *
    * Denominator-cleared to integer arithmetic (the trend/changePoint
    * discipline — multiply through by n²):
    *
    *   r_k = (n²·P_k − n·S·(A_k+B_k) + m_k·S²) / (n²·Q − n·S²)
    *
    * with P_k = Σ x_t·x_{t+k}, A_k/B_k the pair-side sums, m_k the pair
    * count, Q = Σx² — every term an exact DECIMAL(38,0), one double
    * division at the end, so the output is layout- and engine-exact.
    * Headroom: n²·Q stays inside DECIMAL(38,0)/HUGEINT through ~1e5 grid
    * points of 1e9-sized values (a decade of hours at 100 TB event
    * rates).
    *
    * Shape: the series table is aggregate-sized (calendar-bounded — the
    * changePoint/bigram discipline: windows and self-joins run over the
    * AGGREGATED frame, never the raw corpus); one equi-join per lag on
    * (key, t+k), each broadcast-or-hash sized by the grid, never by the
    * input rows. Zero-variance keys report NULL, not an ANSI error. */
  def acf(series: DataFrame, keyCol: String, tCol: String, xCol: String,
          lags: Seq[Int]): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ > 0), s"bad lags: $lags")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // the grid table feeds one join pair per lag plus the stats pass:
    // materialize once (the TfIdf idiom)
    val base = series.select(col(keyCol).as("k"), col(tCol).as("t"),
      dec(col(xCol)).as("x")).localCheckpoint(true)
    val stats = base.groupBy(col("k")).agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(col("x")).as("s"),
      sum(col("x") * col("x")).as("q"))
    val perLag = lags.map { k =>
      val a = base.select(col("k"), col("t"), col("x").as("xa"))
      // b shifted so that joining on t pairs x_t with x_{t+k}
      val b = base.select(col("k"), (col("t") - k).as("t"),
        col("x").as("xb"))
      a.join(b, Seq("k", "t"))
        .groupBy(col("k"))
        .agg(
          count(lit(1)).cast("decimal(38,0)").as("m"),
          sum(col("xa") * col("xb")).as("p"),
          sum(col("xa")).as("a"),
          sum(col("xb")).as("b"))
        .withColumn("lag", lit(k.toLong))
    }.reduce(_ unionByName _)
    val num = (col("n") * col("n") * col("p") -
      col("n") * col("s") * (col("a") + col("b")) +
      col("m") * col("s") * col("s")).cast("double")
    val den = (col("n") * col("n") * col("q") -
      col("n") * col("s") * col("s")).cast("double")
    perLag.join(stats, "k")
      .select(col("k").as(keyCol), col("lag"),
        col("n").cast("long").as("n_obs"),
        col("m").cast("long").as("n_pairs"),
        when(den =!= 0.0, round(num / den, 6)).as("acf"))
  }
}
