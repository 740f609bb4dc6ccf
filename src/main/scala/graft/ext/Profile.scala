package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data profiling and quality auditing — the Deequ-style pre-training
  * gate every large corpus ingest runs before a byte reaches the
  * pipeline: per-column completeness/distinctness/range metrics and a
  * declarative constraint suite (referential integrity, uniqueness,
  * domain and range membership) that reports violation COUNTS instead
  * of failing fast, so one audit pass over 100 TB yields the whole
  * scorecard.
  *
  * Everything here is exact integer counting: every emitted value is a
  * count, a min/max, or a single ratio-of-longs division rounded once —
  * layout- and engine-independent by construction (the ExactMoney
  * determinism discipline). No sampling, no sketches: at 100 TB the
  * moment metrics of every audited column share ONE column-pruned scan
  * with map-side partial aggregation into a 1-row frame (`ReadSchema`
  * carries only the audited columns), and each distinct count is its
  * own pruned two-level aggregate. Distinct counts are per-column two-level hash
  * aggregates (SELECT col GROUP BY col → count), deliberately NOT a
  * multi-`count(distinct)` single pass: mixed distinct aggregates plan
  * through Expand (one input replica per distinct column — the plan
  * hazard pinned in PERF_NOTES), while N independent 1-column aggregates
  * read N pruned column chunks once each.
  */
object Profile {

  /** Long-format per-column profile: one row per (column, metric).
    *
    * All columns: `count` (non-null), `nulls`, `distinct`,
    * `completeness` (non-null share of rows, exact ratio round 6).
    * Numeric columns additionally: `min`, `max`, `mean` (exact
    * DECIMAL(38,6) sum divided once, round 6). String columns instead:
    * `min_len`, `max_len`, `avg_len` over `length()` (character counts —
    * identical across engines on BMP text; the testdata corpus is
    * ASCII).
    *
    * Cost: ONE moments scan for ALL audited columns (count/n/min/max/sum
    * are all map-side partial and Expand-free, so they share a single
    * aggregate over the union of the pruned columns — r13, was one scan
    * per column serialized through per-column checkpoints) plus one
    * two-level distinct aggregate per column, all in one plan: the six
    * moment metrics of every column are structs over the 1-row moments
    * frame, which `inline` turns into rows, and each distinct aggregate
    * is its own union leg.
    */
  def profile(df: DataFrame, numericCols: Seq[String],
              stringCols: Seq[String]): DataFrame = {
    val cols = numericCols.map((_, false)) ++ stringCols.map((_, true))
    def v(c: String, isStr: Boolean): Column =
      if (isStr) length(col(c)) else col(c)
    val momentCols = cols.flatMap { case (c, isStr) => Seq(
      count(col(c)).as(s"cnt_$c"), count(lit(1)).as(s"n_$c"),
      min(v(c, isStr)).as(s"mn_$c"), max(v(c, isStr)).as(s"mx_$c"),
      sum(v(c, isStr).cast("decimal(38,6)")).as(s"s_$c"))
    }
    def row(c: String, metric: String, value: Column): Column =
      struct(lit(c).as("col_name"), lit(metric).as("metric"),
        value.cast("double").as("value"))
    val moments = df.agg(momentCols.head, momentCols.tail: _*)
      .select(inline(array(cols.flatMap { case (c, isStr) => Seq(
        row(c, "count", col(s"cnt_$c")),
        row(c, "nulls", col(s"n_$c") - col(s"cnt_$c")),
        row(c, "completeness",
          round(col(s"cnt_$c").cast("double") / col(s"n_$c"), 6)),
        row(c, if (isStr) "min_len" else "min", col(s"mn_$c")),
        row(c, if (isStr) "max_len" else "max", col(s"mx_$c")),
        row(c, if (isStr) "avg_len" else "mean",
          round(col(s"s_$c").cast("double") / col(s"cnt_$c"), 6)))
    }: _*)))
    val distincts = cols.map { case (c, _) =>
      df.select(col(c).as("__c"))
        .agg(count_distinct(col("__c")).as("dv"))
        .select(lit(c).as("col_name"), lit("distinct").as("metric"),
          col("dv").cast("double").as("value"))
    }
    (moments +: distincts).reduce(_ unionByName _)
  }

  /** One audit row: (check, n_checked, n_violations). */
  private def checkRow(name: String, checked: DataFrame,
                       violated: Column): DataFrame =
    checked.agg(
      count(lit(1)).as("n_checked"),
      sum(violated.cast("int")).cast("long").as("n_violations"))
      .select(lit(name).as("check_name"), col("n_checked"),
        coalesce(col("n_violations"), lit(0L)).as("n_violations"))

  /** Range / domain / non-null predicate check over one frame: counts
    * rows where `valid` is false or null. */
  def predicateCheck(name: String, df: DataFrame, valid: Column): DataFrame =
    checkRow(name, df, !coalesce(valid, lit(false)))

  /** Several predicate checks over the SAME frame in ONE scan+aggregate
    * (guide §2.1 — don't pay a table pass per constraint): the single
    * 1-row aggregate carries count(*) plus one violation sum per check,
    * then explodes to the same (check_name, n_checked, n_violations)
    * rows N separate [[predicateCheck]] calls would emit. At 100 TB this
    * is the difference between one audit pass over the fact table and
    * one pass per rule. */
  def predicateChecks(df: DataFrame,
                      checks: Seq[(String, Column)]): DataFrame = {
    require(checks.nonEmpty, "predicateChecks needs at least one check")
    val aggs = count(lit(1)).as("__n") +: checks.zipWithIndex.map {
      case ((_, valid), i) =>
        sum((!coalesce(valid, lit(false))).cast("int")).cast("long")
          .as(s"__v$i")
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(checks.zipWithIndex.map { case ((name, _), i) =>
        struct(lit(name).as("check_name"),
          col("__n").as("n_checked"),
          coalesce(col(s"__v$i"), lit(0L)).as("n_violations"))
      }: _*)).as("__c"))
      .select(col("__c.check_name"), col("__c.n_checked"),
        col("__c.n_violations"))
  }

  /** (keyCols..., __k) per-key row counts — the shared artifact a
    * uniqueness check and a same-key FK parent can BOTH read, so one
    * table scan + one exchange feeds both audit legs (the two legs'
    * exchange subtrees are identical, and ReuseExchange computes them
    * once inside the one union query; separately they'd each scan the
    * table). */
  def keyCounts(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__k"))

  /** [[uniqueCheck]] over a precomputed [[keyCounts]] frame. */
  def uniqueCheckFromCounts(name: String, counts: DataFrame): DataFrame =
    counts.agg(
      coalesce(sum(col("__k")), lit(0L)).as("n_checked"),
      coalesce(sum(when(col("__k") > 1, col("__k")).otherwise(0L)), lit(0L))
        .as("n_violations"))
      .select(lit(name).as("check_name"), col("n_checked").cast("long"),
        col("n_violations").cast("long").as("n_violations"))

  /** [[fkCheck]] against an already-unique parent key frame (e.g. a
    * [[keyCounts]] projection) — skips the parent-side distinct. The
    * uniqueness is the caller's contract and is not checked: a parent
    * frame with a repeated key fans the left join out, and n_checked /
    * n_violations count each matching child row once per repeat. */
  def fkCheckKeys(name: String, child: DataFrame, childKey: String,
                  parentKeys: DataFrame, parentKey: String): DataFrame = {
    val p = parentKeys.select(col(parentKey).as("__pk"))
    val joined = child.select(col(childKey).as("__ck"))
      .join(p, col("__ck") === col("__pk"), "left")
    checkRow(name, joined, col("__pk").isNull)
  }

  /** Referential-integrity check: child rows whose key has no parent.
    * The violation count is an anti-join aggregate; the parent side is
    * reduced to its distinct key BEFORE the join so the shuffle carries
    * keys, not payloads (and a dimension-sized parent broadcasts under
    * AQE). NULL child keys are orphans by definition here — a nullable
    * FK should be pre-filtered by the caller. */
  def fkCheck(name: String, child: DataFrame, childKey: String,
              parent: DataFrame, parentKey: String): DataFrame = {
    val p = parent.select(col(parentKey).as("__pk")).distinct()
    val joined = child.select(col(childKey).as("__ck"))
      .join(p, col("__ck") === col("__pk"), "left")
    checkRow(name, joined, col("__pk").isNull)
  }

  /** Functional-dependency check det → dep: counts the rows living in
    * determinant groups that map to MORE than one distinct dependent
    * value (every row of a violating group is implicated, the
    * uniqueCheck convention — an FD holds or fails per GROUP, and the
    * repair cost is proportional to the group's rows). Two-level
    * aggregate: (det → distinct-dep count, rows), then one summed 1-row
    * frame. NULL determinants group together like any key; NULL
    * dependents are IGNORED (both engines' COUNT(DISTINCT) convention —
    * the FD is checked over the dependent's non-null assignments). */
  def fdCheck(name: String, df: DataFrame, detCol: String, depCol: String)
      : DataFrame = {
    // r14: project to the two audited columns and fanOut keyed on the
    // determinant (guide §2.4). On a small-file input (the gate corpus is
    // one parquet row group) BOTH aggregate phases otherwise inherit the
    // single scan partition's parallelism on the partial side; the keyed
    // repartition satisfies the clustering of the (det, dep) phase AND
    // the det phase (subset rule), so it replaces both agg exchanges with
    // one narrow-row exchange. On a well-partitioned source fanOut is a
    // no-op and the original two-phase plan stands.
    val grouped = graft.sources.Sources
      .fanOut(df.select(col(detCol), col(depCol)), col(detCol))
      .groupBy(col(detCol))
      .agg(count(lit(1)).as("__k"),
        count_distinct(col(depCol)).as("__d"))
    grouped.agg(
      coalesce(sum(col("__k")), lit(0L)).as("n_checked"),
      coalesce(sum(when(col("__d") > 1, col("__k")).otherwise(0L)), lit(0L))
        .as("n_violations"))
      .select(lit(name).as("check_name"), col("n_checked").cast("long"),
        col("n_violations").cast("long").as("n_violations"))
  }

  /** Key-skew audit for one (label, frame, key) triple: the
    * salting/bucketing decision metrics this repo's own skew mitigations
    * (saltedJoin, sharded sessionize, maxBucket caps) are chosen by,
    * computed exactly — n_rows, n_keys, the hottest key's row count, its
    * share of the table, and the hot-key multiplier max·keys/rows (how
    * many times the average key the whale is: >~32 means one task owns
    * the key under a 32-way shuffle and salting is due). One two-level
    * hash aggregate per audited key; NULL keys group like any value. */
  def keySkew(label: String, df: DataFrame, keyCol: String): DataFrame =
    df.groupBy(col(keyCol)).agg(count(lit(1)).as("__k"))
      .agg(sum(col("__k")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(col("__k")).as("max_key_n"))
      .select(lit(label).as("keyed"),
        col("n_rows").cast("long").as("n_rows"),
        col("n_keys").cast("long").as("n_keys"),
        col("max_key_n").cast("long").as("max_key_n"),
        round(col("max_key_n").cast("double") / col("n_rows"), 6)
          .as("top_share"),
        round(col("max_key_n").cast("double") * col("n_keys") /
          col("n_rows"), 4).as("skew_ratio"))

  /** Uniqueness check: rows carrying a key that occurs more than once
    * (a key seen k>1 times contributes k violations — every row of a
    * duplicated key is implicated, matching the Deequ convention). */
  def uniqueCheck(name: String, df: DataFrame, keyCols: Seq[String])
      : DataFrame = {
    val grouped = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__k"))
    grouped.agg(
      coalesce(sum(col("__k")), lit(0L)).as("n_checked"),
      coalesce(sum(when(col("__k") > 1, col("__k")).otherwise(0L)), lit(0L))
        .as("n_violations"))
      .select(lit(name).as("check_name"), col("n_checked").cast("long"),
        col("n_violations").cast("long").as("n_violations"))
  }
}
