package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact distributional statistics — the feature-engineering /
  * data-understanding aggregates a warehouse team runs before modeling:
  * a Pearson correlation matrix, categorical mutual information, and a
  * Benford first-digit audit. Each is built on the repo's determinism
  * discipline: every sum is an exact integer (centi-unit longs summed in
  * DECIMAL(38,0)), every double is derived from identical exact operands
  * on any engine/layout, and division happens once at the end.
  *
  * Why not `corr()`: the built-in aggregates in both Spark and DuckDB
  * accumulate doubles in partition order, so their low bits are
  * layout-dependent — the exact failure class the sf1 xcheck caught for
  * `round(sum(double))` money aggregates. Exact moment sums make the
  * matrix bit-stable instead.
  *
  * Scale shape (100 TB): each operator is ONE scan with map-side partial
  * aggregation — the correlation matrix reduces to a single 1-row frame
  * of O(k²) exact moments (k = #columns, so 20 sums for k=4 — driver-free
  * and broadcast-free), mutual information to one (a,b) grouped count
  * whose marginals and total are window sums over its cells in one task
  * (so both columns must be categorical: the task holds |A|·|B| rows),
  * Benford to a 9-row digit aggregate with a window total. Nothing here
  * is quadratic in rows and nothing collects.
  */
object Stats {

  private def centi(c: Column): Column =
    round(c * 100, 0).cast("decimal(38,0)")

  /** Pairwise Pearson correlation over 2-decimal numeric columns, exact
    * to the final division: per-pair output row carries n and
    * corr = (n·Sxy − Sx·Sy) / sqrt((n·Sxx − Sx²)(n·Syy − Sy²)) where
    * every moment is an exact DECIMAL(38,0) of centi-units. The three
    * parenthesized terms are exact decimals cast to double only for the
    * final sqrt/divide, so both engines divide IDENTICAL operands.
    *
    * Precision headroom: centi prices ~1e7 give Sxy ≤ 1e14·rows and
    * n·Sxy ≤ 1e14·rows² — inside DECIMAL(38,0) (and DuckDB HUGEINT)
    * through rows ≈ 1e12, i.e. comfortably past a 100 TB lineitem. */
  def corrMatrixCenti(df: DataFrame, cols: Seq[String]): DataFrame = {
    // r13 per-row cost fix (guide §1.2 step 2, expression choice): the
    // old shape multiplied DECIMAL(38,0)×DECIMAL(38,0) per row — Spark's
    // Decimal.* always routes through java.math.BigDecimal (no compact-
    // long fast path), so k(k+3)/2 interpreted BigDecimal multiplies +
    // allocations per input row dominated the scan. Keep per-row values
    // as LONGs, form each product in 64-bit integer arithmetic, and cast
    // only the PRODUCT to decimal for the (compact-fast-path) sum. Safe
    // iff |centi| < √(2⁶³) ≈ 3.037e9, i.e. column magnitudes ≤ ~30.4M
    // units — guarded per row with a loud raise_error (Spark non-ANSI
    // long multiply would otherwise WRAP silently where the old decimal
    // path stayed exact; the KN-overflow-guard convention).
    val centiLongBound = 3037000499L // floor(sqrt(2^63 - 1))
    val c = cols.map { n =>
      val v = round(col(n) * 100, 0).cast("long")
      when(abs(v) < centiLongBound, v)
        .otherwise(raise_error(concat(
          lit(s"corrMatrixCenti: |centi($n)| >= 3.037e9 overflows the " +
            "long product path, value "), v.cast("string"))))
        .as(n)
    }
    val d = df.select(c: _*)
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val dec38 = (x: org.apache.spark.sql.Column) => x.cast("decimal(38,0)")
    val moments =
      Seq(count(lit(1)).cast("decimal(38,0)").as("n")) ++
        cols.map(n => sum(dec38(col(n))).as(s"s_$n")) ++
        cols.map(n => sum(dec38(col(n) * col(n))).as(s"ss_$n")) ++
        pairs.map { case (a, b) =>
          sum(dec38(col(a) * col(b))).as(s"sp_${a}_$b") }
    // one 1-row moments frame; every pair is a struct over that same row,
    // and inline() turns the array of k(k-1)/2 structs into rows, so the
    // scan and aggregate run once in one plan (no checkpoint, no union)
    val m = d.agg(moments.head, moments.tail: _*)
    val rows = pairs.map { case (a, b) =>
      val num = (col("n") * col(s"sp_${a}_$b") - col(s"s_$a") * col(s"s_$b"))
        .cast("double")
      val den = sqrt((col("n") * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a"))
        .cast("double") *
        (col("n") * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b"))
          .cast("double"))
      // zero-variance guard (acf's convention): a constant column makes
      // num and den both 0 and Spark's 0.0/0.0 is NaN while DuckDB's
      // differs by build flag — emit NULL, the only bit-stable answer.
      struct(
        lit(a).as("col_a"), lit(b).as("col_b"),
        col("n").cast("long").as("n"),
        when(den =!= 0.0, round(num / den, 6)).as("corr"))
    }
    m.select(inline(array(rows: _*)))
  }

  /** Mutual information between two categorical columns, emitted as one
    * row PER CELL of the joint distribution (not a single summed scalar:
    * a cross-cell double sum would be layout-ordered; per-cell values are
    * each computed from four exact longs, so every row is deterministic).
    * Output: (a, b, n_ab, pmi, mi_contrib) with
    * pmi = log2(n_ab·N / (n_a·n_b)) and mi_contrib = (n_ab/N)·pmi. The
    * total MI is the exact-input sum of `mi_contrib` — callers wanting
    * the scalar sum it over this (≤|A|·|B|-row) frame. */
  def mutualInfoCells(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val base = df.select(col(aCol).as("a"), col(bCol).as("b"))
    // ONE scan: the joint table is the sufficient statistic — marginals
    // and the total are exact window sums over its <=|A|*|B| rows, so the
    // input is read once and everything downstream is cell-count
    // arithmetic in the same plan
    val joint = base.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_ab"))
      .withColumn("n_a", sum(col("n_ab")).over(Window.partitionBy(col("a"))))
      .withColumn("n_b", sum(col("n_ab")).over(Window.partitionBy(col("b"))))
      .withColumn("n_total", sum(col("n_ab")).over())
      // a NULL category counts toward the marginals and N but is no cell
      .filter(col("a").isNotNull && col("b").isNotNull)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    joint.select(col("a"), col("b"), col("n_ab"),
        round(
          log(2.0,
            (dec(col("n_ab")) * col("n_total")).cast("double") /
              (dec(col("n_a")) * col("n_b")).cast("double")),
          6).as("pmi"),
        round(
          (col("n_ab").cast("double") / col("n_total")) *
            log(2.0,
              (dec(col("n_ab")) * col("n_total")).cast("double") /
                (dec(col("n_a")) * col("n_b")).cast("double")),
          6).as("mi_contrib"))
  }

  /** Benford first-significant-digit audit over a positive 2-decimal
    * column: observed count and share per leading digit, the Benford
    * expectation log10(1 + 1/d), and the chi-square contribution
    * (n − N·p)²/(N·p). The leading digit is taken from the STRING form
    * of the exact centi-unit integer — ×100 never changes the leading
    * significant digit of a positive value, and the string route avoids
    * the log10-at-a-power-of-ten boundary where two libm implementations
    * can disagree by an ulp and bin a row differently. */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val digits = df
      .filter(col(valueCol) > 0)
      .select(substring(centi(col(valueCol)).cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      // <=9 rows: the total is a window sum over them in the same plan
      .withColumn("n_total", sum(col("n")).over())
    val p = log(10.0, lit(1.0) + lit(1.0) / col("digit"))
    digits.select(col("digit"), col("n"),
        round(col("n").cast("double") / col("n_total"), 6).as("share"),
        round(p, 6).as("benford_p"),
        round(
          pow(col("n").cast("double") - col("n_total") * p, 2.0) /
            (col("n_total") * p),
          4).as("chi2_term"))
  }
}
