package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

object Pairs {

  /** Every `a < b` pair of a strictly increasing (sorted, duplicate-free)
    * array column, as rows (`left`, `right`): element i pairs with each
    * element after position i. A pure map-side generator — no self-join,
    * no n²-then-filter double explode; arrays of size 0 or 1 emit nothing.
    * For an array that is not strictly increasing the pairs follow array
    * order, not value order. */
  def sortedPairs(df: DataFrame, arrayCol: String, left: String,
                  right: String): DataFrame =
    pairsAfter(df.select(col(arrayCol), posexplode(col(arrayCol)).as(Seq("i", left))),
      arrayCol, "i", left, right)

  /** The second half of [[sortedPairs]], over rows that already carry
    * each element (`left`) and its position (`posCol`) beside the array:
    * element i pairs with each element after position i. A row with a
    * NULL position (a `posexplode_outer` row of an empty array) emits
    * nothing. */
  def pairsAfter(rows: DataFrame, arrayCol: String, posCol: String,
                 left: String, right: String): DataFrame =
    rows.select(col(left),
      explode(slice(col(arrayCol), col(posCol) + lit(2), size(col(arrayCol))))
        .as(right))
}
