package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket association rules — the classic warehouse co-purchase
  * analysis (Agrawal/Srikant-style support–confidence–lift over item
  * pairs), built exact: every emitted statistic is a ratio of integer
  * counts divided once at the end, so the output is layout- and
  * engine-independent.
  *
  * Pair generation explodes each kept basket's sorted item array
  * map-side — fan-out is bounded by the basket SIZE, not the corpus,
  * so the whale hazard here is a single enormous basket (one order
  * with 10⁶ items would emit 5·10¹¹ pairs, and would first build a
  * 10⁶-element aggregation buffer). `maxBasket` is that guardrail, the
  * `maxBucket`/`maxBlock` idiom: baskets larger than the cap are
  * excluded from the analysis entirely BEFORE any array is collected
  * (denominator included — the mined rules stay internally consistent
  * over the kept population), and the caller can audit exclusions with
  * [[oversized]]. The gate corpus tops out at 13 items per basket, far
  * under the default cap, so gate rows measure the uncapped semantics.
  *
  * Scale shape (100 TB): one distinct exchange on (basket, item), one
  * basket-size aggregate, one basket-keyed exchange shared by the size
  * join and the array collect, then the map-side pair generator
  * (≤ maxBasket² rows per basket) into the partially-aggregated (a, b)
  * pair exchange — all linear in the pair volume; no self-join, no
  * windows, no global sort, no driver state.
  */
object MarketBasket {

  /** Baskets excluded by the cap, with their sizes — the audit frame. */
  def oversized(items: DataFrame, basketCol: String, itemCol: String,
                maxBasket: Int = 64): DataFrame =
    items.select(col(basketCol).as("basket"), col(itemCol).as("item"))
      .distinct()
      .groupBy(col("basket")).agg(count(lit(1)).as("basket_size"))
      .filter(col("basket_size") > maxBasket)

  /** Undirected item-pair rules with exact support, both directional
    * confidences, and lift, over baskets of 2..maxBasket distinct items
    * (plus singleton baskets in the denominator).
    *
    * Output: (item_a, item_b, n_pair, n_a, n_b, support, conf_a_b,
    * conf_b_a, lift) for pairs co-occurring in >= minPairCount baskets;
    * item_a < item_b. All ratios are exact-integer divisions rounded to
    * 6 decimals.
    */
  def associationRules(
      items: DataFrame,
      basketCol: String,
      itemCol: String,
      minPairCount: Long,
      maxBasket: Int = 64): DataFrame = {
    val b0 = graft.sources.Sources.fanOut(
        items.select(col(basketCol).as("basket"), col(itemCol).as("item")),
        col("basket"))
      .distinct()
    val kept = b0
      .groupBy(col("basket")).agg(count(lit(1)).as("sz"))
      .filter(col("sz") <= maxBasket)
    // the basket universe (support denominator) is the kept-basket count;
    // inner joins drop a NULL basket, so it is left out of n too
    val n = kept.filter(col("basket").isNotNull)
      .agg(count(lit(1)).as("n_baskets"))
    // r13 pair generation: per-basket sorted arrays + map-side explosion,
    // not a basket-keyed self-join. The kept join's SMJ already exchanges
    // the item table by basket, so the collect_list aggregate rides that
    // partitioning for free, and the ≤ maxBasket² pair stream is then a
    // pure generator (posexplode + slice) feeding a partially-aggregated
    // pair count — the two self-join exchanges and their sorts are gone.
    // Whale-safe BECAUSE the size filter precedes the collect: an
    // aggregation buffer only ever holds a kept basket (≤ maxBasket
    // items); a 10⁶-item whale is dropped by `kept` before any array
    // builds. The item and pair counts below both read `arr`, and each
    // would run the plan under it up to the nearest exchange, so the
    // rebalance puts an exchange on top that ReuseExchange computes once
    // for both (a plain repartition on basket is dropped: the aggregate
    // is already partitioned by it). At sf1 on 4 cores it cut the query's
    // median from 16.0 s to 14.5 s.
    val arr = b0.join(kept.select(col("basket")), "basket")
      .groupBy(col("basket"))
      .agg(sort_array(collect_list(col("item"))).as("its"))
      .hint("rebalance", col("basket"))
    // item supports re-derived map-side from the basket arrays (counting
    // the (basket, item) rows instead lets the rules join push an item IS
    // NOT NULL filter into that scan, a second scan and shuffle of the
    // item table). NULL items never pair — item_a < item_b is
    // null-rejecting — and the rules join on item is inner, so dropping
    // NULLs from collect_list cannot change any emitted row.
    val itemCnt = arr.select(explode(col("its")).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("c"))
    // sorted + distinct ⇒ strictly increasing, so "elements after
    // position i" IS the item_a < item_b pair set of the old self-join.
    val pairs = Pairs.sortedPairs(arr, "its", "item_a", "item_b")
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minPairCount)
    // r13: lift products in DOUBLE, not DECIMAL(38,0). Counts are exact
    // doubles below 2^53, and one double multiply of two exact values is
    // the correctly-rounded true product — bit-identical to the old
    // exact-decimal-product-then-cast (and to DuckDB's HUGEINT product
    // cast to DOUBLE), without a BigDecimal multiply per rule row.
    pairs
      .join(itemCnt.select(col("item").as("item_a"), col("c").as("n_a")), "item_a")
      .join(itemCnt.select(col("item").as("item_b"), col("c").as("n_b")), "item_b")
      .crossJoin(broadcast(n))
      .select(
        col("item_a"), col("item_b"), col("n_pair"), col("n_a"), col("n_b"),
        round(col("n_pair").cast("double") / col("n_baskets"), 6).as("support"),
        round(col("n_pair").cast("double") / col("n_a"), 6).as("conf_a_b"),
        round(col("n_pair").cast("double") / col("n_b"), 6).as("conf_b_a"),
        round((col("n_pair").cast("double") * col("n_baskets").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6).as("lift"))
  }
}
