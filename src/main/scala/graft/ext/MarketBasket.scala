package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.CappedCollect.capped_collect_set

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
  * excluded from the analysis entirely (denominator included — the mined
  * rules stay internally consistent over the kept population), and the
  * caller can audit exclusions with [[oversized]]. The basket arrays come
  * from one capped aggregate ([[graft.functions.CappedCollect]]) that
  * collects a basket's distinct items and drops its buffer once it passes
  * `maxBasket` of them, so no buffer ever holds more than `maxBasket`+1
  * items. The gate corpus tops out at 13 items per basket, far under the
  * default cap, so gate rows measure the uncapped semantics.
  *
  * Scale shape (100 TB): one basket-keyed exchange feeding the capped
  * set aggregate (the fan-out repartition where the input is one file),
  * then the map-side pair generator (≤ maxBasket² rows per basket) into
  * the partially-aggregated (a, b) pair exchange — all linear in the pair
  * volume; no self-join, no windows, no global sort, no driver state.
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
    // r13 pair generation: per-basket sorted arrays + map-side explosion,
    // not a basket-keyed self-join. One capped set aggregate per basket
    // counts its distinct items (a NULL item counts, as a distinct
    // (basket, item) row did), gates it and collects it: an oversized
    // basket comes back NULL and its buffer is dropped at maxBasket+1
    // items, so a 10⁶-item whale never builds its array. It rides the
    // fanOut partitioning (or the one basket exchange), and the
    // ≤ maxBasket² pair stream is a pure generator (posexplode + slice)
    // feeding a partially-aggregated pair count. A NULL basket is left
    // out of everything below.
    val arr = graft.sources.Sources.fanOut(
        items.select(col(basketCol).as("basket"), col(itemCol).as("item"))
          .where(col("basket").isNotNull),
        col("basket"))
      .groupBy(col("basket"))
      .agg(capped_collect_set(col("item"), maxBasket).as("its"))
      .where(col("its").isNotNull)
      .hint("rebalance", col("basket"))
    // The basket universe (the support denominator n), the item counts and
    // the pairs all read one (i, item) row per kept basket item, plus one
    // (NULL, NULL) row per kept basket with no item (only NULL items), so
    // n counts it as the distinct (basket, item) rows did. Each consumer
    // would run the plan under `arr` up to the nearest exchange, so the
    // rebalance puts an exchange on top that ReuseExchange computes once
    // for all three (a plain repartition on basket is dropped: the
    // aggregate is already partitioned by it). The outer generator is
    // what keeps them one plan: an inner posexplode or explode pushes a
    // non-empty-array filter under the exchange, and n cannot take it.
    val elems = arr.select(col("its"),
      posexplode_outer(col("its")).as(Seq("i", "item")))
    val n = elems.where(coalesce(col("i"), lit(0)) === 0)
      .agg(count(lit(1)).as("n_baskets"))
    // item supports re-derived map-side from the basket arrays (counting
    // the (basket, item) rows instead lets the rules join push an item IS
    // NOT NULL filter into that scan, a second scan and shuffle of the
    // item table). NULL items never pair — item_a < item_b is
    // null-rejecting — and the rules join on item is inner, so leaving
    // NULLs out of the arrays cannot change any emitted row.
    val itemCnt = elems.where(col("item").isNotNull)
      .groupBy(col("item")).agg(count(lit(1)).as("c"))
    // sorted + distinct ⇒ strictly increasing, so "elements after
    // position i" IS the item_a < item_b pair set of the old self-join.
    val pairs = Pairs.pairsAfter(elems.withColumnRenamed("item", "item_a"),
        "its", "i", "item_a", "item_b")
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
