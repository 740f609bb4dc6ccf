package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TextRank keyword extraction (Mihalcea & Tarau, "TextRank: Bringing
  * Order into Texts", EMNLP 2004): PageRank over the word co-occurrence
  * graph. Nodes are words, edges are adjacent-token pairs weighted by
  * corpus frequency (symmetrized, self-loops dropped), and the stationary
  * importance is approximated with a FIXED number of damped power
  * iterations — fixed so the result is a deterministic, oracle-checkable
  * function of the corpus rather than of a convergence test's float
  * epsilon.
  *
  * Scale shape: the edge list is a bigram aggregate (vocab²-bounded,
  * corpus-bounded in practice) built once and localCheckpoint-ed; each
  * iteration is ONE hash join of the vocab-sized rank frame against the
  * edge list plus one re-aggregation — all linear in |edges| per
  * iteration, nothing accumulates across iterations (the loop re-binds a
  * vocab-sized frame, never grows a plan over the corpus). Iterations
  * pipeline without barriers; ranks round-trip through localCheckpoint
  * every 8th iteration to bound plan depth for deep-iteration callers.
  * No driver-side state beyond the node count.
  *
  * Update rule (normalized PageRank form, no dangling mass — every node
  * of a symmetrized edge list has outgoing weight):
  *   r₀(v)    = 1/N
  *   rₜ₊₁(v) = (1-d)/N + d · Σ_{(u,v)∈E} rₜ(u) · w(u,v) / outw(u)
  */
object TextRank {

  /** Symmetrized weighted co-occurrence edges (u, v, n) from whitespace
    * tokens of textCol: one row per ordered pair, self-loops dropped. */
  def cooccurrenceEdges(df: DataFrame, textCol: String): DataFrame = {
    val toks = df
      .select(filter(split(col(textCol), " ", -1), x => x =!= "").as("toks"))
      .filter(size(col("toks")) >= 2)
    val bigrams = toks
      .select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .filter(col("w1") =!= col("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
    // Symmetrize MAP-SIDE from the aggregated bigram rows (r13): the old
    // self-union referenced `bigrams` twice, and Catalyst does no plan
    // reuse across union branches — the corpus-scale explode + aggregate
    // subtree executed TWICE (guide §1.2: don't compute things twice).
    // Emitting both directions per aggregated row is one extra map over
    // vocab²-bounded rows instead of a second corpus pass.
    bigrams
      .select(explode(array(
        struct(col("w1").as("u"), col("w2").as("v"), col("n")),
        struct(col("w2").as("u"), col("w1").as("v"), col("n")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.n").as("n"))
      .groupBy(col("u"), col("v")).agg(sum(col("n")).as("n"))
  }

  /** Word ranks after `iterations` damped power steps over the
    * co-occurrence graph of textCol. Output: (word, rank) — rank is the
    * raw double; callers emitting it across engines should round. */
  def wordRanks(df: DataFrame, textCol: String, damping: Double = 0.85,
                iterations: Int = 3): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    require(damping > 0 && damping < 1, s"damping $damping outside (0,1)")
    val edges = cooccurrenceEdges(df, textCol)
      .localCheckpoint(true) // built once; every iteration re-reads it
    val deg = edges.groupBy(col("u")).agg(sum(col("n")).as("outw"))
    val withNorm = edges.join(deg, "u")
      .select(col("u"), col("v"),
        (col("n").cast("double") / col("outw")).as("wn"))
      .localCheckpoint(true)
    val n = deg.count() // vocab size — the only driver-side value
    var ranks = deg.select(col("u").as("word"),
      lit(1.0 / n).as("rank"))
    for (i <- 1 to iterations) {
      ranks = withNorm
        .join(ranks, withNorm("u") === ranks("word"))
        .groupBy(col("v"))
        .agg(sum(col("rank") * col("wn")).as("__c"))
        .select(col("v").as("word"),
          (lit((1.0 - damping) / n) + lit(damping) * col("__c")).as("rank"))
      // r14: no per-iteration checkpoint. Each iteration's frame is
      // consumed exactly ONCE (by the next iteration's join), so the
      // eager checkpoints were pure serial barriers — `iterations`
      // back-to-back driver jobs where one pipelined plan does the same
      // work (guide §1.2: remove passes; measured 1.354 → 1.261 s — the
      // corpus-scale edge build dominates this query, the barriers were
      // ~0.1 s of serial latency). The
      // iterates nest above the ONE checkpointed withNorm frame, so plan
      // depth grows linearly in `iterations`; checkpoint every 8th round
      // as the lineage/planning guard for deep-iteration callers.
      if (i % 8 == 0 && i < iterations) ranks = ranks.localCheckpoint(true)
    }
    ranks
  }

  /** Top-k keywords with engine-portable scores: rank scaled to parts-per-
    * million and rounded to 2 dp, ORDERED ON THE ROUNDED VALUE (word
    * tie-break) so cross-engine float-sum jitter can't flip the k-th
    * place. */
  def topKeywords(df: DataFrame, textCol: String, k: Int,
                  damping: Double = 0.85, iterations: Int = 3): DataFrame =
    wordRanks(df, textCol, damping, iterations)
      .select(col("word"),
        round(col("rank") * 1e6, 2).as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("word"))
      .limit(k)

  /** Per-node triangle counts over the co-occurrence graph — the local
    * clustering signal (a word in many triangles lives in a dense phrase
    * neighborhood; an event key in many triangles is a community hub).
    * Exact integer counts: every triangle is enumerated ONCE as an
    * ordered triple a<b<c through two self-joins of the forward
    * (u<v) edge list, then attributed to its three corners.
    *
    * Scale shape: wedge enumeration is the quadratic hazard here — node
    * u contributes deg⁺(u)² wedge candidates. Ordering edges u<v
    * lexicographically already halves degrees; at 100 TB order by DEGREE
    * instead (forward = low-degree → high-degree endpoint, the standard
    * bound: Σ deg⁺² ≤ m^1.5 — same triangles, provably bounded wedges;
    * the lexicographic order keeps the SQL oracle trivial and is
    * identical in result). Joins are plain hash equi-joins on single
    * keys; counts are integers, so the oracle is hash-exact. */
  def triangleCounts(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k > 0, s"k $k must be positive")
    val fw = cooccurrenceEdges(df, textCol)
      .filter(col("u") < col("v"))
      .select(col("u"), col("v"))
      .localCheckpoint(true) // three joins below re-read it
    val e1 = fw.select(col("u").as("a"), col("v").as("b"))
    val e2 = fw.select(col("u").as("b"), col("v").as("c"))
    val e3 = fw.select(col("u").as("a"), col("v").as("c"))
    val tri = e1.join(e2, "b").join(e3, Seq("a", "c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("word"))
      .limit(k)
  }
}
