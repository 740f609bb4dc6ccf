package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Maximal-marginal-relevance diverse re-ranking (Carbonell & Goldstein
  * 1998, "The use of MMR, diversity-based reranking for reordering
  * documents and producing summaries", SIGIR) — the standard final stage
  * of a retrieval pipeline: after a retriever (dense top-k, hybrid RRF,
  * ...) produces a relevance-ordered candidate list, MMR greedily picks
  * the next result maximizing
  *
  *   λ · rel(c)  −  (1−λ) · max_{s ∈ selected} sim(c, s)
  *
  * so the top-k shown (or kept for a training batch) trades relevance
  * against redundancy. For a data pipeline this is the anti-near-dup
  * selection step: "the k most relevant AND mutually distinct" — the same
  * role SemDeDup plays corpus-wide, applied per query/retrieval.
  *
  * Exactness: similarity here is the INTEGER dot product of deci-milli-
  * quantized components (`round(x·10⁴)` longs — the
  * [[Similarity.labelStats]] idiom; the corpus embeddings are unit-norm,
  * so this is cosine·10⁸ up to quantization, and the quantization itself
  * is bit-identical cross-engine). Scores are
  * `λmilli·rel − (1000−λmilli)·maxSim` — pure long arithmetic
  * (|score| ≤ 1000·dim·10⁸ < 2⁵³), so selection, tie-breaks
  * (score desc, id asc), and the emitted scores all hash-check against an
  * engine that unrolls the same greedy steps (the `q_x_pca_top`
  * unrolled-iteration oracle pattern).
  *
  * Scale shape: probes are bounded (≤64, broadcast); ONE map-only corpus
  * scan against the broadcast probes computes relevance, and the bounded
  * [[graft.functions.TopKPayloadAgg]] heap carries each survivor's
  * QUANTIZED VECTOR through the reduction — so the candidate pool arrives
  * with its vectors attached and no second corpus pass re-derives them
  * (at most topEach (id, rel, vec) entries per probe per map task enter
  * the exchange — no window, no corpus sort). Pair similarities and the
  * greedy unroll run on |probes|·topEach² bounded frames. Nothing
  * corpus-sized shuffles; at 100 TB the cost is the single relevance
  * scan — identical to [[Similarity.bruteForceTopK]] — and at that scale
  * the candidate generator swaps for [[Similarity.ivfTopKFromIndex]]
  * with this function consuming its output unchanged.
  */
object Mmr {

  /** exact integer dot product of two equal-length long arrays */
  private def dotL(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Greedy MMR top-`k` per probe over the exact top-`topEach` relevance
    * candidates.
    *
    * @param emb         embedding table: (idCol: long, vecCol: array<float>)
    * @param probeIds    query vector ids (bounded; broadcast)
    * @param topEach     candidate pool size per probe (≤64)
    * @param k           results per probe after re-ranking (≤topEach)
    * @param lambdaMilli λ·1000: 1000 = pure relevance, 0 = pure diversity
    * @return (query_id, mmr_rank, cand_id, mmr_score) — k rows per probe,
    *         mmr_score the exact long `λmilli·rel − (1000−λmilli)·maxSim`
    *         at selection time, ties broken by cand_id asc
    */
  def mmrRerank(emb: DataFrame, probeIds: Seq[Long], topEach: Int = 12,
                k: Int = 4, lambdaMilli: Int = 700,
                idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    require(probeIds.nonEmpty && probeIds.size <= 64,
      s"probeIds must be 1..64 ids (bounded broadcast), got ${probeIds.size}")
    require(topEach >= 1 && topEach <= 64,
      s"topEach $topEach must be in 1..64 (bounded candidate pool)")
    require(k >= 1 && k <= topEach, s"k $k must be in 1..topEach=$topEach")
    require(lambdaMilli >= 0 && lambdaMilli <= 1000,
      s"lambdaMilli $lambdaMilli must be in 0..1000")

    // deci-milli quantization: exact longs, dot ≤ dim·10⁸
    val qv = emb.select(col(idCol).cast("long").as("vid"),
      transform(col(vecCol),
        x => round(x.cast("double") * 10000).cast("long")).as("qvec"))

    val probes = qv.filter(col("vid").isin(probeIds: _*))
      .select(col("vid").as("query_id"), col("qvec").as("pvec"))

    // THE one corpus scan: relevance against the broadcast probes, reduced
    // by the bounded payload heap which keeps each survivor's quantized
    // vector alongside its (id, rel) — so no second corpus pass is needed
    // to re-attach vectors for the pairwise-similarity step below (rel is
    // an integer < 2⁵³ so the double-scored heap orders exactly).
    // Eagerly checkpoint the tiny bounded result (≤64·64 rows): it is
    // referenced from both sides of the pair self-join AND the packed
    // aggregate — without materialization Catalyst re-evaluates it per
    // reference and the corpus scan behind it runs 3×, which at 100 TB
    // triples the dominant cost (the tfidf postings / simhash membership
    // idiom).
    val cands = qv.join(broadcast(probes), col("vid") =!= col("query_id"))
      .select(col("query_id"), col("vid").as("cand_id"),
        dotL(col("qvec"), col("pvec")).as("rel"), col("qvec"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKPayloadAgg
        .topk_by_score_payload(col("rel").cast("double"), col("cand_id"),
          col("qvec"), topEach)
        .as("top"))
      .select(col("query_id"), explode(col("top")).as("s"))
      .select(col("query_id"), col("s.neighbor_id").as("cand_id"),
        col("s.cos").cast("long").as("rel"), col("s.payload").as("qvec"))
      .localCheckpoint(true)

    // pairwise candidate similarities: |probes|·topEach² bounded rows
    val pairs = cands.select(col("query_id"), col("cand_id").as("ca"),
        col("qvec").as("va"))
      .join(cands.select(col("query_id"), col("cand_id").as("cb"),
        col("qvec").as("vb")), Seq("query_id"))
      .filter(col("ca") =!= col("cb"))
      .select(col("query_id"), col("ca"), col("cb"),
        dotL(col("va"), col("vb")).as("s"))

    // one row per probe holding the candidate pool + its sim matrix.
    // LEFT join + empty-array default: a probe whose pool has exactly ONE
    // candidate produces no pair rows at all (the ca =!= cb self-join is
    // empty) — an inner join would drop the probe entirely instead of
    // emitting its honest single-row list.
    val packed = cands.groupBy(col("query_id"))
      .agg(collect_list(struct(col("cand_id"), col("rel"))).as("cands"))
      .join(pairs.groupBy(col("query_id"))
        .agg(collect_list(struct(col("ca"), col("cb"), col("s"))).as("sims")),
        Seq("query_id"), "left")
      .withColumn("sims", coalesce(col("sims"),
        expr("CAST(array() AS array<struct<ca: bigint, cb: bigint, s: bigint>>)")))

    // greedy unroll: k steps of argmax(λ·rel − (1−λ)·maxSimToSelected),
    // argmax via array_max over struct(score, −id) (lexicographic struct
    // ordering = score desc then id asc) — all long arithmetic
    val lam = lit(lambdaMilli.toLong)
    val oneMinusLam = lit((1000 - lambdaMilli).toLong)
    val selected = aggregate(
      sequence(lit(1), lit(k)),
      expr("CAST(array() AS array<struct<" +
        "mmr_rank: bigint, cand_id: bigint, mmr_score: bigint>>)"),
      (sel, step) => {
        val selIds = transform(sel, s => s.getField("cand_id"))
        val remaining = filter(col("cands"),
          c => !array_contains(selIds, c.getField("cand_id")))
        val best = array_max(transform(remaining, c => {
          val maxSim = coalesce(
            array_max(transform(
              filter(col("sims"), p =>
                p.getField("ca") === c.getField("cand_id") &&
                  array_contains(selIds, p.getField("cb"))),
              p => p.getField("s"))),
            lit(0L))
          struct(
            (lam * c.getField("rel") - oneMinusLam * maxSim).as("score"),
            (-c.getField("cand_id")).as("nid"))
        }))
        concat(sel, array(struct(
          step.cast("long").as("mmr_rank"),
          (-best.getField("nid")).as("cand_id"),
          best.getField("score").as("mmr_score"))))
      })

    packed
      .select(col("query_id"), explode(selected).as("r"))
      // degenerate guard: a probe with fewer than k candidates (corpus
      // smaller than the pool) exhausts `remaining` — the argmax over the
      // empty set is null; emit the probe's shorter honest list instead
      // of null-id rows
      .filter(col("r.cand_id").isNotNull)
      .select(col("query_id"), col("r.mmr_rank").as("mmr_rank"),
        col("r.cand_id").as("cand_id"), col("r.mmr_score").as("mmr_score"))
  }
}
