package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data Selection via Importance Resampling (DSIR) — hashed-n-gram
  * importance weights for domain-targeted corpus selection (Xie et al.
  * 2023, arXiv:2302.03169, §3): estimate a target and a raw unigram
  * distribution over a FIXED number of hash buckets, then score every
  * document by the sum of per-token log-likelihood ratios. Selecting the
  * highest-weight documents concentrates the corpus toward the target
  * domain without training a classifier.
  *
  * Scale shape (the whole point of the hashed parameterization): both
  * "models" are one `nBuckets`-row table regardless of corpus size, so
  *  - pass 1 (estimate) is a map-side-combined count into ≤ nBuckets keys
  *    — the exchange carries at most nBuckets rows per task;
  *  - pass 2 (score) joins the token stream against the nBuckets-row
  *    ratio table — AQE broadcasts it at any realistic size (no hint, so
  *    a pathological nBuckets still degrades to a shuffle join instead of
  *    a driver OOM) — and reduces per document.
  * Two corpus passes are inherent (the estimate must see every token
  * before any document can be scored), exactly like
  * [[TextAnalysis]]/`q_x_unigram_logprob`'s self-trained LM.
  *
  * Hash-stability: the per-bucket log-ratio is floored to MILLI-NATS
  * before the per-document aggregation, so every document score is an
  * exact BIGINT sum — partial-aggregation order can't perturb it, and the
  * DuckDB oracle reproduces the identical integers (same double ratio,
  * same `ln`, same floor). The only float op is one ln per BUCKET (≤
  * nBuckets of them), not per token.
  */
object Dsir {

  /** Hash bucket of a token: the first two hex digits of its md5, i.e. a
    * uniform 0..255 — portable to any engine with md5 (the repo's
    * established engine-portable hash, cf. [[Sampling]]). */
  private def bucket(tok: Column): Column =
    conv(substring(md5(tok), 1, 2), 16, 10).cast("long")

  /** Per-document importance weights. Output:
    * (idCol, n_tok, dsir_milli) where dsir_milli is the exact sum of
    * per-token floor(1000·ln λ_b) and λ_b the Laplace-smoothed
    * target/raw likelihood ratio of the token's bucket.
    *
    * `isTarget` marks the rows whose tokens estimate the target
    * distribution (e.g. `col("lang") === "en"` or a curated-seed flag);
    * the raw distribution is the whole input. Documents with no tokens
    * after empty-split filtering drop out (they carry no evidence either
    * way — callers wanting them keep a left join on ids).
    */
  def importanceWeights(docs: DataFrame, idCol: String, textCol: String,
                        isTarget: Column): DataFrame = {
    // Bucket width is FIXED at 256: bucket() hashes to the md5 leading
    // byte. A width parameter existed in round 10 but rejected every value
    // except 256 at runtime — misleading API surface; other widths need a
    // mod both engines apply identically (extend bucket() before widening).
    val nBuckets = 256
    // r13: materialize the bucketed token stream ONCE (the minhash-memb
    // persist+count idiom). `toks` feeds both the estimate aggregate and
    // the scoring join, and the whole chain below it is map-only — no
    // exchange for Catalyst to reuse — so the tokenize + per-token
    // md5/conv pass (the operator's dominant CPU) executed twice.
    // persist, not localCheckpoint: the stream is corpus-scale, and the
    // counted cache keeps join planning size-aware (the MarketBasket
    // stats argument); dropped before return via the checkpointed result.
    val toks = docs.select(col(idCol), isTarget.as("is_t"), col(textCol))
      .select(col(idCol), col("is_t"),
        explode(filter(split(col(textCol), " ", -1), t => t =!= lit("")))
          .as("tok"))
      .select(col(idCol), col("is_t"), bucket(col("tok")).as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    toks.count()
    val counts = toks.groupBy(col("b")).agg(
      count(lit(1)).as("n_raw"),
      sum(when(col("is_t"), 1L).otherwise(0L)).as("n_t"))
    // corpus totals as a GLOBAL window over the ≤nBuckets-row count frame
    // — one single-partition pass over 256 rows, NOT a separate corpus
    // aggregation branch (the unigram_logprob idiom).
    val w = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    // The ratio is evaluated in DOUBLE from the start: numerator /
    // denominator products of a 100 TB corpus' token totals overflow
    // BIGINT (N² ≈ 10²⁶), and IEEE double ×/÷ in this fixed order is
    // bit-reproducible across engines, which integer-then-cast is not
    // once it wraps.
    val lam = counts
      .withColumn("nr_tot", sum(col("n_raw")).over(w))
      .withColumn("nt_tot", sum(col("n_t")).over(w))
      .select(col("b"),
        floor(log(
          ((col("n_t") + 1L).cast("double") *
            (col("nr_tot") + nBuckets.toLong).cast("double")) /
          ((col("n_raw") + 1L).cast("double") *
            (col("nt_tot") + nBuckets.toLong).cast("double"))) * 1000)
          .cast("long").as("lambda_milli"))
    val scored = toks.join(lam, "b")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tok"),
        sum(col("lambda_milli")).as("dsir_milli"))
    // doc-count-sized result; checkpoint eagerly so the corpus-scale
    // token cache can drop now (the SimilarityJoin pattern)
    try scored.localCheckpoint(true)
    finally toks.unpersist(blocking = false)
  }
}
