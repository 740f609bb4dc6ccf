package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Global plan guardrail: EVERY registered query's physical plan is swept
  * for the two scale-killers — CartesianProduct (never acceptable) and
  * BroadcastNestedLoopJoin (acceptable ONLY where a bounded probe set is
  * deliberately broadcast against a streaming corpus; each allowance is
  * justified below). A new query that accidentally degenerates — a missed
  * join key, an inequality-only condition — fails here by name instead of
  * surfacing as a mystery at scale.
  */
class PlanSweepSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** Queries whose BNLJ is the intended bounded-probe shape: a small,
    * explicitly-bounded side (fixed id range / fixed probe list) is
    * broadcast; the corpus streams exactly once. */
  private val bnljByDesign = Set(
    "q_x_ann_cosine_topk",    // 10 probe vectors broadcast vs corpus
    "q_x_hybrid_rrf",         // 10 probes broadcast twice (dense cosine +
                              // lexical token-overlap lists; both the
                              // bruteForceTopK shape, =!= cond)
    "q_x_ngram_jaccard",      // 10 probe shingle-sets broadcast (=!= cond)
    "q_x_emb_near_dup_exact", // 200-vector probe set, a<b all-pairs
    "q_x_dedup_verify",       // 1-in-5 probe candidates, a<b
    "q_x_edit_distance",      // 20×20 probe cross
    "q_x_source_signature",   // all-pairs over per-SOURCE signatures (≤ |sources|²)
    "q_x_decontaminate_semantic", // benchmark probe set broadcast vs corpus
    // violation anchors (AnchorQueries): each embeds an exact re-derivation
    // whose bounded side is broadcast — the anchor's own correctness shape,
    // not the production operator's plan
    "q_x_ann_lsh_anchor",          // bruteForceTopK: 10 probes broadcast
    "q_x_ann_ivf_anchor",          // bruteForceTopK: 10 probes broadcast
    "q_x_ann_pq_anchor",           // bruteForceTopK ground truth (10 probes
                                   // broadcast, =!= cond) embedded twice:
                                   // once vs the PQ path, once for recall
    "q_x_hard_negatives",          // 10 probe vectors broadcast vs corpus;
                                   // the label-mismatch predicate is the
                                   // MINING semantics, evaluated inside the
                                   // broadcast join (bruteForceTopK shape)
    "q_x_emb_near_dup_anchor",     // flagged near-dup set broadcast vs corpus
    "q_x_source_signature_anchor", // per-source pairs + exact jaccard, ≤ |sources|²
    "q_x_dedup_incremental_anchor",// 1-in-25 probe docs broadcast vs corpus
    "q_x_decontaminate_semantic_anchor", // exact path embedded as ground truth
    "q_x_kmeans_anchor",           // single-row size-sum totals join
    "q_x_heavy_hitters_anchor",    // single-row grand-total broadcast join
                                   // (same shape as q_x_kmeans_anchor)
    "q_x_bm25_top1",               // single-row avgdl broadcast join (the
                                   // corpus-mean length in BM25's length
                                   // normalization; same shape as above)
    "q_x_bm25_capped_top1",        // same single-row avgdl join, capped cfg
    "q_x_rfm",                     // two 1-row broadcast frames (corpus max
                                   // date; the 3-quartile cutoff row)
    "q_x_assoc_rules",             // single-row basket-universe count (the
                                   // support denominator) broadcast join
    "q_x_kneser_ney",              // single-row distinct-bigram total B
                                   // broadcast join (the continuation-
                                   // probability denominator; same shape
                                   // as q_x_assoc_rules)
    "q_x_kn_doc_logprob",          // the same single-row distinct-bigram
                                   // total B broadcast join as
                                   // q_x_kneser_ney, on the scoring side
    "q_x_mmr_rerank",              // ≤64 probe vectors broadcast vs corpus
                                   // (the bruteForceTopK =!= shape), in
                                   // the plan of its eager localCheckpoint
    "q_x_dedup_simhash_anchor")    // brute-force all-pairs hamming join:
                                   // the exact re-derivation the simhash
                                   // banding is checked against, run in
                                   // its eager probe

  Catalog.all.filterNot(_.name.startsWith("q_s_")).foreach { q =>
    test(s"${q.name}: no CartesianProduct; BNLJ only by design") {
      // Eager work (localCheckpoint, probe collects) truncates lineage, so
      // the final plan alone is blind to any subtree behind it. Sweep the
      // plan of every SQL execution that ran while the query was built too.
      val (df, executed) = graft.tools.PlanTrace.capture(spark)(q.run(spark, sfDir))
      (df.queryExecution.executedPlan.toString +: executed).foreach { p =>
        assert(!p.contains("CartesianProduct"),
          s"${q.name} degenerated to a cartesian product:\n$p")
        if (!bnljByDesign(q.name)) {
          assert(!p.contains("BroadcastNestedLoopJoin"),
            s"${q.name} has an unexpected nested-loop join:\n$p")
        }
      }
    }
  }
}
