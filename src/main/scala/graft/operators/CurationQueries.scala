package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Compaction, Dsir, Similarity}
import graft.operators.PipelineQueries.hexDigitSql
import graft.sources.Sources

/** Wave-8 curation operators — the corpus-selection and table-maintenance
  * steps around the existing dedup/similarity/sampling families:
  * importance-resampling weights (DSIR), contrastive hard-negative
  * mining, SemDeDup-style within-cell semantic pruning, and small-file
  * compaction planning. All four are exact computations with full DuckDB
  * oracles; the float-bearing ones (DSIR's ln, the cosine ranks) follow
  * the repo's established hash-stability idioms (milli-nat floor before
  * aggregation; int-only rank output).
  */
object CurationQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Sources.table(s, dir, name)

  /** DSIR importance weights toward the English slice ([[graft.ext.Dsir]]).
    * The synthetic corpus draws every lang from one vocab, so the weights
    * are small (pure sampling noise between the slices) — but every
    * integer is exact and cross-engine, and DsirSpec plants a genuinely
    * skewed fixture to pin the discrimination semantics. */
  val dsirWeights = Q(
    "q_x_dsir_weights",
    "DSIR hashed-unigram importance weights (target = lang 'en')",
    (s, dir) => Dsir.importanceWeights(
        t(s, dir, "documents"), "doc_id", "text", col("lang") === "en")
      .select(col("doc_id"), col("n_tok"), col("dsir_milli")),
    Some(s"""WITH tk AS (SELECT doc_id, (lang = 'en') AS is_t,
           |   unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
           |   FROM documents),
           | tb AS (SELECT doc_id, is_t,
           |   CAST(16 * ${hexDigitSql("md5(tok)", 1)}
           |      + ${hexDigitSql("md5(tok)", 2)} AS BIGINT) AS b FROM tk),
           | c AS (SELECT b, count(*) AS n_raw,
           |   count(*) FILTER (is_t) AS n_t FROM tb GROUP BY b),
           | tot AS (SELECT b, n_raw, n_t, sum(n_raw) OVER () AS nr_tot,
           |   sum(n_t) OVER () AS nt_tot FROM c),
           | l AS (SELECT b, CAST(floor(ln(
           |     (CAST(n_t + 1 AS DOUBLE) * CAST(nr_tot + 256 AS DOUBLE)) /
           |     (CAST(n_raw + 1 AS DOUBLE) * CAST(nt_tot + 256 AS DOUBLE)))
           |     * 1000) AS BIGINT) AS lambda_milli FROM tot)
           | SELECT tb.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
           |   CAST(sum(l.lambda_milli) AS BIGINT) AS dsir_milli
           | FROM tb JOIN l USING (b) GROUP BY tb.doc_id"""
      .stripMargin.replace("\n", "")))

  /** Contrastive hard negatives: top-3 cosine neighbors with a different
    * label for probes 0–9 ([[graft.ext.Similarity.hardNegatives]]).
    * Int-only output (ranks + ids), the ann_cosine_topk idiom. */
  val hardNegatives = Q(
    "q_x_hard_negatives",
    "Top-3 different-label cosine neighbors per probe (hard negatives)",
    (s, dir) => Similarity.hardNegatives(
        t(s, dir, "embeddings"), (0L until 10L).toSeq, 3)
      .select(col("vec_id"), col("rank"), col("neighbor_id")),
    Some("""WITH p AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 10),
           | s AS (SELECT p.vec_id, e.vec_id AS neighbor_id,
           |   list_cosine_similarity(p.embedding, e.embedding) AS cos
           |   FROM p, embeddings e WHERE e.label <> p.label),
           | r AS (SELECT vec_id, neighbor_id, row_number() OVER
           |   (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rank FROM s)
           | SELECT vec_id, CAST(rank AS BIGINT) AS rank, neighbor_id
           | FROM r WHERE rank <= 3""".stripMargin.replace("\n", "")))

  /** SemDeDup within-cell prune over the label clustering
    * ([[graft.ext.Similarity.semDedupPrune]]). The synthetic embeddings
    * hold no within-label pair near cosine 0.9 (max ≈ 0.475 at the gate
    * SFs), so every surviving row is kept — the same
    * degenerate-but-green shape as q_x_emb_near_dup_exact, with
    * SimilaritySpec planting real near-dups for the prune semantics. */
  val semDedup = Q(
    "q_x_semdedup",
    "SemDeDup prune: drop lower-id cosine>=0.9 dups within each cell",
    (s, dir) => Similarity.semDedupPrune(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label",
        tau = 0.9, maxCell = 2048)
      .select(col("vec_id"), col("cell"), col("kept")),
    Some("""WITH v AS (SELECT vec_id, embedding, CAST(label AS BIGINT) AS cell
           |   FROM embeddings
           |   QUALIFY count(*) OVER (PARTITION BY label) <= 2048),
           | pr AS (SELECT DISTINCT b.vec_id FROM v a JOIN v b
           |   ON a.cell = b.cell AND a.vec_id < b.vec_id
           |   AND list_cosine_similarity(a.embedding, b.embedding) >= 0.9)
           | SELECT v.vec_id, v.cell,
           |   CAST(CASE WHEN pr.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
           | FROM v LEFT JOIN pr USING (vec_id)"""
      .stripMargin.replace("\n", "")))

  /** Compaction planning over the per-source "file" manifest
    * ([[graft.ext.Compaction.plan]]): sources stand in for data files
    * (name-ordered, bytes = total chars); in production the input is the
    * real file manifest — metadata-sized either way. */
  val compactionPlan = Q(
    "q_x_compaction_plan",
    "Bin-pack the source manifest into ~16 KB merge bins (cumsum rule)",
    (s, dir) => Compaction.plan(
        t(s, dir, "documents").groupBy(col("source"))
          .agg(sum(col("n_chars")).as("bytes")),
        "source", "bytes", targetBytes = 16384L)
      .select(col("bin"), col("n_files"), col("bin_bytes"),
        col("first_file"), col("last_file")),
    Some("""WITH f AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS bytes
           |   FROM documents GROUP BY source),
           | c AS (SELECT source, bytes, CAST(coalesce(sum(bytes) OVER
           |   (ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           |   0) AS BIGINT) AS cum_before FROM f),
           | a AS (SELECT source, bytes, cum_before // 16384 AS bin FROM c)
           | SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n_files,
           |   CAST(sum(bytes) AS BIGINT) AS bin_bytes,
           |   min(source) AS first_file, max(source) AS last_file
           | FROM a GROUP BY bin""".stripMargin.replace("\n", "")))

  /** Laplace per-source count release
    * ([[graft.ext.Privacy.deterministicLaplaceRelease]], ε = 1): the
    * Laplace mechanism with the repo's portable PUBLIC md5-uniform — the
    * test-only skeleton of the keyed-PRF production path
    * ([[graft.ext.Privacy.dpCountRelease]], which mixes a required
    * release secret into the digest). The public digest is exactly what
    * makes the released figures deterministic enough for a cross-engine
    * hash check (same key → same uniform → same inverse-CDF double →
    * same milli floor on both engines); the keyed variant is
    * spec-verified instead (PrivacySpec — identical mechanism, noise not
    * recomputable without the secret). */
  val dpRelease = Q(
    "q_x_dp_release",
    "Laplace eps=1 count release per source (deterministic md5 uniform; keyed-PRF DP variant is spec-checked)",
    (s, dir) => graft.ext.Privacy.deterministicLaplaceRelease(
        t(s, dir, "documents"), "source", epsilon = 1.0)
      .select(col("source"), col("released_milli")),
    Some("""WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
           | u AS (SELECT source, n,
           |   (CAST('0x' || substring(md5(source), 1, 12) AS BIGINT) + 0.5)
           |     / 281474976710656.0 AS uu FROM c)
           | SELECT source, CAST(floor((CAST(n AS DOUBLE) + -1.0 *
           |   (CASE WHEN uu - 0.5 >= 0 THEN 1.0 ELSE -1.0 END) *
           |   ln(1.0 - 2.0 * abs(uu - 0.5))) * 1000) AS BIGINT)
           |   AS released_milli
           | FROM u""".stripMargin.replace("\n", "")))

  /** N-gram novelty audit ([[graft.ext.Decontaminate.noveltyScore]]):
    * score every non-src0 document's distinct trigrams against the src0
    * reference slice. Spark matches 64-bit shingle HASHES while the
    * oracle matches gram STRINGS — green certifies the hash-membership
    * join reproduces exact string membership (no collision skew), the
    * q_x_decontaminate argument at per-doc-count granularity. */
  val novelty = Q(
    "q_x_novelty",
    "Trigram novelty vs the src0 reference slice (per-doc bp score)",
    (s, dir) => graft.ext.Decontaminate.noveltyScore(
        t(s, dir, "documents"), "doc_id", "text",
        col("source") === "src0", n = 3)
      .select(col("doc_id"), col("n_grams"), col("n_known"),
        col("novelty_bp")),
    Some("""WITH d AS (SELECT doc_id, source,
           |   list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
           | sh AS (SELECT doc_id, source, list_distinct(CASE
           |   WHEN len(toks) = 0 THEN []
           |   WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
           |   ELSE [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
           |   END) AS s FROM d),
           | ref AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE source = 'src0'),
           | dg AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE source <> 'src0'),
           | agg AS (SELECT doc_id, count(*) AS n_grams,
           |   count(*) FILTER (g IN (SELECT g FROM ref)) AS n_known
           |   FROM dg GROUP BY doc_id)
           | SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           |   CAST(n_known AS BIGINT) AS n_known,
           |   CAST(floor(10000.0 * (n_grams - n_known) / n_grams) AS BIGINT)
           |     AS novelty_bp
           | FROM agg""".stripMargin.replace("\n", "")))

  /** Contrastive pair synthesis ([[graft.ext.Curation.contrastivePairs]]):
    * the full pair TEXT is what hashes, so green pins the chunk slicing
    * and the disjointness arithmetic end-to-end. */
  val contrastivePairs = Q(
    "q_x_contrastive_pairs",
    "DPR-style (query, positive) pairs: token-disjoint chunks 0 and 2",
    (s, dir) => graft.ext.Curation.contrastivePairs(
        t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("query_chunk"), col("positive_chunk")),
    Some("""WITH d AS (SELECT doc_id,
           |   list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
           | e AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 16)) AS s FROM d),
           | ch AS (SELECT doc_id, CAST((s - 1) // 16 AS BIGINT) AS chunk_idx,
           |   array_to_string(toks[s:s+31], ' ') AS chunk FROM e)
           | SELECT q.doc_id, q.chunk AS query_chunk, p.chunk AS positive_chunk
           | FROM ch q JOIN ch p USING (doc_id)
           | WHERE q.chunk_idx = 0 AND p.chunk_idx = 2"""
      .stripMargin.replace("\n", "")))

  /** Feature-hashing embeddings
    * ([[graft.ext.TextAnalysis.hashEmbedding]]): 16 exact signed-count
    * dims per doc, bit-reproduced by the oracle from the same md5
    * digits. */
  val hashEmbedding = Q(
    "q_x_hash_embedding",
    "Hashing-trick 16-dim signed-count text embedding (exact integers)",
    (s, dir) => graft.ext.TextAnalysis.hashEmbedding(
        t(s, dir, "documents"), "doc_id", "text"),
    Some {
      val dims = (0 until 16).map(i =>
        s"CAST(coalesce(sum(CASE WHEN dim = $i THEN sign END), 0) AS BIGINT) AS d$i")
        .mkString(", ")
      s"""WITH tk AS (SELECT doc_id,
         |   unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
         |   FROM documents),
         | h AS (SELECT doc_id,
         |   ${hexDigitSql("md5(tok)", 1)} AS dim,
         |   CASE WHEN ${hexDigitSql("md5(tok)", 2)} >= 8 THEN 1 ELSE -1 END AS sign
         |   FROM tk)
         | SELECT doc_id, $dims FROM h GROUP BY doc_id"""
        .stripMargin.replace("\n", "")
    })

  val all: Seq[Q] =
    Seq(dsirWeights, hardNegatives, semDedup, compactionPlan, dpRelease,
      novelty, contrastivePairs, hashEmbedding)
}
