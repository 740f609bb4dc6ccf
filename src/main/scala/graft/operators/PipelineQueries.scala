package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.IncrementalAgg
import graft.ext.{Curation, Packing, Sampling, TextAnalysis}
import graft.sources.Sources

/** Training-data layout operators — the steps between a curated corpus and
  * serialized training shards: reproducible global shuffle, per-domain
  * balancing, and fixed-budget sequence packing. All three are exact,
  * engine-portable (md5-keyed) computations with DuckDB oracles; all three
  * avoid any global sort or unbounded window partition (see the Scaladoc on
  * [[graft.ext.Sampling.shufflePositions]] / [[graft.ext.Packing]]).
  */
object PipelineQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Sources.table(s, dir, name)

  /** DuckDB-side value of one hex digit of an md5 string (no conv()). */
  private[operators] def hexDigitSql(expr: String, pos: Int): String =
    s"(strpos('0123456789abcdef', substring($expr, $pos, 1)) - 1)"

  private val md5Doc = "md5(CAST(doc_id AS VARCHAR))"

  /** Reproducible corpus shuffle: every doc gets its global md5-order
    * position, computed hierarchically (shard rank + shard offsets) so no
    * stage sees more than corpus/256 rows. */
  val corpusShuffle = Q(
    "q_x_corpus_shuffle",
    "Deterministic global shuffle positions (sharded hierarchical rank)",
    (s, dir) => Sampling.shufflePositions(t(s, dir, "documents"), "doc_id", 2)
      .select(col("doc_id"), col("shard"), col("shard_rank"), col("pos")),
    Some(s"""WITH s AS (SELECT doc_id,
           |   $md5Doc AS k,
           |   CAST(16 * ${hexDigitSql(md5Doc, 1)}
           |      + ${hexDigitSql(md5Doc, 2)} AS BIGINT) AS shard
           |   FROM documents),
           | rk AS (SELECT doc_id, shard,
           |   CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
           |     AS BIGINT) AS shard_rank FROM s),
           | off AS (SELECT shard, CAST(coalesce(sum(n) OVER (ORDER BY shard
           |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |     AS BIGINT) AS o
           |   FROM (SELECT shard, count(*) AS n FROM s GROUP BY shard))
           | SELECT rk.doc_id, rk.shard, rk.shard_rank,
           |   rk.shard_rank + off.o AS pos
           | FROM rk JOIN off USING (shard)"""
      .stripMargin.replace("\n", "")))

  /** Domain balancing: cap every source at 15 docs, chosen by md5 rank —
    * exact-quota flavor (the skew-proof hash-threshold flavor is
    * [[graft.ext.Sampling.domainRateCap]], spec-pinned). */
  val domainBalance = Q(
    "q_x_domain_balance",
    "Per-source quota: keep 15 lowest-md5-rank docs per source",
    (s, dir) => Sampling.domainQuota(t(s, dir, "documents"),
        "doc_id", "source", quota = 15)
      .select(col("doc_id"), col("source"), col("quota_rank"), col("kept")),
    Some(s"""SELECT doc_id, source,
           | CAST(row_number() OVER (PARTITION BY source
           |   ORDER BY $md5Doc, doc_id) AS BIGINT) AS quota_rank,
           | CAST(CASE WHEN row_number() OVER (PARTITION BY source
           |   ORDER BY $md5Doc, doc_id) <= 15 THEN 1 ELSE 0 END AS BIGINT)
           |   AS kept
           | FROM documents""".stripMargin.replace("\n", "")))

  /** The skew-proof EXACT quota ([[graft.ext.Sampling.domainQuotaExact]]):
    * same selection semantics as q_x_domain_balance's window (lowest
    * md5-rank docs per source) but computed by the bounded-heap aggregate,
    * so no whale-domain window partition exists — each map task ships at
    * most `quota` candidates per source into the exchange. The oracle
    * reproduces the heap's 52-bit order key with a plain ORDER BY on the
    * 13-hex md5 prefix (fixed-width lowercase hex: lexicographic =
    * numeric), ties on doc_id, and keeps rn <= quota — hash-green means
    * the heap selected EXACTLY the window's rows. */
  val domainQuotaExactQ = Q(
    "q_x_domain_quota_exact",
    "Skew-proof exact per-source quota via bounded-heap aggregate",
    (s, dir) => Sampling.domainQuotaExact(t(s, dir, "documents"),
        "doc_id", "source", quota = 15)
      .select(col("source"), col("quota_rank"), col("doc_id")),
    Some(s"""SELECT source, CAST(rn AS BIGINT) AS quota_rank, doc_id FROM (
           | SELECT source, doc_id, row_number() OVER (PARTITION BY source
           |   ORDER BY substring($md5Doc, 1, 13), doc_id) AS rn
           | FROM documents) t WHERE rn <= 15"""
      .stripMargin.replace("\n", "")))

  /** Temperature sampling ([[graft.ext.Sampling.temperatureSample]]) at
    * α = 0.5 — square-root domain reweighting, the mixture-flattening
    * recipe step. α = 0.5 is the ORACLED configuration on purpose: sqrt
    * is IEEE-correctly-rounded in every engine, and everything after the
    * root is integer arithmetic (10⁶-quantized weights, div/mod
    * largest-remainder allocation, md5-rank fill), so the DuckDB mirror
    * is bit-exact. General α is spec-pinned instead (SamplingSpec). */
  val domainTemperature = Q(
    "q_x_domain_temperature",
    "Temperature (sqrt) domain sampling: largest-remainder targets + md5 fill",
    (s, dir) => Sampling.temperatureSample(t(s, dir, "documents"),
        "doc_id", "source", alpha = 0.5, targetN = 200L)
      .select(col("doc_id"), col("source"), col("samp_rank"),
        col("target_n"), col("kept")),
    Some(s"""WITH cnt AS (SELECT source, count(*) AS n_d FROM documents GROUP BY 1),
           | wt AS (SELECT source, n_d, CAST(round(sqrt(n_d) * 1000000) AS BIGINT) AS w FROM cnt),
           | al AS (SELECT source, n_d, w, CAST(w AS HUGEINT) * 200 AS num,
           |   sum(CAST(w AS HUGEINT)) OVER () AS denom FROM wt),
           | a2 AS (SELECT source, n_d, num // denom AS base, num % denom AS rem FROM al),
           | a3 AS (SELECT source, n_d, base, rem,
           |   200 - sum(base) OVER () AS deficit,
           |   row_number() OVER (ORDER BY rem DESC, source) AS fr FROM a2),
           | tgt AS (SELECT source,
           |   CAST(base + CASE WHEN fr <= deficit THEN 1 ELSE 0 END AS BIGINT) AS target_n FROM a3),
           | r AS (SELECT doc_id, source,
           |   CAST(row_number() OVER (PARTITION BY source
           |     ORDER BY $md5Doc, doc_id) AS BIGINT) AS samp_rank FROM documents)
           | SELECT r.doc_id, r.source, r.samp_rank, t.target_n,
           |   CAST(CASE WHEN r.samp_rank <= t.target_n THEN 1 ELSE 0 END AS BIGINT) AS kept
           | FROM r JOIN tgt t ON r.source = t.source"""
      .stripMargin.replace("\n", "")))

  /** Concat-and-chunk sequence packing: 512-token training sequences per
    * md5 shard; a doc knows which sequence it starts in and whether it
    * straddles into the next. packSequences' library default is AUTO
    * sharding (smallest 16^d covering the session's shuffle parallelism —
    * PackingSpec pins auto ≡ explicit at the live session), but a GATE
    * row must be instrument-invariant, and the correctness/bench/xcheck
    * sessions run different fan-outs (4 / 32 / 53) — so this row PINS the
    * 2 hex digits (256 shards) a 32-partition production session derives,
    * and the oracle derives the same two md5 hex digits. */
  val seqPack = Q(
    "q_x_seq_pack",
    "Sequence packing: 512-token concat-and-chunk layout per shard",
    (s, dir) => Packing.packSequences(t(s, dir, "documents"), "doc_id",
      size(split(col("text"), " ", -1)), budget = 512, hexDigits = 2),
    Some(s"""WITH d AS (SELECT doc_id, $md5Doc AS k,
           |   CAST(16 * ${hexDigitSql(md5Doc, 1)}
           |      + ${hexDigitSql(md5Doc, 2)} AS BIGINT) AS shard,
           |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           |   FROM documents),
           | c AS (SELECT doc_id, shard, n_tok,
           |   sum(n_tok) OVER (PARTITION BY shard ORDER BY k, doc_id
           |     ROWS UNBOUNDED PRECEDING) AS cum FROM d)
           | SELECT doc_id, shard, n_tok,
           |   CAST(floor((cum - n_tok) * 1.0 / 512) AS BIGINT) AS seq,
           |   CAST(CASE WHEN floor((cum - 1) * 1.0 / 512) >
           |     floor((cum - n_tok) * 1.0 / 512) THEN 1 ELSE 0 END AS BIGINT)
           |     AS straddles
           | FROM c""".stripMargin.replace("\n", "")))

  /** Global-order packing segment table ([[Packing.packSegments]]): the
    * loader-grade companion to q_x_seq_pack — exact (doc, bin, span)
    * rows of one corpus-wide id-ordered token stream split every 512
    * tokens, computed with the distributed prefix sum (bucketed offsets,
    * zero windows) while the oracle uses the global window DuckDB can
    * afford at gate SF. Same token count as q_x_seq_pack. */
  val packSegments = Q(
    "q_x_pack_segments",
    "Packing segment table: global id-ordered stream split into 512-token bins",
    (s, dir) => Packing.packSegments(
      t(s, dir, "documents").select(col("doc_id"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tok")),
      "doc_id", "n_tok", contextLen = 512).toDF(),
    Some("""WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
           | nz AS (SELECT * FROM d WHERE n > 0),
           | c AS (SELECT doc_id, n, CAST(coalesce(sum(n) OVER (ORDER BY doc_id
           |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb FROM nz),
           | s AS (SELECT doc_id, n, cb,
           |   unnest(generate_series(cb // 512, (cb + n - 1) // 512)) AS bin FROM c)
           | SELECT doc_id, CAST(bin AS BIGINT) AS bin,
           |   CAST(greatest(cb, bin * 512) - cb AS BIGINT) AS seg_start,
           |   CAST(least(cb + n, (bin + 1) * 512) - greatest(cb, bin * 512) AS BIGINT) AS seg_len
           | FROM s""".stripMargin.replace("\n", "")))

  /** Mixture upsampling: high-value sources (src0/src1) weighted 2.5
    * epochs, everything else 0.75 — each doc deterministically replicated
    * floor(w) or ⌈w⌉ times by its md5 fraction. */
  val mixtureEpochs = Q(
    "q_x_mixture_epochs",
    "Mixture upsampling: per-source epoch weights → deterministic copies",
    (s, dir) => {
      val w = when(col("source").isin("src0", "src1"), 2.5).otherwise(0.75)
      Sampling.mixtureUpsample(t(s, dir, "documents"), "doc_id", w)
        .select(col("doc_id"), col("source"), col("n_copies"),
          col("copy_idx"))
    },
    Some(s"""WITH d AS (SELECT doc_id, source,
           |   CASE WHEN source IN ('src0','src1') THEN 2.5 ELSE 0.75 END AS w,
           |   (4096 * ${hexDigitSql(md5Doc, 1)}
           |    + 256 * ${hexDigitSql(md5Doc, 2)}
           |    + 16 * ${hexDigitSql(md5Doc, 3)}
           |    + ${hexDigitSql(md5Doc, 4)}) / 65536.0 AS u
           |   FROM documents),
           | c AS (SELECT doc_id, source,
           |   CAST(floor(w) + CASE WHEN u < w - floor(w) THEN 1 ELSE 0 END
           |     AS BIGINT) AS n_copies FROM d)
           | SELECT doc_id, source, n_copies,
           |   CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy_idx
           | FROM c WHERE n_copies > 0""".stripMargin.replace("\n", "")))

  /** Incremental-MV parity, PARITY-CHECKED like q_j5_salted_join: the
    * batch-split partial-merge-finalize path ([[IncrementalAgg]]) must
    * reproduce the direct one-shot aggregate exactly. Events split into
    * two "arrival batches" (event_id mod 2 — arbitrary, disjoint,
    * covering); each collapses to per-type partials, the partials merge,
    * and finalize derives avg. The oracle runs the UNsplit GROUP BY, so
    * the hash match proves the merge algebra is semantics-preserving —
    * not just that the code runs. Sums round(2): partial-merged double
    * addition is reassociated vs the oracle's single pass. */
  val incrementalAgg = Q(
    "q_x_incremental_agg",
    "Incremental partial-state aggregate == direct GROUP BY (parity)",
    (s, dir) => {
      val e = t(s, dir, "events")
      val keys = Seq("event_type")
      val b1 = IncrementalAgg.partials(
        e.filter(col("event_id") % 2 === 0), keys, Seq("value"))
      val b2 = IncrementalAgg.partials(
        e.filter(col("event_id") % 2 =!= 0), keys, Seq("value"))
      IncrementalAgg.finalize(IncrementalAgg.merge(b1, b2, keys), keys)
        .select(col("event_type"), col("n_rows"),
          round(col("sum_value"), 2).as("sum_value"),
          round(col("min_value"), 6).as("min_value"),
          round(col("max_value"), 6).as("max_value"),
          round(col("avg_value"), 6).as("avg_value"))
    },
    Some("""SELECT event_type, count(*) AS n_rows,
           | round(sum(value), 2) AS sum_value,
           | round(min(value), 6) AS min_value,
           | round(max(value), 6) AS max_value,
           | round(sum(value) / count(value), 6) AS avg_value
           | FROM events GROUP BY event_type"""
      .stripMargin.replace("\n", "")))

  /** Exact token-budget selection ([[graft.ext.Sampling
    * .tokenBudgetSelect]]): keep the best documents by quality score until
    * a 15 000-token budget is spent. The engine computes the global
    * take-while cut WITHOUT a global sort (score histogram → id-range
    * histogram → one ≤4096-row boundary-cell window); the oracle states
    * the semantics directly as the global ordered cumulative sum —
    * hash-green means the three-level refinement picked EXACTLY the
    * prefix. The budget is a fixed token count, so the selected fraction
    * shrinks as SF grows (half the corpus at sf0.001, ~5% at sf0.1) and
    * the boundary score is partially selected at every gate SF. */
  val tokenBudget = Q(
    "q_x_token_budget",
    "Exact token-budget selection: best docs until 15k tokens, no global sort",
    (s, dir) => Sampling.tokenBudgetSelect(t(s, dir, "documents"),
      "doc_id", "text", budgetTokens = 15000L),
    Some("""WITH q AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           | CAST(floor(4000.0 * least(len(string_split(text, ' ')), 64) / 64.0) AS BIGINT)
           |   + CAST(floor(3000.0 * least(5 * len(list_filter(string_split(text, ' '), t -> t IN
           |     ('the','a','an','of','to','and','in','is','it','for','on','with','as','at','by','be'))),
           |     len(string_split(text, ' '))) / greatest(len(string_split(text, ' ')), 1)) AS BIGINT)
           |   + (CASE WHEN (length(replace(text, ' ', '')) * 1.0
           |     / greatest(len(string_split(text, ' ')), 1)) BETWEEN 3.0 AND 10.0
           |     THEN 3000 ELSE 0 END) AS quality_score_bp FROM documents),
           | c AS (SELECT *, sum(n_tokens) OVER (ORDER BY quality_score_bp DESC, doc_id ASC
           |   ROWS UNBOUNDED PRECEDING) AS cum FROM q)
           | SELECT doc_id, n_tokens, quality_score_bp FROM c WHERE cum <= 15000"""
      .stripMargin.replace("\n", "")))

  /** Filter-funnel accounting ([[graft.ext.Curation.filterFunnel]]): the
    * per-rule attrition report of a curation run — each doc attributed to
    * its first failing rule in one map pass, funnel arithmetic on the
    * |rules|+1-row stage histogram. Rules chosen so every stage drops at
    * the gate SFs (the report is live, not vacuously zero). */
  val filterFunnelQ = Q(
    "q_x_filter_funnel",
    "Curation filter funnel: per-rule reached/dropped/survived counts",
    (s, dir) => {
      val mtl = length(regexp_replace(col("text"), " ", "")).cast("double") /
        greatest(size(split(col("text"), " ", -1)).cast("long"), lit(1L))
      Curation.filterFunnel(t(s, dir, "documents"), Seq(
        "min_tokens" -> (size(split(col("text"), " ", -1)) >= 40),
        "lang_en" -> (col("lang") === "en"),
        "mean_tok_len" -> mtl.between(4.0, 4.8),
        "quality" ->
          (TextAnalysis.qualityScoreBp(col("text")) >= 8200L)))
    },
    Some("""WITH f AS (SELECT CASE
           | WHEN NOT (len(string_split(text, ' ')) >= 40) THEN 0
           | WHEN NOT (lang = 'en') THEN 1
           | WHEN NOT ((length(replace(text, ' ', '')) * 1.0
           |   / greatest(len(string_split(text, ' ')), 1)) BETWEEN 4.0 AND 4.8) THEN 2
           | WHEN NOT ((CAST(floor(4000.0 * least(len(string_split(text, ' ')), 64) / 64.0) AS BIGINT)
           |   + CAST(floor(3000.0 * least(5 * len(list_filter(string_split(text, ' '), t -> t IN
           |     ('the','a','an','of','to','and','in','is','it','for','on','with','as','at','by','be'))),
           |     len(string_split(text, ' '))) / greatest(len(string_split(text, ' ')), 1)) AS BIGINT)
           |   + (CASE WHEN (length(replace(text, ' ', '')) * 1.0
           |     / greatest(len(string_split(text, ' ')), 1)) BETWEEN 3.0 AND 10.0
           |     THEN 3000 ELSE 0 END)) >= 8200) THEN 3
           | ELSE 4 END AS stage FROM documents),
           | c AS (SELECT stage, count(*) AS n FROM f GROUP BY 1),
           | r AS (SELECT * FROM (VALUES (0, 'min_tokens'), (1, 'lang_en'),
           |   (2, 'mean_tok_len'), (3, 'quality'), (4, '__kept__')) AS t(stage, rule)),
           | j AS (SELECT r.stage, r.rule, coalesce(c.n, 0) AS cnt
           |   FROM r LEFT JOIN c ON r.stage = c.stage),
           | w AS (SELECT stage, rule, cnt, sum(cnt) OVER () AS total,
           |   coalesce(sum(cnt) OVER (ORDER BY stage
           |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef FROM j)
           | SELECT CAST(stage AS BIGINT) AS stage, rule,
           |   CAST(total - bef AS BIGINT) AS n_in, CAST(cnt AS BIGINT) AS n_dropped,
           |   CAST(total - bef - cnt AS BIGINT) AS n_out
           | FROM w WHERE rule <> '__kept__'""".stripMargin.replace("\n", "")))

  /** Snapshot diff ([[graft.etl.Maintenance.snapshotDiff]]): the dataset-
    * versioning audit — per id added/removed/changed/unchanged between two
    * corpus versions via one full outer hash join. The "v2" snapshot is
    * derived deterministically in BOTH engines (drop ids ≡0 mod 7, append
    * " v2" to texts of ids ≡0 mod 11, re-add ids ≡0 mod 13 under id+10⁷),
    * so every status value occurs at every gate SF. */
  val snapshotDiffQ = Q(
    "q_x_snapshot_diff",
    "Snapshot diff: added/removed/changed/unchanged between two versions",
    (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val v2 = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      graft.etl.Maintenance.snapshotDiff(docs, v2, "doc_id", Seq("text"))
    },
    Some("""WITH v2 AS (
           | SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text
           |   FROM documents WHERE doc_id % 7 <> 0
           | UNION ALL
           | SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 13 = 0),
           | o AS (SELECT doc_id, text AS o_text, true AS in_o FROM documents),
           | n AS (SELECT doc_id, text AS n_text, true AS in_n FROM v2)
           | SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, CASE
           | WHEN coalesce(in_o, false) AND NOT coalesce(in_n, false) THEN 'removed'
           | WHEN NOT coalesce(in_o, false) THEN 'added'
           | WHEN o_text IS NOT DISTINCT FROM n_text THEN 'unchanged'
           | ELSE 'changed' END AS status
           | FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id"""
      .stripMargin.replace("\n", "")))

  /** Weighted sampling without replacement ([[graft.ext.Sampling
    * .weightedSample]]): Efraimidis-Spirakis keys on the portable 48-bit
    * md5 uniform, weight = n_chars (longer docs proportionally likelier).
    * Engine plan is TakeOrderedAndProject (bounded heap per partition, no
    * global sort); the oracle recomputes the identical ln(u)/w key in
    * DuckDB and takes the same top-k, so selection is verified
    * end-to-end, not just cardinality. The float key itself is never
    * emitted (hash-stability rule) — only the selected (doc_id, n_chars). */
  val weightedSampleQ = Q(
    "q_x_weighted_sample",
    "Efraimidis-Spirakis weighted sample: top-100 by ln(u)/w, w = n_chars",
    (s, dir) => Sampling.weightedSample(
      t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
      "doc_id", "n_chars", 100),
    Some(s"""SELECT doc_id, n_chars FROM (
           | SELECT doc_id, n_chars,
           |   ln((CAST('0x' || substring($md5Doc, 1, 12) AS BIGINT) + 0.5)
           |       / 281474976710656.0) / CAST(n_chars AS DOUBLE) AS k
           | FROM documents
           | ORDER BY k DESC, doc_id LIMIT 100)"""
      .stripMargin.replace("\n", "")))

  /** Per-domain weighted sampling ([[graft.ext.Sampling
    * .weightedSamplePerDomain]]): 25 docs per source, weight = n_chars,
    * selected by the same bounded-heap aggregate as `q_x_domain_balance`'s
    * exact-quota sibling, so a whale domain never funnels through one
    * task. The oracle reproduces the identical E-S key with a per-domain
    * window — two different formulations verifying each other. */
  val weightedSampleDomainQ = Q(
    "q_x_weighted_sample_domain",
    "Per-source Efraimidis-Spirakis sample: 25 docs each, w = n_chars",
    (s, dir) => Sampling.weightedSamplePerDomain(
      t(s, dir, "documents").select(col("doc_id"), col("source"),
        col("n_chars")),
      "doc_id", "source", "n_chars", 25),
    Some(s"""SELECT source, sample_rank, doc_id FROM (
           | SELECT source, doc_id,
           |   CAST(row_number() OVER (PARTITION BY source
           |     ORDER BY k DESC, doc_id) AS BIGINT) AS sample_rank
           | FROM (SELECT source, doc_id,
           |   ln((CAST('0x' || substring($md5Doc, 1, 12) AS BIGINT) + 0.5)
           |       / 281474976710656.0) / CAST(n_chars AS DOUBLE) AS k
           | FROM documents))
           | WHERE sample_rank <= 25"""
      .stripMargin.replace("\n", "")))

  val all: Seq[Q] = Seq(corpusShuffle, domainBalance, domainQuotaExactQ,
    domainTemperature, tokenBudget, filterFunnelQ, seqPack, packSegments,
    mixtureEpochs,
    incrementalAgg, snapshotDiffQ, weightedSampleQ, weightedSampleDomainQ)
}
