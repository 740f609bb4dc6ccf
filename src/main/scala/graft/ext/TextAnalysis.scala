package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.CappedCollect.capped_collect_set
import graft.functions.TextExprs._

/** Text-analysis operators for training-data curation: token counting,
  * quality scoring, language ID, fingerprinting. All map-only (built-ins +
  * codegen expressions) — at 100 TB these add zero shuffles to a pipeline.
  */
object TextAnalysis {

  /** Whitespace token count + a BPE-ish regex token count
    * (word pieces OR single non-word-non-space symbols). */
  def tokenCounts(text: Column): Seq[Column] = Seq(
    size(split(text, " ", -1)).cast("long").as("n_ws_tokens"),
    regexp_count(text, lit("\\w+|[^\\w\\s]")).cast("long").as("n_re_tokens"))

  private val stopwords = Seq(
    "the", "a", "an", "of", "to", "and", "in", "is", "it", "for", "on",
    "with", "as", "at", "by", "be")

  /** Per-document quality metrics: char/token counts, punctuation ratio,
    * stopword ratio, mean token length, and a [0,1] composite. Mirrors the
    * usual web-corpus quality heuristics (C4/Gopher-style length+symbol
    * rules) in declarative form. */
  def qualityColumns(text: Column): Seq[Column] = {
    val nChars = length(text).cast("long")
    val tokens = split(text, " ", -1)
    val nTokens = size(tokens).cast("long")
    val nPunct = (length(text) -
      length(regexp_replace(text, "[.,!?;:]", ""))).cast("long")
    val nStop = size(filter(tokens,
      t => t.isin(stopwords.map(lit(_)): _*))).cast("long")
    val meanTokLen = (length(regexp_replace(text, " ", "")).cast("double") /
      greatest(nTokens, lit(1L)))
    val punctRatio = nPunct.cast("double") / greatest(nChars, lit(1L))
    val stopRatio = nStop.cast("double") / greatest(nTokens, lit(1L))
    Seq(
      nChars.as("n_chars"),
      nTokens.as("n_tokens"),
      round(punctRatio, 4).as("punct_ratio"),
      round(stopRatio, 4).as("stopword_ratio"),
      round(meanTokLen, 4).as("mean_token_len"),
      qualityScoreBp(text))
  }

  /** The composite quality score alone, aliased `quality_score_bp` — for
    * consumers that rank by quality (e.g. keep-best dedup) without the
    * full metrics frame. Rewards mid-length docs with some stopwords and
    * sane token length, scored in integer BASIS POINTS (0..10000) with
    * exact int arithmetic — a float composite straddles round()
    * boundaries across engines. /64 is a power of two → exact in IEEE;
    * the /nTokens quotient is correctly rounded identically by any IEEE
    * engine, so floor() agrees. */
  def qualityScoreBp(text: Column): Column = {
    val tokens = split(text, " ", -1)
    val nTokens = size(tokens).cast("long")
    val nStop = size(filter(tokens,
      t => t.isin(stopwords.map(lit(_)): _*))).cast("long")
    val meanTokLen = (length(regexp_replace(text, " ", "")).cast("double") /
      greatest(nTokens, lit(1L)))
    (floor(lit(4000.0) * least(nTokens, lit(64L)) / lit(64.0)).cast("long") +
      floor(lit(3000.0) * least(nStop * lit(5L), nTokens) /
        greatest(nTokens, lit(1L))).cast("long") +
      when(meanTokLen.between(3.0, 10.0), 3000L).otherwise(0L))
      .as("quality_score_bp")
  }

  /** Language-ID heuristic: stopword-profile hit counts per language +
    * a CJK-codepoint ratio for zh; argmax with deterministic tiebreak
    * (profile order). Declarative — no UDF. */
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "of", "and", "to", "in", "is", "that", "it", "for"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "en", "que", "une"),
    "es" -> Seq("el", "la", "los", "de", "que", "y", "en", "un", "una"),
    "de" -> Seq("der", "die", "das", "und", "in", "den", "von", "zu", "mit"))

  def langIdColumn(text: Column): Column = {
    val tokens = split(lower(text), " ", -1)
    val nTokens = greatest(size(tokens), lit(1)).cast("double")
    val scores = profiles.map { case (lang, words) =>
      struct(
        (size(filter(tokens, t => t.isin(words.map(lit(_)): _*)))
          .cast("double") / nTokens).as("score"),
        lit(lang).as("lang"))
    }
    val cjk = size(split(text, "[\\x{4e00}-\\x{9fff}]", -1)) - 1
    val zh = struct(
      (cjk.cast("double") / greatest(length(text), lit(1)).cast("double"))
        .multiply(lit(10.0)).as("score"),
      lit("zh").as("lang"))
    // greatest over (score, lang) structs: ties break on lang descending —
    // make deterministic by ordering profiles so first-listed wins via a
    // tiny per-position epsilon
    val ranked = (scores :+ zh).zipWithIndex.map { case (s, i) =>
      struct((s.getField("score") - lit(i * 1e-9)).as("score"),
        s.getField("lang").as("lang"))
    }
    greatest(ranked: _*).getField("lang")
  }

  /** Repetition signals (Gopher-style quality filters): the fraction of
    * NON-UNIQUE word n-grams (1 − distinct/total) for n = 1, 2, 3.
    * Machine-generated / boilerplate text scores high; normal prose low.
    * Chosen over "top n-gram fraction" because distinct-ratio needs no
    * mode computation (whose tiebreak would be engine-specific) — it's a
    * deterministic, map-only arithmetic identity in any engine. */
  def repetitionColumns(text: Column): Seq[Column] = {
    // one-pass codegen kernel: [t1, d1, t2, d2, t3, d3] — totals exact,
    // distincts over 64-bit gram hashes (collision odds immaterial; the
    // DuckDB oracle distinct-counts the gram STRINGS and still hash-matches).
    // Replaces the former zip_with string-gram build: no per-row string
    // arrays, ~3× less allocation. The six element_at references share one
    // kernel call via codegen subexpression elimination (deterministic expr).
    val st = repetition_stats(text)
    def frac(i: Int): Column = {
      val t = element_at(st, 2 * i - 1)
      val d = element_at(st, 2 * i)
      when(t === 0L, lit(0.0)).otherwise(
        round(lit(1.0) - d.cast("double") / t.cast("double"), 4))
    }
    Seq(
      frac(1).as("dup_word_frac"),
      frac(2).as("dup_2gram_frac"),
      frac(3).as("dup_3gram_frac"))
  }

  // PII patterns kept RE2-compatible (no backrefs/lookaround) so the same
  // regex text runs identically under Java regex (Spark) and RE2 (DuckDB,
  // and the usual scan services) — a practical requirement for a redaction
  // step that must be re-verifiable outside the JVM.
  private val piiPatterns: Seq[(String, String, String)] = Seq(
    // (name, pattern, replacement)
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\d{3}[-.]\\d{3}[-.]\\d{4}", "<PHONE>"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<SSN>"))

  /** PII scrub — the redaction pass every training-data pipeline runs
    * before text lands in a corpus: emails, phone numbers, IPv4s, SSNs →
    * typed placeholder tokens. Map-only chained regexp_replace (codegen'd
    * built-ins, no UDF); order matters (emails before IPs, so a dotted
    * user@host doesn't half-match). Returns (redacted, n_pii) columns. */
  def redactPii(text: Column): Seq[Column] = {
    // count each pattern on the PREVIOUS stage's text, so n_pii is exactly
    // the number of replacements performed (an email's digits can't also
    // count as a phone number once the email is already a placeholder)
    val (redacted, nPii) = piiPatterns.foldLeft((text, lit(0L))) {
      case ((c, n), (_, pat, repl)) =>
        (regexp_replace(c, pat, repl),
          n + regexp_count(c, lit(pat)).cast("long"))
    }
    Seq(redacted.as("redacted"), nPii.as("n_pii"))
  }

  /** Normalization chain — the canonical cleanup pass before tokenization:
    * control characters → space, whitespace runs collapsed to one space,
    * trimmed, casefolded. Map-only chained codegen built-ins (no UDF).
    * Stage order matters for cross-engine portability: the control-strip
    * runs FIRST so the later `\s+` collapse only ever sees plain spaces
    * (Java's `\s` and RE2's `\s` disagree on `\x0B`, but both match the
    * space the first stage substitutes). Returns (norm_text, n_chars_norm,
    * changed). */
  def normalizeColumns(text: Column): Seq[Column] = {
    val stripped = regexp_replace(text, "[\\x00-\\x1F\\x7F]", " ")
    val collapsed = regexp_replace(stripped, "\\s+", " ")
    val norm = lower(trim(collapsed))
    Seq(norm.as("norm_text"),
      length(norm).cast("long").as("n_chars_norm"),
      (norm =!= text).as("changed"))
  }

  /** Document chunking — split each document into overlapping
    * `windowTokens`-token windows every `strideTokens` tokens (stride <
    * window ⇒ overlap), the canonical context-window preprocessing for
    * LLM training/embedding. Map-only: tokenize once, explode the window
    * starts; no shuffle, output rows ≈ n_tokens/stride per doc. The tail
    * chunk may be shorter; empty docs yield zero chunks. */
  def chunk(df: DataFrame, idCol: String, textCol: String,
            windowTokens: Int = 32, strideTokens: Int = 16): DataFrame = {
    require(windowTokens > 0 && strideTokens > 0,
      "window and stride must be positive")
    val toks = filter(split(col(textCol), " ", -1), t => t =!= lit(""))
    val starts = when(size(toks) === 0, array().cast("array<int>"))
      .otherwise(sequence(lit(0), size(toks) - 1, lit(strideTokens)))
    // explode the (cheap, int) starts FIRST, slice from the tokenized
    // array as a top-level expression after the Generate: the tokenize
    // runs once per input row, not once per chunk (slicing inside a
    // transform() lambda would re-tokenize per chunk — no subexpression
    // elimination inside higher-order-function lambdas, O(tokens²/stride)
    // on long documents)
    df.select(col(idCol), toks.as("__toks"),
        posexplode(starts).as(Seq("chunk_idx", "s")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        array_join(slice(col("__toks"), col("s") + 1, lit(windowTokens)), " ")
          .as("chunk"))
  }

  /** Cross-document duplicated-span signal — the exact-substring dedup
    * statistic from the training-data dedup literature (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better": repeated
    * ≥k-token substrings across a corpus): per doc, how many of its
    * k-token grams also occur in ANOTHER doc.
    *
    * Shape: explode-starts-then-slice grams (same idiom as [[chunk]]),
    * one hash-agg marking grams seen in >1 distinct doc, one semi-ish
    * aggregate join back, one per-doc rollup. No all-pairs anywhere; at
    * 100 TB the string grams become 64-bit hashes (the `sorted_shingles`
    * codegen machinery) — kept as strings here so the DuckDB oracle can
    * rebuild the identical gram set.
    *
    * Output: (doc_id, n_grams, n_dup_grams, dup_ratio) for docs with ≥1
    * gram (length ≥ k tokens).
    */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
               k: Int = 5): DataFrame = {
    require(k > 0, "gram length must be positive")
    // one codegen pass builds the per-doc multiset of 64-bit gram hashes
    // (identical tokenization to the string form — single-space split,
    // empties dropped), so the Generate emits an 8-byte long per position
    // instead of a row carrying the whole token array + a k-token string,
    // and the gram-keyed exchange shuffles longs. Two distinct grams alias
    // only on a 64-bit collision — immaterial to the count semantics.
    val grams = df.select(col(idCol).as("doc_id"),
      explode(graft.functions.TextExprs.gram_hashes(col(textCol), k))
        .as("gram"))
    // aggregate-first: collapse to (doc, gram, multiplicity) before any
    // gram-keyed movement (map-side combine shrinks the exploded stream),
    // then ONE gram-partitioned window marks each gram's doc count —
    // grams repeated WITHIN one doc count once toward it — and a final
    // per-doc rollup sums multiplicities. The naive form (raw gram
    // stream distinct'd, grouped, and joined back to itself) shuffles
    // the exploded grams twice and recomputes the explode both times.
    val perDocGram = grams.groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val byGram = org.apache.spark.sql.expressions.Window.partitionBy(col("gram"))
    perDocGram
      .withColumn("gram_docs", count(lit(1)).over(byGram))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_grams"),
        coalesce(sum(when(col("gram_docs") > 1, col("cnt"))), lit(0L))
          .as("n_dup_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_dup_grams"),
        round(col("n_dup_grams") / col("n_grams"), 3).as("dup_ratio"))
  }

  /** CCNet-style quality bucketing (Wenzek et al. 2020, "CCNet: Extracting
    * high quality monolingual datasets from web crawl data"): score every
    * document by its mean per-token negative log-probability under the
    * corpus's own unigram LM, then split each LANGUAGE's documents into
    * head / middle / tail thirds by per-language score cutoffs — the
    * standard perplexity-tercile partition used to select training data.
    *
    * Determinism (the property that makes this oracle-able): per-token
    * log-probs floor to integer milli-nats before aggregation (exact long
    * sums, order-independent — same convention as the unigram-logprob
    * query), the per-doc score is `-floor(sum/n)` (integer ceil of mean
    * nll), and cutoffs are exact ORDER STATISTICS picked off a cumulative
    * count — no percentile interpolation, whose float lerp differs across
    * engines. Ties at a cutoff all land in the lower bucket.
    *
    * Scale shape: two corpus passes (train freqs, score) are inherent to
    * self-training; the cutoff computation runs entirely on the per-
    * (lang, score) HISTOGRAM — |langs| × |distinct integer scores| rows,
    * thousands at any corpus size — so there is no global sort and no
    * corpus-sized window. Cutoffs broadcast back; bucketing is map-only.
    * Docs with zero tokens have no score and are excluded (as in CCNet,
    * where empty docs are dropped before LM scoring). */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String,
                        langCol: String): DataFrame = {
    val toks = df.select(col(idCol), col(langCol),
      explode(filter(split(col(textCol), " ", -1), t => t =!= lit("")))
        .as("token"))
    // vocab-sized freq frame; global token total as a one-partition window
    // over it (NOT a third corpus scan — see unigramLogprob's note)
    val freq = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
      .withColumn("t", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window
          .rowsBetween(Long.MinValue, Long.MaxValue)))
    val scored = toks.join(freq, "token")
      .select(col(idCol), col(langCol),
        floor(log(col("n").cast("double") / col("t")) * 1000)
          .cast("long").as("milli"))
      .groupBy(col(idCol), col(langCol))
      .agg((-floor(sum(col("milli")).cast("double") / count(lit(1))))
        .cast("long").as("nll_milli"))
    val hist = scored.groupBy(col(langCol), col("nll_milli"))
      .agg(count(lit(1)).as("c"))
    val cumW = org.apache.spark.sql.expressions.Window
      .partitionBy(col(langCol)).orderBy(col("nll_milli"))
      .rowsBetween(Long.MinValue, 0)
    val totW = org.apache.spark.sql.expressions.Window
      .partitionBy(col(langCol))
    // cutoff_k = min score whose cumulative count reaches ceil(k·n/3);
    // ceil via floor((kn+2)/3.0) — exact for doubles (integers ≤ 2^53)
    val cum = hist.withColumn("cum", sum(col("c")).over(cumW))
      .withColumn("nl", sum(col("c")).over(totW))
    val cutoffs = cum.groupBy(col(langCol)).agg(
      min(when(col("cum") >= floor((col("nl") + 2) / lit(3.0)).cast("long"),
        col("nll_milli"))).as("c1"),
      min(when(col("cum") >= floor((col("nl") * 2 + 2) / lit(3.0)).cast("long"),
        col("nll_milli"))).as("c2"))
    scored.join(broadcast(cutoffs), Seq(langCol))
      .select(col(idCol), col(langCol), col("nll_milli"),
        when(col("nll_milli") <= col("c1"), "head")
          .when(col("nll_milli") <= col("c2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Tokenizer-vocabulary coverage — the OOV-rate audit run before
    * committing a vocab: against the corpus's own top-`topN` tokens (by
    * frequency, ties broken token-ascending), report each document's
    * token count, out-of-vocabulary count, and OOV ratio. The vocab is
    * TakeOrderedAndProject-sized (no global sort) and broadcasts into a
    * map-side membership probe; one hash-agg per doc closes it out. At
    * 100 TB the corpus streams once for the freq table and once for the
    * probe — the join side is always |vocab|. */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
                    topN: Int = 20): DataFrame = {
    val toks = df.select(col(idCol),
      explode(filter(split(col(textCol), " ", -1), t => t =!= lit("")))
        .as("token"))
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(topN)
      .select(col("token"), lit(1L).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_toks"),
        coalesce(sum(col("in_vocab")), lit(0L)).as("n_in"))
      .select(col(idCol), col("n_toks"),
        (col("n_toks") - col("n_in")).as("n_oov"),
        round((col("n_toks") - col("n_in")).cast("double") / col("n_toks"), 4)
          .as("oov_ratio"))
  }

  /** Vocabulary growth curve (Heaps-law audit) — "does the NEXT crawl
    * shard still add vocabulary, or has the corpus saturated?": the
    * corpus is ordered into 16^hexDigits deterministic md5 shards of the
    * id ([[Sampling.md5Shard]] — the same engine-portable order every
    * sampling op uses, so "shard k" means the same docs on every engine
    * and every run), and each shard reports how many distinct token
    * n-grams appear there for the FIRST time (min shard over the docs
    * containing the gram) plus the running vocabulary total. A
    * flattening curve = additional data buys repetition, not coverage —
    * the stop-crawling/start-curating signal. Grams, not unigrams,
    * because a template-generated corpus saturates its word list in the
    * first shard while its gram space keeps growing (measured here: 31
    * distinct words vs 16 245 trigrams at sf0.01) — the same reason
    * [[sourceOverlap]] and the dedup family key on grams.
    *
    * Grams are 64-bit hashes ([[graft.functions.TextExprs.gram_hashes]]),
    * the shared trade documented on [[sourceOverlap]]: counts shift only
    * on a 64-bit collision, and the exchange ships 8-byte longs.
    *
    * 100 TB shape: no distinct materializes — `min(shard)` aggregates
    * the exploded gram stream with map-side partials straight into ONE
    * gram-keyed exchange (a gram seen 10⁹ times ships once per map
    * task), and the curve itself is a 16^hexDigits-row frame whose
    * cumulative window is bounded by construction, like
    * [[Sampling.shufflePositions]]'s offset frame. */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: String,
                  n: Int = 3, hexDigits: Int = 1): DataFrame = {
    require(hexDigits >= 1 && hexDigits <= 4,
      s"hexDigits $hexDigits outside [1,4]")
    require(n > 0, s"gram length $n must be positive")
    val first = df
      .select(Sampling.md5Shard(col(idCol), hexDigits).cast("long")
          .as("__shard"),
        explode(gram_hashes(col(textCol), n)).as("__g"))
      .groupBy(col("__g"))
      .agg(min(col("__shard")).as("shard"))
    val curve = org.apache.spark.sql.expressions.Window
      .orderBy(col("shard"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    first.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_new"))
      .withColumn("cum_vocab", sum(col("n_new")).over(curve).cast("long"))
  }

  /** Content fingerprint: md5 of whitespace-normalized lowercase text
    * (oracle-portable), plus winnowing fingerprints for overlap detection. */
  def contentFingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "\\s+", " "))

  def winnowSummary(text: Column): Seq[Column] = {
    val sig = winnow_sig(text)
    Seq(size(sig).cast("long").as("n_fingerprints"),
      array_min(sig).as("min_fp"),
      array_max(sig).as("max_fp"))
  }

  /** EXACT pairwise corpus overlap between groups (sources / domains /
    * shards): for every unordered group pair (a < b, lexicographic) that
    * shares at least one token n-gram, the distinct-gram intersection
    * size, the exact Jaccard |A∩B| / |A∪B|, and the containment
    * |A∩B| / |A| (how much of the smaller-named group is inside the
    * other) — the "is my new crawl shard already covered by the existing
    * mixture" question in dataset curation. The ground-truth companion
    * of the minhash estimate (`q_x_source_signature` — same role
    * `q_x_emb_near_dup_exact` plays for the embedding LSH path); the two
    * are reconciled in spec within the k=128 minhash standard error.
    *
    * Grams are 64-bit hashes ([[graft.functions.TextExprs.gram_hashes]]:
    * single-space tokenization, empties dropped) — two distinct grams
    * alias only on a 64-bit collision, immaterial to set-overlap counts,
    * and the exchange ships 8-byte longs instead of k-token strings.
    *
    * Scale shape (the aggregate-first posting pattern shared with
    * [[dupSpans]] and TfIdf): one capped set aggregate per gram
    * ([[graft.functions.CappedCollect]]) collapses the exploded stream
    * map-side before its single gram-keyed exchange, collects each gram's
    * distinct groups and comes back NULL past `maxSources` of them,
    * dropping its buffer at `maxSources`+1 groups, so a ubiquitous gram's
    * set stays bounded by the cap (and by the number of groups); pair
    * emission fans out at most cap² per surviving gram. Group sizes come
    * from one distinct over (group, gram). The same bounded-recall
    * trade as `maxDf` in TfIdf/BM25: capped grams leave the intersection
    * counts only, group sizes stay exact. NULL group ids are dropped at
    * the input: they never pair and do not count toward a gram's
    * spread. At the gate
    * SFs the default (no cap) is exact, so the DuckDB oracle
    * hash-checks the values. Group sizes broadcast (one row per
    * group). Pairs with zero shared grams are omitted (inner semantics
    * on both engines). */
  def sourceOverlap(df: DataFrame, groupCol: String, textCol: String,
                    n: Int = 3,
                    maxSources: Int = Int.MaxValue): DataFrame = {
    require(n > 0 && maxSources >= 2,
      "gram length must be positive and maxSources >= 2")
    val grams = df
      .select(col(groupCol).as("src"),
        explode(gram_hashes(col(textCol), n)).as("gram"))
      .where(col("src").isNotNull)
    val sizes = grams.distinct().groupBy(col("src"))
      .agg(count(lit(1)).as("n_grams"))
    // The per-gram spread gate is the capped set aggregate itself (a NULL
    // set past maxSources), so its buffer never outgrows the cap; the
    // size filter only skips single-source grams. The set form dedups, so
    // it reads the exploded stream: under the distinct it would cost a
    // second exchange. Pair generation is the sorted-array
    // posexplode+slice idiom (MarketBasket): strictly increasing sorted
    // distinct sources ⇒ slice-after-i IS the source_a < source_b pair
    // set.
    val shared = grams
      .groupBy(col("gram"))
      .agg(capped_collect_set(col("src"), maxSources).as("srcs"))
      .where(size(col("srcs")) >= 2)
    val pairs = Pairs.sortedPairs(shared, "srcs", "source_a", "source_b")
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(broadcast(sizes.select(col("src").as("source_a"),
        col("n_grams").as("na"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("src").as("source_b"),
        col("n_grams").as("nb"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_common"),
        round(col("n_common") / (col("na") + col("nb") - col("n_common")), 3)
          .as("jaccard"),
        round(col("n_common") / col("na"), 3).as("containment_a"))
  }

  /** Interpolated Kneser-Ney bigram probabilities as EXACT fractions
    * (Kneser & Ney 1995; Chen & Goodman 1998 — the standard n-gram LM
    * smoothing, and the scoring model behind perplexity-based quality
    * filtering one step up from raw conditional counts): with absolute
    * discount D = 3/4,
    *
    *   P_KN(w2|w1) = (max(c(w1,w2) − D, 0)
    *                  + D · N1+(w1·) · N1+(·w2)/N1+(··)) / c(w1·)
    *
    * where N1+(w1·) = distinct continuations of w1, N1+(·w2) = distinct
    * histories of w2 (the "how many contexts has this word completed"
    * count that makes KN beat back-off-to-unigram), N1+(··) = distinct
    * bigrams. Every term is rational, so the probability ships as the
    * exact integer pair
    *
    *   pkn_num = max(4·c − 3, 0)·B + 3·N1+(w1·)·N1+(·w2)
    *   pkn_den = 4·c(w1·)·B                   (B = N1+(··))
    *
    * — no float division anywhere, hence bit-identical cross-engine and
    * layout-independent (the ExactMoney argument applied to an LM).
    * Bounds: den = 4·c(w1·)·B is the binding term — with B ~ 10⁹ distinct
    * bigrams it caps the most frequent word's context count c(w1·) at
    * ~2.3×10⁹, i.e. a SINGLE-DIGIT-BILLIONS-of-tokens corpus, not the
    * trillions a naive reading suggests (Spark's non-ANSI longs would
    * wrap silently where DuckDB raises, breaking cross-engine exactness
    * asymmetrically). A runtime guard over the checkpointed vocab-bounded
    * aggregate fails loudly at the boundary; past it, clear the fractions
    * in DECIMAL(38,0) (the labelOutliers idiom) at ~2× exchange width.
    *
    * Scale shape: ONE corpus-sized exchange (the bigram aggregate — the
    * [[bigramLm]] exchange); the context/continuation statistics
    * re-aggregate FROM the aggregated table (vocab-bounded), join back on
    * the word keys, and the distinct-bigram scalar broadcasts. No windows,
    * no second corpus pass. */
  def kneserNeyBigram(df: DataFrame, textCol: String, minCount: Long = 2L)
      : DataFrame = {
    require(minCount >= 1L, s"minCount $minCount must be >= 1")
    val (bc, c1, c2, bCount) = knTables(df, textCol)
    // filter BEFORE the statistics joins: minCount reads only bc.n, and
    // the c1/c2/B statistics must come from the UNfiltered table — so
    // the two word-key exchanges carry only the kept bigrams. B arrives
    // as a literal: the overflow-guard probe already computed it on the
    // driver, so the old 1-row crossJoin(broadcast(tot)) job is gone
    // (r14 — one fewer broadcast exchange + job, same values).
    bc.filter(col("n") >= minCount)
      .join(c1, Seq("w1")).join(c2, Seq("w2"))
      .select(col("w1"), col("w2"), col("n"),
        (greatest(lit(4L) * col("n") - 3L, lit(0L)) * lit(bCount) +
          lit(3L) * col("n1fwd") * col("n1rev")).as("pkn_num"),
        (lit(4L) * col("c1") * lit(bCount)).as("pkn_den"))
  }

  /** Shared Kneser-Ney statistics tables: the checkpointed bigram count
    * aggregate plus its context (c1/n1fwd), continuation (n1rev), and
    * distinct-bigram-total frames — one corpus-sized exchange, everything
    * else vocab-bounded. Includes the long-overflow guard from the
    * [[kneserNeyBigram]] bounds note. */
  private def knTables(df: DataFrame, textCol: String)
      : (DataFrame, DataFrame, DataFrame, Long) = {
    val bg = df
      .select(filter(split(col(textCol), " ", -1), x => x =!= "").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    knTablesFromBigrams(bg)
  }

  /** [[knTables]] over a pre-built (w1, w2) bigram-occurrence stream —
    * the r14 seam that lets [[knDocLogprob]] tokenize the corpus ONCE
    * (its doc-keyed bigram stream, with doc_id projected away, is the
    * exact same occurrence multiset this used to re-derive). */
  private def knTablesFromBigrams(bg: DataFrame)
      : (DataFrame, DataFrame, DataFrame, Long) = {
    val bc = bg
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
      // materialize the vocab-bounded aggregate ONCE: it is referenced
      // four times below (kept rows, c1, c2, probes) and Catalyst would
      // otherwise re-run the corpus-sized bigram exchange per reference
      // (census-measured: 4× the bigram_lm exchange bytes before this)
      .localCheckpoint(true)
    val c1 = bc.groupBy(col("w1"))
      .agg(sum(col("n")).as("c1"), count(lit(1)).as("n1fwd"))
    val c2 = bc.groupBy(col("w2")).agg(count(lit(1)).as("n1rev"))
    // Overflow guard (see the bounds note above): vocab-bounded driver
    // probes over the already-materialized checkpoint — no corpus
    // re-scan — verify the worst-case pkn_num/pkn_den fit a long, because
    // Spark's non-ANSI arithmetic would otherwise WRAP silently while
    // DuckDB raises, producing a wrong-but-green-looking LM table.
    // r14: ONE probe job, not two — the w1-keyed maxima (max c(w1·),
    // max N1+(w1·), B) and the w2-keyed continuation max are tagged
    // 1-row aggregates unioned into a single collect.
    val probe = bc.groupBy(col("w1"))
      .agg(sum(col("n")).as("v1"), count(lit(1)).as("v2"))
      .agg(lit("w1").as("src"), max(col("v1")).as("m1"),
        max(col("v2")).as("m2"), coalesce(sum(col("v2")), lit(0L)).as("b"))
      .unionByName(bc.groupBy(col("w2")).agg(count(lit(1)).as("r"))
        .agg(lit("w2").as("src"), max(col("r")).as("m1"),
          lit(null).cast("long").as("m2"), lit(null).cast("long").as("b")))
      .collect()
    val g1 = probe.find(_.getString(0) == "w1").get
    val bCount = g1.getLong(3)
    if (bCount > 0) {
      val maxRev = probe.find(_.getString(0) == "w2").get.getLong(1)
      val (maxC1, maxFwd) = (g1.getLong(1), g1.getLong(2))
      val numMax = BigInt(4) * maxC1 * bCount + BigInt(3) * maxFwd * maxRev
      require(numMax <= Long.MaxValue,
        s"kneserNeyBigram long overflow: worst-case fraction term $numMax " +
          s"(max c(w1.)=$maxC1, B=$bCount) exceeds 2^63-1 — this corpus " +
          "needs the DECIMAL(38,0) variant of the fraction clearing")
    }
    (bc, c1, c2, bCount)
  }

  /** Per-document log-probability under the corpus's own interpolated
    * Kneser-Ney bigram LM ([[kneserNeyBigram]]) — the CCNet-style
    * (Wenzek et al. 2020) perplexity quality filter the smoothed LM
    * exists for, one modeling step above [[bigramLm]]-count scoring and
    * `q_x_unigram_logprob`'s unigram MLE: each bigram occurrence in a
    * document scores ln P_KN(w2|w1), floored to integer milli-nats
    * BEFORE aggregation (the unigram_logprob idiom), so the per-doc
    * figure is an exact long sum — order-independent cross-engine.
    *
    * OOV backoff is PINNED: `minCount` prunes the SERVED bigram table
    * (the deployed-LM pruning knob), and a document bigram absent from it
    * scores the formula's c = 0 arm — pure continuation probability
    * D·N1+(w1·)·N1+(·w2)/(B·c(w1·)) — exactly what interpolated KN
    * assigns unseen bigrams. Both word-level statistics always exist
    * because the LM is self-trained on the same corpus.
    *
    * Scale shape: the KN statistics cost their one corpus-sized exchange
    * ([[knTables]]); scoring re-tokenizes the corpus (two passes are
    * inherent to self-training — the unigram_logprob argument) and joins
    * the per-doc bigram stream against the vocab-bounded served/context/
    * continuation tables — AQE broadcasts them when they fit, and a
    * 10M-entry real vocab degrades to a shuffle join instead of a driver
    * OOM (no hint, deliberately). No windows, no driver state.
    *
    * @return (doc_id, milli_nats, n_bigrams) — docs with ≥2 tokens only
    */
  def knDocLogprob(df: DataFrame, idCol: String, textCol: String,
                   minCount: Long = 2L): DataFrame = {
    require(minCount >= 1L, s"minCount $minCount must be >= 1")
    // r14 note: a single-tokenize variant (persist the doc-keyed bigram
    // stream, train the LM statistics from the cache) was built and
    // measured FLAT at sf0.1 (10-rep dedicated-JVM A/B: 1.039 s two-pass
    // vs 1.066 s cached) — whitespace tokenize is too cheap for the
    // persist+count materialization to pay for itself, and at scale
    // writing the exploded bigram stream to cache costs more I/O than
    // re-tokenizing (the TfIdf-fanOut lesson). The two tokenize passes
    // stay; what r14 does keep is the literal-B / single-probe knTables
    // (one fewer probe job, no 1-row broadcast crossJoin).
    val (bc, c1, c2, bCount) = knTables(df, textCol)
    val served = bc.filter(col("n") >= minCount)
      .select(col("w1"), col("w2"), col("n").as("nbg"))
    val docBg = df
      .select(col(idCol).as("doc_id"),
        filter(split(col(textCol), " ", -1), x => x =!= "").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val num = greatest(lit(4L) * coalesce(col("nbg"), lit(0L)) - 3L, lit(0L)) *
      lit(bCount) + lit(3L) * col("n1fwd") * col("n1rev")
    val den = lit(4L) * col("c1") * lit(bCount)
    docBg
      .join(served, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1")).join(c2, Seq("w2"))
      .select(col("doc_id"),
        floor(log(num.cast("double") / den.cast("double")) * 1000)
          .cast("long").as("milli"))
      .groupBy(col("doc_id"))
      .agg(sum(col("milli")).as("milli_nats"),
        count(lit(1)).as("n_bigrams"))
  }

  /** Bigram language-model table: the top-k continuations of every word
    * with exact conditional counts — the n-gram-LM estimation step
    * (next-token suggestion, boilerplate detection, perplexity features).
    * All-integer until the final probability formatting, so the oracle is
    * count-exact; `p_mbp` is the conditional probability in milli-basis-
    * points (×10⁵, 2 dp).
    *
    * Scale shape: ONE corpus-sized exchange (the bigram aggregate); the
    * rank window partitions by w1 over the AGGREGATED table, where each
    * partition is at most |vocab| rows — bounded by the vocabulary, not
    * the corpus, so no whale partition exists even when one word
    * dominates the token stream. */
  def bigramLm(df: DataFrame, textCol: String, topK: Int): DataFrame = {
    require(topK > 0, s"topK $topK must be positive")
    val toks = df
      .select(filter(split(col(textCol), " ", -1), x => x =!= "").as("toks"))
      .filter(size(col("toks")) >= 2)
    val bigrams = toks
      .select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w1")).orderBy(col("n").desc, col("w2"))
    bigrams
      .withColumn("c1", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("w1"), col("rank"), col("w2"), col("n"),
        round(col("n") * lit(100000.0) / col("c1"), 2).as("p_mbp"))
  }

  /** Per-source distribution drift: KL(P_source ‖ P_corpus) over the
    * unigram distributions, in milli-nats — the mixture-monitoring signal
    * a training pipeline tracks to catch a domain whose language shifted
    * away from (or collapsed into) the corpus blend. KL is computed from
    * EXACT integer counts:
    *   KL(Pₛ‖P) = Σ_w (c_sw/Nₛ) · ln(c_sw · N / (Nₛ · c_w))
    * so both engines evaluate the same closed form per (source, word) and
    * the only float sensitivity is ln/sum jitter — absorbed by the 2 dp
    * milli-nat rounding (jitter ~1e-10 mnat). Zero-probability terms
    * cannot occur: every source word is a corpus word.
    *
    * Scale shape: ONE corpus-sized exchange (the (source, word) count);
    * everything after runs on the |sources|·|vocab|-bounded count table —
    * word totals re-aggregate from it (the corpus text is tokenized
    * exactly once) and join back on the word key. No window, no explode
    * beyond the token stream, no driver state. */
  def sourceDivergence(df: DataFrame, srcCol: String, textCol: String)
      : DataFrame = {
    val sw = df
      .select(col(srcCol).as("source"),
        explode(filter(split(col(textCol), " ", -1), x => x =!= ""))
          .as("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("c_sw"))
    // sw's three consumers share its exchange (ReuseExchange); the token
    // total is a window sum over the |sources|-row per-source frame
    val perWord = sw.groupBy(col("word")).agg(sum(col("c_sw")).as("c_w"))
    val perSrc = sw.groupBy(col("source")).agg(sum(col("c_sw")).as("n_s"))
      .withColumn("n_total", sum(col("n_s")).over())
    sw.join(perWord, "word")
      .join(broadcast(perSrc), "source")
      .groupBy(col("source"))
      .agg(
        first(col("n_s")).as("n_tokens"),
        sum((col("c_sw") / col("n_s")) *
          log((col("c_sw") * col("n_total").cast("double")) /
            (col("n_s") * col("c_w")))).as("__kl"))
      .select(col("source"), col("n_tokens"),
        round(col("__kl") * 1000, 2).as("kl_mnat"))
  }

  /** Feature-hashing text "embeddings" (the hashing trick — Weinberger
    * et al. 2009, ICML, arXiv:0902.2206): each token hashes to one of
    * `dim` buckets with a ±1 sign hash, and a document's vector is the
    * exact signed count per bucket — a model-free sparse-to-dense
    * projection whose inner products approximate token-overlap kernels.
    * The cheap stand-in wherever a real encoder is absent: cluster it,
    * ANN it, near-dup it with the same downstream operators as the
    * learned embeddings.
    *
    * Dims are one md5 hex digit (16 buckets), the sign a second digit —
    * the repo's portable hash, so the vector is EXACT INTEGERS and the
    * oracle reproduces it bit-for-bit; emitted as d0..d15 columns (flat
    * schema, exact hash compare). One explode + one map-side-combined
    * aggregate with 16 conditional sums — no pivot exchange, no
    * per-dim pass. */
  def hashEmbedding(docs: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(filter(split(col(textCol), " ", -1), t => t =!= lit("")))
        .as("tok"))
    val dim = conv(substring(md5(col("tok")), 1, 1), 16, 10).cast("int")
    val sign = when(conv(substring(md5(col("tok")), 2, 1), 16, 10)
      .cast("int") >= 8, 1L).otherwise(-1L)
    val dims = (0 until 16).map(i =>
      coalesce(sum(when(dim === i, sign)), lit(0L)).as(s"d$i"))
    toks.groupBy(col(idCol)).agg(dims.head, dims.tail: _*)
  }

  /** fastText-style linear quality scorer (Joulin et al. 2016,
    * arXiv:1607.01759 — the architecture behind the standard
    * "educational value" / quality filters): a document's score is the
    * sum of per-feature weights over its word UNIGRAM + BIGRAM features,
    * each feature hashed into a fixed bucket table (the hashing trick,
    * as [[hashEmbedding]]). Classification is `margin >= 0`.
    *
    * The WEIGHTS here are a deterministic integer fixture — bucket b
    * (two md5 hex digits of the gram, 256 buckets) weighs
    * `((b + 1) · 2654435761) mod 1999 − 999` milli-units (Knuth's
    * multiplicative constant as a fixed mixing function). That is
    * deliberately NOT a trained model: training happens offline, and
    * what the ENGINE owes is the serving plumbing — gram explosion,
    * portable bucket hash, exact integer margin aggregation — which is
    * identical whichever 256 integers fill the table. Swap the
    * arithmetic weight for a broadcast-joined trained table and nothing
    * else changes shape. All-integer, so the margin is associative,
    * layout-independent, and oracle-exact cross-engine.
    *
    * Scale shape: one explode (≈2 features/token) + one map-side-combined
    * hash aggregate on the doc id — linear, no windows, no driver state;
    * the weight "table" lives inside codegen arithmetic (a trained table
    * would ride a 256-row broadcast).
    *
    * Output: (id, n_feat, margin_milli, label 1|0); docs with zero
    * features (empty text) drop — no evidence, no score, the
    * [[Dsir.importanceWeights]] convention. */
  def fastTextQualityScore(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame = {
    val toks = docs.select(col(idCol),
      filter(split(col(textCol), " ", -1), t => t =!= lit("")).as("toks"))
    val unigrams = toks.select(col(idCol), explode(col("toks")).as("g"))
    val bigrams = toks.filter(size(col("toks")) >= 2)
      .select(col(idCol), explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => concat_ws(" ", a, b))).as("g"))
    val grams = unigrams.unionByName(bigrams)
    val bucket =
      conv(substring(md5(col("g")), 1, 1), 16, 10).cast("long") * 16L +
        conv(substring(md5(col("g")), 2, 1), 16, 10).cast("long")
    val weight = (bucket + 1L) * 2654435761L % 1999L - 999L
    grams.select(col(idCol), weight.as("__w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feat"),
        sum(col("__w")).cast("long").as("margin_milli"))
      .select(col(idCol), col("n_feat"), col("margin_milli"),
        when(col("margin_milli") >= 0L, 1L).otherwise(0L).as("label"))
  }
}
