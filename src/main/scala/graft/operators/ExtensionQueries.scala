package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{Bpe, Cdc, Dedup, FuzzyJoin, Multimodal, Privacy, Similarity, SimilarityJoin, SubstringDedup, TextAnalysis, TfIdf, TimeSeries}
import graft.functions.TextExprs
import graft.sources.Sources

/** LLM-data-pipeline extension operators (BASELINE.json north star):
  * deduplication, similarity search, text analysis, multimodal plumbing —
  * over the `documents` and `embeddings` testdata tables.
  *
  * Oracle coverage: exact/portable computations get DuckDB SQL; the
  * sketch-based operators (minhash/simhash/LSH/winnow) use engine-specific
  * hashes and take the driver's rows-only check — their correctness is
  * pinned by ScalaTest instead (planted near-dups in the corpus must
  * cluster; brute-force vs LSH recall; hamming bounds).
  */
object ExtensionQueries {

  // ------------------------------------------------------------- dedup --

  /** Exact dedup: canonical row per distinct text = min(doc_id). */
  val dedupExact = Q(
    "q_x_dedup_exact",
    "Exact dedup over documents.text (keep min doc_id)",
    (s, dir) => Sources.table(s, dir, "documents")
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("text")),
    Some("SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text"))

  /** Cross-document exact-substring spans
    * ([[SubstringDedup.crossDocSpans]], Lee et al. 2022 ExactSubstr): the
    * maximal ≥8-token spans each doc shares VERBATIM with another doc.
    * The oracle rebuilds the identical anchor-grouping pipeline
    * (k-token windows → ≥2-distinct-doc anchors → covered-run merge);
    * all-integer output, 1-based inclusive token positions. */
  val substringDedup = Q(
    "q_x_substring_dedup",
    "Cross-doc exact-substring dedup: maximal >=8-token verbatim spans",
    (s, dir) => SubstringDedup.crossDocSpans(
      Sources.table(s, dir, "documents"), "doc_id", "text", k = 8),
    Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '),
           |     x -> x <> '') AS toks FROM documents),
           | a AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
           |     array_to_string(toks[i:i+7], ' ') AS anchor
           |   FROM t, UNNEST(generate_series(1, len(toks) - 7)) AS u(i)
           |   WHERE len(toks) >= 8),
           | sh AS (SELECT anchor FROM a GROUP BY anchor
           |   HAVING count(DISTINCT doc_id) >= 2),
           | c AS (SELECT doc_id, pos FROM a JOIN sh USING (anchor)),
           | r AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos)
           |     OVER (PARTITION BY doc_id ORDER BY pos) <= 8
           |     THEN 0 ELSE 1 END AS brk FROM c),
           | s AS (SELECT doc_id, pos, sum(brk)
           |     OVER (PARTITION BY doc_id ORDER BY pos) AS sid FROM r)
           | SELECT doc_id, min(pos) AS span_start,
           |   max(pos) + 7 AS span_end,
           |   max(pos) + 7 - min(pos) + 1 AS span_tokens
           | FROM s GROUP BY doc_id, sid"""
      .stripMargin.replace("\n", "")))

  /** URL canonicalization + canonical-URL dedup ([[graft.ext.Urls]]) —
    * the first stage of a web-corpus ingest. The documents table carries
    * no URL column, so the gate CONSTRUCTS adversarial URLs
    * deterministically from (doc_id, source) — five variants covering
    * userinfo, upper-case scheme/host, default vs non-default ports,
    * %-escape case, query order, trailing slash, and fragments — and
    * both engines build the identical strings, canonicalize, and dedup.
    * Variants 0/1 and 2/3 collapse to the same canonical URL, so the
    * n_urls counts certify real merges, not pass-through. */
  val urlCanonical = Q(
    "q_x_url_canonical",
    "URL canonicalization: normalize adversarial variants, dedup by canon",
    (s, dir) => {
      val v = col("doc_id") % 5
      val b = (col("doc_id") % 7).cast("string")
      val url = when(v === 0, concat(lit("HTTP://user:pw@WWW."),
          col("source"), lit(".COM:80/p/"), b, lit("/")))
        .when(v === 1, concat(lit("http://www."), col("source"),
          lit(".com/p/"), b))
        .when(v === 2, concat(lit("https://Api."), col("source"),
          lit(".com:443/a%2fb/?z=2&a=1")))
        .when(v === 3, concat(lit("https://api."), col("source"),
          lit(".com/a%2Fb?a=1&z=2")))
        .otherwise(concat(lit("http://cdn."), col("source"),
          lit(".com:8080/x/y#frag")))
      Sources.table(s, dir, "documents")
        .select(col("doc_id"), url.as("url"))
        .select(col("doc_id"),
          graft.ext.Urls.canonicalUrl(col("url")).as("canon_url"),
          graft.ext.Urls.hostOf(col("url")).as("host"))
        .groupBy(col("canon_url"), col("host"))
        .agg(count(lit(1)).as("n_urls"), min(col("doc_id")).as("keep_doc"))
    },
    Some("""WITH u0 AS (SELECT doc_id, CASE doc_id % 5
           |   WHEN 0 THEN 'HTTP://user:pw@WWW.' || source || '.COM:80/p/' || (doc_id % 7) || '/'
           |   WHEN 1 THEN 'http://www.' || source || '.com/p/' || (doc_id % 7)
           |   WHEN 2 THEN 'https://Api.' || source || '.com:443/a%2fb/?z=2&a=1'
           |   WHEN 3 THEN 'https://api.' || source || '.com/a%2Fb?a=1&z=2'
           |   ELSE 'http://cdn.' || source || '.com:8080/x/y#frag' END AS url
           |   FROM documents),
           | p0 AS (SELECT doc_id, url, string_split(url, '%') AS pr FROM u0),
           | p AS (SELECT doc_id, CASE WHEN len(pr) = 1 THEN url ELSE pr[1]
           |   || array_to_string(['%' || upper(x[1:2]) || x[3:]
           |     for x in pr[2:]], '') END AS u FROM p0),
           | c AS (SELECT doc_id, u,
           |   lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
           |   regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM p),
           | d AS (SELECT *, regexp_extract(rest, '^([^/?#]*)', 1) AS auth FROM c),
           | e AS (SELECT *, substr(rest, length(auth) + 1) AS tail,
           |   regexp_replace(auth, '^[^@]*@', '') AS hostport FROM d),
           | f AS (SELECT *, regexp_extract(tail, '^([^?#]*)', 1) AS path,
           |   regexp_extract(tail, '^[^?#]*\?([^#]*)', 1) AS query,
           |   regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
           |   lower(regexp_replace(hostport, ':[0-9]+$', '')) AS host FROM e),
           | g AS (SELECT doc_id, host, scheme || '://' || host ||
           |   CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
           |     OR (scheme = 'https' AND port = '443'))
           |     THEN ':' || port ELSE '' END ||
           |   CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
           |     ELSE regexp_replace(path, '/+$', '') END ||
           |   CASE WHEN query = '' THEN '' ELSE '?' ||
           |     array_to_string(list_sort(string_split(query, '&')), '&') END
           |   AS canon_url FROM f)
           | SELECT canon_url, host, count(*) AS n_urls,
           |   min(doc_id) AS keep_doc
           | FROM g GROUP BY canon_url, host"""
      .stripMargin.replace("\n", "")))

  /** MinHash+LSH near-dup clustering — full assignment, one row per doc.
    *
    * Fully oracle-checked: the LSH path's RESULT is exactly the connected
    * components of the {Jaccard ≥ 0.7} pair graph whenever LSH recall is
    * perfect, and on this corpus it is — the planted near-dup pairs all
    * sit at jac ≥ 0.9 (P(LSH miss at j=0.9) = (1−0.9⁴)³² ≈ 1e-15) with a
    * clean margin gap below 0.7, and no bucket exceeds the cap. DuckDB
    * rebuilds the edge set from raw text (same word-3-gram Jaccard as the
    * verify stage) and clusters it with a recursive-CTE transitive
    * closure + min-label. A mismatch in sketching, banding, bucket
    * capping, verify, or CC labeling all surface here. */
  /** Shared DuckDB CTE chain rebuilding the minhash cluster labels from
    * raw text (word-3-gram Jaccard ≥ 0.7 edges + recursive transitive
    * closure + min-label): interpolated into every oracle that needs the
    * cluster assignment (`q_x_dedup_minhash`, `q_x_dedup_keep_best`).
    * Must follow a `WITH RECURSIVE` and be joined as
    * `... LEFT JOIN lab l ON doc_id = l.doc_id` with
    * `least(doc_id, coalesce(l.m, doc_id))` as the cluster id. */
  private val minhashClusterCtes =
    """d AS (SELECT doc_id,
      |   list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
      | sh AS (SELECT doc_id, list_distinct(CASE
      |   WHEN len(toks) = 0 THEN []
      |   WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
      |   ELSE [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
      |   END) AS s FROM d),
      | e AS (SELECT a.doc_id AS u, b.doc_id AS v FROM sh a, sh b
      |   WHERE a.doc_id < b.doc_id AND (CASE
      |     WHEN len(a.s) = 0 AND len(b.s) = 0 THEN 1.0
      |     WHEN len(a.s) = 0 OR len(b.s) = 0 THEN 0.0
      |     ELSE len(list_intersect(a.s, b.s)) * 1.0
      |       / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
      |     END) >= 0.7),
      | ed AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
      | reach AS (SELECT u, v FROM ed
      |   UNION SELECT r.u, ed.v FROM reach r JOIN ed ON r.v = ed.u
      |   WHERE ed.v <> r.u),
      | lab AS (SELECT u AS doc_id, min(v) AS m FROM reach GROUP BY u)"""
      .stripMargin.replace("\n", "")

  val dedupMinhash = Q(
    "q_x_dedup_minhash",
    "MinHash+LSH near-dup clustering (sig→band→bucket→verify→CC)",
    (s, dir) => Dedup.minhash(
      Sources.table(s, dir, "documents"), "doc_id", "text"),
    Some(s"""WITH RECURSIVE $minhashClusterCtes
           | SELECT doc.doc_id,
           |   CAST(least(doc.doc_id, coalesce(l.m, doc.doc_id)) AS BIGINT) AS cluster_id,
           |   least(doc.doc_id, coalesce(l.m, doc.doc_id)) = doc.doc_id AS is_canonical
           | FROM documents doc LEFT JOIN lab l ON doc.doc_id = l.doc_id"""
      .stripMargin.replace("\n", "")), headline = true)

  /** Quality-aware dedup policy — the representative selection a real
    * corpus pipeline runs instead of keep-min-id: within each near-dup
    * cluster keep the HIGHEST-quality document (the integer basis-point
    * score from [[graft.ext.TextAnalysis.qualityColumns]]; ties break on
    * doc_id). Pure composition of two oracled operators — minhash
    * clustering × quality scoring — plus one per-cluster window (bounded
    * by the largest cluster, the same partition bound domainQuota
    * documents). DuckDB mirrors via the shared cluster CTEs and the
    * identical exact-integer score, so the whole policy hash-matches. */
  val dedupKeepBest = Q(
    "q_x_dedup_keep_best",
    "Near-dup dedup keeping the highest-quality doc per cluster",
    (s, dir) => {
      val docs = Sources.table(s, dir, "documents")
      val clusters = Dedup.minhash(docs, "doc_id", "text")
        .select(col("doc_id"), col("cluster_id"))
      val scored = docs.select(col("doc_id"),
        TextAnalysis.qualityScoreBp(col("text")))
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("quality_score_bp").desc, col("doc_id").asc)
      clusters.join(scored, "doc_id")
        .withColumn("kept",
          when(row_number().over(w) === 1, 1L).otherwise(0L))
        .select(col("doc_id"), col("cluster_id"),
          col("quality_score_bp"), col("kept"))
    },
    Some(s"""WITH RECURSIVE $minhashClusterCtes,
           | q AS (SELECT doc_id,
           |   CAST(floor(4000.0 * least(len(string_split(text, ' ')), 64) / 64.0) AS BIGINT)
           |   + CAST(floor(3000.0 * least(5 * len(list_filter(string_split(text, ' '), t -> t IN
           |     ('the','a','an','of','to','and','in','is','it','for','on','with','as','at','by','be'))),
           |     len(string_split(text, ' '))) / greatest(len(string_split(text, ' ')), 1)) AS BIGINT)
           |   + (CASE WHEN (length(replace(text, ' ', '')) * 1.0
           |     / greatest(len(string_split(text, ' ')), 1)) BETWEEN 3.0 AND 10.0
           |     THEN 3000 ELSE 0 END) AS quality_score_bp FROM documents),
           | cl AS (SELECT doc.doc_id,
           |   CAST(least(doc.doc_id, coalesce(l.m, doc.doc_id)) AS BIGINT) AS cluster_id
           |   FROM documents doc LEFT JOIN lab l ON doc.doc_id = l.doc_id)
           | SELECT cl.doc_id, cl.cluster_id, q.quality_score_bp,
           |   CAST(CASE WHEN row_number() OVER (PARTITION BY cl.cluster_id
           |     ORDER BY q.quality_score_bp DESC, cl.doc_id) = 1
           |     THEN 1 ELSE 0 END AS BIGINT) AS kept
           | FROM cl JOIN q USING (doc_id)"""
      .stripMargin.replace("\n", "")))

  /** SimHash near-dup clustering (hamming ≤ 3 via chunk pigeonhole).
    *
    * Fully oracle-checked: DuckDB re-derives the 64-bit SimHash from raw
    * text — FNV-1a 64 + splitmix64 per token (64-bit wrapping arithmetic
    * emulated in HUGEINT mod 2^64, with xor/bit_count done on 32-bit
    * halves since DuckDB's bitwise ops stop at BIGINT), per-bit token
    * votes, sign → bit — then reproduces the PRODUCTION pipeline
    * semantics exactly: the 4×16-bit chunk membership, per-bucket sizes,
    * the maxBucket=64 cap filter (n BETWEEN 2 AND 64), hamming-≤3 verify
    * within buckets, and the same recursive-CTE transitive closure +
    * min-label the minhash oracle uses. Modeling the cap in the oracle —
    * rather than pairing all-pairs — matters at scale: at sf0.1 real
    * buckets exceed the cap, so an uncapped oracle diverges (measured:
    * one cluster split at sf0.1) while this one hash-matches at every
    * tested SF; it is also ~10× cheaper for DuckDB than the 12.5M-pair
    * cross product. Byte-level caveat: the SQL reads token bytes via
    * ord(), which equals the UTF-8 byte only for ASCII — exactly the
    * corpus's alphabet (the JVM side hashes raw UTF-8 bytes). The
    * cap-free-vs-brute-force recall invariant stays pinned separately by
    * q_x_dedup_simhash_anchor. */
  val dedupSimhash = Q(
    "q_x_dedup_simhash",
    "SimHash near-dup clustering (64-bit sketch, 4×16-bit chunk LSH)",
    (s, dir) => Dedup.simhashDedup(
      Sources.table(s, dir, "documents"), "doc_id", "text"),
    Some("""WITH RECURSIVE d AS (SELECT doc_id,
           |   list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
           | tok AS (SELECT doc_id, t, count(*) AS cnt
           |   FROM (SELECT doc_id, unnest(toks) AS t FROM d) GROUP BY 1, 2),
           | h0 AS (SELECT doc_id, t, cnt,
           |   list_reduce([CAST(14695981039346656037 AS HUGEINT)] ||
           |     [CAST(ord(t[i]) AS HUGEINT) for i in range(1, len(t) + 1)],
           |     (acc, b) -> ((acc - (acc % 256) + xor(CAST(acc % 256 AS BIGINT), CAST(b AS BIGINT)))
           |       * 1099511628211) % 18446744073709551616) AS h FROM tok),
           | z1 AS (SELECT doc_id, cnt, (h + 11400714819323198485) % 18446744073709551616 AS z FROM h0),
           | x1 AS (SELECT doc_id, cnt,
           |   CAST(xor(CAST(z // 4294967296 AS BIGINT), CAST((z // 1073741824) // 4294967296 AS BIGINT)) AS HUGEINT) * 4294967296
           |   + CAST(xor(CAST(z % 4294967296 AS BIGINT), CAST((z // 1073741824) % 4294967296 AS BIGINT)) AS HUGEINT) AS x FROM z1),
           | z2 AS (SELECT doc_id, cnt,
           |   ((((x // 4294967296) * 13787848793156543929) % 4294967296) * 4294967296
           |   + (x % 4294967296) * 13787848793156543929) % 18446744073709551616 AS z FROM x1),
           | x2 AS (SELECT doc_id, cnt,
           |   CAST(xor(CAST(z // 4294967296 AS BIGINT), CAST((z // 134217728) // 4294967296 AS BIGINT)) AS HUGEINT) * 4294967296
           |   + CAST(xor(CAST(z % 4294967296 AS BIGINT), CAST((z // 134217728) % 4294967296 AS BIGINT)) AS HUGEINT) AS x FROM z2),
           | z3 AS (SELECT doc_id, cnt,
           |   ((((x // 4294967296) * 10723151780598845931) % 4294967296) * 4294967296
           |   + (x % 4294967296) * 10723151780598845931) % 18446744073709551616 AS z FROM x2),
           | th AS (SELECT doc_id, cnt,
           |   CAST(xor(CAST(z // 4294967296 AS BIGINT), CAST((z // 2147483648) // 4294967296 AS BIGINT)) AS HUGEINT) * 4294967296
           |   + CAST(xor(CAST(z % 4294967296 AS BIGINT), CAST((z // 2147483648) % 4294967296 AS BIGINT)) AS HUGEINT) AS h FROM z3),
           | bits AS (SELECT doc_id, b,
           |   sum(cnt * (2 * CAST((h // (CAST(1 AS HUGEINT) << b)) % 2 AS BIGINT) - 1)) AS votes
           |   FROM th, (SELECT unnest(range(0, 64)) AS b) GROUP BY 1, 2),
           | sig0 AS (SELECT doc_id,
           |   sum(CASE WHEN votes > 0 THEN CAST(1 AS HUGEINT) << b ELSE 0 END) AS sig FROM bits GROUP BY 1),
           | sig AS (SELECT doc.doc_id, coalesce(s.sig, 0) AS sig
           |   FROM documents doc LEFT JOIN sig0 s ON doc.doc_id = s.doc_id),
           | memb AS (SELECT doc_id, c, (sig // (CAST(1 AS HUGEINT) << (16 * c))) % 65536 AS key
           |   FROM sig, (SELECT unnest(range(0, 4)) AS c)),
           | sizes AS (SELECT c, key, count(*) AS n FROM memb GROUP BY 1, 2),
           | bounded AS (SELECT m.doc_id, m.c, m.key FROM memb m
           |   JOIN sizes s ON m.c = s.c AND m.key = s.key WHERE s.n BETWEEN 2 AND 64),
           | e AS (SELECT DISTINCT x.doc_id AS u, y.doc_id AS v
           |   FROM bounded x JOIN bounded y ON x.c = y.c AND x.key = y.key AND x.doc_id < y.doc_id
           |   JOIN sig a ON a.doc_id = x.doc_id JOIN sig b ON b.doc_id = y.doc_id
           |   WHERE bit_count(CAST(xor(CAST(a.sig // 4294967296 AS BIGINT), CAST(b.sig // 4294967296 AS BIGINT)) AS BIGINT))
           |     + bit_count(xor(CAST(a.sig % 4294967296 AS BIGINT), CAST(b.sig % 4294967296 AS BIGINT))) <= 3),
           | ed AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
           | reach AS (SELECT u, v FROM ed
           |   UNION SELECT r.u, ed.v FROM reach r JOIN ed ON r.v = ed.u WHERE ed.v <> r.u),
           | lab AS (SELECT u AS doc_id, min(v) AS m FROM reach GROUP BY u)
           | SELECT doc.doc_id,
           |   CAST(least(doc.doc_id, coalesce(l.m, doc.doc_id)) AS BIGINT) AS cluster_id,
           |   least(doc.doc_id, coalesce(l.m, doc.doc_id)) = doc.doc_id AS is_canonical
           | FROM documents doc LEFT JOIN lab l ON doc.doc_id = l.doc_id"""
      .stripMargin.replace("\n", "")))

  /** SimHash can't share the Jaccard oracle — hamming-≤3 is a genuinely
    * different similarity relation (measured on this corpus it both merges
    * pairs below jac 0.7 and splits pairs above 0.9) — so the LSH-bucketed
    * distributed path is anchored against brute-force ground truth computed
    * IN THE SAME FRAME: all-pairs hamming over the signatures → CC →
    * compare with [[Dedup.simhashDedup]]'s assignment, emitting violations.
    * The anchored run is CAP-FREE (maxBucket = ∞): the deterministic
    * invariant is that the 4×16-bit chunk pigeonhole is exhaustive for
    * hamming ≤ 3, and the bucket cap is a documented recall tradeoff that
    * would otherwise read as violations (at sf0.1, 27 buckets exceed 64;
    * cap-free the paths agree exactly). Expected empty, pinned by a 0-row
    * oracle — a recall loss in the chunk-LSH or a CC labeling bug becomes
    * driver-visible rows. The all-pairs join is the ANCHOR's shape
    * (test-scale only, broadcast nested loop over 8-byte sigs); the
    * production operator stays bucketed and capped. */
  val dedupSimhashAnchor = Q(
    "q_x_dedup_simhash_anchor",
    "SimHash LSH path vs brute-force hamming CC (violations; expect 0 rows)",
    (s, dir) => {
      val docs = Sources.table(s, dir, "documents")
      val sigs = docs.select(col("doc_id").as("id"),
          TextExprs.simhash(col("text")).as("sh"))
        .localCheckpoint(true)
      // r13: spread the brute-force hamming block-join across cores —
      // the checkpointed sigs frame inherits the one-file scan's single
      // partition, so the |docs|²/2 bit_count evaluations otherwise run
      // on one task (the q_x_dedup_verify repartition idiom).
      val a = sigs.repartition(s.sparkContext.defaultParallelism)
        .select(col("id").as("a"), col("sh").as("sha"))
      val b = sigs.select(col("id").as("b"), col("sh").as("shb"))
      val edges = a.join(broadcast(b), col("a") < col("b"))
        .filter(bit_count(col("sha").bitwiseXOR(col("shb"))) <= 3)
        .select(col("a"), col("b"))
      val expected = Dedup.connectedComponents(sigs.select(col("id")), edges)
        .select(col("id").as("doc_id"), col("cluster_id").as("expected_cluster"))
      val actual = Dedup.simhashDedup(docs, "doc_id", "text",
          maxHamming = 3, maxBucket = Int.MaxValue)
        .select(col("doc_id"), col("cluster_id").as("actual_cluster"))
      actual.join(expected, "doc_id")
        .filter(col("actual_cluster") =!= col("expected_cluster"))
        .select(col("doc_id"), col("actual_cluster"), col("expected_cluster"))
    },
    Some("""SELECT CAST(NULL AS BIGINT) AS doc_id,
           | CAST(NULL AS BIGINT) AS actual_cluster,
           | CAST(NULL AS BIGINT) AS expected_cluster WHERE 1 = 0"""
      .stripMargin.replace("\n", "")), expectEmpty = true)

  /** The minhash/simhash VERIFY stage, oracle-anchored: the clustering
    * queries are rows-only (engine-specific sketch hashes), but their
    * verify step — exact 3-gram Jaccard ≥ threshold over a bounded
    * candidate set — is the SAME sorted_shingles + array_jaccard path
    * `Dedup.minhash` runs (`Dedup.scala` verify join), and DuckDB rebuilds
    * identical word-3-gram sets. Candidates here: every (probe, later-id
    * doc) pair for a deterministic 1-in-5 probe sample capped at the
    * FIXED id bound 5000 — every id at both gate SFs sits under the cap
    * (sf0.01 tops out at 499, sf0.1 at 4999), so the gates are
    * bit-identical to the uncapped form, while at larger corpora the
    * probe side stays a constant ≤1000 docs and the block-join cost goes
    * LINEAR in corpus size (uncapped it was quadratic — measured 55× on
    * 10× data in the r8 sf1 bench, the suite's worst row). Green here
    * hash-anchors the semantics of the whole near-dup family's edge set. */
  val dedupVerify = Q(
    "q_x_dedup_verify",
    "Near-dup verify stage: exact 3-gram Jaccard ≥ 0.5 candidate edges",
    (s, dir) => {
      val docs = Sources.table(s, dir, "documents")
      val probes = docs.filter(col("doc_id") % 5 === 0 &&
          col("doc_id") < 5000)
        .select(col("doc_id").as("a"),
          TextExprs.sorted_shingles(col("text"), 3).as("sh_a"))
      val corpus = docs
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id").as("b"),
          TextExprs.sorted_shingles(col("text"), 3).as("sh_b"))
      corpus.join(broadcast(probes), col("a") < col("b"))
        .select(col("a"), col("b"),
          TextExprs.array_jaccard(col("sh_a"), col("sh_b")).as("jac"))
        .filter(col("jac") >= 0.5)
        .select(col("a"), col("b"), round(col("jac"), 3).as("jaccard"))
    },
    Some("""WITH d AS (SELECT doc_id,
           |   list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
           | sh AS (SELECT doc_id, list_distinct(CASE
           |   WHEN len(toks) = 0 THEN []
           |   WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
           |   ELSE [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
           |   END) AS s FROM d),
           | p AS (SELECT doc_id, s FROM sh WHERE doc_id % 5 = 0 AND doc_id < 5000),
           | sc AS (SELECT p.doc_id AS a, c.doc_id AS b,
           |   CASE WHEN len(p.s) = 0 AND len(c.s) = 0 THEN 1.0
           |        WHEN len(p.s) = 0 OR len(c.s) = 0 THEN 0.0
           |        ELSE len(list_intersect(p.s, c.s)) * 1.0
           |          / (len(p.s) + len(c.s) - len(list_intersect(p.s, c.s)))
           |   END AS jac
           |   FROM p, sh c WHERE p.doc_id < c.doc_id)
           | SELECT a, b, round(jac, 3) AS jaccard FROM sc WHERE jac >= 0.5"""
      .stripMargin.replace("\n", "")))

  /** n-gram Jaccard: top-1 most similar doc for a 10-doc probe set. */
  val ngramJaccardTop1 = Q(
    "q_x_ngram_jaccard",
    "Exact 3-gram Jaccard top-1 neighbor for probe docs",
    (s, dir) => {
      val docs = Sources.table(s, dir, "documents")
      // shingle each side ONCE (sorted distinct hashes); pairwise jaccard
      // is then an allocation-free sort-merge over longs
      val probes = docs.filter(col("doc_id") < 10)
        .select(col("doc_id"), TextExprs.sorted_shingles(col("text"), 3).as("psh"))
      val scored = docs
        // corpus side is CPU-bound — spread the RAW text over cores BEFORE
        // shingling (repartitioning after would shuffle the shingle arrays,
        // ~10× the text size)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id").as("neighbor_id"),
          TextExprs.sorted_shingles(col("text"), 3).as("csh"))
        .join(broadcast(probes), col("neighbor_id") =!= col("doc_id"))
        .select(col("doc_id"), col("neighbor_id"),
          TextExprs.array_jaccard(col("psh"), col("csh")).as("jac"))
      // top-1 via the bounded-heap aggregate (partial agg: one candidate
      // per probe per map task reaches the exchange)
      scored.groupBy(col("doc_id"))
        .agg(graft.functions.TopKAgg
          .topk_by_score(col("jac"), col("neighbor_id"), 1).as("top"))
        .select(col("doc_id"),
          col("top").getItem(0).getField("neighbor_id").as("neighbor_id"),
          round(col("top").getItem(0).getField("cos"), 3).as("jaccard"))
    },
    // Oracle-expressible because the shingles are WORD 3-grams of
    // space-split tokens: DuckDB rebuilds the same distinct-shingle sets
    // as strings (hashed-set vs string-set Jaccard agree modulo 64-bit
    // collisions, negligible at this corpus size), same <3-token
    // single-shingle edge case, same (jac DESC, neighbor_id) tiebreak as
    // TopKAgg.
    Some("""WITH d AS (SELECT doc_id,
           |   list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
           | sh AS (SELECT doc_id, list_distinct(CASE
           |   WHEN len(toks) = 0 THEN []
           |   WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
           |   ELSE [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
           |   END) AS s FROM d),
           | p AS (SELECT doc_id, s FROM sh WHERE doc_id < 10),
           | sc AS (SELECT p.doc_id, c.doc_id AS neighbor_id,
           |   CASE WHEN len(p.s) = 0 AND len(c.s) = 0 THEN 1.0
           |        WHEN len(p.s) = 0 OR len(c.s) = 0 THEN 0.0
           |        ELSE len(list_intersect(p.s, c.s)) * 1.0
           |          / (len(p.s) + len(c.s) - len(list_intersect(p.s, c.s)))
           |   END AS jac
           |   FROM p, sh c WHERE c.doc_id <> p.doc_id),
           | r AS (SELECT doc_id, neighbor_id, jac, row_number()
           |   OVER (PARTITION BY doc_id ORDER BY jac DESC, neighbor_id) AS rn FROM sc)
           | SELECT doc_id, neighbor_id, round(jac, 3) AS jaccard FROM r WHERE rn = 1"""
      .stripMargin.replace("\n", "")))

  /** Exact ALL-PAIRS similarity self-join ([[graft.ext.SimilarityJoin]]):
    * every document pair with 3-gram Jaccard >= 4/5, found via
    * prefix-filter candidate generation (AllPairs/PPJoin) — no
    * broadcast probe set, no LSH approximation. The oracle is the
    * brute-force shared-shingle join, so a green row certifies the
    * prefix filter dropped NO true pair (the lemma's exactness,
    * verified end-to-end, not just spec-pinned). Same word-3-gram
    * construction as q_x_ngram_jaccard (hashed vs string sets agree
    * modulo 64-bit collisions); threshold compare is a correctly-
    * rounded integer ratio in both engines. */
  val simJoinExact = Q(
    "q_x_sim_join_exact",
    "Exact all-pairs Jaccard>=0.8 self-join via prefix filtering",
    (s, dir) => SimilarityJoin.prefixJaccardSelfJoin(
      Sources.table(s, dir, "documents"), "doc_id", "text",
      tNum = 4, tDen = 5, shingleN = 3),
    Some("""WITH d AS (SELECT doc_id,
           |   list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
           | sh AS (SELECT doc_id, list_distinct(CASE
           |   WHEN len(toks) = 0 THEN []
           |   WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
           |   ELSE [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
           |   END) AS s FROM d),
           | e AS (SELECT doc_id, unnest(s) AS tok FROM sh WHERE len(s) > 0),
           | sz AS (SELECT doc_id, len(s) AS sz FROM sh WHERE len(s) > 0),
           | p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS o
           |   FROM e a JOIN e b ON a.tok = b.tok AND a.doc_id < b.doc_id
           |   GROUP BY 1, 2)
           | SELECT id_a, id_b,
           |   round(o * 1.0 / (sa.sz + sb.sz - o), 3) AS jaccard
           | FROM p JOIN sz sa ON sa.doc_id = id_a
           |   JOIN sz sb ON sb.doc_id = id_b
           | WHERE o * 1.0 / (sa.sz + sb.sz - o) >= 0.8"""
      .stripMargin.replace("\n", "")))

  /** Truncated EWMA per user ([[graft.ext.TimeSeries.ewma]]): smoothed
    * event value after the last 16 observations, alpha = 1/4, with
    * exact integer weights 3^j*4^(15-j) — layout- and engine-
    * independent by construction (the ExactMoney discipline applied to
    * exponential smoothing). */
  val ewmaQ = Q(
    "q_x_ewma",
    "Truncated EWMA (k=16, alpha=1/4) of value per user, exact weights",
    (s, dir) => TimeSeries.ewma(
      Sources.table(s, dir, "events"),
      "user_id", "ts", "event_id", "value", k = 16, aNum = 1, aDen = 4),
    Some("""WITH e AS (SELECT user_id,
           |   CAST(round(value * 100.0) AS BIGINT) AS vc,
           |   row_number() OVER (PARTITION BY user_id
           |     ORDER BY ts DESC, event_id DESC) AS rn FROM events)
           | SELECT user_id, CAST(count(*) AS BIGINT) AS n_used,
           |   round(CAST(sum(CAST(power(3, rn - 1) AS BIGINT)
           |       * CAST(power(4, 16 - rn) AS BIGINT) * vc) AS DOUBLE)
           |     / CAST(sum(CAST(power(3, rn - 1) AS BIGINT)
           |       * CAST(power(4, 16 - rn) AS BIGINT)) AS DOUBLE)
           |     / 100.0, 6) AS ewma
           | FROM e WHERE rn <= 16 GROUP BY user_id"""
      .stripMargin.replace("\n", "")))

  /** Benchmark decontamination, exact form (Decontaminate.exact): drop
    * every training doc sharing a word 8-gram with the "benchmark" probe
    * set (here: the 1-in-50 doc sample). The corpus never shuffles —
    * exploded grams meet the broadcast probe-gram set map-side; only the
    * small contaminated-id set moves. DuckDB rebuilds the identical gram
    * sets → hash-anchored. */
  val decontaminate = Q(
    "q_x_decontaminate",
    "Decontamination: drop docs sharing an 8-gram with the probe set",
    (s, dir) => {
      val docs = Sources.table(s, dir, "documents")
      graft.ext.Decontaminate.exact(
          docs, docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", n = 8)
        .select(col("doc_id"), col("source"))
    },
    Some("""WITH d AS (SELECT doc_id,
           |   list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
           | sh AS (SELECT doc_id, list_distinct(CASE
           |   WHEN len(toks) = 0 THEN []
           |   WHEN len(toks) <= 8 THEN [array_to_string(toks, ' ')]
           |   ELSE [array_to_string(toks[i:i+7], ' ') for i in range(1, len(toks) - 6)]
           |   END) AS s FROM d),
           | pg AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 50 = 0),
           | dg AS (SELECT doc_id, unnest(s) AS g FROM sh),
           | bad AS (SELECT DISTINCT doc_id FROM dg WHERE g IN (SELECT g FROM pg))
           | SELECT doc_id, source FROM documents
           | WHERE doc_id NOT IN (SELECT doc_id FROM bad)"""
      .stripMargin.replace("\n", "")))

  /** Bloom-filter decontamination (Decontaminate.bloom) — the zero-join,
    * zero-shuffle scale path: a sketch of probe gram hashes rides into a
    * codegen membership probe; the corpus is filtered map-only. False
    * positives over-remove at ~fpp (harmless); false negatives are
    * impossible, so the guarantee holds. Sketch-based → rows-only check;
    * DecontaminateSpec pins superset-of-exact + removal-rate bounds. */
  val decontaminateBloom = Q(
    "q_x_decontaminate_bloom",
    "Decontamination via Bloom sketch (map-only, no joins)",
    (s, dir) => {
      val docs = Sources.table(s, dir, "documents")
      graft.ext.Decontaminate.bloom(
          docs, docs.filter(col("doc_id") % 50 === 0), "doc_id", "text",
          n = 8, expectedGrams = 100000L)
        .select(col("doc_id"), col("source"))
    },
    None)

  /** SEMANTIC decontamination (exact form): corpus vectors within 0.9
    * cosine of any probe vector are dropped — the paraphrase-robust
    * companion to the n-gram decontamination above (reworded eval
    * contamination shares no n-gram but keeps its embedding). Probe side
    * broadcasts; corpus streams once; full DuckDB oracle via
    * list_cosine_similarity (the 0.9 boundary is engine-safe — the
    * synthetic near-dups sit far from it). */
  val decontaminateSemantic = Q(
    "q_x_decontaminate_semantic",
    "Semantic decontamination: drop corpus vecs near any probe embedding",
    (s, dir) => {
      val emb = Sources.table(s, dir, "embeddings")
      graft.ext.Decontaminate.semanticExact(
          emb.filter(col("vec_id") % 50 =!= 0),
          emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", threshold = 0.9)
        .select(col("vec_id"))
    },
    Some("""SELECT c.vec_id FROM embeddings c
           | WHERE c.vec_id % 50 <> 0 AND NOT EXISTS (
           |   SELECT 1 FROM embeddings p WHERE p.vec_id % 50 = 0
           |   AND list_cosine_similarity(c.embedding, p.embedding) >= 0.9)"""
      .stripMargin.replace("\n", "")))

  /** Levenshtein edit distance over a bounded probe cross — the classic
    * character-level near-dup measure (complements the token-level Jaccard
    * family). Both engines implement unit-cost insert/delete/substitute
    * over characters, identical for BMP text. Bounded on both axes
    * (20×20 probe pairs, first 100 chars): at 100 TB edit distance is a
    * VERIFY-stage measure over candidate pairs, never all-pairs — this
    * query is that verify shape. */
  val editDistance = Q(
    "q_x_edit_distance",
    "Levenshtein distance over bounded probe pairs (first 100 chars)",
    (s, dir) => {
      val docs = Sources.table(s, dir, "documents")
      val a = docs.filter(col("doc_id") < 20)
        .select(col("doc_id").as("a"), substring(col("text"), 1, 100).as("ta"))
      val b = docs.filter(col("doc_id") >= 20 && col("doc_id") < 40)
        .select(col("doc_id").as("b"), substring(col("text"), 1, 100).as("tb"))
      a.crossJoin(broadcast(b))
        .select(col("a"), col("b"),
          levenshtein(col("ta"), col("tb")).cast("long").as("edit_dist"))
    },
    Some("""SELECT a.doc_id AS a, b.doc_id AS b,
           | CAST(levenshtein(left(a.text, 100), left(b.text, 100)) AS BIGINT) AS edit_dist
           | FROM documents a, documents b
           | WHERE a.doc_id < 20 AND b.doc_id >= 20 AND b.doc_id < 40"""
      .stripMargin.replace("\n", "")))

  /** Embedding near-dup report via hyperplane LSH buckets. */
  val embNearDup = Q(
    "q_x_emb_near_dup",
    "Embedding-cosine near-dup report (LSH-bucketed)",
    (s, dir) => Dedup.embeddingNearDup(
      Sources.table(s, dir, "embeddings"), "vec_id", "embedding"),
    None)

  /** EXACT embedding near-dup over a bounded probe set — the hash-checked
    * anchor for the LSH variant above (which SimilaritySpec verifies
    * against brute force): per-vector count of cosine≥0.9 neighbors,
    * all-pairs within the probes. Count output (not floats) keeps the
    * cross-engine hash stable; the 0.9 boundary is engine-safe because the
    * synthetic near-dups sit far from it. */
  val embNearDupExact = Q(
    "q_x_emb_near_dup_exact",
    "Exact embedding-cosine near-dup counts (all-pairs over probe set)",
    (s, dir) => {
      val p = Sources.table(s, dir, "embeddings")
        .filter(col("vec_id") < 200)
        .select(col("vec_id"), col("embedding"))
      val a = p.select(col("vec_id").as("a"), col("embedding").as("va"))
      val b = p.select(col("vec_id").as("b"), col("embedding").as("vb"))
      val near = a.join(broadcast(b), col("a") < col("b"))
        .filter(TextExprs.cosine_sim(col("va"), col("vb")) >= 0.9)
        .select(col("a"), col("b"))
      val perVec = near.select(col("a").as("id"))
        .union(near.select(col("b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("n_near"))
      p.select(col("vec_id"))
        .join(perVec, p("vec_id") === perVec("id"), "left")
        .select(col("vec_id"),
          coalesce(col("n_near"), lit(0L)).as("n_near"))
    },
    Some("""WITH p AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
           | c AS (SELECT p1.vec_id AS a, p2.vec_id AS b FROM p p1, p p2
           |   WHERE p1.vec_id < p2.vec_id
           |   AND list_cosine_similarity(p1.embedding, p2.embedding) >= 0.9),
           | e AS (SELECT a AS id FROM c UNION ALL SELECT b AS id FROM c),
           | n AS (SELECT id, count(*) AS n_near FROM e GROUP BY id)
           | SELECT p.vec_id, CAST(coalesce(n.n_near, 0) AS BIGINT) AS n_near
           | FROM p LEFT JOIN n ON p.vec_id = n.id"""
      .stripMargin.replace("\n", "")))

  /** Per-source corpus signatures via the typed MinHashMerge Aggregator
    * (map-side partial: one k-long array per partition reaches the
    * exchange), then pairwise estimated Jaccard between sources. */
  val sourceSignature = Q(
    "q_x_source_signature",
    "Group-level minhash signatures (typed Aggregator) + source similarity",
    (s, dir) => {
      val mh = udaf(graft.functions.MinHashMerge)
      val sigs = Sources.table(s, dir, "documents")
        .select(col("source"), TextExprs.minhash_sig(col("text")).as("sig"))
        .groupBy(col("source")).agg(mh(col("sig")).as("sig"))
      val a = sigs.select(col("source").as("source_a"), col("sig").as("sig_a"))
      val b = sigs.select(col("source").as("source_b"), col("sig").as("sig_b"))
      a.join(b, col("source_a") < col("source_b"))
        .select(col("source_a"), col("source_b"),
          round(
            aggregate(
              zip_with(col("sig_a"), col("sig_b"),
                (x, y) => when(x === y, 1.0).otherwise(0.0)),
              lit(0.0), (acc, v) => acc + v) / size(col("sig_a")),
            3).as("est_jaccard"))
    },
    None)

  /** EXACT pairwise source overlap (TextAnalysis.sourceOverlap) — the
    * ground-truth companion of `q_x_source_signature`'s minhash estimate
    * (the role `q_x_emb_near_dup_exact` plays for the embedding LSH
    * path): distinct-trigram intersection / Jaccard / containment per
    * source pair, hash-checked value-exact against DuckDB rebuilding the
    * same gram sets from strings. The two are reconciled in spec within
    * the k=128 minhash standard error. Production corpora run the
    * `maxSources` ubiquitous-gram cap (class doc); the default here is
    * uncapped, which is exact — so the oracle can follow. */
  val sourceOverlapExact = Q(
    "q_x_source_overlap_exact",
    "Exact pairwise source trigram Jaccard/containment overlap matrix",
    (s, dir) => TextAnalysis.sourceOverlap(
      Sources.table(s, dir, "documents"), "source", "text"),
    Some("""WITH t AS (SELECT source,
           |   list_filter(string_split(text, ' '), x -> x <> '') AS toks
           |   FROM documents),
           | s AS (SELECT source, toks,
           |   unnest(generate_series(1, len(toks) - 2)) AS i FROM t),
           | g AS (SELECT DISTINCT source,
           |   array_to_string(toks[i:i+2], ' ') AS gram FROM s),
           | sz AS (SELECT source, count(*) AS n FROM g GROUP BY 1),
           | c AS (SELECT a.source AS source_a, b.source AS source_b,
           |     count(*) AS n_common
           |   FROM g a JOIN g b USING (gram)
           |   WHERE a.source < b.source GROUP BY 1, 2)
           | SELECT c.source_a, c.source_b, c.n_common,
           |   round(c.n_common::DOUBLE / (sa.n + sb.n - c.n_common), 3)
           |     AS jaccard,
           |   round(c.n_common::DOUBLE / sa.n, 3) AS containment_a
           | FROM c JOIN sz sa ON sa.source = c.source_a
           |   JOIN sz sb ON sb.source = c.source_b"""
      .stripMargin.replace("\n", "")))

  // -------------------------------------------------------- similarity --

  /** Brute-force cosine top-k: exact, oracle-checked against DuckDB's
    * list_cosine_similarity (int-only output — ranks, not floats, so the
    * hash is stable across engines' summation order). */
  val annBruteForce = Q(
    "q_x_ann_cosine_topk",
    "Exact cosine top-3 neighbors for probe vectors (brute force)",
    (s, dir) => Similarity.bruteForceTopK(
        Sources.table(s, dir, "embeddings"), (0L until 10L).toSeq, 3)
      .select(col("vec_id"), col("rank"), col("neighbor_id")),
    Some("""WITH p AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
           | s AS (SELECT p.vec_id, e.vec_id AS neighbor_id,
           |   list_cosine_similarity(p.embedding, e.embedding) AS cos
           |   FROM p, embeddings e WHERE e.vec_id <> p.vec_id),
           | r AS (SELECT vec_id, neighbor_id,
           |   row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rank FROM s)
           | SELECT vec_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM r WHERE rank <= 3"""
      .stripMargin.replace("\n", "")),
    headline = true)

  /** Hybrid retrieval fused with reciprocal-rank fusion
    * ([[graft.ext.Fusion.reciprocalRankFusion]]): the dense list (exact
    * cosine top-20 over embeddings) and the lexical list (distinct-token
    * overlap top-20 over documents — integer scores, exact everywhere)
    * fuse per probe with rrf_micros = Σ ⌊10⁶/(60+rank)⌋, an integer sum,
    * so the whole fused frame hash-checks cross-engine (both input
    * rankings are int-rank outputs of already-proven oracle idioms).
    * The id spaces align by construction (vec_id = doc_id). */
  val hybridRrf = Q(
    "q_x_hybrid_rrf",
    "Hybrid dense+lexical retrieval fused by reciprocal-rank fusion",
    (s, dir) => {
      val topEach = 20
      val dense = Similarity.bruteForceTopK(
          Sources.table(s, dir, "embeddings"), (0L until 10L).toSeq,
          topEach)
        .select(col("vec_id").as("query_id"),
          col("neighbor_id").as("item"), col("rank"))
      val docs = Sources.table(s, dir, "documents")
        .select(col("doc_id"),
          array_distinct(filter(split(col("text"), " ", -1),
            t => t =!= lit(""))).as("toks"))
      val probes = docs.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"), col("toks").as("ptoks"))
      val overlap = docs.join(broadcast(probes),
          col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id").as("item"),
          size(array_intersect(col("toks"), col("ptoks")))
            .cast("long").as("o"))
        .filter(col("o") > 0L)
      val lexical = overlap
        .groupBy(col("query_id"))
        .agg(graft.functions.TopKAgg.topk_by_score(
          col("o").cast("double"), col("item"), topEach).as("top"))
        .select(col("query_id"), posexplode(col("top")).as(Seq("r0", "s")))
        .select(col("query_id"), col("s.neighbor_id").as("item"),
          (col("r0") + 1).cast("long").as("rank"))
      graft.ext.Fusion.reciprocalRankFusion(
          dense.unionByName(lexical), "query_id", "item", "rank",
          kRrf = 60, topN = 10)
        .select(col("query_id"), col("fused_rank"),
          col("item").as("neighbor_id"), col("rrf_micros"),
          col("n_lists"))
    },
    Some("""WITH p AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
           | dcos AS (SELECT p.vec_id AS q, e.vec_id AS item,
           |   row_number() OVER (PARTITION BY p.vec_id
           |     ORDER BY list_cosine_similarity(p.embedding, e.embedding) DESC, e.vec_id) AS r
           |   FROM p, embeddings e WHERE e.vec_id <> p.vec_id),
           | d1 AS (SELECT q, item, r FROM dcos WHERE r <= 20),
           | t AS (SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS toks FROM documents),
           | pt AS (SELECT doc_id AS q, toks FROM t WHERE doc_id < 10),
           | ov AS (SELECT pt.q, t.doc_id AS item,
           |   len(list_intersect(pt.toks, t.toks)) AS o
           |   FROM pt, t WHERE t.doc_id <> pt.q),
           | lr AS (SELECT q, item,
           |   row_number() OVER (PARTITION BY q ORDER BY o DESC, item) AS r
           |   FROM ov WHERE o > 0),
           | l1 AS (SELECT q, item, r FROM lr WHERE r <= 20),
           | u AS (SELECT * FROM d1 UNION ALL SELECT * FROM l1),
           | sc AS (SELECT q, item,
           |   CAST(sum(1000000 // (60 + r)) AS BIGINT) AS rrf_micros,
           |   count(*) AS n_lists FROM u GROUP BY q, item),
           | f AS (SELECT q, item, rrf_micros, n_lists,
           |   row_number() OVER (PARTITION BY q ORDER BY rrf_micros DESC, item) AS fused_rank FROM sc)
           | SELECT q AS query_id, CAST(fused_rank AS BIGINT) AS fused_rank,
           |   item AS neighbor_id, rrf_micros, n_lists
           | FROM f WHERE fused_rank <= 10"""
      .stripMargin.replace("\n", "")))

  /** MMR diverse re-ranking ([[graft.ext.Mmr.mmrRerank]]): the greedy
    * λ·rel − (1−λ)·maxSimToSelected selection over the exact top-12
    * relevance pool, 4 picks per probe, λ=0.7 — all arithmetic exact
    * longs over deci-milli-quantized components, so the DuckDB side can
    * UNROLL the same 4 greedy steps as CTEs (the `q_x_pca_top` pattern)
    * and the full (rank, id, score) frame hash-checks cross-engine. */
  val mmrRerank = Q(
    "q_x_mmr_rerank",
    "MMR diverse re-ranking: greedy λ·rel − (1−λ)·maxSim top-4 per probe",
    (s, dir) => graft.ext.Mmr.mmrRerank(
      Sources.table(s, dir, "embeddings"), (0L until 10L).toSeq,
      topEach = 12, k = 4, lambdaMilli = 700),
    Some("""WITH qvt AS (SELECT vec_id,
           |   [CAST(round(CAST(x AS DOUBLE)*10000) AS BIGINT) for x in embedding] AS q
           |   FROM embeddings),
           | rel AS (SELECT p.vec_id AS query_id, c.vec_id AS cand_id,
           |   CAST(list_sum([p.q[i]*c.q[i] for i in range(1, len(p.q)+1)]) AS BIGINT) AS rel
           |   FROM qvt p, qvt c WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id),
           | cand AS (SELECT query_id, cand_id, rel FROM (SELECT *,
           |   row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, cand_id) AS rr
           |   FROM rel) WHERE rr <= 12),
           | sims AS (SELECT a.query_id, a.cand_id AS ca, b.cand_id AS cb,
           |   CAST(list_sum([x.q[i]*y.q[i] for i in range(1, len(x.q)+1)]) AS BIGINT) AS s
           |   FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
           |   JOIN qvt x ON x.vec_id = a.cand_id JOIN qvt y ON y.vec_id = b.cand_id),
           | s1 AS (SELECT query_id, -m[2] AS id, m[1] AS sc FROM (SELECT query_id,
           |   max([700*rel, -cand_id]) AS m FROM cand GROUP BY query_id)),
           | r2 AS (SELECT c.query_id, c.cand_id, 700*c.rel - 300*s.s AS sc
           |   FROM cand c JOIN s1 ON c.query_id = s1.query_id AND c.cand_id <> s1.id
           |   JOIN sims s ON s.query_id = c.query_id AND s.ca = c.cand_id AND s.cb = s1.id),
           | s2 AS (SELECT query_id, -m[2] AS id, m[1] AS sc FROM (SELECT query_id,
           |   max([sc, -cand_id]) AS m FROM r2 GROUP BY query_id)),
           | r3 AS (SELECT c.query_id, c.cand_id, 700*c.rel - 300*max(s.s) AS sc
           |   FROM cand c JOIN s1 ON c.query_id = s1.query_id
           |   JOIN s2 ON c.query_id = s2.query_id
           |   JOIN sims s ON s.query_id = c.query_id AND s.ca = c.cand_id
           |     AND s.cb IN (s1.id, s2.id)
           |   WHERE c.cand_id <> s1.id AND c.cand_id <> s2.id
           |   GROUP BY c.query_id, c.cand_id, c.rel),
           | s3 AS (SELECT query_id, -m[2] AS id, m[1] AS sc FROM (SELECT query_id,
           |   max([sc, -cand_id]) AS m FROM r3 GROUP BY query_id)),
           | r4 AS (SELECT c.query_id, c.cand_id, 700*c.rel - 300*max(s.s) AS sc
           |   FROM cand c JOIN s1 ON c.query_id = s1.query_id
           |   JOIN s2 ON c.query_id = s2.query_id
           |   JOIN s3 ON c.query_id = s3.query_id
           |   JOIN sims s ON s.query_id = c.query_id AND s.ca = c.cand_id
           |     AND s.cb IN (s1.id, s2.id, s3.id)
           |   WHERE c.cand_id <> s1.id AND c.cand_id <> s2.id AND c.cand_id <> s3.id
           |   GROUP BY c.query_id, c.cand_id, c.rel),
           | s4 AS (SELECT query_id, -m[2] AS id, m[1] AS sc FROM (SELECT query_id,
           |   max([sc, -cand_id]) AS m FROM r4 GROUP BY query_id))
           | SELECT query_id, CAST(1 AS BIGINT) AS mmr_rank, id AS cand_id,
           |   CAST(sc AS BIGINT) AS mmr_score FROM s1
           | UNION ALL SELECT query_id, CAST(2 AS BIGINT), id, CAST(sc AS BIGINT) FROM s2
           | UNION ALL SELECT query_id, CAST(3 AS BIGINT), id, CAST(sc AS BIGINT) FROM s3
           | UNION ALL SELECT query_id, CAST(4 AS BIGINT), id, CAST(sc AS BIGINT) FROM s4"""
      .stripMargin.replace("\n", "")))

  /** LSH-bucketed ANN — the scale path; approximate, so rows-only check
    * (recall vs brute force is asserted in SimilaritySpec). */
  val annLsh = Q(
    "q_x_ann_lsh",
    "Approximate cosine top-3 via hyperplane LSH + 1-bit multiprobe",
    (s, dir) => Similarity.lshTopK(
        Sources.table(s, dir, "embeddings"), (0L until 10L).toSeq, 3)
      .select(col("vec_id"), col("rank"), col("neighbor_id")),
    None)

  /** IVF ANN — coarse-quantizer cells trained on a sample, probes fan to
    * nProbe cells. Approximate → rows-only; recall pinned in spec. */
  val annIvf = Q(
    "q_x_ann_ivf",
    "Approximate cosine top-3 via IVF coarse quantizer (nProbe=4)",
    (s, dir) => {
      val emb = Sources.table(s, dir, "embeddings")
      val centroids = Similarity.trainCentroids(emb, k = 16, maxSample = 20000)
      Similarity.ivfTopK(emb, (0L until 10L).toSeq, 3, centroids)
        .select(col("vec_id"), col("rank"), col("neighbor_id"))
    },
    None)

  /** Product-quantization ANN ([[graft.ext.Similarity.pqTopK]]) — the
    * compressed-scan path: 16 sub-codebooks of 64 centroids shrink each
    * 64-dim float vector (256 B) to 16 codes (12 B); probes score via
    * asymmetric-distance lookup tables and only a 32-candidate shortlist
    * per probe fetches float vectors for exact refine.
    * Approximate → rows-only; recall + quality gap pinned by
    * q_x_ann_pq_anchor and SimilaritySpec. */
  val annPq = Q(
    "q_x_ann_pq",
    "Approximate cosine top-3 via PQ ADC scan + exact refine (m=16, k*=64)",
    (s, dir) => {
      val emb = Sources.table(s, dir, "embeddings")
      val codebook = Similarity.trainPqCodebook(emb, m = 16, kStar = 64,
        maxSample = 20000)
      Similarity.pqTopK(emb, (0L until 10L).toSeq, 3, codebook, rerank = 32)
        .select(col("vec_id"), col("rank"), col("neighbor_id"))
    },
    None)

  /** As-of join (AsofJoin.backward — co-partitioned streaming merge): each
    * click event picks up the latest purchase value at-or-before it for
    * the same user. Oracle = DuckDB's native ASOF LEFT JOIN; both sides
    * see identical microsecond timestamps (Spark truncates the nanos
    * parquet on read; the oracle date_truncs to match). Same-ts purchases
    * resolve in the merge: `tie = qv` picks the highest value, the
    * oracle's per-(user, ts) `max`. */
  val asofJoin = Q(
    "q_x_asof_join",
    "As-of join: latest purchase at-or-before each click, per user",
    (s, dir) => {
      val e = Sources.table(s, dir, "events")
      val probes = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val quotes = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("qv"))
      graft.ext.AsofJoin.backward(probes, quotes, "user_id", "ts", Seq("qv"),
        tie = Some("qv"))
        .select(col("event_id"), col("user_id"),
          round(col("qv"), 2).as("asof_value"))
    },
    Some("""WITH e AS (SELECT event_id, user_id,
           |   date_trunc('microseconds', ts) AS ts, event_type, value FROM events),
           | p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'click'),
           | q AS (SELECT user_id, ts, max(value) AS qv FROM e
           |   WHERE event_type = 'purchase' GROUP BY 1, 2)
           | SELECT p.event_id, p.user_id, round(q.qv, 2) AS asof_value
           | FROM p ASOF LEFT JOIN q ON p.user_id = q.user_id AND p.ts >= q.ts"""
      .stripMargin.replace("\n", "")))

  /** Forward as-of join (AsofJoin.forward): each click event picks up the
    * earliest purchase value at-or-after it for the same user. Same
    * inputs and truncation as `q_x_asof_join`; oracle = DuckDB's ASOF
    * LEFT JOIN with the inequality turned around (`p.ts <= q.ts`). */
  val asofNative = Q(
    "q_x_asof_native",
    "Forward as-of join: earliest purchase at-or-after each click",
    (s, dir) => {
      val e = Sources.table(s, dir, "events")
      val probes = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val quotes = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("qv"))
      graft.ext.AsofJoin.forward(probes, quotes, "user_id", "ts", Seq("qv"),
        tie = Some("qv"))
        .select(col("event_id"), col("user_id"),
          round(col("qv"), 2).as("asof_value"))
    },
    Some("""WITH e AS (SELECT event_id, user_id,
           |   date_trunc('microseconds', ts) AS ts, event_type, value FROM events),
           | p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'click'),
           | q AS (SELECT user_id, ts, max(value) AS qv FROM e
           |   WHERE event_type = 'purchase' GROUP BY 1, 2)
           | SELECT p.event_id, p.user_id, round(q.qv, 2) AS asof_value
           | FROM p ASOF LEFT JOIN q ON p.user_id = q.user_id AND p.ts <= q.ts"""
      .stripMargin.replace("\n", "")))

  /** Range join (RangeJoin.pointInInterval — binned equi-join shape, no
    * BroadcastNestedLoop): each click against the 10-minute windows opened
    * by the same user's purchases; per-click coverage report. Oracle =
    * DuckDB inequality join (fine at sf0.01; the binning exists precisely
    * because that shape is quadratic at scale). */
  val rangeJoin = Q(
    "q_x_range_join",
    "Range join: clicks inside 10-min post-purchase windows, per user",
    (s, dir) => {
      val e = Sources.table(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val windows = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("w_end"),
          col("value").as("qv"))
      val hits = graft.ext.RangeJoin.pointInInterval(
          clicks, windows, "ts", "w_start", "w_end",
          keys = Seq("user_id"), binSeconds = 600L)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_windows"), round(max(col("qv")), 2).as("max_qv"))
      clicks.join(hits, Seq("event_id"), "left")
        .select(col("event_id"),
          coalesce(col("n_windows"), lit(0L)).as("n_windows"), col("max_qv"))
    },
    Some("""WITH e AS (SELECT event_id, user_id,
           |   date_trunc('microseconds', ts) AS ts, event_type, value FROM events),
           | p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'click'),
           | w AS (SELECT user_id, ts AS w_start, ts + INTERVAL 10 MINUTE AS w_end,
           |   value AS qv FROM e WHERE event_type = 'purchase'),
           | m AS (SELECT p.event_id, count(*) AS n_windows, round(max(w.qv), 2) AS max_qv
           |   FROM p JOIN w ON p.user_id = w.user_id
           |     AND p.ts >= w.w_start AND p.ts < w.w_end
           |   GROUP BY 1)
           | SELECT p.event_id, CAST(coalesce(m.n_windows, 0) AS BIGINT) AS n_windows,
           |   m.max_qv
           | FROM p LEFT JOIN m ON p.event_id = m.event_id"""
      .stripMargin.replace("\n", "")))

  /** Time-grid resample + forward fill (Resample.forwardFill — grid
    * explode + the backward as-of merge): each user's purchase value sampled
    * on an hour-aligned grid across their observed span. Oracle = DuckDB
    * generate_series + ASOF LEFT JOIN, microsecond-truncated; hour-aligned
    * grid instants survive the nanos→micros read identically. Bounded
    * probe set (user_id < 50) keeps the oracle compare small. */
  val resampleFfill = Q(
    "q_x_resample_ffill",
    "Hourly resample + forward fill of purchase values per user",
    (s, dir) => {
      val e = Sources.table(s, dir, "events")
        .filter(col("event_type") === "purchase" && col("user_id") < 50)
        .select(col("user_id"), col("ts"), col("value").as("v"))
      graft.ext.Resample.forwardFill(e, "user_id", "ts", "v", 3600L)
        .select(col("user_id"), col("ts"), round(col("v"), 2).as("v"))
    },
    Some("""WITH e AS (SELECT user_id, date_trunc('microsecond', ts) AS ts, value AS v
           |   FROM events WHERE event_type = 'purchase' AND user_id < 50),
           | obs AS (SELECT user_id, ts, max(v) AS v FROM e GROUP BY 1, 2),
           | span AS (SELECT user_id, min(ts) AS t0, max(ts) AS t1 FROM e GROUP BY 1),
           | grid AS (SELECT user_id, unnest(generate_series(
           |     make_timestamp(epoch_us(t0) // 3600000000 * 3600000000),
           |     t1, INTERVAL 1 HOUR)) AS ts FROM span)
           | SELECT g.user_id, g.ts, round(o.v, 2) AS v
           | FROM grid g ASOF LEFT JOIN obs o
           |   ON g.user_id = o.user_id AND g.ts >= o.ts"""
      .stripMargin.replace("\n", "")))

  /** Deterministic train/val/test split (Sampling.deterministicSplit):
    * md5-hex bucketing — portable across engines (unlike xxhash64/rand),
    * so the oracle verifies the EXACT assignment DuckDB would compute. */
  val trainSplit = Q(
    "q_x_train_split",
    "Deterministic md5-bucket train/val/test assignment per document",
    (s, dir) => graft.ext.Sampling.deterministicSplit(
        Sources.table(s, dir, "documents"), "doc_id")
      .select(col("doc_id"), col("split")),
    Some("""SELECT doc_id, CASE
           | WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'e' THEN 'val'
           | WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f' THEN 'test'
           | ELSE 'train' END AS split FROM documents"""
      .stripMargin.replace("\n", "")))

  /** Leakage-safe split ([[graft.ext.Sampling.leakageSafeSplit]]): split
    * assignment at the exact-duplicate-cluster level — every copy of a
    * document inherits the md5 bucket of its cluster's canonical id, so no
    * duplicate ever straddles train/eval. Clusters here come from
    * [[graft.ext.Dedup.exact]] on the text (oracle-portable: GROUP BY
    * text); the same function takes minhash clusters for near-dup-safe
    * assignment (engine-specific clusters → covered by spec, not oracle).
    */
  val leakageSplit = Q(
    "q_x_leakage_split",
    "Leakage-safe split: md5 bucket of the dup-cluster canonical id",
    (s, dir) => graft.ext.Sampling.leakageSafeSplit(
        Dedup.exact(Sources.table(s, dir, "documents"), "doc_id", Seq("text")))
      .select(col("doc_id"), col("cluster_id"), col("split")),
    Some("""WITH cl AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS cluster_id
           |   FROM documents)
           | SELECT doc_id, cluster_id, CASE
           | WHEN substring(md5(CAST(cluster_id AS VARCHAR)), 1, 1) = 'e' THEN 'val'
           | WHEN substring(md5(CAST(cluster_id AS VARCHAR)), 1, 1) = 'f' THEN 'test'
           | ELSE 'train' END AS split FROM cl"""
      .stripMargin.replace("\n", "")))

  // ------------------------------------------------------------- text --

  /** Token counting: whitespace + BPE-ish regex tokens. */
  val textTokens = Q(
    "q_x_text_tokens",
    "Token counts per document (whitespace + regex tokenizers)",
    (s, dir) => Sources.table(s, dir, "documents")
      .select(Seq(col("doc_id")) ++ TextAnalysis.tokenCounts(col("text"))
        :+ col("n_chars"): _*),
    Some("""SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           | CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS n_re_tokens, n_chars
           | FROM documents""".stripMargin.replace("\n", "")))

  /** Length-bucketed batching plan — the padding-efficiency analysis a
    * training loader runs before fixing its bucketing policy: bucket docs
    * by whitespace token count (width 32), and per bucket report the
    * exact doc/token totals, the batch count at B=8, and the padding
    * upper bound `batches*B*max_tokens - sum_tokens` (counts phantom
    * slots in the ragged tail — the honest worst case a
    * pad-to-bucket-max loader pays). Pure one-pass hash aggregate: cells
    * are |buckets| (length-distribution-bounded, never corpus-bounded),
    * every statistic an exact integer. */
  val lengthBuckets = Q(
    "q_x_length_buckets",
    "Length-bucket batching plan: exact doc/token/batch/padding stats",
    (s, dir) => {
      val toks = size(split(col("text"), " ")).cast("long")
      Sources.table(s, dir, "documents")
        // integer `div`, not `/` — Spark's `/` on longs routes through
        // DOUBLE (exact only below 2^53); div is exact at any width.
        .select(toks.as("n_tok"))
        .select(expr("n_tok div 32").as("bucket"), col("n_tok"))
        .groupBy(col("bucket"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("sum_tokens"),
          max(col("n_tok")).as("max_tokens"),
          ceil(count(lit(1)) / 8.0).cast("long").as("n_batches"))
        .withColumn("padding_ub",
          col("n_batches") * 8L * col("max_tokens") - col("sum_tokens"))
    },
    // NOTE oracle typing: DuckDB promotes sum(BIGINT) to HUGEINT and the
    // driver's hash is type-sensitive — every aggregate (and arithmetic
    // over one) must carry an explicit CAST back to BIGINT. This row was
    // round 9's only red for exactly that omission.
    Some("""WITH d AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT)
           |     AS n_tok FROM documents)
           | SELECT n_tok // 32 AS bucket, count(*) AS n_docs,
           |   CAST(sum(n_tok) AS BIGINT) AS sum_tokens, max(n_tok) AS max_tokens,
           |   CAST(ceil(count(*) / 8.0) AS BIGINT) AS n_batches,
           |   CAST(CAST(ceil(count(*) / 8.0) AS BIGINT) * 8 * max(n_tok)
           |     - sum(n_tok) AS BIGINT) AS padding_ub
           | FROM d GROUP BY 1""".stripMargin.replace("\n", "")))

  /** Quality scoring (C4/Gopher-style heuristics, declarative). */
  val textQuality = Q(
    "q_x_text_quality",
    "Per-document quality metrics + composite score",
    (s, dir) => Sources.table(s, dir, "documents")
      .select(col("doc_id") +: TextAnalysis.qualityColumns(col("text")): _*),
    Some("""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
           | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           | round((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) * 1.0
           |   / greatest(length(text), 1), 4) AS punct_ratio,
           | round(len(list_filter(string_split(text, ' '), t -> t IN
           |   ('the','a','an','of','to','and','in','is','it','for','on','with','as','at','by','be'))) * 1.0
           |   / greatest(len(string_split(text, ' ')), 1), 4) AS stopword_ratio,
           | round(length(replace(text, ' ', '')) * 1.0
           |   / greatest(len(string_split(text, ' ')), 1), 4) AS mean_token_len,
           | CAST(floor(4000.0 * least(len(string_split(text, ' ')), 64) / 64.0) AS BIGINT)
           |   + CAST(floor(3000.0 * least(5 * len(list_filter(string_split(text, ' '), t -> t IN
           |     ('the','a','an','of','to','and','in','is','it','for','on','with','as','at','by','be'))),
           |     len(string_split(text, ' '))) / greatest(len(string_split(text, ' ')), 1)) AS BIGINT)
           |   + (CASE WHEN (length(replace(text, ' ', '')) * 1.0
           |     / greatest(len(string_split(text, ' ')), 1)) BETWEEN 3.0 AND 10.0
           |     THEN 3000 ELSE 0 END) AS quality_score_bp
           | FROM documents""".stripMargin.replace("\n", "")))

  /** Language ID — the stopword-profile argmax is pure arithmetic over
    * token counts, so it IS oracle-expressible: the DuckDB side mirrors the
    * per-language ratio (identical IEEE division order), the same
    * per-position 1e-9 tiebreak epsilon, and a CASE chain whose
    * first-listed-wins order equals Spark's greatest() over the
    * epsilon-adjusted structs. */
  val textLangId = Q(
    "q_x_lang_id",
    "Language-ID heuristic per document",
    (s, dir) => Sources.table(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.langIdColumn(col("text")).as("lang_pred")),
    Some("""WITH sc AS (SELECT doc_id,
           | len(list_filter(string_split(lower(text), ' '), t -> t IN
           |   ('the','of','and','to','in','is','that','it','for'))) * 1.0
           |   / greatest(len(string_split(lower(text), ' ')), 1) - 0 * 1e-9 AS s_en,
           | len(list_filter(string_split(lower(text), ' '), t -> t IN
           |   ('le','la','les','de','des','et','en','que','une'))) * 1.0
           |   / greatest(len(string_split(lower(text), ' ')), 1) - 1 * 1e-9 AS s_fr,
           | len(list_filter(string_split(lower(text), ' '), t -> t IN
           |   ('el','la','los','de','que','y','en','un','una'))) * 1.0
           |   / greatest(len(string_split(lower(text), ' ')), 1) - 2 * 1e-9 AS s_es,
           | len(list_filter(string_split(lower(text), ' '), t -> t IN
           |   ('der','die','das','und','in','den','von','zu','mit'))) * 1.0
           |   / greatest(len(string_split(lower(text), ' ')), 1) - 3 * 1e-9 AS s_de,
           | (len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) * 1.0
           |   / greatest(length(text), 1)) * 10.0 - 4 * 1e-9 AS s_zh
           | FROM documents)
           | SELECT doc_id, CASE
           | WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de AND s_en >= s_zh THEN 'en'
           | WHEN s_fr >= s_es AND s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
           | WHEN s_es >= s_de AND s_es >= s_zh THEN 'es'
           | WHEN s_de >= s_zh THEN 'de'
           | ELSE 'zh' END AS lang_pred FROM sc"""
      .stripMargin.replace("\n", "")))

  /** Language-ID AGREEMENT audit — the validation frame the verdict's
    * langid ask names: score the [[TextAnalysis.langIdColumn]] prediction
    * against the ingest-provided `lang` column, per actual language, so a
    * pipeline that DERIVES lang can quantify where the heuristic and the
    * upstream tag disagree (the filter-funnel idiom: an audit frame next
    * to the operator, not a silent trust). Integer counts + one exact
    * integer-division milli ratio — hash-stable cross-engine. */
  val textLangIdAgreement = Q(
    "q_x_langid_agreement",
    "Language-ID agreement vs the provided lang column, per language",
    (s, dir) => Sources.table(s, dir, "documents")
      .select(col("lang"),
        TextAnalysis.langIdColumn(col("text")).as("pred"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pred") === col("lang"), 1L).otherwise(0L))
          .as("n_agree"))
      .select(col("lang"), col("n_docs"), col("n_agree"),
        expr("n_agree * 1000 DIV n_docs").cast("long").as("agree_milli")),
    Some("""WITH sc AS (SELECT doc_id, lang,
           | len(list_filter(string_split(lower(text), ' '), t -> t IN
           |   ('the','of','and','to','in','is','that','it','for'))) * 1.0
           |   / greatest(len(string_split(lower(text), ' ')), 1) - 0 * 1e-9 AS s_en,
           | len(list_filter(string_split(lower(text), ' '), t -> t IN
           |   ('le','la','les','de','des','et','en','que','une'))) * 1.0
           |   / greatest(len(string_split(lower(text), ' ')), 1) - 1 * 1e-9 AS s_fr,
           | len(list_filter(string_split(lower(text), ' '), t -> t IN
           |   ('el','la','los','de','que','y','en','un','una'))) * 1.0
           |   / greatest(len(string_split(lower(text), ' ')), 1) - 2 * 1e-9 AS s_es,
           | len(list_filter(string_split(lower(text), ' '), t -> t IN
           |   ('der','die','das','und','in','den','von','zu','mit'))) * 1.0
           |   / greatest(len(string_split(lower(text), ' ')), 1) - 3 * 1e-9 AS s_de,
           | (len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) * 1.0
           |   / greatest(length(text), 1)) * 10.0 - 4 * 1e-9 AS s_zh
           | FROM documents),
           | p AS (SELECT lang, CASE
           | WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de AND s_en >= s_zh THEN 'en'
           | WHEN s_fr >= s_es AND s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
           | WHEN s_es >= s_de AND s_es >= s_zh THEN 'es'
           | WHEN s_de >= s_zh THEN 'de'
           | ELSE 'zh' END AS pred FROM sc)
           | SELECT lang, count(*) AS n_docs,
           |   CAST(sum(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
           |   CAST((sum(CASE WHEN pred = lang THEN 1 ELSE 0 END) * 1000)
           |     // count(*) AS BIGINT) AS agree_milli
           | FROM p GROUP BY lang"""
      .stripMargin.replace("\n", "")))

  /** fastText-style hashed linear quality scorer
    * ([[TextAnalysis.fastTextQualityScore]]): unigram+bigram features →
    * 256-bucket portable hash → exact integer margin. The weight table is
    * a deterministic fixture (see the Scaladoc); the gate certifies the
    * SERVING plumbing — gram explosion, bucket hash, margin aggregation —
    * feature-for-feature against DuckDB. */
  val qualityScore = Q(
    "q_x_quality_score",
    "fastText-style hashed-ngram linear scorer: exact integer margins",
    (s, dir) => TextAnalysis.fastTextQualityScore(
      Sources.table(s, dir, "documents"), "doc_id", "text"),
    Some("""WITH d AS (SELECT doc_id,
           |   list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
           | g AS (SELECT doc_id, unnest(toks) AS g FROM d
           |   UNION ALL
           |   SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1]
           |     for i in range(1, len(toks))]) AS g FROM d WHERE len(toks) >= 2),
           | w AS (SELECT doc_id,
           |   ((16 * (strpos('0123456789abcdef', substring(md5(g), 1, 1)) - 1)
           |     + (strpos('0123456789abcdef', substring(md5(g), 2, 1)) - 1)
           |     + 1) * 2654435761) % 1999 - 999 AS w FROM g)
           | SELECT doc_id, count(*) AS n_feat,
           |   CAST(sum(w) AS BIGINT) AS margin_milli,
           |   CAST(CASE WHEN sum(w) >= 0 THEN 1 ELSE 0 END AS BIGINT) AS label
           | FROM w GROUP BY doc_id"""
      .stripMargin.replace("\n", "")))

  /** Content fingerprint: md5 of normalized text (oracle-portable). */
  val textFingerprint = Q(
    "q_x_fingerprint",
    "Content fingerprint (md5 of ws-normalized lowercase text)",
    (s, dir) => Sources.table(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.contentFingerprint(col("text")).as("fp")),
    Some("""SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
           | FROM documents""".stripMargin.replace("\n", "")))

  /** Repetition quality signals (TextAnalysis.repetitionColumns):
    * non-unique word/2-gram/3-gram fractions — Gopher-style boilerplate
    * detection, pure arithmetic so DuckDB reproduces it exactly. */
  val repetition = Q(
    "q_x_repetition",
    "Repetition signals: non-unique word/2-gram/3-gram fractions",
    (s, dir) => Sources.table(s, dir, "documents")
      .select(col("doc_id") +: TextAnalysis.repetitionColumns(col("text")): _*),
    Some("""WITH d AS (SELECT doc_id,
           |   list_filter(string_split(text, ' '), t -> t <> '') AS t1 FROM documents),
           | g AS (SELECT doc_id, t1,
           |   CASE WHEN len(t1) < 2 THEN [] ELSE
           |     [t1[i] || ' ' || t1[i+1] for i in range(1, len(t1))] END AS t2,
           |   CASE WHEN len(t1) < 3 THEN [] ELSE
           |     [t1[i] || ' ' || t1[i+1] || ' ' || t1[i+2] for i in range(1, len(t1) - 1)] END AS t3
           |   FROM d)
           | SELECT doc_id,
           | CASE WHEN len(t1) = 0 THEN 0.0 ELSE
           |   round(1.0 - len(list_distinct(t1)) * 1.0 / len(t1), 4) END AS dup_word_frac,
           | CASE WHEN len(t2) = 0 THEN 0.0 ELSE
           |   round(1.0 - len(list_distinct(t2)) * 1.0 / len(t2), 4) END AS dup_2gram_frac,
           | CASE WHEN len(t3) = 0 THEN 0.0 ELSE
           |   round(1.0 - len(list_distinct(t3)) * 1.0 / len(t3), 4) END AS dup_3gram_frac
           | FROM g""".stripMargin.replace("\n", "")))

  /** Document chunking (TextAnalysis.chunk): 32-token windows, stride 16
    * (50% overlap). DuckDB mirrors the token filter, the 1-based list
    * slice, and the start arithmetic exactly. */
  val chunkDocs = Q(
    "q_x_chunk",
    "Chunk documents into overlapping 32-token windows (stride 16)",
    (s, dir) => TextAnalysis.chunk(
      Sources.table(s, dir, "documents"), "doc_id", "text", 32, 16),
    Some("""WITH d AS (SELECT doc_id,
           |   list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
           | e AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 16)) AS s FROM d)
           | SELECT doc_id, CAST((s - 1) // 16 AS BIGINT) AS chunk_idx,
           |   array_to_string(toks[s:s+31], ' ') AS chunk FROM e"""
      .stripMargin.replace("\n", "")))

  /** PII redaction (TextAnalysis.redactPii): emails/phones/IPv4s/SSNs →
    * placeholder tokens, map-only. The patterns are RE2-compatible by
    * construction, so the DuckDB oracle runs the IDENTICAL regex text;
    * counts are per-stage (see redactPii), mirrored with chained CTEs. */
  val piiRedact = Q(
    "q_x_pii_redact",
    "PII redaction: email/phone/IP/SSN scrub + replacement count",
    (s, dir) => Sources.table(s, dir, "documents")
      .select(col("doc_id") +: TextAnalysis.redactPii(col("text")): _*),
    Some("""WITH s1 AS (SELECT doc_id, text AS t0,
           |   regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
           |   FROM documents),
           | s2 AS (SELECT *, regexp_replace(t1, '\d{3}[-.]\d{3}[-.]\d{4}', '<PHONE>', 'g') AS t2 FROM s1),
           | s3 AS (SELECT *, regexp_replace(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t3 FROM s2),
           | s4 AS (SELECT *, regexp_replace(t3, '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g') AS t4 FROM s3)
           | SELECT doc_id, t4 AS redacted,
           | CAST(len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
           |   + len(regexp_extract_all(t1, '\d{3}[-.]\d{3}[-.]\d{4}'))
           |   + len(regexp_extract_all(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
           |   + len(regexp_extract_all(t3, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_pii
           | FROM s4""".stripMargin.replace("\n", "")))

  /** Text normalization — the cleanup pass that fronts every tokenizer:
    * control-strip, whitespace-collapse, trim, casefold (see
    * [[TextAnalysis.normalizeColumns]] for the portability-ordered
    * stages). Map-only chained regexp_replace — codegen'd, no UDF, no
    * shuffle; at 100 TB this is pure scan-bound throughput. */
  val textNormalize = Q(
    "q_x_normalize",
    "Text normalization: control-strip, whitespace-collapse, casefold",
    (s, dir) => Sources.table(s, dir, "documents")
      .select(col("doc_id") +: TextAnalysis.normalizeColumns(col("text")): _*),
    Some("""WITH n AS (SELECT doc_id, text,
           |  lower(trim(regexp_replace(regexp_replace(text, '[\x00-\x1F\x7F]', ' ', 'g'), '\s+', ' ', 'g'))) AS norm_text
           |  FROM documents)
           | SELECT doc_id, norm_text, CAST(length(norm_text) AS BIGINT) AS n_chars_norm,
           |  (norm_text <> text) AS changed FROM n"""
      .stripMargin.replace("\n", "")))

  /** Unigram-LM document scoring — the cheapest perplexity-style quality
    * signal: score each document by its tokens' log-probability under the
    * corpus's OWN unigram distribution (self-trained MLE; every scored
    * token has count ≥ 1 by construction, so no smoothing is needed).
    * Cross-engine determinism: each token's ln p floors to integer
    * milli-nats BEFORE aggregation, so the per-doc figure is an exact
    * long SUM — order-independent, unlike a float mean. Two passes over
    * the token stream (train, then score) are inherent to self-training;
    * the freq table is vocab-sized, so the score join stays broadcastable
    * at any corpus scale (AQE picks broadcast when it fits — no hint, so
    * a 10M-entry real-corpus vocab degrades to a shuffle join instead of
    * a driver OOM). */
  val unigramLogprob = Q(
    "q_x_unigram_logprob",
    "Unigram LM scoring: per-doc milli-nat logprob sum under corpus freqs",
    (s, dir) => {
      val toks = Sources.table(s, dir, "documents")
        .select(col("doc_id"),
          explode(filter(split(col("text"), " ", -1), t => t =!= lit("")))
            .as("token"))
      // total token count as a GLOBAL window over the vocab-sized freq
      // frame: one single-partition pass over |vocab| rows — NOT a third
      // tokenization of the corpus (freq.agg would re-derive the whole
      // explode+agg subtree as a separate branch)
      val freq = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
        .withColumn("t", sum(col("n")).over(
          org.apache.spark.sql.expressions.Window
            .rowsBetween(Long.MinValue, Long.MaxValue)))
      toks.join(freq, "token")
        .select(col("doc_id"),
          floor(log(col("n").cast("double") / col("t")) * 1000)
            .cast("long").as("milli"))
        .groupBy(col("doc_id"))
        .agg(sum(col("milli")).as("milli_nats"),
          count(lit(1)).as("n_toks"))
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token FROM documents),
           | freq AS (SELECT token, count(*) AS n FROM toks GROUP BY token),
           | tot AS (SELECT count(*) AS t FROM toks)
           | SELECT doc_id,
           |  CAST(sum(CAST(floor(ln(n::DOUBLE / t) * 1000) AS BIGINT)) AS BIGINT) AS milli_nats,
           |  count(*) AS n_toks
           | FROM toks JOIN freq USING (token) CROSS JOIN tot
           | GROUP BY doc_id""".stripMargin.replace("\n", "")))

  /** Fuzzy self-join ([[FuzzyJoin]]): blocked Levenshtein pairs over the
    * part-name domain — entity-resolution matching as a JOIN (the
    * existing q_x_edit_distance is probe-pair scoring). Distinct-first
    * (value domain, 64 names at sf0.01, stays |domain|-sized at any row
    * scale), first-token blocks bound the quadratic verify, and the
    * deterministic blocking is what lets DuckDB rebuild the identical
    * candidate set. The oracle replicates the maxBlock cap too — the
    * operator's drop semantics are PART of its contract, so Spark and
    * the oracle agree at any scale factor, not just while blocks stay
    * under the cap. */
  val fuzzyJoin = Q(
    "q_x_fuzzy_join",
    "Blocked Levenshtein fuzzy self-join over distinct part names",
    (s, dir) => FuzzyJoin.selfJoin(
        Sources.table(s, dir, "part"), "p_name", maxDist = 3,
        maxBlock = 1024)
      .orderBy(col("a"), col("b")),
    Some("""WITH v0 AS (SELECT DISTINCT p_name AS a,
           |   string_split(p_name, ' ')[1] AS block FROM part
           |   WHERE p_name IS NOT NULL),
           | v AS (SELECT a, block FROM v0
           |   QUALIFY count(*) OVER (PARTITION BY block) <= 1024)
           | SELECT v.a, w.a AS b, CAST(levenshtein(v.a, w.a) AS BIGINT) AS dist
           | FROM v JOIN v w USING (block)
           | WHERE v.a < w.a AND levenshtein(v.a, w.a) <= 3
           | ORDER BY v.a, w.a""".stripMargin.replace("\n", "")))

  /** BPE pair statistics — round 0 of tokenizer induction ([[Bpe]]): the
    * weighted adjacent-character-pair counts the first merge argmaxes
    * over. The corpus collapses to the distinct-word frequency table
    * FIRST (the classic BPE scale trick — merge rounds never rescan the
    * corpus), pairs explode map-side off vocab-sized input, and the
    * top-50 rides TakeOrderedAndProject. The iterative merge loop itself
    * is spec-pinned (BpeSpec hand-checks the merge order); this anchors
    * its round-0 statistics cross-engine. */
  val bpePairs = Q(
    "q_x_bpe_pairs",
    "BPE round-0: top-50 weighted adjacent char pairs over the vocab",
    (s, dir) => Bpe.pairCounts(
        Bpe.wordCounts(Sources.table(s, dir, "documents"), "text"))
      .orderBy(col("cnt").desc, col("a"), col("b"))
      .limit(50),
    Some("""WITH w AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
           |   FROM documents),
           | wc AS (SELECT word, count(*) AS n FROM w GROUP BY word),
           | p AS (SELECT substring(word, i, 1) AS a, substring(word, i + 1, 1) AS b, n
           |   FROM wc, UNNEST(generate_series(1, length(word) - 1)) AS u(i)
           |   WHERE length(word) >= 2)
           | SELECT a, b, CAST(sum(n) AS BIGINT) AS cnt FROM p GROUP BY a, b
           | ORDER BY cnt DESC, a, b LIMIT 50"""
      .stripMargin.replace("\n", "")))

  /** Corpus vocabulary — the canonical distributed word-count shape every
    * tokenizer-training / vocab-analysis pipeline runs: explode tokens,
    * partial-count map-side (the exploded token stream never reaches the
    * exchange unaggregated), top-k via TakeOrderedAndProject (no global
    * sort). Deterministic under ties by (n DESC, token ASC) total order. */
  val vocabTopK = Q(
    "q_x_vocab_topk",
    "Corpus vocabulary: top-50 tokens by frequency",
    (s, dir) => Sources.table(s, dir, "documents")
      .select(explode(split(col("text"), " ", -1)).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(50),
    Some("""WITH t AS (SELECT unnest(list_filter(string_split(text, ' '),
           |   x -> x <> '')) AS token FROM documents)
           | SELECT token, count(*) AS n FROM t GROUP BY token
           | ORDER BY n DESC, token LIMIT 50"""
      .stripMargin.replace("\n", "")))

  /** Incremental dedup under the driver gate: the corpus (doc_id % 5 != 0)
    * is indexed once; the "new batch" (doc_id % 5 == 0) matches against it
    * without re-sketching or re-clustering the corpus. LSH buckets are
    * engine-specific → rows-only; the held-out-cluster recall/novelty
    * semantics are spec-pinned (DedupSpec.incrementalMatch). */
  val dedupIncremental = Q(
    "q_x_dedup_incremental",
    "Incremental near-dup: new batch vs precomputed corpus band index",
    (s, dir) => {
      val docs = Sources.table(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val newDocs = docs.filter(col("doc_id") % 5 === 0)
      val index = Dedup.bandIndex(corpus, "doc_id", "text")
      Dedup.incrementalMatch(newDocs, corpus, index, "doc_id", "text",
        threshold = 0.7)
    },
    None)

  /** Count-min frequency sketch vs exact counts — the fixed-memory
    * frequency path for when the vocabulary itself doesn't fit (the
    * frequency analogue of the HLL/Bloom rows): ONE 64 KB sketch
    * aggregates map-side over the token stream (the exchange carries
    * |partitions| sketches, not tokens), comes back to the driver
    * (bounded, like the IVF centroids), and estimation is a map-only
    * codegen expression over the exact top-50 probes. Sketch estimates
    * are engine-specific → rows-only; the ε-bound and the
    * never-undercount invariant are spec-pinned (CountMinSpec). */
  val vocabCmSketch = Q(
    "q_x_vocab_cm_sketch",
    "Count-min sketch estimates vs exact counts for the top-50 tokens",
    (s, dir) => {
      import graft.functions.{CountMinAgg, TextExprs}
      val depth = 4; val width = 2048
      val toks = Sources.table(s, dir, "documents")
        .select(explode(split(col("text"), " ", -1)).as("token"))
        .filter(col("token") =!= "")
        .select(col("token"), xxhash64(col("token")).as("h"))
      val cm = org.apache.spark.sql.functions.udaf(
        new CountMinAgg(depth, width),
        org.apache.spark.sql.Encoders.scalaLong)
      val sketch = toks.select(cm(col("h")).as("sk"))
        .head().getAs[scala.collection.Seq[Long]]("sk").toArray
      toks.groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(50)
        .select(col("token"), col("n"),
          TextExprs.countmin_estimate(xxhash64(col("token")), sketch,
            depth, width).as("est_n"))
    },
    None)

  /** Count-min in its NO-COLLISION regime — the oracle-checkable
    * companion to `q_x_vocab_cm_sketch`: the sketch aggregates the 20
    * source keys (fixed strings at every SF) into a 4×2048 table. When no
    * two keys share a cell in ANY row — a deterministic property of the
    * 20 xxhash64 values, which this row's hash-green IS the proof of —
    * every row's counter holds exactly one key's count, so
    * est = min over rows = exact count, and the whole frame hash-equals a
    * plain GROUP BY. The colliding full-vocabulary regime (where est is a
    * function of every token's 64-bit hash — not re-derivable by an
    * engine without xxhash64) keeps its never-undercount/ε-bound
    * guarantees in q_x_vocab_cm_anchor + CountMinSpec. */
  val cmSketchExact = Q(
    "q_x_cm_sketch_exact",
    "Count-min estimates = exact counts in the no-collision source-key regime",
    (s, dir) => {
      import graft.functions.{CountMinAgg, TextExprs}
      val depth = 4; val width = 2048
      val srcs = Sources.table(s, dir, "documents")
        .select(col("source"), xxhash64(col("source")).as("h"))
      val cm = org.apache.spark.sql.functions.udaf(
        new CountMinAgg(depth, width),
        org.apache.spark.sql.Encoders.scalaLong)
      val sketch = srcs.select(cm(col("h")).as("sk"))
        .head().getAs[scala.collection.Seq[Long]]("sk").toArray
      srcs.groupBy(col("source"))
        .agg(count(lit(1)).as("n"))
        .select(col("source"), col("n"),
          TextExprs.countmin_estimate(xxhash64(col("source")), sketch,
            depth, width).as("est_n"))
    },
    Some("""SELECT source, count(*) AS n, count(*) AS est_n
           | FROM documents GROUP BY source"""
      .stripMargin.replace("\n", "")))

  /** Per-source corpus report — the "corpus dashboard" aggregate every
    * curation run logs: doc counts, token/char totals, language spread per
    * source. Exact integer sums (order-independent) keep it oracle-able. */
  val corpusReport = Q(
    "q_x_corpus_report",
    "Per-source corpus report: docs, tokens, chars, language spread",
    (s, dir) => Sources.table(s, dir, "documents")
      .select(col("source"), col("n_chars"),
        size(filter(split(col("text"), " ", -1), t => t =!= lit("")))
          .cast("long").as("n_toks"),
        col("lang"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        count_distinct(col("lang")).as("n_langs")),
    Some("""SELECT source, count(*) AS n_docs,
           | CAST(sum(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS total_tokens,
           | CAST(sum(n_chars) AS BIGINT) AS total_chars,
           | count(DISTINCT lang) AS n_langs
           | FROM documents GROUP BY source"""
      .stripMargin.replace("\n", "")))

  /** Bigram LM table ([[graft.ext.TextAnalysis.bigramLm]]): top-3
    * continuations per word with exact conditional counts — integer-exact
    * until the probability formatting, rank window partitions bounded by
    * vocab, never by corpus. */
  val bigramLmQ = Q(
    "q_x_bigram_lm",
    "Bigram LM table: top-3 next-word continuations, exact counts",
    (s, dir) => TextAnalysis.bigramLm(
      Sources.table(s, dir, "documents"), "text", 3),
    Some("""WITH t AS (SELECT list_filter(string_split(text, ' '),
           |     x -> x <> '') AS toks FROM documents),
           | b AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
           |   FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
           |   WHERE len(toks) >= 2),
           | g AS (SELECT w1, w2, count(*) AS n FROM b GROUP BY w1, w2),
           | r AS (SELECT w1, w2, n,
           |   CAST(sum(n) OVER (PARTITION BY w1) AS BIGINT) AS c1,
           |   CAST(row_number() OVER (PARTITION BY w1
           |     ORDER BY n DESC, w2) AS BIGINT) AS rank FROM g)
           | SELECT w1, rank, w2, n, round(n * 100000.0 / c1, 2) AS p_mbp
           | FROM r WHERE rank <= 3"""
      .stripMargin.replace("\n", "")))

  /** Interpolated Kneser-Ney bigram probabilities
    * ([[TextAnalysis.kneserNeyBigram]]): the smoothing step above the raw
    * bigram table, shipped as EXACT integer fractions (D = 3/4 cleared to
    * `pkn_num/pkn_den`) — no float division, so the whole LM table
    * hash-checks cross-engine. Gate keeps bigrams with count ≥ 2. */
  val kneserNeyQ = Q(
    "q_x_kneser_ney",
    "Kneser-Ney bigram LM: exact-fraction smoothed probabilities",
    (s, dir) => TextAnalysis.kneserNeyBigram(
      Sources.table(s, dir, "documents"), "text", minCount = 2L),
    Some("""WITH t AS (SELECT list_filter(string_split(text, ' '),
           |     x -> x <> '') AS toks FROM documents),
           | b AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
           |   FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
           |   WHERE len(toks) >= 2),
           | bc AS (SELECT w1, w2, count(*) AS n FROM b GROUP BY w1, w2),
           | c1 AS (SELECT w1, CAST(sum(n) AS BIGINT) AS c1,
           |   count(*) AS n1fwd FROM bc GROUP BY w1),
           | c2 AS (SELECT w2, count(*) AS n1rev FROM bc GROUP BY w2),
           | tot AS (SELECT count(*) AS bb FROM bc)
           | SELECT bc.w1, bc.w2, CAST(bc.n AS BIGINT) AS n,
           |   CAST(greatest(4*bc.n - 3, 0)*tot.bb + 3*c1.n1fwd*c2.n1rev AS BIGINT) AS pkn_num,
           |   CAST(4*c1.c1*tot.bb AS BIGINT) AS pkn_den
           | FROM bc JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN tot
           | WHERE bc.n >= 2"""
      .stripMargin.replace("\n", "")))

  /** KN document scoring ([[TextAnalysis.knDocLogprob]]): per-doc
    * milli-nat log-probability under the corpus's own Kneser-Ney bigram
    * LM — the CCNet-style perplexity quality filter consuming the
    * `q_x_kneser_ney` table. The oracle rebuilds the identical exact
    * fractions (served table pruned at minCount=2, statistics from the
    * unfiltered aggregate, c=0 backoff arm via the LEFT join's coalesce)
    * and applies the same floor(ln·1000) quantization per occurrence. */
  val knDocLogprobQ = Q(
    "q_x_kn_doc_logprob",
    "KN-LM doc scoring: per-doc milli-nat logprob under the smoothed LM",
    (s, dir) => TextAnalysis.knDocLogprob(
      Sources.table(s, dir, "documents"), "doc_id", "text", minCount = 2L),
    Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '),
           |     x -> x <> '') AS toks FROM documents),
           | b AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
           |   FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
           |   WHERE len(toks) >= 2),
           | bc AS (SELECT w1, w2, count(*) AS n FROM b GROUP BY w1, w2),
           | c1 AS (SELECT w1, CAST(sum(n) AS BIGINT) AS c1,
           |   count(*) AS n1fwd FROM bc GROUP BY w1),
           | c2 AS (SELECT w2, count(*) AS n1rev FROM bc GROUP BY w2),
           | tot AS (SELECT count(*) AS bb FROM bc),
           | srv AS (SELECT w1, w2, n FROM bc WHERE n >= 2)
           | SELECT b.doc_id,
           |   CAST(sum(CAST(floor(ln(
           |     CAST(greatest(4*coalesce(srv.n, 0) - 3, 0)*tot.bb
           |       + 3*c1.n1fwd*c2.n1rev AS DOUBLE)
           |     / CAST(4*c1.c1*tot.bb AS DOUBLE)) * 1000) AS BIGINT))
           |     AS BIGINT) AS milli_nats,
           |   count(*) AS n_bigrams
           | FROM b LEFT JOIN srv ON b.w1 = srv.w1 AND b.w2 = srv.w2
           |   JOIN c1 ON b.w1 = c1.w1 JOIN c2 ON b.w2 = c2.w2
           |   CROSS JOIN tot
           | GROUP BY b.doc_id"""
      .stripMargin.replace("\n", "")))

  /** Per-source KL drift ([[graft.ext.TextAnalysis.sourceDivergence]]):
    * the mixture-monitoring divergence of each source's unigram
    * distribution from the corpus blend, exact closed form over integer
    * counts, 2 dp milli-nats. One corpus-sized exchange; the rest runs on
    * the |sources|·|vocab| count table. */
  val sourceDivergenceQ = Q(
    "q_x_source_divergence",
    "Per-source unigram KL(P_source || P_corpus) drift report, milli-nats",
    (s, dir) => TextAnalysis.sourceDivergence(
      Sources.table(s, dir, "documents"), "source", "text"),
    Some("""WITH sw AS (SELECT source, w AS word, count(*) AS c_sw
           |   FROM (SELECT source, unnest(list_filter(string_split(text, ' '),
           |     x -> x <> '')) AS w FROM documents)
           |   GROUP BY source, word),
           | pw AS (SELECT word, sum(c_sw) AS c_w FROM sw GROUP BY word),
           | ps AS (SELECT source, sum(c_sw) AS n_s FROM sw GROUP BY source),
           | n AS (SELECT sum(c_sw) AS total FROM sw)
           | SELECT sw.source, CAST(any_value(ps.n_s) AS BIGINT) AS n_tokens,
           |   round(1000 * sum((c_sw / ps.n_s)
           |     * ln(c_sw * n.total / (ps.n_s * pw.c_w))), 2) AS kl_mnat
           | FROM sw JOIN pw USING (word) JOIN ps USING (source)
           | CROSS JOIN n GROUP BY sw.source"""
      .stripMargin.replace("\n", "")))

  /** JSON metadata extraction — training pipelines parse per-record JSON
    * props constantly; codegen'd get_json_object, no UDF. */
  val jsonProps = Q(
    "q_x_json_props",
    "JSON field extraction from events.props",
    (s, dir) => Sources.table(s, dir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k")),
    Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
           | FROM events""".stripMargin.replace("\n", "")))

  /** Winnowing fingerprints (rolling k-gram hashes, window minima). */
  val textWinnow = Q(
    "q_x_winnow",
    "Winnowing document fingerprints (rolling hash, window minima)",
    (s, dir) => Sources.table(s, dir, "documents")
      .select(col("doc_id") +: TextAnalysis.winnowSummary(col("text")): _*),
    None)

  // -------------------------------------------------------- multimodal --

  /** Multimodal plumbing: attach binary media + metadata, batch
    * feature-extract per partition. All three modalities decode for REAL
    * via JDK-native codecs (PNG/WAV/MJPEG-AVI — see Multimodal). */
  val multimodal = Q(
    "q_x_multimodal_features",
    "Binary media column + per-partition feature extraction (real JDK codecs)",
    (s, dir) => {
      val media = Multimodal.attachMedia(Sources.table(s, dir, "documents"))
      Multimodal.extractFeatures(media).toDF()
        .select(col("doc_id"), col("format"), col("n_bytes"),
          col("feat_dim").cast("long").as("feat_dim"))
    },
    None)

  /** Perceptual image hashing — the image-dedup key extraction stage:
    * real PNG decode → 8×8 area-averaged aHash + 9×8 gradient dHash per
    * image, plus the per-row hamming drift of a real 2× resize
    * round-trip (the scale-invariance that makes the hash a near-dup
    * key). Hashes depend on the JVM codec path → rows-only; the
    * invariance bound and dedup behavior are spec-pinned
    * (MultimodalSpec). */
  val imagePhash = Q(
    "q_x_image_phash",
    "Perceptual image hashes (aHash/dHash) + resize-invariance drift",
    (s, dir) => Multimodal.imageHashes(
        Multimodal.attachMedia(Sources.table(s, dir, "documents"))).toDF()
      .select(col("doc_id"), col("ahash"), col("dhash"),
        col("resized_hamming").cast("long").as("resized_hamming")),
    None)

  /** TF-IDF cosine top-1 via inverted-index postings join (ext.TfIdf):
    * sparse-vector similarity complementing the dense ANN family. DuckDB
    * rebuilds the identical postings (same tokenize, same ln(N/df)
    * weights, same L2 norm), so the top-1 hash-matches; ties break on
    * neighbor_id in both engines. maxDfFraction=1.0 here because the
    * synthetic corpus has a tiny vocabulary (every term is "common");
    * the prune knob's behavior is spec-pinned in TfIdfSpec instead. */
  val tfidfTop1 = Q(
    "q_x_tfidf_top1",
    "TF-IDF cosine top-1 neighbor per probe doc (inverted-index join)",
    (s, dir) => {
      val unit = TfIdf.postings(Sources.table(s, dir, "documents"),
        "doc_id", "text", maxDfFraction = 1.0)
      TfIdf.topSimilar(unit, (0L until 10L).toSeq)
    },
    Some("""WITH n AS (SELECT count(*)::DOUBLE AS n FROM documents),
           | tf AS (SELECT doc_id, tok AS term, count(*)::DOUBLE AS tf
           |   FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
           |   WHERE tok <> '' GROUP BY 1, 2),
           | dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           | w AS (SELECT tf.doc_id, tf.term, tf.tf * ln(n.n / dfreq.df) AS w
           |   FROM tf, dfreq, n WHERE tf.term = dfreq.term),
           | norm AS (SELECT doc_id, sqrt(sum(w*w)) AS nrm FROM w GROUP BY 1),
           | u AS (SELECT w.doc_id, w.term, w.w / norm.nrm AS u FROM w JOIN norm USING (doc_id)),
           | sims AS (SELECT a.doc_id AS probe_id, b.doc_id AS neighbor_id, sum(a.u*b.u) AS cosine
           |   FROM u a JOIN u b ON a.term = b.term AND a.doc_id <> b.doc_id
           |   WHERE a.doc_id < 10 GROUP BY 1, 2)
           | SELECT probe_id, neighbor_id, round(cosine, 2) AS cosine
           | FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
           |   ORDER BY round(cosine, 6) DESC, neighbor_id) AS rn FROM sims)
           | WHERE rn = 1"""
      .stripMargin.replace("\n", "")))

  /** Okapi BM25 top-1 retrieval (ext.TfIdf.bm25TopMatch): the ranking
    * the curation literature actually retrieves with — saturated tf (k1)
    * and length normalization (b) — next to the cosine's raw tf·idf.
    * DuckDB rebuilds the identical pipeline (same tokenize, Lucene idf,
    * same association order in the saturation formula) so the top-1
    * hash-matches; ties break on neighbor_id in both engines. Constants:
    * k1=1.2, b=0.75 → k1+1 = 2.2 and 1−b = 0.25 EXACTLY in binary64, so
    * the SQL literals are the same doubles the Scala side computes. */
  val bm25Top1 = Q(
    "q_x_bm25_top1",
    "BM25 top-1 corpus match per probe doc (inverted-index join)",
    (s, dir) => TfIdf.bm25TopMatch(Sources.table(s, dir, "documents"),
      "doc_id", "text", (0L until 10L).toSeq),
    Some("""WITH n AS (SELECT count(*)::DOUBLE AS n FROM documents),
           | tf AS (SELECT doc_id, tok AS term, count(*)::DOUBLE AS tf
           |   FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
           |   WHERE tok <> '' GROUP BY 1, 2),
           | dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           | dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
           | ad AS (SELECT avg(dl) AS avgdl FROM dl),
           | sat AS (SELECT tf.doc_id, tf.term,
           |     ln(1.0 + (n.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
           |       * tf.tf * 2.2
           |       / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / ad.avgdl)) AS s
           |   FROM tf, dfreq, dl, ad, n
           |   WHERE tf.term = dfreq.term AND tf.doc_id = dl.doc_id),
           | sc AS (SELECT p.doc_id AS probe_id, sat.doc_id AS neighbor_id,
           |     sum(p.tf * sat.s) AS score
           |   FROM tf p JOIN sat ON p.term = sat.term AND p.doc_id <> sat.doc_id
           |   WHERE p.doc_id < 10 GROUP BY 1, 2)
           | SELECT probe_id, neighbor_id, round(score, 2) AS score
           | FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
           |   ORDER BY round(score, 6) DESC, neighbor_id) AS rn FROM sc)
           | WHERE rn = 1"""
      .stripMargin.replace("\n", "")))

  /** The PLANTED rare-term corpus + probe set shared by both capped
    * retrieval gate rows: the synthetic vocabulary is universally common
    * (df ≈ N at every SF), so the production absolute `maxDf` cap over
    * the raw corpus would empty the postings rather than prune them —
    * [[AnchorQueries.plantedPairDocs]] appends two pair-unique tokens
    * (df = 2 exactly) per consecutive doc pair, giving the cap something
    * to keep. Probes are the even member of the first ten pairs. The
    * matching DuckDB CTE rebuilds the identical planted text. */
  private val cappedProbes = (0L until 10L).map(_ * 2)
  private val plantedDocsCte =
    """docs2 AS (SELECT doc_id,
      |   text || ' pr' || CAST(doc_id // 2 AS VARCHAR) || 'a pr'
      |        || CAST(doc_id // 2 AS VARCHAR) || 'b' AS text
      |   FROM documents)""".stripMargin.replace("\n", "")

  /** The production `maxDf`-capped TF-IDF configuration as a first-class
    * oracle-bearing gate row — the knob a 100 TB deployment actually runs
    * with (ext.TfIdf class doc; the 10× census measured the uncapped
    * join's shuffle at 36.7× vs 14.2× capped). maxDf = 20 drops every
    * common term (df ≈ N ≥ 50 at the smallest SF) and keeps exactly the
    * planted df=2 terms, so DuckDB reproduces the capped postings with
    * one HAVING clause (the fraction prune's floor, min(maxDf, N), is 20
    * here on both sides) and the top-1 hash-matches value-exact. The
    * 0-row anchor (`q_x_tfidf_capped_anchor`) keeps certifying the
    * cap-preserves-ranking INVARIANT; this row pins the capped VALUES. */
  val tfidfCappedTop1 = Q(
    "q_x_tfidf_capped_top1",
    "TF-IDF cosine top-1 under the production maxDf posting cap",
    (s, dir) => {
      val docs = AnchorQueries.plantedPairDocs(
        Sources.table(s, dir, "documents"))
      val unit = TfIdf.postings(docs, "doc_id", "text",
        maxDfFraction = 1.0, maxDf = 20)
      TfIdf.topSimilar(unit, cappedProbes)
    },
    Some(s"""WITH $plantedDocsCte,
           | n AS (SELECT count(*)::DOUBLE AS n FROM docs2),
           | tf AS (SELECT doc_id, tok AS term, count(*)::DOUBLE AS tf
           |   FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM docs2)
           |   WHERE tok <> '' GROUP BY 1, 2),
           | dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1
           |   HAVING count(*) <= 20),
           | w AS (SELECT tf.doc_id, tf.term, tf.tf * ln(n.n / dfreq.df) AS w
           |   FROM tf, dfreq, n WHERE tf.term = dfreq.term),
           | norm AS (SELECT doc_id, sqrt(sum(w*w)) AS nrm FROM w GROUP BY 1),
           | u AS (SELECT w.doc_id, w.term, w.w / norm.nrm AS u FROM w JOIN norm USING (doc_id)),
           | sims AS (SELECT a.doc_id AS probe_id, b.doc_id AS neighbor_id, sum(a.u*b.u) AS cosine
           |   FROM u a JOIN u b ON a.term = b.term AND a.doc_id <> b.doc_id
           |   WHERE a.doc_id < 20 AND a.doc_id % 2 = 0 GROUP BY 1, 2)
           | SELECT probe_id, neighbor_id, round(cosine, 2) AS cosine
           | FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
           |   ORDER BY round(cosine, 6) DESC, neighbor_id) AS rn FROM sims)
           | WHERE rn = 1"""
      .stripMargin.replace("\n", "")))

  /** BM25 retrieval under the same production `maxDf` cap — the capped
    * counterpart of `q_x_bm25_top1`, over the planted rare-term frame.
    * Unlike the cosine (where the capped score degenerates to 1.0), the
    * capped BM25 score still varies per pair through the length
    * normalization: `dl`/`avgdl` come from the FULL uncapped term stream
    * (document length is a property of the document, not of the pruned
    * index) on both engines, so the oracle checks the cap interacting
    * with saturation + length norm, not just the postings cut. */
  val bm25CappedTop1 = Q(
    "q_x_bm25_capped_top1",
    "BM25 top-1 under the production maxDf posting cap",
    (s, dir) => TfIdf.bm25TopMatch(
      AnchorQueries.plantedPairDocs(Sources.table(s, dir, "documents")),
      "doc_id", "text", cappedProbes,
      maxDfFraction = 1.0, maxDf = 20),
    Some(s"""WITH $plantedDocsCte,
           | n AS (SELECT count(*)::DOUBLE AS n FROM docs2),
           | tf AS (SELECT doc_id, tok AS term, count(*)::DOUBLE AS tf
           |   FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM docs2)
           |   WHERE tok <> '' GROUP BY 1, 2),
           | dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1
           |   HAVING count(*) <= 20),
           | dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
           | ad AS (SELECT avg(dl) AS avgdl FROM dl),
           | sat AS (SELECT tf.doc_id, tf.term,
           |     ln(1.0 + (n.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
           |       * tf.tf * 2.2
           |       / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / ad.avgdl)) AS s
           |   FROM tf, dfreq, dl, ad, n
           |   WHERE tf.term = dfreq.term AND tf.doc_id = dl.doc_id),
           | sc AS (SELECT p.doc_id AS probe_id, sat.doc_id AS neighbor_id,
           |     sum(p.tf * sat.s) AS score
           |   FROM tf p JOIN sat ON p.term = sat.term AND p.doc_id <> sat.doc_id
           |   WHERE p.doc_id < 20 AND p.doc_id % 2 = 0 GROUP BY 1, 2)
           | SELECT probe_id, neighbor_id, round(score, 2) AS score
           | FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
           |   ORDER BY round(score, 6) DESC, neighbor_id) AS rn FROM sc)
           | WHERE rn = 1"""
      .stripMargin.replace("\n", "")))

  /** Cross-doc duplicated 5-gram spans (TextAnalysis.dupSpans) — the
    * exact-substring dedup signal (Lee et al. 2022). DuckDB rebuilds the
    * same gram set via list slicing over unnested start positions. */
  val dupSpans = Q(
    "q_x_dup_spans",
    "Per-doc duplicated 5-gram span counts across the corpus",
    (s, dir) => TextAnalysis.dupSpans(
      Sources.table(s, dir, "documents"), "doc_id", "text", k = 5),
    Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
           | s AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i FROM t),
           | g AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS gram FROM s),
           | dup AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
           |   GROUP BY gram HAVING count(*) > 1)
           | SELECT g.doc_id, count(*) AS n_grams, count(d.gram) AS n_dup_grams,
           |   round(count(d.gram)::DOUBLE / count(*), 3) AS dup_ratio
           | FROM g LEFT JOIN dup d USING (gram) GROUP BY 1"""
      .stripMargin.replace("\n", "")))

  /** Segment-level dedup with reconstruction ([[graft.ext.Dedup
    * .segmentDedup]]): the CCNet/RefinedWeb "repeated line removal" pass —
    * keep-first by (doc, position) per distinct 12-token segment, rewrite
    * each doc from its surviving segments. Fully SQL-portable (exact
    * strings, row_number keep rule), so the rewritten TEXT itself is
    * hash-checked, not just the counts. */
  val segDedup = Q(
    "q_x_dedup_segments",
    "Segment dedup: keep-first 12-token segments, docs rewritten",
    (s, dir) => Dedup.segmentDedup(
      Sources.table(s, dir, "documents"), "doc_id", "text", segmentTokens = 12),
    Some("""WITH d AS (SELECT doc_id,
           |   list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents),
           | e AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 12)) AS s FROM d),
           | seg AS (SELECT doc_id, CAST((s - 1) // 12 AS BIGINT) AS seg_idx,
           |   array_to_string(toks[s:s+11], ' ') AS seg FROM e),
           | k AS (SELECT *, (row_number() OVER (PARTITION BY seg
           |   ORDER BY doc_id, seg_idx)) = 1 AS keep FROM seg)
           | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
           |   CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
           |   coalesce(string_agg(CASE WHEN keep THEN seg END, ' '
           |     ORDER BY seg_idx), '') AS text_dedup
           | FROM k GROUP BY doc_id""".stripMargin.replace("\n", "")))

  /** K-means over the embedding corpus: driver-trained centroids (bounded
    * sample, deterministic init — Similarity.trainCentroids, shared with
    * IVF), then a map-only codegen assignment and one hash-agg for the
    * cluster profile. Engine-specific centroid values → rows-only; the
    * clustering quality/determinism is spec-pinned (SimilaritySpec:
    * planted-cluster purity + layout-independent assignment). */
  /** Per-label embedding sufficient statistics ([[graft.ext.Similarity
    * .labelStats]]): exact integer (n, Σq, Σq²) per (label, dim) over the
    * micro-quantized components — the first hash-ORACLED aggregate over
    * the embeddings table (the ANN/k-means family is rows-only by
    * nature). DuckDB zips parallel unnests to mirror posexplode. */
  val labelStatsQ = Q(
    "q_x_label_stats",
    "Exact per-(label, dim) embedding moments (micro-quantized)",
    (s, dir) => Similarity.labelStats(
      Sources.table(s, dir, "embeddings"), "embedding", "label"),
    Some("""WITH e AS (SELECT CAST(label AS BIGINT) AS label,
           |   unnest(range(0, len(embedding))) AS dim,
           |   CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q
           | FROM embeddings)
           | SELECT label, CAST(dim AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
           |   CAST(sum(q) AS BIGINT) AS sum_micros,
           |   CAST(sum(q * q) AS BIGINT) AS sumsq_micros2
           | FROM e GROUP BY label, dim""".stripMargin.replace("\n", "")))

  /** Exact per-label embedding outlier census ([[graft.ext.Similarity
    * .labelOutliers]]): the vector-quality gate — integer-exact
    * (centi-quantized, denominator-cleared, HUGEINT/DECIMAL compare), so
    * the oracle is hash-exact despite being a variance-style statistic. */
  val embOutliers = Q(
    "q_x_emb_outliers",
    "Per-label outlier census: vectors past 4x the mean squared deviation",
    (s, dir) => Similarity.labelOutliers(
      Sources.table(s, dir, "embeddings"), "embedding", "label"),
    Some("""WITH q AS (SELECT CAST(label AS BIGINT) AS label, vec_id, i AS d,
           |     CAST(round(CAST(embedding[i] AS DOUBLE) * 100) AS BIGINT) AS qd
           |   FROM embeddings,
           |     UNNEST(generate_series(1, len(embedding))) AS t(i)),
           | m AS (SELECT label, d, count(*) AS n, sum(qd) AS s
           |   FROM q GROUP BY label, d),
           | dev AS (SELECT q.label, q.vec_id, any_value(m.n) AS n,
           |     sum((m.n * q.qd - m.s) * (m.n * q.qd - m.s)) AS dev2
           |   FROM q JOIN m USING (label, d) GROUP BY q.label, q.vec_id),
           | tot AS (SELECT label, CAST(any_value(n) AS BIGINT) AS n_vectors,
           |     sum(CAST(dev2 AS HUGEINT)) AS tt FROM dev GROUP BY label)
           | SELECT dev.label, tot.n_vectors,
           |   CAST(sum(CASE WHEN CAST(dev2 AS HUGEINT) * n_vectors
           |     > tt * 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
           | FROM dev JOIN tot USING (label)
           | GROUP BY dev.label, tot.n_vectors"""
      .stripMargin.replace("\n", "")))

  /** Top principal component via power iteration ([[graft.ext.Pca]]):
    * 4 fixed damp-free power steps on the mean-centered embeddings —
    * dim-sized driver vector, map-only dot products, one 64-key exchange
    * per step. The oracle unrolls the identical 4 iterations as DuckDB
    * CTEs; both sides emit ppm-rounded loadings. */
  val pcaTop = Q(
    "q_x_pca_top",
    "PCA top component: 4-step power iteration over centered embeddings",
    (s, dir) => graft.ext.Pca.topComponent(
      Sources.table(s, dir, "embeddings"), "embedding"),
    Some("""WITH x AS (SELECT vec_id, i AS d, CAST(embedding[i] AS DOUBLE) AS x
           |   FROM embeddings,
           |     UNNEST(generate_series(1, len(embedding))) AS t(i)),
           | mu AS (SELECT d, avg(x) AS m FROM x GROUP BY d),
           | xc AS (SELECT x.vec_id, x.d, x.x - mu.m AS x
           |   FROM x JOIN mu USING (d)),
           | s1 AS (SELECT vec_id, x AS s FROM xc WHERE d = 1),
           | w1 AS (SELECT xc.d, sum(xc.x * s1.s) AS w
           |   FROM xc JOIN s1 USING (vec_id) GROUP BY xc.d),
           | n1 AS (SELECT sqrt(sum(w * w)) AS nrm FROM w1),
           | v1 AS (SELECT d, w / n1.nrm AS v FROM w1 CROSS JOIN n1),
           | s2 AS (SELECT xc.vec_id, sum(xc.x * v1.v) AS s
           |   FROM xc JOIN v1 USING (d) GROUP BY xc.vec_id),
           | w2 AS (SELECT xc.d, sum(xc.x * s2.s) AS w
           |   FROM xc JOIN s2 USING (vec_id) GROUP BY xc.d),
           | n2 AS (SELECT sqrt(sum(w * w)) AS nrm FROM w2),
           | v2 AS (SELECT d, w / n2.nrm AS v FROM w2 CROSS JOIN n2),
           | s3 AS (SELECT xc.vec_id, sum(xc.x * v2.v) AS s
           |   FROM xc JOIN v2 USING (d) GROUP BY xc.vec_id),
           | w3 AS (SELECT xc.d, sum(xc.x * s3.s) AS w
           |   FROM xc JOIN s3 USING (vec_id) GROUP BY xc.d),
           | n3 AS (SELECT sqrt(sum(w * w)) AS nrm FROM w3),
           | v3 AS (SELECT d, w / n3.nrm AS v FROM w3 CROSS JOIN n3),
           | s4 AS (SELECT xc.vec_id, sum(xc.x * v3.v) AS s
           |   FROM xc JOIN v3 USING (d) GROUP BY xc.vec_id),
           | w4 AS (SELECT xc.d, sum(xc.x * s4.s) AS w
           |   FROM xc JOIN s4 USING (vec_id) GROUP BY xc.d),
           | n4 AS (SELECT sqrt(sum(w * w)) AS nrm FROM w4),
           | v4 AS (SELECT d, w / n4.nrm AS v FROM w4 CROSS JOIN n4)
           | SELECT CAST(d AS BIGINT) AS dim,
           |   round(v * 1000000, 2) AS loading_ppm FROM v4"""
      .stripMargin.replace("\n", "")))

  val kmeansSizes = Q(
    "q_x_kmeans_sizes",
    "K-means cluster profile: size and mean intra-cluster id per cell",
    (s, dir) => {
      val emb = Sources.table(s, dir, "embeddings")
      val centroids = Similarity.trainCentroids(emb, k = 8, maxSample = 20000)
      Similarity.assignCells(emb, centroids)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
    },
    None)

  /** Salted-hash pseudonymization — the privacy companion to PII
    * redaction: raw user ids leave the dataset, but the mapping is STABLE
    * (same user → same token), so joins/groupBys/retention analyses still
    * work on the anonymized output. sha256 over a versioned salt; rotating
    * the salt re-keys the corpus. Map-only hash + one count exchange; the
    * oracle runs the identical digest in DuckDB (both emit lowercase
    * hex), proving cross-engine mapping stability, not just row counts. */
  /** k-anonymity audit ([[graft.ext.Privacy.kAnonymityAudit]]): the
    * release gate — (event_type, day) classes shared by fewer than 60
    * users' events single people out and are reported for suppression.
    * One hash aggregate; integer-exact oracle. */
  val kAnonymity = Q(
    "q_x_k_anonymity",
    "k-anonymity audit: (event_type, day) classes with fewer than 60 rows",
    (s, dir) => Privacy.kAnonymityAudit(
      Sources.table(s, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("event_date")),
      Seq("event_type", "event_date"), 60L),
    Some("""SELECT event_type, CAST(ts AS DATE) AS event_date,
           | count(*) AS n FROM events GROUP BY 1, 2 HAVING count(*) < 60"""
      .stripMargin.replace("\n", "")))

  val pseudonymize = Q(
    "q_x_pseudonymize",
    "Stable salted-hash user pseudonymization + per-token event counts",
    (s, dir) => {
      val salt = "graft-pepper-v1"
      // Aggregate on the RAW 8-byte key and pseudonymize AFTER: sha2 is
      // 1:1 per user, so grouping by user_id is equivalent — but hashing
      // first would ship a 64-char hex string per event row through the
      // shuffle (the round-7 10x census measured that shape at 108x
      // shuffle growth: partial combine collapses once per-partition
      // rows < distinct users, leaving ~input rows of hex keys). This
      // shape shuffles compact longs and hashes |users|x|types| rows.
      Sources.table(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(sha2(concat_ws(":", lit(salt),
          col("user_id").cast("string")), 256).as("pseudo_uid"),
          col("event_type"), col("n_events"))
        .orderBy(col("n_events").desc, col("pseudo_uid"), col("event_type"))
        .limit(50)
    },
    Some("""SELECT lower(sha256('graft-pepper-v1' || ':' ||
           |   CAST(user_id AS VARCHAR))) AS pseudo_uid,
           |   event_type, count(*) AS n_events
           | FROM events
           | GROUP BY 1, 2
           | ORDER BY n_events DESC, pseudo_uid, event_type LIMIT 50"""
      .stripMargin.replace("\n", "")))

  /** CCNet-style per-language perplexity terciles
    * ([[TextAnalysis.perplexityBuckets]]): every doc scored by mean
    * per-token nll (integer milli-nats) under the corpus's own unigram LM,
    * bucketed head/middle/tail by per-language ORDER-STATISTIC cutoffs
    * (no percentile interpolation — cross-engine exact). The cutoff
    * computation runs on the (lang, score) histogram, not the corpus. */
  val pplBuckets = Q(
    "q_x_ppl_buckets",
    "CCNet perplexity terciles: per-lang head/middle/tail quality buckets",
    (s, dir) => TextAnalysis.perplexityBuckets(
      Sources.table(s, dir, "documents"), "doc_id", "text", "lang"),
    Some("""WITH toks AS (SELECT doc_id, lang, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token FROM documents),
           | freq AS (SELECT token, count(*) AS n FROM toks GROUP BY token),
           | tot AS (SELECT count(*) AS t FROM toks),
           | scored AS (SELECT doc_id, lang,
           |   CAST(-floor(sum(CAST(floor(ln(n::DOUBLE / t) * 1000) AS BIGINT))::DOUBLE / count(*)) AS BIGINT) AS nll_milli
           |   FROM toks JOIN freq USING (token) CROSS JOIN tot GROUP BY doc_id, lang),
           | hist AS (SELECT lang, nll_milli, count(*) AS c FROM scored GROUP BY 1, 2),
           | cum AS (SELECT lang, nll_milli,
           |   sum(c) OVER (PARTITION BY lang ORDER BY nll_milli ROWS UNBOUNDED PRECEDING) AS cum,
           |   sum(c) OVER (PARTITION BY lang) AS nl FROM hist),
           | cut AS (SELECT lang,
           |   min(CASE WHEN cum >= floor((nl + 2) / 3.0) THEN nll_milli END) AS c1,
           |   min(CASE WHEN cum >= floor((nl * 2 + 2) / 3.0) THEN nll_milli END) AS c2
           |   FROM cum GROUP BY lang)
           | SELECT s.doc_id, s.lang, s.nll_milli,
           |   CASE WHEN s.nll_milli <= c.c1 THEN 'head'
           |        WHEN s.nll_milli <= c.c2 THEN 'middle'
           |        ELSE 'tail' END AS bucket
           | FROM scored s JOIN cut c USING (lang)"""
      .stripMargin.replace("\n", "")))

  /** Vocabulary growth curve ([[TextAnalysis.vocabGrowth]]): distinct
    * trigrams first seen per md5 shard + running total — the Heaps-law
    * "is more crawl still buying coverage" audit. One gram-keyed
    * min(shard) exchange (map-side partials — no distinct
    * materializes), then a 16-row bounded cumulative window. The
    * oracle rebuilds the shard from the md5 hex digit and the grams as
    * STRINGS (the engine hashes them — same 64-bit-collision trade as
    * q_x_source_overlap_exact) — hash-green means shard assignment,
    * first-seen attribution, AND the cumulative all agree. */
  val vocabGrowth = Q(
    "q_x_vocab_growth",
    "Vocabulary growth per md5 shard: first-seen trigram counts + cumulative",
    (s, dir) => TextAnalysis.vocabGrowth(
      Sources.table(s, dir, "documents"), "doc_id", "text"),
    Some("""WITH t AS (SELECT
           |   CAST(strpos('0123456789abcdef',
           |     substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS BIGINT)
           |     AS shard,
           |   list_filter(string_split(text, ' '), x -> x <> '') AS toks
           |   FROM documents),
           | s AS (SELECT shard, toks,
           |   unnest(generate_series(1, len(toks) - 2)) AS i FROM t),
           | g AS (SELECT shard, array_to_string(toks[i:i+2], ' ') AS gram
           |   FROM s),
           | f AS (SELECT gram, min(shard) AS shard FROM g GROUP BY gram)
           | SELECT shard, count(*) AS n_new,
           |   CAST(sum(count(*)) OVER (ORDER BY shard
           |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
           | FROM f GROUP BY shard""".stripMargin.replace("\n", "")))

  /** Vocabulary coverage / OOV rate ([[TextAnalysis.vocabCoverage]]):
    * per-doc out-of-vocab ratio against the corpus's top-20 tokens.
    * Broadcast membership probe — the join side is |vocab| at any
    * corpus size. */
  val vocabCoverage = Q(
    "q_x_vocab_coverage",
    "Per-doc OOV rate against the corpus's top-20-token vocabulary",
    (s, dir) => TextAnalysis.vocabCoverage(
      Sources.table(s, dir, "documents"), "doc_id", "text", topN = 20),
    Some("""WITH toks AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token FROM documents),
           | vocab AS (SELECT token FROM (SELECT token, count(*) AS n FROM toks
           |   GROUP BY token ORDER BY n DESC, token LIMIT 20)),
           | j AS (SELECT t.doc_id,
           |   CASE WHEN v.token IS NULL THEN 0 ELSE 1 END AS iv
           |   FROM toks t LEFT JOIN vocab v USING (token))
           | SELECT doc_id, count(*) AS n_toks,
           |   CAST(count(*) - sum(iv) AS BIGINT) AS n_oov,
           |   round((count(*) - sum(iv))::DOUBLE / count(*), 4) AS oov_ratio
           | FROM j GROUP BY doc_id""".stripMargin.replace("\n", "")))

  /** SpaceSaving heavy hitters ([[graft.functions.SpaceSavingAgg]]) — the
    * "WHICH items are frequent?" companion to the count-min row: ONE
    * capacity-16 summary (48 longs) aggregates map-side, returns to the
    * driver (bounded, like the count-min sketch and IVF centroids), and
    * the tracked hashes join back to values via a broadcast dim. This row
    * pins the UNDER-capacity regime — 5 distinct langs against capacity
    * 16, where SpaceSaving is EXACT by construction (est = true count,
    * err 0, merge-order-independent), so the decoded summary hash-equals
    * DuckDB's plain GROUP BY — the same regime argument as
    * `q_s_stream_heavy`, applied to the batch aggregate. The
    * OVER-capacity token-stream regime (where est/err are merge-order-
    * dependent) keeps its guarantees driver-checked by
    * q_x_heavy_hitters_anchor and spec-pinned (SpaceSavingSpec). */
  val heavyHitters = Q(
    "q_x_heavy_hitters",
    "SpaceSaving summary under capacity = exact per-lang counts (est=n, err=0)",
    (s, dir) => {
      import graft.functions.SpaceSavingAgg
      val cap = 16
      val langs = Sources.table(s, dir, "documents")
        .select(col("lang"), xxhash64(col("lang")).as("h"))
      val ss = org.apache.spark.sql.functions.udaf(
        new SpaceSavingAgg(cap), org.apache.spark.sql.Encoders.scalaLong)
      val sketch = langs.select(ss(col("h")).as("sk"))
        .head().getAs[scala.collection.Seq[Long]]("sk").toArray
      import s.implicits._
      val tracked = SpaceSavingAgg.entries(sketch)
        .toDF("h", "est_n", "err_n")
      langs.groupBy(col("lang"), col("h")).agg(count(lit(1)).as("n"))
        .join(broadcast(tracked), "h")
        .select(col("lang"), col("n"), col("est_n"), col("err_n"))
    },
    Some("""SELECT lang, count(*) AS n, count(*) AS est_n,
           | CAST(0 AS BIGINT) AS err_n FROM documents GROUP BY lang"""
      .stripMargin.replace("\n", "")))

  /** Corpus profiling report ([[graft.ext.Profile.profile]]): the
    * Deequ-style per-column scorecard (completeness, distinctness,
    * range, length moments) a training-data ingest publishes before
    * admission — long-format (col_name, metric, value), every value an
    * exact count or a single exact-ratio division. One shared moments
    * scan for all columns + one pruned distinct aggregate per column,
    * each reduced map-side to a 1-row frame. */
  val profileQ = Q(
    "q_x_profile",
    "Deequ-style per-column profile of the documents corpus",
    (s, dir) => graft.ext.Profile.profile(
      Sources.table(s, dir, "documents"),
      numericCols = Seq("doc_id", "n_chars"),
      stringCols = Seq("text", "lang", "source")),
    Some {
      def statsFor(c: String, isStr: Boolean): String = {
        val v = if (isStr) s"length($c)" else c
        val (mnN, mxN, avgN) =
          if (isStr) ("min_len", "max_len", "avg_len")
          else ("min", "max", "mean")
        s"""SELECT '$c' AS col_name, 'count' AS metric,
           | CAST(count($c) AS DOUBLE) AS value FROM documents
           | UNION ALL SELECT '$c', 'nulls',
           | CAST(count(*) - count($c) AS DOUBLE) FROM documents
           | UNION ALL SELECT '$c', 'completeness',
           | round(CAST(count($c) AS DOUBLE) / count(*), 6) FROM documents
           | UNION ALL SELECT '$c', 'distinct',
           | CAST(count(DISTINCT $c) AS DOUBLE) FROM documents
           | UNION ALL SELECT '$c', '$mnN', CAST(min($v) AS DOUBLE)
           | FROM documents
           | UNION ALL SELECT '$c', '$mxN', CAST(max($v) AS DOUBLE)
           | FROM documents
           | UNION ALL SELECT '$c', '$avgN',
           | round(CAST(sum(CAST($v AS DECIMAL(38,6))) AS DOUBLE)
           |   / count($c), 6) FROM documents"""
          .stripMargin.replace("\n", "")
      }
      (Seq("doc_id", "n_chars").map(statsFor(_, isStr = false)) ++
        Seq("text", "lang", "source").map(statsFor(_, isStr = true)))
        .mkString(" UNION ALL ")
    })

  /** Content-defined chunking dedup accounting ([[graft.ext.Cdc]]): gear
    * rolling-hash boundaries over each document's UTF-8 bytes, then
    * per-source logical-vs-unique byte accounting. Chunk boundaries are a
    * pure function of the payload bytes (map-only, zero shuffle); the
    * stats stage shuffles 16-byte (hash, len) pairs, never text. Boundary
    * positions are engine-specific (the gear table), so the row is
    * rows-only; the q_x_cdc_anchor invariants and the committed
    * q_x_cdc_golden fingerprint pin correctness and determinism. */
  val cdcDedup = Q(
    "q_x_cdc_dedup",
    "CDC (FastCDC-style) chunk dedup accounting per language",
    (s, dir) => {
      val docs = Sources.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          encode(col("text"), "UTF-8").as("bytes"))
      // 64-byte average chunks: documents average ~300 bytes, so the
      // storage-style 256B/1KiB defaults would leave one chunk per doc and
      // the accounting blind to shared byte ranges. Real blob corpora use
      // the defaults. Grouped by lang (not source): the corpus's
      // duplicated ranges CROSS sources, and lang keeps them together
      // (measured dedup_ratio up to 1.02 per lang at sf0.01). lang rides
      // THROUGH the map-only chunking (chunkTableKeyed) — the former
      // chunk-then-join-lang-on-doc_id form shipped every chunk row
      // through a doc_id exchange, the 100× census's one flag.
      val chunks = Cdc.chunkTableKeyed(docs, "doc_id", "bytes", "lang",
        minSize = 16, avgBits = 6, maxSize = 256)
      Cdc.dedupStats(chunks.toDF(), col("grp"), "lang")
    },
    None)

  val all: Seq[Q] = Seq(
    substringDedup, urlCanonical,
    profileQ,
    dedupExact, dedupMinhash, dedupKeepBest, dedupSimhash,
    dedupSimhashAnchor, dedupVerify,
    dedupIncremental,
    ngramJaccardTop1, simJoinExact, ewmaQ,
    editDistance, decontaminate, decontaminateBloom, decontaminateSemantic,
    resampleFfill, embNearDup,
    embNearDupExact, sourceSignature, sourceOverlapExact, annBruteForce,
    annLsh, annIvf, annPq, hybridRrf, mmrRerank, asofJoin,
    asofNative, rangeJoin, trainSplit, leakageSplit,
    textTokens, lengthBuckets, textQuality, textLangId, textLangIdAgreement,
    qualityScore, textFingerprint, textWinnow,
    textNormalize, unigramLogprob, bpePairs, fuzzyJoin,
    chunkDocs, repetition, piiRedact, vocabTopK, vocabCmSketch,
    cmSketchExact,
    corpusReport, sourceDivergenceQ, bigramLmQ, kneserNeyQ, knDocLogprobQ,
    jsonProps,
    multimodal, imagePhash, tfidfTop1, bm25Top1,
    tfidfCappedTop1, bm25CappedTop1, dupSpans, segDedup, labelStatsQ,
    embOutliers, pcaTop, kmeansSizes,
    pseudonymize, kAnonymity, pplBuckets, vocabCoverage, vocabGrowth,
    heavyHitters, cdcDedup)
}
