package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class TextAnalysisSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def redact(s: String): (String, Long) = {
    val spark0 = spark
    import spark0.implicits._
    val r = Seq(s).toDF("text")
      .select(TextAnalysis.redactPii(col("text")): _*)
      .collect().head
    (r.getString(0), r.getLong(1))
  }

  test("redactPii: each PII class replaced with its placeholder") {
    assert(redact("mail me at jo.doe+x@example.co.uk today") ==
      (("mail me at <EMAIL> today", 1L)))
    assert(redact("call 555-867-5309 or 555.867.5309") ==
      (("call <PHONE> or <PHONE>", 2L)))
    assert(redact("server at 192.168.0.1 down") ==
      (("server at <IP> down", 1L)))
    assert(redact("ssn 078-05-1120 leaked") ==
      (("ssn <SSN> leaked", 1L)))
    assert(redact("no pii here, just 12345 and v1.2") ==
      (("no pii here, just 12345 and v1.2", 0L)))
  }

  test("redactPii: sequential counting — an email's host isn't re-counted as an IP") {
    // the dotted local/host part would IP-match if counted on raw text
    val (out, n) = redact("from 10.0.0.7@9.9.9.9.example.com sent via 10.0.0.8")
    assert(out == "from <EMAIL> sent via <IP>")
    assert(n == 2L)
  }

  test("redactPii: mixed document counts every replacement") {
    val (out, n) = redact(
      "a@b.io wrote: ping 8.8.8.8, fax 123-456-7890, ssn 111-22-3333")
    assert(out == "<EMAIL> wrote: ping <IP>, fax <PHONE>, ssn <SSN>")
    assert(n == 4L)
  }

  test("chunk: overlap, tail chunk, stride accounting, empty doc") {
    val spark0 = spark
    import spark0.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "solo"),
      (3L, "")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunk(docs, "doc_id", "text",
        windowTokens = 4, strideTokens = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val d1 = out.filter(_._1 == 1L).sortBy(_._2).map(_._3)
    // starts 0,2,4,6,8 → 5 chunks; last is the 2-token tail
    assert(d1.toSeq == Seq(
      "w1 w2 w3 w4", "w3 w4 w5 w6", "w5 w6 w7 w8", "w7 w8 w9 w10", "w9 w10"))
    assert(out.filter(_._1 == 2L).map(_._3).toSeq == Seq("solo"))
    assert(!out.exists(_._1 == 3L)) // empty doc → zero chunks
  }

  test("repetition: boilerplate scores high, varied prose low, edge cases zero") {
    val spark0 = spark
    import spark0.implicits._
    def reps(s: String): (Double, Double, Double) = {
      val r = Seq(s).toDF("text")
        .select(TextAnalysis.repetitionColumns(col("text")): _*)
        .collect().head
      (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    }
    val (w1, b1, t1) = reps("buy now buy now buy now buy now")
    assert(w1 > 0.7)  // 2 distinct words / 8
    assert(b1 > 0.5)  // "buy now"/"now buy" repeat
    assert(t1 > 0.5)
    val (w2, b2, t2) = reps("the quick brown fox jumps over a lazy dog")
    assert(w2 == 0.0 && b2 == 0.0 && t2 == 0.0)
    assert(reps("") == ((0.0, 0.0, 0.0)))
    assert(reps("one two") == ((0.0, 0.0, 0.0))) // too short for 3-grams
  }

  test("normalizeColumns: control-strip, collapse, trim, casefold, changed flag") {
    val spark0 = spark
    import spark0.implicits._
    val rows = Seq(
      "  Hello\tWorld\u0001!  ",   // tab + control char + padding + case
      "already normal",             // untouched → changed = false
      "A  B\n\nC",                  // internal runs collapse
      ""                            // empty stays empty
    ).toDF("text")
      .select(TextAnalysis.normalizeColumns(col("text")): _*)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(rows(0) == (("hello world !", 13L, true)))
    assert(rows(1) == (("already normal", 14L, false)))
    assert(rows(2) == (("a b c", 5L, true)))
    assert(rows(3) == (("", 0L, false)))
  }

  test("langId boundary: stopword-free text falls back to first profile") {
    val spark0 = spark
    import spark0.implicits._
    val out = Seq("zzz qqq xxx").toDF("text")
      .select(TextAnalysis.langIdColumn(col("text")).as("lang"))
      .collect().head.getString(0)
    assert(out == "en") // deterministic tiebreak: first-listed profile wins
  }

  test("langId adversarial: empty, single-stopword, mixed, overlapping " +
       "profiles, CJK — all deterministic") {
    val spark0 = spark
    import spark0.implicits._
    val docs = Seq(
      (1L, ""),                        // no evidence at all -> first profile
      (2L, "le"),                      // one French stopword beats silence
      (3L, "der die das und von"),     // clean German
      // mixed en/de, 'in' counts for BOTH profiles: en 4/9 vs de 6/9
      (4L, "the der die of und in das to den"),
      (5L, "中文文本"),// pure CJK, no space tokens
      (6L, "el la los de que"),        // es 5/5 beats fr 3/5 (la/de/que shared)
      (7L, "de la"))                   // EXACT fr/es tie -> position epsilon
      .toDF("doc_id", "text")
    val got = docs
      .select(col("doc_id"), TextAnalysis.langIdColumn(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "fr", 3L -> "de", 4L -> "de",
      5L -> "zh", 6L -> "es", 7L -> "fr"))
  }

  test("fastTextQualityScore: margin is the exact hand-computed feature " +
       "sum; empty docs drop; label = sign") {
    val spark0 = spark
    import spark0.implicits._
    def w(gram: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(gram.getBytes("UTF-8")).map("%02x".format(_)).mkString
      def d(i: Int) = java.lang.Long.parseLong(hex.substring(i, i + 1), 16)
      (16L * d(0) + d(1) + 1L) * 2654435761L % 1999L - 999L
    }
    val docs = Seq((1L, "a b a"), (2L, "solo"), (3L, ""))
      .toDF("doc_id", "text")
    val got = TextAnalysis.fastTextQualityScore(docs, "doc_id", "text")
      .collect().map(r =>
        r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // doc 1: unigrams a, b, a + bigrams "a b", "b a" = 5 features
    val m1 = w("a") * 2 + w("b") + w("a b") + w("b a")
    assert(got(1L) == ((5L, m1, if (m1 >= 0) 1L else 0L)))
    // doc 2: one unigram, no bigrams
    assert(got(2L) == ((1L, w("solo"), if (w("solo") >= 0) 1L else 0L)))
    // doc 3: zero features -> absent (no evidence, no score)
    assert(!got.contains(3L))
  }

  test("perplexityBuckets: per-lang thirds, rare-token docs land in tail") {
    val spark0 = spark
    import spark0.implicits._
    // 9 aa docs with strictly increasing singleton load (doc i carries i
    // singleton tokens out of 9) → 9 distinct scores, monotone in i; plus
    // a second language with 2 docs to prove cutoffs are per-language.
    val docs = (
      (1 to 9).map { i =>
        val toks = Seq.fill(9 - i)("alpha") ++ (1 to i).map(j => s"u${i}_$j")
        (i.toLong, toks.mkString(" "), "aa")
      } ++
      Seq((10L, "alpha alpha", "bb"), (11L, "alpha v1 v2 v3", "bb"))
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.perplexityBuckets(docs, "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) -> (r.getString(3), r.getLong(2)))
      .toMap
    // every doc gets exactly one bucket row
    assert(out.size == 11)
    // the singleton-laced docs score strictly worse and fill the aa tail
    val aaTail = (1L to 9L).filter(id => out(id)._1 == "tail")
    assert(aaTail.toSet == Set(7L, 8L, 9L))
    // thirds: 9 aa docs → 3 per bucket
    val aaCounts = (1L to 9L).groupBy(id => out(id)._1).view
      .mapValues(_.size).toMap
    assert(aaCounts == Map("head" -> 3, "middle" -> 3, "tail" -> 3))
    // per-language cutoffs: bb's 2 docs split head/tail on ITS cutoffs
    assert(out(10L)._1 == "head" && out(11L)._1 != "head")
    // zero-token docs are excluded, not crashed on
    val withEmpty = docs.union(Seq((12L, "", "aa")).toDF("doc_id", "text", "lang"))
    assert(TextAnalysis.perplexityBuckets(withEmpty, "doc_id", "text", "lang")
      .count() == 11)
  }

  test("vocabCoverage: OOV counts against the top-N corpus vocab") {
    val spark0 = spark
    import spark0.implicits._
    // vocab top-2 by (freq desc, token asc) = {a (5), b (4)}
    val docs = Seq(
      (1L, "a a b x"),      // 1 OOV of 4
      (2L, "a b b z z z"),  // 3 OOV of 6
      (3L, "a a a b"),      // 0 OOV
      (4L, "q w e r")       // all OOV
    ).toDF("doc_id", "text")
    val out = TextAnalysis.vocabCoverage(docs, "doc_id", "text", topN = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(out(1L) == ((4L, 1L, 0.25)))
    assert(out(2L) == ((6L, 3L, 0.5)))
    assert(out(3L) == ((4L, 0L, 0.0)))
    assert(out(4L) == ((4L, 4L, 1.0)))
  }

  test("vocabGrowth: first-seen attribution exact, cum telescopes, " +
      "layout-independent") {
    val spark0 = spark
    import spark0.implicits._
    // each doc contributes two trigrams: a per-doc one ("common tok_i
    // cohort_j") and a per-cohort one ("cohort_j shared end") — mixes
    // always-new grams with grams whose first-seen shard is a min over
    // ~57 docs
    val docs = (0L until 400L).map(i =>
      (i, s"common tok_$i cohort_${i % 7} shared end")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabGrowth(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // reference: driver recomputation over the same md5 shard order
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val firstSeen = (0L until 400L)
      .flatMap { i =>
        val shard = Integer.parseInt(md5Hex(i.toString).take(1), 16).toLong
        val c = i % 7
        Seq(s"common tok_$i cohort_$c", s"tok_$i cohort_$c shared",
          s"cohort_$c shared end").map(_ -> shard)
      }
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).min }
    val wantNew = firstSeen.values.groupBy(identity)
      .map { case (s, xs) => s -> xs.size.toLong }
    assert(out.map(r => r._1 -> r._2).toMap == wantNew)
    // cumulative telescopes to the distinct gram vocabulary:
    // 400 "common…" + 400 "tok_…" + 7 cohort-shared grams
    assert(out.last._3 == 807L)
    assert(out.map(_._2).sum == 807L)
    out.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 == a._3 + b._2) // cum = prefix sum, shards ascending
      assert(a._1 < b._1)
    }
    // layout-independent
    val re = TextAnalysis.vocabGrowth(docs.repartition(11), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(re.toSeq == out.toSeq)
  }

  test("sourceOverlap: exact trigram intersection, Jaccard, containment") {
    val spark0 = spark
    import spark0.implicits._
    // A = {abc, bcd} (2); B = {abc, bce, bcd, cdx} (4); C = {xyz} (1)
    val docs = Seq(
      (1L, "a b c d", "A"),
      (2L, "a b c e", "B"), (3L, "b c d x", "B"),
      (4L, "x y z", "C")
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.sourceOverlap(docs, "source", "text").collect()
    // A∩B = {abc, bcd}; A∩C = B∩C = ∅ → omitted (inner semantics)
    assert(out.length == 1)
    val r = out.head
    assert((r.getString(0), r.getString(1)) == (("A", "B")))
    assert(r.getLong(2) == 2L)                 // n_common
    assert(r.getDouble(3) == 0.5)              // 2 / (2 + 4 - 2)
    assert(r.getDouble(4) == 1.0)              // 2 / |A|
  }

  test("sourceOverlap: maxSources drops ubiquitous grams from intersections only") {
    val spark0 = spark
    import spark0.implicits._
    // the qqq gram is in all three sources; sizes grow (|A|=3, |B|=5,
    // |C|=2) but with maxSources=2 it contributes to NO intersection —
    // the cap trades pair-attribution recall, never group-size truth
    val docs = Seq(
      (1L, "a b c d", "A"), (5L, "q q q", "A"),
      (2L, "a b c e", "B"), (3L, "b c d x", "B"), (6L, "q q q", "B"),
      (4L, "x y z", "C"), (7L, "q q q", "C")
    ).toDF("doc_id", "text", "source")
    val uncapped = TextAnalysis.sourceOverlap(docs, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(uncapped == Map(("A", "B") -> 3L, ("A", "C") -> 1L,
      ("B", "C") -> 1L))
    val capped = TextAnalysis.sourceOverlap(docs, "source", "text",
        maxSources = 2).collect()
    assert(capped.length == 1)
    val r = capped.head
    assert((r.getString(0), r.getString(1), r.getLong(2)) == (("A", "B", 2L)))
    assert(r.getDouble(3) == 0.333)            // 2 / (3 + 5 - 2)
    assert(r.getDouble(4) == 0.667)            // 2 / |A| with |A| = 3
  }

  test("sourceOverlap: NULL sources never pair and do not count toward maxSources") {
    val spark0 = spark
    import spark0.implicits._
    // abc is in A, B and a NULL source: the NULL is not one of its
    // sources, so under maxSources = 2 it still attributes A∩B; xyz
    // (A and NULL) identifies no pair at all
    val docs = Seq[(Long, String, String)](
      (1L, "a b c", "A"), (2L, "x y z", "A"),
      (3L, "a b c", "B"),
      (4L, "a b c", null), (5L, "x y z", null)
    ).toDF("doc_id", "text", "source")
    val capped = TextAnalysis.sourceOverlap(docs, "source", "text",
        maxSources = 2).collect()
    assert(capped.length == 1)
    val r = capped.head
    assert((r.getString(0), r.getString(1), r.getLong(2)) == (("A", "B", 1L)))
    assert(r.getDouble(3) == 0.5)              // 1 / (2 + 1 - 1)
    assert(r.getDouble(4) == 0.5)              // 1 / |A| with |A| = 2
  }

  test("sourceOverlap vs minhash signature: exact within k=128 estimator error") {
    // the exact matrix is the ground truth for q_x_source_signature's
    // minhash estimate (identical shingle family: token trigram hashes),
    // so on the real corpus every pair's estimate must sit within the
    // k=128 minhash standard error band of the exact Jaccard
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val exact = TextAnalysis.sourceOverlap(
        graft.sources.Sources.table(spark, dir, "documents"),
        "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3))
      .toMap
    val est = graft.operators.ExtensionQueries.sourceSignature
      .run(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
    assert(est.nonEmpty)
    est.foreach { case (pair, e) =>
      val x = exact.getOrElse(pair, 0.0)
      // 3σ at J=0.5, k=128 is 0.133; shingle-edge effects (short docs
      // emit one sub-n shingle to minhash, none to gram_hashes) stay
      // well inside the same band on this corpus
      assert(math.abs(e - x) <= 0.15,
        s"$pair: minhash est $e vs exact $x drifted past the error band")
    }
  }

  test("bigramLm: exact conditional counts, rank caps, determinism") {
    val spark0 = spark
    import spark0.implicits._
    // bigrams: ab×4 ac×1 (c1_a=5), ba×2 bc×1 (c1_b=3), ca×2 (c1_c=2)
    val df = Seq("a b a b", "a b c a", "b a c a b").toDF("text")
    val got = TextAnalysis.bigramLm(df, "text", 2)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getDouble(4))).sortBy(x => (x._1, x._2))
    assert(got.toSeq == Seq(
      ("a", 1L, "b", 4L, 80000.0), ("a", 2L, "c", 1L, 20000.0),
      ("b", 1L, "a", 2L, 66666.67), ("b", 2L, "c", 1L, 33333.33),
      ("c", 1L, "a", 2L, 100000.0)))
    val again = TextAnalysis.bigramLm(df.repartition(5), "text", 2)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getDouble(4))).sortBy(x => (x._1, x._2))
    assert(got.toSeq == again.toSeq)
  }

  test("sourceDivergence: hand-computed KL, zero for a lone source") {
    val spark0 = spark
    import spark0.implicits._
    // corpus x:2 y:4 (N=6); A = "x x y" (Nₐ=3), B = "y y y" (N_b=3)
    // KL_A = (2/3)ln2 + (1/3)ln(1/2) = (1/3)ln2      = 231.05 mnat
    // KL_B = ln(18/12) = ln 1.5                       = 405.47 mnat
    val df = Seq(("A", "x x y"), ("B", "y y y")).toDF("source", "text")
    val got = TextAnalysis.sourceDivergence(df, "source", "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(got == Map("A" -> (3L, 231.05), "B" -> (3L, 405.47)))
    // a single source IS the corpus: divergence exactly zero
    val lone = TextAnalysis.sourceDivergence(
      Seq(("A", "x x y z")).toDF("source", "text"), "source", "text")
      .collect()
    assert(lone.map(_.getDouble(2)).toSeq == Seq(0.0))
  }

  test("kneserNeyBigram: exact fractions match the hand-computed KN") {
    val spark0 = spark
    import spark0.implicits._
    // corpus: "a b a b c" + "a b" → bigram counts (a,b):3 (b,a):1 (b,c):1
    // B = 3 distinct bigrams; c(a·)=3, N1+(a·)=1; c(b·)=2, N1+(b·)=2;
    // N1+(·a)=1, N1+(·b)=1, N1+(·c)=1. With D = 3/4:
    //   P(b|a) = (3−3/4)/3 + (3/4)(1/3)(1/3) = 30/36
    //   P(a|b) = P(c|b) = (1−3/4)/2 + (3/4)(2/2)(1/3) = 9/24
    val df = Seq("a b a b c", "a b").toDF("text")
    val got = TextAnalysis.kneserNeyBigram(df, "text", minCount = 1L)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == Map(
      ("a", "b") -> ((3L, 30L, 36L)),
      ("b", "a") -> ((1L, 9L, 24L)),
      ("b", "c") -> ((1L, 9L, 24L))), got.toString)
    // probabilities are proper: 0 < num ≤ den everywhere
    got.values.foreach { case (_, num, den) =>
      assert(num > 0L && num <= den)
    }
    // minCount prunes the singleton bigrams but their mass still shaped
    // the statistics of the rows that remain
    val pruned = TextAnalysis.kneserNeyBigram(df, "text", minCount = 2L)
      .collect()
    assert(pruned.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("a", "b")))
  }

  test("knDocLogprob: hand-computed milli-nat sums, OOV backoff pinned") {
    val spark0 = spark
    import spark0.implicits._
    // same corpus as the KN test; minCount=2 prunes (b,a) and (b,c) from
    // the SERVED table so their occurrences hit the c=0 backoff arm:
    //   P(b|a) = 30/36      → floor(1000·ln) = −183
    //   backoff(b,·) = 6/24 → floor(1000·ln) = −1387
    // doc1 "a b a b c": (a,b)(b,a)(a,b)(b,c) → −183−1387−183−1387 = −3140
    // doc2 "a b": −183; a one-token doc emits nothing
    val df = Seq((1L, "a b a b c"), (2L, "a b"), (3L, "z"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.knDocLogprob(df, "doc_id", "text", minCount = 2L)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(1L -> ((-3140L, 4L)), 2L -> ((-183L, 1L))),
      got.toString)
  }
}
