package graft.functions

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** GraftExtensions: the expression family installs into a fresh session via
  * SparkSessionExtensions (no programmatic registration), and MinHashMerge
  * aggregates signatures with map-side partials. */
class ExtensionsSpec extends AnyFunSuite {
  lazy val base = TestSpark.spark

  test("withExtensions session exposes graft functions to SQL") {
    base // ensure shared context exists first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .master("local[4]")
        .appName("graft-ext-test")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate()
      // Built on the context `base` created, this session inherits its
      // codegen cache cap: it cannot be the one that binds CodeGenerator
      // to Spark's default of 100 entries (see CodegenCacheSpec).
      assert(s.conf.get("spark.sql.codegen.cache.maxEntries") ==
        graft.GraftSession.CodegenCacheEntries.toString)
      val row = s.sql(
        """SELECT simhash64('a b c') AS sh,
          |  ngram_jaccard('a b c d', 'a b c d') AS j,
          |  cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS cos,
          |  size(minhash_sig('x y z w')) AS k,
          |  hyperplane_bucket(array(0.5F, 0.5F)) AS bkt,
          |  array_jaccard(sorted_shingles('a b c d e'), sorted_shingles('a b c d e')) AS aj,
          |  size(gram_hashes('a b c d e f')) AS ng,
          |  repetition_stats('x x x') AS rs""".stripMargin)
        .collect().head
      assert(row.getAs[Double]("j") == 1.0)
      assert(math.abs(row.getAs[Double]("cos") - 1.0) < 1e-12)
      assert(row.getAs[Int]("k") == 128)
      assert(row.getAs[Int]("bkt") >= 0)
      assert(row.getAs[Double]("aj") == 1.0)
      assert(row.getAs[Int]("ng") == 2) // 6 tokens, 5-grams at positions 1..2
      // 'x x x': 3 words / 1 distinct, 2 bigrams / 1, 1 trigram / 1
      assert(row.getSeq[Long](row.fieldIndex("rs")) == Seq(3L, 1L, 2L, 1L, 1L, 1L))
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  // NOTE: the `spark.sql.extensions` config path applies the same injection
  // at SparkContext creation. Since GraftSession.builder sets it by default,
  // the SHARED test session is itself built through that static-conf path
  // (EditDistancePrefilterSpec pins the injected rule); the standalone
  //   sbt "runMain graft.tools.ExtensionsCheckMain"
  // still checks it in a fresh JVM where this process-level conf is the
  // FIRST session's (part of the verify checklist).

  test("MinHashMerge: group signature = element-wise min; jaccard estimate sane") {
    val spark = base
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      ("s1", "the quick brown fox jumps over the lazy dog"),
      ("s1", "the quick brown fox jumps over the lazy cat"),
      ("s2", "the quick brown fox jumps over the lazy dog"),
      ("s3", "entirely unrelated text with different words inside")
    ).toDF("source", "text")
    val mh = udaf(MinHashMerge)
    val sigs = df
      .select(col("source"), TextExprs.minhash_sig(col("text"), 64, 3).as("sig"))
      .groupBy("source").agg(mh(col("sig")).as("sig"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toArray).toMap
    assert(sigs.values.forall(_.length == 64))
    // s1 ⊇ s2's doc → signature agreement high; s3 unrelated → low
    val sim12 = MinHashMerge.estimatedJaccard(sigs("s1"), sigs("s2"))
    val sim13 = MinHashMerge.estimatedJaccard(sigs("s1"), sigs("s3"))
    assert(sim12 > 0.4, s"s1~s2 $sim12")
    assert(sim13 < 0.1, s"s1~s3 $sim13")
    // element-wise min property: group sig ≤ each member sig componentwise
    val single = df.filter($"source" === "s2")
      .select(TextExprs.minhash_sig(col("text"), 64, 3).as("sig"))
      .collect().head.getSeq[Long](0).toArray
    assert(sigs("s2").toSeq == single.toSeq)
  }
}
