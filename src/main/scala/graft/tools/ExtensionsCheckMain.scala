package graft.tools

import org.apache.spark.sql.SparkSession

/** Integration check for the `spark.sql.extensions` CONFIG registration path
  * (GraftExtensions applied by Spark at SparkContext creation, not via
  * programmatic withExtensions):
  *
  *   sbt "runMain graft.tools.ExtensionsCheckMain"
  *
  * Must run in its own JVM — spark.sql.extensions is a STATIC conf, read
  * only when the first session of the process is built, which is why the
  * shared-context ScalaTest JVM cannot exercise it (ExtensionsSpec covers
  * the withExtensions path instead). Exits 0 iff every injected function is
  * callable from plain spark.sql with correct results.
  */
object ExtensionsCheckMain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-check")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val row = spark.sql(
      """SELECT simhash64('a b c') AS sh,
        |  ngram_jaccard('a b c d', 'a b c d') AS j,
        |  cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS cos,
        |  size(minhash_sig('x y z w')) AS k,
        |  size(winnow_sig('some document text to fingerprint here')) AS nw,
        |  hyperplane_bucket(array(0.5F, 0.5F)) AS bkt""".stripMargin)
      .collect().head
    val ok = row.getAs[Double]("j") == 1.0 &&
      math.abs(row.getAs[Double]("cos") - 1.0) < 1e-12 &&
      row.getAs[Int]("k") == 128 &&
      row.getAs[Int]("nw") > 0 &&
      row.getAs[Int]("bkt") >= 0

    // planner-strategy injection: AsofJoin.backward must plan through the
    // extension-injected AsofJoinStrategy — NOT the experimental fallback
    // (asserted empty afterwards) — and produce the merge-join results
    import spark.implicits._
    val l = Seq((1L, 10L), (1L, 30L), (2L, 10L)).toDF("k", "ts")
    val r = Seq((1L, 5L, "a"), (1L, 20L, "b")).toDF("k", "ts", "v")
    val asof = graft.ext.AsofJoin.backward(l, r, "k", "ts", Seq("v"))
    val got = asof.collect().map(x => (x.getLong(0), x.getLong(1),
      Option(x.getString(2)))).toSet
    val asofOk = got == Set((1L, 10L, Some("a")), (1L, 30L, Some("b")),
        (2L, 10L, None)) &&
      spark.experimental.extraStrategies.isEmpty &&
      asof.queryExecution.executedPlan.toString.contains("AsofJoin")
    // optimizer-rule injection: a bounded levenshtein predicate over a
    // parquet source (a local relation would constant-fold the filter
    // away) must pick up the length-difference guard
    // (EditDistancePrefilter), placed BEFORE the levenshtein conjunct
    val fuzzy = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
      .filter("levenshtein(p_name, reverse(p_name)) <= 2")
    val optimized = fuzzy.queryExecution.optimizedPlan.toString
    val ruleOk = optimized.contains("abs((length(") &&
      optimized.indexOf("abs((length(") < optimized.indexOf("levenshtein") &&
      fuzzy.count() >= 0 // executes under the rewritten plan

    spark.stop()
    if (!asofOk) {
      System.err.println(s"[ext-check] FAIL: injected AsofJoinStrategy path, got $got")
      sys.exit(1)
    }
    if (!ruleOk) {
      System.err.println(s"[ext-check] FAIL: EditDistancePrefilter not applied:\n$optimized")
      sys.exit(1)
    }
    if (ok) {
      println("[ext-check] PASS: spark.sql.extensions config injection works")
    } else {
      System.err.println(s"[ext-check] FAIL: unexpected results $row")
      sys.exit(1)
    }
  }
}
