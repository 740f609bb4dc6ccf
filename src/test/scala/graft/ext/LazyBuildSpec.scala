package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.udf
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.tools.PlanTrace

/** Operators whose whole result is one lazy plan: building the frame runs
  * no SQL execution (no checkpoint, no count, no driver probe), so the
  * scan and every aggregate run once, when the caller executes the plan.
  * A barrier put back into any of them fails here by name. */
class LazyBuildSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs: DataFrame = Seq(
    (1L, "web", "the quick brown fox jumps over the lazy dog"),
    (2L, "web", "the quick brown fox jumps over the lazy cat"),
    (3L, "wiki", "an unrelated encyclopedia entry about rivers"),
    (4L, "wiki", "another entry about mountains and rivers"),
    (5L, "code", "def main args println hello world"))
    .toDF("doc_id", "source", "text")

  private val builds: Seq[(String, () => DataFrame)] = Seq(
    "MarketBasket.associationRules" -> (() =>
      MarketBasket.associationRules(
        Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"), (3L, "a"))
          .toDF("basket", "item"), "basket", "item", minPairCount = 1L)),
    "Profile.profile" -> (() =>
      Profile.profile(docs, numericCols = Seq("doc_id"),
        stringCols = Seq("source", "text"))),
    "Stats.benford" -> (() =>
      Stats.benford(Seq(12.5, 150.0, 1000.0, 0.0).toDF("v"), "v")),
    "Stats.mutualInfoCells" -> (() =>
      Stats.mutualInfoCells(
        Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "p")).toDF("l", "r"),
        "l", "r")),
    "TextAnalysis.sourceDivergence" -> (() =>
      TextAnalysis.sourceDivergence(docs, "source", "text")))

  builds.foreach { case (name, build) =>
    test(s"$name builds one lazy plan: nothing executes while it is built") {
      val (df, executed) = PlanTrace.capture(spark)(build())
      assert(executed.isEmpty,
        s"$name ran ${executed.size} SQL execution(s) while building:\n" +
          executed.mkString("\n"))
      df.collect() // the one plan still runs
    }
  }

  test("Dedup.incrementalMatch neither plans nor runs anything while built") {
    // A persisted frame is optimized and planned when `persist` is called,
    // even if it is dropped before any action, and optimizing a projection
    // over a local relation evaluates it on the driver: a counting UDF
    // over the new docs' text sees that.
    LazyBuildSpec.taps.set(0)
    val tap = udf((s: String) => { LazyBuildSpec.taps.incrementAndGet(); s })
    val corpus = docs.filter($"doc_id" <= 3L)
    val fresh = docs.filter($"doc_id" > 3L).withColumn("text", tap($"text"))
    val (df, executed) = PlanTrace.capture(spark)(
      Dedup.incrementalMatch(fresh, corpus,
        Dedup.bandIndex(corpus, "doc_id", "text"), "doc_id", "text"))
    assert(executed.isEmpty && LazyBuildSpec.taps.get == 0,
      s"building incrementalMatch ran ${executed.size} SQL execution(s) " +
        s"and evaluated its input ${LazyBuildSpec.taps.get} time(s)")
    df.collect()
  }
}

object LazyBuildSpec {
  val taps = new java.util.concurrent.atomic.AtomicLong
}
