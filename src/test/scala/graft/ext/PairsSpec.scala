package graft.ext

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[Pairs.sortedPairs]] against the naive n² `a < b` filter over the same
  * arrays, on generated sorted duplicate-free arrays (deterministic seeds)
  * that always include the empty and singleton shapes. */
class PairsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, rng.Seed(seed))

  private val sortedSetGen: Gen[Seq[Long]] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, Gen.choose(-20L, 20L)))
      .map(_.distinct.sorted)

  private def pairs(arrays: Seq[Seq[Long]]) = {
    val spark0 = spark
    import spark0.implicits._
    val df = arrays.zipWithIndex.map { case (a, i) => (i, a) }.toDF("id", "xs")
    val got = Pairs.sortedPairs(df, "xs", "a", "b")
    val naive = df.select(col("xs"), explode(col("xs")).as("a"))
      .select(col("a"), explode(col("xs")).as("b"))
      .filter(col("a") < col("b"))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    (got.columns.toSeq, rows(got), rows(naive))
  }

  test("property: sortedPairs == naive a < b filter (5 seeds, 30 arrays each)") {
    for (seed <- 1L to 5L) {
      val arrays = Seq(Seq.empty[Long], Seq(7L)) ++
        sample(Gen.listOfN(30, sortedSetGen), seed)
      val (cols, got, want) = pairs(arrays)
      assert(cols == Seq("a", "b"))
      assert(got == want, s"seed=$seed")
      assert(got.size == arrays.map(a => a.size * (a.size - 1) / 2).sum)
    }
  }

  test("empty and singleton arrays emit no pairs") {
    val (_, got, want) = pairs(Seq(Seq.empty, Seq(3L), Seq(-1L)))
    assert(got.isEmpty && want.isEmpty)
  }
}
