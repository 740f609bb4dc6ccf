package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.CappedCollect._

/** CappedCollect against the chain it replaces: `sort_array` of
  * `collect_list` / `collect_set`, kept where the group's row count (list)
  * or distinct-member count, a NULL member included (set), is at most the
  * cap. Deterministic seeds; every input is repartitioned 1..8 ways so
  * partial aggregation, merge and buffer serialization all run. */
class CappedCollectSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, rng.Seed(seed))

  // one group: a member domain a few values past the cap (so duplicates
  // and the set form's distinct count both straddle it), about one member
  // in seven NULL; sizes cover cap, cap+1, small, all-NULL and whales
  private def groupGen(cap: Int): Gen[List[Option[Long]]] = {
    val member = Gen.frequency(
      1 -> Gen.const(Option.empty[Long]), 6 -> Gen.choose(0L, cap + 3L).map(Option(_)))
    Gen.frequency(
      3 -> Gen.listOfN(cap, member),
      3 -> Gen.listOfN(cap + 1, member),
      3 -> Gen.choose(1, 2 * cap + 2).flatMap(Gen.listOfN(_, member)),
      1 -> Gen.choose(1, 3).map(List.fill(_)(Option.empty[Long])),
      1 -> Gen.choose(300, 600).flatMap(n => Gen.listOfN(n, Gen.choose(0L, 1000L).map(Option(_)))))
  }

  private def inputGen: Gen[(Int, Int, List[(Long, Option[Long])])] = for {
    cap <- Gen.choose(0, 6)
    nGroups <- Gen.choose(1, 8)
    groups <- Gen.listOfN(nGroups, groupGen(cap))
    ways <- Gen.choose(1, 8)
  } yield (cap, ways, groups.zipWithIndex.flatMap { case (ms, g) => ms.map(g.toLong -> _) })

  // the three member types, NULL where the generated member is NULL; the
  // string and struct orders differ from the numeric one ("s10" < "s2")
  private val members: Seq[(String, Column)] = Seq(
    "long" -> col("v"),
    "string" -> concat(lit("s"), col("v").cast("string")),
    "struct" -> when(col("v").isNotNull,
      struct((col("v") % 3).as("k"), concat(lit("t"), col("v").cast("string")).as("s"))))

  test("matches sort_array(collect_list | collect_set) under a count gate") {
    val spark0 = spark
    import spark0.implicits._
    (1L to 24L).foreach { seed =>
      val (cap, ways, rows) = sample(inputGen, seed)
      val df = rows.toDF("g", "v").repartition(ways)
      val aggs = members.flatMap { case (name, m) =>
        val distinctN = size(collect_set(m)) + max(m.isNull.cast("int"))
        Seq(capped_collect_list(m, cap).as(s"${name}_list"),
          when(count(lit(1)) <= cap, sort_array(collect_list(m))).as(s"${name}_list_ref"),
          capped_collect_set(m, cap).as(s"${name}_set"),
          when(distinctN <= cap, sort_array(collect_set(m))).as(s"${name}_set_ref"))
      }
      val got = df.groupBy(col("g")).agg(aggs.head, aggs.tail: _*).collect()
      assert(got.length == rows.map(_._1).distinct.size)
      for (r <- got; (name, _) <- members; form <- Seq("list", "set")) {
        val c = s"${name}_$form"
        assert(r.getAs[Any](c) == r.getAs[Any](s"${c}_ref"),
          s"seed $seed cap $cap ways $ways group ${r.getAs[Long]("g")} $c")
      }
    }
  }

  test("no group: the global aggregate over an empty input is the empty array") {
    val spark0 = spark
    import spark0.implicits._
    val r = Seq.empty[Long].toDF("v").repartition(3)
      .agg(capped_collect_list(col("v"), 0), capped_collect_set(col("v"), 0)).head()
    assert(r == Row(Seq.empty, Seq.empty))
  }

  test("a whale never holds more than cap+1 entries in one buffer") {
    val cap = 16
    val longs = BoundReference(0, LongType, nullable = true)
    for (distinct <- Seq(false, true)) {
      val agg = CappedCollectAgg(longs, cap, distinct)
      val buf = agg.createAggregationBuffer()
      var peak = 0
      (0L until 100000L).foreach { i =>
        agg.update(buf, InternalRow(i))
        peak = math.max(peak, buf.held)
      }
      assert(peak <= cap + 1 && buf.overflowed && agg.eval(buf) == null, s"distinct=$distinct")
      // the overflowed buffer serializes to a NULL marker, and merging it
      // into a live buffer overflows that one
      val back = agg.deserialize(agg.serialize(buf))
      assert(back.overflowed && back.held == 0)
      val live = agg.createAggregationBuffer()
      agg.update(live, InternalRow(1L))
      assert(agg.merge(live, back).overflowed)
    }
    // the set form counts distinct members: repeats of cap values stay kept
    val strings = BoundReference(0, StringType, nullable = true)
    val set = CappedCollectAgg(strings, 2, distinct = true)
    val sb = set.createAggregationBuffer()
    (0 until 100000).foreach(i =>
      set.update(sb, InternalRow(UTF8String.fromString(if (i % 2 == 0) "a" else "b"))))
    assert(sb.held == 2 && !sb.overflowed)
  }

  test("a NULL member counts toward the cap but is not emitted") {
    val spark0 = spark
    import spark0.implicits._
    val df: DataFrame = Seq((1L, Some(5L)), (1L, None), (1L, None), (2L, None))
      .toDF("g", "v")
    val got = df.groupBy(col("g"))
      .agg(capped_collect_list(col("v"), 2).as("l"), capped_collect_set(col("v"), 2).as("s"))
      .orderBy(col("g")).collect().toSeq
    assert(got == Seq(Row(1L, null, Seq(5L)), Row(2L, Seq.empty, Seq.empty)))
  }
}
