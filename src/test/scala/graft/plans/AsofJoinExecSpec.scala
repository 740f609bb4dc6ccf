package graft.plans

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ext.AsofJoin

/** The as-of join's plan node (AsofJoinNode → AsofJoinStrategy →
  * AsofJoinExec), as built by `AsofJoin.backward/forward`: self-join
  * safety, the fixed-fixture semantics, and the co-partitioned streaming
  * merge plan (two exchanges, no Window, no Union). Randomized frames are
  * checked against a brute-force reference in `ext.JoinPropertySpec`.
  */
class AsofJoinExecSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def randomFrames(seed: Long, nLeft: Int, nRight: Int, nKeys: Int) = {
    val spark0 = spark
    import spark0.implicits._
    val rnd = new java.util.Random(seed)
    def t(): Timestamp = new Timestamp(1700000000000L + rnd.nextInt(100000) * 100L)
    val left = (1 to nLeft).map(i =>
      (i.toLong, rnd.nextInt(nKeys).toLong, t(), rnd.nextDouble()))
      .toDF("event_id", "user_id", "ts", "lv")
    // one row per (key, ts), deduped driver-side: these calls pass no tie,
    // and the DF carries no agg (keeps px non-nullable — exercising the
    // forced-nullable binding — and the plan's exchanges to the join's two)
    val right = (1 to nRight).map(i =>
        (rnd.nextInt(nKeys).toLong, t(), math.round(rnd.nextDouble() * 100) / 10.0))
      .groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq
      .toDF("user_id", "ts", "px")
    (left, right)
  }

  private def collectPairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Option[Double])] =
    df.collect().map(r => (r.getAs[Long]("event_id"),
      Option(r.getAs[java.lang.Double]("px")).map(_.toDouble))).toSet

  test("self-join safe: same source on both sides (fresh right expr ids)") {
    val spark0 = spark
    import spark0.implicits._
    val e = Seq(
      (1L, 1L, Timestamp.valueOf("2024-01-01 10:00:05"), 1.0),
      (2L, 1L, Timestamp.valueOf("2024-01-01 10:00:30"), 2.0)
    ).toDF("event_id", "user_id", "ts", "px")
    val out = AsofJoin.backward(
      e.select("event_id", "user_id", "ts"),
      e.select($"user_id", $"ts", $"px"), "user_id", "ts", Seq("px"))
    assert(out.collect().length == 2)
  }

  test("keyless users get NULL payload; exact-ts ties match; tolerance gates") {
    val spark0 = spark
    import spark0.implicits._
    val trades = Seq(
      (1L, 1L, Timestamp.valueOf("2024-01-01 10:00:05")),
      (2L, 1L, Timestamp.valueOf("2024-01-01 10:00:30")),
      (3L, 1L, Timestamp.valueOf("2024-01-01 10:02:00")),
      (4L, 2L, Timestamp.valueOf("2024-01-01 10:00:10")),
      (5L, 3L, Timestamp.valueOf("2024-01-01 09:59:59"))
    ).toDF("event_id", "user_id", "ts")
    val quotes = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 100.0),
      (1L, Timestamp.valueOf("2024-01-01 10:00:30"), 200.0),
      (1L, Timestamp.valueOf("2024-01-01 10:01:00"), 300.0),
      (3L, Timestamp.valueOf("2024-01-01 10:00:00"), 999.0)
    ).toDF("user_id", "ts", "px")
    val out = collectPairs(
      AsofJoin.backward(trades, quotes, "user_id", "ts", Seq("px"))).toMap
    assert(out(1L) == Some(100.0) && out(2L) == Some(200.0) &&
      out(3L) == Some(300.0) && out(4L) == None && out(5L) == None)
    val gated = collectPairs(AsofJoin.backward(trades, quotes, "user_id", "ts",
      Seq("px"), toleranceSeconds = Some(10L))).toMap
    assert(gated(3L) == None && gated(1L) == Some(100.0))
    val fwd = collectPairs(AsofJoin.forward(trades, quotes, "user_id", "ts",
      Seq("px"))).toMap
    assert(fwd(1L) == Some(200.0) && fwd(3L) == None && fwd(5L) == Some(999.0))
  }

  test("plan: AsofJoinExec streaming merge — 2 exchanges, no Window/Union") {
    val (left, right) = randomFrames(9L, nLeft = 100, nRight = 80, nKeys = 5)
    val df = AsofJoin.backward(left, right, "user_id", "ts", Seq("px"))
    df.collect() // finalize AQE
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("AsofJoin"), s"expected AsofJoinExec in:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2, s"expected 2 exchanges, plan:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Union"),
      s"merge shape must not plan a window or union:\n$plan")
  }

  test("payload name collision with left columns is rejected") {
    val (left, right) = randomFrames(4L, 10, 10, 2)
    intercept[IllegalArgumentException] {
      AsofJoin.backward(left, right.withColumnRenamed("px", "lv"),
        "user_id", "ts", Seq("lv"))
    }
  }
}
