package graft.ext

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class AsofJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  private def fixtures = {
    val spark0 = spark
    import spark0.implicits._
    val trades = Seq(
      (1L, 1L, ts("2024-01-01 10:00:05"), "t1"),
      (2L, 1L, ts("2024-01-01 10:00:30"), "t2"),
      (3L, 1L, ts("2024-01-01 10:02:00"), "t3"),
      (4L, 2L, ts("2024-01-01 10:00:10"), "t4"), // user 2 has no quotes
      (5L, 3L, ts("2024-01-01 09:59:59"), "t5")  // before any quote
    ).toDF("event_id", "user_id", "ts", "tag")
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0),
      (1L, ts("2024-01-01 10:00:30"), 200.0), // exact-ts match for t2
      (1L, ts("2024-01-01 10:01:00"), 300.0),
      (3L, ts("2024-01-01 10:00:00"), 999.0)
    ).toDF("user_id", "ts", "px")
    (trades, quotes)
  }

  test("backward: latest quote at-or-before, exact ts matches, nulls preserved") {
    val (trades, quotes) = fixtures
    val out = AsofJoin.backward(trades, quotes, "user_id", "ts", Seq("px"))
      .collect().map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Double]("px")).map(_.toDouble)).toMap
    assert(out(1L) == Some(100.0)) // 10:00:05 → 10:00:00 quote
    assert(out(2L) == Some(200.0)) // exact-ts tie matches
    assert(out(3L) == Some(300.0)) // latest earlier
    assert(out(4L) == None)        // keyless user
    assert(out(5L) == None)        // all quotes later
    // left columns pass through
    val cols = AsofJoin.backward(trades, quotes, "user_id", "ts", Seq("px")).columns
    assert(cols.toSeq == Seq("event_id", "user_id", "ts", "tag", "px"))
  }

  test("forward: earliest quote at-or-after") {
    val (trades, quotes) = fixtures
    val out = AsofJoin.forward(trades, quotes, "user_id", "ts", Seq("px"))
      .collect().map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Double]("px")).map(_.toDouble)).toMap
    assert(out(1L) == Some(200.0)) // 10:00:05 → next at 10:00:30
    assert(out(2L) == Some(200.0)) // exact ts
    assert(out(3L) == None)        // nothing later
    assert(out(5L) == Some(999.0)) // user 3 forward to 10:00:00
  }

  test("tolerance gates stale matches") {
    val (trades, quotes) = fixtures
    val out = AsofJoin.backward(trades, quotes, "user_id", "ts", Seq("px"),
        toleranceSeconds = Some(10L))
      .collect().map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Double]("px")).map(_.toDouble)).toMap
    assert(out(1L) == Some(100.0)) // 5s gap ≤ 10
    assert(out(2L) == Some(200.0)) // 0s gap
    assert(out(3L) == None)        // 60s gap > 10 → gated
  }

  test("tolerance is exact at sub-second precision (micros, not floor-seconds)") {
    val spark0 = spark
    import spark0.implicits._
    // 0.4 s and 1.6 s stale quotes around a tolerance of 1 s: a whole-second
    // unix_timestamp gate floors both timestamps, mis-gating each by ~1 s
    val probes = Seq(
      (1L, 10L, Timestamp.valueOf("2024-01-01 10:00:01.500")),
      (2L, 20L, Timestamp.valueOf("2024-01-01 10:00:01.600"))
    ).toDF("event_id", "user_id", "ts")
    val quotes = Seq(
      (10L, Timestamp.valueOf("2024-01-01 10:00:01.100"), 1.0), // 0.4s stale
      (20L, Timestamp.valueOf("2024-01-01 10:00:00.000"), 2.0)  // 1.6s stale
    ).toDF("user_id", "ts", "px")
    val out = AsofJoin.backward(probes, quotes, "user_id", "ts", Seq("px"),
        toleranceSeconds = Some(1L))
      .collect().map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Double]("px")).map(_.toDouble)).toMap
    assert(out(1L) == Some(1.0), "0.4s-stale match inside tolerance=1s must survive")
    assert(out(2L) == None, "1.6s-stale match must be gated at tolerance=1s")
  }

  test("column-collision guard rejects a payload name already on the left") {
    val (trades, quotes) = fixtures
    intercept[IllegalArgumentException] {
      AsofJoin.backward(trades, quotes.withColumnRenamed("px", "tag"),
        "user_id", "ts", Seq("tag"))
    }
  }

  test("plan: one AsofJoin merge node, no Window or Union (not a range join)") {
    val (trades, quotes) = fixtures
    val df = AsofJoin.backward(trades, quotes, "user_id", "ts", Seq("px"))
    df.collect() // finalize AQE
    // AQE's toString repeats the plan under "== Initial Plan =="; check
    // the final section only
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert("AsofJoin".r.findAllIn(plan).length == 1,
      s"expected one AsofJoin node, plan:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Union"),
      s"merge shape must not plan a window or union:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
  }
}
