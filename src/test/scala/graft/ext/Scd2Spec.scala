package graft.ext

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class Scd2Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(s: Long) = new Timestamp(s * 1000L)

  // user 1: basic@10 -> basic@20 (no change) -> gold@30 -> basic@40
  // user 2: gold@15 only
  private def obs = {
    val spark0 = spark
    import spark0.implicits._
    Seq(
      (1L, ts(10), 100L, "basic"),
      (1L, ts(20), 101L, "basic"),
      (1L, ts(30), 102L, "gold"),
      (1L, ts(40), 103L, "basic"),
      (2L, ts(15), 104L, "gold")
    ).toDF("user_id", "t", "event_id", "tier")
  }

  test("buildHistory: consecutive duplicates collapse, intervals chain") {
    val h = Scd2.buildHistory(obs, "user_id", "t", "event_id", "tier")
      .orderBy("user_id", "version").collect()
    assert(h.length == 4) // u1 has 3 versions (dup collapsed), u2 has 1
    val u1 = h.filter(_.getLong(0) == 1L)
    assert(u1.map(_.getString(1)).toSeq == Seq("basic", "gold", "basic"))
    assert(u1.map(_.getLong(2)).toSeq ==
      Seq(10000000L, 30000000L, 40000000L)) // epoch micros
    // valid_to chains to the next valid_from; last is NULL (current)
    assert(u1.map(r => if (r.isNullAt(3)) -1L else r.getLong(3)).toSeq ==
      Seq(30000000L, 40000000L, -1L))
    assert(u1.map(_.getLong(4)).toSeq == Seq(1L, 2L, 3L))
  }

  test("pointInTime: facts see the version active at their ts, inclusive") {
    val spark0 = spark
    import spark0.implicits._
    val facts = Seq(
      (1L, ts(5), 1L),   // before first change -> NULL
      (1L, ts(10), 2L),  // exactly at first change -> basic (inclusive)
      (1L, ts(25), 3L),  // between obs 20 and 30 -> basic
      (1L, ts(30), 4L),  // exactly at gold change -> gold
      (1L, ts(99), 5L),  // after last change -> basic
      (2L, ts(20), 6L)   // u2 -> gold
    ).toDF("user_id", "t", "event_id")
    val out = Scd2.pointInTime(facts, obs, "user_id", "t", "event_id",
        "tier", Seq("event_id"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(out == Map(1L -> null, 2L -> "basic", 3L -> "basic",
      4L -> "gold", 5L -> "basic", 6L -> "gold"))
  }

  test("applyBatch: incremental == rebuild; new keys, untouched keys, numbering") {
    val spark0 = spark
    import spark0.implicits._
    val hist = Scd2.buildHistory(obs, "user_id", "t", "event_id", "tier")
    // batch: u1 flips to gold (closes version 3, opens 4); u3 is brand
    // new; u2 receives nothing and must pass through untouched
    val batch = Seq(
      (1L, ts(50), 200L, "gold"),
      (1L, ts(60), 201L, "gold"), // consecutive dup — must collapse
      (3L, ts(55), 202L, "basic")
    ).toDF("user_id", "t", "event_id", "tier")
    val inc = Scd2.applyBatch(hist, batch, "user_id", "t", "event_id",
      "tier")
    val full = Scd2.buildHistory(
      obs.unionByName(batch), "user_id", "t", "event_id", "tier")
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4)))
      .sortBy(x => (x._1, x._5)).toSeq
    assert(norm(inc) == norm(full))
    // u1's new version numbering continues (4 versions), u3 starts at 1
    val byKey = norm(inc).groupBy(_._1)
    assert(byKey(1L).map(_._5) == Seq(1L, 2L, 3L, 4L))
    assert(byKey(2L).map(_._5) == Seq(1L))
    assert(byKey(3L).map(_._5) == Seq(1L))
  }

  test("pointInTime: same-ts changes — the highest-tie version wins") {
    val spark0 = spark
    import spark0.implicits._
    // two changes at t=10 (event ids 100 then 101): facts at 10 see the
    // later one, matching the empty-[t,t)-interval join semantics
    val o = Seq((1L, ts(10), 100L, "a"), (1L, ts(10), 101L, "b"))
      .toDF("user_id", "t", "event_id", "tier")
    val f = Seq((1L, ts(10), 1L), (1L, ts(11), 2L))
      .toDF("user_id", "t", "event_id")
    val out = Scd2.pointInTime(f, o, "user_id", "t", "event_id", "tier",
        Seq("event_id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "b", 2L -> "b"))
  }

  test("pointInTime: a NULL-key fact gets NULL, even after a NULL-key change") {
    val spark0 = spark
    import spark0.implicits._
    // a NULL-key purchase, then a later NULL-key click: NULL = NULL is not
    // a match, as in the oracle's LEFT JOIN ... ON f.user_id = d.user_id
    val o = Seq((Option.empty[Long], ts(10), 100L, "gold"),
        (Some(1L), ts(10), 101L, "basic"))
      .toDF("user_id", "t", "event_id", "tier")
    val f = Seq((2L, Option.empty[Long], ts(20)), (3L, Some(1L), ts(20)))
      .toDF("event_id", "user_id", "t")
    val out = Scd2.pointInTime(f, o, "user_id", "t", "event_id", "tier",
        Seq("event_id", "user_id"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(out == Map(2L -> None, 3L -> Some("basic")))
  }

  test("pointInTime matches brute force on random data (5 seeds)") {
    val spark0 = spark
    import spark0.implicits._
    // tight domains: same-ts changes, NULL keys (about one in six), NULL
    // attributes (one in five) and repeated attributes all occur
    def key(rnd: java.util.Random) =
      if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(4).toLong)
    for (seed <- 51L to 55L) {
      val rnd = new java.util.Random(seed)
      val o = (1 to 40).map { i =>
        (key(rnd), rnd.nextInt(30).toLong, 1000L + i,
          if (rnd.nextInt(5) == 0) None else Some("abc".charAt(rnd.nextInt(3)).toString))
      }
      val f = (1 to 60).map(i => (i.toLong, key(rnd), rnd.nextInt(36).toLong))
      val out = Scd2.pointInTime(
          f.map { case (id, k, t) => (id, k, ts(t)) }.toDF("event_id", "user_id", "t"),
          o.map { case (k, t, tie, a) => (k, ts(t), tie, a) }
            .toDF("user_id", "t", "event_id", "tier"),
          "user_id", "t", "event_id", "tier", Seq("event_id"))
        .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(out.size == f.size, s"seed=$seed: every fact exactly once")
      f.foreach { case (id, k, t) =>
        // the last non-NULL attribute at or before t in (ts, tie) order,
        // equal non-NULL keys only
        val expected = o
          .filter { case (ok, ot, _, a) => k.isDefined && ok == k && ot <= t && a.isDefined }
          .maxByOption { case (_, ot, tie, _) => (ot, tie) }.flatMap(_._4)
        assert(out(id) == expected, s"seed=$seed id=$id key=$k t=$t")
      }
    }
  }
}
