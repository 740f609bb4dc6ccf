package graft.ext

import java.sql.Timestamp

import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Randomized cross-checks: AsofJoin and RangeJoin against brute-force
  * Scala-collection references on generated data. Deterministic seeds —
  * failures reproduce. Small key/time domains force the interesting
  * collisions (equal timestamps, multi-match, empty keys, NULL keys) to
  * actually occur in every run. */
class JoinPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val base = 1704067200000L // 2024-01-01 00:00:00 UTC, millis

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, rng.Seed(seed))

  // (id, key, second-offset) rows; tight domains to force collisions
  private def rowsGen(n: Int): Gen[List[(Long, Long, Int)]] =
    Gen.listOfN(n, for {
      key <- Gen.choose(0L, 4L)
      off <- Gen.choose(0, 120)
    } yield (key, off)).map(_.zipWithIndex.map {
      case ((k, o), i) => (i.toLong, k, o)
    })

  // as-of inputs: left (id, key, ts millis); right (key, ts millis, px),
  // unique per (key, ts), so no tie is needed
  private type L = (Long, Option[Long], Long)
  private type R = (Option[Long], Long, Double)
  // right rows that may share a (key, ts): (key, ts millis, px, tie)
  private type RT = (Option[Long], Long, Double, Option[Long])

  // (id, key, offset) rows with about one key in six NULL, offsets scaled
  // to millis; right rows keep the max id per (key, ts) as their px
  private def asofInputs(nLeft: Int, nRight: Int, keys: Long, maxOff: Int,
                         unit: Long, seed: Long): (Seq[L], Seq[R]) = {
    def gen(n: Int) = Gen.listOfN(n, for {
      key <- Gen.frequency(
        1 -> Gen.const(Option.empty[Long]), 5 -> Gen.choose(0L, keys).map(Option(_)))
      off <- Gen.choose(0, maxOff)
    } yield (key, base + off * unit)).map(_.zipWithIndex.map {
      case ((k, t), i) => (i.toLong, k, t)
    })
    val right = sample(gen(nRight), seed + 100)
      .groupBy(r => (r._2, r._3)).values.map(_.maxBy(_._1))
      .map { case (id, k, t) => (k, t, id.toDouble) }.toSeq
    (sample(gen(nLeft), seed), right)
  }

  /** AsofJoin against a brute-force scan of `right`: the nearest row with
    * an EQUAL NON-NULL key at-or-before (backward) or at-or-after
    * (forward) the left ts, no further away than the tolerance. */
  private def assertAsof(left: Seq[L], right: Seq[R], forward: Boolean,
                         tolSeconds: Option[Long], label: String): Unit =
    assertAsofTie(left, right.map { case (k, t, px) => (k, t, px, None) },
      forward, tolSeconds, label, withTie = false)

  /** [[assertAsof]] on right rows that may share a (key, ts): with the tie
    * column passed, the answer is any row at the nearest ts with the
    * highest tie (a non-NULL tie beats NULL). */
  private def assertAsofTie(left: Seq[L], right: Seq[RT], forward: Boolean,
                            tolSeconds: Option[Long], label: String,
                            withTie: Boolean = true): Unit = {
    val spark0 = spark
    import spark0.implicits._
    val ldf = left.map { case (id, k, t) => (id, k, new Timestamp(t)) }
      .toDF("id", "k", "ts")
    val rdf = right.map { case (k, t, px, tie) => (k, new Timestamp(t), px, tie) }
      .toDF("k", "ts", "px", "tie")
    val join = if (forward) AsofJoin.forward _ else AsofJoin.backward _
    val rows = join(ldf, rdf, "k", "ts", Seq("px"), tolSeconds,
      Option.when(withTie)("tie")).collect()
    assert(rows.length == left.size, s"$label: every left row exactly once")
    val got = rows.map(r => r.getAs[Long]("id") ->
      Option(r.getAs[java.lang.Double]("px")).map(_.toDouble)).toMap
    left.foreach { case (id, k, t) =>
      val cands = right.filter { case (rk, rt, _, _) =>
        k.isDefined && rk == k && (if (forward) rt >= t else rt <= t) &&
          tolSeconds.forall(s => math.abs(rt - t) <= s * 1000L)
      }
      val expected: Set[Option[Double]] =
        if (cands.isEmpty) Set(None) else {
          val nearest = if (forward) cands.map(_._2).min else cands.map(_._2).max
          val atTs = cands.filter(_._2 == nearest)
          val top = atTs.map(_._4).max
          atTs.filter(_._4 == top).map(r => Option(r._3)).toSet
        }
      assert(expected(got(id)), s"$label id=$id key=$k ts=$t got=${got(id)} expected=$expected")
    }
  }

  // duplicate (key, ts) right rows; px is the row id, so the winner is
  // visible, and the tie is NULL in about one row in five
  private def asofTieInputs(seed: Long): (Seq[L], Seq[RT]) = {
    val (left, _) = asofInputs(50, 0, 3L, 30, 1000L, seed)
    val right = sample(Gen.listOfN(60, for {
      key <- Gen.frequency(
        1 -> Gen.const(Option.empty[Long]), 5 -> Gen.choose(0L, 3L).map(Option(_)))
      off <- Gen.choose(0, 30)
      tie <- Gen.frequency(
        1 -> Gen.const(Option.empty[Long]), 4 -> Gen.choose(0L, 9L).map(Option(_)))
    } yield (key, base + off * 1000L, tie)), seed + 200).zipWithIndex.map {
      case ((k, t, tie), i) => (k, t, i.toDouble, tie)
    }
    (left, right)
  }

  test("AsofJoin.backward with a tie matches brute force on duplicate right rows (5 seeds)") {
    for (seed <- 41L to 45L) {
      val (left, right) = asofTieInputs(seed)
      assertAsofTie(left, right, forward = false, None, s"tie seed=$seed")
    }
  }

  test("AsofJoin.forward with a tie matches brute force on duplicate right rows (5 seeds)") {
    for (seed <- 46L to 50L) {
      val (left, right) = asofTieInputs(seed)
      assertAsofTie(left, right, forward = true, None, s"fwd tie seed=$seed")
    }
  }

  test("AsofJoin tolerance with a tie matches brute force on duplicate right rows (5 seeds)") {
    for (seed <- 56L to 60L) {
      val (left, right) = asofTieInputs(seed)
      assertAsofTie(left, right, forward = false, Some(4L), s"tol tie seed=$seed")
      assertAsofTie(left, right, forward = true, Some(4L), s"fwd tol tie seed=$seed")
    }
  }

  test("AsofJoin.backward matches brute force on random data (5 seeds)") {
    for (seed <- 1L to 5L) {
      val (left, right) = asofInputs(60, 40, 4L, 120, 1000L, seed)
      assertAsof(left, right, forward = false, None, s"seed=$seed")
    }
  }

  test("AsofJoin.forward + tolerance match brute force on random data (5 seeds)") {
    for (seed <- 21L to 25L) {
      val (left, right) = asofInputs(50, 35, 4L, 120, 1000L, seed)
      assertAsof(left, right, forward = true, None, s"fwd seed=$seed")
      assertAsof(left, right, forward = true, Some(15L), s"fwd tol seed=$seed")
      assertAsof(left, right, forward = false, Some(15L), s"tol seed=$seed")
    }
  }

  test("AsofJoin tolerance at millisecond resolution matches brute force (5 seeds)") {
    // sub-second offsets: the tolerance gate must compare true microsecond
    // gaps — a floor-to-seconds gate is off by up to ~1s either way here
    for (seed <- 31L to 35L) {
      val (left, right) = asofInputs(50, 50, 3L, 5000, 1L, seed)
      assertAsof(left, right, forward = false, Some(2L), s"ms-tol seed=$seed")
      assertAsof(left, right, forward = true, Some(2L), s"ms-fwd-tol seed=$seed")
    }
  }

  test("AsofJoin on wide random frames matches brute force (3 seeds)") {
    // 300 x 200 rows over 7 keys at 100 ms steps across ~2.8 h: many
    // matches per key, so the merge crosses keys and ties mid-partition
    for (seed <- 1L to 3L) {
      val rnd = new java.util.Random(seed)
      def t(): Long = 1700000000000L + rnd.nextInt(100000) * 100L
      val left: Seq[L] = (1 to 300).map { i =>
        val k = rnd.nextInt(7).toLong
        (i.toLong, Some(k), t())
      }
      val right: Seq[R] = (1 to 200).map(_ =>
          (Some(rnd.nextInt(7).toLong): Option[Long], t(),
            math.round(rnd.nextDouble() * 100) / 10.0))
        .groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq
      for (fwd <- Seq(false, true); tol <- Seq(None, Some(3600L)))
        assertAsof(left, right, fwd, tol, s"seed=$seed fwd=$fwd tol=$tol")
    }
  }

  test("RangeJoin.pointInInterval matches brute force on random data (5 seeds)") {
    val spark0 = spark
    import spark0.implicits._
    for (seed <- 11L to 15L) {
      val points = sample(rowsGen(60), seed)
      val intervals = sample(rowsGen(30), seed + 100).map {
        case (id, k, o) =>
          val len = ((id * 7919 + seed) % 40).toInt - 5 // some empty/inverted
          (id, k, o, o + len)
      }
      val pdf = points.map { case (id, k, o) =>
        (id, k, new Timestamp(base + o * 1000L)) }.toDF("id", "k", "ts")
      val idf = intervals.map { case (id, k, s, e) =>
        (id, k, new Timestamp(base + s * 1000L), new Timestamp(base + e * 1000L))
      }.toDF("iid", "k", "w_start", "w_end")

      val got = RangeJoin.pointInInterval(pdf, idf, "ts", "w_start", "w_end",
          keys = Seq("k"), binSeconds = 13L)
        .select("id", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

      val expected = (for {
        (pid, pk, po) <- points
        (iid, ik, s, e) <- intervals
        if pk == ik && po >= s && po < e
      } yield (pid, iid)).toSet
      assert(got == expected, s"seed=$seed")
    }
  }
}
