package graft.functions

import org.scalacheck.{Gen, Prop, Test, rng}
import org.scalatest.funsuite.AnyFunSuite

/** Q-digest invariants (Shrivastava et al. 2004): quantile reads stay
  * within the ε·n rank guarantee (ε = bits/k), the compressed digest
  * respects the 3k size theorem, total mass is conserved exactly, and the
  * guarantees survive merging partial digests in any order — the property
  * that makes the sketch a fixed-size shuffle payload at corpus scale. */
class QDigestSpec extends AnyFunSuite {

  private val bits = 10 // universe [0, 1024)
  private val k = 64    // eps = 10/64 ~ 0.156

  private def exactRank(data: Seq[Long], v: Long): (Long, Long) =
    (data.count(_ < v).toLong, data.count(_ <= v).toLong)

  private def checkQuantiles(digest: Array[Long], data: Seq[Long],
                             epsFactor: Double = 1.0): Unit = {
    val n = data.size.toLong
    assert(QDigestAgg.total(digest) == n, "mass not conserved")
    val bound = (epsFactor * bits.toDouble / k * n).toLong + 1
    Seq(0.05, 0.25, 0.5, 0.75, 0.95).foreach { q =>
      val v = QDigestAgg.quantile(digest, bits, q)
      val (lo, hi) = exactRank(data, v)
      val target = math.max(1L, math.ceil(q * n).toLong)
      assert(hi >= target - bound && lo + 1 <= target + bound,
        s"q=$q reported $v rank[$lo,$hi] target $target bound $bound")
    }
  }

  // Deterministic skewed data: quadratic ramp + a heavy spike at 700.
  private val data: Seq[Long] =
    (0 until 4000).map(i => (i.toLong * i / 16000) % 1024) ++
      Seq.fill(1500)(700L)

  test("single-stream digest: rank guarantee, size bound, mass") {
    val agg = new QDigestAgg(bits, k)
    val d = agg.finish(data.foldLeft(agg.zero)(agg.reduce))
    assert(QDigestAgg.entries(d) <= 3 * k,
      s"size ${QDigestAgg.entries(d)} > 3k=${3 * k}")
    checkQuantiles(d, data)
  }

  test("merge is order-insensitive for the GUARANTEE (8 shuffled partials)") {
    // Partials stay in BUFFER form (as in Spark's partial->final flow:
    // zero -> reduce* -> serialize -> merge* -> finish); only the final
    // result is finished.
    val agg = new QDigestAgg(bits, k)
    val parts = data.grouped(700).toSeq
      .map(p => p.foldLeft(agg.zero)(agg.reduce))
    Seq(parts, parts.reverse, parts.sortBy(_.length)).foreach {
      order =>
        val merged = agg.finish(order.reduce(agg.merge))
        assert(QDigestAgg.entries(merged) <= 3 * k)
        checkQuantiles(merged, data)
    }
  }

  test("uncompressed regime (n <= k) reads back exact quantiles") {
    // With n below the compression threshold nothing merges upward, so
    // every stored node is a leaf and quantile() is exact.
    val small = Seq(5L, 9L, 13L, 200L, 201L, 202L, 900L, 1000L)
    val agg = new QDigestAgg(bits, k)
    val d = agg.finish(small.foldLeft(agg.zero)(agg.reduce))
    assert(QDigestAgg.quantile(d, bits, 0.5) == 200L) // lower median, rank 4
    assert(QDigestAgg.quantile(d, bits, 1.0) == 1000L)
    assert(QDigestAgg.quantile(d, bits, 0.0) == 5L)
  }

  test("out-of-universe values are rejected loudly") {
    val agg = new QDigestAgg(bits, k)
    intercept[IllegalArgumentException](agg.reduce(agg.zero, 1024L))
    intercept[IllegalArgumentException](agg.reduce(agg.zero, -1L))
  }

  test("duplicate node ids from concatenated partials sum, not clobber") {
    val agg = new QDigestAgg(bits, k)
    val a = Seq.fill(10)(7L).foldLeft(agg.zero)(agg.reduce)
    val b = Seq.fill(5)(7L).foldLeft(agg.zero)(agg.reduce)
    val m = agg.finish(agg.merge(a, b))
    assert(QDigestAgg.total(m) == 15L)
    assert(QDigestAgg.quantile(m, bits, 0.5) == 7L)
  }

  test("reduce appends in place: amortized O(1), not O(buffer) per row") {
    // 200k rows through one buffer. With the round-10 per-row
    // Arrays.copyOf this test alone memcpy'd ~O(n * scratch) long slots;
    // with capacity slack it is a handful of doublings + periodic
    // canonicalize. Guard: the identical-array fast path must dominate —
    // reduce returns the SAME array object on all but O(log n + n/scratch)
    // calls.
    val agg = new QDigestAgg(bits, k)
    var buf = agg.zero
    var reallocs = 0
    var i = 0
    while (i < 200000) {
      val next = agg.reduce(buf, (i % 1024).toLong)
      if (!(next eq buf)) reallocs += 1
      buf = next
      i += 1
    }
    // scratch bound = 2*(3k+4096) payload longs -> a canonicalize roughly
    // every ~scratch/2 rows plus ~log2(scratch) doublings; anything near
    // 200k reallocs means the per-row copy came back.
    assert(reallocs < 2000, s"reallocs=$reallocs — per-row copy regressed?")
    val d = agg.finish(buf)
    assert(QDigestAgg.total(d) == 200000L)
    checkQuantiles(d, (0 until 200000).map(i => (i % 1024).toLong))
  }

  test("weighted digest over the histogram meets the same guarantees") {
    // r13: QDigestWeightedAgg consumes PRE-AGGREGATED (value, count)
    // rows (the single-scan anchor shape). Same ε·n rank guarantee,
    // size bound, and exact mass as row-at-a-time insertion over the
    // expanded stream; zero-weight rows are no-ops.
    val hist = data.groupBy(identity).map { case (v, vs) =>
      (v, vs.size.toLong) }.toSeq.sortBy(_._1)
    val agg = new QDigestWeightedAgg(bits, k)
    val d = agg.finish(
      (hist :+ (5L, 0L)).foldLeft(agg.zero)(agg.reduce))
    assert(QDigestAgg.entries(d) <= 3 * k,
      s"size ${QDigestAgg.entries(d)} > 3k=${3 * k}")
    checkQuantiles(d, data)
  }

  test("weighted digest merge across shuffled partials holds the bound") {
    val hist = data.groupBy(identity).map { case (v, vs) =>
      (v, vs.size.toLong) }.toSeq
    val agg = new QDigestWeightedAgg(bits, k)
    val parts = hist.zipWithIndex.groupBy(_._2 % 8).values
      .map(_.map(_._1).foldLeft(agg.zero)(agg.reduce)).toSeq
    val d = agg.finish(parts.reduce(agg.merge))
    assert(QDigestAgg.entries(d) <= 3 * k)
    checkQuantiles(d, data)
  }

  test("weighted digest rejects negative weights and bad values loudly") {
    val agg = new QDigestWeightedAgg(bits, k)
    intercept[IllegalArgumentException](agg.reduce(agg.zero, (3L, -1L)))
    intercept[IllegalArgumentException](agg.reduce(agg.zero, (1024L, 1L)))
  }

  test("property: the primitive-array kernel equals the TreeMap reference") {
    // Node ids cluster around one leaf range and are lifted to random
    // levels, so the inputs carry duplicates, sibling pairs, ancestors and
    // inner nodes; counts include zeros; k from 1 (everything merges to
    // the root) to 2048 (nothing merges).
    val input: Gen[(Int, Int, Array[Long])] = for {
      bits <- Gen.choose(1, 24)
      k <- Gen.oneOf(Gen.choose(1, 16), Gen.choose(1, 2048))
      center <- Gen.choose(0L, (1L << bits) - 1)
      node = for {
        off <- Gen.choose(0L, 63L)
        level <- Gen.frequency(3 -> Gen.const(bits), 1 -> Gen.choose(0, bits))
      } yield (1L << level) + (math.min(center + off, (1L << bits) - 1) >>> (bits - level))
      count = Gen.frequency(1 -> Gen.const(0L), 6 -> Gen.choose(1L, 50L),
        1 -> Gen.choose(1L, 100000L))
      pairs <- Gen.choose(0, 300).flatMap(n => Gen.listOfN(n, Gen.zip(node, count)))
    } yield (bits, k, pairs.flatMap { case (id, c) => Seq(id, c) }.toArray)
    val prop = Prop.forAll(input) { case (bits, k, pairs) =>
      java.util.Arrays.equals(QDigestAgg.canonicalize(pairs.clone(), bits, k),
        QDigestSpec.treeMapCanonicalize(pairs, bits, k))
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(2000)
      .withInitialSeed(rng.Seed(20041105L)), prop)
    assert(result.passed, result.status.toString)
  }
}

object QDigestSpec {

  /** The boxed `TreeMap` canonicalization the primitive-array kernel
    * replaced, kept as the reference its output must equal bit for bit. */
  def treeMapCanonicalize(pairs: Array[Long], bits: Int, k: Int): Array[Long] = {
    if (pairs.isEmpty) return pairs
    val m = new java.util.TreeMap[java.lang.Long, java.lang.Long]()
    def getOr0(id: Long): Long = {
      val v = m.get(id)
      if (v == null) 0L else v.longValue()
    }
    var i = 0
    var n = 0L
    while (i < pairs.length) {
      val id = pairs(i); val c = pairs(i + 1)
      if (c != 0L) m.merge(id, c, (x, y) => java.lang.Long.valueOf(x + y))
      n += c
      i += 2
    }
    val threshold = n / k
    if (threshold > 0) {
      var level = bits
      while (level >= 1) {
        val lo = 1L << level
        val hi = (1L << (level + 1)) - 1L
        val ids = m.subMap(lo, true, hi, true).keySet()
          .toArray(new Array[java.lang.Long](0))
        var j = 0
        while (j < ids.length) {
          val id = ids(j).longValue()
          if (m.containsKey(id)) {
            val sib = id ^ 1L
            val par = id >>> 1
            val cur = getOr0(id)
            val cSib = getOr0(sib)
            val cPar = getOr0(par)
            if (cur + cSib + cPar <= threshold) {
              m.remove(id); m.remove(sib)
              m.put(par, cPar + cur + cSib)
            }
          }
          j += 1
        }
        level -= 1
      }
    }
    val out = new Array[Long](2 * m.size())
    val it = m.entrySet().iterator()
    var o = 0
    while (it.hasNext) {
      val e = it.next()
      out(o) = e.getKey; out(o + 1) = e.getValue
      o += 2
    }
    out
  }
}
