package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Q-digest quantile summary over a bounded integer universe
  * (Shrivastava, Buragohain, Agrawal & Suri 2004, "Medians and beyond:
  * new aggregation techniques for sensor networks"), the deterministic
  * mergeable complement to the existing sketch family: count-min answers
  * "how often is X?" ([[CountMinAgg]]), SpaceSaving "WHICH items are
  * frequent?" ([[SpaceSavingAgg]]), HLL "how many distinct?" — q-digest
  * answers "what value sits at rank q·n?" in fixed memory. Spark's
  * built-in `approx_percentile` covers the ad-hoc case; this class exists
  * for the INDEX shape the built-in can't give you: the digest is a plain
  * `Array[Long]` column value, so per-group digests can be persisted,
  * unioned across days, and re-merged incrementally (the same
  * precompute-then-merge contract as the band index in
  * [[graft.ext.Dedup.writeBandIndex]]).
  *
  * Values must be pre-quantized into `[0, 2^bits)` by the caller (the
  * callers here quantize to cents / micro-units, same convention as
  * [[graft.ext.Similarity.labelStats]]). The digest is a set of
  * (nodeId, count) pairs over the complete binary tree on the universe
  * (root = 1, leaf for value v = 2^bits + v), kept canonically sorted by
  * nodeId. The q-digest compression rule with factor `k` merges any
  * sibling pair whose (self + sibling + parent) mass is ≤ ⌊n/k⌋ into the
  * parent, so at most 3k entries survive regardless of n, and every
  * stored non-leaf carries ≤ ⌊n/k⌋ mass. A quantile read walks the nodes
  * in right-endpoint order and reports the leaf-range maximum of the node
  * where the cumulative count crosses ⌈q·n⌉; the ancestor mass that could
  * sit anywhere inside a node's range bounds the rank error by
  * ε·n with ε = bits/k (tree height × per-node mass bound).
  *
  * Distribution shape: the buffer is a flat (id, count) long array,
  * partially aggregated map-side — a corpus-wide quantile pass over
  * 100 TB shuffles |partitions| digests of ≤ 3k pairs each (k = 2048 →
  * ≤ 96 KiB), never the value stream, and per-key digests merge in any
  * order. Merge ORDER does affect which compressions fire early (the
  * threshold grows with n), so estimate VALUES can vary run-to-run while
  * the ε·n rank guarantee holds under every order — consumers compare
  * against the invariant, not golden values, exactly like
  * [[SpaceSavingAgg]] (see QuantileSketchAnchor + QDigestSpec).
  *
  * BUFFER layout (internal — [[finish]] strips it): slot 0 holds the
  * logical payload length; (id, count) pairs follow at indices 1..len.
  * Spark's typed-Aggregator path (`ScalaAggregator`, a
  * `TypedImperativeAggregate` under `ObjectHashAggregateExec`) keeps the
  * buffer as a live object between rows, so [[reduce]] appends IN PLACE
  * into capacity slack and only reallocates when capacity is exhausted
  * (doubling) — amortized O(1) per row, with an O(size·log size)
  * canonicalize every ~4k rows once the scratch tail exceeds the
  * compressed size bound. (The round-10 version returned
  * `Arrays.copyOf(b, b.length + 2)` on EVERY row — an O(buffer) copy that
  * near the canonicalize threshold memcpy'd ~160 KB per input row and made
  * the digest pass ~10× its intrinsic cost; see PERF_NOTES round-11.)
  * A buffer serialized mid-scratch (partial-aggregation output) carries
  * its slack, but the header bounds what merge reads, so it stays
  * well-formed. The FINISHED digest is a plain compact (id, count) array
  * with no header — the format [[quantile]]/[[total]]/[[entries]] and all
  * persisted per-group digests use, unchanged.
  */
final class QDigestAgg(val bits: Int = 20, val k: Int = 2048)
    extends Aggregator[Long, Array[Long], Array[Long]] {
  require(bits > 0 && bits < 62, s"bits must be in [1, 61], got $bits")
  require(k > 0, "compression factor k must be positive")

  private val leafBase = 1L << bits
  // Scratch bound (payload longs): canonicalize once the tail outgrows the
  // compressed size by this much; capacity never exceeds ~2x this bound.
  private val scratchCap = 2 * (3 * k + 4096)

  override def zero: Array[Long] = Array(0L)

  override def reduce(b: Array[Long], value: Long): Array[Long] = {
    require(value >= 0 && value < leafBase,
      s"value $value outside quantized universe [0, $leafBase)")
    val used = b(0).toInt
    val buf =
      if (1 + used + 2 > b.length)
        java.util.Arrays.copyOf(b, math.max(2 * b.length, 1 + used + 2))
      else b
    buf(1 + used) = leafBase + value
    buf(2 + used) = 1L
    buf(0) = used + 2
    if (used + 2 > scratchCap) QDigestAgg.rewrap(buf, bits, k) else buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    if (a(0) == 0L) return b
    if (b(0) == 0L) return a
    val la = a(0).toInt; val lb = b(0).toInt
    val cat = new Array[Long](la + lb)
    System.arraycopy(a, 1, cat, 0, la)
    System.arraycopy(b, 1, cat, la, lb)
    QDigestAgg.withHeader(QDigestAgg.canonicalize(cat, bits, k))
  }

  override def finish(r: Array[Long]): Array[Long] =
    QDigestAgg.canonicalize(
      java.util.Arrays.copyOfRange(r, 1, 1 + r(0).toInt), bits, k)

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}

/** [[QDigestAgg]] over PRE-AGGREGATED (value, count) rows — the r13
  * single-scan shape: callers histogram the value stream first (one
  * codegen hash aggregate, map-side partials, value-domain-bounded
  * output) and feed each distinct value ONCE with its multiplicity,
  * instead of streaming every raw row through the typed-Aggregator
  * encoder boundary. The digest obeys the identical ε·n rank guarantee
  * and ≤ 3k size bound — compression decisions see the same (id, mass)
  * multiset; only the (guarantee-irrelevant, see [[QDigestAgg]] Scaladoc)
  * early-compression order differs from row-at-a-time insertion. */
final class QDigestWeightedAgg(val bits: Int = 20, val k: Int = 2048)
    extends Aggregator[(Long, Long), Array[Long], Array[Long]] {
  require(bits > 0 && bits < 62, s"bits must be in [1, 61], got $bits")
  require(k > 0, "compression factor k must be positive")

  private val leafBase = 1L << bits
  private val scratchCap = 2 * (3 * k + 4096)

  override def zero: Array[Long] = Array(0L)

  override def reduce(b: Array[Long], vw: (Long, Long)): Array[Long] = {
    val (value, w) = vw
    require(value >= 0 && value < leafBase,
      s"value $value outside quantized universe [0, $leafBase)")
    require(w >= 0, s"weight $w must be non-negative")
    if (w == 0L) return b
    val used = b(0).toInt
    val buf =
      if (1 + used + 2 > b.length)
        java.util.Arrays.copyOf(b, math.max(2 * b.length, 1 + used + 2))
      else b
    buf(1 + used) = leafBase + value
    buf(2 + used) = w
    buf(0) = used + 2
    if (used + 2 > scratchCap) QDigestAgg.rewrap(buf, bits, k) else buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    if (a(0) == 0L) return b
    if (b(0) == 0L) return a
    val la = a(0).toInt; val lb = b(0).toInt
    val cat = new Array[Long](la + lb)
    System.arraycopy(a, 1, cat, 0, la)
    System.arraycopy(b, 1, cat, la, lb)
    QDigestAgg.withHeader(QDigestAgg.canonicalize(cat, bits, k))
  }

  override def finish(r: Array[Long]): Array[Long] =
    QDigestAgg.canonicalize(
      java.util.Arrays.copyOfRange(r, 1, 1 + r(0).toInt), bits, k)

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}

object QDigestAgg {

  /** Canonicalize a headered scratch buffer, returning a fresh compact
    * headered buffer (subsequent appends re-grow by doubling). */
  private[functions] def rewrap(buf: Array[Long], bits: Int, k: Int): Array[Long] =
    withHeader(canonicalize(
      java.util.Arrays.copyOfRange(buf, 1, 1 + buf(0).toInt), bits, k))

  /** Prefix a compact pairs array with the length-header slot. */
  private[functions] def withHeader(pairs: Array[Long]): Array[Long] = {
    val out = new Array[Long](1 + pairs.length)
    out(0) = pairs.length
    System.arraycopy(pairs, 0, out, 1, pairs.length)
    out
  }

  /** Sum duplicate node ids, sort by id, then run the q-digest
    * compression bottom-up: merge any sibling pair (plus parent) carrying
    * ≤ ⌊n/k⌋ total mass into the parent. Returns a fresh canonical array.
    *
    * Primitive arrays throughout: an open-addressing table sums the
    * duplicates, `Arrays.sort` orders the ids, and since a node's level is
    * the position of its highest bit, the sorted ids fall into one
    * contiguous run per tree level. Compression is then one ascending
    * merge-walk of level L against level L−1 per level, leaves first. A
    * sibling pair's decision reads only its own two counts and its
    * parent's, and only that pair writes the parent, so deciding the
    * pairs of a level in one pass is exact; the parents it creates join
    * level L−1 before that level is walked, which keeps one call within
    * the paper's ≤ 3k size bound. Zero counts are dropped. */
  private[functions] def canonicalize(pairs: Array[Long], bits: Int,
                                      k: Int): Array[Long] = {
    if (pairs.isEmpty) return pairs
    // Node ids are >= 1 (root = 1), so 0 marks an empty slot; at least
    // two slots per pair keep the table at most half full.
    var slots = 2
    while (slots < pairs.length) slots <<= 1
    val mask = slots - 1
    val keys = new Array[Long](slots)
    val sums = new Array[Long](slots)
    def slotOf(id: Long): Int = {
      var s = ((id * 0x9E3779B97F4A7C15L) >>> 32).toInt & mask
      while (keys(s) != 0L && keys(s) != id) s = (s + 1) & mask
      s
    }
    var n = 0L
    var d = 0
    var i = 0
    while (i < pairs.length) {
      val id = pairs(i); val c = pairs(i + 1)
      n += c
      if (c != 0L) {
        require(id > 0L, s"q-digest node id must be positive, got $id")
        val s = slotOf(id)
        if (keys(s) == 0L) { keys(s) = id; d += 1 }
        sums(s) += c
      }
      i += 2
    }
    val ids = new Array[Long](d)
    var j = 0
    i = 0
    while (i < slots) { if (keys(i) != 0L) { ids(j) = keys(i); j += 1 }; i += 1 }
    java.util.Arrays.sort(ids)
    val cnt = new Array[Long](d)
    i = 0
    while (i < d) { cnt(i) = sums(slotOf(ids(i))); i += 1 }

    val threshold = n / k
    val (outIds, outCnt, from) =
      if (threshold > 0) compress(ids, cnt, bits, threshold) else (ids, cnt, 0)
    val out = new Array[Long](2 * (d - from))
    i = from
    while (i < d) {
      out(2 * (i - from)) = outIds(i); out(2 * (i - from) + 1) = outCnt(i)
      i += 1
    }
    out
  }

  /** The level walk of [[canonicalize]] over distinct sorted `ids` with
    * their counts. Returns arrays whose slots `[from, ids.length)` hold the
    * surviving nodes in ascending id order. */
  private def compress(ids: Array[Long], cnt: Array[Long], bits: Int,
                       threshold: Long): (Array[Long], Array[Long], Int) = {
    val d = ids.length
    // start(L): index of the first id at level >= L (ids in [2^L, 2^(L+1)))
    val start = new Array[Int](bits + 2)
    var lvl = 0
    var i = 0
    while (lvl <= bits + 1) {
      while (i < d && ids(i) < (1L << lvl)) i += 1
      start(lvl) = i
      lvl += 1
    }
    // Finished levels fill the output from the top down. Ids past the leaf
    // level are outside the tree and stay as they are.
    val outIds = new Array[Long](d)
    val outCnt = new Array[Long](d)
    var top = start(bits + 1)
    System.arraycopy(ids, top, outIds, top, d - top)
    System.arraycopy(cnt, top, outCnt, top, d - top)
    // The level being walked, and the next one up it builds; the live
    // node count never exceeds d, so d slots hold either.
    var curIds = new Array[Long](d); var curCnt = new Array[Long](d)
    var nxtIds = new Array[Long](d); var nxtCnt = new Array[Long](d)
    val keepIds = new Array[Long](d); val keepCnt = new Array[Long](d)
    var nc = start(bits + 1) - start(bits)
    System.arraycopy(ids, start(bits), curIds, 0, nc)
    System.arraycopy(cnt, start(bits), curCnt, 0, nc)
    lvl = bits
    while (lvl >= 1) {
      val pe = start(lvl)
      var p = start(lvl - 1)
      var nn = 0
      var nk = 0
      i = 0
      while (i < nc) {
        val id = curIds(i); val c = curCnt(i)
        val pair = (id & 1L) == 0L && i + 1 < nc && curIds(i + 1) == id + 1
        val cSib = if (pair) curCnt(i + 1) else 0L
        val par = id >>> 1
        while (p < pe && ids(p) < par) {
          nxtIds(nn) = ids(p); nxtCnt(nn) = cnt(p); nn += 1; p += 1
        }
        val hasPar = p < pe && ids(p) == par
        val cPar = if (hasPar) cnt(p) else 0L
        if (hasPar) p += 1
        if (c + cSib + cPar <= threshold) {
          nxtIds(nn) = par; nxtCnt(nn) = cPar + c + cSib; nn += 1
        } else {
          if (hasPar) { nxtIds(nn) = par; nxtCnt(nn) = cPar; nn += 1 }
          keepIds(nk) = id; keepCnt(nk) = c; nk += 1
          if (pair) { keepIds(nk) = id + 1; keepCnt(nk) = cSib; nk += 1 }
        }
        i += (if (pair) 2 else 1)
      }
      while (p < pe) { nxtIds(nn) = ids(p); nxtCnt(nn) = cnt(p); nn += 1; p += 1 }
      top -= nk
      System.arraycopy(keepIds, 0, outIds, top, nk)
      System.arraycopy(keepCnt, 0, outCnt, top, nk)
      val ti = curIds; curIds = nxtIds; nxtIds = ti
      val tc = curCnt; curCnt = nxtCnt; nxtCnt = tc
      nc = nn
      lvl -= 1
    }
    // level 0: the root, if present or created
    top -= nc
    System.arraycopy(curIds, 0, outIds, top, nc)
    System.arraycopy(curCnt, 0, outCnt, top, nc)
    (outIds, outCnt, top)
  }

  private def leafRange(id: Long, bits: Int): (Long, Long) = {
    // Leftmost/rightmost leaf VALUE covered by tree node `id`.
    var lo = id
    var hi = id
    val leafBase = 1L << bits
    while (lo < leafBase) { lo = lo << 1; hi = (hi << 1) | 1L }
    (lo - leafBase, hi - leafBase)
  }

  /** Total mass in the digest. */
  def total(digest: Array[Long]): Long = {
    var n = 0L; var i = 1
    while (i < digest.length) { n += digest(i); i += 2 }
    n
  }

  /** The q-digest quantile read: nodes in (rightLeaf, leftLeaf) order,
    * report the right endpoint of the node where the cumulative mass
    * crosses ⌈q·n⌉. Deterministic for a given digest. */
  def quantile(digest: Array[Long], bits: Int, q: Double): Long = {
    require(q >= 0.0 && q <= 1.0, s"quantile must be in [0,1], got $q")
    val n = total(digest)
    if (n == 0) return 0L
    val target = math.max(1L, math.ceil(q * n).toLong)
    val nodes = Array.tabulate(digest.length / 2) { i =>
      val (lo, hi) = leafRange(digest(2 * i), bits)
      (hi, lo, digest(2 * i + 1))
    }.sortBy(t => (t._1, t._2))
    var cum = 0L
    var i = 0
    while (i < nodes.length) {
      cum += nodes(i)._3
      if (cum >= target) return nodes(i)._1
      i += 1
    }
    nodes.last._1
  }

  /** Number of stored (nodeId, count) entries — bounded by 3k after
    * canonicalization (the paper's size theorem). */
  def entries(digest: Array[Long]): Int = digest.length / 2
}
