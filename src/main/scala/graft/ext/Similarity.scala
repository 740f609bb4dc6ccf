package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextExprs._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`). Two paths:
  *
  *  - `bruteForceTopK` — exact cosine top-k: the probe set broadcasts, the
  *    corpus streams once (map-only scan + per-probe top-k). The baseline
  *    and the verifier for the approximate path.
  *  - `lshTopK` — random-hyperplane LSH: corpus bucketed map-only; probes
  *    multiprobe their bucket plus all 1-bit flips, so candidates are a
  *    small bucket join instead of the full corpus. The 100 TB path: the
  *    corpus shuffle is by bucket (once, reusable), per-query cost is
  *    |bucket| × (nPlanes+1).
  */
object Similarity {

  /** Exact top-k cosine neighbors for each probe id. Output:
    * (vec_id, rank, neighbor_id, cos). */
  def bruteForceTopK(emb: DataFrame, probeIds: Seq[Long], k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val probes = emb
      .filter(col(idCol).isin(probeIds: _*))
      .select(col(idCol).as("vec_id"), col(vecCol).as("pvec"))
    val corpus = emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val scored = corpus.join(broadcast(probes),
        col("neighbor_id") =!= col("vec_id"))
      .select(col("vec_id"), col("neighbor_id"),
        cosine_sim(col("pvec"), col("cvec")).as("cos"))
    topK(scored, k)
  }

  /** Exact-structure top-k over an INT8-QUANTIZED corpus: the form a
    * 100 TB vector store actually keeps (4× less scan/shuffle than
    * float32). Quantization is map-only; cosine is scale-invariant so the
    * per-vector scales cancel and codes compare directly. Results differ
    * from float brute force only by rounding noise (SimilaritySpec pins
    * recall). */
  def bruteForceTopKInt8(emb: DataFrame, probeIds: Seq[Long], k: Int,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    val q = emb.select(col(idCol), quantize_int8(col(vecCol)).as("qvec"))
    val probes = q.filter(col(idCol).isin(probeIds: _*))
      .select(col(idCol).as("vec_id"), col("qvec").as("pvec"))
    val corpus = q.select(col(idCol).as("neighbor_id"), col("qvec").as("cvec"))
    val scored = corpus.join(broadcast(probes),
        col("neighbor_id") =!= col("vec_id"))
      .select(col("vec_id"), col("neighbor_id"),
        cosine_sim_int8(col("pvec"), col("cvec")).as("cos"))
    topK(scored, k)
  }

  /** Approximate top-k via multi-table signed-random-projection LSH
    * (an LSH forest: `nTables` independent tables of `nPlanes` sign bits;
    * candidates = union of same-bucket mates across tables). Same output
    * shape as bruteForceTopK; recall < 1 — tuned so that a neighbor at
    * cosine c (per-bit agreement p = 1 − arccos(c)/π) is retrieved with
    * probability 1 − (1 − p^nPlanes)^nTables. At larger corpora raise
    * nPlanes with log₂|corpus| to keep buckets small; the corpus side is
    * replicated nTables× into the bucket exchange — the classic LSH
    * space-for-recall trade. */
  def lshTopK(emb: DataFrame, probeIds: Seq[Long], k: Int,
              nPlanes: Int = 6, nTables: Int = 16, seed: Long = 42L,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    def tableBuckets(vec: Column): Column = array((0 until nTables).map { t =>
      struct(lit(t).as("tbl"),
        hyperplane_bucket(vec, nPlanes, seed + t * 7919L).as("bucket"))
    }: _*)

    val bucketed = emb.select(
        col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
        explode(tableBuckets(col(vecCol))).as("tb"))
      .select(col("neighbor_id"), col("cvec"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))

    val probes = emb
      .filter(col(idCol).isin(probeIds: _*))
      .select(col(idCol).as("vec_id"), col(vecCol).as("pvec"),
        explode(tableBuckets(col(vecCol))).as("tb"))
      .select(col("vec_id"), col("pvec"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))

    val scored = bucketed.join(broadcast(probes), Seq("tbl", "bucket"))
      .filter(col("neighbor_id") =!= col("vec_id"))
      .select(col("vec_id"), col("neighbor_id"), col("pvec"), col("cvec"))
      .dropDuplicates("vec_id", "neighbor_id")
      .select(col("vec_id"), col("neighbor_id"),
        cosine_sim(col("pvec"), col("cvec")).as("cos"))
    topK(scored, k)
  }

  /** Train an IVF coarse quantizer: spherical k-means on a deterministic
    * sample. The MODEL is driver-side (k×dim floats — bytes, not data);
    * training scans only the sample. At 100 TB: sample fraction keeps the
    * collect bounded (e.g. every 10⁶th row still yields millions of
    * training points; cap with `maxSample`). */
  def trainCentroids(emb: DataFrame, k: Int, sampleEvery: Int = 1,
                     iters: Int = 10, maxSample: Int = 100000,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): Array[Array[Float]] = {
    // orderBy before limit → TakeOrderedAndProject (bounded distributed
    // heap, no global sort): the sample SET and its order are functions of
    // the ids alone. A bare limit+collect would take whatever partitions
    // answer first — single-partition tables hide it (xcheck MATCHes at
    // sf1), but a multi-partition corpus would make the "first k" centroid
    // init, and thus every downstream cluster id, run-nondeterministic.
    val sample = emb
      .filter(col(idCol) % sampleEvery === 0)
      .select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(maxSample)
      .collect().map(_.getSeq[Float](1).toArray)
    require(sample.nonEmpty, "empty training sample")
    val dim = sample.head.length
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < dim) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0) -2.0 else d / den
    }
    // deterministic init: the first k sample vectors
    var centroids = sample.take(k).map(_.clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(centroids.length, dim)(0.0)
      val counts = new Array[Int](centroids.length)
      sample.foreach { v =>
        var best = 0; var bestScore = -2.0
        var c = 0
        while (c < centroids.length) {
          val s = cos(v, centroids(c))
          if (s > bestScore) { bestScore = s; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else Array.tabulate(dim)(i => (sums(c)(i) / counts(c)).toFloat)
      }.toArray
      it += 1
    }
    centroids
  }

  /** IVF search: the corpus assigns to its single nearest cell (map-only,
    * centroids live inside codegen); probes fan out to their `nProbe`
    * nearest cells; candidates = cell-mates. One corpus shuffle by cell —
    * reusable across queries, like the LSH layout. */
  def ivfTopK(emb: DataFrame, probeIds: Seq[Long], k: Int,
              centroids: Array[Array[Float]], nProbe: Int = 4,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val corpus = emb.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
      element_at(nearest_cells(col(vecCol), centroids, 1), 1).as("cell"))
    val probes = emb
      .filter(col(idCol).isin(probeIds: _*))
      .select(col(idCol).as("vec_id"), col(vecCol).as("pvec"),
        explode(nearest_cells(col(vecCol), centroids, nProbe)).as("cell"))
    val scored = corpus.join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("vec_id"))
      .select(col("vec_id"), col("neighbor_id"),
        cosine_sim(col("pvec"), col("cvec")).as("cos"))
    topK(scored, k)
  }

  /** Persist the IVF layout as a cell-partitioned parquet index — the
    * serving form of [[ivfTopK]]: one directory partition per cell, so a
    * probe's candidate read is a PARTITION-PRUNED scan of its nProbe
    * cells' files instead of a full-corpus pass. The write is one
    * map-only assignment (centroids inside codegen) + the partitioned
    * write; rebuild when the centroids move, append new batches with
    * mode("append") — assignment is per-row, so an append never touches
    * existing partitions' data. The [[graft.ext.Dedup.writeBandIndex]]
    * counterpart for dense vectors. */
  def writeIvfIndex(emb: DataFrame, centroids: Array[Array[Float]],
                    path: String, idCol: String = "vec_id",
                    vecCol: String = "embedding"): Unit =
    emb.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"),
        element_at(nearest_cells(col(vecCol), centroids, 1), 1)
          .as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Serve top-k from a persisted [[writeIvfIndex]] directory. The probe
    * set is bounded by contract (the bruteForceTopK discipline), so its
    * nProbe cell ids collect to the driver and become a STATIC
    * `cell IN (...)` predicate — guaranteed partition pruning visible in
    * the scan's PartitionFilters (IvfIndexSpec asserts it), no reliance
    * on runtime DPP firing. Per query the index contributes only the
    * probed cells' files; the join inside is the same broadcast
    * cell-join as the in-memory path, so results are identical
    * (spec-pinned). Centroids and nProbe must match the build.
    *
    * The bound is ENFORCED, not hoped for: the probe frame also feeds a
    * `broadcast()` and a driver-side cell collect, so a caller handing in
    * an unbounded frame must hear "no" before either blows up —
    * `maxProbes` caps the number of probe VECTORS, checked against an
    * eagerly-checkpointed `limit(max+1)` slice so the upstream probe
    * pipeline is evaluated exactly once per call (never a full count of
    * an unbounded input, never a second pass for the real query).
    * NOTE (behavior change vs the unbounded original): `maxProbes`
    * defaults to 4096 — callers that previously handed in larger probe
    * batches now fail the require and must either raise the bound
    * deliberately or batch-score with the distributed paths.
    * Batch-score a corpus against the index with the bucketed join paths
    * ([[ivfTopK]] / [[Dedup.dedupAgainstBandIndex]]'s shape) instead. */
  def ivfTopKFromIndex(path: String, probes: DataFrame, k: Int,
                       centroids: Array[Array[Float]], nProbe: Int = 4,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       maxProbes: Int = 4096): DataFrame = {
    require(maxProbes > 0, s"maxProbes $maxProbes must be positive")
    val spark = probes.sparkSession
    // Evaluate the probe pipeline exactly ONCE: eagerly checkpoint the
    // limit(max+1) slice (bounded rows by construction, so the snapshot
    // is small even when the bound is about to fail), count the SNAPSHOT
    // (free — no recompute), then enforce the bound. The former order
    // (guard-count against the live plan, checkpoint afterwards) ran an
    // expensive upstream probe pipeline twice per call; IvfIndexSpec pins
    // single evaluation with an accumulator-instrumented source.
    val bounded = probes
      .select(col(idCol).as("vec_id"), col(vecCol).as("pvec"))
      .limit(maxProbes + 1)
      .localCheckpoint(true)
    val probeCount = bounded.count()
    require(probeCount <= maxProbes,
      s"probe frame exceeds maxProbes=$maxProbes — ivfTopKFromIndex " +
        "broadcasts the probes and collects their cells to the driver, " +
        "so it serves BOUNDED query batches; for corpus-vs-corpus " +
        "scoring use the distributed cell-join paths (ivfTopK), or " +
        "raise maxProbes deliberately")
    // Lazy over the checkpoint snapshot: recomputing the tiny explode for
    // the cell collect + the join costs nothing once the source is pinned.
    val p = bounded
      .select(col("vec_id"), col("pvec"),
        explode(nearest_cells(col("pvec"), centroids, nProbe)).as("cell"))
    val cells = p.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val idx = graft.sources.Sources.parquet(spark, path)
      .filter(col("cell").isin(cells: _*))
      .select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cvec"), col("cell"))
    val scored = idx.join(broadcast(p), Seq("cell"))
      .filter(col("neighbor_id") =!= col("vec_id"))
      .select(col("vec_id"), col("neighbor_id"),
        cosine_sim(col("pvec"), col("cvec")).as("cos"))
    topK(scored, k)
  }

  /** Cluster assignment (the k-means "predict" half): every vector to its
    * single nearest centroid — map-only, centroids inside codegen, no
    * shuffle until the caller aggregates. */
  def assignCells(emb: DataFrame, centroids: Array[Array[Float]],
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame =
    emb.select(col(idCol),
      element_at(nearest_cells(col(vecCol), centroids, 1), 1)
        .cast("long").as("cluster_id"))

  /** Product-quantization codebook (Jégou, Douze & Schmid 2011, "Product
    * quantization for nearest neighbor search", IEEE TPAMI): the vector
    * space splits into `m` orthogonal subspaces, each quantized by its own
    * `kStar`-centroid k-means codebook. A 64-dim float vector (256 B)
    * compresses to m codes (m bytes at kStar ≤ 256) — the memory step that
    * makes a 100 TB vector corpus scannable: IVF prunes WHICH vectors to
    * score, PQ shrinks WHAT a scan reads per vector by 32×, and the two
    * compose (IVF-PQ). Training mirrors [[trainCentroids]]'s determinism
    * contract: a bounded, id-ordered driver sample, first-kStar init per
    * subspace, fixed Lloyd iterations on L2 — vectors are L2-NORMALIZED
    * first so subspace inner products sum to the cosine.
    * Returns codebook(j)(c) = centroid c of subspace j. */
  def trainPqCodebook(emb: DataFrame, m: Int = 8, kStar: Int = 16,
                      iters: Int = 10, maxSample: Int = 100000,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): Array[Array[Array[Float]]] = {
    val sample = emb.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(maxSample)
      .collect().map(r => normalize(r.getSeq[Float](1).toArray))
    require(sample.nonEmpty, "empty training sample")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    Array.tabulate(m) { j =>
      val subs = sample.map(v => java.util.Arrays.copyOfRange(
        v, j * subDim, (j + 1) * subDim))
      var centroids = subs.take(kStar).map(_.clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(centroids.length, subDim)(0.0)
        val counts = new Array[Int](centroids.length)
        subs.foreach { v =>
          val best = nearestSub(v, centroids)
          counts(best) += 1
          var i = 0
          while (i < subDim) { sums(best)(i) += v(i); i += 1 }
        }
        centroids = centroids.indices.map { c =>
          if (counts(c) == 0) centroids(c)
          else Array.tabulate(subDim)(i => (sums(c)(i) / counts(c)).toFloat)
        }.toArray
        it += 1
      }
      centroids
    }
  }

  private def normalize(v: Array[Float]): Array[Float] = {
    var n = 0.0; var i = 0
    while (i < v.length) { n += v(i).toDouble * v(i); i += 1 }
    val s = math.sqrt(n)
    if (s == 0) v else Array.tabulate(v.length)(i => (v(i) / s).toFloat)
  }

  private def nearestSub(v: Array[Float],
                         centroids: Array[Array[Float]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      var d = 0.0; var i = 0
      while (i < v.length) {
        val diff = v(i).toDouble - centroids(c)(i); d += diff * diff; i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** PQ-encode the corpus: map-only, one (id, m-code) row per vector —
    * the compressed layout a vector store persists. Codes are a pure
    * function of (vector, codebook): deterministic across runs/layouts. */
  def pqEncode(emb: DataFrame, codebook: Array[Array[Array[Float]]],
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val m = codebook.length
    val subDim = codebook.head.head.length
    emb.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        rows.map { case (id, vec) =>
          val v = normalize(vec)
          val codes = Array.tabulate(m) { j =>
            nearestSub(java.util.Arrays.copyOfRange(
              v, j * subDim, (j + 1) * subDim), codebook(j))
          }
          (id, codes)
        }
      }.toDF(idCol, "codes")
  }

  /** Asymmetric-distance top-k over PQ codes: each probe keeps its EXACT
    * (normalized) vector and precomputes one m×kStar lookup table of
    * subspace inner products; a corpus vector scores as the sum of m table
    * lookups — no float vector is ever read at scan time. Same output
    * shape as [[bruteForceTopK]]; accuracy is bounded by quantization
    * distortion (the anchor + SimilaritySpec pin recall and the quality
    * gap).
    *
    * `rerank > 0` adds the production recall-recovery stage: the ADC scan
    * keeps a per-probe shortlist of `rerank` candidates, and only THOSE
    * ids fetch their float vectors for exact cosine scoring — the
    * compressed scan does the corpus-size work, the exact math touches
    * |probes|·rerank rows. This is the standard IVF-PQ + refine layout
    * (Jégou et al. 2011 §V): at 100 TB the code table is the only
    * corpus-wide scan, the refine join is a broadcast-semi-join against
    * the id-keyed vector store.
    *
    * Scale shape: the probes' LUTs broadcast (m·kStar doubles each), the
    * code table streams map-only into the bounded top-k aggregate —
    * per-vector cost m adds, per-query shuffle k (or rerank) rows per map
    * task. */
  def pqTopK(emb: DataFrame, probeIds: Seq[Long], k: Int,
             codebook: Array[Array[Array[Float]]],
             rerank: Int = 0,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val m = codebook.length
    val subDim = codebook.head.head.length
    // bounded driver probe: |probeIds| vectors (the ANN-family contract)
    val probes = emb.filter(col(idCol).isin(probeIds: _*))
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => (id, normalize(v)) }
    val luts = probes.map { case (pid, q) =>
      (pid, Array.tabulate(m) { j =>
        codebook(j).map { c =>
          var s = 0.0; var i = 0
          while (i < subDim) { s += q(j * subDim + i).toDouble * c(i); i += 1 }
          s
        }
      })
    }
    val scored = pqEncode(emb, codebook, idCol, vecCol)
      .as[(Long, Array[Int])]
      .mapPartitions { rows =>
        rows.flatMap { case (nid, codes) =>
          luts.iterator.filter(_._1 != nid).map { case (pid, lut) =>
            var s = 0.0; var j = 0
            while (j < codes.length) { s += lut(j)(codes(j)); j += 1 }
            (pid, nid, s)
          }
        }
      }.toDF("vec_id", "neighbor_id", "cos")
    if (rerank <= 0) topK(scored, k)
    else {
      // exact refine: ADC shortlist ids -> float vectors -> true cosine.
      // The shortlist is |probes|*rerank rows; broadcasting it keeps the
      // vector fetch a corpus-side semi-join, no second corpus shuffle.
      val shortlist = topK(scored, rerank)
        .select(col("vec_id"), col("neighbor_id"))
      val probeVecs = probes.toSeq.toDF("vec_id", "pvec")
      val refined = emb
        .select(col(idCol).cast("long").as("neighbor_id"),
          col(vecCol).as("cvec"))
        .join(broadcast(shortlist), "neighbor_id")
        .join(broadcast(probeVecs), "vec_id")
        .select(col("vec_id"), col("neighbor_id"),
          cosine_sim(col("pvec"), col("cvec")).as("cos"))
      topK(refined, k)
    }
  }

  /** Contrastive hard-negative mining — for each probe, the top-k most
    * cosine-similar vectors carrying a DIFFERENT label: the "confusable
    * but wrong" examples a contrastive/triplet trainer wants next to each
    * anchor. Identical scan shape to [[bruteForceTopK]] (probes
    * broadcast, corpus streamed once, bounded-heap top-k), with the
    * label-mismatch predicate evaluated inside the broadcast join so
    * same-label vectors never reach scoring. The 100 TB path swaps the
    * full scan for [[ivfTopK]]-style cell probing exactly as for plain
    * ANN — the mining semantics live entirely in the predicate + top-k.
    */
  def hardNegatives(emb: DataFrame, probeIds: Seq[Long], k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val probes = emb.filter(col(idCol).isin(probeIds: _*))
      .select(col(idCol).as("vec_id"), col(vecCol).as("pvec"),
        col(labelCol).as("plabel"))
    val corpus = emb.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cvec"), col(labelCol).as("clabel"))
    val scored = corpus.join(broadcast(probes),
        col("clabel") =!= col("plabel"))
      .select(col("vec_id"), col("neighbor_id"),
        cosine_sim(col("pvec"), col("cvec")).as("cos"))
    topK(scored, k)
  }

  /** SemDeDup-style semantic prune (Abbas et al. 2023, arXiv:2303.09540):
    * within each CELL of a clustering, drop every vector that has a
    * lower-id neighbor at cosine ≥ `tau` — keep-first inside semantic
    * duplicates, evaluated only within cells so the pairwise work is
    * Σ|cell|² instead of |corpus|². Output one row per surviving-cell
    * vector: (vec_id, cell, kept 1|0).
    *
    * Cells larger than `maxCell` are dropped entirely (the
    * [[FuzzyJoin]] `maxBlock` contract): an oversized cell means the
    * CLUSTERING is too coarse for the pairwise budget, and the fix is a
    * finer clustering (in production the cells come from
    * [[trainCentroids]]/[[assignCells]], whose k bounds cell size), not a
    * silently quadratic join. The drop is deterministic and part of the
    * operator contract, so the DuckDB oracle reproduces it and results
    * agree at every scale factor — including when ALL cells exceed the
    * cap and the honest answer is "refine the clustering first" (an
    * empty frame).
    */
  def semDedupPrune(emb: DataFrame, idCol: String, vecCol: String,
                    cellCol: String, tau: Double = 0.9,
                    maxCell: Int = 2048,
                    maxBroadcastCells: Int = 4 << 20): DataFrame = {
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      col(cellCol).cast("long").as("cell"))
    // Oversized-cell drop via aggregate + anti-join (the kAnonymize
    // idiom), NOT count(*) over (partition by cell): the window form
    // ships the whole corpus through a shuffle+SORT just to learn cell
    // sizes, while the aggregate collapses map-side to |cells| rows.
    val oversized = base.groupBy(col("cell"))
      .agg(count(lit(1)).as("csz"))
      .filter(col("csz") > maxCell)
      .select(col("cell"))
    // The violating-cell list is small by construction in the intended
    // regime (it is the EXCEPTIONAL cells), but "by construction" is not
    // "enforced": a degenerate cellCol with very many cells just over
    // maxCell would turn a forced broadcast() into an unbounded driver
    // collect. So the hint is GUARDED the way the ivfTopKFromIndex probe
    // bound is — a bounded limit(N+1).count (which costs one map-side-
    // collapsed aggregate pass, the same work the join's build side does
    // anyway): under `maxBroadcastCells` (default 4M single-long rows ≈
    // tens of MB broadcast), broadcast; over it, fall back to the
    // un-hinted join and let stats pick a shuffle strategy for what is
    // now a legitimately large build side.
    require(maxBroadcastCells >= 0,
      s"maxBroadcastCells $maxBroadcastCells must be >= 0")
    val overCount = oversized.limit(maxBroadcastCells + 1).count()
    val probe =
      if (overCount <= maxBroadcastCells) broadcast(oversized) else oversized
    val v = base.join(probe, Seq("cell"), "left_anti")
    val a = v.select(col("cell"), col("id").as("a"), col("v").as("va"))
    val b = v.select(col("cell"), col("id").as("b"), col("v").as("vb"))
    val pruned = a.join(b, Seq("cell"))
      .filter(col("a") < col("b") &&
        cosine_sim(col("va"), col("vb")) >= tau)
      .select(col("b").as("id")).distinct()
    v.join(pruned.withColumn("pr", lit(1L)), Seq("id"), "left")
      .select(col("id").as("vec_id"), col("cell"),
        when(col("pr").isNotNull, 0L).otherwise(1L).as("kept"))
  }

  /** Group-wise top-k via the bounded-heap aggregate (TopKAgg): partial
    * aggregation ships at most k candidates per probe per map task into the
    * exchange — a window (row_number) would shuffle and sort the entire
    * scored candidate stream. Tie order matches the former window spec:
    * (cos desc, neighbor_id asc). */
  private def topK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("vec_id"))
      .agg(graft.functions.TopKAgg
        .topk_by_score(col("cos"), col("neighbor_id"), k).as("top"))
      .select(col("vec_id"), posexplode(col("top")).as(Seq("r0", "s")))
      .select(col("vec_id"), (col("r0") + 1).cast("long").as("rank"),
        col("s.neighbor_id").as("neighbor_id"), col("s.cos").as("cos"))

  /** Per-label embedding sufficient statistics — the exact centroid /
    * variance aggregate behind embedding-space QA (are a label's vectors
    * tight? did a data push shift a class centroid?): for every
    * (label, dimension), the count, sum, and sum of squares of the
    * micro-quantized components. Mean and variance derive directly
    * (s/n; ss/n − (s/n)²); emitting the integer sufficient statistics
    * instead of the float moments is what makes the aggregate EXACT and
    * engine/layout-portable — float summation is order-dependent, but
    * `round(x·10⁶)` longs add associatively, so any partial-aggregation
    * tree yields bit-identical output (the [[graft.operators.ExactMoney]]
    * argument, applied to vectors).
    *
    * Scale shape: one map-only explode (64 int rows per vector), one hash
    * aggregate over |labels|·dim cells — partial aggregation collapses
    * everything map-side, the exchange carries only |tasks|·cells rows.
    * Long sums hold to ~10¹² vectors per label (q ≤ 10⁶·|x|, q² ≤ 10¹¹·x²);
    * past that the accumulators become DECIMAL(38,0) — same plan. */
  def labelStats(emb: DataFrame, vecCol: String, labelCol: String)
      : DataFrame = {
    val q = round(col("__x").cast("double") * 1e6).cast("long")
    emb.select(col(labelCol).cast("long").as(labelCol),
        posexplode(col(vecCol)).as(Seq("__d", "__x")))
      .select(col(labelCol), col("__d").cast("long").as("dim"), q.as("__q"))
      .groupBy(col(labelCol), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("__q")).as("sum_micros"),
        sum(col("__q") * col("__q")).as("sumsq_micros2"))
  }

  /** Exact per-label embedding OUTLIER census — the vector-quality gate a
    * curation pipeline runs before training on an embedding table
    * (malformed rows, wrong-model vectors, collapsed points): per label,
    * how many vectors sit more than `factor`× the label's mean squared
    * distance from its centroid. EXACT integer arithmetic end to end —
    * the event-anomaly/labelStats pattern applied to vectors:
    * centi-quantize (q = round(100·x), so per-vector deviations fit
    * longs), clear denominators instead of dividing
    * (n²·‖x−μ‖² = Σ_d (n·q_d − S_d)²), and compare in DECIMAL(38,0) so
    * no scale overflows: a vector is an outlier iff
    *   n · dev2 > factor · Σ_v dev2   (both sides exact integers).
    *
    * Scale shape: two passes over the table — a |labels|·dim moment
    * aggregate (map-side partials), broadcast back; then a map-only
    * per-vector deviation + one |labels|-key aggregate. No joins on the
    * vector id, no windows. */
  def labelOutliers(emb: DataFrame, vecCol: String, labelCol: String,
                    factor: Int = 4): DataFrame = {
    require(factor > 0, s"factor $factor must be positive")
    val qc = transform(col(vecCol),
      x => round(x.cast("double") * 100).cast("long"))
    val base = emb.select(col(labelCol).cast("long").as("label"),
      qc.as("__q"))
    val moments = base
      .select(col("label"), posexplode(col("__q")).as(Seq("__d", "__qd")))
      .groupBy(col("label"), col("__d"))
      .agg(count(lit(1)).as("__n"), sum(col("__qd")).as("__s"))
      .groupBy(col("label"))
      .agg(first(col("__n")).as("__n"),
        collect_list(struct(col("__d"), col("__s"))).as("__sl"))
      .select(col("label"), col("__n"),
        // dim-ordered centroid sums as an array, for the zip below
        expr("transform(array_sort(__sl, (a, b) -> a.__d - b.__d)," +
          " e -> e.__s)").as("__sv"))
    val dev = base.join(broadcast(moments), "label")
      .select(col("label"), col("__n"),
        aggregate(zip_with(col("__q"), col("__sv"),
          (q, s) => {
            val t = col("__n") * q - s
            t * t
          }), lit(0L), (acc, e) => acc + e).as("__dev2"))
      .localCheckpoint(true) // consumed twice (totals, then the census)
    // label totals are |labels|-sized: broadcast back, then the outlier
    // test is map-side and the final count is a |labels|-key aggregate —
    // no per-group collection anywhere
    val tot = dev.groupBy(col("label"))
      .agg(first(col("__n")).as("n_vectors"),
        sum(col("__dev2").cast("decimal(38,0)")).as("__tot"))
    dev.join(broadcast(tot), "label")
      .groupBy(col("label"))
      .agg(first(col("n_vectors")).as("n_vectors"),
        sum(when(col("__dev2").cast("decimal(38,0)") * col("n_vectors") >
          col("__tot") * lit(factor), 1L).otherwise(0L)).as("n_outliers"))
  }
}
