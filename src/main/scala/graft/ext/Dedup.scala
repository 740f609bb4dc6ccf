package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.CappedCollect._
import graft.functions.TextExprs._
import graft.sources.Sources

/** Deduplication operator family for training-data pipelines:
  * exact, MinHash+LSH, SimHash — each returning a full cluster assignment
  * `(id, cluster_id, is_canonical)` so the caller can either drop dups
  * (`is_canonical`) or audit clusters.
  *
  * Scale shape (100 TB): signatures are computed map-only (one pass, custom
  * codegen expressions); the only wide exchanges are (a) the LSH bucket
  * groupBy, whose payload is (band_hash, id) — bytes per doc, not the text —
  * and (b) the candidate-pair verify join, which touches only candidate ids.
  * The bucket groupBy is one capped aggregate
  * ([[graft.functions.CappedCollect]]) that counts, gates and collects each
  * bucket in one pass, so the membership stream is read once and is neither
  * persisted nor counted. Connected components run on the (tiny)
  * verified-edge set.
  */
object Dedup {

  /** Exact dedup on arbitrary key columns: canonical = min(id) per group.
    * One hash-aggregate shuffle carrying the full key. */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    val canon = df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("cluster_id"))
    df.join(canon, keyCols)
      .select(col(idCol), col("cluster_id"),
        (col(idCol) === col("cluster_id")).as("is_canonical"))
  }

  /** Exact dedup keyed on xxhash64 of the key columns — the 100 TB form:
    * the aggregation shuffle carries 8 bytes per row instead of the full
    * (potentially multi-KB) text. 64-bit collisions over N docs occur w.p.
    * ≈ N²/2⁶⁵ (≪1 even at 10¹² docs — and a collision only mis-merges one
    * pair; use exact() when that is unacceptable). */
  def exactByHash(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    val keyed = df.select(col(idCol).as("id"),
      xxhash64(keyCols.map(col): _*).as("__kh"))
    val canon = keyed.groupBy(col("__kh")).agg(min(col("id")).as("cluster_id"))
    keyed.join(canon, Seq("__kh"))
      .select(col("id").as(idCol), col("cluster_id"),
        (col("id") === col("cluster_id")).as("is_canonical"))
  }

  /** MinHash + LSH near-dup clustering:
    * sig (map-only) → band explode → bucket groupBy → candidate pairs →
    * exact n-gram-Jaccard verify → connected components → clusters.
    *
    * With k=128, bands=32 (r=4): P(candidate) = 1-(1-j⁴)³², ~0.5 crossing
    * near j≈0.35 — recall-biased; the Jaccard verify enforces `threshold`
    * precisely, so false bucket positives cost only the verify join.
    *
    * `maxBucket` caps pathological buckets (boilerplate collisions — at
    * web scale some bucket always explodes; dropping it loses recall on
    * exact-boilerplate only, which exact dedup already catches). A bucket
    * over the cap yields no candidates, and its aggregation buffer is
    * dropped as soon as it passes `maxBucket` ids.
    */
  def minhash(df: DataFrame, idCol: String, textCol: String,
              numHashes: Int = 128, bands: Int = 32, shingleN: Int = 3,
              threshold: Double = 0.7, maxBucket: Int = 64): DataFrame =
    withMinhashEdges(df, idCol, textCol, numHashes, bands, shingleN,
      threshold, maxBucket) { (ids, edges) =>
      connectedComponents(ids.select(col("id")), edges)
        .withColumnRenamed("id", idCol)
    }

  /** The sketch→band→bucket→verify pipeline up to (but not including)
    * clustering: builds the verified edge set and hands `(ids, edges)` to
    * `f` while the candidate-pair cache is still live (components
    * consume `edges` eagerly — take or checkpoint — so the cache drops
    * as soon as `f` returns). Package-visible so the scale smoke can
    * drive BOTH clustering paths over one edge set. */
  private[graft] def withMinhashEdges[T](
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 128, bands: Int = 32, shingleN: Int = 3,
      threshold: Double = 0.7, maxBucket: Int = 64)(
      f: (DataFrame, DataFrame) => T): T = {
    val ids = df.select(col(idCol).as("id"), col(textCol).as("text"))

    // fanOut only wraps the CPU-bound sketch pass. One aggregate per
    // (band, bh) bucket counts, gates and collects its sorted ids
    // (CappedCollect): a bucket past maxBucket comes back NULL, its buffer
    // dropped at maxBucket+1 ids map-side, so a whale bucket stays bounded. The
    // membership stream has this one consumer, so it is neither persisted
    // nor counted. Pairs are a map-side generator (posexplode + slice):
    // sorted + per-bucket-unique ids ⇒ strictly increasing, so "elements
    // after position i" IS the a < b pair set of a bucket self-join; a
    // NULL or one-id array emits none.
    val arr = Sources.fanOut(ids, col("id")).select(col("id"),
        posexplode(band_hashes(
          minhash_sig(col("text"), numHashes, shingleN), bands))
          .as(Seq("band", "bh")))
      .groupBy(col("band"), col("bh"))
      .agg(capped_collect_list(col("id"), maxBucket).as("ids"))
    val pairs = Pairs.sortedPairs(arr, "ids", "a", "b").distinct()

    // verify candidates with exact n-gram Jaccard. Semi-join-prune the
    // corpus to candidate ids FIRST: only docs that appear in some pair pay
    // the shingle CPU and the (array-sized) shuffle — at 100 TB the
    // candidate set is orders of magnitude smaller than the corpus, and an
    // unpruned verify would shingle + ship the whole corpus twice.
    // Lazy persist (not an eager localCheckpoint barrier): the pair set is
    // tiny and its lineage is the whole sketch and bucket pass, so caching
    // avoids both the re-execution for candIds/edge-join AND the extra
    // stop-the-world job a second checkpoint would cost.
    val cand = pairs.persist()
    try {
      val candIds = cand.select(col("a").as("id"))
        .union(cand.select(col("b").as("id"))).distinct()
      val shingled = ids.join(candIds, Seq("id"), "left_semi")
        .select(col("id"), sorted_shingles(col("text"), shingleN).as("sh"))
      val ta = shingled.select(col("id").as("a"), col("sh").as("sh_a"))
      val tb = shingled.select(col("id").as("b"), col("sh").as("sh_b"))
      val edges = cand.join(ta, "a").join(tb, "b")
        .filter(array_jaccard(col("sh_a"), col("sh_b")) >= threshold)
        .select(col("a"), col("b"))

      // `f` consumes `edges` eagerly (take or checkpoint), so the cache
      // can be dropped as soon as it returns
      f(ids, edges)
    } finally cand.unpersist(blocking = false)
  }

  /** The corpus-side artifact for INCREMENTAL dedup: every doc's LSH band
    * memberships, `(id, band, bh)`. Computed once per corpus; persist at
    * scale with [[writeBandIndex]] so the incremental join is co-located
    * with zero index-side shuffle. */
  def bandIndex(df: DataFrame, idCol: String, textCol: String,
                numHashes: Int = 128, bands: Int = 32,
                shingleN: Int = 3): DataFrame =
    df.select(col(idCol).as("id"),
      posexplode(band_hashes(
        minhash_sig(col(textCol), numHashes, shingleN), bands))
        .as(Seq("band", "bh")))

  /** Persist [[bandIndex]] as a BUCKETED+SORTED catalog table — the 100 TB
    * form of the corpus index. `bucketBy(numBuckets, band, bh)` makes the
    * parquet layout itself the join partitioning: every later
    * [[incrementalMatch]] against `spark.table(table)` scans the index
    * directly into a SortMergeJoin with NO exchange on the index side —
    * only the new batch, orders of magnitude smaller, shuffles — verified
    * plan-level in DedupSpec. The `repartition` on the bucket keys uses
    * the same murmur3 `pmod` as the bucket assignment, so each task holds
    * exactly one bucket and writes exactly one file; with that
    * one-file-per-bucket layout the index-side local sort is elided too
    * under `spark.sql.legacy.bucketedTableScan.outputOrdering=true`
    * (post-3.0 Spark drops bucket-scan ordering by default because
    * multi-file buckets would need a merge). Nightly-crawl dedup then
    * re-sketches nothing and re-shuffles nothing of the corpus, no matter
    * how large it has grown. */
  def writeBandIndex(df: DataFrame, idCol: String, textCol: String,
                     table: String, numBuckets: Int = 32,
                     numHashes: Int = 128, bands: Int = 32,
                     shingleN: Int = 3): Unit =
    bandIndex(df, idCol, textCol, numHashes, bands, shingleN)
      .repartition(numBuckets, col("band"), col("bh"))
      .write.mode("overwrite")
      .bucketBy(numBuckets, "band", "bh")
      .sortBy("band", "bh")
      .saveAsTable(table)

  /** Incremental near-dup: match a batch of NEW documents against an
    * EXISTING corpus via its precomputed [[bandIndex]] — the "dedup
    * tonight's crawl against the full corpus" operation. The corpus is
    * never re-sketched and never re-clustered: its only involvement is
    *  1. ONE equi-join of the (small) new batch's band memberships against
    *     the index on the precomputed (band, bh) key, and
    *  2. a verify pass shingling ONLY the corpus docs that landed in some
    *     candidate pair (semi-join-pruned, same discipline as [[minhash]]).
    * Sketch params must match the ones the index was built with.
    *
    * Returns verified matches `(new_id, corpus_id, jac)`; new docs absent
    * from the result are novel. `maxMatchesPerDoc` caps boilerplate blowup
    * (a new doc bucket-colliding with thousands of corpus docs) before the
    * verify join. */
  def incrementalMatch(newDocs: DataFrame, corpus: DataFrame,
                       index: DataFrame, idCol: String, textCol: String,
                       numHashes: Int = 128, bands: Int = 32,
                       shingleN: Int = 3, threshold: Double = 0.7,
                       maxMatchesPerDoc: Int = 256): DataFrame = {
    val newBands = bandIndex(newDocs, idCol, textCol, numHashes, bands,
      shingleN).withColumnRenamed("id", "new_id")
    val cand0 = newBands
      .join(index.withColumnRenamed("id", "corpus_id"), Seq("band", "bh"))
      .select(col("new_id"), col("corpus_id")).distinct()
    // cap candidates PER DOC, keeping the lowest corpus_ids (deterministic)
    // — a boilerplate doc colliding with thousands of corpus buckets still
    // reports its first `maxMatchesPerDoc` matches rather than silently
    // vanishing from the result as "novel"
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("new_id")).orderBy(col("corpus_id"))
    val cand = cand0
      .withColumn("__rn", row_number().over(byDoc))
      .filter(col("__rn") <= maxMatchesPerDoc)
      .drop("__rn")
    val newSh = newDocs.select(col(idCol).as("new_id"),
      sorted_shingles(col(textCol), shingleN).as("sh_new"))
    val corpusSh = corpus
      .join(cand.select(col("corpus_id").as(idCol)).distinct(),
        Seq(idCol), "left_semi")
      .select(col(idCol).as("corpus_id"),
        sorted_shingles(col(textCol), shingleN).as("sh_old"))
    cand.join(newSh, Seq("new_id"))
      .join(corpusSh, Seq("corpus_id"))
      .withColumn("jac",
        round(array_jaccard(col("sh_new"), col("sh_old")), 3))
      .filter(col("jac") >= threshold)
      .select(col("new_id"), col("corpus_id"), col("jac"))
  }

  /** SimHash near-dup clustering: 64-bit sketch (map-only), candidates =
    * pairs sharing any of 4 16-bit chunks (pigeonhole: hamming ≤ 3 ⇒ at
    * least one chunk equal), verified by exact hamming distance. A chunk
    * bucket over `maxBucket` members yields no candidates, as in
    * [[minhash]]. */
  def simhashDedup(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 64): DataFrame = {
    val ids = Sources.fanOut(
        df.select(col(idCol).as("id"), col(textCol).as("text")), col("id"))
      .select(col("id"), simhash(col("text")).as("sh"))

    // chunk c key = (sh >>> 16c) & 0xffff. Same one-aggregate buckets as
    // the minhash path (see the withMinhashEdges note): the capped sorted
    // (id, sh) array per bucket, then the hamming verify on the generated
    // pair stream before the distinct. struct sort orders by id (unique
    // per bucket), so slice-after-i is the x.id < y.id pair set.
    val arr = ids
      .select(col("id"), col("sh"), posexplode(
        array((0 until 4).map(c =>
          shiftrightunsigned(col("sh"), 16 * c).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("chunk", "key")))
      .groupBy(col("chunk"), col("key"))
      .agg(capped_collect_list(struct(col("id"), col("sh")), maxBucket).as("ms"))
    val edges = Pairs.sortedPairs(arr, "ms", "x", "y")
      .filter(bit_count(col("x.sh").bitwiseXOR(col("y.sh"))) <= maxHamming)
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()

    connectedComponents(ids.select(col("id")), edges)
      .withColumnRenamed("id", idCol)
  }

  /** Embedding-cosine near-dup report via hyperplane LSH: vectors sharing a
    * bucket are candidates; near-dup = cosine ≥ threshold. Per-vector
    * report keeps output size = |input| regardless of dup structure. */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double = 0.9, nPlanes: Int = 12,
                       maxBucket: Int = 256): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      hyperplane_bucket(col(vecCol), nPlanes).as("bucket"))
    val a = v.select(col("bucket"), col("id").as("a"), col("vec").as("va"))
    val b = v.select(col("bucket"), col("id").as("b"), col("vec").as("vb"))
    val cand = a.join(b, "bucket").filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        cosine_sim(col("va"), col("vb")).as("cos"))
    val perVec = cand
      .select(explode(array(
        struct(col("a").as("id"), col("cos")),
        struct(col("b").as("id"), col("cos")))).as("s"))
      .select(col("s.id").as("id"), col("s.cos").as("cos"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_candidates"),
           sum(when(col("cos") >= threshold, 1L).otherwise(0L)).as("n_near_dups"))
    df.select(col(idCol).as("id"))
      .join(perVec, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_near_dups"), lit(0L)).as("n_near_dups"))
  }

  // ---------------------------------------------------------- internals --

  /** Connected components over the verified edge set.
    *
    * The edge set is tiny relative to the corpus BY CONSTRUCTION (only
    * verified near-dup pairs), so the common case — up to `smallEdgeLimit`
    * edges — runs union-find on the driver in one pass and joins the
    * (small) label table back. Beyond the limit it falls back to
    * distributed min-label propagation restricted to edge endpoints;
    * singletons join back at the end either way. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxIter: Int = 15,
                          smallEdgeLimit: Long = 2000000L): DataFrame = {
    val spark = nodes.sparkSession
    // Single guarded fetch: take(limit+1) executes the edge plan ONCE and
    // bounds driver memory (limit × 16 B). The old shape — eager checkpoint
    // + count() + collect() — cost two extra stop-the-world jobs per run.
    //
    // r14: read ALL result partitions in the take's FIRST job. The default
    // CollectLimit escalation (1 partition, then ×4 per round) is tuned
    // for limits far below the result size; here the common case by
    // construction is the opposite — the verified edge set is ≪ the limit.
    // Measured effect at gate SF: NONE (job trace unchanged at 22 — AQE
    // had already coalesced the edge output to one partition, so the take
    // was a single job before this; the remaining ~0.05 s zero-task jobs
    // in the trace are broadcast-exchange builds, inherent to the joins).
    // Kept for the at-scale case where the edge output keeps many
    // partitions and escalation would re-dispatch 3-4 driver jobs. In the
    // rare over-limit case this reads the full edge output once —
    // immediately followed by distributedCC scanning those same edges
    // anyway. Conf is scoped and restored.
    val probeLimit = math.min(smallEdgeLimit, Int.MaxValue - 1L).toInt
    val limitKey = "spark.sql.limit.initialNumPartitions"
    val prevLimit = spark.conf.getOption(limitKey)
    spark.conf.set(limitKey, "4096")
    val fetched =
      try edges.take(probeLimit + 1)
      finally prevLimit match {
        case Some(v) => spark.conf.set(limitKey, v)
        case None => spark.conf.unset(limitKey)
      }
    if (fetched.length <= probeLimit) {
      // driver union-find with path compression
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      fetched.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      // materialize keys first: find() path-compresses (value updates)
      // while we iterate
      val labels = parent.keys.toSeq.map(k => (k, find(k)))
      import spark.implicits._
      val labelDf = labels.toDF("id", "label")
      return nodes.select(col("id"))
        .join(broadcast(labelDf), Seq("id"), "left")
        .select(col("id"),
          coalesce(col("label"), col("id")).as("cluster_id"),
          (col("id") === coalesce(col("label"), col("id"))).as("is_canonical"))
    }
    // over the limit (rare): checkpoint now so the iterative propagation
    // doesn't re-run the (expensive) verify plan every round
    distributedCC(nodes, edges.localCheckpoint(true), maxIter)
  }

  /** Distributed min-label propagation (the >smallEdgeLimit path).
    * `onIter` fires after each completed propagation round (the scale
    * smoke records per-iteration shuffle through it); both paths label a
    * component by its minimum node id, so driver and distributed results
    * are identical frames. */
  private[graft] def distributedCC(nodes: DataFrame, edges: DataFrame,
                                   maxIter: Int,
                                   onIter: Int => Unit = _ => ()): DataFrame = {
    // symmetric adjacency
    val adj = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true)

    // localCheckpoint per round truncates the growing lineage (iterative
    // plans otherwise re-plan the whole chain every iteration); the changed
    // flag rides in the same frame, so convergence costs no extra join.
    var labels = adj.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // each node adopts min(own label, neighbors' labels)
      val neighborMin = adj
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("label")).as("nmin"))
      val stepped = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
        .localCheckpoint(true)
      converged = stepped.filter(col("label") =!= col("old")).limit(1).count() == 0
      labels = stepped.select(col("id"), col("label"))
      iter += 1
      onIter(iter)
    }
    // singletons (no edges) cluster to themselves
    nodes.select(col("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("label"), col("id")).as("cluster_id"),
        (col("id") === coalesce(col("label"), col("id"))).as("is_canonical"))
  }

  /** Segment-level dedup with document reconstruction — the CCNet /
    * RefinedWeb "line dedup" pass generalized to any segmentation (Wenzek
    * et al. 2020 dedupe by paragraph hash; Penedo et al. 2023 drop repeated
    * lines): every distinct segment survives exactly once, in its first
    * occurrence by (doc, position), and each document is rewritten as its
    * surviving segments in original order. Unlike [[graft.ext.TextAnalysis
    * .dupSpans]] (which only SCORES duplicated spans), this REMOVES them
    * and returns the cleaned text. The corpus here has no newline
    * structure, so segments are fixed `segmentTokens`-token windows —
    * non-overlapping [[graft.ext.TextAnalysis.chunk]] segments (stride =
    * window) with the identical tokenize convention.
    *
    * Keep rule: the occurrence with the globally minimal (doc_id, seg_idx)
    * per distinct segment text is kept; every other occurrence — including
    * repeats within one document — is removed.
    *
    * Scale shape (100 TB): segments are NON-overlapping, so the exploded
    * stream is ≈ the corpus itself, and it is exploded exactly ONCE —
    * the kept occurrences are read straight off the first-occurrence
    * aggregate (`groupBy(segment).agg(min(struct(doc, idx)))` — its rows
    * ARE the surviving (doc, idx, segment) triples), so no mark-back join
    * over the segment key exists, and the per-doc segment totals come
    * from a map-only ceil(n_tokens / k), no second explode. Partial
    * aggregation collapses a whale segment (boilerplate repeated millions
    * of times) map-side, unlike a window over the segment, which would
    * put the whole whale in one partition; the only other exchanges are
    * doc-keyed (reconstruction aggregate + a doc join), bounded by
    * document count. Segments shuffle as their text here so the DuckDB
    * oracle can rebuild the identical keys; at scale the aggregate key
    * becomes xxhash64(segment) with the segment carried as a value
    * (the [[exactByHash]] trade: a 64-bit collision merges two unrelated
    * segments).
    *
    * Output: (doc_id, n_segments, n_removed, text_dedup) for docs with ≥1
    * token; a doc whose every segment is removed yields text_dedup = "".
    */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
                   segmentTokens: Int = 12): DataFrame = {
    require(segmentTokens > 0, "segment length must be positive")
    val toks = filter(split(col(textCol), " ", -1), t => t =!= lit(""))
    val starts = when(size(toks) === 0, array().cast("array<int>"))
      .otherwise(sequence(lit(0), size(toks) - 1, lit(segmentTokens)))
    // explode the int starts first, slice after the Generate — the chunk()
    // idiom: tokenize runs once per doc, not once per segment
    val segs = df
      .select(col(idCol).as("doc_id"), toks.as("__toks"),
        posexplode(starts).as(Seq("__i", "__s")))
      .select(col("doc_id"), col("__i").cast("long").as("seg_idx"),
        array_join(slice(col("__toks"), col("__s") + 1, lit(segmentTokens)),
          " ").as("seg"))
    // the aggregate's rows ARE the kept occurrences — one per distinct
    // segment, at its minimal (doc, idx)
    val kept = segs.groupBy(col("seg"))
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("__first"))
      .select(col("__first.doc_id").as("doc_id"),
        col("__first.seg_idx").as("seg_idx"), col("seg"))
    val keptPerDoc = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__n_kept"),
        // array_sort on the (seg_idx, seg) struct restores original order
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
          e => e.getField("seg"))).as("__text"))
    // per-doc totals need no explode: segments are ceil(n_tokens / k)
    val totals = df.select(col(idCol).as("doc_id"),
        floor((size(toks).cast("double") + (segmentTokens - 1)) /
          segmentTokens).cast("long").as("n_segments"))
      .filter(col("n_segments") > 0)
    totals.join(keptPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segments"),
        (col("n_segments") - coalesce(col("__n_kept"), lit(0L)))
          .as("n_removed"),
        coalesce(col("__text"), lit("")).as("text_dedup"))
  }
}
