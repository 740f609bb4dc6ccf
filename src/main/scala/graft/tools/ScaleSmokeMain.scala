package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.{Catalog, Golden}

/** Scale-up harness: synthesize N× copies of the testdata, time queries at
  * 1× vs N× through [[Run]], and cross-check result fingerprints under a
  * changed execution (a starved memory pool, a different physical layout).
  *
  * Usage:
  *   runMain graft.tools.ScaleSmokeMain gen <srcSfDir> <outDir> <N>
  *   runMain graft.tools.ScaleSmokeMain genskew <srcSfDir> <outDir> <N>
  *   runMain graft.tools.ScaleSmokeMain gensf <srcSfDir> <outDir> <N>   (ALL tables)
  *   runMain graft.tools.ScaleSmokeMain scale <srcSfDir> <scaledDir> <N> [q...]
  *   runMain graft.tools.ScaleSmokeMain spill <sfDir> [skewedNxDir]
  *   runMain graft.tools.ScaleSmokeMain xcheck <dir> <q...>
  *   runMain graft.tools.ScaleSmokeMain streamdump <nxDir> <outParquetDir> <budget>
  *
  * Replica construction keeps the similarity structure honest:
  * replica 0 is the original; replica i>0 re-ids rows and REWRITES each
  * document's token stream with a replica-constant marker token inserted
  * every 5 positions. Within a replica the planted near-dup pairs stay
  * near-dups (both members get the same insertion pattern); across
  * replicas ~3/5 of word-3-grams differ, pushing Jaccard far below the
  * 0.7 dedup threshold — so an N× corpus has N× clusters, not N-wide
  * cross-replica ones, and dedup work scales the way a real N× corpus
  * would. Embeddings get the matching treatment: replica i>0 applies a
  * replica-specific diagonal ±1 sign-flip (orthogonal, so within-replica
  * cosines are preserved exactly while cross-replica copies land near
  * cos 0). Events keep `ts` as the raw nanos long so the scaled parquet
  * reads back through the same Sources.table nanos path as the original.
  */
object ScaleSmokeMain {

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: src :: out :: n :: Nil => gen(src, out, n.toInt)
    case "genskew" :: src :: out :: n :: Nil => gen(src, out, n.toInt, skew = true)
    case "gensf" :: src :: out :: n :: Nil => gensf(src, out, n.toInt)
    case "scale" :: src :: scaled :: n :: only => scale(src, scaled, n.toInt, only)
    case "spill" :: dir :: Nil => spillRun(dir, None)
    case "spill" :: dir :: skew :: Nil => spillRun(dir, Some(skew))
    case "xcheck" :: dir :: queries => xcheck(dir, queries)
    case "streamdump" :: dir :: out :: budget :: Nil =>
      streamDump(dir, out, budget.toInt)
    case _ =>
      System.err.println(
        "usage: ScaleSmokeMain gen <srcSfDir> <outDir> <N> | " +
          "genskew <srcSfDir> <outDir> <N> | gensf <srcSfDir> <outDir> <N> | " +
          "scale <srcSfDir> <scaledDir> <N> [q...] | " +
          "spill <sfDir> [skewedNxDir]   (run with SPARK_DRIVER_MEM=3g) | " +
          "xcheck <dir> <q...> | streamdump <nxDir> <outParquetDir> <budget>")
      sys.exit(2)
  }

  /** Dump the budgeted interval join's FULL result to parquet for a
    * content-exact external comparison — the verification path for the
    * ACTIVE-suppression configuration, which the gate row
    * (`q_s_stream_join_capped`, budget far above gate-SF candidate
    * counts) deliberately does not exercise. The retired whale smoke
    * (`streamskew ss_budget`, PERF_NOTES) proved COUNTS (kept + audits =
    * emitted, kept + suppressed = the unbudgeted join's output); this dump lets
    * an external oracle prove the SELECTION — that the kept pairs are
    * exactly the `budget` latest in-window clicks by (event-time ms,
    * event_id) per ripe purchase, and each audit row carries the exact
    * dropped count. Compared against a DuckDB row_number() oracle over
    * the same corpus (PERF_NOTES "The budgeted interval join under the
    * whale"). */
  private def streamDump(dir: String, out: String, budget: Int): Unit = {
    val spark = session()
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val evp = java.nio.file.Paths.get(dir, "events.parquet")
    require(java.nio.file.Files.isDirectory(evp),
      s"$evp must be a gen-written parquet directory")
    val events = graft.streaming.EventsStream.readEvents(spark, evp.toString)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sdump-ckpt")
    val q = graft.streaming.EventsStream
      .intervalJoinBudgeted(events, maxPairsPerPurchase = budget).toDF()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val n = spark.read.parquet(out).count()
    println(s"[scale-smoke] streamdump budget=$budget -> $out ($n rows)")
    spark.stop()
  }

  /** Wall time, jobs, shuffle bytes and peak task memory (the largest
    * over the N× runs) per query at 1× vs N×, the
    * evidence for "would the plan survive an N× scale-up": every catalog
    * query, or only the named ones, after one unmeasured 1× warm pass.
    * The (query × scale) grid runs SPARK_GRAFT_REPS times (default 1) end
    * to end, each cell keeping its min wall as in Bench; shuffle bytes are
    * exact per run (see [[Run]]). A query that fails at N× (a `gen` dir
    * holds only the documents/events/embeddings tables) is listed as
    * failed and skips its 1× cell. A row is flagged SUPER-LINEAR when its
    * N× shuffle grows faster than the data ratio (20% slack) and clears a
    * 5 MB floor — a 30× ratio on tens of kilobytes is result-row
    * metadata, not data movement. */
  private def scale(src: String, scaled: String, n: Int,
                    only: List[String]): Unit = {
    val names = if (only.isEmpty) Catalog.all.map(_.name) else only
    val unknown = names.filterNot(Catalog.byName.contains)
    require(unknown.isEmpty, s"scale: unknown query ${unknown.mkString(", ")}")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "1").toInt
    require(reps >= 1, s"SPARK_GRAFT_REPS must be >= 1, got $reps")
    val spark = session()
    def once(name: String, dir: String): RunRecord = {
      GraftSession.dropCachedBlocks(spark)
      Run.query(spark, name, Catalog.byName(name).run(spark, dir), Run.noop)
    }
    names.foreach(once(_, src))
    val runs = (1 to reps).flatMap { pass =>
      val r = names.map { q =>
        val nx = once(q, scaled)
        (q, if (nx.ok) once(q, src) else nx, nx)
      }
      System.err.println(s"[scale-smoke] pass $pass/$reps done")
      r
    }.groupBy(_._1)
    val floorBytes = 5e6
    def mb(b: Long) = f"${b / 1e6}%.1fM"
    println(f"${"query"}%-36s ${"t_1x"}%8s ${"t_Nx"}%8s ${"ratio"}%6s " +
      f"${"jobs"}%9s ${"shuf_1x"}%10s ${"shuf_Nx"}%10s ${"shufR"}%6s ${"peak_Nx"}%10s")
    val flagged = names.flatMap { name =>
      val cells = runs(name)
      cells.flatMap(c => Seq(c._2, c._3)).find(!_.ok) match {
        case Some(bad) =>
          println(s"$name FAILED: ${bad.error.getOrElse("")}"); None
        case None =>
          val (one, nx) = (cells.map(_._2), cells.map(_._3))
          val (t1, tn) = (one.flatMap(_.wallS).min, nx.flatMap(_.wallS).min)
          def shuffle(r: RunRecord) = r.shuffleReadBytes + r.shuffleWriteBytes
          val (s1, sn) = (shuffle(one.last), shuffle(nx.last))
          val r = if (s1 > 0) sn.toDouble / s1 else if (sn == 0) 0.0 else -1.0
          val superLinear = (r > n * 1.2 || r < 0) && sn > floorBytes
          val jobs = s"${one.last.jobs}/${nx.last.jobs}"
          println(f"$name%-36s $t1%8.2f $tn%8.2f ${tn / t1}%6.1f $jobs%9s " +
            f"${mb(s1)}%10s ${mb(sn)}%10s " +
            f"${if (r >= 0) f"$r%.1f" else "inf"}%6s " +
            f"${mb(nx.map(_.peakTaskMemBytes).max)}%10s" +
            (if (superLinear) " <-- SUPER-LINEAR" else ""))
          if (superLinear) Some(name) else None
      }
    }
    println(f"[scale-smoke] super-linear (>${n * 1.2}%.0fx and " +
      f">${floorBytes / 1e6}%.0fMB at Nx): ${flagged.size}%d" +
      (if (flagged.nonEmpty) " — " + flagged.mkString(", ") else ""))
    spark.stop()
  }

  /** The spill-path heavyweights: one per operator family whose 100 TB
    * failure mode is "working set outgrows the execution pool" — banded
    * LSH dedup (hash agg + self-join), a whole-corpus window, the
    * SMJ-heavy and hash-agg-heavy TPC-H shapes, and the stateful
    * stream-stream join. */
  private val spillCases = Seq(
    "q_x_dedup_minhash", "q_w_sessionize", "q_x_ppl_buckets",
    "q_tpch_q21_waiting", "q_tpch_q18_large_orders", "q_s_stream_join")

  /** Forced-spill smoke. The EXECUTION POOL is shrunk out from under the
    * spill-path heavyweights — `spark.memory.fraction` cut ~10× below
    * default at session build — so the task memory manager genuinely
    * refuses allocations and the hash-agg / sort / window / shuffle paths
    * hit their real spill machinery (UnsafeExternalSorter & co.), not a
    * forced row-count threshold. Pass condition (see [[crossCheck]]):
    * bitwise-equal output and no OOM; the spill columns are printed, not
    * checked. Launch with SPARK_DRIVER_MEM=3g against the persisted sf1
    * dir (gensf) so data-per-task is meaningful. Measured at sf1 (gensf
    * and genskew ×10 from sf0.1, 3 GB heap, 4 cores): q_x_dedup_minhash,
    * q_tpch_q21_waiting, q_tpch_q18_large_orders and the whale
    * q_w_sessionize spill 8-99 MB to disk; q_x_ppl_buckets, the uniform
    * q_w_sessionize and q_s_stream_join spill 0 B, so those three check
    * fingerprints only. */
  private def spillRun(dir: String, skew: Option[String]): Unit = {
    val heapMb = Runtime.getRuntime.maxMemory / (1 << 20)
    println(s"[scale-smoke] spill smoke under ${heapMb} MB heap at $dir")

    // (label, catalog query, data dir). The optional skewed dir adds the
    // one shape whose WINDOW genuinely outgrows a starved pool: the
    // whale-user session window (one ~20%-of-corpus partition in one
    // task) — per-user and per-language windows at uniform sf1 are
    // bounded by construction and rightly never spill.
    val cases: Seq[(String, String, String)] =
      spillCases.map(q => (q, q, dir)) ++
        skew.map(sk => ("q_w_sessionize[whale]", "q_w_sessionize", sk)).toSeq

    // A starved pool still has to honor Tungsten's floor: consumers
    // acquire page-granular chunks, so cores × page must fit the
    // EXECUTION share or the allocator throws before the spill machinery
    // gets a chance (measured: fraction 0.04-0.05 under default 0.5
    // storageFraction dies with AGGREGATE_OUT_OF_MEMORY on a 1 MiB
    // RowBasedKeyValueBatch page — the minhash localCheckpoint blocks
    // squat on the protected storage half of the pool). The smoke
    // therefore pins the same sizing rule a real cluster applies —
    // 1 MiB pages, storageFraction 0.1 so cached blocks evict to disk
    // instead of starving tasks — and the claim under test stays honest:
    // given the documented per-task minimum, working sets far beyond the
    // pool spill and finish.
    val fraction = sys.env.getOrElse("SPARK_GRAFT_MEM_FRACTION", "0.05")
    crossCheck("spill", cases, () => {
      val spark = GraftSession.builder("graft-spill-smoke", GraftSession.defaultCpus)
        .config("spark.memory.fraction", fraction)
        .config("spark.memory.storageFraction", "0.1")
        .config("spark.buffer.pageSize", "1m")
        .getOrCreate()
      // The window/SMJ paths buffer per-partition rows in an
      // ExternalAppendOnlyUnsafeRowArray that only BECOMES a spillable
      // sorter past `in.memory.threshold` rows and force-spills it past
      // `spill.threshold`. A per-user window (≈100 rows/partition at sf1)
      // structurally CANNOT spill — its zero row is the bounded-partition
      // design holding, not an untested path. 2000-row thresholds turn
      // larger window/SMJ buffers into real sorters; the per-language
      // ntile (q_x_ppl_buckets, ~10⁵-row partitions at sf1) was meant to
      // spill through them but measured 0 B (see above), and the whale
      // session window is the window case that does. Don't push the
      // thresholds lower: each spill reader holds a
      // ~1 MiB read-ahead buffer on the JVM heap, so 64-row force-spill
      // (measured) kills a 3 GiB JVM with thousands of reader buffers.
      Seq("spark.sql.windowExec.buffer.in.memory.threshold",
        "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold",
        "spark.sql.windowExec.buffer.spill.threshold",
        "spark.sql.sortMergeJoinExec.buffer.spill.threshold")
        .foreach(spark.conf.set(_, "2000"))
      println(s"[scale-smoke] rebuilt context with spark.memory.fraction=$fraction, " +
        "storageFraction=0.1, 1 MiB pages, window/SMJ buffer thresholds 2000")
      spark
    })
  }

  /** Layout-independence cross-check for queries whose ORACLE is
    * compute-infeasible at a large SF (the DuckDB minhash-family SQL at
    * sf1): the variant session changes the shuffle fan-out, scan split
    * size and broadcast threshold (so scan partitioning, exchange
    * placement and join strategies all move). A query whose answer
    * depends on partition layout, task order, or a broadcast-vs-shuffle
    * flip fails it. */
  private def xcheck(dir: String, queries: List[String]): Unit =
    crossCheck("xcheck", queries.map(q => (q, q, dir)), () =>
      GraftSession.builder("graft-xcheck-alt", GraftSession.defaultCpus)
        .config("spark.sql.shuffle.partitions", "53")
        .config("spark.sql.files.maxPartitionBytes", (8 << 20).toString)
        .config("spark.sql.autoBroadcastJoinThreshold", (256 << 10).toString)
        .getOrCreate())

  /** The reference-vs-variant loop behind `spill` and `xcheck`: each
    * (label, query, dir) case's [[Golden.fingerprint]] under the canonical
    * session, then again through [[Run]] under the rebuilt `variant`
    * context, which must match bitwise. Prints wall, spill and peak task
    * memory per case; exits 1 on any mismatch or failure. An
    * OutOfMemoryError aborts the remaining cases: the JVM's executor state
    * is undefined after it. */
  private def crossCheck(mode: String, cases: Seq[(String, String, String)],
                         variant: () => SparkSession): Unit = {
    def fingerprint(spark: SparkSession, q: String, dir: String): DataFrame =
      Golden.fingerprint(Catalog.byName(q).run(spark, dir))
    val ref = session()
    val want = cases.map { case (label, q, d) =>
      val r = fingerprint(ref, q, d).head()
      GraftSession.dropCachedBlocks(ref)
      label -> ((r.getLong(0), r.getString(1)))
    }.toMap
    println(s"[scale-smoke] $mode: reference fingerprints collected")
    ref.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val spark = variant()
    spark.sparkContext.setLogLevel("WARN")

    def mb(b: Long) = f"${b / 1e6}%.1fM"
    println(f"${"query"}%-28s ${"rows"}%9s ${"wall_s"}%7s ${"spill_mem"}%10s " +
      f"${"spill_disk"}%10s ${"peak_task"}%10s ${"fp"}%6s ${"status"}%8s")
    var bad = 0
    cases.foreach { case (label, q, d) =>
      GraftSession.dropCachedBlocks(spark)
      var got: (Long, String) = null
      val r = Run.query(spark, label, fingerprint(spark, q, d),
        df => { val row = df.head(); got = (row.getLong(0), row.getString(1)) })
      val fp = if (!r.ok) "-" else if (got == want(label)) "match" else "DRIFT"
      if (fp != "match") bad += 1
      val status = r.error.fold("ok")(e =>
        if (e.contains("OutOfMemory")) "OOM" else "failed")
      println(f"$label%-28s ${want(label)._1}%9d ${r.wallS.getOrElse(Double.NaN)}%7.1f " +
        f"${mb(r.spillMemBytes)}%10s ${mb(r.spillDiskBytes)}%10s " +
        f"${mb(r.peakTaskMemBytes)}%10s $fp%6s $status%8s")
      r.error.foreach(e => println(s"[scale-smoke] $label: $e"))
      if (status == "OOM") {
        println(s"[scale-smoke] OOM in $label — JVM state undefined; aborting")
        spark.stop(); sys.exit(1)
      }
    }
    spark.stop()
    println(s"[scale-smoke] $mode: ${cases.size - bad}/${cases.size} fingerprints match")
    if (bad > 0) sys.exit(1)
  }

  private def session(): SparkSession = {
    val s = GraftSession.builder("graft-scale-smoke", GraftSession.defaultCpus)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The three scalable-table N× replica frames (documents, events,
    * embeddings), built as described in the object doc. With
    * `skew = true`, the N× tables get a Zipf-style head instead of
    * the uniform replica structure (ids/markers still applied so scale
    * stays honest):
    *  - events: ~20% of ALL rows (hash-selected, replica-independent)
    *    redirect to one whale `user_id` — the hot join/window/session key;
    *  - documents: ~20% of each replica's docs are rewritten as near-dups
    *    of one replica-constant template (pairwise word-3-gram Jaccard
    *    ≈ 0.9 ≥ the 0.7 threshold) — one giant dedup cluster per replica,
    *    the hot-LSH-bucket regime the `maxBucket` cap exists for.
    * Shared by `gen`/`genskew` and the persisted-SF generator [[gensf]]. */
  private def scalableReplicas(spark: SparkSession, src: String, n: Int,
                               skew: Boolean)
      : (DataFrame, DataFrame, DataFrame) = {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val events = spark.read.parquet(s"$src/events.parquet") // ts stays long nanos
    val embs = spark.read.parquet(s"$src/embeddings.parquet")
    val docOff = 10000000L
    val evtOff = 100000000L
    val vecOff = 10000000L
    val hotUser = 7L
    // ~30 tokens of template → two hot docs share all but their unique
    // suffix gram: jac ≈ 28/33 ≈ 0.85 > 0.7 verify threshold
    val hotTemplate = (1 to 30).map(k => s"hot$k").mkString(" ")

    def replicas(i0: DataFrame, f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until n).map(i => f(i0, i)).reduce(_.unionAll(_))

    val docsU = replicas(docs, { (d, i) =>
      val base = d.withColumn("doc_id", col("doc_id") + lit(i * docOff))
      if (i == 0) base
      else base.withColumn("text", array_join(flatten(transform(
        filter(split(col("text"), " ", -1), t => t =!= lit("")),
        (t, j) => when(j % 5 === 0, array(lit(s"r${i}x"), t))
          .otherwise(array(t)))), " "))
        .withColumn("n_chars", length(col("text")))
    })
    val docsN =
      if (!skew) docsU
      else docsU.withColumn("text",
          when(col("doc_id") % 5 === 0,
            concat(lit(hotTemplate + " rep"), floor(col("doc_id") / docOff),
              lit(" u"), col("doc_id")))
          .otherwise(col("text")))
        .withColumn("n_chars", length(col("text")))
    val eventsN = replicas(events, { (e, i) =>
      val re = e.withColumn("event_id", col("event_id") + lit(i * evtOff))
        .withColumn("user_id", col("user_id") + lit(i * 10000L))
      if (!skew) re
      else re.withColumn("user_id",
        when(pmod(xxhash64(col("event_id")), lit(5)) === 0, lit(hotUser))
          .otherwise(col("user_id")))
    })
    // Embeddings get the same honesty treatment as documents: replica i>0
    // sign-flips a replica-specific ~half of the coordinates (a diagonal
    // ±1 orthogonal transform). Within a replica every cosine is preserved
    // EXACTLY (planted near-dups stay near-dups); across replicas the copy
    // of a vector lands at cos ≈ 0, so the N× corpus has N× similarity
    // structure instead of N verbatim copies of every vector.
    val embsN = replicas(embs, { (e, i) =>
      val base = e.withColumn("vec_id", col("vec_id") + lit(i * vecOff))
      if (i == 0) base
      else base.withColumn("embedding",
        transform(col("embedding"), (v, j) =>
          when(pmod(xxhash64(j.cast("long") * lit(1000003L) + lit(i.toLong)),
            lit(2)) === 0, -v).otherwise(v).cast("float")))
    })

    (docsN, eventsN, embsN)
  }

  private def gen(src: String, out: String, n: Int,
                  skew: Boolean = false): Unit = {
    val spark = session()
    val (docsN, eventsN, embsN) = scalableReplicas(spark, src, n, skew)
    docsN.repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")
    eventsN.repartition(32).write.mode("overwrite").parquet(s"$out/events.parquet")
    embsN.repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"[scale-smoke] wrote ${n}x tables to $out")
    spark.stop()
  }

  /** Persist a COMPLETE N×-scaled testdata dir — every table, not just
    * the three `gen` replicates — so the full canonical bench and the
    * DuckDB oracle run against a real on-disk scale factor (sf0.1 × 10 =
    * "sf1") instead of in-memory replicas. TPC-H tables replicate with
    * FK-CONSISTENT key shifts (replica i adds i·stride to each key and
    * to every foreign reference, strides > any 10×-scaled key), so join
    * cardinalities scale the way a larger TPC-H generation would:
    * every order keeps exactly one customer, every lineitem one
    * order/part/supplier. The fixed-size dimensions (region, nation —
    * constant in TPC-H at every SF) copy through unchanged, and
    * nationkey references don't shift. Attribute values (names, prices,
    * dates) repeat across replicas — fine for the oracle gate, which
    * compares Spark vs DuckDB on the SAME files. */
  private def gensf(src: String, out: String, n: Int): Unit = {
    val spark = session()
    def rd(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String, parts: Int = 32): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$t.parquet")

    val custStride = 1000000L
    val suppStride = 100000L
    val partStride = 1000000L
    val orderStride = 10000000L

    def shifted(t: String, shifts: Map[String, Long]): DataFrame = {
      val base = rd(t)
      (0 until n).map { i =>
        shifts.foldLeft(base) { case (d, (c, stride)) =>
          d.withColumn(c, col(c) + lit(i * stride))
        }
      }.reduce(_.unionAll(_))
    }

    wr(rd("region"), "region", 1)
    wr(rd("nation"), "nation", 1)
    wr(shifted("customer", Map("c_custkey" -> custStride)), "customer", 4)
    wr(shifted("supplier", Map("s_suppkey" -> suppStride)), "supplier", 1)
    wr(shifted("part", Map("p_partkey" -> partStride)), "part", 4)
    wr(shifted("orders", Map("o_orderkey" -> orderStride,
      "o_custkey" -> custStride)), "orders")
    wr(shifted("lineitem", Map("l_orderkey" -> orderStride,
      "l_partkey" -> partStride, "l_suppkey" -> suppStride)), "lineitem")

    val (docsN, eventsN, embsN) = scalableReplicas(spark, src, n,
      skew = false)
    wr(docsN, "documents")
    wr(eventsN, "events")
    wr(embsN, "embeddings")
    println(s"[scale-smoke] wrote complete ${n}x testdata to $out")
    spark.stop()
  }
}
