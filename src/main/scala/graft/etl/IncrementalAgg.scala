package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance — the materialized-view refresh
  * pattern: keep a PARTIAL-STATE table (count/sum/min/max per key), fold
  * each new batch in by merging partials, and derive the non-algebraic
  * figures (avg) only at read time. A refresh costs |batch| + |keys|,
  * never the accumulated fact history — the difference between an
  * incremental MV and a nightly full recompute at 100 TB.
  *
  * The reference recomputes its dims/fact from full staging on every run
  * (`etl.py` truncate-and-reload shape); this is the capability that
  * replaces that full reload once the fact stops fitting a nightly scan.
  *
  * Partials are algebraic: count and sum merge by SUM, min/max by
  * MIN/MAX; avg finalizes as sum/count. Non-algebraic aggregates need a
  * mergeable sketch instead — HLL for distinct (q_a6), KLL/GK for
  * percentiles (q_a7b), count-min for frequencies (q_x_vocab_cm_sketch).
  *
  * State schema: key columns, `__n` (long row count), and per measure m:
  * `cnt_m` (non-null count — the avg denominator, so NULL measure values
  * dilute nothing, matching SQL avg), `sum_m` (double), `min_m`, `max_m`
  * (native type). Merging is associative and commutative, so batches may
  * arrive in any order and partial states may themselves be merged
  * (map-side combine applies all the way up). Measure columns must not
  * themselves be named `sum_*` (the state schema infers measures from
  * that prefix).
  */
object IncrementalAgg {

  private val N = "__n"

  private def measuresOf(state: DataFrame): Seq[String] =
    state.columns.toSeq.collect { case c if c.startsWith("sum_") => c.stripPrefix("sum_") }

  /** Collapse one batch to per-key partials. */
  def partials(batch: DataFrame, keys: Seq[String],
               measures: Seq[String]): DataFrame = {
    require(keys.nonEmpty && measures.nonEmpty, "keys and measures required")
    val aggs: Seq[Column] =
      count(lit(1)).as(N) +: measures.flatMap(m => Seq(
        count(col(m)).as(s"cnt_$m"),
        sum(col(m).cast("double")).as(s"sum_$m"),
        min(col(m)).as(s"min_$m"),
        max(col(m)).as(s"max_$m")))
    batch.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Merge two partial states (associative + commutative). */
  def merge(state: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame = {
    require(state.columns.sorted.sameElements(delta.columns.sorted),
      s"state schema mismatch: ${state.columns.mkString(",")} vs ${delta.columns.mkString(",")}")
    val ms = measuresOf(state)
    val aggs: Seq[Column] =
      sum(col(N)).as(N) +: ms.flatMap(m => Seq(
        sum(col(s"cnt_$m")).as(s"cnt_$m"),
        sum(col(s"sum_$m")).as(s"sum_$m"),
        min(col(s"min_$m")).as(s"min_$m"),
        max(col(s"max_$m")).as(s"max_$m")))
    state.unionByName(delta)
      .groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Read-time view: per-key count, sum, min, max, avg per measure
    * (avg over NON-NULL values, matching SQL avg semantics). */
  def finalize(state: DataFrame, keys: Seq[String]): DataFrame = {
    val ms = measuresOf(state)
    val cols: Seq[Column] =
      keys.map(col) ++ (col(N).as("n_rows") +: ms.flatMap(m => Seq(
        col(s"sum_$m"), col(s"min_$m"), col(s"max_$m"),
        (col(s"sum_$m") / col(s"cnt_$m")).as(s"avg_$m"))))
    state.select(cols: _*)
  }

  /** Migration shim: state directories written before the `cnt_m`
    * columns existed backfill them as `__n` — exactly the NULL-free
    * assumption the old avg encoded — so an upgrade never forces the
    * full-history rebuild this module exists to avoid. (If the legacy
    * history DID contain NULL measures, its avgs were already diluted;
    * the backfill preserves them as-is rather than silently changing
    * historical figures.) */
  private def upgraded(state: DataFrame): DataFrame =
    measuresOf(state).foldLeft(state) { (df, m) =>
      if (df.columns.contains(s"cnt_$m")) df
      else df.withColumn(s"cnt_$m", col(N))
    }

  /** `_`-prefixed marker carrying the last applied batch id: parquet
    * discovery ignores it, and it lives INSIDE the state dir so the
    * promote rename commits state and marker together — the property
    * that makes replayed batches (foreachBatch retries) no-ops instead
    * of double-counts. */
  private val BatchMarker = "_applied_batch_id"

  private def readMarker(fs: org.apache.hadoop.fs.FileSystem,
                         dir: Path): Option[Long] = {
    val m = new Path(dir, BatchMarker)
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
      finally in.close()
    }
  }

  private def writeMarker(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
                          id: Long): Unit = {
    val out = fs.create(new Path(dir, BatchMarker), true)
    try out.write(id.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Fold a batch into the on-disk state at `stateDir` (bootstraps on
    * first call; legacy pre-`cnt_m` state upgrades in place). Rewrites
    * through the same `_`-staged swap the other maintenance jobs use, so
    * a mid-failure leaves the previous state readable; the rewrite is
    * |keys|-sized, not history-sized.
    *
    * `batchId` (streaming callers — see
    * [[graft.streaming.IncrementalAggSink]]) makes the fold
    * replay-idempotent: a batch id ≤ the marker committed with the
    * current state is skipped, and the marker rides INSIDE the state dir
    * through the promote rename, so state and progress commit together —
    * a crash between them cannot double-count a replayed micro-batch. */
  def refresh(spark: SparkSession, stateDir: String, batch: DataFrame,
              keys: Seq[String], measures: Seq[String],
              batchId: Option[Long] = None): Unit = {
    val path = new Path(stateDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (batchId.isDefined && fs.exists(path) &&
        readMarker(fs, path).exists(_ >= batchId.get)) {
      return // replayed micro-batch: already folded into this state
    }
    val delta = partials(batch, keys, measures)
    if (!fs.exists(path)) {
      // bootstrap through the same staged rename: marker and first state
      // commit together (writing the marker after a direct write would
      // leave a crash window where a replay double-counts the batch)
      val (tmp, _) = Maintenance.stagingPaths(path, "incragg")
      delta.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      batchId.foreach(writeMarker(fs, tmp, _))
      if (!fs.rename(tmp, path))
        throw new java.io.IOException(s"refresh: could not promote $tmp")
      return
    }
    // no checkpoint needed: the tmp write below fully materializes the
    // merge while stateDir is still intact; the renames only run after
    val merged = merge(upgraded(graft.sources.Sources.parquet(spark, stateDir)), delta, keys)
    Maintenance.stagedSwap(fs, path, "incragg", "refresh") { tmp =>
      merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      batchId.foreach(writeMarker(fs, tmp, _))
    }
  }
}
