package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Sources

/** Table maintenance — the background jobs a 100 TB parquet warehouse
  * cannot live without. The reference delegates these to Redshift
  * (auto-vacuum/analyze); on files we do them explicitly.
  */
object Maintenance {

  final case class CompactionReport(filesBefore: Long, filesAfter: Long,
                                    bytes: Long)

  /** Small-file compaction: streaming/incremental writers leave thousands
    * of KB-sized files per partition; every query then pays per-file open
    * + footer-parse + scheduling overhead (the classic small-file
    * problem). Rewrite the directory into ~`targetFileBytes` files:
    * read → coalesce(ceil(bytes/target)) → write aside → atomic-ish swap
    * (rename old out of the way, promote new, drop old). `coalesce`, not
    * `repartition`: compaction must not pay a shuffle, it only narrows
    * partitions.
    */
  def compact(spark: SparkSession, dir: String,
              targetFileBytes: Long = 128L * 1024 * 1024): CompactionReport = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // Hive-partitioned layout (what writePartitionedIncremental produces):
    // recurse into each `col=value` subdirectory and compact it in place.
    // A flat rewrite of the root would silently FLATTEN the layout (the
    // partition column lives in the directory name, not the files) and
    // lose partition pruning. Per-leaf compaction preserves the layout,
    // stays shuffle-free, and sizes files per partition.
    val partDirs = fs.listStatus(path).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("=") &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    if (partDirs.nonEmpty) {
      val reports = partDirs.map(p =>
        compact(spark, p.getPath.toString, targetFileBytes))
      return CompactionReport(reports.map(_.filesBefore).sum,
        reports.map(_.filesAfter).sum, reports.map(_.bytes).sum)
    }

    val dataFiles = fs.listStatus(path).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val totalBytes = dataFiles.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)

    // Stage under `_`-prefixed siblings: Spark/Hive partition discovery
    // skips `_`/`.`-prefixed entries, so a concurrent reader mid-swap (or a
    // crash that leaves them behind) never sees the staging copies as
    // partitions — a `<leaf>__compact_tmp` sibling of `dt=...` WOULD be
    // discovered (it contains '=') and silently duplicate rows.
    rewrite(spark, dir, "compact", Sources.parquet(spark, dir).coalesce(nOut))

    val after = fs.listStatus(path).toSeq
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    CompactionReport(dataFiles.size.toLong, after.toLong, totalBytes)
  }

  /** Staging dirs of [[stagedSwap]]: siblings of the target
    * named `_<leaf>__<tag>_{tmp,old}`. The `_` prefix keeps them invisible
    * to partition discovery AND excludes them from the recursive
    * `partDirs` filter above, so a concurrent reader mid-swap never sees
    * them and a rerun never compacts leftovers as data. Spark's hidden-path
    * filter does NOT hide `_`-prefixed names that still contain '='
    * (InMemoryFileIndex.shouldFilterOut), so the partition leaf's '=' is
    * percent-encoded out of the staging name.
    */
  private[etl] def stagingPaths(path: Path, tag: String): (Path, Path) = {
    val parent = Option(path.getParent).getOrElse(
      throw new IllegalArgumentException(s"cannot stage swap for root path $path"))
    val leaf = path.getName.replace("=", "%3D")
    (new Path(parent, s"_${leaf}__${tag}_tmp"),
      new Path(parent, s"_${leaf}__${tag}_old"))
  }

  /** Replace the directory `path` with what `stage` writes to the staged
    * tmp sibling: move `path` aside, promote tmp, roll back on failure,
    * drop the old copy. Not transactional (a table format like
    * Iceberg/Delta makes it so); the old copy survives any mid-swap crash
    * for manual recovery. `op` names the operation in the errors. */
  private[etl] def stagedSwap(fs: FileSystem, path: Path, tag: String,
                              op: String)(stage: Path => Unit): Unit = {
    val (tmp, old) = stagingPaths(path, tag)
    stage(tmp)
    if (fs.exists(old)) fs.delete(old, true)
    if (!fs.rename(path, old))
      throw new java.io.IOException(s"$op: could not move $path aside")
    if (!fs.rename(tmp, path)) {
      fs.rename(old, path) // roll back
      throw new java.io.IOException(s"$op: could not promote $tmp")
    }
    fs.delete(old, true)
  }

  /** Replace the parquet table at `dir` with `df` through [[stagedSwap]]. */
  private def rewrite(spark: SparkSession, dir: String, op: String, df: DataFrame): Unit = {
    val path = new Path(dir)
    stagedSwap(path.getFileSystem(spark.sparkContext.hadoopConfiguration), path, op, op) {
      tmp => df.write.mode(SaveMode.Overwrite).parquet(tmp.toString) }
  }

  final case class UpsertReport(baseRows: Long, updateRows: Long,
                                resultRows: Long)

  final case class DeleteReport(baseRows: Long, deletedRows: Long,
                                resultRows: Long)

  /** Keyed erasure (DELETE WHERE key IN …): the right-to-be-forgotten /
    * retention primitive. Rewrites the table without rows whose `key`
    * appears in `keys` — a left join that marks the listed keys, keeping
    * the unmarked rows (LEFT ANTI semantics; broadcast for the typical
    * small erasure list, AQE decides) — through the same staged swap as
    * `compact`/`mergeUpsert`, so a mid-failure leaves the original
    * readable. This is the full-rewrite form; at 100 TB, partition the
    * table and erase only the partitions a Bloom/zone check says contain
    * the keys (`etl.BloomIndex.prune` gives exactly that file list) —
    * the anti-join semantics stay as here. */
  def deleteByKey(spark: SparkSession, dir: String, keys: DataFrame,
                  key: String): DeleteReport = {
    val base = Sources.parquet(spark, dir)
    require(base.columns.contains(key), s"no column '$key' in $dir")
    // the write counts base and marked rows above the join, where no empty
    // stage the adaptive plan drops takes the count with it. No checkpoint:
    // the tmp write materializes the kept rows while `dir` is still intact
    val counts = Observation()
    val keep = base
      .join(keys.select(keys.columns.head).toDF(key).distinct()
        .withColumn("__del", lit(true)), Seq(key), "left")
      .observe(counts, count(lit(1)).as("base"), count(col("__del")).as("deleted"))
      .filter(col("__del").isNull)
      .select(base.columns.map(col).toSeq: _*)
    rewrite(spark, dir, "delete", keep)
    val n = counts.get.view.mapValues(_.asInstanceOf[Long])
    DeleteReport(n("base"), n("deleted"), n("base") - n("deleted"))
  }

  /** Keyed upsert (MERGE INTO analogue on plain parquet): base ∪ updates,
    * keep the winning row per key — the greatest `versionCol` wins
    * regardless of side (true versioned-MERGE semantics: a stale update
    * can NOT clobber a newer base row); on equal versions the update
    * beats the base (the `__src` tag is the tiebreak, not the primary
    * order). Duplicate (key, version) pairs WITHIN one side have no
    * defined winner — callers must not feed them (dedup updates first).
    * Rewrites through the same swap `compact` uses, so a
    * mid-failure leaves the original table readable. This is the
    * full-rewrite form; at 100 TB restrict the rewrite by partitioning the
    * table and upserting per partition (writePartitionedIncremental), or
    * use a transactional table format — the MERGE semantics stay as here.
    */
  def mergeUpsert(spark: SparkSession, dir: String, updates: DataFrame,
                  key: String, versionCol: String): UpsertReport = {
    val base = Sources.parquet(spark, dir)
    require(base.columns.sameElements(updates.columns),
      s"upsert schema mismatch: ${base.columns.mkString(",")} vs ${updates.columns.mkString(",")}")
    val tagged = base.withColumn("__src", lit(0))
      .unionByName(updates.withColumn("__src", lit(1)))
    val w = Window.partitionBy(col(key))
      .orderBy(col(versionCol).desc, col("__src").desc)
    // every input row reaches the window: the write counts both sides and
    // the winners there. No checkpoint: the tmp write materializes the
    // winners while `dir` is still intact — and a checkpoint would leak
    // cached blocks on every UpsertSink micro-batch
    val counts = Observation()
    val winners = tagged
      .withColumn("__rn", row_number().over(w))
      .observe(counts, count(when(col("__src") === 0, 1)).as("base"),
        count(when(col("__src") === 1, 1)).as("updates"),
        count(when(col("__rn") === 1, 1)).as("result"))
      .filter(col("__rn") === 1)
      .drop("__src", "__rn")
    rewrite(spark, dir, "upsert", winners)
    val n = counts.get.view.mapValues(_.asInstanceOf[Long])
    UpsertReport(n("base"), n("updates"), n("result"))
  }

  /** Snapshot diff — the dataset-versioning audit between two corpus
    * versions (what changed since the last data push?): per id, whether
    * the row was `added`, `removed`, `changed`, or `unchanged`, judged on
    * the given content columns with null-safe equality.
    *
    * Scale shape: one full outer hash join on the id. Content columns are
    * compared in the join output, so the exchange carries them once per
    * side — at 100 TB pass `contentCols = Seq(xxhash64-of-content)`
    * computed map-side instead (8 B/row exchanged; a 64-bit collision
    * mis-reports one row as unchanged). No window, no skew exposure
    * beyond the id join (ids unique per snapshot ⇒ no whale key exists).
    *
    * Output: (idCol, status) for every id in either snapshot. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                   contentCols: Seq[String]): DataFrame = {
    require(contentCols.nonEmpty, "need at least one content column")
    val o = oldDf.select(col(idCol) +:
      contentCols.map(c => col(c).as(s"__o_$c")): _*)
    val n = newDf.select(col(idCol) +:
      contentCols.map(c => col(c).as(s"__n_$c")): _*)
    // presence is judged on a marker, not the content (content may be
    // legitimately NULL): tag each side before the join
    val om = o.withColumn("__in_o", lit(true))
    val nm = n.withColumn("__in_n", lit(true))
    val same = contentCols.map(c => col(s"__o_$c") <=> col(s"__n_$c"))
      .reduce(_ && _)
    om.join(nm, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(coalesce(col("__in_o"), lit(false)) &&
             !coalesce(col("__in_n"), lit(false)), "removed")
          .when(!coalesce(col("__in_o"), lit(false)), "added")
          .when(same, "unchanged")
          .otherwise("changed").as("status"))
  }
}
