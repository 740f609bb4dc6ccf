package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftExprBridge
import org.apache.spark.util.sketch.BloomFilter

import graft.sources.Sources

/** Per-file Bloom sidecars — data skipping for POINT lookups on
  * high-cardinality keys, where min/max footer stats ([[Analyze.perFileRange]])
  * can't skip anything because every file's range covers the probe.
  *
  * `build` is ONE distributed pass: rows group by their `input_file_name`
  * and each file collapses to one Bloom filter (Spark's partial-aggregating
  * BloomFilterAggregate — the same sketch runtime row-level filters use),
  * written as a parquet sidecar UNDER the table root with a `_` prefix so
  * partition discovery never mistakes it for data (same convention as the
  * compaction staging dirs).
  *
  * `readPointLookup` reads the (one-row-per-file) sidecar, keeps the files
  * whose Bloom might contain the key, and scans ONLY those — at 100 TB a
  * key-clustered table (writeBucketed / writeZOrdered / rankBuckets) turns
  * a full-table point probe into a one-file read at the sidecar's fpp.
  *
  * The sidecar describes the file set it was built from: rebuild after
  * compact/upsert/incremental writes (both rewrite file names, so a stale
  * sidecar fails loudly — lookups hit missing-file errors, not silent
  * wrong answers). False positives cost an extra file scan; false
  * negatives are impossible.
  */
object BloomIndex {

  def sidecarPath(dir: String, keyCol: String): String =
    s"$dir/_bloom_$keyCol"

  /** Build (or rebuild) the sidecar for `keyCol`.
    *
    * @param expectedPerFile  expected distinct keys per file (sizes the
    *                         filter; the default pairs with ~128 MB files
    *                         of short rows)
    * @param numBits          filter size in bits (default 2²³ ≈ 1 MB per
    *                         file ⇒ fpp < 1% at the default expectation)
    */
  def build(spark: SparkSession, dir: String, keyCol: String,
            expectedPerFile: Long = 1L << 20,
            numBits: Long = 1L << 23): Unit = {
    // partition-discovery tables are rejected: readPointLookup scans part
    // files DIRECTLY, which would silently drop hive-style partition
    // columns from the schema. Index flat (clustered) layouts only —
    // writeZOrdered / writeBucketed / repartitionByRange outputs.
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partitionDirs = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
    require(partitionDirs.isEmpty,
      s"BloomIndex.build: $dir has hive partition dirs " +
        s"(${partitionDirs.take(3).map(_.getPath.getName).mkString(", ")}…) — " +
        "index flat clustered tables only")
    val bloomAgg = GraftExprBridge.column(
      new BloomFilterAggregate(
        GraftExprBridge.expression(xxhash64(col(keyCol))),
        Literal(expectedPerFile), Literal(numBits)).toAggregateExpression())
    Sources.parquet(spark, dir)
      .select(input_file_name().as("file"), col(keyCol))
      .groupBy(col("file"))
      .agg(bloomAgg.as("bloom"))
      .coalesce(1)
      .write.mode("overwrite").parquet(sidecarPath(dir, keyCol))
  }

  final case class PruneStats(totalFiles: Int, scannedFiles: Int)

  /** Files whose Bloom might contain `value` (exact long/string key).
    * `might_contain` only accepts a CONSTANT filter (it deserializes
    * once), so per-file probing happens driver-side: the sidecar is one
    * row per data file — a bounded collect by construction — and the
    * aggregate's binary is the standard `sketch.BloomFilter` stream
    * format. The probe hash runs through the same `xxhash64` expression
    * the build used (one 1-row job) so hashing is engine-identical. */
  private def candidateFiles(spark: SparkSession, dir: String, table: DataFrame,
                             keyCol: String, value: Any): (Seq[String], Int) = {
    val entries = Sources.parquet(spark, sidecarPath(dir, keyCol))
      .select(col("file"), col("bloom"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1))
    // xxhash64 is TYPE-sensitive: probe with the table column's exact type
    // (an INT key probed as a Long literal would hash differently and
    // silently prune every file)
    val keyType = table.schema(keyCol).dataType
    val h = spark.range(1).select(xxhash64(lit(value).cast(keyType)))
      .head().getLong(0)
    val files = entries.collect {
      case (file, bytes) if BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(bytes))
        .mightContainLong(h) => file
    }.toSeq
    (files, entries.length)
  }

  /** Point lookup through the sidecar: scan only the files that might
    * contain `value`, then apply the exact predicate. Returns the rows and
    * the skip stats (how many files the Bloom pruned). */
  def readPointLookup(spark: SparkSession, dir: String, keyCol: String,
                      value: Any): (DataFrame, PruneStats) = {
    val table = Sources.parquet(spark, dir)
    val (files, total) = candidateFiles(spark, dir, table, keyCol, value)
    val rows =
      if (files.isEmpty) table.filter(lit(false))
      else spark.read.schema(table.schema).parquet(files: _*)
        .filter(col(keyCol) === lit(value))
    (rows, PruneStats(total, files.size))
  }
}
