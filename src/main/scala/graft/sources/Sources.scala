package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{IntegerType, StructType}

import graft.schemas.Schemas

/** Readers / writers — the engine's S-series operators (SURVEY.md §2.1).
  *
  * All reads carry an explicit schema: no inference pass, deterministic
  * types, and Catalyst can prune/push down into the scan from the first plan.
  */
object Sources {

  // -------------------------------------------------------------------------
  // Testdata star schema (parquet)
  // -------------------------------------------------------------------------

  /** Read one driver testdata table (`<sfDir>/<name>.parquet`).
    * Schema-on-read from parquet footers — no StructType needed; vectorized
    * reader + filter/column pushdown come free.
    *
    * Timestamp physical types are normalized here, because the driver's
    * generated parquet has shipped them in different encodings across
    * rounds (TIMESTAMP(NANOS) int64 for `events.ts`, UTC-adjusted micros,
    * and naive micros — the last reads as TIMESTAMP_NTZ):
    *  - an int64-nanos `events.ts` (arriving as a long via
    *    legacy.parquet.nanosAsLong, set ONCE at session build — see
    *    GraftSession) truncates to microsecond TimestampType with integer
    *    `div` (a double division would lose bits above 2^53);
    *  - every TIMESTAMP_NTZ column casts to session-TZ TimestampType —
    *    the session runs UTC, so the wall-clock values are identical and
    *    downstream code sees ONE timestamp type regardless of encoding.
    *    Known cost: the Cast wrapper stops parquet predicate pushdown and
    *    row-group min/max pruning on those columns (e.g. l_shipdate range
    *    filters) for naive-micros testdata rounds — a deliberate trade of
    *    scan pruning for one stable timestamp type across encodings;
    *    account for it before attributing bench deltas across rounds.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val path = s"$sfDir/$name.parquet"
    val raw =
      try spark.read.parquet(path)
      catch {
        case e: Exception if e.getMessage != null &&
            e.getMessage.contains("NANOS") =>
          throw new IllegalStateException(
            s"$name.parquet carries TIMESTAMP(NANOS): build the session " +
              s"with GraftSession.builder (or set " +
              s"${graft.GraftSession.NanosConf}=true)", e)
      }
    val deNanosed =
      if (name == "events" && raw.schema("ts").dataType == LongType)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else raw
    deNanosed.schema.fields
      .filter(_.dataType == TimestampNTZType)
      .foldLeft(deNanosed)((df, f) =>
        df.withColumn(f.name, col(f.name).cast(TimestampType)))
  }

  /** Fan a CPU-bound map chain out to every core (r13 optimization). The
    * gate tables are ONE parquet file = one row group = ONE scan task, so
    * expensive per-row work above the scan (codec encode/decode,
    * tokenize/shingle, sketch signatures, wide decimal products) otherwise
    * runs single-threaded regardless of session cores. Hash-repartitions by
    * `key` (deterministic, no round-robin pre-sort) with an EXPLICIT
    * partition count — AQE does not re-coalesce user-numbered
    * repartitions, so the fan-out survives tiny inputs. No-op at scale:
    * a source with >= defaultParallelism files keeps its scan layout, so
    * this is a small-input parallelism floor, not a cluster constant.
    * The probe reads `inputFiles` (the read's cached FileIndex listing),
    * not `df.rdd.getNumPartitions`, which would plan the whole query to
    * read a count; a non-file source (empty listing) fans out. Only worth
    * inserting where per-row CPU dominates the exchange cost of one
    * narrow (key + payload) shuffle. */
  def fanOut(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val nFiles = try df.inputFiles.length catch { case _: Exception => 0 }
    if (nFiles >= target) df else df.repartition(target, key)
  }

  /** S7 — object listing (the boto3 `bucket.objects.filter(Prefix=…)`
    * probe, Fiddle cell 33) via the Hadoop FS API: works identically on
    * file://, s3a://, hdfs:// — the 100 TB layout discovery primitive. */
  def listObjects(spark: SparkSession, dir: String,
                  prefix: String = ""): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .sorted
  }

  /** Register every testdata table as a temp view so both the DataFrame API
    * and spark.sql can address the same catalog (SURVEY.md §1.2). */
  def registerTestdataViews(spark: SparkSession, sfDir: String): Unit =
    Schemas.testdataTables.keys.foreach { name =>
      table(spark, sfDir, name).createOrReplaceTempView(name)
    }

  // -------------------------------------------------------------------------
  // Sparkify staging loads (reference COPY semantics, sql_queries.py:136-150)
  // -------------------------------------------------------------------------

  /** S1 — events load honoring the jsonpaths contract
    * (COPY … JSON 's3://…/log_json_path.json', sql_queries.py:138-143):
    * positional extraction into the staging DDL's column order. Spark matches
    * JSON fields by name, so we read with the declared schema then select in
    * DDL order; `userId` arrives as "" for logged-out users and is cast
    * string→int (empty → NULL), matching Redshift COPY coercion
    * (SURVEY.md §1.4).
    */
  def readEventsJson(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.read.schema(Schemas.stgSongEvents).json(path)
      .select(Schemas.stgSongEvents.fieldNames.map(col).toSeq: _*)
      // try_cast: '' → NULL like Redshift COPY, under ANSI mode
      .withColumn("userId", col("userId").try_cast(IntegerType))
  }

  /** S2 — songs load, name-matched (json 'auto', sql_queries.py:145-150). */
  def readSongsJson(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.stgSongs).json(path)

  // -------------------------------------------------------------------------
  // Additional formats — same schema-on-read discipline as the JSON loads
  // -------------------------------------------------------------------------

  /** CSV with explicit schema (header tolerated, no inference pass).
    * PERMISSIVE mode mirrors the COPY-style coercion: malformed fields
    * become NULL instead of failing the load. */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
              header: Boolean = true): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .csv(path)

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("header", header.toString).csv(path)

  /** Schema-evolution read: union the schemas of every file in the
    * directory (`mergeSchema`), so a table whose writers added columns over
    * time reads as one frame — old files surface the new columns as NULL.
    * Footer-merge only; no data rewrite. The cost is one footer read per
    * file at planning (why it's opt-in here and off by default in Spark). */
  def readMergedParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** ORC — columnar alternative sink/source; vectorized reader + pushdown
    * come free, same as parquet. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  // -------------------------------------------------------------------------
  // Sinks
  // -------------------------------------------------------------------------

  /** S3 — positional append, the reference's `INSERT INTO t SELECT …`
    * without a column list (sql_queries.py:156,185,196,205,216): the frame
    * is coerced to the target schema BY POSITION, not by name, then appended.
    * One misordered column would silently corrupt on name-based writes; this
    * makes the positional contract explicit and type-checked.
    */
  def insertInto(df: DataFrame, target: StructType, path: String,
                 mode: SaveMode = SaveMode.Append): Unit = {
    val aligned = alignPositional(df, target)
    aligned.write.mode(mode).parquet(path)
  }

  /** Coerce a frame to `target` by POSITION: arity must match; each column is
    * renamed and cast to the target field. */
  def alignPositional(df: DataFrame, target: StructType): DataFrame = {
    require(df.schema.length == target.length,
      s"positional insert arity mismatch: ${df.schema.length} vs ${target.length}")
    import org.apache.spark.sql.functions.col
    val cols = df.schema.fieldNames.zip(target.fields).map {
      case (src, tgt) => col(src).cast(tgt.dataType).as(tgt.name)
    }
    df.select(cols.toSeq: _*)
  }

  /** Scale-aware parquet writer: repartition on the distribution key (the
    * Redshift `distkey` analogue — co-locates join keys) and sort within
    * partitions on the sort key (the `sortkey` analogue — tightens parquet
    * min/max row-group stats so zone-map-style pruning works). SURVEY.md §4.
    */
  def writeDistributed(df: DataFrame, path: String,
                       distKey: Option[String] = None,
                       sortKeys: Seq[String] = Nil,
                       numPartitions: Option[Int] = None): Unit = {
    import org.apache.spark.sql.functions.col
    val parted = distKey match {
      case Some(k) => numPartitions
        .map(n => df.repartition(n, col(k)))
        .getOrElse(df.repartition(col(k)))
      case None => numPartitions.map(df.repartition).getOrElse(df)
    }
    val sorted =
      if (sortKeys.nonEmpty) parted.sortWithinPartitions(sortKeys.map(col): _*)
      else parted
    sorted.write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Hive-style partitioned parquet (the file-level pruning path, SURVEY.md
    * §4 sortkey row): queries filtering on the partition column scan only
    * matching directories (PartitionFilters in the plan — zero I/O for
    * pruned partitions, the strongest pruning available at 100 TB). */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).parquet(path)

  /** Incremental partition load — the 100 TB append pattern the
    * reference's full-reload ETL lacks: dynamic partition overwrite
    * replaces ONLY the partitions present in `df` (yesterday's late data,
    * today's batch) and leaves every other partition untouched. The mode
    * rides as a per-write option, not session conf — concurrent writers
    * with different modes don't interfere. */
  def writePartitionedIncremental(df: DataFrame, path: String,
                                  partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*).parquet(path)

  /** Z-ordered layout — multi-dimensional clustering (Delta/Iceberg
    * OPTIMIZE ZORDER BY analogue): range-partition + sort by the Morton
    * interleave of two non-negative long columns, so every output file
    * covers a NARROW min/max range on BOTH columns and parquet scan
    * pruning (row-group/file skipping on footer stats) fires for filters
    * on either one. A plain sort key prunes one column only; `etl.Analyze`
    * reads back the per-file ranges this write produces. */
  def writeZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
                    numFiles: Int): Unit = {
    import org.apache.spark.sql.functions.col
    require(numFiles > 0, "numFiles must be positive")
    df.withColumn("__z", graft.functions.TextExprs.zorder_key(col(xCol), col(yCol)))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Quantile rank-bucketing — the preprocessing that makes writeZOrdered
    * effective on skewed or signed columns: Morton interleaving needs
    * non-negative, roughly-uniform inputs, and raw values (prices, ids
    * with gaps, negatives) aren't. Buckets come from approxQuantile (a
    * bounded distributed sketch — no global sort, no single-partition
    * window), applied as a codegen'd comparison sum: bucket = #splits
    * below the value, in [0, nBuckets). Keep nBuckets ≤ 256 — the
    * comparison chain is O(nBuckets) per row. */
  def rankBuckets(df: DataFrame, column: String, nBuckets: Int,
                  outCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, when}
    require(nBuckets > 1 && nBuckets <= 256, "nBuckets must be in 2..256")
    val splits = df.stat.approxQuantile(column,
      (1 until nBuckets).map(_.toDouble / nBuckets).toArray, 0.001)
    val c = col(column).cast("double")
    val bucket = splits.map(s => when(c > lit(s), 1L).otherwise(0L))
      .reduce(_ + _)
    df.withColumn(outCol, bucket)
  }

  /** Bucketed catalog table — the full Redshift distkey analogue: two
    * tables bucketed on their join key with the same bucket count join
    * WITHOUT a shuffle (co-located hash join). Opt-in (bucketing pays one
    * clustered write up front); the win at 100 TB is every subsequent
    * fact⋈fact join skipping its exchange. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    nBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(nBuckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }
}
