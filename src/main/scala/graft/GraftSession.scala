package graft

import org.apache.spark.sql.SparkSession

/** One place for the session configuration every graft entrypoint needs.
  *
  * `spark.sql.legacy.parquet.nanosAsLong` lives HERE, at session build, not
  * inside readers: mutating shared session conf per `table()` call is
  * thread-unsafe under concurrent query execution and invisible to other
  * readers. The testdata's `events.ts` is parquet TIMESTAMP(NANOS), which
  * Spark's vectorized reader otherwise rejects; with this conf it arrives as
  * a nanos long and `Sources.table` truncates to microseconds.
  */
object GraftSession {

  /** Local worker threads for every entry point: SPARK_GRAFT_CPUS when
    * set, otherwise the cores this JVM may use. */
  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** Standard builder: local master, UTC, AQE, right-sized shuffle
    * partitions (one per local core, not the 200 default), nanos-as-long, and
    * the engine's own session extensions (native SQL functions, the
    * as-of planner strategy, the edit-distance prefilter rule).
    * `spark.sql.extensions` is STATIC — it binds when the process's
    * first session is built and is ignored afterwards — so the
    * config-string injection path additionally gets its own-JVM check
    * in tools.ExtensionsCheckMain.
    *
    * Three confs make generated code compile once per JVM. Spark keys its
    * JVM-wide cache of compiled (Janino) classes by source text AND class
    * loader, and keeps 100 entries by default:
    *  - `spark.sql.codegen.cache.maxEntries` = [[CodegenCacheEntries]].
    *    One pipeline_barriers benchmark pass needs about 172 classes, so
    *    at 100 entries LRU eviction hit 0% and every pass recompiled all
    *    of them (and HotSpot re-JITted them); a full sweep of the 232
    *    registered queries at sf0.001 needs about 2,500. The cap binds
    *    ONCE per JVM, when `CodeGenerator` is first used, from the conf of
    *    the session active then; every later value is ignored. The cost is
    *    heap: after three full sweeps, heap after GC was 217 MB against
    *    150 MB with Spark's defaults.
    *  - `spark.sql.artifact.isolation.enabled` = false. With isolation on,
    *    every cloned session (each `writeStream.start()` runs in one) gets
    *    its own class loader, so each streaming query recompiled all of its
    *    classes on every run (22 for q_s_stream_distinct). Isolation only
    *    separates jars and artifacts added per session; the engine adds
    *    none (no `addArtifact`/`addJar` anywhere), so turning it off
    *    protects nothing it uses.
    *  - `spark.sql.codegen.useIdInClassName` = false. Adaptive execution
    *    numbers whole-stage codegen stages in the order it plans them,
    *    which follows the order earlier stages happen to finish, and the
    *    number was part of each generated class's name, so the same
    *    operator chain came out as a new source text (and a recompile)
    *    whenever the order changed. With both confs above, a second
    *    full sweep still compiled 90 classes at sf0.001, most of them
    *    for this reason. The stage number stays in EXPLAIN output
    *    (`*(6)`); only generated class names lose it.
    *
    * Two confs ([[graft.sources.LocalFs.Confs]]) give `file://` paths a
    * local filesystem that starts no processes. Without the native Hadoop
    * library, Hadoop's `RawLocalFileSystem` forked a `chmod` from
    * `setPermission` for every file and directory it created (stream
    * offset/commit logs, state-store delta files, parquet part files and
    * all their `.crc` files) and a `readlink` from `FileUtil.readLink`
    * (`getFileLinkStatus`) on every `FileContext` rename, which is how
    * Spark commits checkpoint and state-store files. 40 SIGQUIT thread
    * dumps of a pipeline_barriers benchmark run on 4 vCPUs held 285
    * `org.apache.hadoop.util.Shell` frames without these confs and none
    * with them. Checkpoint checksums
    * (`spark.sql.streaming.checkpoint.fileChecksum.enabled`) stay on.
    * Without the conf, `file://` resolved to Hive's `ProxyLocalFileSystem`
    * (listed for ServiceLoader by the bundled hive-exec jar), a stock
    * `LocalFileSystem` whose `rename` returns false, moving nothing, when
    * the target is an existing file; Hadoop's own local filesystem, and
    * this one, replace the file. Like the codegen cap, `fs.file.impl`
    * binds ONCE per JVM: Hadoop's JVM-wide `FileSystem` cache keeps the
    * class of the first `file://` filesystem any code asks for, whatever
    * conf a later caller carries. `fs.AbstractFileSystem.file.impl` is
    * read on every `FileContext`.
    *
    * Two confs size Tungsten memory for this engine's partitions, which
    * hold kilobytes to a few megabytes:
    *  - `spark.buffer.pageSize` = [[PageSize]] (2 MiB). Unset, Spark takes
    *    nextPow2(execution pool / cores / 16), clamped to 1-64 MiB; with
    *    an 8 GB heap on 4 cores that is 64 MiB. Four sites take a whole
    *    page however few rows they hold: the fast map of every
    *    hash-aggregate task (`RowBasedKeyValueBatch`), the
    *    `BytesToBytesMap` it falls back to on its first insert, the
    *    in-memory sorter of every sort task, and the `BytesToBytesMap`
    *    of every broadcast hash relation. The last one lives on: a heap
    *    dump of the sparkify_etl benchmark right after a full collection
    *    held a live 64 MiB `long[]` reached from a `BytesToBytesMap` page
    *    through `UnsafeHashedRelation.binaryMap` and a
    *    `DeserializedMemoryEntry` in the block manager's memory store,
    *    kept there until `ContextCleaner` drops the broadcast. A 1,000-row
    *    sort or a 10-group aggregate peaked at 64 MiB of task memory; at
    *    2 MiB pages they peak at about 2 MiB, and a batch that outgrows a
    *    page simply takes another one. The page size binds when the
    *    SparkContext is created (`SparkEnv`'s memory manager reads it
    *    once); a session built over an existing context keeps the
    *    context's value.
    *  - `spark.broadcast.blockSize` = 1m (Spark: 4m). `TorrentBroadcast`
    *    serializes every broadcast into chunks of this size and allocates
    *    the first one whole, so each broadcast relation and each stage's
    *    task binary (also a broadcast) cost a 4 MiB array even when they
    *    serialize to a few kilobytes.
    *
    * Three confs cap Spark's status store, the listener that keeps every
    * finished SQL execution (with its plan and metrics), job and stage for
    * the UI and `statusTracker`. The UI is off and nothing in the engine
    * reads the store, but Spark keeps up to 1,000 of each, so the live
    * heap of a long-lived session grew with every query it ran: a class
    * histogram of the sparkify_etl benchmark a few passes in held 89
    * `SQLExecutionUIData`, 236 `JobDataWrapper`, 342 `StageDataWrapper`
    * and 17,039 `SQLPlanMetric`s. The caps keep the latest
    * 20 executions, 50 jobs and 100 stages. The engine's own listeners
    * (`tools.Run`, `tools.PlanTrace`) see every event before the store
    * trims. */
  def builder(appName: String, cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // Production-typical broadcast budget (Spark's 10 MB default is
      // sized for small executors; at 128 GiB a 64 MB dim broadcast is
      // routine). Paired with ACCURATE stats on materialized frames
      // (persist+count, never stats-blind localCheckpoint, on every
      // corpus-scale join input; README "When an operator materializes"),
      // this keeps join planning size-aware at every scale: the sf1
      // membership/shingle tables (~40-100 MB) broadcast, a 100 TB one
      // sort-merges. Raising the threshold WITHOUT honest stats would
      // just enlarge the bomb.
      .config("spark.sql.autoBroadcastJoinThreshold", "128m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config(graft.sources.LocalFs.Confs)
      .config("spark.buffer.pageSize", PageSize.toString)
      .config("spark.broadcast.blockSize", "1m")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")

  /** Entries of the JVM-wide generated-code cache (see [[builder]]). */
  val CodegenCacheEntries = 4096

  /** Bytes in one Tungsten memory page (see [[builder]]). */
  val PageSize: Long = 2L << 20

  /** The conf a NON-graft-built session must carry to read the events
    * table; `Sources.table` asserts it with this key. */
  val NanosConf = "spark.sql.legacy.parquet.nanosAsLong"

  /** Drop every persisted/checkpointed block. The dedup/CC/tf-idf queries
    * localCheckpoint intermediates to break self-join re-execution; those
    * blocks live until the ContextCleaner notices the dropped references,
    * so a long-lived session sweeping the whole query surface (Bench,
    * Verify) accumulates them in storage memory until GC throttles
    * everything downstream. Safe between independent query executions:
    * each `q.run` rebuilds its plan from scratch. */
  def dropCachedBlocks(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
