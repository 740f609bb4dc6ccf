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
    * in tools.ExtensionsCheckMain. */
  def builder(appName: String, cpus: String,
              shufflePartitions: Option[String] = None): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions",
        shufflePartitions.getOrElse(cpus))
      .config("spark.sql.adaptive.enabled", "true")
      // Production-typical broadcast budget (Spark's 10 MB default is
      // sized for small executors; at 128 GiB a 64 MB dim broadcast is
      // routine). Paired with ACCURATE stats on materialized frames
      // (persist+count, never stats-blind localCheckpoint, on every
      // corpus-scale join input — the MarketBasket driver-bomb fix),
      // this keeps join planning size-aware at every scale: the sf1
      // membership/shingle tables (~40-100 MB) broadcast, a 100 TB one
      // sort-merges. Raising the threshold WITHOUT honest stats would
      // just enlarge the bomb.
      .config("spark.sql.autoBroadcastJoinThreshold", "128m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")

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
