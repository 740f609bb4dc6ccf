package graft.etl

import java.util.concurrent.{CompletionException, Executors, TimeUnit}

import scala.util.{Failure, Try}

import org.apache.spark.sql.{classic, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{count, lit}

import graft.schemas.Schemas
import graft.schemas.Schemas.{Reference => Ref}
import graft.sources.Sources

/** The ETL runner mirroring etl.py (SURVEY.md §3.1): the two staging loads
  * in order, then the five star inserts concurrently — each reads only
  * staging, the one order that matters. Each step is one eager action with
  * its own commit (the per-statement `conn.commit()` analogue, §4) and
  * reports the row count its own write observed, not a read-back.
  *
  * Star tables are landed as parquet under `warehouseDir/<table>` through the
  * positional-insert writer: distribution and sort keys mirror the
  * reference's distkey/sortkey declarations (sql_queries.py:74-121, §4) —
  * repartition on the dist key co-locates join keys, sortWithinPartitions
  * tightens parquet min/max stats for zone-map-style pruning.
  */
object Pipeline {

  final case class Result(counts: Map[String, Long])

  /** A table and the eager action that lands it, returning its row count. */
  private type Step = (String, () => Long)

  def run(spark: SparkSession, eventsPath: String, songsPath: String,
          warehouseDir: String, timeDimLimit: Option[Int] = None): Result = {
    val staging = stagingFrames(spark, eventsPath, songsPath)
    runSteps(spark, staging.map { case (t, df) =>
      t -> (() => landParquet(df, s"$warehouseDir/$t")) }, {
      // Transforms read the LANDED staging parquet (as Redshift's inserts
      // do): the staging write is the single pass over the raw JSON, and its
      // schema spares a footer-inference job.
      val Seq(events, songsStg) = staging.map { case (t, df) =>
        spark.read.schema(df.schema).parquet(s"$warehouseDir/$t") }
      starFrames(events, songsStg, timeDimLimit).map { case (t, df, distKey, sortKeys) =>
        t -> (() => landParquet(Sources.distributed(
          Sources.alignPositional(df, ddl(t)), distKey, sortKeys), s"$warehouseDir/$t"))
      }
    })
  }

  /** FAITHFUL end-to-end run: the reference warehouse schema + semantics —
    * reference DDL columns/order/types (Schemas.Reference), the
    * day-of-month "hour" bug, the LIMIT 100 time-dim cap — landed as
    * parquet under `warehouseDir`. One deliberate divergence: the
    * reference's bare `LIMIT 100` is an unspecified subset (not
    * reproducible even across its own runs), so the faithful time dim
    * takes the first 100 events by (ts, sessionId, itemInSession) —
    * deterministic here, same shape there. A reference user who needs
    * their Redshift warehouse's layout runs THIS; the default `run`
    * is the corrected/extended schema. No staging table lands here: the
    * two staging counts count the raw input. */
  def runFaithful(spark: SparkSession, eventsPath: String, songsPath: String,
                  warehouseDir: String): Result = {
    val events = Sources.readEventsJson(spark, eventsPath)
    val songsStg = Sources.readSongsJson(spark, songsPath)
    runSteps(spark, Seq("stg_song_events" -> (() => events.count()),
      "stg_songs" -> (() => songsStg.count())), Seq(
      ("fct_song_plays", StarSchemaEtl.songPlaysFaithful(events, songsStg), Ref.fctSongPlays),
      ("dim_users", StarSchemaEtl.usersFaithful(events), Ref.dimUsers),
      ("dim_songs", StarSchemaEtl.songs(songsStg), Ref.dimSongs),
      ("dim_artists", StarSchemaEtl.artistsFaithful(songsStg), Ref.dimArtists),
      ("dim_time_dimensions", StarSchemaEtl.timeDimensionsFaithful(events), Ref.dimTimeDimensions)
    ).map { case (t, df, schema) => t -> (() =>
      landParquet(Sources.alignPositional(df, schema), s"$warehouseDir/$t")) })
  }

  /** The create_tables.py → etl.py COMPOSITION: land staging and star data
    * INTO the session-catalog tables that `Ddl.recreateAll` created
    * (create_tables.py:36-37 then etl.py:36-37; the reference's INSERTs
    * target those tables, e.g. sql_queries.py:156). Each append is
    * positional (`insertInto` matches by position, exactly the reference's
    * `INSERT INTO t SELECT …` without a column list), through the same
    * explicit align-and-cast used by the path-based writer.
    *
    * `Ddl.recreateAll(spark)` must have run first — this is the contract,
    * not a convenience: inserting into a missing table is an error in both
    * engines. The path-based `run` above remains the distributed-layout
    * variant (dist/sort-key parquet); this one gives `spark.table(...)` /
    * `spark.sql` users the reference's catalog-resident warehouse. */
  def runIntoCatalog(spark: SparkSession, eventsPath: String,
                     songsPath: String,
                     timeDimLimit: Option[Int] = None): Result = {
    def insert(table: String, df: DataFrame): Step = table -> (() =>
      countedWrite(Sources.alignPositional(df, ddl(table)))(_.write.insertInto(table)))
    runSteps(spark, stagingFrames(spark, eventsPath, songsPath).map((insert _).tupled), {
      // The staging frames read back from the catalog, so the fact/dim
      // builds scan the landed columnar data — same single-pass-over-raw
      // discipline as the path-based run.
      starFrames(spark.table("stg_song_events"), spark.table("stg_songs"),
        timeDimLimit).map { case (t, df, _, _) => insert(t, df) }
    })
  }

  private val ddl = Schemas.starTables.toMap

  /** COPY stage (sql_queries.py:136-150): the two staging loads, in order. */
  private def stagingFrames(spark: SparkSession, eventsPath: String,
                            songsPath: String): Seq[(String, DataFrame)] =
    Seq("stg_song_events" -> Sources.readEventsJson(spark, eventsPath),
      "stg_songs" -> Sources.readSongsJson(spark, songsPath))

  /** INSERT stage (sql_queries.py:326-332): (table, frame, distKey,
    * sortKeys) — dist/sort per sql_queries.py:74-121 (song_id distkey +
    * item_in_session sortkey on fact; registration/title/artist_name/date
    * sortkeys on dims). */
  private def starFrames(events: DataFrame, songsStg: DataFrame, timeDimLimit: Option[Int])
      : Seq[(String, DataFrame, Option[String], Seq[String])] = Seq(
    ("fct_song_plays", StarSchemaEtl.songPlays(events, songsStg),
      Some("song_id"), Seq("item_in_session")),
    ("dim_users", StarSchemaEtl.users(events), None, Seq("registration")),
    ("dim_songs", StarSchemaEtl.songs(songsStg), Some("song_id"), Seq("title")),
    ("dim_artists", StarSchemaEtl.artists(songsStg), Some("artist_id"), Seq("artist_name")),
    ("dim_time_dimensions", StarSchemaEtl.timeDimensions(events, timeDimLimit),
      Some("time_key"), Seq("date")))

  /** Run `write` over `df` and return the rows it wrote, observed right
    * under the write, where no empty stage an adaptive plan drops can take
    * the count with it. Read only after `write` returned: a failed write's
    * observation may hold a partial count. */
  private def countedWrite(df: DataFrame)(write: DataFrame => Unit): Long = {
    val rows = Observation()
    write(df.observe(rows, count(lit(1)).as("rows")))
    rows.get("rows").asInstanceOf[Long]
  }

  private def landParquet(df: DataFrame, path: String): Long =
    countedWrite(df)(_.write.mode(SaveMode.Overwrite).parquet(path))

  /** Run `staging` in order, then all of `inserts` at once, one thread each,
    * built after staging has landed. Each thread carries the caller's active
    * session and local properties (job tags, query names), so its jobs are
    * attributed as the caller's. Once every insert has finished, the first
    * failure in step order is rethrown as its own exception. */
  private def runSteps(spark: SparkSession, staging: Seq[Step],
                       inserts: => Seq[Step]): Result = {
    val staged = staging.map { case (t, land) => t -> land() }
    val steps = inserts
    val pool = Executors.newFixedThreadPool(steps.size, new Thread(_, "graft-etl-insert"))
    try {
      val session = spark.asInstanceOf[classic.SparkSession]
      val landed = steps.map { case (t, land) =>
        t -> SQLExecution.withThreadLocalCaptured(session, pool)(land()) }
        .map { case (t, f) => t -> Try(f.join()).recoverWith {
          case e: CompletionException if e.getCause != null => Failure(e.getCause) } }
      Result((staged ++ landed.map { case (t, rows) => t -> rows.get }).toMap)
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
  }
}
