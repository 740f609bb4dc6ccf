package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's exploratory analytics surface (Fiddle.ipynb cells
  * 36-61, SURVEY.md §3.4) as library functions over a landed star-schema
  * warehouse (Pipeline.run output). Each mirrors a notebook probe; together
  * with the star tables they are what a reference user actually runs
  * day-to-day.
  */
object Analytics {

  private def t(spark: SparkSession, warehouseDir: String, name: String): DataFrame =
    graft.sources.Sources.parquet(spark, s"$warehouseDir/$name")

  /** F44-F50 — the per-table row-count probes. */
  def tableCounts(spark: SparkSession, warehouseDir: String): Map[String, Long] =
    graft.schemas.Schemas.starTables.map { case (name, _) =>
      name -> t(spark, warehouseDir, name).count()
    }.toMap

  /** F38/F39 — event distribution by page / auth status. */
  def eventsByPage(spark: SparkSession, warehouseDir: String): DataFrame =
    t(spark, warehouseDir, "stg_song_events")
      .groupBy(col("page")).agg(count(lit(1)).as("n"))

  /** F53 — grouping-sets counts over (song) and (song, artist). */
  def songArtistGroupingSets(spark: SparkSession, warehouseDir: String): DataFrame = {
    t(spark, warehouseDir, "stg_song_events").createOrReplaceTempView("stg_events_v")
    spark.sql("""SELECT song, artist, count(1) AS n FROM stg_events_v
                |GROUP BY GROUPING SETS ((song), (song, artist))""".stripMargin)
  }

  /** F56 — join match-rate probe: plays whose title matches the catalog. */
  def titleMatchRate(spark: SparkSession, warehouseDir: String): DataFrame = {
    val events = t(spark, warehouseDir, "stg_song_events")
      .filter(col("page") === "NextSong")
    val songs = t(spark, warehouseDir, "dim_songs")
    events.join(broadcast(songs), events("song") === songs("title"))
      .agg(count(lit(1)).as("n_title_matches"))
  }

  /** F61 — unmatched plays (left_anti — the idiomatic form of the
    * left-join + IS NULL probe). */
  def unmatchedPlays(spark: SparkSession, warehouseDir: String): DataFrame = {
    val fct = t(spark, warehouseDir, "fct_song_plays")
    fct.filter(col("song_id").isNull)
      .select(col("session_id"), col("item_in_session"), col("user_id"),
        col("time_key"))
  }

  /** F59/F60 — catalog search: lower() + LIKE over artist names. */
  def searchArtists(spark: SparkSession, warehouseDir: String,
                    needle: String): DataFrame =
    t(spark, warehouseDir, "dim_artists")
      .filter(lower(col("artist_name")).contains(needle.toLowerCase))
      .select(col("artist_id"), col("artist_name"), col("artist_location"))

  /** Star-join flagship over the Sparkify schema (README.md:61-87 design):
    * plays per user level × weekend flag × season — fact joined to the
    * (broadcast) time dim. */
  def playsByLevelAndSeason(spark: SparkSession, warehouseDir: String): DataFrame = {
    val fct = t(spark, warehouseDir, "fct_song_plays")
    val time = t(spark, warehouseDir, "dim_time_dimensions")
    fct.join(broadcast(time), Seq("time_key"))
      .groupBy(col("level"), col("is_weekend"), col("season"))
      .agg(count(lit(1)).as("n_plays"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** Per-user listening profile: plays + distinct artists + active days,
    * via the user/time dims. */
  def userActivity(spark: SparkSession, warehouseDir: String): DataFrame = {
    val fct = t(spark, warehouseDir, "fct_song_plays")
    val users = t(spark, warehouseDir, "dim_users")
      .select(col("user_id"), col("first_name"), col("last_name")).distinct()
    fct.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_plays"),
        countDistinct(col("artist_id")).as("n_artists"),
        countDistinct(to_date(col("ts"))).as("n_active_days"))
      .join(broadcast(users), Seq("user_id"), "left")
  }
}
