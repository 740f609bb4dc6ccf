package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, round}
import org.apache.spark.sql.types._

import graft.etl.{Analytics, Pipeline}
import graft.operators.{Catalog, Golden}

/** What an op's build phase hands to its execute phase. `execute` runs the
  * action and returns a token that must repeat on every pass (the
  * determinism check); `verify` checks that token, or the output behind
  * it, against the expected values under `expectedDir` and returns one
  * line per mismatch. */
trait Output {
  def execute(): String
  def verify(spark: SparkSession, expectedDir: String, token: String): Seq[String]
  def filesWritten: Long = 0L
}

/** One timed unit of a workload. `build` is the call into the engine's
  * public entry point (the eager work it does before returning is the
  * build layer); the returned output's `execute` is the execute layer. */
final case class Op(name: String, build: SparkSession => Output)

object Fingerprint {

  /** Golden.fingerprint as a "rows:hashsum" token. */
  def raw(df: DataFrame): String = {
    val r = Golden.fingerprint(df).collect()(0)
    s"${r.getLong(0)}:${r.getString(1)}"
  }

  /** Engine-neutral form of a result: columns by lower-cased name,
    * integral numbers as decimal(38,0), fractional numbers at the
    * Catalog's 2-decimal convention (a legal change of summation order
    * is not a failure), dates as midnight timestamps (DuckDB's day
    * truncation yields a DATE where Spark keeps a TIMESTAMP), everything
    * else as Spark's string cast. */
  def normalized(df: DataFrame): String = {
    val cols: Seq[Column] = df.schema.fields.toSeq
      .sortBy(_.name.toLowerCase)
      .map { f =>
        val c = col(s"`${f.name}`")
        val v = f.dataType match {
          case ByteType | ShortType | IntegerType | LongType =>
            c.cast(DecimalType(38, 0))
          case d: DecimalType if d.scale == 0 => c.cast(DecimalType(38, 0))
          case _: DecimalType | FloatType | DoubleType =>
            round(c.cast(DoubleType), 2)
          case DateType => c.cast(TimestampType)
          case _ => c
        }
        v.cast(StringType).as(f.name.toLowerCase)
      }
    raw(df.select(cols: _*))
  }

  /** Mismatch lines for a result with columns `cols` and normalized
    * fingerprint `got` against the parquet result at `path`. */
  def compare(spark: SparkSession, label: String, cols: Seq[String],
              got: String, path: String): Seq[String] = {
    val want = spark.read.parquet(path)
    val gotCols = cols.map(_.toLowerCase).sorted
    val wantCols = want.columns.map(_.toLowerCase).sorted.toSeq
    if (gotCols != wantCols)
      Seq(s"$label: columns ${gotCols.mkString(",")} != expected ${wantCols.mkString(",")}")
    else {
      val w = normalized(want)
      if (got == w) Nil else Seq(s"$label: fingerprint $got != expected $w")
    }
  }
}

/** A frame-returning entry point: a Catalog query or an Analytics probe.
  * Its action is the normalized fingerprint, so one execution serves both
  * the timing and the check. */
final class FrameOutput(name: String, df: DataFrame) extends Output {
  def execute(): String = Fingerprint.normalized(df)
  def verify(spark: SparkSession, expectedDir: String, token: String): Seq[String] =
    Fingerprint.compare(spark, name, df.columns.toSeq, token,
      s"$expectedDir/$name.parquet")
}

/** Pipeline.run, the paper's ETL. The whole run is execute-layer work:
  * the entry point is called when the output is executed. */
final class EtlOutput(spark: SparkSession, events: String, songs: String,
                      warehouse: String) extends Output {
  def execute(): String = {
    val r = Pipeline.run(spark, events, songs, warehouse)
    Etl.Tables.map(t => s"$t=${r.counts(t)}").mkString(",")
  }
  def verify(spark: SparkSession, expectedDir: String, token: String): Seq[String] =
    Etl.verify(spark, warehouse, expectedDir)
  override def filesWritten: Long = Etl.filesIn(warehouse)
}

object Etl {
  val Tables: Seq[String] = Seq("stg_song_events", "stg_songs",
    "fct_song_plays", "dim_users", "dim_songs", "dim_artists",
    "dim_time_dimensions")

  /** Each landed table by row count and fingerprint. */
  def verify(spark: SparkSession, warehouse: String,
             expectedDir: String): Seq[String] =
    Tables.flatMap { t =>
      val df = spark.read.parquet(s"$warehouse/$t")
      Fingerprint.compare(spark, t, df.columns.toSeq, Fingerprint.normalized(df),
        s"$expectedDir/$t.parquet")
    }

  def dataFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap { f =>
      if (f.isDirectory) dataFiles(f)
      else if (f.getName.startsWith("part-")) Seq(f)
      else Nil
    }

  def filesIn(warehouse: String): Long =
    dataFiles(new java.io.File(warehouse)).size.toLong

  def bytesIn(warehouse: String): Long =
    dataFiles(new java.io.File(warehouse)).map(_.length).sum
}

object Ops {
  /** The seven notebook probes of graft.etl.Analytics, by op name. */
  def analytics(name: String, warehouse: String): Option[SparkSession => DataFrame] =
    name match {
      case "analytics_events_by_page" =>
        Some(s => Analytics.eventsByPage(s, warehouse))
      case "analytics_song_artist_grouping_sets" =>
        Some(s => Analytics.songArtistGroupingSets(s, warehouse))
      case "analytics_title_match_rate" =>
        Some(s => Analytics.titleMatchRate(s, warehouse))
      case "analytics_unmatched_plays" =>
        Some(s => Analytics.unmatchedPlays(s, warehouse))
      case "analytics_search_artists" =>
        Some(s => Analytics.searchArtists(s, warehouse, SearchNeedle))
      case "analytics_plays_by_level_and_season" =>
        Some(s => Analytics.playsByLevelAndSeason(s, warehouse))
      case "analytics_user_activity" =>
        Some(s => Analytics.userActivity(s, warehouse))
      case _ => None
    }

  /** The artist-name needle of the search probe; the generator puts it
    * into some artist names. */
  val SearchNeedle = "band"

  /** Resolve an op name: `etl` is Pipeline.run, `analytics_*` a probe over
    * the landed warehouse, anything else a Catalog query over `sfDir`. */
  def resolve(name: String, sfDir: String, events: String, songs: String,
              warehouse: String): Op =
    if (name == "etl")
      Op(name, s => new EtlOutput(s, events, songs, warehouse))
    else analytics(name, warehouse) match {
      case Some(f) => Op(name, s => new FrameOutput(name, f(s)))
      case None =>
        val q = Catalog.byName.getOrElse(name,
          throw new IllegalArgumentException(s"unknown op $name"))
        Op(name, s => new FrameOutput(name, q.run(s, sfDir)))
    }
}
