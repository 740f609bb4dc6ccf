package graft.etl

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.{ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.TestSpark
import graft.schemas.Schemas
import graft.sources.Sources
import graft.tools.{PlanTrace, Run}

/** End-to-end ETL parity test on the Sparkify fixtures (FIXTURES.md §A):
  * golden counts + derived-value spot checks mirroring the Fiddle.ipynb
  * probes (SURVEY.md §5).
  */
class PipelineSpec extends AnyFunSuite with TimeLimits {
  lazy val spark = TestSpark.spark

  lazy val warehouse =
    Files.createTempDirectory("graft-etl").toAbsolutePath.toString
  lazy val result = Pipeline.run(spark,
    TestSpark.resource("/sparkify/log_data.json"),
    TestSpark.resource("/sparkify/song_data.json"),
    warehouse)

  test("staging golden counts (F44/F45 analogue)") {
    assert(result.counts("stg_song_events") == 7)
    assert(result.counts("stg_songs") == 4)
  }

  test("fact keeps ALL NextSong plays incl. unmatched (F46/F55 analogue)") {
    assert(result.counts("fct_song_plays") == 4)
    val fct = spark.read.parquet(s"$warehouse/fct_song_plays")
    assert(fct.filter("song_id IS NOT NULL").count() == 3)
    assert(fct.filter("song_id IS NULL").count() == 1) // unmatched play survives
  }

  test("dim_users: level change = two rows; logged-out NULL-user row lands (F47, §1.4)") {
    assert(result.counts("dim_users") == 4)
    val users = spark.read.parquet(s"$warehouse/dim_users")
    assert(users.filter("user_id = 10").count() == 2) // free + paid
    assert(users.filter("user_id IS NULL").count() == 1)
  }

  test("dim_songs / dim_artists distinct builds (F48/F49 analogue)") {
    assert(result.counts("dim_songs") == 4)
    assert(result.counts("dim_artists") == 3) // AR001 has 2 songs, 1 artist row
  }

  test("time dimensions: one row per distinct hour, correct derivations") {
    assert(result.counts("dim_time_dimensions") == 4)
    val td = spark.read.parquet(s"$warehouse/dim_time_dimensions")
    // 2018-03-31 10:00 UTC — Saturday, fiscal year 2017 (Apr-start), Q4, Spring
    val sat = td.filter("time_key = 2018033110").collect()
    assert(sat.length == 1)
    val r = sat.head
    assert(r.getAs[java.sql.Date]("date").toString == "2018-03-31")
    assert(r.getAs[Int]("day") == 31)
    assert(r.getAs[Int]("month") == 3)
    assert(r.getAs[Int]("hour") == 10)
    assert(r.getAs[Int]("day_of_week") == 7) // Saturday, 1=Sun..7=Sat
    assert(r.getAs[Boolean]("is_weekend"))
    assert(r.getAs[Int]("fiscal_year") == 2017)
    assert(r.getAs[Int]("fiscal_quarter") == 4)
    assert(r.getAs[String]("season") == "Spring")
    assert(r.isNullAt(r.fieldIndex("special_event")))
    // 2018-04-01 09:00 UTC — Sunday, fiscal rollover: FY2018 Q1
    val sun = td.filter("time_key = 2018040109").collect().head
    assert(sun.getAs[Int]("fiscal_year") == 2018)
    assert(sun.getAs[Int]("fiscal_quarter") == 1)
    assert(sun.getAs[Boolean]("is_weekend"))
    // 2018-04-02 08:00 UTC — Monday, weekday
    val mon = td.filter("time_key = 2018040208").collect().head
    assert(mon.getAs[Int]("day_of_week") == 2)
    assert(!mon.getAs[Boolean]("is_weekend"))
  }

  test("E1 integer-division: millis truncate to whole seconds (§7.4.1)") {
    val fct = spark.read.parquet(s"$warehouse/fct_song_plays")
    // source ts 1522491300123 → 2018-03-31 10:15:00 UTC exactly (millis dropped)
    val ts = fct.filter("item_in_session = 0 AND session_id = 101")
      .collect().head.getAs[java.sql.Timestamp]("ts")
    assert(ts.toInstant.toString == "2018-03-31T10:15:00Z")
  }

  test("timeDimLimit reproduces the reference's LIMIT 100 hack (§7.4.7)") {
    val events = Sources.readEventsJson(spark,
      TestSpark.resource("/sparkify/log_data.json"))
    // limit 1 → only the first event's hour
    assert(StarSchemaEtl.timeDimensions(events, Some(1)).count() == 1)
  }

  test("analytics surface over the landed warehouse (Fiddle probes)") {
    result // ensure pipeline ran
    assert(Analytics.tableCounts(spark, warehouse)("fct_song_plays") == 4)
    val pages = Analytics.eventsByPage(spark, warehouse)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pages("NextSong") == 4 && pages("Home") == 2 && pages("Login") == 1)
    // F53: grouping sets rows = |distinct songs| + |distinct (song,artist)|,
    // null song (non-play events) is a group of its own: (4+1) + (4+1)
    assert(Analytics.songArtistGroupingSets(spark, warehouse).count() == 10)
    assert(Analytics.titleMatchRate(spark, warehouse)
      .collect().head.getLong(0) == 3)
    assert(Analytics.unmatchedPlays(spark, warehouse).count() == 1)
    val found = Analytics.searchArtists(spark, warehouse, "KOIT")
      .collect().map(_.getString(1))
    assert(found.toSeq == Seq("Habib Koité"))
    val byLevel = Analytics.playsByLevelAndSeason(spark, warehouse)
      .collect().map(r => (r.getString(0), r.getBoolean(1)) -> r.getLong(3)).toMap
    assert(byLevel(("free", true)) == 2)  // two weekend free plays
    val activity = Analytics.userActivity(spark, warehouse)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(activity(10) == 3 && activity(20) == 1)
  }

  test("Ddl → Pipeline catalog composition (create_tables.py → etl.py)") {
    Ddl.recreateAll(spark)
    val r = Pipeline.runIntoCatalog(spark,
      TestSpark.resource("/sparkify/log_data.json"),
      TestSpark.resource("/sparkify/song_data.json"))
    // the created tables are the ones the inserts landed in: spark.table /
    // spark.sql sees the data (the reference contract — sql_queries.py:156
    // INSERTs into the tables create_tables.py made)
    assert(spark.table("fct_song_plays").count() == 4)
    assert(spark.sql("SELECT count(*) FROM dim_users").collect().head.getLong(0) == 4)
    assert(r.counts("fct_song_plays") == 4)
    assert(r.counts("dim_time_dimensions") == 4)
    // catalog schema == DDL schema (positional contract held)
    assert(spark.table("fct_song_plays").schema.fieldNames.toSeq ==
      graft.schemas.Schemas.fctSongPlays.fieldNames.toSeq)
    // idempotent lifecycle: recreate empties them again
    Ddl.recreateAll(spark)
    assert(spark.table("fct_song_plays").count() == 0)
    Ddl.dropAll(spark)
  }

  test("faithful transforms reproduce the reference DDL shape incl. hour bug") {
    val events = Sources.readEventsJson(spark,
      TestSpark.resource("/sparkify/log_data.json"))
    val songs = Sources.readSongsJson(spark,
      TestSpark.resource("/sparkify/song_data.json"))
    val fct = StarSchemaEtl.songPlaysFaithful(events, songs)
    assert(fct.schema.fieldNames.toSeq ==
      graft.schemas.Schemas.Reference.fctSongPlays.fieldNames.toSeq)
    assert(fct.count() == 4)
    assert(fct.filter("auth IS NOT NULL").count() == 4) // auth survives
    val users = StarSchemaEtl.usersFaithful(events)
    assert(users.schema.fieldNames.toSeq ==
      Seq("firstname", "lastname", "gender", "level", "registration", "user_id"))
    val artists = StarSchemaEtl.artistsFaithful(songs)
    assert(artists.schema.fieldNames.toSeq ==
      graft.schemas.Schemas.Reference.dimArtists.fieldNames.toSeq)
    // F51: the reference's "hour" is day-of-month — 2018-03-31 10:00 UTC
    // must yield hour=31 under the faithful flag, 10 under the corrected one
    val td = StarSchemaEtl.timeDimensionsFaithful(events, limit = None)
    assert(td.schema.fieldNames.toSeq ==
      graft.schemas.Schemas.Reference.dimTimeDimensions.fieldNames.toSeq)
    val sat = td.filter("time_key = 2018033110").collect().head
    assert(sat.getAs[Int]("hour") == 31) // faithful = the bug, by design
    assert(td.filter("hour > 23").count() > 0)
    // positional alignment to the reference DDL types round-trips
    val aligned = Sources.alignPositional(td,
      graft.schemas.Schemas.Reference.dimTimeDimensions)
    assert(aligned.schema("day").dataType.typeName == "short")
  }

  test("runFaithful lands the byte-for-byte reference warehouse") {
    val dir = Files.createTempDirectory("graft-faithful").toAbsolutePath.toString
    val r = Pipeline.runFaithful(spark,
      TestSpark.resource("/sparkify/log_data.json"),
      TestSpark.resource("/sparkify/song_data.json"), dir)
    assert(r.counts("fct_song_plays") == 4)
    val fct = spark.read.parquet(s"$dir/fct_song_plays")
    assert(fct.schema.fieldNames.toSeq ==
      graft.schemas.Schemas.Reference.fctSongPlays.fieldNames.toSeq)
    assert(fct.filter("auth = 'Logged In'").count() > 0)
    val td = spark.read.parquet(s"$dir/dim_time_dimensions")
    assert(td.schema("day").dataType.typeName == "short")
    // the reference's hour bug reproduced in the landed table
    assert(td.filter("hour > 23").count() > 0)
    val users = spark.read.parquet(s"$dir/dim_users")
    assert(users.schema.fieldNames.head == "firstname")
  }

  test("NULL join keys never match (§7.4.6)") {
    val events = Sources.readEventsJson(spark,
      TestSpark.resource("/sparkify/log_data.json"))
    val songs = Sources.readSongsJson(spark,
      TestSpark.resource("/sparkify/song_data.json"))
    // a NULL-artist NULL-song row filtered to NextSong can't join; fixture
    // has none on the NextSong page, so fact matched-count stays 3 even if a
    // null-keyed song row is added to the catalog
    import spark.implicits._
    val withNullSong = songs.union(
      Seq((1, "ARX", Option.empty[Double], Option.empty[Double], "",
        null.asInstanceOf[String], "SOX", null.asInstanceOf[String], 1.0, 0))
        .toDF(songs.columns: _*))
    val fct = StarSchemaEtl.songPlays(events, withNullSong)
    assert(fct.filter("song_id IS NOT NULL").count() == 3)
  }

  private val tables = Schemas.starTables.map(_._1)
  private val goldenCounts = Map("stg_song_events" -> 7L, "stg_songs" -> 4L,
    "fct_song_plays" -> 4L, "dim_users" -> 4L, "dim_songs" -> 4L,
    "dim_artists" -> 3L, "dim_time_dimensions" -> 4L)

  private def runnerThreads: Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.getName == "graft-etl-insert" && t.isAlive)

  test("a failed insert fails the run with its own error; no runner thread outlives it") {
    val dir = Files.createTempDirectory("graft-etl-fail")
    // a non-play event whose ts overflows the seconds-to-timestamp
    // conversion: staging lands it, the fact (NextSong only) and the other
    // dims never convert it, and the time-dimension insert fails in a task
    val events = dir.resolve("events.json")
    Files.write(events, (Files.readAllLines(Paths.get(
      TestSpark.resource("/sparkify/log_data.json"))).asScala :+
      """{"auth":"Logged Out","itemInSession":9,"level":"free","page":"Home","sessionId":999,"status":200,"ts":9223372036854775000}""")
      .asJava)
    val err = failAfter(Span(120, Seconds)) {
      intercept[Exception] {
        Pipeline.run(spark, events.toString,
          TestSpark.resource("/sparkify/song_data.json"),
          dir.resolve("warehouse").toString)
      }
    }(ThreadSignaler)
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(chain.toLowerCase.contains("overflow"), chain)
    assert(runnerThreads.isEmpty, runnerThreads)
  }

  test("empty events and songs files: every table lands with 0 rows") {
    val dir = Files.createTempDirectory("graft-etl-empty")
    val events = Files.createFile(dir.resolve("events.json")).toString
    val songs = Files.createFile(dir.resolve("songs.json")).toString
    val warehouse = dir.resolve("warehouse").toString
    val r = Pipeline.run(spark, events, songs, warehouse)
    assert(r.counts == tables.map(_ -> 0L).toMap)
    tables.foreach(t => assert(spark.read.parquet(s"$warehouse/$t").count() == 0, t))
  }

  test("one pass: every job is the run's own and every root execution is a write") {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[java.util.Properties]
    val all = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.add(j.properties)
    }
    assert(GraftBus.drain(sc, 60000))
    sc.addSparkListener(all)
    val (rec, plans) = try {
      PlanTrace.capture(spark) {
        Run.query(spark, "pipeline-one-pass", {
          Pipeline.run(spark, TestSpark.resource("/sparkify/log_data.json"),
            TestSpark.resource("/sparkify/song_data.json"),
            Files.createTempDirectory("graft-etl-pass").toString)
          spark.emptyDataFrame
        }, _ => ())
      }
    } finally {
      GraftBus.drain(sc, 60000)
      sc.removeSparkListener(all)
    }
    assert(rec.ok, rec.error)
    // the concurrent inserts carry the caller's local properties: the run
    // owns every job the listener saw, and each ran inside a SQL execution
    // (a parquet schema-inference job would not)
    assert(rec.jobs == jobs.size, jobs.asScala.map(_.getProperty("graft.query")))
    assert(jobs.asScala.forall(_.getProperty("spark.sql.execution.id") != null))
    // two staging writes and five inserts; no read-back execution
    assert(plans.size == 7, plans)
    assert(plans.forall(_.contains("InsertIntoHadoopFsRelationCommand")), plans)
  }

  test("runFaithful counts: staging from the raw input, star tables from their writes") {
    val dir = Files.createTempDirectory("graft-faithful-counts").toString
    val r = Pipeline.runFaithful(spark,
      TestSpark.resource("/sparkify/log_data.json"),
      TestSpark.resource("/sparkify/song_data.json"), dir)
    assert(r.counts("stg_song_events") == 7 && r.counts("stg_songs") == 4)
    tables.drop(2).foreach { t =>
      assert(r.counts(t) == spark.read.parquet(s"$dir/$t").count(), t)
    }
  }

  test("runIntoCatalog: concurrent inserts land exactly, repeat after repeat") {
    (1 to 5).foreach { i =>
      Ddl.recreateAll(spark)
      val r = Pipeline.runIntoCatalog(spark,
        TestSpark.resource("/sparkify/log_data.json"),
        TestSpark.resource("/sparkify/song_data.json"))
      assert(r.counts == goldenCounts, s"repeat $i")
      tables.foreach(t => assert(r.counts(t) == spark.table(t).count(), s"$t, repeat $i"))
    }
    Ddl.dropAll(spark)
  }
}
