"""Expected results, computed independently of Spark with DuckDB.

For Catalog queries the expected result is the query's own oracle SQL
(``Q.oracle``) over the generated parquet tables. For the Sparkify ETL the
star tables are rebuilt here from the generated JSON with the semantics of
``graft.etl.StarSchemaEtl`` and the reference's sql_queries.py, and the
seven ``graft.etl.Analytics`` probes are answered over those tables. Every
result is written as ``<name>.parquet``; the JVM compares fingerprints.
"""
import glob
import os

STAR_TABLES = ["stg_song_events", "stg_songs", "fct_song_plays", "dim_users",
               "dim_songs", "dim_artists", "dim_time_dimensions"]

EVENT_COLUMNS = ("{artist: 'VARCHAR', auth: 'VARCHAR', firstName: 'VARCHAR', "
                 "gender: 'VARCHAR', itemInSession: 'INTEGER', lastName: 'VARCHAR', "
                 "length: 'DOUBLE', level: 'VARCHAR', location: 'VARCHAR', "
                 "method: 'VARCHAR', page: 'VARCHAR', registration: 'BIGINT', "
                 "sessionId: 'INTEGER', song: 'VARCHAR', status: 'INTEGER', "
                 "ts: 'BIGINT', userAgent: 'VARCHAR', userId: 'VARCHAR'}")
SONG_COLUMNS = ("{num_songs: 'INTEGER', artist_id: 'VARCHAR', "
                "artist_latitude: 'DOUBLE', artist_longitude: 'DOUBLE', "
                "artist_location: 'VARCHAR', artist_name: 'VARCHAR', "
                "song_id: 'VARCHAR', title: 'VARCHAR', duration: 'DOUBLE', "
                "year: 'INTEGER'}")

_TS = "make_timestamp((ts // 1000) * 1000000)"

STAR_SQL = {
    "stg_song_events": """
        SELECT artist, auth, firstName, gender, itemInSession, lastName, length,
               level, location, method, page, registration, sessionId, song,
               status, ts, userAgent, TRY_CAST(userId AS INTEGER) AS userId
        FROM raw_events""",
    "stg_songs": "SELECT * FROM raw_songs",
    "fct_song_plays": f"""
        SELECT e.itemInSession AS item_in_session, e.sessionId AS session_id,
               s.song_id, s.artist_id,
               CAST(strftime({_TS}, '%Y%m%d%H') AS BIGINT) AS time_key,
               e.userId AS user_id, e.level, e.userAgent AS user_agent,
               e.location, {_TS} AS ts
        FROM stg_song_events e
        LEFT JOIN stg_songs s ON e.artist = s.artist_name AND e.song = s.title
        WHERE e.page = 'NextSong'""",
    "dim_users": """
        SELECT DISTINCT userId AS user_id, firstName AS first_name,
               lastName AS last_name, gender, registration, level
        FROM stg_song_events""",
    "dim_songs": "SELECT DISTINCT song_id, title, duration, year FROM stg_songs",
    "dim_artists": """
        SELECT DISTINCT artist_id, artist_name, artist_location,
               artist_latitude, artist_longitude
        FROM stg_songs""",
    "dim_time_dimensions": f"""
        WITH h AS (SELECT DISTINCT date_trunc('hour', {_TS}) AS h
                   FROM stg_song_events)
        SELECT CAST(strftime(h, '%Y%m%d%H') AS BIGINT) AS time_key,
               h AS trunc_time, CAST(h AS DATE) AS date,
               CAST(dayofmonth(h) AS INTEGER) AS day,
               CAST(weekofyear(h) AS INTEGER) AS week,
               CAST(month(h) AS INTEGER) AS month,
               CAST(quarter(h) AS INTEGER) AS quarter,
               CAST(year(h) AS INTEGER) AS year,
               CAST(hour(h) AS INTEGER) AS hour,
               CAST(dayofweek(h) + 1 AS INTEGER) AS day_of_week,
               dayofweek(h) IN (0, 6) AS is_weekend,
               CAST(CASE WHEN month(h) BETWEEN 1 AND 3 THEN year(h) - 1
                         ELSE year(h) END AS INTEGER) AS fiscal_year,
               CAST(CASE WHEN month(h) BETWEEN 1 AND 3 THEN 4
                         WHEN month(h) BETWEEN 4 AND 6 THEN 1
                         WHEN month(h) BETWEEN 7 AND 9 THEN 2
                         ELSE 3 END AS INTEGER) AS fiscal_quarter,
               CASE WHEN month(h) IN (12, 1, 2) THEN 'Winter'
                    WHEN month(h) IN (3, 4, 5) THEN 'Spring'
                    WHEN month(h) IN (6, 7, 8) THEN 'Summer'
                    ELSE 'Fall' END AS season,
               CAST(NULL AS VARCHAR) AS special_event
        FROM h""",
}

# The seven notebook probes (graft.etl.Analytics), by benchmark op name.
ANALYTICS_SQL = {
    "analytics_events_by_page":
        "SELECT page, count(*) AS n FROM stg_song_events GROUP BY page",
    "analytics_song_artist_grouping_sets": """
        SELECT song, artist, count(*) AS n FROM stg_song_events
        GROUP BY GROUPING SETS ((song), (song, artist))""",
    "analytics_title_match_rate": """
        SELECT count(*) AS n_title_matches
        FROM stg_song_events e JOIN dim_songs s ON e.song = s.title
        WHERE e.page = 'NextSong'""",
    "analytics_unmatched_plays": """
        SELECT session_id, item_in_session, user_id, time_key
        FROM fct_song_plays WHERE song_id IS NULL""",
    "analytics_search_artists": """
        SELECT artist_id, artist_name, artist_location FROM dim_artists
        WHERE contains(lower(artist_name), 'band')""",
    "analytics_plays_by_level_and_season": """
        SELECT f.level, t.is_weekend, t.season, count(*) AS n_plays,
               count(DISTINCT f.user_id) AS n_users
        FROM fct_song_plays f JOIN dim_time_dimensions t USING (time_key)
        GROUP BY 1, 2, 3""",
    "analytics_user_activity": """
        WITH a AS (SELECT user_id, count(*) AS n_plays,
                          count(DISTINCT artist_id) AS n_artists,
                          count(DISTINCT CAST(ts AS DATE)) AS n_active_days
                   FROM fct_song_plays GROUP BY user_id),
             u AS (SELECT DISTINCT user_id, first_name, last_name FROM dim_users)
        SELECT a.user_id, a.n_plays, a.n_artists, a.n_active_days,
               u.first_name, u.last_name
        FROM a LEFT JOIN u ON a.user_id = u.user_id""",
}


def _copy(con, sql, path):
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")


def sparkify(events_dir, songs_dir, out_dir, probes):
    """Expected star tables and the named Analytics probes."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    ev = sorted(glob.glob(os.path.join(events_dir, "*.json")))
    so = sorted(glob.glob(os.path.join(songs_dir, "*.json")))
    con.execute(f"CREATE VIEW raw_events AS SELECT * FROM read_json({ev!r}, "
                f"format='newline_delimited', columns={EVENT_COLUMNS})")
    con.execute(f"CREATE VIEW raw_songs AS SELECT * FROM read_json({so!r}, "
                f"format='newline_delimited', columns={SONG_COLUMNS})")
    for t in STAR_TABLES:
        con.execute(f"CREATE TABLE {t} AS {STAR_SQL[t]}")
        _copy(con, f"SELECT * FROM {t}", os.path.join(out_dir, f"{t}.parquet"))
    for name in probes:
        _copy(con, ANALYTICS_SQL[name], os.path.join(out_dir, f"{name}.parquet"))
    con.close()


def catalog(oracle_sql, sf_dir, out_dir, ops):
    """Expected result of each Catalog op from its oracle SQL."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    for f in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    for name in ops:
        _copy(con, oracle_sql[name], os.path.join(out_dir, f"{name}.parquet"))
    con.close()
