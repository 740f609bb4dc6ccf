"""Seeded input generators for the benchmark.

Two families, both written fresh on every run:

* ``sparkify``: the paper's raw input, JSON lines shaped like the Sparkify
  ``log_data`` (events) and ``song_data`` (song catalog) files, with the
  quirks of FIXTURES.md A1/A2: ``""`` userId on ``Logged Out`` rows, users
  seen as both free and paid, plays whose (artist, title) pair is and is
  not in the catalog, ``''`` artist locations, ``year`` 0 and ``;``
  multi-artist names.
* ``sf``: the TPC-H-ish star tables plus ``events`` and ``documents`` that
  the Catalog queries read, with the column types and value domains of the
  repository's parquet test data.

The same seed gives byte-identical files. Each generator returns the row
and byte counts of what it wrote.
"""
import json
import os
import random

import numpy as np

EPOCH_2018_03_20_MS = 1521504000000  # spans weekends, March/April fiscal edge
DAY_MS = 86400000

NAME_WORDS = ["Echo", "River", "Velvet", "Neon", "Silver", "Morning", "Paper",
              "Stone", "Glass", "Wild", "Crystal", "Golden", "Midnight",
              "Electric", "Quiet", "Hollow", "Lunar", "Crimson", "Static",
              "Ocean", "Motley", "Beyoncé", "Sigur", "Rós", "Björk", "Mötley"]
TITLE_WORDS = ["love", "night", "fire", "road", "heart", "dream", "rain",
               "light", "home", "song", "city", "blue", "gold", "time",
               "dance", "shadow", "summer", "storm", "sky", "ghost", "Noël",
               "café", "señor", "über"]
FIRST = ["Lily", "Kevin", "Chloe", "Jacob", "Ava", "Ryan", "Mia", "Noah",
         "Emma", "Liam", "Zoe", "Owen", "Sofia", "Ethan", "Layla", "Lucas"]
LAST = ["Koch", "Arellano", "Cuevas", "Smith", "Lin", "Garcia", "Kim",
        "Nguyen", "Brown", "Lopez", "Patel", "Clark", "Young", "Hall"]
CITIES = ["Chicago-Naperville-Elgin, IL-IN-WI", "San Jose-Sunnyvale-Santa Clara, CA",
          "New York-Newark-Jersey City, NY-NJ-PA", "Atlanta-Sandy Springs-Roswell, GA",
          "Portland-South Portland, ME", "Lansing-East Lansing, MI"]
AGENTS = ['"Mozilla/5.0 (Windows NT 6.1; WOW64) AppleWebKit/537.36"',
          "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_9_4) Safari/537.77.4",
          "Mozilla/5.0 (X11; Ubuntu; Linux x86_64; rv:31.0) Gecko Firefox/31.0"]
OTHER_PAGES = ["Home", "Thumbs Up", "Add to Playlist", "Settings", "Logout",
               "Upgrade", "Downgrade", "Help", "Error", "About",
               "Thumbs Down", "Add Friend", "Roll Advert"]
OUT_PAGES = ["Home", "Login", "About", "Help"]


def _files_size(paths):
    return sum(os.path.getsize(p) for p in paths)


def sparkify(seed, out_dir, n_events, n_songs, n_users, n_files=4):
    """Write ``out_dir/log_data/*.json`` and ``out_dir/song_data/songs.json``."""
    rng = random.Random(seed * 1000003 + 17)
    hexid = lambda prefix: prefix + "%016X" % rng.getrandbits(64)

    n_artists = max(2, n_songs // 2)
    artists = []
    for a in range(n_artists):
        words = rng.sample(NAME_WORDS, rng.randint(1, 3))
        name = " ".join(words)
        if a % 17 == 0:
            name = f"The {name} Band"  # the search probe's needle
        if rng.random() < 0.08:
            name = f"{name}; {rng.choice(NAME_WORDS)} {rng.choice(NAME_WORDS)}"
        located = rng.random() >= 0.4
        artists.append({
            "artist_id": hexid("AR"),
            "artist_name": f"{name} {a}" if rng.random() < 0.5 else name,
            "artist_location": "" if rng.random() < 0.25 else rng.choice(CITIES),
            "artist_latitude": round(rng.uniform(-60, 70), 5) if located else None,
            "artist_longitude": round(rng.uniform(-160, 160), 5) if located else None,
        })
    songs, pairs = [], set()
    while len(songs) < n_songs:
        art = rng.choice(artists)
        title = " ".join(rng.choice(TITLE_WORDS)
                         for _ in range(rng.randint(1, 4))).capitalize()
        if (art["artist_name"], title) in pairs:
            continue
        pairs.add((art["artist_name"], title))
        songs.append({
            "num_songs": 1,
            "artist_id": art["artist_id"],
            "artist_latitude": art["artist_latitude"],
            "artist_longitude": art["artist_longitude"],
            "artist_location": art["artist_location"],
            "artist_name": art["artist_name"],
            "song_id": hexid("SO"),
            "title": title,
            "duration": round(rng.uniform(30.0, 600.0), 5),
            "year": 0 if rng.random() < 0.3 else rng.randint(1960, 2018),
        })

    span_ms = 21 * DAY_MS
    users = []
    for u in range(1, n_users + 1):
        free = rng.random() < 0.6
        users.append({
            "userId": str(u),
            "firstName": rng.choice(FIRST),
            "lastName": rng.choice(LAST),
            "gender": rng.choice("MF"),
            "registration": EPOCH_2018_03_20_MS - rng.randint(1, 400) * DAY_MS
                            + rng.randint(0, DAY_MS),
            "location": "" if rng.random() < 0.1 else rng.choice(CITIES),
            "userAgent": rng.choice(AGENTS),
            "level0": "free" if free else "paid",
            # a third of the free users upgrade mid-range: seen as both
            "upgrade_ts": (EPOCH_2018_03_20_MS + rng.randint(1, span_ms - 1)
                           if free and rng.random() < 0.35 else None),
        })

    events, session = [], 0
    while len(events) < n_events:
        session += 1
        ts = EPOCH_2018_03_20_MS + rng.randint(0, span_ms - 1)
        logged_in = rng.random() < 0.9
        user = rng.choice(users) if logged_in else None
        for item in range(rng.randint(1, 40)):
            if len(events) >= n_events:
                break
            ts += rng.randint(1000, 300000)
            ev = dict.fromkeys(["artist", "auth", "firstName", "gender",
                                "itemInSession", "lastName", "length", "level",
                                "location", "method", "page", "registration",
                                "sessionId", "song", "status", "ts",
                                "userAgent", "userId"])
            ev.update(itemInSession=item, sessionId=session, ts=ts)
            if user is None:
                page = rng.choice(OUT_PAGES)
                ev.update(auth="Logged Out", userId="", page=page,
                          level=rng.choice(["free", "paid"]),
                          method="PUT" if page == "Login" else "GET", status=200)
            else:
                up = user["upgrade_ts"]
                level = "paid" if up is not None and ts >= up else user["level0"]
                page = "NextSong" if rng.random() < 0.8 else rng.choice(OTHER_PAGES)
                ev.update(auth="Logged In", userId=user["userId"],
                          firstName=user["firstName"], lastName=user["lastName"],
                          gender=user["gender"], registration=user["registration"],
                          location=user["location"], userAgent=user["userAgent"],
                          level=level, page=page,
                          method="PUT" if page == "NextSong" else "GET",
                          status=307 if page == "Logout" else
                          404 if page == "Error" else 200)
                if page == "NextSong":
                    if rng.random() < 0.7:
                        s = rng.choice(songs)
                        ev.update(artist=s["artist_name"], song=s["title"],
                                  length=s["duration"])
                    else:
                        # not in the catalog: a known artist with a title of
                        # another artist, or an artist the catalog lacks
                        s, o = rng.choice(songs), rng.choice(songs)
                        artist = (s["artist_name"] if rng.random() < 0.5
                                  else f"Unknown Artist {rng.randint(1, 999)}")
                        if (artist, o["title"]) in pairs:
                            artist = f"Unsigned {artist}"
                        ev.update(artist=artist, song=o["title"],
                                  length=round(rng.uniform(30.0, 600.0), 5))
            events.append(ev)

    log_dir = os.path.join(out_dir, "log_data")
    song_dir = os.path.join(out_dir, "song_data")
    os.makedirs(log_dir)
    os.makedirs(song_dir)
    paths = []
    per = (len(events) + n_files - 1) // n_files
    for i in range(n_files):
        p = os.path.join(log_dir, f"events-{i}.json")
        with open(p, "w", encoding="utf-8") as f:
            for ev in events[i * per:(i + 1) * per]:
                f.write(json.dumps(ev, ensure_ascii=False) + "\n")
        paths.append(p)
    sp = os.path.join(song_dir, "songs.json")
    with open(sp, "w", encoding="utf-8") as f:
        for s in songs:
            f.write(json.dumps(s, ensure_ascii=False) + "\n")
    return {"sparkify_event_rows": len(events), "sparkify_song_rows": len(songs),
            "sparkify_json_bytes": _files_size(paths + [sp])}


DOC_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
             "fast", "filter", "group", "hash", "join", "key", "line", "merge",
             "order", "part", "query", "row", "scan", "slow", "small", "sort",
             "spark", "stream", "table", "the", "value", "vector", "window"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = (["en", "zh", "es", "de", "fr"], [0.44, 0.15, 0.15, 0.14, 0.12])


def sf(seed, out_dir, scale):
    """Write the Catalog's tables as single parquet files under ``out_dir``.

    ``scale`` 1.0 gives the row counts of the repository's sf0.01 data
    (15,000 orders, about 60,000 lineitems, 10,000 events) but 200
    documents rather than 500: the DuckDB oracle of the dedup queries grows
    steeply with the document count.
    """
    import duckdb
    import pandas as pd

    rng = np.random.RandomState(seed % (2 ** 32))
    n = lambda base: max(10, int(round(base * scale)))
    n_cust, n_supp, n_part, n_ord = n(1500), n(100), n(2000), n(15000)
    n_ev, n_users, n_docs = n(10000), n(150), n(200)
    i32 = lambda a: np.asarray(a, dtype=np.int32)
    i64 = lambda a: np.asarray(a, dtype=np.int64)
    day = np.timedelta64(1, "D")
    tables = {}

    tables["region"] = pd.DataFrame({"r_regionkey": i32(range(5)),
                                     "r_name": REGIONS})
    tables["nation"] = pd.DataFrame({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": i32([k % 5 for k in range(25)])})
    tables["customer"] = pd.DataFrame({
        "c_custkey": i64(range(n_cust)),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": i32(rng.randint(0, 25, n_cust)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    tables["supplier"] = pd.DataFrame({
        "s_suppkey": i64(range(n_supp)),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": i32(rng.randint(0, 25, n_supp)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    tables["part"] = pd.DataFrame({
        "p_partkey": i64(range(n_part)),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{k}" for k in rng.randint(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": i32(rng.randint(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    odate = np.datetime64("1995-01-01") + rng.randint(0, 2400, n_ord) * day
    tables["orders"] = pd.DataFrame({
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.randint(0, n_cust, n_ord)),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": odate.astype("datetime64[ms]"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    lines = rng.randint(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okey)
    qty = rng.randint(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pd.DataFrame({
        "l_orderkey": i64(okey),
        "l_partkey": i64(rng.randint(0, n_part, n_li)),
        "l_suppkey": i64(rng.randint(0, n_supp, n_li)),
        "l_linenumber": i32(lnum),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.randint(0, 11, n_li) / 100.0,
        "l_tax": rng.randint(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": (odate[okey] + rng.randint(1, 122, n_li) * day)
        .astype("datetime64[ms]")})
    span_us = 30 * 86400 * 10 ** 6
    ts = np.sort(rng.randint(0, span_us, n_ev)).astype("timedelta64[us]")
    tables["events"] = pd.DataFrame({
        "event_id": i64(range(n_ev)),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts,
        "user_id": i64(rng.randint(0, n_users, n_ev)),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.uniform(0.01, 490.02, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n_ev)]})
    texts = []
    for d in range(n_docs):
        if d > 10 and rng.rand() < 0.12:
            # near-duplicate of an earlier document: one or two words changed
            words = texts[rng.randint(0, d)].split(" ")
            for _ in range(rng.randint(1, 3)):
                words[rng.randint(0, len(words))] = DOC_WORDS[rng.randint(0, len(DOC_WORDS))]
        else:
            words = list(rng.choice(DOC_WORDS, rng.randint(8, 91)))
        texts.append(" ".join(words))
    tables["documents"] = pd.DataFrame({
        "doc_id": i64(range(n_docs)),
        "text": texts,
        "lang": rng.choice(LANGS[0], n_docs, p=LANGS[1]),
        "source": [f"src{d % 20}" for d in range(n_docs)],
        "n_chars": i64([len(t) for t in texts])})

    con = duckdb.connect()
    paths, rows = [], {}
    for name, df in tables.items():
        p = os.path.join(out_dir, f"{name}.parquet")
        con.register("df", df)
        con.execute(f"COPY (SELECT * FROM df) TO '{p}' (FORMAT PARQUET)")
        con.unregister("df")
        paths.append(p)
        rows[name] = len(df)
    con.close()
    return {"sf_rows": sum(rows.values()), "sf_bytes": _files_size(paths),
            "sf_table_rows": rows}
