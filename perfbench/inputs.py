"""Seeded inputs of the benchmark workloads, made with DuckDB.

Every value is a function of the seed (DuckDB's `hash` of the seed, a
row key and a salt, or Python's `random.Random(seed)`), so the same
seed gives byte-identical inputs. The engine only ever sees the files.
"""
import datetime
import os
import random

import duckdb

# dashboards: a Metrica visits log of collapsing Sign/VisitVersion rows
DASH_VISITS = 8000           # visits; about 3 rows each (states + cancels)
DASH_DAY0 = datetime.date(2024, 1, 1)   # a Monday
DASH_DAYS = 56               # eight week partitions
# the dashboard's interval menu: one seeded interval per width (days)
DASH_WIDTHS = [7, 14]
DASH_START_WEEKDAY = 3       # intervals start on a Thursday
DASH_WARMUP_ROUNDS = 1       # untimed rounds over the whole menu
DASH_ROUNDS_PER_S = 0.1      # timed rounds over the menu per --seconds

# replication: CDC files of hits (append-only) and visits (late cancels)
REPL_DAY0 = datetime.date(2024, 3, 9)   # a Saturday: days cross a week
REPL_SETS = {
    # set: days (from REPL_DAY0), hits files, hits rows per file,
    #      visits backlog files, drop files, new visits per visits file
    "warm": dict(days=2, hits_files=1, hits_rows=3000, visits_files=1,
                 drop_files=0, visits_per_file=400),
    "main": dict(days=4, hits_files=4, hits_rows=6000, visits_files=4,
                 drop_files=None, visits_per_file=700),
}
REPL_MAX_FILES_PER_TRIGGER = 2
REPL_DROP_INTERVAL_MS = 4000
REPL_DROPS_PER_S = 0.2       # open-loop drops per --seconds

UTM = "['google', 'yandex', 'newsletter', 'direct', 'social']"


def _visit_columns(seed, k_expr="k"):
    """Select list of one visits row from a frame with VisitID, k, sgn
    and the per-visit draws of `_visit_draws`."""
    h = lambda *salt: f"hash({seed}, VisitID, {', '.join(map(str, salt))})"
    pv = f"(1 + hash({seed}, VisitID, {k_expr}, 5) % 10)"
    return f"""
      CounterID, StartDate, CounterUserIDHash, VisitID,
      CAST(sgn AS TINYINT) AS Sign,
      CAST({k_expr} AS BIGINT) AS VisitVersion,
      BrowserCountry,
      CAST({pv} AS INTEGER) AS PageViews,
      CAST(hash({seed}, VisitID, {k_expr}, 11) % 600 AS BIGINT) AS Duration,
      CAST(CASE WHEN {pv} = 1 THEN 1 ELSE 0 END AS SMALLINT) AS IsBounce,
      CASE WHEN model_kind = 3 THEN [1]::SMALLINT[]
           ELSE [1, 2]::SMALLINT[] END AS "TrafficSource.Model",
      CASE WHEN model_kind = 3 THEN ['']
           ELSE ['', {UTM}[utm + 1]] END AS "TrafficSource.UTMSource",
      CASE WHEN purchased THEN ['p' || VisitID, '']
           ELSE []::VARCHAR[] END AS "EPurchase.ID",
      CAST([1 + {h(12)} % 8, 1 + {h(13)} % 8, 1 + {h(14)} % 8][1:n_goals]
           AS BIGINT[]) AS "Goals.ID",
      CAST([100 * (1 + {h(15)} % 5), 200, 300][1:n_goals]
           AS BIGINT[]) AS "Goals.Price"
    """


def _visit_draws(seed, n, day0, days, extra=""):
    """One row per visit: its key and everything constant across versions.
    A `deleted` visit has its last version cancelled too, with no
    successor: the collapse drops it (a CollapsingMergeTree delete)."""
    return f"""
      SELECT i AS VisitID,
        CAST(1 + hash({seed}, i, 1) % 20 AS BIGINT) AS CounterID,
        CAST(DATE '{day0}' + CAST(hash({seed}, i, 2) % {days} AS INTEGER)
             AS DATE) AS StartDate,
        CAST(hash({seed}, i, 3) % 5000 AS BIGINT) AS CounterUserIDHash,
        CAST(1 + hash({seed}, i, 4) % 3 AS INTEGER) AS nv,
        CAST(hash({seed}, i, 6) % 12 AS INTEGER) AS BrowserCountry,
        CAST(hash({seed}, i, 7) % 4 AS INTEGER) AS model_kind,
        CAST(hash({seed}, i, 8) % 5 AS INTEGER) AS utm,
        hash({seed}, i, 9) % 5 = 0 AS purchased,
        CAST(hash({seed}, i, 10) % 4 AS INTEGER) AS n_goals,
        hash({seed}, i, 17) % 6 = 0 AS deleted {extra}
      FROM range({n}) t(i)"""


def _dashboards(seed, seconds, out):
    con = duckdb.connect()
    con.execute(f"CREATE TABLE vis AS {_visit_draws(seed, DASH_VISITS, DASH_DAY0, DASH_DAYS)}")
    # every version's state row, and a cancel row for each superseded
    # one and for the last version of a deleted visit
    con.execute(f"""
      CREATE TABLE rows AS
      WITH ver AS (SELECT vis.*, k FROM vis, range(1, 4) r(k) WHERE k <= nv),
      st AS (SELECT *, 1 AS sgn FROM ver
             UNION ALL SELECT *, -1 AS sgn FROM ver WHERE k < nv OR deleted)
      SELECT {_visit_columns(seed)} FROM st ORDER BY VisitID, k, sgn""")
    con.execute(f"COPY rows TO '{out}/visits.parquet' (FORMAT PARQUET)")
    rows = con.execute("SELECT count(*) FROM rows").fetchone()[0]
    con.close()

    rng = random.Random(seed)
    # the SCD2 dimension: each country renamed once inside the range;
    # country 11 has no row, so the inner join drops its visits
    os.makedirs(f"{out}/dim_browser_country")
    with open(f"{out}/dim_browser_country/dim.csv", "w") as f:
        f.write("CountryID,CountryName,FromDT,ToDT\n")
        for c in range(11):
            cut = DASH_DAY0 + datetime.timedelta(days=rng.randrange(1, DASH_DAYS))
            f.write(f"{c},country-{c}-old,2020-01-01,"
                    f"{cut - datetime.timedelta(days=1)}\n")
            f.write(f"{c},country-{c}-new,{cut},2099-12-31\n")

    # Each refresh draws one interval of the menu. Every round visits
    # each menu entry once, in a seeded order, so all runs do the same
    # mix of widths; the warm-up rounds compile every chart shape of
    # every entry (date literals are compiled into the generated code).
    # An interval starts on a Thursday of a seeded week, so it overlaps
    # the same number of week partitions whatever the seed: 2 for 7 days
    # and 3 for 14.
    menu = []
    for w in DASH_WIDTHS:
        week = rng.randrange((DASH_DAYS - DASH_START_WEEKDAY - w) // 7 + 1)
        start = DASH_DAY0 + datetime.timedelta(days=7 * week + DASH_START_WEEKDAY)
        menu.append((start, start + datetime.timedelta(days=w - 1)))

    def rounds(tag, n):
        for _ in range(n):
            for d in rng.sample(menu, len(menu)):
                f.write("%s %s %s\n" % ((tag,) + d))

    timed_rounds = max(1, round(seconds * DASH_ROUNDS_PER_S))
    with open(f"{out}/draws.txt", "w") as f:
        rounds("warmup", DASH_WARMUP_ROUNDS)
        rounds("timed", timed_rounds)
    return {"visits_rows": rows, "refreshes": timed_rounds * len(menu)}


def _replication_set(con, seed, spec, out):
    """One set of CDC files: hits/, visits/ (backlog) and drops/."""
    days = spec["days"]
    for d in ["hits", "visits", "drops"]:
        os.makedirs(f"{out}/{d}")
    for j in range(spec["hits_files"]):
        con.execute(f"""
          COPY (SELECT
            CAST(1 + hash({seed}, {j}, r, 1) % 20 AS BIGINT) AS CounterID,
            CAST(DATE '{REPL_DAY0}' + CAST(hash({seed}, {j}, r, 2) % {days}
                 AS INTEGER) AS DATE) AS EventDate,
            CAST(hash({seed}, {j}, r, 3) % 5000 AS BIGINT) AS CounterUserIDHash,
            CAST(DATE '{REPL_DAY0}' + CAST(hash({seed}, {j}, r, 2) % {days}
                 AS INTEGER) AS TIMESTAMP)
              + to_seconds(CAST(hash({seed}, {j}, r, 4) % 86400 AS BIGINT))
              AS UTCEventTime,
            CAST({j} * 1000000 + r AS BIGINT) AS WatchID,
            'https://shop.example/p/' || (hash({seed}, {j}, r, 5) % 300) AS URL,
            'Page "' || (hash({seed}, {j}, r, 5) % 300) || '", view' AS Title,
            CAST(hash({seed}, {j}, r, 6) % 250 AS BIGINT) AS RegionID,
            CAST([hash({seed}, {j}, r, 7) % 9,
                  hash({seed}, {j}, r, 8) % 9][1:CAST(hash({seed}, {j}, r, 9) % 3
                  AS INTEGER)] AS BIGINT[]) AS GoalsReached
          FROM range({spec['hits_rows']}) t(r))
          TO '{out}/hits/part-{j:04d}.parquet' (FORMAT PARQUET)""")
    # visits: F files in all; a visit starts in file VisitID % F and each
    # later version arrives `lag` files on, with the cancel of the
    # version it supersedes; the cancel of a deleted visit's last version
    # arrives `lag` files after it; whatever would land past file F is
    # never sent
    nb, nd = spec["visits_files"], spec["drop_files"]
    files = nb + nd
    nvis = files * spec["visits_per_file"]
    con.execute(f"""
      CREATE OR REPLACE TABLE cdc AS
      WITH vis AS ({_visit_draws(seed, nvis, REPL_DAY0, days,
                                 f", 1 + hash({seed}, i, 16) % 2 AS lag")}),
      ver AS (SELECT vis.*, k FROM vis, range(1, 4) r(k) WHERE k <= nv),
      st AS (SELECT *, 1 AS sgn, VisitID % {files} + (k - 1) * lag AS file FROM ver
             UNION ALL
             SELECT *, -1 AS sgn, VisitID % {files} + k * lag AS file
             FROM ver WHERE k < nv OR deleted)
      SELECT file, {_visit_columns(seed)} FROM st WHERE file < {files}""")
    for j in range(files):
        d = "visits" if j < nb else "drops"
        con.execute(f"""
          COPY (SELECT * EXCLUDE (file) FROM cdc WHERE file = {j}
                ORDER BY VisitID, VisitVersion, Sign)
          TO '{out}/{d}/part-{j:04d}.parquet' (FORMAT PARQUET)""")
    day_list = " ".join(str(REPL_DAY0 + datetime.timedelta(days=i))
                        for i in range(days))
    with open(f"{out}/params.txt", "w") as f:
        f.write(f"max_files_per_trigger {REPL_MAX_FILES_PER_TRIGGER}\n"
                f"drop_interval_ms {REPL_DROP_INTERVAL_MS}\n"
                f"days {day_list}\n")


def _replication(seed, seconds, out):
    con = duckdb.connect()
    drops = max(1, round(seconds * REPL_DROPS_PER_S))
    for name, spec in REPL_SETS.items():
        if spec["drop_files"] is None:
            spec = dict(spec, drop_files=drops)
        # the warm-up set draws from its own seed stream
        _replication_set(con, seed if name == "main" else seed * 7919 + 1,
                         spec, f"{out}/{name}")
    con.close()
    return {"drops": drops}


def make(workload, seed, seconds, out):
    """Write the inputs of one run under `out`; return what checks need."""
    os.makedirs(out)
    if workload == "dashboards":
        return _dashboards(seed, seconds, out)
    return _replication(seed, seconds, out)
