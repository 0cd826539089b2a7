"""Output checks of the benchmark workloads, computed apart from the
engine: DuckDB SQL over the generated input files, and the generator's
own tallies. Each check names the ops that fail when it fails.
"""
import datetime
import json

import duckdb


def _canon_value(v):
    if v is None:
        return (0, "")
    if isinstance(v, bool):
        return (1, int(v))
    if isinstance(v, (int, float)):
        r = round(float(v), 4)
        return (1, 0.0 if r == 0 else r)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return (2, v.isoformat())
    return (2, str(v))


def canon(rows):
    """Rows as sorted tuples of comparable values (floats to 4 places,
    dates as ISO text), so two engines' results compare exactly."""
    return sorted(tuple(_canon_value(v) for v in r) for r in rows)


# DuckDB twins of the dashboard charts, over the generated visits log
DASH_SQL = {
    "q1_visits_totals": """
      SELECT StartDate, CAST(sum(Sign) AS BIGINT) AS visits FROM visits
      WHERE StartDate BETWEEN DATE '{f}' AND DATE '{t}'
      GROUP BY GROUPING SETS ((StartDate), ())
      HAVING sum(Sign) >= 0
      ORDER BY StartDate ASC NULLS LAST LIMIT 10""",
    "q2_traffic_sources": """
      WITH st AS (
        SELECT *,
          CASE WHEN coalesce(list_position("TrafficSource.Model", 2), 0)
                    BETWEEN 1 AND len("TrafficSource.UTMSource")
               THEN "TrafficSource.UTMSource"[coalesce(list_position("TrafficSource.Model", 2), 0)]
               ELSE '' END AS src
        FROM visits WHERE StartDate BETWEEN DATE '{f}' AND DATE '{t}'
      ), a AS (
        SELECT src, CAST(sum(Sign) AS BIGINT) AS visits,
          CAST(count(DISTINCT CounterUserIDHash) AS BIGINT) AS uq,
          CAST(sum(IsBounce * Sign) AS BIGINT) AS bounces,
          CAST(sum(PageViews * Sign) AS BIGINT) AS pv,
          CAST(sum(Duration * Sign) AS BIGINT) AS dur,
          CAST(sum(coalesce(list_aggregate(list_transform("EPurchase.ID",
               x -> (CASE WHEN length(x) > 0 THEN 1 ELSE 0 END) * Sign), 'sum'), 0))
               AS BIGINT) AS purch
        FROM st WHERE src <> '' GROUP BY 1)
      SELECT src, visits, least(uq, visits),
        round(100.0 * bounces / visits, 4), round(pv / CAST(visits AS DOUBLE), 4),
        round(dur / CAST(visits AS DOUBLE), 4), purch
      FROM a WHERE visits > 0 OR least(uq, visits) > 0 OR purch > 0
      ORDER BY visits DESC, src ASC LIMIT 50""",
    "final_by_counter": """
      WITH live AS (SELECT VisitID, VisitVersion FROM visits
                    GROUP BY 1, 2 HAVING min(Sign) = 1),
      top AS (SELECT VisitID, max(VisitVersion) AS VisitVersion
              FROM live GROUP BY 1),
      cur AS (SELECT v.* FROM visits v JOIN top USING (VisitID, VisitVersion)
              WHERE v.Sign = 1)
      SELECT CounterID, count(*), sum(PageViews), sum(Duration) FROM cur
      WHERE StartDate BETWEEN DATE '{f}' AND DATE '{t}'
      GROUP BY CounterID""",
    "goals_array_join": """
      SELECT gid, CAST(sum(Sign) AS BIGINT), count(DISTINCT VisitID),
             CAST(sum(gprice * Sign) AS BIGINT)
      FROM (SELECT VisitID, Sign, StartDate, unnest("Goals.ID") AS gid,
                   unnest("Goals.Price") AS gprice FROM visits)
      WHERE StartDate BETWEEN DATE '{f}' AND DATE '{t}'
      GROUP BY gid""",
    "top_days_limit_by": """
      SELECT CounterID, d, visits FROM (
        SELECT CounterID, StartDate AS d, CAST(sum(Sign) AS BIGINT) AS visits,
          row_number() OVER (PARTITION BY CounterID
                             ORDER BY sum(Sign) DESC, StartDate) AS rn
        FROM visits WHERE StartDate BETWEEN DATE '{f}' AND DATE '{t}'
        GROUP BY CounterID, StartDate) WHERE rn <= 3""",
    "scd2_country": """
      SELECT c.CountryName, CAST(sum(v.Sign) AS BIGINT),
             CAST(sum(v.PageViews * v.Sign) AS BIGINT)
      FROM visits v JOIN dim c
        ON v.BrowserCountry = c.CountryID
       AND v.StartDate >= c.FromDT AND v.StartDate <= c.ToDT
      WHERE v.StartDate BETWEEN DATE '{f}' AND DATE '{t}'
      GROUP BY 1""",
}


def _dashboards(made, inputs_dir, scratch, res):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW visits AS SELECT * FROM '{inputs_dir}/visits.parquet'")
    con.execute(f"""CREATE TABLE dim AS SELECT * FROM read_csv(
        '{inputs_dir}/dim_browser_country/dim.csv', header = true,
        columns = {{'CountryID': 'INTEGER', 'CountryName': 'VARCHAR',
                   'FromDT': 'DATE', 'ToDT': 'DATE'}})""")
    expected, bad_ops, reasons = {}, set(), []
    seen = set()
    with open(f"{scratch}/dash_outputs.jsonl") as f:
        for line in f:
            o = json.loads(line)
            seen.add(o["op"])
            key = (o["chart"], o["from"], o["to"])
            if key not in expected:
                sql = DASH_SQL[o["chart"]].format(f=o["from"], t=o["to"])
                expected[key] = canon(con.execute(sql).fetchall())
            if canon(o["rows"]) != expected[key]:
                bad_ops.add(o["op"])
                reasons.append(f"refresh {o['op']}: {o['chart']} "
                               f"[{o['from']}, {o['to']}] differs from DuckDB")
    missing = made["refreshes"] - len(seen)
    if missing:
        reasons.append(f"{missing} refreshes produced no output")
    con.close()
    return {"failed": len(bad_ops) + missing, "reasons": reasons}


def _replication(made, inputs_dir, scratch, res):
    c = res["info"]["checks"]
    ops = res["info"]["backlog_files"]
    src = f"{scratch}/main/src"
    con = duckdb.connect()
    reasons = []
    # per-day warehouse count of hits == the generator's tally
    tally = dict(con.execute(f"""
        SELECT CAST(EventDate AS VARCHAR), count(*)
        FROM '{src}/hits/*.parquet' GROUP BY 1""").fetchall())
    got = {d: n for d, n in c["hits_per_day"]}
    if got != tally:
        reasons.append(f"hits per day {got} != generator {tally}")
    # CSV-gzip re-read count == warehouse count, per day (checked in the JVM)
    if c["reconcile_bad_days"]:
        reasons.append(f"{c['reconcile_bad_days']} days fail ch == s3")
    # live visits after the Sign collapse == the generator's final
    # versions: the newest version not cancelled, none for a visit whose
    # last version is cancelled (deleted)
    diff = con.execute(f"""
        WITH kept AS (SELECT VisitID, VisitVersion FROM '{src}/visits/*.parquet'
                      GROUP BY 1, 2 HAVING min(Sign) = 1),
        final AS (SELECT VisitID, max(VisitVersion) AS VisitVersion
                  FROM kept GROUP BY 1),
        live AS (SELECT VisitID, VisitVersion FROM '{c['live_visits']}/*.parquet')
        SELECT (SELECT count(*) FROM (SELECT * FROM final EXCEPT ALL SELECT * FROM live)),
               (SELECT count(*) FROM (SELECT * FROM live EXCEPT ALL SELECT * FROM final)),
               (SELECT count(*) FROM final)""").fetchone()
    if diff[0] or diff[1] or not diff[2]:
        reasons.append(f"live visits differ from the generator's final versions "
                       f"(missing {diff[0]}, extra {diff[1]} of {diff[2]})")
    # materialized view state == a DuckDB aggregate over every dropped file
    mv = con.execute(f"""
        SELECT CAST(StartDate AS VARCHAR), CAST(sum(Sign) AS BIGINT),
               CAST(sum(PageViews * Sign) AS BIGINT), count(*)
        FROM '{src}/visits/*.parquet' GROUP BY 1""").fetchall()
    if canon(mv) != canon(c["mv"]):
        reasons.append("materialized view state differs from DuckDB")
    con.close()
    # every check covers the whole backlog, so a failure fails all of it
    return {"failed": ops if reasons else 0, "reasons": reasons}


def check(workload, made, inputs_dir, scratch, res):
    if workload == "dashboards":
        return _dashboards(made, inputs_dir, scratch, res)
    return _replication(made, inputs_dir, scratch, res)
