"""Output checks of the warehouse benchmark, run in DuckDB.

Every expectation here is computed by DuckDB from the generated inputs
or from the published store files, never by the engine under test:

- Silver (after the set-up backfill and after every trickle op) must
  equal the repo's batch silver oracle SQL (q38/q39's) over the events
  landed so far;
- the set-up backfill's forecast must equal the q30 oracle SQL over the
  snapshot feed;
- dashboard responses must equal each endpoint's result computed from
  the store's parquet files.
"""
import datetime
import json
import math

import duckdb


def connect():
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET TimeZone = 'UTC'")
    return con


def events_view(con, patterns):
    """``events`` over the given parquet globs; exact replays collapse."""
    files = ", ".join(f"'{p}'" for p in patterns)
    con.execute("CREATE OR REPLACE VIEW events AS "
                f"SELECT DISTINCT * FROM read_parquet([{files}])")


def store(path):
    return (f"read_parquet('{path}/**/*.parquet', hive_partitioning = true,"
            " union_by_name = true)")


def _columns(con, sql):
    return con.execute(f"DESCRIBE ({sql})").fetchall()


def table_diff(con, expect_sql, actual_sql):
    """None when both relations hold the same multiset of rows over the
    expectation's columns, else a one-line description."""
    cols = _columns(con, expect_sql)
    def proj(src, cast):
        out = []
        for name, typ, *_ in cols:
            if typ.startswith("TIMESTAMP"):
                out.append(f'CAST("{name}" AS TIMESTAMP) AS "{name}"')
            elif cast:
                out.append(f'CAST("{name}" AS {typ}) AS "{name}"')
            else:
                out.append(f'"{name}"')
        return f"SELECT {', '.join(out)} FROM ({src})"
    e, a = proj(expect_sql, False), proj(actual_sql, True)
    n_e = con.execute(f"SELECT count(*) FROM ({e})").fetchone()[0]
    n_a = con.execute(f"SELECT count(*) FROM ({a})").fetchone()[0]
    missing = con.execute(f"SELECT count(*) FROM ({e} EXCEPT ALL {a})").fetchone()[0]
    extra = con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {e})").fetchone()[0]
    if n_e == n_a and missing == 0 and extra == 0:
        return None
    return f"rows expected={n_e} actual={n_a} missing={missing} extra={extra}"


# ---------------------------------------------------------------------------
# Dashboard: every endpoint re-computed from the store files
# ---------------------------------------------------------------------------

def _iso(v):
    """The JSON value the API renders for a DuckDB value."""
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat() + "+00:00"
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def _rows(con, sql, params):
    cur = con.execute(sql, params)
    names = [d[0] for d in cur.description]
    return [{k: _iso(v) for k, v in zip(names, r) if v is not None}
            for r in cur.fetchall()]


def api_expected(con, warehouse, endpoint, site, hours):
    bronze = store(f"{warehouse}/bronze/raw_weather")
    silver = store(f"{warehouse}/silver/fact_weather")
    n = max(1, min(336, hours))
    if endpoint == "sites":
        return _rows(con, f"SELECT DISTINCT site FROM {bronze} ORDER BY site", [])
    if endpoint == "summary":
        return _rows(con, "SELECT count(*) AS row_count, min(ts_utc) AS min_ts,"
                     f" max(ts_utc) AS max_ts FROM {silver} WHERE site = ?",
                     [site])
    if endpoint == "hourly":
        return _rows(con, f"SELECT * FROM (SELECT * FROM {silver} WHERE site = ?"
                     " ORDER BY ts_utc DESC LIMIT ?) ORDER BY ts_utc", [site, n])
    if endpoint == "raw":
        return _rows(con, f"SELECT * FROM (SELECT * FROM {bronze} WHERE site = ?"
                     " ORDER BY ts_utc DESC, ingest_seq DESC LIMIT ?)"
                     " ORDER BY ts_utc, ingest_seq", [site, n])
    if endpoint == "metrics":
        return _rows(con, f"""
            SELECT ? AS site, raw_rows, fact_rows,
              CASE WHEN raw_rows = 0 THEN NULL
                   ELSE CAST(fact_rows AS DOUBLE) / raw_rows * 100 END AS kept_pct,
              greatest(raw_rows - fact_rows, 0) AS dropped_rows
            FROM (SELECT count(*) AS raw_rows FROM {bronze} WHERE site = ?),
                 (SELECT count(*) AS fact_rows FROM {silver} WHERE site = ?)""",
                     [site, site, site])
    raise ValueError(endpoint)


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        return isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and (a == b or (math.isnan(a) and math.isnan(b)))
    return a == b


def api_diff(con, warehouse, endpoint, site, hours, json_rows):
    """None when the rendered rows equal the expectation."""
    got = [json.loads(r) for r in json_rows]
    want = api_expected(con, warehouse, endpoint, site, hours)
    if len(got) != len(want):
        return f"{endpoint}/{site}/{hours}: {len(got)} rows, expected {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if g.keys() != w.keys() or not all(_same(g[k], w[k]) for k in g):
            return f"{endpoint}/{site}/{hours}: row {i} {g} != {w}"
    return None
