"""DuckDB side of the correctness check.

Mirrors scripts/check_oracle.py's comparison: columns sorted by name,
rows compared in order (every checked output ends in a total ORDER BY),
NaN equal to NaN, values otherwise exact.
"""
import datetime
import math
import os

import duckdb

import corpus

# The daily landing cycle appends events of 2024-01-10 and then, skipping
# event_ids already landed, the overlapping 2024-01-10 12:00 ..
# 2024-01-11 12:00 window, so the committed table and the verify-moved
# copy both hold the union, with the yyyyMMdd partition value read back
# as a number.
_CYCLE = """SELECT event_id, ts, user_id, event_type, value,
  CAST(strftime(ts, '%Y%m%d') AS BIGINT) AS date_part FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-11 12:00:00'
ORDER BY event_id"""
CYCLE = {"cycle.tx_read": _CYCLE, "cycle.dest": _CYCLE}


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def _fetch(con, sql):
    cols = sorted(con.sql(sql).columns)
    rows = con.execute(f"SELECT {', '.join(cols)} FROM ({sql})").fetchall()
    return cols, [tuple(map(_norm, r)) for r in rows]


def expected(cdir, sql):
    """Oracle results, name -> (sorted column names, rows)."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET threads={os.cpu_count()}")
    for t in corpus.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{cdir}/{t}.parquet/*.parquet')")
    return {name: _fetch(con, q) for name, q in sorted(sql.items())}


def mismatches(verify_dir, want, exclude=()):
    """Name -> first line saying how an output differs from its oracle."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    out = {}
    for name, (cols, rows) in sorted(want.items()):
        if name in exclude:
            continue
        got_dir = os.path.join(verify_dir, name)
        if not os.path.isdir(got_dir):
            out[name] = "no output written"
            continue
        gcols, got = _fetch(con, f"SELECT * FROM read_parquet('{got_dir}/*.parquet')")
        if gcols != cols:
            out[name] = f"columns {gcols} vs oracle {cols}"
        elif len(got) != len(rows):
            out[name] = f"{len(got)} rows vs oracle {len(rows)}"
        else:
            bad = next((i for i, (g, e) in enumerate(zip(got, rows)) if g != e), None)
            if bad is not None:
                out[name] = f"row {bad}: {str(got[bad])[:120]} vs oracle {str(rows[bad])[:120]}"
    return out
