"""DuckDB expectations for the three workloads (never timed).

Each expectation is computed from the same generated files the program
reads, with plain SQL: a range self-join for the ML UDAFs (the repo's
workload-oracle pattern, reference CSV formatting via ``DUCK_FMT``) and
native window functions for count/sum/avg. Sums are integer cents, so both
engines are exact and values must match bit for bit.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from volga_spark.formatting import DUCK_FMT

# (output suffix, DuckDB interval) of the backfill feature windows
WINDOWS_BACKFILL = (("1h", "1 HOUR"), ("7d", "7 DAY"))
WINDOWS_STREAM = (("7d", "7 DAY"),)
TOPN_K = 3


def _fmt(expr: str) -> str:
    return DUCK_FMT.format(expr=expr)


def feature_sql(windows) -> str:
    """Per-event features of the ``events`` view over ``windows``:
    count/sum/avg of cents plus ``sum_cate(cents, event_type)`` and
    ``topn_frequency(event_type, 3)``."""
    ctes = ["ev AS (SELECT *, CAST(round(value * 100) AS BIGINT) AS vc FROM events)"]
    cols, joins, wdefs = [], [], []
    for sfx, interval in windows:
        ctes.append(f"""
        pairs_{sfx} AS (
            SELECT e.event_id AS eid, e2.event_type AS cat, e2.vc
            FROM ev e JOIN ev e2
              ON e2.user_id = e.user_id
             AND e2.ts >= e.ts - INTERVAL {interval} AND e2.ts <= e.ts
        ),
        sc_{sfx} AS (
            SELECT eid, string_agg(cat || ':' || {_fmt("CAST(s AS DOUBLE)")}, ','
                                   ORDER BY cat || ':' || {_fmt("CAST(s AS DOUBLE)")})
                       AS sum_cate_{sfx}
            FROM (SELECT eid, cat, CAST(sum(vc) AS BIGINT) AS s
                  FROM pairs_{sfx} GROUP BY eid, cat)
            GROUP BY eid
        ),
        tf_{sfx} AS (
            SELECT eid, string_agg(cat, ',' ORDER BY c DESC, cat DESC) AS topf_{sfx}
            FROM (SELECT eid, cat, c,
                         row_number() OVER (PARTITION BY eid ORDER BY c DESC, cat DESC) AS rk
                  FROM (SELECT eid, cat, count(*) AS c FROM pairs_{sfx} GROUP BY eid, cat))
            WHERE rk <= {TOPN_K}
            GROUP BY eid
        )""")
        cols.append(f"""
            count(*) OVER w{sfx} AS cnt_{sfx},
            CAST(sum(e.vc) OVER w{sfx} AS BIGINT) AS sum_{sfx},
            avg(e.vc) OVER w{sfx} AS avg_{sfx},
            sc_{sfx}.sum_cate_{sfx},
            tf_{sfx}.topf_{sfx}""")
        joins.append(
            f"LEFT JOIN sc_{sfx} ON sc_{sfx}.eid = e.event_id "
            f"LEFT JOIN tf_{sfx} ON tf_{sfx}.eid = e.event_id"
        )
        wdefs.append(
            f"w{sfx} AS (PARTITION BY e.user_id ORDER BY e.ts "
            f"RANGE BETWEEN INTERVAL {interval} PRECEDING AND CURRENT ROW)"
        )
    return (
        "WITH " + ",".join(ctes)
        + "\nSELECT e.event_id, e.user_id, e.ts," + ",".join(cols)
        + "\nFROM ev e " + " ".join(joins)
        + "\nWINDOW " + ", ".join(wdefs)
    )


def features(parquet, windows) -> pd.DataFrame:
    """Expected features of the events in ``parquet`` (a path, glob or list
    of them)."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet({parquet!r})")
        return con.execute(feature_sql(windows)).fetchdf()
    finally:
        con.close()


def serve_answers(history_path: str, points: list[tuple]) -> dict[int, tuple]:
    """request_id → (cnt, sum_value, min_value, max_value) over the 7-day
    frame [ts - 7 days, ts] of ``auto_feature_service``."""
    req = pd.DataFrame(points, columns=["request_id", "user_id", "ts_us"])
    req["ts"] = pd.to_datetime(req["ts_us"], unit="us")
    con = duckdb.connect()
    try:
        con.register("req", req)
        rows = con.execute(f"""
            SELECT r.request_id, count(e.value) AS cnt,
                   CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS DOUBLE)
                       / CAST(100 AS DOUBLE) AS sum_value,
                   min(e.value) AS min_value, max(e.value) AS max_value
            FROM req r LEFT JOIN read_parquet('{history_path}') e
              ON e.user_id = r.user_id
             AND e.ts >= r.ts - INTERVAL 7 DAY AND e.ts <= r.ts
            GROUP BY r.request_id
        """).fetchall()
    finally:
        con.close()
    return {int(r[0]): tuple(r[1:]) for r in rows}


def _same(a, b) -> bool:
    na = a is None or (isinstance(a, float) and math.isnan(a))
    nb = b is None or (isinstance(b, float) and math.isnan(b))
    if na or nb:
        return na and nb
    return a == b


def compare_features(got: pd.DataFrame, expected: pd.DataFrame) -> tuple[int, list[str]]:
    """Rows of ``expected`` that are missing from ``got`` or differ in any
    column, plus rows ``got`` has that ``expected`` lacks. Returns (bad row
    count, up to 5 descriptions)."""
    cols = [c for c in expected.columns if c not in ("event_id", "ts")]
    missing_cols = sorted(set(cols) - set(got.columns))
    if missing_cols:
        return len(expected), [f"output lacks columns {missing_cols}"]
    exp = {r[0]: r[1:] for r in expected[["event_id", *cols]].itertuples(index=False)}
    bad, notes, seen = 0, [], set()
    for r in got[["event_id", *cols]].itertuples(index=False):
        eid, vals = r[0], r[1:]
        want = exp.get(eid)
        if eid in seen or want is None:
            bad += 1
            if len(notes) < 5:
                notes.append(f"event {eid}: unexpected or duplicate row")
            continue
        seen.add(eid)
        diff = [c for c, a, b in zip(cols, vals, want) if not _same(_py(a), _py(b))]
        if diff:
            bad += 1
            if len(notes) < 5:
                notes.append(
                    f"event {eid}: " + ", ".join(
                        f"{c} got {_py(vals[cols.index(c)])!r} want {_py(want[cols.index(c)])!r}"
                        for c in diff
                    )
                )
    n_missing = len(exp) - len(seen)
    if n_missing:
        bad += n_missing
        notes.append(f"{n_missing} expected rows missing")
    return bad, notes


def _py(v):
    return v.item() if hasattr(v, "item") else v
