"""Correctness checks, run after the timed loop. Each returns a list of
failures, each naming the op and the cause; an empty list passes."""
import math
import os
from datetime import datetime, timezone

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]


def _lake_sql(chk):
    where = f"ts < TIMESTAMP '{chk['lake_end']}'"
    lo, hi = chk["pruned"]
    return {
        "lake_pruned_scan":
            "SELECT event_id, ts, event_type, value, user_id FROM events "
            f"WHERE ts >= TIMESTAMP '{lo}' AND ts < TIMESTAMP '{hi}' ORDER BY event_id",
        "lake_metadata_count": f"SELECT count(*) AS n FROM events WHERE {where}",
        # snapshot v holds the set-up's first v appends (event_id % appends < v)
        "lake_time_travel":
            "SELECT event_type, count(*) AS n, sum(CAST(value AS DECIMAL(18,2))) AS v "
            f"FROM events WHERE {where} AND event_id % {chk['lake_appends']} < "
            f"{chk['travel_version']} GROUP BY event_type ORDER BY event_type",
    }


def _compare(con, name, sql, got_dir):
    """The compare of scripts/check_oracle.py: same columns, rows and dtypes, and
    every value equal as a string, row by row."""
    try:
        exp = con.execute(sql).df()
    except Exception as e:
        return f"{name}: oracle error: {e}"
    try:
        got = con.execute(f"SELECT * FROM '{got_dir}/*.parquet'").df()
    except Exception as e:
        return f"{name}: result unreadable: {e}"
    if sorted(exp.columns) != sorted(got.columns):
        return f"{name}: columns expected {sorted(exp.columns)} got {sorted(got.columns)}"
    exp, got = exp[sorted(exp.columns)], got[sorted(got.columns)]
    if len(exp) != len(got):
        return f"{name}: rows expected {len(exp)} got {len(got)}"
    for c in exp.columns:
        if str(exp[c].dtype) != str(got[c].dtype):
            return f"{name}: column {c} dtype expected {exp[c].dtype} got {got[c].dtype}"
        a, b = exp[c].astype(str).values, got[c].astype(str).values
        neq = a != b
        if neq.any():
            i = int(neq.argmax())
            return (f"{name}: column {c} row {i} expected {a[i]} got {b[i]} "
                    f"({int(neq.sum())} rows differ)")
    return None


def analytics(res, inputs):
    chk = res["check"]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    sql = dict(chk["oracle"])
    sql.update(_lake_sql(chk))
    out = []
    for k in chk["items"]:
        err = _compare(con, k, sql[k], os.path.join(chk["check_dir"], k))
        if err:
            out.append(err)
    return out


def speed_layer(res, inputs):
    chk = res["check"]
    w = chk["window_s"]
    out = []
    tally = {}
    lake_rows = 0
    for s in chk["sent"]:
        want = 400 if s["kind"] == "missing" else 200
        if s["status"] != want:
            out.append(f"ingest record {s['i']} ({s['kind']}): HTTP {s['status']}, expected {want}")
            continue
        if s["status"] != 200 or s["kind"] == "malformed":
            continue
        lake_rows += 1
        if s["kind"] == "ok":
            t = int(datetime.strptime(s["ts"], "%Y-%m-%d %H:%M:%S")
                    .replace(tzinfo=timezone.utc).timestamp())
            key = (s["city"], t // w * w)
            n, tot = tally.get(key, (0, 0.0))
            tally[key] = (n + 1, tot + float(s["temp"]))
    rows = {(r["city"], r["window_start"]): r for r in chk["derby"]}
    for key in sorted(set(tally) | set(rows)):
        if key not in rows:
            out.append(f"window {key}: missing from the serving table")
            continue
        if key not in tally:
            out.append(f"window {key}: in the serving table but no accepted record falls in it "
                       "(a late record was not dropped?)")
            continue
        n, tot = tally[key]
        r = rows[key]
        if r["record_count"] != n or not math.isclose(r["avg_temperature"], tot / n,
                                                      rel_tol=1e-9, abs_tol=1e-9):
            out.append(f"window {key}: expected count {n} avg {tot / n} got "
                       f"count {r['record_count']} avg {r['avg_temperature']}")
    if chk["lake_rows"] != lake_rows:
        out.append(f"lake sink: expected {lake_rows} rows got {chk['lake_rows']}")
    return out


CHECKS = {"analytics": analytics, "speed_layer": speed_layer}
