"""Correctness checks, run after the harness exits and outside any timing.

Each check returns {"check", "ok", ...}; every failed check counts in the
result's `failed`. The engine's outputs are compared with DuckDB:

- ledger_ops: a DuckDB replay of the seeded op log (initial fixture ledger,
  then each tick's INSERT and two UPDATEs) must give every recorded read
  result of the `check` ticks and the final ledger row for row.
- curation_batch: each query's output must hash-match its oracle SQL run by
  DuckDB on the same fixture, canonicalised as tools/check.py does.
- stream_ingest: the sink must hold each distinct fed record exactly once.
"""
import glob
import json
import os
import sys
from datetime import datetime, timezone

import duckdb

sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
from check import df_rows, h16  # noqa: E402  (the oracle gate's canonicalisation)

import gen  # noqa: E402

EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def us(iso):
    """ISO-8601 instant as printed by java.time.Instant -> epoch microseconds."""
    if iso is None:
        return None
    t = datetime.fromisoformat(iso.replace("Z", "+00:00"))
    return (t - EPOCH) // (datetime.resolution)


def run(workload, raw, fixture, work):
    return {"ledger_ops": ledger, "curation_batch": curation,
            "stream_ingest": stream}[workload](raw, fixture, work)


# ---- ledger_ops ------------------------------------------------------------

LEDGER_COLS = ("record_id, pipeline_name, index_name, s, e, sd, ed, pipeline_status, "
               "records_count")


def ledger(raw, fixture, work):
    con = duckdb.connect()
    con.execute(f"""
        CREATE TABLE l AS SELECT
          event_id AS record_id, event_type AS pipeline_name,
          'idx_' || CAST(user_id % 5 AS VARCHAR) AS index_name,
          epoch_us(ts) AS s, epoch_us(ts) + (1 + event_id % 180) * 60000000 AS e,
          CAST(ts AS DATE) AS sd,
          CAST(ts + (1 + event_id % 180) * INTERVAL 1 MINUTE AS DATE) AS ed,
          ['pending','in_progress','completed','failed'][1 + event_id % 4] AS pipeline_status,
          value AS records_count
        FROM read_parquet('{fixture}/events.parquet')""")
    with open(f"{fixture}/ticks.json") as f:
        ticks = json.load(f)
    out = raw["out"]
    recorded = {r: got for r, got in out["reads"]}
    results = []

    def q(sql, *params):
        return con.execute(sql, list(params)).fetchall()

    def day_us(d):
        return gen.T0_US + d * gen.DAY_US

    for r in range(out["ticks_done"]):
        t = ticks[r]
        p, i, st = t["pipeline"], t["index"], t["status"]
        sd = datetime.fromtimestamp(t["start_us"] / 1e6, timezone.utc).date()
        ed = datetime.fromtimestamp(t["end_us"] / 1e6, timezone.utc).date()
        if r in recorded:
            d0, d1 = day_us(t["day"]), day_us(t["day"] + 1)
            sday = "DATE '2024-01-01' + CAST(? AS INTEGER)"
            pick = ("SELECT CAST(record_id AS VARCHAR) FROM l WHERE pipeline_status = ? "
                    "ORDER BY s {}, record_id LIMIT 1")
            want = [
                (q(pick.format("ASC"), "pending") or [[None]])[0][0],
                [str(x[0]) for x in q(
                    "SELECT record_id FROM l WHERE sd <= ? AND ed >= ? AND pipeline_name = ? "
                    "AND index_name = ? AND s < ? AND e > ? ORDER BY record_id",
                    ed, sd, p, i, t["end_us"], t["start_us"])],
                [list(x) for x in q(
                    "SELECT prev, s FROM (SELECT s, lag(e) OVER (ORDER BY s, record_id) AS prev "
                    f"FROM l WHERE sd = {sday} AND pipeline_name = ? AND index_name = ?) "
                    "WHERE prev IS NOT NULL AND s != prev ORDER BY 1, 2", t["day"], p, i)],
                [list(x) for x in q(
                    "WITH f AS (SELECT s, e FROM l WHERE pipeline_name = ? AND index_name = ? "
                    "AND s < ? AND e > ?) SELECT a.s, a.e, b.s, b.e FROM f a JOIN f b "
                    "ON a.s < b.e AND a.e > b.s AND a.s != b.s ORDER BY 1, 2, 3, 4",
                    p, i, d1, d0)],
                q("SELECT count(*) FROM l WHERE pipeline_status = ?", st)[0][0],
                (q(pick.format("DESC"), st) or [[None]])[0][0],
                q("SELECT max(e) FROM l WHERE pipeline_name = ?", p)[0][0],
            ]
            got = recorded[r]
            cont = got[2] and [[us(a), us(b)] for a, b in got[2][1]]
            engine = [got[0], got[1], cont,
                      got[3] and [[us(x) for x in row] for row in got[3]],
                      got[4], got[5], us(got[6])]
            names = ("oldest", "overlap_input", "continuity", "overlap_windows", "count",
                     "latest", "scalar")
            for n, e, w in zip(names, engine, want):
                ok = e == w
                results.append({"check": f"tick {r} {n}", "ok": ok,
                                **({} if ok else {"engine": str(e)[:200], "duckdb": str(w)[:200]})})
        con.execute("INSERT INTO l VALUES (?, ?, ?, ?, ?, ?, ?, 'pending', ?)",
                    [t["record_id"], p, i, t["start_us"], t["end_us"], sd, ed,
                     t["records_count"]])
        for status in ("in_progress", "completed"):
            con.execute("UPDATE l SET pipeline_status = ? WHERE record_id = ?",
                        [status, t["record_id"]])

    bad = [u for u in out["updates_affected"] if not u.endswith(":1")]
    results.append({"check": "each UPDATE affected one row", "ok": not bad,
                    **({"affected": bad[:10]} if bad else {})})
    final = glob.glob(f"{work}/out/ledger_final/*.parquet")
    engine_rows = con.execute(
        f"SELECT record_id, pipeline_name, index_name, epoch_us(query_window_start_ts), "
        f"epoch_us(query_window_end_ts), query_window_start_day, query_window_end_day, "
        f"pipeline_status, records_count FROM read_parquet({final!r}) ORDER BY record_id"
    ).fetchall()
    replay = con.execute(f"SELECT {LEDGER_COLS} FROM l ORDER BY record_id").fetchall()
    results.append({"check": "final ledger equals the replay", "ok": engine_rows == replay,
                    "rows": len(replay)})
    return results


# ---- curation_batch --------------------------------------------------------

def curation(raw, fixture, work):
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture}/{t}.parquet')")
    with open(f"{work}/out/oracle_sql.json") as f:
        oracle = json.load(f)
    results = []
    for name in sorted(oracle):
        cols, rows = df_rows(con.execute(oracle[name]))
        order = sorted(range(len(cols)), key=lambda k: cols[k])
        want = [tuple(r[k] for k in order) for r in rows]
        files = sorted(glob.glob(f"{work}/out/{name}/*.parquet"))
        if not files:
            results.append({"check": name, "ok": False, "error": "no engine output"})
            continue
        cols2, rows2 = df_rows(con.execute(f"SELECT * FROM read_parquet({files!r})"))
        order2 = sorted(range(len(cols2)), key=lambda k: cols2[k])
        got = [tuple(r[k] for k in order2) for r in rows2]
        ok = sorted(cols) == sorted(cols2) and h16(want) == h16(got)
        results.append({"check": name, "ok": ok, "rows": len(want),
                        **({} if ok else {"engine_rows": len(got)})})
    return results


# ---- stream_ingest ---------------------------------------------------------

def stream(raw, fixture, work):
    con = duckdb.connect()
    fed = raw["out"]["batches_fed"]
    files = [p for p in glob.glob(f"{raw['out']['sink']}/**/*.parquet", recursive=True)
             if not any(seg.startswith("_") for seg in
                        os.path.relpath(p, raw["out"]["sink"]).split(os.sep))]
    cols = "record_id, pipeline_name, index_name, s, e, pipeline_status, records_count"
    con.execute(f"""
        CREATE TABLE sink AS SELECT record_id, pipeline_name, index_name,
          epoch_us(query_window_start_ts) AS s, epoch_us(query_window_end_ts) AS e,
          pipeline_status, records_count
        FROM read_parquet({files!r})""")
    con.execute(f"""
        CREATE TABLE fed AS SELECT DISTINCT record_id, pipeline_name, index_name,
          start_us AS s, end_us AS e, pipeline_status, records_count
        FROM read_parquet('{fixture}/stream.parquet') WHERE batch < {fed}""")
    n_sink, n_ids = con.execute("SELECT count(*), count(DISTINCT record_id) FROM sink").fetchone()
    n_fed = con.execute("SELECT count(*) FROM fed").fetchone()[0]
    diff = con.execute(f"SELECT count(*) FROM ((SELECT {cols} FROM sink EXCEPT SELECT {cols} "
                       f"FROM fed) UNION ALL (SELECT {cols} FROM fed EXCEPT SELECT {cols} "
                       f"FROM sink))").fetchone()[0]
    return [
        {"check": "no record ingested twice", "ok": n_sink == n_ids, "rows": n_sink},
        {"check": "ingested set equals the distinct fed records", "ok": diff == 0 and
         n_sink == n_fed, "fed": n_fed, "ingested": n_sink},
    ]
