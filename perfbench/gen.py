"""Seeded input generator for the benchmark.

Everything the engine sees in a run comes from here: the fixture tables
(shaped like the sf0.1 test data: same schemas, value ranges and planted
duplicate rates), the orchestrator's scheduling ticks for `ledger_ops`, and
the record batches replayed by `stream_ingest`. The same seed gives the same
files, byte for byte apart from parquet metadata.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENTS = 100_000                 # sf0.1 events -> 100k ledger rows
# The curation corpus is below sf0.1's 5,000 / 2,000 so that a cold pass and
# steady passes fit one run (see README.md).
DOCS = 1_000
EMBS = 500
DAYS = 30                        # 2024-01-01 .. 2024-01-30, one partition a day
T0_US = 1_704_067_200_000_000    # 2024-01-01T00:00:00 UTC in microseconds
DAY_US = 86_400_000_000
USERS = 1_500
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
STATUSES = ["pending", "in_progress", "completed", "failed"]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
DIM = 64

STREAM_BATCH = 1_000             # new records per micro-batch
STREAM_REPLAYS = 100             # replayed duplicates per micro-batch
STREAM_BATCHES = 150             # more than a run can consume
TICKS = 1_000                    # more than a run can consume
NEW_ID_BASE = 10_000_000         # ids of runs the orchestrator inserts


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))  # no zone: TIMESTAMP(isAdjustedToUTC=false)


def events(rng):
    ts = np.sort(T0_US + rng.integers(0, DAYS * DAY_US, EVENTS))
    return pa.table({
        "event_id": pa.array(np.arange(EVENTS, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, USERS, EVENTS)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, EVENTS)),
        "value": pa.array(np.round(rng.exponential(50.0, EVENTS), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENTS)]),
    })


def documents(rng, n):
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 101))) for _ in range(n)]
    # Planted duplicates at the test data's rates: 5% near-duplicates (an
    # earlier document plus one token) and 0.2% exact copies.
    for i in rng.choice(np.arange(1, n), n // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, n), n // 500, replace=False):
        texts[i] = texts[rng.integers(0, i)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n):
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def ledger_rows(ev):
    """The `pipeline_runs` derivation of FIXTURES.md, computed on the events."""
    eid = ev["event_id"].to_numpy()
    start = ev["ts"].cast(pa.int64()).to_numpy()
    end = start + (1 + eid % 180) * 60_000_000
    return {
        "record_id": eid,
        "pipeline_name": ev["event_type"].to_numpy(zero_copy_only=False),
        "index_name": np.array([f"idx_{u % 5}" for u in ev["user_id"].to_numpy()]),
        "start_us": start,
        "end_us": end,
        "pipeline_status": np.array(STATUSES)[eid % 4],
        "records_count": ev["value"].to_numpy(),
    }


def stream_batches(rng, runs):
    """Start-ordered replay of the ledger records: STREAM_BATCH new records a
    batch plus STREAM_REPLAYS redelivered ones drawn from the previous batch
    (some still inside the 1-hour dedup watermark, most already behind it).
    Past the fixture month the replay continues with the same records moved
    30 days on under fresh ids, so a run never runs dry."""
    n = len(runs["record_id"])
    cols = {k: [] for k in ("batch", "record_id", "pipeline_name", "index_name",
                            "start_us", "end_us", "pipeline_status", "records_count")}
    prev = None
    for b in range(STREAM_BATCHES):
        lap, off = divmod(b * STREAM_BATCH, n)
        idx = np.arange(off, off + STREAM_BATCH) % n
        new = {
            "record_id": runs["record_id"][idx] + lap * n,
            "pipeline_name": runs["pipeline_name"][idx],
            "index_name": runs["index_name"][idx],
            "start_us": runs["start_us"][idx] + lap * DAYS * DAY_US,
            "end_us": runs["end_us"][idx] + lap * DAYS * DAY_US,
            "pipeline_status": runs["pipeline_status"][idx],
            "records_count": runs["records_count"][idx],
        }
        rows = new
        if prev is not None:
            pick = rng.choice(STREAM_BATCH, STREAM_REPLAYS, replace=False)
            rows = {k: np.concatenate([new[k], prev[k][pick]]) for k in new}
        for k, v in rows.items():
            cols[k].append(v)
        cols["batch"].append(np.full(len(rows["record_id"]), b, dtype=np.int64))
        prev = new
    c = {k: np.concatenate(v) for k, v in cols.items()}
    return pa.table({
        "batch": pa.array(c["batch"]),
        "record_id": pa.array(c["record_id"].astype(np.int64)),
        "pipeline_name": pa.array(c["pipeline_name"]),
        "index_name": pa.array(c["index_name"]),
        "start_us": pa.array(c["start_us"].astype(np.int64)),
        "end_us": pa.array(c["end_us"].astype(np.int64)),
        "pipeline_status": pa.array(c["pipeline_status"]),
        "records_count": pa.array(c["records_count"]),
    })


def ticks(rng):
    """Orchestrator scheduling ticks: the parameters of every verb call. Each
    tick plans one new run over a candidate window inside the fixture month;
    `check` marks the seeded half of ticks whose reads are replayed."""
    out = []
    for k in range(TICKS):
        day = int(rng.integers(0, DAYS))
        start = T0_US + day * DAY_US + int(rng.integers(0, 20 * 3600)) * 1_000_000
        out.append({
            "status": STATUSES[int(rng.integers(0, 4))],
            "pipeline": EVENT_TYPES[int(rng.integers(0, 5))],
            "index": f"idx_{int(rng.integers(0, 5))}",
            "day": day,
            "start_us": start,
            "end_us": start + int(rng.integers(5, 181)) * 60_000_000,
            "records_count": round(float(rng.exponential(50.0)), 2),
            "record_id": NEW_ID_BASE + k,
            "check": bool(rng.random() < 0.5),
        })
    return out


def generate(out_dir, seed, workload):
    """Write the inputs `workload` reads. Each input has its own random
    stream, so a seed gives the same events, say, to every workload."""
    os.makedirs(out_dir, exist_ok=True)

    def rng(k):
        return np.random.default_rng([seed % 2**63, k])

    if workload == "curation_batch":
        pq.write_table(documents(rng(1), DOCS), f"{out_dir}/documents.parquet")
        pq.write_table(embeddings(rng(2), EMBS), f"{out_dir}/embeddings.parquet")
        return
    ev = events(rng(0))
    if workload == "ledger_ops":
        pq.write_table(ev, f"{out_dir}/events.parquet")
        with open(f"{out_dir}/ticks.json", "w") as f:
            json.dump(ticks(rng(3)), f)
    else:
        pq.write_table(stream_batches(rng(4), ledger_rows(ev)), f"{out_dir}/stream.parquet")
