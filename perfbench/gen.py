"""Seeded inputs and request streams for every workload.

Everything the program sees is made here from the workload seed: the same
seed gives the same rows, the same request sequence and the same operator
tables. Nothing is read from outside the checkout.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

START = pd.Timestamp("2023-01-01")
N_SHALLOW = 4


def _sizes(smoke: bool) -> dict:
    if smoke:
        return dict(days=6, deep_rows=3_000, win=2, month=3)
    return dict(days=21, deep_rows=20_000, win=4, month=7)


# ---------------------------------------------------------------------------
# retrieve: one deep bitemporal feature, 16 shallow ones, one transform
# ---------------------------------------------------------------------------


def store_inputs(seed: int, smoke: bool) -> dict:
    """Deep feature rows (with ~3% later corrections) and shallow series."""
    sz = _sizes(smoke)
    rng = np.random.default_rng(seed)
    n, days = sz["deep_rows"], sz["days"]
    secs = np.sort(rng.choice(days * 86_400, n, replace=False))
    time = START + pd.to_timedelta(secs, unit="s")
    created = time + pd.to_timedelta(rng.integers(-7_200, 7_200, n), unit="s")
    deep = pd.DataFrame(
        {"time": time, "created_time": created, "value": rng.standard_normal(n)}
    )
    # corrections: the same event time restated later with a new value, so
    # dedup_latest and time travel have real work
    idx = rng.choice(n, n * 3 // 100, replace=False)
    corr = deep.iloc[idx].copy()
    corr["created_time"] += pd.to_timedelta(
        rng.integers(3_600, 48 * 3_600, len(idx)), unit="s"
    )
    corr["value"] = rng.standard_normal(len(idx))
    deep = pd.concat([deep, corr], ignore_index=True)
    grid = pd.date_range(START, periods=days * 4, freq="6h")
    shallow = [
        pd.DataFrame({"time": grid, "value": rng.standard_normal(len(grid))})
        for _ in range(N_SHALLOW)
    ]
    return {"deep": deep, "shallow": shallow, "days": days}


RETRIEVE_OPS = ("ranged", "travel", "resampled", "wide", "align", "last")
TRAVEL = "-30min"


def retrieve_windows(seed: int, smoke: bool) -> dict:
    """One seeded window per op type, ``op -> (from, to)``. Every pass asks
    for the same windows, so after warm-up the program's memos and caches
    hold what the passes use."""
    sz = _sizes(smoke)
    rng = np.random.default_rng(seed + 1)
    out = {}
    for op in RETRIEVE_OPS:
        # fixed lengths at random days, from noon to noon: every seed asks
        # for the same amount of work over the same number of daily
        # partitions
        days = sz["month"] if op in ("resampled", "wide") else sz["win"]
        frm = START + pd.Timedelta(days=int(rng.integers(0, sz["days"] - days)), hours=12)
        out[op] = (frm, frm + pd.Timedelta(days=days))
    return out


def retrieve_requests(seed: int, smoke: bool):
    """Endless seeded stream of passes; a pass is every op type once on its
    window, as (op, from, to), in a seeded order."""
    windows = retrieve_windows(seed, smoke)
    rng = np.random.default_rng(seed + 2)
    while True:
        yield [(str(op), *windows[op]) for op in rng.permutation(RETRIEVE_OPS)]


# ---------------------------------------------------------------------------
# ingest: bitemporal appends, corrections, backfills and compaction
# ---------------------------------------------------------------------------

N_INGEST = 4  # numeric features h0..h3, plus the serialized feature "s"
# One ingest pass: small appends from pandas and Spark frames, corrections of
# the recent past, a serialized append, a bulk backfill and a compaction.
INGEST_KINDS = (
    "append_pandas", "append_spark", "correct", "append_serialized", "backfill", "compact",
)
INGEST_STEP = pd.Timedelta(minutes=5)
CLOCK0 = pd.Timestamp("2030-01-01")  # created_time of request i = CLOCK0 + i s


def ingest_initial(seed: int, smoke: bool) -> dict:
    """History of the numeric features h0..h3 and the serialized one."""
    rng = np.random.default_rng(seed)
    n = 96 if smoke else 576  # 8 hours / 2 days of 5-minute history
    grid = pd.date_range(START, periods=n, freq=INGEST_STEP)
    out = {
        f"h{i}": pd.DataFrame(
            {"time": grid, "created_time": grid, "value": rng.standard_normal(n)}
        )
        for i in range(N_INGEST)
    }
    out["s"] = pd.DataFrame(
        {"time": grid, "created_time": grid, "value": _records(rng, n)}
    )
    return out


def _records(rng, n: int) -> list[dict]:
    return [{"n": int(v), "tag": f"t{int(v) % 7}"} for v in rng.integers(0, 1_000, n)]


def ingest_requests(seed: int, smoke: bool, heads: dict):
    """Endless seeded stream of write requests, cycling through
    ``INGEST_KINDS``. ``heads`` maps feature -> last event time written; it
    is advanced here so head appends never overlap."""
    rng = np.random.default_rng(seed + 2)
    batch = 8 if smoke else 20
    backfill_rows = 200 if smoke else 1_000
    backfill_day = START
    last_head = "h0"
    i = 0
    while True:
        i += 1
        created = CLOCK0 + pd.Timedelta(seconds=i)
        # features in turn, so every seed writes the same number of rows
        # and files to each
        feat = f"h{(i - 1) % N_INGEST}"
        kind = INGEST_KINDS[(i - 1) % len(INGEST_KINDS)]
        if kind == "compact":
            # the feature whose head partition took the last small write
            yield {"op": "compact", "feature": last_head}
            continue
        if kind in ("append_pandas", "append_spark", "correct"):
            last_head = feat
        if kind == "backfill":
            backfill_day -= pd.Timedelta(days=1)
            t = backfill_day + pd.to_timedelta(
                np.sort(rng.choice(86_400, backfill_rows, replace=False)), unit="s"
            )
            yield {
                "op": "backfill",
                "feature": feat,
                "frame": pd.DataFrame(
                    {"time": t, "created_time": created,
                     "value": rng.standard_normal(backfill_rows)}
                ),
            }
            continue
        if kind == "append_serialized":
            feat = "s"
        head = heads[feat]
        if kind == "correct":
            # restate some of the last 50 points with a newer created_time
            back = np.sort(rng.choice(50, 10, replace=False))
            t = head - INGEST_STEP * back
        else:
            t = head + INGEST_STEP * np.arange(1, batch + 1)
            heads[feat] = t[-1]
        t = pd.DatetimeIndex(t)
        if kind == "append_serialized":
            vals = _records(rng, len(t))
        else:
            vals = rng.standard_normal(len(t))
        yield {
            "op": kind,
            "feature": feat,
            "frame": pd.DataFrame(
                {"time": t, "created_time": created, "value": vals}
            ),
        }


# ---------------------------------------------------------------------------
# stream: an events replay with a fixed file split
# ---------------------------------------------------------------------------

EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
STREAM_FILES = 2  # one micro-batch per file


def events_frame(seed: int, n: int, days: int = 21, users: int = 200) -> pd.DataFrame:
    """Events table with the testdata schema; timestamps are unique µs."""
    rng = np.random.default_rng(seed)
    us = np.sort(rng.choice(days * 86_400 * 1_000_000, n, replace=False))
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": (START + pd.to_timedelta(us, unit="us")).astype("datetime64[us]"),
            "user_id": rng.integers(0, users, n).astype("int64"),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.gamma(1.0, 50.0, n), 2) + 0.01,
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
        }
    )


def write_event_files(events: pd.DataFrame, src_dir: str, n_files: int) -> None:
    """One parquet file per micro-batch (the replay reads one per trigger)."""
    os.makedirs(src_dir, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(events)), n_files)):
        pq.write_table(
            pa.Table.from_pandas(events.iloc[part], preserve_index=False),
            os.path.join(src_dir, f"part-{i:03d}.parquet"),
        )


# ---------------------------------------------------------------------------
# operators: TPC-H-like star schema, events, documents and embeddings
# ---------------------------------------------------------------------------

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
SEGMENTS = ("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PTYPES = ("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY")
PNAMES = [
    f"{a} {b}"
    for a in ("small", "red", "blue", "green", "big", "dark", "light", "shiny")
    for b in ("ring", "widget", "bolt", "gear", "pipe", "nut", "plate", "valve")
]
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)
# A slice of bench.BENCH_QUERIES (the whole battery takes minutes warm):
# the resample-LOCF query ROADMAP carries over.
OPERATOR_QUERIES = ("ts_resample_locf",)


def _docs(rng, n: int) -> pd.DataFrame:
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.06:
            # near duplicate of an earlier document
            base = texts[int(rng.integers(0, i))]
            texts.append((base + " dup")[: len(base) + 4])
            continue
        n_chars = int(rng.integers(48, 554))
        words, size = [], 0
        while size < n_chars:
            w = VOCAB[int(rng.integers(0, len(VOCAB)))]
            words.append(w)
            size += len(w) + 1
        texts.append(" ".join(words)[:n_chars])
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, k: int = 10) -> pd.DataFrame:
    centers = rng.standard_normal((k, dim))
    label = rng.integers(0, k, n)
    x = centers[label] + 0.6 * rng.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": [row.astype("float32") for row in x],
            "label": label.astype("int32"),
        }
    )


def operator_tables(seed: int, smoke: bool) -> dict[str, pd.DataFrame]:
    """All ten tables the operator queries read, at a small scale factor."""
    rng = np.random.default_rng(seed)
    n_orders = 1_500 if smoke else 7_500
    n_cust, n_part, n_supp = n_orders // 10, n_orders // 7 + 1, n_orders // 150 + 1
    day0 = pd.Timestamp("1995-01-01")

    def days(lo, hi, n):
        return (day0 + pd.to_timedelta(rng.integers(lo, hi, n), unit="D")).astype(
            "datetime64[us]"
        )

    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype("int64"),
            "o_orderstatus": rng.choice(["P", "O", "F"], n_orders),
            "o_totalprice": np.round(rng.uniform(1_000, 500_000, n_orders), 2),
            "o_orderdate": days(0, 2_400, n_orders),
            "o_orderpriority": rng.choice(PRIORITIES, n_orders),
        }
    )
    n_li = n_orders * 4
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_orders, n_li).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["R", "A", "N"], n_li),
            "l_linestatus": rng.choice(["O", "F"], n_li),
            "l_shipdate": days(1, 2_500, n_li),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": np.round(rng.uniform(-999, 9_999, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    part = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": rng.choice(PNAMES, n_part),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1_000) / 10.0, 2),
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": np.round(rng.uniform(-999, 9_999, n_supp), 2),
        }
    )
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    region = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype="int32"), "r_name": list(REGIONS)}
    )
    events = events_frame(seed + 7, 1_000 if smoke else 5_000, days=30, users=150)
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": _docs(rng, 200 if smoke else 250),
        "embeddings": _embeddings(rng, 200 if smoke else 500),
    }


def write_tables(tables: dict[str, pd.DataFrame], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, df in tables.items():
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(sf_dir, f"{name}.parquet"),
        )
