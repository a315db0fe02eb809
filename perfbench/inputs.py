"""Seeded input generators for the three workloads.

Everything here runs before the clock starts, in the benchmark process,
with numpy/pyarrow only (no Spark). Each generator writes into a cache
directory named by generator version and seed and marks it complete with
a ``_READY`` file, so a rerun with the same seed reuses the inputs byte
for byte. Bump ``GEN_VERSION`` whenever a generator's output changes.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = "g4"

# detect-ingest: frames are the package's 64x64 planted-rectangle renders
DETECT_THRESHOLD = 0.03  # keeps boxes whose area exceeds 3% of the frame

# events-window: share of events written into a later file than their
# timestamp order would put them (out-of-order arrivals)
OUT_OF_ORDER_SHARE = 0.1
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENT_SCHEMA_DDL = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)

# query-mix: the sf0.1 dataset is generated once per generator version
# (the seed only shuffles the query order), like a TPC dataset at a fixed
# scale factor.
QUERY_DATA_SEED = 20240101
SF = 0.1


# seconds spent building inputs in this process: only cache misses count,
# so imports done on the way always fall in the benchmark's set-up time
build_s = 0.0


def cached(root: str, name: str, build) -> str:
    """Return ``root/name`` after building it once with ``build(path)``."""
    global build_s
    path = os.path.join(root, name)
    if os.path.exists(os.path.join(path, "_READY")):
        return path
    stage = path + ".building"
    t0 = time.perf_counter()
    shutil.rmtree(stage, ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(stage)
    build(stage)
    open(os.path.join(stage, "_READY"), "w").close()
    build_s += time.perf_counter() - t0
    os.rename(stage, path)
    return path


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


# --------------------------------------------------------------- frames
def frame_files(root: str, seed: int, n_files: int, per_file: int, tag: str) -> str:
    """``n_files`` parquet files of ``per_file`` frames (frame_id,
    payload): distinct seeded frame ids, each rendered by the package's
    own ``npmodel.render_frame`` so the planted bounds are known."""
    from video_streamer_spark.operators import npmodel

    def build(out: str) -> None:
        rng = np.random.default_rng([seed, 1, tag == "warm"])
        ids = rng.choice(10_000_000, size=n_files * per_file, replace=False)
        for i in range(n_files):
            chunk = ids[i * per_file : (i + 1) * per_file].astype("int64")
            _write(
                pd.DataFrame(
                    {
                        "frame_id": chunk,
                        "payload": [npmodel.render_frame(f) for f in chunk],
                    }
                ),
                os.path.join(out, f"part-{i:05d}.parquet"),
            )

    return cached(root, f"frames-{GEN_VERSION}-{tag}-s{seed}-{n_files}x{per_file}", build)


def expected_detections(frame_ids, threshold: float) -> pd.DataFrame:
    """The rows the detect-ingest table must hold, derived from
    ``npmodel.planted_bounds`` alone: the model recovers each planted
    rectangle exactly, labels it ``1 + area % 80`` and scores it
    ``area / 4096``; boxes at or under the threshold are dropped."""
    from video_streamer_spark.operators import npmodel

    rows = []
    for fid in frame_ids:
        top, left, bottom, right = npmodel.planted_bounds(int(fid))
        area = (bottom - top + 1) * (right - left + 1)
        score = area / 4096.0
        if score > threshold:
            rows.append((int(fid), 0, left, top, right, bottom, 1 + area % 80, score))
    return pd.DataFrame(
        rows,
        columns=["frame_id", "box_idx", "x_min", "y_min", "x_max", "y_max",
                 "label_id", "score"],
    )


# --------------------------------------------------------------- events
def event_files(root: str, seed: int, n_files: int, per_file: int, tag: str) -> str:
    """``n_files`` parquet files of events in arrival order. Timestamps
    advance about 20 minutes per file, so each file opens or closes a few
    hourly windows; ``OUT_OF_ORDER_SHARE`` of the events arrive one or
    two files late (still inside the 1-hour watermark)."""

    def build(out: str) -> None:
        rng = np.random.default_rng([seed, 2, tag == "warm"])
        n = n_files * per_file
        base = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
        span_us = n_files * 20 * 60 * 1_000_000
        ts = np.sort(rng.integers(0, span_us, size=n)) + base
        arrival = (np.arange(n) // per_file).astype(np.int64)
        late = rng.random(n) < OUT_OF_ORDER_SHARE
        arrival[late] += rng.integers(1, 3, size=int(late.sum()))
        arrival = np.minimum(arrival, n_files - 1)
        df = pd.DataFrame(
            {
                "event_id": np.arange(n, dtype=np.int64),
                "ts": pd.to_datetime(ts, unit="us", utc=True).astype("datetime64[us, UTC]"),
                "user_id": rng.integers(0, 1500, size=n),
                "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, size=n)],
                "value": np.round(rng.exponential(50.0, size=n), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
            }
        )
        for i in range(n_files):
            _write(
                df[arrival == i].reset_index(drop=True),
                os.path.join(out, f"part-{i:05d}.parquet"),
            )

    return cached(root, f"events-{GEN_VERSION}-{tag}-s{seed}-{n_files}x{per_file}", build)


# --------------------------------------------------------- sf0.1 tables
def _split_layout(tbl: pa.Table, out: str, name: str) -> None:
    """The bench's split-v2 layout: a table of more than 12.5k rows is
    written as 4..16 files under ``<name>.parquet/``; smaller ones stay
    a single file."""
    n_files = min(16, tbl.num_rows // 12500)
    if n_files < 1 and tbl.nbytes < (128 << 10):
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))
        return
    n_files = max(4, n_files)
    per = -(-tbl.num_rows // n_files)
    d = os.path.join(out, f"{name}.parquet")
    os.makedirs(d)
    for i in range(n_files):
        pq.write_table(tbl.slice(i * per, per), os.path.join(d, f"part-{i:05d}.parquet"))


def _days(rng, start: str, end: str, n: int):
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return pd.to_datetime(rng.integers(lo, hi + 1, size=n).astype("datetime64[D]")).astype(
        "datetime64[us]"
    )


def _money(rng, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """The four tables of the repo's test data that the query-mix queries
    read, with the same schemas, physical types and value distributions,
    scaled by ``sf``."""
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, size=n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            )[rng.integers(0, 5, size=n_cust)],
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, size=n_li),
            "l_partkey": rng.integers(0, n_part, size=n_li),
            "l_suppkey": rng.integers(0, n_supp, size=n_li),
            "l_linenumber": rng.integers(1, 8, size=n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, size=n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, size=n_li) / 100.0,
            "l_tax": rng.integers(0, 9, size=n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, size=n_li)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
        }
    )
    return t


def query_tables(root: str) -> str:
    """The sf0.1 dataset in the split layout."""
    sf, seed = SF, QUERY_DATA_SEED

    def build(out: str) -> None:
        for name, df in _tables(seed, sf).items():
            _split_layout(pa.Table.from_pandas(df, preserve_index=False), out, name)

    return cached(root, f"sf{sf}-{GEN_VERSION}-d{seed}", build)


def oracle_digests(data_dir: str, names: list[str]) -> dict[str, tuple]:
    """Row count and order-insensitive hash of each query's DuckDB
    oracle over ``data_dir``, computed once per dataset and oracle text."""
    import hashlib
    import json

    from probes import frame_digest
    from video_streamer_spark.queries import ORACLES

    def build(out: str) -> None:
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
        for f in os.listdir(data_dir):
            if f.endswith(".parquet"):
                p = os.path.join(data_dir, f)
                src = f"{p}/*.parquet" if os.path.isdir(p) else p
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{src}')")
        digests = {n: list(frame_digest(con.execute(ORACLES[n]).df())) for n in names}
        con.close()
        with open(os.path.join(out, "digests.json"), "w") as fh:
            json.dump(digests, fh)

    sql = hashlib.sha256("\n".join(ORACLES[n] for n in names).encode()).hexdigest()[:12]
    tag = f"oracle-{os.path.basename(data_dir)}-{sql}"
    path = cached(os.path.dirname(data_dir), tag, build)
    with open(os.path.join(path, "digests.json")) as fh:
        return {k: tuple(v) for k, v in json.load(fh).items()}
