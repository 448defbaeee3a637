"""Seeded input generators for the benchmark.

Everything a workload reads is made here from ``--seed``: the ten
synthetic tables the registry queries scan, the bins of the ingest
ticks, and the sensor CSV files of the streaming tick.  The tables
follow the shapes and value domains of the repository's sf0.001 test
tables (row counts, column types, key ranges, planted near-duplicate
documents), so the headline queries run the same plans on them; the
values themselves come from the seed.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "new", "red", "cold", "large", "hot", "blue", "old"]
PART_NOUN = ["ring", "gear", "widget", "gizmo", "bolt", "rod", "anvil", "plate"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "the stream query row fast small spark group customer line sort hash "
    "batch dup data filter value big key order table scan merge part window "
    "join slow agg column a vector"
).split()

_EPOCH = dt.datetime(1970, 1, 1)


def _days(lo: dt.date, hi: dt.date, n: int, rng: np.random.Generator) -> pa.Array:
    base = (dt.datetime.combine(lo, dt.time()) - _EPOCH).days
    span = (hi - lo).days + 1
    micros = (base + rng.integers(0, span, n)) * 86_400_000_000
    return pa.array(micros, pa.timestamp("us"))


def _cents(lo: float, hi: float, n: int, rng: np.random.Generator) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


# Row counts of the sf0.001 test tables.
N_CUST, N_SUPP, N_PART, N_ORD, N_LINE, N_EVT = 150, 10, 200, 1500, 6000, 1000
N_USER, N_DOC, N_VEC = 15, 500, 500


def make_tables(out_dir: str, seed: int) -> str:
    """Write the ten registry tables, at the sf0.001 row counts, into ``out_dir``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS, s),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)], s),
        "n_regionkey": pa.array(rng.integers(0, 5, 25), i32),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(N_CUST), i64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(N_CUST)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUST), i32),
        "c_acctbal": pa.array(_cents(-999.99, 9999.99, N_CUST, rng), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, N_CUST), s),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(N_SUPP), i64),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(N_SUPP)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP), i32),
        "s_acctbal": pa.array(_cents(-999.99, 9999.99, N_SUPP, rng), f64),
    })
    keys = np.arange(N_PART)
    _write(out_dir, "part", {
        "p_partkey": pa.array(keys, i64),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, N_PART), rng.choice(PART_NOUN, N_PART))],
            s,
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)], s),
        "p_type": pa.array(rng.choice(PART_TYPES, N_PART), s),
        "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
        "p_retailprice": pa.array(900.0 + (keys % 1000) / 10.0, f64),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(N_ORD), i64),
        "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORD), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], N_ORD), s),
        "o_totalprice": pa.array(_cents(1000.0, 500_000.0, N_ORD, rng), f64),
        "o_orderdate": _days(dt.date(1995, 1, 1), dt.date(2001, 8, 1), N_ORD, rng),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, N_ORD), s),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, N_ORD, N_LINE), i64),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINE), i64),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, N_LINE), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINE), i32),
        "l_quantity": pa.array(rng.integers(1, 51, N_LINE).astype(float), f64),
        "l_extendedprice": pa.array(_cents(900.0, 105_000.0, N_LINE, rng), f64),
        "l_discount": pa.array(rng.integers(0, 11, N_LINE) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, N_LINE) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], N_LINE), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], N_LINE), s),
        "l_shipdate": _days(dt.date(1995, 1, 2), dt.date(2001, 11, 4), N_LINE, rng),
    })
    t0 = (dt.datetime(2024, 1, 1) - _EPOCH).days * 86_400_000_000
    ts = np.sort(rng.integers(t0, t0 + 30 * 86_400_000_000, N_EVT))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(N_EVT), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USER, N_EVT), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, N_EVT), s),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, N_EVT), 2)), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVT)], s),
    })
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100))) for _ in range(N_DOC)]
    # Near-duplicate documents, as in the test tables: ~5% are an
    # earlier document with one word appended, so the dedup queries
    # have clusters to find.
    for i in rng.choice(np.arange(1, N_DOC), N_DOC // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(N_DOC), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, N_DOC, p=LANG_P), s),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, N_DOC)], s),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    vecs = rng.normal(size=(N_VEC, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(N_VEC), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VEC), i32),
    })
    return out_dir


def make_bins(seed: int, roi_counts: list[int]) -> list[tuple[str, int]]:
    """``(sample, n_rois)`` rows for an ingest tick: one bin per entry of
    ``roi_counts``, with distinct seeded numeric ids."""
    rng = np.random.default_rng([seed, 2])
    ids = rng.choice(10**8, len(roi_counts), replace=False)
    return [(f"{i:08d}", n) for i, n in zip(ids, roi_counts)]


SENSORS = ("sal", "tmp", "chl", "oxy")


def make_sensor_csvs(in_dir: str, seed: int, n_files: int, rows_per_file: int) -> int:
    """Write ``n_files`` sensor CSV files (header ``sensor,ts,value,flag``)
    of one-minute readings, with sentinels, negatives and bad flags mixed
    in for the QC gate.  Returns the number of data rows written."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(in_dir, exist_ok=True)
    start = dt.datetime(2024, 3, 1)
    minute = 0
    for f in range(n_files):
        lines = ["sensor,ts,value,flag"]
        for _ in range(rows_per_file):
            sensor = SENSORS[rng.integers(0, len(SENSORS))]
            ts = start + dt.timedelta(minutes=minute, seconds=int(rng.integers(0, 60)))
            minute += 1
            u = rng.random()
            if u < 0.02:
                value = -999.0
            elif u < 0.04:
                value = -1.0
            else:
                value = round(float(rng.uniform(0.0, 40.0)), 2)
            flag = "bad" if rng.random() < 0.03 else ("" if rng.random() < 0.1 else "ok")
            lines.append(f"{sensor},{ts:%Y-%m-%d %H:%M:%S},{value},{flag}")
        with open(os.path.join(in_dir, f"readings_{f:03d}.csv"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    return n_files * rows_per_file
