"""Deterministic input data for the benchmark.

Two kinds of input:

- ``write_tables``: the ten tables the registered queries read (TPC-H-like
  star schema plus ``events``, ``documents`` and ``embeddings``), with the
  same schemas and value domains as the test data TESTDATA.md describes.
  They are a fixed function of ``DATA_SEED`` and the scale, generated once
  per checkout and reused by later runs.
- ``event_file``: one file of the open-loop side-input stream, a pure
  function of (run seed, file index, the file's rows). ``file_bounds``
  splits the stream into files of random size, also from the seed. Event
  time is an offset from a fixed
  epoch, so the bytes do not depend on when the file is written; the
  wall-clock due time is ``t0 + offset``, kept by the generator.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SCALE = 0.01
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
# Bumped whenever the generated bytes change, so a stale cache is rebuilt.
FORMAT_VERSION = "1"

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

_DAY_US = 86_400_000_000


def table_sizes(scale: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * scale),
        "supplier": int(10_000 * scale),
        "part": int(200_000 * scale),
        "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale),
        "events": int(1_000_000 * scale),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def _days_us(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _ts(us: np.ndarray, tz: str | None = None) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us", tz=tz))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(scale: float = SCALE, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = table_sizes(scale)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(SEGMENTS, c),
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(p, dtype="int64"),
        "p_name": rng.choice(names, p),
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
        "p_type": rng.choice(PART_TYPES, p),
        "p_size": rng.integers(1, 51, p).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 1),
    })
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype="int64"),
        "o_custkey": rng.integers(0, c, o),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _ts(_days_us(rng, "1995-01-01", "2001-08-01", o)),
        "o_orderpriority": rng.choice(PRIORITIES, o),
    })
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li),
        "l_partkey": rng.integers(0, p, li),
        "l_suppkey": rng.integers(0, s, li),
        "l_linenumber": rng.integers(1, 8, li).astype("int32"),
        "l_quantity": rng.integers(1, 51, li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _ts(_days_us(rng, "1995-01-02", "2001-11-04", li)),
    })
    e = n["events"]
    start = np.datetime64("2024-01-01", "us").astype("int64")
    ts = np.sort(start + rng.integers(0, 30 * _DAY_US, e))
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype="int64"),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(c // 10, 1), e),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng, d: int) -> pa.Table:
    lengths = rng.integers(10, 101, d)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lengths]
    # One document in twenty is a near-duplicate: another document's text
    # plus a marker token, the shape the dedup and near-dup gates look for.
    dups = rng.choice(d, d // 20, replace=False)
    originals = np.setdiff1d(np.arange(d), dups)
    for i, j in zip(dups, rng.choice(originals, len(dups))):
        texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": np.arange(d, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, d, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64"),
    })


def _embeddings(rng, m: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centroids = rng.standard_normal((labels, dim)) * 0.07
    label = rng.integers(0, labels, m)
    v = rng.standard_normal((m, dim)) + centroids[label]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": np.arange(m, dtype="int64"),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": label.astype("int32"),
    })


def write_tables(out_dir: str, scale: float = SCALE, seed: int = DATA_SEED) -> bool:
    """Write the tables to ``out_dir`` unless an identical set is there.
    Returns True when it generated them."""
    stamp = f"{FORMAT_VERSION} {scale} {seed}"
    marker = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(marker) and open(marker).read() == stamp:
        return False
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in build_tables(scale, seed).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "_SUCCESS"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return True


# --- open-loop stream ------------------------------------------------------

STREAM_EPOCH_US = int(np.datetime64("2024-01-01", "us").astype("int64"))
ZIPF_S = 1.1


def zipf_weights(n: int, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def file_bounds(seed: int, files: int, rows: int) -> np.ndarray:
    """Where each of ``files`` stream files starts, plus where the last ends:
    sizes drawn uniformly from ``rows/2 .. 3*rows/2``, ``rows`` on average.

    Files of one fixed size arrive at one fixed period, and a stream whose
    micro-batch took close to a multiple of it stayed in step with the
    arrivals for the whole window: the wait between a file's arrival and
    the batch that reads it, part of every latency, was set by the phase
    the run happened to lock into, and the median latency of runs of the
    same code fell into two groups 15% apart. Random sizes vary the period.
    """
    sizes = np.random.default_rng([seed, 2]).integers(rows // 2, rows * 3 // 2, files, endpoint=True)
    return np.concatenate([[0], np.cumsum(sizes)]).astype("int64")


def event_file(seed: int, index: int, first: int, rows: int, rate: int,
               custkeys: np.ndarray) -> pa.Table:
    """File ``index`` of the stream: rows ``first .. first+rows`` at ``rate``/s.

    ``offset_ms`` is the event's due time relative to the stream start and
    ``ts`` the same instant on the fixed event-time epoch. ``user_id`` is
    Zipf-skewed over ``custkeys``; which key is hottest depends on the seed.
    """
    order = np.random.default_rng([seed, 0]).permutation(custkeys)
    rng = np.random.default_rng([seed, 1, index])
    offset_us = (np.arange(first, first + rows, dtype="int64") * 1_000_000) // rate
    return pa.table({
        "event_id": np.arange(first, first + rows, dtype="int64"),
        "user_id": order[rng.choice(len(order), rows, p=zipf_weights(len(order)))],
        "value": rng.integers(1, 1001, rows).astype("int64"),
        "offset_ms": offset_us // 1000,
        "ts": _ts(STREAM_EPOCH_US + offset_us, tz="UTC"),
    })

