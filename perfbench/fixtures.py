"""Seeded fixture generators for the benchmark workloads.

Every fixture is a pure function of ``(kind, seed)``: the same seed gives
byte-identical inputs.  Fixtures are written once under a cache
directory keyed by kind, seed and ``VERSION``, so repeated runs on one
seed skip generation.  Nothing here imports the engine; the engine only
ever sees the generated files.

Kinds:

* ``star``     -- the engine's relational + event schema (region, nation,
  customer, supplier, part, orders, lineitem, events, documents,
  embeddings) at a small scale, uniform keys.
* ``skew``     -- ``star`` events at 5x the volume with hot keys: about
  half of the events collapse onto one user and one event type.
* ``longdoc``  -- a few documents of 1k-8k tokens built by joining short
  documents end to end (same vocabulary as ``star``).
* ``plant``    -- per-component sensor CSVs for the scheduled-inference
  flow: one component on a one-minute grid with a planted anomaly where
  the sensor correlation breaks.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when any generator changes, so stale caches are not reused
VERSION = 1

_EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z, seconds
_DAY_US = 86_400_000_000
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]

#: star-schema row counts; events and documents sized so a registered
#: query's fixed cost (plan build, Catalyst, job scheduling) dominates
STAR_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 20000,
    "users": 300,
    "documents": 500,
    "embeddings": 500,
}
SKEW_EVENTS = 50_000
SKEW_USERS = 1500
LONGDOC_TOKENS = (500, 1000, 2000)
PLANT = {"sensors": 6, "minutes": 2 * 1440, "anomaly": (1500, 1560)}


def _ts_us(days_from_epoch: np.ndarray) -> pa.Array:
    """Day offsets from 1995-01-01 -> timestamp[us] (tz-naive)."""
    base = np.datetime64("1995-01-01", "us").astype(np.int64)
    return pa.array(base + days_from_epoch.astype(np.int64) * _DAY_US,
                    type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _events(rng, n: int, n_users: int) -> dict:
    gaps = rng.exponential(30 * 86400 / n, n)
    secs = np.cumsum(gaps)
    secs = secs * (30 * 86400 - 60) / secs[-1]
    ts = (_EPOCH_2024 * 1_000_000 + (secs * 1e6).astype(np.int64))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def _doc_texts(rng, n: int, lo: int = 10, hi: int = 100) -> list[str]:
    lens = rng.integers(lo, hi + 1, n)
    words = np.array(_VOCAB)
    texts = [" ".join(words[rng.integers(0, len(_VOCAB), k)]) for k in lens]
    # a few exact duplicates, as a crawl has
    for i in rng.choice(n, max(1, n // 60), replace=False):
        texts[i] = texts[(i + 1) % n]
    return texts


def _documents(rng, texts: list[str]) -> pa.Table:
    n = len(texts)
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_star(out: str, seed: int) -> None:
    rng = np.random.default_rng(seed)
    r = STAR_ROWS
    pq.write_table(pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    pq.write_table(pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }), f"{out}/nation.parquet")
    nc = r["customer"]
    pq.write_table(pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[rng.integers(0, 5, nc)],
    }), f"{out}/customer.parquet")
    ns = r["supplier"]
    pq.write_table(pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    }), f"{out}/supplier.parquet")
    npart = r["part"]
    adj = "blue cold hot large new old red small".split()
    noun = "anvil bolt gear gizmo plate ring rod widget".split()
    pq.write_table(pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
    }), f"{out}/part.parquet")
    no = r["orders"]
    pq.write_table(pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts_us(rng.integers(0, 2404, no)),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, no)],
    }), f"{out}/orders.parquet")
    per_order = rng.integers(1, 8, no)
    nl = int(per_order.sum())
    lineno = np.concatenate([np.arange(1, k + 1) for k in per_order])
    qty = rng.integers(1, 51, nl).astype(np.float64)
    pq.write_table(pa.table({
        "l_orderkey": np.repeat(np.arange(no, dtype=np.int64), per_order),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": lineno.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 18.0, 4000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts_us(rng.integers(1, 2500, nl)),
    }), f"{out}/lineitem.parquet")
    pq.write_table(pa.table(_events(rng, r["events"], r["users"])),
           f"{out}/events.parquet")
    pq.write_table(_documents(rng, _doc_texts(rng, r["documents"])),
           f"{out}/documents.parquet")
    ne = r["embeddings"]
    vecs = rng.standard_normal((ne, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": np.arange(ne, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, ne).astype(np.int32),
    }), f"{out}/embeddings.parquet")


def write_skew(out: str, seed: int) -> None:
    """``star`` with 5x hot-key events: every table but events is the
    seed's ``star`` table; on a seeded half of the events the user becomes
    0 and the event type becomes ``click``."""
    write_star(out, seed)
    rng = np.random.default_rng(seed + 1)
    ev = _events(rng, SKEW_EVENTS, SKEW_USERS)
    hot = rng.random(SKEW_EVENTS) < 0.5
    ev["user_id"] = np.where(hot, 0, ev["user_id"])
    ev["event_type"] = np.where(hot, "click", ev["event_type"])
    pq.write_table(pa.table(ev), f"{out}/events.parquet")


def write_longdoc(out: str, seed: int) -> None:
    """``star`` whose documents are replaced by a few long ones, each the
    concatenation of short seeded documents up to its token target."""
    write_star(out, seed)
    rng = np.random.default_rng(seed + 2)
    short = _doc_texts(rng, 4000)
    texts, i = [], 0
    for target in LONGDOC_TOKENS:
        toks: list[str] = []
        while len(toks) < target:
            toks.extend(short[i % len(short)].split(" "))
            i += 1
        texts.append(" ".join(toks[:target]))
    pq.write_table(_documents(rng, texts), f"{out}/documents.parquet")


def write_plant(out: str, seed: int) -> None:
    """One component ``plant`` with ``PLANT['sensors']`` sensors on a
    one-minute grid from 2024-03-01; inside ``PLANT['anomaly']`` (minute
    indices) the second half of the sensors shift against the first."""
    rng = np.random.default_rng(seed)
    n, m = PLANT["minutes"], PLANT["sensors"]
    a0, a1 = PLANT["anomaly"]
    i = np.arange(n)
    base = np.sin(i / 60.0) * 10 + 50
    noise = rng.normal(0.0, 0.2, (m, n))
    anom = (i >= a0) & (i < a1)
    cols = []
    for s in range(m):
        v = base * (1 + 0.25 * s) + noise[s]
        if s >= m // 2:
            v = v + np.where(anom, 25.0 if s % 2 else -30.0, 0.0)
        cols.append(np.round(v, 4))
    os.makedirs(f"{out}/plant", exist_ok=True)
    start = np.datetime64("2024-03-01T00:00:00")
    stamps = (start + i.astype("timedelta64[m]")).astype(str)
    with open(f"{out}/plant/plant.csv", "w") as f:
        f.write("Timestamp," + ",".join(f"s{k + 1}" for k in range(m)) + "\n")
        for j in range(n):
            f.write(stamps[j] + ".000000," + ",".join(str(c[j]) for c in cols)
                    + "\n")


GENERATORS = {
    "star": write_star,
    "skew": write_skew,
    "longdoc": write_longdoc,
    "plant": write_plant,
}


def ensure(cache_root: str, kind: str, seed: int) -> tuple[str, float]:
    """Return ``(directory, generation seconds)`` for the fixture, building
    it on first use (0.0 seconds on a cache hit).  Built in a temporary
    directory and renamed, so an interrupted run never leaves a partial
    fixture behind a valid name."""
    out = os.path.join(cache_root, f"{kind}-s{seed}-v{VERSION}")
    if os.path.isdir(out):
        return out, 0.0
    os.makedirs(cache_root, exist_ok=True)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    GENERATORS[kind](tmp, seed)
    os.replace(tmp, out)
    return out, time.perf_counter() - t0

