"""Seeded TPC-H-shaped tables for the query workload, written with pyarrow.

The query keys read ``<dir>/<table>.parquet``. This module writes every
table the registry's loaders and ``tests/parity.py``'s DuckDB views expect
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings) with the same column names and types, at the row
counts of scale factor ``Spec.sf``. Money columns hold two-decimal values,
as the exact-decimal oracles assume. The same seed and spec give the same
tables; they are cached by seed and spec beside the zip corpora.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass

KEEP = 3  # table sets kept in the cache
_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark line "
    "sort window order data column join small customer query filter group big "
    "stream vector a the"
).split()
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_LANGS = ("en", "en", "en", "zh", "es", "de", "fr")


@dataclass(frozen=True)
class Spec:
    sf: float = 0.003
    docs: int = 500
    near_dups: float = 0.1  # share of documents that copy an earlier one, one word changed
    events: int = 10_000
    vectors: int = 500
    dim: int = 64
    layout: int = 2  # bump when the generator changes, so cached tables are rebuilt

    def key(self) -> str:
        return hashlib.sha256(json.dumps(asdict(self)).encode()).hexdigest()[:12]


def _money(rng, lo: float, hi: float, n: int):
    import numpy as np

    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng, start: dt.date, span: int, n: int):
    import numpy as np

    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _write(path: str, seed: int, spec: Spec) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * spec.sf), int(10_000 * spec.sf)
    n_part, n_ord = int(200_000 * spec.sf), int(1_500_000 * spec.sf)
    os.makedirs(path)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(path, f"{name}.parquet"))

    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    put("region", {"r_regionkey": i32(range(5)), "r_name": list(_REGIONS)})
    put("nation", {"n_nationkey": i32(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": i32([i % 5 for i in range(25)])})
    put("customer", {
        "c_custkey": i64(range(n_cust)), "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)), "c_acctbal": _money(rng, -999, 9999, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust)})
    put("supplier", {
        "s_suppkey": i64(range(n_supp)), "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)), "s_acctbal": _money(rng, -999, 9999, n_supp)})
    put("part", {
        "p_partkey": i64(range(n_part)), "p_name": [f"part {i}" for i in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_part)],
        "p_type": rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], n_part),
        "p_size": i32(rng.integers(1, 51, n_part)), "p_retailprice": _money(rng, 900, 2100, n_part)})
    put("orders", {
        "o_orderkey": i64(range(n_ord)), "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2400, n_ord),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord)})
    # Lines per order: 1..7, mean 4, as in TPC-H; a fixed multiset the seed
    # only shuffles, so every seed has the same row counts.
    per = np.resize(np.arange(1, 8), n_ord)
    rng.shuffle(per)
    okey = np.repeat(np.arange(n_ord), per)
    n_li = len(okey)
    lineno = np.arange(n_li) - np.repeat(np.cumsum(per) - per, per) + 1
    put("lineitem", {
        "l_orderkey": i64(okey), "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)), "l_linenumber": i32(lineno),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": _money(rng, 900, 100_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0, "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n_li), "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2500, n_li)})
    texts = []
    dups = set(rng.choice(np.arange(1, spec.docs), round(spec.docs * spec.near_dups), replace=False))
    for d in range(spec.docs):
        if d in dups:
            words = texts[rng.integers(0, len(texts))].split()
            words[rng.integers(0, len(words))] = str(rng.choice(_WORDS))
        else:
            words = list(rng.choice(_WORDS, rng.integers(10, 90)))
        texts.append(" ".join(words))
    put("documents", {
        "doc_id": i64(range(spec.docs)), "text": texts, "lang": rng.choice(_LANGS, spec.docs),
        "source": [f"src{d % 20}" for d in range(spec.docs)], "n_chars": i64([len(t) for t in texts])})
    gaps = rng.integers(1, 60_000_000, spec.events).astype("timedelta64[us]")
    put("events", {
        "event_id": i64(range(spec.events)),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps),
        "user_id": i64(rng.integers(0, 100, spec.events)),
        "event_type": rng.choice(["view", "click", "purchase", "error"], spec.events),
        "value": _money(rng, 0, 100, spec.events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, spec.events)]})
    vecs = rng.normal(0, 0.12, (spec.vectors, spec.dim)).astype(np.float32)
    put("embeddings", {
        "vec_id": i64(range(spec.vectors)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 8, spec.vectors))})
    with open(os.path.join(path, "spec.json"), "w") as f:
        json.dump({"seed": seed, "spec": asdict(spec), "lineitem_rows": n_li}, f)


def build(cache_dir: str, seed: int, spec: Spec = Spec()) -> str:
    """Return the directory of the tables for (seed, spec), writing it once."""
    path = os.path.join(cache_dir, f"tables-{seed}-{spec.key()}")
    if os.path.exists(os.path.join(path, "spec.json")):
        os.utime(path)
        return path
    old = sorted(glob.glob(os.path.join(cache_dir, "tables-*")), key=os.path.getmtime)
    for stale in old[:-KEEP]:
        shutil.rmtree(stale, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)  # left by an interrupted build
    _write(tmp, seed, spec)
    os.replace(tmp, path)
    return path
