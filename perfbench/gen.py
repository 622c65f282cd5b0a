"""Seeded benchmark inputs.

``base_tables`` writes a small TPC-H-shaped source (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the column names and types the program's test data
has, drawn from one numpy generator seeded by ``--seed``.
``make_inputs`` then scales that base with the repository's own
``tools/make_sf.py`` (run read-only, in a child process): ``--mult 3``
for the table set and ``--mult 1`` for the document set, exactly as a
user would build a larger scale factor. Sets are cached under
``.perfbench_cache/`` in the checkout, keyed by seed, size, mult and a
hash of this file and ``make_sf.py``, so a changed generator never
reuses a stale set.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAKE_SF = os.path.join(ROOT, "tools", "make_sf.py")
CACHE = os.path.join(ROOT, ".perfbench_cache")

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "fr", "zh", "de", "es")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
PART_ADJ = ("blue", "cold", "hot", "red", "small")
PART_NOUN = ("ring", "plate", "gear", "rod", "bolt", "anvil", "widget")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = (np.int64(base.replace(tzinfo=dt.timezone.utc).timestamp())
          * 1_000_000 + (seconds * 1_000_000).astype(np.int64))
    return pa.array(us, pa.timestamp("us"))


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), size=n, p=p)].tolist(), pa.string())


def base_tables(out_dir: str, seed: int, customers: int, docs: int) -> None:
    """Write the base source. Row counts follow TPC-H ratios from
    ``customers`` (supplier 1/15, part 4/3, orders 10x, lineitem
    1-7 per order, events ~6.7x); ``docs`` documents of 10-100 words."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    n_sup = max(10, customers // 15)
    n_part = customers * 4 // 3
    n_ord = customers * 10
    n_ev = customers * 20 // 3
    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    # nations are assigned round-robin, not drawn: with a few hundred
    # rows a random draw swings the share a region condition keeps from
    # seed to seed, and with it the subset's size
    write("customer", {
        "c_custkey": pa.array(range(customers), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(customers)]),
        "c_nationkey": pa.array([i % 25 for i in range(customers)],
                                pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, customers)),
        "c_mktsegment": _pick(rng, SEGMENTS, customers),
    })
    write("supplier", {
        "s_suppkey": pa.array(range(n_sup), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_sup)]),
        "s_nationkey": pa.array([i % 25 for i in range(n_sup)], pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_sup)),
    })
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    write("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}"
                            for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{i}"
                             for i in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(_money(rng, 900.0, 999.9, n_part)),
    })
    day = 86400
    write("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, customers, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1),
                           rng.integers(0, 2404, n_ord) * day),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write("lineitem", {
        "l_orderkey": pa.array(np.repeat(np.arange(n_ord), lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_sup, n_li), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _pick(rng, ("F", "O"), n_li),
        "l_shipdate": _ts(dt.datetime(1995, 1, 1),
                          rng.integers(0, 2404, n_li) * day),
    })
    write("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1),
                  np.sort(rng.uniform(0, 30 * day, n_ev))),
        "user_id": pa.array(rng.integers(0, max(2, customers // 10), n_ev),
                            pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(_money(rng, 0.0, 560.0, n_ev)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    lens = rng.integers(10, 101, docs)
    ids = rng.integers(0, len(WORDS), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(WORDS[i] for i in ids[pos:pos + ln]))
        pos += ln
    write("documents", {
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, docs, p=LANG_P),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = rng.standard_normal((16, 8)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(range(16), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 4, 16), pa.int32()),
    })


def _generator_hash() -> str:
    h = hashlib.sha256()
    for path in (os.path.abspath(__file__), MAKE_SF):
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def make_inputs(seed: int, customers: int, docs: int, mult: int) -> tuple[str, float]:
    """Return ``(dir, seconds)``: the parquet directory of the cached or
    freshly generated input set for these settings and the time spent generating it (0 on a
    cache hit)."""
    key = f"s{seed}-c{customers}-d{docs}-m{mult}-{_generator_hash()}"
    out = os.path.join(CACHE, key)
    if os.path.exists(os.path.join(out, "_done")):
        return os.path.join(out, "data"), 0.0
    t0 = time.perf_counter()
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    base = os.path.join(tmp, "base")
    base_tables(base, seed, customers, docs)
    data = os.path.join(tmp, "data")
    subprocess.run(
        [sys.executable, MAKE_SF, data, "--base", base,
         "--mult", str(mult), "--seed", str(seed)],
        check=True, stdout=subprocess.DEVNULL, cwd=ROOT)
    open(os.path.join(tmp, "_done"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return os.path.join(out, "data"), time.perf_counter() - t0
