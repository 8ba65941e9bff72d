"""Seeded input generation for every workload.

* ``make_tables`` writes the ten contract tables (region ... embeddings)
  with the column types and value shapes of the sf0.1 fixture the contract
  queries are written against: uniform keys and categories, a 30-word
  vocabulary with 5 % near-duplicate documents, unit-norm 64-d float
  embeddings. Row counts scale linearly with ``sf``.
* ``make_upload_tree`` writes the upload source tree.

Everything is a pure function of its seed, so a run is reproducible from
its ``--seed`` alone.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "red", "green", "black", "white", "small", "large", "steel"]
NOUNS = ["anvil", "widget", "ring", "gear", "bolt", "valve", "spring", "lever"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    n_words = rng.integers(10, 101, n)
    texts = [" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)) for k in n_words]
    # 5 % near-duplicates: an earlier document's text with a marker word
    # appended; a few pairs share the same source, so exact duplicates exist
    dup_ids = rng.choice(np.arange(n // 10, n), n // 20, replace=False)
    for j, i in enumerate(sorted(dup_ids)):
        texts[i] = texts[int(rng.integers(0, n // 10))] + " dup"
        if j % 30 == 0 and j:
            texts[i] = texts[int(sorted(dup_ids)[j - 1])]
    lang = np.array(LANGS)[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def make_tables(out_dir: str, sf: float = 0.1, seed: int = 42) -> None:
    """Write the ten contract tables for scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)], pa.string())})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99))})
    names = [f"{c} {n}" for c in COLORS for n in NOUNS]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(np.array(names)[rng.integers(0, len(names), n_part)], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, n_part)], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0)})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)], pa.string()),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0)),
        "o_orderdate": pa.array(_days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1))),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)], pa.string())})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n_li, 900.0, 105000.0)),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_li), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_li), 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)], pa.string()),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)], pa.string()),
        "l_shipdate": pa.array(_days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)))})
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, int(15_000 * sf), n_ev), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)], pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string())})
    _write(out_dir, "documents", _documents(rng, n_doc))
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


def _write_file(path: str, data: bytes) -> None:
    with open(path, "wb") as fh:
        fh.write(data)


def make_upload_tree(root: str, n_small: int, n_big: int, seed: int) -> list[str]:
    """``n_small`` sub-KB files over 96 leaf directories plus ``n_big``
    files of 0.5-1.5 MB. Every big file and half the small ones live under
    ``held/`` — the part the set-up run fails permanently — and the other
    small files under ``open/``. Returns the paths."""
    # the seed places and names the files; the size mix and the number of
    # retried files are the same for every seed, so every seed does the
    # same amount of work
    rng = np.random.default_rng(seed)
    sizes = rng.permutation(np.linspace(16, 1023, n_small).astype(int))
    payload = rng.bytes(int(sizes.sum()))
    # 1 % of files carry a marker the upload store fails once (_t1) or
    # twice (_t2) before accepting, so every pass exercises the retry loop
    n_mark = n_small // 200
    marks = rng.permutation(["_t1"] * n_mark + ["_t2"] * n_mark + [""] * (n_small - 2 * n_mark))
    paths, off = [], 0
    for i in range(n_small):
        half = "held" if i % 2 else "open"
        d = os.path.join(root, half, f"g{i % 8}", f"d{(i // 2) % 12:02d}")
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, f"f{i:06d}{marks[i]}.bin")
        _write_file(p, payload[off:off + sizes[i]])
        off += sizes[i]
        paths.append(p)
    big = rng.permutation((np.linspace(0.5, 1.5, n_big) * 2**20).astype(int))
    block = rng.bytes(int(big.max(initial=0)) + 4096)
    for i in range(n_big):
        d = os.path.join(root, "held", "big", f"b{i % 4}")
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, f"m{i:04d}.bin")
        start = int(rng.integers(0, 4096))
        _write_file(p, block[start:start + big[i]])
        paths.append(p)
    return paths
