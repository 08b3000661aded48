"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow only: the generators never import the
engine, so the engine under test receives nothing but the files written
here. Each generator is a pure function of (seed, size); the files it
writes are byte-identical for the same arguments (``selftest.py`` checks
this). ``cached`` keys a directory by generator, seed and size, so
generation happens once per checkout and is never inside a timed window.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the fixture vocabulary: the 30 words of the engine's documents table
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

EVENT_TYPES = ("click", "view", "purchase", "error", "signup")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_WORDS = ("large", "hot", "small", "green", "red", "ring", "bolt", "nut", "gear", "plate")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
LANGS = ("en", "de", "es", "fr", "zh")

_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def cached(root: str, kind: str, seed: int, size: int, build) -> str:
    """Return ``root/<kind>-s<seed>-n<size>``, building it with
    ``build(tmp_dir, seed, size)`` when absent. The build writes into a
    scratch name and renames, so an interrupted build is never reused."""
    final = os.path.join(root, f"{kind}-s{seed}-n{size}")
    if os.path.isdir(final):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp, seed, size)
    os.replace(tmp, final)
    return final


def digest(path: str) -> str:
    """sha256 over every file under ``path`` (relative name + bytes)."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(path):
        dirnames.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# -- sql_mix: TPC-H-shaped star schema ---------------------------------------

def build_tpch(out: str, seed: int, milli_sf: int) -> None:
    """The engine fixture's star schema (same tables, columns and types)
    at scale factor ``milli_sf / 1000``: 150k orders and 600k lineitems
    per unit of scale, keys dense from 0."""
    rng = np.random.default_rng(seed)
    sf = milli_sf / 1000
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    }), os.path.join(out, "region.parquet"))
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), os.path.join(out, "nation.parquet"))
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }), os.path.join(out, "customer.parquet"))
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), os.path.join(out, "supplier.parquet"))
    w = np.array(PART_WORDS)
    _write(pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": np.char.add(np.char.add(w[rng.integers(0, 5, n_part)], " "),
                              w[rng.integers(5, 10, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    }), os.path.join(out, "part.parquet"))

    day = 86_400_000_000
    start = _us(dt.datetime(1995, 1, 1))
    o_date = start + rng.integers(0, 2404, n_ord) * day  # to 2001-08-01
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 450_000, n_ord), 2),
        "o_orderdate": _ts(o_date),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }), os.path.join(out, "orders.parquet"))

    n_line = rng.integers(1, 8, n_ord)  # 1..7 lines, mean 4
    l_order = np.repeat(np.arange(n_ord, dtype="int64"), n_line)
    n = len(l_order)
    first = np.cumsum(n_line) - n_line
    l_num = (np.arange(n) - np.repeat(first, n_line) + 1).astype("int32")
    qty = rng.integers(1, 51, n).astype("float64")
    price = np.round(qty * rng.uniform(900, 2000, n), 2)
    ship = o_date[l_order] + rng.integers(1, 122, n) * day
    # the fixture keeps ~25% returned lines; linestatus follows the ship date
    flag = np.where(rng.random(n) < 0.25, np.array(("A", "R"))[rng.integers(0, 2, n)], "N")
    status = np.where(ship > _us(dt.datetime(1998, 6, 17)), "O", "F")
    _write(pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": l_num,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": flag,
        "l_linestatus": status,
        "l_shipdate": _ts(ship),
    }), os.path.join(out, "lineitem.parquet"))


# -- stream_backlog: event log split into time-ordered files ------------------

STREAM_T0 = _us(dt.datetime(2024, 1, 1))
STREAM_SPAN_US = 30 * 60_000_000  # each file covers 30 minutes of event time
STREAM_WINDOW = "10 minutes"
STREAM_DELAY = "5 minutes"
STREAM_JITTER_US = 4 * 60_000_000  # out-of-order, but inside the delay
STREAM_USERS = 500
LATE_PER_FILE = 2


def build_events(out: str, seed: int, size: int, n_files: int) -> None:
    """``events.parquet/`` as a directory of time-ordered files, one
    micro-batch each at maxFilesPerTrigger=1. Within a file event times
    run forward with jitter smaller than the watermark delay, so rows
    arrive out of order but never late. From file 2 on, each file also
    carries ``LATE_PER_FILE`` planted late rows: each falls in its own
    10-minute window at the start of the span two files earlier, so it is
    older than the watermark of the previous micro-batch (the one Spark
    applies to late input). ``late.parquet`` lists them.
    User ids are Zipf(1.1)-skewed; event ids and event times are unique.
    ``size`` events per file."""
    rng = np.random.default_rng(seed)
    per_file = size
    d = os.path.join(out, "events.parquet")
    os.makedirs(d)
    ranks = np.arange(1, STREAM_USERS + 1)
    p = 1.0 / ranks**1.1
    p /= p.sum()
    window_us = 10 * 60_000_000
    late_ids: list[int] = []
    next_id = 0
    for i in range(n_files):
        base = STREAM_T0 + i * STREAM_SPAN_US
        ts = base + np.sort(rng.integers(0, STREAM_SPAN_US, per_file))
        ts = ts - rng.integers(0, STREAM_JITTER_US, per_file)
        n_late = LATE_PER_FILE if i >= 2 else 0
        if n_late:
            span_start = STREAM_T0 + (i - 2) * STREAM_SPAN_US
            w0 = span_start + np.arange(n_late) * window_us
            ts = np.concatenate([ts, w0 + rng.integers(0, window_us, n_late)])
        n = len(ts)
        ids = np.arange(next_id, next_id + n, dtype="int64")
        next_id += n
        if n_late:
            late_ids.extend(ids[-n_late:].tolist())
        # unique event times: the microsecond field carries the event id
        ts = ts - ts % 1_000_000 + ids % 1_000_000
        order = rng.permutation(n)  # late rows land anywhere in the file
        _write(pa.table({
            "event_id": ids[order],
            "ts": _ts(ts[order]),
            "user_id": rng.choice(ranks, n, p=p).astype("int64"),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.uniform(0, 500, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }), os.path.join(d, f"part-{i:05d}.parquet"))
        # the file source orders files by modification time
        os.utime(os.path.join(d, f"part-{i:05d}.parquet"), (1_700_000_000 + i,) * 2)
    _write(pa.table({"event_id": pa.array(late_ids, pa.int64())}),
           os.path.join(out, "late.parquet"))


# -- curation: document corpus with planted near-duplicates -------------------

def build_documents(out: str, seed: int, size: int) -> None:
    """``documents.parquet`` with ``size`` docs drawn from the fixture
    vocabulary (20-120 tokens, always containing 'the' and 'a'). One in
    five documents is a near-duplicate of an earlier original, made by
    1-3 single-token substitutions; ``planted.parquet`` lists the
    (original, copy) pairs. Doc ids stay below 100000."""
    if size >= 100_000:
        raise ValueError("doc ids must stay below 100000")
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    pairs: list[tuple[int, int]] = []
    for doc_id in range(size):
        if doc_id >= 10 and rng.random() < 0.2:
            src = int(rng.integers(0, doc_id))
            toks = texts[src].split()
            for j in rng.choice(len(toks), int(rng.integers(1, 4)), replace=False):
                toks[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(toks))
            pairs.append((src, doc_id))
            continue
        toks = vocab[rng.integers(0, len(vocab), int(rng.integers(20, 121)))].tolist()
        toks[int(rng.integers(0, len(toks)))] = "the"
        toks[int(rng.integers(0, len(toks)))] = "a"
        texts.append(" ".join(toks))
    _write(pa.table({
        "doc_id": np.arange(size, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, size)],
        "source": [f"src{i % 20}" for i in range(size)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }), os.path.join(out, "documents.parquet"))
    _write(pa.table({
        "id_a": pa.array([a for a, _ in pairs], pa.int64()),
        "id_b": pa.array([b for _, b in pairs], pa.int64()),
    }), os.path.join(out, "planted.parquet"))
