"""Seeded input generator for the benchmark.

Builds TPC-H-shaped ``lineitem`` / ``orders`` tables and a ``documents``
corpus with the same schemas as the repository's sf0.1 test tables, from a
seed alone.  ``lineitem`` and ``orders`` larger than sf0.1 are replicas of
an sf0.1-sized block; each replica gets a seeded key offset (so
``l_orderkey`` / ``o_orderkey`` stay unique per replica) and its own seeded
value draws.  The documents corpus carries seeded exact duplicates, near
duplicates (a few words changed), repeated boilerplate lines and
PII-shaped spans, so that the curation operators have real work.

Inputs are written as parquet under a cache directory and reused when the
same table, seed and size are asked for again.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when generated data changes, so cached inputs are rebuilt
FORMAT = 3

# sf0.1 base sizes (rows)
BASE_ROWS = {"lineitem": 600_000, "orders": 150_000}

VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
BOILERPLATE = np.array([
    "accept all cookies to continue",
    "copyright all rights reserved",
    "subscribe to our newsletter today",
    "share this page on social media",
])
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = np.array([0.41, 0.15, 0.14, 0.15, 0.15])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])

#: ``documents`` ids of day ``d`` start at ``d * DAY_ID_OFFSET``
DAY_ID_OFFSET = 10_000_000

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in microseconds


def _ts(rng: np.random.Generator, n: int, days: int) -> pa.Array:
    us = _EPOCH_1995 + rng.integers(0, days, n) * _DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def lineitem(seed: int, rows: int) -> pa.Table:
    """``rows`` lineitem rows, keys unique per replica block."""
    block = min(rows, BASE_ROWS["lineitem"])
    parts = []
    for copy, start in enumerate(range(0, rows, block)):
        n = min(block, rows - start)
        rng = np.random.default_rng([seed, 1, copy])
        offset = copy * 1_000_000 + int(rng.integers(0, 1000)) * 1_000_000_000
        order = rng.integers(0, block // 4, n) + offset
        parts.append(pa.table({
            "l_orderkey": pa.array(order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 20_000, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 1_000, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(
                np.round(rng.uniform(900.0, 105_000.0, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n)),
            "l_linestatus": pa.array(rng.choice(np.array(["O", "F"]), n)),
            "l_shipdate": _ts(rng, n, 2500),
        }))
    return pa.concat_tables(parts)


def orders(seed: int, rows: int) -> pa.Table:
    block = min(rows, BASE_ROWS["orders"])
    parts = []
    for copy, start in enumerate(range(0, rows, block)):
        n = min(block, rows - start)
        rng = np.random.default_rng([seed, 2, copy])
        offset = copy * block
        parts.append(pa.table({
            "o_orderkey": pa.array(np.arange(n) + offset, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, 15_000, n), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(np.array(["O", "F", "P"]), n)),
            "o_totalprice": pa.array(
                np.round(rng.uniform(1000.0, 500_000.0, n), 2)),
            "o_orderdate": _ts(rng, n, 2404),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
        }))
    return pa.concat_tables(parts)


def _doc_text(rng: np.random.Generator) -> str:
    words = rng.choice(VOCAB, int(rng.integers(10, 101)))
    if rng.random() < 0.05:
        words[int(rng.integers(0, len(words)))] = (
            f"user{int(rng.integers(0, 10**6))}@example.com")
    if rng.random() < 0.03:
        words[int(rng.integers(0, len(words)))] = (
            f"555-{int(rng.integers(100, 1000))}-{int(rng.integers(1000, 10000))}")
    lines = [" ".join(words)]
    if rng.random() < 0.3:
        lines.append(str(rng.choice(BOILERPLATE)))
    return "\n".join(lines)


def _near_dup(rng: np.random.Generator, text: str) -> str:
    words = text.split(" ")
    for _ in range(1 + len(words) // 40):
        words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
    return " ".join(words)


def documents(seed: int, rows: int, day: int = 1, prior: pa.Table | None = None
              ) -> pa.Table:
    """``rows`` documents.  About 5 % are exact copies and 8 % near copies of
    earlier documents in the same batch; with ``prior`` (yesterday's batch)
    another 10 % are near copies of a prior document, which the curation
    job's incremental signature filter should catch."""
    rng = np.random.default_rng([seed, 3, day])
    offset = day * DAY_ID_OFFSET
    prior_texts = prior.column("text").to_pylist() if prior is not None else []
    texts: list[str] = []
    for i in range(rows):
        r = rng.random()
        if i > 20 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 20 and r < 0.13:
            texts.append(_near_dup(rng, texts[int(rng.integers(0, i))]))
        elif prior_texts and r < 0.23:
            texts.append(_near_dup(rng, prior_texts[int(rng.integers(0, len(prior_texts)))]))
        else:
            texts.append(_doc_text(rng))
    return pa.table({
        "doc_id": pa.array(np.arange(rows) + offset, pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, rows, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(rows)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


class InputCache:
    """Parquet inputs under ``root``, keyed by table, seed and size.  Keeps
    the ``KEEP`` most recently used input sets and removes older ones, so
    disk use stays bounded across many seeds."""

    KEEP = 6

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def input_set(self, key: str, build) -> dict:
        """Directory ``root/key`` holding the tables ``build(dir)`` writes;
        built once per key.  Returns ``{table: {path, rows, bytes}}``."""
        d = os.path.join(self.root, key)
        done = os.path.join(d, "_DONE")
        if not os.path.exists(done):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
            build(d)
            open(done, "w").close()
        os.utime(done)
        self._prune(keep_key=key)
        out = {}
        for name in sorted(os.listdir(d)):
            if name.endswith(".parquet"):
                p = os.path.join(d, name)
                out[name[: -len(".parquet")]] = {
                    "path": p,
                    "rows": pq.ParquetFile(p).metadata.num_rows,
                    "bytes": os.path.getsize(p),
                }
        return out

    def _prune(self, keep_key: str) -> None:
        sets = []
        for k in os.listdir(self.root):
            done = os.path.join(self.root, k, "_DONE")
            if k != keep_key:
                mtime = os.path.getmtime(done) if os.path.exists(done) else 0.0
                sets.append((mtime, k))
        for _, k in sorted(sets, reverse=True)[self.KEEP - 1:]:
            shutil.rmtree(os.path.join(self.root, k), ignore_errors=True)


def write(table: pa.Table, path: str) -> None:
    """Parquet with 64 Ki-row groups, so a scan splits across cores the way
    a many-file warehouse table does."""
    pq.write_table(table, path, row_group_size=65_536)
