"""Seeded input generation for the benchmark.

``write_tables`` writes the ten engine tables (TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``) as one parquet file each,
with the column names, types and value shapes the registry queries read.
``write_corpus`` writes the maple/juice word-count input and returns the
expected job output, counted while generating.

The same seed always gives byte-identical inputs.
"""

from __future__ import annotations

import collections
import os
import random
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.43, 0.14, 0.14, 0.14, 0.15]
_DOC_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    # whole cents, so sums stay exact in both engines
    return rng.integers(round(lo * 100), round(hi * 100), n) / 100.0


def _days(rng: np.random.Generator, start: np.datetime64, n_days: int, n: int):
    return start + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    vocab = np.array(_DOC_VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: a few words replaced
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 12)):
                words[j] = vocab[rng.integers(0, len(vocab))]
        else:
            words = list(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))])
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    centers = rng.standard_normal((10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n)
    v = 1.13 * centers[label] + rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(10, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(10, round(200_000 * sf)),
        "orders": max(10, round(1_500_000 * sf)),
        "lineitem": max(10, round(6_000_000 * sf)),
        "events": max(10, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten engine tables at scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string()),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    k = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(k), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -1000, 10000, k), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, k).tolist(), pa.string()),
    })
    k = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(k), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -1000, 10000, k), pa.float64()),
    })
    k = n["part"]
    names = [
        f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
        for a, b in zip(rng.integers(0, 8, k), rng.integers(0, 8, k))
    ]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(k), pa.int64()),
        "p_name": pa.array(names, pa.string()),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, k)], pa.string()),
        "p_type": pa.array(rng.choice(_PART_TYPES, k).tolist(), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
        "p_retailprice": pa.array(900 + (np.arange(k) % 1000) / 10.0, pa.float64()),
    })
    k = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], k).tolist(), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, k), pa.float64()),
        "o_orderdate": pa.array(_days(rng, _EPOCH_1995, 2404, k), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, k).tolist(), pa.string()),
    })
    k = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, k).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, k), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, k) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, k) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], k).tolist(), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], k).tolist(), pa.string()),
        "l_shipdate": pa.array(
            _days(rng, _EPOCH_1995 + np.timedelta64(1, "D"), 2499, k), pa.timestamp("us")
        ),
    })
    k = n["events"]
    gaps = rng.exponential(30 * _US_PER_DAY / k, k).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": pa.array(_EPOCH_2024 + np.cumsum(gaps).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, k * 3 // 200), k), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, k).tolist(), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, k), 2), pa.float64()),
        "props": pa.array([f'{{"k": {i}}}' for i in rng.integers(0, 100, k)], pa.string()),
    })
    _write(out_dir, "documents", _documents(rng, n["documents"]))
    _write(out_dir, "embeddings", _embeddings(rng, n["embeddings"]))


def _zipf_cum_weights(n: int, s: float = 1.1) -> list[float]:
    return list(np.cumsum(1.0 / np.arange(1, n + 1) ** s))


def write_corpus(
    path: str, seed: int, n_lines: int, vocab_size: int = 20_000
) -> collections.Counter:
    """Write a Zipf-distributed text corpus; return its word counts.

    Words are drawn from ``[a-z-]+`` tokens and separated by a space or by
    punctuation, so the reference tokenizer sees exactly the drawn words.
    """
    rnd = random.Random(seed)
    vocab = sorted({
        "".join(rnd.choices(string.ascii_lowercase, k=rnd.randint(2, 9)))
        + ("-x" if i % 17 == 0 else "")
        for i in range(vocab_size)
    })
    rnd.shuffle(vocab)
    lengths = [rnd.randint(3, 16) for _ in range(n_lines)]
    words = rnd.choices(vocab, cum_weights=_zipf_cum_weights(len(vocab)), k=sum(lengths))
    seps = rnd.choices([" ", " ", " ", " ", ", ", ". ", "; "], k=len(words))
    counts = collections.Counter(words)
    pos = 0
    with open(path, "w") as f:
        for n in lengths:
            parts = []
            for w, sep in zip(words[pos:pos + n], seps[pos:pos + n]):
                parts.append(w)
                parts.append(sep)
            pos += n
            f.write("".join(parts[:-1]) + "\n")
    return counts

