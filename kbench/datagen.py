"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical files and the same document lists. The engine only ever
sees what these functions write; no fixture from outside the benchmark
directory is read.

- :func:`write_text_files` — line-framed payload files for
  ``ingest_backfill`` (mostly ~1 KiB lines plus a few lines over 1 MiB).
- :func:`documents` — the document corpus, one generator for both the
  ``query_mix`` ``documents`` table and the ``intake_drain`` waves
  (:func:`intake_wave`, put as :func:`doc_record` JSON).
- :func:`write_tables` — analytics tables with the FIXTURES.md schemas
  for ``query_mix``.
"""

from __future__ import annotations

import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The fixture corpus vocabulary (FIXTURES.md ``documents``): pure ASCII,
# single-space separated, so byte and character offsets agree and the
# whitespace tokenizer is ``str.split(" ")``.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
# Shape of the sf0.01 ``documents`` fixture (500 rows): languages
# en/fr/zh/de/es in 218/64/75/70/73 rows, ``source`` is src<doc_id % 20>,
# and 25 rows (5%) are an earlier text plus " dup".
LANGS = ("en", "fr", "zh", "de", "es")
LANG_P = (0.436, 0.128, 0.150, 0.140, 0.146)
N_SOURCES = 20
NEAR_DUP_P = 0.05
EXACT_DUP_EVERY = 12
EXACT_DUP_ID_BASE = 1_000_000_000

_LINE_ALPHABET = np.frombuffer(
    b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 .,;:-_",
    dtype=np.uint8,
)


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent generator per input family, so adding a table or a
    # wave never shifts the values of another
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


# --------------------------------------------------------------------------
# ingest_backfill: line-framed text files
# --------------------------------------------------------------------------


def write_text_files(
    out_dir: str,
    seed: int,
    n_files: int,
    lines_per_file: int,
    big_line_bytes: tuple[int, ...],
) -> list[str]:
    """Write ``n_files`` files of ``lines_per_file`` lines of 900-1148
    printable ASCII bytes (the reference bench payload is 1 KiB), plus
    one line of each size in ``big_line_bytes`` at a seeded place. No
    line is empty and none contains ``\\r``, so the text source frames
    exactly these lines. Returns the file paths."""
    rng = _rng(seed, "ingest_text")
    os.makedirs(out_dir, exist_ok=True)
    big_at: dict[int, list[int]] = {}
    for size in big_line_bytes:
        big_at.setdefault(int(rng.integers(0, n_files)), []).append(size)
    paths = []
    for f in range(n_files):
        lens = rng.integers(900, 1149, size=lines_per_file)
        flat = _LINE_ALPHABET[
            rng.integers(0, len(_LINE_ALPHABET), size=int(lens.sum()))
        ].tobytes()
        lines = []
        pos = 0
        for n in lens.tolist():
            lines.append(flat[pos : pos + n])
            pos += n
        for size in big_at.get(f, []):
            big = _LINE_ALPHABET[
                rng.integers(0, len(_LINE_ALPHABET), size=size)
            ].tobytes()
            lines.insert(int(rng.integers(0, len(lines) + 1)), big)
        path = os.path.join(out_dir, f"part-{f:04d}.txt")
        with open(path, "wb") as fh:
            fh.write(b"\n".join(lines) + b"\n")
        paths.append(path)
    return paths


# --------------------------------------------------------------------------
# documents: one generator for the query_mix table and the intake waves
# --------------------------------------------------------------------------


def _texts(rng: np.random.Generator, n: int, min_words: int, max_words: int) -> list[str]:
    lens = rng.integers(min_words, max_words + 1, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    out, pos = [], 0
    for k in lens.tolist():
        out.append(" ".join(VOCAB[w] for w in words[pos : pos + k]))
        pos += k
    return out


def documents(seed: int, n: int, block: int = 0) -> list[dict]:
    """Block ``block`` of the seeded document corpus: ``n`` documents
    with ids ``block * n`` to ``block * n + n - 1``, shaped like the
    sf0.01 ``documents`` fixture (10-99 words, its language shares,
    ``source`` cycling over 20 values, 5% near-duplicates that are an
    earlier text of the block plus the word ``dup``, no exact
    duplicates). Block 0 is the ``query_mix`` table; the intake waves
    are blocks 0, 1, 2, ... (see :func:`intake_wave`)."""
    rng = _rng(seed, f"documents_{block}")
    first = block * n
    texts = _texts(rng, n, 10, 99)
    for i in range(1, n):
        if rng.random() < NEAR_DUP_P:
            texts[i] = f"{texts[int(rng.integers(0, i))]} dup"
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    return [
        {
            "doc_id": first + i,
            "text": texts[i],
            "lang": LANGS[int(langs[i])],
            "source": f"src{(first + i) % N_SOURCES}",
        }
        for i in range(n)
    ]


def intake_wave(seed: int, wave: int, n: int) -> list[dict]:
    """Fresh intake wave ``wave``: block ``wave`` of :func:`documents`
    plus an exact copy of every 12th of its documents under a higher id
    (the rate ``tests/test_showcase_e2e.py`` injects: 10 copies per 120
    rows), which the content-hash rule must reject."""
    docs = documents(seed, n, block=wave)
    return docs + [
        {**d, "doc_id": EXACT_DUP_ID_BASE + d["doc_id"]} for d in docs[::EXACT_DUP_EVERY]
    ]


def doc_record(doc: dict) -> bytes:
    """The stream payload of one document (what a producer would put)."""
    return json.dumps(doc, sort_keys=True).encode()


# --------------------------------------------------------------------------
# query_mix: analytics tables (FIXTURES.md schemas)
# --------------------------------------------------------------------------

# row counts per unit of scale factor (TESTDATA.md: lineitem ~6M x sf)
_ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
_PART_ADJ = ("large", "hot", "blue", "old", "cold", "red", "small", "new")
_PART_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo")
_PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM")
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_DAY_US = 86_400 * 1_000_000


def _cents(rng, lo: int, hi: int, n: int) -> np.ndarray:
    # whole cents divided once: every value is the double nearest its
    # two-decimal literal, so DECIMAL(12,2) casts are exact
    return rng.integers(lo, hi + 1, size=n) / 100.0


def _days(rng, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, size=n)
    return pa.array(d * _DAY_US, type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, sf: float, n_docs: int, n_vecs: int) -> None:
    """Write all ten FIXTURES.md tables at scale factor ``sf`` (documents
    and embeddings sized separately, as in the fixtures)."""
    os.makedirs(out_dir, exist_ok=True)
    n = {t: max(1, int(r * sf)) for t, r in _ROWS_PER_SF.items()}

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    rng = _rng(seed, "customer")
    k = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(k), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, size=k), pa.int32()),
        "c_acctbal": _cents(rng, -99_999, 999_999, k),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, size=k)],
    })

    rng = _rng(seed, "supplier")
    k = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(k), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, size=k), pa.int32()),
        "s_acctbal": _cents(rng, -99_999, 999_999, k),
    })

    rng = _rng(seed, "part")
    k = n["part"]
    adj = rng.integers(0, len(_PART_ADJ), size=k)
    noun = rng.integers(0, len(_PART_NOUN), size=k)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(k), pa.int64()),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, size=k)],
        "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, size=k)],
        "p_size": pa.array(rng.integers(1, 51, size=k), pa.int32()),
        "p_retailprice": (90_000 + np.arange(k) % 1000 * 10) / 100.0,
    })

    rng = _rng(seed, "orders")
    k = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], size=k), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, size=k)],
        "o_totalprice": _cents(rng, 100_000, 50_000_000, k),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", k),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, size=k)],
    })

    rng = _rng(seed, "lineitem")
    k = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], size=k), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], size=k), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], size=k), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=k), pa.int32()),
        "l_quantity": rng.integers(1, 51, size=k).astype(np.float64),
        "l_extendedprice": _cents(rng, 90_000, 10_500_000, k),
        "l_discount": rng.integers(0, 11, size=k) / 100.0,
        "l_tax": rng.integers(0, 9, size=k) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, size=k)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, size=k)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", k),
    })

    rng = _rng(seed, "events")
    k = n["events"]
    span_us = 30 * _DAY_US
    ts = np.sort(rng.integers(0, span_us, size=k)) + np.int64(
        np.datetime64("2024-01-01", "us").astype(np.int64)
    )
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n["customer"] // 10), size=k), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, size=k)],
        "value": np.round(rng.exponential(50.0, size=k) * 100) / 100.0,
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, size=k)],
    })

    docs = documents(seed, n_docs)
    _write(out_dir, "documents", {
        "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
        "text": [d["text"] for d in docs],
        "lang": [d["lang"] for d in docs],
        "source": [d["source"] for d in docs],
        "n_chars": pa.array([len(d["text"]) for d in docs], pa.int64()),
    })

    rng = _rng(seed, "embeddings")
    centroids = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, size=n_vecs)
    vecs = centroids[labels] + rng.normal(scale=1.5, size=(n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
