"""Seeded inputs for the benchmark.

Two generators, both pure functions of their arguments:

- `write_tables` writes the ten star/corpus tables the registered queries
  read (region nation customer supplier part orders lineitem events
  documents embeddings), one parquet file each, with the same schema and
  value domains as the engine's test data. Row counts scale with ``sf``
  (sf0.1: 600k lineitem rows, 5000 documents, 2000 embeddings).
- `stage_stream` turns the ``documents`` table into a longer,
  id-ordered arrival stream and stages it as small batch files: the
  stream the incremental MinHash ingest drains.

Neither reads anything but its own arguments, so the same seed gives
byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EMBED_DIM = 64

# Stream shape: every source row arrives STREAM_COPIES times (copy 0
# verbatim, later copies as token-prefix variants), plus a fixed share
# of injected near-duplicates of earlier rows.
STREAM_COPIES = 2
STREAM_DUP_RATE = 0.10
STREAM_SOURCE_SHARE = 0.1
# Three batches, sized 1:3:8. The first lands as each store's base;
# the size-tiered compaction rule (fold the deltas when their bytes
# reach the base's) then compacts both stores (the band index and its
# id sidecar) after the second and after the third batch. Measured
# deltas-to-base byte ratios at those decisions are 1.25-3.2 across
# seeds, never near the tie at 1 whose outcome the seed's bytes would
# flip. The stores end at about twelve times the first batch.
BATCH_SHARES = (1, 3, 8)

def _days(start: str, n: int, rng: np.random.Generator, span_days: int):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n)).astype("datetime64[us]")


def _choice(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Random texts over a 30-word vocabulary; 5% are near-copies
    (an earlier text's token prefix plus a ``dup`` marker) so the
    dedup operators find pairs."""
    vocab = np.asarray(VOCAB, dtype=object)
    lens = rng.integers(10, 101, n)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))].split()
            cut = max(5, int(len(src) * rng.uniform(0.8, 1.0)))
            texts.append(" ".join(src[:cut] + ["dup"]))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), lens[i])]))
    return texts


def _unit_rows(rng: np.random.Generator, n: int) -> np.ndarray:
    a = rng.standard_normal((n, EMBED_DIM))
    return (a / np.linalg.norm(a, axis=1, keepdims=True)).astype(np.float32)


def _embedding_array(a: np.ndarray) -> pa.Array:
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, a.size + 1, EMBED_DIM, dtype=np.int32)),
        pa.array(a.reshape(-1)),
    )


def make_tables(sf: float, seed: int = 42) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _choice(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _choice(rng, PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _choice(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days("1995-01-01", n_ord, rng, 2405),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": _choice(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _choice(rng, ("F", "O"), n_li),
        "l_shipdate": _days("1995-01-02", n_li, rng, 2499),
    })
    gaps = rng.exponential(26.0, n_ev)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps * 1e6).astype(
        "timedelta64[us]"
    )
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": _choice(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    texts = _doc_texts(rng, n_doc)
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _choice(rng, LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": _embedding_array(_unit_rows(rng, n_emb)),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return t


def _write_dir(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Write into a sibling temp dir, then rename: a crashed write never
    leaves a half-filled directory that looks complete."""
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out_dir)


def write_tables(out_dir: str, sf: float, seed: int = 42) -> str:
    """Write the tables once; an existing directory is reused as is."""
    if not os.path.isdir(out_dir):
        _write_dir(make_tables(sf, seed), out_dir)
    return out_dir


def make_stream(documents: pa.Table, seed: int) -> tuple[pa.Table, dict]:
    """Structure-preserving multiplication of the corpus into an
    arrival stream. Copy c of document i gets id ``c * n + i`` and the
    first ``1 - c/8`` share of its tokens, so copies are not trivially
    identical. Then STREAM_DUP_RATE of the rows are replaced by
    near-duplicates of an earlier row (a prefix of the source's tokens
    plus a marker), chosen by ``seed``. Ids stay in arrival order."""
    rng = np.random.default_rng(seed)
    doc_ids = documents.column("doc_id").to_numpy()
    texts = documents.column("text").to_pylist()
    n_doc = len(texts)
    out_ids, out_text = [], []
    for c in range(STREAM_COPIES):
        for i in range(n_doc):
            toks = texts[i].split()
            keep = max(5, int(round(len(toks) * (1 - c / 8))))
            out_ids.append(int(c * n_doc + doc_ids[i]))
            out_text.append(" ".join(toks[:keep]))
    n = len(out_text)
    n_dups = int(STREAM_DUP_RATE * n)
    dup_rows = np.sort(rng.choice(np.arange(n // 10, n), n_dups, replace=False))
    for r in dup_rows:
        src = out_text[int(rng.integers(0, r))].split()
        out_text[r] = " ".join(src[: max(5, int(len(src) * 0.9))] + ["copy"])
    docs = pa.table({"doc_id": pa.array(out_ids, pa.int64()), "text": out_text})
    return docs, {"docs": docs.num_rows, "injected_doc_dups": n_dups,
                  "dup_rate": STREAM_DUP_RATE}


def stage_batches(table: pa.Table, out_dir: str, shares=(1,)) -> int:
    """Write ``table`` as consecutive parquet files sized in proportion
    to ``shares``, with strictly increasing mtimes: the file source
    orders a stream by modification time, and the ingests'
    keep-first-by-id contract needs arrival order = id order. Returns
    the number of files."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.rint(np.cumsum((0,) + tuple(shares)) / sum(shares) * table.num_rows)
    for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:]), 1):
        path = os.path.join(out_dir, f"batch{i:05d}.parquet")
        pq.write_table(table.slice(int(lo), int(hi - lo)), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return len(shares)


def stage_stream(sf_dir: str, out_dir: str, seed: int) -> dict:
    """Stage the seeded document stream, made from the first
    STREAM_SOURCE_SHARE of the documents, under ``out_dir``: ``docs/``
    holds one file per BATCH_SHARES entry, ``docs.parquet`` the whole
    stream (the oracle's input). Returns the stream's sizes."""
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    docs, info = make_stream(docs.slice(0, int(docs.num_rows * STREAM_SOURCE_SHARE)), seed)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "docs.parquet"))
    info["batches"] = stage_batches(docs, os.path.join(out_dir, "docs"), BATCH_SHARES)
    return info
