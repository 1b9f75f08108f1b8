"""Seeded inputs for the benchmark workloads.

Every input is a pure function of ``--seed`` (and the size knob the
self-tests shrink):

- here: the ten star-schema tables the query registry reads, shaped
  like the repository's sf0.1 test fixture (same schemas, row counts and value
  domains), and the corpus_ingest stream: documents plus planted
  near-duplicate variants, split into micro-batches;
- in the workload modules: the query_mix order and the Rayfall request
  parameters of rayfall_ipc.

The program under test only ever sees the generated parquet files and
request strings.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts of the test fixture (TESTDATA.md)
ROWS = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000,
    "orders": 150_000, "lineitem": 600_000, "events": 100_000,
    "documents": 5_000, "embeddings": 2_000,
}
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15),
         ("de", 0.14))
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
P_ADJ = ("large", "hot", "blue", "old", "red", "small", "new", "cold")
P_NOUN = ("ring", "bolt", "plate", "gear", "widget", "gizmo", "anvil", "rod")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _rows(name: str, scale: float) -> int:
    return max(10, int(ROWS[name] * scale))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _choice(rng, values, n, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _doc_text(rng, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def documents(rng, n: int) -> pa.Table:
    """The corpus table: uniform words from the fixture's 30-word
    vocabulary, 10-100 words a doc; 5% of docs are one-word-insertion
    variants of an earlier doc and 8 are exact copies, so the dedup
    queries have work to find."""
    texts = [_doc_text(rng, int(k)) for k in rng.integers(10, 101, n)]
    for i in rng.choice(np.arange(n // 2, n), n // 20, replace=False):
        words = texts[int(rng.integers(0, n // 2))].split()
        words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        texts[i] = " ".join(words)
    for i in rng.choice(np.arange(n // 2, n), min(8, n // 4), replace=False):
        texts[i] = texts[int(rng.integers(0, n // 2))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": _choice(rng, [l for l, _ in LANGS], n,
                        p=[w for _, w in LANGS]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """The ten fixture tables at ``scale`` x sf0.1 (every table draws
    from one stream, so a table's rows do not depend on which others a
    workload writes)."""
    rng = np.random.default_rng([seed, 1])
    n = {k: _rows(k, scale) for k in ROWS}
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}),
    }
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": _choice(rng, SEGMENTS, c),
    })
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, p), rng.integers(0, 8, p))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
        "p_type": _choice(rng, P_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 1),
    })
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": _choice(rng, ("F", "O", "P"), o),
        "o_totalprice": _money(rng, 1000, 500_000, o),
        "o_orderdate": _dates(rng, "1995-01-01", "2001-08-01", o),
        "o_orderpriority": _choice(rng, PRIORITIES, o),
    })
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _choice(rng, ("A", "N", "R"), li),
        "l_linestatus": _choice(rng, ("F", "O"), li),
        "l_shipdate": _dates(rng, "1995-01-02", "2001-11-04", li),
    })
    e = n["events"]
    # strictly increasing microsecond stamps over 30 days (the fixture's
    # ts is unique and sorted by event_id)
    gaps = rng.integers(1, 2 * 30 * 86_400_000_000 // e, e)
    ts = np.datetime64("2024-01-01", "us").astype(np.int64) + np.cumsum(gaps)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, e * 15 // 1000), e),
                            pa.int64()),
        "event_type": _choice(rng, EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    })
    out["documents"] = documents(rng, n["documents"])
    m = n["embeddings"]
    vec = rng.standard_normal((m, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32()),
    })
    return out


def write_tables(tabs: dict[str, pa.Table], sf_dir: str) -> None:
    """Write one parquet file per table, one row group each, like the
    fixture."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, t in tabs.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))


# ---------------------------------------------------------------------------
# corpus_ingest: the day-2 stream
# ---------------------------------------------------------------------------

VARIANT_ID0 = 1_000_000


@dataclass
class Stream:
    index_docs: list[tuple[int, str]]          # pre-built index corpus
    batches: list[list[tuple[int, str]]]       # micro-batches, in order
    planted: list[tuple[int, int]] = field(default_factory=list)  # (src, variant)


def _variant(rng, text: str) -> str:
    """One-word substitution: for the >= 40-word docs that get variants,
    at most 3 of >= 38 shingles change, so Jaccard stays >= 0.85."""
    words = text.split()
    i = int(rng.integers(0, len(words)))
    words[i] = "dup" if words[i] != "dup" else "agg"
    return " ".join(words)


def ingest_stream(seed: int, docs: pa.Table, *, index_docs: int,
                  batch_docs: int, variants_per_batch: int) -> Stream:
    """Split the corpus into an index part and a seeded batch order, and
    plant ``variants_per_batch`` near-duplicates per batch: a third
    against the index, a third against earlier batches and a third
    inside the batch itself (the three pair sources the ingest callable
    must find)."""
    rng = np.random.default_rng([seed, 2])
    ids = docs.column("doc_id").to_pylist()
    texts = docs.column("text").to_pylist()
    order = rng.permutation(len(ids))
    corpus = [(ids[i], texts[i]) for i in order]
    idx, rest = corpus[:index_docs], corpus[index_docs:]
    long_enough = lambda d: len(d[1].split()) >= 40  # noqa: E731
    seen = [d for d in idx if long_enough(d)]
    batches, planted, vid = [], [], VARIANT_ID0
    for b in range(len(rest) // batch_docs):
        base = rest[b * batch_docs:(b + 1) * batch_docs]
        own = [d for d in base if long_enough(d)]
        extra = []
        for k in range(variants_per_batch):
            pool = (own if k % 3 == 2 else seen) or own or seen
            src = pool[int(rng.integers(0, len(pool)))]
            extra.append((vid, _variant(rng, src[1])))
            planted.append((src[0], vid))
            vid += 1
        batch = base + extra
        batches.append([batch[i] for i in rng.permutation(len(batch))])
        seen.extend(own)
    return Stream(idx, batches, planted)


def write_docs(rows: list[tuple[int, str]], path: str) -> None:
    pq.write_table(pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows]),
    }), path)
