"""corpus_ingest: day-2 ingestion into a persisted MinHash index.

Why it exists: it is the write path. Each op is one call of the
``stream_minhash_index_ingest`` foreachBatch callable on the next
micro-batch (no trigger clock): probe against the on-disk index,
intra-batch pairs, the pairs parquet write, the index extend and the
commit marker, with periodic compaction. Reads of a growing on-disk
index sit beside parquet writes, and the compaction batches are the
latency tail.
"""

from __future__ import annotations

import os

import numpy as np

import datagen

THRESHOLD = 0.7
COMPACT_EVERY = 4
BATCH_DOCS = 100
VARIANTS_PER_BATCH = 6
WARM_BATCHES = 2


def shingles(text: str, k: int = 3) -> set[tuple[str, ...]]:
    """The program's shingle set, in Python: lower-cased whitespace
    tokens, distinct k-word windows (none for docs shorter than k)."""
    words = text.strip().lower().split()
    return {tuple(words[i:i + k]) for i in range(len(words) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0


def _du(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


class CorpusIngest:
    name = "corpus_ingest"

    def __init__(self, *, seed, scale, work, tracer, corrupt):
        self.seed, self.scale, self.work = seed, scale, work
        self.tracer, self.corrupt = tracer, corrupt
        self.spark = None
        rng = np.random.default_rng([seed, 30])
        docs = datagen.documents(rng, datagen._rows("documents", scale))
        n_index = docs.num_rows // 5
        self.stream = datagen.ingest_stream(
            seed, docs, index_docs=n_index,
            # at least a dozen batches however small the corpus
            batch_docs=min(BATCH_DOCS, max(5, (docs.num_rows - n_index) // 12)),
            variants_per_batch=VARIANTS_PER_BATCH)
        self.text = dict(self.stream.index_docs)
        for b in self.stream.batches:
            self.text.update(b)

    def install_trace(self) -> None:
        from pyspark.sql import DataFrameWriter
        # the concrete (classic) class: it overrides what it runs
        from pyspark.sql.classic.dataframe import DataFrame

        from rayforce_spark.datapipe import dedup

        t = self.tracer
        # the ingest callable binds these names when it is built
        for fn in ("minhash_index_pairs", "minhash_lsh_pairs",
                   "_read_minhash_meta"):
            t.wrap(dedup, fn, "datapipe.probe_build", parent="op")
        t.wrap(dedup, "extend_minhash_index", "datapipe.extend", parent="op")
        t.wrap(dedup, "compact_minhash_index", "datapipe.compact",
               parent="op")
        t.wrap(DataFrame, "localCheckpoint", "streaming.checkpoint",
               parent="op")
        t.wrap(DataFrameWriter, "parquet", "datapipe.pairs_write",
               parent="op")

    def prepare(self, rep: int) -> None:
        from rayforce_spark.datapipe.dedup import set_minhash_index
        from rayforce_spark.streaming.ops import stream_minhash_index_ingest

        base = os.path.join(self.work, f"ingest-{rep}")
        os.makedirs(os.path.join(base, "in"))
        self.idx = os.path.join(base, "index")
        self.pairs = os.path.join(base, "pairs")
        seed_path = os.path.join(base, "in", "index_docs.parquet")
        datagen.write_docs(self.stream.index_docs, seed_path)
        self.batch_paths = []
        for b, rows in enumerate(self.stream.batches):
            p = os.path.join(base, "in", f"batch-{b:04d}.parquet")
            datagen.write_docs(rows, p)
            self.batch_paths.append(p)
        set_minhash_index(self.spark.read.parquet(seed_path), self.idx,
                          "text", "doc_id")
        self.ingest = stream_minhash_index_ingest(
            self.idx, self.pairs, "text", "doc_id", threshold=THRESHOLD,
            compact_every=COMPACT_EVERY)

    def _batch(self, b: int) -> None:
        self.ingest(self.spark.read.parquet(self.batch_paths[b]), b)

    def warm(self) -> None:
        for b in range(WARM_BATCHES):
            self._batch(b)
        self.store0 = _du(self.idx)[1] + _du(self.pairs)[1]

    min_ops = COMPACT_EVERY

    def has_op(self, i: int) -> bool:
        return WARM_BATCHES + i < len(self.batch_paths)

    def round_done(self, i: int) -> bool:
        return i % COMPACT_EVERY == 0   # whole compaction cycles

    def traced_op(self, i: int) -> bool:
        return (i // COMPACT_EVERY) % 2 == 1

    def op(self, i: int) -> None:
        self._batch(WARM_BATCHES + i)

    def check(self, n_ops: int):
        """Every emitted pair has exact Jaccard >= the threshold, every
        planted near-duplicate of an ingested batch is found, and the
        index holds one shingle row per ingested doc."""
        done = WARM_BATCHES + n_ops
        self.n_ops = n_ops
        self.ingested = [t for _, t in self.stream.index_docs] + [
            t for rows in self.stream.batches[:done] for _, t in rows]
        got = self.spark.read.parquet(self.pairs).select(
            "id_a", "id_b", "batch").collect()
        pairs = {(r.id_a, r.id_b): r.batch for r in got}
        if self.corrupt:
            a, b = self.stream.batches[WARM_BATCHES][:2]
            pairs[(min(a[0], b[0]), max(a[0], b[0]))] = WARM_BATCHES
        bad_batches = {b for (x, y), b in pairs.items()
                       if jaccard(self.text[x], self.text[y]) < THRESHOLD - 1e-9}
        batch_of = {d: b for b, rows in enumerate(self.stream.batches)
                    for d, _ in rows}
        missing = 0
        for src, var in self.stream.planted:
            b = batch_of[var]
            if b < done and (min(src, var), max(src, var)) not in pairs:
                bad_batches.add(b)
                missing += 1
        n_docs = len(self.ingested)
        idx_rows = self.spark.read.parquet(f"{self.idx}/shingles").count()
        self.n_pairs = sum(1 for b in pairs.values() if b >= WARM_BATCHES)
        bad = {b - WARM_BATCHES for b in bad_batches if b >= WARM_BATCHES}
        if idx_rows != n_docs:
            bad = set(range(n_ops))
        return bad, {"pairs": len(pairs), "planted_missing": missing,
                     "index_rows": idx_rows, "docs_ingested": n_docs}

    def layer_metrics(self, per: dict, counts: dict, n_tr: int,
                      jobs_self: dict) -> dict:
        n = self.n_ops
        files, idx_bytes = _du(self.idx)
        stored = idx_bytes + _du(self.pairs)[1]
        text_bytes = sum(len(t.encode()) for t in self.ingested)
        return {
            "streaming.checkpoint_s": (per.get("streaming.checkpoint", 0.0),
                                       "s/op"),
            "datapipe.probe_build_s": (per.get("datapipe.probe_build", 0.0),
                                       "s/op"),
            "datapipe.pairs_write_s": (per.get("datapipe.pairs_write", 0.0),
                                       "s/op"),
            "datapipe.extend_s": (per.get("datapipe.extend", 0.0), "s/op"),
            "datapipe.compact_s": (per.get("datapipe.compact", 0.0), "s/op"),
            "datapipe.pairs": (self.n_pairs / n, "count/op"),
            "sources.index_files": (files, "count"),
            "sources.bytes_written": ((stored - self.store0) / n, "B/op"),
            "store_bytes_per_input_byte": (stored / text_bytes, "B/B"),
        }

    def close(self) -> None:
        pass
