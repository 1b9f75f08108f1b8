"""Within-JVM A/B for the r10 dedup_minhash bench flag (+38-42%).

The r10 round changed two things on the bench path: band-bucket values
went from 32-bit hash() to xxhash64 (corpus-scale bucket headroom, by
design), and dedup.fanout() was added inside minhash_lsh_pairs — which
on the BENCH path double-repartitions (q_dedup_minhash_bench already
repartitions to cores/2, the swept-best width; fanout then sees
16 < 32 and repartitions AGAIN to 32). The driver's compare could not
split those from the instance's 12-15% clock drift. This script runs
every variant in ONE warm JVM over the same cached input, interleaved
round-robin so slow drift hits all variants equally.

Variants (bands config fixed at num_perm=64, bands=16, k=3, t=0.5 —
the exact bench row config):
  bench_today   repartition(16) + fanout(->32) + xxhash64 bands
  noouter       fanout(->32) only            + xxhash64 bands
  nofanout      repartition(16), fanout off  + xxhash64 bands
  r9_shape      repartition(16), fanout off  + 32-bit hash() bands
  hash32_fanout fanout(->32) only            + 32-bit hash() bands

Usage: python scripts/minhash_ab.py [sf_dir]  — prints one JSON line;
record the adjudication in SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
REPS = 5


def _band_buckets_hash32(sig, *, num_perm, bands):
    """The pre-r10 band bucketer: Spark's 32-bit murmur hash() per band
    slice (cast to long so downstream schemas match) — resurrected here
    only to price the xxhash64 switch; production keeps xxhash64 (a
    saturated 32-bit key range manufactures candidates at corpus
    scale)."""
    from pyspark.sql import functions as F

    rows_per_band = num_perm // bands
    band_exprs = ", ".join(
        f"cast(hash(slice(__sig, {b * rows_per_band + 1},"
        f" {rows_per_band}), {b}) as bigint)"
        for b in range(bands)
    )
    return sig.select(
        "__id", F.expr(f"explode(array({band_exprs}))").alias("__bucket"))


def main():
    from rayforce_spark.datapipe import dedup as dd
    from rayforce_spark.session import get_spark

    spark = get_spark("minhash_ab")
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text").cache()
    docs.count()
    par = spark.sparkContext.defaultParallelism
    half = max(2, par // 2)

    orig_bands = dd._band_buckets
    orig_fanout = dd.fanout

    def build(outer, use_fanout, bands32):
        # restore in finally: an exception mid-build must not leave the
        # dedup module globally patched for the rest of the process
        # (r11 ADVICE)
        dd._band_buckets = _band_buckets_hash32 if bands32 else orig_bands
        dd.fanout = orig_fanout if use_fanout else (lambda df: df)
        try:
            d = docs if outer is None else docs.repartition(outer)
            return dd.minhash_lsh_pairs(
                d, "text", "doc_id", num_perm=64, bands=16, shingle_k=3,
                threshold=0.5)
        finally:
            dd._band_buckets = orig_bands
            dd.fanout = orig_fanout

    variants = {
        "bench_today": (half, True, False),
        "noouter": (None, True, False),
        "nofanout": (half, False, False),
        "r9_shape": (half, False, True),
        "hash32_fanout": (None, True, True),
    }

    def run_once(cfg):
        t0 = time.perf_counter()
        build(*cfg).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 4)

    for cfg in variants.values():  # warmup (plan + JIT)
        run_once(cfg)
    reps: dict[str, list[float]] = {k: [] for k in variants}
    for _ in range(REPS):  # interleaved: drift hits all variants alike
        for name, cfg in variants.items():
            reps[name].append(run_once(cfg))

    # sanity: every variant must emit the identical verified pair set
    counts = {name: build(*cfg).count() for name, cfg in variants.items()}
    assert len(set(counts.values())) == 1, counts

    print(json.dumps({
        "sf_dir": SF, "pairs": counts["bench_today"],
        "min": {k: min(v) for k, v in reps.items()},
        "reps": reps,
        "loadavg_1m": round(os.getloadavg()[0], 2),
    }))


if __name__ == "__main__":
    main()
