"""MEASURED data movement per gate query — not plan shapes, bytes.

explain_audit.py asserts plan properties (exchange counts, no
cartesian); this script runs the shuffle-heavy gate queries at sf0.1
and reports the ACTUAL shuffle read/write bytes, spill, and peak task
count from Spark's status REST API (stage-metric deltas around each
query). The point for the 100 TB story: a query whose shuffle volume
is a small multiple of its input selectivity scales with the data; one
that shuffles a blown-up intermediate does not — this catches the
second kind even when the plan LOOKS right.

Usage: python scripts/shuffle_audit.py [sf_dir] [query ...]
Writes one JSON line per query and a summary table to stdout.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
ONLY = set(sys.argv[2:])

# the shuffle-interesting subset (scan-only queries measure ~0 and are
# covered by the explain audit's zero-exchange assertions)
DEFAULT = [
    "groupby_manykeys", "tpch_q3ish", "inner_join", "left_join_dedup",
    "asof_join", "window_join", "sessionize", "moving_window",
    "dedup_exact", "dedup_minhash", "dedup_jaccard", "dedup_clusters",
    "dedup_embedding", "knn_recall", "ngram_bigrams", "sample_pipeline",
    "quality_filter",  # r7: window shuffle + eval-sized decontam legs
    "dsir_select",  # r8: single-pass twin-model scoring
    "sequence_packing",  # r9: shard shuffle + slim greedy-pack join-back
]


def _stages(url: str, app: str) -> dict[int, dict]:
    with urllib.request.urlopen(
            f"{url}/api/v1/applications/{app}/stages?status=COMPLETE") as r:
        return {s["stageId"]: s for s in json.load(r)}


def main() -> int:
    # get_spark disables the UI for the gate/bench hot paths; the UI is
    # the REST metrics source, so pre-create the JVM with it enabled —
    # get_spark's later getOrCreate joins this session (static confs like
    # ui.enabled/master/memory only apply at JVM start; get_spark's
    # functional confs are runtime SQL confs and apply normally)
    from pyspark.sql import SparkSession

    from rayforce_spark.session import get_spark, host_cpus, host_driver_mem

    (SparkSession.builder
     .master(f"local[{host_cpus()}]")
     .config("spark.ui.enabled", "true")
     .config("spark.driver.memory", host_driver_mem())
     .getOrCreate())
    spark = get_spark("shuffle_audit")
    url = spark.sparkContext.uiWebUrl
    if url is None:
        print("spark UI unavailable; cannot measure", file=sys.stderr)
        return 2
    app = spark.sparkContext.applicationId

    import __spark_entry__ as E

    # warm the Python worker pool + Arrow serde once before measuring:
    # the session's FIRST pandas_udf job pays ~10-15 s of worker spinup
    # that would otherwise land on whichever audited query happens to
    # run one first (same rationale as bench.py's JIT warmup; shuffle
    # BYTES are unaffected either way)
    import pandas as _pd
    from pyspark.sql import functions as F

    _noop = F.pandas_udf(lambda s: s, "long")
    spark.range(32).select(_noop("id")).count()

    qs = E.queries()
    names = [n for n in (ONLY or DEFAULT) if n in qs]
    rows = []
    for name in names:
        before = _stages(url, app)
        t0 = time.time()
        df = qs[name](spark, SF)
        df.write.format("noop").mode("overwrite").save()
        secs = time.time() - t0
        time.sleep(0.5)  # let the status store settle
        after = _stages(url, app)
        new = [s for sid, s in after.items() if sid not in before]
        m = {
            "query": name,
            "secs": round(secs, 2),
            "stages": len(new),
            "shuffle_write_mb": round(sum(
                s.get("shuffleWriteBytes", 0) for s in new) / 1e6, 2),
            "shuffle_read_mb": round(sum(
                s.get("shuffleReadBytes", 0) for s in new) / 1e6, 2),
            "spill_mb": round(sum(
                s.get("diskBytesSpilled", 0) for s in new) / 1e6, 2),
            "input_mb": round(sum(
                s.get("inputBytes", 0) for s in new) / 1e6, 2),
        }
        rows.append(m)
        print(json.dumps(m))
    print(f"\n{'query':24} {'secs':>6} {'input':>9} {'shufW':>9} "
          f"{'shufR':>9} {'spill':>7}")
    for m in rows:
        print(f"{m['query']:24} {m['secs']:>6} {m['input_mb']:>8}M "
              f"{m['shuffle_write_mb']:>8}M {m['shuffle_read_mb']:>8}M "
              f"{m['spill_mb']:>6}M")
    return 0


if __name__ == "__main__":
    sys.exit(main())
