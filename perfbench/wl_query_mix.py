"""query_mix: an analyst running registry queries through their
contract ``fn(spark, sf_dir)``.

Why it exists: it is the read path of the engine with no IPC or serde
in the way. Every op resolves its tables through ``load_tables``,
builds the DataFrame through the operator layer and executes it into a
noop sink, so session loading, driver-side build and Spark execution
do most of the work. Tables are read from the sf0.1-sized parquet on
every op, uncached.
"""

from __future__ import annotations

import importlib.util
import os
import shutil

import numpy as np

import datagen

# registry queries for the operator families of bench.py's rows:
# high-cardinality group-by, TPC-H Q1, a multi-join, asof join, top-k
# and vector search. Left out so that set-up and two passes fit the
# run budget: the heavier groupby_stats, window_join and dedup_exact
# rows, the 150k-600k-row join and group-by rows, and text_quality,
# whose pandas-UDF worker start alone adds ~4 s to a cold pass.
QUERIES = (
    "groupby_highcard", "tpch_q1", "tpch_q3ish", "asof_join",
    "top_k_per_group", "knn_cosine",
)


def driver_sim():
    """scripts/driver_sim.py's multiset hashes, loaded from the checkout."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "perfbench_driver_sim", os.path.join(root, "scripts", "driver_sim.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryMix:
    name = "query_mix"

    def __init__(self, *, seed, scale, work, tracer, corrupt):
        self.seed, self.scale, self.work = seed, scale, work
        self.tracer, self.corrupt = tracer, corrupt
        self.spark = None
        rng = np.random.default_rng([seed, 10])
        # a fresh seeded order per pass; every query once per pass
        self.passes = [[QUERIES[j] for j in rng.permutation(len(QUERIES))]
                       for _ in range(1000)]
        self.hashes: dict[str, object] = {}

    # -- set-up --------------------------------------------------------------

    def install_trace(self) -> None:
        import __spark_entry__ as E

        t = self.tracer
        t.wrap(E, "load_tables", "session.load",
               after=lambda a, kw, out: t.count("session.load_calls"))

    def prepare(self, rep: int) -> None:
        import __spark_entry__ as E

        if rep:
            shutil.rmtree(self.sf)
        self.sf = os.path.join(self.work, f"sf-{rep}")
        datagen.write_tables(datagen.tables(self.seed, self.scale), self.sf)
        self.fns = {q: E.queries()[q] for q in QUERIES}

    def warm(self) -> None:
        """Pass 1 collects every result into driver_sim's multiset hash
        (the check's Spark side, outside the timed loop); pass 2 runs
        the timed op path while the JIT settles."""
        ds = driver_sim()
        for q in self.passes[0]:
            df = self.fns[q](self.spark, self.sf)
            self.hashes[q] = (sorted(df.columns), ds.spark_result_hash(df))
        for q in self.passes[1]:
            self.fns[q](self.spark, self.sf).write.format("noop") \
                .mode("overwrite").save()

    # -- the timed loop --------------------------------------------------------

    min_ops = 2 * len(QUERIES)

    def query_of(self, i: int) -> str:
        return self.passes[2 + i // len(QUERIES)][i % len(QUERIES)]

    def has_op(self, i: int) -> bool:
        return 2 + i // len(QUERIES) < len(self.passes)

    def round_done(self, i: int) -> bool:
        return i % len(QUERIES) == 0

    def traced_op(self, i: int) -> bool:
        return (i // len(QUERIES)) % 2 == 1

    def op(self, i: int) -> None:
        t = self.tracer
        with t.span("operators.build"):
            df = self.fns[self.query_of(i)](self.spark, self.sf)
        with t.span("spark.exec"):
            df.write.format("noop").mode("overwrite").save()

    # -- checks ----------------------------------------------------------------

    def check(self, n_ops: int):
        """Each query's result against DuckDB over the registry's
        oracle_sql(); a wrong query fails every one of its timed ops."""
        import duckdb

        import __spark_entry__ as E

        ds = driver_sim()
        oracles = E.oracle_sql()
        con = duckdb.connect()
        for t in datagen.ROWS.keys() | {"region", "nation"}:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(self.sf, t + '.parquet')}'")
        wrong = {}
        for k, q in enumerate(QUERIES):
            s_cols, h = self.hashes[q]
            if self.corrupt and k == 0:
                h.add_line("corrupted")
            huge = ds.hugeint_cols(con, oracles[q])
            r = con.execute(oracles[q])
            cols = [d[0] for d in r.description]
            d = ds.duck_result_hash(r, cols, huge)
            if s_cols != sorted(cols):
                wrong[q] = f"columns {s_cols} vs oracle {sorted(cols)}"
            elif h.key() != d.key():
                wrong[q] = f"{h.n} rows vs oracle {d.n}, or a value differs"
        con.close()
        bad = {i for i in range(n_ops) if self.query_of(i) in wrong}
        return bad, {"queries_checked": len(QUERIES), "wrong": wrong}

    def layer_metrics(self, per: dict, counts: dict, n_tr: int,
                      jobs_self: dict) -> dict:
        return {
            "session.load_s": (per.get("session.load", 0.0), "s/op"),
            "session.load_calls": (counts.get("session.load_calls", 0) / n_tr,
                                   "count/op"),
            "operators.build_s": (per.get("operators.build", 0.0), "s/op"),
            "operators.build_jobs": (jobs_self.get("operators.build", 0) / n_tr,
                                     "count/op"),
        }

    def close(self) -> None:
        pass
