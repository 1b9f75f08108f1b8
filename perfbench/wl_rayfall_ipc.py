"""rayfall_ipc: a remote client sending Rayfall ``select`` strings over
the binary serde to an in-process ``RayfallServer``.

Why it exists: it is the serving path. Tables are bound once, cached,
in the server environment, so the session loader never runs; each
request pays Rayfall parsing and evaluation, Spark planning and job
launch for a small query, and reply shaping and serde. A fixed share
of requests return thousands of rows, which is where ``_binable`` and
the serde dominate and where the client's memory goes.
"""

from __future__ import annotations

import math
import os

import numpy as np

import datagen

TABLES = ("lineitem", "orders", "customer")

# (name, count per round, Rayfall template, DuckDB twin); a round runs
# every template its count of times, in a seeded order
TEMPLATES = (
    ("agg_by_flag", 2,
     "(select {{n: (count l_orderkey) qty: (sum l_quantity) "
     "avg_price: (avg l_extendedprice) from: lineitem "
     "where: (> l_discount {d}) by: l_returnflag}})",
     "SELECT l_returnflag, count(l_orderkey) AS n, sum(l_quantity) AS qty, "
     "avg(l_extendedprice) AS avg_price FROM lineitem "
     "WHERE l_discount > {d} GROUP BY l_returnflag"),
    ("rows_by_supplier", 2,
     "(select {{l_orderkey: l_orderkey l_partkey: l_partkey "
     "l_quantity: l_quantity l_extendedprice: l_extendedprice "
     "from: lineitem where: (and (>= l_suppkey {s}) (< l_suppkey {s2}))}})",
     "SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice "
     "FROM lineitem WHERE l_suppkey >= {s} AND l_suppkey < {s2}"),
    ("orders_by_customer", 2,
     "(select {{o_orderkey: o_orderkey o_totalprice: o_totalprice "
     "o_orderpriority: o_orderpriority from: orders "
     "where: (and (>= o_custkey {c}) (< o_custkey {c2}))}})",
     "SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders "
     "WHERE o_custkey >= {c} AND o_custkey < {c2}"),
    ("part_by_line", 2,
     "(select {{rev: (sum l_extendedprice) n: (count l_orderkey) "
     "from: lineitem where: (== l_partkey {p}) by: l_linenumber}})",
     "SELECT l_linenumber, sum(l_extendedprice) AS rev, "
     "count(l_orderkey) AS n FROM lineitem WHERE l_partkey = {p} "
     "GROUP BY l_linenumber"),
    ("segment_by_nation", 2,
     "(select {{bal: (avg c_acctbal) n: (count c_custkey) from: customer "
     "where: (== c_mktsegment \"{seg}\") by: c_nationkey}})",
     "SELECT c_nationkey, avg(c_acctbal) AS bal, count(c_custkey) AS n "
     "FROM customer WHERE c_mktsegment = '{seg}' GROUP BY c_nationkey"),
)
ROUND = sum(k for _, k, _, _ in TEMPLATES)
MAX_ROWS = 10_000


def _params(rng, name: str, scale: float) -> dict:
    n = {k: datagen._rows(k, scale) for k in ("supplier", "customer", "part")}
    if name == "agg_by_flag":
        return {"d": f"{int(rng.integers(0, 10)) / 100:.2f}"}
    if name == "rows_by_supplier":   # ~3000 rows at sf0.1
        s = int(rng.integers(0, n["supplier"] - 5))
        return {"s": s, "s2": s + 5}
    if name == "orders_by_customer":
        c = int(rng.integers(0, n["customer"] - 20))
        return {"c": c, "c2": c + 20}
    if name == "part_by_line":
        return {"p": int(rng.integers(0, n["part"]))}
    return {"seg": datagen.SEGMENTS[int(rng.integers(0, 5))]}


def requests(seed: int, scale: float, rounds: int) -> list[tuple[int, dict]]:
    """(template index, params) per request, ``rounds`` seeded rounds."""
    rng = np.random.default_rng([seed, 20])
    slots = [t for t, (_, k, _, _) in enumerate(TEMPLATES) for _ in range(k)]
    out = []
    for _ in range(rounds):
        for t in rng.permutation(slots):
            out.append((int(t), _params(rng, TEMPLATES[t][0], scale)))
    return out


def _rows_of(cols: list[str], table: dict) -> list[tuple]:
    return list(zip(*(table[c] for c in cols)))


def same_rows(a: list[tuple], b: list[tuple]) -> bool:
    """Multiset equality with a relative float tolerance (the two engines
    sum doubles in different orders)."""
    if len(a) != len(b):
        return False
    key = lambda r: tuple(round(v, 4) if isinstance(v, float) else v  # noqa: E731
                          for v in r)
    for x, y in zip(sorted(a, key=key), sorted(b, key=key)):
        for u, v in zip(x, y):
            if isinstance(u, float) or isinstance(v, float):
                if not math.isclose(u, v, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif u != v:
                return False
    return True


class RayfallIpc:
    name = "rayfall_ipc"

    def __init__(self, *, seed, scale, work, tracer, corrupt):
        self.seed, self.scale, self.work = seed, scale, work
        self.tracer, self.corrupt = tracer, corrupt
        self.spark = self.server = self.client = None
        self.reqs = requests(seed, scale, rounds=400)
        self.warm_rounds = 1
        self.replies: list = []
        self.cached: list = []

    def install_trace(self) -> None:
        # the concrete (classic) class: it overrides what it runs
        from pyspark.sql.classic.dataframe import DataFrame

        from rayforce_spark import ipc
        from rayforce_spark.rayfall import Interp
        from rayforce_spark.rayfall import serde

        t = self.tracer

        def reply_size(a, kw, out):
            if kw.get("msgtype") == 2:
                t.count("ipc.reply_bytes", len(out))

        def reply_rows(a, kw, out):
            if isinstance(out, dict) and out:
                t.count("ipc.reply_rows", len(next(iter(out.values()))))

        t.wrap(ipc.Handle, "write", "ipc.client")
        t.wrap(Interp, "eval_str", "rayfall.eval")
        # top-level calls only: _binable recurses per cell
        t.wrap(ipc, "_binable", "ipc.shape", parent="ipc.client",
               after=reply_rows)
        t.wrap(DataFrame, "collect", "ipc.collect", parent="ipc.shape")
        t.wrap(serde, "ser_obj", "ipc.ser", after=reply_size)
        t.wrap(serde, "de_obj", "ipc.de")

    def prepare(self, rep: int) -> None:
        from rayforce_spark.ipc import RayfallServer, hopen
        from rayforce_spark.session import load_tables

        self.close()
        self.sf = os.path.join(self.work, f"sf-{rep}")
        tabs = datagen.tables(self.seed, self.scale)
        datagen.write_tables({k: tabs[k] for k in TABLES}, self.sf)
        # cached in the server env; the warm-up's first requests fill
        # the cache
        env = {k: df.cache() for k, df in
               load_tables(self.spark, self.sf, list(TABLES)).items()}
        self.cached = list(env.values())
        self.server = RayfallServer(self.spark, env=env,
                                    max_rows=MAX_ROWS).start()
        self.client = hopen(self.server.address, binary=True)

    def _send(self, k: int):
        t, params = self.reqs[k]
        return self.client.write(TEMPLATES[t][2].format(**params))

    def warm(self) -> None:
        for k in range(self.warm_rounds * ROUND):
            self._send(k)

    min_ops = 3 * ROUND

    def has_op(self, i: int) -> bool:
        return (self.warm_rounds * ROUND + i) < len(self.reqs)

    def round_done(self, i: int) -> bool:
        return i % ROUND == 0

    def traced_op(self, i: int) -> bool:
        return (i // ROUND) % 2 == 1

    def op(self, i: int) -> None:
        self.replies.append(self._send(self.warm_rounds * ROUND + i))

    def check(self, n_ops: int):
        """Every reply against its DuckDB twin over the same parquet."""
        import duckdb

        con = duckdb.connect()
        for name in TABLES:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"'{os.path.join(self.sf, name + '.parquet')}'")
        bad, rows = set(), 0
        for i, reply in enumerate(self.replies):
            t, params = self.reqs[self.warm_rounds * ROUND + i]
            r = con.execute(TEMPLATES[t][3].format(**params))
            cols = [d[0] for d in r.description]
            want = r.fetchall()
            try:
                got = _rows_of(cols, reply)
            except (KeyError, TypeError):
                got = None
            if self.corrupt and i == 0 and got:
                got[0] = tuple(-1 if isinstance(v, int) else v
                               for v in got[0])
            if got is None or len(cols) != len(reply) or \
                    not same_rows(got, want):
                bad.add(i)
            rows += len(want)
        con.close()
        return bad, {"replies_checked": len(self.replies),
                     "rows_checked": rows}

    def layer_metrics(self, per: dict, counts: dict, n_tr: int,
                      jobs_self: dict) -> dict:
        return {
            "rayfall.eval_s": (per.get("rayfall.eval", 0.0), "s/op"),
            "ipc.collect_s": (per.get("ipc.collect", 0.0), "s/op"),
            "ipc.shape_s": (per.get("ipc.shape", 0.0), "s/op"),
            "ipc.ser_s": (per.get("ipc.ser", 0.0), "s/op"),
            "ipc.de_s": (per.get("ipc.de", 0.0), "s/op"),
            "ipc.wire_s": (per.get("ipc.client", 0.0), "s/op"),
            "ipc.reply_bytes": (counts.get("ipc.reply_bytes", 0) / n_tr,
                                "B/op"),
            "ipc.reply_rows": (counts.get("ipc.reply_rows", 0) / n_tr,
                               "count/op"),
        }

    def close(self) -> None:
        if self.client is not None:
            self.client.close()
            self.client = None
        if self.server is not None:
            self.server.stop()
            self.server = None
        for df in self.cached:
            df.unpersist()
        self.cached = []
