"""Differential fuzzing of the TABLE-QUERY surface vs the live reference.

scripts/ref_diff.py fuzzes the scalar/vector verb surface; this harness
fuzzes the §2.2/§2.3 QUERY surface — random tables pushed into BOTH
engines with the same ``(set t (table …))`` program, then random
select / update / sort / join / accessor programs evaluated in both:

  ours      — rayforce_spark.rayfall.Interp over a live SparkSession
              (tables are DataFrames; select/update/joins run the same
              operators the driver gate exercises)
  reference — a live ``rayforce -p`` server through our byte-compatible
              serde (every reply is simultaneously a wire-format check)

The grammar sticks to forms BOTH engines define (probed live):
  * select {maps / where / by: <sym> / take}
  * update {maps / where / by}
  * xasc / xdesc on a distinct-valued column (ties would make row order
    implementation-defined, so the sort key is the unique float column)
  * left-join / inner-join [g] with a unique-keyed right table
    (missing keys exercise null backfill on the wire)
  * asof-join [g ts] on a trades/quotes pair (dup timestamps, one-
    sided symbols -> null backfill; optionally composed under select)
  * window-join / window-join1 [g ts] with map-left +-K intervals and
    random {min max sum count avg} aggregate maps (kdb wj/wj1)
  * first / last / count / at on query results; concat
Known one-sided restrictions (e.g. the reference's ``med`` rejects F64
with 'type) surface as ref_error rows, same bookkeeping as ref_diff.

Row order is compared EXACTLY (order is semantics in this data model);
column order is normalized (dict keys sorted) because the engines
differ benignly on join/by output column placement.

Writes REF_DIFF_TABLES.md. Usage:
  python scripts/ref_diff_tables.py [--blocks N] [--per-block M] [--seed S]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ref_diff import _nullify, values_eq  # shared value space
from rayfall_langc_sweep import _norm

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "REF_DIFF_TABLES.md")

SYM_POOL = ["aa", "bb", "cc", "dd"]
AGGS_NUM = ["sum", "avg", "min", "max", "count", "first", "last", "dev", "var"]
AGGS_INT = AGGS_NUM + ["med"]  # ref med rejects F64 ('type) — int cols only
CMPS = [">", "<", ">=", "<=", "==", "!="]


def fmt_f(x: float) -> str:
    s = f"{x:.2f}"
    return s


def gen_tables(r: random.Random):
    """One (t, u) pair as Rayfall source; u is unique-keyed for joins."""
    n = r.randint(1, 8)
    a = [r.randint(-5, 9) for _ in range(n)]
    h = [r.randint(-3, 3) for _ in range(n)]
    # b: distinct floats -> xasc/xdesc row order is well-defined
    b = r.sample([x / 4 for x in range(-20, 40)], n)
    g = [r.choice(SYM_POOL) for _ in range(n)]
    t = ("(set t (table [a b g h] (list "
         f"[{' '.join(map(str, a))}] "
         f"[{' '.join(map(fmt_f, b))}] "
         f"[{' '.join(chr(39) + s for s in g)}] "
         f"[{' '.join(map(str, h))}])))")
    # u: 2-4 unique keys, some outside t's pool usage -> null backfill
    keys = r.sample(SYM_POOL, r.randint(2, 4))
    c = [r.randint(0, 99) for _ in keys]
    u = ("(set u (table [g c] (list "
         f"[{' '.join(chr(39) + s for s in keys)}] "
         f"[{' '.join(map(str, c))}])))")
    return t, u, n


def gen_ts_tables(r: random.Random):
    """A trades/quotes-style pair for asof/window joins: shared [g ts]
    columns, ts ascending ints WITH duplicates (dup-ts last-wins on the
    right side is reference semantics worth pinning), and symbols drawn
    so some groups exist on only one side (null backfill)."""

    def ts_vec(k):
        out, cur = [], r.randint(0, 3)
        for _ in range(k):
            out.append(cur)
            cur += r.choice([0, 1, 1, 2, 3])
        return out

    n, m = r.randint(2, 7), r.randint(2, 9)
    tg = [r.choice(SYM_POOL[:3]) for _ in range(n)]
    ug = [r.choice(SYM_POOL[1:]) for _ in range(m)]
    t_ts, u_ts = ts_vec(n), ts_vec(m)
    # v distinct -> xasc/xdesc row order on it is well-defined
    v = r.sample(range(-20, 40), n)
    w = [r.randint(-5, 9) for _ in range(m)]
    # ts twice: as I64 (asof-join — ref lang.c:4169 pins I64 support)
    # and as TIME/i32 `tm` (window-join: the reference's wj reads the
    # window bounds and right time column through AS_I32, ref
    # core/aggr.c:141-148, so it silently mis-answers on I64 time —
    # live-probed; ours is typed-generic, so the fuzz sticks to the
    # reference's supported i32 domain for wj)
    t2 = ("(set t2 (table [g ts tm v] (list "
          f"[{' '.join(chr(39) + s for s in tg)}] "
          f"[{' '.join(map(str, t_ts))}] "
          f"(as 'TIME [{' '.join(map(str, t_ts))}]) "
          f"[{' '.join(map(str, v))}])))")
    u2 = ("(set u2 (table [g ts tm w] (list "
          f"[{' '.join(chr(39) + s for s in ug)}] "
          f"[{' '.join(map(str, u_ts))}] "
          f"(as 'TIME [{' '.join(map(str, u_ts))}]) "
          f"[{' '.join(map(str, w))}])))")
    return t2, u2


def g_scalar(r: random.Random) -> str:
    return str(r.choice([0, 1, 2, 3, -1, -2, 5]))


def g_colexpr(r: random.Random, depth: int = 0, order_ok: bool = False) -> str:
    """Numeric expression over t's columns."""
    if order_ok and depth == 0 and r.random() < 0.2:
        verb = r.choice(["asc", "desc", "iasc", "idesc", "rank"])
        return f"({verb} {r.choice(['a', 'b', 'h'])})"
    if depth > 1 or r.random() < 0.4:
        return r.choice(["a", "b", "h", g_scalar(r)])
    op = r.choice(["+", "-", "*", "%", "/", "xbar"])
    if op == "xbar":
        return f"(xbar {r.choice(['2', '3'])} {r.choice(['a', 'h'])})"
    return f"({op} {g_colexpr(r, depth + 1)} {g_colexpr(r, depth + 1)})"


def g_pred(r: random.Random, depth: int = 0) -> str:
    cmp_ = r.choice(CMPS)
    col = r.choice(["a", "b", "h"])
    rhs = fmt_f(r.uniform(-3, 6)) if col == "b" else g_scalar(r)
    base = f"({cmp_} {col} {rhs})"
    if depth == 0 and r.random() < 0.35:
        combo = r.choice(["and", "or"])
        return f"({combo} {base} {g_pred(r, 1)})"
    if depth == 0 and r.random() < 0.1:
        return f"(not {base})"
    return base


def g_pred_ts(r: random.Random) -> str:
    """Predicate over the time-series pair's never-null left columns."""
    col = r.choice(["ts", "v"])
    lo, hi = (0, 8) if col == "ts" else (-10, 20)
    return f"({r.choice(CMPS)} {col} {r.randint(lo, hi)})"


def g_aggmap(r: random.Random, k: int) -> str:
    parts = []
    for i in range(k):
        col = r.choice(["a", "b", "h"])
        agg = r.choice(AGGS_INT if col in ("a", "h") else AGGS_NUM)
        parts.append(f"s{i}: ({agg} {col})")
    return " ".join(parts)


def g_insert_vals(r: random.Random, k: int, dup_keys: bool = False) -> str:
    """k rows matching t's [a b g h] schema. Inserted b values sit in
    [100, 120) — outside gen_tables' b range — so the distinct-b
    invariant (well-defined xasc order) survives the insert.
    ``dup_keys`` forces a repeated key column value (upsert: existing
    keys last-win, NEW keys append every occurrence — both fuzzed)."""
    a = [r.randint(-5, 9) for _ in range(k)]
    if dup_keys and k >= 2:
        a[r.randrange(k)] = a[r.randrange(k)]
    b = r.sample([100 + x / 4 for x in range(80)], k)
    g = [r.choice(SYM_POOL) for _ in range(k)]
    h = [r.randint(-3, 3) for _ in range(k)]
    if k == 1:
        return f"(list {a[0]} {fmt_f(b[0])} '{g[0]} {h[0]})"
    return ("(list "
            f"[{' '.join(map(str, a))}] "
            f"[{' '.join(map(fmt_f, b))}] "
            f"[{' '.join(chr(39) + s for s in g)}] "
            f"[{' '.join(map(str, h))}])")


def g_vals3(r: random.Random, k: int, dup_keys: bool = False) -> str:
    """k rows matching the [a b h] numeric projection (the splayed
    round-trip shape). b in [100, 120) keeps the distinct-b xasc
    invariant; ``dup_keys`` repeats an EXISTING t key value in column a
    (upsert: update-in-place path) half the time."""
    a = [r.randint(-5, 9) for _ in range(k)]
    if dup_keys and k >= 2:
        a[r.randrange(k)] = a[r.randrange(k)]
    b = r.sample([100 + x / 4 for x in range(80)], k)
    h = [r.randint(-3, 3) for _ in range(k)]
    if k == 1:
        return f"(list {a[0]} {fmt_f(b[0])} {h[0]})"
    return ("(list "
            f"[{' '.join(map(str, a))}] "
            f"[{' '.join(map(fmt_f, b))}] "
            f"[{' '.join(map(str, h))}])")


def g_storage_query(r: random.Random, n: int, uid: int, kind: int) -> str | None:
    """§2.1/§2.2 mutation + storage templates (r8, verdict directive 7;
    r9 adds the mutation-x-storage COMPOSITIONS — kinds 22-24: mutate
    before persist, mutate the read-back table, and mutate before a
    dated partition split — ref core/io.c:214,343 + core/update.c:414).

    Journal replay (hopen file + write + read) is NOT fuzzable against
    the reference: its own examples/journal.rfl errors on replay with
    "expected LAMBDA, got LIST" run natively on the built binary, and
    over IPC (read h) returns a status dict without evaluating items —
    live-probed r9. Our expression journal (evalr._FileJournal) and the
    data journal (streaming/journal.py) are pinned by pytest +
    STREAMCHECK recovery instead.

    Storage programs carry a literal ``{DIR}`` that the runner replaces
    with a PER-ENGINE scratch directory before eval — each engine writes
    its own native layout (ours: parquet; ref: splayed column files /
    dated partition dirs) and reads it back, so the round-TRIP is what's
    compared, not the bytes on disk. Multi-form top-level sequences are
    used instead of ``(do …)`` because the reference's do+set errors
    with 'value (live-probed); every program is self-contained (binds
    its own uid-suffixed names first), so a mid-block reference crash +
    re-seed cannot desync later queries.

    Surfaces the fuzz must avoid, live-pinned reference limitations:
    * ENUM vectors don't serialize over the reference's own wire
      (core/serde.c size_obj returns 0 for TYPE_ENUM → truncated
      replies), so splayed/parted symbol columns are read back through
      ``(value (at … 'g))`` which de-enumerates server-side.
    * group-by on an enum column and bare select/xasc/meta over
      get-parted error with 'type in the reference; aggregates and
      explicit-map selects work, so compositions stick to those.
    * Row order across our parquet splay files is not written-order
      (Spark packs scan files by size), so order-sensitive reads are
      composed under xasc on a distinct column.
    """
    if kind == 17:
        # alter on a column-derived vector: set / concat / remove, with
        # an occasional out-of-range index (both engines must reject —
        # ref 'index, tests/lang.c:5236; python wrapping would silently
        # hit the tail, a real divergence this template caught in dev)
        col = r.choice(["a", "b", "h"])
        bad = n == 0 or r.random() < 0.15
        i = r.choice([-1, n + 2]) if bad else r.randrange(n)
        val = fmt_f(r.uniform(-3, 6)) if col == "b" else g_scalar(r)
        ops = [f"(alter 'va{uid} set {i} {val})"]
        roll = r.random()
        if roll < 0.4:
            ops.append(f"(alter 'va{uid} concat {val})")
        elif roll < 0.6 and n > 1:
            ops.append(f"(alter 'va{uid} remove {r.randrange(n)})")
        return (f"(set va{uid} (at t '{col})) "
                + " ".join(ops) + f" va{uid}")
    if kind == 18:
        # splayed round-trip, numeric projection (symbol col g would
        # come back as an un-serializable ENUM — kind 19 covers it)
        pre = ("(set nt%d (select {a: a b: b h: h from: t})) "
               '(set-splayed "{DIR}/s%d/" nt%d) ' % (uid, uid, uid))
        roll = r.random()
        if roll < 0.35:
            return pre + '(xasc (get-splayed "{DIR}/s%d/") \'b)' % uid
        if roll < 0.7:
            agg = r.choice(["sum", "min", "max", "count", "avg", "dev", "var"])
            return pre + (
                "(xasc (select {s0: (%s b) from: "
                '(get-splayed "{DIR}/s%d/") by: h}) \'h)' % (agg, uid))
        return pre + (
            "(xasc (select {x: %s y: b from: "
            '(get-splayed "{DIR}/s%d/") where: %s}) \'y)'
            % (g_colexpr(r), uid, g_pred(r)))
    if kind == 19:
        if r.random() < 0.5:
            # splayed symbol column: written as enum+symfile by the ref,
            # plain parquet strings by us; (value …) de-enumerates theirs
            return ('(set-splayed "{DIR}/g%d/" t) '
                    '(value (at (get-splayed "{DIR}/g%d/") \'g))'
                    % (uid, uid))
        # temporal splay: I64 ts + TIME/i32 tm survive the round-trip
        # (explicit maps — the enum g column would not serialize)
        return ('(set-splayed "{DIR}/w%d/" t2) '
                "(select {ts: ts tm: tm v: v from: "
                '(get-splayed "{DIR}/w%d/")})' % (uid, uid))
    if kind == 21:
        # order verbs over a NULL-containing column (asof-join backfill
        # manufactures the nulls): pins the live null-as-largest rule —
        # asc last, desc/idesc first, rank largest — in BOTH engines
        # (r8: the window path dropped nulls via bare collect_list and
        # the local path raised TypeError before this was fixed)
        verb = r.choice(["asc", "desc", "iasc", "idesc", "rank"])
        if r.random() < 0.5:
            return ("(select {x: (%s w) y: v from: "
                    "(asof-join [g ts] t2 u2)})" % verb)
        return "(%s (at (asof-join [g ts] t2 u2) 'w))" % verb
    if kind == 22:
        # r9: mutate BEFORE persist — insert/upsert on the numeric
        # projection, splay the MUTATED table, read it back (the
        # reference's insert-into-a-splayed-table workflow: build the
        # new slice in memory, persist, reread — ref core/io.c:343 +
        # core/update.c:414)
        if r.random() < 0.5:
            mut = f"(insert ma{uid} {g_vals3(r, r.randint(1, 3))})"
        else:
            mut = (f"(upsert ma{uid} 1 "
                   f"{g_vals3(r, r.randint(1, 3), r.random() < 0.5)})")
        pre = (f"(set ma{uid} (select {{a: a b: b h: h from: t}})) "
               f"(set mb{uid} {mut}) "
               '(set-splayed "{DIR}/mm%d/" mb%d) ' % (uid, uid))
        if r.random() < 0.5:
            return pre + '(xasc (get-splayed "{DIR}/mm%d/") \'b)' % uid
        agg = r.choice(["sum", "min", "max", "count", "avg"])
        return pre + (
            "(xasc (select {s0: (%s b) s1: (count a) from: "
            '(get-splayed "{DIR}/mm%d/") by: h}) \'h)' % (agg, uid))
    if kind == 23:
        # r9: mutate the READ-BACK table — splay, get-splayed into a
        # name, then insert/upsert on the reread table (row order of the
        # reread table is load-bearing for upsert's key index; both
        # engines must preserve written order)
        if r.random() < 0.5:
            mut = f"(insert rb{uid} {g_vals3(r, r.randint(1, 3))})"
        else:
            mut = (f"(upsert rb{uid} 1 "
                   f"{g_vals3(r, r.randint(1, 3), r.random() < 0.5)})")
        return (f"(set na{uid} (select {{a: a b: b h: h from: t}})) "
                '(set-splayed "{DIR}/rr%d/" na%d) ' % (uid, uid)
                + '(set rb%d (get-splayed "{DIR}/rr%d/")) ' % (uid, uid)
                + f"(xasc {mut} 'b)")
    if kind == 24 and n >= 2:
        # r9: mutate BEFORE the dated partition split — upsert/insert on
        # the full table, split the MUTATED table into two partition
        # writes, read the union back (aggregates + explicit-map
        # selects only: get-parted's live-pinned working surface; the
        # reverse order — mutating a get-parted result — is a reference
        # 'type error, and even `(set x (get-parted …))` truncates on
        # the wire because the echoed reply carries ENUM columns)
        if r.random() < 0.5:
            mut = f"(insert t {g_insert_vals(r, r.randint(1, 3))})"
        else:
            mut = (f"(upsert t 1 "
                   f"{g_insert_vals(r, r.randint(1, 3), r.random() < 0.5)})")
        # split on the PRE-mutation row count n (<= rows of mu for both
        # insert and upsert): head-k + tail-(n-k) is deterministic in
        # both engines regardless of how many rows the mutation added
        # (take beyond-length would CYCLE in this data model)
        k = r.randint(1, n - 1)
        pre = (f"(set mu{uid} {mut}) "
               f"(set pc{uid} (select {{from: mu{uid} take: {k}}})) "
               f"(set pd{uid} (select {{from: mu{uid} take: -{n - k}}})) "
               '(set-parted "{DIR}/q%d/2024.01.01/tab/" pc%d) '
               '(set-parted "{DIR}/q%d/2024.01.02/tab/" pd%d) '
               % (uid, uid, uid, uid))
        if r.random() < 0.5:
            a1 = r.choice(["sum", "min", "max", "avg"])
            a2 = r.choice(["sum", "min", "max", "count"])
            return pre + (
                "(select {s0: (%s a) s1: (%s h) s2: (count b) from: "
                '(get-parted "{DIR}/q%d/" \'tab)})' % (a1, a2, uid))
        return pre + (
            "(xasc (select {x: b y: (+ a h) from: "
            '(get-parted "{DIR}/q%d/" \'tab)}) \'x)' % uid)
    if kind == 20 and n >= 2:
        # parted: two dated partition writes (the reference's
        # per-partition path idiom), then read the union back
        k = r.randint(1, n - 1)
        pre = ("(set pa%d (select {from: t take: %d})) "
               "(set pb%d (select {from: t take: -%d})) "
               '(set-parted "{DIR}/p%d/2024.01.01/tab/" pa%d) '
               '(set-parted "{DIR}/p%d/2024.01.02/tab/" pb%d) '
               % (uid, k, uid, n - k, uid, uid, uid, uid))
        roll = r.random()
        if roll < 0.4:
            a1 = r.choice(["sum", "min", "max", "avg"])
            a2 = r.choice(["sum", "min", "max", "count"])
            return pre + (
                "(select {s0: (%s a) s1: (%s h) s2: (count b) from: "
                '(get-parted "{DIR}/p%d/" \'tab)})' % (a1, a2, uid))
        if roll < 0.8:
            return pre + (
                "(xasc (select {x: b y: (+ a h) from: "
                '(get-parted "{DIR}/p%d/" \'tab) where: %s}) \'x)'
                % (uid, g_pred(r)))
        return pre + '(count (get-parted "{DIR}/p%d/" \'tab))' % uid
    return None


def g_query(r: random.Random, n: int = 4, uid: int = 0) -> str:
    kind = r.randint(0, 24)
    if kind >= 17:
        q = g_storage_query(r, n, uid, kind)
        if q is not None:
            return q
        kind = r.randint(0, 16)
    if kind == 15:
        # §2.1 insert (value form — returns the extended table): single
        # row and column-block shapes, optionally composed under a query
        q = f"(insert t {g_insert_vals(r, r.randint(1, 3))})"
        roll = r.random()
        if roll < 0.3:
            q = f"(count {q})"
        elif roll < 0.5:
            q = f"(select {{s0: (sum a) from: {q} by: g}})"
        elif roll < 0.7:
            q = f"(xasc {q} 'b)"
        return q
    if kind == 16:
        # §2.1 upsert with leading-1 key on column a: colliding keys
        # exercise last-wins in-place update, fresh keys append every
        # occurrence; dup_keys forces repeated batch keys half the time
        return (f"(upsert t 1 "
                f"{g_insert_vals(r, r.randint(1, 3), r.random() < 0.5)})")
    if kind == 12:
        # §2.3 asof-join (greatest <=, null backfill, dup-ts last-wins)
        q = "(asof-join [g ts] t2 u2)"
        roll = r.random()
        if roll < 0.25:
            q = f"(select {{s0: (sum w) s1: (count v) from: {q} by: g}})"
        elif roll < 0.45:
            q = f"(select {{x: (+ v w) from: {q} where: {g_pred_ts(r)}}})"
        return q
    if kind == 13:
        # §2.3 window-join / window-join1 (kdb wj/wj1): +-K window
        # around each left ts via the docs' map-left interval idiom
        k = r.randint(1, 3)
        jv = r.choice(["window-join", "window-join1"])
        aggs = " ".join(
            f"m{i}: ({a} w)"
            for i, a in enumerate(r.sample(
                ["min", "max", "sum", "count", "avg"], r.randint(1, 2))))
        return (f"({jv} [g tm] (map-left + [-{k} {k}] (at t2 'tm)) "
                f"t2 u2 {{{aggs}}})")
    if kind == 14:
        # sorts/accessors over the time-series pair
        return r.choice([
            "(count (asof-join [g ts] t2 u2))",
            "(xdesc t2 'v)",
            "(last (asof-join [g ts] t2 u2))",
            f"(select {{from: t2 where: {g_pred_ts(r)}}})",
            "(select {mx: (max w) from: (asof-join [g ts] t2 u2)})",
        ])
    if kind == 0:
        return f"(select {{from: t where: {g_pred(r)}}})"
    if kind == 1:
        return f"(select {{x: {g_colexpr(r, order_ok=True)} from: t}})"
    if kind == 2:
        return (f"(select {{x: {g_colexpr(r, order_ok=True)} from: t "
                f"where: {g_pred(r)} take: {r.randint(1, 5)}}})")
    if kind == 3:
        return f"(select {{{g_aggmap(r, r.randint(1, 3))} from: t}})"
    if kind == 4:
        by = r.choice(["g", "a", "h"])
        return f"(select {{{g_aggmap(r, r.randint(1, 2))} from: t by: {by}}})"
    if kind == 5:
        by = r.choice(["g", "a"])
        return f"(select {{from: t by: {by}}})"
    if kind == 6:
        with_where = r.random() < 0.5
        w = f" where: {g_pred(r)}" if with_where else ""
        tgt = r.choice(["a", "b", "x"])
        # order verbs under a where-update are restricted on our side
        # (the ref computes them over the subset; documented gap)
        e = g_colexpr(r, order_ok=not with_where)
        return f"(update {{from: t {tgt}: {e}{w}}})"
    if kind == 7:
        return f"(update {{from: t x: (sum {r.choice(['a', 'b'])}) by: g}})"
    if kind == 8:
        verb = r.choice(["xasc", "xdesc"])
        inner = "t" if r.random() < 0.6 else f"(select {{from: t where: {g_pred(r)}}})"
        return f"({verb} {inner} 'b)"
    if kind == 9:
        jv = r.choice(["left-join", "inner-join"])
        q = f"({jv} [g] t u)"
        if r.random() < 0.4:
            q = f"(select {{s0: (sum a) from: {q} by: g}})"
        return q
    if kind == 10:
        acc = r.choice(["first", "last", "count"])
        return f"({acc} (select {{from: t where: {g_pred(r)}}}))"
    return r.choice([
        "(at t 'b)",
        "(at t 0)",
        "(concat t t)",
        f"(select {{r: (rank b) from: t}})",
        f"(xasc (update {{from: t x: (* a 2)}}) 'b)",
    ])


import re as _re

_MEDDEV_RE = _re.compile(r"\((med|dev) ")


def ref_nan_group_agg(q: str, ours, theirs) -> bool:
    """The reference returns NaN for med/dev under by: (live-probed:
    even clean multi-row groups — grouped median/stddev are simply not
    implemented there); ours computes them. Classified as a documented
    reference limitation (our engine is a correct superset), not a
    mismatch — provided everything ELSE in the row agrees."""
    if "by:" not in q or not _MEDDEV_RE.search(q):
        return False
    if not isinstance(ours, dict) or not isinstance(theirs, dict):
        return False
    if set(ours) != set(theirs):
        return False
    drop = [k for k in theirs
            if isinstance(theirs.get(k), list) and theirs[k]
            and all(v is None for v in theirs[k])
            and isinstance(ours.get(k), list)
            and any(v is not None for v in ours[k])]
    if not drop:
        return False
    return values_eq({k: v for k, v in ours.items() if k not in drop},
                     {k: v for k, v in theirs.items() if k not in drop})


def ours_to_value(v):
    """Our result -> plain python (tables/DataFrames -> dict of column
    lists in ROW order; column order normalized by the comparer)."""
    if hasattr(v, "sparkSession"):
        rows = v.collect()
        return {c: [r[c] for r in rows] for c in v.columns}
    return v


def tnorm(v):
    """Shared normalization + column-order canonicalization."""
    v = _nullify(_norm(v))
    if isinstance(v, dict):
        return {k: tnorm(v[k]) for k in sorted(v, key=str)}
    if isinstance(v, list):
        return [tnorm(x) for x in v]
    return v


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--blocks", type=int, default=40)
    ap.add_argument("--per-block", type=int, default=12)
    ap.add_argument("--seed", type=int, default=11)
    ap.add_argument("--list", type=int, default=25)
    args = ap.parse_args()

    from rayforce_spark.interop import (
        REFERENCE_BIN, reference_eval, spawn_reference_server)
    from rayforce_spark.rayfall import Interp
    from rayforce_spark.rayfall.serde import Table
    from rayforce_spark.session import get_spark

    if not os.path.exists(REFERENCE_BIN):
        print(f"ref_diff_tables: missing {REFERENCE_BIN} (build it from the "
              "reference checkout with scripts/build_reference.sh)",
              file=sys.stderr)
        sys.exit(2)

    import shutil
    import tempfile

    spark = get_spark("ref_diff_tables")
    r = random.Random(args.seed)
    srv = spawn_reference_server()
    # per-engine scratch roots for the storage templates ({DIR} in the
    # program text) — each engine round-trips its own on-disk layout
    ours_base = tempfile.mkdtemp(prefix="rdt_ours_")
    ref_base = tempfile.mkdtemp(prefix="rdt_ref_")
    counts = {"match": 0, "both_error": 0, "mismatch": 0,
              "ours_error": 0, "ref_error": 0, "ref_crash": 0,
              "ref_nan_group_agg": 0}
    diverge = []
    crashes = []
    total = 0
    try:
        for blk in range(args.blocks):
            t_src, u_src, t_rows = gen_tables(r)
            t2_src, u2_src = gen_ts_tables(r)
            odir = os.path.join(ours_base, f"b{blk}")
            rdir = os.path.join(ref_base, f"b{blk}")
            setters = (t_src, u_src, t2_src, u2_src)
            interp = Interp(spark)
            ok = True
            for setter in setters:
                try:
                    interp.eval_str(setter)
                    reference_eval(srv, setter)
                except Exception as ex:  # noqa: BLE001
                    print(f"[skip block {blk}] setter failed: {ex}",
                          file=sys.stderr)
                    ok = False
                    break
            if not ok:
                continue
            qs = set()
            while len(qs) < args.per_block:
                qs.add(g_query(r, t_rows, len(qs)))
            for q in sorted(qs):
                total += 1
                ours = theirs = None
                ours_err = theirs_err = None
                try:
                    ours = tnorm(ours_to_value(
                        interp.eval_str(q.replace("{DIR}", odir))))
                except Exception as ex:  # noqa: BLE001
                    ours_err = f"{type(ex).__name__}: {ex}"
                try:
                    tv = reference_eval(srv, q.replace("{DIR}", rdir))
                    if isinstance(tv, Table):
                        tv = dict(tv)
                    theirs = tnorm(tv)
                except (ConnectionError, OSError):
                    counts["ref_crash"] += 1
                    crashes.append(q)
                    srv.stop()
                    srv = spawn_reference_server()
                    # re-seed its state for the rest of the block
                    for setter in setters:
                        reference_eval(srv, setter)
                    continue
                except Exception as ex:  # noqa: BLE001
                    theirs_err = str(ex)
                src = (f"{t2_src} {u2_src}" if "t2" in q
                       else t_src)
                if ours_err and theirs_err:
                    counts["both_error"] += 1
                elif ours_err:
                    counts["ours_error"] += 1
                    diverge.append((q, src, f"ours errored: {ours_err}",
                                    f"ref: {theirs!r}"))
                elif theirs_err:
                    counts["ref_error"] += 1
                    diverge.append((q, src, f"ours: {ours!r}",
                                    f"ref errored: {theirs_err}"))
                elif values_eq(ours, theirs):
                    counts["match"] += 1
                elif ref_nan_group_agg(q, ours, theirs):
                    counts["ref_nan_group_agg"] += 1
                else:
                    counts["mismatch"] += 1
                    diverge.insert(0, (q, src, f"ours: {ours!r}",
                                       f"ref: {theirs!r}"))
            shutil.rmtree(odir, ignore_errors=True)
            shutil.rmtree(rdir, ignore_errors=True)
            if (blk + 1) % 5 == 0:
                print(f"[block {blk + 1}/{args.blocks}] {counts}",
                      file=sys.stderr)
    finally:
        srv.stop()
        shutil.rmtree(ours_base, ignore_errors=True)
        shutil.rmtree(ref_base, ignore_errors=True)

    lines = [
        "# REF_DIFF_TABLES — table-query differential fuzzing vs the "
        "live reference\n",
        f"{total} seeded-random TABLE programs (seed {args.seed}; "
        f"{args.blocks} random (t,u) table pairs x {args.per_block} "
        "queries over select/update/where/by/take, xasc/xdesc, "
        "left-join/inner-join, asof-join, window-join/window-join1, "
        "first/last/count/at/concat/rank, order verbs over null-containing columns (asof-join backfill; pins the null-as-largest rule in both engines), insert/upsert (value and "
        "in-place forms), alter set/concat/remove on column-derived "
        "vectors, and STORAGE round-trips — set-splayed/get-splayed "
        "(numeric tables and enum-backed symbol columns) and "
        "set-parted/get-parted (two dated partition writes via the "
        "reference's per-partition path idiom, read back as a union), "
        "plus the r9 MUTATION-x-STORAGE compositions: insert/upsert "
        "before set-splayed, insert/upsert ON the get-splayed read-back "
        "table (written row order is load-bearing for the upsert key "
        "index), and upsert/insert before the dated partition split — "
        "each engine writing its own native layout into its own scratch "
        "dir and reading it back, so the round-TRIP values are compared, "
        "not bytes on disk) "
        "evaluated in BOTH engines — ours via `rayfall.Interp` over a "
        "live SparkSession (tables are DataFrames, the same operator "
        "code the driver gate runs), the reference via a live "
        "`rayforce -p` server through our byte-compatible serde. "
        "Produced by scripts/ref_diff_tables.py; exits nonzero on any "
        "value mismatch. Row ORDER is compared exactly; column order "
        "is canonicalized (the engines differ benignly on join/by "
        "column placement).\n",
        "| outcome | count |",
        "|---|---|",
    ]
    for k, v in counts.items():
        mark = "**" if k == "mismatch" else ""
        lines.append(f"| {mark}{k}{mark} | {mark}{v}{mark} |")
    denom = max(1, total)
    lines.append(
        f"\nAgreement: {counts['match'] + counts['both_error']}/{denom} "
        f"({100.0 * (counts['match'] + counts['both_error']) / denom:.1f}%)."
        "\n")
    lines.append(
        "`ref_nan_group_agg` rows are a documented reference limitation: "
        "med/dev under by: return NaN there (live-probed on clean "
        "multi-row groups — grouped median/stddev are not implemented in "
        "the reference) while our engine computes them; every other "
        "column in those rows agrees. `ref_error` rows are one-sided "
        "reference restrictions (e.g. med rejects F64 with 'type; "
        "aggregates/maps over a null-containing column — asof-join "
        "backfill — also reject with 'type) — our engine is a documented "
        "superset.\n"
        "\nTwo reference limitations discovered and live-pinned by this "
        "harness (r7): (1) the reference's window-join reads window "
        "bounds and the right time column as i32 (ref core/aggr.c:141-148 "
        "AS_I32), so it silently mis-answers on I64 time columns — the "
        "fuzz uses TIME/i32 `tm` columns (its supported domain) for wj, "
        "while our implementation is typed-generic; (2) shared non-key "
        "columns in lj/ij/aj take the RIGHT value on matched rows (kdb "
        "rule) and wj empty windows yield null aggregates (count 0) — "
        "both now implemented and pinned in tests/test_rayfall.py.\n"
        "\nStorage/mutation limitations pinned by the r8 templates: "
        "(3) ENUM vectors do not serialize over the reference's own "
        "wire (core/serde.c size_obj has no TYPE_ENUM case → truncated "
        "replies), so splayed/parted symbol columns are compared "
        "through `(value (at … 'g))`, which de-enumerates server-side; "
        "(4) the reference's get-parted result rejects bare "
        "select/xasc/meta and enum group-by with 'type (and `(at gp "
        "'col)` crashes the server) — compositions stick to its working "
        "surface: aggregates and explicit-map selects; (5) the r8 alter "
        "templates caught a real our-side divergence in dev: python's "
        "wrapping negative index silently hit the vector tail where the "
        "reference rejects with 'index — now guarded (evalr) and "
        "exercised here; (6) our parquet splay does not preserve "
        "cross-file row order, so the Rayfall storage verbs persist an "
        "explicit `__rf_ord` ordinal restored+dropped on read (row "
        "order is semantics in this data model; the raw python API "
        "keeps the unordered 100 TB-scale contract).\n"
        "\nr9 additions: (7) journal replay is broken in the reference "
        "build itself — its own examples/journal.rfl errors on (read h) "
        "with \"expected LAMBDA, got LIST\" run natively, and over IPC "
        "(read h) returns a status dict without evaluating items — so "
        "journal round-trips are NOT differentially fuzzable; our "
        "expression journal (evalr) and data journal "
        "(streaming/journal.py) are pinned by pytest + STREAMCHECK "
        "recovery instead; (8) `(set x (get-parted …))` truncates on the "
        "reference's wire (the echoed reply carries ENUM columns) and "
        "mutating a get-parted result is a reference 'type error, so the "
        "mutation-x-parted template mutates BEFORE the partition split.\n")
    if crashes:
        lines.append("## Inputs that crashed the reference process\n")
        lines += [f"* `{c}`" for c in crashes] + [""]
    if diverge:
        lines.append(f"## Divergences (first {args.list})\n")
        for q, src, a, b in diverge[:args.list]:
            lines.append(f"* `{q}`  (tables: `{src}`)\n  * {a}\n  * {b}")
    with open(OUT, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(json.dumps({"n": total, "seed": args.seed, **counts}))
    return 1 if counts["mismatch"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
