"""Differential fuzzing against the LIVE reference engine.

LANGC_PARITY sweeps the reference's own 3,551 fixture assertions; this
harness goes further: it GENERATES seeded-random Rayfall programs from a
grammar over the shared verb surface (arithmetic, comparison, vector
ops, aggregation, ordering, sets, iteration) and evaluates every one in
BOTH engines —

* ours: ``rayforce_spark.rayfall.Interp`` (pure-value mode, no Spark),
* theirs: the real binary built from public source
  (scripts/build_reference.sh), via IPC with our byte-compatible serde
  (rayforce_spark/interop.py) — so each case also exercises the wire.

Outcomes per case: ``match`` (values agree after the same normalization
the lang.c sweep uses), ``both_error`` (both engines reject — agreement
on the error surface), ``ours_error`` / ``ref_error`` (one-sided:
behavioral difference, listed), ``mismatch`` (both succeed, values
differ — REAL divergence, listed first).

Writes REF_DIFF.md. Usage:
  python scripts/ref_diff.py [--n 2000] [--seed 7] [--list N]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

OUT = os.path.join(REPO, "REF_DIFF.md")


# -- expression generator ----------------------------------------------------
# every production returns a Rayfall source string; depth-bounded

def g_int(r):
    return str(r.choice([-7, -2, -1, 0, 1, 2, 3, 5, 10, 100]))


def g_float(r):
    return repr(r.choice([-2.5, -0.5, 0.0, 0.5, 1.5, 2.25, 10.0]))


def g_num(r):
    return g_int(r) if r.random() < 0.6 else g_float(r)


def g_ivec(r, depth):
    if depth <= 0 or r.random() < 0.4:
        if r.random() < 0.5:
            return f"(til {r.randint(1, 9)})"
        return "[" + " ".join(g_int(r) for _ in range(r.randint(1, 6))) + "]"
    inner = g_ivec(r, depth - 1)
    return r.choice([
        f"(reverse {inner})",
        f"(distinct {inner})",
        f"(take {inner} {r.randint(1, 8)})",  # (take x n): cyclic take
        f"(+ {inner} {g_int(r)})",
        f"(* {inner} {g_int(r)})",
        f"(- {inner} {g_int(r)})",
        f"(concat {inner} {g_ivec(r, 0)})",
        f"(where (> {inner} {g_int(r)}))",
    ])


def g_fvec(r, depth):
    if depth <= 0 or r.random() < 0.5:
        return ("[" + " ".join(g_float(r)
                               for _ in range(r.randint(1, 5))) + "]")
    return r.choice([
        f"(+ {g_fvec(r, depth - 1)} {g_float(r)})",
        f"(* {g_ivec(r, depth - 1)} {g_float(r)})",
        f"(reverse {g_fvec(r, depth - 1)})",
    ])


def g_vec(r, depth):
    return g_ivec(r, depth) if r.random() < 0.7 else g_fvec(r, depth)


def g_scalar_expr(r, depth):
    if depth <= 0:
        return g_num(r)
    a, b = g_scalar_expr(r, depth - 1), g_scalar_expr(r, depth - 1)
    v = g_vec(r, depth - 1)
    return r.choice([
        f"(+ {a} {b})", f"(- {a} {b})", f"(* {a} {b})",
        f"(% {a} {b})", f"(div {a} {b})",
        f"(neg {a})", f"(floor {g_float(r)})", f"(ceil {g_float(r)})",
        f"(round {g_float(r)})",
        f"(sum {v})", f"(avg {v})", f"(count {v})",
        f"(first {v})", f"(last {v})",
        # med only over int vectors: the reference rejects F64 med with
        # 'type (ours accepts — documented superset, kept out of the
        # fuzz to preserve signal)
        f"(med {g_ivec(r, max(0, depth - 1))})",
        f"(min {v})", f"(max {v})",
    ])


def g_bool_expr(r, depth):
    a, b = g_scalar_expr(r, depth - 1), g_scalar_expr(r, depth - 1)
    op = r.choice(["==", "<", ">", "<=", ">=", "!="])
    e = f"({op} {a} {b})"
    if r.random() < 0.3:
        e = f"(not {e})"
    return e


def g_vec_expr(r, depth):
    v = g_vec(r, depth)
    w = g_ivec(r, depth - 1) if depth > 0 else g_ivec(r, 0)
    return r.choice([
        v,
        f"(asc {v})", f"(desc {v})", f"(rank {g_ivec(r, depth)})",
        f"(iasc {v})", f"(idesc {v})",
        f"(in {w} {g_ivec(r, 0)})",
        f"(except {w} {g_ivec(r, 0)})",
        f"(sect {w} {g_ivec(r, 0)})",
        f"(union {w} {g_ivec(r, 0)})",
        f"(find {w} {g_ivec(r, 0)})",
        f"(raze (list {g_ivec(r, 0)} {g_ivec(r, 0)}))",
        f"(scan (fn [a x] (+ a x)) {w})",
        f"(fold (fn [a x] (+ a x)) {w})",
        f"(fold max {w})",
        f"(map (fn [x] (+ x 1)) {w})",
        f"(map-left + {g_int(r)} {w})",
        f"(map-right - {w} {g_int(r)})",
        f"(map-right / {w} {r.choice([0, 2, 3])})",  # /0 -> null parity
        f"(at {w} 0)",
        f"(xbar {r.randint(1, 5)} {w})",
        f"(xrank {r.randint(1, 4)} {w})",
        f"(reverse {v})",
        f"(distinct (concat {w} {w}))",
        f"(take {w} {r.randint(1, 12)})",  # > len -> cyclic take parity
        # fold-right/scan-right excluded: the binary's lambda path
        # misdispatches (latches init) and (fold-left + …) CRASHES the
        # server — our engine implements the coherent seeded fold/scan
        # (evalr.py fold-right), a documented divergence like 'type
    ])


_STRS = ['"hello"', '"a,b,c"', '"test"', '"xyx"', '"Spark SQL"', '""',
         '"aab,ba"']
_PATS = ['"h*"', '"*a*"', '"t?st"', '"*"', '"x*x"']


def g_str_expr(r):
    s = r.choice(_STRS)
    return r.choice([
        f"(reverse {s})",
        f"(concat {s} {r.choice(_STRS)})",
        f"(split {s} \",\")",
        f"(like {s} {r.choice(_PATS)})",
        f"(count {s})",
        f"(distinct {s})",
        f'(format "%-%" {g_int(r)} {s})',
        f"(take {s} {r.randint(1, 9)})",
        f"(at {s} {r.randint(0, 3)})",
    ])


def g_misc_expr(r):
    w = g_ivec(r, 1)
    sorted_lit = "[" + " ".join(
        str(v) for v in sorted(r.sample(range(-5, 40), r.randint(2, 5)))
    ) + "]"
    lo = r.randint(-5, 10)
    t = r.choice(["09:00:00", "10:20:30.400", "23:59:59.999"])
    d = r.choice(["2020.01.05", "2012.12.12", "1999.12.31"])
    return r.choice([
        f"(bin {sorted_lit} {g_int(r)})",
        f"(binr {sorted_lit} {g_int(r)})",
        f"(within {w} [{lo} {lo + r.randint(0, 20)}])",
        f"(group {w})",
        f"(group (concat {w} {w}))",
        f"(key (dict [a b c] (list {g_int(r)} {g_int(r)} {g_int(r)})))",
        f"(value (dict [a b] (list {g_num(r)} {g_ivec(r, 0)})))",
        f"(at (concat {w} {w}) [0 1])",
        f"(enlist {g_num(r)})",
        f"(raze (list {g_ivec(r, 0)} {g_num(r)}))",
        f"(+ {t} {r.randint(0, 100000)})",
        f"(- {d} {r.randint(0, 1000)})",
        f"(- {d} {r.choice(['2020.01.01', '2012.12.01'])})",
        f"(xbar [{t}] {r.choice([1000, 60000, 500])})",
        f"(xbar [{d}] {r.randint(1, 7)})",
    ])


def gen_expr(r):
    roll = r.random()
    if roll < 0.30:
        return g_scalar_expr(r, 2)
    if roll < 0.45:
        return g_bool_expr(r, 2)
    if roll < 0.60:
        return g_str_expr(r)
    if roll < 0.75:
        return g_misc_expr(r)
    return g_vec_expr(r, 2)


# -- evaluation + compare ----------------------------------------------------

I64_NULL = -(2**63)  # the reference's 0Nl sentinel on the wire
I32_NULL = -(2**31)


def norm(v):
    """Shared normalization with the lang.c sweep (ints→float, syms→str,
    typed wrappers unwrapped) so both engines land in one value space.
    Nulls unify: our None, the reference's NaN (0n IS nan) and the
    int-null sentinels (0Nl = INT64_MIN on the wire) all become None."""
    from rayfall_langc_sweep import _norm

    from rayforce_spark.rayfall.serde import ErrVal, Table

    if isinstance(v, ErrVal):
        raise RuntimeError(str(v))
    if isinstance(v, Table):
        v = dict(v)
    return _nullify(_norm(v))


def _nullify(v):
    if isinstance(v, float) and (v != v or v in (I64_NULL, I32_NULL)):
        return None
    if isinstance(v, int) and v in (I64_NULL, I32_NULL):
        return None
    if v == "\x00" or v == "":
        # the reference's typed nulls for OOB gather: NUL char / empty
        # symbol ((at "x" 9) -> '\0', (at ['a] 9) -> '') — our engine
        # answers None for all of them
        return None
    if isinstance(v, list):
        return [_nullify(x) for x in v]
    if isinstance(v, dict):
        return {k: _nullify(x) for k, x in v.items()}
    return v


def values_eq(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if a != a and b != b:  # NaN == NaN for parity purposes
            return True
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(a, list) and isinstance(b, list):
        return (len(a) == len(b)
                and all(values_eq(x, y) for x, y in zip(a, b)))
    if isinstance(a, dict) and isinstance(b, dict):
        return (list(a.keys()) == list(b.keys())
                and values_eq(list(a.values()), list(b.values())))
    if isinstance(a, bool) is not isinstance(b, bool):
        # reference comparison verbs return B8; ours too — but a float
        # 1.0 vs True is a real difference, keep strict
        return False
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return values_eq(float(a), float(b))
    return a == b


import re as _re

_ORDER_HEAD = _re.compile(r"^\((asc|desc|iasc|idesc|rank) (.+)\)$")


def _known_ref_bug(expr: str, srv, ours) -> bool:
    """The reference tracks a sorted-attribute on vectors but a multiply
    by a NEGATIVE scalar fails to flip it, so downstream asc/iasc/rank
    shortcut on the stale flag — minimal live repro:
    (asc (* (til 9) -7)) returns the vector UNSORTED.

    Classified EMPIRICALLY, not syntactically: re-evaluate the order
    verb on a LITERAL copy of its argument (literals carry no stale
    attribute). If the literal form agrees with ours, the divergence
    was attribute-carried — the reference's bug, not ours."""
    from rayforce_spark.interop import reference_eval

    m = _ORDER_HEAD.match(expr)
    if not m:
        return False
    verb, inner = m.groups()
    try:
        vals = reference_eval(srv, inner)
        if not isinstance(vals, list) or not all(
                isinstance(v, (int, float)) and not isinstance(v, bool)
                for v in vals):
            return False
        lit = "[" + " ".join(repr(v) if isinstance(v, float) else str(v)
                             for v in vals) + "]"
        relit = norm(reference_eval(srv, f"({verb} {lit})"))
    except Exception:  # noqa: BLE001 - classification is best-effort
        return False
    return values_eq(relit, ours)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=2000)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--list", type=int, default=25,
                    help="max divergences to list in the report")
    args = ap.parse_args()

    from rayforce_spark.interop import (
        REFERENCE_BIN, reference_eval, spawn_reference_server)
    from rayforce_spark.rayfall import Interp

    if not os.path.exists(REFERENCE_BIN):
        print(f"ref_diff: missing {REFERENCE_BIN} (build it from the "
              "reference checkout with scripts/build_reference.sh)",
              file=sys.stderr)
        sys.exit(2)

    r = random.Random(args.seed)
    exprs = []
    seen = set()
    while len(exprs) < args.n:
        e = gen_expr(r)
        if e not in seen:
            seen.add(e)
            exprs.append(e)

    srv = spawn_reference_server()
    interp = Interp(None)
    counts = {"match": 0, "both_error": 0, "mismatch": 0,
              "ours_error": 0, "ref_error": 0, "ref_crash": 0,
              "ref_bug": 0}
    diverge = []
    crashes = []
    try:
        for i, e in enumerate(exprs):
            ours = theirs = None
            ours_err = theirs_err = None
            try:
                ours = norm(interp.eval_str(e))
            except Exception as ex:  # noqa: BLE001 - error IS the outcome
                ours_err = f"{type(ex).__name__}: {ex}"
            try:
                theirs = norm(reference_eval(srv, e))
            except (ConnectionError, OSError):
                # the reference PROCESS died on this input (found live:
                # (fold-left + 0 [1 2 3]) segfaults it) — respawn and
                # record; ours handling the same input is not a mismatch
                counts["ref_crash"] += 1
                crashes.append(e)
                srv.stop()
                srv = spawn_reference_server()
                continue
            except Exception as ex:  # noqa: BLE001
                theirs_err = str(ex)
            if ours_err and theirs_err:
                counts["both_error"] += 1
            elif ours_err:
                counts["ours_error"] += 1
                diverge.append((e, f"ours errored: {ours_err}",
                                f"ref: {theirs!r}"))
            elif theirs_err:
                counts["ref_error"] += 1
                diverge.append((e, f"ours: {ours!r}",
                                f"ref errored: {theirs_err}"))
            elif values_eq(ours, theirs):
                counts["match"] += 1
            elif _known_ref_bug(e, srv, ours):
                counts["ref_bug"] += 1
                diverge.append((e, f"ours: {ours!r}",
                                f"ref (known sort-flag bug): {theirs!r}"))
            else:
                counts["mismatch"] += 1
                diverge.insert(0, (e, f"ours: {ours!r}",
                                   f"ref: {theirs!r}"))
            if (i + 1) % 250 == 0:
                print(f"[{i + 1}/{len(exprs)}] {counts}", file=sys.stderr)
    finally:
        srv.stop()

    write_md(args, counts, diverge, crashes)
    print(json.dumps({"n": len(exprs), "seed": args.seed, **counts}))
    return 1 if counts["mismatch"] else 0


def write_md(args, counts, diverge, crashes=()):
    agree = counts["match"] + counts["both_error"]
    lines = [
        "# REF_DIFF — differential fuzzing vs the live reference binary",
        "",
        f"{args.n} seeded-random programs (seed {args.seed}; grammar over "
        "the shared verb surface: arithmetic / comparison / logic / "
        "vector ops / aggregation / ordering / sets / fold-scan-map) "
        "evaluated in BOTH engines — ours via `rayfall.Interp`, the "
        "reference via a live `rayforce -p` server through our "
        "byte-compatible serde (so every case also exercises the IPC "
        "wire). Produced by scripts/ref_diff.py; the harness exits "
        "nonzero on any value mismatch.",
        "",
        "| outcome | count |",
        "|---|---|",
        f"| value match | {counts['match']} |",
        f"| both error (agree on rejection) | {counts['both_error']} |",
        f"| **value mismatch (both succeed, differ)** | "
        f"**{counts['mismatch']}** |",
        f"| only ours errors | {counts['ours_error']} |",
        f"| only reference errors | {counts['ref_error']} |",
        f"| reference process crashed | {counts['ref_crash']} |",
        f"| reference sort-flag bug (empirically confirmed) | "
        f"{counts.get('ref_bug', 0)} |",
        "",
        f"Agreement: {agree}/{args.n} "
        f"({100.0 * agree / max(1, args.n):.1f}%).",
        "",
        "`ref_bug` rows are divergences where re-evaluating the same "
        "order verb on a LITERAL copy of its argument makes the "
        "reference agree with us: its sorted-flag attribute survives a "
        "multiply by a negative scalar, so asc/iasc/rank shortcut on "
        "stale metadata (minimal repro: `(asc (* (til 9) -7))` returns "
        "the vector unsorted). One-sided `ref_error` rows are verbs the "
        "reference restricts harder than we do (e.g. `med` rejects F64 "
        "vectors with 'type; scalar `min`/`max` are vector-only) — our "
        "engine is a documented superset there.",
    ]
    if crashes:
        lines += ["", "## Inputs that crashed the reference process", ""]
        lines += [f"* `{e}`" for e in list(crashes)[:10]]
        lines += ["",
                  "(Our engine evaluates these normally; the harness "
                  "respawns the binary and continues. Reference bugs "
                  "found live are documented, not replicated — e.g. "
                  "`(fold-left + 0 [1 2 3])` kills the process, and "
                  "i16-vector replies arrive truncated because "
                  "core/serde.c size_obj lacks a TYPE_I16 vector case "
                  "while ser_raw writes one.)"]
    if diverge:
        lines += ["", f"## Divergences (first {args.list})", ""]
        for e, a, b in diverge[:args.list]:
            lines.append(f"* `{e}` — {a} | {b}")
    with open(OUT, "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    raise SystemExit(main())
