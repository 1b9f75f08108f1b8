"""Sweep the reference's OWN language test suite (tests/lang.c, ~3.5k
TEST_ASSERT_EQ cases) through the Rayfall front-end.

Each assertion is a (program, expected-output) pair of C string literals;
the program runs verbatim through ``eval_str`` in an interpreter SHARED
per test function (the reference's harness carries state across a
function's assertions: ``(set t …)`` in one case, ``(at t 'sym)`` later).
The result compares against the expected literal parsed with the same
reader (numbers approx, vectors elementwise, kdb nulls like
``0Nl``/``0n`` -> None); a non-literal expected form is EVALUATED in the
same interpreter and compared by value — exactly what the reference's
TEST_ASSERT_EQ does. Buckets:

  pass         — executed and value-matched
  mismatch     — executed, value differs (REAL divergence — investigate)
  unsupported  — RayfallError / unbound verb (out of the front-end's
                 scope: VM/adverb/string internals)
  incomparable — executed but the expected form isn't parseable data
                 (error markers, display formats)
  error        — non-Rayfall exception

Writes LANGC_PARITY.md. Usage:
  python scripts/rayfall_langc_sweep.py [--no-spark] [--mismatches N]
``--no-spark`` skips programs needing a session (table/select/joins) for
a fast pure-value run.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

LANG_C = "/root/reference/tests/lang.c"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "LANGC_PARITY.md")

_CSTR = r'"(?:[^"\\]|\\.)*"'
_CASE_RE = re.compile(
    rf"TEST_ASSERT_EQ\(\s*((?:{_CSTR}\s*)+),\s*((?:{_CSTR}\s*)+)\)",
    re.S,
)
_SECTION_RE = re.compile(r"test_result_t\s+(test_\w+)\s*\(")

_SPARK_NEEDLES = ("(table", "select", "update", "insert", "upsert", "-join",
                  "enum", "splayed", "parted", "read-csv")


def _unescape(concat: str) -> str:
    parts = re.findall(_CSTR, concat, re.S)
    out = []
    for p in parts:
        body = p[1:-1]
        body = (body.replace(r"\"", '"').replace(r"\n", "\n")
                .replace(r"\t", "\t").replace("\\\\", "\\"))
        # \000 inside a rayfall STRING literal is a C-string terminator:
        # the string value truncates there (drop through the literal's
        # closing quote, not the rest of the program)
        body = re.sub(r"\\000[^\"]*", "", body)
        out.append(body)
    return "".join(out)


def extract_cases():
    src = open(LANG_C).read()
    # map byte offsets to enclosing test function names
    sections = [(m.start(), m.group(1)) for m in _SECTION_RE.finditer(src)]
    cases = []
    for m in _CASE_RE.finditer(src):
        name = "?"
        for off, n in sections:
            if off < m.start():
                name = n
            else:
                break
        cases.append((name, _unescape(m.group(1)), _unescape(m.group(2))))
    return cases


_NULLS = re.compile(r"^0[Nn][a-z]?$")


def _norm(v):
    from rayforce_spark.rayfall.reader import DictLit, QSym, Sym, TimeMs
    from rayforce_spark.rayfall.values import SymVal, TsNs

    if isinstance(v, (QSym, Sym, SymVal)):
        s = str(v)
        return None if _NULLS.match(s) else s
    if isinstance(v, bool):
        return v
    if isinstance(v, (TimeMs, TsNs)):
        return int(v)
    if isinstance(v, int):
        return float(v)
    if isinstance(v, float):
        return v
    if isinstance(v, DictLit):
        return {k: _norm(x) for k, x in v}
    if isinstance(v, dict):
        # bool keys display as true/false (group over booleans)
        def key(k):
            if isinstance(k, bool):
                return "true" if k else "false"
            return str(k)
        return {key(k): _norm(x) for k, x in v.items()}
    if isinstance(v, list):
        if v and v[0] == Sym("list"):
            v = v[1:]  # a printed (list …) is data, recursively
        return [_norm(x) for x in v]
    return v


def parse_expected(s: str):
    """Expected literal -> comparable value; None if not data we can read."""
    from rayforce_spark.rayfall.reader import Sym, parse

    s = s.strip()
    try:
        forms = parse(s)
    except Exception:
        return ("INCOMPARABLE",)
    if len(forms) != 1:
        return ("INCOMPARABLE",)
    f = forms[0]
    if isinstance(f, Sym) and not _NULLS.match(str(f)) and str(f) not in ("true", "false"):
        return ("INCOMPARABLE",)  # refers to runtime state, not data
    if isinstance(f, list) and f and f[0] == Sym("list"):
        f = list(f[1:])
        if any(isinstance(e, list) and e and isinstance(e[0], Sym)
               for e in f):
            return ("INCOMPARABLE",)  # (list (as …) …): elements are
            # expressions — evaluate instead of literal-compare
    elif isinstance(f, list) and f and isinstance(f[0], Sym):
        return ("INCOMPARABLE",)  # an expression, not a literal
    return ("OK", _norm(f))


def _df_like(v) -> bool:
    return hasattr(v, "sparkSession")


def _df_eq(a, b) -> bool:
    """Small-table equality: same columns, same multiset of rows."""
    if set(a.columns) != set(b.columns):
        return False
    cols = sorted(a.columns)
    ra = sorted(map(repr, (tuple(r[c] for c in cols) for r in a.collect())))
    rb = sorted(map(repr, (tuple(r[c] for c in cols) for r in b.collect())))
    return ra == rb


def _values_eq(a, b) -> bool:
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_values_eq(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(
            _values_eq(a[k], b[k]) for k in a)
    if isinstance(a, float) and isinstance(b, float):
        if a != a and b != b:  # NaN
            return True
        # the reference DISPLAYS ~6-7 significant digits; its expected
        # strings are display-rounded, so compare at display precision
        return abs(a - b) <= 5e-7 * max(1.0, abs(a), abs(b))
    try:
        return bool(a == b)
    except Exception:
        return False  # non-boolean __eq__ (e.g. a stray Column object)


def main():
    if not os.path.exists(LANG_C):
        print(f"rayfall_langc_sweep: missing {LANG_C} (the reference "
              "checkout's tests)", file=sys.stderr)
        sys.exit(2)
    no_spark = "--no-spark" in sys.argv
    show = 20
    for i, a in enumerate(sys.argv):
        if a == "--mismatches" and i + 1 < len(sys.argv):
            show = int(sys.argv[i + 1])

    from rayforce_spark.rayfall import Interp, RayfallError

    spark = None
    if not no_spark:
        from rayforce_spark.session import get_spark

        spark = get_spark("langc_sweep")

    cases = extract_cases()
    stats: dict[str, list[int]] = {}
    mismatches = []
    gaps: dict[str, int] = {}
    section_interp: dict[str, object] = {}
    for section, prog, expected in cases:
        st = stats.setdefault(section, [0, 0, 0, 0, 0])  # pass/mis/unsup/inc/err
        if no_spark and any(n in prog for n in _SPARK_NEEDLES):
            st[2] += 1
            continue
        try:
            # one interpreter PER TEST FUNCTION — the reference's harness
            # shares state across a function's assertions ((set t …) in
            # one case, (at t 'sym) in a later one)
            it = section_interp.setdefault(section, Interp(spark))
            got = it.eval_str(prog)
        except RayfallError as e:
            st[2] += 1
            verb = str(e).split(":")[-1].strip()[:40]
            gaps[verb] = gaps.get(verb, 0) + 1
            continue
        except Exception:
            st[4] += 1
            continue
        exp = parse_expected(expected)
        if exp[0] != "OK":
            # non-literal expected form: the reference's harness EVALUATES
            # both sides in the same context (tests/main.c TEST_ASSERT_EQ) —
            # do the same: run the expected string in the interp that just
            # ran the program and compare values (incl. DataFrames)
            try:
                ev = it.eval_str(expected)
            except Exception:
                st[3] += 1
                continue
            if _df_like(got) or _df_like(ev):
                if _df_like(got) and _df_like(ev) and _df_eq(got, ev):
                    st[0] += 1
                else:
                    st[1] += 1
                    if len(mismatches) < show:
                        mismatches.append((section, prog[:100],
                                           expected[:60], "<table>"))
                continue
            exp = ("OK", _norm(ev))
        try:
            gn = _norm(got)
        except Exception:
            st[3] += 1
            continue
        if _values_eq(gn, exp[1]):
            st[0] += 1
        else:
            st[1] += 1
            if len(mismatches) < show:
                mismatches.append((section, prog[:100], expected[:60], repr(gn)[:60]))

    tot = [sum(s[i] for s in stats.values()) for i in range(5)]
    comparable = tot[0] + tot[1]
    lines = [
        "# LANGC_PARITY — the reference's tests/lang.c through the front-end",
        "",
        "Generated by `scripts/rayfall_langc_sweep.py` (methodology in its",
        "docstring). These are the reference's OWN unit tests, run verbatim.",
        "",
        f"**Totals over {len(cases)} assertions: {tot[0]} pass / {tot[1]}"
        f" mismatch / {tot[2]} unsupported (out of front-end scope) /"
        f" {tot[3]} incomparable (non-data expected form) / {tot[4]} error**",
        f"— {100 * tot[0] // max(comparable, 1)}% of value-comparable,"
        " in-scope assertions match the reference exactly.",
        "",
        "| test function | pass | mismatch | unsupported | incomparable | error |",
        "|---|---|---|---|---|---|",
    ]
    for name, s in sorted(stats.items()):
        if sum(s):
            lines.append(f"| {name} | {s[0]} | {s[1]} | {s[2]} | {s[3]} | {s[4]} |")
    if mismatches:
        lines += ["", "Sample mismatches:", ""]
        for sec, prog, exp, got in mismatches:
            lines.append(f"- `{sec}`: `{prog}` -> got `{got}`, reference `{exp}`")
    if gaps:
        lines += ["", "Top unsupported forms:", ""]
        for verb, n in sorted(gaps.items(), key=lambda kv: -kv[1])[:20]:
            lines.append(f"- `{verb}` ({n})")
    open(OUT, "w").write("\n".join(lines) + "\n")
    print("\n".join(lines[:12]))


if __name__ == "__main__":
    main()
