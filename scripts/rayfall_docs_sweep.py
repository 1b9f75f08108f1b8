"""Sweep the reference's documentation code blocks through the Rayfall
front-end and report executability coverage.

The reference ships ~190 ```clj blocks across its docs (its own harness,
docs/tests/test_docs.py, runs them against the C REPL with a ↪ input
convention). This sweep extracts each block's expressions (a line opening
with ``(`` starts an expression; it continues until parentheses balance;
box-drawing/result lines are display output and are skipped), evaluates
them in one Interp per page, and tallies per page:

  ok           — evaluated without error
  unsupported  — RayfallError (verb/form outside the front-end's scope)
  error        — anything else (a bug worth looking at)
  skipped      — dataset-scale literals (>= 1e6 rows driver-side) or
                 known non-goals (IPC handles, file paths)

Output parity is NOT checked here — tests/test_rayfall.py pins exact
values for the main examples; this measures breadth. Writes
RAYFALL_PARITY.md. Usage: python scripts/rayfall_docs_sweep.py [page.md]
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DOCS = "/root/reference/docs/docs/content"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "RAYFALL_PARITY.md")

# non-goals: process/IPC/env pages whose snippets drive the C runtime
SKIP_PAGES = {"IPC.md", "REPL.md", "environment.md"}  # host-language pages
# serialization.md executes for real since r6's byte-compatible serde
SKIP_PAT = re.compile(r"hopen|loadfn|\(system|\(timer|\(memstat|\(gc\)|\(env\)"
                      r"|\(sysinfo|\(internals|\(exit|\(load ")
# quoted filesystem paths are redirected into a per-run sandbox so the
# splayed/parted/csv examples execute for real instead of being skipped
PATH_RE = re.compile(r'"(/(?:tmp|path|data)(?:/[^"]*)?)"')
BIG_LIT = re.compile(r"\b\d{7,}\b")

# tables the docs assume from earlier pages / an ongoing REPL session
AMBIENT = """
(set employees (table [name dept salary hire_date region]
  (list
    (list "Alice" "Bob" "Charlie" "David")
    ['IT 'HR 'IT 'IT]
    [75000 65000 85000 72000]
    [2021.01.15 2020.03.20 2019.11.30 2022.05.10]
    ['east 'west 'east 'west])))
(set trades (table [sym price size dept region day]
  (list
    ['AAPL 'MSFT 'AAPL 'GOOG]
    [101.5 99.25 102.0 98.75]
    [100 200 150 300]
    ['IT 'HR 'IT 'IT]
    ['east 'west 'east 'west]
    [2024.01.01 2024.01.01 2024.01.02 2024.01.02])))
(set day1-trades trades)
(set day2-trades trades)
(set day3-trades trades)
(set t (table [id sym val day]
  (list [1 2 3] ['a 'b 'c] [1.5 2.5 3.5]
        [2024.01.01 2024.01.01 2024.01.02])))
"""

# the database / csv pre-state the doc examples read before (or without)
# writing in-page ("assume a db at /tmp/db"): created through the
# front-end's own storage verbs, so seeding doubles as write coverage
SEED = """
(set __seed (table [id sym val] (list [1 2 3] ['a 'b 'c] [1.5 2.5 3.5])))
(set-parted "{sb}/tmp/db/tab/" trades)
(set-parted "{sb}/tmp/db/trades/" trades)
(set-splayed "{sb}/tmp/db/2024.01.01/trades/" trades)
(set-splayed "{sb}/tmp/db/2024.01.02/trades/" trades)
(write-csv "{sb}/path/to/file.csv" __seed)
"""
NONDET = re.compile(r"\((rand|guid|date|time|timestamp) ")

# known inconsistencies in the reference docs themselves (their own docs
# harness only executes arrow-prefixed blocks, so these never ran there
# either): counted as skipped, with the reason kept here
DOC_ERRATA = {
    # select.md redefines `employees` WITHOUT a region column at the top
    # of the page, then the multi-key group-by example queries region
    "documentation/queries/select.md": re.compile(
        r"by: \{dept: dept region: region\}"),
}


def _looks_like_echo(form) -> bool:
    """True when a plain-block line that opens with ``(`` is really the
    reference REPL's DISPLAY of a list value, not an input expression:
    lists print as ``(1 2 3 4)`` / ``(apple banana cherry)``, so a
    misparsed echo is a paren form whose elements are all data atoms (or
    nested all-atom lists/vectors) with no dict/keyword arguments.

    Only consulted AFTER evaluation failed with unknown-verb /
    cannot-call — a real input always applies a resolvable verb, and the
    front-end resolves every reference verb (3,549/3,551 lang.c
    assertions), so an unresolvable all-atom form is an echo."""
    from rayforce_spark.rayfall.reader import DictLit, QSym, Sym, Vec

    if not isinstance(form, list) or isinstance(form, DictLit):
        return False
    for el in form:
        if isinstance(el, DictLit):
            return False
        if isinstance(el, (list, Vec)) and not isinstance(el, DictLit):
            if not _looks_like_echo(list(el)):
                return False
        elif not isinstance(el, (Sym, QSym, str, bool, int, float)):
            return False
    return True


def _balanced(s: str) -> bool:
    depth, in_str = 0, False
    for i, c in enumerate(s):
        if in_str:
            if c == '"' and (i == 0 or s[i - 1] != "\\"):
                in_str = False
        elif c == '"':
            in_str = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
    return depth <= 0


def extract_exprs(block: str) -> list[tuple[str, str | None]]:
    """(expression, expected_output_line) pairs from one code block.

    Two conventions appear in the reference docs: plain blocks
    (expressions open with ``(``, display output in between is dropped)
    and the ↪ input-prefix convention of the reference's own docs harness
    (docs/tests/test_docs.py: ↪ starts an input, following lines are its
    expected output). Expected output is kept only when it is a single
    simple-literal line — box-drawing tables are display-only.
    """
    arrow = "↪" in block
    out: list[tuple[str, str | None]] = []
    cur, expected = None, []

    def flush():
        nonlocal cur, expected
        if cur is not None:
            exp = expected[0].strip() if len(expected) == 1 else None
            out.append((cur, exp))
        cur, expected = None, []

    for raw in block.split("\n"):
        line = raw.strip()
        if not line or line.startswith(";"):
            continue
        if arrow:
            if line.startswith("↪"):
                flush()
                cur = line[1:].strip()
            elif cur is not None and not _balanced(cur):
                cur += "\n" + raw
            elif cur is not None:
                expected.append(line)
            continue
        if cur is None:
            if line.startswith("("):
                cur = line
        else:
            cur += "\n" + raw
        if cur is not None and _balanced(cur):
            out.append((cur, None))
            cur = None
    if arrow:
        flush()
    return out


_SIMPLE_OUT = re.compile(r"^[\[\]0-9a-zA-Z ._\"'+-]+$")


def _match(value, expected: str) -> bool | None:
    """Compare an evaluated value against a simple expected-output line;
    None = not comparable (tables, errors, fuzzy formats)."""
    if not _SIMPLE_OUT.match(expected) or expected.startswith("••"):
        return None
    from rayforce_spark.rayfall.reader import QSym, parse

    try:
        (exp,) = parse(expected if expected.startswith("[") else f"[{expected}]")
    except Exception:
        return None

    def norm(v):
        if isinstance(v, QSym):
            return str(v)
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            return v
        return float(v)

    exp = [norm(v) for v in exp]
    got = value if isinstance(value, list) else [value]
    try:
        got = [norm(v) for v in got]
        if len(exp) != len(got):
            return False
        for a, b in zip(got, exp):
            if isinstance(a, float) and isinstance(b, float):
                if abs(a - b) > 1e-6 * max(1.0, abs(b)):
                    return False
            elif a != b:
                return False
        return True
    except Exception:
        return None


def sweep(pages: list[str]):
    from rayforce_spark.rayfall import Interp, RayfallError
    from rayforce_spark.session import get_spark

    spark = get_spark("rayfall_sweep")
    import tempfile

    report = []
    gaps: dict[str, int] = {}
    for page in pages:
        rel = page.split("content/")[-1]
        if os.path.basename(page) in SKIP_PAGES:
            continue
        blocks = re.findall(r"```clj\n(.*?)```", open(page).read(), re.S)
        if not blocks:
            continue
        ok = val = mismatch = unsup = err = skip = 0
        it = Interp(spark)
        # ambient fixture tables several doc pages reference without
        # defining (the docs build them on earlier pages / in the REPL
        # session); seeding them measures front-end breadth rather than
        # doc-session continuity. Sandbox is per-page so one page's
        # storage writes can't leak into another's reads. A seeding
        # failure is recorded as a page-level error instead of aborting
        # the whole sweep (a regression in set-parted/write-csv should
        # show up as red rows, not a dead report).
        sandbox = tempfile.mkdtemp(prefix="rayfall_sweep_")
        try:
            it.eval_str(AMBIENT)
            it.eval_str(SEED.replace("{sb}", sandbox))
        except Exception as e:
            print(f"[seed-error] {rel}: {type(e).__name__}: "
                  f"{str(e)[:120]}", file=sys.stderr)
            err += 1
        errata = DOC_ERRATA.get(rel)
        for b in blocks:
            for expr, expected in extract_exprs(b):
                # "..." inside a form is the docs' elision placeholder
                # ("(update {... from: t})") — not executable anywhere,
                # including the reference itself; count as skipped.
                if (SKIP_PAT.search(expr) or BIG_LIT.search(expr)
                        or re.search(r"[\s{(]\.\.\.[\s})]", expr)):
                    skip += 1
                    continue
                if errata is not None and errata.search(expr):
                    skip += 1  # documented reference-docs inconsistency
                    continue
                expr = PATH_RE.sub(
                    lambda m: '"' + sandbox + m.group(1) + '"', expr)
                try:
                    from rayforce_spark.rayfall.reader import Sym
                    from rayforce_spark.rayfall.reader import parse as _p

                    form = _p(expr)[0]
                    raises = (isinstance(form, list) and form
                              and form[0] == Sym("raise"))
                    try:
                        v = it.eval(form)
                    except RayfallError:
                        if raises:
                            ok += 1  # (raise "msg") raising IS the verb
                            continue
                        raise
                    # force lazy plans so analysis errors count here
                    if hasattr(v, "take"):
                        v.take(1)
                    ok += 1
                    if expected is not None and not NONDET.search(expr):
                        m = _match(v, expected)
                        if m is True:
                            val += 1
                        elif m is False:
                            mismatch += 1
                            print(f"[mismatch] {rel}: {expr} -> {v!r} "
                                  f"(doc: {expected})", file=sys.stderr)
                except RayfallError as e:
                    if _looks_like_echo(form):
                        # the REPL's list display ("(1 2 3 4)") misread
                        # as input by the plain-block extractor
                        skip += 1
                        continue
                    unsup += 1
                    verb = str(e).split(":")[-1].strip()
                    gaps[verb] = gaps.get(verb, 0) + 1
                    if os.environ.get("SWEEP_DEBUG"):
                        print(f"[unsupported] {rel}: "
                              f"{expr[:90].replace(chr(10), ' ')} -> "
                              f"{str(e)[:120]}", file=sys.stderr)
                except Exception as e:
                    err += 1
                    if os.environ.get("SWEEP_DEBUG"):
                        print(f"[error] {rel}: {expr[:90]} -> "
                              f"{type(e).__name__}: {str(e)[:120]}",
                              file=sys.stderr)
        report.append((rel, ok, val, mismatch, unsup, err, skip))
        shutil.rmtree(sandbox, ignore_errors=True)
    return report, gaps


def main():
    if len(sys.argv) > 1:
        pages = sys.argv[1:]
    elif not os.path.isdir(DOCS):
        print(f"rayfall_docs_sweep: missing {DOCS} (the reference "
              "checkout's docs)", file=sys.stderr)
        sys.exit(2)
    else:
        pages = sorted(glob.glob(f"{DOCS}/**/*.md", recursive=True))
    report, gaps = sweep(pages)
    t_ok, t_val, t_mis, t_un, t_er, t_sk = (
        sum(r[i] for r in report) for i in range(1, 7)
    )
    lines = [
        "# RAYFALL_PARITY — reference doc snippets through the front-end",
        "",
        "Generated by `scripts/rayfall_docs_sweep.py` (methodology in its",
        "docstring). `ok` = expression executes; `value-match` = the doc",
        "shows a simple literal result and ours equals it (box-drawing",
        "tables are display-only and not compared — exact-value parity for",
        "the key worked examples lives in `tests/test_rayfall.py`).",
        "IPC/REPL/environment pages are out of scope (the host language is",
        "Python, SURVEY §2.9).",
        "",
        f"**Totals: {t_ok} ok ({t_val} value-matched, {t_mis} mismatched) /"
        f" {t_un} unsupported / {t_er} error / {t_sk} skipped** "
        f"({100 * t_ok // max(t_ok + t_un + t_er, 1)}% of in-scope "
        "expressions execute).",
        "",
        "| page | ok | value-match | mismatch | unsupported | error | skipped |",
        "|---|---|---|---|---|---|---|",
    ]
    for rel, ok, va, mi, un, er, sk in report:
        lines.append(f"| {rel} | {ok} | {va} | {mi} | {un} | {er} | {sk} |")
    if gaps:
        lines += ["", "Top unsupported forms:", ""]
        for verb, n in sorted(gaps.items(), key=lambda kv: -kv[1])[:15]:
            lines.append(f"- `{verb}` ({n})")
    open(OUT, "w").write("\n".join(lines) + "\n")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
