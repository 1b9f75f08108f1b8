#!/bin/sh
# Build the reference engine OUT-OF-TREE for differential testing.
#
# /root/reference is read-only public source; we copy it to /tmp and
# build there (no reference code enters this repo — the binary is a
# test oracle, exactly like DuckDB). CC defaults to gcc because the
# container ships gcc but not clang (the reference Makefile's default).
#
# Produces /tmp/refbuild/rayforce. Used by:
#   scripts/ref_native_bench.py  — same-box BASELINE recalibration
#   scripts/ref_diff.py          — live differential parity harness
#   tests that mark themselves skipped when the binary is absent
set -e
SRC="${1:-/root/reference}"
DST="${2:-/tmp/refbuild}"
if [ -x "$DST/rayforce" ]; then
    echo "already built: $DST/rayforce"
    exit 0
fi
if [ ! -d "$SRC" ]; then
    echo "missing reference checkout: $SRC" >&2
    exit 2
fi
rm -rf "$DST"
cp -r "$SRC" "$DST"
cd "$DST"
make release CC=gcc -j"$(nproc)" >/tmp/refbuild.log 2>&1 || {
    echo "build failed; tail of /tmp/refbuild.log:" >&2
    tail -20 /tmp/refbuild.log >&2
    exit 1
}
echo "built: $DST/rayforce"
