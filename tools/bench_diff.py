#!/usr/bin/env python3
"""Diff two BENCH_DETAIL.json files (per-query seconds).

Usage: python3 tools/bench_diff.py <old.json> <new.json> [threshold]

Prints queries added/removed and any query whose time changed by more than
`threshold` ratio (default 1.5x) — separates real regressions from the
host-noise the bench README warns about (rerun before believing a single
sample).
"""
import json
import sys


def load(path):
    """Per-query seconds: norm_min of each query entry (raw floats in
    pre-r14 files); the "failed", "errors" and "session_s" keys are not
    queries."""
    out = {}
    for q, v in json.load(open(path)).items():
        if q in ("failed", "errors", "session_s"):
            continue
        out[q] = v["norm_min"] if isinstance(v, dict) else v
    return out


def main(old_path, new_path, threshold=1.5):
    old = load(old_path)
    new = load(new_path)
    for q in sorted(set(new) - set(old)):
        print(f"ADDED     {q:40s} {new[q]:7.3f}s")
    for q in sorted(set(old) - set(new)):
        print(f"REMOVED   {q:40s} {old[q]:7.3f}s")
    moved = []
    for q in sorted(set(old) & set(new)):
        a, b = old[q], new[q]
        # 0.000s entries (sub-millisecond rounding) can't form a ratio —
        # report any 0 <-> non-zero transition as moved
        if a <= 0 or b <= 0:
            if a != b:
                moved.append((float("inf") if b > a else 0.0, q, a, b))
        elif b / a > threshold or a / b > threshold:
            moved.append((b / a, q, a, b))
    for r, q, a, b in sorted(moved, reverse=True):
        tag = "SLOWER" if r > 1 else "FASTER"
        print(f"{tag}    {q:40s} {a:7.3f}s -> {b:7.3f}s ({r:.2f}x)")
    print(f"total: {sum(old.values()):.1f}s -> {sum(new.values()):.1f}s "
          f"({len(old)} -> {len(new)} queries)")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2],
         float(sys.argv[3]) if len(sys.argv) > 3 else 1.5)
