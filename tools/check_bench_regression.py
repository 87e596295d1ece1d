#!/usr/bin/env python
"""Round-over-round bench regression guard.

Compares a bench run (``bench.py`` output JSON) against the most recent
driver-recorded ``BENCH_r*.json`` and fails loudly on per-query
regressions — so a q29-style slide (r3 2.1 s -> r5 3.4 s, caught only by
the round-5 judge) is caught in-round by the builder instead.

Usage:
    python tools/check_bench_regression.py current.json        # compare file
    python bench.py | python tools/check_bench_regression.py   # pipe
    python tools/check_bench_regression.py --run               # run bench.py
    ... [--baseline BENCH_r05.json] [--threshold 1.5] [--min-delta 0.5]

A query regresses when BOTH hold (the absolute floor keeps 0.1 s-scale
noise from tripping the ratio):
    current > previous * threshold    (default 1.5x, VERDICT r5 #3)
    current - previous > min_delta    (default 0.5 s)

Exit status: 0 = no regressions, 1 = regressions found, 2 = usage/data
error. Single local runs vary ~±30% (cold page cache — see SCALE.md), so
treat a failure as "profile this query now", not necessarily "the commit
is bad"; re-run to confirm before reverting.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _short(name: str) -> str:
    """``q29_lsh_neardup`` -> ``q29``; non-qNN names pass through. bench.py's
    compact stdout line (round 7+) carries short keys while driver baselines
    from earlier rounds carry long names — normalizing both sides keeps them
    comparable (q-numbers are unique registry identifiers)."""
    m = re.match(r"(q\d+)_", name)
    return m.group(1) if m else name


#: bench.py clamps a packed entry at 36²−1 deciseconds (``zz``, 129.5 s)
_PACKED_CLAMP_DS = 36 * 36 - 1


def _expand_packed(d: dict) -> dict:
    """Re-expand the round-16 packed timing string (``t``: 2 base36
    digits of deciseconds per query, ascending short-name order — see
    bench.py's module docstring) into the ``queries`` map, OVERRIDING
    the map's coarser integer-second entries — except where the packed
    value sits at its 129.5 s clamp (``zz``): that is only a lower
    bound, so a map entry for the query (exact past the clamp) is kept.
    The name order is reconstructed from the current registry and
    cross-checked against the payload's ``tch`` name-list checksum; on
    any mismatch the payload is returned untouched."""
    t = d.get("t")
    if not isinstance(t, str) or not t:
        return d
    try:
        sys.path.insert(0, REPO)
        from powerdatapipeline_spark.queries import REGISTRY
        shorts = sorted({_short(n) for n in REGISTRY} | {"flagship"})
    except Exception:
        return d
    if len(t) != 2 * len(shorts):
        return d
    if d.get("tch"):
        import hashlib
        if (hashlib.md5(",".join(shorts).encode()).hexdigest()[:6]
                != d["tch"]):
            return d
    queries = dict(d.get("queries", {}))
    in_map = {_short(n) for n in queries}
    for i, s in enumerate(shorts):
        ds = int(t[2 * i:2 * i + 2], 36)
        if ds < _PACKED_CLAMP_DS or s not in in_map:
            queries[s] = ds / 10.0
    return {**d, "queries": queries}


def _unwrap(d: dict) -> dict | None:
    """Bench payload from either raw bench.py output ({value, queries, ...})
    or the driver's BENCH_r*.json envelope ({n, rc, tail, parsed: {...}});
    None when the round has no usable per-query timings (e.g. rc!=0)."""
    if isinstance(d.get("queries"), dict) and d["queries"]:
        return _expand_packed(d)
    inner = d.get("parsed")
    if (d.get("rc", 0) == 0 and isinstance(inner, dict)
            and isinstance(inner.get("queries"), dict) and inner["queries"]):
        return _expand_packed(inner)
    return None


def latest_baseline(repo: str = REPO) -> str | None:
    """Newest-round BENCH_r*.json with usable per-query timings (crashed
    rounds like BENCH_r04 recorded rc=1 without a clean parse)."""
    hits = []
    for p in glob.glob(os.path.join(repo, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)", p)
        if m:  # skip e.g. a stray BENCH_rerun.json instead of crashing
            hits.append((int(m.group(1)), p))
    paths = [p for _, p in sorted(hits, reverse=True)]
    for p in paths:
        try:
            with open(p) as f:
                d = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        if _unwrap(d) is not None:
            return p
    return None


def find_regressions(current: dict, baseline: dict,
                     threshold: float = 1.5,
                     min_delta: float = 0.5) -> list[tuple[str, float, float]]:
    """(name, previous_sec, current_sec) for every common query that
    regressed past both the ratio and the absolute floor."""
    out = []
    prev_q = {_short(n): v for n, v in baseline.get("queries", {}).items()}
    cur_q = {_short(n): v for n, v in current.get("queries", {}).items()}
    for name in sorted(set(prev_q) & set(cur_q)):
        prev, cur = float(prev_q[name]), float(cur_q[name])
        if cur > prev * threshold and cur - prev > min_delta:
            out.append((name, prev, cur))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("current", nargs="?",
                    help="bench JSON file (default: stdin, or --run)")
    ap.add_argument("--run", action="store_true",
                    help="run bench.py now and compare its output")
    ap.add_argument("--repeat", type=int, default=1, metavar="N",
                    help="with --run: run bench.py N times and compare "
                    "per-query MINIMUMS — single runs vary ~±30%% with "
                    "machine load, and the min is the least noisy "
                    "estimator of a query's true cost")
    ap.add_argument("--baseline", help="baseline bench JSON "
                    "(default: newest valid BENCH_r*.json)")
    ap.add_argument("--threshold", type=float, default=1.5)
    ap.add_argument("--min-delta", type=float, default=0.5)
    args = ap.parse_args()

    if args.repeat != 1 and not args.run:
        print("--repeat only applies with --run (a file/stdin payload is a "
              "single run); pass --run to take per-query minimums")
        return 2

    if args.run:
        runs = []
        for i in range(max(1, args.repeat)):
            proc = subprocess.run(
                [sys.executable, os.path.join(REPO, "bench.py")],
                capture_output=True, text=True)
            if proc.returncode != 0:
                print(f"bench.py failed (rc={proc.returncode}):\n"
                      f"{proc.stderr[-2000:]}")
                return 2
            # prefer the detail file bench.py just wrote (rc==0 means it
            # is fresh): full names + 3-decimal timings, and it survives
            # the compact stdout line's overflow fallback that drops the
            # per-query map once the registry outgrows MAX_LINE
            payload = None
            try:
                with open(os.path.join(REPO, "BENCH_DETAIL.json")) as f:
                    d = json.load(f)
                if isinstance(d.get("queries"), dict) and d["queries"]:
                    payload = d
            except (OSError, json.JSONDecodeError):
                pass
            if payload is None:
                payload = json.loads(proc.stdout.strip().splitlines()[-1])
            runs.append(payload)
        current = runs[0]
        if len(runs) > 1:
            if not all(isinstance(r.get("queries"), dict) and r["queries"]
                       for r in runs):
                print("bench runs carry no per-query map (compact line "
                      "overflow and no BENCH_DETAIL.json) — cannot take "
                      "per-query minimums")
                return 2
            # normalize names BEFORE taking minimums: one run may come
            # from BENCH_DETAIL.json (long names) and another from the
            # compact stdout fallback (qNN keys) — without this, the
            # "minimum over N runs" silently degrades to a single run's
            # value for every query
            norm_runs = [{_short(n): v for n, v in r["queries"].items()}
                         for r in runs]
            qmins = {q: min(float(r[q]) for r in norm_runs if q in r)
                     for q in norm_runs[0]}
            current = {**runs[0], "queries": qmins,
                       "value": round(sum(qmins.values()), 3)}
    elif args.current:
        with open(args.current) as f:
            current = json.load(f)
    else:
        current = json.loads(sys.stdin.read())

    base_path = args.baseline or latest_baseline()
    if base_path is None:
        print("no valid BENCH_r*.json baseline found; nothing to compare")
        return 0
    with open(base_path) as f:
        baseline = _unwrap(json.load(f))
    if baseline is None:
        print(f"baseline {base_path} has no usable per-query timings")
        return 2
    current = _unwrap(current)
    if current is None:
        # a crashed run or malformed payload must FAIL the gate, not
        # degrade to an empty comparison that prints "no regressions"
        print("current bench payload has no usable per-query timings "
              "(crashed run or malformed JSON?)")
        return 2

    regs = find_regressions(current, baseline, args.threshold, args.min_delta)
    common = ({_short(n) for n in baseline.get("queries", {})}
              & {_short(n) for n in current.get("queries", {})})
    print(f"baseline {os.path.basename(base_path)} "
          f"(total {baseline.get('value')}s) vs current "
          f"(total {current.get('value')}s), {len(common)} common queries")
    for name, prev, cur in regs:
        # a compact-integer baseline rounds sub-0.5 s entries to 0 —
        # the ratio is then meaningless (and 0-division); the absolute
        # delta already passed the min_delta gate above
        ratio = f"({cur / prev:.1f}x)" if prev > 0 else "(from ~0s)"
        print(f"  REGRESSED {name}: {prev:.2f}s -> {cur:.2f}s {ratio}")
    if not regs:
        print("no per-query regressions "
              f"(>{args.threshold}x and >{args.min_delta}s)")
    return 1 if regs else 0


if __name__ == "__main__":
    sys.exit(main())
