"""Interleaved A/B of a runtime SQL conf over named queries (r13, VERDICT
item 1: settle the dedup_minhash rule-exclusion question with an
interleaved median-of-5, not cross-session samples).

Arms alternate WITHIN one session per rep (A,B,A,B,...), so ambient host
drift lands on both arms equally. Each arm sets the conf, runs the query
via the noop sink (guide §1.4) with System.gc() outside the timed region,
then restores. Warm-up: both arms once at sf0.001 + once untimed at the
probe sf so codegen for BOTH plan shapes is compiled before timing.

Usage:
    python scripts/ab_conf.py --conf KEY --a VALUE_A --b VALUE_B \
        [--sf DIR] [--reps N] query [query ...]

Prints one JSON line per query:
  {"query": q, "conf": KEY, "a": [...], "b": [...],
   "median_a": s, "median_b": s, "b_over_a": ratio}
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from ocs_duckdb_runner_spark.registry import all_queries  # noqa: E402
from ocs_duckdb_runner_spark.session import build_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--conf", required=True)
    ap.add_argument("--a", required=True, help="arm A value ('' = unset)")
    ap.add_argument("--b", required=True, help="arm B value ('' = unset)")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    spark = build_spark(app_name="ab-conf")
    qs = all_queries()

    def _set(v: str) -> None:
        if v == "":
            spark.conf.unset(args.conf)
        else:
            spark.conf.set(args.conf, v)

    def _run(name: str, sf: str) -> float:
        spark.sparkContext._jvm.System.gc()
        spark.sparkContext.setJobDescription(f"ab: {name}")
        t0 = time.monotonic()
        qs[name](spark, sf).write.format("noop").mode("overwrite").save()
        return round(time.monotonic() - t0, 3)

    warm = "/root/testdata/sf0.001"
    for name in args.queries:
        if name not in qs:
            print(f"unknown query: {name}", file=sys.stderr)
            return 2
        rows = {"query": name, "conf": args.conf, "a": [], "b": []}
        for val in (args.a, args.b):
            _set(val)
            _run(name, warm)      # codegen for this arm's plan shape
            _run(name, args.sf)   # untimed probe-sf warm-up
        for _ in range(args.reps):
            for arm, val in (("a", args.a), ("b", args.b)):
                _set(val)
                rows[arm].append(_run(name, args.sf))
        rows["median_a"] = round(statistics.median(rows["a"]), 3)
        rows["median_b"] = round(statistics.median(rows["b"]), 3)
        rows["b_over_a"] = (
            round(rows["median_b"] / rows["median_a"], 3)
            if rows["median_a"]
            else None
        )
        print(json.dumps(rows), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
