"""Full-registry noop timing sweep (optimization rounds).

Times EVERY registry query at $SPARK_GRAFT_SF_DIR (default sf0.1),
build()+action (the r12 methodology — eager-checkpoint iterative
queries do real compute in build()), min of N runs after one untimed
warmup, and writes a ranked JSON ledger to the path given by --out
(default /tmp/sweep_all.json). Use to find the expensive registry
tail beyond the bench headline set.

Usage: python tools/sweep_all.py [--out out.json] [--runs N] [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_main_spark.plans.registry import REGISTRY
from hadoop_main_spark.session import get_spark


def run_once(spark, name: str, sf_dir: str) -> float:
    t0 = time.perf_counter()
    df = REGISTRY[name].build(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", default="/tmp/sweep_all.json", help="JSON ledger path")
    ap.add_argument("--runs", type=int, default=2, help="timed runs per query")
    ap.add_argument("queries", nargs="*", help="registry names (default: all)")
    args = ap.parse_args(argv)
    unknown = [n for n in args.queries if n not in REGISTRY]
    if unknown:
        ap.error(f"unknown queries: {', '.join(unknown)}")
    args.queries = args.queries or list(REGISTRY)
    return args


def main() -> None:
    args = parse_args()
    runs, out_path, names = args.runs, args.out, args.queries
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("sweep-all")
    times: dict[str, float] = {}
    errs: dict[str, str] = {}
    for i, name in enumerate(names):
        spark.sparkContext.setJobDescription(f"sweep: {name}")
        try:
            run_once(spark, name, sf_dir)  # untimed warmup
            t = min(run_once(spark, name, sf_dir) for _ in range(runs))
            times[name] = round(t, 3)
        except Exception as e:  # noqa: BLE001 — a sweep must finish
            errs[name] = f"{type(e).__name__}: {e}"[:300]
        print(f"[{i + 1}/{len(names)}] {name}: {times.get(name, 'ERR')}", flush=True)
    ranked = dict(sorted(times.items(), key=lambda kv: -kv[1]))
    with open(out_path, "w") as f:
        json.dump(
            {
                "sf_dir": sf_dir,
                "timing": "build+action",
                "runs": runs,
                "total": round(sum(times.values()), 3),
                "times": ranked,
                "errors": errs,
            },
            f,
            indent=1,
        )
        f.write("\n")
    print("wrote", out_path, "total", round(sum(times.values()), 1), "s")
    spark.stop()


if __name__ == "__main__":
    main()
