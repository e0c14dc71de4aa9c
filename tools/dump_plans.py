"""Dump physical plans of registry queries.

Default form: `explain(formatted)` plans of the bench headline
queries to PLANS.md — the written record of the plan-quality claims
(pushdown, pruning, broadcast, partial agg, TakeOrderedAndProject)
that tests/test_plan_quality.py asserts programmatically.

``--tag`` form: one file per query, <out-dir>/<query>_<tag>.txt, at
$SPARK_GRAFT_SF_DIR (default sf0.1) — the before/after evidence files
an optimization commits. ``--final`` adds <query>_<tag>_final.txt,
the AQE-final executed plan after a collect() (see final_plan_text).

Usage: python tools/dump_plans.py [sf_dir]
       python tools/dump_plans.py --tag before [--out-dir DIR] [--final] [query ...]
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from hadoop_main_spark.plans.registry import REGISTRY  # noqa: E402
from hadoop_main_spark.session import get_spark  # noqa: E402


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().rstrip()


def final_plan_text(df) -> str:
    """Collect the frame and return the AQE-final executed plan text
    (the section before 'Initial Plan', i.e. the runtime-reoptimized
    tree with ReusedExchange / AQEShuffleRead nodes resolved). A noop
    write would create its own QueryExecution whose executedPlan is
    the PRE-AQE plan, and executedPlan().toString() prints both final
    and initial plans, doubling node counts; both traps are handled
    here."""
    df.collect()
    full = df._jdf.queryExecution().executedPlan().toString()
    # AdaptiveSparkPlan prints "<final plan>\n+- == Initial Plan ==\n..."
    marker = "== Initial Plan =="
    if marker in full:
        full = full.split(marker)[0].rstrip().rstrip("+-").rstrip()
    return full


def headline_names() -> list[str]:
    return [n for n, q in REGISTRY.items() if q.bench]


def write_plans_md(spark, sf_dir: str) -> None:
    out = [
        "# PLANS — formatted physical plans of the bench headline queries",
        "",
        f"Generated by `python tools/dump_plans.py {sf_dir}`. These are the",
        "plans the engine actually executes; the properties the docstrings",
        "claim (pushdown, pruning, broadcasts, partial aggregation, top-k",
        "as TakeOrderedAndProject) are each visible below and pinned by",
        "`tests/test_plan_quality.py`.",
        "",
    ]
    names = headline_names()
    for name in names:
        q = REGISTRY[name]
        plan = formatted_plan(q.build(spark, sf_dir))
        out += [f"## {name}", "", (q.doc or "").strip(), "", "```", plan, "```", ""]
    with open(os.path.join(_REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(names)} plans)")


def write_tagged(spark, names, tag: str, out_dir: str, final: bool) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = REGISTRY[name].build(spark, sf_dir)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} — explain(formatted) at {sf_dir} [{tag}]\n\n")
            f.write(formatted_plan(df) + "\n")
        print("wrote", path)
        if final:
            path = os.path.join(out_dir, f"{name}_{tag}_final.txt")
            with open(path, "w") as f:
                f.write(
                    f"# {name} — AQE-final executedPlan (post-collect, "
                    f"final section only) at {sf_dir} [{tag}]\n\n"
                )
                f.write(final_plan_text(df).rstrip() + "\n")
            print("wrote", path)


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("args", nargs="*", help="[sf_dir], or query names with --tag")
    ap.add_argument("--tag", help="write one plan file per query under this tag")
    ap.add_argument("--out-dir", default=os.path.join(_REPO, "plans"), help="with --tag")
    ap.add_argument("--final", action="store_true", help="with --tag: also the AQE-final plan")
    args = ap.parse_args(argv)
    if args.tag is None:
        if args.final or len(args.args) > 1:
            ap.error("--final and query names need --tag")
    else:
        unknown = [n for n in args.args if n not in REGISTRY]
        if unknown:
            ap.error(f"unknown queries: {', '.join(unknown)}")
    return args


def main() -> None:
    args = parse_args()
    spark = get_spark("dump-plans")
    if args.tag is None:
        write_plans_md(spark, args.args[0] if args.args else "/root/testdata/sf0.001")
    else:
        write_tagged(spark, args.args or headline_names(), args.tag, args.out_dir, args.final)
    spark.stop()


if __name__ == "__main__":
    main()
