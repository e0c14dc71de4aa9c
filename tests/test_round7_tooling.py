"""Unit tests for the round-7 self-enforcement tooling: the plan-lint
tree parser / rules (tools/plan_lint.py) and the bench best-known
ledger (bench.py). Pure logic — no SparkSession needed."""

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import plan_lint as PL


def test_plan_lint_tree_parse_and_subtree():
    plan = (
        "AdaptiveSparkPlan isFinalPlan=false\n"
        "+- HashAggregate(keys=[k], functions=[count(1)])\n"
        "   +- Exchange hashpartitioning(k, 32)\n"
        "      +- HashAggregate(keys=[k], functions=[partial_count(1)])\n"
        "         +- FileScan parquet [k] Location [file:/x/lineitem.parquet]\n"
    )
    nodes = PL._nodes(plan)
    assert nodes[0][1].startswith("AdaptiveSparkPlan")
    assert [d for d, _ in nodes] == [0, 3, 6, 9, 12]
    sub = PL._subtree(nodes, 2)  # under the Exchange
    assert len(sub) == 2 and "FileScan" in sub[1]
    assert PL.lint_plan(plan) == []  # partial agg below the exchange


def test_plan_lint_flags_cartesian_and_single_partition():
    bad = (
        "CartesianProduct\n"
        ":- FileScan parquet [a] Location [file:/x/orders.parquet]\n"
        "+- FileScan parquet [b] Location [file:/x/lineitem.parquet]\n"
    )
    vs = PL.lint_plan(bad)
    assert len(vs) == 1 and vs[0].startswith("R1")
    funnel = (
        "Window [row_number() windowspecdefinition(ts ASC NULLS FIRST, frame)]\n"
        "+- Sort [ts ASC]\n"
        "   +- Exchange SinglePartition\n"
        "      +- FileScan parquet [ts] Location [file:/x/events.parquet]\n"
    )
    vs = PL.lint_plan(funnel)
    # both the single-partition exchange AND the unpartitioned window fire
    assert any(v.startswith("R2") for v in vs) or any(v.startswith("R4") for v in vs)
    # a reducer between scan and exchange clears it
    ok = (
        "Window [row_number() windowspecdefinition(ts ASC NULLS FIRST, frame)]\n"
        "+- Sort [ts ASC]\n"
        "   +- Exchange SinglePartition\n"
        "      +- HashAggregate(keys=[g], functions=[partial_count(1)])\n"
        "         +- FileScan parquet [g] Location [file:/x/events.parquet]\n"
    )
    assert PL.lint_plan(ok) == []


def test_plan_lint_window_partition_detection():
    assert PL._window_is_unpartitioned(
        "Window [x windowspecdefinition(ts#1 ASC NULLS FIRST, specifiedwindowframe(...))]"
    )
    assert PL._window_is_unpartitioned(
        "Window [x windowspecdefinition(specifiedwindowframe(RowFrame))]"
    )
    assert not PL._window_is_unpartitioned(
        "Window [x windowspecdefinition(user#3L, ts#1 ASC NULLS FIRST, frame)]"
    )


def test_plan_lint_forced_broadcast_rule():
    hinted = (
        "Join Inner, (a = b)\n"
        ":- Relation [l_orderkey#0L,l_partkey#1L] parquet\n"
        "+- ResolvedHint (strategy=broadcast)\n"
        "   +- Filter (doc_id#5L < 10)\n"
        "      +- Relation [doc_id#5L,text#6] parquet\n"
    )
    vs = PL.lint_hints(hinted)
    assert len(vs) == 1 and vs[0].startswith("R3")
    reduced = (
        "Join Inner, (a = b)\n"
        ":- Relation [l_orderkey#0L] parquet\n"
        "+- ResolvedHint (strategy=broadcast)\n"
        "   +- Aggregate [lang#7], [lang#7, count(1)]\n"
        "      +- Relation [doc_id#5L,lang#7] parquet\n"
    )
    assert PL.lint_hints(reduced) == []
    # dimension relations are never facts
    dim = (
        "+- ResolvedHint (strategy=broadcast)\n"
        "   +- Relation [n_nationkey#1,n_name#2] parquet\n"
    )
    assert PL.lint_hints(dim) == []


def test_bench_best_ledger_merge(tmp_path, monkeypatch):
    import bench as B

    monkeypatch.setattr(B, "BEST_LEDGER", str(tmp_path / "BENCH_best.json"))
    e1 = B.update_best_ledger("sf0.1", {"q1": 1.0, "q2": 2.0}, 3.0, [])
    assert e1["total"] == 3.0
    # worse total: per-query minima still merge, set total unchanged
    e2 = B.update_best_ledger("sf0.1", {"q1": 0.5, "q2": 9.0}, 9.5, ["q2"])
    assert e2["total"] == 3.0
    led = json.load(open(tmp_path / "BENCH_best.json"))
    assert led["per_query"]["sf0.1"] == {"q1": 0.5, "q2": 2.0}
    # a different (rotated) set gets its own entry; the old one stays
    e3 = B.update_best_ledger("sf0.1", {"q1": 1.0, "q3": 1.0}, 2.0, [])
    assert e3["total"] == 2.0
    led = json.load(open(tmp_path / "BENCH_best.json"))
    assert len(led["per_set"]["sf0.1"]) == 2
    # better total for the original set updates in place
    e4 = B.update_best_ledger("sf0.1", {"q1": 0.4, "q2": 1.0}, 1.4, [])
    assert e4["total"] == 1.4


def test_scale_gate_10x_corpus_join_consistency(spark, tmp_path):
    """The 10x corpus the scale gate times against must preserve the
    semantics the queries rely on: fact copies shift their keys
    CONSISTENTLY (lineitem<->orders still join 1:1 per copy — exactly
    10x the base join count), per-table cardinalities scale 10x,
    dimensions stay untouched, and shifted key ranges never collide
    across copies."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import scale_gate as SG
    from pyspark.sql import functions as F

    from hadoop_main_spark.tables import load_table

    src = "/root/testdata/sf0.001"
    dst = str(tmp_path / "x10")
    SG.build_10x(spark, src, dst)

    def cnt(d, t):
        return load_table(spark, d, t).count()

    for t in ("lineitem", "orders", "events", "documents", "embeddings"):
        assert cnt(dst, t) == 10 * cnt(src, t), t
    for t in ("region", "nation", "supplier", "customer", "part"):
        assert cnt(dst, t) == cnt(src, t), t

    base_join = (
        load_table(spark, src, "lineitem")
        .join(load_table(spark, src, "orders"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .count()
    )
    big_join = (
        load_table(spark, dst, "lineitem")
        .join(load_table(spark, dst, "orders"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .count()
    )
    assert big_join == 10 * base_join

    # shifted ids never collide: 10x distinct count per shifted key
    for t, c in (("documents", "doc_id"), ("embeddings", "vec_id"),
                 ("events", "event_id")):
        assert (
            load_table(spark, dst, t).select(c).distinct().count()
            == 10 * load_table(spark, src, t).select(c).distinct().count()
        ), (t, c)


def test_recall_gate_pure_logic(tmp_path, monkeypatch):
    """recall_gate's comparison logic: pinned-vs-measured drop fails,
    improvement and new variants only note, ledger round-trips."""
    import recall_gate as RG

    vals = {"a": 0.5, "b": 0.912}
    text = RG.render("/x/sf0.01", vals)
    p = tmp_path / "RECALL.md"
    p.write_text(text)
    monkeypatch.setattr(RG, "LEDGER", str(p))
    assert RG.load_pinned() == vals
    # truth/got set helpers
    got = {1: {2, 3}, 4: {5}}
    truth = {1: {2, 9}, 4: {5}}
    assert RG._recall(got, truth) == round(2 / 3, 4)


def test_sweep_all_takes_out_path_only_from_flag():
    import pytest
    import sweep_all as SW

    names = list(SW.REGISTRY)[:2]
    args = SW.parse_args(names)
    assert args.out == "/tmp/sweep_all.json" and args.queries == names
    args = SW.parse_args(["--out", "x.json", "--runs", "3", names[0]])
    assert (args.out, args.runs, args.queries) == ("x.json", 3, names[:1])
    assert SW.parse_args([]).queries == list(SW.REGISTRY)
    with pytest.raises(SystemExit):
        SW.parse_args(["ledger.json", names[0]])  # not a query name
