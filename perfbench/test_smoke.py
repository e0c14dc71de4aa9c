"""The benchmark's own tests: a tiny (sf0.001-sized) pass of one query
per workload through the real command, plus the pieces that must not
silently drift (SQL metric parsing, the oracle check).

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from probes import parse_metric  # noqa: E402

SMOKE_QUERY = {"relational": "pricing_summary", "iter_stream_io": "stream_cdc_roundtrip"}
SMOKE_SCALE = 0.01  # sf0.001
SEED = 7

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def bench(workload: str, trace: int, corrupt: bool = False) -> tuple[dict, dict]:
    """Run the command on a one-query, sf0.001-sized version of
    ``workload`` in a fresh interpreter; returns (summary, result)."""
    code = f"""
import sys
sys.path.insert(0, {HERE!r})
import oracle, run, workloads
run.WORKLOADS[{workload!r}] = workloads.Workload(
    queries=({SMOKE_QUERY[workload]!r},), scale={SMOKE_SCALE})
run.WARMUP_PASSES = run.MEASURED_PASSES = 1
if {corrupt}:
    check = oracle.check
    def corrupted(expected, got):
        got = got.copy()
        col = got.select_dtypes("number").columns[0]
        got.loc[0, col] = got.loc[0, col] + 1
        return check(expected, got)
    oracle.check = corrupted
sys.exit(run.main(["--workload", {workload!r}, "--seed", "{SEED}", "--seconds", "1",
                   "--trace", "{trace}"]))
"""
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=900
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    assert lines[-2].startswith("# ")
    return json.loads(lines[-2][2:]), json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(SMOKE_QUERY))
def test_every_declared_metric_is_printed(workload, trace, tmp_path):
    summary, result = bench(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in declared]
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert math.isfinite(got["value"])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    assert summary["failed_share"] == 0
    if not trace:
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in declared)
    if workload == "relational" and trace:
        metrics = {k: v["value"] for k, v in result["metrics"].items()}
        # scan bytes come from the SQL metric, not stage inputBytes:
        # pricing_summary reads lineitem once per run
        import datagen

        datagen.generate(str(tmp_path), SEED, SMOKE_SCALE)
        lineitem_mb = os.path.getsize(tmp_path / "lineitem.parquet") / 2**20
        assert metrics["scan.files_read_mb"] == pytest.approx(lineitem_mb, rel=0.2)
        assert metrics["scan.files_read"] == 1
        # predicted no-move: no Python workers, no streams on this workload
        assert all(v == 0 for k, v in metrics.items() if k.startswith(("py.", "streaming.")))
    if workload == "iter_stream_io" and trace:
        metrics = {k: v["value"] for k, v in result["metrics"].items()}
        # the Python-boundary SQL metrics and the stream listener are
        # really read: a wrong metric label or a silent listener reads 0
        assert metrics["py.sent_mb"] > 0
        assert metrics["py.run_s"] > 0
        assert metrics["streaming.batches"] > 0


def test_corrupted_result_fails_the_oracle():
    summary, result = bench("relational", 0, corrupt=True)
    assert not result["correct"]
    assert result["failed"] == result["attempted"] >= 2
    assert summary["failed_share"] == 1
    assert "oracle mismatch" in summary["errors"][0]


@pytest.mark.parametrize(
    "text, value",
    [
        ("101.8 MiB", 101.8 * 2**20),
        ("581.2 KiB", 581.2 * 2**10),
        ("12.0 B", 12.0),
        ("1,234", 1234.0),
        ("92 ms", 0.092),
        ("total (min, med, max (stageId: taskId))\n8.3 s (1.5 s, 1.7 s, 1.8 s (stage 7.0: task 11))", 8.3),
        ("total (min, med, max (stageId: taskId))\n1.5 m (10 s, 20 s, 30 s (stage 1.0: task 2))", 90.0),
        ("total (min, med, max (stageId: taskId))\n4.8 MiB (1232.3 KiB, 1233.5 KiB, 1238.7 KiB (stage 7.0: task 14))", 4.8 * 2**20),
    ],
)
def test_parse_metric_is_unit_aware(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_parse_metric_rejects_unknown_units():
    with pytest.raises(ValueError):
        parse_metric("3 parsecs")
