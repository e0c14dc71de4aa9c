"""Expected query results from the registry's DuckDB oracle, checked
with the repository's own exact-value rule (tools/check_correctness.py:
equal row count, equal column names, equal values once both sides are
sorted by every column) plus its ban on HUGEINT oracle columns, which
Spark cannot produce."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check_correctness import compare, duck_connection  # noqa: E402


def expected_results(corpus_dir: str, queries: dict, resolve) -> dict:
    """One oracle result frame per query over the corpus."""
    con = duck_connection(corpus_dir)
    expected = {}
    try:
        for name, q in queries.items():
            sql = resolve(q, corpus_dir)
            if sql is None:
                raise ValueError(f"query {name} has no oracle; the benchmark checks every result")
            rel = con.sql(sql)
            huge = [str(t) for t in rel.types if "HUGEINT" in str(t).upper()]
            if huge:
                raise ValueError(f"oracle of {name} returns {huge}, which Spark cannot match")
            expected[name] = rel.df()
    finally:
        con.close()
    return expected


def check(expected, got) -> str | None:
    """None when ``got`` equals the oracle's ``expected``, else why not."""
    r = compare(got, expected)
    if r["rows_match"] and r["cols_match"] and r["values_exact"]:
        return None
    return "oracle mismatch: " + json.dumps(r)
