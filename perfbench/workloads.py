"""The benchmark's workloads: a query mix over a generated corpus.

Each workload is a closed loop with one client that runs its queries
one after another (``build()`` then collecting the result) and checks
every result against the DuckDB oracle.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    #: corpus size relative to the sf0.1 fixture (see datagen.generate)
    scale: float


#: why each workload was chosen is recorded in BENCHMARK.json
WORKLOADS: dict[str, Workload] = {
    "relational": Workload(
        queries=("pricing_summary", "table_fingerprint", "secondary_sort"),
        scale=1.0,
    ),
    "iter_stream_io": Workload(
        queries=(
            "stream_cdc_roundtrip",
            "har_roundtrip_agg",
            "kcore_parts",
            "suffix_array_repeats",
            "pq_topk",
        ),
        scale=0.05,
    ),
}
