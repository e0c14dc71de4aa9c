"""Query registry: every operator family from SURVEY.md §2 exposed as
a named query over the TESTDATA tables, each with a DuckDB oracle.

The registry is the single source of truth consumed by
``__spark_entry__.queries()`` / ``oracle_sql()``, by the pytest
suite, and by ``bench.py`` — so an operator is "done" exactly when
its registry entry verifies against the oracle.

Column-name discipline: every computed column is aliased
identically in the Spark build and the oracle SQL (the driver's
compare sorts columns by name before hashing). Float discipline:
money sums go through DECIMAL (exact, order-independent) and are
cast to double only at the end; means/stddevs are derived from
exact sums (see operators/aggregate.py).

Run scope: ``REGISTRY[name].build`` is the builder wrapped by
``operators.checkpoints.run_scope``, so the temp dirs and checkpoints
a build makes belong to that query's run. A build's DataFrame is
valid until the same query builds again: the next build releases the
previous run's checkpoint blocks and removes its temp dirs. Every
consumer (bench, the oracle checks, the driver) builds, then executes
once. Persisted indexes (``_index_dir``) outlive runs on purpose.
The run dirs are made on the driver and opened by executors too:
local mode shares one filesystem; on a cluster they must sit on a
shared FS.

Build cost: a ``stream_*_roundtrip`` build runs its stream to
completion inside build() (stage the waves, drain them with
availableNow) and returns a batch read of the sink, so plan-only
tools (``tools/dump_plans.py``, ``tools/plan_lint.py``) pay for that
execution.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_main_spark.operators.checkpoints import run_scope
from hadoop_main_spark.tables import load_table


@dataclass
class Query:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    # DuckDB SQL over the pre-registered table views; either a static
    # string, or a callable (sf_dir) -> str for oracles whose text
    # depends on the data (e.g. a trained rotation injected as SQL
    # literals — resolve with resolve_oracle), or None (rows-only).
    oracle: str | Callable[[str], str] | None
    doc: str = ""
    bench: bool = False  # include in bench.py headline set


REGISTRY: dict[str, Query] = {}


def resolve_oracle(q: Query, sf_dir: str) -> str | None:
    """Oracle SQL text for ``q`` at ``sf_dir`` — static strings pass
    through; callable templates are invoked with the sf dir (they
    derive any data-dependent literals Spark-free, e.g. via
    pyarrow+numpy, so resolution never needs a SparkSession)."""
    if q.oracle is None or isinstance(q.oracle, str):
        return q.oracle
    return q.oracle(sf_dir)


def query(name: str, oracle=None, doc: str = "", bench: bool = False):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            # a dict assignment would SILENTLY drop the earlier query
            # from the driver contract (review-r5: a new 3-stage funnel
            # nearly shadowed the existing funnel_conversion)
            raise ValueError(f"duplicate registry query name: {name!r}")
        REGISTRY[name] = Query(
            name, run_scope(name, fn), oracle, doc or (fn.__doc__ or ""), bench
        )
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# Import side-effect modules that populate REGISTRY.
from hadoop_main_spark.plans import core_queries  # noqa: E402,F401
from hadoop_main_spark.plans import llm_queries  # noqa: E402,F401
from hadoop_main_spark.plans import misc_queries  # noqa: E402,F401
from hadoop_main_spark.plans import extended_queries  # noqa: E402,F401
from hadoop_main_spark.plans import analytic_queries  # noqa: E402,F401
from hadoop_main_spark.plans import gate_queries  # noqa: E402,F401
