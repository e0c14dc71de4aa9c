"""The run scope: per-query-run checkpoints and temp dirs, plus the
localCheckpoint release helpers of iterative operators.

A run is one registry build (``REGISTRY[name].build``, wrapped by
:func:`run_scope`). Whatever the build makes through
:func:`run_checkpoint` and :func:`run_tmpdir` is recorded with the
run, and released when the SAME query next builds: its checkpoint
RDDs are unpersisted and its dirs removed. So a build's DataFrame is
valid until that query builds again — the returned plan reads those
blocks and files when it executes, after build() has returned (the
reference's job-owned scratch space: FileOutputCommitter stages in
the job's temp dirs and cleanup removes them). Persisted
"index once, probe many" data (the plans' ``_index_dir``) is outside
the scope on purpose.

"Current run" is a module global, not a ContextVar: foreachBatch
callbacks run on py4j threads during the build's awaitTermination,
and their work belongs to the same run. Builds run one at a time per
process; where they do not (``check_correctness --parallel``) a
resource may land in another query's run, which is harmless there
because each query builds once. Outside a run (operators called directly),
:func:`run_checkpoint` is a plain localCheckpoint and
:func:`run_tmpdir` an mkdtemp. Every run_tmpdir dir still present is
removed at interpreter exit.

Driver-looped algorithms (connected components, k-core, BPE, suffix
doubling) also release each superseded frontier themselves with
:func:`ckpt_rdd_id` / :func:`unpersist_rdd` — by the SPECIFIC
DataFrame's RDD id, never a before/after diff of the session-global
persistent-RDD map, which would misattribute (and later unpersist)
blocks persisted by concurrent jobs in the same SparkSession (the
round-4 connected-components fix).
"""

from __future__ import annotations

import atexit
import functools
import shutil
import tempfile
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def ckpt_rdd_id(df: DataFrame) -> int:
    """The id of THIS DataFrame's checkpointed RDD, read off its
    LogicalRDD plan node."""
    return int(df._jdf.queryExecution().analyzed().rdd().id())


def unpersist_rdd(df_or_session, rid: int) -> None:
    """Free a superseded frontier's localCheckpoint blocks by RDD id
    (no-op if already gone). Accepts any DataFrame or SparkSession to
    reach the JVM context."""
    spark = df_or_session if not isinstance(df_or_session, DataFrame) else df_or_session.sparkSession
    m = spark.sparkContext._jsc.getPersistentRDDs()
    if m.containsKey(rid):
        m.get(rid).unpersist()


@dataclass
class _Run:
    #: application id of the build's SparkContext: RDD ids restart at 0
    #: per context, so ids recorded under a stopped context must never
    #: be unpersisted in the next one
    app: str
    rdds: list[int] = field(default_factory=list)
    dirs: list[str] = field(default_factory=list)


#: query name -> its last run
_runs: dict[str, _Run] = {}
_current: _Run | None = None
#: run_tmpdir dirs made outside any run
_unscoped_dirs: list[str] = []


def _remove(dirs: list[str]) -> None:
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


@atexit.register
def _remove_all() -> None:
    _remove(_unscoped_dirs + [d for run in _runs.values() for d in run.dirs])


def run_scope(name: str, build):
    """Wrap a query builder so each call first releases that query's
    previous run, then records the resources of the new one."""

    @functools.wraps(build)
    def scoped(spark, sf_dir):
        global _current
        old = _runs.pop(name, None)
        app = spark.sparkContext.applicationId
        if old is not None:
            if old.app == app:
                for rid in old.rdds:
                    unpersist_rdd(spark, rid)
            _remove(old.dirs)
        outer = _current
        _current = _runs[name] = _Run(app)
        try:
            return build(spark, sf_dir)
        finally:
            _current = outer

    return scoped


def run_checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint(eager)`` whose blocks the current run
    owns."""
    df = df.localCheckpoint(eager=eager)
    if _current is not None:
        _current.rdds.append(ckpt_rdd_id(df))
    return df


def run_tmpdir(prefix: str) -> str:
    """A new temp dir (``tempfile.mkdtemp``) that the current run
    owns."""
    path = tempfile.mkdtemp(prefix=prefix)
    (_current.dirs if _current is not None else _unscoped_dirs).append(path)
    return path
