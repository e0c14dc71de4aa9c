"""Distributed generalized suffix array over tokenized documents.

Prefix doubling (Manber & Myers, SIAM J. Comput. 1993) in its
distributed form, with the COMPETITION-RANK refinement that keeps
every round keyed: rank(x) = 1 + #{suffixes strictly smaller than x
on the first 2^k tokens} (SQL RANK() semantics). Under that
convention a doubling round never needs a global re-rank — when a
class splits by the (rank, rank-at-offset) pair, the sub-class rank
is ``class_rank + #{same-class members with a smaller pair}``, a
class-PARTITIONED window — so after the one initial global rank the
whole build is O(log maxlen / log init_prefix) rounds of ONE
(doc_id, pos + offset) self-equi-join + ONE class-keyed
count/prefix-sum shuffle. No suffix materializes as a string after
round 0 and nothing is compared token-by-token.

This is the index structure the published ExactSubstr dedup builds
(Lee et al. 2022, arXiv:2107.06499 build suffix arrays over the
corpus; the window-hash chaining in operators/dedup.py is the
probabilistic alternative — this module is the exact-order
substrate: adjacent classes + LCP yield every maximal repeat).

Scale shape: suffixes are (doc_id, pos) rows — one per corpus
token. The initial rank is ONE :func:`~hadoop_main_spark.operators.
sorting.global_rank` over the ``init_prefix``-token prefix string
(TotalOrderPartitioner-style sampled split points — never an
unpartitioned window) followed by a prefix-keyed class-min window;
each round after that shuffles only on already-computed integer
ranks. Rank tables localCheckpoint per round with superseded blocks
released (the connected-components discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hadoop_main_spark.operators.checkpoints import run_checkpoint
from hadoop_main_spark.operators.sorting import global_rank
from hadoop_main_spark.operators.transforms import tokenize

#: joins token slices into strings whose BYTE order equals token-wise
#: order with shorter-prefix-first: chr(1) sorts below every token
#: character (tokens are whitespace-split, hence never contain it in
#: any text corpus this engine targets — the same separator contract
#: the oracle uses)
_SEP = "\x01"


def _doc_tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return docs.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"), tokenize(text_col).alias("tk")
    )


def suffix_ranks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 128,
    init_prefix: int = 16,
) -> DataFrame:
    """Rank every suffix (doc_id, pos) of every document's token
    sequence in corpus-global lexicographic order: returns
    (doc_id, pos, rank) where ``rank`` is the COMPETITION rank
    (``1 + count of strictly-smaller suffixes``, SQL RANK()) of the
    suffix's token sequence — token-wise comparison, shorter-prefix
    first; identical cross-doc suffixes (duplicated documents) share
    a rank, which is exactly the dedup signal, and the next class's
    rank is always ``rank + class size`` (adjacency without a
    window).

    ``max_tokens`` bounds the doubling depth and is ASSERTED against
    the corpus (one bounded-scalar action): a longer document needs
    more rounds, and silently under-ranking would corrupt every
    downstream repeat — loud beats wrong. For a chunked 100 TB
    corpus the bound is the chunker's contract (doc_chunking caps
    chunks at a few hundred tokens). ``init_prefix`` tokens are
    ranked in the single global pass (string-keyed), so only
    log2(max_tokens / init_prefix) doubling rounds remain.
    """
    from hadoop_main_spark.operators.checkpoints import ckpt_rdd_id, unpersist_rdd

    toks = _doc_tokens(docs, id_col, text_col)
    mx = toks.agg(F.max(F.size("tk"))).first()[0] or 0
    if mx > max_tokens:
        raise ValueError(
            f"corpus has a {mx}-token document > max_tokens {max_tokens}: "
            "raise the bound (more doubling rounds) or chunk the docs"
        )
    pref = toks.select(
        "doc_id",
        F.posexplode("tk").alias("pos", "tok"),
        F.col("tk"),
    ).select(
        "doc_id",
        "pos",
        F.array_join(
            F.expr(f"slice(tk, pos + 1, {init_prefix})"), _SEP
        ).alias("p"),
    )
    ranked = global_rank(pref, "p", rank_col="rr")
    # class competition rank = min row rank within the prefix class
    # (independent of tie order inside/between equal keys: every row
    # of a smaller class precedes every row of a larger one)
    # every round is a run checkpoint: the loop releases superseded
    # rounds, and the last one, which the caller reads, belongs to the
    # run, so the query's next build releases it
    r = run_checkpoint(
        ranked.select(
            "doc_id",
            "pos",
            F.min("rr").over(Window.partitionBy("p")).cast("bigint").alias("r"),
        ),
        eager=True,
    )
    prev_rid = ckpt_rdd_id(r)
    offset = init_prefix
    while offset < mx:
        shifted = r.select(
            "doc_id", (F.col("pos") - offset).alias("pos"), F.col("r").alias("r2")
        )
        pr = r.join(shifted, ["doc_id", "pos"], "left").withColumn(
            "r2", F.coalesce("r2", F.lit(-1))
        )
        # competition-rank refinement, fully class-keyed: sub-class
        # rank = class rank + members of the same class with a
        # strictly smaller continuation rank
        cnt = pr.groupBy("r", "r2").agg(F.count("*").alias("__n"))
        w = (
            Window.partitionBy("r")
            .orderBy("r2")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        sub = cnt.withColumn(
            "nr", (F.col("r") + F.sum("__n").over(w) - F.col("__n")).cast("bigint")
        ).select("r", "r2", "nr")
        nxt = run_checkpoint(
            pr.join(sub, ["r", "r2"]).select("doc_id", "pos", F.col("nr").alias("r")),
            eager=True,
        )
        created = ckpt_rdd_id(nxt)
        unpersist_rdd(docs, prev_rid)
        prev_rid = created
        r = nxt
        offset *= 2
    return r.select(
        "doc_id", F.col("pos").cast("bigint").alias("pos"), F.col("r").alias("rank")
    )


def build_suffix_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 128,
) -> None:
    """Materialize the suffix array: (doc_id, pos, rank) parquet plus
    the CLASS table (rank, class size, min-suffix representative) —
    the persist-once shape the ANN families use (build_ivfpq_index /
    build_knn_graph_index): the O(log maxlen)-round build is paid at
    ingest and every downstream repeat/search query is bounded joins
    over the persisted tables."""
    # a projection of suffix_ranks' last rank round, which is already an
    # eager run checkpoint: both writes read that round
    ranks = suffix_ranks(docs, id_col, text_col, max_tokens)
    ranks.write.mode("overwrite").parquet(f"{path}/ranks")
    (
        ranks.groupBy("rank")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min(F.struct("doc_id", "pos")).alias("m"),
        )
        .select(
            "rank", "n",
            F.col("m.doc_id").alias("doc_id"),
            F.col("m.pos").alias("pos"),
        )
        .write.mode("overwrite")
        .parquet(f"{path}/classes")
    )


def suffix_repeats_indexed(
    spark,
    path: str,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_lcp: int = 10,
) -> DataFrame:
    """Every adjacent pair in suffix-array order whose longest common
    prefix is >= ``min_lcp`` tokens, off a materialized rank table
    (see :func:`build_suffix_index`) — the classic suffix-array
    repeat report (each maximal repeated substring of length L >=
    min_lcp appears as adjacent suffixes with LCP >= L). Under
    competition ranks the successor class is ``rank + class size``,
    so adjacency is ONE equi-join — no window, no sort. Each class is
    represented by its minimum (doc_id, pos) suffix; the LCP compares
    just the two bounded token slices in one codegen zip_with
    expression over |classes| - 1 rows — never a corpus-quadratic
    pass.

    Returns (rank, lcp, doc_a, pos_a, doc_b, pos_b), rank = the
    earlier class."""
    toks = _doc_tokens(docs, id_col, text_col)
    reps = spark.read.parquet(f"{path}/classes").select(
        "rank", F.col("n").alias("__n"), "doc_id", "pos"
    )
    a = reps.alias("a")
    b = reps.select(
        F.col("rank").alias("b_rank"),
        F.col("doc_id").alias("doc_b"),
        F.col("pos").alias("pos_b"),
    )
    adj = a.join(
        b, F.col("a.rank") + F.col("a.__n") == F.col("b_rank")
    ).select(
        "a.rank",
        F.col("a.doc_id").alias("doc_a"),
        F.col("a.pos").alias("pos_a"),
        "doc_b",
        "pos_b",
    )
    ta = toks.select(F.col("doc_id").alias("doc_a"), F.col("tk").alias("tk_a"))
    tb = toks.select(F.col("doc_id").alias("doc_b"), F.col("tk").alias("tk_b"))
    sliced = adj.join(ta, "doc_a").join(tb, "doc_b")
    # first mismatch via null-safe zip equality over NULL-SENTINEL
    # slices: append one null token to each slice, then zip_with pads
    # the shorter side with nulls and null <=> token = false, so the
    # first false position - 1 IS the lcp in every case — a genuine
    # mismatch gives it directly, and a prefix-of-the-other pair
    # mismatches at its own sentinel (lcp = min length). Equal slices
    # (the only not-found case) cannot occur across distinct rank
    # classes. ONE zip pass per pair — the previous CASE form
    # re-evaluated zip_with + array_position per branch (optimization
    # r11: 4 evaluations/pair once the filter was pushed into the
    # join condition; ~0.75 s of the 2.1 s bench time).
    lcp = F.expr(
        "array_position(zip_with("
        "concat(slice(tk_a, pos_a + 1, size(tk_a)), array(CAST(NULL AS STRING))), "
        "concat(slice(tk_b, pos_b + 1, size(tk_b)), array(CAST(NULL AS STRING))), "
        "(x, y) -> x <=> y), false) - 1"
    )
    res = sliced.select(
        "rank",
        lcp.cast("bigint").alias("lcp"),
        "doc_a",
        "pos_a",
        "doc_b",
        "pos_b",
    )
    # materialize ONCE per action (lazy local checkpoint, ~6 ints/row):
    # keeps the min_lcp filter OUT of the join condition — Catalyst
    # pushed it there, re-evaluating the zip per probe — and lets the
    # caller's orderBy sample the materialized rows instead of
    # re-executing the whole join tree for range-boundary sampling
    # (optimization r11: the sampling pass doubled the bench time).
    # Lazy, so a fresh build pays the full compute inside the timed
    # action.
    res = run_checkpoint(res)
    return res.filter(F.col("lcp") >= min_lcp)
