"""Similarity search over embedding columns (array<float>).

North-star extension: brute-force cosine top-k as the exact
baseline, and an IVF (inverted-file) variant as the scale path —
probe only the nearest centroid cells instead of the full corpus.

Float semantics are defined by the sequential left fold
(zip_with/aggregate — bit-identical to a DuckDB list_reduce fold,
which is what the oracles use; verified: DuckDB's builtin
list_dot_product sums in a different order and does NOT match).
The HOT paths (brute-force scoring, k-means assignment) compute
the same folds in mapInArrow numpy kernels — dimensions accumulate
SEQUENTIALLY, a Python loop of vectorized row-batch ops, so every
value stays bit-identical while running ~7× faster than the
interpreted HOF expressions (NOTES.md round-4 smokes). Cold paths
(IVF probe scoring on pruned cells, pairwise candidate verify) keep
the Catalyst fold expressions. Centroids are computed with
DECIMAL-exact per-dimension sums so they are independent of
partitioning.

Scale notes: queries/centroids are driver-held or broadcast (they
are the small side by construction); the corpus is never shuffled
for brute force — one narrow pass emitting per-batch partial top-k
(a combiner: #batches × k rows per query reach the final window).
IVF turns that into a pruned join on cell id. For 100 TB, IVF cells
should be written partitioned-by-cell so probes prune at the file
level.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from hadoop_main_spark.operators.checkpoints import run_checkpoint

DEC_CENTROID = "decimal(27,7)"


def fdot(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold dot product of two float arrays (as double)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def fnorm(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; zero-norm vectors yield NULL, never NaN —
    Spark orders NaN ABOVE every real double, so an unguarded zero
    vector (padding row, failed encoder) would rank as the #1
    neighbor of every query and pass every min_cosine filter. NULL
    instead sorts last under DESC and fails >= filters."""
    # nullif evaluates the denominator ONCE (a when(denom > 0, ...)
    # guard pays the two norm folds twice)
    return fdot(a, b) / F.nullif(fnorm(a) * fnorm(b), F.lit(0.0))


def _seq_sq_norms(x):
    """Row 2-norms with DIM-SEQUENTIAL accumulation (fnorm's fold
    order) over an (n, dim) float64 matrix."""
    import numpy as np

    acc = np.zeros(x.shape[0])
    for d in range(x.shape[1]):
        acc = acc + x[:, d] * x[:, d]
    return np.sqrt(acc)


def _local_topk(ids, x, rnorm, qid, qvec, qnorm, k):
    """Batch-local exact top-k for ONE query over (ids, x) rows:
    cosine via dim-sequential accumulation (bit-identical to the
    fdot/fnorm folds and the DuckDB list_reduce oracle), zero-norm →
    NULL ordered last, self-match excluded, ties on neighbor id.
    Returns (neighbor_ids, cosines[None-able]) of length ≤ k — the
    combiner rows the final global window merges losslessly (it
    applies the same total order)."""
    import numpy as np

    acc = np.zeros(x.shape[0])
    for d in range(x.shape[1]):
        acc = acc + x[:, d] * qvec[d]
    denom = rnorm * qnorm
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = acc / denom
    isnull = denom == 0.0
    sel = np.flatnonzero(ids != qid)
    if sel.size == 0:
        return [], []
    # sort key must mirror the global window's F.desc(cosine) order:
    # NaN above every real double (Spark semantics — a NaN component
    # in a vector yields cosine NaN with denom != 0), NULLs last;
    # otherwise the combiner would prune rows the window ranks first
    # and results would depend on Arrow batch boundaries
    key = np.where(isnull[sel], -np.inf, cos[sel])
    key = np.where(np.isnan(key), np.inf, key)
    order = sel[np.lexsort((ids[sel], -key, isnull[sel]))][:k]
    return (
        ids[order].tolist(),
        [None if isnull[i] else float(cos[i]) for i in order],
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The query vectors (small by construction — the same bound that
    made them broadcastable) are collected to the driver and closed
    over by a ``mapInArrow`` numpy kernel, exactly the kmeans_assign
    pattern: the corpus list<float> column flattens zero-copy, every
    per-pair cosine is computed with DIM-SEQUENTIAL accumulation (the
    folds' FP order, bit-identical to the DuckDB list_reduce oracle),
    and each batch emits only its LOCAL top-k rows per query — a
    combiner, so the per-query shuffle input is #batches × k rows,
    never #corpus × #queries. Zero-norm vectors yield NULL cosine
    (never NaN — see :func:`cosine`), ordered last like the
    expression form. Self-matches excluded; ties break on neighbor
    id. Requires fixed-dimension, non-null vectors (asserted)."""
    import numpy as np

    qid_type = queries.schema[query_id].dataType.simpleString()
    id_type = corpus.schema[id_col].dataType.simpleString()
    q_rows = queries.select(F.col(query_id), F.col(vec_col)).collect()
    if not q_rows:
        # same column types as the non-empty path, so callers can
        # union/compare results regardless of which branch ran
        return corpus.sparkSession.createDataFrame(
            [], f"{query_id} {qid_type}, neighbor_id {id_type}, rank int, cosine double"
        )
    qids = [r[0] for r in q_rows]
    qmat = np.array([[float(x) for x in r[1]] for r in q_rows], dtype=np.float64)
    dim = qmat.shape[1]
    # per-query norms, sequential-fold order (scalar Python loop —
    # a handful of queries by contract)
    qnorm = np.empty(len(qids))
    for j in range(len(qids)):
        acc = 0.0
        for d in range(dim):
            acc = acc + qmat[j, d] * qmat[j, d]
        qnorm[j] = np.sqrt(acc)

    narrow = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col))
    out_schema = (
        f"{query_id} {qid_type}, neighbor_id {id_type}, cosine double"
    )
    from pyspark.sql.pandas.types import to_arrow_type

    qid_pa_t = to_arrow_type(queries.schema[query_id].dataType)
    id_pa_t = to_arrow_type(corpus.schema[id_col].dataType)

    def _score(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            emb = batch.column(1)
            flat_arr = emb.flatten()
            # a null ELEMENT inside a list flattens to NaN with the
            # size preserved — it would score cosine=NaN and rank #1
            # (the poisoned-neighbor failure cosine() guards against),
            # so the size assert alone cannot catch it
            if emb.null_count != 0 or flat_arr.null_count != 0:
                raise ValueError("brute_force_topk requires non-null vectors and elements")
            flat = flat_arr.to_numpy(zero_copy_only=False)
            if flat.size != n * dim:
                raise ValueError(f"brute_force_topk requires fixed dim={dim} vectors")
            x = flat.reshape(n, dim).astype(np.float64)
            rnorm = _seq_sq_norms(x)
            out_q, out_i, out_c = [], [], []
            for j, qid in enumerate(qids):
                nbr, cos = _local_topk(ids, x, rnorm, qid, qmat[j], qnorm[j], k)
                out_q.extend([qid] * len(nbr))
                out_i.extend(nbr)
                out_c.extend(cos)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_q, qid_pa_t),
                    pa.array(out_i, id_pa_t),
                    pa.array(out_c, pa.float64()),
                ],
                names=[query_id, "neighbor_id", "cosine"],
            )

    scored = narrow.mapInArrow(_score, out_schema)
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, "neighbor_id", "rank", "cosine")
    )


# --- scalar quantization (SQ8) -----------------------------------------------


def sq8_params(corpus: DataFrame, vec_col: str = "embedding"):
    """Per-dimension (min, max) training pass for 8-bit scalar
    quantization (FAISS IndexScalarQuantizer QT_8bit): one
    posexplode + aggregate, dim-bounded rows collected. min/max are
    exact comparisons (no arithmetic), so both engines see identical
    doubles. Returns (mins, maxs) float64 arrays."""
    import numpy as np

    rows = (
        corpus.select(F.posexplode(F.col(vec_col)).alias("dim", "x"))
        .groupBy("dim")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
        .orderBy("dim")
        .collect()
    )
    mins = np.array([r["mn"] for r in rows], dtype=np.float64)
    maxs = np.array([r["mx"] for r in rows], dtype=np.float64)
    return mins, maxs


def _sq8_quantize(x, mins, maxs):
    """floor((x - mn) * 255 / (mx - mn) + 0.5), clamped to 0..255,
    degenerate dims (mx <= mn) to 0 — the EXACT double expression the
    SQL oracle evaluates (same IEEE ops in the same order), so codes
    are bit-identical across engines."""
    import numpy as np

    span = maxs - mins
    safe = np.where(span > 0.0, span, 1.0)
    code = np.floor((x - mins[None, :]) * 255.0 / safe[None, :] + 0.5)
    code = np.clip(code, 0.0, 255.0)
    code[:, span <= 0.0] = 0.0
    return code.astype(np.int64)


def sq8_encode(
    corpus: DataFrame,
    params,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to dim uint8-range codes (stored int32) —
    4x smaller at rest than float32 with high recall (measured
    recall@10 vs exact float L2 at sf0.01: 0.88 — 8 bits per
    DIMENSION keeps far more geometry than PQ's m codes per vector;
    the trade is 4x compression vs PQ's 32x), the
    simplest FAISS index type. Same mapInArrow shape as pq_encode;
    params ride the closure."""
    import numpy as np

    mins, maxs = params
    dim = len(mins)
    in_schema = corpus.select(id_col).schema
    out_schema = StructType(
        [
            in_schema.fields[0],
            StructField("codes", ArrayType(IntegerType(), False), False),
        ]
    )

    def _encode(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            emb = batch.column(1)
            flat = emb.flatten()
            if emb.null_count or flat.null_count:
                raise ValueError("sq8_encode requires non-null vectors")
            xe = flat.to_numpy(zero_copy_only=False)
            if xe.size != n * dim:
                raise ValueError(f"sq8_encode requires fixed dim={dim}")
            codes = _sq8_quantize(
                xe.reshape(n, dim).astype(np.float64), mins, maxs
            ).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pa.FixedSizeListArray.from_arrays(
                        pa.array(codes.reshape(-1), pa.int32()), dim
                    ).cast(pa.list_(pa.int32())),
                ],
                names=[out_schema.fields[0].name, "codes"],
            )

    return corpus.select(id_col, vec_col).mapInArrow(_encode, out_schema)


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    k: int = 10,
    params=None,
) -> DataFrame:
    """Exact top-k by 8-bit scalar-quantized L2 (FAISS
    IndexScalarQuantizer): queries quantize on the SAME per-dim
    min/max grid and distances are exact BIGINT sums of squared code
    deltas — bit-identical ranks across engines, no float anywhere in
    the scoring. MEASURED recall@10 vs exact float L2 at sf0.01: 0.88
    (8 bits per DIMENSION keeps far more geometry than PQ's m codes
    per vector; the trade is 4x compression vs PQ's 32x). The brute_force_topk kernel shape: query codes ride
    the closure, each batch emits its LOCAL top-k per query (combiner
    discipline). Output (query_id, neighbor_id, sq_d2, rank)."""
    import numpy as np

    if params is None:
        params = sq8_params(corpus, vec_col)
    mins, maxs = params
    dim = len(mins)
    qid_type = queries.schema[query_id].dataType.simpleString()
    id_type = corpus.schema[id_col].dataType.simpleString()
    q_rows = queries.select(F.col(query_id), F.col(vec_col)).collect()
    if not q_rows:
        return corpus.sparkSession.createDataFrame(
            [], f"{query_id} {qid_type}, neighbor_id {id_type}, sq_d2 bigint, rank bigint"
        )
    qids = [r[0] for r in q_rows]
    qmat = np.array([[float(x) for x in r[1]] for r in q_rows], dtype=np.float64)
    qcodes = _sq8_quantize(qmat, mins, maxs)
    from pyspark.sql.pandas.types import to_arrow_type

    qid_pa_t = to_arrow_type(queries.schema[query_id].dataType)
    id_pa_t = to_arrow_type(corpus.schema[id_col].dataType)
    enc = sq8_encode(corpus, params, id_col, vec_col)
    out_schema = f"{query_id} {qid_type}, neighbor_id {id_type}, sq_d2 bigint"

    def _score(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            codes = (
                batch.column(1).flatten().to_numpy(zero_copy_only=False)
                .reshape(n, dim).astype(np.int64)
            )
            out_q, out_i, out_d = [], [], []
            for j, qid in enumerate(qids):
                dif = codes - qcodes[j][None, :]
                d2 = np.einsum("nd,nd->n", dif, dif)
                mask = ids != qid
                sub_ids, sub_d = ids[mask], d2[mask]
                if len(sub_ids) > k:
                    part = np.lexsort((sub_ids, sub_d))[:k]
                else:
                    part = np.lexsort((sub_ids, sub_d))
                out_q.extend([qid] * len(part))
                # preserve id VALUES (string / any type) like _local_topk
                # — int() per element crashed or mis-typed non-integer ids
                out_i.extend(sub_ids[part].tolist())
                out_d.extend(sub_d[part].astype(np.int64).tolist())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_q, qid_pa_t),
                    pa.array(out_i, id_pa_t),
                    pa.array(out_d, pa.int64()),
                ],
                names=[query_id, "neighbor_id", "sq_d2"],
            )

    scored = enc.mapInArrow(_score, out_schema)
    w = Window.partitionBy(query_id).orderBy("sq_d2", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def ivf_sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    cell_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    k: int = 10,
    nprobe: int = 2,
    params=None,
) -> DataFrame:
    """IVF-SQ8 (the FAISS ``IVF<n>,SQ8`` index string): the coarse
    quantizer restricts the scan to ``nprobe`` probed cells per query
    and within them vectors score by exact BIGINT L2 over their 8-bit
    scalar codes — the last cell of the compression x pruning matrix
    ({SQ8} x {cell-pruned}; :func:`sq8_topk` is the full-scan form).
    Unlike sq8_topk's Arrow kernel (every corpus vector scores
    against every query — the per-row work multiplier that justifies
    Arrow), each probed vector here meets ~1 query, so scoring stays
    a JVM-side ``zip_with`` fold in whole-stage codegen (the
    _score_probed_cells measurement, round 4: kernels win at
    multiplier >= ~8, the fold wins at x1). Codes join their cell
    assignment by id like ivfpq_topk (a production index materializes
    (cell, codes) partitionBy(cell) once — build_ivfpq_index's layout
    — and this probe+score tail runs unchanged on it). Query codes
    quantize on the SAME per-dim grid and ride a broadcast probe
    frame bounded by queries x nprobe. Output (query_id, neighbor_id,
    sq_d2, rank) — identical schema and tie rules to sq8_topk."""
    import numpy as np

    spark = corpus.sparkSession
    if params is None:
        params = sq8_params(corpus, vec_col)
    mins, maxs = params
    enc = sq8_encode(corpus.select(id_col, vec_col), params, id_col, vec_col)
    cells = corpus.select(F.col(id_col), F.col(cell_col).alias("cell"))
    cents = ivf_centroids(corpus, cell_col, vec_col)
    # the query side is collected ONCE (the probe contract) and every
    # probe-side frame derives from the local rows — so the hinted
    # broadcasts wrap LocalRelations, never a fact-table subtree (no
    # plan-lint allowlist entry needed, unlike ann_ivf's shape)
    q_rows = queries.select(query_id, vec_col).collect()
    if not q_rows:
        qid_type = dict(queries.dtypes)[query_id]
        return spark.createDataFrame(
            [], f"{query_id} {qid_type}, neighbor_id "
            f"{dict(corpus.dtypes)[id_col]}, sq_d2 bigint, rank bigint"
        )
    queries_local = spark.createDataFrame(q_rows, queries.select(query_id, vec_col).schema)
    cell_rank = _probe_cells(queries_local, cents, query_id, vec_col, nprobe).select(
        query_id, "cell"
    )
    qmat = np.array([[float(x) for x in r[1]] for r in q_rows], dtype=np.float64)
    qcodes = _sq8_quantize(qmat, mins, maxs)
    qframe = spark.createDataFrame(
        [(r[0], [int(c) for c in qcodes[j]]) for j, r in enumerate(q_rows)],
        f"{query_id} {dict(queries.dtypes)[query_id]}, __qcodes array<int>",
    )
    probe = cell_rank.join(qframe, query_id)
    d2 = F.expr(
        "aggregate(zip_with(codes, __qcodes, "
        "(a, b) -> CAST(a - b AS BIGINT) * CAST(a - b AS BIGINT)), "
        "CAST(0 AS BIGINT), (s, x) -> s + x)"
    )
    scored = (
        enc.join(cells, id_col)
        .join(broadcast(probe), "cell")
        .filter(F.col(id_col) != F.col(query_id))
        .select(query_id, F.col(id_col).alias("neighbor_id"), d2.alias("sq_d2"))
    )
    w = Window.partitionBy(query_id).orderBy("sq_d2", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


# --- binary quantization (1-bit codes + exact re-rank) ------------------------


def bq_means(corpus: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension DECIMAL-exact mean (the ivf_centroids discipline)
    — the binarization threshold table, dim rows."""
    comps = corpus.select(F.posexplode(F.col(vec_col)).alias("dim", "x"))
    return comps.groupBy("dim").agg(
        (F.sum(F.col("x").cast(DEC_CENTROID)).cast("double") / F.count("*")).alias(
            "mn"
        )
    )


def bq_codes(
    vectors: DataFrame,
    means: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: tuple = (),
) -> DataFrame:
    """1-bit sign codes around the per-dim mean, PACKED 32 dims per
    BIGINT word: (id, codes array<bigint>, ceil(dim/32) words). 32-bit
    packing keeps every word positive and identical across engines
    (shiftleft at bit 63 differs in sign interpretation; 32 never
    does). Fully declarative — explode, threshold, shift, sum — no
    Python anywhere, whole-stage codegen end to end. ``carry_cols``
    rides id-functional columns (e.g. the IVF cell) through both
    aggregations so callers never need an extra id-keyed join back to
    the corpus to recover them."""
    carry = [F.col(c) for c in carry_cols]
    comps = vectors.select(
        F.col(id_col), *carry, F.posexplode(F.col(vec_col)).alias("dim", "x")
    )
    bits = comps.join(broadcast(means), "dim")
    words = (
        bits.groupBy(id_col, *carry, F.expr("dim DIV 32").alias("word"))
        .agg(
            F.sum(
                F.when(
                    F.col("x").cast("double") > F.col("mn"),
                    F.expr("shiftleft(CAST(1 AS BIGINT), CAST(dim % 32 AS INT))"),
                ).otherwise(F.lit(0).cast("bigint"))
            ).alias("w")
        )
    )
    return words.groupBy(id_col, *carry).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("word", "w"))),
            lambda s: s.getField("w"),
        ).alias("codes")
    )


def bq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    k: int = 10,
    oversample: int = 5,
) -> DataFrame:
    """Two-stage retrieval with BINARY quantization: 1-bit sign codes
    (32x smaller than float32) generate a Hamming-distance shortlist
    of k*oversample candidates per query, which are then re-ranked by
    EXACT sequential-fold cosine over the float vectors — the modern
    vector-store shape (candidate generation on cheap codes, exact
    scoring on the shortlist only; at 100 TB the full-width vectors
    are touched for k*oversample rows per query, not the corpus).

    Every stage is JVM expressions (bit_count(xor) over 2-element
    word arrays, windows) — no Python, no kernels; Hamming ties break
    on neighbor id so the shortlist is deterministic and ranks are
    engine-exact. Output (query_id, neighbor_id, hamming, cosine,
    rank)."""
    means = bq_means(corpus, vec_col)
    ccodes = bq_codes(corpus, means, id_col, vec_col)
    qcodes = (
        bq_codes(queries, means, query_id, vec_col)
        .withColumnRenamed("codes", "__qcodes")
    )
    ham = F.expr(
        "aggregate(zip_with(codes, __qcodes, (a, b) -> CAST(bit_count(a ^ b) AS BIGINT)), "
        "CAST(0 AS BIGINT), (s, x) -> s + x)"
    )
    cand = (
        ccodes.crossJoin(broadcast(qcodes))
        .filter(F.col(id_col) != F.col(query_id))
        .select(query_id, F.col(id_col).alias("neighbor_id"), ham.alias("hamming"))
    )
    wshort = Window.partitionBy(query_id).orderBy("hamming", "neighbor_id")
    short = (
        cand.withColumn("__hr", F.row_number().over(wshort))
        .filter(F.col("__hr") <= k * oversample)
        .drop("__hr")
    )
    rr = short.join(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
        "neighbor_id",
    ).join(
        queries.select(F.col(query_id), F.col(vec_col).alias("__qv")), query_id
    ).select(
        query_id,
        "neighbor_id",
        "hamming",
        cosine(vec_col, "__qv").alias("cosine"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        rr.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def bq_ivf_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    cell_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    k: int = 10,
    oversample: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-pruned binary quantization + exact re-rank (verdict-r7 #3):
    :func:`bq_rerank_topk`'s Hamming shortlist scanned ALL corpus
    codes per query — linear and cheap, but the one ANN variant whose
    candidate stage touched the whole corpus. This composes the coarse
    quantizer on top: cells ranked by query-centroid cosine
    (:func:`_probe_cells`, the ann_ivf probe), the top ``nprobe``
    cells' codes equi-joined to the per-query shortlist (never a
    corpus-wide cross join), then the usual exact-cosine re-rank of
    k x oversample rows. At 100 TB with codes partitioned by cell the
    Hamming stage prunes like every other indexed variant — it reads
    ~nprobe/ncells of the 1-bit codes and the float vectors only for
    the shortlist. Approximate like all IVF probes (recall < 1 when a
    true neighbor lives outside the probed cells); Hamming ties break
    on neighbor id, so ranks stay engine-exact. Output (query_id,
    neighbor_id, hamming, cosine, rank)."""
    means = bq_means(corpus, vec_col)
    # cell rides the code aggregation (carry_cols) — no id-keyed join
    # back to the corpus just to recover the partition key
    ccodes = bq_codes(corpus, means, id_col, vec_col, carry_cols=(cell_col,))
    qcodes = (
        bq_codes(queries, means, query_id, vec_col)
        .withColumnRenamed("codes", "__qcodes")
    )
    cents = ivf_centroids(corpus, cell_col, vec_col)
    probe = (
        _probe_cells(queries, cents, query_id, vec_col, nprobe)
        .select(query_id, "cell")
        .join(qcodes, query_id)
    )
    ham = F.expr(
        "aggregate(zip_with(codes, __qcodes, (a, b) -> CAST(bit_count(a ^ b) AS BIGINT)), "
        "CAST(0 AS BIGINT), (s, x) -> s + x)"
    )
    cand = (
        ccodes.withColumnRenamed(cell_col, "cell")
        .join(broadcast(probe), "cell")
        .filter(F.col(id_col) != F.col(query_id))
        .select(query_id, F.col(id_col).alias("neighbor_id"), ham.alias("hamming"))
    )
    wshort = Window.partitionBy(query_id).orderBy("hamming", "neighbor_id")
    short = (
        cand.withColumn("__hr", F.row_number().over(wshort))
        .filter(F.col("__hr") <= k * oversample)
        .drop("__hr")
    )
    rr = short.join(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
        "neighbor_id",
    ).join(
        queries.select(F.col(query_id), F.col(vec_col).alias("__qv")), query_id
    ).select(
        query_id,
        "neighbor_id",
        "hamming",
        cosine(vec_col, "__qv").alias("cosine"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        rr.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def build_bq_index(
    corpus: DataFrame,
    path: str,
    cell_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF-BQ index: per-dim means (the binarization
    thresholds, dim rows), cell centroids (tiny parquet), 1-bit codes
    ``partitionBy(cell)``, and the float vectors ``partitionBy(cell)``
    for the re-rank stage — the build_ivfpq_index layout with
    ceil(dim/32) BIGINT words per vector at rest. The means table is
    written FIRST and read back before the code pass (the
    write-then-collect double-execution trap: reusing the unwritten
    means frame would run its corpus-wide aggregate twice)."""
    spark = corpus.sparkSession
    bq_means(corpus, vec_col).write.mode("overwrite").parquet(f"{path}/means")
    means = spark.read.parquet(f"{path}/means")
    ivf_centroids(corpus, cell_col, vec_col).write.mode("overwrite").parquet(
        f"{path}/centroids"
    )
    (
        bq_codes(corpus, means, id_col, vec_col, carry_cols=(cell_col,))
        .withColumnRenamed(cell_col, "cell")
        # co-locate cells before the partitioned write (the
        # build_ivfpq_residual_index tasks x cells writer blowup)
        .repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/codes")
    )
    (
        corpus.select(F.col(id_col), F.col(vec_col), F.col(cell_col).alias("cell"))
        .repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/vectors")
    )


def bq_ivf_rerank_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    k: int = 10,
    oversample: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """Probe a materialized IVF-BQ index (see :func:`build_bq_index`)
    — identical results to :func:`bq_ivf_rerank_topk` on the same
    corpus, but the query path never recomputes means, centroids, or
    corpus codes: it reads the persisted centroids, statically prunes
    BOTH scans (1-bit codes for the Hamming shortlist AND float
    vectors for the re-rank) to the probed cells via an IN-list on
    the partition column (the _static_prune discipline — runtime DPP
    proved unreliable on the 1M-vector smoke), and touches full-width
    floats only for the k x oversample shortlist rows.

    Size contract (inherited from :func:`ivf_topk_indexed`):
    ``queries`` is a probe-sided table — the static prune round-trips
    ``queries x nprobe`` rows through the driver, so thousands of
    queries are fine, corpus-scale query sets are not."""
    means = spark.read.parquet(f"{path}/means")
    cents = spark.read.parquet(f"{path}/centroids")
    probe0 = _probe_cells(queries, cents, query_id, vec_col, nprobe).select(
        query_id, "cell"
    )
    # one driver round-trip prunes BOTH partitioned scans
    rank_rows = probe0.collect()
    probed = sorted({r.cell for r in rank_rows})
    probe0 = spark.createDataFrame(rank_rows, probe0.schema)
    codes_scan = spark.read.parquet(f"{path}/codes").filter(
        F.col("cell").isin(probed)
    )
    vec_scan = spark.read.parquet(f"{path}/vectors").filter(
        F.col("cell").isin(probed)
    )
    qcodes = (
        bq_codes(queries, means, query_id, vec_col)
        .withColumnRenamed("codes", "__qcodes")
    )
    probe = probe0.join(qcodes, query_id)
    ham = F.expr(
        "aggregate(zip_with(codes, __qcodes, (a, b) -> CAST(bit_count(a ^ b) AS BIGINT)), "
        "CAST(0 AS BIGINT), (s, x) -> s + x)"
    )
    cand = (
        codes_scan.join(broadcast(probe), "cell")
        .filter(F.col(id_col) != F.col(query_id))
        .select(query_id, F.col(id_col).alias("neighbor_id"), ham.alias("hamming"))
    )
    wshort = Window.partitionBy(query_id).orderBy("hamming", "neighbor_id")
    short = (
        cand.withColumn("__hr", F.row_number().over(wshort))
        .filter(F.col("__hr") <= k * oversample)
        .drop("__hr")
    )
    rr = short.join(
        vec_scan.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
        "neighbor_id",
    ).join(
        queries.select(F.col(query_id), F.col(vec_col).alias("__qv")), query_id
    ).select(
        query_id,
        "neighbor_id",
        "hamming",
        cosine(vec_col, "__qv").alias("cosine"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        rr.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


# --- IVF ---------------------------------------------------------------------


def ivf_centroids(
    corpus: DataFrame, cell_col: str, vec_col: str = "embedding"
) -> DataFrame:
    """Per-cell centroid with DECIMAL-exact component sums (portable,
    partitioning-independent). ``cell_col`` is the coarse quantizer
    cell (here: any categorical assignment, e.g. a prior clustering
    or the dataset's label column)."""
    dim = F.posexplode(F.col(vec_col))
    comps = corpus.select(F.col(cell_col).alias("cell"), dim.alias("dim", "x"))
    cent = comps.groupBy("cell", "dim").agg(
        (F.sum(F.col("x").cast(DEC_CENTROID)).cast("double") / F.count("*")).alias("c")
    )
    return cent.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s.getField("c")
        ).alias("centroid")
    )


def _probe_cells(
    queries: DataFrame, cents: DataFrame, query_id: str, vec_col: str, nprobe: int
) -> DataFrame:
    """Shared IVF probe selection (was duplicated across ivf_topk and
    ivf_topk_indexed; review-r4 cleanup): rank cells by query-centroid
    cosine, keep the top ``nprobe`` per query, carry the query vector.
    Both inputs are tiny by contract (queries × centroids), so both
    sides broadcast and the cross join never touches the corpus."""
    q = queries.select(F.col(query_id), F.col(vec_col).alias("__qv"))
    return (
        broadcast(q)
        .crossJoin(broadcast(cents))
        .select(query_id, "cell", "__qv", cosine("centroid", "__qv").alias("ccos"))
        .withColumn(
            "crank",
            F.row_number().over(
                Window.partitionBy(query_id).orderBy(F.desc("ccos"), F.asc("cell"))
            ),
        )
        .filter(F.col("crank") <= nprobe)
        .select(query_id, "cell", "__qv")
    )


def _score_probed_cells(
    vectors: DataFrame, cell_rank: DataFrame, id_col: str, vec_col: str,
    query_id: str, k: int,
) -> DataFrame:
    """Shared IVF scoring tail: join probed (cell, query) pairs to the
    cell-keyed vectors, exact cosine, per-query top-k. Scoring stays a
    JVM-side fold ON PURPOSE — MEASURED (round 4, 1M×64, 10 queries,
    nprobe 5): both an Arrow pairwise kernel over the joined pairs AND
    a brute_force_topk-style per-cell kernel were ~2× SLOWER, because
    each probed vector is scored against ~1 query — no per-row work
    multiplier to amortize the Arrow transfer. Kernels win at
    multiplier ≥ ~8 (kmeans k=8: 7.4×; brute force ×10 queries: 7×);
    at ×1 the fold wins."""
    scored = (
        vectors.select("cell", F.col(id_col).alias("neighbor_id"), F.col(vec_col))
        .join(broadcast(cell_rank), "cell")
        .filter(F.col("neighbor_id") != F.col(query_id))
        .select(query_id, "neighbor_id", cosine(vec_col, "__qv").alias("cosine"))
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, "neighbor_id", "rank", "cosine")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    cell_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """IVF search: rank cells by query-centroid cosine, probe the top
    ``nprobe`` cells, brute-force within. Returns (query_id,
    neighbor_id, rank, cosine) like brute_force_topk — approximate
    (recall < 1) but scans ~nprobe/ncells of the corpus."""
    cents = ivf_centroids(corpus, cell_col, vec_col)
    cell_rank = _probe_cells(queries, cents, query_id, vec_col, nprobe)
    vectors = corpus.select(
        F.col(cell_col).alias("cell"), F.col(id_col), F.col(vec_col)
    )
    return _score_probed_cells(vectors, cell_rank, id_col, vec_col, query_id, k)


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    cell_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index: centroids (tiny parquet) + the
    corpus rewritten ``partitionBy(cell)``. This is the 100 TB shape —
    the centroid build (one full pass) is paid once at ingest, and
    every probe after that reads only the probed cells' files
    (partition pruning, proven by the plan audit). Scale-smoke: at
    1M vectors the centroid build dominated query latency when
    recomputed per query (NOTES.md)."""
    cents = ivf_centroids(corpus, cell_col, vec_col)
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    (
        corpus.select(
            F.col(id_col), F.col(vec_col), F.col(cell_col).alias("cell")
        )
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/vectors")
    )


def _static_prune(spark, probe: DataFrame, layout_path: str):
    """Shared static-pruning block for materialized-index probes:
    the probed-cell set is tiny (≤ queries × nprobe) — collect it once
    to the driver and push an IN-list to the scan, which prunes files
    deterministically (runtime DPP proved unreliable here: the
    1M-vector smoke scanned all cells). The tiny probe frame is
    re-created from the collected rows instead of cache() so nothing
    stays pinned in executor storage. Returns (probe, pruned_scan)."""
    rank_rows = probe.collect()
    probed = sorted({r.cell for r in rank_rows})
    probe = spark.createDataFrame(rank_rows, probe.schema)
    scan = spark.read.parquet(layout_path).filter(F.col("cell").isin(probed))
    return probe, scan


def ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """Probe a materialized IVF index (see :func:`build_ivf_index`).
    The cell filter is an IN-list on the partition column, so only
    nprobe cells' files are scanned.

    Size contract: ``queries`` is a PROBE-SIDED table, not a corpus —
    the static prune round-trips ``queries x nprobe`` rows through the
    driver (see :func:`_static_prune`), so it must stay
    driver-collectable (thousands of queries, not millions). For
    corpus-vs-corpus workloads use the batch scorers
    (:func:`brute_force_topk` / :func:`ivf_topk`) instead."""
    cents = spark.read.parquet(f"{path}/centroids")
    cell_rank = _probe_cells(queries, cents, query_id, vec_col, nprobe)
    cell_rank, vectors = _static_prune(spark, cell_rank, f"{path}/vectors")
    return _score_probed_cells(vectors, cell_rank, id_col, vec_col, query_id, k)


# --- k-means (IVF coarse-quantizer training) --------------------------------

#: centroid quantization grid: 1e-7 units, offset keeps the floor-div
#: operand positive so Spark's truncating DIV == DuckDB's flooring //
KM_SCALE = 10**7
KM_OFF = 16 * KM_SCALE  # components must satisfy |x| < 16


def kmeans_centroids(
    assigned: DataFrame, cluster_col: str = "cluster", vec_col: str = "embedding"
) -> DataFrame:
    """Per-cluster mean vectors QUANTIZED to a 1e-7 grid via integer
    arithmetic: each component rounds to micro-units in pure DOUBLE
    ops (``floor(x * 1e7 + 0.5)`` — IEEE-identical in Spark and
    DuckDB; a float→DECIMAL cast is NOT, the engines round ties
    differently), per-cluster BIGINT sums divide by the count with an
    offset floor-div, and the result converts back to double
    losslessly (< 2**53). Every step is bit-identical across engines,
    so iterated k-means stays oracle-exact — an engine-side
    DECIMAL→DOUBLE mean can differ by 1 ulp, which a later distance
    computation amplifies across iterations."""
    dim = F.posexplode(F.col(vec_col))
    comps = assigned.select(F.col(cluster_col).alias("cluster"), dim.alias("dim", "x"))
    cent = (
        comps.groupBy("cluster", "dim")
        .agg(
            F.sum(
                F.floor(
                    F.col("x").cast("double") * F.lit(float(KM_SCALE)) + F.lit(0.5)
                )
            ).alias("su"),
            F.count("*").alias("n"),
        )
        .select(
            "cluster",
            "dim",
            (
                (
                    F.expr(f"(su + n * {KM_OFF}) div n") - F.lit(KM_OFF)
                ).cast("double")
                / F.lit(float(KM_SCALE))
            ).alias("c"),
        )
    )
    return cent.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s.getField("c")
        ).alias("centroid")
    )


def kmeans_assign(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid (squared L2, ties
    to the smaller cluster id). ``centroids`` are driver-held
    (cluster_id, components) literals — k×dim doubles, tiny by
    definition of a coarse quantizer, exactly like the split-point
    literals in sorting.global_rank. Returns the corpus plus
    ``cluster`` and ``__d2`` columns; one narrow scan, no shuffle.

    The k distances are computed per Arrow batch in ``mapInArrow``
    with numpy — a zip_with/aggregate fold evaluates INTERPRETED per
    (row × k × dim), the measured ~6× HOF trap (NOTES.md), which at
    100 TB IVF-training scale is the whole bill. Arrow-native matters
    here: a pandas UDF materializes every vector as a Python object
    (measured SLOWER than the fold at 1M×64), while the list<float>
    column flattens ZERO-COPY into one contiguous numpy buffer and
    rides through to the output untouched. The kernel accumulates
    dimensions SEQUENTIALLY (a Python loop of vectorized row-batch
    adds, not np.sum's pairwise reduction), so every d2 is
    bit-identical to the fold and to the DuckDB list_reduce oracle —
    iterated k-means stays oracle-exact. Requires fixed-dimension,
    non-null vectors (the embedding-table contract; asserted)."""
    import numpy as np

    if not centroids:
        raise ValueError("kmeans_assign needs >= 1 centroid")
    ordered = sorted(centroids, key=lambda c: int(c[0]))
    # int64: cluster ids are vector ids, which are bigint by contract
    # (hash-derived ids overflow int32 — review-r4b)
    cids = np.array([int(c) for c, _ in ordered], dtype=np.int64)
    cmat = np.array([comps for _, comps in ordered], dtype=np.float64)
    in_schema = corpus.schema
    # fresh StructType: .add on StructType(fields) would append to the
    # SAME fields list the input DataFrame's schema object holds
    out_schema = StructType(
        [
            *in_schema.fields,
            StructField("cluster", LongType(), False),
            StructField("__d2", DoubleType(), False),
        ]
    )
    vec_idx = in_schema.fieldNames().index(vec_col)
    dim = cmat.shape[1]

    def _assign(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            emb = batch.column(vec_idx)
            flat_arr = emb.flatten()
            # null elements flatten to NaN (size preserved): NaN d2
            # would silently stick rows to the first centroid — refuse
            # explicit raise, not assert: PYTHONOPTIMIZE on an
            # executor would strip an assert and let a null element
            # (NaN after flatten) silently poison the distances
            # (review-r4b)
            if emb.null_count != 0 or flat_arr.null_count != 0:
                raise ValueError("kmeans_assign requires non-null vectors and elements")
            flat = flat_arr.to_numpy(zero_copy_only=False)
            if flat.size != n * dim:
                raise ValueError(f"kmeans_assign requires fixed dim={dim} vectors")
            x = flat.reshape(n, dim).astype(np.float64)
            best_d2 = None
            best_c = None
            for j in range(cmat.shape[0]):
                sq = x - cmat[j]
                sq *= sq
                # dim-sequential accumulation == the fold's FP order
                acc = np.zeros(n, dtype=np.float64)
                for d in range(dim):
                    acc = acc + sq[:, d]
                if best_d2 is None:
                    best_d2, best_c = acc, np.full(n, cids[0], dtype=np.int64)
                else:
                    m = acc < best_d2  # strict: ties keep the smaller cid
                    best_d2 = np.where(m, acc, best_d2)
                    best_c = np.where(m, cids[j], best_c)
            yield pa.RecordBatch.from_arrays(
                [*batch.columns, pa.array(best_c, pa.int64()), pa.array(best_d2)],
                names=[*batch.schema.names, "cluster", "__d2"],
            )

    return corpus.mapInArrow(_assign, out_schema)


def kmeans_fit(
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 10,
):
    """Lloyd's k-means to (early-stopping) convergence — how the
    ``cell`` column ann_ivf consumes gets TRAINED in-repo.

    Deterministic throughout: seeds are the k lowest-id vectors,
    assignment ties break to the smaller cluster id, and centroid
    recomputation uses DECIMAL-exact component sums (ivf_centroids),
    so the result is independent of partitioning and cluster size.
    Per iteration: one narrow assignment scan (a single vectorized
    numpy pandas UDF computing all k L2 distances per Arrow batch,
    bit-identical to the sequential fold — see kmeans_assign) + one
    per-dimension aggregate; the k×dim centroid table is collected to
    the driver each round — the same loop structure as MLlib's KMeans
    and the reference's iterative drivers.

    Returns (assignments DataFrame with ``cluster``, centroids list).
    """
    seeds = (
        corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    cents: list[tuple[int, list[float]]] = [
        (int(r[id_col]), [float(x) for x in r[vec_col]]) for r in seeds
    ]
    assigned = None
    for _ in range(max_iter):
        assigned = kmeans_assign(corpus, cents, id_col, vec_col)
        new_rows = (
            kmeans_centroids(assigned, "cluster", vec_col)
            .orderBy("cluster")
            .collect()
        )
        # empty clusters (zero assigned vectors — e.g. duplicate seed
        # embeddings losing every tie) keep their PREVIOUS centroid
        # instead of silently shrinking k (review-r4b): the caller
        # asked for k cells and the IVF layout sizes against that
        new_map = {int(r.cluster): [float(x) for x in r.centroid] for r in new_rows}
        new_cents = [(cid, new_map.get(cid, comps)) for cid, comps in cents]
        if new_cents == cents:
            break
        cents = new_cents
    return kmeans_assign(corpus, cents, id_col, vec_col).drop("__d2"), cents


def semantic_dedup_pairs(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.95,
    max_cluster: int = 10_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with a coarse
    k-means quantizer, then compute EXACT cosine only WITHIN each
    cluster — pairwise work drops from O(n^2) to O(sum n_c^2), and at
    100 TB k is chosen so clusters stay bounded (k ~ n / target
    cluster size; the paper uses ~50k clusters for LAION-scale).
    Output: (cluster, id_a, id_b, cosine) for within-cluster pairs
    with cosine >= ``min_cosine`` (id_a < id_b).

    Shape: one vectorized assignment scan (kmeans_assign's mapInArrow
    kernel), then a GROUPED Arrow kernel (``applyInPandas`` per
    cluster) that computes the within-cluster pair matrix in numpy.
    This beats the self-join-on-cluster form on BOTH axes that matter
    at scale: shuffle volume (each vector moves once per CLUSTER —
    dim doubles per row — where the pair join moves 2×dim doubles per
    PAIR, a ~cluster_size× inflation), and compute (the m×m Gram
    accumulation is a vectorized outer-product loop, not an
    interpreted per-pair fold — the NOTES.md HOF trap; multiplier per
    row is cluster_size×dim, far past the measured ~8× Arrow
    crossover). Accumulation is DIM-SEQUENTIAL (a Python loop of
    rank-1 updates), so every cosine is bit-identical to the
    fdot/fnorm fold and the DuckDB list_reduce oracle; the
    fold-expression form is kept as ``_semantic_dedup_pairs_fold``
    and a property test pins kernel == fold.

    Degenerate clusters larger than ``max_cluster`` emit no pairs
    (the same skew guard as the LSH band buckets: a runaway cluster
    means k is too small for the corpus — fix k, don't quadratically
    explode one reducer). The guard is a JVM-side window filter
    BEFORE the grouped kernel, so an oversized cluster is never even
    materialized into a Python worker (review-r4b: an in-kernel check
    fires only after applyInPandas has already loaded the whole
    group); the window and the groupBy share the cluster partitioning
    so it costs no extra shuffle. Kernel memory is strip-bounded: one
    1024×m Gram strip lives at a time (~80 MB at the max_cluster
    default), never the full m×m matrix.

    Degenerate-vector policy (both forms, property-tested equal):
    zero-norm vectors yield NULL cosine and never pair (the
    :func:`cosine` guard); NaN-component vectors yield NaN cosine
    and are EXCLUDED too — under Spark's raw ``>=`` a NaN cosine
    compares greater than any threshold, so one poisoned vector
    would otherwise "duplicate" its ENTIRE cluster (m spurious
    drops), the exact hazard the NULL guard exists for. (NaN also
    cannot round-trip the grouped kernel: pandas→Arrow folds float
    NaN into null.) Duplicate ids in a cluster never self-pair (the
    fold's strict ``id_a < id_b``).

    Complements the other embedding dedups: quantize (O(n) exact-
    bucket), RHP-LSH (probabilistic candidates), and this —
    cluster-bounded exhaustive verify, the highest-recall of the
    three within a cluster.
    """
    import numpy as np
    import pandas as pd

    # narrow projection BEFORE the group shuffle: only (cluster, id,
    # vector) move; any payload/text columns riding on the corpus
    # must not be serialized into every cluster group
    assigned = (
        kmeans_assign(corpus, centroids, id_col, vec_col)
        .select("cluster", id_col, vec_col)
    )
    guarded = assigned.withColumn(
        "__cn", F.count("*").over(Window.partitionBy("cluster"))
    ).filter(F.col("__cn") <= max_cluster).drop("__cn")
    id_type = assigned.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("cluster", LongType(), False),
            StructField("id_a", id_type, False),
            StructField("id_b", id_type, False),
            StructField("cosine", DoubleType(), True),
        ]
    )
    empty = pd.DataFrame({"cluster": [], "id_a": [], "id_b": [], "cosine": []})

    def _pairs(key, pdf):
        m = len(pdf)
        if m < 2:
            return empty
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        x = np.stack(pdf[vec_col].to_numpy()[order]).astype(np.float64)
        dim = x.shape[1]
        # norms first, with the fold's dim-sequential order (the shared
        # _seq_sq_norms kernel — identical accumulation to the Gram
        # diagonal), so each Gram strip below can be discarded as soon
        # as its pairs are out
        norm = _seq_sq_norms(x)
        out_tuples = []
        block = 1024
        for lo in range(0, m, block):
            hi = min(lo + block, m)
            # dim-sequential Gram strip == the fdot fold's FP order
            g = np.zeros((hi - lo, m), dtype=np.float64)
            for d in range(dim):
                g += x[lo:hi, d][:, None] * x[None, :, d]
            denom = norm[lo:hi][:, None] * norm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = g / denom
            # ids sorted ascending -> index i<j plus id inequality ==
            # the fold's strict id_a < id_b (duplicate ids never
            # self-pair); denom > 0 drops zero-norm (NULL) pairs and
            # NaN-denominator pairs alike, and a NaN cosine fails the
            # numpy >= — the documented degenerate-vector exclusion
            ii, jj = np.nonzero(
                (np.arange(lo, hi)[:, None] < np.arange(m)[None, :])
                & (ids[lo:hi, None] != ids[None, :])
                & (denom > 0.0)
                & (cos >= min_cosine)
            )
            out_tuples.append((ids[ii + lo], ids[jj], cos[ii, jj]))
        ida = np.concatenate([t[0] for t in out_tuples])
        idb = np.concatenate([t[1] for t in out_tuples])
        cs = np.concatenate([t[2] for t in out_tuples])
        return pd.DataFrame(
            {
                "cluster": np.full(len(ida), key[0], dtype=np.int64),
                "id_a": ida,
                "id_b": idb,
                "cosine": cs,
            }
        )

    return guarded.groupBy("cluster").applyInPandas(_pairs, out_schema)


def _semantic_dedup_pairs_fold(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.95,
    max_cluster: int = 10_000,
) -> DataFrame:
    """The Catalyst fold-expression form of :func:`semantic_dedup_pairs`
    (self-join on cluster + sequential-fold cosine per pair) — kept as
    the reference semantics the grouped Arrow kernel must match
    bit-for-bit (property-tested); also the shape the SQL oracle uses."""
    assigned = kmeans_assign(corpus, centroids, id_col, vec_col).drop("__d2")
    sized = assigned.withColumn(
        "__cn", F.count("*").over(Window.partitionBy("cluster"))
    ).filter(F.col("__cn") <= max_cluster)
    a = sized.select(
        F.col("cluster"), F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")
    )
    b = sized.select(
        F.col("cluster"), F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")
    )
    pairs = a.join(b, "cluster").filter(F.col("id_a") < F.col("id_b"))
    scored = pairs.select(
        "cluster", "id_a", "id_b", cosine("__va", "__vb").alias("cosine")
    )
    # NaN exclusion mirrors the kernel's degenerate-vector policy: a
    # raw >= would pass NaN (Spark orders NaN above all doubles) and
    # pair a poisoned vector with its whole cluster
    return scored.filter(
        (F.col("cosine") >= min_cosine) & ~F.isnan("cosine")
    )


# --- product quantization (ADC) ---------------------------------------------

#: PQ defaults: M subspaces, integer micro-grid for exact distances
PQ_M = 4
PQ_QSCALE = 10_000


def pq_codebook(
    corpus: DataFrame,
    k: int = 16,
    m: int = PQ_M,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qscale: int = PQ_QSCALE,
):
    """Deterministic PQ codebook (Jegou et al., TPAMI'11 "Product
    Quantization for Nearest Neighbor Search"): subspace ``mi``'s code
    ``c`` is the ``mi``-th subvector of the c-th seed vector — seeds
    are the k lowest-id vectors, the kmeans_step seeding discipline
    (swap in kmeans_fit per subspace for trained codebooks; the
    encode/search machinery below is identical either way).

    Components are quantized to EXACT integers via
    floor(v*qscale + 0.5) — the engine-identical micro-grid — so every
    downstream distance is integer arithmetic: no accumulation-order
    parity machinery needed anywhere in the PQ path. Returns
    (codebook ndarray (m, k, dsub) int64, dsub)."""
    import math

    import numpy as np

    seeds = corpus.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    if len(seeds) < k:
        raise ValueError(f"pq_codebook needs >= {k} vectors, got {len(seeds)}")
    dim = len(seeds[0][vec_col])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    q = np.array(
        [
            [math.floor(float(x) * qscale + 0.5) for x in r[vec_col]]
            for r in seeds
        ],
        dtype=np.int64,
    )
    return q.reshape(k, m, dsub).transpose(1, 0, 2).copy(), dsub


def pq_encode(
    corpus: DataFrame,
    codebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qscale: int = PQ_QSCALE,
) -> DataFrame:
    """Encode every vector as m codebook codes: per-subspace argmin of
    EXACT integer squared L2 on the quantized grid, ties to the lower
    code. Output: (id_col, codes array<int> of length m) — the
    compressed representation that makes 100 TB ANN memory-feasible
    (m bytes-ish per vector instead of dim floats).

    mapInArrow numpy kernel: per-row work is m*k*dsub multiply-adds
    (~1024 at the defaults), far past the measured ~8x Arrow crossover
    (NOTES), and the list<float> column flattens zero-copy. Integer
    arithmetic makes the kernel bit-identical to any fold order and to
    the DuckDB list_reduce oracle by construction."""
    import numpy as np

    cb = np.asarray(codebook, dtype=np.int64)
    m, k, dsub = cb.shape
    dim = m * dsub
    in_schema = corpus.select(id_col, vec_col).schema
    out_schema = StructType(
        [
            in_schema.fields[0],
            StructField("codes", ArrayType(IntegerType(), False), False),
        ]
    )

    def _encode(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            emb = batch.column(1)
            flat_arr = emb.flatten()
            if emb.null_count != 0 or flat_arr.null_count != 0:
                raise ValueError("pq_encode requires non-null vectors and elements")
            flat = flat_arr.to_numpy(zero_copy_only=False)
            if flat.size != n * dim:
                raise ValueError(f"pq_encode requires fixed dim={dim} vectors")
            x = flat.reshape(n, dim).astype(np.float64)
            q = np.floor(x * qscale + 0.5).astype(np.int64)
            codes = np.empty((n, m), dtype=np.int32)
            for mi in range(m):
                sub = q[:, mi * dsub : (mi + 1) * dsub]
                dif = sub[:, None, :] - cb[mi][None, :, :]
                d = np.einsum("nkd,nkd->nk", dif, dif)
                # argmin returns the FIRST minimum: ties to lower code
                codes[:, mi] = d.argmin(axis=1).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pa.FixedSizeListArray.from_arrays(
                        pa.array(codes.reshape(-1), pa.int32()), m
                    ).cast(pa.list_(pa.int32())),
                ],
                names=[out_schema.fields[0].name, "codes"],
            )

    return corpus.select(id_col, vec_col).mapInArrow(_encode, out_schema)


def _pq_distance_table(
    spark, query_vecs: list[tuple[int, list[float]]], codebook, qscale: int
) -> DataFrame:
    """Per-query asymmetric-distance lookup table: (query_id, m, code,
    d) with d the EXACT integer squared L2 between the query's mi-th
    quantized subvector and codebook entry (mi, code). queries x m x k
    rows — constant-size, always broadcastable (shared by
    pq_adc_scores and ivfpq_topk)."""
    import math

    import numpy as np

    cb = np.asarray(codebook, dtype=np.int64)
    m, k, dsub = cb.shape
    rows = []
    for qid, comps in query_vecs:
        qq = np.array(
            [math.floor(float(x) * qscale + 0.5) for x in comps], dtype=np.int64
        ).reshape(m, dsub)
        for mi in range(m):
            dif = cb[mi] - qq[mi][None, :]
            d = (dif * dif).sum(axis=1)
            rows += [(int(qid), mi, int(c), int(d[c])) for c in range(k)]
    return spark.createDataFrame(rows, "query_id long, m int, code int, d bigint")


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    cell_col: str,
    codebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    k: int = 10,
    nprobe: int = 2,
    qscale: int = PQ_QSCALE,
) -> DataFrame:
    """IVF-PQ search (IVFADC, Jegou et al. TPAMI'11 §IV; the FAISS
    IndexIVFPQ shape): the coarse quantizer restricts the scan to
    ``nprobe`` probed cells per query, and within them each vector
    scores by ASYMMETRIC distance — m integer lookups into the query's
    broadcast distance table — against its PQ codes, never its floats.

    This is the composition that makes 100 TB ANN practical: codes at
    rest (pq_encode), cell-pruned scan (ivf), constant-size broadcast
    state per query (the m x k tables). Here the encoded table joins
    its cell assignment by id (co-partitioned, unique key); a
    production index materializes (cell, codes) partitioned by cell
    once — build_ivf_index's layout with codes instead of vectors —
    and this function's probe+score tail runs unchanged on it.

    Output: (query_id, neighbor_id, pq_d2, rank) — rank by exact
    BIGINT asymmetric distance, ties to the lower id, self excluded.
    """
    cents = ivf_centroids(corpus, cell_col, vec_col)
    probe = _probe_cells(queries, cents, query_id, vec_col, nprobe)
    qrows = queries.select(query_id, vec_col).collect()
    query_vecs = [(int(r[query_id]), [float(x) for x in r[vec_col]]) for r in qrows]
    dtable = _pq_distance_table(corpus.sparkSession, query_vecs, codebook, qscale)
    enc = pq_encode(corpus.select(id_col, vec_col), codebook, id_col, vec_col, qscale)
    enc_cells = enc.join(
        corpus.select(F.col(id_col), F.col(cell_col).alias("cell")), id_col
    )
    return _pq_score_probed(enc_cells, probe, dtable, id_col, query_id, k)


def _pq_score_probed(
    enc_cells: DataFrame, probe: DataFrame, dtable: DataFrame,
    id_col: str, query_id: str, k: int,
) -> DataFrame:
    """Shared IVFADC scoring tail (ivfpq_topk and the materialized
    ivfpq_topk_indexed): join probed (query, cell) pairs to the
    cell-keyed codes, sum m broadcast distance-table lookups per
    vector, per-query top-k by exact BIGINT distance."""
    cand = (
        enc_cells.join(broadcast(probe.select(query_id, "cell")), "cell")
        .filter(F.col(id_col) != F.col(query_id))
        .select(query_id, F.col(id_col).alias("neighbor_id"), "codes")
    )
    scored = (
        cand.select(query_id, "neighbor_id", F.posexplode("codes").alias("m", "code"))
        .join(broadcast(dtable), [query_id, "m", "code"])
        .groupBy(query_id, "neighbor_id")
        .agg(F.sum("d").cast("bigint").alias("pq_d2"))
    )
    w = Window.partitionBy(query_id).orderBy("pq_d2", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def _quantized_centroid_map(cent_rows, qscale: int) -> dict:
    """cell -> quantized-centroid int list, floor(c*qscale + 0.5) — the
    engine-identical micro-grid applied to the DECIMAL-exact double
    centroids (both engines compute the same double, so the floor is
    identical)."""
    import math

    return {
        r["cell"]: [math.floor(float(c) * qscale + 0.5) for c in r["centroid"]]
        for r in cent_rows
    }


def pq_residual_codebook(
    corpus: DataFrame,
    qcent: dict,
    cell_col: str,
    k: int = 16,
    m: int = PQ_M,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qscale: int = PQ_QSCALE,
):
    """Residual-space PQ codebook for TRUE IVFADC (Jegou et al.
    TPAMI'11 §IV-A: PQ encodes the residual x - q1(x), not x — the
    residual energy is far smaller than the vector energy, so the same
    code budget quantizes much finer). Seeds are the k lowest-id
    vectors' INTEGER residuals to their cell's quantized centroid
    (``qcent`` from :func:`_quantized_centroid_map`); same
    deterministic seeding discipline as :func:`pq_codebook`. Returns
    (codebook ndarray (m, k, dsub) int64, dsub)."""
    import math

    import numpy as np

    seeds = (
        corpus.select(id_col, vec_col, cell_col).orderBy(id_col).limit(k).collect()
    )
    if len(seeds) < k:
        raise ValueError(f"pq_residual_codebook needs >= {k} vectors, got {len(seeds)}")
    dim = len(seeds[0][vec_col])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rows = []
    for r in seeds:
        qc = qcent[r[cell_col]]
        rows.append(
            [
                math.floor(float(x) * qscale + 0.5) - qc[i]
                for i, x in enumerate(r[vec_col])
            ]
        )
    q = np.array(rows, dtype=np.int64)
    return q.reshape(k, m, dsub).transpose(1, 0, 2).copy(), dsub


def pq_trained_codebook(
    vectors: DataFrame,
    k: int = 16,
    m: int = PQ_M,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qscale: int = PQ_QSCALE,
    max_iter: int = 5,
    pre_quantized: bool = False,
):
    """TRAINED PQ codebook: per-subspace Lloyd's k-means over the
    corpus subvectors (:func:`kmeans_fit`'s deterministic discipline —
    lowest-id seeds, DECIMAL-exact centroid means, ties to the lower
    cluster), centroids snapped to the integer micro-grid. This is
    FAISS's ProductQuantizer.train(): the sub-quantizers adapt to the
    actual (sub)vector distribution instead of memorizing k seed
    vectors — the step that makes residual coding pay off
    (:func:`ivfpq_residual_topk`'s measurement note).

    ``pre_quantized``: the vector column already holds integer-grid
    values (e.g. residuals from :func:`_quantized_centroid_map`
    subtraction) — centroids are then snapped with floor(c + 0.5)
    instead of floor(c * qscale + 0.5).

    Cost: m small k-means runs over one corpus scan per iteration —
    the standard PQ training pass; at 100 TB train on a sample (pass
    ``vectors.limit(n)``), exactly like FAISS. Returns
    ((m, k, dsub) int64 codebook, dsub)."""
    import math

    import numpy as np

    first = vectors.select(vec_col).first()
    if first is None:
        raise ValueError("pq_trained_codebook needs a non-empty corpus")
    dim = len(first[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    cb = np.empty((m, k, dsub), dtype=np.int64)
    scale = 1 if pre_quantized else qscale
    for mi in range(m):
        sub = vectors.select(
            F.col(id_col), F.slice(F.col(vec_col), mi * dsub + 1, dsub).alias("__sub")
        )
        _assigned, cents = kmeans_fit(sub, k, id_col, "__sub", max_iter)
        # kmeans_fit keys centroids by seed id; codebook codes are the
        # RANK of the seed id (0..k-1), matching pq_codebook's
        # lowest-id-first code order
        for code, (_cid, comps) in enumerate(sorted(cents, key=lambda t: t[0])):
            cb[mi, code] = [math.floor(float(c) * scale + 0.5) for c in comps]
    return cb, dsub


def pq_trained_codebook_all(
    vectors: DataFrame,
    k: int = 16,
    m: int = PQ_M,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qscale: int = PQ_QSCALE,
    max_iter: int = 5,
):
    """Semantically identical to :func:`pq_trained_codebook` (pytest
    pins codebook equality), restructured for LATENCY: all ``m``
    per-subspace Lloyd k-means runs advance together, ONE Spark job
    per iteration instead of 2 jobs x m subspaces x iterations. The
    Arrow kernel assigns every subspace (dim-sequential float64
    accumulation — kmeans_assign's fold order, so distances are
    bit-identical) AND emits per-batch centroid partials
    (mi, cluster, dim, micro-sum, count); one groupBy reduces them and
    the driver applies kmeans_centroids' exact offset floor-div on the
    1e-7 grid. Empty clusters keep their previous centroid and
    convergence early-stops, both exactly as kmeans_fit. The training
    corpus is bounded by contract (sample at 100 TB), so the k x m x
    dsub state rides the closure like kmeans_assign's centroids."""
    import math

    import numpy as np
    import pyarrow as pa

    seeds = vectors.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    if len(seeds) < k:
        raise ValueError(f"pq_trained_codebook_all needs >= {k} vectors")
    dim = len(seeds[0][vec_col])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    # cents[mi] = list of (cluster_id, comps float64[dsub]), cluster
    # ids ascending (= seed ids, the tie-break order)
    cents = [
        [
            (int(r[id_col]), np.array([float(x) for x in r[vec_col]])[
                mi * dsub : (mi + 1) * dsub
            ])
            for r in seeds
        ]
        for mi in range(m)
    ]
    part_schema = StructType(
        [
            StructField("mi", IntegerType(), False),
            StructField("cluster", LongType(), False),
            StructField("dimn", IntegerType(), False),
            StructField("su", LongType(), False),
            StructField("n", LongType(), False),
        ]
    )

    def _stats_kernel(cmats, cids):
        def _run(batches):
            for batch in batches:
                nrows = batch.num_rows
                if nrows == 0:
                    continue
                emb = batch.column(1)
                flat = emb.flatten()
                if emb.null_count != 0 or flat.null_count != 0:
                    raise ValueError(
                        "pq_trained_codebook_all requires non-null vectors"
                    )
                if len(flat) != nrows * dim:
                    raise ValueError(
                        f"pq_trained_codebook_all requires fixed dim={dim}"
                    )
                x = (
                    flat.to_numpy(zero_copy_only=False)
                    .reshape(nrows, dim)
                    .astype(np.float64)
                )
                micro = np.floor(x * 1e7 + 0.5).astype(np.int64)
                out_mi, out_cl, out_d, out_su, out_n = [], [], [], [], []
                for mi in range(m):
                    sub = x[:, mi * dsub : (mi + 1) * dsub]
                    best_d2 = None
                    best_j = None
                    for j in range(k):
                        sq = sub - cmats[mi][j]
                        sq *= sq
                        acc = np.zeros(nrows, dtype=np.float64)
                        for d in range(dsub):
                            acc = acc + sq[:, d]
                        if best_d2 is None:
                            best_d2 = acc
                            best_j = np.zeros(nrows, dtype=np.int64)
                        else:
                            better = acc < best_d2  # strict: ties keep earlier
                            best_d2 = np.where(better, acc, best_d2)
                            best_j = np.where(better, j, best_j)
                    msub = micro[:, mi * dsub : (mi + 1) * dsub]
                    for j in range(k):
                        sel = best_j == j
                        cnt = int(sel.sum())
                        if cnt == 0:
                            continue
                        su = msub[sel].sum(axis=0)
                        out_mi += [mi] * dsub
                        out_cl += [cids[mi][j]] * dsub
                        out_d += list(range(dsub))
                        out_su += [int(v) for v in su]
                        out_n += [cnt] * dsub
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(out_mi, pa.int32()),
                        pa.array(out_cl, pa.int64()),
                        pa.array(out_d, pa.int32()),
                        pa.array(out_su, pa.int64()),
                        pa.array(out_n, pa.int64()),
                    ],
                    names=["mi", "cluster", "dimn", "su", "n"],
                )

        return _run

    src = vectors.select(id_col, vec_col)
    for _ in range(max_iter):
        cmats = [np.array([c for _, c in cents[mi]]) for mi in range(m)]
        cids = [[cid for cid, _ in cents[mi]] for mi in range(m)]
        stats = (
            src.mapInArrow(_stats_kernel(cmats, cids), part_schema)
            .groupBy("mi", "cluster", "dimn")
            .agg(F.sum("su").alias("su"), F.sum("n").alias("n"))
            .collect()
        )
        acc: dict = {}
        for r in stats:
            acc.setdefault((r.mi, r.cluster), {})[r.dimn] = (int(r.su), int(r.n))
        new_cents = []
        changed = False
        for mi in range(m):
            row = []
            for cid, prev in cents[mi]:
                got = acc.get((mi, cid))
                if got is None:
                    row.append((cid, prev))  # empty cluster keeps previous
                    continue
                comps = np.array(
                    [
                        float((got[d][0] + got[d][1] * KM_OFF) // got[d][1] - KM_OFF)
                        / KM_SCALE
                        for d in range(dsub)
                    ]
                )
                if not np.array_equal(comps, prev):
                    changed = True
                row.append((cid, comps))
            new_cents.append(row)
        cents = new_cents
        if not changed:
            break
    cb = np.empty((m, k, dsub), dtype=np.int64)
    for mi in range(m):
        for code, (_cid, comps) in enumerate(sorted(cents[mi], key=lambda t: t[0])):
            cb[mi, code] = [math.floor(float(c) * qscale + 0.5) for c in comps]
    return cb, dsub


def pq_encode_residual(
    corpus_with_cell: DataFrame,
    codebook,
    qcent: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    qscale: int = PQ_QSCALE,
) -> DataFrame:
    """pq_encode in residual space: the quantized-centroid map rides
    the kernel CLOSURE exactly like the codebook (one entry per coarse
    cell — bounded by quantizer design), so the encode pass ships only
    (id, cell, vector) through Arrow instead of joining a dim-long
    centroid array onto EVERY row (the r7 smoke measured the join
    form's build at 70.5s vs 16.3s for the raw-code build at 1M x 64 —
    the per-row centroid column doubled the Arrow volume). Rows are
    grouped by cell inside the batch, so the subtraction is one
    vectorized op per DISTINCT cell present. Output
    (id_col, cell, codes); same integer-exactness contract as
    :func:`pq_encode`."""
    import numpy as np

    cb = np.asarray(codebook, dtype=np.int64)
    m, k, dsub = cb.shape
    dim = m * dsub
    qcent_arrs = {c: np.asarray(v, dtype=np.int64) for c, v in qcent.items()}
    src = corpus_with_cell.select(id_col, cell_col, vec_col)
    in_schema = src.schema
    out_schema = StructType(
        [
            in_schema.fields[0],
            in_schema.fields[1],
            StructField("codes", ArrayType(IntegerType(), False), False),
        ]
    )

    def _encode(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            emb = batch.column(2)
            flat_e = emb.flatten()
            if emb.null_count or flat_e.null_count:
                raise ValueError("pq_encode_residual requires non-null vectors")
            xe = flat_e.to_numpy(zero_copy_only=False)
            if xe.size != n * dim:
                raise ValueError(f"pq_encode_residual requires fixed dim={dim}")
            cells = batch.column(1).to_numpy(zero_copy_only=False)
            q = np.floor(xe.reshape(n, dim).astype(np.float64) * qscale + 0.5).astype(
                np.int64
            )
            rq = np.empty_like(q)
            for cell in np.unique(cells):
                qc = qcent_arrs.get(cell)
                if qc is None:
                    raise ValueError(f"pq_encode_residual: unknown cell {cell!r}")
                mask = cells == cell
                rq[mask] = q[mask] - qc[None, :]
            codes = np.empty((n, m), dtype=np.int32)
            for mi in range(m):
                sub = rq[:, mi * dsub : (mi + 1) * dsub]
                dif = sub[:, None, :] - cb[mi][None, :, :]
                d = np.einsum("nkd,nkd->nk", dif, dif)
                codes[:, mi] = d.argmin(axis=1).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    batch.column(1),
                    pa.FixedSizeListArray.from_arrays(
                        pa.array(codes.reshape(-1), pa.int32()), m
                    ).cast(pa.list_(pa.int32())),
                ],
                names=[out_schema.fields[0].name, out_schema.fields[1].name, "codes"],
            )

    return src.mapInArrow(_encode, out_schema)


def residual_vectors(
    corpus: DataFrame,
    qcent: dict,
    cell_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qscale: int = PQ_QSCALE,
) -> DataFrame:
    """(id, cell, __res array<double>) with __res the INTEGER-grid
    residual to the cell's quantized centroid (values are integers,
    exact in double) — the training input for
    ``pq_trained_codebook(..., pre_quantized=True)``. The centroid
    map rides the kernel closure (pq_encode_residual's discipline) —
    no per-row centroid column through Arrow."""
    import numpy as np

    qcent_arrs = {c: np.asarray(v, dtype=np.float64) for c, v in qcent.items()}
    src = corpus.select(F.col(id_col), F.col(cell_col).alias("cell"), F.col(vec_col))
    in_schema = src.select(id_col, "cell").schema
    out_schema = StructType(
        [
            in_schema.fields[0],
            in_schema.fields[1],
            StructField("__res", ArrayType(DoubleType(), False), False),
        ]
    )

    def _res(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            xe = batch.column(2).flatten().to_numpy(zero_copy_only=False)
            cells = batch.column(1).to_numpy(zero_copy_only=False)
            dim = xe.size // n
            q = np.floor(xe.reshape(n, dim).astype(np.float64) * qscale + 0.5)
            rq = np.empty_like(q)
            for cell in np.unique(cells):
                mask = cells == cell
                rq[mask] = q[mask] - qcent_arrs[cell][None, :]
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    batch.column(1),
                    pa.FixedSizeListArray.from_arrays(
                        pa.array(rq.reshape(-1), pa.float64()), dim
                    ).cast(pa.list_(pa.float64())),
                ],
                names=[out_schema.fields[0].name, "cell", "__res"],
            )

    return src.select(id_col, "cell", vec_col).mapInArrow(
        _res, out_schema
    )


def ivfpq_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    cell_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    k: int = 10,
    nprobe: int = 2,
    k_codes: int = 16,
    m: int = PQ_M,
    qscale: int = PQ_QSCALE,
    codebook=None,
) -> DataFrame:
    """TRUE IVFADC (Jegou et al. TPAMI'11 §IV-A, the FAISS IndexIVFPQ
    default): PQ codes quantize the RESIDUAL to the coarse centroid,
    not the raw vector — residual energy is much smaller, so the same
    m-byte code budget quantizes finer WHEN the sub-quantizers are
    trained on the residual distribution (:func:`pq_trained_codebook`
    over :func:`residual_vectors`, pre_quantized=True — pass the
    result via ``codebook=``). MEASURED HONESTLY at sf0.01
    (within-probed-cell recall@10): seed residual codebook 0.32,
    TRAINED residual 0.36, raw-vector 0.38 — the fixture's embeddings
    have weak cluster structure (residual energy ~ vector energy), so
    residual coding does not win THERE; on clustered corpora where
    residual energy is small it wins decisively (pinned by
    test_ivfpq_residual_wins_on_clustered_corpus). The price: the asymmetric
    distance table becomes per-(query, PROBED CELL) — the query
    residual differs per cell — still bounded at
    queries x nprobe x m x k rows, broadcastable by contract.

    Integer-exact end to end: quantized vectors minus quantized
    centroids on the micro-grid, BIGINT squared distances, ranks
    bit-identical across engines. Size contract: centroids (one row
    per coarse cell) and queries are driver-collected — both bounded
    by quantizer design, the ivf_topk_indexed contract.

    Output: (query_id, neighbor_id, pq_d2, rank)."""
    spark = corpus.sparkSession
    cents = ivf_centroids(corpus, cell_col, vec_col)
    cent_rows = cents.collect()
    # re-frame the collected rows for the probe ranking: ranking off
    # the original DataFrame would re-execute the dim x N centroid
    # aggregate a second time (the build_ivfpq_residual_index note)
    cents_local = spark.createDataFrame(cent_rows, cents.schema)
    qcent = _quantized_centroid_map(cent_rows, qscale)
    if codebook is None:
        # deterministic seed codebook (the oracle-parity default);
        # pass pq_trained_codebook(residual_vectors(...), ...,
        # pre_quantized=True) output for FAISS-style trained codes
        codebook, _ = pq_residual_codebook(
            corpus, qcent, cell_col, k_codes, m, id_col, vec_col, qscale
        )
    import numpy as np

    probe_rows = _probe_cells(queries, cents_local, query_id, vec_col, nprobe).collect()
    cell_type = cents.schema["cell"].dataType
    dtable, probe_df = _residual_probe_frames(
        spark, probe_rows, qcent, np.asarray(codebook, dtype=np.int64),
        query_id, qscale, cell_type,
    )
    enc_in = corpus.select(
        F.col(id_col), F.col(cell_col).alias("cell"), F.col(vec_col)
    )
    enc = pq_encode_residual(enc_in, codebook, qcent, id_col, vec_col, "cell", qscale)
    return _pq_residual_score(enc, probe_df, dtable, id_col, query_id, k)


def _residual_probe_frames(
    spark, probe_rows, qcent: dict, cbx, query_id: str, qscale: int, cell_type
):
    """Shared TRUE-IVFADC probe state (ivfpq_residual_topk and the
    materialized-index probe): the per-(query, PROBED CELL) asymmetric
    distance table — the query residual differs per cell — plus the
    (query, cell) probe frame; both bounded by contract and broadcast
    by the scorer."""
    import math

    import numpy as np

    mm, kk, dsub = cbx.shape
    dt_rows = []
    for r in probe_rows:
        qq = np.array(
            [math.floor(float(x) * qscale + 0.5) for x in r["__qv"]], dtype=np.int64
        )
        rqq = (qq - np.array(qcent[r["cell"]], dtype=np.int64)).reshape(mm, dsub)
        for mi in range(mm):
            dif = cbx[mi] - rqq[mi][None, :]
            d = (dif * dif).sum(axis=1)
            dt_rows += [
                (int(r[query_id]), r["cell"], mi, int(c), int(d[c]))
                for c in range(kk)
            ]
    dtable = spark.createDataFrame(
        dt_rows,
        StructType(
            [
                StructField(query_id, LongType(), False),
                StructField("cell", cell_type, False),
                StructField("m", IntegerType(), False),
                StructField("code", IntegerType(), False),
                StructField("d", LongType(), False),
            ]
        ),
    )
    probe_df = spark.createDataFrame(
        [(int(r[query_id]), r["cell"]) for r in probe_rows],
        StructType(
            [
                StructField(query_id, LongType(), False),
                StructField("cell", cell_type, False),
            ]
        ),
    )
    return dtable, probe_df


def _pq_residual_score(
    codes_cells: DataFrame, probe_df: DataFrame, dtable: DataFrame,
    id_col: str, query_id: str, k: int,
) -> DataFrame:
    """Shared TRUE-IVFADC scoring tail: like :func:`_pq_score_probed`
    but the distance-table join carries the CELL key (per-cell query
    residuals)."""
    cand = (
        codes_cells.join(broadcast(probe_df), "cell")
        .filter(F.col(id_col) != F.col(query_id))
        .select(query_id, "cell", F.col(id_col).alias("neighbor_id"), "codes")
    )
    scored = (
        cand.select(
            query_id, "cell", "neighbor_id", F.posexplode("codes").alias("m", "code")
        )
        .join(broadcast(dtable), [query_id, "cell", "m", "code"])
        .groupBy(query_id, "neighbor_id")
        .agg(F.sum("d").cast("bigint").alias("pq_d2"))
    )
    w = Window.partitionBy(query_id).orderBy("pq_d2", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def build_ivfpq_residual_index(
    corpus: DataFrame,
    path: str,
    cell_col: str,
    codebook=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qscale: int = PQ_QSCALE,
) -> None:
    """Materialize the TRUE-IVFADC index: centroids parquet + RESIDUAL
    PQ codes ``partitionBy(cell)`` + the codebook itself (rows
    (m, code, cent) — FAISS serializes the trained quantizer with the
    index for the same reason: the probe path must encode queries
    against the exact codebook the corpus was coded with, and at probe
    time the corpus is gone). ``codebook=None`` builds the
    deterministic seed-residual codebook; pass
    :func:`pq_trained_codebook` output for trained codes."""
    import numpy as np

    spark = corpus.sparkSession
    cents = ivf_centroids(corpus, cell_col, vec_col)
    # collect ONCE, then write the collected rows: writing the cents
    # DataFrame and then .collect()ing it would execute the dim x N
    # explode+aggregate TWICE (the r7 smoke measured each pass at
    # ~16-20s on 1M x 64); the centroid table is driver-bounded by
    # contract, so a local re-frame costs nothing
    cent_rows = cents.collect()
    spark.createDataFrame(cent_rows, cents.schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/centroids")
    qcent = _quantized_centroid_map(cent_rows, qscale)
    if codebook is None:
        codebook, _ = pq_residual_codebook(
            corpus, qcent, cell_col, 16, PQ_M, id_col, vec_col, qscale
        )
    cb = np.asarray(codebook, dtype=np.int64)
    m, k, _dsub = cb.shape
    cb_rows = [
        (mi, int(c), [int(v) for v in cb[mi, c]])
        for mi in range(m)
        for c in range(k)
    ]
    spark.createDataFrame(
        cb_rows, "m int, code int, cent array<bigint>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebook")
    enc_in = corpus.select(
        F.col(id_col), F.col(cell_col).alias("cell"), F.col(vec_col)
    )
    (
        pq_encode_residual(enc_in, cb, qcent, id_col, vec_col, "cell", qscale)
        # co-locate each cell before the partitioned write: without
        # this every task opens a writer per cell (tasks x cells small
        # files + per-task dynamic-partition sorting — profiled at 3x
        # the write cost at 1M x 100 cells). The codes are ~24 bytes a
        # row, so the extra shuffle is trivial next to the win.
        .repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/codes")
    )


def ivfpq_residual_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    k: int = 10,
    nprobe: int = 2,
    qscale: int = PQ_QSCALE,
) -> DataFrame:
    """Probe a materialized TRUE-IVFADC index (see
    :func:`build_ivfpq_residual_index`) — identical results to
    :func:`ivfpq_residual_topk` on the same corpus/codebook, but the
    query path reads only the persisted centroids, the serialized
    codebook, and the PROBED CELLS' residual-code partitions (static
    IN-list prune, the ivf_topk_indexed discipline); the float corpus
    is never touched. Size contract as ivfpq_topk_indexed: queries
    stay driver-collectable (per-cell distance tables are
    queries x nprobe x m x k rows)."""
    import numpy as np

    cents = spark.read.parquet(f"{path}/centroids")
    qcent = _quantized_centroid_map(cents.collect(), qscale)
    cb_rows = spark.read.parquet(f"{path}/codebook").collect()
    m = 1 + max(r["m"] for r in cb_rows)
    kk = 1 + max(r["code"] for r in cb_rows)
    dsub = len(cb_rows[0]["cent"])
    cbx = np.zeros((m, kk, dsub), dtype=np.int64)
    for r in cb_rows:
        cbx[r["m"], r["code"]] = r["cent"]
    probe_rows = _probe_cells(queries, cents, query_id, vec_col, nprobe).collect()
    probed = sorted({r["cell"] for r in probe_rows})
    codes = spark.read.parquet(f"{path}/codes").filter(F.col("cell").isin(probed))
    cell_type = cents.schema["cell"].dataType
    dtable, probe_df = _residual_probe_frames(
        spark, probe_rows, qcent, cbx, query_id, qscale, cell_type
    )
    return _pq_residual_score(codes, probe_df, dtable, id_col, query_id, k)


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    cell_col: str,
    codebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qscale: int = PQ_QSCALE,
) -> None:
    """Materialize the IVF-PQ index: centroids (tiny parquet) + the
    corpus's PQ CODES rewritten ``partitionBy(cell)`` — the
    build_ivf_index layout with m int32 codes per vector instead of
    dim floats at rest. This is the 100 TB shape: the centroid build
    and the encode pass are paid ONCE at ingest (the 1M-vector smoke
    measured the per-query exact-DECIMAL centroid rebuild at 22.8 s —
    NOTES r5d), and every probe after that reads only the probed
    cells' code files (partition pruning, pinned by the plan audit)."""
    cents = ivf_centroids(corpus, cell_col, vec_col)
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    enc = pq_encode(corpus.select(id_col, vec_col), codebook, id_col, vec_col, qscale)
    (
        enc.join(corpus.select(F.col(id_col), F.col(cell_col).alias("cell")), id_col)
        # co-locate cells before the partitioned write (see
        # build_ivfpq_residual_index: tasks x cells writer blowup)
        .repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/codes")
    )


def ivfpq_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    codebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    k: int = 10,
    nprobe: int = 2,
    qscale: int = PQ_QSCALE,
) -> DataFrame:
    """Probe a materialized IVF-PQ index (see :func:`build_ivfpq_index`)
    — identical results to :func:`ivfpq_topk` on the same corpus and
    codebook, but the query path never touches the float vectors: it
    reads the persisted centroids, statically prunes the code scan to
    the probed cells (IN-list on the partition column, same discipline
    as ivf_topk_indexed — runtime DPP proved unreliable on the
    1M-vector smoke), and scores codes against the constant-size
    broadcast distance tables.

    Size contract: ``queries`` must stay driver-collectable — both the
    static prune (``queries x nprobe`` rows) and the distance-table
    build (``queries x m x k`` entries) round-trip through the driver.
    Thousands of probe queries are fine; corpus-scale query sets
    belong on the batch scorers (:func:`pq_topk` / :func:`ivfpq_topk`)."""
    cents = spark.read.parquet(f"{path}/centroids")
    probe = _probe_cells(queries, cents, query_id, vec_col, nprobe)
    probe, enc_cells = _static_prune(spark, probe, f"{path}/codes")
    qrows = queries.select(query_id, vec_col).collect()
    query_vecs = [(int(r[query_id]), [float(x) for x in r[vec_col]]) for r in qrows]
    dtable = _pq_distance_table(spark, query_vecs, codebook, qscale)
    return _pq_score_probed(enc_cells, probe, dtable, id_col, query_id, k)


def pq_adc_scores(
    encoded: DataFrame,
    query_vecs: list[tuple[int, list[float]]],
    codebook,
    id_col: str = "vec_id",
    qscale: int = PQ_QSCALE,
) -> DataFrame:
    """Asymmetric-distance scores of every encoded vector against
    every query: the per-query distance TABLE (m x k exact integer
    subspace distances, computed once driver-side — queries x m x k
    rows, tiny) broadcasts; each vector's approximate d2 is the sum of
    m table lookups, a posexplode + broadcast equi-join + sum — pure
    Catalyst, partial-aggregated, shuffling only (query, vec, partial)
    rows. Output: (query_id, id_col, pq_d2)."""
    dtable = _pq_distance_table(encoded.sparkSession, query_vecs, codebook, qscale)
    ex = encoded.select(
        F.col(id_col), F.posexplode("codes").alias("m", "code")
    )
    return (
        ex.join(broadcast(dtable), ["m", "code"])
        .groupBy("query_id", id_col)
        .agg(F.sum("d").cast("bigint").alias("pq_d2"))
    )


def opq_rotation(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = PQ_M,
    qscale: int = PQ_QSCALE,
):
    """Parametric OPQ rotation (Ge et al. CVPR'13 §4, "Optimized
    Product Quantization", the OPQ_P recipe FAISS exposes as
    OPQMatrix): PCA basis from the EXACT distributed covariance
    (:func:`gram_matrix_exact` — 100 TB of vectors reduce to dim^2
    BIGINT cells before anything touches the driver), then
    EIGENVALUE ALLOCATION — eigenvectors are dealt, in descending
    eigenvalue order, to the PQ subspace with the smallest current
    eigenvalue product (log-sum form), so every subspace carries
    comparable variance and the independent sub-quantizers stop
    wasting codes on lopsided energy.

    Determinism: covariance is exact integer arithmetic; eigvec sign
    is normalized (largest-|component| entry made positive, lowest
    index on ties) and the allocation tie-breaks by bucket index, so
    the rotation is reproducible run-to-run.

    Returns the (dim, dim) orthogonal float64 matrix R, rows arranged
    so subspace j owns rows [j*dsub, (j+1)*dsub): rotated vector =
    R @ x.
    """
    import numpy as np

    rows = gram_matrix_exact(corpus, vec_col, qscale).collect()
    if not rows:
        raise ValueError("opq_rotation needs a non-empty corpus")
    dim = max(r.j for r in rows) + 1
    S = np.zeros((dim, dim), dtype=np.float64)
    sx = np.zeros(dim, dtype=np.float64)
    n = 0
    for r in rows:
        S[r.i, r.j] = S[r.j, r.i] = float(r.sum_xy)
        sx[r.i] = float(r.sum_x)
        sx[r.j] = float(r.sum_y)
        n = int(r.n)
    return _opq_rotation_from_stats(S, sx, n, dim, m, qscale)


def _opq_rotation_from_stats(S, sx, n: int, dim: int, m: int, qscale: int):
    """Eigen + eigenvalue-allocation tail shared by the distributed
    (:func:`opq_rotation`) and Spark-free (:func:`opq_rotation_local`)
    paths — both feed the IDENTICAL float64 moment matrices derived
    from exact integers, so the two paths return the bit-same R (a
    pytest pins the equivalence)."""
    import math

    import numpy as np

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    cov = (S - np.outer(sx, sx) / n) / (n * float(qscale) ** 2)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1]
    evals, evecs = evals[order], evecs[:, order]
    for c in range(dim):
        col = evecs[:, c]
        if col[int(np.argmax(np.abs(col)))] < 0:
            evecs[:, c] = -col
    dsub = dim // m
    buckets: list[list[int]] = [[] for _ in range(m)]
    logs = [0.0] * m
    for idx in range(dim):
        open_ = [b for b in range(m) if len(buckets[b]) < dsub]
        b = min(open_, key=lambda b: (logs[b], b))
        buckets[b].append(idx)
        logs[b] += math.log(max(float(evals[idx]), 1e-30))
    perm = [i for bucket in buckets for i in bucket]
    return evecs[:, perm].T


def opq_rotation_local(
    parquet_path: str,
    vec_col: str = "embedding",
    m: int = PQ_M,
    qscale: int = PQ_QSCALE,
):
    """Spark-free twin of :func:`opq_rotation` for ORACLE-side use:
    reads the embeddings parquet with pyarrow, accumulates the same
    exact-integer moments numpy-side (q = floor(x*qscale + 0.5) int64,
    S = q^T q), and runs the shared eigen/allocation tail — so an
    oracle generator can derive the identical rotation without a
    SparkSession. The moments are exact integers in both paths, the
    float chain after them is the same code, so R matches opq_rotation
    bitwise (pinned by pytest)."""
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(parquet_path, columns=[vec_col])
    col = tbl.column(vec_col).combine_chunks()
    if tbl.num_rows == 0:
        raise ValueError("opq_rotation_local needs a non-empty corpus")
    flat = col.flatten()
    if col.null_count != 0 or flat.null_count != 0:
        raise ValueError("opq_rotation_local requires non-null vectors")
    n = tbl.num_rows
    x = flat.to_numpy(zero_copy_only=False)
    dim = x.size // n
    if x.size != n * dim:
        raise ValueError("opq_rotation_local requires fixed-dim vectors")
    q = np.floor(x.reshape(n, dim).astype(np.float64) * qscale + 0.5).astype(
        np.int64
    )
    S = (q.T @ q).astype(np.float64)
    sx = q.sum(axis=0).astype(np.float64)
    return _opq_rotation_from_stats(S, sx, n, dim, m, qscale)


ROT_SHIFT = 20  # rotation fixed-point: Rq = floor(R * 2^20 + 0.5)


def quantize_rotation(rotation, shift: int = ROT_SHIFT):
    """Snap an orthogonal float64 rotation to the 2^-shift fixed-point
    grid (int64 matrix). At shift=20 the quantization perturbs each
    entry by <= 2^-21 (~5e-7) — orthogonality holds to ~1e-5 and the
    OPQ recall payoff is unchanged (RECALL.md) — and in exchange the
    rotated corpus becomes EXACT integer arithmetic, replayable
    bit-identically by any engine (the micro-grid discipline the whole
    PQ family rides)."""
    import numpy as np

    R = np.asarray(rotation, dtype=np.float64)
    return np.floor(R * float(1 << shift) + 0.5).astype(np.int64)


def rotate_vectors_exact(
    vectors: DataFrame,
    rotation_q,
    shift: int = ROT_SHIFT,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qscale: int = PQ_QSCALE,
) -> DataFrame:
    """EXACT fixed-point rotation onto the PQ micro-grid: input floats
    quantize to q = floor(x*qscale + 0.5) (the pq_encode discipline),
    s = Rq @ q accumulates in int64 (|s| <= dim * 2^shift * qscale *
    max|x| — ~7e10 at the defaults, 8 orders under int64), and the
    result rounds back to the micro-grid with an arithmetic shift
    ((s + 2^(shift-1)) >> shift == floor((s + half) / 2^shift) for
    negative s too). Every output component is an integer a SQL engine
    reproduces exactly — the step that makes the whole OPQ->PQ->ADC
    pipeline oracle-verifiable downstream of the eigendecomposition.

    Output: (id_col, qvec array<bigint>) — micro-grid integers; feed
    pq_trained_codebook/pq_encode/pq_adc_scores with qscale=1 /
    pre_quantized=True."""
    import numpy as np
    import pyarrow as pa

    Rq = np.asarray(rotation_q, dtype=np.int64)
    dim = Rq.shape[0]
    half = 1 << (shift - 1)
    out_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("qvec", ArrayType(LongType(), False), False),
        ]
    )

    def _rot(batches):
        for batch in batches:
            nrows = batch.num_rows
            if nrows == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            emb = batch.column(1)
            flat = emb.flatten()
            if emb.null_count != 0 or flat.null_count != 0:
                raise ValueError("rotate_vectors_exact requires non-null vectors")
            if len(flat) != nrows * dim:
                raise ValueError(
                    f"rotate_vectors_exact requires fixed dim={dim} vectors "
                    f"(got {len(flat)} values for {nrows} rows)"
                )
            x = flat.to_numpy(zero_copy_only=False).reshape(nrows, dim)
            q = np.floor(x.astype(np.float64) * qscale + 0.5).astype(np.int64)
            s = q @ Rq.T  # exact int64 matmul
            qrot = (s + half) >> shift  # arithmetic shift == floor-div
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids),
                    pa.FixedSizeListArray.from_arrays(
                        pa.array(qrot.reshape(-1), pa.int64()), dim
                    ).cast(pa.list_(pa.int64())),
                ],
                names=[id_col, "qvec"],
            )

    return vectors.select(id_col, vec_col).mapInArrow(_rot, out_schema)


def rotate_vectors(
    vectors: DataFrame,
    rotation,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Apply an OPQ rotation corpus-side: Arrow-batched x → R @ x
    (one float64 matmul per batch — dim^2 madds/row, far past the
    Arrow crossover; R rides the closure, dim^2 floats, the
    broadcast-small-dims shape). Output mirrors the input schema
    (id_col, vec_col as array<float>), so every downstream PQ/IVF
    path consumes rotated vectors unchanged."""
    import numpy as np
    import pyarrow as pa

    Rm = np.asarray(rotation, dtype=np.float64)
    dim = Rm.shape[0]
    out_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField(vec_col, ArrayType(FloatType(), False), False),
        ]
    )

    def _rot(batches):
        for batch in batches:
            nrows = batch.num_rows
            if nrows == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            emb = batch.column(1)
            flat = emb.flatten()
            if emb.null_count != 0 or flat.null_count != 0:
                raise ValueError("rotate_vectors requires non-null vectors")
            if len(flat) != nrows * dim:
                raise ValueError(
                    f"rotate_vectors requires fixed dim={dim} vectors "
                    f"(got {len(flat)} values for {nrows} rows)"
                )
            x = flat.to_numpy(zero_copy_only=False).reshape(nrows, dim)
            y = x.astype(np.float64) @ Rm.T
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids),
                    pa.FixedSizeListArray.from_arrays(
                        pa.array(y.reshape(-1).astype(np.float32)), dim
                    ).cast(pa.list_(pa.float32())),
                ],
                names=[id_col, vec_col],
            )

    return vectors.select(id_col, vec_col).mapInArrow(_rot, out_schema)


def nndescent_knn_graph(
    vectors: DataFrame,
    k: int = 10,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qscale: int = PQ_QSCALE,
) -> DataFrame:
    """k-NN GRAPH construction by NN-Descent (Dong et al. WWW'11,
    "Efficient K-Nearest Neighbor Graph Construction for Generic
    Similarity Measures") — the graph-based ANN paradigm (the batch
    analog of an HNSW/NSG index build, the one ANN family the
    compression x pruning matrix doesn't cover). Principle: *a
    neighbor of my neighbor is probably my neighbor* — start from
    deterministic pseudo-random neighbors and iterate: candidates =
    forward neighbors ∪ REVERSE neighbors ∪ neighbors-of-neighbors,
    keep the k best per node by EXACT integer-grid L2.

    Determinism (so the registry oracle can replay the whole
    trajectory as a CTE chain, the ann_ivf_trained discipline): the
    j-th seed neighbor of node v is the node at 1-based id-rank
    ``hash64(v || '#' || j, 'nnd') % n + 1`` (ranks via
    :func:`~hadoop_main_spark.operators.sorting.global_rank` — the
    TotalOrderPartitioner pattern, no single-task window); distances
    are BIGINT on the 1e-4 grid; per-node top-k tie-breaks by
    (d2, nbr_id).

    Scale shape: never all-pairs — each iteration touches O(n·k²)
    candidate edges (k² neighbors-of-neighbors per node), the
    NN-Descent bound; dedup BEFORE scoring; scoring is a JVM
    ``zip_with`` fold at multiplier ~1 (the _score_probed_cells
    measurement); one id-keyed window per iteration. Output:
    (id, rank 1..k, nbr_id, d2).
    """
    ids = vectors.select(F.col(id_col).alias("id"))
    n = ids.count()  # one scalar to the driver (the kmeans-collect shape)
    if n < 2:
        raise ValueError("nndescent_knn_graph needs >= 2 vectors")
    from hadoop_main_spark.functions.hashing import hash64
    from hadoop_main_spark.operators.sorting import global_rank

    q = vectors.select(
        F.col(id_col).alias("id"),
        F.expr(
            f"transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) "
            f"* {qscale} + 0.5) AS BIGINT))"
        ).alias("q"),
    )
    ranked = global_rank(ids, "id", rank_col="r")  # 1-based
    slots = ids.select(
        "id", F.explode(F.array(*[F.lit(j) for j in range(k)])).alias("j")
    )
    seed_rank = (
        hash64(F.concat(F.col("id").cast("string"), F.lit("#"), F.col("j").cast("string")), "nnd")
        % n + 1
    )
    nbr = (
        slots.select("id", seed_rank.alias("r"))
        .join(ranked.select(F.col("id").alias("nbr"), "r"), "r")
        .select("id", "nbr")
        .filter(F.col("id") != F.col("nbr"))
        .distinct()
    )
    d2 = F.expr(
        "aggregate(zip_with(q, qn, "
        "(a, b) -> CAST(a - b AS BIGINT) * CAST(a - b AS BIGINT)), "
        "CAST(0 AS BIGINT), (s, x) -> s + x)"
    )
    w = Window.partitionBy("id").orderBy("d2", "nbr")
    out = None
    # checkpoint the per-iteration neighbor list: iteration i+1
    # references it THREE ways (forward, reverse, and both sides of the
    # neighbor-of-neighbor self-join), so without this the whole prior
    # DAG replays ~4x per iteration (bench r10: 7.2s -> ~4s warm at
    # sf0.1). localCheckpoint, NOT persist: a persisted subplan is
    # plan-matched by the cache manager into OTHER queries computing
    # the same subtree (the round-2 cache-hygiene advice) — the
    # connected_components discipline
    nbr = run_checkpoint(nbr, eager=True)
    for it in range(iterations):
        rev = nbr.select(F.col("nbr").alias("id"), F.col("id").alias("nbr"))
        nn2 = (
            nbr.alias("a")
            .join(nbr.alias("b"), F.col("a.nbr") == F.col("b.id"))
            .select(F.col("a.id").alias("id"), F.col("b.nbr").alias("nbr"))
        )
        cand = (
            nbr.unionByName(rev)
            .unionByName(nn2)
            .filter(F.col("id") != F.col("nbr"))
            .distinct()
        )
        scored = (
            cand.join(q, "id")
            .join(q.select(F.col("id").alias("nbr"), F.col("q").alias("qn")), "nbr")
            .select("id", "nbr", d2.alias("d2"))
        )
        out = scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )
        if it < iterations - 1:  # only the next iteration reads it
            nbr = run_checkpoint(out.select("id", "nbr"), eager=True)
    return out.select(
        "id",
        F.col("rank").cast("bigint").alias("rank"),
        F.col("nbr").alias("nbr_id"),
        "d2",
    )


def hierarchical_entry_pool(
    vectors: DataFrame,
    queries: DataFrame,
    sample_mod: int = 4,
    salt: str = "l1",
    l1_k: int = 8,
    l1_iters: int = 2,
    l1_beam: int = 20,
    l1_hops: int = 3,
    l1_entries: int = 2,
    entries: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    qscale: int = PQ_QSCALE,
) -> DataFrame:
    """HIERARCHICAL entry layer for graph search — the actual HNSW
    upper-layer idea (Malkov & Yashunin TPAMI'18 §4.2) in
    deterministic form (verdict-r9 #4): LAYER 1 is the hash-sampled
    1/``sample_mod`` subgraph (hash64(id, salt) %% mod == 0 — the
    deterministic analog of HNSW's exponential level assignment) with
    its own NN-Descent graph; each query beam-searches layer 1 first
    (a graph ``sample_mod``x smaller, so hops there are cheap) and its
    top-``entries`` sampled nodes become the layer-0 entry pool
    (knn_graph_search ``entry_pool=``). Routed entries start INSIDE
    the query's region, so layer-0 hop count stays constant as the
    corpus grows — fixed lowest-id entries need ~O(log n) hops to
    escape their own neighborhood. RECALL.md pins the payoff: layered
    layer-0 hops-2 recall >= the fixed-entry hops-3 recall.

    Determinism: the sample predicate, the NN-Descent build, and the
    beam trajectory are all exact/tie-broken, so the ENTIRE two-layer
    chain is CTE-replayable (the knn_graph_layered oracle does).
    Returns (query_id, node) — feed knn_graph_search's
    ``entry_pool``."""
    from hadoop_main_spark.functions.hashing import hash64

    sampled = vectors.filter(
        hash64(F.col(id_col).cast("string"), salt) % sample_mod == 0
    )
    # checkpoint: every layer-1 hop joins the edge table; without
    # this the iterative NN-Descent lineage replays per hop
    # (production persists layer graphs like any other index).
    # localCheckpoint, not persist — cache-manager plan-matching
    # would leak this subplan into other graph queries
    g1 = run_checkpoint(
        nndescent_knn_graph(sampled, l1_k, l1_iters, id_col, vec_col, qscale),
        eager=True,
    )
    res1 = knn_graph_search(
        g1, sampled, queries, entries, l1_beam, l1_hops, l1_entries,
        id_col, vec_col, query_id, qscale,
    )
    return res1.select(query_id, F.col("neighbor_id").alias("node"))


def knn_graph_search(
    graph: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    beam: int = 20,
    hops: int = 3,
    entries: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    qscale: int = PQ_QSCALE,
    entry_pool: DataFrame | None = None,
) -> DataFrame:
    """Greedy BEAM SEARCH over a prebuilt k-NN graph — the query side
    of the graph-ANN paradigm (HNSW's layer-0 search, Malkov &
    Yashunin TPAMI'18 §4, reduced to deterministic batch form): every
    query starts from the same ``entries`` fixed entry points (the
    lowest vector ids — the single-entry-point idea), then ``hops``
    rounds of *expand the pool by its graph neighbors, score exactly,
    keep the best ``beam``*; top-k of the final pool answers the
    query. Pairs with :func:`nndescent_knn_graph` (build) exactly the
    way a vector store pairs build and search.

    Determinism: exact BIGINT grid-L2 scores, (d2, node) tie-break at
    every beam cut, so the whole trajectory is CTE-replayable (the
    registry oracle does). Scale shape: the query frame (queries x
    grid codes) and the per-hop pool (queries x beam) are bounded
    broadcasts; each hop is ONE graph equi-join + one query-keyed
    window — never a corpus scan, which is the entire point of a
    graph index at 100 TB.
    """
    spark = vectors.sparkSession
    q = vectors.select(
        F.col(id_col).alias("node"),
        F.expr(
            f"transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) "
            f"* {qscale} + 0.5) AS BIGINT))"
        ).alias("qn"),
    )
    q_rows = queries.select(query_id, vec_col).collect()
    if not q_rows:
        raise ValueError("knn_graph_search needs at least one query")
    import math

    qframe = spark.createDataFrame(
        [
            (r[0], [int(math.floor(float(x) * qscale + 0.5)) for x in r[1]])
            for r in q_rows
        ],
        f"{query_id} {dict(queries.dtypes)[query_id]}, qq array<bigint>",
    )
    if entry_pool is not None:
        # hierarchical routing (coarse_entry_pool): per-query entry
        # nodes replace the fixed lowest-id entries
        pool = entry_pool.select(query_id, "node")
    else:
        entry_ids = [
            r[0]
            for r in vectors.select(id_col).orderBy(id_col).limit(entries).collect()
        ]
        pool = spark.createDataFrame(
            [(r[0], e) for r in q_rows for e in entry_ids],
            f"{query_id} {dict(queries.dtypes)[query_id]}, node {dict(vectors.dtypes)[id_col]}",
        )
    edges = graph.select(F.col("id"), F.col("nbr_id").alias("nbr"))
    d2 = F.expr(
        "aggregate(zip_with(qn, qq, "
        "(a, b) -> CAST(a - b AS BIGINT) * CAST(a - b AS BIGINT)), "
        "CAST(0 AS BIGINT), (s, x) -> s + x)"
    )
    w = Window.partitionBy(query_id).orderBy("d2", "node")
    scored = None
    for _ in range(hops):
        # each hop references `pool` TWICE (the neighbor expansion and
        # the union), so without a barrier the logical plan DOUBLES
        # per hop — ~2^hops copies of the entry subtree, and a nested
        # hierarchical search (entry_pool = another search) multiplies
        # them (optimization r11: the layered query spent ~4 s in
        # replanning + re-executing duplicated hop subtrees). A LAZY
        # localCheckpoint materializes each hop's beam (queries x
        # beam rows) once per action and keeps the plan linear in
        # hops — the connected-components iteration discipline.
        # Hop blocks stay pinned after the action (lazy checkpoints
        # cannot release mid-action — later hops read them); the query
        # run owns them, and nothing is released inside a build, so a
        # caller may keep a search's OUTPUT in the lineage of the next
        # search's INPUT (the HNSW insert pattern: edges := edges ∪
        # search results).
        pool = run_checkpoint(pool)
        nbrs = pool.join(edges, pool["node"] == edges["id"]).select(
            query_id, F.col("nbr").alias("node")
        )
        cand = pool.unionByName(nbrs).distinct()
        scored = (
            cand.join(q, "node")
            .join(broadcast(qframe), query_id)
            .select(query_id, "node", d2.alias("d2"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= beam)
        )
        pool = scored.select(query_id, "node")
    final_w = Window.partitionBy(query_id).orderBy("d2", "node")
    return (
        scored.filter(F.col("node") != F.col(query_id))
        .select(query_id, "node", "d2")
        .withColumn("rank", F.row_number().over(final_w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(query_id, F.col("node").alias("neighbor_id"), "d2", "rank")
    )


def build_knn_graph_index(
    vectors: DataFrame,
    path: str,
    k: int = 10,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the graph-ANN index: the NN-Descent k-NN graph
    (edges with their exact BIGINT distances) + the node vectors, both
    parquet — the persist-once shape every other ANN family here
    already has (build_ivf_index / build_ivfpq_index / build_bq_index):
    the O(n·k²)-candidate build is paid at ingest, and every search
    after that is pure bounded joins over the edge table
    (:func:`knn_graph_search_indexed`)."""
    g = nndescent_knn_graph(vectors, k, iterations, id_col, vec_col)
    g.write.mode("overwrite").parquet(f"{path}/graph")
    vectors.select(id_col, vec_col).write.mode("overwrite").parquet(f"{path}/nodes")


def knn_graph_search_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    beam: int = 20,
    hops: int = 3,
    entries: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
) -> DataFrame:
    """Beam-search a materialized k-NN graph (see
    :func:`build_knn_graph_index`): the graph build is off the query
    path entirely — search touches only the persisted edge table and
    the pooled nodes' vectors."""
    g = spark.read.parquet(f"{path}/graph")
    nodes = spark.read.parquet(f"{path}/nodes")
    return knn_graph_search(
        g, nodes, queries, k, beam, hops, entries, id_col, vec_col, query_id
    )


def knn_graph_compact(edges: DataFrame, k: int = 10) -> DataFrame:
    """Degree re-trim — the maintenance pass after incremental graph
    ingest (streaming/windows.py:knn_graph_stream_parquet grows old
    nodes' lists by the reverse links of every wave; HNSW trims on
    insert, a batch system trims on compaction): per node, keep the k
    best edges by (d2, nbr_id) and re-number ranks. ONE node-keyed
    window; run it when the average degree drifts past ~2k."""
    w = Window.partitionBy("id").orderBy("d2", "nbr_id")
    return (
        edges.select("id", "nbr_id", "d2")
        .distinct()
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("id", "rank", "nbr_id", "d2")
    )


def gram_matrix_exact(
    corpus: DataFrame,
    vec_col: str = "embedding",
    qscale: int = PQ_QSCALE,
) -> DataFrame:
    """One-pass EXACT Gram / covariance sufficient statistics: vectors
    quantize to the integer micro-grid (floor(v*qscale + 0.5) — the PQ
    discipline, so every product is integer arithmetic) and each Arrow
    batch contributes its X^T X as ONE dim x dim partial — the
    classic aggregate-then-solve primitive behind distributed PCA /
    whitening / OPQ rotations: 100 TB of vectors reduce to dim^2 + dim
    + 1 exact BIGINT cells, and the eigen/solve step runs driver-side
    on the tiny matrix (the kmeans_fit / linreg_price_vs_qty shape,
    one order higher).

    Output: (i, j, sum_xy, sum_x, sum_y, n) for 0 <= i <= j < dim —
    upper triangle only; sum_x/sum_y are the per-dimension component
    sums so covariance derives without a second pass. Shuffle volume
    is #batches x dim^2 tiny rows; the kernel is numpy matmul
    (per-row work dim^2/2 madds, far past the ~8x Arrow crossover).
    Products are bounded by (qscale*|v|)^2 * rows — int64-safe past
    10^5 rows per cell at the default grid; the partial rides int64
    and the final sum accumulates in DECIMAL(38,0) for headroom."""
    import numpy as np
    import pyarrow as pa

    out_schema = StructType(
        [
            StructField("i", IntegerType(), False),
            StructField("j", IntegerType(), False),
            StructField("sum_xy", LongType(), False),
            StructField("sum_x", LongType(), False),
            StructField("sum_y", LongType(), False),
            StructField("n", LongType(), False),
        ]
    )

    def _gram(batches):
        for batch in batches:
            nrows = batch.num_rows
            if nrows == 0:
                continue
            emb = batch.column(0)
            flat = emb.flatten()
            if emb.null_count != 0 or flat.null_count != 0:
                raise ValueError("gram_matrix_exact requires non-null vectors")
            x = flat.to_numpy(zero_copy_only=False)
            dim = x.size // nrows
            if x.size != nrows * dim:
                raise ValueError("gram_matrix_exact requires fixed-dim vectors")
            # float64 BEFORE scaling: the column is array<float> and a
            # float32 multiply quantizes boundary components off-by-one
            # vs the oracle's CAST(x AS DOUBLE) (the pq_encode discipline)
            q = np.floor(
                x.reshape(nrows, dim).astype(np.float64) * qscale + 0.5
            ).astype(np.int64)
            g = q.T @ q  # exact: int64 matmul, bounded by contract
            s = q.sum(axis=0)
            iu, ju = np.triu_indices(dim)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(iu.astype(np.int32)),
                    pa.array(ju.astype(np.int32)),
                    pa.array(g[iu, ju]),
                    pa.array(s[iu]),
                    pa.array(s[ju]),
                    pa.array(np.full(iu.size, nrows, dtype=np.int64)),
                ],
                names=["i", "j", "sum_xy", "sum_x", "sum_y", "n"],
            )

    partials = corpus.select(vec_col).mapInArrow(_gram, out_schema)
    dec = "decimal(38,0)"
    return partials.groupBy("i", "j").agg(
        F.sum(F.col("sum_xy").cast(dec)).cast("bigint").alias("sum_xy"),
        F.sum(F.col("sum_x").cast(dec)).cast("bigint").alias("sum_x"),
        F.sum(F.col("sum_y").cast(dec)).cast("bigint").alias("sum_y"),
        F.sum(F.col("n").cast(dec)).cast("bigint").alias("n"),
    )
