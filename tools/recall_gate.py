"""ANN retrieval-quality ledger + regression gate (verdict r7 #5).

Perf has BENCH_best.json, scale has SCALE.md; this gives retrieval
QUALITY the same treatment: every ANN variant's recall@10 is measured
against an exact ground truth and committed in RECALL.md, and this
gate fails when a code change silently degrades a variant.

Methodology (everything deterministic — fixed corpus, fixed query set,
deterministic operators — so the pinned numbers are exact, not noisy):

- Corpus: $1/embeddings.parquet (default sf0.01, 500 x 64, 10 label
  cells). Queries: the 10 lowest vec_ids. k = 10.
- Ground truth per the variant's own metric (the FAISS convention):
  exact float cosine for the cosine-ranked variants (ivf, bq), exact
  float L2 for SQ8, exact L2 on the 1e-4 quantization grid for the PQ
  family (their distances live on that grid — grid loss is measured
  separately by sq8/bq, code loss is what PQ recall should isolate).
- Cell-probing variants additionally report WITHIN-PROBED-CELL
  recall@10 (ground truth restricted to the cells the probe chose,
  approximated by the returned neighbors' cells — the
  test_ivfpq_residual_wins_on_clustered_corpus methodology): global
  recall folds in probe loss, within-cell recall isolates code loss.
- Clustered corpus (the IVFADC payoff case): 4 tight clusters around
  far-apart centers (seeded rng, the clustered-corpus test fixture);
  trained-residual vs trained-raw within-cell recall — residual must
  stay ahead here.

Usage:
    python tools/recall_gate.py [sf_dir] [--write]

Compares against the RECALL_JSON line in RECALL.md; any variant whose
recall drops by > 0.005 fails the gate (improvements are reported and
need --write to pin). --write regenerates RECALL.md.
"""

from __future__ import annotations

import json
import math
import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEDGER = os.path.join(REPO, "RECALL.md")
K = 10
N_QUERIES = 10
TOL = 0.005
NPROBE_SWEEP = (1, 2, 4, 8)
# probe depth each REGISTRY query ships with (must match the plans/
# llm_queries.py defaults AND the oracle SQL's `crank <= N`); the
# within-cell pin is measured here so it reflects user experience
REGISTRY_NPROBE = {
    "ivf_trained": 4,
    "ivf": 8,
    "ivf_sq8": 8,
    "bq_ivf_rerank": 8,
    "ivfpq_seed": 4,
    "ivfpq_residual_seed": 4,
}


def _topk_sets(rows, k=K):
    """result rows -> {query_id: set(neighbor_id)} keeping rank <= k."""
    got = {}
    for r in rows:
        if int(r["rank"] if isinstance(r, dict) else r.rank) <= k:
            d = r if isinstance(r, dict) else r.asDict()
            got.setdefault(int(d["query_id"]), set()).add(int(d["neighbor_id"]))
    return got


def _recall(got: dict, truth: dict) -> float:
    hits = tot = 0
    for qid, t in truth.items():
        hits += len(t & got.get(qid, set()))
        tot += len(t)
    return round(hits / tot, 4) if tot else 0.0


def _truth_sets(ids, scores_fn, qids, k=K, restrict=None):
    """Exact ground truth per query: scores_fn(qid) -> distance array
    over the corpus (lower = better); ties break on id. ``restrict``
    maps qid -> boolean mask of eligible corpus rows."""
    import numpy as np

    truth = {}
    for qid in qids:
        mask = ids != qid
        if restrict is not None:
            mask = mask & restrict(qid)
        d = scores_fn(qid)[mask]
        sub = ids[mask]
        order = np.lexsort((sub, d))
        truth[int(qid)] = set(int(sub[i]) for i in order[: min(k, len(sub))])
    return truth


def measure_fixture(spark, sf_dir: str) -> dict[str, float]:
    import numpy as np

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hadoop_main_spark.operators import similarity as SIM
    from hadoop_main_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    rows = e.orderBy("vec_id").collect()
    ids = np.array([int(r.vec_id) for r in rows])
    labels = np.array([int(r.label) for r in rows])
    X = np.array([[float(x) for x in r.embedding] for r in rows])
    Xq = np.floor(X * 10000 + 0.5).astype(np.int64)  # the PQ grid
    lbl_of = {int(i): int(l) for i, l in zip(ids, labels)}
    qids = ids[:N_QUERIES]
    queries = e.filter(F.col("vec_id") < int(qids[-1]) + 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    norms = np.sqrt((X * X).sum(axis=1))

    def cos_scores(qid):
        qv = X[ids == qid][0]
        qn = math.sqrt(float(qv @ qv))
        with np.errstate(divide="ignore", invalid="ignore"):
            c = (X @ qv) / (norms * qn)
        c = np.nan_to_num(c, nan=-2.0)  # null-cosine orders last
        return -c  # lower = better

    def l2_scores(qid):
        qv = X[ids == qid][0]
        return ((X - qv) ** 2).sum(axis=1)

    def l2q_scores(qid):
        qv = Xq[ids == qid][0]
        return ((Xq - qv) ** 2).sum(axis=1)

    truth_cos = _truth_sets(ids, cos_scores, qids)
    truth_l2 = _truth_sets(ids, l2_scores, qids)
    truth_l2q = _truth_sets(ids, l2q_scores, qids)

    def within(truth_fn, got):
        """within-probed-cell truth: eligible rows = cells the variant
        actually returned neighbors from (probe approximation)."""
        def restrict(qid):
            cells = {lbl_of[nb] for nb in got.get(int(qid), set())}
            return np.isin(labels, list(cells))

        return _truth_sets(ids, truth_fn, qids, restrict=restrict)

    out: dict[str, float] = {}

    def run(df):
        return _topk_sets(df.collect())

    cb, _ = SIM.pq_codebook(e.select("vec_id", "embedding"))
    enc = SIM.pq_encode(e.select("vec_id", "embedding"), cb)
    qs = [(int(q), [float(x) for x in X[ids == q][0]]) for q in qids]
    sc = SIM.pq_adc_scores(enc, qs, cb)
    w = Window.partitionBy("query_id").orderBy("pq_d2", "vec_id")
    pq_df = (
        sc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank")
    )
    out["pq_seed"] = _recall(run(pq_df), truth_l2q)

    got = run(SIM.sq8_topk(e, queries, k=K))
    out["sq8"] = _recall(got, truth_l2)

    got = run(SIM.bq_rerank_topk(e, queries, k=K, oversample=5))
    out["bq_rerank"] = _recall(got, truth_cos)

    # --- recall-vs-nprobe sweep (verdict r8 #1): global recall per
    # probe depth for every cell-probing variant, so the cost/quality
    # dial is a published curve, not a buried default. Within-cell
    # recall is pinned at the REGISTRY default probe depth (the number
    # a user of the registry queries actually experiences).
    # trained coarse quantizer (two Lloyd steps, the ann_ivf_trained
    # cell map) — cells track the metric where label cells cannot
    seeds = [(int(i), [float(x) for x in X[ids == i][0]]) for i in ids[:8]]
    a1 = SIM.kmeans_assign(e.select("vec_id", "embedding"), seeds)
    cents1 = [
        (int(r.cluster), [float(x) for x in r.centroid])
        for r in SIM.kmeans_centroids(a1, "cluster", "embedding").collect()
    ]
    trained = SIM.kmeans_assign(
        e.select("vec_id", "embedding"), cents1
    ).select("vec_id", "embedding", "cluster")
    lbl_trained = {
        int(r.vec_id): int(r.cluster)
        for r in trained.select("vec_id", "cluster").collect()
    }

    def within_trained(truth_fn, got):
        def restrict(qid):
            cells = {lbl_trained[nb] for nb in got.get(int(qid), set())}
            return np.isin(
                [lbl_trained[int(i)] for i in ids], list(cells)
            )

        return _truth_sets(ids, truth_fn, qids, restrict=restrict)

    sweep = {
        "ivf_trained": (lambda np_: SIM.ivf_topk(
            trained, queries, "cluster", k=K, nprobe=np_), truth_cos, cos_scores),
        "ivf": (lambda np_: SIM.ivf_topk(e, queries, "label", k=K, nprobe=np_),
                truth_cos, cos_scores),
        "ivf_sq8": (lambda np_: SIM.ivf_sq8_topk(e, queries, "label", k=K, nprobe=np_),
                    truth_l2, l2_scores),
        "bq_ivf_rerank": (lambda np_: SIM.bq_ivf_rerank_topk(
            e, queries, "label", k=K, oversample=5, nprobe=np_), truth_cos, cos_scores),
        "ivfpq_seed": (lambda np_: SIM.ivfpq_topk(e, queries, "label", cb, k=K, nprobe=np_),
                       truth_l2q, l2q_scores),
        "ivfpq_residual_seed": (lambda np_: SIM.ivfpq_residual_topk(
            e, queries, "label", k=K, nprobe=np_), truth_l2q, l2q_scores),
    }
    for name, (build, truth, scores_fn) in sweep.items():
        for np_ in NPROBE_SWEEP:
            got = run(build(np_))
            out[f"{name}_nprobe{np_}"] = _recall(got, truth)
            if np_ == REGISTRY_NPROBE[name]:
                w_fn = within_trained if name == "ivf_trained" else within
                out[f"{name}_within_cell"] = _recall(got, w_fn(scores_fn, got))
    return out


def measure_clustered(spark) -> dict[str, float]:
    """Trained-residual vs trained-raw on the clustered corpus (the
    test_ivfpq_residual_wins_on_clustered_corpus fixture, seeded)."""
    import numpy as np

    from pyspark.sql import functions as F

    from hadoop_main_spark.operators import similarity as SIM

    rng = np.random.default_rng(9)
    n_cells, per_cell, dim = 4, 100, 16
    centers = rng.uniform(-50, 50, (n_cells, dim))
    rows = []
    vid = 0
    for cell in range(n_cells):
        for _ in range(per_cell):
            v = centers[cell] + rng.normal(0, 0.6, dim)
            rows.append((vid, [float(x) for x in v], cell))
            vid += 1
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    queries = corpus.filter(F.col("vec_id") % 100 == 7).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = SIM.ivf_centroids(corpus, "label", "embedding")
    qcent = SIM._quantized_centroid_map(cents.collect(), SIM.PQ_QSCALE)
    res_vecs = SIM.residual_vectors(corpus, qcent, "label")
    cb_res, _ = SIM.pq_trained_codebook(
        res_vecs, 16, 4, "vec_id", "__res", pre_quantized=True, max_iter=2
    )
    cb_raw, _ = SIM.pq_trained_codebook(corpus, 16, 4, "vec_id", "embedding", max_iter=2)

    ids = np.array([r[0] for r in rows])
    labels = np.array([r[2] for r in rows])
    Xq = np.array(
        [[math.floor(x * 10000 + 0.5) for x in r[1]] for r in rows], dtype=np.int64
    )
    lbl_of = {int(i): int(l) for i, l in zip(ids, labels)}

    def within_recall(out_rows):
        got = {}
        for r in out_rows:
            got.setdefault(int(r.query_id), set()).add(int(r.neighbor_id))
        hits = tot = 0
        for qid, neigh in got.items():
            cells = {lbl_of[nb] for nb in neigh}
            mask = np.isin(labels, list(cells)) & (ids != qid)
            qv = Xq[ids == qid][0]
            d = ((Xq[mask] - qv) ** 2).sum(axis=1)
            sub = ids[mask]
            order = np.lexsort((sub, d))
            truth = set(int(sub[i]) for i in order[:K])
            hits += len(truth & neigh)
            tot += len(truth)
        return round(hits / tot, 4)

    out_res = SIM.ivfpq_residual_topk(
        corpus, queries, "label", codebook=cb_res, nprobe=1
    ).collect()
    out_raw = SIM.ivfpq_topk(corpus, queries, "label", cb_raw, nprobe=1).collect()
    return {
        "clustered_residual_trained": within_recall(out_res),
        "clustered_raw_trained": within_recall(out_raw),
    }


def measure_opq(spark) -> dict[str, float]:
    """OPQ rotation payoff (Ge et al. CVPR'13) on a seeded ANISOTROPIC
    corpus — decaying spectrum under a random orthogonal basis, so
    variance is concentrated in directions misaligned with the PQ
    subspace axes (the case OPQ exists for). Pins trained-PQ recall@10
    with and without the rotation against exact float-L2 truth
    (rotation is an isometry, so the truth set is metric-identical)."""
    import numpy as np

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hadoop_main_spark.operators import similarity as SIM

    rng = np.random.default_rng(17)
    n, dim = 400, 32
    spec = 10.0 * 0.7 ** np.arange(dim)
    B, _ = np.linalg.qr(rng.normal(size=(dim, dim)))
    X = ((rng.normal(size=(n, dim)) * spec) @ B).astype(np.float32).astype(np.float64)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    ids = np.arange(n)
    qids = ids[:N_QUERIES]
    truth = _truth_sets(ids, lambda q: ((X - X[q]) ** 2).sum(axis=1), qids)

    def adc_topk(vecs_df, R, qs=None):
        cb, _ = SIM.pq_trained_codebook(vecs_df, 16, 4, max_iter=2)
        enc = SIM.pq_encode(vecs_df, cb)
        if qs is None:
            qs = [
                (int(q), [float(v) for v in (X[q] if R is None else R @ X[q])])
                for q in qids
            ]
        sc = SIM.pq_adc_scores(enc, qs, cb)
        w = Window.partitionBy("query_id").orderBy("pq_d2", "vec_id")
        df = (
            sc.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= K)
            .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank")
        )
        return _topk_sets(df.collect())

    raw = adc_topk(corpus, None)
    R = SIM.opq_rotation(corpus, m=4)
    opq = adc_topk(SIM.rotate_vectors(corpus, R), R)
    # the registry's opq_pq_topk path: 2^-20 FIXED-POINT rotation
    # (exact integers, oracle-replayable) — payoff must match the
    # float rotation's to within the gate tolerance
    rotf = SIM.rotate_vectors_exact(corpus, SIM.quantize_rotation(R)).select(
        "vec_id",
        F.transform(
            "qvec", lambda v: v.cast("double") / F.lit(10000.0)
        ).alias("embedding"),
    )
    qmap = {
        int(r.vec_id): [float(v) for v in r.embedding]
        for r in rotf.filter(F.col("vec_id") < int(qids.max()) + 1).collect()
    }
    opq_exact = adc_topk(rotf, None, qs=[(int(q), qmap[int(q)]) for q in qids])
    return {
        "aniso_pq_trained": _recall(raw, truth),
        "aniso_opq_pq_trained": _recall(opq, truth),
        "aniso_opq_pq_exact": _recall(opq_exact, truth),
    }


def measure_nndescent(spark, sf_dir: str) -> dict[str, float]:
    """NN-Descent k-NN-graph quality per iteration (the descent
    curve): recall@10 of every node's graph neighbors vs the exact
    grid-L2 top-10 (self excluded). Iteration 1 already folds in
    reverse + neighbor-of-neighbor candidates; iteration 2 must not
    regress (monotone by construction — candidates only grow)."""
    import numpy as np

    from pyspark.sql import functions as F  # noqa: F401

    from hadoop_main_spark.operators import similarity as SIM
    from hadoop_main_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    rows = e.orderBy("vec_id").collect()
    ids = np.array([int(r.vec_id) for r in rows])
    Xq = np.floor(
        np.array([[float(x) for x in r.embedding] for r in rows]) * 10000 + 0.5
    ).astype(np.int64)
    truth = {}
    for i, vid in enumerate(ids):
        d = ((Xq - Xq[i]) ** 2).sum(axis=1)
        order = [j for j in np.lexsort((ids, d)) if ids[j] != vid][:K]
        truth[int(vid)] = set(int(ids[j]) for j in order)
    out = {}
    graph2 = None
    for iters in (1, 2, 3):
        gdf = SIM.nndescent_knn_graph(e, k=K, iterations=iters)
        if iters == 2:
            graph2 = gdf
        g = gdf.collect()
        got: dict[int, set] = {}
        for r in g:
            got.setdefault(int(r.id), set()).add(int(r.nbr_id))
        out[f"nndescent_iter{iters}"] = _recall(got, truth)
    # graph-search routing curve: beam search over the 2-iteration
    # graph, recall vs the N_QUERIES queries' exact top-10 (self
    # excluded) per hop count
    from pyspark.sql import functions as F

    qids = ids[:N_QUERIES]
    qs = e.filter(F.col("vec_id") < int(qids[-1]) + 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    qtruth = {int(v): truth[int(v)] for v in qids}
    for hops in (1, 2, 3):
        res = SIM.knn_graph_search(
            graph2, e, qs, k=K, beam=20, hops=hops, entries=4
        ).collect()
        got = {}
        for r in res:
            got.setdefault(int(r.query_id), set()).add(int(r.neighbor_id))
        out[f"graph_search_hops{hops}"] = _recall(got, qtruth)
    # hierarchical entry layer (hierarchical_entry_pool, verdict-r9
    # #4): hash-sampled layer-1 subgraph routing vs the fixed
    # lowest-id entries — the bar is layered layer-0 hops-2 >= fixed
    # hops-3 (constant layer-0 hop count at scale)
    pool = SIM.hierarchical_entry_pool(e, qs).persist()
    # beam 32 (vs 20 fixed): one fewer SEQUENTIAL hop at a wider
    # PARALLEL beam — the right trade at 100 TB, where hops are
    # round trips and beam is per-hop broadcast-join width
    for hops in (1, 2, 3):
        res = SIM.knn_graph_search(
            graph2, e, qs, k=K, beam=32, hops=hops, entry_pool=pool
        ).collect()
        got = {}
        for r in res:
            got.setdefault(int(r.query_id), set()).add(int(r.neighbor_id))
        out[f"graph_search_layered_hops{hops}"] = _recall(got, qtruth)
    return out


def measure_layered_stream(spark, sf_dir: str) -> dict[str, float]:
    """Layered-index maintenance under ingest (verdict r10 next-round
    #7): base two-layer index over the first 60%% of the corpus, the
    remaining 40%% replayed as FIVE mtime-ordered waves through
    streaming/windows.py:knn_graph_stream_layered (every wave inserts
    into layer 0; its hash-sampled members also insert into layer 1),
    then routed search (layer-1 beam -> entry pool -> layer-0 hops=2,
    the knn_graph_layered parameters) over the ACCUMULATED index vs
    the same search over a FRESH full two-layer build. Bar: streamed
    recall within 0.02 of fresh-build (asserted hard here, pinned to
    ledger tolerance in RECALL.md)."""
    import shutil
    import tempfile

    import numpy as np

    from pyspark.sql import functions as F

    from hadoop_main_spark.functions.hashing import hash64
    from hadoop_main_spark.operators import similarity as SIM
    from hadoop_main_spark.streaming.windows import (
        knn_graph_stream_layered,
        read_knn_graph_layered_inc,
        replay_stream,
        stage_waves,
    )
    from hadoop_main_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    rows = e.orderBy("vec_id").collect()
    ids = np.array([int(r.vec_id) for r in rows])
    Xq = np.floor(
        np.array([[float(x) for x in r.embedding] for r in rows]) * 10000 + 0.5
    ).astype(np.int64)
    truth = {}
    qids = ids[:N_QUERIES]
    for i, vid in enumerate(ids):
        if vid not in qids:
            continue
        d = ((Xq - Xq[i]) ** 2).sum(axis=1)
        order = [j for j in np.lexsort((ids, d)) if ids[j] != vid][:K]
        truth[int(vid)] = set(int(ids[j]) for j in order)
    qs = e.filter(F.col("vec_id") < int(qids[-1]) + 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    member = F.pmod(hash64(F.col("vec_id").cast("string"), "l1"), F.lit(4)) == 0
    cut = int(ids[int(len(ids) * 0.6)])
    root = tempfile.mkdtemp(prefix="layerstream_")

    def routed_recall(e0, n0, e1, n1) -> float:
        pool = SIM.knn_graph_search(
            e1, n1, qs, k=K, beam=20, hops=3, entries=2
        ).select("query_id", F.col("neighbor_id").alias("node"))
        res = SIM.knn_graph_search(
            e0, n0, qs, k=K, beam=32, hops=2, entry_pool=pool
        ).collect()
        got: dict[int, set] = {}
        for r in res:
            got.setdefault(int(r.query_id), set()).add(int(r.neighbor_id))
        return _recall(got, truth)

    # base two-layer index over the first 60%
    base = e.filter(F.col("vec_id") < cut)
    SIM.build_knn_graph_index(base, f"{root}/l0", k=K, iterations=2)
    SIM.build_knn_graph_index(
        base.filter(member), f"{root}/l1", k=8, iterations=2
    )
    # the remaining 40% as five mtime-ordered single-file waves
    span = (int(ids[-1]) + 1 - cut + 4) // 5
    waves = [
        e.filter(
            (F.col("vec_id") >= cut + w * span)
            & (F.col("vec_id") < cut + (w + 1) * span)
        )
        for w in range(5)
    ]
    stream = replay_stream(spark, stage_waves(waves, f"{root}/src"), e.schema)
    q = knn_graph_stream_layered(
        stream, f"{root}/l0", f"{root}/l1", f"{root}/inc", f"{root}/ckpt",
        k0=K, k1=8, beam=20, hops=3, entries=4,
    )
    q.awaitTermination()
    (e0, n0), (e1, n1) = read_knn_graph_layered_inc(
        spark, f"{root}/l0", f"{root}/l1", f"{root}/inc"
    )
    r_stream = routed_recall(e0, n0, e1, n1)
    # fresh full two-layer build, same parameters and search
    SIM.build_knn_graph_index(e, f"{root}/f0", k=K, iterations=2)
    SIM.build_knn_graph_index(
        e.filter(member), f"{root}/f1", k=8, iterations=2
    )
    r_fresh = routed_recall(
        spark.read.parquet(f"{root}/f0/graph"),
        spark.read.parquet(f"{root}/f0/nodes"),
        spark.read.parquet(f"{root}/f1/graph"),
        spark.read.parquet(f"{root}/f1/nodes"),
    )
    shutil.rmtree(root, ignore_errors=True)
    if r_stream < r_fresh - 0.02:
        raise SystemExit(
            f"layered stream recall {r_stream} drifted more than 0.02 "
            f"below fresh build {r_fresh}"
        )
    return {
        "graph_layered_stream_5waves": r_stream,
        "graph_layered_fresh_full": r_fresh,
    }


def render(sf_dir: str, vals: dict[str, float]) -> str:
    lines = [
        "# RECALL — ANN retrieval-quality ledger",
        "",
        f"recall@{K} per variant, measured by `tools/recall_gate.py` on",
        f"`{sf_dir}` (10 queries = lowest vec_ids; exact ground truth per",
        "the variant's own metric — float cosine / float L2 / 1e-4-grid L2;",
        "`*_within_cell` restricts the truth to the probed cells, isolating",
        "code loss from probe loss; `clustered_*` is the seeded 4x100",
        "tight-cluster corpus where residual coding must win; `aniso_*` is",
        "the seeded anisotropic corpus — decaying spectrum under a random",
        "orthogonal basis — where the OPQ rotation must beat axis-aligned",
        "trained PQ at the same code budget).",
        "",
        "Everything is deterministic, so these are exact pins, not noisy",
        "estimates: the gate fails on any drop > 0.005, and improvements",
        "are re-pinned with `--write`.",
        "",
        "## Recall vs nprobe (the quality/cost dial)",
        "",
        "Global recall@10 per probe depth for every cell-probing variant.",
        "The fixture's 10 cells are the `label` column (weakly clustered",
        "w.r.t. the metric), so probe loss is ~linear in the probed-cell",
        "fraction — there is no sharp knee. The `ivf_trained` row IS the",
        "knee: two Lloyd iterations over the same corpus reach 0.73 at",
        "nprobe=1 and 0.89 at nprobe=4 — training the quantizer, not",
        "probing more cells, is the quality lever at scale. Registry",
        "defaults (last column): the exact-scoring variants (ivf, ivf_sq8,",
        "bq_ivf) default to nprobe=8, where global recall@10 >= 0.6; the",
        "PQ family defaults to nprobe=4, past which CODE loss (the",
        "within_cell pins) dominates probe loss and more probing buys",
        "little. nprobe is a per-call kwarg on every operator.",
        "",
        "| variant | " + " | ".join(f"nprobe={n}" for n in NPROBE_SWEEP)
        + " | registry default |",
        "|---|" + "---|" * (len(NPROBE_SWEEP) + 1),
    ]
    for name in sorted(REGISTRY_NPROBE):
        cells = " | ".join(
            f"{vals.get(f'{name}_nprobe{n}', float('nan')):.2f}"
            for n in NPROBE_SWEEP
        )
        lines.append(f"| {name} | {cells} | {REGISTRY_NPROBE[name]} |")
    lines += [
        "",
        "## All pinned variants",
        "",
        "| variant | recall@10 |",
        "|---|---|",
    ]
    for name in sorted(vals):
        lines.append(f"| {name} | {vals[name]:.4f} |")
    lines += ["", f"<!-- RECALL_JSON {json.dumps(vals, sort_keys=True)} -->", ""]
    return "\n".join(lines)


def load_pinned() -> dict[str, float] | None:
    try:
        text = open(LEDGER).read()
    except OSError:
        return None
    m = re.search(r"<!-- RECALL_JSON (\{.*\}) -->", text)
    return json.loads(m.group(1)) if m else None


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--write"]
    write = "--write" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    from hadoop_main_spark.session import get_spark

    spark = get_spark("recall-gate")
    vals = measure_fixture(spark, sf_dir)
    vals.update(measure_clustered(spark))
    vals.update(measure_opq(spark))
    vals.update(measure_nndescent(spark, sf_dir))
    vals.update(measure_layered_stream(spark, sf_dir))
    spark.stop()
    print(json.dumps(vals, sort_keys=True))
    pinned = load_pinned()
    if write or pinned is None:
        with open(LEDGER, "w") as f:
            f.write(render(sf_dir, vals))
        print(f"pinned {len(vals)} variants to {LEDGER}")
        return 0
    failures, improved = [], []
    for name, pv in pinned.items():
        cv = vals.get(name)
        if cv is None:
            failures.append(f"{name}: variant disappeared (pinned {pv})")
        elif cv < pv - TOL:
            failures.append(f"{name}: recall {pv} -> {cv} (drop > {TOL})")
        elif cv > pv + TOL:
            improved.append(f"{name}: recall {pv} -> {cv}")
    for name in sorted(set(vals) - set(pinned)):
        improved.append(f"{name}: NEW variant ({vals[name]}) — pin with --write")
    for msg in failures:
        print("FAIL ", msg)
    for msg in improved:
        print("note ", msg)
    if not failures:
        print(f"recall gate: {len(pinned)} variants within {TOL} of pinned")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
