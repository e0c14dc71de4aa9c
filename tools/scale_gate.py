"""10x scale gate (verdict r6 #3): the committed, repeatable version
of the ad-hoc scale smokes that kept finding real issues.

Builds a 10x corpus from sf0.1 (each FACT table unioned 10 times with
shifted keys — orderkey / event+user ids / doc_id / vec_id — so joins
stay consistent and the dedup family sees the identical-copy worst
case; dimensions unchanged), runs the bench headline set plus any
extra query names passed on the CLI at BOTH scales, and writes the
per-query sf0.1 -> 10x runtime ratios to SCALE.md.

FAILS (exit 1) on any ratio above the super-linear threshold (default
15x for 10x data — linear scaling plus fixed overhead lands well
under it; a quadratic pair blowup or a lost partition bound lands far
above). Queries faster than 0.15 s at sf0.1 are overhead-dominated;
their ratios print but never fail the gate.

Usage:
    python tools/scale_gate.py [--threshold 15] [--copies N] [extra_query ...]

``--copies 100`` (verdict r7 #8) is the opt-in heavy tier: a 100x
corpus, the 5 heaviest headline queries only (HEAVY_SET — full-sweep
cost at 100x is not worth per-round payment), default threshold 150
(linear + fixed overhead). Each tier writes its OWN section of
SCALE.md (tier markers), so the 100x data point persists next to the
per-round 10x table instead of being overwritten by it.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bench import run_once
from hadoop_main_spark.plans.registry import REGISTRY
from hadoop_main_spark.session import get_spark
from hadoop_main_spark.tables import TABLE_NAMES, data_fingerprint, load_table

COPIES = 10
# FACT tables get key columns shifted per copy so cross-table joins
# (orders<->lineitem) and per-entity groupings (sessions per user)
# stay structurally realistic at 10x; text/embedding payloads repeat
# identically — the dedup/ANN worst case, deliberately.
SHIFTS: dict[str, tuple[str, ...]] = {
    "lineitem": ("l_orderkey",),
    "orders": ("o_orderkey",),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
MIN_BASE_S = 0.15  # below this the sf0.1 time is fixed overhead

#: non-bench queries the gate ALWAYS covers (each round's additions
#: get appended here per the round ledger, so the committed SCALE.md
#: keeps certifying them without anyone re-typing the CLI list)
DEFAULT_EXTRAS = [
    # round 7
    "seqfile_roundtrip_agg",
    "fixedwidth_roundtrip_agg",
    "xml_roundtrip_agg",
    "har_roundtrip_agg",
    "distcp_roundtrip_agg",
    "gif_truecolor_frame_features",
    "ivfpq_residual_topk",
    "ivfpq_residual_indexed",
    "bigram_surprise",
    "sq8_topk",
    "bq_rerank_topk",
    # round 8 (stream_dedup_roundtrip excluded on purpose: its stream
    # executes inside build(), so the timed tail is only the sink
    # read-back — the gate would measure nothing)
    "bq_ivf_rerank_topk",
    "bq_ivf_indexed_topk",
    "audio_container_meta",
    "ivf_sq8_topk",
    "video_container_meta",
    "mkv_container_meta",
    "warc_ingest_meta",
    "warc_html_text_extract",
    "robots_url_filter",
    "robots_txt_pipeline",
    "sitemap_url_frontier",
    "mp3_id3_tags",
    # round 9 (stream_session/interval_join roundtrips excluded for the
    # same reason as stream_dedup: the stream executes inside build())
    "exact_substr_spans",
    "redirect_frontier",
    "image_exif_meta",
    "exact_substr_dedup",
    "ann_ivf_trained",
    # round 9 second block (stream_warc_roundtrip excluded: stream
    # executes inside build(), same as the other stream roundtrips)
    "merge_upsert",
    "orc_roundtrip_agg",
    "csv_roundtrip_agg",
    "wav_g711_decode_features",
    "bpe_encode_stats",
    "id3_apic_art_dedup",
    "html_link_graph",
    "knn_graph_nndescent",
    "knn_graph_search",
    "knn_graph_indexed",
    "graph_shortest_paths",
    "l_diversity_audit",
    "ewma_user_value",
    # round 10 (stream_{pq_codes,residual_codes,media_features}
    # roundtrips excluded: the stream executes inside build(), same
    # as the other stream roundtrips)
    "opq_pq_topk",
    "knn_graph_layered",
    "t_closeness_audit",
    "warc_revisit_dedup",
    "edit_distance_join",
    "autocorr_user_value",
    "eval_holdout_sample",
    "pdf_text_extract",
    "dhash_near_groups",
    "cc_incremental_resolution",
    # round 11
    "nline_split_agg",
    "combine_pack_agg",
    "multiple_outputs_agg",
    "hash_partition_hist",
    "keyfield_partition_hist",
    "binary_partition_hist",
    "mapfile_point_lookup",
    "counters_agg",
    "recrawl_maintenance",
    "pdf15_text_extract",
    "cdc_chunk_dedup",
    "weighted_doc_sample",
    "salted_user_agg",
    "cdc_delta_transfer",
    # stream_cdc_roundtrip excluded: the stream executes inside
    # build(), same as the other stream roundtrips
    # round 11 third block
    "bm25_topk",
    "kcore_parts",
    "audio_fingerprint_dedup",
    "dbscan_embedding_clusters",
    "suffix_array_ranks",
    "suffix_array_repeats",
    "video_fingerprint_dedup",
    # round 11 fourth block
    "seasonal_anomaly_hours",
    "hits_top20",
    "phrase_search",
    "sorted_neighborhood_dedup",
    "cusum_changepoints",
    "equi_depth_histogram",
    "incremental_agg_maintenance",
    "key_skew_audit",
    "table_profile",
    "set_similarity_join",
    "heavy_hitters_sketch",
    # stream_agg_view_roundtrip excluded: the stream executes inside
    # build(), same as the other stream roundtrips
    # round 11 optimization pass: track the queries whose plans were
    # restructured (shared-intermediate barriers, vectorized verify,
    # two-level distinct, exchange-reuse guard) so a regression in the
    # restructured shape shows up as a ratio break here.
    # dedup_embedding_cosine is deliberately NOT gated: the 10x
    # identical-copy corpus is the RHP-LSH collision worst case —
    # every duplicate cluster's band buckets grow ~copies^2 candidate
    # pairs BY CONSTRUCTION (measured 57.7x at 10x while the verify
    # kernel itself scales linearly in candidates), and the
    # minhash-style band-bucket cap that would bound it changes the
    # declared pair set — an oracle-visible semantic change deferred
    # to a build round.
    "decontaminate",
    "decontaminate_bloom",
    "bigram_lm_topk",
    "waiting_suppliers",
    "lang_id",
    # round 12 (optimization): the capped RHP variant is the DECIDED
    # answer to the dedup_embedding_cosine blowup documented above —
    # 64-bit/16-bit-band signatures + max_band_bucket=1000 bound
    # bucket work on duplicate-heavy corpora, so THIS one gates at
    # 10x (the exact 16-bit form stays ungated with the rationale
    # above; its semantics are unchanged).
    "dedup_embedding_cosine_capped",
]

#: the --copies 100 tier runs ONLY these (the 5 heaviest headline
#: queries by the BENCH ledger) — a full sweep at 100x costs more
#: wall-clock than the one data point per round is worth
HEAVY_SET = [
    "bigram_surprise",
    "table_fingerprint",
    "curation_pipeline",
    "dedup_minhash_lsh",
    "gif_frame_features",
    # round 9 (verdict r8 #5): the crawl first mile, an ANN
    # index-build+probe, and the driver-side-seed-cap query — 100x is
    # where driver bounds (semantic seed cap, probe frames) actually
    # bind, so they belong in the heavy tier
    "warc_ingest_meta",
    "warc_html_text_extract",
    "ivfpq_indexed_topk",
    "semantic_dedup",
    # round 9 second block: graph iteration at 100x (PageRank over the
    # host graph — the web-family composition's scalability question)
    "html_link_graph",
]


def _shifted_union(df: DataFrame, tbl: str, copies: int) -> DataFrame:
    """The N-copy key-shifted union build_nx applies to FACT tables."""
    strides = {
        c: (df.agg(F.max(c)).first()[0] or 0) + 1 for c in SHIFTS[tbl]
    }
    parts = []
    for k in range(copies):
        d = df
        for c, stride in strides.items():
            d = d.withColumn(c, F.col(c) + F.lit(k * stride))
        parts.append(d)
    return functools.reduce(DataFrame.unionByName, parts)


def build_nx(spark, src: str, dst: str, copies: int = COPIES) -> None:
    marker = os.path.join(dst, "_BUILT_FROM")
    fp = f"{data_fingerprint(src)}:x{copies}"
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read().strip() == fp:
                return
    for tbl in TABLE_NAMES:
        df = load_table(spark, src, tbl)
        if tbl in SHIFTS:
            df = _shifted_union(df, tbl, copies)
        df.write.mode("overwrite").parquet(f"{dst}/{tbl}.parquet")
    with open(marker, "w") as f:
        f.write(fp)


# --- SKEW tier (verdict r10 next-round #2) ----------------------------------
#
# The 10x/100x corpora are uniform key-shifted copies; real 100 TB
# joins die on zipfian keys (the reference's own record run shipped
# 2.6x reduce skew, EX/terasort/package.html:109-:111).  The skew
# corpus is the 10x volume with join/group keys redrawn zipf(α≈1.1):
# orders' keys become their dense global rank (parent side stays
# UNIQUE — a skewed parent would make the join RESULT quadratic,
# which is a semantic explosion, not an engine test), and each
# lineitem/child row picks its parent rank by inverse-CDF zipf over a
# deterministic hash, so the join result stays |child|-bounded while
# the reducer LOAD goes zipfian.  Same for orders->customer and the
# events user_id grouping key.

ZIPF_ALPHA = 1.1

#: join/group/window-heavy headline queries over the remapped keys —
#: the dedup family sees no skew change (documents are untouched)
SKEW_SET = [
    "pricing_summary",
    "shipping_priority",
    "returned_customers",
    "sessionize",
    "asof_join",
    "total_order_sort",
    "broadcast_join_agg",
    "table_fingerprint",
]


def _zipf_pick(hash_col, n: int, alpha: float = ZIPF_ALPHA):
    """Deterministic zipf(alpha) rank in [1, n] by inverse-CDF (Pareto
    tail: P(rank >= x) = x^-(alpha-1)) over a uniform hash; clamped in
    DOUBLE before the cast (u^-10 reaches ~2^200 at the smallest u)."""
    u = (F.pmod(hash_col, F.lit(1 << 20)).cast("double") + 1.0) / float(
        (1 << 20) + 1
    )
    raw = F.pow(u, F.lit(-1.0 / (alpha - 1.0)))
    return F.ceil(F.least(raw, F.lit(float(n)))).cast("bigint")


def build_skew(spark, src: str, dst: str, copies: int = COPIES) -> None:
    from hadoop_main_spark.functions.hashing import hash64
    from hadoop_main_spark.operators.sorting import global_rank

    marker = os.path.join(dst, "_BUILT_FROM")
    fp = f"{data_fingerprint(src)}:skew{copies}:a{ZIPF_ALPHA}"
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read().strip() == fp:
                return
    n_orders = load_table(spark, src, "orders").count() * copies
    cust = load_table(spark, src, "customer")
    n_cust = cust.count()
    cust_min = cust.agg(F.min("c_custkey")).first()[0]
    n_users = (
        load_table(spark, src, "events")
        .agg(F.countDistinct("user_id"))
        .first()[0]
        * copies
    )
    for tbl in TABLE_NAMES:
        df = load_table(spark, src, tbl)
        if tbl in SHIFTS:
            df = _shifted_union(df, tbl, copies)
        if tbl == "orders":
            df = (
                global_rank(df, "o_orderkey", rank_col="__rk")
                .withColumn("o_orderkey", F.col("__rk"))
                .drop("__rk")
                .withColumn(
                    "o_custkey",
                    F.lit(cust_min)
                    + _zipf_pick(
                        hash64(F.col("o_orderkey").cast("string"), "skewcust"),
                        n_cust,
                    )
                    - 1,
                )
            )
        elif tbl == "lineitem":
            df = df.withColumn(
                "l_orderkey",
                _zipf_pick(
                    hash64(
                        F.concat_ws(
                            "#",
                            F.col("l_orderkey").cast("string"),
                            F.col("l_linenumber").cast("string"),
                        ),
                        "skeword",
                    ),
                    n_orders,
                ),
            )
        elif tbl == "events":
            df = df.withColumn(
                "user_id",
                _zipf_pick(
                    hash64(F.col("event_id").cast("string"), "skewuser"),
                    n_users,
                ),
            )
        df.write.mode("overwrite").parquet(f"{dst}/{tbl}.parquet")
    with open(marker, "w") as f:
        f.write(fp)


def aqe_skew_probe(spark, dst: str) -> tuple[bool, float]:
    """Assert AQE's skew-join split ENGAGES on the zipf corpus: a
    forced sort-merge join of the zipf-keyed lineitem against the
    rank-keyed orders, with the skew thresholds scaled to fixture
    bytes (at 100 TB the default 256 MB threshold binds the same way
    these scaled ones do here).  Returns (skew_split_seen, seconds) —
    the caller fails the tier if the final adaptive plan never marks
    the join skew=true."""
    saved = {}
    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
    }
    for k, v in tuned.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet(f"{dst}/lineitem.parquet").select(
            "l_orderkey", "l_quantity"
        )
        od = spark.read.parquet(f"{dst}/orders.parquet").select(
            "o_orderkey", "o_orderdate"
        )
        j = (
            li.join(od, li.l_orderkey == od.o_orderkey)
            .groupBy("o_orderdate")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        t0 = time.perf_counter()
        j.collect()
        secs = time.perf_counter() - t0
        plan = j._jdf.queryExecution().executedPlan().toString()
        return ("skew=true" in plan), secs
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


build_10x = build_nx  # back-compat alias (tooling tests import it)


def time_query(spark, name: str, sf_dir: str, runs: int = 2) -> float:
    # bench.run_once times build() + action together: a sink-only
    # timer produced <1.0 10x ratios (e.g. suffix_array_repeats'
    # untimed suffix-array construction)
    return min(run_once(spark, name, sf_dir) for _ in range(runs))


def main() -> int:
    args = sys.argv[1:]
    copies = COPIES
    skew = "--skew" in args
    if skew:
        args.remove("--skew")
    if "--copies" in args:
        i = args.index("--copies")
        copies = int(args[i + 1])
        del args[i : i + 2]
    threshold = 15.0 * copies / COPIES  # linear + fixed overhead
    if "--threshold" in args:
        i = args.index("--threshold")
        threshold = float(args[i + 1])
        del args[i : i + 2]
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if skew:
        names = list(SKEW_SET)
    elif copies == COPIES:
        names = [n for n, q in REGISTRY.items() if q.bench]
        names += [n for n in DEFAULT_EXTRAS if n not in names]
    else:
        names = list(args) or list(HEAVY_SET)  # heavy tier: 5 heaviest
    names += [n for n in args if n not in names]
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    tier = "skew" if skew else f"{copies}x"
    dst = os.path.join(
        "/tmp", f"spark_graft_scale{tier}", data_fingerprint(src)[:16]
    )
    spark = get_spark("scale-gate")
    t0 = time.perf_counter()
    (build_skew if skew else build_nx)(spark, src, dst, copies)
    build_s = time.perf_counter() - t0
    # warm both corpora's file listings with a cheap fixed query
    warm = "word_count" if "word_count" in REGISTRY else names[0]
    time_query(spark, warm, src, runs=1)
    time_query(spark, warm, dst, runs=1)

    # warm the PYTHON workers too: the first Arrow-kernel query
    # otherwise pays ~6s of 32-worker spin-up + numpy imports, and
    # min-of-2 can catch it cold twice (observed on gif sf0.1)
    def _py_warm(batches):
        import numpy  # noqa: F401  (module-cache warm per worker)

        yield from batches

    par = spark.sparkContext.defaultParallelism
    (
        spark.range(par * 4)
        .repartition(par)
        .mapInPandas(_py_warm, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    rows = []
    failures = []
    for name in names:
        base = time_query(spark, name, src)
        big = time_query(spark, name, dst)
        ratio = big / base if base > 0 else float("inf")
        gated = base >= MIN_BASE_S
        ok = (ratio <= threshold) or not gated
        rows.append((name, base, big, ratio, gated, ok))
        if not ok:
            failures.append(name)
        print(
            f"{'ok  ' if ok else 'FAIL'} {name}: {base:.3f}s -> {big:.3f}s "
            f"({ratio:.1f}x{'' if gated else ', overhead-dominated: informational'})",
            flush=True,
        )
    probe_line = None
    if skew:
        engaged, psecs = aqe_skew_probe(spark, dst)
        probe_line = (
            f"AQE skew-join probe (forced SMJ, lineitem zipf keys vs "
            f"orders ranks, thresholds scaled to fixture bytes): "
            f"{'ENGAGED (skew=true in final adaptive plan)' if engaged else 'DID NOT ENGAGE'}"
            f", {psecs:.2f}s."
        )
        if not engaged:
            failures.append("aqe_skew_probe")
        print(("ok  " if engaged else "FAIL") + " " + probe_line, flush=True)
    spark.stop()
    if skew:
        desc = (
            f"SKEW_SET (join/group/window-heavy) at sf0.1 vs a {copies}x "
            f"corpus with zipf(a={ZIPF_ALPHA}) join/group keys: orders "
            f"keys -> dense global rank (parent stays unique so the join "
            f"RESULT stays child-bounded), lineitem/orders-custkey/"
            f"events-user keys redrawn by inverse-CDF zipf over a "
            f"deterministic hash — reducer LOAD goes zipfian while "
            f"semantics stay join-valid."
        )
    else:
        desc = (
            f"Headline {'set' if copies == COPIES else 'HEAVY_SET'} at "
            f"sf0.1 vs a {copies}x corpus ({copies} key-shifted fact "
            f"copies, identical payloads — the dedup worst case)."
        )
    lines = [
        f"<!-- TIER {tier} START -->",
        f"## {tier} tier",
        "",
        desc + (
            f" Gate: ratio <= {threshold:g}x for queries with sf0.1 "
            f"time >= {MIN_BASE_S}s (below that, fixed overhead "
            f"dominates and the ratio is informational). min-of-2 runs "
            f"each. corpus build: {build_s:.1f}s (cached by data "
            f"fingerprint)."
        ),
        "",
    ]
    if probe_line:
        lines += [probe_line, ""]
    lines += [
        f"| query | sf0.1 s | {tier} s | ratio | gate |",
        "|---|---|---|---|---|",
    ]
    for name, base, big, ratio, gated, ok in rows:
        gate = ("PASS" if ok else "FAIL") if gated else "info"
        lines.append(f"| {name} | {base:.3f} | {big:.3f} | {ratio:.1f}x | {gate} |")
    lines.append(f"<!-- TIER {tier} END -->")
    section = "\n".join(lines)
    path = os.path.join(_REPO, "SCALE.md")
    header = "# SCALE.md — scale-gate ledger\n"
    try:
        old = open(path).read()
    except OSError:
        old = ""
    import re

    start, end = f"<!-- TIER {tier} START -->", f"<!-- TIER {tier} END -->"
    if start in old and end in old:
        new = old[: old.index(start)] + section + old[old.index(end) + len(end) :]
    else:
        # legacy single-tier file (or first run): keep only other tiers
        kept = "\n\n".join(
            m.group(0) for m in re.finditer(r"<!-- TIER .*? END -->", old, re.S)
        )
        new = header + "\n" + (kept + "\n\n" if kept else "") + section + "\n"
    with open(path, "w") as f:
        f.write(new)
    print(
        json.dumps(
            {
                "metric": f"scale_gate_{tier}",
                "threshold": threshold,
                "failures": failures,
                "queries": {n: round(r, 2) for n, _b, _g, r, _gt, _ok in rows},
            }
        )
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
