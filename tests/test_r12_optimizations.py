"""Focused tests for the round-12 optimization rewrites: each pins an
optimized internal equal (bit-for-bit where floats are involved) to
the expression form it replaced. (A mapInArrow _perturbed_corpus
kernel was also built and pinned here, then REVERTED after isolated
A/B measured it net-negative — see OPTIMIZATION_r12.md; its tests
left with it.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_main_spark.plans.registry import t


def test_rhp_signature_kernel_matches_expression(spark, sf_dir):
    """The vectorized RHP signature kernel must yield the same
    (band, band_val) table as the interpreted zip_with/aggregate fold
    it replaced — dim-sequential accumulation makes every sign bit
    identical (the whole pipeline is additionally oracle-exact at
    three scales; this pins the signature stage in isolation)."""
    from hadoop_main_spark.operators.dedup import rhp_weights
    from hadoop_main_spark.plans.llm_queries import _perturbed_corpus

    e = t(spark, sf_dir, "embeddings")
    corpus = _perturbed_corpus(e)
    for bits, band_bits in ((16, 4), (64, 16)):
        W = rhp_weights(64, bits)
        # the pre-r12 expression form, verbatim
        sig_cols = []
        for j in range(bits):
            wl = F.array(*[F.lit(w) for w in W[j]])
            prods = F.zip_with(F.col("v"), wl, lambda x, w: x.cast("double") * w)
            dot = F.aggregate(prods, F.lit(0.0), lambda a, x: a + x)
            sig_cols.append(F.when(dot >= 0, 1).otherwise(0).alias(f"b{j}"))
        expr_bands = {
            r["vec_id"]: tuple(
                sum(r[f"b{b * band_bits + k}"] << k for k in range(band_bits))
                for b in range(bits // band_bits)
            )
            for r in corpus.select(F.col("vec_id"), *sig_cols).collect()
        }
        # the kernel path, via the operator's own signature stage:
        # rebuild exactly the mapInArrow frame rhp_cosine_pairs builds
        # and read the band values it would join on
        from hadoop_main_spark.operators import dedup as DD

        def _capture(bits, band_bits):
            pairs = DD.rhp_cosine_pairs(
                corpus, "vec_id", "v", dim=64, bits=bits, band_bits=band_bits,
                min_cosine=-2.0,  # keep every candidate: the pair set
                # then depends ONLY on band equality, so equal band
                # tables <=> equal pair sets
            )
            return {(r["id_a"], r["id_b"]) for r in pairs.collect()}

        got_pairs = _capture(bits, band_bits)
        # expected pairs from the expression-form band table
        exp_pairs = set()
        by_bucket: dict[tuple[int, int], list] = {}
        for vid, bands in expr_bands.items():
            for b, bv in enumerate(bands):
                by_bucket.setdefault((b, bv), []).append(vid)
        for members in by_bucket.values():
            ms = sorted(members)
            for i in range(len(ms)):
                for j in range(i + 1, len(ms)):
                    exp_pairs.add((ms[i], ms[j]))
        assert got_pairs == exp_pairs, (bits, band_bits)


def test_rhp_band_bucket_cap(spark):
    """rhp_cosine_pairs with max_band_bucket: oversized (band,
    band_val) buckets emit no candidates (the minhash_lsh_pairs skew
    guard), while pairs recoverable through small buckets survive;
    cap=None (the declared dedup_embedding_cosine path) is unchanged."""
    from hadoop_main_spark.operators.dedup import rhp_cosine_pairs

    # 6 identical copies of one vector + 2 of another: every copy
    # group collides in ALL its band buckets by construction
    rows = [(i, [1.0, 0.5, -0.25, 2.0] * 16) for i in range(6)]
    rows += [(100 + i, [-1.0, 2.0, 0.125, -0.5] * 16) for i in range(2)]
    df = spark.createDataFrame(rows, "vec_id bigint, v array<double>")
    uncapped = rhp_cosine_pairs(df, "vec_id", "v", dim=64, min_cosine=0.95)
    n_uncapped = uncapped.count()
    assert n_uncapped == 15 + 1  # C(6,2) + C(2,2)
    capped = rhp_cosine_pairs(
        df, "vec_id", "v", dim=64, min_cosine=0.95, max_band_bucket=4
    )
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # the 6-copy group exceeds the cap in every band -> dropped;
    # the 2-copy group fits -> kept
    assert got == {(100, 101)}
    with pytest.raises(ValueError):
        rhp_cosine_pairs(df, "vec_id", "v", dim=64, max_band_bucket=0)


@pytest.mark.parametrize("bad", [float("nan"), float("inf")])
def test_rhp_signature_kernel_rejects_non_finite(spark, bad):
    """The signature kernel fails fast on a NaN or infinite element:
    SQL orders NaN above every number (``NaN >= 0`` is true) where
    numpy's comparison is false, so the bit would silently differ
    from the oracle's."""
    from hadoop_main_spark.operators.dedup import rhp_cosine_pairs

    rows = [(1, [1.0, 0.5, -0.25, 2.0] * 16), (2, [1.0, 0.5, -0.25, bad] * 16)]
    df = spark.createDataFrame(rows, "vec_id bigint, v array<double>")
    with pytest.raises(Exception, match="NaN or infinite embedding"):
        rhp_cosine_pairs(df, "vec_id", "v", dim=64).collect()


def _final_plan(df) -> str:
    """AQE-final executed plan text (post-collect, final section only
    — executedPlan().toString() prints final + initial sections)."""
    df.collect()
    s = df._jdf.queryExecution().executedPlan().toString()
    return s.split("== Initial Plan ==")[0]


@pytest.mark.parametrize(
    "name,max_generate",
    [("bigram_lm_topk", 1), ("bigram_surprise", 1)],
)
def test_bigram_exchange_reuse_fires(spark, sf_dir, name, max_generate):
    """advice r11 #4: bigram_lm_topk's trivially-true c12 > 0 guard
    restores canonical exchange equality so AQE's ReuseExchange
    evaluates the corpus explode ONCE; a Spark upgrade that
    constant-folds the guard would silently re-duplicate the explode
    (a perf regression invisible to the oracle). Assert the runtime
    reuse mechanically: >= 1 ReusedExchange and at most one Generate
    in the AQE-final plan (same check for bigram_surprise, whose
    reuse is the house pattern the guard replays)."""
    from hadoop_main_spark.plans.registry import REGISTRY

    plan = _final_plan(REGISTRY[name].build(spark, sf_dir))
    assert plan.count("ReusedExchange") >= 1, plan
    assert plan.count("Generate") <= max_generate, plan
