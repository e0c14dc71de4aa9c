"""Deduplication operators for large-scale training-data pipelines.

Capability extension beyond the reference (BASELINE.json north_star):
exact dedup, MinHash+LSH near-dup, SimHash, n-gram Jaccard, and
quantized-embedding dedup — all as pure Catalyst expression
pipelines (no Python UDFs), so they scale with whole-stage codegen
and shuffle only on the grouping keys.

Portability: every hash that defines semantics derives from
hash64 (MD5-based, see functions/hashing.py), so each operator has
a DuckDB-expressible oracle. MinHash permutations are the classic
(a*h + b) mod P family over P = 2^31-1 with constants from a fixed
seed — embedded below so the oracle SQL can reproduce them.

Scale design (100 TB): every stage is explode → hash-partition
aggregate; candidate generation is an equi-join on band signatures
(shuffle on the band key, never an all-pairs product). Skewed bands
(e.g. empty-text signature) are the known hazard — AQE skew-join
plus the `max_band_bucket` guard below handle it.
"""

from __future__ import annotations

import random
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hadoop_main_spark.functions.hashing import hash64, hash64_sql
from hadoop_main_spark.operators.checkpoints import ckpt_rdd_id, run_checkpoint, unpersist_rdd

MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
NUM_HASHES = 16
BANDS = 4
ROWS_PER_BAND = NUM_HASHES // BANDS

_rng = random.Random(42)
#: (a, b) for h_j(x) = (a*x + b) mod P — a in [1, P), b in [0, P).
PERM: list[tuple[int, int]] = [
    (_rng.randrange(1, MINHASH_P), _rng.randrange(0, MINHASH_P)) for _ in range(NUM_HASHES)
]


# --- exact dedup -------------------------------------------------------------


def exact_dedup(df: DataFrame, key_cols: Sequence[str], id_col: str) -> DataFrame:
    """Exact duplicate marking: rows identical on ``key_cols`` form a
    group; the lowest ``id_col`` is canonical.

    Scale shape: content is digested at the scan (md5, 128-bit) and
    only (id, digest) rows ever shuffle - the content itself never
    moves, which matters when key_cols is document text. Two narrow
    shuffles: digest -> min-id, then the per-digest canonical joined
    back. Returns (id_col, canonical_id, is_duplicate)."""
    # to_json(struct(...)) is an UNAMBIGUOUS multi-column encoding:
    # a plain concat would collide ('ab','c') with ('a','bc') and
    # silently drop NULL columns
    content = F.to_json(F.struct(*[F.col(c) for c in key_cols]))
    m = df.select(F.col(id_col), F.md5(content).alias("__d"))
    canon = m.groupBy("__d").agg(F.min(id_col).alias("canonical_id"))
    return m.join(canon, "__d").select(
        id_col,
        "canonical_id",
        (F.col(id_col) != F.col("canonical_id")).alias("is_duplicate"),
    )


# --- shingling ---------------------------------------------------------------


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles of a text column (empty-token-free).
    Documents with fewer than ``n`` tokens yield an EMPTY array
    (greatest(size - (n-1), 0) clamps the slice length to 0).

    Shape matters here (bench r8): the original form transformed an
    index sequence with element_at(toks, i+k) lambdas, and because
    the ``toks`` subexpression is embedded INSIDE the lambda it was
    re-evaluated PER OUTPUT ELEMENT — the regex tokenizer ran
    O(tokens) times per document, O(tokens^2) regex work total,
    measured 5.8 s for the sf0.1 bigram explode. This form slices
    the token array n times at ROW level (array expressions evaluate
    once per row) and zips the slices, so the tokenizer runs a
    constant n+1 times per document: 0.44 s for the same explode,
    13x, byte-identical output (exceptAll both ways = 0)."""
    from hadoop_main_spark.operators.transforms import tokenize

    toks = tokenize(text)
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    acc = F.slice(toks, 1, m)
    for k in range(1, n):
        acc = F.zip_with(
            acc, F.slice(toks, k + 1, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return acc


def shingles_sql(text_expr: str, n: int = 3) -> str:
    """DuckDB SQL producing exactly :func:`word_shingles`."""
    toks = f"list_filter(regexp_split_to_array({text_expr}, '\\s+'), t -> t <> '')"
    parts = " || ' ' || ".join(f"toks[i+{k}]" for k in range(n))
    return (
        f"(SELECT list_transform(generate_series(1, greatest(len(toks) - {n - 1}, 0)), "
        f"i -> {parts}) FROM (SELECT {toks} AS toks))"
    )


# --- MinHash + LSH -----------------------------------------------------------


def distinct_grams(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, g) DISTINCT word n-grams per document, with one NULL-gram
    row for gram-less documents (explode_outer) — the shareable
    tokenize+shingle pass (optimization r12, verdict-r11 #4):
    MinHash signatures are invariant under de-duplication of the
    shingle multiset (min over distinct == min over multiset, and the
    NULL row reproduces explode_outer's empty-doc sentinel exactly),
    and the exact prefix join consumes distinct grams by definition
    (filter the NULL rows). lsh_quality_eval runs BOTH over one
    lazily-checkpointed copy of this table instead of tokenizing the
    corpus twice."""
    from hadoop_main_spark.operators.partitioning import fan_out

    return fan_out(df.select(id_col, text_col), [id_col]).select(
        F.col(id_col),
        F.explode_outer(F.array_distinct(word_shingles(text_col, n))).alias("g"),
    )


def minhash_signature_from_grams(grams: DataFrame, id_col: str) -> DataFrame:
    """MinHash signature columns mh0..mh{J-1} from a pre-built
    per-document gram table (see :func:`distinct_grams`): identical
    output to :func:`minhash_signature` — the base hash is computed
    per DISTINCT gram instead of per occurrence (min unaffected), and
    a NULL gram row hashes to NULL so a gram-less document still
    lands on the empty signature via the coalesce."""
    h = (hash64("g") % MINHASH_P).alias("h")
    sh = grams.select(id_col, h)
    aggs = [
        F.coalesce(
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_P), F.lit(MINHASH_P - 1)
        ).alias(f"mh{j}")
        for j, (a, b) in enumerate(PERM)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_signature(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Per-document MinHash signature columns mh0..mh{J-1}.

    shingle → base hash h = hash64(shingle) mod P → J permuted
    min-hashes min((a_j*h + b_j) mod P). Documents with no shingles
    get the empty signature (P-1 per slot) so they never collide
    with real content by accident.

    Shape note: explode + groupBy (codegen hash aggregation over
    shingle rows) measures ~6x FASTER here than the tempting per-row
    ``array_min(transform(...))`` form — higher-order-function lambdas
    evaluate interpreted, outside whole-stage codegen, so 17 HOF
    transforms per row lose badly to one codegen'd md5 per exploded
    shingle plus a map-side partial min. (The streaming dedup path
    keeps the per-row form because streams cannot re-shuffle per
    batch.)
    """
    from hadoop_main_spark.operators.partitioning import fan_out

    sh = fan_out(df.select(id_col, text_col), [id_col]).select(
        F.col(id_col), F.explode_outer(word_shingles(text_col, n)).alias("shingle")
    )
    h = (hash64("shingle") % MINHASH_P).alias("h")
    sh = sh.select(id_col, h)
    aggs = [
        F.coalesce(
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_P), F.lit(MINHASH_P - 1)
        ).alias(f"mh{j}")
        for j, (a, b) in enumerate(PERM)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def _band_structs() -> list[Column]:
    """The (band, band_sig) struct list shared by BOTH banding paths
    (from-scratch and from-persisted-signatures) — one definition so
    a change to BANDS / the salt / the separator cannot silently make
    the two paths generate different candidate sets."""
    structs = []
    for b in range(BANDS):
        cols = [F.col(f"mh{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        band_sig = hash64(F.concat_ws("_", *[c.cast("string") for c in cols]), f"band{b}")
        structs.append(F.struct(F.lit(b).alias("band"), band_sig.alias("band_sig")))
    return structs


def lsh_band_signatures(sig: DataFrame, id_col: str) -> DataFrame:
    """Banded LSH: (doc, band, band_sig) rows; equal band_sig within a
    band → candidate pair. band_sig re-hashes the band's minhashes.
    One explode pass emits all bands (a union of per-band selects
    would rescan the signature table B times)."""
    return sig.select(
        F.col(id_col), F.explode(F.array(*_band_structs())).alias("__bb")
    ).select(id_col, "__bb.band", "__bb.band_sig")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_est_jaccard: float = 0.5,
    max_band_bucket: int = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH, scored by
    estimated Jaccard (fraction of agreeing minhashes).

    ``max_band_bucket`` drops degenerate buckets (a band signature
    shared by huge numbers of docs would make the self-join
    quadratic — the classic LSH skew hazard at scale).
    Output: (id_a, id_b, est_jaccard), id_a < id_b.
    """
    sig = minhash_signature(df, id_col, text_col, n)
    return lsh_pairs_from_signatures(
        sig, id_col, min_est_jaccard=min_est_jaccard, max_band_bucket=max_band_bucket
    )


def lsh_candidate_pairs(
    sig: DataFrame, id_col: str, max_band_bucket: int = 1000
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from a signature table:
    band → bucket-size guard → band-bucket equi-self-join. The single
    shared candidate-generation subtree for every LSH consumer."""
    bands = lsh_band_signatures(sig, id_col)
    sized = bands.withColumn(
        "bucket_n", F.count("*").over(Window.partitionBy("band", "band_sig"))
    ).filter(F.col("bucket_n") <= max_band_bucket)
    # alias-style self-join: both sides are the IDENTICAL subplan, so
    # the band exchange canonicalizes equal and Spark's ReuseExchange
    # computes the shingle→band→window pipeline ONCE — the storage-free
    # replacement for cache() (nothing stays pinned after the query)
    a, b = sized.alias("__lsh_a"), sized.alias("__lsh_b")
    return (
        a.join(b, ["band", "band_sig"])
        .filter(F.col(f"__lsh_a.{id_col}") < F.col(f"__lsh_b.{id_col}"))
        .select(
            F.col(f"__lsh_a.{id_col}").alias("id_a"),
            F.col(f"__lsh_b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def lsh_pairs_from_signatures(
    sig: DataFrame,
    id_col: str,
    min_est_jaccard: float = 0.5,
    max_band_bucket: int = 1000,
) -> DataFrame:
    """LSH candidate pairs from an EXISTING signature table (id_col,
    mh0..mh{J-1}) — the reuse path when signatures are persisted at
    ingest (sources/layouts.py materialize_minhash_signatures): the
    shingle+hash pass, the expensive part at 100 TB, is paid once and
    every later dedup run starts here."""
    # the minhash columns RIDE THROUGH the band shuffle (+128 B/row ×
    # BANDS) so est_jaccard is computed directly on the self-joined
    # rows: no join-back to the signature table (which re-shuffled the
    # signatures twice more), and the two join sides are the identical
    # subplan → ReuseExchange evaluates the signature pipeline once,
    # with no cache() pinning executor storage after the query.
    # MEASURED, round 4: packing the 16 bigints into one array<int>
    # (halving shuffled bytes) is SLOWER — 16.0s vs 13.3s at 50k docs,
    # 2.1s vs 1.8s at sf0.1 — because the band-key sort (window + SMJ)
    # handles fixed-width long columns faster than a var-length array
    # payload; the byte savings never pay for the var-width row
    # handling. Keep the flat columns.
    # est_jaccard is a pure function of the pair (band-independent), so
    # the threshold filter sits BEFORE distinct: equivalent result,
    # smaller dedup set.
    mh_cols = [f"mh{j}" for j in range(NUM_HASHES)]
    # the rode-through minhashes are values mod P = 2^31-1, so they
    # FIT int32: casting halves their shuffle bytes while keeping
    # fixed-width columns (the measured reason the array<int> packing
    # lost — var-width row handling)
    bands = sig.select(
        F.col(id_col),
        *[F.col(c).cast("int").alias(c) for c in mh_cols],
        F.explode(F.array(*_band_structs())).alias("__bb"),
    ).select(id_col, *mh_cols, "__bb.band", "__bb.band_sig")
    sized = bands.withColumn(
        "bucket_n", F.count("*").over(Window.partitionBy("band", "band_sig"))
    ).filter(F.col("bucket_n") <= max_band_bucket)
    a, b = sized.alias("__lsh_a"), sized.alias("__lsh_b")
    agree = sum(
        F.when(F.col(f"__lsh_a.mh{j}") == F.col(f"__lsh_b.mh{j}"), 1).otherwise(0)
        for j in range(NUM_HASHES)
    )
    return (
        a.join(b, ["band", "band_sig"])
        .filter(F.col(f"__lsh_a.{id_col}") < F.col(f"__lsh_b.{id_col}"))
        .select(
            F.col(f"__lsh_a.{id_col}").alias("id_a"),
            F.col(f"__lsh_b.{id_col}").alias("id_b"),
            (agree.cast("double") / F.lit(float(NUM_HASHES))).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .distinct()
    )


# --- SimHash -----------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash over unigram tokens (with multiplicity).

    bit_k(doc) = sign of Σ_tokens (±1 by bit k of hash64(token));
    ties (sum == 0) resolve to bit 0 — same rule in the oracle SQL.
    Zero-token documents get the sentinel signature 0 (explode_outer
    keeps them; a plain explode silently dropped them from the
    signature table, inconsistent with minhash_signature's empty-doc
    sentinel — two empty docs ARE exact duplicates and must pair).
    """
    from hadoop_main_spark.operators.transforms import tokenize

    from hadoop_main_spark.operators.partitioning import fan_out

    tok = fan_out(df.select(id_col, text_col), [id_col]).select(
        F.col(id_col), F.explode_outer(tokenize(text_col)).alias("token")
    )
    tok = tok.select(id_col, hash64("token").alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.col("h").isNull(), 0)  # empty doc → all sums 0 → simhash 0
            .when(F.shiftright(F.col("h"), k).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"s{k}")
        for k in range(SIMHASH_BITS)
    ]
    sums = tok.groupBy(id_col).agg(*bit_sums)
    sim = sum(
        F.when(F.col(f"s{k}") > 0, F.lit(1 << k)).otherwise(F.lit(0))
        for k in range(SIMHASH_BITS)
    )
    return sums.select(F.col(id_col), sim.cast("bigint").alias("simhash"))


def simhash_pairs(df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: LSH on 8-bit bands (a pair within
    hamming ≤ 3 of 32 bits must agree on ≥1 of 4 bands), verified by
    exact Hamming distance."""
    sim = simhash(df, id_col, text_col)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * 8).bitwiseAND(F.lit(255)).alias("band_val"),
        )
        for b in range(4)
    ]
    all_bands = sim.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*band_structs)).alias("__bb")
    ).select(id_col, "simhash", "__bb.band", "__bb.band_val")
    # identical-subplan self-join → ReuseExchange computes the simhash
    # aggregation once; replaces cache() (no pinned executor storage)
    a, b = all_bands.alias("__sh_a"), all_bands.alias("__sh_b")
    cand = (
        a.join(b, ["band", "band_val"])
        .filter(F.col(f"__sh_a.{id_col}") < F.col(f"__sh_b.{id_col}"))
        .select(
            F.col(f"__sh_a.{id_col}").alias("id_a"),
            F.col(f"__sh_b.{id_col}").alias("id_b"),
            F.col("__sh_a.simhash").alias("sim_a"),
            F.col("__sh_b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# --- exact n-gram overlap scores over LSH candidates -------------------------


def _ngram_overlap_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_band_bucket: int = 1000,
) -> DataFrame:
    """Shared verify core for the exact n-gram similarity scores:
    MinHash-LSH candidate pairs joined against the distinct-shingle
    explosion, yielding one row per candidate pair with the
    intersection count and both set sizes —
    (id_a, id_b, inter, sz_a, sz_b). Pairs with an EMPTY
    intersection never appear (the intersection join is inner), so
    callers must only emit score filters that a zero intersection
    cannot pass; that keeps the LSH band subtree appearing exactly
    once in the plan (plan-audited in test_plan_quality)."""
    sig = minhash_signature(df, id_col, text_col, n)
    cand = lsh_candidate_pairs(sig, id_col, max_band_bucket=max_band_bucket)
    from hadoop_main_spark.operators.partitioning import fan_out

    grams = fan_out(df.select(id_col, text_col), [id_col]).select(
        F.col(id_col), F.explode(F.array_distinct(word_shingles(text_col, n))).alias("g")
    )
    # per-doc gram counts as a narrow projection (no explode/shuffle) —
    # recomputing the exploded grams frame for this would double the
    # shingle pass
    sizes = df.select(
        F.col(id_col), F.size(F.array_distinct(word_shingles(text_col, n))).alias("sz")
    )
    inter = (
        cand.join(grams.select(F.col(id_col).alias("id_a"), "g"), "id_a")
        .join(grams.select(F.col(id_col).alias("id_b"), F.col("g").alias("g2")), "id_b")
        .filter(F.col("g") == F.col("g2"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_jaccard: float = 0.5,
    max_band_bucket: int = 1000,
) -> DataFrame:
    """Exact Jaccard over distinct word n-grams, computed only for
    MinHash-LSH candidate pairs (never all-pairs): the standard
    verify step after probabilistic candidate generation.
    Output: (id_a, id_b, jaccard).

    Requires ``min_jaccard > 0``: a zero-intersection candidate can
    then never pass the filter, so the candidate set feeds ONLY the
    intersection join and the LSH band subtree appears exactly once
    in the plan (the join-back shape would compute it twice — the
    dominant stage at scale; plan-audited in test_plan_quality).
    """
    if min_jaccard <= 0:
        raise ValueError("min_jaccard must be > 0 (jaccard==0 pairs are never emitted)")
    out = _ngram_overlap_counts(df, id_col, text_col, n, max_band_bucket).select(
        "id_a",
        "id_b",
        (
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
        ).alias("jaccard"),
    )
    return out.filter(F.col("jaccard") >= min_jaccard)


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_containment: float = 0.8,
    max_band_bucket: int = 1000,
) -> DataFrame:
    """Exact n-gram CONTAINMENT over MinHash-LSH candidate pairs:
    ``inter / min(|A|, |B|)`` — the asymmetric overlap score that
    catches document-inside-document duplication (boilerplate
    wrapping, quote inclusion, page-of-a-book) which symmetric
    Jaccard dilutes: a 50-gram doc fully contained in a 5000-gram
    doc has jaccard ~= 0.01 but containment 1.0. Same
    candidate-then-verify shape as :func:`ngram_jaccard_pairs`
    (shared core, never all-pairs); LSH recall for asymmetric pairs
    is lower than for symmetric near-dups (MinHash estimates
    Jaccard), which is the standard trade — at 100 TB the candidate
    generator must stay probabilistic. Output:
    (id_a, id_b, containment). Requires ``min_containment > 0``
    (zero-intersection pairs are never emitted; see shared core)."""
    if min_containment <= 0:
        raise ValueError(
            "min_containment must be > 0 (containment==0 pairs are never emitted)"
        )
    out = _ngram_overlap_counts(df, id_col, text_col, n, max_band_bucket).select(
        "id_a",
        "id_b",
        (
            F.col("inter").cast("double")
            / F.least("sz_a", "sz_b").cast("double")
        ).alias("containment"),
    )
    return out.filter(F.col("containment") >= min_containment)


# --- quantized-embedding dedup ----------------------------------------------


def embedding_quantize_dedup(
    df: DataFrame, id_col: str, vec_col: str, grid: float = 0.05, dims: int | None = None
) -> DataFrame:
    """Near-identical embedding dedup by grid quantization: floor each
    component to a ``grid`` lattice, hash the quantized vector, group.
    The cheap O(n) sibling of cosine near-dup (similarity.py covers
    the ranked variant). ``dims`` quantizes only a leading prefix —
    coarse bucketing (higher recall, more candidates). Output: one row
    per duplicate-group member with the canonical (min) id."""
    vec = F.col(vec_col) if dims is None else F.slice(F.col(vec_col), 1, dims)
    q = F.transform(
        vec, lambda x: F.floor(x.cast("double") / F.lit(grid)).cast("bigint")
    )
    # NULL components encode as an explicit marker — concat_ws SKIPS
    # nulls, so [2, NULL, 4] and [2, 4] would otherwise collide into
    # the same qhash and be reported as duplicates; a NULL vector
    # keeps a NULL qhash (window PARTITION BY groups nulls together,
    # identically in Spark and the SQL oracle)
    qs = F.when(
        vec.isNotNull(),
        F.concat_ws(
            ",", F.transform(q, lambda v: F.coalesce(v.cast("string"), F.lit("n")))
        ),
    )
    grouped = df.select(F.col(id_col), hash64(qs).alias("qhash"))
    w = Window.partitionBy("qhash")
    return (
        grouped.withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("group_size", F.count("*").over(w))
        .filter(F.col("group_size") > 1)
        .select(id_col, "canonical_id", "group_size")
    )


# --- embedding-cosine near-dup via random-hyperplane LSH ---------------------

RHP_BITS = 16
RHP_BAND_BITS = 4


def rhp_weights(dim: int, bits: int = RHP_BITS) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from hash64 — reproducible in any
    engine (the SQL oracle regenerates them from the same hashes)."""
    from hadoop_main_spark.functions.hashing import hash64_py

    return [
        [1.0 if hash64_py(f"{j}-{d}", "rhp") % 2 == 1 else -1.0 for d in range(dim)]
        for j in range(bits)
    ]


def rhp_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    min_cosine: float = 0.95,
    bits: int = RHP_BITS,
    band_bits: int = RHP_BAND_BITS,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via random-hyperplane LSH
    (SimHash for vectors): sign-of-dot signatures, banded candidate
    join, exact cosine verification on candidates only.

    Dots fold sequentially over dimensions (F.aggregate) so signature
    bits are bit-identical to the oracle's list_reduce fold. Candidate
    generation is an equi-join on (band, band_val) — corpus is never
    all-pairs joined. Output: (id_a, id_b, cosine), id_a < id_b.

    Input contract (FAIL-FAST, advice r11 #2): every vector must be a
    non-null, all-elements-non-null array of exactly ``dim`` finite
    values — the kernels raise ValueError on ragged, null, NaN or
    infinite embeddings rather than silently dropping the pair (the
    pre-r11 expression form yielded NULL cosine, filtered out) or
    flipping signature bits away from the oracle. A malformed corpus is a
    pipeline bug upstream; surfacing it beats hiding it.

    ``max_band_bucket`` (optimization r12, verdict-r11 #2) is the
    minhash_lsh_pairs skew guard transplanted: a (band, band_val)
    bucket larger than the cap emits NO candidates — on a corpus with
    c identical copies of one vector, every copy group collides in
    every band by construction and candidate pairs grow ~c² (the r11
    10x identical-copy tier measured 57.7x); the cap bounds bucket
    work at the documented recall cost (a pair survives only through
    some under-cap band). None (the default, and the declared
    dedup_embedding_cosine semantics) leaves candidates exact.
    NOTE: a cap only makes sense with a band space ≫ corpus size —
    the 16-bit/4-band default has 16 values per band, so buckets are
    ~n/16 REGARDLESS of duplicates and a fixed cap would empty the
    output as n grows; the capped production variant
    (dedup_embedding_cosine_capped) pairs the cap with 64-bit/16-bit
    bands, where only true near-dups (and ~n²/2^16-band-rare random
    collisions) share a bucket.
    """
    from hadoop_main_spark.operators.partitioning import fan_out

    W = rhp_weights(dim, bits)
    wide = fan_out(df.select(F.col(id_col), F.col(vec_col)), [id_col])
    n_bands = bits // band_bits
    id_type = dict(df.dtypes)[id_col]
    sig_schema = ", ".join(
        [f"{id_col} {id_type}"] + [f"__bv{b} int" for b in range(n_bands)]
    )

    def _signatures(batches):
        # sign-of-dot signatures vectorized ACROSS rows with the
        # accumulation loop SEQUENTIAL over dimensions — each (row,
        # hyperplane) dot has exactly the fdot fold's float-op order
        # (((0+p0)+p1)+...), so every bit is identical to the
        # expression form it replaced and the oracle's list_reduce
        # (the _verify kernel's discipline). The expression form ran
        # ``bits`` interpreted zip_with+aggregate folds per row — HOF
        # lambdas never enter codegen — which priced the 64-bit capped
        # variant at 4x the 16-bit one (optimization r12; measured
        # 4.8 s vs 2.8 s at sf0.1 before this kernel). Band values are
        # exact integer packs. Non-finite inputs are rejected: Spark and
        # DuckDB order NaN above every number, so SQL ``NaN >= 0`` is
        # true where numpy's is false, and the bits would differ.
        import numpy as np
        import pyarrow as pa

        Wm = np.array(W, dtype=np.float64).T  # (dim, bits), ±1.0
        names = [id_col] + [f"__bv{b}" for b in range(n_bands)]
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(id_col)
            vecs = batch.column(vec_col)
            off = vecs.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            widths = np.diff(off)
            if (
                vecs.null_count
                or vecs.flatten().null_count
                or not (widths == dim).all()
            ):
                raise ValueError(
                    "rhp_cosine_pairs: ragged or null embedding in the "
                    "signature kernel — the corpus contract is fixed "
                    f"{dim}-dim non-null vectors"
                )
            V = vecs.values.to_numpy(zero_copy_only=False).astype(
                np.float64, copy=False
            )[off[0] : off[-1]].reshape(n, dim)
            if not np.isfinite(V).all():
                raise ValueError(
                    "rhp_cosine_pairs: NaN or infinite embedding in the "
                    "signature kernel — the corpus contract is finite vectors"
                )
            acc = np.zeros((n, bits))
            for d in range(dim):
                acc += V[:, d][:, None] * Wm[d][None, :]
            bitm = (acc >= 0).astype(np.int32)
            arrays = [ids]
            for b in range(n_bands):
                bv = np.zeros(n, dtype=np.int32)
                for r in range(band_bits):
                    bv |= bitm[:, b * band_bits + r] << r
                arrays.append(pa.array(bv))
            yield pa.RecordBatch.from_arrays(arrays, names)

    sig = wide.mapInArrow(_signatures, sig_schema)
    band_structs = [
        F.struct(F.lit(b).alias("band"), F.col(f"__bv{b}").alias("band_val"))
        for b in range(n_bands)
    ]
    allb = sig.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("__bb")
    ).select(id_col, "__bb.band", "__bb.band_val")
    if max_band_bucket is not None:
        if max_band_bucket < 1:
            raise ValueError("max_band_bucket must be >= 1")
        # bucket-size guard BEFORE the self-join (the window rides the
        # same (band, band_val) shuffle the join needs — no extra
        # exchange), exactly the minhash_lsh_pairs discipline
        allb = allb.withColumn(
            "__bn", F.count("*").over(Window.partitionBy("band", "band_val"))
        ).filter(F.col("__bn") <= max_band_bucket).drop("__bn")
    left = allb.select("band", "band_val", F.col(id_col).alias("id_a"))
    right = allb.select("band", "band_val", F.col(id_col).alias("id_b"))
    cand = (
        left.join(right, ["band", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    paired = cand.join(va, "id_a").join(vb, "id_b").select(
        "id_a", "id_b", "__va", "__vb"
    )
    id_types = dict(paired.dtypes)
    out_schema = (
        f"id_a {id_types['id_a']}, id_b {id_types['id_b']}, cosine double"
    )

    def _verify(batches):
        # exact-cosine verification, vectorized ACROSS candidate rows
        # with the accumulation loop SEQUENTIAL over dimensions — the
        # per-row float op order is exactly the fdot/fnorm left fold
        # (((0+p0)+p1)+...), so every cosine is bit-identical to the
        # expression form and the oracle's list_reduce. The expression
        # form re-ran ~5 interpreted 64-element folds per pair (nullif
        # evaluates the norm product twice) over the ~n^2/band_space
        # collision candidates — the dominant cost of the query
        # (optimization r11: 3.6 s -> ~1 s at sf0.1's 1.87M
        # candidates). Zero-norm pairs yield NULL, never NaN — the
        # cosine() contract; NaN inputs propagate identically.
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            cols = {name: batch.column(name) for name in batch.schema.names}
            out: dict[str, pa.Array] = {
                "id_a": cols["id_a"],
                "id_b": cols["id_b"],
            }
            a_list, b_list = cols["__va"], cols["__vb"]
            a_off = a_list.offsets.to_numpy(zero_copy_only=False)
            b_off = b_list.offsets.to_numpy(zero_copy_only=False)
            widths_a = np.diff(a_off)
            widths_b = np.diff(b_off)
            # element-null check via flatten(): .values would inspect
            # the ENTIRE child buffer, so a sliced batch with nulls
            # only in unreferenced slots would raise spuriously
            # (advice r11 #2); flatten() restricts to referenced slots
            if (
                a_list.null_count
                or b_list.null_count
                or a_list.flatten().null_count
                or b_list.flatten().null_count
                or not (widths_a == dim).all()
                or not (widths_b == dim).all()
            ):
                raise ValueError(
                    "rhp_cosine_pairs: ragged or null embedding in the "
                    "verify kernel — the corpus contract is fixed "
                    f"{dim}-dim non-null vectors"
                )
            A = a_list.values.to_numpy(zero_copy_only=False).astype(
                np.float64, copy=False
            )[a_off[0] : a_off[-1]].reshape(n, dim)
            B = b_list.values.to_numpy(zero_copy_only=False).astype(
                np.float64, copy=False
            )[b_off[0] : b_off[-1]].reshape(n, dim)
            dot = np.zeros(n)
            na2 = np.zeros(n)
            nb2 = np.zeros(n)
            for d in range(dim):
                dot += A[:, d] * B[:, d]
                na2 += A[:, d] * A[:, d]
                nb2 += B[:, d] * B[:, d]
            denom = np.sqrt(na2) * np.sqrt(nb2)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dot / denom
            out["cosine"] = pa.array(cos, mask=(denom == 0.0))
            yield pa.RecordBatch.from_pydict(out)

    return paired.mapInArrow(_verify, out_schema).filter(
        F.col("cosine") >= min_cosine
    )


# --- duplicate-cluster resolution (connected components) ---------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    jumps: int = 1,
) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate CLUSTERS: connected
    components by iterative min-label propagation, the step that turns
    pairwise LSH output into a keep-one-per-cluster decision.

    Each iteration is one shuffle (join + min-aggregate) and the
    frontier is localCheckpoint()ed so lineage stays flat; convergence
    is reached in graph-diameter iterations (near-dup clusters are
    shallow — a handful of hops). This is inherently iterative — no
    single SQL statement expresses it in Spark — but the oracle can
    still verify it via a recursive CTE.

    Returns (id, component) for every node appearing in ``pairs``,
    component = min node id reachable.
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    und = (
        edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        und.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    prev_id = ckpt_rdd_id(labels)  # the current frontier's blocks
    prev_sum = None
    for _ in range(max_iter):
        neigh = und.join(
            labels.select(F.col("id").alias("dst"), "component"), "dst"
        ).select(F.col("src").alias("id"), "component")
        prop = labels.union(neigh).groupBy("id").agg(
            F.min("component").alias("component")
        )
        # pointer jumping: component := component's component. Halves
        # the remaining chain depth each round, so convergence is
        # O(log diameter) instead of O(diameter) — deep chains stay in
        # a handful of shuffles. ``jumps`` > 1 chains extra jumps per
        # round (same fixpoint, one more join each): on LONG thin
        # chains — eps-graphs, not the shallow name graphs — the
        # label-reach growth per round compounds, cutting round count
        # (and its per-round count action) by ~jumps x.
        cur = prop
        for _ in range(jumps):
            jump = cur.select(
                F.col("component").alias("id"), F.col("id").alias("src_id")
            )
            cur = jump.join(
                prop.select(F.col("id"), F.col("component").alias("cc")), "id"
            ).select(F.col("src_id").alias("id"), F.col("cc").alias("component"))
        new_labels = cur.localCheckpoint(eager=False)
        created = ckpt_rdd_id(new_labels)
        # convergence via the MONOTONE label sum: labels only ever
        # decrease (every step is a min), so an unchanged exact sum
        # == fixpoint — one aggregate action on the frame we must
        # materialize anyway, replacing the old per-round
        # changed-rows JOIN + count (one fewer shuffle per round).
        # DECIMAL(38,0) keeps the sum exact at any id magnitude.
        lab_sum = new_labels.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("__s")
        ).first()["__s"]
        unpersist_rdd(pairs.sparkSession, prev_id)
        prev_id = created
        labels = new_labels
        if lab_sum == prev_sum:
            break
        prev_sum = lab_sum
    # `und` CAN be released here: the returned frame's lineage is
    # truncated at its own (eager) localCheckpoint, so no recompute
    # path reaches the edge set — holding it would pin an RDD copy of
    # all edges for the whole session. The FINAL frontier necessarily
    # stays persisted (it IS the returned data); it is the single
    # bounded block set a long-lived session retains per call.
    unpersist_rdd(pairs.sparkSession, ckpt_rdd_id(und))
    return labels


# --- fuzzy key matching (entity resolution) ----------------------------------


def fuzzy_key_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    max_distance: int = 1,
    max_bucket: int = 1000,
) -> DataFrame:
    """Fuzzy key matching via SYMMETRIC-DELETION candidates (the
    SymSpell scheme): every key emits itself plus each single-char
    deletion variant, candidates are pairs sharing a variant, and the
    verify step is exact Levenshtein. With one deletion per side the
    candidate set has EXACT RECALL for edit distance <= 1 (a
    substitution means both sides delete the differing position; an
    insert/delete means one side deletes it) — unlike q-gram
    thresholds there is no probabilistic miss. Only
    ``max_distance=1`` is supported (deeper neighborhoods grow
    O(L^d); generate them recursively if ever needed).

    Output: (id_a, id_b, distance) with id_a < id_b. NULL keys never
    match (their variant list is NULL and explodes to nothing).

    Scale shape: keys emit L+1 variants (a bounded fan-out on short
    entity keys), the candidate join is an equi-join on the variant
    hash — never an all-pairs product — and hot variants (a shared
    deletion among thousands of keys, e.g. an all-blank key family)
    are dropped by ``max_bucket``, the same skew guard as the LSH
    band buckets. The verify is a per-candidate Levenshtein, JVM-side.
    """
    if max_distance != 1:
        raise ValueError("fuzzy_key_pairs supports max_distance=1 (symmetric delete)")
    # pre-alias the caller's key column to a fixed internal name so the
    # F.expr below never interpolates an arbitrary identifier (names
    # with spaces/dots/hyphens/reserved words would mis-parse or
    # mis-resolve — advice-r4)
    k = "__key"
    variants = df.select(
        F.col(id_col).alias("__id"), F.col(key_col).alias("__key")
    ).select(
        "__id",
        "__key",
        F.explode(
            # empty-key guard: Spark's sequence(1, 0) counts DOWN
            # ([1, 0] — the word_shingles trap), which would emit two
            # phantom '' variants per empty key and diverge from the
            # oracle's generate_series(1, 0) = []; an empty key has
            # no deletions, only itself
            F.expr(
                f"CASE WHEN length({k}) = 0 THEN array({k}) "
                f"ELSE array_prepend(transform(sequence(1, length({k})), "
                f"i -> concat(substring({k}, 1, i-1), substring({k}, i+1, length({k})))), {k}) END"
            )
        ).alias("__v"),
    )
    sized = variants.withColumn(
        "__bn", F.count("*").over(Window.partitionBy("__v"))
    ).filter(F.col("__bn") <= max_bucket)
    a = sized.select(
        F.col("__id").alias("id_a"), F.col("__key").alias("__key_a"), "__v"
    )
    b = sized.select(
        F.col("__id").alias("id_b"), F.col("__key").alias("__key_b"), "__v"
    )
    cand = (
        a.join(b, "__v")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__key_a", "__key_b")
        .distinct()
    )
    dist = F.levenshtein("__key_a", "__key_b").cast("bigint")
    return cand.select("id_a", "id_b", dist.alias("distance")).filter(
        F.col("distance") <= max_distance
    )


# --- cross-document repeated spans (exact substring dedup) -------------------


def cross_doc_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """Exact repeated-span detection across documents — the
    distributed analog of suffix-array substring dedup (Lee et al.
    2022, arXiv:2107.06499 'Deduplicating Training Data Makes
    Language Models Better'): every ``window``-token rolling span is
    hashed, and spans occurring in >= ``min_docs`` distinct documents
    surface as cross-document duplication (boilerplate, licenses,
    quoted chains). A true distributed suffix array is not
    Spark-shaped; fixed-window rolling hashes are the standard
    practical substitute (catching any shared substring of >=
    2*window-1 tokens at every alignment, and shared substrings of >=
    window tokens at aligned offsets).

    Output: (span_hash, n_docs, n_occurrences, first_doc).

    Scale shape: identical to the exact-dedup discipline — the span
    TEXT never shuffles, only its hash64 (the hash carries the
    grouping semantics, content stays at the scan); explode + partial
    agg (map-side combine) + one shuffle on the span hash. Documents
    shorter than ``window`` tokens emit nothing (the word_shingles
    short-doc guard)."""
    from hadoop_main_spark.operators.partitioning import fan_out

    spans = (
        fan_out(df.select(id_col, text_col), [id_col])
        .select(F.col(id_col), F.explode(word_shingles(text_col, window)).alias("__span"))
        .select(F.col(id_col), hash64("__span").alias("span_hash"))
    )
    return (
        spans.groupBy("span_hash")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min(id_col).alias("first_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def max_shared_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 20,
    min_span: int | None = None,
    max_bucket: int = 200,
) -> DataFrame:
    """MAXIMAL cross-document shared token spans — the distributed
    approximation of suffix-array ExactSubstr dedup (Lee et al. 2022,
    arXiv:2107.06499), which removes the LONGEST duplicated spans,
    not fixed windows (:func:`cross_doc_spans` reports the fixed
    windows themselves). Window-hash chaining: every ``window``-token
    rolling hash carries its token offset; hash hits between two
    documents that sit at a CONSTANT alignment difference
    (pos_b - pos_a) and at consecutive pos_a chain into one run, and
    a run covering pos_a = s..e is a shared span of e - s + window
    tokens. A shared substring of L >= window tokens yields exactly
    L - window + 1 consecutive window matches at one alignment, so
    the merged run recovers the FULL maximal span at token
    granularity — the suffix-array semantics, without a suffix array
    (which is not Spark-shaped; this is one equi-join plus one
    windowed gaps-and-islands pass).

    Output: (id_a, id_b, start_a, start_b, span_len) per maximal
    span, id_a < id_b, 0-based token offsets, span_len >= min_span
    (default = window).

    Scale shape: span TEXT never shuffles — (id, pos, hash64) triples
    do. One shuffle on the window hash for the banded join (hot
    boilerplate hashes capped at ``max_bucket`` occurrences, the LSH
    skew-guard contract: a license header shared by 10^6 docs must
    not become a 10^12-row join), one shuffle on (id_a, id_b, diff)
    for the chaining window; both keys are high-cardinality. The
    row_number-over-pos_a run id is the classic gaps-and-islands
    merge: (id_a, id_b, diff, pos_a) is unique by construction, so
    the run assignment is deterministic."""
    from hadoop_main_spark.operators.partitioning import fan_out

    if min_span is None:
        min_span = window
    wh = (
        fan_out(df.select(id_col, text_col), [id_col])
        .select(
            F.col(id_col),
            F.posexplode(word_shingles(text_col, window)).alias("pos", "__span"),
        )
        .select(F.col(id_col), "pos", hash64("__span").alias("wh"))
    )
    sized = wh.withColumn(
        "__bn", F.count("*").over(Window.partitionBy("wh"))
    ).filter(F.col("__bn") <= max_bucket)
    a = sized.select(F.col(id_col).alias("id_a"), F.col("pos").alias("pos_a"), "wh")
    b = sized.select(F.col(id_col).alias("id_b"), F.col("pos").alias("pos_b"), "wh")
    hits = (
        a.join(b, "wh")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", "pos_a", (F.col("pos_b") - F.col("pos_a")).alias("diff")
        )
    )
    runw = Window.partitionBy("id_a", "id_b", "diff").orderBy("pos_a")
    runs = hits.withColumn("__rid", F.col("pos_a") - F.row_number().over(runw))
    return (
        runs.groupBy("id_a", "id_b", "diff", "__rid")
        .agg(F.min("pos_a").alias("__s"), F.max("pos_a").alias("__e"))
        .select(
            "id_a",
            "id_b",
            F.col("__s").cast("bigint").alias("start_a"),
            (F.col("__s") + F.col("diff")).cast("bigint").alias("start_b"),
            (F.col("__e") - F.col("__s") + window).cast("bigint").alias("span_len"),
        )
        .filter(F.col("span_len") >= min_span)
    )


def exact_substr_removal(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 20,
    max_bucket: int = 200,
) -> DataFrame:
    """The REMOVAL step of ExactSubstr dedup (Lee et al. 2022): for
    every maximal shared span found by :func:`max_shared_spans`, the
    LATER document (greater id) loses the span — the earliest
    occurrence corpus-wide survives, the published "remove all but
    one occurrence" policy at doc-pair granularity. A document's cut
    ranges from all its pairs are UNION-merged (overlapping [s, e)
    intervals collapse via the running-max gaps-and-islands pass —
    the same discipline as the span finder, one windowed pass per
    doc), so double-counting across pairs is impossible. Output per
    document: (id, n_tokens, n_removed, n_kept) — the shrinkage
    report a curation pipeline thresholds on before rebuilding text.

    Scale shape: inherits max_shared_spans' two shuffles, then one
    (id, s, e) interval table — three ints per span — shuffles on the
    doc id for the merge window; the token counts are a second scan
    of the corpus but only (id, count) survives it. Text never
    shuffles anywhere."""
    from hadoop_main_spark.operators.transforms import tokenize

    spans = max_shared_spans(
        df, id_col, text_col, window=window, max_bucket=max_bucket
    )
    cuts = spans.select(
        F.col("id_b").alias(id_col),
        F.col("start_b").alias("__s"),
        (F.col("start_b") + F.col("span_len")).alias("__e"),
    )
    w = Window.partitionBy(id_col).orderBy("__s", "__e")
    runmax = F.max("__e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    island = F.when(runmax.isNull() | (F.col("__s") > runmax), 1).otherwise(0)
    merged = (
        cuts.withColumn(
            "__g", F.sum(island).over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy(id_col, "__g")
        .agg(F.min("__s").alias("__s"), F.max("__e").alias("__e"))
    )
    removed = merged.groupBy(id_col).agg(
        F.sum(F.col("__e") - F.col("__s")).alias("n_removed")
    )
    toks = df.select(
        F.col(id_col), F.size(tokenize(text_col)).cast("bigint").alias("n_tokens")
    )
    return toks.join(removed, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce(F.col("n_removed"), F.lit(0)).cast("bigint").alias("n_removed"),
        (F.col("n_tokens") - F.coalesce(F.col("n_removed"), F.lit(0)))
        .cast("bigint")
        .alias("n_kept"),
    )


def lsh_pairs_across(
    sig_new: DataFrame,
    sig_corpus: DataFrame,
    id_col: str,
    min_est_jaccard: float = 0.5,
    max_band_bucket: int = 1000,
) -> DataFrame:
    """INCREMENTAL dedup: near-dup pairs BETWEEN an arriving batch's
    signature table and the persisted corpus signatures — the
    production ingest shape. The corpus side is never re-shingled
    (its signatures were materialized at ingest,
    sources/layouts.materialize_minhash_signatures); per batch the
    work is the batch's own signature pass plus one banded equi-join
    whose corpus side is pruned to colliding band buckets. Output:
    (id_new, id_corpus, est_jaccard) — every batch id keeps ALL its
    corpus matches (no ``id_a < id_b`` ordering: the sides are
    distinct tables; the caller decides drop-new vs supersede-old).

    Skew guard: bucket sizes are counted on EACH side (a hot band
    signature must not quadratically explode either against the
    other), the same ``max_band_bucket`` contract as the self-join
    form. Batch-internal duplicates are a separate
    :func:`lsh_pairs_from_signatures` pass over the batch alone."""
    mh_cols = [f"mh{j}" for j in range(NUM_HASHES)]

    def banded(sig: DataFrame) -> DataFrame:
        bands = sig.select(
            F.col(id_col), *mh_cols, F.explode(F.array(*_band_structs())).alias("__bb")
        ).select(id_col, *mh_cols, "__bb.band", "__bb.band_sig")
        return bands.withColumn(
            "bucket_n", F.count("*").over(Window.partitionBy("band", "band_sig"))
        ).filter(F.col("bucket_n") <= max_band_bucket)

    a, b = banded(sig_new).alias("__new"), banded(sig_corpus).alias("__cor")
    agree = sum(
        F.when(F.col(f"__new.mh{j}") == F.col(f"__cor.mh{j}"), 1).otherwise(0)
        for j in range(NUM_HASHES)
    )
    return (
        a.join(b, ["band", "band_sig"])
        .select(
            F.col(f"__new.{id_col}").alias("id_new"),
            F.col(f"__cor.{id_col}").alias("id_corpus"),
            (agree.cast("double") / F.lit(float(NUM_HASHES))).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .distinct()
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    t_num: int = 3,
    t_den: int = 5,
    grams: DataFrame | None = None,
) -> DataFrame:
    """EXACT-threshold Jaccard similarity join via prefix filtering —
    the AllPairs/PPJoin family (Bayardo et al., WWW'07 "Scaling Up
    All Pairs Similarity Search"; Xiao et al., WWW'08 PPJoin). Unlike
    the MinHash-LSH family this has NO false negatives: the output is
    exactly every pair with Jaccard(distinct n-gram sets) >= t, which
    is why the driver oracle can be a brute-force all-pairs join.

    The threshold rides as a RATIONAL t = t_num/t_den so every prune
    is integer arithmetic (engine-portable, the token_rarity
    discipline): prefix length p = s - ceil(t*s) + 1, the size filter
    t*max(sa,sb) <= min(sa,sb), and the final verify
    (t_den + t_num)*inter >= t_num*(sa + sb) are all exact BIGINT
    comparisons; the reported jaccard double is one division of
    exact integers.

    Scale shape: tokens are ordered by ascending document frequency
    (rarest first, token tiebreak) via ONE vocabulary-sized unhinted
    join; the per-doc prefix is a doc-bounded window (never global);
    candidate generation is an equi-join on PREFIX tokens only —
    rare by construction, so buckets stay small without an LSH-style
    cap (a cap would break the exactness contract). Verify joins
    candidates back to the distinct-gram explosion, intersection
    counts shuffle on the pair key.
    """
    if not (0 < t_num <= t_den):
        raise ValueError("threshold must satisfy 0 < t_num/t_den <= 1")
    from hadoop_main_spark.operators.partitioning import fan_out

    # the gram table feeds FOUR branches (frequency ranking, the
    # prefix projection, and both sides of the verify join) whose
    # differing pushdowns defeat exchange reuse — a lazy checkpoint
    # runs the tokenize+explode once (owned by the query run).
    # Materializing a corpus-sized frame is acceptable HERE because
    # the exact join is the moderate-scale / verification tool by
    # contract (LSH is the 100 TB candidate path). A caller that
    # already built the distinct-gram table (see :func:`distinct_grams`;
    # e.g. lsh_quality_eval shares it with the MinHash side) passes it
    # via ``grams`` — the caller then owns the checkpoint lifecycle;
    # NULL gram rows (gram-less docs) are filtered here, reproducing
    # the non-outer explode this path builds for itself.
    if grams is None:
        grams = run_checkpoint(
            fan_out(df.select(id_col, text_col), [id_col])
            .select(
                F.col(id_col).alias("__id"),
                F.explode(F.array_distinct(word_shingles(text_col, n))).alias("g"),
            )
        )
    else:
        grams = grams.filter(F.col("g").isNotNull()).select(
            F.col(id_col).alias("__id"), "g"
        )
    freq = grams.groupBy("g").agg(F.count("*").alias("__df"))
    w_doc = Window.partitionBy("__id")
    w_ord = w_doc.orderBy(F.asc("__df"), F.asc("g"))
    ranked = grams.join(freq, "g").select(
        "__id",
        "g",
        F.row_number().over(w_ord).alias("__pos"),
        F.count("*").over(w_doc).alias("__sz"),
    )
    # p = sz - ceil(t*sz) + 1; ceil(a/b) for positive ints = (a+b-1) div b
    # (integer div, not float-divide-then-cast — exact at any size)
    p = (
        F.col("__sz")
        - F.expr(f"(({t_num} * __sz + {t_den - 1}) div {t_den})")
        + F.lit(1)
    )
    prefix = ranked.filter(F.col("__pos") <= p).select("__id", "g", "__sz", "__pos")
    # PPJoin positional filter: let w* be the FIRST (minimum global
    # order) token the two prefixes share, at 1-based positions
    # (i*, j*). No common token can precede w* — anything earlier in
    # both orders would itself be a shared prefix token with smaller
    # order — so overlap <= 1 + min(sa - i*, sb - j*). The min
    # aggregates below find (i*, j*) exactly because the global order
    # is consistent across documents: the min-order shared token has
    # the min position on BOTH sides. Required overlap for J >= t is
    # alpha = ceil(t_num*(sa+sb)/(t_num+t_den)). This replaces the
    # bare .distinct() with a same-shuffle groupBy — on a 50k-doc
    # 10x-copies smoke it prunes the candidate explosion the verify
    # join would otherwise pay for.
    alpha = F.expr(
        f"(({t_num} * (sz_a + sz_b) + {t_num + t_den - 1}) div {t_num + t_den})"
    )
    cand = (
        prefix.select(
            F.col("__id").alias("id_a"),
            "g",
            F.col("__sz").alias("sz_a"),
            F.col("__pos").alias("__pa"),
        )
        .join(
            prefix.select(
                F.col("__id").alias("id_b"),
                "g",
                F.col("__sz").alias("sz_b"),
                F.col("__pos").alias("__pb"),
            ),
            "g",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        # size filter: J >= t forces t*max <= min (cross-multiplied)
        .filter(
            F.lit(t_num) * F.greatest("sz_a", "sz_b")
            <= F.lit(t_den) * F.least("sz_a", "sz_b")
        )
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.min("__pa").alias("__ia"), F.min("__pb").alias("__jb"))
        .filter(
            F.lit(1)
            + F.least(
                F.col("sz_a") - F.col("__ia"), F.col("sz_b") - F.col("__jb")
            )
            >= alpha
        )
        .select("id_a", "id_b", "sz_a", "sz_b")
    )
    inter = (
        cand.join(grams.select(F.col("__id").alias("id_a"), "g"), "id_a")
        .join(grams.select(F.col("__id").alias("id_b"), F.col("g").alias("g2")), "id_b")
        .filter(F.col("g") == F.col("g2"))
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter
        # J >= t  <=>  (t_den + t_num) * inter >= t_num * (sa + sb)
        .filter(
            F.lit(t_den + t_num) * F.col("inter")
            >= F.lit(t_num) * (F.col("sz_a") + F.col("sz_b"))
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
    )


def line_dedup_rebuild(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_len: int = 8,
) -> DataFrame:
    """C4-style exact line-level dedup with document rebuild.

    Splits each document into non-overlapping ``line_len``-token
    pseudo-lines, keeps only the globally FIRST occurrence of each
    distinct line (lexicographic min of (id, line_idx)), and rebuilds
    every document from its kept lines in order. The curation REWRITE
    counterpart to ``cross_doc_spans`` (detect-only): this is the step
    that strips cross-site boilerplate from training text (C4's
    three-sentence dedup, Raffel et al., arXiv:1910.10683 §2.2 —
    re-expressed over token segments because the corpus has no
    sentence boundaries).

    Scale shape: the first-occurrence decision shuffles only
    ``(md5, id, line_idx)`` — never line text — and the rebuild
    re-slices token arrays from the original documents row, so text
    crosses exactly ONE shuffle (the id-keyed join with the kept-index
    arrays). Per-digest window groups are bounded by the duplicate
    multiplicity of a single line. Returns one row per input doc:
    ``(id, n_lines, kept_lines, cleaned_text)``.
    """
    from hadoop_main_spark.operators.partitioning import fan_out
    from hadoop_main_spark.operators.transforms import tokenize

    L = int(line_len)
    if L < 1:
        raise ValueError(f"line_len must be >= 1, got {line_len}")
    toks = df.select(F.col(id_col).alias("__id"), tokenize(text_col).alias("tk"))
    nz = toks.filter(F.size("tk") > 0)
    seg = fan_out(nz, ["__id"]).select(
        "__id",
        F.explode(
            F.sequence(F.lit(0), ((F.size("tk") + (L - 1)) / L).cast("int") - 1)
        ).alias("line_idx"),
        "tk",
    )
    narrow = seg.select(
        "__id",
        "line_idx",
        F.md5(F.expr(f"concat_ws(' ', slice(tk, line_idx * {L} + 1, {L}))")).alias(
            "dg"
        ),
    )
    w = Window.partitionBy("dg").orderBy("__id", "line_idx")
    flags = (
        narrow.withColumn("keep", F.row_number().over(w) == 1)
        .groupBy("__id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("keep").cast("long")).alias("kept_lines"),
            F.sort_array(
                F.collect_list(F.when(F.col("keep"), F.col("line_idx")))
            ).alias("kept_idx"),
        )
    )
    return toks.join(flags, "__id", "left").select(
        F.col("__id").alias(id_col),
        F.coalesce("n_lines", F.lit(0)).cast("bigint").alias("n_lines"),
        F.coalesce("kept_lines", F.lit(0)).cast("bigint").alias("kept_lines"),
        F.concat_ws(
            " ",
            F.expr(
                f"transform(coalesce(kept_idx, array()), "
                f"i -> concat_ws(' ', slice(tk, i * {L} + 1, {L})))"
            ),
        ).alias("cleaned_text"),
    )


def edit_distance_join(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_len: int = 40,
    max_dist: int = 2,
    q: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """EXACT edit-distance similarity self-join (Gravano et al.
    VLDB'01 — the q-gram candidate filter; the string-metric sibling
    of :func:`prefix_jaccard_pairs`): pairs of documents whose
    ``prefix_len``-char text prefixes are within Levenshtein distance
    ``max_dist``. Candidate generation never goes all-pairs: ``d``
    edits destroy at most ``q*d`` of a string's q-grams, so ANY fixed
    ``q*d + 1``-subset of the lower-id side's grams contains at least
    one gram that survives into the other string — at a position
    offset of at most d (edits shift positions by at most 1 each).
    The subset is chosen by GLOBAL RARITY (ascending document
    frequency, ties by gram text then position — the
    frequency-ordered prefix filter of Chaudhuri et al. ICDE'06,
    composed with Gravano's positional window): on templated corpora
    the first-position grams are exactly the shared boilerplate, and
    a positional prefix pairs every template instance against every
    other (r11 fixture profile: 2.8M candidates for 256 true pairs);
    the rarest grams are the document-SPECIFIC ones, so candidate
    buckets stay near the true-pair set. One gram-keyed equi-join of
    ~q*d+1 selected rows per doc against the full gram table, then
    the exact ``levenshtein`` verify (integer, engine-identical on
    ASCII text; DuckDB's levenshtein is byte-based, so the oracle
    contract is ASCII corpora — the Spark operator itself is
    char-correct generally).

    Skew guard (the LSH band-bucket discipline): a gram occurring in
    more than ``max_bucket`` docs is dropped from BOTH sides before
    selection — a gram that frequent is non-selective and would
    quadratically explode one reducer; like semantic_dedup's
    max_cluster this trades recall ONLY on docs whose every gram is
    hot (the pure-template case) and is replayed identically by the
    oracle.  The document-frequency table is broadcast: its size is
    bounded by the q-gram DOMAIN (|charset|^q), not the corpus.

    Short-string edge (completeness, pinned by the brute-force
    pytest): the gram-survival theorem needs at least q*d + 1 grams —
    d edits can destroy EVERY gram of a shorter string — so strings
    under q*(d+1) chars can't rely on the filter, and their only
    possible partners (length within d) are at most q*(d+1)+d-1
    chars; all strings up to that bound pair DIRECTLY in a separate
    short bucket (tiny by construction: sub-9-char prefixes).

    Output: (id_a, id_b, edit_dist) with id_a < id_b, exact integer
    distances.
    """
    # checkpoint the tiny (id, prefix) projection: it feeds gram
    # generation AND both verify-side joins (3 scans); localCheckpoint,
    # not persist, so the cache manager can't plan-match it into other
    # queries' substring scans — text itself never materializes
    s = docs.select(
        F.col(id_col).alias("__id"),
        F.substring(F.col(text_col), 1, prefix_len).alias("__s"),
    ).filter(F.length("__s") >= q).transform(run_checkpoint, eager=True)
    plen = q * max_dist + 1
    grams = s.select(
        "__id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, length(__s) - {q} + 1), "
                f"p -> struct(p AS pos, substring(__s, p, {q}) AS g))"
            )
        ).alias("__x", "__kv"),
    ).select("__id", F.col("__kv.pos").alias("pos"), F.col("__kv.g").alias("g"))
    # global document frequency per gram: drives BOTH the hot-gram
    # skew guard and the rarity ordering of the prefix selection.
    # Domain-bounded (at most |charset|^q distinct grams), so the
    # broadcast survives any corpus scale — and the partial aggregate
    # under it satisfies the plan lint's reducer rule.
    from hadoop_main_spark.operators.joins import broadcast

    df_tab = broadcast(
        grams.groupBy("g")
        .agg(F.countDistinct("__id").alias("__df"))
        .filter(F.col("__df") <= max_bucket)
    )
    kept = grams.join(df_tab, "g")
    # rarity-ordered prefix: each doc's q*d+1 rarest surviving grams
    # (ascending df, ties by gram text then position — deterministic
    # and engine-replayable); the id-keyed window rides the gram
    # table's existing distribution
    sel = (
        kept.withColumn(
            "__r",
            F.row_number().over(
                Window.partitionBy("__id").orderBy("__df", "g", "pos")
            ),
        )
        .filter(F.col("__r") <= plen)
        .select("__id", "pos", "g")
    )
    cand = (
        sel.alias("a")
        .join(kept.alias("b"), "g")
        .filter(
            (F.col("a.__id") < F.col("b.__id"))
            & (F.abs(F.col("a.pos") - F.col("b.pos")) <= max_dist)
        )
        .select(
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")
        )
    )
    # short-string bucket: strings with < q*(d+1) chars may share NO
    # gram with a true partner; they and their only possible partners
    # (length within d, <= short_max chars) pair via a LENGTH-BAND
    # equi-join (a-side keyed on its own length, b-side exploded to
    # length-d..length+d — a true pair matches on exactly one band),
    # capped at max_bucket strings per band like the hot-gram guard
    short_max = q * (max_dist + 1) + max_dist - 1
    sh = s.filter(F.length("__s") <= short_max).select(
        "__id", "__s", F.length("__s").alias("__len")
    )
    bw = Window.partitionBy("__len").orderBy("__id")
    sh = sh.withColumn("__r", F.row_number().over(bw)).filter(
        F.col("__r") <= max_bucket
    )
    sha = sh.select(F.col("__id").alias("id_a"), F.col("__len").alias("band"))
    shb = sh.select(
        F.col("__id").alias("id_b"),
        F.explode(
            F.sequence(
                F.col("__len") - max_dist, F.col("__len") + max_dist
            )
        ).alias("band"),
    )
    cand_short = (
        sha.join(shb, "band")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    cand = cand.unionByName(cand_short).distinct()
    sa = s.select(F.col("__id").alias("id_a"), F.col("__s").alias("__sa"))
    sb = s.select(F.col("__id").alias("id_b"), F.col("__s").alias("__sb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("__sa", "__sb").cast("bigint").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= max_dist)
    )


def hamming_band_pairs(
    hashes: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 6,
    bands: int = 8,
    bits: int = 64,
    max_bucket: int = 1000,
) -> DataFrame:
    """Generic banded-LSH Hamming pair finder over fixed-width integer
    hashes (generalizes :func:`simhash_pairs`' 32-bit/4-band form —
    also serves 64-bit perceptual hashes like multimodal.image_dhash):
    a pair within Hamming distance < ``bands`` of each other MUST
    agree on at least one of the ``bands`` equal-width bit bands
    (pigeonhole), so candidates come from one band-keyed equi-join —
    never all-pairs — and verify by exact bit_count XOR. Requires
    ``max_hamming < bands`` for the no-false-negatives guarantee
    (asserted). Band buckets larger than ``max_bucket`` are dropped
    (the LSH skew discipline: a bucket that hot means the hash has
    collapsed on that region — for MASS-duplicate corpora emit
    canonical groups instead of pairs, e.g. groupBy(hash) min-id, the
    image_dhash_dedup shape).

    Output: (id_a, id_b, hamming) with id_a < id_b, hamming <=
    max_hamming, exact integers."""
    if bits % bands != 0:
        raise ValueError(f"bits {bits} not divisible by bands {bands}")
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming {max_hamming} >= bands {bands}: the pigeonhole "
            "guarantee needs more bands than allowed differing bits"
        )
    width = bits // bands
    mask = (1 << width) - 1
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col(hash_col), b * width)
            .bitwiseAND(F.lit(mask))
            .alias("band_val"),
        )
        for b in range(bands)
    ]
    all_bands = hashes.select(
        F.col(id_col), F.col(hash_col).alias("__h"),
        F.explode(F.array(*band_structs)).alias("__bb"),
    ).select(id_col, "__h", "__bb.band", "__bb.band_val")
    bucket_n = F.count(F.lit(1)).over(
        Window.partitionBy("band", "band_val")
    )
    all_bands = all_bands.withColumn("__bn", bucket_n).filter(
        F.col("__bn") <= max_bucket
    ).drop("__bn")
    a, b = all_bands.alias("__hb_a"), all_bands.alias("__hb_b")
    cand = (
        a.join(b, ["band", "band_val"])
        .filter(F.col(f"__hb_a.{id_col}") < F.col(f"__hb_b.{id_col}"))
        .select(
            F.col(f"__hb_a.{id_col}").alias("id_a"),
            F.col(f"__hb_b.{id_col}").alias("id_b"),
            F.col("__hb_a.__h").alias("__ha"),
            F.col("__hb_b.__h").alias("__hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
    return cand.select(
        "id_a", "id_b", hamming.cast("bigint").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def connected_components_incremental(
    prev_labels: DataFrame,
    new_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """INCREMENTAL connected components — the cluster-maintenance pass
    a recrawl/ingest wave triggers (new near-dup pairs arrive against
    an ALREADY-RESOLVED corpus; re-clustering 100 TB from scratch per
    wave is the thing to avoid): the previous labeling collapses each
    existing component into a STAR (one (id, component) edge per
    member — diameter 1 by construction), the new pairs graft onto the
    stars, and min-label propagation re-runs over star + new edges
    only. Convergence is O(log d_new) pointer-jump rounds where d_new
    is the diameter of the NEW-edge graph between component hubs —
    independent of how deep the original clusters were, which is the
    entire payoff: a wave of w pairs costs rounds over ~(|prev ids| +
    w) star edges, never a rebuild of the pair set.

    Output: (id, component) for every previously-labeled id and every
    id in ``new_pairs`` — component = min reachable id, IDENTICAL to
    a from-scratch connected_components over (all old pairs + new
    pairs) because a star preserves exactly its component's
    connectivity (pinned by pytest and by the registry oracle, which
    replays the one-shot clustering)."""
    star = prev_labels.select(
        F.col("id").alias(id_a), F.col("component").alias(id_b)
    ).filter(F.col(id_a) != F.col(id_b))
    # singleton components (id == component) carry no star edge; keep
    # them reachable by unioning their self row back after resolution
    merged = connected_components(
        star.unionByName(new_pairs.select(id_a, id_b)), id_a, id_b, max_iter
    )
    prev_ids = prev_labels.select("id")
    all_ids = prev_ids.unionByName(
        new_pairs.select(F.col(id_a).alias("id"))
    ).unionByName(new_pairs.select(F.col(id_b).alias("id"))).distinct()
    return all_ids.join(merged, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


# --- content-defined chunking (CDC) dedup -----------------------------------

CDC_WINDOW = 16          # rolling-hash window (chars/codepoints)
CDC_BASE = 257           # polynomial base
CDC_MOD = 2_147_483_647  # 2^31 - 1 (prime): term <= 2^21 * 2^31 = 2^52,
#                          16-term sum <= 2^56 — int64-safe without
#                          per-term reduction
CDC_DIVISOR = 64         # cut when H % divisor == 0 (~64-char chunks)


def cdc_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = CDC_WINDOW,
    divisor: int = CDC_DIVISOR,
) -> DataFrame:
    """CONTENT-DEFINED CHUNKING — the storage-level dedup mechanism
    (LBFS, Muthitacharoen et al. SOSP'01; FastCDC refines it): cut
    each document at positions the CONTENT chooses (a polynomial
    rolling hash of the trailing ``window`` codepoints hits
    0 mod ``divisor``), so a shared region chunks identically in
    every document REGARDLESS OF ITS BYTE OFFSET — the shift
    resistance fixed-size blocks lack, and the complement of the
    similarity-dedup family: exact_substr finds shared SPANS by
    content, CDC makes shared content STORABLE once.

    Pure content-defined form: every hash hit is a boundary (LBFS's
    min/max chunk clamps introduce a sequential dependence between
    cuts that would make the boundary set non-local; without them a
    boundary depends ONLY on its trailing window, which is the
    property the oracle replays position-independently).

    Hash: H(i) = sum_j cp[i+j] * B^(w-1-j) mod M over Unicode
    CODEPOINTS (engine-portable: numpy uint32 view of UTF-32 here,
    ``ord(substr(...))`` in the DuckDB twin), a cut AFTER the
    window's last char; end-of-document always closes the final
    chunk. Arrow-batched kernel — one vectorized pass per document,
    the text never shuffles; only (id, chunk index, md5, length)
    rows leave the executor.

    Returns (id_col, chunk_idx, chunk_md5, chunk_len).
    """
    import hashlib
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    pows = np.array(
        [pow(CDC_BASE, window - 1 - j, CDC_MOD) for j in range(window)],
        dtype=np.int64,
    )

    schema = f"{id_col} long, chunk_idx long, chunk_md5 string, chunk_len long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids, idxs, digests, lens = [], [], [], []
            for did, text in zip(b[id_col], b[text_col]):
                t = text if text is not None else ""
                n = len(t)
                if n == 0:
                    continue
                cuts = [n]
                if n >= window:
                    cp = np.frombuffer(
                        t.encode("utf-32-le"), dtype=np.uint32
                    ).astype(np.int64)
                    # H for every window start via the weighted sliding
                    # sum: one correlate pass, all int64
                    h = np.zeros(n - window + 1, dtype=np.int64)
                    for j in range(window):
                        h += cp[j : j + n - window + 1] * pows[j]
                    h %= CDC_MOD
                    # cut AFTER the window's last char: start i (0-based)
                    # cuts at position i + window (1-based end-exclusive)
                    hits = np.nonzero(h % divisor == 0)[0] + window
                    cuts = sorted(set(hits.tolist()) | {n})
                prev = 0
                for ci, cut in enumerate(cuts):
                    chunk = t[prev:cut]
                    ids.append(int(did))
                    idxs.append(ci)
                    digests.append(
                        hashlib.md5(chunk.encode("utf-8")).hexdigest()
                    )
                    lens.append(len(chunk))
                    prev = cut
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "chunk_idx": pd.Series(idxs, dtype="int64"),
                    "chunk_md5": pd.Series(digests, dtype="object"),
                    "chunk_len": pd.Series(lens, dtype="int64"),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(run, schema)


def snm_candidate_pairs(
    docs: DataFrame,
    window: int = 3,
    key_len: int = 12,
    probe_len: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sorted-neighborhood candidate pairing (Hernandez & Stolfo
    SIGMOD'95 — the classic record-linkage blocking method, the
    deterministic complement to the LSH families above).

    Every document derives a BLOCKING KEY (the first ``key_len``
    chars of the lowercased alphanumeric squash of its text), the
    corpus is globally ordered by (key, id), and each document pairs
    with its next ``window`` neighbors in that order — exactly
    ``window`` candidate rows per document, O(w*n) total, no
    quadratic block risk (a hot blocking key degrades the PAIR
    QUALITY, never the row count — the property that made SNM the
    industry default before LSH).

    The global order comes from :func:`~hadoop_main_spark.operators.
    sorting.global_rank` (TotalOrderPartitioner machinery: sampled
    split points, bucket-local row_number — never a single-task
    window), and neighbors are found by an exact-rank EQUI-join
    (rank+offset), not a range join. Pairs carry the bounded-prefix
    Levenshtein distance over the first ``probe_len`` normalized
    chars — O(probe_len^2) per pair, constant per row.

    Returns (id_a, id_b, dist) with id_a's rank strictly below
    id_b's in blocking order.
    """
    from hadoop_main_spark.operators.sorting import global_rank

    norm = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
    keyed = docs.select(
        F.col(id_col),
        F.substring(norm, 1, key_len).alias("__k"),
        F.substring(norm, 1, probe_len).alias("__p"),
    )
    ranked = global_rank(keyed, "__k", id_col, rank_col="__r")
    left = ranked.select(
        F.col(id_col).alias("id_a"),
        F.col("__p").alias("__pa"),
        F.explode(
            F.array(*(F.lit(i) for i in range(1, window + 1)))
        ).alias("__off"),
        F.col("__r"),
    ).select(
        "id_a", "__pa", (F.col("__r") + F.col("__off")).alias("__rb")
    )
    right = ranked.select(
        F.col(id_col).alias("id_b"),
        F.col("__p").alias("__pb"),
        F.col("__r").alias("__rb"),
    )
    return left.join(right, "__rb").select(
        "id_a", "id_b", F.levenshtein("__pa", "__pb").alias("dist")
    )
