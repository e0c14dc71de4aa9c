"""Property-based tests (hypothesis) for the semantics SURVEY.md §7
flags as easy to get backwards: override-join tie-breaking, KV-split
edges, `sort -k` spec compilation, and the as-of inclusive bound.

A Python reference model plays the role of the reference engine's
semantics; Spark must agree on every generated enumeration.
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hadoop_main_spark.operators import joins as J
from hadoop_main_spark.operators import sorting as S
from hadoop_main_spark.operators import transforms as T

_slow = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

keys = st.integers(min_value=0, max_value=5)
source_maps = st.lists(
    st.dictionaries(keys, st.integers(min_value=-99, max_value=99), max_size=5),
    min_size=2,
    max_size=4,
)


@_slow
@given(source_maps)
def test_override_join_rightmost_wins_model(spark, sources):
    dfs = []
    for i, m in enumerate(sources):
        rows = [(k, v) for k, v in m.items()] or [(None, None)]
        dfs.append(
            spark.createDataFrame(rows, "k int, v int").filter("k is not null")
        )
    got = {
        r.k: r.v for r in J.composite_join(dfs, "k", op="override").collect()
    }
    # model: rightmost source containing the key wins
    want = {}
    for m in sources:
        for k, v in m.items():
            want[k] = v
    assert got == want


@_slow
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000), st.integers(0, 1000)),
        min_size=1,
        max_size=30,
        unique_by=lambda t: (t[0], t[1], t[2]),
    )
)
def test_asof_join_model(spark, rows):
    """asof_join(left, right) == per-row argmax over right_ts <= left_ts."""
    left = [(k, t, f"L{k}-{t}") for (k, t, _) in rows]
    right = [(k, t2, f"R{k}-{t2}") for (k, _, t2) in rows]
    # dedupe right per (k, ts) as the operator contract requires
    rmap = {}
    for k, t2, v in right:
        rmap[(k, t2)] = max(v, rmap.get((k, t2), v))
    right = [(k, t2, v) for (k, t2), v in rmap.items()]
    ldf = spark.createDataFrame(left, "k int, ts long, lid string")
    rdf = spark.createDataFrame(right, "k int, ts long, rid string")
    out = {
        (r.k, r.ts, r.lid): r.rid
        for r in J.asof_join(ldf, rdf, on="k", value_cols=["rid"]).collect()
    }
    for k, t, lid in left:
        cands = [(t2, v) for (kk, t2, v) in right if kk == k and t2 <= t]
        want = max(cands)[1] if cands else None
        assert out[(k, t, lid)] == want


@_slow
@given(st.lists(st.text(alphabet="ab\tc", max_size=8), min_size=1, max_size=10))
def test_kv_split_first_separator_model(spark, lines):
    df = spark.createDataFrame([(ln,) for ln in lines], "line string")
    got = [(r.key, r.value) for r in T.kv_split(df, "line").collect()]
    want = []
    for ln in lines:
        if "\t" in ln:
            k, _, v = ln.partition("\t")
            want.append((k, v))
        else:
            want.append((ln, ""))
    assert sorted(got) == sorted(want)


@_slow
@given(
    st.lists(
        st.tuples(st.integers(-50, 50), st.integers(0, 9)),
        min_size=1,
        max_size=25,
        unique=True,
    )
)
def test_sort_spec_numeric_reverse_model(spark, pairs):
    lines = [f"{a}\t{b}" for a, b in pairs]
    df = spark.createDataFrame([(ln,) for ln in lines], "line string")
    out = [r.line for r in S.sort_by_spec(df, "line", "-k2,2nr -k1,1n").collect()]
    want = [f"{a}\t{b}" for a, b in sorted(pairs, key=lambda p: (-p[1], p[0]))]
    assert out == want


@_slow
@given(st.lists(st.integers(-1000, 1000), min_size=0, max_size=60, unique=True))
def test_global_rank_model(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals] or [(None,)], "v int").filter(
        "v is not null"
    )
    got = {r.v: r.rank for r in S.global_rank(df, "v", rank_col="rank").collect()}
    want = {v: i + 1 for i, v in enumerate(sorted(vals))}
    assert got == want


sets_and_probes = st.tuples(
    st.sets(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=40),
    st.sets(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=40),
)


@_slow
@given(sets_and_probes)
def test_bloom_never_false_negative_model(spark, data):
    from pyspark.sql import functions as F

    from hadoop_main_spark.functions.sketches import bloom_bits, bloom_probe

    members, probes = data
    mdf = spark.createDataFrame([(int(x),) for x in members], "k long")
    pdf = spark.createDataFrame([(int(x),) for x in probes], "k long")
    verdict = {
        r.k: r.bloom_maybe
        for r in bloom_probe(bloom_bits(mdf, "k"), pdf, "k").collect()
    }
    for p in probes:
        if p in members:
            assert verdict[p], f"false negative for {p}"


split_values = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=500),
        st.integers(min_value=0, max_value=3),
    ),
    min_size=1,
    max_size=60,
)


@_slow
@given(split_values)
def test_hll_merge_invariant_under_any_split_model(spark, rows):
    """Registers merged from ANY partition of the data equal the
    whole-data registers — the property that lets shards/streams
    combine losslessly."""
    from pyspark.sql import functions as F

    from hadoop_main_spark.functions.sketches import hll_merge, hll_registers

    df = spark.createDataFrame(
        [(str(v), g) for v, g in rows], "v string, part int"
    )
    whole = {
        (r.bucket): r.reg for r in hll_registers(df, "v").collect()
    }
    merged = {
        (r.bucket): r.reg
        for r in hll_merge(hll_registers(df, "v", ["part"]).drop("part")).collect()
    }
    assert whole == merged


_specials = [float("nan"), float("inf"), float("-inf"), 0.0, -0.0, None]
_doubles = st.one_of(
    st.sampled_from(_specials),
    st.floats(min_value=-1e12, max_value=1e12, allow_nan=False),
)


@_slow
@given(st.lists(_doubles, min_size=1, max_size=25))
def test_global_rank_double_specials_model(spark, vals):
    """Round-4 encoder guard: global_rank over doubles mixing NaN /
    ±inf / -0.0 / NULL must equal Spark's own Window.orderBy row
    numbering in BOTH directions (NaN above all reals, NULLs first on
    asc / last on desc)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hadoop_main_spark.operators import sorting as S

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id int, v double"
    )
    for asc in (True, False):
        order = F.col("v").asc() if asc else F.col("v").desc()
        want = {
            r.id: r.r
            for r in df.withColumn(
                "r", F.row_number().over(Window.orderBy(order, F.asc("id")))
            ).collect()
        }
        got = {
            r.id: r.r
            for r in S.global_rank(
                df, ("v", asc), "id", rank_col="r", num_partitions=4
            ).collect()
        }
        assert got == want, (asc, vals, got, want)


#: adversarial strings for the 16-byte-truncating encoder: long shared
#: prefixes at and around the cut, multi-byte UTF-8 straddling it,
#: empty strings, and near-tie suffixes
_advers_str = st.one_of(
    st.builds(
        lambda pre, suf: pre + suf,
        st.sampled_from(["", "z" * 15, "z" * 16, "z" * 17, "é" * 8, "aa"]),
        st.text("abzé", min_size=0, max_size=4),
    ),
    st.text("az", min_size=0, max_size=20),
)


@_slow
@given(st.lists(_advers_str, min_size=1, max_size=30, unique=True))
def test_enc_block_truncation_monotone_and_rank_exact(spark, strs):
    """VERDICT-r3 optional: the 16-byte string encoding may COARSEN
    ties but must stay MONOTONE — sorting rows by the true Spark
    order must yield non-decreasing bucket ids for any bound set —
    and global_rank built on it must return the exact total order
    even when keys collide beyond the truncation width."""
    from pyspark.sql import functions as F

    rows = [(s,) for s in strs]
    df = spark.createDataFrame(rows, "k string")
    bounds = sorted((s,) for s in strs[::3])  # every 3rd value as a bound
    for asc in (True, False):
        specs = S._sort_specs(df, [("k", asc)])
        bnds = sorted(bounds, reverse=not asc)
        got = df.withColumn("p", S._bucket_id(specs, bnds, ["string"])).collect()
        by_order = sorted(got, key=lambda r: r.k, reverse=not asc)
        pids = [r.p for r in by_order]
        assert pids == sorted(pids), (asc, [(r.k, r.p) for r in by_order])
        ranked = S.global_rank(df, ("k", asc), rank_col="r", num_partitions=4).collect()
        want = sorted(strs, reverse=not asc)
        assert [r.k for r in sorted(ranked, key=lambda r: r.r)] == want, asc


@_slow
@given(
    st.lists(
        st.tuples(st.integers(-50, 50), st.text("abc", min_size=0, max_size=2)),
        min_size=1,
        max_size=50,
    ),
    st.lists(
        st.tuples(st.integers(-50, 50), st.text("abc", min_size=0, max_size=2)),
        min_size=1,
        max_size=8,
        unique=True,
    ),
)
def test_bucket_id_binary_search_model(spark, rows, raw_bounds):
    """The log-P binary-search bucket id must equal the O(P) model
    'number of bounds the row sorts at-or-after' (the round-2 CASE
    chain semantics) for mixed asc/desc multi-column keys."""
    from pyspark.sql import functions as F

    from hadoop_main_spark.operators import sorting as S

    df = spark.createDataFrame(rows, "a int, b string")
    specs = S._sort_specs(df, [F.desc("a"), ("b", True)])
    # sort bounds the way _split_points would: lexicographic, a desc, b asc
    bounds = sorted(raw_bounds, key=lambda t: (-t[0], t[1]))

    def at_or_after(row, b):
        return (-row[0], row[1]) >= (-b[0], b[1])

    for pid_col in (
        S._bucket_id_fold(specs, bounds),  # JVM binary-search fold
        S._bucket_id(specs, bounds, ["int", "string"]),  # searchsorted UDF
    ):
        got = df.withColumn("pid", pid_col).select("a", "b", "pid").collect()
        for r in got:
            want = sum(1 for b in bounds if at_or_after((r.a, r.b), b))
            assert r.pid == want, (r, bounds)


_words = st.lists(
    st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]), min_size=0, max_size=12
)


@_slow
@given(st.lists(_words, min_size=2, max_size=6))
def test_containment_dominates_jaccard_model(spark, docs):
    """For every emitted candidate pair: containment >= jaccard
    (min-denominator dominance), both in (0, 1], and identical
    shingle sets score containment exactly 1.0."""
    from hadoop_main_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    cont = {
        (r.id_a, r.id_b): r.containment
        for r in ngram_containment_pairs(df, "doc_id", "text", min_containment=0.01).collect()
    }
    jac = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(df, "doc_id", "text", min_jaccard=0.01).collect()
    }
    for k, c in cont.items():
        assert 0.0 < c <= 1.0
        if k in jac:
            assert c >= jac[k], (k, c, jac[k])
    # identical non-trivial docs -> containment 1.0
    sets = {i: set(zip(ws, ws[1:], ws[2:])) for i, ws in enumerate(docs)}
    for (a, b), c in cont.items():
        if sets[a] and sets[a] == sets[b]:
            assert c == 1.0


_keystr = st.text(alphabet="abc", min_size=0, max_size=5)


@_slow
@given(st.lists(_keystr, min_size=2, max_size=8, unique=True))
def test_fuzzy_pairs_exact_recall_model(spark, keys):
    """fuzzy_key_pairs == brute-force Levenshtein<=1 on arbitrary
    short keys (including '' and 1-char keys) — exact recall AND
    exact precision, no phantom or missing pairs."""
    import itertools

    from hadoop_main_spark.operators.dedup import fuzzy_key_pairs

    rows = [(i, k) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, "id int, k string")
    got = {
        (r.id_a, r.id_b): r.distance
        for r in fuzzy_key_pairs(df, "id", "k", max_bucket=10_000).collect()
    }

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {
        (i, j): lev(a, b)
        for (i, a), (j, b) in itertools.combinations(rows, 2)
        if lev(a, b) <= 1
    }
    assert got == want, (got, want)


@_slow
@given(st.lists(_words, min_size=1, max_size=6), st.integers(2, 4))
def test_cross_doc_spans_model(spark, docs, window):
    """cross_doc_spans == the naive python model: per-doc rolling
    windows, hash group, n_docs/n_occurrences/first_doc exact."""
    from collections import defaultdict

    from hadoop_main_spark.functions.hashing import hash64_py
    from hadoop_main_spark.operators.dedup import cross_doc_spans

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r.span_hash: (r.n_docs, r.n_occurrences, r.first_doc)
        for r in cross_doc_spans(df, "doc_id", "text", window=window).collect()
    }
    occ = defaultdict(list)
    for i, ws in enumerate(docs):
        for s in range(len(ws) - window + 1):
            occ[hash64_py(" ".join(ws[s : s + window]))].append(i)
    want = {
        h: (len(set(ds)), len(ds), min(ds))
        for h, ds in occ.items()
        if len(set(ds)) >= 2
    }
    assert got == want, (got, want)


@given(
    st.integers(1, 3),  # block rows
    st.integers(1, 3),  # block cols
    st.integers(0, 2),  # 0 gray, 1 rgb 4:4:4, 2 rgb 4:2:0
    st.integers(0, 3),  # restart interval (0 = none)
    st.lists(st.integers(0, 255), min_size=9, max_size=9),
)
@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_jpeg_constant_blocks_roundtrip_exact_model(br, bc, mode, rst, vals):
    """PROPERTY: any image of constant 8x8 blocks round-trips the
    baseline JPEG codec PIXEL-EXACT at quality 100 (all quantizers 1,
    DC-only blocks), for gray and RGB 4:4:4, any restart interval.
    4:2:0 is exact too when the constant blocks are 16x16-aligned
    (chroma box means then average equal values)."""
    import numpy as np

    from hadoop_main_spark.operators import multimodal as MM

    if mode == 2:
        br, bc = 2 * ((br + 1) // 2), 2 * ((bc + 1) // 2)  # 16-align
    h, w = 8 * br, 8 * bc
    arr = np.zeros((h, w, 3), dtype=np.uint8)
    for r in range(br):
        for c in range(bc):
            v = vals[(r * bc + c) % len(vals)]
            if mode == 2:
                # constant per 16x16 super-block so subsampled chroma
                # stays constant within each chroma block
                v = vals[((r // 2) * ((bc + 1) // 2) + c // 2) % len(vals)]
            arr[r * 8:(r + 1) * 8, c * 8:(c + 1) * 8] = [
                v, (v * 3 + 7) % 256, (v * 5 + 11) % 256,
            ]
    src = arr[:, :, 0] if mode == 0 else arr
    enc = MM._jpeg_encode(
        src, quality=100, subsample=(mode == 2), restart=rst
    )
    dec = MM._jpeg_decode(enc)
    want = arr[:, :, :1] if mode == 0 else arr
    assert dec.shape == want.shape
    diff = int(np.abs(dec.astype(int) - want.astype(int)).max())
    # gray/4:4:4 DC-only blocks are exact; 4:2:0 box-mean + float
    # color transform may round the last bit
    assert diff <= (1 if mode == 2 else 0), (mode, rst, diff)


_pure = settings(max_examples=40, deadline=None)  # no Spark fixture: fast


@_pure
@given(
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=1, max_value=6),
    st.sampled_from(["C444", "C420jpeg", "C420mpeg2", "Cmono"]),
    st.tuples(st.integers(1, 120), st.integers(1, 3)),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_y4m_roundtrip_property(nf, hh, ww, cs, rate, seed):
    """Any frame count x (even) geometry x colorspace x frame rate
    round-trips bit-exactly through the Y4M codec."""
    import numpy as np

    from hadoop_main_spark.operators import multimodal as MM

    rng = np.random.default_rng(seed)
    h, w = 2 * hh, 2 * ww
    frames = []
    for _ in range(nf):
        y = rng.integers(0, 256, (h, w), dtype=np.uint8)
        if cs == "Cmono":
            frames.append((y, None, None))
        elif cs == "C444":
            frames.append(
                (y, rng.integers(0, 256, (h, w), dtype=np.uint8),
                 rng.integers(0, 256, (h, w), dtype=np.uint8))
            )
        else:
            frames.append(
                (y, rng.integers(0, 256, (h // 2, w // 2), dtype=np.uint8),
                 rng.integers(0, 256, (h // 2, w // 2), dtype=np.uint8))
            )
    blob = MM._y4m_encode(frames, rate=rate, colorspace=cs)
    w2, h2, fps2, cs2, got = MM._y4m_decode(blob)
    assert (w2, h2, fps2, cs2, len(got)) == (w, h, rate, cs, nf)
    for a, b in zip(frames, got):
        for pa, pb in zip(a, b):
            assert (pa is None) == (pb is None)
            if pa is not None:
                assert (pa == pb).all()


@_pure
@given(
    st.lists(st.binary(min_size=0, max_size=33), min_size=1, max_size=6),
    st.integers(min_value=1, max_value=4096),
    st.integers(min_value=1, max_value=4096),
    st.integers(min_value=1, max_value=120),
)
def test_avi_container_roundtrip_property(payloads, w, h, fps):
    """The RIFF/AVI container layer round-trips ARBITRARY binary
    frame payloads (odd lengths exercise even-padding) and header
    fields exactly — independent of JPEG validity, which the
    chunk-walk layer never inspects."""
    from hadoop_main_spark.operators import multimodal as MM

    blob = MM._avi_mjpeg_encode(payloads, w, h, fps=fps)
    w2, h2, fps2, got = MM._avi_mjpeg_chunks(blob)
    assert (w2, h2, fps2) == (w, h, fps)
    assert got == payloads


@_pure
@given(
    st.integers(min_value=1, max_value=3),
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.sampled_from([2, 4, 16, 64, 256]),
    st.booleans(),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_gif_roundtrip_property(nf, h, w, ncolors, interlace, seed):
    """Any frame count x geometry x palette size x interlace flag
    round-trips bit-exactly through the GIF codec (LZW variable-width
    coding + sub-blocking + compositing of full-frame draws)."""
    import numpy as np

    from hadoop_main_spark.operators import multimodal as MM

    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, (ncolors, 3), dtype=np.uint8)
    frames = [
        rng.integers(0, ncolors, (h, w), dtype=np.uint8) for _ in range(nf)
    ]
    blob = MM._gif_encode(frames, pal, interlace=interlace)
    got, _delays = MM._gif_decode(blob)
    assert len(got) == nf
    # full-frame opaque draws: composited frame f == palette[frames[f]]
    for idx, rgb in zip(frames, got):
        assert (rgb == pal[idx]).all()


# --- round-8 walkers: EBML vints, WARC round-trip, robots matching -----------


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=2**49 - 2))
def test_ebml_vint_roundtrip_model(n):
    """Size encode -> decode is the identity across every vint width;
    the all-ones reserved value is never emitted for a real size."""
    from hadoop_main_spark.operators import multimodal as MM

    enc = MM._ebml_enc_size(n)
    val, nxt, unknown = MM._ebml_vint(enc, 0, keep_marker=False)
    assert (val, nxt, unknown) == (n, len(enc), False)


_warc_bodies = st.lists(
    st.binary(min_size=0, max_size=120), min_size=1, max_size=5
)


@settings(max_examples=40, deadline=None)
@given(_warc_bodies, st.booleans(), st.booleans())
def test_warc_roundtrip_model(bodies, gz_members, chunked):
    """build -> parse returns every record with its exact entity
    bytes under ANY combination of gzip-member layout and chunked
    transfer framing, for arbitrary binary bodies (including CRLF
    and gzip-magic bytes INSIDE bodies — Content-Length framing must
    never resync on content)."""
    from hadoop_main_spark.sources import warc as W

    recs = [
        dict(
            warc_type="response",
            block=W.http_response(b, chunked=chunked),
            target_uri=f"http://e/{j}",
            content_type="application/http; msgtype=response",
        )
        for j, b in enumerate(bodies)
    ]
    out = W.parse_warc(W.build_warc(recs, gzip_members=gz_members))
    assert [r["body"] for r in out] == bodies
    assert all(r["http_status"] == 200 for r in out)


def _robots_match_ref(pattern: str, path: str) -> bool:
    """Pure-Python reference for RFC 9309 pattern semantics: prefix
    match, * spans anything, trailing $ anchors the end."""
    import re as _re

    anchored_end = pattern.endswith("$")
    core = pattern[:-1] if anchored_end else pattern
    rx = "".join(".*" if c == "*" else _re.escape(c) for c in core)
    rx = "^" + rx + ("$" if anchored_end else "")
    return _re.search(rx, path) is not None


_pat_alpha = st.text(alphabet="/abc.*$+()x", min_size=1, max_size=10)
_path_alpha = st.text(alphabet="/abc.x$", min_size=1, max_size=12)


@_slow
@given(st.lists(_pat_alpha, min_size=1, max_size=8, unique=True),
       st.lists(_path_alpha, min_size=1, max_size=8, unique=True))
def test_robots_regex_compiler_matches_reference(spark, patterns, paths):
    """The declarative pattern->regex compiler must agree with the
    pure-Python RFC reference on every (pattern, path) pair —
    including metacharacters inside patterns and mid-pattern $."""
    from pyspark.sql import functions as F

    from hadoop_main_spark.operators.crawl import robots_pattern_regex

    pats = spark.createDataFrame([(p,) for p in patterns], "p string")
    compiled = {
        r.p: r.rx
        for r in pats.select("p", robots_pattern_regex("p").alias("rx")).collect()
    }
    import re as _re

    for p in patterns:
        got_rx = compiled[p]
        for path in paths:
            want = _robots_match_ref(p, path)
            got = _re.search(got_rx, path) is not None
            assert got == want, (p, path, got_rx)


# --- round 9: max_shared_spans vs a brute-force span model --------------------

_span_docs = st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=14),
    min_size=2,
    max_size=4,
)


@_slow
@given(_span_docs)
def test_max_shared_spans_model(spark, docs):
    """Window-hash chaining must equal the brute-force maximal-run
    model: for every doc pair and alignment diff, the maximal runs of
    consecutive matching windows."""
    from hadoop_main_spark.operators.dedup import max_shared_spans

    w = 3
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        (r.id_a, r.id_b, r.start_a, r.start_b, r.span_len)
        for r in max_shared_spans(df, "doc_id", "text", window=w).collect()
    }

    def windows(toks):
        return [tuple(toks[i : i + w]) for i in range(len(toks) - w + 1)]

    want = set()
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            wa, wb = windows(docs[a]), windows(docs[b])
            matches = {
                (i, j - i) for i, x in enumerate(wa)
                for j, y in enumerate(wb) if x == y
            }
            for (i, d) in matches:
                if (i - 1, d) in matches:
                    continue  # not a run start
                e = i
                while (e + 1, d) in matches:
                    e += 1
                want.add((a, b, i, i + d, e - i + w))
    assert got == want


# --- round 9: resolve_redirects vs a pure-Python chain follower --------------

_edges = st.dictionaries(
    st.integers(0, 9), st.integers(0, 9), min_size=0, max_size=8
)


@_slow
@given(_edges)
def test_resolve_redirects_model(spark, edge_map):
    """Unrolled-join resolution must equal the sequential follower:
    final node, hop count capped at max_hops, resolved iff the chain
    ends within the bound (loops never do)."""
    from hadoop_main_spark.operators.crawl import resolve_redirects

    max_hops = 4
    frontier = spark.createDataFrame([(u,) for u in range(10)], "url int")
    red = spark.createDataFrame(
        [(s, d) for s, d in edge_map.items()] or [(99, 98)], "src int, dst int"
    )
    got = {
        r.url: (r.final_url, r.n_hops, r.resolved)
        for r in resolve_redirects(frontier, red, url_col="url",
                                   max_hops=max_hops).collect()
    }
    for u in range(10):
        cur, hops = u, 0
        while hops < max_hops and cur in edge_map:
            cur, hops = edge_map[cur], hops + 1
        want = (cur, hops, cur not in edge_map)
        assert got[u] == want, (u, got[u], want)


# --- round 9: gap_sessions final reconstruction == batch model ---------------

_events = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 400)),  # (user, minute)
    min_size=1,
    max_size=20,
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(_events)
def test_gap_sessions_model(spark, tmp_path_factory, evs):
    """Stateful sessionization reconstructed from a 3-batch time-split
    replay must equal the single-pass batch model (30-min gap)."""
    import datetime

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hadoop_main_spark.streaming import windows as W
    from hadoop_main_spark.streaming.stateful import gap_sessions

    US = 1_000_000
    MIN = 60 * US
    GAP = 30 * MIN
    base_dt = datetime.datetime(2024, 1, 1)
    rows = [
        (eid, u, base_dt + datetime.timedelta(minutes=m))
        for eid, (u, m) in enumerate(evs)
    ]
    # batch model: per user, sort minutes, split on gap > 30 min
    from collections import defaultdict
    per_user = defaultdict(list)
    for _eid, (u, m) in zip(range(len(evs)), evs):
        per_user[u].append(m)
    want = set()
    for u, ms in per_user.items():
        ms.sort()
        start = prev = ms[0]
        n = 1
        for m in ms[1:]:
            if (m - prev) * MIN > GAP:
                want.add((u, start, prev, n))
                start, n = m, 0
            prev = m
            n += 1
        want.add((u, start, prev, n))
    base_us = int(base_dt.replace(tzinfo=datetime.timezone.utc).timestamp()) * US
    want = {(u, base_us + s * MIN, base_us + e * MIN, n) for u, s, e, n in want}

    tmp = tmp_path_factory.mktemp("gs")
    # 3 time-range batches (thirds of the minute range), in order
    ms_all = sorted(m for _u, m in evs)
    cut1, cut2 = ms_all[len(ms_all) // 3], ms_all[2 * len(ms_all) // 3]
    batches = [
        [r for r in rows if (r[2] - base_dt).total_seconds() / 60 <= cut1],
        [r for r in rows
         if cut1 < (r[2] - base_dt).total_seconds() / 60 <= cut2],
        [r for r in rows if (r[2] - base_dt).total_seconds() / 60 > cut2],
    ]
    schema = "event_id long, user_id long, ts timestamp"
    waves = [spark.createDataFrame(rows_k, schema) for rows_k in batches if rows_k]
    stream = W.replay_stream(spark, W.stage_waves(waves, str(tmp / "src")), schema)
    out = str(tmp / "out")

    def sink(b, i):
        b.write.mode("overwrite").parquet(f"{out}/batch={i}")

    q = W.start_foreach_batch(
        gap_sessions(stream, "user_id", "ts", "event_id", gap_us=GAP),
        sink,
        str(tmp / "ckpt"),
    )
    q.awaitTermination(180)
    emitted = spark.read.parquet(out)
    w = Window.partitionBy("user_id", "session_start").orderBy(
        F.col("closed").desc(), F.col("n_events").desc(),
        F.col("session_end").desc())
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in emitted.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1").collect()
    }
    assert got == want


@given(
    st.lists(st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=200)
)
@settings(max_examples=60, deadline=None)
def test_g711_companding_model(samples):
    """G.711 companding properties on arbitrary int16 signals, both
    laws: (1) code idempotence — encode(decode(encode(x))) ==
    encode(x); (2) quantization error bounded by the segment step at
    that magnitude (mu-law: half-step 4<<exp against the 16-bit
    tables; A-law: 8<<max(seg-1,0)); (3) sign preserved for
    magnitudes above the first step."""
    import numpy as np

    from hadoop_main_spark.operators import multimodal as MM

    x = np.array(samples, dtype=np.int16)
    for enc, dec, step0 in (
        (MM._g711_mulaw_encode, MM._g711_mulaw_decode, 8),
        (MM._g711_alaw_encode, MM._g711_alaw_decode, 16),
    ):
        c = enc(x)
        y = dec(c)
        assert np.array_equal(enc(y), c)  # code idempotence
        err = np.abs(y.astype(np.int64) - x.astype(np.int64))
        # segment step at |x|: both laws double the step per segment;
        # bound by one full step at the sample's own magnitude scale
        mag = np.abs(x.astype(np.int64))
        seg = np.maximum(np.floor(np.log2(np.maximum(mag, 1))).astype(np.int64) - 7, 0)
        bound = step0 * (1 << (seg + 1))  # generous one-step bound
        assert np.all(err <= bound), (x[err > bound], y[err > bound])
        big = mag > 64
        assert np.all(np.sign(y[big]) == np.sign(x[big]))


@given(
    st.dictionaries(st.integers(0, 30), st.integers(-5, 5), max_size=15),
    st.dictionaries(
        st.integers(0, 30),
        st.tuples(st.integers(-5, 5), st.booleans()),
        max_size=15,
    ),
)
@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_merge_into_dict_model(spark, target, source):
    """merge_into == the obvious dict model: apply updates/inserts,
    drop deletes, keep untouched target rows."""
    from hadoop_main_spark.operators.aggregate import merge_into

    tdf = spark.createDataFrame(
        [(k, v) for k, v in target.items()], "k int, v int"
    ) if target else spark.createDataFrame([], "k int, v int")
    sdf = spark.createDataFrame(
        [(k, v, d) for k, (v, d) in source.items()],
        "k int, v int, is_delete boolean",
    ) if source else spark.createDataFrame([], "k int, v int, is_delete boolean")
    got = {
        r.k: r.v
        for r in merge_into(tdf, sdf, ["k"], ["v"], delete_col="is_delete").collect()
    }
    model = dict(target)
    for k, (v, d) in source.items():
        if d:
            model.pop(k, None)
        else:
            model[k] = v
    assert got == model


def test_suffix_ranks_vs_bruteforce(spark):
    """Prefix-doubling competition ranks == brute-force token-wise
    suffix sort (RANK semantics: 1 + #strictly-smaller, ties shared),
    on a corpus with duplicated docs (shared ranks), a shared-prefix
    family, and a one-token doc; the max_tokens contract raises."""
    import pandas as pd
    import pytest

    from hadoop_main_spark.operators.suffix import suffix_ranks

    texts = {
        1: "b a c a b",
        2: "a b a",
        3: "a b a",      # exact duplicate of 2: every suffix shares a rank
        4: "c",
        5: "a b a c a b c",
    }
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    got = {
        (r.doc_id, r.pos): r.rank
        for r in suffix_ranks(docs, max_tokens=16, init_prefix=2).collect()
    }
    sufs = []
    for d, tx in texts.items():
        tk = tx.split()
        for p in range(len(tk)):
            sufs.append(((d, p), tuple(tk[p:])))
    ordered = sorted(s[1] for s in sufs)
    want = {key: 1 + sum(1 for o in ordered if o < seq) for key, seq in sufs}
    assert got == want
    # duplicate docs share every rank
    for p in range(3):
        assert got[(2, p)] == got[(3, p)]
    long_doc = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": [" ".join("x" for _ in range(20))]})
    )
    with pytest.raises(ValueError, match="max_tokens"):
        suffix_ranks(long_doc, max_tokens=16).collect()


def test_suffix_repeats_indexed_lcp(spark, tmp_path):
    """Adjacent-class LCP off the persisted index equals the direct
    definition: planted 6-token repeat across two docs surfaces with
    its full LCP; adjacency via rank + class size never skips or
    duplicates a class."""
    import pandas as pd

    from hadoop_main_spark.operators.suffix import (
        build_suffix_index,
        suffix_repeats_indexed,
    )

    texts = {
        1: "q w e r t y u i o p",
        2: "z x q w e r t y k m",  # shares 'q w e r t y' (6 tokens) with 1
        3: "n n n n n n n",        # internal repeats
    }
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    idx = str(tmp_path / "sufidx")
    build_suffix_index(docs, idx, max_tokens=16)
    out = suffix_repeats_indexed(spark, idx, docs, min_lcp=6).collect()
    # the planted 6-token cross-doc repeat is there
    assert any(
        r.lcp == 6 and {r.doc_a, r.doc_b} == {1, 2} for r in out
    )
    # brute-force check of EVERY reported pair's lcp
    tk = {d: tx.split() for d, tx in texts.items()}
    for r in out:
        sa, sb = tk[r.doc_a][r.pos_a:], tk[r.doc_b][r.pos_b:]
        lcp = 0
        for x, y in zip(sa, sb):
            if x != y:
                break
            lcp += 1
        assert lcp == r.lcp and r.lcp >= 6


def test_set_similarity_join_completeness_vs_brute_force(spark):
    """The pigeonhole band filter must be COMPLETE: every distinct-set
    pair with Jaccard >= 19/20 (exact integer cross-multiplication)
    found by an all-pairs brute force over sf0.001 must appear in the
    query result — and nothing else (the relational oracle replays
    the same filter, so only an independent brute force proves no
    false negatives)."""
    from itertools import combinations

    import duckdb

    from hadoop_main_spark.plans.registry import REGISTRY

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'),"
        f" t -> t <> '') FROM '{sf}/documents.parquet'"
    ).fetchall()
    sets = {did: frozenset(tks) for did, tks in rows if tks}
    # canonical group representative per distinct set (min doc_id)
    rep_of: dict[frozenset, int] = {}
    for did in sorted(sets):
        rep_of.setdefault(sets[did], did)
    reps = {rep: s for s, rep in rep_of.items()}
    want = set()
    for ra, rb in combinations(sorted(reps), 2):
        a, b = reps[ra], reps[rb]
        i = len(a & b)
        if 39 * i >= 19 * (len(a) + len(b)):
            want.add((ra, rb, i, len(a) + len(b) - i))
    got = {
        (r.rep_a, r.rep_b, r.inter_size, r.union_size)
        for r in REGISTRY["set_similarity_join"].build(spark, sf).collect()
    }
    assert got == want, (len(got), len(want), sorted(want - got)[:5])
