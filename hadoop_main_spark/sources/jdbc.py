"""JDBC source/sink (SURVEY.md §2.1/2.2: DBInputFormat family).

``spark.read.jdbc`` with partitionColumn/bounds IS the
DataDrivenDBInputFormat design (min/max range splits); the helpers
below add the reference's split-computation semantics for
inspection/testing without a live database, including the
TextSplitter's base-substring trick.

Reference: MRC/mapreduce/lib/db/DataDrivenDBInputFormat.java:1,
IntegerSplitter.java:1, TextSplitter.java:1, DBOutputFormat.java:1.
(No JDBC driver ships in this environment; the write wrapper is
exercised against any URL the deployment provides.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append", **options: str) -> None:
    """DBOutputFormat: batched INSERTs."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table).mode(mode)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save()


# --- split computation (reference parity, testable without a DB) ------------


def integer_splits(lo: int, hi: int, n: int) -> list[tuple[int, int]]:
    """IntegerSplitter: n near-equal [start, end) ranges covering
    [lo, hi], remainder spread over the first ranges."""
    if n <= 0 or hi < lo:
        return []
    total = hi - lo + 1
    base, rem = divmod(total, n)
    out = []
    cur = lo
    for i in range(n):
        size = base + (1 if i < rem else 0)
        if size == 0:
            break
        out.append((cur, cur + size))
        cur += size
    return out


_ALPHABET = "abcdefghijklmnopqrstuvwxyz"


def text_splits(lo: str, hi: str, n: int) -> list[tuple[str, str]]:
    """TextSplitter: map the min/max strings' first differing chars
    onto a numeric interval, split evenly, map back to strings —
    producing lexicographic range boundaries. Simplified to the
    lowercase-ascii alphabet (the reference maps UTF-16 code units)."""
    if n <= 0:
        return []
    # out-of-alphabet chars (uppercase, digits) all map to slot 0 —
    # normalize case, and if the mapped endpoints collapse or invert,
    # return ONE full-range split instead of a degenerate/empty set
    # (a single correct partition beats silently scanning nothing;
    # review-r4b)
    lo, hi = lo.lower(), hi.lower()

    def to_num(s: str, digits: int) -> int:
        v = 0
        for i in range(digits):
            c = s[i] if i < len(s) else _ALPHABET[0]
            v = v * len(_ALPHABET) + max(0, _ALPHABET.find(c))
        return v

    def to_str(v: int, digits: int) -> str:
        out = []
        for _ in range(digits):
            v, r = divmod(v, len(_ALPHABET))
            out.append(_ALPHABET[r])
        return "".join(reversed(out)).rstrip(_ALPHABET[0]) or _ALPHABET[0]

    digits = max(len(lo), len(hi), 1)
    lo_n, hi_n = to_num(lo, digits), to_num(hi, digits)
    if hi_n <= lo_n:
        return [(min(lo, hi), max(lo, hi))]
    ranges = integer_splits(lo_n, hi_n, n)
    return [(to_str(a, digits), to_str(b, digits)) for a, b in ranges]
