"""WARC (ISO 28500 / WARC-1.0) record walk — the Common Crawl
ingestion tier: every web-scale training corpus starts as WARC files
(one gzip member per record in the Common Crawl layout), and the
first pipeline stage is exactly this — walk records, classify types,
pull the HTTP response body out for the HTML->text stage
(operators/html.py).

Reference analog: none in Hadoop core (north-star scope); the format
is the public ISO 28500 spec: ``WARC/1.0`` version line, CRLF header
block (Content-Length is the block length in octets), CRLF CRLF, the
block, CRLF CRLF. ``application/http`` blocks carry a full HTTP
message (status/request line + headers + body).

STRICT ValueError discipline like the container walkers in
operators/multimodal.py: a bad magic, truncated block, or missing
Content-Length raises — 'not WARC' vs 'WARC' must be deterministic.
Gzip: both the whole-file form and the member-per-record form
decompress identically via a concatenated-member loop (zlib wbits=31
per member), so the same parser serves .warc and .warc.gz.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_main_spark.operators.multimodal import map_payloads

_CRLF = b"\r\n"


def _gunzip_members(p: bytes) -> bytes:
    """Decompress a stream of CONCATENATED gzip members (the Common
    Crawl record-per-member layout) into one plain byte string."""
    out = []
    i = 0
    while i < len(p):
        d = zlib.decompressobj(wbits=31)
        try:
            out.append(d.decompress(p[i:]))
        except zlib.error as e:
            raise ValueError(f"warc: bad gzip member at byte {i}: {e}") from e
        out.append(d.flush())
        if not d.eof:
            # flush() is silent on a cut-off member; without this a
            # truncated .warc.gz would "parse" up to the cut
            raise ValueError(f"warc: truncated gzip member at byte {i}")
        consumed = len(p) - i - len(d.unused_data)
        if consumed <= 0:
            raise ValueError("warc: zero-length gzip member")
        i += consumed
    return b"".join(out)


def _dechunk(body: bytes) -> bytes:
    """Decode HTTP/1.1 chunked transfer framing (RFC 9112 §7.1):
    hex-size CRLF chunk CRLF ... 0 CRLF [trailers] CRLF."""
    out = []
    i = 0
    while True:
        eol = body.find(_CRLF, i)
        if eol < 0:
            raise ValueError("warc: chunked body missing size line")
        size_tok = body[i:eol].split(b";", 1)[0].strip()  # ignore extensions
        # RFC 9112 chunk-size is 1*HEXDIG — int(x, 16) alone would also
        # accept '-2', '0x1f' and '1_0', silently mis-framing the body.
        if not size_tok or not all(c in b"0123456789abcdefABCDEF" for c in size_tok):
            raise ValueError(f"warc: bad chunk size {size_tok!r}")
        size = int(size_tok, 16)
        i = eol + 2
        if size == 0:
            return b"".join(out)  # trailers (if any) are ignored
        if i + size + 2 > len(body):
            raise ValueError("warc: truncated chunk")
        out.append(body[i : i + size])
        if body[i + size : i + size + 2] != _CRLF:
            raise ValueError("warc: chunk missing trailing CRLF")
        i += size + 2


def _parse_http(block: bytes) -> tuple[int, str, bytes]:
    """(status, content-type, DECODED body) from an application/http
    block; request messages (no status code) report status 0. The
    wire forms real crawls actually ship are undone here — chunked
    transfer framing (RFC 9112 §7.1, extensions ignored, trailers
    dropped) and gzip Content-Encoding (single member) — so
    downstream stages (HTML->text) always see entity bytes."""
    head, sep, body = block.partition(_CRLF + _CRLF)
    if not sep:
        raise ValueError("warc: http block missing header terminator")
    lines = head.split(_CRLF)
    first = lines[0].decode("latin-1")
    status = 0
    if first.startswith("HTTP/"):
        parts = first.split(" ")
        if len(parts) < 2 or not parts[1].isdigit():
            raise ValueError(f"warc: bad http status line {first!r}")
        status = int(parts[1])
    ctype = ""
    chunked = gzipped = False
    for ln in lines[1:]:
        k, _, v = ln.decode("latin-1").partition(":")
        k, v = k.strip().lower(), v.strip()
        if k == "content-type":
            ctype = v  # case preserved (charset params are case-sensitive-ish)
        elif k == "transfer-encoding" and "chunked" in v.lower():
            chunked = True
        elif k == "content-encoding" and v.lower() == "gzip":
            gzipped = True
    if chunked:
        body = _dechunk(body)
    if gzipped:
        body = _gunzip_members(body)
    return status, ctype, body


def parse_warc(p: bytes) -> list[dict]:
    """Walk every record; returns dicts with warc_type, target_uri,
    content_length (the WARC block length), and — for
    ``application/http`` blocks — http_status, http_content_type, and
    the HTTP body bytes (b'' otherwise; the raw block rides in
    ``block`` for non-http records)."""
    if p[:2] == b"\x1f\x8b":
        p = _gunzip_members(p)
    recs = []
    i, n = 0, len(p)
    while i < n:
        eol = p.find(_CRLF, i)
        if eol < 0 or not p[i:eol].startswith(b"WARC/"):
            raise ValueError(f"warc: missing WARC/ version line at byte {i}")
        i = eol + 2
        headers: dict[str, str] = {}
        while True:
            eol = p.find(_CRLF, i)
            if eol < 0:
                raise ValueError("warc: truncated header block")
            if eol == i:  # empty line ends headers
                i = eol + 2
                break
            k, _, v = p[i:eol].decode("latin-1").partition(":")
            headers[k.strip().lower()] = v.strip()
            i = eol + 2
        if "content-length" not in headers:
            raise ValueError("warc: record missing Content-Length")
        clen_tok = headers["content-length"]
        # ISO 28500 Content-Length is 1*DIGIT — a bare int() would accept
        # '-4' (stepping the cursor backwards into the header block) and
        # '+4'/'4_0', breaking the strict not-WARC-must-raise contract.
        if not clen_tok or not all("0" <= c <= "9" for c in clen_tok):
            raise ValueError(f"warc: bad Content-Length {clen_tok!r}")
        clen = int(clen_tok)
        if i + clen > n:
            raise ValueError("warc: block exceeds payload")
        block = p[i : i + clen]
        i += clen
        if p[i : i + 4] != _CRLF + _CRLF:
            raise ValueError("warc: record missing trailing CRLFCRLF")
        i += 4
        rec = {
            "warc_type": headers.get("warc-type", ""),
            "target_uri": headers.get("warc-target-uri", ""),
            "content_length": clen,
            "http_status": 0,
            "http_content_type": "",
            "body": b"",
            "block": block,
            "is_http": headers.get("content-type", "").startswith(
                "application/http"
            ),
            # revisit-record surface (ISO 28500 §6.7): the dedup
            # record class Common Crawl uses for unchanged recrawls
            "warc_profile": headers.get("warc-profile", ""),
            "refers_to_uri": headers.get("warc-refers-to-target-uri", ""),
            "payload_digest": headers.get("warc-payload-digest", ""),
        }
        if rec["is_http"]:
            rec["http_status"], rec["http_content_type"], rec["body"] = _parse_http(
                block
            )
        recs.append(rec)
    if not recs:
        raise ValueError("warc: no records")  # b'' is 'not WARC', not 'empty WARC'
    return recs


# ISO 28500 §6.7.2 / WARC 1.0: the revisit profile for a payload whose
# digest matches an earlier capture — Common Crawl's storage-dedup form
REVISIT_PROFILE = "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"


def _record_bytes(
    warc_type: str, block: bytes, target_uri: str = "",
    content_type: str = "", rec_id: str = "<urn:uuid:0>",
    profile: str = "", refers_to_uri: str = "", payload_digest: str = "",
) -> bytes:
    head = [
        b"WARC/1.0",
        f"WARC-Type: {warc_type}".encode(),
        f"WARC-Record-ID: {rec_id}".encode(),
        b"WARC-Date: 2024-01-01T00:00:00Z",
    ]
    if target_uri:
        head.append(f"WARC-Target-URI: {target_uri}".encode())
    if profile:
        head.append(f"WARC-Profile: {profile}".encode())
    if refers_to_uri:
        head.append(f"WARC-Refers-To-Target-URI: {refers_to_uri}".encode())
    if payload_digest:
        head.append(f"WARC-Payload-Digest: {payload_digest}".encode())
    if content_type:
        head.append(f"Content-Type: {content_type}".encode())
    head.append(f"Content-Length: {len(block)}".encode())
    return _CRLF.join(head) + _CRLF + _CRLF + block + _CRLF + _CRLF


def build_warc(records, gzip_members: bool = False) -> bytes:
    """Fixture-side writer: ``records`` is a list of kwargs-dicts for
    :func:`_record_bytes`; gzip_members=True emits the Common Crawl
    one-member-per-record layout."""
    parts = [_record_bytes(**r) for r in records]
    if gzip_members:
        return b"".join(_gzip_one(part) for part in parts)
    return b"".join(parts)


def _gzip_one(part: bytes) -> bytes:
    c = zlib.compressobj(6, zlib.DEFLATED, 31)
    return c.compress(part) + c.flush()


def http_response(body: bytes, status: int = 200, ctype: str = "text/html",
                  chunked: bool = False, gzip_body: bool = False) -> bytes:
    """Fixture-side HTTP response writer; ``chunked`` frames the body
    as ONE chunk + terminator (hex-size CRLF body CRLF 0 CRLF CRLF),
    ``gzip_body`` applies Content-Encoding: gzip first."""
    enc_hdr = b""
    if gzip_body:
        body = _gzip_one(body)
        enc_hdr = b"Content-Encoding: gzip\r\n"
    if chunked:
        wire = (
            f"{len(body):x}".encode() + _CRLF + body + _CRLF + b"0" + _CRLF + _CRLF
        )
        return (
            f"HTTP/1.1 {status} OK\r\nContent-Type: {ctype}\r\n".encode()
            + enc_hdr + b"Transfer-Encoding: chunked\r\n\r\n" + wire
        )
    return (
        f"HTTP/1.1 {status} OK\r\nContent-Type: {ctype}\r\n".encode()
        + enc_hdr
        + f"Content-Length: {len(body)}\r\n\r\n".encode()
    ) + body


def http_request(uri: str) -> bytes:
    return f"GET {uri} HTTP/1.1\r\nHost: example.org\r\n\r\n".encode()


def warc_records(media: DataFrame) -> DataFrame:
    """Record-level metadata rows from WARC payloads (Arrow-batched;
    the body never leaves the batch — only type/uri/status/length and
    an md5 digest shuffle). Bad payloads take one warc_type='bad' row
    (the multimodal bad-record policy)."""
    import hashlib

    schema = (
        "media_id long, rec_idx long, warc_type string, target_uri string, "
        "content_length long, http_status long, http_content_type string, "
        "body_bytes long, body_md5 string, warc_profile string, "
        "refers_to_uri string, payload_digest string"
    )

    def walk(p: bytes):
        for j, r in enumerate(parse_warc(p)):
            # http records report the HTTP BODY (empty for a bare GET);
            # non-http records report the raw block
            body = r["body"] if r["is_http"] else r["block"]
            yield (
                j, r["warc_type"], r["target_uri"], r["content_length"],
                r["http_status"], r["http_content_type"], len(body),
                hashlib.md5(body).hexdigest(), r["warc_profile"],
                r["refers_to_uri"], r["payload_digest"],
            )

    return map_payloads(
        media, walk, [(0, "bad", "", 0, 0, "", 0, "", "", "", "")], schema
    )


def revisit_warc_media(
    crawl: DataFrame,
    prior_digests: DataFrame,
    id_col: str = "media_id",
    uri_col: str = "uri",
    payload_col: str = "payload",
) -> DataFrame:
    """RECRAWL writer with storage dedup (ISO 28500 §6.7 — the
    ``revisit`` record class, Common Crawl's actual dedup mechanism):
    each fetched page's payload digest is compared to the PRIOR
    snapshot's digest for the same URI (``prior_digests``: (uri,
    digest) — typically a versioned-sink snapshot, sources/
    versioned.py); an unchanged payload writes a tiny ``revisit``
    record (empty block, WARC-Profile identical-payload-digest,
    WARC-Refers-To-Target-URI, WARC-Payload-Digest) instead of
    re-storing the body, a new/changed payload writes the full
    ``response`` record. Output: (id_col, payload) one-record WARC
    bytes per row — parse back with :func:`warc_records`.

    Shape: ONE uri-keyed join (co-partitioned; at 100 TB both sides
    partition on uri exactly like the snapshot diff that precedes a
    recrawl), then a stateless Arrow-batched writer kernel. Digests
    are md5 hex of the raw payload bytes on BOTH sides, so the
    decision is engine-exact.

    Precondition (ENFORCED, the merge_into discipline): prior_digests
    has at most one row per uri — a duplicated snapshot would fan the
    left join out and emit duplicate one-record WARCs per media_id.
    The count window rides the snapshot's join-key shuffle (no extra
    exchange) and feeds ``raise_error`` so a bad snapshot fails the
    recrawl loudly instead of silently double-writing."""
    import hashlib

    from pyspark.sql import Window

    n_dup = F.count(F.lit(1)).over(Window.partitionBy(uri_col))
    prior = prior_digests.select(
        uri_col,
        F.when(
            n_dup > 1,
            F.raise_error(
                F.concat(
                    F.lit(
                        "revisit_warc_media: prior_digests has multiple"
                        " rows for uri "
                    ),
                    F.col(uri_col).cast("string"),
                    F.lit(" — snapshot must be unique per uri"),
                )
            ),
        )
        .otherwise(prior_digests["digest"])
        .alias("__prior"),
    )
    joined = crawl.select(id_col, uri_col, payload_col).join(
        prior, uri_col, "left"
    )

    schema = f"{id_col} long, payload binary"

    def record(uri, payload, prior) -> bytes:
        pbytes = payload if payload is not None else b""
        digest = hashlib.md5(pbytes).hexdigest()
        if prior is not None and prior == digest:
            rec = dict(
                warc_type="revisit",
                block=b"",
                target_uri=str(uri),
                profile=REVISIT_PROFILE,
                refers_to_uri=str(uri),
                payload_digest=f"md5:{digest}",
            )
        else:
            rec = dict(
                warc_type="response",
                block=http_response(pbytes),
                target_uri=str(uri),
                content_type="application/http; msgtype=response",
                payload_digest=f"md5:{digest}",
            )
        return build_warc([rec])

    def run(batches):
        import pyarrow as pa

        # ids pass through as Arrow: a pandas id column next to a NULL
        # id would turn float64 and round every id past 2^53
        for b in batches:
            cols = (b.column(c).to_pylist() for c in (uri_col, payload_col, "__prior"))
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(id_col).cast(pa.int64()),
                    pa.array([record(*r) for r in zip(*cols)], pa.binary()),
                ],
                names=[id_col, "payload"],
            )

    return joined.mapInArrow(run, schema)
