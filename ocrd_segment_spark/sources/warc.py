"""WARC record source: Common-Crawl-native ingestion.

The engine's canonical input (BASELINE input_hint) is an Iceberg-style
table of pages ``(url, warc_ts, html:binary, ...)`` — but what Common
Crawl actually ships is WARC/1.0 streams: concatenated records, each a
named-field header block, a blank line, then ``Content-Length`` bytes
of payload (for ``WARC-Type: response`` the payload is a full HTTP
response: status line, headers, blank line, body). This module turns a
table of raw WARC segment blobs into that canonical pages table, so
the extraction pipeline composes directly onto crawl archives.

Frozen parse rule (both the Spark operator and the DuckDB oracle
restate it):

- records split on the literal ``WARC/1.0\\r\\n`` version line; the
  leading empty fragment is dropped;
- the header block ends at the first ``\\r\\n\\r\\n``; named fields are
  harvested with ``Name: ([^\\r\\n]*)`` — first occurrence wins, Java/
  RE2 common subset, no multiline flags (CRLF stays out of the
  capture by the negated class, not by ``$`` semantics);
- the payload is exactly ``Content-Length`` characters after the
  blank line (NEVER a search for the next separator — bodies may
  contain blank lines); records with a non-numeric length parse to
  NULL payload and are dropped with ``warc_type`` kept for auditing;
- only ``WARC-Type: response`` records become pages; the HTTP status
  is ``^HTTP/1\\.[01] ([0-9]{3})``, HTTP headers end at the first
  ``\\r\\n\\r\\n`` inside the payload, the body is everything after;
- ``warc_ts`` parses the ``WARC-Date`` ISO-8601 instant with the
  trailing ``Z`` stripped (WARC dates are UTC by spec).

Scale shape: everything is scan-stage JVM column math — one
``split``+``explode`` (row expansion, no shuffle) and per-record
regexp/substr expressions; a segment blob maps to its records inside
the partition that read it, so a 100 TB crawl parses embarrassingly
parallel with zero exchanges before the first downstream aggregation.
Real ``.warc.gz`` members are decompressed by :func:`decode_warc_gz`
(zlib member-stream walk, Arrow-batched) — compression is the one step
SQL cannot express, exactly like the compression_ratio signal.

Reference: the reference engine has no crawl ingestion (its sources
are PAGE-XML/COCO/image files, ocrd_segment/extract_pages.py) — this
is part of the web-scale surface the graft adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_type

from ..pystage import (
    map_rows, nullable, parallelism_floor, prepare_worker_task,
    record_batch,
)

CRLF = "\r\n"
_SEP = CRLF + CRLF


def _field(block, name: str):
    """First ``Name: value`` occurrence in a header block (value =
    everything up to the CRLF, captured by a negated class so the
    pattern stays in the Java/RE2 common subset)."""
    return F.regexp_extract(block, name + ": ([^\r\n]*)", 1)


def warc_records(
    blobs: DataFrame, data_col: str = "data", keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Split WARC segment blobs into one row per record:
    (``warc_type``, ``target_uri``, ``warc_date``, ``content_length``,
    ``payload``) plus any ``keep_cols`` carried through from the blob
    row (e.g. the segment path for lineage).

    ``payload`` is NULL when ``Content-Length`` is missing or
    non-numeric (try_cast semantics) — callers filter or audit."""
    rec = blobs.select(
        *keep_cols,
        F.explode(
            F.split(F.col(data_col).cast("string"), "WARC/1\\.0\r\n")
        ).alias("rec"),
    ).filter(F.col("rec") != "")
    hdr = F.substring_index("rec", _SEP, 1)
    # payload starts after header block + the CRLFCRLF separator
    # (1-based substr: header length + 4 separator chars + 1)
    rest = F.expr(
        "substr(rec, length(substring_index(rec, '\\r\\n\\r\\n', 1)) + 5)"
    )
    out = rec.select(
        *keep_cols,
        _field(hdr, "WARC-Type").alias("warc_type"),
        _field(hdr, "WARC-Target-URI").alias("target_uri"),
        _field(hdr, "WARC-Date").alias("warc_date"),
        _field(hdr, "Content-Length").try_cast("int").alias("content_length"),
        rest.alias("__rest"),
    )
    return out.select(
        *keep_cols,
        "warc_type",
        "target_uri",
        "warc_date",
        "content_length",
        F.when(
            F.col("content_length").isNotNull(),
            F.expr("substr(__rest, 1, content_length)"),
        ).alias("payload"),
    )


def warc_response_pages(
    blobs: DataFrame, data_col: str = "data", keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """WARC blobs → the canonical pages table: one row per
    ``WARC-Type: response`` record with a parsable payload —
    (url, warc_ts, http_status, content_type, html:binary).

    ``http_status`` is NULL when the payload is not an HTTP/1.x
    response (try_cast of the frozen status regexp); ``content_type``
    is the raw ``Content-Type`` HTTP header value ('' when absent —
    pair with functions/multimodal.with_content_type to sniff the
    magic bytes instead of trusting the server); ``location`` is the
    raw ``Location`` header ('' when absent) — 3xx rows feed
    operators/redirects for chain resolution; ``content_encoding`` is
    the raw ``Content-Encoding`` header ('' when absent) — gzip/
    deflate bodies decode via :func:`decode_content_encoding` before
    any html-reading stage. Downstream gating on status/type is the
    caller's policy, not the parser's."""
    r = warc_records(blobs, data_col=data_col, keep_cols=keep_cols).filter(
        (F.col("warc_type") == "response") & F.col("payload").isNotNull()
    )
    http_hdr = F.substring_index("payload", _SEP, 1)
    return r.select(
        *keep_cols,
        F.col("target_uri").alias("url"),
        F.try_to_timestamp(
            F.regexp_replace("warc_date", "Z$", ""),
            F.lit("yyyy-MM-dd'T'HH:mm:ss"),
        ).alias("warc_ts"),
        F.regexp_extract("payload", "^HTTP/1\\.[01] ([0-9]{3})", 1)
        .try_cast("int")
        .alias("http_status"),
        _field(http_hdr, "Content-Type").alias("content_type"),
        _field(http_hdr, "Location").alias("location"),
        _field(http_hdr, "Content-Encoding").alias("content_encoding"),
        F.expr(
            "substr(payload,"
            " length(substring_index(payload, '\\r\\n\\r\\n', 1)) + 5)"
        )
        .cast("binary")
        .alias("html"),
    )


def decode_warc_gz(
    blobs: DataFrame, data_col: str = "data", python_parallelism: int | None = None
) -> DataFrame:
    """Decompress per-record-gzipped WARC segments (the actual
    ``.warc.gz`` layout: one gzip MEMBER per record, members
    concatenated) into plain-text segment blobs for
    :func:`warc_records`.

    zlib member-stream walk: inflate with wbits=31 (gzip wrapper),
    feed ``unused_data`` to a fresh decompressobj per member —
    the standard multi-member idiom; truncated trailing members
    surface as ``decode_ok = false`` with the successfully-decoded
    prefix kept. One pystage.map_rows pass behind the shared
    parallelism floor."""
    import zlib

    def row(raw):
        buf = bytes(raw) if raw is not None else b""
        out, ok = bytearray(), True
        while buf:
            d = zlib.decompressobj(31)
            try:
                out += d.decompress(buf)
                out += d.flush()
            except zlib.error:
                ok = False
                break
            if not d.eof:  # truncated final member
                ok = False
                break
            buf = d.unused_data
        return bytes(out), ok

    other = [c for c in blobs.columns if c != data_col]
    return map_rows(
        blobs, other, (data_col,), row,
        [
            T.StructField("data", T.BinaryType()),
            T.StructField("decode_ok", T.BooleanType()),
        ],
        python_parallelism,
        nullable_carry=True,
    )


_ENCODED = ("gzip", "x-gzip", "deflate")


def decode_content_encoding(
    pages: DataFrame,
    encoding_col: str = "content_encoding",
    blob_col: str = "html",
    python_parallelism: int | None = None,
) -> DataFrame:
    """Decode HTTP ``Content-Encoding``-compressed bodies in place:
    rows whose (lowercased, trimmed) encoding is gzip / x-gzip /
    deflate run through zlib; every other row — the identity
    majority — passes through untouched on the JVM side (the
    reencode_non_utf8 split-union discipline: only the compressed
    tail pays Python).

    ``deflate`` tries the zlib wrapper first, then raw deflate — real
    servers ship both under the same name (the classic RFC 9110
    ambiguity); ``gzip`` uses the wbits=47 auto-header form. A body
    that fails to decode keeps its ORIGINAL bytes with
    ``ce_decode_ok = false`` so the failure is gateable, never
    silent — and so does a RECOGNIZED-BUT-UNSUPPORTED encoding
    (br, zstd, multi-codings like 'gzip, br'): only '' / 'identity' /
    NULL count as identity, anything else the zlib lanes cannot
    decode is flagged rather than flowing compressed bytes into
    extraction as if they were html (review finding). The encoding
    column is consumed (dropped) — decoded bodies no longer carry it
    truthfully."""
    import zlib

    # NULL encodings are identity (coalesce — a NULL comparison would
    # silently drop the row from BOTH filter branches, review finding)
    norm = F.lower(F.trim(F.coalesce(F.col(encoding_col), F.lit(""))))
    is_zlib = norm.isin(*_ENCODED)
    is_identity = norm.isin("", "identity")
    clean = (
        pages.filter(~is_zlib)
        # recognized-but-unsupported encodings (br, zstd, coding
        # lists) keep their bytes but flag false — gateable, never
        # compressed-bytes-as-html
        .withColumn("ce_decode_ok", is_identity)
        .drop(encoding_col)
    )
    tail = pages.filter(is_zlib)

    def row(raw, enc):
        buf = bytes(raw) if raw is not None else b""
        enc = (enc or "").strip().lower()
        attempts = [47] if enc in ("gzip", "x-gzip") else [15, -15]
        for wbits in attempts:
            try:
                return zlib.decompress(buf, wbits), True
            except zlib.error:
                continue
        return buf, False

    other = [c for c in tail.columns if c not in (blob_col, encoding_col)]
    decoded = map_rows(
        tail, other, (blob_col, encoding_col), row,
        [
            T.StructField(blob_col, T.BinaryType()),
            T.StructField("ce_decode_ok", T.BooleanType()),
        ],
        python_parallelism,
        nullable_carry=True,
    )
    return clean.unionByName(decoded.select(*clean.columns))


# ---------------------------------------------------------------------------
# byte-exact record walk
# ---------------------------------------------------------------------------

# The scan-stage JVM parse above rides a binary->string cast: perfect
# for UTF-8/ASCII payloads (the text/html majority), but Content-Length
# is a BYTE count sliced in CHARS there, and non-UTF-8 bytes (gzipped
# bodies, binary attachments) do not survive the string round-trip.
# This python walk is the byte-faithful twin for archives that carry
# compressed or non-UTF-8 payloads: same frozen framing rule, byte
# arithmetic throughout, headers decoded latin-1 (1:1).

import re as _re

_B_FIELD = {
    name: _re.compile(name.encode() + rb": ([^\r\n]*)")
    for name in (
        "WARC-Type", "WARC-Target-URI", "WARC-Date", "Content-Length",
        "Content-Type", "Location", "Content-Encoding",
    )
}
_B_STATUS = _re.compile(rb"^HTTP/1\.[01] ([0-9]{3})")


def _bfield(block: bytes, name: str) -> bytes:
    m = _B_FIELD[name].search(block)
    return m.group(1) if m else b""


def warc_pages_bytes(
    blobs: DataFrame,
    data_col: str = "data",
    keep_cols: tuple[str, ...] = (),
    python_parallelism: int | None = None,
) -> DataFrame:
    """Byte-exact WARC blobs → pages: the same output shape as
    :func:`warc_response_pages` (url, warc_ts, http_status,
    content_type, location, content_encoding, html:binary) with
    Content-Length sliced in BYTES, so gzip/multibyte payloads arrive
    intact — pair with :func:`decode_content_encoding`. One
    Arrow-batched codec-lane stage."""
    kept = [f.name for f in blobs.schema.fields if f.name in keep_cols]
    fields = [
        T.StructField("url", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("location", T.StringType()),
        T.StructField("content_encoding", T.StringType()),
        T.StructField("html", T.BinaryType()),
    ]
    schema = T.StructType(
        [nullable(blobs.schema[k]) for k in kept] + fields
    )
    types = [to_arrow_type(f.dataType) for f in fields]

    def gen(batches):
        prepare_worker_task()
        import pyarrow as pa

        for batch in batches:
            src: list[int] = []  # the input row of each record
            recs: list[tuple] = []
            for i, raw in enumerate(batch.column(data_col).to_pylist()):
                for rec in (raw or b"").split(b"WARC/1.0\r\n"):
                    if not rec:
                        continue
                    sep = rec.find(b"\r\n\r\n")
                    if sep < 0:
                        # substring_index semantics (JVM-scan parity):
                        # no terminator -> the whole record is header,
                        # the payload is empty — the record still
                        # emits when its fields parse
                        hdr, rest = rec, b""
                    else:
                        hdr, rest = rec[:sep], rec[sep + 4:]
                    if _bfield(hdr, "WARC-Type") != b"response":
                        continue
                    try:
                        length = int(_bfield(hdr, "Content-Length"))
                    except ValueError:
                        continue
                    payload = rest[:length]
                    hsep = payload.find(b"\r\n\r\n")
                    http_hdr = payload[:hsep] if hsep >= 0 else payload
                    body = payload[hsep + 4:] if hsep >= 0 else b""
                    sm = _B_STATUS.match(payload)
                    src.append(i)
                    recs.append((
                        _bfield(hdr, "WARC-Target-URI").decode("latin-1"),
                        _bfield(hdr, "WARC-Date").decode("latin-1"),
                        int(sm.group(1)) if sm else None,
                        _bfield(http_hdr, "Content-Type").decode("latin-1"),
                        _bfield(http_hdr, "Location").decode("latin-1"),
                        _bfield(http_hdr, "Content-Encoding").decode("latin-1"),
                        body,
                    ))
            src_rows = pa.array(src, type=pa.int64())
            yield record_batch(
                [batch.column(k).take(src_rows) for k in kept],
                recs, types, schema.names,
            )

    recs = parallelism_floor(blobs, python_parallelism).mapInArrow(
        gen, schema
    )
    # warc_ts derivation shared with the JVM path (ASCII-safe in SQL)
    return recs.select(
        *keep_cols,
        "url",
        F.try_to_timestamp(
            F.regexp_replace("warc_date", "Z$", ""),
            F.lit("yyyy-MM-dd'T'HH:mm:ss"),
        ).alias("warc_ts"),
        "http_status",
        "content_type",
        "location",
        "content_encoding",
        "html",
    )
