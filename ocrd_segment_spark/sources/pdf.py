"""PDF text source: layout-document ingestion without a PDF library.

The crawl's second document format after HTML (BASELINE north rule:
"HTML boilerplate strip, PDF/layout parse"). No PDF library ships in
the runtime, and none is needed for the text lane: PDF is a frozen,
regular container (objects + streams) whose only non-regular step is
FlateDecode — and zlib is in the standard library, exactly like the
``.warc.gz`` member walk (sources/warc.decode_warc_gz). The reference
engine reads page IMAGES (``/root/reference/ocrd_segment/
extract_pages.py``); text-first PDF ingestion is part of the web-scale
graft.

Frozen parse rule (the subset both the tests and the contract oracle
restate; spec references are ISO 32000-1):

- objects are ``N G obj … endobj`` spans, processed in FILE ORDER
  (byte offset), which is the deterministic document order for the
  subset — no xref chasing, so damaged/linearized files degrade
  gracefully instead of failing on a stale table;
- a stream object's data starts after the first ``stream\\r\\n`` or
  ``stream\\n`` in the object; its extent is ``/Length N`` bytes when
  the dict carries a literal integer length, else everything up to
  the nearest ``endstream`` (tolerant form, trailing EOL stripped);
- dicts naming ``/FlateDecode`` inflate via zlib; a stream that fails
  to inflate is skipped and flags ``parse_ok = false`` (the decoded
  prefix of OTHER streams is kept — partial extraction beats a lost
  document);
- text lives in ``BT … ET`` blocks of content streams, found by a
  single left-to-right TOKEN SCAN in which strings are consumed
  atomically — operator lookalikes inside shown text (a literal
  ``ET``, ``Tj``, …) can never terminate a block or fire as
  operators. Tokens apply in positional order: ``(string) Tj``
  appends, ``(string) '`` and ``(string) "`` append a newline THEN
  the string (their T* semantics), ``<hex>`` shows its hex-decoded
  bytes under the same operators, ``[…] TJ`` appends the array's
  strings concatenated (kerning numbers ignored), ``T*`` / ``x y
  Td`` / ``x y TD`` append a newline, and a string with no show
  operator is ignored;
- literal strings keep spec-legal balanced unescaped parens verbatim
  (ISO 32000-1 §7.3.4.2) and decode the escapes: ``\\n \\r \\t \\b
  \\f \\( \\) \\\\``, 1-3 digit octal ``\\ddd``, backslash-newline
  erased (line continuation), any other ``\\x`` → ``x``;
- bytes map to text as latin-1 (1:1, lossless) — font encodings and
  CID-keyed text are OUT of the subset and documented as such: real
  Unicode extraction needs the font's ToUnicode CMap, which is a
  rendering concern, not a dataflow one;
- block texts join with ``\\n``, text-bearing streams join with
  ``\\n`` (one separator between ANY two adjacent blocks, so blocks
  flatten across streams); a document with no BT block yields
  ``text = ''``;
- each BT block is a LAYOUT REGION: ``block_spans`` carries its
  [start, end) character interval in ``text`` (latin-1 is 1:1, so
  char offsets == byte offsets), and the extracted-table adapter
  turns them into ordinary ``region_spans`` rows (rtype ``block``) —
  PDFs keep the engine's span-centric contract.

Scale shape (100 TB): one Arrow-batched pystage.map_rows pass (the
codec lane — same cost model as decode_warc_gz) behind the shared
``python_parallelism`` floor. Everything downstream (quality,
language, dedup) consumes the ordinary documents shape.
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql import DataFrame, types as T

from ..pystage import map_rows

OBJ = re.compile(rb"(?s)\d+ \d+ obj(.*?)endobj")
STREAM_START = re.compile(rb"stream\r?\n")
LENGTH = re.compile(rb"/Length\s+(\d+)(?![^/>]*R)")
# the stream scanner's token alternation: literal strings are NOT
# matched here — '(' hands off to _read_literal, which walks balanced
# parens + escapes char-exactly (ISO 32000-1 §7.3.4.2 allows unescaped
# balanced parens, and operator-lookalikes like 'ET' inside a shown
# string must never terminate a block — both regex-impossible)
TOKENS = re.compile(
    rb"\("
    rb"|<([0-9A-Fa-f\s]*)>"
    rb"|\[|\]"
    rb"|\bBT\b|\bET\b|\bTJ\b|\bTj\b|'|\""
    rb"|T\*"
    rb"|(?:[-\d.]+\s+[-\d.]+\s+(?:Td|TD))",
)
ESCAPE = re.compile(rb"\\(\r\n|\r|\n|[0-7]{1,3}|.)", re.S)

_SIMPLE = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _escape_sub(m: re.Match) -> bytes:
    e = m.group(1)
    if e in (b"\r\n", b"\r", b"\n"):
        return b""  # line continuation
    if e in _SIMPLE:
        return _SIMPLE[e]
    if e.isdigit() and all(c in b"01234567" for c in e):
        return bytes([int(e, 8) & 0xFF])
    return e


def _read_literal(data: bytes, i: int) -> tuple[bytes, int]:
    """Decode the literal string starting at ``data[i] == '('``:
    balanced unescaped parens stay verbatim, escapes decode per the
    module rule. Returns (decoded bytes, index after the closing
    paren)."""
    depth, i = 1, i + 1
    out = bytearray()
    n = len(data)
    while i < n and depth:
        c = data[i]
        if c == 0x5C:  # backslash
            m = ESCAPE.match(data, i)
            if m is None:  # trailing backslash at end of data
                i += 1
                continue
            out += _escape_sub(m)
            i = m.end()
        elif c == 0x28:  # (
            depth += 1
            out += b"("
            i += 1
        elif c == 0x29:  # )
            depth -= 1
            if depth:
                out += b")"
            i += 1
        else:
            out.append(c)
            i += 1
    return bytes(out), i


def _hex_bytes(hx: bytes) -> bytes:
    clean = bytes(c for c in hx if c not in b" \t\r\n")
    if len(clean) % 2:
        clean += b"0"
    return bytes.fromhex(clean.decode("ascii"))


def _stream_blocks(data: bytes) -> list[bytes]:
    """All BT..ET block texts of one decoded content stream, by a
    single left-to-right token scan: strings are consumed atomically
    (so operator lookalikes inside shown text can't fire), shown
    strings apply at their OPERATOR (Tj / TJ / ' / "), and strings
    with no show operator are ignored."""
    blocks: list[bytes] = []
    buf: bytearray | None = None  # text of the open BT block
    pending: bytes | None = None  # last scalar string awaiting its op
    arr: list[bytes] | None = None  # open [ ... ] TJ array
    i, n = 0, len(data)
    while i < n:
        m = TOKENS.search(data, i)
        if m is None:
            break
        t = m.group(0)
        i = m.end()
        if t == b"(":
            s, i = _read_literal(data, m.start())
            if arr is not None:
                arr.append(s)
            else:
                pending = s
        elif t.startswith(b"<"):
            s = _hex_bytes(m.group(1))
            if arr is not None:
                arr.append(s)
            else:
                pending = s
        elif t == b"[":
            arr = []
        elif t == b"]":
            pending = b"".join(arr) if arr is not None else None
            arr = None
        elif t in (b"TJ", b"Tj"):
            if buf is not None and pending is not None:
                buf += pending
            pending = None
        elif t in (b"'", b'"'):
            if buf is not None and pending is not None:
                buf += b"\n" + pending
            pending = None
        elif t == b"BT":
            buf = bytearray()
        elif t == b"ET":
            if buf is not None:
                blocks.append(bytes(buf))
            buf = None
        else:  # T* / Td / TD
            if buf is not None:
                buf += b"\n"
    return blocks


def _extract_one(
    blob: bytes,
) -> tuple[int, int, int, str, bool, list[tuple[int, int]]]:
    n_objects = n_streams = n_text = 0
    blocks: list[str] = []
    ok = True
    for om in OBJ.finditer(blob):
        n_objects += 1
        body = om.group(1)
        sm = STREAM_START.search(body)
        if sm is None:
            continue
        n_streams += 1
        head, data = body[: sm.start()], body[sm.end():]
        lm = LENGTH.search(head)
        if lm is not None:
            data = data[: int(lm.group(1))]
        else:
            end = data.find(b"endstream")
            if end >= 0:
                data = data[:end]
            data = data.rstrip(b"\r\n")
        if b"/FlateDecode" in head:
            try:
                data = zlib.decompress(data)
            except zlib.error:
                ok = False
                continue
        stream_blocks = [b.decode("latin-1") for b in _stream_blocks(data)]
        if stream_blocks:
            n_text += 1
            blocks.extend(stream_blocks)
    spans, pos = [], 0
    for b in blocks:
        spans.append((pos, pos + len(b)))
        pos += len(b) + 1
    return n_objects, n_streams, n_text, "\n".join(blocks), ok, spans


def pdf_text(
    blobs: DataFrame,
    data_col: str = "data",
    python_parallelism: int | None = None,
) -> DataFrame:
    """PDF blobs → one row per document:
    carried columns + (``n_objects``, ``n_streams``, ``n_text_streams``,
    ``text``, ``parse_ok``, ``block_spans``) under the frozen subset
    rule above."""
    return map_rows(
        blobs,
        [c for c in blobs.columns if c != data_col],
        (data_col,),
        lambda b: _extract_one(bytes(b) if b is not None else b""),
        [
            T.StructField("n_objects", T.IntegerType()),
            T.StructField("n_streams", T.IntegerType()),
            T.StructField("n_text_streams", T.IntegerType()),
            T.StructField("text", T.StringType()),
            T.StructField("parse_ok", T.BooleanType()),
            T.StructField(
                "block_spans",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("start", T.LongType()),
                            T.StructField("end", T.LongType()),
                        ]
                    )
                ),
            ),
        ],
        python_parallelism,
        nullable_carry=True,
    )


def pdf_pages(
    blobs: DataFrame,
    url_col: str = "url",
    data_col: str = "data",
    python_parallelism: int | None = None,
) -> DataFrame:
    """PDF blobs → the EXTRACTED-table shape (url, extracted_text,
    region_spans, lineage) so the corpus filter chain consumes the PDF
    lane exactly like the HTML lane (jobs/corpus_job.py
    ``--input-format pdf``).

    Each BT block is a layout region: ``region_spans`` carries one
    ``rtype = 'block'`` row per block with its [start, end) interval
    in ``extracted_text`` (the engine's span contract — S3-style
    per-region crops slice PDF text exactly like HTML text).
    ``lineage`` reports the stream funnel — ``parse_failed`` mirrors
    an inflate failure, candidates/kept/dropped count content
    streams."""
    from pyspark.sql import functions as F

    t = pdf_text(
        blobs.select(url_col, data_col),
        data_col=data_col,
        python_parallelism=python_parallelism,
    )
    spans = F.expr(
        "transform(block_spans, (s, i) -> named_struct("
        " 'region_id', format_string('b%04d', i + 1),"
        " 'rtype', 'block', 'subtype', '',"
        " 'start', s.start, 'end', s.end,"
        " 'parent_id', '', 'order', i,"
        " 'score', 1.0D, 'dir', cast(null as string)))"
    )
    return t.select(
        F.col(url_col).alias("url"),
        F.col("text").alias("extracted_text"),
        spans.alias("region_spans"),
        # field-by-field (a whole-struct cast to LINEAGE_TYPE trips on
        # nullable-to-NOT-NULL; names and types match field-wise)
        F.struct(
            F.lit("pdf-subset-1").alias("kernel_version"),
            F.spark_partition_id().alias("partition_id"),
            (~F.col("parse_ok")).alias("parse_failed"),
            F.col("n_streams").alias("n_candidates"),
            F.col("n_text_streams").alias("n_kept"),
            (F.col("n_streams") - F.col("n_text_streams")).alias(
                "n_dropped"
            ),
        ).alias("lineage"),
    )


# ---------------------------------------------------------------------------
# document metadata + link actions
# ---------------------------------------------------------------------------

_TITLE_KEY = re.compile(rb"/Title\s*\(")
_AUTHOR_KEY = re.compile(rb"/Author\s*\(")
_URI_KEY = re.compile(rb"/URI\s*\(")


def pdf_extracted(
    blobs: DataFrame,
    python_parallelism: int | None = None,
    lang_margin: float | None = None,
) -> DataFrame:
    """The corpus jobs' PDF lane, batch and stream: :func:`pdf_pages`
    into the extracted-table shape, then language id as the standalone
    pass (value-identical to the html path's fused scoring,
    pytest-pinned) — one python codec stage plus one scoring stage."""
    from ..operators.langid import with_lang_ngram

    return with_lang_ngram(
        pdf_pages(blobs, python_parallelism=python_parallelism),
        text_col="extracted_text",
        python_parallelism=python_parallelism,
        margin=lang_margin,
    )


def _key_string(data: bytes, key: re.Pattern, first_only: bool):
    """Decoded literal-string value(s) of ``/Key (…)`` occurrences.
    PDF text strings beginning with the UTF-16BE BOM (FE FF) decode as
    UTF-16BE per the spec; everything else stays latin-1 (the module
    rule)."""
    out = []
    for m in key.finditer(data):
        raw, _ = _read_literal(data, m.end() - 1)
        if raw[:2] == b"\xfe\xff":
            out.append(raw[2:].decode("utf-16-be", errors="replace"))
        else:
            out.append(raw.decode("latin-1"))
        if first_only:
            break
    return out


def _meta_one(blob: bytes) -> tuple[str | None, str | None, list[str]]:
    """(title, author, uris) under the frozen rule: first /Title and
    /Author literal in file order, every /URI action deduplicated in
    first-seen order — harvested from raw object bodies AND inflated
    FlateDecode streams (annotations live in either)."""
    surfaces = [blob]
    for om in OBJ.finditer(blob):
        body = om.group(1)
        sm = STREAM_START.search(body)
        if sm is None or b"/FlateDecode" not in body[: sm.start()]:
            continue
        data = body[sm.end():]
        lm = LENGTH.search(body[: sm.start()])
        if lm is not None:
            data = data[: int(lm.group(1))]
        else:
            end = data.find(b"endstream")
            if end >= 0:
                data = data[:end]
            data = data.rstrip(b"\r\n")
        try:
            surfaces.append(zlib.decompress(data))
        except zlib.error:
            continue
    title = author = None
    uris: list[str] = []
    seen: set[str] = set()
    for s in surfaces:
        if title is None:
            t = _key_string(s, _TITLE_KEY, first_only=True)
            title = t[0] if t else None
        if author is None:
            a = _key_string(s, _AUTHOR_KEY, first_only=True)
            author = a[0] if a else None
        for u in _key_string(s, _URI_KEY, first_only=False):
            if u not in seen:
                seen.add(u)
                uris.append(u)
    return title, author, uris


def pdf_doc_meta(
    blobs: DataFrame,
    data_col: str = "data",
    python_parallelism: int | None = None,
) -> DataFrame:
    """PDF blobs → carried columns + (``title``, ``author``,
    ``uris``): the page_meta analog for the PDF lane (descriptive
    metadata) plus every /URI link action — the outlink surface
    :func:`pdf_outlinks` turns into link-graph edges."""
    return map_rows(
        blobs,
        [c for c in blobs.columns if c != data_col],
        (data_col,),
        lambda b: _meta_one(bytes(b) if b is not None else b""),
        [
            T.StructField("title", T.StringType()),
            T.StructField("author", T.StringType()),
            T.StructField("uris", T.ArrayType(T.StringType())),
        ],
        python_parallelism,
        nullable_carry=True,
    )


def pdf_outlinks(
    blobs: DataFrame,
    url_col: str = "url",
    data_col: str = "data",
    python_parallelism: int | None = None,
) -> DataFrame:
    """PDF /URI actions in the linkgraph ``outlinks`` shape
    (url, src_host, href, dst_host) so ``host_edges`` — and therefore
    PageRank and linkgraph_job — see PDF documents too. Absolute
    http(s) targets only (frozen: a relative /URI has no base in this
    subset); host derivation is the shared functions/urls rule."""
    from pyspark.sql import functions as F

    from ..functions.urls import host_of

    meta = pdf_doc_meta(
        blobs.select(url_col, data_col),
        data_col=data_col,
        python_parallelism=python_parallelism,
    )
    return (
        meta.select(
            F.col(url_col).alias("url"), F.explode("uris").alias("href")
        )
        .filter(
            F.col("href").startswith("http://")
            | F.col("href").startswith("https://")
        )
        .select(
            "url",
            host_of("url").alias("src_host"),
            "href",
            host_of("href").alias("dst_host"),
        )
        # the outlinks discipline (review finding): schemeless doc
        # urls and 'https://' husks must not mint ''-host rank nodes
        .filter((F.col("src_host") != "") & (F.col("dst_host") != ""))
    )
