"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns with typed metadata. The Spark
side — schema, Arrow batching, partitioning, UDF signatures, batch
shapes — is real and tested, and so is the CONTAINER-HEADER decode:
:func:`sniff_image` parses PNG/GIF/JPEG/BMP magic + dimensions +
bit depth in pure Python (no codec needed — the sizes live in the
container header, the pixel data does not have to be decoded). Only
the pixel/PCM decode step is STUBBED because no image/audio libraries
exist in this container: ``decode_image`` / ``decode_audio`` /
``sample_frames`` raise NotImplementedError by design, and
``fake_decode`` provides a deterministic stand-in so the downstream
plumbing (feature vectors, resize dims) can be exercised end-to-end.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, functions as F, types as T

from ..pystage import map_rows

# every media stage's output starts with the id and the blob size
_ID_FIELDS = [
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
]

META_FIELDS = _ID_FIELDS + [
    T.StructField("content_md5", T.StringType()),
    T.StructField("modality", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("bit_depth", T.IntegerType()),
]

# JPEG start-of-frame markers that carry dimensions (C4/C8/CC are
# huffman/arithmetic/extension tables, not frames)
_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def sniff_image(blob) -> tuple[str, int, int, int] | None:
    """(format, width, height, bit_depth) from the container header of
    PNG / GIF / JPEG / BMP bytes, or None if no magic matches. Pure
    header arithmetic — never decodes pixels, never raises on
    truncated/garbage input (returns None instead)."""
    if blob is None:
        return None
    try:
        b = bytes(blob)
        if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 26 and b[12:16] == b"IHDR":
            return (
                "png",
                int.from_bytes(b[16:20], "big"),
                int.from_bytes(b[20:24], "big"),
                b[24],
            )
        if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 11:
            return (
                "gif",
                int.from_bytes(b[6:8], "little"),
                int.from_bytes(b[8:10], "little"),
                # bit depth: global-color-table size bits when the
                # GCT-present flag (bit 7) is set; otherwise the
                # colour-resolution field — the size bits are only
                # meaningful with a GCT present
                ((b[10] & 0x07) + 1) if b[10] & 0x80 else (((b[10] >> 4) & 0x07) + 1),
            )
        if b[:2] == b"BM" and len(b) >= 30:
            return (
                "bmp",
                int.from_bytes(b[18:22], "little", signed=True),
                abs(int.from_bytes(b[22:26], "little", signed=True)),
                int.from_bytes(b[28:30], "little"),
            )
        if b[:2] == b"\xff\xd8":
            pos, n = 2, len(b)
            while pos + 4 <= n and b[pos] == 0xFF:
                marker = b[pos + 1]
                if marker == 0xFF:  # fill byte
                    pos += 1
                    continue
                if 0xD0 <= marker <= 0xD9:  # standalone (RSTn/SOI/EOI)
                    pos += 2
                    continue
                if marker in _SOF_MARKERS and pos + 9 <= n:
                    return (
                        "jpeg",
                        int.from_bytes(b[pos + 7 : pos + 9], "big"),
                        int.from_bytes(b[pos + 5 : pos + 7], "big"),
                        b[pos + 4],
                    )
                seglen = int.from_bytes(b[pos + 2 : pos + 4], "big")
                if seglen < 2:
                    break
                pos += 2 + seglen
    except (IndexError, ValueError, TypeError):  # pragma: no cover - defensive
        return None
    return None

FEATURE_FIELDS = _ID_FIELDS + [
    T.StructField("feature", T.ArrayType(T.DoubleType())),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
]


def decode_image(blob: bytes):
    """Real image decode — unavailable in this container (no PIL/cv2).
    The call site, batch shape, and schema are what the engine
    contributes; swap this body on a cluster with codecs installed."""
    raise NotImplementedError("image codecs not available in this sandbox")


def decode_audio(blob: bytes):
    raise NotImplementedError("audio codecs not available in this sandbox")


def sample_frames(blob: bytes, every_n: int = 30):
    raise NotImplementedError("video codecs not available in this sandbox")


def fake_decode(blob: bytes, dim: int = 8) -> tuple[list[float], int, int]:
    """Deterministic stand-in for decode+feature-extract: an md5-seeded
    pseudo-feature vector and fake (width, height). Pure function of
    the bytes — stable across partitions/batches."""
    h = hashlib.md5(blob).digest()
    feat = [b / 255.0 for b in h[:dim]]
    return feat, 16 + h[dim] % 64, 16 + h[dim + 1] % 64


def binary_meta(df: DataFrame, blob_col: str = "blob", id_col: str = "doc_id") -> DataFrame:
    """Typed metadata over a binary column via one vectorized
    mapInArrow pass (the S2 derived-image-scan analog): size, hash,
    sniffed modality, and REAL image dimensions/bit depth from the
    container header (:func:`sniff_image`); non-image bytes get
    modality 'binary' with null dims."""

    def row(doc_id, b):
        sniffed = sniff_image(b) or ("binary", None, None, None)
        return (doc_id, len(b), hashlib.md5(b).hexdigest(), *sniffed)

    return map_rows(df, (), (id_col, blob_col), row, META_FIELDS)


def extract_features(df: DataFrame, blob_col: str = "blob", id_col: str = "doc_id",
                     dim: int = 8) -> DataFrame:
    """Decode → feature-extract pipeline shape with the stubbed codec:
    Arrow-batched, one Python crossing, fixed-width feature output —
    identical plumbing to a real CLIP/whisper feature stage."""

    def row(doc_id, b):
        return (doc_id, len(b), *fake_decode(bytes(b), dim))

    return map_rows(df, (), (id_col, blob_col), row, FEATURE_FIELDS)


def feature_chain_predicate(features_col, selector: str = "", feature_filter: str = ""):
    """S2/P5 feature-chain predicates (reference repair.py:112-115,
    replace_original.py:41-45, ocrd-tool.json:179-182): over a lineage
    ``features: array<string>`` column,

    - ``selector``  (comma list): EVERY listed feature must be present;
    - ``feature_filter`` (comma list): NO listed feature may be present.

    Returns one boolean Column — pushes into the scan as an ordinary
    predicate (no UDF)."""
    from pyspark.sql import functions as F

    cond = F.lit(True)
    for feat in [s.strip() for s in selector.split(",") if s.strip()]:
        cond = cond & F.array_contains(features_col, feat)
    forbidden = [s.strip() for s in feature_filter.split(",") if s.strip()]
    if forbidden:
        cond = cond & ~F.arrays_overlap(
            features_col, F.array([F.lit(x) for x in forbidden])
        )
    return cond


# ---------------------------------------------------------------------------
# content-type sniffing (magic bytes) — crawl ingestion dispatch
# ---------------------------------------------------------------------------

# A fetch table's Content-Type header is advisory and frequently wrong
# (the reason every browser ships MIME sniffing); a 100 TB ingest
# routes each blob by its FIRST BYTES instead: html → the extraction
# kernel, images → binary_meta, archives/pdf → their own lanes. The
# whole classification runs in the HEX domain (the charset-sniff
# discipline): upper(hex(prefix)) is a plain ASCII string in every
# engine, so prefix tests and even the BOM/whitespace skip are
# portable string ops with zero binary-cast semantics to disagree on
# (DuckDB's blob→varchar escapes non-printables; Spark's replaces —
# casting was never parity-safe, hex is).
#
# Frozen rule set, first match wins (vocabulary stated, not guessed —
# the exact spellings below and nothing else):
#   %PDF-            → application/pdf
#   1F 8B            → application/gzip
#   PK 03 04         → application/zip
#   89 PNG ..        → image/png
#   GIF87a / GIF89a  → image/gif
#   FF D8 FF         → image/jpeg
#   BM               → image/bmp
#   RIFF....WEBP     → image/webp
#   [BOM][ws]* then '<!DOCTYPE' | '<!doctype' | '<html' | '<HTML'
#                    → text/html
#   [BOM][ws]* then '<?xml' → text/xml
#   anything else    → application/octet-stream
# ws = ASCII 09/0A/0C/0D/20; BOM = EF BB BF. Mixed-case tag spellings
# outside the four listed are frozen OUT (a sniffer, not a parser —
# the kernel downstream tolerates what the sniffer routes to it).

SNIFF_PREFIX_BYTES = 64

# hex spellings of the text-arm tokens
_H_DOCTYPE_U = "3C21444F4354595045"  # <!DOCTYPE
_H_DOCTYPE_L = "3C21646F6374797065"  # <!doctype
_H_HTML_L = "3C68746D6C"  # <html
_H_HTML_U = "3C48544D4C"  # <HTML
_H_XML = "3C3F786D6C"  # <?xml
_H_SKIP = "^(EFBBBF)?((09|0A|0C|0D|20))*"


def content_type_sql(hex_col: str, trimmed_col: str) -> str:
    """SQL CASE for the frozen magic-byte rule — the one home of the
    rule (the DuckDB oracle restates the same hex constants over the
    same prefix length). Both operands are PRE-BOUND columns: ``h`` =
    upper(hex(64-byte prefix)), ``t`` = h with the BOM/whitespace
    prefix stripped (:data:`_H_SKIP`) — binding them keeps the hex
    and the regexp to one evaluation per row instead of one per CASE
    arm (see :func:`with_content_type`)."""
    h, t = hex_col, trimmed_col
    return f"""CASE
      WHEN startswith({h}, '255044462D') THEN 'application/pdf'
      WHEN startswith({h}, '1F8B') THEN 'application/gzip'
      WHEN startswith({h}, '504B0304') THEN 'application/zip'
      WHEN startswith({h}, '89504E470D0A1A0A') THEN 'image/png'
      WHEN startswith({h}, '474946383761') OR startswith({h}, '474946383961')
        THEN 'image/gif'
      WHEN startswith({h}, 'FFD8FF') THEN 'image/jpeg'
      WHEN startswith({h}, '424D') THEN 'image/bmp'
      WHEN startswith({h}, '52494646') AND substring({h}, 17, 8) = '57454250'
        THEN 'image/webp'
      WHEN startswith({t}, '{_H_DOCTYPE_U}') OR startswith({t}, '{_H_DOCTYPE_L}')
        OR startswith({t}, '{_H_HTML_L}') OR startswith({t}, '{_H_HTML_U}')
        THEN 'text/html'
      WHEN startswith({t}, '{_H_XML}') THEN 'text/xml'
      ELSE 'application/octet-stream'
    END"""


def with_content_type(df: DataFrame, blob_col: str = "html") -> DataFrame:
    """Append ``content_type`` per the frozen magic-byte rule. Pure
    scan-stage column math (hex of a 64-byte prefix + string CASE) —
    zero Python, zero shuffle; NULL blobs classify as NULL (a missing
    fetch body is not octet-stream). The whitespace-skip is bound to
    its own column so the regexp runs once per row, not once per CASE
    arm (the CSE discipline)."""
    hexp = F.expr(
        f"upper(hex(substring({blob_col}, 1, {SNIFF_PREFIX_BYTES})))"
    )
    return (
        df.withColumn("__hx", hexp)
        .withColumn(
            "__tx", F.expr(f"regexp_replace(__hx, '{_H_SKIP}', '')")
        )
        .withColumn(
            "content_type",
            F.when(
                F.col(blob_col).isNull(), F.lit(None).cast("string")
            ).otherwise(F.expr(content_type_sql("__hx", "__tx"))),
        )
        .drop("__hx", "__tx")
    )


# ---------------------------------------------------------------------------
# audio / video container metadata (no codec needed)
# ---------------------------------------------------------------------------

def sniff_media(blob):
    """(kind, channels, sample_rate, bits, brand, duration_s) from WAV
    (RIFF chunk walk: fmt + data chunks, duration = data bytes /
    byte rate) or MP4/ISO-BMFF (top-level box walk to moov → mvhd,
    duration = mvhd duration / timescale; v0 and v1 layouts) headers —
    pure container arithmetic like :func:`sniff_image`: never decodes
    samples, never raises on truncated/garbage input (None). Fields
    that a kind does not define are None. duration rounds via the
    frozen half-away-from-zero rule (operators/langid._round6 — the
    CLAUDE.md banker's-rounding trap)."""
    from ..operators.langid import _round6

    if blob is None:
        return None
    try:
        b = bytes(blob)
        if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
            pos, n = 12, len(b)
            channels = rate = bits = byte_rate = data_size = None
            while pos + 8 <= n:
                cid = b[pos:pos + 4]
                size = int.from_bytes(b[pos + 4:pos + 8], "little")
                if cid == b"fmt " and pos + 24 <= n:
                    channels = int.from_bytes(b[pos + 10:pos + 12], "little")
                    rate = int.from_bytes(b[pos + 12:pos + 16], "little")
                    byte_rate = int.from_bytes(b[pos + 16:pos + 20], "little")
                    bits = int.from_bytes(b[pos + 22:pos + 24], "little")
                elif cid == b"data":
                    data_size = size
                pos += 8 + size + (size & 1)  # chunks pad to even
            dur = (
                _round6(data_size / byte_rate)
                if data_size is not None and byte_rate
                else None
            )
            return ("wav", channels, rate, bits, None, dur)
        if b[4:8] == b"ftyp":
            brand = b[8:12].decode("latin-1")
            pos, n = 0, len(b)
            while pos + 8 <= n:
                size = int.from_bytes(b[pos:pos + 4], "big")
                btype = b[pos + 4:pos + 8]
                if btype == b"moov":
                    inner, end = pos + 8, min(pos + size, n)
                    while inner + 8 <= end:
                        isz = int.from_bytes(b[inner:inner + 4], "big")
                        if b[inner + 4:inner + 8] == b"mvhd":
                            body = b[inner + 8:inner + isz]
                            if body[0] == 0:  # version 0: 32-bit times
                                ts = int.from_bytes(body[12:16], "big")
                                du = int.from_bytes(body[16:20], "big")
                            else:  # version 1: 64-bit times
                                ts = int.from_bytes(body[20:24], "big")
                                du = int.from_bytes(body[24:32], "big")
                            return (
                                "mp4", None, None, None, brand,
                                _round6(du / ts) if ts else None,
                            )
                        if isz < 8:
                            break
                        inner += isz
                if size < 8:
                    break
                pos += size
            return ("mp4", None, None, None, brand, None)
    except (IndexError, ValueError, TypeError):  # pragma: no cover
        return None
    return None


MEDIA_META_FIELDS = _ID_FIELDS + [
    T.StructField("kind", T.StringType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("bits", T.IntegerType()),
    T.StructField("brand", T.StringType()),
    T.StructField("duration_s", T.DoubleType()),
]


def media_meta(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    python_parallelism: int | None = None,
) -> DataFrame:
    """Typed audio/video metadata over opaque binary columns — the
    :func:`binary_meta` twin for the non-image lanes. Unrecognized
    containers keep their row with NULL fields (auditable, never
    dropped silently). ``python_parallelism`` is the shared
    parallelism floor of every codec-lane stage."""

    def row(doc_id, b):
        meta = sniff_media(b) or (None,) * 6
        return (doc_id, len(b) if b is not None else 0, *meta)

    return map_rows(
        df, (), (id_col, blob_col), row, MEDIA_META_FIELDS, python_parallelism
    )
