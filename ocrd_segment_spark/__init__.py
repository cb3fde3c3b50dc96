"""ocrd_segment_spark — a from-scratch PySpark-native re-imagining of
OCR-D/ocrd_segment's region-segmentation pipeline for web documents.

Instead of PAGE-XML zones on scanned images (reference:
/root/reference/ocrd_segment), this engine segments each web page's DOM
into region candidates (content blocks, headings, nav, footers,
figures/captions), scores them by text/link density, repairs
overlapping/duplicate regions with the plausibilize semantics of
``ocrd-segment-repair`` (reference repair.py:310-365 decision table,
re-expressed as 1-D character-interval algebra), and serializes the
surviving main-content regions in reading order into ``extracted_text``
with per-region character spans.

Everything is idiomatic PySpark: DataFrame transforms + Arrow-batched
Python stages (``mapInArrow``), never per-row UDFs, never RDDs.
"""

KERNEL_VERSION = "1.6.0"

__all__ = ["KERNEL_VERSION"]
