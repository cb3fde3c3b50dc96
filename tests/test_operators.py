"""Tests for the reusable operator surface: COCO round-trip,
replace-text, repair, dedup, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from ocrd_segment_spark.fixtures import pages_pandas
from ocrd_segment_spark.functions import multimodal as MM
from ocrd_segment_spark.operators import dedup as D
from ocrd_segment_spark.operators import repair as R
from ocrd_segment_spark.pipeline import extract_pages
from ocrd_segment_spark.sources import coco as CC
from ocrd_segment_spark.sources.text_files import (
    replace_region_text,
    update_level_accounting,
)


@pytest.fixture(scope="module")
def extracted(spark):
    pdf = pages_pandas(40)
    return extract_pages(spark.createDataFrame(pdf)).cache()


# ------------------------------------------------------------------ coco
def test_coco_export_import_roundtrip(spark, extracted):
    images, annotations, categories = CC.export_coco(extracted)
    n_imgs = images.count()
    assert n_imgs == 40
    # dense deterministic ids
    ids = [r["image_id"] for r in images.orderBy("image_id").collect()]
    assert ids == list(range(1, n_imgs + 1))
    ann_ids = [r["ann_id"] for r in annotations.orderBy("ann_id").collect()]
    assert ann_ids == list(range(1, len(ann_ids) + 1))
    # category vocabulary covers what the extractor emits
    names = {r["name"] for r in categories.collect()}
    assert "paragraph.p" in names
    grouped = CC.import_coco(images, annotations)
    total = grouped.agg(F.sum("n_regions")).collect()[0][0]
    assert total == annotations.count()


def test_coco_ids_deterministic_across_partitioning(spark, extracted):
    _, a1, _ = CC.export_coco(extracted.repartition(7))
    _, a2, _ = CC.export_coco(extracted.repartition(2))
    assert a1.orderBy("ann_id").collect() == a2.orderBy("ann_id").collect()


# ----------------------------------------------------------- replace text
def test_replace_region_text_suffix_join(spark, extracted):
    one = extracted.limit(1).collect()[0]
    rid = one["region_spans"][0]["region_id"]
    files = spark.createDataFrame(
        [
            (f"/gt/{one['url']}_{rid}.gt.txt", "corrected text"),
            ("/gt/no-such-url_r0001.gt.txt", "orphan"),  # must be ignored
        ],
        "path string, content string",
    )
    rep = replace_region_text(extracted, files)
    rows = rep.collect()
    assert len(rows) == 1
    assert rows[0]["new_text"] == "corrected text"
    assert rows[0]["url"] == one["url"] and rows[0]["region_id"] == rid
    acct = {r["level"]: r["n_updated"] for r in update_level_accounting(rep).collect()}
    assert sum(acct.values()) == 1


# ----------------------------------------------------------------- repair
def test_repair_operator_validity_and_plausibilize(spark):
    spans = spark.createDataFrame(
        [
            ("u1", "a", 0, 100, 1, 100),
            ("u1", "b", 0, 100, 2, 100),    # equal → delete shallower 'a'
            ("u1", "c", 10, 50, 3, 100),    # contained → delete
            ("u1", "d", -5, 250, 1, 100),   # clamped by validity
            ("u1", "e", 40, 40, 1, 100),    # empty → dropped by validity
        ],
        "url string, region_id string, start long, end long, depth long, doc_len long",
    )
    valid = R.validity_filter(spans)
    assert valid.count() == 4  # 'e' dropped
    out = {r["region_id"]: r["action"] for r in R.plausibilize(valid).collect()}
    assert out["a"] == "delete" and out["c"] == "delete"
    assert out["b"] == "keep"


# ------------------------------------------------------------------ dedup
def test_dedup_operators(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup
        (3, "the quick brown fox jumps over a lazy dog today", "en"),  # near dup
        (4, "completely different words entirely here now friends", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    ex = D.exact_duplicates(df)
    dup = [r for r in ex.collect() if r["n_copies"] > 1]
    assert len(dup) == 1 and dup[0]["canonical_doc"] == 1
    cands = {(r["doc1"], r["doc2"]) for r in D.minhash_lsh_candidates(df).collect()}
    assert (1, 2) in cands
    assert (1, 4) not in cands and (2, 4) not in cands
    sh = {r["doc_id"]: r["simhash"] for r in D.simhash_fingerprints(df).collect()}
    assert sh[1] == sh[2] != sh[4]
    jac = {
        (r["doc1"], r["doc2"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(df, block_cols=("lang",)).collect()
    }
    assert jac[(1, 2)] == 1.0
    assert jac[(1, 3)] < 1.0 and jac[(1, 3)] > 0.2
    assert jac[(1, 4)] == 0.0
    # LSH-then-verify: candidates scored exactly, threshold applied —
    # (1,2) survives at 1.0; the unrelated doc 4 never pairs
    nd = {
        (r["doc1"], r["doc2"]): r["jaccard"]
        for r in D.near_duplicates(df, threshold=0.5).collect()
    }
    assert nd[(1, 2)] == 1.0
    assert all(4 not in pair for pair in nd)


# -------------------------------------------------------------- multimodal
def test_multimodal_stub_plumbing(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"abc")), (2, bytearray(b"\x00\x01\x02\xff"))],
        "doc_id long, blob binary",
    )
    meta = {r["doc_id"]: r.asDict() for r in MM.binary_meta(df).collect()}
    assert meta[1]["n_bytes"] == 3 and meta[2]["n_bytes"] == 4
    assert meta[1]["content_md5"] == "900150983cd24fb0d6963f7d28e17f72"
    assert meta[1]["modality"] == "binary" and meta[1]["width"] is None
    feats = {r["doc_id"]: r.asDict() for r in MM.extract_features(df, dim=8).collect()}
    assert len(feats[1]["feature"]) == 8
    assert all(0 <= v <= 1 for v in feats[1]["feature"])
    # deterministic across runs
    again = {r["doc_id"]: r["feature"] for r in MM.extract_features(df, dim=8).collect()}
    assert again[1] == feats[1]["feature"]
    with pytest.raises(NotImplementedError):
        MM.decode_image(b"xx")


def test_unaccounted_images_audit(spark, extracted):
    images, annotations, _ = CC.export_coco(extracted)
    missing = CC.unaccounted_images(images, annotations)
    grouped = CC.import_coco(images, annotations)
    # audit + grouped partitions the image set exactly
    assert missing.count() + grouped.count() == images.count()


def test_read_text_files_real_files(spark, extracted, tmp_path_factory):
    """S6 end-to-end on REAL files (VERDICT r1 item 8): write .gt.txt
    files to disk, drive the wholetext reader + suffix join, and check
    content fidelity through the whole path."""
    import pandas as pd
    from ocrd_segment_spark.sources.text_files import read_text_files

    gt_dir = tmp_path_factory.mktemp("gt")
    # file-name-safe urls (the frozen suffix rule matches
    # '/<url>_<region_id>.gt.txt' literally, like the reference's
    # basename globbing replace_text.py:48-58)
    pdf = pd.DataFrame(
        {
            "url": [f"doc{i}" for i in range(3)],
            "html": [
                f"<html><body><p>original text number {i}</p></body></html>".encode()
                for i in range(3)
            ],
        }
    )
    ext = extract_pages(spark.createDataFrame(pdf))
    rows = ext.collect()
    expected = {}
    for i, row in enumerate(rows):
        rid = row["region_spans"][0]["region_id"]
        content = f"corrected number {i}\nsecond line {i}"
        (gt_dir / f"{row['url']}_{rid}.gt.txt").write_text(content, encoding="utf-8")
        expected[(row["url"], rid)] = content
    # a decoy that matches no region id — must be ignored
    (gt_dir / "no-such-url_r9999.gt.txt").write_text("orphan", encoding="utf-8")

    files = read_text_files(spark, f"{gt_dir}/*.gt.txt")
    assert files.count() == 4
    rep = replace_region_text(ext, files)
    got = {(r["url"], r["region_id"]): r["new_text"] for r in rep.collect()}
    assert got == expected


def test_media_regions_through_pipeline(spark):
    """Kernel 1.3.0 media spans survive the Spark pipeline: a bare
    figure/img and an hr emit zero-length typed spans; default params
    emit none."""
    import pandas as pd
    from ocrd_segment_spark.config import ExtractParams

    html = (
        b'<html><body><h1>Title words</h1>'
        b'<figure><img src="/x.png"/></figure>'
        b'<p>body paragraph of text</p><hr/></body></html>'
    )
    pdf = pd.DataFrame({"url": ["u1"], "html": [html]})
    out = extract_pages(
        spark.createDataFrame(pdf), params=ExtractParams(media_regions=True)
    ).collect()[0]
    media = [r for r in out["region_spans"] if r["region_id"].startswith("m")]
    assert [(m["rtype"], m["subtype"]) for m in media] == [
        ("image", "img"), ("separator", "hr"),
    ]
    assert all(m["start"] == m["end"] for m in media)
    text_len = len(out["extracted_text"])
    assert media[0]["start"] == len("Title words") + 1  # start of <p> region
    assert media[1]["start"] == text_len                # trailing hr at end
    # orders continue after the text regions
    orders = [r["order"] for r in out["region_spans"]]
    assert orders == list(range(len(orders)))
    # default params: byte-identical text, no media spans
    out_def = extract_pages(spark.createDataFrame(pdf)).collect()[0]
    assert out_def["extracted_text"] == out["extracted_text"]
    assert all(not r["region_id"].startswith("m") for r in out_def["region_spans"])


def test_apply_coco_segmentation_key_fallback(spark):
    """from-coco processor: exact file_name match, unambiguous basename
    fallback, ambiguous basename refused, unmatched page → empty."""
    from ocrd_segment_spark.sources.coco import apply_coco_segmentation

    pages = spark.createDataFrame(
        [("u/exact.html", "x" * 30), ("base7.html", "y" * 30),
         ("amb.html", "z" * 30), ("lonely.html", "w" * 30)],
        "url string, extracted_text string",
    )
    images = spark.createDataFrame(
        [(1, "u/exact.html"), (2, "imported/dir/base7.html"),
         (3, "a/amb.html"), (4, "b/amb.html")],
        "image_id long, file_name string",
    )
    annotations = spark.createDataFrame(
        [(10, 1, 1, 0, 10, 1.0), (11, 1, 1, 12, 20, 0.5),
         (12, 2, 1, 3, 9, 1.0), (13, 3, 1, 0, 5, 1.0), (14, 4, 1, 0, 5, 1.0)],
        "ann_id long, image_id long, category_id long, start long, end long, score double",
    )
    categories = spark.createDataFrame(
        [(1, "paragraph.p")], "category_id long, name string"
    )
    out = {
        r["url"]: r["region_spans"]
        for r in apply_coco_segmentation(pages, images, annotations, categories).collect()
    }
    assert [(s["region_id"], s["start"], s["end"], s["order"])
            for s in out["u/exact.html"]] == [("a10", 0, 10, 0), ("a11", 12, 20, 1)]
    assert [(s["rtype"], s["start"]) for s in out["base7.html"]] == [("paragraph.p", 3)]
    assert out["amb.html"] == []     # ambiguous basename refused
    assert out["lonely.html"] == []  # no match → log-and-skip analog


# the funnel's ordered 36 keys: the append-mode stats parquet relies on
# a fixed schema, and downstream readers on this order (the quality
# drops are NOT in KEEP_COLS order: the script screen came last)
FUNNEL_KEYS = [
    "dropped_domain", "dropped_content_type", "dropped_host_rank",
    "dropped_stale_snapshot", "dropped_noindex", "dropped_canonical_alias",
    "dropped_noai", "dropped_soft404",
    "outlink_edges", "feed_links_found", "tables_extracted",
    "image_pairs_found",
    "pages", "dropped_quality", "dropped_lang", "dropped_gopher",
    "dropped_entropy", "dropped_lm", "dropped_compression", "dropped_clf",
    "dropped_script", "kept_after_filters", "kept_bpe_tokens",
    "dropped_exact_dup", "corpus_docs",
    "near_dup_candidates", "boilerplate_units_removed",
    "boilerplate_regions_removed", "pii_docs_redacted", "contaminated_docs",
    "shards_written", "sequences_packed",
    "diff_added", "diff_removed", "diff_changed", "diff_unchanged",
]


def test_corpus_job_funnel(spark, tmp_path):
    """End-to-end training-corpus job: extract -> score -> filter ->
    exact-dedup -> write, with attributable funnel accounting."""
    import pandas as pd
    from jobs.corpus_job import build_corpus

    rows = []
    body = "good long paragraph with many meaningful tokens " * 4
    for i in range(6):
        rows.append((f"doc{i}", f"<html><body><p>{body}{i}</p></body></html>".encode()))
    # exact duplicate of doc0's content
    rows.append(("dup0", f"<html><body><p>{body}0</p></body></html>".encode()))
    # low quality: too short
    rows.append(("tiny", b"<html><body><p>ok go</p></body></html>"))
    pdf = pd.DataFrame(rows, columns=["url", "html"])
    src = str(tmp_path / "pages")
    out = str(tmp_path / "corpus")
    stats = str(tmp_path / "stats")
    spark.createDataFrame(pdf).write.parquet(src)

    audit = str(tmp_path / "neardup")
    funnel = build_corpus(
        spark, src, out, stats_path=stats, min_tokens=5, near_dup_audit=audit
    )
    assert funnel["pages"] == 8
    assert funnel["dropped_quality"] == 1      # 'tiny'
    assert funnel["dropped_exact_dup"] == 1    # 'dup0' vs 'doc0'
    assert funnel["corpus_docs"] == 6
    got = spark.read.parquet(out)
    urls = {r["url"] for r in got.select("url").collect()}
    assert urls == {f"doc{i}" for i in range(6)}  # canonical = min url
    assert {"extracted_text", "quality", "pred_lang", "n_tokens"} <= set(got.columns)
    assert list(funnel) == FUNNEL_KEYS
    assert spark.read.parquet(stats).columns == sorted(FUNNEL_KEYS)
    st = spark.read.parquet(stats).collect()[0]
    assert st["corpus_docs"] == 6
    # near-dup audit table exists; docs share heavy boilerplate so the
    # LSH stage must surface candidate pairs without dropping anything
    pairs = spark.read.parquet(audit)
    assert funnel["near_dup_candidates"] == pairs.count() > 0
    assert spark.read.parquet(out).count() == 6  # audit-only, no drops


def test_corpus_job_gopher_and_boilerplate_stages(spark, tmp_path):
    """--gopher drops repetition-degenerate pages (attributed in the
    funnel); --boilerplate-min-df writes <output>_clean with corpus-
    frequent lines removed, without touching the main table."""
    import pandas as pd
    from jobs.corpus_job import build_corpus

    rows = []
    # 4 good pages sharing a boilerplate paragraph + a unique one;
    # the body must be repetition-free or the gopher dup-2-gram rule
    # (correctly) fires on it
    words = " ".join(f"abc{j} defg{j}" for j in range(30))
    for i in range(4):
        html = (f"<html><body><p>cookie banner accept all</p>"
                f"<p>{words} unique{i}</p></body></html>")
        rows.append((f"doc{i}", html.encode()))
    # degenerate page: one token repeated — passes the basic quality
    # score (4-char tokens are not "short", 80 tokens), fails the
    # gopher dup-2-gram rule
    rows.append(("spam", ("<html><body><p>" + "spam " * 80 + "</p></body></html>").encode()))
    pdf = pd.DataFrame(rows, columns=["url", "html"])
    src = str(tmp_path / "pages")
    out = str(tmp_path / "corpus")
    spark.createDataFrame(pdf).write.parquet(src)

    bench_path = str(tmp_path / "bench")
    # benchmark shares doc1's unique token run -> doc1 is contaminated
    spark.createDataFrame(
        [(100, f"{words} unique1 extra benchmark phrasing")],
        "doc_id long, text string",
    ).write.parquet(bench_path)
    funnel = build_corpus(
        spark, src, out, min_tokens=5, gopher=True, boilerplate_min_df=3,
        decontaminate_path=bench_path,
    )
    assert funnel["dropped_gopher"] == 1 and funnel["corpus_docs"] == 4
    main = spark.read.parquet(out)
    assert "clean_text" not in main.columns  # main table untouched
    clean = {r["url"]: r for r in spark.read.parquet(out + "_clean").collect()}
    assert len(clean) == 4
    assert all(r["n_removed"] == 1 for r in clean.values())  # the banner
    assert all("cookie banner" not in r["clean_text"] for r in clean.values())
    assert all(f"unique{i}" in clean[f"doc{i}"]["clean_text"] for i in range(4))
    assert funnel["boilerplate_units_removed"] == 4
    cont = spark.read.parquet(out + "_contaminated").collect()
    assert funnel["contaminated_docs"] == len(cont)
    # every docN shares the 60-token body run with the benchmark, so
    # the flagged set is EXACTLY the four corpus docs — an exact-set
    # assert so over-flagging (e.g. a broken shingle join) fails too
    assert {r["url"] for r in cont} == {f"doc{i}" for i in range(4)}


def test_apply_coco_duplicate_file_name_refused(spark):
    """file_name is NOT a key in COCO — a duplicated exact name must
    not fan the page join out (frozen rule: ambiguous → refused)."""
    from ocrd_segment_spark.sources.coco import apply_coco_segmentation

    pages = spark.createDataFrame([("a.html", "t" * 20)], "url string, extracted_text string")
    images = spark.createDataFrame(
        [(1, "a.html"), (2, "a.html")], "image_id long, file_name string"
    )
    annotations = spark.createDataFrame(
        [(10, 1, 1, 0, 5, 1.0), (11, 2, 1, 5, 9, 1.0)],
        "ann_id long, image_id long, category_id long, start long, end long, score double",
    )
    categories = spark.createDataFrame([(1, "x")], "category_id long, name string")
    rows = apply_coco_segmentation(pages, images, annotations, categories).collect()
    assert len(rows) == 1           # no fan-out
    assert rows[0]["region_spans"] == []  # ambiguous → refused


def test_apply_coco_one_sided_duplicate_still_refused(spark):
    """A name shared by several images where only ONE carries
    annotations is STILL ambiguous (which image did the annotator
    mean?) — uniqueness is judged over all images, not just annotated
    ones. Covers both the exact-name and basename guard levels."""
    from ocrd_segment_spark.sources.coco import apply_coco_segmentation

    pages = spark.createDataFrame(
        [("a.html", "t" * 20), ("b.html", "u" * 20)],
        "url string, extracted_text string",
    )
    images = spark.createDataFrame(
        # a.html duplicated at the exact-name level (only image 1
        # annotated); b.html duplicated at the basename level (only
        # image 3 annotated)
        [(1, "a.html"), (2, "a.html"), (3, "x/b.html"), (4, "y/b.html")],
        "image_id long, file_name string",
    )
    annotations = spark.createDataFrame(
        [(10, 1, 1, 0, 5, 1.0), (11, 3, 1, 2, 8, 1.0)],
        "ann_id long, image_id long, category_id long, start long, end long, score double",
    )
    categories = spark.createDataFrame([(1, "x")], "category_id long, name string")
    out = {
        r["url"]: r["region_spans"]
        for r in apply_coco_segmentation(pages, images, annotations, categories).collect()
    }
    assert out == {"a.html": [], "b.html": []}


def test_corpus_job_empty_input(spark, tmp_path):
    """Zero-row input: the funnel records zeros instead of crashing."""
    import pandas as pd
    from jobs.corpus_job import build_corpus

    src = str(tmp_path / "pages")
    spark.createDataFrame(
        pd.DataFrame({"url": pd.Series(dtype="str"), "html": pd.Series(dtype="object")}),
        "url string, html binary",
    ).write.parquet(src)
    funnel = build_corpus(spark, src, str(tmp_path / "corpus"))
    assert funnel == {
        "dropped_domain": -1, "dropped_host_rank": -1,
        "dropped_stale_snapshot": -1,
        "dropped_noindex": -1, "dropped_canonical_alias": -1,
        "dropped_content_type": -1,
        "pages": 0, "dropped_quality": 0, "dropped_lang": 0,
        "dropped_gopher": 0, "dropped_entropy": -1, "dropped_lm": -1,
        "dropped_compression": -1, "dropped_clf": -1, "kept_after_filters": 0,
        "kept_bpe_tokens": -1,
        "dropped_exact_dup": 0, "corpus_docs": 0,
        "near_dup_candidates": -1, "boilerplate_units_removed": -1,
        "boilerplate_regions_removed": -1, "pii_docs_redacted": -1,
        "contaminated_docs": -1,
        "outlink_edges": -1, "feed_links_found": -1,
        "tables_extracted": -1, "image_pairs_found": -1,
        "dropped_soft404": -1, "dropped_script": -1,
        "dropped_noai": -1,
        "shards_written": -1,
        "sequences_packed": -1,
        "diff_added": -1, "diff_removed": -1,
        "diff_changed": -1, "diff_unchanged": -1,
    }


def test_label_import_is_kernel_schema_compatible(spark):
    """Imported label segmentations are drop-in for downstream
    consumers that read the full kernel region schema (the from-coco
    contract): export_coco and gt_review_table must both work."""
    from ocrd_segment_spark.sources.coco import export_coco
    from ocrd_segment_spark.sources.labels import import_label_segmentation
    from ocrd_segment_spark.sources.text_files import gt_review_table

    df = spark.createDataFrame(
        [("u1", "head text body words here", "hhhhhhhhhppppppppppppppp")],
        "url string, extracted_text string, labels string",
    )
    seg = import_label_segmentation(df, {"h": "heading", "p": "paragraph"})
    images, annotations, categories = export_coco(seg)
    assert annotations.count() == 2
    assert {r["name"] for r in categories.collect()} == {"heading.h", "paragraph.p"}
    review = gt_review_table(seg, line_width=2, vocabulary="derive").collect()
    assert {r["rtype"] for r in review} == {"heading", "paragraph"}
    assert all(r["validation"] == "heading|paragraph" for r in review)
    assert all(r["score"] == 1.0 for r in review)


def test_gt_review_default_vocabulary_runs_no_job(spark):
    """The library default must be the kernel rtype constant with NO
    driver action: building the review table plan may not trigger a
    Spark job (round-3 advice — the `.collect()` derivation is now
    the opt-in ``vocabulary="derive"`` path only)."""
    from ocrd_segment_spark.kernel.extract import RTYPE_VOCABULARY
    from ocrd_segment_spark.sources.labels import import_label_segmentation
    from ocrd_segment_spark.sources.text_files import gt_review_table

    df = spark.createDataFrame(
        [("u1", "head text", "hhhhppppp")],
        "url string, extracted_text string, labels string",
    )
    seg = import_label_segmentation(df, {"h": "heading", "p": "paragraph"})
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    table = gt_review_table(seg, line_width=2)  # plan only — must be lazy
    assert tracker.getJobIdsForGroup(None) == before
    rows = table.collect()
    expected = "|".join(RTYPE_VOCABULARY)
    assert rows and all(r["validation"] == expected for r in rows)
    # the constant stays in lockstep with the classifier: every rtype
    # the kernel can emit (incl. via label import) must be in it
    assert {"heading", "paragraph"} <= set(RTYPE_VOCABULARY)
    assert list(RTYPE_VOCABULARY) == sorted(set(RTYPE_VOCABULARY))


def test_sniff_image_headers():
    """Real container-header decode (no codec): PNG/GIF/JPEG/BMP magic,
    dimensions and bit depth parsed from the actual header bytes;
    truncated/garbage input returns None instead of raising."""
    from ocrd_segment_spark.functions.multimodal import sniff_image

    png = (b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
           + (640).to_bytes(4, "big") + (480).to_bytes(4, "big")
           + bytes([8, 6, 0, 0, 0]))
    assert sniff_image(png) == ("png", 640, 480, 8)
    gif = (b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little")
           + bytes([0x87, 0, 0]))
    assert sniff_image(gif) == ("gif", 320, 200, 8)
    # JPEG with an APP0 (JFIF) segment BEFORE the SOF0 frame — the
    # segment walk must skip non-frame markers by their length
    jfif = (b"\xff\xd8"
            + b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + bytes(9)
            + b"\xff\xc0" + (17).to_bytes(2, "big") + bytes([8])
            + (480).to_bytes(2, "big") + (640).to_bytes(2, "big") + bytes([3]))
    assert sniff_image(jfif) == ("jpeg", 640, 480, 8)
    bmp = (b"BM" + bytes(16) + (800).to_bytes(4, "little")
           + (-600).to_bytes(4, "little", signed=True)  # top-down: negative h
           + bytes(2) + (24).to_bytes(2, "little"))
    assert sniff_image(bmp) == ("bmp", 800, 600, 24)
    for junk in (b"", b"\x89PNG", png[:20], b"\xff\xd8\xff", b"GIF89a\x01",
                 b"plain text", b"\xff\xd8" + b"\xff\xc4\x00\x02"):
        assert sniff_image(junk) is None, junk


def test_deterministic_sampling_and_split(spark):
    """operators/sampling: membership is a pure function of the key —
    identical rows under any partitioning; stratified thresholds hold;
    group-keyed split keeps whole groups together (leakage guard) and
    the plan stays narrow (no Exchange)."""
    from ocrd_segment_spark.operators.sampling import (
        hash_sample,
        stratified_sample,
        train_val_test_split,
    )
    from ocrd_segment_spark.plans import audit

    df = spark.range(2000).selectExpr(
        "id as doc_id",
        "concat('site', cast(id % 37 as string)) as source",
        "CASE WHEN id % 3 = 0 THEN 'en' ELSE 'de' END as lang",
    )
    s1 = {r["doc_id"] for r in hash_sample(df, 0.2, salt="x").collect()}
    s2 = {r["doc_id"] for r in hash_sample(df.repartition(13), 0.2, salt="x").collect()}
    assert s1 == s2 and 200 < len(s1) < 600  # deterministic, ~20%
    assert not audit.has_exchange(hash_sample(df, 0.2, salt="x"))
    # different salt → decorrelated (not identical) sample
    s3 = {r["doc_id"] for r in hash_sample(df, 0.2, salt="y").collect()}
    assert s3 != s1
    # stratified: 'en' kept fully, 'de' ~10%
    strat = stratified_sample(df, {"en": 1.0, "de": 0.1}, key_col="doc_id")
    by_lang = {
        r["lang"]: r["n"]
        for r in strat.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert by_lang["en"] == 667 and 50 < by_lang.get("de", 0) < 250
    # split: every source in exactly one split; weights roughly hold
    sp = train_val_test_split(df, group_col="source", weights=(0.6, 0.2, 0.2))
    per_src = sp.groupBy("source").agg(
        F.countDistinct("split").alias("k")
    ).collect()
    assert all(r["k"] == 1 for r in per_src)
    counts = {r["split"]: r["n"] for r in sp.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) <= {"train", "val", "test"} and counts["train"] > counts.get("val", 0)
    # invalid inputs refuse
    with pytest.raises(ValueError):
        hash_sample(df, 1.5)
    with pytest.raises(ValueError):
        train_val_test_split(df, weights=(0.9, 0.3, 0.2))


def test_merge_corpus_incremental_dedup(spark):
    """Batch-vs-corpus exact merge: duplicates of existing content and
    later within-batch copies drop; genuinely new docs join."""
    existing = spark.createDataFrame(
        [(1, "alpha content here"), (2, "beta content here")],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            (10, "alpha content here"),   # dup of corpus doc 1 -> dropped
            (11, "gamma brand new doc"),  # new
            (12, "gamma brand new doc"),  # within-batch dup of 11 -> dropped
            (13, "delta also new"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["origin"] for r in D.merge_corpus(existing, incoming).collect()}
    assert out == {1: "existing", 2: "existing", 11: "new", 13: "new"}


def test_cross_corpus_candidates_only_cross_pairs(spark):
    """The two-corpus LSH join must propose batch-vs-corpus pairs only
    — never existing-vs-existing (that's the cost guarantee)."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    existing = spark.createDataFrame(
        [(2, base), (4, base + " tail"), (6, "completely different corpus text here today")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, base), (3, "unrelated fresh batch document words")],
        "doc_id long, text string",
    )
    pairs = {(r["new_id"], r["existing_id"])
             for r in D.cross_corpus_candidates(new, existing).collect()}
    assert (1, 2) in pairs                       # near-dup across corpora
    assert all(n in (1, 3) for n, _ in pairs)    # new side only from batch
    assert all(e in (2, 4, 6) for _, e in pairs)
    assert (2, 4) not in pairs and (4, 2) not in pairs


def test_exact_substring_dedup_canonical_and_overlap(spark):
    """Lee-et-al. pass: the canonical (min doc, pos) occurrence keeps
    its tokens; every other occurrence of a duplicated k-window loses
    them, overlapping windows union, short docs pass through."""
    rows = [
        (1, "alpha beta gamma delta epsilon unique one two"),
        (2, "prefix alpha beta gamma delta epsilon zeta tail"),  # 2 overlapping 5-windows
        (3, "alpha beta gamma delta epsilon zeta"),
        (4, "tiny"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.exact_substring_dedup(df, k=5).collect()}
    assert out[1]["n_tokens_removed"] == 0          # canonical 'alpha..epsilon'
    # doc2: 'alpha..epsilon' (pos 1) duplicates doc1 pos 0 -> tokens
    # 1..5 removed; 'beta..zeta' (pos 2) is CANONICAL ((2,2) < (3,1))
    # so token 6 'zeta' survives the union
    assert out[2]["clean_text"] == "prefix zeta tail"
    assert out[2]["n_tokens_removed"] == 5
    # doc3 is canonical for neither window -> loses every token
    assert out[3]["clean_text"] == "" and out[3]["n_tokens_removed"] == 6
    assert out[4]["clean_text"] == "tiny" and out[4]["n_tokens_removed"] == 0


def test_exact_substring_dedup_invariants(spark):
    """Determinism across partitioning (the canonical pick must not
    depend on physical layout), identity when nothing repeats, and
    no-op below the occurrence threshold."""
    rows = [(i, f"unique{i} words{i} only{i} here{i} now{i} end{i}") for i in range(8)]
    rows += [(100, "dup one two three four five"), (101, "dup one two three four five")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(tuple(r) for r in D.exact_substring_dedup(df.repartition(7), k=5).collect())
    b = sorted(tuple(r) for r in D.exact_substring_dedup(df.repartition(2), k=5).collect())
    assert a == b
    out = {r[0]: r for r in a}
    assert all(out[i][3] == 0 and out[i][1] == rows[i][1] for i in range(8))  # identity
    assert out[100][3] == 0 and out[101][3] == 6  # canonical kept, dup emptied
    # min_occurrences above the max multiplicity: full identity
    none = D.exact_substring_dedup(df, k=5, min_occurrences=3).collect()
    assert all(r["n_tokens_removed"] == 0 for r in none)


def test_domain_cap_two_phase_equals_global_window(spark):
    """domain_cap's scale-safe two-phase top-k must EXACTLY equal the
    naive single global window, including on a skewed input (one
    domain holding most rows — the case the operator exists for)."""
    from pyspark.sql import Window as W

    from ocrd_segment_spark.operators.sampling import _bucket, domain_cap

    rows = [(i, "hot.com" if i < 170 else f"d{i % 11}.org")
            for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, reg_domain string")
    got = {r["doc_id"] for r in domain_cap(df, 5).collect()}

    naive = df.withColumn("__b", _bucket("doc_id", "domcap"))
    w = W.partitionBy("reg_domain").orderBy(F.asc("__b"), F.asc("doc_id"))
    want = {
        r["doc_id"]
        for r in naive.withColumn("rn", F.row_number().over(w))
        .filter("rn <= 5")
        .collect()
    }
    assert got == want
    counts = (
        domain_cap(df, 5).groupBy("reg_domain").count().collect()
    )
    assert all(r["count"] <= 5 for r in counts)
    assert {r["count"] for r in counts if r["reg_domain"] == "hot.com"} == {5}
    # determinism: a second run selects the identical set
    assert {r["doc_id"] for r in domain_cap(df, 5).collect()} == got


def test_token_budget_sample_edges(spark):
    """Budget 0 keeps nothing; a budget covering everything keeps
    everything; the crossing document is excluded; empty input is
    legal."""
    from ocrd_segment_spark.operators.sampling import token_budget_sample

    df = spark.createDataFrame(
        [(i, 10) for i in range(20)], "doc_id long, n_tokens long"
    )
    assert token_budget_sample(df, 0).count() == 0
    assert token_budget_sample(df, 10_000).count() == 20
    # 20 docs x 10 tokens: budget 95 keeps exactly 9 (the 10th would
    # reach 100 > 95)
    kept = token_budget_sample(df, 95).collect()
    assert len(kept) == 9 and sum(r["n_tokens"] for r in kept) == 90
    empty = spark.createDataFrame([], "doc_id long, n_tokens long")
    assert token_budget_sample(empty, 100).count() == 0


def test_host_blocklist_is_exact_host(spark):
    """with_host_blocked blocks ONLY the exact host — sibling
    subdomains and the registered domain itself survive (the
    deliberate contrast with with_domain_blocked)."""
    from ocrd_segment_spark.functions.urls import with_host_blocked

    docs = spark.createDataFrame(
        [(1, "https://ads.example.org/x"), (2, "https://www.example.org/y"),
         (3, "https://example.org/z")],
        "doc_id long, url string",
    )
    bl = spark.createDataFrame([("https://ADS.example.org:443/p?q=1",)],
                               "host string")
    out = {r["doc_id"]: r["host_blocked"]
           for r in with_host_blocked(docs, bl).collect()}
    assert out == {1: True, 2: False, 3: False}


def test_lsh_index_persist_and_add_batch(spark, tmp_path):
    """build_lsh_index / lsh_add_batch: parameters are pinned with the
    index, already-indexed ids are skipped, candidates split into
    via='index' vs via='batch', and the indexed corpus is never
    re-banded (the append lands AFTER the candidate join's snapshot)."""
    from ocrd_segment_spark.operators.dedup import (
        build_lsh_index,
        cross_corpus_candidates,
        lsh_add_batch,
        minhash_lsh_candidates,
    )

    text = "the quick brown fox jumps over the lazy dog in the garden"
    base = spark.createDataFrame(
        [(0, text), (2, text + " x"), (4, "completely different words entirely here now friends")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(1, text), (3, text), (0, text)],  # 0 already indexed → skipped
        "doc_id long, text string",
    )
    path = str(tmp_path / "lsh")
    build_lsh_index(base, path)
    pairs = lsh_add_batch(spark, path, batch).collect()
    got = {(r["new_id"], r["other_id"], r["via"]) for r in pairs}
    # parity with the recompute-everything forms
    want_index = {
        (r["new_id"], r["existing_id"], "index")
        for r in cross_corpus_candidates(
            batch.filter("doc_id != 0"), base
        ).collect()
    }
    want_batch = {
        (r["doc1"], r["doc2"], "batch")
        for r in minhash_lsh_candidates(batch.filter("doc_id != 0")).collect()
    }
    assert got == want_index | want_batch
    assert (1, 3, "batch") in got and any(v == "index" for _, _, v in got)
    assert not any(n == 0 for n, _, _ in got)  # indexed id skipped
    # the batch's bands were appended: a second identical add is a no-op
    pairs2 = lsh_add_batch(spark, path, batch).collect()
    assert pairs2 == []


def test_token_budget_stratified_edges(spark):
    """Per-stratum budgets: within each stratum the survivors equal
    token_budget_sample at that stratum's budget (same salt = same
    order); unlisted strata drop (default 0); NULL strata drop."""
    from ocrd_segment_spark.operators.sampling import (
        token_budget_sample,
        token_budget_stratified,
    )

    rows = [(i, ["en", "de", "fr", None][i % 4], 10) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long")
    out = token_budget_stratified(df, {"en": 55, "de": 25})
    got = {r["lang"]: {x["doc_id"] for x in out.filter(
        F.col("lang") == r["lang"]).collect()} for r in out.select("lang").distinct().collect()}
    assert set(got) == {"en", "de"}  # fr (unlisted) and NULL dropped
    assert len(got["en"]) == 5 and len(got["de"]) == 2  # 55//10, 25//10
    for lang, budget in (("en", 55), ("de", 25)):
        solo = {
            r["doc_id"]
            for r in token_budget_sample(
                df.filter(F.col("lang") == lang), budget
            ).collect()
        }
        assert got[lang] == solo


def test_punct_fold_map_and_span_safety(spark):
    from ocrd_segment_spark.functions.normalize import with_punct_fold
    from pyspark.sql import functions as F

    rows = [
        (1, "“Smart” ‘quotes’ — and nbsp • b"),
        (2, "plain ascii stays"),
        (3, None),
        (4, "dots… here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text_folded"], r["punct_changed"])
        for r in with_punct_fold(df).collect()
    }
    assert got[1] == ('"Smart" \'quotes\' - and nbsp * b', True)
    assert got[2] == ("plain ascii stays", False)
    assert got[3] == (None, False)  # null-safe change flag
    # default fold is length-preserving (span-safe) even on ellipsis
    assert len(got[4][0]) == len(rows[3][1])

    from ocrd_segment_spark.functions.normalize import punct_fold_col

    e = (
        df.filter("doc_id = 4")
        .select(punct_fold_col("text", ellipsis=True).alias("t"))
        .collect()[0]["t"]
    )
    assert e == "dots... here"


def test_lang_mixture_weights_alpha_half_and_one(spark):
    from ocrd_segment_spark.operators.sampling import lang_mixture_weights

    docs = spark.createDataFrame(
        [("en", 45), ("en", 45), ("de", 10), ("fr", 0)],
        "lang string, n_tokens long",
    )
    # sqrt(90)/(sqrt(90)+sqrt(10)) = 3/4 exactly (both are √10 multiples)
    half = {
        r["lang"]: (r["n_tokens"], r["weight"])
        for r in lang_mixture_weights(docs).collect()
    }
    assert half == {"en": (90, 0.75), "de": (10, 0.25), "fr": (0, 0.0)}
    # alpha=1 is proportional sampling
    prop = {
        r["lang"]: r["weight"]
        for r in lang_mixture_weights(docs, alpha=1.0).collect()
    }
    assert prop == {"en": 0.9, "de": 0.1, "fr": 0.0}


# ---------------------------------------------------------------------------
# content-type sniffing
# ---------------------------------------------------------------------------


def test_content_type_magic_bytes(spark):
    from ocrd_segment_spark.functions.multimodal import with_content_type

    rows = [
        (1, b"%PDF-1.7 blah"),
        (2, b"\x1f\x8b\x08rest"),
        (3, b"PK\x03\x04zipfile"),
        (4, b"\x89PNG\r\n\x1a\nihdr"),
        (5, b"GIF87a..."),
        (6, b"\xff\xd8\xff\xe1exif"),
        (7, b"BM..bitmap"),
        (8, b"RIFF\x10\x00\x00\x00WEBPVP8 "),
        (9, b"\xef\xbb\xbf\n\t  <!DOCTYPE html><html>"),
        (10, b"<html><body>x</body></html>"),
        (11, b"  <?xml version=\"1.0\"?><r/>"),
        (12, b"just some text"),
        (13, b"RIFF\x10\x00\x00\x00WAVEfmt "),  # RIFF but not WEBP
        (14, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {
        r["doc_id"]: r["content_type"]
        for r in with_content_type(df, blob_col="blob").collect()
    }
    assert got == {
        1: "application/pdf",
        2: "application/gzip",
        3: "application/zip",
        4: "image/png",
        5: "image/gif",
        6: "image/jpeg",
        7: "image/bmp",
        8: "image/webp",
        9: "text/html",
        10: "text/html",
        11: "text/xml",
        12: "application/octet-stream",
        13: "application/octet-stream",
        14: None,
    }


def test_content_type_no_shuffle(spark):
    from ocrd_segment_spark.functions.multimodal import with_content_type
    from ocrd_segment_spark.plans import audit

    df = spark.createDataFrame([(1, b"x")], "doc_id long, blob binary")
    out = with_content_type(df, blob_col="blob")
    assert not audit.has_exchange(out)


# ---------------------------------------------------------------------------
# index deletes
# ---------------------------------------------------------------------------


def test_index_delete_equals_rebuild(spark):
    from ocrd_segment_spark.operators.index import (
        bm25_topk,
        build_postings,
        delete_docs,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark join window"),
            (2, "join join join filler"),
            (3, "window spark spark"),
            (4, "unrelated words only"),
        ],
        "doc_id long, text string",
    )
    full = build_postings(docs)
    tomb = spark.createDataFrame([(2,)], "doc_id long")
    masked = bm25_topk(delete_docs(full, tomb), ["join", "spark"], k=10)
    rebuilt = bm25_topk(
        build_postings(docs.filter("doc_id <> 2")), ["join", "spark"], k=10
    )
    assert sorted(map(tuple, masked.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )


def test_index_delete_then_add_roundtrip(spark):
    from ocrd_segment_spark.operators.index import (
        build_postings,
        delete_docs,
        index_add_batch,
    )

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "b c"), (3, "c d")], "doc_id long, text string"
    )
    postings = build_postings(docs)
    tomb = spark.createDataFrame([(2,)], "doc_id long")
    pruned = delete_docs(postings, tomb)
    # re-adding the deleted doc after compaction restores the index
    delta = index_add_batch(pruned, docs.filter("doc_id = 2"))
    restored = pruned.unionByName(delta)
    assert sorted(map(tuple, restored.collect())) == sorted(
        map(tuple, postings.collect())
    )


# ---------------------------------------------------------------------------
# epoch shuffle / mixture sampling
# ---------------------------------------------------------------------------


def test_shuffle_assignment_is_permutation(spark):
    from ocrd_segment_spark.operators.sampling import shuffle_assignment

    d = spark.range(0, 1000).selectExpr("id as doc_id")
    out = shuffle_assignment(d, n_shards=8, seed="e1").collect()
    assert len(out) == 1000
    # (shard, pos) is a key: positions are 1..n_shard within each shard
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) == set(range(8))
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    # shard sizes near-uniform (hash balance): within 3x of each other
    sizes = [len(v) for v in by_shard.values()]
    assert max(sizes) < 3 * min(sizes)


def test_shuffle_assignment_seed_changes_order(spark):
    from ocrd_segment_spark.operators.sampling import shuffle_assignment

    d = spark.range(0, 200).selectExpr("id as doc_id")
    e1 = {(r["doc_id"]): (r["shard"], r["pos"])
          for r in shuffle_assignment(d, seed="e1", n_shards=4).collect()}
    e2 = {(r["doc_id"]): (r["shard"], r["pos"])
          for r in shuffle_assignment(d, seed="e2", n_shards=4).collect()}
    assert e1 != e2  # different epoch, different permutation
    e1b = {(r["doc_id"]): (r["shard"], r["pos"])
           for r in shuffle_assignment(d, seed="e1", n_shards=4).collect()}
    assert e1 == e1b  # same seed, identical assignment


def test_mixture_keep_probs_maximal_retention(spark):
    from ocrd_segment_spark.operators.sampling import (
        lang_mixture_weights,
        mixture_keep_probs,
    )

    d = spark.createDataFrame(
        [("en", 9000), ("de", 900), ("sw", 100)],
        "lang string, n_tokens long",
    )
    w = lang_mixture_weights(d, tokens_col="n_tokens", alpha=0.5)
    probs = {r["lang"]: r["keep_prob"] for r in mixture_keep_probs(w).collect()}
    # alpha<1 upweights the smallest language most → it keeps 100%
    assert probs["sw"] == 1.0
    # the biggest language downsamples hardest
    assert probs["en"] < probs["de"] < 1.0


def test_apply_mixture_hits_target_shares(spark):
    from ocrd_segment_spark.operators.sampling import (
        apply_mixture,
        lang_mixture_weights,
    )
    from pyspark.sql import functions as F

    d = spark.range(0, 20000).selectExpr(
        "id as doc_id",
        "IF(id % 10 < 8, 'en', IF(id % 10 = 8, 'de', 'sw')) as lang",
        "100 as n_tokens",
    )
    w = lang_mixture_weights(d, tokens_col="n_tokens", alpha=0.5)
    kept = apply_mixture(d, w, key_col="doc_id", salt="t")
    counts = {r["lang"]: r["n"] for r in
              kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    target = {r["lang"]: r["weight"] for r in w.collect()}
    for lang, n in counts.items():
        # achieved share within 2 points of the declared target share
        assert abs(n / total - target[lang]) < 0.02, (lang, n / total, target)


def test_apply_mixture_drops_unweighted_lang(spark):
    from ocrd_segment_spark.operators.sampling import apply_mixture

    d = spark.createDataFrame(
        [(1, "en"), (2, "xx")], "doc_id long, lang string"
    )
    w = spark.createDataFrame(
        [("en", 100, 1.0)], "lang string, n_tokens long, weight double"
    )
    out = apply_mixture(d, w)
    assert [r["lang"] for r in out.collect()] == ["en"]


def test_containment_catches_wrapper_pages(spark):
    """A wrapper embedding a doc whole: containment1 = 1.0 even when
    the added chrome drags Jaccard below a dedup threshold."""
    from ocrd_segment_spark.operators.dedup import containment_verify_pairs

    core = "alpha beta gamma delta epsilon zeta eta theta"
    wrapper = (
        "home nav menu login search breadcrumb " + core +
        " footer copyright privacy terms contact sitemap feedback jobs"
    )
    docs = spark.createDataFrame(
        [(1, core), (2, wrapper), (3, "completely different words here")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "doc1 long, doc2 long"
    )
    out = {(r["doc1"], r["doc2"]): r for r in containment_verify_pairs(docs, pairs).collect()}
    wrap = out[(1, 2)]
    assert wrap["containment1"] == 1.0          # core fully inside wrapper
    assert wrap["containment"] == 1.0
    assert wrap["jaccard"] < 0.5                # Jaccard alone would miss it
    assert wrap["containment2"] < 1.0           # asymmetry is visible
    other = out[(1, 3)]
    assert other["jaccard"] == 0.0 and other["containment"] == 0.0


def test_sniff_media_containers(spark):
    from ocrd_segment_spark.functions.multimodal import media_meta, sniff_media

    wav = (b"RIFF" + (36).to_bytes(4, "little") + b"WAVE"
           + b"fmt " + (16).to_bytes(4, "little")
           + (1).to_bytes(2, "little") + (2).to_bytes(2, "little")
           + (44100).to_bytes(4, "little") + (176400).to_bytes(4, "little")
           + (4).to_bytes(2, "little") + (16).to_bytes(2, "little")
           # a LIST chunk BEFORE data: the walk must skip unknown chunks
           + b"LIST" + (4).to_bytes(4, "little") + b"INFO"
           + b"data" + (88200).to_bytes(4, "little"))
    assert sniff_media(wav) == ("wav", 2, 44100, 16, None, 0.5)

    # mvhd VERSION 1 (64-bit times): timescale at +20, duration 8 bytes
    body = bytes([1, 0, 0, 0]) + b"\x00" * 16 \
        + (1000).to_bytes(4, "big") + (2500).to_bytes(8, "big")
    mvhd = (8 + len(body)).to_bytes(4, "big") + b"mvhd" + body
    moov = (8 + len(mvhd)).to_bytes(4, "big") + b"moov" + mvhd
    mp4 = (16).to_bytes(4, "big") + b"ftyp" + b"mp42" + b"\x00" * 4 + moov
    assert sniff_media(mp4) == ("mp4", None, None, None, "mp42", 2.5)

    # truncated / garbage inputs never raise
    assert sniff_media(wav[:20]) == ("wav", None, None, None, None, None)
    assert sniff_media(b"\x00\x01") is None

    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(mp4)), (3, bytearray(b"xx"))],
        "doc_id long, blob binary",
    )
    rows = {r["doc_id"]: (r["kind"], r["duration_s"])
            for r in media_meta(df).collect()}
    assert rows == {1: ("wav", 0.5), 2: ("mp4", 2.5), 3: (None, None)}


def test_host_quality_priors_and_droplist(spark):
    from ocrd_segment_spark.operators.hoststats import (
        host_quality_priors,
        low_quality_hosts,
    )

    rows = (
        [(f"https://good.org/{i}", 0.75, "en") for i in range(10)]
        + [(f"https://spam.org/{i}", 0.25, "en") for i in range(6)]
        + [(f"https://spam.org/x{i}", 0.25, "de") for i in range(6)]
        + [("https://mixed.org/a", 0.5, None),
           ("https://mixed.org/b", 0.5, None),
           ("https://mixed.org/c", 0.5, "fr")]
        + [("not-a-url", 1.0, "en")]  # no host -> dropped
    )
    df = spark.createDataFrame(rows, "url string, quality double, pred_lang string")
    got = {r["host"]: (r["n_docs"], r["mean_quality"], r["top_lang"], r["n_langs"])
           for r in host_quality_priors(df).collect()}
    assert got == {
        "good.org": (10, 0.75, "en", 1),
        # tie 6/6 between de and en -> lexicographic min
        "spam.org": (12, 0.25, "de", 2),
        # NULL is the modal 'language' (2 vs 1) but distinct-count excludes it
        "mixed.org": (3, 0.5, None, 1),
    }
    drops = {r["host"] for r in
             low_quality_hosts(host_quality_priors(df), min_docs=10,
                               max_mean_quality=0.3).collect()}
    assert drops == {"spam.org"}


def test_mirror_hosts_detects_mirrors_and_caps_boilerplate(spark):
    """Bharat-Broder mirror pairs: shared md5 fingerprints at host
    grain, Jaccard resemblance, all-hosts boilerplate excluded by the
    fingerprint cap, min_shared floor enforced."""
    from ocrd_segment_spark.operators.hoststats import mirror_hosts

    def pg(host, path, text):
        return (f"https://{host}/{path}", text)

    rows = (
        # a.org and b.org mirror three documents
        [pg("a.org", f"p{i}", f"mirrored body {i}") for i in range(3)]
        + [pg("b.org", f"q{i}", f"mirrored body {i}") for i in range(3)]
        # one extra unique page each (sizes 4 and 4 → jaccard 3/5)
        + [pg("a.org", "only-a", "unique to a"),
           pg("b.org", "only-b", "unique to b")]
        # c.org shares ONE doc with a.org (below min_shared=2)
        + [pg("c.org", "r0", "mirrored body 0")]
        # cookie banner on every host: cap (3) must exclude it
        + [pg(h, "banner", "we use cookies")
           for h in ("a.org", "b.org", "c.org", "d.org")]
    )
    df = spark.createDataFrame(rows, "url string, text string")
    out = mirror_hosts(
        df, max_hosts_per_fp=3, min_shared=2, min_resemblance=0.5
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["host_a"], r["host_b"]) == ("a.org", "b.org")
    assert (r["shared"], r["n_a"], r["n_b"]) == (3, 4, 4)
    assert r["resemblance"] == 0.6


def test_precomputed_shingles_paths_identical(spark):
    """Round-6 shared-shingle derivation: supplying a materialized
    _shingle_table to the LSH blocker and the Jaccard verifier must
    reproduce the default (derive-inline) outputs exactly."""
    pdf = pages_pandas(60)
    texts = [(r["text"] + " extra tail words") for _, r in pdf.iterrows()]
    docs = spark.createDataFrame(
        # each base text appears 3x (suffix-varied ids) -> real LSH
        # collisions, so the parity check bites on non-empty outputs
        [(f"{i}-{j}", texts[i % 20]) for i in range(60) for j in range(1)],
        "doc_id string, text string",
    )
    sh = D._shingle_table(docs, "doc_id", "text", 3).localCheckpoint(
        eager=True
    )
    base_cands = D.minhash_lsh_candidates(docs)
    shared_cands = D.minhash_lsh_candidates(docs, shingles=sh)
    a = {tuple(r) for r in base_cands.collect()}
    b = {tuple(r) for r in shared_cands.collect()}
    assert a == b and a  # non-empty: repeated text makes collisions
    va = {
        tuple(r)
        for r in D.jaccard_verify_pairs(docs, base_cands).collect()
    }
    vb = {
        tuple(r)
        for r in D.jaccard_verify_pairs(
            docs, shared_cands, shingles=sh
        ).collect()
    }
    assert va == vb and va
