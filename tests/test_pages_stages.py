"""Job wiring for the page-content stages: --drop-soft404,
--script-screen, --tables; batch/stream parity for the shared
soft-404 stage."""

MIXED = (
    "the quick brown fox jumps over the lazy dog near the old bridge "
    "Съешь же ещё этих мягких французских булок да выпей зелёного чаю"
)
GOOD = (
    "she opened the window and watched the quiet street below the "
    "house while the children were playing in the garden all afternoon"
)


def _pages(spark, tmp_path, name="pages", extra=()):
    rows = [
        (
            "good",
            (
                "<html><head><title>A fine page</title></head><body>"
                f"<p>{GOOD}</p>"
                "<table><tr><th>K</th><th>V</th></tr>"
                "<tr><td>a</td><td>1</td></tr></table>"
                "</body></html>"
            ).encode(),
        ),
        (
            "err",
            (
                "<html><head><title>404 Not Found</title></head>"
                "<body><p>The page you requested was not found.</p>"
                "</body></html>"
            ).encode(),
        ),
        (
            "mixed",
            f"<html><body><p>{MIXED}</p></body></html>".encode(),
        ),
        *extra,
    ]
    src = str(tmp_path / name)
    spark.createDataFrame(rows, "url string, html binary").write.parquet(src)
    return src


def test_corpus_job_soft404_script_tables(spark, tmp_path):
    from jobs.corpus_job import build_corpus

    src = _pages(spark, tmp_path)
    funnel = build_corpus(
        spark,
        src,
        str(tmp_path / "corpus"),
        min_quality=0.0,
        min_tokens=0,
        drop_soft404=True,
        script_screen=True,
        tables_path=str(tmp_path / "tables"),
    )
    # err drops BEFORE extraction; mixed drops at the script screen
    assert funnel["dropped_soft404"] == 1
    assert funnel["pages"] == 2
    assert funnel["dropped_script"] == 1
    assert funnel["corpus_docs"] == 1
    kept = spark.read.parquet(str(tmp_path / "corpus"))
    assert [r["url"] for r in kept.collect()] == ["good"]
    # audit signals ride the output when the stage ran
    row = kept.collect()[0]
    assert row["main_script"] == "latin" and row["main_fraction"] == 1.0
    # tables harvested from the RAW input (side output, pre-exclusion)
    md = spark.read.parquet(str(tmp_path / "tables")).collect()
    assert funnel["tables_extracted"] == len(md) == 1
    assert md[0]["markdown"].startswith("| K | V |\n| --- | --- |")


def test_corpus_job_stages_off_are_minus_one(spark, tmp_path):
    from jobs.corpus_job import build_corpus

    src = _pages(spark, tmp_path, "pages_off")
    funnel = build_corpus(
        spark,
        src,
        str(tmp_path / "corpus_off"),
        min_quality=0.0,
        min_tokens=0,
    )
    assert funnel["dropped_soft404"] == -1
    assert funnel["dropped_script"] == -1
    assert funnel["tables_extracted"] == -1
    assert funnel["corpus_docs"] == 3  # nothing screened
    cols = set(spark.read.parquet(str(tmp_path / "corpus_off")).columns)
    assert "main_script" not in cols


def test_stream_batch_parity_for_page_stages(spark, tmp_path):
    """The streamed corpus with --drop-soft404 --script-screen
    --honor-noai --sniff-charset keeps the same rows as the batch job,
    on the fixed sink schema."""
    from jobs.corpus_job import build_corpus
    from jobs.stream_job import SINK_COLUMNS, run_stream

    latin = "she ordered a café crème and a brûlée in the quiet street"
    src = _pages(spark, tmp_path, "pages_stream", extra=[
        (
            "optout",
            '<html><head><meta name="robots" content="noai"></head>'
            f"<body><p>{GOOD} opted out</p></body></html>".encode(),
        ),
        (
            "latin1",
            '<html><head><meta charset="iso-8859-1"></head>'
            f"<body><p>{latin}</p></body></html>".encode("latin-1"),
        ),
    ])
    gates = dict(
        min_quality=0.0,
        min_tokens=0,
        drop_soft404=True,
        script_screen=True,
        honor_noai=True,
        sniff_charset=True,
    )
    funnel = build_corpus(spark, src, str(tmp_path / "batch_out"), **gates)
    assert funnel["dropped_soft404"] == funnel["dropped_noai"] == 1
    out = str(tmp_path / "stream_out")
    q = run_stream(
        spark, src, out, str(tmp_path / "ckpt"), available_now=True, **gates
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert [c for c, _ in SINK_COLUMNS] == got.columns
    for table in (got, spark.read.parquet(str(tmp_path / "batch_out"))):
        rows = {r["url"]: r for r in table.collect()}
        # err (soft-404), mixed (script) and optout (noai) drop; the
        # latin-1 page is repaired before extraction
        assert sorted(rows) == ["good", "latin1"]
        assert rows["good"]["main_script"] == "latin"
        assert rows["latin1"]["extracted_text"] == latin


def test_corpus_job_image_pairs_side_output(spark, tmp_path):
    from jobs.corpus_job import build_corpus

    rows = [
        (
            "https://a.example.org/p",
            (
                '<html><body><img src="/x.png" alt="an x"><p>'
                + "words " * 40
                + "</p></body></html>"
            ).encode(),
        ),
    ]
    src = str(tmp_path / "pages_ip")
    spark.createDataFrame(rows, "url string, html binary").write.parquet(src)
    funnel = build_corpus(
        spark,
        src,
        str(tmp_path / "corpus_ip"),
        min_quality=0.0,
        min_tokens=0,
        image_pairs_path=str(tmp_path / "pairs"),
    )
    got = spark.read.parquet(str(tmp_path / "pairs")).collect()
    assert funnel["image_pairs_found"] == len(got) == 1
    assert got[0]["image_url"] == "https://a.example.org/x.png"
    assert got[0]["alt_text"] == "an x"


def test_corpus_job_honor_noai(spark, tmp_path):
    from jobs.corpus_job import build_corpus

    def body(tag):
        # unique text per page or the exact-dedup stage collapses them
        return (f"<p>the {tag} page " + "words " * 40
                + f'</p><img src="/x.png" alt="an x">')

    rows = [
        ("https://a.example.org/keep",
         f"<html><head></head><body>{body('keep')}</body></html>".encode()),
        ("https://a.example.org/optout",
         '<html><head><meta name="robots" content="noai"></head>'
         f"<body>{body('optout')}</body></html>".encode()),
        ("https://a.example.org/imgopt",
         '<html><head><meta name="robots" content="noimageai"></head>'
         f"<body>{body('imgopt')}</body></html>".encode()),
    ]
    src = str(tmp_path / "pages_noai")
    spark.createDataFrame(rows, "url string, html binary").write.parquet(src)
    funnel = build_corpus(
        spark,
        src,
        str(tmp_path / "corpus_noai"),
        min_quality=0.0,
        min_tokens=0,
        honor_noai=True,
        image_pairs_path=str(tmp_path / "pairs_noai"),
    )
    # noai page dropped from the TEXT corpus; noimageai text kept
    assert funnel["dropped_noai"] == 1
    kept = {r["url"] for r in
            spark.read.parquet(str(tmp_path / "corpus_noai")).collect()}
    assert kept == {"https://a.example.org/keep",
                    "https://a.example.org/imgopt"}
    # pair harvest excludes BOTH opt-outs
    pairs = {r["url"] for r in
             spark.read.parquet(str(tmp_path / "pairs_noai")).collect()}
    assert pairs == {"https://a.example.org/keep"}
    assert funnel["image_pairs_found"] == 1
