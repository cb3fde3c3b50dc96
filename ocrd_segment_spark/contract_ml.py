"""Training-data-pipeline operators over ``documents``/``embeddings``:
deduplication (exact, n-gram Jaccard, MinHash+LSH, SimHash,
fingerprinting), similarity search (brute-force cosine top-k, LSH
buckets, IVF assignment), text analysis (lang-id heuristic, quality
scoring, token counting), and the multimodal binary-column stub.

Everything except the multimodal stub is pure ``pyspark.sql.functions``
(JVM-side, whole-stage-codegen) — no Python in the hot path. The hash
primitives are implemented as explicit integer arithmetic (polynomial
fold mod 1e9+7) so the DuckDB oracle can state the SAME computation —
both engines fold left-to-right, so results are bit-identical.

Scale notes (100 TB design point) are in each docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from .functions import hashing as _H

# Spark-SQL fragments come from the operator library so the contract
# queries provably test the SAME computation the shipped operators run
P = _H.P
_TOKS = _H.TOKENS.format(col="text")
_STR_HASH = _H.STR_HASH

# DuckDB fragments -----------------------------------------------------------
_D_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"
_D_STR_HASH = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split({s}, ''), c -> CAST(ascii(c) AS BIGINT))), "
    f"(a, b) -> (a * 31 + b) % {P})"
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    """Exact dedup via operators/dedup.exact_duplicates: hash-groupBy
    on md5(text). At 100 TB this is the cheapest dedup pass — one
    shuffle on a 16-byte key with map-side partial aggregation."""
    from .operators import dedup as D

    return D.exact_duplicates(_t(spark, sf_dir, "documents"))


O_DEDUP_EXACT = """
SELECT md5(text) AS content_hash, count(*) AS n_copies,
       min(doc_id) AS canonical_doc
FROM documents GROUP BY md5(text)
"""


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Near-dup by word-3-gram Jaccard (operators/dedup.ngram_jaccard_pairs,
    hash-composed shingles) within (lang, length-bucket) blocks.
    Blocking bounds the pair count — the 100 TB version uses the same
    equi-join-on-block + pair filter shape, so Catalyst plans a shuffle
    on the block key instead of a cross join."""
    from .operators import dedup as D

    d = _t(spark, sf_dir, "documents").withColumn(
        "bucket", F.expr("n_chars div 100")
    )
    return D.ngram_jaccard_pairs(d, block_cols=("lang", "bucket"))


O_DEDUP_JACCARD = f"""
WITH t AS (
  SELECT doc_id, lang, n_chars // 100 AS bucket, {_D_TOKS} AS toks FROM documents
), tokh AS (
  SELECT doc_id, lang, bucket,
         list_transform(toks, s -> {_D_STR_HASH.format(s="s")}) AS th
  FROM t WHERE len(toks) >= 3
), sh AS (
  SELECT doc_id, lang, bucket,
         list_distinct(list_transform(range(1, len(th) - 1),
           i -> ((th[i] * 131 + th[i+1]) % {P} * 131 + th[i+2]) % {P})) AS sh
  FROM tokh
)
SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       round(len(list_intersect(a.sh, b.sh)) * 1.0 /
             len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
FROM sh a JOIN sh b
  ON a.lang = b.lang AND a.bucket = b.bucket AND a.doc_id < b.doc_id
"""


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash(k=8) + LSH(4 bands × 2 rows): token hash → composed
    3-gram shingle hash → min-fold signature → band values → bucket
    self-join on (band, value). Planted exact duplicates
    (doc_id+100000 for doc_id%50==0) must surface as candidate pairs.

    Perf note: each token is char-folded ONCE; shingle hashes compose
    token hashes ((h1*131 + h2)*131 + h3 mod P) — re-folding characters
    per shingle was 20× slower under Catalyst's interpreted lambdas.

    Scale path: the bucket join is an equi-join on the band value —
    shuffles only colliding docs, never all-pairs. Skewed buckets
    (boilerplate-heavy corpora) are exactly the AQE-skew-join case."""
    d = _t(spark, sf_dir, "documents")
    from .operators import dedup as D

    corpus = d.select("doc_id", "text").unionAll(
        d.filter(F.col("doc_id") % 50 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    return D.minhash_lsh_candidates(corpus, k=8, bands=4)


O_DEDUP_MINHASH = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 50 = 0
), t AS (
  SELECT doc_id, {_D_TOKS} AS toks FROM corpus
), tokh AS (
  SELECT doc_id,
         list_transform(toks, s -> {_D_STR_HASH.format(s="s")}) AS th
  FROM t WHERE len(toks) >= 3
), hs AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(th) - 1),
           i -> ((th[i] * 131 + th[i+1]) % {P} * 131 + th[i+2]) % {P})) AS hs
  FROM tokh
), sig AS (
  SELECT doc_id,
         list_transform(range(0, 8), i -> list_min(list_transform(hs,
           h -> ((2*i + 3) * h + 5*i + 7) % {P}))) AS sig
  FROM hs
), bands AS (
  SELECT doc_id, j AS band_idx,
         sig[2*j + 1] * {P} + sig[2*j + 2] AS band_val
  FROM sig, range(0, 4) r(j)
  -- hot-bucket cap (operators/dedup.py max_bucket default): keep the
  -- 1024 smallest doc ids per bucket; not binding at sf0.01 but the
  -- oracle mirrors the operator's semantics exactly
  QUALIFY row_number() OVER (PARTITION BY band_idx, band_val ORDER BY doc_id) <= 1024
)
SELECT DISTINCT b1.doc_id AS doc1, b2.doc_id AS doc2
FROM bands b1 JOIN bands b2
  ON b1.band_idx = b2.band_idx AND b1.band_val = b2.band_val
 AND b1.doc_id < b2.doc_id
"""


def q_dedup_minhash_capped(spark, sf_dir):
    """Hot-bucket cap under a PLANTED VIRAL BUCKET: 40 copies of one
    document (ids 900000+) all but guarantee one boilerplate bucket per
    band; max_bucket=8 keeps the 8 smallest ids per bucket, so the
    viral cluster emits C(8,2)=28 pairs instead of C(40,2)=780 — the
    quadratic-explosion guard the 100 TB design needs, verified
    value-exact against the oracle's QUALIFY row_number cap."""
    d = _t(spark, sf_dir, "documents")
    from .operators import dedup as D

    viral = (
        d.filter(F.col("doc_id") == 1)
        .select("text")
        .crossJoin(spark.range(40).select((F.col("id") + 900000).alias("doc_id")))
        .select("doc_id", "text")
    )
    corpus = d.filter(F.col("doc_id") < 100).select("doc_id", "text").unionAll(viral)
    return D.minhash_lsh_candidates(corpus, k=8, bands=4, max_bucket=8)


O_DEDUP_MINHASH_CAPPED = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT 900000 + r.j, d.text FROM documents d, range(0, 40) r(j)
  WHERE d.doc_id = 1
), t AS (
  SELECT doc_id, {_D_TOKS} AS toks FROM corpus
), tokh AS (
  SELECT doc_id,
         list_transform(toks, s -> {_D_STR_HASH.format(s="s")}) AS th
  FROM t WHERE len(toks) >= 3
), hs AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(th) - 1),
           i -> ((th[i] * 131 + th[i+1]) % {P} * 131 + th[i+2]) % {P})) AS hs
  FROM tokh
), sig AS (
  SELECT doc_id,
         list_transform(range(0, 8), i -> list_min(list_transform(hs,
           h -> ((2*i + 3) * h + 5*i + 7) % {P}))) AS sig
  FROM hs
), bands AS (
  SELECT doc_id, j AS band_idx,
         sig[2*j + 1] * {P} + sig[2*j + 2] AS band_val
  FROM sig, range(0, 4) r(j)
  QUALIFY row_number() OVER (PARTITION BY band_idx, band_val ORDER BY doc_id) <= 8
)
SELECT DISTINCT b1.doc_id AS doc1, b2.doc_id AS doc2
FROM bands b1 JOIN bands b2
  ON b1.band_idx = b2.band_idx AND b1.band_val = b2.band_val
 AND b1.doc_id < b2.doc_id
"""


def q_dedup_jaccard_verify(spark, sf_dir):
    """LSH-then-verify (operators/dedup.near_duplicates): MinHash+LSH
    candidate pairs over a corpus with planted duplicates, exact
    3-gram Jaccard scored for just those pairs, thresholded at 0.5.
    This is the 100 TB near-dup shape — the verify stage is two
    doc-id equi-joins (linear in |pairs|), never a block self-join;
    the planted exact dups must survive with jaccard = 1.0."""
    d = _t(spark, sf_dir, "documents")
    from .operators import dedup as D

    corpus = d.select("doc_id", "text").unionAll(
        d.filter(F.col("doc_id") % 50 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    return D.near_duplicates(corpus, threshold=0.5, k=8, bands=4)


O_DEDUP_JACCARD_VERIFY = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 50 = 0
), t AS (
  SELECT doc_id, {_D_TOKS} AS toks FROM corpus
), tokh AS (
  SELECT doc_id,
         list_transform(toks, s -> {_D_STR_HASH.format(s="s")}) AS th
  FROM t WHERE len(toks) >= 3
), hs AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(th) - 1),
           i -> ((th[i] * 131 + th[i+1]) % {P} * 131 + th[i+2]) % {P})) AS hs
  FROM tokh
), sig AS (
  SELECT doc_id,
         list_transform(range(0, 8), i -> list_min(list_transform(hs,
           h -> ((2*i + 3) * h + 5*i + 7) % {P}))) AS sig
  FROM hs
), bands AS (
  SELECT doc_id, j AS band_idx,
         sig[2*j + 1] * {P} + sig[2*j + 2] AS band_val
  FROM sig, range(0, 4) r(j)
  QUALIFY row_number() OVER (PARTITION BY band_idx, band_val ORDER BY doc_id) <= 1024
), pairs AS (
  SELECT DISTINCT b1.doc_id AS doc1, b2.doc_id AS doc2
  FROM bands b1 JOIN bands b2
    ON b1.band_idx = b2.band_idx AND b1.band_val = b2.band_val
   AND b1.doc_id < b2.doc_id
)
SELECT p.doc1 AS doc1, p.doc2 AS doc2,
       round(len(list_intersect(a.hs, b.hs)) * 1.0 /
             len(list_distinct(list_concat(a.hs, b.hs))), 6) AS jaccard
FROM pairs p
JOIN hs a ON a.doc_id = p.doc1
JOIN hs b ON b.doc_id = p.doc2
WHERE round(len(list_intersect(a.hs, b.hs)) * 1.0 /
            len(list_distinct(list_concat(a.hs, b.hs))), 6) >= 0.5
"""


def q_dedup_simhash(spark, sf_dir):
    """16-bit SimHash per document (bit-majority over token hashes).
    Pure column math; at scale, near-dup candidates come from grouping
    on simhash bands / hamming balls — here the fingerprint itself is
    the verified output."""
    from .operators import dedup as D

    return D.simhash_fingerprints(_t(spark, sf_dir, "documents"), bits=16)


O_DEDUP_SIMHASH = f"""
WITH t AS (
  SELECT doc_id, {_D_TOKS} AS toks FROM documents
), hs AS (
  SELECT doc_id,
         list_transform(toks, s -> {_D_STR_HASH.format(s="s")}) AS ths
  FROM t
)
SELECT doc_id,
       CAST(list_sum(list_transform(range(0, 16), b ->
         CASE WHEN list_sum(list_transform(ths,
                h -> ((h >> b) & 1) * 2 - 1)) > 0
              THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
FROM hs
"""


def q_fingerprint_rolling(spark, sf_dir):
    """Document fingerprint: min over word-4-gram polynomial hashes
    (winnowing-style G-analog of A4's scale estimate — one stable
    small fingerprint per doc)."""
    d = _t(spark, sf_dir, "documents")
    return d.withColumn("toks", F.expr(_TOKS)).filter(
        F.expr("size(toks) >= 4")
    ).selectExpr(
        "doc_id",
        f"transform(toks, t -> {_STR_HASH.format(s='t')}) as th",
    ).selectExpr(
        "doc_id",
        "array_min(transform(sequence(0, size(th) - 4),"
        f" i -> (((th[i] * 131 + th[i+1]) % {P} * 131 + th[i+2]) % {P}"
        f" * 131 + th[i+3]) % {P})) as fingerprint",
    )


O_FINGERPRINT = f"""
WITH t AS (
  SELECT doc_id, {_D_TOKS} AS toks FROM documents
), tokh AS (
  SELECT doc_id,
         list_transform(toks, s -> {_D_STR_HASH.format(s="s")}) AS th
  FROM t WHERE len(toks) >= 4
)
SELECT doc_id,
       list_min(list_transform(range(1, len(th) - 2),
         i -> (((th[i] * 131 + th[i+1]) % {P} * 131 + th[i+2]) % {P}
               * 131 + th[i+3]) % {P})) AS fingerprint
FROM tokh
"""


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

def q_lang_id_heuristic(spark, sf_dir):
    """Character-n-gram language-id heuristic (frequency of 'th' vs
    'er' — an honest toy; the structure, regexp_count + argmax, is the
    real operator) vs the labeled lang column."""
    from .operators.textstats import with_lang_id

    d = _t(spark, sf_dir, "documents")
    pred = with_lang_id(d)
    return pred.groupBy("lang", "pred_lang").agg(F.count("*").alias("n"))


O_LANG_ID = """
SELECT lang,
       CASE WHEN len(regexp_extract_all(text, 'th')) >= len(regexp_extract_all(text, 'er'))
            THEN 'en' ELSE 'de' END AS pred_lang,
       count(*) AS n
FROM documents GROUP BY 1, 2
"""


def q_token_count_bpe(spark, sf_dir):
    """Subword token counting (operators/bpe): greedy longest-match
    against the committed vocabulary, as ONE narrow JVM expression
    (IN-literal lists fold to InSet; per-word fold over character
    positions). Oracle: a recursive CTE stepping the same fold."""
    from .operators.bpe import with_bpe_counts

    d = _t(spark, sf_dir, "documents")
    return with_bpe_counts(d).select("doc_id", "n_bpe_tokens", "n_unk_pieces")


def _token_bpe_oracle() -> str:
    from .operators.bpe import oracle_sql as _bpe_sql

    return _bpe_sql()


O_TOKEN_BPE = _token_bpe_oracle()


def q_lang_id_ngram(spark, sf_dir):
    """REAL language identification (operators/langid): char 1+2-gram
    naive-Bayes profiles trained from the committed 11-language seed
    corpus (four scripts incl. Cyrillic, Han/kana and the Arabic RTL
    abjad), scored as one narrow Arrow-batched pass; frozen
    normalization / fold / tie rules in the module docstring.
    Supersedes the lang_id_heuristic toy for routing corpus_job
    drops."""
    from .operators.langid import with_lang_ngram

    d = _t(spark, sf_dir, "documents")
    return with_lang_ngram(d).select("doc_id", "pred_lang", "lang_logp")


def _lang_ngram_oracle(src: str = "documents", key: str = "doc_id") -> str:
    """Parameterized so contract_web's unit-grain lang_mix_stats key
    reuses the IDENTICAL model + scoring chain over an exploded-unit
    source (src must expose (key, text)); the defaults keep
    O_LANG_ID_NGRAM byte-identical to its pre-parameterization text."""
    from .operators.langid import model_values_sql

    return f"""
WITH model(g, lang, logp) AS (VALUES {model_values_sql()}),
norm AS (
  SELECT {key},
         trim(regexp_replace(
            translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                            'abcdefghijklmnopqrstuvwxyz'),
            '[ \t\n\r\f\v]+', ' ', 'g'), ' ') AS s
  FROM {src}
),
grams AS (
  SELECT {key}, s[i] AS g
  FROM norm, LATERAL (SELECT unnest(generate_series(1, length(s))) AS i)
  WHERE length(s) >= 1
  UNION ALL
  SELECT {key}, s[i] || s[i+1] AS g
  FROM norm, LATERAL (SELECT unnest(generate_series(1, length(s) - 1)) AS i)
  WHERE length(s) >= 2
),
per AS (SELECT {key}, g, count(*) AS n FROM grams GROUP BY {key}, g),
-- dense model: the inner join charges every language the smoothing
-- floor for vocab grams it lacks; out-of-vocabulary grams drop here
folded AS (
  SELECT {key}, lang,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(list_sort(list({{'g': g, 'n': n, 'logp': logp}})),
                          x -> x.n * x.logp)),
           (a, x) -> a + x) AS score
  FROM per JOIN model USING (g)
  GROUP BY {key}, lang
),
best AS (
  SELECT {key}, max({{'s': score, 'lang': lang}}) AS b
  FROM folded GROUP BY {key}
)
SELECT d.{key}, coalesce(b.b.lang, 'und') AS pred_lang,
       round(b.b.s, 6) AS lang_logp
FROM {src} d LEFT JOIN best b USING ({key})
"""


O_LANG_ID_NGRAM = _lang_ngram_oracle()


def q_langid_confusion(spark, sf_dir):
    """Held-out confusion matrix for language id WITH the frozen
    step-6 abstention rule (operators/langid DEFAULT_MARGIN): scores
    HELDOUT_CORPUS — sentences absent from SEED_CORPUS, including
    three languages OUTSIDE the model's 11-language inventory (nl, tr,
    ko) — and aggregates (true_lang, pred_lang) counts. This is the
    measured-quality surface the round-4 verdict asked for: accuracy
    is a pinned artifact of the frozen model, not an assertion.
    ``sf_dir`` is unused (fixture-driven key, like the model itself)."""
    from .operators.langid import (
        DEFAULT_MARGIN,
        HELDOUT_CORPUS,
        with_lang_ngram,
    )

    rows = [
        (lang, i, s)
        for lang, sents in HELDOUT_CORPUS.items()
        for i, s in enumerate(sents)
    ]
    d = spark.createDataFrame(rows, "true_lang string, sent_id int, text string")
    return (
        with_lang_ngram(d, margin=DEFAULT_MARGIN)
        .groupBy("true_lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n"))
    )


def _langid_confusion_oracle() -> str:
    from .operators.langid import (
        DEFAULT_MARGIN,
        heldout_values_sql,
        model_values_sql,
    )

    return f"""
WITH heldout(true_lang, sent_id, text) AS (VALUES {heldout_values_sql()}),
model(g, lang, logp) AS (VALUES {model_values_sql()}),
norm AS (
  SELECT true_lang, sent_id,
         trim(regexp_replace(
            translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                            'abcdefghijklmnopqrstuvwxyz'),
            '[ \t\n\r\f\v]+', ' ', 'g'), ' ') AS s
  FROM heldout
),
grams AS (
  SELECT true_lang, sent_id, s[i] AS g
  FROM norm, LATERAL (SELECT unnest(generate_series(1, length(s))) AS i)
  WHERE length(s) >= 1
  UNION ALL
  SELECT true_lang, sent_id, s[i] || s[i+1] AS g
  FROM norm, LATERAL (SELECT unnest(generate_series(1, length(s) - 1)) AS i)
  WHERE length(s) >= 2
),
per AS (SELECT true_lang, sent_id, g, count(*) AS n
        FROM grams GROUP BY true_lang, sent_id, g),
folded AS (
  SELECT true_lang, sent_id, lang,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(list_sort(list({{'g': g, 'n': n, 'logp': logp}})),
                          x -> x.n * x.logp)),
           (a, x) -> a + x) AS score
  FROM per JOIN model USING (g)
  GROUP BY true_lang, sent_id, lang
),
ranked AS (
  SELECT true_lang, sent_id, lang, score,
         row_number() OVER (PARTITION BY true_lang, sent_id
                            ORDER BY score DESC, lang DESC) AS r
  FROM folded
),
top2 AS (
  SELECT true_lang, sent_id,
         max(CASE WHEN r = 1 THEN score END) AS s1,
         max(CASE WHEN r = 1 THEN lang END) AS l1,
         max(CASE WHEN r = 2 THEN score END) AS s2
  FROM ranked WHERE r <= 2 GROUP BY true_lang, sent_id
),
-- step 6: the per-character top-2 gap below the frozen margin
-- abstains to 'und' (same IEEE doubles both engines: the fold, the
-- subtraction, the division and the compare are all deterministic)
preds AS (
  SELECT n.true_lang, n.sent_id,
         CASE WHEN t.s1 IS NULL THEN 'und'
              WHEN (t.s1 - t.s2) / length(n.s) < {DEFAULT_MARGIN!r}
              THEN 'und'
              ELSE t.l1 END AS pred_lang
  FROM norm n LEFT JOIN top2 t USING (true_lang, sent_id)
)
SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
FROM preds GROUP BY true_lang, pred_lang
"""


O_LANGID_CONFUSION = _langid_confusion_oracle()


def q_quality_classifier(spark, sf_dir):
    """LEARNED quality classification (operators/quality_clf): hashed
    bag-of-tokens logistic model in the fastText supervised shape,
    trained deterministically from committed keep/drop seeds; the
    scorer is one narrow JVM expression (weight table as an array
    literal, the repo's frozen polynomial hash for buckets, frozen
    left-to-right fold, round-6 logit — no transcendentals at query
    time). Complements the heuristic quality_score with a learned
    boundary."""
    from .operators.quality_clf import with_quality_classifier

    d = _t(spark, sf_dir, "documents")
    return with_quality_classifier(d).select(
        "doc_id", "clf_logit", "clf_keep"
    )


def _quality_clf_oracle() -> str:
    from .operators.quality_clf import (
        N_BUCKETS,
        train_weights,
        weights_sql_array,
    )

    _, bias = train_weights()
    bucket = f"({_D_STR_HASH.format(s='tk')}) % {N_BUCKETS} + 1"
    logit = (
        f"round({bias!r} + list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        f" vals), (a, x) -> a + x) / len(toks), 6)"
    )
    return f"""
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(
            translate(coalesce(text, ''), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                      'abcdefghijklmnopqrstuvwxyz'),
            '[ \t\n\r\f\v]+', ' ', 'g'), ' ') AS s
  FROM documents
),
t AS (
  SELECT doc_id, list_filter(string_split(s, ' '), x -> x <> '') AS toks
  FROM n
),
v AS (
  SELECT doc_id, toks,
         list_transform(toks, tk -> ({weights_sql_array()})[{bucket}]) AS vals
  FROM t
)
SELECT doc_id,
       CASE WHEN len(toks) = 0 THEN NULL ELSE {logit} END AS clf_logit,
       CASE WHEN len(toks) = 0 THEN NULL ELSE {logit} >= 0.0 END AS clf_keep
FROM v
"""


O_QUALITY_CLF = _quality_clf_oracle()


def q_quality_score(spark, sf_dir):
    """Quality scoring: token count, short-token ratio, composite
    score — all JVM-side column math."""
    from .operators.textstats import with_quality

    d = _t(spark, sf_dir, "documents")
    return with_quality(d).select("doc_id", "n_tokens", "short_ratio", "quality")


O_QUALITY = f"""
WITH t AS (SELECT doc_id, {_D_TOKS} AS toks FROM documents)
SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       round(len(list_filter(toks, t -> length(t) <= 3)) * 1.0 / len(toks), 6)
         AS short_ratio,
       round(0.4 * least(len(toks) / 100.0, 1.0)
             + 0.6 * (1.0 - len(list_filter(toks, t -> length(t) <= 3)) * 1.0 /
               len(toks)), 6) AS quality
FROM t
"""


def q_token_count(spark, sf_dir):
    """Token counting per source: whitespace tokens + BPE-ish regex
    token count (letters / digits / punctuation runs)."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.sum(F.expr(f"size({_TOKS})")).cast("long").alias("ws_tokens"),
        F.sum(F.expr("regexp_count(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')"))
        .cast("long")
        .alias("re_tokens"),
    )


O_TOKEN_COUNT = f"""
SELECT source,
       CAST(sum(len({_D_TOKS})) AS BIGINT) AS ws_tokens,
       CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT)
         AS re_tokens
FROM documents GROUP BY source
"""


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double),"
    " (acc, v) -> acc + v)"
)


def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-3 for query vectors vec_id<5 — the
    exact baseline for ANN. The candidate side streams; the query side
    is broadcast, so the plan is a broadcast nested loop over one scan
    (at 100 TB: q × N dot products, embarrassingly parallel, no
    shuffle except the final per-query top-k)."""
    e = _t(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "transform(embedding, x -> cast(x as double)) as v"
    )
    q = e.filter(F.col("vec_id") < 5).selectExpr("vec_id as qid", "v as qv")
    pairs = e.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("qid"))
    scored = pairs.selectExpr(
        "qid",
        "vec_id as nid",
        f"{_DOT.format(a='qv', b='v')} /"
        f" (sqrt({_DOT.format(a='qv', b='qv')}) * sqrt({_DOT.format(a='v', b='v')}))"
        " as cos",
    )
    w = W.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("qid", "nid", F.col("rnk").cast("long").alias("rnk"),
                F.round("cos", 6).alias("cos"))
    )


_D_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    " list_transform(range(1, 65), i -> {a}[i] * {b}[i])), (x, y) -> x + y)"
)

O_ANN_COSINE = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), q AS (
  SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5
), scored AS (
  SELECT q.qid, e.vec_id AS nid,
         {_D_DOT.format(a="qv", b="v")} /
         (sqrt({_D_DOT.format(a="qv", b="qv")}) * sqrt({_D_DOT.format(a="v", b="v")}))
           AS cos
  FROM e, q WHERE e.vec_id <> q.qid
), ranked AS (
  SELECT qid, nid, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rnk
  FROM scored
)
SELECT qid, nid, CAST(rnk AS BIGINT) AS rnk, round(cos, 6) AS cos
FROM ranked WHERE rnk <= 3
"""


def q_ann_lsh_buckets(spark, sf_dir):
    """Random-hyperplane LSH bucketing with deterministic integer
    hyperplanes w(j,d) = ((j+1)*(d+7)) % 11 - 5, 4 bits. The scale
    path for ANN: join within buckets only."""
    e = _t(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "transform(embedding, x -> cast(x as double)) as v"
    )
    b = e.selectExpr(
        "vec_id",
        "aggregate(sequence(0, 3), 0L, (acc, j) -> acc +"
        " IF(aggregate(sequence(0, 63), cast(0.0 as double),"
        "   (a, d) -> a + v[d] * cast(((j+1) * (d+7)) % 11 - 5 as double)) > 0D,"
        " shiftleft(1L, j), 0L)) as bucket",
    )
    return b.groupBy("bucket").agg(F.count("*").alias("n_vectors"))


O_ANN_LSH = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), b AS (
  SELECT vec_id,
         CAST(list_sum(list_transform(range(0, 4), j ->
           CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(range(0, 64),
                    d -> v[d+1] * CAST(((j+1) * (d+7)) % 11 - 5 AS DOUBLE))),
                  (x, y) -> x + y) > 0
                THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS bucket
  FROM e
)
SELECT bucket, count(*) AS n_vectors FROM b GROUP BY bucket
"""


def q_ann_ivf_assign(spark, sf_dir):
    """IVF coarse quantization: assign every vector to its nearest of
    8 fixed centroids (vec_id<8) by L2; cluster histogram. At scale:
    centroids broadcast, one narrow pass, groupBy on 8 keys."""
    e = _t(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "transform(embedding, x -> cast(x as double)) as v"
    )
    c = e.filter(F.col("vec_id") < 8).selectExpr("vec_id as cid", "v as cv")
    pairs = e.crossJoin(F.broadcast(c)).selectExpr(
        "vec_id",
        "cid",
        "aggregate(zip_with(v, cv, (x, y) -> (x - y) * (x - y)),"
        " cast(0.0 as double), (a, t) -> a + t) as dist2",
    )
    w = W.partitionBy("vec_id").orderBy(F.asc("dist2"), F.asc("cid"))
    best = pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return best.groupBy(F.col("cid").alias("centroid")).agg(
        F.count("*").alias("n_assigned")
    )


O_ANN_IVF = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), c AS (
  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8
), pairs AS (
  SELECT e.vec_id, c.cid,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))),
           (x, y) -> x + y) AS dist2
  FROM e, c
), best AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cid ASC) AS rn
  FROM pairs
)
SELECT cid AS centroid, count(*) AS n_assigned
FROM best WHERE rn = 1 GROUP BY cid
"""


def q_ann_ivf_incremental(spark, sf_dir):
    """Persisted + incrementally-updated IVF index (operators/ann
    .build_ivf_index / ivf_add_batch, round-5 task 7): the index is
    BUILT from vectors with vec_id % 5 != 0, then the % 5 == 0 batch
    is added incrementally (assign to existing centroids, append).
    The returned rows are read from the PERSISTED assignments table;
    the oracle computes batch-built assignments over ALL vectors —
    hash equality is the batch-vs-incremental parity proof."""
    import tempfile

    from .operators.ann import build_ivf_index, ivf_add_batch

    e = _t(spark, sf_dir, "embeddings").selectExpr(
        "vec_id as id", "transform(embedding, x -> cast(x as double)) as v"
    )
    c = e.filter(F.col("id") < 8).selectExpr("id as cid", "v as cv")
    path = tempfile.mkdtemp(prefix="ivf_contract_")
    build_ivf_index(e.filter("id % 5 != 0"), c, path)
    ivf_add_batch(spark, path, e.filter("id % 5 = 0"))
    return spark.read.parquet(path + "/assignments").select(
        F.col("id").cast("long").alias("vec_id"),
        F.col("cid").cast("long").alias("cid"),
        "dist2",
    )


O_ANN_IVF_INCREMENTAL = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), c AS (
  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8
), pairs AS (
  SELECT e.vec_id, c.cid,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))),
           (x, y) -> x + y) AS dist2
  FROM e, c
), best AS (
  SELECT vec_id, cid, dist2,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY dist2 ASC, cid ASC) AS rn
  FROM pairs
)
SELECT vec_id, CAST(cid AS BIGINT) AS cid, round(dist2, 6) AS dist2
FROM best WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Multimodal binary-column stub
# ---------------------------------------------------------------------------

def q_multimodal_meta(spark, sf_dir):
    """Multimodal metadata: an opaque binary column with REAL
    container-header decode — synthesized PNG/GIF/JPEG headers
    (dimensions derived from document columns) plus raw text bytes,
    sniffed and measured by functions/multimodal.sniff_image in one
    vectorized mapInArrow pass. Only the pixel decode stays stubbed
    (no codec libs in this container); magic, width, height and bit
    depth are parsed from the actual header bytes and verified
    value-exact against the closed-form oracle."""
    from .functions import multimodal as MM

    # w/h/bit-depth wire formats: PNG IHDR is big-endian u32, GIF's
    # logical screen is little-endian u16, JPEG SOF0 is big-endian u16
    be32 = "lpad(hex({c}), 8, '0')"
    be16 = "lpad(hex({c}), 4, '0')"
    le16 = (
        "concat(substring(lpad(hex({c}), 4, '0'), 3, 2),"
        " substring(lpad(hex({c}), 4, '0'), 1, 2))"
    )
    d = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "n_chars % 500 + 1 as w",
        "doc_id % 300 + 1 as h",
        "text",
    ).selectExpr(
        "doc_id",
        "CASE CAST(doc_id % 4 AS INT)"
        " WHEN 0 THEN unhex(concat('89504E470D0A1A0A0000000D49484452', "
        f"{be32.format(c='w')}, {be32.format(c='h')}, '0806000000'))"
        f" WHEN 1 THEN unhex(concat('474946383961', {le16.format(c='w')},"
        f" {le16.format(c='h')}, '870000'))"
        f" WHEN 2 THEN unhex(concat('FFD8FFC0001108', {be16.format(c='h')},"
        f" {be16.format(c='w')}, '03'))"
        " ELSE cast(text as binary) END as blob",
    )
    meta = MM.binary_meta(d)
    # DuckDB's md5() is VARCHAR-only, so the hash is oracle-checkable
    # only where the blob is valid UTF-8 (the raw-text rows); the
    # image rows' md5 is pinned by pytest instead
    return meta.withColumn(
        "content_md5",
        F.when(F.col("doc_id") % 4 == 3, F.col("content_md5")),
    )


O_MULTIMODAL = """
WITH m AS (
  SELECT doc_id, n_chars % 500 + 1 AS w, doc_id % 300 + 1 AS h, text,
         doc_id % 4 AS k
  FROM documents
)
SELECT doc_id,
       CAST(CASE k WHEN 0 THEN 29 WHEN 1 THEN 13 WHEN 2 THEN 12
            ELSE length(text) END AS BIGINT) AS n_bytes,
       CASE WHEN k = 3 THEN md5(text) END AS content_md5,
       CASE k WHEN 0 THEN 'png' WHEN 1 THEN 'gif' WHEN 2 THEN 'jpeg'
              ELSE 'binary' END AS modality,
       CASE WHEN k < 3 THEN CAST(w AS INT) END AS width,
       CASE WHEN k < 3 THEN CAST(h AS INT) END AS height,
       CASE WHEN k < 3 THEN CAST(8 AS INT) END AS bit_depth
FROM m
"""


# ---------------------------------------------------------------------------
# Deterministic sampling / splits (operators/sampling.py)
# ---------------------------------------------------------------------------

def q_sample_hash_deterministic(spark, sf_dir):
    """Content-addressed 10% sample (operators/sampling.hash_sample):
    membership = polynomial_hash(key) mod 1e6 < 100000 — identical
    row set on any engine/partitioning, no RNG state; the predicate is
    plain arithmetic evaluated narrow in the scan stage."""
    from .operators.sampling import hash_sample

    d = _t(spark, sf_dir, "documents")
    return hash_sample(d, 0.1, key_col="doc_id", salt="dev").select(
        "doc_id", "lang"
    )


O_SAMPLE_HASH = f"""
SELECT doc_id, lang FROM documents
WHERE (({_D_STR_HASH.format(s="concat('dev', CAST(doc_id AS VARCHAR))")})
      * 48271 + 11) % {P} % 1000000 < 100000
"""


def q_sample_stratified(spark, sf_dir):
    """Per-language rebalancing (operators/sampling.stratified_sample):
    keep 100% of 'de', 20% of 'en', 50% of everything else — the
    low-resource-language upweighting pass of a corpus pipeline, as
    one narrow predicate."""
    from .operators.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        d, {"de": 1.0, "en": 0.2}, strata_col="lang",
        key_col="doc_id", salt="strat", default_fraction=0.5,
    )
    return out.groupBy("lang").agg(F.count("*").alias("n_kept"))


O_SAMPLE_STRATIFIED = f"""
SELECT lang, count(*) AS n_kept FROM documents
WHERE (({_D_STR_HASH.format(s="concat('strat', CAST(doc_id AS VARCHAR))")})
      * 48271 + 11) % {P} % 1000000
      < CASE lang WHEN 'de' THEN 1000000 WHEN 'en' THEN 200000
                  ELSE 500000 END
GROUP BY lang
"""


def q_domain_cap_sample(spark, sf_dir):
    """Per-domain document cap (operators/sampling.domain_cap): the
    RefinedWeb-style anti-domination pass — at most 3 docs survive per
    domain, chosen deterministically by hashed key so the same docs
    survive on any engine/partitioning. The Spark side runs the
    two-phase top-k (salt-partial then final — scale-safe for hot
    domains); the oracle states the single global window it must
    exactly equal."""
    from .operators.sampling import domain_cap

    d = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", "concat('d', cast(doc_id % 7 as string)) as reg_domain"
    )
    return domain_cap(d, 3).select("doc_id", "reg_domain")


_D_DOMCAP_B = (
    "(("
    + _D_STR_HASH.format(s="concat('domcap', CAST(doc_id AS VARCHAR))")
    + f") * 48271 + 11) % {P} % 1000000"
)

O_DOMAIN_CAP = f"""
WITH d AS (
  SELECT doc_id, 'd' || CAST(doc_id % 7 AS VARCHAR) AS reg_domain,
         {_D_DOMCAP_B} AS b
  FROM documents
),
r AS (
  SELECT doc_id, reg_domain,
         row_number() OVER (PARTITION BY reg_domain
                            ORDER BY b ASC, doc_id ASC) AS rn
  FROM d
)
SELECT doc_id, reg_domain FROM r WHERE rn <= 3
"""


def q_token_budget_sample(spark, sf_dir):
    """Token-budget subsetting (operators/sampling.token_budget_sample):
    'give me 50k tokens of this corpus' — docs ordered by hashed key,
    kept while the inclusive running total fits the budget. The Spark
    side runs the distributed prefix-sum (contiguous hash-range groups,
    driver-summed offsets, bounded within-group windows); the oracle
    states the one global running sum it must exactly equal."""
    from .operators.sampling import token_budget_sample

    d = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", "cast(length(text) as bigint) as n_tokens"
    )
    return token_budget_sample(d, 50000).select("doc_id", "n_tokens")


_D_BUDGET_B = (
    "(("
    + _D_STR_HASH.format(s="concat('budget', CAST(doc_id AS VARCHAR))")
    + f") * 48271 + 11) % {P} % 1000000"
)

O_TOKEN_BUDGET = f"""
WITH d AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_tokens,
         {_D_BUDGET_B} AS b
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY b ASC, doc_id ASC
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM d
)
SELECT doc_id, n_tokens FROM c WHERE cum <= 50000
"""


def q_split_leakage_safe(spark, sf_dir):
    """Group-keyed train/val/test split
    (operators/sampling.train_val_test_split with group_col): every
    document of a source lands in ONE split (n_splits = 1 per source —
    the contamination guard), split chosen by the source's hash."""
    from .operators.sampling import train_val_test_split

    d = _t(spark, sf_dir, "documents")
    out = train_val_test_split(
        d, key_col="doc_id", weights=(0.6, 0.2, 0.2), group_col="source"
    )
    return out.groupBy("source").agg(
        F.countDistinct("split").alias("n_splits"),
        F.min("split").alias("split"),
        F.count("*").alias("n_docs"),
    )


O_SPLIT_LEAKAGE = f"""
WITH b AS (
  SELECT source, count(*) AS n_docs,
         (({_D_STR_HASH.format(s="concat('split', source)")})
         * 48271 + 11) % {P} % 1000000 AS bucket
  FROM documents GROUP BY source
)
SELECT source, CAST(1 AS BIGINT) AS n_splits,
       CASE WHEN bucket < 600000 THEN 'train'
            WHEN bucket < 800000 THEN 'val'
            ELSE 'test' END AS split,
       n_docs
FROM b
"""


# ---------------------------------------------------------------------------
# Event-time windowing (batch equivalent; streaming variant in streaming/)
# ---------------------------------------------------------------------------

def q_events_hourly_window(spark, sf_dir):
    """Tumbling event-time window (Structured-Streaming-shaped agg run
    in batch; the readStream variant lives in streaming/extract_stream
    and is pytest-verified with availableNow)."""
    e = _t(spark, sf_dir, "events")
    # ts is TIMESTAMP_NTZ: keep it NTZ end-to-end and emit the window
    # start as a string, so the result is independent of the session
    # timezone (unix_timestamp would interpret NTZ in session tz)
    return (
        e.groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(
            "event_type",
            F.col("w.start").cast("string").alias("wstart"),
            "n",
            "total",
        )
    )


O_EVENTS_WINDOW = """
SELECT event_type,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart,
       count(*) AS n, round(sum(value), 4) AS total
FROM events GROUP BY 1, 2
"""


def q_embed_cosine_neardup(spark, sf_dir):
    """Embedding-cosine near-dup: candidate pairs restricted to the
    same LSH bucket (the scale path — never all-pairs), exact cosine on
    candidates. At 100 TB the bucket join is the only shuffle."""
    e = _t(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "transform(embedding, x -> cast(x as double)) as v"
    )
    b = e.selectExpr(
        "vec_id",
        "v",
        "aggregate(sequence(0, 3), 0L, (acc, j) -> acc +"
        " IF(aggregate(sequence(0, 63), cast(0.0 as double),"
        "   (a, d) -> a + v[d] * cast(((j+1) * (d+7)) % 11 - 5 as double)) > 0D,"
        " shiftleft(1L, j), 0L)) as bucket",
    )
    b1, b2 = b.alias("b1"), b.alias("b2")
    pairs = b1.join(
        b2,
        (F.col("b1.bucket") == F.col("b2.bucket"))
        & (F.col("b1.vec_id") < F.col("b2.vec_id")),
    )
    dot = (
        "aggregate(zip_with(b1.v, b2.v, (x, y) -> x * y), cast(0.0 as double),"
        " (acc, t) -> acc + t)"
    )
    n1 = (
        "sqrt(aggregate(zip_with(b1.v, b1.v, (x, y) -> x * y), cast(0.0 as double),"
        " (acc, t) -> acc + t))"
    )
    n2 = (
        "sqrt(aggregate(zip_with(b2.v, b2.v, (x, y) -> x * y), cast(0.0 as double),"
        " (acc, t) -> acc + t))"
    )
    scored = pairs.selectExpr(
        "b1.vec_id as v1",
        "b2.vec_id as v2",
        f"round({dot} / ({n1} * {n2}), 6) as cos",
    )
    return scored.filter(F.col("cos") > 0.15)


O_EMBED_NEARDUP = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), b AS (
  SELECT vec_id, v,
         CAST(list_sum(list_transform(range(0, 4), j ->
           CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(range(0, 64),
                    d -> v[d+1] * CAST(((j+1) * (d+7)) % 11 - 5 AS DOUBLE))),
                  (x, y) -> x + y) > 0
                THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS bucket
  FROM e
), pairs AS (
  SELECT b1.vec_id AS v1, b2.vec_id AS v2,
         round(
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, 65), i -> b1.v[i] * b2.v[i])), (x, y) -> x + y)
           / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(range(1, 65), i -> b1.v[i] * b1.v[i])), (x, y) -> x + y))
            * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(range(1, 65), i -> b2.v[i] * b2.v[i])), (x, y) -> x + y)))
         , 6) AS cos
  FROM b b1 JOIN b b2 ON b1.bucket = b2.bucket AND b1.vec_id < b2.vec_id
)
SELECT v1, v2, cos FROM pairs WHERE cos > 0.15
"""


def q_skew_salted_host_agg(spark, sf_dir):
    """Explicit skew salting (north_rule): two-phase aggregation with a
    deterministic salt in the first groupBy so one hot key fans out
    over the cluster, collapsed in the second. Result must equal the
    plain single-phase aggregate — which is what the oracle states."""
    d = _t(spark, sf_dir, "documents")
    salted = d.withColumn("salt", F.pmod(F.col("doc_id"), F.lit(8)))
    partial = salted.groupBy("source", "salt").agg(
        F.count("*").alias("n"),
        F.sum("n_chars").alias("chars"),
    )
    return partial.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.sum("chars").cast("long").alias("total_chars"),
    )


O_SKEW_SALTED = """
SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY source
"""


def q_dedup_components(spark, sf_dir):
    """Duplicate-cluster canonicalization: connected components over
    the MinHash-LSH candidate graph (operators/dedup.connected_components,
    iterative min-label propagation — the engine's iterative-algorithm
    shape). Oracle: recursive CTE transitive closure in DuckDB."""
    from .operators import dedup as D

    d = _t(spark, sf_dir, "documents")
    corpus = d.select("doc_id", "text").unionAll(
        d.filter(F.col("doc_id") % 50 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    pairs = D.minhash_lsh_candidates(corpus, k=8, bands=4)
    return D.connected_components(pairs)


O_DEDUP_COMPONENTS = (
    O_DEDUP_MINHASH.replace(
        "SELECT DISTINCT b1.doc_id AS doc1, b2.doc_id AS doc2\nFROM bands b1 JOIN bands b2\n  ON b1.band_idx = b2.band_idx AND b1.band_val = b2.band_val\n AND b1.doc_id < b2.doc_id",
        """, pairs AS (
  SELECT DISTINCT b1.doc_id AS doc1, b2.doc_id AS doc2
  FROM bands b1 JOIN bands b2
    ON b1.band_idx = b2.band_idx AND b1.band_val = b2.band_val
   AND b1.doc_id < b2.doc_id
), edges AS (
  SELECT doc1 AS a, doc2 AS b FROM pairs
  UNION
  SELECT doc2, doc1 FROM pairs
), reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, least(a, min(b)) AS component
FROM reach GROUP BY a""",
    )
    .replace("WITH corpus AS (", "WITH RECURSIVE corpus AS (")
)


def q_session_windows(spark, sf_dir):
    """Event-time session windows (F.session_window, 30-min gap) —
    the gap-based grouping a crawl/training pipeline uses for user
    activity. Oracle: gaps-and-islands SQL (lag + running sum), which
    is exactly the semantics Spark's session window implements
    (events merge while the inter-event gap is < the duration)."""
    e = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    sessions = (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
    )
    return sessions.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.max("n_events").cast("long").alias("max_session_events"),
    )


O_SESSION_WINDOWS = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
), sess AS (
  SELECT user_id,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
), per_session AS (
  SELECT user_id, sid, count(*) AS n_events FROM sess GROUP BY 1, 2
)
SELECT user_id, count(*) AS n_sessions,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       CAST(max(n_events) AS BIGINT) AS max_session_events
FROM per_session GROUP BY user_id
"""


def q_tfidf_top_terms(spark, sf_dir):
    """TF-IDF scoring (text-pipeline staple): explode tokens → term
    frequency per doc, document frequency per term, idf = ln(N/df),
    top term per doc by tf*idf (ties → lexicographically first term).
    Two shuffles: token groupBy and the doc-top window."""
    d = _t(spark, sf_dir, "documents")
    toks = d.selectExpr("doc_id", f"explode({_TOKS}) as term")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # corpus size as a broadcast 1-row aggregate, not a driver-side
    # d.count() (no mid-build action; the whole job stays one plan)
    n = d.agg(F.count("*").cast("double").alias("n_docs"))
    df_ = toks.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count("*").alias("df")
    )
    scored = tf.join(df_, "term").crossJoin(F.broadcast(n)).withColumn(
        "tfidf", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6)
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("term").alias("top_term"), F.col("tfidf").alias("score"))
    )


O_TFIDF = f"""
WITH toks AS (
  SELECT doc_id, unnest({_D_TOKS}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
), df_ AS (
  SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM toks)
  GROUP BY term
), scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln((SELECT count(*) FROM documents) * 1.0 / df_.df), 6)
           AS tfidf
  FROM tf JOIN df_ USING (term)
), ranked AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS rn
  FROM scored
)
SELECT doc_id, term AS top_term, tfidf AS score FROM ranked WHERE rn = 1
"""


def q_sliding_window_counts(spark, sf_dir):
    """Sliding event-time windows (1 h window, 30 min slide): every
    event lands in two windows. Oracle: union of the two aligned
    tumbling decompositions."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").cast("string").alias("wstart"), "n")
    )


O_SLIDING_WINDOW = """
WITH starts AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart FROM events
  UNION ALL
  SELECT strftime(
           CASE WHEN minute(ts) < 30
                THEN date_trunc('hour', ts) - INTERVAL 30 MINUTE
                ELSE date_trunc('hour', ts) + INTERVAL 30 MINUTE END,
           '%Y-%m-%d %H:%M:%S')
  FROM events
)
SELECT wstart, count(*) AS n FROM starts GROUP BY wstart
"""


def q_ann_kmeans_iterations(spark, sf_dir):
    """Two unrolled Lloyd iterations of k-means (k=4, centroids from
    vec_id<4) — the iterative-refinement shape of embedding clustering,
    exactly checkable: embeddings are quantized to integers
    (round(x*1e6)), so centroid sums are EXACT (order-independent) and
    both engines compute bit-identical means/distances; ties break by
    centroid id. Output: cluster sizes after the second assignment."""
    e = _t(spark, sf_dir, "embeddings").selectExpr(
        "vec_id",
        "transform(embedding, x -> cast(round(cast(x as double) * 1000000) as long)) as q",
    )
    c0 = e.filter(F.col("vec_id") < 4).selectExpr(
        "vec_id as cid", "transform(q, x -> cast(x as double)) as cv"
    )

    def assign(points, cents):
        p = points.crossJoin(F.broadcast(cents)).selectExpr(
            "vec_id",
            "q",
            "cid",
            "aggregate(zip_with(q, cv, (x, y) -> (cast(x as double) - y)"
            " * (cast(x as double) - y)), cast(0.0 as double),"
            " (a, t) -> a + t) as dist2",
        )
        w = W.partitionBy("vec_id").orderBy(F.asc("dist2"), F.asc("cid"))
        return p.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") == 1
        ).select("vec_id", "q", "cid")

    a1 = assign(e, c0)
    sums = a1.selectExpr("cid", "posexplode(q) as (d, x)").groupBy(
        "cid", "d"
    ).agg(F.sum("x").alias("sx"), F.count("*").alias("n"))
    c2 = sums.withColumn("m", F.col("sx") / F.col("n")).groupBy("cid").agg(
        F.expr("transform(array_sort(collect_list(struct(d, m))), s -> s.m)").alias("cv")
    )
    a2 = assign(a1.select("vec_id", "q"), c2)
    return a2.groupBy(F.col("cid").alias("centroid")).agg(
        F.count("*").alias("n_assigned")
    )


O_KMEANS = """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
  FROM embeddings
), c0 AS (
  SELECT vec_id AS cid, list_transform(q, x -> CAST(x AS DOUBLE)) AS cv
  FROM e WHERE vec_id < 4
), p1 AS (
  SELECT e.vec_id, e.q, c0.cid,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(range(1, 65),
             i -> (CAST(q[i] AS DOUBLE) - cv[i]) * (CAST(q[i] AS DOUBLE) - cv[i]))),
           (x, y) -> x + y) AS dist2
  FROM e, c0
), a1 AS (
  SELECT vec_id, q, cid FROM (
    SELECT vec_id, q, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cid ASC) AS rn
    FROM p1) WHERE rn = 1
), sums AS (
  SELECT cid, d, sum(q[d]) AS sx, count(*) AS n
  FROM a1, range(1, 65) r(d)
  GROUP BY cid, d
), c2 AS (
  SELECT cid, list(sx * 1.0 / n ORDER BY d) AS cv
  FROM sums GROUP BY cid
), p2 AS (
  SELECT a1.vec_id, c2.cid,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(range(1, 65),
             i -> (CAST(q[i] AS DOUBLE) - cv[i]) * (CAST(q[i] AS DOUBLE) - cv[i]))),
           (x, y) -> x + y) AS dist2
  FROM a1, c2
), a2 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cid ASC) AS rn
    FROM p2) WHERE rn = 1
)
SELECT cid AS centroid, count(*) AS n_assigned FROM a2 GROUP BY cid
"""


# ---------------------------------------------------------------------------
# Corpus quality rules, boilerplate removal, url canonicalization (round 3)
# ---------------------------------------------------------------------------

# documents.text is single-line; both engines synthesize multi-line text
# with the SAME regexp (newline after every 5th token) so the line-level
# signals are exercised on real repetition. Java regex and RE2 agree on
# this pattern (non-capturing group, greedy \S+, leftmost non-overlap).
_SYNTH_LINES = "regexp_replace(text, '((?:\\\\S+ ){4}\\\\S+) ', '$1\\n')"
_D_SYNTH_LINES = (
    r"regexp_replace(text, '((?:\S+ ){4}\S+) ', '\1' || chr(10), 'g')"
)


def q_gopher_quality_rules(spark, sf_dir):
    """Gopher-style repetition/quality signals + pass flag
    (operators/textstats.with_repetition_signals / top_ngram_stats /
    gopher_filter). All signals are narrow column math except the
    top-2-gram multiplicity, which is the explode → two-hash-agg shape
    (fine-grained keys, no corpus-wide aggregation)."""
    from .operators.textstats import (
        gopher_filter,
        top_ngram_stats,
        with_repetition_signals,
    )

    d = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_SYNTH_LINES} as text"
    )
    sig = gopher_filter(
        with_repetition_signals(d), min_tokens=20, max_dup_2gram_fraction=0.03
    )
    top = top_ngram_stats(d).withColumnRenamed("id", "doc_id")
    return (
        sig.join(top, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "n_lines",
            "n_tokens",
            "dup_line_fraction",
            "dup_line_char_fraction",
            "mean_word_length",
            "symbol_word_ratio",
            "alpha_word_fraction",
            "dup_2gram_fraction",
            "coalesce(top_ngram_fraction, 0.0D) as top_2gram_fraction",
            "cast(passes as int) as passes",
        )
    )


O_GOPHER = f"""
WITH ml AS (SELECT doc_id, {_D_SYNTH_LINES} AS text FROM documents),
base AS (
  SELECT doc_id, text,
         list_filter(string_split(text, chr(10)), x -> x <> '') AS lines,
         list_filter(string_split_regex(text, '\\s'), x -> x <> '') AS toks
  FROM ml
),
g AS (
  SELECT doc_id, text, lines, toks,
         CASE WHEN len(toks) < 2 THEN []
              ELSE list_transform(generate_series(1, len(toks) - 1),
                                  i -> toks[i] || ' ' || toks[i + 1]) END AS grams,
         coalesce(list_aggregate(list_transform(lines, x -> length(x)), 'sum'), 0) AS lchars,
         coalesce(list_aggregate(list_transform(list_distinct(lines), x -> length(x)), 'sum'), 0) AS dchars
  FROM base
),
sig AS (
  SELECT doc_id,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CASE WHEN len(lines) = 0 THEN 0.0 ELSE
           round((len(lines) - len(list_distinct(lines))) * 1.0 / len(lines), 6) END
           AS dup_line_fraction,
         CASE WHEN lchars = 0 THEN 0.0 ELSE
           round((lchars - dchars) * 1.0 / lchars, 6) END AS dup_line_char_fraction,
         CASE WHEN len(toks) = 0 THEN 0.0 ELSE
           round(coalesce(list_aggregate(list_transform(toks, t -> length(t)), 'sum'), 0)
                 * 1.0 / len(toks), 6) END AS mean_word_length,
         CASE WHEN len(toks) = 0 THEN 0.0 ELSE
           round((len(regexp_extract_all(text, '#'))
                  + len(regexp_extract_all(text, '\\.\\.\\.'))
                  + len(regexp_extract_all(text, '…'))) * 1.0 / len(toks), 6) END
           AS symbol_word_ratio,
         CASE WHEN len(toks) = 0 THEN 1.0 ELSE
           round(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
                 * 1.0 / len(toks), 6) END AS alpha_word_fraction,
         CASE WHEN len(grams) = 0 THEN 0.0 ELSE
           round((len(grams) - len(list_distinct(grams))) * 1.0 / len(grams), 6) END
           AS dup_2gram_fraction,
         grams
  FROM g
),
top AS (
  SELECT doc_id, round(max(cnt) * 1.0 / sum(cnt), 6) AS top_2gram_fraction
  FROM (
    SELECT doc_id, gram, count(*) AS cnt
    FROM (SELECT doc_id, unnest(grams) AS gram FROM sig)
    GROUP BY doc_id, gram
  )
  GROUP BY doc_id
)
SELECT s.doc_id, n_lines, n_tokens, dup_line_fraction, dup_line_char_fraction,
       mean_word_length, symbol_word_ratio, alpha_word_fraction,
       dup_2gram_fraction,
       coalesce(t.top_2gram_fraction, 0.0) AS top_2gram_fraction,
       CAST(n_tokens >= 20 AND n_tokens <= 100000
            AND mean_word_length >= 3.0 AND mean_word_length <= 10.0
            AND symbol_word_ratio <= 0.1
            AND alpha_word_fraction >= 0.8
            AND dup_line_fraction <= 0.3
            AND dup_2gram_fraction <= 0.03 AS INT) AS passes
FROM sig s LEFT JOIN top t ON s.doc_id = t.doc_id
"""


def q_within_doc_dedup(spark, sf_dir):
    """Within-document duplicate-unit removal (operators/paragraphs
    .remove_repeated_units_within): repeats of a line INSIDE one
    document drop, first occurrence kept, order preserved — entirely
    row-local (zero shuffle). Synthetic lines force in-doc repeats."""
    from .operators.paragraphs import remove_repeated_units_within

    d = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_SYNTH_LINES} as text"
    )
    out = remove_repeated_units_within(d)
    return out.selectExpr(
        "doc_id", "md5(clean_text) as clean_md5", "n_kept", "n_removed"
    )


O_WITHIN_DEDUP = f"""
WITH ml AS (SELECT doc_id, {_D_SYNTH_LINES} AS text FROM documents),
units AS (
  SELECT doc_id, u.pos, u.unit
  FROM (
    SELECT doc_id,
           unnest(list_transform(string_split(text, chr(10)),
                                 (s, i) -> {{'pos': i, 'unit': s}})) AS u
    FROM ml
  )
  WHERE u.unit <> ''
),
firsts AS (
  SELECT doc_id, unit, min(pos) AS first_pos
  FROM units GROUP BY doc_id, unit
),
kept AS (
  SELECT u.doc_id, u.pos, u.unit
  FROM units u JOIN firsts f
    ON u.doc_id = f.doc_id AND u.unit = f.unit AND u.pos = f.first_pos
),
rebuilt AS (
  SELECT doc_id,
         array_to_string(list_transform(list_sort(list({{'pos': pos,
             'unit': unit}})), x -> x.unit), chr(10)) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
),
totals AS (SELECT doc_id, count(*) AS n_units FROM units GROUP BY doc_id)
SELECT d.doc_id,
       md5(coalesce(r.clean_text, '')) AS clean_md5,
       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(coalesce(t.n_units, 0) - coalesce(r.n_kept, 0) AS BIGINT)
         AS n_removed
FROM ml d
LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
LEFT JOIN totals t ON d.doc_id = t.doc_id
"""


def q_span_preserving_cleanup(spark, sf_dir):
    """Span-preserving boilerplate removal (operators/paragraphs
    .remove_frequent_regions, round-3 task 5): real extraction of the
    boiler fixture (heading = source, shared by ~25 docs → removed as
    boilerplate; paragraph unique → kept), then clean_text + REMAPPED
    spans. The output row carries ``piece`` = substring of clean_text
    at the remapped span, so the hash compare IS the span/text
    consistency proof (the oracle derives its piece independently)."""
    from .contract import _pages_from_documents
    from .operators.paragraphs import remove_frequent_regions
    from .pipeline import extract_pages

    html_expr = (
        "concat('<html><body>"
        "<nav><ul><li><a href=\"/m\">menu one</a> <a href=\"/n\">menu two</a></li></ul></nav>"
        "<h1>', source, '</h1>"
        "<p><a href=\"/q\">', source, ' ', source, '</a></p>"
        "<p>', text, '</p></body></html>')"
    )
    pages = _pages_from_documents(spark, sf_dir, html_expr)
    out = extract_pages(pages)
    cleaned = remove_frequent_regions(out, min_doc_freq=3)
    return cleaned.select(
        F.col("url").cast("long").alias("doc_id"),
        "n_kept",
        "n_removed",
        F.explode_outer("region_spans").alias("s"),
        "clean_text",
    ).select(
        "doc_id",
        "n_kept",
        "n_removed",
        F.col("s.region_id").alias("region_id"),
        F.col("s.rtype").alias("rtype"),
        F.col("s.start").cast("long").alias("span_start"),
        F.col("s.end").cast("long").alias("span_end"),
        F.expr(
            "substring(clean_text, cast(s.start + 1 as int),"
            " cast(s.end - s.start as int))"
        ).alias("piece"),
    )


# the oracle restates the FREQUENCY decision too (it does not assume
# the heading is the removed unit): units per doc are the two fixture
# regions in span order; removal iff distinct-doc frequency >= 3; new
# offsets accumulate (length + 1 separator) over kept predecessors.
from .contract import _SQL_COLLAPSE as _SQL_COLLAPSE_C  # noqa: E402

O_SPAN_CLEANUP = f"""
WITH c AS (SELECT doc_id, source, {_SQL_COLLAPSE_C} AS t FROM documents),
u AS (
  SELECT doc_id, 1 AS ord, 'r0008' AS region_id, 'heading' AS rtype,
         source AS piece FROM c
  UNION ALL
  SELECT doc_id, 2, 'r0011', 'paragraph', t FROM c
),
f AS (
  SELECT piece, count(DISTINCT doc_id) AS df FROM u
  WHERE piece <> '' GROUP BY piece
),
t2 AS (SELECT u.*, coalesce(f.df, 0) AS df FROM u LEFT JOIN f USING (piece)),
counts AS (
  SELECT doc_id,
         CAST(count(*) FILTER (WHERE df < 3) AS BIGINT) AS n_kept,
         CAST(count(*) FILTER (WHERE df >= 3) AS BIGINT) AS n_removed
  FROM t2 GROUP BY doc_id
),
r AS (
  SELECT doc_id, ord, region_id, rtype, piece,
         coalesce(sum(length(piece) + 1) OVER (
           PARTITION BY doc_id ORDER BY ord
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ns
  FROM t2 WHERE df < 3
)
SELECT c.doc_id, counts.n_kept, counts.n_removed,
       r.region_id, r.rtype,
       CAST(r.ns AS BIGINT) AS span_start,
       CAST(r.ns + length(r.piece) AS BIGINT) AS span_end, r.piece
FROM c JOIN counts USING (doc_id) LEFT JOIN r ON r.doc_id = c.doc_id
"""


def q_paragraph_dedup(spark, sf_dir):
    """Corpus-frequency boilerplate removal
    (operators/paragraphs.remove_frequent_units): lines occurring in
    >= 5 distinct documents are dropped from every document; clean
    text rebuilt in original order (md5 digest keeps the compare
    light). The doc-frequency count is two-phase (distinct pairs →
    partial-agg count) so viral boilerplate lines never serialize
    through a single reducer."""
    from .operators.paragraphs import remove_frequent_units

    d = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_SYNTH_LINES} as text"
    )
    out = remove_frequent_units(d, min_doc_freq=5)
    return out.selectExpr(
        "doc_id", "md5(clean_text) as clean_md5", "n_kept", "n_removed"
    )


O_PARAGRAPH_DEDUP = f"""
WITH ml AS (SELECT doc_id, {_D_SYNTH_LINES} AS text FROM documents),
units AS (
  SELECT doc_id, u.pos, u.unit
  FROM (
    SELECT doc_id,
           unnest(list_transform(string_split(text, chr(10)),
                                 (s, i) -> {{'pos': i, 'unit': s}})) AS u
    FROM ml
  )
  WHERE u.unit <> ''
),
freq AS (
  SELECT unit, count(DISTINCT doc_id) AS doc_freq FROM units GROUP BY unit
),
kept AS (
  SELECT u.doc_id, u.pos, u.unit
  FROM units u JOIN freq f ON u.unit = f.unit
  WHERE f.doc_freq < 5
),
removed AS (
  SELECT u.doc_id, count(*) AS n_removed
  FROM units u JOIN freq f ON u.unit = f.unit
  WHERE f.doc_freq >= 5 GROUP BY u.doc_id
),
rebuilt AS (
  SELECT doc_id, string_agg(unit, chr(10) ORDER BY pos) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       md5(coalesce(r.clean_text, '')) AS clean_md5,
       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(coalesce(x.n_removed, 0) AS BIGINT) AS n_removed
FROM documents d
LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
LEFT JOIN removed x ON d.doc_id = x.doc_id
"""


# messy-url synthesis: CASE arms chosen to hit every canonicalization
# step (mixed case, default + non-default ports, trackers in first /
# middle / last / only position, fragments, multi-label public suffix)
_SYNTH_URL = """concat(
  CASE doc_id % 3 WHEN 0 THEN 'HTTP://' WHEN 1 THEN 'https://' ELSE 'http://' END,
  CASE doc_id % 5 WHEN 0 THEN 'WWW.Example.COM:80' WHEN 1 THEN 'news.Example.co.uk:443'
       WHEN 2 THEN 'cdn.site.org' WHEN 3 THEN 'Sub.Host.COM:8080' ELSE 'a.b.co.jp' END,
  '/Path/', cast(doc_id as string),
  CASE doc_id % 4 WHEN 0 THEN '?q=1&utm_source=x&b=2' WHEN 1 THEN '?utm_a=1&utm_b=2&q=3'
       WHEN 2 THEN '?fbclid=zz' ELSE '' END,
  CASE doc_id % 2 WHEN 0 THEN '#Frag' ELSE '' END)"""


def q_url_canonicalize(spark, sf_dir):
    """URL canonicalization chain (functions/urls): fragment strip,
    authority lowercasing, default-port removal, tracking-param
    removal, trailing-separator cleanup; plus host + registered-domain
    extraction. Pure narrow regexp expressions — the canonical url is
    computed inline in the scan stage, making it free to key dedup /
    splits on at 100 TB."""
    from .functions.urls import canonicalize_url, host_of, registered_domain

    d = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_SYNTH_URL} as url"
    )
    return (
        d.withColumn("canonical_url", canonicalize_url("url"))
        .withColumn("host", host_of("url"))
        .withColumn("reg_domain", registered_domain("host"))
        .select("doc_id", "url", "canonical_url", "host", "reg_domain")
    )


_D_SYNTH_URL = _SYNTH_URL.replace("cast(doc_id as string)", "CAST(doc_id AS VARCHAR)")

O_URL_CANON = f"""
WITH u0 AS (SELECT doc_id, {_D_SYNTH_URL} AS url FROM documents),
s1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nf FROM u0),
s2 AS (SELECT doc_id, url, nf,
              regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0) AS sh
       FROM s1),
s3 AS (SELECT doc_id, url,
              lower(sh) || substr(nf, length(sh) + 1) AS lowered, sh, nf
       FROM s2),
s4 AS (SELECT doc_id, url,
              regexp_replace(regexp_replace(lowered,
                '^(http://[^/:?#]+):80($|[/?#])', '\\1\\2'),
                '^(https://[^/:?#]+):443($|[/?#])', '\\1\\2') AS np
       FROM s3),
s5 AS (SELECT doc_id, url,
              regexp_replace(np, '&(?:utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&#]*', '', 'g') AS t1
       FROM s4),
s6 AS (SELECT doc_id, url,
              regexp_replace(regexp_replace(t1,
                '\\?(?:utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&#]*&', '?'),
                '\\?(?:utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&#]*$', '') AS t2
       FROM s5),
canon AS (SELECT doc_id, url, regexp_replace(t2, '[?&]+$', '') AS canonical_url
          FROM s6),
h AS (SELECT doc_id, url, canonical_url,
             lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)) AS host
      FROM canon),
lab AS (SELECT doc_id, url, canonical_url, host, string_split(host, '.') AS ls FROM h)
SELECT doc_id, url, canonical_url, host,
       CASE WHEN len(ls) <= 2 THEN host
            WHEN array_to_string(list_slice(ls, len(ls) - 1, len(ls)), '.') IN
                 ('co.uk', 'org.uk', 'ac.uk', 'gov.uk', 'com.au', 'net.au', 'org.au',
                  'co.jp', 'ne.jp', 'or.jp', 'co.nz', 'com.br', 'com.cn', 'co.in', 'co.kr')
            THEN array_to_string(list_slice(ls, len(ls) - 2, len(ls)), '.')
            ELSE array_to_string(list_slice(ls, len(ls) - 1, len(ls)), '.') END AS reg_domain
FROM lab
"""


def q_pii_redaction(spark, sf_dir):
    """PII scrub (functions/pii): frozen email → IPv4 → phone regexp
    chain + per-type counts. Narrow — redaction happens inside the
    scan stage. PII is synthesized onto the documents so every chain
    step is exercised."""
    from .functions.pii import pii_counts, redact_pii

    d = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "concat(text, CASE doc_id % 5"
        " WHEN 0 THEN ' contact bob@example.com or x.y+z@sub.site.org now'"
        " WHEN 1 THEN ' call +1 (555) 123-4567 soon'"
        " WHEN 2 THEN ' host 10.0.0.77 up'"
        " WHEN 3 THEN ' mixed a@b.co 10.0.0.1 +49 30 1234567'"
        " ELSE '' END) as text",
    )
    return (
        d.withColumn("red", F.expr("md5(" + _redact_sql("text") + ")"))
        .withColumn("c", pii_counts("text"))
        .select(
            "doc_id",
            F.col("red").alias("red_md5"),
            "c.n_emails",
            "c.n_ips",
            "c.n_phones",
        )
    )


def _redact_sql(col):
    from .functions.pii import redact_pii_sql

    return redact_pii_sql(col)


def _pii_oracle():
    from .functions import pii

    # Spark SQL string literals process backslash escapes; DuckDB's do
    # not — strip one escaping level for the RE2 side
    em = pii.EMAIL_RE.replace("\\\\", "\\")
    ip = pii.IPV4_RE.replace("\\\\", "\\")
    ph = pii.PHONE_RE.replace("\\\\", "\\")
    return f"""
WITH t AS (
  SELECT doc_id,
         text || CASE doc_id % 5
           WHEN 0 THEN ' contact bob@example.com or x.y+z@sub.site.org now'
           WHEN 1 THEN ' call +1 (555) 123-4567 soon'
           WHEN 2 THEN ' host 10.0.0.77 up'
           WHEN 3 THEN ' mixed a@b.co 10.0.0.1 +49 30 1234567'
           ELSE '' END AS text
  FROM documents
),
st AS (
  SELECT doc_id, text,
         regexp_replace(text, '{em}', '<EMAIL>', 'g') AS ae
  FROM t
),
st2 AS (SELECT doc_id, text, ae, regexp_replace(ae, '{ip}', '<IP>', 'g') AS ai FROM st)
SELECT doc_id,
       md5(regexp_replace(ai, '{ph}', '<PHONE>', 'g')) AS red_md5,
       CAST(len(regexp_extract_all(text, '{em}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(ae, '{ip}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(ai, '{ph}')) AS BIGINT) AS n_phones
FROM st2
"""


O_PII = _pii_oracle()


def q_pii_redaction_spans(spark, sf_dir):
    """SPAN-PRESERVING PII redaction (functions/pii.redact_pii_spans,
    round-5 task 5): two-region documents — region A synthesized with
    a per-doc email + IPv4 + phone, region B the plain document text —
    plus a zero-length media anchor at region B's start. The output
    row carries ``piece`` = substring of clean_text at the remapped
    span, so the hash compare IS the span/text-consistency proof (the
    oracle derives redacted pieces and window-summed offsets
    independently)."""
    from .functions.pii import redact_pii_spans

    d = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "concat('contact bob', doc_id, '@example.com or 10.0.0.',"
        " doc_id % 256, ' call +1 (555) 123-4567 now') as ra",
        "text as rb",
    )
    docs = d.selectExpr(
        "doc_id",
        "concat(ra, chr(10), rb) as extracted_text",
        "array("
        "named_struct('region_id','r0001','rtype','paragraph',"
        "'subtype','p','start',0L,'end',cast(length(ra) as bigint),"
        "'parent_id','','order',0,'score',1.0D),"
        "named_struct('region_id','r0002','rtype','paragraph',"
        "'subtype','p','start',cast(length(ra)+1 as bigint),"
        "'end',cast(length(ra)+1+length(rb) as bigint),"
        "'parent_id','','order',1,'score',1.0D),"
        "named_struct('region_id','r0000','rtype','media',"
        "'subtype','img','start',cast(length(ra)+1 as bigint),"
        "'end',cast(length(ra)+1 as bigint),"
        "'parent_id','','order',2,'score',1.0D)"
        ") as region_spans",
    )
    out = redact_pii_spans(docs, id_col="doc_id")
    return out.select(
        "doc_id",
        F.expr("md5(clean_text)").alias("clean_md5"),
        "n_pii_regions",
        F.explode("region_spans").alias("s"),
        "clean_text",
    ).select(
        "doc_id",
        "clean_md5",
        "n_pii_regions",
        F.col("s.region_id").alias("region_id"),
        F.col("s.start").cast("long").alias("span_start"),
        F.col("s.end").cast("long").alias("span_end"),
        F.expr(
            "substring(clean_text, cast(s.start + 1 as int),"
            " cast(s.end - s.start as int))"
        ).alias("piece"),
    )


def _pii_spans_oracle() -> str:
    from .functions import pii

    em = pii.EMAIL_RE.replace("\\\\", "\\")
    ip = pii.IPV4_RE.replace("\\\\", "\\")
    ph = pii.PHONE_RE.replace("\\\\", "\\")
    def chain(c: str) -> str:
        # str.format would choke on the regexes' {1,3} quantifiers
        return (
            f"regexp_replace(regexp_replace(regexp_replace({c},"
            f" '{em}', '<EMAIL>', 'g'),"
            f" '{ip}', '<IP>', 'g'),"
            f" '{ph}', '<PHONE>', 'g')"
        )

    ra_red = chain("ra")
    rb_red = chain("rb")
    return f"""
WITH t AS (
  SELECT doc_id,
         'contact bob' || doc_id || '@example.com or 10.0.0.' ||
           (doc_id % 256) || ' call +1 (555) 123-4567 now' AS ra,
         text AS rb
  FROM documents
),
r AS (
  SELECT doc_id, {ra_red} AS ra2, {rb_red} AS rb2, ra, rb FROM t
),
c AS (
  SELECT doc_id, ra2 || chr(10) || rb2 AS clean_text,
         CAST((ra2 <> ra)::INT + (rb2 <> rb)::INT AS BIGINT)
           AS n_pii_regions,
         length(ra2) AS la, length(rb2) AS lb
  FROM r
),
spans AS (
  SELECT doc_id, 'r0001' AS region_id, 0 AS span_start, la AS span_end
  FROM c
  UNION ALL
  SELECT doc_id, 'r0002', la + 1, la + 1 + lb FROM c
  UNION ALL
  SELECT doc_id, 'r0000', la + 1, la + 1 FROM c
)
SELECT c.doc_id, md5(c.clean_text) AS clean_md5, c.n_pii_regions,
       s.region_id,
       CAST(s.span_start AS BIGINT) AS span_start,
       CAST(s.span_end AS BIGINT) AS span_end,
       substring(c.clean_text, s.span_start + 1,
                 s.span_end - s.span_start) AS piece
FROM c JOIN spans s USING (doc_id)
"""


O_PII_SPANS = _pii_spans_oracle()


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (operators/decontaminate): corpus docs
    sharing any distinct word-5-gram shingle with the benchmark slice
    (every 50th doc stands in for the eval set). The benchmark shingle
    set is broadcast — the corpus side is a narrow scan + broadcast
    semi-join + doc-keyed agg, no corpus-wide shuffle key."""
    from .operators.decontaminate import contamination_flags

    d = _t(spark, sf_dir, "documents")
    bench = d.filter("doc_id % 50 = 0")
    out = contamination_flags(d, bench, n=5)
    return out.selectExpr(
        "doc_id", "n_overlap", "cast(contaminated as int) as contaminated"
    )


_D_COMPOSE5 = (
    f"((((th[i] * 131 + th[i+1]) % {P} * 131 + th[i+2]) % {P}"
    f" * 131 + th[i+3]) % {P} * 131 + th[i+4]) % {P}"
)

O_DECONTAMINATE = f"""
WITH t AS (SELECT doc_id, {_D_TOKS} AS toks FROM documents),
th AS (
  SELECT doc_id, list_transform(toks, s -> {_D_STR_HASH.format(s="s")}) AS th
  FROM t WHERE len(toks) >= 5
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(th) - 3),
                                      i -> {_D_COMPOSE5})) AS shs
  FROM th
),
ds AS (SELECT doc_id, unnest(shs) AS sh FROM sh),
bs AS (SELECT DISTINCT sh FROM ds WHERE doc_id % 50 = 0),
hits AS (
  SELECT d.doc_id, count(DISTINCT d.sh) AS n_overlap
  FROM ds d JOIN bs USING (sh) GROUP BY d.doc_id
)
SELECT doc.doc_id,
       CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
       CAST(coalesce(h.n_overlap, 0) >= 1 AS INT) AS contaminated
FROM documents doc LEFT JOIN hits h ON doc.doc_id = h.doc_id
"""


def q_ann_ivf_search(spark, sf_dir):
    """Full IVF search path (operators/ann.ivf_search): probe the 2
    nearest of 8 inverted lists per query, exact cosine within those
    lists only, top-3 per query — the recall/cost dial the brute-force
    baseline (ann_cosine_topk) is measured against. Centroids broadcast
    to both sides; the only corpus-sized shuffle keys on the
    centroid id."""
    from .operators.ann import ivf_search

    e = _t(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "transform(embedding, x -> cast(x as double)) as v"
    )
    cents = e.filter(F.col("vec_id") < 8).selectExpr("vec_id as cid", "v as cv")
    queries = e.filter("vec_id >= 8 and vec_id < 13").selectExpr(
        "vec_id as qid", "v as qv"
    )
    return ivf_search(
        e.selectExpr("vec_id as id", "v"), queries, cents, nprobe=2, k=3
    )


O_ANN_IVF_SEARCH = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), c AS (
  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8
), q AS (
  SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id >= 8 AND vec_id < 13
), assign AS (
  SELECT vec_id AS id, v, cid, row_number() OVER (
           PARTITION BY vec_id ORDER BY dist2 ASC, cid ASC) AS rn
  FROM (
    SELECT e.vec_id, e.v, c.cid,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))),
             (x, y) -> x + y) AS dist2
    FROM e, c
  )
), lists AS (SELECT id, v, cid FROM assign WHERE rn = 1),
probes AS (
  SELECT qid, qv, cid FROM (
    SELECT q.qid, q.qv, c.cid, row_number() OVER (
             PARTITION BY q.qid ORDER BY list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, 65), i -> (qv[i] - cv[i]) * (qv[i] - cv[i]))),
               (x, y) -> x + y) ASC, c.cid ASC) AS rn
    FROM q, c
  ) WHERE rn <= 2
), scored AS (
  SELECT p.qid, l.id AS nid,
         {_D_DOT.format(a="qv", b="v")} /
         (sqrt({_D_DOT.format(a="qv", b="qv")}) * sqrt({_D_DOT.format(a="v", b="v")}))
           AS cos
  FROM lists l JOIN probes p ON l.cid = p.cid
  WHERE l.id <> p.qid
)
SELECT qid, nid,
       CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS BIGINT) AS rnk,
       round(cos, 6) AS cos
FROM scored QUALIFY rnk <= 3
"""


def q_ann_recall_audit(spark, sf_dir):
    """Recall@3 of ivf_search vs the exact cosine baseline, per query
    and per nprobe ∈ {1, 2} (operators/ann.recall_audit) — pins the
    nprobe/recall trade numerically (round-3 task 9). Same centroids/
    queries as ann_ivf_search so the two keys cross-check."""
    from .operators.ann import recall_audit

    e = _t(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "transform(embedding, x -> cast(x as double)) as v"
    )
    cents = e.filter(F.col("vec_id") < 8).selectExpr("vec_id as cid", "v as cv")
    queries = e.filter("vec_id >= 8 and vec_id < 13").selectExpr(
        "vec_id as qid", "v as qv"
    )
    return recall_audit(
        e.selectExpr("vec_id as id", "v"), queries, cents, nprobes=(1, 2), k=3
    )


O_ANN_RECALL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), c AS (
  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8
), q AS (
  SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id >= 8 AND vec_id < 13
), np(np) AS (VALUES (1), (2)),
assign AS (
  SELECT vec_id AS id, v, cid, row_number() OVER (
           PARTITION BY vec_id ORDER BY dist2 ASC, cid ASC) AS rn
  FROM (
    SELECT e.vec_id, e.v, c.cid,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))),
             (x, y) -> x + y) AS dist2
    FROM e, c
  )
), lists AS (SELECT id, v, cid FROM assign WHERE rn = 1),
probes_all AS (
  SELECT qid, qv, cid, row_number() OVER (
           PARTITION BY q.qid ORDER BY list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, 65), i -> (qv[i] - cv[i]) * (qv[i] - cv[i]))),
             (x, y) -> x + y) ASC, c.cid ASC) AS rn
  FROM q, c
), approx AS (
  SELECT np, qid, nid FROM (
    SELECT s.np, s.qid, s.nid,
           row_number() OVER (PARTITION BY s.np, s.qid
                              ORDER BY s.cos DESC, s.nid ASC) AS rnk
    FROM (
      SELECT np.np, p.qid, l.id AS nid,
             {_D_DOT.format(a="qv", b="v")} /
             (sqrt({_D_DOT.format(a="qv", b="qv")}) * sqrt({_D_DOT.format(a="v", b="v")}))
               AS cos
      FROM probes_all p JOIN np ON p.rn <= np.np
      JOIN lists l ON l.cid = p.cid
      WHERE l.id <> p.qid
    ) s
  ) WHERE rnk <= 3
), exact AS (
  SELECT qid, nid FROM (
    SELECT q.qid, e.vec_id AS nid,
           row_number() OVER (PARTITION BY q.qid ORDER BY
             {_D_DOT.format(a="qv", b="v")} /
             (sqrt({_D_DOT.format(a="qv", b="qv")}) * sqrt({_D_DOT.format(a="v", b="v")}))
             DESC, e.vec_id ASC) AS rnk
    FROM e, q WHERE e.vec_id <> q.qid
  ) WHERE rnk <= 3
), hits AS (
  SELECT a.np, a.qid, count(*) AS n_hits
  FROM approx a JOIN exact x ON a.qid = x.qid AND a.nid = x.nid
  GROUP BY a.np, a.qid
)
SELECT CAST(np.np AS BIGINT) AS nprobe, q.qid,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       round(coalesce(h.n_hits, 0) * 1.0 / 3, 6) AS recall
FROM q CROSS JOIN np LEFT JOIN hits h ON h.np = np.np AND h.qid = q.qid
"""


def q_domain_stats(spark, sf_dir):
    """Per-registered-domain corpus stats: the url functions feeding a
    fine-grained aggregation (the shape of a per-site reputation pass;
    at 100 TB the group key is the registered domain — millions of
    keys, partial-agg combines map-side, hot domains ride AQE skew
    splitting or the engine's salting operator)."""
    from .functions.urls import canonicalize_url, host_of, registered_domain

    d = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", "n_chars", f"{_SYNTH_URL} as url"
    )
    return (
        d.withColumn("canonical_url", canonicalize_url("url"))
        .withColumn("host", host_of("url"))
        .withColumn("reg_domain", registered_domain("host"))
        .groupBy("reg_domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("host").alias("n_hosts"),
            F.countDistinct("canonical_url").alias("n_urls"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
    )


O_DOMAIN_STATS = f"""
WITH u AS ({O_URL_CANON.strip()}),
j AS (
  SELECT u.doc_id, u.canonical_url, u.host, u.reg_domain, d.n_chars
  FROM u JOIN documents d ON u.doc_id = d.doc_id
)
SELECT reg_domain, count(*) AS n_docs,
       count(DISTINCT host) AS n_hosts,
       count(DISTINCT canonical_url) AS n_urls,
       round(avg(n_chars), 6) AS avg_chars
FROM j GROUP BY reg_domain
"""


def q_domain_blocklist(spark, sf_dir):
    """Domain blocklist flagging (functions/urls.with_domain_blocked):
    C4-style exclusion by registered domain — blocklist broadcast,
    domain derived inline, one narrow broadcast join."""
    from .functions.urls import with_domain_blocked

    d = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_SYNTH_URL} as url"
    )
    bl = spark.createDataFrame(
        [("example.com",), ("example.co.uk",)], "domain string"
    )
    return with_domain_blocked(d, bl).select("doc_id", "reg_domain", "blocked")


O_DOMAIN_BLOCKLIST = f"""
WITH u AS ({O_URL_CANON.strip()})
SELECT doc_id, reg_domain,
       reg_domain IN ('example.com', 'example.co.uk') AS blocked
FROM u
"""


def q_token_budget_stratified(spark, sf_dir):
    """Per-language token budgets (operators/sampling
    .token_budget_stratified): the data-mixture operation — 30k chars
    of en, 8k of de, everything else excluded (default budget 0),
    deterministic by hashed key within each language. The Spark side
    runs the per-stratum distributed prefix-sum; the oracle states the
    per-stratum global running sums it must exactly equal."""
    from .operators.sampling import token_budget_stratified

    d = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", "lang", "cast(length(text) as bigint) as n_tokens"
    )
    return token_budget_stratified(
        d, {"en": 30000, "de": 8000}
    ).select("doc_id", "lang", "n_tokens")


O_TOKEN_BUDGET_STRAT = f"""
WITH d AS (
  SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_tokens,
         {_D_BUDGET_B} AS b
  FROM documents WHERE lang IS NOT NULL
),
c AS (
  SELECT doc_id, lang, n_tokens,
         sum(n_tokens) OVER (PARTITION BY lang
                             ORDER BY b ASC, doc_id ASC
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM d
)
SELECT doc_id, lang, n_tokens FROM c
WHERE cum <= CASE lang WHEN 'en' THEN 30000 WHEN 'de' THEN 8000 ELSE 0 END
"""


def q_host_blocklist(spark, sf_dir):
    """Exact-host blocklist (functions/urls.with_host_blocked): the
    host-granular sibling of the registered-domain pass — a full-url
    entry and a bare host both normalize through the same derivation;
    only the exact hosts match (example.co.uk's OTHER subdomains
    survive)."""
    from .functions.urls import with_host_blocked

    d = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_SYNTH_URL} as url"
    )
    bl = spark.createDataFrame(
        [("https://NEWS.example.co.uk/x?y=1",), ("cdn.site.org",),
         ("  Sub.Host.COM:8080 ",)],
        "host string",
    )
    return with_host_blocked(d, bl).select("doc_id", "host", "host_blocked")


O_HOST_BLOCKLIST = f"""
WITH u AS (SELECT doc_id, {_D_SYNTH_URL} AS url FROM documents)
SELECT doc_id,
       lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1))
         AS host,
       lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1))
         IN ('news.example.co.uk', 'cdn.site.org', 'sub.host.com')
         AS host_blocked
FROM u
"""


# decomposed combining marks + an already-composed char: NFC merges
# 'e'+U+0301 → é and 'A'+U+030A → Å (2 chars → 1 each), leaves é alone
_COMB_ACUTE = chr(0x0301)
_RING_ABOVE = chr(0x030A)
_NFC_INPUT = f"concat(text, ' cafe{_COMB_ACUTE} A{_RING_ABOVE} café')"


def q_nfc_normalization(spark, sf_dir):
    """Unicode NFC normalization (functions/normalize.with_nfc):
    crawl-encoding hygiene — decomposed combining sequences splinter
    every content key downstream. Python unicodedata on the Spark
    side, DuckDB nfc_normalize in the oracle; NFC is
    stability-guaranteed, so the two agree by Unicode policy."""
    from .functions.normalize import with_nfc

    d = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_NFC_INPUT} as text"
    )
    return with_nfc(d).selectExpr(
        "doc_id",
        "md5(text_nfc) as nfc_md5",
        "nfc_changed",
        "cast(length(text) - length(text_nfc) as bigint) as n_composed",
    )


O_NFC = f"""
WITH t AS (SELECT doc_id, concat(text, ' cafe{_COMB_ACUTE} A{_RING_ABOVE} café') AS text
           FROM documents),
n AS (SELECT doc_id, text, nfc_normalize(text) AS x FROM t)
SELECT doc_id, md5(x) AS nfc_md5, x <> text AS nfc_changed,
       CAST(length(text) - length(x) AS BIGINT) AS n_composed
FROM n
"""


def q_dedup_incremental_merge(spark, sf_dir):
    """Incremental corpus merge (operators/dedup.merge_corpus): an
    incoming crawl batch joins the corpus; exact-content duplicates of
    existing docs (and later within-batch copies) are dropped. One
    anti-join on the content hash — batch-vs-corpus, never
    corpus-wide."""
    from .operators.dedup import merge_corpus

    d = _t(spark, sf_dir, "documents")
    existing = d.filter("doc_id % 3 != 0").select("doc_id", "text")
    incoming = (
        d.filter("doc_id % 5 = 0")
        .selectExpr("doc_id + 100000 as doc_id", "text")
        .unionByName(
            d.filter("doc_id % 7 = 0").selectExpr(
                "doc_id + 200000 as doc_id", "text || ' fresh' as text"
            )
        )
    )
    out = merge_corpus(existing, incoming)
    return out.selectExpr("doc_id", "md5(text) as text_md5", "origin")


O_DEDUP_MERGE = """
WITH existing AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
),
incoming AS (
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 200000, text || ' fresh' FROM documents WHERE doc_id % 7 = 0
),
batch AS (
  SELECT doc_id, text, md5(text) AS h,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM incoming
),
fresh AS (
  SELECT doc_id, text FROM batch b
  WHERE rn = 1
    AND NOT EXISTS (SELECT 1 FROM existing e WHERE md5(e.text) = b.h)
)
SELECT doc_id, md5(text) AS text_md5, 'existing' AS origin FROM existing
UNION ALL
SELECT doc_id, md5(text), 'new' FROM fresh
"""


def q_dedup_cross_candidates(spark, sf_dir):
    """Two-corpus LSH (operators/dedup.cross_corpus_candidates): band
    tables of the incoming batch (odd doc ids) and the existing corpus
    (even ids) are equi-joined — existing×existing pairs are never
    generated, so the cost scales with the batch."""
    from .operators.dedup import cross_corpus_candidates

    d = _t(spark, sf_dir, "documents")
    new = d.filter("doc_id % 2 = 1")
    existing = d.filter("doc_id % 2 = 0")
    return cross_corpus_candidates(new, existing)


O_DEDUP_CROSS = f"""
WITH t AS (
  SELECT doc_id, {_D_TOKS} AS toks FROM documents
), tokh AS (
  SELECT doc_id,
         list_transform(toks, s -> {_D_STR_HASH.format(s="s")}) AS th
  FROM t WHERE len(toks) >= 3
), hs AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(th) - 1),
           i -> ((th[i] * 131 + th[i+1]) % {P} * 131 + th[i+2]) % {P})) AS hs
  FROM tokh
), sig AS (
  SELECT doc_id,
         list_transform(range(0, 8), i -> list_min(list_transform(hs,
           h -> ((2*i + 3) * h + 5*i + 7) % {P}))) AS sig
  FROM hs
), nb AS (
  SELECT doc_id, j AS band_idx, sig[2*j + 1] * {P} + sig[2*j + 2] AS band_val
  FROM sig, range(0, 4) r(j) WHERE doc_id % 2 = 1
  QUALIFY row_number() OVER (PARTITION BY band_idx, band_val ORDER BY doc_id) <= 1024
), eb AS (
  SELECT doc_id, j AS band_idx, sig[2*j + 1] * {P} + sig[2*j + 2] AS band_val
  FROM sig, range(0, 4) r(j) WHERE doc_id % 2 = 0
  QUALIFY row_number() OVER (PARTITION BY band_idx, band_val ORDER BY doc_id) <= 1024
)
SELECT DISTINCT nb.doc_id AS new_id, eb.doc_id AS existing_id
FROM nb JOIN eb ON nb.band_idx = eb.band_idx AND nb.band_val = eb.band_val
"""


def q_dedup_lsh_incremental(spark, sf_dir):
    """Persisted + incrementally-extended LSH dedup index
    (operators/dedup.build_lsh_index / lsh_add_batch): the index is
    built from even doc ids, the odd-id batch is added incrementally —
    banding ONCE with the index's recorded parameters, candidates from
    batch-vs-index and batch-vs-batch joins only (the indexed corpus
    never re-shingles). The oracle recomputes both candidate sets from
    scratch — hash equality proves the persisted-index path loses or
    invents nothing."""
    import tempfile

    from .operators.dedup import build_lsh_index, lsh_add_batch

    d = _t(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="lsh_contract_")
    build_lsh_index(d.filter("doc_id % 2 = 0"), path)
    return lsh_add_batch(spark, path, d.filter("doc_id % 2 = 1"))


O_DEDUP_LSH_INCREMENTAL = f"""
WITH t AS (
  SELECT doc_id, {_D_TOKS} AS toks FROM documents
), tokh AS (
  SELECT doc_id,
         list_transform(toks, s -> {_D_STR_HASH.format(s="s")}) AS th
  FROM t WHERE len(toks) >= 3
), hs AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(th) - 1),
           i -> ((th[i] * 131 + th[i+1]) % {P} * 131 + th[i+2]) % {P})) AS hs
  FROM tokh
), sig AS (
  SELECT doc_id,
         list_transform(range(0, 8), i -> list_min(list_transform(hs,
           h -> ((2*i + 3) * h + 5*i + 7) % {P}))) AS sig
  FROM hs
), nb AS (
  SELECT doc_id, j AS band_idx, sig[2*j + 1] * {P} + sig[2*j + 2] AS band_val
  FROM sig, range(0, 4) r(j) WHERE doc_id % 2 = 1
  QUALIFY row_number() OVER (PARTITION BY band_idx, band_val ORDER BY doc_id) <= 1024
), eb AS (
  SELECT doc_id, j AS band_idx, sig[2*j + 1] * {P} + sig[2*j + 2] AS band_val
  FROM sig, range(0, 4) r(j) WHERE doc_id % 2 = 0
  QUALIFY row_number() OVER (PARTITION BY band_idx, band_val ORDER BY doc_id) <= 1024
)
SELECT DISTINCT nb.doc_id AS new_id, eb.doc_id AS other_id, 'index' AS via
FROM nb JOIN eb ON nb.band_idx = eb.band_idx AND nb.band_val = eb.band_val
UNION
SELECT DISTINCT a.doc_id, b.doc_id, 'batch'
FROM nb a JOIN nb b
  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
 AND a.doc_id < b.doc_id
"""


def q_char_entropy(spark, sf_dir):
    """Character-entropy quality signal
    (operators/textstats.with_char_entropy): sorted-runs Shannon
    entropy, fold order frozen to sorted-character order so the oracle
    sums identically. Narrow, zero shuffle."""
    from .operators.textstats import with_char_entropy

    d = _t(spark, sf_dir, "documents")
    return with_char_entropy(d).selectExpr(
        "doc_id", "cast(length(text) as bigint) as n_chars_text", "char_entropy"
    )


O_CHAR_ENTROPY = """
WITH s0 AS (
  SELECT doc_id, text, list_sort(string_split(text, '')) AS s FROM documents
),
s1 AS (
  SELECT doc_id, text, s, len(s) AS n,
         CASE WHEN len(s) = 0 THEN []
              ELSE list_filter(generate_series(1, len(s)),
                               x -> x = 1 OR s[x] != s[x-1]) END AS b
  FROM s0
),
s2 AS (
  SELECT doc_id, text, n,
         list_transform(generate_series(1, len(b)),
           j -> (CASE WHEN j = len(b) THEN n + 1 ELSE b[j+1] END) - b[j]) AS cnts
  FROM s1
)
SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_text,
       CASE WHEN n = 0 THEN 0.0 ELSE
         -- '+ 0.0' is load-bearing: DuckDB's abs(-0.0) RETURNS -0.0
         -- (verified), and -0.0 vs Spark's +0.0 fails the typed gate
         -- for any single-character-alphabet document
         round(abs(-list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(cnts, k -> (k * 1.0 / n) * log2(k * 1.0 / n))),
           (a, x) -> a + x)) + 0.0, 6) END AS char_entropy
FROM s2
"""


def q_lm_bigram_score(spark, sf_dir):
    """CCNet-style LM quality signal (operators/textstats
    bigram_lm_model + with_lm_score): train a char-bigram model on the
    trusted slice (every 10th doc), score every document's average
    add-one surprisal. Model + totals broadcast; the corpus side is
    explode → broadcast join → doc-keyed agg."""
    from .operators.textstats import bigram_lm_model, with_lm_score

    d = _t(spark, sf_dir, "documents")
    model = bigram_lm_model(d.filter("doc_id % 10 = 0"))
    return with_lm_score(d, model)


_D_BIGRAMS = (
    "case when length(text) < 2 then [] else"
    " list_transform(generate_series(1, length(text) - 1),"
    " i -> text[i] || text[i+1]) end"
)

O_LM_BIGRAM = f"""
WITH ref AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
rb AS (SELECT unnest({_D_BIGRAMS}) AS bg FROM ref),
model AS (SELECT bg, count(*) AS cnt FROM rb GROUP BY bg),
tv AS (SELECT sum(cnt) AS T, count(*) AS V FROM model),
docs AS (SELECT doc_id, unnest({_D_BIGRAMS}) AS bg FROM documents),
per_bg AS (
  SELECT d.doc_id, d.bg, count(*) AS n_local,
         -log2((coalesce(any_value(m.cnt), 0) + 1.0)
               / (any_value(tv.T) + any_value(tv.V) + 1.0)) AS s
  FROM docs d LEFT JOIN model m USING (bg), tv
  GROUP BY d.doc_id, d.bg
),
sc AS (
  -- fold count*surprisal over the bigram-SORTED distinct list: float
  -- addition is order-sensitive and the engine folds the same order
  SELECT doc_id,
         round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(vals, x -> x.n_local * x.s)), (a, x) -> a + x)
               / list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(vals, x -> x.n_local)), (a, x) -> a + x),
               6) AS bits_per_bigram
  FROM (
    SELECT doc_id,
           list_sort(list({{'bg': bg, 'n_local': n_local, 's': s}})) AS vals
    FROM per_bg GROUP BY doc_id
  )
)
SELECT t.doc_id, sc.bits_per_bigram
FROM documents t LEFT JOIN sc ON t.doc_id = sc.doc_id
"""

def q_lm_perlang_score(spark, sf_dir):
    """Per-language LM scoring (operators/textstats
    bigram_lm_models_by_lang + with_lm_score_per_lang) — the
    CCNet-faithful form (per-language models, not one global): train a
    char-bigram model per lang on the trusted slice (every 10th doc),
    score each document under the model of its OWN lang column. Models
    and per-lang totals broadcast; langs with no model score NULL."""
    from .operators.textstats import (
        bigram_lm_models_by_lang,
        with_lm_score_per_lang,
    )

    d = _t(spark, sf_dir, "documents")
    models = bigram_lm_models_by_lang(d.filter("doc_id % 10 = 0"))
    return with_lm_score_per_lang(d, models)


O_LM_PERLANG = f"""
WITH ref AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
rb AS (SELECT lang, unnest({_D_BIGRAMS}) AS bg FROM ref),
model AS (SELECT lang, bg, count(*) AS cnt FROM rb GROUP BY lang, bg),
tv AS (SELECT lang, sum(cnt) AS T, count(*) AS V FROM model GROUP BY lang),
docs AS (SELECT doc_id, lang, unnest({_D_BIGRAMS}) AS bg FROM documents),
per_bg AS (
  SELECT d.doc_id, d.lang, d.bg, count(*) AS n_local,
         CASE WHEN any_value(tv.T) IS NULL THEN NULL ELSE
           -log2((coalesce(any_value(m.cnt), 0) + 1.0)
                 / (any_value(tv.T) + any_value(tv.V) + 1.0)) END AS s
  FROM docs d
  LEFT JOIN model m ON m.lang = d.lang AND m.bg = d.bg
  LEFT JOIN tv ON tv.lang = d.lang
  GROUP BY d.doc_id, d.lang, d.bg
),
sc AS (
  SELECT doc_id, lang,
         CASE WHEN len(vals) = 0 THEN NULL ELSE
           round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(vals, x -> x.n_local * x.s)), (a, x) -> a + x)
                 / list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(vals, x -> x.n_local)), (a, x) -> a + x),
                 6) END AS bits_per_bigram
  FROM (
    -- NULL-surprisal rows (unseen-model langs) drop here exactly like
    -- Spark's collect_list; the fold runs over the bigram-SORTED list
    SELECT doc_id, lang,
           coalesce(list_sort(list({{'bg': bg, 'n_local': n_local, 's': s}})
                    FILTER (s IS NOT NULL)), []) AS vals
    FROM per_bg GROUP BY doc_id, lang
  )
)
SELECT t.doc_id, t.lang, sc.bits_per_bigram
FROM documents t LEFT JOIN sc ON t.doc_id = sc.doc_id
"""


def q_ccnet_buckets(spark, sf_dir):
    """CCNet perplexity partitioning (operators/textstats
    .with_ccnet_buckets): per-language LM bits → head/middle/tail at
    the rounded terciles; docs without evidence land in 'unscored'."""
    from .operators.textstats import (
        bigram_lm_models_by_lang,
        with_ccnet_buckets,
        with_lm_score_per_lang,
    )

    d = _t(spark, sf_dir, "documents")
    models = bigram_lm_models_by_lang(d.filter("doc_id % 10 = 0"))
    scored = with_lm_score_per_lang(d, models)
    # exact=True: the opt-in exact-percentile path is the ONLY one a
    # DuckDB oracle can restate (quantile_cont); the default approx
    # path has engine-specific sketch merge order (see the operator
    # docstring) and is covered by pytest instead
    return with_ccnet_buckets(scored, exact=True).select(
        "doc_id", "bits_per_bigram", "ccnet_bucket"
    )


O_CCNET_BUCKETS = f"""
WITH lm AS ({O_LM_PERLANG.strip()}),
cuts AS (
  SELECT round(quantile_cont(bits_per_bigram, CAST(1 AS DOUBLE)/3), 6) AS t1,
         round(quantile_cont(bits_per_bigram, CAST(2 AS DOUBLE)/3), 6) AS t2
  FROM lm
)
SELECT lm.doc_id, lm.bits_per_bigram,
       CASE WHEN lm.bits_per_bigram IS NULL THEN 'unscored'
            WHEN lm.bits_per_bigram <= cuts.t1 THEN 'head'
            WHEN lm.bits_per_bigram <= cuts.t2 THEN 'middle'
            ELSE 'tail' END AS ccnet_bucket
FROM lm CROSS JOIN cuts
"""


def q_corpus_card(spark, sf_dir):
    """Per-language dataset card (operators/textstats.corpus_card):
    the datasheet aggregates a curation run publishes — doc counts,
    token/char volumes, mean + exact median lengths, keyed by the
    REAL classifier's predicted language."""
    from .operators.langid import with_lang_ngram
    from .operators.textstats import corpus_card

    d = _t(spark, sf_dir, "documents")
    return corpus_card(with_lang_ngram(d), lang_col="pred_lang")


def _corpus_card_oracle() -> str:
    from .operators.bpe import WS_CLASS_DUCK

    # reuse the langid oracle for pred_lang, then the card aggregates;
    # sums CAST to BIGINT (DuckDB widens BIGINT sums to HUGEINT)
    return f"""
WITH pred AS ({O_LANG_ID_NGRAM.strip()}),
j AS (
  SELECT p.pred_lang AS lang,
         CAST(length(d.text) AS BIGINT) AS n_chars,
         CAST(len(list_filter(regexp_split_to_array(coalesce(d.text, ''),
              '{WS_CLASS_DUCK}'), x -> x <> '')) AS BIGINT) AS n_tokens
  FROM pred p JOIN documents d ON p.doc_id = d.doc_id
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(avg(n_chars), 6) AS mean_chars,
       round(quantile_cont(n_chars, 0.5), 6) AS median_chars
FROM j GROUP BY lang
"""


O_CORPUS_CARD = _corpus_card_oracle()


def q_compression_ratio(spark, sf_dir):
    """Compression-ratio quality signal (operators/textstats
    compression_ratio): zlib is not SQL-expressible, so this is the
    contract's one deliberately rows-only key — exact values are
    pinned by pytest against the same zlib instead of DuckDB."""
    from .operators.textstats import compression_ratio

    d = _t(spark, sf_dir, "documents")
    return compression_ratio(d)


def q_dedup_exact_substring(spark, sf_dir):
    """Exact duplicated-substring removal
    (operators/dedup.exact_substring_dedup, the Lee-et-al. training-
    data pass): _K-token windows occurring 2+ times in the corpus are
    removed everywhere except the canonical (min doc, pos) occurrence.
    Windows key on md5 of the window TEXT (collision-safe — the
    operator is destructive); explode/rebuild runs only for affected
    documents."""
    from .operators.dedup import exact_substring_dedup

    d = _t(spark, sf_dir, "documents")
    out = exact_substring_dedup(d, k=_K_SUBSTR)
    return out.selectExpr(
        "doc_id", "md5(clean_text) as clean_md5", "n_tokens", "n_tokens_removed"
    )


# ONE constant feeds the Spark call and every oracle site (window size,
# series bounds, span width) — k drifting out of sync across them is a
# silent wrong-oracle hazard
_K_SUBSTR = 8

O_DEDUP_SUBSTRING = f"""
WITH t AS (
  SELECT doc_id, {_D_TOKS} AS toks FROM documents
), occ AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(list_slice(toks, i + 1, i + {_K_SUBSTR}), ' ')) AS g
  FROM t, LATERAL (SELECT unnest(generate_series(0, len(toks) - {_K_SUBSTR})) AS i)
  WHERE len(toks) >= {_K_SUBSTR}
), dup AS (
  SELECT g, min(ROW(doc_id, pos)) AS canon
  FROM occ GROUP BY g HAVING count(*) >= 2
), bad AS (
  SELECT DISTINCT o.doc_id, u.ti
  FROM occ o JOIN dup d USING (g),
       LATERAL (SELECT unnest(generate_series(o.pos, o.pos + {_K_SUBSTR} - 1)) AS ti) u
  WHERE ROW(o.doc_id, o.pos) <> d.canon
), tok_rows AS (
  SELECT doc_id, i - 1 AS ti, toks[i] AS tok
  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)
), kept AS (
  SELECT tr.doc_id, tr.ti, tr.tok
  FROM tok_rows tr ANTI JOIN bad b ON tr.doc_id = b.doc_id AND tr.ti = b.ti
), rebuilt AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY ti) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       md5(coalesce(r.clean_text, '')) AS clean_md5,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(len(t.toks) - coalesce(r.n_kept, 0) AS BIGINT) AS n_tokens_removed
FROM t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
"""


def q_pq_adc_topk(spark, sf_dir):
    """Product quantization end-to-end (operators/ann.pq_encode +
    pq_adc_topk): m=4 subspaces of 16 dims over integer-quantized
    embeddings (exact cross-engine math), codebooks seeded from
    vec_id<4's subvectors, query = vec 7 un-quantized-side; ADC
    distance = sum of per-subspace LUT entries, top-10 by
    (dist, vec_id). Encode is a broadcast join + partial min(struct);
    search is a broadcast LUT join + partial sum + TakeOrdered."""
    from .operators.ann import pq_adc_topk, pq_encode

    e = _t(spark, sf_dir, "embeddings").selectExpr(
        "vec_id",
        "transform(embedding, x -> cast(round(cast(x as double)"
        " * 1000000) as double)) as q",
    )
    cb = (
        e.filter("vec_id < 4")
        .selectExpr("vec_id as cid", "explode(sequence(0, 3)) as sub", "q")
        .selectExpr("sub", "cid", "slice(q, sub * 16 + 1, 16) as cv")
    )
    query = e.filter("vec_id = 7").selectExpr("q as qv")
    codes = pq_encode(e, cb, 4, vec_col="q")
    return pq_adc_topk(codes, cb, query, k=10, m=4)


O_PQ_ADC_TOPK = """
WITH e AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS DOUBLE)) AS q
  FROM embeddings
), cb AS MATERIALIZED (
  SELECT s.sub, e.vec_id AS code,
         list_transform(range(1, 17), i -> e.q[s.sub * 16 + i]) AS cv
  FROM e, (SELECT unnest(range(4)) AS sub) s
  WHERE e.vec_id < 4
), qv AS MATERIALIZED (
  SELECT q FROM e WHERE vec_id = 7
), enc AS (
  SELECT e.vec_id, cb.sub, cb.code,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(range(1, 17),
        i -> (e.q[cb.sub * 16 + i] - cb.cv[i])
             * (e.q[cb.sub * 16 + i] - cb.cv[i]))),
      (a, b) -> a + b) AS d2
  FROM e, cb
), best AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           row_number() OVER (
             PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) AS rn
    FROM enc) WHERE rn = 1
), lut AS (
  SELECT cb.sub, cb.code,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(range(1, 17),
        i -> (qv.q[cb.sub * 16 + i] - cb.cv[i])
             * (qv.q[cb.sub * 16 + i] - cb.cv[i]))),
      (a, b) -> a + b) AS d2
  FROM cb, qv
)
SELECT b.vec_id, SUM(l.d2) AS adc_dist2
FROM best b JOIN lut l USING (sub, code)
GROUP BY b.vec_id
ORDER BY adc_dist2 ASC, vec_id ASC
LIMIT 10
"""


def q_ivfpq_search(spark, sf_dir):
    """IVF+PQ composed (operators/ann.ivfpq_search): three coarse
    lists seeded from vec_id<3, nprobe=2 prunes to the two nearest
    lists of query vec 7, and only those vectors' PQ codes pay ADC.
    The oracle restates coarse probe + candidate filter + the full PQ
    chain — the composition is checked end-to-end, not per-piece."""
    from .operators.ann import (
        assign_to_centroids,
        ivfpq_search,
        pq_encode,
    )

    e = _t(spark, sf_dir, "embeddings").selectExpr(
        "vec_id",
        "transform(embedding, x -> cast(round(cast(x as double)"
        " * 1000000) as double)) as q",
    )
    coarse = e.filter("vec_id < 3").selectExpr("vec_id as cid", "q as cv")
    cb = (
        e.filter("vec_id < 4")
        .selectExpr("vec_id as cid", "explode(sequence(0, 3)) as sub", "q")
        .selectExpr("sub", "cid", "slice(q, sub * 16 + 1, 16) as cv")
    )
    query = e.filter("vec_id = 7").selectExpr("q as qv")
    assignments = assign_to_centroids(
        e.selectExpr("vec_id as id", "q as v"), coarse
    ).selectExpr("id as vec_id", "cid")
    codes = pq_encode(e, cb, 4, vec_col="q")
    return ivfpq_search(
        assignments, codes, coarse, cb, query, nprobe=2, k=8, m=4
    )


O_IVFPQ_SEARCH = """
WITH e AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS DOUBLE)) AS q
  FROM embeddings
), coarse AS MATERIALIZED (
  SELECT vec_id AS cid, q AS cv FROM e WHERE vec_id < 3
), cb AS MATERIALIZED (
  SELECT s.sub, e.vec_id AS code,
         list_transform(range(1, 17), i -> e.q[s.sub * 16 + i]) AS cv
  FROM e, (SELECT unnest(range(4)) AS sub) s
  WHERE e.vec_id < 4
), qv AS MATERIALIZED (
  SELECT q FROM e WHERE vec_id = 7
), coarse_d AS (
  SELECT c.cid,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(range(1, 65),
        i -> (qv.q[i] - c.cv[i]) * (qv.q[i] - c.cv[i]))),
      (a, b) -> a + b) AS d2
  FROM coarse c, qv
), probed AS (
  SELECT cid FROM coarse_d ORDER BY d2 ASC, cid ASC LIMIT 2
), assigned AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(range(1, 65),
          i -> (e.q[i] - c.cv[i]) * (e.q[i] - c.cv[i]))),
        (a, b) -> a + b) AS d2,
      row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(range(1, 65),
          i -> (e.q[i] - c.cv[i]) * (e.q[i] - c.cv[i]))),
        (a, b) -> a + b) ASC, c.cid ASC) AS rn
    FROM e, coarse c) WHERE rn = 1
), cand AS (
  SELECT vec_id FROM assigned WHERE cid IN (SELECT cid FROM probed)
), enc AS (
  SELECT e.vec_id, cb.sub, cb.code,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(range(1, 17),
        i -> (e.q[cb.sub * 16 + i] - cb.cv[i])
             * (e.q[cb.sub * 16 + i] - cb.cv[i]))),
      (a, b) -> a + b) AS d2
  FROM e, cb
  WHERE e.vec_id IN (SELECT vec_id FROM cand)
), best AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           row_number() OVER (
             PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) AS rn
    FROM enc) WHERE rn = 1
), lut AS (
  SELECT cb.sub, cb.code,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(range(1, 17),
        i -> (qv.q[cb.sub * 16 + i] - cb.cv[i])
             * (qv.q[cb.sub * 16 + i] - cb.cv[i]))),
      (a, b) -> a + b) AS d2
  FROM cb, qv
)
SELECT b.vec_id, SUM(l.d2) AS adc_dist2
FROM best b JOIN lut l USING (sub, code)
GROUP BY b.vec_id
ORDER BY adc_dist2 ASC, vec_id ASC
LIMIT 8
"""


# ---------------------------------------------------------------------------
# SemDeDup (operators/ann.semantic_dedup)
# ---------------------------------------------------------------------------

def q_semantic_dedup(spark, sf_dir):
    """SemDeDup over the embeddings table (operators/ann.
    semantic_dedup): IVF coarse assignment (8 fixed centroids,
    vec_id < 8) blocks the cosine pairing; retention order is
    distance-to-centroid DESC then id ASC; a vector drops iff an
    EARLIER one in that order sits within tau=0.35 cosine. The random
    fixture has no semantic twins, so tau is set where the cluster
    cores overlap — 79 of 500 drop, both arms exercised. `aid` aliased
    first so the gate's row sort keys on the unique id."""
    from .operators.ann import semantic_dedup

    e = _t(spark, sf_dir, "embeddings").selectExpr(
        "vec_id as id", "transform(embedding, x -> cast(x as double)) as v"
    )
    c = e.filter(F.col("id") < 8).selectExpr("id as cid", "v as cv")
    return semantic_dedup(e, c, tau=0.35).select(
        F.col("id").alias("aid"), "cid", "kept"
    )


O_SEMANTIC_DEDUP = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), c AS (
  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8
), pairs AS (
  SELECT e.vec_id, c.cid,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))),
           (x, y) -> x + y) AS d2
  FROM e, c
), best AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT vec_id, cid, d2,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
    FROM pairs) WHERE rn = 1
), ev AS (
  SELECT e.vec_id AS id, b.cid, b.d2, v,
         sqrt({_D_DOT.format(a="v", b="v")}) AS n
  FROM e JOIN best b ON e.vec_id = b.vec_id
), dropped AS (
  SELECT DISTINCT l.id
  FROM ev l JOIN ev r ON l.cid = r.cid
   AND (r.d2 > l.d2 OR (r.d2 = l.d2 AND r.id < l.id))
  WHERE {_D_DOT.format(a="l.v", b="r.v")} / (l.n * r.n) >= 0.35
)
SELECT ev.id AS aid, ev.cid,
       (dropped.id IS NULL) AS kept
FROM ev LEFT JOIN dropped ON ev.id = dropped.id
"""


# ---------------------------------------------------------------------------
# C4 line-level rules (operators/paragraphs.c4_line_clean)
# ---------------------------------------------------------------------------

# Five synthetic lines per doc cover every line rule (terminal punct,
# min-words, javascript) and the page arms cover curly brackets
# (doc_id % 7), lorem ipsum (doc_id % 11 = 3 — a line the LINE rules
# keep but the PAGE rule drops), and the min-sentences floor (only
# even non-multiples-of-3 accumulate 3 enders in kept text).

_C4_N = 400
_C4_LINES_SPARK = (
    "concat_ws(chr(10),"
    " concat('This is sentence number ', cast(doc_id as string),"
    "        ' and it is clearly long enough.'),"
    " 'Too short.',"
    " CASE WHEN doc_id % 3 = 0"
    "      THEN 'Please enable javascript to view this page now.'"
    "      ELSE 'An informative middle line with plenty of words here!'"
    " END,"
    " concat('A header without terminal punctuation for page ',"
    "        cast(doc_id as string)),"
    " CASE WHEN doc_id % 2 = 0"
    "      THEN concat('Is this the final question of page ',"
    "                  cast(doc_id as string), '?')"
    "      ELSE 'trailing fragment' END,"
    " CASE WHEN doc_id % 7 = 0 THEN 'body { margin: 0 }' ELSE NULL END,"
    " CASE WHEN doc_id % 11 = 3"
    "      THEN 'Lorem ipsum dolor sit amet, consectetur adipiscing elit.'"
    "      ELSE NULL END)"
)
_C4_LINES_DUCK = (
    "concat_ws(chr(10),"
    " 'This is sentence number ' || CAST(doc_id AS VARCHAR)"
    "   || ' and it is clearly long enough.',"
    " 'Too short.',"
    " CASE WHEN doc_id % 3 = 0"
    "      THEN 'Please enable javascript to view this page now.'"
    "      ELSE 'An informative middle line with plenty of words here!'"
    " END,"
    " 'A header without terminal punctuation for page '"
    "   || CAST(doc_id AS VARCHAR),"
    " CASE WHEN doc_id % 2 = 0"
    "      THEN 'Is this the final question of page '"
    "             || CAST(doc_id AS VARCHAR) || '?'"
    "      ELSE 'trailing fragment' END,"
    " CASE WHEN doc_id % 7 = 0 THEN 'body { margin: 0 }' ELSE NULL END,"
    " CASE WHEN doc_id % 11 = 3"
    "      THEN 'Lorem ipsum dolor sit amet, consectetur adipiscing elit.'"
    "      ELSE NULL END)"
)


def q_c4_line_clean(spark, sf_dir):
    """The C4 cleaning pass (operators/paragraphs.c4_line_clean):
    line-keep = terminal punct + >= 5 words + no 'javascript'; page
    flags = curly / lorem on the ORIGINAL text, >= 3 sentence enders
    on the KEPT text. concat_ws skips the NULL optional arms on both
    engines."""
    from .operators.paragraphs import c4_line_clean

    fx = (
        _t(spark, sf_dir, "documents")
        .filter(f"doc_id < {_C4_N}")
        .selectExpr("doc_id", f"{_C4_LINES_SPARK} as text")
    )
    return c4_line_clean(fx)


O_C4_LINE_CLEAN = f"""
WITH d AS (
  SELECT doc_id, {_C4_LINES_DUCK} AS t
  FROM documents WHERE doc_id < {_C4_N}
), k AS (
  SELECT doc_id, t,
         list_filter(string_split(t, chr(10)), l ->
           regexp_matches(rtrim(l), '[.!?"”]$')
           AND len(list_filter(string_split(l, ' '), w -> w != '')) >= 5
           AND NOT contains(lower(l), 'javascript')) AS kept,
         len(string_split(t, chr(10))) AS n_lines
  FROM d
), c AS (
  SELECT doc_id, t, kept, n_lines,
         COALESCE(array_to_string(kept, chr(10)), '') AS clean_text
  FROM k
)
SELECT doc_id, clean_text,
       CAST(len(kept) AS BIGINT) AS n_kept,
       CAST(n_lines - len(kept) AS BIGINT) AS n_removed,
       CAST(len(regexp_extract_all(clean_text, '[.!?]')) AS BIGINT)
         AS n_sentences,
       (len(regexp_extract_all(clean_text, '[.!?]')) >= 3
        AND NOT contains(t, '{{')
        AND NOT contains(t, '}}')
        AND NOT contains(lower(t), 'lorem ipsum')) AS c4_page_keep
FROM c
"""


# ---------------------------------------------------------------------------
# DSIR importance weights (operators/dsir)
# ---------------------------------------------------------------------------

# Target model = docs with doc_id % 10 < 2; raw model = ALL docs (so
# every scored bucket exists in the raw model — the missing-in-both
# default arm is pytest-covered instead, where it can be constructed).
# B=64 buckets, alpha=1. The per-bucket log-ratio quantizes to BIGINT
# micro-units before the per-doc sum — bigint addition is associative,
# so the cross-engine hash cannot depend on partition order.

_DSIR_B = 64


def _q_dsir_weights_frame(spark, sf_dir):
    from .operators.dsir import dsir_logweights, fit_dsir_model

    docs = _t(spark, sf_dir, "documents")
    target = fit_dsir_model(docs.filter("doc_id % 10 < 2"), n_buckets=_DSIR_B)
    raw = fit_dsir_model(docs, n_buckets=_DSIR_B)
    return dsir_logweights(docs, target, raw, n_buckets=_DSIR_B)


def q_dsir_logweights(spark, sf_dir):
    """DSIR log importance weights (operators/dsir.dsir_logweights):
    hashed unigram+bigram buckets (frozen STR_HASH % 64), add-1
    smoothed target/raw bag models, micro-quantized per-bucket log
    ratios summed per document as BIGINTs."""
    return _q_dsir_weights_frame(spark, sf_dir)


_D_DSIR_GRAMS = f"""
toks AS (
  -- the operator lowercases before tokenizing; the fixture happens to
  -- be all-lowercase, but the oracle must restate the rule, not rely
  -- on that
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), grams AS (
  SELECT doc_id,
         list_concat(toks,
           CASE WHEN len(toks) >= 2
                THEN list_transform(range(1, len(toks)),
                                    i -> toks[i] || ' ' || toks[i+1])
                ELSE [] END) AS grams
  FROM toks
), b AS (
  SELECT doc_id,
         list_transform(grams, g -> {_D_STR_HASH.format(s="g")} % {_DSIR_B})
           AS buckets
  FROM grams
), tg AS (
  SELECT bucket, count(*) AS ct
  FROM (SELECT unnest(buckets) AS bucket FROM b WHERE doc_id % 10 < 2)
  GROUP BY bucket
), rw AS (
  SELECT bucket, count(*) AS cr
  FROM (SELECT unnest(buckets) AS bucket FROM b)
  GROUP BY bucket
), tot AS (
  SELECT (SELECT COALESCE(SUM(ct), 0) FROM tg) AS nt,
         (SELECT COALESCE(SUM(cr), 0) FROM rw) AS nr
), ratio AS (
  -- full-range bucket table, like the operator: every scored gram
  -- finds a row, unseen buckets take the smoothing constant
  SELECT ab.bucket,
         CAST(ROUND((ln(COALESCE(ct, 0) + 1.0) - ln(COALESCE(cr, 0) + 1.0)
                     + ln(nr + {_DSIR_B}.0) - ln(nt + {_DSIR_B}.0))
                    * 1000000) AS BIGINT) AS r
  FROM (SELECT unnest(range({_DSIR_B})) AS bucket) ab
  LEFT JOIN tg ON ab.bucket = tg.bucket
  LEFT JOIN rw ON ab.bucket = rw.bucket
  CROSS JOIN tot
), db AS (
  SELECT doc_id, unnest(buckets) AS bucket FROM b
), per AS (
  SELECT db.doc_id, SUM(ratio.r) AS micro, COUNT(*) AS n_grams
  FROM db JOIN ratio USING (bucket) GROUP BY db.doc_id
), w AS (
  SELECT d.doc_id,
         CAST(COALESCE(per.n_grams, 0) AS BIGINT) AS n_grams,
         CAST(COALESCE(per.micro, 0) AS DOUBLE) / 1000000 AS logw
  FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
)"""

O_DSIR_LOGWEIGHTS = f"""
WITH {_D_DSIR_GRAMS}
SELECT doc_id, n_grams, logw FROM w
"""


def q_dsir_select(spark, sf_dir):
    """Gumbel-top-40 DSIR resample (operators/dsir.dsir_select):
    score = logw + Gumbel from the content-addressed frozen hash;
    sort+limit plans as TakeOrdered, never a global sort."""
    from .operators.dsir import dsir_select

    return dsir_select(_q_dsir_weights_frame(spark, sf_dir), n=40)


_D_DSIR_UKEY = _D_STR_HASH.format(
    s="CAST(doc_id AS VARCHAR) || ':dsir'"
)
O_DSIR_SELECT = f"""
WITH {_D_DSIR_GRAMS}
SELECT doc_id, logw,
       ROUND(logw + (-ln(-ln((({_D_DSIR_UKEY} % 1000003) + 0.5)
                            / 1000003.0))), 6) AS score
FROM w
ORDER BY score DESC, doc_id ASC
LIMIT 40
"""
