"""Subword (BPE/WordPiece-style) token counting against a committed
vocabulary — training pipelines meter data in TOKENIZER tokens, not
whitespace words (compute budgets and published dedup thresholds are
stated in BPE tokens), so the whitespace `token_count` alone
under-states curation arithmetic (round-3 task 4).

Method (public knowledge: the greedy longest-match tokenization of
WordPiece / SentencePiece-BPE inference): fold each whitespace word
left-to-right, at every position consuming the LONGEST vocabulary
piece that matches (piece lengths derived from the vocabulary); when
nothing matches, consume one character as an <unk> piece. The
committed ``VOCAB`` plays the role of a trained merge table and stays
the test/oracle default; ``load_vocab`` loads a REAL tokenizer's
piece table from parquet/csv (round-5 task 3), and every public
function takes ``vocab=`` so token budgets can be metered in the
tokens of the tokenizer that will actually train on the corpus.

Vocabulary-size shape: the vocabulary ships as IN-literals that
Catalyst folds to per-length InSet hash lookups — built ONCE per
plan, probed per character. A real 32k-100k-piece vocab is a few MB
of expression literals: shipped once per executor with the task
binary (the same payload a broadcast variable would carry), probed at
hash-set speed. The loader's ``.collect()`` is model-sized by
definition (a piece table, never corpus-sized).

Frozen semantics (DuckDB oracle: a recursive CTE stepping the same
fold; pytest pins exact counts):

1. normalize: ASCII A-Z → a-z (same fold as operators/langid — full
   Unicode lowercase is excluded from frozen rules repo-wide);
2. words: split on runs of ASCII whitespace [ \\t\\n\\r\\f\\v]+,
   empties dropped (the explicit class, NOT ``\\s`` — Java's \\s
   includes U+000B, RE2's does not);
3. per word, from position 1: try piece lengths LONGEST→1 (lengths =
   the distinct piece lengths present in the vocabulary; substring
   truncation at word end is inherently safe — a shorter tail can
   never equal a longer piece); advance by the matched length and
   count one piece, else advance 1 and count one piece AND one unk;
4. n_bpe_tokens / n_unk_pieces = sums over all words; empty documents
   count 0.

Scale shape: ONE pure-JVM column expression — the vocabulary inlines
as four IN-literal lists (Catalyst folds them to InSet hash lookups),
the per-word fold is ``aggregate`` over character positions, and the
per-document total folds over ``transform``'s output array so nothing
is evaluated twice (the interpreted-HOF no-CSE trap). Zero shuffle,
zero Python, evaluated inside the scan stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Committed vocabulary: base characters plus frequent English subword
# merges (lengths 2-4). Deterministic and versioned — the contract
# oracle inlines the identical literals.
_CHARS = tuple("abcdefghijklmnopqrstuvwxyz0123456789") + (
    ".", ",", ";", ":", "!", "?", "'", '"', "(", ")", "-", "_", "/",
    "&", "%", "$", "#", "@", "+", "=", "*", "[", "]", "<", ">",
)
_MERGES_2 = (
    "th", "he", "in", "er", "an", "re", "on", "at", "en", "es", "or",
    "ti", "st", "ar", "nd", "to", "it", "ou", "ed", "is", "al", "as",
    "le", "ro", "se", "de", "do", "me", "ma", "no", "ne", "lo", "li",
    "la", "ho", "ha", "ge", "co", "ca", "ce", "be", "pa", "pe", "po",
    "ra", "ri", "sa", "si", "so", "su", "ta", "te", "ur", "un", "wa",
    "we", "wi", "qu", "ch", "sh", "wh", "ow", "ly", "id", "ic", "il",
)
_MERGES_3 = (
    "the", "ing", "and", "ion", "ent", "for", "ter", "est", "ers",
    "ate", "ive", "ity", "ure", "age", "ant", "out", "com", "con",
    "pre", "pro", "per", "sta", "str", "ess", "ear", "ere", "ver",
    "all", "one", "ome", "ain", "igh", "ore", "und", "act", "ect",
)
_MERGES_4 = (
    "tion", "ment", "able", "ight", "ough", "ould", "ting", "ness",
    "ance", "ence", "ally", "ious", "over", "atio", "ding", "king",
    "sion", "ther", "here", "ente", "ring",
)
VOCAB: tuple[str, ...] = _CHARS + _MERGES_2 + _MERGES_3 + _MERGES_4

_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LOWER = "abcdefghijklmnopqrstuvwxyz"
_TO_LOWER = str.maketrans(_UPPER, _LOWER)
# explicit ASCII whitespace class — see frozen rule 2. The vertical
# tab is spelled \x0B on the Spark side: Java regex expands \v to the
# vertical-whitespace CLASS (newline, VT, FF, CR, NEL U+0085, LS
# U+2028, PS U+2029) while RE2's \v is VT alone, so a literal \v
# here would silently split words at NEL/LS/PS on one engine only
# (review-found, pinned by test_bpe).
WS_CLASS_SPARK = "[ \\\\t\\\\n\\\\r\\\\f\\\\x0B]+"
WS_CLASS_DUCK = "[ \t\n\r\f\v]+"


def _sql_in(expr: str, pieces: tuple[str, ...]) -> str:
    vals = ", ".join("'{}'".format(p.replace("'", "''")) for p in pieces)
    return f"{expr} IN ({vals})"


def pieces_by_length(
    vocab: tuple[str, ...] = VOCAB,
) -> dict[int, tuple[str, ...]]:
    """Distinct piece lengths present in ``vocab`` → their pieces
    (descending-length iteration order drives the greedy fold)."""
    out: dict[int, list[str]] = {}
    for p in vocab:
        if p:
            out.setdefault(len(p), []).append(p)
    return {k: tuple(out[k]) for k in sorted(out, reverse=True)}


def load_vocab(
    spark, path: str | None, piece_col: str = "piece"
) -> tuple[str, ...]:
    """Load a tokenizer vocabulary from a parquet (or csv with header)
    piece table — the bridge from the committed toy to a REAL
    tokenizer: export the tokenizer's pieces to one column and meter
    the corpus in ITS tokens. Pieces are ASCII-case-folded (frozen
    rule 1 lowercases the text, so uppercase pieces could never
    match), whitespace-containing or empty pieces are dropped (rule 2
    splits on whitespace before the fold), and the result is deduped
    and sorted for a deterministic expression tree. The collect is
    model-sized (a piece table), never corpus-sized. ``path=None``
    returns the committed ``VOCAB``."""
    if path is None:
        return VOCAB
    reader = spark.read
    df = (
        reader.option("header", True).csv(path)
        if path.endswith(".csv")
        else reader.parquet(path)
    )
    import re as _re

    pieces = {
        r[0].translate(_TO_LOWER)
        for r in df.select(piece_col).collect()
        if r[0] and not _re.search(r"[ \t\n\r\f\x0b]", r[0])
    }
    if not pieces:
        raise ValueError(
            f"vocabulary at {path!r} yielded zero usable pieces"
            " (all rows empty/whitespace, or wrong column name"
            f" {piece_col!r})"
        )
    return tuple(sorted(pieces))


def bpe_count_cols(
    text_col: str = "text", vocab: tuple[str, ...] = VOCAB
) -> Column:
    """struct(n_bpe_tokens, n_unk_pieces) — the whole tokenizer as one
    narrow JVM expression. ``vocab`` defaults to the committed toy;
    pass ``load_vocab(...)`` output to meter in a real tokenizer's
    pieces (the CASE arms and max piece length derive from whatever
    lengths the vocabulary actually contains)."""
    if not any(p for p in vocab):
        raise ValueError(
            "empty BPE vocabulary (no non-empty pieces) — a zero-arm"
            " CASE would fail to parse; check the loaded piece table"
        )
    by_len = pieces_by_length(vocab)
    # the per-word fold: state (nxt, cnt, unk); positions where
    # i < nxt were consumed by an earlier multi-char piece. One WHEN
    # arm per piece length, longest first — the greedy rule.
    whens = " ".join(
        f"WHEN {_sql_in(f'substring(w, i, {ln})', by_len[ln])}"
        f" THEN named_struct('nxt', i + {ln}, 'cnt', st.cnt + 1L,"
        " 'unk', st.unk)"
        for ln in by_len
    )
    step = (
        f"CASE {whens} "
        "ELSE named_struct('nxt', i + 1, 'cnt', st.cnt + 1L,"
        " 'unk', st.unk + 1L) END"
    )
    word_fold = (
        "aggregate(sequence(1, length(w)),"
        " named_struct('nxt', 1, 'cnt', 0L, 'unk', 0L),"
        f" (st, i) -> IF(i < st.nxt, st, {step}))"
    )
    # coalesce: NULL text must count 0 like the oracle's LEFT JOIN
    # (review-found — aggregate over a NULL array returns NULL)
    toks = (
        f"filter(split(translate(coalesce({text_col}, ''),"
        f" '{_UPPER}', '{_LOWER}'),"
        f" '{WS_CLASS_SPARK}'), x -> x != '')"
    )
    # transform's output array is evaluated once as aggregate's input;
    # the lambda only touches bound variables (no-CSE trap respected)
    return F.expr(
        f"aggregate(transform({toks}, w -> {word_fold}),"
        " named_struct('n_bpe_tokens', 0L, 'n_unk_pieces', 0L),"
        " (acc, s) -> named_struct('n_bpe_tokens', acc.n_bpe_tokens + s.cnt,"
        " 'n_unk_pieces', acc.n_unk_pieces + s.unk))"
    )


def with_bpe_counts(
    df: DataFrame,
    text_col: str = "text",
    vocab: tuple[str, ...] = VOCAB,
) -> DataFrame:
    """Append (n_bpe_tokens, n_unk_pieces)."""
    d = df.withColumn("_bpe", bpe_count_cols(text_col, vocab))
    return (
        d.withColumn("n_bpe_tokens", F.col("_bpe.n_bpe_tokens"))
        .withColumn("n_unk_pieces", F.col("_bpe.n_unk_pieces"))
        .drop("_bpe")
    )


def tokenize_word(
    word: str, vocab: tuple[str, ...] = VOCAB
) -> list[str]:
    """Reference (pure-Python) greedy tokenizer for tests: the frozen
    fold, one piece list out. NOT used by the Spark path — pytest pins
    the column expression against it."""
    lens = sorted({len(p) for p in vocab if p}, reverse=True)
    vset = set(vocab)
    out, pos = [], 0
    while pos < len(word):
        for ln in lens:
            piece = word[pos : pos + ln]
            if len(piece) == ln and piece in vset:
                out.append(piece)
                pos += ln
                break
        else:
            out.append(f"<unk:{word[pos]}>")
            pos += 1
    return out


def oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    vocab: tuple[str, ...] = VOCAB,
) -> str:
    """The DuckDB restatement: a recursive CTE stepping the identical
    greedy fold (one state row per word instance per step; iterations
    bounded by the longest word)."""
    if not any(p for p in vocab):
        raise ValueError(
            "empty BPE vocabulary (no non-empty pieces) — a zero-arm"
            " CASE would fail to parse; check the loaded piece table"
        )
    by_len = pieces_by_length(vocab)
    multi = [ln for ln in by_len if ln > 1]
    adv = (
        "CASE "
        + " ".join(
            f"WHEN {_sql_in(f'substr(w, pos, {ln})', by_len[ln])} THEN {ln}"
            for ln in multi
        )
        + " ELSE 1 END"
        if multi
        else "1"
    )
    unk_inc = (
        "CASE "
        + " ".join(
            f"WHEN {_sql_in(f'substr(w, pos, {ln})', by_len[ln])} THEN 0"
            for ln in by_len
        )
        + " ELSE 1 END"
    )
    return f"""
WITH RECURSIVE words AS (
  SELECT doc_id, i, w FROM (
    SELECT doc_id, generate_subscripts(toks, 1) AS i, unnest(toks) AS w
    FROM (
      SELECT doc_id,
             list_filter(regexp_split_to_array(
               translate({text_col}, '{_UPPER}', '{_LOWER}'),
               '{WS_CLASS_DUCK}'), x -> x <> '') AS toks
      FROM {table}
    )
  )
),
step AS (
  SELECT doc_id, i, w, 1 AS pos,
         CAST(0 AS BIGINT) AS cnt, CAST(0 AS BIGINT) AS unk
  FROM words
  UNION ALL
  SELECT doc_id, i, w, pos + {adv}, cnt + 1, unk + {unk_inc}
  FROM step WHERE pos <= length(w)
),
per_word AS (
  SELECT doc_id, i, cnt, unk FROM step WHERE pos > length(w)
),
per_doc AS (
  SELECT doc_id, sum(cnt) AS n_bpe_tokens, sum(unk) AS n_unk_pieces
  FROM per_word GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(coalesce(p.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
       CAST(coalesce(p.n_unk_pieces, 0) AS BIGINT) AS n_unk_pieces
FROM {table} t LEFT JOIN per_doc p USING (doc_id)
"""


# ---------------------------------------------------------------------------
# BPE merge training (Sennrich-style, over the word-frequency table)
# ---------------------------------------------------------------------------

# symbol separator inside a training sequence; words never contain it
# (it is ASCII control and the WS split would have to have produced it)
TRAIN_SEP = "\x1f"


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n): the corpus word-frequency aggregate every BPE
    trainer actually trains on (Sennrich et al., ACL 2016 — training
    never touches the corpus again after this count). Same frozen
    normalization as the counting path above: ASCII lowercase fold +
    the explicit WS class. Corpus-sized input, ONE shuffle with
    map-side partial counts, vocabulary-sized output."""
    lowered = f"translate({text_col}, '{_UPPER}', '{_LOWER}')"
    return (
        docs.selectExpr(
            f"explode(split({lowered}, '{WS_CLASS_SPARK}')) as word"
        )
        .filter("word != ''")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


_PAIRS_EXPR = (
    "filter(zip_with(__parts,"
    " slice(__parts, 2, greatest(size(__parts) - 1, 0)),"
    " (a, b) -> struct(a, b)), p -> p.b is not null)"
)


def train_merges(
    docs: DataFrame,
    k: int,
    text_col: str = "text",
    via: str = "distributed",
    max_words: int | None = None,
) -> DataFrame:
    """Learn the top-``k`` BPE merges → (rank, lhs, rhs, merged, cnt).

    Frozen semantics (stated so the DuckDB oracle can unroll them):
    words start as character sequences (no end-of-word marker —
    stated out); each round counts ADJACENT symbol pairs weighted by
    word frequency (naive adjacency — overlapping occurrences in a
    word each count, the textbook formulation), picks the pair with
    the max count (ties: lhs asc, rhs asc — binary string order), and
    applies it to every sequence left-to-right non-overlapping (both
    engines' ``replace`` semantics, probed and pinned by pytest).
    Training stops early when no pair remains.

    Two shapes, one frozen rule (pytest asserts they agree exactly):

    - ``via='distributed'``: k rounds over the vocabulary-grain
      sequence table — per round one pair-explode shuffle, a
      take-ordered(1) argmax (never a full sort), a literal-bound
      ``replace``, and a ``localCheckpoint`` to bound lineage (the
      connected-components discipline). The right shape when k is
      small or the word table must stay distributed.
    - ``via='driver'``: collect the word-frequency table (optionally
      capped to ``max_words`` by (n desc, word asc) — a TOP-K, not a
      sample) and run the classic in-memory loop. This is the
      PRODUCTION shape for real k (~30k): the distributed part of BPE
      training is the corpus-sized count in :func:`word_freqs`; the
      merge loop runs over a model-sized table (10^5..10^6 distinct
      words at crawl scale — the collect is model-sized by
      definition, the LM/IVF precedent) and 30k driver round-trips
      over a distributed frame would be pure overhead.

    The per-round argmax collect in the distributed path is 1 row ×
    k rounds — the trainer's OUTPUT is a model; merges pass through
    the driver because that is where the model is assembled.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if via not in ("distributed", "driver"):
        raise ValueError(f"via must be distributed|driver, got {via!r}")
    spark = docs.sparkSession
    freqs = word_freqs(docs, text_col)
    if max_words is not None:
        freqs = (
            freqs.orderBy(F.desc("n"), F.asc("word")).limit(max_words)
        )
    schema = "rank bigint, lhs string, rhs string, merged string, cnt bigint"
    merges: list[tuple] = []
    if via == "driver":
        vocab = {r["word"]: r["n"] for r in freqs.collect()}
        seqs = {w: list(w) for w in vocab}
        for rank in range(1, k + 1):
            counts: dict[tuple[str, str], int] = {}
            for w, syms in seqs.items():
                n = vocab[w]
                for a, b in zip(syms, syms[1:]):
                    counts[(a, b)] = counts.get((a, b), 0) + n
            if not counts:
                break
            (lhs, rhs), cnt = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0])
            )
            merges.append((rank, lhs, rhs, lhs + rhs, cnt))
            for w, syms in seqs.items():
                out, i = [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == lhs
                        and syms[i + 1] == rhs
                    ):
                        out.append(lhs + rhs)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                seqs[w] = out
        return spark.createDataFrame(merges, schema)

    seqs = freqs.selectExpr(
        "n", "array_join(split(word, ''), chr(31)) as seq"
    ).localCheckpoint()
    for rank in range(1, k + 1):
        pairs = (
            seqs.withColumn("__parts", F.expr("split(seq, chr(31))"))
            .select("n", F.explode(F.expr(_PAIRS_EXPR)).alias("p"))
            .groupBy(F.col("p.a").alias("lhs"), F.col("p.b").alias("rhs"))
            .agg(F.sum("n").alias("cnt"))
        )
        best = pairs.orderBy(
            F.desc("cnt"), F.asc("lhs"), F.asc("rhs")
        ).take(1)
        if not best:
            break
        lhs, rhs, cnt = best[0]["lhs"], best[0]["rhs"], best[0]["cnt"]
        merges.append((rank, lhs, rhs, lhs + rhs, int(cnt)))
        seqs = _apply_merge(seqs, lhs, rhs).localCheckpoint()
    return spark.createDataFrame(merges, schema)


def _apply_merge(seqs: DataFrame, lhs: str, rhs: str) -> DataFrame:
    """One greedy left-to-right non-overlapping application of the
    (lhs, rhs) merge to every sequence, on the symbol ARRAY. A flat
    string replace of lhs+SEP+rhs is WRONG here: it also matches when
    lhs is a proper suffix of the preceding multi-char symbol (e.g.
    symbols [ab, c] match a (b, c) merge), gluing symbols that were
    never adjacent (review-found; regression-pinned in test_bpe).

    Closed form of the driver loop's greedy scan: a match position is
    taken iff its offset from the start of its maximal run of
    consecutive match positions is EVEN (runs only arise when lhs ==
    rhs over repeated symbols; elsewhere matches cannot overlap).
    Pure array column math, O(symbols²) per word — words are short."""
    L, R = F.lit(lhs), F.lit(rhs)
    d = (
        seqs.withColumn("__p", F.expr("split(seq, chr(31))"))
        .withColumn("__n", F.size("__p"))
        .withColumn(
            "__mk",
            F.when(
                F.col("__n") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.col("__n") - 2),
                    lambda i: (F.get("__p", i) == L)
                    & (F.get("__p", i + 1) == R),
                ),
            ).otherwise(F.expr("cast(array() as array<boolean>)")),
        )
    )
    # run start of match i = last non-match position before i, + 1
    d = d.withColumn(
        "__t",
        F.transform(
            F.col("__mk"),
            lambda m, i: m
            & (
                (
                    i
                    - (
                        F.aggregate(
                            F.filter(
                                F.sequence(F.lit(0), i),
                                lambda j: (j < i) & ~F.get("__mk", j),
                            ),
                            F.lit(-1),
                            lambda a, j: F.greatest(a, j),
                        )
                        + 1
                    )
                )
                % 2
                == 0
            ),
        ),
    )
    keep = F.filter(
        F.sequence(F.lit(0), F.col("__n") - 1),
        lambda i: (i == 0)
        | ~F.coalesce(F.get("__t", i - 1), F.lit(False)),
    )
    out = F.transform(
        keep,
        lambda i: F.when(
            F.coalesce(F.get("__t", i), F.lit(False)), F.concat(L, R)
        ).otherwise(F.get("__p", i)),
    )
    return d.withColumn("seq", F.array_join(out, TRAIN_SEP)).select(
        "n", "seq"
    )


def train_oracle_sql(
    k: int, table: str = "documents", text_col: str = "text"
) -> str:
    """DuckDB restatement of :func:`train_merges`: the identical k
    rounds unrolled over the same word-frequency table — pair counts →
    argmax → the run-parity greedy application, stated RELATIONALLY
    (positions exploded per word, window count of preceding non-match
    rows groups each run, row_number parity picks the taken matches,
    lag marks consumed successors). A third independent derivation of
    the frozen rule alongside the array form and the driver loop."""
    head = f"""WITH w0 AS MATERIALIZED (
  SELECT word, array_to_string(string_split(word, ''), chr(31)) AS seq, n FROM (
    SELECT w AS word, count(*) AS n FROM (
      SELECT unnest(list_filter(regexp_split_to_array(
        translate({text_col}, '{_UPPER}', '{_LOWER}'), '{WS_CLASS_DUCK}'),
        x -> x <> '')) AS w
      FROM {table})
    GROUP BY w)
)"""
    rounds = []
    for r in range(1, k + 1):
        p = r - 1
        rounds.append(f""", s{r} AS MATERIALIZED (
  SELECT word, n, i, parts[CAST(i AS INT)] AS sym,
         lead(parts[CAST(i AS INT)]) OVER (PARTITION BY word ORDER BY i) AS nxt
  FROM (
    SELECT word, n, string_split(seq, chr(31)) AS parts,
           unnest(generate_series(1, CAST(len(string_split(seq, chr(31))) AS BIGINT))) AS i
    FROM w{p})
), p{r} AS MATERIALIZED (
  SELECT sym AS lhs, nxt AS rhs, CAST(sum(n) AS BIGINT) AS cnt
  FROM s{r} WHERE nxt IS NOT NULL GROUP BY 1, 2
), b{r} AS MATERIALIZED (
  SELECT lhs, rhs, cnt FROM p{r} ORDER BY cnt DESC, lhs ASC, rhs ASC LIMIT 1
), m{r} AS MATERIALIZED (
  SELECT word, n, i, sym,
         coalesce(sym = (SELECT lhs FROM b{r})
                  AND nxt = (SELECT rhs FROM b{r}), false) AS m
  FROM s{r}
), g{r} AS MATERIALIZED (
  SELECT word, n, i, sym, m,
         count(*) FILTER (WHERE NOT m)
           OVER (PARTITION BY word ORDER BY i) AS grp
  FROM m{r}
), t{r} AS MATERIALIZED (
  SELECT word, n, i, sym,
         CASE WHEN m THEN
           (row_number() OVER (PARTITION BY word, grp, m ORDER BY i) - 1) % 2 = 0
         ELSE false END AS taken
  FROM g{r}
), a{r} AS MATERIALIZED (
  SELECT word, n, i,
         CASE WHEN taken THEN (SELECT lhs || rhs FROM b{r}) ELSE sym END AS osym,
         coalesce(lag(taken) OVER (PARTITION BY word ORDER BY i), false) AS consumed
  FROM t{r}
), w{r} AS MATERIALIZED (
  SELECT word, string_agg(osym, chr(31) ORDER BY i) AS seq, n
  FROM a{r} WHERE NOT consumed GROUP BY word, n
)""")
    finals = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS rank, lhs, rhs,"
        f" lhs || rhs AS merged, cnt FROM b{r}"
        for r in range(1, k + 1)
    )
    return head + "".join(rounds) + "\n" + finals


def merges_to_vocab(
    merges: DataFrame, base: tuple[str, ...] = _CHARS
) -> tuple[str, ...]:
    """Bridge the trainer to the meter: a :func:`train_merges` output
    becomes a piece table for :func:`with_bpe_counts` /
    :func:`tokenize_word` — base characters plus every learned merged
    piece, deduplicated, sorted (piece order is irrelevant to the
    fold; pieces_by_length regroups). The collect is the merge table —
    model-sized by definition.

    Stated: inference here is the module's greedy longest-match
    (WordPiece-style) over the LEARNED pieces, not merge-order BPE
    replay — the frozen choice the whole metering path already makes;
    for piece tables learned by this trainer the two rarely differ on
    natural text, and determinism is what the contract needs."""
    pieces = {r["merged"] for r in merges.select("merged").collect()}
    return tuple(sorted(set(base) | pieces))
