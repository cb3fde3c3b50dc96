"""HTML head-metadata harvesting and canonical-URL collapse.

The reference engine (OCR-D/ocrd_segment) deduplicates nothing — each
PAGE document is its own ground truth. A web corpus is the opposite:
the same resource is crawled under many urls, and the page itself
declares which url is authoritative (``<link rel="canonical">``) and
whether it wants to be indexed at all (``<meta name="robots"
content="noindex">``). Honoring those declarations BEFORE extraction
is standard crawl curation (it is cheaper than any content-based
dedup: the page tells you the answer), and dropping ``noindex`` pages
is a politeness/compliance requirement, not an optimization.

Two operators:

1. :func:`head_meta` — per page, the first canonical ``href`` and the
   first robots ``content`` harvested from raw html with the same
   attribute-value regex discipline as ``operators/linkgraph``
   (tag-soup tolerant, Java-regex/RE2 common subset so the DuckDB
   oracle states the SAME patterns), plus the canonical target
   resolved to an absolute url under a frozen rule.
2. :func:`canonical_collapse` — drop ``noindex`` pages, group the rest
   by their authoritative url, and keep ONE representative per group
   (self-canonical page preferred, then lowest url — deterministic).

Frozen harvest rules (first match in document order wins):
  - canonical: ``<link ... rel="canonical" ... href="X">`` — the
    rel-before-href attribute order is tried first, then
    href-before-rel; tag and attribute NAMES match case-insensitively,
    the rel VALUE must be ``canonical`` or ``Canonical`` (the two
    forms observed in practice; a frozen vocabulary, not a guess).
  - robots: ``<meta ... name="robots" ... content="X">`` — same two
    attribute orders; ``noindex`` = the content contains ``noindex``
    in any case.

Frozen canonical-href resolution (order matters, mirrors
``linkgraph.resolved_host_sql``):
  - ``http://`` / ``https://`` prefix (any case) → the href as-is;
  - protocol-relative ``//host/path`` → the page's scheme + ``:`` + href;
  - any OTHER scheme prefix → NULL (a canonical pointing at mailto:
    or javascript: is noise);
  - rooted path ``/p`` → page scheme ``://`` page host + href;
  - anything else (relative path, empty) → NULL — resolving those
    needs directory semantics the frozen rule deliberately excludes.

Scale shape (100 TB): :func:`head_meta` is scan-stage column math over
the ``html`` column the extraction pass already reads — zero shuffle,
zero Python. :func:`canonical_collapse` is ONE shuffle on the group
key with a pure partial-aggregable ``min(struct)`` keep rule — no
per-group sort, so even a link-farm key aliasing one target millions
of times merges partial minima instead of materializing the group.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# attribute-value harvesting, tag-soup tolerant (see linkgraph.py).
# Two patterns per field because attribute order varies; names match
# case-insensitively via explicit classes (no (?i) — kept identical in
# spirit to HREF_PATTERN so the oracle subset stays obviously safe).
_LINK = "<[Ll][Ii][Nn][Kk]"
_META = "<[Mm][Ee][Tt][Aa]"
_HREF = '[Hh][Rr][Ee][Ff]="([^"]*)"'
_CONTENT = '[Cc][Oo][Nn][Tt][Ee][Nn][Tt]="([^"]*)"'
_REL_CANON = '[Rr][Ee][Ll]="[Cc]anonical"'
_NAME_ROBOTS = '[Nn][Aa][Mm][Ee]="[Rr][Oo][Bb][Oo][Tt][Ss]"'

CANONICAL_REL_FIRST = f'{_LINK}[^>]*{_REL_CANON}[^>]*{_HREF}'
CANONICAL_HREF_FIRST = f'{_LINK}[^>]*{_HREF}[^>]*{_REL_CANON}'
ROBOTS_NAME_FIRST = f'{_META}[^>]*{_NAME_ROBOTS}[^>]*{_CONTENT}'
ROBOTS_CONTENT_FIRST = f'{_META}[^>]*{_CONTENT}[^>]*{_NAME_ROBOTS}'

_SCHEME = "^([A-Za-z][A-Za-z0-9+.-]*)://"
_ABS_HOST = "^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)"


def _first_nonempty(html: str, pat_a: str, pat_b: str) -> str:
    """SQL: first capture of pat_a if it matched, else pat_b, else NULL
    (regexp_extract returns '' on no-match; '' is never a valid harvest
    because both fields are frozen to non-empty values)."""
    a = f"regexp_extract({html}, '{pat_a}', 1)"
    b = f"regexp_extract({html}, '{pat_b}', 1)"
    return f"nullif(IF({a} != '', {a}, {b}), '')"


def resolved_canonical_sql(href: str, scheme: str, host: str) -> str:
    """Spark-SQL CASE for the frozen canonical-href resolution rule
    (module docstring); the DuckDB oracle states the same CASE. The
    relative arms require the page's OWN scheme/host to be present —
    a malformed page url (empty extraction) must resolve to NULL, not
    a junk ':///path' that would alias unrelated pages into one
    collapse group."""
    return f"""CASE
      WHEN {href} IS NULL THEN NULL
      WHEN {href} RLIKE '^[Hh][Tt][Tt][Pp][Ss]?://' THEN {href}
      WHEN {href} RLIKE '^//' THEN
        IF({scheme} != '', concat({scheme}, ':', {href}), NULL)
      WHEN {href} RLIKE '^[A-Za-z][A-Za-z0-9+.-]*:' THEN NULL
      WHEN {href} RLIKE '^/' THEN
        IF({scheme} != '' AND {host} != '',
           concat({scheme}, '://', {host}, {href}), NULL)
      ELSE NULL
    END"""


def head_meta(
    df: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """(url, canonical_href, canonical_url, robots, noindex) appended.

    ``canonical_href`` is the raw harvested value (NULL when the page
    declares none), ``canonical_url`` the resolved absolute target
    (NULL when unresolvable under the frozen rule), ``robots`` the raw
    robots-meta content, ``noindex`` a boolean (false when no robots
    meta). ``html`` may be binary (input_hint shape) or string.

    Scan-stage column expressions only — rides the pass that already
    reads ``html``; zero shuffle, zero Python.
    """
    h = f"cast({html_col} as string)"
    scheme = f"lower(regexp_extract({url_col}, '{_SCHEME}', 1))"
    host = f"lower(regexp_extract({url_col}, '{_ABS_HOST}', 1))"
    href = _first_nonempty(h, CANONICAL_REL_FIRST, CANONICAL_HREF_FIRST)
    robots = _first_nonempty(h, ROBOTS_NAME_FIRST, ROBOTS_CONTENT_FIRST)
    return (
        df.withColumn("canonical_href", F.expr(href))
        .withColumn(
            "canonical_url",
            F.expr(
                resolved_canonical_sql("canonical_href", scheme, host)
            ),
        )
        .withColumn("robots", F.expr(robots))
        .withColumn(
            "noindex",
            F.expr("coalesce(lower(robots) RLIKE 'noindex', false)"),
        )
    )


def canonical_collapse(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    drop_noindex: bool = True,
) -> DataFrame:
    """One row per authoritative url: (canonical_url, url, n_pages,
    n_self) — ``url`` is the kept representative, ``n_pages`` how many
    crawled aliases collapsed into the group, ``n_self`` how many of
    them were self- or un-canonical (no foreign canonical target).

    Frozen keep rule: group key = resolved canonical target, falling
    back to the page's own url when it declares none (or an
    unresolvable one); within a group prefer a page whose own url IS
    the group key (the canonical page itself was crawled), then the
    lexicographically smallest url. ``noindex`` pages are dropped
    before grouping by default (they asked not to be indexed; their
    canonical votes are noise).

    ONE shuffle on the group key, and the keep rule is a pure
    ``min(struct(...))`` aggregate with map-side partial combine — no
    per-group sort, so a skewed group (link farm aliasing one target
    millions of times) costs a merge of partial minima, not a window
    sort. Callers wanting url normalization beyond the page's own
    declaration should pre-canonicalize ``url`` with
    ``functions.urls.canonicalize_url`` — this operator deliberately
    compares urls byte-for-byte.
    """
    m = head_meta(df, html_col=html_col, url_col=url_col)
    if drop_noindex:
        m = m.filter(~F.col("noindex"))
    m = m.select(
        F.coalesce("canonical_url", url_col).alias("group_key"),
        F.col(url_col).alias("url"),
        (
            F.col("canonical_url").isNull()
            | (F.col("canonical_url") == F.col(url_col))
        ).alias("is_self"),
    )
    # keep = lexicographic min of (self-pages-first, url): one partial-
    # aggregable struct min, deterministic
    keep = F.min(
        F.struct(
            (~F.col("is_self")).cast("int").alias("o"),
            F.col("url").alias("url"),
        )
    )
    return (
        m.groupBy("group_key")
        .agg(
            keep.getField("url").alias("url"),
            F.count(F.lit(1)).alias("n_pages"),
            F.sum(F.col("is_self").cast("long")).alias("n_self"),
        )
        .withColumnRenamed("group_key", "canonical_url")
    )


def canonical_representatives(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    flag_col: str | None = None,
    meta_precomputed: bool = False,
    rank_first: str | None = None,
) -> DataFrame:
    """The row-keeping sibling of :func:`canonical_collapse`: input
    rows (all columns preserved) with the SAME frozen keep rule —
    group by resolved canonical target (own url fallback), winner =
    self-canonical first, then least url. Without ``flag_col`` only
    winners return; with it, ALL rows return carrying a boolean winner
    flag — the corpus-job shape, so the alias-drop count can ride the
    terminal write as an Observation. ``noindex`` pages are NOT
    dropped here (callers count and filter them separately; the job
    needs the two counts distinct — filter them BEFORE this, or a
    noindex alias can win its group and shadow a keepable page).

    ``meta_precomputed=True`` skips the :func:`head_meta` pass when
    the caller already ran it (the job harvests once, counts noindex,
    filters, then ranks — the harvest regexes never run twice).
    ``rank_first`` ranks rows where that boolean column is true ahead
    of the rest of their group, as in ``latest_snapshot``.

    Scale shape: one window shuffle on the group key — unlike the
    summary form's min(struct) aggregate, rows must survive, and the
    partition sizes are aliases-per-resource (mirror-count bounded),
    the same justification as ``latest_snapshot``'s window."""
    from pyspark.sql import Window as W

    m = (
        df
        if meta_precomputed
        else head_meta(df, html_col=html_col, url_col=url_col)
    )
    m = m.withColumn(
        "__gk", F.coalesce("canonical_url", url_col)
    ).withColumn(
        "__self",
        (
            F.col("canonical_url").isNull()
            | (F.col("canonical_url") == F.col(url_col))
        ).cast("int"),
    )
    first = [] if rank_first is None else [F.desc(rank_first)]
    w = W.partitionBy("__gk").orderBy(
        *first, F.desc("__self"), F.asc(url_col)
    )
    flagged = m.withColumn("__rn", F.row_number().over(w))
    helper = ["__gk", "__self", "__rn", "canonical_href", "canonical_url", "robots"]
    if not meta_precomputed:
        # the internal harvest added noindex too — every derived
        # column goes, so "input rows, all columns preserved" holds;
        # a precomputed caller owns its meta columns and keeps them
        helper.append("noindex")
    if flag_col is None:
        return flagged.filter("__rn = 1").drop(*helper)
    return flagged.withColumn(
        flag_col, F.col("__rn") == F.lit(1)
    ).drop(*helper)


# ---------------------------------------------------------------------------
# hreflang alternates: multilingual page clusters
# ---------------------------------------------------------------------------

_LINK_TAGS = f"regexp_extract_all(cast({{col}} as string), '{_LINK}[^>]*>', 0)"
_REL_ALTERNATE = '[Rr][Ee][Ll]="[Aa]lternate"'
_HREFLANG = '[Hh][Rr][Ee][Ff][Ll][Aa][Nn][Gg]="([^"]*)"'


def hreflang_links(
    df: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """(url, hreflang, alt_url): one row per ``<link rel="alternate"
    hreflang=..>`` declaration — how multilingual sites bind their
    translations together (the mC4/CCMatrix parallel-page signal).
    All ``<link>`` tags are harvested whole, filtered on a
    case-insensitive rel="alternate", and href/hreflang extracted
    per-tag so ATTRIBUTE ORDER inside the tag never matters (the same
    whole-tag discipline as linkgraph's anchor harvest). Hrefs resolve
    under the SAME frozen rule as canonicals; declarations whose href
    cannot resolve (relative paths, foreign schemes) are dropped,
    as are tags with an empty hreflang.

    Scan-stage column math + explode — zero shuffle, zero Python."""
    h = _LINK_TAGS.format(col=html_col)
    scheme = f"lower(regexp_extract(url, '{_SCHEME}', 1))"
    host = f"lower(regexp_extract(url, '{_ABS_HOST}', 1))"
    return (
        # explode fused over the tag-harvest expression (CLAUDE.md
        # Generate trap: exploding the derived __tags attribute makes
        # InferFiltersFromGenerate re-run the full-page regexp per row)
        df.select(
            F.col(url_col).alias("url"),
            F.explode(F.expr(h)).alias("__t"),
        )
        .filter(F.expr(f"__t RLIKE '{_REL_ALTERNATE}'"))
        .selectExpr(
            "url",
            f"regexp_extract(__t, '{_HREFLANG}', 1) as hreflang",
            f"regexp_extract(__t, '{_HREF}', 1) as __href",
        )
        .filter("hreflang != ''")
        .withColumn(
            "alt_url",
            F.expr(
                resolved_canonical_sql("nullif(__href, '')", scheme, host)
            ),
        )
        .filter(F.col("alt_url").isNotNull())
        .drop("__href")
    )


def hreflang_clusters(
    df: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """(cluster_key, url, n_alternates): the page's translation-cluster
    key — the LEAST url among itself and every resolved hreflang
    alternate it declares. When declarations are consistent (every
    member lists the full alternate set, the normal publishing
    pattern), all members compute the same key, so the cluster forms
    with ZERO shuffles and no graph iteration — the key is row-local
    column math. Inconsistent partial declarations can split a cluster
    into subgroups; feed the (url, alt_url) edges from
    :func:`hreflang_links` to ``operators.dedup.connected_components``
    when transitive closure is worth an iterative job.

    Pages declaring no resolvable alternates are singletons (their own
    url is the key)."""
    scheme = f"lower(regexp_extract({url_col}, '{_SCHEME}', 1))"
    host = f"lower(regexp_extract({url_col}, '{_ABS_HOST}', 1))"
    resolve = resolved_canonical_sql("nullif(x, '')", scheme, host)
    alts = f"""transform(
      filter({_LINK_TAGS.format(col=html_col)},
             t -> t RLIKE '{_REL_ALTERNATE}'
                  AND regexp_extract(t, '{_HREFLANG}', 1) != ''),
      t -> regexp_extract(t, '{_HREF}', 1))"""
    resolved = f"filter(transform({alts}, x -> {resolve}), r -> r IS NOT NULL)"
    return df.select(
        F.expr(
            f"array_min(array_union({resolved}, array({url_col})))"
        ).alias("cluster_key"),
        F.col(url_col).alias("url"),
        F.expr(f"size(array_distinct({resolved}))").alias("n_alternates"),
    )


# ---------------------------------------------------------------------------
# page metadata: title / description / OpenGraph
# ---------------------------------------------------------------------------

# [^<]* spans newlines by itself (a negated class needs no DOTALL),
# so the pattern stays flag-free in the Java/RE2 common subset
_TITLE = "<[Tt][Ii][Tt][Ll][Ee][^>]*>([^<]*)</[Tt][Ii][Tt][Ll][Ee]>"
_NAME_DESC = '[Nn][Aa][Mm][Ee]="[Dd]escription"'
_PROP_OG = '[Pp][Rr][Oo][Pp][Ee][Rr][Tt][Yy]="og:{field}"'


def _meta_pair(html: str, key_pat: str) -> str:
    """first content= of a <meta> carrying key_pat, either order."""
    return _first_nonempty(
        html,
        f"{_META}[^>]*{key_pat}[^>]*{_CONTENT}",
        f"{_META}[^>]*{_CONTENT}[^>]*{key_pat}",
    )


def page_meta(
    df: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """(title, meta_description, og_title, og_description) appended —
    the descriptive head metadata a dataset card or search index wants
    next to the extracted text. First match wins per field; title text
    is whitespace-NORMALIZED (trimmed, internal runs collapsed to one
    space — titles routinely wrap across indented source lines), the
    meta/og values are taken verbatim (they are attribute values;
    their whitespace is the author's). Empty harvests are NULL.

    Frozen to the same tag-soup regex discipline as the canonical/
    robots harvest: explicit case classes, both attribute orders for
    meta tags, Java/RE2-common patterns so a SQL oracle can restate
    them. Scan-stage column math — zero shuffle, zero Python."""
    h = f"cast({html_col} as string)"
    # explicit whitespace class: Java \s includes \x0B, RE2's does not
    # — the collapse stays in the shared subset (CLAUDE.md regex trap)
    title = (
        f"nullif(trim(regexp_replace("
        f"regexp_extract({h}, '{_TITLE}', 1), '[ \\\\t\\\\n\\\\r]+', ' ')), '')"
    )
    return (
        df.withColumn("title", F.expr(title))
        .withColumn(
            "meta_description", F.expr(_meta_pair(h, _NAME_DESC))
        )
        .withColumn(
            "og_title", F.expr(_meta_pair(h, _PROP_OG.format(field="title")))
        )
        .withColumn(
            "og_description",
            F.expr(_meta_pair(h, _PROP_OG.format(field="description"))),
        )
    )


# ---------------------------------------------------------------------------
# JSON-LD structured data
# ---------------------------------------------------------------------------

# script elements whose type declares JSON-LD; payload = the run of
# non-'<' characters after the opening tag. Frozen OUT: payloads
# containing '<' (JSON-LD embedding literal HTML markup in a string
# value) truncate at the first '<' — the harvest never backtracks, so
# the pattern stays in the Java-regex/RE2 common subset (no non-greedy
# dotall across the closing tag, no lookahead). The MIME value matches
# the canonical lowercase spelling only ('application/ld+json', the
# registered form) — '+' is spelled as the class [+] so neither
# engine's string literal needs a backslash.
_JSONLD = (
    "<[Ss][Cc][Rr][Ii][Pp][Tt][^>]*"
    '[Tt][Yy][Pp][Ee]="application/ld[+]json"[^>]*>([^<]*)'
)


def jsonld_blocks(
    df: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """(url, block_idx, payload) — one row per JSON-LD script block in
    document order (pages without blocks emit no rows). Raw payload,
    untrimmed: validation/parsing belongs to the consumer
    (:func:`jsonld_types`), not the harvest. Scan-stage column math,
    zero shuffle — rides the same pass that reads ``html``."""
    return df.select(
        F.col(url_col).alias("url"),
        F.posexplode(
            F.expr(
                f"regexp_extract_all(cast({html_col} as string), '{_JSONLD}', 1)"
            )
        ).alias("block_idx", "payload"),
    )


def jsonld_types(
    df: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """(url, block_idx, jsonld_type, name): the schema.org identity of
    each JSON-LD block — the highest-value structured-data signal a
    web pipeline harvests (page type routing: Article/Product/Recipe
    pages get type-specific curation downstream). Frozen parse rule:
    top-level object's ``@type`` and ``name`` members; string values
    come back bare, array/number values as their JSON text (both
    engines verified to agree on each), malformed JSON and non-object
    roots yield NULL columns but KEEP the row so parse failures stay
    countable (``@graph`` indirection is frozen OUT — consumers
    flatten it upstream if they need it). JSON parsing is JVM-side
    (``get_json_object``); the DuckDB oracle guards with
    ``json_valid`` to match Spark's null-on-malformed behavior."""
    blocks = jsonld_blocks(df, html_col=html_col, url_col=url_col)
    return blocks.select(
        "url",
        "block_idx",
        F.expr("get_json_object(payload, \"$['@type']\")").alias("jsonld_type"),
        F.expr("get_json_object(payload, '$.name')").alias("name"),
    )


# ---------------------------------------------------------------------------
# feed autodiscovery: <link type="application/{rss,atom}+xml">
# ---------------------------------------------------------------------------

# the TYPE attribute is the discriminator (rel="alternate" usually
# rides along but is not required by the frozen rule); attribute NAME
# matches case-insensitively, the mime VALUE is the registered
# lowercase form (a frozen vocabulary, the headmeta discipline)
_TYPE_FEED = '[Tt][Yy][Pp][Ee]="application/(rss|atom)[+]xml"'


def feed_links(
    df: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """(url, feed_url, kind): one row per feed a page advertises in
    its head — the autodiscovery convention every blog/news platform
    follows, and the producer for the feed-fetch table that
    operators/feeds harvests. ``kind`` is 'rss' or 'atom' from the
    declared mime type; hrefs resolve under the SAME frozen rule as
    canonicals (absolute kept, protocol-relative gains the page
    scheme, rooted paths rebase on the page origin, anything else
    drops); duplicate (kind, href) declarations collapse PER PAGE
    with row-local array math — the whole operator is scan-stage
    column work, zero shuffle, zero Python."""
    h = _LINK_TAGS.format(col=html_col)
    scheme = f"lower(regexp_extract(url, '{_SCHEME}', 1))"
    host = f"lower(regexp_extract(url, '{_ABS_HOST}', 1))"
    items = f"""array_distinct(transform(
      filter({h}, t -> t RLIKE '{_TYPE_FEED}'),
      t -> named_struct(
        'kind', regexp_extract(t, '{_TYPE_FEED}', 1),
        'href', regexp_extract(t, '{_HREF}', 1))))"""
    return (
        # explode fused over the expression (the hreflang Generate-trap
        # note above)
        df.select(
            F.col(url_col).alias("url"),
            F.explode(F.expr(items)).alias("__f"),
        )
        .withColumn(
            "feed_url",
            F.expr(
                resolved_canonical_sql("nullif(__f.href, '')", scheme, host)
            ),
        )
        .filter(F.col("feed_url").isNotNull())
        .select("url", "feed_url", F.col("__f.kind").alias("kind"))
    )


# ---------------------------------------------------------------------------
# publish-date harvest: the page's declared freshness
# ---------------------------------------------------------------------------

_PROP_ART_PUB = (
    '[Pp][Rr][Oo][Pp][Ee][Rr][Tt][Yy]="article:published_time"'
)
_TIME_DATETIME = (
    '<[Tt][Ii][Mm][Ee][^>]*[Dd][Aa][Tt][Ee][Tt][Ii][Mm][Ee]="([^"]*)"'
)
_JSONLD_DATEPUB = '"datePublished"[ \\t\\n\\r]*:[ \\t\\n\\r]*"([^"]*)"'


def with_publish_date(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Append (published, published_source): the page's own declared
    publication timestamp — the recency signal corpus mixing and
    recrawl scheduling want next to warc_ts (fetch time is not publish
    time). Frozen precedence, first non-empty wins:

    1. ``<meta property="article:published_time" content=...>``
       (either attribute order, the _meta_pair discipline) →
       source 'meta';
    2. the first ``<time datetime="...">`` attribute → source 'time';
    3. the first JSON-LD ``"datePublished": "..."`` string value
       (explicit whitespace class around the colon) → source
       'jsonld'.

    Values are TRIMMED and kept as STRINGS — the sitemap-lastmod
    discipline: publishers emit several ISO-8601 precisions plus
    plain dates, so consumers parse with try-semantics at use time
    rather than losing rows here. No declaration → NULL/NULL.

    Scan-stage column math (three regexp probes), zero Python, zero
    shuffle."""
    h = F.col(html_col).cast("string")

    def _x(pat: str) -> Column:
        return F.nullif(F.trim(F.regexp_extract(h, pat, 1)), F.lit(""))

    meta = F.coalesce(
        _x(f"{_META}[^>]*{_PROP_ART_PUB}[^>]*{_CONTENT}"),
        _x(f"{_META}[^>]*{_CONTENT}[^>]*{_PROP_ART_PUB}"),
    )
    t = _x(_TIME_DATETIME)
    j = _x(_JSONLD_DATEPUB)
    return df.withColumn(
        "published", F.coalesce(meta, t, j)
    ).withColumn(
        "published_source",
        F.when(meta.isNotNull(), F.lit("meta"))
        .when(t.isNotNull(), F.lit("time"))
        .when(j.isNotNull(), F.lit("jsonld")),
    )


# ---------------------------------------------------------------------------
# AI-training opt-out: the noai / noimageai robots-meta convention
# ---------------------------------------------------------------------------

def _robots_token(token: str) -> str:
    """Token-wise match inside a robots content list (comma/space
    separated, case-insensitive): 'noai' must not fire on a directive
    that merely CONTAINS the letters (frozen explicit-whitespace
    class incl. newlines — legal inside attribute values; the shared
    Java/RE2 subset)."""
    return f"(^|[ ,\\t\\n\\r]){token}([ ,\\t\\n\\r]|$)"


def with_ai_optout(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Append (ai_optout, image_ai_optout): whether the page's robots
    meta carries the ``noai`` / ``noimageai`` opt-out tokens — the
    publisher convention (DeviantArt-initiated, now widespread) that
    asks for exclusion from AI TRAINING even where indexing is
    welcome. A training-corpus job honors it the way it honors
    noindex: drop before extraction, count the drop. Token-wise match
    on the harvested robots content (same two attribute orders as
    head_meta); no robots meta → both false.

    Scan-stage column expressions, zero shuffle, zero Python."""
    h = f"cast({html_col} as string)"
    robots = _first_nonempty(h, ROBOTS_NAME_FIRST, ROBOTS_CONTENT_FIRST)
    noai = _robots_token("noai")
    noimg = _robots_token("noimageai")
    return (
        df.withColumn("__rb", F.lower(F.expr(robots)))
        .withColumn(
            "ai_optout",
            F.coalesce(F.col("__rb").rlike(noai), F.lit(False)),
        )
        .withColumn(
            "image_ai_optout",
            F.coalesce(F.col("__rb").rlike(noimg), F.lit(False)),
        )
        .drop("__rb")
    )
