"""URL canonicalization for web-corpus keys.

Dedup and leakage-safe splitting key on the url (BASELINE.json
input_hint), and raw crawl urls carry noise that splinters those keys:
mixed-case scheme/host, default ports, fragments, tracking parameters.
This module pins a FROZEN canonicalization so the same page always
produces the same key — the operators are regexp chains written in the
common subset of Java regex (Spark) and RE2 (DuckDB): no lookaround,
no backreferences in patterns, non-capturing groups only.

Frozen steps of :func:`canonicalize_url`, in order:
1. strip the fragment (``#...``);
2. lowercase ``scheme://authority`` (path/query case is preserved —
   paths are case-sensitive per RFC 3986);
3. drop default ports (``http://h:80`` → ``http://h``, ``https://h:443``);
4. drop tracking parameters (``utm_*``, ``fbclid``, ``gclid``) wherever
   they appear in the query;
5. strip a trailing ``?`` / ``&`` left by step 4.

Deliberate non-steps (documented semantics, not omissions): no
``www.`` stripping and no query-parameter reordering — both change
which resource is referenced or reorder server-meaningful parameters.

Everything is a narrow column expression — evaluated in the scan
stage, zero shuffle, safe to apply inline before any url-keyed
groupBy/join at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# authority matcher: scheme '://' then everything up to path/query/frag
_SCHEME_AUTH = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*"
_TRACKERS = "(?:utm_[A-Za-z0-9_]*|fbclid|gclid)"

# two-level public suffixes where the registered domain is three labels
# (a pragmatic builtin subset of the public-suffix list; extend as data
# demands — the STRUCTURE, last-2-vs-last-3 labels, is the operator)
TWO_LEVEL_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp",
    "co.nz", "com.br", "com.cn", "co.in", "co.kr",
)


def canonicalize_url(col: str) -> Column:
    """Canonical url (see module docstring for the frozen five steps)."""
    return F.expr(canonicalize_url_sql(col))


def canonicalize_url_sql(col: str) -> str:
    """The Spark-SQL expression string (shared with tests/docs)."""
    no_frag = f"regexp_replace({col}, '#.*$', '')"
    sh = f"regexp_extract({no_frag}, '{_SCHEME_AUTH}', 0)"
    # lowercase the authority, keep the rest byte-for-byte
    lowered = (
        f"concat(lower({sh}), substring({no_frag}, length({sh}) + 1))"
    )
    no_port = (
        f"regexp_replace(regexp_replace({lowered},"
        f" '^(http://[^/:?#]+):80($|[/?#])', '$1$2'),"
        f" '^(https://[^/:?#]+):443($|[/?#])', '$1$2')"
    )
    # non-first trackers ('&utm_x=...'): each match starts at its own
    # '&', so adjacent trackers are consecutive non-overlapping matches
    no_amp_trk = f"regexp_replace({no_port}, '&{_TRACKERS}=[^&#]*', '')"
    # first-position tracker: followed by more params, or the only param
    no_q_trk = (
        f"regexp_replace(regexp_replace({no_amp_trk},"
        f" '\\\\?{_TRACKERS}=[^&#]*&', '?'),"
        f" '\\\\?{_TRACKERS}=[^&#]*$', '')"
    )
    return f"regexp_replace({no_q_trk}, '[?&]+$', '')"


def host_of(col: str) -> Column:
    """Lowercased host (no port, no userinfo beyond '@' handling is
    frozen OUT: crawl urls with userinfo are rejected upstream)."""
    return F.expr(
        f"lower(regexp_extract({col}, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1))"
    )


def _blocklist_hosts(blocklist, col: str):
    """Normalize published blocklist entries to bare lowercase hosts —
    the ONE derivation both blocklist joins share (round-5 review: the
    chain had grown two verbatim copies, the drift channel the shared
    filter chain closed for the jobs). Steps: strip whitespace + NBSP
    (trim handles ASCII spaces only; the pattern rides the Python API
    as data, no literal escaping), lowercase, drop scheme, drop
    path/query/fragment/port. Empty results are filtered out."""
    return (
        blocklist.select(
            F.lower(
                F.regexp_replace(
                    F.col(col),
                    "(^[\\s\\u00a0]+|[\\s\\u00a0]+$)",
                    "",
                )
            ).alias("_e")
        )
        .select(
            F.regexp_replace(
                F.regexp_replace("_e", "^[a-z][a-z0-9+.-]*://", ""),
                "[/:?#].*$",
                "",
            ).alias("_host")
        )
        .filter(F.col("_host") != "")
    )


def with_domain_blocked(df, blocklist, url_col: str = "url",
                        domain_col: str = "domain"):
    """Append (reg_domain, blocked): whether the url's registered
    domain appears in ``blocklist`` — the C4-style domain blocklist
    pass (spam/adult/SEO-farm exclusion lists are published as
    registered domains). The blocklist side is broadcast (thousands of
    domains, never corpus-sized); the corpus side derives the domain
    inline in the scan stage, so the whole filter is one narrow
    broadcast join — no shuffle at any corpus size. Flag, not drop:
    jobs count drops through their funnel Observations."""
    d = df.withColumn("_h", host_of(url_col)).withColumn(
        "reg_domain", registered_domain("_h")
    )
    # normalize the blocklist side THROUGH THE SAME derivation as the
    # corpus side (_blocklist_hosts: published exclusion lists arrive
    # mixed-case / padded / as full urls or subdomained hosts — a
    # verbatim compare against reg_domain would silently never match),
    # then reduce to the registered domain. Deliberate semantics: a
    # subdomain entry blocks its whole registered domain (C4 lists are
    # registered-domain granular; host-level lists use
    # with_host_blocked).
    bl = (
        _blocklist_hosts(blocklist, domain_col)
        .select(registered_domain("_host").alias("reg_domain"))
        .distinct()
        .withColumn("_blk", F.lit(True))
    )
    return (
        d.join(F.broadcast(bl), "reg_domain", "left")
        .withColumn("blocked", F.coalesce("_blk", F.lit(False)))
        .drop("_blk", "_h")
    )


def with_host_blocked(df, blocklist, url_col: str = "url",
                      host_col: str = "host"):
    """Append (host, host_blocked): EXACT-host blocklist — the
    finer-grained sibling of :func:`with_domain_blocked` for lists
    published at host granularity ('ads.example.org' blocks that host
    only, never the rest of example.org — the registered-domain
    variant deliberately widens such entries, see its docstring).
    Blocklist entries normalize through the SAME host derivation as
    the corpus side: whitespace strip, lowercase, scheme/path/port
    drop. Broadcast join, narrow, no shuffle at any corpus size.
    Flag, not drop — jobs count removals through their funnels."""
    d = df.withColumn("host", host_of(url_col))
    bl = (
        _blocklist_hosts(blocklist, host_col)
        .select(F.col("_host").alias("host"))
        .distinct()
        .withColumn("_blk", F.lit(True))
    )
    return (
        d.join(F.broadcast(bl), "host", "left")
        .withColumn("host_blocked", F.coalesce("_blk", F.lit(False)))
        .drop("_blk")
    )


def registered_domain(host_col: str) -> Column:
    """Registered domain from a host: last two labels, or last three
    when the last two are a known two-level public suffix."""
    suffixes = ", ".join(f"'{s}'" for s in TWO_LEVEL_SUFFIXES)
    return F.expr(
        f"CASE WHEN size(split({host_col}, '\\\\.')) <= 2 THEN {host_col}"
        f" WHEN array_join(slice(split({host_col}, '\\\\.'),"
        f"      size(split({host_col}, '\\\\.')) - 1, 2), '.') IN ({suffixes})"
        f" THEN array_join(slice(split({host_col}, '\\\\.'),"
        f"      size(split({host_col}, '\\\\.')) - 2, 3), '.')"
        f" ELSE array_join(slice(split({host_col}, '\\\\.'),"
        f"      size(split({host_col}, '\\\\.')) - 1, 2), '.') END"
    )


def latest_snapshot(
    df, url_col: str = "url", ts_col: str = "warc_ts",
    flag_col: str | None = None, rank_first: str | None = None,
):
    """One row per CANONICAL url: the latest capture — the
    snapshot-collapse every multi-crawl corpus runs before dedup (the
    same page is refetched crawl after crawl; only the newest capture
    should enter the corpus). Frozen rule: group by
    :func:`canonicalize_url`; keep the row with the greatest
    ``ts_col``, ties broken by the lexicographically SMALLEST raw url
    (a canonical url fetched twice in the same second is the same
    resource; the tie-break only has to be deterministic). Returns the
    winning input rows with ``canonical_url`` appended. With
    ``flag_col`` set, ALL rows return instead, carrying a boolean
    winner flag — the shape the corpus job needs so the stale-capture
    count can ride its write as an Observation. With ``rank_first`` (a
    boolean column) set, rows where it is true outrank every other row
    of their group — the corpus job's gates rank the pages that passed
    every earlier gate first, so the same capture wins as if the others
    had been filtered out.

    Scale shape: one window on the canonical url (computed inline in
    the scan — zero extra passes). Partition sizes are captures-per-
    page (crawl-count-bounded, single digits), so the window never
    sees a hot key even at 10^12 pages; the shuffle it costs is the
    same one the downstream url-keyed dedup needs anyway.
    """
    from pyspark.sql import Window as W

    first = [] if rank_first is None else [F.desc(rank_first)]
    w = W.partitionBy("canonical_url").orderBy(
        *first, F.desc(ts_col), F.asc(url_col)
    )
    flagged = df.withColumn(
        "canonical_url", canonicalize_url(url_col)
    ).withColumn("__rn", F.row_number().over(w))
    if flag_col is None:
        return flagged.filter(F.col("__rn") == 1).drop("__rn")
    return flagged.withColumn(
        flag_col, F.col("__rn") == F.lit(1)
    ).drop("__rn")


def with_host_script_flags(df, host_col: str = "host"):
    """Append IDN-spoof screens per host (Unicode TR#36 "international
    domain name spoofing" — the url-grain twin of
    operators/scriptmix's text screen):

    - ``is_punycode``: any dot-separated label of the lowercased host
      starts with the ACE prefix ``xn--`` (RFC 3490) — the host
      carries encoded non-ASCII somewhere; legitimate IDNs use it
      too, so this is a ROUTING flag (decode-and-inspect lane), not
      a drop;
    - ``confusable_host``: some label mixes ASCII letters with
      Cyrillic letters (U+0400-U+04FF) — the classic homoglyph
      registration ('pаypаl.com'); per TR#39 whole-script
      confusables are the norm, so the per-LABEL mix test catches
      the attack without flagging genuine Cyrillic domains.

    Frozen rule stated so the oracle restates it: lowercase, split on
    '.', exists-label-with prefix / exists-label-matching both
    classes. Pure JVM expression (split + exists higher-order
    function), zero Python, zero shuffle."""
    h = F.lower(F.coalesce(F.col(host_col), F.lit("")))
    labels = F.split(h, "\\.")
    return df.withColumn(
        "is_punycode",
        F.exists(labels, lambda l: l.startswith("xn--")),
    ).withColumn(
        "confusable_host",
        F.exists(
            labels,
            lambda l: l.rlike("[a-z]") & l.rlike("[Ѐ-ӿ]"),
        ),
    )
