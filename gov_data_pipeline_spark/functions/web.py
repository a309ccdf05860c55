"""Crawl-side text surface: HTML -> text extraction and URL
normalization — the two operators between ``sources.http.fetch_urls``
(SURVEY R1) and the documents table that the reference leaves to
per-handler regexes (``handlers/belarus.py:58-68`` extracts hrefs but
never page text; URL canonicalization has no reference equivalent at
all, yet any frontier dedup needs it).

Everything is a chain of built-in string/regex column expressions —
codegen'd, no UDF, no Python on the hot path — and every rule is
mirrorable in DuckDB (RE2 and Java regex agree on the subset used:
``(?is)`` flags, non-greedy ``.*?``, character classes).

These are deliberately RULE-BASED extractors: deterministic, cheap,
cross-engine-provable. A DOM-accurate boilerplate remover (readability
etc.) would sit behind the Arrow-batched ``mapInPandas`` runtime like
the other heavy text models; the rule chain here is the 100 TB first
pass that feeds it.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Query parameters stripped during URL normalization: pure tracking
# state that changes the string but never the resource.
# matches both valued ("utm_source=x") and bare-flag ("utm_source")
# tracking params — a valueless flag is still tracker noise
TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|yclid|ref)(=|$)"


def html_text_col(html: Column) -> Column:
    """Visible text of an HTML document as one whitespace-normalized
    string: script/style/comment blocks removed wholesale, tags
    stripped, the five ubiquitous entities decoded (``&amp;`` LAST so
    ``&amp;lt;`` decodes to the literal ``&lt;`` the author wrote,
    not to ``<``), whitespace collapsed.
    """
    # script and style as two rules, not one with a </\1> backreference:
    # RE2 (the DuckDB oracle's engine) has no backreferences
    t = F.regexp_replace(html, r"(?is)<script\b[^>]*>.*?</script>", " ")
    t = F.regexp_replace(t, r"(?is)<style\b[^>]*>.*?</style>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(t, r"<[^>]+>", " ")
    for ent, ch in (
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&amp;", "&"),
    ):
        t = F.replace(t, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def html_title_col(html: Column) -> Column:
    """<title> content, entity-decoded and whitespace-normalized;
    empty string when the document has no title element."""
    t = F.regexp_extract(html, r"(?is)<title[^>]*>(.*?)</title>", 1)
    for ent, ch in (
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&amp;", "&"),
    ):
        t = F.replace(t, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def url_normalize_col(url: Column) -> Column:
    """Canonical form of an absolute http(s) URL for frontier/corpus
    dedup. Rules (each provable cross-engine):

    - scheme and host lowercased (path/query case is significant);
    - default port dropped (``:80`` for http, ``:443`` for https);
    - fragment dropped (never sent to the server);
    - tracking query params dropped (:data:`TRACKING_PARAM_RE`);
    - remaining query params SORTED (param order is almost never
      semantic; sorting makes equal resources string-equal);
    - empty path becomes ``/``.

    Non-http(s) or relative inputs pass through unchanged — a frontier
    filters those before normalization.
    """
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rawauth = F.regexp_extract(
        url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1
    )
    # Lowercase ONLY the host[:port] portion: userinfo (user:pass@) is
    # case-sensitive credential material. The host starts after the
    # LAST '@' (RFC 3986 — '@' may appear percent-unencoded in
    # userinfo in the wild).
    userinfo = F.regexp_extract(rawauth, r"^(.*)@[^@]*$", 1)
    host = F.regexp_extract(rawauth, r"([^@]*)$", 1)
    auth = F.when(
        rawauth.contains("@"),
        F.concat(userinfo, F.lit("@"), F.lower(host)),
    ).otherwise(F.lower(rawauth))
    auth = F.when(
        scheme == "http", F.regexp_replace(auth, r":80$", "")
    ).otherwise(
        F.when(scheme == "https", F.regexp_replace(auth, r":443$", "")).otherwise(auth)
    )
    path = F.regexp_extract(
        url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )
    path = F.when(path == "", F.lit("/")).otherwise(path)
    qs = F.regexp_extract(url, r"^[^#]*\?([^#]*)", 1)
    params = F.array_sort(
        F.filter(
            F.split(qs, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    qpart = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))
    normalized = F.concat(scheme, F.lit("://"), auth, path, qpart)
    return F.when(scheme.isin("http", "https"), normalized).otherwise(url)


def sitemap_locs_col(xml: Column) -> Column:
    """All ``<loc>`` URLs of a sitemap (or sitemap-index) document, in
    document order, whitespace-trimmed and the four XML entities
    decoded (sitemaps escape ``&`` in query strings as ``&amp;``).
    Returns array<string>; explode it into a crawl frontier."""
    locs = F.regexp_extract_all(xml, F.lit(r"(?is)<loc[^>]*>(.*?)</loc>"), 1)
    return F.transform(
        locs,
        lambda u: F.replace(
            F.replace(
                F.replace(
                    F.replace(F.trim(u), F.lit("&lt;"), F.lit("<")),
                    F.lit("&gt;"),
                    F.lit(">"),
                ),
                F.lit("&quot;"),
                F.lit('"'),
            ),
            F.lit("&amp;"),
            F.lit("&"),
        ),
    )


def robots_rules_col(robots_txt: Column, agent: Column | None = None) -> Column:
    """Allow/Disallow prefix rules that apply to ``agent`` (default
    ``*``) from a robots.txt document, as array<struct<allow:boolean,
    prefix:string>>.

    Group semantics (RFC 9309): a group is one or more consecutive
    ``User-agent:`` lines followed by rules; a group applies when one
    of its agent tokens equals the caller's agent (exact,
    case-insensitive) or ``*``; specific-agent groups take precedence
    over ``*`` groups — if any group names the agent exactly, only
    those groups' rules apply. Blank ``Disallow:`` (allow-all) yields
    no rule. Comments (#) stripped; field names case-insensitive.

    Pure column expression: split to lines, tag each line with its
    group ordinal (a running count of group STARTS — a User-agent line
    whose predecessor is not also a User-agent line), then one filter/
    transform chain. No UDF; mirrors line-for-line in DuckDB list
    functions for the oracle.

    The running count is an ``aggregate(slice(...))`` prefix sum —
    O(L²) in the file's LINE count per row. robots.txt files are tens
    of lines (Google caps parsing at 500 KiB; rule counts stay small),
    so this never matters; parsing a million-line file through this
    would be the wrong tool (parse once, broadcast the rules).
    """
    agent_c = F.lower(agent) if agent is not None else F.lit("*")
    lines = F.split(F.regexp_replace(robots_txt, r"(?m)#.*$", ""), r"\r?\n")
    # (line, is_ua, group_id) — group_id = running count of group starts
    tagged = F.transform(
        lines,
        lambda ln, i: F.struct(
            F.trim(ln).alias("ln"),
            F.trim(ln).rlike(r"(?i)^user-agent\s*:").alias("is_ua"),
            F.when(
                F.trim(ln).rlike(r"(?i)^user-agent\s*:")
                & ~F.when(i > 0, F.trim(F.element_at(lines, i)))
                .otherwise(F.lit(""))
                .rlike(r"(?i)^user-agent\s*:"),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("starts"),
            i.alias("i"),
        ),
    )
    with_gid = F.transform(
        tagged,
        lambda s, i: F.struct(
            s["ln"].alias("ln"),
            s["is_ua"].alias("is_ua"),
            F.aggregate(
                F.slice(tagged, 1, i + 1),
                F.lit(0),
                lambda acc, x: acc + x["starts"],
            ).alias("gid"),
        ),
    )
    # agent tokens per group (lowercased)
    ua_of = lambda s: F.lower(  # noqa: E731
        F.trim(F.regexp_replace(s["ln"], r"(?i)^user-agent\s*:", ""))
    )
    groups_for_agent = F.array_distinct(
        F.transform(
            F.filter(
                with_gid, lambda s: s["is_ua"] & (ua_of(s) == agent_c)
            ),
            lambda s: s["gid"],
        )
    )
    groups_wildcard = F.array_distinct(
        F.transform(
            F.filter(
                with_gid, lambda s: s["is_ua"] & (ua_of(s) == F.lit("*"))
            ),
            lambda s: s["gid"],
        )
    )
    active = F.when(F.size(groups_for_agent) > 0, groups_for_agent).otherwise(
        groups_wildcard
    )
    rule_re = r"(?i)^(allow|disallow)\s*:"
    rules = F.filter(
        with_gid,
        lambda s: F.array_contains(active, s["gid"])
        & s["ln"].rlike(rule_re)
        & (F.trim(F.regexp_replace(s["ln"], rule_re, "")) != ""),
    )
    return F.transform(
        rules,
        lambda s: F.struct(
            F.lower(s["ln"]).startswith("allow").alias("allow"),
            F.trim(F.regexp_replace(s["ln"], rule_re, "")).alias("prefix"),
        ),
    )


def robots_allowed_col(rules: Column, path: Column) -> Column:
    """Longest-match verdict for ``path`` against
    :func:`robots_rules_col` output: among rules whose prefix starts
    the path, the LONGEST wins; a length tie goes to Allow (the RFC
    9309 / Google tie-break); no matching rule means allowed."""
    matching = F.filter(rules, lambda r: path.startswith(r["prefix"]))
    best = F.array_max(
        F.transform(
            matching,
            lambda r: F.struct(
                F.length(r["prefix"]).alias("len"),
                # allow sorts AFTER disallow at equal length -> wins ties
                r["allow"].cast("int").alias("allow_rank"),
                r["allow"].alias("allow"),
            ),
        )
    )
    return F.when(F.size(matching) == 0, F.lit(True)).otherwise(best["allow"])
