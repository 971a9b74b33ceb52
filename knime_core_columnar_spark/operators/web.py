"""Web-corpus URL handling: canonicalization + host-level curation.

Every web-scale training pipeline keys its curation decisions on URLs:
per-host quotas, domain blocklists, dedup of re-crawls of the same page
under cosmetically different URLs (scheme case, tracking params,
fragments, trailing slashes). The operators here canonicalize URLs with
PURE Catalyst string expressions — codegen, no UDF, no shuffle — so the
canonical form is computed at scan speed and is expressible in ANSI SQL
for the DuckDB correctness gate.

Canonical form (documented simplifications):
- scheme stripped (http/https/ftp treated alike for identity);
- host lowercased, leading ``www.`` and explicit ``:port`` stripped;
- query string (``?...``) and fragment (``#...``) dropped — tracking
  params carry no page identity (the aggressive variant of the
  standard param-allowlist approach);
- trailing slashes on the path stripped;
- ``domain`` is the PSL-backed registrable domain (operators/psl.py:
  publicsuffix.org algorithm over an embedded ICANN-section subset —
  ``co.uk``/``com.au``/US-state suffixes resolve exactly; unknown TLDs
  fall back to the last-two-labels heuristic).
- ``user:pass@`` userinfo is stripped from the authority before the
  port strip (so a password containing ``:`` cannot defeat it);
- bracketed IPv6 authorities (``http://[::1]:8080/``) are NOT handled:
  the bracket survives into ``host`` and the last-two-labels domain
  heuristic is meaningless for IP literals. Web-crawl curation keys on
  registered domains; pipelines with IP-literal URLs should filter
  them out first (``host LIKE '[%'`` or an IP regex).

Reference parity: the reference engine has no URL type; this family is
part of the training-data-pipeline surface (SURVEY.md §6), with
semantics per CCNet/Dolma-style curation (public papers).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from knime_core_columnar_spark.operators.psl import registered_domain

__all__ = [
    "canonical_url_parts", "canonicalize_url", "host_stats",
    "html_main_text", "extract_main_text", "apply_disallow_rules",
    "rules_from_robots",
]


def canonical_url_parts(url: Column | str) -> Column:
    """Struct(host, domain, path, canonical) from a raw URL string.

    All steps are engine-portable: ``substring_index``/``split_part``
    for fragment+query strip, RE2-safe regexes for scheme/port/www
    strips (no lookaround, no backrefs), so the DuckDB oracle computes
    the identical canonical form. ``domain`` is the PSL-backed
    registrable domain (psl.registered_domain — oracle twin
    psl.registered_domain_sql).
    """
    u = F.col(url) if isinstance(url, str) else url
    u = F.lower(F.trim(u))
    u = F.substring_index(u, "#", 1)          # drop fragment
    u = F.substring_index(u, "?", 1)          # drop query
    u = F.regexp_replace(u, r"^[a-z][a-z0-9+.-]*://", "")  # drop scheme
    hostport = F.substring_index(u, "/", 1)
    # path = everything after the host token; strip trailing slashes
    path = F.regexp_replace(
        F.substr(u, F.length(hostport) + 1), r"/+$", ""
    )
    # userinfo first (user:pass@host — a ':' inside the password would
    # otherwise defeat the :port strip), then port, then www, then any
    # FQDN trailing dot (example.com. — common in crawl data; an empty
    # final label would desync the PSL label-tail logic)
    host = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(hostport, r"^[^/@]*@", ""), r":[0-9]+$", ""
            ),
            r"^www\.",
            "",
        ),
        r"\.+$",
        "",
    )
    return F.struct(
        host.alias("host"),
        registered_domain(host).alias("domain"),
        path.alias("path"),
        F.concat(host, path).alias("canonical"),
    )


def canonicalize_url(
    df: DataFrame, url_col: str = "url", prefix: str = "url_"
) -> DataFrame:
    """Append ``{prefix}host/domain/path/canonical`` columns. Scan-side
    row-local work — zero exchanges added to the plan."""
    parts = canonical_url_parts(url_col)
    return df.withColumns(
        {
            f"{prefix}host": parts["host"],
            f"{prefix}domain": parts["domain"],
            f"{prefix}path": parts["path"],
            f"{prefix}canonical": parts["canonical"],
        }
    )


def host_stats(
    df: DataFrame,
    url_col: str = "url",
    blocklist: list[str] | None = None,
    extra_aggs: list[Column] | None = None,
) -> DataFrame:
    """Per-host curation rollup: doc count, distinct canonical URLs
    (re-crawl detection: n_docs ≫ n_urls means the same pages keep
    reappearing), and a blocklist flag matched on host OR registered
    domain.

    Scale shape: canonicalization is scan-side; ONE hash aggregation
    keyed by (host, domain) — hosts ≪ documents, so map-side partial
    aggregation collapses each task to the host cardinality. The
    blocklist is a literal IN-expression (broadcast by construction,
    no join). At 100 TB this is the cheapest shape a per-host rollup
    can have: single shuffle of host-sized partials.
    """
    d = canonicalize_url(df, url_col)
    blocked = (
        F.col("url_host").isin(blocklist) | F.col("url_domain").isin(blocklist)
        if blocklist
        else F.lit(False)
    )
    return (
        d.withColumn("blocked", blocked)
        .groupBy("url_host", "url_domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("url_canonical").alias("n_urls"),
            F.max(F.col("blocked").cast("int")).cast("boolean").alias("blocked"),
            *(extra_aggs or []),
        )
    )


# ---------------------------------------------------------------------------
# HTML main-text extraction
# ---------------------------------------------------------------------------

# Block-level boundaries: opening or closing occurrences become block
# separators. RE2-safe (no lookaround, no backrefs) so the DuckDB
# oracle segments identically; (?i) covers shouting markup.
_BLOCK_SPLIT_RE = (
    r"(?is)(?:</?(?:p|div|h1|h2|h3|h4|h5|h6|li|ul|ol|dl|dt|dd|table|thead"
    r"|tbody|tfoot|tr|td|th|section|article|aside|header|footer|nav|main"
    r"|blockquote|pre|form|figure|figcaption|hr)[^>]*>|<br[^>]*>)"
)
_SCRIPT_RE = r"(?is)<script[^>]*>.*?</script>"
_STYLE_RE = r"(?is)<style[^>]*>.*?</style>"
_COMMENT_RE = r"(?s)<!--.*?-->"
_ANCHOR_RE = r"(?is)<a[^>]*>(.*?)</a>"
_TAG_RE = r"(?s)<[^>]*>"


def _decode_entities(c: Column) -> Column:
    """The five XML entities + nbsp, innermost-first so '&amp;lt;'
    decodes to '&lt;' (one level), not '<' — same chain in the oracle."""
    for ent, rep in [
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"),
    ]:
        c = F.replace(c, F.lit(ent), F.lit(rep))
    return c


def _plain(c: Column) -> Column:
    """Tag-strip + entity-decode + whitespace-collapse one HTML chunk."""
    return F.trim(
        F.regexp_replace(
            _decode_entities(F.regexp_replace(c, _TAG_RE, " ")),
            r"\s+",
            " ",
        )
    )


def html_main_text(
    html: Column | str,
    min_words: int = 3,
    max_link_milli: int = 400,
) -> Column:
    """Main-text extraction from raw HTML — the boilerplate-removal
    step every web-crawl training pipeline runs before quality scoring
    (the jusText/trafilatura shape, reduced to its deterministic core):
    drop script/style/comments, segment on block-level tags, keep
    blocks that carry enough words and a low enough LINK DENSITY
    (chars inside <a> vs block chars — navigation, footers, and
    related-links boxes are mostly anchor text).

    Pure Catalyst: one regexp chain + a higher-order transform over
    the block array — codegen scan-side work, zero exchanges, and
    every regex is RE2-safe so the SQL oracle replays it verbatim.
    The density test is INTEGER (link_chars·1000 ≤ max_link_milli·
    block_chars) — no float anywhere.

    Documented limits (a regex segmenter, not an HTML5 tree parser):
    CDATA and a literal '>' inside an attribute value desync the tag
    strip for that block; entities decode one level (&amp;lt; → &lt;);
    block-level boilerplate WITHOUT links (bare copyright lines) is
    kept — link density is the jusText core signal, not a full
    classifier.

    Returns struct(text, n_blocks, n_kept): the kept blocks joined by
    newline, the non-empty block count, and the kept count.
    """
    from knime_core_columnar_spark.operators.text import let_col

    h = F.col(html) if isinstance(html, str) else html
    x = F.regexp_replace(h, _SCRIPT_RE, " ")
    x = F.regexp_replace(x, _STYLE_RE, " ")
    x = F.regexp_replace(x, _COMMENT_RE, " ")
    raw_blocks = F.split(F.regexp_replace(x, _BLOCK_SPLIT_RE, "\x01"), "\x01")

    def _block_info(b: Column) -> Column:
        # let-bind the block's plain text: the struct reads it twice
        # (text field + word count) and an unbound reference re-runs
        # the tag-strip + entity-decode + collapse chain per read —
        # interpreted HOF lambdas get no subexpression elimination
        # (same binding as language_mix_gate)
        def _with_plain(plain: Column) -> Column:
            words = F.size(F.filter(F.split(plain, " "), lambda w: w != ""))
            link_len = F.aggregate(
                F.regexp_extract_all(b, F.lit(_ANCHOR_RE), F.lit(1)),
                F.lit(0),
                lambda acc, a: acc + F.length(_plain(a)),
            )
            return F.struct(
                plain.alias("text"),
                words.alias("words"),
                link_len.alias("link_len"),
            )

        return let_col(_plain(b), _with_plain)

    infos_expr = F.filter(
        F.transform(raw_blocks, _block_info), lambda s: s["text"] != ""
    )

    # let-bind infos AND kept: the output struct reads infos twice
    # (kept's input + n_blocks) and kept twice (text + n_kept); unbound,
    # each read re-runs the whole per-block extraction pipeline. NB: a
    # consumer that extracts several FIELDS of the returned struct into
    # separate columns still inlines the whole expression once per
    # field — materialize the struct as a column first (one select),
    # then extract fields from the bound column (see the catalog query).
    def _build(infos: Column) -> Column:
        kept_expr = F.filter(
            infos,
            lambda s: (s["words"] >= F.lit(min_words))
            & (s["link_len"] * F.lit(1000)
               <= F.lit(max_link_milli) * F.length(s["text"])),
        )
        return let_col(
            kept_expr,
            lambda kept: F.struct(
                F.array_join(
                    F.transform(kept, lambda s: s["text"]), "\n"
                ).alias("text"),
                F.size(infos).alias("n_blocks"),
                F.size(kept).alias("n_kept"),
            ),
        )

    return let_col(infos_expr, _build)


def extract_main_text(
    df: DataFrame,
    html_col: str = "html",
    min_words: int = 3,
    max_link_milli: int = 400,
    prefix: str = "main_",
) -> DataFrame:
    """Append ``{prefix}text/n_blocks/n_kept`` from an HTML column.
    Scan-side row-local work — zero exchanges added to the plan; at
    100 TB this runs at whatever speed the scan runs."""
    m = html_main_text(html_col, min_words, max_link_milli)
    # materialize the struct ONCE, then extract fields from the bound
    # column: extracting three fields of the raw expression would
    # inline (and per row re-evaluate) the whole extraction pipeline
    # once per field — CollapseProject keeps the boundary because the
    # alias is non-cheap and multiply referenced. The staging name is
    # collision-safe: an input that already carries "__m"
    # must not be silently overwritten and dropped.
    stage = "__m"
    while stage in df.columns:
        stage += "_"
    bound = df.withColumn(stage, m)
    return bound.withColumns(
        {
            f"{prefix}text": F.col(stage)["text"],
            f"{prefix}n_blocks": F.col(stage)["n_blocks"],
            f"{prefix}n_kept": F.col(stage)["n_kept"],
        }
    ).drop(stage)


def apply_disallow_rules(
    df: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    rule_host_col: str = "host",
    rule_prefix_col: str = "path_prefix",
) -> DataFrame:
    """Robots-style disallow filtering: drop documents whose canonical
    URL matches a (host, path-prefix) rule table — the crawl-compliance
    / publisher-opt-out pass of a web corpus (rules distilled offline
    from robots.txt 'Disallow:' lines or takedown lists into a plain
    table; robots SEMANTICS beyond prefix match — wildcards,
    Allow-overrides — belong in that distillation, not here).

    Scale shape: rules are a HOST-KEYED dimension (thousands to
    millions of rows — dimension-sized, never corpus-sized), so the
    match is one equi-join on canonical host with a ``startswith``
    prefix test in the join condition: AQE broadcasts the rule table
    and the corpus never shuffles. An empty-prefix rule bans the whole
    host. Left-anti join semantics: a document survives only if NO
    rule matches.

    Returns ``df`` minus the disallowed rows (original columns).
    """
    parts = canonical_url_parts(url_col)
    tagged = df.withColumns(
        {"__host": parts["host"], "__path": parts["path"]}
    )
    r = rules.select(
        F.col(rule_host_col).alias("__rhost"),
        F.coalesce(F.col(rule_prefix_col), F.lit("")).alias("__rprefix"),
    )
    out = tagged.join(
        F.broadcast(r),
        (F.col("__host") == F.col("__rhost"))
        & F.col("__path").startswith(F.col("__rprefix")),
        "left_anti",
    )
    return out.drop("__host", "__path")


def rules_from_robots(
    robots: DataFrame,
    host_col: str = "host",
    body_col: str = "robots_txt",
    user_agent: str = "*",
) -> DataFrame:
    """Distill fetched robots.txt bodies into the (host, path_prefix)
    rule table :func:`apply_disallow_rules` consumes — closing the loop
    from raw crawl-compliance data to the disallow join.

    Implemented robots subset (RFC 9309 reduced to what a prefix-match
    rule table can honor, documented like the extractor's limits):
    ``Disallow:`` lines inside groups whose ``User-agent:`` matches
    ``user_agent`` exactly (default ``*``); empty Disallow values
    (meaning "allow all") are dropped; ``Allow:`` overrides and ``*``/
    ``$`` wildcards are NOT modeled — a wildcard rule is kept up to its
    first wildcard character, which disallows a SUPERSET (the
    conservative direction for a training corpus). Comments (#) and
    blank lines per the spec.

    Scale shape: robots bodies are a HOST-KEYED dimension (one small
    text per host — never corpus-sized), parsed with an Arrow-batched
    kernel; the output is the broadcastable rule table.

    Returns (host, path_prefix) — one row per disallow rule.
    """
    import pandas as pd

    def _parse(batches):
        for pdf in batches:
            hosts, prefixes = [], []
            for host, body in zip(pdf[host_col], pdf[body_col]):
                if body is None:
                    continue
                in_group = False
                seen_rule_since_ua = True
                for raw in str(body).splitlines():
                    line = raw.split("#", 1)[0].strip()
                    if not line:
                        continue
                    key, _, val = line.partition(":")
                    key, val = key.strip().lower(), val.strip()
                    if key == "user-agent":
                        # consecutive UA lines form ONE group header
                        if seen_rule_since_ua:
                            in_group = val == user_agent
                        else:
                            in_group = in_group or val == user_agent
                        seen_rule_since_ua = False
                    elif key in ("disallow", "allow", "crawl-delay",
                                 "sitemap"):
                        seen_rule_since_ua = True
                        if key == "disallow" and in_group and val:
                            # conservative wildcard reduction: keep the
                            # literal prefix before the first * or $
                            cut = len(val)
                            for ch in ("*", "$"):
                                p = val.find(ch)
                                if p >= 0:
                                    cut = min(cut, p)
                            prefix = val[:cut]
                            if prefix:
                                hosts.append(host)
                                prefixes.append(prefix)
            yield pd.DataFrame({"host": hosts, "path_prefix": prefixes})

    return robots.select(host_col, body_col).mapInPandas(
        _parse, "host string, path_prefix string"
    )
