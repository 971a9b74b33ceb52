"""URL curation operators — the web-corpus hygiene family every
large-scale crawl pipeline runs before text curation (CCNet,
RefinedWeb §3.1 "URL filtering", Dolma's url dedup): parse, normalize
to a canonical form, dedup on the canonical URL, roll up per
registered domain, and gate against a domain blocklist.

Engine discipline (same as the text family): every component is a
deterministic expression over the URL string — regexp parts extraction
with RE2 ∩ Java-regex-safe patterns, list algebra for query-parameter
normalization — so the DuckDB oracles replay the identical arithmetic
and every operator is hash-checkable. No Python in the hot path.

Scale shape: parsing/canonicalization are zero-exchange scan
projections; URL dedup shuffles only (md5-16, RowID-ish id) pairs and
elects winners with the partially-aggregated min + semi-join pattern
(never a Window over the canonical-URL hash — the hottest URL on a
crawl is exactly the one you are deduping); the domain rollup is one
partially-aggregated groupBy on the registered domain.

No counterpart in the reference (KNIME ships no URL nodes in this
repo); part of the north-star training-data surface like the dedup /
text-quality families.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "url_scheme",
    "url_host",
    "url_port",
    "url_path",
    "url_query",
    "canonicalize_url",
    "registered_domain",
    "url_dedup",
    "domain_rollup",
    "MULTI_PART_SUFFIXES",
    "TRACKING_PARAM_PREFIXES",
    "TRACKING_PARAMS",
]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# RFC-3986-ish component patterns, RE2 ∩ Java-regex safe (no lookarounds,
# no backrefs) so the identical strings run on Spark and DuckDB.
_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_AUTH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_HOST_IN_AUTH_RE = r"^(?:[^@]*@)?([^:]*)"
_PORT_IN_AUTH_RE = r":([0-9]+)$"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
#: anchored to the pre-fragment region: a '?' that first appears inside
#: the fragment is NOT a query
_QUERY_RE = r"^[^#?]*\?([^#]*)"


def url_scheme(col: Column | str) -> Column:
    """Lower-cased scheme ('' when the string has none)."""
    return F.lower(F.regexp_extract(_c(col), _SCHEME_RE, 1))


def _authority(col: Column | str) -> Column:
    return F.regexp_extract(_c(col), _AUTH_RE, 1)


def url_host(col: Column | str) -> Column:
    """Lower-cased host: authority minus userinfo@ and :port."""
    return F.lower(F.regexp_extract(_authority(col), _HOST_IN_AUTH_RE, 1))


def url_port(col: Column | str) -> Column:
    """Explicit port as a string ('' when none)."""
    return F.regexp_extract(_authority(col), _PORT_IN_AUTH_RE, 1)


def url_path(col: Column | str) -> Column:
    """Path component ('' when none; no query/fragment)."""
    return F.regexp_extract(_c(col), _PATH_RE, 1)


def url_query(col: Column | str) -> Column:
    """Raw query string without the '?' ('' when none; fragment cut)."""
    return F.regexp_extract(_c(col), _QUERY_RE, 1)


#: query parameters that never change content identity (ad/analytics
#: attribution) — dropped during canonicalization. Prefix family plus
#: exact names, per the common blocklists (uBlock/RefinedWeb).
TRACKING_PARAM_PREFIXES = ("utm_",)
TRACKING_PARAMS = ("gclid", "fbclid", "msclkid", "mc_cid", "mc_eid",
                   "ref", "ref_src", "igshid")

#: default ports stripped per scheme
_DEFAULT_PORTS = {"http": "80", "https": "443", "ftp": "21"}


def _is_tracking(p: Column) -> Column:
    """p is one 'key=value' (or bare 'key') query token."""
    key = F.lower(
        F.when(F.instr(p, "=") > 0, F.substring_index(p, "=", 1)).otherwise(p)
    )
    cond = F.lit(False)
    for pref in TRACKING_PARAM_PREFIXES:
        cond = cond | key.startswith(pref)
    for name in TRACKING_PARAMS:
        cond = cond | (key == name)
    return cond


def canonicalize_url(col: Column | str) -> Column:
    """Canonical form for dedup keys: lower-cased scheme and host,
    default port stripped (explicit non-default ports kept), fragment
    dropped, tracking query parameters dropped, surviving parameters
    SORTED (byte order), trailing '?' removed, empty path left empty
    (no trailing-slash guessing — '/a' and '/a/' are different
    resources). Userinfo is preserved-by-omission: URLs carrying
    userinfo keep it out of the canonical form's host but the
    authority's host/port are re-derived, so 'u@host' ≡ 'host'."""
    url = _c(col)
    scheme = url_scheme(url)
    host = url_host(url)
    port = url_port(url)
    keep_port = F.lit(None).cast("string")
    for sch, dp in _DEFAULT_PORTS.items():
        keep_port = F.when(
            (scheme == sch) & (port == dp), F.lit("")
        ).otherwise(keep_port)
    port_part = F.coalesce(
        keep_port,
        F.when(port == "", F.lit("")).otherwise(F.concat(F.lit(":"), port)),
    )
    path = url_path(url)
    q = url_query(url)
    kept = F.filter(
        F.filter(F.split(q, "&"), lambda p: p != ""),
        lambda p: ~_is_tracking(p),
    )
    q_part = F.when(
        F.size(kept) > 0,
        F.concat(F.lit("?"), F.array_join(F.array_sort(kept), "&")),
    ).otherwise(F.lit(""))
    built = F.concat(scheme, F.lit("://"), host, port_part, path, q_part)
    return F.when(scheme == "", url).otherwise(built)


#: multi-label public suffixes (PSL subset — the high-traffic two-label
#: suffixes; a full PSL would load the published list the same way)
MULTI_PART_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "or.jp", "ne.jp", "com.br", "com.cn", "com.mx", "co.in",
    "co.kr", "com.tr", "com.ar", "co.za", "com.sg", "github.io",
)


def registered_domain(host: Column | str) -> Column:
    """eTLD+1: the last two host labels, or three when the last two are
    a multi-label public suffix ('a.b.co.uk' → 'b.co.uk'). Hosts with
    fewer labels (bare 'localhost', IPs are out of scope) pass through
    unchanged."""
    h = _c(host)
    labels = F.split(h, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(
        ".", F.element_at(labels, -2), F.element_at(labels, -1)
    )
    last3 = F.concat_ws(
        ".", F.element_at(labels, -3), F.element_at(labels, -2),
        F.element_at(labels, -1),
    )
    is_multi = F.lit(False)
    for suf in MULTI_PART_SUFFIXES:
        is_multi = is_multi | (last2 == suf)
    return (
        F.when(n <= 2, h)
        .when(is_multi & (n >= 3), last3)
        .otherwise(last2)
    )


def url_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
) -> DataFrame:
    """Canonical-URL exact dedup: keep the minimum-id row per canonical
    URL. Same election pattern as ``exact_dedup``: shuffle
    only (md5-16(canon), id), partially-aggregated min winner +
    semi-join back — map-side combine absorbs the hottest URL, the join
    is AQE-skew-splittable, no Window. Adds ``canon_url``."""
    with_canon = df.withColumn("canon_url", canonicalize_url(url_col))
    # null-safe key: a NULL url must dedup as ONE group (keep the min-id
    # row), not vanish through the null-rejecting equi-join
    keyed = with_canon.withColumn(
        "__uk",
        F.coalesce(F.substring(F.md5("canon_url"), 1, 16),
                   F.lit("__NULL__")),
    )
    winners = keyed.groupBy("__uk").agg(F.min(id_col).alias(id_col))
    return keyed.join(winners, ["__uk", id_col], "leftsemi").drop("__uk")


def domain_rollup(
    df: DataFrame,
    url_col: str = "url",
    blocklist: tuple[str, ...] = (),
) -> DataFrame:
    """Per-registered-domain corpus census: docs, distinct canonical
    URLs, and the blocklist flag — the curation table a crawl pipeline
    gates ingestion with. One partially-aggregated groupBy; distinct
    URLs via exact count over md5-16 keys (they shuffle, the URLs do
    not)."""
    parts = df.select(
        registered_domain(url_host(url_col)).alias("domain"),
        F.substring(F.md5(canonicalize_url(url_col)), 1, 16).alias("__uk"),
    )
    blocked = F.lit(False)
    for b in blocklist:
        blocked = blocked | (F.col("domain") == b)
    return (
        parts.groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("__uk").alias("n_urls"),
        )
        .withColumn("is_blocked", blocked)
    )
