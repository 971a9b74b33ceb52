"""Public-Suffix-List-backed registered domains.

``registered_domain(host)`` implements the publicsuffix.org algorithm
(longest matching rule wins; ``*.tld`` wildcards; ``!`` exceptions)
over an EMBEDDED subset of the PSL's ICANN section — the multi-label
country-code suffixes that dominate real web crawls (co.uk, com.au,
co.jp, …, the US state/k12 hierarchy, and the all-wildcard ccTLDs).
The list below is transcribed from the public publicsuffix.org data
(Mozilla Public License, public data); where this container had no
network the subset is curated by hand — regenerate against the
canonical ``public_suffix_list.dat`` with a one-line parser where
network is available (entries here use the same shapes: plain rules,
``*.`` wildcards, ``!`` exceptions).

Semantics (matching publicsuffix.org):
- the registered (registrable) domain is the public suffix plus one
  more label;
- a ``*.tld`` wildcard makes EVERY 2-label name under that TLD a
  public suffix (so the registrable domain has 3 labels);
- an exception rule (``!www.ck``) makes that exact name registrable
  despite the wildcard;
- any label under an unknown TLD falls back to the last-2-labels
  heuristic (the PSL's own implicit ``*`` default rule), which also
  covers hosts that ARE a bare suffix (no registrable domain — we
  return the heuristic value instead of null so downstream group-bys
  never key on null).

Everything is a PURE Catalyst expression — a tiered CASE over
``substring_index`` tails with literal IN-sets (codegen'd to hash-set
probes; no join, no shuffle, no UDF) — and ``registered_domain_sql``
emits the IDENTICAL logic as an ANSI/DuckDB SQL expression from the
same data, so catalog oracles can never drift from the engine.

Reference parity: the reference engine has no URL type; this replaces
the last-two-labels heuristic for every suffix the table lists.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "PSL_2LABEL",
    "PSL_3LABEL",
    "PSL_WILDCARD_TLDS",
    "PSL_WILDCARD_EXCEPTIONS",
    "registered_domain",
    "registered_domain_sql",
]

# 2-label public suffixes, grouped by TLD: {tld: [second-level labels]}.
_SLD: dict[str, list[str]] = {
    "uk": ["ac", "co", "gov", "ltd", "me", "net", "nhs", "org", "plc",
           "police", "sch"],
    "au": ["asn", "com", "edu", "gov", "id", "net", "org"],
    "jp": ["ac", "ad", "co", "ed", "go", "gr", "lg", "ne", "or"],
    "nz": ["ac", "co", "geek", "gen", "govt", "iwi", "kiwi", "maori",
           "net", "org", "school"],
    "za": ["ac", "co", "edu", "gov", "law", "mil", "net", "nom", "org",
           "school", "web"],
    "br": ["adv", "art", "com", "edu", "gov", "mil", "net", "org"],
    "in": ["ac", "co", "edu", "firm", "gen", "gov", "ind", "mil", "net",
           "nic", "org", "res"],
    "cn": ["ac", "com", "edu", "gov", "mil", "net", "org"],
    "mx": ["com", "edu", "gob", "net", "org"],
    "ar": ["com", "edu", "gob", "gov", "int", "mil", "net", "org", "tur"],
    "tr": ["av", "bel", "com", "edu", "gen", "gov", "k12", "mil", "net",
           "org", "web"],
    "tw": ["club", "com", "ebiz", "edu", "game", "gov", "idv", "net",
           "org"],
    "sg": ["com", "edu", "gov", "net", "org", "per"],
    "my": ["com", "edu", "gov", "mil", "name", "net", "org"],
    "hk": ["com", "edu", "gov", "idv", "net", "org"],
    "kr": ["ac", "co", "es", "go", "hs", "kg", "mil", "ms", "ne", "or",
           "pe", "re", "sc"],
    "th": ["ac", "co", "go", "in", "mi", "net", "or"],
    "vn": ["ac", "biz", "com", "edu", "gov", "health", "info", "int",
           "name", "net", "org", "pro"],
    "ph": ["com", "edu", "gov", "i", "mil", "net", "ngo", "org"],
    "id": ["ac", "biz", "co", "desa", "go", "mil", "my", "net", "or",
           "sch", "web"],
    "il": ["ac", "co", "gov", "idf", "k12", "muni", "net", "org"],
    "ua": ["com", "edu", "gov", "in", "net", "org"],
    "pl": ["biz", "com", "edu", "gov", "info", "net", "org", "waw"],
    "eg": ["com", "edu", "eun", "gov", "mil", "name", "net", "org", "sci"],
    "sa": ["com", "edu", "gov", "med", "net", "org", "pub", "sch"],
    "ae": ["ac", "co", "gov", "mil", "net", "org", "sch"],
    "ke": ["ac", "co", "go", "info", "me", "mobi", "ne", "or", "sc"],
    "ng": ["com", "edu", "gov", "i", "mil", "mobi", "name", "net", "org",
           "sch"],
    "es": ["com", "edu", "gob", "nom", "org"],
    "it": ["edu", "gov"],
    "fr": ["asso", "com", "gouv", "nom", "prd", "tm"],
    "gr": ["com", "edu", "gov", "net", "org"],
    "pt": ["com", "edu", "gov", "int", "net", "nome", "org", "publ"],
    "ro": ["arts", "com", "firm", "info", "nom", "nt", "org", "rec",
           "store", "tm", "www"],
    "at": ["ac", "co", "gv", "or"],
    "co": ["com", "edu", "gov", "mil", "net", "nom", "org"],
    "cl": ["gob", "gov", "mil"],
    "pe": ["com", "edu", "gob", "mil", "net", "nom", "org"],
    "ve": ["co", "com", "edu", "gob", "info", "mil", "net", "org", "web"],
    "ec": ["com", "edu", "fin", "gob", "gov", "info", "k12", "med", "mil",
           "net", "org", "pro"],
    "uy": ["com", "edu", "gub", "mil", "net", "org"],
    "py": ["com", "coop", "edu", "gov", "mil", "net", "org"],
    "bo": ["com", "edu", "gob", "int", "mil", "net", "org", "tv", "web"],
    "cr": ["ac", "co", "ed", "fi", "go", "or", "sa"],
    "ca": ["ab", "bc", "gc", "mb", "nb", "nf", "nl", "ns", "nt", "nu",
           "on", "pe", "qc", "sk", "yk"],
    # US: every state code is a public suffix (plus dc/gu/pr/vi and the
    # fed/isa/nsn/dni specials).
    "us": ["ak", "al", "ar", "az", "ca", "co", "ct", "dc", "de", "dni",
           "fed", "fl", "ga", "gu", "hi", "ia", "id", "il", "in", "isa",
           "ks", "ky", "la", "ma", "md", "me", "mi", "mn", "mo", "ms",
           "mt", "nc", "nd", "ne", "nh", "nj", "nm", "nsn", "nv", "ny",
           "oh", "ok", "or", "pa", "pr", "ri", "sc", "sd", "tn", "tx",
           "ut", "va", "vi", "vt", "wa", "wi", "wv", "wy"],
}

_US_STATES = [s for s in _SLD["us"] if s not in ("dni", "fed", "isa", "nsn")]

PSL_2LABEL: tuple[str, ...] = tuple(
    sorted(f"{sld}.{tld}" for tld, slds in _SLD.items() for sld in slds)
)

# 3-label public suffixes: the US locality hierarchy (k12/cc/lib per
# state — schools and libraries register under these).
PSL_3LABEL: tuple[str, ...] = tuple(
    sorted(
        f"{kind}.{st}.us" for st in _US_STATES for kind in ("k12", "cc", "lib")
    )
)

# ccTLDs whose PSL rule is `*.tld` — every 2-label name is a suffix.
PSL_WILDCARD_TLDS: tuple[str, ...] = (
    "bd", "ck", "er", "fk", "jm", "kh", "mm", "np", "pg",
)

# PSL exception rules (`!www.ck`): registrable despite the wildcard.
PSL_WILDCARD_EXCEPTIONS: tuple[str, ...] = ("www.ck",)


def _tail(host: Column, n: int) -> Column:
    return F.substring_index(host, ".", -n)


def registered_domain(host: Column | str) -> Column:
    """Registrable domain of a (lowercased, port-free) host per the
    publicsuffix.org algorithm over the embedded rules — pure Catalyst
    (literal IN-sets → InSet hash probes, zero exchanges). Hosts that
    equal a bare suffix, and IP-literal-ish hosts, fall back to the
    last-2-labels heuristic rather than null."""
    h = F.col(host) if isinstance(host, str) else host
    nlab = F.size(F.split(h, r"\."))
    last2, last3, last4 = _tail(h, 2), _tail(h, 3), _tail(h, 4)
    tld = _tail(h, 1)
    return (
        # exception rule: !www.ck cancels *.ck, so the exception name
        # itself is the registrable domain for any host ending in it
        # (publicsuffix.org: suffix = exception minus leftmost label)
        F.when(last2.isin(*PSL_WILDCARD_EXCEPTIONS), last2)
        .when(
            tld.isin(*PSL_WILDCARD_TLDS),
            F.when(nlab >= 3, last3).otherwise(last2),
        )
        .when(
            last3.isin(*PSL_3LABEL),
            F.when(nlab >= 4, last4).otherwise(last3),
        )
        .when(
            last2.isin(*PSL_2LABEL),
            F.when(nlab >= 3, last3).otherwise(last2),
        )
        .otherwise(last2)
    )


def _sql_tail(host: str, n: int) -> str:
    # DuckDB/Spark-ANSI twin of substring_index(h, '.', -n): join the
    # last n dot-separated labels. DuckDB list slicing: l[-n:] works,
    # but negative slices on short lists still yield the whole list —
    # same semantics as substring_index on hosts with < n labels.
    return (
        f"array_to_string(string_split({host}, '.')"
        f"[greatest(len(string_split({host}, '.')) - {n - 1}, 1):], '.')"
    )


def _sql_in(expr: str, values: tuple[str, ...]) -> str:
    lits = ", ".join(f"'{v}'" for v in values)
    return f"{expr} IN ({lits})"


def registered_domain_sql(host: str) -> str:
    """The DuckDB-SQL twin of :func:`registered_domain`, generated
    from the SAME rule data — embed in catalog oracles so engine and
    oracle can never drift. ``host`` is a SQL expression string."""
    nlab = f"len(string_split({host}, '.'))"
    last2, last3, last4 = (_sql_tail(host, n) for n in (2, 3, 4))
    tld = f"string_split({host}, '.')[-1]"
    return (
        "CASE "
        f"WHEN {_sql_in(last2, PSL_WILDCARD_EXCEPTIONS)} THEN {last2} "
        f"WHEN {_sql_in(tld, PSL_WILDCARD_TLDS)} THEN "
        f"(CASE WHEN {nlab} >= 3 THEN {last3} ELSE {last2} END) "
        f"WHEN {_sql_in(last3, PSL_3LABEL)} THEN "
        f"(CASE WHEN {nlab} >= 4 THEN {last4} ELSE {last3} END) "
        f"WHEN {_sql_in(last2, PSL_2LABEL)} THEN "
        f"(CASE WHEN {nlab} >= 3 THEN {last3} ELSE {last2} END) "
        f"ELSE {last2} END"
    )
