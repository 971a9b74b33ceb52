"""Curated scalar function registry.

Mirrors the capability surface of KNIME's expression nodes (String
Manipulation, Math Formula, Date&Time manipulation, Rule Engine) that run
on the reference backend — re-expressed as named Catalyst expression
builders. Each entry: name → (category, arity, builder, doc).

Builders take Columns (or names) and return a Column; they are exactly
the pyspark.sql.functions calls a hand-written query would use, so using
the registry costs nothing at plan time (no UDF wrapper, no opacity to
the optimizer — predicates over these still push down).

Determinism notes for differential testing: transcendentals (ln, exp,
pow, trig) are libm-dependent in their last ulp across engines; they are
in the library (full capability) but the oracle-checked catalog queries
avoid them (see the catalog/_registry.py rules).
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else x


class FunctionSpec(NamedTuple):
    category: str
    arity: int  # -1 = variadic
    builder: Callable[..., Column]
    doc: str


FUNCTION_REGISTRY: dict[str, FunctionSpec] = {
    # -- string ------------------------------------------------------------
    "upper": FunctionSpec("string", 1, lambda s: F.upper(_c(s)), "uppercase"),
    "lower": FunctionSpec("string", 1, lambda s: F.lower(_c(s)), "lowercase"),
    "capitalize": FunctionSpec("string", 1, lambda s: F.initcap(_c(s)), "title-case words"),
    "strip": FunctionSpec("string", 1, lambda s: F.trim(_c(s)), "trim whitespace"),
    "length": FunctionSpec("string", 1, lambda s: F.length(_c(s)), "character count"),
    "substr": FunctionSpec("string", 3, lambda s, p, n: F.substring(_c(s), p, n), "substring(pos,len) 1-based"),
    "replace": FunctionSpec("string", 3, lambda s, a, b: F.replace(_c(s), F.lit(a), F.lit(b)), "replace all occurrences"),
    "regex_replace": FunctionSpec("string", 3, lambda s, p, r: F.regexp_replace(_c(s), p, r), "regex global replace"),
    "regex_extract": FunctionSpec("string", 3, lambda s, p, g: F.regexp_extract(_c(s), p, g), "regex capture group"),
    "regex_matches": FunctionSpec("string", 2, lambda s, p: _c(s).rlike(p), "regex match predicate"),
    "index_of": FunctionSpec("string", 2, lambda s, sub: F.instr(_c(s), sub), "1-based find, 0 if absent"),
    "pad_left": FunctionSpec("string", 3, lambda s, n, c: F.lpad(_c(s), n, c), "left-pad to n"),
    "pad_right": FunctionSpec("string", 3, lambda s, n, c: F.rpad(_c(s), n, c), "right-pad to n"),
    "reverse": FunctionSpec("string", 1, lambda s: F.reverse(_c(s)), "reverse characters"),
    "split": FunctionSpec("string", 2, lambda s, sep: F.split(_c(s), sep), "split to array"),
    "join": FunctionSpec("string", -1, lambda sep, *cols: F.concat_ws(sep, *[_c(c) for c in cols]), "join with separator"),
    "concat": FunctionSpec("string", -1, lambda *cols: F.concat(*[_c(c) for c in cols]), "concatenate"),
    "starts_with": FunctionSpec("string", 2, lambda s, p: _c(s).startswith(p), "prefix test"),
    "ends_with": FunctionSpec("string", 2, lambda s, p: _c(s).endswith(p), "suffix test"),
    "contains": FunctionSpec("string", 2, lambda s, sub: _c(s).contains(sub), "substring test"),
    "levenshtein": FunctionSpec("string", 2, lambda a, b: F.levenshtein(_c(a), _c(b)), "edit distance"),
    "soundex": FunctionSpec("string", 1, lambda s: F.soundex(_c(s)), "phonetic code"),
    "md5": FunctionSpec("string", 1, lambda s: F.md5(_c(s)), "md5 hex digest"),
    "sha256": FunctionSpec("string", 1, lambda s: F.sha2(_c(s), 256), "sha-256 hex digest"),
    "base64_encode": FunctionSpec("string", 1, lambda s: F.base64(_c(s)), "base64"),
    "base64_decode": FunctionSpec("string", 1, lambda s: F.unbase64(_c(s)), "base64 decode → binary"),
    # -- math --------------------------------------------------------------
    "abs": FunctionSpec("math", 1, lambda x: F.abs(_c(x)), "absolute value"),
    "ceil": FunctionSpec("math", 1, lambda x: F.ceil(_c(x)), "round up"),
    "floor": FunctionSpec("math", 1, lambda x: F.floor(_c(x)), "round down"),
    "round": FunctionSpec("math", 2, lambda x, d: F.round(_c(x), d), "half-up rounding"),
    "sqrt": FunctionSpec("math", 1, lambda x: F.sqrt(_c(x)), "square root (IEEE-exact)"),
    "exp": FunctionSpec("math", 1, lambda x: F.exp(_c(x)), "e^x (libm — last-ulp varies)"),
    "ln": FunctionSpec("math", 1, lambda x: F.log(_c(x)), "natural log (libm)"),
    "log10": FunctionSpec("math", 1, lambda x: F.log10(_c(x)), "log base 10 (libm)"),
    "pow": FunctionSpec("math", 2, lambda x, y: F.pow(_c(x), y), "x^y (libm)"),
    "mod": FunctionSpec("math", 2, lambda x, y: _c(x) % y, "modulo"),
    "sign": FunctionSpec("math", 1, lambda x: F.signum(_c(x)), "-1/0/1"),
    "greatest": FunctionSpec("math", -1, lambda *xs: F.greatest(*[_c(x) for x in xs]), "row-wise max"),
    "least": FunctionSpec("math", -1, lambda *xs: F.least(*[_c(x) for x in xs]), "row-wise min"),
    "is_nan": FunctionSpec("math", 1, lambda x: F.isnan(_c(x)), "NaN test"),
    "clamp": FunctionSpec(
        "math", 3,
        lambda x, lo, hi: F.least(F.greatest(_c(x), F.lit(lo)), F.lit(hi)),
        "clip to [lo, hi]",
    ),
    # -- temporal ----------------------------------------------------------
    "year": FunctionSpec("date", 1, lambda t: F.year(_c(t)), "year component"),
    "month": FunctionSpec("date", 1, lambda t: F.month(_c(t)), "month component"),
    "day": FunctionSpec("date", 1, lambda t: F.dayofmonth(_c(t)), "day of month"),
    "hour": FunctionSpec("date", 1, lambda t: F.hour(_c(t)), "hour component"),
    "minute": FunctionSpec("date", 1, lambda t: F.minute(_c(t)), "minute component"),
    "quarter": FunctionSpec("date", 1, lambda t: F.quarter(_c(t)), "quarter 1-4"),
    "day_of_year": FunctionSpec("date", 1, lambda t: F.dayofyear(_c(t)), "1-366"),
    "week_of_year": FunctionSpec("date", 1, lambda t: F.weekofyear(_c(t)), "ISO week"),
    "date_trunc": FunctionSpec("date", 2, lambda unit, t: F.date_trunc(unit, _c(t)), "truncate to unit"),
    "date_add_days": FunctionSpec("date", 2, lambda t, n: F.date_add(_c(t), n), "add n days"),
    "date_diff_days": FunctionSpec("date", 2, lambda a, b: F.datediff(_c(a), _c(b)), "a − b in days"),
    "last_day_of_month": FunctionSpec("date", 1, lambda t: F.last_day(_c(t)), "end of month"),
    "to_date": FunctionSpec("date", 2, lambda s, fmt: F.to_date(_c(s), fmt), "parse string → date"),
    "format_date": FunctionSpec("date", 2, lambda t, fmt: F.date_format(_c(t), fmt), "date → string"),
    "unix_seconds": FunctionSpec("date", 1, lambda t: F.unix_timestamp(_c(t)), "epoch seconds"),
    # -- conditional / null -------------------------------------------------
    "if_missing": FunctionSpec("null", 2, lambda x, d: F.coalesce(_c(x), F.lit(d)), "default when null"),
    "coalesce": FunctionSpec("null", -1, lambda *xs: F.coalesce(*[_c(x) for x in xs]), "first non-null"),
    "null_if": FunctionSpec("null", 2, lambda x, v: F.nullif(_c(x), F.lit(v)), "null when equal"),
    "is_missing": FunctionSpec("null", 1, lambda x: _c(x).isNull(), "null test"),
    # -- array / map --------------------------------------------------------
    "array_length": FunctionSpec("array", 1, lambda a: F.size(_c(a)), "element count"),
    "array_contains": FunctionSpec("array", 2, lambda a, v: F.array_contains(_c(a), v), "membership"),
    "array_distinct": FunctionSpec("array", 1, lambda a: F.array_distinct(_c(a)), "dedupe"),
    "array_sort": FunctionSpec("array", 1, lambda a: F.sort_array(_c(a)), "ascending sort"),
    "array_join": FunctionSpec("array", 2, lambda a, sep: F.array_join(_c(a), sep), "join to string"),
    "array_slice": FunctionSpec("array", 3, lambda a, p, n: F.slice(_c(a), p, n), "1-based slice"),
    "array_max": FunctionSpec("array", 1, lambda a: F.array_max(_c(a)), "max element"),
    "array_min": FunctionSpec("array", 1, lambda a: F.array_min(_c(a)), "min element"),
    "map_keys": FunctionSpec("map", 1, lambda m: F.map_keys(_c(m)), "keys array"),
    "map_values": FunctionSpec("map", 1, lambda m: F.map_values(_c(m)), "values array"),
    "element_at": FunctionSpec("map", 2, lambda m, k: F.element_at(_c(m), k), "lookup key/index"),
    # -- json ---------------------------------------------------------------
    "json_get": FunctionSpec("json", 2, lambda s, p: F.get_json_object(_c(s), p), "JSONPath extract → string"),
    "json_tuple_schema": FunctionSpec("json", 2, lambda s, schema: F.from_json(_c(s), schema), "parse to struct"),
    "to_json": FunctionSpec("json", 1, lambda st: F.to_json(_c(st)), "struct → JSON string"),
    # -- url ------------------------------------------------------------------
    "url_host": FunctionSpec("url", 1, lambda u: _url_part(u, "host"), "canonical host (scheme/www/port/userinfo stripped)"),
    "url_path": FunctionSpec("url", 1, lambda u: _url_part(u, "path"), "canonical path (query/fragment/trailing slashes stripped)"),
    "url_canonical": FunctionSpec("url", 1, lambda u: _url_part(u, "canonical"), "canonical page identity (host+path)"),
    "registered_domain": FunctionSpec("url", 1, lambda u: _url_part(u, "domain"), "PSL-backed registrable domain of a URL (operators/psl.py)"),
    "host_registered_domain": FunctionSpec("url", 1, lambda h: _host_domain(_c(h)), "PSL-backed registrable domain of a bare host"),
}


def _url_part(u, part: str) -> Column:
    from knime_core_columnar_spark.operators.web import canonical_url_parts

    return canonical_url_parts(_c(u))[part]


def _host_domain(h: Column) -> Column:
    from knime_core_columnar_spark.operators.psl import registered_domain

    return registered_domain(h)


def list_functions(category: str | None = None) -> list[str]:
    return sorted(
        name for name, spec in FUNCTION_REGISTRY.items()
        if category is None or spec.category == category
    )


def apply_function(name: str, *args) -> Column:
    """Build the named function's Column expression."""
    spec = FUNCTION_REGISTRY.get(name)
    if spec is None:
        raise KeyError(f"unknown function {name!r}; see list_functions()")
    if spec.arity >= 0 and len(args) != spec.arity:
        raise TypeError(f"{name} expects {spec.arity} args, got {len(args)}")
    return spec.builder(*args)
