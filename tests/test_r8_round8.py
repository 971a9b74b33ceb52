"""Round-8 hand-case tests: PSL registered domains, real-Common-Crawl
WARC HTTP-block parsing, container-write shard-byte guards, gzip
truncation detection, and the tight (3σ) HLL bound that the catalog
gate intentionally asserts only at 5σ (round-7 advisory: tolerance-
tagged bounds belong in pytest, not the hash gate)."""

from __future__ import annotations

import gzip
import io
import os

import pytest
from pyspark.sql import functions as F

from knime_core_columnar_spark.operators.psl import (
    registered_domain,
    registered_domain_sql,
)
from knime_core_columnar_spark.sources.warc import (
    _split_gzip_members,
    read_warc,
    write_warc,
)
from knime_core_columnar_spark.sources.webdataset import write_webdataset

# (host, expected registrable domain) — every PSL rule tier; the
# expectations are hand-derived from the publicsuffix.org algorithm.
PSL_CASES = [
    ("shop.co.uk", "shop.co.uk"),
    ("deep.sub.shop.co.uk", "shop.co.uk"),
    ("a.b.c.gov.uk", "c.gov.uk"),
    ("news.com.au", "news.com.au"),
    ("district.k12.ma.us", "district.k12.ma.us"),
    ("x.pvt.k12.ca.us", "pvt.k12.ca.us"),
    ("city.ma.us", "city.ma.us"),
    ("site.example.np", "site.example.np"),  # *.np wildcard
    ("example.np", "example.np"),            # bare wildcard suffix: fallback
    ("www.ck", "www.ck"),                    # !www.ck exception
    ("sub.www.ck", "www.ck"),                # exception under a subdomain
    ("other.ck", "other.ck"),                # wildcard, 2 labels: fallback
    ("blog.example.com", "example.com"),
    ("example.com", "example.com"),
    ("co.uk", "co.uk"),                      # bare suffix: fallback
    ("localhost", "localhost"),              # single label: fallback
]


def test_psl_registered_domain_hand_cases(spark):
    df = spark.createDataFrame([(h,) for h, _ in PSL_CASES], "host string")
    got = {
        r["host"]: r["rd"]
        for r in df.select(
            "host", registered_domain("host").alias("rd")
        ).collect()
    }
    for host, want in PSL_CASES:
        assert got[host] == want, f"{host}: {got[host]!r} != {want!r}"


def test_psl_sql_twin_matches_engine(spark):
    """registered_domain_sql is generated from the same rule data — the
    DuckDB rendering must agree with the Catalyst expression on every
    hand case (this is what keeps catalog oracles drift-free)."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE t(host VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(h,) for h, _ in PSL_CASES])
    sql = registered_domain_sql("host")
    oracle = dict(con.execute(f"SELECT host, {sql} FROM t").fetchall())
    for host, want in PSL_CASES:
        assert oracle[host] == want, f"duck {host}: {oracle[host]!r}"


def test_canonical_url_parts_uses_psl(spark):
    from knime_core_columnar_spark.operators.web import canonicalize_url

    df = spark.createDataFrame(
        [("https://www.shop.example.co.uk:8080/a/b?q=1#f",)], "url string"
    )
    row = canonicalize_url(df).collect()[0]
    assert row["url_host"] == "shop.example.co.uk"
    assert row["url_domain"] == "example.co.uk"
    assert row["url_path"] == "/a/b"


def test_canonical_url_strips_fqdn_trailing_dot(spark):
    """`example.co.uk.` (absolute FQDN — common in crawl data) must
    canonicalize to the same host/domain as `example.co.uk`: an empty
    final label would desync the PSL label-tail logic."""
    from knime_core_columnar_spark.operators.web import canonicalize_url

    df = spark.createDataFrame(
        [("https://shop.example.co.uk./x",), ("https://shop.example.co.uk/x",)],
        "url string",
    )
    rows = canonicalize_url(df).collect()
    assert {r["url_host"] for r in rows} == {"shop.example.co.uk"}
    assert {r["url_domain"] for r in rows} == {"example.co.uk"}


def test_psl_matches_independent_python_reference(spark):
    """Seeded random hosts through registered_domain vs an INDEPENDENT
    pure-python implementation of the publicsuffix.org algorithm over
    the same rule tuples (different code path: longest-match scan, not
    a tiered CASE)."""
    import random

    from knime_core_columnar_spark.operators.psl import (
        PSL_2LABEL,
        PSL_3LABEL,
        PSL_WILDCARD_EXCEPTIONS,
        PSL_WILDCARD_TLDS,
    )

    def py_registered(host: str) -> str:
        labels = host.split(".")

        def tail(n):
            return ".".join(labels[-n:]) if len(labels) >= n else host

        if tail(2) in PSL_WILDCARD_EXCEPTIONS:
            return tail(2)
        if labels[-1] in PSL_WILDCARD_TLDS:
            return tail(3) if len(labels) >= 3 else tail(2)
        if tail(3) in PSL_3LABEL:
            return tail(4) if len(labels) >= 4 else tail(3)
        if tail(2) in PSL_2LABEL:
            return tail(3) if len(labels) >= 3 else tail(2)
        return tail(2)

    rng = random.Random(20260815)
    suffix_pool = (
        list(PSL_2LABEL) + list(PSL_3LABEL)
        + [f"x.{t}" for t in PSL_WILDCARD_TLDS]
        + list(PSL_WILDCARD_EXCEPTIONS)
        + ["com", "org", "example.com", "co.uk"]
    )
    hosts = []
    for _ in range(300):
        depth = rng.randint(0, 3)
        labels = [rng.choice("abc") + str(rng.randint(0, 9))
                  for _ in range(depth)]
        hosts.append(".".join(labels + [rng.choice(suffix_pool)]))
    from knime_core_columnar_spark.operators.psl import registered_domain

    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    got = {
        r["host"]: r["rd"]
        for r in df.select(
            "host", registered_domain("host").alias("rd")
        ).collect()
    }
    for h in hosts:
        assert got[h] == py_registered(h), (
            f"{h}: engine {got[h]!r} != reference {py_registered(h)!r}"
        )


def test_warc_http_wrap_adversarial_payloads(spark, tmp_path):
    """HTTP-wrapped records whose payloads CONTAIN the CRLFCRLF
    separator, fake WARC headers, and fake HTTP status lines must
    round-trip byte-exactly (Content-Length framing, not delimiter
    scanning, is the contract)."""
    payloads = [
        "before\r\n\r\nafter the separator",
        "WARC/1.0\r\nWARC-Type: response\r\n\r\nfake nested record",
        "HTTP/1.1 500 Fake\r\n\r\nfake inner response",
        "",
        "\r\n\r\n\r\n\r\n",
    ]
    df = spark.createDataFrame(
        [(f"https://adv.test/{i}", p) for i, p in enumerate(payloads)],
        "url string, text string",
    )
    out = str(tmp_path / "adv")
    write_warc(df, out, http_wrap=True, n_files=1)
    rows = {r["url"]: r for r in read_warc(spark, out).collect()}
    assert len(rows) == len(payloads)
    for i, p in enumerate(payloads):
        r = rows[f"https://adv.test/{i}"]
        assert r["http_status"] == 200
        assert bytes(r["payload"]) == p.encode("utf-8")


def test_warc_http_wrap_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(f"https://ex.test/d/{i}", f"doc body {i}") for i in range(20)],
        "url string, text string",
    )
    out = str(tmp_path / "warc")
    write_warc(df, out, http_wrap=True, n_files=3)
    rows = read_warc(spark, out).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["http_status"] == 200
        assert r["http_content_type"] == "text/plain; charset=utf-8"
        assert bytes(r["payload"]).decode("utf-8").startswith("doc body")
        # content keeps the raw WARC body (HTTP headers + payload)
        assert bytes(r["content"]).startswith(b"HTTP/1.1 200 OK\r\n")


def test_warc_plain_records_pass_through(spark, tmp_path):
    df = spark.createDataFrame(
        [("https://ex.test/p/1", "plain body")], "url string, text string"
    )
    out = str(tmp_path / "warc_plain")
    write_warc(df, out, http_wrap=False, n_files=1)
    r = read_warc(spark, out).collect()[0]
    assert r["http_status"] is None
    assert r["http_content_type"] is None
    assert bytes(r["payload"]) == bytes(r["content"]) == b"plain body"


def test_warc_hand_built_cc_record(spark, tmp_path):
    """A CC-style response record built BYTE BY HAND (independent of
    write_warc): nested HTTP 301 with an ISO-8859-1 content type — the
    reader must split status, content-type, and payload exactly."""
    body = (
        b"HTTP/1.1 301 Moved Permanently\r\n"
        b"Location: https://x.test/\r\n"
        b"Content-Type: text/html; charset=ISO-8859-1\r\n"
        b"\r\n"
        b"<html>moved</html>"
    )
    rec = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Target-URI: http://cc.test/\r\n"
        b"Content-Type: application/http; msgtype=response\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
        + body + b"\r\n\r\n"
    )
    out = tmp_path / "cc"
    out.mkdir()
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(rec)
    (out / "seg.warc.gz").write_bytes(buf.getvalue())
    r = read_warc(spark, str(out)).collect()[0]
    assert r["http_status"] == 301
    assert r["http_content_type"] == "text/html; charset=ISO-8859-1"
    assert bytes(r["payload"]) == b"<html>moved</html>"
    assert r["url"] == "http://cc.test/"
    assert bytes(r["content"]) == body


def test_rules_from_robots_hand_case(spark):
    """Hand-built robots.txt bodies → the (host, path_prefix) rule
    table: UA-group scoping (consecutive UA lines = one header), the
    empty-Disallow allow-all, comments, wildcard prefix reduction, and
    a non-matching UA group that must contribute nothing."""
    from knime_core_columnar_spark.operators.web import (
        apply_disallow_rules,
        rules_from_robots,
    )

    body_a = (
        "# crawl policy\n"
        "User-agent: *\n"
        "Disallow: /private/\n"
        "Disallow:\n"             # empty = allow all -> dropped
        "Disallow: /tmp/*/draft\n"  # wildcard -> conservative /tmp/
        "\n"
        "User-agent: special-bot\n"
        "Disallow: /\n"           # other UA group: ignored for *
    )
    body_b = (
        "User-agent: other\n"
        "User-agent: *\n"         # consecutive UA lines, one group
        "Disallow: /all-of-it\n"
    )
    robots = spark.createDataFrame(
        [("a.test", body_a), ("b.test", body_b), ("c.test", None)],
        "host string, robots_txt string",
    )
    rules = {(r["host"], r["path_prefix"])
             for r in rules_from_robots(robots).collect()}
    assert rules == {
        ("a.test", "/private/"),
        ("a.test", "/tmp/"),
        ("b.test", "/all-of-it"),
    }
    # end-to-end: the distilled table drives the disallow join
    docs = spark.createDataFrame(
        [(1, "https://a.test/private/x"), (2, "https://a.test/ok"),
         (3, "https://b.test/all-of-it/page"), (4, "https://c.test/x")],
        "doc_id long, url string",
    )
    kept = {r["doc_id"] for r in apply_disallow_rules(
        docs, rules_from_robots(robots)).collect()}
    assert kept == {2, 4}


def test_wet_conversion_records_read(spark, tmp_path):
    """A hand-built Common-Crawl WET file (WARC-Type: conversion,
    plain-text payload — the extracted-text sibling of the .warc.gz
    crawl) parses with the same reader: generic WARC headers, payload
    passthrough, no HTTP fields."""
    rec = (
        b"WARC/1.0\r\n"
        b"WARC-Type: conversion\r\n"
        b"WARC-Target-URI: http://wet.test/page\r\n"
        b"WARC-Refers-To: <urn:uuid:00000000-0000-0000-0000-000000000000>\r\n"
        b"Content-Type: text/plain\r\n"
        b"Content-Length: 21\r\n\r\n"
        b"extracted plain text." + b"\r\n\r\n"
    )
    out = tmp_path / "wet"
    out.mkdir()
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(rec)
    (out / "seg.warc.wet.gz").write_bytes(buf.getvalue())
    r = read_warc(spark, str(out)).collect()[0]
    assert r["warc_type"] == "conversion"
    assert r["url"] == "http://wet.test/page"
    assert bytes(r["payload"]) == b"extracted plain text."
    assert r["http_status"] is None


def test_crawl_to_text_end_to_end(spark, tmp_path):
    """The full web-curation front door composed: documents wrapped in
    an HTML page skeleton, exported as CC-shaped .warc.gz (nested HTTP
    messages), read back, HTTP block split, HTML main text extracted —
    the kept text must round-trip the original document body."""
    from knime_core_columnar_spark.operators.web import html_main_text

    texts = [f"the quick document number {i} with enough words" for i in range(12)]
    page = (
        "<html><head><script>var x = 1 < 2;</script></head><body>"
        '<nav><a href="/">Home</a> | <a href="/a">About</a></nav>'
        "<p>{body}</p>"
        '<footer><a href="/t">Terms</a></footer></body></html>'
    )
    df = spark.createDataFrame(
        [(f"https://site.test/{i}", page.format(body=t))
         for i, t in enumerate(texts)],
        "url string, text string",
    )
    out = str(tmp_path / "crawl")
    write_warc(df, out, http_wrap=True, n_files=2)
    back = (
        read_warc(spark, out)
        .filter(F.col("http_status") == 200)
        .select("url", F.decode("payload", "utf-8").alias("html"))
        .select("url", html_main_text("html")["text"].alias("main"))
    )
    got = {r["url"]: r["main"] for r in back.collect()}
    assert len(got) == 12
    for i, t in enumerate(texts):
        assert got[f"https://site.test/{i}"] == t  # nav/footer dropped


def test_warc_headers_only_http_message():
    """204-style HTTP message with no CRLFCRLF payload separator:
    status parses, payload is empty."""
    from knime_core_columnar_spark.sources.warc import _split_http_block

    status, ctype, payload = _split_http_block(
        {"content-type": "application/http; msgtype=response"},
        b"HTTP/1.1 204 No Content\r\nServer: x",
    )
    assert status == 204 and payload == b""
    assert ctype is None


def test_truncated_warc_record_raises():
    """A record whose Content-Length exceeds the remaining bytes
    (truncated uncompressed .warc) raises instead of silently yielding
    a short body."""
    from knime_core_columnar_spark.sources.warc import _parse_records

    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"Content-Length: 100\r\n\r\nonly a few bytes"
    )
    with pytest.raises(ValueError, match="truncated WARC record"):
        list(_parse_records(rec))


def test_truncated_gzip_member_raises():
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(b"WARC/1.0\r\nContent-Length: 0\r\n\r\n\r\n\r\n")
    blob = buf.getvalue()
    with pytest.raises(ValueError, match="truncated gzip member"):
        list(_split_gzip_members(blob[: len(blob) // 2]))
    # intact stream still parses
    assert len(list(_split_gzip_members(blob))) == 1


def test_warc_shard_byte_guard(spark, tmp_path):
    df = spark.createDataFrame(
        [(f"https://ex.test/{i}", "x" * 1000) for i in range(4)],
        "url string, text string",
    )
    with pytest.raises(Exception, match="max_file_bytes"):
        write_warc(df, str(tmp_path / "w"), n_files=1, max_file_bytes=1500)


def test_webdataset_shard_byte_guard(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, "y" * 1000) for i in range(4)], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="max_shard_bytes"):
        write_webdataset(
            df, str(tmp_path / "wds"), n_shards=1, max_shard_bytes=1500
        )


def test_phash_explicit_bands_skip_count_take_merge_hint(spark):
    """band_bits explicit + corpus_count unknown: NO count job runs
    (round-7 advisory — on derived frames it was a full pass) and the
    join hint defaults to the scale-safe merge."""
    from knime_core_columnar_spark.operators.multimodal import (
        phash_near_dup_pairs,
    )

    rows = [(i, bytearray(f"document number {i} filler ".encode() * 4))
            for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    out = phash_near_dup_pairs(df, max_hamming=6, band_bits=8)
    after = len(tracker.getJobIdsForGroup() or [])
    assert after == before  # plan construction launched no job
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=merge" in plan
    # threading an explicit small corpus_count restores the broadcast
    out2 = phash_near_dup_pairs(
        df, max_hamming=6, band_bits=8, corpus_count=20
    )
    assert "strategy=merge" not in (
        out2._jdf.queryExecution().optimizedPlan().toString()
    )


def test_covariance_arrow_expr_parity_mixed_magnitudes(spark):
    """The Arrow Gram kernel and the pure-expression plan must agree
    BIT-EXACTLY, including rows past the int64-product bound (the
    kernel's python-int fallback) and a chunk boundary (tiny step from
    a huge in-range component)."""
    from knime_core_columnar_spark.operators.similarity import (
        embedding_covariance,
    )

    rows = [
        (0, [1.5, -2.25, 3.0]),
        (1, [4.0e12, 1.0, -2.0]),      # past safe_bound: python-int path
        (2, [2.9e3, -1.0, 0.5]),       # large in-range: step shrinks
        (3, [0.001, 0.002, -0.003]),
        (4, [-1.0, -1.0, -1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = embedding_covariance(df, method="arrow").orderBy("i", "j").collect()
    x = embedding_covariance(df, method="expr").orderBy("i", "j").collect()
    assert len(a) == len(x) == 6
    assert a == x
    # partitioning independence of the kernel
    b = (
        embedding_covariance(df.repartition(7), method="arrow")
        .orderBy("i", "j")
        .collect()
    )
    assert b == a


def test_streaming_hll_store_multibatch_parity(spark, sf_dir, tmp_path):
    """Real micro-batch run of the HLL store maintainer: the documents
    corpus streamed in 4-file micro-batches through
    streaming_hll_store_ingest must leave a store whose rollup matches
    the full-build rollup within the HLL bound, with exact row
    accounting — the merge==full-build invariant under multi-batch
    replay."""
    from knime_core_columnar_spark.operators.sketch import (
        hll_rollup,
        hll_sketch_table,
    )
    from knime_core_columnar_spark.streaming import ops as ST

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "source", "lang", "doc_id"
    )
    src_dir = str(tmp_path / "hll_in")
    d.repartition(8).write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema

    store_dir = str(tmp_path / "hll_store")
    ingest = ST.streaming_hll_store_ingest(
        store_dir, ["source", "lang"], "doc_id"
    )
    stream = ST.stream_from_directory(
        spark, src_dir, schema, max_files_per_trigger=4
    )
    q = (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    store = spark.read.parquet(store_dir)
    got = {
        r["source"]: (r["approx_distinct"], r["n_rows"])
        for r in hll_rollup(store, ["source"]).collect()
    }
    full = hll_rollup(
        hll_sketch_table(d, ["source", "lang"], "doc_id"), ["source"]
    )
    want = {
        r["source"]: (r["approx_distinct"], r["n_rows"]) for r in full.collect()
    }
    assert set(got) == set(want) and got
    for s, (est, n) in want.items():
        assert got[s][1] == n  # row accounting is exact
        assert abs(got[s][0] - est) / max(est, 1) <= 0.05

    # batch-callback backfill path shares the code: a second store fed
    # the whole corpus in ONE call must agree with the streamed store
    store2_dir = str(tmp_path / "hll_store2")
    ST.streaming_hll_store_ingest(
        store2_dir, ["source", "lang"], "doc_id"
    )(d, 0)
    got2 = {
        r["source"]: r["n_rows"]
        for r in hll_rollup(
            spark.read.parquet(store2_dir), ["source"]
        ).collect()
    }
    assert got2 == {s: n for s, (_, n) in got.items()}


def test_covariance_arrow_null_element_parity(spark):
    """A NULL element inside an embedding must not crash the Arrow
    kernel, and its pairs contribute nothing — the exact expr-plan
    semantics (null products are skipped by SUM)."""
    from knime_core_columnar_spark.operators.similarity import (
        embedding_covariance,
    )

    rows = [
        (0, [1.0, 2.0, 3.0]),
        (1, [4.0, None, 6.0]),  # pairs touching dim 1 skip this row
        (2, [7.0, 8.0, 9.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = embedding_covariance(df, method="arrow").orderBy("i", "j").collect()
    x = embedding_covariance(df, method="expr").orderBy("i", "j").collect()
    assert a == x and len(a) == 6


def test_decode_features_null_payload_yields_nulls(spark):
    """NULL payloads decode to NULL features (octet_length(NULL) IS
    NULL semantics) instead of fabricated zero-byte dimensions."""
    from knime_core_columnar_spark.operators.multimodal import (
        decode_image_features,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"abc")), (2, None)],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r for r in decode_image_features(df).collect()}
    assert got[1]["n_bytes"] == 3 and got[1]["width"] is not None
    assert got[2]["n_bytes"] is None
    assert got[2]["width"] is None and got[2]["height"] is None


def test_decode_features_passthrough_collision_raises(spark):
    from knime_core_columnar_spark.operators.multimodal import (
        decode_image_features,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"x"), 9)], "doc_id long, payload binary, n_bytes long"
    )
    with pytest.raises(ValueError, match="collide"):
        decode_image_features(df, passthrough_cols=["n_bytes"])


def test_hll_store_swap_crash_recovery(spark, tmp_path):
    """The store swap is retry- and crash-safe: a leftover .old dir
    (crash after the swap) does not wedge the retry, and a missing
    store with an intact .old (crash between the renames) is restored
    instead of silently restarting from a delta."""
    import os
    import shutil

    from knime_core_columnar_spark.operators.sketch import hll_rollup
    from knime_core_columnar_spark.streaming.ops import (
        streaming_hll_store_ingest,
    )

    store = str(tmp_path / "store")
    ingest = streaming_hll_store_ingest(store, ["source"], "doc_id")
    d1 = spark.createDataFrame(
        [(f"s{i % 2}", i) for i in range(100)], "source string, doc_id long"
    )
    ingest(d1, 0)
    # crash AFTER swap of batch 1: .old1 left behind — retry must work
    shutil.copytree(store, f"{store}.old1")
    d2 = spark.createDataFrame(
        [(f"s{i % 2}", i) for i in range(100, 200)],
        "source string, doc_id long",
    )
    ingest(d2, 1)
    assert not os.path.isdir(f"{store}.old1")
    n = {r["source"]: r["n_rows"]
         for r in hll_rollup(spark.read.parquet(store), ["source"]).collect()}
    assert n == {"s0": 100, "s1": 100}
    # crash BETWEEN renames of batch 2: store gone, .old2 holds history
    os.rename(store, f"{store}.old2")
    d3 = spark.createDataFrame(
        [("s0", 999)], "source string, doc_id long"
    )
    ingest(d3, 2)
    n = {r["source"]: r["n_rows"]
         for r in hll_rollup(spark.read.parquet(store), ["source"]).collect()}
    assert n == {"s0": 101, "s1": 100}  # history restored, not delta-only


def test_hll_sketch_tight_bound(spark, sf_dir):
    """The 3σ bound the catalog gate deliberately relaxes to 5σ
    (round-7 advisory): asserted here where a tail miss is a visible,
    tolerance-tagged test failure instead of a hash-gate red."""
    from knime_core_columnar_spark.operators.sketch import (
        hll_rollup,
        hll_sketch_table,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stored = hll_sketch_table(d, ["source", "lang"], "doc_id")
    roll = hll_rollup(stored, ["source"])
    exact = d.groupBy("source").agg(
        F.countDistinct("doc_id").alias("exact")
    )
    rows = roll.join(exact, "source").collect()
    assert rows
    for r in rows:
        rel = abs(r["approx_distinct"] - r["exact"]) / r["exact"]
        assert rel <= 0.05, f"{r['source']}: rel err {rel:.4f} > 3σ bound"


# ---------------------------------------------------------------------------
# dedup_paragraphs — corpus-wide exact paragraph dedup + reassembly
# ---------------------------------------------------------------------------


def _dp(spark, texts, **kw):
    from knime_core_columnar_spark.operators.dedup import dedup_paragraphs

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    return {r["doc_id"]: r for r in dedup_paragraphs(df, **kw).collect()}


def test_dedup_paragraphs_first_occurrence_wins(spark):
    rows = _dp(spark, [
        "alpha one\nshared footer\nbeta two",   # 0: first sighting of footer
        "gamma three\nshared footer",           # 1: copy dropped
        "shared footer\ndelta four",            # 2: copy dropped
    ])
    assert rows[0]["n_paras"] == 3 and rows[0]["n_kept"] == 3
    assert rows[0]["clean_text"] == "alpha one\nshared footer\nbeta two"
    assert rows[1]["n_paras"] == 2 and rows[1]["n_kept"] == 1
    assert rows[1]["clean_text"] == "gamma three"
    assert rows[2]["clean_text"] == "delta four"


def test_dedup_paragraphs_within_doc_and_empties(spark):
    rows = _dp(spark, [
        "same line\n\n  same line  \nother",    # dup INSIDE one doc + blank
    ])
    r = rows[0]
    # blank paragraph dropped before counting; trimmed copies collide
    assert r["n_paras"] == 3 and r["n_kept"] == 2
    assert r["clean_text"] == "same line\nother"


def test_dedup_paragraphs_empty_doc_absent(spark):
    rows = _dp(spark, ["", "\n\n", "kept text"])
    assert set(rows) == {2}
    assert rows[2]["clean_text"] == "kept text"


def test_dedup_paragraphs_normalize_tier(spark):
    exact = _dp(spark, ["The  End\nmid", "the end\nmid2"])
    assert exact[1]["n_kept"] == 2        # case/spacing differ -> kept
    norm = _dp(spark, ["The  End\nmid", "the end\nmid2"],
               normalize=True)
    assert norm[1]["n_kept"] == 1         # normalized tier collides
    # reassembly keeps ORIGINAL bytes, not the normalized form
    assert norm[0]["clean_text"] == "The  End\nmid"


def test_dedup_paragraphs_literal_separator(spark):
    # '.' is a regex metachar — the separator contract is LITERAL
    rows = _dp(spark, ["a b.c d.a b"], sep=".")
    assert rows[0]["n_paras"] == 3 and rows[0]["n_kept"] == 2
    assert rows[0]["clean_text"] == "a b.c d"


# ---------------------------------------------------------------------------
# gopher_repetition — within-document repetition battery (zero-exchange)
# ---------------------------------------------------------------------------


def _gr(spark, texts, **kw):
    from knime_core_columnar_spark.operators.text import gopher_repetition

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    return {r["doc_id"]: r for r in gopher_repetition(df, **kw).collect()}


def test_gopher_repetition_hand_cases(spark):
    rows = _gr(
        spark,
        [
            "x\nx\ny",            # 0: one duplicate line
            "a b a b a",          # 1: repeated bigram, no lines
            "",                   # 2: empty -> all zero
            None,                 # 3: NULL -> all zero
        ],
        top_ns=(2,), dup_ns=(2,),
    )
    r0 = rows[0]
    assert r0["dup_line_frac"] == 1 / 3
    assert r0["dup_line_char_frac"] == 1 / 3
    # tokens [x, x, y]: top bigram 'x x' covers 3 of 5 normalized chars
    assert r0["top_2gram_char_frac"] == 3 / 5
    assert r0["dup_2gram_char_frac"] == 0.0
    r1 = rows[1]
    # bigrams: 'a b' x2, 'b a' x2 -> top = 2*3/9; dup = (1+1)*3/9
    assert r1["top_2gram_char_frac"] == 6 / 9
    assert r1["dup_2gram_char_frac"] == 6 / 9
    assert r1["dup_line_frac"] == 0.0
    for doc_id in (2, 3):
        fracs = {k: v for k, v in rows[doc_id].asDict().items()
                 if k != "doc_id"}
        assert fracs and all(v == 0.0 for v in fracs.values()), doc_id


def test_gopher_repetition_top_ties_take_max_char_coverage(spark):
    # 'aa bb' x2 and 'c d' x2 tie on count; the metric is defined as
    # MAX char coverage, so the longer gram wins deterministically
    rows = _gr(spark, ["aa bb aa bb c d c d"], top_ns=(2,), dup_ns=())
    # normalized length 19; 'aa bb' covers 2*5=10
    assert rows[0]["top_2gram_char_frac"] == 10 / 19


def test_gopher_repetition_zero_exchange_plan(spark):
    from knime_core_columnar_spark.operators.text import gopher_repetition

    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    out = gopher_repetition(df)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# EXIF extraction + strip — adversarial byte fixtures
# ---------------------------------------------------------------------------


def _tiff_exif(orient=5, dt="2024:03:04 05:06:07", gps=True, bo="MM",
               dt_in_ifd0=False):
    import struct

    big = bo == "MM"
    e = ">" if big else "<"
    n = 2 + (1 if gps else 0)
    if dt_in_ifd0:
        n = 2  # orientation + DateTime(306), no Exif pointer
    ifd0_size = 2 + 12 * n + 4
    exif_off = 8 + ifd0_size
    dt_off = exif_off + (0 if dt_in_ifd0 else 18)
    gps_off = dt_off + 20
    out = (b"MM\x00\x2a" if big else b"II\x2a\x00") + struct.pack(e + "I", 8)
    out += struct.pack(e + "H", n)
    out += struct.pack(e + "HHI", 274, 3, 1) + struct.pack(e + "HH", orient, 0)
    if dt_in_ifd0:
        out += struct.pack(e + "HHII", 306, 2, 20, dt_off)
    else:
        out += struct.pack(e + "HHII", 34665, 4, 1, exif_off)
        if gps:
            out += struct.pack(e + "HHII", 34853, 4, 1, gps_off)
    out += b"\x00" * 4
    if not dt_in_ifd0:
        out += struct.pack(e + "H", 1)
        out += struct.pack(e + "HHII", 36867, 2, 20, dt_off)
        out += b"\x00" * 4
    out += dt.encode() + b"\x00"
    if gps and not dt_in_ifd0:
        out += struct.pack(e + "H", 0) + b"\x00" * 4
    return out


def _jpeg_wrap(tiff, fill=0, extra_seg=False):
    import struct

    seg = b"Exif\x00\x00" + tiff
    out = b"\xff\xd8"
    if extra_seg:  # a non-Exif APP0 stays untouched by the strip
        out += b"\xff\xe0" + struct.pack(">H", 6) + b"JFIF"
    out += b"\xff" * fill
    out += b"\xff\xe1" + struct.pack(">H", 2 + len(seg)) + seg
    return out + b"\xff\xd9"


def _exif_rows(spark, payloads, fn):
    df = spark.createDataFrame(
        list(enumerate(payloads)), "doc_id long, payload binary"
    )
    return {r["doc_id"]: r for r in fn(df).collect()}


def test_exif_extract_hand_fixtures(spark):
    from knime_core_columnar_spark.operators.multimodal import (
        extract_exif_meta,
    )

    rows = _exif_rows(spark, [
        _jpeg_wrap(_tiff_exif(gps=True, bo="MM")),
        _jpeg_wrap(_tiff_exif(gps=False, bo="II"), fill=3),
        _tiff_exif(orient=8, gps=True, bo="II"),        # bare TIFF
        _tiff_exif(dt_in_ifd0=True, gps=False),         # 306 fallback
        b"not an image at all",
        b"\xff\xd8\xff\xdb\x00\x04\x00\x00\xff\xd9",    # JPEG, no EXIF
    ], extract_exif_meta)
    for i in (0, 1, 2, 3):
        assert rows[i]["exif_present"] and rows[i]["datetime_original"] \
            == "2024:03:04 05:06:07"
    assert rows[0]["has_gps"] is True and rows[1]["has_gps"] is False
    assert rows[2]["orientation"] == 8 and rows[2]["has_gps"] is True
    assert rows[3]["has_gps"] is False
    for i in (4, 5):
        assert rows[i]["exif_present"] is False
        assert rows[i]["has_gps"] is None
        assert rows[i]["orientation"] is None


def test_exif_extract_truncation_never_crashes(spark):
    from knime_core_columnar_spark.operators.multimodal import (
        extract_exif_meta,
    )

    full = _jpeg_wrap(_tiff_exif())
    rows = _exif_rows(
        spark,
        [full[:k] for k in (0, 1, 2, 4, 7, 13, 20, 40, len(full) - 1)],
        extract_exif_meta,
    )
    assert len(rows) == 9  # every row present, parser never threw
    # cut INSIDE the declared APP1 length -> segment rejected entirely
    assert rows[7]["exif_present"] is False


def test_exif_strip_byte_exact(spark):
    from knime_core_columnar_spark.operators.multimodal import (
        extract_exif_meta,
        strip_exif_jpeg,
    )

    with_app0 = _jpeg_wrap(_tiff_exif(), extra_seg=True)
    plain = b"\xff\xd8\xff\xdb\x00\x04\x00\x00\xff\xd9"
    rows = _exif_rows(spark, [with_app0, plain, b"hello"],
                      strip_exif_jpeg)
    # non-Exif APP0 survives, Exif APP1 excised byte-exactly
    assert bytes(rows[0]["payload"]) == (
        b"\xff\xd8\xff\xe0\x00\x06JFIF\xff\xd9"
    )
    assert rows[0]["n_stripped_bytes"] == len(with_app0) - 12
    assert bytes(rows[1]["payload"]) == plain
    assert rows[1]["n_stripped_bytes"] == 0
    assert bytes(rows[2]["payload"]) == b"hello"
    # stripped output re-parses as EXIF-free
    df = spark.createDataFrame([(0, bytes(rows[0]["payload"]))],
                               "doc_id long, payload binary")
    after = extract_exif_meta(df).collect()[0]
    assert after["exif_present"] is False


# ---------------------------------------------------------------------------
# normalize_unicode + split_sentences
# ---------------------------------------------------------------------------


def test_normalize_unicode_forms(spark):
    from knime_core_columnar_spark.operators.text import normalize_unicode

    df = spark.createDataFrame(
        [(0, "café ﬁne １"), (1, "plain ascii"), (2, None)],
        "doc_id long, text string",
    )
    nfc = {r["doc_id"]: r for r in
           normalize_unicode(df, form="NFC").collect()}
    # NFC composes e+ACUTE but PRESERVES compatibility chars
    assert nfc[0]["norm_text"] == "café ﬁne １"
    assert nfc[0]["changed"] is True
    assert nfc[1]["norm_text"] == "plain ascii"
    assert nfc[1]["changed"] is False
    assert nfc[2]["norm_text"] == "" and nfc[2]["changed"] is False
    nfkc = {r["doc_id"]: r for r in
            normalize_unicode(df, form="NFKC").collect()}
    # NFKC additionally folds the ligature and the full-width digit
    assert nfkc[0]["norm_text"] == "café fine 1"
    import pytest

    with pytest.raises(ValueError, match="normalization form"):
        normalize_unicode(df, form="NFX")


def test_split_sentences_hand_cases(spark):
    from knime_core_columnar_spark.operators.text import split_sentences

    df = spark.createDataFrame(
        [
            (0, "one two. three four! five?  six"),
            (1, "no terminal punct at all"),
            (2, ""),
            (3, "ends exactly here."),
        ],
        "doc_id long, text string",
    )
    rows = sorted(
        (r["doc_id"], r["sent_idx"], r["sentence"])
        for r in split_sentences(df).collect()
    )
    assert rows == [
        (0, 0, "one two."), (0, 1, "three four!"), (0, 2, "five?"),
        (0, 3, "six"),
        (1, 0, "no terminal punct at all"),
        (3, 0, "ends exactly here."),
    ]


def test_exif_walk_random_bytes_never_crash(spark):
    """Robustness fuzz: random byte soup, bit-flipped valid EXIF
    JPEGs, and every truncation point through extract + strip — the
    kernels must never raise, strip must never grow a payload, and a
    stripped payload must always re-parse EXIF-free."""
    import hashlib

    from knime_core_columnar_spark.operators.multimodal import (
        _exif_tiff_blob,
        _exif_walk,
    )

    valid = _jpeg_wrap(_tiff_exif(gps=True))

    def rnd(seed, n):
        out = b""
        while len(out) < n:
            out += hashlib.md5(f"{seed}|{len(out)}".encode()).digest()
        return out[:n]

    cases = []
    for s in range(40):
        cases.append(rnd(s, 5 + s * 7))                  # pure soup
        b = bytearray(valid)
        pos = int.from_bytes(rnd(100 + s, 2), "big") % len(b)
        b[pos] ^= rnd(200 + s, 1)[0] or 1                # bit flip
        cases.append(bytes(b))
        cases.append(b"\xff\xd8" + rnd(300 + s, 30))      # JPEG + soup
    cases += [valid[:k] for k in range(len(valid))]       # all cuts

    for b in cases:
        present, orient, dt, gps = _exif_walk(b)          # never raises
        tiff, spans = _exif_tiff_blob(b)                  # never raises
        if spans:
            kept, pos = [], 0
            for s0, e0 in spans:
                kept.append(b[pos:s0])
                pos = e0
            kept.append(b[pos:])
            out = b"".join(kept)
            assert len(out) <= len(b)
            assert _exif_walk(out)[0] is False            # EXIF gone


def test_dedup_sentence_spans_hand_cases(spark):
    from knime_core_columnar_spark.operators.text import (
        dedup_sentence_spans,
    )

    df = spark.createDataFrame(
        [
            (0, "a one. b two. c three. unique tail."),
            (1, "x pre. a one. b two. c three. y post."),  # copied span
            (2, "short doc."),
            (3, ""),
            (4, "r r. r r. r r. r r."),   # self-repeat inside one doc
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dedup_sentence_spans(df).collect()}
    assert rows[0]["n_removed"] == 0
    assert rows[0]["clean_text"] == "a one. b two. c three. unique tail."
    # the losing occurrence's three sentences vanish, neighbors stay
    assert rows[1]["n_removed"] == 3
    assert rows[1]["clean_text"] == "x pre. y post."
    # fewer than 3 sentences: no spans, verbatim pass-through
    assert rows[2]["n_removed"] == 0
    assert rows[2]["clean_text"] == "short doc."
    assert rows[3] ["n_sentences"] == 0 and rows[3]["clean_text"] == ""
    # within-doc repeat collapses toward the head (documented tie rule)
    assert rows[4]["n_removed"] == 3
    assert rows[4]["clean_text"] == "r r."
    import pytest

    with pytest.raises(ValueError, match="span_sentences"):
        dedup_sentence_spans(df, span_sentences=0)
