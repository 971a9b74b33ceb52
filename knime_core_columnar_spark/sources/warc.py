"""WARC (Web ARChive, ISO 28500) read/write — the container format of
Common Crawl and every web-crawl corpus: a .warc.gz file is a
concatenation of GZIP MEMBERS, one member per record, each record a
header block (``WARC/1.0`` + name: value lines + Content-Length) and a
payload. Member-per-record gzip is the load-bearing convention: a
reader can seek to any record boundary and decompress just that
member, and a splitter can fan records out without decompressing the
whole file.

Spark-first design (the webdataset.py companion):
- files are the unit of parallelism: a crawl segment is thousands of
  .warc.gz files, read as ``binaryFile`` rows and parsed executor-side
  with stdlib zlib/gzip (no environment gate) — 10k files → 10k-way
  parallelism, no driver involvement;
- the writer assigns records to files by the repo's md5-prefix key
  convention (partitioning-independent, SQL-replayable) and emits
  deterministic bytes: fixed WARC-Date, md5-derived record ids, records
  sorted by key, gzip mtime=0 — re-exports are byte-identical;
- real Common Crawl ``response`` records carry a nested HTTP message
  (``Content-Type: application/http``; status line + headers + body
  inside the WARC body). ``read_warc`` splits that block and exposes
  ``http_status`` / ``http_content_type`` / ``payload`` columns, so
  genuine CC ``.warc.gz`` segments parse to usable text; the writer
  can emit the same shape with ``http_wrap=True``. Plain-payload
  records (this repo's default export) pass through with the body as
  the payload and null HTTP columns.

Write-side filesystem contract: the writer's tasks emit shards into
``out_dir`` themselves (``open()``/``os.replace`` on plain paths, the
:mod:`.fsio` pyarrow.fs tier on URIs) — correct in local mode, on a
SHARED filesystem mounted on every executor (NFS/Lustre/FUSE-mounted
object store), or on a URI every worker can reach. This contract is
ENFORCED, not assumed: every write task re-reads the driver's
:mod:`.fscheck` marker before it builds its shard and the export raises
when it cannot, instead of scattering partial shards across
executor-local disks. Each shard is built in memory by one task — pick
``n_files`` so a file stays ~1 GiB (``max_file_bytes`` makes the
overflow a clear error instead of an executor OOM).
"""

from __future__ import annotations

import gzip
import hashlib
import io
import os
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["write_warc", "read_warc", "warc_file_of"]

_WARC_DATE = "2024-01-01T00:00:00Z"


def warc_file_of(key_col, n_files: int):
    """Deterministic file id for a record key (md5-prefix convention —
    replayable in DuckDB as ('0x' || substring(md5(k), 1, 15)) %%
    n_files)."""
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % n_files
    ).cast("int")


def _record_bytes(url: str, content: bytes, http_wrap: bool = False) -> bytes:
    rid = hashlib.md5(url.encode("utf-8")).hexdigest()
    if http_wrap:
        # Common Crawl shape: the WARC body is a full HTTP response
        # message (status line + headers + blank line + payload).
        content = (
            "HTTP/1.1 200 OK\r\n"
            "Content-Type: text/plain; charset=utf-8\r\n"
            f"Content-Length: {len(content)}\r\n"
            "\r\n"
        ).encode("utf-8") + content
        warc_ctype = "application/http; msgtype=response"
    else:
        warc_ctype = "text/plain"
    hdr = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Record-ID: <urn:uuid:{rid[:8]}-{rid[8:12]}-{rid[12:16]}-"
        f"{rid[16:20]}-{rid[20:32]}>\r\n"
        f"WARC-Date: {_WARC_DATE}\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"Content-Type: {warc_ctype}\r\n"
        f"Content-Length: {len(content)}\r\n"
        "\r\n"
    ).encode("utf-8")
    return hdr + content + b"\r\n\r\n"


def write_warc(
    df: DataFrame,
    out_dir: str,
    url_col: str = "url",
    content_col: str = "text",
    key_col: str | None = None,
    n_files: int = 8,
    http_wrap: bool = False,
    max_file_bytes: int = 2 << 30,
) -> None:
    """Export (url, content) rows as ``out_dir/part-NNNNN.warc.gz``:
    one gzip member per record (the Common Crawl convention), records
    sorted by url within a file, zeroed gzip mtime — byte-reproducible
    at any input partitioning. Each file is written by exactly one
    task (groupBy(file) → applyInPandas); ``out_dir`` must be visible
    from every executor, which each write task checks (see module
    docstring).
    ``http_wrap=True`` nests each payload in an HTTP response message
    (the real Common Crawl record shape). A file group whose
    uncompressed record bytes exceed ``max_file_bytes`` raises with
    sizing guidance instead of OOM-ing the executor."""
    from .fscheck import executor_visible

    key_col = key_col or url_col

    def _write_file(pdf: pd.DataFrame) -> pd.DataFrame:
        check_marker()
        fid = int(pdf["__file"].iloc[0])
        recs = []
        total = 0
        for _, row in pdf.iterrows():
            content = row[content_col]
            content = (b"" if content is None
                       else content.encode("utf-8")
                       if isinstance(content, str) else bytes(content))
            total += len(content)
            if total > max_file_bytes:
                raise ValueError(
                    f"write_warc: file group {fid} exceeds max_file_bytes="
                    f"{max_file_bytes} ({total} bytes so far, "
                    f"{len(recs)} records). Each file is built in memory "
                    f"by one task — raise n_files (aim ~1 GiB/file: "
                    f"n_files ≈ total_bytes / 1 GiB) or max_file_bytes."
                )
            recs.append((str(row[url_col]), content))
        recs.sort(key=lambda r: r[0])
        buf = io.BytesIO()
        for url, content in recs:
            member = io.BytesIO()
            with gzip.GzipFile(fileobj=member, mode="wb", mtime=0) as gz:
                gz.write(_record_bytes(url, content, http_wrap=http_wrap))
            buf.write(member.getvalue())
        # absolute import: this closure is pickled by value into
        # executor tasks, where relative imports have no package context
        from knime_core_columnar_spark.sources import fsio

        fsio.write_shard_bytes(out_dir, f"part-{fid:05d}.warc.gz",
                               buf.getvalue())
        return pd.DataFrame({"file": [fid], "n_records": [len(recs)]})

    cols = list(dict.fromkeys([url_col, content_col, key_col]))
    with executor_visible(out_dir) as check_marker:
        (
            df.select(*cols)
            .withColumn("__file", warc_file_of(key_col, n_files))
            .groupBy("__file")
            .applyInPandas(_write_file, "file int, n_records long")
            .collect()
        )


def _split_gzip_members(raw: bytes):
    """Yield decompressed gzip members from a multi-member stream.
    An unterminated final member (truncated download / partial write)
    raises instead of silently yielding a short blob."""
    pos = 0
    while pos < len(raw):
        d = zlib.decompressobj(31)
        out = d.decompress(raw[pos:])
        if not d.eof:
            raise ValueError(
                f"truncated gzip member at byte {pos}: stream ended "
                "mid-member (incomplete .warc.gz file?)"
            )
        yield out
        consumed = len(raw) - pos - len(d.unused_data)
        if consumed <= 0:
            break
        pos += consumed


def _parse_records(data: bytes):
    """Parse concatenated WARC records from one decompressed blob
    (Content-Length framing per ISO 28500)."""
    pos = 0
    while True:
        end = data.find(b"\r\n\r\n", pos)
        if end < 0:
            break
        headers = {}
        lines = data[pos:end].decode("utf-8", "replace").split("\r\n")
        if not lines or not lines[0].startswith("WARC/"):
            break
        for line in lines[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        n = int(headers.get("content-length", "0"))
        if end + 4 + n > len(data):
            raise ValueError(
                f"truncated WARC record at byte {pos}: Content-Length "
                f"{n} but only {len(data) - end - 4} body bytes remain "
                "(incomplete .warc file?)"
            )
        body = data[end + 4:end + 4 + n]
        yield headers, body
        pos = end + 4 + n + 4  # skip the record-terminating \r\n\r\n


def _split_http_block(headers: dict, body: bytes):
    """If a record's WARC Content-Type declares a nested HTTP message
    (the real Common Crawl ``response`` shape), split it at the first
    CRLFCRLF: returns (http_status, http_content_type, payload).
    Non-HTTP records pass the body through with null HTTP fields."""
    ctype = headers.get("content-type", "")
    if not ctype.lower().startswith("application/http"):
        return None, None, body
    sep = body.find(b"\r\n\r\n")
    if sep < 0:
        # headers-only HTTP message (e.g. 204/304) — no payload block
        head, payload = body, b""
    else:
        head, payload = body[:sep], body[sep + 4:]
    lines = head.decode("iso-8859-1", "replace").split("\r\n")
    status = None
    if lines and lines[0].startswith("HTTP/"):
        parts = lines[0].split(None, 2)
        if len(parts) >= 2 and parts[1].isdigit():
            status = int(parts[1])
    http_ctype = None
    for line in lines[1:]:
        k, _, v = line.partition(":")
        if k.strip().lower() == "content-type":
            http_ctype = v.strip()
            break
    return status, http_ctype, payload


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Read a directory of .warc.gz (or plain .warc) files as
    (file, url, warc_type, record_id, content, http_status,
    http_content_type, payload) rows — binaryFile scan, stdlib decode
    executor-side. ``content`` is the raw WARC body; for records whose
    WARC Content-Type is ``application/http`` (real Common Crawl
    ``response`` records) the nested HTTP message is split so
    ``payload`` is the usable document bytes and ``http_status`` /
    ``http_content_type`` come from the HTTP header block; otherwise
    ``payload`` == ``content`` and the HTTP fields are null."""
    files = spark.read.format("binaryFile").load(path).select(
        "path", "content"
    )

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fs, us, ts, ids, cs = [], [], [], [], []
            sts, hcs, ps = [], [], []
            for _, row in pdf.iterrows():
                raw = bytes(row["content"])
                name = os.path.basename(row["path"])
                if name.endswith(".gz"):
                    blobs = _split_gzip_members(raw)
                else:
                    blobs = [raw]
                for blob in blobs:
                    for headers, body in _parse_records(blob):
                        status, http_ctype, payload = _split_http_block(
                            headers, body
                        )
                        fs.append(name)
                        us.append(headers.get("warc-target-uri"))
                        ts.append(headers.get("warc-type"))
                        ids.append(headers.get("warc-record-id"))
                        cs.append(body)
                        sts.append(status)
                        hcs.append(http_ctype)
                        ps.append(payload)
            yield pd.DataFrame({
                "file": fs, "url": us, "warc_type": ts,
                "record_id": ids, "content": cs,
                "http_status": pd.array(sts, dtype="Int32"),
                "http_content_type": hcs, "payload": ps,
            })

    return files.mapInPandas(
        _decode,
        "file string, url string, warc_type string, record_id string, "
        "content binary, http_status int, http_content_type string, "
        "payload binary",
    )
