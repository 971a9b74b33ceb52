"""WebDataset-style sharded tar export/import — the delivery format of
large-scale multimodal training pipelines (Beaumont et al.'s
img2dataset / the WebDataset loader convention): samples live as files
inside numbered ``shard-NNNNN.tar`` archives, one tar member per
(sample, field), named ``{key}.{field}``; a dataloader streams shards
sequentially, so shard assignment IS the sampling order contract.

Spark-first design:
- shard assignment is a DETERMINISTIC hash of the sample key (the
  md5-prefix convention used by every sampler in this repo), so the
  layout is partitioning-independent and SQL-replayable — the catalog
  oracle can predict every shard's membership;
- each shard is written by exactly ONE task (``applyInPandas`` over the
  shard group — shards are the unit of parallelism, the same shape a
  1000-executor cluster wants: n_shards tasks, no driver involvement,
  no shuffle beyond the one groupBy);
- tar bytes are REPRODUCIBLE: fixed epoch mtime, uid/gid 0, members
  sorted by name — re-exporting an unchanged corpus yields
  byte-identical shards (content-addressable caching works).

The pure-python ``tarfile`` module does the container work (stdlib —
no environment gate), exactly like the Avro/LZ4 codecs elsewhere in
sources/.

Write-side filesystem contract: writer tasks emit shards into
``out_dir`` themselves (``open()``/``os.replace`` on plain paths, the
:mod:`.fsio` pyarrow.fs tier on URIs) — correct in local mode, on a
SHARED filesystem mounted on every executor (NFS/Lustre/FUSE-mounted
object store), or on a URI every worker can reach. This contract is
ENFORCED: every write task re-reads the driver's :mod:`.fscheck` marker
before it builds its shard and the export raises when it cannot,
instead of scattering partial shards. Each shard is built in memory by
one task — size ``n_shards`` so a shard stays ~1 GiB
(``max_shard_bytes`` turns the overflow into a clear error instead of
an executor OOM).
"""

from __future__ import annotations

import hashlib
import io
import os
import tarfile
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["shard_of", "write_webdataset", "read_webdataset"]


def shard_of(key_col, n_shards: int):
    """Deterministic shard id: md5-prefix of the stringified key, mod
    ``n_shards`` — the repo-wide keyed-hash convention (exactly
    replayable in DuckDB as ('0x' || substring(md5(k), 1, 15)) %%
    n_shards)."""
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % n_shards
    ).cast("int")


def write_webdataset(
    df: DataFrame,
    out_dir: str,
    key_col: str = "doc_id",
    n_shards: int = 8,
    text_cols: list[str] | None = None,
    binary_cols: list[str] | None = None,
    max_shard_bytes: int = 2 << 30,
) -> None:
    """Export ``df`` as ``out_dir/shard-NNNNN.tar``: for each row, one
    tar member per exported column, named ``{key}.{col}`` (text columns
    utf-8 encoded, binary columns raw). Members are sorted by name and
    carry zeroed metadata, so shard bytes are a pure function of the
    shard's content. ``out_dir`` must be visible from every executor,
    which each write task checks (see module docstring); a shard whose
    member bytes exceed ``max_shard_bytes`` raises with sizing guidance
    instead of OOM-ing the executor."""
    from .fscheck import executor_visible

    text_cols = text_cols if text_cols is not None else ["text"]
    binary_cols = binary_cols or []
    cols = [key_col, *text_cols, *binary_cols]

    def _write_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        check_marker()
        shard = int(pdf["__shard"].iloc[0])
        members = []
        total = 0
        for _, row in pdf.iterrows():
            key = str(row[key_col])
            for c in text_cols:
                v = row[c]
                members.append((f"{key}.{c}", ("" if v is None else str(v)).encode("utf-8")))
            for c in binary_cols:
                v = row[c]
                members.append((f"{key}.{c}", bytes(v) if v is not None else b""))
            total += sum(len(m[1]) for m in members[-len(text_cols) - len(binary_cols):])
            if total > max_shard_bytes:
                raise ValueError(
                    f"write_webdataset: shard {shard} exceeds "
                    f"max_shard_bytes={max_shard_bytes} ({total} bytes so "
                    f"far, {len(members)} members). Each shard is built in "
                    f"memory by one task — raise n_shards (aim ~1 GiB/"
                    f"shard: n_shards ≈ total_bytes / 1 GiB) or "
                    f"max_shard_bytes."
                )
        members.sort(key=lambda m: m[0])
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tf:
            for name, data in members:
                info = tarfile.TarInfo(name=name)
                info.size = len(data)
                info.mtime = 0
                info.uid = info.gid = 0
                info.uname = info.gname = ""
                tf.addfile(info, io.BytesIO(data))
        from knime_core_columnar_spark.sources import fsio

        fsio.write_shard_bytes(out_dir, f"shard-{shard:05d}.tar",
                               buf.getvalue())
        return pd.DataFrame(
            {"shard": [shard], "n_samples": [len(pdf)],
             "n_bytes": [len(buf.getvalue())]}
        )

    with executor_visible(out_dir) as check_marker:
        (
            df.select(*cols)
            .withColumn("__shard", shard_of(key_col, n_shards))
            .groupBy("__shard")
            .applyInPandas(_write_shard, "shard int, n_samples long, n_bytes long")
            .collect()  # shard-count rows only — the write is the effect
        )


def read_webdataset(
    spark: SparkSession, path: str
) -> DataFrame:
    """Read a webdataset directory back as (shard, key, field, content)
    rows: binaryFile scan of the tars (splittable ACROSS shards — each
    tar is one row of the scan, decoded executor-side with the stdlib
    tarfile), so a 10k-shard dataset reads with 10k-way parallelism and
    zero driver involvement."""
    files = spark.read.format("binaryFile").load(
        os.path.join(path, "shard-*.tar")
    ).select("path", "content")

    def _untar(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            shards, keys, fields, contents = [], [], [], []
            for _, row in pdf.iterrows():
                shard = int(os.path.basename(row["path"]).split("-")[1].split(".")[0])
                with tarfile.open(fileobj=io.BytesIO(bytes(row["content"]))) as tf:
                    for m in tf.getmembers():
                        key, _, field = m.name.rpartition(".")
                        shards.append(shard)
                        keys.append(key)
                        fields.append(field)
                        contents.append(tf.extractfile(m).read())
            yield pd.DataFrame(
                {"shard": shards, "key": keys, "field": fields,
                 "content": contents}
            )

    return files.mapInPandas(
        _untar, "shard int, key string, field string, content binary"
    )
