"""Filesystem layer for the executor-local container writers
(``write_warc`` / ``write_webdataset`` / ``write_avro`` /
``write_arrow_ipc``).

Two tiers, selected per destination:

- **Plain path** (``/mnt/export/...``): executor-side ``open()`` +
  ``os.replace`` (atomic rename). Requires a shared mount on a
  multi-node cluster, checked by every write task re-reading the
  driver's :mod:`.fscheck` marker before it opens a sink.
- **URI path** (``file://``, ``s3://``, ``gs://``, ``abfs[s]://``,
  ``hdfs://``): routed through :mod:`pyarrow.fs` —
  ``FileSystem.from_uri`` dispatches to the Arrow-native S3/GCS/Azure
  clients bundled with the pyarrow wheel (HDFS additionally needs
  libhdfs on the workers). Each shard is still built and emitted by
  exactly ONE executor task — bytes never route through the driver, so
  export bandwidth scales with the executor count. Unreachable schemes
  raise on the driver in :func:`make_out_dir`; the write tasks read the
  :mod:`.fscheck` marker through this same adapter, so missing
  worker-side credentials fail the write before a task opens a sink.

Atomicity: POSIX-reachable filesystems (local, file://, hdfs://) get
write-to-temp + rename so concurrent readers never observe a partial
shard. Object stores (s3/gs/abfs) get a single output stream whose
close() completes the multipart upload — the PUT itself is atomic, and
a rename there would be a full copy.

Reference analogue: the materializer writes through its store
abstraction rather than raw paths
(ColumnarVirtualTableMaterializer.java:86-150); ``pyarrow.fs`` plays
the role of that store indirection here.
"""

from __future__ import annotations

import os

#: schemes where rename is a metadata operation (temp+move is cheap and
#: buys atomicity); object stores rename by copying, so they skip it
_POSIX_FS_TYPES = {"local", "hdfs", "mock", "subtree"}


def is_uri(path: str) -> bool:
    return "://" in path


def resolve_fs(path: str):
    """Resolve a URI destination to ``(pyarrow FileSystem, root path)``.
    Raises ValueError with routing guidance for schemes pyarrow cannot
    reach (unknown scheme, missing native lib such as libhdfs)."""
    from pyarrow import fs as pafs

    try:
        return pafs.FileSystem.from_uri(path)
    except Exception as exc:  # pyarrow raises ArrowInvalid/OSError
        raise ValueError(
            f"container writers cannot reach {path!r} via pyarrow.fs "
            f"({exc}). Supported: plain shared-mount paths, file://, "
            "and the Arrow-native object stores (s3://, gs://, "
            "abfs[s]://; hdfs:// where libhdfs is installed). For "
            "anything else export via Spark's own distributed writers "
            "(parquet/orc) and convert."
        ) from exc


def make_out_dir(out_dir: str) -> None:
    """mkdir -p on either tier (no-op keys on object stores)."""
    if is_uri(out_dir):
        fs, root = resolve_fs(out_dir)
        fs.create_dir(root, recursive=True)
    else:
        os.makedirs(out_dir, exist_ok=True)


def write_shard_bytes(out_dir: str, fname: str, data: bytes) -> str:
    """Emit one finished shard atomically from the calling (executor)
    task. Returns the path/URI written. Plain paths keep the original
    open()+os.replace; URIs go through pyarrow.fs (temp+move on
    POSIX-like filesystems, direct streamed PUT on object stores)."""
    if not is_uri(out_dir):
        path = os.path.join(out_dir, fname)
        tmp = f"{path}.part{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)
        return path
    fs, root = resolve_fs(out_dir)
    path = f"{root.rstrip('/')}/{fname}"
    if fs.type_name in _POSIX_FS_TYPES:
        tmp = f"{path}.part{os.getpid()}"
        with fs.open_output_stream(tmp) as out:
            out.write(data)
        fs.move(tmp, path)
    else:
        with fs.open_output_stream(path) as out:
            out.write(data)
    return f"{out_dir.rstrip('/')}/{fname}"


def read_shard_bytes(out_dir: str, fname: str) -> bytes:
    """Read one shard back through the same adapter (marker check + tests)."""
    if not is_uri(out_dir):
        with open(os.path.join(out_dir, fname), "rb") as f:
            return f.read()
    fs, root = resolve_fs(out_dir)
    with fs.open_input_stream(f"{root.rstrip('/')}/{fname}") as f:
        return f.read()


def delete_shard(out_dir: str, fname: str) -> None:
    if not is_uri(out_dir):
        try:
            os.remove(os.path.join(out_dir, fname))
        except OSError:
            pass
        return
    fs, root = resolve_fs(out_dir)
    try:
        fs.delete_file(f"{root.rstrip('/')}/{fname}")
    except (OSError, FileNotFoundError):
        pass
