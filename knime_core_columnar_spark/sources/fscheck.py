"""Executor-visibility check for the executor-local container writers.

``write_warc`` / ``write_webdataset`` / ``write_arrow_ipc`` /
``write_avro`` build each shard in ONE task and emit it into
``out_dir`` from that task (plain ``open()``/``os.replace`` on mount
paths, the :mod:`.fsio` pyarrow.fs adapter on URIs). That is the
correct distributed shape (no driver collect, shards stream in
parallel from every executor) — but it assumes ``out_dir`` is the SAME
filesystem on every executor. In local mode that is trivially true; on
a 1000-executor cluster it is only true for a shared mount
(NFS/Lustre/FUSE-mounted object store) or a URI every worker can
reach. Without one, each executor writes into its own container-local
disk and the "export" is scattered, partial, and unreadable — data
loss no downstream count catches.

:func:`executor_visible` turns that assumption into a runtime check
that rides inside the write job itself:

1. on the driver it creates ``out_dir`` through :mod:`.fsio` — schemes
   pyarrow cannot reach raise ``ValueError`` here, before any job — and
   writes one uuid marker file into it;
2. every shard-writing task calls the yielded check before it opens a
   sink: it re-reads the marker through :func:`.fsio.read_shard_bytes`
   (plain ``open()`` for mount paths, the same pyarrow.fs adapter the
   shards use for URIs, which also exercises worker-side credentials
   and reachability). A missing or different marker raises
   :class:`OutDirNotVisible` with the executor's exception text;
3. the driver turns that task failure into a ``RuntimeError`` naming
   ``out_dir`` and removes the marker in every case.

The check runs on exactly the executors that write, so a cluster where
only SOME hosts lack the mount fails whenever a write task lands on one
of them; a retried task that lands on a host that sees the marker
writes a visible shard, which is correct output. Shards already
written by tasks that passed the check may remain after a failure, as
after any other failed write task. The check costs one small file read
per shard and no extra Spark job.

No counterpart in the reference: KNIME's writers are single-JVM
(`BatchStore` on a local path) — the shared-FS question only exists
because this engine distributes the write.
"""

from __future__ import annotations

import functools
import re
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from . import fsio

MARKER_PREFIX = ".__fsprobe-"


class OutDirNotVisible(Exception):
    """A write task could not read the driver's marker in ``out_dir``."""


def check_marker(out_dir: str, fname: str, token: str) -> None:
    """Executor side: raise :class:`OutDirNotVisible` unless ``fname``
    in ``out_dir`` holds the driver's ``token``."""
    try:
        seen = fsio.read_shard_bytes(out_dir, fname)
    except (OSError, ValueError) as exc:  # unreadable / unreachable
        raise OutDirNotVisible(f"{type(exc).__name__}: {exc}") from None
    if seen != token.encode("ascii"):
        raise OutDirNotVisible(
            f"marker {fname} does not hold the driver's token"
        )


def _not_visible(out_dir: str, executor_error: str) -> RuntimeError:
    if fsio.is_uri(out_dir):
        return RuntimeError(
            f"out_dir {out_dir!r} is not reachable from the executors: a "
            "write task could not re-read the driver's marker through "
            f"pyarrow.fs (first executor error: {executor_error}). Check "
            "that the workers can resolve the scheme (libhdfs for "
            "hdfs://) and hold credentials for the bucket; or export via "
            "Spark's distributed parquet/orc writers and convert."
        )
    return RuntimeError(
        f"out_dir {out_dir!r} is not visible from the executors: a write "
        f"task could not read the driver's marker file ({executor_error}). "
        "The container writers require a shared filesystem "
        "(NFS/Lustre/FUSE object-store mount) on every executor; without "
        "one each executor would write shards to its own local disk — "
        "scattered, partial output. Mount a shared path, write to an "
        "object-store URI (s3://, gs://, abfs://) served by the pyarrow.fs "
        "tier, or export via Spark's distributed parquet/orc writers and "
        "convert."
    )


@contextmanager
def executor_visible(out_dir: str) -> Iterator[Callable[[], None]]:
    """Create ``out_dir``, write the marker, and yield the zero-argument
    check every shard-writing task must call before opening a sink. A
    task failure raised by that check leaves the block as a
    ``RuntimeError``; the marker is removed either way. See the module
    docstring for semantics."""
    fsio.make_out_dir(out_dir)
    token = uuid.uuid4().hex
    fname = f"{MARKER_PREFIX}{token}"
    fsio.write_shard_bytes(out_dir, fname, token.encode("ascii"))
    try:
        yield functools.partial(check_marker, out_dir, fname, token)
    except Exception as exc:
        # the task's exception reaches the driver as text inside Spark's
        # PythonException / Py4JJavaError, not as the original class
        found = re.search(rf"{OutDirNotVisible.__name__}: (.*)", str(exc))
        if found is None:
            raise
        raise _not_visible(out_dir, found.group(1).strip()) from exc
    finally:
        fsio.delete_shard(out_dir, fname)
