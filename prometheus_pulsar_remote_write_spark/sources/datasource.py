"""Custom PySpark DataSources for the wire edges (SURVEY.md §2.A A1/A2).

The reference's edges are an HTTP remote-write receiver (A1,
pkg/app/produce.go:124-153) and a Pulsar producer with per-message keys
and a commit-time Flush (A2, pkg/pulsar/pulsar.go:226-263). Spark 4's
Python DataSource API lets both be REAL sources/sinks -- usable with
``spark.read.format(...)`` / ``writeStream.format(...)`` -- rather than
file-source workarounds:

  - ``RemoteWriteBlobSource`` (format name ``remote_write_blobs``): scans
    a directory tree of snappy(proto(WriteRequest)) request bodies (one
    file per HTTP POST, as a receiver would spool them). Batch reads
    plan one InputPartition per file chunk; the streaming reader tracks a
    (mtime, name) high-watermark offset so newly-spooled bodies form the
    next micro-batch, with readBetweenOffsets replay for recovery.
    The tenant rides as the parent directory name (the spool layout a
    multi-tenant receiver produces; B4's auth-header coalesce applies
    upstream of the spool).

  - ``MessageBusSink`` (format name ``message_bus``): a producer sink for
    (key, payload, tenant_id) wire messages. Each task writes a
    part-JSONL file (uncommitted), and ONLY the driver-side commit
    renames the epoch's parts into place -- exactly the reference's
    SendAsync-then-Flush contract (messages for a failed epoch are never
    visible). abort() removes the staged parts.

Executors (not the driver) do all payload IO; the driver only lists
file names and renames on commit, so neither edge bottlenecks on a
single node at scale.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
)

from ..schema import WIRE_MESSAGE_SCHEMA
from .http_listener import TENANT_DIR_NONE

BLOB_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("tenant_dir", StringType(), True),
        StructField("content", BinaryType(), True),
    ]
)


def _list_blobs(root: str) -> list[tuple[int, str]]:
    """(mtime_ns, path) for every regular file under root, sorted.

    The sort key (mtime, name) is the streaming offset ordering: strictly
    monotone for a spool that only adds files.
    """
    out = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(dirpath, f)
            try:
                out.append((os.stat(p).st_mtime_ns, p))
            except FileNotFoundError:
                continue  # raced with a writer; next batch picks it up
    out.sort()
    return out


def _tenant_of(path: str, root: str) -> str | None:
    """The blob's tenant directory; None for a tenant-less blob (spooled
    under ``TENANT_DIR_NONE``, or at the spool root)."""
    rel = os.path.relpath(os.path.dirname(path), root)
    tenant = None if rel == "." else rel.split(os.sep)[0]
    return None if tenant == TENANT_DIR_NONE else tenant


@dataclass
class _BlobChunk(InputPartition):
    paths: list  # [(path, tenant_dir)]


class _BlobBatchReader(DataSourceReader):
    def __init__(self, root: str, num_partitions: int):
        self.root = root
        self.num_partitions = num_partitions

    def partitions(self):
        files = [(p, _tenant_of(p, self.root)) for _, p in _list_blobs(self.root)]
        n = max(1, min(self.num_partitions, len(files)))
        chunks = [files[i::n] for i in range(n)]
        return [_BlobChunk(c) for c in chunks if c]

    def read(self, partition: _BlobChunk):
        for path, tenant in partition.paths:
            with open(path, "rb") as fh:
                yield (path, tenant, fh.read())


class _BlobStreamReader(SimpleDataSourceStreamReader):
    """Offset = {"mtime_ns": int, "path": str} high-watermark (exclusive)."""

    def __init__(self, root: str):
        self.root = root

    def initialOffset(self) -> dict:
        return {"mtime_ns": -1, "path": ""}

    def _newer(self, start: dict) -> list[tuple[int, str]]:
        key = (start["mtime_ns"], start["path"])
        return [(m, p) for m, p in _list_blobs(self.root) if (m, p) > key]

    def read(self, start: dict):
        new = self._newer(start)
        if not new:
            return iter([]), start
        end = {"mtime_ns": new[-1][0], "path": new[-1][1]}
        return iter(self._rows(new)), end

    def readBetweenOffsets(self, start: dict, end: dict):
        skey, ekey = (start["mtime_ns"], start["path"]), (end["mtime_ns"], end["path"])
        return iter(
            self._rows([(m, p) for m, p in _list_blobs(self.root) if skey < (m, p) <= ekey])
        )

    def _rows(self, files) -> list:
        # a LIST, not a generator: the engine's prefetch cache copy.copy()s
        # the iterator, which generators don't support
        rows = []
        for _m, path in files:
            with open(path, "rb") as fh:
                rows.append((path, _tenant_of(path, self.root), fh.read()))
        return rows


class RemoteWriteBlobSource(DataSource):
    """A1: spooled remote-write request bodies as a batch/streaming source.

    Options: ``path`` (spool root, required), ``numPartitions`` (batch
    read parallelism, default 8).
    """

    @classmethod
    def name(cls):
        return "remote_write_blobs"

    def schema(self):
        return BLOB_SCHEMA

    def _root(self) -> str:
        root = self.options.get("path")
        if not root:
            raise ValueError("remote_write_blobs requires option 'path'")
        return root

    def reader(self, schema):
        return _BlobBatchReader(self._root(), int(self.options.get("numPartitions", 8)))

    def simpleStreamReader(self, schema):
        return _BlobStreamReader(self._root())


@dataclass
class _PartFile(WriterCommitMessage):
    staged: str
    final: str
    n_rows: int


class _MessageBusWriter(DataSourceWriter, DataSourceStreamWriter):
    """Tasks stage part files; commit renames them visible (Flush), abort
    deletes them. At-least-once across epochs, atomic within one."""

    def __init__(self, out_dir: str, epoch_prefix: str = ""):
        self.out_dir = out_dir
        self.epoch_prefix = epoch_prefix

    def write(self, iterator):
        os.makedirs(self.out_dir, exist_ok=True)
        name = f"{self.epoch_prefix}part-{uuid.uuid4().hex}.jsonl"
        staged = os.path.join(self.out_dir, f"_staged-{name}")
        n = 0
        with open(staged, "w") as fh:
            for row in iterator:
                fh.write(
                    json.dumps(
                        {"key": row.key, "payload": row.payload, "tenant_id": row.tenant_id}
                    )
                    + "\n"
                )
                n += 1
        return _PartFile(staged=staged, final=os.path.join(self.out_dir, name), n_rows=n)

    def _commit_parts(self, messages):
        for m in messages:
            if m is not None:
                os.rename(m.staged, m.final)

    def _abort_parts(self, messages):
        for m in messages:
            if m is not None and os.path.exists(m.staged):
                os.remove(m.staged)

    # batch API
    def commit(self, messages, batchId: int | None = None):
        self._commit_parts(messages)

    def abort(self, messages, batchId: int | None = None):
        self._abort_parts(messages)


class MessageBusSink(DataSource):
    """A2: wire-message producer sink (batch ``df.write`` and
    ``writeStream.format('message_bus')``).

    Options: ``path`` (output dir, required).
    """

    @classmethod
    def name(cls):
        return "message_bus"

    def schema(self):
        return WIRE_MESSAGE_SCHEMA

    def writer(self, schema, overwrite: bool):
        return _MessageBusWriter(self.options["path"])

    def streamWriter(self, schema, overwrite: bool):
        return _MessageBusWriter(self.options["path"], epoch_prefix="epoch-")


def register(spark) -> None:
    """Register both custom data sources on a session."""
    spark.dataSource.register(RemoteWriteBlobSource)
    spark.dataSource.register(MessageBusSink)
