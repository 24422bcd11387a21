"""The produce pipeline (reference pkg/app/produce.go:106-185) as a
Structured Streaming job.

Reference flow: HTTP POST /write -> snappy -> protobuf -> flatten ->
tenant -> serialize -> partition key -> async Pulsar publish -> Flush.

Spark shape:
    readStream(binaryFile drop-dir)        # A1: the HTTP edge lands bodies
      -> tenant_from_path                  # B4 (spool layout <tenant>/<body>)
      -> produce_transform                 # ONE mapInPandas per body batch:
                                           #   snappy+proto decode, B1
                                           #   flatten, C1-C3 serialize,
                                           #   B7/B8 partition key
      -> writeStream.foreachBatch(publisher)  # A2; batch commit == Flush

One Python pass per trigger: a Python task has a fixed start-up cost
that dwarfs a small body's per-sample work, so decode, flatten, key and
serialize share one ``mapInPandas`` node instead of a decode node plus
an ``ArrowEvalPython`` node for the key and payload UDFs. The column
stages (``decode_remote_write`` -> ``flatten_write_requests`` ->
``partition_key_col`` + ``serialize_col``) remain the building blocks of
``flat_sample_stream`` (the lake sink) and produce byte-identical
messages.

Delivery: foreachBatch + checkpointing give at-least-once, the same
contract the reference offers (ack-after-send). A failed publish raises,
the micro-batch is not committed, and Spark replays it -- which is also
the backpressure story (D5): a stalled sink halts intake.

At scale the drop-dir is any landing zone (object store, Kafka of blobs);
maxFilesPerTrigger bounds per-batch work, and the whole produce path is
narrow until the optional repartition on the partition key.
"""

from __future__ import annotations

import os
import uuid
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.fnv import sample_partition_key
from ..functions.serializers import resolve_marshaler
from ..operators.flatten import flatten_write_requests
from ..schema import DEFAULT_REPLICA_LABELS, WIRE_MESSAGE_SCHEMA
from ..sources import prompb, snappy_codec
from ..sources.http_listener import TENANT_DIR_NONE
from ..sources.remote_write import decode_remote_write


def read_request_stream(
    spark: SparkSession, drop_dir: str, max_files_per_trigger: int = 64
) -> DataFrame:
    """A1 source: stream of raw remote-write bodies from a drop directory.

    Spark's file source remembers every file it has read instead of
    keeping an mtime high-watermark, so a body the listener renames in
    after a newer one was already read (rename keeps the write-time
    mtime) is still read by a later trigger."""
    return (
        spark.readStream.format("binaryFile")
        # binaryFile's fixed schema; streaming sources require it explicitly
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("pathGlobFilter", "*.bin")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(drop_dir)
    )


def tenant_from_path(path_col):
    """Tenant = parent directory name of the body file (HTTP-edge stand-in
    for BasicAuth/X-Scope-OrgID; B4)."""
    parent = F.element_at(F.split(path_col, "/"), -2)
    return F.when(parent == TENANT_DIR_NONE, F.lit("")).otherwise(parent)


def flat_sample_stream(bodies: DataFrame) -> DataFrame:
    """Body blobs -> flattened (timestamp, value, labels, tenant_id) rows.

    The front half of the produce path (A1 decode -> B4 tenant -> B1
    flatten) as column stages, before any serialization: the lake sink
    consumes this (``produce_transform`` fuses the same steps with the
    key and payload into one Python pass). Pure transformation -- works
    on batch or streaming DataFrames alike. The tenant derives from the
    file path."""
    bodies = bodies.withColumn("tenant_id", tenant_from_path(F.col("path")))
    decoded = decode_remote_write(
        bodies,
        body_col="content",
        keep_cols=["tenant_id"],
    )
    good = decoded.filter(F.col("decode_error").isNull())
    return flatten_write_requests(good, ["tenant_id"])


def produce_transform(
    bodies: DataFrame,
    serializer_format: str = "json",
    replica_labels: list[str] | None = None,
) -> DataFrame:
    """Body blobs -> (key, payload, tenant_id) wire messages, in ONE
    Python pass.

    Per body: snappy decompress, proto decode, flatten (a repeated label
    name keeps its last value, as the reference's label map does), then
    per sample the partition key (``sample_partition_key``) and the
    payload (``resolve_marshaler(serializer_format)``). An undecodable
    body yields no messages. Tenant as in ``flat_sample_stream``."""
    bodies = bodies.withColumn("tenant_id", tenant_from_path(F.col("path")))
    marshal = resolve_marshaler(serializer_format)
    replica = tuple(
        replica_labels if replica_labels is not None else DEFAULT_REPLICA_LABELS
    )

    def _produce(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, payloads, tenants = [], [], []
            for body, tenant_id in zip(pdf["content"], pdf["tenant_id"]):
                try:
                    req = prompb.decode_write_request(
                        snappy_codec.decompress(bytes(body))
                    )
                except Exception:  # poison: the listener's 400 path
                    continue
                tenant = tenant_id if tenant_id is not None else ""
                for ts in req["timeseries"]:
                    labels = {l["name"]: l["value"] for l in ts["labels"]}
                    key = sample_partition_key(labels, tenant, replica)
                    for s in ts["samples"]:
                        keys.append(key)
                        payloads.append(
                            marshal(s["timestamp"], s["value"], labels, tenant)
                        )
                        tenants.append(tenant_id)
            if keys:
                yield pd.DataFrame(
                    {"key": keys, "payload": payloads, "tenant_id": tenants}
                )

    return bodies.select("content", "tenant_id").mapInPandas(
        _produce, WIRE_MESSAGE_SCHEMA
    )


class FilePublisher:
    """A2 stand-in: publishes each micro-batch as (key, payload,
    tenant_id) JSONL part files under ``<out_dir>/epoch=<id>/`` (a Pulsar
    producer plugs in here; the per-batch commit is the reference's
    Flush). No tenant partitioning: consumers take the tenant from the
    payload, so per-tenant directories would only multiply the files."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("append").json(
            os.path.join(self.out_dir, f"epoch={epoch_id}")
        )


#: per-worker broker producer cache (A5 connection reuse, one client per
#: executor python worker -- the same idiom as consume.worker_client)
_WORKER_PRODUCERS: dict = {}


def worker_producer(factory, cache_key: str):
    """Get-or-create the worker-local producer for ``cache_key`` (A5:
    the reference keeps ONE shared producer per process,
    CHANGELOG.md:20-21 -- repeated partitions/micro-batches on the same
    python worker reuse the same client/connection pool)."""
    producer = _WORKER_PRODUCERS.get(cache_key)
    if producer is None:
        producer = factory()
        _WORKER_PRODUCERS[cache_key] = producer
    return producer


class BrokerPublisher:
    """A2 on a REAL message broker: the adapter seam where a broker client
    (e.g. an Apache Pulsar producer) drops into the produce pipeline in
    place of the file-backed ``FilePublisher``.

    ``client_factory()`` runs ON THE EXECUTORS, once per python worker
    (cached under ``cache_key``, reused across partitions and
    micro-batches -- the reference keeps one shared producer per process,
    CHANGELOG.md:20-21). It must return an object with
    ``send(key: str, payload: bytes)`` and optionally ``flush()``; a thin
    closure adapts any client library::

        def factory():
            import pulsar  # the broker SDK, on the executors' image
            client = pulsar.Client("pulsar://broker:6650")
            producer = client.create_producer("persistent://tenant/ns/metrics")
            class _P:
                def send(self, key, payload):
                    producer.send_async(payload, None, partition_key=key)
                def flush(self):
                    producer.flush()
            return _P()

        run_produce_pipeline(..., publisher=BrokerPublisher(factory, "metrics"))

    Delivery semantics match the reference: ``flush()`` per partition at
    micro-batch end is the reference's Flush-before-ack (a send error
    raises => the micro-batch fails => checkpoint does not advance =>
    replay, the same at-least-once contract as the HTTP sink)."""

    def __init__(self, client_factory, cache_key: str = "default", flush: bool = True):
        self.client_factory = client_factory
        self.cache_key = cache_key
        self.flush = flush

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        factory, key, do_flush = self.client_factory, self.cache_key, self.flush

        def _send_partition(rows) -> None:
            producer = worker_producer(factory, key)
            n = 0
            for row in rows:
                payload = row.payload
                if isinstance(payload, str):
                    payload = payload.encode("utf-8")
                producer.send(row.key, payload)
                n += 1
            if n and do_flush and hasattr(producer, "flush"):
                producer.flush()

        batch_df.foreachPartition(_send_partition)


def run_produce_pipeline(
    spark: SparkSession,
    drop_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    serializer_format: str = "json",
    publisher=None,
    trigger_once: bool = True,
    replica_labels: list[str] | None = None,
):
    """Wire the full produce stream and start it. Returns the query."""
    checkpoint_dir = checkpoint_dir or os.path.join(
        out_dir, f"_checkpoint-{uuid.uuid4().hex[:8]}"
    )
    messages = produce_transform(
        read_request_stream(spark, drop_dir), serializer_format, replica_labels
    )
    publisher = publisher or FilePublisher(out_dir)
    writer = (
        messages.writeStream.foreachBatch(publisher)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="1 second")
    return writer.start()

