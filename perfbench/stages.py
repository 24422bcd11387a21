"""Stage isolation: the pipelines' public stage functions timed as batch
jobs on a finished run's own spool and bus files.

Each stage is timed as the difference between two cumulative plans, so
the read and the earlier stages cancel out: ``decode`` is (read + decode)
minus (read). Every plan is forced with the ``noop`` sink, which
evaluates all columns, including Python UDFs, without writing. One
warm-up execution precedes each timed one.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from prometheus_pulsar_remote_write_spark.functions.fnv import partition_key_col
from prometheus_pulsar_remote_write_spark.functions.serializers import serialize_col
from prometheus_pulsar_remote_write_spark.operators.flatten import (
    flatten_write_requests,
)
from prometheus_pulsar_remote_write_spark.sources.remote_write import (
    decode_remote_write,
)
from prometheus_pulsar_remote_write_spark.streaming.batcher import microbatch_batches
from prometheus_pulsar_remote_write_spark.streaming.consume import (
    build_write_request_bodies,
    parse_samples,
)
from prometheus_pulsar_remote_write_spark.streaming.produce import tenant_from_path


def _timed(run) -> float:
    run()  # warm-up: planning, code generation, Python worker start-up
    t0 = time.perf_counter()
    run()
    return time.perf_counter() - t0


def _noop(df):
    return lambda: df.write.format("noop").mode("overwrite").save()


def _produce_stages(spark, drop_dir: str) -> dict:
    bodies = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .option("recursiveFileLookup", "true")
        .load(drop_dir)
        .withColumn("tenant_id", tenant_from_path(F.col("path")))
    )
    decoded = decode_remote_write(bodies, keep_cols=["tenant_id"]).filter(
        F.col("decode_error").isNull()
    )
    flat = flatten_write_requests(decoded, ["tenant_id"])
    keyed = flat.select(
        "*", partition_key_col(F.col("labels"), F.col("tenant_id")).alias("key")
    )
    serialized = keyed.select(
        "key", serialize_col("json").alias("payload"), "tenant_id"
    )
    n = flat.count()
    t = [
        _timed(_noop(df))
        for df in (bodies.select("content", "tenant_id"), decoded, flat, keyed, serialized)
    ]
    return {
        "samples": n,
        "decode_s": t[1] - t[0],
        "flatten_s": t[2] - t[1],
        "key_s": t[3] - t[2],
        "serialize_s": t[4] - t[3],
    }


def _consume_stages(spark, bus_dir: str, batch_size: int) -> dict:
    messages = (
        spark.read.schema("key string, payload string, tenant_id string")
        .option("recursiveFileLookup", "true")
        .json(bus_dir)
    )
    parsed = parse_samples(messages)
    good = parsed.filter(F.col("timestamp").isNotNull()).drop("payload")
    batched = microbatch_batches(good, batch_size)
    n = good.count()
    t_read = _timed(_noop(messages))
    t_parse = _timed(_noop(good))
    t_batch = _timed(_noop(batched))
    t_encode = _timed(lambda: build_write_request_bodies(batched))
    return {
        "samples": n,
        "parse_s": t_parse - t_read,
        "batch_s": t_batch - t_parse,
        "encode_s": t_encode - t_batch,
    }


def isolate(spark, work: str, batch_size: int = 100) -> dict:
    out = {}
    out.update(_produce_stages(spark, os.path.join(work, "drop")))
    consume = _consume_stages(spark, os.path.join(work, "bus"), batch_size)
    out["bus_samples"] = consume.pop("samples")
    out.update(consume)
    return out
