"""The produce pipeline's single Python pass (``produce_transform``):
byte parity with the column stages (repeated label names and staleness
markers included), a continuous query over a repeated label name, and
the tenant-less path from the HTTP listener to the bus."""

from __future__ import annotations

import json
import math
import os
import struct
import urllib.error
import urllib.request
from collections import Counter

import pytest
from pyspark.sql import functions as F

from prometheus_pulsar_remote_write_spark.functions.fnv import partition_key_col
from prometheus_pulsar_remote_write_spark.functions.serializers import serialize_col
from prometheus_pulsar_remote_write_spark.sources import prompb, snappy_codec
from prometheus_pulsar_remote_write_spark.sources.http_listener import (
    TENANT_DIR_NONE,
    RemoteWriteListener,
    tenant_is_safe,
)
from prometheus_pulsar_remote_write_spark.streaming.produce import (
    flat_sample_stream,
    produce_transform,
    run_produce_pipeline,
)


def _body(series) -> bytes:
    """series: [(labels as (name, value) pairs, [(value, timestamp)])]"""
    req = {
        "timeseries": [
            {
                "labels": [{"name": n, "value": v} for n, v in labels],
                "samples": [{"value": v, "timestamp": t} for v, t in samples],
            }
            for labels, samples in series
        ]
    }
    return snappy_codec.compress(prompb.encode_write_request(req))


def _bodies_df(spark, files: dict):
    """{relative path under a spool root: body bytes} -> (path, content)."""
    return spark.createDataFrame(
        [(f"file:/spool/{rel}", body) for rel, body in files.items()],
        "path string, content binary",
    )


_STALE_NAN = struct.unpack("<d", struct.pack("<Q", 0x7FF0000000000002))[0]

_PARITY_FILES = {
    "tenant-a/r1.bin": _body(
        [
            # replica labels: projected out of the key only
            (
                [("__name__", "up"), ("job", "api"), ("__replica__", "r1"),
                 ("replica", "b")],
                [(1.0, 1000), (0.0, 2000), (-3.5, 3000)],
            ),
            ([("__name__", "cpu"), ("core", "0")], [(0.5, 1500)]),
            ([("__name__", "gone")], []),  # a series with no samples
            ([], [(7.25, -5)]),  # an empty label set
            (
                [("__name__", "esc"), ("path", 'a"b\\c'), ("city", "Zürich")],
                [(float("inf"), 4000), (-0.0, 4001), (1e21, 4002), (1e-7, 4003)],
            ),
        ]
    ),
    f"{TENANT_DIR_NONE}/r2.bin": _body(
        [([("__name__", "mem"), ("host", "h1")], [(42.0, 3000)])]
    ),
    "tenant-b/r3.bin": _body(
        [([("__name__", "up"), ("job", "api")], [(2.0, 5000), (3.0, 6000)])]
    ),
    "tenant-b/r4.bin": _body(
        [
            # a repeated label name: the last value wins
            ([("__name__", "up"), ("job", "a"), ("job", "b")], [(1.0, 7000)]),
            # Prometheus' staleness marker, a NaN with a payload
            ([("__name__", "up"), ("job", "c")], [(_STALE_NAN, 8000)]),
        ]
    ),
    "tenant-a/poison.bin": b"definitely-not-snappy-proto",
}


@pytest.mark.parametrize("fmt", ["json", "json-compat", "avro-json-compat"])
def test_fused_pass_matches_column_stages(spark, fmt):
    """The one-pass transform emits exactly the (key, payload, tenant_id)
    multiset of decode -> flatten -> partition key + serialize."""
    bodies = _bodies_df(spark, _PARITY_FILES)
    replica = ["__replica__", "replica"]
    fused = produce_transform(bodies, fmt, replica)
    flat = flat_sample_stream(bodies)
    staged = flat.select(
        partition_key_col(F.col("labels"), F.col("tenant_id"), replica).alias("key"),
        serialize_col(fmt).alias("payload"),
        "tenant_id",
    )
    got = Counter(tuple(r) for r in fused.collect())
    want = Counter(tuple(r) for r in staged.collect())
    assert got == want
    assert sum(got.values()) == 14  # 9 samples in r1, 1 in r2, 2 each in r3, r4
    assert {t for _k, _p, t in got} == {"tenant-a", "tenant-b", ""}


def test_fused_pass_publishes_a_staleness_marker(spark):
    """A NaN sample value (Prometheus' staleness marker) is published as
    "NaN", not dropped or nulled."""
    bodies = _bodies_df(
        spark,
        {"tenant-a/r.bin": _body([([("__name__", "up")], [(_STALE_NAN, 1000)])])},
    )
    (row,) = produce_transform(bodies).collect()
    assert json.loads(row["payload"])["value"] == [1, "NaN"]


def test_fused_pass_keeps_the_last_value_of_a_repeated_label(spark, tmp_path):
    """A body repeating a label name (job=a, job=b) publishes one sample
    with job=b, as the reference's label map does, and a continuous
    produce query keeps running."""
    drop = tmp_path / "drop" / "tenant-a"
    drop.mkdir(parents=True)
    (drop / "dup.bin").write_bytes(
        _body([([("__name__", "up"), ("job", "a"), ("job", "b")], [(1.0, 1000)])])
    )
    bus = str(tmp_path / "bus")
    q = run_produce_pipeline(
        spark, str(tmp_path / "drop"), bus,
        checkpoint_dir=str(tmp_path / "ckpt"), trigger_once=False,
    )
    try:
        q.processAllAvailable()
        (drop / "next.bin").write_bytes(
            _body([([("__name__", "down")], [(0.0, 2000)])])
        )
        q.processAllAvailable()
        assert q.isActive and q.exception() is None
    finally:
        q.stop()
    rows = (
        spark.read.schema("key string, payload string, tenant_id string")
        .option("recursiveFileLookup", "true")
        .json(bus)
        .collect()
    )
    metrics = sorted(json.loads(r["payload"])["metric"]["__name__"] for r in rows)
    assert metrics == ["down", "up"]
    (up,) = [json.loads(r["payload"]) for r in rows if '"up"' in r["payload"]]
    assert up["metric"] == {"__name__": "up", "job": "b"}


def test_tenantless_post_reaches_the_bus_with_an_empty_tenant(spark, tmp_path):
    """listener -> spool -> produce: a POST without a tenant is spooled
    under the reserved directory and published with tenant "" -- the
    payload carries no tenant_id, the message column is "". The reserved
    name itself is refused as a tenant."""
    spool = tmp_path / "spool"
    listener = RemoteWriteListener(str(spool))
    host, port = listener.start()

    def post(headers=None):
        req = urllib.request.Request(
            f"http://{host}:{port}/write",
            data=_body([([("__name__", "anon")], [(1.5, 1000)])]),
            headers=headers or {},
        )
        try:
            return urllib.request.urlopen(req).status
        except urllib.error.HTTPError as exc:
            return exc.code

    try:
        assert post() == 200
        assert post({"X-Scope-OrgID": TENANT_DIR_NONE}) == 400
    finally:
        listener.stop()
    assert not tenant_is_safe(TENANT_DIR_NONE)
    assert os.listdir(spool) == [TENANT_DIR_NONE]

    bus = str(tmp_path / "bus")
    run_produce_pipeline(
        spark, str(spool), bus, checkpoint_dir=str(tmp_path / "ckpt")
    ).awaitTermination(120)
    (row,) = (
        spark.read.schema("key string, payload string, tenant_id string")
        .option("recursiveFileLookup", "true")
        .json(bus)
        .collect()
    )
    assert row["tenant_id"] == ""
    payload = json.loads(row["payload"])
    assert "tenant_id" not in payload
    assert payload["metric"] == {"__name__": "anon"}
    assert math.isclose(float(payload["value"][1]), 1.5)
