"""The A1 spool edge: the HTTP remote-write listener that writes the
spool, and the ``binaryFile`` stream (``read_request_stream``) with
``tenant_from_path`` that the produce pipeline reads it through.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from prometheus_pulsar_remote_write_spark.sources import prompb, snappy_codec
from prometheus_pulsar_remote_write_spark.sources.remote_write import decode_remote_write
from prometheus_pulsar_remote_write_spark.streaming.produce import (
    read_request_stream,
    tenant_from_path,
)


def _body(name: str, n_samples: int) -> bytes:
    req = {
        "timeseries": [
            {
                "labels": [{"name": "__name__", "value": name}],
                "samples": [
                    {"value": float(i), "timestamp": 1000 + i} for i in range(n_samples)
                ],
            }
        ]
    }
    return snappy_codec.compress(prompb.encode_write_request(req))


def _drain_spool(spark, spool: str, checkpoint: str) -> list:
    """One ``availableNow`` run of the produce source over ``spool``:
    the (file name, tenant, decoded row) of every body it reads, in
    trigger order. Reusing ``checkpoint`` resumes after the last run."""
    seen = []

    def collect(batch_df, _epoch_id):
        decoded = decode_remote_write(
            batch_df.withColumn("tenant_id", tenant_from_path(F.col("path"))),
            keep_cols=["path", "tenant_id"],
        )
        for r in decoded.collect():
            seen.append((os.path.basename(r["path"]), r["tenant_id"], r))

    (
        read_request_stream(spark, spool)
        .writeStream.foreachBatch(collect)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    return seen


def test_spool_source_reads_a_body_renamed_in_after_a_newer_one(spark, tmp_path):
    """The listener writes a dot-temp file and renames it; rename keeps
    the write-time mtime, so two concurrent handlers can rename out of
    mtime order. A body renamed in after a trigger already read a NEWER
    body must still be read by a later trigger (a (mtime, path)
    high-watermark offset would skip it and lose a body that got a
    200)."""
    spool = tmp_path / "spool" / "team-a"
    spool.mkdir(parents=True)
    ckpt = str(tmp_path / "ckpt")
    now = time.time()
    temp_a = spool / ".a.bin"
    temp_a.write_bytes(_body("a", 1))
    os.utime(temp_a, (now - 60, now - 60))
    (spool / "b.bin").write_bytes(_body("b", 1))
    os.utime(spool / "b.bin", (now, now))

    first = _drain_spool(spark, str(tmp_path / "spool"), ckpt)
    assert [name for name, _t, _r in first] == ["b.bin"]

    os.rename(temp_a, spool / "a.bin")
    assert os.stat(spool / "a.bin").st_mtime < os.stat(spool / "b.bin").st_mtime
    second = _drain_spool(spark, str(tmp_path / "spool"), ckpt)
    assert [(name, t) for name, t, _r in second] == [("a.bin", "team-a")]


def test_http_listener_bridges_posts_into_blob_source(spark, tmp_path):
    """A1 transport end-to-end: real HTTP remote-write POSTs (Basic Auth /
    X-Scope-OrgID / anonymous tenants, reference handlers.go semantics)
    land in the spool, the produce source (binaryFile stream +
    tenant_from_path) reads and decodes them, and a poison body is
    refused with 400 and never spooled."""
    import base64
    import urllib.error
    import urllib.request

    from prometheus_pulsar_remote_write_spark.sources.http_listener import (
        RemoteWriteListener,
    )

    spool = str(tmp_path / "spool")
    listener = RemoteWriteListener(spool)
    host, port = listener.start()

    def post(data, headers=None, path="/write"):
        r = urllib.request.Request(
            f"http://{host}:{port}{path}", data=data, headers=headers or {}
        )
        try:
            return urllib.request.urlopen(r).status
        except urllib.error.HTTPError as e:
            return e.code

    auth = {"Authorization": "Basic " + base64.b64encode(b"tenant-a:pw").decode()}
    assert post(_body("m1", 3), auth) == 200
    assert post(_body("m2", 2), {"X-Scope-OrgID": "tenant-b"}) == 200
    assert post(_body("m3", 1)) == 200  # anonymous -> no-tenant dir
    assert post(b"not snappy at all") == 400
    assert post(_body("m4", 1), path="/nope") == 404
    assert listener.accepted == 3 and listener.rejected == 1
    assert listener.accepted_by_tenant == {"tenant-a": 1, "tenant-b": 1, "": 1}
    listener.stop()

    rows = [r for _n, _t, r in _drain_spool(spark, spool, str(tmp_path / "ckpt"))]
    assert len(rows) == 3 and all(r["decode_error"] is None for r in rows)
    by_tenant = {}
    for r in rows:
        n = sum(len(ts["samples"]) for ts in r["timeseries"])
        by_tenant[r["tenant_id"]] = by_tenant.get(r["tenant_id"], 0) + n
    assert by_tenant == {"tenant-a": 3, "tenant-b": 2, "": 1}


def test_http_listener_rejects_traversal_tenants(tmp_path):
    """A hostile tenant string (Basic Auth username or X-Scope-OrgID) must
    not escape the spool: '../..'-style and absolute-path tenants get a
    400 and nothing is written outside the spool root."""
    import base64
    import urllib.error
    import urllib.request

    from prometheus_pulsar_remote_write_spark.sources import prompb, snappy_codec
    from prometheus_pulsar_remote_write_spark.sources.http_listener import (
        RemoteWriteListener,
        tenant_is_safe,
    )

    assert tenant_is_safe("tenant-a") and tenant_is_safe("T_1.x")
    for bad in ("../../x", "a/b", "a\\b", "..", ".", "/abs", "", "x" * 129):
        assert not tenant_is_safe(bad)

    spool = tmp_path / "nested" / "spool"
    outside = tmp_path / "nested" / "escaped"
    listener = RemoteWriteListener(str(spool))
    host, port = listener.start()
    body = snappy_codec.compress(
        prompb.encode_write_request(
            {
                "timeseries": [
                    {
                        "labels": [{"name": "__name__", "value": "m"}],
                        "samples": [{"value": 1.0, "timestamp": 1}],
                    }
                ]
            }
        )
    )

    def post(headers):
        r = urllib.request.Request(
            f"http://{host}:{port}/write", data=body, headers=headers
        )
        try:
            return urllib.request.urlopen(r).status
        except urllib.error.HTTPError as e:
            return e.code

    assert post({"X-Scope-OrgID": "../escaped"}) == 400
    assert post({"X-Scope-OrgID": "/tmp/escaped"}) == 400
    assert (
        post(
            {"Authorization": "Basic " + base64.b64encode(b"../escaped:pw").decode()}
        )
        == 400
    )
    assert post({"X-Scope-OrgID": "tenant-ok"}) == 200
    listener.stop()

    assert not outside.exists()
    assert listener.rejected == 3 and listener.accepted == 1
    assert (spool / "tenant-ok").is_dir()


def test_http_listener_ops_endpoints(tmp_path):
    """A7 web/ops surface: GET /ready answers 200, GET /metrics serves a
    promlint-clean Prometheus exposition of the ingest counters (and the
    delivery families when a DeliveryMetrics is attached)."""
    import urllib.request

    from prometheus_pulsar_remote_write_spark.operators.metrics import (
        DeliveryMetrics,
        lint_exposition,
    )
    from prometheus_pulsar_remote_write_spark.sources import prompb, snappy_codec
    from prometheus_pulsar_remote_write_spark.sources.http_listener import (
        RemoteWriteListener,
    )

    dm = DeliveryMetrics()
    dm.count_sent("tenant-a", 4)
    listener = RemoteWriteListener(str(tmp_path / "spool"), delivery_metrics=dm)
    host, port = listener.start()

    body = snappy_codec.compress(
        prompb.encode_write_request(
            {
                "timeseries": [
                    {
                        "labels": [{"name": "__name__", "value": "m"}],
                        "samples": [{"value": 1.0, "timestamp": 1}],
                    }
                ]
            }
        )
    )
    req = urllib.request.Request(
        f"http://{host}:{port}/write",
        data=body,
        headers={"X-Scope-OrgID": "tenant-a"},
    )
    assert urllib.request.urlopen(req).status == 200

    assert urllib.request.urlopen(f"http://{host}:{port}/ready").read() == b"ready\n"
    resp = urllib.request.urlopen(f"http://{host}:{port}/metrics")
    assert resp.headers["Content-Type"].startswith("text/plain")
    text = resp.read().decode()
    listener.stop()

    assert 'listener_accepted_requests_total{tenant="tenant-a"} 1' in text
    assert "listener_rejected_requests_total 0" in text
    assert 'sent_samples_total{remote="remote",tenant="tenant-a"} 4' in text
    assert (
        lint_exposition(
            text,
            names=[
                "listener_accepted_requests_total",
                "listener_rejected_requests_total",
                "sent_samples_total",
            ],
        )
        == []
    )


def test_max_connection_age_header_decision():
    """Pure middleware decision, the reference's fake-Clock scenarios
    verbatim (pkg/context/handlers_test.go:15-73): at connection start ->
    no header; +0.5s of a 1s cap -> no header; +1.001s -> Connection:
    close. Exactly-at-the-limit does not close (strictly-greater, like
    Go's time.After)."""
    from prometheus_pulsar_remote_write_spark.sources.http_listener import (
        max_connection_age_headers,
    )

    t1 = 1577873472.0
    assert max_connection_age_headers(t1, t1, 1.0) == []
    assert max_connection_age_headers(t1, t1 + 0.5, 1.0) == []
    assert max_connection_age_headers(t1, t1 + 1.0, 1.0) == []
    assert max_connection_age_headers(t1, t1 + 1.001, 1.0) == [
        ("Connection", "close")
    ]
    # unset cap: never closes (reference Default("0s") -> disabled)
    assert max_connection_age_headers(t1, t1 + 9999.0, None) == []


def test_max_connection_age_live_keepalive(tmp_path):
    """End-to-end over one kept-alive socket with an injected fake
    clock: requests inside the age window keep the connection open; the
    first response past the cap carries Connection: close and the server
    actually closes (reference pkg/app/server.go:58-66 LB-rebalance
    behavior)."""
    import http.client

    from prometheus_pulsar_remote_write_spark.sources.http_listener import (
        RemoteWriteListener,
    )

    class FakeClock:
        def __init__(self, t):
            self.t = t

        def now(self):
            return self.t

    clk = FakeClock(1000.0)
    listener = RemoteWriteListener(
        str(tmp_path / "spool"), max_connection_age=1.0, clock=clk
    )
    host, port = listener.start()
    try:
        conn = http.client.HTTPConnection(host, port)
        conn.request("GET", "/ready")
        r1 = conn.getresponse()
        r1.read()
        assert r1.status == 200
        assert r1.getheader("Connection") is None

        clk.t = 1000.5  # inside the window: connection stays open
        conn.request("GET", "/ready")
        r2 = conn.getresponse()
        r2.read()
        assert r2.status == 200
        assert r2.getheader("Connection") is None

        clk.t = 1001.001  # past the cap: close and actually disconnect
        conn.request("GET", "/ready")
        r3 = conn.getresponse()
        r3.read()
        assert r3.status == 200
        assert r3.getheader("Connection") == "close"

        # a NEW connection gets a fresh start time from the same clock
        conn2 = http.client.HTTPConnection(host, port)
        conn2.request("GET", "/ready")
        r4 = conn2.getresponse()
        r4.read()
        assert r4.status == 200
        assert r4.getheader("Connection") is None
        conn2.close()
        conn.close()
    finally:
        listener.stop()


def test_telemetry_path_flag(tmp_path):
    """--web.telemetry-path relocates the metrics exposition (reference
    app.go:64-65): the configured path serves it, /metrics 404s."""
    import urllib.error
    import urllib.request

    from prometheus_pulsar_remote_write_spark.app import parse_args
    from prometheus_pulsar_remote_write_spark.sources.http_listener import (
        RemoteWriteListener,
    )

    cfg = parse_args(
        [
            "produce",
            f"--pulsar.topic={tmp_path}/bus",
            f"--web.write-path={tmp_path}/drop",
            "--web.telemetry-path=/internal/telemetry",
        ]
    )
    assert cfg.telemetry_path == "/internal/telemetry"
    listener = RemoteWriteListener(
        str(tmp_path / "spool"), telemetry_path=cfg.telemetry_path
    )
    host, port = listener.start()
    try:
        body = urllib.request.urlopen(
            f"http://{host}:{port}/internal/telemetry"
        ).read()
        assert b"listener_rejected_requests_total" in body
        try:
            urllib.request.urlopen(f"http://{host}:{port}/metrics")
            raise AssertionError("default path should 404 when relocated")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        listener.stop()
