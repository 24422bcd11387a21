"""Seeded remote-write traffic for the pipeline benchmark.

Two pieces live here:

* ``snappy_compress``: a greedy LZ77 encoder for the snappy block format
  with back-references (copy elements), the way real remote-write senders
  compress. The package's own ``snappy_codec.compress`` emits literals
  only, which makes ingest-side decompression nearly free and would hide
  that layer from the benchmark.
* ``build_workload``: the POST schedule of one workload, with every body
  encoded and compressed before the clock starts, and the sample identity
  table the output check compares deliveries against. Every workload is
  an open loop: POSTs are due on a fixed schedule whether or not the
  system keeps up.

A sample's identity is (label set sorted byte-wise, timestamp); every
identity is unique within a run, and maps back to the POST that carried
it (re-sent POSTs of the exactly-once workload carry the same identities
again).
"""

from __future__ import annotations

import base64
import random
import struct
from dataclasses import dataclass, field

from prometheus_pulsar_remote_write_spark.sources import prompb, snappy_codec

_MIN_MATCH = 4
_MAX_OFFSET = 0xFFFF  # copy-2 elements carry a 2-byte offset


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _emit_literal(out: bytearray, data: bytes, start: int, end: int) -> None:
    n = end - start - 1
    if n < 60:
        out.append(n << 2)
    elif n < 0x100:
        out += bytes((60 << 2, n))
    elif n < 0x10000:
        out.append(61 << 2)
        out += n.to_bytes(2, "little")
    else:
        out.append(62 << 2)
        out += n.to_bytes(3, "little")
    out += data[start:end]


def _emit_copy(out: bytearray, offset: int, length: int) -> None:
    while length > 0:
        if 4 <= length <= 11 and offset < 2048:  # copy-1
            out.append(1 | ((length - 4) << 2) | ((offset >> 8) << 5))
            out.append(offset & 0xFF)
            return
        step = min(length, 64)
        if length - step and length - step < 4:
            step = length - 4  # keep every tail copy at least 4 bytes
        out.append(2 | ((step - 1) << 2))
        out += offset.to_bytes(2, "little")
        length -= step


def snappy_compress(data: bytes) -> bytes:
    """Snappy block encoding with back-references (greedy, 4-byte hash)."""
    out = bytearray(_varint(len(data)))
    last: dict = {}
    n = len(data)
    lit = pos = 0
    while pos + _MIN_MATCH <= n:
        key = data[pos : pos + _MIN_MATCH]
        cand = last.get(key)
        last[key] = pos
        if cand is None or pos - cand > _MAX_OFFSET:
            pos += 1
            continue
        length = _MIN_MATCH
        while pos + length + 8 <= n and (
            data[cand + length : cand + length + 8]
            == data[pos + length : pos + length + 8]
        ):
            length += 8
        while pos + length < n and data[cand + length] == data[pos + length]:
            length += 1
        if lit < pos:
            _emit_literal(out, data, lit, pos)
        _emit_copy(out, pos - cand, length)
        pos += length
        lit = pos
    if lit < n:
        _emit_literal(out, data, lit, n)
    return bytes(out)


# --- workloads ------------------------------------------------------------

#: metric names a node-exporter-like sender exposes
_METRICS = (
    "node_cpu_seconds_total",
    "node_memory_MemAvailable_bytes",
    "node_network_receive_bytes_total",
    "node_network_transmit_bytes_total",
    "node_disk_read_bytes_total",
    "node_disk_written_bytes_total",
    "node_filesystem_avail_bytes",
    "node_load1",
    "http_requests_total",
    "http_request_duration_seconds_bucket",
    "process_resident_memory_bytes",
    "go_goroutines",
)
_MODES = ("idle", "user", "system", "iowait", "irq", "softirq", "steal", "nice")


@dataclass
class Post:
    """One remote-write request: who sends it, when, and its wire body."""

    idx: int
    due: float  # seconds after the window opens
    body: bytes
    headers: dict
    n_samples: int
    resend_of: int | None = None  # replays carry the original's samples


@dataclass
class Workload:
    delay: float  # consume trigger interval, s
    last_phase: float  # the last POST's due time after a consume trigger, s
    app_flags: list
    exactly_once: bool
    warmup: list = field(default_factory=list)
    posts: list = field(default_factory=list)  # sorted by due time
    #: identity -> (tenant, value bits, post idx) for every window sample
    expected: dict = field(default_factory=dict)
    warmup_keys: set = field(default_factory=set)


def _series_labels(sender: int, k: int) -> list:
    labels = {
        "__name__": _METRICS[k % len(_METRICS)],
        "instance": f"10.{sender // 250}.{sender % 250}.7:9100",
        "job": "node",
        "mode": _MODES[(k // len(_METRICS)) % len(_MODES)],
        "shard": str(k // (len(_METRICS) * len(_MODES))),
    }
    return [{"name": n, "value": v} for n, v in sorted(labels.items())]


def identity(labels: list, timestamp: int) -> tuple:
    """Sorted (name, value) pairs plus the timestamp."""
    return (
        tuple(sorted((l["name"], l["value"]) for l in labels)),
        int(timestamp),
    )


def decode_samples(body: bytes):
    """Yield (identity, label names in wire order, value) per sample of a
    remote-write body, decoded with the package's codecs."""
    req = prompb.decode_write_request(snappy_codec.decompress(body))
    for ts in req["timeseries"]:
        names = [l["name"] for l in ts["labels"]]
        for sample in ts["samples"]:
            yield identity(ts["labels"], sample["timestamp"]), names, sample["value"]


def _headers(tenant: str) -> dict:
    h = {
        "Content-Encoding": "snappy",
        "Content-Type": "application/x-protobuf",
        "X-Prometheus-Remote-Write-Version": "0.1.0",
    }
    if tenant:
        token = base64.b64encode(f"{tenant}:secret".encode()).decode()
        h["Authorization"] = f"Basic {token}"
    return h


def _value(rng: random.Random) -> float:
    return rng.random() * 10.0 ** rng.randint(-2, 7)


def _make_post(rng, idx, tenant, series, ts_ms, due) -> tuple:
    timeseries = [
        {"labels": labels, "samples": [{"value": _value(rng), "timestamp": ts_ms}]}
        for labels in series
    ]
    raw = prompb.encode_write_request({"timeseries": timeseries})
    body = snappy_compress(raw)
    if snappy_codec.decompress(body) != raw:
        raise RuntimeError("snappy_compress round trip failed")
    return Post(idx, due, body, _headers(tenant), len(series)), timeseries


#: The traffic mixes; every one is an open loop of ``rate`` POSTs/s.
#: ``delay`` is the consume query's trigger interval (the app's batch max
#: delay, 5 s by default). ``last_phase`` places the window on that
#: trigger grid: the last POST is due ``last_phase`` seconds after a
#: trigger starts, so its samples reach the bus about midway between two
#: consume triggers and small timing jitter cannot move them a whole
#: trigger earlier or later. The tracked workloads use a 10 s delay: their
#: consume triggers take 1.5-5 s, and at the default 5 s a busy host
#: makes them overrun, so delivery times jump from run to run.
SPECS = {
    # 2 POSTs/s x 500 samples at the app defaults; one tenant-less sender
    # of eight, like a single-tenant Prometheus
    "steady": dict(rate=2.0, senders=8, series=500, dedup=False, resend=0.0,
                   tenantless=True, delay=5.0, last_phase=1.0),
    # 2 POSTs/s x 125 samples from 8 tenants, 5% of the POSTs re-sent 1-3 s
    # later (a sender's outage replay), exactly-once: the dedup state store
    # and its second scan of the bus. At 4 POSTs/s a backlog builds inside
    # the window on a busy host.
    "replay_dedup": dict(rate=2.0, senders=8, series=125, dedup=True,
                         resend=0.05, tenantless=False, delay=10.0,
                         last_phase=5.0),
    # 2 POSTs/s x 50 samples over 100 senders, one of them tenant-less:
    # per-request, per-file and per-POST fixed costs dominate
    "tenant_fanout": dict(rate=2.0, senders=100, series=50, dedup=False,
                          resend=0.0, tenantless=True, delay=10.0, last_phase=5.0),
}
CONNECTIONS = 4
WARMUP_POSTS = 2


def build_workload(name: str, seed: int, seconds: float, base_ms: int) -> Workload:
    """Every POST of the run, bodies encoded up front.

    ``base_ms`` anchors sample timestamps near the wall clock, so the
    exactly-once workload's watermark never drops a first-time sample.
    Timestamps step by 1 ms per POST, which keeps every identity unique.
    """
    spec = SPECS[name]
    rng = random.Random(seed)
    senders = spec["senders"]
    tenants = [
        "" if (spec["tenantless"] and s == 0) else f"tenant-{s:03d}"
        for s in range(senders)
    ]
    flags = ["--consume.dedup-within=1h"] if spec["dedup"] else []
    if spec["delay"] != 5.0:
        flags.append(f"--batch-max-delay={spec['delay']:g}s")
    wl = Workload(spec["delay"], spec["last_phase"], flags, exactly_once=spec["dedup"])
    series = [
        [_series_labels(s, k) for k in range(spec["series"])]
        for s in range(senders)
    ]
    order = list(range(senders))
    rng.shuffle(order)
    if spec["tenantless"]:
        # the tenant-less sender sends the window's first POST, so every
        # run, however short, carries its samples
        order.remove(0)
        order.insert(WARMUP_POSTS, 0)
    for i in range(WARMUP_POSTS):
        s = order[i % senders]
        post, timeseries = _make_post(
            rng, -1 - i, tenants[s], series[s], base_ms - 60_000 + i, 0.0
        )
        wl.warmup.append(post)
        wl.warmup_keys.update(
            identity(ts["labels"], ts["samples"][0]["timestamp"]) for ts in timeseries
        )
    n_posts = max(1, round(spec["rate"] * seconds))
    for i in range(n_posts):
        s = order[(WARMUP_POSTS + i) % senders]
        post, timeseries = _make_post(
            rng, i, tenants[s], series[s], base_ms + i, i / spec["rate"]
        )
        wl.posts.append(post)
        for ts in timeseries:
            sample = ts["samples"][0]
            wl.expected[identity(ts["labels"], sample["timestamp"])] = (
                tenants[s],
                struct.pack("<d", sample["value"]),
                i,
            )
    n_resend = round(n_posts * spec["resend"])
    for j, orig in enumerate(sorted(rng.sample(range(n_posts), n_resend))):
        src = wl.posts[orig]
        due = min(src.due + rng.uniform(1.0, 3.0), seconds)
        wl.posts.append(
            Post(n_posts + j, due, src.body, src.headers, src.n_samples,
                 resend_of=orig)
        )
    wl.posts.sort(key=lambda p: p.due)
    return wl
