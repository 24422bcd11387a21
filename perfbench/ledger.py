"""The per-layer ledger of a traced run, and its span file.

All figures come from outside the pipelines: the listener's ``/metrics``,
the queries' ``recentProgress``, the traced bus factory's publish spans,
the consume sink's ``DeliveryMetrics``, the stage isolation step, the
files the run left in its spool and bus, and the load process's own
records. Trigger-level figures cover the scored window only: triggers
that started after the window opened and before the last delivery.
"""

from __future__ import annotations

import bisect
import json
import os
import statistics
import time
from datetime import datetime

from prometheus_pulsar_remote_write_spark.operators.metrics import DURATION_BUCKETS
from prometheus_pulsar_remote_write_spark.sources import prompb, snappy_codec

#: the order Spark runs a micro-batch's phases in
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
          "commitOffsets")
#: the spans whose self time the ledger reports
SELF_TIMED = ("gen.post", "produce.trigger", "produce.addBatch", "bus.publish",
              "consume.trigger", "consume.addBatch")


def _p50(values) -> float:
    return statistics.median(values) if values else 0.0


def _p90(values) -> float:
    return statistics.quantiles(values, n=10)[-1] if len(values) > 1 else _p50(values)


def _wall(stamp: str) -> float:
    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def _window_triggers(progress: list, t0: float, t_end: float) -> list:
    return [
        p for p in progress
        if p.get("numInputRows") and t0 <= _wall(p["timestamp"]) <= t_end
    ]


def _phase(triggers: list, *names) -> list:
    return [sum(p["durationMs"].get(n, 0) for n in names) for p in triggers]


def _histogram_p50_ms(snapshot: dict) -> float:
    """histogram_quantile(0.5) over the sink's send-duration buckets."""
    buckets = snapshot["buckets"]
    total = sum(buckets)
    if not total:
        return 0.0
    rank, seen, lower = total / 2.0, 0, 0.0
    for i, count in enumerate(buckets[:-1]):
        upper = DURATION_BUCKETS[i]
        if seen + count >= rank:
            return 1000 * (lower + (upper - lower) * (rank - seen) / count)
        seen += count
        lower = upper
    return 1000 * DURATION_BUCKETS[-1]


def _listener(scrape: str) -> tuple:
    accepted = rejected = 0
    for line in scrape.splitlines():
        if line.startswith("listener_accepted_requests_total"):
            accepted += int(float(line.rsplit(" ", 1)[1]))
        elif line.startswith("listener_rejected_requests_total"):
            rejected += int(float(line.rsplit(" ", 1)[1]))
    return accepted + rejected, rejected


def _validate_us_per_sample(posts: list, limit: int = 40) -> float:
    """What the listener does to each body before it answers: decompress
    and decode, timed on the workload's own bodies."""
    originals = [p for p in posts if p.resend_of is None][:limit]
    t0 = time.perf_counter()
    for post in originals:
        prompb.decode_write_request(snappy_codec.decompress(post.body))
    n = sum(p.n_samples for p in originals)
    return (time.perf_counter() - t0) * 1e6 / max(n, 1)


def _files(root: str, suffix: str) -> tuple:
    count = size = 0
    dirs = set()
    for dirpath, _dirnames, filenames in os.walk(root):
        for name in filenames:
            if name.endswith(suffix) and not name.startswith((".", "_")):
                count += 1
                size += os.path.getsize(os.path.join(dirpath, name))
                rel = os.path.relpath(dirpath, root).split(os.sep)[0]
                dirs.add(rel)
    return count, size, len(dirs)


def _self_ms(spans: list) -> dict:
    """Per span name, summed: its duration minus its children's. Spark
    reports phase durations, not phase start times, so self time comes
    from durations; children always nest inside their parent."""
    child_s: dict = {}
    for s in spans:
        if s["parent"]:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict = {}
    for s in spans:
        own = max(0.0, s["end"] - s["start"] - child_s.get(s["id"], 0.0))
        out[s["name"]] = out.get(s["name"], 0.0) + own * 1000
    return out


def _trigger_spans(kind: str, triggers: list) -> list:
    """A span per trigger, and one child per phase laid out in Spark's
    phase order from the trigger's start."""
    spans = []
    for p in triggers:
        start = _wall(p["timestamp"])
        tid = f"{kind}:{p['batchId']}"
        spans.append(dict(id=tid, name=f"{kind}.trigger", start=start,
                          end=start + p["durationMs"]["triggerExecution"] / 1000,
                          parent=None))
        cursor = start
        for phase in PHASES:
            ms = p["durationMs"].get(phase)
            if ms is None:
                continue
            spans.append(dict(id=f"{tid}:{phase}", name=f"{kind}.{phase}",
                              start=cursor, end=cursor + ms / 1000, parent=tid))
            cursor += ms / 1000
    return spans


def build(wl, records, check, t0, t_end, cpu0, cpu1, rss, report, scrape,
          work, out_dir, args) -> dict:
    """Per-layer metrics {name: (value, unit)} and the span file's path."""
    produce = _window_triggers(report["produce"], t0, t_end)
    consume = _window_triggers(report["consume"], t0, t_end)
    st = report["stages"]
    delivery = report["delivery"]
    batch_size = report["sink_batch_size"]
    window_msgs = sum(r[0].n_samples for r in records if r[4] == 200)
    delivered = max(len(check.first), 1)
    acks = [(ack - due) * 1000 for _p, due, _s, ack, status in records
            if status == 200]

    # spans: generator -> produce trigger phases -> publish -> consume
    # trigger phases -> downstream POST, linked back to the generator's POSTs
    spans = [
        dict(id=f"post:{post.idx}", name="gen.post", start=start, end=ack,
             parent=None)
        for post, _due, start, ack, _status in records
    ]
    spans += _trigger_spans("produce", produce)
    epochs = {p["batchId"] for p in produce}
    spans += [
        dict(id=f"publish:{e}", name="bus.publish", start=a, end=b,
             parent=f"produce:{e}:addBatch")
        for e, a, b in report["publish_spans"] if e in epochs
    ]
    consume_spans = _trigger_spans("consume", consume)
    spans += consume_spans
    adds = sorted((s["start"], s["end"], s["id"]) for s in consume_spans
                  if s["name"] == "consume.addBatch")
    starts = [a[0] for a in adds]
    for n, (now, tenant, post_ids) in enumerate(check.post_arrivals):
        i = bisect.bisect_right(starts, now) - 1
        parent = adds[i][2] if i >= 0 and adds[i][1] >= now else None
        spans.append(dict(id=f"downstream:{n}", name="downstream.post", start=now,
                          end=now, parent=parent, tenant=tenant,
                          links=[f"post:{p}" for p in post_ids]))
    span_file = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
    with open(span_file, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "spans": spans}, fh)

    dedup_ops = [
        op for p in consume for op in (p.get("stateOperators") or [])
        if "dedupe" in (op.get("operatorName") or "")
    ]
    bus_files, bus_bytes, bus_epochs = _files(os.path.join(work, "bus"), ".json")
    spool_files, _b, _d = _files(os.path.join(work, "drop"), ".bin")
    produce_us = {
        k: st[f"{k}_s"] * 1e6 / max(st["samples"], 1)
        for k in ("decode", "flatten", "key", "serialize")
    }
    consume_us = {
        k: st[f"{k}_s"] * 1e6 / max(st["bus_samples"], 1)
        for k in ("parse", "batch", "encode")
    }
    produce_add = sum(_phase(produce, "addBatch")) / 1000
    consume_add = sum(_phase(consume, "addBatch")) / 1000
    requests, rejected = _listener(scrape)
    m = {
        "listener.requests": (requests, "count"),
        "listener.rejected": (rejected, "count"),
        "listener.ack_p50_ms": (_p50(acks), "ms"),
        "listener.ack_p90_ms": (_p90(acks), "ms"),
        "listener.validate_us_per_sample": (_validate_us_per_sample(wl.posts), "us"),
        "produce.triggers": (len(produce), "count"),
        "produce.bodies_per_trigger": (
            statistics.mean(p["numInputRows"] for p in produce) if produce else 0.0,
            "count"),
        "produce.trigger_ms_p50": (_p50(_phase(produce, "triggerExecution")), "ms"),
        "produce.latest_offset_ms_p50": (_p50(_phase(produce, "latestOffset")), "ms"),
        "produce.add_batch_ms_p50": (_p50(_phase(produce, "addBatch")), "ms"),
        "produce.commit_ms_p50": (
            _p50(_phase(produce, "walCommit", "commitOffsets")), "ms"),
        "produce.decode_us_per_sample": (produce_us["decode"], "us"),
        "produce.flatten_us_per_sample": (produce_us["flatten"], "us"),
        "produce.key_us_per_sample": (produce_us["key"], "us"),
        "produce.serialize_us_per_sample": (produce_us["serialize"], "us"),
        "produce.attributed_share": (
            sum(produce_us.values()) * window_msgs / 1e6 / produce_add
            if produce_add else 0.0, "ratio"),
        "bus.publish_ms_p50": (
            _p50([(b - a) * 1000 for e, a, b in report["publish_spans"]
                  if e in epochs]), "ms"),
        "bus.files_written": (bus_files, "count"),
        "bus.files_per_epoch": (bus_files / max(bus_epochs, 1), "count"),
        "bus.bytes_per_sample": (bus_bytes / max(st["bus_samples"], 1), "B"),
        "spool.files_end": (spool_files, "count"),
        "consume.triggers": (len(consume), "count"),
        "consume.trigger_ms_p50": (_p50(_phase(consume, "triggerExecution")), "ms"),
        "consume.latest_offset_ms_p50": (_p50(_phase(consume, "latestOffset")), "ms"),
        "consume.get_batch_ms_p50": (_p50(_phase(consume, "getBatch")), "ms"),
        "consume.add_batch_ms_p50": (_p50(_phase(consume, "addBatch")), "ms"),
        "consume.rows_read_per_sample": (
            sum(p["numInputRows"] for p in consume) / max(window_msgs, 1), "ratio"),
        "consume.parse_us_per_sample": (consume_us["parse"], "us"),
        "consume.encode_us_per_sample": (consume_us["encode"], "us"),
        "consume.attributed_share": (
            sum(consume_us.values()) * window_msgs / 1e6 / consume_add
            if consume_add else 0.0, "ratio"),
        "batcher.us_per_sample": (consume_us["batch"], "us"),
        "sink.posts": (delivery["send_duration"]["count"], "count"),
        "sink.retries": (delivery["retries"], "count"),
        "sink.dlq_samples": (sum(delivery["failed"].values()), "count"),
        "sink.fill_ratio": (
            check.samples / max(len(check.post_arrivals), 1) / batch_size, "ratio"),
        "sink.post_ms_p50": (_histogram_p50_ms(delivery["send_duration"]), "ms"),
        "dedup.state_rows_end": (
            dedup_ops[-1]["numRowsTotal"] if dedup_ops else 0, "count"),
        "dedup.dropped_duplicates": (
            sum((op.get("customMetrics") or {}).get("numDroppedDuplicateRows", 0)
                for op in dedup_ops), "count"),
        "dedup.dropped_late": (
            sum(op.get("numRowsDroppedByWatermark", 0) for op in dedup_ops), "count"),
        "dedup.commit_ms_p50": (_p50([op.get("commitTimeMs", 0) for op in dedup_ops]),
                                "ms"),
        "sut.cpu_jvm_s": (cpu1["jvm"] - cpu0["jvm"], "s"),
        "sut.cpu_python_s": (cpu1["python"] - cpu0["python"], "s"),
        "sut.jvm_rss_mb": (rss["jvm"], "MB"),
        "sut.python_rss_mb": (rss["python"], "MB"),
        "gen.max_late_ms": (
            max((start - due) * 1000 for _p, due, start, _a, _s in records), "ms"),
        "downstream.posts": (len(check.post_arrivals), "count"),
        "downstream.duplicate_ratio": (check.duplicates / delivered, "ratio"),
    }
    own = _self_ms(spans)
    for name in SELF_TIMED:
        m[f"self.{name}_ms"] = (own.get(name, 0.0), "ms")
    return {"metrics": m, "span_file": span_file}
