#!/usr/bin/env python3
"""Pipeline benchmark: remote-write POST -> produce -> bus -> consume ->
downstream POST, timed from outside the system under test.

    python3 perfbench/run.py --workload tenant_fanout --seed 1 --seconds 15 --trace 0

Prints one line per metric (name, value, unit), then, as the last line,
one JSON object: ``correct``, ``attempted`` and ``failed`` (samples), and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
ledger with ``--trace 1``. Exits 1 when the output check finds a corrupt
sample, 2 when the run cannot be made. See README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import struct
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

#: longest a run waits for its deliveries after the last POST
DRAIN_S = 60.0
#: the whole invocation must end well inside three minutes
RUN_BUDGET_S = 170.0

#: the end-to-end metrics BENCHMARK.json tracks
END_TO_END_UNITS = {
    "setup_s": "s",
    "samples_per_s": "samples/s",
    "delivery_p50_s": "s",
    "delivery_p90_s": "s",
    "cpu_ms_per_sample": "ms",
}
#: printed with them, not tracked: too noisy run to run, or 0 on a workload
INFO_UNITS = {
    "delivery_p99_s": "s",
    "ack_p50_ms": "ms",
    "ack_p90_ms": "ms",
    "failed_ratio": "ratio",
}


def percentile(values, q: float) -> float:
    """Linear interpolation between closest ranks, q in [0, 100]."""
    vals = sorted(values)
    if not vals:
        return float("nan")
    pos = (len(vals) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


class Check:
    """Matches delivered samples against the sent ones.

    Every delivered sample must be a sent sample bit for bit: label set
    (delivered sorted byte-wise by name), timestamp and value bits.
    Anything else is corrupt and fails the run. A sent sample delivered
    under another tenant is mis-tenanted; a second delivery is a
    duplicate."""

    def __init__(self, expected: dict, warmup_keys: set):
        self.expected = expected
        self.warmup_keys = warmup_keys
        self.first: dict = {}  # identity -> first arrival wall s
        self.tenant_ok: dict = {}
        self.duplicates = 0
        self.corrupt: list = []
        self.samples = 0  # window samples received, duplicates included
        self.post_arrivals: list = []  # (arrival, tenant, [post idx])

    def feed(self, arrivals: list) -> None:
        from perfbench.wire import decode_samples

        for now, tenant, body in arrivals:
            posts = set()
            for key, names, value in decode_samples(body):
                exp = self.expected.get(key)
                if exp is None:
                    if key not in self.warmup_keys:
                        self.corrupt.append(("unknown sample", key))
                    continue
                self.samples += 1
                raw = [n.encode() for n in names]
                if raw != sorted(raw):
                    self.corrupt.append(("labels not sorted", key))
                if struct.pack("<d", value) != exp[1]:
                    self.corrupt.append(("value bits differ", key))
                posts.add(exp[2])
                if key in self.first:
                    self.duplicates += 1
                    continue
                self.first[key] = now
                self.tenant_ok[key] = tenant == exp[0]
            if posts:
                self.post_arrivals.append((now, tenant, sorted(posts)))


def _window_start(wl) -> float:
    """When the window opens: the last POST falls due ``wl.last_phase``
    seconds after a consume trigger starts.

    Spark starts processing-time triggers on wall-clock multiples of
    their interval, and the consume query's interval is the app's batch
    max delay. Opening every window at the same phase of that grid keeps
    the phase at which the schedule meets the triggers the same from run
    to run."""
    span = max(p.due for p in wl.posts if p.resend_of is None)
    earliest = time.time() + 0.5 + span
    k = math.ceil((earliest - wl.last_phase) / wl.delay)
    return k * wl.delay + wl.last_phase - span


def _warmup(sender, downstream, wl) -> None:
    """Send the warm-up POSTs and wait until their samples are delivered:
    first-trigger planning, code generation and Python worker start-up
    stay out of the scored window."""
    from perfbench.wire import decode_samples

    if any(r[4] != 200 for r in sender.send(wl.warmup, None)):
        raise RuntimeError("a warm-up POST was refused")
    seen: set = set()
    deadline = time.time() + 60
    while not wl.warmup_keys <= seen:
        if time.time() > deadline:
            raise TimeoutError("warm-up samples were not delivered in 60s")
        for _now, _tenant, body in downstream.take():
            seen.update(key for key, _n, _v in decode_samples(body))
        time.sleep(0.05)


def _run_once(args, wl, trace: bool, started: float) -> dict:
    """One SUT launch: set-up, warm-up, the scored window, the drain.
    ``started`` is when the invocation began; waits are cut to keep the
    whole invocation inside its budget."""
    from perfbench import load, wire

    work = os.path.join(OUT_DIR, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    downstream = load.Downstream()
    port = load.free_port()
    cores = len(os.sched_getaffinity(0))
    sut = load.Sut(OUT_DIR, work, port, downstream.url, cores, trace, wl.app_flags)
    try:
        setup_s = sut.wait_ready(timeout=120)
        sender = load.Sender(port, wire.CONNECTIONS)
        t_warm = time.time()
        _warmup(sender, downstream, wl)
        warmup_s = time.time() - t_warm
        check = Check(wl.expected, wl.warmup_keys)
        t0 = _window_start(wl)
        time.sleep(max(0.0, t0 - time.time()))
        cpu0 = sut.cpu()
        records = sender.send(wl.posts, t0)
        ok_posts = {
            post.idx if post.resend_of is None else post.resend_of
            for post, _due, _start, _ack, status in records
            if status == 200
        }
        accepted = {
            key for key, (_t, _b, idx) in wl.expected.items() if idx in ok_posts
        }
        deadline = min(time.time() + DRAIN_S, started + RUN_BUDGET_S - 40)
        while time.time() < deadline:
            check.feed(downstream.take())
            if accepted <= check.first.keys():
                break
            time.sleep(0.1)
        t_end = max(check.first.values(), default=time.time())
        cpu1 = sut.cpu()
        rss = sut.peak_rss_mb()
        if wl.exactly_once:
            time.sleep(0.5)  # a duplicate POSTed right after the last sample
        check.feed(downstream.take())
        if trace:
            scrape = sut.scrape()
            sut.stop(timeout=max(10.0, started + RUN_BUDGET_S - time.time()))
            with open(os.path.join(work, "report.json")) as fh:
                report = json.load(fh)
    finally:
        sut.kill()
        downstream.close()
    result = _metrics(wl, records, check, accepted, t0, t_end, setup_s, cpu0, cpu1)
    result["detail"].update(warmup_s=warmup_s, window_s=t_end - t0)
    if trace:
        from perfbench import ledger

        result["ledger"] = ledger.build(
            wl, records, check, t0, t_end, cpu0, cpu1, rss, report, scrape,
            work, OUT_DIR, args,
        )
    shutil.rmtree(work, ignore_errors=True)
    return result


def _metrics(wl, records, check, accepted, t0, t_end, setup_s, cpu0, cpu1) -> dict:
    created = {post.idx: due for post, due, _s, _a, _st in records
               if post.resend_of is None}
    latencies = [
        check.first[key] - created[idx]
        for key, (_t, _b, idx) in wl.expected.items()
        if key in check.first
    ]
    acks = [ack - due for _p, due, _s, ack, status in records if status == 200]
    delivered = len(check.first)
    attempted = len(wl.expected)
    missing = len(accepted - check.first.keys())
    refused = attempted - len(accepted)
    mis_tenanted = sum(1 for ok in check.tenant_ok.values() if not ok)
    failed = refused + missing + mis_tenanted
    if wl.exactly_once:
        failed += check.duplicates
    failed = min(failed, attempted)
    cpu_s = sum(cpu1.values()) - sum(cpu0.values())
    return {
        "metrics": {
            "setup_s": setup_s,
            "samples_per_s": delivered / max(t_end - t0, 1e-9),
            "delivery_p50_s": percentile(latencies, 50),
            "delivery_p90_s": percentile(latencies, 90),
            "delivery_p99_s": percentile(latencies, 99),
            "ack_p50_ms": percentile(acks, 50) * 1000,
            "ack_p90_ms": percentile(acks, 90) * 1000,
            "cpu_ms_per_sample": cpu_s * 1000 / max(delivered, 1),
            "failed_ratio": failed / attempted,
        },
        "attempted": attempted,
        "failed": failed,
        "detail": {
            "posts": len(records),
            "delivered": delivered,
            "refused": refused,
            "missing": missing,
            "mis_tenanted": mis_tenanted,
            "duplicates": check.duplicates,
            "corrupt": len(check.corrupt),
        },
        "corrupt": check.corrupt[:5],
    }


def _history(args) -> str:
    return os.path.join(OUT_DIR, f"history-{args.workload}-{args.seconds:g}s.jsonl")


def _untraced_baseline(args, wl, started: float) -> dict:
    """Median untraced figures of this workload in this checkout, from
    its last untraced runs, or from an untraced pass made now."""
    try:
        with open(_history(args)) as fh:
            rows = [json.loads(line) for line in fh][-10:]
    except OSError:
        rows = []
    if not rows:
        rows = [_run_once(args, wl, False, started)["metrics"]]
    return {
        k: statistics.median(r[k] for r in rows)
        for k in ("samples_per_s", "delivery_p50_s")
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "prometheus_pulsar_remote_write_spark")):
        print("perfbench: the package is not next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import load, wire

    if args.workload not in wire.SPECS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    started = time.time()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(OUT_DIR, exist_ok=True)
    load.kill_stale_sut(OUT_DIR)
    for name in os.listdir(OUT_DIR):
        if name.startswith("run-"):
            shutil.rmtree(os.path.join(OUT_DIR, name), ignore_errors=True)

    wl = wire.build_workload(args.workload, args.seed, args.seconds,
                             base_ms=int(time.time() * 1000))
    if args.trace:
        baseline = _untraced_baseline(args, wl, started)
    result = _run_once(args, wl, bool(args.trace), started)
    m = result["metrics"]
    for name, unit in {**END_TO_END_UNITS, **INFO_UNITS}.items():
        print(f"{name:<36} {m[name]:>14.4f} {unit}")
    print("detail " + json.dumps(result["detail"], sort_keys=True))
    if result["corrupt"]:
        print("corrupt " + json.dumps(result["corrupt"], default=str))
    correct = not result["corrupt"] and result["detail"]["delivered"] > 0
    if args.trace:
        layers = result["ledger"]["metrics"]
        layers["trace.overhead_ratio"] = (
            baseline["samples_per_s"] / m["samples_per_s"], "ratio")
        layers["trace.latency_ratio"] = (
            m["delivery_p50_s"] / baseline["delivery_p50_s"], "ratio")
        for name, (value, unit) in layers.items():
            print(f"{name:<36} {value:>14.4f} {unit}")
        print("spans " + result["ledger"]["span_file"])
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        with open(_history(args), "a") as fh:
            fh.write(json.dumps(m) + "\n")
        metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    print(json.dumps({
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
