#!/usr/bin/env python
"""Micro-bench for the per-key fold twins' per-batch cost (round 9).

The shift-shaped folds (transition, scrape gap, trigram) were rewritten
from a per-row Python loop to vectorized pandas column ops seeded by
the carried state row. This measures them on a single hot key's
micro-batch (default 10,000 rows -- the regime where a skewed key's
fold cost is the twin's throughput ceiling), using the loop bodies the
r8 twins shipped as the baseline. Runs pure-pandas (no Spark session):
the fold is the only thing that changed, and it executes identically
inside an applyInPandasWithState worker.

Usage: python scripts/bench_fold.py [rows]
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from prometheus_pulsar_remote_write_spark.streaming.windows import (
    _path_trigram_fold_kwargs,
    _scrape_gap_fold_kwargs,
    _transition_fold_kwargs,
)


def _loop_transition(key, pdf, prior):
    """The r8 per-row loop (baseline)."""
    (user_id,) = key
    (last_type,) = prior
    out, last_ts = [], 0
    for ts_us, etype in zip(pdf["ts_us"], pdf["event_type"]):
        if last_type is not None:
            out.append(
                {
                    "user_id": user_id,
                    "prev_type": last_type,
                    "next_type": etype,
                    "ts_us": int(ts_us),
                }
            )
        last_type = etype
        last_ts = int(ts_us)
    return out, (last_type,), last_ts // 1000


def _loop_scrape_gap(key, pdf, prior):
    tenant_id, name = key
    (last_ts,) = prior
    out = []
    for ts_ms in pdf["ts_ms"]:
        if last_ts is not None:
            out.append(
                {
                    "tenant_id": tenant_id,
                    "name": name,
                    "gap_ms": int(ts_ms) - int(last_ts),
                    "ts_ms": int(ts_ms),
                }
            )
        last_ts = int(ts_ms)
    return out, (last_ts,), last_ts


def _loop_trigram(key, pdf, prior):
    (user_id,) = key
    p1, p2 = prior
    out, last_ts = [], 0
    for ts_us, etype in zip(pdf["ts_us"], pdf["event_type"]):
        if p2 is not None:
            out.append(
                {
                    "user_id": user_id,
                    "path": f"{p2}>{p1}>{etype}",
                    "ts_us": int(ts_us),
                }
            )
        p2, p1 = p1, etype
        last_ts = int(ts_us)
    return out, (p1, p2), last_ts // 1000


def _time(fn, key, pdf, prior, out_cols, reps=5):
    """Median seconds for fold + DataFrame materialization (the loop
    baseline pays pd.DataFrame(list-of-dicts) exactly as the r8
    scaffold did)."""
    runs = []
    result = None
    for _ in range(reps):
        t0 = time.perf_counter()
        out, state, last = fn(key, pdf, prior)
        frame = out.loc[:, out_cols] if isinstance(out, pd.DataFrame) else pd.DataFrame(out, columns=out_cols)
        runs.append(time.perf_counter() - t0)
        result = (frame, state, last)
    return sorted(runs)[len(runs) // 2], result


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    rng = np.random.default_rng(7)
    types = np.array(["view", "click", "purchase", "search", "scroll"])
    ts = np.sort(rng.integers(1_700_000_000_000_000, 1_700_003_600_000_000, n))
    pdf_ev = pd.DataFrame(
        {"ts_us": ts, "event_type": types[rng.integers(0, 5, n)]}
    )
    pdf_gap = pd.DataFrame({"ts_ms": ts // 1000})

    cases = [
        (
            "transition",
            (7,),
            pdf_ev,
            ("view",),
            _loop_transition,
            _transition_fold_kwargs(),
        ),
        (
            "scrape_gap",
            ("3", "http_requests_total"),
            pdf_gap,
            (int(ts[0] // 1000) - 15_000,),
            _loop_scrape_gap,
            _scrape_gap_fold_kwargs(),
        ),
        (
            "trigram",
            (7,),
            pdf_ev,
            ("view", "click"),
            _loop_trigram,
            _path_trigram_fold_kwargs(),
        ),
    ]
    print(f"rows per batch: {n}")
    for name, key, pdf, prior, loop_fn, kwargs in cases:
        out_cols = [f.name for f in kwargs["out_schema"].fields]
        t_loop, (f_loop, s_loop, l_loop) = _time(loop_fn, key, pdf, prior, out_cols)
        t_vec, (f_vec, s_vec, l_vec) = _time(
            kwargs["fold"], key, pdf, prior, out_cols
        )
        # the rewrite must be a pure speedup: identical rows, state, ts
        pd.testing.assert_frame_equal(
            f_loop.reset_index(drop=True),
            f_vec.reset_index(drop=True),
            check_dtype=False,
        )
        assert tuple(s_loop) == tuple(s_vec) and l_loop == l_vec
        print(
            f"  {name:<11} loop {t_loop * 1000:8.2f} ms   "
            f"vectorized {t_vec * 1000:7.2f} ms   "
            f"speedup {t_loop / t_vec:6.1f}x   ({len(f_vec)} rows out)"
        )


if __name__ == "__main__":
    main()
