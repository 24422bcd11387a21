"""The system under test: both pipelines of the app in one Spark session.

Started by ``run.py`` as its own process (and process group):

    python3 perfbench/sut.py --work DIR --port P --downstream URL \
        --cores N --trace 0|1 [--app-flag=--consume.dedup-within=1h ...]

It runs ``app.parse_args`` + ``app.run`` twice, exactly as a deployment
would: ``produce`` with ``--web.listen`` and ``--continuous=true``, then
``consume`` against the same bus directory. When both queries are active
it prints ``READY``; it then waits for ``STOP`` on stdin. With
``--trace 1`` it writes ``report.json`` into the work directory before
exiting: the queries' ``recentProgress``, the consume sink's
``DeliveryMetrics``, the traced bus's publish spans and the stage
isolation timings (``stages.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
DRIVER_HEAP = "2g"


def _args(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--downstream", required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--app-flag", action="append", default=[])
    return ap.parse_args(argv)


def main(argv) -> int:
    a = _args(argv)
    from prometheus_pulsar_remote_write_spark import app
    from prometheus_pulsar_remote_write_spark.session import get_spark

    work = a.work
    os.makedirs(os.path.join(work, "bus"), exist_ok=True)
    spark = get_spark(
        app_name="perfbench-sut",
        master=f"local[{a.cores}]",
        shuffle_partitions=a.cores,
        extra_conf={
            # get_spark's default heap is sized for the catalog benchmark
            "spark.driver.memory": DRIVER_HEAP,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        },
    )
    common = [
        f"--pulsar.topic={work}/bus",
        f"--work-dir={work}/app",
        "--continuous=true",
        "--log.level=warn",
    ]
    if a.trace:
        common.append("--pulsar.client=perfbench.tracebus:traced_file_bus")
    produce_q, _listener = app.run(
        spark,
        app.parse_args(
            ["produce", *common, f"--web.write-path={work}/drop",
             f"--web.listen=127.0.0.1:{a.port}"]
        ),
    )
    consume_q, sink = app.run(
        spark,
        app.parse_args(
            ["consume", *common, f"--remote-write.url={a.downstream}",
             *a.app_flag]
        ),
    )
    while not (produce_q.isActive and consume_q.isActive):
        time.sleep(0.01)
    print("READY", flush=True)
    for line in sys.stdin:
        if line.strip() == "STOP":
            break
    if a.trace:
        from perfbench import stages, tracebus

        # a trigger running at STOP reports its progress when it ends
        deadline = time.time() + 30
        for q in (produce_q, consume_q):
            seen = len(q.recentProgress)
            while (time.time() < deadline and q.status["isTriggerActive"]
                   and len(q.recentProgress) == seen):
                time.sleep(0.05)

        report = {
            "produce": [json.loads(p.json) for p in produce_q.recentProgress],
            "consume": [json.loads(p.json) for p in consume_q.recentProgress],
            "delivery": sink.metrics.snapshot(),
            "sink_batch_size": sink.batch_size,
            "publish_spans": list(tracebus.SPANS),
        }
        produce_q.stop()
        consume_q.stop()
        report["stages"] = stages.isolate(spark, work)
        with open(os.path.join(work, "report.json"), "w") as fh:
            json.dump(report, fh)
    print("STOPPED", flush=True)
    # the process exits with the JVM still serving; run.py ends the group
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
