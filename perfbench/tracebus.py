"""A traced ``--pulsar.client`` factory: the FileBus with its publish timed.

``app.run`` builds its bus through ``resolve_bus``, so the benchmark can
time every publish without touching the pipeline: the sink callable it
hands to ``foreachBatch`` is wrapped, and each call becomes one
``bus.publish`` span. The app owns the bus object, so spans collect in
``SPANS``, which the system-under-test process reads when it stops.

Select it with ``--pulsar.client=perfbench.tracebus:traced_file_bus``.
"""

from __future__ import annotations

import time

from prometheus_pulsar_remote_write_spark.streaming.bus import FileBus

#: (epoch_id, start wall s, end wall s) per publish, in call order
SPANS: list = []


class _TimedSink:
    def __init__(self, inner):
        self.inner = inner

    def __call__(self, batch_df, epoch_id):
        start = time.time()
        self.inner(batch_df, epoch_id)
        SPANS.append((epoch_id, start, time.time()))


class TracedFileBus(FileBus):
    def sink(self):
        return _TimedSink(super().sink())


def traced_file_bus(bus_dir: str) -> TracedFileBus:
    return TracedFileBus(bus_dir)
