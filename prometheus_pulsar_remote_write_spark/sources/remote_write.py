"""A1/A4: the remote-write wire edges as DataFrame operators.

Ingest (A1, reference pkg/app/produce.go:124-153): a body is
snappy(proto(WriteRequest)). ``decode_remote_write`` turns a DataFrame of
raw bodies (binary column, e.g. from a binaryFile batch/stream source or
an HTTP collector drop-dir) into WRITE_REQUEST-shaped rows. Decode
failures yield a null timeseries (the reference answers 400 and drops the
request) -- split good/bad downstream.

Egress (A4, reference pkg/remote/write.go:184-196): ``encode_remote_write``
renders nested WriteRequest rows back to snappy(proto) bodies ready to POST.

Both are Arrow-batched stages (``mapInArrow`` / ``mapInPandas``): narrow,
no shuffle, scale with input partitions. The heavy lifting per row is
pure-Python codec work, which is exactly the kind of per-record
transcoding the reference also does once per request.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..schema import TIMESERIES_SCHEMA
from . import prompb, snappy_codec


def _decoded_schema(keep_fields: list[T.StructField]) -> T.StructType:
    return T.StructType(
        list(keep_fields)
        + [
            T.StructField("timeseries", T.ArrayType(TIMESERIES_SCHEMA), True),
            T.StructField("decode_error", T.StringType(), True),
        ]
    )


def decode_remote_write(
    df: DataFrame, body_col: str = "content", keep_cols: list[str] | None = None
) -> DataFrame:
    """snappy(proto) bodies -> WriteRequest rows (+ decode_error for poison).

    Arrow in, Arrow out (``mapInArrow``): the nested timeseries are built
    straight as Arrow arrays, so a NaN sample value (Prometheus' staleness
    marker) stays NaN -- a pandas round trip would turn it into a null.
    A label name repeated within one series keeps its last value, as the
    reference's label map does, so ``flatten_write_requests`` can build
    its label map."""
    from pyspark.sql.pandas.types import to_arrow_type

    keep_cols = keep_cols or []
    keep_fields = [f for f in df.schema.fields if f.name in keep_cols]
    out_schema = _decoded_schema(keep_fields)
    names = [f.name for f in out_schema.fields]
    ts_type = to_arrow_type(out_schema["timeseries"].dataType)

    def _decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            timeseries, errors = [], []
            for body in batch.column(body_col).to_pylist():
                try:
                    raw = snappy_codec.decompress(body)
                    req = prompb.decode_write_request(raw)
                    for ts in req["timeseries"]:
                        last = {l["name"]: l["value"] for l in ts["labels"]}
                        ts["labels"] = [{"name": n, "value": v} for n, v in last.items()]
                    timeseries.append(req["timeseries"])
                    errors.append(None)
                except Exception as exc:  # 400-path: keep the poison visible
                    timeseries.append(None)
                    errors.append(str(exc))
            yield pa.RecordBatch.from_arrays(
                [batch.column(f.name) for f in keep_fields]
                + [pa.array(timeseries, ts_type), pa.array(errors, pa.string())],
                names=names,
            )

    return df.mapInArrow(_decode, out_schema)


def encode_remote_write(
    df: DataFrame, timeseries_col: str = "timeseries", keep_cols: list[str] | None = None
) -> DataFrame:
    """Nested WriteRequest rows -> snappy(proto) request bodies."""
    keep_cols = keep_cols or []
    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name in keep_cols]
        + [T.StructField("body", T.BinaryType(), False)]
    )
    names = [f.name for f in out_schema.fields]

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, ts_list in enumerate(pdf[timeseries_col]):
                base = {c: pdf[c].iloc[i] for c in keep_cols}
                req = {
                    "timeseries": [
                        {
                            "labels": [dict(l) for l in ts["labels"]],
                            "samples": [dict(s) for s in ts["samples"]],
                        }
                        for ts in ts_list
                    ]
                }
                base["body"] = snappy_codec.compress(prompb.encode_write_request(req))
                rows.append(base)
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(_encode, out_schema)
