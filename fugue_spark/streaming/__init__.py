"""Structured Streaming surface — the bounded/unbounded half of the data
model the reference declares but never implements (SURVEY §2.7: fugue has
``is_bounded``/LocalUnboundedDataFrame but no watermarks, windows, state,
or sinks). Here the flag maps onto real Spark streaming:

* ``load_stream``        — ``spark.readStream`` with the batch schema
  (schema inference is done on a bounded read of the same path, so batch
  and stream agree by construction).
* ``with_event_time``    — watermarking.
* ``windowed_agg`` / ``session_agg`` — tumbling/sliding and session
  windows over event time.
* ``transform_stream``   — the map engine for streams: the ungrouped
  transform path (mapInArrow) works unchanged on streaming frames (same
  annotation dispatch).
* ``stateful_transform`` — ``applyInPandasWithState`` wrapper for custom
  per-key state machines.
* ``run_to_memory`` / ``write_stream`` — sinks; ``run_to_memory`` drives
  all available input synchronously (the deterministic test/CI path).
"""

from __future__ import annotations

import os
import re
import tempfile
from typing import Any, Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_INTERVAL_UNITS_MS = {
    "millisecond": 1,
    "second": 1000,
    "minute": 60_000,
    "hour": 3_600_000,
    "day": 86_400_000,
    "week": 604_800_000,
}


def _interval_ms(interval: str) -> int:
    """Parse a Spark-style interval string ('10 minutes', '1 hour') to ms."""
    total = 0
    for num, unit in re.findall(r"(\d+)\s*([a-zA-Z]+)", interval):
        u = unit.lower().rstrip("s")
        if u not in _INTERVAL_UNITS_MS:
            raise ValueError(f"unsupported interval unit {unit!r} in {interval!r}")
        total += int(num) * _INTERVAL_UNITS_MS[u]
    if total <= 0:
        raise ValueError(f"cannot parse interval {interval!r}")
    return total

__all__ = [
    "load_stream",
    "with_event_time",
    "windowed_agg",
    "session_agg",
    "transform_stream",
    "stateful_transform",
    "run_to_memory",
    "write_stream",
    "stream_dedup_exact",
]


def load_stream(
    spark: SparkSession,
    path: str,
    format_hint: "str | None" = None,
    schema: Any = None,
    ts_nanos_col: "str | None" = None,
    **options: str,
) -> DataFrame:
    """Open a file-based stream with the schema taken from a bounded read
    of the same path (streams require explicit schemas).

    ``ts_nanos_col`` names the event-time column and accepts TWO layouts:
    an int64 epoch-nanoseconds column (the driver's events.parquet shape —
    converted via micros truncation) or a column that is already
    timestamp / timestamp_ntz (passed through; plain timestamp is
    reinterpreted as NTZ under the engine's fixed UTC session timezone,
    so wall-clock values are unchanged). Any other column type is a
    ValueError naming the available columns."""
    from fugue_spark.sources import infer_format

    fmt = format_hint or infer_format(path)
    if schema is None:
        schema = spark.read.format(fmt).options(**options).load(path).schema
    else:
        from fugue_spark.schema import parse_schema

        schema = parse_schema(schema)
    if os.path.isfile(path):
        # file streams need a directory or glob; turn a plain file path into
        # an equivalent single-file glob so basePath resolves to the dir
        d, base = os.path.split(path)
        path = os.path.join(d, "[" + base[0] + "]" + base[1:])
    reader = spark.readStream.format(fmt).schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    df = reader.load(path)
    if ts_nanos_col is not None:
        from pyspark.sql import types as T

        # resolve case-insensitively, matching Spark's analyzer default
        field = next(
            (f for f in df.schema.fields if f.name.lower() == ts_nanos_col.lower()),
            None,
        )
        if field is None:
            raise ValueError(
                f"ts_nanos_col {ts_nanos_col!r} not found; columns: {df.columns}"
            )
        dt = field.dataType
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            conv = F.col(field.name).cast("timestamp_ntz")
        elif isinstance(dt, T.IntegralType):  # epoch-nanos long
            conv = F.timestamp_micros(F.expr(f"`{field.name}` div 1000")).cast(
                "timestamp_ntz"
            )
        else:
            raise ValueError(
                f"ts_nanos_col {field.name!r} must be timestamp or integral "
                f"epoch-nanos, got {dt.simpleString()}"
            )
        df = df.withColumn(field.name, conv)
    return df


def with_event_time(df: DataFrame, ts_col: str, watermark: str = "10 minutes") -> DataFrame:
    """Declare event time + lateness bound. Watermarks bound state size —
    without one, windowed state grows forever at scale."""
    ts = df[ts_col]
    from pyspark.sql import types as T

    if isinstance(df.schema[ts_col].dataType, T.TimestampNTZType):
        df = df.withColumn(ts_col, ts.cast("timestamp"))
    return df.withWatermark(ts_col, watermark)


def windowed_agg(
    df: DataFrame,
    ts_col: str,
    window: str,
    aggs: dict[str, Any],
    by: "list[str] | None" = None,
    slide: "str | None" = None,
    watermark: "str | None" = None,
) -> DataFrame:
    """Tumbling (or sliding) event-time window aggregation; emits
    window_start/window_end plus the grouping keys and aggregates."""
    if watermark is not None:
        df = with_event_time(df, ts_col, watermark)
    win = F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    keys = [win] + [F.col(c) for c in (by or [])]
    agg_cols = [v.alias(k) if hasattr(v, "alias") else v for k, v in aggs.items()]
    out = df.groupBy(*keys).agg(*agg_cols)
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *(by or []),
        *aggs.keys(),
    )


def session_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    aggs: dict[str, Any],
    by: "list[str] | None" = None,
    watermark: "str | None" = None,
) -> DataFrame:
    """Session windows (dynamic length, closed after ``gap`` of silence)."""
    if watermark is not None:
        df = with_event_time(df, ts_col, watermark)
    win = F.session_window(F.col(ts_col), gap)
    keys = [win] + [F.col(c) for c in (by or [])]
    agg_cols = [v.alias(k) if hasattr(v, "alias") else v for k, v in aggs.items()]
    out = df.groupBy(*keys).agg(*agg_cols)
    return out.select(
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        *(by or []),
        *aggs.keys(),
    )


def transform_stream(df: DataFrame, using: Callable, schema: Any, params: "dict | None" = None) -> DataFrame:
    """Map engine over a stream: the ungrouped transform path (mapInArrow)
    applies unchanged — an ``Iterable[...]`` function sees Arrow batches as
    they arrive; any other form gets each micro-batch partition whole."""
    from fugue_spark.transform import transform

    return transform(df, using, schema=schema, params=params)


def stateful_transform(
    df: DataFrame,
    keys: list[str],
    fn: Callable,
    output_schema: Any,
    state_schema: Any,
    output_mode: str = "append",
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Custom per-key stateful operator (applyInPandasWithState).

    ``fn(key, pdf_iter, state) -> Iterable[pd.DataFrame]`` with
    ``state: GroupState`` — arbitrary running state per key, the Spark
    equivalent of a custom streaming operator."""
    from fugue_spark.schema import parse_schema

    return df.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=parse_schema(output_schema),
        stateStructType=parse_schema(state_schema),
        outputMode=output_mode,
        timeoutConf=timeout,
    )


def run_to_memory(df: DataFrame, name: str, output_mode: str = "complete") -> DataFrame:
    """Drive the stream over all currently-available input synchronously
    and return the result as a bounded DataFrame (memory sink) — the
    deterministic smoke path for CI; production uses write_stream."""
    spark = df.sparkSession
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def write_stream(
    df: DataFrame,
    path: str,
    format: str = "parquet",
    checkpoint: "str | None" = None,
    output_mode: str = "append",
    trigger_once: bool = True,
    **options: str,
):
    """File sink with checkpointing (exactly-once for file formats)."""
    checkpoint = checkpoint or os.path.join(
        tempfile.gettempdir(), "fugue_spark_stream_ckpt", os.path.basename(path)
    )
    w = (
        df.writeStream.format(format)
        .outputMode(output_mode)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    for k, v in options.items():
        w = w.option(k, v)
    if trigger_once:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_dedup_exact(
    df: DataFrame,
    keys: list[str],
    output_mode: str = "append",
    event_time: "str | None" = None,
    watermark: str = "10 minutes",
    state_ttl: "str | None" = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: emit only the FIRST row seen per key
    (per-key boolean state via applyInPandasWithState).

    With ``event_time`` set, state is BOUNDED: the event-time column is
    watermarked and each key's state expires ``state_ttl`` after the
    newest event seen for that key (EventTimeTimeout — expiry fires when
    the watermark passes the deadline, and Spark also drops the key's
    late rows past the watermark). A key that reappears after expiry is
    re-emitted — the standard bounded-memory dedup tradeoff: on an
    unbounded stream at 100 TB/day, unexpiring state grows with distinct
    keys forever; TTL caps it at the keys active within one TTL window.

    Without ``event_time`` state never expires (only safe for bounded
    backfills).
    """
    out_schema = df.schema
    use_ttl = event_time is not None
    if use_ttl:
        if state_ttl is None:
            raise ValueError("state_ttl is required when event_time is set")
        df = with_event_time(df, event_time, watermark)
        ttl_ms = _interval_ms(state_ttl)

    def first_only(key, pdfs, state):
        if use_ttl and state.hasTimedOut:
            # watermark passed this key's deadline: drop the flag
            state.remove()
            return
        seen = state.exists
        first_rows = None
        newest: "int | None" = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            if first_rows is None and not seen:
                first_rows = pdf.iloc[:1]
            if use_ttl:
                m = pdf[event_time].max()
                t = int(pd.Timestamp(m).value // 1_000_000)
                newest = t if newest is None else max(newest, t)
            elif first_rows is not None:
                break
        if not seen:
            state.update((True,))
        if use_ttl and newest is not None:
            state.setTimeoutTimestamp(newest + ttl_ms)
        if first_rows is not None:
            yield first_rows

    return df.groupBy(*keys).applyInPandasWithState(
        first_only,
        outputStructType=out_schema,
        stateStructType="seen boolean",
        outputMode=output_mode,
        timeoutConf="EventTimeTimeout" if use_ttl else "NoTimeout",
    )
