"""Structured-Streaming histograms (engine extension — the reference is
batch-only, SURVEY.md §2.3 'Streaming: absent').

A streaming histogram is the same declarative plan as the batch fill
(bin exprs -> groupBy -> storage aggs) with an event-time window key
prepended and a watermark for late data; Spark's incremental state
store maintains the per-(window, bin) accumulators.  Because the fill
is expressed over built-in aggregates, it runs in every output mode
('update' for dashboards, 'append' after watermark close).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame

from ..fill import (
    ColumnLike,
    FillSpec,
    WeightLike,
    _aggs,
    _as,
    _fill_text,
    _quote,
    _with_inputs,
)
from ..spec import HistogramSpec

__all__ = ["streaming_histogram", "windowed_histogram"]


def windowed_histogram(
    df: DataFrame,
    ts_col: str,
    cols: Sequence[ColumnLike],
    spec: HistogramSpec,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "1 hour",
    weight: WeightLike = None,
    sample: ColumnLike | None = None,
) -> DataFrame:
    """Event-time-windowed histogram; works identically on batch and
    streaming DataFrames (the streaming case adds the watermark).

    Output: (window_start, window_end, bin_0.., <accumulators>).
    """
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    win = f"window({_quote(ts_col)}, '{window}', '{slide or window}') AS __win"
    weighted = weight is not None or spec.storage.needs_weight
    pre: list = []
    items = _fill_text(spec, FillSpec(df, tuple(cols), weight, sample),
                       weighted, pre)
    return (
        _with_inputs(df, pre).selectExpr(win, *_as(items))
        .groupBy("__win", *spec.bin_cols)
        .agg(*_aggs(spec, weighted))
        .selectExpr("__win.start AS window_start", "__win.end AS window_end",
                    *(f"`{c}`" for c in spec.bin_cols + spec.value_cols))
    )


def streaming_histogram(
    df: DataFrame,
    ts_col: str,
    cols: Sequence[ColumnLike],
    spec: HistogramSpec,
    window: str = "1 hour",
    watermark: str = "1 hour",
    weight: WeightLike = None,
):
    """Convenience: windowed_histogram + a memory-sink writeStream
    handle (caller starts/stops the query)."""
    out = windowed_histogram(df, ts_col, cols, spec, window=window,
                             watermark=watermark, weight=weight)
    return out.writeStream.outputMode("update").format("memory")
