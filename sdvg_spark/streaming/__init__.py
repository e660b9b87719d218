from sdvg_spark.streaming.generate import stream_model
from sdvg_spark.streaming.ops import (
    stream_running_totals,
    sessionize_stream,
    stream_dedup,
    stream_funnel,
    stream_funnel_replay,
    windowed_agg,
)

__all__ = [
    "stream_model",
    "windowed_agg",
    "sessionize_stream",
    "stream_dedup",
    "stream_funnel",
    "stream_funnel_replay",
    "stream_running_totals",
]
