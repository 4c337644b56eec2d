"""Structured Streaming twin of the batch pipeline (SURVEY.md §2 A1-A3).

``spark.readStream.text`` → ``sessionize_stream`` (``prepare_stream``
attaches the order key, the state worker parses each line and feeds it
to the batch fold's ``_QueueFolder``, restored from and saved to the
group state) is the streaming mirror of the batch fused plan
``read_text`` → ``sessionize(parse_lines_arrow(raw), raw_lines=raw)``:
one state machine for batch and stream.
"""

from postfix_log_parser_spark.streaming.sessionize_stream import (
    STREAM_OUT_SCHEMA,
    prepare_stream,
    sessionize_stream,
    stream_events,
    stream_faults,
    stream_pre_faults,
)

__all__ = [
    "STREAM_OUT_SCHEMA",
    "prepare_stream",
    "sessionize_stream",
    "stream_events",
    "stream_faults",
    "stream_pre_faults",
]
