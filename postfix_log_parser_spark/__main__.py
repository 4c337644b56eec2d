"""CLI runner — the Spark twin of the reference's ``__main__`` path
(``lognormalizer/parse.py:508-520``: ``cat /var/log/mail.log* | parse.py``).

Batch:
    python -m postfix_log_parser_spark mail.log [mail.log.1 ...] --out outdir
    cat mail.log | python -m postfix_log_parser_spark --out outdir
    python -m postfix_log_parser_spark mail.log            # events as JSON lines

Streaming (file-drop directory):
    python -m postfix_log_parser_spark --stream logs/ --out outdir --checkpoint ck/

Instead of the reference's per-event ClickHouse HTTP insert the events land
as date-partitioned, time-sorted parquet (``sinks.write_events``); faults
(the ``on_fault`` side channel) and residual open-session state are written
alongside.  With no ``--out``, events print as JSON lines on stdout (the
library-embedding / debugging path).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F


def build_arg_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="postfix_log_parser_spark",
        description="PySpark-native postfix log sessionizer",
    )
    p.add_argument("inputs", nargs="*", help="log files/dirs/globs; empty or '-' = stdin")
    p.add_argument("--out", help="output directory (events/, faults/, state/ parquet)")
    p.add_argument("--stream", action="store_true", help="watch inputs[0] as a stream")
    p.add_argument(
        "--checkpoint",
        help="streaming checkpoint root (required with --stream; the events "
        "and faults queries checkpoint under <dir>/events and <dir>/faults)",
    )
    p.add_argument("--ttl", default="10 minutes", help="streaming state TTL (default: reference's 10 minutes)")
    p.add_argument(
        "--ttl-mode",
        default="event-time",
        choices=["event-time", "processing-time"],
        help="eviction clock: event-time (deterministic watermark, default) "
        "or processing-time (strict reference Q9 parity: wall-clock "
        "deadline = first event ts + TTL)",
    )
    p.add_argument(
        "--once",
        action="store_true",
        help="streaming: process available input (availableNow) and exit",
    )
    p.add_argument("--master", default=None, help="Spark master override")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_arg_parser().parse_args(argv)
    from postfix_log_parser_spark.session import get_spark

    spark = get_spark("postfix-log-parser-cli")

    if args.stream:
        if not args.inputs or not args.out or not args.checkpoint:
            print("--stream needs an input dir, --out and --checkpoint", file=sys.stderr)
            return 2
        from postfix_log_parser_spark.streaming import (
            sessionize_stream,
            stream_events,
            stream_faults,
            stream_pre_faults,
        )

        folded = sessionize_stream(
            spark.readStream.text(args.inputs[0]),
            ttl=args.ttl,
            timeout_mode=args.ttl_mode,
        )
        ev_writer = (
            stream_events(folded)
            .writeStream.format("parquet")
            .option("path", f"{args.out}/events")
            .option("checkpointLocation", f"{args.checkpoint}/events")
        )
        # on_fault parity with the batch CLI (reference parse.py:265-270):
        # fold faults (Q4/Q12) union stateless pre-faults (short dovecot
        # lines, Q8) land in {out}/faults as one query
        fa_writer = (
            stream_faults(folded)
            .unionByName(stream_pre_faults(spark.readStream.text(args.inputs[0])))
            .writeStream.format("parquet")
            .option("path", f"{args.out}/faults")
            .option("checkpointLocation", f"{args.checkpoint}/faults")
        )
        if args.once:
            ev_writer = ev_writer.trigger(availableNow=True)
            fa_writer = fa_writer.trigger(availableNow=True)
        ev_query = ev_writer.start()
        fa_query = fa_writer.start()
        if args.once:
            ev_query.awaitTermination()
            fa_query.awaitTermination()
        else:  # run until either query stops (error or external stop)
            spark.streams.awaitAnyTermination()
        return 0

    from postfix_log_parser_spark.operators.parse import parse_lines_arrow
    from postfix_log_parser_spark.operators.sessionize import sessionize
    from postfix_log_parser_spark.sinks import write_events
    from postfix_log_parser_spark.sources.text import lines_df, read_text

    if not args.inputs or args.inputs == ["-"]:
        lines = lines_df(spark, [ln.rstrip("\n") for ln in sys.stdin])
    else:
        lines = read_text(spark, args.inputs)

    events, faults, state = sessionize(parse_lines_arrow(lines), raw_lines=lines)

    if args.out:
        write_events(events, f"{args.out}/events", mode="overwrite")
        faults.write.mode("overwrite").parquet(f"{args.out}/faults")
        state.write.mode("overwrite").parquet(f"{args.out}/state")
        n_ev = spark.read.parquet(f"{args.out}/events").count()
        n_fa = spark.read.parquet(f"{args.out}/faults").count()
        print(f"events={n_ev} faults={n_fa} -> {args.out}", file=sys.stderr)
    else:
        out = events.withColumn(
            "timestamp", F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
        )
        for row in out.toJSON().toLocalIterator():
            print(row)
    return 0


if __name__ == "__main__":
    sys.exit(main())
