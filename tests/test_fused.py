"""Differential gate for the fused parse+fold plan of
``sessionize(parse_lines_arrow(raw), raw_lines=raw)``: events, faults,
and state must match the two-stage Arrow parse + partitioned fold
row-for-row on every golden fixture and on a synthetic interleaved log.
A parsed DataFrame derived from ``parse_lines_arrow`` (here ``select("*")``)
does not fuse, so it runs the two-stage plan."""

import pytest

import postfix_log_parser_spark.logquery as lq
from postfix_log_parser_spark.operators.parse import parse_lines_arrow
from postfix_log_parser_spark.operators.sessionize import sessionize
from postfix_log_parser_spark.sources.text import lines_df

FIXTURES = {
    "basic": lq.BASIC,
    "mixed": lq.MIXED,
    "subject": lq.SUBJECT,
    "ascii_subject": lq.ASCII_SUBJECT,
    "dovecot": lq.DOVECOT,
    "multiple_to": lq.MULTIPLE_TO,
    "all_events": lq.ALL_EVENTS_FIXTURE,
    "stream_events": lq.STREAM_EVENTS_FIXTURE,
}


def _fused(raw, **kw):
    return sessionize(parse_lines_arrow(raw), raw_lines=raw, **kw)


def _rows(df, order_cols):
    return [
        tuple(sorted(r.asDict(recursive=True).items()))
        for r in df.orderBy(*order_cols).collect()
    ]


def _run_both(spark, text):
    raw1 = lines_df(spark, text.splitlines())
    un = sessionize(
        parse_lines_arrow(raw1).select("*"), raw_lines=raw1, keep_order_columns=True
    )
    raw2 = lines_df(spark, text.splitlines())
    fu = _fused(raw2, keep_order_columns=True)
    return un, fu


@pytest.mark.parametrize("name", sorted(FIXTURES))
def test_fused_matches_unfused(spark, name):
    (ev1, fa1, st1), (ev2, fa2, st2) = _run_both(spark, FIXTURES[name])
    assert _rows(ev1, ["_removed_seq"]) == _rows(ev2, ["_removed_seq"])
    assert sorted(_rows(fa1, ["line"])) == sorted(_rows(fa2, ["line"]))
    assert _rows(st1, ["queue_id"]) == _rows(st2, ["queue_id"])


def test_fused_matches_unfused_synth(spark):
    from bench import synth_log_lines

    text = "\n".join(synth_log_lines(500))
    (ev1, fa1, st1), (ev2, fa2, st2) = _run_both(spark, text)
    assert _rows(ev1, ["_removed_seq"]) == _rows(ev2, ["_removed_seq"])
    assert sorted(_rows(fa1, ["line"])) == sorted(_rows(fa2, ["line"]))
    assert _rows(st1, ["queue_id"]) == _rows(st2, ["queue_id"])


def test_fused_empty_input(spark):
    ev, fa, st = _fused(lines_df(spark, []))
    assert ev.count() == 0 and fa.count() == 0 and st.count() == 0


def test_fused_garbage_only_input(spark):
    ev, fa, st = _fused(
        lines_df(spark, ["", "   ", "one two", "not a log line at all"])
    )
    assert ev.count() == 0 and fa.count() == 0 and st.count() == 0


def test_fused_oversized_dim_falls_back(spark):
    """max_broadcast_dovecot=0 forces the scale J1 (exploded intervals
    joined to the sieve dim) — results must be identical."""
    (ev1, fa1, st1), _ = _run_both(spark, FIXTURES["dovecot"])
    ev2, fa2, st2 = _fused(
        lines_df(spark, FIXTURES["dovecot"].splitlines()),
        keep_order_columns=True,
        max_broadcast_dovecot=0,
    )
    assert _rows(ev1, ["_removed_seq"]) == _rows(ev2, ["_removed_seq"])
    assert sorted(_rows(fa1, ["line"])) == sorted(_rows(fa2, ["line"]))
    assert _rows(st1, ["queue_id"]) == _rows(st2, ["queue_id"])
