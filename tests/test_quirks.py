"""Quirk unit tests Q1-Q12 (SURVEY.md §2.10) + partitioned-vs-pandas fold
equivalence.

Every test runs through BOTH fold strategies — the partitioned
``mapInPandas`` fold and the per-group pandas oracle (``fold="pandas"``,
the direct transcription of the reference's ``feed_line``) — over the
Catalyst ``parse_lines`` output and asserts they agree, then asserts the
reference-verified expected values.
"""

import pytest

from postfix_log_parser_spark import parse_lines, sessionize
from postfix_log_parser_spark.sources.text import lines_df
from tests.conftest import utc

TS = "2024-04-09T20:22:4{i}.00000{j}+03:00 localhost postfix/x[1]:"


def _line(i, j, rest):
    return f"2024-04-09T20:22:4{i}.00000{j}+03:00 localhost postfix/x[1]: {rest}"


class Both:
    """Run a fixture through both fold strategies (partitioned default,
    per-group pandas oracle) and check equivalence: the reference
    transcription is the per-quirk oracle."""

    def __init__(self, spark, lines):
        lines = [ln for ln in lines if ln.strip()]
        results = {}
        for strategy in ("partitioned", "pandas"):
            parsed = parse_lines(lines_df(spark, lines))
            ev, fa, st = sessionize(parsed, keep_order_columns=True, fold=strategy)
            results[strategy] = (
                sorted(
                    (r.asDict(recursive=True) for r in ev.collect()),
                    key=lambda d: (d["queue_id"], d["_removed_seq"]),
                ),
                sorted(
                    ((r["fault_reason"], r["line"]) for r in fa.collect()),
                ),
                {r["queue_id"]: r.asDict(recursive=True) for r in st.collect()},
            )
        for evs, _, _ in results.values():
            for e in evs:
                e.pop("_start_seq", None)
                e.pop("_removed_seq", None)
        ne, nf, ns = results["partitioned"]
        oe, of, os_ = results["pandas"]
        assert ne == oe, f"events diverge vs pandas: {ne} vs {oe}"
        assert nf == of, f"faults diverge vs pandas: {nf} vs {of}"
        assert ns == os_, f"state diverges vs pandas: {ns} vs {os_}"
        self.events, self.faults, self.state = ne, nf, ns


@pytest.fixture(scope="session")
def run_both(spark):
    def _run(text: str) -> Both:
        return Both(spark, text.splitlines())

    return _run


def test_q1_last_wins_scalar_to_appends(run_both):
    r = run_both(
        f"""
{_line(0, 1, 'AAAAAAAAAAA: from=<first@a.com>, size=1')}
{_line(0, 2, 'AAAAAAAAAAA: from=<second@b.com>, message-id=<m@1>')}
{_line(0, 3, 'AAAAAAAAAAA: to=<x@c.com>, status=sent (250 2.0.0 ok fine)')}
{_line(0, 4, 'AAAAAAAAAAA: to=<y@d.com>, status=sent (250 2.0.0 ok fine)')}
{_line(0, 5, 'AAAAAAAAAAA: removed')}
"""
    )
    assert len(r.events) == 1
    e = r.events[0]
    assert e["message_from"] == "second@b.com"  # last wins
    assert e["message_to"] == ["x@c.com", "y@d.com"]  # to appends
    assert e["domains_to"] == ["c.com", "d.com"]


def test_q3_first_line_timestamp_not_min(run_both):
    # second line has an EARLIER event time; session timestamp must be the
    # first admitted line's, not the minimum (parse.py:414-415)
    r = run_both(
        f"""
{_line(5, 1, 'AAAAAAAAAAA: from=<a@b.c>, message-id=<m@1>')}
{_line(0, 2, 'AAAAAAAAAAA: to=<x@y.z>, status=sent (250 2.0.0 ok fine)')}
{_line(5, 3, 'AAAAAAAAAAA: removed')}
"""
    )
    assert r.events[0]["timestamp"] == utc("2024-04-09T20:22:45.000001+03:00")


def test_q4_failed_removed_keeps_session_open(run_both):
    # removed with missing 'to' faults; session stays open, accumulates,
    # and a later removed emits ONE event whose raw_log includes the
    # failed removed line (parse.py:352-353: del only after success)
    r = run_both(
        f"""
{_line(0, 1, 'AAAAAAAAAAA: from=<a@b.c>, message-id=<m@1>')}
{_line(0, 2, 'AAAAAAAAAAA: removed')}
{_line(0, 3, 'AAAAAAAAAAA: to=<x@y.z>, status=sent (250 2.0.0 ok fine)')}
{_line(0, 4, 'AAAAAAAAAAA: removed')}
"""
    )
    assert len(r.events) == 1
    assert len(r.faults) == 1
    assert r.faults[0][0] == "KeyError: 'to'"
    e = r.events[0]
    assert len(e["raw_log"]) == 4  # includes the failed removed line
    assert e["message_to"] == ["x@y.z"]
    assert r.state == {}


def test_q5_no_status_pair_emits_null_codes(run_both):
    r = run_both(
        f"""
{_line(0, 1, 'AAAAAAAAAAA: from=<a@b.c>, message-id=<m@1>')}
{_line(0, 2, 'AAAAAAAAAAA: to=<x@y.z>, status=deferred conversation timed out')}
{_line(0, 3, 'AAAAAAAAAAA: removed')}
"""
    )
    e = r.events[0]
    assert e["status"] == "deferred"
    assert e["status_code"] is None
    assert e["status_postfix_code"] is None
    assert e["status_description"] == "conversation timed out"


def test_q6_last_status_pair_wins(run_both):
    r = run_both(
        f"""
{_line(0, 1, 'AAAAAAAAAAA: from=<a@b.c>, message-id=<m@1>')}
{_line(0, 2, 'AAAAAAAAAAA: to=<x@y.z>, status=bounced (250 2.0.0 then 451 4.7.1 then 550 5.1.1 end)')}
{_line(0, 3, 'AAAAAAAAAAA: removed')}
"""
    )
    e = r.events[0]
    assert e["status_code"] == 550
    assert e["status_postfix_code"] == "5.1.1"


def test_q8_short_dovecot_faults_long_dovecot_ignored_by_state(run_both):
    r = run_both(
        """
Apr 30 15:09:27 lmtp(x)<1><y>: Info: sieve:
Apr 30 15:09:27 lmtp(x)<1><y>: Info: sieve: msgid=<m@1>: fileinto action: stored mail into mailbox 'Junk'
"""
    )
    assert len(r.events) == 0
    assert len(r.faults) == 1
    assert r.faults[0][0] == "IndexError: dovecot-shaped line too short"
    assert r.state == {}  # dovecot lines never enter session state


def test_q10_lowercase_queue_id_rejected(run_both):
    r = run_both(
        f"""
{_line(0, 1, '85c6c10208a: from=<a@b.c>, message-id=<m@1>')}
{_line(0, 2, '85c6c10208a: removed')}
"""
    )
    assert len(r.events) == 0
    assert len(r.faults) == 0
    assert r.state == {}


def test_q11_unterminated_ascii_subject_drops_last_token(run_both):
    r = run_both(
        f"""
{_line(0, 1, 'AAAAAAAAAAA: from=<a@b.c>, message-id=<m@1>')}
{_line(0, 2, 'AAAAAAAAAAA: warning: header Subject: hello world trailing')}
{_line(0, 3, 'AAAAAAAAAAA: to=<x@y.z>, status=sent (250 2.0.0 ok fine)')}
{_line(0, 4, 'AAAAAAAAAAA: removed')}
"""
    )
    assert r.events[0]["message_subject"] == "hello world"


def test_q12_mime_decode_error_faults(run_both):
    # =?UTF-8?X?...?= decodes to a str → .decode raises AttributeError in
    # the reference (parse.py:319-326); the line still reached raw_log
    r = run_both(
        f"""
{_line(0, 1, 'AAAAAAAAAAA: from=<a@b.c>, message-id=<m@1>')}
{_line(0, 2, 'AAAAAAAAAAA: warning: header Subject: =?UTF-8?X?zzz?= from local; from=<a@b.c> to=<x@y.z>')}
{_line(0, 3, 'AAAAAAAAAAA: to=<x@y.z>, status=sent (250 2.0.0 ok fine)')}
{_line(0, 4, 'AAAAAAAAAAA: removed')}
"""
    )
    assert len(r.faults) == 1
    assert r.faults[0][0].startswith("AttributeError")
    e = r.events[0]
    assert e["message_subject"] is None
    assert len(e["raw_log"]) == 4  # fault line still in raw_log
    # P9: the k=v tail of the subject line must NOT pollute fields —
    # from= stays the first line's value
    assert e["message_from"] == "a@b.c"


def test_q9_queue_reuse_two_events(run_both):
    r = run_both(
        f"""
{_line(0, 1, 'AAAAAAAAAAA: from=<a@b.c>, message-id=<m@1>')}
{_line(0, 2, 'AAAAAAAAAAA: to=<x@y.z>, status=sent (250 2.0.0 ok fine)')}
{_line(0, 3, 'AAAAAAAAAAA: removed')}
{_line(0, 4, 'AAAAAAAAAAA: from=<d@e.f>, message-id=<m@2>')}
{_line(0, 5, 'AAAAAAAAAAA: to=<g@h.i>, status=sent (250 2.0.0 ok fine)')}
{_line(0, 6, 'AAAAAAAAAAA: removed')}
"""
    )
    assert len(r.events) == 2
    assert r.events[0]["message_id"] == "m@1"
    assert r.events[1]["message_id"] == "m@2"
    assert len(r.events[0]["raw_log"]) == 3
    assert len(r.events[1]["raw_log"]) == 3


def test_dovecot_msgid_interval_respects_reassignment(run_both):
    # dovecot line between two message-id assignments only matches the
    # session whose message-id was current at that point in the log
    r = run_both(
        f"""
{_line(0, 1, 'AAAAAAAAAAA: from=<a@b.c>, message-id=<m@1>')}
Apr 30 15:09:27 lmtp(x)<1><y>: Info: sieve: msgid=<m@1>: fileinto action: stored mail into mailbox 'First'
{_line(0, 2, 'AAAAAAAAAAA: message-id=<m@2>')}
Apr 30 15:09:27 lmtp(x)<1><y>: Info: sieve: msgid=<m@1>: fileinto action: stored mail into mailbox 'Stale'
{_line(0, 3, 'AAAAAAAAAAA: to=<x@y.z>, status=sent (250 2.0.0 ok fine)')}
{_line(0, 4, 'AAAAAAAAAAA: removed')}
"""
    )
    e = r.events[0]
    # the second dovecot line refers to m@1 which is no longer current —
    # only the first (while m@1 was live) applies
    assert e["dovecot_fileinto_action"] == "stored mail into mailbox 'First'"


def test_dovecot_join_fallback_matches_broadcast(spark):
    """A dovecot-heavy log (max_broadcast_dovecot exceeded) switches J1 to
    the interval equi-join fallback; results must be identical to the
    broadcast path."""
    from postfix_log_parser_spark.operators.sessionize import sessionize as _sess

    lines = []
    for i in range(6):
        qid = format(0xA0 + i, "011X")
        lines += [
            _line(0, 1, f"{qid}: from=<s{i}@a.com>, message-id=<m@{i}>"),
            _line(0, 2, f"{qid}: to=<r{i}@b.org>, status=sent (250 2.0.0 ok fine)"),
            f"Apr 30 15:09:2{i} lmtp(x)<1><y>: Info: sieve: msgid=<m@{i}>: "
            f"fileinto action: stored mail into mailbox 'Box {i}'",
            _line(0, 3, f"{qid}: removed"),
        ]
    parsed = parse_lines(lines_df(spark, lines))

    def run(**kw):
        ev, fa, st = _sess(parsed, **kw)
        return (
            sorted(
                (r.asDict(recursive=True) for r in ev.collect()),
                key=lambda d: d["queue_id"],
            ),
            sorted((r["fault_reason"], r["line"]) for r in fa.collect()),
            sorted(r["queue_id"] for r in st.collect()),
        )

    bcast = run()
    joined = run(max_broadcast_dovecot=0)  # forces the equi-join fallback
    assert joined == bcast
    assert all(
        e["dovecot_fileinto_action"] == f"stored mail into mailbox 'Box {i}'"
        for i, e in enumerate(bcast[0])
    )


def test_divergence4_state_keyed_tokens_are_inert(run_both):
    """COVERAGE.md divergence 4, pinned: k=v tokens literally named
    raw_log= / timestamp= corrupt the reference's state dict (its
    _set_fields writes them into the same namespace as its bookkeeping,
    parse.py:299-302 — raw_log becomes a string so every later line for
    the queue faults on .append; a string timestamp kills the cleanup
    comparison).  Here the fields map is namespaced away from the
    engine's bookkeeping, so these keys are ordinary inert fields: the
    session folds and closes normally, raw_log holds the actual lines,
    and the event timestamp is the first line's parsed head timestamp —
    a deliberate, documented robustness improvement, identical across
    both fold strategies."""
    import datetime

    r = run_both(
        f"""
{_line(0, 1, 'AAAAAAAAAAA: from=<a@b.c>, raw_log=evil, message-id=<m@1>')}
{_line(0, 2, 'AAAAAAAAAAA: timestamp=2030-01-01T00:00:00, size=9')}
{_line(0, 3, 'AAAAAAAAAAA: to=<x@c.com>, status=sent (250 2.0.0 ok fine)')}
{_line(0, 4, 'AAAAAAAAAAA: removed')}
"""
    )
    assert r.faults == []
    assert len(r.events) == 1
    e = r.events[0]
    assert e["message_from"] == "a@b.c"
    assert len(e["raw_log"]) == 4  # the real lines, not the injected value
    assert all("AAAAAAAAAAA" in ln for ln in e["raw_log"])
    # first HEAD timestamp, not the injected timestamp= token
    assert e["timestamp"] == datetime.datetime(2024, 4, 9, 17, 22, 40, 1)


def test_unknown_fold_strategy_raises(spark):
    parsed = parse_lines(lines_df(spark, [_line(0, 1, "AAAAAAAAAAA: removed")]))
    with pytest.raises(ValueError, match="unknown fold strategy"):
        sessionize(parsed, fold="native")
