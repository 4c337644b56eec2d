"""Streaming sessionizer tests (SURVEY.md §5.2 step 4): batch/stream
equivalence on fixture replays, cross-micro-batch session state, and
event-time TTL eviction (A3)."""

import pytest

from postfix_log_parser_spark import parse_lines, sessionize
from postfix_log_parser_spark.sources.text import lines_df
from postfix_log_parser_spark.streaming import (
    STREAM_OUT_SCHEMA,
    sessionize_stream,
    stream_events,
    stream_faults,
    stream_pre_faults,
)
from tests.test_quirks import _line

FIXTURE = f"""
{_line(0, 1, 'AAAAAAAAAAA: client=unknown[10.0.0.1], sasl_method=PLAIN')}
{_line(0, 2, 'AAAAAAAAAAA: message-id=<m@1>')}
{_line(0, 3, 'BBBBBBBBBBB: from=<other@b.org>, message-id=<m@2>')}
{_line(0, 4, 'AAAAAAAAAAA: from=<sender@a.com>, size=100, nrcpt=1 (queue active)')}
Apr 30 15:09:27 lmtp(x)<1><y>: Info: sieve: msgid=<m@1>: fileinto action: stored mail into mailbox Inbox
{_line(0, 6, 'AAAAAAAAAAA: to=<rcpt@c.net>, relay=x, dsn=2.0.0, status=sent (250 2.0.0 ok Saved)')}
{_line(0, 7, 'noise line that is dropped early')}
{_line(0, 8, 'AAAAAAAAAAA: removed')}
{_line(0, 9, 'BBBBBBBBBBB: removed')}
{_line(1, 0, 'x Info:')}
"""
# session A: complete, with dovecot correlation.  session B: removed with
# missing to/status -> Q4 KeyError fault, stays open.  The 4th-token
# 'Info:' line is dovecot-shaped-but-short -> IndexError pre-fault (Q8).
# NOTE the sieve line is a mixed-format dovecot line: it is resolved
# scan-locally in streaming and via msgid intervals in batch.


def await_stream(q, timeout: int = 300) -> None:
    """Wait for an availableNow query to finish.  A query that is still
    running after ``timeout`` seconds fails the test instead of silently
    spending the whole wait."""
    assert q.awaitTermination(timeout), (
        f"streaming query {q.name or q.id} did not finish within {timeout} s"
    )


def _run_stream(spark, in_dir, ckpt, qname):
    folded = sessionize_stream(spark.readStream.text(str(in_dir)))
    q = (
        folded.writeStream.format("memory")
        .queryName(qname)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    return spark.table(qname)


def run_to_parquet(spark, tmp_path, **kwargs):
    """One availableNow run of ``sessionize_stream`` over ``tmp_path/in``
    into a parquet file sink at ``tmp_path/out`` (checkpoint
    ``tmp_path/ckpt``; the memory sink does not recover across restarts).
    Returns everything the sink holds so far."""
    folded = sessionize_stream(spark.readStream.text(str(tmp_path / "in")), **kwargs)
    q = (
        folded.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    return spark.read.schema(STREAM_OUT_SCHEMA).parquet(str(tmp_path / "out"))


def test_stream_matches_batch(spark, tmp_path):
    lines = [ln for ln in FIXTURE.splitlines() if ln.strip()]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "mail.log").write_text("\n".join(lines))

    folded = _run_stream(spark, in_dir, tmp_path / "ckpt", "stream_eq")
    s_events = sorted(
        (r.asDict(recursive=True) for r in stream_events(folded).collect()),
        key=lambda d: d["queue_id"],
    )
    s_faults = sorted(
        (r["fault_reason"], r["line"]) for r in stream_faults(folded).collect()
    )

    parsed = parse_lines(lines_df(spark, lines))
    b_events_df, b_faults_df, _ = sessionize(parsed)
    b_events = sorted(
        (r.asDict(recursive=True) for r in b_events_df.collect()),
        key=lambda d: d["queue_id"],
    )
    b_fold_faults = sorted(
        (r["fault_reason"], r["line"])
        for r in b_faults_df.collect()
        if r["fault_reason"].startswith("KeyError")
    )

    assert s_events == b_events
    assert s_faults == b_fold_faults
    # the dovecot action made it through the scan-local correlation
    assert s_events[0]["dovecot_fileinto_action"] == "stored mail into mailbox Inbox"

    # stateless pre-fold faults (Q8 short dovecot line)
    pf = stream_pre_faults(spark.readStream.text(str(in_dir)))
    q = (
        pf.writeStream.format("memory")
        .queryName("stream_prefaults")
        .option("checkpointLocation", str(tmp_path / "ckpt_pf"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    pre = spark.table("stream_prefaults").collect()
    assert any("IndexError" in r["fault_reason"] for r in pre)


def test_stream_multibatch_state_and_ttl(spark, tmp_path):
    """A session split across micro-batches closes correctly (state carries
    over); an abandoned session evicts once the watermark passes its
    first-timestamp + TTL (the reference's OLD_LOGS horizon, parse.py:77,
    as an event-time timeout).  Uses a parquet file sink — the memory sink
    does not support checkpoint recovery across restarts."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()

    # batch 1: first half of session D + all of abandoned session E
    (in_dir / "01.log").write_text(
        "\n".join(
            [
                _line(0, 1, "DDDDDDDDDDD: from=<d@d.com>, message-id=<m@d>"),
                _line(0, 2, "EEEEEEEEEEE: from=<e@e.com>, message-id=<m@e>"),
            ]
        )
    )
    assert run_to_parquet(spark, tmp_path).count() == 0  # both sessions still open

    # batch 2: second half of session D (same event-time neighborhood)
    (in_dir / "02.log").write_text(
        "\n".join(
            [
                _line(0, 3, "DDDDDDDDDDD: to=<x@y.z>, status=sent (250 2.0.0 ok fine)"),
                _line(0, 4, "DDDDDDDDDDD: removed"),
            ]
        )
    )
    out2 = run_to_parquet(spark, tmp_path)
    evs = [r for r in out2.collect() if r["record_type"] == "event"]
    assert [e["queue_id"] for e in evs] == ["DDDDDDDDDDD"]
    assert len(evs[0]["raw_log"]) == 3  # lines from both batches

    # batch 3: event time jumps ~1h -> watermark passes E's TTL;
    # batch 4 (any data) fires the timeout and emits the eviction
    (in_dir / "03.log").write_text(
        _line(0, 5, "FFFFFFFFFFF: from=<f@f.com>").replace("T20:22:4", "T21:22:4")
    )
    run_to_parquet(spark, tmp_path)
    (in_dir / "04.log").write_text(
        _line(0, 6, "FFFFFFFFFFF: size=1").replace("T20:22:4", "T21:23:4")
    )
    out4 = run_to_parquet(spark, tmp_path)
    evicted = [r for r in out4.collect() if r["record_type"] == "evicted"]
    assert [r["queue_id"] for r in evicted] == ["EEEEEEEEEEE"]
    assert dict(evicted[0]["fields"])["from"] == "<e@e.com>"


def test_stream_dovecot_cross_batch(spark, tmp_path):
    """A sieve line arriving in a LATER micro-batch (and therefore a
    different scan partition) still correlates: the msgid→queue assignment
    is held in the stream-stream join's state store across batches.  This
    was the round-2 documented divergence 3, now closed."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()

    # batch 1: the session assigns its message-id, no sieve line yet
    (in_dir / "01.log").write_text(
        "\n".join(
            [
                _line(0, 1, "ABABABABAB1: from=<g@g.com>, message-id=<m@g>"),
                _line(0, 2, "ABABABABAB1: to=<x@y.z>, status=sent (250 2.0.0 ok fine)"),
            ]
        )
    )
    assert run_to_parquet(spark, tmp_path).count() == 0

    # batch 2 (new file => new batch, new scan partition): a timestamped
    # noise line (gives the sieve line its carried event time — real
    # syslog partitions always open with timestamped lines), the sieve
    # line, then the removed line that closes the session
    (in_dir / "02.log").write_text(
        "\n".join(
            [
                _line(0, 3, "disconnect from host1.example.com[10.0.0.1] commands=8"),
                "Apr 30 15:09:27 lmtp(x)<1><y>: Info: sieve: msgid=<m@g>: "
                "fileinto action: stored mail into mailbox Spam",
                _line(0, 4, "ABABABABAB1: removed"),
            ]
        )
    )
    out = run_to_parquet(spark, tmp_path)
    evs = [r for r in out.collect() if r["record_type"] == "event"]
    assert [e["queue_id"] for e in evs] == ["ABABABABAB1"]
    assert dict(evs[0]["fields"])["dovecot_fileinto_action"] == (
        "stored mail into mailbox Spam"
    )


CLEANUP_FIXTURE = """\
2024-04-09T20:22:42.548478+03:00 localhost postfix/submission/smtpd[2182082]: 85C6C10208A: client=mail.localhost[192.168.0.1], sasl_method=PLAIN, sasl_username=user@localhost
2024-04-09T20:22:42.596265+03:00 localhost postfix/cleanup[2182089]: 85C6C10208A: message-id=<214b89-66157980-3-dc1e520@120925011>
2024-04-09T20:22:42.736487+03:00 localhost postfix/qmgr[837]: 85C6C10208A: from=<user@localhost>, size=952, nrcpt=1 (queue active)
2024-04-09T20:22:42.736796+03:00 localhost postfix/submission/smtpd[2182082]: disconnect from mail.localhost[192.168.0.1] ehlo=2 starttls=1 auth=1 mail=1 rcpt=1 data=1 quit=1 commands=8
2024-04-09T20:22:43.039303+03:00 localhost postfix/lmtp[2182091]: 85C6C10208A: to=<user@localhost>, relay=mail.localhost[private/dovecot-lmtp], delay=0.55, delays=0.25/0.02/0.02/0.27, dsn=2.0.0, status=sent (250 2.0.0 <user@localhost> VB7QLWJ5FWbMSyEA0J78UA Saved)
"""


def test_stream_cleanup_eviction_state_shape(spark, tmp_path):
    """Streaming twin of the reference's test_cleanup
    (``lognormalizer/parse_test.py:63-98``): a session that never sees
    ``removed`` stays open while event time is within the 10-minute TTL,
    then is evicted once the watermark passes first_ts + TTL.  The
    reference drops the entry silently; here the eviction surfaces as a
    ``record_type='evicted'`` row carrying the reference's exact state
    shape (folded fields incl. the never-emitted sasl_* keys, to-list,
    raw_log of the 4 admitted lines, first-line timestamp)."""
    import datetime

    in_dir = tmp_path / "in"
    in_dir.mkdir()

    (in_dir / "01.log").write_text(CLEANUP_FIXTURE)
    assert run_to_parquet(spark, tmp_path).count() == 0  # open session: no event, no fault

    # event time advances ~5 min: still inside OLD_LOGS -> entry survives
    (in_dir / "02.log").write_text(
        "2024-04-09T20:27:43.000000+03:00 localhost postfix/qmgr[837]: "
        "FFFFFFFFFFF: size=1"
    )
    assert run_to_parquet(spark, tmp_path).count() == 0

    # event time jumps a day (the reference test's timedelta(days=1)):
    # watermark passes first_ts + 10 min -> eviction fires
    (in_dir / "03.log").write_text(
        "2024-04-10T20:27:43.000000+03:00 localhost postfix/qmgr[837]: "
        "FFFFFFFFFFF: nrcpt=1"
    )
    run_to_parquet(spark, tmp_path)
    (in_dir / "04.log").write_text(
        "2024-04-10T20:27:44.000000+03:00 localhost postfix/qmgr[837]: "
        "FFFFFFFFFFF: delay=1"
    )
    out = run_to_parquet(spark, tmp_path)
    evicted = [r for r in out.collect() if r["record_type"] == "evicted"]
    # FFFFFFFFFFF evicts too: the reference's cleanup keys on the stored
    # FIRST timestamp regardless of later activity (parse.py:279-283)
    assert sorted(r["queue_id"] for r in evicted) == [
        "85C6C10208A",
        "FFFFFFFFFFF",
    ]
    ev = next(r for r in evicted if r["queue_id"] == "85C6C10208A")
    fields = dict(ev["fields"])
    # the reference folds EVERY k=v key into state, incl. ones the event
    # projection would never emit (sasl_*, parse.py:291-302)
    assert fields["client"] == "mail.localhost[192.168.0.1]"
    assert fields["sasl_method"] == "PLAIN"
    assert fields["sasl_username"] == "user@localhost"
    assert fields["message-id"] == "<214b89-66157980-3-dc1e520@120925011>"
    assert fields["from"] == "<user@localhost>"
    assert fields["size"] == "952"
    assert fields["status"] == "sent"
    assert ev["to_list"] == ["<user@localhost>"]
    # raw_log: the 4 admitted lines, in order (disconnect line dropped at F3)
    assert len(ev["raw_log"]) == 4
    assert ev["raw_log"][0].endswith("sasl_username=user@localhost")
    assert ev["raw_log"][3].endswith("VB7QLWJ5FWbMSyEA0J78UA Saved)")
    # session timestamp = FIRST admitted line's event time (Q3), UTC
    assert ev["timestamp"] == datetime.datetime(2024, 4, 9, 17, 22, 42, 548478)
    # no event, no fault was ever emitted for the evicted session
    assert [r for r in out.collect() if r["record_type"] == "event"] == []
    assert [r for r in out.collect() if r["record_type"] == "fault"] == []


def test_stream_tie_order_matches_batch_across_files(spark, tmp_path):
    """Byte-identical timestamps split across FILES fold in the batch
    source's (file, in-file offset) order, not Spark's size-descending
    split-packing order.  Regression test for the r5 documented
    divergence 2: the old partition-id-salted seq ordered the LARGER
    file first on ties; the stable in-file-byte-offset seq restores
    last-wins (Q1) agreement with batch."""
    same_ts = "2024-04-09T20:22:42.000000+03:00 localhost postfix/x[1]: "
    # a.log: the queue's first from=; b.log (padded LARGER so the old
    # partition-salt scheme would scan it first): the last-wins from=,
    # then the close.  All lines share one byte-identical timestamp.
    a_lines = [same_ts + "AAAAAAAAAAA: from=<first@a>, message-id=<m@t>"]
    b_lines = (
        [same_ts + "AAAAAAAAAAA: from=<second@b>"]
        + [same_ts + "noise line about nothing at all " + "x" * 80] * 50
        + [
            same_ts + "AAAAAAAAAAA: to=<x@y.z>, status=sent (250 2.0.0 ok fine)",
            same_ts + "AAAAAAAAAAA: removed",
        ]
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "a.log").write_text("\n".join(a_lines))
    (in_dir / "b.log").write_text("\n".join(b_lines))

    folded = _run_stream(spark, in_dir, tmp_path / "ckpt", "stream_tie")
    s_events = [
        r.asDict(recursive=True) for r in stream_events(folded).collect()
    ]

    parsed = parse_lines(lines_df(spark, a_lines + b_lines))
    b_events_df, _faults, _state = sessionize(parsed)
    b_events = [r.asDict(recursive=True) for r in b_events_df.collect()]

    assert len(s_events) == len(b_events) == 1
    assert s_events == b_events
    # the decisive quirk: last-wins from= is b.log's, despite identical ts
    # (angle brackets stripped by the P4 projection)
    assert s_events[0]["message_from"] == "second@b"


def test_stream_sieve_line_opens_partition(spark, tmp_path):
    """A dovecot sieve line that is the FIRST line of its scan partition
    (no parseable timestamp anywhere before it IN THAT PARTITION) is
    backfilled with the partition's first FOLLOWING timestamp and still
    correlates with an assignment that arrived in an EARLIER batch — the
    r5 residual of divergence 3, closed.  (A sieve line arriving before
    the assignment itself must NOT correlate — the reference scans only
    currently-open sessions' message-ids — and batch agrees; that case is
    covered by the msgid-interval golden tests.)"""
    in_dir = tmp_path / "in"
    in_dir.mkdir()

    # batch 1: the session assigns its message-id
    (in_dir / "01.log").write_text(
        _line(0, 1, "CCCCCCCCCCC: from=<h@h.com>, message-id=<m@h>")
    )
    assert run_to_parquet(spark, tmp_path).count() == 0
    # batch 2: the partition OPENS with the sieve line — no preceding
    # timestamp exists in this file; backfill gives it the removed
    # line's (following) event time, and it folds before 'removed'
    (in_dir / "02.log").write_text(
        "\n".join(
            [
                "Apr 30 15:09:27 lmtp(x)<1><y>: Info: sieve: msgid=<m@h>: "
                "fileinto action: stored mail into mailbox Archive",
                _line(0, 2, "CCCCCCCCCCC: to=<x@y.z>, status=sent (250 2.0.0 ok fine)"),
                _line(0, 3, "CCCCCCCCCCC: removed"),
            ]
        )
    )
    out = run_to_parquet(spark, tmp_path)
    evs = [
        r.asDict(recursive=True)
        for r in out.collect()
        if r["record_type"] == "event"
    ]
    assert [e["queue_id"] for e in evs] == ["CCCCCCCCCCC"]
    assert dict(evs[0]["fields"])["dovecot_fileinto_action"] == (
        "stored mail into mailbox Archive"
    )


def test_stream_processing_time_ttl(spark, tmp_path):
    """Strict-parity Q9 mode: with timeout_mode='processing-time',
    eviction is ARRIVAL-DRIVEN against the LIVE clock — the reference's
    exact shape (feed_line → _cleanup_old_entities drops entries with
    now() - stored_event_ts > OLD_LOGS, parse.py:385, :272-284).  The
    fixture's 2024 event times are years stale on the wall clock, so a
    later line for the same queue evicts the stored session first and
    folds into a FRESH session — event time never passes first_ts + TTL
    here; only the wall clock decides."""
    mode = dict(ttl="10 minutes", timeout_mode="processing-time")
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "01.log").write_text(
        _line(0, 1, "ACACACACA01: from=<g@g.com>, message-id=<m@g>")
    )
    assert run_to_parquet(spark, tmp_path, **mode).count() == 0  # stored, stale, awaiting arrival
    # batch 2: new lines for the SAME queue -> stale state evicts first,
    # then the fresh session folds and completes normally
    (in_dir / "02.log").write_text(
        "\n".join(
            [
                _line(0, 2, "ACACACACA01: from=<g2@g.com>, message-id=<m@g2>"),
                _line(0, 3, "ACACACACA01: to=<x@y.z>, status=sent (250 2.0.0 ok fine)"),
                _line(0, 4, "ACACACACA01: removed"),
            ]
        )
    )
    out = run_to_parquet(spark, tmp_path, **mode)
    evicted = [r for r in out.collect() if r["record_type"] == "evicted"]
    assert [r["queue_id"] for r in evicted] == ["ACACACACA01"]
    assert dict(evicted[0]["fields"])["from"] == "<g@g.com>"
    events = [r for r in out.collect() if r["record_type"] == "event"]
    # the fresh session carried NONE of the evicted state (Q9 outcome)
    assert [r["queue_id"] for r in events] == ["ACACACACA01"]
    assert dict(events[0]["fields"])["from"] == "<g2@g.com>"
    assert len(events[0]["raw_log"]) == 3


def test_stream_duplicated_sessions_across_batches(spark, tmp_path):
    """Byte-identical duplicated sessions split across 2 micro-batches
    fold exactly like the batch replay of the concatenation: the first
    copy closes (state deleted) before the second arrives, so both events
    emit — the r5 divergence-2 'done' criterion."""
    from postfix_log_parser_spark.logquery import BASIC

    in_dir = tmp_path / "in"
    in_dir.mkdir()

    (in_dir / "01.log").write_text(BASIC)
    run_to_parquet(spark, tmp_path)
    (in_dir / "02.log").write_text(BASIC)  # byte-identical duplicate
    out = run_to_parquet(spark, tmp_path)
    s_events = sorted(
        (
            r.asDict(recursive=True)
            for r in stream_events(
                out.where("record_type = 'event'")
            ).collect()
        ),
        key=lambda d: d["queue_id"],
    )

    lines = [ln for ln in (BASIC + "\n" + BASIC).splitlines() if ln.strip()]
    b_events_df, _fa, _st = sessionize(parse_lines(lines_df(spark, lines)))
    b_events = sorted(
        (r.asDict(recursive=True) for r in b_events_df.collect()),
        key=lambda d: d["queue_id"],
    )
    assert len(s_events) == 2
    assert s_events == b_events


def test_stream_restart_without_new_data_is_idempotent(spark, tmp_path):
    """Exactly-once sink contract: restarting the checkpointed query with
    NO new input must add nothing to the file sink — no replayed events,
    no duplicated state output."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()

    (in_dir / "01.log").write_text(
        "\n".join(
            [
                _line(0, 1, "AAAAAAAAAAA: from=<a@a.com>, message-id=<m@a>"),
                _line(0, 2, "AAAAAAAAAAA: to=<x@y.z>, status=sent (250 ok)"),
                _line(0, 3, "AAAAAAAAAAA: removed"),
            ]
        )
    )
    first = run_to_parquet(spark, tmp_path).collect()
    assert [r["queue_id"] for r in first if r["record_type"] == "event"] == [
        "AAAAAAAAAAA"
    ]
    # restart twice with no new files: byte-identical output set
    for _ in range(2):
        again = run_to_parquet(spark, tmp_path).collect()
        assert sorted(map(str, again)) == sorted(map(str, first))


def test_stream_ttl_accepts_day_units(spark, tmp_path):
    """``ttl`` takes second, minute, hour or day, singular or plural, and
    the join bound is built from the parsed seconds.  Plan only: no query
    starts."""
    from postfix_log_parser_spark.streaming.sessionize_stream import (
        _duration_seconds,
    )

    assert [_duration_seconds(t) for t in ("1 day", "2 hours", "1 minute", "30 seconds")] == [
        86400, 7200, 60, 30,
    ]
    folded = sessionize_stream(spark.readStream.text(str(tmp_path)), ttl="1 day")
    assert folded.isStreaming


def test_stream_ttl_rejects_unknown_form(spark, tmp_path):
    """A ttl outside the accepted form fails when the stream is built,
    naming the form.  Plan only: no query starts."""
    with pytest.raises(ValueError, match="second, minute, hour or day"):
        sessionize_stream(spark.readStream.text(str(tmp_path)), ttl="10min")


def test_stream_interval_join_cross_batch(spark, tmp_path):
    """q88's stream-stream interval join must match click->purchase
    pairs that arrive in DIFFERENT micro-batches (click buffered in the
    join state store until its purchase shows up), honor the inclusive
    1-hour bound, and never match purchase-before-click."""
    import datetime as dt

    from pyspark.sql import functions as F

    from postfix_log_parser_spark.logquery import interval_join_streams

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    base = dt.datetime(2024, 3, 1, 9, 0, 0)

    def ev(eid, mins, user, etype):
        return (eid, base + dt.timedelta(minutes=mins), user, etype, 1.0, "{}")

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # batch 1: the clicks (and user 3's purchase, which precedes its click)
    b1 = [
        ev(1, 60, 1, "click"),      # 10:00 — purchase 10:30 in batch 2
        ev(2, 0, 2, "click"),       # 09:00 — purchase 11:00: gap 2h, no match
        ev(3, 75, 3, "purchase"),   # 10:15 — click arrives later: no match
        ev(4, 0, 4, "click"),       # 09:00 — purchase 10:00: exactly 1h, match
    ]
    # batch 2: the purchases (+ user 3's late click)
    b2 = [
        ev(5, 90, 1, "purchase"),   # 10:30
        ev(6, 120, 2, "purchase"),  # 11:00
        ev(7, 80, 3, "click"),      # 10:20 (after user 3's purchase)
        ev(8, 60, 4, "purchase"),   # 10:00
    ]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(
        str(in_dir / "01")
    )
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(
        str(in_dir / "02")
    )

    src = lambda: (  # noqa: E731
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(in_dir / "*"))
    )
    out_dir, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        interval_join_streams(src(), src())
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    got = spark.read.schema(
        "purchase_id long, click_id long, user_id long, gap_us long"
    ).parquet(str(out_dir))
    rows = {(r.purchase_id, r.click_id, r.gap_us) for r in got.collect()}
    assert rows == {
        (5, 1, 30 * 60 * 1_000_000),   # cross-batch match
        (8, 4, 60 * 60 * 1_000_000),   # inclusive 1h bound
    }


def test_dedup_within_watermark_expiry(spark, tmp_path):
    """q95's bounded-state semantics: a duplicate key arriving while its
    state is live is dropped; after the watermark expires the key's
    state, the same key RE-EMITS (the honest at-least-once guarantee of
    bounded-state dedup). q51's dropDuplicates, by contrast, would
    suppress it forever at unbounded state cost."""
    import datetime as dt

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    base = dt.datetime(2024, 3, 1, 9, 0, 0)

    def ev(eid, mins, user):
        return (eid, base + dt.timedelta(minutes=mins), user, "click", 1.0, "{}")

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # batch 1: key (1,'click') first seen at 09:00; wm -> 09:10 - 1h
    spark.createDataFrame([ev(1, 0, 1), ev(2, 10, 99)], schema).coalesce(
        1
    ).write.parquet(str(in_dir / "01"))
    # batch 2: duplicate at 09:05 (state live -> dropped), advance wm
    # past 10:00 via a 11:30 event so the key's state expires
    spark.createDataFrame([ev(3, 5, 1), ev(4, 150, 99)], schema).coalesce(
        1
    ).write.parquet(str(in_dir / "02"))
    # batch 3: filler — state eviction happens at the END of a batch,
    # after its input was matched, so the expired key needs one batch
    # boundary between watermark advance and its re-arrival
    spark.createDataFrame([ev(6, 155, 99)], schema).coalesce(1).write.parquet(
        str(in_dir / "03")
    )
    # batch 4: same key again at 11:40 -- state expired, must RE-EMIT
    spark.createDataFrame([ev(5, 160, 1)], schema).coalesce(1).write.parquet(
        str(in_dir / "04")
    )

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(in_dir / "*"))
    )
    dedup = (
        src.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("event_id", "user_id")
    )
    out_dir, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        dedup.writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    got = spark.read.schema("event_id long, user_id long").parquet(str(out_dir))
    emitted = {r.event_id for r in got.collect()}
    assert 1 in emitted          # first occurrence
    assert 3 not in emitted      # duplicate within watermark: dropped
    assert 5 in emitted          # re-emitted after state expiry


# ---------------------------------------------------------------------------
# transformWithStateInPandas (q113): processor logic + runtime gate
# ---------------------------------------------------------------------------


class _FakeValueState:
    def __init__(self):
        self._v = None

    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


class _FakeHandle:
    def __init__(self):
        self.states = {}

    def getValueState(self, name, schema, ttlDurationMs=None):
        return self.states.setdefault(name, _FakeValueState())


def test_running_stats_processor_accumulates_across_batches():
    """The StatefulProcessor's per-key fold logic, unit-tested against a
    mock handle: two micro-batches for one key must yield MONOTONE
    running totals whose final value equals the batch aggregate (the
    invariant q113's final max_by projection relies on)."""
    import pandas as pd

    from postfix_log_parser_spark.streaming.running_stats import RunningStats

    proc = RunningStats()
    proc.init(_FakeHandle())
    b1 = list(
        proc.handleInputRows(
            ("click",), iter([pd.DataFrame({"cents": [100, 250]})]), None
        )
    )
    b2 = list(
        proc.handleInputRows(
            ("click",),
            iter([pd.DataFrame({"cents": [50]}), pd.DataFrame({"cents": [-25]})]),
            None,
        )
    )
    assert b1[0].to_dict("records") == [
        {"event_type": "click", "n_seen": 2, "sum_cents": 350}
    ]
    assert b2[0].to_dict("records") == [
        {"event_type": "click", "n_seen": 4, "sum_cents": 375}
    ]
    proc.close()


def test_q113_registration_matches_tws_runtime():
    """q113 is a contract query exactly when the transformWithState
    Python runtime (protobuf) is importable; in this container it must
    be gated OUT, never a pre-staged driver failure."""
    from postfix_log_parser_spark.logquery import LOG_ORACLES, LOG_QUERIES
    from postfix_log_parser_spark.streaming.running_stats import HAS_TWS_RUNTIME

    assert ("q113_stream_running_stats" in LOG_QUERIES) == HAS_TWS_RUNTIME
    assert ("q113_stream_running_stats" in LOG_ORACLES) == HAS_TWS_RUNTIME


@pytest.mark.skipif(
    not __import__(
        "postfix_log_parser_spark.streaming.running_stats",
        fromlist=["HAS_TWS_RUNTIME"],
    ).HAS_TWS_RUNTIME,
    reason="transformWithState needs protobuf (absent in this container)",
)
def test_q113_stream_running_stats_end_to_end(spark):
    """Full 4-micro-batch run (only where the TWS runtime exists)."""
    from postfix_log_parser_spark.logquery import q113_stream_running_stats

    rows = q113_stream_running_stats(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0


def test_stream_curation_dedups_across_batches(spark, tmp_path):
    """q150's cross-batch state: a document whose canonical form already
    passed through an earlier micro-batch must NOT re-emit when a
    byte-identical copy arrives in a later file — the dedup decision
    lives in the state store, not the batch."""
    from postfix_log_parser_spark.ext.pipeline import q150_stream_curation

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    # engineered to PASS all four cascade rules: 14 words (>= 12), all
    # 5-letter (awl 5.0 in [4.0, 5.1]; alpha ratio 70/83 = 0.843), fully
    # distinct (uniq 1.0)
    base = (
        "table value merge batch spark query scans sorts joins group "
        "index shard files parts"
    )
    in_dir = tmp_path / "documents.parquet"
    # doc_id 1 and 101: identical text, NO augmentation residues
    # (1 % 3,5,7 != 0 and 101 % 3,5,7 != 0) -> identical canonical form.
    # Two appends -> two part files in the flat dir; q150's
    # maxFilesPerTrigger=1 source makes each its own micro-batch.
    spark.createDataFrame([(1, base, "en", "web", len(base))], schema).coalesce(
        1
    ).write.mode("append").parquet(str(in_dir))
    spark.createDataFrame(
        [(101, base, "en", "web", len(base)), (2, base + " extra word tail", "en", "web", 0)],
        schema,
    ).coalesce(1).write.mode("append").parquet(str(in_dir))

    src_dir = str(tmp_path)
    out = q150_stream_curation(spark, src_dir)
    hashes = [r.canon_md5 for r in out.collect()]
    assert len(hashes) == len(set(hashes)), "duplicate canonical hash emitted"
    assert len(set(hashes)) == 2  # base doc once + the distinct variant


def test_q54_nodata_independence(spark):
    """q54's complete-mode session output must not depend on the
    trailing no-data micro-batch (VERDICT r12 #7): force need_nodata
    both ways and assert identical rows — the 'complete-mode output is
    no-data-neutral' argument as an invariant, not a comment."""
    from postfix_log_parser_spark import logquery

    sf_dir = "/root/testdata/sf0.001"
    skipped = sorted(
        map(str, logquery.q54_stream_sessions(spark, sf_dir).collect())
    )
    orig = logquery._run_stream_to_memory

    def forced(spark_, df, prefix, output_mode=None, need_nodata=False,
               source_path=None):
        return orig(spark_, df, prefix, output_mode, True, source_path)

    logquery._run_stream_to_memory = forced
    try:
        kept = sorted(
            map(str, logquery.q54_stream_sessions(spark, sf_dir).collect())
        )
    finally:
        logquery._run_stream_to_memory = orig
    assert skipped == kept


def test_stream_shuffle_partitions_derive_from_source(spark, tmp_path,
                                                      monkeypatch):
    """Micro-batch state parallelism derives from source bytes (guide
    §2.2), floors at 1, caps at 4×defaultParallelism, and honors the env
    override — never a constant tuned to the local core count."""
    from postfix_log_parser_spark.logquery import _stream_shuffle_partitions

    monkeypatch.delenv("SPARK_GRAFT_STREAM_PARTITIONS", raising=False)
    small = tmp_path / "small.bin"
    small.write_bytes(b"x" * 1024)
    assert _stream_shuffle_partitions(spark, str(small)) == "1"
    big = tmp_path / "big.bin"
    with open(big, "wb") as fh:
        fh.truncate(200 << 20)  # sparse 200 MB → ceil(200/64) = 4
    assert _stream_shuffle_partitions(spark, str(big)) == "4"
    cap = 4 * spark.sparkContext.defaultParallelism
    huge = tmp_path / "huge.bin"
    with open(huge, "wb") as fh:
        fh.truncate((cap + 1) * (64 << 20))  # sparse: one partition past the cap
    assert _stream_shuffle_partitions(spark, str(huge)) == str(cap)
    assert _stream_shuffle_partitions(spark, None) == "8"  # legacy default
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", "13")
    assert _stream_shuffle_partitions(spark, str(small)) == "13"
