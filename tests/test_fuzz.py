"""Seeded randomized differential test: thousands of adversarial lines in
one batch, asserting (a) Arrow parse ≡ Catalyst parse row-for-row and
(b) partitioned fold ≡ pandas-oracle fold on the same feed.

Not hypothesis-per-example (a Spark round trip per example is too slow);
a fixed seed keeps failures reproducible.  Since r6 the generator also
emits k=v keys named raw_log / timestamp: the reference corrupts its own
state dict on those (COVERAGE.md divergence 4 — every later line for the
queue faults, or the process dies in cleanup); here they are ordinary
fields-map keys, namespaced away from the engine's bookkeeping, and the
differentials pin that ALL engine variants agree on that sane semantics.
"""

import functools
import os
import random
import time

import pytest

from postfix_log_parser_spark import parse_lines, parse_lines_arrow, sessionize
from postfix_log_parser_spark.sources.text import lines_df
from tests.test_streaming import await_stream

R = random.Random(42)

QIDS = [format(i, "011X") for i in range(40)] + ["85c6c10208a", "SHORT:", "ZZZ"]
KEYS = ["from", "to", "message-id", "status", "client", "orig_to", "relay",
        "dsn", "nrcpt", "size", "delay", "delays", "sasl_method", "weird-key",
        "raw_log", "timestamp"]
VALS = ["<a@b.c>", "<x@y.z>,", "bare", "a=b=c", "<m@1>", "", "<>", "x,y,,",
        "=?broken", "<root>"]
STATUSES = [
    "sent (250 2.0.0 ok Saved)",
    "bounced (host said: 550 5.1.1 no user (in reply to RCPT TO command))",
    "deferred conversation timed out",
    "sent (250 2.0.0 first) then (451 4.3.0 second 550 5.1.1 third)",
    "sent no pair here",
]
SUBJECTS = [
    "warning: header Subject: hello world from local; tail=1",
    "warning: header Subject: drop my last token",
    "warning: header Subject: =?UTF-8?B?dGVzdCAtINCi0LXRgdGC?= from x;",
    "warning: header Subject: =?UTF-8?B?!!notbase64!!?= from x;",
    "warning: header",
    "warning:",
]
TS = [
    "2024-04-09T20:{m:02d}:{s:02d}.{us:06d}+03:00",
    "2024-04-09T20:{m:02d}:{s:02d}",
    "2024-02-30T10:00:00",   # invalid date: both engines drop
    "2024-4-9T10:00:00",     # shape reject
    "Apr",                   # legacy syslog
    "garbage",
]


def _ts(i: int) -> str:
    tpl = R.choice(TS[:2]) if R.random() < 0.85 else R.choice(TS)
    return tpl.format(m=(i // 60) % 60, s=i % 60, us=(i * 7919) % 1000000)


def gen_lines(n: int) -> list[str]:
    lines = []
    for i in range(n):
        r = R.random()
        head = f"{_ts(i)} host proc[{i % 97}]:"
        qid = R.choice(QIDS)
        if r < 0.05:
            lines.append(R.choice([
                "",
                "   ",
                "one two",
                "a b c d",
                f"{_ts(i)} host proc only four",
            ]))
        elif r < 0.10:  # dovecot variants (well-formed, short, truncated)
            msgid = f"<m@{i % 7}>"
            lines.append(R.choice([
                f"Apr 30 15:09:27 lmtp(x)<1><2>: Info: sieve: msgid={msgid}: fileinto action: stored mail into 'Box {i % 3}'",
                "Apr 30 15:09:27 lmtp(x)<1><2>: Info: sieve:",
                "Apr 30 15:09:27 lmtp(x)<1><2>: Info: sieve: msgid=<m@1>: fileinto",
                f"{head} {qid}: Info: sieve: msgid={msgid}: fileinto action: admitted dovecot shape",
            ]))
        elif r < 0.18:
            lines.append(f"{head} {qid}: {R.choice(SUBJECTS)}")
        elif r < 0.30:
            lines.append(f"{head} {qid}: removed")
        elif r < 0.40:
            lines.append(f"{head} {qid}: to={R.choice(VALS)}, status={R.choice(STATUSES)}")
        else:
            n_kv = R.randint(1, 4)
            kvs = ", ".join(
                f"{R.choice(KEYS)}={R.choice(VALS)}" for _ in range(n_kv)
            )
            lines.append(f"{head} {qid}: {kvs} (queue active)")
    return lines


def gen_stream_lines(n: int, ties: bool = False) -> list[str]:
    """Streaming-exact domain: globally monotone event times inside the
    10-minute TTL horizon (no eviction).  ``ties=True`` repeats ~30% of
    timestamps (byte-identical neighbors) — legal since r6's stable
    (file, in-file offset) tiebreak made stream tie order == batch."""
    out = []
    base_us = 0
    for line in gen_lines(n):
        toks = line.split()
        if not toks:
            out.append(line)
            continue
        if toks[0].startswith("2024-") or toks[0] in ("garbage",):
            m, rem = divmod(base_us, 60_000_000)
            ts = f"2024-04-09T20:{m:02d}:{rem // 1_000_000:02d}.{rem % 1_000_000:06d}+00:00"
            out.append(" ".join([ts] + toks[1:]))
            if not (ties and R.random() < 0.3):
                base_us += 110_003
        else:
            out.append(line)  # legacy-syslog dovecot lines keep their head
    return out


@functools.lru_cache(maxsize=None)
def _tie_lines() -> tuple[str, ...]:
    # drawn once, so both trigger settings fold the same lines and the
    # shared generator R advances exactly as for one run
    return tuple(gen_stream_lines(1500, ties=True))


def test_fuzz_stream_matches_batch(spark, tmp_path):
    lines = gen_stream_lines(2000)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "mail.log").write_text("\n".join(lines))

    from postfix_log_parser_spark.streaming import (
        sessionize_stream,
        stream_events,
        stream_faults,
    )

    folded = sessionize_stream(spark.readStream.text(str(in_dir)))
    q = (
        folded.writeStream.format("memory")
        .queryName("fuzz_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 400)
    folded_tbl = spark.table("fuzz_stream")
    s_events = sorted(
        (r.asDict(recursive=True) for r in stream_events(folded_tbl).collect()),
        key=lambda d: (d["queue_id"], d["timestamp"], d["raw_log"]),
    )
    s_faults = sorted(
        (r["fault_reason"], r["line"]) for r in stream_faults(folded_tbl).collect()
    )

    ev, fa, _st = sessionize(parse_lines(lines_df(spark, lines)))
    b_events = sorted(
        (r.asDict(recursive=True) for r in ev.collect()),
        key=lambda d: (d["queue_id"], d["timestamp"], d["raw_log"]),
    )
    b_faults = sorted(
        (r["fault_reason"], r["line"])
        for r in fa.collect()
        # pre-admission faults surface via stream_pre_faults, not the fold
        if r["fault_reason"] != "IndexError: dovecot-shaped line too short"
    )

    assert len(b_events) > 30
    assert s_events == b_events
    assert s_faults == b_faults


@pytest.mark.parametrize(
    "files_per_trigger", [None, 1], ids=["one-batch", "one-file-per-batch"]
)
def test_fuzz_stream_multifile_ties_match_batch(spark, tmp_path, files_per_trigger):
    """Adversarial tie-order case: duplicated timestamps scattered across
    THREE deliberately size-skewed files.  Spark packs scan partitions by
    size (descending), so the old partition-id-salted seq folded the big
    file first on ties; the stable (file, offset) tiebreak must reproduce
    the batch concatenation order exactly.  With one file per trigger the
    files are three micro-batches, so every open session's state is saved
    and restored between them."""
    lines = list(_tie_lines())
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # unequal contiguous splits, file-name order == concatenation order;
    # padding makes a.log the SMALLEST so size-order != name-order.  The
    # file source takes files in modification-time order, so the mtimes
    # follow the names too.
    now = int(time.time())
    for i, (name, part) in enumerate(
        [("a.log", lines[:200]), ("b.log", lines[200:1100]), ("c.log", lines[1100:])]
    ):
        (in_dir / name).write_text("\n".join(part))
        os.utime(in_dir / name, (now - 10 + i, now - 10 + i))

    from postfix_log_parser_spark.streaming import (
        sessionize_stream,
        stream_events,
        stream_faults,
    )

    source = spark.readStream
    if files_per_trigger is not None:
        source = source.option("maxFilesPerTrigger", files_per_trigger)
    folded = sessionize_stream(source.text(str(in_dir)))
    q = (
        folded.writeStream.format("memory")
        .queryName("fuzz_stream_ties")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 400)
    folded_tbl = spark.table("fuzz_stream_ties")
    key = lambda d: (d["queue_id"], str(d["timestamp"]), d["raw_log"])  # noqa: E731
    s_events = sorted(
        (r.asDict(recursive=True) for r in stream_events(folded_tbl).collect()),
        key=key,
    )
    s_faults = sorted(
        (r["fault_reason"], r["line"]) for r in stream_faults(folded_tbl).collect()
    )

    ev, fa, _st = sessionize(parse_lines(lines_df(spark, lines)))
    b_events = sorted(
        (r.asDict(recursive=True) for r in ev.collect()), key=key
    )
    b_faults = sorted(
        (r["fault_reason"], r["line"])
        for r in fa.collect()
        if r["fault_reason"] != "IndexError: dovecot-shaped line too short"
    )

    assert len(b_events) > 20
    assert s_events == b_events
    assert s_faults == b_faults


def test_fuzz_parse_engines_agree(spark):
    lines = gen_lines(3000)
    cat = sorted(
        (r.asDict(recursive=True) for r in parse_lines(lines_df(spark, lines)).collect()),
        key=lambda d: d["seq"],
    )
    arr = sorted(
        (r.asDict(recursive=True) for r in parse_lines_arrow(lines_df(spark, lines)).collect()),
        key=lambda d: d["seq"],
    )
    assert len(cat) == len(arr) == len(lines)
    for c, a in zip(cat, arr):
        assert c == a, f"parse diverges at seq {c['seq']}: line={c['line']!r}\n cat={c}\n arr={a}"


def test_fuzz_fold_strategies_agree(spark):
    lines = gen_lines(3000)
    parsed = parse_lines(lines_df(spark, lines))
    results = {}
    for strategy in ("partitioned", "pandas"):
        ev, fa, st = sessionize(parsed, keep_order_columns=True, fold=strategy)
        results[strategy] = (
            sorted(
                (r.asDict(recursive=True) for r in ev.collect()),
                key=lambda d: (d["queue_id"], d["_removed_seq"]),
            ),
            sorted((r["fault_reason"], r["line"]) for r in fa.collect()),
            sorted(
                (r.asDict(recursive=True) for r in st.collect()),
                key=lambda d: d["queue_id"],
            ),
        )
    pe, pf, ps = results["partitioned"]
    oe, of, os_ = results["pandas"]
    assert len(pe) > 50 and len(pf) > 10  # the generator exercised both paths
    assert pe == oe
    assert pf == of
    assert ps == os_


def test_fuzz_fused_engine_agrees(spark):
    """The fused parse+fold plan must match the two-stage Arrow path on
    the same adversarial line soup — including mis-keyed shapes (lowercase
    / short / 12-hex queue tokens) that exercise the Catalyst co-location
    key's agreement with the Python admission logic."""
    lines = gen_lines(3000)
    raw1 = lines_df(spark, lines)
    # a derived parsed DataFrame does not fuse: two-stage parse + fold
    ev1, fa1, st1 = sessionize(
        parse_lines_arrow(raw1).select("*"), raw_lines=raw1, keep_order_columns=True
    )
    raw2 = lines_df(spark, lines)
    ev2, fa2, st2 = sessionize(
        parse_lines_arrow(raw2), raw_lines=raw2, keep_order_columns=True
    )

    def norm(ev, fa, st):
        return (
            sorted(
                (r.asDict(recursive=True) for r in ev.collect()),
                key=lambda d: (d["queue_id"], d["_removed_seq"]),
            ),
            sorted((r["fault_reason"], r["line"]) for r in fa.collect()),
            sorted(
                (r.asDict(recursive=True) for r in st.collect()),
                key=lambda d: d["queue_id"],
            ),
        )

    a, b = norm(ev1, fa1, st1), norm(ev2, fa2, st2)
    assert len(a[0]) > 50
    assert a == b
