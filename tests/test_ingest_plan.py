"""The batch ingest as one planned Spark action: no job before the action,
one Python stage, and differential checks of the Catalyst pieces that
replaced driver-side probes (co-location key, sieve dim, J1 paths)."""

import pytest
from pyspark.sql import functions as F

import postfix_log_parser_spark.logquery as lq
from postfix_log_parser_spark import parse_lines, sessionize
from postfix_log_parser_spark.operators.parse import (
    _dovecot_batches,
    _parse_row,
    dovecot_dim_from_raw,
    parse_lines_arrow,
    queue_key,
)
from postfix_log_parser_spark.sinks import write_events
from postfix_log_parser_spark.sources.text import lines_df, read_text
from tests.test_arrow_parse import FIXTURE
from tests.test_fuzz import gen_lines
from tests.test_quirks import _line

# separators Python's str.split() honours and Java's \s does not, plus
# the ASCII ones, as token separators, leading and trailing whitespace
_SEPARATORS = [" ", "\t", "\xa0", "\u2028", "\x1c", " \t ", "\u3000", "\x85"]


def _adversarial(lines: list[str]) -> list[str]:
    """Every line once per separator: the whole line re-joined with it, and
    (so sieve lines keep their ' Info: sieve: msgid=' substring) only the
    separators of the first four tokens replaced."""
    out = []
    for line in lines:
        toks = line.split(" ")
        for j, ws in enumerate(_SEPARATORS):
            lead, trail = ["", " ", "\t", "\xa0"][j % 4], ["", "\x85", " "][j % 3]
            out.append(lead + ws.join(toks) + trail)
            head = ws.join(toks[:4])
            out.append(lead + " ".join([head, *toks[4:]]) + trail)
    return out


def _corpus() -> list[str]:
    return _adversarial(FIXTURE.splitlines()) + gen_lines(400)


def test_queue_key_matches_parse_row(spark):
    """The Catalyst co-location key equals _parse_row's queue_id on every
    line that has one (so on every admitted line), and is empty otherwise
    unless the line is too short to be admitted."""
    lines = _corpus()
    keys = {
        r["seq"]: r["k"]
        for r in lines_df(spark, lines).select("seq", queue_key(F.col("value")).alias("k")).collect()
    }
    admitted = 0
    for seq, line in enumerate(lines):
        r = _parse_row(seq, line)
        if r[4] is not None:
            assert keys[seq] == r[4], repr(line)
            admitted += r[12]
        else:
            assert keys[seq] == "" or len(line.split()) < 5, repr(line)
    assert admitted > 100


def test_catalyst_dim_matches_python_oracle(spark):
    lines = _corpus()
    raw = lines_df(spark, lines)
    got = sorted(tuple(r) for r in dovecot_dim_from_raw(raw).collect())
    want = sorted(
        tuple(r)
        for r in raw.select("seq", "value")
        .mapInPandas(_dovecot_batches, "seq long, dovecot_msgid string, dovecot_action string")
        .collect()
    )
    assert got == want and len(got) > 10


def _sieve(msgid: str, box: str) -> str:
    return (
        f"Apr 30 15:09:27 lmtp(x)<1><y>: Info: sieve: msgid={msgid}: "
        f"fileinto action: stored mail into mailbox '{box}'"
    )


def _done(qid: str, j: int) -> list[str]:
    return [
        _line(1, j, f"{qid}: to=<r@b.org>, status=sent (250 2.0.0 ok fine)"),
        _line(1, j + 1, f"{qid}: removed"),
    ]


J1_LINES = [
    # A: message-id reassigned; the first sieve line falls in the earlier
    # interval only, the second refers to the no longer current msgid
    _line(0, 1, "AAAAAAAAAAA: from=<a@b.c>, message-id=<m@1>"),
    _sieve("<m@1>", "First"),
    _line(0, 2, "AAAAAAAAAAA: message-id=<m@2>"),
    _sieve("<m@1>", "Stale"),
    *_done("AAAAAAAAAAA", 1),
    # B: a later k=v token overrides the sieve action
    _line(0, 3, "BBBBBBBBBBB: from=<b@b.c>, message-id=<m@3>"),
    _sieve("<m@3>", "Box3"),
    _line(0, 4, "BBBBBBBBBBB: dovecot_fileinto_action=override"),
    *_done("BBBBBBBBBBB", 3),
    # C: the sieve line arrives after the session closed
    _line(0, 5, "CCCCCCCCCCC: from=<c@b.c>, message-id=<m@4>"),
    *_done("CCCCCCCCCCC", 5),
    _sieve("<m@4>", "Late"),
    # E: one queue, two sessions with the same msgid; only the second
    # is open when the sieve line arrives
    _line(0, 6, "EEEEEEEEEEE: from=<e@b.c>, message-id=<m@6>"),
    *_done("EEEEEEEEEEE", 7),
    _line(0, 7, "EEEEEEEEEEE: from=<e@b.c>, message-id=<m@6>"),
    _sieve("<m@6>", "Box6"),
    *_done("EEEEEEEEEEE", 9),
    # D: never removed; its open state carries the sieve action
    _line(0, 8, "DDDDDDDDDDD: from=<d@b.c>, message-id=<m@5>"),
    _sieve("<m@5>", "Open5"),
]


# many sessions whose sieve lines share hash buckets with each other and
# with msgids no session carries
J1_BULK = [
    line
    for k in range(120)
    for line in (
        _line(0, 1, f"F{k:010X}: from=<f@b.c>, message-id=<bulk@{k}>"),
        _sieve(f"<bulk@{k}>", f"Bulk{k}"),
        _sieve(f"<orphan@{k}>", "Nobody"),
        *([_sieve(f"<bulk@{k}>", f"Again{k}")] if k % 3 == 0 else []),
        *_done(f"F{k:010X}", 2),
    )
]


def _j1(events, state):
    ev = sorted(
        (r["queue_id"], r["_start_seq"], r["dovecot_fileinto_action"])
        for r in events.collect()
    )
    st = sorted((r["queue_id"], r["dovecot_fileinto_action"]) for r in state.collect())
    return [(q, a) for q, _s, a in ev], st


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("engine", ["catalyst_parse", "fused"])
def test_j1_broadcast_equals_scale_and_oracle(spark, tmp_path, engine):
    """The broadcast J1 (a file input small enough to prove the dim fits)
    and the scale J1 (forced by max_broadcast_dovecot=0) agree with each
    other, with the per-group pandas fold, and with the reference's
    outcome for each session."""
    (tmp_path / "mail.log").write_text("\n".join(J1_LINES + J1_BULK) + "\n")
    raw = read_text(spark, str(tmp_path))

    def run(**kw):
        if engine == "fused":
            ev, _fa, st = sessionize(
                parse_lines_arrow(raw), raw_lines=raw, keep_order_columns=True, **kw
            )
        else:
            ev, _fa, st = sessionize(parse_lines(raw), keep_order_columns=True, **kw)
        return ev, st

    (bev, bst), (sev, sst) = run(), run(max_broadcast_dovecot=0)
    assert "scalar-subquery" in _optimized(bev) and "scalar-subquery" in _optimized(bst)
    assert "scalar-subquery" not in _optimized(sev)
    bcast, scale, oracle = _j1(bev, bst), _j1(sev, sst), _j1(*run(fold="pandas"))
    assert bcast == scale == oracle
    head = [(q, a) for q, a in bcast[0] if not q.startswith("F")]
    assert (head, bcast[1]) == (
        [
            ("AAAAAAAAAAA", "stored mail into mailbox 'First'"),
            ("BBBBBBBBBBB", "override"),
            ("CCCCCCCCCCC", None),
            ("EEEEEEEEEEE", None),
            ("EEEEEEEEEEE", "stored mail into mailbox 'Box6'"),
        ],
        [("DDDDDDDDDDD", "stored mail into mailbox 'Open5'")],
    )
    bulk = dict((q, a) for q, a in bcast[0] if q.startswith("F"))
    assert bulk == {
        f"F{k:010X}": f"stored mail into mailbox '{'Again' if k % 3 == 0 else 'Bulk'}{k}'"
        for k in range(120)
    }


def test_broadcast_j1_reads_the_table_in_place(spark, tmp_path):
    """The broadcast J1 table is built once per action and never copied
    into rows: its subquery sits inside the lookup lambda (no projected
    ``_bk`` column), and no build step is inlined into a lambda of the
    next one (one sort, one aggregate)."""
    (tmp_path / "mail.log").write_text("\n".join(J1_BULK) + "\n")
    raw = read_text(spark, str(tmp_path))
    events, _faults, state = sessionize(parse_lines_arrow(raw), raw_lines=raw)
    for df in (events, state):
        plan = _optimized(df)
        assert plan.count("scalar-subquery") == 1
        assert "_bk" not in plan
        assert plan.count("array_sort(") == 1 and plan.count("collect_list(") == 1


def test_planned_line_bound(spark, tmp_path):
    """The sieve-line bound comes from the plan's leaves (file bytes, or
    the rows of in-memory lines), holds through filters and unions, and
    is unknown for other sources."""
    import gzip

    from postfix_log_parser_spark.sources.text import planned_line_bound

    (tmp_path / "a.log").write_text("x" * 89 + "\n")
    (tmp_path / "b.log").write_text("y" * 44)
    raw = read_text(spark, str(tmp_path))
    assert planned_line_bound(raw, 45) == (90 + 45 + 2) // 45
    assert planned_line_bound(raw.filter(F.col("value") != ""), 45) == 3
    assert planned_line_bound(raw.union(raw), 45) == 6
    assert planned_line_bound(parse_lines_arrow(raw), 45) == 3
    assert planned_line_bound(lines_df(spark, ["x", "y"]), 45) == 2
    assert planned_line_bound(lines_df(spark, ["\udcff"]), 45) is None
    gz = tmp_path / "gz"
    gz.mkdir()
    with gzip.open(gz / "c.log.gz", "wt") as f:
        f.write("z\n")
    assert planned_line_bound(read_text(spark, str(gz)), 45) is None


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_batch_ingest_is_one_action_with_one_python_stage(spark, tmp_path):
    """read_text + sessionize(parse_lines_arrow(lines), raw_lines=lines)
    run no Spark job before the caller's action, and the events plan holds
    exactly one Python map node: the fused parse+fold worker."""
    from bench import synth_log_lines

    text = synth_log_lines(300)
    for i in range(3):
        chunk = text[i * len(text) // 3 : (i + 1) * len(text) // 3]
        (tmp_path / f"mail.log.{i}").write_text("\n".join(chunk) + "\n")
    sc = spark.sparkContext
    sc.setJobGroup("ingest-budget", "plan only")
    try:
        lines = read_text(spark, str(tmp_path))
        events, _faults, _state = sessionize(parse_lines_arrow(lines), raw_lines=lines)
        assert sc.statusTracker().getJobIdsForGroup("ingest-budget") == []
        plan = _plan(events)
        assert plan.count("MapInPandas") == 1
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        write_events(events, str(tmp_path / "events"), mode="overwrite")
    finally:
        sc._jsc.clearJobGroup()
    written = spark.read.parquet(str(tmp_path / "events"))
    assert written.count() == 300
    # one sieve line per 29 sessions, resolved across file boundaries
    assert written.filter(F.col("dovecot_fileinto_action").isNotNull()).count() == 11


def test_fusion_needs_the_unmodified_arrow_parse(spark):
    """Only the untouched parse_lines_arrow(raw) output fuses; a derived
    DataFrame keeps its own parse stage and the two-stage fold, with the
    same answer.  materialize_fold keeps working on the fused plan."""
    raw = lines_df(spark, lq.ALL_EVENTS_FIXTURE.splitlines())
    parsed = parse_lines_arrow(raw)
    fused = sessionize(parsed, raw_lines=raw, keep_order_columns=True)
    derived = sessionize(parsed.select("*"), raw_lines=raw, keep_order_columns=True)
    checkpointed = sessionize(
        parsed, raw_lines=raw, keep_order_columns=True, materialize_fold=True
    )
    assert _plan(fused[0]).count("MapInPandas") == 1
    assert _plan(derived[0]).count("MapInPandas") == 2

    def rows(ev):
        return sorted(tuple(r) for r in ev.drop("raw_log").collect())

    assert rows(fused[0]) == rows(derived[0]) == rows(checkpointed[0])
    assert len(rows(fused[0])) > 3


def test_seq_split_drift_when_splits_change(spark, tmp_path):
    """seq is planned from the split listing read_text saw; a later action
    that plans other splits raises SEQ_SPLIT_DRIFT instead of mis-ordering."""
    (tmp_path / "a.log").write_text("\n".join(f"line {i} " + "x" * 40 for i in range(400)))
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    df = read_text(spark, str(tmp_path))
    spark.conf.set(key, "4k")
    try:
        with pytest.raises(Exception, match="SEQ_SPLIT_DRIFT"):
            df.collect()
    finally:
        spark.conf.set(key, old)


def test_seq_row_budget_raises(spark):
    """A scan partition whose monotonic id reaches the next partition's id
    range (past 2**33 rows) raises instead of wrapping the row bits."""
    from postfix_log_parser_spark.sources.text import _attach_seq_literal

    tagged = spark.createDataFrame(
        [("x", "f1", 0, 1 << 33)], "value string, _file string, _block long, _mono long"
    ).coalesce(1)
    with pytest.raises(Exception, match="SEQ_ROW_OVERFLOW"):
        _attach_seq_literal(tagged, {"f1@0": 0}).collect()
