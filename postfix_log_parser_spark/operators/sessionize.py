"""Stage 2 — batch sessionizer: parsed lines → (events, faults, state).

The reference keeps per-``queue_id`` mutable dict state and finalizes a
session when a ``removed`` marker arrives (``lognormalizer/parse.py:
218-423``).  Sessions are marker-terminated (not gap-terminated), the fold
is order-sensitive (quirks Q1-Q4), and a failed finalization (missing
required field → KeyError) leaves the session open (``parse.py:352-353``:
the ``del`` only runs after a successful event construction).

Spark design — each call only builds a plan; nothing runs until the
caller's action:

* Fused (the default batch path): ``sessionize(parse_lines_arrow(raw),
  raw_lines=raw)`` never executes the parse on its own.  It shuffles the
  RAW line keyed by a Catalyst queue-id key (``parse.queue_key``), and one
  Python stage parses and folds in place (``_fused_batches``): parse
  output never crosses a serialization boundary, and a batch ingest is
  one Spark action with one Python stage.
* Any other ``parsed`` goes through one of two fold strategies, one
  semantics, both running the same ``_QueueFolder`` state machine:

  * ``partitioned`` (default): ``repartition(queue_id)`` +
    ``sortWithinPartitions(queue_id, seq)`` + a linear ``mapInPandas``
    scan over contiguous queue runs.  One hash shuffle (the irreducible
    co-location cost of any keyed fold), then ~1µs/row Python.  An
    order-sensitive multi-key state machine is precisely the case where
    built-in operators can't express the semantics efficiently
    (interpreted higher-order lambdas), so this is the sanctioned
    mapInPandas escape hatch.
  * ``pandas``: per-group ``applyInPandas`` oracle — the most direct
    transcription of the reference's ``feed_line`` loop; the ground truth
    the quirk and fuzz tests hold the production fold to.

* J1, the dovecot sieve correlation, runs once, after the fold, for every
  strategy.  A dovecot line updates a session iff the session's *current*
  ``message-id`` at that point in the log equals the msgid and the
  session has not been removed yet, so each session carries its msgid
  validity intervals and J1 keeps the last sieve line inside one of them
  (``_resolve_dovecot``).  When the input's planned size proves the sieve
  dim holds at most ``max_broadcast_dovecot`` lines, the dim becomes one
  value, a hash table on msgid (``_sieve_buckets``), that a scalar
  subquery hands to every row: one O(1) bucket lookup per interval, and
  the table is never copied into rows.  Otherwise the intervals are
  exploded and joined to the dim (AQE picks the join strategy at run
  time), then reduced per session.  Both replace the reference's
  O(open-sessions) scan per dovecot line (``parse.py:373-375``).
* Everything after the fold — event projection (P4 P5 P6 P11 P12), J1,
  fault splitting — is native Catalyst.

Known divergences (documented, pathological inputs only): ``k=v`` tokens
named ``raw_log`` or ``timestamp`` would corrupt the reference's state
dict in ways we do not replicate (SURVEY.md §2.10 discussion).
"""

from __future__ import annotations

from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from postfix_log_parser_spark.functions.columns import (
    angle_trim,
    domain_of,
    ordered_distinct,
    status_code_pair,
)
from postfix_log_parser_spark.schema import EVENT_COLUMNS

FOLD_SCHEMA = T.StructType(
    [
        T.StructField("record_type", T.StringType(), False),
        # nullable: the fused engine routes PRE-fold faults (short dovecot
        # lines, Q8 — no queue id) through this schema too
        T.StructField("queue_id", T.StringType(), True),
        T.StructField("start_seq", T.LongType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("fields", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("to_list", T.ArrayType(T.StringType()), True),
        T.StructField("raw_log", T.ArrayType(T.StringType()), True),
        T.StructField("removed_seq", T.LongType(), True),
        T.StructField(
            "msgid_intervals",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("msgid", T.StringType(), True),
                        T.StructField("lo", T.LongType(), True),
                        T.StructField("hi", T.LongType(), True),
                    ]
                )
            ),
            True,
        ),
        T.StructField("kv_dovecot_seq", T.LongType(), True),
        T.StructField("fault_reason", T.StringType(), True),
        T.StructField("fault_line", T.StringType(), True),
        T.StructField("fault_seq", T.LongType(), True),
    ]
)

_REQUIRED_KEYS = ("from", "to", "message-id", "status", "status_description")

_FOLD_COLUMNS = [f.name for f in FOLD_SCHEMA.fields]


class _QueueFolder:
    """The per-queue state machine: an exact transcription of ``feed_line``
    (``parse.py:380-423``) + ``PostfixEvent.__init__`` required-key checks
    (``parse.py:143-150``), including Q4 (a failed ``removed`` leaves the
    session open; its line stays in raw_log).  Shared by the fused and
    partitioned folds and the per-group pandas oracle — one source of
    truth for the fold semantics."""

    __slots__ = (
        "queue_id",
        "fields",
        "to_list",
        "raw_log",
        "first_ts",
        "start_seq",
        "msgid_sets",
        "kv_dovecot_seq",
        "out",
    )

    def __init__(self, queue_id: str, out: list):
        self.queue_id = queue_id
        self.out = out
        self.fields: dict[str, str] = {}
        self.to_list: list[str] = []
        self.raw_log: list[str] = []
        self.first_ts = None
        self.start_seq = None
        self.msgid_sets: list[tuple[int, str]] = []  # (seq, bracketed value)
        self.kv_dovecot_seq = None

    def _intervals(self, removed_seq):
        ms = self.msgid_sets
        return [
            {
                "msgid": v,
                "lo": int(s),
                "hi": int(ms[i + 1][0]) if i + 1 < len(ms) else removed_seq,
            }
            for i, (s, v) in enumerate(ms)
        ]

    def _session_row(self, record_type, removed_seq):
        return (
            record_type,
            self.queue_id,
            self.start_seq,
            self.first_ts,
            dict(self.fields),
            list(self.to_list),
            list(self.raw_log),
            removed_seq,
            self._intervals(removed_seq),
            self.kv_dovecot_seq,
            None,
            None,
            None,
        )

    def _fault_row(self, reason, line, seq):
        return (
            "fault",
            self.queue_id,
            self.start_seq,
            None,
            None,
            None,
            None,
            None,
            None,
            None,
            reason,
            line,
            seq,
        )

    def feed(self, seq, line, kind, timestamp, fields, to_list, status_description,
             subject, fault_reason):
        if self.start_seq is None:
            self.start_seq = seq
        self.raw_log.append(line)
        if self.first_ts is None:
            self.first_ts = timestamp

        if fault_reason is not None:
            # admitted line that raised in the reference (Q12): already in
            # raw_log, fields untouched, routed to on_fault
            self.out.append(self._fault_row(fault_reason, line, seq))
            return

        if kind == "removed":
            f = self.fields
            missing = None
            for k in _REQUIRED_KEYS:
                if (k == "to" and not self.to_list) or (k != "to" and k not in f):
                    missing = k
                    break
            if missing is None:
                self.out.append(self._session_row("event", seq))
                self.fields, self.to_list, self.raw_log = {}, [], []
                self.first_ts, self.start_seq = None, None
                self.msgid_sets, self.kv_dovecot_seq = [], None
            else:
                # Q4: KeyError → fault; state entry survives (del never ran)
                self.out.append(
                    self._fault_row(f"KeyError: '{missing}'", line, seq)
                )
            return

        if kind == "subject":
            self.fields["subject"] = subject
            return

        # field / admitted-dovecot line: fold k=v map, to-list, description
        if fields is not None:
            for k, v in dict(fields).items():
                self.fields[k] = v
                if k == "message-id":
                    self.msgid_sets.append((seq, v))
                elif k == "dovecot_fileinto_action":
                    self.kv_dovecot_seq = seq
        if to_list is not None and len(to_list) > 0:
            self.to_list.extend(list(to_list))
        if status_description is not None:
            self.fields["status_description"] = status_description

    def close(self):
        if self.start_seq is not None:
            self.out.append(self._session_row("state", None))


def _feed_frame(folder_of, out: list, pdf: pd.DataFrame) -> None:
    """Push one (queue-sorted) pandas frame of parsed lines through
    per-queue folders.  Columns are unboxed once per frame: a per-row
    ``iloc`` plus Timestamp boxing would cost more than the fold itself."""
    ts = pdf["timestamp"]
    stamps = ts.astype(object).where(ts.notna(), None)
    for q, seq, line, kind, t, fields, to_list, desc, subject, fault in zip(
        pdf["queue_id"],
        pdf["seq"].tolist(),
        pdf["line"],
        pdf["kind"],
        stamps,
        pdf["fields"],
        pdf["to_list"],
        pdf["status_description"],
        pdf["subject"],
        pdf["fault_reason"],
    ):
        folder_of(q).feed(seq, line, kind, t, fields, to_list, desc, subject, fault)


def _feed_raw_frame(folder_of, out: list, pdf: pd.DataFrame) -> None:
    """Fused twin of ``_feed_frame``: each (key, seq)-sorted raw line is
    parsed (``_parse_row``, the Arrow engine's per-line twin) and
    immediately fed to its queue's folder.  Non-admitted lines either emit
    a pre-fold fault row (dovecot-shape IndexError, Q8/Q12) or are dropped
    in place."""
    from postfix_log_parser_spark.operators.parse import _parse_row

    for seq, value in zip(pdf["seq"].tolist(), pdf["value"]):
        r = _parse_row(seq, value)
        # r = (seq, line, kind, ts, queue_id, fields, to_list,
        #      status_desc, subject, dmsgid, daction, fault, admitted)
        if r[12]:
            folder_of(r[4]).feed(r[0], r[1], r[2], r[3], r[5], r[6], r[7], r[8], r[11])
        elif r[2] == "fault":
            # pre-fold fault (never entered state): same row shape the
            # folders emit, so one union-free output stream
            out.append(
                ("fault", r[4], None, None, None, None, None, None,
                 None, None, r[11], r[1], r[0])
            )


def _fold_frames(frames, feed) -> "Any":
    """Linear fold over one partition's (queue, seq)-sorted frames: rows
    for one queue are contiguous and ordered, so one live folder per
    queue-run replays every session at Python-dict speed (the reference's
    own per-line cost), with none of the per-tiny-group scheduling
    overhead of applyInPandas.  Emits FOLD rows in bounded frames."""
    out: list = []
    live: dict[str, _QueueFolder] = {}
    current: list = [None]  # [folder] — queue runs are contiguous

    def folder_of(q: str) -> _QueueFolder:
        f = current[0]
        if f is not None and f.queue_id == q:
            return f
        f = live.get(q)
        if f is None:
            f = live[q] = _QueueFolder(q, out)
        current[0] = f
        return f

    for pdf in frames:
        feed(folder_of, out, pdf)
        if len(out) >= 10_000:
            yield pd.DataFrame(out, columns=_FOLD_COLUMNS)
            out.clear()
    for f in live.values():
        f.close()
    if out:
        yield pd.DataFrame(out, columns=_FOLD_COLUMNS)


def _fold_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas oracle: replay ONE queue_id's lines in seq order."""
    frames = list(_fold_frames([pdf.sort_values("seq")], _feed_frame))
    return pd.concat(frames) if frames else pd.DataFrame([], columns=_FOLD_COLUMNS)


def _prefold_partitions(batches) -> "Any":
    return _fold_frames(batches, _feed_frame)


def _fused_batches(batches) -> "Any":
    return _fold_frames(batches, _feed_raw_frame)


def _fold_partitioned(feed: DataFrame) -> DataFrame:
    """Two-stage fold over parsed lines: ONE hash shuffle (repartition on
    queue_id) + in-partition sort + linear Arrow-batched scan.

    Scale shape: identical shuffle volume to any keyed fold (the data must
    co-locate per key once); partitions stay bounded by
    spark.sql.shuffle.partitions; per-queue data is a 5-20 line session,
    uniform hex key → no skew."""
    return (
        feed.repartition(F.col("queue_id"))
        .sortWithinPartitions("queue_id", "seq")
        .mapInPandas(_prefold_partitions, FOLD_SCHEMA)
    )


def _fold_fused(raw_lines: DataFrame, line_col: str) -> DataFrame:
    """Fused parse+fold: ONE shuffle of (key, seq, raw line) — strictly
    less volume than shuffling parsed maps and arrays — then one Python
    stage that parses and folds in place (``_fused_batches``).

    The co-location key mirrors the parser's admission exactly
    (``parse.queue_key``: token 3 when it has the Q10 queue-id shape,
    ``lognormalizer/parse.py:237-256``), so every admitted line of a queue
    lands in that queue's partition.  Lines without one can fold nowhere
    (at most they emit stateless pre-fold faults) and spread over
    synthetic keys; "\\0" can't collide with an upper-hex queue id."""
    from postfix_log_parser_spark.operators.parse import queue_key, with_seq

    df = with_seq(raw_lines, line_col)
    value = F.col(line_col)
    qk = queue_key(value)
    key = F.when(qk != "", qk).otherwise(
        F.concat(F.lit("\x00"), F.pmod(F.col("seq"), F.lit(64)).cast("string"))
    )
    return (
        df.select(key.alias("_k"), "seq", value.alias("value"))
        .repartition(F.col("_k"))
        .sortWithinPartitions("_k", "seq")
        .mapInPandas(_fused_batches, FOLD_SCHEMA)
    )


def _project_events(folded: DataFrame) -> DataFrame:
    """P4/P5/P6/P11/P12 — native event projection from folded session state
    (``PostfixEvent.__init__``, ``parse.py:136-168``)."""
    f = lambda k: F.try_element_at(F.col("fields"), F.lit(k))  # noqa: E731
    message_from = angle_trim(f("from"))
    message_to = F.transform(F.col("to_list"), angle_trim)
    pair = status_code_pair(f("status_description"))
    return folded.select(
        F.col("timestamp"),
        F.col("queue_id"),
        domain_of(message_from).alias("domain_from"),
        ordered_distinct(F.transform(message_to, domain_of)).alias("domains_to"),
        message_from.alias("message_from"),
        message_to.alias("message_to"),
        angle_trim(f("message-id")).alias("message_id"),
        f("subject").alias("message_subject"),
        f("status").alias("status"),
        pair["status_code"].alias("status_code"),
        pair["status_postfix_code"].alias("status_postfix_code"),
        f("status_description").alias("status_description"),
        f("client").alias("client"),
        f("orig_to").alias("orig_to"),
        F.col("_dovecot_final").alias("dovecot_fileinto_action"),
        f("delay").alias("delay"),
        f("delays").alias("delays"),
        f("dsn").alias("dsn"),
        f("nrcpt").alias("nrcpt"),
        f("relay").alias("relay"),
        f("size").alias("size"),
        F.col("raw_log"),
        F.col("start_seq").alias("_start_seq"),
        F.col("removed_seq").alias("_removed_seq"),
    )


# a sieve line has at least 9 tokens ("Info:", "sieve:", "msgid=",
# "fileinto", "action:" and 4 more): 44 characters plus a terminator
_MIN_SIEVE_LINE_BYTES = 45

# The broadcast J1 dim is a hash table in one array value: entries are
# hashed by msgid into as many buckets as there are entries, each bucket
# led by one sentinel (dseq NULL sorts first), so after one sort the
# sentinels' positions are the bucket starts and bucket b is array slot b.
# Each step is its own projection, and each step's output is referenced
# more than once by the next, so the optimizer does not inline a step into
# a lambda, where it would be recomputed per element.
_SIEVE_ENTRY = "struct<b:int,dseq:bigint,m:string,daction:string>"
_BUCKET_STEPS = (
    ["collect_list(struct(dmsgid, dseq, daction)) AS _e"],
    ["_e", "greatest(size(_e), 1) AS _nb"],
    [
        f"""array_sort(concat(
          transform(_e, x -> CAST(struct(pmod(xxhash64(x.dmsgid), _nb), x.dseq,
                                         x.dmsgid, x.daction) AS {_SIEVE_ENTRY})),
          transform(sequence(0, _nb - 1), b -> CAST(struct(b, NULL, NULL, NULL)
                                                    AS {_SIEVE_ENTRY})))) AS _s"""
    ],
    ["_s", "filter(sequence(0, size(_s) - 1), i -> get(_s, i).dseq IS NULL) AS _starts"],
    [
        "transform(_starts, (s, j) -> slice(_s, s + 1,"
        " coalesce(get(_starts, j + 1), size(_s)) - s)) AS _buckets"
    ],
)


def _sieve_buckets(dim: DataFrame) -> DataFrame:
    """One row, one column ``_buckets``: the dim as a hash table on msgid,
    built by one global aggregate and O(n log n) array work."""
    for step in _BUCKET_STEPS:
        dim = dim.selectExpr(*step)
    return dim


# Per session, the last sieve line (max dseq) inside any of its msgid
# validity intervals: one bucket lookup per interval (a bucket is sorted by
# dseq, so its last hit is the interval's latest line).  The table ``_bk``
# is read once, bound to ``bk`` by a one-element transform.
_BEST_SIEVE = """element_at(transform(array(_bk), bk -> array_max(transform(
  msgid_intervals, iv -> try_element_at(transform(filter(
    get(bk, CAST(pmod(xxhash64(iv.msgid), size(bk)) AS INT)),
    d -> d.m = iv.msgid AND d.dseq > iv.lo AND (iv.hi IS NULL OR d.dseq < iv.hi)),
    d -> struct(d.dseq AS dseq, d.daction AS daction)), -1)))), 1)"""


def _final_action(seq: str, action: str) -> Column:
    """The sieve action unless a later ``dovecot_fileinto_action=`` k=v
    token overrode it (both are plain dict assignments in the reference:
    the later setter wins)."""
    return F.expr(
        f"CASE WHEN {seq} IS NOT NULL AND (kv_dovecot_seq IS NULL"
        f" OR {seq} > kv_dovecot_seq) THEN {action}"
        " ELSE try_element_at(fields, 'dovecot_fileinto_action') END"
    )


def _resolve_dovecot(
    sessions: DataFrame, dim: DataFrame, table: Column | None
) -> DataFrame:
    """J1: add ``_dovecot_final`` to the folded sessions — the action of
    the last sieve line (max dseq) inside any of the session's msgid
    validity intervals, or the k=v fallback.  ``table``, when given, is
    ``dim`` as a ``_sieve_buckets`` scalar subquery (the broadcast J1)."""
    if table is not None:
        # ``_bk`` has one reference, so the optimizer folds the subquery
        # into the lambda and every row reads the value in place; a
        # projected or joined column would be copied into each row,
        # because the lambdas run outside generated code
        return (
            sessions.select("*", table.alias("_bk"))
            .select(*sessions.columns, F.expr(_BEST_SIEVE).alias("_best"))
            .select(
                *sessions.columns,
                _final_action("_best.dseq", "_best.daction").alias("_dovecot_final"),
            )
        )
    # scale path: never holds the dim in one task.  Explode the intervals
    # (bounded: one per message-id assignment), join the dim on msgid with
    # the range predicate (AQE picks the strategy at run time), keep the
    # last matching sieve line per session.  (queue_id, start_seq)
    # identifies a session; its exploded rows all carry its columns.
    key = ["queue_id", "start_seq"]
    rest = [c for c in sessions.columns if c not in key]
    iv = F.col("_iv")
    return (
        sessions.select("*", F.explode_outer("msgid_intervals").alias("_iv"))
        .join(
            dim,
            (iv["msgid"] == F.col("dmsgid"))
            & (F.col("dseq") > iv["lo"])
            & (iv["hi"].isNull() | (F.col("dseq") < iv["hi"])),
            "left",
        )
        .groupBy(*key)
        .agg(
            *[F.first(c).alias(c) for c in rest],
            F.max("dseq").alias("_best_dseq"),
            F.max_by("daction", "dseq").alias("_best_daction"),
        )
        .select(
            *key,
            *rest,
            _final_action("_best_dseq", "_best_daction").alias("_dovecot_final"),
        )
    )


def sessionize(
    parsed: DataFrame,
    keep_order_columns: bool = False,
    fold: str = "partitioned",
    raw_lines: DataFrame | None = None,
    max_broadcast_dovecot: int = 100_000,
    materialize_fold: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Sessionize a parsed-line DataFrame.

    Returns ``(events, faults, state)``:

    * ``events`` — the 22-column `EVENTS_SCHEMA` DataFrame, one row per
      completed session (quirk Q5: rows may carry NULL status codes; the
      sink projection routes those to faults — see ``sinks.route_sink_faults``).
    * ``faults`` — (line, fault_reason, queue_id): every line the reference
      would route to ``on_fault`` (quirk Q12).
    * ``state`` — residual open sessions (the reference's ``parser.state``)
      for introspection / streaming hand-off.

    Set ``keep_order_columns=True`` to retain ``_start_seq``/``_removed_seq``
    on events (deterministic ordering for tests).

    ``parsed`` fuses with the fold only when it is the unmodified output of
    ``parse_lines_arrow(raw_lines)`` and the fold is ``partitioned``; any
    other ``parsed`` keeps its own plan and is folded by ``fold``:
    ``partitioned`` (default) or ``pandas``, the per-group oracle; any
    other value raises ``ValueError``.  With ``raw_lines`` the sieve dim
    comes from a narrow Catalyst scan of the raw text
    (``dovecot_dim_from_raw``), else from ``parsed``.

    ``max_broadcast_dovecot`` bounds the J1 broadcast: the dim becomes one
    hash-table value only when the input's plan proves it holds at most
    that many sieve lines (``planned_line_bound``: 45 bytes or more per
    sieve line of an uncompressed file, one per in-memory line);
    otherwise, and for inputs whose size the plan does not tell
    (compressed files, RDDs), J1 joins the exploded intervals to the dim
    and never materializes it in one task.  The default keeps the table
    to a few MB (at ~420k sieve lines its build ran a 1 GiB driver out of
    heap, and the join J1 cost the same CPU).

    ``materialize_fold=True`` checkpoints the fold eagerly (one job), so
    callers that then materialize all three outputs run it once.
    """
    from postfix_log_parser_spark.operators.parse import dovecot_dim_from_raw
    from postfix_log_parser_spark.sources.text import planned_line_bound

    if fold not in ("partitioned", "pandas"):
        raise ValueError(f"unknown fold strategy: {fold!r}")
    source = getattr(parsed, "_arrow_parse_of", None)
    line_col = source[1] if source is not None else "value"
    pre_faults = None
    if fold == "partitioned" and source is not None and source[0] is raw_lines:
        folded = _fold_fused(raw_lines, line_col)
    else:
        # faults raised before any state effect (dovecot-shape IndexError)
        pre_faults = parsed.filter(
            (F.col("kind") == "fault") & ~F.col("admitted")
        ).select("line", "fault_reason", "queue_id")
        feed = parsed.filter(F.col("admitted")).select(
            "seq",
            "line",
            "kind",
            "timestamp",
            "queue_id",
            "fields",
            "to_list",
            "status_description",
            "subject",
            "fault_reason",
        )
        if fold == "partitioned":
            folded = _fold_partitioned(feed)
        else:
            folded = feed.groupBy("queue_id").applyInPandas(_fold_group, FOLD_SCHEMA)

    if materialize_fold:
        # events, faults and state all derive from ``folded``: one eager
        # checkpoint turns the triple into narrow reads of one fold run
        folded = folded.localCheckpoint(eager=True)

    if raw_lines is not None:
        dim = dovecot_dim_from_raw(raw_lines, line_col)
    else:
        dim = parsed.filter(F.col("dovecot_msgid").isNotNull())
    dim = dim.select(
        F.col("seq").alias("dseq"),
        F.col("dovecot_msgid").alias("dmsgid"),
        F.col("dovecot_action").alias("daction"),
    )
    n_sieve = planned_line_bound(
        parsed if raw_lines is None else raw_lines, _MIN_SIEVE_LINE_BYTES
    )
    table = None
    if n_sieve is not None and n_sieve <= max_broadcast_dovecot:
        # Folding the subquery into the lookup lambda needs a deterministic
        # plan, and the dim's seq comes from scan metadata.  A lazy local
        # checkpoint makes the dim a plain RDD leaf: no job here, the first
        # action fills it, and events and state then read the same dim.
        table = _sieve_buckets(dim.localCheckpoint(eager=False)).scalar()

    def resolved(record_type: str) -> DataFrame:
        # J1 below the filter: each output resolves only its own sessions
        return _resolve_dovecot(
            folded.filter(F.col("record_type") == record_type), dim, table
        )

    events = _project_events(resolved("event"))
    if not keep_order_columns:
        events = events.select(*EVENT_COLUMNS)

    faults = folded.filter(F.col("record_type") == "fault").select(
        F.col("fault_line").alias("line"),
        F.col("fault_reason"),
        F.col("queue_id"),
    )
    if pre_faults is not None:
        faults = pre_faults.unionByName(faults)

    state = resolved("state").select(
        "queue_id",
        "timestamp",
        "fields",
        "to_list",
        "raw_log",
        F.col("_dovecot_final").alias("dovecot_fileinto_action"),
    )
    return events, faults, state
