"""Streaming sessionizer — the batch fold's state machine under
``applyInPandasWithState``.

The reference is a streaming tool: it consumes an unbounded stdin line
stream, keeps per-``queue_id`` dict state, emits an event when ``removed``
arrives, and evicts state entries whose stored first-timestamp is older
than 10 minutes (``lognormalizer/parse.py:272-284`` eviction, ``:380-423``
fold, ``:515`` stdin loop).  This module is the Structured Streaming
mirror:

* **A1/A2** — the per-queue ordered fold runs incrementally in
  ``applyInPandasWithState`` keyed on ``queue_id``, and it is the batch
  fold: each group restores a ``_QueueFolder`` (``operators/sessionize``)
  from its state, feeds it the batch's lines, and saves its slots back.
  The required-key check, Q4 (a failed ``removed`` leaves the session
  open), Q12 faults, subject, status and to-list folding exist once, in
  ``_QueueFolder.feed``; output rows are ``FOLD_SCHEMA`` rows.  Only the
  stream shell lives here: the (timestamp, file, seq) sort, the in-fold
  J1 for correlated sieve lines, TTL eviction, and the state update.
* **A3** — TTL eviction via **event-time timeout** (default): the state's
  timeout is ``first_timestamp + ttl`` against the watermark.  The
  reference mixes event time with wall-clock (`now()` vs stored event ts —
  quirk Q9); a replayed-log watermark is the principled streaming
  equivalent.  ``timeout_mode="processing-time"`` opts into strict Q9
  parity: ARRIVAL-DRIVEN wall-clock eviction, exactly the reference's
  shape — ``feed_line`` calls ``_cleanup_old_entities`` which drops
  entries with ``now() - stored_event_ts > OLD_LOGS``
  (``parse.py:385, :272-284``); here, incoming data for a queue whose
  stored session is wall-clock-stale evicts it first and folds fresh (no
  engine timers: the reference has none either, and pending processing
  timers would loop an availableNow replay forever).  Evicted sessions
  surface as ``record_type='evicted'`` rows (the reference drops them
  silently — emitting them is strictly more observable; filter them out
  for parity).
* **J1** — dovecot sieve correlation: dovecot lines carry legacy syslog
  timestamps (no event time) and are keyed by msgid, not queue_id, so they
  cannot enter the keyed fold directly.  They are resolved to candidate
  queues with a **watermarked stream-stream join**: an assignment stream
  (admitted lines carrying ``message-id`` → (msgid, queue_id, ts)) joins a
  dovecot stream (sieve lines with a scan-carried event time) on msgid +
  a time-range bound.  The join's state store holds assignments across
  micro-batches AND partitions, so a sieve line arriving in a later batch
  still correlates — the two streaming stateful operators (join → keyed
  fold) chain in one query.  The fold then applies the action only if the
  session's *current* ``message-id`` equals the msgid — the reference's
  exact predicate (``parse.py:370-375``).  A sieve line whose session was
  already finalized finds no open state — which is the reference's
  behavior too (state is deleted on ``removed``, ``parse.py:353``).
  A dovecot line arriving BEFORE the first parseable timestamp in its
  scan partition is backfilled with the partition's first FOLLOWING
  timestamp (``_prepare_partition``), so even a partition that opens
  with a sieve line still correlates.

Scale design: ``prepare_stream`` is one vectorized Arrow pass (pandas
string ops; seq is the stable in-file byte offset computed from the
scan's ``input_file_block_start`` — no partition-id dependence, so the
fold's tie order matches batch across micro-batches), the join keys on
msgid with a ±TTL range bound (state evicted by watermark), the fold
shuffles once on the uniform hex ``queue_id``, and state per key is one
bounded session (5-20 lines) — no skew, no unbounded state.

FUSED since r8: the fold branch ships the RAW trimmed line (keyed by
the cheap token-3 queue-id candidate) and the full per-line parse runs
inside the state worker via ``_parse_row`` — the streaming twin of the
batch fused plan, ``sessionize(parse_lines_arrow(raw), raw_lines=raw)``.
The Catalyst parse tree never enters the streaming plan, which cut
q43's per-query fixed cost ~30% (queryPlanning 1.2 s → 0.6 s, addBatch
2.9 s → 1.6 s measured warm); the three branches are all narrow
regex/token projections, and the fold re-checks admission so the
over-admitting cheap filter never changes WHAT folds.
"""

from __future__ import annotations

import datetime
import time
from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from postfix_log_parser_spark.operators.parse import _parse_row, parse_lines
from postfix_log_parser_spark.operators.sessionize import (
    _FOLD_COLUMNS,
    FOLD_SCHEMA,
    _project_events,
    _QueueFolder,
)
from postfix_log_parser_spark.schema import EVENT_COLUMNS

# ---------------------------------------------------------------------------
# prepare_stream: per-partition seq + carry-forward ts + local dovecot keys
# ---------------------------------------------------------------------------

_PREP_SCHEMA = T.StructType(
    [
        T.StructField("value", T.StringType(), True),
        T.StructField("file", T.StringType(), True),
        T.StructField("seq", T.LongType(), True),
        T.StructField("_dove_ts", T.TimestampType(), True),
    ]
)


def _iso_ts(tok: str) -> datetime.datetime | None:
    try:
        dt = datetime.datetime.fromisoformat(tok)
    except ValueError:
        return None
    if dt.tzinfo is not None:
        dt = dt.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return dt


def _prepare_partition(
    pdfs: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    # Stable intra-queue tiebreak: seq = the line's in-FILE byte offset
    # (split block start + cumulative bytes within the split), paired with
    # the file path carried alongside.  The fold sorts (timestamp, file,
    # seq), which is exactly the batch source's global order (read_text
    # numbers splits in (file, block) order) — so byte-identical
    # timestamps fold in the same order in stream and batch, across scan
    # partitions AND micro-batches (file identity does not restart the
    # way partition ids do).  The newline is counted as 1 byte; a \r\n
    # file undercounts, which stays safe: offsets remain strictly
    # increasing within a split and below the next split's block start.
    # Non-file sources (memory stream: file='', block=-1) fall back to a
    # partition-id-salted base — per-partition scan order, the pre-r6
    # behavior.
    from pyspark import TaskContext

    ctx = TaskContext.get()
    pid_salt = (ctx.partitionId() << 40) if ctx is not None else 0
    cur_key: tuple[str, int] | None = None  # (file, block) continuing group
    cur_off = 0  # next byte offset within that group
    last_ts: datetime.datetime | None = None
    # Head-of-partition dovecot backfill: a sieve line BEFORE the first
    # parseable timestamp in its scan partition gets the first FOLLOWING
    # timestamp instead of being dropped from the correlation join.
    # Chunks are buffered only until the partition's first timestamp
    # appears (real syslog partitions open with timestamped lines, so the
    # buffer is ~one chunk deep in practice).
    first_ts_seen = False
    pending: list[tuple[pd.DataFrame, list[int]]] = []  # (frame, unresolved dove idx)

    for pdf in pdfs:
        raw = pdf["value"].reset_index(drop=True)
        vals = raw.astype("string").str.strip()
        n = len(vals)
        files = pdf["_file"].reset_index(drop=True).fillna("")
        blocks = pdf["_block"].reset_index(drop=True).fillna(-1).astype("int64")
        if n == 0:
            continue
        # bytes consumed by each line (+1 for the newline), vectorized
        nbytes = (
            raw.astype("string").fillna("").str.encode("utf-8").str.len() + 1
        ).astype("int64")
        grp = ((files != files.shift()) | (blocks != blocks.shift())).cumsum()
        start_within = nbytes.groupby(grp).cumsum() - nbytes
        base_row = blocks.where(files != "", other=pid_salt)
        seq = base_row.groupby(grp).transform("first") + start_within
        if cur_key is not None and (files.iat[0], int(blocks.iat[0])) == cur_key:
            # first group continues the previous chunk's split: resume at
            # the carried offset instead of the block start
            first_grp = grp.iat[0]
            seq = seq.where(
                grp != first_grp, seq - int(seq.iat[0]) + cur_off
            )
        cur_key = (files.iat[-1], int(blocks.iat[-1]))
        cur_off = int(seq.iat[-1]) + int(nbytes.iat[-1])
        dove_ts: list[Any] = [None] * n
        # dovecot lines have no parseable event time; give them the
        # nearest preceding ISO timestamp in this scan partition (falling
        # back to the carry from earlier chunks) so they can enter the
        # watermarked correlation join.  Scans are short: they break at
        # the first parseable head token.
        dove_mask = (
            vals.str.contains(" Info: sieve: msgid=", regex=False).fillna(False)
        )
        iso_head = vals.str.extract(r"^(\S+) ", expand=False)

        def _nearest_ts_at_or_before(i: int) -> datetime.datetime | None:
            for j in range(i, -1, -1):
                tok = iso_head[j]
                if tok is None or pd.isna(tok):
                    continue
                ts = _iso_ts(tok)
                if ts is not None:
                    return ts
            return None

        unresolved: list[int] = []
        if dove_mask.any():
            for i in dove_mask[dove_mask].index:
                found = _nearest_ts_at_or_before(i)
                dove_ts[i] = found if found is not None else last_ts
                if dove_ts[i] is None:
                    unresolved.append(i)
        # carry the chunk's last parseable timestamp for later chunks
        tail = _nearest_ts_at_or_before(n - 1) if n else None
        if tail is not None:
            last_ts = tail
        out = pd.DataFrame(
            {
                "value": raw,
                "file": files,
                "seq": pd.array(seq, dtype="Int64"),
                "_dove_ts": pd.array(dove_ts, dtype="object"),
            }
        )
        if first_ts_seen:
            yield out
            continue
        if tail is None:
            # still no timestamp anywhere in this partition: hold chunks
            # with unresolved head doves until one appears
            pending.append((out, unresolved))
            continue
        # first timestamp of the partition: the FIRST parseable ts seen,
        # i.e. the earliest one in (pending ∪ this chunk) scan order
        first_ts = None
        for i in range(n):
            tok = iso_head[i]
            if tok is None or pd.isna(tok):
                continue
            first_ts = _iso_ts(tok)
            if first_ts is not None:
                break
        for frame, idxs in pending:
            for i in idxs:
                frame.iat[i, frame.columns.get_loc("_dove_ts")] = first_ts
            yield frame
        pending.clear()
        for i in unresolved:
            out.iat[i, out.columns.get_loc("_dove_ts")] = first_ts
        first_ts_seen = True
        yield out

    for frame, _idxs in pending:  # partition had no timestamps at all
        yield frame


def prepare_stream(lines: DataFrame, line_col: str = "value") -> DataFrame:
    """Attach ``file`` + ``seq`` (stable in-file byte offset) and a
    carried-forward event time on dovecot lines (``_dove_ts``).  Works on
    both streaming and batch DataFrames (one narrow Arrow pass).

    A source that already carries ``file`` + ``seq`` columns (the
    ``maillog`` Python Data Source — batch or stream) is trusted: its
    per-line seq rides in the ``_block`` slot, which makes every line
    its own (file, block) group inside the Arrow pass, so the byte-offset
    math degenerates to exactly the source's seq while the dovecot
    ``_dove_ts`` backfill still runs."""
    if {"file", "seq"} <= set(lines.columns):
        df = lines.select(
            F.col(line_col).alias("value"),
            F.col("file").alias("_file"),
            F.col("seq").cast("long").alias("_block"),
        )
    else:
        df = lines.select(
            F.col(line_col).alias("value"),
            F.input_file_name().alias("_file"),
            F.expr("input_file_block_start()").alias("_block"),
        )
    return df.mapInPandas(_prepare_partition, _PREP_SCHEMA)


# ---------------------------------------------------------------------------
# the incremental keyed fold
# ---------------------------------------------------------------------------

STREAM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("first_ts", T.TimestampType(), True),
        T.StructField("start_seq", T.LongType(), True),
        T.StructField("field_keys", T.ArrayType(T.StringType()), True),
        T.StructField("field_vals", T.ArrayType(T.StringType()), True),
        T.StructField("to_list", T.ArrayType(T.StringType()), True),
        T.StructField("raw_log", T.ArrayType(T.StringType()), True),
        T.StructField("msgid_seqs", T.ArrayType(T.LongType()), True),
        T.StructField("msgid_vals", T.ArrayType(T.StringType()), True),
        T.StructField("kv_dovecot_seq", T.LongType(), True),
    ]
)


def _restore(folder: _QueueFolder, saved: tuple) -> None:
    """Load an open session's ``_QueueFolder`` slots from group state."""
    (folder.first_ts, folder.start_seq, keys, vals, folder.to_list,
     folder.raw_log, mseqs, mvals, folder.kv_dovecot_seq) = saved
    folder.fields = dict(zip(keys, vals))
    folder.msgid_sets = list(zip(mseqs, mvals))


def _snapshot(folder: _QueueFolder) -> tuple:
    """The folder's slots as one ``STREAM_STATE_SCHEMA`` value.  Numbers
    nested in arrays are not converted from numpy by ``GroupState.update``,
    so every seq is cast here."""
    kv = folder.kv_dovecot_seq
    return (
        folder.first_ts,
        int(folder.start_seq),
        list(folder.fields),
        list(folder.fields.values()),
        folder.to_list,
        folder.raw_log,
        [int(s) for s, _ in folder.msgid_sets],
        [v for _, v in folder.msgid_sets],
        None if kv is None else int(kv),
    )


def _make_fold(ttl_seconds: int, processing_time: bool = False):
    def fold(
        key: Tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        out: list = []
        folder = _QueueFolder(key[0], out)
        if state.exists:
            _restore(folder, state.get)

        if state.hasTimedOut:
            # A3: TTL eviction — the reference silently deletes
            # (parse.py:272-284); we surface the dropped session.
            out.append(folder._session_row("evicted", None))
            state.remove()
            yield pd.DataFrame(out, columns=_FOLD_COLUMNS)
            return

        if processing_time and folder.start_seq is not None:
            # Strict-parity Q9: the reference evicts ON LINE ARRIVAL
            # (feed_line → _cleanup_old_entities, parse.py:385,:272-284),
            # comparing wall-clock now() against the stored FIRST event
            # timestamp — no timers.  So: incoming data for a queue whose
            # stored session is stale by the live clock evicts it first
            # and folds the new lines into a fresh session, exactly the
            # reference's outcome for a reused queue id on old logs.
            # (The reference's sweep is global across keys and throttled
            # to 1/minute; per-key-on-arrival lands inside that tolerance
            # and differs only in state-store residency for keys that
            # never see another line — their OUTPUT is identical: nothing.)
            deadline = (
                folder.first_ts.replace(tzinfo=datetime.timezone.utc).timestamp()
                + ttl_seconds
            )
            if time.time() > deadline:
                out.append(folder._session_row("evicted", None))
                folder = _QueueFolder(key[0], out)

        rows = pd.concat(list(pdfs), ignore_index=True)
        # (timestamp, file, in-file offset): byte-identical timestamps
        # fold in the batch source's global order (read_text numbers
        # splits in (file, block) order) — stream == batch on ties
        rows = rows.sort_values(["timestamp", "file", "seq"], kind="stable")
        for row in rows.itertuples(index=False):
            if row.dove_dup:
                # J1: apply only if the session's CURRENT message-id
                # matches (parse.py:370-375); never touches raw_log (Q8)
                if folder.fields.get("message-id") == row.dovecot_msgid:
                    folder.fields["dovecot_fileinto_action"] = row.dovecot_action
                continue
            # FUSED parse, as in the batch ``_feed_raw_frame``: the feed
            # ships the raw line and the same per-line parse runs here.
            # Admission re-checks the gates the cheap feed filter
            # over-admits (min-arity, strict ISO parse, dovecot-fault
            # shapes), so unadmitted lines never fold.
            r = _parse_row(row.seq, row.line)
            if r[12]:
                folder.feed(r[0], r[1], r[2], row.timestamp.to_pydatetime(),
                            r[5], r[6], r[7], r[8], r[11])

        if folder.start_seq is not None:
            state.update(_snapshot(folder))
            if not processing_time:
                # A3 timeout: first-line event time + TTL (reference:
                # stored ts older than OLD_LOGS=10min → evict), clamped
                # above the current watermark as the API requires.
                # (Processing-time mode registers NO timers: eviction is
                # arrival-driven like the reference's feed_line cleanup,
                # and pending processing timers would keep an availableNow
                # replay looping no-data batches forever.)
                timeout_ms = int(folder.first_ts.timestamp() * 1000) + ttl_seconds * 1000
                wm = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(max(timeout_ms, wm + 1))
        elif state.exists:
            state.remove()

        yield pd.DataFrame(out, columns=_FOLD_COLUMNS)

    return fold


STREAM_OUT_SCHEMA = FOLD_SCHEMA


def sessionize_stream(
    lines: DataFrame,
    ttl: str = "10 minutes",
    watermark_delay: str = "10 minutes",
    line_col: str = "value",
    timeout_mode: str = "event-time",
) -> DataFrame:
    """Raw streaming text lines → folded session-record stream.

    Output rows are ``FOLD_SCHEMA`` rows (``STREAM_OUT_SCHEMA``) with
    ``record_type`` ∈ {event, fault, evicted}; use ``stream_events`` /
    ``stream_faults`` to project the batch-compatible events / faults
    shapes.  ``ttl`` mirrors the reference's ``OLD_LOGS`` 10-minute
    eviction horizon (``parse.py:77``) as an event-time timeout; it is
    ``"<count> <unit>"`` with unit second, minute, hour or day, singular or
    plural, and anything else raises ``ValueError`` here, before a query
    starts.  ``watermark_delay`` bounds out-of-order arrival.

    ``timeout_mode``: ``"event-time"`` (default) evicts against the
    watermark — deterministic on replays; ``"processing-time"`` is the
    strict-parity Q9 mode mirroring the reference's arrival-driven
    wall-clock eviction (``parse.py:385, :272-284``): a line arriving for
    a queue whose stored session's first event timestamp is older than
    TTL on the live clock evicts that session first and starts fresh —
    so replaying old logs evicts stale state exactly like the reference.

    Two chained stateful stages: the msgid correlation join (stream-stream
    inner join, state bounded by watermark + the ±TTL range condition),
    then one hash shuffle on ``queue_id`` into the fold's state store.
    Everything upstream is a narrow regex/token projection — the full
    per-line parse is FUSED into the fold's Python state worker
    (``_parse_row``, the streaming twin of the batch fused plan), so the
    streaming plan never instantiates the Catalyst parse expression tree;
    everything downstream (projection) is stateless.
    """
    from postfix_log_parser_spark.operators.parse import _QUEUE_ID_RE, _WS

    ttl_seconds = _duration_seconds(ttl)
    if timeout_mode not in ("event-time", "processing-time"):
        raise ValueError(f"timeout_mode must be event-time|processing-time, got {timeout_mode!r}")
    processing = timeout_mode == "processing-time"
    ttl_bound = F.expr(f"INTERVAL {ttl_seconds} SECONDS")
    prepared = prepare_stream(lines, line_col)

    # ONE shared watermark node on a unified event-time column computed
    # CHEAPLY at the prepared level: the line's own ISO head timestamp
    # when parseable, else the scan-carried one (unadmitted dovecot
    # lines).  All three branches below filter FROM this node, so the
    # single logical watermark advances whenever any branch sees rows.
    # Per-branch watermark nodes would break: the optimizer pushes
    # non-event-time filter conjuncts below EventTimeWatermark, after
    # which a dovecot-only node sees no rows on dovecot-free input, and
    # the global min-policy watermark freezes at epoch (TTL eviction
    # never fires).  All three branches are lightweight regex/token
    # projections — since the fold fused the full parse into its state
    # worker, no branch instantiates the Catalyst parse tree at all.
    nws = f"[^{_WS[1:-1]}]"  # complement of the Python-whitespace class
    trimmed = F.regexp_replace(F.col("value"), f"^{_WS}+|{_WS}+$", "")
    head = F.regexp_extract(trimmed, f"^({nws}+)", 1)
    head_ts = F.when(
        head.rlike(r"^[0-9]{4}-[0-9]{2}-[0-9]{2}(T.+)?$"), F.try_to_timestamp(head)
    )
    base = prepared.withColumn(
        "evt", F.coalesce(head_ts, F.col("_dove_ts"))
    ).withWatermark("evt", watermark_delay)

    # FUSED feed (the streaming twin of the batch fused plan): the fold
    # branch ships the RAW trimmed line keyed by the token-3 queue-id
    # candidate — no Catalyst parse tree in the streaming plan at all.  The full per-line parse (``_parse_row``,
    # the differentially-tested Python twin of ``parse_lines``) runs
    # inside the state worker, where the line is already in Python.
    # This cuts the dominant q43 fixed costs measured on the unfused
    # plan: queryPlanning ~0.9-1.2 s (analyzing/optimizing the giant
    # parse expression tree per query start) and the parse branch's
    # codegen stages inside addBatch — the state-store commits were
    # never the bottleneck (~180 ms of a 3.5 s trigger).  The cheap
    # filter over-admits (it checks only queue shape + parseable evt);
    # the fold's admission re-check drops the rest, so the fed state
    # operator sees exactly the lines the old parse-filtered feed did
    # plus a bounded sliver of never-folding ones.
    tok3 = F.get(F.split(trimmed, f"{_WS}+"), 3)
    admitted = base.filter(
        tok3.rlike(_QUEUE_ID_RE) & F.col("evt").isNotNull()
    ).select(
        F.substring(tok3, 1, 11).alias("queue_id"),
        # evt == the parsed timestamp for every admitted line (same ISO
        # gate + try_to_timestamp), and it carries the watermark metadata
        # the stateful fold needs
        F.col("evt").alias("timestamp"),
        "file",
        "seq",
        trimmed.alias("line"),
        # an ADMITTED line that merely has the dovecot shape must fold
        # its k=v fields like any line — the reference's handler
        # returns False and the line continues (parse.py:362-378);
        # correlation duplicates (dove_dup=true) come from the join
        F.lit(False).alias("dove_dup"),
        F.lit(None).cast("string").alias("dovecot_msgid"),
        F.lit(None).cast("string").alias("dovecot_action"),
    )

    # J1 correlation join: assignments (admitted-shaped lines carrying a
    # message-id) ⋈ dovecot sieve lines, on the bracketed msgid (Q8) with
    # a ±TTL time-range bound so both join-state sides are watermark-
    # evicted.  Both sides are cheap regex/token projections, NOT full
    # parses: over-generation is safe because the fold's current-
    # message-id equality check remains the decider (a message-id token
    # on a line the full parse would not fold — e.g. a subject warning
    # line, P9 — yields a candidate no open session matches).
    assign = base.filter(
        trimmed.rlike(f"^{nws}+{_WS}+{nws}+{_WS}+{nws}+{_WS}+[0-9A-F]{{11}}:{_WS}")
        & F.col("evt").isNotNull()
        & trimmed.contains("message-id=")
    ).select(
        # last message-id= token wins (Q1); trailing commas stripped (P2)
        F.regexp_replace(
            # try_: the contains() pre-filter admits mid-token matches the
            # anchored regex rejects (empty array -> NULL, not ANSI error)
            F.try_element_at(
                F.regexp_extract_all(
                    trimmed, F.lit(f"(?:^|{_WS})message-id=({nws}+)"), 1
                ),
                F.lit(-1),
            ),
            ",+$",
            "",
        ).alias("a_msgid"),
        F.regexp_extract(
            trimmed, f"^{nws}+{_WS}+{nws}+{_WS}+{nws}+{_WS}+([0-9A-F]{{11}}):", 1
        ).alias("a_queue"),
        F.col("evt").alias("a_ts"),
    )
    # ANY dovecot-shaped line correlates — admitted or not: the reference
    # handler runs before the admission gates and always returns False
    # (parse.py:362-378, 393-394), so an admitted dovecot-shaped line both
    # folds its k=v fields (admitted branch above) AND updates matching
    # sessions (this branch).  Exact Q8 token-shape check on a local
    # tokens column (the only non-regex work in this branch).
    d_tokens = F.split(trimmed, f"{_WS}+")

    def dt(i: int):
        return F.get(d_tokens, i)

    d_n = F.size(d_tokens)
    is_dove_shape = (
        (d_n >= 9)
        & (dt(4) == "Info:")
        & (dt(5) == "sieve:")
        & dt(6).startswith("msgid=")
        & (dt(7) == "fileinto")
        & (dt(8) == "action:")
    )
    d_msgid_raw = F.substring(dt(6), F.instr(dt(6), "=") + 1, F.length(dt(6)))
    dove = base.filter(is_dove_shape & F.col("evt").isNotNull()).select(
        F.substring(d_msgid_raw, 1, F.length(d_msgid_raw) - 1).alias("d_msgid"),
        F.col("evt").alias("d_ts"),
        F.col("file").alias("d_file"),
        F.col("seq").alias("d_seq"),
        trimmed.alias("d_line"),
        F.concat_ws(
            " ", F.slice(d_tokens, 10, F.greatest(d_n - F.lit(9), F.lit(0)))
        ).alias("d_action"),
    )
    resolved = dove.join(
        assign,
        (F.col("d_msgid") == F.col("a_msgid"))
        # symmetric ±TTL bound (matches the docstring): the lower slack
        # covers sieve lines whose carried-forward event time trails the
        # assignment's by out-of-order log timestamps — the seq-based
        # batch path imposes no time bound at all, so the streaming bound
        # must be at least as wide as the arrival disorder the watermark
        # admits.  State cost is symmetric with the upper bound.
        & (F.col("d_ts") >= F.col("a_ts") - ttl_bound)
        & (F.col("d_ts") <= F.col("a_ts") + ttl_bound),
        "inner",
    ).select(
        F.col("a_queue").alias("queue_id"),
        F.col("d_ts").alias("timestamp"),
        F.col("d_file").alias("file"),
        F.col("d_seq").alias("seq"),
        F.col("d_line").alias("line"),
        F.lit(True).alias("dove_dup"),
        F.col("d_msgid").alias("dovecot_msgid"),
        F.col("d_action").alias("dovecot_action"),
    )

    feed = admitted.unionByName(resolved)
    return feed.groupBy("queue_id").applyInPandasWithState(
        _make_fold(ttl_seconds, processing_time=processing),
        FOLD_SCHEMA,
        STREAM_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout
        if processing
        else GroupStateTimeout.EventTimeTimeout,
    )


_UNIT_SECONDS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}


def _duration_seconds(spec: str) -> int:
    """``"<count> <unit>"`` → seconds; the unit is second, minute, hour or
    day, singular or plural (``"10 minutes"``, ``"1 day"``)."""
    parts = spec.split()
    unit = parts[-1].removesuffix("s") if parts else ""
    if len(parts) != 2 or not parts[0].isdecimal() or unit not in _UNIT_SECONDS:
        raise ValueError(
            f"ttl must be '<count> <unit>' with unit second, minute, hour or "
            f"day (singular or plural), e.g. '10 minutes'; got {spec!r}"
        )
    return int(parts[0]) * _UNIT_SECONDS[unit]


def stream_events(folded: DataFrame) -> DataFrame:
    """Project completed sessions to the 22-column EVENTS_SCHEMA (same
    native projection as the batch path)."""
    sessions = folded.filter(F.col("record_type") == "event").select(
        "timestamp",
        "queue_id",
        "fields",
        "to_list",
        "raw_log",
        F.try_element_at(F.col("fields"), F.lit("dovecot_fileinto_action")).alias(
            "_dovecot_final"
        ),
        "start_seq",
        "removed_seq",
    )
    return _project_events(sessions).select(*EVENT_COLUMNS)


def stream_faults(folded: DataFrame) -> DataFrame:
    """Fold-stage faults in the batch fault-channel shape."""
    return folded.filter(F.col("record_type") == "fault").select(
        F.col("fault_line").alias("line"),
        F.col("fault_reason"),
        F.col("queue_id"),
    )


def stream_pre_faults(lines: DataFrame, line_col: str = "value") -> DataFrame:
    """Stateless pre-fold faults (short dovecot lines, Q8): these never
    enter the keyed fold (no admission), so surface them directly from a
    second stateless pass — cheap, and keeps the fold single-purpose."""
    parsed = parse_lines(prepare_stream(lines, line_col))
    return parsed.filter((F.col("kind") == "fault") & ~F.col("admitted")).select(
        F.col("line"),
        F.col("fault_reason"),
        F.col("queue_id"),
    )
