"""Stage 1 — per-line parse: raw text DataFrame → typed parsed-line DataFrame.

Re-expresses the reference's ``feed_line`` admission gates and per-line
scalar transforms (``lognormalizer/parse.py:380-423``) as pure Catalyst
expressions — a narrow map with whole-stage codegen, no shuffle, no Python
on the hot path.  The single Python touchpoint is a vectorized pandas UDF
for MIME subject decoding (``parse.py:319-326``), applied only to the rare
``warning: header Subject:`` lines.

Operators covered (SURVEY.md §2 ids):
  F1 min-arity, F2 timestamp-validity, F3 queue-id, F4 code validators
  P1 tokenize, P2 k=v extraction, P3 status-description, P7/P8 subject,
  P9 subject short-circuit, P10 ISO timestamp.
Fault prediction (Q12): per-row exceptions of the reference are encoded as
predicates producing ``kind='fault'`` + ``fault_reason`` (SURVEY.md §7.4).

Reference control-flow facts this stage preserves:
  * the dovecot handler runs before the timestamp gate and ALWAYS returns
    False (``parse.py:362-378``) — a dovecot line still flows through the
    F2/F3 gates (and is dropped there in practice, legacy syslog ts);
  * a line faulting inside subject parsing was already appended to raw_log
    and had its timestamp folded (``parse.py:409-417``), so it counts as
    ``admitted`` here;
  * an ``Info:``-at-token-4 line that does not complete the dovecot shape
    either raises IndexError (short line → fault) or falls through to the
    normal gates.
"""

from __future__ import annotations

import email.header

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from postfix_log_parser_spark.functions.columns import sql_str


def with_seq(df: DataFrame, line_col: str = "value") -> DataFrame:
    """Attach a globally ordered sequence number to each input line.

    Line order is part of the reference's semantics (last-wins folds,
    raw_log order, first-timestamp — quirks Q1-Q3), so the scan must carry
    an explicit ordering.  ``sources.text.read_text`` provides a
    deterministic (file, in-file position) ``seq`` without shuffling the
    data; this fallback (``monotonically_increasing_id``) is only for ad
    hoc DataFrames whose scan order is already the intended order.
    """
    if "seq" in df.columns:
        return df
    return df.withColumn("seq", F.monotonically_increasing_id())


# a queue id is 11 uppercase-hex chars followed by ':' (parse.py:237-256, Q10)
_QUEUE_ID_RE = "^[0-9A-F]{11}:$"

# Python str.isspace() whitespace beyond Java regex \\s (= [ \\t\\n\\x0B\\f\\r]):
# \\x1c-\\x1f separators, NEL, NBSP, ogham space mark, en-quad..hair-space,
# line/paragraph separators, narrow NBSP, medium math space, ideographic
# space.  Explicit escapes so the set is auditable (no invisible chars).
_PY_ONLY_WS = (
    "\x1c\x1d\x1e\x1f\x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000"
)
_WS = f"[\\s{_PY_ONLY_WS}]"


def queue_key(value: Column) -> Column:
    """Token 3 of the Python-whitespace tokenization when it has the Q10
    queue-id shape, minus its ':'; '' otherwise.  Equals ``_parse_row``'s
    ``queue_id`` on every line that has one, so every admitted line of a
    queue co-locates with its queue.  Every Python-only whitespace char is
    first folded to ' ', so one anchored ASCII regex tokenizes like
    ``str.split()`` — no per-line scan of the big Unicode class."""
    ascii_ws = F.translate(value, _PY_ONLY_WS, " " * len(_PY_ONLY_WS))
    return F.regexp_extract(
        ascii_ws, r"^\s*\S+\s+\S+\s+\S+\s+([0-9A-F]{11}):(?:\s|$)", 1
    )


def _empty_str_map() -> Column:
    return F.expr("map()").cast("map<string,string>")


def _kv_entries(tokens: Column) -> Column:
    """P2 — every token containing '=' → struct(name, value); value has
    trailing commas stripped (``parse.py:286-303``).  Split on the FIRST
    '=': ``a=b=c`` → (a, ``b=c``)."""
    return F.transform(
        F.filter(tokens, lambda t: F.instr(t, "=") > 0),
        lambda t: F.struct(
            F.substring_index(t, "=", 1).alias("name"),
            F.regexp_replace(
                F.substring(t, F.instr(t, "=") + 1, F.length(t)), ",+$", ""
            ).alias("value"),
        ),
    )


def _dedup_last_wins(entries: Column, name_field: str) -> Column:
    """Keep only the LAST entry per key (quirk Q1) so the subsequent
    ``map_from_entries`` never sees a duplicate key — conf-independent:
    correct under any ``spark.sql.mapKeyDedupPolicy`` (the default
    EXCEPTION policy would otherwise throw DUPLICATED_MAP_KEY at
    execution if a caller reset the conf between plan build and action).
    O(n²) in k=v tokens per line (n≈10) — negligible next to the regex
    chain; the Arrow twin implements the same semantics imperatively."""
    return F.filter(
        entries,
        lambda e, i: ~F.exists(
            F.slice(entries, i + F.lit(2), F.size(entries)),
            lambda e2: e2[name_field] == e[name_field],
        ),
    )


def _last_wins_map(entries: Column) -> Column:
    """Fold k=v entries into a map with last-wins per key, excluding 'to'
    (which accumulates, quirk Q1)."""
    ex_to = F.filter(entries, lambda e: e["name"] != "to")
    return F.map_from_entries(_dedup_last_wins(ex_to, "name"))


def _status_description(tokens: Column) -> Column:
    """P3 — join all tokens after the LAST ``status=`` token index, then
    lstrip '(' / rstrip ')' (``parse.py:289, 296-297, 305-308``).  The
    index is over the FULL token list; index 0 is skipped by the
    reference's falsy ``if status_idx:`` check (quirk Q7)."""
    n = F.size(tokens)
    status_idx = F.aggregate(
        F.sequence(F.lit(0), F.greatest(n - F.lit(1), F.lit(0))),
        F.lit(-1),
        lambda acc, i: F.when(
            (F.instr(F.coalesce(F.get(tokens, i), F.lit("")), "=") > 0)
            & (F.substring_index(F.get(tokens, i), "=", 1) == "status"),
            i,
        ).otherwise(acc),
    )
    joined = F.concat_ws(
        " ", F.slice(tokens, status_idx + F.lit(2), n - status_idx - F.lit(1))
    )
    trimmed = F.regexp_replace(F.regexp_replace(joined, r"^\(+", ""), r"\)+$", "")
    return F.when(status_idx > 0, trimmed).otherwise(F.lit(None).cast("string"))


@F.pandas_udf(
    T.StructType(
        [
            T.StructField("subject", T.StringType(), True),
            T.StructField("error", T.StringType(), True),
        ]
    )
)
def _decode_mime_subject(token: pd.Series) -> pd.DataFrame:
    """P7 — MIME encoded-word decode of the first token after ``Subject:``
    when it starts with ``=?UTF-8`` (``parse.py:324-326``).  Decodes ONLY
    the first encoded word, like the reference.  Any exception maps to the
    fault channel (quirk Q12).  Null inputs (non-MIME rows) fast-path to
    null output, so this stays cheap even though the plan evaluates the
    UDF column for every row."""
    subjects: list[str | None] = []
    errors: list[str | None] = []
    for tok in token:
        if tok is None:
            subjects.append(None)
            errors.append(None)
            continue
        try:
            decoded, encoding = email.header.decode_header(tok)[0]
            subjects.append(decoded.decode(encoding))
            errors.append(None)
        except Exception as exc:  # noqa: BLE001 - reference catches everything
            subjects.append(None)
            errors.append(f"{type(exc).__name__}: {exc}")
    return pd.DataFrame({"subject": subjects, "error": errors})


def _ascii_subject(payload: Column) -> Column:
    """P8 — accumulate tokens after ``Subject:`` until a pair
    ``('from', X)`` with ``X.endswith(';')``; unterminated subjects drop
    the final token because ``pairwise`` exhausts (``parse.py:327-335``,
    quirk Q11).  ``payload`` is tokens[4:]; the scan runs over payload[3:]."""
    sub = F.slice(payload, 4, F.greatest(F.size(payload) - F.lit(3), F.lit(0)))
    m = F.size(sub)
    first_break = F.when(
        m >= 2,
        F.aggregate(
            F.sequence(F.lit(0), F.greatest(m - F.lit(2), F.lit(0))),
            F.lit(-1),
            lambda acc, i: F.when(
                (acc == -1)
                & (F.get(sub, i) == "from")
                & F.get(sub, i + F.lit(1)).endswith(";"),
                i,
            ).otherwise(acc),
        ),
    ).otherwise(F.lit(-1))
    take = F.when(first_break >= 0, first_break).otherwise(
        F.greatest(m - F.lit(1), F.lit(0))
    )
    return F.concat_ws(" ", F.slice(sub, 1, take))


_PARSED_OUT_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), True),
        T.StructField("line", T.StringType(), True),
        T.StructField("kind", T.StringType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("queue_id", T.StringType(), True),
        T.StructField("fields", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("to_list", T.ArrayType(T.StringType()), True),
        T.StructField("status_description", T.StringType(), True),
        T.StructField("subject", T.StringType(), True),
        T.StructField("dovecot_msgid", T.StringType(), True),
        T.StructField("dovecot_action", T.StringType(), True),
        T.StructField("fault_reason", T.StringType(), True),
        T.StructField("admitted", T.BooleanType(), True),
    ]
)

_TS_SHAPE = None  # compiled lazily on executors
_QID = None


def _parse_row(seq: int, value: str):
    """One line through the full parse — the Python twin of the Catalyst
    expressions in ``parse_lines`` (and of the reference's per-line logic,
    ``lognormalizer/parse.py:380-423``).  Returns the 13-column tuple of
    ``_PARSED_OUT_SCHEMA``."""
    global _TS_SHAPE, _QID
    if _TS_SHAPE is None:
        import re

        _TS_SHAPE = re.compile(r"^[0-9]{4}-[0-9]{2}-[0-9]{2}(T.+)?$")
        _QID = re.compile(r"^[0-9A-F]{11}:$")
    import datetime

    line = value.strip()
    tokens = line.split()
    n = len(tokens)

    ts = None
    queue_id = None
    fields = None
    to_list = None
    status_desc = None
    subject = None
    dmsgid = None
    daction = None
    fault = None

    if n < 5:
        return (seq, line, "dropped", None, None, None, None, None, None,
                None, None, None, False)

    is_info = tokens[4] == "Info:"
    dovecot_fault = is_info and (
        n == 5
        or (n == 6 and tokens[5] == "sieve:")
        or (n == 7 and tokens[5] == "sieve:" and tokens[6].startswith("msgid="))
        or (
            n == 8
            and tokens[5] == "sieve:"
            and tokens[6].startswith("msgid=")
            and tokens[7] == "fileinto"
        )
    )
    is_dovecot = (
        n >= 9
        and is_info
        and tokens[5] == "sieve:"
        and tokens[6].startswith("msgid=")
        and tokens[7] == "fileinto"
        and tokens[8] == "action:"
    )
    if is_dovecot:
        raw = tokens[6].split("=", 1)[1]
        dmsgid = raw[:-1]
        daction = " ".join(tokens[9:])

    if _TS_SHAPE.match(tokens[0]):
        try:
            dt = datetime.datetime.fromisoformat(tokens[0])
            if dt.tzinfo is not None:
                dt = dt.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            ts = dt
        except ValueError:
            ts = None
    qid_ok = bool(_QID.match(tokens[3]))
    if qid_ok:
        queue_id = tokens[3][:11]
    admitted = (not dovecot_fault) and ts is not None and qid_ok

    if dovecot_fault:
        return (seq, line, "fault", ts, queue_id, None, None, None, None,
                None, None, "IndexError: dovecot-shaped line too short", False)
    if is_dovecot:
        kind = "dovecot"
    elif ts is None or not qid_ok:
        return (seq, line, "dropped", ts, queue_id, None, None, None, None,
                None, None, None, False)
    else:
        payload = tokens[4:]
        m = len(payload)
        if payload[0] == "removed":
            return (seq, line, "removed", ts, queue_id, None, None, None,
                    None, None, None, None, admitted)
        warn0 = payload[0] == "warning:"
        subj_head = warn0 and m >= 3 and payload[1] == "header" and payload[2] == "Subject:"
        if warn0 and (
            m < 2
            or (payload[1] == "header" and m < 3)
            or (subj_head and m < 4)
        ):
            return (seq, line, "fault", ts, queue_id, None, None, None, None,
                    None, None, "IndexError: subject header line too short",
                    admitted)
        if subj_head and m >= 4:
            tok = payload[3]
            if tok.startswith("=?UTF-8"):
                import email.header

                try:
                    decoded, encoding = email.header.decode_header(tok)[0]
                    subject = decoded.decode(encoding)
                except Exception as exc:  # noqa: BLE001 - reference catches all
                    return (seq, line, "subject", ts, queue_id, None, None,
                            None, None, None, None,
                            f"{type(exc).__name__}: {exc}", admitted)
            else:
                sub = payload[3:]
                k = len(sub)
                take = max(k - 1, 0)
                for i in range(k - 1):
                    if sub[i] == "from" and sub[i + 1].endswith(";"):
                        take = i
                        break
                subject = " ".join(sub[:take])
            return (seq, line, "subject", ts, queue_id, None, None, None,
                    subject, None, None, None, admitted)
        kind = "field"

    # field / admitted-dovecot line: k=v fold (P2), status description (P3)
    fields = {}
    to_list = []
    status_idx = -1
    for i, tok in enumerate(tokens):
        eq = tok.find("=")
        if eq <= -1:
            continue
        k = tok[:eq]
        v = tok[eq + 1:].rstrip(",")
        if k == "to":
            to_list.append(v)
        else:
            fields[k] = v
        if k == "status":
            status_idx = i
    if status_idx > 0:
        joined = " ".join(tokens[status_idx + 1:])
        status_desc = joined.lstrip("(").rstrip(")")
    if not admitted:
        fields, to_list, status_desc = None, None, None
    return (seq, line, kind, ts, queue_id, fields, to_list, status_desc,
            None, dmsgid, daction, None, admitted)


def _parse_batches(batches):
    for pdf in batches:
        seqs = pdf["seq"].to_numpy()
        vals = pdf["value"].to_numpy()
        rows = [_parse_row(int(seqs[i]), vals[i]) for i in range(len(pdf))]
        yield pd.DataFrame(rows, columns=[f.name for f in _PARSED_OUT_SCHEMA.fields])


def parse_lines_arrow(lines: DataFrame, line_col: str = "value") -> DataFrame:
    """Arrow-vectorized parse engine: the exact-semantics Python twin of
    ``parse_lines`` as one ``mapInPandas`` pass (differentially tested in
    ``tests/test_arrow_parse.py``).

    Trade-off vs the Catalyst engine: ~3-4× the per-line throughput (one
    branchy Python dict pass beats a forest of interpreted array
    expressions) but the parse is opaque to Catalyst — no column pruning
    into it, so narrow consumers (like the dovecot dim) should use
    ``dovecot_dim_from_raw`` on the raw text instead of filtering this
    output.

    The result is tagged as the parse of ``lines``: handed, unmodified, to
    ``sessionize(parsed, raw_lines=lines)``, it is never executed on its
    own — sessionize fuses parse and fold into one Python stage.
    """
    df = with_seq(lines, line_col)
    if line_col != "value":
        df = df.withColumnRenamed(line_col, "value")
    out = df.select("seq", "value").mapInPandas(_parse_batches, _PARSED_OUT_SCHEMA)
    out._arrow_parse_of = (lines, line_col)
    return out


def _dovecot_batches(batches):
    """Python oracle of ``dovecot_dim_from_raw`` (the differential tests
    run it through ``mapInPandas``)."""
    for pdf in batches:
        mask = pdf["value"].str.contains(" Info: sieve: msgid=", regex=False)
        rows = []
        for seq, value in zip(
            pdf["seq"][mask].to_numpy(), pdf["value"][mask].to_numpy()
        ):
            tokens = value.strip().split()
            if (
                len(tokens) >= 9
                and tokens[4] == "Info:"
                and tokens[5] == "sieve:"
                and tokens[6].startswith("msgid=")
                and tokens[7] == "fileinto"
                and tokens[8] == "action:"
            ):
                raw = tokens[6].split("=", 1)[1]
                rows.append((int(seq), raw[:-1], " ".join(tokens[9:])))
        yield pd.DataFrame(
            rows, columns=["seq", "dovecot_msgid", "dovecot_action"]
        )


def dovecot_dim_from_raw(lines: DataFrame, line_col: str = "value") -> DataFrame:
    """Extract the (tiny) dovecot correlation dim straight from raw text,
    as narrow Catalyst expressions: a substring pre-filter touches every
    line, the Q8 shape check and tokenization run only on the rare
    candidates.  Token for token the twin of ``_dovecot_batches``, and
    equal to ``parsed.filter(dovecot_msgid.isNotNull())`` without a second
    full parse or any Python stage."""
    ws, spaces = sql_str(_PY_ONLY_WS), sql_str(" " * len(_PY_ONLY_WS))
    edges, runs = sql_str(r"^\s+|\s+$"), sql_str(r"\s+")
    trimmed = f"regexp_replace(translate(`{line_col}`, {ws}, {spaces}), {edges}, '')"
    msgid = "substring(get(_t, 6), instr(get(_t, 6), '=') + 1)"
    return (
        with_seq(lines, line_col)
        .filter(F.col(line_col).contains(" Info: sieve: msgid="))
        .selectExpr("seq", f"split({trimmed}, {runs}) AS _t")
        .filter(
            "size(_t) >= 9 AND get(_t, 4) = 'Info:' AND get(_t, 5) = 'sieve:'"
            " AND startswith(get(_t, 6), 'msgid=') AND get(_t, 7) = 'fileinto'"
            " AND get(_t, 8) = 'action:'"
        )
        .selectExpr(
            "seq",
            f"substring({msgid}, 1, length({msgid}) - 1) AS dovecot_msgid",
            "concat_ws(' ', slice(_t, 10, size(_t) - 9)) AS dovecot_action",
        )
    )


def parse_lines(lines: DataFrame, line_col: str = "value") -> DataFrame:
    """Parse raw log lines into the ``schema.PARSED_SCHEMA`` DataFrame.

    Input: a DataFrame with a string column ``line_col`` (and optionally a
    precomputed ``seq`` long column).  Pure narrow transformation — no
    shuffle; scales linearly with input partitions.
    """
    df = with_seq(lines, line_col)
    # Python str.strip()/str.split() semantics: trim/split on UNICODE
    # whitespace runs.  Java's \s is ASCII-only, so the class explicitly
    # adds every further char Python's str.isspace() accepts (file/group/
    # record/unit separators, NEL, NBSP, ogham, en-quads…, LS/PS, NNBSP,
    # MMSP, ideographic space) — a line containing e.g. \xa0 tokenizes
    # identically here, in the Arrow twin (_parse_row) and the reference.
    raw = F.regexp_replace(F.col(line_col), f"^{_WS}+|{_WS}+$", "")

    df = df.select("seq", raw.alias("line"), F.split(raw, f"{_WS}+").alias("tokens"))
    tokens = F.col("tokens")
    n = F.size(tokens)

    def t(i: int) -> Column:  # 0-based token access, NULL out-of-bounds
        return F.get(tokens, i)

    # ---- dovecot shape check (runs BEFORE timestamp/queue-id gates).
    # Short-circuit chain with IndexError parity (Q8): accessing tokens[k]
    # past the end faults the whole line.
    is_info = t(4) == "Info:"
    dovecot_fault = is_info & (
        (n == 5)
        | ((n == 6) & (t(5) == "sieve:"))
        | ((n == 7) & (t(5) == "sieve:") & t(6).startswith("msgid="))
        | (
            (n == 8)
            & (t(5) == "sieve:")
            & t(6).startswith("msgid=")
            & (t(7) == "fileinto")
        )
    )
    is_dovecot = (
        (n >= 9)
        & is_info
        & (t(5) == "sieve:")
        & t(6).startswith("msgid=")
        & (t(7) == "fileinto")
        & (t(8) == "action:")
    )
    # msgid token: part after first '=', trailing char dropped (keeps the
    # angle brackets — parse.py:370-371, Q8)
    msgid_raw = F.substring(t(6), F.instr(t(6), "=") + 1, F.length(t(6)))
    dovecot_msgid = F.substring(msgid_raw, 1, F.length(msgid_raw) - 1)
    dovecot_action = F.concat_ws(
        " ", F.slice(tokens, 10, F.greatest(n - F.lit(9), F.lit(0)))
    )

    # ---- admission gates (F1-F3); dovecot handling does not gate — the
    # reference handler always returns False and the line flows on.
    # F2/P10: null instead of raising.  try_to_timestamp alone is laxer
    # than datetime.fromisoformat (it accepts bare "2024" / "2024-04"),
    # so gate on the ISO date shape first.
    ts_shape = t(0).rlike(r"^[0-9]{4}-[0-9]{2}-[0-9]{2}(T.+)?$")
    ts = F.when(ts_shape, F.try_to_timestamp(t(0)))
    qid_ok = t(3).rlike(_QUEUE_ID_RE)  # F3/Q10
    queue_id = F.substring(t(3), 1, 11)
    admitted = (n >= 5) & ~dovecot_fault & ts.isNotNull() & qid_ok

    payload = F.slice(tokens, 5, F.greatest(n - F.lit(4), F.lit(0)))

    def p(i: int) -> Column:
        return F.get(payload, i)

    # ---- payload classification (parse.py:341-360)
    is_removed = p(0) == "removed"
    warn0 = p(0) == "warning:"
    subj_head = warn0 & (p(1) == "header") & (p(2) == "Subject:")
    # IndexError parity inside _try_to_parse_subject (parse.py:319-324)
    subject_fault = (
        (warn0 & (F.size(payload) < 2))
        | (warn0 & (p(1) == "header") & (F.size(payload) < 3))
        | (subj_head & (F.size(payload) < 4))
    )
    is_subject = subj_head & (F.size(payload) >= 4)
    is_mime_subject = is_subject & p(3).startswith("=?UTF-8")

    entries = _kv_entries(tokens)
    fields_map = _last_wins_map(entries)
    to_list = F.transform(
        F.filter(entries, lambda e: e["name"] == "to"), lambda e: e["value"]
    )
    status_desc = _status_description(tokens)

    kind = (
        F.when(n < 5, F.lit("dropped"))
        .when(dovecot_fault, F.lit("fault"))
        .when(is_dovecot, F.lit("dovecot"))
        .when(ts.isNull() | ~qid_ok, F.lit("dropped"))
        .when(is_removed, F.lit("removed"))
        .when(subject_fault, F.lit("fault"))
        .when(is_subject, F.lit("subject"))
        .otherwise(F.lit("field"))
    )

    # an admitted line folds k=v fields unless it is removed/subject/fault
    # (parse.py:417-420; P9 subject short-circuit)
    folds_fields = admitted & kind.isin("field", "dovecot")

    parsed = df.select(
        "seq",
        "line",
        kind.alias("kind"),
        F.when(n >= 5, ts).alias("timestamp"),
        F.when((n >= 5) & qid_ok, queue_id).alias("queue_id"),
        F.when(folds_fields, fields_map).alias("fields"),
        F.when(folds_fields, to_list).alias("to_list"),
        F.when(folds_fields, status_desc).alias("status_description"),
        F.when(kind == "subject", is_mime_subject).alias("_is_mime"),
        # gated on kind (not just shape): a MIME-looking subject on a line
        # the ts/queue-id gates dropped must not reach the decoder — the
        # reference returns before subject handling (parse.py:397-405)
        F.when((kind == "subject") & is_mime_subject, p(3)).alias("_subj_tok"),
        F.when(kind == "subject", _ascii_subject(payload)).alias("_ascii_subject"),
        # gated on the shape predicate, NOT on `kind`: is_dovecot ⟺
        # kind='dovecot' (mutually exclusive arity ranges with the fault
        # shape), and this keeps a dovecot-only consumer's pruned plan free
        # of the per-line timestamp/queue-id regex work `kind` requires
        F.when(is_dovecot, dovecot_msgid).alias("dovecot_msgid"),
        F.when(is_dovecot, dovecot_action).alias("dovecot_action"),
        # subject faults only exist for lines that passed the admission
        # gates — the reference returns at the timestamp/queue-id gates
        # before subject parsing (parse.py:397-405 vs :357)
        F.when(dovecot_fault, F.lit("IndexError: dovecot-shaped line too short"))
        .when(admitted & subject_fault, F.lit("IndexError: subject header line too short"))
        .alias("fault_reason"),
        admitted.alias("admitted"),
    )

    # ---- MIME subject decode (P7): the pandas UDF runs ONLY on the rare
    # MIME-subject branch — the hot path (everything else, including ASCII
    # subjects) never crosses the Arrow/Python boundary.  The branch
    # filter is evaluated from the cheap token expressions, so the full
    # projection runs once per surviving row.
    common = [
        "seq",
        "line",
        "timestamp",
        "queue_id",
        "fields",
        "to_list",
        "status_description",
        "dovecot_msgid",
        "dovecot_action",
        "admitted",
    ]
    hot = parsed.filter(F.col("_subj_tok").isNull()).select(
        *common,
        F.col("kind"),
        F.when(F.col("_is_mime") == F.lit(False), F.col("_ascii_subject")).alias(
            "subject"
        ),
        F.col("fault_reason"),
    )
    # MIME decode errors keep kind='subject' and surface through
    # fault_reason — this keeps `kind` independent of the UDF, so any
    # consumer that does not read `subject` (e.g. the dovecot dim build)
    # prunes the whole Arrow/Python stage out of its plan.  Downstream
    # fold semantics: an admitted row with fault_reason set is a fault
    # (quirk Q12), exactly as before.
    mime = parsed.filter(F.col("_subj_tok").isNotNull()).withColumn(
        "_mime", _decode_mime_subject(F.col("_subj_tok"))
    )
    mime_fault = F.col("_mime")["error"].isNotNull()
    mime = mime.select(
        *common,
        F.col("kind"),
        F.when(~mime_fault, F.col("_mime")["subject"]).alias("subject"),
        F.coalesce(
            F.col("fault_reason"), F.when(mime_fault, F.col("_mime")["error"])
        ).alias("fault_reason"),
    )
    order = [
        "seq",
        "line",
        "kind",
        "timestamp",
        "queue_id",
        "fields",
        "to_list",
        "status_description",
        "subject",
        "dovecot_msgid",
        "dovecot_action",
        "fault_reason",
        "admitted",
    ]
    return hot.unionByName(mime).select(*order)
