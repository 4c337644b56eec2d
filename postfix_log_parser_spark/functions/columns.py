"""Reusable Column-level scalar functions (all JVM-side / codegen-able).

Each function replicates a scalar transform of the reference parser with
exact semantics; the reference location is cited per function.  Nothing in
this module touches Python at execution time — these are Catalyst
expressions, safe on the 100 TB hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal, for expression text: quote and
    backslash escaped, every char outside printable ASCII as ``\\uXXXX``
    (astral chars as their UTF-16 surrogate pair)."""
    units = s.encode("utf-16-be", "surrogatepass")
    out = []
    for i in range(0, len(units), 2):
        u = int.from_bytes(units[i : i + 2], "big")
        c = chr(u)
        if c in "'\\":
            out.append("\\" + c)
        elif 0x20 <= u < 0x7F:
            out.append(c)
        else:
            out.append(f"\\u{u:04x}")
    return "'" + "".join(out) + "'"


def char_lstrip(col: Column, ch: str) -> Column:
    """Python ``str.lstrip(ch)`` — strip a *run* of ``ch`` from the left."""
    return F.regexp_replace(col, f"^[{ch}]+", "")


def char_rstrip(col: Column, ch: str) -> Column:
    """Python ``str.rstrip(ch)`` — strip a *run* of ``ch`` from the right."""
    return F.regexp_replace(col, f"[{ch}]+$", "")


def angle_trim(col: Column) -> Column:
    """Python ``str.strip('<>')`` — char-set trim of ``<``/``>`` runs from
    both ends (reference: ``parse.py:145-147``).  Not a substring strip:
    ``<<a>>`` → ``a``, ``<a<`` → ``a``.
    """
    return F.regexp_replace(col, "^[<>]+|[<>]+$", "")


def domain_of(col: Column) -> Column:
    """Part after the *first* ``@``; the whole string when no ``@``
    (reference ``_get_domain``, ``parse.py:129-134``).

    ``a@b@c`` → ``b@c`` — so NOT ``substring_index(col, '@', -1)`` which
    splits on the last ``@``.
    """
    return F.when(
        F.instr(col, "@") > 0,
        F.substring(col, F.instr(col, "@") + 1, F.length(col)),
    ).otherwise(col)


def ordered_distinct(col: Column) -> Column:
    """First-occurrence-order dedup, i.e. ``list(dict.fromkeys(xs))``
    (reference ``parse.py:153-155``).  ``array_distinct`` preserves
    first-occurrence order."""
    return F.array_distinct(col)


def status_code_pair(desc: Column) -> Column:
    """Scan adjacent token pairs of a status description; the *last* pair
    ``(ddd, d.d.d)`` wins; NULLs when no pair matches (reference
    ``parse_status_code`` + ``pairwise``, ``parse.py:59-63, 206-215``;
    quirks Q5/Q6).

    Token-pair semantics, not regex-on-raw-string: a candidate ``ddd``
    must be an entire whitespace token (len 3, all digits) and the next
    whole token must be three dot-separated digit groups (multi-digit
    groups allowed, e.g. ``2.10.0``).

    Returns a struct ``(status_code int, status_postfix_code string)``.
    """
    toks = F.split(desc, r"\s+")
    # last index i with toks[i] =~ ^\d{3}$ and toks[i+1] =~ ^\d+\.\d+\.\d+$
    idx = F.aggregate(
        F.sequence(F.lit(0), F.size(toks) - F.lit(2)),
        F.lit(-1),
        lambda acc, i: F.when(
            F.get(toks, i).rlike("^[0-9]{3}$")
            & F.get(toks, i + F.lit(1)).rlike(r"^[0-9]+\.[0-9]+\.[0-9]+$"),
            i,
        ).otherwise(acc),
    )
    # guard: empty/one-token desc -> sequence(0, -1..) would be invalid
    idx = F.when(F.size(toks) >= 2, idx).otherwise(F.lit(-1))
    return F.struct(
        F.when(idx >= 0, F.get(toks, idx).cast("int")).alias("status_code"),
        F.when(idx >= 0, F.get(toks, idx + F.lit(1))).alias("status_postfix_code"),
    )
