"""Exact duplicated-substring span detection (q119).

The document-level dedup family (q20-q24, q36, q74) removes whole
documents or fixed chunks; training corpora ALSO carry long verbatim
passages embedded inside otherwise-distinct documents (boilerplate,
licenses, quoted posts).  The published remedy is exact substring
deduplication (Lee et al., "Deduplicating Training Data Makes Language
Models Better", ACL 2022): find every maximal character span of length
>= K that occurs verbatim in more than one document.

Spark-first shape (vs the paper's single-node suffix array):

1. fingerprint every K-char window — a narrow per-row ``transform`` over
   ``sequence(1, len-K+1)`` producing ``md5(substr(text, p, K))``, then
   ``posexplode``.  One scan, no shuffle carries the text; only the
   (doc_id, pos, 16-byte hash) triples move.
2. duplicated grams = hash group-by keyed on the fingerprint HAVING
   >= 2 distinct docs — one hash-partitioned shuffle with map-side
   partial aggregation, linear in corpus bytes.
3. join the gram stream back on the fingerprint (output-proportional:
   only duplicated grams survive) and merge adjacent positions per doc
   into maximal spans with the classic gaps-and-islands window —
   partitioned by doc_id, so state is bounded by a single document.

At 100 TB the stride-1 window blowup is the knob, and this module ships
both ways to turn it: q125 (winnowing — content-defined selection with
the DETERMINISTIC gap bound W, exact for spans >= K + 2W - 1) and q158
(mod-hash sampling at EXPECTED stride S — lighter pass-1 selection with
a probabilistic miss bound).  A positional stride would be unsound: the
two copies of a span sit at different offsets, so stride-aligned grams
have different content and never hash-join.  Here stride = 1, which is
exact at K.

Portability: md5 is bit-identical in Spark and DuckDB and both engines'
``substr`` is character-based, so the oracle replays the computation
exactly.  All outputs are integer arithmetic — no float drift.
"""

from __future__ import annotations

import pandas as pd
from pyspark import StorageLevel

from postfix_log_parser_spark.ext.staging import track_persist
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from postfix_log_parser_spark.ext.dedup import _AUG_SQL, _augmented

SPAN_K = 40  # minimum duplicated-span length in characters


def duplicated_spans(docs: DataFrame, k: int = SPAN_K) -> DataFrame:
    """Maximal cross-document duplicated spans of length >= ``k`` over any
    (doc_id, text) frame.  Returns (doc_id, span_start, span_len,
    n_windows) with 1-based character offsets."""
    eligible = docs.select("doc_id", "text").filter(F.length("text") >= k)
    # per-doc fingerprint array, exploded to (doc_id, p, h); the text
    # column dies inside this projection — nothing downstream carries it
    # unhex: the fingerprint shuffles as 16 raw bytes, not a 32-char hex
    # string — measured 2x lighter on the q119/q128 exchanges (the
    # SHUFFLE_AUDIT top movers); the oracle's hex h is internal to the
    # SQL and never compared, so representations may differ
    hashes = F.transform(
        F.sequence(F.lit(1), F.length("text") - k + 1),
        lambda i: F.unhex(F.md5(F.col("text").substr(i, F.lit(k)))),
    )
    # NOT cached (r12): the stride-1 gram stream is ~1 row per text
    # byte — materializing it for the dup-test + probe pair costs more
    # than the second codegen'd md5 pass it saves (same-process A/B at
    # sf0.1: 2.05 s uncached vs 2.85 s cached).  q125/q158 are the real
    # fix for this family: shrink the fingerprint set, not cache it.
    grams = eligible.select(
        "doc_id", F.posexplode(hashes).alias("pos0", "h")
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("p"), "h")
    # dup test as ONE window over the fingerprint exchange (r13, guide
    # §2.4): "h appears in >= 2 distinct docs" is exactly
    # min(doc_id) != max(doc_id) over (partition by h) — O(1) window
    # state, but NOT skew-safe: every row of a hot h lands in one task,
    # which sorts its partition in full (a boilerplate gram shared by
    # many docs is such a key).  The gram stream is scanned+shuffled ONCE
    # (the old groupBy(h)+join-back re-ran the md5 scan and shuffled
    # the grams a second time; same-process A/B 2.13 -> 1.08 s)
    wh = Window.partitionBy("h")
    hits = (
        grams.withColumn(
            "_dup", F.min("doc_id").over(wh) != F.max("doc_id").over(wh)
        )
        .filter(F.col("_dup"))
        .select("doc_id", "p")
    )
    by_doc = Window.partitionBy("doc_id").orderBy("p")
    prev = F.lag("p").over(by_doc)
    island = F.sum(
        F.when(prev.isNull() | (F.col("p") - prev > 1), 1).otherwise(0)
    ).over(by_doc)
    return (
        hits.withColumn("island", island)
        .groupBy("doc_id", "island")
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") - F.min("p") + k).alias("span_len"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_len", "n_windows")
    )


def q119_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated spans over the augmented corpus (the
    perturbed near-copies guarantee long shared spans exist)."""
    return duplicated_spans(_augmented(spark, sf_dir))


_Q119_SQL = f"""
WITH all_docs AS ({_AUG_SQL}),
d AS (
  SELECT doc_id, text FROM all_docs WHERE length(text) >= {SPAN_K}
),
pos AS (
  SELECT doc_id, text,
         unnest(range(1, length(text) - {SPAN_K} + 2)) AS p
  FROM d
),
g AS (
  SELECT doc_id, p, md5(substr(text, CAST(p AS INTEGER), {SPAN_K})) AS h
  FROM pos
),
dup AS (
  SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2
),
hit AS (SELECT g.doc_id, g.p FROM g JOIN dup USING (h)),
lagged AS (
  SELECT doc_id, p,
         lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
  FROM hit
),
isl AS (
  SELECT doc_id, p,
         sum(CASE WHEN prev IS NULL OR p - prev > 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY p) AS island
  FROM lagged
)
SELECT doc_id,
       min(p) AS span_start,
       max(p) - min(p) + {SPAN_K} AS span_len,
       CAST(count(*) AS BIGINT) AS n_windows
FROM isl
GROUP BY doc_id, island
"""

# ---------------------------------------------------------------------------
# q125 — winnowed two-pass substring dedup (the 100 TB path q119 names)
# ---------------------------------------------------------------------------
#
# q119's stride-1 fingerprinting shuffles one row per character — exact,
# but the shuffle IS the corpus.  A fixed stride can't fix it (the two
# copies of a span sit at different offsets, so stride-aligned grams
# have different CONTENT and never hash-join).  The published answer is
# content-defined selection — winnowing (Schleimer, Wilkerson, Aiken,
# SIGMOD 2003): in every window of W consecutive gram positions keep
# the position with the minimal hash.  Selection depends only on local
# content, so inside a shared span both copies select THE SAME grams
# (modulo a W-sized boundary fringe), and consecutive selections are at
# most W apart — expected density 2/(W+1).
#
# Two passes:
#   1. winnow INSIDE the scan projection (an Arrow-batched pandas UDF
#      running a monotonic-deque sliding minimum per doc — O(m), narrow,
#      no shuffle touches unselected grams), explode only the ~2m/W
#      selected fingerprints, hash-join them cross-doc, and merge
#      colliding positions into candidate REGIONS (islands with gap
#      tolerance K+2W, expanded ±(K+2W) and clamped to the doc);
#   2. regenerate stride-1 grams ONLY inside the regions (a small
#      region list joined back to the docs — output-proportional) and
#      run q119's exact dup-test + island merge on them.
#
# Guarantee: every duplicated span of length >= K + 2W - 1 yields
# interior selections in BOTH copies, so its region covers it fully and
# pass 2 reconstructs the exact maximal span; shorter spans (K..K+2W-2)
# may be found truncated or missed near region edges — deterministically
# so, identically in both engines.  The min-key is ``h || '|' ||
# zero-padded position`` so ties (identical grams, e.g. run-of-x text)
# break on position — total order, no engine drift.
#
# Shuffle accounting at 100 TB (W=8): pass 1 moves ~22% of gram rows
# (16-byte keys), pass 2 moves grams of candidate regions only — near
# zero on a mostly-unique corpus, output-proportional on a duplicated
# one.  The O(m) winnow work stays inside the scan stage.

WINNOW_W = 8
_REGION_PAD = SPAN_K + 2 * WINNOW_W  # island gap tolerance AND expansion


@F.pandas_udf(T.ArrayType(T.StringType()))
def _winnow_keys_udf(text: "pd.Series") -> "pd.Series":
    """Vectorized pass-1 selection: per doc, the DISTINCT minima of every
    trailing W-window over ``md5(gram) || '|' || lpad(pos, 10)`` keys —
    exactly the oracle's ``min(k) OVER (ROWS W-1 PRECEDING)`` + DISTINCT.

    Same hot-path trade as ``dedup.shingles3_udf``: the higher-order
    Catalyst form (transform + slice + array_min per position) is
    interpreted per element, measured ~4× slower at sf0.1; this
    Arrow-batched loop is a monotonic-deque sliding minimum — O(m) per
    doc instead of O(m·W).  Keys are pure-ASCII (hex + digits), so
    Python byte-wise ``<`` equals both engines' collation."""
    import hashlib
    from collections import deque

    out = []
    for t in text:
        if t is None or len(t) < SPAN_K:
            out.append([])
            continue
        b = t.encode("utf-8", "surrogatepass")
        m = len(t) - SPAN_K + 1
        if len(b) == len(t):  # pure ASCII: chars == bytes, slice bytes
            keys = [
                hashlib.md5(b[i: i + SPAN_K]).hexdigest() + "|" + str(i + 1).zfill(10)
                for i in range(m)
            ]
        else:
            # md5 hashes UTF-8 bytes but positions count CHARACTERS
            # (both engines' substr semantics): slice the str per gram
            keys = [
                hashlib.md5(
                    t[i: i + SPAN_K].encode("utf-8", "surrogatepass")
                ).hexdigest() + "|" + str(i + 1).zfill(10)
                for i in range(m)
            ]
        sel: list[str] = []
        dq: deque[int] = deque()  # indices, keys increasing
        for e in range(m):
            while dq and keys[dq[-1]] >= keys[e]:
                dq.pop()
            dq.append(e)
            if dq[0] <= e - WINNOW_W:
                dq.popleft()
            kmin = keys[dq[0]]
            if not sel or sel[-1] != kmin:
                sel.append(kmin)
        # a key's winning windows are contiguous, so consecutive dedupe
        # IS distinct — assert-cheap invariant left to the tests
        out.append(sel)
    return pd.Series(out)



def winnowed_spans(
    docs: DataFrame, k: int = SPAN_K, w: int = WINNOW_W
) -> DataFrame:
    """Two-pass winnowed duplicated-span detection over (doc_id, text).
    Same output schema as :func:`duplicated_spans`."""
    if (k, w) != (SPAN_K, WINNOW_W):
        raise ValueError(
            "winnowed_spans is compiled for (K, W) = "
            f"({SPAN_K}, {WINNOW_W}); the pass-1 pandas UDF bakes the "
            "constants in — change SPAN_K/WINNOW_W at module level"
        )
    pad = k + 2 * w
    eligible = docs.select("doc_id", "text").filter(F.length("text") >= k)

    # ---- pass 1: per-doc winnowed fingerprints (vectorized, narrow) ----
    # the winnow UDF projection is persisted BEFORE the explode (guide
    # §4.4 fence via the cache boundary — InferFiltersFromGenerate's
    # size()>0 filter otherwise pushes below the projection and
    # re-evaluates the most expensive Python stage in this family; the
    # plan stays deterministic so the CacheManager dedupes the entry
    # across invocations, see dedup.shingled).  The dup-test aggregate
    # and the join probe then both explode from the cache — one winnow
    # pass total; the production twin is the written fingerprint table.
    keys = track_persist(eligible.select(
        "doc_id", _winnow_keys_udf("text").alias("kmins")
    ).persist(StorageLevel.MEMORY_AND_DISK))
    fp = keys.select(
        "doc_id", F.explode("kmins").alias("kmin")
    ).select(
        "doc_id",
        F.substring("kmin", 34, 10).cast("long").alias("p"),
        # binary h past this narrow stage (same 2x-shuffle note as
        # duplicated_spans; the string form exists only inside the
        # winnow key where the '|' position tie-break needs it)
        F.unhex(F.substring("kmin", 1, 32)).alias("h"),
    )
    dup1 = (
        fp.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    hits1 = fp.join(dup1, "h").select("doc_id", "p")
    return _verify_regions(eligible, hits1, k, pad)


def _verify_regions(
    eligible: DataFrame, seeds: DataFrame, k: int, pad: int
) -> DataFrame:
    """Shared pass 2 of the two-pass span detectors (winnowed q125,
    strided q158): merge pass-1 seed positions (doc_id, p) into padded
    candidate regions, regenerate stride-1 grams ONLY inside the regions
    (output-proportional), and run q119's exact dup-test + island merge
    on them."""
    by_doc = Window.partitionBy("doc_id").orderBy("p")
    prev1 = F.lag("p").over(by_doc)
    region_id = F.sum(
        F.when(prev1.isNull() | (F.col("p") - prev1 > pad), 1).otherwise(0)
    ).over(by_doc)
    regions = (
        seeds.withColumn("rid", region_id)
        .groupBy("doc_id", "rid")
        .agg(
            (F.min("p") - pad).alias("lo_raw"),
            (F.max("p") + pad).alias("hi_raw"),
        )
    )

    # ---- pass 2: exact stride-1 verify inside the regions only ----
    pass2 = (
        regions.join(eligible, "doc_id")
        .select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(
                    F.greatest(F.lit(1), F.col("lo_raw")),
                    F.least(F.length("text") - k + 1, F.col("hi_raw")),
                )
            ).alias("p"),
        )
        .select(
            "doc_id",
            "p",
            F.unhex(
                F.md5(F.col("text").substr(F.col("p").cast("int"), F.lit(k)))
            ).alias("h"),
        )
        .distinct()  # adjacent regions may overlap after expansion
        # pass-2 grams also feed a dup-test + probe pair; without this
        # the whole pass-1 subtree re-executes inside both (r12).  The
        # min/max-window rewrite (duplicated_spans, r13) was A/B'd here
        # and REJECTED: this persist also shares the canonical-plan
        # cache entry across invocations, which the single-exchange
        # window form forfeits (same-process A/B 1.33 vs 2.44 s)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    track_persist(pass2)
    dup2 = (
        pass2.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    hits2 = pass2.join(dup2, "h").select("doc_id", "p")
    prev2 = F.lag("p").over(by_doc)
    island = F.sum(
        F.when(prev2.isNull() | (F.col("p") - prev2 > 1), 1).otherwise(0)
    ).over(by_doc)
    return (
        hits2.withColumn("island", island)
        .groupBy("doc_id", "island")
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") - F.min("p") + k).alias("span_len"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_len", "n_windows")
    )


# ---------------------------------------------------------------------------
# q158 — "stride-S" two-pass spans via mod-hash (content-defined) sampling
# ---------------------------------------------------------------------------
#
# The knob q119's docstring names.  A POSITIONAL stride can't work
# symmetrically (the two copies of a span sit at different offsets, so
# stride-aligned grams have different content and never hash-join — the
# same objection the winnowing comment above makes); the sound way to
# "run at stride S" is mod-hash selection (Broder-style mod-p sketching,
# the 0-mod-p variant of winnowing): keep a gram iff its fingerprint ≡ 0
# (mod S).  Selection depends only on gram CONTENT, so both copies of a
# shared span select the same grams, at expected density 1/S — an
# EXPECTED stride of S rather than a positional one.
#
# Guarantee (vs q125's deterministic one): winnowing bounds the gap
# between selections at W, so spans >= K + 2W - 1 are found exactly;
# mod-hash gaps are geometric with mean S — a span is found iff at least
# one of its L - K + 1 grams selects (miss probability (1-1/S)^(L-K+1),
# ~0.3% at L = K + 2·PAD_GAPS·S), and found spans are exact-maximal
# within the padded regions.  Both engines draw the same md5, so which
# spans select is deterministic and identical — the differential pytest
# pins strided == stride-1 for every span the fixed corpora contain
# above the documented threshold.

STRIDE_S = 4
_STRIDE_PAD = SPAN_K + 8 * STRIDE_S  # gap tolerance AND region expansion


def strided_spans(
    docs: DataFrame, k: int = SPAN_K, s: int = STRIDE_S
) -> DataFrame:
    """Two-pass duplicated-span detection at expected stride ``s``:
    mod-hash pass-1 selection (only ~1/s of gram rows cross the
    exchange, 16-byte keys), padded-region merge, exact stride-1
    re-verify inside regions.  ``s = 1`` degenerates to selecting every
    gram (pass 1 equals q119's gram stream).  Same output schema as
    :func:`duplicated_spans`."""
    pad = k + 8 * s
    eligible = docs.select("doc_id", "text").filter(F.length("text") >= k)
    hexes = F.transform(
        F.sequence(F.lit(1), F.length("text") - k + 1),
        lambda i: F.md5(F.col("text").substr(i, F.lit(k))),
    )
    grams = eligible.select(
        "doc_id", F.posexplode(hexes).alias("pos0", "hx")
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("p"), "hx")
    # content-defined selection BEFORE the exchange: the narrow filter
    # runs inside the scan stage, so only selected grams shuffle
    sel = (
        grams.filter(
            F.conv(F.substring("hx", 1, 15), 16, 10).cast("long") % s == 0
        )
        .select("doc_id", "p", F.unhex("hx").alias("h"))
        # selected grams feed dup-test + probe: materialize the ~1/s
        # selection once instead of two full-corpus md5 passes (r12;
        # the persist also shares the cache entry across invocations —
        # see the pass-2 note on the rejected window rewrite)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    track_persist(sel)
    dup1 = (
        sel.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    seeds = sel.join(dup1, "h").select("doc_id", "p")
    return _verify_regions(eligible, seeds, k, pad)


def q158_strided_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q119's spans through the mod-hash "stride-S" two-pass knob
    (S = 4): the pass-1 exchange carries ~1/4 of the gram rows, and the
    exact re-verify reconstructs every span the fixed corpus shares
    (differentially pinned against stride-1 in tests/test_spans_diff)."""
    return strided_spans(_augmented(spark, sf_dir))


_Q158_SQL = f"""
WITH all_docs AS ({_AUG_SQL}),
d AS (
  SELECT doc_id, text, length(text) - {SPAN_K} + 1 AS m
  FROM all_docs WHERE length(text) >= {SPAN_K}
),
pos AS (SELECT doc_id, text, unnest(range(1, m + 1)) AS p FROM d),
g AS (
  SELECT doc_id, p,
         md5(substr(text, CAST(p AS INTEGER), {SPAN_K})) AS h
  FROM pos
),
sel AS (
  SELECT doc_id, p, h FROM g
  WHERE CAST(('0x' || substr(h, 1, 15)) AS BIGINT) % {STRIDE_S} = 0
),
dup1 AS (
  SELECT h FROM sel GROUP BY h HAVING count(DISTINCT doc_id) >= 2
),
seeds AS (SELECT sel.doc_id, sel.p FROM sel JOIN dup1 USING (h)),
lag1 AS (
  SELECT doc_id, p,
         lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
  FROM seeds
),
rid AS (
  SELECT doc_id, p,
         sum(CASE WHEN prev IS NULL OR p - prev > {_STRIDE_PAD}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY p) AS region_id
  FROM lag1
),
regions AS (
  SELECT doc_id, region_id,
         min(p) - {_STRIDE_PAD} AS lo_raw,
         max(p) + {_STRIDE_PAD} AS hi_raw
  FROM rid GROUP BY doc_id, region_id
),
pass2 AS (
  SELECT DISTINCT r.doc_id, t.p,
         md5(substr(d.text, CAST(t.p AS INTEGER), {SPAN_K})) AS h
  FROM regions r
  JOIN d ON d.doc_id = r.doc_id,
  unnest(range(greatest(1, r.lo_raw), least(d.m, r.hi_raw) + 1)) AS t(p)
),
dup2 AS (
  SELECT h FROM pass2 GROUP BY h HAVING count(DISTINCT doc_id) >= 2
),
hit2 AS (SELECT pass2.doc_id, pass2.p FROM pass2 JOIN dup2 USING (h)),
lag2 AS (
  SELECT doc_id, p,
         lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
  FROM hit2
),
isl AS (
  SELECT doc_id, p,
         sum(CASE WHEN prev IS NULL OR p - prev > 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY p) AS island
  FROM lag2
)
SELECT doc_id,
       min(p) AS span_start,
       max(p) - min(p) + {SPAN_K} AS span_len,
       CAST(count(*) AS BIGINT) AS n_windows
FROM isl
GROUP BY doc_id, island
"""


def q125_winnowed_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnowed_spans(_augmented(spark, sf_dir))


_Q125_SQL = f"""
WITH all_docs AS ({_AUG_SQL}),
d AS (
  SELECT doc_id, text, length(text) - {SPAN_K} + 1 AS m
  FROM all_docs WHERE length(text) >= {SPAN_K}
),
pos AS (SELECT doc_id, text, unnest(range(1, m + 1)) AS p FROM d),
g AS (
  SELECT doc_id, p,
         md5(substr(text, CAST(p AS INTEGER), {SPAN_K}))
           || '|' || lpad(CAST(p AS VARCHAR), 10, '0') AS k
  FROM pos
),
winnow AS (
  SELECT doc_id,
         min(k) OVER (PARTITION BY doc_id ORDER BY p
                      ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW) AS kmin
  FROM g
),
fp AS (
  SELECT DISTINCT doc_id,
         CAST(substr(kmin, 34, 10) AS BIGINT) AS p,
         substr(kmin, 1, 32) AS h
  FROM winnow
),
dup1 AS (SELECT h FROM fp GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
hits1 AS (SELECT fp.doc_id, fp.p FROM fp JOIN dup1 USING (h)),
lag1 AS (
  SELECT doc_id, p, lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
  FROM hits1
),
isl1 AS (
  SELECT doc_id, p,
         sum(CASE WHEN prev IS NULL OR p - prev > {_REGION_PAD} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY p) AS rid
  FROM lag1
),
regions AS (
  SELECT doc_id, min(p) - {_REGION_PAD} AS lo_raw, max(p) + {_REGION_PAD} AS hi_raw
  FROM isl1 GROUP BY doc_id, rid
),
pass2 AS (
  SELECT DISTINCT r.doc_id, t.p,
         md5(substr(d.text, CAST(t.p AS INTEGER), {SPAN_K})) AS h
  FROM regions r
  JOIN d USING (doc_id),
  LATERAL (SELECT unnest(range(greatest(1, r.lo_raw), least(d.m, r.hi_raw) + 1)) AS p) t
),
dup2 AS (SELECT h FROM pass2 GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
hits2 AS (SELECT pass2.doc_id, pass2.p FROM pass2 JOIN dup2 USING (h)),
lag2 AS (
  SELECT doc_id, p, lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
  FROM hits2
),
isl2 AS (
  SELECT doc_id, p,
         sum(CASE WHEN prev IS NULL OR p - prev > 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY p) AS island
  FROM lag2
)
SELECT doc_id,
       min(p) AS span_start,
       max(p) - min(p) + {SPAN_K} AS span_len,
       CAST(count(*) AS BIGINT) AS n_windows
FROM isl2
GROUP BY doc_id, island
"""

# ---------------------------------------------------------------------------
# q128 — boilerplate extraction (what IS the duplicated text?)
# ---------------------------------------------------------------------------
#
# Span offsets (q119) say where duplication lives; cleaning pipelines
# need the actual STRINGS — license headers, nav bars, quoted footers —
# ranked by reach, to build removal rules.  Snippet = the first 60 chars
# of each duplicated span; ranked by (#docs containing it, #spans,
# snippet) with a full tie-break so top-k is total-ordered.
#
# Scale shape: one snippet-keyed hash aggregate over the span list
# (output-proportional — spans, not corpus), then ``orderBy().limit()``
# = TakeOrderedAndProject (per-partition k-heap + k-row merge), never a
# global sort or an unpartitioned window.

TOP_BOILERPLATE = 20
_SNIPPET_LEN = 60


def q128_boilerplate_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _augmented(spark, sf_dir)
    spans = duplicated_spans(docs)
    snippet = F.col("text").substr(
        F.col("span_start").cast("int"), F.lit(_SNIPPET_LEN)
    )
    return (
        spans.join(docs.select("doc_id", "text"), "doc_id")
        .select(snippet.alias("snippet"), "doc_id", "span_len")
        .groupBy("snippet")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_spans"),
            F.max("span_len").alias("max_len"),
        )
        .orderBy(
            F.col("n_docs").desc(), F.col("n_spans").desc(), F.col("snippet")
        )
        .limit(TOP_BOILERPLATE)
    )


_Q128_SQL = f"""
WITH spans AS ({_Q119_SQL}),
all_docs AS ({_AUG_SQL}),
snip AS (
  SELECT substr(d.text, CAST(s.span_start AS INTEGER), {_SNIPPET_LEN}) AS snippet,
         s.doc_id, s.span_len
  FROM spans s JOIN all_docs d USING (doc_id)
),
agg AS (
  SELECT snippet,
         count(DISTINCT doc_id) AS n_docs,
         count(*) AS n_spans,
         max(span_len) AS max_len
  FROM snip GROUP BY snippet
)
SELECT snippet, n_docs, n_spans, max_len
FROM agg
ORDER BY n_docs DESC, n_spans DESC, snippet
LIMIT {TOP_BOILERPLATE}
"""

SPANS_QUERIES = {
    "q119_substring_dedup": q119_substring_dedup,
    "q125_winnowed_spans": q125_winnowed_spans,
    "q128_boilerplate_topk": q128_boilerplate_topk,
    "q158_strided_spans": q158_strided_spans,
}
SPANS_ORACLES = {
    "q119_substring_dedup": _Q119_SQL,
    "q125_winnowed_spans": _Q125_SQL,
    "q128_boilerplate_topk": _Q128_SQL,
    "q158_strided_spans": _Q158_SQL,
}
