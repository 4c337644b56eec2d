"""Deduplication operators over the ``documents`` table.

Five dedup strategies, each scale-first:

* exact        — hash group-by on content (one shuffle, map-side partial);
* n-gram Jaccard — shingle-explode + equi-join on shingle (never all-pairs;
                 the join key is the shingle, so candidate generation is
                 output-proportional);
* MinHash-LSH  — banded signature buckets (candidates come from band-key
                 equi-joins, verified with exact Jaccard);
* SimHash      — 60-bit fingerprints + Hamming distance;
* embedding cosine — near-dup pairs above a cosine threshold (brute-force
                 here; the bucketed scale path lives in ext.similarity).

Portability contract: every hash is md5-derived (``md5`` is bit-identical
in Spark and DuckDB), so the DuckDB oracles mirror the computation exactly
— including LSH false negatives, which are therefore identical on both
sides rather than a source of flakiness.

The sf0.01 documents table has no true near-dups, so the near-dup queries
union in deterministic perturbed copies (``doc_id + 100000``, text plus a
suffix) — same augmentation in Spark and oracle SQL.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel

from postfix_log_parser_spark.ext.staging import StageCache

N_MINHASH = 8          # minhash permutations
N_BANDS = 4            # LSH bands (2 rows per band)
ROWS_PER_BAND = N_MINHASH // N_BANDS
SIMHASH_BITS = 60      # bits taken from the 15-hex-char md5 prefix


def _load_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# ---------------------------------------------------------------------------
# shared text → words / shingles expressions (all JVM-side)
# ---------------------------------------------------------------------------

def words_of(text: Column) -> Column:
    """Lowercased alnum word list (empty tokens filtered)."""
    return F.filter(
        F.split(F.lower(text), "[^a-z0-9]+"), lambda w: w != F.lit("")
    )


def shingles_of(words: Column) -> Column:
    """Distinct word-3-gram shingles (Catalyst expression form — exact but
    interpreted per element; prefer ``shingles3_udf`` on the hot path)."""
    n = F.size(words)
    grams = F.transform(
        F.sequence(F.lit(0), n - F.lit(3)),
        lambda i: F.concat_ws(
            " ", F.get(words, i), F.get(words, i + F.lit(1)), F.get(words, i + F.lit(2))
        ),
    )
    return F.when(n >= 3, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


@F.pandas_udf(T.ArrayType(T.StringType()))
def shingles3_udf(text: "pd.Series") -> "pd.Series":
    """Vectorized twin of ``shingles_of(words_of(text))``: lowercase,
    split on non-alnum runs, first-occurrence-distinct word 3-grams.
    Higher-order Catalyst expressions are interpreted (not codegen'd), so
    this Arrow-batched loop is ~20× faster per shingle — the measured
    difference between a 15 s and a sub-second shingle stage at sf0.1."""
    import re

    pat = re.compile("[^a-z0-9]+")
    out = []
    for t in text:
        ws = [w for w in pat.split(t.lower()) if w] if t is not None else []
        if len(ws) < 3:
            out.append([])
            continue
        seen: set = set()
        grams = []
        for i in range(len(ws) - 2):
            g = f"{ws[i]} {ws[i + 1]} {ws[i + 2]}"
            if g not in seen:
                seen.add(g)
                grams.append(g)
        out.append(grams)
    return pd.Series(out)


def shingled(docs: "DataFrame") -> "DataFrame":
    """(doc_id, shingles) with the UDF projection persisted BEFORE any
    filter or explode — the shared optimizer fence for the shingle
    family (r12, guide §4.4 + §5).

    A filter that references the UDF column (the explicit ``size() > 0``
    gates, or the filters ``InferFiltersFromGenerate`` derives above an
    explode) gets pushed below the projection and DUPLICATES the
    ArrowEvalPython stage: one eval feeds the filter, a second
    recomputes the kept column (measured 2× the shingle stage).  The
    cache boundary is the fence — the fill plan contains no filter, so
    the UDF runs exactly once, and consumers' filters/explodes stop at
    the InMemoryRelation.

    Deliberately NOT ``asNondeterministic()`` (guide §4.4's other fix):
    an ND expression defeats canonical-plan matching, so every
    invocation registers a FRESH CacheManager entry and re-fills it —
    measured +55 s across the bench (q134 3.6→17 s, and the whole
    q121-q135 band regressed from the accumulated fills' memory
    pressure).  With a deterministic plan the CacheManager dedupes the
    entry across repeats AND across the queries that share the same
    projection.  At 100 TB this cache is a materialized shingle table —
    written once, read by every consumer."""
    from postfix_log_parser_spark.ext.staging import track_persist

    return track_persist(docs.select(
        "doc_id", shingles3_udf(F.col("text")).alias("shingles")
    ).persist(StorageLevel.MEMORY_AND_DISK))


def md5_long(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative long — the portable hash
    shared with the DuckDB oracles (``CAST('0x' || substr(md5(x),1,15) AS
    BIGINT)``)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


_DUCK_WORDS = (
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w != '')"
)

# words -> distinct 3-gram shingles (DuckDB lists are 1-based)
_DUCK_SHINGLES = (
    "CASE WHEN len(words) >= 3 THEN list_distinct(list_transform("
    "range(1, len(words) - 1), i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]"
    ")) ELSE [] END"
)


def _duck_md5_long(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


# augmented docs: every 25th doc gets a perturbed near-copy at id+100000
_AUG_SQL = """
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text || ' nearly duplicate suffix pad' AS text, source
  FROM documents WHERE doc_id % 25 = 0
"""


def _augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load_docs(spark, sf_dir).select("doc_id", "text", "source")
    near = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" nearly duplicate suffix pad")).alias("text"),
            "source",
        )
    )
    out = docs.unionAll(near)
    # the scan of a small single-file table yields 1-2 splits, which would
    # serialize the (expensive) downstream shingle/hash work onto 2 cores;
    # one cheap round-robin shuffle of the raw docs buys full parallelism.
    # On a real multi-file/100 TB layout the scan is already wide and this
    # coalesces to a no-op-sized shuffle relative to downstream cost.
    return out.repartition(spark.sparkContext.defaultParallelism)


# ---------------------------------------------------------------------------
# q20 — exact dedup (content hash group-by)
# ---------------------------------------------------------------------------

def q20_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups: md5(content) grouping, canonical = min id.

    At 100 TB this is one hash-partitioned shuffle on a 128-bit key with
    map-side partial aggregation — the canonical exact-dedup plan.  (We
    also union in literal copies so the query demonstrably groups >1.)"""
    docs = _load_docs(spark, sf_dir).select("doc_id", "text")
    dup = docs.filter(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    return (
        docs.unionAll(dup)
        .groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("canonical_id", "n_copies")
    )


_Q20_SQL = """
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 100 = 0
)
SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
FROM all_docs GROUP BY md5(text)
"""


# ---------------------------------------------------------------------------
# q21 — n-gram Jaccard near-dup via shingle equi-join
# ---------------------------------------------------------------------------

def q21_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs with word-3-gram Jaccard >= 0.3.

    Candidates come from a shingle equi-join (shuffle keyed on shingle),
    NOT an all-pairs cross join: cost is proportional to shared-shingle
    pairs.  Hot shingles (stop-phrase skew) would be salted/filtered at
    scale — here a document-frequency cap drops shingles appearing in >5%
    of docs, which both bounds skew and removes non-discriminative keys."""
    docs = _augmented(spark, sf_dir)
    # the exploded shingle set feeds FOUR consumers (sizes, hot-key scan,
    # both join sides) — the cached array projection runs the UDF once
    # and each consumer re-explodes from the cache (cheap, codegen'd)
    arrs = shingled(docs)
    sh = arrs.select("doc_id", F.explode("shingles").alias("shingle"))
    # |shingles| per doc == the exploded row count — a narrow map over
    # the cache instead of a full explode + groupBy exchange (r12)
    sizes = arrs.select(
        "doc_id", F.size("shingles").cast("long").alias("n_sh")
    )
    n_docs = docs.count()
    df_cap = int(n_docs * 0.05)
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > df_cap)
        .select("shingle")
    )
    sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    jacc = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.round(jacc, 3))
        .filter(F.col("jaccard") >= 0.3)
        .select("id_a", "id_b", "jaccard")
    )


_Q21_SQL = f"""
WITH all_docs AS ({_AUG_SQL}),
tok AS (
  SELECT doc_id, {_DUCK_SHINGLES.replace('words', _DUCK_WORDS)} AS shingles
  FROM all_docs
),
sh AS (SELECT doc_id, unnest(shingles) AS shingle FROM tok),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
hot AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING count(*) > (SELECT CAST(floor(count(*) * 0.05) AS BIGINT) FROM all_docs)
),
cold AS (SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM cold a JOIN cold b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter), 3) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter), 3) >= 0.3
"""


# ---------------------------------------------------------------------------
# q22 — MinHash + banded LSH near-dup
# ---------------------------------------------------------------------------

def _minhash_bands(with_sh: DataFrame) -> DataFrame:
    """(doc_id, shingles) → (doc_id, band_idx, band_key): 8 md5-derived
    minhash permutations, 4 bands × 2 rows, band key = md5 of the band's
    signature slice.  One shuffle (explode → groupBy doc)."""
    exploded = with_sh.select("doc_id", F.explode("shingles").alias("sh"))
    sig = exploded.groupBy("doc_id").agg(
        *[
            F.min(md5_long(F.concat(F.lit(f"{i}|"), F.col("sh")))).alias(f"h{i}")
            for i in range(N_MINHASH)
        ]
    )
    # unhex: band keys join as 16 raw bytes, not 32-char hex (internal
    # equi-join keys — unhex is injective, so the candidate set is
    # unchanged and the oracle's hex keys still select the same pairs)
    band_keys = [
        F.unhex(
            F.md5(
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"h{b * ROWS_PER_BAND + r}").cast("string")
                        for r in range(ROWS_PER_BAND)
                    ],
                )
            )
        ).alias(f"b{b}")
        for b in range(N_BANDS)
    ]
    banded = sig.select("doc_id", *band_keys)
    return banded.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"b{b}") for b in range(N_BANDS)])).alias(
            "band_idx", "band_key"
        ),
    )


def _jaccard_verified(cand: DataFrame, with_sh: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b) candidates → exact-Jaccard-verified pairs ≥ threshold."""
    sh_a = with_sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_b = with_sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    n_inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jacc = n_inter / (F.size("sh_a") + F.size("sh_b") - n_inter)
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard", F.round(jacc, 3))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# Staged LSH+CC artifacts, keyed per (SparkContext, sf_dir).  Four
# contract queries consume the q22→q36 pipeline — q36 (components),
# q120 (survivors), q132 (recall audit), q154 (split leakage) — and it
# is the most expensive pipeline in the fleet; without staging each of
# them re-runs the full shingle→minhash→band-join→verify (and three of
# them the CC loop on top).  At 100 TB that recomputation is 4× a
# full-corpus shingle pass — production writes the verified pair list
# and the component map to checkpoint TABLES; per-session
# localCheckpoint frames are the local-mode twin of that.  The staged
# frames are eagerly materialized and tiny (output-proportional: only
# near-dup pairs/members), so holding them for the session is cheap.
# Lifecycle (r9, ext/staging.py): applicationId+fingerprint keys, LRU
# bound, clear_stages() teardown.
_PAIR_STAGE = StageCache(inputs=("documents.parquet",))
_COMP_STAGE = StageCache(inputs=("documents.parquet",))
# the corpus's LSH band index — at 100 TB a bucketed TABLE keyed by
# band_key, written once when the corpus is built and read by every
# incremental ingest; locally the session-staged twin.  Staged eagerly
# as a byproduct of ``lsh_verified_pairs`` (a deliberate amortization:
# the shingle cache is hot there, and the index is the ONE
# corpus-proportional staged artifact — its production form is a table,
# not a session cache).  Declared here with its siblings so the
# byproduct ``put`` below resolves lexically, not via call-time lookup.
_BAND_STAGE = StageCache(inputs=("documents.parquet",))
# q172's wave pair list (wave-existing + wave-wave verified pairs) —
# shared by q172 (merge) and q174 (the takedown pass needs the full
# maintained pair list to find residual edges)
_INC_PAIRS_STAGE = StageCache(inputs=("documents.parquet",))
# test hook: how many times each stage actually computed (not cache-hit)
STAGE_COMPUTES = {"pairs": 0, "components": 0, "incremental_components": 0}


def _stage_key(spark: SparkSession, sf_dir: str) -> tuple:
    return _PAIR_STAGE.key(spark, sf_dir)


def lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q22's verified near-dup pair list, computed ONCE per (session,
    sf_dir) and returned as an eagerly-materialized localCheckpoint
    frame (schema: id_a, id_b, jaccard)."""
    key = _stage_key(spark, sf_dir)
    staged = _PAIR_STAGE.get(key)
    if staged is not None:
        return staged
    STAGE_COMPUTES["pairs"] += 1
    docs = _augmented(spark, sf_dir)
    # shingle sets feed the signature explode AND both verify-join sides —
    # materialize once (at scale: a checkpoint table)
    with_sh = shingled(docs).filter(F.size("shingles") > 0)
    bands = _minhash_bands(with_sh)
    # stage the band index as a byproduct while the shingle cache is hot:
    # incremental ingest (q172) probes it, and materializing it here
    # costs one cheap re-aggregation instead of a second corpus-wide
    # shingle+minhash pass later
    if _BAND_STAGE.get(key) is None:
        bands = _BAND_STAGE.put(key, bands.localCheckpoint(eager=True))
    x = bands.alias("x")
    y = bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b"))
        .distinct()
    )
    pairs = _jaccard_verified(cand, with_sh, 0.5).localCheckpoint(eager=True)
    # the checkpoint holds the materialized pairs — the shingle cache
    # (corpus-proportional, unlike the pairs) can go immediately
    with_sh.unpersist()
    return _PAIR_STAGE.put(key, pairs)


def q22_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 md5-derived permutations), 4 bands × 2 rows;
    candidate pairs from band-key equi-joins, verified with exact Jaccard
    >= 0.5 on the full shingle sets.

    Scale shape: signature computation is one shuffle (explode shingles →
    groupBy doc, min per permutation); candidate generation is an
    equi-join on (band_idx, band_key) — output-proportional, never
    all-pairs.  False negatives are a property of the (deterministic)
    hash family, identical in the oracle.  The result is STAGED per
    (session, sf_dir) — see ``lsh_verified_pairs`` — so the q36/q120/
    q132/q154 consumers share one execution."""
    return lsh_verified_pairs(spark, sf_dir)


def _q22_sql(aug_sql: str = _AUG_SQL) -> str:
    mins = ",\n         ".join(
        f"min({_duck_md5_long(f'''CAST({i} AS VARCHAR) || '|' || sh''')}) AS h{i}"
        for i in range(N_MINHASH)
    )
    bands = ", ".join(
        "md5("
        + " || '_' || ".join(
            f"CAST(h{b * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
        )
        + f") AS b{b}"
        for b in range(N_BANDS)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, b{b} AS band_key FROM banded"
        for b in range(N_BANDS)
    )
    return f"""
WITH all_docs AS ({aug_sql}),
tok AS (
  SELECT doc_id, {_DUCK_SHINGLES.replace('words', _DUCK_WORDS)} AS shingles
  FROM all_docs
),
with_sh AS (SELECT * FROM tok WHERE len(shingles) > 0),
exploded AS (SELECT doc_id, unnest(shingles) AS sh FROM with_sh),
sig AS (
  SELECT doc_id,
         {mins}
  FROM exploded GROUP BY doc_id
),
banded AS (SELECT *, {bands} FROM sig),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM bands x JOIN bands y
    ON x.band_idx = y.band_idx AND x.band_key = y.band_key
   AND x.doc_id < y.doc_id
)
SELECT id_a, id_b,
       round(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
             (len(a.shingles) + len(b.shingles)
              - len(list_intersect(a.shingles, b.shingles))), 3) AS jaccard
FROM cand
JOIN with_sh a ON a.doc_id = id_a
JOIN with_sh b ON b.doc_id = id_b
WHERE round(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
            (len(a.shingles) + len(b.shingles)
             - len(list_intersect(a.shingles, b.shingles))), 3) >= 0.5
"""


# ---------------------------------------------------------------------------
# q69 — incremental dedup: new batch vs existing LSH index
# ---------------------------------------------------------------------------

def q69_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OPERATIONAL dedup mode at 100 TB: a daily ingest batch is
    checked against the existing corpus's persisted LSH band index —
    never re-deduping the whole corpus.  Here the augmented corpus's
    perturbed copies (doc_id ≥ 100000) play the new batch; the originals
    are the index.  Candidates come from the asymmetric equi-join of
    new-batch band keys against index band keys (at scale the index side
    is a bucketed table partitioned by band_key, and the small new batch
    broadcasts — the scan reads only the matching buckets), then exact
    Jaccard ≥ 0.5 verifies.  Output: (new doc, matched index doc,
    jaccard)."""
    docs = _augmented(spark, sf_dir)
    with_sh = shingled(docs).filter(F.size("shingles") > 0)
    bands = _minhash_bands(with_sh)
    new_b = bands.filter(F.col("doc_id") >= 100000).alias("x")
    idx_b = bands.filter(F.col("doc_id") < 100000).alias("y")
    cand = (
        new_b.join(
            idx_b,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_key") == F.col("y.band_key")),
        )
        .select(F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b"))
        .distinct()
    )
    return _jaccard_verified(cand, with_sh, 0.5).select(
        F.col("id_a").alias("new_id"),
        F.col("id_b").alias("index_id"),
        "jaccard",
    )


def _q69_sql() -> str:
    base = _q22_sql()
    return base.replace(
        """  FROM bands x JOIN bands y
    ON x.band_idx = y.band_idx AND x.band_key = y.band_key
   AND x.doc_id < y.doc_id""",
        """  FROM bands x JOIN bands y
    ON x.band_idx = y.band_idx AND x.band_key = y.band_key
   AND x.doc_id >= 100000 AND y.doc_id < 100000""",
    ).replace(
        "SELECT id_a, id_b,",
        "SELECT id_a AS new_id, id_b AS index_id,",
    )


# ---------------------------------------------------------------------------
# q23 — SimHash fingerprints + Hamming-distance histogram
# ---------------------------------------------------------------------------

def _simhash_fp(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): the 60-bit SimHash fingerprint — one shuffle
    (explode distinct words → groupBy doc with 60 conditional sums)."""
    w = docs.select(
        "doc_id", F.explode(F.array_distinct(words_of(F.col("text")))).alias("w")
    ).withColumn("x", md5_long(F.col("w")))
    bit_sums = w.groupBy("doc_id").agg(
        *[
            F.sum(
                (F.shiftright(F.col("x"), j).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"s{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    simhash = None
    for j in range(SIMHASH_BITS):
        term = F.when(
            F.col(f"s{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)
        ).otherwise(F.lit(0).cast("long"))
        simhash = term if simhash is None else simhash + term
    return bit_sums.select("doc_id", simhash.alias("simhash"))


def q23_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document; output = histogram of pairwise Hamming
    distances among doc_id < 200 (near-dups cluster at low distance).

    The per-doc fingerprint is one shuffle (``_simhash_fp``).  The
    pairwise stage here is a bounded all-pairs for the histogram; the
    SCALE path — band-prefix buckets, any pair within Hamming distance
    B-1 shares one of B band keys — is q164's banded-Hamming join."""
    from postfix_log_parser_spark.ext.staging import track_persist

    # both self-join sides consume the fingerprints: materialize once
    # (q164's r12 fix applied here too; the plan ran two full
    # tokenize+bit-sum subtrees)
    fp = track_persist(
        _simhash_fp(
            _load_docs(spark, sf_dir).filter(F.col("doc_id") < 200)
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = fp.alias("a")
    b = fp.alias("b")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("int").alias("hamming")
        )
        .groupBy("hamming")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def _q23_sql() -> str:
    sums = ",\n         ".join(
        f"sum(((x >> {j}) & 1) * 2 - 1) AS s{j}" for j in range(SIMHASH_BITS)
    )
    assemble = " + ".join(
        f"CASE WHEN s{j} > 0 THEN (CAST(1 AS BIGINT) << {j}) ELSE 0 END"
        for j in range(SIMHASH_BITS)
    )
    return f"""
WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
w AS (
  SELECT doc_id, unnest(list_distinct({_DUCK_WORDS})) AS w FROM docs
),
hashed AS (SELECT doc_id, {_duck_md5_long('w')} AS x FROM w),
bit_sums AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id),
fp AS (SELECT doc_id, {assemble} AS simhash FROM bit_sums)
SELECT CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming,
       count(*) AS n_pairs
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q164 — banded-Hamming SimHash near-dup JOIN (q23's scale path, realized)
# ---------------------------------------------------------------------------

HAMMING_BANDS = 4  # 4 bands × 15 bits = SIMHASH_BITS
HAMMING_BAND_BITS = SIMHASH_BITS // HAMMING_BANDS
HAMMING_K = HAMMING_BANDS - 1  # pigeonhole: dist ≤ B-1 shares ≥ 1 band


def q164_simhash_banded_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs within SimHash Hamming distance ≤ 3 — found by
    the BANDED equi-join, never all-pairs: the 60-bit fingerprint splits
    into 4 × 15-bit band keys, and by pigeonhole any pair with ≤ 3
    differing bits agrees exactly on at least one band, so the
    (band_idx, band_key) self-join has zero false negatives at the
    threshold.  Candidates carry both fingerprints through the join (a
    60-bit long rides free, unlike q22's shingle sets which need a
    verify re-join) and one ``bit_count(xor)`` settles each pair.

    The DuckDB oracle computes the brute-force all-pairs answer, so the
    typed comparison PROVES the recall guarantee on every corpus it
    runs on (the q107 differential pattern).

    Scale: candidates are output-proportional — identical-fingerprint
    clusters dominate both, random 15-bit band collisions add
    ~B·N²/2^15 cheap verifications; at 100 TB you widen bands (e.g.
    8 × 16 of a 128-bit fingerprint) to hold that ratio, exactly the
    LSH banding dial q22 uses.  Runs on the augmented corpus (planted
    near-copies land at small distances; the sf0.01 corpus plants one
    pair at exactly the threshold)."""
    # both sides of the band self-join consume the fingerprints:
    # materialize them once instead of running the tokenize+majority
    # pipeline per side (r12; the plan showed two full scan→fp subtrees)
    from postfix_log_parser_spark.ext.staging import track_persist

    fp = track_persist(_simhash_fp(_augmented(spark, sf_dir)).persist(
        StorageLevel.MEMORY_AND_DISK
    ))
    mask = (1 << HAMMING_BAND_BITS) - 1
    band_arr = F.array(*[
        F.shiftright(F.col("simhash"), HAMMING_BAND_BITS * j)
        .bitwiseAND(F.lit(mask))
        for j in range(HAMMING_BANDS)
    ])
    banded = fp.select(
        "doc_id", "simhash",
        F.posexplode(band_arr).alias("band_idx", "band_key"),
    )
    x = banded.alias("x")
    y = banded.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("id_a"),
            F.col("y.doc_id").alias("id_b"),
            F.col("x.simhash").alias("sh_a"),
            F.col("y.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= HAMMING_K)
        .select("id_a", "id_b", "hamming")
    )


def _q164_sql() -> str:
    sums = ",\n         ".join(
        f"sum(((x >> {j}) & 1) * 2 - 1) AS s{j}" for j in range(SIMHASH_BITS)
    )
    assemble = " + ".join(
        f"CASE WHEN s{j} > 0 THEN (CAST(1 AS BIGINT) << {j}) ELSE 0 END"
        for j in range(SIMHASH_BITS)
    )
    return f"""
WITH all_docs AS ({_AUG_SQL}),
w AS (
  SELECT doc_id, unnest(list_distinct({_DUCK_WORDS})) AS w FROM all_docs
),
hashed AS (SELECT doc_id, {_duck_md5_long('w')} AS x FROM w),
bit_sums AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id),
fp AS (SELECT doc_id, {assemble} AS simhash FROM bit_sums)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_K}
"""


# ---------------------------------------------------------------------------
# q24 — embedding-cosine near-dup pairs
# ---------------------------------------------------------------------------

N_COS_TILES = 8  # side-tiling factor for the distributed block nested loop

# q24 is an EXACT all-pairs baseline: compute is O(N^2) even though the plan
# is fully distributed.  Above this row count the quadratic arithmetic — not
# the shuffle — is the killer, so the operator refuses to run and points at
# the sub-quadratic twins.  Raise deliberately (q24_embed_neardup(...,
# max_rows=...)) only for a scoped oracle/validation run.
MAX_EXACT_COSINE_ROWS = 100_000


def q24_embed_neardup(
    spark: SparkSession, sf_dir: str, max_rows: int = MAX_EXACT_COSINE_ROWS
) -> DataFrame:
    """Pairs of embeddings with cosine >= 0.45 (the testdata has no true
    embedding dups, so this surfaces the top tail of the random cosine
    distribution).

    Fully-distributed tiled block-nested-loop — NO driver materialization:
    each side is tiled on ``vec_id % K`` (K=8), each row is replicated to
    the K grid cells its tile participates in (shuffle volume 2K·N rows,
    bounded and executor-to-executor), and every (tile_a, tile_b) cell is
    one ``cogroup().applyInPandas`` group that computes its cross-block
    cosines with a single BLAS matmul — Arrow-vectorized, ~1000× the
    throughput of a per-pair interpreted lambda join.  A row pair (a < b)
    lands in exactly one grid cell, so no dedup pass is needed.  The grid
    key is uniform (mod over dense ids), every cell is data-independent,
    and driver memory is O(1) — the shape survives a 1000-executor 100 TB
    run; the sub-quadratic scale path is ``ext.similarity.q26_ann_lsh``.
    Rounding and thresholding stay in the Catalyst plan so the oracle
    comparison is unchanged; the pre-filter inside the cell uses a slack
    margin so BLAS summation-order noise cannot drop a boundary pair."""
    import numpy as np
    import pandas as pd

    def scan() -> DataFrame:
        # two independent scans (not one aliased lineage) keep the
        # self-cogroup unambiguous; the file reads are the cheap part
        return (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .filter(F.col("embedding").isNotNull())  # null vectors poison matmul
            .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        )

    n_vecs = scan().count()
    if n_vecs > max_rows:
        raise ValueError(
            f"q24_embed_neardup is the EXACT all-pairs baseline: {n_vecs} "
            f"input vectors exceed the {max_rows}-row guard and would cost "
            f"O(N^2) = ~{n_vecs * n_vecs // 2:,} cosines. Use the "
            "sub-quadratic paths instead: ext.similarity.q26_ann_lsh "
            "(hyperplane-bucketed) or ext.dedup.q107_prefix_simjoin "
            "(prefix-filtered), or pass max_rows= explicitly for a scoped "
            "validation run."
        )

    k = N_COS_TILES
    tiles = spark.range(k).select(F.col("id").cast("int").alias("other"))
    left = (
        scan()
        .withColumn("tile_a", F.pmod(F.col("vec_id"), F.lit(k)).cast("int"))
        .crossJoin(F.broadcast(tiles))
        .withColumnRenamed("other", "tile_b")
    )
    right = (
        scan()
        .withColumn("tile_b", F.pmod(F.col("vec_id"), F.lit(k)).cast("int"))
        .crossJoin(F.broadcast(tiles))
        .withColumnRenamed("other", "tile_a")
    )

    def cell(pdf_a: "pd.DataFrame", pdf_b: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf_a) == 0 or len(pdf_b) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_raw": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos_raw": "float64"}
            )
        ids_a = pdf_a["vec_id"].to_numpy()
        mat_a = np.array(pdf_a["v"].tolist(), dtype=np.float64)
        mat_a = mat_a / np.sqrt((mat_a * mat_a).sum(axis=1))[:, None]
        ids_b = pdf_b["vec_id"].to_numpy()
        mat_b = np.array(pdf_b["v"].tolist(), dtype=np.float64)
        mat_b = mat_b / np.sqrt((mat_b * mat_b).sum(axis=1))[:, None]
        cos = mat_a @ mat_b.T
        ii, jj = np.nonzero((cos >= 0.4485) & (ids_a[:, None] < ids_b[None, :]))
        return pd.DataFrame(
            {"id_a": ids_a[ii], "id_b": ids_b[jj], "cos_raw": cos[ii, jj]}
        )

    pairs = (
        left.groupBy("tile_a", "tile_b")
        .cogroup(right.groupBy("tile_a", "tile_b"))
        .applyInPandas(cell, "id_a long, id_b long, cos_raw double")
    )
    return (
        pairs.withColumn("cosine", F.round(F.col("cos_raw"), 3))
        .filter(F.col("cosine") >= 0.45)
        .select("id_a", "id_b", "cosine")
    )


_Q24_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE embedding IS NOT NULL
),
n AS (
  SELECT vec_id, v,
         sqrt(list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]))) AS nrm
  FROM e
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
             / (a.nrm * b.nrm), 3) AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
            / (a.nrm * b.nrm), 3) >= 0.45
"""


# ---------------------------------------------------------------------------
# q36 — near-dup connected components (pair list → dedup clusters)
# ---------------------------------------------------------------------------

def _hash_min_cc(edges: DataFrame, driver_limit: int = 500_000) -> DataFrame:
    """Hash-min connected components over an ``(a, b)`` edge list —
    shared by q36 (corpus pair graph), the q172/q173 merge core (delta
    graph), and the q174/q175 deletion cores (residual subgraphs).
    Returns ``(id, comp)`` with ``comp`` = min id reachable.

    Bounded-probe hybrid (the dovecot-join discipline): near-dup pair
    and delta graphs are output-proportional — usually thousands of
    edges, not billions — so probe ``limit(driver_limit+1)``; when the
    edge list fits, run union-find on the driver (ONE job instead of ~3
    per propagation round) and return the labels as a literal frame.
    An oversized graph falls through to the distributed loop below —
    never more than ``driver_limit+1`` rows are ever collected.

    Distributed path: each round is one (edges ⋈ labels) shuffle + a
    min-aggregate; the pre-update label rides in the same frame so the
    convergence check is a cache-local filter+count, not another join.
    Rounds needed = graph diameter; the loop runs UNTIL CONVERGED with
    a node-count-proportional backstop — min-propagation must converge
    within |V| rounds, so exceeding |V|+1 is a true runaway (a
    lineage/logic bug), never a legitimately deep graph.  At 100 TB
    swap the per-round persist for a reliable checkpoint to truncate
    lineage."""
    spark = edges.sparkSession
    # persist BEFORE probing: the probe's partial materialization is
    # cached, so an oversized graph's distributed loop reuses the cached
    # partitions instead of re-executing the full edge lineage a second
    # time (and the probe itself never ships more than driver_limit+1
    # rows to the driver)
    edges = edges.persist()
    probe = edges.limit(driver_limit + 1).collect()
    if len(probe) <= driver_limit:
        edges.unpersist()
        parent: dict = {}

        def find(x: int) -> int:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for row in probe:
            ra, rb = find(row[0]), find(row[1])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)  # min-id canonical root
        rows = [(int(n), int(find(n))) for n in parent]
        # checkpoint the literal: staged consumers (q36/q172/q174) re-read
        # these labels on every warm call — materialized blocks collect in
        # ~20 ms where a literal frame re-parallelizes rows each time
        return spark.createDataFrame(
            rows, "id long, comp long"
        ).localCheckpoint(eager=True)
    und = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).persist()
    labels = (
        und.select(F.col("a").alias("id")).distinct()
        .withColumn("comp", F.col("id")).persist()
    )
    rounds = 0
    cap = 20  # near-dup graphs converge in 1-2 rounds
    n_nodes = None
    while True:
        nbr = (
            und.join(labels, und["b"] == labels["id"])
            .groupBy("a").agg(F.min("comp").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr, labels["id"] == nbr["a"], "left")
            .select(
                labels["id"],
                labels["comp"].alias("_prev"),
                F.least(
                    F.col("comp"), F.coalesce(F.col("nbr_min"), F.col("comp"))
                ).alias("comp"),
            ).persist()
        )
        changed = new_labels.filter(F.col("comp") != F.col("_prev")).count()
        labels.unpersist()
        labels = new_labels
        rounds += 1
        if changed == 0:
            break
        if rounds >= cap:
            if n_nodes is None:  # deep graph: extend the cap to |V|+1 once
                n_nodes = labels.count()
                cap = max(cap, n_nodes + 1)
            if rounds >= cap:
                labels.unpersist()
                und.unpersist()
                edges.unpersist()
                raise RuntimeError(
                    f"hash-min CC did not converge in {rounds} rounds over "
                    f"{n_nodes} nodes — propagation is broken, not deep"
                )
    und.unpersist()
    edges.unpersist()
    # checkpoint truncates the per-round join lineage and frees the
    # loop's cache: callers read checkpointed blocks, not the persisted
    # labels (which would otherwise leak for the session)
    out = labels.select("id", "comp").localCheckpoint(eager=True)
    labels.unpersist()
    return out


def q36_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH near-dup pairs (q22):
    a pair list does not dedup a corpus — clusters with one canonical id
    per component do.  Output: (doc_id, component_id) where component_id
    is the minimum doc_id reachable through the near-dup graph.

    Iterative hash-min label propagation — the standard large-graph CC
    loop: each round is one (edges ⋈ labels) shuffle + a min-aggregate,
    labels are persisted and materialized per round, and the loop stops
    when no label changed.  Rounds needed = graph diameter (near-dup
    graphs are shallow: pairs/triples, so 1-2 rounds).  At 100 TB each
    round is two hash shuffles keyed on doc id — no driver state beyond
    the converged flag; for deep graphs swap the per-round persist for a
    reliable checkpoint to truncate lineage.

    Both the input pair list and the component map are STAGED per
    (session, sf_dir): q120/q154 reuse the map, q132 the pairs — one
    LSH+CC execution per process instead of four."""
    key = _stage_key(spark, sf_dir)
    staged = _COMP_STAGE.get(key)
    if staged is not None:
        return staged
    STAGE_COMPUTES["components"] += 1
    edges = lsh_verified_pairs(spark, sf_dir).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )
    labels = _hash_min_cc(edges)
    out = labels.select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component_id")
    )
    return _COMP_STAGE.put(key, out)


def _q36_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED ({_q22_sql()}),
edges AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT a AS x, b AS y FROM edges
  UNION
  SELECT reach.x, edges.b FROM reach JOIN edges ON reach.y = edges.a
)
SELECT x AS doc_id, least(x, min(y)) AS component_id
FROM reach GROUP BY x
"""


# ---------------------------------------------------------------------------
# q37 — end-to-end training-mix selection
# ---------------------------------------------------------------------------

def q37_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed LLM-pipeline query: exact-dedup to canonical docs
    (min doc_id per content hash), quality gates (≥20 words, mean word
    length ≤ 12), a deterministic md5-hash 60% sample stratified by
    (source), and the per-(source, lang) doc/token budget of the
    selected mix.

    Every stage is one Catalyst pass: dedup is a hash-shuffle window-free
    group-by (min_by), the quality gates are narrow expressions, the
    sample is a pure hash predicate (reproducible across runs AND
    engines — no RNG), and the budget is a map-side-partial aggregate.
    Nothing here collects, broadcasts large state, or depends on
    partition count — the plan is identical at 100 TB."""
    docs = _load_docs(spark, sf_dir).select("doc_id", "text", "source", "lang")
    canon = (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.min_by(F.struct("doc_id", "text", "source", "lang"), "doc_id").alias("d"))
        .select("d.doc_id", "d.text", "d.source", "d.lang")
    )
    words = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda w: w != F.lit(""))
    n_words = F.size("words")
    # try_divide: zero-word doc → NULL avg_wlen → NULL filter → dropped,
    # matching the DuckDB oracle's divide-by-zero-is-NULL semantics
    avg_wlen = F.try_divide(
        F.aggregate(
            F.transform(F.col("words"), F.length), F.lit(0), lambda a, x: a + x
        ),
        n_words,
    )
    gated = (
        canon.withColumn("words", words)
        .filter((n_words >= 20) & (avg_wlen <= 12.0))
    )
    # deterministic stratified sample: md5 of (source, doc_id) — portable
    # to the DuckDB oracle bit-for-bit, stable under repartitioning
    bucket = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.col("source"), F.col("doc_id"))), 1, 8),
        16,
        10,
    ).cast("long") % 100
    picked = gated.filter(bucket < 60)
    return picked.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("words")).alias("n_tokens"),
    )


_Q37_SQL = """
WITH canon AS (
  SELECT min_by(doc_id, doc_id) AS doc_id,
         min_by(text, doc_id) AS text,
         min_by(source, doc_id) AS source,
         min_by(lang, doc_id) AS lang
  FROM documents GROUP BY md5(text)
),
gated AS (
  SELECT *, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w != '') AS words
  FROM canon
),
q AS (
  SELECT * FROM gated
  WHERE len(words) >= 20
    AND list_sum(list_transform(words, w -> length(w)))::DOUBLE / len(words) <= 12.0
),
picked AS (
  SELECT * FROM q
  WHERE CAST(('0x' || substr(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 60
)
SELECT source, lang, count(*) AS n_docs, CAST(sum(len(words)) AS BIGINT) AS n_tokens
FROM picked GROUP BY source, lang
"""


# ---------------------------------------------------------------------------
# q74 — passage-level (chunk) dedup: sub-document boilerplate detection
# ---------------------------------------------------------------------------

CHUNK_WORDS = 8


def q74_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level dedup: split each document into consecutive 8-word
    passages, hash each, and flag documents whose passages recur in other
    documents (the CCNet/RefinedWeb-style sub-document dedup that exact
    or near-dup misses: a unique page wrapping a boilerplate footer).

    Output: (doc_id, n_chunks, n_dup_chunks, dup_frac, keep) for every
    doc with ≥1 full chunk; keep = dup_frac ≤ 0.5.

    Scale shape: one narrow chunk explode (output-proportional: ~n_words/8
    rows per doc), one hash aggregate on chunk_key with map-side partials
    to find cross-doc chunks, one broadcast-able semi-join back.  Never
    all-pairs; the chunk-key shuffle is uniform (md5 keys).
    """
    docs = _load_docs(spark, sf_dir).select(
        "doc_id", words_of(F.col("text")).alias("words")
    )
    n_full = F.floor(F.size("words") / CHUNK_WORDS)
    # the when() keeps sequence() unevaluated on <8-word (or null-text)
    # rows: sequence(0, -1) would count DOWN and feed slice() negative
    # offsets (adversarial/null corpora; same lazy-If guard as
    # shingles_of)
    # unhex: the chunk key shuffles/broadcasts as 16 raw bytes, not a
    # 32-char hex string (internal key — never compared to the oracle)
    chunk_hashes = F.when(
        F.size("words") >= CHUNK_WORDS,
        F.transform(
            F.sequence(F.lit(0), n_full - 1),
            lambda i: F.unhex(
                F.md5(
                    F.concat_ws(
                        " ",
                        F.slice(
                            F.col("words"), i * CHUNK_WORDS + 1, CHUNK_WORDS
                        ),
                    )
                )
            ),
        ),
    ).otherwise(F.array().cast("array<binary>"))
    chunks = docs.select("doc_id", F.explode(chunk_hashes).alias("ck"))
    # "chunk seen in >= 2 distinct docs" as ONE min/max window over the
    # ck exchange (r13, guide §2.4 — same rewrite as
    # spans.duplicated_spans): the old groupBy(ck) + broadcast join-back
    # re-ran the chunk-hash scan for the probe side.  Not skew-safe: every
    # row of a hot ck (a boilerplate footer) lands in one task's full sort
    wck = Window.partitionBy("ck")
    marked = chunks.withColumn(
        "dup",
        (F.min("doc_id").over(wck) != F.max("doc_id").over(wck)).cast("int"),
    )
    dup_frac = F.round(
        F.col("n_dup_chunks") / F.col("n_chunks"), 4
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.coalesce(F.col("dup"), F.lit(0))).alias("n_dup_chunks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            dup_frac.alias("dup_frac"),
            (dup_frac <= 0.5).alias("keep"),
        )
    )


_Q74_SQL = f"""
WITH d AS (
  SELECT doc_id, {_DUCK_WORDS} AS words FROM documents
),
idx AS (
  SELECT doc_id, words,
         unnest(generate_series(0, len(words) // {CHUNK_WORDS} - 1)) AS i
  FROM d WHERE len(words) >= {CHUNK_WORDS}
),
chunks AS (
  SELECT doc_id,
         md5(array_to_string(
             list_slice(words, i * {CHUNK_WORDS} + 1, (i + 1) * {CHUNK_WORDS}),
             ' ')) AS ck
  FROM idx
),
dup_keys AS (
  SELECT ck FROM chunks GROUP BY ck HAVING count(DISTINCT doc_id) >= 2
),
per_doc AS (
  SELECT c.doc_id, count(*) AS n_chunks,
         sum(CASE WHEN dk.ck IS NOT NULL THEN 1 ELSE 0 END) AS n_dup_chunks
  FROM chunks c LEFT JOIN dup_keys dk ON c.ck = dk.ck
  GROUP BY c.doc_id
)
SELECT doc_id, n_chunks, CAST(n_dup_chunks AS BIGINT) AS n_dup_chunks,
       round(n_dup_chunks::DOUBLE / n_chunks, 4) AS dup_frac,
       round(n_dup_chunks::DOUBLE / n_chunks, 4) <= 0.5 AS keep
FROM per_doc
"""


# ---------------------------------------------------------------------------
# q107 — set-similarity join via prefix filtering (AllPairs / PPJoin family)
# ---------------------------------------------------------------------------

_PREFIX_T = 0.5  # Jaccard threshold


def q107_dedup_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard-similarity self-join (≥ 0.5 on word-3-gram shingles)
    with PREFIX-FILTERED candidate generation — the third candidate
    strategy in the dedup family, alongside q21's df-capped shingle join
    and q22's MinHash-LSH bands.

    Prefix filtering (Bayardo et al., "Scaling Up All Pairs Similarity
    Search", WWW'07 — public literature): order every document's shingles
    by a single global rarity order (ascending document frequency, shingle
    as tiebreak) and keep only the first ``|x| - ceil(t·|x|) + 1``
    shingles as the join key set.  Two documents with Jaccard ≥ t MUST
    share a prefix shingle under the same global order, so — unlike
    q22's LSH — the candidate set has ZERO false negatives and the
    verified output equals the brute-force all-pairs result (which is
    exactly what the DuckDB oracle computes).

    Scale shape: document frequency is one window exchange keyed on the
    shingle (map-side partial counts); prefix selection is one sort
    exchange keyed on doc_id; candidates come from an equi-join on the
    (rare-by-construction) prefix shingles, so the join fan-out is
    bounded by the rarest shingles' postings lists — never all-pairs.
    Verification reuses the persisted shingle sets (q22's pattern).
    """
    docs = _augmented(spark, sf_dir)
    with_sh = shingled(docs).filter(F.size("shingles") > 0)
    tok = with_sh.select(
        "doc_id", F.size("shingles").alias("n_sh"), F.explode("shingles").alias("sh")
    )
    # global rarity order: ascending df, shingle text as the tiebreak
    w_df = Window.partitionBy("sh")
    w_doc = Window.partitionBy("doc_id").orderBy("df", "sh")
    prefix_len = F.col("n_sh") - F.ceil(F.lit(_PREFIX_T) * F.col("n_sh")) + 1
    # both self-join sides read the prefix table; persist it so the two
    # window exchanges run once (at scale: a checkpoint table, like q22)
    from postfix_log_parser_spark.ext.staging import track_persist

    pref = track_persist(
        tok.withColumn("df", F.count(F.lit(1)).over(w_df))
        .withColumn("rnk", F.row_number().over(w_doc))
        .filter(F.col("rnk") <= prefix_len)
        .select("doc_id", "n_sh", "sh")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    x = pref.alias("x")
    y = pref.alias("y")
    # AllPairs length filter (also exact): J(x,y) ≥ t forces
    # t·|x| ≤ |y| ≤ |x|/t — prunes candidate pairs whose sizes alone
    # already rule the threshold out, before the expensive verify join
    cand = (
        x.join(
            y,
            (F.col("x.sh") == F.col("y.sh"))
            & (F.col("x.doc_id") < F.col("y.doc_id"))
            & (F.col("y.n_sh") * _PREFIX_T <= F.col("x.n_sh"))
            & (F.col("x.n_sh") * _PREFIX_T <= F.col("y.n_sh")),
        )
        .select(F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b"))
        .distinct()
    )
    # verify on the UNROUNDED ratio (round only for display): the prefix
    # guarantee covers true J ≥ t — a 0.4996 that display-rounds to 0.500
    # must be excluded on both sides or the oracle would keep a pair the
    # candidate stage never saw
    sh_a = with_sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_b = with_sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    n_inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jacc = n_inter / (F.size("sh_a") + F.size("sh_b") - n_inter)
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .filter(jacc >= _PREFIX_T)
        .select("id_a", "id_b", F.round(jacc, 3).alias("jaccard"))
    )


# brute-force all-pairs twin: prefix filtering is exact (no false
# negatives), so the verified Spark output must equal this in full
_Q107_SQL = f"""
WITH all_docs AS ({_AUG_SQL}),
tok AS (
  SELECT doc_id, {_DUCK_SHINGLES.replace('words', _DUCK_WORDS)} AS shingles
  FROM all_docs
),
with_sh AS (SELECT * FROM tok WHERE len(shingles) > 0)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
             (len(a.shingles) + len(b.shingles)
              - len(list_intersect(a.shingles, b.shingles))), 3) AS jaccard
FROM with_sh a JOIN with_sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE /
      (len(a.shingles) + len(b.shingles)
       - len(list_intersect(a.shingles, b.shingles))) >= {_PREFIX_T}
"""


# ---------------------------------------------------------------------------
# q120 — dedup survivor selection (cluster → keep the best member)
# ---------------------------------------------------------------------------

def q120_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pick ONE survivor per near-dup cluster: a pair list (q22) or even a
    component map (q36) still isn't a dedup decision — production
    pipelines keep the highest-quality member and drop the rest.

    Survivor rule: argmax over an integer quality proxy
    ``100 * n_words + n_stopwords`` (more content, then more natural
    prose), ties broken on the smallest doc_id.  All-integer scoring so
    Spark and DuckDB rank identically with no float drift.  (A real
    pipeline would extend the score; the shape — rank-within-component
    — is what matters.)

    Scale shape: the component map joins the corpus on doc_id (one hash
    exchange), the survivor is a ``row_number`` window PARTITIONED BY
    component — state bounded by cluster size, never a global sort.
    Output: one row per component with the survivor and the member/drop
    counts."""
    comps = q36_dedup_components(spark, sf_dir)
    docs = _augmented(spark, sf_dir).select("doc_id", "text")
    words = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda w: w != F.lit("")
    )
    stop_arr = F.array(*[F.lit(w) for w in _SURVIVOR_STOPWORDS])
    scored = docs.select(
        "doc_id",
        (
            F.lit(100) * F.size(words)
            + F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
        ).cast("long").alias("score"),
    )
    j = comps.join(scored, "doc_id")
    by_comp = Window.partitionBy("component_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        j.withColumn("rk", F.row_number().over(by_comp))
        .groupBy("component_id")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias("survivor_id"),
            F.max(F.when(F.col("rk") == 1, F.col("score"))).alias("survivor_score"),
            F.count(F.lit(1)).alias("n_members"),
            (F.count(F.lit(1)) - 1).alias("n_dropped"),
        )
    )


_SURVIVOR_STOPWORDS = (
    "the", "a", "of", "and", "to", "in", "is", "on", "for", "with",
)


def _q120_sql() -> str:
    stop = ", ".join(f"'{w}'" for w in _SURVIVOR_STOPWORDS)
    return f"""
WITH comps AS ({_q36_sql()}),
all_docs AS ({_AUG_SQL}),
scored AS (
  SELECT doc_id,
         CAST(100 * len(words)
              + len(list_filter(words, w -> list_contains([{stop}], w)))
           AS BIGINT) AS score
  FROM (SELECT doc_id, {_DUCK_WORDS} AS words FROM all_docs)
),
ranked AS (
  SELECT c.component_id, c.doc_id, s.score,
         row_number() OVER (PARTITION BY c.component_id
                            ORDER BY s.score DESC, c.doc_id) AS rk
  FROM comps c JOIN scored s USING (doc_id)
)
SELECT component_id,
       max(CASE WHEN rk = 1 THEN doc_id END) AS survivor_id,
       max(CASE WHEN rk = 1 THEN score END) AS survivor_score,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(count(*) - 1 AS BIGINT) AS n_dropped
FROM ranked GROUP BY component_id
"""


# ---------------------------------------------------------------------------
# q132 — LSH recall audit (measure the banding loss, don't guess it)
# ---------------------------------------------------------------------------

def q132_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much does q22's 4×2 banding actually miss?  q107 (AllPairs
    prefix filtering) is EXACT at the same Jaccard-0.5 threshold over the
    same shingle sets, so it is the ground truth; q22's verified pairs
    are a subset, and the difference IS the LSH false-negative rate.
    Production tunes (bands, rows) against this number instead of the
    analytic 1-(1-s^r)^b curve, which assumes independent hashes.

    Output: one row — n_exact, n_lsh, n_hits, n_missed, n_spurious
    (must be 0: verification makes LSH precision exact), recall.

    Scale shape: both pair lists are output-proportional pipelines; the
    audit join is keyed on the (id_a, id_b) pair — tiny.  Run it on a
    sampled corpus slice at 100 TB; the recall estimate concentrates
    fast because pairs, not docs, are the unit."""
    lsh = q22_dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b")
    exact = q107_dedup_prefix_join(spark, sf_dir).select("id_a", "id_b")
    j = exact.withColumn("in_exact", F.lit(1)).join(
        lsh.withColumn("in_lsh", F.lit(1)), ["id_a", "id_b"], "full_outer"
    )
    n_exact = F.sum(F.coalesce("in_exact", F.lit(0)))
    n_lsh = F.sum(F.coalesce("in_lsh", F.lit(0)))
    n_hits = F.sum(
        F.when(F.col("in_exact").isNotNull() & F.col("in_lsh").isNotNull(), 1)
        .otherwise(0)
    )
    return j.agg(
        n_exact.alias("n_exact"),
        n_lsh.alias("n_lsh"),
        n_hits.alias("n_hits"),
        (n_exact - n_hits).alias("n_missed"),
        (n_lsh - n_hits).alias("n_spurious"),
        F.round(F.try_divide(n_hits, F.nullif(n_exact, F.lit(0))), 4).alias(
            "recall"
        ),
    )


def _q132_sql() -> str:
    return f"""
WITH lsh AS ({_q22_sql()}),
exact AS ({{Q107}}),
j AS (
  SELECT coalesce(e.flag, 0) AS in_exact, coalesce(l.flag, 0) AS in_lsh
  FROM (SELECT id_a, id_b, 1 AS flag FROM exact) e
  FULL OUTER JOIN (SELECT id_a, id_b, 1 AS flag FROM lsh) l
    USING (id_a, id_b)
)
SELECT CAST(sum(in_exact) AS BIGINT) AS n_exact,
       CAST(sum(in_lsh) AS BIGINT) AS n_lsh,
       CAST(sum(CASE WHEN in_exact = 1 AND in_lsh = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       CAST(sum(in_exact) - sum(CASE WHEN in_exact = 1 AND in_lsh = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_missed,
       CAST(sum(in_lsh) - sum(CASE WHEN in_exact = 1 AND in_lsh = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_spurious,
       round(sum(CASE WHEN in_exact = 1 AND in_lsh = 1 THEN 1 ELSE 0 END)::DOUBLE
             / NULLIF(sum(in_exact), 0), 4) AS recall
FROM j
""".replace("{Q107}", _Q107_SQL)


# ---------------------------------------------------------------------------
# q134 — asymmetric containment dedup (doc-inside-doc)
# ---------------------------------------------------------------------------

CONTAIN_T = 0.9  # shingle containment threshold


def _contain_augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs plus deterministic EXCERPT copies: every 20th doc with >= 6
    words contributes its first 2/3 words at doc_id + 400000.  An excerpt
    is a prefix, so its distinct shingles are a strict subset of the
    parent's — containment 1.0 by construction while Jaccard stays well
    under q21's threshold (the case symmetric dedup misses)."""
    docs = _load_docs(spark, sf_dir).select("doc_id", "text")
    words = words_of(F.col("text"))
    n = F.size(words)
    k = F.floor((n * 2) / F.lit(3)).cast("int")
    excerpt = (
        docs.filter(F.col("doc_id") % 20 == 0)
        .select(
            (F.col("doc_id") + 400000).alias("doc_id"),
            F.array_join(F.slice(words, F.lit(1), k), " ").alias("text"),
            n.alias("n_words"),
        )
        .filter(F.col("n_words") >= 6)
        .drop("n_words")
    )
    # same cheap parallelism shuffle as _augmented (single-file scan)
    return docs.unionAll(excerpt).repartition(
        spark.sparkContext.defaultParallelism
    )


def q134_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs whose shingle CONTAINMENT |A∩B| / min(|A|,|B|) >= 0.9.

    Jaccard (q21) is symmetric and misses excerpt/quote/boilerplate
    inclusion — a 100-word snippet inside a 10k-word page has Jaccard
    ~0.01 but containment ~1.0; training-data pipelines dedup on
    containment to drop quoted near-copies.  Same scale shape as q21:
    shingle equi-join (never all-pairs) with the 5% document-frequency
    cap on hot shingles; sizes are counted over the SAME capped shingle
    set, so a fully-contained doc scores exactly 1.0 even when hot
    shingles were dropped from both sides.  ``contained_id`` names the
    smaller (contained) side, ties to the lower doc_id."""
    docs = _contain_augmented(spark, sf_dir)
    # NOTE: shingles deliberately shuffle as TEXT, not unhex(md5(...)) —
    # measured 1.9 MB vs 2.4 MB at sf0.01: short natural-language
    # shingles lz4-compress far below a 16-byte incompressible hash.
    # (The opposite held for q119's 32-char hex md5 keys.)
    sh = shingled(docs).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    n_docs = docs.count()
    df_cap = int(n_docs * 0.05)
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > df_cap)
        .select("shingle")
    )
    cold = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = cold.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = cold.alias("a")
    b = cold.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    contain = F.round(
        F.col("n_inter") / F.least(F.col("n_a"), F.col("n_b")), 3
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("containment", contain)
        .filter(F.col("containment") >= CONTAIN_T)
        .withColumn(
            "contained_id",
            F.when(F.col("n_a") <= F.col("n_b"), F.col("id_a")).otherwise(
                F.col("id_b")
            ),
        )
        .select("id_a", "id_b", "contained_id", "containment")
    )


_CONTAIN_AUG_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 400000 AS doc_id,
         array_to_string(
           list_slice(words, 1, CAST((len(words) * 2) // 3 AS BIGINT)), ' '
         ) AS text
  FROM (SELECT doc_id, {_DUCK_WORDS} AS words
        FROM documents WHERE doc_id % 20 = 0)
  WHERE len(words) >= 6
"""

_Q134_SQL = f"""
WITH all_docs AS ({_CONTAIN_AUG_SQL}),
tok AS (
  SELECT doc_id, {_DUCK_SHINGLES.replace('words', _DUCK_WORDS)} AS shingles
  FROM all_docs
),
sh AS (SELECT doc_id, unnest(shingles) AS shingle FROM tok),
hot AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING count(*) > (SELECT CAST(floor(count(*) * 0.05) AS BIGINT) FROM all_docs)
),
cold AS (SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM cold GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM cold a JOIN cold b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CASE WHEN sa.n_sh <= sb.n_sh THEN id_a ELSE id_b END AS contained_id,
       round(n_inter::DOUBLE / least(sa.n_sh, sb.n_sh), 3) AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(n_inter::DOUBLE / least(sa.n_sh, sb.n_sh), 3) >= {CONTAIN_T}
"""


# ---------------------------------------------------------------------------
# q172 — INCREMENTAL connected components: merge a new ingest batch into
# the staged q36 component map without re-running CC on the corpus
# ---------------------------------------------------------------------------

WAVE2_OFFSET = 700000
# the merged map is the daily-ingest artifact: computed once per
# (session, corpus) like q36's base map — production writes it back to
# the component checkpoint table
_INC_STAGE = StageCache(inputs=("documents.parquet",))
# the post-takedown map (q174) — the third lifecycle stage: base CC →
# +ingest wave (q172) → −deletions (q174)
_DEC_STAGE = StageCache(inputs=("documents.parquet",))


def lsh_band_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band_idx, band_key) over the existing corpus, staged.

    This is the artifact that makes ingest INCREMENTAL: the existing
    corpus's signatures are computed exactly once (at corpus build),
    and each ingest wave pays only its own signatures plus the band
    equi-join against this index."""
    key = _stage_key(spark, sf_dir)
    staged = _BAND_STAGE.get(key)
    if staged is not None:
        return staged
    docs = _augmented(spark, sf_dir)
    with_sh = shingled(docs).filter(F.size("shingles") > 0)
    bands = _minhash_bands(with_sh).localCheckpoint(eager=True)
    return _BAND_STAGE.put(key, bands)
_WAVE2_AUG_SQL = (
    _AUG_SQL
    + f"""
  UNION ALL
  SELECT doc_id + {WAVE2_OFFSET} AS doc_id,
         text || ' second wave ingest pad' AS text, source
  FROM documents WHERE doc_id % 40 = 15
"""
)


def _wave2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second ingest wave: every 40th-offset-15 doc returns as a
    near-copy (suffix pad keeps 3-shingle Jaccard ≥ 0.5, the q22
    threshold).  doc_id 175-style originals satisfy BOTH %25==0 and
    %40==15, so some wave-2 docs land on existing multi-member
    components — the component-merge path is exercised, not just
    attach-to-singleton."""
    docs = _load_docs(spark, sf_dir).select("doc_id", "text", "source")
    return docs.filter(F.col("doc_id") % 40 == 15).select(
        (F.col("doc_id") + WAVE2_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" second wave ingest pad")).alias("text"),
        "source",
    )


def wave2_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs contributed by the ingest wave — the
    wave-existing pairs (probed against the STAGED corpus band index)
    plus within-wave pairs (the wave's band self-join rides the same
    union).  Wave-proportional throughout:

    * the wave pays for ITS OWN signatures only; the existing corpus's
      band keys come from the staged index (at 100 TB: the bucketed
      band-key table — q173's state layout is the operational form);
    * exact-Jaccard verify loads shingle sets only for the TOUCHED
      EXISTING endpoints (candidate-proportional, never the corpus).
      Existing = "not in the wave" via an anti-join against the (tiny)
      wave id set, NOT an id-range test — doc-id ranges are a property
      of this synthetic wave, not of ingest in general (a corpus whose
      ids grew past the wave offset would silently misclassify
      endpoints and drop existing-side shingles).

    STAGED per (session, corpus): q172 merges these pairs; q174's
    takedown pass re-reads them as part of the maintained pair list."""
    key = _stage_key(spark, sf_dir)
    staged = _INC_PAIRS_STAGE.get(key)
    if staged is not None:
        return staged
    idx_bands = lsh_band_index(spark, sf_dir)
    wave_arrs = (
        _wave2(spark, sf_dir)
        .select("doc_id", shingles3_udf(F.col("text")).alias("shingles"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    wave_sh = wave_arrs.filter(F.size("shingles") > 0)
    wave_bands = _minhash_bands(wave_sh)
    all_b = idx_bands.unionAll(wave_bands).alias("y")  # wave-wave pairs too
    cand = (
        wave_bands.alias("x").join(
            all_b,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") != F.col("y.doc_id")),
        )
        .select(
            F.least("x.doc_id", "y.doc_id").alias("id_a"),
            F.greatest("x.doc_id", "y.doc_id").alias("id_b"),
        )
        .distinct()
    )
    wave_ids = wave_sh.select("doc_id")
    endpoints = (
        cand.select(F.col("id_a").alias("doc_id"))
        .union(cand.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    touched = endpoints.join(F.broadcast(wave_ids), "doc_id", "left_anti")
    ex_sh = (
        _augmented(spark, sf_dir)
        .join(touched, "doc_id")
        .select("doc_id", shingles3_udf(F.col("text")).alias("shingles"))
        .filter(F.size("shingles") > 0)
    )
    with_sh = ex_sh.unionAll(wave_sh.select("doc_id", "shingles"))
    pairs = (
        _jaccard_verified(cand, with_sh, 0.5)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    wave_arrs.unpersist()
    return _INC_PAIRS_STAGE.put(key, pairs)


def q172_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CC — the operational daily mode for dedup clustering,
    completing the incremental family (q69 dedup, q157 ANN): a new
    ingest wave is folded into the STAGED q36 component map by running
    label propagation only on the DELTA graph, never on the corpus.

    Steps, each new-batch-proportional:

    1. New near-dup pairs: the wave's band keys (computed for the wave
       ONLY) equi-join the STAGED corpus band index (q69's asymmetric
       shape, with the index actually persisted); exact Jaccard ≥ 0.5
       verify touches only candidate endpoints.  Base-base pairs are
       NOT recomputed — signatures are per-doc, so the old pair set is
       unchanged.
    2. Delta graph: each pair endpoint is mapped to its base component
       id (staged q36 map; a previously-unclustered doc is its own
       component), new docs stay themselves.  Nodes = touched
       components + new docs — output-proportional.
    3. Hash-min CC on the delta graph (the q36 loop, but edges number
       ~|wave|, not ~|corpus|).  A new doc adjacent to two base
       components MERGES them — the delta label is the min component
       id, and a relabel map (old comp → merged comp) broadcasts back
       over the base map.
    4. Output = relabeled base map ∪ touched singletons ∪ new docs.

    The DuckDB oracle recomputes CC FROM SCRATCH over the extended
    corpus (recursive CTE over base+wave pairs), so the typed contract
    proves incremental == full rebuild on every corpus it runs on.

    At 100 TB: the base map and pair list live as checkpoint tables
    (the staging twin), the wave's band join reads only matching index
    buckets, and the delta CC loop touches kilobytes.  A full re-CC
    would re-shuffle the whole corpus's edges; this never does."""
    key = _stage_key(spark, sf_dir)
    staged = _INC_STAGE.get(key)
    if staged is not None:
        return staged
    STAGE_COMPUTES["incremental_components"] += 1
    base_map = q36_dedup_components(spark, sf_dir)  # staged, comp = min id
    new_pairs = wave2_pairs(spark, sf_dir)
    merged = merge_pairs_into_components(base_map, new_pairs)
    return _INC_STAGE.put(key, merged)


def merge_delta(
    base_map: DataFrame, new_pairs: DataFrame
) -> "tuple[DataFrame, DataFrame]":
    """The DELTA form of the merge core: fold a batch of verified
    near-dup pairs into an existing (doc_id, component_id) map and
    return exactly what changed —

    * ``relabel`` — ``(old_comp, new_comp)`` for base components merged
      into a lower id (broadcast-applied over the base map);
    * ``extra``   — ``(doc_id, component_id)`` rows to ADD (new docs and
      touched previously-unclustered singletons).

    Both frames are wave-proportional and eagerly materialized (the
    delta CC labels are checkpointed).  q172 composes them into the full
    merged map (``merge_pairs_into_components``); q173 uses them
    directly to rewrite ONLY the component-map partitions that changed.
    ``base_map`` may be empty (first batch: the delta graph IS the
    batch's pair graph)."""
    # endpoint → delta node: docs with a component collapse to it; new
    # or previously-unclustered docs stay themselves
    bm_a = base_map.select(
        F.col("doc_id").alias("id_a"), F.col("component_id").alias("comp_a")
    )
    bm_b = base_map.select(
        F.col("doc_id").alias("id_b"), F.col("component_id").alias("comp_b")
    )
    delta_edges = (
        new_pairs.join(bm_a, "id_a", "left")
        .join(bm_b, "id_b", "left")
        .select(
            F.coalesce("comp_a", "id_a").alias("a"),
            F.coalesce("comp_b", "id_b").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
    )
    # hash-min CC on the delta graph (tiny: ~|batch| edges)
    delta = _hash_min_cc(delta_edges)

    # relabel map: base components whose id changed (merges); delta
    # nodes that are plain doc ids match nothing in the base map
    relabel = delta.filter(F.col("id") != F.col("comp")).select(
        F.col("id").alias("old_comp"), F.col("comp").alias("new_comp")
    )
    # delta nodes that are NOT base component ids are plain doc ids —
    # new docs and touched previously-unclustered singletons — and enter
    # the map with their delta label
    extra = delta.join(
        base_map.select(F.col("component_id").alias("id")).distinct(),
        "id", "left_anti",
    ).select(F.col("id").alias("doc_id"), F.col("comp").alias("component_id"))
    return relabel, extra


def merge_pairs_into_components(
    base_map: DataFrame, new_pairs: DataFrame
) -> DataFrame:
    """Full-map form of the merge core (q172): apply ``merge_delta``'s
    relabel over the whole base map (broadcast join — the relabel side
    is wave-proportional) and union the added rows."""
    relabel, extra = merge_delta(base_map, new_pairs)
    relabeled_base = (
        base_map.join(
            F.broadcast(relabel),
            base_map["component_id"] == relabel["old_comp"], "left",
        )
        .select(
            "doc_id",
            F.coalesce("new_comp", "component_id").alias("component_id"),
        )
    )
    return relabeled_base.unionAll(extra)


def _q172_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED ({_q22_sql(aug_sql=_WAVE2_AUG_SQL)}),
edges AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT a AS x, b AS y FROM edges
  UNION
  SELECT reach.x, edges.b FROM reach JOIN edges ON reach.y = edges.a
)
SELECT x AS doc_id, least(x, min(y)) AS component_id
FROM reach GROUP BY x
"""


# ---------------------------------------------------------------------------
# q174 — DECREMENTAL connected components: remove a takedown batch from
# the maintained component map without re-running CC on the corpus
# ---------------------------------------------------------------------------


def _deleted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The takedown batch: every original doc with doc_id % 4 == 3.
    Over the q172-merged corpus this hits pair components (whole
    component dissolves: the survivor has no residual edge and drops
    out), triple components (survivors relabel to the min SURVIVING id
    through residual edges), and a mass of unclustered docs (no-ops) —
    all three deletion paths."""
    return _load_docs(spark, sf_dir).select("doc_id").filter(
        F.col("doc_id") % 4 == 3
    )


def delete_docs_from_components(
    base_map: DataFrame, pairs: DataFrame, deleted: DataFrame
) -> DataFrame:
    """Remove a batch of docs from a maintained (doc_id, component_id)
    map WITHOUT rebuilding CC over the corpus — the takedown/tombstone
    primitive that completes the maintained-dedup lifecycle (q36 build →
    q172 ingest merge → q173 streaming maintenance → THIS).

    Deletion can SPLIT a component (the removed doc may be the only
    bridge), so unlike the merge core it cannot be a relabel map alone —
    but it never needs the corpus either.  Every step is
    affected-component-proportional:

    1. ``affected`` = components containing a deleted doc (map ⋈
       deleted batch — batch-proportional output).
    2. Rows of unaffected components pass through untouched (broadcast
       anti-join on component_id).
    3. The residual subgraph = maintained pairs whose endpoints lie in
       an affected component (a verified pair's endpoints share a
       component, so classifying id_a suffices) minus pairs touching a
       deleted doc.  Hash-min CC on it relabels survivors to the min
       SURVIVING reachable id.
    4. Result = untouched rows ∪ residual CC labels.  A survivor with
       no residual edge drops out of the map entirely (the map holds
       only clustered docs), exactly as a from-scratch rebuild would.

    The DuckDB oracle rebuilds CC from scratch over the surviving pair
    graph, so the typed contract proves incremental deletion == full
    rebuild on every corpus it runs on.  At 100 TB the pair list is the
    maintained checkpoint table (q173's state), ``affected`` is a
    broadcast, and the residual CC loop touches kilobytes."""
    aff = base_map.join(deleted, "doc_id").select("component_id").distinct()
    # the USING-join moves component_id to the first column — reselect
    # the canonical order before the union below
    untouched = base_map.join(
        F.broadcast(aff), "component_id", "left_anti"
    ).select("doc_id", "component_id")
    in_aff = (
        pairs.join(
            base_map.select(
                F.col("doc_id").alias("id_a"), "component_id"
            ),
            "id_a",
        )
        .join(F.broadcast(aff), "component_id")
        .select("id_a", "id_b")
    )
    resid = in_aff.join(
        deleted.select(F.col("doc_id").alias("id_a")), "id_a", "left_anti"
    ).join(
        deleted.select(F.col("doc_id").alias("id_b")), "id_b", "left_anti"
    )
    labels = _hash_min_cc(
        resid.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    )
    recomputed = labels.select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component_id")
    )
    return untouched.unionByName(recomputed)


def q174_components_with_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The full maintained-map lifecycle: base CC (q36) + ingest wave
    (q172's merge) − takedown batch, all incremental.  Output is the
    post-deletion component map; the oracle recomputes CC from scratch
    over the surviving pairs of the merged corpus."""
    key = _stage_key(spark, sf_dir)
    staged = _DEC_STAGE.get(key)
    if staged is not None:
        return staged
    base = q172_incremental_components(spark, sf_dir)
    pairs = lsh_verified_pairs(spark, sf_dir).select("id_a", "id_b").unionAll(
        wave2_pairs(spark, sf_dir).select("id_a", "id_b")
    )
    out = delete_docs_from_components(
        base, pairs, _deleted_docs(spark, sf_dir)
    )
    return _DEC_STAGE.put(key, out)


def _q174_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED ({_q22_sql(aug_sql=_WAVE2_AUG_SQL)}),
del AS MATERIALIZED (SELECT doc_id FROM documents WHERE doc_id % 4 = 3),
sp AS MATERIALIZED (
  SELECT id_a, id_b FROM pairs
  WHERE id_a NOT IN (SELECT doc_id FROM del)
    AND id_b NOT IN (SELECT doc_id FROM del)
),
edges AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM sp
  UNION
  SELECT id_b, id_a FROM sp
),
reach AS (
  SELECT a AS x, b AS y FROM edges
  UNION
  SELECT reach.x, edges.b FROM reach JOIN edges ON reach.y = edges.a
)
SELECT x AS doc_id, least(x, min(y)) AS component_id
FROM reach GROUP BY x
"""


DEDUP_QUERIES = {
    "q20_dedup_exact": q20_dedup_exact,
    "q21_dedup_ngram_jaccard": q21_dedup_ngram_jaccard,
    "q22_dedup_minhash_lsh": q22_dedup_minhash_lsh,
    "q69_incremental_dedup": q69_incremental_dedup,
    "q23_dedup_simhash": q23_dedup_simhash,
    "q24_embed_neardup": q24_embed_neardup,
    "q36_dedup_components": q36_dedup_components,
    "q37_training_mix": q37_training_mix,
    "q74_passage_dedup": q74_passage_dedup,
    "q107_dedup_prefix_join": q107_dedup_prefix_join,
    "q120_cluster_survivors": q120_cluster_survivors,
    "q132_lsh_recall": q132_lsh_recall,
    "q134_containment_dedup": q134_containment_dedup,
    "q164_simhash_banded_neardup": q164_simhash_banded_neardup,
    "q172_incremental_components": q172_incremental_components,
    "q174_components_with_deletes": q174_components_with_deletes,
}

DEDUP_ORACLES = {
    "q20_dedup_exact": _Q20_SQL,
    "q21_dedup_ngram_jaccard": _Q21_SQL,
    "q22_dedup_minhash_lsh": _q22_sql(),
    "q69_incremental_dedup": _q69_sql(),
    "q23_dedup_simhash": _q23_sql(),
    "q24_embed_neardup": _Q24_SQL,
    "q36_dedup_components": _q36_sql(),
    "q37_training_mix": _Q37_SQL,
    "q74_passage_dedup": _Q74_SQL,
    "q107_dedup_prefix_join": _Q107_SQL,
    "q120_cluster_survivors": _q120_sql(),
    "q132_lsh_recall": _q132_sql(),
    "q134_containment_dedup": _Q134_SQL,
    "q164_simhash_banded_neardup": _q164_sql(),
    "q172_incremental_components": _q172_sql(),
    "q174_components_with_deletes": _q174_sql(),
}
