"""Batch text log sources (S1).  The streaming twin reads
``spark.readStream.text`` and attaches its order key in
``streaming.sessionize_stream.prepare_stream``.

The reference slurps all of stdin with ``readlines()``
(``lognormalizer/parse.py:515-516``); here the input is a partitioned
Spark text scan.  Line order is semantic (quirks Q1-Q3: last-wins folds,
first-timestamp, raw_log order), so every source attaches an explicit
``seq`` — an order key, strictly increasing in (file name, in-file
position) order, with gaps: not a dense row number.  The ordering must
hold for multi-file and multi-split inputs, where Spark packs splits by
size (descending), not scan order.

``read_text`` builds ``seq`` from planning-time data only.  No Spark job
runs before the caller's own action, and the data is never shuffled or
sorted:

1. the planned scan's splits — Spark's own ``FilePartition`` list,
   computed from the file listing when the plan is built — are numbered
   in ``(file name, start)`` order: the split ordinal;
2. each row looks its ordinal up by ``(input_file_name(),
   input_file_block_start())``, in a literal map (or, past
   ``max_literal_splits``, a broadcast join of the split list);
3. ``seq = ordinal << 33 | row``, where ``row`` is the low 33 bits of
   ``monotonically_increasing_id()``: the row's position in its scan
   partition.

Why this preserves order although one partition may hold several
splits: a split is read whole, by one task, front to back, so the rows of
one split share a partition and their ``row`` values increase in file
order; rows of different splits compare by ordinal first.  The bit budget
is checked, not assumed: more than 2**30 splits raise at planning, and a
partition past 2**33 rows raises ``SEQ_ROW_OVERFLOW`` at execution.

A split the listing never planned (the input changed, or split-size
confs changed, between ``read_text`` and the action) raises
``SEQ_SPLIT_DRIFT`` instead of producing a NULL or colliding ``seq``.

``planned_line_bound`` reads, from any DataFrame's planned leaves, an
upper bound on how many of its source lines can be at least ``n`` bytes
long (None when the plan does not tell: compressed files, foreign
sources).  Sessionize uses it to prove, before anything runs, that the
sieve dim is small enough to broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from postfix_log_parser_spark.functions.columns import sql_str

# monotonically_increasing_id() = partition id << 33 | row in partition
_ROW_BITS = 33
_ORD_LIMIT = 1 << (63 - _ROW_BITS)


def read_text(
    spark: SparkSession,
    path: str | list[str],
    max_literal_splits: int = 4096,
) -> DataFrame:
    """Batch text source: one ``value`` string column plus ``seq``, an
    order key following (file name, in-file position) order.

    Up to ``max_literal_splits`` splits the ordinals ride a literal map
    (the default 4096 keeps the ``CreateMap`` tree well under the 64KB
    whole-stage-codegen method limit); past it, a broadcast join of the
    split list.  Both give the same ``seq``.
    """
    df = spark.read.text(path)
    splits = sorted(_planned_files(df))
    if len(splits) >= _ORD_LIMIT:
        raise ValueError(
            f"SEQ_BIT_BUDGET: {len(splits)} splits exceed the 2**30 split "
            "ordinals seq can encode"
        )
    if not splits:
        return df.withColumn("seq", F.lit(None).cast("long")).limit(0)
    tagged = df.selectExpr(
        "value",
        "input_file_name() AS _file",
        "input_file_block_start() AS _block",
        "monotonically_increasing_id() AS _mono",
    )
    ordinals = {f"{f}@{start}": i for i, (f, start) in enumerate(splits)}
    if len(ordinals) > max_literal_splits:
        return _attach_seq_join(tagged, ordinals)
    return _attach_seq_literal(tagged, ordinals)


def _plan_leaves(df: DataFrame) -> list:
    """The leaves of ``df``'s physical plan.  Planning only, no job."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    return [leaves.apply(i) for i in range(leaves.size())]


def _file_splits(leaf) -> list:
    """The planned splits (``PartitionedFile``) a file-scan leaf reads."""
    return [pf for part in leaf.inputRDD().partitions() for pf in part.files()]


def _planned_files(df: DataFrame) -> list[tuple[str, int]]:
    """(file, start) of every split the file scans of ``df`` will read."""
    return [
        (pf.filePath().toString(), int(pf.start()))
        for leaf in _plan_leaves(df)
        if leaf.getClass().getSimpleName() == "FileSourceScanExec"
        for pf in _file_splits(leaf)
    ]


def planned_line_bound(df: DataFrame, min_line_bytes: int) -> int | None:
    """Upper bound, known at planning, on how many source lines of ``df``
    hold at least ``min_line_bytes`` bytes (terminator included).  Every
    leaf of the physical plan must tell: an uncompressed file scan counts
    its bytes, one more per file (whose last line may lack a terminator),
    a local relation (``lines_df``) its rows.  None for anything else: a
    compressed file, an RDD, a foreign source.  A leaf read twice counts
    twice, so filters and unions of a source keep a valid bound.  No job
    runs."""
    from py4j.java_gateway import JavaClass

    n_rows, files = 0, {}
    for i, leaf in enumerate(_plan_leaves(df)):
        kind = leaf.getClass().getSimpleName()
        if kind == "LocalTableScanExec":
            n_rows += leaf.rows().size()
        elif kind == "FileSourceScanExec":
            for pf in _file_splits(leaf):
                files[(i, pf.filePath().toString())] = pf
        else:
            return None
    if files:
        sc = df.sparkSession.sparkContext
        # a fully qualified JavaClass: resolving ``sc._jvm.org.apache...``
        # walks the package path with failing class lookups over the classpath
        codecs = JavaClass(
            "org.apache.hadoop.io.compress.CompressionCodecFactory",
            sc._gateway._gateway_client,
        )(sc._jsc.hadoopConfiguration())
        if any(codecs.getCodec(pf.toPath()) is not None for pf in files.values()):
            return None
    n_bytes = sum(int(pf.fileSize()) + 1 for pf in files.values())
    return n_rows + n_bytes // min_line_bytes


_SPLIT_KEY = "concat_ws('@', _file, _block)"


def _seq(ordinal: str) -> Column:
    """``ordinal << 33 | row`` (SQL text in, Column out); raises past the
    per-partition row budget, where a partition's ``_mono`` would reach the
    next partition's id range."""
    return F.expr(
        f"shiftleft({ordinal}, {_ROW_BITS}) | CASE"
        f" WHEN _mono >= shiftleft(spark_partition_id() + 1L, {_ROW_BITS})"
        " THEN CAST(raise_error('SEQ_ROW_OVERFLOW: a scan partition holds"
        " more than 2**33 lines') AS BIGINT)"
        f" ELSE _mono & {(1 << _ROW_BITS) - 1}L END"
    )


def _drift(key: str) -> str:
    return (
        "CAST(raise_error(concat('SEQ_SPLIT_DRIFT: unknown split ', "
        f"{key}, ' - input files changed between read_text() and this "
        "action; re-create the DataFrame')) AS BIGINT)"
    )


def _attach_seq_literal(tagged: DataFrame, ordinals: dict[str, int]) -> DataFrame:
    """Look split ordinals up in a literal map; fail fast (not NULL-seq)
    on a split key the planned listing does not hold."""
    entries = ", ".join(f"{sql_str(k)}, {v}L" for k, v in ordinals.items())
    ordinal = f"coalesce(map({entries})[{_SPLIT_KEY}], {_drift(_SPLIT_KEY)})"
    return tagged.select("value", _seq(ordinal).alias("seq"))


def _attach_seq_join(tagged: DataFrame, ordinals: dict[str, int]) -> DataFrame:
    """Distributed ordinal lookup: broadcast-join the planned split list
    (driver-local rows, no job) on the split key."""
    splits = tagged.sparkSession.createDataFrame(
        list(ordinals.items()), "_key string, _ord long"
    )
    return (
        tagged.withColumn("_key", F.expr(_SPLIT_KEY))
        .join(F.broadcast(splits), "_key", "left")
        .select("value", _seq(f"coalesce(_ord, {_drift('_key')})").alias("seq"))
    )


def lines_df(spark: SparkSession, lines: list[str]) -> DataFrame:
    """Library/test source: in-memory lines with their order, as a local
    relation (its row count bounds the plan, see ``planned_line_bound``)."""
    import pyarrow as pa

    try:
        values = pa.array(lines, pa.string())
    except UnicodeEncodeError:  # lone surrogates are not valid UTF-8
        return spark.createDataFrame(list(enumerate(lines)), "seq long, value string")
    seqs = pa.array(range(len(lines)), pa.int64())
    return spark.createDataFrame(pa.table({"seq": seqs, "value": values}))
