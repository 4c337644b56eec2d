"""read_text determinism: seq must be an order key following (file name,
in-file position) order regardless of Spark's size-descending split
packing.  It is strictly increasing in that order but not dense."""

from pyspark.sql import functions as F

from postfix_log_parser_spark.sources.text import read_text


def test_multifile_seq_order(spark, tmp_path):
    # deliberately unequal sizes so split packing order != name order
    (tmp_path / "a.log").write_text("\n".join(f"a{i}" for i in range(5)))
    (tmp_path / "b.log").write_text("\n".join(f"b{i}" for i in range(500)))
    (tmp_path / "c.log").write_text("c0")
    df = read_text(spark, str(tmp_path))
    rows = df.orderBy("seq").collect()
    values = [r["value"] for r in rows]
    assert values[:5] == [f"a{i}" for i in range(5)]
    assert values[5:505] == [f"b{i}" for i in range(500)]
    assert values[505:] == ["c0"]
    seqs = [r["seq"] for r in rows]
    assert all(a < b for a, b in zip(seqs, seqs[1:]))  # an order key, no ties


def test_read_text_empty_dir(spark, tmp_path):
    (tmp_path / "empty.log").write_text("")
    df = read_text(spark, str(tmp_path))
    assert df.count() == 0
    assert df.columns == ["value", "seq"]


def test_plan_has_no_global_sort(spark, tmp_path):
    (tmp_path / "a.log").write_text("x\ny")
    df = read_text(spark, str(tmp_path))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # per-split offsets are literals joined in — no Exchange, no global Sort
    assert "Exchange" not in plan
    assert "Sort " not in plan


def test_join_fallback_matches_literal_path(spark, tmp_path):
    """max_literal_splits=0 forces the distributed (window + broadcast
    join) offset attach; it must produce the identical global seq."""
    (tmp_path / "a.log").write_text("\n".join(f"a{i}" for i in range(5)))
    (tmp_path / "b.log").write_text("\n".join(f"b{i}" for i in range(500)))
    (tmp_path / "c.log").write_text("c0")
    lit = read_text(spark, str(tmp_path)).orderBy("seq").collect()
    join = read_text(spark, str(tmp_path), max_literal_splits=0).orderBy(
        "seq"
    ).collect()
    assert [(r["seq"], r["value"]) for r in join] == [
        (r["seq"], r["value"]) for r in lit
    ]


def test_literal_path_fails_fast_on_split_drift(spark):
    """A split key the eager metadata pass never saw (input listing
    changed between read_text() and the action) raises SEQ_SPLIT_DRIFT
    instead of silently producing NULL seq."""
    import pytest

    from postfix_log_parser_spark.sources.text import _attach_seq_literal

    tagged = spark.createDataFrame(
        [("x", "f1", 0, 0), ("y", "f2", 0, 1)],
        "value string, _file string, _block long, _mono long",
    )
    # the map only knows f1's split -> f2 rows must raise, not NULL
    df = _attach_seq_literal(tagged, {"f1@0": 0})
    with pytest.raises(Exception, match="SEQ_SPLIT_DRIFT"):
        df.collect()


def test_gzip_files_keep_seq_order(spark, tmp_path):
    """Compressed logs (rotated .gz + a plain file) read transparently and
    keep the (file name, in-file position) global seq — gz files are
    single-split, so each contributes one contiguous seq run."""
    import gzip

    a = tmp_path / "mail.log.1.gz"
    with gzip.open(a, "wt") as fh:
        fh.write("\n".join(f"a{i}" for i in range(100)))
    b = tmp_path / "mail.log.2"
    b.write_text("\n".join(f"b{i}" for i in range(50)))

    from postfix_log_parser_spark.sources.text import read_text

    rows = read_text(spark, str(tmp_path)).orderBy("seq").collect()
    assert len(rows) == 150
    values = [r["value"] for r in rows]
    # within each file, original order; files in listing order
    assert values[:100] == [f"a{i}" for i in range(100)]
    assert values[100:] == [f"b{i}" for i in range(50)]
