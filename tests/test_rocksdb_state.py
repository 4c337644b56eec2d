"""Streaming family on the RocksDB state-store provider (r9).

At 100 TB the state that outlives a micro-batch cannot live on the JVM
heap: the default HDFSBackedStateStoreProvider keeps every store's
working map in executor memory, while RocksDBStateStoreProvider spills
to local disk with bounded block-cache memory — the production
configuration for large stateful streams.  These tests pin that the
whole stateful family (the applyInPandasWithState sessionizer fold,
watermarked dedup, session windows, stream-stream interval joins,
cross-batch curation dedup) produces IDENTICAL results on RocksDB, and
that a restart recovers state from a RocksDB checkpoint.

The provider conf is read at QUERY START, so setting it on the shared
session between tests is safe and scoped by the fixture.
"""

import os

import pytest

from tests.test_quirks import _line
from tests.test_streaming import run_to_parquet

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)
_KEY = "spark.sql.streaming.stateStore.providerClass"
SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def rocksdb(spark):
    try:
        prev = spark.conf.get(_KEY)
    except Exception:
        prev = None
    spark.conf.set(_KEY, ROCKSDB)
    yield
    if prev is None:
        spark.conf.unset(_KEY)
    else:
        spark.conf.set(_KEY, prev)


def _state_files(ckpt) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(os.path.join(str(ckpt), "state")):
        out.extend(files)
    return out


def test_sessionize_stream_recovers_from_rocksdb_checkpoint(
    spark, tmp_path, rocksdb
):
    """Cross-micro-batch session state survives a RESTART on RocksDB:
    batch 1 opens a session (state written to the RocksDB checkpoint),
    the query stops, a new query on the same checkpoint closes it in
    batch 2 — and the checkpoint layout is RocksDB's (zip snapshots,
    not the HDFS provider's .delta files)."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ckpt = tmp_path / "ckpt"

    (in_dir / "01.log").write_text(
        _line(0, 1, "DDDDDDDDDDD: from=<d@d.com>, message-id=<m@d>")
    )
    assert run_to_parquet(spark, tmp_path).where("record_type = 'event'").count() == 0

    files = _state_files(ckpt)
    assert any(f.endswith(".zip") for f in files), (
        f"expected RocksDB zip snapshots in the state checkpoint, got {files[:8]}"
    )
    assert not any(f.endswith(".delta") for f in files)

    (in_dir / "02.log").write_text(
        "\n".join(
            [
                _line(0, 3, "DDDDDDDDDDD: to=<x@y.z>, status=sent (250 ok)"),
                _line(0, 4, "DDDDDDDDDDD: removed"),
            ]
        )
    )
    events = run_to_parquet(spark, tmp_path).where("record_type = 'event'").collect()
    assert [r["queue_id"] for r in events] == ["DDDDDDDDDDD"]


# the stateful streaming contract queries: state store class per entry
STATEFUL_QUERIES = [
    "q43_stream_events",  # applyInPandasWithState sessionizer fold
    "q49_stream_hourly",  # windowed agg state
    "q50_stream_enrich",  # stream-static join (stateless; control row)
    "q51_stream_dedup",  # watermarked dropDuplicates state
    "q54_stream_sessions",  # native session_window state
    "q88_stream_interval_join",  # stream-stream join buffers
    "q150_stream_curation",  # cross-batch dedup state
]


@pytest.mark.parametrize("name", STATEFUL_QUERIES)
def test_streaming_family_identical_on_rocksdb(spark, name, rocksdb):
    """Every stateful contract query returns the SAME rows on RocksDB
    as on the default provider (which the DuckDB oracle already signs):
    the state-store provider is an executor-storage choice, never a
    semantics choice."""
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    rocks = sorted(map(str, queries[name](spark, SF_DIR).collect()))
    spark.conf.unset(_KEY)  # default provider for the control run
    try:
        default = sorted(map(str, queries[name](spark, SF_DIR).collect()))
    finally:
        spark.conf.set(_KEY, ROCKSDB)  # fixture teardown expects it set
    assert rocks == default
