"""BatchLedger (streaming/filesource.py): the batch-partitioned store
every streaming runner reads back — read semantics on a missing or
empty root, self-exclusion, overwrite-on-rewrite, and the schema of
the empty frame."""

import os

from etl_mp_transactions_spark.streaming.filesource import BatchLedger

SCHEMA = "k long, v string"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_missing_and_empty_root_read_empty_with_schema(spark, tmp_path):
    expected = spark.createDataFrame([], SCHEMA).schema
    missing = BatchLedger(spark, str(tmp_path / "missing"), SCHEMA)
    empty_root = str(tmp_path / "empty")
    os.makedirs(empty_root)
    empty = BatchLedger(spark, empty_root, SCHEMA)
    for ledger in (missing, empty):
        for df in (ledger.all(), ledger.except_(0)):
            assert df.schema == expected
            assert df.count() == 0
    assert not os.path.exists(str(tmp_path / "missing"))


def test_except_skips_only_own_batch_and_rewrite_overwrites(spark, tmp_path):
    root = str(tmp_path / "ledger")
    ledger = BatchLedger(spark, root, SCHEMA)
    parts = {
        -1: [(1, "boot")],
        0: [(2, "a"), (3, "b")],
        1: [(4, "c")],
    }
    for b, rows in parts.items():
        ledger.write(b, spark.createDataFrame(rows, SCHEMA))
        assert _rows(ledger.read(b)) == sorted(rows)
    # a directory that is not a batch partition is never read
    os.makedirs(os.path.join(root, "_tmp"))
    assert sorted(os.listdir(root)) == [
        "_tmp", "batch=-1", "batch=0", "batch=1"
    ]
    everything = sorted(r for rows in parts.values() for r in rows)
    assert _rows(ledger.all()) == everything
    for b in parts:
        others = sorted(r for o, rows in parts.items() if o != b for r in rows)
        assert _rows(ledger.except_(b)) == others
    # an id with no partition excludes nothing
    assert _rows(ledger.except_(7)) == everything
    # a re-run of batch 0 rewrites its partition: same rows, no append
    ledger.write(0, spark.createDataFrame(parts[0], SCHEMA))
    assert _rows(ledger.read(0)) == sorted(parts[0])
    assert _rows(ledger.all()) == everything
