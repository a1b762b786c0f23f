"""tools/stream_progress.result_hash: the result hash must count row
multiplicity, so a duplicated row pair cannot cancel out."""

from tools.stream_progress import result_hash

SCHEMA = "k long, v string"


def test_duplicated_row_pair_changes_hash(spark):
    base = [(1, "a"), (2, "b")]
    plain = spark.createDataFrame(base, SCHEMA)
    with_pair = spark.createDataFrame(base + [(3, "c"), (3, "c")], SCHEMA)
    # same row count, different duplicated pair: bit_xor would give
    # equal hashes for both (each pair cancels to zero)
    pair_a = spark.createDataFrame(base + [(3, "c"), (3, "c")], SCHEMA)
    pair_b = spark.createDataFrame(base + [(4, "d"), (4, "d")], SCHEMA)
    n0, h0 = result_hash(plain)
    n1, h1 = result_hash(with_pair)
    assert (n0, n1) == (2, 4)
    assert h0 != h1
    assert result_hash(pair_a) != result_hash(pair_b)


def test_hash_is_order_independent(spark):
    rows = [(1, "a"), (2, "b"), (2, "b"), (3, None)]
    fwd = spark.createDataFrame(rows, SCHEMA)
    rev = spark.createDataFrame(rows[::-1], SCHEMA).repartition(3)
    assert result_hash(fwd) == result_hash(rev)
