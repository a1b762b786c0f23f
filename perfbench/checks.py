"""Output checks, run outside every timed region.

Registry entries are compared value for value against their DuckDB
twins (``registry.oracle_sql()``) with the repository's own comparator,
``tools/oracle_compare.compare``. Result hashes count multiplicity: a
row that appears twice adds its hash twice (a sum, never a XOR, which
would cancel rows that appear an even number of times).
"""

from __future__ import annotations

import os
import sys

from perfbench.harness import ROOT, nproc

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _oracle_compare():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import oracle_compare

    return oracle_compare


def compare(spark_pdf, duck_pdf) -> list[str]:
    return _oracle_compare().compare(spark_pdf, duck_pdf)


def duck(data_dir: str, work: str):
    """A DuckDB connection with one view per generated table, memory
    capped and spilling inside the run's own scratch directory."""
    import duckdb

    con = duckdb.connect()
    con.sql("SET memory_limit = '1GB'")
    con.sql(f"SET threads = {nproc()}")
    con.sql(f"SET temp_directory = '{os.path.join(work, 'duckdb')}'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def registry_entry(spark, con, name: str, data_dir: str) -> list[str]:
    """Run one registry entry on the generated data and compare it with
    its DuckDB twin."""
    from etl_mp_transactions_spark import registry

    spark_pdf = registry.queries()[name](spark, data_dir).toPandas()
    duck_pdf = con.sql(registry.oracle_sql()[name]).df()
    return compare(spark_pdf, duck_pdf)


def multiset_hash(pdf) -> str:
    """Order-insensitive hash of a result that counts multiplicity."""
    import pandas as pd

    if pdf.empty:
        return "0" * 16
    canon = _oracle_compare().canon(pdf)
    rows = pd.util.hash_pandas_object(canon, index=False).to_numpy("uint64")
    return f"{int(rows.sum(dtype='uint64')):016x}"
