"""Output checks behind ``correct`` / ``failed``.

Query ops are compared once per run against the registry's DuckDB
oracle on the same files, with the certification semantics of
``tools/sweep.py``: columns sorted by name, rows compared as an
order-insensitive multiset of stringified values. The ingest workload
checks the warehouse invariants instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def oracle_connection(input_dir: str, tables: tuple[str, ...]):
    """A DuckDB connection with one view per input table present."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    for t in tables:
        path = f"{input_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def compare_to_oracle(sdf: DataFrame, oracle_sql: str, con) -> str | None:
    """Compare a Spark result with the oracle's; the problem, or None.

    The rows must be equal as multisets of stringified rows, columns
    sorted by name: the certification check, exact to the last digit."""
    cols = sorted(sdf.columns)
    srows = [tuple(r[c] for c in cols) for r in sdf.collect()]
    cur = con.execute(oracle_sql)
    dcols = [d[0] for d in cur.description]
    if sorted(dcols) != cols:
        return f"columns {cols} != oracle {sorted(dcols)}"
    order = sorted(range(len(dcols)), key=lambda i: dcols[i])
    drows = [tuple(r[i] for i in order) for r in cur.fetchall()]
    if len(srows) != len(drows):
        return f"{len(srows)} rows vs oracle {len(drows)}"
    for a, b in zip(_as_text(srows), _as_text(drows)):
        if a != b:
            return f"row {list(a)} vs oracle {list(b)}"
    return None


def _as_text(rows: list[tuple]) -> list[tuple[str, ...]]:
    return sorted(tuple(str(v) for v in r) for r in rows)


def warehouse_invariants(spark, warehouse: str, keys: list[str],
                         expected_rows: int) -> list[str]:
    """Violations of the ingest invariants: the final row count is the
    history plus every distinct new key, and no key appears twice."""
    from pyspark.sql import functions as F

    table = spark.read.parquet(warehouse)
    problems = []
    rows = table.count()
    if rows != expected_rows:
        problems.append(f"rows {rows} != expected {expected_rows}")
    dups = table.groupBy(*keys).count().filter(F.col("count") > 1).count()
    if dups:
        problems.append(f"{dups} duplicate keys")
    return problems
