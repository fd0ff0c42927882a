"""Correctness gate: compare a query's rows with its DuckDB oracle.

The comparison is the one the repository's test suite makes
(``assert_query_matches_oracle`` in ``tests/conftest.py``), with that file's
cell normalisers: no DECIMAL column in the final schema, columns sorted by
name, rows compared as sorted multisets with exact values.
"""

from __future__ import annotations

import functools
import importlib.util
import os

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def _conftest():
    spec = importlib.util.spec_from_file_location(
        "perfbench_conftest", os.path.join(ROOT, "tests", "conftest.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def expected_results(data_dir: str, tables: tuple[str, ...], oracles: dict[str, str]) -> dict:
    """Query name -> the oracle's columns (sorted by name) and sorted rows."""
    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        norm = _conftest()._norm_duck
        out = {}
        for name, sql in oracles.items():
            res = con.execute(sql)
            raw = [d[0] for d in res.description]
            order = sorted(range(len(raw)), key=lambda i: raw[i])
            rows = sorted((tuple(norm(r[i]) for i in order) for r in res.fetchall()), key=repr)
            out[name] = ([raw[i] for i in order], rows)
        return out
    finally:
        con.close()


def mismatch(expected: tuple[list[str], list[tuple]], df, rows: list) -> str | None:
    """None when ``rows`` (collected from the Spark DataFrame ``df``) equal
    the oracle's ``expected`` result, else a one-line reason."""
    from pyspark.sql.types import DecimalType

    dec = [f.name for f in df.schema.fields if isinstance(f.dataType, DecimalType)]
    if dec:
        return f"final schema keeps DECIMAL columns {dec}"
    duck_cols, duck_rows = expected
    spark_cols = sorted(df.columns)
    if spark_cols != duck_cols:
        return f"columns {spark_cols} vs {duck_cols}"
    norm = _conftest()._norm_spark
    spark_rows = sorted((tuple(norm(row[c]) for c in spark_cols) for row in rows), key=repr)
    if len(spark_rows) != len(duck_rows):
        return f"row count {len(spark_rows)} vs {len(duck_rows)}"
    bad = [(a, b) for a, b in zip(spark_rows, duck_rows) if a != b]
    if bad:
        return f"{len(bad)} mismatched rows; first {bad[0]!r}"[:300]
    return None
