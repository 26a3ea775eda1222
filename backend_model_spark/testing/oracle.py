"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs a registered Spark query and its oracle SQL side by side on the
same parquet tables, then compares row count + order-insensitive
values under name-sorted columns — the same shape of check the driver
records in CORRECTNESS_r{N}.json. Used by the test suite so parity
breaks locally before it breaks in the round gate.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Any

import duckdb
import pandas as pd

from pyspark.sql import SparkSession

from backend_model_spark.sources.tables import TABLE_NAMES, table_path


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for name in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(sf_dir, name)}')"
            )
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def _canon_cell(v: Any) -> Any:
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        # round-trip through a fixed decimal repr to absorb <1e-9 noise
        return round(v, 9)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_canon_cell(x) for x in v)
    if isinstance(v, (bool,)):
        return bool(v)
    if isinstance(v, int):
        return int(v)
    try:
        import numpy as np

        if isinstance(v, np.integer):
            return int(v)
        if isinstance(v, np.floating):
            return _canon_cell(float(v))
        if isinstance(v, np.bool_):
            return bool(v)
    except ImportError:
        pass
    return v


def _canon_frame(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [
        tuple(_canon_cell(row[c]) for c in cols)
        for _, row in df[cols].iterrows()
    ]
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    problems: list[str] = field(default_factory=list)

    def __str__(self) -> str:
        status = "OK" if self.ok else "FAIL"
        msg = f"[{status}] {self.name}: spark={self.spark_rows} oracle={self.oracle_rows}"
        for p in self.problems:
            msg += f"\n    - {p}"
        return msg


def compare(
    name: str,
    spark: SparkSession,
    fn,
    oracle: str,
    sf_dir: str,
    max_report: int = 5,
) -> CompareResult:
    spark_pdf = fn(spark, sf_dir).toPandas()
    oracle_pdf = run_oracle(oracle, sf_dir)

    problems: list[str] = []
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        problems.append(
            f"column mismatch: spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}"
        )
        return CompareResult(name, False, len(spark_pdf), len(oracle_pdf), problems)

    if len(spark_pdf) != len(oracle_pdf):
        problems.append("row count mismatch")

    s_rows = _canon_frame(spark_pdf)
    o_rows = _canon_frame(oracle_pdf)
    if s_rows != o_rows:
        diff_s = [r for r in s_rows if r not in o_rows][:max_report]
        diff_o = [r for r in o_rows if r not in s_rows][:max_report]
        problems.append(f"value mismatch; spark-only={diff_s} oracle-only={diff_o}")

    return CompareResult(
        name, not problems, len(spark_pdf), len(oracle_pdf), problems
    )
