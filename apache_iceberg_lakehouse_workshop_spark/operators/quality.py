"""Data-quality / audit operators (SURVEY.md §2.11, Q1–Q8).

The reference encodes correctness as audit views whose result sets must be
empty or flagged (``/root/reference/industry-examples/manufacturing.sql:
76-117, 216-252, 340-381``). These helpers build the same checks as
DataFrames; the medallion runner (plans/medallion.py) can assert on them.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def null_audit(df: DataFrame, cols: list[str]) -> DataFrame:
    """Q1: per-column null counts + total rows (one aggregate pass)."""
    aggs = [F.count("*").cast("long").alias("n_rows")]
    for c in cols:
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).cast("long").alias(f"null_{c}"))
    return df.agg(*aggs)


def out_of_range(df: DataFrame, bounds: DataFrame, value_col: str, key_cols: list[str]) -> DataFrame:
    """Q2: rows whose value falls outside joined [lo, hi] bounds.

    ``bounds`` is a small dimension (broadcast) with key_cols + lo + hi —
    mirrors the inline-VALUES bounds table at manufacturing.sql:82-103."""
    j = df.join(F.broadcast(bounds), key_cols, "left")
    return j.filter(
        F.col("lo").isNotNull()
        & ((F.col(value_col) < F.col("lo")) | (F.col(value_col) > F.col("hi")))
    )


def duplicate_keys(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Q3: GROUP BY keys HAVING COUNT(*) > 1 (manufacturing.sql:86-91)."""
    return (
        df.groupBy(*key_cols)
        .agg(F.count("*").cast("long").alias("n_dups"))
        .filter(F.col("n_dups") > 1)
    )


def fk_orphans(fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str) -> DataFrame:
    """Q4: referential-integrity violations via left_anti join
    (manufacturing.sql:220-225 uses left-join + IS NULL; anti-join is the
    idiomatic Spark plan — same semantics, no null-padding materialized)."""
    return fact.join(dim, fact[fact_key] == dim[dim_key], "left_anti")


@dataclass
class CheckResult:
    name: str
    violations: int
    passed: bool


def run_checks(checks: dict[str, DataFrame]) -> list[CheckResult]:
    """Q7/Q8 harness: each check DataFrame must be empty to pass."""
    out = []
    for name, df in checks.items():
        n = df.count()
        out.append(CheckResult(name=name, violations=n, passed=n == 0))
    return out
