"""Output checks: order-insensitive fingerprints and pipeline invariants.

A fingerprint is ``(rows, hash)``: the row count and the exact sum of
``xxhash64`` over every row, with columns in name order and every
double rounded first. Rounding is what makes it stable: the features
leaf's ``avg()`` and the grid's bucket means are summed in shuffle
order, which moves their last ulp from run to run. The sum is taken as
DECIMAL(38,0) so it neither wraps nor trips ANSI overflow checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DIGITS = 6


def _rounded(expr: str, dtype: T.DataType, depth: int = 0) -> str:
    """SQL expression for ``expr`` with every nested double rounded and
    every map turned into a key-sorted entry array (maps cannot be
    hashed, and their entry order is not part of their value)."""
    var = f"x{depth}"
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return f"round({expr}, {DIGITS})"
    if isinstance(dtype, T.ArrayType):
        inner = _rounded(var, dtype.elementType, depth + 1)
        return expr if inner == var else f"transform({expr}, {var} -> {inner})"
    if isinstance(dtype, T.MapType):
        inner = _rounded(var, dtype.valueType, depth + 1)
        if inner != var:
            expr = f"transform_values({expr}, (k{depth}, {var}) -> {inner})"
        return f"array_sort(map_entries({expr}))"
    if isinstance(dtype, T.StructType):
        parts = ", ".join(
            f"'{f.name}', {_rounded(f'{expr}.`{f.name}`', f.dataType, depth + 1)}"
            for f in dtype.fields
        )
        return f"named_struct({parts})"
    return expr


def _row_hash(df: DataFrame) -> str:
    fields = sorted(df.schema.fields, key=lambda f: f.name)
    cols = ", ".join(_rounded(f"`{f.name}`", f.dataType) for f in fields)
    return f"xxhash64({cols})"


_SUMS = ("count(*) AS n", "CAST(sum(CAST(h AS DECIMAL(38,0))) AS STRING) AS s")


def fingerprint(df: DataFrame) -> list:
    """``[rows, hash]`` of ``df`` — one Spark job that reads every
    column of every row, so it also serves as the action that forces a
    result."""
    row = df.selectExpr(f"{_row_hash(df)} AS h").selectExpr(*_SUMS).first()
    return [int(row["n"]), row["s"] or "0"]


PIPELINE_STAGES = ("cohort", "events", "summary", "timeseries", "features", "tensors")


def stage_fingerprints(frames: dict[str, DataFrame]) -> dict[str, list]:
    """:func:`fingerprint` of every pipeline stage, in one Spark job."""
    hashed = [
        frames[name].selectExpr(f"'{name}' AS stage", f"{_row_hash(frames[name])} AS h")
        for name in PIPELINE_STAGES
    ]
    union = hashed[0]
    for df in hashed[1:]:
        union = union.unionAll(df)
    rows = {r["stage"]: r for r in union.groupBy("stage").agg(*map(F.expr, _SUMS)).collect()}
    return {
        name: [int(rows[name]["n"]), rows[name]["s"] or "0"] if name in rows else [0, "0"]
        for name in PIPELINE_STAGES
    }


def pipeline_invariants(
    frames: dict[str, DataFrame], n_buckets: int, id_col: str = "stay_id"
) -> list[str]:
    """Violated invariants of one pipeline run, as messages (empty when
    the run is sound):

    * the grid is dense: rows = buckets x distinct (id, code) pairs;
    * imputation left no null value;
    * every tensor id is a cohort id.
    """
    ts = frames["timeseries"]
    row = ts.selectExpr(
        "count(*) AS n",
        f"count(DISTINCT {id_col}, itemid) AS pairs",
        "count_if(value IS NULL) AS nulls",
    ).first()
    bad = []
    if row["n"] != n_buckets * row["pairs"]:
        bad.append(
            f"timeseries has {row['n']} rows, expected {n_buckets} x {row['pairs']} pairs"
        )
    if row["nulls"]:
        bad.append(f"timeseries has {row['nulls']} null values after impute")
    stray = (
        frames["tensors"]
        .select(id_col)
        .join(frames["cohort"].select(id_col), id_col, "left_anti")
        .count()
    )
    if stray:
        bad.append(f"{stray} tensor ids are not cohort ids")
    return bad
