"""Dataset profiling — the "inspect" half of the reference's
inspect-then-rewrite cleaning loop.

The reference computes one statistic per column per pass (null counts at
main.py:76, medians at main.py:78, distinct counts at main.py:99, dash
probes at main.py:89). Here every driver-side scalar the cleaning stage
needs is fused into ONE wide aggregate over the data — a single scan even
at 100 TB — plus one melted pass for string modes (see cleaning.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType, StringType, TimestampType


def numeric_columns(df: DataFrame) -> list[str]:
    """Schema-only dtype selection (reference: select_dtypes, main.py:87,121).

    No data pass — Spark schemas are declared, unlike pandas inference.
    """
    return [f.name for f in df.schema.fields if isinstance(f.dataType, NumericType)]


def string_columns(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields if isinstance(f.dataType, StringType)]


def timestamp_columns(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampType)]


@dataclass
class Profile:
    """Driver-side scalars steering the cleaning plan."""

    n_rows: int
    non_null: dict[str, int]
    medians: dict[str, float]  # numeric cols (exact, linear interpolation)
    n_distinct: dict[str, int]  # string cols (exact — thresholds are hard)
    has_dash: dict[str, bool]  # string cols: any value contains '-'
    parse_ok: dict[str, int]  # string cols: rows parseable as timestamp
    extras: dict = field(default_factory=dict)

    def null_count(self, col: str) -> int:
        return self.n_rows - self.non_null.get(col, 0)

    def all_null_columns(self) -> list[str]:
        return [c for c, nn in self.non_null.items() if nn == 0]


def profile(df: DataFrame) -> Profile:
    """One aggregate pass producing every scalar clean_data needs.

    Replaces the reference's per-column eager passes (main.py:72-105) with
    a single aggregate (a few Spark jobs under AQE): non-null counts (P1/P2), exact medians (E1), exact
    distinct counts (A2 — `approx_count_distinct` could flip the
    `nunique > n/2` encoding branch, so exact it is), dash probes and
    timestamp-parse counts (E3).

    Scale note: F.percentile's exact buffer holds the column on one
    reducer — fine at upload scale (the reference caps ingest at 50 MB),
    but for corpus-scale profiling swap the median aggs for
    `operators.ranking.exact_percentiles` (scan-only distributed
    selection, 2 extra jobs) or `percentile_approx` (the GK sketch,
    stays one fused pass) depending on whether exact pandas parity is
    required.
    """
    num_cols = numeric_columns(df)
    str_cols = string_columns(df)
    aggs: list = [F.count(F.lit(1)).alias("__n_rows")]
    for c in df.columns:
        aggs.append(F.count(F.col(c)).alias(f"nn__{c}"))
    for c in num_cols:
        # Exact percentile (linear interpolation) matches pandas .median().
        aggs.append(F.percentile(F.col(c).cast("double"), F.lit(0.5)).alias(f"med__{c}"))
    for c in str_cols:
        aggs.append(F.count_distinct(F.col(c)).alias(f"nd__{c}"))
        aggs.append(F.max(F.col(c).contains("-")).alias(f"dash__{c}"))
        aggs.append(F.count(F.try_to_timestamp(F.col(c))).alias(f"pok__{c}"))
    row = df.agg(*aggs).first().asDict()
    return Profile(
        n_rows=row["__n_rows"],
        non_null={c: row[f"nn__{c}"] for c in df.columns},
        medians={c: row[f"med__{c}"] for c in num_cols},
        n_distinct={c: row[f"nd__{c}"] for c in str_cols},
        has_dash={c: bool(row[f"dash__{c}"]) for c in str_cols},
        parse_ok={c: row[f"pok__{c}"] for c in str_cols},
    )
