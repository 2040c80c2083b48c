"""Visualization-support statistics (SURVEY §2.4 A1-A8) — every figure's
data is a distributed aggregate collected as a tiny driver-side result;
no row data ever leaves the cluster.

``figure_data`` gathers the data behind every report figure
(pipeline/viz.py) in three fused passes over the frame, all of them
JVM-only (no Python workers, no ``pyspark.mllib``):

  A  one aggregate for every scalar: row count, the target's distinct
     count, per plotted column its min/max in the native type plus
     count, stddev, min and max as double, and ``var_samp`` of the
     correlation candidates;
  B  one melted pass: each row exploded over the KDE_POINTS grid
     indexes and grouped by index, summing per plotted column the
     Gaussian kernel term at that grid point and counting the rows that
     fall in that histogram bin;
  C  one ``corr`` aggregate over the non-constant correlation candidates.

A categorical target adds its value counts (``group_counts``). On the
FIXTURES.md F1 upload (five plotted columns, categorical target) that is
9 Spark jobs; one pass per statistic per column took 43.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

from data_pipeline_agent_spark.operators.profiling import numeric_columns

HIST_COLS = 5  # histograms of the first 5 numeric columns (main.py:178)
CORR_COLS = 10  # correlation over the first 10 numeric columns (main.py:165)
CATEGORICAL_MAX = 20  # target drawn as value counts when nunique <= 20 (main.py:152)
HIST_BINS = 20
KDE_POINTS = 64


def group_counts(df: DataFrame, col: str, limit: int = 50) -> list[tuple]:
    """A3/A8 value_counts, deterministic order (count desc, value asc)."""
    return [
        (r[0], r[1])
        for r in df.groupBy(col)
        .count()
        .orderBy(F.desc("count"), F.asc(col))
        .limit(limit)
        .collect()
    ]


@dataclass
class Distribution:
    """One plotted column: A7 fixed-width histogram [(bin_start, bin_end,
    count)] and the KDE overlay [(x, density)] on an even grid between
    the column's min and max. ``bins`` is [] for an all-null column and a
    single bin for a constant one; ``kde`` is [] when fewer than two
    values or no spread (seaborn skips the curve there too)."""

    bins: list[tuple]
    kde: list[tuple[float, float]]


@dataclass
class FigureData:
    """Everything generate_visualizations draws, as driver-side values."""

    n_rows: int
    target_counts: list[tuple] | None  # categorical target's value counts
    dists: dict[str, Distribution]  # histogram columns + a non-categorical target
    hist_cols: list[str]
    corr_cols: list[str]  # non-constant correlation candidates
    corr: dict[tuple[str, str], float]


def _nan_as_null(df: DataFrame) -> DataFrame:
    """NaN is missing, as in the pandas frame the reference plots: it is
    dropped like null from every figure."""
    fl = {f.name for f in df.schema.fields if isinstance(f.dataType, (FloatType, DoubleType))}
    if not fl:
        return df
    return df.select(
        *[F.when(~F.isnan(c), F.col(c)).alias(c) if c in fl else F.col(c) for c in df.columns]
    )


def figure_data(df: DataFrame, target_col: str | None = None) -> FigureData:
    """Data behind every figure of generate_visualizations (main.py:134-189).

    Histograms bin in the column's native type (decimal edges stay exact):
    bin = min(floor((x - min) / (max - min) * HIST_BINS), HIST_BINS - 1).
    The KDE is the Gaussian kernel density at Scott's bandwidth
    (std * n^(-1/5), the seaborn default), evaluated with MLlib
    KernelDensity's arithmetic: each term is
    exp(-0.5 * ((g - x) / bw)^2 - (ln bw + ln(2 pi) / 2)), summed over the
    n values and scaled by 1/n.

    Raises ValueError naming the column when a plotted column holds +-inf
    (a histogram needs a finite range, as numpy's does), and TypeError
    for a non-numeric target with more than CATEGORICAL_MAX values.
    """
    num = numeric_columns(df)
    hist_cols = num[:HIST_COLS]
    corr_cols = num[:CORR_COLS] if len(num) >= 2 else []
    if target_col not in df.columns:
        target_col = None
    df = _nan_as_null(df)

    # Pass A. The target's stats are taken whenever it is numeric: whether
    # it is histogrammed is known only from its distinct count.
    cand = list(dict.fromkeys(hist_cols + ([target_col] if target_col in num else [])))
    aggs = [F.count(F.lit(1)).alias("n")]
    if target_col:
        aggs.append(F.count_distinct(target_col).alias("nd"))
    for i, c in enumerate(cand):
        x, d = F.col(c), F.col(c).cast("double")
        aggs += [
            F.min(x).alias(f"mn{i}"),
            F.max(x).alias(f"mx{i}"),
            F.count(x).alias(f"n{i}"),
            F.stddev(d).alias(f"sd{i}"),
            F.min(d).alias(f"lo{i}"),
            F.max(d).alias(f"hi{i}"),
        ]
    # corr on a zero-variance column raises DIVIDE_BY_ZERO under ANSI
    # (pandas shows NaN): variances screen the candidates first
    aggs += [F.var_samp(F.col(c).cast("double")).alias(f"var{i}") for i, c in enumerate(corr_cols)]
    row = df.agg(*aggs).first()

    target_counts = None
    plotted = list(hist_cols)
    if target_col:
        if row["nd"] <= CATEGORICAL_MAX:
            target_counts = group_counts(df, target_col, limit=CATEGORICAL_MAX)
        elif target_col in num:
            plotted = list(dict.fromkeys(plotted + [target_col]))
        else:
            raise TypeError(
                f"target column {target_col!r} is not numeric and has {row['nd']} "
                f"distinct values; only a numeric column gets a histogram"
            )

    dists = _distributions(df, row, [(c, cand.index(c)) for c in plotted])

    screened = [
        c for i, c in enumerate(corr_cols) if row[f"var{i}"] is not None and row[f"var{i}"] > 0
    ]
    return FigureData(
        n_rows=row["n"],
        target_counts=target_counts,
        dists=dists,
        hist_cols=hist_cols,
        corr_cols=screened,
        corr=_corr(df, screened),
    )


def _distributions(df: DataFrame, row, cols: list[tuple[str, int]]) -> dict[str, Distribution]:
    """Histograms and KDE curves of ``cols`` ((name, index into pass A's
    row)) from pass A's scalars and ONE melted pass (pass B): every row
    is exploded over the grid index j, and one aggregate grouped by j
    sums each column's kernel term at grid point j and counts its rows in
    bin j (HIST_BINS <= KDE_POINTS, so every bin is some j)."""
    sel, aggs, kdes = [], [], {}
    j = F.col("j")
    for c, i in cols:
        mn, mx, n, sd, lo, hi = (row[f"{k}{i}"] for k in ("mn", "mx", "n", "sd", "lo", "hi"))
        if lo == -math.inf or hi == math.inf:
            raise ValueError(
                f"column {c!r} holds an infinite value: its histogram range is not finite"
            )
        x = F.col(c)
        if mn is not None and mx != mn:
            # native-type arithmetic, projected before the explode
            k = F.least(F.floor((x - F.lit(mn)) / F.lit(mx - mn) * HIST_BINS), F.lit(HIST_BINS - 1))
            sel.append(k.cast("int").alias(f"b{i}"))
            aggs.append(F.count(F.when(F.col(f"b{i}") == j, 1)).alias(f"h{i}"))
        if n and n >= 2 and sd is not None and sd != 0.0 and lo != hi:
            bw = float(sd) * float(n) ** (-0.2)
            log_norm = math.log(bw) + 0.5 * math.log(2 * math.pi)
            sel.append(x.cast("double").alias(f"x{i}"))
            # the grid point in the same IEEE operations as ``xs`` below
            g = F.lit(lo) + F.lit(hi - lo) * j / F.lit(KDE_POINTS - 1)
            z = (g - F.col(f"x{i}")) / bw
            aggs.append(F.sum(F.exp(F.lit(-0.5) * z * z - log_norm)).alias(f"s{i}"))
            kdes[c] = [lo + (hi - lo) * p / (KDE_POINTS - 1) for p in range(KDE_POINTS)]

    by_j = {}
    if aggs:
        grid = F.explode(F.sequence(F.lit(0), F.lit(KDE_POINTS - 1))).alias("j")
        by_j = {r["j"]: r for r in df.select(*sel, grid).groupBy("j").agg(*aggs).collect()}

    out = {}
    for c, i in cols:
        mn, mx, n = row[f"mn{i}"], row[f"mx{i}"], row[f"n{i}"]
        if mn is None:
            bins = []
        elif mx == mn:
            bins = [(float(mn), float(mx), n)]
        else:
            w = (mx - mn) / HIST_BINS
            bins = [
                (float(mn + b * w), float(mn + (b + 1) * w), by_j[b][f"h{i}"])
                for b in range(HIST_BINS)
            ]
        kde = [(x, by_j[p][f"s{i}"] * (1.0 / n)) for p, x in enumerate(kdes.get(c, []))]
        out[c] = Distribution(bins, kde)
    return out


def _corr(df: DataFrame, cols: list[str]) -> dict[tuple[str, str], float]:
    """A6 Pearson matrix of ``cols`` in ONE aggregate (pass C)."""
    if len(cols) < 2:
        return {}
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    row = df.agg(*[F.corr(a, b).alias(f"p{k}") for k, (a, b) in enumerate(pairs)]).first()
    out = {(c, c): 1.0 for c in cols}
    for k, (a, b) in enumerate(pairs):
        out[(a, b)] = out[(b, a)] = row[f"p{k}"]
    return out
