"""Cleaning / preprocessing operators — reference parity for
``clean_data`` (/root/reference/main.py:66-129), Spark-first.

Stage order is user-visible behavior and is replicated exactly
(main.py:72 -> 75 -> 88 -> 96 -> 108 -> 120):

  P1  drop all-null columns
  E1  median-impute numeric columns with any null
  E2  mode-impute other columns with any null (smallest value on ties —
      pandas mode()[0] semantics)
  E3  datetime probe: string col containing '-' anywhere -> convert to
      timestamp iff EVERY non-null value parses (pd.to_datetime
      errors='ignore' is all-or-nothing)
  E4  frequency-encode string cols with nunique > n_rows/2 (counts taken
      AFTER imputation, so the imputed mode inflates its own frequency)
  E5  label-encode remaining string cols, codes by alphabetical order
      (sklearn LabelEncoder semantics)
  E7  expand timestamp cols to _year/_month/_day/_hour/_dayofweek (Mon=0,
      pandas convention)/_weekofyear (ISO); drop the original
  O2  IQR-clip EVERY numeric column — including just-encoded categoricals,
      datetime-derived features and the target (faithful to main.py:120-127;
      do not "fix")

Scale design: the reference runs one eager pandas pass per column per
statistic. Here the number of passes over the data is constant in column
count: (1) the fused profile aggregate (profiling.profile), (2) one
melted group-count pass for all string modes, (3) one melted count pass
for every string encoding (eagerly checkpointed), (4) one quantile
aggregate over the encoded frame for clip bounds, which also fills the
cache of that frame. Encoding maps are joined inside the final plan
(broadcast when small; AQE handles the rest).

A pass is several Spark jobs: under AQE every shuffle stage and every
broadcast runs as a job of its own. On the 5,000-row FIXTURES.md F1
upload the stage launches 18 jobs: profile 3, modes 3, encode 2 and
clip bounds 10, the last including the label-code broadcasts and the
cache fill.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_pipeline_agent_spark.operators.profiling import (
    Profile,
    numeric_columns,
    profile,
    string_columns,
    timestamp_columns,
)


def string_modes(df: DataFrame, cols: list[str]) -> dict[str, str]:
    """Deterministic mode per string column, ONE pass for all columns.

    pandas ``mode()[0]`` returns the smallest value among frequency ties
    (main.py:82-84). Spark's ``F.mode`` is arbitrary on ties, so we rank
    by (count desc, value asc). All requested columns are melted into
    (col_name, value) pairs with ``stack`` so a single shuffle computes
    every mode; partial aggregation keeps shuffle volume at
    sum-of-distincts, not row count.
    """
    if not cols:
        return {}
    stack_args = ", ".join(f"'{c}', `{c}`" for c in cols)
    melted = df.selectExpr(f"stack({len(cols)}, {stack_args}) as (__col, __val)")
    counts = melted.where(F.col("__val").isNotNull()).groupBy("__col", "__val").count()
    w = Window.partitionBy("__col").orderBy(F.desc("count"), F.asc("__val"))
    top = counts.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1)
    return {r["__col"]: r["__val"] for r in top.collect()}


def drop_all_null_columns(df: DataFrame, prof: Profile) -> DataFrame:
    """P1 — df.dropna(axis=1, how='all') (main.py:72)."""
    dead = [c for c in df.columns if prof.non_null.get(c, 0) == 0]
    return df.drop(*dead) if dead else df


def impute(df: DataFrame, prof: Profile, modes: dict[str, str]) -> DataFrame:
    """E1/E2 — median for numeric, mode for the rest (main.py:75-84)."""
    exprs = []
    num = set(numeric_columns(df))
    for c in df.columns:
        col = F.col(c)
        if prof.null_count(c) > 0:
            if c in num:
                col = F.coalesce(col.cast("double"), F.lit(prof.medians[c]))
            elif c in modes:
                col = F.coalesce(col, F.lit(modes[c]))
        exprs.append(col.alias(c))
    return df.select(*exprs)


def parse_datetime_columns(df: DataFrame, prof: Profile) -> DataFrame:
    """E3 — all-or-nothing timestamp conversion of dash-bearing string cols
    (main.py:88-94). Converts iff every non-null value parses."""
    exprs = []
    for c in df.columns:
        col = F.col(c)
        if (
            c in prof.has_dash
            and prof.has_dash[c]
            and prof.non_null.get(c, 0) > 0
            and prof.parse_ok.get(c) == prof.non_null.get(c)
        ):
            col = F.to_timestamp(col)
        exprs.append(col.alias(c))
    return df.select(*exprs)


def frequency_encode(
    df: DataFrame, col: str, stats_from: DataFrame | None = None
) -> DataFrame:
    """E4 — replace each value by its occurrence count (main.py:97-101).

    groupBy + equi-join rather than a window count: the count table has
    one row per distinct value, so Catalyst/AQE broadcasts it when small;
    a window over the raw rows would always shuffle the full table and
    concentrate skewed keys on one partition.

    ``stats_from`` lets a multi-column encode pass build the count table
    from the PRE-encode base frame: prior encodes only replace *other*
    columns, so the counts are identical, but deriving them from the
    running join chain would re-embed the whole prior plan under every
    new join (plan size ~2^k for k encoded columns — measured as a
    Catalyst hang at 20 columns).
    """
    freq = (stats_from if stats_from is not None else df).groupBy(col).agg(
        F.count(F.lit(1)).alias("__freq")
    )
    out = (
        df.join(freq, on=col, how="left")
        .withColumn(col, F.col("__freq").cast("long"))
        .drop("__freq")
    )
    return out.select(*df.columns)


# Above this many distincts the single-reducer sort window and a broadcast
# of the code table are both scale hazards; switch to the distributed path.
# 65k string codes is well under autoBroadcastJoinThreshold, so below the
# cutoff the broadcast hint is *provably* safe, not a guess.
LABEL_ENCODE_BROADCAST_CUTOFF = 65_536


def _rank_distincts_distributed(vals: DataFrame) -> DataFrame:
    """Dense 0..k-1 codes for a (possibly huge) distinct-value table in
    alphabetical order, with NO global single-reducer sort:

    1. range-repartition by value — each partition holds a contiguous,
       ordered slice of the value domain (distributed sort);
    2. count rows per partition (collect of ~n_partitions scalars) and
       prefix-sum the offsets on the driver;
    3. code = partition offset + (row_number within the partition - 1).

    This is the sort-based zipWithIndex recipe expressed in DataFrame ops;
    cost is one range shuffle + one hash shuffle of the DISTINCT table
    (never the fact table), and nothing is broadcast or globally sorted.
    """
    spark = vals.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    part = (
        vals.repartitionByRange(n_parts, F.asc_nulls_last("__v"))
        .withColumn("__pid", F.spark_partition_id())
        # persisted so the offset collect and the final ranking observe the
        # SAME range boundaries (range partitioning samples its splits)
        .persist()
    )
    counts = {
        r["__pid"]: r["n"]
        for r in part.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    off_expr, acc = F.lit(0), 0
    for pid in sorted(counts):
        off_expr = F.when(F.col("__pid") == pid, F.lit(acc)).otherwise(off_expr)
        acc += counts[pid]
    wp = Window.partitionBy("__pid").orderBy(F.asc_nulls_last("__v"))
    return part.select(
        "__v",
        (off_expr + F.row_number().over(wp) - F.lit(1)).cast("long").alias("__code"),
    )


def label_encode(
    df: DataFrame,
    col: str,
    n_distinct: int | None = None,
    stats_from: DataFrame | None = None,
) -> DataFrame:
    """E5 — integer codes by alphabetical order of the stringified value
    (sklearn LabelEncoder, main.py:102-105).

    Join strategy is picked from the profiled distinct count: below
    LABEL_ENCODE_BROADCAST_CUTOFF the code table is built with one tiny
    sort window and broadcast-joined (bounded, provably under the
    broadcast threshold); above it — E5 fires for any column with
    nunique <= n/2, which at 100 TB can be billions of distincts — codes
    come from a distributed range-partitioned rank and the join is left
    to AQE (shuffle join of fact vs code table on the value).

    ``stats_from``: same plan-growth rationale as frequency_encode.
    """
    vals = (
        (stats_from if stats_from is not None else df)
        .select(F.col(col).cast("string").alias("__v"))
        .distinct()
    )
    if n_distinct is not None and n_distinct > LABEL_ENCODE_BROADCAST_CUTOFF:
        codes = _rank_distincts_distributed(vals)
        codes_joinable = codes  # no hint: AQE picks the strategy
    else:
        w = Window.orderBy(F.asc_nulls_last("__v"))
        codes = vals.withColumn(
            "__code", (F.row_number().over(w) - F.lit(1)).cast("long")
        )
        codes_joinable = F.broadcast(codes)
    out = (
        df.join(
            codes_joinable,
            F.col(col).cast("string").eqNullSafe(F.col("__v")),
            "left",
        )
        .withColumn(col, F.col("__code"))
        .drop("__v", "__code")
    )
    return out.select(*df.columns)


def encode_strings(df: DataFrame, n_rows: int, n_distinct: dict[str, int]) -> DataFrame:
    """E4/E5 dispatch — nunique > n_rows/2 -> frequency, else label
    (main.py:96-105). Distinct counts are post-imputation (same set).

    Scale structure (the reference loops one pandas pass per column):

    - ONE melted pass over the base frame builds every column's
      (value, count) table: explode of (col, value) structs, one grouped
      aggregate keyed (col, value). Fact-table passes are constant in
      column count.
    - Label codes come from a per-column window over that SMALL table
      (partitioned by column — parallel across columns).
    - Each column then joins its cached slice; build sides never rescan
      the fact table, and every build derives from the shared PRE-encode
      frame (deriving from the running chain would re-embed the whole
      prior plan under each join — plan tree ~2^k, measured as a
      Catalyst hang at 20 columns).
    - High-cardinality label columns (> LABEL_ENCODE_BROADCAST_CUTOFF)
      keep the per-column distributed range-rank path: one window
      partition holding billions of distincts is the exact hazard that
      path exists to avoid.
    """
    base = df
    cols = string_columns(df)
    if not cols:
        return df
    high_card_label = {
        c
        for c in cols
        if n_distinct.get(c, 0) <= n_rows / 2
        and n_distinct.get(c, 0) > LABEL_ENCODE_BROADCAST_CUTOFF
    }
    fused_cols = [c for c in cols if c not in high_card_label]
    counts = None
    if fused_cols:
        melted = base.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("__c"),
                            F.col(c).cast("string").alias("__v"),
                        )
                        for c in fused_cols
                    ]
                )
            ).alias("s")
        ).select("s.__c", "s.__v")
        # Eagerly materialized (not a dangling persist): every fused column
        # slices this table, so the one fact-table pass runs NOW and the
        # checkpoint blocks are dropped with the frame when the cleaned
        # plan is garbage-collected — nothing accumulates across repeated
        # clean_data calls.
        counts = (
            melted.groupBy("__c", "__v")
            .agg(F.count(F.lit(1)).alias("__freq"))
            .localCheckpoint(eager=True)
        )
        # __code ranks are computed ONLY over the E5 label slice: a fused
        # E4 frequency column has nunique > n/2 — corpus-sized — and a
        # row_number over its (single, per-column) window partition would
        # be a single-reducer sort at 100 TB. Label fused columns are all
        # <= LABEL_ENCODE_BROADCAST_CUTOFF distincts (larger ones routed
        # to label_encode's distributed rank above), so each window
        # partition here is provably bounded.
        label_fused = [c for c in fused_cols if n_distinct.get(c, 0) <= n_rows / 2]
        wcode = Window.partitionBy("__c").orderBy(F.asc_nulls_last("__v"))
        codes = (
            counts.where(F.col("__c").isin(label_fused)).withColumn(
                "__code", (F.row_number().over(wcode) - F.lit(1)).cast("long")
            )
            if label_fused
            else None
        )
    for c in cols:
        if c in high_card_label:
            df = label_encode(df, c, n_distinct=n_distinct.get(c), stats_from=base)
            continue
        if n_distinct.get(c, 0) > n_rows / 2:
            # E4 frequency: plain equality join (null keys stay null,
            # matching pandas .map of a value_counts dict). NO broadcast
            # hint: E4 fires when nunique > n/2, so this build side is
            # corpus-sized by definition — AQE picks the strategy (same
            # rule as frequency_encode / the high-card label path).
            slice_ = counts.where(F.col("__c") == c).drop("__c")
            df = (
                df.join(
                    slice_.select("__v", "__freq"),
                    df[c] == F.col("__v"),
                    "left",
                )
                .withColumn(c, F.col("__freq").cast("long"))
                .drop("__v", "__freq")
                .select(*df.columns)
            )
        else:
            # E5 label: null-safe join so null gets its (last) code,
            # matching LabelEncoder over stringified values
            slice_ = codes.where(F.col("__c") == c).drop("__c")
            df = (
                df.join(
                    F.broadcast(slice_.select("__v", "__code")),
                    df[c].cast("string").eqNullSafe(F.col("__v")),
                    "left",
                )
                .withColumn(c, F.col("__code"))
                .drop("__v", "__code")
                .select(*df.columns)
            )
    return df


def expand_datetimes(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """E7 — decompose each timestamp col into 6 features, drop the original
    (main.py:107-118). Day-of-week uses the pandas convention (Monday=0):
    Spark's dayofweek is Sunday=1, hence (dayofweek+5)%7. weekofyear is ISO
    in both engines."""
    cols = timestamp_columns(df) if cols is None else cols
    for c in cols:
        src = F.col(c)
        df = (
            df.withColumn(f"{c}_year", F.year(src).cast("long"))
            .withColumn(f"{c}_month", F.month(src).cast("long"))
            .withColumn(f"{c}_day", F.dayofmonth(src).cast("long"))
            .withColumn(f"{c}_hour", F.hour(src).cast("long"))
            .withColumn(f"{c}_dayofweek", ((F.dayofweek(src) + F.lit(5)) % 7).cast("long"))
            .withColumn(f"{c}_weekofyear", F.weekofyear(src).cast("long"))
            .drop(c)
        )
    return df


def iqr_bounds(df: DataFrame, cols: list[str]) -> dict[str, tuple[float, float]]:
    """O1 — exact Q1/Q3 per numeric column in ONE aggregate
    (main.py:121-123). F.percentile matches pandas' linear interpolation.

    Scale note: exact Percentile buffers the column on one reducer; at
    corpus scale use `operators.ranking.exact_percentiles` (scan-only
    distributed selection, same interpolation) for the quartiles."""
    if not cols:
        return {}
    aggs = [
        F.percentile(F.col(c).cast("double"), F.array(F.lit(0.25), F.lit(0.75))).alias(c)
        for c in cols
    ]
    row = df.agg(*aggs).first()
    out = {}
    for c in cols:
        q = row[c]
        if q is None or q[0] is None:
            continue
        q1, q3 = q[0], q[1]
        iqr = q3 - q1
        out[c] = (q1 - 1.5 * iqr, q3 + 1.5 * iqr)
    return out


def iqr_clip(df: DataFrame, bounds: dict[str, tuple[float, float]]) -> DataFrame:
    """O2 — np.clip to [Q1-1.5IQR, Q3+1.5IQR] (main.py:124-127), one
    projection for every column at once. np.clip on float bounds yields
    float64, so clipped columns become double."""
    exprs = []
    for c in df.columns:
        if c in bounds:
            lo, hi = bounds[c]
            exprs.append(
                F.least(F.greatest(F.col(c).cast("double"), F.lit(lo)), F.lit(hi)).alias(c)
            )
        else:
            exprs.append(F.col(c))
    return df.select(*exprs)


def clean_data(df: DataFrame) -> tuple[DataFrame, str]:
    """Full reference-parity cleaning stage (main.py:66-129).

    Returns (cleaned DataFrame, message) with the reference's message
    contract: "Data cleaned: (rows, cols) → (rows, cols) rows/columns".
    Cost: four passes over the data, 18 Spark jobs on F1 (see module
    docstring).
    """
    n_cols_in = len(df.columns)
    prof = profile(df)  # pass 1: fused scan
    original_shape = (prof.n_rows, n_cols_in)

    df = drop_all_null_columns(df, prof)
    need_mode = [
        c
        for c in string_columns(df)
        if 0 < prof.non_null.get(c, 0) < prof.n_rows
    ]
    modes = string_modes(df, need_mode)  # pass 2: melted mode pass
    df = impute(df, prof, modes)
    df = parse_datetime_columns(df, prof)
    df = encode_strings(df, prof.n_rows, prof.n_distinct)  # pass 3: melted counts
    df = expand_datetimes(df)

    num_cols = numeric_columns(df)
    # Cache: the encoded frame is scanned twice (clip-bounds agg + output).
    df = df.cache()
    bounds = iqr_bounds(df, num_cols)  # pass 4: quantile agg over encoded frame
    cleaned = iqr_clip(df, bounds)

    msg = f"Data cleaned: {original_shape} → ({prof.n_rows}, {len(cleaned.columns)}) rows/columns"
    return cleaned, msg
