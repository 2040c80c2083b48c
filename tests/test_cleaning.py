"""clean_data parity tests against in-process pandas replicas of the
reference semantics (FIXTURES.md F1-style frames)."""

import datetime as dt
import math

import pytest
from pyspark.sql import Row

from data_pipeline_agent_spark.operators.cleaning import (
    clean_data,
    expand_datetimes,
    frequency_encode,
    iqr_bounds,
    iqr_clip,
    label_encode,
    string_modes,
)
from data_pipeline_agent_spark.operators.profiling import profile


@pytest.fixture(scope="module")
def mixed_df(spark):
    rows = []
    for i in range(200):
        rows.append(
            (
                i,
                None if i % 25 == 0 else float(20 + (i % 50)),
                None if i % 40 == 0 else ["a", "b", "b", "c"][i % 4],
                f"code-{i}" if i < 190 else "code-0",  # high cardinality
                f"2023-0{1 + i % 9}-1{i % 8} 0{i % 9}:30:00",
                f"note-{i % 3} free-text",  # has '-', not parseable
                None,
            )
        )
    return spark.createDataFrame(
        rows,
        schema="id long, age double, segment string, ref_code string, signup string, notes string, ghost double",
    )


def test_profile_fused(spark, mixed_df):
    p = profile(mixed_df)
    assert p.n_rows == 200
    assert p.null_count("ghost") == 200
    assert p.null_count("age") == 8
    assert p.has_dash["signup"] and p.parse_ok["signup"] == p.non_null["signup"]
    assert p.has_dash["notes"] and p.parse_ok["notes"] < p.non_null["notes"]


def test_mode_tiebreak_smallest(spark):
    df = spark.createDataFrame([Row(c="b"), Row(c="b"), Row(c="a"), Row(c="a"), Row(c="z")])
    assert string_modes(df, ["c"]) == {"c": "a"}  # pandas mode()[0] = smallest on tie


def test_label_encode_alphabetical(spark):
    df = spark.createDataFrame([Row(s="banana"), Row(s="apple"), Row(s="cherry"), Row(s="apple")])
    out = {r["s"] for r in label_encode(df, "s").collect()}
    # sklearn LabelEncoder: sorted class order -> apple=0, banana=1, cherry=2
    assert out == {0, 1, 2}
    got = {r0["s"]: r1["s"] for r0, r1 in zip(df.collect(), label_encode(df, "s").collect())}


def test_frequency_encode_counts(spark):
    df = spark.createDataFrame([Row(s="x"), Row(s="x"), Row(s="y")])
    vals = sorted(r["s"] for r in frequency_encode(df, "s").collect())
    assert vals == [1, 2, 2]


def test_datetime_expansion_conventions(spark):
    # 2024-01-01 is a Monday -> pandas dayofweek 0, ISO week 1
    df = spark.createDataFrame([Row(ts=dt.datetime(2024, 1, 1, 13, 0, 0))])
    r = expand_datetimes(df).first()
    assert (r["ts_year"], r["ts_month"], r["ts_day"], r["ts_hour"]) == (2024, 1, 1, 13)
    assert r["ts_dayofweek"] == 0
    assert r["ts_weekofyear"] == 1
    # 2023-01-01 is a Sunday -> pandas dayofweek 6, ISO week 52 (of 2022)
    r2 = expand_datetimes(spark.createDataFrame([Row(ts=dt.datetime(2023, 1, 1))])).first()
    assert r2["ts_dayofweek"] == 6
    assert r2["ts_weekofyear"] == 52


def test_iqr_clip_matches_numpy(spark):
    import numpy as np
    import pandas as pd

    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 100.0]
    s = pd.Series(vals)
    q1, q3 = s.quantile(0.25), s.quantile(0.75)
    lo, hi = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
    expected = np.clip(s, lo, hi).tolist()

    df = spark.createDataFrame([Row(v=v) for v in vals])
    b = iqr_bounds(df, ["v"])
    assert b["v"] == pytest.approx((lo, hi))
    got = sorted(r["v"] for r in iqr_clip(df, b).collect())
    assert got == pytest.approx(sorted(expected))


def test_clean_data_end_to_end(spark, mixed_df):
    cleaned, msg = clean_data(mixed_df)
    cols = cleaned.columns
    assert "ghost" not in cols  # P1 all-null drop
    assert "signup" not in cols and "signup_year" in cols  # E3+E7
    assert "signup_dayofweek" in cols and "signup_weekofyear" in cols
    # every remaining column is numeric after encoding
    from pyspark.sql.types import NumericType

    assert all(isinstance(f.dataType, NumericType) for f in cleaned.schema.fields)
    assert msg.startswith("Data cleaned: (200, 7)")
    rows = cleaned.collect()
    assert len(rows) == 200
    assert not any(v is None for r in rows for v in r)


def test_label_encode_high_cardinality_no_forced_broadcast(spark):
    """Above LABEL_ENCODE_BROADCAST_CUTOFF the encoder must (a) not force-
    broadcast the code table (billions of distincts at 100 TB would OOM a
    forced build side) and (b) still assign dense alphabetical codes via
    the distributed range-partitioned rank."""
    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.operators.cleaning import label_encode

    n = 1_000_000
    df = spark.range(n).select(F.format_string("v%07d", F.col("id")).alias("s"))
    out = label_encode(df, "s", n_distinct=n)

    plan = out._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in plan, "high-card path must not force a broadcast"

    # zero-padded values sort lexically == numerically, so code == id
    checked = (
        label_encode(
            df.withColumn("orig", F.col("s")).select("s", "orig"), "s", n_distinct=n
        )
        .where(F.col("orig").isin("v0000000", "v0000001", "v0123456", "v0999999"))
        .collect()
    )
    got = {r["orig"]: r["s"] for r in checked}
    assert got == {"v0000000": 0, "v0000001": 1, "v0123456": 123456, "v0999999": 999999}
    stats = label_encode(df, "s", n_distinct=n).agg(
        F.count_distinct("s").alias("k"), F.min("s").alias("lo"), F.max("s").alias("hi")
    ).first()
    assert (stats["k"], stats["lo"], stats["hi"]) == (n, 0, n - 1)


def test_clean_data_bounded_job_count(spark):
    """The scale contract of the cleaning stage: the number of passes over
    the data is CONSTANT in column count (fused profiling/stats
    aggregates), not one-pass-per-column like the reference's eager pandas
    loops. 40 mixed columns must clean in <= 60 jobs (four fused passes,
    a few jobs each under AQE, plus a tiny broadcast build per
    label-encoded column)."""
    import random

    from data_pipeline_agent_spark.operators.cleaning import clean_data

    rng = random.Random(11)
    n = 200
    data, schema = [], []
    for i in range(20):
        schema.append(f"num{i} double")
    for i in range(20):
        schema.append(f"cat{i} string")
    for r in range(n):
        row = [
            (None if rng.random() < 0.1 else rng.gauss(0, 1)) for _ in range(20)
        ] + [
            (None if rng.random() < 0.1 else f"v{rng.randrange(5)}")
            for _ in range(20)
        ]
        data.append(tuple(row))
    df = spark.createDataFrame(data, ", ".join(schema))

    sc = spark.sparkContext
    jobs_before = sc._jsc.sc().dagScheduler().numTotalJobs()
    cleaned, msg = clean_data(df)
    cleaned.collect()
    jobs_after = sc._jsc.sc().dagScheduler().numTotalJobs()
    n_jobs = jobs_after - jobs_before
    # Jobs stay bounded (per-column broadcast builds over CACHED slices
    # are tiny); the old exponential-plan regime hung outright and the
    # per-column-rescan regime ran 70+.
    assert n_jobs <= 60, f"cleaning ran {n_jobs} jobs for 40 columns"
    # The sharp scale property: the BASE frame appears a constant number
    # of times in the final plan (main chain + the one melted code-table
    # build) — not once per encoded column (22x), and not 2^k (the
    # Catalyst hang this test was written against).
    plan = cleaned._jdf.queryExecution().optimizedPlan().toString()
    n_base_refs = plan.count("LocalRelation") + plan.count("LocalTableScan")
    assert n_base_refs <= 4, f"base frame appears {n_base_refs}x in the plan"
    assert "Data cleaned" in msg


def test_ordered_prefix_matches_single_reducer_window(spark):
    """ordered_prefix (range-partitioned rank + driver prefix-summed running
    sum) must agree exactly with the textbook unpartitioned window it
    replaces — including duplicate order keys and a null value."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.operators.ranking import ordered_prefix

    rng = random.Random(7)
    rows = [(i, float(rng.randrange(20))) for i in range(500)]
    rows[13] = (13, None)
    df = spark.createDataFrame(rows, "id long, v double")

    got, n, total = ordered_prefix(df, [F.desc_nulls_last("v"), F.asc("id")], "v")
    assert n == 500
    w = Window.orderBy(F.desc_nulls_last("v"), F.asc("id"))
    want = df.select(
        "id",
        F.row_number().over(w).alias("rk"),
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    got_m = {r["id"]: (r["rk"], r["cum"]) for r in got.collect()}
    want_m = {r["id"]: (r["rk"], r["cum"]) for r in want.collect()}
    assert abs(total - sum(v for _, v in rows if v is not None)) < 1e-9
    for k in want_m:
        assert got_m[k][0] == want_m[k][0], f"rank mismatch at id={k}"
        assert abs(got_m[k][1] - want_m[k][1]) < 1e-6, f"cum mismatch at id={k}"


def test_ordered_prefix_null_heavy_tail(spark):
    """With nulls-last ordering and a large NULL tail, whole trailing range
    partitions hold only NULL values; their running sum must still carry
    the total from earlier partitions (off + NULL must not null it), and a
    frame that is ALL null must yield all-NULL cums like the window does."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.operators.ranking import ordered_prefix

    rows = [(i, float(i % 10)) for i in range(100)] + [
        (i, None) for i in range(100, 500)
    ]
    df = spark.createDataFrame(rows, "id long, v double")
    got, n, total = ordered_prefix(df, [F.desc_nulls_last("v"), F.asc("id")], "v")
    assert n == 500 and abs(total - sum(float(i % 10) for i in range(100))) < 1e-9
    w = Window.orderBy(F.desc_nulls_last("v"), F.asc("id"))
    want = df.select(
        "id",
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    got_m = {r["id"]: r["cum"] for r in got.collect()}
    for r in want.collect():
        assert abs(got_m[r["id"]] - r["cum"]) < 1e-6, f"cum mismatch at id={r['id']}"

    # all-NULL frame: every cum NULL (empty non-null prefix), totals zero
    all_null = spark.createDataFrame(
        [(i, None) for i in range(50)], "id long, v double"
    )
    got2, n2, total2 = ordered_prefix(all_null, [F.asc("id")], "v")
    assert n2 == 50 and total2 == 0.0
    assert all(r["cum"] is None for r in got2.collect())


def test_exact_percentiles_matches_spark_percentile(spark):
    """exact_percentiles (range-partitioned order-statistic selection) must
    reproduce F.percentile's linear-interpolated values exactly — including
    heavy duplicates, boundary probs 0/1, interpolated ranks, and a key
    with no rows (NULL, like F.percentile over an empty set)."""
    import random

    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.operators.ranking import exact_percentiles

    rng = random.Random(11)
    rows = [("a", float(rng.randrange(7))) for _ in range(997)]  # heavy dups
    rows += [("b", rng.gauss(0, 100.0)) for _ in range(313)]  # odd n, continuous
    df = spark.createDataFrame(rows, "k string, v double")

    specs = [
        ("a", 0.0, "a_min"),
        ("a", 0.25, "a_p25"),
        ("a", 0.5, "a_p50"),
        ("a", 0.999, "a_p999"),
        ("a", 1.0, "a_max"),
        ("b", 0.37, "b_p37"),
        ("b", 0.5, "b_p50"),
        ("missing", 0.5, "m_p50"),
    ]
    got = exact_percentiles(df, "k", "v", specs).collect()[0].asDict()

    want = {}
    for key, prob, alias in specs:
        r = (
            df.where(F.col("k") == key)
            .agg(F.percentile(F.col("v"), F.lit(prob)))
            .first()[0]
        )
        want[alias] = r
    assert got["m_p50"] is None
    for alias, w in want.items():
        if w is None:
            assert got[alias] is None, alias
        else:
            assert abs(got[alias] - w) < 1e-9 * max(1.0, abs(w)), (
                alias,
                got[alias],
                w,
            )


def test_exact_percentiles_histogram_refinement_path(spark):
    """Force the non-GK code paths: max_collect tiny so every key takes
    iterative histogram refinement (and the final exact sliver agg), plus
    an all-equal key that hits the span==0 short-circuit and a two-value
    key that exercises the sub-ulp 'stuck' fallback. Values must still
    match F.percentile exactly."""
    import random

    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.operators.ranking import exact_percentiles

    rng = random.Random(5)
    rows = [("u", rng.uniform(-50, 50)) for _ in range(2000)]  # continuous
    rows += [("c", 7.25)] * 500  # constant key: lo == mx short-circuit
    rows += [("t", 1.0)] * 300 + [("t", 1.0 + 2**-50)] * 300  # near-ulp pair
    df = spark.createDataFrame(rows, "k string, v double")

    specs = [
        ("u", 0.1, "u_p10"),
        ("u", 0.5, "u_p50"),
        ("u", 0.9, "u_p90"),
        ("c", 0.5, "c_p50"),
        ("t", 0.25, "t_p25"),
        ("t", 0.75, "t_p75"),
    ]
    got = exact_percentiles(
        df, "k", "v", specs, n_buckets=16, max_collect=50, max_iters=30
    ).collect()[0].asDict()
    for key, prob, alias in specs:
        want = (
            df.where(F.col("k") == key)
            .agg(F.percentile(F.col("v"), F.lit(prob)))
            .first()[0]
        )
        assert abs(got[alias] - want) <= 1e-12 * max(1.0, abs(want)), (
            alias, got[alias], want,
        )


def test_grouped_ordered_prefix_matches_per_group_window(spark):
    """grouped_ordered_prefix (range shuffle + per-group offsets) must be
    row-identical to Window.partitionBy(group) row_number / running sum —
    the plan it replaces for bounded group domains over scaling tables.
    Includes a NULL group key, a 1-row group, and duplicate order values."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.operators.ranking import grouped_ordered_prefix

    rng = random.Random(11)
    rows = []
    for i in range(500):
        g = rng.choice(["a", "b", "c", None])
        rows.append((i, g, float(rng.randrange(20))))
    rows.append((9999, "solo", 5.0))  # 1-row group
    df = spark.createDataFrame(rows, "id long, g string, v double").repartition(16)

    got = grouped_ordered_prefix(
        df,
        ["g"],
        [F.desc("v"), F.asc("id")],
        value_col="v",
        rank_col="rk",
        cum_col="cum",
        n_col="n",
    )
    w = Window.partitionBy("g").orderBy(F.desc("v"), F.asc("id"))
    want = df.select(
        "id",
        "g",
        "v",
        F.row_number().over(w).cast("long").alias("rk"),
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.count(F.lit(1)).over(Window.partitionBy("g")).cast("long").alias("n"),
    )
    gp = {r["id"]: (r["rk"], round(r["cum"], 6), r["n"]) for r in got.collect()}
    wp = {r["id"]: (r["rk"], round(r["cum"], 6), r["n"]) for r in want.collect()}
    assert gp == wp


def test_grouped_ordered_prefix_rejects_scaling_group_domain(spark):
    """The recipe exists for BOUNDED group domains; a scaling domain must
    raise (Window.partitionBy is the right plan there) rather than
    silently collect per-group offsets for millions of groups."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from data_pipeline_agent_spark.operators.ranking import grouped_ordered_prefix

    df = spark.range(100).select(
        F.col("id"), F.col("id").alias("g"), F.lit(1.0).alias("v")
    )
    with _pytest.raises(ValueError, match="max_groups"):
        grouped_ordered_prefix(
            df, ["g"], [F.asc("id")], value_col="v", max_groups=10
        )
