"""Gap-fill parity vs pandas interpolate(method='linear', limit=k,
limit_direction='both') — the reference's chunk_interpolate semantics
(modules/preprocessing.py:185-208)."""

import numpy as np
import pandas as pd
import pytest

from more_pattern_extraction_spark.operators import gapfill as G
from more_pattern_extraction_spark.operators import rollup as R


@pytest.mark.parametrize("limit", [1, 2])
def test_interpolate_matches_pandas(spark, limit):
    vals = [1.0, None, None, None, 5.0, None, 7.0, None, None,
            None, None, 3.0, None, 5.0, 2.0, None]
    pdf = pd.DataFrame(
        {
            "conv_id": ["c1"] * len(vals),
            "bucket_start": pd.date_range("2024-01-01", periods=len(vals), freq="1min"),
            "x": vals,
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        G.interpolate(df, ["x"], limit=limit)
        .orderBy("bucket_start")
        .toPandas()["x_filled"]
        .values
    )
    exp = (
        pd.Series(vals, dtype="float64")
        .interpolate(method="linear", limit=limit, limit_direction="both")
        .values
    )
    np.testing.assert_allclose(got.astype(float), exp, equal_nan=True)


def test_interpolate_multi_conv_leading_trailing(spark):
    pdf = pd.DataFrame(
        {
            "conv_id": ["a"] * 5 + ["b"] * 4,
            "bucket_start": list(pd.date_range("2024-01-01", periods=5, freq="1min"))
            + list(pd.date_range("2024-01-01", periods=4, freq="1min")),
            "x": [None, None, 3.0, None, None, 1.0, None, None, 4.0],
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        G.interpolate(df, ["x"], limit=1)
        .orderBy("conv_id", "bucket_start")
        .toPandas()
    )
    for cid in ["a", "b"]:
        sub = got[got.conv_id == cid]["x_filled"].values.astype(float)
        exp = (
            pdf[pdf.conv_id == cid]["x"]
            .astype("float64")
            .interpolate(method="linear", limit=1, limit_direction="both")
            .values
        )
        np.testing.assert_allclose(sub, exp, equal_nan=True)


def test_densify_creates_missing_buckets(spark, transcripts):
    r1m = R.rollup_from_raw(R.turn_features(transcripts), "1m")
    dense = G.densify(r1m, "1m")
    n_rollup = r1m.count()
    n_dense = dense.count()
    assert n_dense > n_rollup  # generator guarantees missing buckets
    assert dense.filter("is_gap").count() == n_dense - n_rollup
    # spine is truly dense: per conv, count == (max-min)/60 + 1
    import pyspark.sql.functions as F

    chk = dense.groupBy("conv_id").agg(
        F.count("*").alias("n"),
        ((F.max("bucket_start").cast("long") - F.min("bucket_start").cast("long")) / 60 + 1).alias("expected"),
    )
    assert chk.filter("n != expected").count() == 0


def test_locf(spark):
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * 5,
            "bucket_start": pd.date_range("2024-01-01", periods=5, freq="1min"),
            "x": [None, 2.0, None, None, 5.0],
        }
    )
    got = (
        G.locf(spark.createDataFrame(pdf), ["x"])
        .orderBy("bucket_start")
        .toPandas()["x_locf"]
        .values.astype(float)
    )
    np.testing.assert_allclose(got, [np.nan, 2.0, 2.0, 2.0, 5.0], equal_nan=True)


def test_gap_fill_monotone(spark, transcripts):
    """A second interpolation pass only extends fills (deeper into long
    gaps, mirroring pandas re-apply) — it never changes a value that the
    first pass produced (SURVEY §5.2, adapted: limit-based interp is not
    idempotent, in pandas or here; it is monotone)."""
    r1m = R.rollup_from_raw(R.turn_features(transcripts), "1m")
    once = G.gap_fill_rollup(r1m, "1m").select(
        "conv_id", "bucket_start", "latency_avg_filled"
    )
    again = G.interpolate(
        once.withColumnRenamed("latency_avg_filled", "latency_avg"), ["latency_avg"], 1
    ).select("conv_id", "bucket_start", "latency_avg_filled")
    a = once.orderBy("conv_id", "bucket_start").toPandas()["latency_avg_filled"].values.astype(float)
    b = again.orderBy("conv_id", "bucket_start").toPandas()["latency_avg_filled"].values.astype(float)
    mask = ~np.isnan(a)
    np.testing.assert_allclose(a[mask], b[mask])
    assert (~np.isnan(b)).sum() >= mask.sum()


def test_bucket_spine_day_split_equals_full_sequence(spark):
    """The per-(conv, day) bounded sequences must union to EXACTLY the
    single full-range minute grid — including partial first/last days and
    a conversation contained in one day."""
    import pandas as pd
    from pyspark.sql import functions as F

    from more_pattern_extraction_spark.operators import gapfill as G

    rows = [
        # c1: 3-day span, starts/ends off-midnight
        {"conv_id": "c1", "bucket_start": pd.Timestamp("2024-01-01 07:33"), "v": 1.0},
        {"conv_id": "c1", "bucket_start": pd.Timestamp("2024-01-03 18:05"), "v": 2.0},
        # c2: single-day, single-bucket
        {"conv_id": "c2", "bucket_start": pd.Timestamp("2024-02-10 12:00"), "v": 3.0},
    ]
    r = spark.createDataFrame(pd.DataFrame(rows))
    got = G.bucket_spine(r, "1m").toPandas().sort_values(
        ["conv_id", "bucket_start"]
    ).reset_index(drop=True)
    c1 = got[got.conv_id == "c1"].bucket_start
    exp = pd.date_range("2024-01-01 07:33", "2024-01-03 18:05", freq="1min")
    assert list(c1) == list(exp)
    c2 = got[got.conv_id == "c2"].bucket_start
    assert list(c2) == [pd.Timestamp("2024-02-10 12:00")]


def test_interpolate_segmented_equals_plain(spark):
    """Day-segmented interpolate (the hot-conversation path used by
    gap_fill_rollup) must be bit-identical to the plain per-conversation
    windows on every shape that stresses the carry logic: values days
    apart, ENTIRE days of nulls (empty-segment carry), leading/trailing
    nulls, several limits, plus the fused _locf column."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(5)
    frames = []
    for cid in ("a", "b", "c"):
        n = int(rng.integers(2000, 5000))  # ~1.4-3.5 days of 1m buckets
        x = rng.normal(0, 1, n)
        # sparsify: ~97% null, so anchors are often days apart
        x[rng.random(n) > 0.03] = np.nan
        if cid == "b":
            x[: n // 2] = np.nan   # leading half (incl. whole days) null
        if cid == "c":
            x[n // 3:] = np.nan    # trailing days null
        frames.append(pd.DataFrame({
            "conv_id": cid,
            "bucket_start": pd.date_range("2024-03-30 17:00", periods=n,
                                          freq="1min"),
            "x": x,
        }))
    df = spark.createDataFrame(pd.concat(frames, ignore_index=True))
    for limit in (1, 7, 100000):
        plain = (
            G.interpolate(df, ["x"], limit=limit, with_locf=True)
            .toPandas().sort_values(["conv_id", "bucket_start"])
            .reset_index(drop=True)
        )
        seg = (
            G.interpolate(df, ["x"], limit=limit, with_locf=True,
                          segment="day")
            .toPandas().sort_values(["conv_id", "bucket_start"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(seg[plain.columns], plain)


def test_interpolate_dense_equals_plain(spark, transcripts):
    """gap_fill_rollup's dense-grid skew path (interpolate_dense: anchor
    times instead of row positions, sparse-side carry summary) must be
    bit-identical to the plain per-conversation interpolate on the same
    densified grid — filled values, _locf, and gap_filled flags."""
    from pyspark.sql import functions as F

    r1m = R.rollup_from_raw(R.turn_features(transcripts), "1m")
    dense = G.densify(r1m, "1m")
    dense = dense.withColumn("turn_cnt", F.coalesce("turn_cnt", F.lit(0))) \
                 .withColumn("tool_call_cnt", F.coalesce("tool_call_cnt", F.lit(0)))
    for limit in (1, 10):
        plain = (
            G.interpolate(dense, ["latency_avg"], limit=limit, with_locf=True)
            .toPandas().sort_values(["conv_id", "bucket_start"])
            .reset_index(drop=True)
        )
        got = (
            G.interpolate_dense(dense, r1m, ["latency_avg"], limit=limit,
                                step_s=60, with_locf=True)
            .toPandas().sort_values(["conv_id", "bucket_start"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got[plain.columns], plain)


def test_gap_fill_rollup_adaptive_gate(spark, transcripts):
    """The dense-vs-plain gate (GAPFILL_DENSE_AB_r06.json: dense costs
    +24% wall on non-skew data) is value-neutral: both forced branches
    and the auto default produce identical rows, and auto picks the
    plain branch when every conversation grid is below GRID_SEG_ROWS."""
    from pyspark.sql import functions as F

    r1m = R.rollup_from_raw(R.turn_features(transcripts), "1m")
    mx = (
        r1m.groupBy("conv_id")
        .agg(((F.max("bucket_start").cast("double")
               - F.min("bucket_start").cast("double")) / 60).alias("s"))
        .agg(F.max("s")).first()[0]
    )
    assert mx + 1 < G.GRID_SEG_ROWS  # fixture is below the threshold

    def rows(df):
        return df.select(
            "conv_id", "bucket_start", "latency_avg_filled", "latency_avg_locf"
        ).orderBy("conv_id", "bucket_start").collect()

    auto = rows(G.gap_fill_rollup(r1m, "1m"))
    plain = rows(G.gap_fill_rollup(r1m, "1m", segment_rows=None))
    dense = rows(G.gap_fill_rollup(r1m, "1m", segment_rows=1))
    assert auto == plain == dense

    # plan witness: auto == plain here (no day-carry join in the plain
    # form — interpolate_dense is the only consumer of the carry summary)
    auto_plan = G.gap_fill_rollup(r1m, "1m")._jdf.queryExecution().executedPlan().toString()
    dense_plan = G.gap_fill_rollup(r1m, "1m", segment_rows=1)._jdf.queryExecution().executedPlan().toString()
    assert auto_plan.count("Window") < dense_plan.count("Window") or len(auto_plan) < len(dense_plan)


def test_gap_fill_rollup_gate_picks_dense_on_wide_grid(spark):
    """Skew direction of the auto gate: one conversation whose grid spans
    >= GRID_SEG_ROWS minute-buckets (the skew harness's hot-conversation
    shape) must flip auto onto the day-segmented dense path.  Plan-only:
    the witness agg runs on the 2-row sparse rollup; the 100k-row grid is
    never collected."""
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1)
    t1 = t0 + dt.timedelta(seconds=60 * G.GRID_SEG_ROWS)
    pdf = pd.DataFrame(
        {
            "conv_id": ["hot", "hot"],
            "bucket_start": [t0, t1],
            "turn_cnt": [3, 4],
            "tool_call_cnt": [1, 0],
            "latency_avg": [1.5, 2.5],
        }
    )
    r1m = spark.createDataFrame(pdf)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    auto_plan = plan(G.gap_fill_rollup(r1m, "1m"))
    dense_plan = plan(G.gap_fill_rollup(r1m, "1m", segment_rows=1))
    plain_plan = plan(G.gap_fill_rollup(r1m, "1m", segment_rows=None))
    # auto matches the dense form here, not the plain one: the dense path's
    # day-carry join adds plan nodes the plain form lacks
    assert auto_plan.count("Window") == dense_plan.count("Window")
    assert dense_plan.count("Window") != plain_plan.count("Window") or len(
        dense_plan
    ) > len(plain_plan)


_ROLLUP_SCHEMA = (
    "conv_id string, bucket_start timestamp, turn_cnt bigint, tool_call_cnt bigint, "
    "latency_sum double, latency_cnt bigint, latency_min double, latency_max double, "
    "latency_p95 double, latency_avg double, tier string"
)


def _random_rollup(spark, seed):
    """A full-schema 1m rollup: sparse buckets over up to four days (runs
    that cross midnight and span whole days), NULL feature values
    scattered, leading and trailing, and a one-row conversation."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(6):
        span = 0 if i == 0 else int(rng.integers(60, 4 * 1440))
        k = int(rng.integers(1, 4 if i % 2 else 30))
        offs = sorted({0, span, *rng.integers(0, span + 1, k).tolist()})
        t0 = pd.Timestamp("2024-03-30 17:00") + pd.Timedelta(minutes=int(rng.integers(0, 600)))
        for j, off in enumerate(offs):
            avg = float(rng.normal())
            if rng.random() < 0.3 or (i == 3 and j < 2) or (i == 4 and j >= len(offs) - 3):
                avg = None  # scattered, leading (conv 3), trailing (conv 4)
            mx = None if rng.random() < 0.3 else float(rng.normal())
            n = int(rng.integers(1, 9))
            rows.append((f"c{i}", (t0 + pd.Timedelta(minutes=off)).to_pydatetime(), n,
                         int(rng.integers(0, n + 1)), avg, n, avg, mx, avg, avg, "1m"))
    return spark.createDataFrame(rows, _ROLLUP_SCHEMA)


@pytest.mark.parametrize("limit", [1, 2, 3])
def test_interpolate_runs_equals_densify_interpolate(spark, limit):
    """The plain gap-fill path (run generation over the sparse rows) equals
    densify → count-coalesce → interpolate on every column, bit for bit."""
    from pyspark.sql import functions as F

    cols = ["latency_avg", "latency_max"]
    for seed in (limit, limit + 10):
        r = _random_rollup(spark, seed)
        dense = G.densify(r, "1m").withColumn(
            "turn_cnt", F.coalesce("turn_cnt", F.lit(0))
        ).withColumn("tool_call_cnt", F.coalesce("tool_call_cnt", F.lit(0)))
        want = G.interpolate(dense, cols, limit=limit, with_locf=True)
        got = G.interpolate_runs(r, "1m", cols, limit=limit, with_locf=True)
        assert got.columns == want.columns

        def rows(df):
            return df.toPandas().sort_values(["conv_id", "bucket_start"]).reset_index(drop=True)

        a, b = rows(got), rows(want)
        assert a["gap_filled"].any() and a["is_gap"].any()
        pd.testing.assert_frame_equal(a, b, check_exact=True)
