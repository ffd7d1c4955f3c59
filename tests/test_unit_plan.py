"""The pipeline's collected unit plan (plans/pipeline.plan_units), its
gate witnesses, and its JVM-local control frames: dirty-input parity of
cold / resume / partial-then-resume runs, the same gate branch as the
exact probes on both sides of each threshold, no Python-backed frames on
the control path, and no cache left behind."""

import pytest
from pyspark.sql import functions as F

from more_pattern_extraction_spark.operators import gapfill as G
from more_pattern_extraction_spark.operators import rollup as R
from more_pattern_extraction_spark.plans import pipeline as PL
from more_pattern_extraction_spark.plans.checkpoint import CheckpointStore
from more_pattern_extraction_spark.plans.repair import repair_late_turns
from more_pattern_extraction_spark.session import drain_checksum
from more_pattern_extraction_spark.sources import catalog as CAT
from more_pattern_extraction_spark.sources.transcripts import generate_transcripts

TABLES = ["rollup_1m", "distinct_1m", "rollup_1m_filled", "chunks_1m", "rollup_1h", "rollup_1d"]


def _digests(spark, root):
    return {t: drain_checksum(CAT.read_table(spark, root, t)) for t in TABLES}


@pytest.fixture(scope="module")
def dirty(transcripts, tmp_path_factory):
    """The shared fixture plus NULL-ts copies of some turns and NULL-conv_id
    copies of others, written and re-read like a real input."""
    null_ts = transcripts.filter(F.col("turn_idx") % 17 == 3).withColumn(
        "ts", F.lit(None).cast("timestamp")
    ).withColumn("turn_idx", F.col("turn_idx") + 10_000)
    # turn_idx stays unique inside the NULL conversation, so its lag order
    # is deterministic
    null_conv = transcripts.filter(F.col("turn_idx") % 13 == 5).withColumn(
        "turn_idx", F.col("turn_idx") * 100 + F.substring("conv_id", 6, 5).cast("int")
    ).withColumn("conv_id", F.lit(None).cast("string"))
    path = str(tmp_path_factory.mktemp("dirty") / "turns")
    transcripts.unionByName(null_ts).unionByName(null_conv).write.parquet(path)
    return transcripts.sparkSession.read.parquet(path)


def test_dirty_input_cold_resume_partial(spark, dirty, tmp_path):
    units = CAT.with_layout_cols(dirty, 8).select("conv_bucket", "ts_day").distinct()
    n_units = units.count()
    n_undated = units.filter(F.col("ts_day").isNull()).count()
    assert n_undated > 0
    n_dated = dirty.filter(F.col("ts").isNotNull()).count()

    cold = str(tmp_path / "cold")
    m = PL.run_pipeline(spark, dirty, cold, "s", n_buckets=8)
    assert (m["units_total"], m["units_done"], m["units_skipped"], m["turns"]) == (
        n_units, n_units, 0, n_dated)
    want = _digests(spark, cold)
    assert CAT.read_table(spark, cold, "rollup_1m").filter(
        F.col("conv_id").isNull()).count() > 0

    # a NULL-ts_day unit never matches its checkpoint row (SQL anti-join),
    # so a resume redoes those units: no turns, every table value-identical
    m = PL.run_pipeline(spark, dirty, cold, "s", n_buckets=8)
    assert (m["units_total"], m["units_done"], m["units_skipped"], m["turns"]) == (
        n_units, n_undated, n_units - n_undated, 0)
    assert _digests(spark, cold) == want

    part = str(tmp_path / "part")
    head = dirty.filter(F.col("ts") < "2024-01-02")
    m1 = PL.run_pipeline(spark, head, part, "s", n_buckets=8)
    assert m1["turns"] == head.count()
    m2 = PL.run_pipeline(spark, dirty, part, "s", n_buckets=8)
    assert m2["units_done"] == n_units - m1["units_done"]
    assert m2["turns"] == n_dated - m1["turns"]
    assert _digests(spark, part) == want


def test_plan_units_counts_every_turn(spark, dirty):
    plan = PL.plan_units(dirty, 8)
    assert sum(n for _, _, n in plan.units) == dirty.count()
    assert plan.max_turn_idx == dirty.agg(F.max("turn_idx")).first()[0]
    assert PL.plan_units(dirty, 8, with_turn_idx=False).max_turn_idx is None


def _small(spark, max_turn_idx):
    t = generate_transcripts(spark, n_convs=3, base_turns=10, hot_convs=1, hot_mult=8)
    return t.filter(F.col("turn_idx") <= max_turn_idx)


@pytest.mark.parametrize("below", [True, False])
def test_lag_gate_matches_exact_probe(spark, monkeypatch, tmp_path, below):
    threshold = 40
    turns = _small(spark, threshold - 1 if below else threshold)
    monkeypatch.setattr(R, "LAG_SEG_ROWS", threshold)
    exact = R.lag_segment_rows(turns.agg(F.max("turn_idx")).first()[0])
    assert exact == (None if below else threshold)

    seen = []
    orig = R.turn_features

    def spy(df, latency_col=None, seg_rows="auto"):
        seen.append(seg_rows)
        return orig(df, latency_col=latency_col, seg_rows=seg_rows)

    monkeypatch.setattr(R, "turn_features", spy)
    PL.run_pipeline(spark, turns, str(tmp_path / "out"), "s", n_buckets=4)
    assert seen == [exact]


def test_grid_witness_matches_exact_probe(spark, monkeypatch):
    """Witness-level: conclusive below the threshold with no Spark job,
    otherwise the exact probe, on both sides of GRID_SEG_ROWS."""
    import datetime as dt

    threshold = 3000
    monkeypatch.setattr(G, "GRID_SEG_ROWS", threshold)
    t0 = dt.datetime(2024, 1, 1)

    def rollup(span_minutes):
        t1 = t0 + dt.timedelta(minutes=span_minutes)
        return spark.createDataFrame([("c", t0), ("c", t1), ("d", t0)],
                                     "conv_id string, bucket_start timestamp")

    sc = spark.sparkContext
    sc.setJobGroup("grid_witness", "grid_witness")
    try:
        # 2 days of 1m buckets (2880) cannot reach 3000: plain, no job
        assert G.grid_segment_rows(rollup(2879), "1m", day_span=2) is None
        assert not sc.statusTracker().getJobIdsForGroup("grid_witness")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert G.grid_segment_rows(rollup(2879), "1m") is None
    # 3 days can: the exact probe decides, just below and at the threshold
    for span, want in ((threshold - 2, None), (threshold - 1, threshold)):
        r = rollup(span)
        assert G.grid_segment_rows(r, "1m", day_span=3) == want
        assert G.grid_segment_rows(r, "1m") == want


def test_pipeline_grid_gate_matches_exact_probe(spark, monkeypatch, tmp_path):
    """Pipeline-level: the branch passed to gap_fill_rollup equals the exact
    probe's on the stored rollup_1m, for a conclusive witness and for an
    inconclusive one just below and at the threshold."""
    turns = _small(spark, 79)
    probe_root = str(tmp_path / "probe")
    PL.run_pipeline(spark, turns, probe_root, "s", n_buckets=4)
    stored = CAT.read_table(spark, probe_root, "rollup_1m")
    span = stored.groupBy("conv_id").agg(
        ((F.max("bucket_start").cast("double") - F.min("bucket_start").cast("double"))
         / 60).alias("s")).agg(F.max("s")).first()[0]
    grid = int(span) + 1
    days = CAT.partition_day_span(probe_root, "rollup_1m")
    assert grid <= days * 1440

    seen = []
    orig = G.gap_fill_rollup

    def spy(rollup, tier="1m", limit=1, segment_rows="auto"):
        seen.append(segment_rows)
        return orig(rollup, tier, limit=limit, segment_rows=segment_rows)

    monkeypatch.setattr(G, "gap_fill_rollup", spy)
    for i, threshold in enumerate((days * 1440 + 1, grid + 1, grid)):
        monkeypatch.setattr(G, "GRID_SEG_ROWS", threshold)
        exact = G.grid_segment_rows(stored, "1m")
        seen.clear()
        PL.run_pipeline(spark, turns, str(tmp_path / f"out{i}"), "s", n_buckets=4)
        assert seen == [exact] == [threshold if threshold == grid else None]


def _plan(df):
    return df._jdf.queryExecution().toString()


def test_control_frames_are_jvm_local(spark, transcripts, tmp_path):
    cp = CheckpointStore(spark, str(tmp_path / "missing"))
    frames = {
        "completed": cp.completed("job", "1m"),
        "pending units": PL.unit_frame(spark, PL.plan_units(transcripts, 8).units),
        "metrics row": cp.metrics_row("job", wall_s=1.5, turns=3.0),
    }
    for name, df in frames.items():
        p = _plan(df)
        assert "ExistingRDD" not in p and "LogicalRDD" not in p, (name, p)
        assert "LocalRelation" in p, (name, p)
    assert frames["completed"].count() == 0
    row = frames["metrics row"].collect()[0]
    assert (row.job, row.wall_s, row.turns) == ("job", 1.5, 3.0)


def test_no_cache_left_behind(spark, transcripts, tmp_path):
    """run_pipeline, its no-op resume and repair_late_turns add no entry to
    the persistent-RDD registry (the session's own cached fixtures are
    there before and after)."""
    def cached():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    late = (F.col("conv_id") == "conv_00003") & (F.col("turn_idx") == 7)
    out = str(tmp_path / "out")
    before = cached()
    PL.run_pipeline(spark, transcripts.filter(~late), out, "ontime", n_buckets=8)
    assert cached() == before
    repair_late_turns(spark, transcripts, transcripts.filter(late), out, "merged",
                      prior_snapshot="ontime", n_buckets=8)
    assert cached() == before
    m = PL.run_pipeline(spark, transcripts, out, "merged", n_buckets=8)
    assert m["units_done"] == 0
    assert cached() == before
