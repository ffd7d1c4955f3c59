"""The end-to-end rollup/downsample/retention job (north rule), runnable
via ``spark-submit --py-files mpe.zip -m`` or directly:

    python -m more_pattern_extraction_spark.plans.pipeline \
        --input /root/testdata/sf0.1/events.parquet --output /tmp/mpe_out \
        --cores 32

Stages (each checkpointed per (conv_bucket, ts_day) unit):
  raw turns → per-turn features (lag latency, tool flag)
            → 1m rollup (exact partials + p95)
            → gap-fill (spine + LOCF + linear interp limit=1)
            → chunk encode (DoD ts + Gorilla features)
            → cascade 1h, 1d tiers (re-agg of 1m — no raw rescans)
            → retention filter per tier horizon
  + lineage rows (rows in/out, content hash) and a metrics row
  (wall s, turns/s) per run.

Resume: a second invocation with the same input snapshot anti-joins the
checkpoint table and does nothing; a partially-complete run redoes only
missing units (tests/test_pipeline.py proves resume == cold run).

Work units are planned once, up front (``plan_units``): one collected
aggregate over the raw turns returns every unit with its turn count and
the largest ``turn_idx``.  The checkpoint anti-join runs on that list,
and the pending units enter the ``todo`` join, the ``distinct_1m`` scope
and the commit as a JVM-local relation (``session.local_frame``), so no
unit list is recounted or re-planned and no control frame needs a Python
worker.  The eager actions left, in order:

  * the unit-plan aggregate (its ``max(turn_idx)`` is the lag gate's
    witness, so ``turn_features`` runs no probe of its own);
  * the checkpoint anti-join, collected (no job when there is no
    checkpoint table yet);
  * the tier writes, each re-read by the next stage;
  * the gap-fill gate's exact probe, only when the metadata witness (the
    stored ``rollup_1m`` day range × buckets per day) cannot rule the
    dense path out;
  * the retention drops (directory deletes), and the checkpoint,
    lineage and metrics appends.
"""

from __future__ import annotations

import argparse
import time
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from more_pattern_extraction_spark.operators import chunks as CH
from more_pattern_extraction_spark.operators import distinct as DK
from more_pattern_extraction_spark.operators import gapfill as G
from more_pattern_extraction_spark.operators import rollup as R
from more_pattern_extraction_spark.operators import sketch as SK
from more_pattern_extraction_spark.plans.checkpoint import CheckpointStore, content_hash
from more_pattern_extraction_spark.session import local_frame
from more_pattern_extraction_spark.sources import catalog as CAT

JOB = "rollup_pipeline"
UNIT_SCHEMA = "conv_bucket int, ts_day date"


class UnitPlan(NamedTuple):
    """``units``: one ``(conv_bucket, ts_day, turns)`` per work unit;
    ``max_turn_idx``: the largest ``turn_idx`` (``None`` when not asked
    for, or when every ``turn_idx`` is NULL)."""

    units: list[tuple]
    max_turn_idx: int | None


def plan_units(turns: DataFrame, n_buckets: int, with_turn_idx: bool = True) -> UnitPlan:
    """Every ``(conv_bucket, ts_day)`` unit of the raw turns with its turn
    count, from one collected aggregate.  A NULL ``ts``
    gives a NULL-``ts_day`` unit, as in the distinct unit list it stands
    for."""
    aggs = [F.count(F.lit(1)).alias("turns")]
    if with_turn_idx:
        aggs.append(F.max("turn_idx").alias("max_turn_idx"))
    rows = (
        CAT.with_layout_cols(turns, n_buckets)
        .groupBy("conv_bucket", "ts_day")
        .agg(*aggs)
        .collect()
    )
    mx = None
    if with_turn_idx:
        mx = max((r["max_turn_idx"] for r in rows if r["max_turn_idx"] is not None),
                 default=None)
    return UnitPlan([(r["conv_bucket"], r["ts_day"], r["turns"]) for r in rows], mx)


def unit_frame(spark: SparkSession, units: list[tuple]) -> DataFrame:
    """``(conv_bucket, ts_day)`` of ``units`` as a JVM-local relation."""
    return local_frame(spark, [u[:2] for u in units], UNIT_SCHEMA)


def _checkpoint_keys(units: DataFrame) -> DataFrame:
    """A unit frame keyed like the checkpoint table: (conv_bucket, ts_bucket)."""
    return units.select("conv_bucket", F.col("ts_day").cast("timestamp").alias("ts_bucket"))


def run_pipeline(
    spark: SparkSession,
    turns: DataFrame,
    out_root: str,
    input_snapshot: str,
    n_buckets: int = 32,
    latency_col: str | None = None,
    retention: dict[str, str] | None = None,
    resume: bool = True,
) -> dict:
    """Returns run metrics dict.  ``turns``: the transcript-shaped input."""
    t0 = time.time()
    cp = CheckpointStore(spark, out_root)

    # the lag gate needs max(turn_idx) only when latency is derived here
    derive_lag = not (latency_col and latency_col in turns.columns)
    plan = plan_units(turns, n_buckets, with_turn_idx=derive_lag)
    n_units_total = len(plan.units)
    pending = plan.units
    if resume:
        left = cp.pending_units(
            _checkpoint_keys(unit_frame(spark, plan.units)), JOB, "1m", input_snapshot
        ).select("conv_bucket", F.col("ts_bucket").cast("date").alias("ts_day"))
        keys = {(r["conv_bucket"], r["ts_day"]) for r in left.collect()}
        pending = [u for u in plan.units if u[:2] in keys]
    n_pending = len(pending)

    if n_pending:
        feats = R.turn_features(turns, latency_col=latency_col,
                                seg_rows=R.lag_segment_rows(plan.max_turn_idx))
        feats = CAT.with_layout_cols(feats, n_buckets)  # conv_bucket, ts_day
        pend = unit_frame(spark, pending)
        todo = feats.join(F.broadcast(pend), ["conv_bucket", "ts_day"])
        # the inner join drops NULL-ts_day units' turns
        n_turns = sum(n for _, day, n in pending if day is not None)

        # every persisted tier carries the mergeable latency sketch map +
        # its derived true-tier p95 alongside the documented
        # percentile-of-averages latency_p95 (VERDICT r04 #3): coarser
        # tiers merge the STORED map — raw latencies are scanned exactly
        # once, at the finest tier
        r1m = SK.attach_sketch_p95(
            R.rollup_from_raw(todo, "1m"),
            SK.sketch_from_raw(todo, "1m"),
            keep_sketch=True,
        )
        r1m = CAT.with_layout_cols(r1m, n_buckets)
        CAT.write_partitioned(r1m, out_root, "rollup_1m",
                              sort_cols=("conv_id", "bucket_start"))

        # per-unit PARTIAL KMV distinct sketches (operators/distinct):
        # each (conv_bucket, minute) keeps its own k-smallest conv
        # hashes; a conversation hashes to exactly one bucket, so the
        # partials per minute are disjoint and kmv_cascade over the
        # stored table (dropping conv_bucket) recovers the GLOBAL
        # per-bucket sketch at any tier exactly — no raw rescan, and
        # repair recomputes one unit without touching the others.
        # Built from the 1m tier JUST WRITTEN, not from raw: the tier
        # already holds exactly one row per (conv, minute), so the
        # raw-scan distinct (the expensive half, ~60 % of a rollup
        # stage) is amortized into the rollup aggregation
        r1m_stored = CAT.read_table(spark, out_root, "rollup_1m")
        kmv1m = DK.kmv_from_rollup(
            r1m_stored.select("conv_bucket", "bucket_start", "conv_id"),
            part_cols=("conv_bucket",),
        )
        kmv1m = kmv1m.withColumn("ts_day", F.col("bucket_start").cast("date"))
        # scope to pending units (the stored tier also holds units done by
        # earlier runs — rewriting their partitions would be value-identical
        # but defeat resume incrementality)
        kmv1m = kmv1m.join(F.broadcast(pend), ["conv_bucket", "ts_day"])
        CAT.write_partitioned(kmv1m, out_root, "distinct_1m",
                              sort_cols=("bucket_start",))

        # the stored day range bounds every conversation's grid span, so
        # the exact probe runs only when that cannot rule the dense path out
        seg = G.grid_segment_rows(
            r1m_stored, "1m", day_span=CAT.partition_day_span(out_root, "rollup_1m")
        )
        filled = G.gap_fill_rollup(r1m_stored, "1m", segment_rows=seg)
        filled = CAT.with_layout_cols(filled, n_buckets)
        CAT.write_partitioned(filled, out_root, "rollup_1m_filled",
                              sort_cols=("conv_id", "bucket_start"))

        chunks = CH.encode_chunks(
            CAT.read_table(spark, out_root, "rollup_1m"),
            ["latency_avg", "latency_sum"],
            "1m",
        )
        chunks = chunks.withColumn(
            "conv_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
        ).withColumn("ts_day", F.col("ts_bucket").cast("date"))
        CAT.write_partitioned(chunks, out_root, "chunks_1m",
                              sort_cols=("conv_id", "ts_bucket"))

        base = CAT.read_table(spark, out_root, "rollup_1m")
        sk_cols = ["conv_id", "bucket_start", "latency_sketch"]
        r1h = SK.attach_sketch_p95(
            R.cascade(base, "1h", from_tier="1m"),
            SK.sketch_cascade(base.select(*sk_cols), "1h"),
            keep_sketch=True,
        )
        CAT.write_partitioned(CAT.with_layout_cols(r1h, n_buckets), out_root, "rollup_1h",
                              sort_cols=("conv_id", "bucket_start"))
        base_h = CAT.read_table(spark, out_root, "rollup_1h")
        r1d = SK.attach_sketch_p95(
            R.cascade(base_h, "1d", from_tier="1h"),
            SK.sketch_cascade(base_h.select(*sk_cols), "1d"),
            keep_sketch=True,
        )
        CAT.write_partitioned(CAT.with_layout_cols(r1d, n_buckets), out_root, "rollup_1d",
                              sort_cols=("conv_id", "bucket_start"))

        if retention:
            for tier, keep_after in retention.items():
                # metadata-only partition drop (ts_day granularity); rows
                # inside the horizon's partial day are kept — tier horizons
                # are day-aligned by policy
                CAT.drop_partitions_before(out_root, f"rollup_{tier}", keep_after)
                if tier == "1m":
                    # the persisted KMV partials share the 1m horizon
                    CAT.drop_partitions_before(out_root, "distinct_1m", keep_after)

        lineage = content_hash(
            CAT.read_table(spark, out_root, "rollup_1m").withColumn(
                "ts_bucket", F.col("ts_day").cast("timestamp")
            ),
            ["conv_id", "bucket_start", "turn_cnt", "latency_cnt"],
        )
        cp.record_lineage(JOB, "1m", input_snapshot, lineage)
        cp.commit(_checkpoint_keys(pend), JOB, "1m", input_snapshot)
    else:
        n_turns = 0

    wall = time.time() - t0
    m = {
        "wall_s": wall,
        "turns": float(n_turns),
        "turns_per_s": (n_turns / wall) if wall > 0 else 0.0,
        "units_total": float(n_units_total),
        "units_done": float(n_pending),
        "units_skipped": float(n_units_total - n_pending),
    }
    cp.record_metrics(JOB, **m)
    return m


def run_pattern_stage(
    spark: SparkSession,
    out_root: str,
    n_buckets: int = 32,
    m: int = 120,
    window: str = "week",
    k: int = 2,
) -> dict:
    """Pattern-extraction stage over the persisted gap-filled grid (north
    star: the reference's motif/discord + segmentation pipeline as
    continuous aggregates): per-(conversation, week) matrix profile →
    top-k discords + FLUSS regimes, all written as queryable partitioned
    tables.  Window-keying bounds every task for hot conversations; the
    MP artifact is persisted once and both downstream extractions re-read
    it (the reference reloads its npz the same way, io.py:39-55).  The
    returned row counts are those of the stored tables.  Each run
    recomputes every window of the filled grid, so a rerun overwrites
    every partition an earlier run wrote; only a run with another
    ``window``, which shares ``discords`` and ``regimes``, adds to them."""
    from more_pattern_extraction_spark.operators import matrix_profile as MP
    from more_pattern_extraction_spark.operators import motifs as MO
    from more_pattern_extraction_spark.operators import segmentation as SG

    t0 = time.time()
    filled = CAT.read_table(spark, out_root, "rollup_1m_filled")
    grid = filled.select(
        "conv_id",
        "bucket_start",
        F.coalesce("latency_avg_filled", "latency_avg_locf", F.lit(0.0)).alias(
            "latency_avg_filled"
        ),
    )
    mp = MP.matrix_profile(grid, m, window=window)
    mp = mp.withColumn(
        "conv_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    ).withColumn("ts_day", F.col("win").cast("date"))
    CAT.write_partitioned(mp, out_root, f"mp_{window}")

    # re-read the persisted artifact; window-local extraction uses the
    # composite (conv, window) key so tasks stay bounded
    mp_saved = CAT.read_table(spark, out_root, f"mp_{window}")
    keyed = mp_saved.withColumn(
        "_ck", F.concat_ws("#", "conv_id", F.col("win").cast("string"))
    )
    disc = MO.top_k_discords(
        keyed.select(F.col("_ck").alias("conv_id"), "pos", "mp"), ez=int(m / 4), k=k
    ).select(
        F.split("conv_id", "#")[0].alias("conv_id"),
        F.split("conv_id", "#")[1].cast("timestamp").alias("win"),
        "discord_rank", "pos", "distance",
    )
    disc = disc.withColumn(
        "conv_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    ).withColumn("ts_day", F.col("win").cast("date"))
    CAT.write_partitioned(disc, out_root, "discords")

    regimes = SG.fluss_segments(
        keyed.select(F.col("_ck").alias("conv_id"), "pos", "pi"),
        L_values=[m], n_regimes=3, excl_factor=1,
    ).select(
        F.split("conv_id", "#")[0].alias("conv_id"),
        F.split("conv_id", "#")[1].cast("timestamp").alias("win"),
        "L", "regime_pos", "cac",
    )
    regimes = regimes.withColumn(
        "conv_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    ).withColumn("ts_day", F.col("win").cast("date"))
    CAT.write_partitioned(regimes, out_root, "regimes")

    # row counts of the stored tables: counting ``disc``/``regimes`` would
    # re-run their pandas kernels just to count rows
    out = {
        "pattern_wall_s": time.time() - t0,
        "mp_rows": float(mp_saved.count()),
        "discord_rows": float(CAT.read_table(spark, out_root, "discords").count()),
        "regime_rows": float(CAT.read_table(spark, out_root, "regimes").count()),
    }
    cp = CheckpointStore(spark, out_root)
    cp.record_metrics("pattern_stage", **out)
    return out


def main() -> None:
    from more_pattern_extraction_spark.session import get_spark
    from more_pattern_extraction_spark.sources.transcripts import events_as_transcripts

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="events.parquet or transcripts dir")
    ap.add_argument("--output", required=True)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--n-buckets", type=int, default=32)
    ap.add_argument("--patterns", action="store_true",
                    help="also run the MP/discord/regime pattern stage")
    ap.add_argument("--compact", action="store_true",
                    help="small-file compaction of the tier tables after the run "
                         "(catalog.compact_table; Iceberg's rewrite_data_files)")
    ap.add_argument("--mp-window", default="week")
    ap.add_argument("--mp-m", type=int, default=120)
    args = ap.parse_args()

    spark = get_spark("rollup_pipeline", cores=args.cores)
    if args.input.endswith("events.parquet"):
        turns = events_as_transcripts(spark, args.input.rsplit("/", 1)[0])
        latency_col = "latency"
    else:
        turns = spark.read.parquet(args.input)
        latency_col = None
    snap = CAT.snapshot_id(args.input)
    m = run_pipeline(
        spark, turns, args.output, snap,
        n_buckets=args.n_buckets, latency_col=latency_col,
        resume=not args.no_resume,
    )
    if args.patterns:
        m.update(run_pattern_stage(
            spark, args.output, n_buckets=args.n_buckets,
            m=args.mp_m, window=args.mp_window,
        ))
    if args.compact:
        for t in ("rollup_1m", "rollup_1m_filled", "chunks_1m",
                  "rollup_1h", "rollup_1d"):
            st = CAT.compact_table(spark, args.output, t,
                                   sort_cols=("conv_id",))
            m[f"compact_{t}_files"] = float(st["files_after"])
    print({k: round(v, 2) for k, v in m.items()})
    spark.stop()


if __name__ == "__main__":
    main()
