"""Gap-fill: bucket-spine densification + LOCF + linear interpolation with
pandas ``interpolate(method='linear', limit=k, limit_direction='both')``
semantics (reference ``chunk_interpolate``, ``modules/preprocessing.py:
185-208``, applied by ``change_granularity`` :23-44).

Semantics matched empirically against pandas (tests/test_gapfill.py):
  * interior NaN run between anchors a..b → linear interpolation, but only
    positions within ``limit`` of either end of the run are filled;
  * trailing NaNs → flat-fill (last value) up to ``limit`` positions;
  * leading NaNs → back-fill (next value) up to ``limit`` positions
    counted from the first valid point backwards.

Everything is Catalyst window functions — zero UDFs.  The spine join is a
per-conversation ``sequence()`` explode left-joined to the rollup; at
10^12-turn scale the spine is generated per (conv, ts-day) so no single
``sequence`` array exceeds one day of buckets (1440 for 1m).

Reference chunking (``chunker`` 10^6-row pieces for RAM) is subsumed by
partitioning itself; unlike the reference, window frames here never cross
executor memory limits because frames are bounded (the unbounded LOCF
window is a running aggregate, streamed by Spark's window operator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}


def bucket_spine(rollup: DataFrame, tier: str = "1m") -> DataFrame:
    """Dense per-conversation bucket grid from min to max observed bucket.

    Split per (conv, day): the bounds row is first crossed with a one-day
    spine, then each (conv, day) row generates a day-bounded ``sequence``
    (≤1440 elements at 1m) — a multi-year conversation never materializes
    its whole range in a single array row.  The union of the per-day
    sequences equals the single full-range sequence exactly because every
    supported step divides a day and ``bucket_start`` is step-aligned, so
    each midnight lies on the bucket grid.  The (conv, day) repartition
    doubles as hot-conversation salting: one viral conversation's spine
    spreads across tasks by day.
    """
    step = _SECONDS[tier]
    bounds = rollup.groupBy("conv_id").agg(
        F.min("bucket_start").alias("b0"), F.max("bucket_start").alias("b1")
    )
    if tier == "1d":
        # one bucket per day — the whole-range sequence IS the day spine
        return bounds.repartition("conv_id").select(
            "conv_id",
            F.explode(
                F.sequence(F.col("b0"), F.col("b1"), F.expr(f"interval {step} seconds"))
            ).alias("bucket_start"),
        )
    days = bounds.select(
        "conv_id",
        "b0",
        "b1",
        F.explode(
            F.sequence(
                F.date_trunc("day", F.col("b0")),
                F.date_trunc("day", F.col("b1")),
                F.expr("interval 1 day"),
            )
        ).alias("day"),
    )
    # the day table is still small (rows = conv-days, pre-explode) but the
    # sequence below fans each row out ×1440 (1m) — spread (conv, day)
    # across tasks FIRST so a hot conversation doesn't pin one task
    days = days.repartition("conv_id", "day")
    day_end = F.col("day") + F.expr("interval 1 day") - F.expr(f"interval {step} seconds")
    return days.select(
        "conv_id",
        F.explode(
            F.sequence(
                F.greatest(F.col("b0"), F.col("day")),
                F.least(F.col("b1"), day_end),
                F.expr(f"interval {step} seconds"),
            )
        ).alias("bucket_start"),
    )


def densify(rollup: DataFrame, tier: str = "1m") -> DataFrame:
    """Left-join the rollup onto its dense spine; missing buckets appear as
    all-null feature rows with ``gap_filled`` candidate flag."""
    spine = bucket_spine(rollup, tier)
    joined = spine.join(rollup, ["conv_id", "bucket_start"], "left")
    return joined.withColumn("is_gap", F.col("turn_cnt").isNull())


def interpolate(
    df: DataFrame,
    cols: list[str],
    limit: int = 1,
    partition_cols: tuple[str, ...] = ("conv_id",),
    order_col: str = "bucket_start",
    with_locf: bool = False,
    segment: str | None = None,
) -> DataFrame:
    """pandas-parity linear interpolation over a dense grid (see module
    docstring).  Adds ``<col>_filled`` per input col plus ``gap_filled``.

    ``with_locf=True`` additionally emits ``<col>_locf`` from the SAME
    forward window pass (coalesce(col, prev-non-null) ≡ the standalone
    ``locf``) — fusing it here saves a third full per-partition sort at
    scale (forward, reverse, and the separate locf window each cost one).

    **Skew (``segment``, e.g. ``"day"``)**: the plain form's windows
    partition on the conversation alone, so one task sorts a hot
    conversation's ENTIRE grid — twice (forward + reverse).  With a
    segment the same values come from a distributed segmented scan:

      * all row-level windows partition on ``(conv, date_trunc(segment))``
        — a hot conversation spreads across its days;
      * the cross-segment state each segment needs (previous segment's
        last non-null anchor, next segment's first, and the global row
        offset) is carried through a per-(conv, segment) summary — one
        row per conv-day, windowed per conversation over DAYS (tiny) and
        joined back on (conv, segment), which never hot-keys.

    Anchor values, global positions, and therefore every filled value are
    EXACTLY the plain form's (equality property-tested in
    tests/test_gapfill.py; same DuckDB oracles).
    """
    if segment is None:
        ord_w = Window.partitionBy(*partition_cols).orderBy(order_col)
        df = df.withColumn("_pos", F.row_number().over(ord_w))
        # CRUCIAL at scale: both look-around frames must be *growing*
        # frames (unboundedPreceding..-1), which Spark evaluates
        # incrementally in O(n).  A (1, unboundedFollowing) frame is
        # re-aggregated per row — O(n²) — and hangs on month-long spines;
        # the "next non-null" leg is therefore a growing frame over the
        # REVERSED ordering.
        w_prev = ord_w.rowsBetween(Window.unboundedPreceding, -1)
        w_next = (
            Window.partitionBy(*partition_cols)
            .orderBy(F.desc(order_col))
            .rowsBetween(Window.unboundedPreceding, -1)
        )

        def anchors(c: str):
            pos_nn = F.when(F.col(c).isNotNull(), F.col("_pos"))
            return (
                F.last(F.col(c), ignorenulls=True).over(w_prev),
                F.last(pos_nn, ignorenulls=True).over(w_prev),
                F.last(F.col(c), ignorenulls=True).over(w_next),
                F.last(pos_nn, ignorenulls=True).over(w_next),
            )
    else:
        seg = F.date_trunc(segment, F.col(order_col))
        df = df.withColumn("_seg", seg)
        P = list(partition_cols)
        wd = Window.partitionBy(*P, "_seg").orderBy(order_col)
        wd_prev = wd.rowsBetween(Window.unboundedPreceding, -1)
        wd_next = (
            Window.partitionBy(*P, "_seg")
            .orderBy(F.desc(order_col))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        df = df.withColumn("_dpos", F.row_number().over(wd))
        aggs = [F.count(F.lit(1)).alias("_n")]
        for c in cols:
            nn_pos = F.when(F.col(c).isNotNull(), F.col("_dpos"))
            aggs += [
                F.max(nn_pos).alias(f"_lp_{c}"),
                F.max_by(F.col(c), nn_pos).alias(f"_lv_{c}"),
                F.min(nn_pos).alias(f"_fp_{c}"),
                F.min_by(F.col(c), nn_pos).alias(f"_fv_{c}"),
            ]
        summ = df.groupBy(*P, "_seg").agg(*aggs)
        ws_fwd = Window.partitionBy(*P).orderBy("_seg")
        ws_prev = ws_fwd.rowsBetween(Window.unboundedPreceding, -1)
        ws_next = (
            Window.partitionBy(*P)
            .orderBy(F.desc("_seg"))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        # long, not int: the whole point is conversations too large for
        # one task — global positions may exceed 2^31 (the plain path's
        # int row_number cannot, because it caps a partition's rows)
        summ = summ.withColumn(
            "_off",
            F.coalesce(F.sum("_n").over(ws_prev), F.lit(0)).cast("long"),
        )
        keep = [*P, "_seg", "_off"]
        for c in cols:
            cp = F.when(
                F.col(f"_lp_{c}").isNotNull(),
                F.struct(
                    (F.col("_off") + F.col(f"_lp_{c}")).alias("p"),
                    F.col(f"_lv_{c}").alias("v"),
                ),
            )
            cn = F.when(
                F.col(f"_fp_{c}").isNotNull(),
                F.struct(
                    (F.col("_off") + F.col(f"_fp_{c}")).alias("p"),
                    F.col(f"_fv_{c}").alias("v"),
                ),
            )
            summ = summ.withColumn(
                f"_cp_{c}", F.last(cp, ignorenulls=True).over(ws_prev)
            ).withColumn(f"_cn_{c}", F.last(cn, ignorenulls=True).over(ws_next))
            keep += [f"_cp_{c}", f"_cn_{c}"]
        df = df.join(summ.select(*keep), [*P, "_seg"])
        df = df.withColumn("_pos", F.col("_off") + F.col("_dpos"))

        def anchors(c: str):
            nn_pos = F.when(F.col(c).isNotNull(), F.col("_dpos"))
            vp_d = F.last(F.col(c), ignorenulls=True).over(wd_prev)
            pp_d = F.last(nn_pos, ignorenulls=True).over(wd_prev)
            vn_d = F.last(F.col(c), ignorenulls=True).over(wd_next)
            pn_d = F.last(nn_pos, ignorenulls=True).over(wd_next)
            return (
                F.when(pp_d.isNotNull(), vp_d).otherwise(F.col(f"_cp_{c}.v")),
                F.when(pp_d.isNotNull(), F.col("_off") + pp_d).otherwise(
                    F.col(f"_cp_{c}.p")
                ),
                F.when(pn_d.isNotNull(), vn_d).otherwise(F.col(f"_cn_{c}.v")),
                F.when(pn_d.isNotNull(), F.col("_off") + pn_d).otherwise(
                    F.col(f"_cn_{c}.p")
                ),
            )

    any_filled = F.lit(False)
    for c in cols:
        val_prev, pos_prev, val_next, pos_next = anchors(c)
        d_prev = F.col("_pos") - pos_prev
        d_next = pos_next - F.col("_pos")
        interp = F.when(
            val_prev.isNotNull() & val_next.isNotNull(),
            val_prev + (val_next - val_prev) * d_prev / (d_next + d_prev),
        ).when(val_prev.isNotNull(), val_prev).otherwise(val_next)
        in_limit = (
            (pos_prev.isNotNull() & (d_prev <= limit))
            | (pos_next.isNotNull() & (d_next <= limit))
        )
        filled = F.when(F.col(c).isNotNull(), F.col(c)).when(in_limit, interp)
        df = df.withColumn(f"{c}_filled", filled)
        if with_locf:
            df = df.withColumn(f"{c}_locf", F.coalesce(F.col(c), val_prev))
        any_filled = any_filled | (F.col(c).isNull() & filled.isNotNull())
    df = df.withColumn("gap_filled", any_filled).drop("_pos")
    if segment is not None:
        drop = ["_seg", "_dpos", "_off"] + [
            x for c in cols for x in (f"_cp_{c}", f"_cn_{c}")
        ]
        df = df.drop(*drop)
    return df


def interpolate_dense(
    dense: DataFrame,
    sparse: DataFrame,
    cols: list[str],
    limit: int = 1,
    step_s: int = 60,
    partition_cols: tuple[str, ...] = ("conv_id",),
    order_col: str = "bucket_start",
    with_locf: bool = False,
) -> DataFrame:
    """Skew-spread interpolation specialized for a DENSE regular grid
    (``gap_fill_rollup``'s shape) — same values as ``interpolate``,
    different physics.

    Two observations make this strictly cheaper than the generic
    segmented path at any scale:

      * on a ``step_s``-regular dense grid, row positions are linear in
        time, so the formula's position differences collapse to
        ``(t − anchor_t) / step`` — no row_number window, no per-segment
        row-count/offset bookkeeping at all;
      * anchors (nearest non-null left/right) only occur at rows of the
        SPARSE pre-densify table, so the cross-day carry summary
        aggregates ``sparse`` (rollup rows), never the exploded grid —
        the generic path's summary branch recomputed the whole
        densify pipeline (measured: gapfill_2d +148 % at sf0.1 because
        column pruning made the branches' exchanges non-identical, so
        ReusedExchange never fired).

    Full-grid work: ONE (conv, day) shuffle + two within-day window
    sorts — the same sort count as the plain per-conversation form, with
    hot conversations spread across their days.  Everything else runs on
    conv-day summary rows.  ``sparse`` must be the exact pre-densify
    frame ``dense`` was built from.
    """
    P = list(partition_cols)
    seg = F.date_trunc("day", F.col(order_col))
    dense = dense.withColumn("_seg", seg)

    # per-(conv, day) anchor summary from the SPARSE side
    sp = sparse.withColumn("_seg", seg)
    aggs = []
    for c in cols:
        nn_t = F.when(F.col(c).isNotNull(), F.col(order_col))
        aggs += [
            F.max(nn_t).alias(f"_lt_{c}"),
            F.max_by(F.col(c), nn_t).alias(f"_lv_{c}"),
            F.min(nn_t).alias(f"_ft_{c}"),
            F.min_by(F.col(c), nn_t).alias(f"_fv_{c}"),
        ]
    summ = sp.groupBy(*P, "_seg").agg(*aggs)
    # every grid day needs a carry row (a pure-gap day has no sparse
    # rows): left-join the summary onto the full day range
    bounds = sparse.groupBy(*P).agg(
        F.min(order_col).alias("_b0"), F.max(order_col).alias("_b1")
    )
    dayspine = bounds.select(
        *P,
        F.explode(
            F.sequence(
                F.date_trunc("day", F.col("_b0")),
                F.date_trunc("day", F.col("_b1")),
                F.expr("interval 1 day"),
            )
        ).alias("_seg"),
    )
    summ = dayspine.join(summ, [*P, "_seg"], "left")
    ws_prev = (
        Window.partitionBy(*P).orderBy("_seg")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ws_next = (
        Window.partitionBy(*P).orderBy(F.desc("_seg"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    keep = [*P, "_seg"]
    for c in cols:
        cp = F.when(
            F.col(f"_lt_{c}").isNotNull(),
            F.struct(F.col(f"_lt_{c}").alias("t"), F.col(f"_lv_{c}").alias("v")),
        )
        cn = F.when(
            F.col(f"_ft_{c}").isNotNull(),
            F.struct(F.col(f"_ft_{c}").alias("t"), F.col(f"_fv_{c}").alias("v")),
        )
        summ = summ.withColumn(
            f"_cp_{c}", F.last(cp, ignorenulls=True).over(ws_prev)
        ).withColumn(f"_cn_{c}", F.last(cn, ignorenulls=True).over(ws_next))
        keep += [f"_cp_{c}", f"_cn_{c}"]

    out = dense.join(summ.select(*keep), [*P, "_seg"])
    wd_prev = (
        Window.partitionBy(*P, "_seg").orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wd_next = (
        Window.partitionBy(*P, "_seg").orderBy(F.desc(order_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t_sec = F.col(order_col).cast("timestamp").cast("double")
    any_filled = F.lit(False)
    for c in cols:
        nn_t = F.when(F.col(c).isNotNull(), F.col(order_col))
        tp_d = F.last(nn_t, ignorenulls=True).over(wd_prev)
        vp_d = F.last(F.col(c), ignorenulls=True).over(wd_prev)
        tn_d = F.last(nn_t, ignorenulls=True).over(wd_next)
        vn_d = F.last(F.col(c), ignorenulls=True).over(wd_next)
        val_prev = F.when(tp_d.isNotNull(), vp_d).otherwise(F.col(f"_cp_{c}.v"))
        t_prev = F.when(tp_d.isNotNull(), tp_d).otherwise(F.col(f"_cp_{c}.t"))
        val_next = F.when(tn_d.isNotNull(), vn_d).otherwise(F.col(f"_cn_{c}.v"))
        t_next = F.when(tn_d.isNotNull(), tn_d).otherwise(F.col(f"_cn_{c}.t"))
        # exact small integers as doubles: bit-identical arithmetic to the
        # int position differences of the plain path
        d_prev = (t_sec - t_prev.cast("timestamp").cast("double")) / step_s
        d_next = (t_next.cast("timestamp").cast("double") - t_sec) / step_s
        interp = F.when(
            val_prev.isNotNull() & val_next.isNotNull(),
            val_prev + (val_next - val_prev) * d_prev / (d_next + d_prev),
        ).when(val_prev.isNotNull(), val_prev).otherwise(val_next)
        in_limit = (
            (t_prev.isNotNull() & (d_prev <= limit))
            | (t_next.isNotNull() & (d_next <= limit))
        )
        filled = F.when(F.col(c).isNotNull(), F.col(c)).when(in_limit, interp)
        out = out.withColumn(f"{c}_filled", filled)
        if with_locf:
            out = out.withColumn(f"{c}_locf", F.coalesce(F.col(c), val_prev))
        any_filled = any_filled | (F.col(c).isNull() & filled.isNotNull())
    drop = ["_seg"] + [x for c in cols for x in (f"_cp_{c}", f"_cn_{c}")]
    return out.withColumn("gap_filled", any_filled).drop(*drop)


def interpolate_runs(
    rollup: DataFrame,
    tier: str = "1m",
    cols: list[str] | tuple[str, ...] = ("latency_avg",),
    limit: int = 1,
    with_locf: bool = True,
) -> DataFrame:
    """Densify + interpolate for a step-regular grid WITHOUT any window
    over the dense grid — bit-identical to ``densify`` → count-coalesce →
    ``interpolate`` (the r07 plain-path rewrite; equality property-tested
    in tests/test_gapfill.py).

    Physics: every fill decision (nearest non-null anchors, row-distance
    limits) is a function of the SPARSE rollup rows only — on a regular
    grid the dense row-position differences collapse to
    ``(t − anchor_t)/step`` (the ``interpolate_dense`` observation).  So
    the anchors are computed with two window sorts over the sparse rows
    (one asc, one desc — |rollup| rows, not |grid|), and the dense grid is
    then GENERATED: each sparse row owns the half-open run up to the next
    sparse row and explodes it (day-split so no array exceeds one day of
    buckets, and repartitioned by (conv, day) so a hot conversation's
    spine spreads across tasks).  The old plain path instead left-joined
    the spine and ran three window passes (row_number + forward + reverse
    anchor scans) over the EXPLODED grid — ~370× more window-sorted rows
    at 1m granularity with 0.27 % bucket occupancy (sf0.1 shape).

    Anchor equivalence: dense-grid "last non-null strictly before p" hits
    non-null values only at sparse positions, so for an observed row it is
    the sparse-exclusive carry and for a generated gap row it is the
    owning sparse row's inclusive carry; symmetrically the "next" anchor
    of every row in run(r) is the first non-null strictly after r.  The
    interpolation arithmetic keeps the plain path's exact bit pattern:
    distances are exact small integers as doubles, numerator/denominator
    association unchanged (same trick as ``interpolate_dense``).
    """
    step = _SECONDS[tier]
    oc = "bucket_start"
    cols = list(cols)
    w_fwd = Window.partitionBy("conv_id").orderBy(oc)
    w_prev_excl = w_fwd.rowsBetween(Window.unboundedPreceding, -1)
    w_prev_incl = w_fwd.rowsBetween(Window.unboundedPreceding, 0)
    w_next_excl = (
        Window.partitionBy("conv_id")
        .orderBy(F.desc(oc))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rollup_rest = [c for c in rollup.columns if c not in ("conv_id", oc)]
    sp = rollup
    for c in cols:
        nn = F.when(
            F.col(c).isNotNull(),
            F.struct(F.col(oc).alias("t"), F.col(c).alias("v")),
        )
        sp = (
            sp.withColumn(f"_pe_{c}", F.last(nn, ignorenulls=True).over(w_prev_excl))
            .withColumn(f"_pi_{c}", F.last(nn, ignorenulls=True).over(w_prev_incl))
            .withColumn(f"_ne_{c}", F.last(nn, ignorenulls=True).over(w_next_excl))
        )
    sp = sp.withColumn("_tnext", F.lead(oc).over(w_fwd))
    run_end = F.coalesce(
        F.col("_tnext") - F.expr(f"interval {step} seconds"), F.col(oc)
    )
    days = sp.withColumn("_run_end", run_end).withColumn(
        "_day",
        F.explode(
            F.sequence(
                F.date_trunc("day", F.col(oc)),
                F.date_trunc("day", F.col("_run_end")),
                F.expr("interval 1 day"),
            )
        ),
    )
    # a hot conversation's long runs spread across (conv, day) tasks
    # BEFORE the ×(day/step) position fan-out — same rationale as
    # bucket_spine
    days = days.repartition("conv_id", "_day")
    day_end = (
        F.col("_day") + F.expr("interval 1 day") - F.expr(f"interval {step} seconds")
    )
    g = days.withColumn(
        "_p",
        F.explode(
            F.sequence(
                F.greatest(F.col(oc), F.col("_day")),
                F.least(F.col("_run_end"), day_end),
                F.expr(f"interval {step} seconds"),
            )
        ),
    )
    is_first = F.col("_p") == F.col(oc)
    p_sec = F.col("_p").cast("timestamp").cast("double")
    out_cols = [F.col("conv_id"), F.col("_p").alias(oc)]
    for c in rollup_rest:
        e = F.when(is_first, F.col(c))
        if c in ("turn_cnt", "tool_call_cnt"):
            e = F.coalesce(e, F.lit(0))
        out_cols.append(e.alias(c))
    out_cols.append((~is_first).alias("is_gap"))
    any_filled = F.lit(False)
    fill_cols = []
    for c in cols:
        ap = F.when(is_first, F.col(f"_pe_{c}")).otherwise(F.col(f"_pi_{c}"))
        an = F.col(f"_ne_{c}")
        tp, vp, tn, vn = ap["t"], ap["v"], an["t"], an["v"]
        d_prev = (p_sec - tp.cast("timestamp").cast("double")) / step
        d_next = (tn.cast("timestamp").cast("double") - p_sec) / step
        interp = (
            F.when(
                vp.isNotNull() & vn.isNotNull(),
                vp + (vn - vp) * d_prev / (d_next + d_prev),
            )
            .when(vp.isNotNull(), vp)
            .otherwise(vn)
        )
        in_limit = (tp.isNotNull() & (d_prev <= limit)) | (
            tn.isNotNull() & (d_next <= limit)
        )
        val = F.when(is_first, F.col(c))
        filled = F.when(val.isNotNull(), val).when(in_limit, interp)
        fill_cols.append(filled.alias(f"{c}_filled"))
        if with_locf:
            fill_cols.append(F.coalesce(val, vp).alias(f"{c}_locf"))
        any_filled = any_filled | (val.isNull() & filled.isNotNull())
    return g.select(*out_cols, *fill_cols, any_filled.alias("gap_filled"))


def locf(
    df: DataFrame,
    cols: list[str],
    partition_cols: tuple[str, ...] = ("conv_id",),
    order_col: str = "bucket_start",
) -> DataFrame:
    """Last-observation-carried-forward: ``last(col, ignorenulls) over
    (unboundedPreceding, 0)`` (reference fillna/LOCF masks,
    ``modules/learning.py:450``)."""
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for c in cols:
        df = df.withColumn(f"{c}_locf", F.last(F.col(c), ignorenulls=True).over(w))
    return df


#: grid length above which a conversation's per-conv window sort is a
#: skew hazard — same bound as rollup.LAG_SEG_ROWS (≈69 days of 1m grid)
GRID_SEG_ROWS = 100_000


def grid_segment_rows(
    rollup: DataFrame, tier: str = "1m", day_span: int | None = None
) -> int | None:
    """``gap_fill_rollup``'s "auto" gate: ``GRID_SEG_ROWS`` when the
    longest conversation grid reaches it, else ``None``.

    ``day_span``, when the caller knows it (e.g. the stored table's
    partition day range), is a metadata-only witness: no conversation's
    grid outruns the days its buckets fall on, so ``day_span`` × buckets
    per day below the threshold decides plain with no Spark job.  Above
    it, the exact witness runs: the longest conversation grid, ``max over
    convs of (max−min bucket)/step + 1``, one partial-aggregated
    two-column pass over the SPARSE rollup (≪ grid rows).
    """
    step = _SECONDS[tier]
    if day_span is not None and day_span * (86400 // step) < GRID_SEG_ROWS:
        return None
    # NTZ-safe: cast through timestamp before double (Spark 4 forbids
    # TIMESTAMP_NTZ→double; session TZ is pinned UTC) — same pattern
    # as interpolate_dense/sessions (ADVICE r06)
    mx = (
        rollup.groupBy("conv_id")
        .agg(
            (
                (F.max("bucket_start").cast("timestamp").cast("double")
                 - F.min("bucket_start").cast("timestamp").cast("double"))
                / F.lit(step)
            ).alias("_span")
        )
        .agg(F.max("_span"))
        .first()[0]
    )
    return GRID_SEG_ROWS if (mx or 0) + 1 >= GRID_SEG_ROWS else None


def gap_fill_rollup(
    rollup: DataFrame,
    tier: str = "1m",
    limit: int = 1,
    segment_rows: int | str | None = "auto",
) -> DataFrame:
    """End-to-end: densify → counts default 0 → LOCF + linear interp on
    latency features (the §7.1 slice).

    **Skew (``segment_rows``)**: the plain form's per-conversation
    windows sort a conversation's WHOLE dense grid on one task — the
    skew harness measured the hot conversation pinning the gap-fill
    stage (SKEW_SCALING_r06.json).  The dense-grid day-segmented form
    (``interpolate_dense``) spreads it across days — but costs a
    measured **+24 % wall / +39 % CPU on non-skew data** (interleaved
    A/B, checksums equal: ``scripts/GAPFILL_DENSE_AB_r06.json``), the
    same insurance-premium shape as the segmented lag
    (SEG_OVERHEAD_r06.json → its adaptive gate).

    **Auto gate (default)**: the hazard has an exact, cheap witness
    (``grid_segment_rows``).  Below ``GRID_SEG_ROWS`` every per-conv
    sort is bounded and the plain form is chosen; the two forms are
    bit-equal (pandas-parity + dense≡plain tests, and the A/B asserts
    checksum equality), so the gate is value-neutral.  Explicit ``int``
    forces the dense path (threshold ignored — callers with catalog
    stats); ``None`` forces plain.  Eager caveat: "auto" runs one Spark
    job at plan-build time.

    **Cache ownership**: "auto" persists ``rollup`` (MEMORY_AND_DISK),
    because the probe, the spine bounds, the densify join's build side
    (and, on the dense path, the anchor summary and day spine) each
    reference it, and Spark plans are trees — every reference re-ran the
    whole upstream subtree, rollup aggregation included.  The cache stays
    registered until it is unpersisted explicitly (the ContextCleaner
    does not release a DataFrame cache), so the caller owns it: call
    ``rollup.unpersist()`` once the result is drained.  Callers that
    resolve the gate themselves (``grid_segment_rows``, as
    plans/pipeline does) pass an explicit ``segment_rows`` and nothing
    is cached.
    """
    step = _SECONDS[tier]
    if segment_rows == "auto":
        from pyspark.storagelevel import StorageLevel

        rollup = rollup.persist(StorageLevel.MEMORY_AND_DISK)
        segment_rows = grid_segment_rows(rollup, tier)
    if segment_rows:
        dense = densify(rollup, tier)
        dense = dense.withColumn(
            "turn_cnt", F.coalesce("turn_cnt", F.lit(0))
        ).withColumn("tool_call_cnt", F.coalesce("tool_call_cnt", F.lit(0)))
        return interpolate_dense(dense, rollup, ["latency_avg"], limit=limit,
                                 step_s=step, with_locf=True)
    # plain path: run-generation form — no window over the dense grid at
    # all (see interpolate_runs; bit-equal to densify → interpolate)
    return interpolate_runs(rollup, tier, ["latency_avg"], limit=limit,
                            with_locf=True)
