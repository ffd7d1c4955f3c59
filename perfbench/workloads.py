"""The benchmark's workloads: input shapes, the timed engine calls, and the
output checks.

Every workload drives the engine only through its public functions
(``plans.pipeline``, ``plans.repair``, ``sources.catalog`` and the
read-side operators) on transcripts that ``generate_transcripts`` made from
the run's seed and that set-up wrote to Parquet; the engine sees only the
re-read files.  The timed part writes into an output root of its own.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
from pyspark.sql import functions as F

from more_pattern_extraction_spark.operators import chunks as CH
from more_pattern_extraction_spark.operators import distinct as DK
from more_pattern_extraction_spark.operators import rollup as R
from more_pattern_extraction_spark.operators import sketch as SK
from more_pattern_extraction_spark.plans import pipeline as PL
from more_pattern_extraction_spark.plans import repair as RP
from more_pattern_extraction_spark.sources import catalog as CAT
from more_pattern_extraction_spark.sources import transcripts as SRC
from perfbench.drain import TIER_TABLES, drain, file_listing, hashable, table_bytes_files

# Generator arguments per shape; ``seed`` is added from --seed.  The mean
# inter-turn gap is ~1600 s, so a conversation of n turns spans ~n/54
# days and its 1m grid ~27·n buckets.  Each conversation is cut at a fixed
# instant (``until``; ``hot_until`` for hot ones) that all but the
# shortest outlive: every seed then gives the same calendar days, so the
# same partitions, whose Parquet per-file overhead is the main term of the
# bytes stored, and about the same number of turns.
UNIFORM = dict(n_convs=200, base_turns=160, hot_convs=0, hot_mult=1,
               until="2024-01-02 12:00:00")  # ~80 turns each, ~16 000 turns
# One hot conversation (~750 turns over 14 days: two week windows for the
# pattern stage) beside 99 cold ones (~54 turns on day 0 each, ~5 300 in
# all, which keeps the seed's share of the turn count small).
HOT = dict(n_convs=100, base_turns=160, hot_convs=1, hot_mult=7,
           until="2024-01-02 00:00:00", hot_until="2024-01-15 00:00:00")
N_BUCKETS = 4  # one conv_bucket per core on a 4-core box
READ_DAY = "2024-01-02"  # day 1: every uniform conversation has turns on it
# 1m horizon of the hot shape: its cold conversations and the first week of
# the hot one fall before it
HOT_RETENTION_1M = "2024-01-08"
MIN_READS = 8  # two of each query class


class OpFailed(RuntimeError):
    """An engine call raised; the workload cannot go on."""


class Run:
    """One invocation: session, tracer, output dir and the op tally."""

    def __init__(self, spark, tracer, out_dir: str, seed: int, seconds: float, traced: bool):
        self.spark = spark
        self.tracer = tracer
        self.out = out_dir
        self.seed = seed
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}
        self.traced = traced

    def call(self, fn, *args, **kwargs):
        """An engine call or read query: counted, and fatal if it raises."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as e:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            raise OpFailed(getattr(fn, "__name__", str(fn))) from e

    def check(self, label: str, ok: bool, detail: object = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED {label}: {detail}", file=sys.stderr)

    def path(self, *parts: str) -> str:
        return os.path.join(self.out, *parts)

    def frame(self, st: dict, name: str):
        """An input re-read in the current session."""
        return self.spark.read.parquet(st["paths"][name])


# -- set-up -----------------------------------------------------------------


def _warm_python_workers(spark) -> None:
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, numPartitions=n).mapInPandas(lambda it: it, "id long").collect()


def generate(run: Run, shape: dict, split_late: bool = False) -> dict:
    """Set-up: generate, write Parquet, re-read, and start the Python
    workers.  With ``split_late`` the input is also split into an on-time
    part and a seeded late set."""
    t0 = time.perf_counter()
    base = run.path("input")
    paths = {"merged": os.path.join(base, "merged")}
    gen = {k: v for k, v in shape.items() if k not in ("until", "hot_until")}
    hot = F.col("conv_id").isin([f"conv_{i:05d}" for i in range(shape["hot_convs"])])
    until = F.when(hot, F.lit(shape.get("hot_until", shape["until"]))).otherwise(
        F.lit(shape["until"])).cast("timestamp")
    SRC.generate_transcripts(run.spark, seed=run.seed, **gen).filter(
        F.col("ts") < until).write.parquet(paths["merged"])
    if split_late:
        late = late_predicate(run.seed, shape)
        merged = run.spark.read.parquet(paths["merged"])
        for name, df in (("late", merged.filter(late)), ("ontime", merged.filter(~late))):
            paths[name] = os.path.join(base, name)
            df.write.parquet(paths[name])
    counts = {k: run.spark.read.parquet(p).count() for k, p in paths.items()}
    _warm_python_workers(run.spark)
    run.layer["setup.generate_s"] = time.perf_counter() - t0
    return {"paths": paths, "counts": counts,
            "snapshots": {k: CAT.snapshot_id(p) for k, p in paths.items()}}


def late_predicate(seed: int, shape: dict):
    """A seeded late set: ~1/10 of the turns of ~1/200 of the
    conversations (at least one), none of them hot.  The second turn of
    each is always late, so the set is never empty."""
    rng = random.Random(seed)
    k = max(1, shape["n_convs"] // 200)
    picked = rng.sample(range(shape["hot_convs"], shape["n_convs"]), k)
    return F.col("conv_id").isin([f"conv_{i:05d}" for i in picked]) & (
        (F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(seed)), F.lit(10)) == 0)
        | (F.col("turn_idx") == 1))


# -- shared measurements ----------------------------------------------------


def tier_bytes(run: Run, root: str, n_turns: int) -> float:
    """Bytes of the tier tables per input turn; records bytes and files of
    each table as per-layer metrics."""
    total = 0
    for t in TIER_TABLES:
        b, f = table_bytes_files(root, t)
        run.layer[f"sources.catalog.bytes.{t}"] = float(b)
        run.layer[f"sources.catalog.files.{t}"] = float(f)
        total += b
    return total / n_turns


def digests(run: Run, root: str) -> dict[str, tuple[int, int]]:
    return {t: drain(CAT.read_table(run.spark, root, t)) for t in TIER_TABLES}


def partition_digests(run: Run, root: str) -> dict[str, int]:
    """``{"<table>/conv_bucket=<b>/ts_day=<d>": content hash}`` over the
    tier tables."""
    out = {}
    for t in TIER_TABLES:
        df = CAT.read_table(run.spark, root, t)
        for r in df.groupBy("conv_bucket", "ts_day").agg(
                F.sum(F.xxhash64(*hashable(df))).alias("h")).collect():
            out[f"{t}/conv_bucket={r.conv_bucket}/ts_day={r.ts_day}"] = r.h
    return out


def ingest(run: Run, turns, root: str, snapshot: str, retention=None) -> float:
    t0 = time.perf_counter()
    m = run.call(PL.run_pipeline, run.spark, turns, root, snapshot,
                 n_buckets=N_BUCKETS, retention=retention)
    wall = time.perf_counter() - t0
    run.check("ingest.units_done", m["units_done"] == m["units_total"] > 0, m)
    return wall


# -- read loop --------------------------------------------------------------


def read_queries(run: Run, root: str, day: str, bucket: int):
    spark = run.spark

    def decode_chunks():
        return drain(CH.decode_chunks(
            CAT.read_table(spark, root, "chunks_1m").filter(F.col("ts_day") == day)))

    def p95_1h():
        return drain(SK.sketch_quantile(CAT.read_table(spark, root, "rollup_1h")))

    def distinct_1d():
        kmv = DK.kmv_cascade(CAT.read_table(spark, root, "distinct_1m"), "1d", from_tier="1m")
        return drain(DK.kmv_estimate(kmv))

    def conv_range():
        return drain(CAT.read_table(spark, root, "rollup_1m_filled").filter(
            (F.col("conv_bucket") == bucket) & (F.col("ts_day") == day)))

    return [decode_chunks, p95_1h, distinct_1d, conv_range]


def read_loop(run: Run, root: str, day: str, bucket: int) -> None:
    """Closed loop, one client: the four query classes in a fixed order
    until ``--seconds`` have passed and at least ``MIN_READS`` queries ran.
    Every drain of a class must return the same (rows, checksum)."""
    queries = read_queries(run, root, day, bucket)
    lat: list[float] = []
    per_class: dict[str, list[float]] = {q.__name__: [] for q in queries}
    seen: dict[str, set] = {q.__name__: set() for q in queries}
    t_end = time.perf_counter() + run.seconds
    i = 0
    while len(lat) < MIN_READS or time.perf_counter() < t_end:
        q = queries[i % len(queries)]
        i += 1
        with run.tracer.span(f"read.{q.__name__}"):
            t0 = time.perf_counter()
            res = run.call(q)
            dt = time.perf_counter() - t0
        lat.append(dt)
        per_class[q.__name__].append(dt)
        seen[q.__name__].add(res)
    for name, s in seen.items():
        run.check(f"read.{name}.stable", len(s) == 1, s)
        run.check(f"read.{name}.nonempty", all(r[0] > 0 for r in s), s)
    for name, v in per_class.items():
        run.layer[f"read.{name}_s"] = statistics.median(v)
    run.layer["read_latency_p50_s"] = statistics.median(lat)
    run.layer["read.queries"] = float(len(lat))


def pick_partition(root: str, table: str, day: str) -> int:
    """The conv_bucket whose ``day`` partition of ``table`` is largest."""
    best = None
    base = os.path.join(root, table)
    for cb in sorted(os.listdir(base)):
        d = os.path.join(base, cb, f"ts_day={day}")
        if cb.startswith("conv_bucket=") and os.path.isdir(d):
            size = sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
            if best is None or size > best[0]:
                best = (size, int(cb.split("=", 1)[1]))
    if best is None:
        raise OpFailed(f"no {table} partition on {day}")
    return best[1]


# -- checks -----------------------------------------------------------------

_INT_COLS = ["conv_id", "bucket_start", "turn_cnt", "tool_call_cnt", "latency_cnt"]


def check_turn_count(run: Run, root: str, n_turns: int) -> None:
    total = CAT.read_table(run.spark, root, "rollup_1d").agg(F.sum("turn_cnt")).first()[0]
    run.check("rollup_1d.turn_cnt_sum", total == n_turns, (total, n_turns))


def check_cascades(run: Run, root: str, horizon: str | None = None) -> None:
    spark = run.spark
    r1m = CAT.read_table(spark, root, "rollup_1m")
    r1h = CAT.read_table(spark, root, "rollup_1h")
    r1d = CAT.read_table(spark, root, "rollup_1d")
    # 1h -> 1d holds on every day; 1m -> 1h only on days the 1m horizon kept
    run.check("cascade.1h_to_1d",
              drain(R.cascade(r1h, "1d", from_tier="1h").select(_INT_COLS))
              == drain(r1d.select(_INT_COLS)))
    from_1m = R.cascade(r1m, "1h", from_tier="1m")
    if horizon:
        keep = F.col("bucket_start") >= F.lit(horizon).cast("timestamp")
        from_1m, r1h = from_1m.filter(keep), r1h.filter(keep)
    run.check("cascade.1m_to_1h",
              drain(from_1m.select(_INT_COLS)) == drain(r1h.select(_INT_COLS)))


def check_decode(run: Run, root: str, day: str) -> None:
    """Decoded chunks of ``day`` equal the stored rollup_1m latency_avg and
    latency_sum bit for bit."""
    spark = run.spark
    dec = CH.decode_chunks(
        CAT.read_table(spark, root, "chunks_1m").filter(F.col("ts_day") == day)
    ).toPandas()
    stored = CAT.read_table(spark, root, "rollup_1m").filter(F.col("ts_day") == day).select(
        "conv_id", "bucket_start", "latency_avg", "latency_sum").toPandas()
    ok = len(stored) > 0
    for feat in ("latency_avg", "latency_sum"):
        d = dec[dec["feature"] == feat].merge(
            stored[["conv_id", "bucket_start", feat]], on=["conv_id", "bucket_start"],
            how="outer", indicator=True)
        ok &= bool((d["_merge"] == "both").all()) and bool(np.array_equal(
            d["value"].to_numpy("float64").view(np.int64),
            d[feat].to_numpy("float64").view(np.int64)))
    run.check("chunks.decode_bit_exact", ok, day)


# -- workloads ---------------------------------------------------------------
#
# Each workload is (prepare, timed, check).  ``prepare`` is set-up and
# returns the state; ``timed`` runs the timed part, whose ingest writes
# into the fresh output root it is given, and returns its end-to-end
# metrics; ``check`` verifies the outputs afterwards and adds the metrics
# read off them.  Each phase of the timed part is a span of its own
# (``bench.<phase>``), so traced metrics can be split by phase.


def _prep_uniform(run: Run) -> dict:
    return generate(run, UNIFORM, split_late=True)


def _timed_uniform(run: Run, st: dict, root: str) -> dict:
    """Ingest the on-time turns and read the tables back; then repair them
    with the late turns and resume at the merged snapshot."""
    snap, n = st["snapshots"], st["counts"]["ontime"]
    with run.tracer.span("bench.ingest"):
        wall = ingest(run, run.frame(st, "ontime"), root, snap["ontime"])
    with run.tracer.span("bench.read"):
        read_loop(run, root, READ_DAY, pick_partition(root, "rollup_1m_filled", READ_DAY))
    # the tree as ingested, for the checks (a few dozen small files)
    st["ingested"] = run.path("ingested")
    shutil.copytree(root, st["ingested"])
    merged = run.frame(st, "merged")
    with run.tracer.span("bench.repair"):
        t0 = time.perf_counter()
        m = run.call(RP.repair_late_turns, run.spark, merged, run.frame(st, "late"), root,
                     snap["merged"], prior_snapshot=snap["ontime"], n_buckets=N_BUCKETS)
        resumed = run.call(PL.run_pipeline, run.spark, merged, root, snap["merged"],
                           n_buckets=N_BUCKETS)
        run.layer["repair_wall_s"] = time.perf_counter() - t0
    run.check("resume.units_done_zero", resumed["units_done"] == 0, resumed)
    run.layer.update({f"plans.repair.{k}": m[k] for k in
                      ("units_repaired", "units_carried", "buckets_touched")})
    return {"ingest_turns_per_s": n / wall}


def _check_uniform(run: Run, st: dict, root: str, res: dict) -> None:
    res["bytes_stored_per_turn"] = tier_bytes(run, st["ingested"], st["counts"]["ontime"])
    check_turn_count(run, root, st["counts"]["merged"])
    check_cascades(run, root)
    check_decode(run, root, READ_DAY)
    check_repair(run, st, root)


def check_repair(run: Run, st: dict, root: str) -> None:
    """What the repair rewrote; and, in the traced run, that the repaired
    tables equal a cold run on the merged input."""
    before, after = file_listing(st["ingested"]), file_listing(root)
    rewritten = {p: v for p, v in after.items() if before.get(p) != v}
    n_bytes = sum(s for s, _ in rewritten.values())
    run.layer["repair_bytes_rewritten_per_late_turn"] = n_bytes / st["counts"]["late"]
    run.layer["plans.repair.bytes_rewritten"] = float(n_bytes)
    parts = {os.path.dirname(p) for p in rewritten}
    run.layer["plans.repair.partitions_rewritten"] = float(len(parts))
    if not run.traced:
        return
    # a cold run is a whole second ingest: only the traced run, whose
    # timings are per-layer, pays for it
    ref = run.path("reference")
    ingest(run, run.frame(st, "merged"), ref, st["snapshots"]["merged"])
    got, want = digests(run, root), digests(run, ref)
    for t in TIER_TABLES:
        run.check(f"repair.digest.{t}", got[t] == want[t], (got[t], want[t]))
    old, new = partition_digests(run, st["ingested"]), partition_digests(run, root)
    changed = sum(old.get(p) != new.get(p) for p in parts)
    run.layer["plans.repair.useful_frac"] = changed / max(len(parts), 1)


def _prep_hot(run: Run) -> dict:
    return generate(run, HOT)


def _timed_hot(run: Run, st: dict, root: str) -> dict:
    """Ingest the hot shape with a 1m horizon, then run the pattern stage
    over it."""
    turns, n = run.frame(st, "merged"), st["counts"]["merged"]
    with run.tracer.span("bench.ingest"):
        wall = ingest(run, turns, root, st["snapshots"]["merged"],
                      retention={"1m": HOT_RETENTION_1M})
    with run.tracer.span("bench.patterns"):
        t0 = time.perf_counter()
        p = run.call(PL.run_pattern_stage, run.spark, root, n_buckets=N_BUCKETS)
        run.layer["patterns_wall_s"] = time.perf_counter() - t0
    run.check("patterns.rows", min(p["mp_rows"], p["discord_rows"], p["regime_rows"]) > 0, p)
    return {"ingest_turns_per_s": n / wall}


def _check_hot(run: Run, st: dict, root: str, res: dict) -> None:
    n = st["counts"]["merged"]
    res["bytes_stored_per_turn"] = tier_bytes(run, root, n)
    check_turn_count(run, root, n)
    check_cascades(run, root, HOT_RETENTION_1M)


WORKLOADS = {
    "uniform_ingest_read_repair": (_prep_uniform, _timed_uniform, _check_uniform),
    "hot_patterns": (_prep_hot, _timed_hot, _check_hot),
}
