"""The benchmark hooks the engine's functions by name (perfbench/run.py
install_wrappers): a rename or a signature change of a hooked function
fails here, before a benchmark run does."""

import inspect

from perfbench.run import install_wrappers
from perfbench.trace import Tracer

from more_pattern_extraction_spark.operators import gapfill as G
from more_pattern_extraction_spark.plans import checkpoint as CK
from more_pattern_extraction_spark.plans import pipeline as PL
from more_pattern_extraction_spark.plans import repair as RP
from more_pattern_extraction_spark.sources import catalog as CAT


def test_install_and_unwrap_wrappers(spark):
    hooked = [
        (PL, "run_pipeline"), (PL, "run_pattern_stage"),
        (RP, "repair_late_turns"), (RP, "affected_units"),
        (CAT, "write_partitioned"), (CAT, "drop_partitions_before"),
        (G, "gap_fill_rollup"), (G, "interpolate_dense"), (G, "interpolate_runs"),
        (CK.CheckpointStore, "pending_units"), (CK.CheckpointStore, "commit"),
        (CK.CheckpointStore, "record_lineage"), (CK.CheckpointStore, "record_metrics"),
    ]
    orig = {(o, a): getattr(o, a) for o, a in hooked}
    tracer = Tracer(spark.sparkContext)
    install_wrappers(tracer)
    try:
        for (owner, attr), fn in orig.items():
            wrapped = getattr(owner, attr)
            assert wrapped is not fn and wrapped.__wrapped__ is fn, attr
    finally:
        tracer.unwrap_all()
    for (owner, attr), fn in orig.items():
        assert getattr(owner, attr) is fn, attr


def test_benchmark_calls_bind():
    """The call shapes of perfbench/workloads.py still bind."""
    sig = inspect.signature
    sig(PL.run_pipeline).bind("spark", "turns", "root", "snap", n_buckets=4,
                              retention={"1m": "2024-01-08"})
    sig(PL.run_pattern_stage).bind("spark", "root", n_buckets=4)
    sig(RP.repair_late_turns).bind("spark", "merged", "late", "root", "snap",
                                   prior_snapshot="prior", n_buckets=4)
    sig(CAT.write_partitioned).bind("df", "root", "name", sort_cols=("conv_id",))
