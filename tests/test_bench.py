"""bench.py's leg table and its runner."""

from __future__ import annotations

import bench
from emulating_hadoop_with_mpi_spark.registry import all_queries
from emulating_hadoop_with_mpi_spark.session import default_driver_memory


def test_leg_table_names_resolve():
    """Every name the table, the retries, the gates and the slopes use
    names a row, and no label, slope or gate is defined twice."""
    legs = [s for s in bench.LEGS if isinstance(s, bench.Leg)]
    labels = [leg.label for leg in legs]
    assert len(labels) == len(set(labels))
    rows = set(labels)
    for step in bench.LEGS:
        if isinstance(step, bench.Again):
            assert step.label in rows
        elif isinstance(step, bench.Retry):
            assert step.which in ("ceiling", "extras", "headline")
    slopes = [name for leg in legs for name, _ in leg.slopes]
    assert len(slopes) == len(set(slopes))
    assert all(den in rows for leg in legs for _, den in leg.slopes)
    for gate in bench.GATES:
        assert gate.leg in (set(slopes) if gate.kind == "slope" else rows), gate.name
        assert gate.den is None or gate.den in rows, gate.name
    gate_names = [g.name for g in bench.GATES] + [leg.ceiling[0] for leg in legs if leg.ceiling]
    assert len(gate_names) == len(set(gate_names)) == 13
    assert set(bench.HEADLINE) <= set(all_queries())
    assert [leg.label for leg in legs if leg.headline] == [
        *bench.HEADLINE, "matmul_coo_768", "matmul_block_768"]


def test_runner_profiles_each_rep(spark):
    """A tiny leg through the runner: the rep's profile holds the jobs of
    its own job group, and its construct and execute times add up to the
    rep's value.  One shuffle-free rep: the shared test session keeps
    Spark's default status-store limits, which evict skipped stages first."""
    b = bench.Bench(spark, {bench.SF: "."}, cpus=2)
    leg = bench.Leg(
        "tiny",
        bench.SF,
        lambda b, d: lambda: b.spark.range(2_000_000).selectExpr("sha2(cast(id AS string), 256) AS h"),
        reps=1,
    )
    try:
        b.run(leg, leg.reps)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert not b.errors
    assert len(b.runs["tiny"]) == 1 and len(b.pairs["tiny"]) == 1
    for value, profile in b.runs["tiny"]:
        assert profile["exec.jobs"] >= 1
        assert profile["exec.executor_run_s"] > 0
        assert len(profile["exec.job_run_s"]) == profile["exec.jobs"]
        assert round(profile["construct_s"] + profile["exec_s"], 3) == value
    assert b.values["tiny"] == min(v for v, _ in b.runs["tiny"])
    basis, kind = b.job_sum("tiny")
    assert basis > 0 and kind.startswith("sum_over_jobs")


def test_default_driver_memory_is_half_the_machine_capped_at_16g():
    gib = 1 << 30
    assert default_driver_memory(15 * gib) == "7680m"
    assert default_driver_memory(64 * gib) == "16384m"
    assert default_driver_memory().endswith("m")
