"""Optimization-round probe: capture .explain('formatted') plans and/or
noop-sink timings for every registered query.

Usage:
    python tools/opt_probe.py plans    <outdir> [suffix] [names...]
    python tools/opt_probe.py time     <reps>   [names...]
    python tools/opt_probe.py timecold <reps>   [names...]
    python tools/opt_probe.py both     <outdir> [suffix] [names...]

``time`` times ONLY the noop sink of the built frame; ``timecold``
times q.fn() + sink together — the bench's timed region (queries whose
builders run eager plan-construction jobs, q82/q85, differ a lot).

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
SPARK_GRAFT_CPUS defaults to the CPUs this process may run on.
Timing uses the guide §1.4 noop sink (computes every column, discards the
write) with min-of-reps, printed as one JSON line at the end.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from emulating_hadoop_with_mpi_spark.registry import all_queries
from emulating_hadoop_with_mpi_spark.session import get_spark


def main() -> None:
    mode = sys.argv[1]
    args = sys.argv[2:]
    outdir = suffix = None
    reps = 3
    if mode in ("plans", "both"):
        outdir = args.pop(0)
        suffix = args.pop(0) if args and not args[0].startswith("q") else "before"
        os.makedirs(outdir, exist_ok=True)
    if mode in ("time", "timecold"):
        reps = int(args.pop(0))
    names = args  # remaining: query subset (empty → all)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    spark = get_spark(
        app_name="opt_probe",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    picked = {n: q for n, q in registry.items() if not names or n in names}

    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for name, q in picked.items():
        try:
            df = q.fn(spark, sf_dir)
        except Exception as e:  # noqa: BLE001
            errors[name] = repr(e)[:300]
            continue
        if mode in ("plans", "both"):
            try:
                plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
                    df._jdf.queryExecution(), "formatted"
                )
            except Exception:
                import contextlib
                import io

                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    df.explain("formatted")
                plan = buf.getvalue()
            with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(plan)
        if mode in ("time", "timecold", "both"):
            import gc

            from emulating_hadoop_with_mpi_spark.functions.pipeline import (
                release_curate_cache,
            )

            legs = []
            for _ in range(reps):
                # fresh build each rep so no accidental reuse of a prior
                # rep's materialized state skews steady-state timing;
                # clearCache so queries with internal persist/cache pay
                # their cache-build every rep (bench methodology); the
                # curate anchors are checkpoint-backed (survive
                # clearCache) so release them too; gc like the bench
                # (py4j plan-object garbage)
                spark.catalog.clearCache()
                release_curate_cache()
                gc.collect()
                spark.sparkContext.setJobDescription(f"opt_probe:{name}")
                if mode == "timecold":
                    t0 = time.perf_counter()
                    q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                else:
                    dfr = q.fn(spark, sf_dir)
                    t0 = time.perf_counter()
                    dfr.write.format("noop").mode("overwrite").save()
                legs.append(round(time.perf_counter() - t0, 3))
                spark.sparkContext.setJobDescription(None)
            timings[name] = min(legs)
            samples[name] = legs
            print(f"TIMED {name}: min={min(legs)} legs={legs}", flush=True)

    out = {"mode": mode, "sf_dir": sf_dir, "cpus": cpus, "timings": timings,
           "samples": samples, "errors": errors, "n": len(picked)}
    print("OPT_PROBE_JSON " + json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
