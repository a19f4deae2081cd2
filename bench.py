"""Benchmark harness: times the headline query suite at a scale factor.

Usage: ``python bench.py`` — reads ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) and ``$SPARK_GRAFT_CPUS`` (default all cores),
executes every headline query end-to-end (materialized via the noop sink —
full execution, no driver collect), and prints ONE JSON line::

    {"metric": "headline_suite_seconds", "value": N, "unit": "sec",
     "queries": {"q01_pricing_summary": sec, ...}, "sf": 0.1,
     "reps": 5, "dispersion": {"q01_pricing_summary":
        {"min": s, "max": s, "stdev": s}, ...}}

Per-query numbers are the TRIMMED MEAN of ``$SPARK_GRAFT_BENCH_REPS``
(default 5; values of 1 or 2 are honored for quick runs — trimming only
applies at ≥3 reps) repetitions — drop the single min and max, average
the rest — so round-over-round deltas of a few percent are decidable
against the recorded spread instead of being single-shot noise.
``value`` is the sum of the per-query trimmed means.

``--only q1,q2`` times the named queries instead of the headline suite
(``tools/bench_slope.py`` uses it for its scale-point sweep); ``--all``
times every registered query once.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark_anomaly_detection_spark.registry import all_queries
from pyspark_anomaly_detection_spark.session import get_spark_session


def materialize(df) -> None:
    """Execute the full plan without transferring rows to the driver."""
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    spark = get_spark_session("bench")
    spark.sparkContext.setLogLevel("ERROR")

    registry = all_queries()
    if "--all" in sys.argv:
        # Full-registry sweep: per-query wall time for EVERY registered
        # query — the tail-latency guard the 15-query headline suite
        # can't provide.  Warmup at sf0.001 per plan (codegen compiles
        # per distinct plan), then timed at sf_dir.
        timings: dict[str, float] = {}
        errors: dict[str, str] = {}
        for i, (name, query) in enumerate(sorted(registry.items())):
            if i % 20 == 19:
                # session hygiene between sweep slices: a 230-query
                # sweep accumulates JVM debris (MLlib broadcast refs,
                # ContextCleaner backlog, dropped-cache fragments) that
                # inflates LATE queries by multiples (r11: q37 measured
                # 13.2s mid-sweep vs 1.8s warm-isolated, tripping the
                # slope guard on accumulation, not on the query).  The
                # sweep should measure queries, not session debris.
                spark.catalog.clearCache()
                spark.sparkContext._jvm.System.gc()  # noqa: SLF001
            try:
                materialize(query.fn(spark, "/root/testdata/sf0.001"))
            except Exception as e:  # noqa: BLE001 - sweep robustness
                errors[name] = str(e)[:200]
                continue
            start = time.perf_counter()
            try:
                materialize(query.fn(spark, sf_dir))
                timings[name] = round(time.perf_counter() - start, 3)
            except Exception as e:  # noqa: BLE001
                errors[name] = str(e)[:200]
            print(f"  {name}: {timings.get(name, 'ERR')}", file=sys.stderr)
        print(
            json.dumps(
                {
                    "metric": "full_registry_seconds",
                    "value": round(sum(timings.values()), 3),
                    "unit": "sec",
                    "queries": timings,
                    "errors": errors,
                    "n_queries": len(registry),
                    "sf": sf,
                    "parallelism": spark.sparkContext.defaultParallelism,
                    "master": spark.sparkContext.master,
                }
            )
        )
        spark.stop()
        return

    headline = {n: q for n, q in registry.items() if q.headline}
    if "--only" in sys.argv:
        # targeted subset (the bench_slope scale point)
        wanted = set(sys.argv[sys.argv.index("--only") + 1].split(","))
        unknown = wanted - set(registry)
        if unknown:
            raise SystemExit(f"--only: unknown queries {sorted(unknown)}")
        headline = {n: registry[n] for n in sorted(wanted)}
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5")))

    # Two-stage warmup. Stage 1 (sf0.001): whole-stage codegen compiles per
    # distinct plan, so every headline plan is warmed cheaply. Stage 2 (one
    # untimed execution at the TARGET sf_dir): the small-SF pass engages only
    # 1-2 partitions, so at the target scale rep 1 used to pay ~30 Python
    # worker spawns (fork + numpy/pandas import) plus first-touch page cache
    # — r15's sf1 A/B measured rep-1 as the max sample in 5 of 6 runs
    # (BENCH_NOTES.md round 15). Worker spawn is a session constant at
    # cluster scale, not a per-query cost, so it does not belong in the
    # per-query sample.
    for query in headline.values():
        materialize(query.fn(spark, "/root/testdata/sf0.001"))
    for name, query in sorted(headline.items()):
        materialize(query.fn(spark, sf_dir))

    # Interleave repetitions (rep-major, not query-major) so a transient
    # machine-wide slowdown lands on ONE sample of many queries instead of
    # all samples of one query — the trimmed mean then drops it.
    samples: dict[str, list[float]] = {n: [] for n in headline}
    for _ in range(reps):
        # Session hygiene at rep boundaries — the same rule the --all
        # sweep applies every 20 queries, for the same measured reason:
        # a multi-query session accumulates JVM debris (broadcast refs,
        # ContextCleaner backlog) that lands selectively on the Python
        # mapInPandas lanes (r15: q37 12.2s mid-suite at sf1 vs 3.7s
        # isolated — the exact r11 q37 signature; the sweep should
        # measure queries, not session debris).
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()  # noqa: SLF001
        for name, query in sorted(headline.items()):
            start = time.perf_counter()
            materialize(query.fn(spark, sf_dir))
            samples[name].append(round(time.perf_counter() - start, 3))

    timings: dict[str, float] = {}
    dispersion: dict[str, dict] = {}
    for name, vals in samples.items():
        core = sorted(vals)[1:-1] if len(vals) >= 3 else vals
        timings[name] = round(sum(core) / len(core), 3)
        mean = sum(vals) / len(vals)
        dispersion[name] = {
            "min": min(vals),
            "max": max(vals),
            "stdev": round(
                (sum((v - mean) ** 2 for v in vals) / max(len(vals) - 1, 1)) ** 0.5,
                3,
            ),
        }

    print(
        json.dumps(
            {
                "metric": "headline_suite_seconds",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": dict(sorted(timings.items())),
                "sf": sf,
                "reps": reps,
                # Scaling verifiability (VERDICT r16 item 2): the driver's
                # low-core probe could not distinguish "CPUs ignored" from
                # "suite overhead-bound" — record the parallelism the
                # session ACTUALLY ran with so $SPARK_GRAFT_CPUS plumbing
                # is provable from the bench line itself.
                "parallelism": spark.sparkContext.defaultParallelism,
                "master": spark.sparkContext.master,
                "dispersion": dict(sorted(dispersion.items())),
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
