"""Run one benchmark workload and print its metrics.

Usage (from the repository root)::

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 5 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run.  The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
holds every metric of the run (end-to-end, write-path, per-layer), the
sample counts and the pinned environment.  The input tables are the
engine's test tables, copied under ``perfbench/data/``; the run's tables,
Spark scratch and temp files live in a per-run directory under
``.perfbench/`` in the repository root that is removed at exit.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(HERE, "data")

#: test-table scale factor per workload; BENCHMARK.json lists query_mix
#: and lake_dml, olap_star and llm_curation are query_mix's two halves
SCALE = {"query_mix": 0.01, "lake_dml": 0.01, "olap_star": 0.01, "llm_curation": 0.01}
SMOKE_SCALE = 0.001

E2E_UNITS = {
    "setup_s": "s",
    "read_p50_s": "s",
    "ops_per_min": "ops/min",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "calls": "count",
    "plan_s": "s",
    "exec_s": "s",
    "eager_jobs": "count",
    "tasks": "count",
    "shuffle_mb": "MB",
    "core_util": "ratio",
    "gc_s": "s",
}
OTHER_UNITS = {
    "readers.input_mb": "MB",
    "readers.rows_in_per_row_out": "ratio",
    "deltalite.snapshot_s": "s",
    "deltalite.log_commits_replayed": "count",
    "deltalite.append_s": "s",
    "deltalite.merge_s": "s",
    "deltalite.delete_s": "s",
    "deltalite.optimize_s": "s",
    "deltalite.files_rewritten_per_commit": "count",
    "deltalite.rewrite_efficiency": "ratio",
    "deltalite.bytes_written_mb": "MB",
    "deltalite.active_files": "count",
    "deltalite.jobs_per_commit": "count",
    "deltalite.write_amp": "ratio",
    "deltalite.space_amp": "ratio",
    "session.start_s": "s",
    "session.warm_s": "s",
    "session.trace_overhead": "ratio",
}


def layer_units() -> dict[str, str]:
    from workloads import QUERY_LAYERS

    units = {f"{layer}.{m}": u for layer in QUERY_LAYERS for m, u in LAYER_UNITS.items()}
    units.update(OTHER_UNITS)
    return units


def _sum_counter(op, key: str, phases=None) -> float:
    return sum(
        c.get(key, 0.0) for p, c in op.counters.items() if phases is None or p in phases
    )


def layer_metrics(ops, rows_out, cores, lake, session) -> dict[str, float]:
    from harness import mean, median
    from workloads import QUERY_LAYERS

    out: dict[str, float] = {}
    reads = [o for o in ops if o.ok and o.layer != "deltalite"]
    for layer in QUERY_LAYERS:
        mine = [o for o in reads if o.layer == layer]
        traced = [o for o in mine if o.traced]
        exec_wall = sum(o.phases.get("execute", 0.0) for o in traced)
        busy = sum(
            _sum_counter(o, "cpu_s", ("execute",)) + o.extra.get("py_cpu_s.execute", 0.0)
            for o in traced
        )
        out.update(
            {
                f"{layer}.calls": len(mine),
                f"{layer}.plan_s": median([o.phases["plan"] for o in traced]),
                f"{layer}.exec_s": median([o.phases["execute"] for o in traced]),
                f"{layer}.eager_jobs": mean(
                    [o.counters["plan"]["jobs"] for o in traced]
                ),
                f"{layer}.tasks": mean([_sum_counter(o, "tasks") for o in traced]),
                f"{layer}.shuffle_mb": mean(
                    [_sum_counter(o, "shuffle_bytes") / 1e6 for o in traced]
                ),
                f"{layer}.core_util": busy / (exec_wall * cores) if exec_wall else 0.0,
                f"{layer}.gc_s": mean([o.extra["gc_s"] for o in traced]),
            }
        )
    traced_reads = [o for o in reads if o.traced]
    rows = sum(max(1, rows_out.get(o.name, 1)) for o in traced_reads)
    out["readers.input_mb"] = mean(
        [_sum_counter(o, "input_bytes") / 1e6 for o in traced_reads]
    )
    out["readers.rows_in_per_row_out"] = (
        sum(_sum_counter(o, "input_records") for o in traced_reads) / rows
        if traced_reads else 0.0
    )

    lake_ops = [o for o in ops if o.ok and o.layer == "deltalite"]
    lake_reads = [o for o in lake_ops if o.kind == "read"]
    writes = [o for o in lake_ops if o.kind == "write"]
    dml = [o for o in writes if o.name != "optimize"]
    commits = sum(o.extra["commits"] for o in writes)
    rewritten = sum(o.extra["rows_rewritten"] for o in dml)
    out.update(
        {
            "deltalite.snapshot_s": median([o.phases["snapshot"] for o in lake_reads]),
            "deltalite.log_commits_replayed": mean(
                [o.extra["log_commits_replayed"] for o in lake_reads]
            ),
            **{
                f"deltalite.{kind}_s": median(
                    [o.total_s for o in writes if o.name == kind]
                )
                for kind in ("append", "merge", "delete", "optimize")
            },
            "deltalite.files_rewritten_per_commit": (
                sum(o.extra["files_rewritten"] for o in writes) / commits
                if commits else 0.0
            ),
            "deltalite.rewrite_efficiency": (
                sum(o.extra["rows_changed"] for o in dml) / rewritten
                if rewritten else 0.0
            ),
            "deltalite.bytes_written_mb": (
                sum(o.extra["bytes_written"] for o in writes) / commits / 1e6
                if commits else 0.0
            ),
            "deltalite.active_files": lake.get("active_files", 0),
            "deltalite.jobs_per_commit": mean(
                [_sum_counter(o, "jobs") for o in writes if o.traced]
            ),
            "deltalite.write_amp": lake.get("write_amp", 0.0),
            "deltalite.space_amp": lake.get("space_amp", 0.0),
            "session.start_s": session["start_s"],
            "session.warm_s": session["warm_s"],
            "session.trace_overhead": trace_overhead(ops),
        }
    )
    return out


def trace_overhead(ops) -> float:
    """Median over op names of (traced median time / untraced median time)
    minus one, from the alternating traced and untraced rounds."""
    from harness import median

    ratios = []
    for name in sorted({o.name for o in ops}):
        on = [o.total_s for o in ops if o.ok and o.name == name and o.traced]
        off = [o.total_s for o in ops if o.ok and o.name == name and not o.traced]
        if on and off:
            ratios.append(median(on) / median(off))
    return median(ratios) - 1.0 if ratios else 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help=f"tiny inputs (sf{SMOKE_SCALE}) for a quick end-to-end check")
    args = ap.parse_args(argv)

    for needed in ("pyspark_anomaly_detection_spark/__init__.py",
                   "tools/parity_check.py"):
        if not os.path.isfile(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found under {ROOT}", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)

    import numpy as np

    import harness
    import workloads

    sf = SMOKE_SCALE if args.smoke else SCALE[args.workload]
    sf_dir = os.path.join(DATA, f"sf{sf:g}")
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    pins = harness.pin_environment(ROOT, run_dir)

    spark = sampler = None
    try:
        t0 = time.perf_counter()
        spark = harness.start_session()
        start_s = time.perf_counter() - t0
        sampler = harness.RssSampler(harness.jvm_pid(spark))
        with sampler:
            tracer = harness.Tracer(spark)
            ctx = workloads.Context(
                spark=spark, tracer=tracer, sf_dir=sf_dir, run_dir=run_dir,
                rng=np.random.default_rng(args.seed), trace=bool(args.trace),
            )
            if args.workload == "lake_dml":
                bench = workloads.LakeDml()
            else:
                bench = workloads.QueryMix(workloads.MIXES[args.workload])
            warm_s = bench.setup(ctx)
            ticks = harness.host_cpu_ticks()
            tree_cpu = harness.tree_cpu_s(harness.process_tree(os.getpid()))
            timed_s = bench.run(ctx, args.seconds)
            host = harness.host_load(ticks, harness.host_cpu_ticks())
            host["tree_cpu_s"] = harness.tree_cpu_s(harness.process_tree(os.getpid())) - tree_cpu
            lake = bench.finish(ctx) if args.workload == "lake_dml" else {}
            rows_out = getattr(bench, "rows_out", {})
            sampler.sample()
        cores = spark.sparkContext.defaultParallelism
        env = {
            **pins,
            "driverJavaOptions": spark.conf.get("spark.driver.extraJavaOptions"),
            "master": spark.sparkContext.master,
            "defaultParallelism": cores,
            "seed": args.seed,
            "sf": sf,
            "sf_dir": os.path.relpath(sf_dir, ROOT),
        }
        if args.trace:
            tracer.write_spans(
                os.path.join(out_dir, f"{args.workload}-s{args.seed}-spans.jsonl")
            )
    finally:
        if spark is not None:
            harness.stop_session(spark, sampler.seen if sampler else set())
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = ctx.ops
    attempted = len(ops) + len(ctx.run_checks)
    failed = sum(not o.ok for o in ops) + sum(
        v is not None for v in ctx.run_checks.values()
    )
    busy_s = sum(o.total_s for o in ops)
    reads = [o.total_s for o in ops if o.ok and o.kind == "read"]
    writes = [o.total_s for o in ops if o.ok and o.kind == "write"]
    e2e = {
        "setup_s": start_s + warm_s,
        "read_p50_s": harness.percentile(reads, 50),
        # per minute of op wall time: the benchmark's own bookkeeping
        # between ops (oracle replay, size accounting) is not the program's
        "ops_per_min": len(ops) / busy_s * 60.0,
        "peak_rss_mb": sampler.peak_mb,
    }
    extra = {
        # a run holds 9 to 20 reads: p90 is near the run's slowest read and
        # the median is the highest percentile with ten samples beyond it
        "read_p90_s": (harness.percentile(reads, 90), "s"),
        "write_p50_s": (harness.percentile(writes, 50), "s"),
        "write_p90_s": (harness.percentile(writes, 90), "s"),
        "error_rate": (failed / attempted if attempted else 0.0, "ratio"),
        "write_amp": (lake.get("write_amp", 0.0), "ratio"),
        "space_amp": (lake.get("space_amp", 0.0), "ratio"),
        "timed_s": (timed_s, "s"),
    }
    detail = {
        "workload": args.workload,
        "trace": args.trace,
        "env": env,
        "inputs": ctx.inputs.hexdigest(),
        "setup": {"start_s": start_s, "warm_s": warm_s},
        "samples": {
            "read": len(reads),
            "read_tail_pct": harness.supported_tail(len(reads)),
            "write": len(writes),
            "write_tail_pct": harness.supported_tail(len(writes)),
        },
        "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()},
        "unbounded": {k: {"value": v, "unit": u} for k, (v, u) in extra.items()},
        "lake": lake,
        "host": {
            **host,
            "op_steal_pct_median": harness.median([o.steal_pct for o in ops]),
            "repeats": ctx.retries,
            "repeat_s": ctx.retry_s,
        },
        "rss_at_peak_mb": sampler.peak_parts,
        "checks": {**ctx.query_checks, **ctx.run_checks},
        "errors": [f"{o.name}: {o.error}" for o in ops if not o.ok][:10],
        "op_s": [[o.name, o.total_s] for o in ops],
    }
    if args.trace:
        units = layer_units()
        per_layer = layer_metrics(
            ops, rows_out, cores, lake, {"start_s": start_s, "warm_s": warm_s}
        )
        detail["per_layer"] = {k: {"value": v, "unit": units[k]} for k, v in per_layer.items()}
        metrics = detail["per_layer"]
    else:
        metrics = detail["end_to_end"]
    with open(
        os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w"
    ) as f:
        json.dump(detail, f, indent=1, default=str)
    print(json.dumps(detail, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
