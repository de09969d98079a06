"""The repository benchmark: one workload per process, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ``dialect_interactive`` and ``wal_ingest`` (see README.md).
A set-up is a session start plus the workload's loads and DDL.  The run
sets up once cold (this launches the Spark JVM) and then ``warm_setups``
more times on the same JVM; ``setup_s`` is the median of the warm ones,
the cold one is reported as ``setup.cold_s``.  The last set-up is kept:
the run warms up, runs the measured loop for ``--seconds``, then checks
every output outside the timed region.  The last line of stdout is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.
A fuller record of the run (samples, host-noise stamp, effective shuffle
width, errors) goes to ``perfbench/_work/runs/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import random
import shutil
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402
import harness  # noqa: E402
import hostnoise  # noqa: E402
import trace  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "op_geomean_ms": "ms",
}
PER_LAYER = {
    "op_p50_ms": "ms",
    "ops_per_s": "1/s",
    "setup.cold_s": "s",
    "session.start_s": "s",
    "sources.load_s": "s",
    "sqlfront.lower_new_p50_ms": "ms",
    "sqlfront.lower_repeat_p50_ms": "ms",
    "sqlfront.py4j_calls_per_stmt": "count",
    "sqlfront.eager_jobs_per_stmt": "count",
    "sqlfront.plan_cache_hit_ratio": "ratio",
    "spark.action_p50_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.task_wait_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "registry.build_s": "s",
    "registry.eager_jobs": "count",
    "registry.action_s": "s",
    "registry.query_geomean_ms": "ms",
    "sources.ilp_parse_ms": "ms",
    "table.rows_rewritten_per_row": "ratio",
    "table.bytes_written_per_user_byte": "ratio",
    "table.partitions_touched_per_commit": "count",
    "table.files_per_partition": "count",
    "table.vacuum_ms": "ms",
    "streaming.matview_refresh_ms": "ms",
    "dialect.query_new_text_p50_ms": "ms",
    "wal.commit_p50_ms": "ms",
    "wal.read_after_write_p50_ms": "ms",
    "wal.ingest_rows_per_s": "1/s",
    "wal.storage_bytes_per_user_byte": "ratio",
    "py4j.calls_per_op": "count",
    "process.peak_rss_mb": "MB",
    "process.cpu_ms_per_op": "ms",
    "trace.overhead_pct": "%",
}


@dataclass
class Ctx:
    spark: object
    pids: list  # the benchmark's Python process and its Spark JVM
    data: dict  # scale factor -> generated table directory
    warehouse: str
    tracer: trace.Tracer
    rng: random.Random
    seed: int


def _workload(name: str):
    if name == "dialect_interactive":
        from w_dialect import DialectInteractive

        return DialectInteractive()
    if name == "wal_ingest":
        from w_wal import WalIngest

        return WalIngest()
    raise SystemExit(f"unknown workload {name!r}")


def _span_ms(spans) -> list[float]:
    return [(s["end"] - s["start"]) * 1e3 for s in spans]


def _per_layer(tr, ev: dict, ops: list[dict], warm: list[dict], extra: dict) -> dict:
    # per-op figures cover the loop's ops; the registry queries after the
    # loop have their own ``registry.*`` figures
    measured = {r["op"] for r in ops if r.get("kind") != "registry"}
    registry = {r["op"] for r in ops if r.get("kind") == "registry"}
    n = max(len(measured), 1)

    def ev_sum(field: str, phases: tuple | None = None, among: set = measured) -> float:
        return sum(
            v.get(field, 0.0)
            for (op, phase), v in ev.items()
            if op in among and (phases is None or phase in phases)
        )

    lower = tr.spans_named("sqlfront.sql", measured)
    hits = [r["plan_cache_hit"] for r in ops if "plan_cache_hit" in r]
    op_spans = tr.spans_named("op", measured)
    m = {
        "session.start_s": checks.median(s["session_s"] for s in warm),
        "sources.load_s": checks.median(s["load_s"] for s in warm),
        "sqlfront.lower_new_p50_ms": checks.median(_span_ms(s for s in lower if s["new_text"])),
        "sqlfront.lower_repeat_p50_ms": checks.median(
            _span_ms(s for s in lower if not s["new_text"])
        ),
        "sqlfront.py4j_calls_per_stmt": sum(s["py4j"] for s in lower) / max(len(lower), 1),
        "sqlfront.eager_jobs_per_stmt": ev_sum("jobs", ("lower",)) / max(len(lower), 1),
        "sqlfront.plan_cache_hit_ratio": sum(hits) / len(hits) if hits else 0.0,
        "spark.action_p50_ms": checks.median(_span_ms(tr.spans_named("spark.action", measured))),
        "spark.jobs_per_op": ev_sum("jobs") / n,
        "spark.stages_per_op": ev_sum("stages") / n,
        "spark.tasks_per_op": ev_sum("tasks") / n,
        "spark.task_wait_s": ev_sum("task_wait_s") / n,
        "spark.executor_cpu_s": ev_sum("cpu_s") / n,
        "spark.executor_run_s": ev_sum("run_s") / n,
        "spark.gc_s": ev_sum("gc_s") / n,
        "spark.shuffle_read_bytes": ev_sum("shuffle_read_bytes") / n,
        "spark.shuffle_write_bytes": ev_sum("shuffle_write_bytes") / n,
        "spark.spill_bytes": ev_sum("spill_bytes") / n,
        "registry.build_s": checks.median(_span_ms(tr.spans_named("registry.build", registry)))
        / 1e3,
        "registry.eager_jobs": ev_sum("jobs", ("build",), registry) / max(len(registry), 1),
        "registry.action_s": checks.median(_span_ms(tr.spans_named("spark.action", registry)))
        / 1e3,
        "sources.ilp_parse_ms": checks.median(_span_ms(tr.spans_named("sources.ilp", measured))),
        "py4j.calls_per_op": sum(s["py4j"] for s in op_spans) / max(len(op_spans), 1),
    }
    # a layer this workload never crosses reads 0
    return {**dict.fromkeys(PER_LAYER, 0.0), **m, **extra}


def _overhead_pct(args, traced_geomean: float, runs_dir: str) -> float:
    """Traced op geomean against the median of the untraced runs recorded
    with the same workload, seed and ``--seconds``; 0 when there are none."""
    base = []
    for p in glob.glob(os.path.join(runs_dir, f"{args.workload}-seed{args.seed}-trace0-*.json")):
        with open(p) as fh:
            r = json.load(fh)
        if r["seconds"] == args.seconds:
            base.append(r["metrics"]["op_geomean_ms"])
    b = checks.median(base)
    return (traced_geomean / b - 1.0) * 100.0 if b > 0 else 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    tmp = os.path.join(harness.WORK, "tmp", str(os.getpid()))
    harness.isolate(tmp)
    sys.path.insert(0, harness.ROOT)
    import questdb_spark.session  # noqa: F401  (fails fast without the engine)

    wl = _workload(args.workload)
    runs_dir = os.path.join(harness.WORK, "runs")
    os.makedirs(runs_dir, exist_ok=True)
    data = {
        sf: datagen.ensure_dataset(os.path.join(harness.WORK, "data"), sf)
        for sf in wl.scales
    }
    noise = {"before": hostnoise.stamp()}
    steal = hostnoise.StealMeter()
    tracer = trace.Tracer(bool(args.trace), args.workload, os.path.join(tmp, "eventlog"))
    rng = random.Random(args.seed)
    setups = []
    try:
        for i in range(1 + wl.warm_setups):
            t0 = time.perf_counter()
            spark = harness.start_session(tracer.spark_conf())
            t1 = time.perf_counter()
            ctx = Ctx(
                spark,
                [os.getpid(), harness.jvm_pid(spark)],
                data,
                harness.fresh_dir(os.path.join(tmp, f"warehouse{i}")),
                tracer,
                rng,
                args.seed,
            )
            wl.setup(ctx)
            t2 = time.perf_counter()
            setups.append({"session_s": t1 - t0, "load_s": t2 - t1, "total_s": t2 - t0})
            if i < wl.warm_setups:
                spark.stop()
        tracer.attach(spark)
        t_run = time.perf_counter()
        ops = wl.run(ctx, args.seconds)
        t_verify = time.perf_counter()
        wl.verify(ctx, ops)
        phases = {
            "run_s": t_verify - t_run,
            "loop_s": wl.loop_s,
            "verify_s": time.perf_counter() - t_verify,
        }
        rss = harness.peak_rss_mb(ctx.pids)
        app_id = spark.sparkContext.applicationId
        shuffle = spark.conf.get("spark.sql.shuffle.partitions")
        spark.stop()
    finally:
        harness.shutdown_jvm()
    noise.update(steal.read())
    noise["after"] = hostnoise.stamp()

    # end-to-end statistics cover the loop's ops; registry queries after
    # the loop only feed the registry layer figures
    ok_ms = [r["ms"] for r in ops if r["ok"] and r.get("kind") != "registry"]
    failed = sum(1 for r in ops if not r["ok"])
    warm = setups[1:]
    e2e = {
        "setup_s": checks.median(s["total_s"] for s in warm),
        "op_geomean_ms": checks.geomean(ok_ms),
    }
    # op median and throughput spread too widely between runs on a shared
    # host to gate a change; they are reported, not bounded
    extra = {
        "op_p50_ms": checks.median(ok_ms),
        "ops_per_s": len(ok_ms) / wl.loop_s,
        "setup.cold_s": setups[0]["total_s"],
        **wl.extra_metrics(ops),
        "process.peak_rss_mb": rss,
        "process.cpu_ms_per_op": wl.loop_cpu_s * 1e3 / max(len(ok_ms), 1),
    }
    if args.trace:
        ev = trace.parse_event_log(tracer.log_dir, app_id)
        layer = _per_layer(tracer, ev, ops, warm, extra)
        layer["trace.overhead_pct"] = _overhead_pct(args, e2e["op_geomean_ms"], runs_dir)
        shown, units = layer, PER_LAYER
    else:
        shown, units = e2e, END_TO_END
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.time_ns()}"
    if args.trace:
        tracer.write(os.path.join(runs_dir, stem + "-spans.json"))
    # tail percentile: the highest one with at least ten samples beyond it
    tail_pct = 100.0 * (1 - 10 / len(ok_ms)) if len(ok_ms) > 10 else None
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "metrics": e2e,
        "workload_metrics": extra,
        "per_layer": shown if args.trace else None,
        "samples": len(ok_ms),
        "tail": {
            "pct": tail_pct,
            "ms": sorted(ok_ms)[int(len(ok_ms) * tail_pct / 100)] if tail_pct else None,
        },
        "setups": setups,
        "phases": phases,
        "spark.sql.shuffle.partitions": shuffle,
        "cores": harness.cores(),
        "host_noise": noise,
        "ops": ops,
    }
    with open(os.path.join(runs_dir, stem + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    shutil.rmtree(tmp, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(ops),
                "failed": failed,
                "metrics": {
                    k: {"value": float(shown[k]), "unit": u} for k, u in units.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
