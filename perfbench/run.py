#!/usr/bin/env python3
"""The repository benchmark: one workload, one fresh process, one record.

    python3 perfbench/run.py --workload registry_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed`` under ``.perfbench/`` in the checkout, starts the program's own
Spark session, sets up, warms up, measures for ``--seconds``, checks every
answer outside the timed region, and prints one ``name value unit`` line
per metric, the check outcomes and the run context, then (last line) a JSON
object ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 1``
records spans around the calls into each layer, writes them to
``.perfbench/traces/`` and reports the per-layer metrics instead of the
end-to-end ones. Every record also lands in ``.perfbench/records/``.

See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("registry_batch", "gateway_adhoc", "gateway_sync")

#: name -> unit; every run with ``--trace 0`` reports all of these.
END_TO_END = {
    "setup_s": "s",
    "batch_s": "s",
    "query_p50_ms": "ms",
    "query_p90_ms": "ms",
    "query_qps": "1/s",
    "cpu_ms_per_op": "ms",
    "peak_rss_mb": "MB",
}

#: name -> unit; every run with ``--trace 1`` reports all of these. A layer
#: a workload does not run reads 0.
PER_LAYER = {
    "jvm.cpu_s": "s",
    "jvm.gc_ms": "ms",
    "registry.builder_ms": "ms/query",
    "registry.plan_ms": "ms/query",
    "registry.collect_ms": "ms/query",
    "registry.jobs": "count/pass",
    "registry.stages": "count/pass",
    "registry.tasks": "count/pass",
    "registry.single_task_stages": "count/pass",
    "operators.relational.ms": "ms/pass",
    "operators.sampling.ms": "ms/pass",
    "operators.sketches.ms": "ms/pass",
    "operators.streaming_bridge.ms": "ms/pass",
    "operators.text.ms": "ms/pass",
    "gateway.http.ms": "ms/req",
    "gateway.access.ms": "ms/req",
    "gateway.access.auth_ms": "ms/req",
    "gateway.validator.ms": "ms/req",
    "gateway.catalog.ms": "ms/req",
    "gateway.executor.ms": "ms/req",
    "gateway.executor.sql_ms": "ms/req",
    "gateway.executor.collect_ms": "ms/req",
    "gateway.executor.envelope_ms": "ms/req",
    "gateway.validator.rejected": "count/pass",
    "gateway.catalog.reregistrations": "count",
    "gateway.catalog.refresh_ms": "ms/flip",
    "gateway.jobs_per_query": "jobs/req",
    "etl.extract_ms": "ms/cycle",
    "etl.merge_ms": "ms/cycle",
    "etl.build_ms": "ms/cycle",
    "etl.publish_ms": "ms/cycle",
    "etl.vacuum_ms": "ms/cycle",
    "etl.snapshot_bytes_per_source_byte": "ratio",
    "etl.files_written": "count/cycle",
    "etl.delta_rows": "count/cycle",
}


class RunContext:
    """What a workload needs from the harness."""

    def __init__(self, args, workdir: str, tracer) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.sf = args.sf
        self.tracer = tracer
        self.workdir = workdir
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    def start_session(self):
        from runtime import start_session

        self.spark, seconds = start_session(self.workdir)
        return self.spark, seconds


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1,
                    help="scale factor of the generated inputs (default 0.1)")
    return ap.parse_args(argv)


def _program_importable() -> str | None:
    """None if the program under test is importable, else why not."""
    sys.path.insert(0, ROOT)
    sys.path.insert(1, HERE)
    try:
        import ser_etl_spark  # noqa: F401
        import tests.oracle  # noqa: F401
    except ImportError as exc:
        return f"cannot import the program from {ROOT}: {exc}"
    return None


def _run(ctx: RunContext):
    if ctx.workload == "registry_batch":
        import registry_batch

        return registry_batch.run(ctx)
    import gateway

    return gateway.run(ctx, with_sync=ctx.workload == "gateway_sync")


def main(argv: list[str]) -> int:
    started = time.perf_counter()
    args = _parse(argv)
    why = _program_importable()
    if why:
        print(why, file=sys.stderr)
        return 2

    from runtime import stop_session
    from tracing import Tracer

    out_dir = os.path.join(ROOT, ".perfbench")
    workdir = os.path.join(out_dir, f"run-{os.getpid()}")
    os.makedirs(workdir)
    # the program's own temp files (snapshot builds) stay in the checkout
    os.environ["TMPDIR"] = workdir
    tempfile.tempdir = workdir
    tracer = Tracer(enabled=bool(args.trace))
    ctx = RunContext(args, workdir, tracer)
    try:
        res = _run(ctx)
        if args.trace:
            res.per_layer["jvm.cpu_s"] = (res.context["jvm.cpu_s"], "s")
            res.per_layer["jvm.gc_ms"] = (res.context["jvm.gc_ms"], "ms")
            # the traced run's own end-to-end figures: minus an untraced
            # run's of the same seed, they are the tracing overhead
            res.context["traced_end_to_end"] = {
                name: value for name, (value, _) in res.end_to_end.items()}
    except Exception:  # noqa: BLE001 - a failed run prints no result
        traceback.print_exc()
        return 1
    finally:
        tracer.restore()
        if ctx.spark is not None:
            stop_session(ctx.spark)
        shutil.rmtree(workdir, ignore_errors=True)
    res.context["process_s"] = time.perf_counter() - started

    catalogue = PER_LAYER if args.trace else END_TO_END
    measured = res.per_layer if args.trace else res.end_to_end
    metrics = {
        name: {"value": float(measured.get(name, (0.0,))[0]), "unit": unit}
        for name, unit in catalogue.items()
    }
    record = {
        "workload": args.workload,
        "trace": args.trace,
        "correct": not res.failures,
        "attempted": res.attempted,
        "failed": len(res.failures),
        "metrics": metrics,
        "failed_frac": len(res.failures) / max(1, res.attempted),
        "checks": res.checks,
        "context": res.context,
        "failures": res.failures[:50],
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    for sub in ("records", "traces"):
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)
    with open(os.path.join(out_dir, "records", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        tracer.write(os.path.join(out_dir, "traces", f"{tag}.jsonl"))

    print(f"# {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"sf={args.sf:g} trace={args.trace}")
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(f"failed_frac {record['failed_frac']:.6g} ratio "
          f"({record['failed']} of {record['attempted']})")
    if "sync_s" in res.context:
        print(f"sync_s {res.context['sync_s']:.6g} s "
              f"(median of {res.context['sync_cycles']} cycles)")
    for name, outcome in res.checks.items():
        print(f"check {name}: {outcome}")
    for line in res.failures[:20]:
        print(f"failure: {line}")
    print("context " + json.dumps(res.context, default=str, sort_keys=True))
    print(json.dumps({
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
