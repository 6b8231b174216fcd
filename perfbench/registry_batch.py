"""``registry_batch``: registry builders run one at a time, closed loop.

One query from each execution path of the operator surface, at the run's
scale factor, in an order permuted by the seed. An untimed warm-up pass
runs first: a query's first execution at full size is still ~10% slower
than its second, so a window that ran some queries once and others twice
would otherwise mix cold and warm times. Then the queries run round-robin
in that order until the run's seconds are used and each ran
``MIN_EXECUTIONS`` times.
``batch_s`` is a typical pass: the sum of each query's median time. After
the timed region, each query's warm-up answer is compared with its DuckDB
oracle (``tests/oracle.py``) and every timed answer with the warm-up's.
"""

from __future__ import annotations

import time

import numpy as np

from runtime import JvmProbe, Result, Window, median, quantile, run_context

#: One query per execution path; see README.md for why each was chosen.
QUERIES: dict[str, str] = {
    "group_by": "dsum lineitem aggregate",
    "mixture_rebalance": "eager driver job in the builder",
    "kmv_distinct": "Arrow/pandas UDF (mapInPandas)",
    "streaming_exact_dedup": "structured-streaming bridge",
    "bm25_search": "text index",
}


#: Fewest timed executions of each query: the median of three ignores one
#: execution slowed by a burst of host steal, the mean of two does not.
MIN_EXECUTIONS = 3


class _Collected:
    """A collected answer in the shape ``tests/oracle.compare`` reads."""

    def __init__(self, columns, rows) -> None:
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


def _execute(spark, spec, src: str, group: str, tracer, probe: JvmProbe):
    """Run one query; returns its columns, rows, wall seconds and JVM CPU
    seconds."""
    sc = spark.sparkContext
    sc.setJobGroup(group, spec.name)
    try:
        cpu = probe.cpu_s()
        start = time.perf_counter()
        with tracer.span("registry.query", op=group):
            with tracer.span("registry.builder"):
                df = spec.builder(spark, src)
            if tracer.enabled:
                with tracer.span("registry.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tracer.span("registry.collect"):
                rows = df.collect()
        elapsed = time.perf_counter() - start
        cpu = probe.cpu_s() - cpu
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(df.columns), rows, elapsed, cpu


def _job_counts(spark, group: str) -> tuple[int, int, int, int]:
    """(jobs, stages run, tasks run, stages with one task) of a job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for job in jobs:
        info = st.getJobInfo(job)
        if info is not None:
            stage_ids.update(info.stageIds)
    ran = [
        s for s in (st.getStageInfo(i) for i in stage_ids)
        if s is not None and s.numCompletedTasks > 0
    ]
    return (
        len(jobs), len(ran), sum(s.numTasks for s in ran),
        sum(1 for s in ran if s.numTasks == 1),
    )


def run(ctx) -> Result:
    from datagen import generate_in_child

    res = Result()
    tracer = ctx.tracer
    # set-up time (setup_s) is JVM start and imports; making the inputs is
    # the benchmark's own work and stays out of it
    start = time.perf_counter()
    src = ctx.path("source")
    generate_in_child(src, ctx.sf, ctx.seed)
    gen_s = time.perf_counter() - start
    spark, jvm_s = ctx.start_session()
    start = time.perf_counter()
    from ser_etl_spark.registry import all_queries

    specs = all_queries()
    import_s = time.perf_counter() - start
    setup_s = jvm_s + import_s
    probe = JvmProbe(spark)
    window = Window(probe)

    order = [list(QUERIES)[i] for i in np.random.default_rng(ctx.seed).permutation(len(QUERIES))]
    start = time.perf_counter()
    warm = {name: _execute(spark, specs[name], src, f"pb-warm-{name}", tracer, probe)
            for name in order}
    warmup_s = time.perf_counter() - start

    window.start()
    # the queries round-robin in pass order until the run's seconds are
    # used and each ran MIN_EXECUTIONS times; no query starts after both
    runs: dict[str, list[tuple]] = {name: [] for name in order}
    deadline = time.perf_counter() + ctx.seconds
    k = 0
    while k < MIN_EXECUTIONS * len(order) or time.perf_counter() < deadline:
        name = order[k % len(order)]
        runs[name].append(
            _execute(spark, specs[name], src, f"pb-{k // len(order)}-{name}", tracer, probe))
        k += 1
    window.stop()
    peak_rss_mb = probe.peak_rss_mb()

    # -- correctness, outside the timed region ---------------------------
    start = time.perf_counter()
    from tests.oracle import canonical_rows, compare, duckdb_connection

    con = duckdb_connection(src)
    for name in order:
        cols, rows, _, _ = warm[name]
        problems = compare(name, _Collected(cols, rows), con, specs[name].oracle)
        res.attempted += 1
        res.checks[f"oracle:{name}"] = "ok" if not problems else "FAILED"
        for p in problems:
            res.fail(p)
        expected = canonical_rows(cols, [tuple(r) for r in rows])
        for i, (c, r, _, _) in enumerate(runs[name]):
            res.attempted += 1
            if canonical_rows(c, [tuple(x) for x in r]) != expected:
                res.fail(f"{name}: timed execution {i} answer differs from the warm-up's")
    con.close()
    checks_s = time.perf_counter() - start

    # Each query counts once, through its median wall and CPU time,
    # whichever queries the window happened to run one time more than the
    # others.
    median_ms = {name: median([t * 1000.0 for _, _, t, _ in runs[name]]) for name in order}
    cpu_ms = {name: median([c * 1000.0 for *_, c in runs[name]]) for name in order}
    batch_s = sum(median_ms.values()) / 1000.0
    executions = sum(len(r) for r in runs.values())
    res.end_to_end.update({
        "setup_s": (setup_s, "s"),
        "batch_s": (batch_s, "s"),
        "query_p50_ms": (quantile(list(median_ms.values()), 0.5), "ms"),
        "query_p90_ms": (quantile(list(median_ms.values()), 0.9), "ms"),
        "query_qps": (len(order) / batch_s, "1/s"),
        "cpu_ms_per_op": (sum(cpu_ms.values()) / len(order), "ms"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    })
    res.context.update(run_context(spark, ctx.seed, window))
    res.context.update({
        "samples": executions,
        "executions": {name: len(runs[name]) for name in order},
        "query_order": order,
        "setup.jvm_s": jvm_s,
        "setup.import_s": import_s,
        "setup.datagen_s": gen_s,
        "warmup_s": warmup_s,
        "checks_s": checks_s,
        "per_query_median_ms": median_ms,
    })

    if tracer.enabled:
        ops = {f"pb-{i}-{name}" for name in order for i in range(len(runs[name]))}
        layer = res.per_layer
        for part in ("builder", "plan", "collect"):
            layer[f"registry.{part}_ms"] = (
                tracer.total_ms(f"registry.{part}", ops) / len(ops), "ms/query")
        counts = [_job_counts(spark, f"pb-0-{name}") for name in order]
        for i, key in enumerate(("jobs", "stages", "tasks", "single_task_stages")):
            layer[f"registry.{key}"] = (sum(c[i] for c in counts), "count/pass")
        res.context["registry.counts_by_execution"] = {
            name: [list(_job_counts(spark, f"pb-{i}-{name}")) for i in range(len(runs[name]))]
            for name in order
        }
        for name in order:
            module = specs[name].builder.__module__.rsplit(".", 1)[-1]
            layer[f"operators.{module}.ms"] = (median_ms[name], "ms/pass")
    return res
