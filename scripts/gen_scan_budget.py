#!/usr/bin/env python
"""Regenerate tests/_scan_budget.py — the expected per-table scan
multiset for every registered query.

The budget is the anti-regression gate for the double-scan class the r9
verdict flagged (normalizer recompute: a second full pass over the same
fact table to fetch a total/max that a window or sentinel could carry).
``tests/test_plans.py::test_scan_budget_multiset`` compares each query's
measured row against this file; a rewrite that ADDS a scan fails the
gate until this generator is deliberately re-run and the diff reviewed.
Legitimate >1 counts (self-joins like basket_lift, two-table queries,
thin column-pruned normalizer scans like vocab_growth's doc_id-only
bounds row) are part of the recorded budget — the gate pins the
REVIEWED multiset, it does not force 1.

A row has two halves:

- ``<table>: n`` — scans in the STATIC plan of the returned frame;
- ``<build:executions>: n`` and ``<build:<table>>: n`` — present when
  the builder itself runs SQL (driver-collected training loops, label
  propagation, eager checkpoints, streaming micro-batches): the number
  of SQL executions Spark recorded while the query BUILT, and the
  per-table scans inside them. These are the scans no static plan
  shows; reading them from Spark pins every such pass without any
  counter in operator code.

Scans of non-testdata paths (persisted artifacts: ANN index, postings,
band files) are normalized to "<artifact>" so the budget is stable
across artifact cache locations.

Usage:  python scripts/gen_scan_budget.py  [--check]
  --check: exit 1 if the regenerated budget differs from the checked-in
           one (what the test does, but offline).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

#: queries whose builders are non-deterministic in plan shape or not
#: cheaply explainable (none currently — kept for the escape hatch)
SKIP: set[str] = set()


#: sf dirs whose build-time-resolved artifacts are already warm. Builders
#: that consume a derived artifact (ANN index, MinHash bands, text
#: postings, trained quantizer) resolve it at BUILD time: on a cold
#: per-user tmp cache the first measured build would also run the
#: artifact's own build jobs — an artifact-cache fact, not a plan fact
#: (ADVICE r12). Pre-warming once per sf makes the measurement
#: cache-state- and order-independent; the checked-in budget is the
#: warm-cache one.
_PREWARMED: set[str] = set()


def prewarm_artifacts(spark, sf: str) -> None:
    """Resolve every build-time artifact at its registered geometry,
    once per sf dir, BEFORE any build is measured."""
    if sf in _PREWARMED:
        return
    _PREWARMED.add(sf)
    from ser_etl_spark.operators.dedup import ensure_minhash_bands
    from ser_etl_spark.operators.similarity import (
        ensure_ann_index,
        ensure_trained_quantizer,
    )
    from ser_etl_spark.operators.text import ensure_text_postings

    for ensure in (
        ensure_ann_index,
        ensure_minhash_bands,
        ensure_text_postings,
        ensure_trained_quantizer,
    ):
        ensure(spark, sf)


def build_time_executions(spec, spark, sf: str):
    """Invoke the builder, returning ``(df, plans)``: the formatted
    physical plan of every SQL execution Spark ran while the builder
    built — the eager jobs (driver-collected iterations, checkpoints,
    streaming micro-batches) that no static plan shows. Read from the
    SQL status store, which Spark keeps with the UI disabled; the
    listener bus is drained on both sides so every execution the build
    started has landed. Artifact caches are pre-warmed first so the
    plans reflect the query build alone."""
    prewarm_artifacts(spark, sf)
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    done = store.executionsList()
    last = done.last().executionId() if done.nonEmpty() else -1
    df = spec.builder(spark, sf)
    bus.waitUntilEmpty()
    # the store lists executions in ascending id order: walk back from
    # the newest to the last one that predates the build
    plans = []
    it = store.executionsList().reverseIterator()
    while it.hasNext():
        ex = it.next()
        if ex.executionId() <= last:
            break
        plans.append(ex.physicalPlanDescription())
    return df, plans[::-1]


def scan_multiset(plan: str) -> dict[str, int]:
    """Table -> scan count in one formatted plan, artifact paths
    normalized."""
    out: dict[str, int] = {}
    # formatted explain: every scan node owns a "Location:" detail line
    for loc in re.findall(r"Location: \S+ \[([^\]]*)\]", plan):
        path = loc.split(",")[0]
        base = os.path.basename(path.rstrip("/"))
        name = base[:-8] if base.endswith(".parquet") else base
        if "/testdata/" not in path:
            name = "<artifact>"
        out[name] = out.get(name, 0) + 1
    return out


def budget_row(spec, spark, sf: str) -> tuple[dict[str, int], str]:
    """``(row, plan)``: the query's static per-table scan multiset plus,
    when its build ran SQL, ``<build:executions>`` and one
    ``<build:<table>>`` scan count per table those executions read."""
    from ser_etl_spark.session import explain_string

    df, plans = build_time_executions(spec, spark, sf)
    plan = explain_string(df, "formatted")
    row = scan_multiset(plan)
    if plans:
        row["<build:executions>"] = len(plans)
    for build_plan in plans:
        for table, count in scan_multiset(build_plan).items():
            key = f"<build:{table}>"
            row[key] = row.get(key, 0) + count
    return row, plan


def main() -> None:
    from ser_etl_spark.registry import all_queries
    from ser_etl_spark.session import get_spark

    spark = get_spark(
        app_name="gen-scan-budget",
        conf={
            "spark.sql.shuffle.partitions": "8",
            "spark.ui.enabled": "false",
        },
    )
    budget: dict[str, dict[str, int]] = {}
    for name, spec in sorted(all_queries().items()):
        if name in SKIP:
            continue
        try:
            budget[name] = budget_row(spec, spark, SF)[0]
        except Exception as exc:  # builder needs a live run (streaming)
            print(f"!! {name}: {type(exc).__name__}: {exc}", file=sys.stderr)

    lines = [
        '"""GENERATED by scripts/gen_scan_budget.py — do not hand-edit.',
        "",
        "Expected per-table scan multiset per registered query: the static",
        "plan's scans, plus <build:...> entries for the SQL executions (and",
        "the scans inside them) its builder runs. Regenerate DELIBERATELY",
        "after a plan-shape change and review the diff: an added scan is the",
        'double-scan regression this gate exists to catch."""',
        "",
        "SCAN_BUDGET: dict[str, dict[str, int]] = {",
    ]
    for name in sorted(budget):
        inner = ", ".join(
            f'"{t}": {c}' for t, c in sorted(budget[name].items())
        )
        lines.append(f'    "{name}": {{{inner}}},')
    lines.append("}")
    text = "\n".join(lines) + "\n"

    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tests",
        "_scan_budget.py",
    )
    if "--check" in sys.argv:
        with open(out_path) as fh:
            if fh.read() != text:
                print("scan budget DIFFERS — review and regenerate")
                sys.exit(1)
        print("scan budget matches")
        return
    with open(out_path, "w") as fh:
        fh.write(text)
    print(f"wrote {out_path} ({len(budget)} queries)")


if __name__ == "__main__":
    main()
