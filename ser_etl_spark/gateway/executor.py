"""Query execution: validate -> spark.sql -> cap -> timeout -> envelope.

The reference's execute path (``/root/reference/api-service/src/
query_engine.py:117-149``) — validate, execute on the current snapshot,
return a row-dict envelope — with Catalyst as the executor. Adds the two
contract pieces the reference delegates to config: the per-pattern
``max_rows`` cap (C5) injected as a plan-level LIMIT (Catalyst turns it
into CollectLimit / TakeOrderedAndProject — the cap prunes work, it does
not just truncate the client payload) and the 30 s execution timeout (C6)
via cooperative job-group cancellation.

Result reuse sets the envelope's ``cached`` flag (C9), which the
reference declares but never sets. Published ``history/snapshot_<ts>/``
directories are immutable, so a query whose analyzed plan reads only
their files has one answer for as long as it reads those files. Such
answers are kept per engine, keyed by the sanitized text, the admission
``max_rows``, the plan's semantic hash and the exact files it reads. A
repeat is answered from the stored rows without running a Spark job.
A snapshot flip changes the files, so the old entry simply misses. The
key never trusts the catalog's version string.
"""

from __future__ import annotations

import os
import threading
import time
import uuid
from collections import OrderedDict
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    CharType,
    DataType,
    DateType,
    DayTimeIntervalType,
    MapType,
    NullType,
    NumericType,
    StringType,
    StructType,
    TimestampNTZType,
    TimestampType,
    VarcharType,
    YearMonthIntervalType,
)

from ser_etl_spark.gateway.catalog import SnapshotCatalog
from ser_etl_spark.gateway.validator import QueryValidator, sanitize_query


class QueryTimeoutError(RuntimeError):
    """Query exceeded the max execution time and was cancelled."""


@dataclass
class QueryResult:
    """Result envelope (reference C9, ``query_engine.py:19-27``)."""

    data: list[dict[str, Any]]
    columns: list[str]
    row_count: int
    execution_time_ms: float
    cached: bool = False
    pattern: str | None = field(default=None)


#: Bound on the rows one engine keeps for reuse, summed over its stored
#: results (an empty result counts as one row). Least recently used
#: results are evicted first; a larger result is served uncached.
RESULT_CACHE_MAX_ROWS = 20_000

#: Column types whose collected values are immutable scalars, or the
#: lists, dicts and Rows that ``Row.asDict(recursive=True)`` rebuilds on
#: every call. Results of any other type (binary's ``bytearray``,
#: variants, UDTs) are not stored: a caller could mutate the shared value.
_REBUILT_TYPES = (
    BooleanType, CharType, DateType, DayTimeIntervalType, NullType,
    NumericType, StringType, TimestampNTZType, TimestampType, VarcharType,
    YearMonthIntervalType,
)


def _rebuilt(dtype: DataType) -> bool:
    if isinstance(dtype, StructType):
        return all(_rebuilt(f.dataType) for f in dtype.fields)
    if isinstance(dtype, ArrayType):
        return _rebuilt(dtype.elementType)
    if isinstance(dtype, MapType):
        return _rebuilt(dtype.keyType) and _rebuilt(dtype.valueType)
    return isinstance(dtype, _REBUILT_TYPES)


def _published_prefix(root: str) -> str:
    """URI prefix of the snapshot store's published version directories,
    as Spark spells input files (``file:///abs/path`` for local paths)."""
    if "://" not in root:
        root = "file://" + os.path.abspath(root)
    return root.rstrip("/") + "/history/snapshot_"


class _ResultCache:
    """Thread-safe LRU of collected rows, bounded by total rows."""

    def __init__(self) -> None:
        self._entries: OrderedDict[tuple, tuple[list[str], list]] = OrderedDict()
        self._rows = 0
        self._lock = threading.Lock()

    def __len__(self) -> int:
        return len(self._entries)

    def get(self, key: tuple) -> tuple[list[str], list] | None:
        with self._lock:
            entry = self._entries.get(key)
            if entry is not None:
                self._entries.move_to_end(key)
            return entry

    def put(self, key: tuple, columns: list[str], rows: list) -> None:
        cost = max(1, len(rows))
        if cost > RESULT_CACHE_MAX_ROWS:
            return
        with self._lock:
            if key in self._entries:
                self._rows -= max(1, len(self._entries.pop(key)[1]))
            self._entries[key] = (columns, rows)
            self._rows += cost
            while self._rows > RESULT_CACHE_MAX_ROWS:
                _, (_, old) = self._entries.popitem(last=False)
                self._rows -= max(1, len(old))


class SparkQueryEngine:
    """Read-only SQL gateway over the current snapshot."""

    def __init__(
        self,
        spark: SparkSession,
        catalog: SnapshotCatalog,
        validator: QueryValidator | None = None,
    ) -> None:
        self.spark = spark
        self.catalog = catalog
        self.validator = validator or QueryValidator()
        self._results = _ResultCache()
        self._published = _published_prefix(catalog.root)
        self._current_like = (
            spark._jvm.org.apache.spark.sql.catalyst.trees.TreePattern
            .CURRENT_LIKE()
        )

    def execute_query(self, query: str) -> QueryResult:
        start = time.time()
        clean = sanitize_query(query)
        admission = self.validator.validate(clean)
        gen = self.catalog.refresh()

        df = gen.session.sql(clean).limit(admission.max_rows)
        key = self._result_key(df, clean, admission.max_rows)
        entry = self._results.get(key) if key is not None else None
        if entry is not None:
            columns, rows = entry
        else:
            rows = self._collect_with_timeout(
                df, self.validator.max_execution_time_s
            )
            columns = list(df.columns)
            if key is not None and _rebuilt(df.schema):
                self._results.put(key, columns, rows)
        elapsed_ms = (time.time() - start) * 1000.0
        return QueryResult(
            data=[r.asDict(recursive=True) for r in rows],
            columns=list(columns),
            row_count=len(rows),
            execution_time_ms=elapsed_ms,
            cached=entry is not None,
            pattern=admission.pattern,
        )

    def _result_key(self, df, clean: str, max_rows: int) -> tuple | None:
        """Reuse key of ``df``'s answer, or ``None`` when it must run.

        Only a plan with one answer per set of input files qualifies: it
        is deterministic, reads no current time, user or database (Spark
        marks ``now()`` and friends deterministic, so the CURRENT_LIKE
        tree pattern is checked as well), and every leaf, subqueries'
        included, is a file relation inside a published snapshot. Plain
        directories can be rewritten in place, and views over in-memory
        frames have no files.
        """
        plan = df._jdf.queryExecution().analyzed()
        if not plan.deterministic() or plan.containsPattern(self._current_like):
            return None
        plans = [plan]
        subqueries = plan.subqueriesAll()
        plans += [subqueries.apply(i) for i in range(subqueries.size())]
        files: set[str] = set()
        for p in plans:
            leaves = p.collectLeaves()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                if leaf.getClass().getSimpleName() != "LogicalRelation":
                    return None
                relation = leaf.relation()
                if relation.getClass().getSimpleName() != "HadoopFsRelation":
                    return None
                paths = list(relation.inputFiles())
                if not paths or not all(
                    f.startswith(self._published) for f in paths
                ):
                    return None
                files.update(paths)
        return clean, max_rows, plan.semanticHash(), frozenset(files)

    def get_schema(self) -> dict[str, list[str]]:
        return self.catalog.schema()

    def explain_query(self, query: str, mode: str = "formatted") -> str:
        """Validated plan introspection: the query passes the SAME
        admission gate as execution (keyword blocklist, allow-pattern,
        length cap) but only its physical plan is returned — no job
        runs, no rows leave. An operator-facing extension (the reference
        exposes no EXPLAIN): lets a caller confirm pushdown/broadcast
        decisions against the live snapshot before paying for execution.

        The admission row cap is applied to the explained plan exactly
        as :meth:`execute_query` applies it before collecting, so the
        returned physical plan (its CollectLimit/TakeOrderedAndProject
        and the optimizations they enable) is the plan execution will
        actually run — not an uncapped variant of it.
        """
        from ser_etl_spark.session import explain_string

        clean = sanitize_query(query)
        admission = self.validator.validate(clean)
        gen = self.catalog.refresh()
        return explain_string(
            gen.session.sql(clean).limit(admission.max_rows), mode
        )

    # -- timeout ------------------------------------------------------------

    def _collect_with_timeout(self, df, timeout_s: float):
        """Collect on a worker thread; cancel the job group on timeout.

        Spark jobs are cancellable only cooperatively: the collecting
        thread tags its jobs with a unique group id and the watchdog calls
        ``cancelJobGroup`` if the deadline passes
        (interruptOnCancel so running tasks stop, not just queued ones).
        """
        group = f"gateway-{uuid.uuid4().hex[:12]}"
        out: dict[str, Any] = {}

        def run() -> None:
            sc = self.spark.sparkContext
            sc.setJobGroup(group, "gateway query", interruptOnCancel=True)
            try:
                out["rows"] = df.collect()
            except Exception as exc:  # surfaced after join
                out["error"] = exc
            finally:
                sc.setJobGroup("", "")

        try:
            from pyspark import InheritableThread

            thread: threading.Thread = InheritableThread(target=run)
        except ImportError:  # pragma: no cover
            thread = threading.Thread(target=run, daemon=True)
        thread.start()
        thread.join(timeout_s)
        if thread.is_alive():
            self.spark.sparkContext.cancelJobGroup(group)
            thread.join(10.0)
            raise QueryTimeoutError(
                f"query exceeded {timeout_s}s and was cancelled"
            )
        if "error" in out:
            raise out["error"]
        return out["rows"]
