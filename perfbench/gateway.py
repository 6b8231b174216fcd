"""``gateway_adhoc`` and ``gateway_sync``: closed-loop clients on ``/query``.

Both publish the generated source with one sync at set-up and serve it
through the full in-process stack: ``GatewayHTTP`` -> ``GatewayFront``
(``JwksAuthenticator`` with the default pure-stdlib RS256 verifier, the
default ``RateLimiter``) -> ``SparkQueryEngine`` over a ``SnapshotCatalog``.
``CLIENTS`` threads each send their next request only after the previous
answer arrived: ``WARMUP_PASSES`` passes of the mix untimed, then the timed
window of ``--seconds`` and at least ``MIN_SAMPLES`` requests.

``gateway_sync`` adds one thread that runs back-to-back incremental sync
cycles over a scratch copy of the source while the clients read, with a
catalog TTL shorter than a cycle so snapshot flips happen mid-run.

Every answer is checked after the timed window against DuckDB over the
published snapshot parquet the answer could have come from.
"""

from __future__ import annotations

import json
import math
import os
import random
import threading
import time
from dataclasses import dataclass
from urllib.parse import urlencode

from runtime import JvmProbe, Result, Window, median, quantile, run_context

#: Closed-loop client threads. One request costs ~2 cores of JVM time on
#: a 4-core host, so more clients only queue inside Spark.
CLIENTS = 2
#: Simulated users, rotated over ``X-Forwarded-For``: enough that none
#: comes near the default 50 requests/minute at this load.
USERS = 64
#: Tables the sync publishes and the mix reads.
TABLES = ("region", "nation", "customer", "orders", "lineitem", "events")
#: Tables the ``count`` requests read.
_COUNTED = ("orders", "events")
#: Catalog TTL of ``gateway_sync``: shorter than one cycle, so readers see
#: each new version (the default 120 s would hide every flip).
SYNC_TTL_S = 1.0


# -- the request mix ---------------------------------------------------------


@dataclass(frozen=True)
class Request:
    index: int
    kind: str
    sql: str
    #: 200, or 400 for a query the validator must reject
    expect: int


#: No traffic record of the gateway exists, so the mix is an assumption
#: made by one rule: one request kind per class of the reference's query
#: whitelist (``validator.DEFAULT_ALLOWED``, the data of its
#: ``query_whitelist.json``), each admitted by the validator under that
#: class, plus the ``join_probe`` consistency probe, all in equal shares;
#: and two requests the validator must reject, ~5% of a pass.
KINDS = ("select_all", "select_columns", "count", "aggregate", "group_by",
         "where_clause", "order_by", "limit", "join_probe")
REJECTS = ("blocked", "unmatched")
#: Copies of each kind per pass: 9 x 4 + 2 rejects = 38 requests.
COPIES = 4
PASS_SIZE = len(KINDS) * COPIES + len(REJECTS)
#: Untimed warm-up before the window: with one client, the first 100-150
#: requests of a fresh JVM run 20-50% slower than steady state.
WARMUP_PASSES = 4
#: Fewest requests in the timed window: it runs past ``--seconds`` until
#: this many were sent, so the 90th percentile has 10 samples beyond it.
MIN_SAMPLES = 100
#: Pass number the timed window starts at; warm-up passes count up from 0.
TIMED_PASS = 1000


class Mix:
    """Seeded request stream: pass ``k`` is a fresh permutation of the
    kinds with fresh literals, so point lookups and filters never repeat
    text while the aggregates always do."""

    def __init__(self, seed: int, sizes: dict[str, int]) -> None:
        from ser_etl_spark.gateway.validator import QueryValidator

        self.seed = seed
        self.sizes = sizes
        rng = random.Random(seed)
        for kind in KINDS[:-1]:  # the join probe is admitted as "aggregate"
            admitted = QueryValidator().validate(self.sql(kind, rng)[0]).pattern
            if admitted != kind:
                raise AssertionError(f"{kind} request admitted as {admitted}")

    def sql(self, kind: str, rng: random.Random) -> tuple[str, int]:
        s = self.sizes
        if kind == "select_all":
            # point lookup, unique literal
            return f"SELECT * FROM orders WHERE o_orderkey = {rng.randrange(s['orders'])}", 200
        if kind == "select_columns":
            # filter, unique literals
            return (
                "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE "
                f"c_nationkey = {rng.randrange(25)} AND c_acctbal > "
                f"{rng.uniform(0, 9000):.2f}",
                200,
            )
        if kind == "count":
            # repeated text; answers checked against the manifest row counts
            return f"SELECT COUNT(*) FROM {rng.choice(_COUNTED)}", 200
        if kind == "aggregate":
            # the full lineitem scan, repeated text
            return (
                "SELECT SUM(l_extendedprice) AS revenue, AVG(l_discount) AS disc, "
                "MAX(l_shipdate) AS last_ship FROM lineitem",
                200,
            )
        if kind == "group_by":
            return (
                "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
                "SUM(l_quantity) AS qty FROM lineitem "
                "GROUP BY l_returnflag, l_linestatus",
                200,
            )
        if kind == "where_clause":
            # the events of one user, unique-ish literal
            return (
                "SELECT event_type, COUNT(*) AS n, SUM(value) AS total FROM events "
                f"WHERE user_id = {rng.randrange(max(1, s['customer'] // 10))} "
                "GROUP BY event_type",
                200,
            )
        if kind == "order_by":
            # top-k, repeated text
            return (
                "SELECT orders.o_orderkey, orders.o_totalprice FROM orders "
                "ORDER BY orders.o_totalprice DESC, orders.o_orderkey LIMIT 10",
                200,
            )
        if kind == "limit":
            # the limit exceeds the table's 25 rows, so the answer is the
            # whole table and can be checked; below a table's size a LIMIT
            # without ORDER BY has no single right answer
            return (
                "SELECT nation.n_nationkey, nation.n_name, nation.n_regionkey "
                "FROM nation LIMIT 50",
                200,
            )
        if kind == "join_probe":
            # reads two tables that every sync cycle changes (the orders it
            # joins are the repriced ones), so an answer assembled from two
            # snapshot versions matches no single version
            etype = rng.choice(("click", "error", "purchase", "signup", "view"))
            return (
                "SELECT COUNT(*) AS n, SUM(o.o_totalprice) AS total FROM events e "
                f"JOIN orders o ON e.user_id = o.o_orderkey WHERE e.event_type = '{etype}'",
                200,
            )
        if kind == "blocked":
            return f"DELETE FROM orders WHERE o_orderkey = {rng.randrange(100)}", 400
        if kind == "unmatched":
            return "WITH t AS (SELECT 1 AS x) SELECT x FROM t", 400
        raise ValueError(kind)

    def requests(self, k: int) -> list[Request]:
        rng = random.Random(self.seed * 1_000_003 + k)
        kinds = [kind for kind in KINDS for _ in range(COPIES)] + list(REJECTS)
        rng.shuffle(kinds)
        out = []
        for i, kind in enumerate(kinds):
            sql, expect = self.sql(kind, rng)
            out.append(Request(k * PASS_SIZE + i, kind, sql, expect))
        return out


# -- tokens ----------------------------------------------------------------


def _auth_material(n_tokens: int):
    """A ``JwksAuthenticator`` and ``n_tokens`` RS256 tokens it accepts,
    signed with the test suite's deterministic keypair at 2048 bits."""
    from ser_etl_spark.gateway import JwksAuthenticator
    from tests.test_gateway import TestRs256, _rsa_keypair

    kp, signer = _rsa_keypair(bits=2048), TestRs256()
    tokens = [signer._token(kp, {"sub": f"user{i}"}) for i in range(n_tokens)]
    jwks = {"keys": [signer._jwk(kp)]}
    auth = JwksAuthenticator(
        fetch_jwks=lambda: jwks, audience=signer.AUD, issuer=signer.ISS)
    return auth, tokens


# -- clients -----------------------------------------------------------------


@dataclass
class Reply:
    req: Request
    status: int
    body: dict
    start: float
    end: float


def _call(app, token: str, user: int, sql: str) -> tuple[int, dict]:
    environ = {
        "REQUEST_METHOD": "GET",
        "PATH_INFO": "/query",
        "QUERY_STRING": urlencode({"q": sql}),
        "HTTP_AUTHORIZATION": f"Bearer {token}",
        "HTTP_X_FORWARDED_FOR": f"10.0.{user // 256}.{user % 256}",
        "REMOTE_ADDR": "127.0.0.1",
    }
    status: list[int] = []
    body = b"".join(app(environ, lambda s, h: status.append(int(s.split()[0]))))
    return status[0], json.loads(body)


def drive(app, tokens: list[str], mix: Mix, first_pass: int, done, tracer) -> list[Reply]:
    """Run ``CLIENTS`` closed-loop clients over the request stream starting
    at pass ``first_pass`` until ``done(requests sent)`` holds. Returns the
    replies in completion order."""
    lock = threading.Lock()
    replies: list[Reply] = []
    queue: list[Request] = []
    sent = [0]
    next_pass = [first_pass]

    def take() -> Request | None:
        with lock:
            if done(sent[0]):
                return None
            if not queue:
                queue.extend(mix.requests(next_pass[0]))
                next_pass[0] += 1
            sent[0] += 1
            return queue.pop(0)

    def client() -> None:
        while (req := take()) is not None:
            start = time.perf_counter()
            with tracer.span("gateway.request", op=f"req-{req.index}"):
                status, body = _call(
                    app, tokens[req.index % len(tokens)], req.index % USERS, req.sql)
            end = time.perf_counter()
            with lock:
                replies.append(Reply(req, status, body, start, end))

    threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return replies


# -- sync --------------------------------------------------------------------


@dataclass
class Version:
    version: str
    snapshot_dir: str
    tables: dict[str, int]
    #: perf_counter when the publishing ``run_sync`` returned
    published: float


def sync_config(incremental: bool):
    from ser_etl_spark.etl.build import TableLayout
    from ser_etl_spark.etl.sync import SyncConfig

    return SyncConfig(
        tables=TABLES,
        ts_col="ts",
        layouts={
            "orders": TableLayout(unique_key="o_orderkey"),
            "customer": TableLayout(unique_key="c_custkey"),
            "events": TableLayout(unique_key="event_id"),
            "lineitem": TableLayout(unique_key=None),
            "region": TableLayout(unique_key=None),
            "nation": TableLayout(unique_key=None),
        },
        views={},
        incremental=incremental,
    )


def _sync_once(mgr, tracer, op: str) -> tuple[Version, float]:
    start = time.perf_counter()
    with tracer.span("etl.sync", op=op):
        out = mgr.run_sync()
    end = time.perf_counter()
    if not out.success:
        raise RuntimeError(f"sync cycle {op} failed")
    m = out.manifest
    return Version(m["version"], m["snapshot_dir"], dict(m["tables"]), end), end - start


#: Job group of the sync thread's Spark jobs, cancelled when the run ends.
SYNC_GROUP = "perfbench-sync"


class SyncLoop:
    """Back-to-back incremental sync cycles on a thread, each preceded by
    the next seeded source delta. ``stop`` cancels the cycle in flight:
    it publishes nothing, and the run does not wait for it."""

    def __init__(self, mgr, deltas, tracer) -> None:
        self.mgr, self.deltas, self.tracer = mgr, deltas, tracer
        self.cycles: list[tuple[float, float]] = []
        self.versions: list[Version] = []
        self.delta_rows: list[int] = []
        self.errors: list[str] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop)

    def _loop(self) -> None:
        self.mgr.spark.sparkContext.setJobGroup(
            SYNC_GROUP, "perfbench sync", interruptOnCancel=True)
        while not self._stop.is_set():
            try:
                changed = self.deltas.apply()
                start = time.perf_counter()
                version, _ = _sync_once(self.mgr, self.tracer, f"sync-{len(self.cycles) + 1}")
            except Exception as exc:  # noqa: BLE001 - reported as a failure
                if not self._stop.is_set():
                    self.errors.append(repr(exc))
                return
            self.cycles.append((start, version.published))
            self.versions.append(version)
            self.delta_rows.append(changed["events"])

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self.mgr.spark.sparkContext.cancelJobGroup(SYNC_GROUP)
        self._thread.join()


# -- answer checks -----------------------------------------------------------


def _canon(value) -> object:
    """Numbers and text as they are; dates and the like as text, the form
    the JSON envelope gives them."""
    if value is None or isinstance(value, (int, float, str)):
        return value
    return str(value)


def _rows_key(rows: list[tuple]) -> list[tuple]:
    """Rows in a canonical order (floats rounded for the ordering only)."""
    rows = [tuple(_canon(v) for v in r) for r in rows]
    return sorted(rows, key=lambda r: repr(
        tuple(f"{v:.6g}" if isinstance(v, float) else v for v in r)))


def _eq(u: object, v: object) -> bool:
    if isinstance(u, float) or isinstance(v, float):
        return (isinstance(u, (int, float)) and isinstance(v, (int, float))
                and math.isclose(u, v, rel_tol=1e-9, abs_tol=1e-9))
    return u == v


def _same(a: list[tuple], b: list[tuple]) -> bool:
    """Equal answers, floats within a relative 1e-9: Spark and DuckDB sum in
    different orders, and rounding both to a fixed number of digits fails
    whenever the exact sum sits on a rounding boundary. The join probe's
    answers from adjacent snapshot versions differ by ~1e-6 relative."""
    return len(a) == len(b) and all(
        len(x) == len(y) and all(_eq(u, v) for u, v in zip(x, y))
        for x, y in zip(a, b))


class Oracle:
    """DuckDB answers over the parquet of each published snapshot version."""

    def __init__(self) -> None:
        import duckdb

        self._duckdb = duckdb
        self._cons: dict[tuple[str, ...], object] = {}
        self._answers: dict[tuple[str, tuple[str, ...]], list[tuple]] = {}

    def _con(self, dirs: tuple[str, ...]):
        con = self._cons.get(dirs)
        if con is None:
            con = self._cons[dirs] = self._duckdb.connect()
            for t, d in zip(TABLES, dirs):
                glob = os.path.join(d, t, "*.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")
        return con

    def answer(self, sql: str, snapshot_dir: str, **table_dirs: str) -> list[tuple]:
        """The answer over one snapshot version; ``table_dirs`` reads the
        named tables from other versions instead."""
        dirs = tuple(table_dirs.get(t, snapshot_dir) for t in TABLES)
        key = (sql, dirs)
        if key not in self._answers:
            self._answers[key] = _rows_key(self._con(dirs).execute(sql).fetchall())
        return self._answers[key]

    def close(self) -> None:
        for con in self._cons.values():
            con.close()


def _matching(oracle: Oracle, r: Reply, got: list[tuple],
              versions: list[Version]) -> list[Version]:
    """The versions whose answer ``got`` is; ``COUNT(*)`` answers are
    matched against the versions' manifest row counts."""
    if r.req.kind == "count":
        table = r.req.sql.rsplit(" ", 1)[1]
        return [v for v in versions if got == [(v.tables[table],)]]
    return [v for v in versions if _same(oracle.answer(r.req.sql, v.snapshot_dir), got)]


def _explain(oracle: Oracle, r: Reply, got: list[tuple], versions: list[Version]) -> str:
    """What an answer that matches no candidate version does match: a whole
    version outside the candidate window, or, for the join probe, the
    ``events`` of one version joined with the ``orders`` of another."""
    whole = _matching(oracle, r, got, versions)
    when = "; ".join(f"{v.version} published {v.published - r.start:+.2f} s" for v in versions)
    if whole:
        return f"equals version {whole[0].version} outside the window ({when})"
    if r.req.kind == "join_probe":
        for ev in versions:
            for ov in versions:
                if ev is not ov and _same(oracle.answer(
                        r.req.sql, ev.snapshot_dir, orders=ov.snapshot_dir), got):
                    return (f"mixed versions: events of {ev.version} with orders of "
                            f"{ov.version} ({when})")
    return f"equals no version or pair of versions ({when}): {got[:3]}"


def check_replies(replies: list[Reply], versions: list[Version], ttl_s: float,
                  res: Result) -> dict[str, int]:
    """Count every wrong, failed or mixed-version reply as a failure.

    An answer is consistent when it equals the answer of one published
    version a reader could have resolved during the request: published
    before the reply ended and not replaced earlier than one TTL (plus a
    second of slack) before the request started.
    """
    oracle = Oracle()
    stats = {"checked": 0, "ambiguous": 0, "no_version": 0}
    try:
        for r in replies:
            res.attempted += 1
            if r.status != r.req.expect:
                res.fail(f"{r.req.kind}: HTTP {r.status} (expected {r.req.expect}): "
                         f"{r.body.get('detail', '')}")
                continue
            if r.status != 200:
                continue
            got = _rows_key([tuple(row[c] for c in r.body["columns"]) for row in r.body["data"]])
            candidates = [
                v for i, v in enumerate(versions)
                if v.published <= r.end + 1.0 and (
                    i + 1 == len(versions)
                    or versions[i + 1].published >= r.start - ttl_s - 1.0)
            ]
            matches = _matching(oracle, r, got, candidates)
            stats["checked"] += 1
            if not matches:
                stats["no_version"] += 1
                res.fail(f"{r.req.kind}: answer matches no published version "
                         f"({len(candidates)} candidates): {r.req.sql}: "
                         + _explain(oracle, r, got, versions))
            elif len(matches) > 1:
                stats["ambiguous"] += 1
    finally:
        oracle.close()
    return stats


# -- the workloads -----------------------------------------------------------


def _wrap_program(tracer) -> None:
    """Spans around the public calls into each gateway and ETL layer."""
    from pyspark.sql import SparkSession

    import ser_etl_spark.etl.sync as sync_mod
    from ser_etl_spark.gateway.access import GatewayFront, JwksAuthenticator, RateLimiter
    from ser_etl_spark.gateway.catalog import SnapshotCatalog
    from ser_etl_spark.gateway.executor import SparkQueryEngine
    from ser_etl_spark.gateway.http import GatewayHTTP
    from ser_etl_spark.gateway.validator import QueryValidator

    for owner, attr, name in (
        (GatewayHTTP, "__call__", "gateway.http"),
        (GatewayFront, "query", "gateway.access"),
        (JwksAuthenticator, "authenticate", "gateway.access.auth"),
        (RateLimiter, "check", "gateway.access.ratelimit"),
        (SparkQueryEngine, "execute_query", "gateway.executor"),
        (QueryValidator, "validate", "gateway.validator"),
        (SnapshotCatalog, "refresh", "gateway.catalog"),
        (SnapshotCatalog, "_register_manifest_views", "gateway.catalog.reregister"),
        (SparkSession, "sql", "gateway.executor.sql"),
        (SparkQueryEngine, "_collect_with_timeout", "gateway.executor.collect"),
        (sync_mod.SyncManager, "changed_row_count", "etl.extract"),
        (sync_mod.SyncManager, "_build_frame", "etl.merge"),
        (sync_mod, "build_snapshot", "etl.build"),
        (sync_mod, "publish_snapshot", "etl.publish"),
        (sync_mod, "cleanup_old_versions", "etl.vacuum"),
    ):
        tracer.wrap(owner, attr, name)


def _layer(name: str) -> str:
    """``gateway.access.auth`` -> ``gateway.access``; ``etl.build`` stays."""
    return ".".join(name.split(".")[:2])


def _dir_bytes(path: str) -> tuple[int, int]:
    """(parquet bytes, parquet files) under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def _gateway_jobs(spark, t0_ms: float, t1_ms: float) -> int:
    """Jobs the gateway's executor submitted (job group ``gateway-*``)
    between two epoch-millisecond instants."""
    jobs = spark._jsc.sc().statusStore().jobsList(None)
    n = 0
    for i in range(jobs.size()):
        job = jobs.apply(i)
        group, submitted = job.jobGroup(), job.submissionTime()
        if (group.isDefined() and group.get().startswith("gateway-")
                and submitted.isDefined()
                and t0_ms <= submitted.get().getTime() <= t1_ms):
            n += 1
    return n


def _pass_times(replies: list[Reply], t0: float) -> list[float]:
    """Wall time of each complete pass of the mix, the first starting at
    ``t0``: a pass ends when its share of replies has arrived."""
    ends = sorted(r.end for r in replies)
    bounds = [t0] + ends[PASS_SIZE - 1::PASS_SIZE]
    return [b - a for a, b in zip(bounds, bounds[1:])]


def run(ctx, with_sync: bool) -> Result:
    from datagen import SourceDeltas, generate_in_child, table_sizes

    res = Result()
    tracer = ctx.tracer
    # set-up time (setup_s) is JVM start, imports, the set-up sync's
    # snapshot build and the app; making the inputs and tokens is the
    # benchmark's own work and stays out of it
    start = time.perf_counter()
    src = ctx.path("source")
    generate_in_child(src, ctx.sf, ctx.seed)
    gen_s = time.perf_counter() - start
    spark, jvm_s = ctx.start_session()
    start = time.perf_counter()
    from ser_etl_spark.etl.extract import ParquetSource
    from ser_etl_spark.etl.sync import SyncManager
    from ser_etl_spark.gateway import GatewayFront, SnapshotCatalog, SparkQueryEngine
    from ser_etl_spark.gateway.catalog import DEFAULT_TTL_S
    from ser_etl_spark.gateway.http import GatewayHTTP

    import_s = time.perf_counter() - start
    _wrap_program(tracer)

    deltas = None
    if with_sync:
        deltas = SourceDeltas(src, ctx.path("live"), ctx.seed, ctx.sf)
        src = deltas.dir
    auth, tokens = _auth_material(8)

    store = ctx.path("store")
    mgr = SyncManager(spark, ParquetSource(src), store, sync_config(incremental=with_sync))
    first, sync0_s = _sync_once(mgr, tracer, "sync-setup")
    versions = [first]

    start = time.perf_counter()
    ttl_s = SYNC_TTL_S if with_sync else DEFAULT_TTL_S
    catalog = SnapshotCatalog(spark, store, ttl_s=ttl_s)
    engine = SparkQueryEngine(spark, catalog)
    app = GatewayHTTP(GatewayFront(engine, auth))
    catalog.refresh()
    app_s = time.perf_counter() - start
    setup_s = jvm_s + import_s + sync0_s + app_s

    sizes = table_sizes(ctx.sf)
    mix = Mix(ctx.seed, sizes)
    loop = SyncLoop(mgr, deltas, tracer) if with_sync else None
    if loop is not None:
        loop.start()
    start = time.perf_counter()
    warm = drive(app, tokens, mix, 0, lambda sent: sent >= WARMUP_PASSES * PASS_SIZE, tracer)
    warmup_s = time.perf_counter() - start
    probe = JvmProbe(spark)
    window = Window(probe)
    window.start()
    t0_epoch_ms = time.time() * 1000.0
    t0 = time.perf_counter()
    deadline = t0 + ctx.seconds
    replies = drive(app, tokens, mix, TIMED_PASS,
                    lambda sent: sent >= MIN_SAMPLES and time.perf_counter() >= deadline,
                    tracer)
    window.stop()
    t1_epoch_ms = time.time() * 1000.0
    peak_rss_mb = probe.peak_rss_mb()
    if loop is not None:
        loop.stop()
        versions += loop.versions
        for err in loop.errors:
            res.fail(f"sync: {err}")

    # -- checks, outside the timed window ------------------------------
    start = time.perf_counter()
    stats = check_replies(warm + replies, versions, ttl_s, res)
    res.checks["answers_vs_duckdb"] = (
        "ok" if stats["no_version"] == 0 else f"FAILED ({stats['no_version']} wrong)")
    checks_s = time.perf_counter() - start
    if with_sync:
        res.checks["snapshot_consistency"] = res.checks.pop("answers_vs_duckdb")

    # -- metrics ------------------------------------------------------
    replies.sort(key=lambda r: r.end)
    latencies = [(r.end - r.start) * 1000.0 for r in replies]
    pass_s = _pass_times(replies, t0)
    p90_ms = quantile(latencies, 0.9)
    seen: set[str] = {r.req.sql for r in warm}
    repeats = 0
    for r in sorted(replies, key=lambda r: r.start):
        repeats += r.req.sql in seen
        seen.add(r.req.sql)
    if with_sync and loop.cycles:
        sync_s = median([b - a for a, b in loop.cycles])
    else:
        sync_s = sync0_s
    res.end_to_end.update({
        "setup_s": (setup_s, "s"),
        "batch_s": ((replies[-1].end - t0) * PASS_SIZE / len(replies), "s"),
        "query_p50_ms": (quantile(latencies, 0.5), "ms"),
        "query_p90_ms": (p90_ms, "ms"),
        "query_qps": (len(replies) / (replies[-1].end - t0), "1/s"),
        "cpu_ms_per_op": (window.cpu_s * 1000.0 / len(replies), "ms"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    })
    res.context.update(run_context(spark, ctx.seed, window))
    res.context.update({
        "sync_s": sync_s,
        "sync_cycles": len(loop.cycles) if loop else 1,
        "samples": len(replies),
        "min_samples": MIN_SAMPLES,
        "p90_tail_samples": sum(1 for x in latencies if x > p90_ms),
        "passes": len(pass_s),
        "pass_s": pass_s,
        "warmup_pass_s": _pass_times(warm, min(r.start for r in warm)),
        "median_ms_by_kind": {
            kind: median([(r.end - r.start) * 1000.0 for r in replies if r.req.kind == kind])
            for kind in KINDS + REJECTS if any(r.req.kind == kind for r in replies)
        },
        "repeat_text_share": repeats / len(replies),
        "answers_ambiguous": stats["ambiguous"],
        "versions_published": len(versions),
        "setup.jvm_s": jvm_s,
        "setup.import_s": import_s,
        "setup.datagen_s": gen_s,
        "setup.sync_s": sync0_s,
        "setup.app_s": app_s,
        "warmup_s": warmup_s,
        "checks_s": checks_s,
        "catalog_ttl_s": ttl_s,
        "clients": CLIENTS,
    })

    if tracer.enabled:
        layer = res.per_layer
        ops = {f"req-{r.req.index}" for r in replies}
        n = max(1, len(ops))
        self_ms = tracer.self_ms(_layer)
        for name in ("gateway.http", "gateway.access", "gateway.validator",
                     "gateway.catalog", "gateway.executor"):
            layer[f"{name}.ms"] = (
                sum(v for (op, lay), v in self_ms.items() if lay == name and op in ops) / n,
                "ms/req")
        for key, span in (("gateway.executor.sql_ms", "gateway.executor.sql"),
                          ("gateway.executor.collect_ms", "gateway.executor.collect"),
                          ("gateway.access.auth_ms", "gateway.access.auth")):
            layer[key] = (tracer.total_ms(span, ops) / n, "ms/req")
        executor_total = tracer.total_ms("gateway.executor", ops)
        layer["gateway.executor.envelope_ms"] = (
            (executor_total - sum(tracer.total_ms(s, ops) for s in (
                "gateway.validator", "gateway.catalog", "gateway.executor.sql",
                "gateway.executor.collect"))) / n, "ms/req")
        first_pass = {f"req-{i}" for i in range(
            TIMED_PASS * PASS_SIZE, (TIMED_PASS + 1) * PASS_SIZE)}
        layer["gateway.validator.rejected"] = (
            sum(1 for r in replies if f"req-{r.req.index}" in first_pass and r.status == 400),
            "count/pass")
        flipped = {sp[1] for sp in tracer.spans
                   if sp[2] == "gateway.catalog.reregister" and sp[3] in ops}
        flips_ms = [(sp[5] - sp[4]) * 1000.0 for sp in tracer.spans if sp[0] in flipped]
        layer["gateway.catalog.reregistrations"] = (len(flips_ms), "count")
        layer["gateway.catalog.refresh_ms"] = (
            sum(flips_ms) / len(flips_ms) if flips_ms else 0.0, "ms/flip")
        ok = sum(1 for r in replies if r.status == 200)
        layer["gateway.jobs_per_query"] = (
            _gateway_jobs(spark, t0_epoch_ms, t1_epoch_ms) / max(1, ok), "jobs/req")

        cycle_ops = ({f"sync-{k}" for k in range(1, len(loop.cycles) + 1)}
                     if with_sync else {"sync-setup"})
        n_cycles = max(1, len(cycle_ops))
        for stage in ("extract", "merge", "build", "publish", "vacuum"):
            layer[f"etl.{stage}_ms"] = (
                tracer.total_ms(f"etl.{stage}", cycle_ops) / n_cycles, "ms/cycle")
        last = versions[-1]
        snap_bytes, snap_files = _dir_bytes(last.snapshot_dir)
        src_bytes = sum(_dir_bytes(os.path.join(src, t))[0] if os.path.isdir(
            os.path.join(src, t)) else os.path.getsize(os.path.join(src, f"{t}.parquet"))
            for t in TABLES)
        layer["etl.snapshot_bytes_per_source_byte"] = (snap_bytes / src_bytes, "ratio")
        layer["etl.files_written"] = (snap_files, "count/cycle")
        layer["etl.delta_rows"] = (
            median(loop.delta_rows) if with_sync and loop.delta_rows else 0, "count/cycle")
    return res
