"""Snapshot catalog: resolve + register the latest published snapshot.

Plays the role of the reference API's snapshot resolution
(``/root/reference/api-service/src/query_engine.py:78-115``): serve queries
from the most recently *published* snapshot, re-resolving when a TTL
expires (120 s) or the manifest version changes. Instead of downloading an
embedded DB file, we point temp views at the snapshot's Parquet directory —
on a cluster that is an object-store prefix and executors read splits
directly, so "refresh" is a metadata-only operation. Like the reference,
which opens one snapshot file per request, each request reads exactly one
version: the views of a version live in a session of their own.
"""

from __future__ import annotations

import dataclasses
import json
import os
import threading
import time

from pyspark.sql import SparkSession

from ser_etl_spark.sources.parquet import register_views

DEFAULT_TTL_S = 120.0


@dataclasses.dataclass(frozen=True)
class Generation:
    """One resolved snapshot version and the session holding its views
    (``tables``) and nothing else. ``version`` is ``None`` for a plain
    directory."""

    version: str | None
    snapshot_dir: str
    session: SparkSession
    tables: tuple[str, ...]
    loaded_at: float


class SnapshotCatalog:
    """Serves the current snapshot as one :class:`Generation` at a time."""

    def __init__(
        self, spark: SparkSession, root: str, ttl_s: float = DEFAULT_TTL_S
    ) -> None:
        """``root`` is either a published snapshot store (containing
        ``current/manifest.json`` pointing at a versioned snapshot dir, as
        written by :mod:`ser_etl_spark.etl.publish`) or a plain directory
        of parquet tables (the test fixtures)."""
        self.spark = spark
        self.root = root
        self.ttl_s = ttl_s
        self._current: Generation | None = None
        self._lock = threading.Lock()

    # -- manifest resolution ------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.root, "current", "manifest.json")

    def read_manifest(self) -> dict:
        """Reference A14: fetch current manifest, ``{}`` if missing
        (``etl-service/src/s3_uploader.py:96-106``)."""
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return {}

    def _session(self) -> SparkSession:
        """A child of the caller's session with its runtime ``spark.sql.*``
        conf copied in (a bare ``newSession()`` starts from the defaults)
        and no temp views."""
        session = self.spark.newSession()
        for key, value in self.spark.conf.getAll.items():
            if key.startswith("spark.sql.") and self.spark.conf.isModifiable(key):
                session.conf.set(key, value)
        return session

    def _register_manifest_views(
        self, session: SparkSession, manifest: dict
    ) -> list[str]:
        """Register summary views recorded in the manifest (reference A10:
        the snapshot ships v_inventory_summary; here view *definitions*
        travel in the manifest and Catalyst computes them on demand).
        Returns the names actually created."""
        created: list[str] = []
        for name, sql in manifest.get("views", {}).items():
            try:
                session.sql(f"CREATE OR REPLACE TEMP VIEW {name} AS {sql}")
            except Exception:  # pragma: no cover - malformed view def
                continue
            created.append(name)
        return created

    # -- refresh ------------------------------------------------------------

    def refresh(self, force: bool = False) -> Generation:
        """The generation to serve from, re-resolved when the TTL expired.

        Readers always resolve through the manifest — never by listing the
        store — preserving the reference's snapshot atomicity (readers see
        only fully published versions, ``s3_uploader.py:44-55``). One
        thread refreshes at a time: a request that finds a stale
        generation while another thread refreshes serves the stale one.
        Only the first resolve and ``force`` wait for the refresher.
        """
        gen = self._current
        if not force and gen and time.monotonic() - gen.loaded_at <= self.ttl_s:
            return gen
        if not self._lock.acquire(blocking=gen is None or force):
            return gen  # type: ignore[return-value]
        try:
            gen = self._current  # another thread may have refreshed it
            manifest = self.read_manifest()
            snapshot_dir, version = self.root, None  # plain directory layout
            if manifest.get("snapshot_dir"):
                snapshot_dir = manifest["snapshot_dir"]
                version = str(manifest.get("version"))
            if not force and gen and (gen.snapshot_dir, gen.version) == (
                snapshot_dir, version
            ):
                gen = dataclasses.replace(gen, loaded_at=time.monotonic())
            else:
                # the manifest is the publish-time contract of what a
                # snapshot contains; a plain directory gets the fixture set
                tables = tuple(manifest.get("tables", {}))
                kwargs = {"tables": tables} if tables else {}
                session = self._session()
                registered = register_views(session, snapshot_dir, **kwargs)
                views = self._register_manifest_views(session, manifest)
                gen = Generation(
                    version,
                    snapshot_dir,
                    session,
                    tuple(registered) + tuple(views),
                    time.monotonic(),
                )
            self._current = gen
            return gen
        finally:
            self._lock.release()

    # -- health / shutdown (reference main.py:78-82, :133-137) --------------

    def status(self) -> dict:
        """Freshness snapshot for the gateway's health envelope: resolved
        version, age against the TTL, and the views of the current
        generation — without forcing a re-resolve (health checks must
        stay cheap and side-effect-free)."""
        gen = self._current
        age = None if gen is None else time.monotonic() - gen.loaded_at
        return {
            "snapshot_version": gen.version if gen else None,
            "snapshot_dir": gen.snapshot_dir if gen else None,
            "snapshot_age_s": None if age is None else round(age, 3),
            "ttl_s": self.ttl_s,
            "stale": age is None or age > self.ttl_s,
            "tables": list(gen.tables) if gen else [],
        }

    def close(self) -> None:
        """Shutdown cleanup (the reference's ``shutdown_event`` →
        ``query_engine.cleanup()``): drop the current generation, so a
        later use re-resolves from the manifest. Idempotent."""
        self._current = None

    # -- ANN index resolution (serving path) --------------------------------

    def ann_index_dir(self, table: str = "embeddings") -> str | None:
        """Path of the current snapshot's ``<table>_ann_index`` artifact —
        the write-time ANN layout ``build_snapshot`` materializes
        (``TableLayout(ann_index=True)``) and ``upsert_ann_index``
        maintains — or ``None`` when the snapshot carries no usable index.

        The serving path: ANN probes called with the resolved snapshot
        dir (``refresh().snapshot_dir``) resolve this same artifact via
        ``ensure_ann_index``'s published-first preference, so the gateway
        exercises exactly the index the ETL publishes — including upsert
        deltas — with zero on-demand rebuild (pinned by
        tests/test_gateway.py)."""
        from ser_etl_spark.operators.similarity import (
            ANN_INDEX_VERSION,
            _index_usable,
        )

        # structural AND fresh (ADVICE r8): a snapshot table rewritten
        # under the artifact (not the published model, but defense in
        # depth) must not serve stale neighbors
        return self._artifact_dir(
            table, "ann_index", _index_usable, ANN_INDEX_VERSION
        )

    def minhash_bands_dir(self, table: str = "documents") -> str | None:
        """Path of the current snapshot's ``<table>_minhash_bands``
        artifact (incremental dedup's corpus band table), or None when
        absent/stale — the ann_index_dir contract for the band
        artifact."""
        from ser_etl_spark.operators.dedup import (
            MINHASH_BANDS_VERSION,
            _bands_usable,
        )

        return self._artifact_dir(
            table, "minhash_bands", _bands_usable, MINHASH_BANDS_VERSION
        )

    def text_postings_dir(self, table: str = "documents") -> str | None:
        """Path of the current snapshot's ``<table>_text_postings``
        artifact (the BM25 inverted index), or None when absent/stale."""
        from ser_etl_spark.operators.text import (
            TEXT_POSTINGS_VERSION,
            _postings_usable,
        )

        return self._artifact_dir(
            table, "text_postings", _postings_usable, TEXT_POSTINGS_VERSION
        )

    def _artifact_dir(self, table, suffix, usable_fn, version) -> str | None:
        from ser_etl_spark.artifacts import manifest_fresh
        from ser_etl_spark.sources.parquet import table_path

        snapshot_dir = self.refresh().snapshot_dir
        path = os.path.join(snapshot_dir, f"{table}_{suffix}")
        if not usable_fn(path):
            return None
        if not manifest_fresh(
            path, table_path(snapshot_dir, table), version
        ):
            return None
        return path

    # -- time travel (A12) --------------------------------------------------

    def versions(self) -> list[str]:
        """Published snapshot versions, newest first (reference A12:
        ``history/`` copies are the version history)."""
        from ser_etl_spark.etl.publish import list_versions

        return [v.removeprefix("snapshot_") for v in list_versions(self.root)]

    def read_version(self, version: str, table: str):
        """Read one table AS OF a historic snapshot — versioned dirs stay
        immutable until retention removes them, so this is zero-copy time
        travel: just a scan of the old prefix. Raises ``FileNotFoundError``
        for unknown/retained-away versions."""
        from ser_etl_spark.sources.parquet import load_table, table_path

        snapshot_dir = os.path.join(self.root, "history", f"snapshot_{version}")
        if not os.path.exists(table_path(snapshot_dir, table)):
            raise FileNotFoundError(
                f"no table {table!r} in snapshot version {version!r} "
                f"(retained versions: {self.versions()[:5]}...)"
            )
        return load_table(self.spark, snapshot_dir, table)

    def diff_versions(self, v_old: str, v_new: str, table: str, key_col: str):
        """Row-level delta between two retained versions of ``table``:
        one row per changed key with ``change`` in added/removed/changed.

        The time-travel completion of A12: immutable versioned prefixes
        make CDC-style auditing a pure query. Rows are fingerprinted
        map-side (xxhash64 over a JSON struct encoding, computed before
        any exchange) so the full-outer join shuffles (key, fingerprint)
        pairs — never the row payloads — and unchanged keys are dropped
        post-join. One keyed shuffle regardless of row width.

        The JSON-struct encoding is null-disambiguating: a bare
        ``xxhash64(*cols)`` SKIPS null inputs (a null column leaves the
        hash state unchanged), so rows differing only in null placement —
        a value moving between two columns, or null swapped with an
        adjacent column's value — would hash identically and be reported
        unchanged. ``to_json`` keys every value by column name, so any
        such move changes the encoding.
        """
        from pyspark.sql import functions as F

        def fp(df):
            cols = [F.col(c) for c in sorted(df.columns)]
            return df.select(
                F.col(key_col).alias("_k"),
                F.xxhash64(F.to_json(F.struct(*cols))).alias("_fp"),
            )

        o = fp(self.read_version(v_old, table)).alias("o")
        n = fp(self.read_version(v_new, table)).alias("n")
        change = (
            F.when(F.col("o._k").isNull(), "added")
            .when(F.col("n._k").isNull(), "removed")
            .when(F.col("o._fp") != F.col("n._fp"), "changed")
        )
        return (
            o.join(n, F.col("o._k") == F.col("n._k"), "full_outer")
            .select(
                F.coalesce(F.col("n._k"), F.col("o._k")).alias(key_col),
                change.alias("change"),
            )
            .filter(F.col("change").isNotNull())
        )

    # -- introspection (B9/B10) --------------------------------------------

    def schema(self) -> dict[str, list[str]]:
        """SHOW TABLES + DESCRIBE per table, as ``{table: [column, ...]}``
        (``api-service/src/query_engine.py:151-165``), over the views of
        one generation."""
        gen = self.refresh()
        return {name: gen.session.table(name).columns for name in gen.tables}
