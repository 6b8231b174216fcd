"""ETL pipeline tests: extraction, watermarks, snapshot build/publish,
retention, full sync cycle, and serving from a published snapshot."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from ser_etl_spark.etl import (
    ParquetSource,
    SyncManager,
    WatermarkStore,
    build_snapshot,
    cleanup_old_versions,
    extract_table,
    max_updated_at,
    publish_snapshot,
)
from ser_etl_spark.etl.build import TableLayout, UniquenessViolation
from ser_etl_spark.etl.extract import table_schema
from ser_etl_spark.etl.sync import SyncConfig
from ser_etl_spark.gateway import SnapshotCatalog, SparkQueryEngine


@pytest.fixture()
def source(sf_small):
    return ParquetSource(sf_small)


LAYOUTS = {
    "orders": TableLayout(unique_key="o_orderkey", sort_col="o_orderdate"),
    "customer": TableLayout(unique_key="c_custkey"),
    "events": TableLayout(unique_key="event_id", sort_col="ts"),
    "lineitem": TableLayout(unique_key=None, sort_col="l_shipdate"),
}


class TestExtract:
    def test_full_extraction(self, spark, source):
        df = extract_table(spark, source, "orders")
        assert df.count() == 1500

    def test_incremental_predicate(self, spark, source):
        since = dt.datetime(2024, 1, 25)
        full = extract_table(spark, source, "events", ts_col="ts")
        inc = extract_table(spark, source, "events", since=since, ts_col="ts")
        n_full, n_inc = full.count(), inc.count()
        assert 0 < n_inc < n_full
        # the predicate reaches the scan (pushdown visible in the plan)
        plan = inc._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan or "Filter" in plan

    def test_watermark_aggregate(self, spark, source):
        df = extract_table(spark, source, "events", ts_col="ts")
        wm = max_updated_at(df, "ts")
        assert wm is not None and wm.year == 2024

    def test_schema_introspection(self, spark, source):
        cols = table_schema(extract_table(spark, source, "orders"))
        names = [c["column_name"] for c in cols]
        assert "o_orderkey" in names and "o_orderdate" in names
        assert all({"column_name", "data_type", "is_nullable"} <= set(c) for c in cols)


class TestWatermarkStore:
    def test_roundtrip_and_monotonic(self, tmp_path):
        store = WatermarkStore(str(tmp_path / "wm.json"))
        t1 = dt.datetime(2024, 1, 10)
        t2 = dt.datetime(2024, 1, 20)
        store.advance("events", t2)
        store.advance("events", t1)  # must not move backwards
        assert store.get("events") == t2
        # survives reload
        again = WatermarkStore(str(tmp_path / "wm.json"))
        assert again.get("events") == t2


class TestBuild:
    def test_build_writes_sorted_layout(self, spark, source, tmp_path):
        out = str(tmp_path / "build")
        report = build_snapshot(
            {"orders": extract_table(spark, source, "orders")},
            out,
            layouts=LAYOUTS,
        )
        assert report.tables["orders"] == 1500
        # each written file is sorted by the unique key (index replacement:
        # row-group min/max stats become selective)
        import pyarrow.parquet as pq

        files = [
            f for f in os.listdir(os.path.join(out, "orders")) if f.endswith(".parquet")
        ]
        assert files
        for f in files:
            keys = pq.read_table(
                os.path.join(out, "orders", f), columns=["o_orderkey"]
            )["o_orderkey"].to_pylist()
            assert keys == sorted(keys)

    def test_uniqueness_gate(self, spark, tmp_path):
        dup = spark.createDataFrame([(1, "a"), (1, "b")], ["id", "v"])
        with pytest.raises(UniquenessViolation):
            build_snapshot({"t": dup}, str(tmp_path / "b2"))

    def test_empty_input_skipped(self, spark, tmp_path):
        empty = spark.createDataFrame([], "id long, v string")
        report = build_snapshot({"t": empty}, str(tmp_path / "b3"))
        assert report.skipped == ("t",)
        assert "t" not in report.tables

    def test_empty_embeddings_with_ann_layout_skips_cleanly(
        self, spark, tmp_path
    ):
        """ADVICE r7: a zero-row incremental snapshot build with
        TableLayout(ann_index=True) must not raise from the layout's
        dimension probe — the A18 empty-skip fires before the ann-index
        materialization ever runs."""
        from ser_etl_spark.etl.build import TableLayout

        empty = spark.createDataFrame(
            [], "vec_id bigint, embedding array<float>, label int"
        )
        report = build_snapshot(
            {"embeddings": empty},
            str(tmp_path / "b4"),
            layouts={
                "embeddings": TableLayout(unique_key="vec_id", ann_index=True)
            },
            views={},
        )
        assert report.skipped == ("embeddings",)
        assert not (tmp_path / "b4" / "embeddings_ann_index").exists()

    def test_all_null_embeddings_with_ann_layout_degrades(
        self, spark, tmp_path
    ):
        """The adjacent real hole: a NON-empty table whose embedding
        column is all NULL has no vector to probe a dimension from — the
        build writes the table but skips the index artifact instead of
        crashing the snapshot."""
        from ser_etl_spark.etl.build import TableLayout

        df = spark.createDataFrame(
            [(1, None, 0), (2, None, 1)],
            "vec_id bigint, embedding array<float>, label int",
        )
        report = build_snapshot(
            {"embeddings": df},
            str(tmp_path / "b5"),
            layouts={
                "embeddings": TableLayout(unique_key="vec_id", ann_index=True)
            },
            views={},
        )
        assert report.tables["embeddings"] == 2
        assert not (tmp_path / "b5" / "embeddings_ann_index").exists()


class TestPublish:
    def _build(self, spark, source, tmp_path, n=1):
        manifests = []
        for i in range(n):
            out = str(tmp_path / f"build{i}")
            report = build_snapshot(
                {"customer": extract_table(spark, source, "customer")},
                out,
                layouts=LAYOUTS,
            )
            manifests.append(
                publish_snapshot(
                    out,
                    str(tmp_path / "store"),
                    tables=report.tables,
                    views=report.views,
                    version=f"2024010{i+1}_000000",
                )
            )
        return manifests

    def test_manifest_and_atomic_repoint(self, spark, source, tmp_path):
        m1, m2 = self._build(spark, source, tmp_path, n=2)
        store = str(tmp_path / "store")
        with open(os.path.join(store, "current", "manifest.json")) as f:
            current = json.load(f)
        assert current["version"] == m2["version"]
        assert current["tables"] == {"customer": 150}
        # both versions remain readable (time travel) until retention
        assert os.path.isdir(m1["snapshot_dir"])
        assert os.path.isdir(m2["snapshot_dir"])

    def test_retention_keeps_newest(self, spark, source, tmp_path):
        m1, m2 = self._build(spark, source, tmp_path, n=2)
        deleted = cleanup_old_versions(str(tmp_path / "store"), keep_count=1)
        assert deleted == 1
        assert not os.path.isdir(m1["snapshot_dir"])
        assert os.path.isdir(m2["snapshot_dir"])


class TestObjectStoreContract:
    """Readers never see a partial snapshot, WITHOUT local-FS rename
    atomicity (reference publish contract:
    ``/root/reference/etl-service/src/s3_uploader.py:27-94`` — immutable
    history uploads + an atomic single-key manifest PUT). These tests
    replace the snapshot 'move' with a non-atomic file-by-file copy (what
    a multipart upload to an object-store prefix really is) — crashing it
    mid-way or racing readers against it — and assert resolution through
    ``current/manifest.json`` always lands on a fully-written snapshot.
    Only the single-file manifest replacement is assumed atomic, which is
    exactly the object-store PUT guarantee the reference relies on."""

    N_FILES = 6

    def _fake_build(self, tmp_path, name: str, tag: bytes) -> str:
        import pathlib

        build = pathlib.Path(tmp_path) / name
        build.mkdir()
        for i in range(self.N_FILES):
            (build / f"part-{i:05d}.parquet").write_bytes(tag * 64)
        return str(build)

    def _read_current(self, store: str) -> dict:
        with open(os.path.join(store, "current", "manifest.json")) as f:
            return json.load(f)

    def _assert_complete(self, manifest: dict) -> None:
        """A resolved snapshot must contain every file, fully written."""
        sd = manifest["snapshot_dir"]
        names = sorted(os.listdir(sd))
        assert names == [f"part-{i:05d}.parquet" for i in range(self.N_FILES)]
        sizes = {os.path.getsize(os.path.join(sd, n)) for n in names}
        assert sizes == {64 * len(manifest["tables"]["tag"].encode())}

    def test_crash_mid_upload_keeps_old_snapshot_resolvable(
        self, tmp_path, monkeypatch
    ):
        import shutil as _shutil

        store = str(tmp_path / "store")
        publish_snapshot(
            self._fake_build(tmp_path, "b1", b"v1"), store,
            tables={"tag": "v1"}, version="20240101_000000",
        )
        before = self._read_current(store)

        def dying_copy_move(src, dst):
            os.makedirs(dst, exist_ok=True)
            files = sorted(os.listdir(src))
            for f_ in files[: len(files) // 2]:
                _shutil.copy2(os.path.join(src, f_), os.path.join(dst, f_))
            raise OSError("simulated upload crash")

        monkeypatch.setattr(
            "ser_etl_spark.etl.publish.shutil.move", dying_copy_move
        )
        with pytest.raises(OSError, match="simulated upload crash"):
            publish_snapshot(
                self._fake_build(tmp_path, "b2", b"v2"), store,
                tables={"tag": "v2"}, version="20240102_000000",
            )

        # the manifest never repointed: readers resolve the OLD snapshot,
        # which is fully intact — the half-uploaded dir is unreferenced
        after = self._read_current(store)
        assert after == before
        self._assert_complete(after)

    def test_crash_before_manifest_put_keeps_old_manifest(
        self, tmp_path, monkeypatch
    ):
        store = str(tmp_path / "store")
        publish_snapshot(
            self._fake_build(tmp_path, "b1", b"v1"), store,
            tables={"tag": "v1"}, version="20240101_000000",
        )
        before = self._read_current(store)

        def dying_replace(src, dst):
            raise OSError("simulated manifest PUT failure")

        monkeypatch.setattr(
            "ser_etl_spark.etl.publish.os.replace", dying_replace
        )
        with pytest.raises(OSError, match="manifest PUT"):
            publish_snapshot(
                self._fake_build(tmp_path, "b2", b"v2"), store,
                tables={"tag": "v2"}, version="20240102_000000",
            )

        monkeypatch.undo()
        after = self._read_current(store)
        assert after == before
        self._assert_complete(after)
        # the temp manifest was cleaned up — no .tmp litter readers
        # could mistake for a manifest
        current = os.listdir(os.path.join(store, "current"))
        assert current == ["manifest.json"]

    def test_concurrent_readers_see_complete_snapshots_only(
        self, tmp_path, monkeypatch
    ):
        import shutil as _shutil
        import threading
        import time as _time

        store = str(tmp_path / "store")

        def slow_copy_move(src, dst):
            # a multipart upload: files land one by one, then the source
            # disappears — at no point is this rename-atomic
            os.makedirs(dst, exist_ok=True)
            for f_ in sorted(os.listdir(src)):
                _shutil.copy2(os.path.join(src, f_), os.path.join(dst, f_))
                _time.sleep(0.002)
            _shutil.rmtree(src)

        publish_snapshot(
            self._fake_build(tmp_path, "b1", b"v1"), store,
            tables={"tag": "v1"}, version="20240101_000000",
        )
        monkeypatch.setattr(
            "ser_etl_spark.etl.publish.shutil.move", slow_copy_move
        )

        failures: list[str] = []
        stop = threading.Event()

        def reader():
            while not stop.is_set():
                try:
                    # manifest must ALWAYS parse (atomic single-key PUT)
                    m = self._read_current(store)
                    # ... and must only ever reference complete snapshots
                    self._assert_complete(m)
                except Exception as e:  # noqa: BLE001 — collected for assert
                    failures.append(repr(e))
                    return

        t = threading.Thread(target=reader)
        t.start()
        try:
            for i in range(2, 7):
                publish_snapshot(
                    self._fake_build(tmp_path, f"b{i}", f"v{i}".encode()),
                    store,
                    tables={"tag": f"v{i}"},
                    version=f"2024010{i}_000000",
                )
        finally:
            stop.set()
            t.join()
        assert failures == []
        assert self._read_current(store)["tables"]["tag"] == "v6"


class TestSyncCycle:
    def test_full_cycle_and_serve(self, spark, source, tmp_path):
        store = str(tmp_path / "store")
        mgr = SyncManager(
            spark,
            source,
            store,
            SyncConfig(
                tables=("orders", "customer", "lineitem", "events"),
                ts_col="ts",
                layouts=LAYOUTS,
            ),
        )
        out = mgr.run_sync()
        assert out.success
        assert out.manifest["tables"]["orders"] == 1500
        assert out.changed_rows["events"] == 1000

        # serve queries from the published snapshot through the gateway
        catalog = SnapshotCatalog(spark, store)
        engine = SparkQueryEngine(spark, catalog)
        res = engine.execute_query("SELECT COUNT(*) FROM orders")
        assert res.data[0][res.columns[0]] == 1500
        # the summary view travelled via the manifest (A10)
        view = engine.execute_query("SELECT * FROM v_lineitem_summary")
        assert view.row_count == 1
        assert view.data[0]["total_rows"] == 6000

        # second cycle: full refresh, watermark already advanced -> 0 changed
        out2 = mgr.run_sync()
        assert out2.success
        assert out2.changed_rows["events"] == 0
        assert out2.manifest["version"] != out.manifest["version"]


class TestIncrementalMerge:
    """A17 upgrade path: apply the changed slice instead of full refresh."""

    def _frames(self, spark):
        import datetime as dt

        from ser_etl_spark.etl.merge import merge_incremental

        t0 = dt.datetime(2024, 1, 1)
        t1 = dt.datetime(2024, 1, 2)
        current = spark.createDataFrame(
            [(1, "a", t0), (2, "b", t0), (3, "c", t0)],
            "id bigint, v string, updated_at timestamp_ntz",
        )
        changes = spark.createDataFrame(
            [(2, "b2", t1), (4, "d", t1)],
            "id bigint, v string, updated_at timestamp_ntz",
        )
        return merge_incremental, current, changes

    def test_upsert_updates_and_inserts(self, spark):
        merge, current, changes = self._frames(spark)
        got = {r["id"]: r["v"] for r in merge(current, changes, "id").collect()}
        assert got == {1: "a", 2: "b2", 3: "c", 4: "d"}

    def test_idempotent_reapply(self, spark):
        merge, current, changes = self._frames(spark)
        once = merge(current, changes, "id")
        twice = merge(once, changes, "id")
        assert sorted(map(str, once.collect())) == sorted(map(str, twice.collect()))

    def test_equal_timestamp_change_wins(self, spark):
        import datetime as dt

        from ser_etl_spark.etl.merge import merge_incremental

        t0 = dt.datetime(2024, 1, 1)
        current = spark.createDataFrame(
            [(1, "old", t0)], "id bigint, v string, updated_at timestamp_ntz"
        )
        changes = spark.createDataFrame(
            [(1, "new", t0)], "id bigint, v string, updated_at timestamp_ntz"
        )
        got = merge_incremental(current, changes, "id").collect()
        assert len(got) == 1 and got[0]["v"] == "new"

    def test_schema_mismatch_rejected(self, spark):
        import pytest as _pytest

        from ser_etl_spark.etl.merge import merge_incremental

        a = spark.createDataFrame([(1,)], "id bigint")
        b = spark.createDataFrame([(1, "x")], "id bigint, v string")
        with _pytest.raises(ValueError, match="schema mismatch"):
            merge_incremental(a, b, "id")


class TestIncrementalSync:
    """incremental=True: cycle 2+ merges the changed slice into the prior
    snapshot instead of re-extracting the world."""

    def test_incremental_cycle_merges_changes(self, spark, tmp_path):
        import datetime as dt

        from ser_etl_spark.etl.extract import ParquetSource
        from ser_etl_spark.etl.sync import SyncConfig, SyncManager
        from ser_etl_spark.gateway.catalog import SnapshotCatalog

        t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
        src_dir = str(tmp_path / "src")
        spark.createDataFrame(
            [(1, "a", t0), (2, "b", t0)],
            "id bigint, v string, updated_at timestamp_ntz",
        ).write.parquet(f"{src_dir}/items.parquet")

        store = str(tmp_path / "store")
        cfg = SyncConfig(
            tables=("items",),
            ts_col="updated_at",
            layouts={"items": TableLayout(unique_key="id")},
            views={},
            incremental=True,
        )
        mgr = SyncManager(spark, ParquetSource(src_dir), store, cfg)
        out1 = mgr.run_sync()
        assert out1.success and out1.manifest["tables"]["items"] == 2

        # source evolves: id=2 updated, id=3 new (later watermark)
        spark.createDataFrame(
            [(1, "a", t0), (2, "b2", t1), (3, "c", t1)],
            "id bigint, v string, updated_at timestamp_ntz",
        ).write.mode("overwrite").parquet(f"{src_dir}/items.parquet")

        out2 = mgr.run_sync()
        assert out2.success
        assert out2.changed_rows["items"] == 2  # only the t1 rows
        cat = SnapshotCatalog(spark, store)
        gen = cat.refresh(force=True)
        got = {r["id"]: r["v"] for r in gen.session.table("items").collect()}
        assert got == {1: "a", 2: "b2", 3: "c"}

    def test_first_cycle_falls_back_to_full(self, spark, source, tmp_path):
        from ser_etl_spark.etl.sync import SyncConfig, SyncManager

        cfg = SyncConfig(
            tables=("orders",),
            ts_col="o_orderdate",
            layouts={"orders": TableLayout(unique_key="o_orderkey")},
            views={},
            incremental=True,
        )
        mgr = SyncManager(spark, source, str(tmp_path / "s2"), cfg)
        out = mgr.run_sync()
        assert out.success and out.manifest["tables"]["orders"] == 1500


class TestQualityConstraints:
    def test_check_rules_single_pass_counts(self, spark):
        from ser_etl_spark.etl.quality import (
            accepted_values,
            check_rules,
            in_range,
            not_null,
        )

        df = spark.createDataFrame(
            [
                (1, 10.0, "A"),
                (2, -5.0, "B"),
                (None, 500.0, "C"),
                (4, None, "A"),
            ],
            "id bigint, amount double, status string",
        )
        got = check_rules(
            df,
            [
                not_null("id"),
                in_range("amount", lo=0.0, hi=100.0),
                accepted_values("status", ("A", "B")),
            ],
        )
        assert got == {
            "not_null:id": 1,
            "in_range:amount": 2,   # -5 below lo, 500 above hi; NULL passes
            "accepted_values:status": 1,
        }

    def test_fk_orphans_and_null_keys(self, spark):
        from ser_etl_spark.etl.quality import fk_orphans

        child = spark.createDataFrame(
            [(1, 10), (2, 99), (3, None)], "id bigint, fk bigint"
        )
        parent = spark.createDataFrame([(10,)], "pk bigint")
        got = [r["id"] for r in fk_orphans(child, "fk", parent, "pk").collect()]
        assert got == [2]  # NULL key is not an orphan (NOT EXISTS semantics)

    def test_schema_drift_report(self, spark):
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        from ser_etl_spark.etl.quality import detect_schema_drift

        old = StructType(
            [
                StructField("id", LongType()),
                StructField("name", StringType()),
                StructField("gone", StringType()),
            ]
        )
        new = StructType(
            [
                StructField("name", StringType()),  # reorder: not drift
                StructField("id", StringType()),    # type change
                StructField("fresh", LongType()),   # added
            ]
        )
        rep = detect_schema_drift(old, new)
        assert rep.added == ["fresh"]
        assert rep.removed == ["gone"]
        assert rep.changed == ["id"]
        assert rep.has_drift
        assert not detect_schema_drift(old, old).has_drift

    def test_schema_drift_triggers_full_refresh(self, spark, tmp_path):
        """When the source adds a column between incremental cycles, the
        table is rebuilt under the new schema (merging mismatched
        schemas would misalign) and the drift is surfaced."""
        import datetime as dt

        from ser_etl_spark.etl.extract import ParquetSource
        from ser_etl_spark.etl.sync import SyncConfig, SyncManager
        from ser_etl_spark.gateway.catalog import SnapshotCatalog

        t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
        src_dir = str(tmp_path / "src")
        spark.createDataFrame(
            [(1, "a", t0), (2, "b", t0)],
            "id bigint, v string, updated_at timestamp_ntz",
        ).write.parquet(f"{src_dir}/items.parquet")

        store = str(tmp_path / "store")
        cfg = SyncConfig(
            tables=("items",),
            ts_col="updated_at",
            layouts={"items": TableLayout(unique_key="id")},
            views={},
            incremental=True,
        )
        mgr = SyncManager(spark, ParquetSource(src_dir), store, cfg)
        assert mgr.run_sync().success

        # source grows a column AND updates a row
        spark.createDataFrame(
            [(1, "a", t0, None), (2, "b2", t1, "x")],
            "id bigint, v string, updated_at timestamp_ntz, extra string",
        ).write.mode("overwrite").parquet(f"{src_dir}/items.parquet")

        out = mgr.run_sync()
        assert out.success
        assert "items" in out.drift and out.drift["items"].added == ["extra"]
        cat = SnapshotCatalog(spark, store)
        got = cat.refresh(force=True).session.table("items")
        assert "extra" in got.columns  # new schema won
        assert got.count() == 2


class TestIncrementalArtifactCarry:
    """r8 directive #2: on a pure-append incremental cycle the derived
    artifacts (ANN index, MinHash bands) are hardlink-carried from the
    prior snapshot and upserted with just the delta — never re-derived
    from the full corpus — and the result equals a full rebuild."""

    @staticmethod
    def _inodes(d):
        out = {}
        for root, _dirs, files in os.walk(d):
            for n in files:
                if n.endswith(".parquet"):
                    p = os.path.join(root, n)
                    out[os.path.relpath(p, d)] = os.stat(p).st_ino
        return out

    def test_pure_append_cycle_carries_and_upserts(
        self, spark, sf_small, tmp_path
    ):
        import datetime as dt

        from pyspark.sql import functions as F

        from ser_etl_spark.etl.extract import ParquetSource
        from ser_etl_spark.etl.sync import SyncConfig, SyncManager
        from ser_etl_spark.operators import similarity as S
        from ser_etl_spark.operators.dedup import minhash_band_entries
        from ser_etl_spark.sources.parquet import load_table

        t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
        emb = load_table(spark, sf_small, "embeddings")
        docs = load_table(spark, sf_small, "documents")
        half_v = emb.count() // 2  # base keeps IVF seed rows 0..7
        half_d = docs.count() // 2

        src_dir = str(tmp_path / "src")
        base_e = emb.filter(F.col("vec_id") < half_v).withColumn(
            "updated_at", F.lit(t0).cast("timestamp_ntz")
        )
        base_d = docs.filter(F.col("doc_id") < half_d).withColumn(
            "updated_at", F.lit(t0).cast("timestamp_ntz")
        )
        base_e.write.parquet(f"{src_dir}/embeddings.parquet")
        base_d.write.parquet(f"{src_dir}/documents.parquet")

        store = str(tmp_path / "store")
        cfg = SyncConfig(
            tables=("embeddings", "documents"),
            ts_col="updated_at",
            layouts={
                "embeddings": TableLayout(
                    unique_key="vec_id", ann_index=True
                ),
                "documents": TableLayout(
                    unique_key="doc_id", minhash_bands=True,
                    text_postings=True,
                ),
            },
            views={},
            incremental=True,
        )
        mgr = SyncManager(spark, ParquetSource(src_dir), store, cfg)
        out1 = mgr.run_sync()
        assert out1.success
        snap1 = out1.manifest["snapshot_dir"]
        idx1 = self._inodes(os.path.join(snap1, "embeddings_ann_index"))
        bands1 = self._inodes(os.path.join(snap1, "documents_minhash_bands"))
        posts1 = self._inodes(os.path.join(snap1, "documents_text_postings"))

        # pure-append delta: brand-new keys at a later watermark
        delta_e = emb.filter(F.col("vec_id") >= half_v).withColumn(
            "updated_at", F.lit(t1).cast("timestamp_ntz")
        )
        delta_d = docs.filter(F.col("doc_id") >= half_d).withColumn(
            "updated_at", F.lit(t1).cast("timestamp_ntz")
        )
        base_e.unionByName(delta_e).write.mode("overwrite").parquet(
            f"{src_dir}/embeddings.parquet"
        )
        base_d.unionByName(delta_d).write.mode("overwrite").parquet(
            f"{src_dir}/documents.parquet"
        )

        out2 = mgr.run_sync()
        assert out2.success
        snap2 = out2.manifest["snapshot_dir"]
        idx2 = self._inodes(os.path.join(snap2, "embeddings_ann_index"))
        bands2 = self._inodes(os.path.join(snap2, "documents_minhash_bands"))

        # delta-cost assertion: every prior part file was CARRIED
        # (hardlink — same inode at the same relative path), so the
        # cycle's artifact work touched only the delta
        for rel, ino in idx1.items():
            assert idx2.get(rel) == ino, f"ann index re-derived: {rel}"
        for rel, ino in bands1.items():
            assert bands2.get(rel) == ino, f"bands re-derived: {rel}"
        posts2 = self._inodes(os.path.join(snap2, "documents_text_postings"))
        for rel, ino in posts1.items():
            assert posts2.get(rel) == ino, f"postings re-derived: {rel}"
        assert len(idx2) > len(idx1) and len(bands2) > len(bands1)
        assert len(posts2) > len(posts1)

        # equivalence: carried+upserted artifact == rebuild of the grown
        # table WITH THE INDEX'S FROZEN quantizer (train-once-freeze,
        # v3: the quantizer was trained on the base corpus at the snap1
        # build and rides inside the index; upserts never retrain)
        grown_e = base_e.unionByName(delta_e).drop("updated_at")
        frozen = S.index_centroids(
            spark, os.path.join(snap2, "embeddings_ann_index")
        )
        got_idx = sorted(
            tuple(r)
            for r in spark.read.parquet(
                os.path.join(snap2, "embeddings_ann_index")
            ).select("vec_id", "srp_bucket", "centroid_id").collect()
        )
        want_idx = sorted(
            tuple(r)
            for r in S.ann_layout_frame(grown_e, centroids=frozen)
            .select("vec_id", "srp_bucket", "centroid_id").collect()
        )
        assert got_idx == want_idx
        # and the frozen quantizer IS the base-corpus training result
        assert frozen == S.kmeans_train(base_e.drop("updated_at"))[0]
        grown_d = base_d.unionByName(delta_d).drop("updated_at")
        got_b = sorted(
            tuple(r)
            for r in spark.read.parquet(
                os.path.join(snap2, "documents_minhash_bands")
            ).select("doc_id", "band", "bucket").collect()
        )
        want_b = sorted(
            tuple(r)
            for r in minhash_band_entries(grown_d)
            .select("doc_id", "band", "bucket").collect()
        )
        assert got_b == want_b

        # carried postings: totals merged exactly, still fresh
        from ser_etl_spark.artifacts import read_manifest
        from ser_etl_spark.operators.text import (
            _postings_totals,
            ensure_text_postings,
        )

        m = read_manifest(os.path.join(snap2, "documents_text_postings"))
        nd, tt = _postings_totals(grown_d)
        assert (m["n_docs"], m["t_toks"]) == (nd, tt)
        assert ensure_text_postings(spark, snap2) == os.path.join(
            snap2, "documents_text_postings"
        )

        # and the carried artifacts are FRESH: published-first
        # resolution serves them with zero rebuild
        assert S.ensure_ann_index(spark, snap2) == os.path.join(
            snap2, "embeddings_ann_index"
        )

    def test_quantizer_range_append_re_derives(
        self, spark, sf_small, tmp_path
    ):
        """r9 ADVICE: a pure-APPEND delta whose new key falls in the
        quantizer id range (vec_id < IVF_CENTROIDS) must force the full
        ANN re-derive — a carried index would keep the PRIOR frozen
        quantizer while a rebuild (and every IVF-family oracle, which
        derives centroids from vec_id < 8 over the grown table) includes
        the new centroid row, so the carried artifact would silently
        diverge."""
        import datetime as dt

        from pyspark.sql import functions as F

        from ser_etl_spark.etl.extract import ParquetSource
        from ser_etl_spark.etl.sync import SyncConfig, SyncManager
        from ser_etl_spark.operators import similarity as S
        from ser_etl_spark.sources.parquet import load_table

        t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
        emb = load_table(spark, sf_small, "embeddings")
        # base EXCLUDES vec_id=7: its quantizer has centroids {0..6}
        base = emb.filter(F.col("vec_id") != 7).withColumn(
            "updated_at", F.lit(t0).cast("timestamp_ntz")
        )
        src_dir = str(tmp_path / "src")
        base.write.parquet(f"{src_dir}/embeddings.parquet")

        store = str(tmp_path / "store")
        cfg = SyncConfig(
            tables=("embeddings",),
            ts_col="updated_at",
            layouts={
                "embeddings": TableLayout(unique_key="vec_id", ann_index=True)
            },
            views={},
            incremental=True,
        )
        mgr = SyncManager(spark, ParquetSource(src_dir), store, cfg)
        out1 = mgr.run_sync()
        assert out1.success
        idx1 = self._inodes(
            os.path.join(out1.manifest["snapshot_dir"], "embeddings_ann_index")
        )

        # pure-append delta: the brand-new key IS a quantizer id
        delta = emb.filter(F.col("vec_id") == 7).withColumn(
            "updated_at", F.lit(t1).cast("timestamp_ntz")
        )
        base.unionByName(delta).write.mode("overwrite").parquet(
            f"{src_dir}/embeddings.parquet"
        )
        out2 = mgr.run_sync()
        assert out2.success
        snap2 = out2.manifest["snapshot_dir"]
        idx2 = self._inodes(os.path.join(snap2, "embeddings_ann_index"))

        # the gate fired: nothing was hardlink-carried
        assert not any(idx2.get(rel) == ino for rel, ino in idx1.items())

        # and the re-derived index equals a full rebuild over the grown
        # table — including a RETRAIN of the quantizer on the grown
        # corpus (the seed-range delta invalidated the freeze), so
        # centroid 7 participates in every assignment
        grown = base.unionByName(delta).drop("updated_at")
        got = sorted(
            tuple(r)
            for r in spark.read.parquet(
                os.path.join(snap2, "embeddings_ann_index")
            ).select("vec_id", "srp_bucket", "centroid_id").collect()
        )
        retrained = S.kmeans_train(grown)[0]
        want = sorted(
            tuple(r)
            for r in S.ann_layout_frame(grown, centroids=retrained)
            .select("vec_id", "srp_bucket", "centroid_id").collect()
        )
        assert got == want
        assert S.ensure_ann_index(spark, snap2) == os.path.join(
            snap2, "embeddings_ann_index"
        )

    def test_update_cycle_re_derives(self, spark, sf_small, tmp_path):
        """A delta that UPDATES an existing key must force the full
        artifact re-derive — append-only carry would keep the stale
        row's bands alongside the new ones."""
        import datetime as dt

        from pyspark.sql import functions as F

        from ser_etl_spark.etl.extract import ParquetSource
        from ser_etl_spark.etl.sync import SyncConfig, SyncManager
        from ser_etl_spark.operators.dedup import minhash_band_entries
        from ser_etl_spark.sources.parquet import load_table

        t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
        docs = load_table(spark, sf_small, "documents").limit(40)
        src_dir = str(tmp_path / "src")
        base = docs.withColumn("updated_at", F.lit(t0).cast("timestamp_ntz"))
        base.write.parquet(f"{src_dir}/documents.parquet")

        store = str(tmp_path / "store")
        cfg = SyncConfig(
            tables=("documents",),
            ts_col="updated_at",
            layouts={
                "documents": TableLayout(
                    unique_key="doc_id", minhash_bands=True
                )
            },
            views={},
            incremental=True,
        )
        mgr = SyncManager(spark, ParquetSource(src_dir), store, cfg)
        out1 = mgr.run_sync()
        assert out1.success
        bands1 = self._inodes(
            os.path.join(out1.manifest["snapshot_dir"],
                         "documents_minhash_bands")
        )

        # rewrite one EXISTING doc's text at a later watermark
        changed = base.withColumn(
            "text",
            F.when(F.col("doc_id") == 0, F.lit("entirely new text body"))
            .otherwise(F.col("text")),
        ).withColumn(
            "updated_at",
            F.when(F.col("doc_id") == 0, F.lit(t1).cast("timestamp_ntz")).otherwise(F.col("updated_at")),
        )
        changed.write.mode("overwrite").parquet(f"{src_dir}/documents.parquet")

        out2 = mgr.run_sync()
        assert out2.success
        snap2 = out2.manifest["snapshot_dir"]
        bands2 = self._inodes(os.path.join(snap2, "documents_minhash_bands"))
        # no carried inodes: the artifact was re-derived
        assert not (set(bands1.values()) & set(bands2.values()))
        # and it matches the post-update corpus exactly (no stale rows)
        got = sorted(
            tuple(r)
            for r in spark.read.parquet(
                os.path.join(snap2, "documents_minhash_bands")
            ).select("doc_id", "band", "bucket").collect()
        )
        want = sorted(
            tuple(r)
            for r in minhash_band_entries(changed.drop("updated_at"))
            .select("doc_id", "band", "bucket").collect()
        )
        assert got == want


    def test_all_degenerate_delta_re_derives_ann_index(
        self, spark, sf_small, tmp_path
    ):
        """r8 review: a pure-append delta whose vectors are ALL
        NULL cannot be laid out with the frozen quantizer — the cycle
        must fall back to the full re-derive (which gives those rows
        sentinel partitions) instead of silently dropping them from
        the carried index."""
        import datetime as dt

        from pyspark.sql import functions as F
        from pyspark.sql.types import ArrayType, FloatType

        from ser_etl_spark.etl.extract import ParquetSource
        from ser_etl_spark.etl.sync import SyncConfig, SyncManager
        from ser_etl_spark.operators import similarity as S
        from ser_etl_spark.sources.parquet import load_table

        t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
        emb = load_table(spark, sf_small, "embeddings").limit(60)
        src_dir = str(tmp_path / "src")
        base = emb.withColumn("updated_at", F.lit(t0).cast("timestamp_ntz"))
        base.write.parquet(f"{src_dir}/embeddings.parquet")

        store = str(tmp_path / "store")
        cfg = SyncConfig(
            tables=("embeddings",),
            ts_col="updated_at",
            layouts={
                "embeddings": TableLayout(unique_key="vec_id", ann_index=True)
            },
            views={},
            incremental=True,
        )
        mgr = SyncManager(spark, ParquetSource(src_dir), store, cfg)
        assert mgr.run_sync().success

        # append NEW keys whose embeddings are all NULL
        degenerate = base.select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.lit(None).cast(ArrayType(FloatType())).alias("embedding"),
            F.col("label"),
            F.lit(t1).cast("timestamp_ntz").alias("updated_at"),
        ).limit(5)
        base.unionByName(degenerate).write.mode("overwrite").parquet(
            f"{src_dir}/embeddings.parquet"
        )
        out2 = mgr.run_sync()
        assert out2.success
        snap2 = out2.manifest["snapshot_dir"]
        idx = spark.read.parquet(os.path.join(snap2, "embeddings_ann_index"))
        # the re-derived index contains the degenerate rows (sentinel
        # partitions), exactly like a from-scratch build of the grown
        # table — nothing silently dropped
        assert idx.count() == 65
        got = sorted(
            tuple(r)
            for r in idx.select("vec_id", "srp_bucket", "centroid_id")
            .collect()
        )
        grown = load_table(spark, snap2, "embeddings").drop("updated_at")
        want = sorted(
            tuple(r)
            for r in S.ann_layout_frame(
                grown, centroids=S.kmeans_train(grown)[0]
            )
            .select("vec_id", "srp_bucket", "centroid_id").collect()
        )
        assert got == want


class TestCompaction:
    def _fragment(self, spark, sf_small, path, n_files=32):
        """Write orders as many tiny files — the post-incremental state."""
        df = spark.read.parquet(os.path.join(sf_small, "orders.parquet"))
        df.repartition(n_files).write.mode("overwrite").parquet(path)
        return df

    def test_compacts_to_target_and_preserves_content(
        self, spark, sf_small, tmp_path
    ):
        from ser_etl_spark.etl.build import compact_table

        src = str(tmp_path / "frag")
        dst = str(tmp_path / "compact")
        df = self._fragment(spark, sf_small, src)
        rep = compact_table(
            spark, src, dst,
            TableLayout(unique_key="o_orderkey", sort_col="o_orderdate"),
            target_file_bytes=1 << 30,
        )
        assert rep.files_before == 32
        assert rep.target_files == 1
        assert rep.files_after == 1
        assert rep.rows == df.count()
        before = sorted(map(tuple, df.collect()))
        after = sorted(map(tuple, spark.read.parquet(dst).collect()))
        assert before == after

    def test_compaction_preserves_sorted_range_layout(
        self, spark, sf_small, tmp_path
    ):
        """Multiple output files: key ranges must not overlap (row-group
        skipping survives compaction)."""
        from pyspark.sql import functions as F

        from ser_etl_spark.etl.build import compact_table

        src = str(tmp_path / "frag2")
        dst = str(tmp_path / "compact2")
        self._fragment(spark, sf_small, src)
        total = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(src) for f in fs if f.endswith(".parquet")
        )
        rep = compact_table(
            spark, src, dst, TableLayout(unique_key="o_orderkey"),
            target_file_bytes=max(1, total // 4),
        )
        assert rep.files_after >= 2
        import pyarrow.parquet as pq

        spans = []
        for root, _d, files in os.walk(dst):
            for f in files:
                if f.endswith(".parquet") and not f.startswith(("_", ".")):
                    t = pq.read_table(os.path.join(root, f),
                                      columns=["o_orderkey"])
                    c = t.column(0).to_pylist()
                    spans.append((min(c), max(c)))
        spans.sort()
        for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
            assert hi1 < lo2, spans

    def test_compaction_preserves_directory_partitions(
        self, spark, sf_small, tmp_path
    ):
        from pyspark.sql import functions as F

        from ser_etl_spark.etl.build import compact_table

        src = str(tmp_path / "frag3")
        dst = str(tmp_path / "compact3")
        ev = spark.read.parquet(os.path.join(sf_small, "events.parquet"))
        (
            ev.withColumn("etype", F.col("event_type"))
            .repartition(16)
            .write.mode("overwrite")
            .partitionBy("etype")
            .parquet(src)
        )
        rep = compact_table(
            spark, src, dst,
            TableLayout(unique_key="event_id", partition_by="etype"),
            target_file_bytes=1 << 30,
        )
        src_dirs = {d for d in os.listdir(src) if d.startswith("etype=")}
        dst_dirs = {d for d in os.listdir(dst) if d.startswith("etype=")}
        assert src_dirs == dst_dirs
        assert rep.files_after < rep.files_before
        assert (
            spark.read.parquet(dst).count()
            == spark.read.parquet(src).count()
        )

    def test_compaction_detects_row_drift(self, spark, sf_small, tmp_path):
        """The verify gate raises if the rewrite lost rows (simulated by
        compacting a directory that changes mid-flight is not cheaply
        reproducible; instead pin that verify runs and returns rows)."""
        from ser_etl_spark.etl.build import compact_table

        src = str(tmp_path / "frag4")
        dst = str(tmp_path / "compact4")
        df = self._fragment(spark, sf_small, src, n_files=4)
        rep = compact_table(spark, src, dst, verify=True)
        assert rep.rows == df.count()
