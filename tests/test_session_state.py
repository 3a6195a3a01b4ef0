"""The two session-level mechanisms every catalog query shares: the
per-application memo (``session.app_memo``) and the parquet size reader
(``session.parquet_sizes``) behind each size gate, plus the
``caching.track_cache`` seam that cache A/Bs patch."""

from __future__ import annotations

import os
import shutil
from types import SimpleNamespace

from conftest import SF_SMALL

from tomasz_weight_tracker_spark import caching, session
from tomasz_weight_tracker_spark.plans import REGISTRY
from tomasz_weight_tracker_spark.plans import catalog as C


def _sparse_table(root, table: str, part_bytes: list[int]) -> str:
    """A directory-layout ``<table>.parquet`` of sparse part files: the
    size gates only stat them, so no parquet content is needed."""
    d = root / f"{table}.parquet"
    d.mkdir(parents=True)
    for i, n in enumerate(part_bytes):
        p = d / f"part-{i:05d}.snappy.parquet"
        p.touch()
        os.truncate(p, n)
    (d / "_SUCCESS").touch()
    return str(root)


class TestAppMemo:
    def test_memoized_within_application(self, spark):
        calls = []
        key = ("test_memo", "within")
        a = session.app_memo(spark, key, lambda: calls.append(1) or "v")
        b = session.app_memo(spark, key, lambda: calls.append(1) or "w")
        assert a == b == "v" and calls == [1]
        assert C.load(spark, SF_SMALL, "region") is C.load(spark, SF_SMALL, "region")

    def test_new_application_replaces_slot(self, spark, monkeypatch):
        # Restore the suite's slot afterwards; the shared session is
        # never stopped.
        monkeypatch.setattr(session, "_APP_MEMO", session._APP_MEMO)
        C.load(spark, SF_SMALL, "region")
        app_id = spark.sparkContext.applicationId
        assert session._APP_MEMO[0] == app_id
        assert ("load", SF_SMALL, "region", True) in session._APP_MEMO[1]

        other = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-other"))
        assert session.app_memo(other, ("k",), lambda: 7) == 7
        assert session._APP_MEMO == ("app-other", {("k",): 7})

        # Back on the first application: its entries were dropped, so
        # the memo holds only what is rebuilt now.
        C.load(spark, SF_SMALL, "nation")
        assert session._APP_MEMO[0] == app_id
        assert list(session._APP_MEMO[1]) == [("load", SF_SMALL, "nation", True)]


class TestSizeGates:
    """Every gate reads sizes through ``parquet_sizes``, so a
    directory-layout table counts its part files, not the directory
    inode (~4 KiB)."""

    def test_lm_broadcast_model_directory_layout(self, tmp_path):
        big = _sparse_table(tmp_path / "big", "documents", [6 << 20] * 3)
        small = _sparse_table(tmp_path / "small", "documents", [1 << 20] * 2)
        assert not C.lm_broadcast_model(big)  # 18 MiB > 16 MiB cap
        assert C.lm_broadcast_model(small)
        assert not C.lm_broadcast_model(str(tmp_path / "missing"))  # unknown

    def test_star_preagg_directory_layout(self, spark, tmp_path):
        big = _sparse_table(tmp_path / "big", "orders", [5 << 20] * 2)
        small = _sparse_table(tmp_path / "small", "orders", [1 << 20] * 2)
        assert C.star_preagg(spark, big)  # 10 MiB >= 8 MiB floor
        assert not C.star_preagg(spark, small)
        assert C.star_preagg(spark, str(tmp_path / "missing"))  # unknown

    def test_widen_keys_on_table_name_not_path(self, spark, tmp_path):
        # One single-file table above the bytes floor, stored as both
        # customer and orders under a directory whose name contains
        # "orders": only the orders table is a widen table.
        sf = tmp_path / "orders_v2"
        spark.range(40000).selectExpr("id", "md5(cast(id AS string)) AS pad").coalesce(
            1
        ).write.parquet(str(sf / "customer.parquet"))
        shutil.copytree(sf / "customer.parquet", sf / "orders.parquet")
        sizes = session.parquet_sizes(str(sf / "customer.parquet"))
        assert len(sizes) == 1 and sum(sizes.values()) >= C._WIDEN_MIN_BYTES

        def widened(table: str) -> bool:
            df = C.load(spark, str(sf), table)
            return "Repartition" in df._jdf.queryExecution().logical().toString()

        assert not widened("customer")
        assert widened("orders") == (4 <= spark.sparkContext.defaultParallelism)


class TestTrackCacheSeam:
    def test_patched_track_cache_reaches_tpch_full(self, spark, monkeypatch):
        """tools/ab_track_cache.py disables caching by patching
        ``caching.track_cache``; every call site must see the patch."""

        def cached(name: str) -> bool:
            df = REGISTRY[name].build(spark, SF_SMALL)
            return "InMemoryRelation" in df._jdf.queryExecution().optimizedPlan().toString()

        caching.release_caches()
        try:
            assert cached("important_parts") and cached("top_revenue_supplier")
        finally:
            caching.release_caches()
        monkeypatch.setattr(caching, "track_cache", lambda df: df)
        assert not cached("important_parts")
        assert not cached("top_revenue_supplier")
