"""The plan-keyed memo registry under concurrent use."""

from __future__ import annotations

import sys
import threading

from data_engineering_spark.operators import memo


def test_value_memo_cap_holds_under_thread_contention(spark):
    """Many threads hitting and inserting into one capped value memo
    must never raise, never exceed the cap, and always get the value
    built for their own plan."""
    kind = "bpe_vocab"
    cap = memo._CAPS[kind]
    plans = [spark.range(n) for n in range(cap * 3)]
    errors: list[BaseException] = []

    def worker(seed: int) -> None:
        try:
            for i in range(40):
                n = (seed * 7 + i) % len(plans)
                got = memo.value(kind, plans[n], ("p",), lambda n=n: ("built", n))
                assert got == ("built", n)
                assert len(memo._REGISTRY[kind]) <= cap
        except BaseException as exc:  # noqa: BLE001 — re-raised in the main thread
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    memo.clear()
    try:
        threads = [threading.Thread(target=worker, args=(s,)) for s in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors[0]
        assert len(memo._REGISTRY[kind]) <= cap
    finally:
        sys.setswitchinterval(old)
        memo.clear()


def _sum_v(spark, path: str):
    """``sum(v)`` over a ``memo.persisted`` relation of the table at
    ``path``, with the relation handed out (a hit returns the same one)."""
    from pyspark.sql import functions as F

    src = spark.read.parquet(path)
    out = memo.persisted(src, ("sum_v_probe",), src.select("v"))
    return out, out.agg(F.sum("v")).first()[0]


def test_spark_overwrite_in_place_gives_a_fresh_hit(spark, tmp_path):
    """A Spark overwrite of the source path re-caches it: the next call
    is a registry hit (the same relation, no new entry) that returns
    the new rows."""
    path = str(tmp_path / "t")
    spark.range(10).selectExpr("id", "id AS v").write.parquet(path)
    memo.clear()
    try:
        first, total = _sum_v(spark, path)
        assert total == 45
        n = len(memo._REGISTRY[memo.RELATIONS])
        spark.range(10).selectExpr("id", "id + 1000 AS v").write.mode("overwrite").parquet(path)
        again, total = _sum_v(spark, path)
        assert again is first and len(memo._REGISTRY[memo.RELATIONS]) == n
        assert total == 10045
    finally:
        memo.clear()


def test_out_of_band_rewrite_is_fresh_after_refresh_by_path(spark, tmp_path):
    """A rewrite outside Spark is not seen through Spark's cache (the
    stale read the memo docstring states); after
    ``spark.catalog.refreshByPath`` the next call returns the new rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "t"
    path.mkdir()
    pq.write_table(pa.table({"id": list(range(10)), "v": list(range(10))}), path / "part.parquet")
    memo.clear()
    try:
        assert _sum_v(spark, str(path))[1] == 45
        pq.write_table(
            pa.table({"id": list(range(10)), "v": [i + 2000 for i in range(10)]}),
            path / "part.parquet",
        )
        assert _sum_v(spark, str(path))[1] == 45  # stale: served from the cache
        spark.catalog.refreshByPath(str(path))
        assert _sum_v(spark, str(path))[1] == 20045
    finally:
        memo.clear()
