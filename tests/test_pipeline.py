"""Phase-2 job layer: SQL-file ETL, audit log, writers, validation gates."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_engineering_spark.catalog import register_views
from data_engineering_spark.pipeline.etl import (
    AUDIT_SCHEMA,
    count_reconciliation_gate,
    run_sql_etl,
    schema_match,
    set_nullable_for_columns,
)
from data_engineering_spark.sources.writers import (
    partition_overwrite,
    retention_prune,
    truncate_and_load,
    write_unload,
)


def test_run_sql_etl_truncate(spark, sf_dir, tmp_path):
    register_views(spark, sf_dir)
    target = str(tmp_path / "t1_orders_summary")
    audit = str(tmp_path / "audit")
    # reference-dialect SQL (to_char + nvl + listagg) straight through the shim
    rec = run_sql_etl(
        spark,
        """select o_custkey, listagg(distinct o_orderstatus, ',') as statuses,
                  to_char(max(o_orderdate), 'YYYYMMDD') as last_dt
           from orders group by o_custkey;""",
        target,
        job_nm="t1_orders_summary",
        bat_dt="20240101",
        audit_dir=audit,
    )
    assert rec.success_yn == "Y"
    assert rec.cretn_cnt > 0
    out = spark.read.parquet(target)
    assert set(out.columns) == {"o_custkey", "statuses", "last_dt"}
    audit_df = spark.read.parquet(audit)
    assert audit_df.schema == AUDIT_SCHEMA
    assert audit_df.count() == 1
    # idempotent re-run: truncate semantics → same count, audit appends
    rec2 = run_sql_etl(spark, "select * from nation", target, audit_dir=audit)
    assert rec2.cretn_cnt == 25
    assert spark.read.parquet(audit).count() == 2


def test_run_sql_etl_error_is_audited(spark, tmp_path):
    rec = run_sql_etl(spark, "select * from no_such_table", str(tmp_path / "x"))
    assert rec.success_yn == "N"
    assert rec.error_msg
    assert rec.cretn_cnt == 0


def test_partition_overwrite_idempotent(spark, sf_dir, tmp_path):
    target = str(tmp_path / "backup")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    d1 = orders.limit(100).withColumn("bkup_dt", F.lit("20240101"))
    d2 = orders.limit(50).withColumn("bkup_dt", F.lit("20240102"))
    partition_overwrite(d1, target, "bkup_dt")
    partition_overwrite(d2, target, "bkup_dt")
    assert spark.read.parquet(target).count() == 150
    # re-run day 2 with fewer rows → replaces ONLY that partition
    d2b = orders.limit(10).withColumn("bkup_dt", F.lit("20240102"))
    partition_overwrite(d2b, target, "bkup_dt")
    got = dict(
        spark.read.parquet(target).groupBy("bkup_dt").count().rdd.map(tuple).collect()
    )
    assert got == {"20240101": 100, "20240102": 10}


def test_retention_prune(spark, sf_dir, tmp_path):
    target = str(tmp_path / "retained")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(30)
    for d in ("20231229", "20231230", "20240102"):
        partition_overwrite(orders.withColumn("bkup_dt", F.lit(d)), target, "bkup_dt")
    dropped = retention_prune(spark, target, "bkup_dt", cutoff="20240101")
    assert dropped == ["20231229", "20231230"]
    remaining = [r.bkup_dt for r in spark.read.parquet(target).select("bkup_dt").distinct().collect()]
    assert remaining == ["20240102"]


def test_write_unload_single_gzip_json(spark, sf_dir, tmp_path):
    path = str(tmp_path / "unload")
    write_unload(spark.read.parquet(f"{sf_dir}/nation.parquet"), path)
    files = [f for f in os.listdir(path) if f.endswith(".json.gz")]
    assert len(files) == 1  # parallel OFF → exactly one gzip part
    assert spark.read.json(path).count() == 25  # codec round-trip


def test_schema_tools(spark, sf_dir):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    relaxed = set_nullable_for_columns(nation.schema, True)
    assert all(f.nullable for f in relaxed.fields)
    backup = nation.select(F.lit("20240101").alias("bkup_dt"), "*")
    assert schema_match(nation, backup)
    assert not schema_match(nation.drop("n_name"), backup)
    assert count_reconciliation_gate(25, nation)
    assert not count_reconciliation_gate(24, nation)


def test_truncate_and_load_atomic_replace(spark, sf_dir, tmp_path):
    target = str(tmp_path / "t")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    assert truncate_and_load(nation, target) == 25
    assert truncate_and_load(nation.limit(5), target) == 5  # truncate, not append


def test_run_daily_end_to_end(spark, sf_dir, tmp_path):
    """§3.1 DAG re-enactment: t1 SQL ETL → t2 mart partition →
    retention → weekly serving index, audited, idempotent on re-run."""
    from data_engineering_spark.pipeline.daily import run_daily

    wh = str(tmp_path / "wh")
    recs = run_daily(spark, sf_dir, wh, "20240110", weekly=True)
    assert [r.job_nm for r in recs] == [
        "t1.t1_order_summary",
        "t1.t1_lineitem_daily",
        "t2.cust_mart",
        "t4.serving_index",
    ]
    assert all(r.success_yn == "Y" for r in recs)
    mart = spark.read.parquet(f"{wh}/t2_cust_mart")
    assert mart.filter("bkup_dt = '20240110'").count() == recs[2].cretn_cnt > 0

    # re-run same date: idempotent (partition replaced, not doubled)
    recs2 = run_daily(spark, sf_dir, wh, "20240110", weekly=False)
    mart2 = spark.read.parquet(f"{wh}/t2_cust_mart")
    assert mart2.filter("bkup_dt = '20240110'").count() == recs2[2].cretn_cnt

    # second batch date adds a partition; retention keeps both (within window)
    run_daily(spark, sf_dir, wh, "20240111", weekly=False)
    parts = {r.bkup_dt for r in spark.read.parquet(f"{wh}/t2_cust_mart").select("bkup_dt").distinct().collect()}
    assert parts == {"20240110", "20240111"}

    audit = spark.read.parquet(f"{wh}/audit_log")
    assert audit.filter("success_yn = 'Y'").count() >= 9


def test_retention_cutoff_crosses_month_boundary(spark, sf_dir, tmp_path):
    """Cutoff must use real date arithmetic: integer yyyyMMdd subtraction
    around a month boundary (20240201 - 7 = '20240194') lexically exceeds
    every January partition and would prune data inside the window."""
    from data_engineering_spark.pipeline.daily import run_daily

    wh = str(tmp_path / "wh")
    run_daily(spark, sf_dir, wh, "20240129", weekly=False)
    run_daily(spark, sf_dir, wh, "20240201", weekly=False, keep_days=7)
    parts = {
        r.bkup_dt
        for r in spark.read.parquet(f"{wh}/t2_cust_mart").select("bkup_dt").distinct().collect()
    }
    # 20240129 is 3 days before 20240201 — well inside keep_days=7
    assert parts == {"20240129", "20240201"}


def test_run_daily_needs_only_the_tables_it_reads(spark, sf_dir, tmp_path):
    """A warehouse holding only the four TPC-H tables the run reads (no
    events/documents/embeddings) must run daily and weekly: the run
    registers only the views it reads, not every catalog table."""
    import shutil

    from data_engineering_spark.catalog import table_path
    from data_engineering_spark.pipeline.daily import VIEWS, run_daily

    src = str(tmp_path / "sf")
    os.makedirs(src)
    for name in VIEWS:
        shutil.copyfile(table_path(sf_dir, name), table_path(src, name))
    assert sorted(os.listdir(src)) == sorted(f"{n}.parquet" for n in VIEWS)
    wh = str(tmp_path / "wh")
    for date, weekly in (("20240110", False), ("20240111", True)):
        recs = run_daily(spark, src, wh, date, weekly=weekly)
        assert all(r.success_yn == "Y" for r in recs), [r.error_msg for r in recs]
        assert len(recs) == (4 if weekly else 3)
    assert spark.read.parquet(f"{wh}/t4_serving_index").count() == recs[-1].cretn_cnt > 0


def test_counted_writes_equal_a_fresh_read(spark, sf_dir, tmp_path):
    """Each writer's returned count (observed during the write) equals a
    fresh read of what it wrote — empty frames included."""
    from data_engineering_spark.sources.writers import write_serving_index

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    read = lambda p: spark.read.parquet(p).count()  # noqa: E731

    t = str(tmp_path / "t")
    assert truncate_and_load(orders.filter("o_orderkey % 3 = 0"), t) == read(t) > 0
    assert truncate_and_load(nation.limit(0), t) == 0 == read(t)

    s = str(tmp_path / "s")
    assert write_serving_index(orders, s, "o_custkey", buckets=4) == read(s) > 0
    assert write_serving_index(nation.limit(0), s, "n_nationkey") == 0 == read(s)

    p = str(tmp_path / "p")
    d1 = orders.filter("o_orderkey % 2 = 0").withColumn("bkup_dt", F.lit("20240101"))
    d2 = orders.filter("o_orderkey % 5 = 0").withColumn("bkup_dt", F.lit("20240102"))
    n1 = partition_overwrite(d1, p, "bkup_dt")
    assert n1 == read(p) > 0
    n2 = partition_overwrite(d2, p, "bkup_dt")
    assert n2 == spark.read.parquet(p).filter("bkup_dt = '20240102'").count() > 0
    # an empty frame counts 0 and touches no partition
    assert partition_overwrite(d2.limit(0), p, "bkup_dt") == 0
    got = dict(spark.read.parquet(p).groupBy("bkup_dt").count().rdd.map(tuple).collect())
    assert got == {"20240101": n1, "20240102": n2}


def _job_ids(spark, fn) -> list[int]:
    """The Spark jobs ``fn()`` launches, tagged by a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is fed by the (asynchronous) listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_counted_write_and_audit_launch_no_bookkeeping_jobs(spark, sf_dir, tmp_path):
    """``truncate_and_load`` launches exactly the jobs of its write (no
    read-back or count job after it); ``write_audit`` launches one."""
    from datetime import datetime

    from data_engineering_spark.pipeline.etl import AuditRecord, write_audit

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    plain = _job_ids(spark, lambda: nation.write.mode("overwrite").parquet(str(tmp_path / "a")))
    counted = _job_ids(spark, lambda: truncate_and_load(nation, str(tmp_path / "b")))
    assert len(plain) >= 1 and len(counted) == len(plain), (plain, counted)

    rec = AuditRecord("20240101", "0:00:01", "j", "t", "r", 25, "Y", "", datetime(2024, 1, 1))
    audit = str(tmp_path / "audit")
    write_audit(spark, rec, audit)  # the first append creates the directory
    assert len(_job_ids(spark, lambda: write_audit(spark, rec, audit))) == 1


def test_audit_row_round_trips_under_system_tz(spark, tmp_path):
    """The audit row reads back field for field, and ``platform_dt``
    stores the instant the row path stored,
    ``TimestampType().toInternal`` (naive datetime read in the system
    TZ) — on a UTC box and on a UTC+9 box (the reference's zone), with
    the session TZ pinned to UTC."""
    import time
    from datetime import datetime

    from pyspark.sql import types as T

    from data_engineering_spark.pipeline.etl import AuditRecord, write_audit

    old_tz = os.environ.get("TZ")
    try:
        for tz in ("UTC", "Asia/Seoul"):
            os.environ["TZ"] = tz
            time.tzset()
            rec = AuditRecord(
                "20240101", "0:01:02", "t1.job", "t1_tbl", "t1.job-1704067200",
                12345, "N", "boom: 한글 error", datetime(2024, 1, 1, 23, 30, 15, 123456),
            )
            audit = str(tmp_path / f"audit_{tz.replace('/', '_')}")
            write_audit(spark, rec, audit)
            df = spark.read.parquet(audit)
            assert df.schema == AUDIT_SCHEMA
            (row,) = df.selectExpr("*", "unix_micros(platform_dt) AS us").collect()
            assert row.us == T.TimestampType().toInternal(rec.platform_dt), tz
            got = row.asDict()
            del got["us"]
            assert got == vars(rec), tz
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_concurrent_counted_writes_keep_their_own_counts(spark, sf_dir, tmp_path):
    """Writers running at once (the incremental-dedup sinks, one per
    stream) each get their own observed count, never another's."""
    from concurrent.futures import ThreadPoolExecutor

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")

    def write(i: int) -> int:
        df = orders.limit(10 * (i + 1)).withColumn("b", F.lit(str(i)))
        return partition_overwrite(df, str(tmp_path / f"w{i}"), "b")

    with ThreadPoolExecutor(max_workers=4) as pool:
        futures = [pool.submit(write, i) for i in range(8)]
        counts = [f.result(timeout=300) for f in futures]
    assert counts == [10 * (i + 1) for i in range(8)]


def test_weekly_audit_rows_carry_their_own_job_times(spark, sf_dir, tmp_path, monkeypatch):
    """Every audit row of a weekly run is stamped from its own job:
    ``platform_dt`` rises in execution order (t4 after t2),
    ``job_run_id`` carries the row's own start second, and
    ``bat_req_tm`` is the job's elapsed time, not a constant (each
    mart/serving write is slowed past one second to show it)."""
    import time
    from datetime import timezone

    from data_engineering_spark.pipeline import daily

    def slowed(write):
        def run(*args, **kwargs):
            time.sleep(1.1)
            return write(*args, **kwargs)

        return run

    monkeypatch.setattr(daily, "partition_overwrite", slowed(daily.partition_overwrite))
    monkeypatch.setattr(daily, "truncate_and_load", slowed(daily.truncate_and_load))
    recs = daily.run_daily(spark, sf_dir, str(tmp_path / "wh"), "20240110", weekly=True)
    by_job = {r.job_nm: r for r in recs}
    assert by_job["t4.serving_index"].platform_dt > by_job["t2.cust_mart"].platform_dt
    assert [r.platform_dt for r in recs] == sorted(r.platform_dt for r in recs)
    for r in recs:
        start = int(r.platform_dt.replace(tzinfo=timezone.utc).timestamp())
        assert r.job_run_id == f"{r.job_nm}-{start}", r
    for job in ("t2.cust_mart", "t4.serving_index"):
        assert by_job[job].bat_req_tm != "0:00:00", by_job[job]
