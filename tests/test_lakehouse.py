"""Tests for the lakehouse layer (plans/lakeshim, plans/accelerator,
sources/copy_into, sources/list_files, dialect) — the S-family and R7/R9
surface from SURVEY.md §2.1/§4."""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from apache_iceberg_lakehouse_workshop_spark.dialect import run as dialect_run
from apache_iceberg_lakehouse_workshop_spark.dialect import translate, translate_datetime_format
from apache_iceberg_lakehouse_workshop_spark.plans import AcceleratorRegistry, Lakehouse
from apache_iceberg_lakehouse_workshop_spark.sources import copy_into, list_files


@pytest.fixture()
def lake(spark, tmp_path):
    return Lakehouse(spark, str(tmp_path / "warehouse"))


def _mk_orders(spark):
    return spark.createDataFrame(
        [
            Row(order_id=1, customer_id=10, amount=100.0, ts="2025-08-01 10:00:00"),
            Row(order_id=2, customer_id=11, amount=250.0, ts="2025-08-02 11:00:00"),
            Row(order_id=3, customer_id=10, amount=75.0, ts="2025-08-02 12:00:00"),
        ]
    ).withColumn("ts", F.col("ts").cast("timestamp"))


# ------------------------------------------------------------ lakeshim


def test_create_append_read(lake, spark):
    lake.create_namespace("db.raw")
    t = lake.create_table(
        "db.raw.orders",
        "order_id INT, customer_id INT, amount DOUBLE, ts TIMESTAMP",
        partition_by=["days(ts)"],
    )
    assert lake.table_exists("db.raw.orders")
    assert t.read().count() == 0  # declared schema => empty readable table

    s1 = t.append(_mk_orders(spark))
    assert s1 == 1
    assert t.read().count() == 3
    # hidden partition column not exposed
    assert t.read().columns == ["order_id", "customer_id", "amount", "ts"]


def test_snapshot_time_travel(lake, spark):
    t = lake.create_table("db.t", "order_id INT, customer_id INT, amount DOUBLE, ts TIMESTAMP")
    t.append(_mk_orders(spark))
    t.append(_mk_orders(spark).withColumn("order_id", F.col("order_id") + 10))
    assert t.read().count() == 6
    assert t.read(snapshot_id=1).count() == 3  # VERSION AS OF
    snaps = {r.snapshot_id: r.operation for r in t.snapshots().collect()}
    assert snaps == {1: "append", 2: "append"}
    hist = t.history().collect()
    assert [r.is_current for r in hist] == [False, True]
    # TIMESTAMP AS OF: at snapshot 1's commit time we see 3 rows
    ts1 = [r.committed_at_ms for r in t.snapshots().collect() if r.snapshot_id == 1][0]
    assert t.read(as_of_ms=ts1).count() == 3


def test_delete_where_cow(lake, spark):
    t = lake.create_table("db.d", "order_id INT, customer_id INT, amount DOUBLE, ts TIMESTAMP")
    t.append(_mk_orders(spark))
    t.delete_where("customer_id = 10")
    assert t.read().count() == 1
    assert t.read().first().order_id == 2
    # prior snapshot still readable (CoW)
    assert t.read(snapshot_id=1).count() == 3
    t.delete_where("true")
    assert t.read().count() == 0


def test_delete_where_null_predicate(lake, spark):
    """SQL DELETE removes only rows where the predicate is TRUE — rows where
    it evaluates to NULL (nullable column) must survive (Iceberg/Dremio
    DELETE semantics; logistics_AI.sql:60 shape on a nullable column)."""
    t = lake.create_table("db.dn", "order_id INT, channel STRING")
    t.append(
        spark.createDataFrame(
            [(1, "web"), (2, None), (3, "app")], "order_id INT, channel STRING"
        )
    )
    t.delete_where("channel = 'web'")
    # order 2 has channel NULL -> predicate NULL -> must NOT be deleted
    assert {r.order_id for r in t.read().collect()} == {2, 3}
    t.delete_where("channel IS NULL")
    assert {r.order_id for r in t.read().collect()} == {3}


def test_ctas_distribute_and_maintenance(lake, spark):
    df = _mk_orders(spark)
    t = lake.create_table_as("db.gold.orders_agg", df, distribute_by="customer_id")
    assert t.read().count() == 3
    t.append(df)
    t.append(df)
    n_files_before = t.files().count()
    t.compact(target_file_mb=128)
    assert t.read().count() == 9  # compaction preserves data
    removed = t.expire_snapshots(keep_last=1)
    assert removed > 0
    assert t.read().count() == 9
    assert t.files().count() <= n_files_before
    with pytest.raises(ValueError):
        t.read(snapshot_id=1)  # expired


def test_compact_sort_clusters_files(lake, spark):
    """sort-strategy rewrite: each output file owns a disjoint key range
    (file-level min/max pruning for range predicates)."""
    rows = [(i % 100, float(i)) for i in range(1000)]
    df = spark.createDataFrame(rows, "k INT, v DOUBLE").repartition(8)
    t = lake.create_table_as("db.sorted", df)
    t.compact(sort_by=["k"], n_files=4)
    files = [r.file_path for r in t.files().collect()]
    ranges = []
    for fp in files:
        r = spark.read.parquet(fp).agg(F.min("k"), F.max("k")).first()
        ranges.append((r[0], r[1]))
    ranges.sort()
    assert t.read().count() == 1000
    assert len(ranges) > 1
    # disjoint consecutive ranges -> file-level min/max pruning works
    assert all(ranges[i][1] <= ranges[i + 1][0] for i in range(len(ranges) - 1))


def test_partition_pruning_dirs(lake, spark, tmp_path):
    """days(ts) hidden partitioning physically lays out day directories —
    the structure object-store pruning needs at 100 TB."""
    t = lake.create_table(
        "db.part", "order_id INT, customer_id INT, amount DOUBLE, ts TIMESTAMP",
        partition_by=["days(ts)"],
    )
    t.append(_mk_orders(spark))
    data_root = os.path.join(t.path, "data")
    commit = os.listdir(data_root)[0]
    dirs = [d for d in os.listdir(os.path.join(data_root, commit)) if d.startswith("_p_days_ts=")]
    assert sorted(dirs) == ["_p_days_ts=2025-08-01", "_p_days_ts=2025-08-02"]


def test_bucket_truncate_transforms(lake, spark):
    """Iceberg bucket(N,col) / truncate(W,col) partition transforms —
    bucket clusters a high-cardinality key for co-located scans; truncate
    range-groups numerics/strings."""
    t = lake.create_table(
        "db.bt", "order_id INT, customer_id INT, amount DOUBLE, ts TIMESTAMP",
        partition_by=["bucket(4, customer_id)", "truncate(100, order_id)"],
    )
    t.append(_mk_orders(spark))
    assert t.read().count() == 3
    assert t.read().columns == ["order_id", "customer_id", "amount", "ts"]
    data_root = os.path.join(t.path, "data")
    commit = os.listdir(data_root)[0]
    buckets = [d for d in os.listdir(os.path.join(data_root, commit))
               if d.startswith("_p_bucket4_customer_id=")]
    assert buckets  # physical bucket dirs exist
    for b in buckets:
        sub = os.listdir(os.path.join(data_root, commit, b))
        assert any(s.startswith("_p_truncate100_order_id=0") for s in sub)


def test_drop_and_list(lake, spark):
    lake.create_namespace("ns1")
    lake.create_table_as("ns1.a", _mk_orders(spark))
    lake.create_table_as("ns1.b", _mk_orders(spark))
    assert lake.list_tables("ns1") == ["a", "b"]
    lake.drop_table("ns1.a")
    assert lake.list_tables("ns1") == ["b"]
    lake.drop_table("ns1.missing")  # IF EXISTS: no raise
    with pytest.raises(ValueError):
        lake.drop_table("ns1.missing", if_exists=False)


# --------------------------------------------------------- accelerator


def test_reflection_route_and_refresh(lake, spark):
    t = lake.create_table_as("db.raw.orders", _mk_orders(spark))
    acc = AcceleratorRegistry(lake)

    def spend_view():
        return (
            t.read().groupBy("customer_id").agg(F.sum("amount").alias("total_spend"))
        )

    acc.create_reflection("customer_spend", spend_view, ["db.raw.orders"])
    assert acc.is_fresh("customer_spend")
    # fresh: served from materialized storage (a plain file scan)
    plan = acc.resolve("customer_spend")._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan

    got = {r.customer_id: r.total_spend for r in acc.resolve("customer_spend").collect()}
    assert got == {10: 175.0, 11: 250.0}

    # anchor table advances -> stale -> recompute (correct, unaccelerated)
    t.append(_mk_orders(spark))
    assert not acc.is_fresh("customer_spend")
    got2 = {r.customer_id: r.total_spend for r in acc.resolve("customer_spend").collect()}
    assert got2 == {10: 350.0, 11: 500.0}

    acc.refresh("customer_spend")
    assert acc.is_fresh("customer_spend")
    assert {r.customer_id: r.total_spend for r in acc.resolve("customer_spend").collect()} == got2
    status = acc.status()
    assert status[0]["fresh"] is True
    acc.drop_reflection("customer_spend")
    assert acc.status() == []


def test_read_incremental(lake, spark):
    """Iceberg incremental scan: only rows appended after a snapshot;
    rewriting commits (delete/compact) invalidate the incremental path."""
    t = lake.create_table("db.inc", "order_id INT, customer_id INT, amount DOUBLE, ts TIMESTAMP")
    s1 = t.append(_mk_orders(spark))
    t.append(_mk_orders(spark).withColumn("order_id", F.col("order_id") + 10))
    s3 = t.append(_mk_orders(spark).withColumn("order_id", F.col("order_id") + 20))

    delta = t.read_incremental(s1)
    assert {r.order_id for r in delta.collect()} == {11, 12, 13, 21, 22, 23}
    assert t.read_incremental(s3).count() == 0  # nothing after current
    # bounded range
    assert {r.order_id for r in t.read_incremental(s1, to_snapshot_id=2).collect()} == {11, 12, 13}

    t.delete_where("order_id = 1")
    with pytest.raises(ValueError, match="non-append"):
        t.read_incremental(s1)


def test_refresh_incremental(lake, spark):
    t = lake.create_table_as("db.raw.inc_orders", _mk_orders(spark))
    acc = AcceleratorRegistry(lake)

    def view():
        return t.read().filter(F.col("amount") >= 100).select("order_id", "amount")

    def delta_view(delta):
        return delta.filter(F.col("amount") >= 100).select("order_id", "amount")

    acc.create_reflection("big_orders", view, ["db.raw.inc_orders"])
    t.append(_mk_orders(spark).withColumn("order_id", F.col("order_id") + 10))
    assert not acc.is_fresh("big_orders")

    assert acc.refresh_incremental("big_orders", delta_view) is True
    assert acc.is_fresh("big_orders")
    got = {r.order_id for r in acc.resolve("big_orders").collect()}
    assert got == {1, 2, 11, 12}  # amounts 100.0 and 250.0 from both batches
    # served from storage, not recomputed
    plan = acc.resolve("big_orders")._jdf.queryExecution().optimizedPlan().toString()
    assert "amount" in plan and "Filter" not in plan

    # non-append history -> incremental declines, full refresh still works
    t.delete_where("order_id = 1")
    assert acc.refresh_incremental("big_orders", delta_view) is False
    acc.refresh("big_orders")
    assert {r.order_id for r in acc.resolve("big_orders").collect()} == {2, 11, 12}


def test_rollback_and_run_script(lake, spark):
    t = lake.create_table_as("db.raw.rb_orders", _mk_orders(spark))
    t.append(_mk_orders(spark).withColumn("order_id", F.col("order_id") + 10))
    assert t.read().count() == 6
    t.rollback_to(1)
    assert t.read().count() == 3  # metadata-only revert
    assert [r.operation for r in t.snapshots().collect()][-1] == "rollback"
    assert t.read(snapshot_id=2).count() == 6  # rolled-over snapshot readable

    out = lake.run_script(
        """SELECT customer_id, SUM(amount) AS total, LISTAGG(DISTINCT customer_id, ',') AS ids
           FROM rb_orders GROUP BY customer_id"""
    )
    got = {r.customer_id: r.total for r in out.collect()}
    assert got == {10: 175.0, 11: 250.0}

    # metadata TVFs resolve through the dialect (readme.md:360-370 surface)
    snaps = lake.run_script("SELECT * FROM TABLE(table_snapshot('db.raw.rb_orders'))")
    assert [r.operation for r in snaps.collect()] == ["overwrite", "append", "rollback"]
    hist = lake.run_script("SELECT * FROM TABLE(table_history('db.raw.rb_orders'))")
    assert [r.is_current for r in hist.collect()] == [False, False, True]


def test_dialect_list_files_tvf(spark, tmp_path):
    from apache_iceberg_lakehouse_workshop_spark.dialect import run as dialect_run

    d = tmp_path / "pdfs"
    d.mkdir()
    (d / "a.pdf").write_bytes(b"%PDF-a")
    (d / "b.txt").write_bytes(b"text")
    out = dialect_run(
        spark,
        f"SELECT path, length FROM TABLE(LIST_FILES('{d}')) WHERE path LIKE '%.pdf'",
    )
    rows = out.collect()
    assert len(rows) == 1 and rows[0].path.endswith("a.pdf") and rows[0].length == 6


def test_merge_upsert(lake, spark):
    """MERGE INTO … WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT (Iceberg
    CoW upsert): matched keys replaced, new keys appended, one snapshot."""
    t = lake.create_table_as("db.m", _mk_orders(spark))
    src = spark.createDataFrame(
        [
            (2, 11, 999.0, "2025-08-03 09:00:00"),  # update order 2
            (9, 12, 50.0, "2025-08-03 10:00:00"),   # insert order 9
        ],
        "order_id INT, customer_id INT, amount DOUBLE, ts STRING",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    snap = t.merge(src, "order_id")
    got = {r.order_id: r.amount for r in t.read().collect()}
    assert got == {1: 100.0, 2: 999.0, 3: 75.0, 9: 50.0}
    assert [r.operation for r in t.snapshots().collect()][-1] == "merge"
    # pre-merge snapshot still readable
    assert {r.order_id for r in t.read(snapshot_id=snap - 1).collect()} == {1, 2, 3}


def test_schema_evolution(lake, spark):
    """Iceberg-style schema evolution (SURVEY §1.3): add/rename are
    metadata-only commits; old data files are never rewritten."""
    t = lake.create_table("db.ev", "order_id INT, amount DOUBLE")
    t.append(spark.createDataFrame([(1, 10.0), (2, 20.0)], "order_id INT, amount DOUBLE"))

    t.add_column("channel", "STRING")
    # pre-evolution rows surface the new column as NULL
    assert t.read().columns == ["order_id", "amount", "channel"]
    assert [r.channel for r in t.read().orderBy("order_id").collect()] == [None, None]
    # post-evolution appends carry it
    t.append(
        spark.createDataFrame([(3, 30.0, "web")], "order_id INT, amount DOUBLE, channel STRING")
    )
    got = {r.order_id: r.channel for r in t.read().collect()}
    assert got == {1: None, 2: None, 3: "web"}
    with pytest.raises(ValueError):
        t.add_column("channel", "STRING")

    # rename: old commits keep the old physical name, reads map it forward
    t.rename_column("amount", "amount_usd")
    assert t.read().columns == ["order_id", "amount_usd", "channel"]
    assert {r.order_id: r.amount_usd for r in t.read().collect()} == {1: 10.0, 2: 20.0, 3: 30.0}
    t.append(
        spark.createDataFrame(
            [(4, 40.0, "app")], "order_id INT, amount_usd DOUBLE, channel STRING"
        )
    )
    assert {r.order_id: r.amount_usd for r in t.read().collect()} == {
        1: 10.0, 2: 20.0, 3: 30.0, 4: 40.0,
    }


def test_sql_reflection_persists_across_registry_instances(lake, spark):
    """SQL-defined reflections survive a 'restart': a fresh
    AcceleratorRegistry over the same warehouse reloads definition, anchors
    and freshness from the registry file."""
    t = lake.create_table_as("db.raw.p_orders", _mk_orders(spark))
    t.read().createOrReplaceTempView("p_orders")
    acc1 = AcceleratorRegistry(lake)
    acc1.create_reflection(
        "p_spend",
        "SELECT customer_id, SUM(amount) AS total FROM p_orders GROUP BY customer_id",
        ["db.raw.p_orders"],
    )
    assert acc1.is_fresh("p_spend")

    acc2 = AcceleratorRegistry(lake)  # fresh instance = process restart
    assert acc2.is_fresh("p_spend")
    got = {r.customer_id: r.total for r in acc2.resolve("p_spend").collect()}
    assert got == {10: 175.0, 11: 250.0}

    # staleness propagates to the reloaded instance; refresh re-persists
    t.append(_mk_orders(spark))
    t.read().createOrReplaceTempView("p_orders")
    assert not acc2.is_fresh("p_spend")
    acc2.refresh("p_spend")
    acc3 = AcceleratorRegistry(lake)
    assert acc3.is_fresh("p_spend")
    assert {r.total for r in acc3.resolve("p_spend").collect()} == {350.0, 500.0}


def test_result_cache(lake, spark):
    t = lake.create_table_as("db.raw.o", _mk_orders(spark))
    t.read().createOrReplaceTempView("rc_orders")
    acc = AcceleratorRegistry(lake)
    sql = "SELECT customer_id, SUM(amount) AS total FROM rc_orders GROUP BY customer_id"

    first = {r.customer_id: r.total for r in acc.cached_sql(sql, ["db.raw.o"]).collect()}
    assert first == {10: 175.0, 11: 250.0}
    # hit: served from materialized storage, no Aggregate in the plan
    plan = acc.cached_sql(sql, ["db.raw.o"])._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan
    # anchor advances -> stale -> recomputed with fresh data (and re-cached)
    t.append(_mk_orders(spark))
    t.read().createOrReplaceTempView("rc_orders")
    second = {r.customer_id: r.total for r in acc.cached_sql(sql, ["db.raw.o"]).collect()}
    assert second == {10: 350.0, 11: 500.0}
    # different SQL -> different digest -> separate entry (dremio.sql:10-13)
    other = acc.cached_sql(sql + " HAVING SUM(amount) > 300", ["db.raw.o"])
    assert {r.customer_id for r in other.collect()} == {10, 11}
    assert len(acc.status()) == 2


def test_lakehouse_roundtrip_driver_data(lake, spark):
    """Storage-layer integration at real data volume: lineitem (sf0.001)
    into a hidden-day-partitioned lakehouse table; the flagship agg over the
    lakehouse read must equal the same agg over the raw parquet."""
    from apache_iceberg_lakehouse_workshop_spark.tables import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    t = lake.create_table(
        "tpch.raw.lineitem", li.schema, partition_by=["days(l_shipdate)"]
    )
    t.append(li)

    def summary(df):
        return sorted(
            map(
                tuple,
                df.groupBy("l_returnflag", "l_linestatus")
                .agg(
                    F.count("*").alias("n"),
                    F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("q"),
                )
                .collect(),
            )
        )

    assert summary(t.read()) == summary(li)
    # partition pruning: a one-day predicate reads a strict subset of files
    one_day = t.read().filter("l_shipdate = TIMESTAMP '1998-06-01 00:00:00'")
    assert one_day.count() == li.filter("l_shipdate = TIMESTAMP '1998-06-01 00:00:00'").count()


# ------------------------------------------------------------- sources


def test_copy_into_csv(lake, spark, tmp_path):
    src = tmp_path / "csvs"
    src.mkdir()
    (src / "file1.csv").write_text("patient_id,name,age\n1,Ann,40\n2,Bo,35\n")
    (src / "file2.csv").write_text("patient_id,name,age\n3,Cy,50\n")
    (src / "skip.txt").write_text("patient_id,name,age\n9,Zed,99\n")

    t = lake.create_table("health.raw.patients", "patient_id INT, name STRING, age INT, source STRING")
    copy_into(t, str(src), regex=r".*\.csv", file_format="csv")
    rows = {r.patient_id: (r.name, r.age, r.source) for r in t.read().collect()}
    # declared col missing from CSV -> NULL; .txt filtered by regex
    assert rows == {1: ("Ann", 40, None), 2: ("Bo", 35, None), 3: ("Cy", 50, None)}


def test_list_files(spark, tmp_path):
    d = tmp_path / "docs"
    d.mkdir()
    (d / "a.pdf").write_bytes(b"%PDF-fake-a")
    (d / "b.pdf").write_bytes(b"%PDF-fake-bb")
    (d / "c.txt").write_bytes(b"nope")
    df = list_files(spark, str(d), glob="*.pdf")
    got = {os.path.basename(r.path): (r.length, bytes(r.content)) for r in df.collect()}
    assert got == {"a.pdf": (11, b"%PDF-fake-a"), "b.pdf": (12, b"%PDF-fake-bb")}
    # listing-only: content column dropped before any byte IO
    assert "content" not in list_files(spark, str(d), with_content=False).columns


# ------------------------------------------------------------- dialect


def test_dialect_translate():
    assert translate_datetime_format("YYYY/MM/DD HH24:MI:SS") == "yyyy/MM/dd HH:mm:ss"
    assert translate('SELECT "value" FROM t') == "SELECT `value` FROM t"
    assert (
        translate("TO_TIMESTAMP(raw_ts, 'YYYY-MM-DD HH24:MI:SS', 1)")
        == "try_to_timestamp(raw_ts, 'yyyy-MM-dd HH:mm:ss')"
    )
    assert (
        translate("SELECT LISTAGG(DISTINCT tag, ', ') FROM t")
        == "SELECT array_join(collect_set(tag), ', ') FROM t"
    )
    assert translate("CREATE FOLDER IF NOT EXISTS a.b") == "CREATE NAMESPACE IF NOT EXISTS a.b"
    # string literals never rewritten
    assert translate("SELECT 'YYYY \"x\"' FROM t") == "SELECT 'YYYY \"x\"' FROM t"


def test_dialect_run_script(spark):
    df = dialect_run(
        spark,
        """
        CREATE OR REPLACE TEMP VIEW dlx AS
        SELECT * FROM VALUES ('2025/08/18 14:05:12'), ('oops') AS v(raw_ts);
        SELECT TO_TIMESTAMP(raw_ts, 'YYYY/MM/DD HH24:MI:SS', 1) AS ts FROM dlx
        """,
    )
    vals = [r.ts for r in df.collect()]
    assert vals[0] is not None and str(vals[0]).startswith("2025-08-18 14:05:12")
    assert vals[1] is None  # lenient on-error-null semantics


def test_partitions_metadata_table(spark, tmp_path):
    """t.partitions(): per-partition file/byte/row stats from parquet
    footers only, and the table_partitions/table_files TVFs from SQL."""
    from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse
    from apache_iceberg_lakehouse_workshop_spark.plans.script import ScriptRunner

    lake = Lakehouse(spark, str(tmp_path / "wh"))
    r = ScriptRunner(lake)
    r.run(
        """
        CREATE FOLDER IF NOT EXISTS dremio.demo;
        CREATE TABLE dremio.demo.pevents (region VARCHAR, v BIGINT) PARTITION BY (region);
        INSERT INTO dremio.demo.pevents VALUES
          ('east', 1), ('east', 2), ('east', 3), ('west', 4), ('west', 5);
        """
    )
    parts = {p.partition: p for p in lake.table("dremio.demo.pevents").partitions().collect()}
    assert len(parts) == 2
    east = next(v for k, v in parts.items() if "east" in k)
    west = next(v for k, v in parts.items() if "west" in k)
    assert east.n_rows == 3 and west.n_rows == 2
    assert east.n_files >= 1 and east.size_bytes > 0

    got = r.run(
        "SELECT partition, n_rows FROM TABLE(table_partitions('dremio.demo.pevents')) "
        "ORDER BY partition"
    ).collect()
    assert [g.n_rows for g in got] == [3, 2]
    nf = r.run(
        "SELECT COUNT(*) AS n FROM TABLE(table_files('dremio.demo.pevents'))"
    ).collect()[0].n
    assert nf == east.n_files + west.n_files

    # unpartitioned: single '' partition row
    r.run("CREATE TABLE dremio.demo.flat (x BIGINT); INSERT INTO dremio.demo.flat VALUES (1), (2)")
    flat = lake.table("dremio.demo.flat").partitions().collect()
    assert len(flat) == 1 and flat[0].partition == "" and flat[0].n_rows == 2


def test_time_travel_sql_at_snapshot_and_timestamp(spark, tmp_path):
    """Dremio inline time travel: FROM t AT SNAPSHOT '<id>' / AT TIMESTAMP
    '<ts>' resolves against the pinned snapshot, joinable with the current
    table in one statement."""
    from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse
    from apache_iceberg_lakehouse_workshop_spark.plans.script import ScriptRunner

    lake = Lakehouse(spark, str(tmp_path / "wh"))
    r = ScriptRunner(lake)
    r.run(
        """
        CREATE FOLDER IF NOT EXISTS dremio.demo;
        CREATE TABLE dremio.demo.tt (k BIGINT, v VARCHAR);
        INSERT INTO dremio.demo.tt VALUES (1, 'one'), (2, 'two');
        """
    )
    t = lake.table("dremio.demo.tt")
    first = t.snapshots().collect()[-1].snapshot_id
    ts_after_first = t.snapshots().collect()[-1].committed_at_ms + 1
    r.run("INSERT INTO dremio.demo.tt VALUES (3, 'three')")

    assert r.run("SELECT COUNT(*) AS n FROM dremio.demo.tt").collect()[0].n == 3
    old = r.run(
        f"SELECT COUNT(*) AS n FROM dremio.demo.tt AT SNAPSHOT '{first}'"
    ).collect()[0].n
    assert old == 2

    import datetime as dt

    iso = dt.datetime.fromtimestamp(
        ts_after_first / 1000, tz=dt.timezone.utc
    ).replace(tzinfo=None).isoformat(sep=" ", timespec="milliseconds")
    old_ts = r.run(
        f"SELECT COUNT(*) AS n FROM dremio.demo.tt AT TIMESTAMP '{iso}'"
    ).collect()[0].n
    assert old_ts == 2

    # current and pinned versions join in one statement
    diff = r.run(
        f"""SELECT cur.k FROM dremio.demo.tt cur
            LEFT JOIN dremio.demo.tt AT SNAPSHOT '{first}' old ON cur.k = old.k
            WHERE old.k IS NULL"""
    ).collect()
    assert [x.k for x in diff] == [3]


def test_vacuum_table_sql(spark, tmp_path):
    """VACUUM TABLE t EXPIRE SNAPSHOTS [RETAIN_LAST n] routes to snapshot
    expiry + orphan-dir removal; malformed VACUUM raises a dialect error."""
    import pytest as _pytest

    from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse
    from apache_iceberg_lakehouse_workshop_spark.plans.script import ScriptRunner

    lake = Lakehouse(spark, str(tmp_path / "wh"))
    r = ScriptRunner(lake)
    r.run(
        """
        CREATE FOLDER IF NOT EXISTS dremio.demo;
        CREATE TABLE dremio.demo.vt (x BIGINT);
        INSERT INTO dremio.demo.vt VALUES (1);
        INSERT INTO dremio.demo.vt VALUES (2);
        INSERT INTO dremio.demo.vt VALUES (3);
        """
    )
    t = lake.table("dremio.demo.vt")
    assert t.snapshots().count() == 3
    r.run("VACUUM TABLE dremio.demo.vt EXPIRE SNAPSHOTS RETAIN_LAST 2")
    assert t.snapshots().count() == 2
    assert t.read().count() == 3          # data intact, history trimmed
    r.run("VACUUM TABLE dremio.demo.vt EXPIRE SNAPSHOTS")
    assert t.snapshots().count() == 1
    with _pytest.raises(Exception, match="VACUUM"):
        r.run("VACUUM TABLE dremio.demo.vt PURGE EVERYTHING")


def test_tags_pin_versions_and_survive_expiry(spark, tmp_path):
    """Iceberg tag semantics: a named reference pins a snapshot, is
    readable via API and AT TAG SQL, and survives expire_snapshots —
    the durable 'this model trained on exactly this data' anchor."""
    import pytest as _pytest

    from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse
    from apache_iceberg_lakehouse_workshop_spark.plans.script import ScriptRunner

    lake = Lakehouse(spark, str(tmp_path / "wh"))
    r = ScriptRunner(lake)
    r.run(
        """
        CREATE FOLDER IF NOT EXISTS dremio.demo;
        CREATE TABLE dremio.demo.tg (x BIGINT);
        INSERT INTO dremio.demo.tg VALUES (1), (2);
        ALTER TABLE dremio.demo.tg CREATE TAG v1;
        INSERT INTO dremio.demo.tg VALUES (3);
        INSERT INTO dremio.demo.tg VALUES (4);
        """
    )
    t = lake.table("dremio.demo.tg")
    assert t.read().count() == 4
    assert t.read_tag("v1").count() == 2
    assert r.run(
        "SELECT COUNT(*) AS n FROM dremio.demo.tg AT TAG 'v1'"
    ).collect()[0].n == 2

    # expiry keeps the tagged snapshot even though RETAIN_LAST 1 would drop it
    r.run("VACUUM TABLE dremio.demo.tg EXPIRE SNAPSHOTS RETAIN_LAST 1")
    assert t.read_tag("v1").count() == 2
    assert t.read().count() == 4
    assert set(t.tags()) == {"v1"}

    with _pytest.raises(ValueError, match="already exists"):
        t.create_tag("v1")
    r.run("ALTER TABLE dremio.demo.tg DROP TAG v1")
    assert t.tags() == {}
    with _pytest.raises(ValueError, match="unknown tag"):
        t.read_tag("v1")


def test_write_audit_publish_branch(spark, tmp_path):
    """The Iceberg WAP workflow: stage commits on a branch (main readers
    never see them), audit the branch read, publish = atomic metadata-only
    fast-forward; a diverged main refuses the fast-forward."""
    import pytest as _pytest

    from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse

    lake = Lakehouse(spark, str(tmp_path / "wh"))
    lake.create_namespace("db.w")
    t = lake.create_table("db.w.orders", "k BIGINT, amount DOUBLE")
    t.append(spark.createDataFrame([(1, 10.0), (2, 20.0)], "k BIGINT, amount DOUBLE"))

    t.create_branch("staging")
    t.append_to_branch(
        "staging",
        spark.createDataFrame([(3, 30.0), (4, -1.0)], "k BIGINT, amount DOUBLE"),
    )
    # write: branch sees staged rows, main does not
    assert t.read().count() == 2
    assert t.read_branch("staging").count() == 4

    # audit: a quality gate over the branch read finds the bad row; fix it
    # with another branch commit before publishing
    bad = t.read_branch("staging").filter("amount < 0").count()
    assert bad == 1
    t.append_to_branch(
        "staging", spark.createDataFrame([(4, 40.0)], "k BIGINT, amount DOUBLE")
    )

    # publish: atomic fast-forward; main now serves everything
    t.publish_branch("staging")
    assert t.read().count() == 5

    # expiry retains the branch head even at RETAIN_LAST 1
    t.create_branch("next")
    t.append_to_branch("next", spark.createDataFrame([(9, 9.0)], "k BIGINT, amount DOUBLE"))
    t.append(spark.createDataFrame([(5, 50.0)], "k BIGINT, amount DOUBLE"))
    t.expire_snapshots(keep_last=1)
    assert t.read_branch("next").count() == 6   # 5 published + 1 staged

    # main advanced past 'next''s branch point -> fast-forward must refuse
    with _pytest.raises(ValueError, match="fast-forward"):
        t.publish_branch("next")
    t.drop_branch("next")
    with _pytest.raises(ValueError, match="unknown branch"):
        t.read_branch("next")


def test_branch_sql_surface(spark, tmp_path):
    """CREATE/DROP BRANCH statements and AT BRANCH reads through the
    script runner — the SQL face of the WAP workflow."""
    from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse
    from apache_iceberg_lakehouse_workshop_spark.plans.script import ScriptRunner

    lake = Lakehouse(spark, str(tmp_path / "wh"))
    r = ScriptRunner(lake)
    r.run(
        """
        CREATE FOLDER IF NOT EXISTS dremio.demo;
        CREATE TABLE dremio.demo.br (x BIGINT);
        INSERT INTO dremio.demo.br VALUES (1), (2);
        ALTER TABLE dremio.demo.br CREATE BRANCH staging;
        """
    )
    t = lake.table("dremio.demo.br")
    t.append_to_branch("staging", spark.createDataFrame([(3,)], "x BIGINT"))
    assert r.run("SELECT COUNT(*) AS n FROM dremio.demo.br").collect()[0].n == 2
    assert r.run(
        "SELECT COUNT(*) AS n FROM dremio.demo.br AT BRANCH 'staging'"
    ).collect()[0].n == 3
    t.publish_branch("staging")
    assert r.run("SELECT COUNT(*) AS n FROM dremio.demo.br").collect()[0].n == 3
    r.run("ALTER TABLE dremio.demo.br DROP BRANCH staging")
    assert t.branches() == {}


def test_publish_branch_survives_vacuum_between_stage_and_publish(spark, tmp_path):
    """Routine maintenance must not break WAP: expire_snapshots between
    staging and publish drops intermediate branch snapshots (breaking the
    parent-id chain), but the branch head is still a true descendant of
    main — publish fast-forwards via the commit-dir superset proof."""
    from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse

    lake = Lakehouse(spark, str(tmp_path / "wh"))
    lake.create_namespace("db.w")
    t = lake.create_table("db.w.ev", "k BIGINT, v DOUBLE")
    t.append(spark.createDataFrame([(1, 1.0)], "k BIGINT, v DOUBLE"))  # main@base

    t.create_branch("staging")
    t.append_to_branch("staging", spark.createDataFrame([(2, 2.0)], "k BIGINT, v DOUBLE"))
    t.append_to_branch("staging", spark.createDataFrame([(3, 3.0)], "k BIGINT, v DOUBLE"))

    # VACUUM between staging and publish: keeps main's current + the branch
    # HEAD, drops the intermediate branch snapshot -> parent chain broken
    t.expire_snapshots(keep_last=1)
    kept = {s.snapshot_id for s in t.snapshots().collect()}
    assert len(kept) == 2  # main current + branch head only

    t.publish_branch("staging")  # must NOT spuriously refuse
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 3]

    # a genuinely diverged main still refuses after expiry
    t.create_branch("b2")
    t.append_to_branch("b2", spark.createDataFrame([(7, 7.0)], "k BIGINT, v DOUBLE"))
    t.append(spark.createDataFrame([(9, 9.0)], "k BIGINT, v DOUBLE"))  # main diverges
    t.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="fast-forward"):
        t.publish_branch("b2")


def test_at_timestamp_literal_with_explicit_offset(spark, tmp_path):
    """An AT TIMESTAMP literal carrying an explicit UTC offset names an
    instant; the rewrite must convert (astimezone), not overwrite the
    offset with UTC. A '-05:00' literal whose naive part is BEFORE the
    commit but whose true instant is AFTER it must see the data."""
    import datetime as dt

    from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse
    from apache_iceberg_lakehouse_workshop_spark.plans.script import ScriptRunner

    lake = Lakehouse(spark, str(tmp_path / "wh"))
    r = ScriptRunner(lake)
    r.run(
        """
        CREATE FOLDER IF NOT EXISTS dremio.demo;
        CREATE TABLE dremio.demo.ttz (k BIGINT);
        INSERT INTO dremio.demo.ttz VALUES (1), (2);
        """
    )
    commit_ms = lake.table("dremio.demo.ttz").snapshots().collect()[-1].committed_at_ms
    # naive part = commit - 1h (before the commit), offset -05:00 => true
    # instant = commit + 4h (after the commit). The old replace(tzinfo=utc)
    # read this as commit - 1h and found no snapshot.
    naive = dt.datetime.fromtimestamp(commit_ms / 1000, tz=dt.timezone.utc).replace(
        tzinfo=None
    ) - dt.timedelta(hours=1)
    lit = naive.isoformat(timespec="milliseconds") + "-05:00"
    n = r.run(
        f"SELECT COUNT(*) AS n FROM dremio.demo.ttz AT TIMESTAMP '{lit}'"
    ).collect()[0].n
    assert n == 2
    # and an offset literal whose true instant predates every snapshot fails
    early = (
        dt.datetime.fromtimestamp(commit_ms / 1000, tz=dt.timezone.utc).replace(tzinfo=None)
        - dt.timedelta(hours=1)
    ).isoformat(timespec="milliseconds") + "+05:00"  # true instant = commit - 6h
    with pytest.raises(ValueError, match="no snapshot"):
        r.run(f"SELECT COUNT(*) AS n FROM dremio.demo.ttz AT TIMESTAMP '{early}'")


def test_file_level_minmax_data_skipping(lake, spark):
    """read(where=...) prunes whole data files via each commit's
    _stats.json footer-stat manifest (Iceberg manifest min/max skipping):
    a selective predicate plans strictly fewer input files, with results
    identical to read().filter(...)."""
    t = lake.create_table("db.skip", "k BIGINT, v STRING")
    # three commits with disjoint key ranges, several files each
    for lo in (0, 1000, 2000):
        # v carries a per-commit prefix so string ranges are lexicographically
        # disjoint across commits (v0..v99 would CONTAIN v1042)
        df = spark.range(lo, lo + 100).selectExpr(
            "id AS k", f"concat('c{lo // 1000}_', id) AS v"
        ).repartition(4)
        t.append(df)

    full_files = set(t.read().inputFiles())
    assert len(full_files) == 12

    pruned = t.read(where="k >= 2010 AND k < 2050")
    pruned_files = set(pruned.inputFiles())
    assert pruned_files < full_files
    assert len(pruned_files) <= 4, "only the third commit's files may survive"
    want = sorted(
        (r.k, r.v)
        for r in t.read().filter("k >= 2010 AND k < 2050").collect()
    )
    assert sorted((r.k, r.v) for r in pruned.collect()) == want and len(want) == 40

    # string equality prunes too
    sp = t.read(where="v = 'c1_1042'")
    assert len(set(sp.inputFiles())) <= 4
    assert [r.k for r in sp.collect()] == [1042]

    # a predicate no file can satisfy -> zero files, empty result, schema kept
    none = t.read(where="k = 999999")
    assert none.count() == 0 and none.columns == ["k", "v"]

    # unparseable predicates skip pruning but still filter
    odd = t.read(where="k % 1000 = 7")
    assert sorted(r.k for r in odd.collect()) == [7, 1007, 2007]

    # NULL semantics: all-NULL files are provably skippable
    t2 = lake.create_table("db.skipnull", "k BIGINT, v STRING")
    t2.append(spark.createDataFrame([(None, "a"), (None, "b")], "k BIGINT, v STRING"))
    t2.append(spark.createDataFrame([(5, "c")], "k BIGINT, v STRING"))
    got = t2.read(where="k > 0")
    assert [r.v for r in got.collect()] == ["c"]
    assert len(set(got.inputFiles())) == 1


def test_zorder_compaction_clusters_both_dimensions(lake, spark):
    """compact(zorder_by=[x,y]) must give every output file tight ranges on
    BOTH columns, so file skipping prunes point probes on either dimension;
    a hierarchical sort only helps its leading column."""
    t = lake.create_table("db.z", "x BIGINT, y BIGINT, payload STRING")
    grid = spark.range(64 * 64).selectExpr(
        "id % 64 AS x", "CAST(id / 64 AS BIGINT) AS y", "uuid() AS payload"
    )
    t.append(grid.repartition(8))

    t.compact(sort_by=["x", "y"], n_files=16)
    x_sorted = len(set(t.read(where="x = 7").inputFiles()))
    y_sorted = len(set(t.read(where="y = 7").inputFiles()))
    assert x_sorted <= 2           # leading sort column prunes hard
    assert y_sorted >= 8           # trailing column barely prunes

    t.compact(zorder_by=["x", "y"], n_files=16)
    x_z = len(set(t.read(where="x = 7").inputFiles()))
    y_z = len(set(t.read(where="y = 7").inputFiles()))
    assert x_z <= 8 and y_z <= 8, f"z-order must bound both dims ({x_z}, {y_z})"
    assert t.read().count() == 64 * 64
    assert t.read(where="x = 7 AND y = 7").count() == 1

    # strings are now zorderable (7-byte prefix code); only types with no
    # linear code (array/map/struct/binary) are rejected
    ta = lake.create_table("db.zarr", "x BIGINT, tags ARRAY<STRING>")
    ta.append(spark.createDataFrame([(1, ["a"])], "x BIGINT, tags ARRAY<STRING>"))
    with pytest.raises(ValueError, match="zorder"):
        ta.compact(zorder_by=["tags"])


def test_zorder_with_string_dimension(lake, spark):
    """Round-6 task #9: Z-order accepts STRING columns via a 7-byte-prefix
    big-endian code, so mixed numeric+string clustering prunes point
    probes on BOTH dimensions (lexicographic-prefix caveat documented)."""
    t = lake.create_table("db.zs", "x BIGINT, city STRING, payload STRING")
    cities = [f"city_{chr(ord('a') + i)}" for i in range(26)]
    rows = [
        (xi, cities[ci], f"p{xi}_{ci}") for xi in range(64) for ci in range(26)
    ]
    t.append(
        spark.createDataFrame(rows, "x BIGINT, city STRING, payload STRING")
        .repartition(8)
    )
    # hierarchical-sort baseline: trailing string column barely prunes
    t.compact(sort_by=["x", "city"], n_files=16)
    c_sorted = len(set(t.read(where="city = 'city_q'").inputFiles()))
    assert c_sorted >= 12

    t.compact(zorder_by=["x", "city"], n_files=16)
    x_files = len(set(t.read(where="x = 7").inputFiles()))
    c_files = len(set(t.read(where="city = 'city_q'").inputFiles()))
    assert x_files <= 8 and c_files <= 8 and c_files < c_sorted, (
        f"z-order must bound numeric AND string dims ({x_files}, {c_files})"
    )
    assert t.read().count() == 64 * 26
    got = t.read(where="x = 7 AND city = 'city_q'").collect()
    assert len(got) == 1 and got[0].x == 7 and got[0].city == "city_q"


def test_partition_scoped_optimize(lake, spark):
    """compact(where=...) rewrites ONLY matching rows; untouched rows stay
    in their existing files via snapshot exclusion filters; results and
    counts are identical before/after; subsequent appends/reads compose."""
    t = lake.create_table(
        "db.po", "region STRING, k BIGINT", partition_by=["region"]
    )
    for r in ("east", "west"):
        for chunk in range(3):   # many small files in both partitions
            t.append(
                spark.createDataFrame(
                    [(r, chunk * 10 + i) for i in range(10)], "region STRING, k BIGINT"
                ).repartition(2)
            )
    before = sorted((r.region, r.k) for r in t.read().collect())
    files_before = set(t.read().inputFiles())

    t.compact(where="region = 'east'", n_files=1)
    after = sorted((r.region, r.k) for r in t.read().collect())
    assert after == before
    east_files = set(t.read(where="region = 'east'").inputFiles())
    assert len(east_files) == 1, "east rows must now live in ONE compacted file"
    # west rows still served from the original files
    west_files = set(t.read(where="region = 'west'").inputFiles())
    assert west_files <= files_before

    # appends after a scoped compact keep the exclusion filters
    t.append(spark.createDataFrame([("east", 999)], "region STRING, k BIGINT"))
    got = sorted(r.k for r in t.read(where="region = 'east'").collect())
    assert got == sorted(list(range(30)) + [999])
    assert t.read().count() == 61

    # a later full compact folds everything clean again
    t.compact(n_files=2)
    assert t.read().count() == 61
    assert sorted((r.region, r.k) for r in t.read().collect()) == sorted(
        before + [("east", 999)]
    )


def test_partition_evolution(lake, spark):
    """ALTER TABLE ADD PARTITION FIELD: old snapshots stay readable, new
    writes land in the new layout, pruning works on both generations."""
    from apache_iceberg_lakehouse_workshop_spark.plans.script import ScriptRunner

    r = ScriptRunner(lake)
    r.run(
        """
        CREATE FOLDER IF NOT EXISTS db;
        CREATE TABLE db.ev (ts TIMESTAMP, v BIGINT);
        INSERT INTO db.ev VALUES
          (TIMESTAMP '2025-08-01 10:00:00', 1), (TIMESTAMP '2025-08-02 10:00:00', 2);
        """
    )
    t = lake.table("db.ev")
    assert t.partition_spec() == []
    pre_files = set(t.read().inputFiles())

    r.run("ALTER TABLE db.ev ADD PARTITION FIELD DAY(ts)")
    assert t.partition_spec() == ["days(ts)"]
    r.run(
        "INSERT INTO db.ev VALUES "
        "(TIMESTAMP '2025-08-03 10:00:00', 3), (TIMESTAMP '2025-08-04 10:00:00', 4)"
    )
    # new commit landed in hidden-partition day dirs; old files untouched
    new_files = set(t.read().inputFiles()) - pre_files
    assert new_files and all("_p_days_ts=" in f for f in new_files)
    assert pre_files <= set(t.read().inputFiles())

    # whole table reads fine across both layouts; old snapshot readable
    assert sorted(x.v for x in t.read().collect()) == [1, 2, 3, 4]
    assert sorted(x.v for x in t.read(snapshot_id=1).collect()) == [1, 2]

    # dropping the field affects only future writes
    r.run("ALTER TABLE db.ev DROP PARTITION FIELD DAY(ts)")
    assert t.partition_spec() == []
    r.run("INSERT INTO db.ev VALUES (TIMESTAMP '2025-08-05 10:00:00', 5)")
    assert sorted(x.v for x in t.read().collect()) == [1, 2, 3, 4, 5]

    with pytest.raises(ValueError, match="unknown column"):
        t.add_partition_field("days(nope)")


def test_optimize_sql_routes(lake, spark):
    """OPTIMIZE TABLE's extended surface routes: FOR PARTITIONS scope,
    TARGET_FILE_SIZE_MB, SORT BY, CLUSTER BY; plain OPTIMIZE still runs
    maintain(); REWRITE MANIFESTS stays a typed dialect error."""
    from apache_iceberg_lakehouse_workshop_spark.plans.script import (
        ScriptRunner,
        UnsupportedStatementError,
    )

    r = ScriptRunner(lake)
    r.run(
        """
        CREATE FOLDER IF NOT EXISTS db;
        CREATE TABLE db.opt (region STRING, x BIGINT, y BIGINT);
        """
    )
    t = lake.table("db.opt")
    for i in range(4):
        t.append(
            spark.createDataFrame(
                [("east", i, 10 - i), ("west", i + 100, i)], "region STRING, x BIGINT, y BIGINT"
            )
        )
    before = sorted((a.region, a.x, a.y) for a in t.read().collect())

    r.run("OPTIMIZE TABLE db.opt REWRITE DATA FOR PARTITIONS region = 'east'")
    assert sorted((a.region, a.x, a.y) for a in t.read().collect()) == before
    assert len(set(t.read(where="region = 'east'").inputFiles())) == 1

    r.run("OPTIMIZE TABLE db.opt SORT BY (x)")
    assert sorted((a.region, a.x, a.y) for a in t.read().collect()) == before

    r.run("OPTIMIZE TABLE db.opt CLUSTER BY (x, y)")
    assert sorted((a.region, a.x, a.y) for a in t.read().collect()) == before

    r.run("OPTIMIZE TABLE db.opt")
    assert sorted((a.region, a.x, a.y) for a in t.read().collect()) == before

    with pytest.raises(UnsupportedStatementError):
        r.run("OPTIMIZE TABLE db.opt REWRITE MANIFESTS")


def test_numeric_literal_on_string_column_never_misprunes(lake, spark):
    """ADVICE r5 (high): footer string min/max ranges are LEXICOGRAPHIC
    (min='10' > max='9' numerically); coercing them to float pruned files
    that do match. A numeric literal against a genuine string RANGE must
    never prune; a degenerate [v, v] partition-dir range still prunes
    numerically (single value, same cast semantics as the row filter)."""
    t = lake.create_table("db.strnum", "code STRING, v BIGINT")
    t.append(
        spark.createDataFrame([("9", 1), ("10", 2)], "code STRING, v BIGINT").coalesce(1)
    )
    got = t.read(where="code = 9")
    assert [r.v for r in got.collect()] == [1]
    assert len(set(got.inputFiles())) == 1  # file NOT pruned away
    # and the same shape survives a scoped compact without losing rows
    t.compact(where="code = 9", n_files=1)
    assert sorted(r.v for r in t.read().collect()) == [1, 2]

    # degenerate partition-dir string stats still prune numeric probes
    tp = lake.create_table("db.strnump", "k BIGINT, v STRING", partition_by=["k"])
    tp.append(spark.createDataFrame([(5, "a"), (9, "b")], "k BIGINT, v STRING"))
    hit = tp.read(where="k = 9")
    assert [r.v for r in hit.collect()] == ["b"]
    assert len(set(hit.inputFiles())) == 1, "k=5 dir must be pruned"


def test_scoped_optimize_filter_survives_schema_evolution(lake, spark):
    """ADVICE r5 (high): a compact(where=...) predicate naming a column
    ADDED after older commits must not make the table unreadable
    (UNRESOLVED_COLUMN on pre-evolution dirs) — the exclusion filter is
    applied against the declared schema with typed NULLs."""
    t = lake.create_table("db.poevo", "k BIGINT")
    t.append(spark.range(5).selectExpr("id AS k"))
    t.add_column("tag", "STRING")
    t.append(spark.range(5, 8).selectExpr("id AS k", "'new' AS tag"))
    t.compact(where="tag = 'new'", n_files=1)
    rows = sorted((r.k, r.tag) for r in t.read().collect())
    assert rows == [(0, None), (1, None), (2, None), (3, None), (4, None),
                    (5, "new"), (6, "new"), (7, "new")]
    # renamed column in the filter resolves on pre-rename dirs too
    t.rename_column("tag", "label")
    t.append(spark.createDataFrame([(8, "new")], "k BIGINT, label STRING"))
    t.compact(where="label = 'new'", n_files=1)
    assert sorted(r.k for r in t.read().filter("label = 'new'").collect()) == [5, 6, 7, 8]
    assert t.read().count() == 9


def test_rename_substitution_leaves_string_literals_alone(lake, spark):
    """ADVICE r5 (medium): after RENAME price->cost, a predicate literal
    'price' (e.g. WHERE name = 'price') must not be rewritten to 'cost'
    for the stats lookup — that pruned the wrong files."""
    t = lake.create_table("db.ren", "name STRING, price BIGINT")
    t.append(
        spark.createDataFrame(
            [("price", 1), ("other", 2)], "name STRING, price BIGINT"
        ).coalesce(1)
    )
    t.rename_column("price", "cost")
    got = t.read(where="name = 'price'")
    assert [r.cost for r in got.collect()] == [1]
    # column reference outside literals still resolves to the physical name
    assert [r.name for r in t.read(where="cost = 2").collect()] == ["other"]


def test_publish_cannot_override_intervening_rollback(spark, tmp_path):
    """ADVICE r5 (low): rollback() reuses old commit dirs, so a branch
    head's dirs can superset a rolled-back main WITHOUT descending from
    it; publish after expiry must refuse rather than silently un-rollback."""
    from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse

    lake = Lakehouse(spark, str(tmp_path / "wh"))
    t = lake.create_table("db.rb", "k BIGINT")
    s1 = t.append(spark.createDataFrame([(1,)], "k BIGINT"))
    t.append(spark.createDataFrame([(2,)], "k BIGINT"))
    t.create_branch("staging")
    t.append_to_branch("staging", spark.createDataFrame([(3,)], "k BIGINT"))
    t.rollback_to(s1)  # main explicitly un-did k=2
    t.expire_snapshots(keep_last=1)  # breaks the branch parent chain
    with pytest.raises(ValueError, match="fast-forward"):
        t.publish_branch("staging")
    assert sorted(r.k for r in t.read().collect()) == [1]


def test_bucket_partition_equality_pruning(lake, spark):
    """Round-9: Iceberg bucket-transform partition pruning. Under a hash
    layout every file's footer min/max spans ~the whole key range, so
    equality predicates can never prune via stats — the read side instead
    derives the hidden _p_bucket conjunct from the predicate (literal
    hashed BY SPARK with the column's declared type, matching the write
    side exactly) and drops every other bucket's files (~1/N)."""
    t = lake.create_table(
        "db.buck", "k BIGINT, v STRING", partition_by=["bucket(8, k)"]
    )
    t.append(spark.range(0, 4000).selectExpr("id AS k", "concat('v', id) AS v"))
    full = set(t.read().inputFiles())
    assert len(full) >= 8

    got = t.read(where="k = 1234")
    assert len(set(got.inputFiles())) <= len(full) // 4  # ~1/8 kept
    assert [(r.k, r.v) for r in got.collect()] == [(1234, "v1234")]

    # IN derives the union of the members' buckets
    got2 = t.read(where="k IN (7, 1234, 3999)")
    assert len(set(got2.inputFiles())) < len(full)
    assert sorted(r.k for r in got2.collect()) == [7, 1234, 3999]

    # a string literal still prunes soundly: it is cast to the column's
    # declared type BEFORE hashing (matching Spark's row-side promotion)
    got3 = t.read(where="k = '1234'")
    assert len(set(got3.inputFiles())) <= len(full) // 4
    assert [r.k for r in got3.collect()] == [1234]

    # non-equality shapes derive nothing and stay exact
    assert t.read(where="k >= 0").count() == 4000
    assert t.read(where="k = 99999").count() == 0


def test_bucket_pruning_string_column_numeric_literal_is_sound(lake, spark):
    """ADVICE r9 (low): a NUMERIC literal against a DECLARED-string bucket
    column must not derive a bucket — Spark's row filter compares
    numerically (row '05' matches k = 5) but hash('5') ≠ hash('05'), so
    deriving from the stringified literal would wrongly prune the files
    holding '05'. Pruning is an optimization; rows must never go missing."""
    t = lake.create_table(
        "db.buckstr", "k STRING, v BIGINT", partition_by=["bucket(8, k)"]
    )
    t.append(
        spark.createDataFrame(
            [("5", 1), ("05", 2), ("7", 3)], "k STRING, v BIGINT"
        )
    )
    # numeric literal: no bucket derivation — both '5' and '05' survive
    assert sorted(r.v for r in t.read(where="k = 5").collect()) == [1, 2]
    # string literal against the string column: exact-type, derives + prunes
    got = t.read(where="k = '5'")
    assert [r.v for r in got.collect()] == [1]


def test_truncate_partition_pruning(lake, spark):
    """Round-10 (r9 'What's missing #1'): pruning on truncate(W, col)
    layouts. Unlike bucket's hash layout, a truncate layout gives every
    file a TIGHT min/max on the raw column (each file holds one truncate
    group), so equality / IN / range predicates already prune through the
    ordinary footer-stats pass — no hidden conjunct needed. The one shape
    footer ranges could not serve was the signature query of a string
    truncate layout, prefix search: LIKE 'p%' now derives a prefix
    conjunct (match set is the contiguous range [p, p+∞)), pruning to
    ~1/N files on ANY prefix-clustered layout."""
    t = lake.create_table(
        "db.trunc", "k BIGINT, v STRING", partition_by=["truncate(1000, k)"]
    )
    t.append(spark.range(0, 8000).selectExpr("id AS k", "concat('v', id) AS v"))
    full = set(t.read().inputFiles())
    assert len(full) >= 8
    got = t.read(where="k = 1234")
    assert len(set(got.inputFiles())) <= len(full) // 4
    assert [(r.k, r.v) for r in got.collect()] == [(1234, "v1234")]
    got2 = t.read(where="k BETWEEN 2100 AND 2300")
    assert len(set(got2.inputFiles())) <= len(full) // 4
    assert got2.count() == 201
    got3 = t.read(where="k IN (5, 7500)")
    assert len(set(got3.inputFiles())) <= len(full) // 2
    assert sorted(r.k for r in got3.collect()) == [5, 7500]

    # string truncate layout: prefix LIKE prunes, other LIKEs stay exact
    ts = lake.create_table(
        "db.truncs", "s STRING, v BIGINT", partition_by=["truncate(2, s)"]
    )
    rows = [
        (f"{c1}{c2}tail{i}", i)
        for i, (c1, c2) in enumerate((a, b) for a in "abcdefgh" for b in "xy")
    ]
    ts.append(spark.createDataFrame(rows, "s STRING, v BIGINT"))
    fulls = set(ts.read().inputFiles())
    assert len(fulls) >= 16
    pf = ts.read(where="s LIKE 'cx%'")
    assert len(set(pf.inputFiles())) <= 2
    assert [r.s for r in pf.collect()] == ["cxtail4"]
    # wildcard-bearing prefixes derive nothing and stay exact
    assert ts.read(where="s LIKE '%tail%'").count() == 16
    assert ts.read(where="s LIKE 'c_tail%'").count() == 2
    # LIKE on a numeric column (string-cast semantics): never pruned,
    # always exact
    assert t.read(where="k LIKE '39%'").count() == 111
    # backslash in the pattern: Spark's LIKE treats \ as its escape char
    # (the literal prefix differs from the raw pattern characters), so no
    # prefix conjunct may be derived — rows must stay exact, files intact
    tbs = lake.create_table("db.truncbs", "s STRING, v BIGINT",
                            partition_by=["truncate(2, s)"])
    tbs.append(spark.createDataFrame(
        [("a_tail", 1), (r"a\tail", 2), ("axtail", 3)], "s STRING, v BIGINT"))
    esc = tbs.read(where=r"s LIKE 'a\_%'")  # \_ = literal underscore
    assert len(set(esc.inputFiles())) == len(set(tbs.read().inputFiles()))
    assert [r.v for r in esc.collect()] == [1]


def test_data_skipping_in_and_between(lake, spark):
    """Round-6 task #4: ``col IN (...)`` prunes files when EVERY list
    member is outside [min,max]; ``col BETWEEN a AND b`` prunes when the
    ranges don't intersect — with results identical to the row filter."""
    t = lake.create_table("db.skipin", "k BIGINT, v STRING")
    for lo in (0, 1000, 2000):
        t.append(
            spark.range(lo, lo + 100).selectExpr(
                "id AS k", f"concat('c{lo // 1000}_', id) AS v"
            ).repartition(4)
        )
    full_files = set(t.read().inputFiles())
    assert len(full_files) == 12

    # IN: both members inside the third commit's range
    got = t.read(where="k IN (2010, 2042)")
    assert len(set(got.inputFiles())) <= 4
    assert sorted(r.k for r in got.collect()) == [2010, 2042]
    # IN with members spanning two commits keeps both, prunes the third
    got2 = t.read(where="k IN (5, 1099)")
    assert len(set(got2.inputFiles())) <= 8
    assert sorted(r.k for r in got2.collect()) == [5, 1099]
    # IN where every member misses -> zero files, schema kept
    none = t.read(where="k IN (500, 700)")
    assert none.count() == 0 and none.columns == ["k", "v"]

    # BETWEEN intersecting only the second commit
    got3 = t.read(where="k BETWEEN 1040 AND 1060")
    assert len(set(got3.inputFiles())) <= 4
    assert sorted(r.k for r in got3.collect()) == list(range(1040, 1061))
    # BETWEEN disjoint from every file
    assert t.read(where="k BETWEEN 300 AND 900").count() == 0
    # BETWEEN composed with a plain conjunct (BETWEEN's AND not split)
    got4 = t.read(where="k BETWEEN 1040 AND 1060 AND v = 'c1_1042'")
    assert len(set(got4.inputFiles())) <= 4
    assert [r.k for r in got4.collect()] == [1042]
    # string IN prunes across commit string ranges
    got5 = t.read(where="v IN ('c0_55', 'c2_2055')")
    assert len(set(got5.inputFiles())) <= 8
    assert sorted(r.k for r in got5.collect()) == [55, 2055]
    # NOT IN / NOT BETWEEN are not prunable but stay correct
    assert t.read(where="k NOT BETWEEN 0 AND 1999").count() == 100
    assert t.read(where="k NOT IN (2010)").count() == 299

    # OR of same-column point predicates prunes exactly like IN
    got6 = t.read(where="(k = 5 OR k = 1099)")
    assert len(set(got6.inputFiles())) <= 8
    assert sorted(r.k for r in got6.collect()) == [5, 1099]
    assert t.read(where="k = 300 OR k = 700").count() == 0
    # mixed-column OR is not prunable but stays correct
    mixed = t.read(where="k = 5 OR v = 'c2_2055'")
    assert sorted(r.k for r in mixed.collect()) == [5, 2055]
    # OR containing a non-point predicate is not prunable but correct
    assert t.read(where="k = 5 OR k > 2097").count() == 3


def test_delete_and_update_rewrite_only_affected_dirs(lake, spark):
    """Round-6 extension: DELETE/UPDATE use the file-skipping stats to
    rewrite ONLY commit dirs that may contain matching rows — a selective
    DML on a 100 TB table rewrites O(affected data), never O(table).
    Untouched dirs carry into the new snapshot file-identical."""
    t = lake.create_table("db.dml", "k BIGINT, v STRING")
    for lo in (0, 1000, 2000):
        t.append(
            spark.range(lo, lo + 100).selectExpr(
                "id AS k", f"concat('c{lo // 1000}_', id) AS v"
            ).repartition(4)
        )
    files_before = set(t.read().inputFiles())
    assert len(files_before) == 12
    before_snap = t._load_meta()["current_snapshot_id"]

    t.delete_where("k BETWEEN 1040 AND 1060")
    files_after = set(t.read().inputFiles())
    assert len(files_before & files_after) == 8, (
        "commits 0 and 2 must survive file-identical; only commit 1 rewrites"
    )
    assert t.read().count() == 279
    assert t.read().filter("k BETWEEN 1040 AND 1060").count() == 0
    # time travel: the pre-delete snapshot still sees all 300 rows
    assert t.read(snapshot_id=before_snap).count() == 300

    # provably-no-match DELETE is metadata-only (zero files rewritten)
    t.delete_where("k = 999999")
    assert set(t.read().inputFiles()) == files_after
    assert t.read().count() == 279

    # UPDATE: only the dir holding k=5 rewrites
    t.update_where({"v": "'updated'"}, "k = 5")
    files3 = set(t.read().inputFiles())
    assert len(files_after & files3) == len(files_after) - 4
    assert [r.v for r in t.read().filter("k = 5").collect()] == ["updated"]
    assert t.read().count() == 279

    # unprunable predicate falls back to the full rewrite and stays correct
    t.delete_where("k % 1000 = 7")
    assert t.read().count() == 276
    assert sorted(r.k for r in t.read().filter("k < 10").collect()) == [
        0, 1, 2, 3, 4, 5, 6, 8, 9,
    ]


def test_affected_only_delete_composes_with_scoped_compact(lake, spark):
    """Affected-only DML must respect commit_filters left by a scoped
    OPTIMIZE: untouched dirs keep their exclusion filters; affected dirs
    apply them before the rewrite (no resurrection of compacted rows)."""
    t = lake.create_table("db.dmlc", "region STRING, k BIGINT", partition_by=["region"])
    for r in ("east", "west"):
        for chunk in range(2):
            t.append(
                spark.createDataFrame(
                    [(r, chunk * 10 + i) for i in range(10)],
                    "region STRING, k BIGINT",
                )
            )
    t.compact(where="region = 'east'", n_files=1)
    before = sorted((r.region, r.k) for r in t.read().collect())

    t.delete_where("k BETWEEN 3 AND 5")
    got = sorted((r.region, r.k) for r in t.read().collect())
    want = [x for x in before if not (3 <= x[1] <= 5)]
    assert got == want
    assert t.read().count() == 34


def test_merge_rewrites_only_affected_dirs(lake, spark):
    """MERGE upsert prunes target dirs by the SOURCE's key range: dirs
    provably outside it carry over file-identical — an upsert of one
    day's keys never rewrites the whole table."""
    t = lake.create_table("db.mup", "k BIGINT, v STRING")
    for lo in (0, 1000, 2000):
        t.append(
            spark.range(lo, lo + 100).selectExpr(
                "id AS k", f"concat('c{lo // 1000}_', id) AS v"
            ).repartition(4)
        )
    files_before = set(t.read().inputFiles())
    src = spark.createDataFrame(
        [(1005, "upd_1005"), (1500, "new_1500")], "k BIGINT, v STRING"
    )
    t.merge(src, "k")
    files_after = set(t.read().inputFiles())
    assert len(files_before & files_after) == 8, (
        "commits 0 and 2 are outside the source key range: untouched"
    )
    assert t.read().count() == 301
    got = {r.k: r.v for r in t.read().filter("k IN (1005, 1500, 5, 2005)").collect()}
    assert got == {1005: "upd_1005", 1500: "new_1500", 5: "c0_5", 2005: "c2_2005"}


def test_merge_into_rewrites_only_affected_dirs(lake, spark):
    """General MERGE INTO with no NOT-MATCHED-BY-SOURCE family prunes the
    target side by the ON equi-key source range; with that family present
    every target row is in play and the full rewrite runs."""
    t = lake.create_table("db.mi", "k BIGINT, v STRING")
    for lo in (0, 1000, 2000):
        t.append(
            spark.range(lo, lo + 100).selectExpr(
                "id AS k", f"concat('c{lo // 1000}_', id) AS v"
            ).repartition(4)
        )
    files_before = set(t.read().inputFiles())
    src = spark.createDataFrame([(1010, "m_upd"), (1600, "m_new")], "k BIGINT, v STRING")
    t.merge_into(
        src,
        on="t.k = s.k",
        matched=[("update", None, "*")],
        not_matched=[(None, None, None)],
    )
    files_after = set(t.read().inputFiles())
    assert len(files_before & files_after) == 8
    assert t.read().count() == 301
    got = {r.k: r.v for r in t.read().filter("k IN (1010, 1600, 7)").collect()}
    assert got == {1010: "m_upd", 1600: "m_new", 7: "c0_7"}

    # NOT MATCHED BY SOURCE flags every target row -> full rewrite, correct
    src2 = spark.createDataFrame([(1010, "again")], "k BIGINT, v STRING")
    t.merge_into(
        src2,
        on="t.k = s.k",
        matched=[("update", None, "*")],
        not_matched_by_source=[("update", None, {"v": "concat(t.v, '!')"})],
    )
    got2 = {r.k: r.v for r in t.read().filter("k IN (1010, 7, 1600)").collect()}
    assert got2 == {1010: "again", 7: "c0_7!", 1600: "m_new!"}
    assert t.read().count() == 301


def test_timestamp_and_date_range_data_skipping(lake, spark):
    """Round-6 extension: TIMESTAMP/DATE footer stats are recorded as
    ISO strings (chronological == lexicographic) so TIME-RANGE predicates
    — the most common selective filter at scale — prune whole files."""
    t = lake.create_table("db.tsskip", "ev_ts TIMESTAMP, d DATE, k BIGINT")
    for day in (1, 10, 20):
        t.append(
            spark.range(24).selectExpr(
                f"timestamp'2025-08-{day:02d} 00:00:00' + make_interval(0,0,0,0,id) AS ev_ts",
                f"date'2025-08-{day:02d}' AS d",
                "id AS k",
            ).coalesce(1)
        )
    all_files = set(t.read().inputFiles())
    assert len(all_files) == 3

    # TIMESTAMP literal range hits only the middle commit
    got = t.read(where="ev_ts >= TIMESTAMP '2025-08-10 05:00:00' "
                       "AND ev_ts < TIMESTAMP '2025-08-11 00:00:00'")
    assert len(set(got.inputFiles())) == 1
    assert got.count() == 19
    # plain string literal (Spark casts) prunes the same way
    got2 = t.read(where="ev_ts >= '2025-08-20'")
    assert len(set(got2.inputFiles())) == 1 and got2.count() == 24
    # equality with a date-only literal = midnight on a TIMESTAMP column
    got3 = t.read(where="ev_ts = '2025-08-01'")
    assert len(set(got3.inputFiles())) == 1 and got3.count() == 1
    # DATE column: date-only literals prune
    got4 = t.read(where="d = DATE '2025-08-10'")
    assert len(set(got4.inputFiles())) == 1 and got4.count() == 24
    got5 = t.read(where="d BETWEEN '2025-08-09' AND '2025-08-11'")
    assert len(set(got5.inputFiles())) == 1 and got5.count() == 24
    # DATE vs time-ful literal: Spark truncates the cast — never pruned,
    # still correct
    got6 = t.read(where="d >= '2025-08-20 10:00:00'")
    assert got6.count() == sorted(
        r.k for r in t.read().filter("d >= '2025-08-20 10:00:00'").collect()
    ).__len__()
    # no-match range -> zero files, schema kept
    none = t.read(where="ev_ts > TIMESTAMP '2026-01-01 00:00:00'")
    assert none.count() == 0 and none.columns == ["ev_ts", "d", "k"]
    # results always identical to the row filter
    want = sorted(r.k for r in t.read().filter(
        "ev_ts >= '2025-08-10 05:00:00' AND ev_ts < '2025-08-11'").collect())
    assert sorted(r.k for r in got.collect()) == want


# ------------------------------------------------- ADVICE r6 regressions


def test_date_partition_vs_timestamp_literal_never_misprunes(lake, spark):
    """ADVICE r6 (high): identity-partition stats of date/timestamp
    columns were recorded as UNMARKED degenerate strings, so a
    date-partition dir d=2024-01-01 vs the literal TIMESTAMP
    '2024-01-01 00:00:00' (Spark promotes date->timestamp: the row
    matches) compared lexicographically and was wrongly pruned — and
    since affected-only DML reuses the pruning, DELETE/UPDATE/MERGE
    silently skipped matching dirs, persisting wrong data."""
    t = lake.create_table("db.dpart", "d DATE, v BIGINT", partition_by=["d"])
    t.append(
        spark.createDataFrame(
            [("2024-01-01", 1), ("2024-02-01", 2)], "d STRING, v BIGINT"
        ).withColumn("d", F.col("d").cast("date"))
    )
    got = t.read(where="d = TIMESTAMP '2024-01-01 00:00:00'")
    assert [r.v for r in got.collect()] == [1]
    # the marker still prunes the disjoint partition on a DATE literal
    hit = t.read(where="d = DATE '2024-02-01'")
    assert [r.v for r in hit.collect()] == [2]
    assert len(set(hit.inputFiles())) == 1, "d=2024-01-01 dir must be pruned"
    # affected-only DELETE must not skip the matching dir
    t.delete_where("d = TIMESTAMP '2024-01-01 00:00:00'")
    assert [r.v for r in t.read().collect()] == [2]

    # timestamp-partitioned table probed with a DATE literal: same promotion
    tt = lake.create_table(
        "db.tspart", "ts TIMESTAMP, v BIGINT", partition_by=["ts"]
    )
    tt.append(
        spark.createDataFrame(
            [("2024-01-01 00:00:00", 1), ("2024-02-01 09:30:00", 2)],
            "ts STRING, v BIGINT",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
    )
    got = tt.read(where="ts = DATE '2024-01-01'")
    assert [r.v for r in got.collect()] == [1]
    tt.delete_where("ts = DATE '2024-01-01'")
    assert [r.v for r in tt.read().collect()] == [2]


def test_merge_with_nan_key_falls_back_to_full_rewrite(lake, spark):
    """ADVICE r6 (medium): a single NaN in a float merge-key column made
    max() NaN -> `k BETWEEN lo AND NaN` is never TRUE -> every dir was
    classed untouched and MERGE appended source rows WITHOUT replacing
    matched target rows (duplicate keys / lost updates)."""
    t = lake.create_table("db.nankey", "k DOUBLE, v BIGINT")
    t.append(spark.createDataFrame([(1.0, 10), (2.0, 20)], "k DOUBLE, v BIGINT"))
    src = spark.createDataFrame([(1.0, 99), (float("nan"), 7)], "k DOUBLE, v BIGINT")
    t.merge(src, "k")
    rows = t.read().collect()
    ones = [r.v for r in rows if r.k == 1.0]
    assert ones == [99], f"matched key must be replaced exactly once, got {ones}"
    assert sorted(r.v for r in rows) == [7, 20, 99]


def test_nonutc_session_disables_temporal_pruning(lake, spark):
    """ADVICE r6 (low): "ts" footer stats are UTC-normalized, but Spark
    evaluates TIMESTAMP literals in session-local time. Lakehouse pins the
    session to UTC; if the tz is changed afterwards, temporal conjuncts
    must stop pruning (correct rows beat skipped files)."""
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    t = lake.create_table("db.tzsafe", "ev TIMESTAMP, v BIGINT")
    for day in ("2025-03-01", "2025-03-02"):
        t.append(
            spark.createDataFrame([(f"{day} 12:00:00", 1)], "ev STRING, v BIGINT")
            .withColumn("ev", F.col("ev").cast("timestamp")).coalesce(1)
        )
    pruned = t.read(where="ev >= TIMESTAMP '2025-03-02 00:00:00'")
    assert len(set(pruned.inputFiles())) == 1  # UTC session: pruning on
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        unpruned = t.read(where="ev >= TIMESTAMP '2025-03-02 00:00:00'")
        # no file skipped — the row filter (now local-time) decides alone
        assert len(set(unpruned.inputFiles())) == 2
        want = t.read().filter("ev >= TIMESTAMP '2025-03-02 00:00:00'").count()
        assert unpruned.count() == want
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    # a fresh Lakehouse on a non-UTC session re-pins UTC
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        Lakehouse(spark, lake.root)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_nondeterministic_predicate_never_routes(lake, spark):
    """ADVICE r6 (low): `rand() < 0.5` has zero column refs, so it passed
    the dims-only gate and route_aggregate filtered the MATERIALIZED
    PARTIALS (sampling groups) instead of raw rows — systematically
    different results. Nondeterministic functions must block routing."""
    reg = AcceleratorRegistry(lake)
    pc = reg._predicate_columns
    assert pc("rand() < 0.5") is None
    assert pc("uuid() LIKE 'a%'") is None
    assert pc("city = 'SF' AND random() < 0.1") is None
    assert pc("now() > ev_ts") is None
    # deterministic functions still attribute columns normally
    assert pc("upper(city) = 'SF'") == {"city"}
    assert pc("amount > 10") == {"amount"}


def test_refs_metadata_table(spark, tmp_path):
    """Iceberg t.refs parity: tags + branches + implicit main, queryable
    via the TABLE(table_refs('t')) TVF."""
    from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse

    lake = Lakehouse(spark, str(tmp_path / "wh"))
    t = lake.create_table("db.rf", "id INT")
    t.append(spark.createDataFrame([(1,)], "id INT"))
    t.create_tag("v1")
    t.append(spark.createDataFrame([(2,)], "id INT"))
    t.create_branch("audit")
    got = {r.ref_name: (r.ref_type, r.snapshot_id) for r in t.refs().collect()}
    assert got == {
        "main": ("BRANCH", 2),
        "v1": ("TAG", 1),
        "audit": ("BRANCH", 2),
    }
    out = lake.run_script(
        "SELECT ref_name, ref_type, snapshot_id FROM TABLE(table_refs('db.rf')) "
        "ORDER BY ref_name"
    ).collect()
    assert [(r.ref_name, r.ref_type, r.snapshot_id) for r in out] == [
        ("audit", "BRANCH", 2), ("main", "BRANCH", 2), ("v1", "TAG", 1),
    ]


def test_tblproperties_and_show(spark, tmp_path):
    from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse

    lake = Lakehouse(spark, str(tmp_path / "wh"))
    lake.create_table("db.p", "id INT")
    lake.run_script(
        "ALTER TABLE db.p SET TBLPROPERTIES ('write.target-size'='134217728', "
        "'owner'='data-eng')"
    )
    assert lake.table("db.p").properties() == {
        "write.target-size": "134217728", "owner": "data-eng",
    }
    got = lake.run_script("SHOW TBLPROPERTIES db.p").collect()
    assert [(r.key, r.value) for r in got] == [
        ("owner", "data-eng"), ("write.target-size", "134217728"),
    ]
    lake.run_script("ALTER TABLE db.p UNSET TBLPROPERTIES ('owner')")
    assert lake.table("db.p").properties() == {"write.target-size": "134217728"}


def test_rollback_table_sql(spark, tmp_path):
    from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse

    lake = Lakehouse(spark, str(tmp_path / "wh"))
    t = lake.create_table("db.rb", "id INT")
    t.append(spark.createDataFrame([(1,)], "id INT"))
    t.append(spark.createDataFrame([(2,)], "id INT"))
    assert t.read().count() == 2
    lake.run_script("ROLLBACK TABLE db.rb TO SNAPSHOT '1'")
    assert t.read().count() == 1
    assert [r.operation for r in t.snapshots().collect()][-1] == "rollback"
    # timestamp form: roll forward to the state at snapshot 2's commit time
    import datetime as _dt

    ts2 = [r.committed_at_ms for r in t.snapshots().collect() if r.snapshot_id == 2][0]
    iso = _dt.datetime.fromtimestamp(ts2 / 1000, _dt.timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S.%f"
    )
    lake.run_script(f"ROLLBACK TABLE db.rb TO TIMESTAMP '{iso}'")
    assert t.read().count() == 2


def test_show_tables_and_folders(spark, tmp_path):
    from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse

    lake = Lakehouse(spark, str(tmp_path / "wh"))
    lake.create_namespace("db.raw")
    lake.create_namespace("db.gold")
    lake.create_table("db.raw.a", "id INT")
    lake.create_table("db.raw.b", "id INT")
    tables = [r.table_name for r in lake.run_script("SHOW TABLES IN db.raw").collect()]
    assert tables == ["db.raw.a", "db.raw.b"]
    all_tables = [r.table_name for r in lake.run_script("SHOW TABLES").collect()]
    assert all_tables == ["db.raw.a", "db.raw.b"]
    folders = [r.folder_name for r in lake.run_script("SHOW FOLDERS IN db").collect()]
    assert folders == ["gold", "raw"]


def test_is_not_null_data_skipping(lake, spark):
    """IS NOT NULL prunes files whose stats record an all-NULL column (the
    common 'keep only enriched rows' scan); files with any value — even
    alongside NULLs — survive, and results equal the unpruned filter."""
    t = lake.create_table("db.nn", "k BIGINT, v STRING")
    t.append(spark.createDataFrame([(None, "a"), (None, "b")], "k BIGINT, v STRING"))
    t.append(spark.createDataFrame([(5, "c"), (None, "d")], "k BIGINT, v STRING"))
    t.append(spark.createDataFrame([(7, "e")], "k BIGINT, v STRING"))

    got = t.read(where="k IS NOT NULL")
    assert sorted(r.v for r in got.collect()) == ["c", "e"]
    full = set(t.read().inputFiles())
    pruned = set(got.inputFiles())
    assert pruned < full and len(pruned) == 2  # the all-NULL commit dropped
    # equivalence with the plain filter (mixed file keeps its NULL row out
    # via the row filter, never via pruning)
    want = sorted(r.v for r in t.read().filter("k IS NOT NULL").collect())
    assert sorted(r.v for r in got.collect()) == want
    # conjunct composes with range skipping
    sel = t.read(where="k IS NOT NULL AND k > 6")
    assert [r.v for r in sel.collect()] == ["e"]
    assert len(set(sel.inputFiles())) == 1


def test_describe_and_explain_statements(spark, tmp_path):
    from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse

    lake = Lakehouse(spark, str(tmp_path / "wh"))
    t = lake.create_table("db.de", "id INT, name STRING")
    t.append(spark.createDataFrame([(1, "a")], "id INT, name STRING"))
    desc = lake.run_script("DESCRIBE db.de").collect()
    assert [(r.column_name, r.data_type) for r in desc] == [
        ("id", "int"), ("name", "string"),
    ]
    plan = lake.run_script("EXPLAIN PLAN FOR SELECT COUNT(*) AS n FROM db.de")
    txt = plan.collect()[0].plan
    assert "Physical Plan" in txt and "HashAggregate" in txt


def test_vacuum_older_than(spark, tmp_path):
    import datetime as _dt

    from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse

    lake = Lakehouse(spark, str(tmp_path / "wh"))
    t = lake.create_table("db.vo", "id INT")
    t.append(spark.createDataFrame([(1,)], "id INT"))
    t.append(spark.createDataFrame([(2,)], "id INT"))
    t.append(spark.createDataFrame([(3,)], "id INT"))
    snaps = {r.snapshot_id: r.committed_at_ms for r in t.snapshots().collect()}
    # horizon between snapshot 1 and 2: snapshots >= horizon survive
    horizon = (snaps[1] + snaps[2]) / 2 + 0.5
    iso = _dt.datetime.fromtimestamp(horizon / 1000, _dt.timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S.%f"
    )
    lake.run_script(f"VACUUM TABLE db.vo EXPIRE SNAPSHOTS OLDER_THAN '{iso}' RETAIN_LAST 1")
    left = sorted(r.snapshot_id for r in t.snapshots().collect())
    assert left == [2, 3]  # 1 expired; 2 kept by horizon, 3 by retain_last
    assert t.read().count() == 3  # current snapshot data intact


def test_is_null_data_skipping_via_null_counts(lake, spark):
    """IS NULL prunes files whose recorded footer null COUNT is zero; files
    with any NULL (or unknown counts) survive; columns missing from old
    files entirely read as NULL and are never pruned."""
    t = lake.create_table("db.inn", "k BIGINT, v STRING")
    t.append(spark.createDataFrame(
        [(1, "a"), (2, "b")], "k BIGINT, v STRING").coalesce(1))  # no NULLs
    t.append(spark.createDataFrame(
        [(3, None), (4, "d")], "k BIGINT, v STRING").coalesce(1))  # one NULL
    got = t.read(where="v IS NULL")
    assert [r.k for r in got.collect()] == [3]
    full = set(t.read().inputFiles())
    pruned = set(got.inputFiles())
    assert len(full) == 2 and pruned < full and len(pruned) == 1
    # schema evolution: a column no old file carries reads as NULL — the
    # old files must NOT be pruned for tag IS NULL
    t.add_column("tag", "STRING")
    t.append(spark.createDataFrame(
        [(9, "z", "set")], "k BIGINT, v STRING, tag STRING").coalesce(1))
    got2 = sorted(r.k for r in t.read(where="tag IS NULL").collect())
    assert got2 == [1, 2, 3, 4]
    # and the new file (tag never NULL there) is prunable
    files2 = set(t.read(where="tag IS NULL").inputFiles())
    assert len(files2) == 2


def test_reserved_stats_keys_never_clobber_user_columns(lake, spark):
    """r13 (r12-end advice): a user column literally named __rows__ or
    __nulls__ keeps its own min/max stats entry — the reserved per-file
    metadata is skipped for such tables instead of overwriting it — so
    min/max pruning on those columns stays correct, row_count_estimate
    falls back to exact footer counts, and IS NULL predicates stay
    sound."""
    from pyspark.sql import Row as _Row

    df = spark.createDataFrame(
        [
            _Row(k=1, __rows__=10, __nulls__=None),
            _Row(k=2, __rows__=20, __nulls__="x"),
            _Row(k=3, __rows__=30, __nulls__="y"),
        ]
    )
    t = lake.create_table_as("db.weird", df)
    # append a second, disjoint range so pruning has something to skip
    df2 = spark.createDataFrame(
        [_Row(k=4, __rows__=100, __nulls__="z"),
         _Row(k=5, __rows__=110, __nulls__="w")]
    )
    t.append(df2)
    # value correctness under every predicate shape that touches the
    # reserved-name columns
    assert t.read(where="__rows__ >= 100").count() == 2
    assert t.read(where="__rows__ BETWEEN 10 AND 30").count() == 3
    assert t.read(where="__nulls__ IS NULL").count() == 1
    assert t.read(where="__nulls__ IS NOT NULL").count() == 4
    # manifest row estimate: exact (falls back to footers when the
    # reserved key is absent), and an int
    est = t.row_count_estimate()
    assert isinstance(est, int) and est == 5


# ------------------------------------------- script runner view registry


def _count_reads(monkeypatch) -> list[str]:
    """Names of the tables every LakeTable.read call from now on reads."""
    from apache_iceberg_lakehouse_workshop_spark.plans.lakeshim import LakeTable

    calls: list[str] = []
    real = LakeTable.read

    def read(self, *args, **kwargs):
        calls.append(self.name)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "read", read)
    return calls


def _n(lake, sql: str) -> int:
    return lake.run_script(sql).first()[0]


def test_runner_reads_each_table_once_per_commit(lake, spark, monkeypatch):
    """A statement over an unchanged lake re-registers nothing: zero
    LakeTable.read calls. A commit re-reads only the table it touched,
    and the stacked view over it sees the new rows."""
    lake.create_table_as("db.raw.orders", _mk_orders(spark))
    lake.create_table_as("db.raw.other", _mk_orders(spark))
    lake.run_script(
        "CREATE VIEW db.gold.big AS SELECT * FROM db.raw.orders WHERE amount > 80"
    )
    assert _n(lake, "SELECT COUNT(*) FROM db.gold.big") == 2
    calls = _count_reads(monkeypatch)
    assert _n(lake, "SELECT COUNT(*) FROM db.raw.orders") == 3
    assert _n(lake, "SELECT COUNT(*) FROM db.gold.big") == 2
    assert calls == []
    lake.run_script("INSERT INTO db.raw.orders VALUES (4, 12, 500.0, TIMESTAMP '2025-08-03 09:00:00')")
    calls.clear()
    assert _n(lake, "SELECT COUNT(*) FROM db.gold.big") == 3
    assert calls == ["db.raw.orders"]


def test_runner_sees_dml_between_statements(lake, spark):
    """Appends, DELETE and MERGE between two statements are visible to the
    next one, through both the table and a leaf-named reference."""
    lake.create_table_as("db.raw.orders", _mk_orders(spark))
    assert _n(lake, "SELECT COUNT(*) FROM db.raw.orders") == 3
    lake.table("db.raw.orders").append(
        _mk_orders(spark).withColumn("order_id", F.col("order_id") + 10)
    )
    assert _n(lake, "SELECT COUNT(*) FROM orders") == 6
    lake.run_script("DELETE FROM db.raw.orders WHERE order_id > 10")
    assert _n(lake, "SELECT COUNT(*) FROM db.raw.orders") == 3
    lake.create_table_as(
        "db.raw.changes",
        _mk_orders(spark).filter("order_id = 1").withColumn("amount", F.lit(1.0)),
    )
    lake.run_script(
        "MERGE INTO db.raw.orders AS t USING db.raw.changes AS s "
        "ON t.order_id = s.order_id WHEN MATCHED THEN UPDATE SET *"
    )
    assert _n(lake, "SELECT SUM(amount) FROM orders") == 1.0 + 250.0 + 75.0


def test_runner_sees_metadata_only_commits(lake, spark):
    """Commits that change no data files (schema evolution, properties,
    rollback, tags) are visible to the next statement."""
    t = lake.create_table_as("db.raw.orders", _mk_orders(spark))
    first = t.snapshots().first().snapshot_id
    assert "note" not in lake.run_script("SELECT * FROM db.raw.orders").columns
    lake.run_script("ALTER TABLE db.raw.orders ADD COLUMN note VARCHAR")
    assert "note" in lake.run_script("SELECT * FROM db.raw.orders").columns
    lake.run_script("ALTER TABLE db.raw.orders RENAME COLUMN note TO memo")
    cols = lake.run_script("SELECT * FROM orders").columns
    assert "memo" in cols and "note" not in cols
    lake.run_script("ALTER TABLE db.raw.orders SET TBLPROPERTIES ('owner' = 'ops')")
    props = lake.run_script("SHOW TBLPROPERTIES db.raw.orders").collect()
    assert ("owner", "ops") in [(r.key, r.value) for r in props]
    lake.run_script("ALTER TABLE db.raw.orders CREATE TAG v1")
    t.append(_mk_orders(spark).withColumn("order_id", F.col("order_id") + 10))
    assert _n(lake, "SELECT COUNT(*) FROM db.raw.orders") == 6
    assert _n(lake, "SELECT COUNT(*) FROM db.raw.orders AT TAG 'v1'") == 3
    lake.run_script(f"ROLLBACK TABLE db.raw.orders TO SNAPSHOT '{first}'")
    assert _n(lake, "SELECT COUNT(*) FROM db.raw.orders") == 3


def test_runner_sees_table_dropped_and_recreated(lake, spark):
    lake.create_table_as("db.raw.orders", _mk_orders(spark))
    assert _n(lake, "SELECT COUNT(*) FROM db.raw.orders") == 3
    lake.run_script("DROP TABLE db.raw.orders")
    lake.run_script("CREATE TABLE db.raw.orders (order_id INT, amount DOUBLE)")
    assert _n(lake, "SELECT COUNT(*) FROM db.raw.orders") == 0
    lake.run_script("INSERT INTO db.raw.orders VALUES (7, 1.5)")
    assert lake.run_script("SELECT * FROM orders").collect() == [Row(order_id=7, amount=1.5)]


def test_runner_reregisters_a_replaced_temp_view(lake, spark):
    """User code that replaces a leaf view the runner registered does not
    shadow the lake table on the next statement."""
    lake.create_table_as("db.raw.orders", _mk_orders(spark))
    assert _n(lake, "SELECT COUNT(*) FROM orders") == 3
    spark.range(5).createOrReplaceTempView("orders")
    assert _n(lake, "SELECT COUNT(*) FROM orders") == 3
    spark.catalog.dropTempView("orders")
    assert _n(lake, "SELECT COUNT(*) FROM orders") == 3


def test_runner_snapshots_view_shows_later_commits(lake, spark):
    t = lake.create_table_as("db.raw.orders", _mk_orders(spark))
    assert _n(lake, "SELECT COUNT(*) FROM orders__snapshots") == 1
    t.append(_mk_orders(spark))
    assert _n(lake, "SELECT COUNT(*) FROM orders__snapshots") == 2
    ops = lake.run_script("SELECT operation FROM TABLE(table_snapshot('db.raw.orders'))")
    assert [r.operation for r in ops.collect()] == ["overwrite", "append"]
