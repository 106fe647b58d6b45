"""Compaction and partitioned-table pruning."""

from pyspark.sql import functions as F

from crypto_etl_airflow_spark.operators.compact import compact, parquet_file_count
from crypto_etl_airflow_spark.operators.upsert import upsert_append
from crypto_etl_airflow_spark.sources.tables import load_table

from .conftest import SF_SMOKE


def test_compact_reduces_file_count_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "tbl")
    ev = load_table(spark, SF_SMOKE, "events")
    ev.repartition(40).write.parquet(path)
    assert parquet_file_count(path) == 40

    n_after = compact(spark, path, target_file_bytes=64 * 1024 * 1024)
    assert n_after < 40
    back = spark.read.parquet(path)
    assert back.count() == ev.count()
    assert sorted(back.columns) == sorted(ev.columns)
    assert (
        back.agg(F.sum("event_id")).collect()[0][0]
        == ev.agg(F.sum("event_id")).collect()[0][0]
    )


def test_partitioned_upsert_prunes_partitions(spark, tmp_path):
    """Date-partitioned warehouse layout: a date-filtered read shows
    partition pruning in the plan (the scan never touches other
    dates' files)."""
    path = str(tmp_path / "events_part")
    ev = load_table(spark, SF_SMOKE, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    written = upsert_append(
        spark, ev, path, keys=["event_id"], partition_by=["event_date"]
    )
    assert written == ev.count()

    q = spark.read.parquet(path).filter(F.col("event_date") == "2024-01-02")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_date" in plan
    # the pruned scan reads only the one partition's rows
    want = ev.filter(F.to_date("ts") == "2024-01-02").count()
    assert q.count() == want > 0


def test_partitioned_upsert_with_prune_filter_stays_idempotent(spark, tmp_path):
    path = str(tmp_path / "events_part2")
    ev = load_table(spark, SF_SMOKE, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    upsert_append(spark, ev, path, keys=["event_id"], partition_by=["event_date"])
    # re-upsert an overlapping slice, pruning the existing-table read
    # to the slice's own date range
    batch = ev.filter(F.col("event_date") == "2024-01-03")
    n = upsert_append(
        spark,
        batch,
        path,
        keys=["event_id"],
        partition_by=["event_date"],
        prune_filter=F.col("event_date") == "2024-01-03",
    )
    assert n == 0  # everything already present
    assert spark.read.parquet(path).count() == ev.count()


def test_swap_directory_replaces_and_cleans_up(tmp_path):
    from crypto_etl_airflow_spark.operators.compact import swap_directory

    live = tmp_path / "table"
    staging = tmp_path / "table.__compact_tmp"
    live.mkdir(); (live / "old.txt").write_text("old")
    staging.mkdir(); (staging / "new.txt").write_text("new")
    swap_directory(str(staging), str(live))
    assert (live / "new.txt").read_text() == "new"
    assert not staging.exists()
    assert not (tmp_path / ".__aside.table").exists()


def test_swap_directory_no_preexisting_target(tmp_path):
    from crypto_etl_airflow_spark.operators.compact import swap_directory

    staging = tmp_path / "t.__tmp"
    staging.mkdir(); (staging / "f").write_text("x")
    swap_directory(str(staging), str(tmp_path / "t"))
    assert (tmp_path / "t" / "f").read_text() == "x"


def test_swap_directory_restores_interrupted_swap(tmp_path):
    """Crash window: a prior swap renamed the live dir aside and died.
    The next swap must treat the .__aside. sibling as the surviving
    copy — not rmtree it."""
    from crypto_etl_airflow_spark.operators.compact import swap_directory

    old = tmp_path / ".__aside.t"
    old.mkdir(); (old / "f").write_text("survivor")
    staging = tmp_path / "t.__tmp"
    staging.mkdir(); (staging / "f").write_text("new")
    swap_directory(str(staging), str(tmp_path / "t"))
    assert (tmp_path / "t" / "f").read_text() == "new"
    assert not old.exists() and not staging.exists()


def test_recover_directory_restores_and_reports(tmp_path):
    from crypto_etl_airflow_spark.operators.compact import recover_directory

    old = tmp_path / ".__aside.t"
    old.mkdir(); (old / "f").write_text("survivor")
    assert recover_directory(str(tmp_path / "t")) is True
    assert (tmp_path / "t" / "f").read_text() == "survivor"
    # idempotent no-op once healthy
    assert recover_directory(str(tmp_path / "t")) is False


def test_recover_tree_never_touches_old_suffixed_partition_values(tmp_path):
    """ADVICE r6 (medium): a string partition VALUE literally ending
    in '.__old' (day=foo.__old — Spark does not escape dots) must
    never be mistaken for a crashed-swap aside. With the suffix
    marker, recover_tree deleted it (twin present) or renamed it
    (twin missing) — silent data loss driven by user data. The
    .__aside. leaf PREFIX cannot be produced by any col=value leaf."""
    from crypto_etl_airflow_spark.operators.compact import recover_tree

    t = tmp_path / "t"
    (t / "day=foo").mkdir(parents=True)
    (t / "day=foo" / "p.parquet").write_text("live")
    (t / "day=foo.__old").mkdir()
    (t / "day=foo.__old" / "p.parquet").write_text("user data, not an aside")
    (t / "day=bar.__old").mkdir()  # no 'day=bar' twin either way
    (t / "day=bar.__old" / "p.parquet").write_text("also user data")

    assert recover_tree(str(t)) == 0
    assert (t / "day=foo.__old" / "p.parquet").read_text() == (
        "user data, not an aside"
    )
    assert (t / "day=bar.__old" / "p.parquet").read_text() == "also user data"
    assert not (t / "day=bar").exists()


def test_merge_preserves_old_suffixed_partition_value(spark, tmp_path):
    """End-to-end ADVICE r6 regression: partitioned merges over a
    value ending '.__old' keep that partition's rows intact."""
    from crypto_etl_airflow_spark.operators.upsert import merge_replace_keys

    path = str(tmp_path / "t")
    schema = "id long, day string, v double"
    first = spark.createDataFrame(
        [(1, "foo.__old", 1.0), (2, "foo", 2.0)], schema
    )
    merge_replace_keys(spark, first, path, keys=["id", "day"], partition_by=["day"])
    second = spark.createDataFrame([(3, "foo", 3.0)], schema)
    merge_replace_keys(spark, second, path, keys=["id", "day"], partition_by=["day"])
    got = sorted((r.id, r.day, r.v) for r in spark.read.parquet(path).collect())
    assert got == [(1, "foo.__old", 1.0), (2, "foo", 2.0), (3, "foo", 3.0)]


def test_compact_never_exceeds_size_bound(spark, tmp_path):
    """``coalesce`` cannot add partitions: with a small target the
    rewrite writes at most ceil(size / target) files, and the rows
    are the same multiset."""
    import math
    from collections import Counter

    from crypto_etl_airflow_spark.operators.compact import _dir_bytes

    path = str(tmp_path / "tbl")
    ev = load_table(spark, SF_SMOKE, "events")
    ev.repartition(12).write.parquet(path)
    target = 16 * 1024
    bound = math.ceil(_dir_bytes(path) / target)
    before = Counter(tuple(r) for r in spark.read.parquet(path).collect())

    n_after = compact(spark, path, target_file_bytes=target)
    assert 1 <= n_after <= bound
    assert n_after == parquet_file_count(path)
    back = spark.read.parquet(path).select(*ev.columns)
    assert Counter(tuple(r) for r in back.collect()) == before
