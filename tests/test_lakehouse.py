"""Lakehouse table layer: the end-to-end round trip SURVEY.md §5 calls
for — create → append → time travel → DML → compact → expire/vacuum —
plus catalog ops and failure modes."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pg_lakehouse_spark.lakehouse import (
    CommitConflict,
    LakeCatalog,
    LakehouseError,
)


@pytest.fixture()
def catalog(spark, tmp_path):
    return LakeCatalog(spark, str(tmp_path / "warehouse"))


@pytest.fixture()
def orders_df(spark, sf_dir):
    from pg_lakehouse_spark.tables import table

    return table(spark, sf_dir, "orders")


def test_create_append_read_roundtrip(catalog, orders_df):
    part1 = orders_df.filter(F.col("o_orderkey") <= 1000)
    part2 = orders_df.filter(
        (F.col("o_orderkey") > 1000) & (F.col("o_orderkey") <= 2000)
    )
    tbl = catalog.create_table("db", "orders_copy", orders_df.schema)
    tbl.append(part1)
    v_after_first = tbl.current_version()
    tbl.append(part2)

    assert tbl.read().count() == part1.count() + part2.count()
    # time travel to the first append (ref A6 snapshot pin)
    assert tbl.read(snapshot=v_after_first).count() == part1.count()
    info = tbl.table_info()
    assert info["total_rows"] == part1.count() + part2.count()
    assert info["total_files"] == len(tbl.snapshot().files)


def test_overwrite_and_truncate(catalog, orders_df):
    tbl = catalog.create_table_as("db", "t", orders_df.limit(100))
    v1_rows = tbl.read().count()
    assert v1_rows == 100
    tbl.overwrite(orders_df.limit(10))
    assert tbl.read().count() == 10
    before_truncate = tbl.current_version()
    tbl.truncate()
    assert tbl.read().count() == 0
    assert tbl.read(snapshot=before_truncate).count() == 10
    assert tbl.read().schema == orders_df.schema


def test_schema_enforcement(catalog, orders_df):
    tbl = catalog.create_table("db", "strict", orders_df.schema)
    with pytest.raises(LakehouseError, match="schema mismatch"):
        tbl.append(orders_df.select("o_orderkey"))


def test_delete_copy_on_write(catalog, orders_df):
    tbl = catalog.create_table_as("db", "del", orders_df)
    total = orders_df.count()
    victims = orders_df.filter(F.col("o_orderstatus") == "F").count()
    snap = tbl.delete(F.col("o_orderstatus") == "F")
    assert tbl.read().count() == total - victims
    assert tbl.read().filter(F.col("o_orderstatus") == "F").count() == 0
    assert snap.operation == "delete"


def test_delete_prunes_untouched_files(catalog, orders_df):
    tbl = catalog.create_table("db", "pruned", orders_df.schema)
    tbl.append(orders_df.filter(F.col("o_orderkey") <= 1000).repartition(1))
    tbl.append(orders_df.filter(F.col("o_orderkey") > 1000).repartition(1))
    before = {f["path"] for f in tbl.snapshot().files}
    tbl.delete(F.col("o_orderkey") <= 10)
    after = {f["path"] for f in tbl.snapshot().files}
    # the file holding keys > 1000 must be carried over untouched
    assert before & after, "delete rewrote files it should have pruned"


def test_update(catalog, orders_df):
    tbl = catalog.create_table_as("db", "upd", orders_df.limit(500))
    tbl.update(
        F.col("o_orderstatus") == "O",
        {"o_totalprice": F.col("o_totalprice") + 1000.0},
    )
    base = orders_df.limit(500)
    expected = base.select(
        F.sum(
            F.when(
                F.col("o_orderstatus") == "O", F.col("o_totalprice") + 1000.0
            ).otherwise(F.col("o_totalprice"))
        ).alias("s")
    ).collect()[0]["s"]
    got = tbl.read().agg(F.sum("o_totalprice").alias("s")).collect()[0]["s"]
    assert abs(got - expected) < 1e-6 * max(1.0, abs(expected))


def test_merge_upsert(catalog, orders_df, spark):
    target = orders_df.filter(F.col("o_orderkey") <= 1000)
    tbl = catalog.create_table_as("db", "m", target)
    source = orders_df.filter(
        (F.col("o_orderkey") > 500) & (F.col("o_orderkey") <= 1500)
    ).withColumn("o_totalprice", F.col("o_totalprice") + 111.0)

    tbl.merge(
        source,
        on=["o_orderkey"],
        when_matched_update={"o_totalprice": F.col("__src.o_totalprice")},
        when_not_matched_insert=True,
    )
    out = tbl.read()
    n_target = target.count()
    n_inserted = orders_df.filter(
        (F.col("o_orderkey") > 1000) & (F.col("o_orderkey") <= 1500)
    ).count()
    assert out.count() == n_target + n_inserted
    # matched rows got the +111 price
    matched_sum = (
        out.filter((F.col("o_orderkey") > 500) & (F.col("o_orderkey") <= 1000))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("s"))
        .collect()[0]["s"]
    )
    base_sum = (
        orders_df.filter((F.col("o_orderkey") > 500) & (F.col("o_orderkey") <= 1000))
        .agg(F.round(F.sum(F.col("o_totalprice") + 111.0), 2).alias("s"))
        .collect()[0]["s"]
    )
    assert matched_sum == base_sum


def test_merge_delete(catalog, orders_df):
    tbl = catalog.create_table_as("db", "md", orders_df.limit(300))
    source = tbl.read().filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    n_f = source.count()
    tbl.merge(
        source, on=["o_orderkey"], when_matched_delete=True,
        when_not_matched_insert=False,
    )
    assert tbl.read().count() == 300 - n_f


def test_compact_small_files(catalog, orders_df):
    tbl = catalog.create_table("db", "c", orders_df.schema)
    for i in range(4):
        tbl.append(
            orders_df.filter(F.col("o_orderkey") % 4 == i).repartition(2)
        )
    files_before = tbl.table_info()["total_files"]
    rows_before = tbl.read().count()
    tbl.compact(small_file_bytes=64 * 1024 * 1024)
    assert tbl.table_info()["total_files"] < files_before
    assert tbl.read().count() == rows_before


def test_vacuum_expire_and_orphans(catalog, orders_df):
    tbl = catalog.create_table_as("db", "v", orders_df.limit(200))
    tbl.overwrite(orders_df.limit(50))
    tbl.overwrite(orders_df.limit(20))
    data_dir = os.path.join(tbl.location, "data")
    n_files_before = len(os.listdir(data_dir))
    result = tbl.vacuum(keep_last=1)
    assert result["expired_snapshots"]
    assert result["removed_files"]
    assert len(os.listdir(data_dir)) < n_files_before
    assert tbl.read().count() == 20  # current snapshot untouched
    with pytest.raises(LakehouseError, match="does not exist"):
        tbl.read(snapshot=2)


def test_commit_conflict(catalog, orders_df):
    tbl = catalog.create_table_as("db", "cc", orders_df.limit(10))
    base = tbl.current_version()
    tbl.append(orders_df.limit(5))  # someone else commits
    with pytest.raises(CommitConflict):
        tbl._commit(base, "append", tbl.snapshot().files, tbl.snapshot().schema_json)


def _inject_before_commit(tbl, side_effect):
    """Run ``side_effect()`` right before tbl's next commit attempt
    (once), after its staging — deterministically simulates a
    concurrent committer winning the race."""
    import types

    orig = type(tbl)._rebase_and_publish
    state = {"fired": False}

    def racy(self, *a, **k):
        if not state["fired"]:
            state["fired"] = True
            side_effect()
        return orig(self, *a, **k)

    tbl._rebase_and_publish = types.MethodType(racy, tbl)


def test_append_retries_on_conflict(catalog, orders_df):
    """Optimistic fast-append: a concurrent commit between staging and
    commit re-bases the staged files onto the new snapshot — both
    appends land, no data lost, no rewrite."""
    tbl = catalog.create_table_as("db", "retry_app", orders_df.limit(10))
    other = catalog.load_table("db", "retry_app")
    more = orders_df.limit(30).subtract(orders_df.limit(20))
    _inject_before_commit(tbl, lambda: other.append(
        orders_df.limit(20).subtract(orders_df.limit(10))
    ))
    tbl.append(more)
    assert tbl.read().count() == 30
    ops = [s.operation for s in tbl.snapshots()]
    assert ops.count("append") >= 3  # CTAS + concurrent + retried


def test_append_conflict_exhausts_retries(catalog, orders_df):
    tbl = catalog.create_table_as("db", "retry_app2", orders_df.limit(5))
    other = catalog.load_table("db", "retry_app2")
    _inject_before_commit(tbl, lambda: other.append(orders_df.limit(5)))
    with pytest.raises(CommitConflict):
        tbl.append(orders_df.limit(5), rebase=False)


def test_compact_rebases_over_concurrent_append(catalog, orders_df):
    """Compaction commit validates and re-bases: a concurrent append's
    files survive; the compacted sources are replaced."""
    tbl = catalog.create_table("db", "retry_cmp", orders_df.schema)
    for i in range(3):
        tbl.append(orders_df.limit(10 * (i + 1)).subtract(
            orders_df.limit(10 * i)
        ).repartition(1))
    other = catalog.load_table("db", "retry_cmp")
    extra = orders_df.limit(35).subtract(orders_df.limit(30))
    _inject_before_commit(tbl, lambda: other.append(extra.repartition(1)))
    tbl.compact(small_file_bytes=1 << 30)
    assert tbl.read().count() == 35
    assert tbl.snapshot().operation == "compact"


def test_compact_aborts_when_sources_rewritten(catalog, orders_df):
    """A concurrent DML that rewrote a compacted source file makes the
    compaction stale: it must abort, never resurrect deleted rows."""
    tbl = catalog.create_table("db", "retry_cmp2", orders_df.schema)
    for i in range(3):
        tbl.append(orders_df.limit(10 * (i + 1)).subtract(
            orders_df.limit(10 * i)
        ).repartition(1))
    other = catalog.load_table("db", "retry_cmp2")
    _inject_before_commit(
        tbl, lambda: other.delete(F.col("o_orderkey") >= 0)
    )
    with pytest.raises(CommitConflict, match="stale"):
        tbl.compact(small_file_bytes=1 << 30)
    # the concurrent delete's result is intact
    assert tbl.read().count() == 0


def test_catalog_ddl(catalog, orders_df, spark):
    catalog.create_table("db", "a", orders_df.schema)
    catalog.create_table("db2", "b", orders_df.schema)
    assert catalog.list_tables() == [("db", "a"), ("db2", "b")]
    catalog.rename_table("db", "a", "db", "a2")
    assert catalog.table_exists("db", "a2") and not catalog.table_exists("db", "a")
    with pytest.raises(LakehouseError, match="already exists"):
        catalog.create_table("db2", "b", orders_df.schema)
    catalog.drop_table("db2", "b", purge=True)
    assert catalog.list_tables() == [("db", "a2")]
    with pytest.raises(LakehouseError, match="does not exist"):
        catalog.load_table("db2", "b")
    with pytest.raises(LakehouseError, match="unsupported file_format"):
        catalog.create_table("db", "csv_t", orders_df.schema,
                             properties={"file_format": "csv"})


def test_partitioned_table_roundtrip_and_pruning(catalog, orders_df, spark):
    tbl = catalog.create_table_as(
        "db", "po", orders_df, partition_by=["o_orderstatus"]
    )
    assert tbl.partition_spec() == ["o_orderstatus"]
    # partition dirs exist on disk
    assert any(
        d.startswith("o_orderstatus=") for d in os.listdir(tbl.data_dir)
    )
    back = tbl.read()
    assert back.count() == orders_df.count()
    assert set(back.columns) == set(orders_df.columns)
    # partition-column predicate prunes at planning time
    q = back.filter(F.col("o_orderstatus") == "O")
    expected = orders_df.filter(F.col("o_orderstatus") == "O").count()
    assert q.count() == expected
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]


def test_partitioned_dml_and_compact(catalog, orders_df):
    tbl = catalog.create_table_as(
        "db", "pd", orders_df.limit(2000), partition_by=["o_orderstatus"]
    )
    base = orders_df.limit(2000)
    n_f = base.filter(F.col("o_orderstatus") == "F").count()
    tbl.delete(F.col("o_orderstatus") == "F")
    assert tbl.read().count() == 2000 - n_f
    tbl.update(
        F.col("o_orderstatus") == "O",
        {"o_totalprice": F.col("o_totalprice") * 2.0},
    )
    got = tbl.read().agg(F.round(F.sum("o_totalprice"), 2)).collect()[0][0]
    exp = (
        base.filter(F.col("o_orderstatus") != "F")
        .select(
            F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice") * 2.0)
            .otherwise(F.col("o_totalprice"))
            .alias("p")
        )
        .agg(F.round(F.sum("p"), 2))
        .collect()[0][0]
    )
    assert got == exp
    rows_before = tbl.read().count()
    tbl.compact(small_file_bytes=64 * 1024 * 1024)
    assert tbl.read().count() == rows_before
    tbl.vacuum(keep_last=1)
    assert tbl.read().count() == rows_before


def test_metadata_tables_and_timestamp_travel(catalog, orders_df):
    tbl = catalog.create_table_as("db", "meta", orders_df.limit(100))
    ts_after_v2 = tbl.snapshot().timestamp_ms
    tbl.append(orders_df.limit(50))
    hist = tbl.history_df().collect()
    assert [r["operation"] for r in hist] == ["create", "append", "append"]
    assert hist[-1]["total_rows"] == 150
    files = tbl.files_df().collect()
    assert sum(r["rows"] for r in files) == 150
    # TIMESTAMP AS OF: resolves to the snapshot live at that moment
    assert tbl.read_as_of(ts_after_v2).count() == 100
    assert tbl.version_as_of_timestamp(ts_after_v2 + 10**7) == tbl.current_version()


def test_maybe_compact_threshold(catalog, orders_df):
    tbl = catalog.create_table("db", "mc", orders_df.schema)
    for i in range(3):
        tbl.append(orders_df.limit(50).repartition(2))
    assert tbl.maybe_compact(file_count_threshold=64) is None  # below threshold
    snap = tbl.maybe_compact(file_count_threshold=4)
    assert snap is not None and snap.operation == "compact"
    assert tbl.read().count() == 150


def test_manifest_stats_file_skipping(catalog, orders_df):
    """Files whose column bounds exclude the predicate are never read
    (Iceberg-manifest-style data skipping from footer stats)."""
    tbl = catalog.create_table("db", "skip", orders_df.schema)
    tbl.append(orders_df.filter(F.col("o_orderkey") <= 3000).repartition(1))
    tbl.append(
        orders_df.filter(
            (F.col("o_orderkey") > 3000) & (F.col("o_orderkey") <= 6000)
        ).repartition(1)
    )
    tbl.append(orders_df.filter(F.col("o_orderkey") > 6000).repartition(1))
    selected, total = tbl.pruned_file_count({"o_orderkey": (4000, 5000)})
    assert total == 3 and selected == 1
    out = tbl.read_pruned({"o_orderkey": (4000, 5000)})
    expected = orders_df.filter(F.col("o_orderkey").between(4000, 5000)).count()
    assert out.count() == expected
    # string-column bounds work too (ISO/lexicographic ordering)
    sel_s, _ = tbl.pruned_file_count({"o_orderstatus": ("Z", None)})
    assert sel_s == 0
    # unbounded side + no-stats column → no skipping, still exact
    out2 = tbl.read_pruned({"o_orderkey": (None, 100)})
    assert out2.count() == orders_df.filter(F.col("o_orderkey") <= 100).count()


def test_merge_prunes_files_outside_source_key_range(catalog, orders_df):
    """Merge must rewrite only files whose key bounds overlap the
    source keys; others carry over by reference."""
    tbl = catalog.create_table("db", "mp", orders_df.schema)
    tbl.append(orders_df.filter(F.col("o_orderkey") <= 5000).repartition(1))
    tbl.append(orders_df.filter(F.col("o_orderkey") > 5000).repartition(1))
    before_paths = {f["path"] for f in tbl.snapshot().files}
    total = tbl.read().count()

    source = orders_df.filter(F.col("o_orderkey") <= 100).withColumn(
        "o_totalprice", F.lit(1.0)
    )
    snap = tbl.merge(
        source,
        on=["o_orderkey"],
        when_matched_update={"o_totalprice": F.col("__src.o_totalprice")},
        when_not_matched_insert=True,
    )
    # the high-key file must survive untouched
    assert before_paths & {f["path"] for f in snap.files}
    assert snap.summary["pruned_files"] >= 1
    out = tbl.read()
    assert out.count() == total  # all matched, nothing inserted
    assert out.filter(F.col("o_orderkey") <= 100).filter(
        F.col("o_totalprice") != 1.0
    ).count() == 0
    assert out.filter((F.col("o_orderkey") > 5000) & (F.col("o_totalprice") == 1.0)).count() == 0


def test_merge_insert_outside_all_bounds(catalog, orders_df, spark):
    """Source keys overlapping no file insert without any rewrite."""
    tbl = catalog.create_table_as(
        "db", "mi", orders_df.filter(F.col("o_orderkey") <= 1000)
    )
    n = tbl.read().count()
    source = orders_df.filter(
        (F.col("o_orderkey") > 8000) & (F.col("o_orderkey") <= 8100)
    )
    n_src = source.count()
    snap = tbl.merge(source, on=["o_orderkey"], when_not_matched_insert=True)
    assert snap.summary["rewritten_files"] == 0
    assert tbl.read().count() == n + n_src


def test_catalog_maintenance_sweep(catalog, orders_df):
    from pg_lakehouse_spark.maintenance import run_maintenance

    # table A: fragmented (crosses the threshold), table B: healthy
    a = catalog.create_table("db", "sweep_a", orders_df.schema)
    for i in range(5):
        a.append(orders_df.filter(F.col("o_orderkey") % 5 == i).repartition(2))
    b = catalog.create_table_as("db", "sweep_b", orders_df.limit(100))
    rows_a, rows_b = a.read().count(), 100

    reports = {r["table"]: r for r in run_maintenance(
        catalog, compaction_file_threshold=8, keep_snapshots=1
    )}
    assert reports["sweep_a"]["compacted"]
    assert reports["sweep_a"]["files_after"] < reports["sweep_a"]["files_before"]
    assert reports["sweep_a"]["expired_snapshots"] >= 1
    assert not reports["sweep_b"]["compacted"]
    # data integrity after the sweep
    assert a.read().count() == rows_a
    assert b.read().count() == rows_b


# ---------------------------------------------------------------------------
# schema evolution (id-based column resolution)
# ---------------------------------------------------------------------------


def test_add_column_old_files_read_null(catalog, orders_df, spark):
    tbl = catalog.create_table_as("db", "evo_add", orders_df.limit(100))
    files_before = {f["path"] for f in tbl.snapshot().files}
    tbl.add_column("o_channel", "string")
    # metadata-only: no data file was rewritten
    assert {f["path"] for f in tbl.snapshot().files} == files_before
    df = tbl.read()
    assert "o_channel" in df.columns
    assert df.filter(F.col("o_channel").isNull()).count() == 100
    # new appends carry the column; old files still read NULL
    newrows = orders_df.limit(5).withColumn("o_channel", F.lit("web"))
    tbl.append(newrows)
    assert tbl.read().filter(F.col("o_channel") == "web").count() == 5
    assert tbl.read().filter(F.col("o_channel").isNull()).count() == 100
    # time travel: the pre-evolution snapshot keeps the old schema
    assert "o_channel" not in tbl.read(snapshot=1).columns


def test_rename_column_resolves_old_files_by_id(catalog, orders_df):
    tbl = catalog.create_table_as("db", "evo_ren", orders_df.limit(50))
    total_before = tbl.read().agg(F.sum("o_totalprice")).collect()[0][0]
    tbl.rename_column("o_totalprice", "o_amount")
    df = tbl.read()
    assert "o_amount" in df.columns and "o_totalprice" not in df.columns
    assert df.agg(F.sum("o_amount")).collect()[0][0] == total_before
    # manifest range stats were re-keyed → pruning works on the new name
    sel, tot = tbl.pruned_file_count({"o_amount": (None, -1.0)})
    assert sel == 0 and tot >= 1
    # writes must use the new name
    with pytest.raises(LakehouseError):
        tbl.append(orders_df.limit(1))


def test_drop_and_readd_does_not_resurrect(catalog, orders_df):
    tbl = catalog.create_table_as("db", "evo_drop", orders_df.limit(30))
    tbl.drop_column("o_orderpriority")
    assert "o_orderpriority" not in tbl.read().columns
    # re-adding the same NAME gets a fresh field id → old values stay gone
    tbl.add_column("o_orderpriority", "string")
    df = tbl.read()
    assert df.filter(F.col("o_orderpriority").isNull()).count() == 30


def test_dml_and_compact_across_schema_epochs(catalog, orders_df):
    tbl = catalog.create_table_as("db", "evo_dml", orders_df.limit(100))
    tbl.rename_column("o_totalprice", "o_amount")
    tbl.add_column("o_note", "string")
    tbl.append(
        orders_df.limit(10)
        .withColumnRenamed("o_totalprice", "o_amount")
        .withColumn("o_note", F.lit("late")),
    )
    # UPDATE spanning old-epoch and new-epoch files
    tbl.update(F.col("o_amount") > 0, {"o_note": F.lit("x")})
    assert tbl.read().filter(F.col("o_note") == "x").count() == 110
    # compaction normalizes every surviving file to the current epoch
    tbl.compact(small_file_bytes=1 << 30)
    assert all(
        f.get("schema_id") == tbl.snapshot().schema_id
        for f in tbl.snapshot().files
    )
    assert tbl.read().count() == 110


def test_widen_column_int_to_bigint(catalog, orders_df, spark):
    narrow = orders_df.limit(80).withColumn(
        "o_code", F.col("o_orderkey").cast("int")
    )
    tbl = catalog.create_table_as("db", "evo_widen", narrow)
    files_before = {f["path"] for f in tbl.snapshot().files}
    expected_sum = narrow.agg(F.sum("o_code")).collect()[0][0]
    tbl.widen_column("o_code", "bigint")
    # metadata-only: no data file was rewritten
    assert {f["path"] for f in tbl.snapshot().files} == files_before
    df = tbl.read()
    assert dict(df.dtypes)["o_code"] == "bigint"
    assert df.agg(F.sum("o_code")).collect()[0][0] == expected_sum
    # appends after widening carry values that need the wide type
    wide = orders_df.limit(5).withColumn(
        "o_code", F.col("o_orderkey") + F.lit(1 << 40)
    )
    tbl.append(wide)
    assert tbl.read().filter(F.col("o_code") >= (1 << 40)).count() == 5
    assert tbl.read().count() == 85
    # time travel: pre-widen snapshot keeps the narrow type
    assert dict(tbl.read(snapshot=1).dtypes)["o_code"] == "int"
    # DML spanning both epochs, then compaction upgrades everything
    tbl.update(F.col("o_code") >= (1 << 40), {"o_orderstatus": F.lit("W")})
    assert tbl.read().filter(F.col("o_orderstatus") == "W").count() == 5
    tbl.compact(small_file_bytes=1 << 30)
    assert all(
        f.get("schema_id") == tbl.snapshot().schema_id
        for f in tbl.snapshot().files
    )
    assert dict(tbl.read().dtypes)["o_code"] == "bigint"
    assert tbl.read().count() == 85


def test_widen_column_float_to_double_and_rename_interplay(catalog, orders_df):
    narrow = orders_df.limit(40).withColumn(
        "o_ratio", F.col("o_totalprice").cast("float")
    )
    tbl = catalog.create_table_as("db", "evo_widen2", narrow)
    tbl.widen_column("o_ratio", "double")
    # field id is stable through a subsequent rename: old files still
    # resolve, and the cast to double applies under the new name
    tbl.rename_column("o_ratio", "o_frac")
    df = tbl.read()
    assert dict(df.dtypes)["o_frac"] == "double"
    assert df.filter(F.col("o_frac").isNotNull()).count() == 40


def test_widen_column_guards(catalog, orders_df):
    narrow = orders_df.limit(10).withColumn(
        "o_code", F.col("o_orderkey").cast("int")
    )
    tbl = catalog.create_table_as("db", "evo_widen_guard", narrow)
    with pytest.raises(LakehouseError, match="cannot widen"):
        tbl.widen_column("o_orderkey", "int")  # narrowing
    with pytest.raises(LakehouseError, match="cannot widen"):
        tbl.widen_column("o_code", "string")  # not a promotion
    with pytest.raises(LakehouseError, match="cannot widen"):
        tbl.widen_column("o_totalprice", "float")  # double->float
    with pytest.raises(LakehouseError, match="no such column"):
        tbl.widen_column("nope", "bigint")


def test_widen_container_types(catalog, orders_df, spark):
    """Array-element and map-value widening: metadata-only commits;
    old narrow files cast up at read; post-widen appends carry values
    that need the wide type."""
    narrow = orders_df.limit(60).select(
        "o_orderkey",
        F.array(
            F.col("o_orderkey").cast("int"),
            (F.col("o_orderkey") % 7).cast("int"),
        ).alias("hist"),
        F.create_map(
            F.lit("pri"), (F.col("o_orderkey") % 5).cast("int")
        ).alias("attrs"),
    )
    tbl = catalog.create_table_as("db", "evo_container", narrow)
    files_before = {f["path"] for f in tbl.snapshot().files}
    expected = narrow.select(
        F.sum(F.expr("aggregate(hist, 0L, (a, x) -> a + x)"))
    ).collect()[0][0]
    tbl.widen_column("hist", "array<bigint>")
    tbl.widen_column("attrs", "map<string,bigint>")
    # metadata-only: no data file was rewritten by either widen
    assert {f["path"] for f in tbl.snapshot().files} == files_before
    df = tbl.read()
    assert dict(df.dtypes)["hist"] == "array<bigint>"
    assert dict(df.dtypes)["attrs"] == "map<string,bigint>"
    got = df.select(
        F.sum(F.expr("aggregate(hist, 0L, (a, x) -> a + x)"))
    ).collect()[0][0]
    assert got == expected
    # appends now carry values beyond int range
    wide = orders_df.limit(4).select(
        "o_orderkey",
        F.array(F.col("o_orderkey") + F.lit(1 << 40)).alias("hist"),
        F.create_map(F.lit("pri"), F.col("o_orderkey") + F.lit(1 << 40)).alias(
            "attrs"
        ),
    )
    tbl.append(wide)
    assert (
        tbl.read()
        .filter(F.element_at("attrs", "pri") >= (1 << 40))
        .count()
        == 4
    )
    assert tbl.read().count() == 64
    # time travel: pre-widen snapshot keeps narrow containers
    assert dict(tbl.read(snapshot=1).dtypes)["hist"] == "array<int>"
    # guards: key/nullability changes and non-promotions are rejected
    with pytest.raises(LakehouseError, match="cannot widen"):
        tbl.widen_column("hist", "array<string>")
    with pytest.raises(LakehouseError, match="cannot widen"):
        tbl.widen_column("attrs", "map<bigint,bigint>")


def test_widen_container_inside_struct(catalog, orders_df):
    """A struct CHILD of array type widens via the dotted path; the
    epoch projection rebuilds the struct with the element cast."""
    base = orders_df.limit(30).select(
        "o_orderkey",
        F.struct(
            F.array(F.col("o_orderkey").cast("int")).alias("codes"),
            F.col("o_orderstatus").alias("status"),
        ).alias("props"),
    )
    tbl = catalog.create_table_as("db", "evo_container_nested", base)
    tbl.widen_column("props.codes", "array<bigint>")
    df = tbl.read()
    assert dict(df.dtypes)["props"] == "struct<codes:array<bigint>,status:string>"
    assert (
        df.select(F.sum(F.element_at("props.codes", 1))).collect()[0][0]
        == base.select(
            F.sum(F.element_at("props.codes", 1))
        ).collect()[0][0]
    )


def test_array_element_field_evolution(catalog, orders_df, spark):
    """add/rename/widen/drop of fields INSIDE array<struct> elements
    (path grammar ``col.element.child``): metadata-only commits; old
    files rebuild elements by field id via transform() at read time."""
    base = orders_df.limit(50).select(
        "o_orderkey",
        F.array(
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.col("o_orderkey").cast("int").alias("code"),
            ),
            F.struct(
                F.lit("X").alias("status"),
                (F.col("o_orderkey") + 1).cast("int").alias("code"),
            ),
        ).alias("items"),
    )
    tbl = catalog.create_table_as("db", "evo_elem", base)
    files_before = {f["path"] for f in tbl.snapshot().files}
    tbl.add_column("items.element.qty", "bigint")
    tbl.rename_column("items.element.code", "ref")
    tbl.widen_column("items.element.ref", "bigint")
    assert {f["path"] for f in tbl.snapshot().files} == files_before
    df = tbl.read()
    assert (
        dict(df.dtypes)["items"]
        == "array<struct<status:string,ref:bigint,qty:bigint>>"
    )
    # old rows: ref resolves from old 'code' ints, qty reads NULL
    first = F.element_at("items", 1)
    assert df.filter(first["qty"].isNotNull()).count() == 0
    assert (
        df.select(F.sum(first["ref"])).collect()[0][0]
        == base.select(
            F.sum(F.element_at("items", 1)["code"])
        ).collect()[0][0]
    )
    # append under the evolved layout with values needing bigint
    newrows = orders_df.limit(3).select(
        "o_orderkey",
        F.array(
            F.struct(
                F.lit("N").alias("status"),
                (F.col("o_orderkey") + F.lit(1 << 40)).alias("ref"),
                F.lit(7).cast("bigint").alias("qty"),
            )
        ).cast(tbl.schema()["items"].dataType).alias("items"),
    )
    tbl.append(newrows)
    assert tbl.read().filter(first["ref"] >= (1 << 40)).count() == 3
    assert tbl.read().count() == 53
    # drop an element field: disappears from every epoch
    tbl.drop_column("items.element.status")
    df2 = tbl.read()
    assert dict(df2.dtypes)["items"] == "array<struct<ref:bigint,qty:bigint>>"
    assert df2.count() == 53
    # time travel: the pre-evolution snapshot keeps the old layout
    assert (
        dict(tbl.read(snapshot=1).dtypes)["items"]
        == "array<struct<status:string,code:int>>"
    )
    # re-adding a dropped name never resurrects old data (fresh id)
    tbl.add_column("items.element.status", "string")
    assert (
        tbl.read()
        .filter(F.element_at("items", 1)["status"].isNotNull())
        .count()
        == 0
    )
    # guards
    with pytest.raises(LakehouseError, match="already exists"):
        tbl.add_column("items.element.ref", "bigint")
    with pytest.raises(LakehouseError, match="no such column"):
        tbl.rename_column("items.element.nope", "x")
    with pytest.raises(LakehouseError, match="non-array"):
        tbl.add_column("o_orderkey.element.x", "int")


def test_map_value_field_evolution(catalog, orders_df, spark):
    """add/rename/widen/drop of fields inside map<K,struct> VALUES
    (path grammar ``col.value.child``); old files rebuild values by
    field id via transform_values() at read time."""
    base = orders_df.limit(40).select(
        "o_orderkey",
        F.create_map(
            F.lit("main"),
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.col("o_orderkey").cast("int").alias("code"),
            ),
        ).alias("attrs"),
    )
    tbl = catalog.create_table_as("db", "evo_mapval", base)
    files_before = {f["path"] for f in tbl.snapshot().files}
    tbl.add_column("attrs.value.qty", "bigint")
    tbl.rename_column("attrs.value.code", "ref")
    tbl.widen_column("attrs.value.ref", "bigint")
    assert {f["path"] for f in tbl.snapshot().files} == files_before
    df = tbl.read()
    assert (
        dict(df.dtypes)["attrs"]
        == "map<string,struct<status:string,ref:bigint,qty:bigint>>"
    )
    main = F.element_at("attrs", "main")
    assert df.filter(main["qty"].isNotNull()).count() == 0
    assert (
        df.select(F.sum(main["ref"])).collect()[0][0]
        == base.select(
            F.sum(F.element_at("attrs", "main")["code"])
        ).collect()[0][0]
    )
    # append under the evolved layout, then drop a value field
    newrows = orders_df.limit(2).select(
        "o_orderkey",
        F.create_map(
            F.lit("main"),
            F.struct(
                F.lit("N").alias("status"),
                (F.col("o_orderkey") + F.lit(1 << 40)).alias("ref"),
                F.lit(3).cast("bigint").alias("qty"),
            ),
        ).cast(tbl.schema()["attrs"].dataType).alias("attrs"),
    )
    tbl.append(newrows)
    assert tbl.read().filter(main["ref"] >= (1 << 40)).count() == 2
    tbl.drop_column("attrs.value.status")
    assert (
        dict(tbl.read().dtypes)["attrs"]
        == "map<string,struct<ref:bigint,qty:bigint>>"
    )
    assert tbl.read().count() == 42
    with pytest.raises(LakehouseError, match="non-map"):
        tbl.add_column("o_orderkey.value.x", "int")


def test_array_element_evolution_dml_and_compact(catalog, orders_df):
    """Element-field evolution composes with DML (rewrite keeps the
    evolved layout) and compaction (upgrades old-epoch files)."""
    base = orders_df.limit(40).select(
        "o_orderkey",
        F.array(
            F.struct(F.col("o_orderkey").cast("int").alias("code"))
        ).alias("items"),
    )
    tbl = catalog.create_table_as("db", "evo_elem_dml", base)
    tbl.widen_column("items.element.code", "bigint")
    tbl.update(
        F.col("o_orderkey") <= 10,
        {"o_orderkey": F.col("o_orderkey") + 1000000},
    )
    assert tbl.read().filter(F.col("o_orderkey") > 1000000).count() == 10
    tbl.compact(small_file_bytes=1 << 30)
    snap = tbl.snapshot()
    assert all(f.get("schema_id") == snap.schema_id for f in snap.files)
    assert (
        dict(tbl.read().dtypes)["items"] == "array<struct<code:bigint>>"
    )
    assert tbl.read().count() == 40


def test_partition_evolution_unpartitioned_to_partitioned(
    catalog, orders_df, spark
):
    """set_partition_spec is metadata-only: old files keep their flat
    layout, new writes land in hive dirs, reads span both layouts, and
    manifest pruning works on the partition column for BOTH (footer
    stats on old files, dir-derived stats on new)."""
    tbl = catalog.create_table_as("db", "pevo", orders_df.limit(100))
    files_before = {f["path"] for f in tbl.snapshot().files}
    tbl.set_partition_spec(["o_orderstatus"])
    # metadata-only: same files, new default spec
    assert {f["path"] for f in tbl.snapshot().files} == files_before
    assert tbl.partition_spec() == ["o_orderstatus"]
    extra = orders_df.limit(160).subtract(orders_df.limit(100))
    tbl.append(extra)
    snap = tbl.snapshot()
    new_files = [
        f for f in snap.files if f["path"] not in files_before
    ]
    assert new_files and all(
        "o_orderstatus=" in f["path"] for f in new_files
    )
    assert all("o_orderstatus=" not in p for p in files_before)
    # full read spans both layouts
    assert tbl.read().count() == 160
    assert (
        tbl.read().filter(F.col("o_orderstatus").isNull()).count() == 0
    )
    assert set(tbl.read().columns) == set(orders_df.columns)
    # dir-derived manifest stats: every new file has tight bounds
    for f in new_files:
        lo, hi = f["ranges"]["o_orderstatus"]
        assert lo == hi
    # pruning on the partition column consults both kinds of stats
    kept, total = tbl.pruned_file_count({"o_orderstatus": ("F", "F")})
    assert kept < total
    # counts agree with an unpruned read
    n_f = tbl.read().filter(F.col("o_orderstatus") == "F").count()
    assert (
        tbl.read_pruned({"o_orderstatus": ("F", "F")})
        .filter(F.col("o_orderstatus") == "F")
        .count()
        == n_f
    )


def test_partition_evolution_dml_and_compact_upgrade(catalog, orders_df):
    """DML rewrites and compaction move files to the CURRENT spec;
    after compaction the old layout is gone and previously-blocked
    column ops on the retired partition column become legal."""
    tbl = catalog.create_table_as(
        "db", "pevo2", orders_df.limit(80),
        partition_by=["o_orderstatus"],
    )
    tbl.set_partition_spec([])  # retire the partitioning
    # the old files still partition by o_orderstatus → rename blocked
    with pytest.raises(LakehouseError, match="partition column"):
        tbl.rename_column("o_orderstatus", "status")
    # DML rewrite lands under the new (flat) spec
    n_match = tbl.read().filter(F.col("o_orderkey") <= 5).count()
    tbl.update(
        F.col("o_orderkey") <= 5, {"o_totalprice": F.lit(0.0)}
    )
    # compaction upgrades every remaining old-layout file
    tbl.compact(small_file_bytes=1 << 30)
    assert all(
        "o_orderstatus=" not in f["path"] for f in tbl.snapshot().files
    )
    assert tbl.read().count() == 80
    assert (
        tbl.read().filter(F.col("o_totalprice") == 0.0).count() == n_match
    )
    # the column is no longer a live partition key anywhere → rename ok
    tbl.rename_column("o_orderstatus", "status")
    assert "status" in tbl.read().columns


def test_partition_evolution_repartition_and_time_travel(
    catalog, orders_df
):
    """Spec change to a DIFFERENT column: three layouts coexist; time
    travel reads each historical snapshot under its own layout."""
    tbl = catalog.create_table_as("db", "pevo3", orders_df.limit(50))
    v_flat = tbl.current_version()
    tbl.set_partition_spec(["o_orderstatus"])
    tbl.append(orders_df.limit(80).subtract(orders_df.limit(50)))
    v_status = tbl.current_version()
    tbl.set_partition_spec(["o_orderpriority"])
    tbl.append(orders_df.limit(100).subtract(orders_df.limit(80)))
    specs = {tbl._entry_spec(f) for f in tbl.snapshot().files}
    assert specs == {(), ("o_orderstatus",), ("o_orderpriority",)}
    assert tbl.read().count() == 100
    assert tbl.read(snapshot=v_flat).count() == 50
    assert tbl.read(snapshot=v_status).count() == 80
    # aggregates across the three layouts agree with the source
    got = (
        tbl.read().groupBy("o_orderstatus").count().orderBy("o_orderstatus")
    ).collect()
    exp = (
        orders_df.limit(100).groupBy("o_orderstatus").count()
        .orderBy("o_orderstatus")
    ).collect()
    assert got == exp


def test_hidden_partitioning_time_transform(catalog, orders_df, spark):
    """days/months/hours transforms: the derived value exists only as
    a hive dir (user schema untouched); predicates on the SOURCE
    column prune files through the transform — Iceberg hidden
    partitioning."""
    src = orders_df.limit(300)
    tbl = catalog.create_table_as(
        "db", "hp_time", src, partition_by=["months(o_orderdate)"]
    )
    snap = tbl.snapshot()
    assert all("o_orderdate_month=" in f["path"] for f in snap.files)
    # hidden: the derived column never appears in the user schema
    assert set(tbl.read().columns) == set(src.columns)
    assert tbl.read().count() == 300
    # pruning on the SOURCE column goes through the month dirs
    kept, total = tbl.pruned_file_count(
        {"o_orderdate": ("1996-01-01", "1996-12-31")}
    )
    assert kept < total
    n = (
        tbl.read_pruned({"o_orderdate": ("1996-01-01", "1996-12-31")})
        .count()
    )
    exp = src.filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") <= "1996-12-31")
    ).count()
    assert n == exp > 0
    # source column is a live (hidden) partition key → rename blocked
    with pytest.raises(LakehouseError, match="partition column"):
        tbl.rename_column("o_orderdate", "odate")


def test_hidden_partitioning_bucket_and_truncate(catalog, orders_df):
    src = orders_df.limit(200)
    tbl = catalog.create_table_as(
        "db", "hp_bucket", src, partition_by=["bucket(4, o_custkey)"]
    )
    assert {tbl._entry_spec(f) for f in tbl.snapshot().files} == {
        ("o_custkey_bucket4",)
    }
    assert tbl.read().count() == 200
    assert set(tbl.read().columns) == set(src.columns)
    # DML across hidden-bucketed layout
    tbl.update(F.col("o_orderkey") <= 3, {"o_totalprice": F.lit(1.0)})
    got = tbl.read().filter(F.col("o_totalprice") == 1.0).count()
    assert got == src.filter(F.col("o_orderkey") <= 3).count()

    tbl2 = catalog.create_table_as(
        "db", "hp_trunc", src, partition_by=["truncate(100, o_orderkey)"]
    )
    kept, total = tbl2.pruned_file_count({"o_orderkey": (0, 80)})
    assert 1 <= kept < total
    assert (
        tbl2.read_pruned({"o_orderkey": (0, 80)}).count()
        == src.filter(F.col("o_orderkey").between(0, 80)).count()
    )


def test_transform_pruning_logic():
    """Transform-derived bounds prune on the SOURCE column even when a
    file carries no direct stats for it (dirs are the only metadata —
    the pure hidden-partitioning case)."""
    from pg_lakehouse_spark.lakehouse import LakeTable

    day = {"ranges": {"ts_day": ["2024-01-03", "2024-01-03"]}}
    assert not LakeTable._entry_overlaps(
        day, {"ts": ("2024-01-04 00:00:00", None)}
    )
    assert not LakeTable._entry_overlaps(
        day, {"ts": (None, "2024-01-02T23:59:59")}
    )
    assert LakeTable._entry_overlaps(
        day, {"ts": ("2024-01-03T15:00:00", None)}
    )
    month = {"ranges": {"ts_month": ["2024-02", "2024-02"]}}
    assert not LakeTable._entry_overlaps(month, {"ts": ("2024-03-01", None)})
    assert LakeTable._entry_overlaps(month, {"ts": ("2024-02-29", None)})
    trunc = {"ranges": {"k_trunc100": [100, 100]}}
    assert not LakeTable._entry_overlaps(trunc, {"k": (0, 80)})
    assert not LakeTable._entry_overlaps(trunc, {"k": (201, None)})
    assert LakeTable._entry_overlaps(trunc, {"k": (150, None)})
    # bucket dirs are hash-ordered → never range-prunable
    bucket = {"ranges": {"k_bucket4": [2, 2]}}
    assert LakeTable._entry_overlaps(bucket, {"k": (0, 1)})
    # ...but equality filters prune via the precomputed bucket value
    assert not LakeTable._entry_overlaps(
        bucket, {"k": (7, 7)}, {"k_bucket4": 1}
    )
    assert LakeTable._entry_overlaps(bucket, {"k": (7, 7)}, {"k_bucket4": 2})


def test_hash_write_distribution(catalog, orders_df, spark):
    """Partitioned ingest hash-distributes by partition value: ~one
    file per partition instead of tasks × partitions; opting out with
    write_distribution='none' restores task-parallel writes."""
    src = orders_df.limit(2000).repartition(8)
    tbl = catalog.create_table(
        "db", "wd_hash", orders_df.schema, partition_by=["o_orderstatus"]
    )
    tbl.append(src)
    n_parts = src.select("o_orderstatus").distinct().count()
    assert len(tbl.snapshot().files) == n_parts
    assert tbl.read().count() == 2000

    tbl2 = catalog.create_table(
        "db", "wd_none", orders_df.schema,
        partition_by=["o_orderstatus"],
        properties={"write_distribution": "none"},
    )
    tbl2.append(src)
    assert len(tbl2.snapshot().files) > n_parts


def test_partitions_metadata_table(catalog, orders_df):
    tbl = catalog.create_table_as(
        "db", "pmeta", orders_df.limit(500),
        partition_by=["o_orderstatus"],
    )
    rows = {
        r["partition"]["o_orderstatus"]: (r["file_count"], r["row_count"])
        for r in tbl.partitions_df().collect()
    }
    exp = {
        r["o_orderstatus"]: r["count"]
        for r in orders_df.limit(500)
        .groupBy("o_orderstatus")
        .count()
        .collect()
    }
    assert set(rows) == set(exp)
    for k, n in exp.items():
        assert rows[k][1] == n
    assert tbl.partitions_df().agg(F.sum("row_count")).collect()[0][0] == 500


def test_bucket_point_lookup_pruning(catalog, orders_df):
    """An equality filter on a bucket-partitioned column keeps only
    the matching bucket's files (the write-side hash is recomputed
    JVM-side for the filter value)."""
    src = orders_df.limit(400)
    tbl = catalog.create_table_as(
        "db", "hp_bucket_pt", src, partition_by=["bucket(8, o_custkey)"]
    )
    key = src.select("o_custkey").first()[0]
    kept, total = tbl.pruned_file_count({"o_custkey": (key, key)})
    assert total >= 4 and kept <= max(1, total // 4)
    assert (
        tbl.read_pruned({"o_custkey": (key, key)}).count()
        == src.filter(F.col("o_custkey") == key).count()
    )


def test_hidden_partitioning_via_spec_evolution(catalog, orders_df):
    """A flat table evolves INTO hidden time-partitioning; both
    layouts coexist and source-column pruning still applies to the
    transformed files."""
    tbl = catalog.create_table_as("db", "hp_evo", orders_df.limit(100))
    tbl.set_partition_spec(["months(o_orderdate)"])
    tbl.append(orders_df.limit(300).subtract(orders_df.limit(100)))
    specs = {tbl._entry_spec(f) for f in tbl.snapshot().files}
    assert specs == {(), ("o_orderdate_month",)}
    assert tbl.read().count() == 300
    n = tbl.read_pruned({"o_orderdate": ("1995-01-01", None)}).count()
    exp = (
        orders_df.limit(300)
        .filter(F.col("o_orderdate") >= "1995-01-01")
        .count()
    )
    assert n == exp
    with pytest.raises(LakehouseError, match="bad partition spec"):
        tbl.set_partition_spec(["years(o_orderdate)"])


def test_evolution_guards(catalog, orders_df, spark):
    tbl = catalog.create_table(
        "db", "evo_guard", orders_df.schema, partition_by=["o_orderstatus"]
    )
    tbl.append(orders_df.limit(20))
    with pytest.raises(LakehouseError):
        tbl.rename_column("o_orderstatus", "status")  # partition column
    with pytest.raises(LakehouseError):
        tbl.drop_column("o_orderstatus")
    with pytest.raises(LakehouseError):
        tbl.add_column("o_orderkey", "bigint")  # duplicate
    with pytest.raises(LakehouseError):
        tbl.rename_column("nope", "x")


def test_orc_table_roundtrip_dml_and_evolution(catalog, orders_df):
    tbl = catalog.create_table(
        "db", "orders_orc", orders_df.schema,
        properties={"file_format": "orc"},
    )
    tbl.append(orders_df.limit(200))
    assert tbl.file_format() == "orc"
    assert all(f["path"].endswith(".orc") for f in tbl.snapshot().files)
    assert tbl.read().count() == 200
    v1 = tbl.current_version()
    # DML on orc files (no range stats → conservative, still correct)
    tbl.delete(F.col("o_orderkey") < 50)
    assert tbl.read().count() == orders_df.limit(200).filter(
        F.col("o_orderkey") >= 50
    ).count()
    assert tbl.read(snapshot=v1).count() == 200  # time travel intact
    # schema evolution across orc epochs
    tbl.rename_column("o_totalprice", "o_amount")
    assert tbl.read().agg(F.sum("o_amount")).collect()[0][0] is not None


def test_bad_file_format_rejected(catalog, orders_df):
    with pytest.raises(LakehouseError):
        catalog.create_table(
            "db", "bad_fmt", orders_df.schema,
            properties={"file_format": "feather"},
        )


def test_sql_over_lake_table_with_native_join(catalog, orders_df, spark):
    """The reference README's flagship demo (README.md:28-42): a
    WHERE-filtered scan of the lakehouse table plus a JOIN between the
    lakehouse table and a 'native' (non-lakehouse) table, in plain SQL.
    Here: snapshot reads register as temp views; the PG executor role
    is played by Spark SQL."""
    tbl = catalog.create_table_as("db", "orders_lake", orders_df.limit(500))
    tbl.read().createOrReplaceTempView("orders_lake")
    native = spark.createDataFrame(
        [(i, f"cust{i}") for i in range(0, 1000, 7)], "custkey long, name string"
    )
    native.createOrReplaceTempView("local_customers")
    filtered = spark.sql(
        "SELECT count(*) AS n FROM orders_lake WHERE o_totalprice > 100000"
    ).collect()[0]["n"]
    assert filtered == orders_df.limit(500).filter(
        F.col("o_totalprice") > 100000
    ).count()
    joined = spark.sql(
        """
        SELECT l.name, count(*) AS n_orders
        FROM orders_lake o JOIN local_customers l ON o.o_custkey = l.custkey
        GROUP BY l.name
        """
    )
    assert joined.count() > 0


def test_typed_all_scan_type_coverage(catalog, spark):
    """FIXTURES.md §A scan-type coverage: every type the reference's
    scan decodes (scan_ops.c:105-159) plus DECIMAL (orders_ref schema,
    README.md:28-33) round-trips through the lakehouse with NULLs in
    every column (null-bitmap path, iceberg_bridge.cpp:562-571)."""
    import datetime
    from decimal import Decimal

    schema = (
        "c_bool boolean, c_i16 smallint, c_i32 int, c_i64 bigint, "
        "c_f32 float, c_f64 double, c_text string, c_varchar string, "
        "c_date date, c_ts timestamp_ntz, c_dec decimal(12,2), c_bin binary"
    )
    rows = [
        (True, 1, 2, 3, 1.5, 2.5, "a", "b",
         datetime.date(2024, 1, 2), datetime.datetime(2024, 1, 2, 3, 4, 5),
         Decimal("12345.67"), b"\x01\x02"),
        (None, None, None, None, None, None, None, None, None, None, None, None),
        (False, -1, -2, -3, -1.5, -2.5, "", "z",
         datetime.date(1969, 12, 31), datetime.datetime(1969, 12, 31, 23, 59, 59),
         Decimal("-0.01"), b""),
    ]
    df = spark.createDataFrame(rows, schema)
    tbl = catalog.create_table_as("db", "typed_all", df)
    back = tbl.read()
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect()), key=repr) == sorted(
        map(tuple, df.collect()), key=repr
    )
    # DML across the whole type surface
    tbl.update(F.col("c_bool") == True, {"c_text": F.lit("updated")})  # noqa: E712
    assert tbl.read().filter(F.col("c_text") == "updated").count() == 1
    tbl.delete(F.col("c_i32").isNull())
    assert tbl.read().count() == 2


# ---------------------------------------------------------------------------
# change data feed (row-level CDC)
# ---------------------------------------------------------------------------


def test_tags_and_rollback(catalog, orders_df):
    """Named refs: tags pin snapshots by name (read by tag, expiry-
    protected); rollback_to restores a past state as a NEW commit —
    linear, auditable history."""
    tbl = catalog.create_table_as("db", "tagged", orders_df.limit(50))
    tbl.tag("baseline")
    tbl.append(orders_df.limit(80).subtract(orders_df.limit(50)))
    tbl.delete(F.col("o_orderkey") < 10)
    assert tbl.read("baseline").count() == 50  # tag read
    assert tbl.tags() == {"baseline": 2}
    # expiry keeps the tagged snapshot alive
    tbl.expire_snapshots(keep_last=1)
    assert tbl.read("baseline").count() == 50
    # rollback restores the tagged state as a new commit
    n_now = tbl.read().count()
    assert n_now != 50
    tbl.rollback_to("baseline")
    assert tbl.read().count() == 50
    assert tbl.snapshot().operation == "rollback"
    assert tbl.snapshot().summary["rolled_back_to"] == 2
    # history is linear: version advanced, nothing deleted
    assert tbl.current_version() > 2
    with pytest.raises(LakehouseError, match="no such tag"):
        tbl.read("nope")
    tbl.drop_tag("baseline")
    assert tbl.tags() == {}


def test_rollback_after_schema_evolution(catalog, orders_df):
    """Rollback restores the OLD schema epoch too — and later files
    written under the newer epoch stay resolvable if rolled forward."""
    tbl = catalog.create_table_as("db", "tagged2", orders_df.limit(30))
    v1 = tbl.current_version()
    tbl.rename_column("o_totalprice", "amount")
    tbl.add_column("chan", "string")
    assert "amount" in tbl.read().columns
    tbl.rollback_to(v1)
    cols = tbl.read().columns
    assert "o_totalprice" in cols and "chan" not in cols
    assert tbl.read().count() == 30


def _mor_table(catalog, orders_df, name, n=200, **extra_props):
    return catalog.create_table_as(
        "db", name, orders_df.limit(n),
        properties={
            "row_key": "o_orderkey",
            "write_delete_mode": "merge-on-read",
            **extra_props,
        },
    )


def test_mor_delete_no_rewrite(catalog, orders_df):
    """Merge-on-read DELETE: no data file is rewritten — only a key
    file lands; reads anti-join it; time travel predates it."""
    tbl = _mor_table(catalog, orders_df, "mor1")
    files_before = {f["path"] for f in tbl.snapshot().files}
    v1 = tbl.current_version()
    n_del = tbl.read().filter(F.col("o_orderkey") < 50).count()
    tbl.delete(F.col("o_orderkey") < 50)
    snap = tbl.snapshot()
    assert {f["path"] for f in snap.files} == files_before  # no rewrite
    assert len(snap.delete_files) == 1
    assert snap.delete_files[0]["rows"] == n_del
    assert tbl.read().count() == 200 - n_del
    assert tbl.read().filter(F.col("o_orderkey") < 50).count() == 0
    assert tbl.read(snapshot=v1).count() == 200  # time travel unaffected
    # second delete stacks
    tbl.delete(F.col("o_orderkey").between(50, 59))
    assert len(tbl.snapshot().delete_files) == 2
    assert tbl.read().filter(F.col("o_orderkey") < 60).count() == 0


def test_mor_update_postimage_exempt_from_delete(catalog, orders_df):
    """MoR UPDATE = delete keys + postimage appends; the postimages'
    higher sequence number exempts them from their own delete — rows
    appear exactly once, updated."""
    tbl = _mor_table(catalog, orders_df, "mor2")
    n_match = tbl.read().filter(F.col("o_orderkey") < 20).count()
    tbl.update(
        F.col("o_orderkey") < 20, {"o_totalprice": F.lit(42.0)}
    )
    df = tbl.read()
    assert df.count() == 200  # no loss, no duplication
    assert df.filter(F.col("o_totalprice") == 42.0).count() == n_match
    assert (
        df.filter(
            (F.col("o_orderkey") < 20) & (F.col("o_totalprice") != 42.0)
        ).count()
        == 0
    )


def test_mor_append_after_delete_is_exempt(catalog, orders_df):
    """Rows appended AFTER a delete keep their keys even if those keys
    were deleted (sequence rule) — re-inserting a deleted key works."""
    tbl = _mor_table(catalog, orders_df, "mor3", n=100)
    victims = tbl.read().filter(F.col("o_orderkey") < 10)
    n_victims = victims.count()
    assert n_victims > 0
    tbl.delete(F.col("o_orderkey") < 10)
    assert tbl.read().filter(F.col("o_orderkey") < 10).count() == 0
    tbl.append(orders_df.limit(100).filter(F.col("o_orderkey") < 10))
    assert tbl.read().filter(F.col("o_orderkey") < 10).count() == n_victims
    assert tbl.read().count() == 100


def test_mor_compaction_applies_and_retires_deletes(catalog, orders_df):
    tbl = _mor_table(catalog, orders_df, "mor4")
    tbl.delete(F.col("o_orderkey") < 30)
    n_after = tbl.read().count()
    assert tbl.snapshot().delete_files
    tbl.compact(small_file_bytes=1 << 30, min_files=1)
    snap = tbl.snapshot()
    assert snap.delete_files == []  # full rewrite retires every delete
    assert tbl.read().count() == n_after
    assert tbl.read().filter(F.col("o_orderkey") < 30).count() == 0
    # expiry GCs the now-unreferenced delete files on disk
    tbl.expire_snapshots(keep_last=1)
    import glob as _glob
    import os as _os

    assert not _glob.glob(
        _os.path.join(tbl.location, "_deletes", "*.parquet")
    )


def test_mor_survives_row_key_rename(catalog, orders_df):
    """Delete keys resolve by field id: renaming the row-key column
    after a MoR delete keeps the delete applying."""
    tbl = _mor_table(catalog, orders_df, "mor5", n=80)
    tbl.delete(F.col("o_orderkey") < 10)
    n = tbl.read().count()
    # o_orderkey partitions nothing; rename is legal and id-stable
    tbl.rename_column("o_orderkey", "okey")
    assert tbl.read().count() == n
    assert tbl.read().filter(F.col("okey") < 10).count() == 0


def test_mor_guards_and_mixed_modes(catalog, orders_df):
    tbl = catalog.create_table_as("db", "mor6", orders_df.limit(50))
    with pytest.raises(LakehouseError, match="row_key"):
        tbl.delete(F.col("o_orderkey") < 5, mode="merge-on-read")
    tbl2 = _mor_table(catalog, orders_df, "mor7", n=60)
    tbl2.delete(F.col("o_orderkey") < 5)
    with pytest.raises(LakehouseError, match="delete files"):
        tbl2.drop_column("o_orderkey")
    # CoW delete on a table with live MoR deletes composes
    n_cow = tbl2.read().filter(F.col("o_orderstatus") == "F").count()
    before = tbl2.read().count()
    tbl2.delete(F.col("o_orderstatus") == "F", mode="copy-on-write")
    assert tbl2.read().count() == before - n_cow
    assert tbl2.read().filter(F.col("o_orderkey") < 5).count() == 0


def test_mor_merge_upsert(catalog, orders_df):
    """MoR MERGE: matched rows retire via delete keys; postimages and
    inserts append (seq-exempt) — same end state as CoW merge, zero
    target-file rewrites."""
    base_rows = orders_df.filter(F.col("o_orderkey") <= 100)
    tbl = catalog.create_table_as(
        "db", "mor_merge", base_rows,
        properties={
            "row_key": "o_orderkey",
            "write_delete_mode": "merge-on-read",
        },
    )
    files_before = {f["path"] for f in tbl.snapshot().files}
    source = orders_df.filter(
        (F.col("o_orderkey") > 50) & (F.col("o_orderkey") <= 150)
    ).withColumn("o_totalprice", F.col("o_totalprice") + 9.0)
    tbl.merge(
        source, on=["o_orderkey"],
        when_matched_update={"o_totalprice": F.col("__src.o_totalprice")},
        when_not_matched_insert=True,
    )
    snap = tbl.snapshot()
    # all original files still present (no rewrite), plus appends
    assert files_before <= {f["path"] for f in snap.files}
    assert snap.delete_files
    df = tbl.read()
    n_all = orders_df.filter(F.col("o_orderkey") <= 150).count()
    assert df.count() == n_all
    # every source row contributes +9: matched via update, unmatched
    # because the inserted rows already carry the bumped price
    exp_sum = (
        orders_df.filter(F.col("o_orderkey") <= 150)
        .agg(F.sum("o_totalprice"))
        .collect()[0][0]
        + 9.0 * source.count()
    )
    got_sum = df.agg(F.sum("o_totalprice")).collect()[0][0]
    assert abs(got_sum - exp_sum) < 1e-4
    # matched-delete variant
    tbl.merge(
        orders_df.filter(F.col("o_orderkey") <= 20),
        on=["o_orderkey"],
        when_matched_update=None,
        when_matched_delete=True,
        when_not_matched_insert=False,
    )
    assert tbl.read().count() == n_all - orders_df.filter(
        F.col("o_orderkey") <= 20
    ).count()

@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_merge_null_clause_condition_does_not_fire(spark, catalog, mode):
    """A MERGE clause condition that evaluates to NULL does not fire
    (PG): a conditional DELETE keeps the row and a conditional UPDATE
    leaves it as it was — in both write modes, through the API and
    through SQL. Target (k, v) = (1,10) (2,NULL) (3,30) (4,NULL);
    source keys 1, 2, 5."""
    from pg_lakehouse_spark.sql import LakeSQL

    target = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30), (4, None)], "k bigint, v bigint"
    )
    source = spark.createDataFrame(
        [(1, 100), (2, 200), (5, 500)], "k bigint, v bigint"
    )
    source.createOrReplaceTempView("null_cond_src")
    props = {"row_key": "k", "write_delete_mode": mode}
    lsql = LakeSQL(spark, catalog)

    def rows(tbl) -> set:
        return {tuple(r) for r in tbl.read().collect()}

    cases = [
        (
            dict(when_matched_delete=True,
                 when_matched_condition=F.col("v") > 5),
            "WHEN MATCHED AND t.v > 5 THEN DELETE",
            {(2, None), (3, 30), (4, None)},
        ),
        (
            dict(when_not_matched_by_source_delete=True,
                 when_not_matched_by_source_condition=F.col("v") > 5),
            "WHEN NOT MATCHED BY SOURCE AND t.v > 5 THEN DELETE",
            {(1, 10), (2, None), (4, None)},
        ),
        (
            dict(when_matched_update={"v": F.col("__src.v")},
                 when_matched_condition=F.col("v") > 5),
            "WHEN MATCHED AND t.v > 5 THEN UPDATE SET v = s.v",
            {(1, 100), (2, None), (3, 30), (4, None)},
        ),
    ]
    for i, (kwargs, clause, want) in enumerate(cases):
        api = catalog.create_table_as("db", f"nc_api{i}", target,
                                      properties=props)
        api.merge(source, on=["k"], when_not_matched_insert=False, **kwargs)
        assert rows(api) == want, kwargs
        sql = catalog.create_table_as("db", f"nc_sql{i}", target,
                                      properties=props)
        lsql.sql(
            f"MERGE INTO db.nc_sql{i} AS t USING null_cond_src AS s "
            f"ON t.k = s.k {clause}"
        )
        assert rows(sql) == want, clause


def test_maybe_compact_on_delete_file_pileup(catalog, orders_df):
    """Stacked MoR deletes trigger threshold compaction (each stacked
    delete adds an anti-join to every read); compaction folds them in."""
    tbl = _mor_table(catalog, orders_df, "mor_pileup", n=100)
    for i in range(3):
        tbl.delete(F.col("o_orderkey").between(i * 5, i * 5 + 4))
    n = tbl.read().count()
    assert len(tbl.snapshot().delete_files) == 3
    assert tbl.maybe_compact(delete_file_threshold=3) is not None
    assert tbl.snapshot().delete_files == []
    assert tbl.read().count() == n


def test_change_feed_dml_row_level(catalog, orders_df):
    """DML changes are row-exact: rewritten-but-unchanged rows in the
    same files never appear in the feed (the advantage over file-level
    read_incremental)."""
    tbl = catalog.create_table(
        "db", "cdf", orders_df.schema,
        properties={"change_data_feed": "on"},
    )
    tbl.append(orders_df.limit(100).repartition(1))  # v2: one file
    v2 = tbl.current_version()
    n_del = tbl.read().filter(F.col("o_orderkey") < 10).count()
    tbl.delete(F.col("o_orderkey") < 10)             # v3
    tbl.update(                                      # v4
        F.col("o_orderkey").between(20, 24),
        {"o_totalprice": F.col("o_totalprice") + 1.0},
    )
    ch = tbl.read_changes(v2).cache()
    dels = ch.filter(F.col("_change_type") == "delete")
    assert dels.count() == n_del
    assert dels.filter(F.col("o_orderkey") >= 10).count() == 0
    pre = ch.filter(F.col("_change_type") == "update_preimage")
    post = ch.filter(F.col("_change_type") == "update_postimage")
    assert pre.count() == 5 and post.count() == 5
    # postimage price = preimage price + 1
    pre_sum = pre.agg(F.sum("o_totalprice")).collect()[0][0]
    post_sum = post.agg(F.sum("o_totalprice")).collect()[0][0]
    assert abs(post_sum - pre_sum - 5.0) < 1e-6
    assert ch.filter(F.col("_commit_version") == v2 + 1).count() == n_del


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_change_feed_postimages_are_the_stored_rows(catalog, spark, mode):
    """The feed records the rows each writer stages: an UPDATE and a
    MERGE assigning fractional values to an int column report the
    rounded values the table stores, and the feed keeps ``v int``.
    The same rows ride on the returned snapshot (``changes``), which
    is never persisted."""
    import json
    from decimal import Decimal

    tbl = catalog.create_table_as(
        "db", "cfs",
        spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "k int, v int"),
        properties={"change_data_feed": "on", "write_delete_mode": mode,
                    "row_key": "k"},
    )
    v0 = tbl.current_version()
    snap = tbl.update(F.col("k") == 1, {"v": F.expr("2.5")})
    tbl.merge(
        spark.createDataFrame(
            [(2, Decimal("4.5")), (4, Decimal("40.5"))], "k int, v decimal(3,1)"
        ),
        on=["k"],
        when_matched_update={"v": F.col("__src.v")},
    )
    stored = {tuple(r) for r in tbl.read().filter("k IN (1, 2, 4)").collect()}
    assert stored == {(1, 3), (2, 5), (4, 41)}
    ch = tbl.read_changes(v0)
    assert dict(ch.dtypes)["v"] == "int"
    post = ch.filter(
        F.col("_change_type").isin("update_postimage", "insert")
    ).select("k", "v")
    assert {tuple(r) for r in post.collect()} == stored
    assert sorted(tuple(r) for r in snap.changes().collect()) == [
        (1, 1, "update_preimage"), (1, 3, "update_postimage"),
    ]
    assert tbl.snapshot(snap.version).changes is None
    with open(tbl._meta_path(snap.version)) as f:
        assert "changes" not in json.load(f)


def test_change_feed_off_by_default(catalog, orders_df):
    """DML on a table without the feed property stages NO change files
    (no second job over the rewrite join); read_changes over a window
    containing that DML raises a clear error, while pure-append
    windows still serve derived inserts."""
    tbl = catalog.create_table_as("db", "cdf_off", orders_df.limit(60))
    v1 = tbl.current_version()
    tbl.append(orders_df.limit(80).subtract(orders_df.limit(60)))
    assert (
        tbl.read_changes(v1).filter(F.col("_change_type") == "insert").count()
        == 20
    )
    v2 = tbl.current_version()
    tbl.delete(F.col("o_orderkey") < 5)
    assert tbl.snapshot().change_files == []
    with pytest.raises(LakehouseError, match="change_data_feed"):
        tbl.read_changes(v2).count()


def test_change_feed_append_and_overwrite(catalog, orders_df):
    # append/overwrite changes are DERIVED — no feed property needed
    tbl = catalog.create_table_as("db", "cdf2", orders_df.limit(50))
    v1 = tbl.current_version()
    tbl.append(orders_df.limit(80).subtract(orders_df.limit(50)))
    ch = tbl.read_changes(v1)
    assert ch.filter(F.col("_change_type") == "insert").count() == 30
    v2 = tbl.current_version()
    tbl.overwrite(orders_df.limit(10))
    ch2 = tbl.read_changes(v2)
    assert ch2.filter(F.col("_change_type") == "delete").count() == 80
    assert ch2.filter(F.col("_change_type") == "insert").count() == 10


def test_change_feed_merge(catalog, orders_df):
    tbl = catalog.create_table_as(
        "db", "cdf3", orders_df.filter(F.col("o_orderkey") <= 100),
        properties={"change_data_feed": "on"},
    )
    v1 = tbl.current_version()
    n_base = tbl.read().count()
    source = orders_df.filter(
        (F.col("o_orderkey") > 50) & (F.col("o_orderkey") <= 150)
    ).withColumn("o_totalprice", F.col("o_totalprice") + 9.0)
    tbl.merge(
        source, on=["o_orderkey"],
        when_matched_update={"o_totalprice": F.col("__src.o_totalprice")},
        when_not_matched_insert=True,
    )
    n_matched = orders_df.filter(
        (F.col("o_orderkey") > 50) & (F.col("o_orderkey") <= 100)
    ).count()
    n_ins = orders_df.filter(
        (F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 150)
    ).count()
    ch = tbl.read_changes(v1).cache()
    assert ch.filter(F.col("_change_type") == "insert").count() == n_ins
    assert ch.filter(F.col("_change_type") == "update_preimage").count() == n_matched
    assert ch.filter(F.col("_change_type") == "update_postimage").count() == n_matched
    # compaction adds no logical changes; expiry drops old change files
    v_before_compact = tbl.current_version()
    tbl.compact(small_file_bytes=1 << 30)
    assert tbl.read_changes(v_before_compact).count() == 0
    assert tbl.read().count() == n_base + n_ins


# ---------------------------------------------------------------------------
# clustered compaction (sort / z-order) → data skipping
# ---------------------------------------------------------------------------


def test_compact_sort_by_improves_pruning(catalog, orders_df):
    tbl = catalog.create_table("db", "clust", orders_df.schema)
    # 8 files, each spanning the FULL key range → nothing can skip
    tbl.append(orders_df.limit(2000).repartition(8))
    filt = {"o_orderkey": (100, 120)}
    sel_before, tot_before = tbl.pruned_file_count(filt)
    assert sel_before == tot_before  # every file overlaps
    tbl.compact(small_file_bytes=1 << 30, sort_by=["o_orderkey"], target_files=6)
    sel_after, tot_after = tbl.pruned_file_count(filt)
    assert tot_after > 1
    assert sel_after < tot_after, "sorted compaction should enable skipping"
    # data intact and readable in pruned form
    assert tbl.read_pruned(filt).count() == orders_df.limit(2000).filter(
        F.col("o_orderkey").between(100, 120)
    ).count()


def test_compact_zorder_prunes_on_both_dimensions(catalog, orders_df, spark):
    tbl = catalog.create_table("db", "zclust", orders_df.schema)
    tbl.append(orders_df.limit(4000).repartition(8))
    tbl.compact(small_file_bytes=1 << 30, zorder_by=["o_custkey", "o_totalprice"],
                target_files=8)
    files = tbl.snapshot().files
    assert len(files) > 2
    lo_k, hi_k = (
        orders_df.limit(4000)
        .agg(F.min("o_custkey"), F.max("o_custkey"))
        .collect()[0]
    )
    lo_p, hi_p = (
        orders_df.limit(4000)
        .agg(F.min("o_totalprice"), F.max("o_totalprice"))
        .collect()[0]
    )
    # a narrow slice on EITHER column should skip some files
    k_sel, k_tot = tbl.pruned_file_count(
        {"o_custkey": (lo_k, lo_k + (hi_k - lo_k) * 0.05)}
    )
    p_sel, p_tot = tbl.pruned_file_count(
        {"o_totalprice": (lo_p, lo_p + (hi_p - lo_p) * 0.05)}
    )
    assert k_sel < k_tot, "zorder should prune on o_custkey"
    assert p_sel < p_tot, "zorder should prune on o_totalprice"
    # correctness unchanged
    assert tbl.read().count() == 4000
    with pytest.raises(LakehouseError, match="mutually exclusive"):
        tbl.compact(sort_by=["o_custkey"], zorder_by=["o_totalprice"])


# ---------------------------------------------------------------------------
# nested-struct field evolution
# ---------------------------------------------------------------------------


def _with_props(df):
    return df.withColumn(
        "props",
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("prio"),
        ),
    )


def test_nested_add_rename_resolve_old_files(catalog, orders_df):
    tbl = catalog.create_table_as(
        "db", "nested_evo", _with_props(orders_df.limit(60))
    )
    files_before = {f["path"] for f in tbl.snapshot().files}
    tbl.add_column("props.source", "string")
    tbl.rename_column("props.prio", "priority")
    # metadata-only commits
    assert {f["path"] for f in tbl.snapshot().files} == files_before
    df = tbl.read()
    assert df.schema["props"].dataType.names == ["status", "priority", "source"]
    assert df.filter(F.col("props.source").isNull()).count() == 60
    assert (
        df.filter(F.col("props.priority") == F.col("o_orderpriority")).count()
        == 60
    )
    # append under the new layout; old + new epochs coexist
    newrows = _with_props(orders_df.limit(5)).withColumn(
        "props",
        F.struct(
            F.col("props.status").alias("status"),
            F.col("props.prio").alias("priority"),
            F.lit("import").alias("source"),
        ).cast(tbl.schema()["props"].dataType),
    )
    tbl.append(newrows)
    assert tbl.read().filter(F.col("props.source") == "import").count() == 5
    assert tbl.read().filter(F.col("props.source").isNull()).count() == 60
    # time travel keeps the old nested layout
    assert tbl.read(snapshot=1).schema["props"].dataType.names == [
        "status", "prio",
    ]


def test_nested_drop_and_readd_no_resurrection(catalog, orders_df):
    tbl = catalog.create_table_as(
        "db", "nested_drop", _with_props(orders_df.limit(30))
    )
    tbl.drop_column("props.status")
    assert tbl.read().schema["props"].dataType.names == ["prio"]
    tbl.add_column("props.status", "string")
    # id-based: the re-added child must NOT see old data
    assert tbl.read().filter(F.col("props.status").isNotNull()).count() == 0


def test_nested_widen_and_compact_upgrade(catalog, orders_df):
    base = orders_df.limit(40).withColumn(
        "props",
        F.struct(
            F.col("o_orderkey").cast("int").alias("code"),
            F.col("o_orderstatus").alias("status"),
        ),
    )
    tbl = catalog.create_table_as("db", "nested_widen", base)
    tbl.widen_column("props.code", "bigint")
    df = tbl.read()
    assert dict(df.select("props.code").dtypes)["code"] == "bigint"
    expected = base.agg(F.sum(F.col("props.code").cast("long"))).collect()[0][0]
    assert df.agg(F.sum("props.code")).collect()[0][0] == expected
    # DML + compaction normalize every file to the current epoch
    tbl.update(F.col("props.code") < 10, {"o_orderstatus": F.lit("Z")})
    tbl.compact(small_file_bytes=1 << 30)
    assert all(
        f.get("schema_id") == tbl.snapshot().schema_id
        for f in tbl.snapshot().files
    )
    assert tbl.read().count() == 40


def test_nested_evolution_guards(catalog, orders_df):
    tbl = catalog.create_table_as(
        "db", "nested_guard", _with_props(orders_df.limit(10))
    )
    with pytest.raises(LakehouseError, match="no such column"):
        tbl.add_column("props.a.b", "string")  # props.a does not exist
    with pytest.raises(LakehouseError, match="not a struct"):
        tbl.add_column("o_orderkey.x", "string")
    with pytest.raises(LakehouseError, match="already exists"):
        tbl.add_column("props.status", "string")
    with pytest.raises(LakehouseError, match="across structs"):
        tbl.rename_column("props.status", "other.status")
    with pytest.raises(LakehouseError, match="no such column"):
        tbl.drop_column("props.nope")
    tbl.drop_column("props.prio")
    with pytest.raises(LakehouseError, match="only field"):
        tbl.drop_column("props.status")
    with pytest.raises(LakehouseError, match="cannot widen"):
        tbl.widen_column("props.status", "bigint")


def test_struct_column_rename_rekeys_children(catalog, orders_df):
    tbl = catalog.create_table_as(
        "db", "nested_rekey", _with_props(orders_df.limit(20))
    )
    tbl.add_column("props.source", "string")
    tbl.rename_column("props", "attrs")  # struct column itself
    df = tbl.read()
    assert "attrs" in df.columns
    # children written under the old parent name still resolve
    assert (
        df.filter(F.col("attrs.status") == F.col("o_orderstatus")).count()
        == 20
    )
    tbl.rename_column("attrs.status", "state")
    assert (
        tbl.read()
        .filter(F.col("attrs.state") == F.col("o_orderstatus"))
        .count()
        == 20
    )


# ---------------------------------------------------------------------------
# multi-level nested evolution (struct-in-struct, and through containers)
# ---------------------------------------------------------------------------


def test_deep_nested_evolution_roundtrip(catalog, spark):
    """add/rename/widen/drop two levels down; files from every epoch
    resolve grandchildren by field id."""
    from pyspark.sql import Row

    base = spark.createDataFrame(
        [Row(k=i, a={"b": {"x": i, "y": f"s{i}"}}) for i in range(5)],
        "k long, a struct<b: struct<x: int, y: string>>",
    )
    tbl = catalog.create_table_as("db", "deep", base)
    tbl.add_column("a.b.z", "string")
    tbl.rename_column("a.b.x", "xx")
    tbl.widen_column("a.b.xx", "bigint")
    newrow = spark.createDataFrame(
        [(99, ((1 << 40, "new", "zz"),))],
        "k long, a struct<b: struct<xx: bigint, y: string, z: string>>",
    )
    tbl.append(newrow)
    out = {r.k: r for r in tbl.read().select("k", "a.b.*").collect()}
    assert out[0].xx == 0 and out[0].y == "s0" and out[0].z is None
    assert out[99].xx == 1 << 40 and out[99].z == "zz"
    tbl.drop_column("a.b.y")
    assert "y" not in tbl.read().select("a.b.*").columns
    # old epoch files still readable, y gone everywhere
    assert tbl.read().count() == 6


def test_deep_evolution_through_array_element(catalog, spark):
    """Evolution of a struct nested inside an array-element struct:
    path a.element.inner.child (4 segments, container + 2 structs)."""
    from pyspark.sql import Row

    base = spark.createDataFrame(
        [Row(k=i, items=[{"inner": {"q": i}, "tag": "t"}]) for i in range(4)],
        "k long, items array<struct<inner: struct<q: int>, tag: string>>",
    )
    tbl = catalog.create_table_as("db", "deep_arr", base)
    tbl.add_column("items.element.inner.r", "string")
    tbl.rename_column("items.element.inner.q", "qty")
    tbl.widen_column("items.element.inner.qty", "bigint")
    newrow = spark.createDataFrame(
        [(9, [((1 << 41, "R"), "u")])],
        "k long, items array<struct<inner: struct<qty: bigint, r: string>, tag: string>>",
    )
    tbl.append(newrow)
    rows = {r.k: r.items for r in tbl.read().collect()}
    assert rows[0][0].inner.qty == 0 and rows[0][0].inner.r is None
    assert rows[9][0].inner.qty == 1 << 41 and rows[9][0].inner.r == "R"
    assert rows[0][0].tag == "t"
    # rename two levels deep re-keys ids; DML on the table still works
    tbl.delete(F.col("k") == 1)
    assert tbl.read().count() == 4


def test_deep_rename_rekeys_descendants(catalog, spark):
    """Renaming a mid-level struct field moves the id keys of
    everything beneath it (a.b -> a.c keeps a.c.x resolvable)."""
    from pyspark.sql import Row

    base = spark.createDataFrame(
        [Row(k=1, a={"b": {"x": 7}})],
        "k long, a struct<b: struct<x: int>>",
    )
    tbl = catalog.create_table_as("db", "deep_rekey", base)
    tbl.rename_column("a.b", "c")
    assert tbl.read().select("a.c.x").collect()[0][0] == 7
    tbl.rename_column("a.c.x", "xx")
    assert tbl.read().select("a.c.xx").collect()[0][0] == 7
    tbl.append(
        spark.createDataFrame(
            [(2, ((8,),))], "k long, a struct<c: struct<xx: int>>"
        )
    )
    assert {r[0] for r in tbl.read().select("a.c.xx").collect()} == {7, 8}


def test_deep_guards(catalog, spark):
    from pyspark.sql import Row

    base = spark.createDataFrame(
        [Row(k=1, a={"b": {"x": 7}})],
        "k long, a struct<b: struct<x: int>>",
    )
    tbl = catalog.create_table_as("db", "deep_guard", base)
    with pytest.raises(LakehouseError, match="no such column"):
        tbl.add_column("a.nope.z", "string")
    with pytest.raises(LakehouseError, match="not a struct"):
        tbl.add_column("a.b.x.deeper", "string")
    with pytest.raises(LakehouseError, match="already exists"):
        tbl.add_column("a.b.x", "string")
    with pytest.raises(LakehouseError, match="across structs"):
        tbl.rename_column("a.b.x", "a.other.x")
    with pytest.raises(LakehouseError, match="only field"):
        tbl.drop_column("a.b.x")


# ---------------------------------------------------------------------------
# MERGE: WHEN NOT MATCHED BY SOURCE (full-sync shape)
# ---------------------------------------------------------------------------


def _merge_sync_setup(catalog, spark, name):
    from pyspark.sql import Row

    base = spark.createDataFrame(
        [Row(k=i, v=f"old{i}", keep=i % 2 == 0) for i in range(10)]
    )
    tbl = catalog.create_table_as(
        "db", name, base, properties={"row_key": "k"}
    )
    src = spark.createDataFrame(
        [Row(k=i, v=f"new{i}", keep=True) for i in (3, 4, 10, 11)]
    )
    return tbl, src


@pytest.mark.parametrize("mode", [None, "merge-on-read"])
def test_merge_not_matched_by_source_delete(catalog, spark, mode):
    """Full sync: matched update + unmatched insert + target-only rows
    deleted — target ends exactly equal to source."""
    tbl, src = _merge_sync_setup(catalog, spark, f"sync_{mode or 'cow'}")
    tbl.merge(
        src,
        on=["k"],
        when_matched_update={"v": F.col("__src.v")},
        when_not_matched_insert=True,
        when_not_matched_by_source_delete=True,
        mode=mode,
    )
    out = {r.k: r.v for r in tbl.read().collect()}
    assert out == {3: "new3", 4: "new4", 10: "new10", 11: "new11"}


@pytest.mark.parametrize("mode", [None, "merge-on-read"])
def test_merge_by_source_delete_with_condition(catalog, spark, mode):
    """Conditional by-source delete: only target-only rows failing the
    keep-condition are removed."""
    tbl, src = _merge_sync_setup(catalog, spark, f"synccond_{mode or 'cow'}")
    tbl.merge(
        src,
        on=["k"],
        when_matched_update={"v": F.col("__src.v")},
        when_not_matched_insert=False,
        when_not_matched_by_source_delete=True,
        when_not_matched_by_source_condition=~F.col("keep"),
        mode=mode,
    )
    out = {r.k: r.v for r in tbl.read().collect()}
    # odd target-only keys (keep=False) deleted; even ones survive
    assert set(out) == {0, 2, 3, 4, 6, 8}
    assert out[3] == "new3" and out[0] == "old0"


def test_mor_insert_only_merge_keeps_matched_rows(catalog, spark):
    """Regression: an insert-only MoR merge must NOT retire matched
    target rows (previously they were equality-deleted without a
    replacement postimage)."""
    tbl, src = _merge_sync_setup(catalog, spark, "insonly")
    tbl.merge(
        src,
        on=["k"],
        when_matched_update=None,
        when_not_matched_insert=True,
        mode="merge-on-read",
    )
    out = {r.k: r.v for r in tbl.read().collect()}
    assert len(out) == 12  # 10 originals + 2 new keys
    assert out[3] == "old3"  # matched row untouched
    assert out[10] == "new10"


def test_merge_by_source_change_feed(catalog, spark):
    from pyspark.sql import Row

    base = spark.createDataFrame([Row(k=i, v=f"o{i}") for i in range(4)])
    tbl = catalog.create_table_as(
        "db", "sync_cdc", base, properties={"change_data_feed": "true"}
    )
    src = spark.createDataFrame([Row(k=1, v="n1")])
    v = tbl.merge(
        src,
        on=["k"],
        when_matched_update={"v": F.col("__src.v")},
        when_not_matched_insert=False,
        when_not_matched_by_source_delete=True,
    ).version
    feed = tbl.read_changes(v - 1, v).groupBy("_change_type").count().collect()
    counts = {r["_change_type"]: r["count"] for r in feed}
    assert counts.get("delete") == 3  # k=0,2,3 target-only
    assert counts.get("update_preimage") == 1
    assert counts.get("update_postimage") == 1


@pytest.mark.parametrize("mode", [None, "merge-on-read"])
def test_merge_when_matched_condition(catalog, spark, mode):
    """WHEN MATCHED AND <cond>: matched rows failing the condition are
    left untouched (neither updated nor deleted); unmatched source
    rows still insert."""
    tbl, src = _merge_sync_setup(catalog, spark, f"mcond_{mode or 'cow'}")
    tbl.merge(
        src,
        on=["k"],
        when_matched_update={"v": F.col("__src.v")},
        when_matched_condition=F.col("keep"),  # target col: even k only
        when_not_matched_insert=True,
        mode=mode,
    )
    out = {r.k: r.v for r in tbl.read().collect()}
    assert out[4] == "new4"   # matched, keep=True -> updated
    assert out[3] == "old3"   # matched, keep=False -> untouched
    assert out[10] == "new10" and out[11] == "new11"  # inserts
    assert len(out) == 12


# ---------------------------------------------------------------------------
# merge-on-read POSITION deletes (Iceberg v2's second delete type)
# ---------------------------------------------------------------------------


def test_positional_delete_no_rewrite_no_row_key(catalog, spark):
    """Position deletes need no row_key property and never rewrite
    data files; rows disappear from reads while files stay."""
    from pyspark.sql import Row

    base = spark.createDataFrame(
        [Row(k=i, v=f"v{i}") for i in range(20)]
    ).repartition(2)
    tbl = catalog.create_table_as("db", "posdel", base)  # no row_key
    files_before = {f["path"] for f in tbl.snapshot().files}
    tbl.delete(F.col("k") % 3 == 0, mode="merge-on-read-positional")
    assert {f["path"] for f in tbl.snapshot().files} == files_before
    assert tbl.snapshot().delete_files[-1]["kind"] == "position"
    out = sorted(r.k for r in tbl.read().collect())
    assert out == [k for k in range(20) if k % 3 != 0]
    # a second positional delete stacks
    tbl.delete(F.col("k") == 1, mode="merge-on-read-positional")
    assert 1 not in {r.k for r in tbl.read().collect()}
    assert tbl.read().count() == 12


def test_positional_update_postimage_exempt(catalog, spark):
    """Positional UPDATE: old positions deleted, postimages appended;
    postimage rows (same logical key!) are not swallowed by the
    position delete because they live in NEW files."""
    from pyspark.sql import Row

    base = spark.createDataFrame([Row(k=i, v=f"v{i}") for i in range(10)])
    tbl = catalog.create_table_as("db", "posupd", base)
    tbl.update(
        F.col("k") < 3,
        {"v": F.concat(F.col("v"), F.lit("_new"))},
        mode="merge-on-read-positional",
    )
    out = {r.k: r.v for r in tbl.read().collect()}
    assert out[0] == "v0_new" and out[2] == "v2_new" and out[5] == "v5"
    assert len(out) == 10


def test_positional_delete_appends_unaffected(catalog, spark):
    """Rows appended after a position delete are untouched even if
    they would satisfy the original predicate (position deletes pin
    exact files, not values)."""
    from pyspark.sql import Row

    base = spark.createDataFrame([Row(k=i) for i in range(6)])
    tbl = catalog.create_table_as("db", "posapp", base)
    tbl.delete(F.col("k") < 3, mode="merge-on-read-positional")
    tbl.append(spark.createDataFrame([Row(k=0), Row(k=1)]))
    out = sorted(r.k for r in tbl.read().collect())
    assert out == [0, 1, 3, 4, 5]


def test_positional_delete_compaction_retires(catalog, spark):
    """Compaction folds position deletes into rewritten files: the
    delete entries stop applying (rewritten files have new names and
    higher seq) and reads stay correct."""
    from pyspark.sql import Row

    base = spark.createDataFrame([Row(k=i) for i in range(30)]).repartition(3)
    tbl = catalog.create_table_as("db", "poscomp", base)
    tbl.delete(F.col("k") >= 20, mode="merge-on-read-positional")
    assert tbl.read().count() == 20
    tbl.compact(min_files=2)
    assert tbl.read().count() == 20
    assert sorted(r.k for r in tbl.read().collect()) == list(range(20))


def test_positional_delete_after_schema_evolution(catalog, spark):
    """Position deletes compose with epoch-grouped reads: delete rows
    from a pre-evolution file, read under the evolved schema."""
    from pyspark.sql import Row

    base = spark.createDataFrame(
        [(i, i * 10) for i in range(8)], "k long, v int"
    )
    tbl = catalog.create_table_as("db", "posevo", base)
    tbl.rename_column("v", "val")
    tbl.widen_column("val", "bigint")
    tbl.delete(F.col("val") >= 50, mode="merge-on-read-positional")
    out = sorted((r.k, r.val) for r in tbl.read().collect())
    assert out == [(i, i * 10) for i in range(5)]


def test_write_sort_order_clusters_files(catalog, spark):
    """write_sort_order: ingested files are born clustered on the sort
    key — per-file bounds are disjoint slices and range scans prune;
    an unsorted twin's bounds all overlap."""
    import random

    rng = random.Random(7)
    rows = [(rng.randrange(0, 100000), i) for i in range(20000)]
    df = spark.createDataFrame(rows, "k long, payload long").repartition(8)
    sorted_tbl = catalog.create_table_as(
        "db", "sorted_w", df,
        properties={"write_sort_order": "k", "write_target_files": "4"},
    )
    plain_tbl = catalog.create_table_as("db", "plain_w", df)
    kept_s, total_s = sorted_tbl.pruned_file_count({"k": (0, 5000)})
    kept_p, total_p = plain_tbl.pruned_file_count({"k": (0, 5000)})
    assert total_s > 1
    assert kept_s < total_s          # sorted table prunes
    assert kept_p == total_p         # unsorted twin cannot
    # correctness unchanged
    a = sorted_tbl.read_pruned({"k": (0, 5000)}).count()
    b = plain_tbl.read().filter(F.col("k") <= 5000).count()
    assert a == b
    # appends keep the clustering
    sorted_tbl.append(df)
    kept2, total2 = sorted_tbl.pruned_file_count({"k": (0, 5000)})
    assert kept2 < total2


def test_write_sort_order_validates_columns(catalog, spark):
    from pyspark.sql import Row

    df = spark.createDataFrame([Row(k=1)])
    with pytest.raises(LakehouseError, match="write_sort_order"):
        catalog.create_table_as(
            "db", "sort_bad", df, properties={"write_sort_order": "nope"}
        )


def test_avro_table_roundtrip_dml_and_evolution(catalog, orders_df):
    """Avro as a lake-table file_format (ref table_ops.c:78-87 whitelists
    parquet/orc/avro): append/read/CoW-DML/time-travel/evolution all
    through the pure-Python OCF seam (no spark-avro jar here)."""
    tbl = catalog.create_table(
        "db", "orders_avro", orders_df.schema,
        properties={"file_format": "avro"},
    )
    tbl.append(orders_df.limit(200))
    assert tbl.file_format() == "avro"
    assert all(f["path"].endswith(".avro") for f in tbl.snapshot().files)
    # manifest row counts come from OCF block headers
    assert sum(f["rows"] for f in tbl.snapshot().files) == 200
    assert tbl.read().count() == 200
    v1 = tbl.current_version()
    tbl.delete(F.col("o_orderkey") < 50)
    assert tbl.read().count() == orders_df.limit(200).filter(
        F.col("o_orderkey") >= 50
    ).count()
    tbl.update(F.col("o_orderkey") < 100, {"o_orderpriority": F.lit("patched")})
    assert (
        tbl.read().filter(F.col("o_orderpriority") == "patched").count()
        == tbl.read().filter(F.col("o_orderkey") < 100).count()
    )
    assert tbl.read(snapshot=v1).count() == 200  # time travel intact
    tbl.rename_column("o_totalprice", "o_amount")
    assert tbl.read().agg(F.sum("o_amount")).collect()[0][0] is not None


def test_avro_table_partitioned(catalog, orders_df):
    """Partitioned avro tables: hive col=value dirs written by the OCF
    dataset writer, partition values restored on read, partition-dir
    manifest stats prune files."""
    tbl = catalog.create_table(
        "db", "orders_avro_part", orders_df.schema,
        properties={"file_format": "avro"},
        partition_by=["o_orderstatus"],
    )
    src = orders_df.limit(300)
    tbl.append(src)
    assert tbl.read().count() == 300
    # partition column restored from dirs with correct values
    got = {
        (r.o_orderstatus, r.cnt)
        for r in tbl.read().groupBy("o_orderstatus").count()
        .withColumnRenamed("count", "cnt").collect()
    }
    want = {
        (r.o_orderstatus, r.cnt)
        for r in src.groupBy("o_orderstatus").count()
        .withColumnRenamed("count", "cnt").collect()
    }
    assert got == want
    # dir-derived stats present → partition pruning can skip files
    statuses = {f["ranges"].get("o_orderstatus", [None])[0]
                for f in tbl.snapshot().files}
    assert len(statuses) > 1
    # CoW delete on a partition predicate
    tbl.delete(F.col("o_orderstatus") == "F")
    assert tbl.read().filter(F.col("o_orderstatus") == "F").count() == 0
    assert (
        tbl.read().count()
        == src.filter(F.col("o_orderstatus") != "F").count()
    )


def test_avro_table_mor_modes(catalog, orders_df):
    """Equality and positional merge-on-read deletes over avro data
    files: delete keys/positions are parquet (metadata plane), data
    decode is OCF; lineage (__file/__pos) comes from the decoder."""
    base = orders_df.limit(120)
    # equality MoR + merge
    t1 = catalog.create_table(
        "db", "avro_mor_eq", base.schema,
        properties={"file_format": "avro", "row_key": "o_orderkey",
                    "write_delete_mode": "merge-on-read"},
    )
    t1.append(base)
    t1.delete(F.col("o_orderkey") % 3 == 0)
    expect = base.filter(~(F.col("o_orderkey") % 3 == 0))
    assert t1.read().count() == expect.count()
    t1.merge(
        base.limit(30).withColumn("o_orderpriority", F.lit("merged")),
        on=["o_orderkey"],
        when_matched_update={"o_orderpriority": F.col("__src.o_orderpriority")},
    )
    assert t1.read().filter(F.col("o_orderpriority") == "merged").count() > 0
    # positional MoR (no row_key needed)
    t2 = catalog.create_table(
        "db", "avro_mor_pos", base.schema,
        properties={"file_format": "avro",
                    "write_delete_mode": "merge-on-read-positional"},
    )
    t2.append(base)
    t2.delete(F.col("o_orderkey") % 5 == 0)
    assert (
        t2.read().count()
        == base.filter(~(F.col("o_orderkey") % 5 == 0)).count()
    )
    assert t2.read().filter(F.col("o_orderkey") % 5 == 0).count() == 0


def test_partition_scoped_compaction(catalog, orders_df, spark):
    """filters= scopes the rewrite: only files overlapping the range
    are folded; out-of-scope small files survive untouched."""
    tbl = catalog.create_table("db", "pc", orders_df.schema)
    for lo in (0, 2000, 4000):
        part = orders_df.filter(
            F.col("o_orderkey").between(lo, lo + 1999)
        ).repartition(3)
        tbl.append(part)
    before = {f["path"] for f in tbl.snapshot().files}
    rows_before = tbl.read().count()
    tbl.compact(
        small_file_bytes=1 << 30, min_files=1,
        filters={"o_orderkey": (0, 1999)},
    )
    after = tbl.snapshot().files
    assert tbl.read().count() == rows_before
    # out-of-scope files carried by reference
    untouched = [
        f for f in after
        if f["path"] in before
        and f["ranges"]["o_orderkey"][0] >= 2000
    ]
    assert len(untouched) >= 6
    # in-scope files were folded into fewer new ones
    in_scope_after = [
        f for f in after if f["ranges"]["o_orderkey"][1] < 2000
    ]
    assert all(f["path"] not in before for f in in_scope_after)
    assert len(in_scope_after) < 3


def test_check_constraints_enforced(spark, tmp_path):
    """PG CHECK parity, Delta-style enforcement: the guard rides
    inside the write job (no pre-scan); violations fail append, CoW
    update postimages, and merge inserts; NULL passes (PG rule);
    existing-row validation gates ADD CONSTRAINT; NOT VALID skips it."""
    from pg_lakehouse_spark.lakehouse import LakeCatalog, LakehouseError

    cat = LakeCatalog(spark, str(tmp_path / "wh_chk"))
    tbl = cat.create_table(
        "db", "t_chk", spark.createDataFrame([(1, 10.0)], "k long, v double").schema
    )
    tbl.append(spark.createDataFrame([(1, 10.0), (2, None)], "k long, v double"))
    tbl.add_check_constraint("v_pos", "v > 0")
    assert tbl.check_constraints() == {"v_pos": "v > 0"}
    # NULL passes (PG), positive passes
    tbl.append(spark.createDataFrame([(3, 5.0), (4, None)], "k long, v double"))
    # violation fails the write job and nothing commits
    ver = tbl.current_version()
    with pytest.raises(Exception, match="v_pos"):
        tbl.append(spark.createDataFrame([(5, -1.0)], "k long, v double"))
    assert tbl.current_version() == ver
    # CoW UPDATE rewriting rows must also respect the guard
    with pytest.raises(Exception, match="v_pos"):
        tbl.update(F.col("k") == 1, {"v": F.lit(-9.0)})
    assert tbl.read().filter("k = 1").collect()[0].v == 10.0
    # a valid update passes
    tbl.update(F.col("k") == 1, {"v": F.lit(99.0)})
    # add-time validation: existing NULLs pass v > 0, but k < 4 fails
    with pytest.raises(LakehouseError, match="existing rows violate"):
        tbl.add_check_constraint("k_small", "k < 4")
    tbl.add_check_constraint("k_small", "k < 4", validate=False)
    tbl.drop_check_constraint("k_small")
    with pytest.raises(LakehouseError, match="no such constraint"):
        tbl.drop_check_constraint("k_small")
    # constraints survive in properties across commits
    assert tbl.check_constraints() == {"v_pos": "v > 0"}


def test_not_valid_check_exempts_existing_rows(spark, tmp_path):
    """r4 ADVICE defect: ``ADD CONSTRAINT ... CHECK ... NOT VALID``
    over a pre-existing violating row must NOT poison compaction or
    unrelated DML rewrites (PG NOT VALID exempts existing rows). New
    and modified rows ARE still checked, and VALIDATE CONSTRAINT scans
    once to flip the per-constraint flag."""
    from pg_lakehouse_spark.lakehouse import LakeCatalog, LakehouseError

    cat = LakeCatalog(spark, str(tmp_path / "wh_nv"))
    tbl = cat.create_table(
        "db", "t_nv",
        spark.createDataFrame([(1, -5.0)], "k long, v double").schema,
    )
    tbl.append(
        spark.createDataFrame([(1, -5.0), (2, 3.0)], "k long, v double")
    )
    tbl.append(spark.createDataFrame([(3, 4.0)], "k long, v double"))
    tbl.append(spark.createDataFrame([(4, 7.0)], "k long, v double"))
    tbl.add_check_constraint("v_pos", "v > 0", validate=False)
    assert tbl.not_validated_constraints() == {"v_pos"}
    # NOT VALID still enforces going forward: new rows are checked
    with pytest.raises(Exception, match="v_pos"):
        tbl.append(spark.createDataFrame([(5, -1.0)], "k long, v double"))
    # compaction rewrites the violating pre-existing row just fine
    # (previously: failed permanently — the ADVICE repro)
    before = len(tbl.snapshot().files)
    tbl.compact(min_files=2)
    assert len(tbl.snapshot().files) < before
    assert tbl.read().count() == 4
    # updating an UNRELATED row that shares a file with the violator
    # passes; only the modified row's post-image is checked
    tbl.update(F.col("k") == 2, {"v": F.lit(30.0)})
    got = {r.k: r.v for r in tbl.read().collect()}
    assert got == {1: -5.0, 2: 30.0, 3: 4.0, 4: 7.0}
    # updating a row TO a violating value still fails
    with pytest.raises(Exception, match="v_pos"):
        tbl.update(F.col("k") == 3, {"v": F.lit(-4.0)})
    # merge: carried-over violating rows are exempt; inserts checked
    tbl.merge(
        spark.createDataFrame([(6, 1.0)], "k long, v double"), on=["k"]
    )
    assert tbl.read().count() == 5
    with pytest.raises(Exception, match="v_pos"):
        tbl.merge(
            spark.createDataFrame([(7, -2.0)], "k long, v double"),
            on=["k"],
        )
    # VALIDATE fails while the violating row exists, succeeds once
    # it's fixed, and clears the not-validated flag
    with pytest.raises(LakehouseError, match="violate"):
        tbl.validate_constraint("v_pos")
    tbl.update(F.col("k") == 1, {"v": F.lit(5.0)})
    tbl.validate_constraint("v_pos")
    assert tbl.not_validated_constraints() == set()


def test_add_column_with_default(spark, tmp_path):
    """Iceberg v3 initial-default analog: ADD COLUMN ... DEFAULT is
    metadata-only — old epochs read the default (not NULL), new
    appends carry real values, DML rewrites preserve the fill, and a
    broken default fails at ALTER time."""
    from pg_lakehouse_spark.lakehouse import LakeCatalog, LakehouseError

    cat = LakeCatalog(spark, str(tmp_path / "wh_dflt"))
    tbl = cat.create_table(
        "db", "t_dflt",
        spark.createDataFrame([(1, "a")], "k long, v string").schema,
    )
    tbl.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    tbl.add_column("region", "string", default="'emea'")
    tbl.add_column("score", "double", default="0.5")
    # old files materialize defaults
    got = {r.k: (r.region, r.score) for r in tbl.read().collect()}
    assert got == {1: ("emea", 0.5), 2: ("emea", 0.5)}
    # new writes carry real values; old rows keep reading defaults
    tbl.append(
        spark.createDataFrame(
            [(3, "c", "apac", 0.9)], "k long, v string, region string, score double"
        )
    )
    got = {r.k: r.region for r in tbl.read().collect()}
    assert got == {1: "emea", 2: "emea", 3: "apac"}
    # CoW update rewrites old rows -> the default value is now baked in
    tbl.update(F.col("k") == 1, {"v": F.lit("a2")})
    assert {
        (r.k, r.v, r.region) for r in tbl.read().collect()
    } == {(1, "a2", "emea"), (2, "b", "emea"), (3, "c", "apac")}
    # invalid default rejected at ALTER; nested defaults unsupported
    with pytest.raises(LakehouseError, match="invalid DEFAULT"):
        tbl.add_column("bad", "long", default="not_a_column + 1")
    with pytest.raises(LakehouseError, match="top-level"):
        tbl.add_column("s.x", "long", default="1")


def test_append_and_merge_with_schema_merge(spark, tmp_path):
    """Delta mergeSchema parity: a write carrying NEW columns evolves
    the table (metadata-only; old rows read NULL/DEFAULT) and a write
    MISSING columns fills them; merge evolves before joining."""
    from pg_lakehouse_spark.lakehouse import LakeCatalog, LakehouseError

    cat = LakeCatalog(spark, str(tmp_path / "wh_ms"))
    tbl = cat.create_table(
        "db", "t_ms",
        spark.createDataFrame([(1, "a")], "k long, v string").schema,
    )
    tbl.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    # extra column without the flag -> rejected
    wide = spark.createDataFrame(
        [(2, "b", 0.5)], "k long, v string, score double"
    )
    with pytest.raises(LakehouseError, match="schema mismatch"):
        tbl.append(wide)
    tbl.append(wide, merge_schema=True)
    assert {(r.k, r.score) for r in tbl.read().collect()} == {
        (1, None), (2, 0.5),
    }
    # narrow write after evolution: missing column fills NULL
    tbl.append(
        spark.createDataFrame([(3, "c")], "k long, v string"),
        merge_schema=True,
    )
    assert tbl.read().filter("k = 3").collect()[0].score is None
    # merge with a brand-new source column evolves then upserts
    src = spark.createDataFrame(
        [(2, "B", "eu"), (4, "d", "na")], "k long, v string, region string"
    )
    tbl.merge(
        src,
        on=["k"],
        when_matched_update={
            "v": F.col("__src.v"), "region": F.col("__src.region")
        },
        when_not_matched_insert=True,
        merge_schema=True,
    )
    got = {(r.k, r.v, r.region) for r in tbl.read().collect()}
    assert got == {
        (1, "a", None), (2, "B", "eu"), (3, "c", None), (4, "d", "na"),
    }


def test_target_file_size_and_compression(spark, tmp_path):
    """The reference's target_file_size WITH-option (table_ops.c:42-43)
    splits large appends into multiple near-target files with no extra
    scan; write_compression picks the parquet codec."""
    from pg_lakehouse_spark.lakehouse import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "wh_tfs"))
    big = spark.range(200_000).select(
        F.col("id").alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("v"),
    )
    plain = cat.create_table_as("db", "plain", big)
    sized = cat.create_table_as(
        "db", "sized", big,
        properties={"target_file_size": str(256 * 1024),
                    "write_compression": "zstd"},
    )
    n_plain = len(plain.snapshot().files)
    n_sized = len(sized.snapshot().files)
    assert n_sized > n_plain  # the target split the append
    # files land in the target's ballpark (estimate errs small-side)
    sizes = [f["bytes"] for f in sized.snapshot().files]
    assert max(sizes) < 4 * 256 * 1024
    assert sized.read().count() == 200_000
    # zstd honored in the physical files
    import pyarrow.parquet as pq
    import os

    path = os.path.join(sized.location, sized.snapshot().files[0]["path"])
    meta = pq.ParquetFile(path).metadata
    assert meta.row_group(0).column(0).compression.lower() == "zstd"


def test_target_file_size_preserves_write_clustering(spark, tmp_path):
    """r4 ADVICE scale defect: with BOTH ``target_file_size`` and
    ``write_sort_order`` set, the sizer re-hashed the frame AFTER the
    range-sort, silently un-clustering the files (disjoint min/max
    bounds — the whole data-skipping asset — lost). Sizing now feeds
    the range split, so clustering and near-target sizes compose."""
    from pg_lakehouse_spark.lakehouse import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "wh_clu"))
    # shuffled key order so a sorted outcome proves the write sorted it
    big = spark.range(200_000).select(
        ((F.col("id") * 48271) % 200_000).alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("v"),
    )
    tbl = cat.create_table(
        "db", "clu",
        big.schema,
        properties={
            "target_file_size": str(256 * 1024),
            "write_sort_order": "k",
            "write_compression": "zstd",
        },
    )
    tbl.append(big)
    files = tbl.snapshot().files
    # sizing engaged: the append split into several near-target files
    assert len(files) > 1
    assert max(f["bytes"] for f in files) < 4 * 256 * 1024
    # clustering survived: per-file k-ranges are disjoint slices
    ranges = sorted(f["ranges"]["k"] for f in files)
    for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: {ranges}"
    assert tbl.read().count() == 200_000


def test_constrained_column_guards_evolution(spark, tmp_path):
    """Renaming/dropping a column referenced by a CHECK constraint is
    rejected (PG dependency rule) instead of breaking future writes."""
    from pg_lakehouse_spark.lakehouse import LakeCatalog, LakehouseError

    cat = LakeCatalog(spark, str(tmp_path / "wh_guard"))
    tbl = cat.create_table(
        "db", "g", spark.createDataFrame([(1, 2.0)], "k long, v double").schema
    )
    tbl.add_check_constraint("v_pos", "v > 0", validate=False)
    with pytest.raises(LakehouseError, match="referenced by CHECK"):
        tbl.rename_column("v", "value")
    with pytest.raises(LakehouseError, match="referenced by CHECK"):
        tbl.drop_column("v")
    # unconstrained columns evolve freely; after dropping the
    # constraint the column moves too
    tbl.rename_column("k", "key")
    tbl.drop_check_constraint("v_pos")
    tbl.rename_column("v", "value")
    assert set(tbl.schema().fieldNames()) == {"key", "value"}


def test_dynamic_partition_overwrite(spark, tmp_path):
    """overwrite_partitions replaces only the partitions the frame
    touches; untouched partitions carry by reference; the change feed
    reflects the partial replacement; mixed layouts are rejected."""
    from pg_lakehouse_spark.lakehouse import LakeCatalog, LakehouseError

    cat = LakeCatalog(spark, str(tmp_path / "wh_dpo"))
    rows = [(i, "d1" if i < 50 else "d2", float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "k long, day string, v double")
    tbl = cat.create_table(
        "db", "dpo", df.schema, partition_by=["day"]
    )
    tbl.append(df)
    before_d2 = {f["path"] for f in tbl.snapshot().files if "day=d2" in f["path"]}
    # replace ONLY d1
    repl = spark.createDataFrame(
        [(1000 + i, "d1", -1.0) for i in range(5)], "k long, day string, v double"
    )
    snap = tbl.overwrite_partitions(repl)
    got = tbl.read()
    assert got.filter("day = 'd1'").count() == 5
    assert got.filter("day = 'd2'").count() == 50
    # d2 files untouched (carried by reference)
    after_d2 = {f["path"] for f in tbl.snapshot().files if "day=d2" in f["path"]}
    assert after_d2 == before_d2
    assert snap.operation == "overwrite-partitions"
    # change feed: 50 d1 deletes + 5 inserts, nothing for d2
    chg = tbl.read_changes(snap.parent, snap.version)
    assert chg.filter("_change_type = 'delete'").count() == 50
    assert chg.filter("_change_type = 'insert'").count() == 5
    assert chg.filter("day = 'd2'").count() == 0
    # unpartitioned tables refuse
    t2 = cat.create_table_as("db", "flat", df)
    with pytest.raises(LakehouseError, match="requires a partitioned"):
        t2.overwrite_partitions(repl)
    # mixed layout (spec switch) rejected until compaction upgrades
    tbl.set_partition_spec(["k"])
    with pytest.raises(LakehouseError, match="different partition layout"):
        tbl.overwrite_partitions(
            spark.createDataFrame([(1, "dx", 0.0)], "k long, day string, v double")
        )


def test_write_time_zorder_clustering(spark, tmp_path):
    """write_sort_order='zorder(a,b)': ingest lands Morton-clustered
    files whose manifest bounds prune on BOTH dimensions."""
    from pg_lakehouse_spark.lakehouse import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "wh_wz"))
    rows = [(i, i % 100, (i * 37) % 100) for i in range(20_000)]
    df = spark.createDataFrame(rows, "id long, a long, b long")
    tbl = cat.create_table(
        "db", "wz", df.schema,
        properties={"write_sort_order": "zorder(a, b)",
                    "write_target_files": "8"},
    )
    tbl.append(df)
    assert len(tbl.snapshot().files) == 8
    # point-ish lookups prune on each dimension independently
    kept_a, total = tbl.pruned_file_count({"a": (10, 15)})
    kept_b, _ = tbl.pruned_file_count({"b": (10, 15)})
    assert kept_a < total and kept_b < total
    assert (
        tbl.read_pruned({"a": (10, 15)}).count()
        == df.filter("a between 10 and 15").count()
    )


def test_dynamic_overwrite_rebases_or_aborts(spark, tmp_path):
    """Concurrent commits: an append to an UNTOUCHED partition
    re-bases under the overwrite; an append INTO a replaced partition
    aborts it (rows must not silently vanish)."""
    from pg_lakehouse_spark.lakehouse import (
        CommitConflict,
        LakeCatalog,
        LakeTable,
    )

    cat = LakeCatalog(spark, str(tmp_path / "wh_dpr"))
    df = spark.createDataFrame(
        [(i, "p1" if i % 2 else "p2") for i in range(20)], "k long, day string"
    )
    tbl = cat.create_table("db", "dpr", df.schema, partition_by=["day"])
    tbl.append(df)
    repl = spark.createDataFrame([(100, "p1")], "k long, day string")

    real_commit = LakeTable._rebase_and_publish
    state = {"fired": False}

    def race_other_partition(self, *a, **kw):
        if not state["fired"] and a[0] == "overwrite-partitions":
            state["fired"] = True
            other = LakeTable(spark, self.location)
            other.append(
                spark.createDataFrame([(200, "p2")], "k long, day string")
            )
        return real_commit(self, *a, **kw)

    LakeTable._rebase_and_publish = race_other_partition
    try:
        tbl.overwrite_partitions(repl)
    finally:
        LakeTable._rebase_and_publish = real_commit
    got = tbl.read()
    assert got.filter("day = 'p1'").count() == 1      # replaced
    assert got.filter("k = 200").count() == 1         # concurrent survived
    # concurrent write INTO the replaced partition -> abort
    state2 = {"fired": False}

    def race_same_partition(self, *a, **kw):
        if not state2["fired"] and a[0] == "overwrite-partitions":
            state2["fired"] = True
            other = LakeTable(spark, self.location)
            other.append(
                spark.createDataFrame([(300, "p1")], "k long, day string")
            )
        return real_commit(self, *a, **kw)

    LakeTable._rebase_and_publish = race_same_partition
    try:
        with pytest.raises(CommitConflict, match="replaced partition"):
            tbl.overwrite_partitions(repl)
    finally:
        LakeTable._rebase_and_publish = real_commit
    assert tbl.read().filter("k = 300").count() == 1  # nothing lost


def test_null_count_stats_and_pruning(spark, tmp_path):
    """Per-file NULL counts: ANALYZE exposes null_count; IS NULL reads
    skip zero-null files and IS NOT NULL skips all-null files."""
    from pg_lakehouse_spark.lakehouse import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "wh_nulls"))
    no_nulls = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k long, v double"
    )
    all_nulls = spark.createDataFrame(
        [(1000 + i, None) for i in range(50)], "k long, v double"
    )
    mixed = spark.createDataFrame(
        [(2000 + i, None if i % 2 else float(i)) for i in range(40)],
        "k long, v double",
    )
    tbl = cat.create_table("db", "nt", no_nulls.schema)
    for part in (no_nulls, all_nulls, mixed):
        tbl.append(part.coalesce(1))
    stats = {
        r.column: r.null_count for r in tbl.column_stats_df().collect()
    }
    assert stats["v"] == 50 + 20
    assert stats["k"] == 0
    total = len(tbl.snapshot().files)
    # IS NULL: the no-null file skips
    sel = tbl.read_pruned({}, is_null=["v"])
    assert sel.count() == 70
    skipped_files = [
        f for f in tbl.snapshot().files if (f.get("nulls") or {}).get("v") == 0
    ]
    assert skipped_files  # at least the no-null file is skippable
    # IS NOT NULL: the all-null file skips
    sel2 = tbl.read_pruned({}, not_null=["v"])
    assert sel2.count() == 100 + 20
    assert total == 3


def test_null_count_skip_epoch_gated_on_drop_readd(spark, tmp_path):
    """r4 ADVICE defect: null-count skipping was keyed by column NAME.
    After drop-and-re-add of a column, old files carry null_count=0
    for the RETIRED column under the same name while their rows read
    NULL for the new one — an ``is_null`` read silently lost them.
    Stats now resolve by field id through the file's schema epoch."""
    from pg_lakehouse_spark.lakehouse import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "wh_nid"))
    tbl = cat.create_table(
        "db", "nid",
        spark.createDataFrame([(1, 1.0)], "k long, v double").schema,
    )
    tbl.append(
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "k long, v double"
        ).coalesce(1)
    )
    tbl.drop_column("v")
    tbl.add_column("v", "double")
    # old-file rows read NULL for the re-added column; IS NULL must
    # return all 10 (previously 0: the stale null_count=0 skipped them)
    assert tbl.read_pruned({}, is_null=["v"]).count() == 10
    # a new append with real values mixes epochs correctly
    tbl.append(
        spark.createDataFrame(
            [(100, 5.0), (101, None)], "k long, v double"
        ).coalesce(1)
    )
    assert tbl.read_pruned({}, is_null=["v"]).count() == 11
    assert tbl.read_pruned({}, not_null=["v"]).count() == 1
    # stale RANGES of the retired column must not mislead either: a
    # range read matches only the new epoch's real values
    assert tbl.read_pruned({"v": (0.0, 100.0)}).count() == 1


def test_range_filter_skips_all_null_file(spark, tmp_path):
    from pg_lakehouse_spark.lakehouse import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "wh_rn"))
    vals = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "k long, v double"
    )
    nulls = spark.createDataFrame(
        [(100 + i, None) for i in range(50)], "k long, v double"
    )
    tbl = cat.create_table("db", "rn", vals.schema)
    tbl.append(vals.coalesce(1))
    tbl.append(nulls.coalesce(1))
    # range filter on v: the all-null file cannot match — and indeed
    # carries no bounds, so only the null-count rule can skip it
    out = tbl.read_pruned({"v": (10.0, 20.0)})
    assert out.count() == 11
    files_with_bounds = [
        f for f in tbl.snapshot().files if "v" in (f.get("ranges") or {})
    ]
    assert len(files_with_bounds) == 1  # null file has no v bounds


# -- r6: DML rebase probe must not stall the table (r5 ADVICE) ----------


def test_dml_rebase_probe_runs_outside_commit_lock(catalog, orders_df):
    """The rebase validation's predicate probe is a Spark job; holding
    the exclusive commit flock through it would stall every other
    writer on the table. The r6 structure probes with the lock
    RELEASED (re-acquiring to commit), degrading to under-lock
    validation only after repeated interleaving."""
    import fcntl
    import types

    tbl = catalog.create_table("db", "probe_lock", orders_df.schema)
    tbl.append(orders_df.limit(20).repartition(1))
    other = catalog.load_table("db", "probe_lock")
    extra = orders_df.limit(25).subtract(orders_df.limit(20)).withColumn(
        "o_orderkey", F.col("o_orderkey") + 100000
    )

    # force the conflict: a concurrent (non-matching) append lands
    # between this DML's staging and its commit
    orig_stage = type(tbl)._stage_dataframe
    fired = {"done": False}

    def racy(self, *a, **k):
        if not fired["done"]:
            fired["done"] = True
            other.append(extra.repartition(1))
        return orig_stage(self, *a, **k)

    tbl._stage_dataframe = types.MethodType(racy, tbl)

    # spy: every free-running validation must find the lock acquirable
    orig_val = type(tbl)._rebase
    seen = {"free": 0, "held": 0}

    def spy(self, *args):
        with open(
            os.path.join(self.meta_dir, "_commit.lock"), "w"
        ) as fh:
            try:
                fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
                seen["free"] += 1
                fcntl.flock(fh, fcntl.LOCK_UN)
            except BlockingIOError:
                seen["held"] += 1
        return orig_val(*args)

    tbl._rebase = types.MethodType(spy, tbl)

    keys = [r.o_orderkey for r in orders_df.limit(5).collect()]
    tbl.update(
        F.col("o_orderkey").isin(keys), {"o_totalprice": F.lit(0.0)}
    )
    assert seen["free"] >= 1 and seen["held"] == 0, seen
    got = tbl.read()
    assert got.filter(F.col("o_totalprice") == 0.0).count() == 5
    assert got.filter(F.col("o_orderkey") > 100000).count() == 5  # append survived


def test_merge_stale_attempt_leaves_no_orphan_files(catalog, orders_df):
    """A merge attempt that loses the race re-executes — and must
    remove its staged parquet first (r5 ADVICE: each lost attempt
    leaked a rewrite-set until vacuum)."""
    import types

    tbl = catalog.create_table_as(
        "db", "morph", orders_df.limit(20).repartition(1)
    )
    other = catalog.load_table("db", "morph")
    # overlapping keys → the rebase is invalid → stale → re-execute
    overlap = orders_df.limit(25).subtract(orders_df.limit(20))

    orig_stage = type(tbl)._stage_dataframe
    fired = {"done": False}

    def racy(self, *a, **k):
        if not fired["done"]:
            fired["done"] = True
            other.append(overlap.repartition(1))
        return orig_stage(self, *a, **k)

    tbl._stage_dataframe = types.MethodType(racy, tbl)

    src = orders_df.limit(10).select(
        "o_orderkey", (F.col("o_totalprice") * 0 + 1.0).alias("newprice")
    )
    tbl.merge(
        src,
        on=["o_orderkey"],
        when_matched_update={"o_totalprice": F.col("__src.newprice")},
        when_not_matched_insert=False,
    )
    assert (
        tbl.read().filter(F.col("o_totalprice") == 1.0).count() == 10
    )
    # every data file on disk is referenced by some snapshot — the
    # lost attempt's staged files were removed, not orphaned
    referenced = set()
    for v in range(1, tbl.current_version() + 1):
        for f in tbl.snapshot(v).files:
            referenced.add(os.path.normpath(f["path"]))
    on_disk = set()
    for root, _dirs, files in os.walk(tbl.data_dir):
        for fn in files:
            if fn.endswith(".parquet"):
                on_disk.add(
                    os.path.normpath(
                        os.path.relpath(
                            os.path.join(root, fn), tbl.location
                        )
                    )
                )
    orphans = on_disk - referenced
    assert not orphans, orphans


def test_merge_schema_retry_realigns_source(catalog, orders_df):
    """merge(merge_schema=True) that loses to a concurrent schema
    evolution re-executes WITH merge_schema (r5 ADVICE: the recursion
    dropped it, so the insert mapping referenced __src.<new_col> the
    un-reshaped source lacks and threw AnalysisException)."""
    import types

    tbl = catalog.create_table_as(
        "db", "msr", orders_df.limit(10).repartition(1)
    )
    other = catalog.load_table("db", "msr")

    orig_stage = type(tbl)._stage_dataframe
    fired = {"done": False}

    def racy(self, *a, **k):
        if not fired["done"]:
            fired["done"] = True
            other.add_column("extra", "string")
        return orig_stage(self, *a, **k)

    tbl._stage_dataframe = types.MethodType(racy, tbl)

    src = orders_df.limit(12).subtract(orders_df.limit(8))
    tbl.merge(
        src,
        on=["o_orderkey"],
        when_matched_update={"o_totalprice": F.lit(2.0)},
        when_not_matched_insert=True,
        merge_schema=True,
    )
    got = tbl.read()
    assert got.count() == 12
    assert got.filter(F.col("o_totalprice") == 2.0).count() == 2
    assert "extra" in got.columns


def test_subquery_condition_dml_changes_the_filtered_rows(catalog, spark):
    """``delete``/``update`` take any Column Spark evaluates, an IN
    subquery or a correlated EXISTS over ``__target`` included: on a
    copy-on-write table they change exactly the rows ``read().filter``
    of the same Column returns, rewriting only the files holding them
    (file identity comes from each scanned row's lineage, which a
    subquery's semi-join keeps). A row whose condition is NULL stays,
    as in PG, also when it shares a file with a deleted row."""
    tbl = catalog.create_table_as(
        "db", "sqc",
        spark.range(400).selectExpr("CAST(id AS INT) AS k", "CAST(id AS INT) AS v")
        .repartitionByRange(4, "k"),
    )
    assert len(tbl.snapshot().files) == 4
    spark.createDataFrame([(3,), (9,), (250,)], "k int").createOrReplaceTempView(
        "sqc_u"
    )

    def keys(df):
        return sorted(r["k"] for r in df.collect())

    cond = F.expr("k IN (SELECT k FROM sqc_u) AND k < 100")
    doomed = keys(tbl.read().filter(cond))
    assert doomed == [3, 9]
    snap = tbl.delete(cond)
    assert snap.summary["rewritten_files"] == 1
    assert keys(tbl.read()) == [k for k in range(400) if k not in doomed]

    cond = F.expr("EXISTS (SELECT 1 FROM sqc_u WHERE sqc_u.k + 1 = __target.k)")
    hit = keys(tbl.read().alias("__target").filter(cond))
    assert hit == [4, 10, 251]
    snap = tbl.update(cond, {"v": F.expr("-(SELECT max(k) FROM sqc_u)")})
    assert snap.summary["rewritten_files"] == 2
    assert keys(tbl.read().filter("v = -250")) == hit
    assert tbl.read().count() == 398

    # 3VL: (NULL > 15) is NULL, so the NULL row is kept, not deleted
    nul = catalog.create_table_as(
        "db", "sqn",
        spark.createDataFrame([(5, None), (6, 1), (7, 20)], "k int, v int")
        .coalesce(1),
    )
    assert len(nul.snapshot().files) == 1
    nul.delete(F.expr("v > 15"))
    assert sorted(tuple(r) for r in nul.read().collect()) == [(5, None), (6, 1)]


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_merge_insert_values_round_like_insert(catalog, spark, mode):
    """An explicit MERGE insert value takes PG's assignment cast, as
    INSERT and UPDATE store: NUMERIC 4.5 into an int column stores 5
    (Spark's cast truncates to 4), in both write modes."""
    from decimal import Decimal

    tbl = catalog.create_table_as(
        "db", "miv",
        spark.createDataFrame([(1, 1)], "k int, v int"),
        properties={"write_delete_mode": mode, "row_key": "k"},
    )
    tbl.merge(
        spark.createDataFrame(
            [(1, Decimal("7.5")), (3, Decimal("4.5")), (4, Decimal("-2.5"))],
            "k int, v decimal(3,1)",
        ),
        on=["k"],
        when_not_matched_insert=True,
        when_not_matched_values={"k": F.col("__src.k"), "v": F.col("__src.v")},
    )
    assert sorted(tuple(r) for r in tbl.read().collect()) == [
        (1, 1), (3, 5), (4, -3)
    ]
    assert tbl.schema()["v"].dataType.simpleString() == "int"
