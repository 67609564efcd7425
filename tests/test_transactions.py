"""Multi-table atomic transactions: every table written during the
txn commits in one all-or-nothing step (ref commit_ops.c:186-212 — one
PG PRE_COMMIT commits each table's write state inside a single PG
transaction) and abort deletes staged files (commit_ops.c:217-272)."""

from __future__ import annotations

import glob
import os
from unittest import mock

import pytest
from pyspark.sql import functions as F

from pg_lakehouse_spark.lakehouse import (
    LakeCatalog,
    LakehouseError,
    LakeTransaction,
)


@pytest.fixture()
def catalog(spark, tmp_path):
    return LakeCatalog(spark, str(tmp_path / "warehouse"))


@pytest.fixture()
def orders_df(spark, sf_dir):
    from pg_lakehouse_spark.tables import table

    return table(spark, sf_dir, "orders")


def test_two_table_commit_is_atomic(catalog, orders_df):
    t1 = catalog.create_table_as("db", "a", orders_df.limit(10))
    t2 = catalog.create_table_as("db", "b", orders_df.limit(10))
    d1 = orders_df.limit(30).subtract(orders_df.limit(10))
    d2 = orders_df.limit(15).subtract(orders_df.limit(10))
    with LakeTransaction() as tx:
        tx.append(t1, d1)
        tx.append(t2, d2)
        # staged but invisible until commit (exit)
        assert t1.read().count() == 10
        assert t2.read().count() == 10
    assert t1.read().count() == 10 + d1.count()
    assert t2.read().count() == 10 + d2.count()
    assert t1.snapshot().summary["txn_tables"] == 2


def test_abort_on_exception_cleans_staged_files(catalog, orders_df):
    t1 = catalog.create_table_as("db", "a", orders_df.limit(10))
    t2 = catalog.create_table_as("db", "b", orders_df.limit(10))
    v1, v2 = t1.current_version(), t2.current_version()
    files_before = set(
        glob.glob(os.path.join(t1.data_dir, "**", "*.parquet"), recursive=True)
    ) | set(
        glob.glob(os.path.join(t2.data_dir, "**", "*.parquet"), recursive=True)
    )
    with pytest.raises(RuntimeError, match="boom"):
        with LakeTransaction() as tx:
            tx.append(t1, orders_df.limit(20).subtract(orders_df.limit(10)))
            tx.append(t2, orders_df.limit(20).subtract(orders_df.limit(10)))
            raise RuntimeError("boom")
    # neither table advanced, and the staged orphans are deleted
    assert t1.current_version() == v1 and t2.current_version() == v2
    files_after = set(
        glob.glob(os.path.join(t1.data_dir, "**", "*.parquet"), recursive=True)
    ) | set(
        glob.glob(os.path.join(t2.data_dir, "**", "*.parquet"), recursive=True)
    )
    assert files_after == files_before


def test_publish_failure_rolls_back_published_tables(catalog, orders_df):
    t1 = catalog.create_table_as("db", "a", orders_df.limit(10))
    t2 = catalog.create_table_as("db", "b", orders_df.limit(10))
    v1, v2 = t1.current_version(), t2.current_version()
    tx = LakeTransaction()
    tx.append(t1, orders_df.limit(20).subtract(orders_df.limit(10)))
    tx.append(t2, orders_df.limit(20).subtract(orders_df.limit(10)))

    real_set_head = type(t1)._set_head
    calls = {"n": 0}

    def failing_set_head(self, version):
        # _set_head is the publish pointer move; fail the SECOND
        # table's publish after the first already swapped
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError("disk full")
        return real_set_head(self, version)

    with mock.patch.object(type(t1), "_set_head", failing_set_head):
        with pytest.raises(OSError, match="disk full"):
            tx.commit()
    # the FIRST table's already-swapped pointer was restored: no reader
    # ever observes a half-committed transaction
    assert t1.current_version() == v1 and t2.current_version() == v2
    assert t1.read().count() == 10 and t2.read().count() == 10


def test_mixed_verbs_apply_in_order(catalog, orders_df):
    t = catalog.create_table_as("db", "t", orders_df.limit(10))
    fork = t.current_version()
    d1 = orders_df.limit(20).subtract(orders_df.limit(10))
    d2 = orders_df.limit(25).subtract(orders_df.limit(20))
    with LakeTransaction() as tx:
        tx.truncate(t)
        tx.append(t, d1)
        tx.append(t, d2)
    # truncate + appends applied in order: only the new rows survive
    assert t.read().count() == d1.count() + d2.count()
    assert t.snapshot().summary["txn_ops"] == ["truncate", "append", "append"]
    # change feed across the whole txn: old rows out, new rows in
    chg = t.read_changes(fork)
    assert chg.filter(F.col("_change_type") == "delete").count() == 10
    assert (
        chg.filter(F.col("_change_type") == "insert").count()
        == d1.count() + d2.count()
    )


def test_txn_append_then_single_table_read_changes(catalog, orders_df):
    t1 = catalog.create_table_as("db", "a", orders_df.limit(10))
    t2 = catalog.create_table_as("db", "b", orders_df.limit(10))
    v1 = t1.current_version()
    with LakeTransaction() as tx:
        tx.append(t1, orders_df.limit(22).subtract(orders_df.limit(10)))
        tx.append(t2, orders_df.limit(16).subtract(orders_df.limit(10)))
    chg = t1.read_changes(v1)
    assert chg.filter(F.col("_change_type") == "insert").count() == 12
    assert chg.count() == 12


def test_txn_on_branch_handle_advances_branch_only(catalog, orders_df):
    t = catalog.create_table_as("db", "t", orders_df.limit(10))
    t.create_branch("wap")
    wap = t.for_branch("wap")
    with LakeTransaction() as tx:
        tx.append(wap, orders_df.limit(20).subtract(orders_df.limit(10)))
    assert t.read().count() == 10
    assert wap.read().count() == 20


def test_txn_conflict_free_under_interleaved_writer(catalog, orders_df):
    """A writer that lands between staging and commit doesn't conflict:
    the txn re-bases on the head it sees at lock time."""
    t = catalog.create_table_as("db", "t", orders_df.limit(10))
    tx = LakeTransaction()
    d = orders_df.limit(20).subtract(orders_df.limit(10))
    tx.append(t, d)
    interleaved = orders_df.limit(25).subtract(orders_df.limit(20))
    t.append(interleaved)  # lands first
    tx.commit()
    assert t.read().count() == 10 + d.count() + interleaved.count()


def test_txn_reuse_rejected(catalog, orders_df):
    t = catalog.create_table_as("db", "t", orders_df.limit(10))
    tx = LakeTransaction()
    tx.append(t, orders_df.limit(12).subtract(orders_df.limit(10)))
    tx.commit()
    with pytest.raises(LakehouseError, match="already committed"):
        tx.append(t, orders_df.limit(12))
    with pytest.raises(LakehouseError, match="already committed"):
        tx.commit()


def test_empty_txn_is_noop(catalog, orders_df):
    t = catalog.create_table_as("db", "t", orders_df.limit(10))
    v = t.current_version()
    with LakeTransaction():
        pass
    assert t.current_version() == v


def test_txn_row_level_dml_across_tables(catalog, orders_df):
    """DELETE/UPDATE/MERGE participate in a multi-table txn (applied
    eagerly on hidden branches, published atomically)."""
    t1 = catalog.create_table_as("db", "a", orders_df.limit(100))
    t2 = catalog.create_table_as("db", "b", orders_df.limit(50))
    cutoff = t1.read().selectExpr("percentile(o_orderkey, 0.3)").first()[0]
    doomed = t1.read().filter(F.col("o_orderkey") <= cutoff).count()
    src = orders_df.limit(60).withColumn(
        "o_totalprice", F.col("o_totalprice") + 5.0
    )
    with LakeTransaction() as tx:
        tx.delete(t1, F.col("o_orderkey") <= cutoff)
        tx.update(
            t1,
            F.col("o_orderkey") > cutoff,
            {"o_orderpriority": F.lit("9-TXN")},
        )
        tx.merge(
            t2, src,
            on=["o_orderkey"],
            when_matched_update={"o_totalprice": F.col("__src.o_totalprice")},
            when_not_matched_insert=True,
        )
        # invisible mid-txn; read-your-writes via tx.view
        assert t1.read().count() == 100
        assert tx.view(t1).count() == 100 - doomed
    assert t1.read().count() == 100 - doomed
    assert (
        t1.read().filter(F.col("o_orderpriority") == "9-TXN").count()
        == 100 - doomed
    )
    assert t2.read().count() == 60
    assert t2.snapshot().summary["txn_ops"] == ["merge"]


def test_txn_dml_abort_restores_everything(catalog, orders_df):
    t = catalog.create_table_as("db", "t", orders_df.limit(40))
    before = {tuple(r) for r in t.read().collect()}
    v = t.current_version()
    files_before = set(
        glob.glob(os.path.join(t.data_dir, "**", "*.parquet"), recursive=True)
    )
    with pytest.raises(RuntimeError):
        with LakeTransaction() as tx:
            tx.delete(t, F.col("o_orderkey") > 0)
            tx.append(t, orders_df.limit(45).subtract(orders_df.limit(40)))
            raise RuntimeError("abort me")
    assert t.current_version() == v
    assert {tuple(r) for r in t.read().collect()} == before
    assert t.branches() == {}  # hidden txn branch removed
    files_after = set(
        glob.glob(os.path.join(t.data_dir, "**", "*.parquet"), recursive=True)
    )
    assert files_after == files_before


def test_txn_conflict_replays_dml(catalog, orders_df):
    """An interleaved writer between staging and commit triggers a
    re-fork + replay of the recorded ops; the final state is as if
    the txn ran entirely after the interleaved write."""
    t = catalog.create_table_as("db", "t", orders_df.limit(30))
    tx = LakeTransaction()
    tx.update(t, F.lit(True), {"o_orderpriority": F.lit("9-TXN")})
    late = orders_df.limit(35).subtract(orders_df.limit(30))
    t.append(late)  # lands between staging and commit
    tx.commit()
    # replay applied the update AFTER the interleaved append, so every
    # row (including the late ones) is updated
    assert t.read().count() == 35
    assert (
        t.read().filter(F.col("o_orderpriority") == "9-TXN").count() == 35
    )


def test_concurrent_appends_and_txns_no_lost_updates(catalog, orders_df):
    """4 threads × (appends + a multi-table txn) racing on shared
    tables: optimistic commits + lock-ordered txn publishes must land
    every write exactly once (no lost updates, no duplicate files,
    monotonic history)."""
    import threading

    t1 = catalog.create_table_as("db", "c1", orders_df.limit(10))
    t2 = catalog.create_table_as("db", "c2", orders_df.limit(10))
    base1, base2 = t1.read().count(), t2.read().count()
    errors = []

    def worker(i: int) -> None:
        try:
            lo = 1000 * (i + 1)
            d1 = orders_df.limit(lo + 5).subtract(orders_df.limit(lo))
            t1.append(d1)
            with LakeTransaction() as tx:
                d2 = orders_df.limit(lo + 12).subtract(orders_df.limit(lo + 7))
                d3 = orders_df.limit(lo + 20).subtract(orders_df.limit(lo + 16))
                tx.append(t1, d2)
                tx.append(t2, d3)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    # every writer's rows landed exactly once
    assert t1.read().count() == base1 + 4 * (5 + 5)
    assert t2.read().count() == base2 + 4 * 4
    # no duplicate file entries, no dangling txn branches
    for t_ in (t1, t2):
        paths = [f["path"] for f in t_.snapshot().files]
        assert len(paths) == len(set(paths))
        assert t_.branches() == {}
        # every referenced file exists on disk
        for rel in paths:
            assert os.path.exists(os.path.join(t_.location, rel))


def test_concurrent_dml_compaction_and_wap_invariants(catalog, spark):
    """Row-level DML from several writers racing a compaction loop and
    a branch WAP cycle: whatever interleaving occurs, the final state
    must hold the exact per-writer row accounting, a clean file
    manifest, and a readable history. Maintenance is ALLOWED to lose
    its optimistic race (bounded retries exhausted) — but a losing
    compact/branch op must be a harmless no-op, never corruption."""
    import threading

    rows = [(i, f"g{i % 3}", float(i)) for i in range(300)]
    df = spark.createDataFrame(rows, "k long, grp string, v double")
    tbl = catalog.create_table(
        "db", "stress", df.schema, partition_by=["grp"],
    )
    tbl.append(df)
    errors: list[BaseException] = []
    maintenance_losses: list[BaseException] = []

    def writer(i: int) -> None:
        """Each writer owns key range [10_000*(i+1), +300) in its own
        grp partition: per iteration append 100, update 50, delete 25
        → net +75 rows per iteration, 3 iterations."""
        try:
            base = 10_000 * (i + 1)
            g = f"w{i}"
            for it in range(3):
                lo = base + 100 * it
                chunk = spark.createDataFrame(
                    [(k, g, 0.0) for k in range(lo, lo + 100)],
                    "k long, grp string, v double",
                )
                tbl.append(chunk)
                tbl.update(
                    (F.col("grp") == g)
                    & F.col("k").between(lo, lo + 49),
                    {"v": F.lit(1.0)},
                )
                tbl.delete(
                    (F.col("grp") == g)
                    & F.col("k").between(lo + 75, lo + 99)
                )
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    def maintenance() -> None:
        for _ in range(4):
            try:
                tbl.compact(small_file_bytes=64 * 1024 * 1024, min_files=2)
            except LakehouseError as e:
                maintenance_losses.append(e)  # allowed: lost the race

    def wap() -> None:
        """Branch WAP churn: write-audit-publish with the standard
        re-branch retry — fast-forward legitimately refuses when main
        advanced since the fork, so a losing round drops the branch
        and re-forks from the fresh head."""
        try:
            for it in range(3):
                chunk = spark.createDataFrame(
                    [(90_000 + 10 * it + j, "wap", -1.0) for j in range(10)],
                    "k long, grp string, v double",
                )
                for attempt in range(60):
                    b = f"audit{it}_{attempt}"
                    tbl.create_branch(b)
                    h = tbl.for_branch(b)
                    h.append(chunk)
                    try:
                        tbl.fast_forward(b)
                        tbl.drop_branch(b)
                        break
                    except LakehouseError:
                        tbl.drop_branch(b)  # lost the race — re-fork
                else:
                    raise AssertionError("WAP never published")
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    threads = (
        [threading.Thread(target=writer, args=(i,)) for i in range(3)]
        + [threading.Thread(target=maintenance), threading.Thread(target=wap)]
    )
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors

    got = tbl.read()
    # base partition untouched by every writer
    assert got.filter(F.col("grp").startswith("g")).count() == 300
    # each writer: 3 iterations × (100 appended − 25 deleted)
    for i in range(3):
        g = f"w{i}"
        mine = got.filter(F.col("grp") == g)
        assert mine.count() == 3 * 75, g
        assert mine.filter(F.col("v") == 1.0).count() == 3 * 50, g
    # WAP rows all published via fast-forward
    assert got.filter(F.col("grp") == "wap").count() == 30
    # manifest hygiene: unique live paths, every file on disk, no
    # leftover branches, monotonic readable history
    snap = tbl.snapshot()
    paths = [f["path"] for f in snap.files]
    assert len(paths) == len(set(paths))
    for rel in paths:
        assert os.path.exists(os.path.join(tbl.location, rel))
    assert tbl.branches() == {}
    versions = sorted(s.version for s in tbl.snapshots())
    assert tbl.current_version() == versions[-1]


def test_savepoint_rollback_and_commit(catalog, orders_df):
    """PG savepoints: ROLLBACK TO undoes ops after the savepoint (the
    branch rewinds, abandoned files/metadata are removed), the
    savepoint survives for re-use, and COMMIT publishes the savepoint
    state."""
    import glob
    import os

    from pg_lakehouse_spark.lakehouse import LakeTransaction

    base = orders_df.limit(200)
    t = catalog.create_table_as("db", "sp_t", base)
    extra1 = base.withColumn("o_orderkey", F.col("o_orderkey") + 10_000)
    extra2 = base.withColumn("o_orderkey", F.col("o_orderkey") + 20_000)
    tx = LakeTransaction()
    tx.append(t, extra1)
    tx.savepoint("a")
    files_at_a = len(glob.glob(os.path.join(t.data_dir, "**", "*.parquet"),
                               recursive=True))
    tx.append(t, extra2)
    tx.delete(t, F.col("o_orderkey") < 100)
    assert tx.view(t).count() < 600
    tx.rollback_to_savepoint("a")
    assert tx.view(t).count() == 400  # base + extra1 only
    # abandoned sub-chain's staged files are gone from disk
    assert len(
        glob.glob(os.path.join(t.data_dir, "**", "*.parquet"), recursive=True)
    ) == files_at_a
    # the savepoint survives: more ops, roll back again
    tx.append(t, extra2)
    tx.rollback_to_savepoint("a")
    assert tx.view(t).count() == 400
    tx.commit()
    assert t.read().count() == 400


def test_savepoint_unwinds_tables_touched_after(catalog, orders_df):
    from pg_lakehouse_spark.lakehouse import LakeTransaction

    base = orders_df.limit(100)
    t1 = catalog.create_table_as("db", "sp_t1", base)
    t2 = catalog.create_table_as("db", "sp_t2", base)
    tx = LakeTransaction()
    tx.append(t1, base.withColumn("o_orderkey", F.col("o_orderkey") + 1000))
    tx.savepoint("s")
    tx.append(t2, base.withColumn("o_orderkey", F.col("o_orderkey") + 2000))
    assert tx.view(t2).count() == 200
    tx.rollback_to_savepoint("s")
    assert tx.view(t2).count() == 100  # t2 untouched again
    assert tx.view(t1).count() == 200
    tx.commit()
    assert t1.read().count() == 200 and t2.read().count() == 100


def test_savepoint_release_and_later_destroyed(catalog, orders_df):
    import pytest as _pytest

    from pg_lakehouse_spark.lakehouse import LakehouseError, LakeTransaction

    base = orders_df.limit(50)
    t = catalog.create_table_as("db", "sp_t3", base)
    tx = LakeTransaction()
    tx.savepoint("a")
    tx.append(t, base)
    tx.savepoint("b")
    tx.rollback_to_savepoint("a")  # destroys b
    with _pytest.raises(LakehouseError, match="no such savepoint"):
        tx.rollback_to_savepoint("b")
    tx.savepoint("c")
    tx.release_savepoint("c")
    with _pytest.raises(LakehouseError, match="no such savepoint"):
        tx.release_savepoint("c")
    tx.abort()


def test_savepoint_sql_surface(spark, catalog, orders_df):
    from pg_lakehouse_spark.sql import LakeSQL

    lsql = LakeSQL(spark, catalog)
    lsql.sql("CREATE TABLE db.spsql (k BIGINT)")
    lsql.sql("BEGIN")
    lsql.sql("INSERT INTO db.spsql VALUES (1)")
    lsql.sql("SAVEPOINT a")
    lsql.sql("INSERT INTO db.spsql VALUES (2), (3)")
    lsql.sql("ROLLBACK TO SAVEPOINT a")
    lsql.sql("INSERT INTO db.spsql VALUES (9)")
    lsql.sql("RELEASE SAVEPOINT a")
    lsql.sql("COMMIT")
    got = [r.k for r in lsql.sql("SELECT k FROM db.spsql ORDER BY k").collect()]
    assert got == [1, 9]
