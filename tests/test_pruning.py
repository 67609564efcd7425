"""Data skipping has one rule: every file-selection path (read_pruned,
SQL SELECT, delete, update, MERGE, compact(filters=), EXPLAIN MERGE)
must return what the unpruned read, filtered row by row, returns.

The Spark tests build small segmented tables (``manifest.inline_max=0``)
whose stats can prune — a bloom column, a ``bucket(4, k)`` layout, and
a table taken through a rename swap and a drop-and-re-add — and check
each path against a plain Python model of the rows. The property test
checks the rule itself, Spark-free."""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from pg_lakehouse_spark.functions.hashing import xxh64_long
from pg_lakehouse_spark.lakehouse import (
    _BLOOM_BITS,
    _BLOOM_K,
    LakeCatalog,
    LakeTable,
    _bloom_pack,
)
from pg_lakehouse_spark.sql import LakeSQL

SEGMENTED = {"manifest.inline_max": "0"}


# -- the rule, Spark-free ------------------------------------------------

COLS = ("k", "s", "b")
_row = st.fixed_dictionaries(
    {
        "k": st.one_of(st.none(), st.integers(-20, 20)),
        "s": st.one_of(st.none(), st.sampled_from("abcde")),
        "b": st.one_of(st.none(), st.integers(0, 30)),
    }
)


def _positions(v: int) -> list[int]:
    """Stand-in bloom hash: any fixed k positions per value will do."""
    return [xxh64_long(v, seed) % _BLOOM_BITS for seed in range(_BLOOM_K)]


def _stats_of(rows: list[dict]) -> dict:
    """An entry's stats as the write side derives them from its rows,
    plus the partition keys a ``truncate(10, k)`` or ``bucket(4, k)``
    layout would give a file whose rows share one value of them
    (``k % 4`` stands in for the bucket hash)."""
    ranges, nulls = {}, {}
    for c in COLS:
        vals = [r[c] for r in rows if r[c] is not None]
        nulls[c] = len(rows) - len(vals)
        if vals:
            ranges[c] = [min(vals), max(vals)]
    ks = {r["k"] for r in rows}
    if None not in ks:
        for key, part in (("k_trunc10", lambda k: k // 10 * 10),
                          ("k_bucket4", lambda k: k % 4)):
            if len({part(k) for k in ks}) == 1:
                v = part(next(iter(ks)))
                ranges[key] = [v, v]
    bs = {r["b"] for r in rows if r["b"] is not None}
    return {
        "rows": len(rows),
        "ranges": ranges,
        "nulls": nulls,
        "blooms": {"b": _bloom_pack(p for v in bs for p in _positions(v))},
    }


def _bound(c: str):
    return st.one_of(
        st.none(),
        st.integers(-22, 22) if c == "k" else st.sampled_from("abcdef"),
    )


@settings(max_examples=400, deadline=None)
@given(data=st.data())
def test_rule_never_drops_a_matching_file(data):
    """``_entry_overlaps`` may keep a file that holds no match, but it
    never drops one that holds a matching row — for ranges (own bounds
    and truncate transforms), bucket equality, null counts and bloom
    probes, alone or combined."""
    rows = data.draw(st.lists(_row, min_size=1, max_size=6))
    layout = data.draw(st.sampled_from(["free", "trunc", "bucket"]))
    if layout == "trunc":
        t = data.draw(st.sampled_from([-20, -10, 0, 10]))
        rows = [dict(r, k=t + (r["k"] or 0) % 10) for r in rows]
    elif layout == "bucket":
        b = data.draw(st.integers(0, 3))
        rows = [dict(r, k=(r["k"] or 0) // 4 * 4 + b) for r in rows]
    ranges = {
        c: (data.draw(_bound(c)), data.draw(_bound(c)))
        for c in data.draw(st.sets(st.sampled_from(["k", "s"])))
    }
    if data.draw(st.booleans()):
        v = data.draw(st.integers(-22, 22))
        ranges["k"] = (v, v)  # equality: bucket pruning applies
    is_null = sorted(data.draw(st.sets(st.sampled_from(COLS), max_size=2)))
    not_null = sorted(data.draw(st.sets(st.sampled_from(COLS), max_size=2)))
    wanted = data.draw(
        st.one_of(st.none(), st.sets(st.integers(0, 30), min_size=1, max_size=3))
    )
    probes = None if wanted is None else {"b": [_positions(v) for v in wanted]}
    lo, hi = ranges.get("k", (None, None))
    bucket_eq = {"k_bucket4": lo % 4} if lo is not None and lo == hi else {}

    def matches(r: dict) -> bool:
        for c, (lo, hi) in ranges.items():
            if (lo, hi) == (None, None):
                continue
            v = r[c]
            if v is None or (lo is not None and v < lo) or (
                hi is not None and v > hi
            ):
                return False
        return (
            all(r[c] is None for c in is_null)
            and all(r[c] is not None for c in not_null)
            and (wanted is None or r["b"] in wanted)
        )

    if any(matches(r) for r in rows):
        assert LakeTable._entry_overlaps(
            _stats_of(rows), ranges, bucket_eq, probes, is_null, not_null
        )


def test_rule_prunes_by_every_layer():
    """The property above allows keeping everything; pin that each
    layer does skip a file it can rule out."""
    overlaps = LakeTable._entry_overlaps
    st_ = _stats_of([{"k": 12, "s": "b", "b": 7}, {"k": 15, "s": None, "b": 9}])
    assert not overlaps(st_, {"k": (16, None)})                  # bounds
    assert not overlaps(st_, {"k": (None, 11)})
    assert not overlaps(
        {"ranges": {"k_trunc10": [10, 10]}}, {"k": (20, 30)}   # transform
    )
    assert not overlaps(                                       # bucket
        {"ranges": {"k_bucket4": [2, 2]}}, {"k": (13, 13)}, {"k_bucket4": 1}
    )
    assert not overlaps(st_, {}, bloom_probes={"b": [_positions(8)]})
    assert overlaps(
        st_, {}, bloom_probes={"b": [_positions(8), _positions(9)]}
    )  # any probe may hit → keep
    assert not overlaps(st_, {}, is_null=["k"])                  # nulls
    all_null = _stats_of([{"k": 1, "s": None, "b": None}])
    assert not overlaps(all_null, {}, not_null=["s"])
    assert not overlaps(all_null, {"s": ("a", None)})  # range vs all-null


# -- the paths, against the unpruned read ---------------------------------


@pytest.fixture
def cat(spark, tmp_path):
    return LakeCatalog(spark, str(tmp_path / "wh"))


def _rows(df) -> list[tuple]:
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )


def _filters_match(tbl, lsql, name, cases) -> None:
    """read_pruned and a SQL SELECT … WHERE equal the unpruned read,
    filtered row-level, for every (filters, is_null, not_null, where)."""
    for filters, is_null, not_null, where in cases:
        want = _rows(tbl.read().filter(where))
        got = tbl.read_pruned(filters, is_null=is_null, not_null=not_null)
        assert _rows(got) == want, (filters, is_null, not_null)
        cols = ", ".join(tbl.read().columns)
        sql = lsql.sql(f"SELECT {cols} FROM db.{name} WHERE {where}")
        assert _rows(sql) == want, where


def _explain_then_merge(lsql, tbl, stmt: str) -> None:
    """EXPLAIN MERGE's candidate count is what the MERGE reads — the
    files it did not prune — and, copy-on-write, what it rewrites."""
    plan = lsql.sql("EXPLAIN " + stmt).collect()[0].plan
    m = re.search(r"rewrite candidates: (\d+) of (\d+) files", plan)
    assert m, plan
    n_files = len(tbl.snapshot().files)
    assert int(m.group(2)) == n_files, plan
    lsql.sql(stmt)
    snap = tbl.snapshot()
    assert snap.operation == "merge"
    assert n_files - snap.summary["pruned_files"] == int(m.group(1)), plan
    if "delete_mode" not in snap.summary:  # copy-on-write
        assert snap.summary["rewritten_files"] == int(m.group(1)), plan


def _apply(model: dict, tbl, key: str) -> None:
    got = {r[key]: tuple(r) for r in tbl.read().collect()}
    assert got == model


def test_bloom_table_paths_match_unpruned(spark, cat):
    base = spark.range(0, 90).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    tbl = cat.create_table(
        "db", "bl", base.schema,
        properties=SEGMENTED | {"bloom_filter_columns": "k"},
    )
    for m in (0, 1, 2):  # interleaved keys: only blooms can prune
        tbl.append(base.filter(F.col("k") % 3 == m).coalesce(1))
    lsql = LakeSQL(spark, cat)
    _filters_match(tbl, lsql, "bl", [
        ({"k": (31, 31)}, None, None, "k = 31"),
        ({"k": (500, 500)}, None, None, "k = 500"),
        ({"k": (10, 20)}, None, ["v"], "k BETWEEN 10 AND 20"),
    ])
    assert tbl.pruned_file_count({"k": (31, 31)}) == (1, 3)
    model = {k: (k, k * 10) for k in range(90)}

    tbl.delete(F.col("k") == 31)
    del model[31]
    _apply(model, tbl, "k")
    tbl.update(F.col("k") == 32, {"v": F.lit(-1)})
    model[32] = (32, -1)
    _apply(model, tbl, "k")
    # an int-typed SQL source into the BIGINT key: its probe must hash
    # the target type, or the file holding k=40 is skipped
    _explain_then_merge(
        lsql, tbl,
        "MERGE INTO db.bl AS t USING (SELECT 40 AS k, 7 AS v) AS s "
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    model[40] = (40, 7)
    _apply(model, tbl, "k")
    assert tbl.snapshot().summary["rewritten_files"] == 1
    # a string-typed source key into the BIGINT key
    src = spark.createDataFrame([("41", 8), ("5000", 9)], "k string, v long")
    tbl.merge(src, ["k"], when_matched_update={"v": F.col("__src.v")})
    model[41], model[5000] = (41, 8), (5000, 9)
    _apply(model, tbl, "k")
    tbl.compact(small_file_bytes=1 << 30, min_files=1,
                filters={"k": (44, 44)})
    _apply(model, tbl, "k")


def test_bucket_table_paths_match_unpruned(spark, cat):
    base = spark.range(0, 80).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    tbl = cat.create_table(
        "db", "bk", base.schema, properties=SEGMENTED,
        partition_by=["bucket(4, k)"],
    )
    tbl.append(base.repartition(1))
    n_files = len(tbl.snapshot().files)
    assert n_files == 4
    lsql = LakeSQL(spark, cat)
    _filters_match(tbl, lsql, "bk", [
        ({"k": (17, 17)}, None, None, "k = 17"),
        ({"v": (3, 3)}, None, None, "v = 3"),
        ({"k": (10, 30)}, ["v"], None, "k BETWEEN 10 AND 30 AND v IS NULL"),
    ])
    assert tbl.pruned_file_count({"k": (17, 17)}) == (1, n_files)
    model = {k: (k, k % 7) for k in range(80)}

    tbl.delete(F.col("k") == 17)
    del model[17]
    _apply(model, tbl, "k")
    tbl.update(F.col("k") == 18, {"v": F.lit(100)})
    model[18] = (18, 100)
    _apply(model, tbl, "k")
    _explain_then_merge(
        lsql, tbl,
        "MERGE INTO db.bk AS t USING (SELECT CAST(19 AS BIGINT) AS k, "
        "CAST(200 AS BIGINT) AS v) AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v",
    )
    model[19] = (19, 200)
    _apply(model, tbl, "k")
    src = spark.createDataFrame([("20", 300), ("900", 1)], "k string, v long")
    tbl.merge(src, ["k"], when_matched_update={"v": F.col("__src.v")})
    model[20], model[900] = (20, 300), (900, 1)
    _apply(model, tbl, "k")
    tbl.compact(small_file_bytes=1 << 30, min_files=1,
                filters={"k": (21, 21)})
    _apply(model, tbl, "k")


def test_evolved_table_paths_match_unpruned(spark, cat):
    """After ``k→c, v→k`` the name ``k`` means the old ``v``: stats must
    follow field ids, not names. Then ``k`` is dropped and re-added, so
    old files read NULL for it whatever stats they carry."""
    base = spark.range(0, 90).select(
        F.col("id").alias("k"), (F.col("id") + 1000).alias("v")
    )
    tbl = cat.create_table("db", "sw", base.schema, properties=SEGMENTED)
    for lo in (0, 30, 60):
        tbl.append(
            base.filter((F.col("k") >= lo) & (F.col("k") < lo + 30))
            .coalesce(1)
        )
    tbl.rename_column("k", "c")
    tbl.rename_column("v", "k")
    lsql = LakeSQL(spark, cat)
    _filters_match(tbl, lsql, "sw", [
        ({"c": (70, 70)}, None, None, "c = 70"),
        ({"k": (1070, 1070)}, None, None, "k = 1070"),
        ({"k": (0, 100)}, None, None, "k BETWEEN 0 AND 100"),
    ])
    assert lsql.sql(
        "SELECT count(*) AS n FROM db.sw WHERE c = 70"
    ).collect()[0].n == 1
    assert tbl.pruned_file_count({"c": (70, 70)}) == (1, 3)

    tbl.drop_column("k")
    tbl.add_column("k", "bigint")
    tbl.append(
        spark.createDataFrame([(100, 5), (101, None)], "c long, k long")
        .coalesce(1)
    )
    _filters_match(tbl, lsql, "sw", [
        ({"k": (5, 5)}, None, None, "k = 5"),
        ({"k": (1000, 1100)}, None, None, "k BETWEEN 1000 AND 1100"),
        ({}, ["k"], None, "k IS NULL"),
        ({}, None, ["k"], "k IS NOT NULL"),
        ({"c": (70, 70)}, ["k"], None, "c = 70 AND k IS NULL"),
    ])
    stats = {r["column"] for r in tbl.column_stats_df().collect()}
    assert stats == {"c", "k"}
    model = {c: (c, None) for c in range(90)} | {100: (100, 5), 101: (101, None)}

    tbl.delete(F.col("c") == 70)
    del model[70]
    _apply(model, tbl, "c")
    tbl.update(F.col("c") == 71, {"k": F.lit(7)})
    model[71] = (71, 7)
    _apply(model, tbl, "c")
    _explain_then_merge(
        lsql, tbl,
        "MERGE INTO db.sw AS t USING (SELECT CAST(72 AS BIGINT) AS c, "
        "CAST(8 AS BIGINT) AS k) AS s ON t.c = s.c "
        "WHEN MATCHED THEN UPDATE SET k = s.k",
    )
    model[72] = (72, 8)
    _apply(model, tbl, "c")
    assert tbl.snapshot().summary["rewritten_files"] == 1
    src = spark.createDataFrame([("73", 9)], "c string, k long")
    tbl.merge(src, ["c"], when_matched_update={"k": F.col("__src.k")})
    model[73] = (73, 9)
    _apply(model, tbl, "c")
    tbl.compact(small_file_bytes=1 << 30, min_files=1,
                filters={"c": (5, 5)})
    _apply(model, tbl, "c")


def test_mor_merge_reads_only_the_explained_candidates(spark, cat):
    """Merge-on-read MERGE shortlists like copy-on-write: it reads the
    files EXPLAIN MERGE reports, and a full-sync MERGE reads them all."""
    base = spark.range(0, 90).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    tbl = cat.create_table(
        "db", "mm", base.schema,
        properties=SEGMENTED | {"row_key": "k",
                                "write_delete_mode": "merge-on-read"},
    )
    for lo in (0, 30, 60):
        tbl.append(base.filter(F.col("k").between(lo, lo + 29)).coalesce(1))
    lsql = LakeSQL(spark, cat)
    model = {k: (k, k * 10) for k in range(90)}
    _explain_then_merge(
        lsql, tbl,
        "MERGE INTO db.mm AS t USING (SELECT CAST(40 AS BIGINT) AS k, "
        "CAST(7 AS BIGINT) AS v) AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v",
    )
    assert tbl.snapshot().summary["pruned_files"] == 2
    model[40] = (40, 7)
    _apply(model, tbl, "k")
    _explain_then_merge(
        lsql, tbl,
        "MERGE INTO db.mm AS t USING (SELECT id AS k "
        "FROM range(0, 80)) AS s ON t.k = s.k "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE",
    )
    assert tbl.snapshot().summary["pruned_files"] == 0
    model = {k: r for k, r in model.items() if k < 80}
    _apply(model, tbl, "k")


def test_rename_and_drop_are_metadata_only(spark, cat):
    """Neither evolution rewrites a manifest entry: the new snapshot
    reuses every segment descriptor by path."""
    base = spark.range(0, 30).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    )
    tbl = cat.create_table("db", "mo", base.schema, properties=SEGMENTED)
    for lo in (0, 10, 20):
        tbl.append(base.filter(F.col("k").between(lo, lo + 9)).coalesce(1))

    def segments() -> list[str]:
        return [m["path"] for m in tbl.snapshot(hydrate=False).manifests]

    before = segments()
    assert len(before) == 3
    tbl.rename_column("k", "key")
    assert segments() == before
    tbl.drop_column("v")
    assert segments() == before
    assert tbl.pruned_file_count({"key": (15, 15)}) == (1, 3)
