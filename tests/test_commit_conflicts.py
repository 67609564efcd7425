"""Conflict matrix for the optimistic-concurrency commit loop.

Each writer W stages its work against the head; right after its first
stager call returns (``_stage_dataframe`` or ``_stage_delete_file``), a
concurrent commit C lands through a second handle. W then either
commits, and the table must hold the rows of "C, then W", or raises
``CommitConflict``, and the table must hold the rows of "C" alone —
both computed by a pure-Python model over row tuples. Either way,
without any ``vacuum()``, the files under ``data/``, ``_deletes/`` and
``_changes/`` must be exactly the files some snapshot references (a
lost attempt removes what it staged), and no ``_staging-*`` directory
may remain.
"""

from __future__ import annotations

import glob
import os
import shutil
import types

import pytest
from pyspark.sql import functions as F

from pg_lakehouse_spark.lakehouse import CommitConflict, LakeCatalog

PROPS = {"row_key": "k", "change_data_feed": "on"}
# two appends, each writing one file per partition
BASE = [(k, "x", "p0" if k < 6 else "p1") for k in range(12)]
BATCHES = ([0, 1, 2, 6, 7, 8], [3, 4, 5, 9, 10, 11])
MERGE_SRC = [(1, "m", "p0"), (20, "m", "p0")]
SYNC_SRC = [(1, "fs", "p0"), (2, "fs", "p0")]


def _df(spark, rows):
    # a VALUES relation: one partition, and no Python worker per write
    values = ", ".join(f"({k}, '{v}', '{p}')" for k, v, p in rows)
    return spark.sql(f"SELECT * FROM VALUES {values} AS t(k, v, p)")


def _upsert(rows, src, by_source_delete=False):
    new = dict((k, v) for k, v, _p in src)
    out = [
        (k, new.get(k, v), p) for k, v, p in rows
        if k in new or not by_source_delete
    ]
    have = {k for k, _v, _p in rows}
    return out + [r for r in src if r[0] not in have]


def _merge(t, src, mode=None, full_sync=False):
    # INSERT (k, v, p) VALUES (s.k, s.v, s.p), PG's form: after a
    # concurrent add_column the new column takes its DEFAULT (NULL).
    # An insert-all from this source would not bind to the evolved
    # table even without a race.
    t.merge(
        _df(t.spark, src), on=["k"],
        when_matched_update={"v": F.col("__src.v")},
        when_not_matched_insert=True,
        when_not_matched_values={c: F.col(f"__src.{c}") for c in "kvp"},
        when_not_matched_by_source_delete=full_sync,
        mode=mode,
    )


# -- writers: (run on the table handle, model over rows, outcome) -------
# outcome: "commit", "raise", or the set of concurrent commits it must
# commit through (it raises under every other one)

WRITERS = {
    "append": (
        lambda t: t.append(_df(t.spark, [(1, "new", "p0")])),
        lambda rows: rows + [(1, "new", "p0")],
        "commit",
    ),
    "overwrite": (
        lambda t: t.overwrite(_df(t.spark, [(200, "ow", "p0")])),
        lambda rows: [(200, "ow", "p0")],
        "raise",
    ),
    "overwrite_partitions": (
        lambda t: t.overwrite_partitions(_df(t.spark, [(300, "op", "p0")])),
        lambda rows: [r for r in rows if r[2] != "p0"] + [(300, "op", "p0")],
        {"append_other", "append_then_mor_delete", "append_then_pos_delete",
         "add_column"},
    ),
    "cow_delete": (
        lambda t: t.delete(F.col("k") == 1, mode="copy-on-write"),
        lambda rows: [r for r in rows if r[0] != 1],
        "commit",
    ),
    "cow_update": (
        lambda t: t.update(
            F.col("k") == 1, {"v": F.lit("u")}, mode="copy-on-write"
        ),
        lambda rows: [(k, "u" if k == 1 else v, p) for k, v, p in rows],
        "commit",
    ),
    "cow_merge": (
        lambda t: _merge(t, MERGE_SRC, mode="copy-on-write"),
        lambda rows: _upsert(rows, MERGE_SRC),
        "commit",
    ),
    "full_sync_merge": (
        lambda t: _merge(t, SYNC_SRC, mode="copy-on-write", full_sync=True),
        lambda rows: _upsert(rows, SYNC_SRC, by_source_delete=True),
        "commit",
    ),
    "compact": (
        lambda t: t.compact(small_file_bytes=1 << 30, min_files=2),
        lambda rows: rows,
        {"append_other", "append_match"},
    ),
    "mor_delete": (
        lambda t: t.delete(F.col("k") == 1, mode="merge-on-read"),
        lambda rows: [r for r in rows if r[0] != 1],
        "commit",
    ),
    "mor_update": (
        lambda t: t.update(
            F.col("k") == 1, {"v": F.lit("u")}, mode="merge-on-read"
        ),
        lambda rows: [(k, "u" if k == 1 else v, p) for k, v, p in rows],
        "commit",
    ),
    "mor_merge": (
        lambda t: _merge(t, MERGE_SRC, mode="merge-on-read"),
        lambda rows: _upsert(rows, MERGE_SRC),
        "commit",
    ),
    "pos_delete": (
        lambda t: t.delete(F.col("k") == 1, mode="merge-on-read-positional"),
        lambda rows: [r for r in rows if r[0] != 1],
        "commit",
    ),
    "delete_by_keys": (
        lambda t: t.delete_by_keys(t.spark.sql("SELECT 1 AS k")),
        lambda rows: [r for r in rows if r[0] != 1],
        "commit",
    ),
}


def _append_then_delete(t, mode):
    t.append(_df(t.spark, [(2000, "z", "p1")]))
    t.delete(F.col("k") == 1, mode=mode)


# -- concurrent commits: (run on a second handle, model over rows) ------
CONCURRENT = {
    "append_other": (
        lambda t: t.append(_df(t.spark, [(1000, "c", "p1")])),
        lambda rows: rows + [(1000, "c", "p1")],
    ),
    "append_match": (
        lambda t: t.append(_df(t.spark, [(1, "c", "p0")])),
        lambda rows: rows + [(1, "c", "p0")],
    ),
    # k=2 shares its file with k=1, the row every DML writer matches
    "cow_delete": (
        lambda t: t.delete(F.col("k") == 2, mode="copy-on-write"),
        lambda rows: [r for r in rows if r[0] != 2],
    ),
    "append_then_mor_delete": (
        lambda t: _append_then_delete(t, "merge-on-read"),
        lambda rows: [r for r in rows if r[0] != 1] + [(2000, "z", "p1")],
    ),
    "append_then_pos_delete": (
        lambda t: _append_then_delete(t, "merge-on-read-positional"),
        lambda rows: [r for r in rows if r[0] != 1] + [(2000, "z", "p1")],
    ),
    "compact": (
        lambda t: t.compact(small_file_bytes=1 << 30, min_files=2),
        lambda rows: rows,
    ),
    "add_column": (
        lambda t: t.add_column("extra", "string"),
        lambda rows: rows,
    ),
}


@pytest.fixture(scope="module")
def base_warehouse(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("conflicts") / "base")
    cat = LakeCatalog(spark, wh)
    t = cat.create_table(
        "db", "t", _df(spark, BASE).schema, partition_by=["p"],
        properties=dict(PROPS),
    )
    for keys in BATCHES:
        t.append(_df(spark, [r for r in BASE if r[0] in keys]))
    assert len(t.snapshot().files) == 4
    return wh


def _race(t, concurrent) -> None:
    """Land ``concurrent`` right after t's first stager call returns."""
    fired = []
    for name in ("_stage_dataframe", "_stage_delete_file"):
        real = getattr(type(t), name)

        def racy(self, *a, real=real, **k):
            out = real(self, *a, **k)
            if not fired:
                fired.append(True)
                concurrent()
            return out

        setattr(t, name, types.MethodType(racy, t))


def _files_on_disk(t) -> set[str]:
    out = set()
    for sub in ("data", "_deletes", "_changes"):
        for root, _dirs, files in os.walk(os.path.join(t.location, sub)):
            out |= {
                os.path.relpath(os.path.join(root, f), t.location)
                for f in files
            }
    return out


def _referenced(t) -> set[str]:
    out = set()
    for s in t.snapshots():
        out |= {f["path"] for f in s.files}
        out |= {d["path"] for d in s.delete_files}
        out |= set(s.change_files)
    return out


@pytest.mark.parametrize("concurrent", sorted(CONCURRENT))
@pytest.mark.parametrize("writer", sorted(WRITERS))
def test_conflict_matrix(spark, base_warehouse, tmp_path, writer, concurrent):
    run_w, model_w, outcome = WRITERS[writer]
    run_c, model_c = CONCURRENT[concurrent]
    wh = str(tmp_path / "wh")
    shutil.copytree(base_warehouse, wh)
    cat = LakeCatalog(spark, wh)
    t, other = cat.load_table("db", "t"), cat.load_table("db", "t")
    _race(t, lambda: run_c(other))
    try:
        run_w(t)
        committed = True
    except CommitConflict:
        committed = False
    want = model_c(BASE)
    if committed:
        want = model_w(want)
    got = sorted(
        tuple(r) for r in cat.load_table("db", "t").read()
        .select("k", "v", "p").collect()
    )
    assert got == sorted(want), f"committed={committed}"
    expect = outcome if isinstance(outcome, str) else (
        "commit" if concurrent in outcome else "raise"
    )
    assert committed == (expect == "commit")
    assert _files_on_disk(t) == _referenced(t)
    assert not glob.glob(os.path.join(t.location, "_staging-*"))
