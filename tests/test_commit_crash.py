"""Crash matrix for the commit protocol.

Every durable mutation of a commit goes through one seam in
``lakehouse.py``: ``_atomic_write`` (segments, metadata, refs, pointer)
and ``_move_staged`` (staged data/delete/change files). For each
operation below, a clean run through a recording wrapper counts its N
seam calls; then, for every k in 1..N, the operation runs again on a
fresh copy of the same warehouse with the disk "dying" at call k: that
call and every later seam call, ``os.remove`` and ``shutil.rmtree``
raise, so in-process cleanup cannot tidy up what a real crash would
leave behind. With I/O restored and fresh catalog handles, each point
must satisfy:

(a) every table is at its old or its new head, with exactly that
    head's rows;
(b) every file and manifest segment a ref-reachable snapshot lists
    exists;
(c) retrying the operation succeeds, and yields the operation applied
    to whatever state the crash left;
(d) after ``vacuum()``, the data/_deletes/_changes/segment files on
    disk are exactly those the surviving snapshots reference, and no
    staging directory is left.
"""

from __future__ import annotations

import contextlib
import errno
import glob
import os
import re
import shutil
from unittest import mock

import pytest
from pyspark.sql import functions as F

from pg_lakehouse_spark import lakehouse as lh
from pg_lakehouse_spark.lakehouse import LakeCatalog, LakeTransaction

PROPS = {"manifest.inline_max": "0", "row_key": "k"}  # a segment per commit
FEED = PROPS | {"change_data_feed": "on"}  # DML stages _changes files too
BASE = [(i, f"v{i}") for i in range(6)]
DELTA = [(10, "n10"), (11, "n11")]
UPSERT = [(1, "u1"), (12, "n12")]


class _Crash(OSError):
    def __init__(self):
        super().__init__(errno.EIO, "injected crash")


@contextlib.contextmanager
def _disk(fail_at: int | None = None):
    """Record seam calls; from call ``fail_at`` on, the disk is dead."""
    calls: list[str] = []
    dead = [False]

    def seam(real, path_arg):
        def call(*args):
            name = re.sub(r"[0-9a-f]{8,}", "*", os.path.basename(args[path_arg]))
            calls.append(f"{real.__name__}:{name}")
            if dead[0] or len(calls) == fail_at:
                dead[0] = True
                raise _Crash()
            return real(*args)

        return call

    def cleanup(real):
        def call(*args, **kwargs):
            if dead[0]:
                raise _Crash()
            return real(*args, **kwargs)

        return call

    with contextlib.ExitStack() as st:
        st.enter_context(
            mock.patch.object(lh, "_atomic_write", seam(lh._atomic_write, 0))
        )
        st.enter_context(
            mock.patch.object(lh, "_move_staged", seam(lh._move_staged, 2))
        )
        st.enter_context(mock.patch.object(os, "remove", cleanup(os.remove)))
        st.enter_context(
            mock.patch.object(shutil, "rmtree", cleanup(shutil.rmtree))
        )
        yield calls


def _df(spark, rows):
    # a VALUES relation: one partition, and no Python worker per write
    values = ", ".join(f"({k}, '{v}')" for k, v in rows)
    return spark.sql(f"SELECT * FROM VALUES {values} AS t(k, v)")


def _rows(t) -> list[tuple]:
    return sorted(tuple(r) for r in t.read().collect())


def _create(cat, name, rows, props=PROPS):
    df = _df(cat.spark, rows)
    t = cat.create_table("db", name, df.schema, properties=dict(props))
    t.append(df)
    return t


# -- the operations: (build, run, model) ----------------------------------
# build(cat) makes the starting warehouse; run(cat) performs the
# operation on fresh handles; model maps {table: rows} to the rows the
# operation must produce from that state.


def _upsert(rows, src):
    d = dict(rows)
    d.update(src)
    return sorted(d.items())


def _txn(cat):
    a, b = cat.load_table("db", "a"), cat.load_table("db", "b")
    with LakeTransaction() as tx:
        tx.append(a, _df(cat.spark, DELTA))
        tx.delete(b, F.col("k") < 2, mode="merge-on-read")


def _ff_build(cat):
    t = _create(cat, "a", BASE)
    t.create_branch("dev")
    t.for_branch("dev").append(_df(cat.spark, DELTA))


OPS = {
    "append": (
        lambda cat: _create(cat, "a", BASE),
        lambda cat: cat.load_table("db", "a").append(_df(cat.spark, DELTA)),
        lambda s: {"a": sorted(s["a"] + DELTA)},
    ),
    "cow_delete": (
        lambda cat: _create(cat, "a", BASE, FEED),
        lambda cat: cat.load_table("db", "a").delete(
            F.col("k") < 2, mode="copy-on-write"
        ),
        lambda s: {"a": [r for r in s["a"] if r[0] >= 2]},
    ),
    "mor_delete": (
        lambda cat: _create(cat, "a", BASE),
        lambda cat: cat.load_table("db", "a").delete(
            F.col("k") < 2, mode="merge-on-read"
        ),
        lambda s: {"a": [r for r in s["a"] if r[0] >= 2]},
    ),
    "merge": (
        lambda cat: _create(cat, "a", BASE),
        lambda cat: cat.load_table("db", "a").merge(
            _df(cat.spark, UPSERT),
            on=["k"],
            when_matched_update={"v": F.col("__src.v")},
            when_not_matched_insert=True,
        ),
        lambda s: {"a": _upsert(s["a"], UPSERT)},
    ),
    "txn_two_tables": (
        lambda cat: (_create(cat, "a", BASE), _create(cat, "b", BASE)),
        _txn,
        lambda s: {
            "a": sorted(s["a"] + DELTA),
            "b": [r for r in s["b"] if r[0] >= 2],
        },
    ),
    "fast_forward": (
        _ff_build,
        lambda cat: cat.load_table("db", "a").fast_forward("dev"),
        lambda s: {"a": sorted(BASE + DELTA)},
    ),
}


def _state(cat) -> dict[str, tuple[int, list]]:
    return {
        name: (t.current_version(), _rows(t))
        for _ns, name in cat.list_tables("db")
        for t in [cat.load_table("db", name)]
    }


def _check_reachable_files_exist(t, where: str) -> None:
    """(b) every file/segment of every ref-reachable snapshot exists."""
    heads = [t.for_branch("main").current_version()]
    heads += list(t.tags().values()) + list(t.branches().values())
    for v in {v for h in heads for v in t._ancestry(h)}:
        s = t.snapshot(v)
        for m in s.manifests:
            assert os.path.exists(os.path.join(t.meta_dir, m["path"])), (
                f"{where}: v{v} lists missing segment {m['path']}"
            )
        for rel in (
            [f["path"] for f in s.files]
            + [d["path"] for d in s.delete_files]
            + list(s.change_files)
        ):
            assert os.path.exists(os.path.join(t.location, rel)), (
                f"{where}: v{v} lists missing file {rel}"
            )


def _check_vacuumed(t, where: str) -> None:
    """(d) after vacuum, disk == what the surviving snapshots reference."""
    t.vacuum()
    on_disk = set()
    for sub in (lh._DATA_DIR, "_deletes", "_changes"):
        for root, _dirs, files in os.walk(os.path.join(t.location, sub)):
            on_disk |= {
                os.path.relpath(os.path.join(root, f), t.location)
                for f in files
            }
    on_disk |= {
        os.path.relpath(p, t.meta_dir)
        for p in glob.glob(os.path.join(t.meta_dir, lh._MANIFEST_DIR, "*"))
    }
    referenced = set()
    for s in t.snapshots():
        referenced |= {f["path"] for f in s.files}
        referenced |= {d["path"] for d in s.delete_files}
        referenced |= set(s.change_files) | {m["path"] for m in s.manifests}
    assert on_disk == referenced, (
        f"{where}: unreferenced {sorted(on_disk - referenced)}; "
        f"missing: {sorted(referenced - on_disk)}"
    )
    assert not glob.glob(os.path.join(t.location, "_staging-*")), where


def _fresh(spark, base: str, dest: str) -> LakeCatalog:
    shutil.copytree(base, dest)
    return LakeCatalog(spark, dest)


def _crash_at(spark, run, base: str, dest: str, k: int) -> list[str]:
    """Run on a copy of ``base`` with the disk dying at mutation k."""
    with _disk(fail_at=k) as seen:
        with pytest.raises(_Crash):
            run(_fresh(spark, base, dest))
    return seen


def _setup(spark, tmp_path, op):
    """(base warehouse, old state, new state, seam calls of a clean run)."""
    build, run, model = OPS[op]
    base = str(tmp_path / "base")
    build(LakeCatalog(spark, base))
    old = _state(LakeCatalog(spark, base))
    clean = _fresh(spark, base, str(tmp_path / "clean"))
    with _disk() as calls:
        run(clean)
    new = _state(clean)
    assert {n: r for n, (_v, r) in new.items()} == model(
        {n: r for n, (_v, r) in old.items()}
    )
    assert calls, "the operation made no seam call"
    return base, old, new, calls


@pytest.mark.parametrize("op", sorted(OPS))
def test_crash_at_every_mutation(spark, tmp_path, op):
    _build, run, model = OPS[op]
    base, old, new, calls = _setup(spark, tmp_path, op)
    for k in range(1, len(calls) + 1):
        where = f"{op}: crash at mutation {k}/{len(calls)} ({calls[k - 1]})"
        wh = str(tmp_path / f"k{k}")
        seen = _crash_at(spark, run, base, wh, k)
        assert seen[:k] == calls[:k], where
        cat = LakeCatalog(spark, wh)
        after = _state(cat)
        for name, got in after.items():  # (a)
            assert got in (old[name], new[name]), f"{where}: {name} {got}"
        for name in after:  # (b)
            _check_reachable_files_exist(cat.load_table("db", name), where)
        run(cat)  # (c)
        want = model({n: r for n, (_v, r) in after.items()})
        got = {n: r for n, (_v, r) in _state(cat).items()}
        assert got == want, where
        for name in after:  # (d)
            _check_vacuumed(cat.load_table("db", name), where)


@pytest.mark.xfail(
    strict=True,
    reason="defect: a multi-table commit swaps one pointer per table "
    "with no commit record, so a crash between the swaps leaves the "
    "transaction published on some tables only",
)
def test_txn_crash_between_pointer_swaps_is_all_or_nothing(spark, tmp_path):
    base, old, new, calls = _setup(spark, tmp_path, "txn_two_tables")
    last_swap = max(i for i, c in enumerate(calls, 1) if c.endswith("VERSION"))
    wh = str(tmp_path / "crashed")
    _crash_at(spark, OPS["txn_two_tables"][1], base, wh, last_swap)
    after = _state(LakeCatalog(spark, wh))
    assert after in (old, new)


@pytest.mark.parametrize("k", [1, 2])
def test_create_table_crash_leaves_no_torn_table(spark, tmp_path, k):
    """CREATE TABLE writes v1 metadata, then the pointer. A crash at
    either write, or after the pointer's temp file is written but not
    yet renamed, leaves the table absent (and creatable again) or
    readable at v1 — never a pointer without content."""
    df = _df(spark, BASE)
    real_replace = os.replace
    replaced = []

    def replace(src, dst):
        replaced.append(dst)
        if len(replaced) == k:
            raise _Crash()
        return real_replace(src, dst)

    for i, fault in enumerate(
        [_disk(fail_at=k), mock.patch.object(os, "replace", replace)]
    ):
        wh = str(tmp_path / f"w{i}")
        with fault, pytest.raises(_Crash):
            LakeCatalog(spark, wh).create_table("db", "a", df.schema)
        cat = LakeCatalog(spark, wh)
        if cat.table_exists("db", "a"):
            t = cat.load_table("db", "a")
            assert t.current_version() == 1 and _rows(t) == []
        t = cat.create_table("db", "a", df.schema, if_not_exists=True)
        t.append(df)
        assert _rows(t) == BASE


@pytest.mark.parametrize("k", [1, 2, 3])
def test_vacuum_removes_tmp_files_of_a_crashed_write(spark, tmp_path, k):
    """An append writes a segment, the metadata and the pointer, each
    through ``_atomic_write``. A crash between one's tmp write and its
    rename leaves a ``*.tmp`` behind; ``vacuum()`` removes it, and the
    table stays readable at the old or the new snapshot."""
    wh = str(tmp_path / "wh")
    t = _create(LakeCatalog(spark, wh), "a", BASE)
    real_replace = os.replace
    replaced = []

    def replace(src, dst):
        replaced.append(dst)
        if len(replaced) == k:
            raise _Crash()
        return real_replace(src, dst)

    with mock.patch.object(os, "replace", replace), pytest.raises(_Crash):
        t.append(_df(spark, DELTA))

    def tmp_files():
        return glob.glob(os.path.join(wh, "**", "*.tmp"), recursive=True)

    assert tmp_files()
    t = LakeCatalog(spark, wh).load_table("db", "a")
    t.vacuum()
    assert tmp_files() == []
    assert _rows(t) in (BASE, sorted(BASE + DELTA))


@pytest.mark.parametrize("registry", ["views", "sequences", "types", "funcs"])
def test_registry_removes_tmp_of_a_crashed_write(spark, tmp_path, registry):
    """The warehouse registries write through ``_atomic_write`` too. A
    crash between a registry's tmp write and its rename leaves
    ``_<registry>.json.tmp``; the next access to that registry under
    its lock removes it, and the registry keeps the old or the new
    content."""
    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    write = {
        "views": lambda i: cat.create_view("db", f"v{i}", "SELECT 1"),
        "sequences": lambda i: cat.create_sequence("db", f"s{i}"),
        "types": lambda i: cat.create_enum_type(f"e{i}", ["a"]),
        "funcs": lambda i: cat.create_sql_function(f"f{i}", [], "1"),
    }[registry]
    tmp = os.path.join(cat.warehouse, f"_{registry}.json.tmp")

    def replace(src, dst):
        raise _Crash()

    with mock.patch.object(os, "replace", replace), pytest.raises(_Crash):
        write(1)
    assert os.path.exists(tmp)
    write(2)
    assert not os.path.exists(tmp)
    assert len(cat._read_registry(registry)) in (1, 2)
