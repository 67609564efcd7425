"""Scale-rule lint: plan-shape assertions + source-code rules.

SURVEY.md §7 — '100 TB posture without 100 TB hardware': these tests
pin the properties that make plans survive scale-up, independent of
result correctness."""

from __future__ import annotations

import os
import re

import pytest

from pg_lakehouse_spark.plans import (
    formatted_plan,
    has_cartesian_product,
    pushed_filter_columns,
    scan_read_columns,
    shuffle_exchange_count,
)
from pg_lakehouse_spark.workload import REGISTRY, _load_all

_load_all()

PKG_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "pg_lakehouse_spark")


def test_predicate_pushdown_reaches_scan(spark, sf_dir):
    """q6 is a pure filter-agg: every filter column must reach the
    parquet scan as a pushed filter (ref A5 — TODO in the reference,
    table stakes here)."""
    df = REGISTRY["q6_revenue_forecast"].fn(spark, sf_dir)
    pushed = pushed_filter_columns(df)
    assert {"l_shipdate", "l_discount", "l_quantity"} <= pushed


def test_column_pruning_reaches_scan(spark, sf_dir):
    """q6 needs 4 lineitem columns; the scan must not read more
    (ref A4 — implemented-but-unused in the reference)."""
    df = REGISTRY["q6_revenue_forecast"].fn(spark, sf_dir)
    scans = scan_read_columns(df)
    assert scans, "no ReadSchema found"
    for cols in scans:
        assert cols <= {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}, (
            f"scan reads unnecessary columns: {cols}"
        )


@pytest.mark.parametrize(
    "name",
    sorted(
        n
        for n, s in REGISTRY.items()
        if s.oracle is not None
        # intentional: q_cross_join is the cross-join capability row;
        # q11/q22 broadcast-cross a 1-ROW aggregate (scalar-threshold
        # pattern) — constant-size side, scalable at any SF
        and n not in ("q_cross_join", "q11_important_stock",
                      "q22_sales_opportunity", "ts_gapfill_hourly")
        # ts_gapfill: the bucket-grid bounds are a 1-ROW aggregate
        # broadcast-crossed into the series list — constant-size side
        and not n.startswith("lake_")   # DML queries build tables eagerly
    ),
)
def test_no_accidental_cartesian(name, spark, sf_dir):
    df = REGISTRY[name].fn(spark, sf_dir)
    assert not has_cartesian_product(df), f"{name} plans a cartesian product"


def test_no_driver_side_collects_in_operators():
    """Operator/workload code must stay distributed: collect()/
    toPandas() only in the whitelisted metadata paths (lakehouse file
    lists are metadata, not data)."""
    allowed = {
        "lakehouse.py",      # file-list metadata collects (documented)
        "multimodal.py",     # none today, pandas import only
        "similarity.py",     # cosine_topk_pandas collects the QUERY
        # set (bounded by the broadcast contract), never the corpus
        "zorder.py",         # 2 scalars per column (min/max stats)
        "dedup.py",          # star-CC convergence signature: one
        # (count, hash-sum) row per round — metadata, not data
        "avro_io.py",        # first-file header (schema) + one
        # counter row per partition after write — both metadata-sized
        "cdc.py",            # newly-seen metadata FILE NAMES per
        # micro-batch (one tiny path row per commit) — metadata plane
        "search.py",         # two scalars per query (corpus size,
        # average doc length) — persist postings upstream at scale
        "packing.py",        # export manifest: one (shard, count) row
        # per shard — num_shards rows of metadata, never corpus rows
        "bpe.py",            # ONE winning (a, b, count) row per merge
        # round — the BPE training loop's driver-side coordination
        "index.py",          # centroid list + one (count, mean-dist)
        # stats row per incremental refresh — metadata-sized
        "rollup.py",         # partial invalidation: the distinct
        # AFFECTED BUCKET timestamps of a DML window — bucket count,
        # not rows
        "sql.py",            # FK point-lookup path collects the
        # write delta's distinct keys, hard-capped at
        # _FK_POINT_LOOKUP_MAX + 1
        "lake_q.py",         # lake_segment_bloom_prune collects its
        # PROBE KEY list: o_orderkey <= 3000 AND % 997 = 0 — at most
        # 4 keys at any scale factor (the filter range is fixed)
    }
    offenders = []
    for root, _dirs, files in os.walk(PKG_ROOT):
        for fname in files:
            if not fname.endswith(".py") or fname in allowed:
                continue
            path = os.path.join(root, fname)
            with open(path) as f:
                src = f.read()
            for pat in (r"\.collect\(\)", r"\.toPandas\(\)", r"\.toLocalIterator\("):
                if re.search(pat, src):
                    offenders.append((os.path.relpath(path, PKG_ROOT), pat))
    assert not offenders, f"driver-side materialization in: {offenders}"


def test_no_unbounded_collect_list():
    """collect_list/collect_set without a bounding construct builds
    per-group arrays proportional to data size — banned outright in
    engine code (compose with slice/window instead)."""
    allowed = {
        "functions/pg.py",  # string_agg: explicitly ordered, documented
        # bounded-group contract (PG-parity aggregate)
        "lakehouse.py",  # bloom staging: collect_set of bit POSITIONS,
        # cardinality hard-capped at _BLOOM_BITS (32768) per group
        "rollup.py",  # approx_topk candidate maps: a row_number()<=cap
        # window filter bounds the group BEFORE the collect (4×k items)
        "llm/dedup.py",  # dedup_lines reassembly: the group is one
        # DOCUMENT's surviving lines — bounded by the document itself,
        # which already traveled as a single row value
        "sql.py",  # the array_agg(ORDER BY) dialect rewrite EMITS
        # collect_list text — PG-parity aggregate, same explicitly-
        # ordered bounded-group contract as functions/pg.py
    }
    offenders = []
    for root, _dirs, files in os.walk(PKG_ROOT):
        if os.path.basename(root) == "plans":
            continue  # the lint package names the banned functions
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG_ROOT)
            if rel in allowed:
                continue
            with open(path) as f:
                src = f.read()
            if re.search(r"collect_list|collect_set", src):
                offenders.append(rel)
    assert not offenders, f"unbounded collect_list/set in: {offenders}"


def test_commit_io_only_through_the_seam():
    """The lock and durability protocol lives in lakehouse.py's I/O
    seam: ``fcntl.flock`` only inside ``_locked``, and temp-file
    renames (``os.replace``, or any ``.tmp`` file) only inside
    ``_atomic_write`` — a hand-rolled tmp+rename skips its fsyncs and
    escapes the crash-matrix test. ``_gc_orphan_segments`` and
    ``_registry`` may name ``.tmp`` files too: they delete the ones a
    crash left behind."""
    import ast

    allowed = {
        "fcntl.flock": {"_locked"},
        "os.replace": {"_atomic_write"},
        ".tmp": {"_atomic_write", "_gc_orphan_segments", "_registry"},
    }

    class Finder(ast.NodeVisitor):
        def __init__(self):
            self.scope: list[str] = []
            self.hits: list[tuple[str, str]] = []

        def visit_FunctionDef(self, node):
            self.scope.append(node.name)
            self.generic_visit(node)
            self.scope.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Call(self, node):
            f = node.func
            if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
                self.hit(f"{f.value.id}.{f.attr}")
            self.generic_visit(node)

        def visit_Constant(self, node):
            if isinstance(node.value, str) and ".tmp" in node.value:
                self.hit(".tmp")

        def hit(self, what):
            if what in allowed:
                self.hits.append((what, self.scope[-1] if self.scope else ""))

    offenders = []
    for root, _dirs, files in os.walk(PKG_ROOT):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG_ROOT)
            with open(path) as f:
                finder = Finder()
                finder.visit(ast.parse(f.read()))
            offenders += [
                (rel, fn, what)
                for what, fn in finder.hits
                if rel != "lakehouse.py" or fn not in allowed[what]
            ]
    assert not offenders, f"commit I/O outside the seam: {offenders}"


def test_pruning_only_through_one_rule():
    """File selection has one rule and one hash: a bloom is probed
    (``_bloom_might_contain``) only inside ``_entry_overlaps``, the
    bloom hash (``F.xxhash64`` with ``_BLOOM_BITS``) is built only in
    ``_bloom_positions``, and the per-caller overlap check
    ``_entry_range_overlaps`` is gone — a second copy of either is
    how the read, DML, MERGE and EXPLAIN paths drifted apart."""
    import ast

    class Finder(ast.NodeVisitor):
        def __init__(self):
            self.scope: list[str] = []
            self.probes: list[str] = []  # scopes calling the probe
            self.names: dict[str, set] = {}  # scope -> names it uses

        def visit_FunctionDef(self, node):
            self.scope.append(node.name)
            self.generic_visit(node)
            self.scope.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def here(self) -> str:
            return self.scope[-1] if self.scope else ""

        def visit_Call(self, node):
            f = node.func
            if isinstance(f, ast.Name) and f.id == "_bloom_might_contain":
                self.probes.append(self.here())
            if isinstance(f, ast.Attribute) and f.attr == "xxhash64":
                self.names.setdefault(self.here(), set()).add("xxhash64")
            self.generic_visit(node)

        def visit_Name(self, node):
            self.names.setdefault(self.here(), set()).add(node.id)

    bad_probes, bad_hashes, old_check = [], [], []
    for root, _dirs, files in os.walk(PKG_ROOT):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG_ROOT)
            with open(path) as f:
                src = f.read()
            if "_entry_range_overlaps" in src:
                old_check.append(rel)
            finder = Finder()
            finder.visit(ast.parse(src))
            bad_probes += [
                (rel, fn) for fn in finder.probes if fn != "_entry_overlaps"
            ]
            bad_hashes += [
                (rel, fn)
                for fn, used in finder.names.items()
                if {"xxhash64", "_BLOOM_BITS"} <= used
                and fn != "_bloom_positions"
            ]
    assert not old_check, f"_entry_range_overlaps still present: {old_check}"
    assert not bad_probes, f"bloom probed outside _entry_overlaps: {bad_probes}"
    assert not bad_hashes, f"bloom hash outside _bloom_positions: {bad_hashes}"


def test_predicate_ranges_only_through_one_rule():
    """A predicate becomes manifest ranges in one place:
    ``_condition_ranges``, the only user of the literal coercion
    ``_stat_literal``, for the DML shortlist, SQL SELECT and EXPLAIN
    alike. The regex WHERE extractor (``_where_filters`` with
    ``_PRUNE_CONJ``/``_PRUNE_BETWEEN``) is gone — as a second copy it
    read an aggregate's FILTER clause as the WHERE and reported
    EXPLAIN candidates execution never used."""
    import ast

    gone = {"_where_filters", "_PRUNE_CONJ", "_PRUNE_BETWEEN"}

    class Finder(ast.NodeVisitor):
        def __init__(self):
            self.scope: list[str] = []
            self.defined: set[str] = set()
            self.uses: list[tuple[str, ...]] = []  # scopes naming it

        def visit_FunctionDef(self, node):
            self.defined.add(node.name)
            self.scope.append(node.name)
            self.generic_visit(node)
            self.scope.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Name(self, node):
            if isinstance(node.ctx, ast.Store):
                self.defined.add(node.id)
            if node.id == "_stat_literal":
                self.uses.append(tuple(self.scope))

        def visit_alias(self, node):
            if node.name == "_stat_literal":
                self.uses.append(("import",))

    offenders, present = [], []
    for root, _dirs, files in os.walk(PKG_ROOT):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG_ROOT)
            with open(path) as f:
                finder = Finder()
                finder.visit(ast.parse(f.read()))
            present += [(rel, n) for n in sorted(gone & finder.defined)]
            offenders += [
                (rel, scope)
                for scope in finder.uses
                if rel != "lakehouse.py" or "_condition_ranges" not in scope
            ]
    assert not present, f"regex WHERE extractor still present: {present}"
    assert not offenders, f"_stat_literal outside _condition_ranges: {offenders}"


def test_commit_conflicts_only_through_one_loop():
    """Optimistic concurrency has one loop and one rebase rule: inside
    ``LakeTable`` only ``_commit_op`` catches ``CommitConflict`` and
    discards staged files, a staged entry's ``"seq"`` is assigned only
    at commit in ``_rebase_and_publish`` (``cherry_pick`` re-sequences
    files an earlier commit already published), and the per-writer
    copies ``_rewrite``, ``_rewrite_once``, ``_validate_dml_rebase``
    and ``_StaleRewrite`` are gone — a second copy of the loop is how
    the writers' retry budgets, validators and cleanup drifted apart."""
    import ast

    allowed = {
        "except CommitConflict": {"_commit_op"},
        "_discard_staged()": {"_commit_op"},
        "seq": {"_rebase_and_publish", "cherry_pick"},
    }
    gone = {"_rewrite", "_rewrite_once", "_validate_dml_rebase", "_StaleRewrite"}

    class Finder(ast.NodeVisitor):
        def __init__(self):
            self.scope: list[str] = []
            self.hits: list[tuple[str, str]] = []
            self.defined: set[str] = set()

        def visit_FunctionDef(self, node):
            self.defined.add(node.name)
            self.scope.append(node.name)
            self.generic_visit(node)
            self.scope.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_ClassDef(self, node):
            self.defined.add(node.name)
            self.generic_visit(node)

        def hit(self, what):
            self.hits.append((what, self.scope[-1] if self.scope else ""))

        def visit_ExceptHandler(self, node):
            types_ = node.type.elts if isinstance(node.type, ast.Tuple) else [
                node.type
            ]
            if any(
                isinstance(t, ast.Name) and t.id == "CommitConflict"
                for t in types_
            ):
                self.hit("except CommitConflict")
            self.generic_visit(node)

        def visit_Call(self, node):
            f = node.func
            if isinstance(f, ast.Attribute) and f.attr == "_discard_staged":
                self.hit("_discard_staged()")
            if any(kw.arg == "seq" for kw in node.keywords):
                self.hit("seq")
            self.generic_visit(node)

        def visit_Dict(self, node):
            if any(
                isinstance(k, ast.Constant) and k.value == "seq"
                for k in node.keys
            ):
                self.hit("seq")
            self.generic_visit(node)

        def visit_Subscript(self, node):
            if (
                isinstance(node.ctx, ast.Store)
                and isinstance(node.slice, ast.Constant)
                and node.slice.value == "seq"
            ):
                self.hit("seq")
            self.generic_visit(node)

    with open(os.path.join(PKG_ROOT, "lakehouse.py")) as f:
        tree = ast.parse(f.read())
    finder = Finder()
    finder.visit(tree)
    table = next(
        n for n in tree.body
        if isinstance(n, ast.ClassDef) and n.name == "LakeTable"
    )
    in_table = Finder()
    in_table.visit(table)
    offenders = [
        (what, fn) for what, fn in in_table.hits if fn not in allowed[what]
    ]
    assert not offenders, f"commit-conflict policy outside the loop: {offenders}"
    assert not gone & finder.defined, sorted(gone & finder.defined)


def test_merge_clauses_in_one_body():
    """MERGE has one body for both write modes: ``_merge_stage`` is the
    only caller of the join builder ``_build_merge_join`` and, with
    EXPLAIN MERGE (``LakeSQL._explain_dml``), of the candidate rule
    ``_merge_candidates``; the per-mode copies ``_merge_cow`` and
    ``_mor_merge`` are gone — as two bodies they each encoded the
    clause semantics, and only one of them let a NULL clause condition
    delete rows."""
    import ast

    allowed = {
        "_build_merge_join": {("lakehouse.py", "_merge_stage")},
        "_merge_candidates": {
            ("lakehouse.py", "_merge_stage"),
            ("sql.py", "_explain_dml"),
        },
    }
    gone = {"_merge_cow", "_mor_merge"}

    class Finder(ast.NodeVisitor):
        def __init__(self):
            self.scope: list[str] = []
            self.calls: list[tuple[str, str]] = []
            self.defined: set[str] = set()

        def visit_FunctionDef(self, node):
            self.defined.add(node.name)
            self.scope.append(node.name)
            self.generic_visit(node)
            self.scope.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Call(self, node):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")
            if name in allowed:
                self.calls.append((name, self.scope[-1] if self.scope else ""))
            self.generic_visit(node)

    offenders, present = [], []
    for root, _dirs, files in os.walk(PKG_ROOT):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG_ROOT)
            with open(path) as f:
                finder = Finder()
                finder.visit(ast.parse(f.read()))
            present += [(rel, n) for n in sorted(gone & finder.defined)]
            offenders += [
                (rel, fn, name)
                for name, fn in finder.calls
                if (rel, fn) not in allowed[name]
            ]
    assert not present, f"a second MERGE body is back: {present}"
    assert not offenders, f"MERGE join/candidates outside _merge_stage: {offenders}"


def test_change_rows_from_one_record():
    """A statement's change rows have one source: the frames its writer
    stages (``_Pending.changes``), which the change feed and SQL
    RETURNING both read. ``_stage_changes`` (the change-file writer)
    has one caller in ``lakehouse.py``, inside ``_commit_op``;
    ``sql.py`` never calls ``read_changes``; and the RETURNING
    recomputations ``_returned_df``, ``_capture_returning``,
    ``_join_dml_on`` and ``_join_dml_postimage`` are gone — each
    rebuilt the statement with its own cast, and RETURNING disagreed
    with the stored rows."""
    import ast

    gone = {
        "_returned_df", "_capture_returning", "_join_dml_on",
        "_join_dml_postimage",
    }

    class Finder(ast.NodeVisitor):
        def __init__(self):
            self.scope: list[str] = []
            self.calls: list[tuple[str, str]] = []
            self.names: set[str] = set()

        def visit_FunctionDef(self, node):
            self.names.add(node.name)
            self.scope.append(node.name)
            self.generic_visit(node)
            self.scope.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Attribute(self, node):
            self.names.add(node.attr)
            self.generic_visit(node)

        def visit_Name(self, node):
            self.names.add(node.id)

        def visit_Call(self, node):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")
            self.calls.append((name, self.scope[-1] if self.scope else ""))
            self.generic_visit(node)

    found = {}
    for fname in ("lakehouse.py", "sql.py"):
        with open(os.path.join(PKG_ROOT, fname)) as f:
            found[fname] = Finder()
            found[fname].visit(ast.parse(f.read()))
    stagers = [fn for name, fn in found["lakehouse.py"].calls
               if name == "_stage_changes"]
    assert stagers == ["_commit_op"], (
        f"change files staged outside _commit_op: {stagers}"
    )
    assert not [fn for name, fn in found["sql.py"].calls
                if name == "read_changes"], "sql.py reads the change feed"
    back = sorted(gone & found["sql.py"].names)
    assert not back, f"a RETURNING recomputation is back: {back}"


def test_dml_expressions_through_one_path():
    """Every SQL DELETE/UPDATE is one Column condition plus Column
    assignments (`_apply_delete`/`_apply_update`) or, for the join
    forms, a MERGE; its expressions, subqueries included, are bound
    and typed by the one step `_select` uses. So the subquery forks
    (``_subquery_where_dml``, a whole-table overwrite; and
    ``_subquery_dml_mor``, a precomputed match frame through
    ``lineage_scan`` and ``_mor_dml(matched=)``) are gone, no file
    is identified by ``input_file_name`` (empty after a subquery's
    semi-join), and the typed post-bind pass list appears once in
    ``sql.py``."""
    import ast

    gone = {"_subquery_where_dml", "_subquery_dml_mor", "lineage_scan",
            "input_file_name"}
    passes = (
        "_rewrite_typed_arith", "_rewrite_float_round",
        "_rewrite_int_cast_rounding", "_rewrite_interval_dateformat",
        "_rewrite_array_scalar_concat", "_rewrite_array_text_cast",
    )
    trees = {}
    for fname in ("lakehouse.py", "sql.py"):
        with open(os.path.join(PKG_ROOT, fname)) as f:
            trees[fname] = ast.parse(f.read())
    for fname, tree in trees.items():
        names = set()
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                names.add(node.name)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.Name):
                names.add(node.id)
        back = sorted(gone & names)
        assert not back, f"{fname}: a second DML path is back: {back}"
    mor_dml = [
        node for node in ast.walk(trees["lakehouse.py"])
        if isinstance(node, ast.FunctionDef) and node.name == "_mor_dml"
    ]
    assert len(mor_dml) == 1
    params = {a.arg for a in mor_dml[0].args.args + mor_dml[0].args.kwonlyargs}
    assert "matched" not in params, "_mor_dml takes a precomputed match frame"
    # each pass is referenced once outside its own definition, in one
    # sequence: the pass list of `_bind_and_type`
    refs = {p: [] for p in passes}
    for node in ast.walk(trees["sql.py"]):
        if isinstance(node, ast.Attribute) and node.attr in refs:
            refs[node.attr].append(node.lineno)
    assert all(len(v) == 1 for v in refs.values()), (
        f"a typed pass is invoked outside the one pass list: {refs}"
    )
    lines = [refs[p][0] for p in passes]
    assert lines == sorted(lines) and lines[-1] - lines[0] == len(passes) - 1, (
        f"the typed passes are not one ordered list: {refs}"
    )


def test_one_typing_scope_rule():
    """Every SQL expression's operands type per query block through one
    frame and one trial-typing helper: the per-pass frame getter
    (``_frame_of`` and its ``or_empty`` flag) is gone, ``.schema[0]``
    (trial-typing an operand over a frame) appears once in ``sql.py``,
    the MERGE-side expression path (MERGE clauses, join DML, ON
    CONFLICT) binds and types through `_bind_and_type`, and no typed
    pass reads restored text or the frame itself."""
    import ast

    with open(os.path.join(PKG_ROOT, "sql.py")) as f:
        src = f.read()
    assert "_frame_of" not in src and "or_empty" not in src
    tree = ast.parse(src)
    trials = [
        node.lineno for node in ast.walk(tree)
        if isinstance(node, ast.Subscript)
        and isinstance(node.value, ast.Attribute)
        and node.value.attr == "schema"
        and isinstance(node.slice, ast.Constant) and node.slice.value == 0
    ]
    assert len(trials) == 1, f"more than one trial-typing site: {trials}"
    merge_expr = [
        node for node in ast.walk(tree)
        if isinstance(node, ast.FunctionDef) and node.name == "_merge_expr"
    ]
    assert len(merge_expr) == 1
    assert any(
        isinstance(node, ast.Attribute) and node.attr == "_bind_and_type"
        for node in ast.walk(merge_expr[0])
    ), "_merge_expr hands Spark untyped text"
    # a pass asks `_Scope` about an operand of its own block's text: it
    # neither puts nested blocks' text back nor names the frame's columns
    passes = [
        fn for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef)
        and any(a.arg == "scope" for a in fn.args.args)
    ]
    assert len(passes) == 6
    for fn in passes:
        seen = {
            node.attr for node in ast.walk(fn)
            if isinstance(node, ast.Attribute)
        } | {node.id for node in ast.walk(fn) if isinstance(node, ast.Name)}
        assert not seen & {"restore", "_restore", "frame"}, fn.name


def test_broadcast_hints_on_dim_joins(spark, sf_dir):
    """q5's nation/region/supplier/customer joins must end up
    broadcast, not shuffled — r7 dropped the forced hints on the
    scale-linear dims (customer, supplier), so the guarantee moved
    from the STATIC plan to AQE's runtime size check: assert on the
    final adaptive plan after execution."""
    df = REGISTRY["q5_local_supplier_volume"].fn(spark, sf_dir)
    df.collect()  # materialize so AQE finalizes the join strategies
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2
    # the only sort-merge-eligible join is the fact-fact one
    assert plan.count("SortMergeJoin") <= 1


def test_asof_join_plan_has_no_join(spark, sf_dir):
    """The as-of composition must plan as union+window — a JOIN node
    would mean the row-explosion formulation snuck back in."""
    from pg_lakehouse_spark.plans.inspect import formatted_plan

    df = REGISTRY["q_asof_join"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Join" not in plan, "asof_join must not plan a join"
    assert "Window" in plan and "Union" in plan


def test_dedup_exact_single_shuffle(spark, sf_dir):
    """dedup_exact is one hash agg: exactly one shuffle exchange."""
    from pg_lakehouse_spark.plans.inspect import shuffle_exchange_count

    df = REGISTRY["dedup_exact_documents"].fn(spark, sf_dir)
    assert shuffle_exchange_count(df) == 1


def test_q2_broadcasts_dimension_stack(spark, sf_dir):
    """q2's supplier⋈nation⋈region stack and the p_size-filtered part
    side must broadcast; only the supply aggregation and the min-per-
    part self-join shuffle (both on partkey — co-partitioned)."""
    from pg_lakehouse_spark.plans.inspect import formatted_plan

    df = REGISTRY["q2_min_cost_supplier"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    # operator-id lines count each node once (formatted plans repeat
    # operator names in the detail section)
    assert len(re.findall(r"\(\d+\) SortMergeJoin", plan)) <= 1


def test_q21_self_joins_stay_keyed(spark, sf_dir):
    """q21's EXISTS/NOT-EXISTS legs compile to left-semi and left-anti
    joins keyed on l_orderkey — never a nested-loop over lineitem²."""
    from pg_lakehouse_spark.plans.inspect import formatted_plan

    df = REGISTRY["q21_waiting_suppliers"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert not has_cartesian_product(df)
    assert "BroadcastNestedLoopJoin" not in plan


def test_q7_single_fact_shuffle_join(spark, sf_dir):
    """q7: both nation sides reach lineitem/orders via broadcast; the
    only shuffle-join is lineitem⋈orders."""
    from pg_lakehouse_spark.plans.inspect import formatted_plan

    df = REGISTRY["q7_volume_shipping"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert (
        len(re.findall(r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin)", plan)) <= 1
    )


def test_decontamination_broadcasts_benchmark(spark, sf_dir):
    """The benchmark side of the decontamination join must broadcast —
    the corpus is scanned once with no corpus-side shuffle before the
    join."""
    df = REGISTRY["decontaminate_overlap"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_mor_read_broadcasts_delete_keys(spark, sf_dir, tmp_path):
    """A MoR table scan anti-joins its delete keys via broadcast (key
    sets are metadata-small); the data side is never shuffled."""
    from pg_lakehouse_spark.lakehouse import LakeCatalog
    from pg_lakehouse_spark.tables import table
    from pyspark.sql import functions as F

    cat = LakeCatalog(spark, str(tmp_path / "wh_morplan"))
    tbl = cat.create_table_as(
        "db", "t", table(spark, sf_dir, "orders").limit(200),
        properties={"row_key": "o_orderkey",
                    "write_delete_mode": "merge-on-read"},
    )
    tbl.delete(F.col("o_orderkey") < 20)
    plan = tbl.read()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_merge_small_source_broadcasts(spark, sf_dir, tmp_path):
    """A small-source CoW MERGE must plan broadcast joins, never a
    sort-merge shuffle of the touched target files: Spark drops
    broadcast hints on full-outer joins, so the merge must use the
    left-join ∪ anti-join formulation when the source is small."""
    from pyspark.sql import functions as F

    from pg_lakehouse_spark.lakehouse import _build_merge_join
    from pg_lakehouse_spark.tables import table

    target = table(spark, sf_dir, "orders").limit(500)
    source = spark.range(10).select(
        F.col("id").alias("o_orderkey"), F.lit("X").alias("o_comment")
    )
    src = source.select(
        F.struct(*[F.col(c) for c in source.columns]).alias("__src"),
        F.col("o_orderkey").alias("__k_o_orderkey"),
    )
    joined = _build_merge_join(
        target, src, ["o_orderkey"], small=True, need_inserts=True
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # large-source path keeps the full-outer sort-merge shape
    full = _build_merge_join(
        target, src, ["o_orderkey"], small=False, need_inserts=True
    )
    assert "FullOuter" in full._jdf.queryExecution().executedPlan().toString()


def test_merge_small_source_results_match_full_outer(spark, tmp_path):
    """Both merge-join formulations must produce identical MERGE
    results (updates + deletes-by-source + inserts + untouched rows,
    including a NULL-key target row that must survive untouched)."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from pg_lakehouse_spark.lakehouse import LakeCatalog
    import pg_lakehouse_spark.lakehouse as lh

    rows = [Row(k=i, v=f"t{i}") for i in range(20)] + [Row(k=None, v="nullkey")]
    src_rows = [Row(k=i, v=f"s{i}") for i in range(15, 25)]

    def run(force_small):
        cat = LakeCatalog(spark, str(tmp_path / f"wh_msrc_{force_small}"))
        tbl = cat.create_table_as(
            "db", "t", spark.createDataFrame(rows, "k int, v string")
        )
        orig = lh._is_small
        lh._is_small = lambda df, **kw: force_small
        try:
            tbl.merge(
                spark.createDataFrame(src_rows, "k int, v string"),
                on=["k"],
                when_matched_update={"v": F.col("__src.v")},
            )
        finally:
            lh._is_small = orig
        return sorted(
            [(r.k, r.v) for r in tbl.read().collect()],
            key=lambda t: (t[0] is None, t[0] or 0),
        )

    small = run(True)
    big = run(False)
    assert small == big
    assert (None, "nullkey") in small          # NULL-key row untouched
    assert (15, "s15") in small and (24, "s24") in small


def test_is_small_runs_no_job(spark, sf_dir):
    """The merge broadcast gate must answer from Catalyst stats without
    launching a Spark job — at scale a pre-merge count() is a full
    extra source scan."""
    from pg_lakehouse_spark.lakehouse import _is_small
    from pg_lakehouse_spark.tables import table

    sc = spark.sparkContext
    df_small = table(spark, sf_dir, "nation")
    df_local = spark.range(100).selectExpr("id", "id * 2 as v")
    sc.setJobGroup("is_small_probe", "no jobs expected")
    try:
        assert _is_small(df_small) is True
        assert _is_small(df_local) is True
        jobs = sc.statusTracker().getJobIdsForGroup("is_small_probe")
    finally:
        sc.setJobGroup(None, None)
    assert jobs == [], f"_is_small launched jobs: {jobs}"


def test_text_chunking_is_map_only(spark, sf_dir):
    """Chunking must be a pure map stage: no shuffle, no Python, and
    the scan reads only the two needed columns."""
    from pg_lakehouse_spark.llm.text import chunk_documents
    from pg_lakehouse_spark.tables import table

    out = chunk_documents(table(spark, sf_dir, "documents"), window=32, stride=24)
    assert shuffle_exchange_count(out) == 0
    plan = formatted_plan(out)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert all(
        cols <= {"doc_id", "text"} for cols in scan_read_columns(out)
    )


def test_repetition_signals_bounded_shuffles(spark, sf_dir):
    """Repetition signals: explode + two hash-aggs + one join — at
    most 3 shuffles keyed by doc, never an O(len^2) in-row scan."""
    from pg_lakehouse_spark.llm.text import repetition_signals
    from pg_lakehouse_spark.tables import table

    out = repetition_signals(table(spark, sf_dir, "documents"))
    assert shuffle_exchange_count(out) <= 3
    assert not has_cartesian_product(out)


def test_pii_redaction_is_map_only(spark, sf_dir):
    from pg_lakehouse_spark.llm.text import redact_pii
    from pg_lakehouse_spark.tables import table
    from pyspark.sql import functions as F

    docs = table(spark, sf_dir, "documents")
    out = docs.select("doc_id", redact_pii(F.col("text")).alias("r"))
    assert shuffle_exchange_count(out) == 0
    assert "Python" not in formatted_plan(out)


def test_pack_sequences_single_shuffle(spark, sf_dir):
    """Stream packing is one shard shuffle + one ordered window — no
    join, no extra exchange."""
    from pg_lakehouse_spark.llm.packing import pack_sequences
    from pg_lakehouse_spark.plans.inspect import (
        formatted_plan,
        shuffle_exchange_count,
    )
    from pg_lakehouse_spark.tables import table

    df = pack_sequences(table(spark, sf_dir, "documents"), budget=64)
    assert shuffle_exchange_count(df) == 1
    assert "Join" not in formatted_plan(df)


def test_fill_gaps_has_no_join(spark, sf_dir):
    """Gap rows are derived from lead() inside the series window pass
    (r14): no grid join, no distinct-series shuffle — the densify plan
    is union(observations, exploded per-row gap sequences) feeding the
    fill windows."""
    from pyspark.sql import functions as F

    from pg_lakehouse_spark.operators.timeseries import fill_gaps
    from pg_lakehouse_spark.plans.inspect import formatted_plan
    from pg_lakehouse_spark.tables import table

    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    out = fill_gaps(hourly, "bucket", "1 HOUR", ["event_type"], {"n": "zero"})
    plan = formatted_plan(out)
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    # no cache either: the operator must not strand a persisted input
    assert "InMemoryRelation" not in plan


def test_ann_join_no_corpus_broadcast(spark, sf_dir):
    """ann_join pairs candidates via a SHUFFLE join on the coarse
    bucket — only the centroid list broadcasts; with auto-broadcast
    off the plan must still contain a keyed (non-broadcast) join."""
    from pyspark.sql import functions as F

    from pg_lakehouse_spark.llm.similarity import ann_join
    from pg_lakehouse_spark.plans.inspect import formatted_plan
    from pg_lakehouse_spark.tables import table

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    left = emb.select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    # at fixture scale the planner would auto-broadcast the small
    # sides; disable it to expose the structural join choice that
    # holds when both corpora are big
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = ann_join(left, emb, k=3, nlist=8, nprobe=2)
        plan = formatted_plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_fetch_with_ties_pre_prunes_partitions(spark, tmp_path):
    """The WITH TIES rank window would otherwise be a single global
    partition over the whole input; the plan must carry the
    per-input-partition top-n pre-prune (a spark_partition_id()-keyed
    window) BEFORE the global tie window, so the single-partition
    stage sees at most n x num_partitions rows at 100 TB."""
    from pg_lakehouse_spark.lakehouse import LakeCatalog
    from pg_lakehouse_spark.plans.inspect import formatted_plan
    from pg_lakehouse_spark.sql import LakeSQL

    lsql = LakeSQL(spark, LakeCatalog(spark, str(tmp_path / "wh")))
    lsql.sql("CREATE TABLE db.wtp (k BIGINT, v BIGINT)")
    lsql.sql("INSERT INTO db.wtp SELECT id, id % 7 FROM range(1000)")
    df = lsql.sql(
        "SELECT k FROM db.wtp ORDER BY v FETCH FIRST 5 ROWS WITH TIES"
    )
    plan = formatted_plan(df)
    assert "SPARK_PARTITION_ID" in plan.upper(), plan
    # two windows: the pre-prune and the global tie rank
    assert plan.count("Window") >= 2, plan
    # and the result is correct: every id%7==0 row ties with the 5th
    vals = [r.k % 7 for r in df.collect()]
    assert len(vals) == 143 and set(vals) == {0}


def test_keyset_pagination_pushdown_r9(spark, sf_dir):
    """The r9 row-comparison expansion must stay a pure predicate:
    the keyset page `(cust, k) > (x, y)` plans as pushed filters on
    the parquet scan plus a LIMIT — no shuffle-side filtering, no
    UDF. At 100 TB this is the difference between reading one page
    and scanning the table."""
    df = REGISTRY["lake_keyset_pagination"].fn(spark, sf_dir)
    pushed = pushed_filter_columns(df)
    assert "cust" in pushed, f"keyset column not pushed: {pushed}"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan


def test_age_interval_expression_only_r10(spark, sf_dir):
    """r10: the age()/interval fidelity surface is pure expression
    emission — the q_age_intervals plan must contain NO Python UDF
    stage, and the o_orderkey range predicate must reach the parquet
    scan (the decomposition runs inside whole-stage codegen on every
    executor; at 100 TB a row-UDF here would dominate the job)."""
    df = REGISTRY["q_age_intervals"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "o_orderkey" in " ".join(sorted(pushed_filter_columns(df)))


def test_cast_rounding_plan_r11(spark, sf_dir):
    """The r11 int-cast-rounding rewrite is parse-time only: the
    q_cast_rounding plan must stay expression-only (round/bround +
    cast inside whole-stage codegen, no Python stage) and keep the
    o_orderkey range predicate at the parquet scan — at 100 TB the
    rewrite must cost nothing at runtime."""
    from pg_lakehouse_spark.workload import REGISTRY, _load_all

    _load_all()
    df = REGISTRY["q_cast_rounding"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "o_orderkey" in " ".join(sorted(pushed_filter_columns(df)))


def test_date_bin_plan_r11(spark, sf_dir):
    """q_date_bin_buckets: the bin is a pure expression on the scan —
    no Python stage, and the event_id range predicate reaches the
    parquet scan (at 100 TB the bucket grid must come free with the
    groupBy shuffle, never via a UDF)."""
    from pg_lakehouse_spark.workload import REGISTRY, _load_all

    _load_all()
    df = REGISTRY["q_date_bin_buckets"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "event_id" in " ".join(sorted(pushed_filter_columns(df)))
