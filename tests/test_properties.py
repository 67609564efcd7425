"""Property-based differential tests (hypothesis): random inputs,
independent reference implementations.

Spark jobs are slow per example, so examples are few but each carries
dozens of rows — the composed operators (as-of join, exact dedup) are
where a hand-picked fixture can miss an edge (duplicate timestamps,
all-null groups, keys present on one side only).
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

from pg_lakehouse_spark.llm.dedup import dedup_exact
from pg_lakehouse_spark.operators.joins import asof_join

_EXAMPLES = 8

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),     # key
        st.integers(min_value=0, max_value=50),    # time
        st.integers(min_value=0, max_value=999),   # payload tag
    ),
    min_size=1,
    max_size=25,
)


@pytest.mark.slow
@settings(
    max_examples=_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left_rows=rows_strategy, right_rows=rows_strategy)
def test_asof_join_matches_pandas_merge_asof(spark, left_rows, right_rows):
    """Backward as-of join ≡ pandas.merge_asof (the de-facto reference
    semantics), modulo our deterministic tie-break on equal right
    times (greatest tiebreak id wins — pandas keeps the LAST row, so
    feed pandas data sorted by (time, tag) and semantics align)."""
    left = spark.createDataFrame(
        [(k, t, f"L{i}") for i, (k, t, _) in enumerate(left_rows)],
        "k long, t long, lpay string",
    )
    # unique (key, time, tag) rows so the tie-break is well-defined
    right_uniq = sorted({(k, t, g) for k, t, g in right_rows})
    right = spark.createDataFrame(
        [(k, t, g) for (k, t, g) in right_uniq],
        "rk long, rt long, rtag long",
    )
    got = {
        (r["k"], r["t"], r["lpay"]): r["rtag"]
        for r in asof_join(
            left, right, left_on="t", right_on="rt",
            left_by="k", right_by="rk", right_tiebreak="rtag",
        ).collect()
    }

    lpdf = pd.DataFrame(
        [(k, t, f"L{i}") for i, (k, t, _) in enumerate(left_rows)],
        columns=["k", "t", "lpay"],
    ).sort_values("t", kind="stable")
    rpdf = pd.DataFrame(right_uniq, columns=["rk", "rt", "rtag"]).sort_values(
        ["rt", "rtag"], kind="stable"
    )
    merged = pd.merge_asof(
        lpdf, rpdf, left_on="t", right_on="rt",
        left_by="k", right_by="rk", direction="backward",
    )
    expect = {
        (r.k, r.t, r.lpay): (None if pd.isna(r.rtag) else int(r.rtag))
        for r in merged.itertuples()
    }
    assert got == expect


@pytest.mark.slow
@settings(
    max_examples=_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=rows_strategy)
def test_dedup_exact_keeps_min_id_per_key(spark, rows):
    df = spark.createDataFrame(
        [(i, k, f"p{g}") for i, (k, _, g) in enumerate(rows)],
        "doc_id long, key long, pay string",
    )
    out = dedup_exact(df, F.col("key"), id_col="doc_id").collect()
    # one survivor per distinct key, and it is the min doc_id
    expect = {}
    for i, (k, _, g) in enumerate(rows):
        if k not in expect or i < expect[k][0]:
            expect[k] = (i, f"p{g}")
    assert {(r["key"], r["doc_id"], r["pay"]) for r in out} == {
        (k, i, p) for k, (i, p) in expect.items()
    }


def test_mor_equals_cow_under_random_dml(spark, sf_dir, tmp_path):
    """Differential property: a seeded random sequence of DELETE /
    UPDATE / APPEND / MERGE — with a schema evolution (add + update +
    widen) and a partition-spec switch forced mid-sequence — applied to
    equality-MoR, positional-MoR and copy-on-write twins must converge
    to identical states at every step. Evolution mid-sequence is the
    highest-risk composition: position deletes and equality deletes
    must keep applying across schema epochs and layout changes. Three
    clause-conditioned MERGEs close the sequence: a conditional matched
    DELETE and a matched UPDATE whose condition is NULL for a third of
    the rows (a NULL condition must not fire), then a full-sync MERGE
    with NOT MATCHED BY SOURCE DELETE."""
    import random

    from pyspark.sql import functions as F

    from pg_lakehouse_spark.lakehouse import LakeCatalog
    from pg_lakehouse_spark.tables import table

    rng = random.Random(20260813)
    orders = table(spark, sf_dir, "orders").limit(300)
    cat = LakeCatalog(spark, str(tmp_path / "wh_prop"))
    mor = cat.create_table_as(
        "db", "mor", orders,
        properties={"row_key": "o_orderkey",
                    "write_delete_mode": "merge-on-read"},
    )
    pos = cat.create_table_as(
        "db", "pos", orders,
        properties={"write_delete_mode": "merge-on-read-positional"},
    )
    cow = cat.create_table_as("db", "cow", orders)
    tables = (mor, cow, pos)

    def states_equal():
        a = {tuple(r) for r in mor.read().collect()}
        b = {tuple(r) for r in cow.read().collect()}
        c = {tuple(r) for r in pos.read().collect()}
        assert a == b == c

    def conform(df):
        """Project a source frame onto the CURRENT (possibly evolved)
        table schema: shared columns pass through, new columns NULL."""
        return df.select(
            *[
                (
                    F.col(f.name) if f.name in df.columns else F.lit(None)
                ).cast(f.dataType).alias(f.name)
                for f in cow.schema().fields
            ]
        )

    # NULL for o_orderkey % 3 = 0, else whether the key is even
    gate = F.when(F.col("o_orderkey") % 3 == 0, F.lit(None)).otherwise(
        F.col("o_orderkey") % 2 == 0
    )
    forced = {
        2: "evolve",        # schema evolution mid-sequence
        4: "respec",        # partition-spec switch
        5: "merge_evolve",  # schema-merging MERGE
        8: "merge_cond_delete",
        9: "merge_null_update",
        10: "merge_full_sync",
    }
    for step in range(11):
        if step in forced:
            op = forced[step]
        else:
            op = rng.choice(["delete", "update", "append", "merge"])
        lo = rng.randrange(0, 280)
        hi = lo + rng.randrange(5, 40)
        cond = F.col("o_orderkey").between(lo, hi)
        if op == "delete":
            for t_ in tables:
                t_.delete(cond)
        elif op == "update":
            assign = {"o_totalprice": F.col("o_totalprice") + float(step + 1)}
            for t_ in tables:
                t_.update(cond, assign)
        elif op == "append":
            extra = orders.filter(cond).withColumn(
                "o_orderkey", F.col("o_orderkey") + 100000 + step
            )
            for t_ in tables:
                t_.append(conform(extra))
        elif op == "evolve":
            cname = f"x{step}"
            # one add carries an initial DEFAULT: old epochs must read
            # it identically across CoW / equality-MoR / positional
            for t_ in tables:
                t_.add_column(cname, "int")
                t_.add_column(f"{cname}d", "int", default="-7")
            assign = {cname: F.lit(step)}
            for t_ in tables:
                t_.update(cond, assign)
            for t_ in tables:
                t_.widen_column(cname, "bigint")
        elif op == "merge_evolve":
            # source carries a brand-new column; merge_schema evolves
            # all three twins before joining
            src = orders.filter(cond).select(
                "o_orderkey",
                F.lit(f"tag{step}").alias(f"mtag{step}"),
            )
            kwargs = dict(
                on=["o_orderkey"],
                when_matched_update={
                    f"mtag{step}": F.col(f"__src.mtag{step}")
                },
                when_not_matched_insert=False,
                merge_schema=True,
            )
            mor.merge(src, **kwargs)
            cow.merge(src, **kwargs)
            pos.merge(src, **kwargs, mode="copy-on-write")
        elif op == "respec":
            for t_ in tables:
                t_.set_partition_spec(["o_orderstatus"])
        else:
            src = orders.filter(
                ~cond if op == "merge_full_sync" else cond
            ).withColumn("o_totalprice", F.col("o_totalprice") + 7.0)
            upsert = {"o_totalprice": F.col("__src.o_totalprice")}
            kwargs = {
                "merge": dict(
                    when_matched_update=upsert, when_not_matched_insert=True
                ),
                "merge_cond_delete": dict(
                    when_matched_delete=True,
                    when_matched_condition=gate,
                    when_not_matched_insert=False,
                ),
                "merge_null_update": dict(
                    when_matched_update=upsert,
                    when_matched_condition=gate,
                    when_not_matched_insert=False,
                ),
                "merge_full_sync": dict(
                    when_matched_update=upsert,
                    when_not_matched_insert=True,
                    when_not_matched_by_source_delete=True,
                ),
            }[op] | {"on": ["o_orderkey"]}
            mor.merge(conform(src), **kwargs)
            cow.merge(conform(src), **kwargs)
            # positional tables run MERGE through the CoW path (merge
            # is key-addressed; positional applies to delete/update)
            pos.merge(conform(src), **kwargs, mode="copy-on-write")
        states_equal()
    # compaction folds the MoR/positional deletes, state unchanged
    mor.compact(small_file_bytes=1 << 62, min_files=1)
    pos.compact(small_file_bytes=1 << 62, min_files=1)
    states_equal()


def test_branch_then_publish_equals_direct_dml(spark, sf_dir, tmp_path):
    """Differential property: a seeded random DML sequence applied on
    an isolated branch and then fast-forwarded must produce exactly
    the state of the same sequence applied directly to main — and
    main must be bit-identical to its pre-branch state at every
    intermediate step (isolation)."""
    import random

    from pyspark.sql import functions as F

    from pg_lakehouse_spark.lakehouse import LakeCatalog
    from pg_lakehouse_spark.tables import table

    rng = random.Random(20260814)
    orders = table(spark, sf_dir, "orders").limit(250)
    cat = LakeCatalog(spark, str(tmp_path / "wh_branch_prop"))
    direct = cat.create_table_as("db", "direct", orders)
    staged = cat.create_table_as("db", "staged", orders)
    baseline = {tuple(r) for r in staged.read().collect()}
    staged.create_branch("wap")
    wap = staged.for_branch("wap")

    for step in range(6):
        op = rng.choice(["delete", "update", "append", "merge"])
        lo = rng.randrange(0, 230)
        hi = lo + rng.randrange(5, 40)
        cond = F.col("o_orderkey").between(lo, hi)
        if op == "delete":
            for t_ in (direct, wap):
                t_.delete(cond)
        elif op == "update":
            assign = {"o_totalprice": F.col("o_totalprice") + float(step + 1)}
            for t_ in (direct, wap):
                t_.update(cond, assign)
        elif op == "append":
            extra = orders.filter(cond).withColumn(
                "o_orderkey", F.col("o_orderkey") + 200000 + step
            )
            for t_ in (direct, wap):
                t_.append(extra)
        else:
            src = orders.filter(cond).withColumn(
                "o_totalprice", F.col("o_totalprice") + 3.5
            )
            kwargs = dict(
                on=["o_orderkey"],
                when_matched_update={
                    "o_totalprice": F.col("__src.o_totalprice")
                },
                when_not_matched_insert=True,
            )
            for t_ in (direct, wap):
                t_.merge(src, **kwargs)
        # isolation: main of the staged table never moves mid-flight
        assert {tuple(r) for r in staged.read().collect()} == baseline

    staged.fast_forward("wap")
    assert (
        {tuple(r) for r in staged.read().collect()}
        == {tuple(r) for r in direct.read().collect()}
    )


def test_txn_grouping_equals_direct_application(spark, sf_dir, tmp_path):
    """Differential property: grouping a random DML sequence into
    random-size LakeTransactions must produce exactly the state of
    applying the same ops directly, one commit each — transactions
    change atomicity, never results."""
    import random

    from pyspark.sql import functions as F

    from pg_lakehouse_spark.lakehouse import LakeCatalog, LakeTransaction
    from pg_lakehouse_spark.tables import table

    rng = random.Random(20260815)
    orders = table(spark, sf_dir, "orders").limit(200)
    cat = LakeCatalog(spark, str(tmp_path / "wh_txn_prop"))
    direct = cat.create_table_as("db", "direct", orders)
    grouped = cat.create_table_as("db", "grouped", orders)

    def make_op(step):
        kind = rng.choice(["delete", "update", "append", "merge"])
        lo = rng.randrange(0, 180)
        hi = lo + rng.randrange(5, 30)
        cond = F.col("o_orderkey").between(lo, hi)
        if kind == "delete":
            return kind, (cond,)
        if kind == "update":
            return kind, (
                cond,
                {"o_totalprice": F.col("o_totalprice") + float(step + 1)},
            )
        if kind == "append":
            return kind, (
                orders.filter(cond).withColumn(
                    "o_orderkey", F.col("o_orderkey") + 300000 + step
                ),
            )
        return kind, (
            orders.filter(cond).withColumn(
                "o_totalprice", F.col("o_totalprice") + 2.5
            ),
        )

    merge_kwargs = dict(
        on=["o_orderkey"],
        when_matched_update={"o_totalprice": F.col("__src.o_totalprice")},
        when_not_matched_insert=True,
    )
    step = 0
    for _group in range(4):
        size = rng.randrange(1, 4)
        ops = [make_op(step + i) for i in range(size)]
        step += size
        for kind, args in ops:  # direct twin: one commit per op
            getattr(direct, kind)(*args, **(merge_kwargs if kind == "merge" else {}))
        with LakeTransaction() as tx:  # grouped twin: one publish per group
            for kind, args in ops:
                getattr(tx, kind)(
                    grouped, *args, **(merge_kwargs if kind == "merge" else {})
                )
    a = {tuple(r) for r in direct.read().collect()}
    b = {tuple(r) for r in grouped.read().collect()}
    assert a == b


def test_pruned_read_equals_full_scan_filter(spark, sf_dir, tmp_path):
    """Differential property: for random range/point filters over a
    bloom+NDV-indexed multi-append table, read_pruned must equal the
    unpruned read with the same predicate — file skipping (ranges,
    hidden transforms, blooms) may only skip files that cannot match."""
    import random

    from pyspark.sql import functions as F

    from pg_lakehouse_spark.lakehouse import LakeCatalog
    from pg_lakehouse_spark.tables import table

    rng = random.Random(20260816)
    orders = table(spark, sf_dir, "orders").limit(400)
    cat = LakeCatalog(spark, str(tmp_path / "wh_prune_prop"))
    tbl = cat.create_table(
        "db", "t", orders.schema,
        properties={"bloom_filter_columns": "o_orderkey"},
    )
    # interleaved appends so ranges overlap heavily
    for m in range(3):
        tbl.append(orders.filter(F.col("o_orderkey") % 3 == m).repartition(2))
    keys = [r["o_orderkey"] for r in orders.limit(50).collect()]
    for _ in range(8):
        if rng.random() < 0.5:
            k = rng.choice(keys)
            filters = {"o_orderkey": (k, k)}
            cond = F.col("o_orderkey") == k
        else:
            lo = rng.randrange(0, 3000)
            hi = lo + rng.randrange(1, 500)
            filters = {"o_orderkey": (lo, hi)}
            cond = F.col("o_orderkey").between(lo, hi)
        got = {tuple(r) for r in tbl.read_pruned(filters).collect()}
        want = {tuple(r) for r in tbl.read().filter(cond).collect()}
        assert got == want, f"pruned read diverged for {filters}"


# ---------------------------------------------------------------------------
# SQL WHERE-clause range extraction (sql.py _select_ranges)
# ---------------------------------------------------------------------------

_ADVERSARIAL_STRINGS = st.one_of(
    st.sampled_from(
        [
            "a BETWEEN 1 AND 2",
            "x AND y",
            "p OR q",
            "it''s",           # PG-escaped quote
            "BETWEEN",
            "AND",
            "(paren) AND 2",
            "k >= 5",
            "",
        ]
    ),
    st.text(
        alphabet=st.characters(
            min_codepoint=32, max_codepoint=126, blacklist_characters="'"
        ),
        max_size=12,
    ),
)

_conjunct = st.one_of(
    st.tuples(
        st.just("op"),
        st.sampled_from(["k", "v", "s"]),
        st.sampled_from([">=", "<=", "=", ">", "<"]),
        _ADVERSARIAL_STRINGS,
        st.integers(min_value=-50, max_value=50),
    ),
    st.tuples(
        st.just("between"),
        st.sampled_from(["k", "v", "s"]),
        st.just(None),
        st.tuples(_ADVERSARIAL_STRINGS, _ADVERSARIAL_STRINGS),
        st.tuples(
            st.integers(min_value=-50, max_value=50),
            st.integers(min_value=-50, max_value=50),
        ),
    ),
)


@settings(max_examples=200, deadline=None)
@given(conjuncts=st.lists(_conjunct, min_size=1, max_size=4))
def test_where_filters_extraction_matches_reference(spark, conjuncts):
    """Differential parse check for the r4 wrong-results class: render
    random simple conjuncts — with adversarial string literals
    containing BETWEEN/AND/OR/paren/quote text — into a WHERE clause
    and assert the ranges the SELECT path extracts (Spark's parse
    tree, then `_condition_ranges`) equal an independently computed
    intersection of the conjuncts' true bounds. Any corruption
    (keyword text inside a literal torn or excised) shows up as a
    bogus or over-tight range."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from pg_lakehouse_spark.sql import LakeSQL

    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("v", DoubleType()),
            StructField("s", StringType()),
        ]
    )

    def render_lit(col, sval, ival):
        if col == "s":
            return "'" + sval + "'", sval.replace("''", "'")
        if col == "v":
            return f"{ival}.5", float(f"{ival}.5")
        return str(ival), ival

    parts: list[str] = []
    ref: dict[str, list] = {}

    def narrow(col, lo=None, hi=None):
        b = ref.setdefault(col, [None, None])
        if lo is not None:
            b[0] = lo if b[0] is None else max(b[0], lo)
        if hi is not None:
            b[1] = hi if b[1] is None else min(b[1], hi)

    for kind, col, op, sval, ival in conjuncts:
        if kind == "op":
            text, sem = render_lit(col, sval, ival)
            parts.append(f"{col} {op} {text}")
            if op in (">=", ">", "="):
                narrow(col, lo=sem)
            if op in ("<=", "<", "="):
                narrow(col, hi=sem)
        else:
            (s1, s2), (i1, i2) = sval, ival
            t1, sem1 = render_lit(col, s1, i1)
            t2, sem2 = render_lit(col, s2, i2)
            parts.append(f"{col} BETWEEN {t1} AND {t2}")
            narrow(col, lo=sem1, hi=sem2)

    stmt = "SELECT * FROM db.t WHERE " + " AND ".join(parts)
    got = LakeSQL._select_ranges(stmt, "db", "t", schema)
    want = {c: (lo, hi) for c, (lo, hi) in ref.items()}
    assert got == want, f"stmt={stmt!r}"


# -- r6: keyword-bearing literals through every DML verb ----------------
# VERDICT r5 found statement-level splits (UPDATE/DELETE/MERGE/INSERT/
# RETURNING) tearing at clause keywords inside string literals. The
# masking fix routes every split through _mask_strings; this fuzzes the
# whole verb surface end-to-end: write a literal, read it back intact.

_DML_LITERALS = st.one_of(
    st.sampled_from(
        [
            "a WHERE b",
            "x FROM y AND z, w",
            "WHEN MATCHED THEN DELETE",
            "ON CONFLICT (k) DO NOTHING",
            "note RETURNING id",
            "SET a = 1, b = 2",
            "USING src AS s",
            "k BETWEEN 1 AND 2",
            ") , (",
            "it''s a WHERE",
            "",
        ]
    ),
    st.text(
        alphabet=st.characters(
            min_codepoint=32, max_codepoint=126, blacklist_characters="'"
        ),
        max_size=16,
    ),
)

_mask_sql_cache = {}


def _masked_dml_sql(spark, tmp_path_factory):
    key = id(spark)
    if key not in _mask_sql_cache:
        from pg_lakehouse_spark.lakehouse import LakeCatalog
        from pg_lakehouse_spark.sql import LakeSQL

        wh = tmp_path_factory.mktemp("mask_dml_wh")
        lsql = LakeSQL(spark, LakeCatalog(spark, str(wh)))
        lsql.sql("CREATE TABLE db.fz (k BIGINT, s STRING, n BIGINT)")
        lsql.sql("INSERT INTO db.fz VALUES (1, 'a', 1), (2, 'b', 2)")
        _mask_sql_cache[key] = lsql
    return _mask_sql_cache[key]


@pytest.mark.slow
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(lit=_DML_LITERALS, lit2=_DML_LITERALS)
def test_dml_keyword_literal_roundtrip(
    spark, tmp_path_factory, lit, lit2
):
    lsql = _masked_dml_sql(spark, tmp_path_factory)
    # the strategy emits already-escaped text ('' stays ''); the value
    # PG stores is the unescaped form
    want = lit.replace("''", "'")
    want2 = lit2.replace("''", "'")

    lsql.sql(f"UPDATE db.fz SET s = '{lit}' WHERE k = 1")
    got = lsql.sql("SELECT s FROM db.fz WHERE k = 1").collect()
    assert [r.s for r in got] == [want]

    # DELETE predicate bearing the literal must not tear — and must
    # not match (no k = 999 row exists)
    before = lsql.sql("SELECT * FROM db.fz").count()
    lsql.sql(f"DELETE FROM db.fz WHERE s = '{lit2}' AND k = 999")
    assert lsql.sql("SELECT * FROM db.fz").count() == before

    # upsert: literal with commas/keywords in DO UPDATE SET
    lsql.sql(
        f"INSERT INTO db.fz VALUES (2, 'x', 0) ON CONFLICT (k) "
        f"DO UPDATE SET s = '{lit2}', n = excluded.n"
    )
    r = lsql.sql("SELECT s, n FROM db.fz WHERE k = 2").collect()[0]
    assert (r.s, r.n) == (want2, 0)

    # MERGE: literal in the matched condition and in INSERT VALUES
    lsql.sql(
        f"MERGE INTO db.fz AS t USING (SELECT 1 AS k) AS s ON t.k = s.k "
        f"WHEN MATCHED AND t.s = '{lit}' THEN UPDATE SET n = 42 "
        f"WHEN NOT MATCHED THEN INSERT (k, s, n) VALUES (s.k, '{lit2}', 0)"
    )
    r = lsql.sql("SELECT n FROM db.fz WHERE k = 1").collect()[0]
    assert r.n == 42


# -- r6: end-to-end SELECT differential vs DuckDB -----------------------
# The unit test above checks range EXTRACTION; this drives the whole
# SELECT path (dialect rewrite → lake binding → manifest pruning →
# Spark execution) against DuckDB on identical rows. Any silent row
# loss from over-pruning, literal corruption, or dialect rewriting
# shows up as a result mismatch.

_SEL_COLS = ("k", "v", "s")
_SEL_STRS = ["alpha", "a WHERE b", "it''s", "x AND y", "", "BETWEEN",
             "(paren)", "~ oops", "\\", "a\\0b", "C:\\dir\\name"]

_sel_pred = st.deferred(
    lambda: st.one_of(
        _sel_leaf,
        st.tuples(st.just("and"), _sel_pred, _sel_pred),
        st.tuples(st.just("or"), _sel_pred, _sel_pred),
        st.tuples(st.just("not"), _sel_pred),
    )
)
_sel_leaf = st.one_of(
    st.tuples(
        st.just("cmp"),
        st.sampled_from(_SEL_COLS),
        st.sampled_from(["=", "<>", "<", ">", "<=", ">="]),
        st.integers(min_value=-5, max_value=60),
        st.sampled_from(_SEL_STRS),
    ),
    st.tuples(
        st.just("between"),
        st.sampled_from(["k", "v"]),
        st.integers(min_value=-5, max_value=60),
        st.integers(min_value=-5, max_value=60),
    ),
    st.tuples(
        st.just("in"),
        st.just("k"),
        st.lists(
            st.integers(min_value=-5, max_value=60), min_size=1, max_size=4
        ),
    ),
    st.tuples(st.just("null"), st.sampled_from(_SEL_COLS), st.booleans()),
)


def _render_pred(node) -> str:
    kind = node[0]
    if kind == "and":
        return f"({_render_pred(node[1])} AND {_render_pred(node[2])})"
    if kind == "or":
        return f"({_render_pred(node[1])} OR {_render_pred(node[2])})"
    if kind == "not":
        return f"(NOT {_render_pred(node[1])})"
    if kind == "cmp":
        _, col, op, ival, sval = node
        lit = f"'{sval}'" if col == "s" else (
            f"{ival}.25" if col == "v" else str(ival)
        )
        return f"{col} {op} {lit}"
    if kind == "between":
        _, col, a, b = node
        fmt = (lambda x: f"{x}.25") if col == "v" else str
        return f"{col} BETWEEN {fmt(a)} AND {fmt(b)}"
    if kind == "in":
        _, col, vals = node
        return f"{col} IN ({', '.join(str(v) for v in vals)})"
    _, col, isnull = node
    return f"{col} IS {'' if isnull else 'NOT '}NULL"


_sel_state = {}


def _sel_setup(spark, tmp_path_factory):
    if "sql" in _sel_state:
        return _sel_state["sql"], _sel_state["duck"]
    import duckdb

    from pg_lakehouse_spark.lakehouse import LakeCatalog
    from pg_lakehouse_spark.sql import LakeSQL

    rows = []
    for i in range(64):
        s = _SEL_STRS[i % len(_SEL_STRS)].replace("''", "'")
        rows.append(
            (
                i,
                None if i % 11 == 0 else float(i) - 0.5,
                None if i % 13 == 0 else s,
            )
        )
    df = spark.createDataFrame(rows, "k long, v double, s string")
    wh = tmp_path_factory.mktemp("sel_diff_wh")
    lsql = LakeSQL(spark, LakeCatalog(spark, str(wh)))
    lsql.sql("CREATE TABLE db.fzsel (k BIGINT, v DOUBLE, s STRING)")
    tbl = lsql.catalog.load_table("db", "fzsel")
    # several files so manifest pruning has something to skip
    for lo in range(0, 64, 16):
        tbl.append(
            df.filter((df.k >= lo) & (df.k < lo + 16)).coalesce(1)
        )
    duck = duckdb.connect()
    # DuckDB 1.0's expression rewriter dereferences a null pointer on
    # `(k IN (0, 1) AND k BETWEEN 0 AND 0) OR (k BETWEEN 0 AND 0 AND
    # k IN (0, 1))` and then invalidates the whole connection, which
    # every differential test here shares. The rewriter only
    # simplifies expressions, so the oracle's answers are unchanged.
    duck.execute("SET disabled_optimizers = 'expression_rewriter'")
    duck.execute("CREATE TABLE fzsel (k BIGINT, v DOUBLE, s VARCHAR)")
    duck.executemany("INSERT INTO fzsel VALUES (?, ?, ?)", rows)
    _sel_state["sql"], _sel_state["duck"] = lsql, duck
    return lsql, duck


@pytest.mark.slow
@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pred=_sel_pred)
def test_select_differential_vs_duckdb(spark, tmp_path_factory, pred):
    lsql, duck = _sel_setup(spark, tmp_path_factory)
    where = _render_pred(pred)
    stmt = f"SELECT k, v, s FROM db.fzsel WHERE {where} ORDER BY k"
    got = [
        (r.k, r.v, r.s)
        for r in lsql.sql(stmt).collect()
    ]
    want = duck.execute(
        f"SELECT k, v, s FROM fzsel WHERE {where} ORDER BY k"
    ).fetchall()
    assert got == want, f"where={where!r}"


@pytest.mark.slow
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    part=st.sampled_from(["s", "v"]),
    order=st.sampled_from(["k", "v"]),
    desc=st.booleans(),
    pred=_sel_pred,
    nested=st.booleans(),
)
def test_distinct_on_differential_vs_duckdb(
    spark, tmp_path_factory, part, order, desc, pred, nested
):
    """PG DISTINCT ON (rewritten onto row_number) ≡ DuckDB's native
    DISTINCT ON, over random predicates, partition and order choices.
    The full ORDER BY ends with k so the surviving row per group (and
    the output order) are deterministic on both engines."""
    lsql, duck = _sel_setup(spark, tmp_path_factory)
    d = "DESC" if desc else "ASC"
    where = _render_pred(pred)
    # Spark-side keys are UNQUALIFIED: the dialect pass must inject
    # PG's defaults (NULLS LAST on ASC, FIRST on DESC). The oracle
    # spells them out — DuckDB's own default is nulls-last in BOTH
    # directions, so a bare DESC key would assert the wrong engine.
    spark_inner = (
        f"SELECT DISTINCT ON ({part}) k, v, s FROM db.fzsel "
        f"WHERE {where} ORDER BY {part}, {order} {d}, k"
    )
    duck_inner = (
        f"SELECT DISTINCT ON ({part}) k, v, s FROM fzsel "
        f"WHERE {where} ORDER BY {part} NULLS LAST, "
        f"{order} {d} NULLS {'FIRST' if desc else 'LAST'}, k"
    )
    if nested:
        # r7: DISTINCT ON inside a subquery (scope-bounded rewrite)
        spark_stmt = (
            f"SELECT k, v, s FROM ({spark_inner}) q ORDER BY k"
        )
        duck_stmt = f"SELECT k, v, s FROM ({duck_inner}) q ORDER BY k"
    else:
        spark_stmt, duck_stmt = spark_inner, duck_inner
    got = [(r.k, r.v, r.s) for r in lsql.sql(spark_stmt).collect()]
    want = duck.execute(duck_stmt).fetchall()
    assert got == want, spark_stmt


@pytest.mark.slow
@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    key=st.sampled_from(["s", "v"]),
    direction=st.sampled_from(["", " ASC", " DESC"]),
    qual=st.sampled_from([None, "FIRST", "LAST"]),
    limit=st.integers(min_value=1, max_value=8),
    pred=st.one_of(st.none(), _sel_pred),
)
def test_order_by_nulls_differential_vs_duckdb(
    spark, tmp_path_factory, key, direction, qual, limit, pred
):
    """Bare ORDER BY over a NULLABLE key + LIMIT — the r6 silent-wrong
    class: PG sorts NULLs last on ASC / first on DESC, Spark the
    opposite, so the returned ROWS differ, not just their order. The
    Spark side leaves keys unqualified at least 1/3 of the time (qual
    None); the DuckDB oracle always spells the PG behavior explicitly
    (DuckDB's own default is nulls-last in BOTH directions). Ties on
    the sort key are broken by k on both sides so row sets compare
    deterministically."""
    lsql, duck = _sel_setup(spark, tmp_path_factory)
    where = f" WHERE {_render_pred(pred)}" if pred is not None else ""
    spark_q = f" NULLS {qual}" if qual else ""
    # PG-effective placement: explicit wins; else LAST on ASC/bare,
    # FIRST on DESC
    eff = qual or ("FIRST" if direction == " DESC" else "LAST")
    spark_stmt = (
        f"SELECT k, v, s FROM db.fzsel{where} "
        f"ORDER BY {key}{direction}{spark_q}, k LIMIT {limit}"
    )
    duck_stmt = (
        f"SELECT k, v, s FROM fzsel{where} "
        f"ORDER BY {key}{direction} NULLS {eff}, k LIMIT {limit}"
    )
    got = [(r.k, r.v, r.s) for r in lsql.sql(spark_stmt).collect()]
    want = duck.execute(duck_stmt).fetchall()
    assert got == want, spark_stmt


# -- r6: dialect-pass invariants ----------------------------------------

_DIALECT_SAFE_TOKENS = st.lists(
    st.one_of(
        st.sampled_from(
            ["SELECT", "a", "b.c", "1", "2.5", "+", "-", "*", "/", "(",
             ")", ",", "=", "<", ">", "AND", "OR", "NOT", "WHERE",
             "FROM", "t", "count", "sum"]
        ),
        st.text(
            alphabet=st.characters(
                min_codepoint=32,
                max_codepoint=126,
                blacklist_characters="'\"~:>-/^$@&#[]",
            ),
            min_size=1,
            max_size=8,
        ),
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=200, deadline=None)
@given(tokens=_DIALECT_SAFE_TOKENS)
def test_dialect_pass_noop_on_clean_statements(tokens):
    """Statements containing none of the rewritten PG-isms (no quotes,
    regex ops, :: casts, arrows, comments) must pass through the
    dialect rewriter byte-identical — it must never corrupt already-
    Spark-valid text."""
    from pg_lakehouse_spark.sql import LakeSQL

    s = " ".join(tokens)
    assert LakeSQL._pg_dialect(s) == s


_DIALECT_PG_STMTS = st.sampled_from(
    [
        "SELECT \"order\" FROM db.t WHERE s ~* '^a' AND k::text = '1'",
        "SELECT data ->> 'k' FROM db.t -- c\nWHERE s SIMILAR TO 'a%'",
        "UPDATE db.t SET s = 'a WHERE b' WHERE extract(epoch from ts) > 0",
        "SELECT CAST(k AS TEXT), x -> 'k' -> 0 FROM db.t /* block */",
        "SELECT transform(a, x -> x + 1), s !~ 'p' FROM db.t",
        # r7 rewrites must also be one-shot
        "SELECT array[1,2], E'a\\tb', $$it's$$ FROM db.t ORDER BY a DESC",
        "SELECT string_agg(s, ',' ORDER BY s), 2 ^ 3 FROM db.t "
        "FETCH FIRST 2 ROWS ONLY",
        "SELECT extract(dow FROM ts), mode() WITHIN GROUP (ORDER BY s),"
        " count(*) FILTER (WHERE k > 0) OVER (PARTITION BY g) FROM db.t",
        "SELECT row(1, 'x'), k = ANY(array[1,2]) FROM db.t "
        "OFFSET 1 ROWS FETCH NEXT 2 ROWS ONLY",
    ]
)


@settings(max_examples=20, deadline=None)
@given(stmt=_DIALECT_PG_STMTS)
def test_dialect_pass_idempotent(stmt):
    """Applying the dialect rewrite twice equals applying it once —
    no operator or pattern is ever double-rewritten (e.g. a second
    (?i) injection or re-torn literal)."""
    from pg_lakehouse_spark.sql import LakeSQL

    once = LakeSQL._pg_dialect(stmt)
    assert LakeSQL._pg_dialect(once) == once


# -- r6: aggregate-shape differential fuzzer ----------------------------

_AGG_ITEMS = st.lists(
    st.sampled_from(
        [
            "count(*) AS c",
            "count(v) AS cv",
            "count(DISTINCT s) AS ds",
            "sum(k) AS sk",
            "round(sum(v), 6) AS sv",
            "min(v) AS mv",
            "max(s) AS ms",
        ]
    ),
    min_size=1,
    max_size=4,
    unique=True,
)


@pytest.mark.slow
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    groups=st.sampled_from(["s", "g", "s, g"]),
    aggs=_AGG_ITEMS,
    pred=st.one_of(st.none(), _sel_pred),
    having=st.one_of(st.none(), st.integers(min_value=0, max_value=5)),
    limit=st.one_of(st.none(), st.integers(min_value=1, max_value=10)),
)
def test_aggregate_differential_vs_duckdb(
    spark, tmp_path_factory, groups, aggs, pred, having, limit
):
    """Random GROUP BY / aggregate / HAVING / ORDER BY / LIMIT shapes
    (NULL group keys included) must match DuckDB exactly. Sums stay
    exact: k is integral, v values are halves (exact in double)."""
    lsql, duck = _sel_setup(spark, tmp_path_factory)
    if having is not None and "count(*) AS c" not in aggs:
        aggs = ["count(*) AS c"] + aggs
    sel = groups + ", " + ", ".join(aggs)
    # g is a derived key: inject its definition in the select list
    if "g" in groups.split(", "):
        sel = sel.replace("g", "k % 4 AS g", 1)
    stmt = f"SELECT {sel} FROM {{t}}"
    if pred is not None:
        stmt += f" WHERE {_render_pred(pred)}"
    stmt += f" GROUP BY {groups}"
    if having is not None:
        stmt += f" HAVING count(*) > {having}"
    # Spark-side sort keys UNQUALIFIED — the dialect pass injects PG's
    # NULLS LAST on ASC; the DuckDB oracle spells it explicitly
    stmt += " ORDER BY {order}"
    if limit is not None:
        stmt += f" LIMIT {limit}"
    cols = groups.split(", ")
    got = [tuple(r) for r in lsql.sql(
        stmt.format(t="db.fzsel", order=", ".join(cols))
    ).collect()]
    want = [tuple(w) for w in duck.execute(stmt.format(
        t="fzsel",
        order=", ".join(f"{c} ASC NULLS LAST" for c in cols),
    )).fetchall()]
    assert got == want, stmt


@pytest.mark.slow
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    epoch_s=st.integers(min_value=0, max_value=2_000_000_000),
    field=st.sampled_from(
        ["year", "month", "day", "hour", "minute", "second",
         "quarter", "dow", "isodow", "doy"]
    ),
)
def test_date_part_differential_vs_duckdb(
    spark, tmp_path_factory, epoch_s, field
):
    """r7: every extract/date_part field must match DuckDB's
    PG-compatible numbering over random timestamps — dow/isodow are
    where Spark's native numbering silently diverges (+1 / absent)."""
    import datetime

    lsql, duck = _sel_setup(spark, tmp_path_factory)
    ts = datetime.datetime.utcfromtimestamp(epoch_s).strftime(
        "%Y-%m-%d %H:%M:%S"
    )
    got = lsql.sql(
        f"SELECT extract({field} FROM TIMESTAMP '{ts}') AS x"
    ).collect()[0].x
    want = duck.execute(
        f"SELECT date_part('{field}', TIMESTAMP '{ts}')"
    ).fetchone()[0]
    assert int(got) == int(want), (field, ts)


@pytest.mark.slow
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pred=_sel_pred,
    qual=st.sampled_from(["fzsel", "FZSEL", "FzSel"]),
    refcase=st.sampled_from(["db.fzsel", "DB.fzsel", "db.FZSEL", "Db.FzSel"]),
)
# the shape that crashes DuckDB 1.0's expression rewriter (see _sel_setup)
@example(
    pred=(
        "or",
        ("and", ("in", "k", [0, 0]), ("between", "k", 0, 0)),
        ("and", ("between", "k", 0, 0), ("in", "k", [0, 0])),
    ),
    qual="fzsel",
    refcase="db.fzsel",
)
def test_bare_name_qualification_differential_vs_duckdb(
    spark, tmp_path_factory, pred, qual, refcase
):
    """r8: PG's implicit correlation name + identifier case folding —
    every column qualified by the bare (mixed-case) table name, over
    a mixed-case un-aliased lake ref, must match DuckDB running the
    same spelling (DuckDB folds identifiers case-insensitively like
    PG). Quote-aware qualification: string literals are never
    touched."""
    import re as _re

    lsql, duck = _sel_setup(spark, tmp_path_factory)
    where = _render_pred(pred)

    def qualify(text: str) -> str:
        parts = text.split("'")
        for i in range(0, len(parts), 2):  # even indexes: outside quotes
            parts[i] = _re.sub(r"\b([kvs])\b", rf"{qual}.\1", parts[i])
        return "'".join(parts)

    qwhere = qualify(where)
    sel = f"SELECT {qual}.k, {qual}.v, {qual}.s"
    got = [
        (r.k, r.v, r.s)
        for r in lsql.sql(
            f"{sel} FROM {refcase} WHERE {qwhere} ORDER BY {qual}.k"
        ).collect()
    ]
    want = duck.execute(
        f"{sel} FROM fzsel WHERE {qwhere} ORDER BY {qual}.k"
    ).fetchall()
    assert got == want, f"where={qwhere!r} ref={refcase!r}"


@pytest.mark.slow
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(n=st.integers(1, 12), desc=st.booleans(), pred=_sel_pred)
def test_fetch_with_ties_differential_vs_duckdb(
    spark, tmp_path_factory, n, desc, pred
):
    """r8: FETCH FIRST n ROWS WITH TIES over a tie-heavy key (s
    repeats across rows and is NULL every 13th) must return exactly
    the rank()<=n row multiset DuckDB computes with PG null
    placement."""
    lsql, duck = _sel_setup(spark, tmp_path_factory)
    where = _render_pred(pred)
    key = "s DESC" if desc else "s"
    nulls = "NULLS FIRST" if desc else "NULLS LAST"  # PG defaults
    got = sorted(
        (r.k, r.s)
        for r in lsql.sql(
            f"SELECT k, s FROM db.fzsel WHERE {where} "
            f"ORDER BY {key} FETCH FIRST {n} ROWS WITH TIES"
        ).collect()
    )
    want = sorted(
        duck.execute(
            f"SELECT k, s FROM fzsel WHERE {where} "
            f"QUALIFY rank() OVER (ORDER BY {key} {nulls}) <= {n}"
        ).fetchall()
    )
    assert got == want, f"n={n} desc={desc} where={where!r}"


@pytest.mark.slow
@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    arr=st.lists(st.integers(-5, 5), min_size=0, max_size=6),
    idx=st.integers(0, 8),
    lo=st.integers(0, 7),
    hi=st.integers(0, 7),
)
def test_subscript_slice_differential_vs_duckdb(
    spark, tmp_path_factory, arr, idx, lo, hi
):
    """r8: PG 1-based subscripts and inclusive clamping slices over
    the rewritten a[i] / a[lo:hi] spellings must match DuckDB's
    PG-compatible list semantics (NULL out of range, empty when
    hi < lo). Negative indexes are excluded: DUCKDB extends them
    Python-style from the end, where PG (and this engine) return
    NULL — the engine side is pinned separately in
    test_fn_kit_battery3_r8."""
    import duckdb as _duck

    lsql, _ = _sel_setup(spark, tmp_path_factory)
    lit = "array[" + ", ".join(str(x) for x in arr) + "]"
    dlit = "[" + ", ".join(str(x) for x in arr) + "]"
    got = lsql.sql(
        f"SELECT ({lit})[{idx}] AS e, ({lit})[{lo}:{hi}] AS s"
    ).collect()[0]
    want = _duck.sql(
        f"SELECT ({dlit})[{idx}] AS e, ({dlit})[{lo}:{hi}] AS s"
    ).fetchone()
    # DuckDB slices clamp like PG; element NULL out-of-range
    assert got.e == want[0], f"elem arr={arr} idx={idx}"
    assert list(got.s or []) == list(want[1] or []), (
        f"slice arr={arr} lo={lo} hi={hi} got={got.s} want={want[1]}"
    )


@pytest.mark.slow
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lhs=st.sampled_from(["k", "v", "2", "-1", "(k + 1)", "abs(k - 60)"]),
    op=st.sampled_from(["=", "<>", "!="]),
    quant=st.sampled_from(["ANY", "SOME", "ALL"]),
    vals=st.lists(st.integers(-2, 70), min_size=1, max_size=4),
    sub=st.booleans(),
)
def test_any_all_differential_vs_duckdb(
    spark, tmp_path_factory, lhs, op, quant, vals, sub
):
    """r8: quantifier rewrites over every captured operand shape
    (identifier, literal, signed number, paren expression, function
    call) × array/subquery RHS must match DuckDB. Unsupported
    combinations (= ALL / <> ANY over arrays) are expected loud on
    BOTH engines' shared subset — they're skipped via the same rule
    the rewrite uses."""
    if (op == "=") != (quant in ("ANY", "SOME")):
        return  # = ALL / <> ANY stay unrewritten (loud) by design
    lsql, duck = _sel_setup(spark, tmp_path_factory)
    arr = "array[" + ", ".join(str(x) for x in vals) + "]"
    # the subquery keeps PG's redundant-paren spelling:
    # ANY((SELECT ...)) must classify as a subquery, not an array
    rhs = f"(SELECT k FROM {{T}} WHERE k % 7 = 0)" if sub else arr
    q = (
        f"SELECT k FROM {{T}} WHERE {lhs} {op} {quant}({rhs}) ORDER BY k"
    )
    got = [r.k for r in lsql.sql(q.format(T="db.fzsel")).collect()]
    want = [r[0] for r in duck.execute(q.format(T="fzsel")).fetchall()]
    assert got == want, f"q={q} got={got[:8]} want={want[:8]}"
