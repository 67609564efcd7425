"""Lakehouse (Tier A) workload — DML + time travel, oracle-checked.

Each query materializes a scratch lakehouse table under /tmp from the
corpus, applies versioned operations (append / merge / delete / update /
time travel), and returns the final state. The oracle expresses the
same end state in pure SQL over the corpus — so the driver's hash check
covers the storage layer's correctness, not just the query layer.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pg_lakehouse_spark.timeutil import epoch_us

from pg_lakehouse_spark.lakehouse import LakeCatalog
from pg_lakehouse_spark.workload import register
from pg_lakehouse_spark.workload.util import t, views

# overridable so concurrent measurement harnesses (e.g. an interleaved
# before/after A/B from two checkouts) don't rmtree each other's live
# scratch tables; the driver runs one process at a time and uses the
# default
_WORK_ROOT = os.environ.get(
    "SPARK_GRAFT_WORK_DIR", "/tmp/pg_lakehouse_spark_work"
)


def _scratch_catalog(spark: SparkSession, sf_dir: str, name: str) -> LakeCatalog:
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    warehouse = os.path.join(_WORK_ROOT, sf_tag, name)
    shutil.rmtree(warehouse, ignore_errors=True)
    return LakeCatalog(spark, warehouse)


@register(
    "lake_merge_upsert",
    oracle="""
SELECT o_orderkey,
       round(CASE WHEN o_orderkey > 500 THEN o_totalprice + 111.0
                  ELSE o_totalprice END, 2) AS totalprice,
       o_orderstatus
FROM orders
WHERE o_orderkey <= 1500
""",
    tags=("lakehouse", "merge"),
)
def lake_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO: matched rows updated, unmatched source rows inserted
    (ref A13 roadmap 'MERGE for upsert')."""
    orders = t(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "merge_upsert")
    tbl = cat.create_table_as(
        "db", "orders_m", orders.filter(F.col("o_orderkey") <= 1000)
    )
    source = orders.filter(
        (F.col("o_orderkey") > 500) & (F.col("o_orderkey") <= 1500)
    ).withColumn("o_totalprice", F.col("o_totalprice") + 111.0)
    tbl.merge(
        source,
        on=["o_orderkey"],
        when_matched_update={"o_totalprice": F.col("__src.o_totalprice")},
        when_not_matched_insert=True,
    )
    return tbl.read().select(
        "o_orderkey",
        F.round(F.col("o_totalprice"), 2).alias("totalprice"),
        "o_orderstatus",
    )


@register(
    "lake_merge_composite_key",
    oracle="""
SELECT l_orderkey AS k1, l_linenumber AS k2,
       round(CASE WHEN l_orderkey % 100 = 0 THEN sum(l_quantity) + 50.0
                  ELSE sum(l_quantity) END, 2) AS qty,
       round(sum(l_extendedprice), 2) AS price
FROM lineitem
WHERE l_orderkey <= 800
GROUP BY l_orderkey, l_linenumber
""",
    tags=("lakehouse", "merge", "bloom"),
)
def lake_merge_composite_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE on a COMPOSITE key (l_orderkey, l_linenumber) against a
    bloom-indexed table whose files fully interleave on both key
    columns — min/max bounds overlap everywhere, so only per-file
    bloom conjunction pruning (a file is skipped when any key column's
    bloom rules out every source value) keeps the rewrite set at the
    files actually holding a source key. The base pre-aggregates to
    one row per key tuple (the synthetic lineitem repeats line
    numbers); the sparse CDC-style source patches a handful of orders
    and the oracle states the net effect."""
    # the two appends and the merge source are filter slices of this
    # ONE aggregated frame; persist so the groupBy aggregation (a
    # corpus shuffle) computes once instead of three times (r13,
    # guide §5 — same move as rollup_incremental's feed)
    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 800)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(
            F.sum("l_quantity").alias("qty_raw"),
            F.sum("l_extendedprice").alias("price_raw"),
        )
        .persist()
    )
    try:
        cat = _scratch_catalog(spark, sf_dir, "merge_composite")
        tbl = cat.create_table(
            "db", "li_ck", li.schema,
            properties={"bloom_filter_columns": "l_orderkey,l_linenumber"},
        )
        # interleaved appends: both files span the full key range
        tbl.append(li.filter(F.col("l_orderkey") % 2 == 0).repartition(1))
        tbl.append(li.filter(F.col("l_orderkey") % 2 == 1).repartition(1))
        source = li.filter(F.col("l_orderkey") % 100 == 0).withColumn(
            "qty_raw", F.col("qty_raw") + 50.0
        )
        tbl.merge(
            source,
            on=["l_orderkey", "l_linenumber"],
            when_matched_update={"qty_raw": F.col("__src.qty_raw")},
            when_not_matched_insert=False,
        )
    finally:
        li.unpersist()
    return tbl.read().select(
        F.col("l_orderkey").alias("k1"),
        F.col("l_linenumber").alias("k2"),
        F.round(F.col("qty_raw"), 2).alias("qty"),
        F.round(F.col("price_raw"), 2).alias("price"),
    )


@register(
    "lake_sql_dml",
    oracle="""
SELECT k, round(price, 2) AS price FROM (
    SELECT o_orderkey AS k,
           CASE WHEN o_orderkey <= 300 THEN o_totalprice * 2
                WHEN o_orderkey > 800 THEN o_totalprice + 999.0
                ELSE o_totalprice END AS price
    FROM orders
    WHERE o_orderkey <= 1200 AND o_orderkey % 10 != 0
    UNION ALL SELECT CAST(999901 AS BIGINT), CAST(111.5 AS DOUBLE)
    UNION ALL SELECT CAST(999902 AS BIGINT), CAST(222.25 AS DOUBLE)
) u
""",
    tags=("lakehouse", "sql-frontend", "dml"),
)
def lake_sql_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's actual user surface — SQL statements — driving
    the lakehouse end-to-end: CREATE TABLE, INSERT INTO ... SELECT,
    UPDATE ... WHERE, DELETE ... WHERE, MERGE INTO (update + insert),
    then a plain SELECT over the result. The oracle states the net
    effect of the statement sequence in one SQL query."""
    from pg_lakehouse_spark.sql import LakeSQL

    views(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "sql_dml")
    q = LakeSQL(spark, cat)
    q.sql("CREATE TABLE db.ord (k BIGINT, price DOUBLE)")
    q.sql(
        "INSERT INTO db.ord SELECT o_orderkey, o_totalprice "
        "FROM orders WHERE o_orderkey <= 1000"
    )
    q.sql("UPDATE db.ord SET price = price * 2 WHERE k <= 300")
    q.sql("DELETE FROM db.ord WHERE k % 10 = 0")
    spark.sql(
        "SELECT o_orderkey AS k, o_totalprice + 999.0 AS price "
        "FROM orders WHERE o_orderkey > 800 AND o_orderkey <= 1200 "
        "AND o_orderkey % 10 != 0"
    ).createOrReplaceTempView("ord_changes")
    q.sql(
        "MERGE INTO db.ord AS t USING ord_changes AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET price = s.price "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    # column-listed VALUES insert, deliberately in non-schema order
    # (the reference README's own demo shape, README.md:31-33)
    q.sql(
        "INSERT INTO db.ord (price, k) VALUES (111.5, 999901), "
        "(222.25, 999902)"
    )
    return q.sql("SELECT k, round(price, 2) AS price FROM db.ord")


@register(
    "lake_assignment_cast",
    oracle="""
SELECT k, v, w FROM (
    SELECT o_orderkey AS k,
           CAST(o_orderkey + 0.5 AS INTEGER) AS v,
           CAST(o_orderkey * 0.25 AS INTEGER) AS w
    FROM orders WHERE o_orderkey <= 400
    UNION ALL SELECT CAST(999901 AS BIGINT), 200, CAST(NULL AS INTEGER)
    UNION ALL SELECT CAST(999902 AS BIGINT), -3, CAST(NULL AS INTEGER)
) u
""",
    tags=("lakehouse", "sql-frontend", "dml", "functions-cast"),
)
def lake_assignment_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PG ASSIGNMENT casts on DML stores (r12, the r11 verdict
    headline): fractional values written into integer columns with NO
    cast spelled anywhere ROUND — ``INSERT ... SELECT k + 0.5`` and
    ``UPDATE SET w = k * 0.25`` round half-away (numeric), VALUES
    ``(2.5)``/``(-2.5)`` store 3/-3, and an UPDATE to 199.5 stores
    200. Every o_orderkey + 0.5 is a forced tie, so truncation and
    rounding disagree on EVERY row. DuckDB's insert cast rounds the
    same way, so the oracle states the net effect with explicit
    CASTs."""
    from pg_lakehouse_spark.sql import LakeSQL

    views(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "assignment_cast")
    q = LakeSQL(spark, cat)
    q.sql("CREATE TABLE db.ac (k BIGINT, v INT, w INT)")
    q.sql(
        "INSERT INTO db.ac SELECT o_orderkey, o_orderkey + 0.5, NULL "
        "FROM orders WHERE o_orderkey <= 400"
    )
    q.sql("UPDATE db.ac SET w = k * 0.25 WHERE k <= 400")
    q.sql(
        "INSERT INTO db.ac (k, v) VALUES (999901, 2.5), (999902, -2.5)"
    )
    q.sql("UPDATE db.ac SET v = 199.5 WHERE k = 999901")
    return q.sql("SELECT k, v, w FROM db.ac")


@register(
    "lake_merge_full_sync",
    oracle="""
SELECT o_orderkey, round(o_totalprice + 111.0, 2) AS totalprice
FROM orders
WHERE o_orderkey > 500 AND o_orderkey <= 1500
""",
    tags=("lakehouse", "merge", "merge-by-source"),
)
def lake_merge_full_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with WHEN NOT MATCHED BY SOURCE DELETE (PG17/Delta full
    sync): after the merge the target equals the source exactly —
    matched rows updated, new keys inserted, target-only rows deleted.
    The oracle is simply the transformed source."""
    orders = t(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "merge_full_sync")
    tbl = cat.create_table_as(
        "db", "orders_fs",
        orders.select("o_orderkey", "o_totalprice").filter(
            F.col("o_orderkey") <= 1000
        ),
    )
    source = orders.select("o_orderkey", "o_totalprice").filter(
        (F.col("o_orderkey") > 500) & (F.col("o_orderkey") <= 1500)
    ).withColumn("o_totalprice", F.col("o_totalprice") + 111.0)
    tbl.merge(
        source,
        on=["o_orderkey"],
        when_matched_update={"o_totalprice": F.col("__src.o_totalprice")},
        when_not_matched_insert=True,
        when_not_matched_by_source_delete=True,
    )
    return tbl.read().select(
        "o_orderkey",
        F.round(F.col("o_totalprice"), 2).alias("totalprice"),
    )


@register(
    "lake_delete_update",
    oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity + 5.0
                      ELSE l_quantity END), 2) AS total_qty
FROM lineitem
WHERE l_orderkey <= 2000 AND l_returnflag <> 'R'
GROUP BY l_returnflag, l_linestatus
""",
    tags=("lakehouse", "dml"),
)
def lake_delete_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE + UPDATE with copy-on-write file rewrite (ref A12/A13)."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 2000)
    cat = _scratch_catalog(spark, sf_dir, "delete_update")
    tbl = cat.create_table_as("db", "li", li)
    tbl.delete(F.col("l_returnflag") == "R")
    tbl.update(
        F.col("l_linestatus") == "O",
        {"l_quantity": F.col("l_quantity") + 5.0},
    )
    return (
        tbl.read()
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
    )


@register(
    "lake_time_travel",
    oracle="""
SELECT 'v_ctas' AS snap, count(*) AS n FROM orders WHERE o_orderkey <= 500
UNION ALL
SELECT 'v_append' AS snap, count(*) AS n FROM orders WHERE o_orderkey <= 1000
UNION ALL
SELECT 'v_overwrite' AS snap, count(*) AS n FROM orders WHERE o_orderkey <= 100
""",
    tags=("lakehouse", "time-travel"),
)
def lake_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-pinned reads across append/overwrite history (ref A6)."""
    orders = t(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "time_travel")
    tbl = cat.create_table_as(
        "db", "tt", orders.filter(F.col("o_orderkey") <= 500)
    )
    v_ctas = tbl.current_version()
    tbl.append(
        orders.filter((F.col("o_orderkey") > 500) & (F.col("o_orderkey") <= 1000))
    )
    v_append = tbl.current_version()
    tbl.overwrite(orders.filter(F.col("o_orderkey") <= 100))

    def labeled(label: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(label).alias("snap"), "n"
        )

    return (
        labeled("v_ctas", tbl.read(snapshot=v_ctas))
        .unionByName(labeled("v_append", tbl.read(snapshot=v_append)))
        .unionByName(labeled("v_overwrite", tbl.read()))
    )


@register("lake_maintenance_roundtrip", oracle=None, tags=("lakehouse", "maintenance"))
def lake_maintenance_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """compact → vacuum lifecycle; returns the table_info summary row
    (rows-only check: file counts depend on parallelism, not SQL-
    expressible)."""
    orders = t(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "maintenance")
    tbl = cat.create_table("db", "mt", orders.schema)
    for i in range(3):
        tbl.append(orders.filter(F.col("o_orderkey") % 3 == i).repartition(2))
    tbl.compact(small_file_bytes=64 * 1024 * 1024)
    tbl.vacuum(keep_last=1)
    info = tbl.table_info()
    rows = tbl.read().count()
    return spark.createDataFrame(
        [
            (
                info["version"],
                info["total_files"],
                int(info["total_rows"]),
                int(rows),
                info["operation"],
            )
        ],
        "version int, total_files int, meta_rows bigint, actual_rows bigint, last_op string",
    )


@register(
    "lake_schema_evolution",
    oracle="""
SELECT o_orderkey, round(o_totalprice, 2) AS amount,
       CASE WHEN o_orderkey <= 1000 THEN 'legacy' ELSE 'web' END AS o_channel,
       CASE WHEN o_orderkey <= 1000 THEN CAST(o_orderkey AS BIGINT)
            ELSE o_orderkey + 10000000000 END AS o_code
FROM orders WHERE o_orderkey <= 2000
""",
    tags=("lakehouse", "schema-evolution"),
)
def lake_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Id-based schema evolution end-to-end (the reference's roadmap
    item README.md:152): rename + add + widen are metadata-only
    commits; old files resolve by field id (narrow types cast up at
    read); an UPDATE then spans both schema epochs. The oracle states
    the equivalent end state in pure SQL."""
    orders = t(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "schema_evolution")
    tbl = cat.create_table_as(
        "db",
        "orders_evo",
        orders.filter(F.col("o_orderkey") <= 1000).withColumn(
            "o_code", F.col("o_orderkey").cast("int")
        ),
    )
    tbl.rename_column("o_totalprice", "o_amount")
    tbl.add_column("o_channel", "string")
    tbl.widen_column("o_code", "bigint")
    tbl.append(
        orders.filter((F.col("o_orderkey") > 1000) & (F.col("o_orderkey") <= 2000))
        .withColumnRenamed("o_totalprice", "o_amount")
        .withColumn("o_code", F.col("o_orderkey") + F.lit(10_000_000_000))
        .withColumn("o_channel", F.lit("web"))
    )
    # update touches only the old-epoch files (o_channel NULL there)
    tbl.update(F.col("o_channel").isNull(), {"o_channel": F.lit("legacy")})
    return tbl.read().select(
        "o_orderkey",
        F.round(F.col("o_amount"), 2).alias("amount"),
        "o_channel",
        "o_code",
    )


@register(
    "lake_change_feed",
    oracle="""
SELECT o_orderkey, round(o_totalprice, 2) AS price, _change_type FROM (
  SELECT o_orderkey, o_totalprice, 'delete' AS _change_type
  FROM orders WHERE o_orderkey < 40
  UNION ALL
  SELECT o_orderkey, o_totalprice, 'update_preimage'
  FROM orders WHERE o_orderkey BETWEEN 100 AND 109
  UNION ALL
  SELECT o_orderkey, o_totalprice + 5.0, 'update_postimage'
  FROM orders WHERE o_orderkey BETWEEN 100 AND 109
)
""",
    tags=("lakehouse", "cdc"),
)
def lake_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level change data feed: DELETE then UPDATE on a lakehouse
    table; read_changes() must emit exactly the touched rows as
    delete / update_preimage / update_postimage — never the unchanged
    rows that shared their files. The oracle states the expected
    change rows in pure SQL over the corpus."""
    orders = t(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "change_feed")
    tbl = cat.create_table_as(
        "db", "orders_cdf", orders.filter(F.col("o_orderkey") <= 1000),
        properties={"change_data_feed": "on"},  # exact DML changes are opt-in
    )
    v0 = tbl.current_version()
    tbl.delete(F.col("o_orderkey") < 40)
    tbl.update(
        F.col("o_orderkey").between(100, 109),
        {"o_totalprice": F.col("o_totalprice") + 5.0},
    )
    return tbl.read_changes(v0).select(
        "o_orderkey",
        F.round(F.col("o_totalprice"), 2).alias("price"),
        "_change_type",
    )


@register(
    "rollup_incremental",
    oracle="""
SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_sum_e2,
       min(value) AS value_min, max(value) AS value_max
FROM events
GROUP BY 1, 2
""",
    tags=("rollup", "incremental", "lakehouse"),
)
def rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate rollup refreshed incrementally: a rollup
    table is populated from an initial batch, then two appends land on
    the source and each `refresh_rollup` merges ONLY the delta's
    partial aggregates into the stored state (cost ∝ new data — the
    hypertable-rollup posture for 100 TB). The oracle is the direct
    GROUP BY over the whole corpus: incremental merge must equal full
    recompute. Sum runs on the cent-grid integer scale so the merged
    partial sums are exact in both engines."""
    from pg_lakehouse_spark.rollup import create_rollup, refresh_rollup

    # the three lifecycle feeds (CTAS + two appends) are filter slices
    # of this ONE projected frame; without a cache each slice re-scans
    # the events parquet and re-evaluates the projection (the `%3`
    # slicing filter cannot push down to parquet, so every scan reads
    # the full table). Persist → one scan + three cache reads; the
    # cache dies before the function returns, and every invocation
    # still computes from the parquet inputs (guide §5).
    ev = (
        t(spark, sf_dir, "events")
        .select("event_id", "ts", "event_type", "value")
        .withColumn("value_e2", F.round(F.col("value") * 100).cast("long"))
        .persist()
    )
    try:
        cat = _scratch_catalog(spark, sf_dir, "rollup_inc")
        src = cat.create_table_as(
            "db", "events_src", ev.filter(F.col("event_id") % 3 == 0)
        )
        roll = create_rollup(
            cat, "db", "events_hourly", src,
            time_col="ts", bucket="1 hour", group_by=["event_type"],
            metrics={
                "n_events": ("count", "*"),
                "value_sum_e2": ("sum", "value_e2"),
                "value_min": ("min", "value"),
                "value_max": ("max", "value"),
            },
        )
        src.append(ev.filter(F.col("event_id") % 3 == 1))
        refresh_rollup(src, roll)
        src.append(ev.filter(F.col("event_id") % 3 == 2))
        refresh_rollup(src, roll)
    finally:
        ev.unpersist()
    return roll.read().select(
        epoch_us(F.col("bucket_start")).alias("bucket_us"),
        "event_type",
        "n_events",
        "value_sum_e2",
        "value_min",
        "value_max",
    )


@register(
    "lake_nested_evolution",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_orderkey <= 1000 THEN CAST(o_orderkey AS BIGINT)
            ELSE o_orderkey + 5000000000 END AS ref,
       CASE WHEN o_orderkey <= 1000 THEN NULL ELSE 'web' END AS channel
FROM orders WHERE o_orderkey <= 1500
""",
    tags=("lakehouse", "schema-evolution", "nested"),
)
def lake_nested_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-struct field evolution end-to-end: add / rename / widen /
    drop of struct CHILDREN are metadata-only commits; old files
    resolve children by field id and cast narrow types up; a dropped
    child disappears from every epoch. The oracle states the flattened
    end state in pure SQL."""
    orders = t(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "nested_evolution")
    base = orders.filter(F.col("o_orderkey") <= 1000).select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderkey").cast("int").alias("code"),
        ).alias("props"),
    )
    tbl = cat.create_table_as("db", "orders_nested", base)
    tbl.add_column("props.channel", "string")
    tbl.rename_column("props.code", "ref")
    tbl.widen_column("props.ref", "bigint")
    newrows = orders.filter(
        (F.col("o_orderkey") > 1000) & (F.col("o_orderkey") <= 1500)
    ).select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus").alias("status"),
            (F.col("o_orderkey") + F.lit(5_000_000_000)).alias("ref"),
            F.lit("web").alias("channel"),
        ).cast(tbl.schema()["props"].dataType).alias("props"),
    )
    tbl.append(newrows)
    tbl.drop_column("props.status")
    return tbl.read().select(
        "o_orderkey",
        F.col("props.ref").alias("ref"),
        F.col("props.channel").alias("channel"),
    )


@register(
    "lake_deep_nested_evolution",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_orderkey <= 1000 THEN CAST(o_orderkey AS BIGINT)
            ELSE o_orderkey + 5000000000 END AS zip,
       CASE WHEN o_orderkey <= 1000 THEN NULL ELSE 'EU' END AS region,
       o_orderstatus AS status
FROM orders WHERE o_orderkey <= 1500
""",
    tags=("lakehouse", "schema-evolution", "nested-deep"),
)
def lake_deep_nested_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCT-IN-STRUCT evolution (two levels down): add / rename /
    widen / drop on ``customer.address.*`` children are metadata-only
    commits; old files resolve grandchildren by field id recursively
    and cast narrow types up. Mirrors lake_nested_evolution one level
    deeper (the reference's Iceberg schema model is depth-free;
    bridge/iceberg_bridge.cpp kStruct handling)."""
    orders = t(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "deep_nested_evolution")
    base = orders.filter(F.col("o_orderkey") <= 1000).select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.struct(
                F.col("o_orderkey").cast("int").alias("zipcode"),
                F.lit("x").alias("street"),
            ).alias("address"),
        ).alias("customer"),
    )
    tbl = cat.create_table_as("db", "orders_deep", base)
    tbl.add_column("customer.address.region", "string")   # depth-2 add
    tbl.rename_column("customer.address.zipcode", "zip")  # depth-2 rename
    tbl.widen_column("customer.address.zip", "bigint")    # depth-2 widen
    newrows = orders.filter(
        (F.col("o_orderkey") > 1000) & (F.col("o_orderkey") <= 1500)
    ).select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.struct(
                (F.col("o_orderkey") + F.lit(5_000_000_000)).alias("zip"),
                F.lit("y").alias("street"),
                F.lit("EU").alias("region"),
            ).alias("address"),
        ).cast(tbl.schema()["customer"].dataType).alias("customer"),
    )
    tbl.append(newrows)
    tbl.drop_column("customer.address.street")            # depth-2 drop
    return tbl.read().select(
        "o_orderkey",
        F.col("customer.address.zip").alias("zip"),
        F.col("customer.address.region").alias("region"),
        F.col("customer.status").alias("status"),
    )


@register(
    "lake_container_evolution",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_orderkey <= 1000
            THEN CAST(o_orderkey AS BIGINT) + (o_orderkey % 7)
            ELSE o_orderkey + 5000000000 END AS hist_sum,
       CASE WHEN o_orderkey <= 1000 THEN CAST(o_orderkey % 5 AS BIGINT)
            ELSE o_orderkey + 5000000000 END AS pri
FROM orders WHERE o_orderkey <= 1500
""",
    tags=("lakehouse", "schema-evolution", "container"),
)
def lake_container_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-type widening end-to-end: array<int>->array<bigint>
    and map<string,int>->map<string,bigint> are metadata-only commits;
    old narrow files cast up element/value types inside the epoch
    projection; appended rows carry values beyond int range. The
    oracle states the flattened end state in pure SQL."""
    orders = t(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "container_evolution")
    base = orders.filter(F.col("o_orderkey") <= 1000).select(
        "o_orderkey",
        F.array(
            F.col("o_orderkey").cast("int"),
            (F.col("o_orderkey") % 7).cast("int"),
        ).alias("hist"),
        F.create_map(
            F.lit("pri"), (F.col("o_orderkey") % 5).cast("int")
        ).alias("attrs"),
    )
    tbl = cat.create_table_as("db", "orders_containers", base)
    tbl.widen_column("hist", "array<bigint>")
    tbl.widen_column("attrs", "map<string,bigint>")
    big = F.col("o_orderkey") + F.lit(5_000_000_000)
    newrows = orders.filter(
        (F.col("o_orderkey") > 1000) & (F.col("o_orderkey") <= 1500)
    ).select(
        "o_orderkey",
        F.array(big).alias("hist"),
        F.create_map(F.lit("pri"), big).alias("attrs"),
    )
    tbl.append(newrows)
    return tbl.read().select(
        "o_orderkey",
        F.expr("aggregate(hist, 0L, (a, x) -> a + x)").alias("hist_sum"),
        F.element_at("attrs", "pri").alias("pri"),
    )


@register(
    "lake_element_evolution",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_orderkey <= 1000 THEN CAST(o_orderkey AS BIGINT)
            ELSE o_orderkey + 5000000000 END AS ref,
       CASE WHEN o_orderkey <= 1000 THEN NULL
            ELSE CAST(o_orderkey % 9 AS BIGINT) END AS qty
FROM orders WHERE o_orderkey <= 1500
""",
    tags=("lakehouse", "schema-evolution", "element"),
)
def lake_element_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field evolution INSIDE array<struct> elements (add / rename /
    widen via ``col.element.child`` paths): metadata-only commits; old
    files rebuild elements by field id through transform() in the
    epoch projection. The oracle states the flattened end state of the
    first element in pure SQL."""
    orders = t(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "element_evolution")
    base = orders.filter(F.col("o_orderkey") <= 1000).select(
        "o_orderkey",
        F.array(
            F.struct(F.col("o_orderkey").cast("int").alias("code"))
        ).alias("items"),
    )
    tbl = cat.create_table_as("db", "orders_items", base)
    tbl.add_column("items.element.qty", "bigint")
    tbl.rename_column("items.element.code", "ref")
    tbl.widen_column("items.element.ref", "bigint")
    newrows = orders.filter(
        (F.col("o_orderkey") > 1000) & (F.col("o_orderkey") <= 1500)
    ).select(
        "o_orderkey",
        F.array(
            F.struct(
                (F.col("o_orderkey") + F.lit(5_000_000_000)).alias("ref"),
                (F.col("o_orderkey") % 9).alias("qty"),
            )
        ).cast(tbl.schema()["items"].dataType).alias("items"),
    )
    tbl.append(newrows)
    first = F.element_at("items", 1)
    return tbl.read().select(
        "o_orderkey",
        first["ref"].alias("ref"),
        first["qty"].alias("qty"),
    )


@register(
    "rollup_approx_distinct",
    oracle=None,  # HLL estimates are engine-specific — rows-only here;
    # tests/test_rollup.py::test_rollup_approx_distinct_hll proves
    # incremental merge == full recompute and <5% error vs exact
    tags=("rollup", "incremental", "approx", "sketch"),
)
def rollup_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count rollup: the state column is an HLL
    sketch (binary); refresh unions sketches register-wise, so distinct
    users per bucket stays incrementally refreshable at any scale —
    the continuous-aggregate answer to non-mergeable COUNT(DISTINCT)."""
    from pg_lakehouse_spark.rollup import create_rollup, read_rollup, refresh_rollup

    ev = t(spark, sf_dir, "events").select("event_id", "ts", "event_type", "user_id")
    cat = _scratch_catalog(spark, sf_dir, "rollup_hll")
    src = cat.create_table_as("db", "ev_src", ev.filter(F.col("event_id") % 2 == 0))
    roll = create_rollup(
        cat, "db", "ev_daily", src,
        time_col="ts", bucket="1 day", group_by=["event_type"],
        metrics={"n_events": ("count", "*"),
                 "n_users": ("approx_distinct", "user_id")},
    )
    src.append(ev.filter(F.col("event_id") % 2 == 1))
    refresh_rollup(src, roll)
    return read_rollup(roll).select(
        epoch_us(F.col("bucket_start")).alias("bucket_us"),
        "event_type", "n_events", "n_users",
    )


@register(
    "lake_partition_evolution",
    oracle="""
SELECT o_orderstatus,
       count(*) AS n,
       round(sum(CASE WHEN o_orderkey <= 100 THEN 0.0
                      ELSE o_totalprice END), 2) AS total
FROM orders WHERE o_orderkey <= 1600
GROUP BY o_orderstatus
""",
    tags=("lakehouse", "partition-evolution"),
)
def lake_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition evolution end-to-end: a flat table switches its spec
    to hive-partitioning by o_orderstatus (metadata-only commit), new
    appends land partitioned, an UPDATE rewrites across BOTH layouts,
    and the final aggregate spans them transparently. The oracle
    states the end state in pure SQL."""
    orders = t(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "partition_evolution")
    tbl = cat.create_table_as(
        "db", "orders_pevo", orders.filter(F.col("o_orderkey") <= 800)
    )
    tbl.set_partition_spec(["o_orderstatus"])
    tbl.append(
        orders.filter(
            (F.col("o_orderkey") > 800) & (F.col("o_orderkey") <= 1600)
        )
    )
    tbl.update(F.col("o_orderkey") <= 100, {"o_totalprice": F.lit(0.0)})
    return (
        tbl.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "lake_hidden_partitioning",
    oracle="""
SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders
WHERE o_orderkey <= 2000
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <= TIMESTAMP '1996-12-31'
GROUP BY o_orderstatus
""",
    tags=("lakehouse", "hidden-partitioning"),
)
def lake_hidden_partitioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden partitioning (Iceberg transform partitioning; the
    reference's partition-pruning roadmap item): the table partitions
    by months(o_orderdate) — the derived value lives only in hive dirs,
    never in the user schema — and a predicate on the SOURCE column
    prunes whole month partitions at the manifest level before Spark
    ever lists a file."""
    orders = t(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "hidden_partitioning")
    tbl = cat.create_table_as(
        "db", "orders_hp",
        orders.filter(F.col("o_orderkey") <= 2000),
        partition_by=["months(o_orderdate)"],
    )
    pruned = tbl.read_pruned(
        {"o_orderdate": ("1996-01-01 00:00:00", "1996-12-31 00:00:00")}
    )
    return (
        pruned.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "lake_mor_delete_update",
    oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity + 5.0
                      ELSE l_quantity END), 2) AS total_qty
FROM lineitem
WHERE l_orderkey <= 2000 AND l_returnflag <> 'R'
GROUP BY l_returnflag, l_linestatus
""",
    tags=("lakehouse", "dml", "merge-on-read"),
)
def lake_mor_delete_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE + UPDATE (the reference's merge-on-read
    intent, pg_lakehouse_iceberg/README.md:15): DML writes equality-
    delete key files + postimage appends — NO data-file rewrite; the
    read path anti-joins the keys with Iceberg sequence-number
    semantics. Same end state as the copy-on-write twin
    (lake_delete_update), proving mode equivalence."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 2000)
    cat = _scratch_catalog(spark, sf_dir, "mor_delete_update")
    tbl = cat.create_table_as(
        "db", "li_mor",
        li.withColumn(
            "row_id",
            F.monotonically_increasing_id(),
        ),
        properties={
            "row_key": "row_id",
            "write_delete_mode": "merge-on-read",
        },
    )
    return _mor_dml_and_agg(tbl)


def _mor_dml_and_agg(tbl):
    """Shared DML sequence + aggregate for the three mode-equivalence
    twins (CoW / equality-MoR / positional-MoR)."""
    tbl.delete(F.col("l_returnflag") == "R")
    tbl.update(
        F.col("l_linestatus") == "O",
        {"l_quantity": F.col("l_quantity") + 5.0},
    )
    return (
        tbl.read()
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
    )


@register(
    "lake_mor_positional_delete",
    oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity + 5.0
                      ELSE l_quantity END), 2) AS total_qty
FROM lineitem
WHERE l_orderkey <= 2000 AND l_returnflag <> 'R'
GROUP BY l_returnflag, l_linestatus
""",
    tags=("lakehouse", "dml", "merge-on-read-positional"),
)
def lake_mor_positional_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DML via POSITION deletes (Iceberg v2's second
    delete type): matched rows are recorded as (file name, row index)
    — no row_key identifier columns needed, no data-file rewrite. Same
    end state as the CoW (lake_delete_update) and equality-MoR
    (lake_mor_delete_update) twins: three-way mode equivalence."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 2000)
    cat = _scratch_catalog(spark, sf_dir, "mor_pos_delete")
    tbl = cat.create_table_as(
        "db", "li_pos", li,
        properties={"write_delete_mode": "merge-on-read-positional"},
    )
    return _mor_dml_and_agg(tbl)


@register(
    "lake_tag_rollback",
    oracle="""
SELECT 'tagged' AS state, count(*) AS n FROM orders WHERE o_orderkey <= 600
UNION ALL
SELECT 'rolled_back' AS state, count(*) AS n FROM orders WHERE o_orderkey <= 600
""",
    tags=("lakehouse", "refs", "rollback"),
)
def lake_tag_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named snapshot refs + rollback (Iceberg tags /
    rollback_to_snapshot): tag a snapshot, mutate the table, read the
    tag by name, then roll back to it as a new auditable commit."""
    orders = t(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "tag_rollback")
    tbl = cat.create_table_as(
        "db", "tr", orders.filter(F.col("o_orderkey") <= 600)
    )
    tbl.tag("audited")
    tbl.delete(F.col("o_orderkey") < 300)
    tagged = tbl.read("audited").agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("tagged").alias("state"), "n"
    )
    tbl.rollback_to("audited")
    rolled = tbl.read().agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("rolled_back").alias("state"), "n"
    )
    return tagged.unionByName(rolled)


@register(
    "lake_avro_roundtrip",
    oracle="""
SELECT o_orderkey AS k,
       round(CASE WHEN o_orderkey <= 200 THEN o_totalprice + 50.0
                  ELSE o_totalprice END, 2) AS price,
       o_orderstatus AS status
FROM orders
WHERE o_orderkey <= 800 AND o_orderkey % 7 != 0
""",
    tags=("lakehouse", "avro", "dml"),
)
def lake_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro as a lake-table file_format (ref table_ops.c:78-87
    whitelists parquet/orc/avro): append + CoW delete + update all over
    OCF data files via the pure-Python codec seam; the oracle replays
    the same end state in SQL over the parquet corpus."""
    orders = t(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "avro_rt")
    tbl = cat.create_table_as(
        "db",
        "orders_avro",
        orders.filter(F.col("o_orderkey") <= 800),
        properties={"file_format": "avro"},
    )
    tbl.delete(F.col("o_orderkey") % 7 == 0)
    tbl.update(
        F.col("o_orderkey") <= 200,
        {"o_totalprice": F.col("o_totalprice") + 50.0},
    )
    return tbl.read().select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice"), 2).alias("price"),
        F.col("o_orderstatus").alias("status"),
    )


@register(
    "lake_branch_wap",
    oracle="""
SELECT o_orderkey AS k,
       round(o_totalprice, 2) AS price,
       o_orderstatus AS status
FROM orders
WHERE o_orderkey <= 1200 AND o_orderkey % 7 != 0
""",
    tags=("lakehouse", "branch"),
)
def lake_branch_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish over a branch: stage an append plus an
    audit-fix delete on an isolated branch ref, verify main never moved
    mid-flight, then fast-forward main to the audited head (Iceberg
    branch/fast_forward analog; the reference's catalog pointer swap,
    pg_catalog.cpp:315-325, generalized to one pointer per ref)."""
    orders = t(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "branch_wap")
    tbl = cat.create_table_as(
        "db", "orders_b", orders.filter(F.col("o_orderkey") <= 800)
    )
    main_rows_before = tbl.read().count()
    tbl.create_branch("wap")
    wap = tbl.for_branch("wap")
    wap.append(
        orders.filter(
            (F.col("o_orderkey") > 800) & (F.col("o_orderkey") <= 1200)
        )
    )
    # the "audit" stage: a data-quality fix applied to the staged state
    wap.delete(F.col("o_orderkey") % 7 == 0)
    assert tbl.read().count() == main_rows_before, "main moved during WAP"
    tbl.fast_forward("wap")
    return tbl.read().select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice"), 2).alias("price"),
        F.col("o_orderstatus").alias("status"),
    )


@register(
    "lake_txn_multi_table",
    oracle="""
SELECT 'a' AS src, o_orderkey AS k, round(o_totalprice, 2) AS price
FROM orders
WHERE (o_orderkey <= 500
       OR (o_orderkey > 1000 AND o_orderkey <= 1300))
  AND o_orderkey % 9 != 0
UNION ALL
SELECT 'b' AS src, o_orderkey AS k, round(o_totalprice, 2) AS price
FROM orders
WHERE (o_orderkey > 500 AND o_orderkey <= 1000)
   OR (o_orderkey > 1300 AND o_orderkey <= 1600)
""",
    tags=("lakehouse", "transaction"),
)
def lake_txn_multi_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table atomic transaction (ref commit_ops.c:186-212: one PG
    txn commits every table's write state): appends to two tables plus
    a row-level DELETE — all staged invisibly (DML applies eagerly on
    a hidden txn branch), then published together; the oracle replays
    both tables' end states."""
    from pg_lakehouse_spark.lakehouse import LakeTransaction

    orders = t(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "txn_multi")
    ta = cat.create_table_as(
        "db", "a", orders.filter(F.col("o_orderkey") <= 500)
    )
    tb = cat.create_table_as(
        "db", "b",
        orders.filter((F.col("o_orderkey") > 500) & (F.col("o_orderkey") <= 1000)),
    )
    rows_a, rows_b = ta.read().count(), tb.read().count()
    with LakeTransaction() as tx:
        tx.append(
            ta,
            orders.filter(
                (F.col("o_orderkey") > 1000) & (F.col("o_orderkey") <= 1300)
            ),
        )
        tx.delete(ta, F.col("o_orderkey") % 9 == 0)
        tx.append(
            tb,
            orders.filter(
                (F.col("o_orderkey") > 1300) & (F.col("o_orderkey") <= 1600)
            ),
        )
        # staged but not visible: both tables must still read pre-txn
        assert ta.read().count() == rows_a and tb.read().count() == rows_b
    a = ta.read().select(
        F.lit("a").alias("src"),
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice"), 2).alias("price"),
    )
    b = tb.read().select(
        F.lit("b").alias("src"),
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice"), 2).alias("price"),
    )
    return a.unionByName(b)


@register(
    "lake_bloom_pointlookup",
    oracle="""
SELECT o_orderkey AS k,
       round(o_totalprice, 2) AS price,
       o_orderstatus AS status
FROM orders
WHERE o_orderkey IN (7, 33, 129, 262, 389)
""",
    tags=("lakehouse", "bloom", "pruning"),
)
def lake_bloom_pointlookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file bloom-filter file skipping: the table's key values
    interleave across files (range stats cannot prune), so equality
    lookups skip files via the manifest blooms; results stay exact
    (the predicate is re-applied row-level). Extends ref A22's stubbed
    stats surface (iceberg_am.c:401-413) the way Parquet/Iceberg bloom
    filters extend manifest min/max."""
    orders = t(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "bloom_pl")
    tbl = cat.create_table(
        "db", "orders_bloom", orders.schema,
        properties={"bloom_filter_columns": "o_orderkey"},
    )
    base = orders.filter(F.col("o_orderkey") <= 2000)
    tbl.append(base.filter(F.col("o_orderkey") % 2 == 0).repartition(1))
    tbl.append(base.filter(F.col("o_orderkey") % 2 == 1).repartition(1))
    out = None
    for k in (7, 33, 129, 262, 389):
        part = tbl.read_pruned({"o_orderkey": (k, k)})
        out = part if out is None else out.unionByName(part)
    return out.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice"), 2).alias("price"),
        F.col("o_orderstatus").alias("status"),
    )


@register(
    "lake_sql_views",
    oracle="""
SELECT region, n_orders, avg_price FROM (
  SELECT 'hi' AS region, CAST(count(*) AS BIGINT) AS n_orders,
         floor(avg(o_totalprice) * 100) / 100 AS avg_price
  FROM orders WHERE o_totalprice > 150000 AND o_orderkey <= 1200
) x
""",
    tags=("lakehouse", "sql-frontend", "views"),
)
def lake_sql_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PG view parity through the SQL frontend: CREATE VIEW stores a
    SELECT expanded at query time; a view over the view composes, and
    later DML on the base table is visible through both (a view is a
    macro, never a copy). The oracle states the final SELECT directly
    over the fixture."""
    from pg_lakehouse_spark.sql import LakeSQL

    views(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "sql_views")
    q = LakeSQL(spark, cat)
    q.sql("CREATE TABLE db.ordv (k BIGINT, price DOUBLE)")
    q.sql(
        "INSERT INTO db.ordv SELECT o_orderkey, o_totalprice "
        "FROM orders WHERE o_orderkey <= 1500"
    )
    q.sql(
        "CREATE VIEW db.pricey AS "
        "SELECT k, price FROM db.ordv WHERE price > 150000"
    )
    q.sql(
        "CREATE VIEW db.pricey_summary AS "
        "SELECT 'hi' AS region, CAST(count(*) AS BIGINT) AS n_orders, "
        "floor(avg(price) * 100) / 100 AS avg_price FROM db.pricey"
    )
    # DML after CREATE VIEW must be visible through the view chain
    q.sql("DELETE FROM db.ordv WHERE k > 1200")
    return q.sql(
        "SELECT region, n_orders, avg_price FROM db.pricey_summary"
    )


@register(
    "rollup_approx_topk",
    oracle="""
WITH counted AS (
  SELECT date_trunc('day', ts) AS d, event_type, count(*) AS c
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT d, event_type, c,
         row_number() OVER (PARTITION BY d ORDER BY c DESC, event_type)
           AS rn
  FROM counted
)
SELECT epoch_us(d) AS bucket_us, event_type AS item, CAST(c AS BIGINT) AS cnt
FROM ranked WHERE rn <= 3
""",
    tags=("rollup", "approx-topk"),
)
def rollup_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable heavy-hitters rollup metric: per-day top event types
    accumulate as map<item,count> candidate summaries across two
    incremental refreshes. Capacity (4×k=12) exceeds the type
    cardinality (5), so the candidate summary is EXACT and the oracle
    is the plain per-day top-3 — the merge path itself is what's
    under test."""
    from pg_lakehouse_spark.rollup import (
        create_rollup,
        read_rollup,
        refresh_rollup,
    )

    ev = t(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    cat = _scratch_catalog(spark, sf_dir, "rollup_topk")
    src = cat.create_table_as(
        "db", "ev_src", ev.filter(F.col("event_id") % 2 == 0)
    )
    roll = create_rollup(
        cat, "db", "ev_topk", src,
        time_col="ts", bucket="1 day", group_by=[],
        metrics={"top_types": ("approx_topk", "event_type", 3)},
    )
    src.append(ev.filter(F.col("event_id") % 2 == 1))
    refresh_rollup(src, roll)
    out = read_rollup(roll).select(
        epoch_us(F.col("bucket_start")).alias("bucket_us"),
        F.explode("top_types").alias("e"),
    )
    return out.select(
        "bucket_us",
        F.col("e.item").alias("item"),
        F.col("e.cnt").alias("cnt"),
    )


@register(
    "lake_dynamic_overwrite",
    oracle="""
SELECT o_orderkey AS k, o_orderstatus AS st,
       round(o_totalprice, 2) AS price
FROM orders
WHERE o_orderkey <= 800 AND o_orderstatus <> 'F'
UNION ALL
SELECT o_orderkey + 1000000 AS k, o_orderstatus AS st,
       floor(o_totalprice / 2 * 100) / 100 AS price
FROM orders
WHERE o_orderkey <= 200 AND o_orderstatus = 'F'
""",
    tags=("lakehouse", "dynamic-overwrite"),
)
def lake_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite: a frame touching ONLY the 'F'
    partition replaces it; other partitions carry by reference. The
    oracle states the spliced end state."""
    orders = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.round(F.col("o_totalprice"), 2).alias("price"),
    )
    cat = _scratch_catalog(spark, sf_dir, "dyn_overwrite")
    tbl = cat.create_table(
        "db", "ord_part", orders.schema, partition_by=["st"]
    )
    tbl.append(orders.filter(F.col("k") <= 800))
    repl = (
        t(spark, sf_dir, "orders")
        .filter((F.col("o_orderkey") <= 200) & (F.col("o_orderstatus") == "F"))
        .select(
            (F.col("o_orderkey") + 1000000).alias("k"),
            F.col("o_orderstatus").alias("st"),
            (F.floor(F.col("o_totalprice") / 2 * 100) / 100).alias("price"),
        )
    )
    tbl.overwrite_partitions(repl)
    return tbl.read()


@register(
    "lake_merge_insert_values",
    oracle="""
SELECT o_orderkey AS k,
       CASE WHEN o_orderkey <= 400 THEN round(o_totalprice, 2)
            ELSE round(o_totalprice + 50, 2) END AS price,
       CASE WHEN o_orderkey <= 400 THEN 'base' ELSE 'merged' END AS src
FROM orders
WHERE o_orderkey <= 400
   OR (o_orderkey > 400 AND o_orderkey <= 700 AND o_orderkey % 2 = 0)
""",
    tags=("lakehouse", "merge-insert-grammar"),
)
def lake_merge_insert_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional column-list MERGE insert: unmatched source rows
    pass a gate (even keys only) and insert via VALUES expressions;
    the unlisted column falls to its declared DEFAULT."""
    orders = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice"), 2).alias("price"),
    )
    cat = _scratch_catalog(spark, sf_dir, "merge_ins_vals")
    tbl = cat.create_table(
        "db", "miv", orders.withColumn("src", F.lit("base")).schema
    )
    tbl.set_column_default("src", "'base'")
    tbl.append(
        orders.filter(F.col("k") <= 400).withColumn("src", F.lit("base"))
    )
    source = orders.filter((F.col("k") > 400) & (F.col("k") <= 700))
    tbl.merge(
        source,
        on=["k"],
        when_matched_update=None,
        when_not_matched_insert=True,
        when_not_matched_condition=F.col("__src.k") % 2 == 0,
        when_not_matched_values={
            "k": F.col("__src.k"),
            "price": F.round(F.col("__src.price") + 50, 2),
            "src": F.lit("merged"),
        },
    )
    return tbl.read()


@register(
    "rollup_topk_retraction",
    oracle="""
WITH kept AS (
  SELECT * FROM events WHERE event_id % 4 <> 0
), counted AS (
  SELECT date_trunc('day', ts) AS d, event_type, count(*) AS c
  FROM kept GROUP BY 1, 2
), ranked AS (
  SELECT d, event_type, c,
         row_number() OVER (PARTITION BY d ORDER BY c DESC, event_type)
           AS rn
  FROM counted
)
SELECT epoch_us(d) AS bucket_us, event_type AS item, CAST(c AS BIGINT) AS cnt
FROM ranked WHERE rn <= 3
""",
    tags=("rollup", "approx-topk", "retraction"),
)
def rollup_topk_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted approx_topk retraction IVM (r3 verdict item 7): a
    DELETE window refreshes the heavy-hitter rollup through SIGNED
    candidate-map deltas — change-feed rows weighted ±1, cost ∝
    changed rows, no recompute. The 4th metric element is the error
    budget; capacity (4×k=12) exceeds the event-type cardinality so
    every retraction hits the map exactly and the oracle is the plain
    per-day top-3 over surviving rows."""
    from pg_lakehouse_spark.rollup import (
        create_rollup,
        read_rollup,
        refresh_rollup,
    )

    ev = t(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    cat = _scratch_catalog(spark, sf_dir, "rollup_topk_retr")
    src = cat.create_table_as(
        "db", "ev_src", ev, properties={"change_data_feed": "on"}
    )
    roll = create_rollup(
        cat, "db", "ev_topk_r", src,
        time_col="ts", bucket="1 day", group_by=[],
        metrics={
            "n": ("count", "*"),
            "top_types": ("approx_topk", "event_type", 3, 0.5),
        },
    )
    src.delete(F.col("event_id") % 4 == 0)
    refresh_rollup(src, roll)
    out = read_rollup(roll).select(
        epoch_us(F.col("bucket_start")).alias("bucket_us"),
        F.explode("top_types").alias("e"),
    )
    return out.select(
        "bucket_us",
        F.col("e.item").alias("item"),
        F.col("e.cnt").alias("cnt"),
    )


@register(
    "lake_delete_by_keys",
    oracle="""
SELECT o_orderkey AS k, round(o_totalprice, 2) AS price
FROM orders
WHERE o_orderkey <= 900
  AND NOT (o_orderkey % 7 = 0 AND o_custkey % 3 = 0)
""",
    tags=("lakehouse", "mor-delete", "cdc-apply"),
)
def lake_delete_by_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-apply tombstones: a KEY FRAME lands directly as a
    merge-on-read equality-delete file (``delete_by_keys`` — O(keys),
    NO target scan or join; ``delete(condition)`` must scan to find
    matches). The read path anti-joins the delete file; keys matching
    no live row (the shifted ones here) are harmless — Iceberg
    equality-delete semantics."""
    orders = t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") <= 900).select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice"), 2).alias("price"),
    )
    cat = _scratch_catalog(spark, sf_dir, "del_by_keys")
    tbl = cat.create_table_as(
        "db", "obk", base,
        properties={"row_key": "k", "write_delete_mode": "merge-on-read"},
    )
    doomed = orders.filter(
        (F.col("o_orderkey") % 7 == 0) & (F.col("o_custkey") % 3 == 0)
    ).select(F.col("o_orderkey").alias("k"))
    ghosts = spark.range(2_000_000, 2_000_050).select(F.col("id").alias("k"))
    tbl.delete_by_keys(doomed.unionByName(ghosts))
    return tbl.read()


@register(
    "lake_manifest_segments",
    oracle="""
SELECT o_orderkey AS k,
       round(CASE WHEN o_orderkey <= 300 THEN o_totalprice * 2
                  ELSE o_totalprice END, 2) AS price,
       o_orderstatus AS status
FROM orders
WHERE o_orderkey <= 1800 AND o_orderkey % 5 != 0
  AND o_orderkey BETWEEN 200 AND 1500
ORDER BY k
""",
    tags=("lakehouse", "manifests", "scale"),
)
def lake_manifest_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmented-manifest lifecycle end-to-end (r6 scale-hardening:
    commits O(delta), segment-level bounds pruning): a table forced to
    segment (`manifest.inline_max=0`) takes three disjoint-range
    appends (three segments), a CoW delete and an update (breaking
    only the touched segments), then answers a range query through
    `read_pruned` — which skips non-overlapping SEGMENTS before even
    parsing their entries. The oracle replays the same end state in
    SQL over the raw corpus."""
    orders = t(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "manifest_segments")
    tbl = cat.create_table(
        "db",
        "orders_seg",
        orders.schema,
        properties={"manifest.inline_max": "0"},
    )
    for lo, hi in ((0, 600), (600, 1200), (1200, 1800)):
        tbl.append(
            orders.filter(
                (F.col("o_orderkey") > lo) & (F.col("o_orderkey") <= hi)
            )
        )
    assert len(tbl.snapshot().manifests) >= 3  # actually segmented
    tbl.delete(F.col("o_orderkey") % 5 == 0)
    tbl.update(
        F.col("o_orderkey") <= 300,
        {"o_totalprice": F.col("o_totalprice") * 2},
    )
    return (
        tbl.read_pruned({"o_orderkey": (200, 1500)})
        .select(
            F.col("o_orderkey").alias("k"),
            F.round(F.col("o_totalprice"), 2).alias("price"),
            F.col("o_orderstatus").alias("status"),
        )
        .orderBy("k")
    )


@register(
    "rollup_realtime_read",
    oracle="""
SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS value_sum_e2,
       min(value) AS value_min, max(value) AS value_max
FROM events
GROUP BY 1, 2
""",
    tags=("rollup", "realtime", "lakehouse"),
)
def rollup_realtime_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-time continuous aggregate (r6): the rollup materializes a
    THIRD of the corpus, the remaining two thirds land on the source
    AFTER the watermark, and `read_rollup_realtime` answers with state
    merged against the fresh delta at read time — no refresh, no
    commit. The oracle is the direct GROUP BY over the whole corpus:
    the read-time merge must equal full recompute exactly (cent-grid
    integer sums)."""
    from pg_lakehouse_spark.rollup import (
        create_rollup,
        read_rollup_realtime,
    )

    ev = (
        t(spark, sf_dir, "events")
        .select("event_id", "ts", "event_type", "value")
        .withColumn("value_e2", F.round(F.col("value") * 100).cast("long"))
    )
    cat = _scratch_catalog(spark, sf_dir, "rollup_rt")
    src = cat.create_table_as(
        "db", "events_src", ev.filter(F.col("event_id") % 3 == 0)
    )
    roll = create_rollup(
        cat, "db", "events_hourly", src,
        time_col="ts", bucket="1 hour", group_by=["event_type"],
        metrics={
            "n_events": ("count", "*"),
            "value_sum_e2": ("sum", "value_e2"),
            "value_min": ("min", "value"),
            "value_max": ("max", "value"),
        },
    )
    src.append(ev.filter(F.col("event_id") % 3 != 0))
    return read_rollup_realtime(src, roll).select(
        epoch_us(F.col("bucket_start")).alias("bucket_us"),
        "event_type",
        "n_events",
        "value_sum_e2",
        "value_min",
        "value_max",
    )


@register(
    "lake_sql_pg_surface_r6",
    oracle="""
WITH seed AS (
  SELECT o_orderkey AS id, o_orderpriority AS owner,
         CAST(o_totalprice AS DECIMAL(12,2)) AS bal
  FROM orders WHERE o_orderkey <= 1200
), s2 AS (
  SELECT id, owner,
         CASE WHEN id % 10 = 0 THEN bal + 100 ELSE bal END AS bal
  FROM seed
), s3 AS (
  SELECT id, owner, bal,
         CAST(CASE WHEN bal > 200000 THEN 1 ELSE 0 END AS BIGINT) AS upd
  FROM s2
)
SELECT DISTINCT ON (owner) owner, id,
       CAST(round(bal, 2) AS DOUBLE) AS balance, upd
FROM s3
ORDER BY owner, bal DESC, id
""",
    tags=("lakehouse", "sql", "pg-surface"),
)
def lake_sql_pg_surface_r6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-6 PG SQL surface in one flow: CREATE TABLE with PG
    type names (TEXT/NUMERIC), a transaction whose SAVEPOINT absorbs a
    destructive statement (ROLLBACK TO undoes `SET bal = 0`), a
    WITH-CTE driving an UPDATE ... FROM, and a DISTINCT ON final
    select (top account per owner). The oracle replays the surviving
    net effect in DuckDB — which speaks PG natively."""
    from pg_lakehouse_spark.sql import LakeSQL

    views(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "sql_pg_r6")
    q = LakeSQL(spark, cat)
    q.sql(
        "CREATE TABLE db.accounts (id BIGINT PRIMARY KEY, owner TEXT, "
        "bal NUMERIC(12,2), upd BIGINT DEFAULT 0)"
    )
    q.sql(
        "INSERT INTO db.accounts (id, owner, bal) "
        "SELECT o_orderkey, o_orderpriority, o_totalprice "
        "FROM orders WHERE o_orderkey <= 1200"
    )
    q.sql("BEGIN")
    q.sql("UPDATE db.accounts SET bal = bal + 100 WHERE id % 10 = 0")
    q.sql("SAVEPOINT s1")
    q.sql("UPDATE db.accounts SET bal = 0 WHERE id >= 0")
    q.sql("ROLLBACK TO SAVEPOINT s1")
    q.sql("COMMIT")
    q.sql(
        "WITH hot AS (SELECT id FROM db.accounts WHERE bal > 200000) "
        "UPDATE db.accounts t SET upd = 1 FROM hot h WHERE t.id = h.id"
    )
    return q.sql(
        "SELECT DISTINCT ON (owner) owner, id, "
        "CAST(round(bal, 2) AS DOUBLE) AS balance, upd "
        "FROM db.accounts ORDER BY owner, bal DESC, id"
    )


# ---------------------------------------------------------------------------
# r7: PG dialect-layer surface — NULL ordering, RETURNING without the
# change feed, alias-less join-DML, PG literal spellings, and
# segment-level bloom pruning. Each oracle replays the same semantics
# with EXPLICIT spellings DuckDB and PG agree on.
# ---------------------------------------------------------------------------


@register(
    "lake_null_ordering_topk",
    oracle="""
SELECT k, p FROM (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 13 = 0 THEN NULL
              ELSE o_orderpriority END AS p
  FROM orders WHERE o_orderkey <= 2000
) base
ORDER BY p NULLS LAST, k DESC NULLS FIRST
LIMIT 37
""",
    tags=("sql-frontend", "order-by", "pg-null-ordering"),
)
def lake_null_ordering_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PG default NULL placement under LIMIT (the r6 silent-wrong
    class): the frontend statement leaves every sort key UNQUALIFIED —
    the dialect pass must inject PG's NULLS LAST on the bare ASC key
    and NULLS FIRST on the DESC key, or the top-k SET (not just its
    order) is wrong. The oracle spells the qualifiers out because
    DuckDB's own defaults are nulls-last in both directions."""
    from pg_lakehouse_spark.sql import LakeSQL

    views(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "null_ordering")
    q = LakeSQL(spark, cat)
    q.sql("CREATE TABLE db.np (k BIGINT, p TEXT)")
    q.sql(
        "INSERT INTO db.np SELECT o_orderkey, "
        "CASE WHEN o_orderkey % 13 = 0 THEN NULL "
        "ELSE o_orderpriority END "
        "FROM orders WHERE o_orderkey <= 2000"
    )
    return q.sql("SELECT k, p FROM db.np ORDER BY p, k DESC LIMIT 37")


@register(
    "lake_dml_returning",
    oracle="""
WITH base AS (
  SELECT o_orderkey AS k, o_totalprice AS price
  FROM orders WHERE o_orderkey <= 1000
)
SELECT k, round(price + 100.0, 2) AS price, 'updated' AS verb
FROM base WHERE k % 7 = 0
UNION ALL
SELECT k, round(price, 2) AS price, 'deleted' AS verb
FROM base WHERE k % 11 = 0 AND k % 7 != 0
""",
    tags=("sql-frontend", "dml", "returning"),
)
def lake_dml_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE/DELETE ... RETURNING on a DEFAULT table — no
    change_data_feed property (r6 verdict: PG's RETURNING always
    works): postimages come back from the UPDATE, removed rows from
    the DELETE, synthesized against the pre-commit snapshot."""
    from pg_lakehouse_spark.sql import LakeSQL

    views(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "dml_returning")
    q = LakeSQL(spark, cat)
    q.sql("CREATE TABLE db.ret (k BIGINT, price DOUBLE)")
    q.sql(
        "INSERT INTO db.ret SELECT o_orderkey, o_totalprice "
        "FROM orders WHERE o_orderkey <= 1000"
    )
    upd = q.sql(
        "UPDATE db.ret SET price = price + 100.0 WHERE k % 7 = 0 "
        "RETURNING k, price"
    )
    dele = q.sql(
        "DELETE FROM db.ret WHERE k % 11 = 0 AND k % 7 != 0 "
        "RETURNING k, price"
    )
    tag = lambda df, v: df.select(  # noqa: E731
        "k", F.round("price", 2).alias("price"), F.lit(v).alias("verb")
    )
    return tag(upd, "updated").unionByName(tag(dele, "deleted"))


@register(
    "lake_join_dml_aliasless",
    oracle="""
SELECT o_orderkey AS k,
       round(CASE WHEN o_orderkey <= 400 AND o_orderkey % 2 = 0
                  THEN o_totalprice * 2 ELSE o_totalprice END, 2) AS price
FROM orders
WHERE o_orderkey <= 1500
  AND NOT (o_orderkey <= 400 AND o_orderkey % 2 = 1)
""",
    tags=("sql-frontend", "dml", "join-dml"),
)
def lake_join_dml_aliasless(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PG's most common join-DML spelling — no aliases, the bare
    table name as the correlation (r6 verdict: previously 'cannot
    parse'): UPDATE ... FROM doubles matched even keys, DELETE ...
    USING removes matched odd keys."""
    from pg_lakehouse_spark.sql import LakeSQL

    views(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "join_dml_aliasless")
    q = LakeSQL(spark, cat)
    q.sql("CREATE TABLE db.jt (k BIGINT, price DOUBLE)")
    q.sql(
        "INSERT INTO db.jt SELECT o_orderkey, o_totalprice "
        "FROM orders WHERE o_orderkey <= 1500"
    )
    q.sql("CREATE TABLE db.ju (k BIGINT, factor DOUBLE)")
    q.sql(
        "INSERT INTO db.ju SELECT o_orderkey, 2.0 "
        "FROM orders WHERE o_orderkey <= 400"
    )
    q.sql(
        "UPDATE db.jt SET price = jt.price * ju.factor "
        "FROM db.ju WHERE jt.k = ju.k AND ju.k % 2 = 0"
    )
    q.sql("DELETE FROM db.jt USING db.ju WHERE jt.k = ju.k AND ju.k % 2 = 1")
    return q.sql("SELECT k, round(price, 2) AS price FROM db.jt")


@register(
    "lake_pg_literal_kit",
    oracle="""
SELECT o_orderkey AS k,
       o_orderstatus || chr(9) || 'it''s "q"' AS status,
       tag
FROM orders,
     (SELECT 'lo' AS tag UNION ALL SELECT 'hi') tags
WHERE o_orderkey <= 100
""",
    tags=("sql-frontend", "pg-literals"),
)
def lake_pg_literal_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PG literal spellings end-to-end through the lake (r6 verdict
    gaps, all previously ParseException): a dollar-quoted string and
    an E'..' escape string written INTO a table, then an array[..]
    constructor unnested on the way out. The oracle uses only
    spellings both engines share (chr(9), doubled quotes)."""
    from pg_lakehouse_spark.sql import LakeSQL

    views(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "pg_literal_kit")
    q = LakeSQL(spark, cat)
    q.sql("CREATE TABLE db.lit (k BIGINT, status TEXT)")
    q.sql(
        "INSERT INTO db.lit SELECT o_orderkey, "
        "o_orderstatus || E'\\t' || $$it's \"q\"$$ "
        "FROM orders WHERE o_orderkey <= 100"
    )
    return q.sql(
        "SELECT k, status, unnest(array['lo','hi']) AS tag FROM db.lit"
    )


@register(
    "lake_segment_bloom_prune",
    oracle="""
SELECT o_orderkey AS k, round(o_totalprice, 2) AS price
FROM orders
WHERE o_orderkey <= 3000 AND o_orderkey % 997 = 0
""",
    tags=("lakehouse", "manifests", "bloom", "scale"),
)
def lake_segment_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookups on an INTERLEAVED key over a segmented table
    (r7): keys are striped modulo-3 across three manifest segments, so
    every segment's min/max bounds span the whole range and bounds
    pruning keeps them all — the descriptor-level bloom UNION is the
    only thing that can skip segments. The function asserts the probe
    actually pruned (file count strictly below the table's total)
    before returning the matched rows, so the driver artifact carries
    the scale property, not just the values."""
    orders = t(spark, sf_dir, "orders")
    # the three striped appends + the probe-key collect are four
    # evaluations of this one projected slice; persist → one scan
    # (r13, guide §5 — same move as rollup_incremental's feed)
    base = orders.filter(F.col("o_orderkey") <= 3000).select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice"), 2).alias("price"),
    )
    cat = _scratch_catalog(spark, sf_dir, "segment_bloom")
    tbl = cat.create_table(
        "db", "sb", base.schema,
        properties={
            "manifest.inline_max": "0",
            "bloom_filter_columns": "k",
        },
    )
    # persist immediately before the try so an exception anywhere the
    # cache is live still unpersists it (r13 ADVICE #2)
    base = base.persist()
    try:
        for i in range(3):
            tbl.append(base.filter(F.col("k") % 3 == i).coalesce(1))
        probes = [r.k for r in base.filter(F.col("k") % 997 == 0).collect()]
    finally:
        base.unpersist()
    total = sum(m["file_count"] for m in tbl.snapshot().manifests)
    out = None
    for v in probes:
        _s, sel = tbl.pruned_entries({"k": (int(v), int(v))})
        assert 0 < len(sel) < total, (
            f"segment bloom must prune: {len(sel)} of {total} files"
        )
        df = tbl.read_pruned({"k": (int(v), int(v))})
        out = df if out is None else out.unionByName(df)
    return out


@register(
    "lake_implicit_correlation",
    oracle="""
WITH co AS (
    SELECT o_orderkey AS k, o_custkey AS cust, o_totalprice AS price
    FROM orders WHERE o_orderkey <= 2000
), cc AS (
    SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderkey <= 500
)
SELECT co.k AS k,
       round(co.price, 2) AS price,
       (SELECT max(cc.k) FROM cc) AS max_cust
FROM co
WHERE EXISTS (SELECT 1 FROM cc WHERE cc.k = co.cust)
  AND co.k % 3 = 0
""",
    tags=("sql-frontend", "pg-correlation"),
)
def lake_implicit_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r7 verdict headline: PG's implicit correlation name — an
    un-aliased ``FROM db.t`` is addressable by its bare name
    (``co.k``), including inside bare-name correlated subqueries
    (EXISTS, scalar), and unquoted identifiers fold to lowercase
    (``DB.Co`` resolves db.co). Every spelling here previously died
    with UNRESOLVED_COLUMN / TABLE_OR_VIEW_NOT_FOUND."""
    from pg_lakehouse_spark.sql import LakeSQL

    views(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "implicit_corr")
    q = LakeSQL(spark, cat)
    q.sql("CREATE TABLE db.co (k BIGINT, cust BIGINT, price DOUBLE)")
    q.sql(
        "INSERT INTO db.co SELECT o_orderkey, o_custkey, o_totalprice "
        "FROM orders WHERE o_orderkey <= 2000"
    )
    q.sql("CREATE TABLE db.cc (k BIGINT)")
    q.sql(
        "INSERT INTO db.cc SELECT DISTINCT o_custkey "
        "FROM orders WHERE o_orderkey <= 500"
    )
    return q.sql(
        "SELECT co.k AS k, round(co.price, 2) AS price, "
        "       (SELECT max(cc.k) FROM DB.cc) AS max_cust "
        "FROM DB.Co "
        "WHERE EXISTS (SELECT 1 FROM db.cc WHERE cc.k = co.cust) "
        "  AND co.k % 3 = 0"
    )


@register(
    "lake_fetch_with_ties",
    oracle="""
SELECT k, d FROM (
    SELECT o_orderkey AS k,
           cast(cast(o_orderdate AS date) AS varchar) AS d,
           rank() OVER (ORDER BY cast(o_orderdate AS date)) AS r
    FROM orders
) WHERE r <= 25
""",
    tags=("sql-frontend", "fetch-with-ties"),
)
def lake_fetch_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r7 verdict #7: ``FETCH FIRST n ROWS WITH TIES`` — the LIMIT
    that extends over rows tying with the n-th sort key (PG 13+,
    previously a loud ParseException). o_orderdate is tie-heavy, so
    the result is strictly larger than LIMIT 25; the sort key is
    deliberately NOT in the select list (PG resolves ORDER BY
    against the FROM relation)."""
    from pg_lakehouse_spark.sql import LakeSQL

    views(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "fetch_ties")
    q = LakeSQL(spark, cat)
    q.sql("CREATE TABLE db.ft (k BIGINT, od DATE)")
    q.sql("INSERT INTO db.ft SELECT o_orderkey, o_orderdate FROM orders")
    return q.sql(
        "SELECT ft.k AS k, cast(ft.od AS string) AS d FROM db.ft "
        "ORDER BY ft.od FETCH FIRST 25 ROWS WITH TIES"
    )


@register(
    "lake_subquery_dml",
    oracle="""
WITH base AS (
    SELECT o_orderkey AS k, o_totalprice AS price, o_custkey AS cust
    FROM orders WHERE o_orderkey <= 800
), vip AS (
    SELECT DISTINCT o_custkey AS cust
    FROM orders WHERE o_totalprice > 250000
)
SELECT k,
       round(CASE WHEN cust IN (SELECT cust FROM vip)
                  THEN price * 2 ELSE price END, 2) AS price
FROM base
WHERE NOT (k % 5 = 0
           AND EXISTS (SELECT 1 FROM vip WHERE vip.cust = base.cust))
""",
    tags=("sql-frontend", "subquery-dml"),
)
def lake_subquery_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r8: plain UPDATE/DELETE with correlated subqueries in WHERE —
    everyday PG (``WHERE EXISTS (SELECT 1 FROM db.v WHERE v.c =
    t.c)``), previously TABLE_OR_VIEW_NOT_FOUND. Each runs as ordinary
    Column DML: the WHERE, subquery included, is one condition over
    the target's rows, and only the files holding matches rewrite."""
    from pg_lakehouse_spark.sql import LakeSQL

    views(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "subquery_dml")
    q = LakeSQL(spark, cat)
    q.sql("CREATE TABLE db.sq (k BIGINT, price DOUBLE, cust BIGINT)")
    q.sql(
        "INSERT INTO db.sq SELECT o_orderkey, o_totalprice, o_custkey "
        "FROM orders WHERE o_orderkey <= 800"
    )
    q.sql("CREATE TABLE db.vip (cust BIGINT)")
    q.sql(
        "INSERT INTO db.vip SELECT DISTINCT o_custkey FROM orders "
        "WHERE o_totalprice > 250000"
    )
    q.sql(
        "UPDATE db.sq SET price = sq.price * 2 WHERE EXISTS "
        "(SELECT 1 FROM db.vip WHERE vip.cust = sq.cust)"
    )
    q.sql(
        "DELETE FROM db.sq WHERE sq.k % 5 = 0 AND EXISTS "
        "(SELECT 1 FROM db.vip WHERE vip.cust = sq.cust)"
    )
    return q.sql("SELECT sq.k AS k, round(sq.price, 2) AS price FROM db.sq")


@register(
    "lake_recursive_union_graph",
    oracle="""
WITH RECURSIVE reach AS (
    SELECT o_custkey AS node FROM orders WHERE o_orderkey = 1
    UNION
    SELECT o.o_custkey
    FROM orders o JOIN reach r ON o.o_orderkey % 1000 = r.node
)
SELECT node FROM reach
""",
    tags=("sql-frontend", "recursive-union"),
)
def lake_recursive_union_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r8: WITH RECURSIVE ... UNION (DISTINCT) — PG's cycle-safe
    closure idiom over a cyclic synthetic edge relation (orderkey %
    1000 creates cycles at sf>=0.01), driver-side fixpoint with the
    shrinking-frontier evaluation. Spark's native recursion supports
    UNION ALL only and would loop forever on this data."""
    from pg_lakehouse_spark.sql import LakeSQL

    views(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "recursive_union")
    q = LakeSQL(spark, cat)
    q.sql("CREATE TABLE db.gr (k BIGINT, cust BIGINT)")
    q.sql(
        "INSERT INTO db.gr SELECT o_orderkey, o_custkey FROM orders"
    )
    return q.sql(
        "WITH RECURSIVE reach AS ("
        " SELECT gr.cust AS node FROM db.gr WHERE gr.k = 1"
        " UNION"
        " SELECT g.cust FROM db.gr g JOIN reach r ON g.k % 1000 = r.node"
        ") SELECT node FROM reach"
    )


@register(
    "lake_keyset_pagination",
    oracle="""
SELECT o_custkey AS cust, o_orderkey AS k, round(o_totalprice, 2) AS price
FROM orders
WHERE (o_custkey > 500) OR (o_custkey = 500 AND o_orderkey > 0)
ORDER BY o_custkey, o_orderkey
LIMIT 200
""",
    tags=("sql-frontend", "row-comparison"),
)
def lake_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9: PG row-constructor comparison — THE keyset-pagination
    idiom ``WHERE (a, b) > (x, y) ORDER BY a, b LIMIT n``. The
    frontend expands it to the lexicographic strict/equal chain
    (pure expressions, sort + limit stay Catalyst-planned; the
    oracle states the expansion directly since DuckDB's own row
    comparison diverges from PG on NULL pairs)."""
    from pg_lakehouse_spark.sql import LakeSQL

    views(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "keyset")
    q = LakeSQL(spark, cat)
    q.sql("CREATE TABLE db.page (cust BIGINT, k BIGINT, price DOUBLE)")
    q.sql(
        "INSERT INTO db.page SELECT o_custkey, o_orderkey, o_totalprice "
        "FROM orders"
    )
    return q.sql(
        "SELECT page.cust AS cust, page.k AS k, "
        "round(page.price, 2) AS price FROM db.page "
        "WHERE (page.cust, page.k) > (500, 0) "
        "ORDER BY page.cust, page.k LIMIT 200"
    )


@register(
    "lake_unnest_ordinality",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS parts
  FROM documents WHERE doc_id % 97 = 0
)
SELECT t.doc_id, s.i AS ord, t.parts[s.i] AS tok
FROM toks t, LATERAL (SELECT unnest(generate_series(1, len(t.parts))) AS i) s
WHERE s.i <= 5
ORDER BY t.doc_id, s.i
""",
    tags=("sql-frontend", "unnest-ordinality"),
)
def lake_unnest_ordinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9: ``unnest(...) WITH ORDINALITY`` (posexplode-backed,
    1-based) with the implicit-LATERAL comma correlation — PG's
    ordered-token idiom over the documents corpus. The oracle
    re-derives ordinality via DuckDB's 1-based list indexing."""
    from pg_lakehouse_spark.sql import LakeSQL

    views(spark, sf_dir, "documents")
    cat = _scratch_catalog(spark, sf_dir, "unnest_ord")
    q = LakeSQL(spark, cat)
    q.sql("CREATE TABLE db.docs (doc_id BIGINT, text STRING)")
    q.sql(
        "INSERT INTO db.docs SELECT doc_id, text FROM documents "
        "WHERE doc_id % 97 = 0"
    )
    return q.sql(
        "SELECT d.doc_id AS doc_id, u.o AS ord, u.tok AS tok "
        "FROM db.docs d, "
        "unnest(string_to_array(d.text, ' ')) WITH ORDINALITY "
        "AS u(tok, o) WHERE u.o <= 5 ORDER BY d.doc_id, u.o"
    )


@register(
    "lake_sequence_enum",
    oracle="""
SELECT n_nationkey + 101 AS id, n_name AS name,
       CASE WHEN n_regionkey < 2 THEN 'small' ELSE 'large' END AS size
FROM nation
UNION ALL
SELECT 126 AS id, 'zz' AS name, 'small' AS size
ORDER BY id
""",
    tags=("sql-frontend", "sequence", "enum-type"),
)
def lake_sequence_enum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9: sequences + enum types through the SQL frontend — the
    scale-safe bulk pattern (reserve a block with setval, assign ids
    via row_number — nextval over a row source is refused loudly),
    then a single-row VALUES insert drawing nextval, into an
    enum-typed column whose CHECK enforces the label set."""
    from pg_lakehouse_spark.sql import LakeSQL

    views(spark, sf_dir, "nation")
    cat = _scratch_catalog(spark, sf_dir, "seq_enum")
    q = LakeSQL(spark, cat)
    q.sql("CREATE TYPE tsize9 AS ENUM ('small', 'large')")
    q.sql("CREATE SEQUENCE db.ids START WITH 101")
    q.sql("CREATE TABLE db.nat (id BIGINT, name STRING, size tsize9)")
    # bulk load: reserve ids 101..125 (25 nations), assign by row_number
    q.sql("SELECT setval('db.ids', 125) AS x").collect()
    q.sql(
        "INSERT INTO db.nat "
        "SELECT 100 + row_number() OVER (ORDER BY n_nationkey) AS id, "
        "n_name, CASE WHEN n_regionkey < 2 THEN 'small' ELSE 'large' "
        "END FROM nation"
    )
    # single-row insert draws the next reserved value (126)
    q.sql("INSERT INTO db.nat VALUES (nextval('db.ids'), 'zz', 'small')")
    out = q.sql(
        "SELECT nat.id AS id, nat.name AS name, nat.size AS size "
        "FROM db.nat ORDER BY nat.id"
    )
    q.sql("DROP TYPE tsize9")
    return out


@register(
    "lake_sql_function",
    oracle="""
SELECT o_orderstatus,
       CAST(round(sum(o_totalprice * (1 + 0.07)), 2) AS DOUBLE)
           AS taxed,
       count(*) AS n
FROM orders
WHERE o_orderkey <= 4000
  AND (CASE WHEN o_totalprice > 150000 THEN 'big' ELSE 'small' END)
      = 'big'
GROUP BY o_orderstatus
""",
    tags=("sql-frontend", "sql-function"),
)
def lake_sql_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r10: CREATE FUNCTION ... LANGUAGE SQL (single-expression
    subset) macro-expanded at call sites — PG's planner inlines these
    scalar functions the same way, so the DuckDB oracle runs the
    INLINED equivalent text. Two functions compose (one calls the
    other through a CASE); expansion happens before the dialect
    passes, so PG-isms inside bodies work."""
    from pg_lakehouse_spark.sql import LakeSQL

    views(spark, sf_dir, "orders")
    cat = _scratch_catalog(spark, sf_dir, "sqlfn")
    q = LakeSQL(spark, cat)
    q.sql("DROP FUNCTION IF EXISTS add_tax10")
    q.sql("DROP FUNCTION IF EXISTS bucket10")
    q.sql(
        "CREATE FUNCTION add_tax10(amount double precision) RETURNS "
        "double precision AS $$ SELECT amount * (1 + 0.07) $$ "
        "LANGUAGE SQL IMMUTABLE"
    )
    q.sql(
        "CREATE FUNCTION bucket10(v double precision) RETURNS text "
        "AS $$ SELECT CASE WHEN v > 150000 THEN 'big' ELSE 'small' "
        "END $$ LANGUAGE SQL"
    )
    return q.sql(
        "SELECT o_orderstatus, "
        "CAST(round(sum(add_tax10(o_totalprice)), 2) AS DOUBLE) "
        "AS taxed, count(*) AS n "
        "FROM orders WHERE o_orderkey <= 4000 "
        "AND bucket10(o_totalprice) = 'big' "
        "GROUP BY o_orderstatus"
    )


@register(
    "lake_serial_identity",
    oracle="""
SELECT CAST(row_number() OVER (ORDER BY nm) AS INT) AS id, nm
FROM (VALUES ('a'), ('b'), ('c'), ('d')) v(nm)
ORDER BY id
""",
    tags=("sql-frontend", "lakehouse"),
)
def lake_serial_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11: SERIAL expands per PG — backing sequence
    `<table>_<col>_seq`, nextval() default, NOT NULL — and multi-row
    VALUES inserts reserve one value PER ROW (the oracle's
    row_number over insertion order is exactly the sequence
    assignment). pg_get_serial_sequence is probed in the suite
    (tests/test_sql.py::test_serial_sequence_r11)."""
    from pg_lakehouse_spark.sql import LakeSQL

    cat = _scratch_catalog(spark, sf_dir, "serial_identity")
    q = LakeSQL(spark, cat)
    q.sql("CREATE TABLE db.ser (id SERIAL PRIMARY KEY, nm TEXT)")
    q.sql("INSERT INTO db.ser (nm) VALUES ('a'), ('b'), ('c')")
    q.sql("INSERT INTO db.ser (nm) VALUES ('d')")
    return q.sql("SELECT id, nm FROM db.ser ORDER BY id")
