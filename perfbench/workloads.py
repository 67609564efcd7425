"""The benchmark's two workloads.

Each workload makes its inputs from the seed in ``generate`` and loads
them in ``setup``. ``warm_up()`` gives the untimed operations that
compile every plan shape the run will time once, and ``rounds()``
yields the timed rounds: lists of operations that the runner times one
at a time (closed loop, one client). Reads hand their rows to the
correctness gate; ``reference(key)`` answers it from DuckDB after the
timed phase. Library calls go through module attributes
(``tables.table``, ``rollup.refresh_rollup``, ...) so the traced
run's wrappers see them.
"""

from __future__ import annotations

import itertools
import os

import duckdb
import numpy as np
from pyspark.sql import functions as F

import gen
from gate import rows_hash
from pg_lakehouse_spark import rollup, tables
from pg_lakehouse_spark.lakehouse import LakeCatalog
from pg_lakehouse_spark.sql import LakeSQL
from pg_lakehouse_spark.timeutil import epoch_us
from pg_lakehouse_spark.workload import REGISTRY, _load_all


class Op:
    """One timed operation. A read (``ref`` set) returns a pyarrow Table
    that the gate checks under ``ref``, which may be a callable
    evaluated after the operation; a write's return value is ignored."""

    __slots__ = ("kind", "cls", "fn", "ref", "rows", "info")

    def __init__(self, kind, cls, fn, ref=None, rows=0, **info):
        self.kind, self.cls, self.fn = kind, cls, fn
        self.ref, self.rows, self.info = ref, rows, info


class Workload:
    name = ""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.tr = ctx.tracer
        self.inputs: dict[str, dict] = {}

    @property
    def spark(self):
        return self.ctx.spark

    def generate(self) -> None:
        """Write the seed's inputs as parquet (no Spark)."""

    def setup(self) -> None:
        """Load the inputs into the engine."""

    def warm_up(self) -> list[Op]:
        """Untimed operations run once after ``setup``."""
        return []

    def rounds(self):
        """Endless iterator of timed rounds (lists of operations)."""
        raise NotImplementedError

    def collect(self, df, span: str):
        with self.tr.span(span):
            return df.toArrow()

    def write_inputs(self, tbls: dict, sub: str) -> str:
        path = os.path.join(self.ctx.work, "input", sub)
        self.inputs.update(gen.write_tables(tbls, path))
        return path

    @staticmethod
    def duck_views(path: str, names) -> duckdb.DuckDBPyConnection:
        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        for n in names:
            con.execute(
                f"CREATE VIEW {n} AS SELECT * FROM "
                f"read_parquet('{os.path.join(path, n + '.parquet')}')"
            )
        return con

    def after(self, rec: dict, op: Op) -> None:
        """Bookkeeping outside the operation's timing."""

    def final_ops(self) -> list[Op]:
        """Untimed end-state checks run after the timed phase."""
        return []

    def summary(self, recs: list[dict]) -> dict:
        return {}


# ---------------------------------------------------------------------------
# olap_read
# ---------------------------------------------------------------------------

# The headline families olap_read runs, by leading registry tag: the
# TPC-H aggregate and join shapes, windows, as-of, cube and gap-fill,
# plus exact and MinHash dedup, which carry the llm layer. The other
# TPC-H shapes (q6, q13, q18) and the analytic window are left out to
# keep a run's cold warm-up, which every distinct plan pays once per
# process, short (a run should stay near a minute on 4 cores); the
# families that write tables or belong to the rest of the LLM tier are
# not read-only mixes.
_OLAP_FAMILIES = ("agg", "join", "window", "join-asof", "cube", "timeseries",
                  "dedup-exact", "dedup-minhash")
_ORDER_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderpriority")


def read_only_headline() -> list[str]:
    """The first ``bench.HEADLINE`` query of each family in
    ``_OLAP_FAMILIES``, in headline order."""
    from bench import HEADLINE

    _load_all()
    seen, out = set(), []
    for n in HEADLINE:
        family = REGISTRY[n].tags[0]
        if family in _OLAP_FAMILIES and family not in seen:
            seen.add(family)
            out.append(n)
    return out


class OlapRead(Workload):
    """Read-only mix over the generated star schema and a lake copy of
    ``orders`` built in set-up from ``APPENDS`` key-range appends, each
    its own manifest segment (``manifest.inline_max=0``) and file, so
    segment-level and file-level pruning have work to skip on
    ``o_orderkey``; ``o_custkey`` is random across files, so a customer
    lookup has nothing to skip. (No bloom filter column: computing it
    adds over a second per append.)
    The warm-up runs every shape once. A timed round runs one read-only
    headline registry query per family, two PG-dialect SELECTs with
    seeded literals per template through ``LakeSQL.sql`` and three
    ``read_pruned`` lookups per kind, in seeded order."""

    name = "olap_read"
    SF = 0.01
    APPENDS = 12
    DUP_SHARE = 0.05
    SQL_REPEATS, PRUNED_REPEATS = 2, 3
    PRUNED = ("key_point", "key_range", "cust_point")

    def generate(self) -> None:
        seed = self.ctx.seed
        tbls = gen.tpch_tables(seed, self.SF)
        tbls["documents"] = gen.dedup_corpus(seed, tbls["documents"], self.DUP_SHARE)
        self.dir = self.write_inputs(tbls, "olap")

    def setup(self) -> None:
        spark, seed = self.spark, self.ctx.seed
        tables.load_tables(spark, self.dir)
        cat = LakeCatalog(spark, self.ctx.warehouse)
        orders = tables.table(spark, self.dir, "orders")
        self.n_orders = self.inputs["orders"]["rows"]
        self.n_cust = self.inputs["customer"]["rows"]
        self.tbl = cat.create_table(
            "olap", "orders", orders.schema,
            properties={"manifest.inline_max": "0"},
        )
        step = -(-self.n_orders // self.APPENDS)
        for i in range(self.APPENDS):
            k = F.col("o_orderkey")
            self.tbl.append(orders.filter((k >= i * step) & (k < (i + 1) * step)))
        self.lsql = LakeSQL(spark, cat)
        self.queries = read_only_headline()
        self.rng = np.random.default_rng([seed, 10])
        self.con = self.duck_views(self.dir, self.inputs)

    def warm_up(self) -> list[Op]:
        return self._round(1, 1)

    def rounds(self):
        while True:
            yield self._round(self.SQL_REPEATS, self.PRUNED_REPEATS)

    def _round(self, sql_repeats: int, pruned_repeats: int) -> list[Op]:
        ops = [self._registry(n) for n in self.queries]
        for _ in range(sql_repeats):
            ops += [self._sql(name, text) for name, text in self._sql_texts()]
        ops += [self._pruned(kind) for kind in self.PRUNED * pruned_repeats]
        self.rng.shuffle(ops)
        return ops

    def _registry(self, name: str) -> Op:
        spec = REGISTRY[name]

        def run():
            with self.tr.span("workload.build"):
                df = spec.fn(self.spark, self.dir)
            return self.collect(df, "workload.exec")

        return Op("read.registry", "read", run, ref=("sql", spec.oracle), name=name)

    def _sql_texts(self):
        r = self.rng
        d1 = np.datetime64("1995-01-01") + int(r.integers(0, 2000))
        d2 = d1 + int(r.integers(30, 240))
        k = int(r.integers(0, self.n_orders - 100))
        a = int(r.integers(0, self.n_orders - 3000))
        return [
            ("window_agg",
             "SELECT o_orderpriority, count(*) AS n, "
             "sum(round(o_totalprice * 100)::bigint)::bigint AS cents FROM olap.orders "
             f"WHERE o_orderdate BETWEEN '{d1}'::timestamp AND '{d2}'::timestamp "
             "GROUP BY o_orderpriority"),
            ("year_filter",
             "SELECT extract(year FROM o_orderdate)::int AS y, count(*) AS n "
             f"FROM olap.orders WHERE o_orderstatus = '{r.choice(['F', 'O', 'P'])}' "
             f"AND o_orderpriority ILIKE '{int(r.integers(1, 6))}%' GROUP BY 1"),
            ("keyset_page",
             "SELECT o_orderkey, o_totalprice FROM olap.orders "
             f"WHERE o_orderkey > {k} ORDER BY o_orderkey LIMIT 20"),
            ("cust_orders",
             "SELECT o_orderkey, o_custkey, o_orderstatus FROM olap.orders "
             f"WHERE o_custkey = {int(r.integers(0, self.n_cust))} ORDER BY o_orderkey"),
            ("filter_agg",
             "SELECT o_orderstatus, COALESCE(max(o_orderpriority), 'none') AS p, "
             f"count(*) FILTER (WHERE o_totalprice > {int(r.integers(1000, 500000))}) AS big "
             f"FROM olap.orders WHERE o_orderkey BETWEEN {a} AND {a + int(r.integers(100, 3000))} "
             "GROUP BY o_orderstatus"),
        ]

    def _sql(self, name: str, text: str) -> Op:
        def run():
            return self.collect(self.lsql.sql(text), "sql.select_exec")

        return Op("read.sql", "read", run,
                  ref=("sql", text.replace("olap.orders", "orders")), name=name)

    def _pruned(self, kind: str) -> Op:
        r = self.rng
        if kind == "cust_point":
            c = int(r.integers(0, self.n_cust))
            col, lo, hi = "o_custkey", c, c
        else:
            lo = int(r.integers(0, self.n_orders))
            col, hi = "o_orderkey", lo if kind == "key_point" else lo + int(r.integers(10, 1000))

        def run():
            df = self.tbl.read_pruned({col: (lo, hi)}).select(*_ORDER_COLS)
            return self.collect(df, "lakehouse.read_exec")

        sql = f"SELECT {', '.join(_ORDER_COLS)} FROM orders WHERE {col} BETWEEN {lo} AND {hi}"
        return Op("read.pruned", "read", run, ref=("sql", sql), name=kind)

    def after(self, rec: dict, op: Op) -> None:
        if rec.get("name") == "dedup_minhash_lsh" and "result_rows" in rec:
            self.tr.record(rec["id"], "llm.pairs", rec["result_rows"])

    def reference(self, key) -> str:
        return rows_hash(self.con.execute(key[1]).df())


# ---------------------------------------------------------------------------
# lake_ingest
# ---------------------------------------------------------------------------

_MERGE_COLS = ("l_quantity", "l_extendedprice", "l_discount")
_AGG_SQL = (
    "SELECT l_returnflag, count(*) AS n, "
    "CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_e2, "
    "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_e2 "
    "FROM {t} GROUP BY l_returnflag"
)
_ROLLUP_SQL = (
    "SELECT epoch_us(date_trunc('hour', ts::TIMESTAMP)) AS bucket_us, event_type, "
    "count(*) AS n_events, CAST(sum(value_e2) AS BIGINT) AS value_sum_e2, "
    "min(value) AS value_min, max(value) AS value_max FROM events GROUP BY 1, 2"
)


class LakeIngest(Workload):
    """Seeded CDC batches into a copy-on-write and an equality
    merge-on-read table, with an events source and its hourly rollup.
    Batches reach the copy-on-write table through the Python API
    (append, merge-upsert, delete and update, one operation each) and
    the merge-on-read table as one PG script of the same four steps
    through ``LakeSQL.script``. A batch for the merge-on-read table also
    brings an events append and its ``refresh_rollup``. Every batch ends
    with a ``read_pruned`` point lookup of a key it appended and a full
    aggregate of its table. A round is two batches, copy-on-write then
    merge-on-read, and ends with ``maybe_compact`` and ``vacuum`` of both
    tables, so it runs every operation kind. The warm-up is the first two
    rounds: after one, operations still run about 25% slower than after
    three, and how much slower differs from run to run. A batch's
    inputs are generated from the seed when the run reaches it."""

    name = "lake_ingest"
    BASE, APPEND, MERGE, EVENTS = 10_000, 2_000, 1_000, 2_000

    def generate(self) -> None:
        self.dir = self.write_inputs(
            gen.ingest_base(self.ctx.seed, self.BASE, self.EVENTS), "ingest")

    def setup(self) -> None:
        spark = self.spark
        self.cat = LakeCatalog(spark, self.ctx.warehouse)
        self.lsql = LakeSQL(spark, self.cat)
        base = tables.table(spark, self.dir, "base")
        props = {"manifest.inline_max": "8"}
        self.t = {
            "li_cow": self.cat.create_table("cdc", "li_cow", base.schema, properties=props),
            "li_mor": self.cat.create_table(
                "cdc", "li_mor", base.schema,
                properties=props | {"write_delete_mode": "merge-on-read", "row_key": "lk"},
            ),
        }
        for t in self.t.values():
            t.append(base)
        ev0 = tables.table(spark, self.dir, "events0")
        self.events = self.cat.create_table("cdc", "events", ev0.schema, properties=props)
        self.events.append(ev0)
        self.roll = rollup.create_rollup(
            self.cat, "cdc", "events_hourly", self.events,
            time_col="ts", bucket="1 hour", group_by=["event_type"],
            metrics={
                "n_events": ("count", "*"),
                "value_sum_e2": ("sum", "value_e2"),
                "value_min": ("min", "value"),
                "value_max": ("max", "value"),
            },
        )
        # replay state: DuckDB applies the same statements after the run
        self.con = self.duck_views(self.dir, [])
        for t in self.t:
            self.con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{self._pq('base')}')")
        self.con.execute(
            f"CREATE TABLE events AS SELECT * FROM read_parquet('{self._pq('events0')}')"
        )
        self.log: list[list[str]] = []
        self.replayed = 0
        self.seen = self._walk()
        self.live = {t: self._live(tbl) for t, tbl in self.t.items()}

    def _pq(self, name: str) -> str:
        return os.path.join(self.dir, name + ".parquet")

    def warm_up(self) -> list[Op]:
        return self._round(0) + self._round(2)

    def rounds(self):
        for b in itertools.count(4, 2):
            yield self._round(b)

    def _round(self, b: int) -> list[Op]:
        return self._batch(b, "li_cow") + self._batch(b + 1, "li_mor") + self._maintenance()

    def _maintenance(self) -> list[Op]:
        ops = []
        for name, t in self.t.items():
            ops.append(Op(
                "commit.maybe_compact", "commit",
                lambda t=t: t.maybe_compact(file_count_threshold=8, delete_file_threshold=3),
                table=name,
            ))
            ops.append(Op("commit.vacuum", "commit", lambda t=t: t.vacuum(keep_last=2),
                          table=name))
        return ops

    def _batch(self, b: int, name: str) -> list[Op]:
        """The operations of batch ``b`` on table ``name``: its writes,
        the events append and rollup refresh of a merge-on-read batch,
        and the read-after-write reads."""
        tbls, p = gen.ingest_batch(
            self.ctx.seed, b, self.BASE, self.APPEND, self.MERGE, self.EVENTS)
        self.write_inputs(tbls, "ingest")
        tag = f"b{b:03d}"
        app, mrg, evs = (self._pq(f"{tag}_{x}") for x in ("append", "merge", "events"))
        lo, hi = p["delete"]
        flag, mod, rem = p["update"]
        set_cols = ", ".join(f"{c} = s.{c}" for c in _MERGE_COLS)
        delete_where = f"lk BETWEEN {lo} AND {hi}"
        update_where = f"l_returnflag = '{flag}' AND lk % {mod} = {rem}"
        source = lambda x: tables.table(self.spark, self.dir, f"{tag}_{x}")  # noqa: E731

        def replay(t):
            return {
                "append": [f"INSERT INTO {t} SELECT * FROM read_parquet('{app}')"],
                "merge": [f"UPDATE {t} SET {set_cols} FROM read_parquet('{mrg}') s "
                          f"WHERE {t}.lk = s.lk",
                          f"INSERT INTO {t} SELECT * FROM read_parquet('{mrg}') s "
                          f"WHERE s.lk NOT IN (SELECT lk FROM {t})"],
                "delete": [f"DELETE FROM {t} WHERE {delete_where}"],
                "update": [f"UPDATE {t} SET l_quantity = l_quantity + 1 WHERE {update_where}"],
            }

        t = self.t[name]
        if name == "li_mor":
            for view in ("append", "merge"):
                source(view).createOrReplaceTempView(f"{tag}_{view}")
            script = (
                f"INSERT INTO cdc.{name} SELECT * FROM {tag}_append;\n"
                f"MERGE INTO cdc.{name} AS t USING {tag}_merge AS s ON t.lk = s.lk "
                f"WHEN MATCHED THEN UPDATE SET {set_cols} WHEN NOT MATCHED THEN INSERT *;\n"
                f"DELETE FROM cdc.{name} WHERE {delete_where};\n"
                f"UPDATE cdc.{name} SET l_quantity = l_quantity + 1 WHERE {update_where};"
            )
            ops = [
                Op("commit.sql_script", "commit", lambda: self.lsql.script(script),
                   rows=self.APPEND + self.MERGE,
                   replay=[s for stmts in replay(name).values() for s in stmts],
                   table=name, src=(app, mrg)),
                Op("commit.events_append", "commit",
                   lambda: self.events.append(source("events")),
                   rows=self.EVENTS,
                   replay=[f"INSERT INTO events SELECT * FROM read_parquet('{evs}')"],
                   table="events", src=evs),
                Op("commit.rollup_refresh", "commit",
                   lambda: rollup.refresh_rollup(self.events, self.roll), table="rollup"),
            ]
        else:
            api = {
                "append": lambda: t.append(source("append")),
                "merge": lambda: t.merge(
                    source("merge"), on=["lk"],
                    when_matched_update={c: F.col(f"__src.{c}") for c in _MERGE_COLS},
                    when_not_matched_insert=True,
                ),
                "delete": lambda: t.delete((F.col("lk") >= lo) & (F.col("lk") <= hi)),
                "update": lambda: t.update(
                    (F.col("l_returnflag") == flag) & (F.col("lk") % mod == rem),
                    {"l_quantity": F.col("l_quantity") + 1},
                ),
            }
            rows = {"append": self.APPEND, "merge": self.MERGE}
            srcs = {"append": app, "merge": mrg}
            ops = [Op(f"commit.{step}", "commit", fn, rows=rows.get(step, 0),
                      replay=replay(name)[step], table=name, src=srcs.get(step))
                   for step, fn in api.items()]
        k = p["lookup"]
        ops.append(Op(
            "read.point", "read",
            lambda: self.collect(t.read_pruned({"lk": (k, k)}), "lakehouse.read_exec"),
            ref=lambda: ("replay", len(self.log), f"SELECT * FROM {name} WHERE lk = {k}"),
        ))
        ops.append(Op(
            "read.agg", "read", lambda: self.collect(self._agg(t), "lakehouse.read_exec"),
            ref=lambda: ("replay", len(self.log), _AGG_SQL.format(t=name)),
        ))
        return ops

    @staticmethod
    def _agg(tbl):
        e2 = lambda c: F.round(F.col(c) * 100).cast("long")  # noqa: E731
        return tbl.read().groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(e2("l_quantity")).alias("qty_e2"),
            F.sum(e2("l_extendedprice")).alias("price_e2"),
        )

    def final_ops(self) -> list[Op]:
        ops = [
            Op(f"check.{n}", "check", lambda t=t: t.read().toArrow(),
               ref=("replay", len(self.log), f"SELECT * FROM {n}"))
            for n, t in self.t.items()
        ]
        ops.append(Op(
            "check.rollup", "check",
            lambda: self.roll.read().select(
                epoch_us(F.col("bucket_start")).alias("bucket_us"), "event_type",
                "n_events", "value_sum_e2", "value_min", "value_max",
            ).toArrow(),
            ref=("replay", len(self.log), _ROLLUP_SQL),
        ))
        return ops

    def reference(self, key) -> str:
        _, upto, sql = key
        for stmts in self.log[self.replayed:upto]:
            for s in stmts:
                self.con.execute(s)
        self.replayed = max(self.replayed, upto)
        return rows_hash(self.con.execute(sql).df())

    # -- bookkeeping: bytes written, live files ---------------------------

    def _walk(self) -> dict:
        out = {}
        for root, _dirs, files in os.walk(self.ctx.warehouse):
            for f in files:
                p = os.path.join(root, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[(p, st.st_ino)] = st.st_size
        return out

    @staticmethod
    def _live(tbl) -> dict:
        return {f["path"]: f["bytes"] for f in tbl.snapshot().files}

    def after(self, rec: dict, op: Op) -> None:
        if rec["ok"] and op.info.get("replay"):
            self.log.append(op.info["replay"])
        now = self._walk()
        new = [(p, size) for (p, ino), size in now.items() if (p, ino) not in self.seen]
        self.seen = now
        written = {"data": 0, "metadata": 0, "change_feed": 0}
        for p, size in new:
            part = p.split(os.sep)
            cat = "metadata" if "_lakehouse" in part else (
                "change_feed" if "_changes" in part else "data")
            written[cat] += size
        rec["bytes_written"] = written
        src = op.info.get("src") or ()
        rec["user_bytes"] = sum(os.path.getsize(f) for f in (
            (src,) if isinstance(src, str) else src))
        name = op.info.get("table")
        if not self.tr.installed or name not in self.t:
            return
        with self.tr.paused():
            tbl = self.t[name]
            snap = tbl.snapshot()
            live = {f["path"]: f["bytes"] for f in snap.files}
        prev = self.live[name]
        self.live[name] = live
        added = [b for p, b in live.items() if p not in prev]
        removed = [b for p, b in prev.items() if p not in live]
        c = self.tr.counts[rec["id"]]
        c["lakehouse.files_added"] += len(added)
        c["lakehouse.bytes_added"] += sum(added)
        c["lakehouse.files_rewritten"] += len(removed)
        c["lakehouse.metadata_bytes"] += written["metadata"]
        c["lakehouse.manifest_segments"] = len(snap.manifests)
        c["lakehouse.delete_files_live"] = len(snap.delete_files)
        if op.kind == "commit.maybe_compact":
            c["maintenance.bytes_rewritten"] += sum(removed)

    def summary(self, recs: list[dict]) -> dict:
        timed = [r for r in recs if r.get("timed")]
        written = sum(sum(r.get("bytes_written", {}).values()) for r in timed)
        user = sum(r.get("user_bytes", 0) for r in timed)
        on_disk = sum(self._walk().values())
        live = sum(t.table_info()["total_bytes"]
                   for t in (*self.t.values(), self.events, self.roll))
        by_cat: dict[str, int] = {}
        for r in timed:
            for k, v in r.get("bytes_written", {}).items():
                by_cat[k] = by_cat.get(k, 0) + v
        return {
            "write_amp": written / user if user else None,
            "space_amp": on_disk / live,
            "bytes_written": by_cat,
            "user_bytes": user,
            "batches": sum(1 for r in timed if r["kind"] == "read.agg"),
        }


WORKLOADS = {w.name: w for w in (OlapRead, LakeIngest)}
