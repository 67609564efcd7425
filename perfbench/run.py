"""Lakehouse benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload olap_read --seed 1 --seconds 5 --trace 0

Run from the repository root. Inputs are generated from the seed under
``.perfbench/`` (which also holds the warehouse, Spark's scratch space
and the result files), the engine runs on
``local[nproc]`` in this one process and its JVM child, and every
result is checked against DuckDB. The last stdout line is the result
object; the line before it carries the environment, per-kind latencies,
the workload's own numbers and, with ``--trace 1``, the per-layer
table. See README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]
STATE = ROOT / ".perfbench"

FLUSH_POLICY = (
    "page cache only: neither the engine nor the benchmark calls fsync; "
    "the same on both sides of a comparison"
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["olap_read", "lake_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def declared_metrics() -> tuple[dict, dict]:
    """{name: unit} of the end-to-end and per-layer metrics that
    BENCHMARK.json declares; the result line carries exactly these."""
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def latency(values: list[float]) -> dict:
    """Median, and the tail: the highest order statistic with at least
    ten samples above it. Below 21 samples no
    such value lies above the median, so the tail is the maximum;
    ``tail_pct`` says which percentile it is."""
    v = sorted(values)
    n = len(v)
    k = n - 11 if n >= 21 else n - 1
    return {"p50_ms": statistics.median(v), "tail_ms": v[k],
            "tail_pct": 100.0 * k / (n - 1) if n > 1 else 100.0, "n": n}


def peak_rss_mb(pids) -> float:
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024


def cpu_s(pid: int) -> float:
    """CPU seconds (user + system) of ``pid`` and every process below
    it, including children they have reaped."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            parent[int(d)] = int(fields[1])
            ticks[int(d)] = sum(int(x) for x in fields[11:15])
    total = 0
    for p in ticks:
        q = p
        while q not in (pid, 0, 1) and q in parent:
            q = parent[q]
        if q == pid:
            total += ticks[p]
    return total / os.sysconf("SC_CLK_TCK")


def git_commit() -> str | None:
    """HEAD of the checkout, or None when it is not a git work tree
    (git is kept from looking in the directories above it)."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=30, env={**os.environ, "GIT_CEILING_DIRECTORIES": str(ROOT.parent)},
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def jvm_gc_ms(spark) -> float:
    """Collection time of every JVM garbage collector so far, in ms (in
    ``local`` mode the driver JVM is also the executor)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))


class Ctx:
    """What a workload needs from the runner."""

    def __init__(self, seed, work, tracer):
        self.seed, self.work, self.tracer = seed, str(work), tracer
        self.warehouse = str(work / "warehouse")
        self.spark = None


def install_tracing(tr) -> None:
    """Wrap the library's public calls (see tracing.py)."""
    from pg_lakehouse_spark import lakehouse, rollup, session, sql, tables
    from pg_lakehouse_spark.workload import llm_q

    def pruned(out, *_a, **_k):
        snap, selected = out
        tr.count("lakehouse.files_scanned", len(selected))
        tr.count("lakehouse.files_total", sum(m["file_count"] for m in snap.manifests)
                 if snap.manifests else len(snap.files))
        tr.counts[tr.op]["lakehouse.delete_files_live"] = len(snap.delete_files)

    def vacuumed(out, *_a, **_k):
        tr.count("maintenance.files_removed",
                 len(out["removed_files"]) + len(out["removed_segments"]))

    tr.wrap(session, "get_spark", "session.start")
    tr.wrap(tables, "load_tables", "tables.load")
    tr.wrap(tables, "table", "tables.load")
    lt = lakehouse.LakeTable
    for attr, name, after in [
        ("read", "lakehouse.read_build", None),
        ("read_pruned", "lakehouse.read_build", None),
        ("pruned_entries", "lakehouse.prune", pruned),
        ("pruned_file_count", "lakehouse.prune", None),
        ("snapshot", "lakehouse.snapshot_load", None),
        ("append", "lakehouse.append", None),
        ("merge", "lakehouse.merge", None),
        ("delete", "lakehouse.delete", None),
        ("update", "lakehouse.update", None),
        ("compact", "maintenance.compact", None),
        ("maybe_compact", "maintenance.maybe_compact", None),
        ("expire_snapshots", "maintenance.expire", None),
        ("vacuum", "maintenance.vacuum", vacuumed),
    ]:
        tr.wrap(lt, attr, name, after)
    tr.wrap(lakehouse.LakeTransaction, "commit", "lakehouse.txn_commit")
    tr.wrap(
        sql.LakeSQL, "sql",
        lambda _self, stmt, *a, **k: "sql.select_build"
        if stmt.lstrip().lower().startswith(("select", "with", "(")) else "sql.dml",
        lambda *_a, **_k: tr.count("sql.statements"),
    )
    tr.wrap(sql.LakeSQL, "script", "sql.script")
    tr.wrap(rollup, "refresh_rollup", "rollup.refresh")
    # the dedup registry queries call these through llm_q's own names
    for fn in ("dedup_exact", "minhash_lsh_candidates"):
        tr.wrap(llm_q, fn, f"llm.{fn}.build")
    tr.installed = True


class Runner:
    def __init__(self, wl, ctx, gate, tag_prefix):
        self.wl, self.ctx, self.gate, self.tag_prefix = wl, ctx, gate, tag_prefix
        self.recs: list[dict] = []

    def run_op(self, op, timed: bool, traced: bool) -> dict:
        from gate import arrow_hash

        tr = self.ctx.tracer
        sc = self.ctx.spark.sparkContext if traced else None
        rec = {"id": len(self.recs), "kind": op.kind, "cls": op.cls,
               "timed": timed, "traced": traced, "ok": True, "rows": op.rows}
        if "name" in op.info:
            rec["name"] = op.info["name"]
        self.recs.append(rec)
        if traced:
            sc.addJobTag(self.tag_prefix + str(rec["id"]))
            tr.op = rec["id"]
        cpu0 = cpu_s(os.getpid())
        start = time.perf_counter_ns()
        try:
            out = op.fn()
        except Exception as exc:  # noqa: BLE001 — a failed operation is a result
            out = None
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        rec["ms"] = (time.perf_counter_ns() - start) / 1e6
        rec["cpu_ms"] = (cpu_s(os.getpid()) - cpu0) * 1000
        if traced:
            tr.op = None
            sc.removeJobTag(self.tag_prefix + str(rec["id"]))
        if rec["ok"] and op.ref is not None:
            rec["result_rows"] = out.num_rows
            self.gate.expect(rec, arrow_hash(out), op.ref() if callable(op.ref) else op.ref)
        self.wl.after(rec, op)
        return rec

    def window(self, rounds, seconds: float, traced: bool) -> tuple[list[dict], float]:
        """Closed loop: whole rounds (at least one) until ``seconds`` have
        passed. Returns the window's records and its wall time."""
        first = len(self.recs)
        start = time.perf_counter()
        for ops in rounds:
            for op in ops:
                self.run_op(op, timed=True, traced=traced)
            if time.perf_counter() - start >= seconds:
                break
        return self.recs[first:], time.perf_counter() - start


def busy_s(recs: list[dict]) -> float:
    """Seconds the window's operations ran: rates are taken over this,
    not wall time, so the harness's own bookkeeping between operations
    (result digests, warehouse walks) never counts."""
    return sum(r["ms"] for r in recs) / 1000


def e2e(recs: list[dict]) -> dict:
    lat = latency([r["ms"] for r in recs])
    return {"op_p50_ms": lat["p50_ms"], "op_tail_ms": lat["tail_ms"],
            "op_tail_pct": lat["tail_pct"], "ops": lat["n"],
            "ops_per_s": len(recs) / busy_s(recs),
            "op_cpu_ms": statistics.fmean(r["cpu_ms"] for r in recs)}


def by_class(recs: list[dict]) -> dict:
    """The per-class end-to-end numbers named in README.md."""
    out = {}
    busy = busy_s(recs)
    reads = [r["ms"] for r in recs if r["cls"] == "read"]
    commits = [r for r in recs if r["cls"] == "commit"]
    if reads:
        lat = latency(reads)
        out |= {"query_p50_ms": lat["p50_ms"], "query_tail_ms": lat["tail_ms"],
                "query_tail_pct": lat["tail_pct"], "queries": lat["n"],
                "queries_per_s": len(reads) / busy}
    if commits:
        lat = latency([r["ms"] for r in commits])
        out |= {"commit_p50_ms": lat["p50_ms"], "commit_tail_ms": lat["tail_ms"],
                "commit_tail_pct": lat["tail_pct"], "commits": lat["n"],
                "commit_rows_per_s": sum(r["rows"] for r in commits) / busy}
    kinds: dict[str, list[float]] = {}
    for r in recs:
        kinds.setdefault(r["kind"], []).append(r["ms"])
    out["per_kind"] = {k: latency(v) for k, v in sorted(kinds.items())}
    return out


def _p50_total(values: list[float]) -> dict:
    return {"p50": statistics.median(values), "total": sum(values), "n": len(values)}


def layer_table(tr, recs: list[dict], spark_by_op: dict) -> tuple[dict, dict]:
    """Per-layer metrics of the traced window: for every span name,
    counter and Spark metric, the p50 and total per operation kind, and
    the per-layer self time. A span nested in one of the same name
    counts once."""
    spans = tr.span_table()
    kind_of = {r["id"]: r["kind"] for r in recs}
    per_op: dict = {i: {} for i in kind_of}
    self_ms: dict[str, float] = {}
    for s in spans:
        if s["op"] not in per_op:
            continue
        layer = s["name"].split(".")[0]
        self_ms[layer] = self_ms.get(layer, 0.0) + s["self_ms"]
        p = s["parent"]
        while p is not None and spans[p]["name"] != s["name"]:
            p = spans[p]["parent"]
        if p is None:
            key = s["name"] + "_ms"
            per_op[s["op"]][key] = per_op[s["op"]].get(key, 0.0) + s["ms"]
    for op, counts in tr.counts.items():
        if op in per_op:
            per_op[op].update(counts)
    for op, m in spark_by_op.items():
        if op in per_op:
            per_op[op].update(m)
    table: dict = {}
    for op, metrics in per_op.items():
        for name, v in metrics.items():
            table.setdefault(name, {}).setdefault(kind_of[op], []).append(v)
    out = {
        name: {"total": sum(sum(v) for v in kinds.values()),
               "by_kind": {k: _p50_total(v) for k, v in sorted(kinds.items())}}
        for name, kinds in sorted(table.items())
    }
    return out, self_ms, per_op


def layer_metrics(recs, table, per_op, self_ms, setup_spans, overhead,
                  layer_units) -> tuple[dict, dict]:
    def total(name):
        return table.get(name, {}).get("total", 0.0)

    def op_p50(name):
        return statistics.median(m.get(name, 0.0) for m in per_op.values())

    exec_ms = sum(t["total"] for n, t in table.items() if n.endswith("exec_ms"))
    build_ms = sum(r["ms"] for r in recs if r["cls"] == "read") - exec_ms
    files_total = total("lakehouse.files_total")
    rollup_jobs = table.get("spark.jobs", {}).get("by_kind", {}).get(
        "commit.rollup_refresh", {}).get("total", 0.0)
    values = {
        "session.start_s": setup_spans.get("session.start", 0.0) / 1000,
        "tables.load_ms": setup_spans.get("tables.load", 0.0),
        "driver.build_ms": build_ms,
        "driver.exec_ms": exec_ms,
        "driver.py4j_calls": total("driver.py4j_calls"),
        "driver.py4j_calls_p50": op_p50("driver.py4j_calls"),
        "spark.jobs_p50": op_p50("spark.jobs"),
        "rollup.jobs": rollup_jobs,
        "lakehouse.self_ms": self_ms.get("lakehouse", 0.0),
        "sql.self_ms": self_ms.get("sql", 0.0),
        "trace.overhead_ms": overhead[0],
        "trace.overhead_pct": overhead[1],
    }
    for name in layer_units:
        values.setdefault(name, total(name))
    extra = {"lakehouse.prune_skip_ratio":
             1 - total("lakehouse.files_scanned") / files_total if files_total else None}
    return values, extra


def setup_span_totals(tr) -> dict[str, float]:
    """ms per top-level span name recorded during set-up."""
    out: dict[str, float] = {}
    spans = tr.span_table()
    for s in spans:
        if s["op"] == "setup" and (s["parent"] is None
                                   or spans[s["parent"]]["name"] != s["name"]):
            out[s["name"]] = out.get(s["name"], 0.0) + s["ms"]
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "pg_lakehouse_spark" / "__init__.py").is_file():
        print(f"perfbench: no pg_lakehouse_spark package under {ROOT}", file=sys.stderr)
        return 2
    units = declared_metrics()
    work = STATE / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog", "scratch", "spark-warehouse"):
        (work / d).mkdir(parents=True)
    # keep every file the run writes inside the checkout
    os.environ.update(
        TMPDIR=str(work / "tmp"),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        SPARK_GRAFT_WAREHOUSE=str(work / "spark-warehouse"),
        SPARK_GRAFT_WORK_DIR=str(work / "scratch"),
        # a fixed 1 GB heap bounds the run's memory on a shared host; it
        # also caps peak_rss_mb, so heap growth shows as GC time
        # (spark.gc_ms) until it fails with OutOfMemoryError
        SPARK_DRIVER_MEMORY="1g",
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    )
    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))
    try:
        return run(args, work, *units)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: Path, e2e_units: dict, layer_units: dict) -> int:
    import duckdb
    import pyspark

    from gate import Gate
    from tracing import TAG_PREFIX, Tracer, spark_metrics_by_op
    from workloads import WORKLOADS

    from pg_lakehouse_spark import session

    traced = bool(args.trace)
    tr = Tracer()
    if traced:
        install_tracing(tr)
        tr.enabled, tr.op = True, "setup"
    ctx = Ctx(args.seed, work, tr)
    wl = WORKLOADS[args.workload](ctx)
    phases = {"imports": time.perf_counter() - T0}
    mark = time.perf_counter()

    def phase(name):
        nonlocal mark
        now = time.perf_counter()
        phases[name], mark = now - mark, now

    wl.generate()
    phase("generate")
    cpus = len(os.sched_getaffinity(0))
    conf = {"spark.local.dir": str(work / "spark-local")}
    if traced:
        conf |= {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": (work / "eventlog").as_uri(),
                 "spark.eventLog.compress": "false"}
    ctx.spark = session.get_spark(
        "perfbench", cpus=cpus,
        shuffle_partitions=session.shuffle_partitions_for(
            session.dir_input_bytes(os.path.join(ctx.work, "input"))),
        extra_conf=conf,
    )
    phase("session")
    gateway = ctx.spark.sparkContext._gateway
    jvm = gateway.proc
    if traced:
        tr.count_py4j(gateway._gateway_client)
    gate = Gate()
    runner = Runner(wl, ctx, gate, TAG_PREFIX)
    try:
        wl.setup()
        phase("load")
        for op in wl.warm_up():
            runner.run_op(op, timed=False, traced=False)
        phase("warm_up")
        setup_s = time.perf_counter() - T0
        setup_spans = setup_span_totals(tr)
        tr.enabled, tr.op = False, None
        rounds = wl.rounds()
        gc0 = jvm_gc_ms(ctx.spark)
        recs, elapsed = runner.window(rounds, args.seconds, traced=False)
        gc_ms = jvm_gc_ms(ctx.spark) - gc0
        traced_recs, after_recs = [], []
        if traced:
            # untraced, traced, untraced: comparing the traced window with
            # the mean of its neighbours cancels the warm-up that still
            # goes on from one round to the next
            tr.enabled = True
            traced_recs, _ = runner.window(rounds, args.seconds, traced=True)
            tr.enabled = False
            after_recs, _ = runner.window(rounds, args.seconds, traced=False)
        phase("timed")
        for op in wl.final_ops():
            runner.run_op(op, timed=False, traced=False)
        rss = peak_rss_mb([os.getpid(), jvm.pid])
        workload_numbers = wl.summary(runner.recs)
        gate.settle(wl.reference)
        phase("checks")
    finally:
        ctx.spark.stop()
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except Exception:  # noqa: BLE001 — make sure the JVM is gone
            jvm.kill()
            jvm.wait(timeout=30)
    phase("stop")

    attempted = len(runner.recs)
    failed = sum(not r["ok"] for r in runner.recs)
    main_recs = traced_recs if traced else recs
    base = e2e(recs)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "env": {
            "nproc": cpus, "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "spark": pyspark.__version__, "python": platform.python_version(),
            "duckdb": duckdb.__version__, "commit": git_commit(),
            "inputs": wl.inputs, "flush_policy": FLUSH_POLICY,
            "warehouse": os.path.relpath(ctx.warehouse, ROOT),
        },
        "setup_s": setup_s, "phases_s": phases, "timed_s": elapsed,
        "busy_s": busy_s(recs), "failed_ratio": failed / attempted,
        **base, **by_class(recs), **workload_numbers,
        "peak_rss_mb": rss, "spark.gc_ms": gc_ms, 
        "errors": [r for r in runner.recs if not r["ok"]][:5],
    }
    if traced:
        spark_by_op = spark_metrics_by_op(str(work / "eventlog"))
        table, self_ms, per_op = layer_table(tr, main_recs, spark_by_op)
        on = e2e(main_recs)
        off = (base["op_cpu_ms"] + e2e(after_recs)["op_cpu_ms"]) / 2
        overhead = (on["op_cpu_ms"] - off, 100 * (on["op_cpu_ms"] / off - 1))
        values, extra = layer_metrics(main_recs, table, per_op, self_ms, setup_spans,
                                      overhead, layer_units)
        detail["traced"] = {"e2e": on, "overhead_ms": overhead[0],
                            "overhead_pct": overhead[1], **extra,
                            "self_ms": self_ms, "layers": table,
                            "unattributed_spark": dict(spark_by_op.get(None, {}))}
        metrics = {k: {"value": values[k], "unit": u} for k, u in layer_units.items()}
    else:
        values = {"setup_s": setup_s, "peak_rss_mb": rss, **base}
        metrics = {k: {"value": values[k], "unit": u} for k, u in e2e_units.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    out = STATE / "results"
    out.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    with open(out / f"{stem}.json", "w") as f:
        json.dump({"detail": detail, "result": result}, f, indent=1, default=str)
    if traced:
        tr.dump(str(out / f"{stem}.spans.json"))
    print(json.dumps({"perfbench": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
