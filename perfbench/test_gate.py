"""Self-test of the correctness gate: a wrong result must trip it.

Spark-free, runs in a second:
    python3 -m pytest perfbench/test_gate.py -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa

sys.path[:0] = [os.path.dirname(os.path.abspath(__file__)),
                os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]

from gate import Gate, arrow_hash  # noqa: E402
from run import Runner, latency  # noqa: E402
from workloads import Op, Workload  # noqa: E402

ROWS = {"k": [1, 2, 3], "v": [0.5, 1.25, 2.0], "s": ["a", "b", "c"]}


class _Ctx:
    spark = None
    tracer = None


def _run(ops):
    gate = Gate()
    runner = Runner(Workload(type("C", (), {"tracer": None})()), _Ctx(), gate, "t-")
    for op in ops:
        runner.run_op(op, timed=True, traced=False)
    expected = {"good": arrow_hash(pa.table(ROWS))}
    gate.settle(expected.__getitem__)
    return runner.recs


def test_digest_ignores_row_and_column_order():
    shuffled = pa.table({"s": ["c", "a", "b"], "v": [2.0, 0.5, 1.25], "k": [3, 1, 2]})
    assert arrow_hash(shuffled) == arrow_hash(pa.table(ROWS))


def test_injected_wrong_result_trips_the_gate():
    wrong = dict(ROWS, v=[0.5, 1.25, 2.01])
    dropped = {k: v[:2] for k, v in ROWS.items()}
    recs = _run([
        Op("read.ok", "read", lambda: pa.table(ROWS), ref="good"),
        Op("read.wrong_value", "read", lambda: pa.table(wrong), ref="good"),
        Op("read.dropped_row", "read", lambda: pa.table(dropped), ref="good"),
    ])
    assert [r["ok"] for r in recs] == [True, False, False]
    assert "differs from reference" in recs[1]["error"]


def test_raising_operation_counts_as_failed():
    def boom():
        raise RuntimeError("injected")

    recs = _run([Op("commit.boom", "commit", boom)])
    assert not recs[0]["ok"] and "injected" in recs[0]["error"]


def test_tail_has_ten_samples_above_it():
    lat = latency([float(i) for i in range(1, 101)])
    assert lat["p50_ms"] == 50.5 and lat["tail_ms"] == 90.0 and lat["n"] == 100
    assert latency([1.0, 2.0, 3.0])["tail_ms"] == 3.0
