"""r14: time the internal pieces of a rollup refresh MERGE by
monkeypatching LakeTable methods with timing wrappers. Shows where
the ~1.1 s per refresh goes: bounds agg, staging write, footer stats,
manifest prepare/publish, or untimed residue."""

from __future__ import annotations

import os
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import pg_lakehouse_spark.lakehouse as lh  # noqa: E402
from pg_lakehouse_spark import get_spark  # noqa: E402
from pg_lakehouse_spark.session import (  # noqa: E402
    dir_input_bytes,
    shuffle_partitions_for,
)
from pg_lakehouse_spark.workload import REGISTRY, _load_all  # noqa: E402

TIMES: dict[str, list[float]] = defaultdict(list)


def wrap(owner, name):
    """Time every call of ``owner.name`` (a class or module attribute).
    A name that does not exist raises AttributeError, so a renamed
    phase fails the run instead of silently dropping out of it."""
    orig = getattr(owner, name)

    def timed(*a, **k):
        t0 = time.perf_counter()
        try:
            return orig(*a, **k)
        finally:
            TIMES[name].append(time.perf_counter() - t0)

    setattr(owner, name, timed)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _load_all()
    spark = get_spark(
        "merge-internals-profile",
        shuffle_partitions=shuffle_partitions_for(dir_input_bytes(sf_dir)),
    )
    spec = REGISTRY.get("rollup_incremental")
    spec.fn(spark, sf_dir).count()  # warm up

    for name in (
        "_stage_dataframe", "_merge_stage", "_merge_candidates",
        "_prepare_snapshot", "_publish", "_apply_check_guards",
        "_align_to_schema", "merge", "append", "overwrite",
        "read_incremental", "_read_entries", "_rebase",
    ):
        wrap(lh.LakeTable, name)
    wrap(lh.LakeCatalog, "create_table_as")
    for name in ("_file_stats", "_build_merge_join"):
        wrap(lh, name)

    for rep in range(2):
        TIMES.clear()
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        spec.fn(spark, sf_dir).count()
        total = time.perf_counter() - t0
        print(f"--- rep {rep}: total {total:.3f}s")
        for name, ts in sorted(TIMES.items(), key=lambda kv: -sum(kv[1])):
            print(
                f"  {name:22s} n={len(ts):2d} sum={sum(ts):7.3f}s "
                + " ".join(f"{x:.3f}" for x in ts[:8])
            )
    spark.stop()


if __name__ == "__main__":
    main()
