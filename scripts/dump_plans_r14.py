"""Dump .explain('formatted') for every headline bench query into
plans/r14/<query>_<tag>.txt (tag = before/after, argv[1]).

Run from the tree whose plans you want (sys.path uses CWD, so the same
script file can dump the HEAD worktree's "before" plans):

    cd /tmp/r14_before && PLANS_OUT=/root/repo/plans/r14 \
        python /root/repo/scripts/dump_plans_r14.py before

DML-lifecycle queries (lake_*, rollup_*, stream_cdc_*) execute their
side effects when the query function is built; the captured plan is the
plan of the RETURNED DataFrame (the final read) — internal phases are
profiled by scripts/profile_r14.py and documented in
OPTIMIZATION_r14.md.

dedup_minhash_lsh (r14): the declared query materializes via
localCheckpoint and returns a checkpoint scan, so the meaningful plan
is the lazy pipeline's — dumped additionally as
``dedup_minhash_lsh_pipeline_<tag>.txt`` when the ``eager`` parameter
exists (after-tree only).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.getcwd())

from pg_lakehouse_spark import get_spark  # noqa: E402
from pg_lakehouse_spark.session import (  # noqa: E402
    dir_input_bytes,
    shuffle_partitions_for,
)
from pg_lakehouse_spark.workload import REGISTRY, _load_all  # noqa: E402
from bench import HEADLINE  # noqa: E402


def formatted(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.environ.get(
        "PLANS_OUT", os.path.join(os.getcwd(), "plans", "r14")
    )
    os.makedirs(out_dir, exist_ok=True)
    _load_all()
    spark = get_spark(
        "pg_lakehouse_spark-plans-r14",
        shuffle_partitions=shuffle_partitions_for(dir_input_bytes(sf_dir)),
    )
    for name in HEADLINE:
        spec = REGISTRY.get(name)
        if spec is None:
            continue
        try:
            plan = formatted(spark, spec.fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR: {type(exc).__name__}: {exc}"
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{tag}.txt")

    # the un-checkpointed minhash pipeline plan (after trees only)
    try:
        from pg_lakehouse_spark.llm.dedup import minhash_lsh_candidates
        from pg_lakehouse_spark.tables import table as t

        docs = t(spark, sf_dir, "documents")
        df = minhash_lsh_candidates(
            docs, id_col="doc_id", text_col="text",
            n=3, num_hashes=64, bands=16, verify_threshold=0.5,
            eager=False,
        )
        with open(
            os.path.join(out_dir, f"dedup_minhash_lsh_pipeline_{tag}.txt"),
            "w",
        ) as f:
            f.write(formatted(spark, df))
        print(f"wrote dedup_minhash_lsh_pipeline_{tag}.txt")
    except TypeError:
        pass  # before-tree: no eager param; the query plan IS the pipeline
    spark.stop()


if __name__ == "__main__":
    main()
