"""Streaming consumption of a lake table's change feed.

``stream_changes`` turns a LakeTable into a CDC *source*: the
Structured Streaming file source tails the table's metadata directory
(one tiny JSON lands per commit — the snapshot pointer swap is the
only signal needed), and each micro-batch expands its newly-seen
snapshots into row-level changes via :meth:`LakeTable.read_changes`
— the same distributed read as the batch changelog, so the per-batch
cost is O(changed rows), never a table scan. Offsets/progress live in
the stream checkpoint: restart resumes exactly after the last
processed commit (the standard file-source exactly-once contract;
``apply_fn`` should be idempotent per batch for crash-between-apply-
and-checkpoint replays, e.g. MERGE into a lake table keyed on the
change key).

This is the Delta ``readStream`` + ``readChangeFeed`` shape rebuilt
on the engine's own snapshot layout. DML commits need the table's
``change_data_feed`` property on (as in batch ``read_changes``);
appends/overwrites stream without it.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from pg_lakehouse_spark.lakehouse import LakeTable, _atomic_write

_VERSION_RE = re.compile(r"v(\d+)\.metadata\.json$")


def _batch_versions(batch_df: DataFrame) -> list[int]:
    """Snapshot versions newly delivered in this micro-batch (from the
    metadata file names; content is irrelevant here)."""
    files = [
        r.f
        for r in batch_df.select(
            F.input_file_name().alias("f")
        ).distinct().collect()
    ]
    out = []
    for f in files:
        m = _VERSION_RE.search(f)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def stream_changes(
    table: LakeTable,
    apply_fn,
    checkpoint_dir: str,
    trigger_once: bool = False,
    query_name: str = "lake_cdc_stream",
    ledger_poll_secs: float | None = 5.0,
) -> StreamingQuery:
    """Start a streaming query invoking ``apply_fn(changes_df,
    batch_id)`` for every new commit's row-level changes.

    ``changes_df`` carries the table columns plus ``_change_type`` and
    ``_commit_version`` (exactly the batch ``read_changes`` schema),
    covering every newly-committed snapshot on the table's current ref
    in this batch. Commits made on ANOTHER branch are parked in a
    pending ledger (fast-forward publishing them is a pure pointer
    move that writes no new metadata file, so the file source alone
    would never re-deliver them); each batch re-checks the ledger
    against the current ancestry — write-audit-publish ingests
    therefore surface in the feed at publish time. Ledger persistence
    is written after a successful apply: a crash between apply and
    ledger write re-delivers parked versions (at-least-once for the
    late-published-branch case only; the main-line path stays
    exactly-once via the stream checkpoint).

    ``ledger_poll_secs`` keeps the ledger LIVE on a long-running
    stream (r3 verdict item): a fast-forward publish is a pure pointer
    move — no new metadata file, so the file source alone would never
    fire another batch and parked versions would wait for the next
    unrelated commit. A 1-row/s rate tick unioned into the source plus
    a matching processing-time trigger force a batch on that cadence,
    and every batch re-checks the ledger against the current ancestry.
    Pass None to disable (restores the files-only trigger behavior;
    trigger-once runs never tick — their startup catch-up already
    re-checks). Note: enabling/disabling changes the stream's source
    count, so it needs a fresh checkpoint directory.
    """
    import json

    spark = table.spark
    os.makedirs(checkpoint_dir, exist_ok=True)
    pending_path = os.path.join(checkpoint_dir, "_lake_pending.json")

    def load_pending() -> list[int]:
        if not os.path.exists(pending_path):
            return []
        with open(pending_path) as f:
            return json.load(f)

    def save_pending(versions: list[int]) -> None:
        _atomic_write(pending_path, sorted(versions))

    def deliver(versions: set, batch_id: int) -> None:
        if not versions:
            return
        on_ref = set(table._ancestry(table.current_version()))
        parts, parked = [], []
        for v in sorted(versions):
            if v not in on_ref:
                parked.append(v)  # another branch — until published
                continue
            parent = table.snapshot(v).parent or 0
            parts.append(table.read_changes(parent, v))
        if parts:
            changes = parts[0]
            for p in parts[1:]:
                changes = changes.unionByName(p)
            apply_fn(changes, batch_id)
        # expired/abandoned snapshots can never re-enter the ancestry
        save_pending(
            [v for v in parked if os.path.exists(table._meta_path(v))]
        )

    def expand_batch(batch_df: DataFrame, batch_id: int) -> None:
        deliver(set(_batch_versions(batch_df)) | set(load_pending()), batch_id)

    # Startup catch-up: a fast-forward publish moves the pointer
    # without writing any metadata file, so parked branch versions can
    # become deliverable with NO new file for the source to see. Check
    # the ledger eagerly at every (re)start — a trigger-once WAP
    # consumer therefore always observes the publish on its next run,
    # independent of whether Spark fires an empty micro-batch.
    deliver(set(load_pending()), -1)

    src = (
        spark.readStream.format("text")
        .option("pathGlobFilter", "v*.metadata.json")
        .load(table.meta_dir)
        .select("value")
    )
    tick = bool(ledger_poll_secs) and not trigger_once
    if tick:
        # liveness tick: rate rows carry no file name (input_file_name
        # is empty → no versions), they only guarantee the batch fires
        src = src.unionByName(
            spark.readStream.format("rate")
            .option("rowsPerSecond", 1)
            .load()
            .select(F.lit(None).cast("string").alias("value"))
        )
    writer = (
        src.writeStream.foreachBatch(expand_batch)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    elif tick:
        writer = writer.trigger(processingTime=f"{ledger_poll_secs} seconds")
    return writer.start()


def replicate_changes(
    changes: DataFrame,
    target: LakeTable,
    keys: list[str],
) -> None:
    """Apply a row-level change batch to a replica table: fold to the
    FINAL image per key (a key may change several times across the
    batch's commits — `_commit_version` orders them), then one
    matched-delete MERGE for net-deleted keys and one upsert MERGE for
    the rest. O(changed keys) on a merge-on-read replica; pair with
    `stream_changes` for continuous replication or with batch
    `read_changes` for catch-up copies."""
    from pyspark.sql.window import Window

    data_cols = [
        c
        for c in changes.columns
        if c not in ("_change_type", "_commit_version")
    ]
    # The folded batch feeds four consumers (two isEmpty probes + two
    # merges) — persist it once per apply; batch-sized state, dropped
    # before returning.
    last = (
        changes.filter(F.col("_change_type") != "update_preimage")
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(*keys).orderBy(
                    F.col("_commit_version").desc()
                )
            ),
        )
        .filter(F.col("__rn") == 1)
    ).persist()
    try:
        dels = last.filter(
            F.col("_change_type") == "delete"
        ).select(*data_cols)
        ups = last.filter(
            F.col("_change_type") != "delete"
        ).select(*data_cols)
        if not dels.isEmpty():
            target.merge(
                dels,
                on=keys,
                when_matched_update=None,
                when_matched_delete=True,
                when_not_matched_insert=False,
            )
        if not ups.isEmpty():
            target.merge(
                ups,
                on=keys,
                when_matched_update={
                    c: F.col(f"__src.{c}")
                    for c in data_cols
                    if c not in keys
                },
                when_not_matched_insert=True,
            )
    finally:
        last.unpersist()
