"""Exactly-once streaming sink into a snapshot (icelite) table.

The batch-keyed parquet sink (pipeline.py) gets idempotent replay from
directory overwrite; this sink gets it the way an Iceberg streaming sink
does — a **commit stamp in the snapshot summary**. Every micro-batch
append stamps icelite's consumer watermark ``{<checkpoint-key>: <batch
id>}`` (the same mechanism incremental ingestion uses,
plans/incremental.py); before appending, the handler reads the table's
watermark for its checkpoint and SKIPS any batch at or below it. A crash
between the table commit and the source-offset commit replays the batch
on restart, the stamp is found, and nothing is double-appended — append
+ stamp are one atomic metadata commit (icelite's O_EXCL version claim),
so there is no window where the data is in but the stamp is not.

The checkpoint key is derived from the checkpoint location (md5, like
every other portable hash in this repo), because batch ids are only
unique per streaming checkpoint. Single writer per checkpoint is
Structured Streaming's own contract; concurrent OTHER writers (another
stream into the same table, the maintenance job's compaction) are safe —
appends re-merge on conflict, stamps ride in the snapshot log, and
expire_snapshots carries expired stamps forward.

Downstream of this sink the table is a normal icelite table: time travel
over micro-batch history, footer-stats pruning, and run_maintenance.py
compaction of the per-trigger small files (exactly the workload
table-maintenance exists for).
"""

from __future__ import annotations

from hashlib import md5

from pyspark.sql import DataFrame, SparkSession

from ..operators.extract import extract_phrases_and_triples, fused_triples
from ..tables.icelite import WATERMARK, IceTable, bucket


def checkpoint_key(checkpoint_dir: str) -> str:
    """Stable key for a checkpoint LOCATION: local paths are resolved to
    an absolute form and trailing slashes dropped, so equivalent
    spellings (./ckpt vs /data/ckpt vs /data/ckpt/) hash identically —
    Spark normalizes checkpointLocation for its offset log, and a key
    that did not would silently disable replay dedup across relaunches
    with a different spelling."""
    import os

    loc = checkpoint_dir.rstrip("/")
    if "://" not in loc:
        loc = os.path.abspath(loc)
    return md5(loc.encode()).hexdigest()[:12]


def committed_batch_ids(table_path: str, ckpt_key: str) -> set[int]:
    """Batch ids with a live watermark stamp for this checkpoint (own
    stamps only — see last_committed_batch for the replay test, which
    also honors stamps carried forward by history expiration)."""
    if not IceTable.exists(table_path):
        return set()
    stamps = (
        s["summary"].get(WATERMARK, {})
        for s in IceTable(table_path).snapshots()
    )
    return {w[ckpt_key] for w in stamps if ckpt_key in w}


def last_committed_batch(table_path: str, ckpt_key: str) -> int | None:
    """Highest batch id committed for this checkpoint: its watermark.
    Batch ids are monotone per checkpoint (Structured Streaming's
    contract), so the newest stamp is exactly the replay frontier."""
    if not IceTable.exists(table_path):
        return None
    return IceTable(table_path).watermark(ckpt_key)


def commit_batch(
    spark: SparkSession,
    table_path: str,
    df: DataFrame,
    ckpt_key: str,
    batch_id: int,
    partition_spec=None,
    sort_order=None,
    target_files: int | None = None,
) -> str | None:
    """Idempotently commit one micro-batch: create the table on the first
    ever batch, append with the watermark stamp otherwise, skip
    (returning None) if this (checkpoint, batch) is at or below the
    table's watermark. The stamp rides the SAME atomic metadata commit
    as the data on both paths, so there is no window where the data is
    in but the stamp is not; a crashed create (directory present, v1
    never committed) is detected by IceTable.exists and simply
    re-created — its half-written files are orphans for the maintenance
    sweep."""
    stamp = {ckpt_key: batch_id}
    if not IceTable.exists(table_path):
        t = IceTable.create(
            spark, table_path, df,
            partition_spec=partition_spec, sort_order=sort_order,
            target_files=target_files, watermark=stamp,
        )
        return t.current_snapshot_id()
    last = last_committed_batch(table_path, ckpt_key)
    if last is not None and batch_id <= last:
        return None  # replayed batch: already committed, exactly-once
    return IceTable(table_path).append(
        spark, df, target_files=target_files, watermark=stamp
    )


def stream_kg_triples_to_table(
    spark: SparkSession,
    input_dir: str,
    table_path: str,
    checkpoint_dir: str,
    schema,
    lang: str = "ru",
    num_partitions: int = 8,
    max_files_per_trigger: int = 1,
    target_files: int | None = None,
    available_now: bool = True,
    processing_interval: str = "30 seconds",
):
    """The incremental KG pipeline landing in a snapshot table: same
    fused extract stage as pipeline.stream_kg_triples, but the sink is an
    icelite triples table (bucketed by subj like the batch publisher)
    with exactly-once micro-batch commits."""
    key = checkpoint_key(checkpoint_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        fused = extract_phrases_and_triples(
            batch_df, lang=lang, num_partitions=num_partitions
        )
        commit_batch(
            spark, table_path, fused_triples(fused), key, batch_id,
            partition_spec=[bucket("subj", 16)], sort_order=["subj"],
            target_files=target_files,
        )

    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    writer = (
        writer.trigger(availableNow=True)
        if available_now
        else writer.trigger(processingTime=processing_interval)
    )
    return writer.start()


def table_triples_result(spark: SparkSession, table_path: str) -> DataFrame:
    df, _ = IceTable(table_path).scan(
        spark, columns=["url", "subj", "pred", "obj"]
    )
    return df
