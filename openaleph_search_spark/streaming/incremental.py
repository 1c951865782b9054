"""Incremental index maintenance via Structured Streaming.

The reference's near-real-time story is ES's 1 s refresh
(/root/reference/openaleph_search/settings.py:57) — out of scope for
the batch north_rule, but the natural Spark-first extension: a
``foreachBatch`` sink that appends each micro-batch of new documents to
the index as fresh source partitions (SURVEY.md §2.5 streaming note).

Safety: appends change collection stats (N, avgdl) — harmless for
pruning, because impact bounds are computed live at query time from
each block's stored (max_tf, min_dl) against the CURRENT stats; no
encode-time bound can go stale.
"""
from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..index.build import commit_stats, run_spimi
from ..index.storage import IndexStorage


def append_batch(spark: SparkSession, docs: DataFrame, index_dir: str,
                 epoch_id: int) -> None:
    """Index one micro-batch: new src_part namespace per epoch, same
    SPIMI packed-block pipeline (same field/bigram config as the base
    build, read back from meta), then the build's stats tail over every
    partition's partials.

    The new partitions' blocks land straight in
    postings/shard=K/part=<new_part>.parquet: their doc ids sit above
    the base namespace, so within-(term, shard) doc-range disjointness
    holds, and impact bounds are computed live at query time from each
    block's (max_tf, min_dl), so an append never invalidates pruning."""
    storage = IndexStorage(index_dir)
    storage.require_part_layout()
    meta = storage.read_meta()
    P = meta["num_partitions"]
    S = meta["num_shards"]
    # field config must match the base build or appended docs silently
    # lose their field postings / bigram shingles
    fields: dict[str, str] = meta.get("field_map") or {
        f: f for f in meta.get("fields", []) if f != "content"}
    bigrams = bool(meta.get("bigrams", False))
    meta_cols: list[str] = meta.get("meta_cols") or []
    done = storage.completed_partitions()
    # epoch partitions live above the base namespace → doc ids unique
    base_part = max(done, default=P - 1) + 1

    new_rows = run_spimi(storage, docs, P, S, meta["with_positions"],
                         fields, bigrams, meta_cols, base_part=base_part)
    meta["built_partitions"] = meta.get("built_partitions", 0) + 1
    # N over ALL docs (base + appended, tombstoned ones included until
    # compact() drops them) from the manifests
    commit_stats(spark, storage, meta,
                 [*done.values(), *new_rows])


def stream_index(spark: SparkSession, docs_stream: DataFrame,
                 index_dir: str, checkpoint_dir: str | None = None,
                 trigger_seconds: int = 5):
    """Attach the append sink to a streaming docs source.
    → StreamingQuery (caller drives/stops it)."""
    checkpoint = checkpoint_dir or os.path.join(index_dir, "_checkpoint")
    return (docs_stream.writeStream
            .foreachBatch(lambda df, eid: append_batch(
                df.sparkSession, df, index_dir, eid))
            .option("checkpointLocation", checkpoint)
            .trigger(processingTime=f"{trigger_seconds} seconds")
            .start())
