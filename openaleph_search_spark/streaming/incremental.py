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

from ..index.build import _read_field_stats, run_spimi
from ..index.storage import IndexStorage


def append_batch(spark: SparkSession, docs: DataFrame, index_dir: str,
                 epoch_id: int) -> None:
    """Index one micro-batch: new src_part namespace per epoch, same
    SPIMI packed-block pipeline (same field/bigram config as the base
    build, read back from meta), postings appended, stats refreshed."""
    storage = IndexStorage(index_dir)
    meta = storage.read_meta()
    P = meta["num_partitions"]
    S = meta["num_shards"]
    # field config must match the base build or appended docs silently
    # lose their field postings / bigram shingles
    fields: dict[str, str] = meta.get("field_map") or {
        f: f for f in meta.get("fields", []) if f != "content"}
    bigrams = bool(meta.get("bigrams", False))
    meta_cols: list[str] = meta.get("meta_cols") or []
    # epoch partitions live above the base namespace → doc ids unique
    base_part = (max(storage.completed_partitions(), default=P - 1) + 1)

    run_spimi(storage, docs, P, S, meta["with_positions"], fields, bigrams,
              meta_cols, base_part=base_part)

    n_docs = storage.doc_meta(spark).count()
    # per-field avgdl over ALL docs (base + appended) from the
    # per-partition field-stat partials — the scoring stats
    avgdl_by_field = _read_field_stats(storage)
    avgdl = avgdl_by_field.get("content", 0.0)

    # LAYOUT v6: the SPIMI tasks above already wrote the new epoch's
    # blocks straight into postings/shard=K/part=<new_part>.parquet
    # (their doc ids sit above the base namespace, so within-
    # (term,shard) doc-range disjointness holds); impact bounds are
    # computed live at query time from each block's (max_tf, min_dl),
    # so an append can never invalidate pruning — no extra write here.

    from ..index.build import aggregate_term_stats
    aggregate_term_stats(spark, storage)

    meta.update({
        "n_docs": n_docs, "avgdl": avgdl,
        "avgdl_by_field": avgdl_by_field,
        "built_partitions": meta.get("built_partitions", 0) + 1,
    })
    storage.write_meta(meta)


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
