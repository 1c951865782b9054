"""Index mutations: append (S3 upsert path), delete (S4/S5), compaction,
and the safety rules that keep query-time pruning correct afterwards.

The reference's mutations are ES row-level ops
(/root/reference/openaleph_search/index/indexer.py:36-51,181-189,
index/entities.py:361-369). Columnar Spark-first equivalents:

* **delete** = tombstones: a small doc_id table subtracted at query
  time (Lucene's own soft-delete design).
* **compact** = a per-source-partition rewrite (Delta Lake's
  file-level rewrite-and-replace): every partition holding a
  tombstoned doc rewrites its own ``part=K`` files without the dead
  docs, under the same names, then the build's stats tail refreshes
  N, avgdl and the term dictionary and the tombstones go. The layout
  stays the build layout, so the zero-exchange scatter query path
  keeps working on a compacted index.
* **append** = an incremental build of new source partitions into the
  same layout. Appends change collection stats (N, avgdl) — harmless:
  impact bounds are derived at query time from each block's stored
  (max_tf, min_dl) against the live stats, so pruning stays provably
  sound through any mutation.
"""
from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession, functions as F

from .build import (_TERM_STATS_SCHEMA, DOC_ID_PART_SHIFT, commit_stats,
                    default_tasks)
from .codec import (decode_block, decode_positions, encode_positions,
                    varint_encode)
from .storage import IndexStorage


def tombstones_dir(storage: IndexStorage) -> str:
    return os.path.join(storage.root, "tombstones")


def _has_tombstones(storage: IndexStorage) -> bool:
    return any(f.endswith(".parquet")
               for f in storage.io.listdir(tombstones_dir(storage)))


def read_tombstones(spark: SparkSession,
                    storage: IndexStorage) -> DataFrame | None:
    if not _has_tombstones(storage):
        return None
    return (spark.read.parquet(tombstones_dir(storage))
            .select("doc_id").distinct())


def delete_docs(spark: SparkSession, storage: IndexStorage,
                predicate) -> int:
    """S4 delete-by-query: append matching doc_ids to the tombstone
    table. Returns the number of newly tombstoned docs."""
    victims = storage.doc_meta(spark).filter(predicate).select("doc_id")
    existing = read_tombstones(spark, storage)
    if existing is not None:
        victims = victims.join(existing, "doc_id", "left_anti")
    n = victims.count()
    if n:
        victims.write.mode("append").parquet(tombstones_dir(storage))
    return n


def delete_by_ids(spark: SparkSession, storage: IndexStorage,
                  doc_ids: list[int]) -> int:
    """S5 delete-by-id."""
    return delete_docs(spark, storage, F.col("doc_id").isin(doc_ids))


def _drop_block_docs(row: dict, dead: np.ndarray,
                     with_positions: bool) -> dict | None:
    """One postings block minus the docs in ``dead`` (sorted): the row
    itself when none of its docs is dead, None when all are, else the
    block re-encoded with refreshed stats — incl. ``max_tf`` and
    ``min_dl``, from which impact bounds are derived live at query
    time, so no bound-refill pass exists."""
    d, t, l = decode_block(row)
    keep = ~np.isin(d.astype(np.int64), dead, assume_unique=True)
    if keep.all():
        return row
    if not keep.any():
        return None
    pos = (decode_positions(row["pos_payload"], t)
           if with_positions else None)
    d, t, l = d[keep], t[keep], l[keep]
    deltas = np.empty_like(d)
    deltas[0] = d[0]
    np.subtract(d[1:], d[:-1], out=deltas[1:])
    return {
        **row,
        "first_doc": int(d[0]),
        "last_doc": int(d[-1]),
        "doc_count": int(d.size),
        "sum_tf": int(t.sum()),
        "max_tf": int(t.max()),
        "min_dl": int(l.min()),
        "docs_payload": varint_encode(deltas),
        "tfs_payload": varint_encode(t - np.uint64(1)),
        "dls_payload": varint_encode(l),
        "pos_payload": (encode_positions(
            [p for p, k in zip(pos, keep) if k])
            if with_positions else b""),
    }


def _drop_postings(run: pa.Table, dead: np.ndarray,
                   with_positions: bool) -> pa.Table:
    """A partition's postings run minus the dead docs, rows kept in
    their (term, first_doc) order. Only blocks whose doc range can hold
    a dead id are decoded."""
    if run.num_rows == 0:
        return run
    lo = np.searchsorted(dead, run.column("first_doc").to_numpy())
    hi = np.searchsorted(dead, run.column("last_doc").to_numpy(),
                         side="right")
    touched = np.flatnonzero(hi > lo)
    if touched.size == 0:
        return run
    new_rows, new_at = [], []
    for i, row in zip(touched, run.take(touched).to_pylist()):
        new = _drop_block_docs(row, dead, with_positions)
        if new is not None:
            new_rows.append(new)
            new_at.append(i)
    mask = np.ones(run.num_rows, dtype=bool)
    mask[touched] = False
    kept = np.flatnonzero(mask)
    out = pa.concat_tables([
        run.take(kept),
        pa.Table.from_pylist(new_rows, schema=run.schema)])
    return out.take(np.argsort(np.concatenate(
        [kept, np.asarray(new_at, dtype=np.int64)]), kind="stable"))


def _term_stats_partial(run: pa.Table) -> pa.Table:
    """A partition's (term-sorted) postings run → its df/cf partial, in
    the build's term order: sums over each term's run of blocks."""
    if run.num_rows == 0:
        return _TERM_STATS_SCHEMA.empty_table()
    term = run.column("term").combine_chunks()
    starts = np.flatnonzero(np.r_[True, pc.not_equal(
        term[1:], term[:-1]).to_numpy(zero_copy_only=False)])
    return pa.table({
        "term": term.take(starts),
        "df": np.add.reduceat(
            run.column("doc_count").to_numpy().astype(np.int64), starts),
        "cf": np.add.reduceat(run.column("sum_tf").to_numpy(), starts),
    }, schema=_TERM_STATS_SCHEMA)


# one compaction task's output row per rewritten source partition
_COMPACT_SCHEMA = ("src_part int, docs long, tokens long, postings long, "
                   "dropped long, seconds double, task int")


def _compact_writer(storage: IndexStorage, num_shards: int,
                    with_positions: bool):
    """Grouped-map fn: the tombstoned ids of one source partition K →
    K's files rewritten without those docs, under the same names.

    Data files first (postings, doc_meta, field_lens), then the
    partials re-derived from them (term_stats_parts, fields_part=K),
    then the manifest — the commit, as in the build. A crash anywhere
    leaves a correct index: the tombstones still mask the dead docs and
    the global stats are still the pre-compaction ones; re-running
    ``compact()`` re-derives every file from the (partly) cleaned data,
    so it converges to the same files."""
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        t0 = time.time()
        io = storage.io
        part = int(pdf["src_part"].iloc[0])
        name = f"part={part}.parquet"
        dead = np.unique(pdf["doc_id"].to_numpy(np.int64))

        post_path = os.path.join(storage.postings_dir,
                                 f"shard={part % num_shards}", name)
        run = _drop_postings(io.read_parquet(post_path), dead,
                             with_positions)
        io.write_parquet_atomic(run, post_path)

        def drop_rows(table_dir: str) -> tuple[pa.Table, int]:
            path = os.path.join(table_dir, name)
            t = io.read_parquet(path)
            live = t.filter(pa.array(
                ~np.isin(t.column("doc_id").to_numpy(), dead)))
            io.write_parquet_atomic(live, path)
            return live, t.num_rows - live.num_rows
        dm, dropped = drop_rows(storage.doc_meta_dir)
        fl, _ = drop_rows(storage.field_lens_dir)

        io.write_parquet_atomic(
            _term_stats_partial(run),
            os.path.join(storage.term_stats_parts_dir, name))

        n = dm.num_rows
        fl_field = fl.column("field").to_numpy(zero_copy_only=False)
        fl_dl = fl.column("dl").to_numpy()
        fs_path = os.path.join(storage.manifest_dir,
                               f"fields_part={part}.json")
        io.write_bytes_atomic(fs_path, json.dumps({
            f: (n, int(fl_dl[fl_field == f].sum()))
            for f in json.loads(io.read_bytes(fs_path))}).encode())

        man = json.loads(io.read_bytes(storage.manifest_path(part)))
        man.update({"docs": n, "postings": run.num_rows,
                    "tokens": int(dm.column("doc_len").to_numpy()
                                  .sum(dtype=np.int64))})
        io.write_bytes_atomic(storage.manifest_path(part),
                              json.dumps(man).encode())

        tc = TaskContext.get()
        return pd.DataFrame([{
            "src_part": part, "docs": n, "tokens": man["tokens"],
            "postings": run.num_rows, "dropped": dropped,
            "seconds": time.time() - t0,
            "task": tc.partitionId() if tc is not None else -1}])
    return fn


def upsert_docs(spark: SparkSession, storage: IndexStorage,
                docs: DataFrame) -> None:
    """S3 upsert: tombstone any existing rows with the same
    (repo, path, commit) identity, then append the new versions as an
    incremental batch (delete + append ≈ ES index_safe)."""
    from ..streaming.incremental import append_batch
    keys = docs.select("repo", "path", "commit")
    existing = (storage.doc_meta(spark)
                .join(keys, ["repo", "path", "commit"], "left_semi")
                .select("doc_id"))
    n = existing.count()
    if n:
        existing.write.mode("append").parquet(tombstones_dir(storage))
    append_batch(spark, docs, storage.root, epoch_id=-1)


def export_index(spark: SparkSession, storage: IndexStorage,
                 include_stats: bool = True) -> DataFrame:
    """S6 full export: every live doc's metadata (the reference's
    scroll-based action export, /root/reference/openaleph_search/index/
    export.py:15-96 — Spark is already batch, no scroll machinery)."""
    dm = storage.doc_meta(spark)
    tombs = read_tombstones(spark, storage)
    if tombs is not None:
        dm = dm.join(tombs, "doc_id", "left_anti")
    return dm


def compact(spark: SparkSession, storage: IndexStorage) -> dict:
    """Fold the tombstones in, one source partition at a time.

    One Spark job over the tombstones: ``src_part = doc_id >> 33``,
    ``repartitionById`` puts partition K on task K mod T (as the SPIMI
    build does), and each group rewrites K's files without its dead
    docs (``_compact_writer``). Only partitions holding a deleted doc
    run; the dead-id set travels through the exchange and is never
    collected on the driver. The driver then runs the build's stats
    tail (``commit_stats``) over the per-partition partials and deletes
    the tombstones last.

    Returns the mutation record ``{"parts": [per-partition rows:
    src_part, docs, tokens, postings, dropped, seconds, task],
    "dropped": n, "seconds": s}``, built from the job's own output rows
    (docs/tokens/postings are the partition's counts after the
    rewrite). Raises
    ``ValueError`` on an index an earlier release compacted into
    whole-table files."""
    t0 = time.time()
    storage.require_part_layout()
    if not _has_tombstones(storage):
        return {"parts": [], "dropped": 0, "seconds": time.time() - t0}
    meta = storage.read_meta()
    done = storage.completed_partitions()
    # raw tombstone rows (an id tombstoned twice is deduped in-task)
    dead = (spark.read.parquet(tombstones_dir(storage)).select(
        "doc_id",
        F.shiftright("doc_id", DOC_ID_PART_SHIFT).cast("int")
        .alias("src_part")))
    rows = [r.asDict() for r in
            dead.repartitionById(default_tasks(spark, len(done)),
                                 "src_part")
            .groupBy("src_part")
            .applyInPandas(_compact_writer(storage,
                                           int(meta["num_shards"]),
                                           meta["with_positions"]),
                           _COMPACT_SCHEMA)
            .collect()]  # tiny: one row per rewritten partition
    commit_stats(spark, storage, meta,
                 {**done, **{r["src_part"]: r for r in rows}}.values())
    storage.io.delete_dir(tombstones_dir(storage), missing_ok=True)
    parts = sorted(rows, key=lambda r: r["src_part"])
    return {"parts": parts,
            "dropped": sum(r["dropped"] for r in parts),
            "seconds": time.time() - t0}
