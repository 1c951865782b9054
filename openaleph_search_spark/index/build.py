"""SPIMI inverted-index build over a source-code document table.

Spark-first re-expression of what the reference delegates to
Elasticsearch at bulk-index time (analysis + inverted index + postings
compression; /root/reference/openaleph_search/index/indexer.py:54-178
drives it, Lucene executes it).  Pipeline:

  docs(repo, path, commit, lang, content)
    │  F.sha2(content) / deterministic src_part (JVM-side)
    ├─ repartitionById(T, src_part)                    ── scatter
    │     source partition p → task p mod T, directly (no hash
    │     placement, no AQE coalescing: every core gets its share)
    ├─ groupBy(src_part).applyInPandas(SPIMI)          ── no 2nd shuffle
    │     tokenize (vectorized analyzer) → int term codes → one
    │     (term, doc, position) sort → per-partition PACKED posting
    │     blocks (≤128 docs, delta+varint docs/tfs/dls/positions, each
    │     payload one varint pass sliced into an Arrow binary column)
    │     write postings/shard=K/part=N.parquet (term-sorted, the
    │     final layout — shard = src_part mod S is constant per task)
    │     + doc_meta/part=N.parquet + term_stats_parts/part=N.parquet
    │     commit manifest/part=N.json   ← per-partition checkpoint
    ├─ global_stats (N, avgdl) from the manifests      ── driver-side
    └─ term_stats: sum of the per-partition term-stat partials

Scale properties (designed for 1000-executor / 100 TB):

* Doc ids are ``(src_part << 33) | row_in_partition`` with rows sorted
  by (repo, path, commit) — deterministic, monotone, no global count
  pass, no driver materialization (SURVEY.md §7.0.2).
* **The merge shuffle moves packed binary blocks, not postings**: SPIMI
  emits one row per (term, ≤128-doc block), so shuffle row count is
  ~|postings|/128 and each row is already compressed. A hot term
  (``the``, ``def``, ``license``) is emitted from every source
  partition independently — doc-range sharding makes the classic
  hot-term salting structural rather than a special case (SURVEY.md
  §7.0.6): no reducer ever sees more than one partition's share of a
  term without wanting to.
* Blocks of one (term, shard) never overlap in doc range across source
  partitions (ids are partition-prefixed), so the "merge" is a sort by
  (term, first_doc) — no re-encoding, no posting-level merge sort.
* Resumability: each source partition commits its run atomically
  (parquet first, manifest JSON last); a re-run prunes completed
  partitions driver-side and step B overwrites idempotently
  (north_rule checkpoint + lineage + per-task metrics).
"""
from __future__ import annotations

import os
import json
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..analysis.analyzer import tokenize_flat
from .codec import (BLOCK_SIZE, K1, B, delta_restarting,
                    varint_binary_array)
from .storage import IndexStorage

DOC_ID_PART_SHIFT = 33  # doc_id = (src_part << 33) | local_row
LAYOUT_VERSION = 6  # bump on any physical-layout / shard-map change
FIELD_SEP = "\x1f"  # term-dictionary field prefix: "path\x1ffoo"
DEFAULT_FIELDS = {"path": "path", "repo": "repo", "lang": "lang"}
BIGRAM_FIELD = "_bi"  # T16 index_phrases shingles (phrase fast path)
TARGET_DOCS_PER_PARTITION = 2500  # auto-sizing cap (see build_index)

DOC_META_SCHEMA = ("doc_id long, repo string, path string, commit string, "
                   "lang string, content_sha256 string, doc_len int, "
                   "src_part int")
MANIFEST_SCHEMA = ("src_part int, status string, docs long, postings long, "
                   "tokens long, seconds double, attempt int, task int")
POSTINGS_SCHEMA = ("term string, shard int, first_doc long, "
                   "last_doc long, doc_count int, sum_tf long, max_tf int, "
                   "min_dl long, docs_payload binary, "
                   "tfs_payload binary, dls_payload binary, "
                   "pos_payload binary")
# one SPIMI task's postings run: POSTINGS_SCHEMA minus ``shard``, which
# the hive directory (shard=K) carries
_POSTINGS_RUN_SCHEMA = pa.schema([
    ("term", pa.string()),
    ("first_doc", pa.int64()), ("last_doc", pa.int64()),
    ("doc_count", pa.int32()), ("sum_tf", pa.int64()),
    ("max_tf", pa.int32()), ("min_dl", pa.int64()),
    ("docs_payload", pa.binary()), ("tfs_payload", pa.binary()),
    ("dls_payload", pa.binary()), ("pos_payload", pa.binary()),
])
_TERM_STATS_SCHEMA = pa.schema([
    ("term", pa.string()), ("df", pa.int64()), ("cf", pa.int64())])
_FIELD_LENS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("field", pa.string()), ("dl", pa.int32())])


def _spimi_writer(storage: IndexStorage, with_positions: bool, attempt: int,
                  shard_of_part, fields: dict[str, str] | None = None,
                  bigrams: bool = False,
                  meta_cols: list[str] | None = None):
    """Grouped-map fn: one source partition → packed block run +
    doc_meta + atomic manifest checkpoint.

    ``fields`` maps extra indexed field names → source columns; their
    terms are stored as ``field␟token`` (FIELD_SEP) with per-field
    lengths, so BM25 norms are per-field like Lucene. ``content`` is
    the unprefixed default field. ``meta_cols`` are UNANALYZED
    passthrough columns stored in doc_meta (filter/sort/facet targets —
    the ES stored-field role for typed metadata like timestamps).
    """
    fields = fields or {}
    meta_cols = meta_cols or []

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        # one executor thread per task is the concurrency model here;
        # Arrow's global CPU pool otherwise defaults to ALL cores in
        # EVERY worker (32 tasks x 32-thread pools oversubscribes the
        # box and inflates per-task time under full parallelism).
        # Scoped to this build task: Python workers are REUSED across
        # jobs, so a sticky global cap would throttle any later Arrow
        # compute (query-path UDFs) sharing the worker — restore on
        # the way out.
        prev_cpu, prev_io = pa.cpu_count(), pa.io_thread_count()
        pa.set_cpu_count(1)
        pa.set_io_thread_count(2)
        try:
            return _fn(pdf)
        finally:
            pa.set_cpu_count(prev_cpu)
            pa.set_io_thread_count(prev_io)

    def _fn(pdf: pd.DataFrame) -> pd.DataFrame:
        t0 = time.time()
        src_part = int(pdf["src_part"].iloc[0])
        shard = int(shard_of_part(src_part))
        pdf = pdf.sort_values(["repo", "path", "commit"], kind="mergesort")
        pdf = pdf.reset_index(drop=True)
        n = len(pdf)
        doc_ids = (np.int64(src_part) << DOC_ID_PART_SHIFT) + np.arange(
            n, dtype=np.int64)

        # All per-token work runs on INT CODES: each part (content,
        # fields, bigrams) factorizes locally, field prefixes attach to
        # the (small) unique sets only — held as Arrow string arrays, so
        # prefixing, bigram joins and the one vocabulary sort run in C++
        # — and no global per-token string factorize/concat happens.
        # Each part's token strings are dropped as soon as they are coded.
        row_parts, code_parts, pos_parts, uniq_parts = [], [], [], []
        # per-field per-doc lengths (Lucene per-field norms); the avgdl
        # denominator is ALL docs (our pinned convention, matching the
        # golden oracles; Lucene divides by docs-with-field)
        field_len_cols: list[tuple[str, np.ndarray]] = []

        def add_part(name, rows, codes, uniq, pos):
            dl = np.zeros(n, dtype=np.int32)
            if rows.size:
                np.maximum.at(dl, rows, (pos + 1).astype(np.int32))
            offset = sum(len(u) for u in uniq_parts)
            field_len_cols.append((name, dl))
            row_parts.append(rows)
            code_parts.append(codes + offset)
            uniq_parts.append(uniq)
            pos_parts.append(pos)

        row_idx, terms, positions = tokenize_flat(pdf["content"])
        c_codes, c_uniq = pd.factorize(terms, sort=False)
        del terms
        c_uniq = pa.array(np.asarray(c_uniq, dtype=object), pa.string())
        add_part("content", row_idx, c_codes, c_uniq, positions)
        for fname, fcol in sorted(fields.items()):
            f_row, f_terms, f_pos = tokenize_flat(pdf[fcol])
            f_codes, f_uniq = pd.factorize(f_terms, sort=False)
            del f_terms
            add_part(fname, f_row, f_codes, pc.binary_join_element_wise(
                f"{fname}{FIELD_SEP}",
                pa.array(np.asarray(f_uniq, dtype=object), pa.string()),
                ""), f_pos)
            del f_row, f_codes, f_pos
        if bigrams and row_idx.size:
            # T16 index_phrases: 2-gram shingles of content as their
            # own field (the phrase fast path; mapping.py:208).
            # Adjacent same-doc tokens only — built from content CODES
            # (int keys), strings materialized per unique bigram only.
            adj = ((row_idx[1:] == row_idx[:-1])
                   & (positions[1:] == positions[:-1] + 1))
            V = np.int64(len(c_uniq))
            bi_key = (c_codes[:-1][adj].astype(np.int64) * V
                      + c_codes[1:][adj])
            bi_codes, bi_uniq_key = pd.factorize(bi_key, sort=False)
            left = c_uniq.take(np.asarray(bi_uniq_key) // V)
            right = c_uniq.take(np.asarray(bi_uniq_key) % V)
            add_part(BIGRAM_FIELD, row_idx[:-1][adj], bi_codes,
                     pc.binary_join_element_wise(
                         f"{BIGRAM_FIELD}{FIELD_SEP}",
                         pc.binary_join_element_wise(left, right, " "),
                         ""), positions[:-1][adj])
            del adj, bi_key, bi_codes, left, right
        del row_idx, positions, c_codes
        content_dl = field_len_cols[0][1]
        field_stats = {name: (n, int(dl.sum()))
                       for name, dl in field_len_cols}

        run, ts = _pack_run(
            row_parts, code_parts, pos_parts, uniq_parts,
            np.stack([dl for _, dl in field_len_cols]), doc_ids,
            with_positions)

        meta = pd.DataFrame({
            "doc_id": doc_ids,
            "repo": pdf["repo"],
            "path": pdf["path"],
            "commit": pdf["commit"],
            "lang": pdf["lang"],
            "content_sha256": pdf["content_sha256"],
            "doc_len": content_dl,
            "src_part": np.full(n, src_part, dtype=np.int32),
            **{c: pdf[c] for c in meta_cols},
        })

        # all direct writes go through storage.io (pyarrow.fs): works on
        # object stores / HDFS, atomic under speculative task attempts
        shard_dir = os.path.join(storage.postings_dir, f"shard={shard}")
        for d in (shard_dir, storage.doc_meta_dir,
                  storage.manifest_dir, storage.term_stats_parts_dir,
                  storage.field_lens_dir):
            storage.io.mkdirs(d)
        # the task writes its single-shard run STRAIGHT into the final
        # hive layout (shard = src_part mod S is constant per task),
        # (term, first_doc)-sorted by construction for rowgroup pruning
        # (LAYOUT v6 — no separate tf_runs spool + JVM re-layout job)
        storage.io.write_parquet_atomic(
            run, os.path.join(shard_dir, f"part={src_part}.parquet"))
        meta_tbl = pa.Table.from_pandas(meta, preserve_index=False)
        for i, fld in enumerate(meta_tbl.schema):
            # Spark cannot read nanosecond parquet timestamps — coerce
            # pandas' default ns unit to µs for meta_cols
            if pa.types.is_timestamp(fld.type) and fld.type.unit == "ns":
                meta_tbl = meta_tbl.set_column(
                    i, fld.name, meta_tbl.column(i).cast(
                        pa.timestamp("us", fld.type.tz)))
        storage.io.write_parquet_atomic(
            meta_tbl,
            os.path.join(storage.doc_meta_dir, f"part={src_part}.parquet"))
        # per-doc per-field lengths (long format, zero rows skipped):
        # compact() needs these to recompute exact per-field avgdl
        # after deletes (the json partials below are pre-delete sums)
        nz = [np.flatnonzero(dl) for _, dl in field_len_cols]
        storage.io.write_parquet_atomic(
            pa.table({
                "doc_id": np.concatenate([doc_ids[i] for i in nz]),
                "field": np.repeat([name for name, _ in field_len_cols],
                                   [i.size for i in nz]).astype(object),
                "dl": np.concatenate(
                    [dl[i] for i, (_, dl) in zip(nz, field_len_cols)]),
            }, schema=_FIELD_LENS_SCHEMA),
            os.path.join(storage.field_lens_dir,
                         f"part={src_part}.parquet"))
        # per-partition term-stat partials: the global term dictionary
        # aggregation then runs over tiny pre-combined rows
        storage.io.write_parquet_atomic(
            ts, os.path.join(storage.term_stats_parts_dir,
                             f"part={src_part}.parquet"))

        # per-field (docs, tokens) partials → global per-field avgdl
        storage.io.write_bytes_atomic(
            os.path.join(storage.manifest_dir,
                         f"fields_part={src_part}.json"),
            json.dumps(field_stats).encode())

        tc = TaskContext.get()
        row = {
            "src_part": src_part, "status": "done", "docs": n,
            "postings": run.num_rows, "tokens": int(content_dl.sum()),
            "seconds": time.time() - t0, "attempt": attempt,
            "task": tc.partitionId() if tc is not None else -1,
        }
        # JSON manifest written LAST = the atomic per-partition commit.
        storage.io.write_bytes_atomic(storage.manifest_path(src_part),
                                      json.dumps(row).encode())
        return pd.DataFrame([row])

    return fn


def _pack_run(row_parts: list, code_parts: list, pos_parts: list,
              uniq_parts: list, field_dl: np.ndarray, doc_ids: np.ndarray,
              with_positions: bool):
    """One source partition's tokens → (postings run, term-stat
    partial) as Arrow tables.

    Part ``k`` (content, each field, bigrams) has tokens
    ``row_parts[k]``/``code_parts[k]``/``pos_parts[k]``, term strings
    ``uniq_parts[k]`` (codes index the concatenated vocabulary) and
    per-row lengths ``field_dl[k]``. The token lists are merged into
    int32 arrays and cleared, so every token-level array is freed as
    soon as the next stage no longer needs it.

    One (term, row, position) sort puts the tokens term-major with docs
    ascending (doc ids are monotone in row), so every (doc, term) group,
    every ≤BLOCK_SIZE block and every term is a contiguous slice of the
    same flat arrays: each payload is ONE varint pass sliced per block
    into an Arrow binary column, the block stats are ``reduceat``s over
    group slices and the term-stat partial a ``reduceat`` over each
    term's blocks. The run comes out in (term, first_doc) order, the
    final on-disk order."""
    def merged(parts: list) -> np.ndarray:
        out = np.concatenate(parts, dtype=np.int32)
        parts.clear()
        return out
    row_idx = merged(row_parts)
    if row_idx.size == 0:
        return (_POSTINGS_RUN_SCHEMA.empty_table(),
                _TERM_STATS_SCHEMA.empty_table())
    uniq = pa.concat_arrays(uniq_parts)
    field_of_code = np.repeat(np.arange(len(uniq_parts)),
                              [len(u) for u in uniq_parts])
    # rank the vocabulary: codes ascend with the term strings (UTF-8
    # byte order is code-point order, the order of Python's ``sorted``)
    vorder = pc.sort_indices(uniq).to_numpy()
    rank = np.empty(vorder.size, dtype=np.int32)
    rank[vorder] = np.arange(vorder.size, dtype=np.int32)
    codes = rank[merged(code_parts)]
    field_of_code = field_of_code[vorder]
    terms = uniq.take(vorder)
    del uniq, vorder, rank

    # (term, doc) aggregation: sort by (code, row[, pos]), run-length
    if with_positions:
        positions = merged(pos_parts)
        order = np.lexsort((positions, row_idx, codes))
        p = positions[order]
        del positions
    else:
        order = np.lexsort((row_idx, codes))
        p = None
    c = codes[order]
    r = row_idx[order]
    del codes, row_idx, order
    new_grp = np.empty(c.size, dtype=bool)
    new_grp[0] = True
    np.not_equal(c[1:], c[:-1], out=new_grp[1:])
    new_grp[1:] |= r[1:] != r[:-1]
    starts = np.flatnonzero(new_grp)  # token offset of each group
    del new_grp
    g_tf = np.diff(starts, append=c.size)
    g_code = c[starts]
    g_row = r[starts]
    del c, r
    g_doc = doc_ids[g_row]
    g_dl = field_dl[field_of_code[g_code], g_row].astype(np.int64)
    del g_row

    # block boundaries (group index space): every term's groups are cut
    # into ≤BLOCK_SIZE slices
    t_bounds = np.flatnonzero(np.r_[True, g_code[1:] != g_code[:-1]])
    lens = np.diff(t_bounds, append=g_code.size)
    nblk = (lens + BLOCK_SIZE - 1) // BLOCK_SIZE
    t_blk = np.cumsum(nblk) - nblk  # first block of each term
    term_of = np.repeat(np.arange(t_bounds.size), nblk)
    blk_lo = (t_bounds[term_of]
              + (np.arange(term_of.size) - t_blk[term_of]) * BLOCK_SIZE)
    blk_hi = np.minimum(blk_lo + BLOCK_SIZE, (t_bounds + lens)[term_of])
    del term_of

    if p is not None:
        # positions delta within each (doc, term) group; a block's
        # payload is its groups' token range
        pos_payload = varint_binary_array(delta_restarting(p, starts),
                                          starts[blk_lo])
        del p
    else:
        pos_payload = varint_binary_array(np.empty(0, np.uint64),
                                          np.zeros(blk_lo.size, np.int64))
    sum_tf = np.add.reduceat(g_tf, blk_lo)
    run = pa.table({
        "term": terms.take(g_code[blk_lo]),
        "first_doc": g_doc[blk_lo],
        "last_doc": g_doc[blk_hi - 1],
        "doc_count": (blk_hi - blk_lo).astype(np.int32),
        "sum_tf": sum_tf,
        "max_tf": np.maximum.reduceat(g_tf, blk_lo).astype(np.int32),
        "min_dl": np.minimum.reduceat(g_dl, blk_lo),
        "docs_payload": varint_binary_array(
            delta_restarting(g_doc, blk_lo), blk_lo),
        "tfs_payload": varint_binary_array(
            g_tf.astype(np.uint64) - np.uint64(1), blk_lo),
        "dls_payload": varint_binary_array(g_dl, blk_lo),
        "pos_payload": pos_payload,
    }, schema=_POSTINGS_RUN_SCHEMA)
    ts = pa.table({
        "term": terms.take(g_code[t_bounds]),
        "df": lens.astype(np.int64),
        "cf": np.add.reduceat(sum_tf, t_blk),
    }, schema=_TERM_STATS_SCHEMA)
    return run, ts


def run_spimi(storage: IndexStorage, docs: DataFrame, num_partitions: int,
              num_shards: int, with_positions: bool,
              fields: dict[str, str], bigrams: bool, meta_cols: list[str],
              attempt: int = 1, base_part: int = 0, skip=(),
              num_tasks: int | None = None) -> list[dict]:
    """The SPIMI job shared by bulk builds and appends: docs → source
    partitions ``base_part + pmod(xxhash64(repo, path, commit), P)``
    (``skip`` lists already-committed ones) → one ``_spimi_writer``
    group each → manifest rows.

    Task granularity: source partition ``p`` runs on task ``p mod T``
    (``repartitionById``). The exchange carries its own partition count
    and AQE never coalesces it (its origin is REPARTITION_BY_NUM), so no
    session conf is pinned. Hash placement (``groupBy`` alone) would
    scatter groups by ``pmod(murmur3(p), T)`` — several groups on one
    task and idle cores beside it — and AQE would coalesce its small
    map output into even fewer tasks, whereas the cost driver is the
    per-GROUP Python tokenize+encode work, not bytes. ``T`` defaults to
    a handful of groups per task at most: enough tasks for wave balance
    (≥4 per core), few enough that the ~0.3 s/group UDF work amortizes
    the per-Python-task fixed cost (~50-150 ms)."""
    P = num_partitions
    if num_tasks is None:
        num_tasks = min(P, max(32, 4 * docs.sparkSession.sparkContext
                               .defaultParallelism))
    base_cols = ["repo", "path", "commit", "lang", "content"]
    extra = [c for c in {*fields.values(), *meta_cols}
             if c not in base_cols]
    prepared = docs.select(
        *base_cols, *extra,
        F.sha2(F.col("content"), 256).alias("content_sha256"),
        (F.lit(base_part) + F.pmod(F.xxhash64("repo", "path", "commit"),
                                   F.lit(P))).cast("int").alias("src_part"),
    )
    if skip:
        prepared = prepared.filter(~F.col("src_part").isin(list(skip)))
    # shard = src_part mod S: stable under later appends (new parts get
    # ids above P and map into the same shard space); blocks within a
    # (term, shard) stay disjoint+sorted because doc ids are
    # partition-prefixed
    writer = _spimi_writer(storage, with_positions, attempt,
                           lambda sp: sp % num_shards, fields, bigrams,
                           meta_cols)
    rows = (prepared.repartitionById(int(num_tasks), "src_part")
            .groupBy("src_part").applyInPandas(writer, MANIFEST_SCHEMA)
            .collect())  # tiny: one row per partition
    return [r.asDict() for r in rows]


def field_of_term(term: str) -> str:
    i = term.find(FIELD_SEP)
    return term[:i] if i >= 0 else "content"


def build_index(spark: SparkSession, docs: DataFrame, index_dir: str,
                num_partitions: int | None = None, num_shards: int = 8,
                with_positions: bool = True, resume: bool = True,
                attempt: int = 1,
                fields: dict[str, str] | None = None,
                bigrams: bool = False,
                meta_cols: list[str] | None = None,
                b_by_field: dict[str, float] | None = None,
                phase_log: dict | None = None,
                num_tasks: int | None = None,
                ) -> IndexStorage:
    """Build (or resume) the inverted index for a docs table.

    ``docs`` must have columns (repo, path, commit, lang, content) —
    the BASELINE.json ``input_hint`` shape. ``fields`` adds extra
    indexed fields (name → source column); default: path/repo/lang
    (the reference's multi-field model, queries.py:112-118).
    ``meta_cols`` are unanalyzed typed columns (dates, numbers) stored
    in doc_meta for filter/range/sort/facet use (ES doc_values role).
    ``b_by_field`` overrides the BM25 length-normalization ``b`` per
    field (the reference pins ``weak_length_norm`` b=0.25 on the name
    field — openaleph_search/index/util.py:83-90, mapping.py:227);
    fields not listed use the global ``B``. Pure query-time scoring
    config: stored in meta.json only, so no LAYOUT_VERSION bump and
    appends/compaction are unaffected (impact bounds are live).
    """
    if fields is None:
        fields = DEFAULT_FIELDS
    ph = phase_log if phase_log is not None else {}
    _t = time.time()

    def _mark(name):
        nonlocal _t
        now = time.time()
        ph[name] = round(ph.get(name, 0.0) + (now - _t), 3)
        _t = now
    meta_cols = meta_cols or []
    b_by_field = {k: float(v) for k, v in (b_by_field or {}).items()}
    for fname, bv in b_by_field.items():
        if not 0.0 <= bv <= 1.0:
            raise ValueError(f"b_by_field[{fname!r}]={bv} outside [0,1]")
    storage = IndexStorage(index_dir)
    if num_partitions is None:
        # bound docs per TASK, not tasks per core: oversized partitions
        # put every worker in the fresh-allocation memory regime and
        # collapse wide-SMP scaling (measured 3× build throughput at 32
        # threads going from 10k-doc to 2.5k-doc tasks); small tasks
        # also balance load and shrink the resume/checkpoint unit
        n = docs.count()
        num_partitions = max(spark.sparkContext.defaultParallelism, 4,
                             -(-n // TARGET_DOCS_PER_PARTITION))
    P = num_partitions

    done = storage.completed_partitions() if resume else {}
    _mark("setup")

    # ---- step A: SPIMI packed-block runs, checkpointed per partition ----
    new_rows = run_spimi(storage, docs, P, num_shards, with_positions,
                         fields, bigrams, meta_cols, attempt=attempt,
                         skip=list(done), num_tasks=num_tasks)
    _mark("spimi_job")

    # ---- global stats: free — summed from the manifest checkpoints
    # (docs + token counts are per-partition lineage metrics) -------------
    all_manifests = list(done.values()) + new_rows
    n_docs = sum(m["docs"] for m in all_manifests)
    total_tokens = sum(m["tokens"] for m in all_manifests)
    avgdl = (total_tokens / n_docs) if n_docs else 0.0
    avgdl_by_field = _read_field_stats(storage)
    _mark("field_stats")

    if n_docs == 0:
        # empty corpus: materialize empty tables so readers work
        # no partitionBy: an empty partitioned write leaves no schema
        (spark.createDataFrame([], POSTINGS_SCHEMA).write
         .mode("overwrite").parquet(storage.postings_dir))
        (spark.createDataFrame([], "term string, df long, cf long")
         .write.mode("overwrite").parquet(storage.term_stats_dir))
        (spark.createDataFrame([], DOC_META_SCHEMA).write
         .mode("overwrite").parquet(
             os.path.join(storage.doc_meta_dir, "part=empty.parquet")))
        storage.write_meta({
            "num_partitions": P, "num_shards": num_shards,
            "block_size": BLOCK_SIZE, "k1": K1, "b": B,
        "b_by_field": b_by_field,
            "with_positions": with_positions, "n_docs": 0, "avgdl": 0.0,
            "avgdl_by_field": {}, "fields": sorted(["content", *fields]),
            "field_map": fields,
            "meta_cols": meta_cols,
            "bigrams": bigrams,
            "analyzer": "icu-default-v1",
            "layout_version": LAYOUT_VERSION,
            "built_partitions": 0, "resumed_from": 0,
        })
        return storage

    # ---- no step B: each SPIMI task wrote its (term, first_doc)-sorted
    # single-shard run STRAIGHT into postings/shard=K/ (LAYOUT v6) —
    # the former full read+rewrite re-layout job is gone from the build
    # critical path. Impact bounds are computed LIVE at query time from
    # each block's stored (max_tf, min_dl) — a true upper bound under
    # ANY collection stats, so appends/compactions never invalidate
    # pruning. Blocks of one (term, shard) stay doc-range disjoint
    # across part files (partition-prefixed doc ids), so the executor's
    # sort-by-first_doc merge needs no re-encode.

    # ---- term stats (global df/cf — unlike ES's per-shard idf) over the
    # per-partition partials written in step A ---------------------------
    aggregate_term_stats(spark, storage)
    _mark("term_stats")

    storage.write_meta({
        "num_partitions": P, "num_shards": num_shards,
        "block_size": BLOCK_SIZE, "k1": K1, "b": B,
        "b_by_field": b_by_field,
        "with_positions": with_positions, "n_docs": n_docs, "avgdl": avgdl,
        "avgdl_by_field": avgdl_by_field,
        "fields": sorted(["content", *fields]),
        "field_map": fields,
        "meta_cols": meta_cols,
        "bigrams": bigrams,
        "analyzer": "icu-default-v1",
        "layout_version": LAYOUT_VERSION,
        "built_partitions": len(done) + len(new_rows),
        "resumed_from": len(done),
    })
    _mark("write_meta")
    return storage


# below this, the partials fit trivially in driver memory and a whole
# Spark job (schedule + shuffle + commit) is pure fixed overhead
_TERM_STATS_DRIVER_BYTES = 256 * 1024 * 1024


def aggregate_term_stats(spark: SparkSession,
                         storage: IndexStorage) -> None:
    """Global term dictionary (df/cf) from the per-partition partials.

    Adaptive execution: the partials are pre-combined per source
    partition (≤ |vocab| rows each), so at small-to-medium scale the
    whole aggregation is a driver-side pyarrow group_by — no Spark job,
    no shuffle, no per-job fixed latency. Past a size threshold (100-TB
    builds: vocab × partitions rows) it stays a distributed groupBy."""
    names = [n for n in storage.io.listdir(storage.term_stats_parts_dir)
             if n.endswith(".parquet")]
    paths = [os.path.join(storage.term_stats_parts_dir, n)
             for n in names]
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=16) as pool:
        total = sum(pool.map(storage.io.file_size, paths))
    if total <= _TERM_STATS_DRIVER_BYTES:
        # threaded reads: this runs serially on the driver right after
        # the build job — at small scale it was ~1.5 s of one-file-at-
        # a-time I/O on the critical path (pure fixed cost against the
        # N→4N scaling target)
        with ThreadPoolExecutor(max_workers=16) as pool:
            tables = list(pool.map(storage.io.read_parquet, paths))
        merged = (pa.concat_tables(tables)
                  .group_by("term")
                  .aggregate([("df", "sum"), ("cf", "sum")])
                  .rename_columns(["term", "df", "cf"]))
        storage.io.mkdirs(storage.term_stats_dir)
        for n in [x for x in storage.io.listdir(storage.term_stats_dir)
                  if x.endswith(".parquet")]:
            storage.io.delete_file(
                os.path.join(storage.term_stats_dir, n))
        storage.io.write_parquet_atomic(
            merged, os.path.join(storage.term_stats_dir,
                                 "part=all.parquet"))
        return
    (spark.read.parquet(
        os.path.join(storage.term_stats_parts_dir, "*.parquet"))
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        .write.mode("overwrite").parquet(storage.term_stats_dir))


def _read_field_stats(storage: IndexStorage) -> dict[str, float]:
    """Per-field avgdl from the per-partition field-stat jsons
    (parallel driver-side reads — see storage.read_json_files)."""
    totals: dict[str, list[int]] = {}
    for stats in storage.read_json_files(storage.manifest_dir,
                                         "fields_part="):
        for fname, (docs_f, toks_f) in stats.items():
            t = totals.setdefault(fname, [0, 0])
            t[0] += docs_f
            t[1] += toks_f
    return {f: (t[1] / t[0] if t[0] else 0.0)
            for f, t in totals.items()}
