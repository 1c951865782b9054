"""SPIMI build kernel and task placement.

The kernel is checked against an independent reference: per-doc
tokenization turned into per-term posting lists with plain Python
dicts, encoded by ``codec.encode_blocks`` and compared block by block
with what ``build_index`` wrote. Placement is checked through the
``task`` key each manifest row records.
"""
import collections
import glob
import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from openaleph_search_spark.analysis.analyzer import tokenize_flat
from openaleph_search_spark.index import codec
from openaleph_search_spark.index.build import (BIGRAM_FIELD, DEFAULT_FIELDS,
                                                FIELD_SEP, build_index)
from openaleph_search_spark.index.storage import IndexStorage
from openaleph_search_spark.streaming.incremental import append_batch

COLS = "repo string, path string, commit string, lang string, content string"


def _corpus(seed: int, n: int, prefix: str = "") -> pd.DataFrame:
    """Seeded code-like docs over a small skewed vocabulary, so common
    terms span several 128-doc blocks in one source partition."""
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i}" for i in range(300)], dtype=object)
    p = 1.0 / np.arange(1, vocab.size + 1)
    p /= p.sum()
    rows = []
    for i in range(n):
        words = rng.choice(vocab, size=int(rng.integers(0, 60)), p=p)
        rows.append((f"{prefix}repo{i % 7}", f"src/{prefix}f{i}.py",
                     f"c{i % 3}", ["py", "go", "md"][i % 3],
                     " ".join(words)))
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang",
                                       "content"])


def _src_part(spark, pdf: pd.DataFrame, P: int) -> np.ndarray:
    df = spark.createDataFrame(pdf, COLS)
    rows = df.select("path", F.pmod(F.xxhash64("repo", "path", "commit"),
                                    F.lit(P)).alias("p")).collect()
    by_path = {r["path"]: r["p"] for r in rows}
    return pdf["path"].map(by_path).to_numpy()


def _tokens(text: str):
    _, terms, pos = tokenize_flat(pd.Series([text]))
    return list(terms), [int(x) for x in pos]


def _reference(pdf: pd.DataFrame, doc_meta: pd.DataFrame, fields: dict,
               bigrams: bool):
    """(src_part, term) → {doc_id: (positions, dl)} from per-doc
    tokenization, independent of the vectorized kernel."""
    ids = {(r.repo, r.path, r.commit): (r.doc_id, r.src_part)
           for r in doc_meta.itertuples()}
    ref = collections.defaultdict(dict)
    for r in pdf.itertuples():
        doc_id, part = ids[(r.repo, r.path, r.commit)]
        c_terms, c_pos = _tokens(r.content)
        per_field = [("", c_terms, c_pos)]
        for fname, col in sorted(fields.items()):
            t, p = _tokens(getattr(r, col))
            per_field.append((f"{fname}{FIELD_SEP}", t, p))
        if bigrams:
            bi = [(f"{a} {b}", pa_) for a, b, pa_, pb in
                  zip(c_terms, c_terms[1:], c_pos, c_pos[1:])
                  if pb == pa_ + 1]
            per_field.append((f"{BIGRAM_FIELD}{FIELD_SEP}",
                              [t for t, _ in bi], [p for _, p in bi]))
        for prefix, terms, pos in per_field:
            dl = max(pos) + 1 if pos else 0
            for t, p in zip(terms, pos):
                ent = ref[(part, prefix + t)].setdefault(doc_id, ([], dl))
                ent[0].append(p)
    return ref


@pytest.mark.parametrize("with_positions,fields,bigrams", [
    (True, DEFAULT_FIELDS, True),
    (False, {}, False),
])
def test_kernel_matches_encode_blocks(spark, tmp_path, with_positions,
                                      fields, bigrams):
    P = 4
    pdf = _corpus(11, 700)
    # one source partition holds only empty documents
    parts = _src_part(spark, pdf, P)
    pdf.loc[parts == 0, "content"] = ""
    out = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdf, COLS), out,
                num_partitions=P, num_shards=2, fields=fields,
                bigrams=bigrams, with_positions=with_positions)
    st = IndexStorage(out)
    doc_meta = pq.read_table(st.doc_meta_dir).to_pandas()
    ref = _reference(pdf, doc_meta, fields, bigrams)

    schemas = set()
    empty_parts = 0
    for path in sorted(glob.glob(os.path.join(st.postings_dir, "shard=*",
                                              "part=*.parquet"))):
        part = int(os.path.basename(path)[5:-8])
        assert os.path.basename(os.path.dirname(path)) == f"shard={part % 2}"
        tbl = pq.read_table(path)
        schemas.add(tbl.schema.remove_metadata())
        rows = tbl.to_pylist()
        ts = pq.read_table(os.path.join(st.term_stats_parts_dir,
                                        f"part={part}.parquet"))
        schemas.add(ts.schema.remove_metadata())
        if not rows:
            empty_parts += 1
            assert ts.num_rows == 0
            assert not any(k[0] == part for k in ref)
            continue
        # the run is stored in (term, first_doc) order
        keys = [(r["term"], r["first_doc"]) for r in rows]
        assert keys == sorted(keys)
        by_term = collections.defaultdict(list)
        for r in rows:
            by_term[r["term"]].append(r)
        assert set(by_term) == {t for (p, t) in ref if p == part}
        decoded = []
        for term, blocks in by_term.items():
            postings = ref[(part, term)]
            docs = np.array(sorted(postings), dtype=np.uint64)
            pos = [np.array(postings[d][0], dtype=np.uint64)
                   for d in sorted(postings)]
            tfs = np.array([p.size for p in pos], dtype=np.uint64)
            dls = np.array([postings[d][1] for d in sorted(postings)],
                           dtype=np.uint64)
            want = codec.encode_blocks(docs, tfs, dls, None,
                                       positions=pos if with_positions
                                       else None)
            assert len(blocks) == len(want)
            off = 0
            for got, exp in zip(blocks, want):
                for k in ("first_doc", "last_doc", "doc_count", "sum_tf",
                          "max_tf", "min_dl", "docs_payload",
                          "tfs_payload", "dls_payload", "pos_payload"):
                    assert got[k] == exp[k], (part, term, k)
                d, t, l = codec.decode_block(got)
                m = d.size
                assert (d == docs[off:off + m]).all()
                assert (t == tfs[off:off + m]).all()
                assert (l == dls[off:off + m]).all()
                if with_positions:
                    for a, b in zip(codec.decode_positions(
                            got["pos_payload"], t), pos[off:off + m]):
                        assert (a == b).all()
                else:
                    assert got["pos_payload"] == b""
                decoded.append(pd.DataFrame({"term": term, "tf": t}))
                off += m
            assert off == docs.size
        # the term-stat partial is a groupby over the decoded blocks
        dec = pd.concat(decoded)
        want_ts = (dec.groupby("term").agg(df=("tf", "size"),
                                           cf=("tf", "sum"))
                   .reset_index().astype({"df": "int64", "cf": "int64"}))
        got_ts = ts.to_pandas().sort_values("term", ignore_index=True)
        pd.testing.assert_frame_equal(got_ts, want_ts)
    if not fields:
        assert empty_parts == 1
    # empty runs carry the same schemas as non-empty ones
    assert len(schemas) == 2


def _tasks(st: IndexStorage, parts) -> collections.Counter:
    done = st.completed_partitions()
    return collections.Counter(done[p]["task"] for p in parts)


@pytest.mark.parametrize("P,T", [(4, 4), (8, 4)])
def test_each_task_builds_p_over_t_partitions(spark, tmp_path, P, T):
    pdf = _corpus(5, 320)
    out = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdf, COLS), out,
                num_partitions=P, num_shards=2, num_tasks=T)
    st = IndexStorage(out)
    assert sorted(st.completed_partitions()) == list(range(P))
    assert _tasks(st, range(P)) == {t: P // T for t in range(T)}
    # one append epoch: P new source partitions, one per task
    append_batch(spark, spark.createDataFrame(_corpus(6, 160, "new"), COLS),
                 out, 0)
    new = sorted(set(st.completed_partitions()) - set(range(P)))
    assert new == list(range(P, 2 * P))
    assert _tasks(st, new) == {t: 1 for t in range(P)}


def test_manifests_without_task_still_load(spark, tmp_path):
    """Manifests written before rows carried ``task`` stay completed
    partitions: a rebuild resumes from all of them."""
    pdf = _corpus(7, 120)
    out = str(tmp_path / "idx")
    docs = spark.createDataFrame(pdf, COLS)
    build_index(spark, docs, out, num_partitions=4, num_shards=2)
    st = IndexStorage(out)
    for part in range(4):
        path = st.manifest_path(part)
        row = json.loads(st.io.read_bytes(path))
        del row["task"]
        st.io.write_bytes_atomic(path, json.dumps(row).encode())
    done = st.completed_partitions()
    assert sorted(done) == [0, 1, 2, 3]
    assert all("task" not in r for r in done.values())
    meta = build_index(spark, docs, out, num_partitions=4,
                       num_shards=2).read_meta()
    assert meta["resumed_from"] == 4 and meta["n_docs"] == 120
