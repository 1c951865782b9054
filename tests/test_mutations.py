"""Index mutation tests: tombstone deletes (S4/S5), compaction,
streaming append (incremental maintenance), spark-submit packaging."""
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from openaleph_search_spark.index.build import build_index
from openaleph_search_spark.index.mutate import (
    compact, delete_by_ids, delete_docs, read_tombstones)
from openaleph_search_spark.index.storage import IndexStorage
from openaleph_search_spark.query.engine import Engine


@pytest.fixture()
def mutable_index(spark, fixture_docs_df, tmp_path):
    out = str(tmp_path / "idx_mut")
    build_index(spark, fixture_docs_df, out, num_partitions=4, num_shards=2)
    return out


def test_delete_by_query_tombstones(spark, mutable_index):
    eng = Engine(spark, mutable_index)
    assert eng.count({"q": "banana"}) == 2
    st = IndexStorage(mutable_index)
    n = delete_docs(spark, st, F.col("lang") == "go")
    assert n == 1  # crime.go is the only go doc
    eng2 = Engine(spark, mutable_index)  # fresh engine sees tombstones
    assert eng2.count({"q": "banana"}) == 1
    res = eng2.search({"q": "banana", "limit": 10})
    assert all(r["lang"] != "go" for r in res.hit_rows(0, 10))
    # match_all excludes them too
    assert eng2.search({"limit": 100}, with_total=True).total == 9


def test_delete_idempotent(spark, mutable_index):
    st = IndexStorage(mutable_index)
    n1 = delete_by_ids(spark, st, [0])
    n2 = delete_by_ids(spark, st, [0])
    assert n1 == 1 and n2 == 0


def test_compact_folds_tombstones(spark, mutable_index, fixture_docs_df):
    st = IndexStorage(mutable_index)
    delete_docs(spark, st, F.col("lang") == "txt")
    compact(spark, st)
    assert read_tombstones(spark, st) is None
    eng = Engine(spark, mutable_index)
    assert eng.search({"limit": 100}, with_total=True).total == \
        fixture_docs_df.filter("lang != 'txt'").count()
    # postings physically gone + stats refreshed
    meta = st.read_meta()
    assert meta["n_docs"] == 5
    # scores against a fresh oracle over the surviving docs
    assert eng.count({"q": "banana"}) == 1  # only crime.go survives


def test_streaming_append(spark, fixture_docs_df, tmp_path):
    from openaleph_search_spark.streaming.incremental import append_batch
    out = str(tmp_path / "idx_stream")
    first = fixture_docs_df.filter(F.col("repo") != "r3")
    build_index(spark, first, out, num_partitions=4, num_shards=2)
    eng = Engine(spark, out)
    n0 = eng.search({"limit": 100}, with_total=True).total
    # append the remaining docs as a micro-batch
    batch = fixture_docs_df.filter(F.col("repo") == "r3")
    append_batch(spark, batch, out, epoch_id=0)
    eng2 = Engine(spark, out)
    assert eng2.search({"limit": 100}, with_total=True).total == \
        n0 + batch.count()
    # newly appended content is searchable with correct global stats
    res = eng2.search({"q": "kwazulu", "limit": 10})
    paths = {r["path"] for r in res.hit_rows(0, 10)}
    assert "c/long.rs" in paths and "a/kwazulu.txt" in paths
    meta = IndexStorage(out).read_meta()
    assert meta["n_docs"] == n0 + batch.count()


def test_streaming_query_e2e(spark, fixture_docs_df, tmp_path):
    """readStream → foreachBatch append sink → searchable index."""
    from openaleph_search_spark.streaming.incremental import stream_index
    src_dir = str(tmp_path / "stream_src")
    out = str(tmp_path / "idx_stream2")
    build_index(spark, fixture_docs_df.limit(2), out,
                num_partitions=2, num_shards=2)
    batch = fixture_docs_df.filter(F.col("path") == "b/manafort.js")
    batch.write.mode("overwrite").parquet(src_dir)
    stream = (spark.readStream.schema(batch.schema).parquet(src_dir))
    q = stream_index(spark, stream, out,
                     checkpoint_dir=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    eng = Engine(spark, out)
    res = eng.search({"q": "manafort", "limit": 10})
    assert [r["path"] for r in res.hit_rows(0, 10)] == ["b/manafort.js"]


def test_streaming_percolation_e2e(spark, fixture_docs_df, tmp_path):
    """readStream → registered-watchlist percolation → parquet alert
    sink; alert rows equal the batch operator's on the same docs."""
    from openaleph_search_spark.query.percolate import (
        percolate_docs, load_watchlist, register_watchlist)
    from openaleph_search_spark.streaming.percolate import alert_stream
    out = str(tmp_path / "idx_perc")
    build_index(spark, fixture_docs_df.limit(2), out,
                num_partitions=2, num_shards=2)
    storage = IndexStorage(out)
    register_watchlist(storage, [
        {"entity_id": "e-banana", "names": ["banana crime"],
         "other_names": ["banana"]},
        {"entity_id": "e-kwazulu", "names": ["KwaZulu Natal"]},
    ])
    src_dir = str(tmp_path / "perc_src")
    fixture_docs_df.write.mode("overwrite").parquet(src_dir)
    stream = (spark.readStream
              .schema(fixture_docs_df.schema).parquet(src_dir))
    q = alert_stream(spark, stream, out,
                     checkpoint_dir=str(tmp_path / "perc_ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    alerts = spark.read.parquet(os.path.join(out, "alerts"))
    want = percolate_docs(fixture_docs_df, load_watchlist(storage))
    key = ["repo", "path", "commit", "entity_id"]
    got_rows = {tuple(r[k] for k in key): round(r["score"], 9)
                for r in alerts.collect()}
    want_rows = {tuple(r[k] for k in key): round(r["score"], 9)
                 for r in want.collect()}
    assert got_rows == want_rows
    assert any(e == "e-banana" for *_, e in got_rows)
    assert any(e == "e-kwazulu" for *_, e in got_rows)


def test_spark_submit_packaging(tmp_path):
    """north_rule: runs via spark-submit --py-files <zip>."""
    sys.path.insert(0, "/root/repo/scripts")
    from package import build_zip
    z = build_zip(str(tmp_path / "pkg.zip"))
    assert os.path.exists(z)
    env = {**os.environ, "PYTHONPATH": z}
    out = subprocess.run(
        [sys.executable, "/root/repo/openaleph_search_spark/cli.py",
         "analyze", "Félix café"],
        capture_output=True, text=True, env=env, cwd=str(tmp_path))
    assert out.returncode == 0, out.stderr
    assert '["felix", 0]' in out.stdout


def _hits(eng, args, n=20):
    res = eng.search({**args, "limit": n})
    return [(r["path"], round(r["score"], 9)) for r in res.hit_rows(0, n)]


def test_append_preserves_field_config(spark, fixture_docs_df, tmp_path):
    """Regression (ADVICE r1): append_batch must reuse the base build's
    fields/bigrams config — appended docs get path/repo/lang postings
    and bigram shingles, and results equal a from-scratch build."""
    from openaleph_search_spark.streaming.incremental import append_batch
    inc = str(tmp_path / "idx_inc")
    full = str(tmp_path / "idx_full")
    first = fixture_docs_df.filter(F.col("repo") != "r3")
    batch = fixture_docs_df.filter(F.col("repo") == "r3")
    build_index(spark, first, inc, num_partitions=4, num_shards=2,
                bigrams=True)
    append_batch(spark, batch, inc, epoch_id=0)
    build_index(spark, fixture_docs_df, full, num_partitions=4,
                num_shards=2, bigrams=True)
    e_inc, e_full = Engine(spark, inc), Engine(spark, full)
    # fielded query hits the APPENDED doc (c/long.rs has path tokens)
    assert ("c/long.rs", ) [0] in [p for p, _ in
                                   _hits(e_inc, {"q": "path:long"})]
    # per-field scores identical to the from-scratch build
    for q in ("path:long", "repo:r3", "lang:rs",
              '"kwazulu natal"', "banana OR kwazulu"):
        assert _hits(e_inc, {"q": q}) == _hits(e_full, {"q": q}), q
    meta = IndexStorage(inc).read_meta()
    assert meta["avgdl_by_field"].keys() == \
        IndexStorage(full).read_meta()["avgdl_by_field"].keys()


def test_compact_refreshes_per_field_stats(spark, fixture_docs_df,
                                           tmp_path):
    """Regression (ADVICE r1): compact must recompute avgdl_by_field and
    re-fill every block bound, so post-compact results equal a fresh
    build over the surviving docs (and pruning is re-enabled)."""
    comp = str(tmp_path / "idx_comp")
    fresh = str(tmp_path / "idx_fresh")
    build_index(spark, fixture_docs_df, comp, num_partitions=4,
                num_shards=2, bigrams=True)
    st = IndexStorage(comp)
    delete_docs(spark, st, F.col("repo") == "r3")
    compact(spark, st)
    survivors = fixture_docs_df.filter(F.col("repo") != "r3")
    build_index(spark, survivors, fresh, num_partitions=4, num_shards=2,
                bigrams=True)
    e_c, e_f = Engine(spark, comp), Engine(spark, fresh)
    for q in ("banana", "path:banana", '"banana crime"',
              "banana OR manafort", "lang:txt"):
        assert _hits(e_c, {"q": q}) == _hits(e_f, {"q": q}), q
    m_c = st.read_meta()
    m_f = IndexStorage(fresh).read_meta()
    for f, a in m_f["avgdl_by_field"].items():
        assert abs(m_c["avgdl_by_field"].get(f, 0.0) - a) < 1e-9, f
    # impact bounds are live-derived from (max_tf, min_dl): the
    # compacted postings carry refreshed min_dl per modified block
    import pyspark.sql.functions as _F
    assert IndexStorage(comp).postings(spark).filter(
        _F.col("min_dl") <= 0).count() == 0


def test_append_grown_avgdl_disables_pruning_soundly(
        spark, fixture_docs_df, tmp_path):
    """Appending long docs grows avgdl; results must STILL be exact —
    impact bounds recompute live from (max_tf, min_dl) against the new
    stats, so pruning stays on AND sound."""
    from openaleph_search_spark.streaming.incremental import append_batch
    inc = str(tmp_path / "idx_grow")
    full = str(tmp_path / "idx_grow_full")
    short = fixture_docs_df.filter(F.col("path") != "c/long.rs")
    long_doc = fixture_docs_df.filter(F.col("path") == "c/long.rs")
    build_index(spark, short, inc, num_partitions=4, num_shards=2)
    append_batch(spark, long_doc, inc, epoch_id=0)
    build_index(spark, fixture_docs_df, full, num_partitions=4,
                num_shards=2)
    e_inc, e_full = Engine(spark, inc), Engine(spark, full)
    for q in ("kwazulu", "banana OR kwazulu", "path:long"):
        assert _hits(e_inc, {"q": q}) == _hits(e_full, {"q": q}), q


def test_streaming_windowed_counts(spark, tmp_path):
    """Watermarked windowed aggregation over a streaming source equals
    the batch computation of the same frame."""
    from openaleph_search_spark.streaming.windows import (
        windowed_event_counts)
    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .select("ts", "event_type").limit(500))
    src = str(tmp_path / "ev_src")
    ev.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = windowed_event_counts(stream, window="1 hour",
                                watermark="2 hours")
    q = (out.writeStream.format("memory").queryName("winagg")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r["window_start"], r["event_type"]): r["count"]
           for r in spark.sql("select * from winagg").collect()}
    want = {(r["window_start"], r["event_type"]): r["count"]
            for r in windowed_event_counts(
                spark.read.parquet(src), window="1 hour").collect()}
    assert got == want and got


def test_streaming_sessionize_stateful(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): gap-based
    sessions — events ≤ gap apart share a session, larger gaps split."""
    import datetime as dt
    from openaleph_search_spark.streaming.windows import sessionize
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [("u1", t0), ("u1", t0 + dt.timedelta(minutes=5)),
            ("u1", t0 + dt.timedelta(minutes=90)),   # new session
            ("u2", t0 + dt.timedelta(minutes=1))]
    src_df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    src = str(tmp_path / "sess_src")
    src_df.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(src_df.schema).parquet(src)
    out = sessionize(stream, gap="30 minutes", idle_timeout="1 hour")
    q = (out.writeStream.format("memory").queryName("sess")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ck2"))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("select * from sess").collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["key"], []).append(
            (r["session_start"], r["session_end"], r["n_events"],
             r["closed"]))
    # u1: first session (2 events) closed by the 90-min gap; second
    # session (1 event) still open; u2: one open session
    u1 = sorted(by_key["u1"])
    assert any(n == 2 and closed for _, _, n, closed in u1)
    assert any(n == 1 and not closed for _, _, n, closed in u1)
    assert len(by_key["u2"]) == 1 and by_key["u2"][0][2] == 1


def test_engine_export_filtered_projected(spark, fixture_docs_df,
                                          tmp_path):
    """S6 enrichment (reference test_export.py shapes): query-filtered
    export, excluded fields, auth, tombstone subtraction."""
    from pyspark.sql import functions as F
    from openaleph_search_spark.index.build import build_index
    from openaleph_search_spark.query.auth import SearchAuth
    from openaleph_search_spark.query.engine import Engine
    out = str(tmp_path / "idx_exp")
    build_index(spark, fixture_docs_df, out, num_partitions=4,
                num_shards=2)
    eng = Engine(spark, out)
    # full export = all docs
    assert eng.export().count() == fixture_docs_df.count()
    # query-filtered export
    got = {r["path"] for r in eng.export({"q": "banana"}).collect()}
    assert got == {"a/banana.txt", "b/crime.go"}
    # filters + excluded fields
    sub = eng.export({"filter:lang": "txt"},
                     exclude_fields=["content_sha256", "src_part"])
    assert "content_sha256" not in sub.columns
    assert sub.count() == fixture_docs_df.filter("lang = 'txt'").count()
    # include_fields keeps doc_id implicitly
    inc = eng.export(include_fields=["path"])
    assert set(inc.columns) == {"doc_id", "path"}
    # auth restricts the export
    assert eng.export(auth=SearchAuth(datasets={"r1"}, logged_in=True)
                      ).count() == \
        fixture_docs_df.filter("repo = 'r1'").count()
    # tombstoned docs never export
    st = IndexStorage(out)
    delete_docs(spark, st, F.col("lang") == "go")
    assert Engine(spark, out).export({"q": "banana"}).count() == 1


def test_cli_export_compact_roundtrip(spark, fixture_docs_df, tmp_path):
    """CLI surface: build → export → delete → compact → export, all
    through the argparse entry (in-process; spark-submit packaging is
    covered separately)."""
    import json as _json
    from openaleph_search_spark import cli
    docs_dir = str(tmp_path / "cli_docs")
    idx = str(tmp_path / "cli_idx")
    exp = str(tmp_path / "cli_exp")
    fixture_docs_df.write.mode("overwrite").parquet(docs_dir)

    import io
    from contextlib import redirect_stdout

    def run(*argv):
        buf = io.StringIO()
        with redirect_stdout(buf):
            rc = cli.main(list(argv))
        assert rc == 0
        return buf.getvalue().strip().splitlines()

    run("build", "--input", docs_dir, "--output", idx,
        "--partitions", "4", "--shards", "2")
    out = run("export", "--index", idx, "--q", "banana",
              "--output", exp, "--exclude-fields", "content_sha256")
    assert _json.loads(out[-1])["exported"] == 2
    exported = spark.read.parquet(exp)
    assert "content_sha256" not in exported.columns
    run("delete", "--index", idx, "--filter", "lang=go")
    run("compact", "--index", idx)
    out2 = run("export", "--index", idx, "--q", "banana",
               "--output", exp + "2")
    assert _json.loads(out2[-1])["exported"] == 1

    out_s = run("stats", "--index", idx)
    st = _json.loads(out_s[-1])
    assert st["n_docs"] == 10 - 1 and st["n_terms"] > 50  # post-compact
    out_e = run("explain", "--index", idx, "--q", "banana AND crime")
    assert _json.loads(out_e[-1])["strategy"] == "topk_scatter_gather"

    # register-once / percolate-many through the CLI
    wl = str(tmp_path / "wl.jsonl")
    with open(wl, "w") as f:
        f.write(_json.dumps({"entity_id": "w1",
                             "names": ["Banana Crime"]}) + "\n")
    out3 = run("register-watchlist", "--index", idx,
               "--watchlist", wl)
    assert _json.loads(out3[-1])["registered"] == 1
    alerts_dir = str(tmp_path / "cli_alerts")
    out4 = run("percolate", "--index", idx, "--input", docs_dir,
               "--output", alerts_dir)
    assert _json.loads(out4[-1])["alerts"] >= 1
    alerts = spark.read.parquet(alerts_dir)
    assert ("w1", "b/crime.go") in {
        (r["entity_id"], r["path"]) for r in alerts.collect()}


def test_streaming_dedup_stateful(spark, tmp_path):
    """Streaming exact dedup: one copy per distinct hash ever emitted
    non-duplicate, across micro-batches (maxFilesPerTrigger=1 forces
    the state to carry between batches)."""
    from openaleph_search_spark.streaming.windows import dedup_stream
    a = spark.createDataFrame(
        [(1, "same text"), (2, "other text"), (3, "same text")],
        "doc_id long, text string")
    b = spark.createDataFrame(
        [(4, "same text"), (5, "third text"), (6, "other text")],
        "doc_id long, text string")
    src = str(tmp_path / "dd_src")
    a.repartition(1).write.mode("overwrite").parquet(src)
    # second file lands before the stream starts; one file per trigger
    b.repartition(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema(a.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (dedup_stream(stream).writeStream.format("memory")
         .queryName("ddstream").outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck3"))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("select * from ddstream").collect()
    assert len(rows) == 6
    by_hash = {}
    for r in rows:
        by_hash.setdefault(r["content_hash"], []).append(
            r["is_duplicate"])
    # 3 distinct texts; per hash exactly one False, rest True
    assert len(by_hash) == 3
    for flags in by_hash.values():
        assert flags.count(False) == 1
    # 'same text' appears 3x -> 2 dups; total dups = 3
    assert sum(r["is_duplicate"] for r in rows) == 3


# -- per-source-partition compaction -----------------------------------------

_WORDS = ["alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa"]


def _synthetic_rows(n: int, start: int = 0) -> list[tuple]:
    """Docs with terms frequent enough to span several 128-doc blocks
    per partition (``common``), positional phrases and a lang facet."""
    rows = []
    for i in range(start, start + n):
        text = (f"{_WORDS[i % 7]} {_WORDS[(3 * i) % 7]} common w{i % 13} "
                f"{_WORDS[(5 * i + 1) % 7]}"
                + (" common shared" if i % 3 == 0 else " rare"))
        rows.append((f"r{i % 3}", f"d/f{i}.txt", "c1",
                     ("py", "go", "txt")[i % 4 % 3], text))
    return rows


_DOCS_SCHEMA = ("repo string, path string, commit string, lang string, "
                "content string")

_COMPARE_QUERIES = [
    {"q": "common"},                              # term
    {"q": '"alpha beta"'},                        # phrase (bigram path)
    {"q": '"alpha alpha common"'},                # phrase (positions)
    {"q": "w1*"},                                 # prefix
    {"q": "common OR rare", "filter:lang": "py"},  # filtered
    {"q": "shared AND gamma"},
]


def _results(eng, q: dict) -> list[tuple]:
    return [(r["path"], r["score"])
            for r in eng.search({**q, "limit": 1000}).hit_rows(0, 1000)]


def _assert_same_hits(got: list, want: list, ordered: bool, what):
    if not ordered:  # doc-id tie order differs between layouts
        got = sorted(got, key=lambda h: (-round(h[1], 9), h[0]))
        want = sorted(want, key=lambda h: (-round(h[1], 9), h[0]))
    assert [p for p, _ in got] == [p for p, _ in want], what
    for (_, a), (_, b) in zip(got, want):
        assert abs(a - b) <= 1e-9, what


def _assert_same_answers(e_got, e_want, ordered: bool = True):
    for q in _COMPARE_QUERIES:
        _assert_same_hits(_results(e_got, q), _results(e_want, q),
                          ordered, q)
        assert e_got.count(q) == e_want.count(q), q
    facet = {"q": "common", "facet": "lang", "limit": 0}
    got, want = (
        {r["value"]: r["count"]
         for r in e.search(facet).facets["lang"].collect()}
        for e in (e_got, e_want))
    assert got == want and got


def _part_files(root: str) -> dict[str, list[str]]:
    out = {}
    for d in ("doc_meta", "postings", "field_lens", "term_stats_parts"):
        out[d] = [os.path.join(dp, n)
                  for dp, _, ns in os.walk(os.path.join(root, d))
                  for n in ns]
    return out


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_compact_rewrites_parts_in_place(spark, tmp_path):
    """A compacted index keeps the build layout — every file still
    ``part=<int>.parquet``, the zero-exchange scatter plan still runs —
    answers equal a fresh build over the survivors, and partitions
    without a deleted doc are not rewritten."""
    import re
    rows = _synthetic_rows(400)
    docs = spark.createDataFrame(rows, _DOCS_SCHEMA)
    comp, fresh = str(tmp_path / "comp"), str(tmp_path / "fresh")
    build_index(spark, docs, comp, num_partitions=3, num_shards=2,
                bigrams=True)
    st = IndexStorage(comp)
    dm = {r["path"]: (r["doc_id"], r["src_part"])
          for r in st.doc_meta(spark).collect()}
    # every 4th doc of partitions 0 and 1; partition 2 untouched
    victims = sorted(p for p, (_, sp) in dm.items() if sp < 2)[::4]
    assert delete_by_ids(spark, st, [dm[p][0] for p in victims]) == \
        len(victims)
    untouched = [os.path.join(dp, n)
                 for dp, _, ns in os.walk(comp) for n in ns
                 if re.search(r"part=2\.(parquet|json)$", n)]
    assert len(untouched) == 6
    mtimes = {p: os.stat(p).st_mtime_ns for p in untouched}

    rec = compact(spark, st)

    assert [p["src_part"] for p in rec["parts"]] == [0, 1]
    assert rec["dropped"] == len(victims) == \
        sum(p["dropped"] for p in rec["parts"])
    assert rec["seconds"] > 0
    assert {p: os.stat(p).st_mtime_ns for p in untouched} == mtimes
    assert read_tombstones(spark, st) is None
    for d, files in _part_files(comp).items():
        assert files, d
        for f in files:
            assert re.fullmatch(r"part=\d+\.parquet",
                                os.path.basename(f)), f
    assert not any(n.startswith("fields_part=") and "compacted" in n
                   for n in os.listdir(st.manifest_dir))

    survivors = [r for r in rows if r[1] not in set(victims)]
    build_index(spark, spark.createDataFrame(survivors, _DOCS_SCHEMA),
                fresh, num_partitions=3, num_shards=2, bigrams=True)
    e_c, e_f = Engine(spark, comp), Engine(spark, fresh)
    assert e_c.executor.scatter_ok()
    assert e_c.explain({"q": "common", "limit": 5})["scatter"]
    plan = _plan(e_c.search({"q": "common", "limit": 5}).hits)
    assert "MapInPandas" in plan and "Exchange" not in plan
    _assert_same_answers(e_c, e_f)
    m_c, m_f = st.read_meta(), IndexStorage(fresh).read_meta()
    assert m_c["n_docs"] == m_f["n_docs"] == len(survivors)
    for f, a in m_f["avgdl_by_field"].items():
        assert abs(m_c["avgdl_by_field"][f] - a) < 1e-9, f
    # the rewritten partials equal the fresh build's
    for k in (0, 1):
        got = st.io.read_parquet(os.path.join(
            st.term_stats_parts_dir, f"part={k}.parquet"))
        want = IndexStorage(fresh).io.read_parquet(os.path.join(
            fresh, "term_stats_parts", f"part={k}.parquet"))
        assert got.equals(want), k


def test_compact_append_chain_matches_fresh_build(spark, tmp_path):
    """build → delete → compact → append → delete → compact equals a
    fresh build of the live docs on N, avgdl_by_field, df and hits."""
    from openaleph_search_spark.streaming.incremental import append_batch
    base, batch = _synthetic_rows(240), _synthetic_rows(80, start=240)
    idx, fresh = str(tmp_path / "chain"), str(tmp_path / "chain_fresh")
    build_index(spark, spark.createDataFrame(base, _DOCS_SCHEMA), idx,
                num_partitions=3, num_shards=2, bigrams=True)
    st = IndexStorage(idx)
    gone = {f"d/f{i}.txt" for i in range(0, 240, 7)}
    delete_docs(spark, st, F.col("path").isin(sorted(gone)))
    compact(spark, st)
    append_batch(spark, spark.createDataFrame(batch, _DOCS_SCHEMA), idx,
                 epoch_id=0)
    gone2 = {f"d/f{i}.txt" for i in range(1, 320, 9)} - gone
    assert delete_docs(spark, st, F.col("path").isin(sorted(gone2))) == \
        len(gone2)
    rec = compact(spark, st)
    assert rec["dropped"] == len(gone2)
    # the second compaction touched base and appended partitions
    assert max(p["src_part"] for p in rec["parts"]) >= 3
    assert min(p["src_part"] for p in rec["parts"]) < 3

    live = [r for r in base + batch if r[1] not in gone | gone2]
    build_index(spark, spark.createDataFrame(live, _DOCS_SCHEMA), fresh,
                num_partitions=3, num_shards=2, bigrams=True)
    m_c, m_f = st.read_meta(), IndexStorage(fresh).read_meta()
    assert m_c["n_docs"] == m_f["n_docs"] == len(live)
    assert m_c["avgdl_by_field"].keys() == m_f["avgdl_by_field"].keys()
    for f, a in m_f["avgdl_by_field"].items():
        assert abs(m_c["avgdl_by_field"][f] - a) < 1e-9, f
    df_c, df_f = ({r["term"]: (r["df"], r["cf"])
                   for r in s.term_stats(spark).collect()}
                  for s in (st, IndexStorage(fresh)))
    assert df_c == df_f
    e_c, e_f = Engine(spark, idx), Engine(spark, fresh)
    assert e_c.executor.scatter_ok()
    _assert_same_answers(e_c, e_f, ordered=False)


def test_compact_deleting_whole_partitions(spark, tmp_path):
    """Deleting every doc of one partition, then every doc of the
    index: compaction leaves empty part files of the same schema,
    count 0, and queries that still run."""
    import pyarrow.parquet as pq
    rows = _synthetic_rows(60)
    idx = str(tmp_path / "empty_parts")
    build_index(spark, spark.createDataFrame(rows, _DOCS_SCHEMA), idx,
                num_partitions=3, num_shards=2, bigrams=True)
    st = IndexStorage(idx)

    def schemas(k):
        return [pq.read_schema(f) for fs in _part_files(idx).values()
                for f in fs if f.endswith(f"part={k}.parquet")]
    before = schemas(1)
    assert len(before) == 4
    eng0 = Engine(spark, idx)
    n1 = eng0.count({"q": "common"})
    delete_docs(spark, st, F.col("src_part") == 1)
    rec = compact(spark, st)
    assert [p["src_part"] for p in rec["parts"]] == [1]
    assert rec["parts"][0]["docs"] == 0
    after = schemas(1)
    assert [s.remove_metadata() for s in after] == \
        [s.remove_metadata() for s in before]
    assert all(pq.read_metadata(f).num_rows == 0
               for fs in _part_files(idx).values() for f in fs
               if f.endswith("part=1.parquet"))
    eng = Engine(spark, idx)
    assert eng.executor.scatter_ok()
    assert 0 < eng.count({"q": "common"}) < n1
    assert st.completed_partitions()[1]["docs"] == 0

    delete_docs(spark, st, F.lit(True))
    compact(spark, st)
    meta = st.read_meta()
    assert meta["n_docs"] == 0
    assert all(v == 0.0 for v in meta["avgdl_by_field"].values())
    assert st.term_stats(spark).count() == 0
    eng = Engine(spark, idx)
    assert eng.count({"q": "common"}) == 0
    assert eng.search({"q": "common OR alpha", "limit": 5}).hit_rows() \
        == []
    assert eng.search({"limit": 5}, with_total=True).total == 0
    facets = eng.search({"q": "common", "facet": "lang", "limit": 0})
    assert facets.facets["lang"].collect() == []


def test_compact_rerun_after_crash_converges(spark, tmp_path):
    """A crash after some partitions were rewritten (tombstones, global
    stats and meta still the old ones) leaves a correct index, and
    re-running compact() ends with the same files as an uninterrupted
    compaction."""
    import json as _json
    import shutil
    rows = _synthetic_rows(200)
    ref, crashed = str(tmp_path / "ref"), str(tmp_path / "crashed")
    build_index(spark, spark.createDataFrame(rows, _DOCS_SCHEMA), ref,
                num_partitions=3, num_shards=2, bigrams=True)
    delete_docs(spark, IndexStorage(ref),
                F.col("path").isin([f"d/f{i}.txt"
                                    for i in range(0, 200, 5)]))
    shutil.copytree(ref, crashed)
    pre = {_json.dumps(q): _results(Engine(spark, ref), q)
           for q in _COMPARE_QUERIES}
    rec = compact(spark, IndexStorage(ref))
    assert len(rec["parts"]) == 3

    # the crash: partition 0 fully rewritten, nothing else
    for d, files in _part_files(ref).items():
        for f in files:
            if f.endswith("part=0.parquet"):
                shutil.copy2(f, f.replace(ref, crashed, 1))
    for n in ("part=0.json", "fields_part=0.json"):
        shutil.copy2(os.path.join(ref, "manifest", n),
                     os.path.join(crashed, "manifest", n))
    e_crashed = Engine(spark, crashed)
    for q in _COMPARE_QUERIES:
        _assert_same_hits(_results(e_crashed, q), pre[_json.dumps(q)],
                          True, q)

    rec2 = compact(spark, IndexStorage(crashed))
    assert rec2["parts"][0]["dropped"] == 0
    assert rec2["dropped"] == rec["dropped"] - rec["parts"][0]["dropped"]
    import pyarrow.parquet as pq

    def snapshot(root):
        out = {}
        for dp, _, ns in os.walk(root):
            for n in ns:
                rel = os.path.relpath(os.path.join(dp, n), root)
                p = os.path.join(dp, n)
                out[rel] = (pq.read_table(p) if n.endswith(".parquet")
                            else _json.loads(open(p).read()))
        return out
    a, b = snapshot(ref), snapshot(crashed)
    assert a.keys() == b.keys()
    for rel in a:
        if rel.endswith(".parquet"):
            assert a[rel].equals(b[rel]), rel
        else:
            assert a[rel] == b[rel], rel
    _assert_same_answers(Engine(spark, crashed), Engine(spark, ref))


def test_explain_reports_scatter_and_old_compacted_index_refused(
        spark, fixture_docs_df, tmp_path):
    """explain()["scatter"] says which plan runs: True on a fresh and on
    a compacted index, False on an index an earlier release compacted
    into whole-table files — which compact() and append refuse."""
    from openaleph_search_spark.streaming.incremental import append_batch
    idx = str(tmp_path / "idx_explain")
    build_index(spark, fixture_docs_df, idx, num_partitions=4,
                num_shards=2)
    q = {"q": "banana", "limit": 5}
    assert Engine(spark, idx).explain(q)["scatter"] is True
    st = IndexStorage(idx)
    delete_docs(spark, st, F.col("lang") == "go")
    compact(spark, st)
    assert Engine(spark, idx).explain(q)["scatter"] is True

    # the earlier whole-table layout: Spark-named doc_meta files and a
    # consolidated field-stat partial
    import shutil
    whole = str(tmp_path / "doc_meta_whole")
    st.doc_meta(spark).write.parquet(whole)
    shutil.rmtree(st.doc_meta_dir)
    shutil.move(whole, st.doc_meta_dir)
    dm = st.doc_meta(spark)
    with open(os.path.join(st.manifest_dir,
                           "fields_part=compacted.json"), "w") as f:
        f.write("{}")
    e_old = Engine(spark, idx)
    assert e_old.explain(q)["scatter"] is False
    assert e_old.count({"q": "banana"}) == 1  # the legacy plan runs
    delete_by_ids(spark, st, [int(dm.first()["doc_id"])])
    with pytest.raises(ValueError, match=idx):
        compact(spark, st)
    with pytest.raises(ValueError, match=idx):
        append_batch(spark, fixture_docs_df.limit(1), idx, epoch_id=0)


def test_cli_compact_prints_record(spark, fixture_docs_df, tmp_path):
    """``cli compact`` prints meta.json's keys plus the compaction
    record under ``compaction``."""
    import io
    import json as _json
    from contextlib import redirect_stdout
    from openaleph_search_spark import cli
    idx = str(tmp_path / "cli_rec")
    build_index(spark, fixture_docs_df, idx, num_partitions=4,
                num_shards=2)
    st = IndexStorage(idx)
    delete_docs(spark, st, F.col("repo") == "r3")
    buf = io.StringIO()
    with redirect_stdout(buf):
        assert cli.main(["compact", "--index", idx]) == 0
    out = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out["n_docs"] == 8
    rec = out["compaction"]
    assert rec["dropped"] == 2 and rec["seconds"] > 0
    assert sum(p["dropped"] for p in rec["parts"]) == 2
    assert {p["src_part"] for p in rec["parts"]} <= \
        set(st.completed_partitions())
