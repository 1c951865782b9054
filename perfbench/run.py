"""Seeded build / search / ingest benchmark for openaleph_search_spark.

    python3 perfbench/run.py --workload {build_search,ingest,all} \
        --seed N --seconds S --trace {0,1} [--smoke]

Run from the repository root. The package is zipped with
``scripts/package.py`` and shipped to the Python workers the way
``spark-submit --py-files`` does; the Spark session is sized from the
host's cores and available memory, and one process drives all load.
The program only ever sees the generated tables, watchlist and query
strings. Every answer is checked outside the timed windows against
``oracle.py``. The last stdout line is one JSON object: end-to-end
metrics with ``--trace 0``, per-layer metrics (from spans recorded in
memory and written to ``.bench_build/perfbench/traces/``) with
``--trace 1``. See ``perfbench/README.md`` for workloads and metrics.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
from spans import Tracer, span_cost_s  # noqa: E402

clock = time.perf_counter
_T0 = clock()


def log(msg: str) -> None:
    """Progress on stderr (stdout ends with the result line)."""
    print(f"[perfbench {clock() - _T0:7.2f}s] {msg}", file=sys.stderr,
          flush=True)


SETUP_REPS = 3

# Sizes fit a 4-core host: one run of either workload, JVM start
# included, takes 50-65 s at --seconds 10. Two shards keep a query's
# scatter job at two tasks, so one stalled core (CPU steal on a shared
# host) delays fewer queries. ``smoke`` shrinks everything for tests.
SIZES = {
    "build_search": dict(docs=2500, vocab=20000, mean_len=120, files=8,
                         shards=2, s_per_cycle=5, build_reps=2),
    "ingest": dict(docs=600, vocab=8000, mean_len=100, files=4, shards=2,
                   batch=120, deletes=4, watch=100, per_kind=3,
                   per_round=21, after_compact=14, s_per_round=10,
                   build_reps=3),
}
SMOKE = {
    "build_search": dict(docs=200, vocab=2000, mean_len=40, files=4,
                         shards=2, s_per_cycle=5, build_reps=2),
    "ingest": dict(docs=120, vocab=1500, mean_len=40, files=2, shards=2,
                   batch=30, deletes=3, watch=20, per_kind=1, per_round=2,
                   after_compact=2, s_per_round=10, build_reps=2),
}
ENGINE_STRATEGIES = ["topk_scatter_gather", "full_match_then_branches",
                     "facet_partials_cogroup", "match_all_meta_scan",
                     "anti_join_scan"]
LAYERS = ["analysis", "index.build", "index.codec", "query.parser",
          "query.engine", "query.executor", "streaming.incremental",
          "query.percolate", "index.mutate", "spark", "residual"]
INGEST_KINDS = ["term_hot", "term_rare", "and_mid", "phrase", "filtered",
                "count", "prefix"]


# ---------------------------------------------------------------------------
# host, session and process bookkeeping
# ---------------------------------------------------------------------------

def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver, JVM, Python workers), sampled from /proc. Each process
    counts its proportional set size (Pss), so pages the forked Python
    workers share with their daemon are counted once, not per worker."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self.peak_procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_kb(self) -> tuple[int, int]:
        stat = {}  # pid -> (ppid, vsize, rss)
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                try:
                    with open(f"/proc/{pid}/stat") as f:
                        fs = f.read().rsplit(")", 1)[1].split()
                    stat[int(pid)] = (int(fs[1]), int(fs[20]), int(fs[21]))
                except (OSError, IndexError, ValueError):
                    pass
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            for c, (pp, vsize, rss) in stat.items():
                if pp == p and c not in tree:
                    tree.add(c)
                    frontier.append(c)
                    # a child between vfork and exec (the JVM spawning
                    # a helper) shares its parent's memory map: skip it,
                    # or that memory would count twice
                    if (vsize, rss) == stat[p][1:]:
                        tree.discard(c)
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except (OSError, IndexError, ValueError):
                pass
        return total, len(tree)

    def _sample(self):
        kb, procs = self._tree_kb()
        if kb > self.peak_kb:
            self.peak_kb, self.peak_procs = kb, procs

    def _loop(self):
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
        return False


def package_zip(out_dir: str) -> str:
    """The spark-submit artifact, built from this checkout."""
    out = os.path.join(out_dir, "openaleph_search_spark.zip")
    subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "package.py"),
                    out], check=True, stdout=subprocess.DEVNULL)
    return out


def start_spark(cores: int, zip_path: str, work: str):
    from pyspark.sql import SparkSession
    # a fixed-size, pre-touched heap (-Xms = -Xmx) keeps the JVM's
    # resident size from wandering with GC timing, which would swamp
    # peak_rss_mb; 1 GB on any host with 8 GB available
    driver_mb = int(max(512, min(1024, mem_available_mb() // 8)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (SparkSession.builder.master(f"local[{cores}]")
             .appName("perfbench")
             .config("spark.driver.memory", f"{driver_mb}m")
             .config("spark.sql.shuffle.partitions", str(cores))
             .config("spark.default.parallelism", str(cores))
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.submit.pyFiles", zip_path)
             .config("spark.local.dir", os.path.join(work, "spark-local"))
             .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
             .config("spark.driver.extraJavaOptions",
                     f"-Xms{driver_mb}m -XX:+AlwaysPreTouch "
                     f"-Djava.io.tmpdir={tmp}")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited
    (its Python workers exit with it)."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def empty_job(spark, n_tasks: int) -> None:
    """One mapInPandas job over ``n_tasks`` tasks that returns nothing."""
    (spark.range(0, n_tasks, numPartitions=n_tasks)
     .mapInPandas(lambda it: (b.iloc[:0] for b in it), "id long").collect())


def dir_bytes(path: str) -> dict[str, int]:
    """Bytes per top-level entry of an index directory."""
    out = {}
    for name in os.listdir(path):
        p = os.path.join(path, name)
        if os.path.isdir(p):
            out[name] = sum(os.path.getsize(os.path.join(d, f))
                            for d, _, fs in os.walk(p) for f in fs)
        else:
            out[name] = os.path.getsize(p)
    return out


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def host_sorts_per_s(n: int = 200_000, reps: int = 5) -> float:
    """Single-thread ambient probe: argsorts of a fixed array per second."""
    a = np.random.default_rng(0).random(n)
    t0 = clock()
    for _ in range(reps):
        np.argsort(a, kind="quicksort")
    return reps / (clock() - t0)


# ---------------------------------------------------------------------------
# one benchmark run
# ---------------------------------------------------------------------------

class Run:
    def __init__(self, spark, work: str, seed: int, seconds: float,
                 tracer: Tracer, sizes: dict):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tr = tracer
        self.sz = sizes
        self.attempted = 0
        self.failed = 0
        self.query_walls: list[float] = []
        self.layer: dict[str, float] = {}
        self.e2e: dict[str, float] = {}
        self.lists: dict[str, list] = {}

    # -- bookkeeping ---------------------------------------------------------
    def note(self, key: str, value: float) -> None:
        self.lists.setdefault(key, []).append(value)

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"FAILED: {what}", file=sys.stderr)

    def record_inputs(self, corpus: gen.Corpus, buckets: gen.Buckets,
                      src_bytes: int, workload: str) -> None:
        stats = gen.corpus_stats(corpus, buckets, src_bytes)
        d = os.path.join(BUILD, "inputs")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{workload}-seed{self.seed}.json"), "w") as f:
            json.dump(stats, f, indent=1)
        log(f"corpus: {stats['docs']} docs, {stats['tokens']} tokens, "
            f"{stats['source_bytes']} B, df buckets {stats['df_buckets']}")

    # -- program calls -------------------------------------------------------
    def build(self, docs_df, out: str, n_docs: int, src_bytes: int,
              shards: int, num_tasks=None) -> dict:
        from openaleph_search_spark.index.build import build_index
        from openaleph_search_spark.index.storage import IndexStorage
        shutil.rmtree(out, ignore_errors=True)
        ph: dict = {}
        self.attempted += 1
        t0 = clock()
        with self.tr.op("build"), self.tr.span("index.build"):
            build_index(self.spark, docs_df, out, num_shards=shards,
                        bigrams=True, phase_log=ph, num_tasks=num_tasks)
        wall = clock() - t0
        log(f"build {os.path.basename(out)}: {n_docs} docs in {wall:.2f} s")
        man = list(IndexStorage(out).completed_partitions().values())
        return {"wall": wall, "docs_per_s": n_docs / wall, "phases": ph,
                "bytes": dir_bytes(out), "src_bytes": src_bytes,
                "manifests": man}

    def query(self, eng, q: dict, check, timed=True):
        """One user query: parse, plan, collect. ``check`` maps the
        result to an error string or None (run outside the timing)."""
        from openaleph_search_spark.query.parser import parse_args
        kind = q["kind"]
        self.attempted += 1
        try:
            t0 = clock()
            with self.tr.op("query"):
                with self.tr.span("query.parser"):
                    sa = parse_args(q["args"])
                t1 = clock()
                if kind == "count":
                    with self.tr.span("query.executor"):
                        got = eng.count(sa)
                    t2 = t1
                else:
                    with self.tr.span("query.engine"):
                        res = eng.search(sa)
                    t2 = clock()
                    with self.tr.span("query.executor"):
                        hits = res.hits.collect() if sa.k else []
                        facets = {f: df.collect()
                                  for f, df in res.facets.items()}
                    got = (hits, facets)
            t3 = clock()
        except Exception:  # a failed query is counted, the run goes on
            self.fail(f"{kind} {q['args']}: {traceback.format_exc(limit=3)}")
            return None
        wall = t3 - t0
        if timed:
            self.query_walls.append(wall)
        self.note("parse_s", t1 - t0)
        if kind != "count":
            self.note("plan_s", t2 - t1)
        self.note(f"collect_s.{kind}", t3 - t2)
        err = check(q, got)
        if err:
            self.fail(f"{kind} {q['args']}: {err}")
        return wall

    # -- checks --------------------------------------------------------------
    @staticmethod
    def docno(path: str) -> int:
        return int(path.rsplit("/", 1)[1].split(".", 1)[0][1:])

    def checker(self, scorer: oracle.Scorer):
        cache: dict[str, object] = {}

        def check(q, got):
            key = repr(q["spec"])
            spec = q["spec"]
            if q["kind"] == "count":
                want = cache.setdefault(key, scorer.match_count(spec["count_and"]))
                return None if got == want else f"count {got} != {want}"
            hits, facets = got
            if q["kind"] == "facet":
                want = cache.setdefault(key, scorer.facet(spec["facet_and"][0],
                                                          spec["facet"]))
                have = {r["value"]: int(r["count"]) for r in facets["lang"]}
                return None if have == want else f"facet {have} != {want}"
            if key not in cache:
                cache[key] = scorer.scores(spec)
            pairs = [(self.docno(r["path"]), float(r["score"])) for r in hits]
            return oracle.check_topk(pairs, cache[key], q["args"]["limit"])
        return check

    def check_meta(self, meta: dict, scorer: oracle.Scorer, what: str) -> None:
        self.attempted += 1
        errs = []
        if int(meta["n_docs"]) != scorer.N:
            errs.append(f"N {meta['n_docs']} != {scorer.N}")
        for f in ("content", "path"):
            have = float(meta["avgdl_by_field"][f])
            if abs(have - scorer.avgdl[f]) > 1e-9 * max(1.0, have):
                errs.append(f"avgdl[{f}] {have} != {scorer.avgdl[f]}")
        if errs:
            self.fail(f"{what}: " + "; ".join(errs))

    # -- per-layer probes (traced runs only) ---------------------------------
    def probe_layers(self, index_dir: str, corpus: gen.Corpus) -> None:
        import pandas as pd
        import pyarrow.parquet as pq
        from openaleph_search_spark.analysis.analyzer import tokenize_flat
        from openaleph_search_spark.index import codec
        from openaleph_search_spark.query.engine import Engine

        # analyzer: tokenize a fixed ~1 MB sample of the corpus text
        texts, size = [], 0
        for c in corpus.content:
            texts.append(c)
            size += len(c)
            if size >= 1_000_000:
                break
        sample = pd.Series(texts, dtype=object)
        walls = []
        for _ in range(3):
            t0 = clock()
            with self.tr.span("analysis"):
                tokenize_flat(sample)
            walls.append(clock() - t0)
        self.layer["analysis.tokenize_mb_per_s"] = size / 1e6 / min(walls)

        # codec: decode blocks read back from the built index, re-encode
        files = [os.path.join(d, f) for d, _, fs in
                 os.walk(os.path.join(index_dir, "postings")) for f in fs
                 if f.endswith(".parquet")]
        rows = pq.read_table(sorted(files)[0], columns=[
            "docs_payload", "tfs_payload", "dls_payload"]).to_pylist()[:20000]
        t0 = clock()
        with self.tr.span("index.codec"):
            dec = [codec.decode_block(r) for r in rows]
        t_dec = clock() - t0
        n_post = sum(d[0].size for d in dec)
        starts = np.cumsum([0] + [d[0].size for d in dec[:-1]])
        docs = np.concatenate([d[0] for d in dec])
        tfs = np.concatenate([d[1] for d in dec]) - np.uint64(1)
        dls = np.concatenate([d[2] for d in dec])
        t0 = clock()
        with self.tr.span("index.codec"):
            enc = [codec.varint_encode_sliced(
                       codec.delta_restarting(docs, starts), starts),
                   codec.varint_encode_sliced(tfs, starts),
                   codec.varint_encode_sliced(dls, starts)]
        t_enc = clock() - t0
        enc_bytes = sum(len(b) for part in enc for b in part)
        self.layer["index.codec.decode_postings_per_s"] = n_post / t_dec
        self.layer["index.codec.encode_mb_per_s"] = enc_bytes / 1e6 / t_enc

        st = Engine(self.spark, index_dir).stats()
        self.layer["index.storage.n_terms"] = st["n_terms"]
        self.layer["index.storage.blocks"] = sum(
            s["blocks"] for s in st["shards"].values())
        self.layer["index.storage.postings_balance"] = st["postings_balance"]

        # Spark floor: an empty mapInPandas job at the scatter task count
        n_tasks = int(st["num_shards"])
        walls = []
        for _ in range(5):
            t0 = clock()
            with self.tr.span("spark"):
                empty_job(self.spark, n_tasks)
            walls.append(clock() - t0)
        self.layer["spark.floor_s"] = statistics.median(walls)

    def strategies(self, eng, queries) -> None:
        for name in ENGINE_STRATEGIES:
            self.layer.setdefault(f"query.engine.strategy.{name}", 0)
        for q in queries:
            s = eng.explain(q["args"])["strategy"]
            self.layer[f"query.engine.strategy.{s}"] += 1

    def build_layers(self, build: dict) -> None:
        for ph in ("setup", "spimi_job", "field_stats", "term_stats",
                   "write_meta"):
            self.layer[f"index.build.{ph}_s"] = build["phases"].get(ph, 0.0)
        man = build["manifests"]
        secs = [m["seconds"] for m in man]
        self.layer["index.build.task_s_sum"] = float(sum(secs))
        self.layer["index.build.task_s_max"] = float(max(secs))
        self.layer["index.build.tasks"] = len(man)
        self.layer["index.build.tokens"] = sum(m["tokens"] for m in man)
        self.layer["index.build.postings"] = sum(m["postings"] for m in man)
        b = build["bytes"]
        for part in ("postings", "doc_meta", "term_stats",
                     "term_stats_parts", "field_lens"):
            self.layer[f"index.storage.bytes.{part}"] = b.get(part, 0)

    def index_e2e(self, build: dict, docs_per_s: float) -> None:
        self.e2e["build_docs_per_s"] = docs_per_s
        self.e2e["index_bytes_per_source_byte"] = (
            sum(build["bytes"].values()) / build["src_bytes"])


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

def open_engine(run: Run, index_dir: str, first_query: dict, check):
    """Engine() plus its first query (the term-dictionary load)."""
    from openaleph_search_spark.query.engine import Engine
    t0 = clock()
    with run.tr.span("query.engine"):
        eng = Engine(run.spark, index_dir)
    run.query(eng, first_query, check, timed=False)
    return eng, clock() - t0


def write_corpus(run: Run, corpus: gen.Corpus, name: str, files: int):
    src = os.path.join(run.work, name)
    src_bytes = gen.write_table(corpus, src, files)
    return src, src_bytes


def warm_build(run: Run, src: str) -> None:
    """An untimed build of one table file: the first SPIMI job pays
    worker start, imports and JIT compilation that later builds do not
    repeat."""
    warm = os.path.join(run.work, "warm")
    part = run.spark.read.parquet(os.path.join(src, "part-00000.parquet"))
    run.build(part, warm, 1, 1, run.sz["shards"])
    shutil.rmtree(warm, ignore_errors=True)


def report_builds(run: Run, builds: list[dict]) -> None:
    """``build_docs_per_s`` is the median of the timed builds."""
    run.index_e2e(builds[0], statistics.median(b["docs_per_s"] for b in builds))
    run.build_layers(builds[0])
    log("build walls: " + " ".join(f"{b['wall']:.2f}" for b in builds))


def wl_build_search(run: Run) -> None:
    """Bulk-index a seeded corpus ``build_reps`` times with the SPIMI job
    on all cores, and run the query mix against the first index from one
    closed-loop client; the later builds are spread over the query
    cycles, so builds and queries are both sampled across the run.
    Traced runs add one build with the SPIMI job pinned to one task,
    for scaling."""
    from openaleph_search_spark.index.storage import IndexStorage
    sz = run.sz
    corpus = gen.make_corpus(run.seed, sz["docs"], sz["vocab"], sz["mean_len"])
    src, src_bytes = write_corpus(run, corpus, "src", sz["files"])
    docs_df = run.spark.read.parquet(src)
    idx = os.path.join(run.work, "idx")

    def build(tag: str, num_tasks=None) -> dict:
        return run.build(docs_df, f"{idx}-{tag}", corpus.n, src_bytes,
                         sz["shards"], num_tasks=num_tasks)

    warm_build(run, src)
    builds = [build("0")]

    docs = oracle.Docs(len(corpus.vocab))
    docs.add(corpus)
    scorer = oracle.Scorer(docs, corpus.vocab)
    check = run.checker(scorer)
    buckets = gen.df_buckets(scorer.df, corpus.n)
    run.record_inputs(corpus, buckets, src_bytes, "build_search")
    # a fixed number of cycles per --seconds, each one query of every
    # kind in a fixed kind order, keeps the mix the same in every run
    cycles = max(1, round(run.seconds / sz["s_per_cycle"]))
    by_kind: dict[str, list] = {}
    for q in gen.make_queries(run.seed, corpus, buckets, cycles + 1):
        by_kind.setdefault(q["kind"], []).append(q)

    def cycle(c: int) -> list[dict]:
        return [qs[c % len(qs)] for qs in by_kind.values()]

    setups = []
    for _ in range(SETUP_REPS):
        eng, wall = open_engine(run, f"{idx}-0", cycle(0)[0], check)
        setups.append(wall)
    run.e2e["setup_s"] = statistics.median(setups)
    run.layer["query.engine.open_s"] = statistics.median(setups)
    run.check_meta(eng.executor.meta, scorer, "meta")
    # one untimed cycle first: each kind's first query pays once per
    # process for its own plan and code path (the first facet query
    # costs twice a later one), which would otherwise sit in the tail
    for q in cycle(cycles):
        run.query(eng, q, check, timed=False)

    for c in range(cycles):
        for q in cycle(c):
            run.query(eng, q, check)
        # the other builds are spread evenly over the cycles
        while len(builds) < 1 + (c + 1) * (sz["build_reps"] - 1) // cycles:
            builds.append(build(str(len(builds))))
    report_builds(run, builds)
    tags = [str(i) for i in range(len(builds))]
    if run.tr.enabled:  # scaling: the SPIMI job pinned to one task
        one = build("one", num_tasks=1)
        run.layer["build_scaling_eff"] = (
            statistics.median(b["docs_per_s"] for b in builds)
            / (host_cores() * one["docs_per_s"]))
        tags.append("one")
    for tag in tags:
        run.check_meta(IndexStorage(f"{idx}-{tag}").read_meta(), scorer,
                       f"meta of build {tag}")
    if run.tr.enabled:
        run.strategies(eng, cycle(0))
        run.probe_layers(f"{idx}-0", corpus)


def wl_ingest(run: Run) -> None:
    """Writes beside reads: rounds of append, percolate, delete and
    queries on a fresh Engine; one compact() and more queries at the end."""
    from pyspark.sql import functions as F
    from openaleph_search_spark.index.mutate import compact, delete_docs
    from openaleph_search_spark.index.storage import IndexStorage
    from openaleph_search_spark.query.engine import Engine
    from openaleph_search_spark.query.percolate import (compile_watchlist,
                                                         percolate_docs)
    from openaleph_search_spark.streaming.incremental import append_batch
    sz = run.sz
    rng = np.random.default_rng(run.seed ^ 0xD1E)
    base = gen.make_corpus(run.seed, sz["docs"], sz["vocab"], sz["mean_len"])
    src, src_bytes = write_corpus(run, base, "src", sz["files"])
    idx = os.path.join(run.work, "idx")
    base_df = run.spark.read.parquet(src)
    warm_build(run, src)
    builds = [run.build(base_df, idx, base.n, src_bytes, sz["shards"])]

    docs = oracle.Docs(len(base.vocab))
    docs.add(base)
    scorer = oracle.Scorer(docs, base.vocab)

    def build_again() -> None:
        """One more build of the base, after a round or at the end, into
        a directory the mutations do not touch: the builds are sampled
        across the run."""
        if len(builds) < sz["build_reps"]:
            out = os.path.join(run.work, "idx-again")
            builds.append(run.build(base_df, out, base.n, src_bytes,
                                    sz["shards"]))
            run.check_meta(IndexStorage(out).read_meta(), scorer,
                           "meta of a repeated build")
    buckets = gen.df_buckets(scorer.df, base.n)
    run.record_inputs(base, buckets, src_bytes, "ingest")
    # a fixed number of rounds per --seconds keeps the mix of fast
    # (scatter) and slow (first-after-open, post-compact) queries the
    # same in every run
    rounds = max(1, int(run.seconds // sz["s_per_round"]))
    by_kind: dict[str, list] = {}
    for q in gen.make_queries(run.seed, base, buckets, sz["per_kind"],
                              INGEST_KINDS):
        by_kind.setdefault(q["kind"], []).append(q)
    # kinds interleaved in a fixed order: every window of the pool holds
    # the same mix of kinds, and each fresh Engine opens on the same kind
    pool = [qs[i] for i in range(sz["per_kind"]) for qs in by_kind.values()
            if i < len(qs)]
    watch = gen.make_watchlist(run.seed, base, buckets, sz["watch"])
    batches = [gen.make_corpus(run.seed * 1000 + r + 1, sz["batch"], 0,
                               sz["mean_len"], vocab=base.vocab,
                               doc_base=base.n + r * sz["batch"])
               for r in range(rounds)]

    check = run.checker(scorer)
    setups = []
    for _ in range(SETUP_REPS):
        eng, wall = open_engine(run, idx, pool[0], check)
        setups.append(wall)
    run.e2e["setup_s"] = statistics.median(setups)
    run.layer["query.engine.open_s"] = statistics.median(setups)

    def fielded(word: str) -> dict:
        return {"kind": "fielded", "args": {"q": f"path:{word}", "limit": 10},
                "spec": {"field": "path", "word": word}}

    def query_round(n: int, extra: list[dict]):
        nonlocal pool
        fresh = oracle.Scorer(docs, base.vocab)
        with run.tr.span("query.engine"):
            eng = Engine(run.spark, idx)
        run.check_meta(eng.executor.meta, fresh, "meta after mutation")
        qs, pool = pool[:n], pool[n:] + pool[:n]
        check = run.checker(fresh)
        for q in qs + extra:
            run.query(eng, q, check)
        return eng

    append_walls, perc_walls, appended, percolated, matches = [], [], 0, 0, 0
    compile_walls, delete_walls, tombstoned = [], [], 0
    for r, batch in enumerate(batches):
        bdf = run.spark.createDataFrame(batch.frame())
        run.attempted += 1
        t0 = clock()
        with run.tr.op("append"), run.tr.span("streaming.incremental"):
            append_batch(run.spark, bdf, idx, r)
        append_walls.append(clock() - t0)
        appended += batch.n
        docs.add(batch)

        run.attempted += 1
        t0 = clock()
        with run.tr.op("percolate"):
            with run.tr.span("query.percolate.compile"):
                stored = compile_watchlist(watch)
            t1 = clock()
            with run.tr.span("query.percolate"):
                rows = percolate_docs(bdf, stored).collect()
        perc_walls.append(clock() - t0)
        compile_walls.append(t1 - t0)
        percolated += batch.n
        matches += len(rows)
        want = oracle.percolate_expected(batch, watch)
        have = {(run.docno(x["path"]) - batch_base(batch), x["entity_id"]):
                (float(x["score"]), sorted(x["matched_names"])) for x in rows}
        if have != want or len(rows) != len(have):
            run.fail(f"percolate round {r}: {len(rows)} rows, "
                     f"{len(want)} expected")

        live = np.flatnonzero(docs.live)
        victims = rng.choice(live, size=min(sz["deletes"], live.size - 1),
                             replace=False)
        paths = [docs_path(base, batches, v) for v in victims]
        run.attempted += 1
        t0 = clock()
        with run.tr.op("delete"), run.tr.span("index.mutate"):
            n = delete_docs(run.spark, IndexStorage(idx),
                            F.col("path").isin(paths))
        delete_walls.append(clock() - t0)
        tombstoned += n
        docs.delete(victims)
        if n != len(victims):
            run.fail(f"delete round {r}: tombstoned {n} of {len(victims)}")

        # presence of an appended doc and absence of a deleted one
        new_word = f"f{base.n + r * sz['batch'] + int(rng.integers(batch.n))}"
        gone_word = paths[0].rsplit("/", 1)[1].split(".")[0]
        query_round(sz["per_round"], [fielded(new_word), fielded(gone_word)])
        log(f"round {r}: append {append_walls[-1]:.2f} s, percolate "
            f"{perc_walls[-1]:.2f} s, delete {delete_walls[-1]:.2f} s")
        build_again()

    run.attempted += 1
    t0 = clock()
    with run.tr.op("compact"), run.tr.span("index.mutate"):
        compact(run.spark, IndexStorage(idx))
    compact_s = clock() - t0
    log(f"compact: {compact_s:.2f} s")
    docs.compact()
    eng = query_round(sz["after_compact"], [])
    while len(builds) < sz["build_reps"]:
        build_again()
    report_builds(run, builds)

    run.layer["streaming.incremental.append_s"] = statistics.median(append_walls)
    run.layer["append_docs_per_s"] = appended / sum(append_walls)
    run.layer["percolate_docs_per_s"] = percolated / sum(perc_walls)
    run.layer["query.percolate.compile_s"] = statistics.median(compile_walls)
    run.layer["query.percolate.run_s"] = statistics.median(
        p - c for p, c in zip(perc_walls, compile_walls))
    run.layer["query.percolate.matches"] = matches
    run.layer["index.mutate.delete_s"] = statistics.median(delete_walls)
    run.layer["index.mutate.compact_s"] = compact_s
    run.layer["index.mutate.tombstoned"] = tombstoned
    if run.tr.enabled:
        run.strategies(eng, pool[:len(INGEST_KINDS)])
        run.probe_layers(idx, base)


def batch_base(batch: gen.Corpus) -> int:
    return Run.docno(batch.path[0])


def docs_path(base: gen.Corpus, batches: list[gen.Corpus], doc: int) -> str:
    if doc < base.n:
        return base.path[doc]
    i = doc - base.n
    return batches[i // batches[0].n].path[i % batches[0].n]


WORKLOADS = {"build_search": wl_build_search, "ingest": wl_ingest}

END_TO_END = {  # name -> unit
    "setup_s": "s", "build_docs_per_s": "docs/s",
    "index_bytes_per_source_byte": "B/B", "query_p50_s": "s",
    "query_p90_s": "s", "peak_rss_mb": "MB",
}


HEADLINES = {  # workload -> [(per-layer key, printed name)]
    "ingest": [("append_docs_per_s", "append_docs_per_s"),
               ("percolate_docs_per_s", "percolate_docs_per_s"),
               ("index.mutate.compact_s", "compact_s")],
}


def per_layer_names() -> dict[str, str]:
    names = {"analysis.tokenize_mb_per_s": "MB/s"}
    for ph in ("setup", "spimi_job", "field_stats", "term_stats",
               "write_meta"):
        names[f"index.build.{ph}_s"] = "s"
    names.update({"index.build.task_s_sum": "s", "index.build.task_s_max": "s",
                  "index.build.tasks": "count", "index.build.tokens": "count",
                  "index.build.postings": "count",
                  "index.codec.encode_mb_per_s": "MB/s",
                  "index.codec.decode_postings_per_s": "1/s"})
    for part in ("postings", "doc_meta", "term_stats", "term_stats_parts",
                 "field_lens"):
        names[f"index.storage.bytes.{part}"] = "B"
    names.update({"index.storage.n_terms": "count",
                  "index.storage.blocks": "count",
                  "index.storage.postings_balance": "ratio",
                  "query.parser.parse_s": "s", "query.engine.open_s": "s",
                  "query.engine.plan_s": "s"})
    for s in ENGINE_STRATEGIES:
        names[f"query.engine.strategy.{s}"] = "count"
    for k in gen.QUERY_KINDS:
        names[f"query.executor.collect_s.{k}"] = "s"
    names.update({"spark.floor_s": "s",
                  "streaming.incremental.append_s": "s",
                  "query.percolate.compile_s": "s",
                  "query.percolate.run_s": "s",
                  "query.percolate.matches": "count",
                  "index.mutate.delete_s": "s", "index.mutate.compact_s": "s",
                  "index.mutate.tombstoned": "count",
                  "build_scaling_eff": "ratio", "append_docs_per_s": "docs/s",
                  "percolate_docs_per_s": "docs/s", "host.sorts_per_s": "1/s"})
    for layer in LAYERS:
        names[f"self_s.{layer}"] = "s"
    names.update({"trace.spans": "count", "trace.overhead_share": "ratio",
                  "trace.query_p50_s": "s"})
    return names


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["all"],
                    help="'all' runs each workload in turn, one process each")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    a = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "scripts", "package.py")):
        sys.exit("perfbench: scripts/package.py not found; run from the root "
                 "of a checkout of the repository")
    # a terminated run still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.workload == "all":
        return run_all(a)

    os.makedirs(BUILD, exist_ok=True)
    work = os.path.join(BUILD, f"work-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)
    sizes = (SMOKE if a.smoke else SIZES)[a.workload]
    tracer = Tracer(bool(a.trace))
    spark = None
    try:
        zip_path = package_zip(work)
        with RssSampler() as rss:
            spark = start_spark(host_cores(), zip_path, work)
            log("spark session up")
            run = Run(spark, work, a.seed, a.seconds, tracer, sizes)
            WORKLOADS[a.workload](run)
            log("workload done")
            stop_spark(spark)
            spark = None
        sorts = host_sorts_per_s()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if not run.query_walls:
        raise RuntimeError("no timed queries completed")
    run.e2e["query_p50_s"] = pct(run.query_walls, 50)
    run.e2e["query_p90_s"] = pct(run.query_walls, 90)
    log("query walls: " + " ".join(f"{w:.2f}" for w in sorted(run.query_walls)))
    run.e2e["peak_rss_mb"] = rss.peak_kb / 1024
    log(f"peak memory {rss.peak_kb / 1024:.0f} MB over {rss.peak_procs} processes")

    for key, vals in run.lists.items():
        name = {"parse_s": "query.parser.parse_s",
                "plan_s": "query.engine.plan_s"}.get(
            key, f"query.executor.{key}")
        run.layer[name] = statistics.median(vals)
    run.layer["host.sorts_per_s"] = sorts
    if tracer.enabled:
        selfs = tracer.self_times()
        for layer in LAYERS:
            run.layer[f"self_s.{layer}"] = sum(
                v for k, v in selfs.items()
                if k == layer or k.startswith(layer + "."))
        run.layer["trace.spans"] = len(tracer.spans)
        run.layer["trace.overhead_share"] = (
            len(tracer.spans) * span_cost_s() / max(tracer.op_wall(), 1e-9))
        run.layer["trace.query_p50_s"] = run.e2e["query_p50_s"]
        tdir = os.path.join(BUILD, "traces")
        os.makedirs(tdir, exist_ok=True)
        tracer.write(os.path.join(
            tdir, f"{a.workload}-seed{a.seed}.json"))

    if a.trace:
        units = per_layer_names()
        values = {k: float(run.layer.get(k, 0.0)) for k in units}
    else:
        units = END_TO_END
        values = {k: float(run.e2e[k]) for k in units}
    for k, v in values.items():
        print(f"{a.workload:7s} {k:44s} {v:16.6g} {units[k]}")
    if not a.trace:
        # the workload's own headline numbers (per-layer in the JSON,
        # because every end-to-end metric must exist on every workload)
        for k, name in HEADLINES.get(a.workload, []):
            print(f"{a.workload:7s} {name:44s} {run.layer[k]:16.6g} "
                  f"{per_layer_names()[k]}")
    print(f"{a.workload:7s} {'failed_ops_ratio':44s} "
          f"{run.failed / max(run.attempted, 1):16.6g} ratio "
          f"({run.failed}/{run.attempted}, {len(run.query_walls)} timed queries)")
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in values.items()}}))
    return 0


def run_all(a: argparse.Namespace) -> int:
    """Each workload in its own process; their result lines are merged
    into one, with metric names prefixed by the workload."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in sorted(WORKLOADS):
        args = ["--workload", w, "--seed", str(a.seed), "--seconds",
                str(a.seconds), "--trace", str(a.trace)] + (
                    ["--smoke"] if a.smoke else [])
        proc = subprocess.run([sys.executable, os.path.abspath(__file__)] + args,
                              stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            return proc.returncode
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{w}.{k}": v
                                  for k, v in res["metrics"].items()})
    print(json.dumps(merged))
    return 0


if __name__ == "__main__":
    sys.exit(main())
