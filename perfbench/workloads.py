"""The two workloads: `tree` (RAPTOR tile tree: build, serve, fold deltas)
and `search` (persisted full-text index: build, deltas, single queries and
the ranker battery).

Both report the same end-to-end metrics, each measured on its own store:

  build_pages_per_s      pages ÷ wall of the bulk build
  update_pages_per_s     delta pages ÷ total wall of folding the deltas in
                         (tree: each fold also answers its first query)
  query_p50_s            median wall of warm single queries (closed loop)
  batch_queries_per_s    questions in one batch ÷ median wall of the batches
  stored_bytes_per_page  bytes on disk of the store ÷ pages in it
  setup_s                median of three input set-ups (write parquet, open in Spark)
  driver_peak_rss_mb     peak RSS of the Python driver process

One client sends one request at a time and waits for its reply.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F

import raptor_rag_spark.api as api_mod
import raptor_rag_spark.kernels.embedder as embedder_mod
import raptor_rag_spark.plans.build_tree as build_tree_mod
from raptor_rag_spark.api import RetrievalAugmentation
from raptor_rag_spark.config import ClusterTreeConfig
from raptor_rag_spark.operators.ranking import bm25_rank, index_stats, ql_rank, rrf_fuse
from raptor_rag_spark.sources.checkpoint import TreeCheckpoint
from raptor_rag_spark.sources.pages import VOCAB, make_page
from raptor_rag_spark.sources.searchindex import SearchIndex

from perfbench import oracles
from perfbench.trace import Tracer, proc_cpu

PAGE_ID_STRIDE = 10**7
TREE_CONFIG = dict(max_tokens=64, num_layers=2, max_resolution=8)
TOP_K = 5
MAX_TOKENS = 3500
SEARCH_TOP_K = 10
DF_RATIO = (9, 10)
SETUP_REPEATS = 3
MIN_LOOP_SAMPLES = 3
LOOP_QUESTIONS = 400  # more than any --seconds allows; a loop stops on time

SIZES = {
    "tree": dict(base=400, delta=40, deltas=2, batch=32, batches=2, checks=4),
    "search": dict(base=1000, delta=300, deltas=3, batch=32, batches=1, checks=4),
}
TOY_SIZES = {
    "tree": dict(base=40, delta=8, deltas=2, batch=6, batches=2, checks=2),
    "search": dict(base=60, delta=10, deltas=2, batch=4, batches=1, checks=2),
}


@dataclass
class Run:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    seconds: float
    sizes: dict
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)
    details: dict = field(default_factory=dict)
    jvm_pid: int = 0
    cpu: dict = field(default_factory=dict)

    def op(self, ok: bool = True) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def fail(self, n: int, why: str) -> None:
        """Turn ``n`` already-counted operations into failures."""
        self.failed += n
        self.details.setdefault("check_failures", []).append(why)


# ---------------------------------------------------------------- inputs
def page_ids(seed: int, start: int, n: int) -> list[int]:
    base = seed * PAGE_ID_STRIDE + start
    return list(range(base, base + n))


def questions(seed: int, n: int, salt: int) -> list[str]:
    """``n`` distinct questions of 2–4 words drawn from the page vocabulary."""
    rng = np.random.default_rng([seed, salt])
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        q = " ".join(VOCAB[i] for i in rng.choice(len(VOCAB), size=int(rng.integers(2, 5)), replace=False))
        if q not in seen:
            seen.add(q)
            out.append(q)
    return out


def make_pages(ids: list[int]) -> tuple[list[int], list[str]]:
    return ids, [make_page(i)["text"] for i in ids]


def write_pages(path: str, pages: tuple[list[int], list[str]], files: int) -> None:
    """(doc_id, text) parquet, split into ``files`` files so a scan has one
    split per core."""
    os.makedirs(path, exist_ok=True)
    ids, texts = pages
    for k in range(files):
        sl = slice(k * len(ids) // files, (k + 1) * len(ids) // files)
        table = pa.table({"doc_id": pa.array(ids[sl], pa.int64()), "text": pa.array(texts[sl], pa.string())})
        pq.write_table(table, os.path.join(path, f"part-{k:03d}.parquet"))


def write_questions(path: str, qs: list[str]) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.table({"query_id": pa.array(range(len(qs)), pa.int64()), "qtext": pa.array(qs, pa.string())})
    pq.write_table(table, os.path.join(path, "part-000.parquet"))


def setup_inputs(run: Run, n_questions: int) -> dict:
    """Generate this seed's inputs, then ``SETUP_REPEATS`` times write them
    to parquet and open them in Spark; ``setup_s`` is the median wall of one
    write-and-open. The program sees only these parquet inputs."""
    sz, cores = run.sizes, run.spark.sparkContext.defaultParallelism
    pages = {"base": make_pages(page_ids(run.seed, 0, sz["base"]))}
    for d in range(sz["deltas"]):
        pages[f"delta{d}"] = make_pages(page_ids(run.seed, sz["base"] + d * sz["delta"], sz["delta"]))
    qs = questions(run.seed, n_questions, 1)
    walls = []
    for rep in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        root = os.path.join(run.work, f"inputs-{rep}")
        dirs = {k: os.path.join(root, k) for k in [*pages, "questions"]}
        for k, v in pages.items():
            write_pages(dirs[k], v, cores)
        write_questions(dirs["questions"], qs)
        frames = {k: run.spark.read.parquet(v) for k, v in dirs.items()}
        walls.append(time.perf_counter() - t0)
    run.metrics["setup_s"] = statistics.median(walls)
    run.details["setup_walls_s"] = walls
    return {"dirs": dirs, "frames": frames, "questions": qs}


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def serve_mix(run: Run, ask, items: list, batch_calls: list) -> tuple[list[float], list[float]]:
    """Closed loop with one client that sends one request at a time:
    windows of distinct single queries around the batch requests (singles,
    batch, singles, ..., singles), ``run.seconds`` of singles in all and at
    least MIN_LOOP_SAMPLES. Spreading the singles over the whole phase keeps
    one slow stretch of a shared host from setting their median. A single
    query that raises counts as a failed request. Returns the walls of the
    singles and of the batches."""
    windows = len(batch_calls) + 1
    lat: list[float] = []
    batch_walls: list[float] = []
    i = 0
    for w in range(windows):
        need = MIN_LOOP_SAMPLES - len(lat) if w == windows - 1 else 1
        n0 = len(lat)
        with phase(run, "phase.query_loop"):
            t_end = time.perf_counter() + run.seconds / windows
            while (time.perf_counter() < t_end or len(lat) - n0 < need) and i < len(items):
                t0 = time.perf_counter()
                try:
                    ask(i, items[i])
                except Exception as e:
                    run.op(False)
                    run.details.setdefault("errors", []).append(f"query {i}: {e!r}"[:300])
                else:
                    run.op(True)
                    lat.append(time.perf_counter() - t0)
                i += 1
        if w < len(batch_calls):
            with phase(run, "phase.batch") as ph:
                batch_calls[w]()
            run.op(True)
            batch_walls.append(ph.wall)
    return lat, batch_walls


def phase(run: Run, name: str):
    """A timed phase: a span in the traced run, which also reads the /proc
    CPU counters of the JVM and the Python workers at both ends."""
    return _Phase(run, name)


class _Phase:
    def __init__(self, run: Run, name: str):
        self.run, self.name = run, name

    def __enter__(self):
        self.ctx = self.run.tracer.span(self.name)
        self.ctx.__enter__()
        if self.run.tracer.enabled:
            self.cpu0 = proc_cpu(self.run.jvm_pid)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        if self.run.tracer.enabled:
            for k, v in proc_cpu(self.run.jvm_pid).items():
                self.run.cpu[k] = self.run.cpu.get(k, 0.0) + v - self.cpu0[k]
        return self.ctx.__exit__(*exc)


# ------------------------------------------------------------------ tree
def trace_tree(tracer: Tracer) -> list:
    """Wrap the tree path's public functions where their callers look
    them up. Returns the list that collects (span id, DataFrame) for each
    build_parent_nodes call, to count its output rows after timing."""
    rollups: list = []

    def ckpt_size(tr, _out, args, kwargs):
        self_, level = args[0], args[2] if len(args) > 2 else kwargs["level"]
        b, f = dir_bytes(self_.level_dir(level))
        tr.count("bytes", b)
        tr.count("files", f)

    tracer.wrap(RetrievalAugmentation, "retrieve", "api.retrieve")
    tracer.wrap(RetrievalAugmentation, "retrieve_batch", "api.retrieve_batch")
    tracer.wrap(RetrievalAugmentation, "update_documents", "api.update_documents")
    tracer.wrap(RetrievalAugmentation, "add_documents", "api.add_documents")
    tracer.wrap(embedder_mod, "embed_texts", "kernels.embed_texts")
    tracer.wrap(api_mod, "collapsed_knn", "operators.knn.collapsed_knn")
    tracer.wrap(api_mod, "retrieval_context", "operators.knn.retrieval_context")
    tracer.wrap(api_mod, "build_tree", "plans.build_tree")
    tracer.wrap(build_tree_mod, "update_tree", "plans.update_tree")
    tracer.wrap(build_tree_mod, "build_parent_nodes", "operators.rollup.build_parent_nodes",
                after=lambda tr, out, a, k: rollups.append((tr.current().sid, out)))
    tracer.wrap(TreeCheckpoint, "write_level", "sources.checkpoint.write_level", after=ckpt_size)
    tracer.wrap(TreeCheckpoint, "read_level", "sources.checkpoint.read_level")
    return rollups


def run_tree(run: Run) -> None:
    sz, spark, tr = run.sizes, run.spark, run.tracer
    cfg = ClusterTreeConfig(**TREE_CONFIG)
    inputs = setup_inputs(run, sz["batch"] * sz["batches"])
    loop_qs = questions(run.seed, LOOP_QUESTIONS + sz["deltas"], 2)
    fresh_qs, loop_qs = loop_qs[:sz["deltas"]], loop_qs[sz["deltas"]:]
    fr = inputs["frames"]
    rollups = trace_tree(tr) if tr.enabled else []

    # bulk build
    ckpt = os.path.join(run.work, "tree-ckpt")
    ra = RetrievalAugmentation(spark, cfg)
    with phase(run, "phase.build") as ph:
        ra.add_documents(fr["base"], checkpoint_dir=ckpt)
        n_nodes = ra.tree.count()
    run.op(True)
    run.metrics["build_pages_per_s"] = sz["base"] / ph.wall
    stored, _ = dir_bytes(ckpt)
    run.metrics["stored_bytes_per_page"] = stored / sz["base"]
    run.details.update(build_s=ph.wall, tree_nodes=n_nodes, stored_bytes=stored)
    if tr.enabled:
        leaves_before = ra.tree.where(F.col("level") == 0).count()

    # warm single questions and batches of distinct questions; the first
    # single question is untimed
    t0 = time.perf_counter()
    ra.retrieve(loop_qs[-1], top_k=TOP_K)
    run.details["warmup_s"] = time.perf_counter() - t0
    answers: dict[int, tuple] = {}

    def ask(i, q):
        ctx, layers = ra.retrieve(q, top_k=TOP_K)
        if i < sz["checks"]:
            answers[i] = (ctx, [(d["node_index"], d["layer_number"]) for d in layers])

    batch_rows: dict[int, list] = {}

    def batch(k):
        qdf = fr["questions"].where(F.col("query_id").between(k * sz["batch"], (k + 1) * sz["batch"] - 1))
        batch_rows[k] = ra.retrieve_batch(qdf, top_k=TOP_K).collect()

    lat, batch_walls = serve_mix(run, ask, loop_qs, [lambda k=k: batch(k) for k in range(sz["batches"])])
    run.metrics["query_p50_s"] = statistics.median(lat)
    run.metrics["batch_queries_per_s"] = sz["batch"] / statistics.median(batch_walls)
    run.details.update(query_samples=len(lat), query_walls_s=lat, batch_walls_s=batch_walls)

    # check: contexts equal a DuckDB recomputation over a dump of the tree
    t0 = time.perf_counter()
    with tr.span("check.serve"):
        dump = os.path.join(run.work, "tree-dump")
        ra.tree.select("node_id", "level", "text", "token_count", "embedding").write.parquet(dump)
        qs = [loop_qs[i] for i in sorted(answers)] + inputs["questions"][: sz["checks"]]
        want = oracles.expected_contexts(dump, qs, TOP_K, MAX_TOKENS)
        for j, i in enumerate(sorted(answers)):
            if answers[i] != want[j]:
                run.fail(1, f"retrieve context differs from the DuckDB twin for question {i}")
        got_batch = {
            r["query_id"]: (r["context"], [(x["node_id"], x["level"]) for x in r["layer_information"]])
            for r in batch_rows[0]
        }
        bad = [i for i in range(sz["checks"]) if got_batch.get(i) != want[len(answers) + i]]
        if len(got_batch) != sz["batch"] or bad:
            run.fail(1, f"retrieve_batch differs from the DuckDB twin for query ids {bad}")
    run.details["check_serve_s"] = time.perf_counter() - t0

    # successive deltas folded into the same facade, each then read once
    fold_walls, fresh_walls, partitions = [], [], []
    for d in range(sz["deltas"]):
        with phase(run, "phase.fold") as ph:
            ra.update_documents(fr[f"delta{d}"])
            ra.tree.count()
        run.op(True)
        fold_walls.append(ph.wall)
        with phase(run, "phase.fresh") as ph:
            ra.retrieve(fresh_qs[d], top_k=TOP_K)
        run.op(True)
        fresh_walls.append(ph.wall)
        if tr.enabled:
            partitions.append(ra.tree.rdd.getNumPartitions())
    run.metrics["update_pages_per_s"] = sz["deltas"] * sz["delta"] / (sum(fold_walls) + sum(fresh_walls))
    run.details.update(fold_walls_s=fold_walls, fresh_walls_s=fresh_walls)

    # check: the folded tree equals a fresh build over the union corpus
    t0 = time.perf_counter()
    with tr.span("check.folds"):
        union = fr["base"]
        for d in range(sz["deltas"]):
            union = union.unionByName(fr[f"delta{d}"])
        rebuilt = build_tree_mod.build_tree(union, cfg)
        if oracles.tree_signature(ra.tree) != oracles.tree_signature(rebuilt):
            run.fail(sz["deltas"], "folded tree differs from a fresh build over the union corpus")
    run.details["check_folds_s"] = time.perf_counter() - t0

    if tr.enabled:
        tr.unwrap_all()
        run.details["output_partitions_per_fold"] = partitions
        run.details["new_leaves"] = ra.tree.where(F.col("level") == 0).count() - leaves_before
        in_folds = {s.sid for p in tr.named("phase.fold") for s in tr.descendants(p)}
        run.details["fold_rollup_rows"] = sum(df.count() for sid, df in rollups if sid in in_folds)


# ---------------------------------------------------------------- search
def trace_search(tracer: Tracer) -> None:
    def commit_size(tr, _out, args, _kwargs):
        b, f = dir_bytes(os.path.join(args[0].table.root, "data"))
        tr.count("bytes_after", b)
        tr.count("files_after", f)

    tracer.wrap(SearchIndex, "build", "sources.searchindex.build", after=commit_size)
    tracer.wrap(SearchIndex, "add_documents", "sources.searchindex.add_documents", after=commit_size)
    tracer.wrap(SearchIndex, "postings", "sources.searchindex.postings")
    tracer.wrap(SearchIndex, "search", "sources.searchindex.search")


def battery(run: Run, idx: SearchIndex, bq) -> tuple:
    """The hybrid-ranking front of bench.py's `search_stack` leg against the
    persisted index: shared statistics, BM25, Dirichlet QL and their RRF
    fusion. A span covers each call together with the action the battery
    runs on its result; BM25 and QL execute inside RRF's action. Returns
    the BM25 and QL DataFrames and the collected RRF rows."""
    tr = run.tracer
    postings = idx.postings(run.spark)
    with tr.span("operators.ranking.index_stats"):
        st = index_stats(postings)
    with tr.span("operators.ranking.bm25_rank"):
        a = bm25_rank(None, bq, top_k=SEARCH_TOP_K, max_df_ratio=DF_RATIO, postings=postings, shared=st)
    with tr.span("operators.ranking.ql_rank"):
        b = ql_rank(None, bq, top_k=SEARCH_TOP_K, postings=postings, shared=st)
    with tr.span("operators.ranking.rrf_fuse"):
        fused = rrf_fuse(a, b, top_k=SEARCH_TOP_K).collect()
    return a, b, fused


def one_query(spark, i: int, q: str):
    return spark.createDataFrame([(i, q)], "query_id int, qtext string")


def run_search(run: Run) -> None:
    sz, spark, tr = run.sizes, run.spark, run.tracer
    inputs = setup_inputs(run, sz["batch"])
    fr, dirs = inputs["frames"], inputs["dirs"]
    loop_qs = questions(run.seed, LOOP_QUESTIONS, 2)
    bq = spark.createDataFrame(list(enumerate(inputs["questions"])), "query_id int, qtext string").cache()
    bq.count()

    if tr.enabled:
        trace_search(tr)

    root = os.path.join(run.work, "index")
    idx = SearchIndex(root)
    with phase(run, "phase.index_build") as ph:
        idx.build(fr["base"])
    run.op(True)
    run.metrics["build_pages_per_s"] = sz["base"] / ph.wall
    run.details["index_build_s"] = ph.wall

    delta_walls = []
    for d in range(sz["deltas"]):
        with phase(run, "phase.index_delta") as ph:
            idx.add_documents(fr[f"delta{d}"])
        run.op(True)
        delta_walls.append(ph.wall)
    run.metrics["update_pages_per_s"] = sz["deltas"] * sz["delta"] / sum(delta_walls)
    n_pages = sz["base"] + sz["deltas"] * sz["delta"]
    stored, _ = dir_bytes(root)
    run.metrics["stored_bytes_per_page"] = stored / n_pages
    run.details.update(delta_walls_s=delta_walls, stored_bytes=stored)

    # warm single queries around the ranker battery; the first single
    # query is untimed
    t0 = time.perf_counter()
    idx.search(spark, one_query(spark, 0, loop_qs[-1]), top_k=SEARCH_TOP_K).collect()
    run.details["warmup_s"] = time.perf_counter() - t0
    answers: dict[int, list] = {}

    def ask(i, q):
        rows = idx.search(spark, one_query(spark, i, q), top_k=SEARCH_TOP_K).collect()
        if i < sz["checks"]:
            answers[i] = oracles.rounded(rows)

    ranked: dict[str, object] = {}

    def run_battery():
        ranked["bm25"], ranked["ql"], ranked["rrf"] = battery(run, idx, bq)

    lat, batch_walls = serve_mix(run, ask, loop_qs, [run_battery])
    run.metrics["query_p50_s"] = statistics.median(lat)
    run.metrics["batch_queries_per_s"] = sz["batch"] / batch_walls[0]
    run.details.update(query_samples=len(lat), query_walls_s=lat, battery_s=batch_walls[0])

    # check: over the maintained index, single-query BM25 and the battery's
    # QL and RRF equal the DuckDB twins over the union corpus (RRF fuses the
    # battery's BM25 with the df cap, so that list is checked through it)
    t0 = time.perf_counter()
    with tr.span("check.search"):
        corpus = [dirs["base"]] + [dirs[f"delta{d}"] for d in range(sz["deltas"])]
        sample = list(enumerate(inputs["questions"]))[: sz["checks"]]
        loop_sample = [(i, loop_qs[i]) for i in sorted(answers)]
        want, want_loop = oracles.expected_rankings(
            corpus, [(sample, DF_RATIO), (loop_sample, None)], SEARCH_TOP_K)
        got = {
            "ql": oracles.rows_of(ranked["ql"].where(F.col("query_id") < sz["checks"])),
            "rrf": oracles.rounded(r for r in ranked["rrf"] if r["query_id"] < sz["checks"]),
        }
        for k in got:
            if got[k] != want[k] or not want[k]:
                run.fail(1, f"battery {k} differs from the DuckDB twin")
        if sorted(r for i in sorted(answers) for r in answers[i]) != want_loop["bm25"] or not answers:
            run.fail(1, "single-query search differs from the DuckDB BM25 twin")
    run.details["check_search_s"] = time.perf_counter() - t0

    if tr.enabled:
        tr.unwrap_all()


WORKLOADS = {"tree": run_tree, "search": run_search}
