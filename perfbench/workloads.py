"""The closed-loop workloads and the set-up they share.

Every workload builds its index from the generated corpus, opens an
engine and answers a first query; that set-up runs ``SETUP_REPEATS``
times and ``setup_s`` is its median.
Timed operations then run in a closed loop until ``--seconds`` have
passed; the operation in flight finishes. A fixed sample of each
workload's operations is checked against the DuckDB oracle after the
timed loop.

With tracing on, operations alternate between untraced and traced.
Traced operations run under their own Spark job group; after each one,
outside its timing, the benchmark reads Spark's counters for that group.
After the loop a sample is replayed through the scoring kernel
in-process.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import corpus as C
from kernel import Replay
from oracle import Oracle, rank_identical
from sparktrace import SparkCounters, interval_union

N_DOCS = 20_000
N_SEGMENTS = 8
K = 10
SETUP_REPEATS = 3
SELECTIVE_DF = (4, N_DOCS // 500)        # about one block per segment
SELECTIVE_PAIR_DF = N_DOCS // 50
HEAD_DF = (N_DOCS // 100, N_DOCS // 4)   # tens of blocks per term
BATCH = 32
IN_FLIGHT = 2
# Spark's query path keeps getting faster over its first requests (JIT):
# both loops start after this many untimed operations of their own kind
WARM_REQUESTS = 10        # search-selective requests
WARM_BATCHES = 8          # msearch-broad batches
ORACLE_SAMPLE = 8
KERNEL_SAMPLE = 12
# the write round of msearch-broad's traced run: fresh adds, deletes,
# upserts, then reads
ADD_DOCS, DELETE_DOCS, UPSERT_DOCS, READS = 500, 50, 100, 2


def log(line: str) -> None:
    print(line, flush=True)


def dir_files(path: str) -> dict:
    """{relative path: size} of the data files under ``path``."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if not f.endswith(".crc"):
                p = os.path.join(d, f)
                out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def written(before: dict, after: dict) -> int:
    """Bytes of files created or changed between two listings."""
    return sum(s for f, s in after.items() if before.get(f) != s)


class Bench:
    """One benchmark run: Spark, inputs, and what was measured."""

    def __init__(self, spark, work: str, seed: int, seconds: float, traced: bool):
        from opensearch_spark.index.build import build_index
        from opensearch_spark.search.engine import SearchEngine

        self.build_index, self.Engine = build_index, SearchEngine
        self.spark, self.work, self.seed = spark, work, seed
        self.seconds, self.traced = seconds, traced
        self.counters = SparkCounters(spark) if traced else None
        self.samples: dict = defaultdict(list)    # layer metric -> per-op values
        self.lat: dict = defaultdict(list)        # op kind -> untraced walls
        self.lat_traced: dict = defaultdict(list)
        self.attempted = self.failed = self.queries_done = 0
        self._groups = itertools.count()
        self.parse_s = threading.local()
        if traced:
            self._time_parse()

    def _time_parse(self) -> None:
        """Time the engine's own ``dsl.parse`` calls, per thread."""
        from opensearch_spark.search import dsl

        orig, tls = dsl.parse, self.parse_s

        def parse(body):
            t = time.perf_counter()
            try:
                return orig(body)
            finally:
                tls.value = getattr(tls, "value", 0.0) + time.perf_counter() - t

        dsl.parse = parse

    # ---- inputs ---------------------------------------------------------

    def make_inputs(self) -> None:
        self.corpus = C.generate(self.seed, N_DOCS)
        path = os.path.join(self.work, "corpus.parquet")
        pq.write_table(pa.Table.from_pandas(self.corpus.frame, preserve_index=False), path)
        self.docs = self.spark.read.parquet(path)
        self.ingested = self.content_bytes(self.corpus.frame)
        log(f"# corpus docs={N_DOCS} bytes={self.ingested} sha={self.corpus.digest()}")

    @staticmethod
    def content_bytes(frame: pd.DataFrame) -> int:
        return int(frame["content"].str.len().sum())

    def doc_ids(self, frame: pd.DataFrame) -> np.ndarray:
        """The engine's docIds (xxhash64 of the id columns) of ``frame``."""
        from pyspark.sql import functions as F

        df = self.spark.createDataFrame(frame[["repo", "path", "commit"]])
        return df.select(F.xxhash64("repo", "path", "commit").alias("d")) \
            .toPandas()["d"].to_numpy(np.int64)

    # ---- operations ------------------------------------------------------

    def group(self, kind: str, traced: bool):
        """(job group name, context setting it) for a traced op."""
        if not traced:
            return None, nullcontext()
        name = f"perfbench-{kind}-{next(self._groups)}"
        return name, self.counters.group(name)

    def op(self, kind: str, fn, traced: bool = False):
        """Run one timed operation -> (result, wall, Spark counters).
        An exception counts as a failure and yields result None."""
        self.attempted += 1
        group, ctx = self.group(kind, traced)
        t0 = time.perf_counter()
        try:
            with ctx:
                result = fn()
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None, 0.0, None
        wall = time.perf_counter() - t0
        (self.lat_traced if traced else self.lat)[kind].append(wall)
        return result, wall, (self.counters.collect(group) if group else None)

    def query(self, kind: str, make_df, traced: bool):
        """One read: the package plans a DataFrame, then it is collected.
        Traced reads time the collect's parts and record layers."""
        ph = {}

        def run():
            self.parse_s.value = 0.0
            t = time.perf_counter()
            df = make_df()
            ph["plan"] = time.perf_counter() - t
            ph["parse"] = self.parse_s.value
            return traced_collect(df, ph) if traced else df.collect()

        rows, ph["wall"], counters = self.op(kind, run, traced)
        if rows is not None and traced:
            self.read_layers(ph, counters)
        return rows, ph

    def spark_layers(self, prefix: str, c: dict) -> None:
        s = self.samples
        if not c["complete"]:
            s["trace.incomplete_ops"].append(1)
        for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                    "shuffle_bytes", "output_bytes", "pyworker_run_s", "pyworker_init_s",
                    "pyworker_bytes_sent", "pyworker_bytes_returned", "scan_rows_read",
                    "scan_rows_matched", "scan_parquet_bytes", "other_scan_rows"):
            s[f"{prefix}.{key}"].append(c[key])

    def read_layers(self, ph: dict, c: dict) -> None:
        """Layer times of one traced read. ``unattributed_s`` is its wall
        time that no measured layer covers: not engine planning, Catalyst,
        Spark's own job intervals or the rows' transfer to Python, but
        Py4J calls, job submission and the gaps between jobs."""
        s = self.samples
        self.spark_layers("spark", c)
        job_wall = interval_union(c["job_intervals"], *ph["window"])
        s["dsl.parse_s"].append(ph["parse"])
        s["engine.plan_s"].append(ph["plan"])
        s["catalyst.plan_s"].append(ph["catalyst"])
        s["spark.job_wall_s"].append(job_wall)
        s["spark.result_s"].append(ph["collect"] - job_wall)
        s["result.transfer_s"].append(ph["transfer"])
        s["unattributed_s"].append(ph["wall"] - ph["plan"] - ph["catalyst"] - job_wall
                                   - ph["transfer"])
        s["op.wall_s"].append(ph["wall"])

    # ---- set-up ----------------------------------------------------------

    def setup(self, first_query: dict) -> None:
        """Build, open and warm an engine SETUP_REPEATS times; keep the last."""
        times, builds = [], []
        self.engine = None
        for i in range(SETUP_REPEATS):
            ix = os.path.join(self.work, f"ix{i}")
            group, ctx = self.group("build", self.traced)
            t0 = time.perf_counter()
            with ctx:
                self.build_index(self.spark, self.docs, ix, n_segments=N_SEGMENTS)
            t1 = time.perf_counter()
            engine = self.Engine(self.spark, ix, corpus=self.docs, cache=True)
            t2 = time.perf_counter()
            engine.search(first_query, k=K).collect()
            t3 = time.perf_counter()
            times.append(t3 - t0)
            builds.append(t1 - t0)
            self.samples["engine.open_s"].append(t2 - t1)
            self.samples["engine.first_query_s"].append(t3 - t2)
            if group:
                self.spark_layers("build", self.counters.collect(group))
            if self.engine is not None:
                close_engine(self.engine)
                shutil.rmtree(self.ix)
            self.engine, self.ix = engine, ix
        self.setup_s = statistics.median(times)
        self.build_s = statistics.median(builds)
        self.bytes_written = sum(dir_files(self.ix).values())
        log(f"# setup_s={[round(t, 3) for t in times]} "
                 f"build_s={[round(t, 3) for t in builds]}")

    def generations(self) -> int:
        with open(os.path.join(self.ix, "manifest.json")) as f:
            return int(json.load(f).get("generations", 1))

    def end_to_end(self, op_walls: list, wall: float) -> dict:
        """``wall`` is the timed loop's duration."""
        return {
            "setup_s": (self.setup_s, "s"),
            "latency_p50_s": (statistics.median(op_walls), "s"),
            "throughput_qps": (self.queries_done / wall, "1/s"),
            "index_bytes_per_input_byte": (sum(dir_files(self.ix).values()) / self.ingested,
                                           "ratio"),
        }

    def check_oracle(self, live: pd.DataFrame, checks: list) -> None:
        """Rank identity of ``checks`` = [(Query, engine top-k)] against the
        oracle over ``live`` (doc_id, content); mismatches are failures."""
        path = os.path.join(self.work, "oracle.parquet")
        pq.write_table(pa.Table.from_pandas(live[["doc_id", "content"]],
                                            preserve_index=False), path)
        t0 = time.perf_counter()
        oracle = Oracle(path)
        bad = 0
        try:
            for q, got in checks:
                fn, kwargs = q.oracle
                want = oracle.scores(fn, kwargs)
                if not rank_identical(got, want, K):
                    bad += 1
                    top = sorted(want.items(), key=lambda x: (-x[1], x[0]))[:K]
                    print(f"oracle mismatch: {q.dsl} got {got} want {top}", file=sys.stderr)
        finally:
            oracle.close()
        self.attempted += len(checks)
        self.failed += bad
        log(f"# oracle checked={len(checks)} mismatches={bad} "
                 f"({time.perf_counter() - t0:.1f}s)")

    def replay(self, items: list, batch: bool = False) -> None:
        """Kernel replay of ``items`` = [(query or batch, engine top-k)];
        a top-k that differs from the engine's is a failure."""
        rp = Replay(self.ix)
        for q, got in items:
            self.attempted += 1
            if batch:
                rep = rp.batch([x.dsl for x in q], K)
                same = all(same_topk(rep.get(i, []), g) for i, g in enumerate(got))
            else:
                same = same_topk(rp.query(q.dsl, K), got)
            if not same:
                self.failed += 1
                print(f"kernel replay differs from the engine: {q}", file=sys.stderr)
        n = max(len(items), 1)
        for key, v in (("read_s", rp.read_s), ("score_s", rp.score_s),
                       ("blocks_decoded", rp.blocks_decoded),
                       ("blocks_total", rp.blocks_total)):
            self.samples[f"kernel.{key}"].append(v / n)


def traced_collect(df, ph: dict) -> list:
    """``df.collect()`` timed in parts: Catalyst (forcing the executed
    plan), the JVM running the jobs and holding the rows, and the rows'
    transfer to Python. This is ``DataFrame.collect`` spelled out."""
    from pyspark.serializers import BatchedSerializer, CPickleSerializer
    from pyspark.util import _load_from_socket

    t0 = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    w0, t1 = time.time(), time.perf_counter()
    sock = df._jdf.collectToPython()
    t2 = time.perf_counter()
    rows = list(_load_from_socket(sock, BatchedSerializer(CPickleSerializer())))
    t3 = time.perf_counter()
    ph.update(catalyst=t1 - t0, collect=t3 - t1, transfer=t3 - t2, window=(w0, time.time()))
    return rows


def close_engine(engine) -> None:
    engine.postings.unpersist()
    engine.docstats.unpersist()


def same_topk(a: list, b: list) -> bool:
    return len(a) == len(b) and all(
        x[0] == y[0] and abs(x[1] - y[1]) <= 1e-9 * max(1.0, abs(y[1]))
        for x, y in zip(a, b))


def hits(rows) -> list:
    return [(int(r["docId"]), float(r["score"])) for r in rows]


# ---- search-selective ----------------------------------------------------

def search_selective(b: Bench) -> dict:
    """One client; distinct `_search` requests with `_source` over
    low-df terms, on an engine with cached postings."""
    b.make_inputs()
    queries = C.make_queries(b.corpus, b.seed, "selective", 1000, *SELECTIVE_DF,
                             pair_hi=SELECTIVE_PAIR_DF)
    warmup = C.make_queries(b.corpus, b.seed, "selective-warmup", WARM_REQUESTS, *SELECTIVE_DF,
                            pair_hi=SELECTIVE_PAIR_DF)
    log(f"# queries n={len(queries)} sha={C.digest_queries(queries)}")
    b.setup(first_query=warmup[0].dsl)
    for q in warmup:
        b.engine.request(request_body(q))["hits"].collect()

    results = []
    t_start = time.perf_counter()
    for i, q in enumerate(queries):
        if time.perf_counter() - t_start >= b.seconds:
            break
        traced = b.traced and i % 2 == 1
        rows, ph = b.query("request", lambda: b.engine.request(request_body(q))["hits"], traced)
        if rows is None:
            continue
        b.queries_done += 1
        results.append((q, hits(rows)))
        if traced:
            # fetch = the request's Catalyst and collect minus those of the
            # search-only DataFrame it joins to the corpus (the engine's
            # plan cache returns that DataFrame, not yet collected)
            sph: dict = {}
            traced_collect(b.engine.search(q.dsl, k=K), sph)
            b.samples["fetch.s"].append(ph["catalyst"] + ph["collect"]
                                        - sph["catalyst"] - sph["collect"])
            b.samples["fetch.corpus_rows_scanned"].append(b.samples["spark.other_scan_rows"][-1])
    wall = time.perf_counter() - t_start

    if b.traced:
        b.replay(results[:KERNEL_SAMPLE])
    live = b.corpus.frame.assign(doc_id=b.doc_ids(b.corpus.frame))
    b.check_oracle(live, results[:ORACLE_SAMPLE])
    return b.end_to_end(b.lat["request"] or b.lat_traced["request"], wall)


def request_body(q: C.Query) -> dict:
    return {"query": q.dsl, "size": K, "_source": C.SOURCE_FIELDS}


# ---- msearch-broad -------------------------------------------------------

def msearch_broad(b: Bench) -> dict:
    """One ``msearch_many`` call keeps IN_FLIGHT batches of BATCH
    distinct head-term queries in flight until the time is up."""
    b.make_inputs()
    queries = C.make_queries(b.corpus, b.seed, "broad", BATCH * 200, *HEAD_DF)
    batches = [queries[i:i + BATCH] for i in range(0, len(queries), BATCH)]
    log(f"# queries n={len(queries)} sha={C.digest_queries(queries)}")
    batches, warm = batches[:-WARM_BATCHES], batches[-WARM_BATCHES:]
    b.setup(first_query=warm[0][0].dsl)
    eng = b.engine
    eng.msearch_many([[q.dsl for q in bt] for bt in warm], k=K, max_concurrent=IN_FLIGHT)

    bodies = [[q.dsl for q in bt] for bt in batches]
    index_of = {id(x): i for i, x in enumerate(bodies)}
    lock = threading.Lock()
    done: list = []   # (batch index, rows, phases, job group)
    plan = eng.msearch

    class Timed:
        """What ``msearch_many`` collects in place of the DataFrame: times
        each batch from its ``msearch`` call to the end of its collect."""

        def __init__(self, df, ph, group, idx):
            self.df, self.ph, self.group, self.idx = df, ph, group, idx

        def collect(self):
            ph = self.ph
            try:
                rows = traced_collect(self.df, ph) if self.group else self.df.collect()
            finally:
                if self.group:
                    b.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            ph["wall"] = time.perf_counter() - ph["t0"]
            with lock:
                done.append((self.idx, rows, ph, self.group))
            return rows

    class Skipped:
        """A batch whose turn comes after the time is up: not run."""

        def collect(self):
            return None

    def timed_msearch(qs, k=K):
        t0 = time.perf_counter()
        if t0 >= deadline:
            return Skipped()
        idx = index_of[id(qs)]
        with lock:
            b.attempted += 1
        ph = {"t0": t0}
        group = None
        if b.traced and idx % 2 == 1:
            # msearch_many's pool threads inherit the caller's job group;
            # a per-batch group attributes jobs to this batch alone
            group = f"perfbench-batch-{idx}"
            b.spark.sparkContext.setJobGroup(group, group)
        b.parse_s.value = 0.0
        df = plan(qs, k=k)
        ph["plan"] = time.perf_counter() - t0
        ph["parse"] = b.parse_s.value
        return Timed(df, ph, group, idx)

    eng.msearch = timed_msearch
    t_start = time.perf_counter()
    deadline = t_start + b.seconds
    try:
        eng.msearch_many(bodies, k=K, max_concurrent=IN_FLIGHT)
    except Exception:
        traceback.print_exc(file=sys.stderr)
    finally:
        eng.msearch = plan
    wall = time.perf_counter() - t_start

    b.failed += b.attempted - len(done)
    first_rows = None
    for idx, rows, ph, group in done:
        (b.lat_traced if group else b.lat)["batch"].append(ph["wall"])
        b.queries_done += len(bodies[idx])
        if idx == 0:
            first_rows = rows
        if group:
            b.read_layers(ph, b.counters.collect(group))

    per_q = defaultdict(list)
    for r in first_rows or []:
        per_q[int(r["qid"])].append((int(r["docId"]), float(r["score"])))
    got = [per_q.get(i, []) for i in range(BATCH)]
    if b.traced:
        b.replay([(batches[0], got)], batch=True)
    live = b.corpus.frame.assign(doc_id=b.doc_ids(b.corpus.frame))
    b.check_oracle(live, list(zip(batches[0], got))[:ORACLE_SAMPLE])
    e2e = b.end_to_end(b.lat["batch"] or b.lat_traced["batch"], wall)
    if b.traced:
        # The cached engine is released before the writes: while its
        # persisted postings and docstats live, Spark serves the writers'
        # reads of those paths from the stale cache and the index
        # statistics go wrong.
        close_engine(eng)
        write_round(b, live)
    return e2e


def write_round(b: Bench, base: pd.DataFrame) -> None:
    """The write path's layers, measured on the bench's index: an
    ``add_batch`` of fresh ids, ``SearchEngine.delete`` of some ids
    through a reader, an ``upsert_batch`` of changed docs, then a reopened
    reader (``cache=False``) answering READS queries, which are checked
    against the oracle. ``base`` is the indexed corpus with its docIds.
    Deleted and upserted docs are distinct base docs, so no id is ever
    added twice."""
    from opensearch_spark.index.incremental import add_batch, upsert_batch

    spark, ix = b.spark, b.ix
    pool = C.generate(b.seed, ADD_DOCS + UPSERT_DOCS, salt="fresh")
    queries = C.make_queries(b.corpus, b.seed, "ingest", READS, *SELECTIVE_DF,
                             pair_hi=SELECTIVE_PAIR_DF)
    log(f"# ingest pool_sha={pool.digest()} queries_sha={C.digest_queries(queries)}")
    add = pool.frame.iloc[:ADD_DOCS]
    add = add.assign(doc_id=b.doc_ids(add))
    victims = np.random.default_rng([b.seed, 7]).permutation(N_DOCS)
    del_ids = base["doc_id"].to_numpy()[victims[:DELETE_DOCS]].tolist()
    up = base.iloc[victims[DELETE_DOCS:DELETE_DOCS + UPSERT_DOCS]].assign(
        content=pool.frame["content"].to_numpy()[ADD_DOCS:])
    add_df = spark.createDataFrame(add.drop(columns="doc_id"))
    up_df = spark.createDataFrame(up.drop(columns="doc_id"))
    reader = b.Engine(spark, ix, cache=False)

    def write(kind: str, fn) -> None:
        before = dir_files(ix)
        _, _, c = b.op(kind, fn, traced=True)
        nbytes = written(before, dir_files(ix))
        b.bytes_written += nbytes
        if kind == "upsert":
            b.samples["upsert.bytes_rewritten"].append(nbytes)
        if c is not None:
            b.spark_layers(kind, c)

    write("add_batch", lambda: add_batch(spark, add_df, ix))
    write("delete", lambda: reader.delete(del_ids))
    write("upsert", lambda: upsert_batch(spark, up_df, ix))
    b.ingested += b.content_bytes(add) + b.content_bytes(up)
    live = pd.concat([base.set_index("doc_id", drop=False).drop(index=del_ids),
                      add.set_index("doc_id", drop=False)])
    live.loc[up["doc_id"].to_numpy(), "content"] = up["content"].to_numpy()

    def reopen():
        eng = b.Engine(spark, ix, cache=False)
        return eng, eng.search(queries[0].dsl, k=K).collect()

    res, _, _ = b.op("refresh", reopen)
    checks = []
    if res is not None:
        reader, rows = res
        checks.append((queries[0], hits(rows)))
        for q in queries[1:]:
            rows, _ = b.query("read_after_write", lambda: reader.search(q.dsl, k=K), False)
            if rows is not None:
                checks.append((q, hits(rows)))
    b.check_oracle(live.reset_index(drop=True), checks)


WORKLOADS = {
    "search-selective": search_selective,
    "msearch-broad": msearch_broad,
}
PRIMARY_OP = {"search-selective": "request", "msearch-broad": "batch"}
