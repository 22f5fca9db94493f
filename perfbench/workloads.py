"""The workloads: set-up, closed measuring loop, output checks.

Every workload drives synspark only through its public API, from one
driver process. A workload object keeps its state between ``setup``
(run several times; the last one leaves the state the loop uses),
``loop`` (measures for the run's seconds) and ``check`` (outside the
timed region). Each timed call goes through ``Ctx.call``, which records
its latency, its span and, in a traced run, its Spark jobs.
"""

from __future__ import annotations

import math
import shutil
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from spans import SparkCounter, Tracer

# sizes: chosen so one run (JVM start, set-ups, warm-up, a 17 s
# loop, checks) takes about a minute on 4 cores, 20-50x below the 100k-doc
# scale of bench.py. At these sizes Spark's per-job floor is most of every
# call, so tokenizer, codec and query-kernel changes show in the per-layer
# metrics rather than in the end-to-end ones.
SERVE_DOCS = 5000
INGEST_BATCH_DOCS = 400
DEDUP_DOCS = 2000
SERVE_CLIENTS = 2
WARMUP_QUERIES = 4
# more ops than a loop of a minute can run
QUERY_STREAM = 1000
# the loop starts whole rounds of one query per class, so every run
# times the same class mix
ROUND = len(gen.QUERY_CLASSES)
CHECK_KINDS = [("and", "or", "or_k1000", "syn", "bool"), ("count",),
               ("phrase", "qs", "qs_slop")]


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: Path
    cpus: int
    tracer: Tracer
    counter: SparkCounter | None = None
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def fail(self, what: str) -> None:
        with self._lock:
            self.failed += 1
            self.errors.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)

    def call(self, name: str, op: int, fn, **attrs):
        """Run one timed op. Returns (result, seconds); result is None
        when the op raised (counted as failed)."""
        with self._lock:
            self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, op=op, **attrs) as sp:
                if self.counter is None:
                    res = fn()
                else:
                    with self.counter.op(f"perfbench:{name}:{op}") as cnt:
                        res = fn()
                    sp.update(cnt)
        except Exception:  # noqa: BLE001 — the loop must keep running
            self.fail(f"{name}#{op} raised:\n{traceback.format_exc()}")
            return None, time.perf_counter() - t0
        return res, time.perf_counter() - t0


def engine_config():
    from synspark.synonyms import SynonymDict
    from synspark.tokenizer import TokenizerConfig
    return (TokenizerConfig(n=2, expand=True, ignore_case=True),
            SynonymDict.parse(gen.SYNONYM_RULES))


def write_parquet(pdf, path: Path, n_files: int) -> Path:
    """``pdf`` as ``n_files`` parquet files, so Spark scans in parallel."""
    if path.exists():
        shutil.rmtree(path)
    path.mkdir(parents=True)
    for i in range(n_files):
        pq.write_table(pa.Table.from_pandas(pdf.iloc[i::n_files],
                                            preserve_index=False),
                       path / f"part-{i:03d}.parquet")
    return path


def build(ctx: Ctx, corpus_df, out: Path, name="index_store.build",
          op: int = 0):
    from synspark.index_store import build_index
    cfg, syn = engine_config()
    return ctx.call(name, op, lambda: build_index(
        ctx.spark, corpus_df, str(out), cfg=cfg, syn=syn,
        store_positions=True, source="perfbench", resume=False))


# --------------------------------------------------------------------
# queries
# --------------------------------------------------------------------

def query_df(spark, store, op: dict):
    """The lazy DataFrame for one generated query op."""
    from synspark.query import count_matches, match_ids, search, search_bool
    from synspark.querystring import query_string
    c = op["cls"]
    if c in ("and", "or"):
        return search(spark, store, op["text"], k=10, mode=c)
    if c == "or_k1000":
        return search(spark, store, op["text"], k=1000, mode="or")
    if c == "phrase":
        return search(spark, store, op["text"], k=10, phrase=True)
    if c == "count":
        return count_matches(spark, store, op["text"], phrase=True)
    if c == "bool":
        return search_bool(spark, store, must=op["must"],
                           should=op["should"], must_not=op["must_not"],
                           k=10)
    if c == "syn":
        return search(spark, store, op["text"], k=10,
                      syn=engine_config()[1])
    if c in ("qs", "qs_slop"):
        return query_string(spark, store, op["text"], k=10)
    if c == "sentinel":
        return match_ids(spark, store, op["text"], phrase=True)
    raise ValueError(f"unknown query class {c}")


def run_query(ctx: Ctx, store, op: dict, i: int):
    """Timed query: plan (the call returning the lazy DataFrame) and
    execute (its ``collect``) as child spans. Returns (rows, seconds).
    A traced query's span also records the op, the index build it ran
    against and its hit count."""
    def body():
        with ctx.tracer.span("query.plan"):
            df = query_df(ctx.spark, store, op)
        with ctx.tracer.span("query.execute") as sp:
            rows = df.collect()
            if sp is not None:
                sp["hits"] = rows[0]["hits"] if op["cls"] == "count" \
                    else len(rows)
        return rows
    if not ctx.tracer.enabled:
        return ctx.call("query", i, body)
    return ctx.call("query", i, body, cls=op["cls"], q=op,
                    build_id=store.meta().build_id)


def check_query(spark, store, op: dict, rows) -> str | None:
    """None if ``rows`` (the op's result) agrees with an independent
    path through the engine, else a description of the mismatch."""
    from pyspark.sql import functions as F

    from synspark.query import match_ids, plan_bool, score_naive
    c = op["cls"]
    got = [(r["doc_id"], r["score"]) for r in rows] if c != "count" \
        else None
    if c in ("and", "or", "or_k1000", "syn", "bool"):
        k = 1000 if c == "or_k1000" else 10
        if c == "bool":
            plan = plan_bool(spark, store, op["must"], op["should"],
                             op["must_not"])
            exp_df = score_naive(spark, store, "", k=k, mode="or",
                                 plan=plan)
        else:
            exp_df = score_naive(
                spark, store, op["text"], k=k,
                mode="and" if c in ("and", "syn") else "or",
                syn=engine_config()[1] if c == "syn" else None)
        exp = [(r["doc_id"], r["score"]) for r in exp_df.collect()]
        same = len(got) == len(exp) and all(
            a[0] == b[0] and math.isclose(a[1], b[1], rel_tol=1e-9)
            for a, b in zip(got, exp))
        return None if same else f"{c} {op}: got {got[:5]} want {exp[:5]}"
    phrase = op.get("phrase", op.get("text"))
    ids_df = match_ids(spark, store, phrase, phrase=True,
                       slop=op.get("slop", 0))
    if c == "count":
        n = ids_df.agg(F.count("*")).first()[0]
        return None if rows[0]["hits"] == n else \
            f"count {op}: count_matches {rows[0]['hits']} match_ids {n}"
    ids = {r["doc_id"] for r in ids_df.collect()}
    hit_ids = [d for d, _ in got]
    if not set(hit_ids) <= ids:
        return f"{c} {op}: hits outside the phrase's match set"
    if c in ("phrase", "qs_slop") and len(hit_ids) != min(10, len(ids)):
        return f"{c} {op}: {len(hit_ids)} hits of {len(ids)} matches"
    return None


# --------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------

class Workload:
    """Base: subclasses fill ``prepare`` (input generation, untimed),
    ``setup_once`` (the program's set-up work), ``loop`` and ``check``."""

    name = ""
    # set-ups per run: ``setup_s`` is their median; the first one in a
    # fresh JVM runs several times slower
    setup_repeats = 3
    # the lazily built store the per-layer probes reuse (None: build one)
    store = None
    # (corpus DataFrame, its content bytes) the store was built from
    store_input = None

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.setup_s: list[float] = []

    def setup(self) -> None:
        for r in range(self.setup_repeats):
            t0 = time.perf_counter()
            self.setup_once(r)
            self.setup_s.append(time.perf_counter() - t0)

    def prepare(self) -> None:
        raise NotImplementedError

    def setup_once(self, r: int) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        """Untimed work between set-up and the loop."""

    def loop(self) -> dict:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def deadline(self) -> float:
        return time.perf_counter() + self.ctx.seconds


def _corpus_bytes(pdf) -> int:
    return int(pdf["content"].str.encode("utf-8").str.len().sum())


class Serve(Workload):
    """Read-only queries from two closed-loop client threads against an
    index built in set-up."""

    name = "serve"
    docs = SERVE_DOCS

    def prepare(self) -> None:
        ctx = self.ctx
        self.pdf = gen.corpus(ctx.seed, self.docs)
        path = write_parquet(self.pdf, ctx.work / "corpus", 2 * ctx.cpus)
        self.store_input = (ctx.spark.read.parquet(str(path)),
                            _corpus_bytes(self.pdf))
        self.ops = gen.query_stream(ctx.seed, list(self.pdf["content"]),
                                    list(self.pdf["lang"]), QUERY_STREAM)

    def setup_once(self, r: int) -> None:
        """Build the index the loop reads (the previous one is removed)."""
        if self.store is not None:
            shutil.rmtree(str(self.store.path), ignore_errors=True)
        self.store, _ = build(self.ctx, self.store_input[0],
                              self.ctx.work / f"idx{r}",
                              name="setup.build", op=r)
        if self.store is None:
            raise RuntimeError("set-up build failed")

    def warm_up(self) -> None:
        """Untimed queries from a separate seeded stream: the first
        queries of a fresh JVM run up to twice as slow."""
        warm = gen.query_stream(self.ctx.seed, list(self.pdf["content"]),
                                list(self.pdf["lang"]), WARMUP_QUERIES,
                                tag="warmup")
        self._clients(lambda i: query_df(self.ctx.spark, self.store,
                                         warm[i]).collect(),
                      len(warm), math.inf)

    def _clients(self, fn, n: int, end: float) -> None:
        """``SERVE_CLIENTS`` closed-loop threads calling ``fn(i)`` for
        i = 0, 1, ... until ``n`` ops are taken or, at the start of a
        round of ``ROUND`` ops, ``end`` has passed."""
        from pyspark import InheritableThread
        nxt, lock = [0], threading.Lock()

        def client():
            while True:
                with lock:
                    i = nxt[0]
                    if i >= n or (i % ROUND == 0
                                  and time.perf_counter() >= end):
                        return
                    nxt[0] += 1
                fn(i)

        threads = [InheritableThread(target=client)
                   for _ in range(SERVE_CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    def loop(self) -> dict:
        ctx, lock = self.ctx, threading.Lock()
        self.done: dict[int, tuple] = {}

        def one(i: int) -> None:
            rows, dt = run_query(ctx, self.store, self.ops[i], i)
            if rows is not None:
                with lock:
                    self.done[i] = (rows, dt)

        # two ops run at once: each counts only the jobs of its own group
        # (queries start no jobs from helper threads)
        if ctx.counter is not None:
            ctx.counter.grouped_only = True
        t0 = time.perf_counter()
        try:
            self._clients(one, len(self.ops), self.deadline())
        finally:
            if ctx.counter is not None:
                ctx.counter.grouped_only = False
        elapsed = time.perf_counter() - t0
        lat = [dt for _, dt in self.done.values()]
        return {"throughput": len(lat) / elapsed, "latencies": lat}

    def check(self) -> None:
        """The index holds every input row with its content hash; then
        one seeded completed op of each check kind: a ranked class
        against ``score_naive``, ``count`` against ``match_ids`` and a
        phrase-gated class against its phrase's ``match_ids``."""
        from synspark.index_store import verify_content_sha
        ctx = self.ctx
        n = self.store.stats()["n_docs"]
        if n != self.docs:
            ctx.fail(f"index: n_docs {n} != {self.docs} input rows")
        bad = verify_content_sha(ctx.spark, self.store_input[0], self.store)
        if bad:
            ctx.fail(f"index: {bad} content sha256 mismatches")
        rng = np.random.default_rng([ctx.seed, 7])
        for kind in CHECK_KINDS:
            done = [i for i in sorted(self.done)
                    if self.ops[i]["cls"] in kind]
            if not done:
                continue
            i = int(rng.choice(done))
            err = check_query(ctx.spark, self.store, self.ops[i],
                              self.done[i][0])
            if err:
                ctx.fail(f"query#{i}: {err}")


class IngestCycle:
    """One writer's cycle on an existing index: append a batch whose docs
    carry a sentinel token, delete ~1% of the live ids, run the merge
    policy. After the append and after the delete, the sentinel query
    must return exactly the batch's live ids, so no tombstoned id
    appears; at the end a ranked query must match ``score_naive``. Every
    append changes the build id, so each query after it pays the cold df
    lookup. (Not a gated workload: the traced run of every workload runs
    one cycle for the append, delete and merge layers.)"""

    def __init__(self, ctx: Ctx, store):
        self.ctx, self.store = ctx, store
        self.q = 10**7  # op ids apart from the loop's

    def run(self, parity_op: dict) -> None:
        from synspark.deletes import auto_merge, delete_docs
        from synspark.index_store import append_to_index
        ctx, store = self.ctx, self.store
        rng = np.random.default_rng([ctx.seed, 11])
        base = store.stats()["n_docs"]
        self.sentinel = gen.sentinel_token(ctx.seed, 0)
        pdf = gen.corpus(ctx.seed, INGEST_BATCH_DOCS, tag="b0",
                         sentinel=self.sentinel)
        # local ids 0..B-1: the append offsets them by the doc count
        pdf.insert(0, "doc_id", np.arange(len(pdf), dtype=np.int64))
        batch = ctx.spark.read.parquet(str(write_parquet(
            pdf, ctx.work / "batch0", ctx.cpus)))
        st, _ = ctx.call("index_store.append", 0, lambda: append_to_index(
            ctx.spark, store, batch, syn=engine_config()[1],
            source="perfbench-b0"))
        if st is None:
            return
        batch_ids = set(range(base, base + INGEST_BATCH_DOCS))
        self._sentinel(batch_ids)

        # ~1% of the live ids, two of them from the new batch
        victims = set(rng.choice(base + INGEST_BATCH_DOCS,
                                 size=(base + INGEST_BATCH_DOCS) // 100,
                                 replace=False).tolist())
        victims |= set(rng.choice(sorted(batch_ids), size=2,
                                  replace=False).tolist())
        res, _ = ctx.call("deletes.delete", 0, lambda: delete_docs(
            ctx.spark, store, doc_ids=sorted(victims),
            source="perfbench-d0"))
        if res is not None:
            self._sentinel(batch_ids - victims)

        # the merge policy; a traced span records the bytes of the shards
        # it rewrote
        shards = store.stats()["n_shards"]
        ctx.call("deletes.merge", 0, lambda: auto_merge(
            ctx.spark, store, source="perfbench-m0"))
        if ctx.tracer.enabled:
            ctx.tracer.spans[-1]["bytes_rewritten"] = sum(
                v.get("bytes", 0) for k, v in
                store.manifest()["shards"].items() if int(k) >= shards)

        rows = query_df(ctx.spark, store, parity_op).collect()
        err = check_query(ctx.spark, store, parity_op, rows)
        if err:
            ctx.fail(f"ingest parity: {err}")

    def _sentinel(self, expect: set) -> None:
        op = {"cls": "sentinel", "text": self.sentinel}
        self.q += 1
        rows, _ = run_query(self.ctx, self.store, op, self.q)
        if rows is None:
            return
        got = {r["doc_id"] for r in rows}
        if got != expect:
            self.ctx.fail(
                f"sentinel {op['text']}: {len(got)} ids, want "
                f"{len(expect)}; extra {sorted(got - expect)[:5]} "
                f"missing {sorted(expect - got)[:5]}")


class Dedup(Workload):
    """Whole dedup passes over a corpus with planted duplicates: the
    exact-dup groups, shingles, MinHash signatures, LSH candidates, the
    drop list, SimHash signatures and the SimHash near-dup join."""

    name = "dedup"
    setup_repeats = 7  # a set-up takes about a second
    near_within = 0  # planted near pairs within Hamming 3 (set by check)

    def prepare(self) -> None:
        ctx = self.ctx
        self.pdf, self.planted = gen.dedup_corpus(ctx.seed, DEDUP_DOCS)
        path = write_parquet(self.pdf, ctx.work / "dedup", 2 * ctx.cpus)
        self.df = ctx.spark.read.parquet(str(path))

    def setup_once(self, r: int) -> None:
        """One shingle + MinHash signature pass over the corpus."""
        from synspark.datapipe.dedup import minhash_signatures, word_shingles
        self.ctx.call("setup.minhash", r, lambda: minhash_signatures(
            word_shingles(self.df)).count())

    def warm_up(self) -> None:
        """One untimed pass: the first pass in a fresh JVM runs about
        twice as slow."""
        self.one_pass(-1, timed=False)

    def one_pass(self, p: int, timed: bool = True) -> dict:
        """The stages of one pass, each a timed op; returns each stage's
        output by stage name (None for a stage that raised)."""
        from synspark.datapipe.dedup import (dedup_drop_list,
                                             exact_dup_groups,
                                             lsh_candidate_pairs,
                                             minhash_signatures, simhash,
                                             simhash_near_dups,
                                             word_shingles)
        out: dict = {}

        def stage(name: str, fn) -> None:
            if not timed:
                out[name] = fn()
                return
            out[name], _ = self.ctx.call(f"dedup.{name}", p, fn)

        stage("exact", lambda: exact_dup_groups(self.df).collect())
        stage("shingles", lambda: word_shingles(self.df).localCheckpoint())
        stage("minhash", lambda: minhash_signatures(
            out["shingles"]).localCheckpoint())
        stage("lsh", lambda: lsh_candidate_pairs(out["minhash"]).collect())
        stage("drop_list", lambda: dedup_drop_list(self.df).collect())
        stage("simhash_sig", lambda: simhash(self.df).localCheckpoint())
        stage("simhash_join", lambda: simhash_near_dups(
            out["simhash_sig"], max_hamming=3).collect())
        return out

    def loop(self) -> dict:
        """Whole passes only, so every run times the same stage mix; an
        op's latency is a whole pass."""
        t_pass, end, p = [], self.deadline(), 0
        while p == 0 or time.perf_counter() < end:
            t0 = time.perf_counter()
            self.last = self.one_pass(p)
            t_pass.append(time.perf_counter() - t0)
            p += 1
        return {"throughput": DEDUP_DOCS * len(t_pass) / sum(t_pass),
                "latencies": t_pass}

    def check(self) -> None:
        ctx, out = self.ctx, self.last
        if any(out[k] is None for k in
               ("drop_list", "simhash_sig", "simhash_join")):
            return  # the stage's failure is already counted
        drops = {r["doc_id"]: r["reason"] for r in out["drop_list"] or []}
        missed = [c for _, c in self.planted["exact"]
                  if drops.get(c) != "exact"]
        if missed:
            ctx.fail(f"dedup: planted exact dups not dropped: {missed[:5]}")
        sigs = {r["doc_id"]: r["simhash"] for r in
                out["simhash_sig"].select("doc_id", "simhash").collect()}
        pairs = {(r["a"], r["b"]) for r in out["simhash_join"] or []}
        want = [(a, b) for a, b in self.planted["near"]
                if bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") <= 3]
        lost = [p for p in want if p not in pairs]
        if lost:
            ctx.fail(f"dedup: planted near pairs within hamming 3 not "
                     f"found: {lost[:5]}")
        self.near_within = len(want)


WORKLOADS = {w.name: w for w in (Serve, Dedup)}
