"""Per-layer metrics of a traced run, named by synspark module.

A layer's number comes from the spans of the workload's own loop when
the loop called that layer, and otherwise from a small probe run after
the loop on a seeded sample (``gen.corpus(seed, SAMPLE_DOCS, "layers")``)
or on the workload's index. Every traced run therefore reports every
metric; the detail line's ``probed_layers`` says which layers were probed.
"""

from __future__ import annotations

import itertools
import statistics
import time
from collections import defaultdict

import numpy as np

import gen
from spans import rest_stage_metrics
from workloads import Ctx, build, engine_config, run_query, write_parquet

SAMPLE_DOCS = 2000
DEDUP_SAMPLE_DOCS = 1500


def _median(xs) -> float:
    return float(statistics.median(xs))


class Ledger:
    def __init__(self, ctx: Ctx, wl, loop_ops: set):
        self.ctx, self.wl = ctx, wl
        self.loop_ops = loop_ops      # span names that are the loop's ops
        self.out: dict[str, tuple] = {}
        self.probed: list[str] = []
        self.sample = gen.corpus(ctx.seed, SAMPLE_DOCS, tag="layers")

    def put(self, name: str, value, unit: str) -> None:
        self.out[name] = (float(value), unit)

    def spans(self, name: str, **match) -> list[dict]:
        return [s for s in self.ctx.tracer.spans if s["name"] == name
                and all(s.get(k) == v for k, v in match.items())]

    # ---------------- probe store ----------------
    def store(self):
        """The workload's index, or one built from the sample."""
        if self.wl.store is None:
            path = write_parquet(self.sample, self.ctx.work / "layers",
                                 self.ctx.cpus)
            corpus = self.ctx.spark.read.parquet(str(path))
            self.wl.store_input = (corpus, int(
                self.sample["content"].str.encode("utf-8").str.len().sum()))
            self.wl.store, _ = build(self.ctx, corpus,
                                     self.ctx.work / "layers_idx")
            self.probed.append("index_store.build")
        return self.wl.store

    # ---------------- Spark-free layers ----------------
    def tokenizer_and_codec(self) -> None:
        from synspark.codec import encode_sorted_batch
        from synspark.tokenizer import positions, tokenize
        cfg, syn = engine_config()
        texts = list(self.sample["content"])
        t0 = time.perf_counter()
        toks = [tokenize(t, cfg, syn) for t in texts]
        dt = time.perf_counter() - t0
        self.put("tokenizer.docs_per_s", len(texts) / dt, "1/s")
        self.put("tokenizer.tokens_per_doc",
                 sum(map(len, toks)) / len(texts), "count")

        # token arrays as the indexer hands them to the encoder: per
        # shard (doc ranges, the index's shard count), sorted by
        # (term rank, doc, position), a group per term
        pos = [positions(tt) for tt in toks]
        counts = np.array([len(tt) for tt in toks], dtype=np.int64)
        doc = np.repeat(np.arange(len(toks), dtype=np.int64), counts)
        pos_arr = np.fromiter(itertools.chain.from_iterable(pos),
                              dtype=np.int64, count=int(counts.sum()))
        dl = np.repeat(np.array([p[-1] + 1 if p else 0 for p in pos],
                                dtype=np.int64), counts)
        _, rank = np.unique(np.array([w for tt in toks for w, *_ in tt],
                                     dtype=object), return_inverse=True)
        n_shards = self.store().stats()["n_shards"]
        shard = doc * n_shards // len(toks)
        batches = []
        for sh in range(n_shards):
            m = shard == sh
            order = np.lexsort((pos_arr[m], doc[m], rank[m]))
            r = rank[m][order]
            grp = np.empty(len(r), dtype=bool)
            grp[0], grp[1:] = True, r[1:] != r[:-1]
            batches.append((grp, doc[m][order], pos_arr[m][order],
                            dl[m][order]))
        t0 = time.perf_counter()
        encs = [encode_sorted_batch(*b) for b in batches]
        dt = time.perf_counter() - t0
        nbytes = sum(len(v) for e in encs for k, col in e.items()
                     if k.endswith("_bytes") for v in col if v)
        self.put("codec.encode_mb_per_s", nbytes / 2**20 / dt, "MB/s")

    def decode(self) -> None:
        """``decode_block`` over the stored blocks; bytes per posting of
        the stored index (segment file bytes over postings)."""
        import pyarrow.parquet as pq

        from synspark.codec import decode_block
        store = self.store()
        tab = pq.read_table(str(store.path / "segments"),
                            columns=["first_doc", "doc_bytes", "tf_bytes",
                                     "n_docs"]).to_pylist()
        t0 = time.perf_counter()
        for r in tab:
            decode_block(r["first_doc"], r["doc_bytes"], r["tf_bytes"],
                         r["n_docs"])
        dt = time.perf_counter() - t0
        nbytes = sum(len(r["doc_bytes"]) + len(r["tf_bytes"]) for r in tab)
        self.put("codec.decode_mb_per_s", nbytes / 2**20 / dt, "MB/s")
        self.put("codec.bytes_per_posting", store.stats()["segment_bytes"]
                 / sum(r["n_docs"] for r in tab), "B")

    # ---------------- Spark layers ----------------
    def indexer(self) -> None:
        from synspark.indexer import tokenize_corpus
        cfg, syn = engine_config()
        corpus = self.wl.store_input[0] if self.wl.store_input else None
        if corpus is None:
            self.store()
            corpus = self.wl.store_input[0]
        ids = corpus.selectExpr("monotonically_increasing_id() AS doc_id",
                                "content")
        _, dt = self.ctx.call("indexer.tokenize_corpus", 0, lambda:
                              tokenize_corpus(ids, cfg, syn).write
                              .format("noop").mode("overwrite").save())
        self.put("indexer.tokenize_corpus_s", dt, "s")

    def index_store(self) -> None:
        from synspark.index_store import IndexStore
        ctx, store = self.ctx, self.store()
        builds = self.spans("index_store.build") or \
            self.spans("setup.build")
        self.put("index_store.build_s",
                 _median([s["end"] - s["start"] for s in builds]), "s")
        self.put("index_store.build_jobs",
                 _median([s["jobs"] for s in builds]), "count")
        self.put("index_store.build_tasks",
                 _median([s["tasks"] for s in builds]), "count")
        st = store.stats()
        self.put("index_store.segment_bytes", st["segment_bytes"], "B")
        self.put("index_store.shards", st["n_live_shards"], "count")
        self.put("index_store.stats_batches", st["stats_batches"], "count")
        self.put("index_store.bytes_per_input_byte",
                 st["segment_bytes"] / self.wl.store_input[1], "ratio")
        seg = []
        for _ in range(5):
            t0 = time.perf_counter()
            store.segments(ctx.spark)
            seg.append(time.perf_counter() - t0)
        self.put("index_store.segments_ms", 1e3 * _median(seg), "ms")
        from synspark.query import analyze_query
        cfg, _ = engine_config()
        cold, warm = [], []
        for op in gen.query_stream(ctx.seed, list(self.sample["content"]),
                                   list(self.sample["lang"]), 3):
            terms = sorted({t for g in analyze_query(
                op.get("text") or op["must"], cfg, None) for t in g})
            fresh = IndexStore(str(store.path))
            for acc in (cold, warm):
                t0 = time.perf_counter()
                fresh.term_dfs(ctx.spark, terms)
                acc.append(time.perf_counter() - t0)
        self.put("index_store.term_dfs_cold_ms", 1e3 * _median(cold), "ms")
        self.put("index_store.term_dfs_warm_ms", 1e3 * _median(warm), "ms")

        self.probed.append("ingest_cycle")
        self.ingest_cycle()
        app = self.spans("index_store.append")
        self.put("index_store.append_s",
                 _median([s["end"] - s["start"] for s in app]), "s")
        self.put("index_store.append_jobs",
                 _median([s["jobs"] for s in app]), "count")

    def ingest_cycle(self) -> None:
        """One cycle of the ingest writer (its freshness and parity
        checks included) on the probe store."""
        from workloads import IngestCycle
        parity = gen.query_stream(self.ctx.seed,
                                  list(self.sample["content"]),
                                  list(self.sample["lang"]), 1,
                                  tag="ingest")[0]
        IngestCycle(self.ctx, self.store()).run(parity)

    def deletes(self) -> None:
        from synspark.deletes import merge_shards
        ctx, store = self.ctx, self.store()
        dels = self.spans("deletes.delete")
        self.put("deletes.delete_s",
                 _median([s["end"] - s["start"] for s in dels]), "s")
        self.put("deletes.delete_jobs",
                 _median([s["jobs"] for s in dels]), "count")
        # merges that rewrote shards (the policy may select none)
        merges = [s for s in self.spans("deletes.merge")
                  if s.get("bytes_rewritten")]
        if not merges:
            self.probed.append("deletes.merge")
            st = store.stats()
            before = st["n_shards"]
            first = min(set(range(before)) - set(st["dead_shards"]))
            ctx.call("deletes.merge", 0, lambda: merge_shards(
                ctx.spark, store, shards=[first],
                source="perfbench-probe"))
            man = store.manifest()["shards"]
            ctx.tracer.spans[-1]["bytes_rewritten"] = sum(
                v.get("bytes", 0) for k, v in man.items()
                if int(k) >= before)
            merges = ctx.tracer.spans[-1:]
        self.put("deletes.merge_s",
                 _median([s["end"] - s["start"] for s in merges]), "s")
        self.put("deletes.bytes_rewritten",
                 _median([s["bytes_rewritten"] for s in merges]), "B")

    def queries(self) -> None:
        ctx = self.ctx
        store = self.store()
        probes = gen.query_stream(ctx.seed, list(self.sample["content"]),
                                  list(self.sample["lang"]),
                                  len(gen.QUERY_CLASSES))
        for j, op in enumerate(probes):
            if not self.spans("query", cls=op["cls"]):
                self.probed.append(f"query.{op['cls']}")
                run_query(ctx, store, op, 10**6 + j)
        qs = [s for s in self.spans("query") if s["cls"] != "sentinel"]
        ids = {s["id"] for s in qs}
        hits = {s["parent"]: s["hits"] for s in self.spans("query.execute")}
        for s in qs:
            s["hits"] = hits.get(s["id"], 0)
        plan = [s["end"] - s["start"] for s in self.spans("query.plan")
                if s["parent"] in ids]
        exe = [s["end"] - s["start"] for s in self.spans("query.execute")
               if s["parent"] in ids]
        self.put("query.plan_ms", 1e3 * _median(plan), "ms")
        self.put("query.execute_ms", 1e3 * _median(exe), "ms")
        for key in ("jobs", "stages", "tasks"):
            self.put(f"query.{key}_per_op", _median([s[key] for s in qs]),
                     "count")
        for cls in gen.QUERY_CLASSES:
            mine = [s for s in qs if s["cls"] == cls]
            self.put(f"query.{cls}.p50_ms", 1e3 * _median(
                [s["end"] - s["start"] for s in mine]), "ms")
            self.put(f"query.{cls}.jobs_per_op",
                     _median([s["jobs"] for s in mine]), "count")
        self.query_properties(store, qs)

    def query_properties(self, store, qs) -> None:
        """memo-hit share (query terms already looked up since the last
        build change), heavy-query share, estimated blocks per query and
        postings per hit, the last three from the df of the query terms."""
        from synspark.codec import BLOCK_DOCS
        from synspark.index_store import IndexStore
        from synspark.query import analyze_query
        cfg, syn = engine_config()
        seen, builds, hits, looks, per_q = set(), None, 0, 0, []
        for s in sorted(qs, key=lambda r: r["start"]):
            if s.get("build_id") != builds:
                seen, builds = set(), s.get("build_id")
            op = s["q"]
            text = " ".join(op[k] for k in ("text", "must", "should")
                            if k in op)
            terms = {t for g in analyze_query(
                text, cfg, syn if op["cls"] == "syn" else None) for t in g}
            looks += len(terms)
            hits += len(terms & seen)
            seen |= terms
            per_q.append((terms, s.get("hits", 0)))
        self.put("query.memo_hit_share", hits / max(looks, 1), "share")
        dfs = IndexStore(str(store.path)).term_dfs(
            self.ctx.spark, sorted(set().union(*(t for t, _ in per_q))))
        n_docs = store.stats()["n_docs"]
        summed = [sum(dfs.get(t, 0) for t in terms) for terms, _ in per_q]
        self.put("query.heavy_share",
                 sum(x > n_docs for x in summed) / len(summed), "share")
        # block volume, as ROADMAP item 2(a) estimates it: df / block width
        self.put("query.blocks_per_op", _median(
            [sum(-(-dfs.get(t, 0) // BLOCK_DOCS) for t in terms)
             for terms, _ in per_q]), "count")
        self.put("query.postings_per_hit", statistics.mean(
            x / max(h, 1) for x, (_, h) in zip(summed, per_q)), "count")

    def dedup(self) -> None:
        from workloads import Dedup
        ctx = self.ctx
        d = self.wl if isinstance(self.wl, Dedup) else None
        if not self.spans("dedup.exact"):
            self.probed.append("dedup")
            d = Dedup(ctx)
            d.pdf, d.planted = gen.dedup_corpus(ctx.seed, DEDUP_SAMPLE_DOCS)
            d.df = ctx.spark.read.parquet(str(write_parquet(
                d.pdf, ctx.work / "dedup_probe", ctx.cpus)))
            d.last = d.one_pass(0)
            d.check()
        jobs = defaultdict(float)
        stages = ("exact", "shingles", "minhash", "lsh", "drop_list",
                  "simhash_sig", "simhash_join")
        for st in stages:
            sp = self.spans(f"dedup.{st}")
            self.put(f"dedup.{st}_s",
                     _median([s["end"] - s["start"] for s in sp]), "s")
            for s in sp:
                jobs[s["op"]] += s["jobs"]
        self.put("dedup.jobs", _median(list(jobs.values())), "count")
        self.put("dedup.pairs_emitted", len(d.last["simhash_join"] or []),
                 "count")
        n = len(d.pdf)
        self.put("dedup.planted_exact_share",
                 len(d.planted["exact"]) / n, "share")
        self.put("dedup.near_within_hamming_share", d.near_within / n,
                 "share")

    def spark_per_op(self) -> None:
        """Per-stage bytes and times (status REST endpoint) summed over
        the loop's ops, per op."""
        ctx = self.ctx
        ops = [s for s in ctx.tracer.spans if s["name"] in self.loop_ops]
        metrics = rest_stage_metrics(ctx.spark) or {}
        tot = defaultdict(float)
        for s in ops:
            for sid in ctx.counter.stage_ids.get(
                    f"perfbench:{s['name']}:{s['op']}", []):
                for k, v in metrics.get(sid, {}).items():
                    tot[k] += v
        n = max(len(ops), 1)
        self.put("spark.input_bytes_per_op", tot["input"] / n, "B")
        self.put("spark.shuffle_bytes_per_op", tot["shuffle"] / n, "B")
        self.put("spark.executor_run_ms_per_op", tot["run_ms"] / n, "ms")
        self.put("spark.gc_ms_per_op", tot["gc_ms"] / n, "ms")

    def collect(self) -> dict[str, tuple]:
        # read the REST endpoint first: later probes add stages of their own
        self.spark_per_op()
        self.tokenizer_and_codec()
        self.decode()
        self.indexer()
        self.index_store()
        self.deletes()
        self.queries()
        self.dedup()
        return self.out
